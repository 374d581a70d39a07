"""bench.py retry logic — the guard against sandbox load spikes
(VERDICT r05 "what's wrong #2": five adjacent queries regressed
1.7-5.5x in the driver's bench window with unchanged plans; an idle
re-run reproduced none of them). No SparkSession needed."""

from __future__ import annotations

from bench import RETRY_FACTOR, needs_retry, steady_with_retry


def test_clean_runs_no_retry():
    calls = []
    steady, retried = steady_with_retry(
        lambda: calls.append(1) or 0.5, [0.62, 0.55, 0.52], warmup=0.50
    )
    assert steady == 0.52 and not retried and not calls


def test_contaminated_steady_retries_once_and_keeps_min():
    """Synthetic contention: warm-up saw 0.5s, the timed window got hit
    by external load (all three runs ~3x slower). One retry on a quiet
    machine recovers the true steady."""
    calls = []

    def quiet_rerun():
        calls.append(1)
        return 0.48

    steady, retried = steady_with_retry(
        quiet_rerun, [1.7, 1.6, 1.65], warmup=0.5
    )
    assert retried and len(calls) == 1
    assert steady == 0.48


def test_retry_keeps_original_if_rerun_also_slow():
    """If the retry is ALSO slow (genuine regression, not contention),
    the minimum stands — one retry only, no infinite chasing."""
    steady, retried = steady_with_retry(lambda: 1.8, [1.7, 1.6, 1.65], warmup=0.5)
    assert retried and steady == 1.6


def test_sub_floor_queries_never_retry():
    """Sub-150ms queries live inside scheduler jitter — 2x there is
    noise, not contention, and a retry would just thrash."""
    assert not needs_retry(steady=0.12, warmup=0.04)
    assert needs_retry(steady=0.16, warmup=0.04)


def test_missing_warmup_never_retries():
    # a query whose warm-up failed has no lower-bound witness
    assert not needs_retry(steady=5.0, warmup=0.0)


def test_factor_boundary():
    assert not needs_retry(steady=1.0, warmup=0.5)  # exactly 2x: no
    assert needs_retry(steady=1.01, warmup=0.5)
    assert RETRY_FACTOR == 2.0


def test_summary_line_is_last_and_short():
    """BENCH_r06 regression: the driver's ~2 KB stdout tail capture cut
    off the head of the single detail line once it carried 96 query
    entries, so "value" vanished and the driver recorded parsed:null.
    The fix is a FINAL short summary line with no per-query map. Pin:
    (a) it parses, (b) it carries the headline fields, (c) it stays
    under 300 bytes no matter how many queries exist."""
    import json

    from bench import summary_line

    line = summary_line(12345.67, n_queries=500, n_extra=500, sf=100.0)
    assert len(line.encode()) < 300, f"summary line too long: {len(line)}B"
    d = json.loads(line)
    assert d["metric"] == "total_query_seconds"
    assert d["value"] == 12345.67
    assert d["unit"] == "sec"
    assert d["sf"] == 100.0
    assert "queries" not in d and "extra" not in d  # size is O(1), not O(n)


def test_control_flags_bracket_spike():
    """A spiked control sample flags every query between its
    neighboring samples — the spike may have started after the
    previous sample and persisted past this one (r17 forensics: the
    degradation phases hit CONTIGUOUS bench-order ranges)."""
    from bench import control_flags

    names = [f"q{i}" for i in range(12)]
    samples = [(0, 0.2), (5, 0.21), (10, 1.5), (12, 0.19)]
    assert control_flags(samples, names) == set(names[5:12])


def test_control_flags_clean_run_flags_nothing():
    from bench import control_flags

    names = [f"q{i}" for i in range(10)]
    # 0.2 -> 0.35: below both 2x floor and floor + 0.3
    assert control_flags([(0, 0.2), (5, 0.35), (10, 0.22)], names) == set()
    # fewer than two samples: nothing to compare against
    assert control_flags([(0, 5.0)], names) == set()


def test_control_flags_spike_at_edges():
    from bench import control_flags

    names = [f"q{i}" for i in range(6)]
    # first sample spiked: flags from run start to the next sample
    assert control_flags([(0, 2.0), (3, 0.2), (6, 0.2)], names) == {
        "q0", "q1", "q2",
    }
    # last sample spiked: flags from the previous sample to run end
    assert control_flags([(0, 0.2), (3, 0.2), (6, 2.0)], names) == {
        "q3", "q4", "q5",
    }


def test_cpu_window_and_flags():
    """The /proc/stat detector marks a query whose own timed window
    shows the documented phase signature (80-97% sys, steal to 17%)."""
    from bench import cpu_flags, cpu_window

    # totals: 1000 jiffies elapsed, 800 of them sys-like
    w_bad = cpu_window((10_000, 100, 0), (11_000, 900, 0))
    assert w_bad == {"sys_pct": 0.8, "steal_pct": 0.0}
    w_steal = cpu_window((10_000, 100, 10), (11_000, 200, 180))
    w_ok = cpu_window((10_000, 100, 0), (11_000, 200, 10))
    assert cpu_flags({"a": w_bad, "b": w_ok, "c": w_steal, "d": None}) == {
        "a", "c",
    }


def test_cpu_window_handles_missing_snapshots():
    from bench import cpu_window

    assert cpu_window(None, (1, 1, 1)) is None
    assert cpu_window((1, 1, 1), None) is None
    assert cpu_window((5, 1, 1), (5, 1, 1)) is None  # zero elapsed


def test_perquery_artifact_written_before_summary_in_source():
    """BENCH_PERQUERY.json and its per-core-count copy
    BENCH_PERQUERY_c{cpus}.json must be flushed BEFORE the final stdout
    line: if the JVM teardown (or a driver timeout) kills the process
    after the summary, the durable artifacts must already exist."""
    import inspect

    import bench

    src = inspect.getsource(bench.main)
    summary_pos = src.index("summary_line(total")
    assert src.index("BENCH_PERQUERY.json") < summary_pos
    assert src.index('f"BENCH_PERQUERY_c{int(cpus)}.json"') < summary_pos


def test_summary_line_follows_detail_line_in_source():
    """The tail capture keeps the END of stdout — the summary must be
    printed AFTER the detail line, or the fix is inverted. Assert the
    source ordering so a refactor can't silently swap them."""
    import inspect

    import bench

    src = inspect.getsource(bench.main)
    detail_pos = src.index('"queries": {k: round(v, 2)')
    summary_pos = src.index("summary_line(total")
    assert detail_pos < summary_pos
