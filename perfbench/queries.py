"""``queries_declared``: the declared queries in a warm session.

Every declared query except ``dump_roundtrip`` (the coerce layer again,
without HTTP; ``dump_bulk`` measures it) runs on the shipped testdata.
An untimed warm-up imports every operator module and constructs the
queries that build the build-once artifacts
(``artifacts.cached_artifact``). Untraced runs keep those artifacts
across the runs of a checkout, as they stay in the temp dir across a
user's sessions; a traced run builds them in a fresh dir and reports
the time as ``artifacts.build_s``. A full untimed pass over every query
would cost ~40 s a run, more than the benchmark's run budget holds, so
the timed pass is each query's first run in the session. It runs the
queries in their declared order; each query's latency is its construction
plus bringing every column of every result row to the driver (never
``count()``, which lets Catalyst prune columns). Outside the timed
window each result is compared with the DuckDB oracle; a mismatch is a
failure named after its query.
"""

from __future__ import annotations

import gc
import importlib
import os
import pkgutil
import statistics
import tempfile
import time

import tracing
from harness import STATE_DIR, Run, quartiles, start_spark, stop_spark

#: Queries whose construction builds the build-once artifacts
#: (``artifacts.cached_artifact``): the IVF index, the postings store and
#: the corpus signature store.
WARMUP = ("sim_ann_ivf_indexed", "corpus_bm25_served", "corpus_dedup_incremental")

#: queries whose construction ROADMAP item 2 targets
CONSTRUCT_TRACKED = (
    "corpus_dedup", "es_frequent_item_sets", "mm_binary_clusters",
    "es_knn_search_ivf", "corpus_rank_eval", "corpus_packing",
    "es_ip_range", "es_nested_inside_nested", "es_significant_heuristics",
)
#: queries whose execution time is reported on its own
EXEC_TRACKED = (
    "dedup_minhash_lsh", "corpus_dedup_incremental",
    "corpus_decontaminate_bloom", "corpus_rank_eval",
)


class Collected:
    """Runs a query and keeps every row, in the shape ``oracle.compare``
    reads (``columns`` and ``collect()``), so the check needs no second
    execution."""

    def __init__(self, df):
        self.columns = df.columns
        self.rows = df.collect()

    def collect(self):
        return self.rows


def run_queries(run: Run) -> None:
    import duckdb

    import __spark_entry__ as entry
    from dump_es_parquet_spark import artifacts, operators, oracle

    # The smallest shipped scale. A pass at sf0.1 takes ~57 s warm on a
    # 4-core box, which with warm-up and oracle checks does not fit the
    # benchmark's per-run budget; sf0.001 runs every query and operator
    # path in ~45 s.
    sf_dir = entry.SF_SMOKE
    if not os.path.isdir(sf_dir):
        raise FileNotFoundError(f"testdata {sf_dir} not found")
    queries = {k: v for k, v in entry.queries().items() if k != "dump_roundtrip"}
    oracles = entry.oracle_sql()
    # One fixed order: each query's first run in the session pays for
    # code paths no earlier query warmed. With the seed choosing the
    # order, op_p50_s spread ~19 % (IQR/median over 10 seeds, 4 cores)
    # against ~9 % in one order.
    order = list(queries)
    run.attempted = len(order)
    if not run.trace:
        tempfile.tempdir = os.path.join(STATE_DIR, "artifacts")
        os.makedirs(tempfile.tempdir, exist_ok=True)

    spark, setup_s = start_spark(run)
    tracer = tracing.Tracer(f"{run.workload}-{run.seed}")
    jobs = tracing.JobGroups(spark, tracer.run_id)
    cpu = tracing.CpuWindows()
    con = duckdb.connect()
    oracle.register_views(con, sf_dir)
    try:
        if run.trace:
            _span_artifact_builds(tracer, artifacts)
        warm: dict[str, float] = {}
        with tracer.span("warmup"):
            for mod in pkgutil.iter_modules(operators.__path__):
                importlib.import_module(f"{operators.__name__}.{mod.name}")
            for name in WARMUP:
                t0 = time.perf_counter()
                try:
                    queries[name](spark, sf_dir)
                    warm[name] = time.perf_counter() - t0
                except Exception as e:  # the timed pass reports it
                    run.detail.setdefault("warmup_errors", {})[name] = f"{type(e).__name__}: {e}"
                spark.catalog.clearCache()
                gc.collect()
        tracer.unwrap_all()

        passes: list[dict[str, float]] = []
        phases: dict[str, dict] = {}
        with tracer.span("timed"):
            timed_total = 0.0
            while not passes or timed_total < run.seconds:
                lat: dict[str, float] = {}
                for name in order:
                    try:
                        with cpu.window(name):
                            if run.trace:
                                phases[name], got = _traced_query(spark, tracer, jobs, queries[name], name, sf_dir)
                                lat[name] = sum(phases[name][k] for k in ("construct_s", "plan_s", "exec_s"))
                            else:
                                t0 = time.perf_counter()
                                got = Collected(queries[name](spark, sf_dir))
                                lat[name] = time.perf_counter() - t0
                        problems = oracle.compare(got, con, oracles[name])
                        if problems:
                            run.fail(name, "; ".join(problems)[:300])
                    except Exception as e:
                        run.fail(name, f"{type(e).__name__}: {e}"[:300])
                    spark.catalog.clearCache()
                    gc.collect()
                passes.append(lat)
                timed_total += sum(lat.values())
                if run.trace:
                    break  # one traced pass: its phases are the per-layer figures
        rss = tracing.jvm_peak_rss_mb(spark)
    finally:
        con.close()
        stop_spark(spark)

    ok = [t for lat in passes for n, t in lat.items() if n not in run.failures]
    pass_s = statistics.median(sum(lat.values()) for lat in passes)
    p50, p75 = quartiles(ok) if ok else (pass_s, pass_s)
    run.detail.update(passes=len(passes), latency_s=passes[0], cpu_windows=cpu.windows,
                      contaminated=cpu.suspect(), warmup_s=tracer.total("warmup"), warmup_latency_s=warm,
                      timed_s=tracer.total("timed"))
    if not run.trace:
        run.metric("setup_s", setup_s, "s")
        run.metric("pass_s", pass_s, "s")
        run.metric("items_per_s", len(ok) / len(passes) / pass_s, "1/s")
        run.metric("op_p50_s", p50, "s")
        run.metric("op_p75_s", p75, "s")
        run.metric("jvm_peak_rss_mb", rss, "MB")
        return

    tracer.dump(os.path.join(STATE_DIR, "traces", f"{tracer.run_id}.json"))
    ev = tracing.event_log_totals(run.dir("events"))
    exec_groups = {p["exec_group"] for p in phases.values()}
    tot = {k: sum(ev.get(g, {}).get(k, 0) for g in exec_groups)
           for k in ("jobs", "stages", "tasks", "shuffle_write_b", "shuffle_read_b", "gc_ms")}
    run.metric("session.start_s", setup_s, "s")
    run.metric("trace.pass_s", pass_s, "s")
    run.metric("artifacts.build_s", tracer.total("artifact_build"), "s")
    run.metric("operators.construct_s", sum(p["construct_s"] for p in phases.values()), "s")
    run.metric("operators.construct_jobs", sum(p["construct_jobs"] for p in phases.values()), "count")
    for name in CONSTRUCT_TRACKED:
        p = phases.get(name, {})
        run.metric(f"operators.construct_s.{name}", p.get("construct_s", 0.0), "s")
        run.metric(f"operators.construct_jobs.{name}", p.get("construct_jobs", 0), "count")
    for ph in ("analysis", "optimization", "planning"):
        run.metric(f"spark.catalyst.{ph}_ms", sum(p["catalyst"][ph] for p in phases.values()), "ms")
    run.metric("spark.exec.s", sum(p["exec_s"] for p in phases.values()), "s")
    for name in EXEC_TRACKED:
        run.metric(f"spark.exec.s.{name}", phases.get(name, {}).get("exec_s", 0.0), "s")
    for k, v in tracing.exec_metrics(tot).items():
        run.metric(k, *v)


def _span_artifact_builds(tracer: tracing.Tracer, artifacts) -> None:
    """Record an ``artifact_build`` span around each build callable
    handed to ``artifacts.cached_artifact``; callers import the name at
    call time, so patching the module attribute reaches them."""

    def make(orig):
        def traced(name, marker, build, *a, **kw):
            def traced_build(stage):
                with tracer.span("artifact_build"):
                    build(stage)

            return orig(name, marker, traced_build, *a, **kw)
        return traced

    tracer.patch(artifacts, "cached_artifact", make)


def _traced_query(spark, tracer, jobs, fn, name, sf_dir):
    """Construct, plan and execute one query in spans and job groups."""
    rec = {}
    with tracer.span(f"query:{name}"):
        with jobs.group(f"construct:{name}") as g, tracer.span("construct") as sp:
            df = fn(spark, sf_dir)
        rec["construct_s"] = sp.end - sp.start
        rec["construct_jobs"] = jobs.jobs(g)
        with jobs.group(f"plan:{name}"), tracer.span("plan") as sp:
            df._jdf.queryExecution().executedPlan()
        rec["plan_s"] = sp.end - sp.start
        rec["catalyst"] = tracing.catalyst_ms(df)
        with jobs.group(f"exec:{name}") as g, tracer.span("exec") as sp:
            got = Collected(df)
        rec["exec_s"] = sp.end - sp.start
        rec["exec_group"] = g
    return rec, got
