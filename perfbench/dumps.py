"""``dump_bulk``: the paper's pipeline end to end.

A stub ES server in its own process serves the generated indices over
HTTP; this process does what the CLI does (``session.get_spark``, then
``pipeline.dump`` with ``RestES``) and the dump it times is the first
one of the process, as every CLI call pays it. Outside the timed window
the written Parquet is read back and checked against the generator's
expected rows and warning counts.

With tracing on, the names ``pipeline.dump`` calls are wrapped in
spans, and isolated passes over cached inputs time each layer that the
fused scan → coerce → write stage hides inside ``write``.
"""

from __future__ import annotations

import functools
import json
import os
import select
import subprocess
import sys
import time
import urllib.request

import gen
import tracing
from harness import CORES, STATE_DIR, Run, start_spark, stop_spark

#: functions ``pipeline.dump`` calls, wrapped in spans when tracing
PIPELINE_CALLS = ("expand_pattern", "read_index_raw", "fetch_schema",
                  "parse_and_coerce", "warning_aggregates", "write")

STUB = os.path.join(os.path.dirname(os.path.abspath(__file__)), "esstub.py")


# ---------------------------------------------------------------------------
# the stub server process
# ---------------------------------------------------------------------------


class Stub:
    def __init__(self, seed: int):
        self.proc = subprocess.Popen(
            [sys.executable, STUB, "--seed", str(seed)],
            stdout=subprocess.PIPE, text=True,
        )
        self.url = ""

    def wait_ready(self, timeout: float = 120.0) -> str:
        ready, _, _ = select.select([self.proc.stdout], [], [], timeout)
        line = self.proc.stdout.readline() if ready else ""
        if not line.startswith("PORT "):
            raise RuntimeError(f"stub server did not start (got {line!r})")
        self.url = f"http://127.0.0.1:{int(line.split()[1])}"
        return self.url

    def stats(self) -> dict:
        with urllib.request.urlopen(self.url + "/_stub/stats", timeout=30) as r:
            return json.loads(r.read())

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()


def stats_delta(before: dict, after: dict) -> dict:
    return {k: after[k] - before[k] for k in after}


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------


def read_rows(path: str, columns: tuple[str, ...]) -> list[tuple]:
    """Rows of a written Parquet dir as Python tuples, nested fields
    dotted and timestamps as epoch micros."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    while any(pa.types.is_struct(f.type) for f in table.schema):
        table = table.flatten()
    cols = []
    for name in columns:
        col = table.column(name)
        if pa.types.is_timestamp(col.type):  # → epoch micros
            col = col.cast(pa.timestamp("us", tz=col.type.tz)).cast(pa.int64())
        col_py = col.to_pylist()
        cols.append(col_py)
    return list(zip(*cols))


def parquet_files(path: str) -> list[str]:
    return [os.path.join(r, f) for r, _d, fs in os.walk(path)
            for f in fs if f.endswith(".parquet")]


def check_index(run: Run, ix: gen.Index, result) -> bool:
    """Row count, row digest and warning counts of one dumped index."""
    if ix.name in result.errors:
        run.fail(ix.name, "dump error: " + result.errors[ix.name][:300])
        return False
    if ix.name not in result.indices:
        run.fail(ix.name, "index missing from the dump result")
        return False
    got_n, got_d = gen.digest(read_rows(str(result.indices[ix.name]), ix.columns))
    want_n, want_d = gen.digest(ix.rows)
    if got_n != want_n:
        run.fail(ix.name, f"rows written {got_n} != expected {want_n}")
        return False
    if got_d != want_d:
        run.fail(ix.name, "row digest differs from the expected rows")
        return False
    got_w = result.warnings.get(ix.name, {})
    if got_w != ix.warnings:
        diff = {k: (got_w.get(k), ix.warnings.get(k))
                for k in set(got_w) | set(ix.warnings) if got_w.get(k) != ix.warnings.get(k)}
        run.fail(ix.name, f"warning counts (got, expected): {diff}")
        return False
    return True


# ---------------------------------------------------------------------------
# the workload
# ---------------------------------------------------------------------------


def run_dump(run: Run) -> None:
    from dump_es_parquet_spark import pipeline
    from dump_es_parquet_spark.sinks import SinkOptions
    from dump_es_parquet_spark.sources.client import RestES
    from dump_es_parquet_spark.sources.scan import ScanOptions

    stub = Stub(run.seed)
    try:
        ix = gen.bulk_index(run.seed)  # while the stub renders the same index
        url = stub.wait_ready()
        run.attempted = 1
        scan = ScanOptions(slices=CORES)
        spark, setup_s = start_spark(run)
        try:
            tracer = tracing.Tracer(f"{run.workload}-{run.seed}")
            if run.trace:
                for name in PIPELINE_CALLS:
                    tracer.wrap(pipeline, name)
            jobs = tracing.JobGroups(spark, tracer.run_id)
            cpu = tracing.CpuWindows()
            stats0 = stub.stats() if run.trace else None
            try:
                with jobs.group("dump") as gid, cpu.window("dump"), tracer.span("dump") as sp:
                    result = pipeline.dump(spark, functools.partial(RestES, url), ix.name,
                                           run.dir("out"), scan, SinkOptions())
            finally:
                tracer.unwrap_all()
            wall = sp.end - sp.start
            rss = tracing.jvm_peak_rss_mb(spark)
            if run.trace:
                dump_stats = stats_delta(stats0, stub.stats())
                dump_jobs = jobs.jobs(gid)
                layers = isolated_passes(run, spark, jobs, ix, url, scan)
        finally:
            stop_spark(spark)
    finally:
        stub.stop()

    docs_ok = len(ix.rows) if check_index(run, ix, result) else 0
    run.detail.update(cpu_windows=cpu.windows, contaminated=cpu.suspect())
    if not run.trace:
        run.metric("setup_s", setup_s, "s")
        run.metric("pass_s", wall, "s")
        run.metric("items_per_s", docs_ok / wall, "1/s")
        # one operation (the index), so its latency is the whole dump
        run.metric("op_p50_s", wall, "s")
        run.metric("op_p75_s", wall, "s")
        run.metric("jvm_peak_rss_mb", rss, "MB")
        return

    tracer.dump(os.path.join(STATE_DIR, "traces", f"{tracer.run_id}.json"))
    files = parquet_files(str(result.indices.get(ix.name, run.dir("out"))))
    out_bytes = sum(os.path.getsize(f) for f in files)
    index_s = sp.end - tracer.named("read_index_raw")[0].start
    ev = tracing.event_log_totals(run.dir("events")).get(gid, {})
    run.metric("session.start_s", setup_s, "s")
    run.metric("trace.pass_s", wall, "s")
    run.metric("sources.client.requests", dump_stats["requests"], "count")
    run.metric("sources.client.bytes_mb", dump_stats["bytes"] / 1e6, "MB")
    run.metric("sources.client.retries", dump_stats["throttled"], "count")
    run.metric("sources.client.useful_ratio",
               dump_stats["search_pages_with_hits"] / max(1, dump_stats["search_requests"]), "ratio")
    run.metric("stub.busy_s", dump_stats["busy_s"], "s")
    run.metric("schema.fetch_s", tracer.total("fetch_schema"), "s")
    run.metric("sinks.files", len(files), "count")
    run.metric("sinks.bytes_mb", out_bytes / 1e6, "MB")
    run.metric("sinks.out_bytes_per_src_byte", out_bytes / ix.src_bytes, "ratio")
    run.metric("pipeline.dump_s", wall, "s")
    run.metric("pipeline.docs_per_s", docs_ok / wall, "1/s")
    run.metric("pipeline.index_p50_s", index_s, "s")
    run.metric("pipeline.index_max_s", index_s, "s")
    run.metric("pipeline.self_s", tracer.self_time("dump"), "s")
    run.metric("pipeline.jobs_per_index", dump_jobs, "count")
    run.metric("spark.exec.s", tracer.total("write"), "s")
    for k, v in {**tracing.exec_metrics(ev), **layers}.items():
        run.metric(k, *v)


def isolated_passes(run: Run, spark, jobs: tracing.JobGroups, ix: gen.Index, url: str, scan) -> dict:
    """Each layer alone, after the fused dump: a sequential in-process fetch,
    distributed raw scan, coercion and warning observation on cached
    raw input, and the Parquet write of cached typed rows."""
    from dump_es_parquet_spark.coerce import parse_and_coerce, warning_aggregates
    from dump_es_parquet_spark.schema import flatten_struct_names
    from dump_es_parquet_spark.sinks import SinkOptions, write
    from dump_es_parquet_spark.sources.client import RestES, iter_hits_search_after
    from dump_es_parquet_spark.sources.scan import fetch_schema, read_index_raw

    client_factory = functools.partial(RestES, url)
    t: dict[str, float] = {}

    def timed(key, fn):
        t0 = time.perf_counter()
        out = fn()
        t[key] = time.perf_counter() - t0
        return out

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def fetch_all():
        client = RestES(url)
        return sum(1 for sid in range(CORES) for _hit in iter_hits_search_after(
            client, ix.name, q=None, _source=None, sort=scan.sort, size=scan.size,
            slice_spec={"id": sid, "max": CORES}, max_retries=scan.max_retries,
            backoff_s=scan.backoff_s, pit=True, keep_alive=scan.scroll))

    n = timed("fetch", fetch_all)
    if n != len(ix.rows):
        run.fail(ix.name, f"sequential fetch returned {n} docs, expected {len(ix.rows)}")
    with jobs.group("scan") as g:
        timed("scan", lambda: noop(read_index_raw(spark, client_factory, ix.name, scan)))
    schema = fetch_schema(RestES(url), ix.name, scan)
    raw = read_index_raw(spark, client_factory, ix.name, scan).cache()
    raw.count()
    typed = parse_and_coerce(raw, schema)
    timed("parse", lambda: noop(typed))
    typed._jdf.queryExecution().executedPlan()
    catalyst = tracing.catalyst_ms(typed)
    aggs = warning_aggregates(schema)
    counts = timed("observe", lambda: raw.select(*[c.alias(k) for k, c in aggs.items()]).collect()[0])
    if counts.asDict() != ix.warnings:
        run.fail(ix.name, f"isolated warning counts {counts.asDict()} != {ix.warnings}")
    typed = typed.cache()
    typed.count()
    sink = SinkOptions()
    timed("write", lambda: write(typed, run.dir("isolated_out"), ix.name, sink,
                                 rows_per_file_hint=sink.partition_rows))
    typed.unpersist()
    raw.unpersist()
    return {
        "sources.client.fetch_s": (t["fetch"], "s"),
        "sources.scan.raw_s": (t["scan"], "s"),
        "sources.scan.tasks": (jobs.tasks(g), "count"),
        "schema.fields": (len(flatten_struct_names(schema)), "count"),
        "coerce.parse_s": (t["parse"], "s"),
        "coerce.observe_s": (t["observe"], "s"),
        "sinks.write_s": (t["write"], "s"),
        **{f"spark.catalyst.{ph}_ms": (ms, "ms") for ph, ms in catalyst.items()},
    }
