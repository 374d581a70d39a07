"""The repository benchmark: the ES → Parquet dump pipeline over HTTP
and the declared query engine, end to end and layer by layer.

    python3 perfbench/run.py --workload dump_bulk --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads (see BENCHMARK.json):

- ``dump_bulk``: one index of nested documents served over HTTP and
  dumped to zstd Parquet;
- ``queries_declared``: the declared queries, checked against DuckDB.

Each run measures one unit of work: the first dump of a fresh process,
or timed query passes until ``--seconds`` have gone (at least one). With
``--trace 0`` the last stdout line holds the end-to-end metrics; with
``--trace 1`` the run records spans and isolated layer passes and holds
the per-layer metrics, plus the tracing overhead against this
checkout's untraced runs of the same workload. Failed or wrong
operations (an index, or a query) are named on stderr and in the
``# detail`` line, and counted in ``failed``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import traceback

import harness

WORKLOADS = ("dump_bulk", "queries_declared")


def load_spec() -> dict:
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def results_log(workload: str) -> str:
    return os.path.join(harness.STATE_DIR, "results", f"{workload}.jsonl")


def untraced_pass_s(workload: str) -> list[float]:
    try:
        with open(results_log(workload)) as fh:
            recs = [json.loads(line) for line in fh if line.strip()]
    except FileNotFoundError:
        return []
    return [r["metrics"]["pass_s"] for r in recs if not r["trace"] and r["failed"] == 0]


def finish(run: harness.Run, spec: dict) -> dict:
    """Check the measured names against BENCHMARK.json and build the
    result line. A traced run reports a layer its workload never
    touches as 0."""
    declared = {m["name"]: m["unit"] for m in spec["per_layer" if run.trace else "end_to_end"]}
    if not run.trace:
        run.metric("success_rate", (run.attempted - len(run.failures)) / run.attempted, "ratio")
    else:
        base = untraced_pass_s(run.workload)
        traced = run.metrics["trace.pass_s"][0]
        run.detail["trace_baseline_runs"] = len(base)
        run.metric("trace.overhead_pct",
                   100.0 * (traced / statistics.median(base) - 1.0) if base else 0.0, "%")
    unknown = set(run.metrics) - set(declared)
    missing = set(declared) - set(run.metrics)
    if unknown or (missing and not run.trace):
        raise RuntimeError(f"metrics not as declared: unknown={sorted(unknown)} missing={sorted(missing)}")
    for name, (_v, unit) in run.metrics.items():
        if unit != declared[name]:
            raise RuntimeError(f"metric {name}: unit {unit} != declared {declared[name]}")
    metrics = {
        name: {"value": run.metrics[name][0] if name in run.metrics else 0.0, "unit": unit}
        for name, unit in declared.items()
    }
    return {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    try:
        harness.check_checkout()
        spec = load_spec()
    except (harness.MissingProgram, OSError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    run = harness.Run(args.workload, args.seed, args.seconds, bool(args.trace))
    harness.enter_workdir(run)
    try:
        if run.workload == "queries_declared":
            from queries import run_queries as go
        else:
            from dumps import run_dump as go
        go(run)
        result = finish(run, spec)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        harness.leave_workdir(run)

    record = {"seed": run.seed, "trace": run.trace, "failed": len(run.failures),
              "metrics": {k: v["value"] for k, v in result["metrics"].items()}}
    os.makedirs(os.path.dirname(results_log(run.workload)), exist_ok=True)
    with open(results_log(run.workload), "a") as fh:
        fh.write(json.dumps(record) + "\n")
    for op, why in run.failures.items():
        print(f"perfbench: FAILED {op}: {why}", file=sys.stderr)
    if run.detail.get("contaminated"):
        print("perfbench: sys/steal over bench.py's thresholds in timed windows: "
              + ", ".join(run.detail["contaminated"]), file=sys.stderr)
    print("# detail " + json.dumps({"failures": run.failures, **run.detail}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
