"""The result line: names and units exactly as BENCHMARK.json declares
them, and no result at all where the program is missing."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

import harness
import run as bench_run

ROOT = harness.ROOT
SPEC = bench_run.load_spec()


def _declared(kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in SPEC[kind]}


def test_spec_is_well_formed():
    e2e, per = _declared("end_to_end"), _declared("per_layer")
    assert len(e2e) == len(SPEC["end_to_end"]) and len(per) == len(SPEC["per_layer"])
    assert not set(e2e) & set(per)
    assert e2e["setup_s"] == "s"
    bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
    assert max(bounds.values()) <= 0.25 and bounds["setup_s"] == max(bounds.values())
    assert [w["name"] for w in SPEC["workloads"]] == list(bench_run.WORKLOADS)


def test_finish_rejects_undeclared_and_fills_untouched_layers():
    run = harness.Run("dump_bulk", 1, 1, True, attempted=1)
    run.metric("trace.pass_s", 1.0, "s")
    out = bench_run.finish(run, SPEC)
    assert list(out["metrics"]) == list(_declared("per_layer"))
    assert out["metrics"]["operators.construct_s"]["value"] == 0.0
    run.metric("no.such.metric", 1.0, "s")
    with pytest.raises(RuntimeError):
        bench_run.finish(run, SPEC)
    untraced = harness.Run("dump_bulk", 1, 1, False, attempted=1)
    untraced.metric("setup_s", 1.0, "s")
    with pytest.raises(RuntimeError):  # end-to-end metrics are never filled in
        bench_run.finish(untraced, SPEC)


@pytest.mark.parametrize("trace", [0, 1])
def test_printed_names_match_the_spec(trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dump_bulk", "--seed", "4",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] == 1
    want = _declared("per_layer" if trace else "end_to_end")
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want


def test_no_result_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dump_bulk", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
