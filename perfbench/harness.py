"""Shared pieces of a benchmark run: the checkout layout, the Spark
session every workload starts the way the CLI does, and shutdown."""

from __future__ import annotations

import math
import os
import shutil
import sys
import tempfile
import time
from dataclasses import dataclass, field

#: Spark cores, scan slices and HTTP connections; at most the box's
#: cores, so the load comes from one process and never oversubscribes.
CORES = max(1, min(4, os.cpu_count() or 1))

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE_DIR = os.path.join(ROOT, ".perfbench")


class MissingProgram(RuntimeError):
    """The checkout does not hold the program the benchmark drives."""


@dataclass
class Run:
    workload: str
    seed: int
    seconds: int
    trace: bool
    work: str = ""  # work dir of this run, removed at exit
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    attempted: int = 0
    failures: dict[str, str] = field(default_factory=dict)  # op → why
    detail: dict = field(default_factory=dict)

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def fail(self, op: str, why: str) -> None:
        self.failures.setdefault(op, why)

    def dir(self, name: str) -> str:
        """A dir under this run's work dir, created on first use."""
        p = os.path.join(self.work, name)
        os.makedirs(p, exist_ok=True)
        return p


def check_checkout() -> None:
    for rel in ("dump_es_parquet_spark/__init__.py", "__spark_entry__.py", "bench.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            raise MissingProgram(f"{rel} not found under {ROOT}")


def enter_workdir(run: Run) -> None:
    """Point every temp and work location of this process, the JVM
    and Spark's Python workers at a fresh dir inside the checkout, and
    let the workers import the package from the checkout."""
    os.makedirs(STATE_DIR, exist_ok=True)
    run.work = tempfile.mkdtemp(prefix=f"work-{run.workload}-", dir=STATE_DIR)
    tmp = run.dir("tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run.work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def leave_workdir(run: Run) -> None:
    if run.work:
        shutil.rmtree(run.work, ignore_errors=True)


def start_spark(run: Run):
    """``session.get_spark`` as the CLI calls it, pinned to ``CORES``
    local cores, with an uncompressed event log under ``events`` when
    tracing; returns (session, seconds to a ready session)."""
    from dump_es_parquet_spark.session import get_spark

    conf = {
        "spark.ui.enabled": "false",
        "spark.sql.warehouse.dir": os.path.join(run.work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run.dir('tmp')}",
    }
    if run.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": run.dir("events"),
            "spark.eventLog.compress": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{run.workload}",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf=conf,
    )
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def _beta_cdf(x: float, a: float, b: float, steps: int = 400) -> float:
    """Regularized incomplete beta I_x(a, b) by the midpoint rule
    (a, b >= 1 here, so the density is bounded)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    log_b = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)
    h = x / steps
    return h * sum(
        math.exp((a - 1) * math.log(t) + (b - 1) * math.log1p(-t) - log_b)
        for t in ((k + 0.5) * h for k in range(steps))
    )


def hd_quantile(xs: list[float], p: float) -> float:
    """Harrell–Davis estimate of the ``p`` quantile: a Beta-weighted
    mean of all order statistics. With one pass of ~50 query latencies
    the order statistics near the median are far apart, and this moved
    half as much between runs as the plain sample quantile."""
    xs = sorted(xs)
    n = len(xs)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    cdf = [_beta_cdf(i / n, a, b) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def quartiles(xs: list[float]) -> tuple[float, float]:
    """(median, 75th percentile) of the samples, Harrell–Davis."""
    return hd_quantile(xs, 0.5), hd_quantile(xs, 0.75)
