"""Session lifecycle, set-up timing and the closed timed loop.

One client, one job at a time, no extra threads: the next job starts
only after the previous one returned and was checked.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import statistics
import subprocess
import sys
import time
import traceback

import numpy as np

import host

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".bench_build", "perfbench")


def use_checkout() -> None:
    """Make the checkout importable here and in the Python workers, and
    keep temporary files inside the checkout."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    # an inherited SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(STATE, "spark-local")
    # spark-submit's launcher JVM would otherwise write to /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        p for p in (os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData") if p)


def spark_confs(event_log: str | None = None) -> dict:
    local = os.path.join(STATE, "spark-local")
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(STATE, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.sql.pyspark.udf.profiler": "perf",
        })
    return confs


def start_session(cpus: int, event_log: str | None = None):
    from docling_eval_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{cpus}]",
                      extra_confs=spark_confs(event_log))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    if spark is not None:
        spark.stop()


def stop_jvm() -> None:
    """Shut the py4j gateway and wait until the JVM and every process it
    started (the Python worker daemon and its workers) have ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    descendants = [p for p in host.tree_pids() if p != os.getpid()]
    with contextlib.suppress(Exception):
        gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    host.end_all(descendants)
    SparkContext._gateway = None
    SparkContext._jvm = None


def ensure_langid_model() -> float:
    """Load (or train once per checkout and cache) the lang-id weights,
    and install them as the program's trained model. Returns the seconds
    the training took when it ran.

    Training takes about 55 s of 4-thread BLAS work on a 4-core VM; paying
    it in every run would not fit the run budget, so it is paid once per
    checkout, keyed by the source of ``functions/langid.py``.
    """
    from docling_eval_spark.functions import langid

    with open(langid.__file__, "rb") as f:
        key = hashlib.sha256(f.read()).hexdigest()[:16]
    path = os.path.join(STATE, f"langid-{key}.npz")
    if os.path.exists(path):
        z = np.load(path)
        model, train_s = (z["W"], z["b"]), float(z["train_s"])
    else:
        t = time.perf_counter()
        model = langid.train_langid()
        train_s = time.perf_counter() - t
        tmp = path + ".part.npz"
        np.savez(tmp, W=model[0], b=model[1], train_s=train_s)
        os.replace(tmp, path)
    if hasattr(langid, "_MODEL"):
        langid._MODEL = model
    return train_s


class Tally:
    """Outcomes of every checked job, set-up jobs included."""

    def __init__(self):
        self.attempted = self.failed = 0
        self.digests: set[str] = set()
        self.problems: list[str] = []

    def run(self, workload, spark, warm: bool) -> dict:
        """Run and check one job. Returns its wall seconds and the CPU
        seconds and peak RSS of the process tree during the job, read from
        /proc right before and after the job call, outside its wall time."""
        self.attempted += 1
        if not warm:
            workload.before_job()
        pids = host.tree_pids()
        host.reset_peak_rss(pids)
        cpu0 = host.tree_cpu_s(pids)
        t = time.perf_counter()
        result = None
        try:
            with contextlib.redirect_stdout(sys.stderr):
                result = workload.warmup(spark) if warm else workload.job(spark)
        except Exception:
            self.failed += 1
            self.problems.append(traceback.format_exc(limit=3))
        wall = time.perf_counter() - t
        pids = host.tree_pids()
        cost = {"wall": wall, "cpu_s": host.tree_cpu_s(pids) - cpu0,
                "peak_rss_mb": host.tree_peak_rss_mb(pids)}
        if result is not None:
            ok, digest, problems = workload.check(result)
            if not warm:
                if self.digests and digest not in self.digests:
                    ok = False
                    problems.append(f"output digest {digest} differs from "
                                    f"the run's first {min(self.digests)}")
                self.digests.add(digest)
            if not ok:
                self.failed += 1
                self.problems.extend(problems)
        return cost

    @property
    def correct(self) -> bool:
        return self.failed == 0


def measure_setup(workload, cpus: int, repeats: int, tally: Tally):
    """Session start plus a warm-up job, ``repeats`` times; the first
    includes the JVM launch. Returns (session, seconds of each set-up)."""
    spark, times = None, []
    for _ in range(repeats):
        stop_session(spark)
        t = time.perf_counter()
        spark = start_session(cpus)
        tally.run(workload, spark, warm=True)
        times.append(time.perf_counter() - t)
    return spark, times


MIN_JOBS = 2


def timed_loop(workload, spark, seconds: float, tally: Tally) -> dict:
    """Closed loop until ``seconds`` of job time have passed and at least
    ``MIN_JOBS`` ran. ``peak_rss_mb`` holds each job's peak tree RSS."""
    walls, cpu, rss = [], 0.0, []
    while sum(walls) < seconds or len(walls) < MIN_JOBS:
        cost = tally.run(workload, spark, warm=False)
        walls.append(cost["wall"])
        cpu += cost["cpu_s"]
        rss.append(cost["peak_rss_mb"])
    return {"walls": walls, "cpu_s": cpu, "peak_rss_mb": rss}


def quartiles(values: list[float]) -> list[float]:
    if len(values) < 2:
        return [values[0]] * 3
    q = statistics.quantiles(values, n=4)
    return [q[0], statistics.median(values), q[2]]
