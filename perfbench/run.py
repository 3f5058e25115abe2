"""Benchmark of the extract -> score -> curate -> eval engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Inputs are generated from ``--seed``
before any timing; the program then runs on ``local[nproc]`` as a closed
loop with one client. ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` re-runs the workload with Spark's event log and the Python
UDF profiler on and prints the per-layer metrics. The last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``.
Every run is also appended to ``.bench_build/perfbench/runs.jsonl`` with
its host-probe readings.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

import harness
import host

SETUP_REPEATS = 2


def parse_args(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def end_to_end(workload, cpus: int, seconds: float, tally) -> tuple[dict, dict]:
    spark, setups = harness.measure_setup(workload, cpus, SETUP_REPEATS, tally)
    try:
        loop = harness.timed_loop(workload, spark, seconds, tally)
    finally:
        harness.stop_session(spark)
    walls = loop["walls"]
    wall = statistics.median(walls)
    metrics = {
        "docs_per_s": (workload.n_docs / wall, "docs/s"),
        "wall_s": (wall, "s"),
        "cpu_s_per_kdoc": (loop["cpu_s"] * 1000 / (workload.n_docs * len(walls)),
                           "s/kdoc"),
        # per-job peaks, median over the run: the JVM heap's growth from
        # job to job follows GC heuristics and would make a maximum noisy
        "peak_rss_mb": (statistics.median(loop["peak_rss_mb"]), "MB"),
        "setup_s": (statistics.median(setups), "s"),
    }
    detail = {"walls": walls, "wall_quartiles": harness.quartiles(walls),
              "peak_rss_mb": loop["peak_rss_mb"], "setups": setups,
              "n_docs_per_job": workload.n_docs}
    return metrics, detail


# documents of the curation corpus the operators are timed on
OPERATOR_DOCS = 1000


def traced(workload, cpus: int, seconds: float, tally, train_s: float):
    """The untraced and the traced loop measure ``seconds / 2`` each."""
    import eventlog
    import gen
    import kernels

    texts = os.path.join(workload.dir, "operators")
    gen.write_curate(workload.seed, OPERATOR_DOCS, texts)
    # untraced reference for the tracing overhead; the untraced session
    # then times the curation operators
    spark, _ = harness.measure_setup(workload, cpus, 1, tally)
    try:
        plain = harness.timed_loop(workload, spark, seconds / 2, tally)
        operators = kernels.operator_metrics(
            spark, os.path.join(texts, "texts.parquet"))
    finally:
        harness.stop_session(spark)

    log_dir = os.path.join(workload.dir, "eventlog")
    dump_dir = os.path.join(workload.dir, "profile")
    spark = harness.start_session(cpus, event_log=log_dir)
    try:
        tally.run(workload, spark, warm=True)
        spark.profile.clear()
        since_ms = int(time.time() * 1000)
        loop = harness.timed_loop(workload, spark, seconds / 2, tally)
        spark.profile.dump(dump_dir, type="perf")
    finally:
        harness.stop_session(spark)
    folded = eventlog.fold(eventlog.read_events(log_dir), since_ms,
                           len(loop["walls"]))
    metrics = {k: (folded[k], unit) for k, unit in eventlog.METRICS}
    metrics.update({k: (v, "share") for k, v in
                    kernels.udf_shares(dump_dir).items()})
    docs, html = workload.kernel_inputs()
    metrics.update({k: (v, kernels.UNITS[k]) for k, v in
                    kernels.kernel_metrics(docs, html).items()})
    metrics.update({k: (v, "ms/kdoc") for k, v in operators.items()})
    metrics["langid.train_s"] = (train_s, "s")
    plain_dps = workload.n_docs / statistics.median(plain["walls"])
    traced_dps = workload.n_docs / statistics.median(loop["walls"])
    metrics["trace.docs_per_s_ratio"] = (traced_dps / plain_dps, "ratio")
    detail = {"untraced_docs_per_s": plain_dps, "traced_docs_per_s": traced_dps,
              "traced_walls": loop["walls"]}
    return metrics, detail


def main(argv=None) -> int:
    args = parse_args(argv)
    harness.use_checkout()
    try:
        import docling_eval_spark  # noqa: F401
        import workloads
    except ImportError as e:
        print(f"perfbench: the program is not in this checkout: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    cpus = os.cpu_count() or 1
    work = os.path.join(harness.STATE, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    workload = workloads.WORKLOADS[args.workload](work, args.seed)
    tally = harness.Tally()
    try:
        train_s = harness.ensure_langid_model()
        workload.prepare()
        probe = host.HostProbe()
        readings = [probe.calibrate()]
        steal0, t0 = host.steal_s(), time.time()
        if args.trace:
            metrics, detail = traced(workload, cpus, args.seconds, tally, train_s)
        else:
            metrics, detail = end_to_end(workload, cpus, args.seconds, tally)
        steal = host.steal_s() - steal0
        steal_share = steal / ((time.time() - t0) * cpus)
        readings.append(probe.read("end"))
    finally:
        harness.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "cpus": cpus, "time": time.time(),
        "host_probe": readings, "steal_s": steal,
        "contended": host.contended(readings, steal_share),
        "attempted": tally.attempted, "failed": tally.failed,
        "error_rate": tally.failed / max(tally.attempted, 1),
        "digests": sorted(tally.digests), "problems": tally.problems[:20],
        "metrics": {k: v for k, (v, _) in metrics.items()}, **detail,
    }
    with open(os.path.join(harness.STATE, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")

    for k, (v, unit) in metrics.items():
        print(f"{args.workload} {k} = {v:.6g} {unit}")
    print(f"{args.workload} error_rate = {record['error_rate']:.6g} "
          f"({tally.failed}/{tally.attempted} jobs failed their check)")
    print(f"{args.workload} host_probe = {[r['ratio'] for r in readings]} "
          f"steal_s = {steal:.2f} contended={record['contended']}")
    for p in tally.problems[:5]:
        print(f"{args.workload} problem: {p}", file=sys.stderr)
    print(json.dumps({
        "correct": tally.correct, "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
