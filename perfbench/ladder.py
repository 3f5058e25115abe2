"""Parallelism ladder and invariance check for ``flagship_synth``.

    python3 perfbench/ladder.py --seed N [--seconds S]

Runs the flagship job at ``local[1]``, ``local[2]`` and ``local[nproc]``
on the same generated documents, reports docs/s and scaling efficiency
(speed-up over ``local[1]`` divided by the core count) at each level, and
asserts that the scored rows have the same order-independent digest at
every level. Prints one JSON object as its last line; exits 1 when the
digests differ or an output check fails. Not part of the repeated
benchmark runs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

import harness


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args(argv)
    harness.use_checkout()
    import workloads

    nproc = os.cpu_count() or 1
    levels = sorted({1, min(2, nproc), nproc})
    work = os.path.join(harness.STATE, "work", f"ladder-{os.getpid()}")
    workload = workloads.FlagshipSynth(work, args.seed)
    tally = harness.Tally()
    rows = []
    try:
        workload.prepare()
        for cpus in levels:
            spark, _ = harness.measure_setup(workload, cpus, 1, tally)
            try:
                loop = harness.timed_loop(workload, spark, args.seconds, tally)
                from docling_eval_spark.plans.pipeline import flagship

                scored = [r.asDict(recursive=True) for r in
                          flagship(spark, workload.path("docs")).collect()]
            finally:
                harness.stop_session(spark)
            digest = workloads.row_digest(scored)
            rows.append({"cpus": cpus,
                         "docs_per_s": workload.n_docs / statistics.median(loop["walls"]),
                         "scored_digest": digest})
    finally:
        harness.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    base = rows[0]["docs_per_s"]
    for r in rows:
        r["efficiency"] = r["docs_per_s"] / base / r["cpus"]
        print(f"local[{r['cpus']}] docs_per_s = {r['docs_per_s']:.1f} "
              f"efficiency = {r['efficiency']:.3f} digest = {r['scored_digest']}")
    invariant = len({r["scored_digest"] for r in rows}) == 1
    ok = invariant and tally.failed == 0
    print(json.dumps({"correct": ok, "invariant": invariant, "levels": rows,
                      "attempted": tally.attempted, "failed": tally.failed}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
