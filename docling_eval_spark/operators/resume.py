"""Checkpoint/resume and the one commit path of the extraction job (north
rule).

The reference restarts from scratch or skips whole datasets
(multi_evalutor.py:201-213, utils.py:462-481 `dataset_exists`). At
10^12-doc scale the unit of resume must be the row, not the dataset:

  - `commit` appends a run's scored rows to an output table (parquet
    here; Iceberg `writeTo(...).append()` on a cluster, where the
    snapshot IS the checkpoint), appends the run's per-partition lineage
    rows, and returns the run's counts observed on that same write. It is
    the only code that commits scored rows: the extraction job, the CLI's
    create-eval and `run_resumable` all call it;
  - on restart, `resume_filter` anti-joins the input on the keys already
    committed, so work is idempotent: crash between appends loses at most
    the uncommitted in-flight partition writes (Iceberg: nothing, commits
    are atomic).

The anti-join's build side is keys-only (url) — at 10^12 rows this is a
shuffle join on a bucketed key column, and Iceberg bucket(url) layout makes
it storage-partitioned (shuffle-free). Column pruning keeps it to one
string column either way. It is the only read of the committed output.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .lineage import append_lineage


def _holds_data(path: str) -> bool:
    """True when `path` or one of its partition directories holds a data
    file (Spark ignores names starting with `_` or `.`, e.g. _SUCCESS)."""
    for _, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        if any(not f.startswith(("_", ".")) for f in files):
            return True
    return False


def committed_keys(spark: SparkSession, output_path: str, key: str = "url") -> DataFrame | None:
    """Keys already present in the committed output, or None if fresh.

    Fresh means the output is missing or holds no data files. Any other
    failure to read it (a corrupt footer, say) raises: treating an
    unreadable output as fresh would extract every committed row again
    and append it as a duplicate."""
    if not _holds_data(output_path):
        return None
    return spark.read.parquet(output_path).select(key)


def resume_filter(inputs: DataFrame, spark: SparkSession, output_path: str,
                  key: str = "url") -> DataFrame:
    """Drop input rows whose key is already committed (idempotent restart)."""
    done = committed_keys(spark, output_path, key)
    if done is None:
        return inputs
    return inputs.join(done, on=key, how="left_anti")


def commit(scored: DataFrame, output_path: str, lineage_path: str | None = None,
           run_id: str = "") -> tuple[int, int]:
    """Append THIS run's `scored` rows to `output_path` and, given a
    `lineage_path`, their per-partition lineage rows. Returns the run's
    (n_rows, n_ok), n_ok counting true `byte_identical` values (0 for
    rows without that column).

    The counts are observed on the write itself (DataFrame.observe), never
    taken by a separate count() or by re-scanning the cumulative committed
    table: at 10^12 committed rows a before/after `read.parquet(output)
    .count()` is two full-table scans per increment.

    With a lineage sidecar the rows are persisted (MEMORY_AND_DISK, spills
    if large) so both writes share one computation. The lineage goes
    first: appending to `output_path` makes Spark rebuild every cached
    plan that reads it, and the resume anti-join does, so a rollup after
    the append would recompute against the grown output and see no rows.
    A crash between the two appends leaves lineage rows for rows that the
    resumed run extracts and records again."""
    if lineage_path:
        scored = scored.persist()
    ok = (F.col("byte_identical").cast("long")
          if "byte_identical" in scored.columns else F.lit(0))
    obs = Observation()
    try:
        if lineage_path:
            append_lineage(scored, run_id, lineage_path)
        scored.observe(obs, F.count(F.lit(1)).alias("n_rows"),
                       F.coalesce(F.sum(ok), F.lit(0)).alias("n_ok")) \
            .write.mode("append").parquet(output_path)
    finally:
        if lineage_path:
            scored.unpersist()
    counts = obs.get
    return counts["n_rows"], counts["n_ok"]


def run_resumable(inputs: DataFrame, transform, spark: SparkSession,
                  output_path: str, key: str = "url") -> int:
    """resume_filter -> transform -> commit. Returns rows written THIS run."""
    todo = resume_filter(inputs, spark, output_path, key)
    return commit(transform(todo), output_path)[0]
