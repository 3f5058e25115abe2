"""Per-partition lineage rows (the north rule's sidecar table).

Rebuild analog of the reference's rejected_samples counters and
dataset_infos.json (SURVEY.md §2.4 A3, §2.1 S7): every extraction run
appends one row per task partition to a lineage table —
(run_id, partition_id, n_rows, n_ok, n_reject) — so a 100 TB job is
auditable per task and a resume can account for exactly what was
committed: summed over runs, n_rows and n_ok are the committed output's
row and byte-identical counts. Computed as a plain groupBy over
spark_partition_id(): no second pass over the data, piggybacks on the
already-materialized extraction output (operators/resume.py `commit`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def lineage_rows(scored: DataFrame, run_id: str,
                 ok_col: str = "byte_identical") -> DataFrame:
    """One row per partition of `scored` with row/ok/reject counts."""
    return (
        scored.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col(ok_col).cast("long")).alias("n_ok"),
            F.sum((~F.col(ok_col)).cast("long")).alias("n_reject"),
        )
        .withColumn("run_id", F.lit(run_id))
        .select("run_id", "partition_id", "n_rows", "n_ok", "n_reject")
    )


def append_lineage(scored: DataFrame, run_id: str, sidecar_path: str,
                   ok_col: str = "byte_identical") -> None:
    lineage_rows(scored, run_id, ok_col).write.mode("append").parquet(sidecar_path)
