"""Pages-table IO: the Iceberg-shaped read/write paths.

This sandbox ships no Iceberg runtime, so the concrete format is parquet;
both functions keep the exact contract an Iceberg deployment needs
(append-only writes, bucketed layout by url hash, explicit schema) so the
swap is `format("iceberg")` + `writeTo(...).append()` and nothing else.

The write distributes by bucket(url): co-locating url-keyed data makes
the resume anti-join (operators/resume.py) and any url-keyed join
storage-partitioned — shuffle-free — on Iceberg, and at minimum
consistently clustered on parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

PAGES_SCHEMA_DDL = ("url string, warc_ts timestamp, html binary, "
                    "text string, lang string")


def read_pages_table(spark: SparkSession, path: str,
                     columns: tuple[str, ...] | None = None) -> DataFrame:
    """Scan with explicit column pruning — never read `html` bytes unless
    the caller asks for them (SURVEY.md §4: the reference loads all
    columns including images for text-only scoring; pruning is the big
    free win)."""
    df = spark.read.parquet(path)
    return df.select(*columns) if columns else df


def write_pages_table(pages: DataFrame, path: str, n_buckets: int = 64,
                      mode: str = "append") -> int:
    """Append with bucket(url)-style clustering; returns the rows written."""
    obs = Observation()
    (
        pages.repartition(n_buckets, F.xxhash64("url"))
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .write.mode(mode).parquet(path)
    )
    return obs.get["n"]
