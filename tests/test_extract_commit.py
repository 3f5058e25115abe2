"""The blob extraction path runs extract -> score as one Python operator,
and every run commits through `operators.resume.commit`: its counts come
from the write and the lineage sidecar, never from re-reading the output."""

import glob
import os
import re

import pytest
from pyspark.sql import functions as F

from docling_eval_spark.corpus.generator import pages_from_documents


def _pages(spark, sf_dir, n_docs):
    # every 7th page's reference text differs from what extraction yields,
    # so byte_identical counts are not all-or-nothing
    return (pages_from_documents(spark, sf_dir)
            .where(F.col("doc_id") < n_docs)
            .withColumn("text", F.when(F.col("doc_id") % 7 == 0,
                                       F.concat("text", F.lit(" tail")))
                        .otherwise(F.col("text"))))


def test_extract_and_score_is_one_python_operator(spark, sf_dir, tmp_path):
    from docling_eval_spark.plans.pipeline import extract_and_score

    path = str(tmp_path / "pages")
    _pages(spark, sf_dir, 40).write.parquet(path)
    scored = extract_and_score(spark.read.parquet(path), n_partitions=4)
    scored.collect()
    plan = scored._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("MapInPandas") == 1, final
    exchange = re.search(r"Exchange|ShuffleQueryStage", final)
    assert exchange and final.index("MapInPandas") < exchange.start(), final


def test_extract_job_input_resume_reports_committed_counts(
        spark, sf_dir, tmp_path, capsys):
    from jobs.extract_job import main

    first, full = str(tmp_path / "first"), str(tmp_path / "full")
    _pages(spark, sf_dir, 60).write.parquet(first)
    _pages(spark, sf_dir, 100).write.parquet(full)
    out, lineage = str(tmp_path / "out"), str(tmp_path / "lineage")

    for run_id, pages, n_expect in (("r1", first, 60), ("r2", full, 100)):
        main(["--input", pages, "--output", out, "--lineage", lineage,
              "--run-id", run_id, "--checkpoint-resume", "--partitions", "4"],
             stop_session=False)
        line = capsys.readouterr().out.strip().splitlines()[-1]
        got = dict(kv.split("=") for kv in line.split()[1:])
        committed = spark.read.parquet(out)
        n = committed.count()
        assert n == n_expect
        assert committed.select("url").distinct().count() == n
        n_ok = committed.where("byte_identical").count()
        assert 0 < n_ok < n
        assert got["run_id"] == run_id
        assert int(got["committed"]) == n
        assert int(got["byte_identical"]) == n_ok
        assert spark.read.parquet(lineage).agg(F.sum("n_rows")).first()[0] == n


def test_commit_counts_this_run(spark, tmp_path):
    from docling_eval_spark.operators.resume import commit

    rows = spark.range(30).select(F.concat(F.lit("u"), F.col("id")).alias("url"),
                                  (F.col("id") % 3 == 0).alias("byte_identical"))
    out, lineage = str(tmp_path / "out"), str(tmp_path / "lineage")
    assert commit(rows, out, lineage, "a") == (30, 10)
    assert commit(rows.where("url = ''"), out, lineage, "b") == (0, 0)
    assert commit(rows.drop("byte_identical"), str(tmp_path / "o2")) == (30, 0)
    sums = spark.read.parquet(lineage).agg(F.sum("n_rows"), F.sum("n_ok")).first()
    assert tuple(sums) == (30, 10)


def test_corrupt_committed_output_raises_on_resume(spark, tmp_path):
    """An unreadable committed output is not a fresh one: resuming over it
    must fail instead of extracting and appending every row again."""
    from docling_eval_spark.operators.resume import run_resumable

    out = str(tmp_path / "out")
    rows = spark.range(0, 40, numPartitions=1).select(
        F.concat(F.lit("u"), F.col("id")).alias("url"))
    assert run_resumable(rows, lambda df: df, spark, out) == 40
    (data,) = glob.glob(os.path.join(out, "*.parquet"))
    size = os.path.getsize(data)
    with open(data, "r+b") as f:     # clobber the footer, keep the size
        f.seek(size - 16)
        f.write(b"\0" * 16)

    with pytest.raises(Exception):
        run_resumable(rows, lambda df: df, spark, out)
    assert glob.glob(os.path.join(out, "*.parquet")) == [data]
