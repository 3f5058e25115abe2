"""The flagship job: extract main content from every page and score it
against the reference text (SURVEY.md §7 minimum end-to-end slice).

Stages (scan -> ONE Python operator -> column ops -> agg -> sinks):
  1. pages (input_hint schema) — from the deterministic corpus generator
     or any parquet/Iceberg table with that schema.
  2. size-balanced salted repartition (operators/skew.py).
  3. extract -> score as ONE mapInPandas: each Arrow batch is extracted
     (extraction/extract.py `extract_frame`) and then scored in place by
     `_score_batches` — GT text rides along, so scoring never joins (the
     reference's co-located J1 pairing), and the batch crosses the Arrow
     boundary once. The scorer is the markdown metric suite
     (BLEU/F1/edit/METEOR/CER) with an identity fast path (identical
     pair -> closed-form scores, no DP run), so on a mostly
     byte-identical corpus the slow path touches only the tail.
  4. byte_identical: native column equality — the 100% gate is pure
     JVM, no Python.
  5. sinks: DatasetStatistics per metric (operators/stats_rollup.py), or
     the job's commit (operators/resume.py `commit`): scored rows plus
     per-partition lineage rows (operators/lineage.py) from one computation.

Scoring parity: reference evaluators/markdown_text_evaluator.py:164-185
(per-doc metric dict), evaluators/stats.py:77-97 (dataset rollup).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..corpus.generator import pages_from_documents
from ..extraction.extract import extract_frame, extract_pages
from ..functions.text_metrics import cer, score_text_pair
from ..operators.skew import size_balanced_repartition

SCORE_FIELDS = ["bleu", "f1_score", "precision", "recall", "edit_distance", "meteor", "char_accuracy"]
_SCORE_SCHEMA = ", ".join(f"{f} double" for f in SCORE_FIELDS)

_IDENTITY_SCORES = {
    "bleu": 1.0, "f1_score": 1.0, "precision": 1.0, "recall": 1.0,
    "edit_distance": 0.0, "char_accuracy": 1.0,
}


def _score_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Passthrough scorer: appends metric columns to each extraction batch.

    Runs inside the extracting Python operator (extract_and_score,
    _fused_batches), no join — GT and prediction are columns of the same
    row (the reference's co-located J1 pairing), so scoring never shuffles.
    """
    for pdf in it:
        rows = []
        from ..functions.text_metrics import word_tokenize

        for pred, true in zip(pdf["extracted_text"], pdf["text"]):
            n_tok = len(word_tokenize(true)) if pred == true else 0
            # fast path only for non-degenerate identical pairs: with < 4
            # tokens the slow path's unsmoothed BLEU (and empty-token F1)
            # return 0.0, so shortcutting to 1.0 would make rollups differ
            # between identical and near-identical degenerate docs
            if pred == true and n_tok >= 4:
                m = dict(_IDENTITY_SCORES)
                # METEOR of identical token streams is 1 - gamma*(1/m)^beta,
                # not exactly 1 (same tokenizer as the slow path)
                m["meteor"] = 1.0 - 0.5 * (1.0 / n_tok) ** 3
            else:
                m = score_text_pair(pred, true)
                m["char_accuracy"] = 1.0 - min(1.0, cer(pred, true))
            rows.append([m[f] for f in SCORE_FIELDS])
        out = pdf.copy()
        for i, f in enumerate(SCORE_FIELDS):
            out[f] = [r[i] for r in rows]
        yield out


def _score_frame(frame: pd.DataFrame) -> pd.DataFrame:
    """Score one extracted batch. Handing `_score_batches` a ready frame
    (not the upstream iterator) keeps extraction out of its profile."""
    return next(_score_batches(iter([frame])))


def extract_and_score(pages: DataFrame, n_partitions: int = 32,
                      full_metrics: bool = True) -> DataFrame:
    """pages with materialized html blobs -> scored rows, in one Python
    operator after the size-balanced shuffle. `full_metrics=False` keeps
    the extraction product and byte_identical only (no GT-relative
    metric suite)."""
    balanced = size_balanced_repartition(pages, n_partitions)
    extracted = extract_pages(balanced,
                              score=_score_frame if full_metrics else None,
                              score_schema=_SCORE_SCHEMA)
    return extracted.withColumn(
        "byte_identical", F.col("extracted_text") == F.col("text")
    )


def _fused_batches(full_metrics: bool):
    """One Python operator for synth -> extract -> score.

    Fusing matters twice at scale: (1) each chained mapInPandas is its own
    Python worker per task — three chained operators triple the Python
    process count and re-cross the Arrow boundary with MB-scale html on
    every hop; fused, a task owns exactly one worker and html never leaves
    Python; (2) the html column is dropped before rows return to the JVM,
    so the only Arrow traffic is light metric/text columns.
    """
    from ..corpus.html_synth import synth_html, url_for

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = [int(i) for i in pdf["doc_id"]]
            html = (synth_html(i, t, l)
                    for i, t, l in zip(ids, pdf["text"], pdf["lang"]))
            frame = extract_frame(pdf.assign(url=[url_for(i) for i in ids]),
                                  html)
            yield _score_frame(frame) if full_metrics else frame

    return gen


def flagship(spark: SparkSession, sf_dir: str, n_partitions: int = 32,
             full_metrics: bool = True, replicate: int = 1,
             exclude: DataFrame | None = None) -> DataFrame:
    """documents parquet -> pages -> extract -> score. The entry() query.

    Shuffle placement: the salted repartition runs on the LIGHTWEIGHT
    pre-synthesis rows (doc_id, text, lang), not on materialized html
    blobs; synthesis, extraction, and scoring then run as ONE fused
    mapInPandas stage (see _fused_batches). On a real source table (blobs
    already materialized) use extract_and_score(), whose size-balanced
    salt is the blob-side equivalent. `replicate` deterministically
    amplifies the corpus (distinct doc_ids per replica) for scaling
    benchmarks.
    """
    from ..extraction.extract import EXTRACT_SCHEMA

    docs = pages_from_documents(spark, sf_dir, n_partitions=n_partitions,
                                replicate=replicate, pages_stage=False,
                                exclude=exclude)
    schema = EXTRACT_SCHEMA + (f", {_SCORE_SCHEMA}" if full_metrics else "")
    fused = docs.mapInPandas(_fused_batches(full_metrics), schema=schema)
    return fused.withColumn(
        "byte_identical", F.col("extracted_text") == F.col("text")
    )


def flagship_rollup(scored: DataFrame) -> DataFrame:
    """Dataset-level summary row (counts + means); the driver-facing sink."""
    return scored.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("byte_identical").cast("long")).alias("n_byte_identical"),
        F.round(F.avg("edit_distance"), 6).alias("mean_edit_distance"),
        F.round(F.avg("bleu"), 6).alias("mean_bleu"),
        F.round(F.avg("f1_score"), 6).alias("mean_f1"),
        F.round(F.avg("char_accuracy"), 6).alias("mean_char_accuracy"),
    )
