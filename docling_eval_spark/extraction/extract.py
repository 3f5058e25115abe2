"""The extraction hot path: pages -> extracted text + span rows + tables.

Rebuild of the reference's create-eval stage
(docling_eval/prediction_providers/base_prediction_provider.py:308-417 —
per-record predict() loop with manual chunking) as ONE Arrow-batched
mapInPandas stage:

  - GT and prediction stay co-located in the same row (the reference's
    implicit join J1, SURVEY.md §2.3) — no shuffle join anywhere.
  - No per-row Python: one Python invocation per Arrow batch; the
    tokenizer/classifier are pure-python but operate on whole documents,
    and batches are kept small (session.py maxRecordsPerBatch) because
    `html` is MB-scale.
  - Skew: callers salt-repartition first (operators/skew.py) because
    giant pages cluster by crawl host (north rule).

Output schema keeps the oracle `text` column alongside `extracted_text`
so scoring is a column-local comparison, plus the span rows and table
subtrees feeding the layout/TEDS evaluators. `extract_frame` is the one
per-doc loop; the blob operator here (optionally scoring each batch in
place) and the flagship's fused synth operator (plans/pipeline.py) both
run it.
"""

from __future__ import annotations

from functools import partial
from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame

from .boilerplate import extract_main_text

EXTRACT_SCHEMA = (
    "doc_id bigint, url string, lang string, text string, "
    "extracted_text string, n_blocks int, n_content int, n_boiler int, "
    "tables array<string>, "
    "spans array<struct<block_idx:int, tag:string, is_content:boolean, "
    "kind:string, n_chars:int, words:int, link_density:double>>"
)


def extract_schema(key_dtype: str = "bigint") -> str:
    """EXTRACT_SCHEMA with the doc_id dtype matched to the caller's key
    column — WARC-derived corpora use a 128-bit md5 hex STRING id (a
    64-bit id collides at 10^12 docs), synthetic corpora a bigint; a
    hardcoded bigint would Arrow-TypeError string keys in the executor."""
    return EXTRACT_SCHEMA.replace("doc_id bigint", f"doc_id {key_dtype}", 1)


def extract_frame(pdf: pd.DataFrame, html: Iterable) -> pd.DataFrame:
    """The per-doc extraction loop every extraction operator runs: one
    output row per page of `html`, with `pdf`'s doc_id/url/lang/text
    carried through so GT and prediction stay in the same row."""
    out = {"extracted_text": [], "n_blocks": [], "n_content": [],
           "n_boiler": [], "tables": [], "spans": []}
    for page in html:
        # a null page (bad upstream row) degrades to empty extraction
        # instead of TypeError-killing the executor task
        raw = b"" if page is None else bytes(page)
        r = extract_main_text(raw.decode("utf-8", errors="replace"))
        out["extracted_text"].append(r["text"])
        for c in ("n_blocks", "n_content", "n_boiler", "tables", "spans"):
            out[c].append(r[c])
    return pd.DataFrame({"doc_id": pdf["doc_id"], "url": pdf["url"],
                         "lang": pdf["lang"], "text": pdf["text"], **out})


def _extract_batches(it: Iterator[pd.DataFrame], score=None) -> Iterator[pd.DataFrame]:
    for pdf in it:
        frame = extract_frame(pdf, pdf["html"])
        yield frame if score is None else score(frame)


def extract_pages(pages: DataFrame, score=None, score_schema: str = "") -> DataFrame:
    """pages(url, warc_ts, html, text, lang[, doc_id]) -> extraction rows.

    `score`, when given, maps each extracted pandas batch to the same
    batch with the `score_schema` columns appended. It runs inside the
    same Python operator, so extract -> score crosses the Arrow boundary
    once and the html never comes back to the JVM.

    Fails fast at plan time when a required column is absent (a KeyError
    inside the executor UDF is much harder to diagnose); a missing doc_id
    is synthesized as -1.
    """
    required = ["url", "lang", "text", "html"]
    missing = [c for c in required if c not in pages.columns]
    if missing:
        raise ValueError(f"extract_pages: input is missing columns {missing}")
    from pyspark.sql import functions as F

    if "doc_id" not in pages.columns:
        pages = pages.withColumn("doc_id", F.lit(-1).cast("bigint"))
    schema = extract_schema(dict(pages.dtypes)["doc_id"])
    return pages.select("doc_id", *required).mapInPandas(
        partial(_extract_batches, score=score),
        schema=f"{schema}, {score_schema}" if score else schema,
    )
