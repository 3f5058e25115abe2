"""Per-layer timings from direct, single-threaded calls into the program's
kernel modules on a workload's own inputs, the curation operators timed
one at a time through Spark, and the in-worker split of profiled Python
time read from the UDF profiler's pstats dumps.
"""

from __future__ import annotations

import glob
import os
import pstats
import random
import statistics
import time

import numpy as np
import pandas as pd

# at most this many inputs per kernel keeps a traced run well inside its
# time limit
SAMPLE = 400

UNITS = {
    "corpus.synth_html.ms_per_doc": "ms/doc",
    "extraction.parse_blocks.ms_per_doc": "ms/doc",
    "extraction.classify_blocks.ms_per_doc": "ms/doc",
    "extraction.extract_main_text.ms_per_doc": "ms/doc",
    "scoring.score_batches.ms_per_doc": "ms/doc",
    "scoring.slow_path_share": "share",
    "scoring.score_text_pair.ms_per_pair": "ms/pair",
    "teds.ms_per_table": "ms/table",
    "layout.ms_per_page": "ms/page",
    "reading_order.ms_per_doc": "ms/doc",
    "ocr.cer_ms_per_page": "ms/page",
    "langid.predict_ms_per_kdoc": "ms/kdoc",
}


def _sample(rows: list, k: int = SAMPLE) -> list:
    """``k`` rows drawn at random, in input order. A fixed stride would
    alias with the doc_id patterns that make table (1 in 5) and heavy
    (1 in 250) pages, and could miss them for some seeds."""
    if len(rows) <= k:
        return rows
    return [rows[i] for i in sorted(random.Random(0).sample(range(len(rows)), k))]


def _per(fn, items) -> float:
    """Milliseconds per item of ``fn`` over ``items``."""
    t = time.perf_counter()
    for it in items:
        fn(it)
    return (time.perf_counter() - t) * 1000 / max(len(items), 1)


def kernel_metrics(docs: pd.DataFrame, html: list[bytes] | None = None) -> dict:
    """``docs`` holds (doc_id, text, lang) of the workload; ``html`` the
    page each row shows, when the workload ships pages (otherwise they are
    synthesized here, which is what the flagship's fused stage does)."""
    from docling_eval_spark.corpus.html_synth import gt_table_html, has_table, synth_html
    from docling_eval_spark.corpus.layout_synth import gt_page, pred_page
    from docling_eval_spark.extraction.boilerplate import classify_blocks, extract_main_text
    from docling_eval_spark.extraction.html_tokenizer import parse_blocks
    from docling_eval_spark.functions import langid
    from docling_eval_spark.functions.layout_metrics import image_map, mask_precision_recall_f1
    from docling_eval_spark.functions.reading_order import ard_norm, predict_reading_order
    from docling_eval_spark.functions.teds import teds_score
    from docling_eval_spark.functions.text_metrics import cer, score_text_pair, word_tokenize
    from docling_eval_spark.plans.ocr_eval import degrade
    from docling_eval_spark.plans.pipeline import _score_batches

    rows = _sample(list(zip(docs["doc_id"].astype(int), docs["text"],
                            docs["lang"],
                            html if html is not None else [None] * len(docs))))
    out = {}
    out["corpus.synth_html.ms_per_doc"] = _per(
        lambda r: synth_html(r[0], r[1], r[2]), rows)
    pages = [(h if h is not None else synth_html(d, t, l)).decode("utf-8")
             for d, t, l, h in rows]
    out["extraction.parse_blocks.ms_per_doc"] = _per(parse_blocks, pages)
    blocks = [parse_blocks(p) for p in pages]
    out["extraction.classify_blocks.ms_per_doc"] = _per(classify_blocks, blocks)
    extracted = []
    out["extraction.extract_main_text.ms_per_doc"] = _per(
        lambda p: extracted.append(extract_main_text(p)), pages)

    # the shipped scoring path: one Arrow-batch-sized frame at a time
    pairs = pd.DataFrame({"extracted_text": [e["text"] for e in extracted],
                          "text": [r[1] for r in rows]})
    batches = [pairs.iloc[i:i + 256] for i in range(0, len(pairs), 256)]
    t = time.perf_counter()
    for _ in _score_batches(iter(batches)):
        pass
    out["scoring.score_batches.ms_per_doc"] = \
        (time.perf_counter() - t) * 1000 / len(pairs)
    # mirrors _score_batches' fast-path test: identical and >= 4 tokens
    slow = [p != g or len(word_tokenize(g)) < 4
            for p, g in zip(pairs["extracted_text"], pairs["text"])]
    out["scoring.slow_path_share"] = sum(slow) / len(slow)
    out["scoring.score_text_pair.ms_per_pair"] = _per(
        lambda pg: score_text_pair(*pg),
        list(zip(pairs["extracted_text"], pairs["text"])))

    tables = [(gt_table_html(d), e["tables"][0] if e["tables"] else "")
              for (d, *_), e in zip(rows, extracted) if has_table(d)]
    out["teds.ms_per_table"] = _per(lambda gp: teds_score(*gp), tables)

    def layout(d):
        gb, gl = gt_page(d)
        pb, pl, ps = pred_page(d)
        image_map(pb, pl, ps, gb, gl)
        mask_precision_recall_f1(gb, pb, mask_width=500, mask_height=500)
    out["layout.ms_per_page"] = _per(layout, [r[0] for r in rows])

    def reading(d):
        boxes = pred_page(d)[0]
        order = predict_reading_order(boxes[::-1].copy())
        ard_norm(np.argsort(order))
    out["reading_order.ms_per_doc"] = _per(reading, [r[0] for r in rows])
    out["ocr.cer_ms_per_page"] = _per(
        lambda r: cer(degrade(r[1], r[0] % 3), r[1]), rows)

    W, b = langid.get_model()
    texts = [r[1] for r in rows]
    t = time.perf_counter()
    for i in range(0, len(texts), 256):
        langid.predict(texts[i:i + 256], W, b)
    out["langid.predict_ms_per_kdoc"] = \
        (time.perf_counter() - t) * 1000 * 1000 / len(texts)
    return out


OP_REPEATS = 2


def operator_metrics(spark, texts_path: str) -> dict:
    """Milliseconds per 1,000 docs of each curation operator that
    ``curate`` chains, run alone on the (doc_id, url, text) table at
    ``texts_path`` and forced by a noop write: one warm-up call, then the
    median of ``OP_REPEATS`` calls. Each time includes the scan."""
    from docling_eval_spark.operators.text_analysis import with_lang_id_classifier
    from docling_eval_spark.operators.webtext import (
        c4_page_filter, corpus_line_dedup, normalize_text, redact_pii,
        url_dedup, with_gopher_quality)

    ops = {
        "webtext.url_dedup.ms_per_kdoc": url_dedup,
        "webtext.normalize.ms_per_kdoc":
            lambda df: normalize_text(df, keep_newlines=True),
        "langid.classifier_udf.ms_per_kdoc": with_lang_id_classifier,
        "webtext.gopher.ms_per_kdoc": with_gopher_quality,
        "webtext.c4.ms_per_kdoc": c4_page_filter,
        "webtext.redact_pii.ms_per_kdoc": redact_pii,
        "webtext.line_dedup.ms_per_kdoc": corpus_line_dedup,
    }
    docs = spark.read.parquet(texts_path)
    n = docs.count()
    out = {}
    for name, op in ops.items():
        times = []
        for _ in range(OP_REPEATS + 1):
            t = time.perf_counter()
            op(docs).write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t)
            spark.catalog.clearCache()   # corpus_line_dedup persists
        out[name] = statistics.median(times[1:]) * 1e6 / n
    return out


# the profiler strips directories from file names
UDF_FUNCS = {
    "udf.synth_html.share": ("html_synth.py", "synth_html"),
    "udf.parse_blocks.share": ("html_tokenizer.py", "parse_blocks"),
    "udf.classify_blocks.share": ("boilerplate.py", "classify_blocks"),
    "udf.score_batches.share": ("pipeline.py", "_score_batches"),
}


def udf_shares(dump_dir: str) -> dict:
    """Share of all profiled in-worker Python time spent inside each
    function of ``UDF_FUNCS`` (cumulative time, callees included)."""
    total = 0.0
    cum = dict.fromkeys(UDF_FUNCS, 0.0)
    for path in glob.glob(os.path.join(dump_dir, "*.pstats")):
        st = pstats.Stats(path)
        total += st.total_tt
        for (fname, _, func), (_, _, _, ct, _) in st.stats.items():
            for metric, (file, name) in UDF_FUNCS.items():
                if func == name and os.path.basename(fname) == file:
                    cum[metric] += ct
    return {m: (c / total if total else 0.0) for m, c in cum.items()}
