"""Text analysis for training-data pipelines — all JVM-side expressions.

Every function here stays inside whole-stage codegen (built-in
pyspark.sql.functions only, no Python UDFs): language-ID heuristic,
quality scoring (length/punct/stopword ratios), token counting, and a
rolling-hash document fingerprint. At 100 TB these run at scan speed
with full predicate pushdown above them.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")

# tiny per-language stopword signatures for the n-gram/function-word
# language-ID heuristic (public linguistic facts)
LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "die", "das", "und", "nicht"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "la", "los", "y", "es"),
}


def token_count(col: Column) -> Column:
    """Whitespace token count; blank/empty text counts 0 (split of ''
    yields [''], which would otherwise count as one token)."""
    return F.when(F.length(F.trim(col)) == 0, F.lit(0)) \
        .otherwise(F.size(F.split(F.trim(col), r"\s+")))


def with_token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("n_tokens", token_count(F.col(text_col)))


def with_quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """length / punctuation / stopword / word-length quality features.

    Rebuild-side analog of simple quality classifiers (Gopher/C4-style
    rules): all computable as native columns.
    """
    words = F.split(F.col(text_col), " ")
    n_words = F.size(words)
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w)))
    non_space_chars = F.length(F.regexp_replace(F.col(text_col), " ", ""))
    n_punct = F.length(F.col(text_col)) - F.length(
        F.regexp_replace(F.col(text_col), r"[\.,;:!\?]", "")
    )
    return (
        df.withColumn("n_chars_txt", F.length(F.col(text_col)))
        .withColumn("n_words", n_words)
        .withColumn("stopword_ratio", n_stop.cast("double") / n_words)
        .withColumn("mean_word_len", non_space_chars.cast("double") / n_words)
        .withColumn("punct_ratio", n_punct.cast("double") / F.greatest(F.length(F.col(text_col)), F.lit(1)))
    )


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Function-word language-ID heuristic: argmax of marker-word hits.

    A from-scratch n-gram-free langid (markers are the highest-frequency
    function words per language). Returns 'und' when no marker hits.
    """
    words = F.split(F.lower(F.col(text_col)), r"\s+")
    scores = []
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        scores.append(
            F.struct(
                F.size(F.filter(words, lambda w: F.array_contains(arr, w))).alias("hits"),
                F.lit(lang).alias("lang"),
            )
        )
    best = F.greatest(*scores) if len(scores) > 1 else scores[0]
    return df.withColumn(
        "lang_pred",
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und")),
    )


def with_lang_id_classifier(df: DataFrame, text_col: str = "text",
                            out_prefix: str = "langid_") -> DataFrame:
    """Real language identification: the from-scratch hashed
    char-n-gram softmax classifier (functions/langid.py — the fastText
    model family CCNet §4.3 buckets Common Crawl with, 23 languages vs
    with_lang_id's 4-language stopword heuristic).

    The model trains ONCE on the driver (deterministic, ~15 s,
    seeded synthetic corpus, cached per process) and its ~400 KB weight matrix ships to
    executors inside the UDF closure; scoring is one Arrow-batched
    SCALAR_ITER stage — a numpy GEMM per batch, no shuffle, no per-row
    Python rows. Adds {prefix}lang (ISO-639-1, 'und' for empty text)
    and {prefix}conf (softmax probability of the argmax)."""
    from pyspark.sql.functions import pandas_udf

    from ..functions.langid import get_model, predict

    W, b = get_model()

    @pandas_udf("struct<lang:string, conf:double>")
    def _score(s: pd.Series) -> pd.DataFrame:
        langs, conf = predict(s.tolist(), W, b)
        return pd.DataFrame({"lang": langs,
                             "conf": conf.astype("float64")})

    # nondeterministic to the optimizer only: a deterministic UDF is
    # copied into each filter on its output pushed below this projection
    # (curate --lang-keep), which scores every row twice
    _score = _score.asNondeterministic()
    scored = df.withColumn("_lid", _score(F.col(text_col)))
    return (scored
            .withColumn(f"{out_prefix}lang", F.col("_lid.lang"))
            .withColumn(f"{out_prefix}conf", F.col("_lid.conf"))
            .drop("_lid"))


def with_fingerprint(df: DataFrame, text_col: str = "text",
                     n_chars: int = 64) -> DataFrame:
    """Document fingerprint: xxhash64 of the normalized head+tail slices —
    a cheap rolling-hash-style near-identity key for shard-local dedup."""
    norm = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    return df.withColumn(
        "fingerprint",
        F.xxhash64(F.substring(norm, 1, n_chars),
                   F.substring(F.reverse(norm), 1, n_chars),
                   F.length(norm)),
    )


WINNOW_SCHEMA = "doc_id bigint, pos int, fp bigint"


def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        key: str = "doc_id", k: int = 5, w: int = 4,
                        base: int = 31, mod: int = 1 << 20) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    2003 — public): polynomial rolling hash over character k-grams, then
    one fingerprint per w-window of consecutive hashes — the window
    minimum, rightmost occurrence on ties — deduplicated by position.

    The guarantee (the paper's Theorem): any shared substring of length
    >= w + k - 1 between two documents yields at least one shared
    fingerprint, making the selected (pos, fp) rows a local, position-
    robust near-dup key set: shard-level dedup joins on fp, candidate
    pairs verify on fp overlap.

    Scale shape: one Arrow-batched numpy stage per partition (vectorized
    sliding windows, no per-char Python), output rows ~ |text| / ((w+1)/2)
    per doc (the paper's expected density 2/(w+1)); downstream joins are
    ordinary hash joins on fp.
    """
    import pandas as pd

    weights = np.array([pow(base, k - 1 - j, mod) for j in range(k)],
                       dtype=np.int64)

    def gen(it: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        from numpy.lib.stride_tricks import sliding_window_view

        for pdf in it:
            out_key, out_pos, out_fp = [], [], []
            for key_val, text in zip(pdf[key], pdf[text_col]):
                s = text or ""
                if len(s) < k + w - 1:
                    continue
                codes = np.fromiter((ord(c) for c in s), dtype=np.int64,
                                    count=len(s))
                grams = sliding_window_view(codes, k)      # [m, k]
                hs = (grams @ weights) % mod               # [m]
                wins = sliding_window_view(hs, w)          # [m-w+1, w]
                mins = wins.min(axis=1)
                # rightmost tie: argmin over the reversed window
                right_idx = w - 1 - np.argmin(wins[:, ::-1], axis=1)
                pos = np.arange(len(mins)) + right_idx
                keep = np.ones(len(pos), dtype=bool)
                keep[1:] = pos[1:] != pos[:-1]  # consecutive dups collapse
                sel_pos, sel_fp = pos[keep], mins[keep]
                # non-adjacent windows can reselect a position; dedupe
                uniq = {int(p): int(v) for p, v in zip(sel_pos, sel_fp)}
                for p in sorted(uniq):
                    out_key.append(int(key_val))
                    out_pos.append(p)
                    out_fp.append(uniq[p])
            yield pd.DataFrame({key: out_key, "pos": out_pos,
                                "fp": out_fp})

    return df.select(key, text_col).mapInPandas(gen, schema=WINNOW_SCHEMA)
