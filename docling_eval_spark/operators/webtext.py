"""Web-corpus curation operators for Common-Crawl-style training data.

The north-rule input is an Iceberg table of web pages
(url, warc_ts, html, text, lang); after the extraction tier produces
clean text, a real training-data pipeline runs exactly these passes
over it (CCNet, Gopher/MassiveText, C4, RefinedWeb — all published):

- corpus-level duplicate-line removal (CCNet section 3.1: hash every
  paragraph/line over the WHOLE corpus, keep first occurrence),
- Gopher quality rules (Rae et al. 2021, appendix A1.1): word-count
  bounds, mean-word-length bounds, symbol-to-word ratio, fraction of
  words with an alphabetic character, stop-word floor,
- Gopher repetition rules (A1.1): duplicate-line fraction,
  duplicate-line character fraction, top word-2-gram character
  fraction,
- PII redaction (emails / IPv4 / phone numbers -> typed placeholder
  tokens; C4 and RefinedWeb both ship such regex passes),
- per-domain rollups with optional salting (host-level skew is THE
  skew axis of web corpora: a few domains contribute millions of
  pages),
- unigram log-prob scoring (stand-in for CCNet's KenLM perplexity
  bucket stage: same two-phase shape — corpus LM stats, broadcast
  back, per-doc score),
- latest-snapshot-per-url collapse across recrawls (max_by on
  warc_ts — partial-aggregable, unlike a window row_number which
  sorts every group),
- deterministic hash-threshold subsampling with nested rates
  (reproducible corpus scale ladders),
- benchmark n-gram decontamination (GPT-3 appendix C: broadcast the
  eval-set gram table, stream-probe the corpus),
- URL blocklist + banned-word scoring (RefinedWeb section 3.1),
- context-window sequence packing via a distributed prefix sum
  (per-bucket windows + broadcast offsets — no global sort),
- exact duplicate-span measurement (Lee et al. 2022 suffix-array
  dedup re-expressed as an n-gram index + interval merge),
- pre-hash NFC/whitespace canonicalization (one Arrow stage),
- per-stratum mixing-weight sampling and per-epoch hash-rank
  shuffling (both scan-speed, no global sort),
- Gopher A1.1 line rules (bullet / ellipsis fractions),
- token-budget selection (keep best-scored docs until a corpus
  token budget is exhausted — prefix sum over score buckets).

Everything is built from JVM-side pyspark.sql.functions (no Python in
the hot path anywhere in this module); the corpus-wide passes are
shaped so the shuffles are keyed and partial-aggregated the way a
100 TB run needs (see each docstring).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from docling_eval_spark.operators.text_analysis import STOPWORDS

# Packing stride for (doc, line-ordinal) -> single bigint. 2^20 lines
# per document is far above any real page; keeps min() a plain bigint
# aggregate (partial-aggregable, no struct comparators in the shuffle).
LINE_STRIDE = 1 << 20

EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
IPV4_RE = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
PHONE_RE = "\\+[0-9]{9,15}"


def _words(col: Column) -> Column:
    return F.split(F.trim(col), r"\s+")


def with_word_lines(df: DataFrame, text_col: str = "text",
                    words_per_line: int = 10,
                    out_col: str = "text_lines") -> DataFrame:
    """Re-chunk a flat word stream into fixed-width pseudo-lines joined
    by newlines. Deterministic, purely columnar; used to give line-level
    operators a line structure when the source text has none. Chunk i
    covers words [i*w+1, i*w+w] (1-based, clamped).

    The word array is projected ONCE as an intermediate column and the
    chunk lambda slices that column: CollapseProject keeps
    multi-referenced non-trivial projections, so each row splits once —
    not once per chunk (O(words), not O(words^2/w) per row)."""
    w = words_per_line
    split = df.withColumn("_ww", _words(F.col(text_col)))
    words = F.col("_ww")
    nchunks = F.floor((F.size(words) + F.lit(w - 1)) / F.lit(float(w))).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), nchunks - 1),
        lambda i: F.concat_ws(" ", F.slice(words, i * w + 1, w)),
    )
    return split.withColumn(out_col, F.concat_ws("\n", lines)).drop("_ww")


def corpus_line_dedup(df: DataFrame, key: str = "doc_id",
                      text_col: str = "text", sep: str = "\n") -> DataFrame:
    """CCNet-style corpus-level duplicate-line removal.

    Reference pipeline analog: CCNet section 3.1 deduplicates Common
    Crawl by hashing every paragraph across the whole corpus and
    dropping repeats; C4 does the same at the line level ("we discard
    all but one of any three-sentence span occurring more than once").

    Plan shape (scale notes — NO line text ever crosses an exchange):
      1. posexplode lines, hash each to xxhash64, and DROP THE TEXT —
         the exploded frame carries only (key, pos, packed, line_key),
         four bigint-width columns. Blank lines are dropped first (the
         one degenerate hot key — at 100 TB the empty-line group would
         be a single reducer).
      2. group by line_key with min(packed): plain bigint min => full
         map-side partial aggregation; the shuffle is 16 bytes/line.
      3. join winners back on the hash; survivors reduce to per-doc
         sorted position arrays (collect_list of ints keyed by doc).
      4. ONE text-bearing shuffle total: the source rows join the
         per-doc keep_pos arrays on the document key, and the surviving
         text is re-derived columnar (transform + element_at over the
         split array) — the natural document partitioning every
         downstream pass reuses.
      5. n_lines is computed columnar from the source row (size of the
         non-blank split), not by re-aggregating the exploded frame.

    The int-only exploded frame has two consumers (winner aggregation
    and winner join); it is persisted and count()-materialized in its
    own job first, so the text-splitting subtree executes exactly once
    (a persist alone does not stop concurrent first computations racing
    — see operators/dedup.py). The per-doc keep_pos frame stays
    persisted in the returned plan; release it with
    operators.caching.release_caches(result) when the result is
    consumed.

    First occurrence = minimum of (key * LINE_STRIDE + position):
    document order then line order, fully deterministic. This packing
    REQUIRES an integral key column (web pipelines use the numeric
    crawl-assigned page id): a string key would cast to null inside the
    arithmetic and silently empty every document, so the key dtype is
    asserted up front.

    Returns one row per input document: (key, n_lines, n_kept, text)
    where text is the surviving lines re-joined with `sep` (empty
    string when every line of a document was seen earlier).
    """
    key_dtype = dict(df.dtypes)[key]
    if key_dtype not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"corpus_line_dedup requires an integral key column; "
            f"got {key!r} of type {key_dtype} (a non-numeric key casts "
            f"to null in the first-occurrence packing and would empty "
            f"every document)")
    lines = F.split(F.col(text_col), sep)
    ex = (
        df.select(key, F.posexplode(lines).alias("pos", "line"))
        .where(F.length("line") > 0)
        .select(
            key, "pos",
            (F.col(key) * F.lit(LINE_STRIDE) + F.col("pos")).alias("packed"),
            F.xxhash64("line").alias("line_key"),
        )
    )
    ex = ex.persist()
    ex.count()
    winners = ex.groupBy("line_key").agg(F.min("packed").alias("win"))
    kept_pos = (
        ex.join(winners, "line_key")
        .where(F.col("packed") == F.col("win"))
        .groupBy(key)
        .agg(
            F.count_if(F.lit(True)).alias("n_kept"),
            F.array_sort(F.collect_list("pos")).alias("_keep_pos"),
        )
    )
    kept_pos = kept_pos.persist()
    kept_pos.count()  # materialize before releasing the line cache
    ex.unpersist()
    src = df.withColumn("_ls", lines)
    arr = F.col("_ls")
    text = F.when(F.col("_keep_pos").isNull(), F.lit("")).otherwise(
        F.concat_ws(sep, F.transform(
            F.col("_keep_pos"), lambda p: F.element_at(arr, p + 1))))
    out = (
        src.join(kept_pos, key, "left")
        .select(
            key,
            F.size(F.filter(arr, lambda l: F.length(l) > 0))
            .cast("long").alias("n_lines"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            text.alias("text"),
        )
    )
    from .caching import track_caches
    return track_caches(out, kept_pos)


def with_gopher_quality(df: DataFrame, text_col: str = "text",
                        min_words: int = 50, max_words: int = 100_000,
                        min_mean_word_len: float = 3.0,
                        max_mean_word_len: float = 10.0,
                        max_symbol_ratio: float = 0.1,
                        min_alpha_word_frac: float = 0.8,
                        min_stopwords: int = 2) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021, A1.1) as native columns.

    Adds the measured features plus one boolean flag per rule and an
    overall `gopher_pass`. All expressions stay inside whole-stage
    codegen; at 100 TB this runs at scan speed and the flag pushes down
    as a predicate for downstream passes that filter on it.

    Features: n_words, mean_word_len (word characters / words),
    alpha_word_frac (words containing [a-zA-Z]), n_stop (occurrences of
    the STOPWORDS list), symbol_ratio ((# + ellipsis) / words).

    The word array is projected once ("_ww"), each feature is computed
    once from it, and the flags reference the FEATURE COLUMNS — no
    expression (split included) is evaluated twice per row.
    """
    t = F.col(text_col)
    split = df.withColumn("_ww", _words(t))
    words = F.col("_ww")
    n_words = F.size(words)
    word_chars = F.aggregate(
        F.transform(words, F.length),
        F.lit(0), lambda acc, x: acc + x)
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]")))
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w)))
    # Gopher A1.1 counts '#' and ellipses; both the three-dot ASCII form
    # and the single-char unicode '…' count as one ellipsis (matching
    # gopher_line_flags' '(\.\.\.|…)' handling)
    n_symbols = (
        F.length(t) - F.length(F.regexp_replace(t, "#", ""))
        + (F.length(t) - F.length(F.regexp_replace(t, r"\.\.\.", ""))) / F.lit(3)
        + F.length(t) - F.length(F.regexp_replace(t, "…", ""))
    )
    feat = split.select(
        *df.columns,
        n_words.alias("n_words"),
        F.round(word_chars / n_words.cast("double"), 6).alias("mean_word_len"),
        F.round(n_alpha / n_words.cast("double"), 6).alias("alpha_word_frac"),
        n_stop.alias("n_stop"),
        F.round(n_symbols / n_words.cast("double"), 6).alias("symbol_ratio"),
    )
    out = (
        feat.withColumn(
            "flag_word_count",
            (F.col("n_words") >= min_words) & (F.col("n_words") <= max_words))
        .withColumn("flag_word_len",
                    (F.col("mean_word_len") >= min_mean_word_len)
                    & (F.col("mean_word_len") <= max_mean_word_len))
        .withColumn("flag_symbol", F.col("symbol_ratio") <= max_symbol_ratio)
        .withColumn("flag_alpha",
                    F.col("alpha_word_frac") >= min_alpha_word_frac)
        .withColumn("flag_stop", F.col("n_stop") >= min_stopwords)
    )
    return out.withColumn(
        "gopher_pass",
        F.col("flag_word_count") & F.col("flag_word_len")
        & F.col("flag_symbol") & F.col("flag_alpha") & F.col("flag_stop"))


def gopher_line_flags(df: DataFrame, text_col: str = "text",
                      sep: str = "\n",
                      max_bullet_frac: float = 0.9,
                      max_ellipsis_frac: float = 0.3) -> DataFrame:
    """The two LINE-level Gopher rules (Rae et al. 2021, A1.1) that
    with_gopher_quality's word-level pass does not cover: drop a page
    when more than 90% of its lines start with a bullet point or more
    than 30% end with an ellipsis (listicle / truncated-preview
    pages). Pure higher-order-function columns over the split lines —
    scan-speed, codegen-friendly, no shuffle.

    Adds (n_lines, bullet_line_frac, ellipsis_line_frac, flag_bullet,
    flag_ellipsis, gopher_line_pass)."""
    lines = F.split(F.col(text_col), sep)
    n = F.size(lines)
    n_bullet = F.size(F.filter(
        lines, lambda l: F.ltrim(l).rlike("^[-*•‣▪]")))
    n_ellipsis = F.size(F.filter(
        lines, lambda l: F.rtrim(l).rlike("(\\.\\.\\.|…)$")))
    out = df.select(
        *df.columns,
        n.alias("n_lines"),
        F.round(n_bullet / n.cast("double"), 6).alias("bullet_line_frac"),
        F.round(n_ellipsis / n.cast("double"), 6)
        .alias("ellipsis_line_frac"),
    )
    return (
        out.withColumn("flag_bullet",
                       F.col("bullet_line_frac") <= max_bullet_frac)
        .withColumn("flag_ellipsis",
                    F.col("ellipsis_line_frac") <= max_ellipsis_frac)
        .withColumn("gopher_line_pass",
                    F.col("flag_bullet") & F.col("flag_ellipsis"))
    )


def repetition_stats(df: DataFrame, key: str = "doc_id",
                     text_col: str = "text", sep: str = "\n") -> DataFrame:
    """Gopher repetition rules (A1.1): within-document duplication.

    Per document: fraction of lines that are duplicates of another line
    in the same document (dup_line_frac), fraction of characters inside
    such duplicated lines (dup_line_char_frac), and the fraction of
    characters covered by the most frequent word 2-gram
    (top2gram_char_frac = count * gram-characters / word-characters).

    Both passes are keyed by (document, unit) then document — the
    shuffle is the natural per-document partitioning, no corpus-wide
    key, so the operator scales linearly with documents. Tie-break for
    the top 2-gram: highest count, then lexicographically smallest
    gram (deterministic and oracle-reproducible).
    """
    lines_df = (
        df.select(key, F.explode(F.split(F.col(text_col), sep)).alias("line"))
        .where(F.length("line") > 0)
    )
    line_counts = lines_df.groupBy(key, "line").agg(
        F.count_if(F.lit(True)).alias("cnt"))
    line_stats = line_counts.groupBy(key).agg(
        F.round(
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0))
            / F.sum("cnt").cast("double"), 6).alias("dup_line_frac"),
        F.round(
            F.sum(F.when(F.col("cnt") > 1,
                         F.col("cnt") * F.length("line")).otherwise(0))
            / F.sum(F.col("cnt") * F.length("line")).cast("double"), 6
        ).alias("dup_line_char_frac"),
    )

    split = df.select(key, _words(F.col(text_col)).alias("_ww"))
    words = F.col("_ww")
    grams = F.transform(
        F.slice(words, 1, F.greatest(F.size(words) - 1, F.lit(0))),
        lambda w, i: F.concat_ws(" ", w, F.element_at(words, i + 2)),
    )
    gram_counts = (
        split.select(key, F.explode(grams).alias("gram"))
        .groupBy(key, "gram").agg(F.count_if(F.lit(True)).alias("cnt"))
    )
    top = gram_counts.groupBy(key).agg(
        F.max("cnt").alias("top_cnt"),
        F.min_by(F.col("gram"), F.struct(
            (-F.col("cnt")).alias("neg"), F.col("gram"))).alias("top_gram"),
    )
    word_chars = split.select(
        key,
        F.aggregate(F.transform(words, F.length), F.lit(0),
                    lambda acc, x: acc + x).alias("word_chars"))
    top_frac = (
        top.join(word_chars, key)
        .select(
            key, "top_gram", "top_cnt",
            F.round(
                F.col("top_cnt")
                * F.length(F.regexp_replace("top_gram", " ", ""))
                / F.col("word_chars").cast("double"), 6
            ).alias("top2gram_char_frac"),
        )
    )
    return line_stats.join(top_frac, key)


def assign_split(df: DataFrame, key: str = "doc_id",
                 fracs: "list[tuple[str, float]] | None" = None,
                 salt: str = "", out_col: str = "split") -> DataFrame:
    """Deterministic train/val/test assignment: u = md5_32(key:salt) /
    2^32 walks the cumulative fraction ladder, so membership is a pure
    function of the key — stable across engines, partitionings,
    reruns, and corpus growth (a document never migrates between
    splits when other documents arrive; the property random splits
    lose). Fractions are ordered (name, frac) pairs summing to <= 1;
    any remainder falls into the LAST split. Scan-speed native
    expressions; nested subsetting composes with hash_sample because
    both draw from the same md5 uniform only when salts differ — use
    distinct salts for independent draws."""
    fracs = fracs or [("train", 0.98), ("val", 0.01), ("test", 0.01)]
    u = (F.conv(F.substring(
        F.md5(F.concat(F.col(key).cast("string"), F.lit(f":{salt}"))),
        1, 8), 16, 10).cast("double")) / F.lit(2.0 ** 32)
    expr = None
    acc = 0.0
    for name, frac in fracs[:-1]:
        acc += frac
        cond = u < F.lit(acc)
        expr = F.when(cond, F.lit(name)) if expr is None \
            else expr.when(cond, F.lit(name))
    last = F.lit(fracs[-1][0])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn(out_col, expr)


GOPHER_REPETITION_THRESHOLDS = {
    "dup_line_frac": 0.30, "dup_para_frac": 0.30,
    "dup_line_char_frac": 0.20, "dup_para_char_frac": 0.20,
    "top2gram_char_frac": 0.20, "top3gram_char_frac": 0.18,
    "top4gram_char_frac": 0.16,
    "dup5gram_char_frac": 0.15, "dup6gram_char_frac": 0.14,
    "dup7gram_char_frac": 0.13, "dup8gram_char_frac": 0.12,
    "dup9gram_char_frac": 0.11, "dup10gram_char_frac": 0.10,
}


def full_repetition_stats(df: DataFrame, key: str = "doc_id",
                          text_col: str = "text", line_sep: str = "\n",
                          para_sep: str = "\n\n",
                          thresholds: dict[str, float] | None = None
                          ) -> DataFrame:
    """The COMPLETE Gopher repetition rule set (Rae et al. 2021, A1.1,
    all 13 published thresholds): duplicate line/paragraph fractions
    (row and character), top-{2,3,4}-gram character fractions, and
    duplicate-{5..10}-gram character coverage (overlap-aware union of
    covered positions), plus `gopher_repetition_pass` — false when ANY
    fraction exceeds its threshold.

    Plan shape — built for ONE corpus scan, not thirteen:
      * the text splits once into (words, lines, paragraphs); lines
        derive from the paragraphs columnar, so the base projection is
        a single pass (persisted + count()-materialized — three
        downstream subtrees consume it);
      * lines and paragraphs explode in ONE generator (tagged structs)
        and pivot back per document — one shuffle keyed (doc, tag,
        unit);
      * all nine gram sizes explode in ONE generator (n-tagged) and
        the per-(doc, n, gram) count frame feeds BOTH the top-gram
        aggregate and the duplicate-coverage join; pivots on n replace
        what was an 11-deep full-outer join chain (each branch of
        which re-scanned the corpus);
    every shuffle key carries the document id — per-document work
    only, linear in corpus size, no corpus-wide hot key.
    """
    thresholds = dict(GOPHER_REPETITION_THRESHOLDS, **(thresholds or {}))
    paras_col = F.split(F.col(text_col), para_sep)
    split = df.select(
        key,
        _words(F.col(text_col)).alias("_ww"),
        paras_col.alias("_pp"))
    split = split.withColumn(
        "_ll", F.flatten(F.transform(
            F.col("_pp"), lambda p: F.split(p, line_sep))))
    split = split.withColumn(
        "word_chars",
        F.aggregate(F.transform(F.col("_ww"), F.length), F.lit(0),
                    lambda acc, x: acc + x))
    split = split.persist()
    _split_cache = split       # the persisted frame: later rebinds derive
    split.count()
    base = split.select(key, "word_chars")

    # -- line/paragraph duplicate fractions: one explode, one pivot.
    # Units shuffle as (xxhash64, char length) — the unit TEXT (lines
    # and whole paragraphs, the longest strings in the pipeline) never
    # crosses an exchange; the fractions only need the count and the
    # length of each distinct unit.
    tagged = F.concat(
        F.transform(F.col("_ll"),
                    lambda u: F.struct(F.lit("line").alias("tag"),
                                       F.xxhash64(u).alias("uh"),
                                       F.length(u).alias("ulen"))),
        F.transform(F.col("_pp"),
                    lambda u: F.struct(F.lit("para").alias("tag"),
                                       F.xxhash64(u).alias("uh"),
                                       F.length(u).alias("ulen"))))
    units = (split.select(key, F.explode(tagged).alias("tu"))
             .select(key, F.col("tu.tag").alias("tag"),
                     F.col("tu.uh").alias("uh"),
                     F.col("tu.ulen").alias("ulen"))
             .where(F.col("ulen") > 0))
    ucnt = units.groupBy(key, "tag", "uh").agg(
        F.count_if(F.lit(True)).alias("cnt"),
        F.first("ulen").alias("ulen"))
    ustat = ucnt.groupBy(key, "tag").agg(
        F.round(
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0))
            / F.sum("cnt").cast("double"), 6).alias("frac"),
        F.round(
            F.sum(F.when(F.col("cnt") > 1,
                         F.col("cnt") * F.col("ulen")).otherwise(0))
            / F.sum(F.col("cnt") * F.col("ulen")).cast("double"), 6
        ).alias("char_frac"))
    upvt = (ustat.groupBy(key).pivot("tag", ["line", "para"])
            .agg(F.first("frac").alias("frac"),
                 F.first("char_frac").alias("char_frac")))

    # -- gram stats: one n-tagged explode feeds top AND coverage.
    # Grams are identified by a CHAINED xxhash64 over per-word hashes
    # (acc = xxhash64(acc, next) — overflow-free under ANSI mode, full
    # 64-bit space), never by the joined gram string: only
    # (key, n, i, gh) — four long-width columns — cross the count
    # exchange, the corpus_line_dedup int-only-shuffle pattern. The
    # top-gram tie on equal counts breaks by EARLIEST FIRST OCCURRENCE
    # (distinct grams can't share a position, so the order is total and
    # oracle-reproducible); the winner's character length is recomputed
    # from the word-length array at its first occurrence — ≤3 rows per
    # document ever touch gram text semantics.
    whs = F.transform(F.col("_ww"), lambda w: F.xxhash64(w))
    split = split.withColumn("_wh", whs).withColumn(
        "_wl", F.transform(F.col("_ww"), F.length))

    def gram_hashes(n: int):
        wh = F.col("_wh")
        if n == 1:
            return wh

        def chain(h, i):
            acc = h
            for k in range(1, n):
                acc = F.xxhash64(acc, F.element_at(wh, i + k + 1))
            return acc
        return F.transform(
            F.slice(wh, 1, F.greatest(F.size(wh) - (n - 1), F.lit(0))),
            chain)

    gram_arr = F.array(*[
        F.struct(F.lit(n).alias("n"), gram_hashes(n).alias("gs"))
        for n in range(2, 11)])
    occ = (split.select(key, F.explode(gram_arr).alias("g"))
           .select(key, F.col("g.n").alias("n"),
                   F.posexplode("g.gs").alias("i", "gh")))
    occ = occ.persist()
    occ.count()
    counts = occ.groupBy(key, "n", "gh").agg(
        F.count_if(F.lit(True)).alias("cnt"),
        F.min("i").alias("min_i"))
    counts = counts.persist()
    counts.count()
    # occ stays cached: the duplicate-coverage branch below is its
    # second consumer — releasing it here would re-run the whole
    # 9-size gram explode for that branch

    top = (counts.where(F.col("n") <= 4)
           .groupBy(key, "n")
           .agg(F.max("cnt").alias("_tc"),
                F.min_by(F.col("min_i"), F.struct(
                    (-F.col("cnt")).alias("neg"),
                    F.col("min_i"))).alias("_ti"))
           .join(split.select(key, "word_chars", "_wl"), key)
           .select(key, "n", F.round(
               F.col("_tc") * F.aggregate(
                   F.slice(F.col("_wl"), F.col("_ti") + 1, F.col("n")),
                   F.lit(0), lambda acc, x: acc + x)
               / F.col("word_chars").cast("double"), 6).alias("frac")))
    tpvt = top.groupBy(key).pivot("n", [2, 3, 4]).agg(F.first("frac"))

    dupg = counts.where((F.col("n") >= 5) & (F.col("cnt") > 1)) \
        .select(key, "n", "gh")
    covered = (
        occ.where(F.col("n") >= 5)
        .join(dupg, [key, "n", "gh"])
        .select(key, "n", F.explode(
            F.sequence(F.col("i"), F.col("i") + F.col("n") - 1))
            .alias("idx"))
        .distinct())
    cov_chars = (
        covered.join(split.select(key, "_ww"), key)
        .select(key, "n", F.length(
            F.element_at(F.col("_ww"), F.col("idx") + 1)).alias("wl"))
        .groupBy(key, "n").agg(F.sum("wl").alias("cov")))
    cpvt = cov_chars.groupBy(key).pivot("n", [5, 6, 7, 8, 9, 10]) \
        .agg(F.first("cov"))
    # materialize the coverage pivot (per-doc, <= 7 narrow columns) so
    # the gram-occurrence cache can be released here — cpvt was occ's
    # last consumer
    cpvt = cpvt.persist()
    cpvt.count()
    occ.unpersist()

    out = (base.join(upvt, key, "left")
           .join(tpvt, key, "left")
           .join(cpvt, key, "left"))
    sel = [
        F.col(key),
        F.col("line_frac").alias("dup_line_frac"),
        F.col("line_char_frac").alias("dup_line_char_frac"),
        F.col("para_frac").alias("dup_para_frac"),
        F.col("para_char_frac").alias("dup_para_char_frac"),
    ]
    for n in (2, 3, 4):
        sel.append(F.col(str(n)).alias(f"top{n}gram_char_frac"))
    for n in (5, 6, 7, 8, 9, 10):
        sel.append(F.round(
            F.coalesce(F.col(str(n)), F.lit(0))
            / F.col("word_chars").cast("double"), 6)
            .alias(f"dup{n}gram_char_frac"))
    out = out.select(*sel, "word_chars").drop("word_chars")
    cond = None
    for col, thr in thresholds.items():
        bad = F.coalesce(F.col(col), F.lit(0.0)) > thr
        cond = bad if cond is None else (cond | bad)
    out = out.withColumn("gopher_repetition_pass", ~cond)
    # split (word/line/para arrays), counts (gram counts) and cpvt still
    # feed the returned plan: callers release them with
    # operators.caching.release_caches once the result is consumed
    from .caching import track_caches
    return track_caches(out, _split_cache, counts, cpvt)


C4_TERMINAL_RE = '[.!?"]$'


def c4_page_filter(df: DataFrame, text_col: str = "text", sep: str = "\n",
                   min_words_per_line: int = 5,
                   min_kept_lines: int = 3,
                   badwords: list[str] | None = None) -> DataFrame:
    """C4 cleaning rules (Raffel et al. 2020, section 2.2) as native
    columns — the published line- and page-level filters:

    line keep: ends in a terminal punctuation mark ([.!?"]), has at
    least `min_words_per_line` words, and does not contain the word
    "javascript". page keep: at least `min_kept_lines` surviving lines,
    no "lorem ipsum", and no curly brace — and, with `badwords`, no
    whitespace token on the caller's blocklist (C4's published "List
    of Dirty, Naughty, Obscene or Otherwise Bad Words" gate; the list
    itself is the caller's to supply — it ships as an in-plan array
    literal probed with one arrays_overlap, scan speed, no shuffle).

    Adds n_lines, n_kept_lines, keep, and text_clean (surviving lines
    re-joined). Pure higher-order functions over a once-projected line
    array — runs at scan speed, no shuffle; `keep` pushes down as a
    predicate for downstream passes."""
    split = df.withColumn("_ls", F.split(F.col(text_col), sep))
    kept = F.filter(
        F.col("_ls"),
        lambda l: (
            l.rlike(C4_TERMINAL_RE)
            & (F.size(F.split(F.trim(l), r"\s+")) >= min_words_per_line)
            & ~F.lower(l).contains("javascript")
        ))
    return (
        split
        .withColumn("n_lines", F.size("_ls"))
        .withColumn("_kept", kept)
        .withColumn("n_kept_lines", F.size("_kept"))
        .withColumn(
            "keep",
            (F.col("n_kept_lines") >= min_kept_lines)
            & ~F.lower(F.col(text_col)).contains("lorem ipsum")
            & ~F.col(text_col).contains("{")
            & (F.lit(True) if not badwords else
               ~F.arrays_overlap(
                   _words(F.lower(F.col(text_col))),
                   F.lit([w.lower() for w in badwords]))))
        .withColumn("text_clean", F.concat_ws(sep, F.col("_kept")))
        .drop("_ls", "_kept")
    )


def redact_pii(df: DataFrame, text_col: str = "text",
               out_col: str = "text_redacted") -> DataFrame:
    """Regex PII redaction (C4 / RefinedWeb-style): emails, IPv4
    addresses, and international phone numbers replaced by typed
    placeholder tokens, with per-document match counts.

    Order matters and is fixed: emails first (an address contains no
    IP-shaped or phone-shaped span once replaced), then IPv4, then
    phones. Pure regexp_replace / regexp_extract_all — JVM-side,
    codegen, no shuffle.
    """
    t = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), F.lit(0)))
    red1 = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    n_ips = F.size(F.regexp_extract_all(red1, F.lit(IPV4_RE), F.lit(0)))
    red2 = F.regexp_replace(red1, IPV4_RE, "<IP>")
    n_phones = F.size(F.regexp_extract_all(red2, F.lit(PHONE_RE), F.lit(0)))
    red3 = F.regexp_replace(red2, PHONE_RE, "<PHONE>")
    return (
        df.withColumn("n_emails", n_emails)
        .withColumn("n_ips", n_ips)
        .withColumn("n_phones", n_phones)
        .withColumn(out_col, red3)
    )


def hash_sample(df: DataFrame, key: str = "doc_id", rate: float = 0.1,
                salt: str = "") -> DataFrame:
    """Deterministic corpus subsampling: keep a row iff the first 8 hex
    chars of md5(key ":" salt) sort below the rate threshold.

    Unlike df.sample(), the decision is a pure function of the key —
    stable across runs, partitionings, cluster sizes, and engines
    (training pipelines subsample crawls this way so reruns and
    downstream joins see identical documents). Thresholds nest:
    the rate-r sample is a strict subset of every rate-r' > r sample
    with the same salt, which gives cheap scale ladders. Rate
    resolution 1/16^8; no shuffle — the predicate evaluates at the
    scan and pushes down past column pruning."""
    if rate >= 1.0:
        return df
    if rate <= 0.0:
        return df.where(F.lit(False))
    thr = format(int(rate * 16 ** 8), "08x")
    h = F.substring(
        F.md5(F.concat(F.col(key).cast("string"), F.lit(":" + salt))), 1, 8)
    return df.where(h < F.lit(thr))


def normalize_text(df: DataFrame, text_col: str = "text",
                   out_col: str = "text_norm",
                   keep_newlines: bool = False) -> DataFrame:
    """Unicode-and-whitespace canonicalization ahead of hashing —
    CCNet normalizes text before dedup keys are computed so that
    byte-level encoding noise (decomposed accents, NBSP runs, control
    characters) doesn't split duplicate families.

    Three deterministic steps: NFC unicode normalization, control-
    character strip (C0 minus tab/newline, plus DEL), and ASCII
    whitespace-run collapse with outer trim. NFC has no Catalyst
    expression, so this is ONE Arrow-batched mapInPandas stage (the
    vectorized slow-path rule: never row-at-a-time Python); the regex
    steps ride along in the same pass instead of becoming extra JVM
    projections so the string crosses Arrow exactly once. The
    whitespace class is explicit ([ \\t\\r\\n\\f\\v]) because Python
    re '\\s' is unicode-wide while Java/RE2 '\\s' is ASCII — an
    engine-parity trap this repo's oracles would catch.

    With `keep_newlines` (line-structured corpora headed for the line
    dedup), a whitespace run CONTAINING a newline collapses to one
    '\\n' and only horizontal runs collapse to a space, so the line
    structure survives normalization.

    Returns the input plus (out_col, <out_col>_changed)."""
    import re as _re
    import unicodedata

    ctrl = _re.compile("[\x00-\x08\x0b-\x1f\x7f]")
    if keep_newlines:
        nlrun = _re.compile("[ \t\r\f\v]*\n[ \t\r\n\f\v]*")
        hrun = _re.compile("[ \t\r\f\v]+")

        def _ws(s: str) -> str:
            return hrun.sub(" ", nlrun.sub("\n", s)).strip()
    else:
        wsrun = _re.compile("[ \t\r\n\f\v]+")

        def _ws(s: str) -> str:
            return wsrun.sub(" ", s).strip()
    cols = df.columns

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            src = pdf[text_col].astype("string").fillna("")
            norm = [
                _ws(ctrl.sub("", unicodedata.normalize("NFC", s)))
                for s in src
            ]
            out = pdf.copy()
            out[out_col] = norm
            out[out_col + "_changed"] = [
                n != s for n, s in zip(norm, src)]
            yield out

    schema = ", ".join(
        f"{name} {dtype}" for name, dtype in df.dtypes
    ) + f", {out_col} string, {out_col}_changed boolean"
    result = df.mapInPandas(gen, schema=schema)
    return result.select(*cols, out_col, out_col + "_changed")


def stratified_hash_sample(df: DataFrame, rates: dict[str, float],
                           strata_col: str = "lang", key: str = "doc_id",
                           salt: str = "") -> DataFrame:
    """Per-stratum deterministic subsampling — the application step of
    data-mixing weights (language/domain/source proportions a la
    DoReMi or the Pile): each stratum keeps its own md5-threshold
    fraction of rows, decided purely by (key, salt) exactly like
    hash_sample, so per-stratum samples nest across rates and are
    reproducible everywhere.

    `rates` maps stratum value -> keep rate in [0, 1]. Strata absent
    from the map are DROPPED (mixing weights are explicit). The rate
    table ships as a broadcast literal frame and the comparison is a
    single string predicate — no shuffle, evaluates at the scan."""
    spark = df.sparkSession
    rows = []
    for stratum, rate in sorted(rates.items()):
        rate = min(max(float(rate), 0.0), 1.0)
        # rate 1.0 would format to 9 hex chars and string-compare wrong;
        # 'g' sorts above every hex digest, keeping everything.
        thr_hex = "g" if rate >= 1.0 else format(int(rate * 16 ** 8), "08x")
        rows.append((stratum, thr_hex))
    thr = spark.createDataFrame(rows, [strata_col, "_thr"])
    h = F.substring(
        F.md5(F.concat(F.col(key).cast("string"), F.lit(":" + salt))), 1, 8)
    return (
        df.join(F.broadcast(thr), strata_col)
        .where(h < F.col("_thr"))
        .drop("_thr")
    )


def temperature_mix_rates(counts: dict, alpha: float = 0.5,
                          budget: int | None = None) -> dict:
    """Per-stratum keep rates for temperature-smoothed source mixing
    (mT5 §3.1 / XLM-R: sample strata proportional to p^alpha, alpha<1
    flattens the head so low-resource strata are not drowned).

    With sampling probability q_s ∝ p_s^alpha, the per-document keep
    rate is r_s ∝ q_s / n_s ∝ n_s^(alpha-1). `budget=None` normalizes
    the largest rate to 1 (no stratum upsamples — the rarest stratum
    is taken whole and everything else subsamples to the target mix);
    an explicit document `budget` scales to an expected output size,
    capped at 1 per stratum.

    alpha == 0.5 computes via math.sqrt of a single division — both
    IEEE correctly-rounded, so the rates are bit-identical across
    engines (the SQL-oracle path). Other alphas use pow, whose last
    ulp is libm-dependent; fine operationally, but oracle fixtures pin
    alpha=0.5."""
    import math

    if not counts:
        return {}
    if budget is None:
        n_min = min(counts.values())
        if alpha == 0.5:
            return {s: math.sqrt(n_min / n) for s, n in counts.items()}
        return {s: (n / n_min) ** (alpha - 1.0)
                for s, n in counts.items()}
    z = sum(n ** alpha for n in counts.values())
    return {s: min(1.0, budget * (n ** alpha / z) / n)
            for s, n in counts.items()}


def temperature_mix(df: DataFrame, alpha: float = 0.5,
                    strata_col: str = "lang", key: str = "doc_id",
                    salt: str = "", budget: int | None = None) -> DataFrame:
    """Temperature-smoothed corpus mixing, end to end: count strata
    (one partial-aggregable groupBy; the stratum table is k rows and
    collects to the driver like every rollup), derive the mT5 keep
    rates, apply them with the deterministic md5-threshold sampler —
    the keep decision stays a pure function of (key, salt), so mixes
    nest across alphas/budgets and reproduce on any engine or cluster
    size."""
    counts = {r[0]: r[1] for r in
              df.groupBy(strata_col).count().collect()}
    rates = temperature_mix_rates(counts, alpha=alpha, budget=budget)
    return stratified_hash_sample(df, rates, strata_col=strata_col,
                                  key=key, salt=salt)


def ngram_contamination(df: DataFrame, benchmark: DataFrame,
                        n: int = 13, key: str = "doc_id",
                        text_col: str = "text",
                        bench_text_col: str = "text",
                        min_hits: int = 1) -> DataFrame:
    """Benchmark decontamination: flag training documents that share
    whitespace-token n-grams with a held-out evaluation set.

    GPT-3 (Brown et al. 2020, appendix C) removed training documents
    with a 13-gram collision against any benchmark; every serious
    pipeline since runs some variant. Shape: the benchmark side is
    tiny relative to the corpus (eval suites are ~1e5 documents), so
    its distinct n-gram set is BROADCAST and the corpus side
    stream-probes it — no shuffle of corpus text, no all-pairs. The
    per-doc gram explosion is O(total corpus tokens), the same order
    as tokenization itself; distinct-per-doc grams are reduced
    map-side before the count.

    Returns (key, n_grams, n_matched, contaminated) per corpus doc.
    Docs shorter than n tokens have zero grams and are never flagged.
    """
    def grams(frame: DataFrame, k: str, col: str) -> DataFrame:
        ws = _words(F.col(col))
        idx = F.when(
            F.size(ws) >= n,
            F.sequence(F.lit(1), F.size(ws) - F.lit(n - 1)),
        ).otherwise(F.array().cast("array<int>"))
        g = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(ws, i, n)))
        return frame.select(F.col(k).alias(key), F.explode_outer(g).alias("gram"))

    bench_grams = (
        grams(benchmark, key, bench_text_col)
        .where(F.col("gram").isNotNull()).select("gram").distinct()
    )
    doc_grams = grams(df, key, text_col)
    hits = (
        doc_grams.where(F.col("gram").isNotNull())
        .dropDuplicates([key, "gram"])
        .join(F.broadcast(bench_grams), "gram", "left_semi")
        .groupBy(key).agg(F.count_if(F.lit(True)).alias("n_matched"))
    )
    totals = doc_grams.groupBy(key).agg(
        F.count_if(F.col("gram").isNotNull()).alias("n_grams"))
    return (
        totals.join(hits, key, "left")
        .withColumn("n_matched", F.coalesce("n_matched", F.lit(0)))
        .withColumn("contaminated", F.col("n_matched") >= F.lit(min_hits))
    )


def duplicate_span_stats(df: DataFrame, n: int = 50,
                         key: str = "doc_id",
                         text_col: str = "text",
                         max_gram_count: int | None = None) -> DataFrame:
    """Exact duplicate-span detection: for every document, how many of
    its token positions sit inside a length-n token window that occurs
    MORE THAN ONCE anywhere in the corpus.

    This is the measurement half of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"), which dedups exact
    50-token substrings with a suffix array. A suffix array is a
    single-machine structure; the distributed equivalent indexes every
    token n-gram: (1) explode (gram-hash, doc, pos) — O(corpus
    tokens), same order as tokenization; (2) one groupBy on the
    128-bit gram hash keeps hashes seen >= 2 times (map-side partial
    counts absorb the duplicates that matter); (3) join back and
    interval-merge each doc's duplicated windows. The merge needs no
    collect: windows all have length n, so sorted by position the
    coverage is n for the first window plus min(n, gap) for each
    successor — a lag window partitioned by document.

    `max_gram_count` is the hot-key guard for web scale: a boilerplate
    gram repeated 10^8 times ("all rights reserved ...") would send
    every occurrence to ONE reducer in the dup join-back. Grams with
    count > max_gram_count are EXCLUDED from dup reporting (the same
    degenerate-bucket policy as the LSH _drop_hot_buckets guard —
    Lee et al. likewise cap pathological repeats); None (default)
    keeps exact semantics and leans on AQE skew-join splitting.

    Returns (key, n_tokens, n_grams, n_dup_positions,
    dup_covered_tokens, dup_frac)."""
    ws = _words(F.col(text_col))
    base = df.select(key, ws.alias("_ws"))
    idx = F.when(
        F.size("_ws") >= n,
        F.sequence(F.lit(1), F.size("_ws") - F.lit(n - 1)),
    ).otherwise(F.array().cast("array<int>"))
    grams = (
        base.select(
            key, F.size("_ws").cast("long").alias("n_tokens"),
            F.explode_outer(
                F.transform(idx, lambda i: F.struct(
                    i.alias("pos"),
                    F.md5(F.concat_ws(" ", F.slice(F.col("_ws"), i, n)))
                    .alias("g")))).alias("gp"))
        .select(key, "n_tokens", F.col("gp.pos").alias("pos"),
                F.col("gp.g").alias("g"))
    )
    grams = grams.persist()
    grams.count()  # two consumers below: totals + the dup join
    dup = (
        grams.where(F.col("g").isNotNull())
        .groupBy("g").agg(F.count_if(F.lit(True)).alias("_c"))
        .where(F.col("_c") >= 2)
    )
    if max_gram_count is not None:
        dup = dup.where(F.col("_c") <= max_gram_count)
    dup = dup.select("g")
    hits = grams.join(dup, "g", "left_semi")
    from pyspark.sql import Window
    w = Window.partitionBy(key).orderBy("pos")
    contrib = F.when(
        F.lag("pos").over(w).isNull(), F.lit(n)
    ).otherwise(F.least(F.lit(n), F.col("pos") - F.lag("pos").over(w)))
    per_doc = (
        hits.withColumn("_cov", contrib)
        .groupBy(key)
        .agg(F.count_if(F.lit(True)).alias("n_dup_positions"),
             F.sum("_cov").cast("long").alias("dup_covered_tokens"))
    )
    totals = grams.groupBy(key).agg(
        F.max("n_tokens").alias("n_tokens"),
        F.count_if(F.col("g").isNotNull()).alias("n_grams"))
    return (
        totals.join(per_doc, key, "left")
        .select(
            key, "n_tokens", "n_grams",
            F.coalesce("n_dup_positions", F.lit(0)).cast("long")
            .alias("n_dup_positions"),
            F.coalesce("dup_covered_tokens", F.lit(0)).cast("long")
            .alias("dup_covered_tokens"))
        .withColumn(
            "dup_frac",
            F.round(F.col("dup_covered_tokens") / F.col("n_tokens"), 6))
    )


def url_filter(df: DataFrame, url_col: str = "url",
               blocked_domains: list[str] | DataFrame | None = None,
               banned_words: list[tuple[str, float]] | None = None,
               threshold: float = 1.0) -> DataFrame:
    """RefinedWeb-style URL filtering (Penedo et al. 2023 §3.1): a hard
    domain blocklist plus a soft score over banned substrings of the
    URL; a page survives if its domain is not blocked AND its banned-
    word score stays under `threshold`.

    `blocked_domains` may be a Python list (registered as an in-plan
    literal set — fine for curated lists of thousands) or a DataFrame
    with a `domain` column (broadcast left-semi/anti join — the path
    for the multi-million-entry commercial blocklists RefinedWeb
    used). `banned_words` is [(substring, weight)]; score = sum of
    weights of substrings present in the lowercased URL. All checks
    are Catalyst expressions on the URL column — no shuffle, the
    filter evaluates at the scan.

    Returns the input plus (domain, blocked_domain, url_score, url_keep).
    """
    banned_words = banned_words if banned_words is not None else [
        ("casino", 1.0), ("webcam", 1.0), ("escort", 1.0),
        ("porn", 1.0), ("xxx", 1.0), ("lottery", 0.5), ("betting", 0.5),
    ]
    out = with_domain(df, url_col)
    if isinstance(blocked_domains, DataFrame):
        flagged = (
            blocked_domains.select(F.col("domain").alias("_bd"))
            .distinct().withColumn("_blocked", F.lit(True))
        )
        out = (
            out.join(F.broadcast(flagged),
                     out["domain"] == flagged["_bd"], "left")
            .withColumn("blocked_domain", F.coalesce("_blocked", F.lit(False)))
            .drop("_bd", "_blocked")
        )
    else:
        out = out.withColumn(
            "blocked_domain",
            F.col("domain").isin(blocked_domains) if blocked_domains
            else F.lit(False))
    low = F.lower(F.col(url_col))
    score = None
    for word, weight in banned_words:
        term = F.when(low.contains(word), F.lit(weight)).otherwise(F.lit(0.0))
        score = term if score is None else score + term
    out = out.withColumn("url_score", F.round(score, 6))
    return out.withColumn(
        "url_keep",
        ~F.col("blocked_domain") & (F.col("url_score") < F.lit(threshold)))


def with_bpe_token_counts(df: DataFrame,
                          merges: list[tuple[str, str]],
                          text_col: str = "text",
                          out_col: str = "n_bpe_tokens") -> DataFrame:
    """Append the byte-level-BPE token count of `text_col` — the number
    a context-window packer actually needs (whitespace word counts
    mis-size real windows by 20-40%).

    The encoder is the from-scratch GPT-2 algorithm in functions/bpe.py
    with a PLUGGABLE merges table (functions.bpe.load_merges reads the
    public merges.txt format). One Arrow stage; the merges list ships
    once per task in the serialized closure (a few MB for a 50k-merge
    table — closure-broadcast territory), and a per-batch pre-token
    cache exploits web text's heavy token repetition so the Python
    kernel runs per DISTINCT pre-token, not per occurrence."""
    import pandas as pd

    from pyspark.sql import types as T

    from ..functions.bpe import bpe_token_count

    merges = list(merges)
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.LongType())])

    def gen(it):
        cache: dict = {}
        for pdf in it:
            pdf[out_col] = pd.Series(
                [bpe_token_count(t or "", merges, cache)
                 for t in pdf[text_col]],
                dtype="int64", index=pdf.index)
            yield pdf

    return df.mapInPandas(gen, schema=schema)


def pack_sequences(df: DataFrame, ctx_len: int = 2048,
                   key: str = "doc_id", text_col: str = "text",
                   n_buckets: int = 256,
                   token_col: str | None = None) -> DataFrame:
    """Context-window packing: concatenate the token stream of the
    corpus in `key` order and chunk it every `ctx_len` tokens — the
    standard GPT-style pretraining batcher (documents are split at
    window boundaries, nothing is padded away).

    The global running token total is the crux at scale: the textbook
    `sum() OVER (ORDER BY key)` window is a single-reducer sort of the
    whole corpus. Instead this runs the classic distributed prefix
    sum: (1) one cheap agg finds the key range; (2) keys are
    hash-free range-bucketed by arithmetic on the numeric key (no
    sampling — deterministic); (3) per-bucket token totals (a few
    hundred rows) come to the driver, exclusive offsets go back as a
    broadcast join; (4) a window PARTITIONED BY bucket computes the
    local cumsum, so every window fits one task and no global sort
    ever happens. Requires a numeric key (web pipelines use the
    crawl-assigned page id); byte-identical to the global window.

    Returns (key, n_tokens, tok_start, seq_first, seq_last, n_seqs)
    where seq_* are the first/last ctx windows the document lands in.

    Token semantics: whitespace words by default; pass `token_col` to
    pack on a precomputed per-document token count instead (e.g.
    with_bpe_token_counts' n_bpe_tokens — real tokenizer tokens).
    """
    if token_col is not None:
        toks = df.select(
            key, F.col(token_col).cast("long").alias("n_tokens"))
    else:
        toks = df.select(
            key, F.size(_words(F.col(text_col))).cast("long").alias("n_tokens"))
    # Three downstream jobs (range probe, bucket partials, final join)
    # consume this frame; materialize the cache in its own job first so
    # the text split runs once, not once per consumer.
    toks = toks.persist()
    _tok_cache = toks          # the persisted frame: later rebinds derive
    toks.count()
    lo, hi = toks.agg(F.min(key), F.max(key)).first()
    if lo is None:
        toks.unpersist()    # empty input: nothing to share
        return toks.select(
            key, "n_tokens",
            F.lit(0).cast("long").alias("tok_start"),
            F.lit(0).cast("long").alias("seq_first"),
            F.lit(0).cast("long").alias("seq_last"),
            F.lit(0).cast("long").alias("n_seqs"))
    width = max(1, (int(hi) - int(lo)) // n_buckets + 1)
    bucket = ((F.col(key) - F.lit(int(lo))) / F.lit(width)).cast("long")
    toks = toks.withColumn("_b", bucket)
    per_bucket = sorted(
        toks.groupBy("_b").agg(F.sum("n_tokens").alias("t")).collect())
    offset, offsets = 0, []
    for b, t in per_bucket:
        offsets.append((b, offset))
        offset += int(t)
    spark = df.sparkSession
    off_df = spark.createDataFrame(offsets, ["_b", "_off"])

    from pyspark.sql import Window
    w = Window.partitionBy("_b").orderBy(key) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = toks.join(F.broadcast(off_df), "_b")
    cum = (F.col("_off") + F.sum("n_tokens").over(w)).cast("long")
    out = (
        local
        .withColumn("tok_start", cum - F.col("n_tokens"))
        .withColumn("seq_first", F.floor(F.col("tok_start") / ctx_len))
        .withColumn(
            "seq_last",
            F.when(F.col("n_tokens") > 0,
                   F.floor((cum - 1) / ctx_len))
            .otherwise(F.floor(F.col("tok_start") / ctx_len)))
        .withColumn(
            "n_seqs",
            F.when(F.col("n_tokens") > 0,
                   F.col("seq_last") - F.col("seq_first") + 1)
            .otherwise(F.lit(0)))
    )
    from .caching import track_caches
    return track_caches(
        out.select(key, "n_tokens", "tok_start",
                   "seq_first", "seq_last", "n_seqs"),
        _tok_cache)


def select_token_budget(df: DataFrame, budget: int,
                        score_col: str, key: str = "doc_id",
                        text_col: str = "text",
                        n_buckets: int = 256,
                        max_partition_rows: int | None = 4_000_000) -> DataFrame:
    """Budgeted curation: walk the corpus in descending `score_col`
    order and keep documents until the cumulative token count exceeds
    `budget` — how a pipeline cuts a 100 TB crawl down to a fixed
    pretraining token budget while keeping the highest-quality pages
    (SlimPajama / quality-bucketed CCNet both end with this step).

    A document is kept iff the running total BEFORE it is under the
    budget (so the boundary document that crosses the line is kept and
    the budget is met, never undershot). The running total over a
    global ordering is the pack_sequences scale problem again, solved
    the same way: deterministic arithmetic range buckets over the
    score domain (min/max probe, no sampling), per-bucket token sums
    to the driver, exclusive offsets broadcast back, per-bucket window
    for the local cumsum. Ties on the score break by ascending key, so
    the order is total and oracle-reproducible.

    Skew guard: quality scores CLUSTER (integer rule counts, capped
    fractions), so a plain score-range bucket can swallow most of the
    corpus and its window degenerates into a near-global single-task
    sort. Any bucket whose row count exceeds `max_partition_rows` is
    refined — exactly, preserving the (score desc, key asc) order —
    by splitting it into finer partitions that are still INTERVALS of
    the global order:

      * tie groups (one exact score value) split by arithmetic KEY
        range — within equal scores the order is by key, so key-range
        cells are intervals;
      * distinct scores inside a hot bucket split by a finer score
        grid (width / n_buckets) — score-range cells are always
        intervals.

    The driver orders all partitions globally (score-range index, then
    exact score desc, then key-range index), computes exclusive token
    offsets, and broadcasts them back; the result is byte-identical to
    the single-window plan for ANY cap. One refinement level bounds a
    tie-heavy partition by ~corpus/n_buckets^2 rows and a pure tie
    group by ~ties/n_buckets; the offsets table stays driver-small
    (<= n_buckets + hot_buckets * (distinct_scores_in_hot limited to
    n_buckets grid cells + n_buckets key cells)).

    Returns the kept rows plus (n_tokens, tok_before) where
    tok_before is the running total of all higher-scored documents."""
    toks = df.withColumn(
        "n_tokens", F.size(_words(F.col(text_col))).cast("long"))
    toks = toks.persist()
    _tok_cache = toks          # the persisted frame: later rebinds derive
    toks.count()
    lo, hi, klo, khi = toks.agg(
        F.min(score_col), F.max(score_col), F.min(key), F.max(key)).first()
    if lo is None:
        toks.unpersist()    # empty input: nothing to share
        return toks.withColumn("tok_before", F.lit(0).cast("long"))
    span = float(hi) - float(lo)
    width = span / n_buckets if span > 0 else 1.0
    # bucket 0 = best scores; monotone DESCENDING in the score
    bucket = F.least(
        F.floor((F.lit(float(hi)) - F.col(score_col)) / F.lit(width)),
        F.lit(n_buckets - 1)).cast("int")
    toks = toks.withColumn("_b", bucket)
    per_bucket = toks.groupBy("_b").agg(
        F.count_if(F.lit(True)).alias("n"),
        F.sum("n_tokens").alias("t"),
        F.approx_count_distinct(score_col).alias("ds")).collect()
    hot = ({} if max_partition_rows is None else
           {int(r["_b"]): r for r in per_bucket
            if int(r["n"]) > max_partition_rows})

    if hot and dict(df.dtypes)[key] not in (
            "tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"select_token_budget tie-group refinement needs an integral "
            f"key column for key-range splitting; got {key!r} of type "
            f"{dict(df.dtypes)[key]}")
    fine_w = width / n_buckets
    kspan = (int(khi) - int(klo)) if hot else 0
    kwidth = max(1, kspan // n_buckets + 1)
    if hot:
        # refine mode per hot bucket: few distinct scores => tie mode
        # (exact score x key range); many => finer score grid
        modes = [(b, "tie" if int(r["ds"]) <= n_buckets else "fine")
                 for b, r in hot.items()]
        mode_df = df.sparkSession.createDataFrame(modes, ["_b", "_mode"])
        toks = toks.join(F.broadcast(mode_df), "_b", "left")
        fine = F.least(
            F.floor((F.lit(float(hi)) - F.col(score_col)) / F.lit(fine_w)),
            F.lit(n_buckets * n_buckets - 1)).cast("long")
        kb = ((F.col(key) - F.lit(int(klo))) / F.lit(kwidth)).cast("long")
        toks = toks.withColumn(
            "_p",
            F.when(F.col("_mode") == "tie",
                   F.concat_ws(":", F.lit("t"), F.col("_b"),
                               F.col(score_col).cast("double").cast("string"),
                               kb))
            .when(F.col("_mode") == "fine",
                  F.concat_ws(":", F.lit("f"), fine))
            .otherwise(F.concat_ws(":", F.lit("c"), F.col("_b"))))
        parts = toks.groupBy("_p").agg(
            F.min("_b").alias("b"),
            F.max(F.col(score_col).cast("double")).alias("s"),
            F.min(F.when(F.col("_mode") == "tie", kb)).alias("kb"),
            F.sum("n_tokens").alias("t")).collect()
        # global partition order: score bucket asc; inside a bucket the
        # cold singleton stands alone, tie cells order by (score desc,
        # key-range asc), fine cells by max-score desc (cells have
        # disjoint score ranges, so max-score order == grid order)
        ordered = sorted(
            parts, key=lambda r: (int(r["b"]), -float(r["s"]),
                                  int(r["kb"] or 0)))
        offset, offsets = 0, []
        for r in ordered:
            offsets.append((r["_p"], offset))
            offset += int(r["t"])
        off_df = df.sparkSession.createDataFrame(offsets, ["_p", "_off"])
        drop_cols = ["_b", "_mode", "_p", "_off"]
    else:
        per_bucket = sorted((int(r["_b"]), int(r["t"])) for r in per_bucket)
        offset, offsets = 0, []
        for b, t in per_bucket:
            offsets.append((b, offset))
            offset += int(t)
        off_df = df.sparkSession.createDataFrame(offsets, ["_b", "_off"])
        toks = toks.withColumn("_p", F.col("_b"))
        off_df = off_df.withColumnRenamed("_b", "_p")
        drop_cols = ["_b", "_p", "_off"]

    from pyspark.sql import Window
    w = Window.partitionBy("_p").orderBy(
        F.col(score_col).desc(), F.col(key).asc()) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = (F.col("_off") + F.sum("n_tokens").over(w)).cast("long")
    from .caching import track_caches
    return track_caches(
        toks.join(F.broadcast(off_df), "_p")
        .withColumn("tok_before", cum - F.col("n_tokens"))
        .where(F.col("tok_before") < F.lit(int(budget)))
        .drop(*drop_cols),
        _tok_cache)


def epoch_shuffle(df: DataFrame, key: str = "doc_id", seed: int = 0,
                  n_buckets: int | None = None,
                  prefix_len: int = 4) -> DataFrame:
    """Deterministic global training order: every row gets a dense
    0-based `shuffle_pos` equal to its rank under md5(key:seed) — the
    per-epoch document shuffle of a pretraining run, reproducible
    across engines, partitionings, and restarts (change `seed` per
    epoch).

    A global rank is the same scale trap as pack_sequences' running
    sum: `row_number() OVER (ORDER BY hash)` is a single-reducer
    global sort. Here the distributed prefix sum runs on the HASH
    domain instead of a numeric key: the first `prefix_len` hex chars
    of the digest give 16^prefix_len arithmetic range buckets that are
    monotone in the full hash string, per-bucket counts come to the
    driver (only NON-EMPTY buckets exist in that aggregate, so the
    driver table stays small at any prefix length), exclusive offsets
    go back as a broadcast join, and a per-bucket row_number completes
    the rank. Ties on the digest (2^-128) break by key, so the order
    is total and byte-identical to the oracle's single global window —
    at ANY prefix length (the choice changes only the partition
    boundaries, never the order).

    Each bucket's rank is one window partition (one task sorts the
    whole bucket), so prefix_len sets the scale ceiling: the default
    4 (65,536 buckets) keeps per-task input ~15M rows at 10^12 docs;
    5 hex chars (1M buckets) covers anything beyond. `n_buckets`
    optionally coarsens the 16^prefix_len cells (still monotone)."""
    cells = 16 ** prefix_len
    h = F.md5(F.concat(F.col(key).cast("string"), F.lit(f":{seed}")))
    keyed = df.withColumn("_h", h).withColumn(
        "_b", F.conv(F.substring("_h", 1, prefix_len), 16, 10).cast("long"))
    if n_buckets is not None and n_buckets != cells:
        # coarser grouping of the 16^prefix_len hex-prefix cells
        # (still monotone in the digest)
        keyed = keyed.withColumn(
            "_b", (F.col("_b") / F.lit(cells / n_buckets)).cast("long"))
    per_bucket = sorted(
        keyed.groupBy("_b").agg(F.count_if(F.lit(True)).alias("n"))
        .collect())
    offset, offsets = 0, []
    for b, n in per_bucket:
        offsets.append((b, offset))
        offset += int(n)
    off_df = df.sparkSession.createDataFrame(offsets, ["_b", "_off"])

    from pyspark.sql import Window
    w = Window.partitionBy("_b").orderBy("_h", key)
    return (
        keyed.join(F.broadcast(off_df), "_b")
        .withColumn(
            "shuffle_pos",
            (F.col("_off") + F.row_number().over(w) - 1).cast("long"))
        .drop("_h", "_b", "_off")
    )


def classifier_score(df: DataFrame, weights: list[float],
                     bias: float = 0.0, text_col: str = "text",
                     out_col: str = "clf_score") -> DataFrame:
    """Hashed-feature linear quality classifier — the GPT-3 appendix-A
    shape (a logistic-regression quality score over hashed bag-of-words
    features, trained offline; the trained weights plug in here).

    score = sigmoid(bias + mean over tokens of W[md5_32(token) % D])

    Feature hashing uses the first 8 hex chars of md5 (engine-portable:
    DuckDB parses the same bucket with ('0x'||substr(md5,1,8))::BIGINT),
    mod D = len(weights). The weight vector ships as ONE array literal
    and the lookup runs inside higher-order functions — scan speed, no
    explode, no join, no shuffle; at 10^12 docs this is a free column.
    For D beyond a few thousand switch to a broadcast map join; the
    array-literal plan grows with D."""
    d = len(weights)
    w_arr = F.array(*[F.lit(float(w)) for w in weights])
    toks = _words(F.col(text_col))
    total = F.aggregate(
        F.transform(
            toks,
            lambda t: F.element_at(
                w_arr,
                (F.conv(F.substring(F.md5(t), 1, 8), 16, 10)
                 .cast("long") % d + 1).cast("int"))),
        F.lit(0.0), lambda acc, x: acc + x)
    z = F.lit(float(bias)) + total / F.size(toks)
    return df.withColumn(
        out_col, F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6))


def pareto_importance_sample(df: DataFrame, score_col: str = "clf_score",
                             key: str = "doc_id", alpha: float = 9.0,
                             salt: str = "", out_col: str = "pareto_keep"
                             ) -> DataFrame:
    """GPT-3 appendix-A importance sampling, made deterministic: the
    published rule keeps a document when
        (1 - score) < numpy.random.pareto(alpha)
    so high-score docs are almost always kept and low-score docs
    survive with a heavy-tailed probability (the corpus keeps SOME
    low-quality mass — cutting it entirely skews the distribution).
    The Pareto draw is re-derived from the document key via inverse-
    transform sampling, u^(-1/alpha) - 1 with u = md5_32(key:salt)/2^32
    — reproducible across engines, partitionings, and restarts, and
    re-drawable per epoch via `salt`.

    The keep decision compares ROUND-6 margins so the oracle's libm and
    the JVM's Math.pow can never disagree at the boundary."""
    u = (F.conv(F.substring(
        F.md5(F.concat(F.col(key).cast("string"), F.lit(f":{salt}"))),
        1, 8), 16, 10).cast("double") + F.lit(1.0)) / F.lit(2.0 ** 32)
    pareto = F.pow(u, F.lit(-1.0 / alpha)) - F.lit(1.0)
    margin = F.round(pareto - (F.lit(1.0) - F.col(score_col)), 6)
    return df.withColumn(out_col, margin > 0)


TRACKING_PARAMS_RE = "^(utm_[^=]*|gclid|fbclid|msclkid|ref|mc_[^=]*)(=|$)"


def normalize_url(df: DataFrame, url_col: str = "url",
                  out_col: str = "url_norm",
                  tracking_re: str = TRACKING_PARAMS_RE) -> DataFrame:
    """URL canonicalization for exact-URL dedup (RefinedWeb runs URL
    dedup before any content pass; recrawl collapse joins on this key).
    Pure native expressions — runs at scan speed over 10^12 rows:

      * scheme and host lowercased; a leading 'www.' dropped
      * default ports stripped (:80 for http, :443 for https)
      * the fragment dropped
      * tracking query params removed (utm_*, gclid, fbclid, msclkid,
        ref, mc_*), the survivors SORTED so param order never splits a
        URL into two keys; an emptied query drops its '?'
      * a trailing slash on a non-root path dropped; an empty path
        becomes '/'

    Non-http(s) or unparseable URLs pass through unchanged (dedup on
    the raw string beats corrupting it)."""
    u = F.col(url_col)
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    kept_params = F.array_sort(F.filter(
        F.split(query, "&"),
        lambda p: (F.length(p) > 0) & ~p.rlike(tracking_re)))
    qnorm = F.when(F.size(kept_params) > 0,
                   F.concat(F.lit("?"), F.array_join(kept_params, "&"))
                   ).otherwise(F.lit(""))
    parseable = u.rlike(r"^[Hh][Tt][Tt][Pp][Ss]?://[^/?#]+")
    tmp = (df
           .withColumn("_h", F.regexp_replace(
               F.lower(F.regexp_extract(u, r"^[^:]+://([^/?#]+)", 1)),
               r"^www\.", ""))
           .withColumn("_h", F.when(
               (scheme == "http") & F.col("_h").endswith(":80"),
               F.expr("substring(_h, 1, length(_h) - 3)"))
               .when((scheme == "https") & F.col("_h").endswith(":443"),
                     F.expr("substring(_h, 1, length(_h) - 4)"))
               .otherwise(F.col("_h")))
           .withColumn("_p", F.regexp_extract(
               u, r"^[^:]+://[^/?#]+([^?#]*)", 1))
           .withColumn("_p", F.when(F.col("_p") == "", F.lit("/"))
                       .otherwise(F.col("_p")))
           .withColumn("_p", F.when(
               (F.length("_p") > 1) & F.col("_p").endswith("/"),
               F.expr("substring(_p, 1, length(_p) - 1)"))
               .otherwise(F.col("_p"))))
    return (tmp.withColumn(
        out_col,
        F.when(parseable,
               F.concat(scheme, F.lit("://"), F.col("_h"),
                        F.col("_p"), qnorm))
        .otherwise(u))
        .drop("_h", "_p"))


def url_dedup(df: DataFrame, key: str = "doc_id",
              url_col: str = "url") -> DataFrame:
    """Exact-URL dedup on the canonical key: one row per input document
    with its url_norm, the canonical-group size, and url_keep_first
    (true iff this document has the smallest key of its group — the
    deterministic survivor). Plain hash groupBy + broadcast-free join
    back on the 8-byte min key: the same scale shape as exact_dedup."""
    normed = normalize_url(df, url_col=url_col)
    groups = normed.groupBy("url_norm").agg(
        F.min(key).alias("_win"), F.count_if(F.lit(True)).alias("n_same_url"))
    return (normed.join(groups, "url_norm")
            .withColumn("url_keep_first", F.col(key) == F.col("_win"))
            .drop("_win"))


# two-step: first isolate the whole <meta ...> tag whose attributes
# contain name=robots ANYWHERE (HTML puts name/content in either order),
# then pull content= out of that tag — a single name-then-content regex
# silently misses <meta content="noindex" name="robots">
ROBOTS_META_TAG_RE = r'(?is)(<meta[^>]*name\s*=\s*["\']?robots["\']?[^>]*>)'
ROBOTS_META_CONTENT_RE = r'(?is)content\s*=\s*["\']?([^"\'>]*)'


def with_robots_flags(df: DataFrame, html_col: str = "html",
                      out_prefix: str = "robots_") -> DataFrame:
    """Robots meta-tag opt-out detection (the page-level half of REP —
    robots.txt governs crawling, the <meta name=robots> tag governs
    INDEXING/reuse, and responsible corpus pipelines drop noindex pages
    at curation time since the crawler cannot see the tag before
    fetching). Native expressions over the raw html bytes: the content
    attribute of the robots meta tag is regexp-extracted
    case-insensitively (tag isolated first so name/content attribute
    order does not matter), `noindex` / `none` set robots_noindex,
    `nofollow` / `none` set robots_nofollow, and robots_keep is the
    curation predicate. Runs at scan speed; the html column is read
    anyway by the extraction stage, so the flag is free."""
    h = F.col(html_col)
    tag = F.regexp_extract(h.cast("string"), ROBOTS_META_TAG_RE, 1)
    content = F.lower(F.regexp_extract(tag, ROBOTS_META_CONTENT_RE, 1))
    noindex = content.rlike("(noindex|none)")
    nofollow = content.rlike("(nofollow|none)")
    return (df.withColumn(f"{out_prefix}noindex", noindex)
            .withColumn(f"{out_prefix}nofollow", nofollow)
            .withColumn(f"{out_prefix}keep", ~noindex))


def with_domain(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Extract the registrable host from a URL column with the built-in
    parse_url (Catalyst expression, codegen-friendly)."""
    return df.withColumn("domain", F.parse_url(F.col(url_col), F.lit("HOST")))


def domain_rollup(df: DataFrame, key: str = "doc_id",
                  chars_col: str = "n_chars",
                  salt_buckets: int | None = None) -> DataFrame:
    """Per-domain document count and mean page size.

    Host-level skew is the canonical web-corpus skew: a handful of
    domains (wikipedia.org, blogspot.com, ...) hold orders of magnitude
    more pages than the median host. With `salt_buckets` set, the
    rollup aggregates in two stages — (domain, salt) partials first,
    then domain — so no single reducer ever sees a full hot domain.
    Results are bit-identical to the unsalted plan (counts and sums are
    associative; the mean is computed only in the final stage).
    """
    if salt_buckets:
        partial = (
            df.groupBy(
                "domain",
                F.pmod(F.xxhash64(F.col(key)), F.lit(salt_buckets)).alias("_salt"))
            .agg(F.count_if(F.lit(True)).alias("_n"),
                 F.sum(chars_col).alias("_chars"))
        )
        return (
            partial.groupBy("domain")
            .agg(
                F.sum("_n").alias("n_docs"),
                F.round(F.sum("_chars") / F.sum("_n").cast("double"), 6)
                .alias("avg_chars"),
            )
        )
    return df.groupBy("domain").agg(
        F.count_if(F.lit(True)).alias("n_docs"),
        F.round(F.avg(F.col(chars_col).cast("double")), 6).alias("avg_chars"),
    )


def unigram_logprob(df: DataFrame, key: str = "doc_id",
                    text_col: str = "text",
                    broadcast_max_tokens: int | None = None,
                    by: str | None = None) -> DataFrame:
    """Per-document mean unigram negative log-likelihood.

    CCNet buckets Common Crawl by a KenLM wikipedia perplexity; the
    two-phase Spark shape is identical for any LM order: (1) aggregate
    corpus LM statistics — here a unigram table, one groupBy on token
    with map-side combine; (2) score each document against the model.

    Model-side join strategy: the token table of even a 100 TB web
    corpus is millions of rows — broadcastable, and broadcast is the
    default (each token row joins the model executor-locally, zero
    shuffle of the exploded corpus). Higher LM orders (or pathological
    vocabularies) outgrow the driver: pass `broadcast_max_tokens` and
    when the distinct-token count exceeds it the model joins as a
    plain shuffled hash join on the token hash instead — the exploded
    corpus exchanges 16-byte (key, tok_hash) rows; token TEXT never
    crosses the wire on either path (both aggregate and join on
    xxhash64(token), whose any-collision probability at a V-token
    vocabulary is ~V^2/2^65 — ~5e-6 even at V=10^7). Output is
    identical on both paths (pinned by pytest and the shared SQL
    oracle).

    `by` groups the MODEL itself: frequencies, totals, and scores are
    computed within each value of that column — CCNet's one-LM-per-
    language shape (a token's probability comes from its own
    language's distribution). The plan shape is unchanged: one
    groupBy on (by, token hash) with map-side combine, per-group
    totals broadcast, the same model-side join strategy.

    Score = mean over tokens of -ln(count(token)/total_tokens),
    rounded to 6 decimals (summation-order stability).
    """
    grp = [by] if by else []
    toks = df.select(key, *grp,
                     F.explode(_words(F.col(text_col))).alias("tok")) \
        .select(key, *grp, F.xxhash64("tok").alias("_th"))
    freq = toks.groupBy(*grp, "_th").agg(
        F.count_if(F.lit(True)).alias("cnt"))
    total = freq.groupBy(*grp).agg(F.sum("cnt").alias("total"))
    use_broadcast = True
    if broadcast_max_tokens is not None:
        n_tokens_distinct = freq.count()
        use_broadcast = n_tokens_distinct <= broadcast_max_tokens
    model = freq.join(F.broadcast(total), grp) if by \
        else freq.crossJoin(F.broadcast(total))
    if use_broadcast:
        model = F.broadcast(model)
    scored = (
        toks.join(model, grp + ["_th"])
        .groupBy(key, *grp)
        .agg(
            F.count_if(F.lit(True)).alias("n_tokens"),
            F.round(F.avg(-F.log(F.col("cnt") / F.col("total"))), 6)
            .alias("unigram_nll"),
        )
    )
    return scored


def stupid_backoff_logprob(df: DataFrame, key: str = "doc_id",
                           text_col: str = "text",
                           backoff: float = 0.4,
                           broadcast_max_pairs: int | None = None,
                           train_df: DataFrame | None = None
                           ) -> DataFrame:
    """Per-document mean bigram negative log-likelihood under Stupid
    Backoff (Brants et al. 2007 "Large Language Models in Machine
    Translation") — the smoothing Google designed FOR distributed
    web-scale training: no discounting, no normalization pass, just

        S(w_i | w_{i-1}) = c(w_{i-1} w_i) / c(w_{i-1})   if seen
                         = backoff * c(w_i) / N           otherwise

    which makes every model statistic a plain count — one corpus-level
    groupBy each for bigrams and unigrams, both with map-side combine.
    This is the CCNet LM-scoring shape one order up from
    unigram_logprob, sharing its engineering rules: token TEXT never
    crosses an exchange (all keys are xxhash64(token); a bigram key is
    the (prev, cur) hash pair), the model side pre-joins the
    denominator so scoring is one left join, and the model broadcasts
    by default with a shuffled-hash-join fallback when the distinct
    bigram count exceeds `broadcast_max_pairs` (both paths
    row-identical — same counts, same arithmetic).

    Score = mean over the document's n-1 bigram positions of
    -ln(S(w_i | w_{i-1})), rounded to 6 decimals (summation-order
    stability). Documents with fewer than 2 tokens have no bigram
    positions and are dropped — score them with unigram_logprob.
    `train_df` separates the model corpus from the scored one (CCNet
    trains on Wikipedia, scores the crawl); scoring the training
    corpus against itself never backs off by construction. A scored
    token absent from the training vocabulary takes a half-count OOV
    floor (S = backoff * 0.5 / N) so no position scores -ln(0).

    Returns (key, n_pairs, sb_nll)."""

    def _split(frame: DataFrame, k: str):
        ws = frame.select(k, _words(F.col(text_col)).alias("_ws")) \
            .where(F.size("_ws") >= 2)
        hs = ws.select(k, F.expr(
            "transform(_ws, w -> xxhash64(w))").alias("_hs"))
        prs = hs.select(
            k,
            F.explode(F.arrays_zip(
                F.slice("_hs", 1, F.size("_hs") - 1).alias("ph"),
                F.slice("_hs", 2, F.size("_hs") - 1).alias("ch"),
            )).alias("_p")).select(k, "_p.ph", "_p.ch")
        return prs, hs.select(k, F.explode("_hs").alias("_th"))

    train = train_df if train_df is not None else df
    tpairs, ttoks = _split(train, key)
    big = tpairs.groupBy("ph", "ch").agg(
        F.count_if(F.lit(True)).alias("cb"))
    uni = ttoks.groupBy("_th").agg(F.count_if(F.lit(True)).alias("cu"))
    n_total = ttoks.count()
    # pre-join the bigram denominator: Brants' S divides the bigram
    # count by the PREVIOUS token's unigram count
    model = big.join(uni.select(F.col("_th").alias("ph"),
                                F.col("cu").alias("cprev")), "ph")
    use_broadcast = True
    if broadcast_max_pairs is not None:
        use_broadcast = big.count() <= broadcast_max_pairs
    cur = uni.select(F.col("_th").alias("ch"), F.col("cu").alias("ccur"))
    if use_broadcast:
        model, cur = F.broadcast(model), F.broadcast(cur)
    pairs, _ = _split(df, key)
    ccur_eff = F.coalesce(F.col("ccur").cast("double"), F.lit(0.5))
    score = F.when(
        F.col("cb").isNotNull(),
        -F.log(F.col("cb") / F.col("cprev"))
    ).otherwise(
        -F.log(F.lit(backoff) * ccur_eff / F.lit(float(n_total))))
    return (pairs
            .join(model, ["ph", "ch"], "left")
            .join(cur, "ch", "left")
            .groupBy(key)
            .agg(F.count_if(F.lit(True)).alias("n_pairs"),
                 F.round(F.avg(score), 6).alias("sb_nll")))


def perplexity_buckets(df: DataFrame, score_col: str = "unigram_nll",
                       key: str = "doc_id",
                       labels: tuple[str, ...] = ("head", "middle", "tail"),
                       max_partition_rows: int | None = 4_000_000
                       ) -> DataFrame:
    """CCNet perplexity bucketing (section 4.4): rank the corpus by LM
    score and cut it into equal-population thirds — head (lowest
    perplexity, Wikipedia-like), middle, tail. CCNet keeps the buckets
    as separate corpora so downstream training can weight them.

    The corpus-wide rank is the pack_sequences scale problem: a global
    `row_number() OVER (ORDER BY score)` is a single-reducer sort.
    Rank here = select_token_budget's de-skewed distributed prefix sum
    with a UNIT token per row (tok_before == the number of rows
    strictly before this one under (score asc, key asc)) — inheriting
    the tie-group/key-range refinement, so heavily tied scores never
    collapse into one window partition. bucket = floor(rank * k / n),
    byte-identical to the oracle's single global window.

    Returns the input plus (ppl_rank, ppl_bucket)."""
    from .caching import track_caches

    k = len(labels)
    # select_token_budget walks DESCENDING scores; negate so the walk
    # is ascending-perplexity (head first); ties break by key in both
    ranked0 = select_token_budget(
        df.withColumn("_unit", F.lit("x"))
        .withColumn("_neg", -F.col(score_col)),
        budget=1 << 62, score_col="_neg", key=key, text_col="_unit",
        max_partition_rows=max_partition_rows)
    ranked = ranked0.withColumnRenamed("tok_before", "ppl_rank") \
        .drop("_unit", "_neg", "n_tokens")
    n = ranked.count()
    lab_arr = F.array(*[F.lit(x) for x in labels])
    idx = F.least(F.floor(F.col("ppl_rank") * k / F.lit(max(n, 1))),
                  F.lit(k - 1)).cast("int")
    # re-attach the rank machinery's cache contract (derived frames do
    # not inherit _cached_deps)
    return track_caches(
        ranked.withColumn("ppl_bucket", F.element_at(lab_arr, idx + 1)),
        *getattr(ranked0, "_cached_deps", ()))


def perplexity_buckets_by_lang(df: DataFrame, lang_col: str = "lang",
                               score_col: str = "unigram_nll",
                               key: str = "doc_id",
                               labels: tuple[str, ...] = ("head", "middle",
                                                          "tail"),
                               max_partition_rows: int | None = 4_000_000
                               ) -> DataFrame:
    """CCNet's actual composition (§4.3 then §4.4): language bucketing
    FIRST, then head/middle/tail thirds WITHIN each language's own
    score distribution — a Hindi page competes with Hindi pages, never
    with English, so low-resource languages are not drowned by the
    dominant language's perplexity range.

    Deployment shape mirrors CCNet itself: Common Crawl is sharded per
    language (a bounded set — CCNet ships 174) and each language's
    shard ranks independently, so the driver loop over the distinct
    language values is the per-shard job submission, not a scale
    hazard; each per-language rank inherits perplexity_buckets' de-
    skewed distributed prefix sum. Returns the union of the
    per-language frames (one row per input row, plus ppl_rank /
    ppl_bucket computed within the row's language)."""
    from .caching import track_caches

    langs = sorted((r[0] for r in df.select(lang_col).distinct().collect()),
                   key=lambda v: (v is None, str(v)))
    out = None
    deps: list[DataFrame] = []
    for lg in langs:
        part = perplexity_buckets(
            df.where(F.col(lang_col).eqNullSafe(F.lit(lg))),
            score_col=score_col, key=key, labels=labels,
            max_partition_rows=max_partition_rows)
        deps.extend(getattr(part, "_cached_deps", ()))
        out = part if out is None else out.unionByName(part)
    if out is None:     # empty input: rank columns on the empty frame
        out = df.withColumn("ppl_rank", F.lit(0).cast("long")) \
            .withColumn("ppl_bucket", F.lit("head")).limit(0)
    return track_caches(out, *deps)


def latest_snapshot(df: DataFrame, key: str = "url",
                    ts_col: str = "warc_ts",
                    payload_cols: list[str] | None = None) -> DataFrame:
    """Collapse recrawls: keep the newest snapshot per URL.

    Common Crawl recrawls popular URLs every dump; training pipelines
    keep one snapshot per URL (usually the newest). max_by is the
    scale-correct operator here: it partial-aggregates map-side (each
    task keeps one candidate per URL), unlike the textbook
    row_number()-over-window plan which shuffles and sorts every
    snapshot of every URL.

    Returns (key, n_crawls, <payload cols from the newest snapshot>).
    Ties on the timestamp are broken by the lexicographically largest
    payload struct — ONE max over a single struct carrying the
    timestamp and every payload column, so the winning row is always a
    single source snapshot (never a per-column mix of tied snapshots);
    real WARC timestamps are unique per capture.
    """
    payload_cols = payload_cols or [
        c for c in df.columns if c not in (key, ts_col)]
    packed = F.max(F.struct(
        F.col(ts_col).alias("_ts"),
        *[F.col(c).alias(c) for c in payload_cols])).alias("_m")
    out = df.groupBy(key).agg(
        F.count_if(F.lit(True)).alias("n_crawls"), packed)
    return out.select(
        key, "n_crawls",
        F.col("_m._ts").alias(ts_col),
        *[F.col(f"_m.{c}").alias(c) for c in payload_cols])
