"""Seeded input generators for the four benchmark workloads.

Every table is a pure function of (seed, size): the same seed writes
byte-identical parquet files, and a different seed moves the texts, the
doc_id offset (which moves the heavy, table and article pages that
``corpus.html_synth`` derives from doc_id), the mutated pages, the
committed share, and where duplicate urls and PII tokens land.

Besides the tables each generator returns the facts the output checks
need (``expect``), computed here from the generator's own choices and
never from program output.
"""

from __future__ import annotations

import os
import random

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# The documents table copies the shape of the sf0.1 documents.parquet
# test table (5,000 rows), the corpus ROADMAP's flagship figures were
# measured on: one paragraph of 10-100 words drawn uniformly (sf0.1 word
# count quartiles 32/54/76; n_chars quartiles 176/295/418, mean 297),
# words drawn from the same 30-word vocabulary, one doc in 20 ending in
# the near-duplicate marker "dup", and langs en 41%, es/fr/zh 15% and de
# 14%. Heavy (1/250) and table (1/5) pages follow from doc_id inside
# ``corpus.html_synth``, as they do for sf0.1.
VOCAB = ("small join filter order key stream line query value big window "
         "table spark data customer scan vector slow fast group column row "
         "hash merge sort batch agg part a the").split()
DOC_LANGS = ("en", "es", "fr", "zh", "de")
LANG_WEIGHTS = (0.41, 0.15, 0.15, 0.15, 0.14)
DUP_SHARE = 0.05

# The resume job's traffic. Neither share is measured from a real crawl;
# both set what the workload exercises. The mutated share is the part of
# the pages whose extraction differs from the ground truth, so it is the
# share of pairs on the slow scoring path (edit-distance DP plus CER,
# about 5 ms a pair against 0.03 ms on the identity fast path). At 0.2
# scoring takes about two thirds of the job's profiled Python time and
# extraction most of the rest, so this workload weighs the scoring layer
# that flagship_synth skips. The committed share is how far an
# interrupted earlier run got; at 0.3 both sides of the resume anti-join
# are large and 70% of the pages are still new work.
MUTATED_SHARE = 0.2
COMMITTED_SHARE = 0.3


def _rng(seed: int, salt: str) -> random.Random:
    return random.Random(f"{seed}:{salt}")


def _write(df: pd.DataFrame, path: str, schema: pa.Schema | None = None) -> None:
    """One parquet file, no pandas metadata and no wall-clock fields, so
    equal frames give equal bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    table = table.replace_schema_metadata(None)
    pq.write_table(table, path, compression="zstd")


def documents_frame(seed: int, n_docs: int) -> pd.DataFrame:
    """(doc_id, text, lang, source, n_chars), the documents.parquet schema,
    with the sf0.1 table's shape (see ``VOCAB``)."""
    rng = _rng(seed, "documents")
    offset = rng.randrange(1_000_000)
    rows = []
    for i in range(n_docs):
        words = [rng.choice(VOCAB) for _ in range(rng.randint(10, 100))]
        if rng.random() < DUP_SHARE:
            words[-1] = "dup"
        text = " ".join(words)
        lang = rng.choices(DOC_LANGS, LANG_WEIGHTS)[0]
        rows.append((offset + i, text, lang, f"src{(offset + i) % 20}",
                     len(text)))
    return pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source",
                                       "n_chars"])


def write_documents(seed: int, n_docs: int, out_dir: str) -> dict:
    """``<out_dir>/documents.parquet`` for flagship and eval workloads."""
    docs = documents_frame(seed, n_docs)
    _write(docs, os.path.join(out_dir, "documents.parquet"))
    return {"n_docs": n_docs,
            "n_tables": int((docs["doc_id"] % 5 == 0).sum())}


def mutate(text: str, rng: random.Random) -> str:
    """A different text the extractor still reproduces losslessly: one
    word is replaced and one more word is appended (neither is in
    ``VOCAB``)."""
    words = text.split(" ")
    words[rng.randrange(len(words))] = "mutated"
    return " ".join(words) + " edited"


PAGES_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("url", pa.string()),
    ("warc_ts", pa.timestamp("us")), ("html", pa.binary()),
    ("text", pa.string()), ("lang", pa.string()),
])


def write_pages(seed: int, n_pages: int, out_dir: str) -> dict:
    """Pages tables for the resumable extraction job.

    ``pages.parquet`` holds every page; a seeded ``MUTATED_SHARE`` of the
    pages has html synthesized from a mutated text while ``text`` keeps
    the original, so their extraction differs from the ground truth.
    ``committed.parquet`` is the seeded ``COMMITTED_SHARE`` of the same
    rows: the benchmark runs the job on it once during set-up to get the
    output a crashed earlier run would have left behind.
    """
    from docling_eval_spark.corpus.html_synth import (
        synth_html, url_for, warc_ts_for)

    docs = documents_frame(seed, n_pages)
    rng = _rng(seed, "pages")
    mutated = set(rng.sample(range(n_pages), int(n_pages * MUTATED_SHARE)))
    committed = set(rng.sample(range(n_pages), int(n_pages * COMMITTED_SHARE)))
    rows = []
    for i, (doc_id, text, lang) in enumerate(
            zip(docs["doc_id"], docs["text"], docs["lang"])):
        doc_id = int(doc_id)
        shown = mutate(text, rng) if i in mutated else text
        ts = warc_ts_for(doc_id)
        rows.append((doc_id, url_for(doc_id), ts,
                     synth_html(doc_id, shown, lang), text, lang))
    pages = pd.DataFrame(rows, columns=PAGES_SCHEMA.names)
    _write(pages, os.path.join(out_dir, "pages.parquet"), PAGES_SCHEMA)
    _write(pages.iloc[sorted(committed)],
           os.path.join(out_dir, "committed.parquet"), PAGES_SCHEMA)
    ids = pages["doc_id"]
    return {
        "n_pages": n_pages,
        "n_committed": len(committed),
        "n_new": n_pages - len(committed),
        "n_unmutated": n_pages - len(mutated),
        "urls": sorted(pages["url"]),
        "mutated_ids": sorted(int(ids.iloc[i]) for i in mutated),
    }


# curation corpus ----------------------------------------------------------

CONTENT_WORDS = ("pipeline dataset evaluation document extraction "
                 "benchmark corpus quality layout network"
                 " archive system").split()
KEEP_LANGS = ("en", "de", "fr")
OTHER_LANGS = ("es", "it", "nl", "sv", "pt", "pl")
BOILER_LINES = (
    "Subscribe to the newsletter for all the latest updates on this site.",
    "All rights reserved and the content is protected by the site terms.",
    "Share this article with your friends and family on the network.",
)


def _sentence(rng: random.Random, lang: str) -> str:
    from docling_eval_spark.functions.langid import LANG_WORDS

    fw = LANG_WORDS[lang]
    words = [rng.choice(fw) if rng.random() < 0.6 else rng.choice(CONTENT_WORDS)
             for _ in range(rng.randint(8, 14))]
    return " ".join(words) + "."


def _pii_line(rng: random.Random, kind: str) -> str:
    user = "".join(rng.choice("abcdefghij") for _ in range(6))
    if kind == "email":
        tok = f"{user}.{rng.choice(('news', 'desk'))}@example.org"
    elif kind == "ip":
        tok = ".".join(str(rng.randint(1, 254)) for _ in range(4))
    else:
        tok = "+49" + "".join(rng.choice("0123456789") for _ in range(10))
    return f"for the report write to {tok} and the team will answer it."


def curate_frame(seed: int, n_docs: int) -> tuple[pd.DataFrame, dict]:
    """(doc_id, url, text) with seeded duplicate urls, repeated boilerplate
    lines, PII tokens, short and symbol-heavy pages and a language mix.

    PII goes only into pages built to survive every curation stage before
    the redaction: English, url-unique, long enough, stopword-bearing and
    with every line ending in terminal punctuation. Nothing else in the
    corpus contains a digit or an '@', so the seeded counts are exact.
    """
    rng = _rng(seed, "curate")
    offset = rng.randrange(1_000_000)
    rows, pii = [], {"emails": 0, "ips": 0, "phones": 0}
    kinds = {"email": "emails", "ip": "ips", "phone": "phones"}
    plain_ids = []
    for i in range(n_docs):
        doc_id = offset + i
        r = rng.random()
        if r < 0.05:          # too short for the Gopher word-count rule
            lines = [" ".join(rng.choice(CONTENT_WORDS) for _ in range(6)) + "."]
        elif r < 0.08:        # symbol-heavy page
            lines = [" ".join(f"#{rng.choice(CONTENT_WORDS)}" for _ in range(30))]
        else:
            lang = "en" if r < 0.6 else rng.choice(KEEP_LANGS[1:] + OTHER_LANGS)
            lines = [_sentence(rng, lang) for _ in range(rng.randint(3, 7))]
            if rng.random() < 0.3:
                lines.insert(rng.randrange(len(lines) + 1),
                             rng.choice(BOILER_LINES))
            if lang == "en" and rng.random() < 0.25:
                for kind in rng.sample(sorted(kinds), rng.randint(1, 3)):
                    lines.insert(rng.randrange(len(lines) + 1),
                                 _pii_line(rng, kind))
                    pii[kinds[kind]] += 1
            else:
                plain_ids.append(i)
            if rng.random() < 0.1:   # whitespace noise for normalize
                lines[0] = lines[0].replace(" ", "   ", 1)
        url = (f"https://site{rng.randrange(300):03d}.example/"
               f"{rng.choice(CONTENT_WORDS)}/{doc_id}")
        rows.append([doc_id, url, "\n".join(lines)])
    # duplicates copy the url of an earlier PII-free page, written in a
    # form the url canonicalizer maps back to the original
    variants = (lambda u: u, lambda u: u + "/", lambda u: u + "?utm_source=feed",
                lambda u: u.replace("https://", "https://www."))
    dup_rows = set()
    for i in sorted(rng.sample(range(len(plain_ids)), len(plain_ids) // 10)):
        src, dst = plain_ids[i], plain_ids[i] + 1
        if i + 1 < len(plain_ids) and plain_ids[i + 1] == dst \
                and src not in dup_rows and dst not in dup_rows:
            rows[dst][1] = rng.choice(variants)(rows[src][1])
            dup_rows.update((src, dst))
    frame = pd.DataFrame(rows, columns=["doc_id", "url", "text"])
    return frame, {"n_docs": n_docs, "n_url_duplicates": len(dup_rows) // 2,
                   "pii": pii}


def write_curate(seed: int, n_docs: int, out_dir: str) -> dict:
    frame, expect = curate_frame(seed, n_docs)
    _write(frame, os.path.join(out_dir, "texts.parquet"))
    return expect
