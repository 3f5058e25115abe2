"""The four workloads: inputs, the timed job through a public entry point,
and the output check fed by facts the generator knows.

Each workload writes its inputs in ``prepare`` (untimed), runs a
``warmup`` job during set-up (by default the timed job itself, so the
JIT and the Python workers have seen the real input sizes before timing
starts), does untimed per-job preparation in
``before_job``, runs ``job`` (the timed call) and checks its result in
``check``, which returns (ok, digest, problems). A job that writes its
output returns where it wrote it, so the check's read-back is not timed.
The digest is order-independent over output rows and must not change
between jobs of one run.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import pandas as pd
import pyarrow.parquet as pq

import gen


def row_digest(rows) -> str:
    """Order-independent digest: sha256 over the sorted row hashes."""
    hashes = sorted(hashlib.sha256(json.dumps(r, sort_keys=True, default=str)
                                   .encode()).hexdigest() for r in rows)
    return hashlib.sha256("".join(hashes).encode()).hexdigest()[:16]


def _parquet_rows(path: str) -> list[dict]:
    return pq.read_table(path).to_pylist()


class Workload:
    name = ""
    n_docs = 0          # documents one job completes

    def __init__(self, work_dir: str, seed: int):
        self.dir = work_dir
        self.seed = seed
        self.expect: dict = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def prepare(self) -> None: ...

    def warmup(self, spark) -> object:
        return self.job(spark)

    def before_job(self) -> None: ...

    def job(self, spark) -> object: ...

    def check(self, result) -> tuple[bool, str, list[str]]: ...

    def kernel_inputs(self) -> tuple[pd.DataFrame, list[bytes] | None]: ...


class FlagshipSynth(Workload):
    """documents -> fused synth+extract+score -> one rollup row."""
    name = "flagship_synth"
    # the size of the sf0.1 documents table
    n_docs = 5000

    def prepare(self):
        self.expect = gen.write_documents(self.seed, self.n_docs, self.path("docs"))

    def job(self, spark):
        from docling_eval_spark.plans.pipeline import flagship, flagship_rollup

        rollup = flagship_rollup(flagship(spark, self.path("docs")))
        return [r.asDict() for r in rollup.collect()]

    def check(self, result):
        n = self.expect["n_docs"]
        row = result[0]
        problems = [f"{k}={row[k]} expected {n}"
                    for k in ("n_docs", "n_byte_identical") if row[k] != n]
        return not problems, row_digest(result), problems

    def kernel_inputs(self):
        return pq.read_table(self.path("docs", "documents.parquet")).to_pandas(), None


class ExtractJobResume(Workload):
    """The production job resuming over a partly committed output."""
    name = "extract_job_resume"
    # 1,050 new pages a job: 3-4 s on 4 cores
    n_pages = 1500

    def prepare(self):
        self.expect = gen.write_pages(self.seed, self.n_pages, self.path("in"))
        self.n_docs = self.expect["n_new"]
        self.runs = 0

    def _main(self, pages: str, out: str, lineage: str, run_id: str):
        from jobs.extract_job import main

        main(["--input", pages, "--output", out, "--lineage", lineage,
              "--checkpoint-resume", "--run-id", run_id], stop_session=False)

    def warmup(self, spark):
        # the first set-up runs a fresh job over the committed share: what an
        # interrupted earlier run left behind, the start state of every
        # later job; every set-up then runs the timed job itself
        if not os.path.exists(self.path("committed_out")):
            self._main(self.path("in", "committed.parquet"),
                       self.path("committed_out"),
                       self.path("committed_lineage"), "committed")
        self.before_job()
        return self.job(spark)

    def before_job(self):
        for d in ("out", "lineage"):
            shutil.rmtree(self.path(d), ignore_errors=True)
            shutil.copytree(self.path(f"committed_{d}"), self.path(d))

    def job(self, spark):
        self.runs += 1
        self._main(self.path("in", "pages.parquet"), self.path("out"),
                   self.path("lineage"), f"resume-{self.runs}")
        return self.path("out")

    def check(self, result):
        rows = _parquet_rows(result)
        urls = [r["url"] for r in rows]
        n_ok = sum(1 for r in rows if r["byte_identical"])
        problems = []
        if len(set(urls)) != len(urls):
            problems.append(f"{len(urls) - len(set(urls))} duplicate urls")
        if sorted(set(urls)) != self.expect["urls"]:
            problems.append("committed urls differ from the page set")
        if n_ok != self.expect["n_unmutated"]:
            problems.append(f"n_byte_identical={n_ok} expected "
                            f"{self.expect['n_unmutated']}")
        return not problems, row_digest(rows), problems

    def kernel_inputs(self):
        pages = pq.read_table(self.path("in", "pages.parquet")).to_pandas()
        return pages[["doc_id", "text", "lang"]], list(pages["html"])


class CurateChain(Workload):
    """``curate`` with url dedup, normalization and language filtering."""
    name = "curate_chain"
    n_docs = 300

    def prepare(self):
        self.expect = gen.write_curate(self.seed, self.n_docs, self.path("in"))

    def job(self, spark):
        from docling_eval_spark.cli import main

        summary = self.path("summary.json")
        main(["curate", "--input", self.path("in", "texts.parquet"),
              "--output", self.path("out"),
              "--url-dedup", "--normalize", "--lang-id",
              "--lang-keep", ",".join(gen.KEEP_LANGS), "--summary", summary])
        return summary, self.path("out")

    def check(self, result):
        summary, out = result
        with open(summary) as f:
            s = json.load(f)
        rows = _parquet_rows(out)
        expect = self.expect
        problems = []
        if s["n_input"] != expect["n_docs"]:
            problems.append(f"n_input={s['n_input']} expected {expect['n_docs']}")
        if s["n_url_duplicates_dropped"] != expect["n_url_duplicates"]:
            problems.append(f"n_url_duplicates_dropped={s['n_url_duplicates_dropped']}"
                            f" expected {expect['n_url_duplicates']}")
        if s["pii_redacted"] != expect["pii"]:
            problems.append(f"pii_redacted={s['pii_redacted']} expected {expect['pii']}")
        if s["n_output"] != len(rows) or not rows:
            problems.append(f"n_output={s['n_output']} but {len(rows)} rows")
        return not problems, row_digest(rows + [s]), problems

    def kernel_inputs(self):
        texts = pq.read_table(self.path("in", "texts.parquet")).to_pandas()
        texts["lang"] = "en"
        # the fused extractor's text contract: paragraphs split on blank lines
        texts["text"] = texts["text"].str.replace("\n", "\n\n")
        return texts[["doc_id", "text", "lang"]], None


class EvalSuite(Workload):
    """docling-eval's scoring suite: table, layout, reading order, OCR."""
    name = "eval_suite"
    n_docs = 500
    MODALITIES = ("table", "layout", "reading_order", "ocr")

    def prepare(self):
        self.expect = gen.write_documents(self.seed, self.n_docs, self.path("docs"))

    def job(self, spark):
        from docling_eval_spark.plans.multi_eval import evaluate_modality

        return {m: evaluate_modality(spark, m, from_documents=self.path("docs"))
                for m in self.MODALITIES}

    def check(self, result):
        expect = self.expect
        n = expect["n_docs"]
        got = {"table": result["table"]["total"],
               "layout": result["layout"]["total"],
               "reading_order": result["reading_order"]["total"],
               "ocr": result["ocr"]["total"]}
        want = {"table": expect["n_tables"], "layout": n,
                "reading_order": n, "ocr": n}
        problems = [f"{m} total={got[m]} expected {want[m]}"
                    for m in want if got[m] != want[m]]
        # every synthesized table is extracted losslessly
        if result["table"]["teds_mean"] != 1.0:
            problems.append(f"teds_mean={result['table']['teds_mean']}")
        return not problems, row_digest([result]), problems

    def kernel_inputs(self):
        return pq.read_table(self.path("docs", "documents.parquet")).to_pandas(), None


WORKLOADS = {w.name: w for w in (FlagshipSynth, ExtractJobResume,
                                 CurateChain, EvalSuite)}
