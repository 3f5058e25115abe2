"""End-to-end CLI test: the reference's five-command lifecycle
(create-gt -> create-eval -> evaluate -> visualize -> consolidate) chained
over a temp workspace (reference model: tests/test_dataset_builder.py
e2e chain with pytest-dependency; here one test function, same flow)."""

from __future__ import annotations

import json
import os


def test_cli_lifecycle(spark, sf_dir, tmp_path):
    # reuse the session fixture's JVM: cli._spark resolves getOrCreate
    from docling_eval_spark import cli

    pages = str(tmp_path / "pages")
    scored = str(tmp_path / "scored")
    lineage = str(tmp_path / "lineage")
    evals = str(tmp_path / "evals")
    viz = str(tmp_path / "viz")
    csv = str(tmp_path / "matrix.csv")

    cli.main(["create-gt", "--from-documents", sf_dir, "--output", pages])
    assert spark.read.parquet(pages).count() == 500

    cli.main(["create-eval", "--input", pages, "--output", scored,
              "--lineage", lineage, "--run-id", "t", "--resume"])
    sdf = spark.read.parquet(scored)
    assert sdf.count() == 500
    assert sdf.where("NOT byte_identical").count() == 0
    assert spark.read.parquet(lineage).count() > 0

    # resume: re-running commits nothing new
    cli.main(["create-eval", "--input", pages, "--output", scored, "--resume"])
    assert spark.read.parquet(scored).count() == 500

    for modality, src in [("markdown", None), ("table", sf_dir),
                          ("reading_order", sf_dir)]:
        argv = ["evaluate", "--modality", modality, "--output-dir", evals]
        argv += ["--input", scored] if src is None else ["--from-documents", src]
        cli.main(argv)
        p = os.path.join(evals, f"evaluation_synthetic_{modality}.json")
        doc = json.loads(open(p).read())
        assert doc["modality"] == modality

    md_eval = os.path.join(evals, "evaluation_synthetic_markdown.json")
    cli.main(["visualize", "--evaluation", md_eval, "--output-dir", viz])
    txt = open(os.path.join(viz, "evaluation_synthetic_markdown.txt")).read()
    assert "mean_bleu" in txt

    cli.main(["consolidate", "--from-documents", sf_dir, "--output", csv])
    lines = open(csv).read().strip().splitlines()
    assert lines[0] == "source,de,en,es,fr,zh"
    assert len(lines) == 21


def test_cli_curate(spark, tmp_path):
    from docling_eval_spark import cli

    l1 = "the quick brown fox jumps over the fence."
    l2 = "a lazy dog sleeps near the old barn today."
    l3 = "it is a warm day for the whole town."
    l4 = "another page shares the first line of text."
    l5 = "but it keeps a second unique line here."
    pii = ("the offer is for the first ten of the callers today so "
           "contact bob@mail.example for the details now and then "
           "tell all of the other people too.")
    rows = [
        (1, "\n".join([l1, l2, l3])),
        (2, "\n".join([l1, l4, l5])),   # l1 duplicates doc 1's copy
        (3, "tiny."),                   # fails the Gopher word-count gate
        (4, pii),
    ]
    inp = str(tmp_path / "docs")
    out = str(tmp_path / "curated")
    summ = str(tmp_path / "summary.json")
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(inp)

    cli.main(["curate", "--input", inp, "--output", out,
              "--min-words", "20", "--summary", summ])

    cur = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert set(cur) == {1, 2, 4}
    assert cur[1].text == "\n".join([l1, l2, l3])
    assert cur[2].text == "\n".join([l4, l5])      # shared line removed
    assert cur[2].n_lines == 3 and cur[2].n_kept == 2
    assert "<EMAIL>" in cur[4].text and "bob@" not in cur[4].text

    s = json.loads(open(summ).read())
    assert s["n_input"] == 4
    assert s["n_after_quality_filters"] == 3
    assert s["n_output"] == 3
    assert s["pii_redacted"]["emails"] == 1
    assert s["lines_seen"] == 7 and s["lines_kept"] == 6


def test_cli_curate_url_dedup_stage(spark, tmp_path):
    """--url-dedup drops canonical-URL duplicates before any quality
    gate and accounts for them in the summary."""
    from docling_eval_spark import cli

    line = "the quick brown fox jumps over the fence today."
    body = "\n".join([line, line.replace("fox", "cat"),
                      line.replace("fox", "owl")])
    rows = [
        (1, "https://www.a.example/p?utm_source=x", body),
        (2, "https://A.example/p/", body),      # same canonical URL
        (3, "https://a.example/q", body.replace("the", "a")),
    ]
    inp = str(tmp_path / "docs")
    out = str(tmp_path / "curated")
    summ = str(tmp_path / "summary.json")
    spark.createDataFrame(rows, ["doc_id", "url", "text"]) \
        .write.parquet(inp)

    cli.main(["curate", "--input", inp, "--output", out,
              "--min-words", "10", "--url-dedup", "--summary", summ])

    cur = spark.read.parquet(out).collect()
    assert {r.doc_id for r in cur} == {1, 3}   # min-key survivor wins
    s = json.loads(open(summ).read())
    assert s["n_url_duplicates_dropped"] == 1
    assert s["n_input"] == 3 and s["n_output"] == 2


def test_cli_curate_applies_c4_line_filter(spark, tmp_path):
    """The C4 stage must adopt text_clean: a line failing the line rules
    (no terminal punctuation) must not survive into the curated output
    even when the page itself passes."""
    from docling_eval_spark import cli

    good = [
        "the quick brown fox jumps over the fence.",
        "a lazy dog sleeps near the old barn today.",
        "it is a warm day for the whole town.",
    ]
    bad = "click here for more"          # no terminal punctuation
    inp = str(tmp_path / "docs")
    out = str(tmp_path / "curated")
    spark.createDataFrame(
        [(1, "\n".join(good[:2] + [bad] + good[2:]))],
        ["doc_id", "text"]).write.parquet(inp)

    cli.main(["curate", "--input", inp, "--output", out,
              "--min-words", "20"])

    cur = spark.read.parquet(out).collect()
    assert len(cur) == 1
    assert cur[0].text == "\n".join(good)
    assert "click here" not in cur[0].text


def test_cli_curate_full_chain(spark, tmp_path):
    """normalize + decontaminate + sample stages of the curate chain."""
    from docling_eval_spark import cli

    l1 = "the quick brown fox jumps over the fence."
    l2 = "a lazy dog sleeps near the old barn today."
    l3 = "it is a warm day for the whole town."
    l4 = "another page shares some words of text here."
    l5 = "but it keeps a second unique line here."
    rows = [
        (1, "\n".join([l1, l2, l3])),
        # doc 2 is doc-1-line-1 with NOISE (double spaces) + own lines:
        # normalization must recover l1 so the line dedup catches it
        (2, "\n".join([l1.replace(" ", "  "), l4, l5])),
    ]
    inp = str(tmp_path / "docs")
    benchp = str(tmp_path / "bench")
    out = str(tmp_path / "curated")
    summ = str(tmp_path / "summary.json")
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(inp)
    # benchmark shares a 5-gram with doc 1's line 2
    spark.createDataFrame(
        [(900, "a lazy dog sleeps near a river")],
        ["doc_id", "text"]).write.parquet(benchp)

    cli.main(["curate", "--input", inp, "--output", out,
              "--min-words", "10", "--normalize",
              "--decontaminate", benchp, "--decontam-n", "5",
              "--summary", summ])

    cur = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    # doc 1 is dropped by decontamination (shares "a lazy dog sleeps
    # near" with the benchmark); doc 2 survives with l1 dedup'd away
    assert set(cur) == {2}
    assert cur[2].text == "\n".join([l4, l5])
    s = json.loads(open(summ).read())
    assert s["normalized_changed"] == 1
    assert s["n_contaminated_dropped"] == 1
    assert "sample_rate" not in s

    # sampling stage: rate 0 keeps nothing, summary records the rate
    out0 = str(tmp_path / "curated0")
    summ0 = str(tmp_path / "summary0.json")
    cli.main(["curate", "--input", inp, "--output", out0,
              "--sample", "0.0", "--summary", summ0])
    s0 = json.loads(open(summ0).read())
    assert s0["n_input"] == 0 and s0["n_output"] == 0
    assert s0["sample_rate"] == 0.0


def _python_runs(spark, execution_ids):
    """(execution id, operator) for every Python operator that sent rows
    to a Python worker in the given SQL executions. A cached subplan is
    listed in the plan of every execution that reads the cache, but only
    the execution that fills the cache runs it."""
    store = spark._jsparkSession.sharedState().statusStore()
    runs = []
    for i in execution_ids:
        nodes = store.planGraph(i).allNodes()
        values = store.executionMetrics(i)
        for k in range(nodes.size()):
            node = nodes.apply(k)
            metrics = node.metrics()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                sent = values.get(m.accumulatorId())
                if m.name() == "data sent to Python workers" \
                        and sent.isDefined() and sent.get() != "0.0 B":
                    runs.append((i, node.name()))
    return runs


def _sql_executions(spark):
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    return {execs.apply(i).executionId() for i in range(execs.size())}


def test_cli_curate_every_stage_one_pass(spark, tmp_path):
    """Every curate stage on, the whole summary checked against counts
    worked out by hand for the fixture, and the run's SQL executions
    counted: the line dedup's two cache fills plus the output write.
    Each Python operator (normalize, the robots.txt compiler, lang-id)
    runs once, in the execution that fills the filtered-rows cache."""
    from docling_eval_spark import cli

    l1 = "the quick brown fox jumps over the fence."
    l2 = "a lazy dog sleeps near the old barn today."
    l3 = "it is a warm day for the whole town."
    l4 = "another page shares the first line of text."
    l5 = "but it keeps a second unique line here."
    no_stop = "click here to read more about the offer"  # C4 drops it
    rows = [
        (1, "https://a.example/p1", "\n".join([l1, l2, l3])),
        # canonical url of doc 1: dropped by the url dedup
        (2, "https://www.a.example/p1/?utm_source=x", "\n".join([l4, l5])),
        # disallowed by b.example's robots.txt
        (3, "https://b.example/private/x", "\n".join([l4, l5])),
        # German: dropped by --lang-keep en
        (4, "https://c.example/4", "\n".join([
            "der Hund schläft neben der alten Scheune und dem Haus.",
            "es ist ein warmer Tag für die ganze Stadt und das Dorf.",
            "die Kinder gehen am Morgen mit dem Lehrer in die Schule."])),
        # 4 words: fails the Gopher word count
        (5, "https://c.example/5", "the fox is here."),
        # keeps two lines after the C4 line filter
        (6, "https://c.example/6", "\n".join([l4, no_stop, l5])),
        # one email, one IPv4 address and one phone number
        (7, "https://c.example/7", "\n".join([
            "the children walk to the school in the morning.",
            "for the report write to bob@mail.example or to 10.1.2.3 now.",
            "you can also call the desk at +4915123456789 today."])),
        # normalize repairs the spacing, then the line dedup drops l1
        (8, "https://c.example/8", "\n".join([
            l1.replace(" ", "  "),
            "they will meet at the station after the game."])),
        # shares the 5-gram "we sold all of the" with the benchmark
        (9, "https://c.example/9", "\n".join([
            "we sold all of the apples at the market yesterday.",
            "the old man and the sea is a fine book to read."])),
        # every line seen earlier: no line kept, so not written
        (10, "https://c.example/10", "\n".join([l2, l3])),
        # no line ends in punctuation: C4 drops the page
        (11, "https://c.example/11", "\n".join([
            no_stop, "sign up now to get all of the news from us"])),
    ]
    inp = str(tmp_path / "docs")
    robots = str(tmp_path / "robots")
    benchp = str(tmp_path / "bench")
    out = str(tmp_path / "curated")
    summ = str(tmp_path / "summary.json")
    spark.createDataFrame(rows, ["doc_id", "url", "text"]).write.parquet(inp)
    spark.createDataFrame(
        [("b.example", "User-agent: *\nDisallow: /private\n")],
        ["domain", "robots_txt"]).write.parquet(robots)
    spark.createDataFrame(
        [(900, "we sold all of the pears at a fair")],
        ["doc_id", "text"]).write.parquet(benchp)

    before = _sql_executions(spark)
    cli.main(["curate", "--input", inp, "--output", out,
              "--min-words", "10", "--url-dedup", "--robots-txt", robots,
              "--normalize", "--lang-id", "--lang-keep", "en",
              "--decontaminate", benchp, "--decontam-n", "5",
              "--summary", summ])
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    executions = sorted(_sql_executions(spark) - before)

    assert json.loads(open(summ).read()) == {
        "n_input": 11,
        "n_after_quality_filters": 6,      # docs 1, 6, 7, 8, 9, 10
        "n_output": 4,                     # docs 1, 6, 7, 8
        "pii_redacted": {"emails": 1, "ips": 1, "phones": 1},
        "lines_seen": 3 + 2 + 3 + 2,
        "lines_kept": 3 + 2 + 3 + 1,
        "n_url_duplicates_dropped": 1,
        "n_robots_disallowed_dropped": 1,
        "n_lang_dropped": 1,
        "normalized_changed": 1,
        "n_contaminated_dropped": 1,
    }
    cur = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert set(cur) == {1, 6, 7, 8}
    assert cur[6].text == "\n".join([l4, l5])
    assert cur[8].text == "they will meet at the station after the game."

    assert len(executions) == 3
    runs = _python_runs(spark, executions)
    assert sorted(op for _, op in runs) == \
        ["ArrowEvalPython", "MapInPandas", "MapInPandas"]
    assert {i for i, _ in runs} == {executions[0]}


def test_cli_curate_keeps_other_caches(spark, tmp_path):
    """curate releases what it persisted and nothing else: a DataFrame
    another caller cached in the same session stays cached."""
    from pyspark import StorageLevel

    from docling_eval_spark import cli

    other = spark.range(10).persist()
    other.count()
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    inp = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "the quick brown fox jumps over the fence.")],
        ["doc_id", "text"]).write.parquet(inp)
    try:
        cli.main(["curate", "--input", inp,
                  "--output", str(tmp_path / "curated"), "--min-words", "5"])
        assert other.storageLevel != StorageLevel.NONE
        assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted
    finally:
        other.unpersist()


def test_cli_pack_manifest(spark, tmp_path):
    from docling_eval_spark import cli

    rows = [(i, " ".join(["w"] * (5 + i % 4))) for i in range(40)]
    inp = str(tmp_path / "docs")
    out = str(tmp_path / "manifest")
    summ = str(tmp_path / "pack.json")
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(inp)

    cli.main(["pack", "--input", inp, "--output", out,
              "--ctx", "16", "--seed", "3", "--summary", summ])

    man = spark.read.parquet(out).collect()
    total = sum(5 + i % 4 for i in range(40))
    # shuffle_pos is a dense permutation and the packed stream is
    # contiguous in shuffled order
    by_pos = sorted(man, key=lambda r: r.shuffle_pos)
    assert [r.shuffle_pos for r in by_pos] == list(range(40))
    cum = 0
    for r in by_pos:
        assert r.tok_start == cum
        assert r.seq_first == cum // 16
        assert r.seq_last == (cum + r.n_tokens - 1) // 16
        cum += r.n_tokens
    assert cum == total

    s = json.loads(open(summ).read())
    assert s["n_docs"] == 40 and s["n_tokens"] == total
    assert s["n_sequences"] == (total + 15) // 16 and s["seed"] == 3

    # a different seed permutes documents but not the token budget
    out2 = str(tmp_path / "manifest2")
    cli.main(["pack", "--input", inp, "--output", out2,
              "--ctx", "16", "--seed", "4"])
    man2 = spark.read.parquet(out2).collect()
    assert {r.doc_id: r.shuffle_pos for r in man2} != \
        {r.doc_id: r.shuffle_pos for r in man}
    assert sum(r.n_tokens for r in man2) == total


def test_cli_pack_single_sequence(spark, tmp_path):
    """A corpus that fits one context window packs into one sequence."""
    from docling_eval_spark import cli

    inp = str(tmp_path / "docs")
    summ = str(tmp_path / "pack.json")
    spark.createDataFrame([(1, "a b c"), (2, "d e")],
                          ["doc_id", "text"]).write.parquet(inp)

    cli.main(["pack", "--input", inp, "--output", str(tmp_path / "manifest"),
              "--ctx", "16", "--summary", summ])

    s = json.loads(open(summ).read())
    assert s["n_docs"] == 2 and s["n_tokens"] == 5
    assert s["n_sequences"] == 1
