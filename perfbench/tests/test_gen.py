"""Seeded generators: same seed, same bytes; another seed moves the sets
the output checks depend on."""

import os

import pyarrow.parquet as pq
import pytest

import gen


def _bytes(d):
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            with open(os.path.join(root, f), "rb") as fh:
                out[os.path.relpath(os.path.join(root, f), d)] = fh.read()
    return out


@pytest.mark.parametrize("write", [
    lambda s, d: gen.write_documents(s, 300, d),
    lambda s, d: gen.write_pages(s, 300, d),
    lambda s, d: gen.write_curate(s, 300, d),
])
def test_same_seed_same_bytes(tmp_path, write):
    e1 = write(7, str(tmp_path / "a"))
    e2 = write(7, str(tmp_path / "b"))
    assert e1 == e2
    a, b = _bytes(tmp_path / "a"), _bytes(tmp_path / "b")
    assert a and a == b


def test_documents_follow_the_sf01_table_shape():
    d = gen.documents_frame(1, 4000)
    n_words = d["text"].str.split(" ").str.len()
    assert n_words.between(10, 100).all()
    assert not d["text"].str.contains("\n").any()
    assert set(d["lang"]) == set(gen.DOC_LANGS)
    # n_chars quartiles of the sf0.1 documents table: 176 / 295 / 418
    q = d["n_chars"].quantile([0.25, 0.5, 0.75])
    for got, want in zip(q, (176, 295, 418)):
        assert abs(got - want) / want < 0.1


def test_seed_moves_documents_offset_and_heavy_pages():
    d1, d2 = gen.documents_frame(1, 1000), gen.documents_frame(2, 1000)
    assert d1["doc_id"].min() != d2["doc_id"].min()
    assert list(d1["text"]) != list(d2["text"])
    heavy = lambda d: {i - d["doc_id"].min() for i in d["doc_id"] if i % 250 == 7}
    assert heavy(d1) != heavy(d2)
    table = lambda d: {i - d["doc_id"].min() for i in d["doc_id"] if i % 5 == 0}
    assert table(d1) != table(d2)


def test_seed_moves_mutated_and_committed_pages(tmp_path):
    e1 = gen.write_pages(1, 400, str(tmp_path / "a"))
    e2 = gen.write_pages(2, 400, str(tmp_path / "b"))
    assert e1["mutated_ids"] != e2["mutated_ids"]
    c1 = set(pq.read_table(tmp_path / "a" / "committed.parquet")["url"].to_pylist())
    assert len(c1) == e1["n_committed"] and c1 <= set(e1["urls"])
    assert e1["n_unmutated"] == 400 - len(e1["mutated_ids"])


def test_mutated_pages_differ_from_ground_truth(tmp_path):
    from docling_eval_spark.extraction.boilerplate import extract_main_text

    e = gen.write_pages(3, 200, str(tmp_path))
    pages = pq.read_table(tmp_path / "pages.parquet").to_pandas()
    mutated = set(e["mutated_ids"])
    for doc_id, html, text in zip(pages["doc_id"], pages["html"], pages["text"]):
        same = extract_main_text(html.decode("utf-8"))["text"] == text
        assert same == (doc_id not in mutated)


def _dups_and_pii(frame):
    urls = [u.replace("https://www.", "https://").split("?")[0].rstrip("/")
            for u in frame["url"]]
    dups = {u for u in urls if urls.count(u) > 1}
    pii = [i for i, t in enumerate(frame["text"]) if "@" in t or "+49" in t]
    return dups, pii


def test_seed_moves_duplicates_and_pii():
    f1, x1 = gen.curate_frame(1, 600)
    f2, x2 = gen.curate_frame(2, 600)
    d1, p1 = _dups_and_pii(f1)
    d2, p2 = _dups_and_pii(f2)
    assert len(d1) == x1["n_url_duplicates"] > 0
    assert len(d2) == x2["n_url_duplicates"] > 0
    assert p1 != p2
    assert x1["pii"] != x2["pii"]


def test_pii_count_matches_tokens():
    import re

    frame, expect = gen.curate_frame(4, 600)
    text = "\n".join(frame["text"])
    assert len(re.findall(r"@example\.org", text)) == expect["pii"]["emails"]
    assert len(re.findall(r"\+49\d{10}", text)) == expect["pii"]["phones"]
    assert len(re.findall(r"\b(?:\d{1,3}\.){3}\d{1,3}\b", text)) == expect["pii"]["ips"]
