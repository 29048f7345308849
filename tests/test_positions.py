"""Positional postings (Lucene .pos analog): encode in the fused tokenize
kernel, carry through salted segments, answer phrase queries over the
physical index rank-identically to the scan-side twin
(``bm25_topk_sql_plan(phrase=...)``)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from marc_solr_profiling_spark.corpus import generate_web_pages
from marc_solr_profiling_spark.operators.bm25 import bm25_topk_sql_plan
from marc_solr_profiling_spark.operators.phrase import phrase_topk
from marc_solr_profiling_spark.operators.postings import tokenize_and_count
from marc_solr_profiling_spark.operators.segments import (
    decode_block_positions,
)
from marc_solr_profiling_spark.operators.varbyte import varbyte_decode
from marc_solr_profiling_spark.plans.build import build_index

N_DOCS = 150


def test_tokenize_positions_roundtrip(spark):
    docs = spark.createDataFrame(
        [(0, "b a b a b"), (1, "x"), (2, "")], ["doc_id", "text"]
    )
    out = tokenize_and_count(
        docs, key_col="doc_id", text_col="text", chain="simple",
        positions=True,
    ).collect()
    got = {}
    for r in out:
        if r["term"] is None:
            continue
        gaps = varbyte_decode(r["pos"]).astype(np.int64)
        got[(r["doc_id"], r["term"])] = np.cumsum(gaps).tolist()
    assert got[(0, "b")] == [1, 3, 5]
    assert got[(0, "a")] == [2, 4]
    assert got[(1, "x")] == [1]
    # tf agrees with the number of positions
    tf = {(r["doc_id"], r["term"]): r["tf"] for r in out if r["term"]}
    assert tf[(0, "b")] == 3 and tf[(0, "a")] == 2


def test_decode_block_positions_segmented():
    # three postings with tfs 3, 1, 2; absolute positions per posting
    from marc_solr_profiling_spark.operators.varbyte import (
        delta_gaps_blocked, varbyte_encode,
    )

    flat = np.array([5, 9, 12, 7, 2, 50], dtype=np.uint64)
    starts = np.array([0, 3, 4])
    gaps = delta_gaps_blocked(flat, starts)
    buf = varbyte_encode(gaps)
    dec_flat, dec_starts = decode_block_positions(buf, np.array([3, 1, 2]))
    assert dec_flat.tolist() == [5, 9, 12, 7, 2, 50]
    assert dec_starts.tolist() == [0, 3, 4]


@pytest.fixture(scope="module")
def pages(spark):
    df = generate_web_pages(spark, N_DOCS, seed=7, partitions=4).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def pos_index(spark, pages, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pidx") / "index")
    return build_index(
        spark, pages, path, n_salts=4, block_size=16, chain="text",
        positions=True,
    )


def _common_bigram(spark, pages):
    """A bigram that actually occurs in several docs, found from the data."""
    toks = pages.select(
        "url", F.expr(
            "filter(split(lower(text), '[^a-z0-9]+'), t -> t != '')"
        ).alias("t")
    ).filter(F.size("t") >= 2)
    big = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> concat(element_at(t, CAST(i AS INT)), ' ',"
                " element_at(t, CAST(i + 1 AS INT))))"
            )
        ).alias("bg"),
        "url",
    )
    top = (
        big.groupBy("bg").agg(F.countDistinct("url").alias("df"))
        .filter((F.col("df") >= 3) & (F.col("df") < N_DOCS // 2))
        .orderBy(F.desc("df")).limit(1).collect()
    )
    assert top, "corpus has no repeated bigram"
    return top[0]["bg"]


def test_phrase_topk_matches_scan_plan(spark, pages, pos_index):
    phrase = _common_bigram(spark, pages)
    docs = pos_index.docs.join(pages.select("url", "text"), "url")
    got = [
        (r["doc_id"], r["score"])
        for r in phrase_topk(pos_index, phrase, k=10, round_to=4).collect()
    ]
    want = [
        (r["doc_id"], r["score"])
        for r in bm25_topk_sql_plan(
            docs, phrase, key_col="doc_id", k=10, chain="text",
            round_to=4, phrase=phrase,
        ).collect()
    ]
    assert [g[0] for g in got] == [w[0] for w in want]
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gs == pytest.approx(ws, abs=2e-4)


def test_phrase_topk_absent_term_empty(pos_index):
    assert phrase_topk(pos_index, "zzzqqqxxx linux", k=5).count() == 0


def test_phrase_topk_requires_positions(spark, pages, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("npidx") / "index")
    idx = build_index(spark, pages, path, n_salts=2, block_size=32,
                      chain="text")
    with pytest.raises(ValueError):
        phrase_topk(idx, "linux kernel")


def test_incremental_update_keeps_positions(spark, pages, pos_index,
                                            tmp_path_factory):
    """A delta applied to a positional base index re-tokenizes ONLY the
    delta (with positions) and the merged index still answers phrase
    queries over old AND new docs."""
    from marc_solr_profiling_spark.plans.build import incremental_update

    new_docs = spark.createDataFrame(
        [(100000, "https://zz.example/new", "alpha bravo charlie alpha bravo")],
        ["doc_id", "url", "text"],
    )
    out_path = str(tmp_path_factory.mktemp("incr_pos") / "index")
    merged = incremental_update(
        spark, pos_index, out_path,
        delta_docs=new_docs.select(
            "doc_id", "url", F.col("text").alias("text")
        ),
        n_salts=4, block_size=16,
    )
    assert merged.has_positions
    got = phrase_topk(merged, "alpha bravo", k=5).collect()
    assert [r["doc_id"] for r in got] == [100000]
    # old docs still phrase-searchable, rank-identical to the scan plan
    # over the MERGED corpus (stats shift with the delta, so comparing
    # against the base index's result would race rounded-score ties)
    phrase = _common_bigram(spark, pages)
    all_docs = pages.select("url", "text").unionByName(
        new_docs.select("url", "text")
    )
    docs_scan = merged.docs.join(all_docs, "url")
    want = [
        (r["doc_id"], r["score"])
        for r in bm25_topk_sql_plan(
            docs_scan, phrase, key_col="doc_id", k=10, chain="text",
            round_to=4, phrase=phrase,
        ).collect()
    ]
    after = [
        (r["doc_id"], r["score"])
        for r in phrase_topk(merged, phrase, k=10, round_to=4).collect()
    ]
    assert [a[0] for a in after] == [w[0] for w in want]
    for (gd, gs), (wd, ws) in zip(after, want):
        assert gs == pytest.approx(ws, abs=2e-4)


def test_phrase_topk_slop_physical(spark, tmp_path_factory):
    docs = spark.createDataFrame(
        [
            ("u0", "alpha gap bravo end"),
            ("u1", "alpha bravo end pad"),
            ("u2", "bravo alpha end pad"),
            ("u3", "alpha gap gap bravo"),
        ],
        ["url", "text"],
    )
    path = str(tmp_path_factory.mktemp("slopidx") / "index")
    idx = build_index(spark, docs, path, n_salts=2, block_size=4,
                      chain="simple", positions=True)
    url_by_id = {r["doc_id"]: r["url"] for r in idx.docs.collect()}

    def urls(slop):
        got = phrase_topk(idx, "alpha bravo", k=10, slop=slop).collect()
        return sorted(url_by_id[r["doc_id"]] for r in got)

    assert urls(0) == ["u1"]
    assert urls(1) == ["u0", "u1"]
    assert urls(2) == ["u0", "u1", "u3"]


def test_phrase_duplicate_terms(spark, tmp_path_factory):
    docs = spark.createDataFrame(
        [
            ("u0", "stop stop go"),
            ("u1", "stop go stop"),
            ("u2", "go stop go stop"),
        ],
        ["url", "text"],
    )
    path = str(tmp_path_factory.mktemp("dupidx") / "index")
    idx = build_index(spark, docs, path, n_salts=2, block_size=4,
                      chain="simple", positions=True)
    got = sorted(
        r["doc_id"] for r in phrase_topk(idx, "stop stop", k=10).collect()
    )
    # only u0 has two ADJACENT 'stop' tokens
    url_by_id = {r["doc_id"]: r["url"] for r in idx.docs.collect()}
    assert [url_by_id[d] for d in got] == ["u0"]


def test_phrase_topk_with_url_on_urlless_index(spark, tmp_path_factory):
    """``with_url=True`` over an index keyed on ``doc_id`` (its docs stage
    has no url column) returns the plain top-k, as ``wand_topk`` does,
    instead of failing to resolve ``url``; an index with urls gets them."""
    rows = [(0, "alpha bravo end"), (1, "alpha gap bravo"),
            (2, "x alpha bravo")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path_factory.mktemp("nourl") / "index")
    idx = build_index(spark, docs, path, key_col="doc_id", id_col="doc_id",
                      n_salts=2, block_size=4, chain="simple",
                      positions=True)
    assert "url" not in idx.docs.columns
    got = phrase_topk(idx, "alpha bravo", k=10, with_url=True)
    assert got.columns == ["doc_id", "score"]
    assert sorted(r["doc_id"] for r in got.collect()) == [0, 2]

    udocs = spark.createDataFrame(
        [(f"u{i}", t) for i, t in rows], "url string, text string")
    upath = str(tmp_path_factory.mktemp("withurl") / "index")
    uidx = build_index(spark, udocs, upath, n_salts=2, block_size=4,
                       chain="simple", positions=True)
    got = phrase_topk(uidx, "alpha bravo", k=10, with_url=True).collect()
    assert sorted(r["url"] for r in got) == ["u0", "u2"]
