"""Multi-field PHYSICAL index (plans/multifield.py) + block-max dismax
(operators/wand.py wand_topk(qf=...)) — the edismax qf/tie default handler
(profiling/solr/conf/solrconfig.xml:64-83) through the salted varbyte
segment machinery. Gate: value-identical to the scan-side dismax plan
(bm25_dismax_topk_plan), which is itself oracle-green."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from marc_solr_profiling_spark.corpus import generate_query_set, generate_web_pages
from marc_solr_profiling_spark.operators.bm25 import bm25_dismax_topk_plan
from marc_solr_profiling_spark.operators.wand import wand_topk
from marc_solr_profiling_spark.plans.multifield import build_multifield_index

N_DOCS = 200
TITLE_TOKENS = 6
QF = {"title": 2.0, "body": 1.0}


@pytest.fixture(scope="module")
def pages(spark):
    df = generate_web_pages(spark, N_DOCS, seed=7, partitions=4)
    # dense long ids so the packed build can key on them directly
    df = df.select(
        F.xxhash64("url").alias("doc_id"), "text"
    ).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def mf_index(spark, pages, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("mfidx") / "index")
    return build_multifield_index(
        spark, pages, path,
        fields=[("title", TITLE_TOKENS), ("body", None)],
        key_col="doc_id", id_col="doc_id", text_col="text",
        chain="simple", n_salts=4, block_size=32,
    )


def _scan_dismax(pages, query, k=10, tie=0.1, round_to=6, min_match=None):
    from marc_solr_profiling_spark.functions.textstats import tokens_simple

    toks = pages.select(
        "doc_id",
        F.slice(tokens_simple("text"), 1, TITLE_TOKENS).alias("title_tk"),
        tokens_simple("text").alias("body_tk"),
    )
    return bm25_dismax_topk_plan(
        toks, query, fields=[("title_tk", QF["title"]), ("body_tk", QF["body"])],
        key_col="doc_id", k=k, chain="simple", tie=tie, round_to=round_to,
        min_match=min_match,
    )


def test_field_stats_shape(mf_index):
    assert set(mf_index.field_stats) == {"title", "body"}
    n_t, avg_t = mf_index.field_stats["title"]
    n_b, avg_b = mf_index.field_stats["body"]
    assert n_t == N_DOCS and n_b == N_DOCS
    assert 0 < avg_t <= TITLE_TOKENS
    assert avg_b > avg_t  # body is the untruncated stream


@pytest.mark.parametrize("query", generate_query_set(30, seed=9)[:8])
def test_dismax_phys_matches_scan(mf_index, pages, query):
    got = wand_topk(
        mf_index, query, with_url=False, qf=QF, tie=0.1, k=10, round_to=6
    ).collect()
    want = _scan_dismax(pages, query, k=10, tie=0.1, round_to=6).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want], query
    for g, w in zip(got, want):
        assert g["score"] == pytest.approx(w["score"], abs=1e-6), query


def test_dismax_phys_tie_zero(mf_index, pages):
    q = "spark merge window stream"
    got = wand_topk(mf_index, q, qf=QF, tie=0.0, k=10, round_to=6,
                    with_url=False).collect()
    want = _scan_dismax(pages, q, tie=0.0).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == pytest.approx(
        [(r["doc_id"], r["score"]) for r in want], abs=1e-6
    )


def test_dismax_phys_min_match(mf_index, pages):
    # mm counts distinct BASE terms: a term matched in both fields is one
    q = "spark merge window"
    got = wand_topk(
        mf_index, q, qf=QF, tie=0.1, k=10, round_to=6, min_match=3,
        with_url=False,
    ).collect()
    want = _scan_dismax(pages, q, min_match=3).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]


def test_dismax_phys_empty_and_unknown(mf_index, spark):
    assert wand_topk(mf_index, "", with_url=False, qf=QF).count() == 0
    assert wand_topk(mf_index, "zzqqxxyy", with_url=False,
                     qf=QF).count() == 0


def test_dismax_phys_prunes_blocks(mf_index, spark):
    acc = spark.sparkContext.accumulator(0)
    wand_topk(
        mf_index, "the spark merge window stream data", with_url=False,
        qf=QF, tie=0.1, k=5, round_to=6, skip_acc=acc,
    ).collect()
    assert acc.value >= 0  # smoke: accumulator path wired


def test_dismax_tie_range_guard(mf_index):
    with pytest.raises(ValueError):
        wand_topk(mf_index, "spark", with_url=False, qf=QF, tie=1.5)


def test_multifield_resume_is_noop(spark, pages, mf_index, tmp_path_factory):
    # rebuilding at the same path with same config reuses every stage
    idx2 = build_multifield_index(
        spark, pages, mf_index.store.path,
        fields=[("title", TITLE_TOKENS), ("body", None)],
        key_col="doc_id", id_col="doc_id", text_col="text",
        chain="simple", n_salts=4, block_size=32,
    )
    assert idx2.field_stats == mf_index.field_stats
    assert idx2.segments.count() == mf_index.segments.count()
