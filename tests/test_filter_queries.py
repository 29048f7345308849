"""Solr fq through the PHYSICAL index: metadata filter postings
(build_index(filter_cols=...) 'filters' stage) intersected per salt
inside the block-max kernel — scores untouched, pruning exact, and the
result identical to the logical plan's cached-filter semantics
(bm25_topk_sql_plan(filter_query=...)). Includes generation-chain fq."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from marc_solr_profiling_spark.operators.bm25 import bm25_topk_sql_plan
from marc_solr_profiling_spark.operators.wand import wand_topk
from marc_solr_profiling_spark.plans.build import build_index
from marc_solr_profiling_spark.plans.generations import (
    append_delta,
    merge_generations,
)

from conftest import SF_DIR

Q = "spark merge window stream"


@pytest.fixture(scope="module")
def workdir():
    d = tempfile.mkdtemp(prefix="fq_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def docs(spark):
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").persist()
    d.count()
    yield d
    d.unpersist()


@pytest.fixture(scope="module")
def idx(spark, workdir, docs):
    return build_index(
        spark, docs, f"{workdir}/base", key_col="doc_id", id_col="doc_id",
        chain="simple", n_salts=4, block_size=32,
        filter_cols=["lang", "source"],
    )


def _logical(docs, fq_pred, k=10):
    out = bm25_topk_sql_plan(
        docs, Q, key_col="doc_id", k=k, chain="simple", round_to=6,
        filter_query=fq_pred,
    )
    return [(r["doc_id"], r["score"]) for r in out.collect()]


def _physical(idx, fqs, k=10):
    out = wand_topk(idx, Q, k=k, with_url=False, filter_queries=fqs)
    return [(r["doc_id"], round(r["score"], 6))
            for r in out.select("doc_id", "score").collect()]


def test_single_fq_equals_logical(spark, docs, idx):
    assert _physical(idx, ["lang:en"]) == _logical(
        docs, F.col("lang") == "en")


def test_multi_fq_intersection(spark, docs, idx):
    got = _physical(idx, ["lang:en", "source:src3"])
    want = _logical(
        docs, (F.col("lang") == "en") & (F.col("source") == "src3"))
    assert got == want
    assert got, "intersection must be non-empty for the corpus"


def test_fq_never_changes_scores(spark, docs, idx):
    unfiltered = dict(_physical(idx, None, k=200))
    for d, s in _physical(idx, ["lang:fr"], k=20):
        assert unfiltered[d] == s


def test_fq_unknown_value_matches_nothing(spark, idx):
    assert _physical(idx, ["lang:xx"]) == []


def test_fq_without_filter_stage_raises(spark, workdir, docs):
    bare = build_index(
        spark, docs.limit(50), f"{workdir}/bare", key_col="doc_id",
        id_col="doc_id", chain="simple", n_salts=4, block_size=32,
    )
    with pytest.raises(ValueError, match="filter_cols"):
        wand_topk(bare, Q, filter_queries=["lang:en"]).collect()


def test_fq_across_generations_and_merge(spark, workdir, docs):
    """fq over a 2-generation chain with deletes equals a from-scratch
    filtered rebuild; an optimize (merge keep=0) keeps the fq surface
    working."""
    d = docs.withColumn("url", F.format_string("d%05d", F.col("doc_id")))
    base = d.filter("doc_id < 300").select("url", "text", "lang", "source")
    rest = d.filter("doc_id >= 300").select("url", "text", "lang", "source")
    dels = d.filter("doc_id < 300 AND doc_id % 40 = 9").select("url")
    idx0 = build_index(
        spark, base, f"{workdir}/g_base", key_col="url",
        chain="simple", n_salts=4, block_size=32,
        filter_cols=["lang", "source"],
    )
    chain = append_delta(spark, idx0, f"{workdir}/g_g1", delta_docs=rest,
                         delete_keys=dels, key_col="url")
    live = d.join(dels, "url", "left_anti")
    ref = build_index(
        spark, live.select("url", "text", "lang", "source"),
        f"{workdir}/g_ref", key_col="url", chain="simple", n_salts=4,
        block_size=32, filter_cols=["lang", "source"],
    )

    def urls(ix):
        rows = wand_topk(ix, Q, k=10, with_url=True,
                         filter_queries=["lang:en"]).collect()
        return [(r["url"], round(r["score"], 6)) for r in rows]

    got, want = urls(chain), urls(ref)
    assert [s for _, s in got] == [s for _, s in want]
    assert set(got) == set(want)
    merged = merge_generations(spark, chain, f"{workdir}/g_opt", keep=0)
    got_m = urls(merged)
    assert [s for _, s in got_m] == [s for _, s in want]
    assert set(got_m) == set(want)


def test_dismax_fq_through_multifield_index(spark, workdir, docs):
    """Edismax + fq — the reference's actual default request combo
    (edismax qf/tie + cached filter): fq gates the dismax result without
    touching scores, verified against the unfiltered dismax scores."""
    from marc_solr_profiling_spark.operators.wand import wand_topk
    from marc_solr_profiling_spark.plans.multifield import (
        build_multifield_index,
    )

    idx = build_multifield_index(
        spark, docs, f"{workdir}/mf", fields=[("title", 8), ("body", None)],
        key_col="doc_id", id_col="doc_id", chain="simple",
        n_salts=4, block_size=32, filter_cols=["lang"],
    )
    qf = {"title": 2.0, "body": 1.0}
    n = docs.count()
    all_scored = wand_topk(idx, Q, qf=qf, tie=0.1, k=n, round_to=6,
                           with_url=False)
    want = [
        (r["doc_id"], r["score"])
        for r in all_scored.join(
            docs.filter(F.col("lang") == "fr").select("doc_id"), "doc_id")
        .orderBy(F.desc("score"), F.asc("doc_id")).limit(10).collect()
    ]
    got = [
        (r["doc_id"], r["score"])
        for r in wand_topk(idx, Q, qf=qf, tie=0.1, k=10, round_to=6,
                           with_url=False,
                             filter_queries=["lang:fr"]).collect()
    ]
    assert got == want
    assert got, "fr filter must match something"


def test_mlt_phys_equals_logical(spark, docs, idx):
    """MoreLikeThis through the physical index (term vector point-read
    from the packed tf stage, df from the dictionary, WAND scoring)
    equals the logical table-scan MLT."""
    from marc_solr_profiling_spark.operators.bm25 import more_like_this
    from marc_solr_profiling_spark.operators.wand import mlt_topk_phys

    got = [(r["doc_id"], r["score"])
           for r in mlt_topk_phys(idx, 42, k=10, round_to=6).collect()]
    want = [(r["doc_id"], r["score"])
            for r in more_like_this(docs, 42, key_col="doc_id",
                                    chain="simple", k=10,
                                    round_to=6).collect()]
    assert got == want
    assert got


def test_grouped_phys_equals_logical(spark, docs, idx):
    """Field collapse through the physical index (group membership from
    filter postings, per-salt grouping collector) equals the logical
    grouped plan — group ranks, per-group numFound, member docs."""
    from marc_solr_profiling_spark.operators.bm25 import bm25_grouped_topk
    from marc_solr_profiling_spark.operators.wand import grouped_topk_phys

    got = {(r["lang"], r["rank"]): (r["group_found"], r["doc_id"],
                                    r["score"])
           for r in grouped_topk_phys(idx, Q, "lang", k_groups=4,
                                      k_per_group=3).collect()}
    want = {(r["lang"], r["rank"]): (r["group_found"], r["doc_id"],
                                     r["score"])
            for r in bm25_grouped_topk(docs, Q, "lang", key_col="doc_id",
                                       k_groups=4, k_per_group=3,
                                       chain="simple").collect()}
    assert got == want
    assert got
