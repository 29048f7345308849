"""Index-resident tombstones: large delete sets ride the salted scan as
DEL_TERM postings (``del_segments`` stage) and each kernel decodes only
its salt's ids — no driver-side collect bounded only by merge cadence
(the Lucene per-segment liveDocs model). Every query family must be
value-identical between the driver-array fast path and the
postings-resident path; and after a tiered/force merge the FILTER
postings must drop physically-applied tombstones (facet counters count
them directly)."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from marc_solr_profiling_spark.operators.phrase import phrase_topk
from marc_solr_profiling_spark.operators.wand import (
    facet_match_counts,
    matching_doc_ids,
    wand_topk,
    wand_topk_batch,
)
from marc_solr_profiling_spark.plans.build import build_index
from marc_solr_profiling_spark.plans.generations import (
    append_delta,
    maybe_compact,
    merge_generations,
)

from conftest import SF_DIR

Q = "spark merge window stream"
CAP_KEY = "spark.marc.delArrayMaxIds"


@pytest.fixture(scope="module")
def workdir():
    d = tempfile.mkdtemp(prefix="delpost_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def docs(spark):
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").persist()
    d.count()
    yield d
    d.unpersist()


@pytest.fixture(scope="module")
def chain(spark, workdir, docs):
    """base(400 docs) -> g1(+50 docs, -40 deletes) -> g2(-25 deletes)."""
    base = build_index(
        spark, docs.filter(F.col("doc_id") < 400), f"{workdir}/base",
        key_col="doc_id", id_col="doc_id", chain="simple",
        n_salts=4, block_size=32, filter_cols=["lang", "source"],
    )
    g1 = append_delta(
        spark, base, f"{workdir}/g1",
        delta_docs=docs.filter(
            (F.col("doc_id") >= 400) & (F.col("doc_id") < 450)),
        delete_keys=docs.filter(
            (F.col("doc_id") % 9 == 1) & (F.col("doc_id") < 360)
        ).select("doc_id"),
        key_col="doc_id",
    )
    g2 = append_delta(
        spark, g1, f"{workdir}/g2",
        delete_keys=docs.filter(
            (F.col("doc_id") % 16 == 2) & (F.col("doc_id") < 430)
        ).select("doc_id"),
        key_col="doc_id",
    )
    return g2


def _reopen(spark, idx):
    """Fresh handle (drops the cached _del_arr so delete_masks re-reads
    the conf) over the same store chain."""
    from marc_solr_profiling_spark.plans.build import InvertedIndex

    return InvertedIndex(idx.store, spark, idx.chain)


def _snapshot(idx):
    """Results of every delete-consuming query family, as plain data."""
    out = {}
    out["topk"] = [(r["doc_id"], round(r["score"], 9))
                   for r in wand_topk(idx, Q, k=12).collect()]
    out["fq"] = [(r["doc_id"], round(r["score"], 9))
                 for r in wand_topk(idx, Q, k=12,
                                    filter_queries=["lang:en"]).collect()]
    out["not"] = [(r["doc_id"], round(r["score"], 9))
                  for r in wand_topk(idx, Q, k=12,
                                     exclude_query="window").collect()]
    out["wild"] = [(r["doc_id"], round(r["score"], 9))
                   for r in wand_topk(idx, "spark", k=12,
                                      wildcard="str").collect()]
    out["match"] = sorted(
        r["doc_id"] for r in matching_doc_ids(idx, Q).collect())
    out["batch"] = sorted(
        (r["qid"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in wand_topk_batch(
            idx, [Q, "stream window", "spark"], k=8).collect())
    out["facets"] = sorted(
        (r["facet_field"], r["facet_value"], r["count"])
        for r in facet_match_counts(
            idx, None, facet_fields=["lang"]).collect())
    out["facets_q"] = sorted(
        (r["facet_field"], r["facet_value"], r["count"])
        for r in facet_match_counts(
            idx, Q, facet_fields=["lang"],
            filter_queries=["source:src3"]).collect())
    return out


def test_del_segments_stage_exists(spark, chain):
    assert chain.store.stage_complete("del_segments")
    assert chain.del_postings() is not None
    assert chain.n_deletes() > 0


def test_postings_mode_matches_array_mode(spark, chain):
    arr_mode = _snapshot(_reopen(spark, chain))
    arr, tbl = _reopen(spark, chain).delete_masks()
    assert arr is not None and tbl is None  # default cap: array path
    spark.conf.set(CAP_KEY, "0")
    try:
        h = _reopen(spark, chain)
        arr, tbl = h.delete_masks()
        assert arr is None and tbl is not None  # forced postings path
        post_mode = _snapshot(h)
    finally:
        spark.conf.unset(CAP_KEY)
    assert arr_mode == post_mode


def test_postings_mode_positional_phrase(spark, workdir, docs):
    base = build_index(
        spark, docs.filter(F.col("doc_id") < 300), f"{workdir}/pos_base",
        key_col="doc_id", id_col="doc_id", chain="simple",
        n_salts=4, block_size=32, positions=True,
    )
    g1 = append_delta(
        spark, base, f"{workdir}/pos_g1",
        delete_keys=docs.filter(
            (F.col("doc_id") % 7 == 3) & (F.col("doc_id") < 300)
        ).select("doc_id"),
        key_col="doc_id",
    )
    want = [(r["doc_id"], round(r["score"], 9))
            for r in phrase_topk(g1, "spark stream", k=10).collect()]
    spark.conf.set(CAP_KEY, "0")
    try:
        h = _reopen(spark, g1)
        assert h.delete_masks()[1] is not None
        got = [(r["doc_id"], round(r["score"], 9))
               for r in phrase_topk(h, "spark stream", k=10).collect()]
    finally:
        spark.conf.unset(CAP_KEY)
    assert got == want


def _live_lang_counts(docs, dead_pred, extra=None):
    live = docs.filter(F.col("doc_id") < 450).filter(~dead_pred)
    rows = live.groupBy("lang").count().collect()
    return sorted(("lang", r["lang"], r["count"]) for r in rows)


def test_merge_rebuilds_filter_postings(spark, workdir, docs, chain):
    """ADVICE regression: after a tiered merge applies tombstones
    physically, the match-all facet battery must NOT count the applied
    docs (filter postings are counted directly — stale rows inflate)."""
    dead = ((F.col("doc_id") % 9 == 1) & (F.col("doc_id") < 360)) | \
           ((F.col("doc_id") % 16 == 2) & (F.col("doc_id") < 430))
    want = _live_lang_counts(docs, dead)

    merged = merge_generations(spark, chain, f"{workdir}/merged", keep=1)
    got = sorted(
        (r["facet_field"], r["facet_value"], r["count"])
        for r in facet_match_counts(
            merged, None, facet_fields=["lang"]).collect()
        if r["facet_field"] == "lang")
    assert got == want

    # numFound through a match-all + fq request also excludes them
    en = [w for w in want if w[1] == "en"][0][2]
    nf = {r["facet_field"]: r["count"]
          for r in facet_match_counts(
              merged, None, filter_queries=["lang:en"]).collect()}
    assert nf["__num_found__"] == en

    opt = merge_generations(spark, chain, f"{workdir}/optimized", keep=0)
    got_o = sorted(
        (r["facet_field"], r["facet_value"], r["count"])
        for r in facet_match_counts(
            opt, None, facet_fields=["lang"]).collect()
        if r["facet_field"] == "lang")
    assert got_o == want


def test_postings_mode_after_merge(spark, workdir, docs, chain):
    """Carried (un-applied) deletes survive a merge as rebuilt
    del_segments; postings mode stays identical to array mode."""
    merged = merge_generations(spark, chain, f"{workdir}/merged2", keep=1)
    if merged.deletes_df() is None:
        pytest.skip("no carried deletes in this layout")
    assert merged.store.stage_complete("del_segments")
    arr_mode = _snapshot(_reopen(spark, merged))
    spark.conf.set(CAP_KEY, "0")
    try:
        post_mode = _snapshot(_reopen(spark, merged))
    finally:
        spark.conf.unset(CAP_KEY)
    assert arr_mode == post_mode


def test_multifield_postings_mode_matches_array(spark, workdir, docs):
    """The index-resident tombstone path through the DISMAX kernel
    (multi-field chain): postings mode == array mode for dismax top-k
    and the term-group match bitset."""
    from marc_solr_profiling_spark.operators.wand import (
        dismax_topk,
        matching_doc_ids,
    )
    from marc_solr_profiling_spark.plans.multifield import (
        MultiFieldIndex,
        build_multifield_index,
    )

    d = docs.withColumn("url", F.format_string("d%05d", F.col("doc_id")))
    base = build_multifield_index(
        spark, d.filter("doc_id < 300").select("url", "text"),
        f"{workdir}/mfdp_base", fields=[("title", 8), ("body", None)],
        key_col="url", chain="simple", n_salts=4, block_size=32,
    )
    g1 = append_delta(
        spark, base, f"{workdir}/mfdp_g1",
        delta_docs=d.filter("doc_id >= 300").select("url", "text"),
        delete_keys=d.filter("doc_id % 7 = 2 AND doc_id < 300")
        .select("url"),
        key_col="url",
    )
    assert g1.store.stage_complete("del_segments")
    qf = {"title": 2.0, "body": 1.0}
    sep = g1.sep
    qt = Q.split()
    groups = {f + sep + t: i for f in qf for i, t in enumerate(qt)}

    def snap(ix):
        top = [(r["doc_id"], round(r["score"], 9)) for r in
               dismax_topk(ix, Q, qf=qf, tie=0.1, k=12).collect()]
        match = sorted(r["doc_id"] for r in matching_doc_ids(
            ix, Q, min_match=2, term_groups=groups).collect())
        return top, match

    arr_mode = snap(MultiFieldIndex(g1.store, spark, g1.chain))
    spark.conf.set(CAP_KEY, "0")
    try:
        h = MultiFieldIndex(g1.store, spark, g1.chain)
        assert h.delete_masks()[1] is not None
        post_mode = snap(h)
    finally:
        spark.conf.unset(CAP_KEY)
    assert arr_mode == post_mode

    # the compaction policy bounds the multifield chain too
    g2 = append_delta(
        spark, g1, f"{workdir}/mfdp_g2",
        delete_keys=d.filter("doc_id % 19 = 1").select("url"),
        key_col="url")
    compacted = maybe_compact(
        spark, g2, f"{workdir}/mfdp_c", max_generations=2, keep=1)
    assert len(compacted.stores) <= 2
    assert snap(compacted)[0] == snap(g2)[0]
