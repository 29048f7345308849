"""Index-resident tombstones: delete sets ride the salted scan as
DEL_TERM postings (``del_segments`` stage) and each collector decodes
only its salt's ids — no driver-side collect bounded only by merge
cadence (the Lucene per-segment liveDocs model). Every query family over
a chain with tombstones must be value-identical to the same chain
optimized with ``merge_generations(keep=0)``, where the tombstones are
applied physically and the doc ids stay the same; after a tiered/force
merge the FILTER postings must drop physically-applied tombstones
(facet counters count them directly); and a head with tombstones but no
``del_segments`` must refuse to serve."""

import json
import os
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
from marc_solr_profiling_spark.plans.build import (
    InvertedIndex,
    build_index,
    open_index,
)
from marc_solr_profiling_spark.plans.generations import (
    append_delta,
    maybe_compact,
    merge_generations,
)
from marc_solr_profiling_spark.plans.lineage import IndexStore

from conftest import SF_DIR

Q = "spark merge window stream"


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


def _optimized(spark, idx, path):
    """The same chain with its tombstones applied physically."""
    opt = merge_generations(spark, idx, path, keep=0)
    assert opt.deletes_df() is None and len(opt.stores) == 1
    return opt


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


def test_postings_mode_matches_array_mode(spark, workdir, chain):
    """Every delete-consuming family masked through the postings equals
    the optimized chain, which has no tombstones left to mask."""
    assert chain.del_postings() is not None
    want = _snapshot(_optimized(spark, chain, f"{workdir}/cmp_optimized"))
    assert _snapshot(chain) == want


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
    assert g1.del_postings() is not None
    want = [(r["doc_id"], round(r["score"], 9))
            for r in phrase_topk(_optimized(spark, g1, f"{workdir}/pos_opt"),
                                 "spark stream", k=10).collect()]
    got = [(r["doc_id"], round(r["score"], 9))
           for r in phrase_topk(g1, "spark stream", k=10).collect()]
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
    del_segments; the merged chain stays identical to its optimized
    form."""
    merged = merge_generations(spark, chain, f"{workdir}/merged2", keep=1)
    if merged.deletes_df() is None:
        pytest.skip("no carried deletes in this layout")
    assert merged.store.stage_complete("del_segments")
    want = _snapshot(_optimized(spark, merged, f"{workdir}/merged2_opt"))
    assert _snapshot(merged) == want


def test_multifield_postings_mode_matches_array(spark, workdir, docs):
    """The index-resident tombstone path through the DISMAX kernel
    (multi-field chain): dismax top-k and the term-group match bitset
    equal the optimized chain's."""
    from marc_solr_profiling_spark.plans.multifield import (
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
               wand_topk(ix, Q, qf=qf, tie=0.1, k=12,
                         with_url=False).collect()]
        match = sorted(r["doc_id"] for r in matching_doc_ids(
            ix, Q, min_match=2, term_groups=groups).collect())
        return top, match

    assert g1.del_postings() is not None
    assert snap(g1) == snap(_optimized(spark, g1, f"{workdir}/mfdp_opt"))

    # the compaction policy bounds the multifield chain too
    g2 = append_delta(
        spark, g1, f"{workdir}/mfdp_g2",
        delete_keys=d.filter("doc_id % 19 = 1").select("url"),
        key_col="url")
    compacted = maybe_compact(
        spark, g2, f"{workdir}/mfdp_c", max_generations=2, keep=1)
    assert len(compacted.stores) <= 2
    assert snap(compacted)[0] == snap(g2)[0]


def test_tombstones_without_del_segments_refuse_to_serve(spark, workdir,
                                                         chain):
    """A head whose ``deletes`` stage has no ``del_segments`` beside it
    (written before index-resident tombstones) fails at open, naming the
    rewrite; a handle made directly never serves unmasked results; the
    named rewrite gives the masked results back."""
    legacy = f"{workdir}/legacy_head"
    shutil.copytree(chain.store.path, legacy)
    manifest = os.path.join(legacy, "manifest.json")
    with open(manifest) as f:
        m = json.load(f)
    del m["stages"]["del_segments"]
    with open(manifest, "w") as f:
        json.dump(m, f)

    with pytest.raises(ValueError, match="merge_generations"):
        open_index(spark, legacy)
    h = InvertedIndex(IndexStore(legacy), spark, chain.chain)
    for read in (lambda: wand_topk(h, Q, k=12).collect(),
                 lambda: matching_doc_ids(h, Q).collect()):
        with pytest.raises(ValueError, match="del_segments"):
            read()
    fixed = merge_generations(spark, h, f"{workdir}/legacy_opt", keep=0)
    want = [(r["doc_id"], round(r["score"], 9))
            for r in wand_topk(chain, Q, k=12).collect()]
    assert [(r["doc_id"], round(r["score"], 9))
            for r in wand_topk(fixed, Q, k=12).collect()] == want
