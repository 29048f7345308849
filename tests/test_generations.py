"""Generational (Lucene-segment-style) index maintenance: append_delta
generations + delete masking + tiered merge produce query results
value-identical to a from-scratch rebuild of the live corpus — with
O(|delta|) work per append (plans/generations.py; the scale answer to
incremental_update's full re-segment)."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from marc_solr_profiling_spark.corpus import generate_web_pages
from marc_solr_profiling_spark.operators.phrase import phrase_topk
from marc_solr_profiling_spark.operators.wand import (
    wand_topk,
    wand_topk_batch,
)
from marc_solr_profiling_spark.plans.build import build_index
from marc_solr_profiling_spark.plans.generations import (
    append_delta,
    maybe_compact,
    merge_generations,
)
from marc_solr_profiling_spark.plans.multifield import (
    MultiFieldIndex,
    build_multifield_index,
)

QUERIES = ["the of and", "fresh content", "voyage", "time new said",
           "sea captain whale"]
# the lifecycle tests below run over both index kinds
KINDS = ["single", "multi"]
FIELDS = [("title", 8), ("body", None)]
QF = {"title": 2.0, "body": 1.0}


@pytest.fixture(scope="module")
def workdir():
    d = tempfile.mkdtemp(prefix="gen_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def docs(spark):
    d = (
        generate_web_pages(spark, 260, seed=11, partitions=4)
        .select("url", "text")
        .persist()
    )
    d.count()
    yield d
    d.unpersist()


def _build(spark, kind, df, path):
    kw = dict(key_col="url", chain="text", n_salts=4, block_size=32)
    if kind == "single":
        return build_index(spark, df, path, **kw)
    return build_multifield_index(spark, df, path, fields=FIELDS, **kw)


def _topk_urls(idx, q, k=10):
    """Top-k (url, score) of either index kind: BM25 for single-field,
    edismax dismax over ``QF`` for multi-field."""
    if isinstance(idx, MultiFieldIndex):
        rows = wand_topk(idx, q, qf=QF, tie=0.1, k=k, round_to=6,
                         with_url=False).join(
            idx.docs.select("doc_id", "url"), "doc_id").collect()
        rows = sorted(rows, key=lambda r: (-r["score"], r["url"]))
    else:
        rows = wand_topk(idx, q, k=k, with_url=True).collect()
    return [(r["url"], round(r["score"], 9)) for r in rows]


def _assert_same_results(got_idx, ref_idx, queries=QUERIES, k=10):
    for q in queries:
        got = _topk_urls(got_idx, q, k)
        want = _topk_urls(ref_idx, q, k)
        # internal doc ids differ between the chains and the rebuild, so
        # equal-score boundary ties may order differently; compare the
        # score sequence exactly and membership as a set
        assert [s for _, s in got] == [s for _, s in want], q
        assert set(got) == set(want), q


def _live(docs, dead_urls, mods=None):
    out = docs.filter(~F.col("url").isin(list(dead_urls)))
    if mods is not None:
        out = out.join(mods.select("url"), "url", "left_anti").unionByName(mods)
    return out


def test_append_upsert_delete_rank_identity(spark, workdir, docs):
    base = docs.filter(F.regexp_extract("url", r"/p/(\d+)$", 1) < 200)
    rest = docs.filter(F.regexp_extract("url", r"/p/(\d+)$", 1) >= 200)
    mods = base.filter(F.xxhash64("url") % 11 == 0).withColumn(
        "text", F.concat(F.lit("fresh content entirely "), F.col("text"))
    ).persist()
    del_keys = base.filter(F.xxhash64("url") % 13 == 1).select("url").persist()

    base_idx = build_index(
        spark, base, f"{workdir}/a_base", key_col="url",
        chain="text", n_salts=4, block_size=32,
    )
    gen1 = append_delta(
        spark, base_idx, f"{workdir}/a_gen1",
        delta_docs=rest.unionByName(mods), delete_keys=del_keys,
        key_col="url",
    )
    assert len(gen1.stores) == 2
    assert gen1.del_postings() is not None

    dead = {r["url"] for r in del_keys.collect()}
    live = _live(docs, dead, mods.filter(~F.col("url").isin(list(dead))))
    ref_idx = build_index(
        spark, live, f"{workdir}/a_ref", key_col="url",
        chain="text", n_salts=4, block_size=32,
    )
    # exact global stats
    assert gen1.n_docs == ref_idx.n_docs
    assert abs(gen1.avgdl - ref_idx.avgdl) < 1e-9
    # exact dictionary (df AND cf per term)
    got_d = {r["term"]: (r["df"], r["cf"])
             for r in gen1.dictionary.collect()}
    want_d = {r["term"]: (r["df"], r["cf"])
              for r in ref_idx.dictionary.collect()}
    assert got_d == want_d
    _assert_same_results(gen1, ref_idx)
    # tombstoned urls never surface
    for q in QUERIES:
        assert not {u for u, _ in _topk_urls(gen1, q, 20)} & dead
    mods.unpersist()
    del_keys.unpersist()


def test_three_generation_chain_and_batch(spark, workdir, docs):
    n = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")
    base = docs.filter(n < 150)
    d1 = docs.filter((n >= 150) & (n < 200))
    d2 = docs.filter(n >= 200)

    idx0 = build_index(
        spark, base, f"{workdir}/b_base", key_col="url",
        chain="text", n_salts=4, block_size=32,
    )
    idx1 = append_delta(spark, idx0, f"{workdir}/b_g1", delta_docs=d1,
                        key_col="url")
    del2 = base.filter(F.xxhash64("url") % 7 == 2).select("url").persist()
    idx2 = append_delta(spark, idx1, f"{workdir}/b_g2", delta_docs=d2,
                        delete_keys=del2, key_col="url")
    assert len(idx2.stores) == 3

    dead = {r["url"] for r in del2.collect()}
    ref = build_index(
        spark, _live(docs, dead), f"{workdir}/b_ref", key_col="url",
        chain="text", n_salts=4, block_size=32,
    )
    _assert_same_results(idx2, ref)

    # the batch kernels (dense AND sparse) mask tombstones too
    for mode in ("dense", "sparse"):
        got = wand_topk_batch(idx2, QUERIES, k=10, mode=mode)
        want = wand_topk_batch(ref, QUERIES, k=10, mode=mode)
        g = {(r["qid"], r["rank"]): round(r["score"], 9)
             for r in got.collect()}
        w = {(r["qid"], r["rank"]): round(r["score"], 9)
             for r in want.collect()}
        assert g == w, mode
    del2.unpersist()


def test_pure_delete_generation(spark, workdir, docs):
    base_idx = build_index(
        spark, docs, f"{workdir}/c_base", key_col="url",
        chain="text", n_salts=4, block_size=32,
    )
    del_keys = docs.filter(F.xxhash64("url") % 5 == 0).select("url")
    gen = append_delta(spark, base_idx, f"{workdir}/c_del",
                       delete_keys=del_keys, key_col="url")
    dead = {r["url"] for r in del_keys.collect()}
    ref = build_index(
        spark, _live(docs, dead), f"{workdir}/c_ref", key_col="url",
        chain="text", n_salts=4, block_size=32,
    )
    assert gen.n_docs == ref.n_docs
    assert abs(gen.avgdl - ref.avgdl) < 1e-9
    _assert_same_results(gen, ref)


@pytest.mark.parametrize("kind", KINDS)
def test_merge_generations_keep_base(spark, workdir, docs, kind):
    n = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")
    idx0 = _build(spark, kind, docs.filter(n < 150),
                  f"{workdir}/d_base_{kind}")
    idx1 = append_delta(spark, idx0, f"{workdir}/d_g1_{kind}",
                        delta_docs=docs.filter((n >= 150) & (n < 200)),
                        key_col="url")
    # delete one url from the BASE and one from GEN1 — after a keep=1
    # merge the gen1 tombstone must be physically applied, the base one
    # carried forward in the delete set
    del_base = docs.filter(n == 3).select("url")
    del_g1 = docs.filter(n == 160).select("url")
    idx2 = append_delta(spark, idx1, f"{workdir}/d_g2_{kind}",
                        delta_docs=docs.filter(n >= 200),
                        delete_keys=del_base.union(del_g1), key_col="url")
    assert len(idx2.stores) == 3

    merged = merge_generations(spark, idx2, f"{workdir}/d_merged_{kind}",
                               keep=1)
    assert len(merged.stores) == 2
    # only the base-generation tombstone survives in the delete set
    dels = merged.deletes_df()
    assert dels is not None and dels.count() == 1
    _assert_same_results(merged, idx2)
    if kind == "single":
        assert merged.n_docs == idx2.n_docs
        assert abs(merged.avgdl - idx2.avgdl) < 1e-12
    else:
        assert merged.field_stats == idx2.field_stats


def test_force_merge_collapses_chain(spark, workdir, docs):
    n = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")
    idx0 = build_index(
        spark, docs.filter(n < 200), f"{workdir}/e_base", key_col="url",
        chain="text", n_salts=4, block_size=32,
    )
    idx1 = append_delta(spark, idx0, f"{workdir}/e_g1",
                        delta_docs=docs.filter(n >= 200),
                        delete_keys=docs.filter(n % 9 == 4).select("url"),
                        key_col="url")
    merged = merge_generations(spark, idx1, f"{workdir}/e_opt", keep=0)
    assert len(merged.stores) == 1
    assert merged.deletes_df() is None  # deletes applied physically
    _assert_same_results(merged, idx1)
    assert merged.n_docs == idx1.n_docs


@pytest.mark.parametrize("kind", KINDS)
def test_maybe_compact_policy(spark, workdir, docs, kind):
    n = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")
    idx = _build(spark, kind, docs.filter(n < 100),
                 f"{workdir}/f_base_{kind}")
    for i, lo in enumerate([100, 150, 200]):
        idx = append_delta(
            spark, idx, f"{workdir}/f_g{i}_{kind}",
            delta_docs=docs.filter((n >= lo) & (n < lo + 50)),
            key_col="url")
    assert len(idx.stores) == 4
    same = maybe_compact(spark, idx, f"{workdir}/f_c0_{kind}",
                         max_generations=4)
    assert same is idx  # under threshold: no-op
    compacted = maybe_compact(spark, idx, f"{workdir}/f_c1_{kind}",
                              max_generations=3, keep=1)
    assert len(compacted.stores) == 2
    _assert_same_results(compacted, idx)


def test_positional_chain_phrase_masking(spark, workdir, docs):
    n = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")
    idx0 = build_index(
        spark, docs.filter(n < 200), f"{workdir}/g_base", key_col="url",
        chain="text", n_salts=4, block_size=32, positions=True,
    )
    # find a phrase hit inside the base, then tombstone that very doc
    hit = phrase_topk(idx0, "of the", k=1, with_url=True).collect()
    assert hit, "corpus must contain the probe phrase"
    victim_url = hit[0]["url"]
    idx1 = append_delta(
        spark, idx0, f"{workdir}/g_g1",
        delta_docs=docs.filter(n >= 200),
        delete_keys=spark.createDataFrame([(victim_url,)], "url string"),
        key_col="url")
    got = phrase_topk(idx1, "of the", k=20, with_url=True).collect()
    assert victim_url not in {r["url"] for r in got}
    # and the phrase path over the chain equals a rebuild of the live set
    ref = build_index(
        spark, _live(docs, {victim_url}), f"{workdir}/g_ref",
        key_col="url", chain="text", n_salts=4, block_size=32,
        positions=True,
    )
    want = phrase_topk(ref, "of the", k=20, with_url=True).collect()
    assert ([round(r["score"], 9) for r in got]
            == [round(r["score"], 9) for r in want])
    assert ({(r["url"], round(r["score"], 9)) for r in got}
            == {(r["url"], round(r["score"], 9)) for r in want})


@pytest.mark.parametrize("kind", KINDS)
def test_kill_mid_append_resumes_without_recompute(spark, workdir, docs,
                                                   monkeypatch, kind):
    """Kill-mid-APPEND resume (the north-rule resumability criterion for
    the generational path): abort append_delta after its tf stage commits
    but before the delta segments commit, re-run, and assert via lineage
    timestamps that the delta is NOT re-tokenized and the resumed chain
    equals an uninterrupted append."""
    from marc_solr_profiling_spark.plans import lineage as lin

    n = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")
    base = docs.filter(n < 200)
    delta = docs.filter(n >= 200)
    idx0 = _build(spark, kind, base, f"{workdir}/h_base_{kind}")

    ref = append_delta(spark, idx0, f"{workdir}/h_ref_{kind}",
                       delta_docs=delta, key_col="url")

    out = f"{workdir}/h_resume_{kind}"
    real_commit = lin.IndexStore.commit_stage

    def failing_commit(self, stage, df, **kwargs):
        if stage == "segments" and self.path == out:
            raise RuntimeError("simulated kill mid-append")
        return real_commit(self, stage, df, **kwargs)

    monkeypatch.setattr(lin.IndexStore, "commit_stage", failing_commit)
    with pytest.raises(RuntimeError, match="simulated kill"):
        append_delta(spark, idx0, out, delta_docs=delta, key_col="url")
    monkeypatch.setattr(lin.IndexStore, "commit_stage", real_commit)

    m_aborted = lin.IndexStore(out)._read_manifest()
    assert "tf" in m_aborted["stages"]
    assert "segments" not in m_aborted["stages"]
    pre = {st: m_aborted["stages"][st]["committed_at"]
           for st in m_aborted["stages"]}

    idx = append_delta(spark, idx0, out, delta_docs=delta, key_col="url")
    m_resumed = idx.store._read_manifest()
    for st, ts in pre.items():
        assert m_resumed["stages"][st]["committed_at"] == ts, (
            f"stage {st} recomputed on append resume")
    for st in ["docs", "stats", "dictionary", "segments"]:
        got = sorted(map(tuple, idx.store.read_stage(spark, st).collect()))
        want = sorted(map(tuple, ref.store.read_stage(spark, st).collect()))
        assert got == want, f"stage {st} differs after append resume"
    _assert_same_results(idx, ref)


def test_multifield_generation_chain(spark, workdir, docs):
    """Generational appends for the MULTI-FIELD (edismax) index: a
    2-generation chain with upserts+deletes is dismax-value-identical to
    a from-scratch rebuild of the live corpus (per-field stats and the
    field-scoped dictionary exactly adjusted; tombstones masked in the
    dismax kernel; per-field cap rescaling)."""
    n = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")
    base = docs.filter(n < 200)
    mods = base.filter(F.xxhash64("url") % 9 == 0).withColumn(
        "text", F.concat(F.lit("revised heading material "),
                         F.col("text")))
    dels = base.filter(F.xxhash64("url") % 11 == 3).select("url")
    fields = [("title", 8), ("body", None)]

    idx0 = build_multifield_index(
        spark, base, f"{workdir}/mf_base", fields=fields, key_col="url",
        chain="text", n_salts=4, block_size=32,
    )
    idx1 = append_delta(
        spark, idx0, f"{workdir}/mf_g1",
        delta_docs=docs.filter(n >= 200).unionByName(mods),
        delete_keys=dels, key_col="url",
    )
    assert len(idx1.stores) == 2
    dead = {r["url"] for r in dels.collect()}
    live = _live(docs, dead, mods.filter(~F.col("url").isin(list(dead))))
    ref = build_multifield_index(
        spark, live, f"{workdir}/mf_ref", fields=fields, key_col="url",
        chain="text", n_salts=4, block_size=32,
    )
    assert idx1.field_stats == ref.field_stats
    got_d = {r["term"]: (r["df"], r["cf"])
             for r in idx1.dictionary.collect()}
    want_d = {r["term"]: (r["df"], r["cf"])
              for r in ref.dictionary.collect()}
    assert got_d == want_d

    qf = {"title": 2.0, "body": 1.0}
    for q in QUERIES:
        def urls(ix):
            out = wand_topk(ix, q, qf=qf, tie=0.1, k=10, round_to=6,
                            with_url=False)
            rows = out.join(ix.docs.select("doc_id", "url"),
                            "doc_id").collect()
            return {(r["url"], r["score"]) for r in rows}, \
                sorted((r["score"] for r in rows), reverse=True)

        g_set, g_sc = urls(idx1)
        w_set, w_sc = urls(ref)
        assert g_sc == w_sc, q
        assert g_set == w_set, q
        assert not {u for u, _ in g_set} & dead, q


def test_multifield_force_merge(spark, workdir, docs):
    """Collapsing a multifield chain (merge keep=0 — the optimize
    analog) keeps dismax results identical and drops the delete set."""
    n = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")
    fields = [("title", 8), ("body", None)]
    idx0 = build_multifield_index(
        spark, docs.filter(n < 200), f"{workdir}/mfm_base",
        fields=fields, key_col="url", chain="text", n_salts=4,
        block_size=32,
    )
    idx1 = append_delta(
        spark, idx0, f"{workdir}/mfm_g1",
        delta_docs=docs.filter(n >= 200),
        delete_keys=docs.filter(n % 13 == 5).select("url"),
        key_col="url",
    )
    merged = merge_generations(spark, idx1, f"{workdir}/mfm_opt", keep=0)
    assert len(merged.stores) == 1
    assert merged.deletes_df() is None
    qf = {"title": 2.0, "body": 1.0}
    for q in QUERIES[:3]:
        def res(ix):
            out = wand_topk(ix, q, qf=qf, tie=0.1, k=10, round_to=6,
                            with_url=False)
            rows = out.join(ix.docs.select("doc_id", "url"),
                            "doc_id").collect()
            return ({(r["url"], r["score"]) for r in rows},
                    sorted((r["score"] for r in rows), reverse=True))

        g, gs = res(merged)
        w, ws = res(idx1)
        assert gs == ws, q
        assert g == w, q


def test_cap_rescaling_under_strong_avgdl_drift(spark, workdir):
    """Adversarial pruning-exactness check: the base is built on SHORT
    docs (small avgdl), the delta appends LONG docs that multiply the
    global avgdl — the regime where stale base-generation block caps
    UNDERSTATE true BM25 weights and unsound pruning would silently drop
    true top-k docs. The chain must stay value-identical to a rebuild."""
    short = generate_web_pages(spark, 150, seed=31, partitions=4) \
        .select("url", F.expr(
            "array_join(slice(split(text, ' '), 1, 12), ' ')").alias("text"))
    long_ = generate_web_pages(spark, 150, seed=32, partitions=4) \
        .select(F.concat(F.lit("L"), "url").alias("url"),
                F.concat_ws(" ", "text", "text", "text").alias("text"))
    idx0 = build_index(
        spark, short, f"{workdir}/drift_base", key_col="url",
        chain="text", n_salts=4, block_size=16,
    )
    chain = append_delta(spark, idx0, f"{workdir}/drift_g1",
                         delta_docs=long_, key_col="url")
    # the drift is real: appended avgdl must dwarf the built one
    built = idx0.avgdl
    assert chain.avgdl > 3 * built
    ref = build_index(
        spark, short.unionByName(long_), f"{workdir}/drift_ref",
        key_col="url", chain="text", n_salts=4, block_size=16,
    )
    _assert_same_results(chain, ref, k=15)


def test_grouped_phys_over_generation_chain(spark, workdir, docs):
    """grouped_topk_phys (per-salt grouping collector) over a 2-gen
    chain with deletes equals the rebuild — group counts included."""
    from marc_solr_profiling_spark.operators.wand import grouped_topk_phys

    n = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")
    aug = docs.withColumn(
        "grp", F.concat(F.lit("g"), (n % 4).cast("string")))
    base = aug.filter(n < 200).select("url", "text", "grp")
    rest = aug.filter(n >= 200).select("url", "text", "grp")
    dels = aug.filter(n % 17 == 2).select("url")
    idx0 = build_index(
        spark, base, f"{workdir}/gg_base", key_col="url", chain="text",
        n_salts=4, block_size=32, filter_cols=["grp"],
    )
    chain = append_delta(spark, idx0, f"{workdir}/gg_g1",
                         delta_docs=rest, delete_keys=dels,
                         key_col="url")
    dead = {r["url"] for r in dels.collect()}
    ref = build_index(
        spark, _live(aug.select("url", "text", "grp"), dead),
        f"{workdir}/gg_ref", key_col="url", chain="text",
        n_salts=4, block_size=32, filter_cols=["grp"],
    )

    def res(ix):
        out = grouped_topk_phys(ix, "the of and", "grp", k_groups=4,
                                k_per_group=2, round_to=6)
        rows = out.join(ix.docs.select("doc_id", "url"),
                        "doc_id").collect()
        return {(r["grp"], r["group_found"], r["rank"], r["url"],
                 r["score"]) for r in rows}

    assert res(chain) == res(ref)


@pytest.mark.parametrize("kind", KINDS)
def test_append_refuses_live_chain_out_path(spark, workdir, docs, kind):
    """append_delta(out_path=<a live store of the chain>) must fail
    loudly: set_fingerprint would wipe the ancestor's stages and write a
    self-referential parent (the at-least-once replay corruption)."""
    n = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")
    base_path = f"{workdir}/guard_base_{kind}"
    g1_path = f"{workdir}/guard_g1_{kind}"
    base = _build(spark, kind, docs.filter(n < 60), base_path)
    with pytest.raises(ValueError, match="live store"):
        append_delta(
            spark, base, base_path,
            delta_docs=docs.filter((n >= 60) & (n < 70)), key_col="url",
        )
    g1 = append_delta(
        spark, base, g1_path,
        delta_docs=docs.filter((n >= 60) & (n < 70)), key_col="url",
    )
    for bad in (base_path, g1_path):
        with pytest.raises(ValueError, match="live store"):
            append_delta(
                spark, g1, bad,
                delta_docs=docs.filter((n >= 70) & (n < 75)),
                key_col="url",
            )


def test_append_to_single_doc_base_gets_fresh_id(spark, workdir, docs):
    """A base holding only doc id 0 must hand the delta id 1: id 0 is
    the max, not an empty chain, and reusing it would put two docs on
    one id."""
    n = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")
    base = build_index(
        spark, docs.filter(n == 1), f"{workdir}/one_base", key_col="url",
        chain="text", n_salts=4, block_size=32,
    )
    g1 = append_delta(spark, base, f"{workdir}/one_g1",
                      delta_docs=docs.filter(n == 2), key_col="url")
    assert sorted(r["doc_id"] for r in g1.docs.collect()) == [0, 1]
    assert g1.n_docs == 2


def test_append_dedups_same_key_within_delta(spark, workdir, docs):
    """Two same-key rows in ONE delta batch must collapse to a single
    live row (one-record-per-id contract): latest warc_ts wins when
    present, else exactly one row survives."""
    n = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")
    base = build_index(
        spark, docs.filter(n < 50), f"{workdir}/dup_base", key_col="url",
        chain="text", n_salts=4, block_size=32,
    )
    dup_url = docs.filter(n == 3).select("url").collect()[0]["url"]
    delta = spark.createDataFrame(
        [(dup_url, "stale body crabapple", "2024-01-01 00:00:00"),
         (dup_url, "fresh body dragonfruit", "2024-06-01 00:00:00")],
        "url string, text string, warc_ts string",
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    g1 = append_delta(spark, base, f"{workdir}/dup_g1",
                      delta_docs=delta, key_col="url")
    live = g1.docs.filter(F.col("url") == dup_url).collect()
    assert len(live) == 1, "duplicate-key delta must leave ONE live row"
    assert g1.n_docs == 50
    # the later warc_ts row won: its term is searchable, the stale isn't
    assert wand_topk(g1, "dragonfruit", k=5).count() == 1
    assert wand_topk(g1, "crabapple", k=5).count() == 0
    # without warc_ts: still exactly one survivor
    delta2 = spark.createDataFrame(
        [(dup_url, "alpha kumquat"), (dup_url, "alpha kumquat")],
        "url string, text string")
    g2 = append_delta(spark, g1, f"{workdir}/dup_g2",
                      delta_docs=delta2, key_col="url")
    assert g2.docs.filter(F.col("url") == dup_url).count() == 1
    assert g2.n_docs == 50
    # equal warc_ts: the survivor is fixed by the row itself, never by
    # how the delta happens to be partitioned
    tied = spark.createDataFrame(
        [(dup_url, "tied body elderberry", "2024-09-01 00:00:00"),
         (dup_url, "tied body feijoa", "2024-09-01 00:00:00")],
        "url string, text string, warc_ts string",
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    survivors = set()
    for parts in (1, 7):
        g = append_delta(spark, g2, f"{workdir}/dup_tie_{parts}",
                         delta_docs=tied.repartition(parts), key_col="url")
        assert g.docs.filter(F.col("url") == dup_url).count() == 1
        survivors.add(tuple(wand_topk(g, w, k=5).count()
                            for w in ("elderberry", "feijoa")))
    assert len(survivors) == 1
    assert sorted(survivors.pop()) == [0, 1]


def _url_of(docs):
    return {int(r["url"].rsplit("/", 1)[1]): r["url"]
            for r in docs.select("url").collect()}


@pytest.mark.parametrize("kind", KINDS)
def test_append_resolves_keys_on_the_driver(spark, workdir, docs, kind,
                                            monkeypatch):
    """The driver-side resolution of a delta, against a rebuild of the
    live corpus: a key upserted AND deleted in one batch is gone (deletes
    win); an upsert of an already-tombstoned key brings it back; a null
    ``warc_ts`` loses to a set one; exact copies of a row, even in
    different partitions, give one doc; and replaying a batch on the
    same head, partitioned differently and analyzed over several tasks,
    gives identical ids."""
    n = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")
    url = _url_of(docs)
    schema = "url string, text string, warc_ts timestamp"
    idx0 = _build(spark, kind, docs.filter(n < 120),
                  f"{workdir}/drv_base_{kind}")
    delta1 = docs.filter((n >= 120) & (n < 130)).unionByName(
        spark.createDataFrame(
            [(url[3], "doomed upsert nectarine"),
             (url[7], "fresh content papaya")], "url string, text string"))
    idx1 = append_delta(
        spark, idx0, f"{workdir}/drv_g1_{kind}", delta_docs=delta1,
        delete_keys=spark.createDataFrame([(url[3],), (url[5],)],
                                          "url string"), key_col="url")
    import datetime

    ts = datetime.datetime(2024, 6, 1)
    delta2 = spark.createDataFrame(
        [(url[5], "resurrected zucchini text", None),
         (url[9], "stale ocelot words", None),
         (url[9], "fresh quokka words", ts),
         (url[13], "twin persimmon text", ts),
         (url[13], "twin persimmon text", ts)], schema)
    idx2 = append_delta(spark, idx1, f"{workdir}/drv_g2_{kind}",
                        delta_docs=delta2, key_col="url")

    keys = [r["url"] for r in idx2.docs.select("url").collect()]
    assert url[3] not in keys
    assert all(keys.count(url[i]) == 1 for i in (5, 7, 9, 13))
    assert len(keys) == len(set(keys)) == 129
    mods = spark.createDataFrame(
        [(url[5], "resurrected zucchini text"),
         (url[7], "fresh content papaya"),
         (url[9], "fresh quokka words"),
         (url[13], "twin persimmon text")], "url string, text string")
    ref = _build(spark, kind, _live(docs.filter(n < 130), {url[3]}, mods),
                 f"{workdir}/drv_ref_{kind}")
    assert idx2.n_docs == ref.n_docs
    got_d = {r["term"]: (r["df"], r["cf"])
             for r in idx2.dictionary.collect()}
    assert got_d == {r["term"]: (r["df"], r["cf"])
                     for r in ref.dictionary.collect()}
    _assert_same_results(idx2, ref,
                         QUERIES + ["quokka", "ocelot", "zucchini"])

    from marc_solr_profiling_spark.plans import generations

    monkeypatch.setattr(generations, "_TINY_DELTA_DOCS", 0)
    replay = append_delta(spark, idx1, f"{workdir}/drv_g2r_{kind}",
                          delta_docs=delta2.repartition(3), key_col="url")
    for st in ("docs", "stats", "dictionary"):
        assert (sorted(map(tuple, replay.store.read_stage(spark,
                                                          st).collect()))
                == sorted(map(tuple, idx2.store.read_stage(spark,
                                                           st).collect()))
                ), st


@pytest.mark.parametrize("kind", KINDS)
def test_append_keyed_by_internal_id(spark, workdir, docs, kind):
    """``key_col="doc_id"``: a delta whose keys are exactly the next ids
    keeps them as its ids (no ``fresh_ids``), and deletes by id then hit
    the right documents — equal to a rebuild of the live set."""
    n = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")
    numbered = docs.withColumn("doc_id", n)
    kw = dict(key_col="doc_id", id_col="doc_id", chain="text", n_salts=4,
              block_size=32)

    def build(df, path):
        if kind == "single":
            return build_index(spark, df, path, **kw)
        return build_multifield_index(spark, df, path, fields=FIELDS, **kw)

    idx0 = build(numbered.filter(n < 100), f"{workdir}/iid_base_{kind}")
    idx1 = append_delta(
        spark, idx0, f"{workdir}/iid_g1_{kind}", key_col="doc_id",
        delta_docs=numbered.filter((n >= 100) & (n < 120)),
        delete_keys=spark.createDataFrame([(3,), (50,)], "doc_id long"))
    assert idx1.store.get_meta()["fresh_ids"] is False
    idx2 = append_delta(
        spark, idx1, f"{workdir}/iid_g2_{kind}", key_col="doc_id",
        delete_keys=spark.createDataFrame([(110,)], "doc_id long"))
    live = numbered.filter((n < 120) & ~n.isin(3, 50, 110))
    ref = build(live, f"{workdir}/iid_ref_{kind}")
    assert (sorted(r["doc_id"] for r in idx2.docs.collect())
            == sorted(r["doc_id"] for r in live.select("doc_id").collect()))
    for q in QUERIES:
        kw_q = dict(qf=QF, tie=0.1) if kind == "multi" else {}
        got, want = (
            [(r["doc_id"], round(r["score"], 9)) for r in wand_topk(
                ix, q, k=10, with_url=False, **kw_q).collect()]
            for ix in (idx2, ref))
        assert got == want, q


@pytest.mark.parametrize("kind", KINDS)
def test_append_on_a_base_whose_ids_are_not_key_ordered(spark, workdir,
                                                         docs, kind):
    """A base built with ``id_col`` holds docs in id order, not key
    order, so the driver's key lookups prune fewer row groups — and
    still find every key: upserts and deletes by url stay exact."""
    n = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")
    url = _url_of(docs)
    shuffled = docs.withColumn("rid", (n * 37) % 263)  # a permutation
    kw = dict(key_col="url", id_col="rid", chain="text", n_salts=4,
              block_size=32)
    base_docs = shuffled.filter(n < 200)
    if kind == "single":
        idx0 = build_index(spark, base_docs, f"{workdir}/uo_base_{kind}",
                           **kw)
    else:
        idx0 = build_multifield_index(
            spark, base_docs, f"{workdir}/uo_base_{kind}", fields=FIELDS,
            **kw)
    mods = docs.filter(n.isin(4, 77, 150)).withColumn(
        "text", F.concat(F.lit("fresh content entirely "), F.col("text")))
    dead = {url[i] for i in (8, 121, 199)}
    idx1 = append_delta(
        spark, idx0, f"{workdir}/uo_g1_{kind}", key_col="url",
        delta_docs=docs.filter(n >= 200).unionByName(mods),
        delete_keys=spark.createDataFrame([(u,) for u in dead],
                                          "url string"))
    assert idx1.n_deletes() == 6
    ref = _build(spark, kind, _live(docs, dead, mods),
                 f"{workdir}/uo_ref_{kind}")
    assert idx1.n_docs == ref.n_docs
    _assert_same_results(idx1, ref)


@pytest.mark.parametrize("kind", KINDS)
def test_append_that_tombstones_nothing_commits_no_delete_stages(
        spark, workdir, docs, kind):
    """New keys only, on a chain without deletes: the generation commits
    no (empty) ``deletes`` or ``del_segments`` stage, its head reports
    no tombstones, and it serves what a rebuild serves."""
    n = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")
    idx0 = _build(spark, kind, docs.filter(n < 150),
                  f"{workdir}/nt_base_{kind}")
    idx1 = append_delta(
        spark, idx0, f"{workdir}/nt_g1_{kind}", key_col="url",
        delta_docs=docs.filter((n >= 150) & (n < 170)),
        delete_keys=spark.createDataFrame([("http://absent.example/",)],
                                          "url string"))
    for st in ("deletes", "del_segments"):
        assert not idx1.store.stage_complete(st), st
    assert idx1.n_deletes() == 0
    assert idx1.del_postings() is None
    ref = _build(spark, kind, docs.filter(n < 170),
                 f"{workdir}/nt_ref_{kind}")
    _assert_same_results(idx1, ref)


def test_positional_chain_upsert_and_delete(spark, workdir, docs):
    """A positional chain resolved on the driver: an upserted doc's old
    positions leave with its tombstone, its new text serves phrases, and
    phrase results equal a positional rebuild of the live set."""
    n = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")
    url = _url_of(docs)
    kw = dict(key_col="url", chain="text", n_salts=4, block_size=32,
              positions=True)
    idx0 = build_index(spark, docs.filter(n < 150), f"{workdir}/pu_base",
                       **kw)
    hit = phrase_topk(idx0, "of the", k=1, with_url=True).collect()
    assert hit, "corpus must contain the probe phrase"
    victim = hit[0]["url"]
    mods = spark.createDataFrame(
        [(victim, "rewritten page of the harbour"),
         (url[2], "another harbour of the coast")], "url string, text string")
    idx1 = append_delta(
        spark, idx0, f"{workdir}/pu_g1", key_col="url",
        delta_docs=docs.filter((n >= 150) & (n < 170)).unionByName(mods),
        delete_keys=spark.createDataFrame([(url[6],)], "url string"))
    ref = build_index(
        spark, _live(docs.filter(n < 170), {url[6]}, mods),
        f"{workdir}/pu_ref", **kw)
    for q in ("of the", "harbour of the"):
        got, want = (
            {(r["url"], round(r["score"], 9)) for r in phrase_topk(
                ix, q, k=20, with_url=True).collect()}
            for ix in (idx1, ref))
        assert got == want, q
