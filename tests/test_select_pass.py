"""One kernel pass per relevance /select (operators/wand.py select_pass,
plans/select.py solr_select_physical): numFound, the top-k page and the
index-only facets must equal the composition of the public operators
(``matching_doc_ids`` count, ``wand_topk`` ranked on the rounded score,
``facet_match_counts``) for both index kinds over a 3-generation chain
with tombstones, both with the tombstones riding the scan and with them
applied physically (the chain optimized); a request on an open handle
stays within three Spark jobs (one, with no exchange, once the handle is
warm); stage reads are resolved once per store; requests leave no cached
block behind. The salted pass answers the same for every salt-range
width, over stages whose files span many salts and over manifests that
do not record salt ranges; an append by internal id refuses a chain
whose ids are no longer the keys."""

import json
import os
import shutil
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

import pytest
from pyspark.sql import functions as F

from marc_solr_profiling_spark.functions.analyzer import ANALYZERS
from marc_solr_profiling_spark.operators.wand import (
    _topk_pass,
    explain_topk_phys,
    facet_match_counts,
    grouped_topk_phys,
    matching_doc_ids,
    resolve_plan,
    select_pass,
    wand_topk,
    wand_topk_batch,
)
from marc_solr_profiling_spark.plans.build import build_index, open_index
from marc_solr_profiling_spark.plans.generations import (
    append_delta,
    merge_generations,
)
from marc_solr_profiling_spark.plans.lineage import IndexStore
from marc_solr_profiling_spark.plans.multifield import build_multifield_index
from marc_solr_profiling_spark.plans.select import (
    solr_select,
    solr_select_physical,
)

from conftest import SF_DIR

Q = "spark merge window stream"
QF = {"title": 2.0, "body": 1.0}
FACETS = ["lang", "source"]
# (q, fq, start, min_match, facet_fields): q, q+fq, q+fq+facet, page 2,
# an absent term, mm = AND
SHAPES = [
    (Q, None, 0, 1, []),
    (Q, ["lang:en"], 0, 1, []),
    (Q, ["lang:en"], 0, 1, FACETS),
    (Q, None, 10, 1, FACETS),
    ("zzqqxxabsent", ["lang:en"], 0, 1, FACETS),
    ("spark merge", None, 0, "100%", FACETS),
]


@pytest.fixture(scope="module")
def workdir():
    d = tempfile.mkdtemp(prefix="select_pass_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def docs(spark):
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").persist()
    d.count()
    yield d
    d.unpersist()


def _chain(spark, workdir, docs, kind):
    """base(300 docs) -> g1(deletes) -> g2(+70 docs, 10 of them upserts,
    and deletes). Deletes address keys below 280, whose ids are still
    the keys (appended docs get fresh ids)."""
    base_docs = docs.filter(F.col("doc_id") < 300)
    if kind == "single":
        base = build_index(
            spark, base_docs, f"{workdir}/{kind}_base", key_col="doc_id",
            id_col="doc_id", chain="simple", n_salts=4, block_size=32,
            filter_cols=["lang", "source"])
    else:
        base = build_multifield_index(
            spark, base_docs, f"{workdir}/{kind}_base",
            fields=[("title", 8), ("body", None)], key_col="doc_id",
            id_col="doc_id", chain="simple", n_salts=4, block_size=32,
            filter_cols=["lang", "source"])
    g1 = append_delta(
        spark, base, f"{workdir}/{kind}_g1",
        delete_keys=docs.filter(
            (F.col("doc_id") % 9 == 1) & (F.col("doc_id") < 280)
        ).select("doc_id"),
        key_col="doc_id")
    return append_delta(
        spark, g1, f"{workdir}/{kind}_g2",
        delta_docs=docs.filter(
            (F.col("doc_id") >= 290) & (F.col("doc_id") < 360)),
        delete_keys=docs.filter(
            (F.col("doc_id") % 16 == 2) & (F.col("doc_id") < 280)
        ).select("doc_id"),
        key_col="doc_id")


@pytest.fixture(scope="module")
def chains(spark, workdir, docs):
    return {kind: _chain(spark, workdir, docs, kind)
            for kind in ("single", "multi")}


def _groups(idx, q):
    toks = list(dict.fromkeys(ANALYZERS[idx.chain](q)))
    return {f + idx.sep + t: i for f in QF for i, t in enumerate(toks)}


def _composition(idx, q, fq, start, mm, facet_fields, qf, rows=10):
    """The request as the public operators answer it one by one."""
    groups = _groups(idx, q) if qf else None
    n_found = matching_doc_ids(idx, q, min_match=mm, filter_queries=fq,
                               term_groups=groups).count()
    if qf:
        top = wand_topk(idx, q, qf=qf, tie=0.1, k=start + rows,
                        min_match=mm, filter_queries=fq, round_to=4,
                        with_url=False)
    else:
        top = wand_topk(idx, q, k=start + rows, with_url=False,
                        min_match=mm, filter_queries=fq).select(
            "doc_id", F.round("score", 4).alias("score"))
    # rank as the response does: (rounded score desc, key asc) — on the
    # driver, the top-(start+rows) rows are few
    ranked = sorted(((r["doc_id"], r["score"]) for r in top.collect()),
                    key=lambda t: (-t[1], t[0]))
    page = [(i, d, s) for i, (d, s) in enumerate(ranked, 1) if i > start]
    facets = set()
    if facet_fields:
        fm = facet_match_counts(idx, q, facet_fields=facet_fields,
                                filter_queries=fq, min_match=mm,
                                term_groups=groups)
        by_field: dict = {}
        for r in fm.collect():
            if r["facet_field"] != "__num_found__":
                by_field.setdefault(r["facet_field"], []).append(
                    (r["facet_value"], r["count"]))
        for fld, vals in by_field.items():
            vals.sort(key=lambda t: (-t[1], t[0]))
            facets |= {(fld, v, n, i)
                       for i, (v, n) in enumerate(vals[:21], 1)}
    return n_found, page, facets


def _request(idx, q, fq, start, mm, facet_fields, qf, rows=10):
    resp = solr_select_physical(
        idx, None, q, fq=fq or (), start=start, rows=rows, min_match=mm,
        facet_fields=facet_fields, qf=qf, tie=0.1, round_to=4)
    page = [(r["rank"], r["doc_id"], r["score"])
            for r in resp.docs.orderBy("rank").collect()]
    facets = ({tuple(r) for r in resp.facets.collect()}
              if resp.facets is not None else set())
    return resp.num_found, page, facets


@pytest.fixture(scope="module")
def optimized(spark, workdir, chains):
    """The chains with their tombstones applied physically (built on
    first use, one per kind)."""
    built = {}

    def get(kind):
        if kind not in built:
            opt = merge_generations(spark, chains[kind],
                                    f"{workdir}/{kind}_optimized", keep=0)
            assert opt.deletes_df() is None and len(opt.stores) == 1
            built[kind] = opt
        return built[kind]

    return get


@pytest.mark.parametrize("kind", ["single", "multi"])
# postings: the tombstones ride the scan as ``del_segments`` rows; array
# (the id of the retired driver-array tombstone path): the same chain
# optimized, its tombstones applied physically and no ``del_segments``.
@pytest.mark.parametrize("del_path", ["array", "postings"])
def test_single_pass_equals_operator_composition(spark, chains, optimized,
                                                 kind, del_path):
    chain = chains[kind] if del_path == "postings" else optimized(kind)
    qf = QF if kind == "multi" else None
    idx = open_index(spark, chain.store.path)
    assert (idx.del_postings() is not None) == (del_path == "postings")
    for q, fq, start, mm, ff in SHAPES:
        got = _request(idx, q, fq, start, mm, ff, qf)
        want = _composition(idx, q, fq, start, mm, ff, qf)
        assert got == want, (q, fq, start, mm, ff)
        if q == Q and not fq and not start:
            assert got[0] > 10 and len(got[1]) == 10


def _jobs_in_group(spark, fn, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    ids = st.getJobIdsForGroup(group)
    names = [st.getStageInfo(s).name for j in ids
             for s in st.getJobInfo(j).stageIds
             if st.getStageInfo(s) is not None]
    return ids, names


def test_request_on_open_handle_runs_three_jobs(spark, chains):
    idx = open_index(spark, chains["single"].store.path)

    def request(q):
        resp = solr_select_physical(idx, None, q, fq=["lang:en"],
                                    rows=10, facet_fields=["lang"])
        resp.docs.collect()
        resp.facets.collect()

    request("window stream")  # warms the dictionary cache and tombstones
    ids, names = _jobs_in_group(spark, lambda: request(Q), "select-pass")
    assert 1 <= len(ids) <= 3, names
    assert not any(n.startswith("parquet at") for n in names), names


def test_absent_term_topk_runs_only_the_dictionary_lookup(spark, chains):
    idx = open_index(spark, chains["single"].store.path)
    wand_topk(idx, "spark").collect()  # warms the dictionary cache
    ids, names = _jobs_in_group(
        spark, lambda: wand_topk(idx, "zzqqxxabsent").collect(),
        "absent-topk")
    # the lookup reads the dictionary files on the driver: no job
    assert len(ids) == 0, names


def test_warm_request_and_topk_are_one_job_without_exchange(spark, chains):
    idx = open_index(spark, chains["single"].store.path)

    def request(q):
        resp = solr_select_physical(idx, None, q, fq=["lang:en"],
                                    rows=10, facet_fields=["lang"])
        resp.docs.collect()
        resp.facets.collect()

    request("window stream")
    ids, names = _jobs_in_group(spark, lambda: request(Q), "select-1job")
    assert len(ids) == 1, names
    ids, names = _jobs_in_group(
        spark, lambda: wand_topk(idx, Q, with_url=False).collect(),
        "topk-1job")
    assert len(ids) == 1, names
    plan = resolve_plan(idx, Q, filter_queries=["lang:en"])
    physical = _topk_pass(idx, plan, 10)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in physical and "Scan parquet" not in physical
    # explain: one top-k pass collected once, one pass for its term rows
    ids, names = _jobs_in_group(
        spark, lambda: explain_topk_phys(idx, Q, k=5).collect(), "explain")
    assert len(ids) == 2, names


def test_multifield_match_all_facets(spark, chains, docs):
    """q=*:* facets over a multi-field index (no scoring kernel): the
    live-doc count comes from the per-field stats, like the single-field
    index's n_docs."""
    mf = chains["multi"]
    # the chain's live documents (by key)
    live = docs.filter(
        (F.col("doc_id") < 360) & ~(
            (F.col("doc_id") < 280)
            & ((F.col("doc_id") % 9 == 1) | (F.col("doc_id") % 16 == 2))))
    for q in ("*:*", None):
        phys = solr_select_physical(mf, None, q, qf=QF, rows=5,
                                    facet_fields=["lang"])
        logi = solr_select(live, None, rows=5, facet_fields=["lang"])
        assert phys.num_found == logi.num_found == live.count() > 0
        assert ({tuple(r) for r in phys.facets.collect()}
                == {tuple(r) for r in logi.facets.collect()})


def test_requests_release_what_they_persist(spark, chains, docs):
    sc = spark.sparkContext
    idx = chains["single"]
    meta = docs.select("doc_id", "lang", "source", "n_chars", "text")

    def requests():
        for resp in (
            solr_select_physical(idx, meta, Q, facet_fields=["lang"],
                                 hl=True),
            solr_select_physical(idx, meta, Q, sort="lang asc, doc_id asc",
                                 facet_fields=["n_chars"]),
            solr_select_physical(idx, meta, Q, sort="doc_id asc",
                                 cursor_mark="*", rows=5),
            solr_select_physical(idx, meta, None, fq=["lang:en"],
                                 facet_fields=["n_chars"]),
            solr_select(docs, Q, facet_fields=["lang"], rows=5,
                        facet_ranges=[("n_chars", 0, 10000, 1000)],
                        facet_pivots=[("lang", "source")]),
            solr_select(docs, Q, sort="doc_id asc", cursor_mark="*",
                        rows=5),
        ):
            resp.docs.collect()
            for sec in (resp.facets, resp.highlights, resp.facet_ranges,
                        resp.facet_pivots):
                if sec is not None:
                    sec.collect()

    requests()  # first use persists the cached dictionary
    before = len(sc._jsc.sc().getRDDStorageInfo())
    requests()  # a leak of any of the six shapes would add a block
    assert len(sc._jsc.sc().getRDDStorageInfo()) == before
    for q in ("spark merge", "window stream"):  # distinct grouped requests
        assert grouped_topk_phys(idx, q, "lang").collect()
    assert len(sc._jsc.sc().getRDDStorageInfo()) == before


def test_stage_reads_resolve_once_and_follow_recommits(spark, tmp_path):
    path = str(tmp_path / "memo")
    a = IndexStore(path)
    a.set_fingerprint("v1")
    a.commit_stage("s", spark.range(3).toDF("x"))
    assert a.read_stage(spark, "s") is a.read_stage(spark, "s")
    assert sorted(r["x"] for r in a.read_stage(spark, "s").collect()) == [
        0, 1, 2]
    # a recommit at the same path through another store instance
    b = IndexStore(path)
    b.set_fingerprint("v2")
    b.commit_stage("s", spark.range(5, 7).toDF("x"))
    assert sorted(r["x"] for r in a.read_stage(spark, "s").collect()) == [
        5, 6]
    assert sorted(r["x"] for r in IndexStore(path).read_stage(
        spark, "s").collect()) == [5, 6]


def test_recommitted_index_reopens_with_new_files(spark, docs, tmp_path):
    path = str(tmp_path / "reidx")
    kw = dict(key_col="doc_id", id_col="doc_id", chain="simple",
              n_salts=4, block_size=32)
    first = build_index(spark, docs.filter("doc_id < 100"), path, **kw)
    assert first.segments.count() > 0 and first.n_docs == 100
    # same path, different build parameters: every stage is recommitted
    build_index(spark, docs.filter("doc_id < 200"), path,
                **dict(kw, block_size=16))
    reopened = open_index(spark, path)
    assert reopened.n_docs == 200
    assert (reopened.docs.count() == 200
            and first.store.read_stage(spark, "docs").count() == 200)


def _rounded(rows):
    """Float fields rounded to 9 places: a task's salts are scored in an
    order that moves float sums by a few ulp."""
    return [tuple(round(v, 9) if isinstance(v, float) else v for v in r)
            for r in rows]


def _answers(idx, kind):
    """Every collector's answer over ``idx``, in comparable form."""
    qf = QF if kind == "multi" else None
    groups = _groups(idx, Q) if qf else None
    sp = select_pass(idx, Q, 10, filter_queries=["lang:en"],
                     facet_fields=FACETS, qf=qf,
                     round_to=4 if qf else None)
    out = {
        "select": (sp.num_found, sp.doc_ids.tolist(),
                   _rounded([sp.scores.tolist()]),
                   sorted(sp.facet_counts.items())),
        "topk": _rounded(wand_topk(
            idx, Q, k=10, with_url=False, qf=qf, round_to=4).collect()),
        "match": sorted(r[0] for r in matching_doc_ids(
            idx, Q, filter_queries=["lang:en"],
            term_groups=groups).collect()),
        "facets": sorted(tuple(r) for r in facet_match_counts(
            idx, Q, facet_fields=FACETS, term_groups=groups).collect()),
        "facets_all": sorted(tuple(r) for r in facet_match_counts(
            idx, None, facet_fields=FACETS).collect()),
    }
    if kind == "single":
        queries = [Q, "merge", "stream window", "zzqqxxabsent spark"]
        for mode in ("dense", "sparse"):
            out[mode] = _rounded(wand_topk_batch(
                idx, queries, k=5, mode=mode).collect())
        out["explain"] = sorted(_rounded(explain_topk_phys(
            idx, Q, k=5).collect()))
    return out


def _with_salt_partitions(spark, n, fn):
    key = "spark.marc.saltPartitions"
    if n is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, str(n))
    try:
        return fn()
    finally:
        spark.conf.unset(key)


@pytest.mark.parametrize("kind", ["single", "multi"])
def test_pass_answers_the_same_for_every_salt_range_width(spark, chains,
                                                          kind):
    idx = open_index(spark, chains[kind].store.path)
    want = _answers(idx, kind)
    assert want["select"][0] > 10 and len(want["topk"]) == 10
    for n in (1, 3, idx.n_salts):
        got = _with_salt_partitions(spark, n, lambda: _answers(idx, kind))
        assert got == want, n


def _copy_chain(old_head, new_root):
    """Copy every store of a chain under ``new_root`` (parents rewired);
    returns the new store paths, head first."""
    paths = [st.path for st in old_head.stores]
    new = [os.path.join(new_root, os.path.basename(p)) for p in paths]
    for p, q in zip(paths, new):
        shutil.copytree(p, q)
        with open(os.path.join(q, "manifest.json")) as f:
            m = json.load(f)
        parent = m.get("meta", {}).get("parent")
        if parent:
            m["meta"]["parent"] = new[paths.index(parent)]
        with open(os.path.join(q, "manifest.json"), "w") as f:
            json.dump(m, f)
    return new


def _rewrite_as_one_file(store_path, stage):
    """Rewrite a stage as ONE file holding every salt, rows ordered by
    term so the salts interleave; its manifest entry records no salt
    range (a footer read finds it)."""
    mpath = os.path.join(store_path, "manifest.json")
    with open(mpath) as f:
        m = json.load(f)
    entry = m["stages"][stage]
    sdir = os.path.join(store_path, stage)
    table = pa.concat_tables(
        [pq.read_table(os.path.join(sdir, p["file"]))
         for p in entry["partitions"]]).sort_by("term")
    for p in entry["partitions"]:
        os.remove(os.path.join(sdir, p["file"]))
    name = "part-00000-onefile.parquet"
    pq.write_table(table, os.path.join(sdir, name))
    entry["partitions"] = [{"partition": 0, "file": name,
                            "rows": table.num_rows,
                            "bytes": os.path.getsize(os.path.join(sdir,
                                                                  name))}]
    entry["committed_at"] = entry["committed_at"] + 1.0
    with open(mpath, "w") as f:
        json.dump(m, f)
    return len(set(table.column("salt").to_pylist()))


@pytest.mark.parametrize("kind", ["single", "multi"])
def test_pass_reads_unclustered_files_and_rangeless_manifests(
        spark, chains, kind, tmp_path):
    """Completeness never rests on the one-salt-per-file layout: the
    base's segments and filters rewritten as one file each, every other
    manifest stripped of its salt ranges — the chain answers as before."""
    chain = chains[kind]
    want = _answers(open_index(spark, chain.store.path), kind)
    paths = _copy_chain(chain, str(tmp_path / "copy"))
    for stage in ("segments", "filters"):
        assert _rewrite_as_one_file(paths[-1], stage) == chain.n_salts
    for p in paths[:-1]:
        mpath = os.path.join(p, "manifest.json")
        with open(mpath) as f:
            m = json.load(f)
        for entry in m["stages"].values():
            for part in entry["partitions"]:
                part.pop("salt", None)
        with open(mpath, "w") as f:
            json.dump(m, f)
    copy = open_index(spark, paths[0])
    base = copy.stores[-1]
    assert [f[1:] for f in base.stage_files("segments")] == [
        (0, chain.n_salts - 1)]
    # footers give the stripped head's del_segments files their own salts
    assert all(lo == hi for _, lo, hi in copy.store.stage_files(
        "del_segments"))
    for n in (None, 3):
        got = _with_salt_partitions(spark, n, lambda: _answers(copy, kind))
        assert got == want, n


def test_append_by_internal_id_refuses_a_chain_with_fresh_ids(
        spark, docs, tmp_path):
    """The reproduction chain: base keys 0-299 with id = key; keys
    290-359 appended (ten upserts: their fresh ids 300-369 are not their
    keys); then deleting keys = 2 mod 16 below 340 by ``doc_id`` would
    tombstone the docs whose IDS are those numbers — refused."""
    kw = dict(key_col="doc_id", id_col="doc_id", chain="simple",
              n_salts=4, block_size=32)
    base = build_index(spark, docs.filter(F.col("doc_id") < 300),
                       str(tmp_path / "base"), **kw)
    g1 = append_delta(
        spark, base, str(tmp_path / "g1"), key_col="doc_id",
        delta_docs=docs.filter((F.col("doc_id") >= 290)
                               & (F.col("doc_id") < 360)))
    assert g1.store.get_meta()["fresh_ids"] is True
    assert g1.n_docs == 360
    with pytest.raises(ValueError, match="fresh ids"):
        append_delta(
            spark, g1, str(tmp_path / "g2"), key_col="doc_id",
            delete_keys=docs.filter((F.col("doc_id") % 16 == 2)
                                    & (F.col("doc_id") < 340)
                                    ).select("doc_id"))
    assert not os.path.exists(str(tmp_path / "g2"))
