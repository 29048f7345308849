"""M2/M3: physical index build (salted varbyte segments, lineage/resume)
and WAND query path — rank-identical to the oracle on the reference query
set (north-rule gate)."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from marc_solr_profiling_spark.corpus import generate_query_set, generate_web_pages
from marc_solr_profiling_spark.operators.wand import wand_topk, wand_topk_batch
from marc_solr_profiling_spark.oracle import OracleIndex
from marc_solr_profiling_spark.operators.postings import explode_packed_tf
from marc_solr_profiling_spark.plans.build import build_index

N_DOCS = 200


@pytest.fixture(scope="module")
def pages(spark):
    df = generate_web_pages(spark, N_DOCS, seed=42, partitions=4).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def index(spark, pages, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("idx") / "index")
    return build_index(spark, pages, path, n_salts=4, block_size=32)


@pytest.fixture(scope="module")
def oracle_index(pages):
    rows = pages.select("url", "text").collect()
    return OracleIndex([(r["url"], r["text"]) for r in rows], chain="text")


def test_index_stats_match_oracle(index, oracle_index):
    assert index.n_docs == oracle_index.n_docs
    assert index.avgdl == pytest.approx(oracle_index.avgdl, rel=1e-12)


def test_segments_roundtrip_counts(index, oracle_index):
    seg = index.segments
    # total postings across blocks == oracle posting count
    n_postings = seg.agg(F.sum("n_postings")).collect()[0][0]
    oracle_postings = sum(len(p) for p in oracle_index.postings.values())
    assert n_postings == oracle_postings
    # per-term df matches
    seg_df = {
        r["term"]: r["n"]
        for r in seg.groupBy("term").agg(F.sum("n_postings").alias("n")).collect()
    }
    assert seg_df == {t: len(p) for t, p in oracle_index.postings.items()}


def test_wand_single_query_rank_identical(index, oracle_index):
    queries = generate_query_set(50, seed=42)
    for q in queries[:10]:
        got = [
            (r["url"], r["score"])
            for r in wand_topk(index, q, k=10).collect()
        ]
        want = oracle_index.topk(q, k=10)
        assert [u for u, _ in got] == [u for u, _ in want], f"rank mismatch q={q!r}"
        for (gu, gs), (wu, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9)


def test_wand_batch_rank_identical(index, oracle_index):
    queries = generate_query_set(50, seed=42)
    url_by_id = {
        r["doc_id"]: r["url"] for r in index.docs.select("doc_id", "url").collect()
    }
    res = wand_topk_batch(index, queries, k=10).collect()
    by_qid: dict[int, list] = {}
    for r in res:
        by_qid.setdefault(r["qid"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, q in enumerate(queries):
        want = oracle_index.topk(q, k=10)
        got = sorted(by_qid.get(qid, []))
        assert len(got) == len(want), f"qid={qid} q={q!r}"
        for (rank, doc_id, score), (wurl, wscore) in zip(got, want):
            assert url_by_id[doc_id] == wurl, f"qid={qid} rank={rank}"
            assert score == pytest.approx(wscore, rel=1e-9)


def test_duplicate_docs_tie_break(index, oracle_index):
    # edge docs 0 and 1 are NFC/NFD variants of the same text -> equal
    # scores; ranking must break ties by url/doc_id identically to oracle
    got = [r["url"] for r in wand_topk(index, "voyage", k=10).collect()]
    want = [u for u, _ in oracle_index.topk("voyage", k=10)]
    assert got == want


def test_resume_skips_completed_stages(spark, tmp_path_factory):
    pages = generate_web_pages(spark, 60, seed=7, partitions=2)
    path = str(tmp_path_factory.mktemp("idx2") / "index")
    idx1 = build_index(spark, pages, path, n_salts=4, block_size=32)
    manifest1 = idx1.store.lineage()
    t1 = {s: m["committed_at"] for s, m in manifest1["stages"].items()}
    # second build over the same path: every stage must be skipped
    idx2 = build_index(spark, pages, path, n_salts=4, block_size=32)
    t2 = {s: m["committed_at"] for s, m in idx2.store.lineage()["stages"].items()}
    assert t1 == t2  # timestamps unchanged -> nothing recomputed
    assert set(t1) == {"docs", "tf", "stats", "dictionary", "segments"}
    # lineage rows present for every stage
    for s, m in manifest1["stages"].items():
        assert m["rows"] > 0 and len(m["partitions"]) >= 1


@pytest.fixture(scope="module")
def partition_builds(spark, tmp_path_factory):
    """The same 80 pages built over one range partition, over four, and
    with their key-order ranks as ``id_col``."""
    pages = generate_web_pages(spark, 80, seed=11, partitions=3)
    ranked = pages.withColumn(
        "rank", F.row_number().over(Window.orderBy("url")) - 1)
    root = tmp_path_factory.mktemp("idx_parts")
    kw = dict(n_salts=4, block_size=32, filter_cols=["lang"])
    return [
        build_index(spark, pages, str(root / "p1"), partitions=1, **kw),
        build_index(spark, pages, str(root / "p4"), partitions=4, **kw),
        build_index(spark, ranked, str(root / "id"), id_col="rank", **kw),
    ]


def _rows(df):
    return sorted(repr(tuple(r)) for r in df.collect())


def test_doc_ids_dense_and_url_ordered(partition_builds):
    # ids from per-partition ordinal shifts must be dense and follow url
    # order however the pages were partitioned
    for idx in partition_builds:
        by_id = sorted(idx.docs.select("doc_id", "url").collect())
        assert [r["doc_id"] for r in by_id] == list(range(80))
        urls = [r["url"] for r in by_id]
        assert urls == sorted(urls)  # docid order == url order (tie-break parity)


def test_build_does_not_depend_on_partitioning(spark, partition_builds):
    """Identical docs/segments/dictionary/filters/stats rows, tf postings
    and top-k whatever the range partitioning or id source."""
    want = partition_builds[0]
    for idx in partition_builds[1:]:
        for stage in ("docs", "segments", "dictionary", "filters", "stats"):
            assert _rows(idx.store.read_stage(spark, stage)) == _rows(
                want.store.read_stage(spark, stage)), stage
        assert _rows(explode_packed_tf(idx.store.read_stage(spark, "tf"))) \
            == _rows(explode_packed_tf(want.store.read_stage(spark, "tf")))
        for q in ("voyage", "the of and"):
            assert ([(r["url"], r["score"])
                     for r in wand_topk(idx, q, k=10).collect()]
                    == [(r["url"], r["score"])
                        for r in wand_topk(want, q, k=10).collect()]), q


def test_strict_mode_matches_overlap(spark, tmp_path_factory):
    """The overlapped build (every stage committed concurrently from the
    cached analyzed frame) must produce byte-identical stage contents to
    a strict snapshot->snapshot build, where tf is committed first and
    docs/stats/segments/dictionary are built from the committed tf."""
    pages = generate_web_pages(spark, 80, seed=11, partitions=2)
    root = tmp_path_factory.mktemp("idx_strict")
    kw = dict(n_salts=4, block_size=32)
    idx_a = build_index(spark, pages, str(root / "a"), **kw)
    strict = str(root / "b")
    build_index(spark, pages, strict, **kw)
    # keep only the tf snapshot; the rebuild reads every later stage
    # back from it instead of from the cached analyzed frame
    with open(os.path.join(strict, "manifest.json")) as f:
        m = json.load(f)
    for stage in ("docs", "stats", "segments", "dictionary"):
        del m["stages"][stage]
        shutil.rmtree(os.path.join(strict, stage))
    with open(os.path.join(strict, "manifest.json"), "w") as f:
        json.dump(m, f)
    idx_b = build_index(spark, pages, strict, **kw)
    assert idx_a.n_docs == idx_b.n_docs
    assert idx_a.avgdl == pytest.approx(idx_b.avgdl)
    for stage in ("segments", "docs", "dictionary", "stats"):
        assert _rows(idx_a.store.read_stage(spark, stage)) == _rows(
            idx_b.store.read_stage(spark, stage)), stage
    qa = [r["url"] for r in wand_topk(idx_a, "voyage", k=10).collect()]
    qb = [r["url"] for r in wand_topk(idx_b, "voyage", k=10).collect()]
    assert qa == qb


def test_config_change_invalidates(spark, tmp_path_factory):
    pages = generate_web_pages(spark, 60, seed=7, partitions=2)
    path = str(tmp_path_factory.mktemp("idx3") / "index")
    build_index(spark, pages, path, n_salts=4, block_size=32)
    with open(os.path.join(path, "manifest.json")) as f:
        fp1 = json.load(f)["fingerprint"]
    idx = build_index(spark, pages, path, n_salts=8, block_size=32)
    with open(os.path.join(path, "manifest.json")) as f:
        m = json.load(f)
    assert m["fingerprint"] != fp1
    assert idx.segments.agg(F.max("salt")).collect()[0][0] <= 7


def test_partial_resume_after_tf(spark, tmp_path_factory):
    """Crash-after-tf resume: only tf committed, every later stage (stats,
    docs-in-thread, segments, dictionary) rebuilds from the snapshot and
    the result is identical to an uninterrupted build."""
    pages = generate_web_pages(spark, 60, seed=7, partitions=2)
    full_path = str(tmp_path_factory.mktemp("idx4") / "full")
    idx_full = build_index(spark, pages, full_path, n_salts=4, block_size=32)

    part_path = str(tmp_path_factory.mktemp("idx4") / "partial")
    build_index(spark, pages, part_path, n_salts=4, block_size=32)
    # simulate a crash that lost everything committed after tf
    with open(os.path.join(part_path, "manifest.json")) as f:
        m = json.load(f)
    tf_committed_at = m["stages"]["tf"]["committed_at"]
    for stage in ("docs", "stats", "segments", "dictionary"):
        del m["stages"][stage]
        import shutil

        shutil.rmtree(os.path.join(part_path, stage))
    with open(os.path.join(part_path, "manifest.json"), "w") as f:
        json.dump(m, f)

    idx_resumed = build_index(spark, pages, part_path, n_salts=4, block_size=32)
    m2 = idx_resumed.store.lineage()
    # tf untouched, later stages rebuilt
    assert m2["stages"]["tf"]["committed_at"] == tf_committed_at
    assert set(m2["stages"]) == {"docs", "tf", "stats", "segments", "dictionary"}
    # identical stats and identical query results
    assert idx_resumed.n_docs == idx_full.n_docs
    assert idx_resumed.avgdl == pytest.approx(idx_full.avgdl)
    got = [(r["doc_id"], round(r["score"], 9))
           for r in wand_topk(idx_resumed, "voyage", k=5, with_url=False).collect()]
    want = [(r["doc_id"], round(r["score"], 9))
            for r in wand_topk(idx_full, "voyage", k=5, with_url=False).collect()]
    assert got == want


def test_wand_batch_sparse_mode_rank_identical(index, oracle_index):
    # per-query block-max pruning with the shared decode cache must be
    # rank- and score-identical to the dense decode-once kernel
    queries = generate_query_set(50, seed=42)
    url_by_id = {
        r["doc_id"]: r["url"] for r in index.docs.select("doc_id", "url").collect()
    }
    res = wand_topk_batch(index, queries, k=10, mode="sparse").collect()
    by_qid: dict[int, list] = {}
    for r in res:
        by_qid.setdefault(r["qid"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, q in enumerate(queries):
        want = oracle_index.topk(q, k=10)
        got = sorted(by_qid.get(qid, []))
        assert len(got) == len(want), f"qid={qid} q={q!r}"
        for (rank, doc_id, score), (wurl, wscore) in zip(got, want):
            assert url_by_id[doc_id] == wurl, f"qid={qid} rank={rank}"
            assert score == pytest.approx(wscore, rel=1e-9)


def test_wand_batch_sparse_skips_blocks(spark, index):
    # a disjoint-term sparse batch must actually prune blocks; the auto
    # switch must pick the sparse kernel for it
    terms = [
        r["term"]
        for r in index.dictionary.orderBy(F.desc("df")).limit(40).collect()
    ]
    # 20 queries, pairwise-disjoint term pairs -> every fan-in is 1
    batch = [f"{terms[2 * i]} {terms[2 * i + 1]}" for i in range(20)]
    acc = spark.sparkContext.accumulator(0)
    res = wand_topk_batch(index, batch, k=3, skip_acc=acc)
    assert res.count() > 0
    assert int(acc.value) > 0, "sparse batch should prune blocks"


def test_wand_batch_auto_picks_dense_for_hot_overlap(spark, index):
    # every query shares the same hot terms -> shared df share is 1.0 ->
    # auto must stay dense (skip accumulator untouched by dense kernel)
    terms = [
        r["term"]
        for r in index.dictionary.orderBy(F.desc("df")).limit(3).collect()
    ]
    batch = [" ".join(terms)] * 8
    acc = spark.sparkContext.accumulator(0)
    res = wand_topk_batch(index, batch, k=3, skip_acc=acc)
    assert res.count() > 0
    assert int(acc.value) == 0


def test_wand_topk_index_without_url_column(spark, tmp_path):
    """An index keyed on a non-url column (the spark-submit build path
    with --key-col doc_id) has no url in its docs stage; wand_topk's
    default with_url=True must degrade gracefully instead of failing
    column resolution."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = build_index(spark, docs, str(tmp_path / "idx"), key_col="doc_id",
                      id_col="doc_id", text_col="text", n_salts=2,
                      block_size=32)
    rows = wand_topk(idx, "the batch", k=5).collect()
    assert len(rows) == 5
    assert set(rows[0].asDict()) == {"doc_id", "score"}


def test_wand_term_boosts_scale_exactly(index):
    """Per-clause boosts through the physical kernel (wand_topk
    term_boosts): a uniform 2x boost on every clause must exactly
    double every score with identical ranking — this exercises the
    boost fold through block caps, pruning thetas, and the heap."""
    q = generate_query_set(50, seed=42)[0]
    base = [(r["doc_id"], r["score"])
            for r in wand_topk(index, q, k=10, with_url=False).collect()]
    boosts = {t: 2.0 for t in q.split()}
    doubled = [(r["doc_id"], r["score"])
               for r in wand_topk(index, q, k=10, with_url=False,
                                  term_boosts=boosts).collect()]
    assert [d for d, _ in doubled] == [d for d, _ in base]
    for (d0, s0), (d1, s1) in zip(base, doubled):
        assert s1 == pytest.approx(2.0 * s0, rel=1e-12)


def test_wand_term_boost_single_clause(index, oracle_index):
    """Boosting ONE clause w times must equal brute-force BM25 where
    that term's idf is scaled by w (the dismax qf-fold contract)."""
    q = generate_query_set(50, seed=42)[1]
    t0 = q.split()[0]
    got = [(r["url"], r["score"])
           for r in wand_topk(index, q, k=10,
                              term_boosts={t0: 3.0}).collect()]
    # oracle: score = sum over terms of w_t * idf_t * tf_norm; replay
    # via two oracle queries — full query minus the unboosted single
    # term gives the term's own contribution
    want = {}
    for u, s in oracle_index.topk(q, k=10**9):
        want[u] = s
    for u, s in (oracle_index.topk(t0, k=10**9)
                 if t0 else []):
        want[u] = want.get(u, 0.0) + 2.0 * s  # +2x on top of the 1x in q
    top = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert [u for u, _ in got] == [u for u, _ in top]
    for (gu, gs), (wu, ws) in zip(got, top):
        assert gs == pytest.approx(ws, rel=1e-9)


def _constant_score_expected(oracle_index, q, pred, k=10, excl_term=None):
    """Brute-force: BM25 OR-scores + 1.0 per doc holding any term
    matching pred, minus docs holding excl_term."""
    scores = oracle_index.score_query(q)
    W = set()
    for t, pl in oracle_index.postings.items():
        if pred(t):
            W.update(pl)
    want = {u: s + (1.0 if u in W else 0.0) for u, s in scores.items()}
    for u in W:
        want.setdefault(u, 1.0)
    if excl_term is not None:
        for u in oracle_index.postings.get(excl_term, {}):
            want.pop(u, None)
    return sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def test_wand_wildcard_constant_score(index, oracle_index):
    """Wildcard (CONSTANT_SCORE_REWRITE) through the physical index:
    +1.0 per doc holding any prefix-matching term, OR-combined —
    including docs matching ONLY the wildcard."""
    q = generate_query_set(50, seed=42)[2]
    prefix = sorted(oracle_index.postings)[len(oracle_index.postings) // 3][:2]
    got = [(r["url"], r["score"])
           for r in wand_topk(index, q, k=10, wildcard=prefix).collect()]
    want = _constant_score_expected(
        oracle_index, q, lambda t: t.startswith(prefix))
    assert [u for u, _ in got] == [u for u, _ in want]
    for (gu, gs), (wu, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-9)


def test_wand_term_range_constant_score(index, oracle_index):
    q = generate_query_set(50, seed=42)[3]
    vocab = sorted(oracle_index.postings)
    lo, hi = vocab[len(vocab) // 2], vocab[2 * len(vocab) // 3]
    got = [(r["url"], r["score"])
           for r in wand_topk(index, q, k=10,
                              term_range=(lo, hi)).collect()]
    want = _constant_score_expected(
        oracle_index, q, lambda t: lo <= t <= hi)
    assert [u for u, _ in got] == [u for u, _ in want]
    for (gu, gs), (wu, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-9)


def test_wand_wildcard_with_exclusion(index, oracle_index):
    """Constant-score clause + MUST_NOT in one request: excluded docs
    vanish even when they match the wildcard."""
    q = generate_query_set(50, seed=42)[4]
    prefix = sorted(oracle_index.postings)[len(oracle_index.postings) // 4][:2]
    # exclude a mid-df term
    ex = max(oracle_index.postings,
             key=lambda t: (len(oracle_index.postings[t]), t))
    got = [(r["url"], r["score"])
           for r in wand_topk(index, q, k=10, wildcard=prefix,
                              exclude_query=ex).collect()]
    want = _constant_score_expected(
        oracle_index, q, lambda t: t.startswith(prefix), excl_term=ex)
    assert [u for u, _ in got] == [u for u, _ in want]
    for (gu, gs), (wu, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-9)


def test_wand_query_string_front_door(index):
    """String front door == structured wand_topk on the same clauses."""
    from marc_solr_profiling_spark.functions.query_parser import (
        QueryStringError)
    from marc_solr_profiling_spark.operators.wand import (
        wand_query_string_topk)

    q = generate_query_set(50, seed=42)[5]
    words = q.split()
    qs = f"{words[0]}^2 " + " ".join(words[1:]) + " -voyage st*"
    via_string = [tuple(r) for r in wand_query_string_topk(
        index, qs, k=10, with_url=False).collect()]
    structured = [tuple(r) for r in wand_topk(
        index, " ".join(words), k=10, with_url=False,
        exclude_query="voyage", term_boosts={words[0]: 2.0},
        wildcard=["st"]).collect()]
    assert via_string == structured

    import pytest as _pytest
    for bad in ['"a phrase" term', "word~2", "+must other", "only*"]:
        with _pytest.raises(QueryStringError):
            wand_query_string_topk(index, bad)
