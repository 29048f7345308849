"""queryResultCache serving layer (operators/resultcache.py): window
pages served from one kernel run, LRU eviction, deep-page re-expansion,
searcher-scoped invalidation via autowarm."""

import pytest
from pyspark.sql import functions as F  # noqa: F401

from marc_solr_profiling_spark.operators import resultcache as rc
from marc_solr_profiling_spark.operators.wand import wand_topk
from marc_solr_profiling_spark.plans.build import build_index

from conftest import SF_DIR

Q = "spark merge window stream"


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    return build_index(
        spark, docs, str(tmp_path_factory.mktemp("rcidx") / "i"),
        key_col="doc_id", id_col="doc_id", chain="simple",
        n_salts=4, block_size=32,
    )


def test_pages_inside_window_are_one_fetch(spark, idx, monkeypatch):
    s = rc.CachedSearcher(idx, size=8, window=40)
    calls = []
    real = wand_topk

    def counting(*a, **kw):
        calls.append(kw.get("k"))
        return real(*a, **kw)

    monkeypatch.setattr("marc_solr_profiling_spark.operators.wand.wand_topk",
                        counting)
    p1 = s.search(Q, 0, 10)
    p2 = s.search(Q, 10, 10)
    p3 = s.search(Q, 20, 10)
    assert len(calls) == 1 and calls[0] == 40
    assert s.stats.hits == 2 and s.stats.misses == 1
    # pages agree with a direct top-30 (scores rounded: decode order
    # differs by fp-association ulps between different-k runs)
    want = [(r["doc_id"], round(r["score"], 6))
            for r in real(idx, Q, k=30, with_url=False).collect()]
    assert [(d, round(s, 6)) for d, s in p1 + p2 + p3] == want


def test_deep_page_expands_window(spark, idx, monkeypatch):
    s = rc.CachedSearcher(idx, size=8, window=20)
    calls = []
    real = wand_topk

    def counting(*a, **kw):
        calls.append(kw.get("k"))
        return real(*a, **kw)

    monkeypatch.setattr("marc_solr_profiling_spark.operators.wand.wand_topk",
                        counting)
    s.search(Q, 0, 10)           # fetch k=20
    deep = s.search(Q, 50, 10)   # past window -> k=60 refetch
    assert calls == [20, 60]
    want = [(r["doc_id"], round(r["score"], 6))
            for r in real(idx, Q, k=60, with_url=False).collect()]
    assert [(d, round(s, 6)) for d, s in deep] == want[50:60]
    # and now the bigger window serves shallower pages from cache
    s.search(Q, 30, 10)
    assert calls == [20, 60]


def test_lru_eviction_and_distinct_keys(spark, idx):
    s = rc.CachedSearcher(idx, size=2, window=10)
    s.search("spark", 0, 5)
    s.search("merge", 0, 5)
    s.search("stream", 0, 5)     # evicts "spark"
    assert s.stats.evictions == 1
    assert len(s._lru) == 2
    # mm changes the key
    s2 = rc.CachedSearcher(idx, size=8, window=10)
    s2.search(Q, 0, 5, min_match=1)
    b = s2.search(Q, 0, 5, min_match=4)
    assert s2.stats.misses == 2  # distinct cache keys per mm
    want = [(r["doc_id"], round(r["score"], 6))
            for r in wand_topk(idx, Q, k=10, with_url=False,
                               min_match=4).collect()][:5]
    assert [(d, round(s, 6)) for d, s in b] == want


def test_exhausted_short_results_never_refetch(spark, idx, monkeypatch):
    s = rc.CachedSearcher(idx, size=8, window=500)
    calls = []
    real = wand_topk

    def counting(*a, **kw):
        calls.append(kw.get("k"))
        return real(*a, **kw)

    monkeypatch.setattr("marc_solr_profiling_spark.operators.wand.wand_topk",
                        counting)
    first = s.search("zzzznope spark", 0, 10)
    s.search("zzzznope spark", 400, 50)  # beyond matches: exhausted hit
    assert len(calls) == 1
    assert s.stats.hits == 1
    assert first  # 'spark' matches something


def test_autowarm_new_searcher(spark, idx, monkeypatch):
    old = rc.CachedSearcher(idx, size=8, window=10)
    old.search(Q, 0, 5)
    old.search("voyage", 0, 5)
    new = rc.CachedSearcher(idx, size=8, window=10).warm(old)
    assert new.stats.misses == 2
    new.search(Q, 0, 5)
    assert new.stats.hits == 1


def test_searcher_manager_commit_autowarms(spark, idx, tmp_path):
    """Generational commit drives the autowarm (VERDICT r4 item 9): a
    SearcherManager committed with the appended chain serves the first
    post-commit page from the warmed window (hit, no kernel run) and the
    page reflects the NEW generation's content."""
    from marc_solr_profiling_spark.plans.generations import append_delta

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").withColumn(
        "url", F.format_string("d%05d", F.col("doc_id")))
    base = build_index(
        spark, docs.filter("doc_id < 300").select("url", "text"),
        str(tmp_path / "smbase"), key_col="url", chain="simple",
        n_salts=4, block_size=32,
    )
    sm = rc.SearcherManager(base, size=8, window=10, autowarm_count=4)
    sm.search(Q, 0, 5)
    sm.search("voyage", 0, 5)
    assert sm.searcher.stats.misses == 2

    g1 = append_delta(
        spark, base, str(tmp_path / "smg1"),
        delta_docs=docs.filter("doc_id >= 300").select("url", "text"),
        key_col="url",
    )
    retired = sm.searcher
    fresh = sm.commit(g1)
    assert fresh is sm.searcher and fresh is not retired
    # warmed during commit: the first post-commit request is a pure hit
    assert fresh.stats.misses == 2  # the two warm re-executions
    page = sm.search(Q, 0, 5)
    assert fresh.stats.hits == 1 and fresh.stats.misses == 2
    # and it serves the NEW snapshot, not the retired one's results
    want = [(r["doc_id"], r["score"])
            for r in wand_topk(g1, Q, k=5).collect()]
    assert page == want


def test_streaming_commit_drives_searcher_manager(spark, tmp_path):
    """stream_index_generations(searcher_manager=...) commits the
    manager on every published batch — the Solr newSearcher hook."""
    import glob
    import os
    import shutil

    from marc_solr_profiling_spark.corpus import generate_web_pages
    from marc_solr_profiling_spark.streaming.ingest import (
        stream_index_generations,
    )

    docs = generate_web_pages(spark, 120, seed=31, partitions=2).select(
        "url", "text")
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    n = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")

    def land(df, name):
        tmp = str(tmp_path / f"_t_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(src, f"{name}.parquet"))

    land(docs.filter(n < 80), "d1")
    idx = stream_index_generations(
        spark, src, str(tmp_path / "idx"), str(tmp_path / "ck"),
        key_col="url", chain="text", n_salts=4, block_size=32,
        schema="url string, text string",
    )
    sm = rc.SearcherManager(idx, size=8, window=10, autowarm_count=4)
    sm.search("voyage", 0, 5)
    land(docs.filter(n >= 80), "d2")
    idx2 = stream_index_generations(
        spark, src, str(tmp_path / "idx"), str(tmp_path / "ck"),
        key_col="url", chain="text", n_salts=4, block_size=32,
        schema="url string, text string", searcher_manager=sm,
    )
    # the manager was committed by the drain: new searcher over the new
    # head, already warmed for the MRU key
    assert sm.searcher.index.store.path == idx2.store.path
    assert sm.searcher.stats.misses == 1
    sm.search("voyage", 0, 5)
    assert sm.searcher.stats.hits == 1


def test_multifield_index_is_refused(spark, idx, tmp_path):
    """The page kernel looks up plain analyzed terms, which a multi-field
    dictionary never holds (its keys are field-prefixed): a searcher
    over one would serve empty pages for every query. Opening it and
    committing it both fail loudly instead."""
    from marc_solr_profiling_spark.plans.multifield import (
        build_multifield_index,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    mf = build_multifield_index(
        spark, docs.filter("doc_id < 100"), str(tmp_path / "mf"),
        fields=[("title", 8), ("body", None)], key_col="doc_id",
        id_col="doc_id", chain="simple", n_salts=4, block_size=32,
    )
    with pytest.raises(ValueError, match="multi-field"):
        rc.SearcherManager(mf)
    sm = rc.SearcherManager(idx, size=8, window=10)
    with pytest.raises(ValueError, match="multi-field"):
        sm.commit(mf)
