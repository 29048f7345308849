"""The commit DAG of a build and an append (plans/build.py
run_concurrently, plans/generations.py append_delta): commit threads
inherit the caller's job group, an append, a searcher commit and a
tiered merge stay within a fixed job budget, neither an append nor a
commit infers a parquet schema, a build resumed after its tf commit
does not tokenize, concurrent salt probes run one job, a committed
stage reads back with no Spark job, and a chain whose manifests lack the
recorded schema and doc-id max (as stores written before those keys
existed) still opens, appends and ranks identically."""

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql.readwriter import DataFrameReader

from marc_solr_profiling_spark.corpus import (
    WEB_PAGES_SCHEMA,
    generate_web_pages,
    make_html,
)
from marc_solr_profiling_spark.operators.resultcache import SearcherManager
from marc_solr_profiling_spark.operators.wand import wand_topk
from marc_solr_profiling_spark.plans.build import build_index, open_index
from marc_solr_profiling_spark.plans.generations import (
    append_delta,
    merge_generations,
)
from marc_solr_profiling_spark.plans.lineage import IndexStore

BASE = 120
NEW = 4           # new docs per append, plus one upsert and one delete
QUERIES = ["the of and", "time new said", "revised"]
# the Spark jobs measured for one such append (14 on 4- and 8-core
# sessions: the delta collect, the tf pass, the docs, stats and deletes
# writes, and the filters, del_segments, segments and dictionary
# commits with their exchanges; the append resolved through shuffles,
# windows and broadcasts ran 42-44), for a searcher commit (open +
# autowarm one key: 4) and for the keep=1 merge of the two generations
# (10; 17 with the probe jobs and broadcast anti-joins)
APPEND_JOBS = 14
COMMIT_JOBS = 4
MERGE_JOBS = 10
# the cold build of the base (html input, a filter column): the range
# sample, the analyzed pass with its one aggregate, the tf, docs and stats
# writes, the salt probe, and the segments, filters and dictionary commits
# with their exchanges (25 with the id window, the Σ doc_len scan and the
# docs join)
BUILD_JOBS = 15


@pytest.fixture(scope="module")
def workdir():
    d = tempfile.mkdtemp(prefix="commit_dag_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def rows(spark):
    return generate_web_pages(spark, BASE + 3 * NEW, seed=5).collect()


def _delta(spark, rows, g):
    """Generation ``g``'s delta: NEW fresh docs, one upsert of a base doc
    (new text and html) and one deleted base key."""
    new = [tuple(r) for r in rows[BASE + (g - 1) * NEW: BASE + g * NEW]]
    up = rows[10 * g]
    text = f"{up.text} revised gen{g}"
    ups = [(up.url, up.warc_ts, make_html(text, "Page"), text, up.lang)]
    dels = [(rows[10 * g + 1].url,)]
    return (spark.createDataFrame(new + ups, WEB_PAGES_SCHEMA),
            spark.createDataFrame(dels, "url string"))


def _jobs(spark, group, fn):
    """(fn's result, ids of the jobs it ran in job group ``group``)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


class _InferredReads:
    """Records ``spark.read.parquet`` calls made without a schema — each
    one runs a schema-inference job."""

    def __init__(self, monkeypatch):
        self.paths: list = []
        real_schema, real_parquet = DataFrameReader.schema, \
            DataFrameReader.parquet

        def schema(reader, s):
            reader._given_schema = True
            return real_schema(reader, s)

        def parquet(reader, *paths, **kw):
            if not getattr(reader, "_given_schema", False):
                self.paths.extend(paths)
            return real_parquet(reader, *paths, **kw)

        monkeypatch.setattr(DataFrameReader, "schema", schema)
        monkeypatch.setattr(DataFrameReader, "parquet", parquet)


@pytest.fixture(scope="module")
def chain(spark, workdir, rows):
    """base → gen1 → gen2 (html input, a ``lang`` filter column), each
    call in its own job group; returns the handles and per-call job ids,
    the largest ungrouped job id seen before and after, and the stage
    reads that inferred a schema during the appends and commits."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    before = max(st.getJobIdsForGroup(None), default=-1)
    out = {"append_jobs": [], "commit_jobs": [], "inferred": []}
    base, out["build_jobs"] = _jobs(spark, "dag-build", lambda: build_index(
        spark, spark.createDataFrame(rows[:BASE], WEB_PAGES_SCHEMA),
        f"{workdir}/chain/g0", html_col="html", filter_cols=["lang"],
        n_salts=4))
    sm = SearcherManager(base, autowarm_count=1)
    _jobs(spark, "dag-read", lambda: sm.search(QUERIES[0], 0, 10))
    idx = base
    with pytest.MonkeyPatch.context() as mp:
        reads = _InferredReads(mp)
        for g in (1, 2):
            delta, dels = _delta(spark, rows, g)
            idx, ids = _jobs(spark, f"dag-append{g}", lambda: append_delta(
                spark, idx, f"{workdir}/chain/g{g}", delta_docs=delta,
                delete_keys=dels, html_col="html"))
            out["append_jobs"].append(ids)
            _, ids = _jobs(spark, f"dag-commit{g}", lambda: sm.commit(idx))
            out["commit_jobs"].append(ids)
        out["inferred"] = list(reads.paths)
    out["merged"], out["merge_jobs"] = _jobs(
        spark, "dag-merge", lambda: merge_generations(
            spark, idx, f"{workdir}/chain/merged", keep=1))
    out["ungrouped_before"] = before
    out["ungrouped_after"] = max(st.getJobIdsForGroup(None), default=-1)
    out["head"] = idx
    return out


def _topk(idx, q):
    return [(r["url"], round(r["score"], 9))
            for r in wand_topk(idx, q, k=10, with_url=True).collect()]


def test_commit_threads_inherit_the_job_group(chain):
    """Every job of the build, the appends and the commits — those run
    on commit-DAG threads and Spark's own exchange threads included —
    lands in the caller's job group: no new job outside a group."""
    assert chain["build_jobs"]
    assert all(chain["append_jobs"]) and all(chain["commit_jobs"])
    assert chain["ungrouped_after"] == chain["ungrouped_before"]


def test_append_and_commit_job_budget(chain):
    """A 4-new-doc append with one upsert and one delete stays within
    the measured job count, and neither the append nor
    ``SearcherManager.commit`` infers a schema."""
    counts = [len(ids) for ids in chain["append_jobs"]]
    assert max(counts) <= APPEND_JOBS, counts
    commits = [len(ids) for ids in chain["commit_jobs"]]
    assert max(commits) <= COMMIT_JOBS, commits
    assert chain["inferred"] == []


def test_build_job_budget(chain):
    """A cold build stays within the measured job count."""
    assert len(chain["build_jobs"]) <= BUILD_JOBS, chain["build_jobs"]


def test_merge_job_budget(chain):
    """The keep=1 merge of the two appended generations stays within the
    measured job count, and its stats rows are the head's."""
    assert len(chain["merge_jobs"]) <= MERGE_JOBS, chain["merge_jobs"]
    merged = IndexStore(chain["merged"].store.path).stage_rows("stats")
    assert merged == chain["head"]._stats_rows


def test_build_resumed_after_tf_does_not_tokenize(spark, workdir, rows,
                                                  monkeypatch):
    """A build that crashed right after its tf commit (every other
    manifest entry lost) resumes without a tokenize pass and commits the
    stages of an uninterrupted build."""
    from marc_solr_profiling_spark.plans.build import InvertedIndex

    docs = spark.createDataFrame(rows[:BASE], WEB_PAGES_SCHEMA)
    kw = dict(html_col="html", filter_cols=["lang"], n_salts=4)
    full = build_index(spark, docs, f"{workdir}/resume/full", **kw)
    path = f"{workdir}/resume/crashed"
    build_index(spark, docs, path, **kw)
    mpath = os.path.join(path, "manifest.json")
    with open(mpath) as f:
        m = json.load(f)
    m["stages"] = {"tf": m["stages"]["tf"]}
    with open(mpath, "w") as f:
        json.dump(m, f)

    tokenized = []
    real = InvertedIndex._tokenize
    monkeypatch.setattr(InvertedIndex, "_tokenize", lambda self, *a, **k: (
        tokenized.append(a), real(self, *a, **k))[1])
    resumed = build_index(spark, docs, path, **kw)
    assert tokenized == []
    stages = resumed.store.lineage()["stages"]
    assert set(stages) == set(full.store.lineage()["stages"])
    for stage in stages:
        got = resumed.store.read_stage(spark, stage).collect()
        want = full.store.read_stage(spark, stage).collect()
        assert (sorted(repr(tuple(r)) for r in got)
                == sorted(repr(tuple(r)) for r in want)), stage
    for q in QUERIES:
        assert _topk(resumed, q) == _topk(full, q), q


def test_concurrent_probes_run_one_job(spark, monkeypatch):
    """More commit branches than cores asking an empty salt-probe memo
    for the same width, with a short thread switch interval, run one
    probe job between them."""
    import sys

    from marc_solr_profiling_spark.operators import routing
    from marc_solr_profiling_spark.plans.build import run_concurrently

    monkeypatch.setattr(routing, "_PROBE_KEYS", {})
    n = 2 * (os.cpu_count() or 4)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        keys, ids = _jobs(spark, "dag-probe", lambda: run_concurrently(
            spark, *[lambda: routing.probe_keys(spark, 13)] * n))
    finally:
        sys.setswitchinterval(interval)
    assert len(keys) == n and all(k == keys[0] for k in keys)
    assert len(keys[0]) == 13
    assert len(ids) == 1, ids


def _strip(head_path, old_root, new_root):
    """Copy the chain under ``old_root`` to ``new_root`` and drop the
    ``schema`` and ``doc_id_max`` keys from every stage entry."""
    shutil.copytree(old_root, new_root)
    for name in os.listdir(new_root):
        mpath = os.path.join(new_root, name, "manifest.json")
        if not os.path.exists(mpath):
            continue
        with open(mpath) as f:
            m = json.load(f)
        for entry in m["stages"].values():
            entry.pop("schema", None)
            entry.pop("doc_id_max", None)
        parent = m.get("meta", {}).get("parent")
        if parent:
            m["meta"]["parent"] = parent.replace(old_root, new_root)
        with open(mpath, "w") as f:
            json.dump(m, f)
    return head_path.replace(old_root, new_root)


def test_stage_reads_run_no_job_and_stripped_manifests_still_work(
        spark, workdir, rows, chain):
    head = chain["head"]
    assert len(head.stores) == 3
    stores = [IndexStore(st.path) for st in head.stores]
    for store in stores:
        stages = store.lineage()["stages"]
        assert all("schema" in e for e in stages.values()), store.path
        assert "doc_id_max" in stages["docs"]

    def read_all():
        return {(s.path, name): s.read_stage(spark, name)
                for s in stores for name in s.lineage()["stages"]}

    frames, ids = _jobs(spark, "dag-fresh-reads", read_all)
    assert ids == []
    for (path, name), df in frames.items():
        assert df.schema == spark.read.parquet(
            os.path.join(path, name)).schema, (path, name)

    stripped_root = f"{workdir}/stripped"
    stripped = open_index(spark, _strip(
        head.store.path, f"{workdir}/chain", stripped_root))
    for q in QUERIES:
        assert _topk(stripped, q) == _topk(head, q), q

    delta, dels = _delta(spark, rows, 3)
    kw = dict(delta_docs=delta, delete_keys=dels, html_col="html")
    want = append_delta(spark, open_index(spark, head.store.path),
                        f"{workdir}/chain/g3", **kw)
    got = append_delta(spark, stripped, f"{stripped_root}/g3", **kw)
    # the doc-id fallback (a max aggregation) picks the same fresh ids
    assert (sorted(map(tuple, got.store.read_stage(spark, "docs").collect()))
            == sorted(map(tuple,
                          want.store.read_stage(spark, "docs").collect())))
    for q in QUERIES:
        assert _topk(got, q) == _topk(want, q), q


def test_concurrent_commits_to_one_store_lose_no_manifest_update(
        spark, workdir):
    """More commit branches than cores, each committing its own stage to
    one store with a short thread switch interval: every stage is in the
    manifest afterwards (the manifest read-modify-write is locked)."""
    import sys

    from marc_solr_profiling_spark.plans.build import run_concurrently
    from marc_solr_profiling_spark.session import local_frame

    store = IndexStore(f"{workdir}/stress")
    names = [f"s{i}" for i in range(2 * (os.cpu_count() or 4))]

    def branch(name):
        return lambda: store.commit_stage(
            name, local_frame(spark, [(name,)], "v string"))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        frames = run_concurrently(spark, *[branch(n) for n in names])
    finally:
        sys.setswitchinterval(interval)
    assert sorted(store.lineage()["stages"]) == sorted(names)
    assert [df.collect()[0]["v"] for df in frames] == names


def test_run_concurrently_joins_every_branch_before_raising(spark):
    import threading
    import time

    from marc_solr_profiling_spark.plans.build import run_concurrently

    done = threading.Event()

    def slow():
        time.sleep(0.5)
        done.set()

    def fails():
        raise ValueError("first")

    def fails_later():
        time.sleep(0.1)
        raise KeyError("second")

    with pytest.raises(ValueError, match="first"):
        run_concurrently(spark, fails, slow, fails_later)
    assert done.is_set()


def test_docs_key_lookup_reads_only_the_row_groups_of_its_keys(
        spark, workdir, monkeypatch):
    """A ``docs`` stage is written in small row groups, so the driver's
    key lookup (an append's tombstone search) on a key-ordered stage
    reads the row group holding its keys, not the whole stage."""
    import pyarrow.parquet as pq

    store = IndexStore(f"{workdir}/docs_row_groups")
    store.commit_stage("docs", spark.range(60000).selectExpr(
        "id AS doc_id", "CAST(id % 500 AS INT) AS doc_len",
        "format_string('https://k.example/p/%09d', id) AS url",
    ).coalesce(1), partition_sort=["doc_id"])
    (name,) = [f for f in os.listdir(store.stage_path("docs"))
               if f.endswith(".parquet")]
    groups = pq.ParquetFile(
        os.path.join(store.stage_path("docs"), name)).metadata.num_row_groups
    assert groups > 1
    read = []
    real = pq.ParquetFile.read_row_group

    def counted(self, i, *a, **k):
        read.append(i)
        return real(self, i, *a, **k)

    monkeypatch.setattr(pq.ParquetFile, "read_row_group", counted)
    keys = [f"https://k.example/p/{i:09d}" for i in (123, 124)]
    rows = store.lookup("docs", "url", keys)
    assert sorted((r["doc_id"], r["url"]) for r in rows) == [
        (123, keys[0]), (124, keys[1])]
    assert len(read) == 1
