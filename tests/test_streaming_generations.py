"""Streaming autoCommit loop (streaming/ingest.py
stream_index_generations): each micro-batch drop becomes one index
generation, restarts resume from the published CURRENT pointer, tiered
compaction bounds the chain — and the result always equals a
from-scratch rebuild of the live doc set."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from marc_solr_profiling_spark.corpus import generate_web_pages
from marc_solr_profiling_spark.operators.wand import wand_topk
from marc_solr_profiling_spark.plans.build import build_index
from marc_solr_profiling_spark.plans.multifield import build_multifield_index
from marc_solr_profiling_spark.streaming.ingest import (
    stream_index_generations,
)

SCHEMA = "url string, text string, is_delete boolean"
QUERIES = ["the of and", "voyage", "time new said"]
FIELDS = [("title", 8), ("body", None)]
QF = {"title": 2.0, "body": 1.0}


@pytest.fixture(scope="module")
def workdir():
    d = tempfile.mkdtemp(prefix="sgen_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def docs(spark):
    d = (
        generate_web_pages(spark, 200, seed=23, partitions=4)
        .select("url", "text").persist()
    )
    d.count()
    yield d
    d.unpersist()


def _land(df, src, name):
    """Land one drop as a single file in the stream source dir (the file
    source discovers top-level files)."""
    import glob

    tmp = os.path.join(src, f"_tmp_{name}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    os.makedirs(src, exist_ok=True)
    shutil.move(part, os.path.join(src, f"{name}.parquet"))
    shutil.rmtree(tmp)


def _drop(df, src, name):
    _land(df.withColumn("is_delete", F.lit(False)), src, name)


def _same_results(spark, idx, live, workdir, tag):
    ref = build_index(
        spark, live, f"{workdir}/ref_{tag}", key_col="url",
        chain="text", n_salts=4, block_size=32,
    )
    for q in QUERIES:
        got = wand_topk(idx, q, k=10, with_url=True).collect()
        want = wand_topk(ref, q, k=10, with_url=True).collect()
        assert ([round(r["score"], 9) for r in got]
                == [round(r["score"], 9) for r in want]), q
        assert ({(r["url"], round(r["score"], 9)) for r in got}
                == {(r["url"], round(r["score"], 9)) for r in want}), q


def test_stream_generations_end_to_end(spark, workdir, docs):
    src = f"{workdir}/src"
    root = f"{workdir}/idx"
    ckpt = f"{workdir}/ckpt"
    n = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")

    def run():
        return stream_index_generations(
            spark, src, root, ckpt, key_col="url", chain="text",
            n_salts=4, block_size=32, delete_col="is_delete",
            max_generations=3, keep=1, schema=SCHEMA,
        )

    # drop 1: first 120 docs -> base generation
    _drop(docs.filter(n < 120), src, "d1")
    idx = run()
    assert idx is not None and len(idx.stores) == 1
    _same_results(spark, idx, docs.filter(n < 120), workdir, "t1")

    # drop 2 (separate invocation == driver restart; checkpoint skips d1):
    # 40 new docs + 5 upserts + 3 tombstone rows
    mods = docs.filter(n.isin(3, 17, 31, 44, 59)).withColumn(
        "text", F.concat(F.lit("updated page body "), F.col("text")))
    adds = docs.filter((n >= 120) & (n < 160)).unionByName(mods)\
        .withColumn("is_delete", F.lit(False))
    dels = docs.filter(n.isin(7, 21, 35)).select("url", "text")\
        .withColumn("is_delete", F.lit(True))
    _land(adds.unionByName(dels), src, "d2")
    idx = run()
    assert len(idx.stores) == 2
    dead = {r["url"] for r in docs.filter(n.isin(7, 21, 35)).collect()}
    live = (
        docs.filter(n < 160).filter(~F.col("url").isin(list(dead)))
        .join(mods.select("url"), "url", "left_anti")
        .unionByName(mods.filter(~F.col("url").isin(list(dead))))
    )
    _same_results(spark, idx, live, workdir, "t2")

    # drops 3+4 push the chain past max_generations=3 -> tiered compaction
    _drop(docs.filter((n >= 160) & (n < 180)), src, "d3")
    idx = run()
    _drop(docs.filter(n >= 180), src, "d4")
    idx = run()
    assert len(idx.stores) <= 3, "compaction must bound the chain"
    live_final = (
        docs.filter(~F.col("url").isin(list(dead)))
        .join(mods.select("url"), "url", "left_anti")
        .unionByName(mods.filter(~F.col("url").isin(list(dead))))
    )
    _same_results(spark, idx, live_final, workdir, "t4")
    # the CURRENT pointer survives and reopens
    assert os.path.exists(os.path.join(root, "CURRENT"))


def _multifield_results(ix, q):
    rows = wand_topk(ix, q, qf=QF, tie=0.1, k=10, round_to=6,
                     with_url=False).join(
        ix.docs.select("doc_id", "url"), "doc_id").collect()
    return ({(r["url"], r["score"]) for r in rows},
            sorted((r["score"] for r in rows), reverse=True))


def _same_multifield_results(spark, idx, live, workdir, tag):
    ref = build_multifield_index(
        spark, live, f"{workdir}/mf_ref_{tag}", fields=FIELDS,
        key_col="url", chain="text", n_salts=4, block_size=32)
    for q in QUERIES:
        g, gs = _multifield_results(idx, q)
        w, ws = _multifield_results(ref, q)
        assert gs == ws, (tag, q)
        assert g == w, (tag, q)


@pytest.mark.parametrize("kind", ["single", "multi"])
def test_stream_replay_is_idempotent(spark, workdir, docs, kind):
    """foreachBatch is at-least-once: a driver crash between _publish and
    the checkpoint commit re-runs the batch with the SAME batch_id. The
    replay must be a no-op — before the guard it re-entered append_delta
    with out_path == the published head itself, wiping the head's stages
    and writing a self-referential parent (chain destroyed)."""
    src = f"{workdir}/re_src_{kind}"
    root = f"{workdir}/re_idx_{kind}"
    ckpt = f"{workdir}/re_ckpt_{kind}"
    n = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")
    _drop(docs.filter(n < 80), src, "d1")

    def run(cp):
        return stream_index_generations(
            spark, src, root, cp, key_col="url", chain="text",
            n_salts=4, block_size=32, delete_col="is_delete",
            max_generations=3, keep=1, schema=SCHEMA,
            fields=FIELDS if kind == "multi" else None,
        )

    def top(ix):
        if kind == "multi":
            return _multifield_results(ix, "voyage")
        return [(r["url"], round(r["score"], 9)) for r in
                wand_topk(ix, "voyage", k=10, with_url=True).collect()]

    idx = run(ckpt)
    assert idx is not None and len(idx.stores) == 1
    before = top(idx)

    # simulate the lost checkpoint commit: a fresh checkpoint re-delivers
    # the same files as batch 0 — CURRENT already names gen_0, so the
    # replayed batch must be skipped, not re-applied
    idx2 = run(f"{workdir}/re_ckpt2_{kind}")
    assert idx2 is not None and len(idx2.stores) == 1
    assert before == top(idx2)
    same = _same_results if kind == "single" else _same_multifield_results
    same(spark, idx2, docs.filter(n < 80), workdir, f"replay_{kind}")


def test_stream_generations_multifield(spark, workdir, docs):
    """The multifield (edismax) autoCommit loop: drops become
    generations, dismax results equal a from-scratch rebuild of the
    live set, compaction bounds the chain, replay is a no-op."""
    src = f"{workdir}/mf_src"
    root = f"{workdir}/mf_idx"
    ckpt = f"{workdir}/mf_ckpt"
    n = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")
    def run(cp=ckpt):
        return stream_index_generations(
            spark, src, root, cp, fields=FIELDS, key_col="url",
            chain="text", n_salts=4, block_size=32,
            delete_col="is_delete", max_generations=3, keep=1,
            schema=SCHEMA,
        )

    def same(idx, live, tag):
        _same_multifield_results(spark, idx, live, workdir, tag)

    _drop(docs.filter(n < 100), src, "m1")
    idx = run()
    assert idx is not None and len(idx.stores) == 1
    same(idx, docs.filter(n < 100), "t1")

    # at-least-once replay: a fresh checkpoint re-delivers m1 as the
    # same batch 0 whose generation CURRENT already names -> no-op
    idx_r = run(f"{workdir}/mf_ckpt2")
    assert len(idx_r.stores) == 1
    same(idx_r, docs.filter(n < 100), "replay")

    mods = docs.filter(n.isin(5, 23, 41)).withColumn(
        "text", F.concat(F.lit("revised vernacular heading "),
                         F.col("text")))
    adds = docs.filter((n >= 100) & (n < 150)).unionByName(mods)\
        .withColumn("is_delete", F.lit(False))
    dels = docs.filter(n.isin(9, 27)).select("url", "text")\
        .withColumn("is_delete", F.lit(True))
    _land(adds.unionByName(dels), src, "m2")
    idx = run()
    assert len(idx.stores) == 2
    dead = {r["url"] for r in docs.filter(n.isin(9, 27)).collect()}
    live = (
        docs.filter(n < 150).filter(~F.col("url").isin(list(dead)))
        .join(mods.select("url"), "url", "left_anti")
        .unionByName(mods.filter(~F.col("url").isin(list(dead))))
    )
    same(idx, live, "t2")

    # chain stays bounded under more drops
    _drop(docs.filter((n >= 150) & (n < 170)), src, "m3")
    run()
    _drop(docs.filter(n >= 170), src, "m4")
    idx = run()
    assert len(idx.stores) <= 3
