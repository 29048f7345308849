"""One level of the equal-window scaling measurement (protocol v4).

Launched by tools/scaling_bench.py, one process per parallelism level,
each pinned (taskset) to a disjoint core set, the levels of one group
concurrent.
The level warms up (one full build + one query batch), reports ready,
then loops the measured job back-to-back inside two coordinator-defined
wall windows (build window, then query window), recording each rep's
[start, end] timestamps. The coordinator converts rep intervals into
window-overlap credit, so every level's throughput is measured over the
IDENTICAL wall window — the only noise-robust comparison on a host whose
effective IPC swings 2-3x with hypervisor neighbors (sequential or
free-running reps compare different noise windows; per-level min-of-reps
samples the noise distribution, not the pipeline).

Layout is CONSTANT across levels (same corpus files, same input splits,
same shuffle width, same salt-partition count): a real N-vs-4N cluster
comparison holds the data layout fixed — the same job, more executors.

Coordination files (in $SPARK_GRAFT_BARRIER_DIR):
  ready_<cpus>        written by this job after warmup
  start_build         written by the coordinator -> build loop begins
  stop_build          build loop exits after the in-flight rep completes
  build_done_<cpus>   written by this job
  start_query         query loop begins (over the last built index)
  stop_query          query loop exits after the in-flight batch

doc_id comes from the corpus's stable per-document key (the numeric url
suffix here; xxhash64(url) in a real Common-Crawl pipeline) — a pure
per-row expression, so id assignment adds no shuffle or driver pass.

Usage: python tools/scaling_job.py <cpus> <n_docs> <n_queries> <barrier_dir>
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Constant across levels — see module docstring. 64 (not 32): 8 task
# waves at local[8] instead of 4, so one slow task costs 1/8 of a wave —
# straggler tails otherwise act as fixed overhead against the 4N level.
SHUFFLE_WIDTH = 64


def _wait_for(path: str, timeout: float = 3600.0) -> None:
    t0 = time.time()
    while not os.path.exists(path):
        if time.time() - t0 > timeout:
            raise RuntimeError(f"barrier timeout waiting for {path}")
        time.sleep(0.2)


def main() -> None:
    cpus = int(sys.argv[1])
    n_docs = int(sys.argv[2])
    n_queries = int(sys.argv[3])
    barrier = sys.argv[4]

    from pyspark.sql import functions as F

    from marc_solr_profiling_spark.corpus import generate_query_set
    from marc_solr_profiling_spark.operators.wand import wand_topk_batch
    from marc_solr_profiling_spark.plans.build import build_index
    from marc_solr_profiling_spark.session import get_spark

    spark = get_spark(
        app_name=f"scaling_{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=SHUFFLE_WIDTH,
    )
    spark.conf.set("spark.marc.saltPartitions", str(SHUFFLE_WIDTH))

    corpus_dir = os.environ["SPARK_GRAFT_CORPUS_DIR"]
    tmp_root = "/dev/shm" if os.path.isdir("/dev/shm") else None
    idx_dir = tempfile.mkdtemp(prefix=f"scale_idx_{cpus}_", dir=tmp_root)

    # constant split count across levels: identical input layout at every
    # cluster size (32 splits = exact 4 waves at local[8], 16 at local[2])
    total_bytes = sum(
        os.path.getsize(os.path.join(corpus_dir, f))
        for f in os.listdir(corpus_dir) if f.endswith(".parquet")
    )
    split_bytes = max(1 << 22, -(-total_bytes // SHUFFLE_WIDTH))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split_bytes))
    spark.conf.set("spark.sql.files.openCostInBytes", "0")

    # production input: raw pages only; HTML->text extraction fuses into
    # the tokenize kernel (html_col) — one Python worker pass per task
    docs = (
        spark.read.parquet(corpus_dir)
        .select("url", "html")
        .withColumn(
            "doc_id",
            F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long"),
        )
    )
    queries = generate_query_set(n_queries, seed=42)

    import threading

    gen = [0]

    def one_build():
        # fresh snapshot directory per rebuild (Iceberg-snapshot style:
        # a new build never writes over the live index); the PREVIOUS
        # snapshot is deleted by a background thread — its teardown is
        # not part of the rebuild's critical path
        gen[0] += 1
        new_dir = f"{idx_dir}_g{gen[0]}"
        old_dir = f"{idx_dir}_g{gen[0] - 1}"
        threading.Thread(
            target=shutil.rmtree, args=(old_dir,),
            kwargs={"ignore_errors": True}, daemon=True,
        ).start()
        return build_index(
            spark, docs, new_dir, key_col="url", id_col="doc_id",
            chain="text", n_salts=64, block_size=128,
            html_col="html",
        )

    def one_query_batch(idx):
        wand_topk_batch(idx, queries, k=10).count()

    try:
        # ---- warmup: JVM/codegen/worker-spawn costs paid outside windows
        t0 = time.time()
        idx = one_build()
        one_query_batch(idx)
        print(f"# warmup cpus={cpus} took={time.time() - t0:.1f}s",
              file=sys.stderr, flush=True)
        with open(os.path.join(barrier, f"ready_{cpus}"), "w") as f:
            f.write("1")

        # ---- build window
        _wait_for(os.path.join(barrier, "start_build"))
        build_reps = []
        stop_b = os.path.join(barrier, "stop_build")
        while not os.path.exists(stop_b):
            t0 = time.time()
            idx = one_build()
            build_reps.append([t0, time.time()])
            print(f"# build rep cpus={cpus} {build_reps[-1][1]-t0:.1f}s",
                  file=sys.stderr, flush=True)
        with open(os.path.join(barrier, f"build_done_{cpus}"), "w") as f:
            json.dump(build_reps, f)

        # ---- query window (over the last complete index)
        _wait_for(os.path.join(barrier, "start_query"))
        query_reps = []
        stop_q = os.path.join(barrier, "stop_query")
        while not os.path.exists(stop_q):
            t0 = time.time()
            one_query_batch(idx)
            query_reps.append([t0, time.time()])
            print(f"# query rep cpus={cpus} {query_reps[-1][1]-t0:.1f}s",
                  file=sys.stderr, flush=True)

        print(json.dumps({
            "cpus": cpus,
            "n_docs": n_docs,
            "n_queries": n_queries,
            "build_reps": build_reps,
            "query_reps": query_reps,
        }), flush=True)
    finally:
        for g in range(gen[0] + 1):
            shutil.rmtree(f"{idx_dir}_g{g}", ignore_errors=True)
        shutil.rmtree(idx_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
