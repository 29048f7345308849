"""Real-I/O evidence run (round-5 VERDICT item 8): the 3.2M-doc index
build + a 1% generational append with the index store on DISK
(/tmp on the virtio root disk) vs the usual tmpfs (/dev/shm).

Every prior physical-index number was tmpfs-only. The corpus is read
from tmpfs in all cells so the SINK is the only storage variable.

Cells run in one interleaved rotation (each cell samples the same
host-noise window); one JVM for all cells.

Usage: python tools/disk_io_bench.py <corpus_dir> [cpus] [reps]
Writes /tmp/disk_io_bench.json and prints per-cell walls.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SHUFFLE_WIDTH = 32


def main() -> None:
    corpus_dir = sys.argv[1]
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 1

    from pyspark.sql import functions as F

    from marc_solr_profiling_spark.plans.build import build_index
    from marc_solr_profiling_spark.plans.generations import append_delta
    from marc_solr_profiling_spark.session import get_spark

    spark = get_spark(
        app_name=f"disk_io_bench_{cpus}", master=f"local[{cpus}]",
        shuffle_partitions=SHUFFLE_WIDTH,
    )
    spark.conf.set("spark.marc.saltPartitions", str(SHUFFLE_WIDTH))
    total_bytes = sum(
        os.path.getsize(os.path.join(corpus_dir, f))
        for f in os.listdir(corpus_dir) if f.endswith(".parquet")
    )
    split_bytes = max(1 << 22, -(-total_bytes // SHUFFLE_WIDTH))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split_bytes))
    spark.conf.set("spark.sql.files.openCostInBytes", "0")

    docs = (
        spark.read.parquet(corpus_dir)
        .select("url", "html")
        .withColumn(
            "doc_id", F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")
        )
    )
    n_docs = docs.count()
    delta = (
        spark.read.parquet(corpus_dir)
        .select("url", "text")
        .filter(F.xxhash64("url") % 100 == 0)  # ~1% delta
    )

    roots = {"tmpfs": "/dev/shm", "disk": "/tmp"}

    def build_one(root: str, keep: bool = False):
        idx_dir = tempfile.mkdtemp(prefix="dio_idx_", dir=roots[root])
        shutil.rmtree(idx_dir)
        t0 = time.perf_counter()
        idx = build_index(
            spark, docs, idx_dir, key_col="url", id_col="doc_id",
            chain="text", n_salts=64, block_size=128, html_col="html",
        )
        wall = time.perf_counter() - t0
        if not keep:
            shutil.rmtree(idx_dir, ignore_errors=True)
            return wall, None
        return wall, idx

    # warmup (JVM/codegen/worker pool), discarded
    build_one("tmpfs")

    cells = list(roots)
    walls: dict[str, list[float]] = {r: [] for r in cells}
    for i in range(reps):
        order = cells if i % 2 == 0 else list(reversed(cells))
        for r in order:
            w, _ = build_one(r)
            walls[r].append(w)
            print(f"build store={r}: {w:.1f}s "
                  f"({n_docs / w:.0f} docs/s)", flush=True)

    # generational append on a kept store, both storage roots
    appends: dict[str, float] = {}
    for r in ("tmpfs", "disk"):
        w, idx = build_one(r, keep=True)
        gen_dir = tempfile.mkdtemp(prefix="dio_gen_", dir=roots[r])
        shutil.rmtree(gen_dir)
        t0 = time.perf_counter()
        append_delta(spark, idx, gen_dir, delta_docs=delta, key_col="url")
        appends[r] = time.perf_counter() - t0
        print(f"append store={r}: {appends[r]:.1f}s", flush=True)
        shutil.rmtree(gen_dir, ignore_errors=True)
        shutil.rmtree(idx.store.path, ignore_errors=True)

    out = {
        "n_docs": n_docs, "cpus": cpus, "reps": reps,
        "build_walls_s": walls,
        "append_1pct_s": appends,
    }
    with open("/tmp/disk_io_bench.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
