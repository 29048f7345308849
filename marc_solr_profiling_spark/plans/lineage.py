"""Checkpointed stage boundaries + per-partition lineage.

The reference's durability discipline — autoCommit every 20k docs with a
single commit/optimize at the end (``solrconfig.xml:30-33``,
``MarcImporter.finish`` ``MarcImporter.java:418-442``) and restartable
per-id-range indexing scripts — maps to snapshot-committed stage outputs:
each build stage writes to a staging path, then atomically publishes by
recording the stage in ``manifest.json`` along with per-partition lineage
rows (partition id, row count) and config fingerprint. A re-run with the
same fingerprint skips completed stages (resume without recomputation);
a changed fingerprint invalidates downstream stages.

On a real cluster the same boundaries are Iceberg snapshot commits
(``writeTo(...).append()`` / MERGE INTO); this file-based store keeps the
semantics runnable in the sandbox (no Iceberg jars) behind the same API.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import threading
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# the key Spark's parquet writer stores its row schema under
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def config_fingerprint(conf: dict[str, Any]) -> str:
    return hashlib.sha256(
        json.dumps(conf, sort_keys=True, default=str).encode()
    ).hexdigest()[:16]


def _footer_facts(md) -> tuple:
    """(Spark schema as a JSON dict or None, max of a top-level int
    ``doc_id`` column or None) from one parquet footer."""
    kv = md.metadata or {}
    schema = (json.loads(kv[_SPARK_SCHEMA_KEY])
              if _SPARK_SCHEMA_KEY in kv else None)
    doc_max = None
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for c in range(rg.num_columns):
            col = rg.column(c)
            st = col.statistics
            if (col.path_in_schema == "doc_id" and st is not None
                    and st.has_min_max):
                doc_max = (st.max if doc_max is None
                           else max(doc_max, st.max))
    return schema, doc_max


class IndexStore:
    """Directory-backed index store with manifest-gated stages."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)
        self.manifest_path = os.path.join(path, "manifest.json")
        # independent stages (docs || segments) commit from concurrent
        # driver threads; the manifest read-modify-write must be atomic
        self._lock = threading.Lock()
        # stage -> (session, committed_at, frame): see read_stage
        self._frames: dict[str, tuple] = {}

    # -- manifest -----------------------------------------------------------
    def _read_manifest(self) -> dict:
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                return json.load(f)
        return {"stages": {}, "fingerprint": None}

    def _write_manifest(self, m: dict) -> None:
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=2)
        os.replace(tmp, self.manifest_path)  # atomic publish

    def set_meta(self, meta: dict[str, Any]) -> None:
        """Record build parameters (n_salts, chain, ...) in the manifest so
        readers can size query-time partitioning without scanning data."""
        m = self._read_manifest()
        m.setdefault("meta", {}).update(meta)
        self._write_manifest(m)

    def get_meta(self) -> dict[str, Any]:
        return self._read_manifest().get("meta", {})

    def set_fingerprint(self, fp: str) -> None:
        m = self._read_manifest()
        if m.get("fingerprint") != fp:
            # config changed -> invalidate everything
            m = {"stages": {}, "fingerprint": fp}
            for name in list(os.listdir(self.path)):
                p = os.path.join(self.path, name)
                if os.path.isdir(p):
                    shutil.rmtree(p)
            self._write_manifest(m)

    def stage_complete(self, stage: str) -> bool:
        return stage in self._read_manifest()["stages"]

    def stage_path(self, stage: str) -> str:
        return os.path.join(self.path, stage)

    # -- stage IO -----------------------------------------------------------
    def commit_stage(self, stage: str, df: DataFrame,
                     partition_sort: list[str] | None = None,
                     repartition_range: list[str] | None = None) -> DataFrame:
        """Write a stage output (if not already committed) and record
        per-partition lineage. Returns the re-read DataFrame (so downstream
        stages read the committed snapshot, not the live plan)."""
        spark = df.sparkSession
        if not self.stage_complete(stage):
            t_start = time.time()
            out = self.stage_path(stage)
            staging = out + ".staging"
            if os.path.exists(staging):
                shutil.rmtree(staging)
            w = df
            if repartition_range:
                w = w.repartitionByRange(*repartition_range)
            if partition_sort:
                w = w.sortWithinPartitions(*partition_sort)
            # Dictionary encoding OFF for stage tables: their dominant
            # columns are high-cardinality (terms with a long unique tail,
            # unique urls/doc_ids, compressed binary blobs), so the
            # dictionary always overflows and falls back — but only after
            # hashing every value into a per-chunk map. Measured on the
            # 220k-doc tf stage: the write dropped from ~165s of overhead
            # to ~8s (8 cores) with dictionary off, identical reads.
            (
                w.write.mode("overwrite")
                .option("parquet.enable.dictionary", "false")
                .parquet(staging)
            )
            if os.path.exists(out):
                shutil.rmtree(out)
            os.replace(staging, out)
            # per-partition lineage from parquet footers (no extra Spark
            # job; the Iceberg-manifest analog of per-file row counts)
            import pyarrow.parquet as pq

            names = sorted(
                f for f in os.listdir(out) if f.endswith(".parquet")
            )

            def _footer(args: tuple[int, str]) -> tuple[dict, tuple]:
                i, name = args
                fpath = os.path.join(out, name)
                md = pq.ParquetFile(fpath).metadata
                return {
                    "partition": i,
                    "file": name,
                    "rows": md.num_rows,
                    "bytes": os.path.getsize(fpath),
                }, _footer_facts(md)

            # footer reads release the GIL inside pyarrow; a thread pool
            # turns ~64 serial driver-side reads into one parallel sweep
            # (per-rep fixed overhead acts as the serial term against the
            # scaling criterion)
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(16, len(names) or 1)) as ex:
                footers = list(ex.map(_footer, enumerate(names)))
            lineage = [row for row, _ in footers]
            facts = [f for _, f in footers]
            entry = {
                "committed_at": time.time(),
                # stage metrics next to the per-partition lineage rows:
                # wall duration + output volume (the Iceberg snapshot
                # summary analog — added-files/records/size)
                "duration_sec": round(time.time() - t_start, 3),
                "rows": int(sum(x["rows"] for x in lineage)),
                "bytes": int(sum(x["bytes"] for x in lineage)),
                "partitions": lineage,
            }
            # driver-held facts from the same footers: the written Spark
            # schema (read_stage then skips schema inference) and the
            # doc_id max (the next generation's first id without a job)
            schemas = [f[0] for f in facts if f[0] is not None]
            if schemas:
                entry["schema"] = schemas[0]
                types = {fld["name"]: fld["type"]
                         for fld in schemas[0]["fields"]}
                # a file with rows but no min/max statistics leaves the
                # key out: readers then run the aggregation
                maxes = [f[1] for f, row in zip(facts, lineage)
                         if row["rows"]]
                if (types.get("doc_id") in ("long", "integer")
                        and None not in maxes):
                    entry["doc_id_max"] = max(maxes, default=None)
            with self._lock:
                m = self._read_manifest()
                m["stages"][stage] = entry
                self._write_manifest(m)
        return self.read_stage(spark, stage)

    def read_stage(self, spark: SparkSession, stage: str) -> DataFrame:
        """The committed stage as a DataFrame, resolved once per store
        and with no Spark job.

        A bare ``spark.read.parquet`` runs a schema-inference job
        (~150 ms); a committed stage reads with the schema its manifest
        entry recorded. The stage is immutable, so its frame is kept,
        keyed on the session and the manifest's ``committed_at`` — a
        recommit at this path (through any store instance) is read
        afresh. A stage not in the manifest is never cached."""
        entry = self._read_manifest()["stages"].get(stage)
        if entry is None:
            return spark.read.parquet(self.stage_path(stage))
        key = (spark, entry.get("committed_at"))
        with self._lock:
            hit = self._frames.get(stage)
            if hit is not None and hit[:2] == key:
                return hit[2]
        reader = spark.read
        if "schema" in entry:
            # the schema commit_stage recorded from the footers: no job
            # (a manifest written before the key existed infers it)
            reader = reader.schema(StructType.fromJson(entry["schema"]))
        df = reader.parquet(self.stage_path(stage))
        with self._lock:
            self._frames[stage] = (*key, df)
        return df

    def stage_rows(self, stage: str) -> list:
        """A driver-sized committed stage (the stats rows) as a list of
        ``Row``, like ``read_stage(...).collect()`` but read from its
        parquet files on the driver — no Spark job."""
        import pyarrow.parquet as pq
        from pyspark.sql import Row

        entry = self._read_manifest()["stages"][stage]
        return [Row(**r)
                for part in entry["partitions"]
                for r in pq.read_table(os.path.join(
                    self.stage_path(stage), part["file"])).to_pylist()]

    def lineage(self) -> dict:
        return self._read_manifest()
