"""SparkSession factory with scale-oriented defaults.

The reference achieves parallelism by running one JVM per id-range file slice
(``profiling/scripts/index_sirsi_0000_0099.sh:31-33``); here parallelism is
Spark-native partitioning and the knobs below are the ones that matter at
cluster scale (shuffle partition sizing, AQE incl. skew-join handling, Arrow
for the pandas-UDF analyzer path).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_heap() -> str:
    """~40% of detected host RAM, capped at 48g, floored at 2g. On hosts
    with less memory than the 128g sandbox a fixed 48g heap plus tmpfs
    shuffle spill could trigger the OS OOM killer."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_gb = int(line.split()[1]) // (1024 * 1024)
                    return f"{max(2, min(48, int(total_gb * 0.4)))}g"
    except OSError:
        pass
    return "4g"


def get_spark(
    app_name: str = "marc_solr_profiling_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) for
    the sandbox; on a real cluster pass ``None`` master via spark-submit.
    ``shuffle_partitions`` defaults to the parallelism level so local runs
    don't pay for 200 tiny shuffle files; at 100 TB this should be sized so a
    shuffle partition is ~128-512 MB (set explicitly via extra_conf).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    resolved = master
    if master is None:
        # the embedded-vs-remote split (SolrCoreLoader.java:26,160 /
        # MarcImporter.java:553-650 analog): under spark-submit the cluster
        # manager already set spark.master — do NOT override it; standalone
        # (the "embedded" path) falls back to local[N]
        from pyspark import SparkConf

        conf = SparkConf()
        if not conf.contains("spark.master"):
            master = f"local[{cpus}]"
        resolved = conf.get("spark.master", master)
    if shuffle_partitions is None:
        # local[N] → N; local[*]/cluster → leave a sane floor
        shuffle_partitions = cpus
        if master and master.startswith("local["):
            inner = master[6:-1]
            if inner.isdigit():
                shuffle_partitions = int(inner)

    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode: the driver heap IS the executor heap for every
        # concurrent task — size it for the parallelism level (at 8g, 32
        # tasks' sort/shuffle buffers GC-thrash). Default = ~40% of host
        # RAM capped at 48g, so smaller hosts degrade instead of inviting
        # the OS OOM killer; override with SPARK_DRIVER_MEM on real
        # deployments (where executor memory is set by the cluster manager)
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM", _default_heap()))
        # shuffle/spill files: prefer the tmpfs when present — the sandbox's
        # virtio disk serializes 32 concurrent small-file writers in the
        # kernel (sy%-bound); on a real cluster this is each executor's
        # local SSD, so tmpfs is the faithful stand-in. NOTE: spill-to-RAM —
        # on hosts with little free RAM set SPARK_LOCAL_DIRS to a disk path
        .config("spark.local.dir", os.environ.get(
            "SPARK_LOCAL_DIRS",
            "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp",
        ))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # every explode() in this engine generates from a COMPUTED array
        # (tokenizer output, mixin type sets), never a scan column with
        # stats. InferFiltersFromGenerate copies the generator's whole
        # expression into an inferred isnotnull/size filter, which predicate
        # pushdown then substitutes through the projects — for the big
        # decision-tree expressions (functions/getformat.py) that turned a
        # 1.8 s facet into 45 s of scan-rule traversal over a duplicated
        # megabyte-scale predicate. The inferred filter can't reach parquet
        # stats here anyway, so it's pure optimizer overhead.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer."
            "InferFiltersFromGenerate",
        )
    )
    if (resolved or "").startswith("local"):
        # local workers share this file system: they start from the
        # engine daemon (pydaemon.py — pyspark's daemon, minus a re-read of
        # pyspark.zip's directory on every task), found through this
        # package's root on their path
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        builder = (
            builder
            .config("spark.python.daemon.module",
                    "marc_solr_profiling_spark.pydaemon")
            .config("spark.executorEnv.PYTHONPATH", root)
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, schema):
    """A small driver-side DataFrame that collects without a Spark job.

    ``rows``: a pandas DataFrame or a sequence of tuples in ``schema``
    order (a DDL string or StructType). The frame is built from pandas
    through Arrow — a LocalRelation, ~40 ms and 0 jobs — where a
    list-based ``createDataFrame`` parallelizes an RDD and costs one job
    (~400 ms) when collected, even when empty. An empty pandas frame
    also takes the RDD path, so an empty frame is one null row filtered
    away (the optimizer folds it to an empty LocalRelation)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructField, StructType

    struct = (schema if isinstance(schema, StructType)
              else StructType.fromDDL(schema))
    # nullable throughout: the empty frame below is built from a null row
    struct = StructType([StructField(f.name, f.dataType, True)
                         for f in struct])
    names = struct.fieldNames()
    pdf = (rows[names] if isinstance(rows, pd.DataFrame)
           else pd.DataFrame(list(rows), columns=names))
    if len(pdf) == 0:
        null_row = pd.DataFrame({n: [None] for n in names})
        return spark.createDataFrame(null_row, struct).where(F.lit(False))
    return spark.createDataFrame(pdf, struct)
