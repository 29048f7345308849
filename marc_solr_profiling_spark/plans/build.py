"""Index build orchestration: docs -> docIDs -> tokens -> term freqs (+doc
lens) -> collection stats -> salted compressed segments — each stage a
committed, resumable snapshot (plans/lineage.py).

The Spark restatement of ``MarcImporter.handleAll`` (SURVEY.md §3.1): the
reference's single-threaded reader loop + Solr posts become a DAG of
declarative stages; its restartable per-id-range scripts become
manifest-gated stage resume; its commit/optimize becomes the snapshot
publish.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.analyzer import ANALYZERS
from ..operators.postings import (
    explode_packed_tf,
    tokenize_and_count,
    tokenize_and_count_packed,
    with_tokens,
)
from ..operators.segments import build_segments, build_segments_packed
from ..session import local_frame
from .lineage import IndexStore, config_fingerprint

STATS_SCHEMA = "n_docs long, avgdl double, total_tokens long"


def assign_doc_ids(docs: DataFrame, key_col: str = "url",
                   partitions: int | None = None,
                   _persist_handle: list | None = None) -> DataFrame:
    """Dense, deterministic numeric docIDs in key order (docid ascending ==
    url ascending, so docid tie-breaks equal the oracle's url tie-breaks).

    Scale shape: range-partition by key, sort within partitions, then
    per-partition offsets (computed from partition counts, a tiny driver
    list) + row_number *within* each partition. No single-partition global
    window — the classic distributed zip-with-index, all-DataFrame.
    """
    spark = docs.sparkSession
    parts = partitions or docs.sparkSession.sparkContext.defaultParallelism
    arranged = (
        docs.repartitionByRange(parts, key_col)
        .sortWithinPartitions(key_col)
        .withColumn("_pid", F.spark_partition_id())
    )
    arranged = arranged.persist()
    if _persist_handle is not None:
        # caller takes ownership of unpersisting once its stages are done
        _persist_handle.append(arranged)
    counts = {
        r["_pid"]: r["n"]
        for r in arranged.groupBy("_pid").agg(F.count("*").alias("n")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    offset_df = local_frame(
        spark, list(offsets.items()), "_pid int, _offset long")
    w = Window.partitionBy("_pid").orderBy(key_col)
    out = (
        arranged.join(F.broadcast(offset_df), "_pid")
        .withColumn(
            "doc_id", (F.col("_offset") + F.row_number().over(w) - 1).cast("long")
        )
        .drop("_pid", "_offset")
    )
    return out


# Upper bound on docs per segment-kernel partition under "auto" sizing.
# The kernel materializes one partition's packed postings at once (it must
# group by term within the salt), so its peak memory is proportional to
# docs-per-bucket, NOT corpus size — as long as auto engages this term.
# 16k docs at web-page token counts is ~6-8M postings, well under 1 GiB of
# kernel arrays; 32 concurrent workers stay under ~1/4 of the sandbox RAM.
# Without this term a 3.2M-doc build at n_salts=64 put ~50k docs (~20M
# postings) in EVERY worker simultaneously and the host OOM-killed the JVM
# (found by the round-3 3.2M-doc run). Override per-build with the
# ``spark.marc.docsPerRangeBucket`` conf.
_DOCS_PER_RANGE_BUCKET = 16_384


def _resolve_range_buckets(range_buckets: int | str, spark: SparkSession,
                           n_salts: int, n_docs: int) -> int:
    """``"auto"``: enough doc-range buckets per salt that (a) the segment
    stage has >= defaultParallelism partitions AND (b) no bucket holds
    more than ``spark.marc.docsPerRangeBucket`` docs (kernel peak memory
    is per-bucket, so this bounds it independently of corpus size and
    n_salts). Only on corpora big enough (>= 64k docs) that the extra
    quantile-bounds job is noise; tiny builds keep one bucket per salt
    and skip it entirely."""
    if range_buckets != "auto":
        return max(1, int(range_buckets))
    if n_docs < 64_000:
        return 1
    p = spark.sparkContext.defaultParallelism
    par_term = -(-p // n_salts)
    cap = max(1, int(spark.conf.get("spark.marc.docsPerRangeBucket",
                                    str(_DOCS_PER_RANGE_BUCKET))))
    docs_per_salt = -(-n_docs // n_salts)
    mem_term = -(-docs_per_salt // cap)
    return max(1, par_term, mem_term)


def run_concurrently(spark: SparkSession, *branches) -> list:
    """Run zero-argument callables (one branch of a commit DAG each) on
    their own driver threads and return their results in order.

    Every branch is joined before anything is raised — a failed branch
    never leaves another still writing to the store unreported — and
    then the first failed branch's error is re-raised. The threads
    inherit the caller's Spark local properties (job group, description,
    scheduler pool), so their jobs stay attributed to the caller."""
    if len(branches) == 1:
        return [branches[0]()]
    import threading

    from pyspark import inheritable_thread_target

    # classic Spark with pinned threads returns a decorator; otherwise
    # (pinned-thread mode off) the session comes back and there are no
    # per-thread properties to carry
    inherit = inheritable_thread_target(spark)
    if inherit is spark:
        inherit = lambda fn: fn  # noqa: E731
    results: list = [None] * len(branches)
    errors: list = [None] * len(branches)

    def runner(i: int, fn):
        def run() -> None:
            try:
                results[i] = fn()
            except BaseException as e:  # surfaced after every join
                errors[i] = e
        return inherit(run)

    threads = [threading.Thread(target=runner(i, fn), name=f"commit-{i}")
               for i, fn in enumerate(branches)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for e in errors:
        if e is not None:
            raise e
    return results


def union_by_name(parts: list) -> DataFrame:
    """Union same-kind stage tables of several generations by column
    name (a column absent from an older generation reads as null)."""
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


class InvertedIndex:
    """Handle to a built physical index (paths + cached stats).

    A store may be one GENERATION of a chain (``plans/generations.py``
    ``append_delta``): its manifest then names a ``parent`` store, its own
    stages hold only the DELTA (tf/docs/segments of the appended docs),
    and a cumulative ``deletes`` stage masks tombstoned doc ids — the
    Lucene segment + live-docs model. Readers see ONE logical index:
    ``segments``/``docs``/``live_tf`` union the whole chain,
    ``dictionary``/``stats`` are the newest store's (committed fully
    adjusted at append time), and the query kernels drop deleted ids via
    :meth:`del_postings`.

    The chain walk, readers and tombstone masks serve every index kind.
    What differs per kind — stats loading, block-max cap rescaling, and
    the few lifecycle hooks the generation code calls (``_tokenize``,
    ``_delta_facts``, ``_removed_totals``, ``_adjusted_stats``,
    ``_build_segments``, ``_kind_meta``, ``_built_meta``, and the
    ``_stats_schema`` and ``_tf_facts``) — is overridden by
    ``plans/multifield.py MultiFieldIndex``.
    """

    def __init__(self, store: IndexStore, spark: SparkSession, chain: str):
        self.store = store
        self.spark = spark
        self.chain = chain
        # build-time salt count from the manifest: query paths size their
        # salt repartition from it (n_salts caps useful parallelism)
        meta = self.store.get_meta()
        self.n_salts = int(meta.get("n_salts", 16))
        self._stats_rows = store.stage_rows("stats")
        self._load_stats(meta)
        # generation chain, newest first (self.store == stores[0]); a
        # plain build has exactly one store and every property reduces to
        # the single-stage read
        self.stores = [self.store]
        seen = {self.store.path}
        parent = meta.get("parent")
        while parent:
            if parent in seen:  # defensive: a cyclic manifest would hang
                raise ValueError(f"generation chain cycle at {parent}")
            seen.add(parent)
            ps = IndexStore(parent)
            self.stores.append(ps)
            parent = ps.get_meta().get("parent")

    def _load_stats(self, meta: dict) -> None:
        self.n_docs = int(self._stats_rows[0]["n_docs"])
        self.avgdl = float(self._stats_rows[0]["avgdl"])
        self.has_positions = bool(meta.get("positions", False))

    def _cap_scales(self, store: IndexStore) -> dict:
        """How one generation's block caps stay upper bounds at the
        CURRENT avgdl: ``{None: factor}`` when they must grow, else ``{}``
        (a multi-field index keys the factors by field). BM25 weight
        grows with avgdl, bounded by the ratio w(avgdl_now)/w(avgdl_built)
        <= avgdl_now/avgdl_built, so scaling a generation's caps by
        max(1, ratio) keeps block-max pruning exact, merely slackened by
        the corpus drift since that generation was built (a tiered merge
        rebuilds caps tight again)."""
        built = store.get_meta().get("built_avgdl")
        if built is None:
            built = store.stage_rows("stats")[0]["avgdl"]
        scale = self.avgdl / max(float(built), 1e-12)
        return {None: scale} if scale > 1.0 else {}

    @property
    def segments(self) -> DataFrame:
        """The chain's segment blocks as stored (caps at each
        generation's build; the query pass applies :meth:`_cap_scales`).
        Block-range disjointness within a (term, salt) group — the kernel
        invariant — holds across generations because append_delta
        assigns doc ids ABOVE every ancestor's max (updated docs get
        fresh ids; their old ids are tombstoned, never reused)."""
        return union_by_name(
            [st.read_stage(self.spark, "segments") for st in self.stores])

    def _live(self, stage: str) -> DataFrame:
        out = union_by_name(
            [st.read_stage(self.spark, stage) for st in self.stores])
        dels = self.deletes_df()
        if dels is not None:
            out = out.join(F.broadcast(dels), "doc_id", "left_anti")
        return out

    @property
    def docs(self) -> DataFrame:
        if len(self.stores) == 1:
            return self.store.read_stage(self.spark, "docs")
        return self._live("docs")

    def live_tf(self) -> DataFrame:
        """Chain-wide PACKED tf rows of live (non-deleted) docs — the
        input a tiered merge / full rebuild re-segments (compact rows;
        no re-tokenization ever)."""
        return self._live("tf")

    @property
    def filters(self) -> DataFrame | None:
        """Unscored FILTER postings (``build_index(filter_cols=...)`` —
        ``col:value`` terms in segment-block format, zero score caps):
        the per-salt filterCache bitsets the kernels intersect for Solr
        ``fq`` clauses. None when absent; for a generation chain, every
        generation must carry the stage (else None — the fq caller then
        fails loudly instead of silently missing newer docs)."""
        if not all(st.stage_complete("filters") for st in self.stores):
            return None
        return union_by_name(
            [st.read_stage(self.spark, "filters") for st in self.stores])

    def deletes_df(self) -> DataFrame | None:
        """Cumulative tombstoned doc ids (newest generation's ``deletes``
        stage carries the whole set), or None for a delete-free index."""
        if self.store.stage_complete("deletes"):
            return self.store.read_stage(self.spark, "deletes")
        return None

    def del_postings(self) -> DataFrame | None:
        """Tombstoned doc ids as PER-SALT segment-block postings (one
        synthetic ``DEL_TERM`` posting list, same salt layout and block
        schema as the scored postings; ``plans/generations.py
        append_delta`` commits the stage cumulatively like ``deletes``).
        Every query pass UNIONs it into its salted scan and each salt
        decodes only its own ids (Lucene's per-segment liveDocs — nothing
        global ever reaches the driver). None for a delete-free index.

        A head whose ``deletes`` stage has no ``del_segments`` beside it
        (written before index-resident tombstones) raises rather than
        serve unmasked results."""
        if not self.store.stage_complete("deletes"):
            return None
        if not self.store.stage_complete("del_segments"):
            raise ValueError(
                f"index {self.store.path} has tombstones but no "
                "del_segments stage (written before index-resident "
                "tombstones): construct its handle directly "
                "(InvertedIndex / MultiFieldIndex(IndexStore(path), spark, "
                "chain)) and rewrite it with merge_generations(spark, "
                "index, out_path, keep=0), which applies them physically")
        return self.store.read_stage(self.spark, "del_segments")

    def n_deletes(self) -> int:
        """Tombstone count from the newest store's manifest (no job)."""
        if not self.store.stage_complete("deletes"):
            return 0
        try:
            return int(self.store.lineage()["stages"]["deletes"]["rows"])
        except (KeyError, TypeError, ValueError):
            return int(self.deletes_df().count())

    @property
    def dictionary(self) -> DataFrame:
        return self.store.read_stage(self.spark, "dictionary")

    def cached_dictionary(self) -> DataFrame:
        """The dictionary persisted in executor memory — the Lucene
        term-dictionary-in-RAM analog for repeated query batches. At
        10^12-doc scale the dictionary is still executor-resident (it is
        per-TERM, not per-doc), so a persist — never a driver collect — is
        the scale-correct cache. Lazily materialized on first query;
        released with the session."""
        cached = getattr(self, "_dict_cached", None)
        if cached is None:
            cached = self.dictionary.persist()
            self._dict_cached = cached
        return cached

    # -- per-kind generation lifecycle hooks (plans/generations.py) -------

    def _kind_meta(self) -> dict:
        """Build parameters every generation of the chain inherits."""
        return {"positions": self.has_positions}

    def _tokenize(self, with_ids: DataFrame, text_col: str,
                  html_col: str | None) -> DataFrame:
        """Packed tf rows of a delta, analyzed like the base."""
        return tokenize_and_count_packed(
            with_ids, key_col="doc_id", text_col=text_col, chain=self.chain,
            html_col=html_col, positions=self.has_positions,
        )

    _stats_schema = STATS_SCHEMA
    # the per-row columns of a delta's committed tf that the driver reads
    # back
    _tf_facts = ("doc_id", "doc_len")

    def _delta_facts(self, facts) -> tuple:
        """(docs-stage rows without the key, ``{None: (rows, Σ doc_len)}``)
        of a delta's tf facts (a pandas frame of ``_tf_facts``; one packed
        row per doc) — driver arithmetic, no job."""
        return facts, {None: (len(facts), int(facts["doc_len"].sum()))}

    def _removed_totals(self, dead: list, removed_tf) -> dict:
        """``{None: (docs, Σ doc_len)}`` of the tombstoned docs, from
        their docs-stage rows (dicts with ``doc_len``) — no job."""
        if not dead:
            return {}
        return {None: (len(dead), sum(int(r["doc_len"]) for r in dead))}

    def _adjusted_stats(self, add: dict, removed: dict) -> list:
        """This index's stats row plus the delta's totals minus the
        tombstoned docs' — driver arithmetic, no job."""
        n_add, t_add = add.get(None, (0, 0))
        n_rm, t_rm = removed.get(None, (0, 0))
        n_docs = self.n_docs - n_rm + n_add
        total = int(self._stats_rows[0]["total_tokens"]) - t_rm + t_add
        avgdl = (float(total) / n_docs) if n_docs else 0.0
        return [Row(n_docs=n_docs, avgdl=avgdl, total_tokens=total)]

    def _built_meta(self, stats_rows: list) -> dict:
        """Manifest record of the avgdl a generation's caps were built at."""
        return {"built_avgdl": float(stats_rows[0]["avgdl"])}

    def _build_segments(self, tf: DataFrame, stats_rows: list,
                        n_salts: int, block_size: int,
                        range_buckets: int | str, n_rows: int) -> DataFrame:
        """Segments of packed tf rows, caps built tight at ``stats_rows``."""
        return build_segments_packed(
            tf, avgdl=float(stats_rows[0]["avgdl"]), n_salts=n_salts,
            block_size=block_size,
            range_buckets=_resolve_range_buckets(
                range_buckets, self.spark, n_salts, n_rows),
        )


def _filter_packed(with_ids: DataFrame, filter_cols) -> DataFrame:
    """Synthetic packed-tf rows for METADATA filter postings: one
    ``col:value`` term per non-null filter column per doc, tf=1 — fed to
    the ordinary segment builder so fq bitsets share the salt layout,
    block format and scan path of the scored postings (their caps are
    never read; filter terms never enter the scoring dictionaries)."""
    terms_arr = F.filter(
        F.array(*[
            F.when(
                F.col(c).isNotNull(),
                F.concat(F.lit(str(c) + ":"), F.col(c).cast("string")),
            )
            for c in filter_cols
        ]),
        lambda x: x.isNotNull(),
    )
    return with_ids.select(
        F.col("doc_id"),
        F.lit(1).alias("doc_len"),
        terms_arr.alias("terms"),
        F.transform(terms_arr, lambda x: F.lit(1)).alias("tfs"),
    )


def open_index(spark: SparkSession, path: str) -> InvertedIndex:
    """Re-open a committed index (or generation-chain head) of either
    kind from its store directory — the kind, analyzer chain and build
    parameters come from the manifest, so a restarted driver needs only
    the path (the embedded ``SolrCoreProxy`` re-open analog,
    ``MarcImporter.java:456-491``)."""
    store = IndexStore(path)
    meta = store.get_meta()
    cls = InvertedIndex
    if meta.get("multifield"):
        from .multifield import MultiFieldIndex as cls
    index = cls(store, spark, meta.get("chain", "text"))
    index.del_postings()  # a pre-del_segments tombstone head fails here
    return index


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    path: str,
    key_col: str = "url",
    text_col: str = "text",
    chain: str = "text",
    n_salts: int = 16,
    block_size: int = 128,
    partitions: int | None = None,
    id_col: str | None = None,
    html_col: str | None = None,
    positions: bool = False,
    range_buckets: int | str = "auto",
    overlap_tf_write: bool = False,
    filter_cols=None,
) -> InvertedIndex:
    """Build (or resume building) the physical index at ``path``.

    ``filter_cols``: metadata columns (e.g. ``["lang", "source"]``) to
    index as UNSCORED filter postings (``col:value`` terms, ``filters``
    stage) — the Solr ``fq`` / filterCache analog; query kernels
    intersect their per-salt id sets without touching scores
    (``wand_topk(filter_queries=["lang:en"])``).

    ``html_col``: raw-page input — HTML→text extraction fuses into the
    tokenize kernel (one Python worker per task, html crosses the Arrow
    boundary once, extracted text never serializes back).

    ``positions``: store per-posting token offsets (delta+varbyte, the
    Lucene .pos analog) in tf rows and segment blocks — enables
    positional/phrase queries over the physical index
    (``operators/phrase.py``) at the cost of a larger tf stage (the
    payload is ~1 byte per corpus token).

    Stages (each a committed snapshot; a re-run skips completed ones):
      docs        (doc_id, url, doc_len)
      tf          PACKED per-doc postings:
                  (doc_id, doc_len, terms array, tfs array[, pos array])
                  — one row per document; the exploded (term, doc, tf)
                  row form repeats the doc id/length and hot-term strings
                  once PER POSTING, so packing cuts the tf stage and the
                  segment shuffle to ~1/3 of the bytes and ~1/200 of the
                  rows (use ``explode_packed_tf`` for a row view)
      stats       (n_docs, avgdl, total_tokens)  [1 row]
      dictionary  (term, df, cf)
      segments    (term, salt, block_id, ..., doc_gaps, tfs, max_wnorm)

    Commit order is a small DAG, not a chain: tf, then stats (a driver-
    held row: its tf rows come from the manifest and Σ doc_len from one
    scan), then concurrent branches {segments → dictionary}, {docs},
    {filters} (and {tf} itself in overlap mode), run by
    :func:`run_concurrently` with the caller's job group inherited. Each
    commit records its schema in the manifest, so reading a committed
    stage back (here, on resume, or from any later handle) runs no
    schema-inference job.

    ``id_col``: pass the name of an existing unique numeric column to use
    it as doc_id directly (skips the assignment sort); otherwise dense ids
    are assigned in ``key_col`` order.

    ``range_buckets``: sub-split each salt by doc-id range in the segment
    shuffle (see ``build_segments_packed``). ``"auto"`` sizes it so the
    segment stage has at least ``defaultParallelism`` partitions on
    non-trivial corpora (>= 64k docs; tiny builds skip the quantile job
    and run one bucket per salt).

    ``overlap_tf_write``: persist the packed tf and run its parquet
    commit as one more DAG branch, concurrently with the segment shuffle
    that consumes the same cache — the tf sink stops being a barrier and the
    snapshot is never read back (it still commits, so stage resume is
    unchanged). Default OFF: measured a wash-to-slight-loss on this
    sandbox (an interleaved A/B at 320k docs local[8], interleaved
    medians 56.4 s strict vs 58.9 s overlapped) because the tmpfs sink
    makes the tf write pure CPU (parquet encode) — overlapping it just
    time-slices the same cores while paying the columnar-cache copy.
    The knob is for I/O-bound sinks (object store / HDFS at cluster
    scale), where the write has real latency to hide and the cache
    also saves a full tf read-back.
    """
    store = IndexStore(path)
    store.set_fingerprint(
        config_fingerprint(
            {
                "chain": chain,
                "n_salts": n_salts,
                "block_size": block_size,
                "key_col": key_col,
                "id_col": id_col,
                "positions": positions,
                "filter_cols": list(filter_cols or []),
                "version": 3,  # v3: packed per-doc tf stage
            }
        )
    )
    store.set_meta({"n_salts": n_salts, "chain": chain,
                    "block_size": block_size, "positions": positions,
                    "filter_cols": list(filter_cols or [])})

    need_tf = not store.stage_complete("tf")
    need_docs = not store.stage_complete("docs")
    need_filters = bool(filter_cols) and not store.stage_complete("filters")
    persisted: list = []
    with_ids = None
    if need_tf or need_filters or (need_docs and key_col != "doc_id"):
        # ONE id assignment shared by the tf and docs stages (the range-
        # partition + sort + count pass runs once; round 1 ran it twice and
        # leaked its persist)
        if id_col is not None:
            with_ids = docs.withColumn("doc_id", F.col(id_col).cast("long"))
        else:
            with_ids = assign_doc_ids(
                docs, key_col=key_col, partitions=partitions,
                _persist_handle=persisted,
            )

    totals = None  # (n_docs, total_tokens) once known on the driver
    if need_tf:
        # column pruning before the analyzer stage: the build needs only
        # (doc_id, text) here — never carry html payloads into the Python
        # worker (RawRecordReader's project-then-parse discipline,
        # SURVEY.md §4). Tokenize + per-doc tf counting are FUSED into one
        # mapInPandas pass and PACKED per doc: token arrays never cross
        # the Arrow boundary, per-posting rows never exist on the wire,
        # and the pass is shuffle-free — the only real shuffle of the
        # whole build is the salted repartition inside
        # build_segments_packed.
        tf = tokenize_and_count_packed(
            with_ids, key_col="doc_id", text_col=text_col, chain=chain,
            html_col=html_col, positions=positions,
        )
        if overlap_tf_write:
            # OVERLAP MODE: persist the packed tf and commit it as one
            # branch of the commit DAG below WHILE the segment shuffle
            # consumes the same cache — the tf write (the build's largest
            # sink) stops being a barrier in front of the build's only
            # full-volume exchange, and the committed snapshot is never
            # read back at all. The cache is columnar and per-executor
            # (MEMORY_AND_DISK: spills locally, never recomputes unless
            # an executor is lost — in which case lineage re-tokenizes
            # just the lost partitions). Stage-level resumability is
            # unchanged: the tf snapshot still commits, so a failed
            # segments stage resumes from parquet with no re-tokenize.
            from pyspark import StorageLevel

            tf = tf.persist(StorageLevel.MEMORY_AND_DISK)
            persisted.append(tf)
            # materialize the cache via the scan stats needs anyway
            row = tf.agg(
                F.count("*").alias("n"), F.sum("doc_len").alias("t")
            ).collect()[0]
            totals = (int(row["n"]), int(row["t"] or 0))
        else:
            # strict mode: commit first, build segments from the snapshot
            # (no executor memory/disk spent on a cache — the knob for
            # memory-scarce clusters)
            store.commit_stage("tf", tf)
            tf = store.read_stage(spark, "tf")
    else:
        tf = store.read_stage(spark, "tf")

    need_stats = not store.stage_complete("stats")
    if not need_stats:
        row = store.stage_rows("stats")[0]
        totals = (int(row["n_docs"]), int(row["total_tokens"]))
    elif totals is None:
        # stats straight off the committed tf snapshot: n_docs is the tf
        # stage's manifest row count (one packed row per doc — zero jobs),
        # total_tokens = sum(doc_len) (one pruned-column scan over n_docs
        # ints, scalar partial agg, no shuffle). Decoupling stats from
        # docs lets the segments stage start right after tf, with the
        # docs commit running CONCURRENTLY with it
        totals = (int(store.lineage()["stages"]["tf"]["rows"]),
                  int(tf.agg(F.sum("doc_len")).collect()[0][0] or 0))
    n_docs_val, total_tokens = totals
    avgdl_val = (float(total_tokens) / n_docs_val) if n_docs_val else 0.0
    if need_stats:
        store.commit_stage("stats", local_frame(
            spark, [(n_docs_val, avgdl_val, total_tokens)], STATS_SCHEMA))

    def _commit_docs() -> None:
        # derived from the tf rows — one packed row per doc, so
        # (doc_id, doc_len) needs NO dedup shuffle — joined back to the
        # (pruned) key column of the input; no re-tokenization
        doc_tbl = tf.select("doc_id", "doc_len")
        if key_col != "doc_id":
            doc_tbl = doc_tbl.join(with_ids.select("doc_id", key_col),
                                   "doc_id")
        # sorted within partitions (row-group pruning on doc_id) without
        # a range repartition: the range sampler costs an extra pass, and
        # the doc table is only ever point-joined, never range-scanned
        store.commit_stage("docs", doc_tbl, partition_sort=["doc_id"])

    def _commit_segments_then_dictionary() -> None:
        if not store.stage_complete("segments"):
            segs = build_segments_packed(
                tf,
                avgdl=avgdl_val,
                n_salts=n_salts,
                block_size=block_size,
                range_buckets=_resolve_range_buckets(
                    range_buckets, spark, n_salts, n_docs_val),
            )
            # make_blocks emits rows already sorted by (term, salt, block)
            # — parquet row-group min/max on term therefore prunes
            # query-term scans (the Iceberg sort-order analog) with NO
            # extra shuffle: a repartitionByRange here would re-run the
            # whole segment build just to sample range bounds.
            store.commit_stage("segments", segs)
        if not store.stage_complete("dictionary"):
            # derived from the (compact) segment blocks instead of a
            # second full tf scan: df = Σ n_postings, cf = Σ tf_sum per
            # term. groupBy already hash-partitions by term; a within-
            # partition sort gives sorted parquet row groups (term
            # pruning) without an extra range-sampling pass
            dictionary = store.read_stage(spark, "segments").groupBy(
                "term").agg(F.sum("n_postings").alias("df"),
                            F.sum("tf_sum").alias("cf"))
            store.commit_stage("dictionary", dictionary,
                               partition_sort=["term"])

    def _commit_filters() -> None:
        # metadata filter postings (fq bitsets) — same salt layout and
        # block format as the scored segments, committed as their own
        # stage so the scoring dictionary/stats never see them
        store.commit_stage(
            "filters",
            build_segments_packed(
                _filter_packed(with_ids, filter_cols), avgdl=1.0,
                n_salts=n_salts, block_size=block_size,
            ),
        )

    # the commit DAG: segments → dictionary beside the docs, filters and
    # (overlap mode) tf commits, which share only the cached inputs
    branches = [_commit_segments_then_dictionary]
    if need_tf and overlap_tf_write:
        branches.append(lambda: store.commit_stage("tf", tf))
    if need_docs:
        branches.append(_commit_docs)
    if need_filters:
        branches.append(_commit_filters)
    try:
        run_concurrently(spark, *branches)
    finally:
        for cached in persisted:
            cached.unpersist()

    if "built_avgdl" not in store.get_meta():
        # the avgdl the segment caps were built with — generation-chain
        # readers (append_delta) scale caps by current/built to stay exact
        store.set_meta({"built_avgdl": avgdl_val})

    return InvertedIndex(store, spark, chain)


def incremental_update(
    spark: SparkSession,
    index: InvertedIndex,
    out_path: str,
    delta_docs: DataFrame | None = None,
    deleted_ids: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_salts: int = 16,
    block_size: int = 128,
    range_buckets: int | str = "auto",
) -> InvertedIndex:
    """Apply a delta (new/updated docs + deletes) to a built index, producing
    a NEW index snapshot at ``out_path`` — the Spark restatement of the
    reference's nightly incremental cycle (``MarcMerger.processMergeRecords``
    ``core/src/org/solrmarc/marc/MarcMerger.java:251-364``: base ⋈ mods ⋈
    deletes, mod wins, deletes drop; plus the ``.del``-file application of
    ``MarcImporter.deleteRecords`` ``MarcImporter.java:348-416``).

    Efficiency contract: old documents are NOT re-tokenized — the committed
    ``tf`` stage (compact (term, doc_id, tf, doc_len) rows) is reused; only
    the delta runs the analyzer UDF. Stats/dictionary/segments are
    recomputed from the merged postings — a shuffle of compact rows, not a
    re-analysis (Lucene's segment merge makes the same trade). The output is
    a fresh snapshot directory, so a crash mid-update leaves the base index
    intact (Iceberg-snapshot semantics).

    ``delta_docs`` rows REPLACE base docs with the same id (upsert).
    """
    # chain-aware reads: for a generational index (append_delta) these
    # union every generation's stages and drop tombstoned ids, so the
    # output is always a single-generation snapshot with deletes applied
    # physically and caps rebuilt tight at the current avgdl
    old_tf = index.live_tf()  # packed per-doc rows
    old_docs = index.docs
    # positional base index -> the delta must carry positions too, and the
    # merged segments keep the .pos payloads
    positions = "pos" in old_tf.columns

    drop_ids = None
    if deleted_ids is not None:
        drop_ids = deleted_ids.select(F.col(id_col).cast("long").alias("doc_id"))
    if delta_docs is not None:
        upd = delta_docs.select(F.col(id_col).cast("long").alias("doc_id"))
        drop_ids = upd if drop_ids is None else drop_ids.union(upd).distinct()

    if drop_ids is not None:
        # persisted: BOTH the tf and docs commits anti-join against it, and
        # each commit is its own action — without the persist the delete-set
        # union/distinct plan executes twice
        drop_ids = drop_ids.persist()
        # left-anti = the DELETE FROM ... WHERE id IN (...) semi-join
        old_tf = old_tf.join(drop_ids, "doc_id", "left_anti")
        old_docs = old_docs.join(drop_ids, "doc_id", "left_anti")

    if delta_docs is not None:
        with_ids = delta_docs.withColumn("doc_id", F.col(id_col).cast("long"))
        doc_keys = [c for c in old_docs.columns if c != "doc_len"]
        with_ids = with_ids.select(*dict.fromkeys(doc_keys + [text_col]))
        # fused analyze+count for the delta (same packed pass as the full
        # build); persist: it feeds both the doc-side derivation and the
        # tf union
        delta_tf = tokenize_and_count_packed(
            with_ids, key_col="doc_id", text_col=text_col, chain=index.chain,
            positions=positions,
        ).persist()
        # packed rows are one per doc already — no dedup shuffle
        delta_doc_lens = delta_tf.select("doc_id", "doc_len")
        if doc_keys != ["doc_id"]:
            delta_doc_lens = delta_doc_lens.join(
                with_ids.select(*doc_keys), "doc_id"
            )
        delta_doc_tbl = delta_doc_lens.select(*old_docs.columns)
        merged_tf = old_tf.union(delta_tf.select(*old_tf.columns))
        merged_docs = old_docs.union(delta_doc_tbl)
    else:
        merged_tf, merged_docs = old_tf, old_docs

    store = IndexStore(out_path)
    store.set_fingerprint(
        config_fingerprint(
            {
                "base": index.store.path,
                "chain": index.chain,
                "n_salts": n_salts,
                "block_size": block_size,
                "positions": positions,
                "version": 3,  # v3: packed per-doc tf stage
            }
        )
    )
    store.set_meta({"n_salts": n_salts, "chain": index.chain,
                    "block_size": block_size, "positions": positions})
    # partition_sort only — a repartitionByRange here would re-run the
    # anti-join + delta plan just to sample range bounds (the same trap
    # commit 715efb7 removed from build_index); the docs table is only
    # point-joined, never range-scanned
    store.commit_stage("docs", merged_docs, partition_sort=["doc_id"])
    store.commit_stage("tf", merged_tf)
    if delta_docs is not None:
        # both consumers (docs + tf commits) are done — release the cached
        # delta blocks instead of holding them for the session lifetime
        delta_tf.unpersist()
    if drop_ids is not None:
        drop_ids.unpersist()
    tf = store.read_stage(spark, "tf")
    if not store.stage_complete("stats"):
        ds = store.read_stage(spark, "docs")
        store.commit_stage(
            "stats",
            ds.agg(
                F.count("*").alias("n_docs"),
                F.avg("doc_len").alias("avgdl"),
                F.sum("doc_len").alias("total_tokens"),
            ),
        )
    if not store.stage_complete("segments"):
        avgdl = float(store.stage_rows("stats")[0]["avgdl"])
        segs = build_segments_packed(
            tf, avgdl=avgdl, n_salts=n_salts, block_size=block_size,
            range_buckets=_resolve_range_buckets(
                range_buckets, spark, n_salts,
                int(store.lineage()["stages"]["tf"]["rows"]),
            ),
        )
        store.commit_stage("segments", segs)
    if not store.stage_complete("dictionary"):
        segs_tbl = store.read_stage(spark, "segments")
        store.commit_stage(
            "dictionary",
            segs_tbl.groupBy("term").agg(
                F.sum("n_postings").alias("df"), F.sum("tf_sum").alias("cf")
            ),
            partition_sort=["term"],
        )
    if "built_avgdl" not in store.get_meta():
        store.set_meta({"built_avgdl": float(
            store.stage_rows("stats")[0]["avgdl"]
        )})
    return InvertedIndex(store, spark, index.chain)


def build_index_from_warc(
    spark: SparkSession,
    warc_path: str,
    index_path: str,
    **build_kwargs,
) -> InvertedIndex:
    """Raw crawl to index in one plan: binaryFile scan of ``.warc(.gz)``
    files -> permissive WARC record split -> clean HTTP-200 ``text/html``
    pages -> :func:`build_index` with fused HTML extraction (``html_col``:
    the html bytes cross the Arrow boundary once, inside the tokenize
    kernel; extracted text never serializes back to the JVM).

    This is the north-star front door — the Common-Crawl input really
    arrives as ~1 GB WARC files, and their count (not size) is the read
    parallelism, so the practical knob at 10^12 docs is simply "point it at
    the crawl prefix". All build semantics (salting, packed tf, resume)
    are inherited unchanged; an index built from WARC files is
    byte-equivalent to one built from the same pages as a table
    (tests/test_warc_pipeline.py proves rank-identity).
    """
    from ..sources.warc import read_warc, warc_pages

    pages = warc_pages(
        read_warc(spark.read.format("binaryFile").load(warc_path))
    )
    build_kwargs.setdefault("key_col", "url")
    build_kwargs.setdefault("html_col", "html")
    return build_index(spark, pages, index_path, **build_kwargs)
