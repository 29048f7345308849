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

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from ..operators.postings import tokenize_and_count_packed
from ..operators.segments import build_segments_packed
from ..session import local_frame
from .lineage import IndexStore, config_fingerprint

STATS_SCHEMA = "n_docs long, avgdl double, total_tokens long"

# A build's input row ordinal: ``monotonically_increasing_id`` over the
# key-sorted range partitions, (partition << 33) + position in partition
_ORD = "_ord"
_PART_BITS = 33

# A build's tf and docs stages are written as one file per this many
# docs (at most one per analyzed partition): a small build writes each as
# one file, a large one on every core. Html builds on local[4] (BENCH.md):
# one tf file was the faster commit at 600 docs (0.17 vs 0.21 s) and the
# slower from 2,048 up (0.26 vs 0.19 s; 0.71 vs 0.28 s at 16,384).
_DOCS_PER_FILE = 1024


def _ordinals(docs: DataFrame, key_col: str, id_col: str | None,
              partitions: int | None, cols: list) -> DataFrame:
    """``cols`` of the build input plus ``_ord``: the ``id_col`` value,
    or an ordinal in key order — the input projected first, then range-
    partitioned and sorted by key, so no other column crosses the
    shuffle and the analyzed pass runs on every partition."""
    if id_col is not None:
        return docs.select(*cols, F.col(id_col).cast("long").alias(_ORD))
    parts = partitions or docs.sparkSession.sparkContext.defaultParallelism
    return (
        docs.select(*dict.fromkeys([key_col, *cols]))
        .repartitionByRange(parts, key_col)
        .sortWithinPartitions(key_col)
        .select(*cols, F.monotonically_increasing_id().alias(_ORD))
    )


def _tally(frame: DataFrame, by: str | None, part: bool = False) -> list:
    """ONE aggregate over an analyzed frame: rows and Σ doc_len (when
    the frame has lengths) per ``by`` group and, with ``part``, per input
    partition with its least ``_ord``."""
    keys = [F.shiftright(_ORD, _PART_BITS).alias("_part")] if part else []
    keys += [by] if by else []
    aggs = [F.count(F.lit(1)).alias("n")]
    if part:
        aggs.append(F.min(_ORD).alias("lo"))
    if "doc_len" in frame.columns:
        aggs.append(F.sum("doc_len").alias("t"))
    return frame.groupBy(*keys).agg(*aggs).collect()


def _totals(rows: list, by: str | None) -> dict:
    """``{group: (rows, Σ doc_len)}`` of :func:`_tally` rows (the group
    is None without ``by``)."""
    out: dict = {}
    for r in rows:
        g = r[by] if by else None
        n, t = out.get(g, (0, 0))
        out[g] = (n + r["n"], t + int(r.asDict().get("t") or 0))
    return out


def _dense_ids(frame: DataFrame, by: str | None, dense: bool) -> tuple:
    """(``frame`` with ``doc_id`` in place of ``_ord``, its totals).

    ``dense``: the ids are the ordinals shifted per partition onto
    0..n-1 in key order — partition p's rows hold ordinals lo_p.. in key
    order, and range partitions follow the key, so doc_id = _ord - lo_p
    + the rows of partitions before p; the shifts come from the one
    aggregate that also totals the lengths (and materializes a cached
    frame). Otherwise ``_ord`` is the caller's id column."""
    rows = _tally(frame, by, part=dense)
    doc_id = F.col(_ORD)
    if dense and rows:
        # every group row of a partition counts all its docs (a
        # multi-field doc has one row per field)
        first = {r["_part"]: (r["lo"], r["n"]) for r in rows}
        shifts, acc = [0] * (max(first) + 1), 0
        for p in sorted(first):
            lo, n = first[p]
            shifts[p] = lo - acc
            acc += n
        doc_id = doc_id - F.element_at(
            F.lit(shifts).cast("array<bigint>"),
            (F.shiftright(_ORD, _PART_BITS) + 1).cast("int"))
    return (frame.withColumn("doc_id", doc_id.cast("long")).drop(_ORD),
            _totals(rows, by))


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
    What differs per kind — meta and stats loading, block-max cap
    rescaling, and the few lifecycle hooks the build and generation code
    call (``_tokenize``, ``_doc_rows``, ``_stats_of``, ``_delta_facts``,
    ``_removed_totals``, ``_build_segments``, ``_kind_meta``,
    ``_built_meta``, and the ``_stats_schema``, ``_tf_facts`` and
    ``_tf_group``) — is overridden by ``plans/multifield.py
    MultiFieldIndex``.
    """

    def __init__(self, store: IndexStore, spark: SparkSession, chain: str):
        self.store = store
        self.spark = spark
        self.chain = chain
        # build-time salt count from the manifest: query paths size their
        # salt repartition from it (n_salts caps useful parallelism)
        meta = self.store.get_meta()
        self.n_salts = int(meta.get("n_salts", 16))
        self._load_meta(meta)
        self._stats_rows = store.stage_rows("stats")
        self._load_stats()
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

    @classmethod
    def _for_build(cls, spark: SparkSession, chain: str, meta: dict):
        """A handle on an index not built yet — its build parameters and
        no stats: the per-kind hooks a build calls before it commits."""
        kind = cls.__new__(cls)
        kind.spark, kind.chain = spark, chain
        kind._load_meta(meta)
        return kind

    def _load_meta(self, meta: dict) -> None:
        self.has_positions = bool(meta.get("positions", False))

    def _load_stats(self) -> None:
        self.n_docs = int(self._stats_rows[0]["n_docs"])
        self.avgdl = float(self._stats_rows[0]["avgdl"])

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

    def _tokenize(self, docs: DataFrame, text_col: str,
                  html_col: str | None, key_col: str = "doc_id",
                  carry=()) -> DataFrame:
        """Packed tf rows keyed by ``key_col``, analyzed like this index,
        with the ``carry`` columns passed through."""
        return tokenize_and_count_packed(
            docs, key_col=key_col, text_col=text_col, chain=self.chain,
            html_col=html_col, positions=self.has_positions, carry=carry,
        )

    _stats_schema = STATS_SCHEMA
    # the per-row columns of a delta's committed tf that the driver reads
    # back, and the one its totals are grouped by (one tf row per doc)
    _tf_facts = ("doc_id", "doc_len")
    _tf_group = None

    def _doc_rows(self, analyzed: DataFrame, *cols) -> DataFrame:
        """One row per doc of analyzed rows: the docs-stage columns and
        ``cols``."""
        return analyzed.select("doc_id", "doc_len", *cols)

    def _stats_of(self, totals: dict) -> list:
        """Stats rows of ``{group: (docs, Σ doc_len)}`` totals."""
        n, t = totals.get(None, (0, 0))
        return [Row(n_docs=n, avgdl=(float(t) / n) if n else 0.0,
                    total_tokens=t)]

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
        """This index's stats rows plus the delta's totals minus the
        tombstoned docs' — driver arithmetic, no job."""
        out = {}
        for r in self._stats_rows:
            g = r[self._tf_group] if self._tf_group else None
            (n_add, t_add), (n_rm, t_rm) = (add.get(g, (0, 0)),
                                            removed.get(g, (0, 0)))
            out[g] = (int(r["n_docs"]) + n_add - n_rm,
                      int(r["total_tokens"]) + t_add - t_rm)
        return self._stats_of(out)

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
      docs        (doc_id, doc_len, url)
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
      filters     fq postings of ``filter_cols``, in segment-block form

    The build is ONE analyzed pass and a commit DAG (:func:`_build`).
    The input is projected to the key, the text (or html) and the filter
    columns, range-partitioned over ``partitions`` (default
    ``defaultParallelism``) and sorted by ``key_col``; each row gets an
    ordinal (``monotonically_increasing_id``) and the tokenizer runs
    once, carrying the key and filter columns through. That analyzed
    frame is cached, and one aggregate over it yields per partition the
    rows, Σ doc_len and the least ordinal: the driver turns those into
    the dense key-ordered ids (docid ascending == key ascending, so
    docid tie-breaks equal the oracle's url tie-breaks) — a column
    expression, ordinal minus a per-partition shift — and the stats row.
    Then {tf}, {docs}, {stats}, {filters} and {segments → dictionary}
    commit concurrently from the cache (:func:`run_concurrently`, the
    caller's job group inherited). tf and docs are written one file per
    ``_DOCS_PER_FILE`` docs. Each commit records its schema in the
    manifest, so reading a committed stage back runs no schema-inference
    job.

    Resume: a build whose ``tf`` is committed never re-tokenizes. Its
    segments come from the committed tf; missing docs or filters take
    their ids from the same ordinal pass over the projected input, joined
    to the committed tf by id.

    ``id_col``: pass the name of an existing unique numeric column to use
    it as doc_id directly (no range shuffle); otherwise dense ids are
    assigned in ``key_col`` order.

    ``range_buckets``: sub-split each salt by doc-id range in the segment
    shuffle (see ``build_segments_packed``). ``"auto"`` sizes it so the
    segment stage has at least ``defaultParallelism`` partitions on
    non-trivial corpora (>= 64k docs; tiny builds skip the quantile job
    and run one bucket per salt).
    """
    filter_cols = list(filter_cols or [])
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
                "filter_cols": filter_cols,
                "version": 3,  # v3: packed per-doc tf stage
            }
        )
    )
    meta = {"n_salts": n_salts, "chain": chain, "block_size": block_size,
            "positions": positions, "filter_cols": filter_cols}
    store.set_meta(meta)
    stats_rows = _build(
        spark, store, docs, InvertedIndex._for_build(spark, chain, meta),
        key_col=key_col, text_col=text_col, html_col=html_col,
        id_col=id_col, partitions=partitions, filter_cols=filter_cols,
        n_salts=n_salts, block_size=block_size, range_buckets=range_buckets)
    if "built_avgdl" not in store.get_meta():
        # the avgdl the segment caps were built with — generation-chain
        # readers (append_delta) scale caps by current/built to stay exact
        store.set_meta({"built_avgdl": float(stats_rows[0]["avgdl"])})
    return InvertedIndex(store, spark, chain)


def _build(spark: SparkSession, store: IndexStore, docs: DataFrame, kind,
           key_col: str, text_col: str, html_col: str | None,
           id_col: str | None, partitions: int | None, filter_cols: list,
           n_salts: int, block_size: int,
           range_buckets: int | str) -> list:
    """Commit every stage a build at ``store`` still lacks (the shape is
    in :func:`build_index`'s docstring); ``kind`` is an unbuilt handle of
    the index kind (:meth:`InvertedIndex._for_build`) whose hooks
    tokenize, total, lay out docs and build segments. Returns the stats
    rows."""
    need = {s for s in ("tf", "docs", "stats", "segments", "dictionary",
                        *(["filters"] if filter_cols else []))
            if not store.stage_complete(s)}
    by = kind._tf_group
    # the columns riding with each doc (a doc_id key becomes the id)
    carry = [c for c in dict.fromkeys([key_col, *filter_cols])
             if c != "doc_id"]
    tf_stage = None if "tf" in need else store.read_stage(spark, "tf")
    analyzed, totals, cached = tf_stage, None, None
    try:
        if "tf" in need or "filters" in need or (
                "docs" in need and key_col != "doc_id"):
            if "tf" in need:
                tagged = kind._tokenize(
                    _ordinals(docs, key_col, id_col, partitions,
                              [*carry, html_col or text_col]),
                    text_col, html_col, key_col=_ORD, carry=carry)
            else:
                tagged = _ordinals(docs, key_col, id_col, partitions, carry)
            cached = tagged.persist(StorageLevel.MEMORY_AND_DISK)
            analyzed, totals = _dense_ids(cached, by, dense=id_col is None)
            if "tf" not in need:
                # resumed after the tf commit: lengths and postings come
                # from the committed tf, never a second tokenize pass
                analyzed = analyzed.join(tf_stage, "doc_id")
                totals = None
        if "stats" not in need:
            stats_rows = store.stage_rows("stats")
        else:
            if totals is None:
                totals = _totals(_tally(tf_stage, by), by)
            stats_rows = kind._stats_of(totals)
        n_rows = (sum(n for n, _ in totals.values()) if totals is not None
                  else int(store.lineage()["stages"]["tf"]["rows"]))
        # each field row of a multi-field index counts every doc
        n_docs = max((int(r["n_docs"]) for r in stats_rows), default=0)
        tf = tf_stage if tf_stage is not None else analyzed.select(
            "doc_id", *[c for c in cached.columns
                        if c != _ORD and c not in carry])

        def sized(df: DataFrame) -> DataFrame:
            return df.coalesce(max(1, -(-n_docs // _DOCS_PER_FILE)))

        def segments_then_dictionary() -> None:
            if "segments" in need:
                store.commit_stage("segments", kind._build_segments(
                    tf, stats_rows, n_salts, block_size, range_buckets,
                    n_rows))
            if "dictionary" in need:
                # derived from the (compact) segment blocks instead of a
                # second full tf scan: df = Σ n_postings, cf = Σ tf_sum
                # per term. groupBy already hash-partitions by term; a
                # within-partition sort gives sorted parquet row groups
                # (term pruning) without a range-sampling pass
                store.commit_stage(
                    "dictionary",
                    store.read_stage(spark, "segments").groupBy("term").agg(
                        F.sum("n_postings").alias("df"),
                        F.sum("tf_sum").alias("cf")),
                    partition_sort=["term"])

        keys = [key_col] if key_col != "doc_id" else []
        commits = {
            "tf": lambda: store.commit_stage("tf", sized(tf)),
            # sorted within partitions (row-group pruning on doc_id)
            # without a range repartition: the doc table is only ever
            # point-looked-up, never range-scanned
            "docs": lambda: store.commit_stage(
                "docs", sized(kind._doc_rows(analyzed, *keys)),
                partition_sort=["doc_id"]),
            "stats": lambda: store.commit_stage("stats", local_frame(
                spark, [tuple(r) for r in stats_rows], kind._stats_schema)),
            # metadata filter postings (fq bitsets) — same salt layout
            # and block format as the scored segments, their own stage so
            # the scoring dictionary/stats never see them
            "filters": lambda: store.commit_stage(
                "filters", build_segments_packed(
                    _filter_packed(kind._doc_rows(analyzed, *filter_cols),
                                   filter_cols),
                    avgdl=1.0, n_salts=n_salts, block_size=block_size)),
        }
        branches = [fn for s, fn in commits.items() if s in need]
        if need & {"segments", "dictionary"}:
            branches.append(segments_then_dictionary)
        run_concurrently(spark, *branches)
    finally:
        if cached is not None:
            cached.unpersist()
    return stats_rows


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
