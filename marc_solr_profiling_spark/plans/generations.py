"""Generational (Lucene-segment-style) incremental index maintenance.

``plans/build.py:incremental_update`` restates the reference's nightly
merge (``core/src/org/solrmarc/marc/MarcMerger.java:251-364`` — base ⋈
mods ⋈ deletes) as a FULL re-segment of the merged tf: correct, but the
one shuffle it keeps is proportional to the WHOLE corpus. At the
10^12-doc design point a nightly 0.01% delta must not move 100 TB of
postings, so this module adds the model Lucene/Solr actually use under
``<autoCommit>`` (``profiling/solr/conf/solrconfig.xml:30-33``) and
``optimize`` (``MarcImporter.java:418-442``):

* :func:`append_delta` — O(|delta|) ingest: tokenize and segment ONLY the
  new/updated docs into a NEW generation store whose manifest points at
  its parent; tombstone replaced/deleted docs in a cumulative ``deletes``
  stage (the live-docs bitmap analog); commit exactly-adjusted global
  stats + dictionary so BM25 scores stay value-identical to a
  from-scratch rebuild of the live corpus.
* :func:`merge_generations` (``keep=0`` is optimize) and the
  :func:`maybe_compact` policy — the tiered-merge reclaim: re-segment the
  chosen generations' compact tf rows (never re-tokenize), apply their
  deletes physically, rebuild caps tight at the current avgdl.

One lifecycle serves both index kinds — the single-field
``InvertedIndex`` (``plans/build.py``) and the multi-field (edismax)
``MultiFieldIndex`` (``plans/multifield.py``). They differ only where the
data differs (how a delta is tokenized, the shape of the stats stage,
the avgdl segments are built at, the manifest meta), and the handle's
lifecycle hooks (``_tokenize``, ``_doc_rows``, ``_tf_totals``,
``_adjusted_stats``, ``_build_segments``, ``_kind_meta``,
``_built_meta``) carry exactly those differences; every function here
returns a handle of the same kind it was given.

Why scores stay exact (the rank-identity contract vs a full rebuild):

- doc ids are append-only (every generation's ids sit above every
  ancestor's max, tombstoned ids never reused), so within a (term, salt)
  group the block doc-ranges of different generations are DISJOINT — the
  block-max kernel's one structural invariant (``operators/wand.py
  _score_blocks_bmw``) survives a plain union of generation segments;
- deleted ids ride every query pass as ``del_segments`` postings and
  are masked inside the kernel through the MUST_NOT exclude set
  (excluded docs never score, never raise theta — pruning stays exact);
- stats (n_docs/avgdl, per field for the multi-field kind) and df/cf
  are re-derived EXACTLY at append time: parent values minus the
  tombstoned docs' contributions (read from the compact packed tf rows
  of the chain — a broadcast semi-join, no re-tokenization) plus the
  delta's; stale block-max caps of old generations are scaled by
  ``avgdl_now / avgdl_built`` at read time (an upper bound on the weight
  growth), so pruning remains sound under corpus drift.

Scale shape of one append: tokenize |delta| docs, shuffle |delta|
packed rows into delta segments, one broadcast semi-join of the chain tf
against the tombstone ids (column-pruned compact rows), one
dictionary-sized outer join for the adjustment. Nothing proportional to
corpus POSTINGS moves. The dictionary join is the largest term —
O(vocab) — the same cost Lucene pays writing a merged term dictionary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.segments import build_segments_packed
from ..session import local_frame
from .build import (
    InvertedIndex,
    _filter_packed,
    assign_doc_ids,
    run_concurrently,
    union_by_name,
)
from .lineage import IndexStore, config_fingerprint


def _guard_out_path(index, out_path: str) -> None:
    """Refuse an ``out_path`` that is already a store of the target
    chain. Writing a generation onto a live ancestor would wipe its
    stage directories (``set_fingerprint`` clears on parent change) and
    install a self-referential parent — destroying the chain the
    durability contract promises to preserve. This is exactly the
    failure mode of an at-least-once ``foreachBatch`` replay
    (``streaming/ingest.py stream_index_generations``), so it fails
    loudly here rather than corrupting."""
    import os

    target = os.path.abspath(out_path)
    for st in index.stores:
        if os.path.abspath(st.path) == target:
            raise ValueError(
                f"append out_path {out_path!r} is a live store of the "
                "target index's generation chain — appending onto an "
                "ancestor would corrupt the chain (replayed micro-batch? "
                "publish a fresh generation path instead)")


def _dels_packed(dels_df: DataFrame) -> DataFrame:
    """Synthetic packed-tf rows for the tombstone posting list: every
    deleted doc id posts once under the reserved ``DEL_TERM`` — fed to
    the ordinary segment builder so the delete set shares the salt
    layout, block format and scan path of the scored postings. Kernels
    then decode ONLY their salt's delete ids (per-segment liveDocs; no
    driver-side collect at any delete-set size)."""
    from ..operators.segments import DEL_TERM

    return dels_df.select(
        F.col("doc_id"),
        F.lit(1).alias("doc_len"),
        F.array(F.lit(DEL_TERM)).alias("terms"),
        F.array(F.lit(1)).alias("tfs"),
    )


def _commit_del_segments(store, dels_df, n_salts: int,
                         block_size: int) -> None:
    if not store.stage_complete("del_segments"):
        store.commit_stage("del_segments", build_segments_packed(
            _dels_packed(dels_df), avgdl=1.0, n_salts=n_salts,
            block_size=block_size))


def _rebuild_filters_minus(fout: DataFrame, applied: DataFrame,
                           n_salts: int, block_size: int) -> DataFrame:
    """Filter postings minus physically-applied tombstones: decode →
    anti-join → re-segment (O(filter postings), the shape of the merge
    itself). Needed because facet counters (``wand.py
    facet_match_counts``) COUNT filter postings directly — once a merge
    drops applied ids from the carried delete set, stale filter rows
    would silently inflate match-all facet counts and fq numFound."""
    from ..operators.segments import decode_segment_doc_ids

    live = decode_segment_doc_ids(fout).join(
        F.broadcast(applied.select("doc_id")), "doc_id", "left_anti")
    packed = (
        live.groupBy("doc_id")
        .agg(F.collect_list("term").alias("terms"))
        .select("doc_id", F.lit(1).alias("doc_len"), "terms",
                F.transform("terms", lambda x: F.lit(1)).alias("tfs"))
    )
    return build_segments_packed(
        packed, avgdl=1.0, n_salts=n_salts, block_size=block_size)


def _dedup_delta(delta_docs: DataFrame, key_col: str) -> DataFrame:
    """One live row per key within a delta batch (the reference merger's
    one-record-per-id contract, ``MarcMerger.java`` min ⋈ merge loop):
    two same-key rows in one batch would BOTH get fresh doc ids while
    only the pre-batch id is tombstoned, breaking upsert-by-key
    uniqueness until some later append. Latest ``warc_ts`` wins when the
    column is present (re-crawled page semantics); remaining ties go to
    the smallest hash of the whole row, so the survivor never depends on
    how the delta is partitioned."""
    from pyspark.sql import Window

    order = [F.xxhash64(*delta_docs.columns)]
    if "warc_ts" in delta_docs.columns:
        order.insert(0, F.desc_nulls_last("warc_ts"))
    w = Window.partitionBy(key_col).orderBy(*order)
    return (delta_docs
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


def _key_expr(df: DataFrame, key_col: str):
    if key_col not in df.columns:
        raise ValueError(
            f"append_delta needs the external key column {key_col!r} in the "
            f"docs stage (build the base with key_col={key_col!r}"
            ", id_col=None); got columns " + str(df.columns)
        )
    return F.col(key_col)


def _has_fresh_ids(index: InvertedIndex) -> bool:
    """Whether some generation of the chain appended docs under ids
    that differ from their keys (manifest ``fresh_ids``)."""
    return any(st.get_meta().get("fresh_ids") for st in index.stores)


def _next_doc_id(spark: SparkSession, index: InvertedIndex) -> int:
    """First doc id of a new generation: above every id that any
    generation's docs stage holds, tombstoned rows included (reusing
    their ids would overlap block ranges across generations and break
    the kernel invariant). Each docs stage's manifest entry records its
    ``doc_id_max`` from the parquet footers, so this is driver
    arithmetic; a chain with a store whose manifest predates that key
    runs the max aggregation instead."""
    entries = [st.lineage()["stages"].get("docs", {})
               for st in index.stores]
    if all("doc_id_max" in e for e in entries):
        maxes = [e["doc_id_max"] for e in entries
                 if e["doc_id_max"] is not None]
        max_id = max(maxes) if maxes else None
    else:
        max_id = union_by_name(
            [st.read_stage(spark, "docs").select("doc_id")
             for st in index.stores]).agg(F.max("doc_id")).collect()[0][0]
    return 0 if max_id is None else int(max_id) + 1


def _adjusted_dictionary(index: InvertedIndex, delta_tf: DataFrame,
                         removed_tf: DataFrame | None) -> DataFrame:
    """The chain head's dictionary plus the delta's per-term (df, cf)
    minus the tombstoned docs', both read off packed tf rows (one row
    per doc, so a term's rows count its docs) — the dictionary never
    waits for the delta's segments."""
    def terms(tf: DataFrame, sign: int) -> DataFrame:
        z = tf.select(F.explode(F.arrays_zip("terms", "tfs")).alias("z"))
        return z.select(F.col("z.terms").alias("term"),
                        F.lit(sign).alias("d_df"),
                        (F.col("z.tfs") * F.lit(sign)).alias("d_cf"))

    parts = [terms(delta_tf, 1)]
    if removed_tf is not None:
        parts.append(terms(removed_tf, -1))
    delta = union_by_name(parts).groupBy("term").agg(
        F.sum("d_df").alias("d_df"), F.sum("d_cf").alias("d_cf"))
    d = index.dictionary.join(delta, "term", "full_outer")
    return d.select(
        "term",
        (F.coalesce("df", F.lit(0)) + F.coalesce("d_df", F.lit(0)))
        .cast("long").alias("df"),
        (F.coalesce("cf", F.lit(0)) + F.coalesce("d_cf", F.lit(0)))
        .cast("long").alias("cf"),
    ).filter(F.col("df") > 0)


def append_delta(
    spark: SparkSession,
    index: InvertedIndex,
    out_path: str,
    delta_docs: DataFrame | None = None,
    delete_keys: DataFrame | None = None,
    key_col: str = "url",
    text_col: str = "text",
    html_col: str | None = None,
) -> InvertedIndex:
    """Apply a delta as a NEW GENERATION of either index kind: O(|delta|)
    work, no corpus shuffle. ``delta_docs`` rows upsert by ``key_col`` (a
    key already in the live index tombstones its old doc id and gets a
    fresh one); ``delete_keys`` is a one-column DataFrame of keys to drop.

    Build parameters (analyzer chain, n_salts, block_size, positions or
    fields) are INHERITED from the base — a generation chain must be
    kernel-compatible (same salt function domain, same analyzer). Every
    stage commit is manifest-gated, so a killed append resumes from its
    last committed stage without re-tokenizing.

    The commits run as a small DAG (:func:`plans.build.run_concurrently`):
    {tombstones → ``deletes`` → ``del_segments``} beside {doc ids →
    {``tf`` → ``docs``} ∥ {``filters``}}; then the stats by driver
    arithmetic; then {``stats``}, {``segments``} and {``dictionary``}
    side by side. The delta and the delete keys are persisted once and
    released on return.
    """
    _guard_out_path(index, out_path)
    if key_col == "doc_id" and _has_fresh_ids(index):
        raise ValueError(
            "append_delta(key_col='doc_id') addresses documents by their "
            "internal doc id, but a generation of this chain appended docs "
            "under fresh ids that are not their keys: deletes and upserts "
            "would hit the wrong documents. Build the base with an "
            "external key column (key_col='url', id_col=None) and append "
            "by that key")
    meta = index.store.get_meta()
    n_salts = int(meta.get("n_salts", index.n_salts))
    block_size = int(meta.get("block_size", 128))
    filter_cols = list(meta.get("filter_cols", []) or [])
    chain = index.chain
    if filter_cols and delta_docs is not None:
        missing = [c for c in filter_cols if c not in delta_docs.columns]
        if missing:
            raise ValueError(
                f"base index carries filter postings for {filter_cols}; "
                f"delta_docs lacks column(s) {missing} — fq over the "
                "chain would silently miss the new generation")

    persisted: list = []
    try:
        def keep(df: DataFrame) -> DataFrame:
            cached = df.persist()
            persisted.append(cached)
            return cached

        del_keys = None
        if delete_keys is not None:
            del_keys = keep(delete_keys.select(
                F.col(delete_keys.columns[0]).alias(key_col)).distinct())
        if delta_docs is not None:
            if del_keys is not None:
                # deletes WIN over same-batch upserts — the reference
                # applies the .del file AFTER the import pass
                # (MarcImporter.java:348-416 runs deleteRecords after
                # importRecords), so a key in both never survives
                delta_docs = delta_docs.join(
                    F.broadcast(del_keys), key_col, "left_anti")
            delta_docs = keep(_dedup_delta(delta_docs, key_col))
        # does this generation give docs ids that are not their keys?
        # (key_col='doc_id': only when its keys are not exactly the fresh
        # ids next_id, next_id + 1, ...; upserts never are)
        fresh_ids = delta_docs is not None
        if fresh_ids and key_col == "doc_id":
            r = delta_docs.agg(F.min(key_col).alias("lo"),
                               F.max(key_col).alias("hi"),
                               F.count("*").alias("n")).collect()[0]
            first = _next_doc_id(spark, index)
            fresh_ids = r["n"] > 0 and (r["lo"], r["hi"]) != (
                first, first + r["n"] - 1)

        store = IndexStore(out_path)
        store.set_fingerprint(config_fingerprint({
            "parent": index.store.path,
            "chain": chain,
            "n_salts": n_salts,
            "block_size": block_size,
            "key_col": key_col,
            "version": 1,
            **index._kind_meta(),
        }))
        need_stats = not store.stage_complete("stats")
        need_dictionary = not store.stage_complete("dictionary")

        # ---- branch: tombstones (old ids of deleted + upserted keys) ----
        live = index.docs  # chain union minus current deletes
        _key_expr(live, key_col)
        keys = del_keys
        if delta_docs is not None:
            dk = delta_docs.select(F.col(key_col))
            keys = dk if keys is None else keys.union(dk)
        old_dels = index.deletes_df()

        def tombstone_branch() -> tuple:
            """(tombstoned docs' tf rows or None, their ``_tf_totals``)."""
            tombstones = None
            if keys is not None:
                # the delta is driver-small relative to the corpus by
                # definition of an increment; broadcast it against the docs
                # table (compact columns only) — the Lucene analog resolves
                # each delete term against the term dictionary, same
                # O(|delta|) probe shape
                tombstones = keep(live.join(
                    F.broadcast(keys.distinct()), key_col).select("doc_id"))
            # cumulative deletes stage (ids-only; reclaimed by
            # merge_generations)
            new_dels = tombstones
            if old_dels is not None:
                new_dels = old_dels.select("doc_id")
                if tombstones is not None:
                    new_dels = new_dels.union(tombstones).distinct()
            if new_dels is not None:
                if not store.stage_complete("deletes"):
                    store.commit_stage("deletes", new_dels,
                                       partition_sort=["doc_id"])
                # index-resident tombstone postings (per-salt liveDocs):
                # every query pass reads these in its salted scan
                _commit_del_segments(store, store.read_stage(spark, "deletes"),
                                     n_salts, block_size)
            if tombstones is None or not (need_stats or need_dictionary):
                return None, {}
            # the tombstoned docs' tf rows: their removed stats and per-term
            # (df, cf) contributions, read from the chain's COMPACT packed
            # rows (docs stages are doc_id-sorted so row-group min/max prunes
            # most of the scan at scale) — never a re-tokenize
            chain_tf = union_by_name(
                [st.read_stage(spark, "tf").drop("pos")
                 for st in index.stores])
            removed_tf = keep(chain_tf.join(F.broadcast(tombstones), "doc_id"))
            return removed_tf, (index._tf_totals(removed_tf) if need_stats
                                else {})

        # ---- branch: delta ingest, fresh ids ABOVE every ancestor's max -
        def delta_branch() -> tuple:
            """(the committed delta tf stage, its ``_tf_totals``)."""
            if delta_docs is None:
                # a pure-delete generation still needs (empty) tf/docs/filters
                # stages so chain unions stay uniform
                empty = ("tf", "docs") + (("filters",) if filter_cols
                                          else ())
                for st in empty:
                    if not store.stage_complete(st):
                        store.commit_stage(
                            st, index.store.read_stage(spark, st).limit(0))
                return store.read_stage(spark, "tf"), {}
            need_tf = not store.stage_complete("tf")
            need_docs = not store.stage_complete("docs")
            need_filters = bool(filter_cols) and not store.stage_complete(
                "filters")
            with_ids = None
            if need_tf or need_filters or (need_docs
                                           and key_col != "doc_id"):
                cols = ([key_col, text_col] + ([html_col] if html_col else [])
                        + filter_cols)
                with_ids = assign_doc_ids(
                    delta_docs.select(*dict.fromkeys(cols)), key_col=key_col,
                    _persist_handle=persisted,
                ).withColumn("doc_id", F.col("doc_id")
                             + F.lit(_next_doc_id(spark, index)))

            def tf_then_docs():
                if need_tf:
                    # persisted: a cached plan keeps its un-coalesced shuffle
                    # partitioning, which fixes the tf stage's file layout
                    store.commit_stage("tf", keep(
                        index._tokenize(with_ids, text_col, html_col)))
                tf_stage = store.read_stage(spark, "tf")
                if need_docs:
                    doc_tbl = index._doc_rows(tf_stage)
                    if key_col != "doc_id":
                        doc_tbl = doc_tbl.join(
                            with_ids.select("doc_id", key_col), "doc_id")
                    store.commit_stage("docs", doc_tbl,
                                       partition_sort=["doc_id"])
                return tf_stage

            def filters():
                # fq bitsets for the delta generation (chain fq needs every
                # generation's stage)
                store.commit_stage("filters", build_segments_packed(
                    _filter_packed(with_ids, filter_cols), avgdl=1.0,
                    n_salts=n_salts, block_size=block_size))

            tf_stage = run_concurrently(
                spark, tf_then_docs, *([filters] if need_filters else []))[0]
            return tf_stage, (index._tf_totals(tf_stage) if need_stats else {})

        (tf_stage, added), (removed_tf, removed) = run_concurrently(
            spark, delta_branch, tombstone_branch)

        # ---- exactly-adjusted global stats: driver arithmetic -----------
        if need_stats:
            stats_rows = index._adjusted_stats(added, removed)
        else:
            stats_rows = store.stage_rows("stats")

        def commit_stats():
            store.commit_stage("stats", local_frame(
                spark, [tuple(r) for r in stats_rows], index._stats_schema))

        def commit_segments():
            # delta segments, built tight at the NEW stats
            store.commit_stage("segments", index._build_segments(
                tf_stage, stats_rows, n_salts, block_size, "auto",
                int(store.lineage()["stages"]["tf"]["rows"])))

        def commit_dictionary():
            store.commit_stage(
                "dictionary",
                _adjusted_dictionary(index, tf_stage, removed_tf),
                partition_sort=["term"])

        run_concurrently(spark, *[
            fn for fn, need in ((commit_stats, need_stats),
                                (commit_segments,
                                 not store.stage_complete("segments")),
                                (commit_dictionary, need_dictionary))
            if need])

        store.set_meta({
            "parent": index.store.path,
            "n_salts": n_salts, "chain": chain, "block_size": block_size,
            "key_col": key_col, "filter_cols": filter_cols,
            "generation": len(index.stores), "fresh_ids": fresh_ids,
            **index._kind_meta(), **index._built_meta(stats_rows),
        })
        return type(index)(store, spark, chain)
    finally:
        for cached in persisted:
            cached.unpersist()


def merge_generations(
    spark: SparkSession,
    index: InvertedIndex,
    out_path: str,
    keep: int = 1,
    block_size: int | None = None,
    range_buckets: int | str = "auto",
) -> InvertedIndex:
    """Tiered merge of either index kind: re-segment the NEWEST
    ``len(chain) - keep`` generations into one, leaving the ``keep``
    oldest untouched (Lucene's TieredMergePolicy shape — small recent
    segments merge often, the big base rarely).

    ``keep=0`` is Solr ``optimize`` (``MarcImporter.java:418-442``;
    ``prof_config.properties:62-65`` warns about its 2x-disk cost — same
    trade here, a full re-segment shuffle of the live tf): the whole
    chain collapses into ONE delete-free generation.

    Work is proportional to the MERGED generations' postings plus their
    deletes: their compact tf rows are unioned (never re-tokenized),
    tombstones falling inside them applied physically (and dropped from
    the carried delete set), and one salted shuffle rebuilds their
    segments with caps tight at the current stats. Stats/dictionary are
    copied — a merge does not change the live corpus, so the adjusted
    values are already correct. The commits run as concurrent branches:
    {``tf`` → ``segments``}, {``docs``, ``stats``, ``dictionary``},
    {``deletes`` → ``del_segments``} and {``filters``}.
    """
    chain_len = len(index.stores)
    if keep < 0 or keep >= chain_len:
        raise ValueError(f"keep must be in [0, {chain_len - 1}]")
    merged_stores = index.stores[: chain_len - keep]   # newest first
    parent = index.stores[chain_len - keep].path if keep else None
    meta = index.store.get_meta()
    n_salts = int(meta.get("n_salts", index.n_salts))
    bs = int(block_size or meta.get("block_size", 128))

    store = IndexStore(out_path)
    store.set_fingerprint(config_fingerprint({
        "merge_of": [s.path for s in merged_stores],
        "parent": parent,
        "block_size": bs, "version": 1,
    }))

    merged_tf = union_by_name(
        [st.read_stage(spark, "tf") for st in merged_stores])
    merged_docs = union_by_name(
        [st.read_stage(spark, "docs") for st in merged_stores])

    dels = index.deletes_df()
    carried = None
    applied = None
    if dels is not None:
        # split tombstones: ids living in a MERGED generation get applied
        # physically here; ids in a KEPT ancestor stay in the delete set
        merged_ids = merged_docs.select("doc_id")
        applied = dels.join(merged_ids, "doc_id", "left_semi").persist()
        carried = dels.join(merged_ids, "doc_id", "left_anti")
        if applied.limit(1).count() == 0:
            applied.unpersist()
            applied = None
        else:
            merged_tf = merged_tf.join(
                F.broadcast(applied), "doc_id", "left_anti")
            merged_docs = merged_docs.join(
                F.broadcast(applied), "doc_id", "left_anti")
        if keep == 0 or carried.limit(1).count() == 0:
            carried = None

    def deletes():
        store.commit_stage("deletes", carried, partition_sort=["doc_id"])
        _commit_del_segments(
            store, store.read_stage(spark, "deletes"), n_salts, bs)

    def tf_then_segments():
        store.commit_stage("tf", merged_tf)
        store.commit_stage("segments", index._build_segments(
            store.read_stage(spark, "tf"), index._stats_rows, n_salts, bs,
            range_buckets, int(store.lineage()["stages"]["tf"]["rows"])))

    def docs_stats_dictionary():
        store.commit_stage("docs", merged_docs, partition_sort=["doc_id"])
        # global stats/dictionary are unchanged by a merge — copy the
        # already adjusted tables from the chain head
        store.commit_stage("stats", index.store.read_stage(spark, "stats"))
        store.commit_stage("dictionary", index.dictionary,
                           partition_sort=["term"])

    def filters():
        # only the MERGED tiers' filter rows move into this store (a kept
        # ancestor keeps its own stage — the chain union would
        # double-count its rows otherwise). Block re-layout is unneeded
        # for the fq gate, but the facet counters COUNT these postings
        # directly, so rows of the applied docs must leave them too
        # (decode → anti-join → re-segment, O(merged filter postings))
        fout = union_by_name(
            [st.read_stage(spark, "filters") for st in merged_stores])
        if applied is not None:
            fout = _rebuild_filters_minus(fout, applied, n_salts, bs)
        store.commit_stage("filters", fout)

    branches = [tf_then_segments, docs_stats_dictionary]
    if carried is not None:
        branches.append(deletes)
    if all(st.stage_complete("filters") for st in merged_stores):
        branches.append(filters)
    try:
        run_concurrently(spark, *branches)
    finally:
        if applied is not None:
            applied.unpersist()

    store.set_meta({
        "parent": parent,
        "n_salts": n_salts, "chain": index.chain, "block_size": bs,
        "key_col": meta.get("key_col"),
        "filter_cols": list(meta.get("filter_cols", []) or []),
        "generation": keep, "fresh_ids": _has_fresh_ids(index),
        **index._kind_meta(), **index._built_meta(index._stats_rows),
    })
    return type(index)(store, spark, index.chain)


def maybe_compact(
    spark: SparkSession,
    index: InvertedIndex,
    out_path: str,
    max_generations: int = 4,
    keep: int = 1,
) -> InvertedIndex:
    """Auto merge policy: when the chain exceeds ``max_generations``,
    merge the delta tiers back into one (keeping the ``keep`` oldest
    untouched). Returns the (possibly unchanged) index handle."""
    if len(index.stores) <= max_generations:
        return index
    return merge_generations(spark, index, out_path, keep=keep)
