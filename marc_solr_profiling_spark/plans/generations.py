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
data differs (how a delta is tokenized, which per-doc facts its tf and
docs stages carry, the shape of the stats stage, the avgdl segments are
built at, the manifest meta), and the handle's lifecycle hooks
(``_tokenize``, ``_delta_facts``, ``_removed_totals``,
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
  tombstoned docs' contributions (their docs rows' lengths and their
  compact packed tf rows, read through a pushed-down ``doc_id`` filter —
  no re-tokenization) plus the delta's; stale block-max caps of old
  generations are scaled by ``avgdl_now / avgdl_built`` at read time (an
  upper bound on the weight growth), so pruning remains sound under
  corpus drift.

Scale shape of one append: ONE job collects the delta's
``(key, warc_ts, row hash)`` and the delete keys; in-batch dedup, the
deletes-win rule and id assignment are then driver arithmetic. The
driver holds only the sets an append used to broadcast: the delta and
delete keys, the head's cumulative delete ids, and per-doc scalars of
those docs (their ids and lengths). Tombstones are looked up in each
generation's doc_id-sorted ``docs`` stage with pyarrow, no job, one row
group at a time and only the row groups whose key range brackets a key.
That prunes where the stage is in key order (a generation built or
appended by key; a merged tier is one such run per generation) and the
keys are few. A base built with ``id_col``, or a delta spread over the
whole key space, has the driver read every docs row (key, id, length)
— the scan the shuffle-based append ran as a broadcast join on the
executors. Term-level work stays in Spark: one analyzed pass tokenizes
|delta| docs, the delta segments shuffle |delta| packed rows, and one
dictionary-sized outer join adjusts df/cf. Nothing proportional to
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
    run_concurrently,
    union_by_name,
)
from .lineage import IndexStore, config_fingerprint

# A delta of fewer docs than this tokenizes in one task and writes one tf
# file; from it up, the analyzed pass runs over ``defaultParallelism``
# tasks. Appends of generated html pages on local[4] (BENCH.md): from 256
# docs up the wide tf commit was faster in every run (by 0.03-0.2 s at
# 256-1,024 docs, ~1 s at 4,096); below, the two widths were within the
# noise, and one task wrote one file where four made the generation ~1%
# larger.
_TINY_DELTA_DOCS = 256


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
    then decode ONLY their salt's delete ids (per-segment liveDocs: no
    query collects the delete set)."""
    from ..operators.segments import DEL_TERM

    return dels_df.select(
        F.col("doc_id"),
        F.lit(1).alias("doc_len"),
        F.array(F.lit(DEL_TERM)).alias("terms"),
        F.array(F.lit(1)).alias("tfs"),
    )


def _deleted_ids(store: IndexStore) -> list:
    """A store's cumulative tombstoned ids, read on the driver (no job)."""
    if not store.stage_complete("deletes"):
        return []
    return store.stage_table("deletes", ["doc_id"]).column(
        "doc_id").to_pylist()


def _commit_deletes(spark: SparkSession, store: IndexStore, ids: list,
                    n_salts: int, block_size: int) -> None:
    """Commit the driver-held cumulative delete set as the ``deletes``
    stage and its per-salt ``del_segments`` postings, concurrently from
    one driver frame; an empty set commits neither (readers then see a
    delete-free head)."""
    if not ids:
        return
    frame = local_frame(spark, [(i,) for i in sorted(ids)],
                        "doc_id long").coalesce(1)
    branches = []
    if not store.stage_complete("deletes"):
        branches.append(lambda: store.commit_stage(
            "deletes", frame, partition_sort=["doc_id"]))
    if not store.stage_complete("del_segments"):
        branches.append(lambda: store.commit_stage(
            "del_segments", build_segments_packed(
                _dels_packed(frame), avgdl=1.0, n_salts=n_salts,
                block_size=block_size)))
    run_concurrently(spark, *branches)


def _rebuild_filters_minus(fout: DataFrame, applied: list,
                           n_salts: int, block_size: int) -> DataFrame:
    """Filter postings minus physically-applied tombstones: decode →
    filter → re-segment (O(filter postings), the shape of the merge
    itself). Needed because facet counters (``wand.py
    facet_match_counts``) COUNT filter postings directly — once a merge
    drops applied ids from the carried delete set, stale filter rows
    would silently inflate match-all facet counts and fq numFound."""
    from ..operators.segments import decode_segment_doc_ids

    live = decode_segment_doc_ids(fout).filter(
        ~F.col("doc_id").isin(applied))
    packed = (
        live.groupBy("doc_id")
        .agg(F.collect_list("term").alias("terms"))
        .select("doc_id", F.lit(1).alias("doc_len"), "terms",
                F.transform("terms", lambda x: F.lit(1)).alias("tfs"))
    )
    return build_segments_packed(
        packed, avgdl=1.0, n_salts=n_salts, block_size=block_size)


def _better(ts, h, best_ts, best_h) -> bool:
    """Whether a delta row beats the key's best so far: the latest
    ``warc_ts`` wins (nulls last), then the smallest row hash."""
    if ts != best_ts:
        return best_ts is None or (ts is not None and ts > best_ts)
    return h < best_h


def _resolve_delta(delta_docs: DataFrame | None,
                   delete_keys: DataFrame | None, key_col: str,
                   first_id: int) -> tuple:
    """Learn the delta in ONE Spark job and resolve it on the driver.

    Collects ``(key, warc_ts, xxhash64(row))`` of ``delta_docs`` and the
    delete keys together, then:

    - deletes WIN over same-batch upserts — the reference applies the
      .del file AFTER the import pass (``MarcImporter.java:348-416`` runs
      deleteRecords after importRecords), so a key in both never
      survives;
    - one row per key survives (the reference merger's one-record-per-id
      contract, ``MarcMerger.java`` min ⋈ merge loop: two same-key rows
      would BOTH get fresh ids while only the pre-batch id is
      tombstoned): the latest ``warc_ts`` (re-crawled page semantics,
      nulls last), then the smallest hash of the whole row, so the
      survivor never depends on how the delta is partitioned;
    - the survivors get ids ``first_id + rank`` in key order (doc id
      ascending == key ascending, nulls first: id tie-breaks equal key
      tie-breaks, as in a full build).

    Returns ``(ids, delete keys)``: ``ids`` maps each surviving
    ``(key, row hash)`` to its doc id in key order (exact copies of a
    survivor share the entry; one doc must still come of them)."""
    parts = []
    key_type = ts_type = None
    if delta_docs is not None:
        key_type = delta_docs.schema[key_col].dataType
        ts = (F.col("warc_ts") if "warc_ts" in delta_docs.columns
              else F.lit(None).cast("timestamp"))
        parts.append(delta_docs.select(
            F.col(key_col).alias("k"), ts.alias("ts"),
            F.xxhash64(*delta_docs.columns).alias("h"),
            F.lit(False).alias("d")))
        ts_type = parts[0].schema["ts"].dataType
    if delete_keys is not None:
        k = F.col(delete_keys.columns[0])
        parts.append(delete_keys.select(
            (k if key_type is None else k.cast(key_type)).alias("k"),
            F.lit(None).cast(ts_type or "timestamp").alias("ts"),
            F.lit(None).cast("long").alias("h"), F.lit(True).alias("d")))
    rows = union_by_name(parts).collect() if parts else []

    deleted = {r["k"] for r in rows if r["d"] and r["k"] is not None}
    best: dict = {}  # key -> (warc_ts, row hash)
    for r in rows:
        k = r["k"]
        if r["d"] or k in deleted:
            continue
        cur = best.get(k)
        if cur is None or _better(r["ts"], r["h"], *cur):
            best[k] = (r["ts"], r["h"])
    order = sorted(best, key=lambda k: (k is not None, k))
    ids = {(k, best[k][1]): first_id + i for i, k in enumerate(order)}
    return ids, deleted


def _with_ids(spark: SparkSession, delta_docs: DataFrame, cols: list,
              key_col: str, ids: dict) -> DataFrame:
    """The surviving delta rows (``cols``) with their driver-assigned
    ``doc_id``: a ``mapInPandas`` carrying the ``(key, row hash) → id``
    map in its closure keeps each survivor once — no window, sort or
    join. A tiny delta runs in one task (one tf file); a larger one is
    hash-partitioned by key over ``defaultParallelism`` tasks. Either
    way the exact copies of a survivor meet in one task, which keeps the
    first."""
    import numpy as np
    from pyspark.sql.types import LongType, StructField, StructType

    rows = delta_docs.select(*cols, F.xxhash64(*delta_docs.columns)
                             .alias("_h"))
    if len(ids) < _TINY_DELTA_DOCS:
        rows = rows.coalesce(1)
    else:
        rows = rows.repartition(spark.sparkContext.defaultParallelism,
                                key_col)
    drop = ["_h", "doc_id"]  # a doc_id key is replaced by the fresh id
    schema = StructType(
        [f for f in rows.schema.fields if f.name not in drop]
        + [StructField("doc_id", LongType(), False)])

    def assign(batches):
        seen: set = set()
        for pdf in batches:
            keys = pdf[key_col].astype(object).where(
                pdf[key_col].notna(), None).tolist()
            keep, out_ids = [], []
            for kh in zip(keys, pdf["_h"].tolist()):
                i = ids.get(kh)
                fresh = i is not None and i not in seen
                keep.append(fresh)
                if fresh:
                    seen.add(i)
                    out_ids.append(i)
            out = pdf.loc[keep].drop(columns=[c for c in drop
                                              if c in pdf.columns])
            out["doc_id"] = np.asarray(out_ids, dtype=np.int64)
            yield out

    return rows.mapInPandas(assign, schema)


def _tombstones(index: InvertedIndex, key_col: str, keys: set,
                deleted: set) -> dict:
    """The live docs of ``keys``, found on the driver with no job: each
    generation's docs-stage rows of the keys (``IndexStore.lookup`` reads
    only the row groups whose key range brackets one: few on a stage in
    key order, all of a base built with ``id_col``), minus the
    ``deleted`` ids. Returns
    ``{store: [row, ...]}`` of the generations holding any, each row a
    dict of the docs stage's columns."""
    if not keys:
        return {}
    found = {}
    for st in index.stores:
        rows = [r for r in st.lookup("docs", key_col, keys)
                if r["doc_id"] not in deleted]
        if rows:
            found[st] = rows
    return found


def _has_fresh_ids(index: InvertedIndex) -> bool:
    """Whether some generation of the chain appended docs under ids
    that differ from their keys (manifest ``fresh_ids``)."""
    return any(st.get_meta().get("fresh_ids") for st in index.stores)


def _next_doc_id(spark: SparkSession, stores: list) -> int:
    """First doc id above every id that any of ``stores``' docs stages
    holds, tombstoned rows included (reusing their ids would overlap
    block ranges across generations and break the kernel invariant).
    Each docs stage's manifest entry records its ``doc_id_max`` from the
    parquet footers, so this is driver arithmetic; a chain with a store
    whose manifest predates that key runs the max aggregation instead."""
    entries = [st.lineage()["stages"].get("docs", {}) for st in stores]
    if all("doc_id_max" in e for e in entries):
        maxes = [e["doc_id_max"] for e in entries
                 if e["doc_id_max"] is not None]
        max_id = max(maxes) if maxes else None
    else:
        max_id = union_by_name(
            [st.read_stage(spark, "docs").select("doc_id")
             for st in stores]).agg(F.max("doc_id")).collect()[0][0]
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

    The DAG: one job learns the delta (:func:`_resolve_delta`: dedup,
    deletes-win and ids on the driver) and the tombstones are looked up
    on the driver (:func:`_tombstones`); then, side by side, {``tf``
    (the one analyzed pass) → its per-doc ids and lengths read back on
    the driver → {``docs``, ``stats``, ``segments``, ``dictionary``}},
    {``filters``} and {``deletes``, ``del_segments``} (from one driver
    frame; neither is committed when the chain has no tombstone). The
    driver holds the delta and delete keys, the head's delete ids and
    per-doc scalars of those docs — the sets the shuffle-based append
    broadcast — never terms. No window, range shuffle, broadcast join or
    persist.
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
    docs_schema = index.store.read_stage(spark, "docs").schema
    for st in index.stores:
        cols = st.read_stage(spark, "docs").columns
        if key_col not in cols:
            raise ValueError(
                f"append_delta needs the external key column {key_col!r} "
                f"in the docs stage (build the base with key_col="
                f"{key_col!r}, id_col=None); got columns {cols}")

    first_id = _next_doc_id(spark, index.stores)
    ids, del_keys = _resolve_delta(delta_docs, delete_keys, key_col,
                                   first_id)
    # does this generation give docs ids that are not their keys?
    # (key_col='doc_id': only when its keys are not exactly the fresh
    # ids first_id, first_id + 1, ...; upserts never are)
    keys = [k for k, _ in ids]  # key order
    fresh_ids = bool(keys) and (key_col != "doc_id" or (keys[0], keys[-1])
                                != (first_id, first_id + len(keys) - 1))

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
    need = {st: not store.stage_complete(st)
            for st in ("tf", "docs", "stats", "segments", "dictionary",
                       "filters")}
    need["filters"] = need["filters"] and bool(filter_cols)

    # ---- tombstones: old ids of the deleted and upserted keys ---------
    deleted = set(_deleted_ids(index.store))
    tomb = _tombstones(
        index, key_col, {k for k in keys if k is not None} | del_keys,
        deleted)
    dead = [r for rows in tomb.values() for r in rows]
    dead_ids = sorted(r["doc_id"] for r in dead)
    removed_tf = None
    if dead and (need["stats"] or need["dictionary"]):
        # the tombstoned docs' compact packed rows, from the generations
        # holding them, through a pushed-down doc_id filter
        removed_tf = union_by_name(
            [st.read_stage(spark, "tf").drop("pos") for st in tomb]
        ).filter(F.col("doc_id").isin(dead_ids))

    # ---- the analyzed pass over the surviving delta rows --------------
    with_ids = None
    if ids and (need["tf"] or need["filters"]):
        cols = list(dict.fromkeys(
            [key_col, text_col] + ([html_col] if html_col else [])
            + filter_cols))
        with_ids = _with_ids(spark, delta_docs, cols, key_col, ids)

    def empty(stage: str) -> DataFrame:
        # a generation with no docs still commits (empty) tf/docs/filters
        # stages so chain unions stay uniform
        return index.store.read_stage(spark, stage).limit(0)

    def commit_tf() -> None:
        if need["tf"]:
            store.commit_stage("tf", index._tokenize(
                with_ids, text_col, html_col) if ids else empty("tf"))

    def removed_totals() -> dict:
        return index._removed_totals(dead, removed_tf) if need["stats"] \
            else {}

    def ingest() -> list:
        removed = run_concurrently(spark, commit_tf, removed_totals)[1]
        tf_stage = store.read_stage(spark, "tf")
        # the delta's per-doc facts: the committed tf's ids and lengths,
        # read on the driver
        facts = store.stage_table("tf", list(index._tf_facts)).to_pandas()
        doc_rows, added = index._delta_facts(facts)
        if sorted(doc_rows["doc_id"]) != sorted(ids.values()):
            raise RuntimeError(
                "the committed delta tf does not hold exactly the ids "
                "assigned to the delta — is delta_docs deterministic?")
        stats_rows = (index._adjusted_stats(added, removed) if need["stats"]
                      else store.stage_rows("stats"))

        def commit_docs():
            rows = doc_rows
            if key_col != "doc_id":
                key_of = {i: k for (k, _), i in ids.items()}
                rows = rows.assign(**{key_col: rows["doc_id"].map(key_of)})
            store.commit_stage("docs", local_frame(
                spark, rows.sort_values("doc_id"), docs_schema
            ).coalesce(1), partition_sort=["doc_id"])

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
            fn for fn, st in ((commit_docs, "docs"), (commit_stats, "stats"),
                              (commit_segments, "segments"),
                              (commit_dictionary, "dictionary"))
            if need[st]])

        return stats_rows

    def filters() -> None:
        # fq bitsets for the delta generation (chain fq needs every
        # generation's stage)
        store.commit_stage("filters", build_segments_packed(
            _filter_packed(with_ids, filter_cols), avgdl=1.0,
            n_salts=n_salts, block_size=block_size)
            if ids else empty("filters"))

    def deletes() -> None:
        # the cumulative delete set (ids only; reclaimed by
        # merge_generations) and its index-resident postings
        _commit_deletes(spark, store, deleted | set(dead_ids), n_salts,
                        block_size)

    stats_rows = run_concurrently(
        spark, ingest, deletes, *([filters] if need["filters"] else []))[0]

    store.set_meta({
        "parent": index.store.path,
        "n_salts": n_salts, "chain": chain, "block_size": block_size,
        "key_col": key_col, "filter_cols": filter_cols,
        "generation": len(index.stores), "fresh_ids": fresh_ids,
        **index._kind_meta(), **index._built_meta(stats_rows),
    })
    return type(index)(store, spark, chain)


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
    segments with caps tight at the current stats. Ids are append-only,
    so a tombstone above the kept generations' largest id lives in a
    merged one: the split of the head's delete ids (read on the driver)
    into applied and carried is arithmetic, and the applied ones leave
    through a ``doc_id`` filter. Stats/dictionary are copied — a merge
    does not change the live corpus, so the adjusted values are already
    correct. The commits run as concurrent branches: {``tf`` →
    ``segments``}, {``docs``, ``stats``, ``dictionary``}, {``deletes``,
    ``del_segments``} and {``filters``}.
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

    # split tombstones: ids living in a MERGED generation get applied
    # physically here; ids in a KEPT ancestor stay in the delete set
    kept_max = (_next_doc_id(spark, index.stores[chain_len - keep:]) - 1
                if keep else -1)
    dels = _deleted_ids(index.store)
    applied = [i for i in dels if i > kept_max]
    carried = [i for i in dels if i <= kept_max]
    if applied:
        live = ~F.col("doc_id").isin(applied)
        merged_tf = merged_tf.filter(live)
        merged_docs = merged_docs.filter(live)

    def tf_then_segments():
        store.commit_stage("tf", merged_tf)
        store.commit_stage("segments", index._build_segments(
            store.read_stage(spark, "tf"), index._stats_rows, n_salts, bs,
            range_buckets, int(store.lineage()["stages"]["tf"]["rows"])))

    def docs_stats_dictionary():
        store.commit_stage("docs", merged_docs, partition_sort=["doc_id"])
        # global stats/dictionary are unchanged by a merge — copy the
        # already adjusted tables from the chain head (the stats rows
        # from the handle, with no scan)
        store.commit_stage("stats", local_frame(
            spark, [tuple(r) for r in index._stats_rows],
            index._stats_schema))
        store.commit_stage("dictionary", index.dictionary,
                           partition_sort=["term"])

    def filters():
        # only the MERGED tiers' filter rows move into this store (a kept
        # ancestor keeps its own stage — the chain union would
        # double-count its rows otherwise). Block re-layout is unneeded
        # for the fq gate, but the facet counters COUNT these postings
        # directly, so rows of the applied docs must leave them too
        # (decode → filter → re-segment, O(merged filter postings))
        fout = union_by_name(
            [st.read_stage(spark, "filters") for st in merged_stores])
        if applied:
            fout = _rebuild_filters_minus(fout, applied, n_salts, bs)
        store.commit_stage("filters", fout)

    branches = [tf_then_segments, docs_stats_dictionary,
                lambda: _commit_deletes(spark, store, carried, n_salts, bs)]
    if all(st.stage_complete("filters") for st in merged_stores):
        branches.append(filters)
    run_concurrently(spark, *branches)

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
