"""Streaming ingest: the reference is batch-only (SURVEY.md §2.11 — nightly
delta files merged and committed; Solr autoCommit is a durability
micro-batch, not event-time processing). The faithful Spark shape is
therefore ``Trigger.AvailableNow`` over the same batch logic: drain
whatever landed, run extraction + profiling, append, checkpoint, stop.
Watermarks are deliberately absent HERE — nothing in the reference maps
to event time; the event-time windowed aggregation with late-data
watermarks lives in :mod:`.windows` as a beyond-reference operator.

Beyond the reference, :func:`stream_dedup_gate` adds the stateful operator
a training-data ingest actually needs: a cross-micro-batch EXACT-dedup
gate (first occurrence of a content digest passes, every later arrival —
same batch or any future one — is dropped), built on
``applyInPandasWithState`` with the digest as the state key.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..corpus import WEB_PAGES_SCHEMA
from ..functions.textstats import lang_id_expr, quality_score_expr, token_count
from ..sources.html import extract_text_udf


def stream_ingest_available_now(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drain all parquet files from source_dir into target_dir, running the
    extraction + text-profile stage per micro-batch. Incremental: files
    already checkpointed are skipped on the next invocation (the analog of
    the reference's restartable incremental scripts).

    Blocks until the AvailableNow drain completes.
    """
    stream = (
        spark.readStream.schema(WEB_PAGES_SCHEMA).parquet(source_dir)
    )
    enriched = (
        stream.withColumn("extracted_text", extract_text_udf()(F.col("html")))
        .withColumn("n_tokens", token_count("text"))
        .withColumn("lang_guess", lang_id_expr("text"))
        .withColumn("quality", quality_score_expr("text"))
    )
    q = (
        enriched.writeStream.format("parquet")
        .option("path", target_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_ingested(spark: SparkSession, target_dir: str) -> DataFrame:
    return spark.read.parquet(target_dir)


DEDUP_OUT_SCHEMA = T.StructType(
    [
        T.StructField("digest", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)
_DEDUP_STATE_SCHEMA = T.StructType([T.StructField("seen", T.IntegerType())])


def _dedup_gate_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Emit the first-ever row for this digest; drop everything else.

    Within the first batch a digest appears in, the kept row is the
    min-url one (deterministic regardless of partition arrival order);
    once state exists, later batches emit nothing for this key.
    """
    if state.exists:
        for _ in pdfs:
            pass
        return
    best = None
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        cand = pdf.loc[pdf["url"].idxmin()]
        if best is None or cand["url"] < best["url"]:
            best = cand
    if best is not None:
        state.update((1,))
        yield pd.DataFrame(
            {
                "digest": [key[0]],
                "url": [best["url"]],
                "text": [best["text"]],
            }
        )


def stream_dedup_gate(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
) -> None:
    """Cross-batch exact-dedup ingest gate (the streaming member of the
    dedup family in operators/dedup.py): key = md5 of the text content,
    state = 'seen' flag in the state store. First arrival of a digest is
    appended to ``target_dir``; every re-arrival — in the same micro-batch
    or any later run against the same checkpoint — is dropped.

    Scale shape: state is partitioned by digest (hash-distributed, no
    driver set); per-key state is one int; the state store checkpoints
    with the query, so a crashed ingest resumes without re-admitting
    duplicates. Blocks until the AvailableNow drain completes.
    """
    stream = spark.readStream.schema(WEB_PAGES_SCHEMA).parquet(source_dir)
    keyed = stream.select(
        F.md5(F.col(text_col)).alias("digest"), "url", F.col(text_col).alias("text")
    ).groupBy("digest")
    gated = keyed.applyInPandasWithState(
        _dedup_gate_fn,
        outputStructType=DEDUP_OUT_SCHEMA,
        stateStructType=_DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        gated.writeStream.format("parquet")
        .option("path", target_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_fuzzy_dedup_gate(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    checkpoint_dir: str,
    old_docs: "DataFrame",
    old_bands: "DataFrame",
    key_col: str = "url",
    text_col: str = "text",
    threshold: float = 0.2,
    max_bucket: int = 200,
) -> None:
    """Streaming front door for incremental cross-snapshot dedup
    (operators/dedup.py:dedup_against): as each micro-batch of crawled
    pages lands, every page near-duplicating the EXISTING archive —
    represented by its stored LSH band table ``old_bands`` — is
    dropped; survivors append to ``target_dir``.

    ``dedup_against`` is stateless given the archive side, so this is a
    ``foreachBatch`` composition (the Structured Streaming idiom for
    batch joins against static side inputs): no streaming state store,
    exactly-once appends via the checkpoint. Archive text (``old_docs``)
    is read only for band-collision candidates of each batch — the
    asymmetric 100 TB shape measured in BENCH.md (56 s for a 100k
    increment vs a 3.1M archive). Within-batch and batch-vs-batch
    duplicates are NOT this gate's job — compose with
    :func:`stream_dedup_gate` (exact, stateful) upstream, exactly as a
    batch pipeline runs exact dedup before fuzzy dedup.

    Blocks until the AvailableNow drain completes.
    """
    from ..operators.dedup import dedup_against

    stream = spark.readStream.schema(WEB_PAGES_SCHEMA).parquet(source_dir)

    def process(batch_df, batch_id: int) -> None:
        flags = dedup_against(
            batch_df, old_docs, key_col=key_col, text_col=text_col,
            threshold=threshold, max_bucket=max_bucket,
            old_bands=old_bands,
        )
        kept = batch_df.join(
            flags.filter(F.col("kept")).select(key_col), key_col,
            "left_semi")
        kept.write.mode("append").parquet(target_dir)

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_index_generations(
    spark: SparkSession,
    source_dir: str,
    index_root: str,
    checkpoint_dir: str,
    key_col: str = "url",
    text_col: str = "text",
    chain: str = "simple",
    n_salts: int = 16,
    block_size: int = 128,
    delete_col: str | None = None,
    max_generations: int = 4,
    keep: int = 1,
    schema=None,
    searcher_manager=None,
    fields=None,
):
    """The Solr autoCommit loop as Structured Streaming: each micro-batch
    of pages becomes ONE index GENERATION (``plans/generations.py
    append_delta`` — O(|batch|) ingest, upsert-by-key, optional
    tombstones), and the chain is compacted by the tiered-merge policy
    whenever it exceeds ``max_generations`` — exactly the
    ``<autoCommit maxDocs=20000 openSearcher=false>`` + background-merge
    lifecycle of the reference's Solr core
    (``profiling/solr/conf/solrconfig.xml:30-33``).

    ``fields``: a ``build_multifield_index`` field list
    ``[(name, token_limit), ...]`` makes the chain a MULTI-FIELD (edismax)
    index — the reference's default handler index; it is used only for
    the FIRST batch's base build, later generations inherit it from the
    base manifest. ``None`` builds the single-field index.

    Durability/restart: the live chain head is published in
    ``<index_root>/CURRENT`` via atomic rename AFTER each batch commits
    its stores — a crashed driver restarts from the checkpoint, the
    un-published partial generation is abandoned on disk, and the next
    drain re-appends that batch (each generation is itself a fresh
    snapshot, so the base is never corrupted). ``delete_col``: name of a
    boolean column marking tombstone rows (deletes win over same-batch
    upserts, matching the reference's post-import .del application).

    ``searcher_manager``: optional
    :class:`..operators.resultcache.SearcherManager` — each published
    batch triggers its ``commit`` (new searcher + autowarm), the Solr
    newSearcher/autowarmCount lifecycle. It serves the single-field
    index only (``CachedSearcher`` refuses a multi-field handle).

    Blocks until the AvailableNow drain completes; returns the final
    index handle of the chain's kind (or None if nothing was ever
    indexed).
    """
    import os

    from ..plans.build import build_index, open_index
    from ..plans.generations import append_delta, maybe_compact
    from ..plans.multifield import build_multifield_index

    current_ptr = os.path.join(index_root, "CURRENT")
    os.makedirs(index_root, exist_ok=True)

    def _publish(path: str) -> None:
        tmp = current_ptr + ".tmp"
        with open(tmp, "w") as f:
            f.write(path)
        os.replace(tmp, current_ptr)

    def _current():
        if os.path.exists(current_ptr):
            with open(current_ptr) as f:
                return open_index(spark, f.read().strip())
        return None

    stream = spark.readStream.schema(
        schema or WEB_PAGES_SCHEMA).parquet(source_dir)

    def process(batch_df, batch_id: int) -> None:
        # foreachBatch is at-least-once: a crash between _publish and the
        # checkpoint commit replays this batch_id. The publish marker IS
        # the idempotence token — if CURRENT already names this batch's
        # generation (or its compaction), the batch was fully applied and
        # the replay must be a no-op (re-appending would route
        # append_delta at a live store of its own chain, which
        # plans/generations.py _guard_out_path refuses loudly).
        if os.path.exists(current_ptr):
            with open(current_ptr) as f:
                head = os.path.basename(f.read().strip().rstrip("/"))
            if head in (f"gen_{batch_id}", f"gen_{batch_id}_d",
                        f"compact_{batch_id}"):
                return
        if batch_df.isEmpty():
            return
        dels = None
        if delete_col and delete_col in batch_df.columns:
            dels = batch_df.filter(F.col(delete_col)).select(key_col)
            batch_df = batch_df.filter(
                ~F.coalesce(F.col(delete_col), F.lit(False)))
        docs = batch_df.select(key_col, text_col)
        idx = _current()
        if idx is None:
            base = os.path.join(index_root, f"gen_{batch_id}")
            kw = dict(key_col=key_col, text_col=text_col, chain=chain,
                      n_salts=n_salts, block_size=block_size)
            idx = (build_index(spark, docs, base, **kw) if fields is None
                   else build_multifield_index(spark, docs, base,
                                               fields=fields, **kw))
            if dels is not None and dels.limit(1).count():
                idx = append_delta(
                    spark, idx,
                    os.path.join(index_root, f"gen_{batch_id}_d"),
                    delete_keys=dels, key_col=key_col)
        else:
            idx = append_delta(
                spark, idx, os.path.join(index_root, f"gen_{batch_id}"),
                delta_docs=docs, delete_keys=dels, key_col=key_col,
            )
        idx = maybe_compact(
            spark, idx, os.path.join(index_root, f"compact_{batch_id}"),
            max_generations=max_generations, keep=keep,
        )
        _publish(idx.store.path)
        if searcher_manager is not None:
            # Solr's commit hook: open a new searcher over the published
            # head and autowarm it from the retiring searcher's MRU keys
            # (operators/resultcache.py SearcherManager)
            searcher_manager.commit(idx)

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return _current()
