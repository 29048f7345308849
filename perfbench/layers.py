"""Per-layer metrics of a traced run.

Each workload's traced run fills every name in ``PER_LAYER``; a layer the
workload does not exercise reports 0. Layer numbers come from four places:
the stage manifests the build and the generations commit
(``plans.lineage``), replays of the same calls with a no-op sink or the
block-skip accumulator, driver-side micro-runs of the codec, extractor and
analyzer on a fixed sample of the workload's rows, and the Spark event log
(jobs attributed to benchmark spans).
"""

from __future__ import annotations

import glob
import os
import statistics
import time

from .trace import (
    attribute_jobs,
    parse_event_log,
    spark_metrics,
    tasks_of_jobs,
)

STAGES_S = ("tf", "docs", "stats", "segments", "filters", "dictionary")
STAGES_BYTES = ("tf", "segments", "dictionary", "docs")
SPARK = ("tasks", "executor_cpu_s", "gc_s", "shuffle_write_mb",
         "shuffle_read_mb", "python_in_mb", "task_overhead_s", "driver_gap_s")

PER_LAYER: dict[str, str] = {
    **{f"plans.lineage.{s}_s": "s" for s in STAGES_S},
    **{f"plans.lineage.{s}_bytes": "bytes" for s in STAGES_BYTES},
    "operators.postings.tokenize_count_s": "s",
    "operators.segments.build_s": "s",
    "sources.html.extract_mb_per_s": "MB/s",
    "functions.analyzer.tokens_per_s": "1/s",
    "functions.analyzer.query_ms": "ms",
    "operators.varbyte.encode_mb_per_s": "MB/s",
    "operators.varbyte.decode_mb_per_s": "MB/s",
    "operators.wand.topk_p50_ms": "ms",
    "operators.wand.match_ids_p50_ms": "ms",
    "operators.wand.facet_counts_p50_ms": "ms",
    "operators.wand.blocks_skipped": "count",
    "operators.wand.blocks_skipped_ratio": "ratio",
    "operators.wand.jobs_per_topk": "count",
    "operators.wand.tasks_per_topk": "count",
    "plans.select.self_p50_ms": "ms",
    "plans.select.jobs_per_request": "count",
    "plans.generations.deletes_s": "s",
    "plans.generations.del_segments_s": "s",
    "plans.generations.merge_segments_s": "s",
    "plans.generations.chain_len": "count",
    "plans.generations.tombstones": "count",
    "operators.resultcache.hit_ratio": "ratio",
    "operators.resultcache.misses": "count",
    "operators.resultcache.evictions": "count",
    "operators.resultcache.warm_s": "s",
    **{f"spark.{m}": ("count" if m == "tasks" else
                      "MB" if m.endswith("_mb") else "s") for m in SPARK},
    "tracing.write_s": "s",
    "tracing.read_mean_ms": "ms",
}


def _median(vals, default=0.0) -> float:
    vals = [v for v in vals if v is not None]
    return statistics.median(vals) if vals else default


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _rate(fn, units: float, min_s: float = 0.2) -> float:
    """``units`` per second of ``fn``, repeated until ``min_s`` elapsed."""
    reps, t0 = 0, time.perf_counter()
    while True:
        fn()
        reps += 1
        el = time.perf_counter() - t0
        if el >= min_s:
            return units * reps / el


def manifest_stages(store, prefix: str = "plans.lineage.") -> dict:
    stages = store.lineage()["stages"]
    out = {}
    for s in STAGES_S:
        out[f"{prefix}{s}_s"] = float(stages.get(s, {}).get("duration_sec", 0))
    for s in STAGES_BYTES:
        out[f"{prefix}{s}_bytes"] = float(stages.get(s, {}).get("bytes", 0))
    return out


def micro(rows, index) -> dict:
    """Driver-side rates on a fixed sample: HTML extraction, analysis, and
    the varbyte codec over the index's real segment blocks."""
    from marc_solr_profiling_spark.functions.analyzer import ANALYZERS
    from marc_solr_profiling_spark.operators.varbyte import (
        varbyte_decode,
        varbyte_encode,
    )
    from marc_solr_profiling_spark.sources.html import extract_text_from_html

    sample = rows[:200]
    html_mb = sum(len(r.html) for r in sample) / 1e6
    analyze = ANALYZERS["text"]
    n_tokens = sum(len(analyze(r.text)) for r in sample)
    blobs = [r["doc_gaps"] for r in index.segments.select("doc_gaps")
             .limit(2000).collect()]
    decoded = [varbyte_decode(b) for b in blobs]
    enc_mb = sum(len(b) for b in blobs) / 1e6
    return {
        "sources.html.extract_mb_per_s": _rate(
            lambda: [extract_text_from_html(r.html) for r in sample], html_mb),
        "functions.analyzer.tokens_per_s": _rate(
            lambda: [analyze(r.text) for r in sample], n_tokens),
        "operators.varbyte.encode_mb_per_s": _rate(
            lambda: [varbyte_encode(a) for a in decoded], enc_mb),
        "operators.varbyte.decode_mb_per_s": _rate(
            lambda: [varbyte_decode(b) for b in blobs], enc_mb),
    }


def sink_replays(spark, docs, index) -> dict:
    """The fused tokenize+count kernel and the segment build, each run
    again into a no-op sink on the same input."""
    from pyspark.sql import functions as F

    from marc_solr_profiling_spark.operators.postings import (
        tokenize_and_count_packed,
    )
    from marc_solr_profiling_spark.operators.segments import (
        build_segments_packed,
    )

    with_ids = docs.withColumn("doc_id", F.monotonically_increasing_id())
    tf = index.store.read_stage(spark, "tf")
    return {
        "operators.postings.tokenize_count_s": _timed(
            lambda: tokenize_and_count_packed(
                with_ids, key_col="doc_id", text_col="text",
                html_col="html").write.format("noop").mode("overwrite")
            .save()),
        "operators.segments.build_s": _timed(
            lambda: build_segments_packed(
                tf, avgdl=index.avgdl, n_salts=index.n_salts)
            .write.format("noop").mode("overwrite").save()),
    }


def topk_replays(run, index, calls) -> tuple[dict, list[float]]:
    """Replay ``(query, k, fq)`` kernel calls with the block-skip
    accumulator. Returns the per-layer metrics and each call's wall (ms)."""
    from pyspark.sql import functions as F

    from marc_solr_profiling_spark.functions.analyzer import ANALYZERS
    from marc_solr_profiling_spark.operators.wand import wand_topk

    sc = run.spark.sparkContext
    analyze = ANALYZERS[index.chain]
    terms = sorted({t for q, _k, _fq in calls for t in analyze(q)})
    blocks_of = {r["term"]: int(r["count"]) for r in index.segments.filter(
        F.col("term").isin(terms)).groupBy("term").count().collect()}
    walls, spans, skipped, blocks, q_ms = [], [], 0, 0, []
    for q, k, fq in calls:
        acc = sc.accumulator(0)
        t0 = time.perf_counter()
        qterms = analyze(q)
        q_ms.append((time.perf_counter() - t0) * 1000.0)
        t0 = time.perf_counter()
        with run.tracer.span("operators.wand.topk") as sp:
            wand_topk(index, q, k=k, with_url=False, filter_queries=fq,
                      skip_acc=acc).collect()
        walls.append((time.perf_counter() - t0) * 1000.0)
        spans.append(sp)
        skipped += int(acc.value)
        blocks += sum(blocks_of.get(t, 0) for t in set(qterms))
    out = {
        "operators.wand.topk_p50_ms": _median(walls),
        "operators.wand.blocks_skipped": float(skipped),
        "operators.wand.blocks_skipped_ratio": (
            skipped / blocks if blocks else 0.0),
        "operators.wand.jobs_per_topk": _median([len(s.jobs) for s in spans]),
        "functions.analyzer.query_ms": _median(q_ms),
    }
    run.info["topk_span_ids"] = [s.sid for s in spans]
    return out, walls


def event_log_metrics(run, measure, scratch) -> dict:
    """``spark.*`` over the measured phase and ``tasks_per_topk``, from the
    event log (read after the context stopped and flushed it)."""
    files = sorted(
        f for f in glob.glob(os.path.join(scratch.path("eventlog"), "**"),
                             recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith(
            "appstatus"))
    if not files:
        return {}
    lines = []
    for path in files:
        with open(path) as f:
            lines.extend(f)
    jobs, tasks = parse_event_log(lines)
    spans = run.tracer.spans
    owner = attribute_jobs(jobs, spans)
    m = spark_metrics(measure, run.tracer.subtree(measure.sid), owner,
                      jobs, tasks)
    out = {f"spark.{k}": float(m[k]) for k in SPARK}
    topk = run.info.get("topk_span_ids") or []
    out["operators.wand.tasks_per_topk"] = _median(
        [tasks_of_jobs(spans[sid].jobs, tasks) for sid in topk])
    by_interval = sum(1 for j, sid in owner.items()
                      if sid is not None and jobs[j]["group"] is None)
    run.info["attribution"] = {
        "jobs": len(jobs), "by_group": sum(
            1 for j in jobs.values() if j["group"]),
        "by_interval": by_interval,
        "unattributed": sum(1 for sid in owner.values() if sid is None)}
    return out


def build_query_layers(run, idx, docs, rows, requests) -> None:
    from marc_solr_profiling_spark.operators.wand import (
        facet_match_counts,
        matching_doc_ids,
    )

    out = {name: 0.0 for name in PER_LAYER}
    out.update(manifest_stages(idx.store))
    out.update(sink_replays(run.spark, docs, idx))
    out.update(micro(rows, idx))
    calls = [(r["q"], r["k"], r["fq"] or None) for r in requests]
    topk, walls = topk_replays(run, idx, calls)
    out.update(topk)
    match_ms, facet_ms, self_ms = [], [], []
    for req, topk_ms in zip(requests, walls):
        fq = req["fq"] or None
        t0 = time.perf_counter()
        if req["facet_fields"]:
            with run.tracer.span("operators.wand.facet_match_counts"):
                facet_match_counts(idx, req["q"], req["facet_fields"],
                                   filter_queries=fq).collect()
            facet_ms.append((time.perf_counter() - t0) * 1000.0)
        else:
            with run.tracer.span("operators.wand.matching_doc_ids"):
                matching_doc_ids(idx, req["q"], filter_queries=fq).count()
            match_ms.append((time.perf_counter() - t0) * 1000.0)
        kernels = (time.perf_counter() - t0) * 1000.0 + topk_ms
        self_ms.append(req["ms"] - kernels)
    spans = run.tracer.spans
    out.update({
        "operators.wand.match_ids_p50_ms": _median(match_ms),
        "operators.wand.facet_counts_p50_ms": _median(facet_ms),
        "plans.select.self_p50_ms": _median(self_ms),
        "plans.select.jobs_per_request": _median(
            [len(spans[r["sid"]].jobs) for r in requests
             if r["sid"] is not None]),
        "plans.generations.chain_len": 1.0,
        "tracing.write_s": run.e2e.get("write_s", 0.0),
        "tracing.read_mean_ms": run.e2e.get("read_mean_ms", 0.0),
    })
    run.layers = out


def churn_layers(run, chain, merged, gens, searchers, commits, delta_rows,
                 rows, popular) -> None:
    out = {name: 0.0 for name in PER_LAYER}
    deltas = gens[1:]
    per_gen = [manifest_stages(g.store) for g in deltas]
    for name in per_gen[0]:
        out[name] = _median([p[name] for p in per_gen])
    for st in ("deletes", "del_segments"):
        out[f"plans.generations.{st}_s"] = _median([
            float(g.store.lineage()["stages"].get(st, {})
                  .get("duration_sec", 0)) for g in deltas])
    out["plans.generations.merge_segments_s"] = float(
        merged.store.lineage()["stages"].get("segments", {})
        .get("duration_sec", 0))
    out["plans.generations.chain_len"] = float(len(chain.stores))
    out["plans.generations.tombstones"] = float(chain.n_deletes())
    hits = sum(s.stats.hits for s in searchers)
    misses = sum(s.stats.misses for s in searchers)
    out.update({
        "operators.resultcache.hit_ratio": hits / max(1, hits + misses),
        "operators.resultcache.misses": float(misses),
        "operators.resultcache.evictions": float(
            sum(s.stats.evictions for s in searchers)),
        "operators.resultcache.warm_s": _median(commits),
    })
    # the last generation's delta, replayed through the build kernels
    from marc_solr_profiling_spark.corpus import WEB_PAGES_SCHEMA

    out.update(sink_replays(run.spark, run.spark.createDataFrame(
        delta_rows, WEB_PAGES_SCHEMA), deltas[-1]))
    out.update(micro(rows, merged))
    # a cache miss runs the kernel for the searcher's whole window
    window = searchers[-1].window
    calls = [(q, window, fq) for q in popular for fq in (None, ["lang:en"])]
    topk, _ = topk_replays(run, chain, calls)
    out.update(topk)
    out.update({
        "tracing.write_s": run.e2e.get("write_s", 0.0),
        "tracing.read_mean_ms": run.e2e.get("read_mean_ms", 0.0),
    })
    run.layers = out
