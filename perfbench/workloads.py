"""The two workloads. Each is one closed-loop client (a Solr caller waits
for its reply) driving the engine only through its public entry points.

``build_query``
    Set-up generates the corpus (three times; the median counts). The run
    then cold-builds the index from raw HTML, sends eight ``/select``
    requests over it (q only, q+fq, q+fq+facet, page 2; every q distinct,
    so no cache serves them) and ends with two ``wand_topk_batch`` passes.
``churn``
    Set-up generates the corpus (three times), builds a base index and
    reads one page from it. The run appends ``ROUNDS`` generations (~1% new
    docs, ~0.2% upserts, ~0.2% deletes, then ``SearcherManager.commit``),
    each followed by a phase of page reads from a small Zipf-popular query
    set; then one ``merge_generations`` (keep=1), a commit and a last read
    phase.

The work of a run is fixed: ``--seconds`` does not size it, so a faster
engine runs the same operations on the same inputs, not more of them.

Both report the same end-to-end metrics (``setup_s``, ``write_s``,
``read_mean_ms``, ``bulk_s``, ``index_bytes_per_text_byte``); README.md maps
them to the per-workload names.
"""

from __future__ import annotations

import hashlib
import statistics
import time

import numpy as np

from . import layers
from .gate import (
    Gate,
    df_table,
    oracle_facets,
    oracle_ranked,
    page_of,
    same_ranking,
)
from .host import nproc
from .stats import summarize

BUILD_DOCS = 600
BASE_DOCS = 400
SETUP_REPS = 3
BLOCK = 8           # /select requests per block: two of each shape
BATCH = 40          # queries in one wand_topk_batch pass
BATCH_REPS = 2      # wand_topk_batch passes per run; their median counts
ROUNDS = 2          # churn generations; two, so the keep=1 merge joins two
ROWS = 10
FQ = "lang:en"
SHAPES = ("q", "q_fq", "q_fq_facet", "page2")
# churn: ~1% new docs, ~0.2% upserts, ~0.2% deletes per generation
NEW_SHARE, UPSERT_SHARE, DELETE_SHARE = 0.01, 0.002, 0.002
# churn read phase: (popular query, with fq, start) over three cache keys,
# Zipf-like (12 : 8 : 4 reads), half of the reads with fq. The fixed order
# keeps hits and misses in the same places on every seed.
READ_PATTERN = [
    (0, True, 0), (0, False, 0), (0, True, 10), (1, False, 0),
    (0, False, 10), (0, True, 0), (0, True, 10), (0, False, 0),
    (1, False, 10), (0, True, 0), (0, False, 10), (0, True, 10),
] * 2
AUTOWARM = 1        # keys re-run on commit; the other keys miss once
WARM_KEY = READ_PATTERN[-1]   # the most recently used key of a read phase


class Run:
    """State shared by one run: session, tracer, gate, scratch, outputs."""

    def __init__(self, spark, tracer, gate: Gate, scratch, seed: int,
                 traced: bool):
        self.spark = spark
        self.tracer = tracer
        self.gate = gate
        self.scratch = scratch
        self.seed = seed
        self.traced = traced
        self.attempted = 0
        self.failed_ops = 0
        self.errors: list[str] = []
        self.last_s = 0.0
        self.last_sid = None
        self.e2e: dict[str, float] = {}
        self.named: dict[str, object] = {}
        self.layers: dict[str, float] = {}
        self.info: dict[str, object] = {}

    def op(self, name: str, fn, *args, rid: int | None = None, **kwargs):
        """One attempted operation inside a span (request id ``rid``); an
        exception counts as a failed operation and returns None.
        ``last_s`` is the wall of the call itself, without the span's own
        cost, and ``last_sid`` the span's id."""
        self.attempted += 1
        self.last_s, self.last_sid = 0.0, None
        try:
            with self.tracer.span(name, rid=rid) as sp:
                self.last_sid = sp.sid
                t0 = time.perf_counter()
                try:
                    return fn(*args, **kwargs)
                finally:
                    self.last_s = time.perf_counter() - t0
        except Exception as e:  # the run goes on; the failure is counted
            self.failed_ops += 1
            self.errors.append(f"{name}: {type(e).__name__}: {e}"[:300])
            return None


# -- inputs -------------------------------------------------------------------

def generate_rows(spark, n: int, seed: int):
    from marc_solr_profiling_spark.corpus import generate_web_pages

    return generate_web_pages(spark, n, seed=seed).collect()


def fingerprint(rows, analyzed_tokens: int) -> dict:
    """Input identity: a change to the corpus generator shows up here as a
    workload change, not as a speed change."""
    by_url = sorted(rows, key=lambda r: r.url)
    h = hashlib.sha256()
    for r in by_url[::97]:
        h.update(r.url.encode())
        h.update(b"\0")
        h.update(r.text.encode())
        h.update(b"\0")
    return {
        "docs": len(rows),
        "text_bytes": sum(len(r.text.encode()) for r in rows),
        "analyzed_tokens": analyzed_tokens,
        "sample_sha256": h.hexdigest()[:16],
    }


def _distinct(queries, salt: str) -> list[str]:
    """Make repeated strings distinct with a unique absent term, so no
    cache (Spark's or the engine's) can serve a repeat."""
    out, seen = [], set()
    for i, q in enumerate(queries):
        while q in seen:
            q = f"{q} zq{salt}x{i}"
        seen.add(q)
        out.append(q)
    return out


def select_queries(rows, seed: int, n: int, salt: str = "s") -> list[str]:
    """``n`` distinct q strings cycling through the five
    ``generate_query_set`` classes plus a rare+stopword pair (a term in a
    few docs next to one in nearly all: the shape where block-max pruning
    can skip the stopword's blocks)."""
    from marc_solr_profiling_spark.corpus import generate_query_set

    rng = np.random.default_rng(seed + 1)
    base = generate_query_set(n, seed=seed + 2)
    rare = [w for r in rows[::7] for w in r.text.split()
            if w.startswith("Ref")]
    out = []
    for i in range(n):
        if i % 6 == 5 and rare:
            out.append(f"the {rare[int(rng.integers(0, len(rare)))]}")
        else:
            out.append(base[i])
    return _distinct(out, salt)


def _rows_page(rows_list, url_of) -> list[tuple[str, float]]:
    ranked = sorted(rows_list, key=lambda r: r["rank"])
    return [(url_of[r["doc_id"]], float(r["score"])) for r in ranked]


# -- build_query --------------------------------------------------------------

def build_query(run: Run, jvm_s: float) -> None:
    from marc_solr_profiling_spark.corpus import WEB_PAGES_SCHEMA
    from marc_solr_profiling_spark.oracle import OracleIndex
    from marc_solr_profiling_spark.operators.wand import wand_topk_batch
    from marc_solr_profiling_spark.plans.build import build_index
    from marc_solr_profiling_spark.plans.select import solr_select_physical
    from marc_solr_profiling_spark.sources.html import extract_text_from_html

    spark, tr = run.spark, run.tracer
    with tr.span("setup"):
        reps = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            rows = generate_rows(spark, BUILD_DOCS, run.seed)
            docs = spark.createDataFrame(rows, WEB_PAGES_SCHEMA)
            reps.append(time.perf_counter() - t0)
    run.e2e["setup_s"] = jvm_s + statistics.median(reps)
    run.info["setup"] = {"jvm_s": jvm_s, "corpus_reps_s": reps}
    queries = select_queries(rows, run.seed, BLOCK)
    batch_sets = [select_queries(rows, run.seed + 17 + r, BATCH, salt=f"b{r}")
                  for r in range(BATCH_REPS)]

    n_salts = nproc()
    path = run.scratch.path("index", "build")
    requests: list[dict] = []
    with tr.span("measure"):
        idx = run.op("plans.build.build_index", build_index, spark, docs,
                     path, html_col="html", filter_cols=["lang"],
                     n_salts=n_salts)
        write_s = run.last_s
        if idx is None:
            return
        for i, q in enumerate(queries):
            requests.append(_select_request(run, idx, q,
                                            SHAPES[i % len(SHAPES)], i,
                                            solr_select_physical))
        batches, bulk = [], []
        for qs in batch_sets:
            res = run.op("operators.wand.wand_topk_batch",
                         lambda: wand_topk_batch(idx, qs, k=ROWS).collect())
            batches.append(res)
            bulk.append(run.last_s)
        bulk_s = statistics.median(bulk)

    ms = [r["ms"] for r in requests]
    lat = summarize(ms)
    stages = idx.store.lineage()["stages"]
    index_bytes = sum(st["bytes"] for st in stages.values())
    text_bytes = sum(len(r.text.encode()) for r in rows)
    run.e2e.update({
        "write_s": write_s,
        "read_mean_ms": statistics.fmean(ms),
        "bulk_s": bulk_s,
        "index_bytes_per_text_byte": index_bytes / text_bytes,
    })
    run.named.update({
        "build_docs_per_s": {"value": BUILD_DOCS / write_s, "unit": "docs/s"},
        "index_bytes_per_text_byte": {"value": index_bytes / text_bytes,
                                      "unit": "ratio"},
        "select_p50_ms": {"value": lat["p50"], "unit": "ms", "n": lat["n"]},
        "select_tail_ms": {"value": lat["tail"], "unit": "ms",
                           "percentile": lat["tail_pct"], "n": lat["n"]},
        "select_mean_ms": {"value": statistics.fmean(ms), "unit": "ms",
                           "n": lat["n"]},
        "batch_qps": {"value": BATCH / bulk_s, "unit": "q/s", "B": BATCH,
                      "passes": len(bulk)},
    })
    run.info["walls"] = {"batch_s": bulk, "select_ms": ms}
    run.info["workload"] = {"docs": BUILD_DOCS, "n_salts": n_salts,
                            "block_size": 128, "html_col": "html",
                            "filter_cols": ["lang"],
                            "requests": len(requests), "batch": BATCH}

    # -- correctness gate -----------------------------------------------------
    g = run.gate
    with tr.span("gate"):
        bad = [r.url for r in rows if extract_text_from_html(r.html) != r.text]
        g.check("extract byte-identity", not bad,
                f"{len(bad)} rows differ, first {bad[:1]}")
        oracle = OracleIndex([(r.url, r.text) for r in rows])
        run.info["fingerprint"] = fingerprint(
            rows, sum(oracle.doclen.values()))
        g.check("stats n_docs", idx.n_docs == oracle.n_docs,
                f"{idx.n_docs} vs {oracle.n_docs}")
        g.check("stats avgdl", abs(idx.avgdl - oracle.avgdl)
                <= 1e-12 * max(1.0, oracle.avgdl),
                f"{idx.avgdl} vs {oracle.avgdl}")
        got_df = {r["term"]: int(r["df"])
                  for r in idx.dictionary.select("term", "df").collect()}
        want_df = df_table(oracle)
        diff = [t for t in set(got_df) | set(want_df)
                if got_df.get(t) != want_df.get(t)]
        g.check("dictionary df", not diff,
                f"{len(diff)} terms differ, e.g. {sorted(diff)[:3]}")
        url_of = {r["doc_id"]: r["url"]
                  for r in idx.docs.select("doc_id", "url").collect()}
        lang_of = {r.url: r.lang for r in rows}
        en = {u for u, lang in lang_of.items() if lang == "en"}
        for req in requests:
            if req["docs"] is None:
                continue
            allowed = en if req["fq"] else None
            want = page_of(oracle_ranked(oracle, req["q"],
                                         req["start"] + ROWS, allowed,
                                         g.perturb),
                           req["start"], ROWS, 4)
            ok, why = same_ranking(_rows_page(req["docs"], url_of), want, 4)
            g.check(f"select page q={req['q']!r} {req['shape']}", ok, why)
            n_found, facets = oracle_facets(oracle, req["q"], allowed,
                                            lang_of)
            g.check(f"select numFound q={req['q']!r}",
                    req["num_found"] == n_found,
                    f"{req['num_found']} vs {n_found}")
            if req["facets"] is not None:
                g.check(f"select facets q={req['q']!r}",
                        req["facets"] == facets,
                        f"{req['facets']} vs {facets}")
        for batch, batch_qs in zip(batches, batch_sets):
            if batch is None:
                continue
            per_q: dict[int, list] = {}
            for r in batch:
                per_q.setdefault(r["qid"], []).append(r)
            for qid, q in enumerate(batch_qs):
                got = _rows_page(per_q.get(qid, []), url_of)
                want = oracle_ranked(oracle, q, ROWS, None, g.perturb)
                ok, why = same_ranking(got, want)
                g.check(f"batch q={q!r}", ok, why)

    if run.traced:
        layers.build_query_layers(run, idx, docs, rows, requests)


def _select_request(run: Run, idx, q: str, shape: str, i: int, select):
    fq = [FQ] if shape in ("q_fq", "q_fq_facet") else []
    facet_fields = ["lang"] if shape == "q_fq_facet" else []
    start = ROWS if shape == "page2" else 0
    req = {"q": q, "shape": shape, "fq": fq, "start": start,
           "k": start + ROWS, "facet_fields": facet_fields, "docs": None,
           "facets": None, "num_found": None, "ms": None, "sid": None}

    def call():
        resp = select(idx, None, q, fq=fq, start=start, rows=ROWS,
                      facet_fields=facet_fields)
        docs = resp.docs.collect()
        facets = (None if resp.facets is None else
                  {r["facet_value"]: int(r["count"])
                   for r in resp.facets.collect()})
        return resp.num_found, docs, facets

    out = run.op("plans.select.request", call, rid=i)
    req["sid"], req["ms"] = run.last_sid, run.last_s * 1000.0
    if out is not None:
        req["num_found"], req["docs"], req["facets"] = out
    return req


# -- churn --------------------------------------------------------------------

def _live_oracle(live: dict):
    from marc_solr_profiling_spark.oracle import OracleIndex

    return OracleIndex([(u, t) for u, (t, _lang) in live.items()])


def churn(run: Run, jvm_s: float) -> None:
    from marc_solr_profiling_spark.corpus import WEB_PAGES_SCHEMA, make_html
    from marc_solr_profiling_spark.operators.resultcache import SearcherManager
    from marc_solr_profiling_spark.plans.build import build_index
    from marc_solr_profiling_spark.plans.generations import (
        append_delta,
        merge_generations,
    )

    spark, tr = run.spark, run.tracer
    n_new = max(1, round(NEW_SHARE * BASE_DOCS))
    n_ups = max(1, round(UPSERT_SHARE * BASE_DOCS))
    n_del = max(1, round(DELETE_SHARE * BASE_DOCS))
    n_salts = nproc()
    with tr.span("setup"):
        reps = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            rows = generate_rows(spark, BASE_DOCS + ROUNDS * n_new, run.seed)
            reps.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        base_rows = rows[:BASE_DOCS]
        base = build_index(
            spark, spark.createDataFrame(base_rows, WEB_PAGES_SCHEMA),
            run.scratch.path("index", "g0"), html_col="html",
            filter_cols=["lang"], n_salts=n_salts)
        # a high-df term and a 2-5 term query (classes 0 and 2)
        popular = select_queries(base_rows, run.seed, 3, salt="p")[::2]
        sm = SearcherManager(base, autowarm_count=AUTOWARM)
        # the key a read phase uses last, read once, so that the first
        # commit warms a key as every later one does
        rank, with_fq, start = WARM_KEY
        run.op("operators.resultcache.search", sm.search, popular[rank],
               start, ROWS, filter_queries=[FQ] if with_fq else None)
        base_s = time.perf_counter() - t0
    run.e2e["setup_s"] = jvm_s + statistics.median(reps) + base_s
    run.info["setup"] = {"jvm_s": jvm_s, "corpus_reps_s": reps,
                         "base_build_and_read_s": base_s}

    live = {r.url: (r.text, r.lang) for r in base_rows}
    rng = np.random.default_rng(run.seed + 3)
    untouched = list(range(BASE_DOCS))
    rng.shuffle(untouched)
    searchers = [sm.searcher]
    reads: list[float] = []
    last_pages: dict = {}
    writes, commits, gens = [], [], [base]
    idx = base

    def read_phase(tag: str) -> None:
        for rank, with_fq, start in READ_PATTERN:
            q = popular[rank]
            fqs = [FQ] if with_fq else None
            page = run.op("operators.resultcache.search", sm.search, q,
                          start, ROWS, filter_queries=fqs)
            reads.append(run.last_s * 1000.0)
            if page is not None:
                last_pages[(q, with_fq, start)] = page
        run.info.setdefault("read_phases", []).append(tag)

    with tr.span("measure"):
        for g in range(1, ROUNDS + 1):
            new = rows[BASE_DOCS + (g - 1) * n_new: BASE_DOCS + g * n_new]
            picks = [untouched.pop() for _ in range(n_ups + n_del)]
            ups = []
            for j in picks[:n_ups]:
                r = base_rows[j]
                text = f"{r.text} revised gen{g}"
                ups.append((r.url, r.warc_ts,
                            make_html(text, f"Page {r.url}"), text, r.lang))
            dels = [(base_rows[j].url,) for j in picks[n_ups:]]
            delta_rows = [tuple(r) for r in new] + ups
            nxt = run.op(
                "plans.generations.append_delta", append_delta, spark, idx,
                run.scratch.path("index", f"g{g}"),
                delta_docs=spark.createDataFrame(delta_rows,
                                                 WEB_PAGES_SCHEMA),
                delete_keys=spark.createDataFrame(dels, "url string"),
                html_col="html")
            if nxt is None:
                break
            append_s = run.last_s
            run.op("operators.resultcache.commit", sm.commit, nxt)
            writes.append(append_s + run.last_s)
            commits.append(run.last_s)
            searchers.append(sm.searcher)
            idx = nxt
            gens.append(idx)
            for r in new:
                live[r.url] = (r.text, r.lang)
            for url, _ts, _html, text, lang in ups:
                live[url] = (text, lang)
            for (url,) in dels:
                live.pop(url, None)
            read_phase(f"gen{g}")
        pages_chain = dict(last_pages)
        chain = idx
        merged = run.op("plans.generations.merge_generations",
                        merge_generations, spark, idx,
                        run.scratch.path("index", "merged"), keep=1)
        merge_s = run.last_s
        if merged is not None:
            run.op("operators.resultcache.commit", sm.commit, merged)
            merge_commit_s = run.last_s
            searchers.append(sm.searcher)
            last_pages.clear()
            read_phase("merged")

    if len(writes) < ROUNDS or merged is None:
        return
    lat = summarize(reads)
    text_bytes = sum(len(t.encode()) for t, _ in live.values())
    index_bytes = sum(st_["bytes"]
                      for store in merged.stores
                      for st_ in store.lineage()["stages"].values())
    run.e2e.update({
        "write_s": statistics.median(writes),
        "read_mean_ms": statistics.fmean(reads),
        "bulk_s": merge_s,
        "index_bytes_per_text_byte": index_bytes / text_bytes,
    })
    run.named.update({
        "append_p50_s": {"value": statistics.median(writes), "unit": "s",
                         "G": len(writes)},
        "merge_s": {"value": merge_s, "unit": "s",
                    "tiers": len(chain.stores) - 1},
        "page_p50_ms": {"value": lat["p50"], "unit": "ms", "n": lat["n"]},
        "page_tail_ms": {"value": lat["tail"], "unit": "ms",
                         "percentile": lat["tail_pct"], "n": lat["n"]},
        "page_mean_ms": {"value": statistics.fmean(reads), "unit": "ms",
                         "n": lat["n"]},
    })
    run.info["walls"] = {"write_s": writes, "commit_s": commits,
                         "merge_commit_s": merge_commit_s, "read_ms": reads}
    run.info["workload"] = {
        "base_docs": BASE_DOCS, "n_salts": n_salts, "rounds": len(writes),
        "per_round": {"new": n_new, "upserts": n_ups, "deletes": n_del},
        "reads": len(reads), "popular_queries": popular,
        "autowarm_count": sm.autowarm_count}

    # -- correctness gate: live corpus after the last append and after merge --
    gate = run.gate
    with tr.span("gate"):
        oracle = _live_oracle(live)
        # tokens of the live corpus: the generated rows plus the upserts'
        # revisions minus the deletes
        run.info["fingerprint"] = fingerprint(
            rows, sum(oracle.doclen.values()))
        en = {u for u, (_t, lang) in live.items() if lang == "en"}
        for tag, index, pages in (("chain", chain, pages_chain),
                                  ("merged", merged, last_pages)):
            url_of = {r["doc_id"]: r["url"]
                      for r in index.docs.select("doc_id", "url").collect()}
            gate.check(f"{tag} live docs", set(url_of.values()) == set(live),
                       f"{len(url_of)} live vs oracle {len(live)}")
            for (q, with_fq, start), page in pages.items():
                want = oracle_ranked(oracle, q, start + ROWS,
                                     en if with_fq else None, gate.perturb)
                got = [(url_of.get(d, f"<doc {d}>"), float(s))
                       for d, s in page]
                ok, why = same_ranking(got, want[start:start + ROWS])
                gate.check(f"{tag} page q={q!r} fq={with_fq} start={start}",
                           ok, why)

    if run.traced:
        layers.churn_layers(run, chain, merged, gens, searchers, commits,
                            delta_rows, rows, popular)


WORKLOADS = {"build_query": build_query, "churn": churn}
