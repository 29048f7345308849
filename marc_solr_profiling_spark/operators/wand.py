"""Query-time reads of the compressed physical index: one salted searcher,
many collectors.

Spark restatement of the reference's search handler (``solrconfig.xml:
64-83``: relevance top-k, rows=20, sort=score desc, edismax ``q.op=AND`` /
``mm`` minimum-should-match, ``qf``/``tie``) in Lucene's
``IndexSearcher.search(query, collector)`` shape. Every physical read is
three pieces:

* **The plan** (:func:`resolve_plan`, driver side, once per query): the
  query analyzed with the index's own chain (or field-scoped under
  edismax ``qf``), the dictionary lookup of its terms, boosted idf and
  avgdl per scored key, ``mm``, ``tie``, ``round_to``, MUST_NOT terms,
  ``fq`` terms, faceted fields and CONSTANT_SCORE bonus clauses.
* **The pass** (:func:`_search`): ONE Spark job with no exchange. The
  driver lists, from each stage's manifest, the files that hold the
  plan's rows: query-term ``segments`` ∪ fq/facet ``filters`` ∪
  ``del_segments`` tombstones, of every generation. A task frame of one
  row per salt range (:func:`_salt_ranges`) feeds ONE ``mapInPandas``;
  each task reads its own salts from those files with pyarrow (term and
  salt predicates pushed down), splits each salt into tombstones and
  postings (:class:`_Salt`) and hands its salts to a collector — the
  per-leaf reader of Lucene's searcher.
* **The collectors**: top-k (:func:`wand_topk`), the /select DocList +
  DocSet (:func:`select_pass`), the match set
  (:func:`matching_doc_ids`), facet counts (:func:`facet_match_counts`),
  groups, explain, the dense and sparse batch kernels, and phrase
  (``operators/phrase.py``). Scoring collectors call the block-max
  kernel :func:`_score_blocks_bmw` with the plan and a per-salt
  :class:`Mask` (include sets, exclude set, bonus sets); a top-k-only
  collector never builds the match set, so block-max pruning stays its
  only decode path.

Partitioning invariant that makes this work: blocks are salted by
hash(doc_id), so every query term's postings for a given document share a
salt — and so do its filter postings and its tombstone posting. The
build writes ``segments``, ``filters`` and ``del_segments`` one salt per
file (``operators/segments.py build_segments_packed``), and
``plans/lineage.py commit_stage`` records each file's salt range, so a
task reading one salt range from every stage holds complete
per-document contributions — it computes exact totals, match sets and
masks for its doc subset independently, without a shuffle.

Block-max pruning (multi-term, EXACT — the document-at-a-time cap-sum
walk, vectorized block-at-a-time):

  1. cap(B) = idf(term_B) * max_wnorm(B) bounds any single posting in B.
  2. UB(B) = cap(B) + sum over the OTHER query terms t' of the max cap
     among t''s blocks overlapping B's [first_doc, last_doc] range —
     so UB(B) bounds the TOTAL score of every document in B. Overlap
     ranges come from searchsorted over each term's doc-sorted block
     bounds; range-max caps from a numpy sparse table (O(1) per query).
  3. Phase 1 decodes blocks in UB-descending order until k qualifying
     documents are seen; their k-th partial total is a LOWER bound
     theta on the final k-th score (partial sums only understate).
  4. Every undecoded block with UB(B) < theta is skipped WITHOUT
     decoding: any doc in it scores < theta, so it cannot reach the
     top-k — and every block containing an actual top-k doc d has
     UB >= score(d) >= theta, so it survives and d's total stays exact.
     A stopword block overlapping no high-cap region prunes away even
     when the stopword's own posting list is enormous.

The same argument holds under ``min_match`` (AND / mm) semantics: theta is
taken over docs whose OBSERVED distinct-term count already reaches
min_match (a conservative subset), and a qualifying top-k doc's blocks all
carry UB >= theta, so its observed count is exact.

Scores are float64; totals are accumulated with ``np.add.at`` (block order
affects fp association by <= a few ulp; results are compared rounded).
Tie-break is (score desc, doc_id asc) throughout — rank-identical to the
reference's (score, internal docid) collector.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field, replace
from functools import cached_property, reduce
from operator import or_
from typing import Callable, Iterator, List, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.analyzer import ANALYZERS
from ..functions.mm_spec import parse_mm_spec
from ..oracle import bm25_idf
from ..session import local_frame
from .segments import DEL_TERM
from .varbyte import delta_decode, varbyte_decode

K1 = 1.2
B = 0.75
# wand_topk_batch(mode="auto"): below this share of matched posting
# volume held by terms of several queries, the batch is sparse
_SPARSE_SHARE = 0.25
_NO_IDS = np.empty(0, dtype=np.int64)


def _salt_partitions(index) -> int:
    """Scoring-task count of a query pass: ~4 tasks per core for load
    balance (a straggler then costs 1/4 of a wave, not a whole one),
    capped at the salt count — each task owns a contiguous slice of salt
    values (:func:`_salt_ranges`), so n_salts tasks is exact 1:1 and more
    would sit empty.

    ``spark.marc.saltPartitions`` overrides the auto-size: cluster-size
    comparisons (tools/scaling_bench.py) must hold the data layout CONSTANT
    across parallelism levels — auto-sizing from core count would hand the
    small level fewer, larger tasks (less per-task overhead) and bias the
    measured scaling ratio."""
    override = index.spark.conf.get("spark.marc.saltPartitions", None)
    if override:
        return max(1, int(override))
    cores = index.spark.sparkContext.defaultParallelism
    return max(1, min(int(index.n_salts), 4 * cores))


def _salt_ranges(index) -> list:
    """The inclusive salt range ``(lo, hi)`` of each scoring task: salt
    ``s`` belongs to task ``s * n_parts // n_salts`` — contiguous slices,
    exact balance (the placement ``operators/routing.py`` computes for
    the segment build, which writes one file per salt). The first range
    starts at 0 and the last is open above, so a salt outside
    ``[0, n_salts)`` still has a reader."""
    n_salts = max(1, int(index.n_salts))
    n_parts = min(_salt_partitions(index), n_salts)
    starts = [-(-p * n_salts // n_parts) for p in range(n_parts)]
    return list(zip(starts, [s - 1 for s in starts[1:]] + [2**31 - 1]))


def _analyze_query(query: str, chain: str) -> List[str]:
    out: List[str] = []
    for t in ANALYZERS[chain](query):
        if t not in out:
            out.append(t)
    return out


def _ids(rows: "pd.DataFrame") -> np.ndarray:
    """Doc ids of posting-block rows (one salt: a term's blocks are
    disjoint, so the ids of one term are distinct)."""
    return np.concatenate(
        [delta_decode(g).astype(np.int64) for g in rows["doc_gaps"]])


def _decode(rows: "pd.DataFrame"):
    """(ids, tfs, dls) of posting-block rows, concatenated in row order."""
    return (_ids(rows),
            np.concatenate([varbyte_decode(b).astype(np.float64)
                            for b in rows["tfs"]]),
            np.concatenate([varbyte_decode(b).astype(np.float64)
                            for b in rows["dls"]]))


def _bm25(weight: float, avgdl: float, tfs: np.ndarray,
          dls: np.ndarray) -> np.ndarray:
    """Per-posting BM25 contribution of one (boosted-idf) scored key."""
    return weight * tfs * (K1 + 1.0) / (
        tfs + K1 * (1.0 - B + B * dls / avgdl))


def _member(vals: np.ndarray, sorted_ids: np.ndarray) -> np.ndarray:
    """Boolean mask: which of ``vals`` occur in the sorted id array."""
    if sorted_ids.size == 0:
        return np.zeros(vals.size, dtype=bool)
    pos = np.clip(np.searchsorted(sorted_ids, vals), 0, sorted_ids.size - 1)
    return sorted_ids[pos] == vals


def _topk_exact(uniq: np.ndarray, totals: np.ndarray, k: int):
    """Exact top-k selection with (score desc, doc_id asc) tie-break.

    argpartition narrows to the score threshold first (O(n)), then ALL docs
    at-or-above the k-th score enter the final lexsort — so ties at the
    boundary resolve by doc_id exactly like a full sort would (duplicate
    documents produce identical scores; dropping an arbitrary tie would
    break rank-identity with the oracle)."""
    if uniq.size <= k:
        sel = np.lexsort((uniq, -totals))
        return sel
    thresh = np.partition(totals, uniq.size - k)[uniq.size - k]
    idx = np.flatnonzero(totals >= thresh)
    order = np.lexsort((uniq[idx], -totals[idx]))[:k]
    return idx[order]


def _merged_topk(id_parts: list, score_parts: list, k: int):
    """(ids, scores) of the top-k over distinct-doc parts."""
    if not id_parts:
        return _NO_IDS, np.empty(0)
    ids = np.concatenate(id_parts)
    scores = np.concatenate(score_parts)
    sel = _topk_exact(ids, scores, k)
    return ids[sel], scores[sel]


# ---------------------------------------------------------------------------
# the plan: one driver-side resolver for every collector
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class QueryPlan:
    """A query resolved on the driver — what the pass scans and how the
    kernel scores.

    ``terms``: index keys of ``q`` (field-scoped ``field<sep>term`` under
    edismax ``qf``); ``group_of``: key -> base-term group when ``mm``
    counts distinct base terms and the kernel combines per-field scores
    by dismax (``max + tie * (sum - max)``), else None; ``n_groups``: the
    number of groups; ``mm``: the resolved minimum-should-match;
    ``weights``: boosted idf of each scored key present in the dictionary
    (MUST_NOT keys dropped); ``df``: its document frequency; ``avgdl``:
    the collection average document length of each scored key (per field
    under ``qf``); ``round_to``:
    rank by half-up-rounded scores; ``exclude``: MUST_NOT keys; ``fq``:
    filter-posting terms every match must carry; ``facet_prefixes``:
    ``field:`` prefixes of counted facet fields; ``bonus_prefixes`` /
    ``bonus_ranges``: CONSTANT_SCORE wildcard / term-range clauses
    (+1.0 each); ``restrict``: a request-sized sorted id include set;
    ``match_all``: ``q`` is MatchAllDocsQuery."""

    terms: tuple = ()
    group_of: "dict | None" = None
    n_groups: int = 0
    mm: int = 1
    weights: dict = field(default_factory=dict)
    df: dict = field(default_factory=dict)
    avgdl: dict = field(default_factory=dict)
    tie: float = 0.0
    round_to: "int | None" = None
    exclude: tuple = ()
    fq: tuple = ()
    facet_prefixes: tuple = ()
    bonus_prefixes: tuple = ()
    bonus_ranges: tuple = ()
    restrict: "np.ndarray | None" = None
    match_all: bool = False


def resolve_plan(
    index,
    query: "str | None",
    min_match: int | str = 1,
    *,
    qf: "dict[str, float] | None" = None,
    tie: float = 0.1,
    round_to: int | None = None,
    pre_analyzed: bool = False,
    exclude_query: str | None = None,
    term_boosts: "dict[str, float] | None" = None,
    term_groups: "dict[str, int] | None" = None,
    filter_queries: "Sequence[str] | None" = None,
    facet_fields: "Sequence[str]" = (),
    score: bool = True,
) -> QueryPlan:
    """Resolve one query against ``index``: analyze, look its keys up in
    the dictionary (``score=True``; a driver-side read, no job) and fold
    boosts into per-key weights.

    ``pre_analyzed``: ``query`` is whitespace-joined INDEX TERMS (e.g.
    MoreLikeThis interesting terms read back from the index) — not
    pushed through the analyzer again (stemming is not idempotent).
    ``qf``: {field: boost} over a multi-field index — each base term
    becomes one key per field, weighted ``boost_f * idf_f`` with that
    field's avgdl (boosts fold into the per-key weight, so block caps
    ``weight * max_wnorm`` bound the boosted field score and pruning
    stays exact). ``term_groups``: index key -> group given directly
    (``query`` is then not analyzed). ``score=False`` skips the
    dictionary: match-only collectors need no weights."""
    if (filter_queries or facet_fields) and index.filters is None:
        raise ValueError(
            "filter_queries / index-only facets need an index built with "
            "filter_cols (no 'filters' stage present)")
    match_all = query is None or query.strip() == "*:*"
    sep = None
    group_of = None
    if match_all:
        base, terms = [], []
    elif term_groups is not None:
        terms, group_of = list(term_groups), dict(term_groups)
        base = sorted(set(group_of.values()))
    elif qf is not None:
        if not 0.0 <= float(tie) <= 1.0:
            raise ValueError("tie must be in [0, 1] (dismax UB needs it)")
        from ..plans.multifield import MultiFieldIndex

        if not isinstance(index, MultiFieldIndex):
            raise ValueError("qf= needs a multi-field index "
                             "(plans/multifield.py)")
        sep = index.sep
        base = _analyze_query(query, index.chain)
        group_of = {f + sep + t: gi for f in qf for gi, t in enumerate(base)}
        terms = list(group_of)
    else:
        base = (list(dict.fromkeys(query.split())) if pre_analyzed
                else _analyze_query(query, index.chain))
        terms = base
    exclude = (_analyze_query(exclude_query, index.chain)
               if exclude_query else [])
    if sep is not None:
        exclude = [f + sep + t for f in qf for t in exclude]
    plan = QueryPlan(
        terms=tuple(terms), group_of=group_of,
        n_groups=len(base) if group_of is not None else 0,
        mm=0 if match_all else parse_mm_spec(min_match, len(base)),
        tie=float(tie) if group_of is not None else 0.0, round_to=round_to,
        exclude=tuple(exclude), fq=tuple(filter_queries or ()),
        facet_prefixes=tuple(f + ":" for f in facet_fields),
        match_all=match_all)
    if not (score and terms):
        return plan
    boosts: dict[str, float] = {}
    for raw, w in (term_boosts or {}).items():
        for t in _analyze_query(raw, index.chain):
            boosts[t] = float(w)
    ex_set = set(exclude)
    weights: dict[str, float] = {}
    df: dict[str, int] = {}
    avgdl: dict[str, float] = {}
    # the head's dictionary, read on the driver: no job
    for r in index.store.lookup("dictionary", "term", terms, ["term", "df"]):
        key = r["term"]
        if key in ex_set:
            # a term both scored and prohibited matches no doc that
            # survives; drop it from the scoring set
            continue
        if sep is None:
            n_docs, avgdl[key], w = index.n_docs, index.avgdl, 1.0
            bterm = key
        else:
            fld, _, bterm = key.partition(sep)
            (n_docs, avgdl[key]), w = index.field_stats[fld], float(qf[fld])
        df[key] = int(r["df"])
        weights[key] = w * boosts.get(bterm, 1.0) * bm25_idf(n_docs, df[key])
    return replace(plan, weights=weights, df=df, avgdl=avgdl)


# ---------------------------------------------------------------------------
# range-max sparse table (numpy, vectorized queries)
# ---------------------------------------------------------------------------


def _sparse_table(vals: np.ndarray) -> list[np.ndarray]:
    """st[j][i] = max(vals[i : i + 2**j]); log-levels of shifted maxima."""
    tables = [vals]
    j = 1
    while (1 << j) <= vals.size:
        prev = tables[-1]
        half = 1 << (j - 1)
        tables.append(np.maximum(prev[:-half], prev[half:]))
        j += 1
    return tables


def _range_max(tables: list[np.ndarray], lo: np.ndarray,
               hi: np.ndarray) -> np.ndarray:
    """max(vals[lo:hi]) per (lo, hi) pair, hi > lo, vectorized."""
    span = hi - lo
    j = np.frexp(span.astype(np.float64))[1] - 1  # floor(log2(span))
    out = np.empty(lo.size, dtype=np.float64)
    for jj in np.unique(j):
        m = j == jj
        t = tables[jj]
        out[m] = np.maximum(t[lo[m]], t[hi[m] - (1 << int(jj))])
    return out


# ---------------------------------------------------------------------------
# the block-max scorer
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Mask:
    """Which docs of one salt may qualify, and their constant bonuses.

    ``include``: SORTED id arrays — a doc must be in EVERY one (Solr
    ``fq`` filterCache bitsets decoded from unscored filter postings,
    an explicit restrict set, or a precomputed match set). ``exclude``:
    SORTED ids never admitted (MUST_NOT clauses ∪ tombstones). ``bonus``:
    SORTED id arrays, one per CONSTANT_SCORE clause — +1.0 per set a doc
    is in (Lucene's CONSTANT_SCORE_REWRITE contribution)."""

    include: tuple = ()
    exclude: "np.ndarray | None" = None
    bonus: tuple = ()

    def admit(self, ids: np.ndarray) -> np.ndarray:
        keep = np.ones(ids.size, dtype=bool)
        for inc in self.include:
            keep &= _member(ids, inc)
        if self.exclude is not None:
            keep &= ~_member(ids, self.exclude)
        return keep

    def add_bonus(self, ids: np.ndarray, totals: np.ndarray) -> None:
        for bs in self.bonus:
            totals[_member(ids, bs)] += 1.0


_OPEN = Mask()


def _score_blocks_bmw(
    pdf: pd.DataFrame,
    plan: QueryPlan,
    k: int,
    theta0: float = -math.inf,
    mask: Mask = _OPEN,
    decode_cache: dict | None = None,
) -> tuple[np.ndarray, np.ndarray, int, float]:
    """Score ONE SALT's matched blocks with block-max pruning.

    All rows must share a salt and carry a key of ``plan.weights``:
    within one salt, a term's blocks cover disjoint ascending doc ranges
    (the overlap search requires it), and a doc's postings for every
    query term live in this salt, so totals are complete. ``theta0``
    carries a lower bound on the global k-th score from previously
    scored salts (pruning stays exact: theta only ever UNDERSTATES the
    final k-th score).

    DISMAX mode (``plan.group_of`` given): term keys are field-scoped
    (``field<sep>term``); ``group_of`` maps each key to its base query
    term. Per (doc, base term) the combine is DisjunctionMaxQuery's
    ``max + tie * (sum - max)`` over the per-field scores (boosts are
    folded into ``plan.weights``), and the doc total sums the per-term
    dismaxes. The block-max UB machinery is UNCHANGED and stays exact:
    the additive sum over keys bounds the dismax combine whenever
    ``tie <= 1`` (dismax = (1-tie)*max + tie*sum <= sum), and a partial
    observation only understates both max and sum, so phase-1 thetas
    remain lower bounds. ``plan.mm`` counts distinct BASE terms.

    ``plan.round_to``: rank by half-up-rounded scores (the oracle
    contract for tie-heavy dismax results). Pruning thresholds are
    slackened by one rounding grid step (eps = 10^-round_to): a doc can
    displace the raw k-th in ROUNDED order only if its raw score is
    within half a step, so every survivor's blocks keep UB >= theta - eps
    and stay decoded. ``theta`` is tracked on RAW scores throughout
    (never overstated by round-up).

    ``mask``: docs outside ``mask.include`` or inside ``mask.exclude``
    are dropped inside ``accumulate`` so they never qualify, never raise
    theta (theta from survivors only UNDERSTATES the true k-th — pruning
    stays exact) and never reach the heap; scores are untouched (fq never
    scores, Solr's cached-filter contract). Block UBs do not know about
    ``mask.bonus``, so every pruning comparison is slackened by the
    number of bonus sets (the maximum possible bonus): a block is only
    skipped when even UB + max-bonus cannot reach theta. Bonus-ONLY docs
    (matching no scored term) never enter this kernel; the caller emits
    them separately.

    ``decode_cache`` (sparse-batch mode): raw block decodes shared across
    the queries of one salt.

    Returns (doc_ids, scores) of the salt's top-k among docs matching at
    least ``plan.mm`` distinct query terms, the number of blocks skipped
    without decoding, and the updated theta.
    """
    weights, group_of, tie = plan.weights, plan.group_of, plan.tie
    min_match, round_to, n_groups = plan.mm, plan.round_to, plan.n_groups
    uniq_terms = pd.unique(pdf["term"])
    eps = 0.0 if round_to is None else 10.0 ** (-round_to)
    bonus_slack = float(len(mask.bonus))
    grp_arr = (
        None if group_of is None
        else np.asarray([group_of[t] for t in uniq_terms], dtype=np.int64)
    )

    # per-term block tables, blocks sorted by first_doc (disjoint ascending
    # within a (term, salt) group by construction — segments.py)
    per = {}
    for t in uniq_terms:
        sub = pdf[pdf["term"] == t]
        first = sub["first_doc"].to_numpy(dtype=np.int64)
        order = np.argsort(first, kind="stable")
        caps = weights[t] * sub["max_wnorm"].to_numpy(dtype=np.float64)
        per[t] = {
            "first": first[order],
            "last": sub["last_doc"].to_numpy(dtype=np.int64)[order],
            "caps": caps[order],
            "gaps": sub["doc_gaps"].to_numpy()[order],
            "tfs": sub["tfs"].to_numpy()[order],
            "dls": sub["dls"].to_numpy()[order],
            "st": _sparse_table(caps[order]),
        }

    # UB per block: own cap + per-other-term range-max cap over overlaps
    ub_parts, ref_parts = [], []
    for ti, t in enumerate(uniq_terms):
        d = per[t]
        ub = d["caps"].copy()
        for t2 in uniq_terms:
            if t2 == t:
                continue
            d2 = per[t2]
            lo = np.searchsorted(d2["last"], d["first"], side="left")
            hi = np.searchsorted(d2["first"], d["last"], side="right")
            m = lo < hi
            if m.any():
                add = np.zeros(ub.size)
                add[m] = _range_max(d2["st"], lo[m], hi[m])
                ub += add
        ub_parts.append(ub)
        ref_parts.append(
            np.stack([np.full(ub.size, ti), np.arange(ub.size)], axis=1)
        )
    ub_all = np.concatenate(ub_parts)
    ref_all = np.concatenate(ref_parts).astype(np.int64)
    order = np.argsort(-ub_all, kind="stable")
    ub_all, ref_all = ub_all[order], ref_all[order]
    n_blocks = ub_all.size

    idf_arr = np.asarray([weights[t] for t in uniq_terms])
    avgdl_arr = np.asarray([plan.avgdl[t] for t in uniq_terms])

    ids_parts: list[np.ndarray] = []
    w_parts: list[np.ndarray] = []
    t_parts: list[int] = []  # term index of each decoded part

    def decode(bi: int) -> None:
        ti, j = ref_all[bi]
        t = uniq_terms[ti]
        d = per[t]
        # a block needed by two queries of one salt is byte-decoded once;
        # the (cheap, vectorized) weight computation stays per-call
        ck = (t, int(d["first"][j]))
        raw = None if decode_cache is None else decode_cache.get(ck)
        if raw is None:
            raw = (
                delta_decode(d["gaps"][j]).astype(np.int64),
                varbyte_decode(d["tfs"][j]).astype(np.float64),
                varbyte_decode(d["dls"][j]).astype(np.float64),
            )
            if decode_cache is not None:
                decode_cache[ck] = raw
        ids, tfs, dls = raw
        ids_parts.append(ids)
        w_parts.append(_bm25(idf_arr[ti], avgdl_arr[ti], tfs, dls))
        t_parts.append(int(ti))

    def masked(uniq, totals, counts):
        if uniq.size and (mask.include or mask.exclude is not None):
            keep = mask.admit(uniq)
            uniq, totals, counts = uniq[keep], totals[keep], counts[keep]
        mask.add_bonus(uniq, totals)
        return uniq, totals, counts

    def accumulate():
        if not ids_parts:
            e = np.empty(0)
            return e.astype(np.int64), e, e.astype(np.int64)
        all_ids = np.concatenate(ids_parts)
        all_w = np.concatenate(w_parts)
        uniq, inv = np.unique(all_ids, return_inverse=True)
        if grp_arr is None:
            totals = np.zeros(uniq.size)
            np.add.at(totals, inv, all_w)
            counts = np.bincount(inv, minlength=uniq.size)
            return masked(uniq, totals, counts)
        # dismax: two-level accumulate — per (doc, base term) max+sum
        # over field-scoped keys, combine, then sum per doc
        all_g = np.concatenate(
            [np.full(p.size, grp_arr[ti], dtype=np.int64)
             for p, ti in zip(ids_parts, t_parts)]
        )
        gkey = inv.astype(np.int64) * n_groups + all_g
        ukey, kinv = np.unique(gkey, return_inverse=True)
        mx = np.full(ukey.size, -np.inf)
        np.maximum.at(mx, kinv, all_w)
        sm = np.zeros(ukey.size)
        np.add.at(sm, kinv, all_w)
        ds = mx + tie * (sm - mx)
        docpos = ukey // n_groups
        totals = np.zeros(uniq.size)
        np.add.at(totals, docpos, ds)
        # distinct base terms per doc (a term matched in several fields
        # counts once — edismax mm semantics)
        counts = np.bincount(docpos, minlength=uniq.size)
        return masked(uniq, totals, counts)

    # phase 1: decode in UB order until k qualifying docs, derive theta
    theta = theta0
    i = 0
    target = max(4 * k, 64)
    n_seen = 0
    while i < n_blocks:
        # stop early if every remaining block is already below theta0
        if ub_all[i] < theta - eps - bonus_slack:
            break
        while i < n_blocks and n_seen < target:
            decode(i)
            n_seen += ids_parts[-1].size
            i += 1
        uniq, totals, counts = accumulate()
        qual = totals[counts >= min_match]
        if qual.size >= k:
            theta = max(
                theta, np.partition(qual, qual.size - k)[qual.size - k]
            )
            break
        target *= 2

    # MaxScore-style essential-term split: terms whose caps sum (ascending)
    # stays under theta are NON-ESSENTIAL — a doc matching only those can
    # never reach theta, so a non-essential (stopword) block is decoded
    # ONLY if its doc range contains a candidate (a doc seen in some
    # essential term's postings). This is the sub-block skipping a DAAT
    # pointer walk gets from galloping past pivot gaps, done with two
    # vectorized searchsorteds instead of a per-doc loop.
    term_max = np.asarray([per[t]["caps"].max() for t in uniq_terms])
    non_ess: set[int] = set()
    if math.isfinite(theta):
        asc = np.argsort(term_max, kind="stable")
        cum = np.cumsum(term_max[asc])
        non_ess = {int(x) for x in asc[cum < theta - eps - bonus_slack]}

    # phase 2: skip every remaining block whose UB can't reach theta
    # (strict <: a block whose UB EQUALS theta may hold a tied doc whose
    # smaller doc_id must enter the tie-break); essential blocks decode
    # now, non-essential ones wait for the candidate containment test
    n_skipped = 0
    pending: list[int] = []
    for bi in range(i, n_blocks):
        if ub_all[bi] < theta - eps - bonus_slack:
            n_skipped += 1
        elif int(ref_all[bi, 0]) in non_ess:
            pending.append(bi)
        else:
            decode(bi)

    if pending:
        ess_ids = [p for p, ti in zip(ids_parts, t_parts)
                   if ti not in non_ess]
        cand = (np.unique(np.concatenate(ess_ids)) if ess_ids
                else np.empty(0, dtype=np.int64))
        for bi in pending:
            ti, j = ref_all[bi]
            d = per[uniq_terms[ti]]
            f, l = d["first"][j], d["last"][j]
            if (np.searchsorted(cand, f, side="left")
                    < np.searchsorted(cand, l, side="right")):
                decode(bi)
            else:
                # no essential-term doc in this block's range: every doc
                # here scores <= sum of non-essential caps < theta
                n_skipped += 1

    uniq, totals, counts = accumulate()
    if uniq.size == 0:
        e = np.empty(0)
        return e.astype(np.int64), e, n_skipped, theta
    m = counts >= min_match
    uniq, totals = uniq[m], totals[m]
    # theta tracks RAW scores (a rounded k-th could overstate by up to
    # half a grid step and turn the eps slack unsound)
    if totals.size >= k:
        theta = max(
            theta, np.partition(totals, totals.size - k)[totals.size - k]
        )
    ranked = totals
    if round_to is not None:
        scale = 10.0 ** round_to
        ranked = np.floor(totals * scale + 0.5) / scale
    sel = _topk_exact(uniq, ranked, k)
    return uniq[sel], ranked[sel], n_skipped, theta


# ---------------------------------------------------------------------------
# the pass: one salted scan, one mapInPandas, salts handed to a collector
# ---------------------------------------------------------------------------


class _Salt:
    """One salt of the scan: its posting rows with the tombstone rows
    split off (``dels``: this salt's sorted tombstone ids — per-segment
    liveDocs, decoded from the ``DEL_TERM`` rows riding the scan, nothing
    global and nothing driver-side), and the plan's per-salt id sets,
    each decoded at most once."""

    def __init__(self, rows: "pd.DataFrame", plan: QueryPlan):
        dead = (rows["term"] == DEL_TERM).to_numpy()
        self.plan = plan
        self.dels = np.unique(_ids(rows[dead])) if dead.any() else None
        self.rows = rows[~dead] if dead.any() else rows

    def ids(self, pred) -> np.ndarray:
        """Sorted distinct doc ids of the rows where ``pred`` holds."""
        rows = self.rows[pred]
        return np.unique(_ids(rows)) if len(rows) else _NO_IDS

    @cached_property
    def score_rows(self) -> "pd.DataFrame":
        return self.rows[self.rows["term"].isin(self.plan.weights)]

    @cached_property
    def fq_sets(self) -> list:
        return [self.ids(self.rows["term"] == t) for t in self.plan.fq]

    @cached_property
    def bonus_sets(self) -> list:
        terms = self.rows["term"]
        return ([self.ids(terms.str.startswith(p))
                 for p in self.plan.bonus_prefixes]
                + [self.ids((terms >= lo) & (terms <= hi))
                   for lo, hi in self.plan.bonus_ranges])

    @cached_property
    def excluded(self) -> "np.ndarray | None":
        """MUST_NOT ids ∪ tombstones (None when neither)."""
        ex = (self.ids(self.rows["term"].isin(self.plan.exclude))
              if self.plan.exclude else _NO_IDS)
        if self.dels is not None:
            ex = np.union1d(ex, self.dels)
        return ex if ex.size else None

    def mask(self) -> Mask:
        """fq ∩ restrict include sets, MUST_NOT ∪ tombstones, bonuses."""
        inc = list(self.fq_sets)
        if self.plan.restrict is not None:
            inc.append(self.plan.restrict)
        return Mask(tuple(inc), self.excluded, tuple(self.bonus_sets))

    @cached_property
    def match(self) -> "np.ndarray | None":
        """Sorted match set: docs carrying at least ``mm`` distinct query
        terms (groups), ∩ every fq set, minus tombstones. None means
        every live doc (match-all without fq). No scoring."""
        plan = self.plan
        match = None
        if not plan.match_all:
            group_of = plan.group_of or {t: t for t in plan.terms}
            by_group: dict = {}
            for t, rows in self.rows.groupby("term", sort=False):
                g = group_of.get(t)
                if g is not None:
                    by_group.setdefault(g, []).append(_ids(rows))
            # dedupe WITHIN each base-term group first (title+body hits
            # of one term count once)
            parts = [a[0] if len(a) == 1 else np.unique(np.concatenate(a))
                     for a in by_group.values()]
            if not parts:
                return _NO_IDS
            uniq, counts = np.unique(np.concatenate(parts),
                                     return_counts=True)
            match = uniq[counts >= plan.mm]
        for inc in self.fq_sets:
            # match-all: the first fq set IS the match
            match = inc if match is None else match[_member(match, inc)]
        if match is not None and self.dels is not None and match.size:
            match = match[~_member(match, self.dels)]
        return match

    def facet_counts(self, match) -> "dict[str, int]":
        """Per-value facet counts ``|value postings ∩ match|`` over the
        filter postings of the faceted fields — Lucene's per-segment
        bitset facet counting. ``match`` None counts the live postings
        (match-all)."""
        out: dict[str, int] = {}
        prefixes = self.plan.facet_prefixes
        if not prefixes or (match is not None and match.size == 0):
            return out
        fq_set = set(self.plan.fq)
        is_facet = self.rows["term"].str.startswith(prefixes)
        for t, rows in self.rows[is_facet].groupby("term", sort=False):
            if t in fq_set and match is not None:
                # its intersection with the match is the match itself
                n = int(match.size)
            elif match is not None:
                n = int(_member(np.unique(_ids(rows)), match).sum())
            elif self.dels is not None:
                n = int((~_member(_ids(rows), self.dels)).sum())
            else:
                n = int(_ids(rows).size)
            if n:
                out[t] = n
        return out


def _term_pred(isin=(), prefixes=(), ranges=()):
    """A pyarrow filter on ``term``: in ``isin``, or starting with a
    prefix, or inside an inclusive ``(lo, hi)`` range; None keeps every
    row. The ``>=`` conjuncts let row-group min/max prune (the stages
    are sorted by term within each file)."""
    import pyarrow.compute as pc

    term = pc.field("term")
    preds = [term.isin(list(isin))] if isin else []
    preds += [(term >= p) & pc.starts_with(term, pattern=p)
              for p in prefixes]
    preds += [(term >= lo) & (term <= hi) for lo, hi in ranges]
    return reduce(or_, preds) if preds else None


def _read_salts(files: list, lo: int, hi: int, where: tuple,
                scales: dict, sep) -> "pd.DataFrame | None":
    """The rows of salts ``lo..hi`` in those of ``files`` (``stage_files``
    entries of one stage of one generation) whose salt range overlaps,
    filtered by ``where`` (:func:`_term_pred` arguments), with the
    generation's block caps rescaled by ``scales``
    (``InvertedIndex._cap_scales``: one factor, or one per field
    prefix)."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    paths = [f for f, flo, fhi in files if flo <= hi and fhi >= lo]
    if not paths:
        return None
    salt = pc.field("salt")
    pred = (salt >= lo) & (salt <= hi)
    term = _term_pred(*where)
    if term is not None:
        pred = pred & term
    pdf = ds.dataset(paths, format="parquet").to_table(
        filter=pred, use_threads=False).to_pandas()
    if scales and len(pdf):
        factor = (scales[None] if None in scales else
                  pdf["term"].str.split(sep, n=1).str[0]
                  .map(scales).fillna(1.0).to_numpy(dtype=np.float64))
        pdf["max_wnorm"] = pdf["max_wnorm"].to_numpy(np.float64) * factor
    return pdf


def _search(index, plan: QueryPlan,
            collector: "Callable[[Iterator[_Salt]], Iterator[pd.DataFrame]]",
            schema: str) -> DataFrame:
    """The one salted pass — Lucene's ``IndexSearcher.search(query,
    collector)`` with one leaf reader per salt range, and no shuffle.

    The driver lists, from the manifests, the files of every stage the
    plan reads: the query-term (and MUST_NOT / bonus) ``segments`` of each
    generation with its cap rescale factors, the fq / faceted-field
    ``filters`` of each generation and the head's ``del_segments``
    tombstones. The stages are written one salt per file, and each file's
    salt range is in the manifest. One Python task per salt range
    (:func:`_salt_ranges`) reads the overlapping files with pyarrow, term
    and salt predicates pushed down, and hands its non-empty salts
    (tombstones split off) to ``collector``, which yields the task's
    output frames in ``schema``. Completeness does not depend on the
    clustering: a file spanning many salts is read by every task whose
    range it overlaps, each keeping only its own salts. Lazy: one Spark
    job when the caller reads it."""
    keys = list(dict.fromkeys(plan.terms + plan.exclude))
    term_where = (tuple(keys), plan.bonus_prefixes, plan.bonus_ranges)
    filter_where = (plan.fq, plan.facet_prefixes, ())
    sources = []  # (files, where, cap scales)
    if keys or plan.bonus_prefixes or plan.bonus_ranges:
        sources += [(st.stage_files("segments"), term_where,
                     index._cap_scales(st)) for st in index.stores]
    if plan.fq or plan.facet_prefixes:
        # resolve_plan refused fq / facets on an index without them
        sources += [(st.stage_files("filters"), filter_where, {})
                    for st in index.stores]
    if not sources:
        return local_frame(index.spark, [], schema)
    if index.del_postings() is not None:
        sources.append((index.store.stage_files("del_segments"), (), {}))
    ranges = _salt_ranges(index)
    sep = getattr(index, "sep", None)

    def salts(batches: Iterator[pd.DataFrame]) -> Iterator[_Salt]:
        for batch in batches:
            for task in batch["id"]:
                lo, hi = ranges[task]
                parts = [_read_salts(files, lo, hi, where, scales, sep)
                         for files, where, scales in sources]
                parts = [p for p in parts if p is not None and len(p)]
                if not parts:
                    continue
                pdf = pd.concat(parts, ignore_index=True)
                # each salt is complete on its own (block ranges are only
                # disjoint within a salt, and each doc's full
                # contribution lives in exactly one salt)
                for _, sub in pdf.groupby("salt", sort=False):
                    s = _Salt(sub, plan)
                    if len(s.rows):
                        yield s

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        yield from collector(salts(batches))

    # the task frame: row i is salt range i, one partition each (a
    # LocalRelation would slice by the core count instead)
    n = len(ranges)
    return index.spark.range(0, n, 1, n).mapInPandas(run, schema=schema)


def _topk_frame(index, candidates: DataFrame, k: int,
                with_url: bool) -> DataFrame:
    """The global (score desc, doc_id asc) top-k of per-partition
    candidates, with the doc's url when asked and the docs stage has one
    (indexes keyed on a non-url column have none)."""
    topk = candidates.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    if with_url and "url" in index.docs.columns:
        topk = topk.join(index.docs.select("doc_id", "url"), "doc_id", "left")
        topk = topk.orderBy(F.desc("score"), F.asc("doc_id"))
    return topk


# ---------------------------------------------------------------------------
# collectors
# ---------------------------------------------------------------------------


def wand_topk(
    index,
    query: str,
    k: int = 10,
    with_url: bool = True,
    min_match: int | str = 1,
    skip_acc=None,
    exclude_query: str | None = None,
    term_boosts: "dict[str, float] | None" = None,
    wildcard: "str | list[str] | None" = None,
    term_range: "tuple[str, str] | None" = None,
    filter_queries: "Sequence[str] | None" = None,
    pre_analyzed: bool = False,
    restrict_ids: "Sequence[int] | None" = None,
    qf: "dict[str, float] | None" = None,
    tie: float = 0.1,
    round_to: int | None = None,
) -> DataFrame:
    """Top-k (doc_id, score[, url]) for one query over a built index.

    ``qf``: edismax multi-field top-k over a MULTI-FIELD physical index
    (plans/multifield.py) — the reference's default handler shape
    (``solrconfig.xml:64-83``)::

        score(d) = sum over query terms t of
                     max_f(s_f) + tie * (sum_f(s_f) - max_f(s_f))
        s_f      = boost_f * BM25_f(t, d)   [per-field df, avgdl, norms]

    Field-scoped term keys are just more terms to the block machinery;
    the dismax combine replaces the additive accumulate and pruning stays
    exact because the additive UB bounds the dismax total for
    ``tie <= 1``. ``min_match`` then counts distinct BASE query terms (a
    term matched only in the title still counts once). ``round_to``: rank
    by rounded scores (oracle tie contract) with eps-slackened pruning.

    ``filter_queries``: Solr ``fq`` clauses answered FROM THE INDEX's
    unscored filter postings (``build_index(filter_cols=...)`` — the
    ``col:value`` terms of the ``filters`` stage). Each clause's postings
    ride the same salted scan, decode to per-salt sorted id sets, and the
    kernel keeps only docs present in EVERY set — the per-shard
    filterCache-bitset intersection (``solrconfig.xml:36-46``), with
    scores untouched (fq never scores) and pruning exact (exclusion-style
    masking before theta).

    ``min_match``: minimum distinct matched query terms per doc — 1 = OR
    (edismax default field behavior), len(terms) = AND (``q.op=AND``),
    intermediate = the ``mm`` parameter; a string is resolved through the
    Solr mm-spec grammar (solrconfig.xml:68,72,76 — e.g. ``"6<-1 6<90%"``,
    :func:`..functions.mm_spec.parse_mm_spec`).
    ``skip_acc``: optional Spark accumulator collecting the number of
    posting blocks PRUNED WITHOUT DECODING (block-max effectiveness
    metric, reported by bench.py).
    ``exclude_query``: prohibited clauses (``-term`` /
    BooleanClause.Occur.MUST_NOT) answered FROM THE INDEX: the excluded
    terms' postings travel through the same salted scan as the scoring
    postings, are decoded to per-salt sorted doc-id arrays, and are
    masked out inside the kernel's accumulator — before theta derivation
    and heap entry, so block-max pruning stays exact. Tombstoned docs of
    a generation chain ride the same exclusion.
    ``term_boosts``: per-clause boosts (the query parser's ``term^2``),
    folded into the per-term weight — block caps are ``weight *
    max_wnorm``, so pruning bounds scale with the boost and stay exact.
    ``restrict_ids``: a request-sized explicit id set (QueryElevation's
    score fetch) — one more include set for the kernel.

    ``wildcard`` / ``term_range``: CONSTANT_SCORE multi-term clauses
    (``pre*`` / ``[lo TO hi]``) answered FROM THE INDEX: each clause is
    a predicate on the sorted term column (dictionary range scan —
    min/max row-group pruning applies), its matching postings ride the
    same salted scan, and its per-salt doc set becomes a +1.0 bonus
    inside the kernel (pruning slackened by the clause count — see
    :class:`Mask`). Docs matching ONLY constant clauses are emitted at
    their bonus value and max-merged with the kernel's rows per partition
    (a pruned doc's understated bonus row provably never displaces a
    correct result: its own salt already contributed k rows with larger
    totals). Unlike the logical plan, scores here are rounded ONCE at the
    end (the logical twin rounds the scored sum before adding the bonus);
    the oracle row's twin uses the single-round form. A query with no
    scored clause still requires ``query`` terms here (wildcard-only
    strings use the logical plan).
    """
    plan = resolve_plan(
        index, query, min_match, qf=qf, tie=tie, round_to=round_to,
        pre_analyzed=pre_analyzed, exclude_query=exclude_query,
        term_boosts=term_boosts, filter_queries=filter_queries)
    if not plan.weights:
        return local_frame(index.spark, [], "doc_id long, score double")
    plan = replace(
        plan,
        bonus_prefixes=((wildcard,) if isinstance(wildcard, str)
                        else tuple(wildcard or ())),
        bonus_ranges=(term_range,) if term_range is not None else (),
        restrict=(np.unique(np.asarray(list(restrict_ids), dtype=np.int64))
                  if restrict_ids is not None else None))
    return _topk_frame(index, _topk_pass(index, plan, int(k), skip_acc),
                       int(k), with_url)


def _topk_pass(index, plan: QueryPlan, kk: int, skip_acc=None) -> DataFrame:
    """Per-task top-``kk`` candidates ``(doc_id, score)`` of a resolved
    plan: the :func:`wand_topk` collector on the salted pass."""

    def collect(salts: Iterator[_Salt]) -> Iterator[pd.DataFrame]:
        # theta carries forward across the task's salts, so later
        # salts start with a tighter prune bound
        theta = -math.inf
        id_parts, score_parts = [], []
        n_skipped = 0
        for s in salts:
            mask = s.mask()
            if mask.bonus:
                wall = [b for b in mask.bonus if b.size]
                if wall:
                    wu, wc = np.unique(np.concatenate(wall),
                                       return_counts=True)
                    keep = mask.admit(wu)
                    # docs matching only constant clauses: emitted at
                    # their bonus value, max-merged with kernel rows
                    id_parts.append(wu[keep])
                    score_parts.append(wc[keep].astype(np.float64))
            if not len(s.score_rows):
                continue
            ids, scores, nsk, theta = _score_blocks_bmw(
                s.score_rows, plan, kk, theta, mask)
            id_parts.append(ids)
            score_parts.append(scores)
            n_skipped += nsk
        if skip_acc is not None:
            skip_acc.add(int(n_skipped))
        if not id_parts:
            return
        # per-task bounded top-k across its salts (docs are distinct
        # across salts; a doc's kernel row and bonus-only row max-merge —
        # the kernel total always dominates its own bonus row)
        uniq_ids, inv = np.unique(np.concatenate(id_parts),
                                  return_inverse=True)
        best = np.full(uniq_ids.size, -np.inf)
        np.maximum.at(best, inv, np.concatenate(score_parts))
        sel = _topk_exact(uniq_ids, best, kk)
        yield pd.DataFrame({"doc_id": uniq_ids[sel], "score": best[sel]})

    return _search(index, plan, collect, "doc_id long, score double")


def wand_topk_batch(
    index,
    queries: Sequence[str],
    k: int = 10,
    mode: str = "auto",
    skip_acc=None,
) -> DataFrame:
    """Many queries in one pass: (qid, doc_id, score, rank).

    One salted pass serves all queries (the batch query driver of
    SURVEY.md §M3): each task reads the blocks of its salts that match
    ANY query term once. Two collectors, chosen by ``mode``:

    * **dense** — each task decodes every matched block ONCE and
      scores every query against its doc subset. In a dense batch (hot
      terms shared by many queries) every block is needed by some query,
      so decode-once dominates and per-query pruning would only force
      re-decoding.
    * **sparse** — per-query block-max pruning (``_score_blocks_bmw``)
      with a shared per-salt decode cache: when queries rarely share
      terms, most blocks serve exactly one query, so the pruning skips
      whole posting ranges the dense kernel would decode; the cache makes
      the residual overlap free. ``skip_acc`` (optional Spark
      accumulator) collects the pruned-without-decoding block count.

    ``mode="auto"`` decides driver-side from the dictionary: the share of
    matched posting volume (df-weighted) belonging to terms used by MORE
    than one query. Below a quarter the batch is sparse. The statistic
    costs nothing extra — the per-term dfs come with the idf lookup.

    Global merge (both modes): per-partition bounded candidate sets
    (<= k rows per qid each) are combined by a partial-aggregatable
    groupBy — map-side combine builds per-partition lists, the reduce
    side concatenates and takes the k smallest (neg_score, doc_id)
    structs JVM-side. This is the tree-reduce top-k merge: no window, no
    per-row sort shuffle (the round-1 row_number window sorted the full
    candidate set per qid).
    """
    spark = index.spark
    per_q_terms = {qid: _analyze_query(q, index.chain)
                   for qid, q in enumerate(queries)}
    all_terms = sorted({t for ts in per_q_terms.values() for t in ts})
    empty = local_frame(spark, [],
                        "qid int, doc_id long, score double, rank int")
    if not all_terms:
        return empty
    plan = resolve_plan(index, " ".join(all_terms), pre_analyzed=True)
    if not plan.weights:
        return empty
    # the scan needs only the terms the dictionary holds
    plan = replace(plan, terms=tuple(plan.weights))
    kk = int(k)
    qid_terms = {qid: [t for t in ts if t in plan.weights]
                 for qid, ts in per_q_terms.items()}


    if mode == "auto":
        fanin: dict[str, int] = {}
        for ts in qid_terms.values():
            for t in ts:
                fanin[t] = fanin.get(t, 0) + 1
        total_df = sum(plan.df[t] for t in fanin) or 1
        shared_df = sum(plan.df[t] for t, n in fanin.items() if n > 1)
        mode = "sparse" if shared_df / total_df < _SPARSE_SHARE else "dense"

    def rows_of(qid, out_ids, out_scores):
        return pd.DataFrame({
            "qid": np.full(out_ids.size, qid, dtype=np.int32),
            "doc_id": out_ids, "score": out_scores})

    def dense(salts: Iterator[_Salt]) -> Iterator[pd.DataFrame]:
        # decode each block once, bucket live postings by term
        by_term: dict[str, list] = {}
        for s in salts:
            for t, rows in s.rows.groupby("term", sort=False):
                ids, tfs, dls = _decode(rows)
                if s.dels is not None:
                    keep = ~_member(ids, s.dels)
                    ids, tfs, dls = ids[keep], tfs[keep], dls[keep]
                if ids.size:
                    by_term.setdefault(t, []).append(
                        (ids, _bm25(plan.weights[t], plan.avgdl[t],
                                    tfs, dls)))
        if not by_term:
            return
        # dense partition-local doc index, built ONCE: per-query
        # accumulation then runs as an O(n + U) bincount over positions
        # instead of an O(n log n) np.unique sort PER QUERY — in a dense
        # batch the same hot term's array would otherwise be re-sorted by
        # every query that contains it
        term_arrays = {
            t: (np.concatenate([x[0] for x in parts]),
                np.concatenate([x[1] for x in parts]))
            for t, parts in by_term.items()
        }
        all_ids = np.unique(
            np.concatenate([ids for ids, _ in term_arrays.values()]))
        term_pos = {t: (ids, np.searchsorted(all_ids, ids), ws)
                    for t, (ids, ws) in term_arrays.items()}
        out = []
        for qid, terms in qid_terms.items():
            terms = [t for t in terms if t in term_pos]
            if not terms:
                continue
            if len(terms) == 1:
                # a doc posts at most once per term within its salt, so a
                # single-term query needs NO aggregation at all
                ids, _, ws = term_pos[terms[0]]
                sel = _topk_exact(ids, ws, kk)
                out.append(rows_of(qid, ids[sel], ws[sel]))
                continue
            pos = np.concatenate([term_pos[t][1] for t in terms])
            ws = np.concatenate([term_pos[t][2] for t in terms])
            totals = np.bincount(pos, weights=ws, minlength=all_ids.size)
            nz = np.flatnonzero(totals)
            sel = _topk_exact(all_ids[nz], totals[nz], kk)
            out.append(rows_of(qid, all_ids[nz][sel], totals[nz][sel]))
        if out:
            yield pd.concat(out, ignore_index=True)

    def sparse(salts: Iterator[_Salt]) -> Iterator[pd.DataFrame]:
        thetas = {qid: -math.inf for qid in qid_terms}
        id_parts: dict[int, list] = {qid: [] for qid in qid_terms}
        sc_parts: dict[int, list] = {qid: [] for qid in qid_terms}
        n_skipped = 0
        for s in salts:
            # the decode cache lives per salt: block identity is
            # (term, first_doc), unique only within one salt's disjoint
            # ascending ranges
            cache: dict = {}
            mask = Mask(exclude=s.dels)
            present = set(pd.unique(s.rows["term"]))
            for qid, terms in qid_terms.items():
                qt = [t for t in terms if t in present]
                if not qt:
                    continue
                ids, scores, nsk, thetas[qid] = _score_blocks_bmw(
                    s.rows[s.rows["term"].isin(qt)], plan, kk,
                    thetas[qid], mask, cache)
                n_skipped += nsk
                id_parts[qid].append(ids)
                sc_parts[qid].append(scores)
        if skip_acc is not None:
            skip_acc.add(int(n_skipped))
        out = [rows_of(qid, *_merged_topk(id_parts[qid], sc_parts[qid], kk))
               for qid in qid_terms if id_parts[qid]]
        if out:
            yield pd.concat(out, ignore_index=True)

    candidates = _search(index, plan, sparse if mode == "sparse" else dense,
                         "qid int, doc_id long, score double")
    # tree-reduce top-k merge: (neg_score, doc_id) structs sort ascending ==
    # (score desc, doc_id asc); collect_list partial-aggregates map-side,
    # array_sort + slice keep k per qid, posexplode restores rank rows
    merged = candidates.groupBy("qid").agg(
        F.slice(
            F.array_sort(F.collect_list(F.struct(
                (-F.col("score")).alias("ns"), F.col("doc_id")))),
            1, kk,
        ).alias("top")
    )
    return (
        merged.select("qid", F.posexplode("top").alias("pos", "entry"))
        .select(
            "qid",
            F.col("entry.doc_id").alias("doc_id"),
            (-F.col("entry.ns")).alias("score"),
            (F.col("pos") + 1).cast("int").alias("rank"),
        )
        .orderBy("qid", "rank")
    )


def wand_query_string_topk(
    index,
    qstring: str,
    k: int = 10,
    with_url: bool = True,
    skip_acc=None,
) -> DataFrame:
    """Query-STRING front door for the PHYSICAL index: parse one flat
    Lucene query string (``functions/query_parser.py`` — the grammar of
    the reference's ``defType=lucene`` handlers) and answer it from the
    compressed postings via :func:`wand_topk`.

    Supported through this door: optional SHOULD terms, ``-term``
    prohibited clauses, ``term^W`` boosts, ``pre*`` wildcard and
    ``[lo TO hi]`` range clauses, uniform ``AND``/``OR``. Clause types
    whose physical path is a DIFFERENT plan raise ``QueryStringError``
    naming it rather than silently degrading: phrases →
    ``phrase.phrase_topk`` (positional index), fuzzy →
    ``bm25.bm25_fuzzy_topk_plan``, ``+term`` MUST gating → the logical
    ``bm25_query_string_topk`` (the kernel's mm gate counts distinct
    matches, not specific required terms).
    """
    from ..functions.query_parser import QueryStringError, parse_query_string

    pq = parse_query_string(qstring)
    if pq.fuzzy:
        raise QueryStringError(
            "fuzzy clauses answer from the term dictionary, not the "
            "posting kernel — use bm25_fuzzy_topk_plan")
    if pq.phrase is not None:
        raise QueryStringError(
            "phrase clauses answer from the positional index — use "
            "phrase.phrase_topk")
    if pq.require_terms:
        raise QueryStringError(
            "+term MUST gating is not expressible in the kernel's "
            "distinct-count mm gate — use bm25_query_string_topk")
    if not pq.should_terms:
        raise QueryStringError(
            "the physical door needs at least one scored SHOULD term "
            "(wildcard-only strings use the logical plan)")
    return wand_topk(
        index,
        " ".join(pq.should_terms),
        k=k,
        with_url=with_url,
        min_match=(pq.min_match if pq.min_match is not None else 1),
        skip_acc=skip_acc,
        exclude_query=(" ".join(pq.exclude_terms)
                       if pq.exclude_terms else None),
        term_boosts=(dict(pq.term_boosts) if pq.term_boosts else None),
        wildcard=(list(pq.wildcards) if pq.wildcards else None),
        term_range=pq.term_range,
    )


def matching_doc_ids(
    index,
    query: "str | None",
    min_match: int | str = 1,
    filter_queries: "Sequence[str] | None" = None,
    term_groups: "dict[str, int] | None" = None,
) -> DataFrame:
    """The MATCH SET of a query — every live doc id matching at least
    ``min_match`` distinct query terms (∩ every ``fq`` filter set) — as a
    one-column DataFrame, decoded straight from the postings with NO
    scoring: Solr's QueryComponent bitset, which numFound and the facet
    domain are computed from. One salted pass; per salt the collector is
    a concat + np.unique over the matched terms' id arrays (blocks of a
    term are disjoint within a salt, so distinct-term counts are exact),
    an include-set intersection for fq, and the tombstone mask.

    ``query=None`` / ``"*:*"`` is MatchAllDocsQuery: with no fq the
    match set is every live doc (metadata-only ``docs`` stage read);
    with fq the collector intersects the fq filter postings alone — the
    reference's match-all + filter profiling request.

    ``term_groups``: optional INDEX-TERM → group mapping for multi-field
    (edismax qf) indexes: field-scoped keys of the same base query term
    share a group, and ``min_match`` counts DISTINCT GROUPS (a term
    matched only in the title still counts once — the dismax mm
    contract). When given, the keys of ``term_groups`` are used as the
    scan terms and ``query`` is not re-analyzed."""
    plan = resolve_plan(index, query, min_match, term_groups=term_groups,
                        filter_queries=filter_queries, score=False)
    if not plan.terms and not plan.match_all:
        return local_frame(index.spark, [], "doc_id long")
    if plan.match_all and not plan.fq:
        # every live doc matches — the docs stage IS the bitset
        return index.docs.select("doc_id")

    def collect(salts: Iterator[_Salt]) -> Iterator[pd.DataFrame]:
        out = [s.match for s in salts]
        out = [m for m in out if m.size]
        if out:
            yield pd.DataFrame({"doc_id": np.concatenate(out)})

    return _search(index, plan, collect, "doc_id long")


def mlt_topk_phys(
    index,
    doc_key: int,
    max_query_terms: int = 10,
    min_term_freq: int = 1,
    min_doc_freq: int = 2,
    k: int = 10,
    round_to: int | None = 4,
) -> DataFrame:
    """Solr MoreLikeThis FROM THE PHYSICAL INDEX — how the /mlt handler
    actually works (Lucene MoreLikeThis reads the source doc's term
    vector from the index, never re-analyzes text): the source document's
    packed tf row is point-read from the committed ``tf`` stage
    (doc_id-sorted parquet → row-group pruned), its ``max_query_terms``
    most interesting terms (``tf * ln(N/df)``, df from the index
    dictionary, Lucene's interestingTerms ranking with the
    ``min_term_freq``/``min_doc_freq`` floors) form the similarity
    query, and block-max WAND answers it with the source doc excluded.

    The interesting-term selection is the ONE driver-side step — a
    single document's term profile, request-metadata-sized, exactly the
    in-memory step the Solr handler performs. Corpus text is never read.
    """
    spark = index.spark
    rows = (
        index.live_tf().filter(F.col("doc_id") == int(doc_key))
        .select(F.explode(F.arrays_zip("terms", "tfs")).alias("z"))
        .select(F.col("z.terms").alias("term"), F.col("z.tfs").alias("tf"))
        .filter(F.col("tf") >= int(min_term_freq))
        .join(index.cached_dictionary().select("term", "df"), "term")
        .filter(F.col("df") >= int(min_doc_freq))
        .collect()
    )
    if not rows:
        return local_frame(spark, [], "doc_id long, score double")
    n = index.n_docs
    ranked = sorted(
        rows, key=lambda r: (-(r["tf"] * math.log(n / r["df"])), r["term"])
    )[: int(max_query_terms)]
    terms = [r["term"] for r in ranked]
    out = (
        wand_topk(index, " ".join(terms), k=int(k) + 1, with_url=False,
                  pre_analyzed=True)
        .filter(F.col("doc_id") != int(doc_key))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(int(k))
    )
    if round_to is not None:
        out = out.select(
            "doc_id", F.round("score", int(round_to)).alias("score"))
    return out


def facet_match_counts(
    index,
    query: str | None = None,
    facet_fields: "Sequence[str]" = (),
    filter_queries: "Sequence[str] | None" = None,
    min_match: int | str = 1,
    term_groups: "dict[str, int] | None" = None,
) -> DataFrame:
    """FacetComponent executed entirely FROM THE INDEX: one salted pass
    emits, per salt, the q∩fq match-set size AND the per-value facet
    counts — ``|facet_bitset ∩ match_bitset|`` over the unscored filter
    postings (``build_index(filter_cols=...)``), exactly Lucene's
    per-segment docvalues/bitset facet counting. No metadata table, no
    corpus text, no scoring at query time.

    Returns rows ``(facet_field, facet_value, count)`` plus one
    ``('__num_found__', NULL, n)`` row. ``query=None`` is the
    MatchAllDocsQuery battery (the reference's profiling request):
    counts are live posting sizes per value and ``__num_found__`` is the
    live doc count — still one metadata-only pass."""
    if index.filters is None:
        raise ValueError(
            "facet_match_counts needs an index built with filter_cols")
    plan = resolve_plan(index, query, min_match, term_groups=term_groups,
                        filter_queries=filter_queries,
                        facet_fields=facet_fields, score=False)

    def collect(salts: Iterator[_Salt]) -> Iterator[pd.DataFrame]:
        out_t, out_c = [], []
        for s in salts:
            if s.match is not None:
                out_t.append("__num_found__")
                out_c.append(int(s.match.size))
            for t, n in s.facet_counts(s.match).items():
                out_t.append(t)
                out_c.append(n)
        if out_t:
            yield pd.DataFrame({"fterm": out_t, "count": out_c})

    per_salt = _search(index, plan, collect, "fterm string, count long")
    agg = per_salt.groupBy("fterm").agg(F.sum("count").alias("count"))
    split = F.split(F.col("fterm"), ":", 2)
    out = agg.select(
        F.when(F.col("fterm") == "__num_found__", F.lit("__num_found__"))
        .otherwise(split.getItem(0)).alias("facet_field"),
        F.when(F.col("fterm") == "__num_found__", F.lit(None))
        .otherwise(split.getItem(1)).alias("facet_value"),
        "count",
    )
    if plan.match_all and not plan.fq:
        # every live doc matches; __num_found__ is the live doc count (no
        # salt emitted it — the collector saw only facet terms)
        out = out.unionByName(local_frame(
            index.spark, [("__num_found__", None, int(index.n_docs))],
            "facet_field string, facet_value string, count long"))
    return out


@dataclass
class SelectPass:
    """What one relevance ``/select`` needs from the postings: numFound,
    the top-k page on the kernel's order and the index-only facet counts
    (``'field:value' -> |value postings ∩ match|``)."""

    num_found: int
    doc_ids: np.ndarray  # top-k, (score desc, doc_id asc)
    scores: np.ndarray   # kernel scores (dismax: rounded when round_to)
    facet_counts: "dict[str, int]"


def select_pass(
    index,
    query: str,
    k: int,
    min_match: int | str = 1,
    filter_queries: "Sequence[str] | None" = None,
    facet_fields: "Sequence[str]" = (),
    qf: "dict[str, float] | None" = None,
    tie: float = 0.1,
    round_to: int | None = None,
) -> SelectPass:
    """One relevance request from ONE salted pass — Solr's
    ``SolrIndexSearcher.getDocListAndSet``, where one search feeds both
    the top-k collector and the facet DocSet.

    Per salt the collector computes the match set (the
    :func:`matching_doc_ids` collector), its size, the per-value facet
    counts (the :func:`facet_match_counts` collector) and the block-max
    top-k restricted to the match set (a doc outside the match never
    raises theta, so pruning stays exact). One ``collect()`` returns at
    most ``n_parts x k`` page rows plus the counts; the driver merges
    them on (score desc, doc_id asc). Scores are the kernel's own: raw
    for ``qf=None``, ranked-and-rounded for dismax with ``round_to`` (the
    :func:`wand_topk` ``qf`` contract)."""
    plan = resolve_plan(
        index, query, min_match, qf=qf, tie=tie,
        round_to=round_to if qf is not None else None,
        filter_queries=filter_queries, facet_fields=facet_fields)
    if plan.match_all:
        raise ValueError("select_pass answers a relevance q; q=*:* pages "
                         "over matching_doc_ids")
    if not plan.weights:
        # no query term is in the index: the match set is empty
        return SelectPass(0, _NO_IDS, np.empty(0), {})
    kk = int(k)

    def collect(salts: Iterator[_Salt]) -> Iterator[pd.DataFrame]:
        theta = -math.inf
        id_parts, score_parts = [], []
        n_found = 0
        counts: dict[str, int] = {}
        for s in salts:
            match = s.match
            n_found += int(match.size)
            for t, n in s.facet_counts(match).items():
                counts[t] = counts.get(t, 0) + n
            if not (kk and match.size and len(s.score_rows)):
                continue
            ids, scores, _, theta = _score_blocks_bmw(
                s.score_rows, plan, kk, theta, Mask(include=(match,)))
            id_parts.append(ids)
            score_parts.append(scores)
        ids, scores = _merged_topk(id_parts, score_parts, kk)
        page = pd.DataFrame({"doc_id": ids, "score": scores})
        tally = pd.DataFrame({"fterm": ["__num_found__", *counts],
                              "count": [n_found, *counts.values()]})
        out = pd.concat([page, tally], ignore_index=True)
        yield out.astype({"doc_id": "Int64", "count": "Int64"})

    rows = _search(index, plan, collect,
                   "doc_id long, score double, fterm string, count long"
                   ).collect()
    n_found, counts, ids, scores = 0, {}, [], []
    for r in rows:
        if r["fterm"] is None:
            ids.append(r["doc_id"])
            scores.append(r["score"])
        elif r["fterm"] == "__num_found__":
            n_found += r["count"]
        else:
            counts[r["fterm"]] = counts.get(r["fterm"], 0) + r["count"]
    ids_a, scores_a = _merged_topk(
        [np.asarray(ids, dtype=np.int64)],
        [np.asarray(scores, dtype=np.float64)], kk)
    return SelectPass(int(n_found), ids_a, scores_a, counts)


def grouped_topk_phys(
    index,
    query: str,
    group_field: str,
    k_groups: int = 10,
    k_per_group: int = 2,
    min_match: int | str = 1,
    round_to: int | None = 4,
) -> DataFrame:
    """Solr result grouping / field collapse FROM THE PHYSICAL INDEX
    (``group=true&group.field=X`` — Lucene's two-pass grouping collector
    run per salt): the group of a doc comes from the indexed filter
    postings (``filter_cols`` must cover ``group_field``), each salt
    scores its matched docs once (decode-all accumulate — per-group
    top-k cannot use a single global theta, so block-max pruning is
    deliberately off; this is the dense-batch kernel's trade) and emits
    its per-group match count plus its per-group top ``k_per_group``
    candidates; the global pass sums counts, keeps each group's true
    top docs (every salt's bests are present), ranks groups by best-doc
    score and returns one row per kept (group, doc):
    ``(group, group_found, rank, doc_id, score)`` — value-identical to
    the logical :func:`..bm25.bm25_grouped_topk`."""
    if index.filters is None:
        raise ValueError(
            "grouped_topk_phys needs an index built with filter_cols "
            f"covering {group_field!r}")
    schema = (f"{group_field} string, group_found long, rank long, "
              "doc_id long, score double")
    plan = resolve_plan(index, query, min_match, facet_fields=[group_field])
    if not plan.weights:
        return local_frame(index.spark, [], schema)
    kpg = int(k_per_group)

    def collect(salts: Iterator[_Salt]) -> Iterator[pd.DataFrame]:
        g_out, d_out, s_out, c_out = [], [], [], []
        for s in salts:
            id_parts, w_parts = [], []
            for t, rows in s.score_rows.groupby("term", sort=False):
                ids, tfs, dls = _decode(rows)
                id_parts.append(ids)
                w_parts.append(_bm25(plan.weights[t], plan.avgdl[t],
                                     tfs, dls))
            if not id_parts:
                continue
            uniq, inv = np.unique(np.concatenate(id_parts),
                                  return_inverse=True)
            totals = np.zeros(uniq.size)
            np.add.at(totals, inv, np.concatenate(w_parts))
            keep = np.bincount(inv, minlength=uniq.size) >= plan.mm
            if s.dels is not None:
                keep &= ~_member(uniq, s.dels)
            uniq, totals = uniq[keep], totals[keep]
            if uniq.size == 0:
                continue
            if round_to is not None:
                scale = 10.0 ** round_to
                totals = np.floor(totals * scale + 0.5) / scale
            grows = s.rows[s.rows["term"].str.startswith(
                plan.facet_prefixes)]
            for gt, rows in grows.groupby("term", sort=False):
                member = _member(uniq, np.unique(_ids(rows)))
                n_mem = int(member.sum())
                if not n_mem:
                    continue
                gval = gt.split(":", 1)[1]
                g_out.append(gval)
                d_out.append(-1)
                s_out.append(0.0)
                c_out.append(n_mem)
                gu, gtot = uniq[member], totals[member]
                for i in _topk_exact(gu, gtot, kpg):
                    g_out.append(gval)
                    d_out.append(int(gu[i]))
                    s_out.append(float(gtot[i]))
                    c_out.append(-1)
        if g_out:
            yield pd.DataFrame({"gval": g_out, "doc_id": d_out,
                                "score": s_out, "n": c_out})

    # the per-salt parts are bounded (a count row and k_per_group
    # candidates per group and salt): collect them once and merge on
    # the driver — nothing is left cached
    raw = _search(index, plan, collect,
                  "gval string, doc_id long, score double, n long"
                  ).toPandas()
    counts = raw[raw["n"] >= 0].groupby("gval")["n"].sum()
    cands = raw[raw["n"] < 0].sort_values(
        ["gval", "score", "doc_id"], ascending=[True, False, True])
    cands["rank"] = cands.groupby("gval").cumcount() + 1
    best = cands.groupby("gval")["score"].max().reset_index()
    kept = best.sort_values(["score", "gval"], ascending=[False, True]
                            )["gval"].head(int(k_groups))
    out = [(g, int(counts[g]), int(r.rank), int(r.doc_id), float(r.score))
           for g in kept
           for r in cands[(cands["gval"] == g)
                          & (cands["rank"] <= kpg)].itertuples()]
    return local_frame(index.spark, out, schema)


def elevate_topk_phys(
    index,
    query: str,
    elevate_ids: "Sequence[int]",
    k: int = 10,
    force: bool = True,
    round_to: int | None = 4,
) -> DataFrame:
    """QueryElevationComponent FROM THE PHYSICAL INDEX (the /elevate
    handler + elevate.xml, solrconfig-vanilla.xml:1522-1537): the
    configured docs pin to the top in elevate.xml order; the remainder
    follows in BM25 order. ``force=True`` (forceElevation) shows an
    elevated doc even when it does not match — with a NULL score, since
    it was never scored.

    Execution: the elevated ids' true scores come from ONE restricted
    kernel pass (``wand_topk(restrict_ids=...)`` — the ids ride the
    matched-postings scan as an include-set; request-metadata-sized),
    the remainder from the ordinary block-max top-(k+|elevated|). The
    component is a post-scoring sort-key rewrite, exactly like the
    logical :func:`..bm25.elevate_topk`. Both passes are request-sized,
    so they are collected and ordered on the driver: two jobs, no join."""
    ids = [int(x) for x in elevate_ids]
    es = wand_topk(index, query, k=max(len(ids), 1), with_url=False,
                   restrict_ids=ids)
    rest = wand_topk(index, query, k=int(k) + len(ids), with_url=False)
    if round_to is not None:
        es = es.select("doc_id",
                       F.round("score", int(round_to)).alias("score"))
        rest = rest.select("doc_id",
                           F.round("score", int(round_to)).alias("score"))
    scored = {r["doc_id"]: r["score"] for r in es.collect()}
    # elevate.xml order first, then the rest by (score desc, doc_id asc)
    out = [(i, scored.get(i), True) for i in ids if force or i in scored]
    pinned = set(ids)
    out += sorted(((r["doc_id"], r["score"], False)
                   for r in rest.collect() if r["doc_id"] not in pinned),
                  key=lambda t: (-t[1], t[0]))
    return local_frame(index.spark, out[: int(k)],
                       "doc_id long, score double, elevated boolean")


def explain_topk_phys(
    index,
    query: str,
    k: int = 10,
    round_to: int | None = 4,
) -> DataFrame:
    """DebugComponent score explanation FROM THE PHYSICAL INDEX
    (``debug=true`` — Lucene's explain walks the index structures for
    the requested docs, never the stored text): block-max WAND picks the
    top-``k`` (collected once, from the one resolved plan), their ids
    and scores (request-sized) ride a second pass over the same matched
    postings whose collector emits one (doc, score, term, tf, df,
    doc_len) row per matched query term, and the BM25 quantities
    (df from the dictionary, collection stats) reassemble Lucene's
    'sum of:' tree rows — ``(doc_id, score, term, tf, df, doc_len,
    term_score)``, value-identical to the logical
    :func:`..bm25.explain_topk`."""
    empty = local_frame(
        index.spark, [], "doc_id long, score double, term string, tf long, "
                         "df long, doc_len long, term_score double")
    plan = resolve_plan(index, query)
    if not plan.weights:
        return empty
    hits = _topk_frame(index, _topk_pass(index, plan, int(k)), int(k),
                       False).collect()
    if not hits:
        return empty
    score_of = {r["doc_id"]: r["score"] for r in hits}
    ids = np.asarray(sorted(score_of), dtype=np.int64)
    df_of = dict(plan.df)

    def collect(salts: Iterator[_Salt]) -> Iterator[pd.DataFrame]:
        # the request-sized top-k and the plan's dfs ride the collector:
        # the rows leave the pass complete, with no join after it
        out = []
        for s in salts:
            for t, rows in s.rows.groupby("term", sort=False):
                dids, tfs, dls = _decode(rows)
                m = _member(dids, ids)
                if m.any() and t in df_of:
                    out.append(pd.DataFrame({
                        "doc_id": dids[m],
                        "score": [score_of[d] for d in dids[m]],
                        "term": t, "tf": tfs[m].astype(np.int64),
                        "df": df_of[t],
                        "doc_len": dls[m].astype(np.int64)}))
        if out:
            yield pd.concat(out, ignore_index=True)

    out = _search(index, plan, collect,
                  "doc_id long, score double, term string, tf long, "
                  "df long, doc_len long")
    n_docs, avgdl = float(index.n_docs), float(index.avgdl)
    term_score = (
        F.log((F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5)
              + 1.0)
        * F.col("tf") * F.lit(K1 + 1.0)
        / (F.col("tf") + F.lit(K1)
           * (F.lit(1.0 - B) + F.lit(B) * F.col("doc_len") / F.lit(avgdl)))
    )
    out = out.withColumn("term_score", term_score)
    if round_to is not None:
        out = (out.withColumn("score", F.round("score", int(round_to)))
               .withColumn("term_score",
                           F.round("term_score", int(round_to))))
    return out.select("doc_id", "score", "term", "tf", "df", "doc_len",
                      "term_score")


def cluster_topk_phys(
    index,
    query: str,
    k: int = 10,
    round_to: int | None = 4,
) -> DataFrame:
    """Carrot2-style result clustering FROM THE PHYSICAL INDEX (the
    ``clustering`` searchComponent — Carrot2 reads the hit documents'
    term vectors and index stats, never re-analyzes text): the WAND
    top-``k`` winners' packed tf rows are point-read from the
    doc_id-sorted tf stages, each doc is labeled by its most salient
    non-query term (``tf * ln(N/df)``, df from the dictionary, ties by
    term asc). Returns ``(doc_id, label, salience)`` — value-identical
    to the logical :func:`..bm25.cluster_topk`.

    One job, the top-k pass: the winners' tf rows and their terms' df
    are row-group-pruned driver reads (``IndexStore.lookup``; the
    winners are live, so no tombstone mask), and the salience is a
    projection of a local frame, which Spark folds without a job."""
    spark = index.spark
    qterms = set(_analyze_query(query, index.chain))
    top = [r["doc_id"] for r in
           wand_topk(index, query, k=k, with_url=False).collect()]
    postings = [(r["doc_id"], t, f) for st in index.stores
                for r in st.lookup("tf", "doc_id", top,
                                   ["doc_id", "terms", "tfs"])
                for t, f in zip(r["terms"], r["tfs"]) if t not in qterms]
    df_of = {r["term"]: r["df"] for r in index.store.lookup(
        "dictionary", "term", {t for _, t, _ in postings}, ["term", "df"])}
    salience = F.col("tf") * F.log(F.lit(float(index.n_docs)) / F.col("df"))
    if round_to is not None:
        salience = F.round(salience, int(round_to))
    cand = local_frame(
        spark, [(d, t, f, df_of[t]) for d, t, f in postings if t in df_of],
        "doc_id long, term string, tf long, df long",
    ).select("doc_id", "term", salience.alias("salience")).collect()
    best: dict = {}
    for r in cand:
        cur = best.get(r["doc_id"])
        if cur is None or (-r["salience"], r["term"]) < (-cur[1], cur[0]):
            best[r["doc_id"]] = (r["term"], r["salience"])
    return local_frame(
        spark, [(d, t, sal) for d, (t, sal) in best.items()],
        "doc_id long, label string, salience double")
