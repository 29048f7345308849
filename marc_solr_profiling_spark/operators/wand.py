"""Query-time top-k over the compressed physical index: block-max WAND.

Spark restatement of the reference's search handler (``solrconfig.xml:
64-83``: relevance top-k, rows=20, sort=score desc, edismax ``q.op=AND`` /
``mm`` minimum-should-match): query terms are analyzed with the index's own
chain, their idfs come from the dictionary (a broadcast-joined lookup of a
handful of terms), and matching posting blocks are scored inside
``mapInPandas`` with a bounded per-partition top-k — the per-partition
min-heap of the north star — then merged globally.

Partitioning invariant that makes this work: blocks are salted by
hash(doc_id), so every query term's postings for a given document share a
salt. Repartitioning matched blocks by salt therefore co-locates complete
per-document score contributions — each partition computes exact totals
for its doc subset independently. No cross-partition accumulation exists.

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
from dataclasses import dataclass
from typing import Iterator, List, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.analyzer import ANALYZERS
from ..functions.mm_spec import parse_mm_spec
from ..oracle import bm25_idf
from ..session import local_frame
from .varbyte import delta_decode, varbyte_decode

K1 = 1.2
B = 0.75


def _salt_partitions(index) -> int:
    """Salt-repartition width for the scoring stage: ~4 tasks per core for
    load balance (a straggler then costs 1/4 of a wave, not a whole one),
    capped at the salt count — with the exact placement of _by_salt each
    partition owns a contiguous slice of salt values, so n_salts partitions
    is exact 1:1 and more would sit empty.

    ``spark.marc.saltPartitions`` overrides the auto-size: cluster-size
    comparisons (tools/scaling_bench.py) must hold the data layout CONSTANT
    across parallelism levels — auto-sizing from core count would hand the
    small level fewer, larger tasks (less per-task overhead) and bias the
    measured scaling ratio."""
    override = index.spark.conf.get("spark.marc.saltPartitions", None)
    if override:
        return max(1, int(override))
    cores = index.spark.sparkContext.defaultParallelism
    return max(1, min(int(getattr(index, "n_salts", 16)), 4 * cores))


def _by_salt(matched: DataFrame, index) -> DataFrame:
    """Co-locate complete per-document contributions: every row of one salt
    in exactly one partition, with EXACT balance and no extra pass.

    Plain hash repartitioning on salt packs 2-4 salts into some partitions
    while ~37% sit empty (birthday effect) — a 3-salt partition is a 3x
    straggler when the wave count is low. Range partitioning balances
    exactly but its bound sampler executes the child plan once more (the
    round-2a shape; it forced a persist of the matched blocks on every
    batch call). The salt domain is KNOWN — uniform integers in
    [0, n_salts) — so placement is computed, not sampled (see
    operators/routing.py). Zero extra jobs per query, one tiny memoized
    probe job per session per width."""
    from .routing import exact_route_expr

    n_parts = _salt_partitions(index)
    n_salts = max(1, int(getattr(index, "n_salts", 16)))
    route = exact_route_expr(index.spark, F.col("salt"), n_salts, n_parts)
    return matched.repartition(n_parts, route.alias("_salt_route"))


def _delete_state(index):
    """Tombstone masking inputs for a kernel call: ``(arr, tbl)``.

    ``arr`` — driver-collected sorted id array (small delete sets, the
    fast path); ``tbl`` — the index-resident ``del_segments`` posting
    table to UNION into the salted scan (large sets; each kernel decodes
    only its salt's ids via :func:`_salt_dels`). At most one is non-None;
    the split point is ``spark.marc.delArrayMaxIds`` (see
    ``plans/build.py InvertedIndex.delete_masks``). Indexes without the
    ``delete_masks`` API (plain builds) fall back to the array."""
    fn = getattr(index, "delete_masks", None)
    if fn is not None:
        return fn()
    return getattr(index, "deleted_array", lambda: None)(), None


def _with_del_rows(matched: DataFrame, del_tbl) -> DataFrame:
    if del_tbl is None:
        return matched
    return matched.unionByName(del_tbl, allowMissingColumns=True)


def _salt_dels(sub: "pd.DataFrame", arr):
    """This salt's sorted tombstone ids: the driver array when present,
    else decoded from the salt's ``DEL_TERM`` posting rows riding the
    scan (per-segment liveDocs — nothing global, nothing driver-side)."""
    from .segments import DEL_TERM

    rows = sub[sub["term"] == DEL_TERM]
    if not len(rows):
        return arr
    ids = np.unique(_ids(rows))
    return ids if arr is None else np.union1d(arr, ids)


def _drop_del_rows(sub: "pd.DataFrame") -> "pd.DataFrame":
    from .segments import DEL_TERM

    return sub[sub["term"] != DEL_TERM]


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


def _member(vals: np.ndarray, sorted_ids: np.ndarray) -> np.ndarray:
    """Boolean mask: which of ``vals`` occur in the sorted id array."""
    if sorted_ids.size == 0:
        return np.zeros(vals.size, dtype=bool)
    pos = np.clip(np.searchsorted(sorted_ids, vals), 0, sorted_ids.size - 1)
    return sorted_ids[pos] == vals


@dataclass(frozen=True)
class _MatchSpec:
    """What defines a request's match set, resolved on the driver.

    ``terms``: the index terms scanned for ``q`` (field-scoped keys for a
    multi-field index); ``group_of``: key -> base-term group when ``mm``
    counts distinct base terms (edismax ``qf``), else None; ``mm``: the
    resolved minimum-should-match; ``fq_terms``: filter-posting terms
    every match must carry; ``match_all``: ``q`` is MatchAllDocsQuery."""

    terms: tuple
    group_of: "dict | None"
    mm: int
    fq_terms: tuple
    match_all: bool


def _match_spec(index, query, min_match, filter_queries,
                term_groups) -> _MatchSpec:
    match_all = query is None or query.strip() == "*:*"
    if match_all:
        terms, group_of, n = [], None, 0
    elif term_groups is not None:
        # multi-field (edismax qf) indexes: field-scoped keys of one base
        # term share a group; mm counts DISTINCT GROUPS
        terms, group_of = list(term_groups), dict(term_groups)
        n = len(set(term_groups.values()))
    else:
        terms, group_of = _analyze_query(query, index.chain), None
        n = len(terms)
    return _MatchSpec(
        terms=tuple(terms), group_of=group_of,
        mm=0 if match_all else parse_mm_spec(min_match, n),
        fq_terms=tuple(filter_queries or ()), match_all=match_all)


def _salt_match(sub: "pd.DataFrame", spec: _MatchSpec, sdels):
    """One salt's sorted match set: docs carrying at least ``spec.mm``
    distinct query terms (groups), ∩ every fq set, minus tombstones.
    None means every live doc (match-all without fq). Complete per salt
    by the salt-placement invariant; no scoring."""
    match = None
    if not spec.match_all:
        if spec.group_of is None:
            qset = set(spec.terms)
            parts = [_ids(rows) for t, rows in sub.groupby("term", sort=False)
                     if t in qset]
        else:
            # dedupe WITHIN each base-term group first (title+body hits
            # of one term count once)
            by_group: dict[int, list] = {}
            for t, rows in sub.groupby("term", sort=False):
                g = spec.group_of.get(t)
                if g is not None:
                    by_group.setdefault(g, []).append(_ids(rows))
            parts = [np.unique(np.concatenate(arrs))
                     for arrs in by_group.values()]
        if not parts:
            return np.empty(0, dtype=np.int64)
        uniq, counts = np.unique(np.concatenate(parts), return_counts=True)
        match = uniq[counts >= spec.mm]
    for ft in spec.fq_terms:
        if match is not None and match.size == 0:
            break
        frows = sub[sub["term"] == ft]
        inc = (np.unique(_ids(frows)) if len(frows)
               else np.empty(0, dtype=np.int64))
        # match-all: the first fq set IS the match
        match = inc if match is None else match[_member(match, inc)]
    if match is not None and sdels is not None and match.size:
        match = match[~_member(match, sdels)]
    return match


def _salt_facet_counts(sub: "pd.DataFrame", prefixes, fq_set, match,
                       sdels) -> "dict[str, int]":
    """One salt's per-value facet counts ``|value postings ∩ match|``
    over the filter postings of the ``field:`` ``prefixes`` — Lucene's
    per-segment bitset facet counting. ``match`` None counts the live
    postings (match-all)."""
    out: dict[str, int] = {}
    if not prefixes or (match is not None and match.size == 0):
        return out
    is_facet = sub["term"].str.startswith(tuple(prefixes))
    for t, rows in sub[is_facet].groupby("term", sort=False):
        if t in fq_set and match is not None:
            # its intersection with the match is the match itself
            n = int(match.size)
        elif match is not None:
            n = int(_member(np.unique(_ids(rows)), match).sum())
        elif sdels is not None:
            n = int((~_member(_ids(rows), sdels)).sum())
        else:
            n = int(_ids(rows).size)
        if n:
            out[t] = n
    return out


def _filter_scan(index, fq_terms, prefixes=()) -> "DataFrame | None":
    """The filter-posting rows a kernel pass needs: the fq terms and
    every value of the faceted fields (None when neither is asked)."""
    pred = None
    for c in ([F.col("term").startswith(p) for p in prefixes]
              + [F.col("term") == ft for ft in fq_terms]):
        pred = c if pred is None else (pred | c)
    if pred is None:
        return None
    filters_tbl = getattr(index, "filters", None)
    if filters_tbl is None:
        raise ValueError(
            "filter_queries / index-only facets need an index built with "
            "filter_cols (no 'filters' stage present)")
    return filters_tbl.filter(pred)


def _union_scan(parts) -> DataFrame:
    parts = [p for p in parts if p is not None]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


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


def _score_blocks_bmw(
    pdf: pd.DataFrame,
    idf_by_term: dict[str, float],
    k: int,
    avgdl: float,
    min_match: int = 1,
    theta0: float = -math.inf,
    group_of: dict[str, int] | None = None,
    n_groups: int = 0,
    tie: float = 0.0,
    avgdl_by_term: dict[str, float] | None = None,
    round_to: int | None = None,
    decode_cache: dict | None = None,
    exclude_ids: np.ndarray | None = None,
    bonus_sets: "list[np.ndarray] | None" = None,
    include_sets: "list[np.ndarray] | None" = None,
) -> tuple[np.ndarray, np.ndarray, int, float]:
    """Score ONE SALT's matched blocks with block-max pruning.

    All rows must share a salt: within one salt, a term's blocks cover
    disjoint ascending doc ranges (the overlap search requires it), and a
    doc's postings for every query term live in this salt, so totals are
    complete. ``theta0`` carries a lower bound on the global k-th score
    from previously scored salts (pruning stays exact: theta only ever
    UNDERSTATES the final k-th score).

    DISMAX mode (``group_of`` given): term keys are field-scoped
    (``field<sep>term``); ``group_of`` maps each key to its base query
    term. Per (doc, base term) the combine is DisjunctionMaxQuery's
    ``max + tie * (sum - max)`` over the per-field scores (boosts are
    folded into ``idf_by_term``), and the doc total sums the per-term
    dismaxes. The block-max UB machinery is UNCHANGED and stays exact:
    the additive sum over keys bounds the dismax combine whenever
    ``tie <= 1`` (dismax = (1-tie)*max + tie*sum <= sum), and a partial
    observation only understates both max and sum, so phase-1 thetas
    remain lower bounds. ``min_match`` counts distinct BASE terms.

    ``avgdl_by_term``: per-key collection average (multi-field indexes
    have per-field avgdl); keys absent fall back to the scalar.

    ``round_to``: rank by half-up-rounded scores (the oracle contract for
    tie-heavy dismax results). Pruning thresholds are slackened by one
    rounding grid step (eps = 10^-round_to): a doc can displace the raw
    k-th in ROUNDED order only if its raw score is within half a step, so
    every survivor's blocks keep UB >= theta - eps and stay decoded.
    ``theta`` is tracked on RAW scores throughout (never overstated by
    round-up).

    ``exclude_ids``: SORTED doc ids to exclude (MUST_NOT clauses, decoded
    from the excluded terms' postings of this same salt — complete by
    the salt-placement invariant). Excluded docs are dropped inside
    ``accumulate`` so they never qualify, never raise theta (theta from
    survivors only UNDERSTATES the true k-th — pruning stays exact) and
    never reach the heap; the UB machinery is untouched.

    ``bonus_sets``: SORTED doc-id arrays, one per CONSTANT_SCORE
    multi-term clause (wildcard / term range) of this salt — each doc
    present in a set gets +1.0 added to its total (Lucene's
    CONSTANT_SCORE_REWRITE contribution). Block UBs do not know about
    bonuses, so every pruning comparison is slackened by
    ``len(bonus_sets)`` (the maximum possible bonus): a block is only
    skipped when even UB + max-bonus cannot reach theta — pruning stays
    exact, it just prunes less when constant clauses are present.
    Bonus-ONLY docs (matching no scored term) never enter this kernel;
    the caller emits them separately.

    ``include_sets``: SORTED doc-id arrays, one per Solr ``fq`` filter
    clause of this salt (decoded from unscored FILTER postings — the
    filterCache-bitset intersection done per salt). A doc must be in
    EVERY set to qualify; filtered-out docs never raise theta (theta
    understates the filtered k-th — pruning stays exact) and scores are
    untouched (fq never scores, Solr's cached-filter contract).

    Returns (doc_ids, scores) of the salt's top-k among docs matching at
    least ``min_match`` distinct query terms, the number of blocks skipped
    without decoding, and the updated theta.
    """
    uniq_terms = pd.unique(pdf["term"])
    n_terms = len(uniq_terms)
    eps = 0.0 if round_to is None else 10.0 ** (-round_to)
    bonus_slack = float(len(bonus_sets)) if bonus_sets else 0.0
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
        caps = idf_by_term[t] * sub["max_wnorm"].to_numpy(dtype=np.float64)
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

    idf_arr = np.asarray([idf_by_term[t] for t in uniq_terms])
    avgdl_arr = (
        np.full(n_terms, avgdl)
        if avgdl_by_term is None
        else np.asarray(
            [avgdl_by_term.get(t, avgdl) for t in uniq_terms]
        )
    )

    ids_parts: list[np.ndarray] = []
    w_parts: list[np.ndarray] = []
    t_parts: list[int] = []  # term index of each decoded part

    def decode(bi: int) -> None:
        ti, j = ref_all[bi]
        t = uniq_terms[ti]
        d = per[t]
        # ``decode_cache`` (sparse-batch mode): raw block decodes are
        # shared across the queries of one salt — a block needed by two
        # queries is byte-decoded once; the (cheap, vectorized) weight
        # computation stays per-call because idf context can differ
        if decode_cache is not None:
            ck = (t, int(d["first"][j]))
            raw = decode_cache.get(ck)
            if raw is None:
                raw = (
                    delta_decode(d["gaps"][j]).astype(np.int64),
                    varbyte_decode(d["tfs"][j]).astype(np.float64),
                    varbyte_decode(d["dls"][j]).astype(np.float64),
                )
                decode_cache[ck] = raw
            ids, tfs, dls = raw
        else:
            ids = delta_decode(d["gaps"][j]).astype(np.int64)
            tfs = varbyte_decode(d["tfs"][j]).astype(np.float64)
            dls = varbyte_decode(d["dls"][j]).astype(np.float64)
        w = idf_arr[ti] * tfs * (K1 + 1.0) / (
            tfs + K1 * (1.0 - B + B * dls / avgdl_arr[ti])
        )
        ids_parts.append(ids)
        w_parts.append(w)
        t_parts.append(int(ti))

    def _drop_excluded(uniq, totals, counts):
        if include_sets is not None and uniq.size:
            keep = np.ones(uniq.size, dtype=bool)
            for inc in include_sets:
                if inc.size == 0:
                    keep[:] = False
                    break
                pos = np.clip(np.searchsorted(inc, uniq), 0, inc.size - 1)
                keep &= inc[pos] == uniq
            uniq, totals, counts = uniq[keep], totals[keep], counts[keep]
        if exclude_ids is None or exclude_ids.size == 0 or uniq.size == 0:
            return uniq, totals, counts
        pos = np.clip(
            np.searchsorted(exclude_ids, uniq), 0, exclude_ids.size - 1)
        keep = exclude_ids[pos] != uniq
        return uniq[keep], totals[keep], counts[keep]

    def _add_bonus(uniq, totals, counts):
        if not bonus_sets or uniq.size == 0:
            return uniq, totals, counts
        for bs in bonus_sets:
            if bs.size == 0:
                continue
            pos = np.clip(np.searchsorted(bs, uniq), 0, bs.size - 1)
            totals[bs[pos] == uniq] += 1.0
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
            return _add_bonus(*_drop_excluded(uniq, totals, counts))
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
        return _add_bonus(*_drop_excluded(uniq, totals, counts))

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
) -> DataFrame:
    """Top-k (doc_id, score[, url]) for one query over a built index.

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
    postings (a doc's postings for every term live in one salt, so
    per-salt exclusion is complete), are decoded to sorted doc-id
    arrays, and are masked out inside the kernel's accumulator — before
    theta derivation and heap entry, so block-max pruning stays exact.
    ``term_boosts``: per-clause boosts (the query parser's ``term^2``),
    folded into the per-term idf weight exactly like the dismax qf
    weights (:func:`dismax_topk`) — block caps are ``weight *
    max_wnorm``, so pruning bounds scale with the boost and stay exact.

    ``wildcard`` / ``term_range``: CONSTANT_SCORE multi-term clauses
    (``pre*`` / ``[lo TO hi]``) answered FROM THE INDEX: each clause is
    a predicate on the sorted term column (dictionary range scan —
    min/max row-group pruning applies), its matching postings ride the
    same salted scan, and its per-salt doc set becomes a +1.0 bonus
    inside the kernel (pruning slackened by the clause count — see
    ``_score_blocks_bmw`` bonus_sets). Docs matching ONLY constant
    clauses are emitted at their bonus value and max-merged with the
    kernel's rows per partition (a pruned doc's understated bonus row
    provably never displaces a correct result: its own salt already
    contributed k rows with larger totals). Unlike the logical plan,
    scores here are rounded ONCE at the end (the logical twin rounds
    the scored sum before adding the bonus); the oracle row's twin uses
    the single-round form. A query with no scored clause still requires
    ``query`` terms here (wildcard-only strings use the logical plan).
    """
    spark = index.spark
    # pre_analyzed: the caller passes whitespace-joined INDEX TERMS (e.g.
    # MoreLikeThis interesting terms read back from the index) — do not
    # push them through the analyzer again (stemming is not idempotent)
    qterms = (list(dict.fromkeys(query.split())) if pre_analyzed
              else _analyze_query(query, index.chain))
    ex_terms = (_analyze_query(exclude_query, index.chain)
                if exclude_query else [])
    ex_set = set(ex_terms)

    def empty() -> DataFrame:
        return local_frame(spark, [], "doc_id long, score double")

    if not qterms:
        return empty()
    drows = index.cached_dictionary().filter(
        F.col("term").isin(qterms)
    ).collect()
    # (few terms: a literal In is fine here; the batch path broadcast-joins)
    if not drows:
        return empty()
    boosts: dict[str, float] = {}
    if term_boosts:
        for raw, w in term_boosts.items():
            for t in _analyze_query(raw, index.chain):
                boosts[t] = float(w)
    idf_by_term = {
        r["term"]: boosts.get(r["term"], 1.0)
        * bm25_idf(index.n_docs, int(r["df"])) for r in drows
        if r["term"] not in ex_set  # a term both scored and prohibited
        # matches no doc that survives; drop it from the scoring set
    }
    if not idf_by_term:
        return empty()
    avgdl = index.avgdl
    kk = int(k)
    mm = parse_mm_spec(min_match, len(qterms))
    prefixes = ([wildcard] if isinstance(wildcard, str)
                else list(wildcard or []))
    ranges = [term_range] if term_range is not None else []
    has_mt = bool(prefixes or ranges)
    # generational index (plans/generations.py): tombstoned doc ids ride
    # the MUST_NOT exclusion path — masked before theta/heap, pruning
    # stays exact. Large delete sets never reach the driver: they ride
    # the salted scan as DEL_TERM postings (del_tbl) and each salt
    # decodes only its own ids.
    dels, del_tbl = _delete_state(index)
    fq_terms = list(filter_queries or [])
    # fq clause postings ride the same salted scan (same block schema,
    # zero caps — they never score, only gate)
    fscan = _filter_scan(index, fq_terms)
    # restrict_ids: a request-sized explicit id set (QueryElevation's
    # score fetch) — one more include-set for the kernel
    restrict = (np.unique(np.asarray(list(restrict_ids), dtype=np.int64))
                if restrict_ids is not None else None)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lst = list(batches)
        if not lst:
            return
        pdf = pd.concat(lst, ignore_index=True)
        if len(pdf) == 0:
            return
        # a hash-repartitioned task may hold several salts; score each salt
        # independently (block ranges are only disjoint within a salt, and
        # each doc's full contribution lives in exactly one salt), carrying
        # theta forward so later salts start with a tighter prune bound
        theta = -math.inf
        id_parts, score_parts = [], []
        n_skipped = 0
        for _, sub in pdf.groupby("salt", sort=False):
            sdels = _salt_dels(sub, dels)
            sub = _drop_del_rows(sub)
            if not len(sub):
                continue
            excl = None
            if ex_set:
                ex_rows = sub[sub["term"].isin(ex_set)]
                if len(ex_rows):
                    excl = np.unique(_ids(ex_rows))
            if sdels is not None:
                excl = sdels if excl is None else np.union1d(excl, sdels)
            incs = None
            if fq_terms:
                incs = []
                for ft in fq_terms:
                    frows = sub[sub["term"] == ft]
                    incs.append(np.unique(_ids(frows)) if len(frows)
                                else np.empty(0, dtype=np.int64))
            if restrict is not None:
                incs = (incs or []) + [restrict]
            bsets = None
            if has_mt:
                terms = sub["term"]
                bsets = []
                for pd_pred in (
                    [terms.str.startswith(p) for p in prefixes]
                    + [(terms >= lo) & (terms <= hi) for lo, hi in ranges]
                ):
                    rows = sub[pd_pred]
                    bsets.append(np.unique(_ids(rows)) if len(rows)
                                 else np.empty(0, dtype=np.int64))
                wall = ([b for b in bsets if b.size])
                if wall:
                    wu, wc = np.unique(np.concatenate(wall),
                                       return_counts=True)
                    if excl is not None and excl.size and wu.size:
                        pos = np.clip(np.searchsorted(excl, wu), 0,
                                      excl.size - 1)
                        keep = excl[pos] != wu
                        wu, wc = wu[keep], wc[keep]
                    if incs is not None and wu.size:
                        keep = np.ones(wu.size, dtype=bool)
                        for inc in incs:
                            if inc.size == 0:
                                keep[:] = False
                                break
                            pos = np.clip(np.searchsorted(inc, wu), 0,
                                          inc.size - 1)
                            keep &= inc[pos] == wu
                        wu, wc = wu[keep], wc[keep]
                    # docs matching only constant clauses: emitted at
                    # their bonus value, max-merged with kernel rows
                    id_parts.append(wu)
                    score_parts.append(wc.astype(np.float64))
            srows = sub[sub["term"].isin(idf_by_term)]
            if not len(srows):
                continue
            ids, scores, nsk, theta = _score_blocks_bmw(
                srows, idf_by_term, kk, avgdl, min_match=mm, theta0=theta,
                exclude_ids=excl, bonus_sets=bsets, include_sets=incs,
            )
            id_parts.append(ids)
            score_parts.append(scores)
            n_skipped += nsk
        if skip_acc is not None:
            skip_acc.add(int(n_skipped))
        if not id_parts:
            return
        all_ids = np.concatenate(id_parts)
        all_scores = np.concatenate(score_parts)
        # per-partition bounded top-k across its salts (docs are distinct
        # across salts; a doc's kernel row and bonus-only row max-merge —
        # the kernel total always dominates its own bonus row)
        uniq_ids, inv = np.unique(all_ids, return_inverse=True)
        best = np.full(uniq_ids.size, -np.inf)
        np.maximum.at(best, inv, all_scores)
        sel = _topk_exact(uniq_ids, best, kk)
        yield pd.DataFrame(
            {"doc_id": uniq_ids[sel], "score": best[sel]}
        )

    seg_pred = F.col("term").isin(list(idf_by_term) + sorted(ex_set))
    for p in prefixes:
        seg_pred = seg_pred | F.col("term").startswith(p)
    for lo, hi in ranges:
        seg_pred = seg_pred | F.col("term").between(lo, hi)
    matched = _with_del_rows(
        _union_scan([index.segments.filter(seg_pred), fscan]), del_tbl)
    candidates = _by_salt(matched, index).mapInPandas(
        score, schema="doc_id long, score double"
    )
    topk = candidates.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    if with_url and "url" in index.docs.columns:
        # indexes keyed on a non-url column have no url in the docs stage
        topk = topk.join(index.docs.select("doc_id", "url"), "doc_id", "left")
        topk = topk.orderBy(F.desc("score"), F.asc("doc_id"))
    return topk




def _dismax_terms(index, query: str, qf: dict, tie: float):
    """Base query terms and their field-scoped keys -> base-term group."""
    if not 0.0 <= float(tie) <= 1.0:
        raise ValueError("tie must be in [0, 1] (dismax UB needs it)")
    sep = getattr(index, "sep", "\x1f")
    qterms = _analyze_query(query, index.chain)
    return qterms, {f + sep + t: gi
                    for f in qf for gi, t in enumerate(qterms)}


def _dismax_weights(index, drows, qf: dict):
    """Per-key boosted idf and per-field avgdl of the dictionary rows."""
    sep = getattr(index, "sep", "\x1f")
    idf_by_term: dict[str, float] = {}
    avgdl_by_term: dict[str, float] = {}
    for r in drows:
        key = r["term"]
        fld = key.partition(sep)[0]
        n_docs_f, avgdl_f = index.field_stats[fld]
        # boost folds into the per-key weight: caps (idf*max_wnorm) then
        # bound the BOOSTED field score, keeping the UB machinery exact
        idf_by_term[key] = float(qf[fld]) * bm25_idf(n_docs_f, int(r["df"]))
        avgdl_by_term[key] = avgdl_f
    return idf_by_term, avgdl_by_term


def dismax_topk(
    index,
    query: str,
    qf: dict[str, float],
    tie: float = 0.1,
    k: int = 10,
    min_match: int | str = 1,
    round_to: int | None = None,
    with_url: bool = False,
    skip_acc=None,
    filter_queries: "Sequence[str] | None" = None,
) -> DataFrame:
    """Edismax multi-field top-k over a MULTI-FIELD physical index
    (plans/multifield.py) — the reference's actual default handler shape
    (``solrconfig.xml:64-83``: edismax ``qf`` per-field boosts + ``tie``):

        score(d) = sum over query terms t of
                     max_f(s_f) + tie * (sum_f(s_f) - max_f(s_f))
        s_f      = boost_f * BM25_f(t, d)   [per-field df, avgdl, norms]

    Execution is the SAME salted block-max mapInPandas scorer as
    :func:`wand_topk` — field-scoped term keys are just more terms to the
    block machinery; the dismax combine replaces the additive accumulate
    (see ``_score_blocks_bmw`` dismax mode), and pruning stays exact
    because the additive UB bounds the dismax total for ``tie <= 1``.

    ``qf``: {field_name: boost}. ``min_match`` counts distinct BASE query
    terms (a term matched only in the title still counts once).
    ``round_to``: rank by rounded scores (oracle tie contract) with
    eps-slackened pruning.
    """
    qterms, group_of = _dismax_terms(index, query, qf, tie)
    if not qterms:
        return local_frame(index.spark, [], "doc_id long, score double")
    keys = list(group_of)
    drows = index.cached_dictionary().filter(
        F.col("term").isin(keys)
    ).collect()
    if not drows:
        return local_frame(index.spark, [], "doc_id long, score double")
    idf_by_term, avgdl_by_term = _dismax_weights(index, drows, qf)
    kk = int(k)
    mm = parse_mm_spec(min_match, len(qterms))
    n_groups = len(qterms)
    tie_f = float(tie)
    dels, del_tbl = _delete_state(index)
    fq_terms = list(filter_queries or [])
    fq_set = set(fq_terms)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lst = list(batches)
        if not lst:
            return
        pdf = pd.concat(lst, ignore_index=True)
        if len(pdf) == 0:
            return
        theta = -math.inf
        id_parts, score_parts = [], []
        n_skipped = 0
        for _, sub in pdf.groupby("salt", sort=False):
            sdels = _salt_dels(sub, dels)
            sub = _drop_del_rows(sub)
            if not len(sub):
                continue
            incs = None
            if fq_terms:
                incs = []
                for ft in fq_terms:
                    frows = sub[sub["term"] == ft]
                    incs.append(np.unique(_ids(frows)) if len(frows)
                                else np.empty(0, dtype=np.int64))
                sub = sub[~sub["term"].isin(fq_set)]
                if not len(sub):
                    continue
            ids, scores, nsk, theta = _score_blocks_bmw(
                sub, idf_by_term, kk, 0.0, min_match=mm, theta0=theta,
                group_of=group_of, n_groups=n_groups, tie=tie_f,
                avgdl_by_term=avgdl_by_term, round_to=round_to,
                exclude_ids=sdels, include_sets=incs,
            )
            id_parts.append(ids)
            score_parts.append(scores)
            n_skipped += nsk
        if skip_acc is not None:
            skip_acc.add(int(n_skipped))
        if not id_parts:
            return
        all_ids = np.concatenate(id_parts)
        all_scores = np.concatenate(score_parts)
        sel = _topk_exact(all_ids, all_scores, kk)
        yield pd.DataFrame(
            {"doc_id": all_ids[sel], "score": all_scores[sel]}
        )

    fscan = _filter_scan(index, fq_terms)
    matched = _with_del_rows(_union_scan(
        [index.segments.filter(F.col("term").isin(keys)), fscan]), del_tbl)
    candidates = _by_salt(matched, index).mapInPandas(
        score, schema="doc_id long, score double"
    )
    topk = candidates.orderBy(F.desc("score"), F.asc("doc_id")).limit(kk)
    if with_url and "url" in index.docs.columns:
        topk = topk.join(index.docs.select("doc_id", "url"), "doc_id", "left")
        topk = topk.orderBy(F.desc("score"), F.asc("doc_id"))
    return topk


def wand_topk_batch(
    index,
    queries: Sequence[str],
    k: int = 10,
    mode: str = "auto",
    sparse_share_threshold: float = 0.25,
    skip_acc=None,
) -> DataFrame:
    """Many queries in one pass: (qid, doc_id, score, rank).

    One segment scan serves all queries (the batch query driver of
    SURVEY.md §M3): blocks matching ANY query term are repartitioned by
    salt once. Two partition-local kernels, chosen by ``mode``:

    * **dense** — each partition decodes every matched block ONCE and
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
    than one query. Below ``sparse_share_threshold`` the batch is sparse.
    The statistic costs nothing extra — the per-term dfs are already
    collected for idf.

    Global merge (both modes): per-partition bounded candidate sets
    (<= k rows per qid each) are combined by a partial-aggregatable
    groupBy — map-side combine builds per-partition lists, the reduce
    side concatenates and takes the k smallest (neg_score, doc_id)
    structs JVM-side. This is the tree-reduce top-k merge: no window, no
    per-row sort shuffle (the round-1 row_number window sorted the full
    candidate set per qid).
    """
    spark = index.spark
    per_q_terms: dict[int, List[str]] = {
        qid: _analyze_query(q, index.chain) for qid, q in enumerate(queries)
    }
    all_terms = sorted({t for ts in per_q_terms.values() for t in ts})
    if not all_terms:
        return spark.createDataFrame(
            [], "qid int, doc_id long, score double, rank int"
        )
    # broadcast-join, NOT isin: a literal In over thousands of query terms
    # generates enormous codegen (multi-second compile); a broadcast hash
    # join keeps the probe per-row and the plan small
    qterms_df = local_frame(spark, [(t,) for t in all_terms], "term string")
    drows = index.cached_dictionary().join(
        F.broadcast(qterms_df), "term"
    ).collect()
    idf_by_term = {r["term"]: bm25_idf(index.n_docs, int(r["df"])) for r in drows}
    avgdl = index.avgdl
    kk = int(k)
    qid_terms = {
        qid: [t for t in ts if t in idf_by_term]
        for qid, ts in per_q_terms.items()
    }
    dels, del_tbl = _delete_state(index)
    del_resident = del_tbl is not None  # closure-safe flag (no DataFrame)

    if mode == "auto":
        df_by_term = {r["term"]: int(r["df"]) for r in drows}
        fanin: dict[str, int] = {}
        for ts in qid_terms.values():
            for t in ts:
                fanin[t] = fanin.get(t, 0) + 1
        total_df = sum(df_by_term[t] for t in fanin) or 1
        shared_df = sum(
            df_by_term[t] for t, n in fanin.items() if n > 1
        )
        mode = (
            "sparse" if shared_df / total_df < sparse_share_threshold
            else "dense"
        )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lst = list(batches)
        if not lst:
            return
        pdf = pd.concat(lst, ignore_index=True)
        if len(pdf) == 0:
            return
        # index-resident tombstones: a doc's delete posting shares its
        # salt, so one per-salt sorted array masks every posting row
        del_by_salt: dict[int, np.ndarray] = {}
        if del_resident:
            for s, sub in pdf.groupby("salt", sort=False):
                sd = _salt_dels(sub, dels)
                if sd is not None:
                    del_by_salt[s] = sd
            pdf = _drop_del_rows(pdf)
        # decode each block once, bucket postings by term
        by_term: dict[str, list] = {}
        for row in pdf.itertuples(index=False):
            ids = delta_decode(row.doc_gaps).astype(np.int64)
            tfs = varbyte_decode(row.tfs).astype(np.float64)
            dls = varbyte_decode(row.dls).astype(np.float64)
            rdels = del_by_salt.get(row.salt) if del_resident else dels
            if rdels is not None and ids.size:
                # generational index: drop tombstoned postings at decode
                pos = np.clip(np.searchsorted(rdels, ids), 0,
                              rdels.size - 1)
                keep = rdels[pos] != ids
                if not keep.all():
                    ids, tfs, dls = ids[keep], tfs[keep], dls[keep]
                if ids.size == 0:
                    continue
            w = (
                idf_by_term[row.term] * tfs * (K1 + 1.0)
                / (tfs + K1 * (1.0 - B + B * dls / avgdl))
            )
            by_term.setdefault(row.term, []).append((ids, w))
        if not by_term:
            return
        # dense partition-local doc index, built ONCE: per-query
        # accumulation then runs as an O(n + U) bincount over positions
        # instead of an O(n log n) np.unique sort PER QUERY — in a dense
        # batch the same hot term's array would otherwise be re-sorted by
        # every query that contains it
        term_arrays = {
            t: (
                np.concatenate([x[0] for x in parts]),
                np.concatenate([x[1] for x in parts]),
            )
            for t, parts in by_term.items()
        }
        all_ids = np.unique(
            np.concatenate([ids for ids, _ in term_arrays.values()])
        )
        n_docs_p = all_ids.size
        term_pos = {
            t: (ids, np.searchsorted(all_ids, ids), ws)
            for t, (ids, ws) in term_arrays.items()
        }
        out_qid, out_ids, out_scores = [], [], []
        for qid, terms in qid_terms.items():
            terms = [t for t in terms if t in term_pos]
            if not terms:
                continue
            if len(terms) == 1:
                # a doc posts at most once per term within its salt, so a
                # single-term query needs NO aggregation at all
                ids, _, ws = term_pos[terms[0]]
                sel = _topk_exact(ids, ws, kk)
                out_qid.append(np.full(sel.size, qid, dtype=np.int32))
                out_ids.append(ids[sel])
                out_scores.append(ws[sel])
                continue
            pos = np.concatenate([term_pos[t][1] for t in terms])
            ws = np.concatenate([term_pos[t][2] for t in terms])
            totals = np.bincount(pos, weights=ws, minlength=n_docs_p)
            nz = np.flatnonzero(totals)
            sel = _topk_exact(all_ids[nz], totals[nz], kk)
            out_qid.append(np.full(sel.size, qid, dtype=np.int32))
            out_ids.append(all_ids[nz][sel])
            out_scores.append(totals[nz][sel])
        if not out_qid:
            return
        yield pd.DataFrame(
            {
                "qid": np.concatenate(out_qid),
                "doc_id": np.concatenate(out_ids),
                "score": np.concatenate(out_scores),
            }
        )

    def score_sparse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lst = list(batches)
        if not lst:
            return
        pdf = pd.concat(lst, ignore_index=True)
        if len(pdf) == 0:
            return
        thetas: dict[int, float] = {qid: -math.inf for qid in qid_terms}
        id_parts: dict[int, list] = {qid: [] for qid in qid_terms}
        sc_parts: dict[int, list] = {qid: [] for qid in qid_terms}
        n_skipped = 0
        for _, sub in pdf.groupby("salt", sort=False):
            # the decode cache lives per salt: block identity is
            # (term, first_doc), unique only within one salt's disjoint
            # ascending ranges
            sdels = _salt_dels(sub, dels)
            sub = _drop_del_rows(sub)
            if not len(sub):
                continue
            cache: dict = {}
            present = set(pd.unique(sub["term"]))
            for qid, terms in qid_terms.items():
                qt = [t for t in terms if t in present]
                if not qt:
                    continue
                qsub = sub[sub["term"].isin(qt)]
                ids, scores, nsk, thetas[qid] = _score_blocks_bmw(
                    qsub, idf_by_term, kk, avgdl,
                    theta0=thetas[qid], decode_cache=cache,
                    exclude_ids=sdels,
                )
                n_skipped += nsk
                id_parts[qid].append(ids)
                sc_parts[qid].append(scores)
        if skip_acc is not None:
            skip_acc.add(int(n_skipped))
        out_qid, out_ids, out_scores = [], [], []
        for qid in qid_terms:
            if not id_parts[qid]:
                continue
            all_ids = np.concatenate(id_parts[qid])
            all_sc = np.concatenate(sc_parts[qid])
            sel = _topk_exact(all_ids, all_sc, kk)
            out_qid.append(np.full(sel.size, qid, dtype=np.int32))
            out_ids.append(all_ids[sel])
            out_scores.append(all_sc[sel])
        if not out_qid:
            return
        yield pd.DataFrame(
            {
                "qid": np.concatenate(out_qid),
                "doc_id": np.concatenate(out_ids),
                "score": np.concatenate(out_scores),
            }
        )

    hit_df = spark.createDataFrame(
        [(t,) for t in idf_by_term], "term string"
    )
    # no persist needed: _by_salt's computed placement has no sampler, so
    # the segment scan + broadcast join execute exactly once per batch
    matched = _with_del_rows(
        index.segments.join(F.broadcast(hit_df), "term"), del_tbl)
    kernel = score_sparse if mode == "sparse" else score
    candidates = _by_salt(matched, index).mapInPandas(
        kernel, schema="qid int, doc_id long, score double"
    )
    # tree-reduce top-k merge: (neg_score, doc_id) structs sort ascending ==
    # (score desc, doc_id asc); collect_list partial-aggregates map-side,
    # array_sort + slice keep k per qid, posexplode restores rank rows
    merged = candidates.groupBy("qid").agg(
        F.slice(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (-F.col("score")).alias("ns"), F.col("doc_id")
                    )
                )
            ),
            1, kk,
        ).alias("top")
    )
    return (
        merged.select(
            "qid", F.posexplode("top").alias("pos", "entry")
        )
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
    domain are computed from. One salted scan; per salt the kernel is a
    concat + np.unique over the matched terms' id arrays (blocks of a
    term are disjoint within a salt, so distinct-term counts are exact),
    an include-set intersection for fq, and the tombstone mask.

    ``query=None`` / ``"*:*"`` is MatchAllDocsQuery: with no fq the
    match set is every live doc (metadata-only ``docs`` stage read);
    with fq the kernel intersects the fq filter postings alone — the
    reference's match-all + filter profiling request.

    ``term_groups``: optional INDEX-TERM → group mapping for multi-field
    (edismax qf) indexes: field-scoped keys of the same base query term
    share a group, and ``min_match`` counts DISTINCT GROUPS (a term
    matched only in the title still counts once — the dismax mm
    contract). When given, the keys of ``term_groups`` are used as the
    scan terms and ``query`` is not re-analyzed."""
    spec = _match_spec(index, query, min_match, filter_queries, term_groups)
    if not spec.terms and not spec.match_all:
        return local_frame(index.spark, [], "doc_id long")
    dels, del_tbl = _delete_state(index)
    fscan = _filter_scan(index, spec.fq_terms)
    if spec.match_all and fscan is None:
        # every live doc matches — the docs stage IS the bitset
        return index.docs.select("doc_id")

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lst = list(batches)
        if not lst:
            return
        pdf = pd.concat(lst, ignore_index=True)
        if len(pdf) == 0:
            return
        out = []
        for _, sub in pdf.groupby("salt", sort=False):
            sdels = _salt_dels(sub, dels)
            match = _salt_match(_drop_del_rows(sub), spec, sdels)
            if match is not None and match.size:
                out.append(match)
        if out:
            yield pd.DataFrame({"doc_id": np.concatenate(out)})

    qscan = (index.segments.filter(F.col("term").isin(list(spec.terms)))
             if spec.terms else None)
    matched = _with_del_rows(_union_scan([qscan, fscan]), del_tbl)
    return _by_salt(matched, index).mapInPandas(emit, schema="doc_id long")


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
    live_tf = (index.live_tf() if hasattr(index, "live_tf")
               else index.store.read_stage(spark, "tf"))
    rows = (
        live_tf.filter(F.col("doc_id") == int(doc_key))
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
    """FacetComponent executed entirely FROM THE INDEX: one salted kernel
    pass emits, per salt, the q∩fq match-set size AND the per-value
    facet counts — ``|facet_bitset ∩ match_bitset|`` over the unscored
    filter postings (``build_index(filter_cols=...)``), exactly Lucene's
    per-segment docvalues/bitset facet counting. No metadata table, no
    corpus text, no scoring at query time.

    Returns rows ``(facet_field, facet_value, count)`` plus one
    ``('__num_found__', NULL, n)`` row. ``query=None`` is the
    MatchAllDocsQuery battery (the reference's profiling request):
    counts are live posting sizes per value and ``__num_found__`` is the
    live doc count — still one metadata-only pass."""
    if getattr(index, "filters", None) is None:
        raise ValueError(
            "facet_match_counts needs an index built with filter_cols")
    spec = _match_spec(index, query, min_match, filter_queries, term_groups)
    prefixes = [f + ":" for f in facet_fields]
    fq_set = set(spec.fq_terms)
    dels, del_tbl = _delete_state(index)

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lst = list(batches)
        if not lst:
            return
        pdf = pd.concat(lst, ignore_index=True)
        if len(pdf) == 0:
            return
        out_t, out_c = [], []
        for _, sub in pdf.groupby("salt", sort=False):
            sdels = _salt_dels(sub, dels)
            sub = _drop_del_rows(sub)
            if not len(sub):
                continue
            match = _salt_match(sub, spec, sdels)
            if match is not None:
                out_t.append("__num_found__")
                out_c.append(int(match.size))
            for t, n in _salt_facet_counts(sub, prefixes, fq_set, match,
                                           sdels).items():
                out_t.append(t)
                out_c.append(n)
        if out_t:
            yield pd.DataFrame({"fterm": out_t, "count": out_c})

    fscan = _filter_scan(index, spec.fq_terms, prefixes)
    if fscan is None:
        fscan = index.filters.limit(0)
    qscan = (index.segments.filter(F.col("term").isin(list(spec.terms)))
             if spec.terms else None)
    matched = _with_del_rows(_union_scan([qscan, fscan]), del_tbl)
    per_salt = _by_salt(matched, index).mapInPandas(
        emit, schema="fterm string, count long")
    agg = per_salt.groupBy("fterm").agg(F.sum("count").alias("count"))
    split = F.split(F.col("fterm"), ":", 2)
    out = agg.select(
        F.when(F.col("fterm") == "__num_found__", F.lit("__num_found__"))
        .otherwise(split.getItem(0)).alias("facet_field"),
        F.when(F.col("fterm") == "__num_found__", F.lit(None))
        .otherwise(split.getItem(1)).alias("facet_value"),
        "count",
    )
    if spec.match_all and not spec.fq_terms:
        # every live doc matches; __num_found__ is the live doc count (no
        # salt emitted it — the kernel saw only facet terms)
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
    """One relevance request from ONE salted kernel pass — Solr's
    ``SolrIndexSearcher.getDocListAndSet``, where one search feeds both
    the top-k collector and the facet DocSet.

    The pass scans the query postings ∪ the fq / faceted-field filter
    postings ∪ the tombstone rows. Per salt it computes the match set
    (:func:`matching_doc_ids`' kernel), its size, the per-value facet
    counts (:func:`facet_match_counts`' kernel) and the block-max top-k
    restricted to the match set (the :func:`wand_topk` kernel, or the
    :func:`dismax_topk` one when ``qf`` is given; a doc outside the match
    never raises theta, so pruning stays exact). One ``collect()``
    returns at most ``n_parts x k`` page rows plus the counts; the
    driver merges them on (score desc, doc_id asc). Scores are the
    kernel's own: raw for ``qf=None``, ranked-and-rounded for dismax
    with ``round_to`` (the :func:`dismax_topk` contract)."""
    group_of = None
    if qf is not None:
        qterms, group_of = _dismax_terms(index, query, qf, tie)
    spec = _match_spec(index, query, min_match, filter_queries, group_of)
    if spec.match_all:
        raise ValueError("select_pass answers a relevance q; q=*:* pages "
                         "over matching_doc_ids")
    kk = int(k)
    prefixes = [f + ":" for f in facet_fields]
    fscan = _filter_scan(index, spec.fq_terms, prefixes)
    none = SelectPass(0, np.empty(0, dtype=np.int64), np.empty(0), {})
    if not spec.terms:
        return none
    drows = index.cached_dictionary().filter(
        F.col("term").isin(list(spec.terms))).collect()
    if not drows:
        # no query term is in the index: the match set is empty
        return none
    if qf is not None:
        weights, avgdl_by_term = _dismax_weights(index, drows, qf)
        kernel_kw = dict(avgdl=0.0, group_of=group_of, n_groups=len(qterms),
                         tie=float(tie), avgdl_by_term=avgdl_by_term,
                         round_to=round_to)
    else:
        weights = {r["term"]: bm25_idf(index.n_docs, int(r["df"]))
                   for r in drows}
        kernel_kw = dict(avgdl=index.avgdl)
    dels, del_tbl = _delete_state(index)
    fq_set = set(spec.fq_terms)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lst = list(batches)
        if not lst:
            return
        pdf = pd.concat(lst, ignore_index=True)
        if len(pdf) == 0:
            return
        theta = -math.inf
        id_parts, score_parts = [], []
        n_found = 0
        counts: dict[str, int] = {}
        for _, sub in pdf.groupby("salt", sort=False):
            sdels = _salt_dels(sub, dels)
            sub = _drop_del_rows(sub)
            if not len(sub):
                continue
            match = _salt_match(sub, spec, sdels)
            n_found += int(match.size)
            for t, n in _salt_facet_counts(sub, prefixes, fq_set, match,
                                           sdels).items():
                counts[t] = counts.get(t, 0) + n
            srows = sub[sub["term"].isin(weights)]
            if not (kk and match.size and len(srows)):
                continue
            ids, scores, _, theta = _score_blocks_bmw(
                srows, weights, kk, min_match=spec.mm, theta0=theta,
                include_sets=[match], **kernel_kw)
            id_parts.append(ids)
            score_parts.append(scores)
        ids = (np.concatenate(id_parts) if id_parts
               else np.empty(0, dtype=np.int64))
        scores = np.concatenate(score_parts) if score_parts else np.empty(0)
        sel = _topk_exact(ids, scores, kk)
        page = pd.DataFrame({"doc_id": ids[sel], "score": scores[sel]})
        tally = pd.DataFrame({"fterm": ["__num_found__", *counts],
                              "count": [n_found, *counts.values()]})
        out = pd.concat([page, tally], ignore_index=True)
        yield out.astype({"doc_id": "Int64", "count": "Int64"})

    qscan = index.segments.filter(F.col("term").isin(list(spec.terms)))
    matched = _with_del_rows(_union_scan([qscan, fscan]), del_tbl)
    rows = _by_salt(matched, index).mapInPandas(
        run, schema="doc_id long, score double, fterm string, count long"
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
    ids_a = np.asarray(ids, dtype=np.int64)
    scores_a = np.asarray(scores, dtype=np.float64)
    sel = _topk_exact(ids_a, scores_a, kk)
    return SelectPass(int(n_found), ids_a[sel], scores_a[sel], counts)


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
    spark = index.spark
    filters_tbl = getattr(index, "filters", None)
    if filters_tbl is None:
        raise ValueError(
            "grouped_topk_phys needs an index built with filter_cols "
            f"covering {group_field!r}")
    qterms = _analyze_query(query, index.chain)
    empty = spark.createDataFrame(
        [], f"{group_field} string, group_found long, rank long, "
            "doc_id long, score double")
    if not qterms:
        return empty
    drows = index.cached_dictionary().filter(
        F.col("term").isin(qterms)).collect()
    if not drows:
        return empty
    idf_by_term = {r["term"]: bm25_idf(index.n_docs, int(r["df"]))
                   for r in drows}
    avgdl = index.avgdl
    mm = parse_mm_spec(min_match, len(qterms))
    dels, del_tbl = _delete_state(index)
    prefix = group_field + ":"
    kpg = int(k_per_group)
    qset = set(idf_by_term)

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lst = list(batches)
        if not lst:
            return
        pdf = pd.concat(lst, ignore_index=True)
        if len(pdf) == 0:
            return
        g_out, d_out, s_out, c_out = [], [], [], []
        for _, sub in pdf.groupby("salt", sort=False):
            sdels = _salt_dels(sub, dels)
            sub = _drop_del_rows(sub)
            if not len(sub):
                continue
            id_parts, w_parts = [], []
            for t, rows in sub.groupby("term", sort=False):
                if t not in qset:
                    continue
                ids = np.concatenate(
                    [delta_decode(g).astype(np.int64)
                     for g in rows["doc_gaps"]])
                tfs = np.concatenate(
                    [varbyte_decode(b).astype(np.float64)
                     for b in rows["tfs"]])
                dls = np.concatenate(
                    [varbyte_decode(b).astype(np.float64)
                     for b in rows["dls"]])
                id_parts.append(ids)
                w_parts.append(
                    idf_by_term[t] * tfs * (K1 + 1.0)
                    / (tfs + K1 * (1.0 - B + B * dls / avgdl)))
            if not id_parts:
                continue
            all_ids = np.concatenate(id_parts)
            uniq, inv = np.unique(all_ids, return_inverse=True)
            totals = np.zeros(uniq.size)
            np.add.at(totals, inv, np.concatenate(w_parts))
            counts = np.bincount(inv, minlength=uniq.size)
            keep = counts >= mm
            uniq, totals = uniq[keep], totals[keep]
            if sdels is not None and uniq.size:
                pos = np.clip(np.searchsorted(sdels, uniq), 0,
                              sdels.size - 1)
                m = sdels[pos] != uniq
                uniq, totals = uniq[m], totals[m]
            if uniq.size == 0:
                continue
            if round_to is not None:
                scale = 10.0 ** round_to
                totals = np.floor(totals * scale + 0.5) / scale
            grows = sub[sub["term"].str.startswith(prefix)]
            for gt, rows in grows.groupby("term", sort=False):
                inc = np.concatenate(
                    [delta_decode(g).astype(np.int64)
                     for g in rows["doc_gaps"]])
                inc = np.unique(inc)
                pos = np.clip(np.searchsorted(inc, uniq), 0,
                              max(inc.size - 1, 0))
                member = (inc[pos] == uniq) if inc.size else \
                    np.zeros(uniq.size, dtype=bool)
                n_mem = int(member.sum())
                if not n_mem:
                    continue
                gval = gt.split(":", 1)[1]
                g_out.append(gval)
                d_out.append(-1)
                s_out.append(0.0)
                c_out.append(n_mem)
                gu, gtot = uniq[member], totals[member]
                sel = _topk_exact(gu, gtot, kpg)
                for i in sel:
                    g_out.append(gval)
                    d_out.append(int(gu[i]))
                    s_out.append(float(gtot[i]))
                    c_out.append(-1)
        if g_out:
            yield pd.DataFrame({"gval": g_out, "doc_id": d_out,
                                "score": s_out, "n": c_out})

    matched = index.segments.filter(
        F.col("term").isin(list(qset))
    ).unionByName(
        filters_tbl.filter(F.col("term").startswith(prefix)),
        allowMissingColumns=True)
    matched = _with_del_rows(matched, del_tbl)
    raw = _by_salt(matched, index).mapInPandas(
        emit, schema="gval string, doc_id long, score double, n long")
    raw = raw.persist()
    counts = (
        raw.filter(F.col("n") >= 0)
        .groupBy("gval").agg(F.sum("n").cast("long").alias("group_found"))
    )
    from pyspark.sql import Window

    cands = raw.filter(F.col("n") < 0)
    w = Window.partitionBy("gval").orderBy(F.desc("score"), F.asc("doc_id"))
    ranked = cands.withColumn("rank", F.row_number().over(w)) \
        .filter(F.col("rank") <= kpg)
    groups = (
        cands.groupBy("gval").agg(F.max("score").alias("_top"))
        .orderBy(F.desc("_top"), F.asc("gval")).limit(int(k_groups))
    )
    return (
        ranked.join(groups, "gval").join(counts, "gval")
        .select(F.col("gval").alias(group_field), "group_found",
                F.col("rank").cast("long").alias("rank"),
                "doc_id", "score")
    )


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
    logical :func:`..bm25.elevate_topk`."""
    spark = index.spark
    ids = [int(x) for x in elevate_ids]
    edf = spark.createDataFrame(
        [(i, p) for p, i in enumerate(ids)], "doc_id long, elev_pos int")
    es = wand_topk(index, query, k=max(len(ids), 1), with_url=False,
                   restrict_ids=ids)
    rest = wand_topk(index, query, k=int(k) + len(ids), with_url=False)
    if round_to is not None:
        es = es.select("doc_id",
                       F.round("score", int(round_to)).alias("score"))
        rest = rest.select("doc_id",
                           F.round("score", int(round_to)).alias("score"))
    elev = edf.join(es, "doc_id", "left" if force else "inner")
    rest = rest.join(F.broadcast(edf.select("doc_id")), "doc_id",
                     "left_anti").withColumn(
        "elev_pos", F.lit(None).cast("int"))
    allr = elev.select("doc_id", "score", "elev_pos").unionByName(
        rest.select("doc_id", "score", "elev_pos"))
    return (
        allr.orderBy(
            F.when(F.col("elev_pos").isNotNull(), F.lit(0))
            .otherwise(F.lit(1)),
            F.asc_nulls_last("elev_pos"),
            F.desc_nulls_last("score"),
            F.asc("doc_id"),
        )
        .limit(int(k))
        .select("doc_id", "score",
                F.col("elev_pos").isNotNull().alias("elevated"))
    )


def explain_topk_phys(
    index,
    query: str,
    k: int = 10,
    round_to: int | None = 4,
) -> DataFrame:
    """DebugComponent score explanation FROM THE PHYSICAL INDEX
    (``debug=true`` — Lucene's explain walks the index structures for
    the requested docs, never the stored text): block-max WAND picks the
    top-``k``, their ids (request-sized) ride a second restricted pass
    over the same matched postings that emits one (doc, term, tf,
    doc_len) row per matched query term, and the BM25 quantities
    (df from the dictionary, collection stats) reassemble Lucene's
    'sum of:' tree rows — ``(doc_id, score, term, tf, df, doc_len,
    term_score)``, value-identical to the logical
    :func:`..bm25.explain_topk`."""
    spark = index.spark
    qterms = _analyze_query(query, index.chain)
    empty = spark.createDataFrame(
        [], "doc_id long, score double, term string, tf long, df long, "
            "doc_len long, term_score double")
    if not qterms:
        return empty
    top = wand_topk(index, query, k=k, with_url=False)
    if round_to is not None:
        top = top.select("doc_id",
                         F.round("score", int(round_to)).alias("score"))
    ids = np.asarray(sorted(r["doc_id"] for r in top.collect()),
                     dtype=np.int64)
    if ids.size == 0:
        return empty
    qset = set(qterms)

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lst = list(batches)
        if not lst:
            return
        pdf = pd.concat(lst, ignore_index=True)
        if len(pdf) == 0:
            return
        d_out, t_out, tf_out, dl_out = [], [], [], []
        for t, rows in pdf.groupby("term", sort=False):
            if t not in qset:
                continue
            dids = np.concatenate(
                [delta_decode(g).astype(np.int64)
                 for g in rows["doc_gaps"]])
            tfs = np.concatenate(
                [varbyte_decode(b).astype(np.int64) for b in rows["tfs"]])
            dls = np.concatenate(
                [varbyte_decode(b).astype(np.int64) for b in rows["dls"]])
            pos = np.clip(np.searchsorted(ids, dids), 0, ids.size - 1)
            m = ids[pos] == dids
            if m.any():
                d_out.append(dids[m])
                t_out.extend([t] * int(m.sum()))
                tf_out.append(tfs[m])
                dl_out.append(dls[m])
        if d_out:
            yield pd.DataFrame({
                "doc_id": np.concatenate(d_out), "term": t_out,
                "tf": np.concatenate(tf_out),
                "doc_len": np.concatenate(dl_out)})

    matched = index.segments.filter(F.col("term").isin(qterms))
    rows = _by_salt(matched, index).mapInPandas(
        emit, schema="doc_id long, term string, tf long, doc_len long")
    d = index.cached_dictionary().select("term", "df")
    n_docs, avgdl = float(index.n_docs), float(index.avgdl)
    term_score = (
        F.log((F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5)
              + 1.0)
        * F.col("tf") * F.lit(K1 + 1.0)
        / (F.col("tf") + F.lit(K1)
           * (F.lit(1.0 - B) + F.lit(B) * F.col("doc_len") / F.lit(avgdl)))
    )
    out = (
        rows.join(F.broadcast(d), "term")
        .join(F.broadcast(top), "doc_id")
        .withColumn("term_score", term_score)
    )
    if round_to is not None:
        out = out.withColumn(
            "term_score", F.round("term_score", int(round_to)))
    return out.select(
        "doc_id", "score", "term",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        F.col("doc_len").cast("long").alias("doc_len"), "term_score")


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
    doc_id-sorted tf stage, each doc is labeled by its most salient
    non-query term (``tf * ln(N/df)``, df from the dictionary, ties by
    term asc). Returns ``(doc_id, label, salience)`` — value-identical
    to the logical :func:`..bm25.cluster_topk`."""
    from pyspark.sql import Window

    spark = index.spark
    qterms = set(_analyze_query(query, index.chain))
    top = wand_topk(index, query, k=k, with_url=False).select("doc_id")
    live_tf = (index.live_tf() if hasattr(index, "live_tf")
               else index.store.read_stage(spark, "tf"))
    cand = (
        live_tf.join(F.broadcast(top), "doc_id")
        .select("doc_id",
                F.explode(F.arrays_zip("terms", "tfs")).alias("z"))
        .select("doc_id", F.col("z.terms").alias("term"),
                F.col("z.tfs").alias("tf"))
        .filter(~F.col("term").isin(*sorted(qterms)))
        .join(index.cached_dictionary().select("term", "df"), "term")
        .withColumn(
            "salience",
            F.col("tf") * F.log(F.lit(float(index.n_docs)) / F.col("df")))
    )
    if round_to is not None:
        cand = cand.withColumn(
            "salience", F.round("salience", int(round_to)))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("salience"), F.asc("term"))
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", F.col("term").alias("label"), "salience")
    )
