"""Positional phrase top-k over the compressed physical index.

The physical-index form of Lucene's ``PhraseQuery`` (slop 0) — the
capability behind the reference's edismax phrase parameters
(``solrconfig.xml:68-82`` ``qs``/``ps``; Lucene stores the .pos file the
reference relies on). The scan-side twin is
:func:`..operators.bm25.phrase_match_expr`; this module answers the same
query from a ``build_index(..., positions=True)`` index without touching
raw text.

Execution shape (per the salted-partition invariant of wand.py: all of a
doc's postings share its salt, so each salt scores independently):

  1. The phrase's terms' blocks are repartitioned by salt (ONE shuffle of
     compressed blocks, no re-tokenization).
  2. Within a salt, the RAREST term's postings are decoded first; every
     other term then decodes only the blocks whose [first_doc, last_doc]
     range contains a surviving candidate — the positional analog of the
     WAND candidate-containment skip, so a stopword inside a phrase never
     decodes its full posting list.
  3. Candidates that contain every term are verified for adjacency by
     chained position-set intersection (S <- intersect(S + 1, pos(t)));
     matches are scored with BM25 over the phrase's distinct terms using
     CORPUS-wide stats (Lucene scores phrase-filtered queries with global
     idf/avgdl).
  4. Bounded per-partition top-k, then a global (score desc, doc_id asc)
     merge of <= k rows per partition.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..functions.analyzer import ANALYZERS
from ..session import local_frame
from .segments import decode_block_positions
from .varbyte import delta_decode, varbyte_decode
from .wand import (_bm25, _member, _merged_topk, _search, _Salt,
                   _topk_exact, _topk_frame, resolve_plan)


def _decode_term(
    sub: pd.DataFrame, cand: np.ndarray | None
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Decode one (term, salt)'s blocks — only those whose doc range
    contains a candidate when ``cand`` is given. Blocks are disjoint and
    doc-sorted within a (term, salt) group, so the concatenated output
    stays ascending. Returns (ids, tfs, dls, flat_pos, pos_starts)."""
    first = sub["first_doc"].to_numpy(dtype=np.int64)
    order = np.argsort(first, kind="stable")
    rows = sub.iloc[order]
    if cand is not None:
        f = rows["first_doc"].to_numpy(dtype=np.int64)
        l = rows["last_doc"].to_numpy(dtype=np.int64)
        lo = np.searchsorted(cand, f, side="left")
        hi = np.searchsorted(cand, l, side="right")
        rows = rows.iloc[np.flatnonzero(lo < hi)]
    ids_p, tf_p, dl_p, pos_p, st_p = [], [], [], [], []
    base = 0
    for row in rows.itertuples(index=False):
        ids = delta_decode(row.doc_gaps).astype(np.int64)
        tfs = varbyte_decode(row.tfs).astype(np.int64)
        dls = varbyte_decode(row.dls).astype(np.float64)
        flat, starts = decode_block_positions(row.positions, tfs)
        ids_p.append(ids)
        tf_p.append(tfs)
        dl_p.append(dls)
        pos_p.append(flat)
        st_p.append(starts + base)
        base += flat.size
    if not ids_p:
        e = np.empty(0, dtype=np.int64)
        return e, e, e.astype(np.float64), e, e
    return (
        np.concatenate(ids_p),
        np.concatenate(tf_p),
        np.concatenate(dl_p),
        np.concatenate(pos_p),
        np.concatenate(st_p),
    )


def phrase_topk(
    index,
    phrase: str,
    k: int = 10,
    with_url: bool = False,
    round_to: int | None = None,
    slop: int = 0,
) -> DataFrame:
    """Top-k (doc_id, score[, url]) of docs containing ``phrase`` as an
    exact token adjacency (``slop=0``) or an ordered sloppy match within
    a ``(m-1)+slop`` position window (``slop>0`` — the in-order subset of
    Lucene's sloppy phrase, exact for the reference's ``qs=1``), scored
    by BM25 over the phrase's distinct terms.

    ``round_to``: round scores (half-up, matching Spark/DuckDB ``round``)
    BEFORE ranking, inside the scorer — stopword-bearing phrases produce
    many docs whose scores differ only in trailing ulps, and the oracle
    contract resolves such ties by doc_id at the rounded precision; raw
    float ranking would pick a different (non-deterministic across fp
    association) set.

    Requires an index built with ``positions=True``."""
    if not getattr(index, "has_positions", False):
        raise ValueError(
            "phrase_topk needs a positional index "
            "(build_index(..., positions=True))"
        )
    # full ORDERED sequence (duplicates kept — "buffalo buffalo" must
    # require two adjacent occurrences); distinct set only for lookups
    seq_terms = list(ANALYZERS[index.chain](phrase))
    plan = resolve_plan(index, phrase)
    uniq_terms = list(plan.terms)
    if not seq_terms or len(plan.weights) < len(uniq_terms):
        # conjunction: a phrase term absent from the corpus matches nothing
        return local_frame(index.spark, [], "doc_id long, score double")
    kk = int(k)

    def collect(salts: Iterator[_Salt]) -> Iterator[pd.DataFrame]:
        id_parts, score_parts = [], []
        for s in salts:
            by_term = {
                t: sub for t, sub in s.rows.groupby("term", sort=False)
            }
            if len(by_term) < len(uniq_terms):
                continue
            # rarest-first decode order: each later term only decodes
            # blocks containing a still-alive candidate
            sizes = {
                t: int(sub["n_postings"].sum()) for t, sub in by_term.items()
            }
            decode_order = sorted(uniq_terms, key=lambda t: sizes[t])
            decoded: dict[str, tuple] = {}
            cand = None
            for t in decode_order:
                d = _decode_term(by_term[t], cand)
                decoded[t] = d
                cand = d[0] if cand is None else cand[
                    np.isin(cand, d[0], assume_unique=True)
                ]
                if cand.size == 0:
                    break
            if cand is None or cand.size == 0:
                continue
            # generational index: tombstoned docs leave the candidate set
            # before position verification
            if s.dels is not None:
                cand = cand[~_member(cand, s.dels)]
                if cand.size == 0:
                    continue
            # adjacency verification, vectorized across ALL candidates at
            # once: each candidate's positions are shifted into a private
            # range (candidate_index * stride, stride > max position +
            # window), so one global sorted array per term carries every
            # candidate's positions and the chained adjacency / ordered-
            # chain DP runs as ONE numpy pass per phrase term instead of a
            # per-candidate Python loop (the r2 100x-scale liability).
            # Cross-candidate leakage is impossible: a chain that crosses
            # a stride boundary fails the <= window check by construction.
            window = len(seq_terms) - 1 + slop
            n_cand = cand.size
            lookup = {}
            seg: dict[str, np.ndarray] = {}
            max_pos = 0
            for t, (ids, tfs, dls, flat, starts) in decoded.items():
                idx = np.searchsorted(ids, cand)
                lookup[t] = (idx, tfs, dls)
                lens = tfs[idx].astype(np.int64)
                tot = int(lens.sum())
                csum = np.concatenate(([0], np.cumsum(lens)))
                intra = (
                    np.arange(tot, dtype=np.int64)
                    - np.repeat(csum[:-1], lens)
                )
                p = flat[np.repeat(starts[idx], lens) + intra]
                if p.size:
                    max_pos = max(max_pos, int(p.max()))
                seg[t] = (np.repeat(
                    np.arange(n_cand, dtype=np.int64), lens
                ), p)
            stride = np.int64(max_pos + window + 2)

            def gpos(t: str) -> np.ndarray:
                doc_of, p = seg[t]
                # ascending: candidates ascend, positions ascend per doc
                return doc_of * stride + p

            if slop == 0:
                # exact adjacency: chained intersect(S + 1, pos(t));
                # offsets keep docs disjoint (p + 1 < stride always)
                s = gpos(seq_terms[0])
                for t in seq_terms[1:]:
                    if s.size == 0:
                        break
                    s = np.intersect1d(s + 1, gpos(t), assume_unique=True)
                matched_ci = (
                    np.unique(s // stride) if s.size
                    else np.empty(0, dtype=np.int64)
                )
            else:
                # sloppy ordered-chain DP: for each position q of the next
                # term, carry the MAXIMAL chain start among predecessors
                # p < q (global prefix-max is safe: an earlier candidate's
                # start is strictly smaller than any own-candidate start,
                # so it can win only when the candidate has no own
                # predecessor — and then q - start >= stride > window
                # fails the final check)
                cur_pos = gpos(seq_terms[0])
                cur_start = cur_pos
                for t in seq_terms[1:]:
                    if cur_pos.size == 0:
                        break
                    q = gpos(t)
                    prefmax = np.maximum.accumulate(cur_start)
                    kk_ = np.searchsorted(cur_pos, q, side="left") - 1
                    valid = kk_ >= 0
                    q = q[valid]
                    cur_start = prefmax[kk_[valid]]
                    cur_pos = q
                if cur_pos.size:
                    good = (cur_pos - cur_start) <= window
                    matched_ci = np.unique(cur_pos[good] // stride)
                else:
                    matched_ci = np.empty(0, dtype=np.int64)
            if matched_ci.size == 0:
                continue
            matched = cand[matched_ci]
            # BM25 over distinct terms, corpus-wide stats
            totals = np.zeros(matched.size)
            for t in uniq_terms:
                idx, tfs, dls = lookup[t]
                j = idx[matched_ci]
                totals += _bm25(plan.weights[t], plan.avgdl[t],
                                tfs[j].astype(np.float64), dls[j])
            if round_to is not None:
                scale = 10.0 ** round_to
                totals = np.floor(totals * scale + 0.5) / scale
            top = _topk_exact(matched, totals, kk)
            id_parts.append(matched[top])
            score_parts.append(totals[top])
        if id_parts:
            ids, scores = _merged_topk(id_parts, score_parts, kk)
            yield pd.DataFrame({"doc_id": ids, "score": scores})

    candidates = _search(index, plan, collect, "doc_id long, score double")
    return _topk_frame(index, candidates, kk, with_url)
