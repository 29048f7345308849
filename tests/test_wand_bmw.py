"""Pure-function tier for the multi-term block-max WAND scorer
(operators/wand.py:_score_blocks_bmw): rank-identity vs a brute-force
numpy BM25 over randomized corpora, exact-pruning invariants, min_match
(AND / mm) semantics, and the blocks-skipped metric.

Mirrors the reference's relevance-ranking contract (solrconfig.xml:64-83:
sort=score desc + internal-docid tie-break; q.op=AND / mm at :68,76).
"""

import math

import numpy as np
import pandas as pd
import pytest

from marc_solr_profiling_spark.operators.varbyte import (
    delta_encode, varbyte_encode,
)
from marc_solr_profiling_spark.operators.wand import (
    K1, B, Mask, QueryPlan, _range_max, _score_blocks_bmw, _sparse_table,
    _topk_exact,
)

AVGDL = 40.0


def _plan(idf_by_term, min_match=1):
    return QueryPlan(weights=idf_by_term,
                     avgdl=dict.fromkeys(idf_by_term, AVGDL), mm=min_match)


def _make_corpus(rng, n_docs=300, n_terms=6, df_fracs=None):
    """(tf matrix, doc_lens): tf[d, t] with a hot 'stopword' column."""
    tf = np.zeros((n_docs, n_terms), dtype=np.int64)
    for t in range(n_terms):
        # term 0 = stopword (df ~90%), later terms increasingly rare
        if df_fracs is not None:
            frac = df_fracs[t]
        else:
            frac = 0.9 if t == 0 else 0.4 / t
        docs = rng.choice(n_docs, size=max(int(n_docs * frac), 2),
                          replace=False)
        tf[docs, t] = rng.integers(1, 6, size=docs.size)
    dl = rng.integers(10, 80, size=n_docs).astype(np.float64)
    return tf, dl


def _blocks_df(tf, dl, idf, n_salts=2, block_size=8):
    """Build the segment-block DataFrame exactly like segments.py does:
    per (term, salt), doc-sorted, blocked, varbyte-encoded."""
    rows = []
    n_docs, n_terms = tf.shape
    salts = np.arange(n_docs) % n_salts
    for t in range(n_terms):
        for s in range(n_salts):
            docs = np.flatnonzero((tf[:, t] > 0) & (salts == s))
            for b0 in range(0, docs.size, block_size):
                blk = docs[b0:b0 + block_size]
                tfs = tf[blk, t].astype(np.float64)
                dls = dl[blk]
                wnorm = tfs * (K1 + 1) / (
                    tfs + K1 * (1 - B + B * dls / AVGDL)
                )
                rows.append({
                    "term": f"t{t}", "salt": s,
                    "first_doc": int(blk[0]), "last_doc": int(blk[-1]),
                    "doc_gaps": delta_encode(blk.astype(np.uint64)),
                    "tfs": varbyte_encode(tfs.astype(np.uint64)),
                    "dls": varbyte_encode(dls.astype(np.uint64)),
                    "max_wnorm": float(wnorm.max()),
                })
    return pd.DataFrame(rows)


def _brute_topk(tf, dl, idf, k, min_match=1):
    w = np.zeros(tf.shape, dtype=np.float64)
    for t in range(tf.shape[1]):
        tt = tf[:, t].astype(np.float64)
        w[:, t] = idf[t] * tt * (K1 + 1) / (
            tt + K1 * (1 - B + B * dl / AVGDL)
        )
        w[tf[:, t] == 0, t] = 0.0
    totals = w.sum(axis=1)
    counts = (tf > 0).sum(axis=1)
    ok = np.flatnonzero((counts >= min_match) & (totals > 0))
    sel = _topk_exact(ok, totals[ok], k)
    return ok[sel], totals[ok][sel]


def _bmw_topk(blocks, idf_by_term, k, min_match=1):
    theta = -math.inf
    ids_p, sc_p, nskip = [], [], 0
    for _, sub in blocks.groupby("salt", sort=False):
        ids, scores, nsk, theta = _score_blocks_bmw(
            sub.reset_index(drop=True), _plan(idf_by_term, min_match), k,
            theta,
        )
        ids_p.append(ids)
        sc_p.append(scores)
        nskip += nsk
    all_ids = np.concatenate(ids_p)
    all_sc = np.concatenate(sc_p)
    sel = _topk_exact(all_ids, all_sc, k)
    return all_ids[sel], all_sc[sel], nskip


@pytest.mark.parametrize("seed", [0, 1, 2, 3, 4])
@pytest.mark.parametrize("min_match", [1, 2, 3])
def test_bmw_rank_identical_to_brute_force(seed, min_match):
    rng = np.random.default_rng(seed)
    tf, dl = _make_corpus(rng)
    n_docs, n_terms = tf.shape
    df = (tf > 0).sum(axis=0)
    idf = np.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)
    idf_by_term = {f"t{t}": float(idf[t]) for t in range(n_terms)}
    blocks = _blocks_df(tf, dl, idf)

    want_ids, want_sc = _brute_topk(tf, dl, idf, 10, min_match)
    got_ids, got_sc, _ = _bmw_topk(blocks, idf_by_term, 10, min_match)
    assert got_ids.tolist() == want_ids.tolist()
    np.testing.assert_allclose(got_sc, want_sc, rtol=1e-12)


def test_bmw_skips_blocks_on_multiterm_query():
    """The round-1 gap: a multi-term query must PRUNE, not score every
    matched block — a stopword term's low-cap blocks that overlap no
    high-cap region never get decoded."""
    rng = np.random.default_rng(7)
    # web-real shape: one stopword + rare high-idf terms; the top-k is
    # driven by the rare terms, so stopword blocks overlapping no
    # rare-term region fall under theta
    tf, dl = _make_corpus(rng, n_docs=2000, n_terms=4,
                          df_fracs=[0.9, 0.05, 0.02, 0.01])
    n_docs, n_terms = tf.shape
    df = (tf > 0).sum(axis=0)
    idf = np.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)
    idf_by_term = {f"t{t}": float(idf[t]) for t in range(n_terms)}
    blocks = _blocks_df(tf, dl, idf, n_salts=2, block_size=8)

    want_ids, _ = _brute_topk(tf, dl, idf, 10)
    got_ids, _, nskip = _bmw_topk(blocks, idf_by_term, 10)
    assert got_ids.tolist() == want_ids.tolist()
    assert nskip > 0, "multi-term query decoded every block (no pruning)"
    # pruning should be substantial on this shape, not incidental
    assert nskip > len(blocks) * 0.2


def test_and_semantics_empty_when_no_doc_matches_all():
    # 2 docs, 2 terms, disjoint: AND(min_match=2) must return nothing
    tf = np.array([[3, 0], [0, 2]])
    dl = np.array([20.0, 30.0])
    idf = np.array([1.0, 1.0])
    blocks = _blocks_df(tf, dl, idf, n_salts=1, block_size=8)
    got_ids, got_sc, _ = _bmw_topk(blocks, {"t0": 1.0, "t1": 1.0}, 5,
                                   min_match=2)
    assert got_ids.size == 0


def test_sparse_table_range_max():
    rng = np.random.default_rng(3)
    vals = rng.standard_normal(37)
    st = _sparse_table(vals)
    los, his = [], []
    for lo in range(vals.size):
        for hi in range(lo + 1, vals.size + 1):
            los.append(lo)
            his.append(hi)
    got = _range_max(st, np.array(los), np.array(his))
    want = np.array([vals[lo:hi].max() for lo, hi in zip(los, his)])
    np.testing.assert_array_equal(got, want)


def test_salt_partitions_conf_override(spark):
    """Cluster-size comparisons hold the scoring layout constant via
    spark.marc.saltPartitions (tools/scaling_bench.py protocol v4)."""
    from marc_solr_profiling_spark.operators.wand import _salt_partitions

    class _Idx:
        pass

    idx = _Idx()
    idx.spark = spark
    idx.n_salts = 64
    auto = _salt_partitions(idx)
    assert 1 <= auto <= 64
    spark.conf.set("spark.marc.saltPartitions", "7")
    try:
        assert _salt_partitions(idx) == 7
    finally:
        spark.conf.unset("spark.marc.saltPartitions")
    assert _salt_partitions(idx) == auto


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_bmw_exclusion_rank_identical(seed):
    """MUST_NOT through the kernel (exclude_ids): excluded docs never
    qualify, never raise theta, never reach the heap — rank-identity vs
    brute force with the excluded docs dropped AFTER scoring (stats stay
    collection-wide). Excluding the df~90% stopword's doc set is the
    harsh case: most of the corpus is masked."""
    rng = np.random.default_rng(seed)
    tf, dl = _make_corpus(rng)
    n_docs, n_terms = tf.shape
    df = (tf > 0).sum(axis=0)
    idf = np.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)
    # score terms t1..t5; exclude every doc containing t0
    score_terms = list(range(1, n_terms))
    idf_by_term = {f"t{t}": float(idf[t]) for t in score_terms}
    blocks = _blocks_df(tf, dl, idf)
    sc_blocks = blocks[blocks["term"] != "t0"]
    excluded = np.flatnonzero(tf[:, 0] > 0).astype(np.int64)

    # brute force: score t1..t5 only, drop excluded docs post-hoc
    tf2 = tf[:, 1:]
    w = np.zeros(tf2.shape, dtype=np.float64)
    for j, t in enumerate(score_terms):
        tt = tf[:, t].astype(np.float64)
        w[:, j] = idf[t] * tt * (K1 + 1) / (
            tt + K1 * (1 - B + B * dl / AVGDL))
        w[tf[:, t] == 0, j] = 0.0
    totals = w.sum(axis=1)
    keep = np.ones(n_docs, dtype=bool)
    keep[excluded] = False
    ok = np.flatnonzero((totals > 0) & keep)
    sel = _topk_exact(ok, totals[ok], 10)
    want_ids, want_sc = ok[sel], totals[ok][sel]

    theta = -math.inf
    ids_p, sc_p = [], []
    for s, sub in sc_blocks.groupby("salt", sort=False):
        salt_excl = excluded[excluded % 2 == s]  # n_salts=2, salt = doc%2
        ids, scores, _, theta = _score_blocks_bmw(
            sub.reset_index(drop=True), _plan(idf_by_term), 10,
            theta, Mask(exclude=salt_excl),
        )
        ids_p.append(ids)
        sc_p.append(scores)
    all_ids = np.concatenate(ids_p)
    all_sc = np.concatenate(sc_p)
    gsel = _topk_exact(all_ids, all_sc, 10)
    assert all_ids[gsel].tolist() == want_ids.tolist()
    np.testing.assert_allclose(all_sc[gsel], want_sc, rtol=1e-12)


def _salt_sets(arrs, salt, n_salts=2):
    """Per-salt slices of sorted id arrays (salt = doc % n_salts)."""
    return tuple(a[a % n_salts == salt] for a in arrs)


def _kernel_topk(blocks, plan, k, mask_of):
    theta = -math.inf
    ids_p, sc_p, nskip = [], [], 0
    for s, sub in blocks.groupby("salt", sort=False):
        ids, scores, nsk, theta = _score_blocks_bmw(
            sub.reset_index(drop=True), plan, k, theta, mask_of(s))
        ids_p.append(ids)
        sc_p.append(scores)
        nskip += nsk
    all_ids = np.concatenate(ids_p)
    all_sc = np.concatenate(sc_p)
    sel = _topk_exact(all_ids, all_sc, k)
    return all_ids[sel], all_sc[sel], nskip


# blocks skipped without decoding by the kernel on the seeded inputs below;
# pinned so a change to the plan/mask plumbing cannot silently move pruning
MASK_SKIPS = {(0, 1): 1, (0, 2): 1, (1, 1): 13, (1, 2): 6, (2, 1): 3,
              (2, 2): 2}
DISMAX_SKIPS = {(0, 0.0): 6, (0, 0.3): 6, (1, 0.0): 7, (1, 0.3): 7,
                (2, 0.0): 0, (2, 0.3): 0}


@pytest.mark.parametrize("seed", [0, 1, 2])
@pytest.mark.parametrize("min_match", [1, 2])
def test_bmw_include_exclude_bonus_differential(seed, min_match):
    """Two fq include sets ∩, a MUST_NOT/tombstone exclude set and two
    CONSTANT_SCORE bonus sets in one mask: rank-identical to brute force
    (docs matching no scored term never enter the kernel; each bonus set
    a matching doc is in adds 1.0), with exact skip counts."""
    rng = np.random.default_rng(100 + seed)
    tf, dl = _make_corpus(rng, n_docs=800, n_terms=5,
                          df_fracs=[0.8, 0.2, 0.08, 0.04, 0.02])
    n_docs, n_terms = tf.shape
    df = (tf > 0).sum(axis=0)
    idf = np.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)
    idf_by_term = {f"t{t}": float(idf[t]) for t in range(n_terms)}
    blocks = _blocks_df(tf, dl, idf, n_salts=2, block_size=8)

    def subset(frac):
        return np.sort(rng.choice(n_docs, size=int(n_docs * frac),
                                  replace=False)).astype(np.int64)

    inc = (subset(0.8), subset(0.7))
    exc = subset(0.15)
    bonus = (subset(0.1), subset(0.05))

    w = np.zeros(tf.shape, dtype=np.float64)
    for t in range(n_terms):
        tt = tf[:, t].astype(np.float64)
        w[:, t] = idf[t] * tt * (K1 + 1) / (
            tt + K1 * (1 - B + B * dl / AVGDL))
        w[tf[:, t] == 0, t] = 0.0
    totals = w.sum(axis=1)
    for b in bonus:
        totals[b] += 1.0
    ok = np.ones(n_docs, dtype=bool)
    for a in inc:
        ok &= np.isin(np.arange(n_docs), a)
    ok[exc] = False
    ok &= (tf > 0).sum(axis=1) >= min_match
    cand = np.flatnonzero(ok)
    sel = _topk_exact(cand, totals[cand], 10)
    want_ids, want_sc = cand[sel], totals[cand][sel]

    got_ids, got_sc, nskip = _kernel_topk(
        blocks, _plan(idf_by_term, min_match), 10,
        lambda s: Mask(_salt_sets(inc, s), _salt_sets((exc,), s)[0],
                       _salt_sets(bonus, s)))
    assert got_ids.tolist() == want_ids.tolist()
    np.testing.assert_allclose(got_sc, want_sc, rtol=1e-12)
    assert nskip == MASK_SKIPS[(seed, min_match)]


@pytest.mark.parametrize("seed", [0, 1, 2])
@pytest.mark.parametrize("tie", [0.0, 0.3])
def test_bmw_dismax_groups_tie_round_differential(seed, tie):
    """Dismax groups (two fields x three base terms, per-field avgdl and
    boosts) with ``tie``, ``round_to`` and ``mm`` counting base terms,
    under an include ∩ exclude mask: rank-identical to a brute-force
    ``max + tie * (sum - max)`` per base term, ranked on the rounded
    total with doc_id tie-break, with exact skip counts."""
    rng = np.random.default_rng(200 + seed)
    n_docs, n_base = 600, 3
    fields = {"title": 2.0, "body": 1.0}
    tf_f, dl_f = {}, {}
    for f in fields:
        tf_f[f], dl_f[f] = _make_corpus(
            rng, n_docs=n_docs, n_terms=n_base,
            df_fracs=[0.6, 0.15, 0.05] if f == "body" else [0.3, 0.1, 0.03])
    dl_f["title"] = np.minimum(dl_f["title"] // 8 + 1, 8)
    avgdl_f = {f: float(dl_f[f].mean()) for f in fields}
    rows, weights, avgdl, group_of = [], {}, {}, {}
    for f, boost in fields.items():
        df = (tf_f[f] > 0).sum(axis=0)
        idf = np.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        for j in range(n_base):
            key = f"{f}\x1ft{j}"
            weights[key] = boost * float(idf[j])
            avgdl[key] = avgdl_f[f]
            group_of[key] = j
            for s in range(2):
                docs = np.flatnonzero((tf_f[f][:, j] > 0)
                                      & (np.arange(n_docs) % 2 == s))
                for b0 in range(0, docs.size, 8):
                    blk = docs[b0:b0 + 8]
                    tfs = tf_f[f][blk, j].astype(np.float64)
                    dls = dl_f[f][blk]
                    wnorm = tfs * (K1 + 1) / (
                        tfs + K1 * (1 - B + B * dls / avgdl_f[f]))
                    rows.append({
                        "term": key, "salt": s,
                        "first_doc": int(blk[0]), "last_doc": int(blk[-1]),
                        "doc_gaps": delta_encode(blk.astype(np.uint64)),
                        "tfs": varbyte_encode(tfs.astype(np.uint64)),
                        "dls": varbyte_encode(dls.astype(np.uint64)),
                        "max_wnorm": float(wnorm.max()),
                    })
    blocks = pd.DataFrame(rows)
    plan = QueryPlan(weights=weights, avgdl=avgdl, group_of=group_of,
                     n_groups=n_base, mm=2, tie=tie, round_to=4)
    inc = np.sort(rng.choice(n_docs, size=int(n_docs * 0.75),
                             replace=False)).astype(np.int64)
    exc = np.sort(rng.choice(n_docs, size=n_docs // 10,
                             replace=False)).astype(np.int64)

    total = np.zeros(n_docs)
    n_match = np.zeros(n_docs, dtype=np.int64)
    for j in range(n_base):
        s_f = np.zeros((n_docs, len(fields)))
        hit = np.zeros((n_docs, len(fields)), dtype=bool)
        for fi, f in enumerate(fields):
            tt = tf_f[f][:, j].astype(np.float64)
            s_f[:, fi] = weights[f"{f}\x1ft{j}"] * tt * (K1 + 1) / (
                tt + K1 * (1 - B + B * dl_f[f] / avgdl_f[f]))
            hit[:, fi] = tf_f[f][:, j] > 0
        s_f[~hit] = 0.0
        mx = s_f.max(axis=1)
        total += np.where(hit.any(axis=1),
                          mx + tie * (s_f.sum(axis=1) - mx), 0.0)
        n_match += hit.any(axis=1)
    ok = (n_match >= 2) & np.isin(np.arange(n_docs), inc)
    ok[exc] = False
    cand = np.flatnonzero(ok)
    ranked = np.floor(total[cand] * 1e4 + 0.5) / 1e4
    sel = _topk_exact(cand, ranked, 10)
    want_ids, want_sc = cand[sel], ranked[sel]

    got_ids, got_sc, nskip = _kernel_topk(
        blocks, plan, 10,
        lambda s: Mask(_salt_sets((inc,), s), _salt_sets((exc,), s)[0]))
    assert got_ids.tolist() == want_ids.tolist()
    np.testing.assert_allclose(got_sc, want_sc, atol=1e-12)
    assert nskip == DISMAX_SKIPS[(seed, tie)]
