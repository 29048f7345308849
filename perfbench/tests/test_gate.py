"""The oracle gate: identical rankings pass, a perturbed score fails."""

from marc_solr_profiling_spark.oracle import OracleIndex
from perfbench.gate import (
    Gate,
    oracle_facets,
    oracle_ranked,
    page_of,
    same_ranking,
)

DOCS = [
    ("u1", "the quick brown fox"),
    ("u2", "the lazy dog and the fox"),
    ("u3", "brown dog"),
    ("u4", "quick quick fox jumps"),
    ("u5", "unrelated words only"),
    ("u6", "brown dog"),          # ties u3
]


def _engine_like(oracle, q, k):
    """What a correct engine returns: the oracle's own ranking."""
    return oracle_ranked(oracle, q, k)


def test_identity_passes_and_perturbed_score_fails():
    oracle = OracleIndex(DOCS)
    for q in ("fox", "brown dog", "quick fox"):
        got = _engine_like(oracle, q, 10)
        gate = Gate()
        ok, _ = same_ranking(got, oracle_ranked(oracle, q, 10, None,
                                                gate.perturb))
        assert gate.check(q, ok)
        bad = Gate(perturb=1e-3)
        ok, why = same_ranking(got, oracle_ranked(oracle, q, 10, None,
                                                  bad.perturb))
        assert not bad.check(q, ok, why)
        assert bad.mismatches == 1 and "score" in bad.failures[0]


def test_perturbed_score_fails_at_select_rounding():
    oracle = OracleIndex(DOCS)
    got = page_of(_engine_like(oracle, "fox", 10), 0, 10, 4)
    want = page_of(oracle_ranked(oracle, "fox", 10, None, 1e-3), 0, 10, 4)
    assert same_ranking(got, page_of(oracle_ranked(oracle, "fox", 10), 0,
                                     10, 4), 4)[0]
    assert not same_ranking(got, want, 4)[0]


def test_wrong_doc_fails_and_tie_order_passes():
    oracle = OracleIndex(DOCS)
    want = oracle_ranked(oracle, "brown dog", 10)
    tied = [u for u, _ in want[:2]]
    assert sorted(tied) == ["u3", "u6"]
    swapped = [want[1], want[0]] + want[2:]
    assert same_ranking(swapped, want)[0]
    wrong = [("u5", want[0][1])] + want[1:]
    ok, why = same_ranking(wrong, want)
    assert not ok and "u5" in why
    assert not same_ranking(want[:-1], want)[0]


def test_page_two_and_filter():
    oracle = OracleIndex(DOCS)
    allowed = {"u2", "u4"}
    ranked = oracle_ranked(oracle, "fox", 2, allowed)
    assert {u for u, _ in ranked} == allowed
    assert page_of(oracle_ranked(oracle, "fox", 3), 2, 10, None) == \
        oracle_ranked(oracle, "fox", 3)[2:]
    lang = {u: ("en" if u != "u4" else "de") for u, _ in DOCS}
    assert oracle_facets(oracle, "fox", None, lang) == (3, {"en": 2, "de": 1})
