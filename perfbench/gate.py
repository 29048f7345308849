"""Correctness gate: engine outputs against ``oracle.OracleIndex``.

Every comparison is one check; a mismatch or an exception is one failure.
Scores are compared at the precision the engine returns them: rounded
``/select`` scores to one unit in the last place kept, raw kernel scores to
a relative 1e-9.
"""

from __future__ import annotations

import math
from collections import Counter


class Gate:
    """Counts checks and failures. ``perturb`` is added to every oracle
    score, which must make every non-empty comparison fail (the check on
    the gate itself)."""

    def __init__(self, perturb: float = 0.0):
        self.perturb = perturb
        self.checks = 0
        self.mismatches = 0
        self.failures: list[str] = []

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.checks += 1
        if not ok:
            self.mismatches += 1
            self.failures.append(f"{name}: {detail}"[:300])
        return ok


def oracle_ranked(oracle, query: str, k: int, allowed=None,
                  perturb: float = 0.0) -> list[tuple[str, float]]:
    """The oracle's top-``k`` (url, score) among ``allowed`` urls (all when
    None): exact score desc, url asc — the engine's order, since doc ids
    of one build follow url order."""
    scores = oracle.score_query(query)
    items = [(u, s + perturb) for u, s in scores.items()
             if allowed is None or u in allowed]
    items.sort(key=lambda kv: (-kv[1], kv[0]))
    return items[:k]


def page_of(ranked: list[tuple[str, float]], start: int, rows: int,
            round_to: int | None) -> list[tuple[str, float]]:
    """Rows ``start``..``start+rows`` of a top-(start+rows) list, re-ranked
    by the rounded score as ``solr_select_physical`` ranks them."""
    if round_to is not None:
        ranked = sorted(((u, round(s, round_to)) for u, s in ranked),
                        key=lambda kv: (-kv[1], kv[0]))
    return ranked[start:start + rows]


def same_ranking(got: list[tuple[str, float]], want: list[tuple[str, float]],
                 round_to: int | None = None) -> tuple[bool, str]:
    """Rank + score identity. Docs with equal scores may come in either
    order (a generation chain's doc ids do not follow url order)."""
    if len(got) != len(want):
        return False, f"{len(got)} rows, oracle {len(want)}"
    # one unit in the last kept place: the engine rounds half-up, Python's
    # round() half-even
    tol = 10.0 ** -round_to * 1.0001 if round_to is not None else None

    def close(a: float, b: float) -> bool:
        if tol is not None:
            return abs(a - b) <= tol
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)

    for i, ((gu, gs), (wu, ws)) in enumerate(zip(got, want)):
        if not close(gs, ws):
            return False, f"rank {i + 1}: score {gs!r} vs oracle {ws!r}"
        if gu != wu:
            tied_got = {u for u, s in got if close(s, gs)}
            tied_want = {u for u, s in want if close(s, ws)}
            if tied_got != tied_want:
                return False, f"rank {i + 1}: {gu} vs oracle {wu}"
    return True, ""


def oracle_facets(oracle, query: str, allowed, lang_of: dict) -> tuple:
    """(num_found, {lang: count}) over the q ∩ fq match set."""
    matched = [u for u in oracle.score_query(query)
               if allowed is None or u in allowed]
    return len(matched), dict(Counter(lang_of[u] for u in matched))


def df_table(oracle) -> dict[str, int]:
    return {t: len(p) for t, p in oracle.postings.items()}
