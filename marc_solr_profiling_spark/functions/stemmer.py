"""Pure-Python Porter stemmer (Porter, 1980 — public-domain algorithm).

Plays the role of the ``SnowballPorterFilterFactory language="English"``
stage of the reference's ``text`` analyzer chain
(``profiling/solr/conf/schema.xml:68``). A single deterministic pure-Python
implementation is shared by the Spark pandas-UDF analyzer, the query-time
analyzer, and the pytest oracle, so index-time and query-time tokenization
are bit-identical by construction (the reference shares its chain the same
way: index and query analyzers both read schema.xml).

Implemented from the published algorithm description, not ported from any
engine source. Deterministic: pure string ops, no locale dependence.
"""

from __future__ import annotations

_VOWELS = frozenset("aeiou")


def _is_consonant(word: str, i: int) -> bool:
    ch = word[i]
    if ch in _VOWELS:
        return False
    if ch == "y":
        return i == 0 or not _is_consonant(word, i - 1)
    return True


def _measure(stem: str) -> int:
    """Number of VC sequences ("measure" m in Porter's paper)."""
    m = 0
    prev_c = True
    started = False
    for i in range(len(stem)):
        c = _is_consonant(stem, i)
        if not c:
            started = True
        elif started and not prev_c:
            m += 1
        prev_c = c
    return m


def _contains_vowel(stem: str) -> bool:
    return any(not _is_consonant(stem, i) for i in range(len(stem)))


def _ends_double_consonant(word: str) -> bool:
    return (
        len(word) >= 2
        and word[-1] == word[-2]
        and _is_consonant(word, len(word) - 1)
    )


def _ends_cvc(word: str) -> bool:
    """consonant-vowel-consonant, last consonant not w, x, y."""
    if len(word) < 3:
        return False
    return (
        _is_consonant(word, len(word) - 3)
        and not _is_consonant(word, len(word) - 2)
        and _is_consonant(word, len(word) - 1)
        and word[-1] not in "wxy"
    )


def _replace_if(word: str, suffix: str, repl: str, min_m: int) -> str | None:
    if word.endswith(suffix):
        stem = word[: len(word) - len(suffix)]
        if _measure(stem) > min_m:
            return stem + repl
    return None


def _step1a(w: str) -> str:
    if w.endswith("sses"):
        return w[:-2]
    if w.endswith("ies"):
        return w[:-2]
    if w.endswith("ss"):
        return w
    if w.endswith("s"):
        return w[:-1]
    return w


def _step1b(w: str) -> str:
    if w.endswith("eed"):
        stem = w[:-3]
        if _measure(stem) > 0:
            return w[:-1]
        return w
    flag = False
    if w.endswith("ed") and _contains_vowel(w[:-2]):
        w, flag = w[:-2], True
    elif w.endswith("ing") and _contains_vowel(w[:-3]):
        w, flag = w[:-3], True
    if flag:
        if w.endswith(("at", "bl", "iz")):
            return w + "e"
        if _ends_double_consonant(w) and w[-1] not in "lsz":
            return w[:-1]
        if _measure(w) == 1 and _ends_cvc(w):
            return w + "e"
    return w


def _step1c(w: str) -> str:
    if w.endswith("y") and _contains_vowel(w[:-1]):
        return w[:-1] + "i"
    return w


_STEP2 = (
    ("ational", "ate"), ("tional", "tion"), ("enci", "ence"), ("anci", "ance"),
    ("izer", "ize"), ("abli", "able"), ("alli", "al"), ("entli", "ent"),
    ("eli", "e"), ("ousli", "ous"), ("ization", "ize"), ("ation", "ate"),
    ("ator", "ate"), ("alism", "al"), ("iveness", "ive"), ("fulness", "ful"),
    ("ousness", "ous"), ("aliti", "al"), ("iviti", "ive"), ("biliti", "ble"),
)

_STEP3 = (
    ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
    ("ical", "ic"), ("ful", ""), ("ness", ""),
)

_STEP4 = (
    "al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement",
    "ment", "ent", "ion", "ou", "ism", "ate", "iti", "ous", "ive", "ize",
)


# Last-character dispatch (Porter's own "switch on penultimate letter"
# idea, keyed on the final letter here): a suffix can only match a word
# sharing its last character, so scanning any other bucket is wasted
# endswith calls — the suffix scan was 74% of the analysis miss chain
# before this (a per-phase profile of the tf kernel). Bucket order
# preserves the original tuple order, so first-match semantics are
# unchanged.
def _bucket_by_last(pairs):
    out: dict = {}
    for p in pairs:
        suffix = p[0] if isinstance(p, tuple) else p
        out.setdefault(suffix[-1], []).append(p)
    return {k: tuple(v) for k, v in out.items()}


_STEP2_BY_LAST = _bucket_by_last(_STEP2)
_STEP3_BY_LAST = _bucket_by_last(_STEP3)
_STEP4_BY_LAST = _bucket_by_last(_STEP4)


def _step2(w: str) -> str:
    for suffix, repl in _STEP2_BY_LAST.get(w[-1], ()):
        out = _replace_if(w, suffix, repl, 0)
        if out is not None:
            return out
        if w.endswith(suffix):
            return w
    return w


def _step3(w: str) -> str:
    for suffix, repl in _STEP3_BY_LAST.get(w[-1], ()):
        out = _replace_if(w, suffix, repl, 0)
        if out is not None:
            return out
        if w.endswith(suffix):
            return w
    return w


def _step4(w: str) -> str:
    for suffix in _STEP4_BY_LAST.get(w[-1], ()):
        if w.endswith(suffix):
            stem = w[: len(w) - len(suffix)]
            if suffix == "ion" and (not stem or stem[-1] not in "st"):
                return w
            if _measure(stem) > 1:
                return stem
            return w
    return w


def _step5a(w: str) -> str:
    if w.endswith("e"):
        stem = w[:-1]
        m = _measure(stem)
        if m > 1 or (m == 1 and not _ends_cvc(stem)):
            return stem
    return w


def _step5b(w: str) -> str:
    if w.endswith("ll") and _measure(w) > 1:
        return w[:-1]
    return w


# Union of the last characters of every suffix any step can match ('s'
# step1a, 'd'/'g' step1b, 'y' step1c, steps 2-4 buckets, 'e' step5a,
# 'l' step5b). Every rewrite in every step fires only on an endswith()
# of one of these suffixes, so a word ending in any OTHER character
# (digits, 'x', 'z', ...) passes through all eight steps unchanged —
# the common case for a web corpus's id/code token tail.
_ANY_STEP_LAST = frozenset(
    "sdgye l".replace(" ", "")
    + "".join(_STEP2_BY_LAST) + "".join(_STEP3_BY_LAST)
    + "".join(_STEP4_BY_LAST)
)


def porter_stem(word: str) -> str:
    """Stem one lowercase token. Tokens of length <= 2 pass through
    (Porter's convention)."""
    if len(word) <= 2:
        return word
    if word[-1] not in _ANY_STEP_LAST:
        return word
    w = _step1a(word)
    w = _step1b(w)
    w = _step1c(w)
    w = _step2(w)
    w = _step3(w)
    w = _step4(w)
    w = _step5a(w)
    w = _step5b(w)
    return w
