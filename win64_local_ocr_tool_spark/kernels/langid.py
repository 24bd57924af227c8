"""Deterministic stopword/script language identification.

Analog of the reference's charset handling (the 189-char Devanagari+ASCII
recognition charset, ``recognition/recognition.py:44``): the extracted
text's language is re-detected from its content, exercising UTF-8 /
Devanagari byte-identity.

Counts are additive across document chunks, so the mega-page skew path
can sum per-chunk counts and apply ``lang_from_counts`` once per document
with a result identical to the single-process path. They are additive
across whitespace pieces too: no token spans whitespace (whitespace is
never a letter, and U+0900-U+097F holds none), so ``lang_counts`` counts
each distinct piece of a document once, weighted by its occurrences.
"""

from __future__ import annotations

import re
from collections import Counter

# Marker stopwords per language. Matching is on _TOKEN tokens,
# lowercased for Latin scripts.
EN_MARKERS = frozenset("the and of to is in that with for on".split())
DE_MARKERS = frozenset("der die und das ist ein mit von zu nicht".split())
HI_MARKERS = frozenset("है और में की का से पर यह लिए हैं".split())
SA_MARKERS = frozenset("अस्ति इति च एव तु अपि भवति तत् किम् सः".split())

_DEVA = re.compile(r"[ऀ-ॿ]")
# Tokens = runs of letters OR Devanagari code points (incl. combining
# marks, which Python's \w excludes — they must stay inside the token
# for marker matching: 'है' is HA + vowel sign E). Each alternative
# consumes a RUN (+ inside the group): the maximal matches are
# identical, but char-at-a-time alternation is measurably slower.
# Inner quantifiers are POSSESSIVE (++): the alternatives OVERLAP
# (Devanagari letters are Unicode letters, so they match both
# branches), which makes the plain form the (A+)* catastrophic-
# backtracking shape — safe today only because nothing follows the
# outer +, but one future suffix away from exponential. Possessive
# runs never give back, so the pattern stays linear under any
# composition (same fix as htmlscan.py).
_TOKEN = re.compile(r"(?:[^\W\d_]++|[ऀ-ॿ]++)+", re.UNICODE)
_ASCII_WORD = re.compile(r"[a-z]+")

COUNT_FIELDS = ("n_en", "n_de", "n_hi", "n_sa", "n_deva", "n_tokens")


def lang_counts(text: str) -> tuple[int, int, int, int, int, int]:
    """Marker counts for ``text``: (en, de, hi, sa, devanagari-tokens, tokens).

    Exactly the counts of a walk over ``_TOKEN.findall(text)``
    (Devanagari tokens against hi/sa, the others lowercased against
    en/de). Each distinct whitespace piece is tokenized once and its
    counts weighted by its occurrences: exact, because no token spans
    whitespace (whitespace is never a letter, and U+0900-U+097F holds
    none).
    """
    if text.isascii():
        # On ASCII text str.lower() maps letters 1:1, so [a-z]+ on the
        # lowered text yields exactly the lowered _TOKEN tokens (NOT
        # true in general: 'İ'.lower() inserts a combining mark and
        # splits a token). EN/DE marker sets are disjoint, so summing
        # Counter lookups equals the if/elif walk.
        toks = _ASCII_WORD.findall(text.lower())
        c = Counter(toks)
        return (sum(c[m] for m in EN_MARKERS), sum(c[m] for m in DE_MARKERS),
                0, 0, 0, len(toks))
    n_en = n_de = n_hi = n_sa = n_deva = n_tok = 0
    # the whole-text precheck spares a Latin document with umlauts the
    # per-token Devanagari test
    has_deva = _DEVA.search(text) is not None
    deva_search, tokens = _DEVA.search, _TOKEN.findall
    for piece, k in Counter(text.split()).items():
        for tok in tokens(piece):
            n_tok += k
            if has_deva and deva_search(tok):
                n_deva += k
                if tok in HI_MARKERS:
                    n_hi += k
                elif tok in SA_MARKERS:
                    n_sa += k
            else:
                low = tok.lower()
                if low in EN_MARKERS:
                    n_en += k
                elif low in DE_MARKERS:
                    n_de += k
    return (n_en, n_de, n_hi, n_sa, n_deva, n_tok)


def lang_from_counts(counts) -> str:
    """Decide the language from (possibly chunk-summed) marker counts.

    Deterministic tie-breaks: Devanagari script wins if it covers >=30%
    of tokens; within it, 'sa' only on a strict marker majority. Latin:
    'de' only on a strict majority, else 'en'. Empty text -> 'und'.
    """
    n_en, n_de, n_hi, n_sa, n_deva, n_tok = (int(c) for c in counts)
    if n_tok == 0:
        return "und"
    if 10 * n_deva >= 3 * n_tok:
        return "sa" if n_sa > n_hi else "hi"
    return "de" if n_de > n_en else "en"


def detect_lang(text: str) -> str:
    return lang_from_counts(lang_counts(text))
