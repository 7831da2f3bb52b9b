"""Property-based tests (hypothesis) for the pure kernels every
layer shares: the edit-distance kernels, the analyzer, and the
sampling thresholds. These are the invariants the rank-identity
machinery stands on."""

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from addok_spark.functions.text import (
    analyze_str,
    compare_str,
    edge_ngrams_str,
    fold_str,
    levenshtein,
    levenshtein_batch,
    make_fuzzy_str,
)
from addok_spark.pipelines.sampling import rate_threshold

TEXT = st.text(
    alphabet=st.characters(codec="utf-8", exclude_categories=["Cs"]),
    max_size=40,
)
WORD = st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789", min_size=1,
               max_size=16)


# -- edit distance ----------------------------------------------------------

def _ref_lev(a, b):
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@given(TEXT, TEXT)
@settings(max_examples=300, deadline=None)
def test_levenshtein_exact_and_symmetric(a, b):
    d = levenshtein(a, b)
    assert d == _ref_lev(a, b)
    assert d == levenshtein(b, a)
    assert (d == 0) == (a == b)
    assert abs(len(a) - len(b)) <= d <= max(len(a), len(b))


@given(TEXT, st.lists(TEXT, max_size=8))
@settings(max_examples=150, deadline=None)
def test_levenshtein_batch_equals_single(a, labels):
    assert levenshtein_batch(a, labels) == [levenshtein(a, b) for b in labels]


# lone surrogates (which TEXT leaves out: category Cs), astral-plane
# characters and a few plain ones: code points ``ord`` accepts that a
# UTF-8 round trip would not
ODD = st.text(
    alphabet=st.sampled_from(
        ["\ud800", "\udbff", "\udc00", "\udfff", "\U0001f600",
         "\U00010000", "\U0010ffff", "a", "b", "é"]
    ),
    max_size=12,
)


@given(ODD, st.lists(ODD, max_size=6))
@settings(max_examples=150, deadline=None)
def test_levenshtein_batch_odd_codepoints(a, labels):
    assert levenshtein_batch(a, labels) == [levenshtein(a, b) for b in labels]
    assert levenshtein_batch(a, labels) == [_ref_lev(a, b) for b in labels]


def test_levenshtein_batch_surrogate_pairs_stay_apart():
    """A lone high and a lone low surrogate side by side are two code
    points, not one astral character."""
    pair = "\ud83d\ude00"
    assert len(pair) == 2
    assert levenshtein_batch(pair, ["\U0001f600", pair, "\ud83d"]) == [2, 0, 1]


@given(TEXT, TEXT, TEXT)
@settings(max_examples=150, deadline=None)
def test_levenshtein_triangle(a, b, c):
    assert levenshtein(a, c) <= levenshtein(a, b) + levenshtein(b, c)


# -- analyzer ---------------------------------------------------------------

@given(TEXT)
@settings(max_examples=200, deadline=None)
def test_fold_eventually_idempotent(s):
    """fold lowercases BEFORE transliterating (the reference's
    ``unidecode(s.lower())`` order, helpers/text.py:106), so a
    compatibility symbol like 🄐 folds to '(A)' once and '(a)' on the
    second pass — both sides share the behavior, and from the second
    application on the output is a fixpoint."""
    twice = fold_str(fold_str(s))
    assert fold_str(twice) == twice
    # plain ascii-ish inputs fold in one pass
    if s.isascii():
        assert fold_str(s) == twice


@given(TEXT)
@settings(max_examples=200, deadline=None)
def test_tokens_are_normalized(s):
    for t in analyze_str(s, None):
        assert re.fullmatch(r"[a-z0-9_]+", t), t


@given(TEXT, TEXT)
@settings(max_examples=200, deadline=None)
def test_compare_str_bounded(a, b):
    v = compare_str(a, b)
    assert 0.0 <= v <= 1.0
    if a:
        assert compare_str(a, a) == 1.0


@given(WORD)
@settings(max_examples=200, deadline=None)
def test_fuzzy_neighbors_within_two_edits(w):
    nbrs = make_fuzzy_str(w, None)
    assert len(nbrs) == len(set(nbrs))
    # NB the original itself CAN appear (reference fuzzy.py:17-21
    # appends the inversion of equal adjacent chars verbatim)
    if not any(a == b for a, b in zip(w, w[1:])):
        assert w not in nbrs
    for n in nbrs:
        assert levenshtein(w, n) <= 2  # transposition = 2 plain edits


@given(WORD)
@settings(max_examples=100, deadline=None)
def test_edge_ngrams_are_prefixes(w):
    for p in edge_ngrams_str(w, 3, 20):
        assert w.startswith(p)
        assert len(p) < len(w) or len(w) > 20


# -- sampling thresholds ----------------------------------------------------

@given(st.floats(min_value=0.0, max_value=1.0), st.floats(min_value=0.0, max_value=1.0))
@settings(max_examples=200, deadline=None)
def test_rate_threshold_monotone(r1, r2):
    lo, hi = sorted((r1, r2))
    assert rate_threshold(lo) <= rate_threshold(hi)
