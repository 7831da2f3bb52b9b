"""Text analysis chain — vectorized (Arrow/pandas) implementations.

Re-expresses the reference string-processing pipeline
(``/root/reference/addok/helpers/text.py``, PROCESSORS in
``addok/config/default.py:51-56``) as pandas-batch functions wrapped
in ``pandas_udf``s, per the input-hint mandate of *no per-row Python
in the hot path*:

- fold      ≙ normalize+ascii (text.py:105-109,136-154: lower +
              diacritic folding); implemented with NFKD + a small
              compatibility map (unidecode is not available — the
              semantics covered by the reference tests are).
- tokenize  ≙ _tokenize (text.py:15,94-102: ``[\\w]+`` word split,
              position = index in token list).
- synonymize≙ text.py:112-133 (token → 1..n replacement tokens).
- edge_ngrams ≙ compute_edge_ngrams (text.py:213-218).
- trigrams  ≙ ngrams(text, n=3) padded (text.py:157-162).
- make_fuzzy ≙ fuzzy.py:13-56 edit-distance-1 neighborhood.
- compare_ngrams / compare_str ≙ text.py:165-188 scoring helpers.

Every function exists in two forms: a plain pandas/python form
(reused verbatim by the pure-Python oracle so index-time, query-time
and oracle normalization are ONE implementation — the lesson of
``addok/helpers/index.py:209-223``), plus a Spark ``pandas_udf``.
"""

from __future__ import annotations

import re
import unicodedata
from functools import lru_cache
from typing import Iterable

import numpy as np
import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# folding (normalize + ascii)
# ---------------------------------------------------------------------------

# NFKD decomposition drops most diacritics; these ligatures/letters
# don't decompose and need an explicit compatibility map (the subset
# of unidecode the reference tests exercise: "Erispœ" → "erispoe").
_CHAR_MAP = str.maketrans(
    {
        "œ": "oe", "æ": "ae", "ø": "o", "ß": "ss", "đ": "d", "ð": "d",
        "þ": "th", "ł": "l", "ı": "i", "ĸ": "k", "ŋ": "ng", "ſ": "s",
        "Œ": "oe", "Æ": "ae", "Ø": "o", "Đ": "d", "Þ": "th", "Ł": "l",
    }
)
_COMBINING_RE = re.compile("[\\u0300-\\u036f\\u0483-\\u0489\\u0591-\\u05bd]")
# Post-fold equivalent of the reference's ``[\w]+`` word pattern
# (text.py:15): underscores are token characters, so ``foo_bar`` is
# ONE token — matters for transcripts full of snake_case identifiers.
_TOKEN_RE = re.compile(r"[a-z0-9_]+")
_NON_WORD_RE = re.compile(r"[^\w]+")


def fold_str(s: str) -> str:
    """lower + diacritic fold of one string (oracle / test path)."""
    if s is None:
        return ""
    s = s.lower().translate(_CHAR_MAP)
    s = unicodedata.normalize("NFKD", s)
    return _COMBINING_RE.sub("", s)


def fold_series(s: pd.Series) -> pd.Series:
    """Vectorized fold over a pandas string Series."""
    out = s.fillna("").str.lower().str.translate(_CHAR_MAP)
    out = out.str.normalize("NFKD")
    return out.str.replace(_COMBINING_RE, "", regex=True)


def tokenize_str(s: str) -> list[str]:
    """fold + ``[a-z0-9_]+`` split (oracle / test path)."""
    return _TOKEN_RE.findall(fold_str(s))


def tokenize_series(s: pd.Series) -> pd.Series:
    return fold_series(s).str.findall(_TOKEN_RE)


# ---------------------------------------------------------------------------
# synonyms (reference text.py:112-133; file format `a, b => c`)
# ---------------------------------------------------------------------------

def load_synonyms(lines: Iterable[str]) -> dict[str, str]:
    """Parse the reference synonym file format (``a, b => c``, ``#``
    comments; `/root/reference/tests/synonyms.txt`). Keys/values are
    folded so the mapping composes with the analyzer."""
    out: dict[str, str] = {}
    for line in lines:
        line = line.split("#", 1)[0].strip()
        if not line or "=>" not in line:
            continue
        left, right = line.split("=>", 1)
        target = " ".join(tokenize_str(right))
        for src in left.split(","):
            key = " ".join(tokenize_str(src))
            if key:
                out[key] = target
    return out


def synonymize_tokens(tokens: list[str], synonyms: dict[str, str]) -> list[str]:
    """Replace each token by its (possibly multi-word) synonym."""
    if not synonyms:
        return tokens
    out: list[str] = []
    for tok in tokens:
        repl = synonyms.get(tok)
        out.extend(repl.split(" ") if repl else [tok])
    return out


def import_by_path(path):
    """Resolve ``path.to.module.func`` to the object (pass-through
    for non-strings) — the reference's plugin loader
    (``addok/helpers/__init__.py:50-61``), so custom processors can
    be configured as dotted strings that also pickle cleanly into
    executor-side UDF closures."""
    if not isinstance(path, str):
        return path
    from importlib import import_module

    module_path, *name = path.rsplit(".", 1)
    func = import_module(module_path)
    if name:
        func = getattr(func, name[0])
    return func


@lru_cache(maxsize=64)
def _resolve_cached(procs: tuple) -> tuple:
    return tuple(import_by_path(p) for p in procs)


def resolve_processors(processors) -> tuple:
    """Dotted-path-or-callable sequence → callable tuple (memoized:
    the config property is read on hot per-query paths)."""
    if not processors:
        return ()
    return _resolve_cached(tuple(processors))


def apply_processors(tokens: list[str], processors) -> list[str]:
    """Run the configured token-processor chain (each processor:
    ``list[str] -> iterable[str]`` — ≙ the reference PROCESSORS
    pipeline, ``helpers/__init__.py:40-47``)."""
    for p in processors or ():
        tokens = list(p(tokens))
    return tokens


def analyze_str(
    s: str,
    synonyms: dict[str, str] | None = None,
    processors=None,
) -> list[str]:
    """The full analyzer: fold → tokenize → synonymize → custom
    processor chain. The SAME function runs at index time, query time
    and inside the oracle — B9's one-analyzer invariant is what makes
    a configured processor safe: it cannot apply on only one side."""
    toks = synonymize_tokens(tokenize_str(s), synonyms or {})
    return apply_processors(toks, processors)


def analyze_series(
    s: pd.Series,
    synonyms: dict[str, str] | None = None,
    processors=None,
) -> pd.Series:
    toks = tokenize_series(s)
    if synonyms:
        toks = toks.map(lambda ts: synonymize_tokens(ts, synonyms))
    if processors:
        toks = toks.map(lambda ts: apply_processors(list(ts), processors))
    return toks


# ---------------------------------------------------------------------------
# n-grams
# ---------------------------------------------------------------------------

def edge_ngrams_str(token: str, lo: int = 3, hi: int = 20) -> list[str]:
    """Prefixes of length lo..min(len-1, hi), excluding the token
    itself (reference text.py:213-218, MIN=3/MAX=20)."""
    return [token[:i] for i in range(lo, min(len(token), hi + 1))]


def char_ngrams_str(token: str, n: int = 3) -> list[str]:
    """Space-padded char n-grams; ``ngrams('lille',3)`` →
    ``[' li','lil','ill','lle','le ']`` (text.py:157-162)."""
    padded = f" {token} "
    return [padded[i : i + n] for i in range(len(padded) - n + 1)]


# ---------------------------------------------------------------------------
# fuzzy neighborhood (reference fuzzy.py:13-56)
# ---------------------------------------------------------------------------

_ALPHABET = "abcdefghijklmnopqrstuvwxyz"

# Surrounding letters on a standard keyboard (default french AZERTY)
# — same contents as the reference FUZZY_KEY_MAP
# (addok/config/default.py:172-200). The generation ORDER of the
# candidate list matters: the engine caps fuzzy candidates, so order
# decides which survive (addok/fuzzy.py:100 `neighbors.index` sort).
FUZZY_KEY_MAP: dict[str, str] = {
    "a": "ezqop", "z": "aqse", "e": "azsdryu", "r": "edft", "t": "rfgy",
    "y": "teghu", "u": "yehji", "i": "ujko", "o": "iaklp", "p": "oalm",
    "q": "azsw", "s": "qzedxw", "d": "serfcx", "f": "drtgvc",
    "g": "ftyhbv", "h": "gyujnb", "j": "huikn", "k": "jil", "l": "kom",
    "m": "lpu", "w": "qsx", "x": "wsdc", "c": "xdfvio", "v": "cfgb",
    "b": "vghn", "n": "bhj",
}


def make_fuzzy_str(word: str, keyboard: dict[str, str] | None = None) -> list[str]:
    """Edit-distance-1 neighborhood, emission order and dedup EXACTLY
    matching the reference (``addok/fuzzy.py:13-56``):

    1. adjacent transpositions (per position);
    2. substitutions — keyboard-map-limited per position when a map
       is given (default.py:172-200), else per-LETTER then
       per-position over the full alphabet;
    3. insertions, per-letter then per-position;
    4. deletions, only for words longer than 3 chars;
    then order-preserving dedup (``dict.fromkeys``). The original word
    is NOT special-cased (matching the reference: a transposition of
    equal adjacent letters may re-emit it)."""
    neighbors: list[str] = []
    for i in range(len(word) - 1):  # adjacent transpositions
        neighbors.append(word[:i] + word[i + 1] + word[i] + word[i + 2 :])
    if keyboard is not None:  # keyboard-limited substitutions
        for i, ch in enumerate(word):
            for c in keyboard.get(ch, ""):
                if c != ch:
                    neighbors.append(word[:i] + c + word[i + 1 :])
    else:  # plain substitutions: per-letter OUTER, per-position inner
        for c in _ALPHABET:
            for i, ch in enumerate(word):
                if c != ch:
                    neighbors.append(word[:i] + c + word[i + 1 :])
    for c in _ALPHABET:  # insertions: per-letter outer
        for i in range(len(word) + 1):
            neighbors.append(word[:i] + c + word[i:])
    if len(word) > 3:  # deletions
        for i in range(len(word)):
            neighbors.append(word[:i] + word[i + 1 :])
    return list(dict.fromkeys(neighbors))


# ---------------------------------------------------------------------------
# string similarity (reference text.py:165-188)
# ---------------------------------------------------------------------------

def levenshtein(a: str, b: str) -> int:
    if a == b:
        return 0
    la, lb = len(a), len(b)
    if not la:
        return lb
    if not lb:
        return la
    if la * lb <= 256:
        # small operands: plain DP beats numpy call overhead
        prev = list(range(lb + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]
    # vectorized row DP: substitution/deletion are elementwise; the
    # insertion recurrence cur[j] = min(c[j], cur[j-1]+1) is a
    # min-plus prefix scan, solved exactly as
    # cur[j] = j + min_{k<=j}(c[k]-k) via minimum.accumulate
    import numpy as np

    bv = np.fromiter((ord(c) for c in b), dtype=np.int64, count=lb)
    idx = np.arange(lb + 1, dtype=np.int64)
    prev = idx.copy()
    c = np.empty(lb + 1, dtype=np.int64)
    for i, ca in enumerate(a, 1):
        c[0] = i
        np.minimum(prev[:-1] + (bv != ord(ca)), prev[1:] + 1, out=c[1:])
        np.subtract(c, idx, out=c)
        np.minimum.accumulate(c, out=c)
        np.add(c, idx, out=c)
        prev, c = c, prev
    return int(prev[-1])


def _codepoints(s: str):
    """Code points of ``s`` as uint32, lone surrogates included (the
    values ``ord`` gives)."""
    return np.frombuffer(s.encode("utf-32-le", "surrogatepass"), np.uint32)


def levenshtein_batch(a: str, labels: list[str]) -> list[int]:
    """Edit distance of ONE query against MANY labels in a single
    vectorized DP over a padded (n_labels × max_len) matrix — exact
    same integers as ``levenshtein`` (tested). Padding beyond a
    label's length is harmless: DP column j depends only on columns
    ≤ j, and each label's answer is read at its own length column.

    The rows run in D-space, ``D[j] = cur[j] - j``: the row recurrence
    ``cur[j] = min(prev[j-1] + neq, prev[j] + 1, cur[j-1] + 1)``
    becomes ``D[j] = min(Dp[j-1] + neq - 1, Dp[j] + 1, D[j-1])``, so a
    row is one elementwise minimum and one ``minimum.accumulate``. The
    ``neq - 1`` masks of the query's distinct characters are built
    once per call."""
    if not labels:
        return []
    la = len(a)
    lens = np.array([len(b) for b in labels], dtype=np.int64)
    L = int(lens.max())
    if la == 0:
        return lens.tolist()
    if L == 0:
        return [la] * len(labels)
    n = len(labels)
    # label code points scattered into rows, padded with a value no
    # code point has
    B = np.full((n, L), 0xFFFFFFFF, dtype=np.uint32)
    rows = np.repeat(np.arange(n), lens)
    starts = np.cumsum(lens) - lens
    B[rows, np.arange(len(rows)) - np.repeat(starts, lens)] = _codepoints(
        "".join(labels)
    )
    chars, of = np.unique(_codepoints(a), return_inverse=True)
    neq = []
    for ch in chars.tolist():
        m = (B != ch).view(np.int8)
        m -= 1
        neq.append(m)
    D = np.zeros((n, L + 1), dtype=np.int32)
    c = np.empty_like(D)
    tmp = np.empty((n, L), dtype=np.int32)
    for i, ci in enumerate(of.tolist(), 1):
        np.add(D[:, :-1], neq[ci], out=c[:, 1:])
        np.add(D[:, 1:], 1, out=tmp)
        np.minimum(c[:, 1:], tmp, out=c[:, 1:])
        c[:, 0] = i
        np.minimum.accumulate(c, axis=1, out=c)
        D, c = c, D
    return (D[np.arange(n), lens] + lens).tolist()


def compare_ngrams(a: str, b: str, n: int = 2) -> float:
    """Bigram MULTISET similarity |∩| / |∪| with multiplicity, no
    padding — NGram.compare(N=2, pad_len=0) semantics as called at
    reference text.py:165-172. Validated against the exact tie values
    the reference documents (tests/test_search.py:607-613: both
    saint-mandé labels score 0.7878787878787878 against the
    three-word query). 1-char operands degrade to exact-match."""
    if len(a) == 1 and len(b) == 1:
        return 1.0 if a == b else 0.0
    from collections import Counter

    ca = Counter(a[i : i + n] for i in range(len(a) - n + 1))
    cb = Counter(b[i : i + n] for i in range(len(b) - n + 1))
    na, nb = sum(ca.values()), sum(cb.values())
    if not na or not nb:
        return 0.0
    inter = sum((ca & cb).values())
    return inter / (na + nb - inter)


def compare_str(query: str, label: str) -> float:
    """Weighted trigram recall/precision + normalized edit distance
    (reference text.py:175-188, called as ``compare_str(label,
    query)`` at results.py:80 — so 0.85 weighs coverage of the QUERY
    trigrams). The edit term subtracts the length difference first
    (the reference's "editdistance limited to common text portion"),
    so prefix/autocomplete-style length gaps aren't penalized."""
    qa, la = set(char_ngrams_str(query, 3)), set(char_ngrams_str(label, 3))
    inter = len(qa & la)
    recall = inter / len(qa) if qa else 0.0
    precision = inter / len(la) if la else 0.0
    m = max(len(query), len(label))
    dist = (
        (levenshtein(query, label) - abs(len(query) - len(label))) / m
        if m
        else 0.0
    )
    return 0.85 * recall + 0.05 * precision + 0.1 * (1.0 - dist)


# ---------------------------------------------------------------------------
# Spark pandas_udf wrappers (Arrow-vectorized)
# ---------------------------------------------------------------------------

tokenize_udf = F.pandas_udf(tokenize_series, T.ArrayType(T.StringType()))


def make_analyze_udf(
    synonyms: dict[str, str] | None = None, processors=None
):
    """Analyzer UDF factory; the synonym dict and resolved processor
    chain ride in the closure (broadcast by Spark with the serialized
    UDF — configure processors as dotted paths so they pickle by
    reference)."""
    syn = dict(synonyms or {})
    procs = resolve_processors(processors)

    def _an(s: pd.Series) -> pd.Series:
        return analyze_series(s, syn, procs)

    return F.pandas_udf(_an, T.ArrayType(T.StringType()))


def make_fuzzy_udf():
    def _fz(s: pd.Series) -> pd.Series:
        return s.map(lambda w: make_fuzzy_str(w) if isinstance(w, str) else [])

    return F.pandas_udf(_fz, T.ArrayType(T.StringType()))


def ref_string_score(query: str, label: str, autocomplete: bool) -> float:
    """The reference's string sub-score (inputs pre-folded):

    - autocomplete (score_by_autocomplete_distance, results.py:60-77):
      equals → 1.0, label startswith query → 0.9, query contained →
      0.7, else bigram similarity × 0.9;
    - otherwise (score_by_ngram_distance, results.py:91-104): bigram
      similarity. ``compare_ngrams`` stands in for the ngram
      package's NGram.compare (set-overlap bigram similarity; exact
      third-party tie values may differ at the margin)."""
    if autocomplete:
        if query == label:
            return 1.0
        if label.startswith(query):
            return 0.9
        if query in label:
            return 0.7
        return compare_ngrams(label, query) * 0.9
    return compare_ngrams(label, query)


def ref_fold_score(importance: float, str_score: float, iw: float = 0.1) -> float:
    """The reference's score fold (core.py:92-101): Σ sub-scores /
    Σ ceilings over {importance (ceiling iw), str_distance (ceiling
    1.0)} — the one place the division happens."""
    return (importance * iw + str_score) / (iw + 1.0)


def str_distance_key(query: str, label: str) -> float:
    """The deterministic str_distance tie-break key: compare_str
    rounded to 9 digits with Python round (banker's/HALF_EVEN); the
    batched ``str_distance_keys`` the search flow uses is bit-equal
    to it."""
    return round(compare_str(query, label), 9)


def str_distance_keys(query: str, labels: list[str]) -> list[float]:
    """Batched ``str_distance_key`` for one query against many
    labels: same expression tree and rounding per label (the edit
    distances come from the batched DP), so the values are bit-equal
    to the per-pair call — the candidate-scoring hot path uses this."""
    qa = set(char_ngrams_str(query, 3))
    lev = levenshtein_batch(query, labels)
    out = []
    for label, d in zip(labels, lev):
        la = set(char_ngrams_str(label, 3))
        inter = len(qa & la)
        recall = inter / len(qa) if qa else 0.0
        precision = inter / len(la) if la else 0.0
        m = max(len(query), len(label))
        dist = (
            (d - abs(len(query) - len(label))) / m
            if m
            else 0.0
        )
        out.append(
            round(0.85 * recall + 0.05 * precision + 0.1 * (1.0 - dist), 9)
        )
    return out


def ref_string_score_best(
    query: str, labels: list[str], autocomplete: bool
) -> float:
    """Best-of-labels string sub-score (≙ reference results.py:80-104
    iterating ``self.labels`` — a list-valued name scores by its BEST
    variant). Inputs pre-folded; empty label list scores like one
    empty label (singleton lists are bit-equal to the plain call)."""
    if not labels:
        return ref_string_score(query, "", autocomplete)
    return max(ref_string_score(query, l, autocomplete) for l in labels)


def str_distance_keys_multi(
    query: str, label_lists: list[list[str]]
) -> list[float]:
    """Batched best-of-labels ``str_distance_key``: ONE DP over all
    labels of all candidates, then max per candidate — bit-equal to
    per-label calls (and to ``str_distance_keys`` when every list is
    a singleton). Empty lists compare against ''."""
    flat: list[str] = []
    owners: list[int] = []
    for i, labels in enumerate(label_lists):
        for l in labels or [""]:
            flat.append(l)
            owners.append(i)
    vals = str_distance_keys(query, flat)
    out = [float("-inf")] * len(label_lists)
    for o, v in zip(owners, vals):
        if v > out[o]:
            out[o] = v
    return out


# Pure-column (JVM/codegen) variants — preferred in hot paths where the
# simpler semantics suffice (no Python at all):

def char_ngrams_col(token_col, n: int = 3):
    """Column expr: space-padded char n-grams — codegen, no UDF."""
    padded = f"concat(' ', {token_col}, ' ')"
    return F.expr(
        f"transform(sequence(1, length({padded}) - {n - 1}),"
        f" i -> substring({padded}, i, {n}))"
    )
