"""The scoring twin: ``FastSearch._score_rank`` (the BM25 fold,
tie-break and render as array code, answering typed columns) against
the spec loop ``SpecSearch._score_rank`` on crafted inputs, and the
typed-column frame (``ranked_frame``) against ``pd.DataFrame(records)``.

Both run over a corpus-built ``OracleIndex``, so no Spark session is
needed: the scoring hook reads an index only through the
``ExpansionMixin`` protocol."""

import numpy as np
import pandas as pd
import pytest

from addok_spark.config import EngineConfig
from addok_spark.functions.text import fold_str
from addok_spark.oracle.bm25_oracle import OracleIndex, SpecSearch, result_frame
from addok_spark.query.engine import FILTER_GID_BASE, Query
from addok_spark.serving.local import FastSearch, Ranked, ranked_frame

_FLOATS = ("score", "str_distance", "boost", "importance")

# texts: "alpha" in many docs, "alphabet" and "alphas" in few (a
# prefix / fuzzy group whose tokens differ in df), duplicated texts
# for score ties, and a doc no scoring token hits
_TEXTS = [
    "alpha beta gamma",
    "alpha alpha beta",
    "alphabet soup with beta",
    "alphas are alpha",
    "alpha beta gamma",
    "alpha beta gamma",
    "gamma delta",
    "beta beta beta alphabet",
    "nothing to see here",
    "alpha beta gamma",
    "alphabet alpha",
    "gamma",
]


def _corpus(
    importance=None, tool=None, role=None, tags=True, alt=True
) -> pd.DataFrame:
    n = len(_TEXTS)
    df = pd.DataFrame({
        "conv_id": [f"c{i // 3}" for i in range(n)],
        "turn_idx": [i % 3 for i in range(n)],
        "role": role if role is not None else
        ["user", "assistant", None, "user", "tool", "user"] * 2,
        "text": _TEXTS,
        "tool": tool if tool is not None else [None] * n,
    })
    if importance is not None:
        df["importance"] = pd.Series(importance, dtype=object)
    if tags:
        df["tags"] = [["x", "y"], ["y"], [], None, [" x "], ["z"]] * 2
    if alt:
        df["alt_texts"] = [["alpha prime"], None, [], ["beta"], None, None] * 2
    return df


# NaN and missing (None) importance, a negative zero, and plain values
_IMPORTANCE = [0.5, float("nan"), None, 0.0, -0.0, 1.0,
               0.25, None, float("nan"), 0.5, 0.75, 0.1]


@pytest.fixture(scope="module", params=["bm25", "reference"])
def cfg(request):
    return EngineConfig(scorer=request.param, filter_fields=("role", "tool", "tags"))


@pytest.fixture(scope="module")
def index(cfg):
    return OracleIndex(_corpus(importance=_IMPORTANCE), cfg)


def _filters(spec: dict) -> list[tuple]:
    return [
        (FILTER_GID_BASE + i, col, vs, [f"f|{col}|{v}" for v in vs])
        for i, (col, vs) in enumerate(sorted(spec.items()))
    ]


def _twin(index, cfg, q, groups, candidates, filters=()):
    """(spec records, fast ``Ranked``) for one query's scoring inputs;
    filter groups join ``groups`` as the flow adds them."""
    filters = list(filters)
    groups = dict(groups)
    for gid, _, _, keys in filters:
        groups[gid] = keys
    qf = fold_str(q.q)
    spec = SpecSearch(index, cfg)._score_rank(
        q, qf, dict(groups), filters, set(candidates)
    )
    fast = FastSearch(index, cfg)._score_rank(
        q, qf, dict(groups), filters, set(candidates)
    )
    return spec, fast


def _assert_same(spec_records: list[dict], ranked: list[Ranked]):
    """The typed frame equals the records frame exactly, and every
    float column bit for bit (NaN payloads and signed zeros too)."""
    want = result_frame(spec_records)
    got = ranked_frame(ranked)
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    if len(want):
        for col in _FLOATS:
            np.testing.assert_array_equal(
                got[col].to_numpy().view(np.uint64),
                want[col].to_numpy().view(np.uint64), err_msg=col,
            )
    return got


_GROUPS = {
    0: ["alpha", "alphabet", "alphas", "absent"],
    1: ["beta"],
    2: ["gamma", "delta"],
}


@pytest.mark.parametrize("k", [0, 1, 2, 3, 5, 10, 100])
def test_fold_equals_spec_multi_token_groups(index, cfg, k):
    """Groups whose tokens differ in df and hit different docs (a doc
    matching only ``alphabet`` of group 0, another only ``alpha``), a
    token in no doc, NaN / None / -0.0 importance, and every ``k``
    from 0 past the candidate count: ties at the k-th score fall
    between the duplicated texts."""
    q = Query(qid="m", q="alpha beta gamma", k=k)
    spec, fast = _twin(index, cfg, q, _GROUPS, range(index.n_docs))
    got = _assert_same(spec, [fast])
    # 11 of the 12 docs hold a scoring token (the reference scorer
    # keeps those reaching min_score)
    assert len(got) == min(k, 11)


def test_fold_ties_at_kth_score(index, cfg):
    """Four docs share one text: a cut inside them is decided by the
    tie-break keys, the same in both."""
    q = Query(qid="t", q="alpha beta gamma", k=2)
    cands = [0, 4, 5, 9, 3]
    spec, fast = _twin(index, cfg, q, {0: ["alpha"], 1: ["beta"], 2: ["gamma"]},
                       cands)
    got = _assert_same(spec, [fast])
    assert len(got) == 2


@pytest.mark.parametrize("flt", [
    {"tags": ["x"]},
    {"tags": ["x", "z"], "role": ["user"]},
    {"role": ["nobody"]},
])
def test_fold_list_valued_filter_field(index, cfg, flt):
    """A list-valued filter field matches a doc when any element,
    stripped, is one of the values; a missing (None) or empty list
    never does."""
    q = Query(qid="f", q="alpha beta", k=10)
    spec, fast = _twin(index, cfg, q, _GROUPS, range(index.n_docs),
                       _filters(flt))
    _assert_same(spec, [fast])


def test_fold_empty_candidates_and_no_hits(index, cfg):
    q = Query(qid="e", q="alpha", k=10)
    spec, fast = _twin(index, cfg, q, _GROUPS, [])
    assert spec == [] and len(fast) == 0
    # candidates no scoring token hits
    spec, fast = _twin(index, cfg, q, {0: ["absent"]}, [8, 11])
    assert spec == [] and len(fast) == 0
    _assert_same(spec, [fast])


def test_fold_without_importance_column(cfg):
    """No importance column: every row reads the 0.0 default."""
    idx = OracleIndex(_corpus(tags=False, alt=False), cfg)
    q = Query(qid="n", q="alpha beta", k=10)
    spec, fast = _twin(idx, cfg, q, _GROUPS, range(idx.n_docs))
    got = _assert_same(spec, [fast])
    assert len(got) and (got["importance"] == 0.0).all()


# -- the typed frame ---------------------------------------------------------

def test_typed_frame_all_none_and_mixed_columns(cfg):
    """``tool`` all None and ``role`` mixing None and str stay object
    columns holding None, as the records frame has them."""
    idx = OracleIndex(_corpus(importance=_IMPORTANCE), cfg)
    q = Query(qid="a", q="alpha beta", k=100)
    spec, fast = _twin(idx, cfg, q, _GROUPS, range(idx.n_docs))
    got = _assert_same(spec, [fast])
    assert got["tool"].isna().all() and got["tool"].dtype == object
    assert got["role"].isna().any() and got["role"].notna().any()
    tools = ["grep", None, "bash", None, None, "grep"] * 2
    idx = OracleIndex(_corpus(importance=_IMPORTANCE, tool=tools), cfg)
    spec, fast = _twin(idx, cfg, q, _GROUPS, range(idx.n_docs))
    got = _assert_same(spec, [fast])
    assert got["tool"].isna().any() and got["tool"].notna().any()


def test_typed_frame_infers_non_string_fields_like_records(cfg):
    """A rendered field that holds numbers (an integer ``role``) is
    inferred by pandas exactly as for records."""
    idx = OracleIndex(
        _corpus(importance=_IMPORTANCE, role=[1, 2, 3] * 4, tags=False), cfg
    )
    q = Query(qid="i", q="alpha beta", k=100)
    spec, fast = _twin(idx, cfg, q, _GROUPS, range(idx.n_docs))
    got = _assert_same(spec, [fast])
    assert got["role"].dtype == np.int64


def test_typed_frame_several_queries_and_no_rows(index, cfg):
    """Records of several queries in one call, one of them empty, make
    one frame; a call without rows is the empty records frame."""
    calls = [
        (Query(qid="q1", q="alpha", k=3), _GROUPS, range(index.n_docs)),
        (Query(qid="q2", q="beta", k=10), {0: ["beta"]}, [1, 2, 7]),
        (Query(qid="q3", q="none", k=10), {0: ["absent"]}, [8]),
        (Query(qid="q4", q="gamma delta", k=0), _GROUPS, range(index.n_docs)),
        (Query(qid="q5", q="gamma", k=10), {0: ["gamma"]}, [0, 6, 11]),
    ]
    spec, fast = [], []
    for q, groups, cands in calls:
        s, f = _twin(index, cfg, q, groups, cands)
        spec += s
        fast.append(f)
    got = _assert_same(spec, fast)
    assert list(dict.fromkeys(got["qid"])) == ["q1", "q2", "q5"]
    empty = ranked_frame([])
    pd.testing.assert_frame_equal(
        empty, pd.DataFrame([], columns=list(got.columns)), check_exact=True
    )
    pd.testing.assert_frame_equal(
        ranked_frame([fast[2], fast[3]]), empty, check_exact=True
    )

