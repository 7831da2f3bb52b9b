"""Pair-table pruning parity scenarios (round-3 verdict items #2/#3).

Reference semantics under test:

- fuzzy: ``addok/fuzzy.py:92-100`` — edit-1 candidates are SINTERed
  with the remaining query tokens' ``p|`` co-occurrence sets BEFORE
  the candidate cap, so a co-occurring neighbor generated late still
  beats dictionary-present-but-never-co-occurring neighbors
  generated early.
- autocomplete: ``addok/autocomplete.py:83-95`` — prefix candidates
  are SINTERed with the other meaningful tokens' pair sets, and for
  single-token queries ordered by max posting score
  (``helpers/lua/order_by_max_score.lua``), not frequency.
"""

from pathlib import Path

import pandas as pd
import pytest

from addok_spark.config import EngineConfig, FieldSpec
from addok_spark.index.build import build_index
from addok_spark.oracle.bm25_oracle import OracleIndex, oracle_search
from addok_spark.query.engine import Query, SearchEngine
from addok_spark.serving.local import ParquetIndex

# the first 8 edit-1 neighbors make_fuzzy_str generates for "bronc"
# (transpositions then substitutions) — each lives in its own doc and
# NEVER co-occurs with "alpha"; "brond" is generated later (pos ~21)
# and DOES co-occur with "alpha".
EARLY_NEIGHBORS = [
    "rbonc", "bornc", "brnoc", "brocn", "vronc", "gronc", "hronc", "nronc",
]

PREC_DF2 = [f"prec{c}{c}" for c in "abcdefghijk"]  # 11 tokens, df=2 each


def _docs() -> pd.DataFrame:
    rows: list[tuple[str, str, float]] = []
    for w in EARLY_NEIGHBORS:
        rows.append((f"doc-{w}", w, 0.0))
    rows.append(("doc-alpha-brond", "alpha brond", 0.0))
    # autocomplete pair pruning: qrdgood co-occurs with zebrat,
    # qrdbad does not
    rows.append(("doc-zebrat-qrdgood", "zebrat qrdgood", 0.0))
    rows.append(("doc-qrdbad", "qrdbad lonelyq", 0.0))
    # autocomplete max-boost ordering: 11 df=2 tokens under prefix
    # "prec" plus one df=1 token whose importance makes its posting
    # boost the corpus max
    for t in PREC_DF2:
        rows.append((f"doc-{t}-1", t, 0.0))
        rows.append((f"doc-{t}-2", t, 0.0))
    rows.append(("doc-preczz", "preczz", 0.9))
    return pd.DataFrame(
        {
            "conv_id": [r[0] for r in rows],
            "turn_idx": 0,
            "role": "user",
            "text": [r[1] for r in rows],
            "tool": None,
            "ts": pd.Timestamp("2026-01-01"),
            "importance": [r[2] for r in rows],
        }
    )


@pytest.fixture(scope="module")
def setup(spark, tmp_index_root):
    pdf = _docs()
    cfg = EngineConfig(
        fields=(FieldSpec("text", 1.0),),
        build_partitions=2,
        doc_bucket_bits=4,
        posting_block_size=16,
        build_pairs=True,
    )
    out = str(Path(tmp_index_root) / "pair_pruning")
    paths = build_index(spark, spark.createDataFrame(pdf), cfg, out)
    return (
        SearchEngine(spark, paths, cfg), OracleIndex(pdf, cfg), cfg,
        ParquetIndex(paths, cfg),
    )


def _expanded(setup, tok, others, autocomplete=False):
    """A df-0 token's expansion group, as the search flow plans it
    from the index files: prefix candidates for an autocompleted last
    token, else edit-1 neighbors (SpecSearch._one)."""
    idx = setup[3]
    others = [t for t in others if idx.noncommon(t)]
    exp = idx.prefix_expansions(tok, others) if autocomplete else []
    return [t for t, _ in exp or idx.fuzzy_expansions(tok, others)]


def _search(setup, q, **kw):
    engine, oracle, cfg = setup[:3]
    query = Query(qid="s", q=q, k=20, **kw)
    got = engine.search([query]).toPandas()
    want = oracle_search(oracle, [query], cfg)
    assert list(got["doc_index"]) == list(want["doc_index"]), (
        f"engine/oracle diverge for {q!r}:\n{got}\n{want}"
    )
    return got


def test_fuzzy_pair_pruning_beats_generation_cap(setup):
    """8 dictionary-present neighbors generated BEFORE the
    co-occurring one would exhaust the [:8] cap under presence-only
    pruning; pair pruning must keep only the co-occurring one."""
    assert _expanded(setup, "bronc", ["alpha"]) == ["brond"]
    res = _search(setup, "alpha bronc")
    assert res.iloc[0]["conv_id"] == "doc-alpha-brond"
    # both tokens matched: two BM25 group terms, not a one-term match
    assert set(res["conv_id"]) == {"doc-alpha-brond"}


def test_fuzzy_presence_only_without_other_tokens(setup):
    """Single-token typo query: no other tokens to SINTER with →
    plain dictionary-presence pruning, generation order, cap 8."""
    assert _expanded(setup, "bronc", []) == EARLY_NEIGHBORS  # brond past the cap
    _search(setup, "bronc")


def test_autocomplete_pair_semi_join(setup):
    """Prefix candidates not co-occurring with the other meaningful
    token are dropped (autocomplete.py:83-87)."""
    assert _expanded(setup, "qrd", ["zebrat"], autocomplete=True) == ["qrdgood"]
    res = _search(setup, "zebrat qrd", autocomplete=True)
    assert res.iloc[0]["conv_id"] == "doc-zebrat-qrdgood"


def test_autocomplete_single_token_max_score_order(setup):
    """One-token prefix query orders candidates by max posting boost
    (order_by_max_score.lua): the df=1 high-importance token must
    survive the [:10] cut that df-ordering would have applied."""
    group = _expanded(setup, "prec", [], autocomplete=True)
    assert group[0] == "preczz"
    assert len(group) == 10
    res = _search(setup, "prec", autocomplete=True)
    assert "doc-preczz" in set(res["conv_id"])
