"""Phrase-mode queries (Query.phrase): candidates are docs whose
analyzed token stream contains the query tokens CONSECUTIVELY in
order, counted per positional anchor, then scored by the normal BM25
pipeline. Three-way identity: Spark engine ≡ corpus oracle ≡ warm
serving tier over the same index files.

NB positions are one continuous counter across indexed fields (the
build's analyzer semantics), so all surfaces agree on boundaries.
"""

from pathlib import Path

import pandas as pd
import pytest

from addok_spark.config import EngineConfig, FieldSpec
from addok_spark.index.build import build_index
from addok_spark.oracle.bm25_oracle import OracleIndex, SpecSearch, oracle_search
from addok_spark.query.engine import Query, SearchEngine
from addok_spark.serving.local import FastSearch, LocalSearchEngine, ParquetIndex

DOCS = [
    # conv_id, text, role, tool
    ("d-ab", "alpha beta gamma delta", "user", "python"),
    ("d-ba", "beta alpha gamma delta", "assistant", None),
    ("d-2x", "alpha beta filler alpha beta tail", "user", "bash"),
    ("d-far", "alpha filler filler beta", "user", None),
    ("d-dup", "alpha beta alpha common common", "assistant", "python"),
    ("d-common", "common common common words here", "user", None),
    ("d-c2", "words common here common", "user", None),
]


@pytest.fixture(scope="module")
def env(spark, tmp_index_root):
    pdf = pd.DataFrame(
        {
            "conv_id": [d[0] for d in DOCS],
            "turn_idx": 0,
            "role": [d[2] for d in DOCS],
            "text": [d[1] for d in DOCS],
            "tool": [d[3] for d in DOCS],
            "ts": pd.Timestamp("2026-01-01"),
            "importance": 0.0,
        }
    )
    cfg = EngineConfig(
        fields=(FieldSpec("text", 1.0),),
        build_partitions=2,
        doc_bucket_bits=2,
        pbucket_shift=1,
        posting_block_size=4,
        common_threshold=1000,
    )
    out = str(Path(tmp_index_root) / "phrase_mode")
    paths = build_index(spark, spark.createDataFrame(pdf), cfg, out)
    return {
        "engine": SearchEngine(spark, paths, cfg),
        "oracle": OracleIndex(pdf, cfg),
        "serving": LocalSearchEngine(paths, cfg),
        "cfg": cfg,
        "pdf": pdf,
    }


def _run(env, queries):
    got_e = env["engine"].search(queries).toPandas()
    want = oracle_search(env["oracle"], queries, env["cfg"])
    got_s = env["serving"].search(queries)
    for name, got in [("engine", got_e), ("serving", got_s)]:
        gg = {q: list(g.sort_values("rank")["doc_index"])
              for q, g in got.groupby("qid")}
        ww = {q: list(g.sort_values("rank")["doc_index"])
              for q, g in want.groupby("qid")}
        assert gg == ww, f"{name} diverges:\n{got}\n{want}"
    return want


def _ids(frame, pdf, qid):
    sub = frame[frame.qid == qid].sort_values("rank")
    return [pdf.iloc[int(d)]["conv_id"] for d in sub["doc_index"]]


def test_phrase_matches_only_consecutive_in_order(env):
    pdf_sorted = env["pdf"].sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    want = _run(env, [
        Query(qid="p1", q="alpha beta", k=10, phrase=True),
        Query(qid="p2", q="beta alpha", k=10, phrase=True),
        Query(qid="p3", q="alpha beta gamma", k=10, phrase=True),
    ])
    ids1 = set(_ids(want, pdf_sorted, "p1"))
    assert ids1 == {"d-ab", "d-2x", "d-dup"}          # not d-ba / d-far
    ids2 = set(_ids(want, pdf_sorted, "p2"))
    assert ids2 == {"d-ba", "d-dup"}                  # "beta alpha" in d-dup
    ids3 = set(_ids(want, pdf_sorted, "p3"))
    assert ids3 == {"d-ab"}


def test_phrase_occurrence_count_orders_candidates(env):
    pdf_sorted = env["pdf"].sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    want = _run(env, [Query(qid="p", q="common", k=10, phrase=True)])
    # single-token phrase: occurrences = tf; d-common (tf 3) collects
    # first, but ordering of RESULTS is BM25 — just assert the set
    assert set(_ids(want, pdf_sorted, "p")) == {"d-common", "d-c2", "d-dup"}


def test_phrase_with_duplicate_tokens(env):
    pdf_sorted = env["pdf"].sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    want = _run(env, [Query(qid="p", q="alpha beta alpha", k=10, phrase=True)])
    assert set(_ids(want, pdf_sorted, "p")) == {"d-dup"}


def test_phrase_absent_token_and_no_match(env):
    want = _run(env, [
        Query(qid="p1", q="alpha zzzznotfound", k=10, phrase=True),
        Query(qid="p2", q="gamma beta", k=10, phrase=True),  # never adjacent
    ])
    assert len(want) == 0


def test_phrase_with_filters(env):
    """Filters constrain phrase candidates: one value, and OR filters
    on two fields (each group's docs are the union of its keys'
    postings). FastSearch and SpecSearch over the same ParquetIndex
    answer exactly alike, and as the oracle does."""
    pdf_sorted = env["pdf"].sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    queries = [
        Query(qid="p", q="alpha beta", k=10, phrase=True,
              filters={"role": ["assistant"]}),
        Query(qid="p2", q="alpha beta", k=10, phrase=True,
              filters={"role": ["user", "assistant"], "tool": ["python"]}),
    ]
    want = _run(env, queries)
    assert set(_ids(want, pdf_sorted, "p")) == {"d-dup"}
    assert set(_ids(want, pdf_sorted, "p2")) == {"d-ab", "d-dup"}
    idx = ParquetIndex(env["serving"].index.paths, env["cfg"])
    fast = FastSearch(idx, env["cfg"]).search(queries)
    pd.testing.assert_frame_equal(
        fast, SpecSearch(idx, env["cfg"]).search(queries), check_exact=True
    )
    pd.testing.assert_frame_equal(fast, want, check_exact=True)


def test_phrase_mixed_with_normal_queries_in_one_batch(env):
    pdf_sorted = env["pdf"].sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    want = _run(env, [
        Query(qid="n1", q="beta alpha", k=10),                # normal: bag
        Query(qid="p1", q="beta alpha", k=10, phrase=True),   # phrase: order
    ])
    assert set(_ids(want, pdf_sorted, "n1")) >= {"d-ab", "d-ba", "d-2x", "d-dup"}
    assert set(_ids(want, pdf_sorted, "p1")) == {"d-ba", "d-dup"}


def test_serving_restricted_position_decode_identical(env):
    """token_position_arrays(within_docs=...) (posting-level restriction
    to the rarest phrase token's docs) must equal full-decode-then-slice
    on every token of the index, read cold and from the token memo, and
    the whole-phrase LRU must return independent copies."""
    import numpy as np

    idx = env["serving"].index
    rare_docs, _ = idx.token_position_arrays("gamma")
    rare_docs = np.unique(rare_docs)
    assert len(rare_docs)
    for tok in sorted(idx.df):
        cold = ParquetIndex(idx.paths, idx.cfg)
        got_d, got_p = cold.token_position_arrays(tok, within_docs=rare_docs)
        full_d, full_p = idx.token_position_arrays(tok)
        m = np.isin(full_d, rare_docs)
        assert np.array_equal(got_d, full_d[m]), tok
        assert np.array_equal(got_p, full_p[m]), tok
        memo_d, memo_p = idx.token_position_arrays(tok, within_docs=rare_docs)
        assert np.array_equal(memo_d, got_d) and np.array_equal(memo_p, got_p)
    # restricted reads bypass the per-token memo: a later full
    # decode must still return the complete stream
    idx_fresh_d, _ = idx.token_position_arrays("common")
    assert len(idx_fresh_d) >= len(rare_docs) or len(idx_fresh_d)

    fs = env["serving"]._searcher
    r1 = fs.phrase_occurrences(["alpha", "beta"])
    assert r1
    r1[99999] = 1  # caller mutation must not poison the memo
    r2 = fs.phrase_occurrences(["alpha", "beta"])
    assert 99999 not in r2
    assert fs.phrase_occurrences(["alpha", "beta"]) == r2


def test_phrase_occurrence_counts(spark, tmp_index_root):
    """Per-doc occurrence counts of consecutive in-order token runs
    (the phrase candidates' collection order) from the vectorized
    serving kernel and the spec flow over the index files, against
    hand-counted docs and a naive scan of the synthetic corpus."""
    from addok_spark.data.transcripts import transcripts_pdf
    from addok_spark.functions.text import analyze_str
    from addok_spark.oracle.bm25_oracle import SpecSearch

    cfg = EngineConfig(
        build_partitions=4, doc_bucket_bits=4, posting_block_size=8,
        common_threshold=400,
    )

    def counts(paths, phrase):
        seq = analyze_str(phrase, cfg.synonyms)
        idx = ParquetIndex(paths, cfg)
        fast = FastSearch(idx, cfg).phrase_occurrences(seq)
        assert SpecSearch(idx, cfg).phrase_occurrences(seq) == fast
        docs = idx.doc_values("conv_id", sorted(fast))
        turns = idx.doc_values("turn_idx", sorted(fast))
        return {(c, int(t)): fast[d]
                for c, t, d in zip(docs, turns, sorted(fast))}

    rows = [
        ("c1", 0, "user", "the quick brown fox jumps", None, 0.5),
        ("c1", 1, "user", "quick brown shoes and a brown fox", None, 0.5),
        ("c2", 0, "user", "fox brown quick reversed words", None, 0.2),
        ("c2", 1, "user", "quick brown fox quick brown fox", None, 0.2),
    ]
    sdf = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string,"
        " tool string, importance double"
    )
    paths = build_index(spark, sdf, cfg, f"{tmp_index_root}/phrase_counts")
    # order matters: c2/0 holds the tokens reversed
    assert counts(paths, "quick brown fox") == {("c1", 0): 1, ("c2", 1): 2}
    assert counts(paths, "brown fox") == {
        ("c1", 0): 1, ("c1", 1): 1, ("c2", 1): 2,
    }
    assert counts(paths, "brown quick fox") == {}
    assert counts(paths, "zzz qqq") == {}

    corpus = transcripts_pdf(10, seed=42)
    phrase_toks = analyze_str(corpus["text"].iloc[5], cfg.synonyms)[:2]
    assert len(phrase_toks) == 2
    paths = build_index(
        spark, spark.createDataFrame(corpus), cfg,
        f"{tmp_index_root}/phrase_counts_corpus",
    )
    want = {}
    for row in corpus.itertuples(index=False):
        toks = analyze_str(row.text, cfg.synonyms) + (
            analyze_str(row.tool, cfg.synonyms) if isinstance(row.tool, str) else []
        )
        n = sum(
            1 for i in range(len(toks) - 1) if toks[i : i + 2] == phrase_toks
        )
        if n:
            want[(row.conv_id, row.turn_idx)] = n
    assert counts(paths, " ".join(phrase_toks)) == want
