"""End-to-end rank-identity tests: the Spark engine's top-k docIDs and
BM25 scores must match the pure-Python oracle rank-identically over
the synthetic transcripts corpus and the reference query set
(north_rule; mirrors the reference's behavioral search suite,
``/root/reference/tests/test_search.py``)."""

from pathlib import Path

import numpy as np
import pandas as pd
import pytest

from addok_spark.config import EngineConfig, FieldSpec
from addok_spark.data.transcripts import (
    reference_queries,
    transcripts_df,
    transcripts_pdf,
)
from addok_spark.index.build import build_index
from addok_spark.oracle.bm25_oracle import OracleIndex, oracle_search
from addok_spark.query.engine import Query, SearchEngine

N_CONVS = 40


@pytest.fixture(scope="module")
def cfg():
    return EngineConfig(
        build_partitions=8,
        doc_bucket_bits=8,
        posting_block_size=64,
        common_threshold=400,  # scaled-down COMMON_THRESHOLD for ~1.6k docs
    )


@pytest.fixture(scope="module")
def corpus_pdf():
    return transcripts_pdf(N_CONVS, seed=42)


@pytest.fixture(scope="module")
def index_paths(spark, cfg, tmp_index_root, corpus_pdf):
    sdf = transcripts_df(spark, N_CONVS, seed=42)
    # determinism: distributed generation must equal local generation
    got = sdf.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    want = corpus_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pd.testing.assert_series_equal(got["text"], want["text"])
    out = str(Path(tmp_index_root) / "engine_test")
    return build_index(spark, sdf, cfg, out)


@pytest.fixture(scope="module")
def engine(spark, cfg, index_paths):
    return SearchEngine(spark, index_paths, cfg)


@pytest.fixture(scope="module")
def oracle(corpus_pdf, cfg):
    return OracleIndex(corpus_pdf, cfg)


def _queries(corpus_pdf):
    qdf = reference_queries(corpus_pdf, n=36, seed=7)
    out = []
    for r in qdf.itertuples(index=False):
        out.append(Query(qid=r.qid, q=r.q, k=int(r.k),
                         autocomplete=(r.kind == "prefix")))
    return out


def test_rank_identity_reference_query_set(engine, oracle, corpus_pdf, cfg):
    queries = _queries(corpus_pdf)
    got = engine.search(queries).toPandas()
    want = oracle_search(oracle, queries, cfg)

    got_g = {qid: g.sort_values("rank") for qid, g in got.groupby("qid")}
    want_g = {qid: g.sort_values("rank") for qid, g in want.groupby("qid")}
    assert set(got_g) == set(want_g), "queries answered differ"
    n_nonempty = 0
    for qid in sorted(want_g):
        g, w = got_g[qid], want_g[qid]
        assert list(g["doc_index"]) == list(w["doc_index"]), (
            f"{qid}: rank mismatch\nspark=\n{g}\noracle=\n{w}"
        )
        np.testing.assert_allclose(
            g["score"].to_numpy(), w["score"].to_numpy(), rtol=1e-9,
            err_msg=f"{qid}: BM25 scores differ",
        )
        n_nonempty += 1
    assert n_nonempty >= 25  # the query set must actually exercise the engine


def test_filters(engine, oracle, corpus_pdf, cfg):
    """Role filter ≙ addok f| filter sets (core.py:208-248)."""
    words = corpus_pdf["text"].iloc[0].split()[:2]
    q = Query(qid="qf-1", q=" ".join(words), k=10, filters={"role": ["user"]})
    got = engine.search([q]).toPandas()
    want = oracle_search(oracle, [q], cfg)
    assert list(got["doc_index"]) == list(want["doc_index"])
    assert set(got["role"]) <= {"user"}


def test_filter_constrained_collection(engine, oracle, cfg):
    """Filters constrain candidate COLLECTION, not just post-scoring
    (≙ reference appending f| keys to every intersect,
    core.py:337-352). 'the of' are common tokens whose unfiltered
    top-100 bucket is dominated by non-matching docs — a selective
    tool filter (~5% of docs) must still return the oracle's top-k
    instead of a starved bucket."""
    queries = [
        Query(qid="qfc1", q="the of", k=10, filters={"tool": ["python"]}),
        Query(qid="qfc2", q="error file", k=10,
              filters={"role": ["tool"], "tool": ["grep", "bash"]}),
        Query(qid="qfc3", q="the of", k=10, filters={"role": ["nope"]}),
    ]
    got = engine.search(queries).toPandas()
    want = oracle_search(oracle, queries, cfg)
    got_g = {qid: g.sort_values("rank") for qid, g in got.groupby("qid")}
    want_g = {qid: g.sort_values("rank") for qid, g in want.groupby("qid")}
    assert set(got_g) == set(want_g)
    assert "qfc3" not in got_g  # nonexistent filter value → no rows
    assert len(got_g["qfc1"]) == 10 and set(got_g["qfc1"]["tool"]) == {"python"}
    assert set(got_g["qfc2"]["tool"]) <= {"grep", "bash"}
    assert set(got_g["qfc2"]["role"]) == {"tool"}
    for qid in sorted(want_g):
        assert list(got_g[qid]["doc_index"]) == list(want_g[qid]["doc_index"]), qid
        np.testing.assert_allclose(
            got_g[qid]["score"].to_numpy(), want_g[qid]["score"].to_numpy(),
            rtol=1e-9,
        )


def test_empty_and_notfound(engine, cfg):
    out = engine.search([Query(qid="qx", q="zzzz qqqq xxxx", k=5)]).toPandas()
    assert len(out) == 0 or set(out["qid"]) == {"qx"}


def test_query_too_long(engine, cfg):
    with pytest.raises(ValueError):
        engine.search([Query(qid="qlong", q="x " * 200, k=5)])


def test_scan_mode_rank_identity(spark, index_paths, corpus_pdf, oracle):
    """only_commons → manual_scan path (Q3/Q4): with intersect_limit
    forced low, all-common queries probe only the top scan_limit
    postings of the smallest list; engine and oracle must still be
    rank-identical."""
    from addok_spark.config import EngineConfig

    cfg_scan = EngineConfig(
        build_partitions=8,
        doc_bucket_bits=8,
        posting_block_size=64,
        common_threshold=400,
        intersect_limit=50,
        scan_limit=60,
    )
    engine = SearchEngine(spark, index_paths, cfg_scan)
    queries = [
        Query(qid="qs1", q="the of", k=10),
        Query(qid="qs2", q="the of to and", k=10),
    ]
    got = engine.search(queries).toPandas()
    want = oracle_search(oracle, queries, cfg_scan)
    got_g = {qid: g.sort_values("rank") for qid, g in got.groupby("qid")}
    want_g = {qid: g.sort_values("rank") for qid, g in want.groupby("qid")}
    assert set(got_g) == set(want_g)
    assert len(got_g) >= 1
    for qid in sorted(want_g):
        assert list(got_g[qid]["doc_index"]) == list(want_g[qid]["doc_index"]), qid
        np.testing.assert_allclose(
            got_g[qid]["score"].to_numpy(), want_g[qid]["score"].to_numpy(),
            rtol=1e-9,
        )


def test_filter_value_whitespace_normalized(spark, cfg, tmp_index_root):
    """A doc whose filter-column value carries stray whitespace must
    still match the filter: index keys, query keys and the post-score
    predicate all trim values identically (build.py filter_postings
    ↔ SpecSearch planning ↔ its scoring fold)."""
    from addok_spark.index.build import build_index as _build

    rows = []
    for i in range(12):
        rows.append(
            {
                "conv_id": f"conv-{i:02d}",
                "turn_idx": 0,
                "role": " user " if i == 0 else "assistant",
                "text": "needle haystack" if i == 0 else f"misc{i:02d} haystack",
                "tool": None,
                "ts": pd.Timestamp("2026-01-01") + pd.Timedelta(seconds=i),
                "importance": 0.0,
            }
        )
    pdf = pd.DataFrame(rows)
    wcfg = EngineConfig(build_partitions=2, doc_bucket_bits=3,
                        posting_block_size=8, build_pairs=False)
    out = str(Path(tmp_index_root) / "filter_ws_test")
    paths = _build(spark, spark.createDataFrame(pdf), wcfg, out)
    eng = SearchEngine(spark, paths, wcfg)
    q = Query(qid="ws1", q="needle haystack", k=10, filters={"role": ["user"]})
    got = eng.search([q]).toPandas()
    assert list(got["doc_index"]) == [0], "whitespace-padded value must match"
    from addok_spark.oracle.bm25_oracle import OracleIndex as _OI

    want = oracle_search(_OI(pdf, wcfg), [q], wcfg)
    assert list(got["doc_index"]) == list(want["doc_index"])


def test_arrow_probes_match_spark_scans(spark, tmp_index_root):
    """The serving index's metadata probes (in-RAM dictionary stats,
    prefix candidates) the search flow plans with must return exactly
    what Spark scans of the same tables return, and the prefix
    candidates what the oracle's edge n-gram enumeration returns —
    including absent keys and the prefix rank-and-cap order.
    Co-occurrence is checked against the oracle in
    tests/test_local_serving.py."""
    from pyspark.sql import functions as F

    from addok_spark.index.build import read_table
    from addok_spark.oracle.bm25_oracle import OracleIndex
    from addok_spark.serving.local import ParquetIndex

    cfg = EngineConfig(
        build_partitions=4, doc_bucket_bits=4, posting_block_size=16,
        build_pairs=True, common_threshold=400,
    )
    sdf = transcripts_df(spark, 15, seed=42)
    paths = build_index(
        spark, sdf, cfg, str(Path(tmp_index_root) / "probe_idx"),
    )
    idx = ParquetIndex(paths, cfg)
    dictionary = read_table(spark, paths, "dictionary")

    toks = {
        r["token"]
        for r in dictionary.select("token").limit(10).collect()
    } | {"zz_absent_token"}
    # edge n-grams (3 to 5 characters) of some word tokens
    words = dictionary.filter(F.col("token").rlike("^[a-z]{6,}$"))
    prefixes = {
        r["token"][: cfg.min_edge_ngram + i % 3]
        for i, r in enumerate(words.select("token").limit(6).collect())
    } | {"zzzz"}

    stats = {
        r["token"]: (r["df"], float(r["max_boost"] or 0.0))
        for r in dictionary.filter(F.col("token").isin(list(toks)))
        .select("token", "df", "max_boost").collect()
    }
    oracle = OracleIndex(sdf.toPandas(), cfg)
    cands = {
        p: c for p in prefixes if (c := oracle.prefix_candidates(p, cap=5))
    }
    assert len(cands) == len(prefixes) - 1

    assert {
        t: (idx.df[t], idx.max_boost[t]) for t in toks if t in idx.df
    } == stats
    assert {
        p: c for p in prefixes if (c := idx.prefix_candidates(p, cap=5))
    } == cands
