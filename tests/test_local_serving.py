"""Serving-tier rank identity: LocalSearchEngine (parquet-backed,
no Spark job per query — serving/local.py) must answer the reference
query set identically to the corpus-built oracle, and the Spark
engine, which runs it in mapInPandas tasks, exactly like it.
"""

from pathlib import Path

import numpy as np
import pandas as pd
import pytest

from addok_spark.config import EngineConfig
from addok_spark.data.transcripts import (
    reference_queries,
    transcripts_df,
    transcripts_pdf,
)
from addok_spark.index.build import build_index
from addok_spark.oracle.bm25_oracle import OracleIndex, oracle_search
from addok_spark.query.engine import Query, SearchEngine
from addok_spark.serving.local import LocalSearchEngine

N_CONVS = 40


@pytest.fixture(scope="module")
def cfg():
    return EngineConfig(
        build_partitions=8,
        doc_bucket_bits=8,
        posting_block_size=64,
        common_threshold=400,
    )


@pytest.fixture(scope="module")
def corpus_pdf():
    return transcripts_pdf(N_CONVS, seed=42)


@pytest.fixture(scope="module")
def index_paths(spark, cfg, tmp_index_root, corpus_pdf):
    sdf = transcripts_df(spark, N_CONVS, seed=42)
    out = str(Path(tmp_index_root) / "serving_test")
    return build_index(spark, sdf, cfg, out)


@pytest.fixture(scope="module")
def server(index_paths, cfg):
    return LocalSearchEngine(index_paths, cfg)


@pytest.fixture(scope="module")
def oracle(corpus_pdf, cfg):
    return OracleIndex(corpus_pdf, cfg)


def _queries(corpus_pdf):
    qdf = reference_queries(corpus_pdf, n=36, seed=7)
    return [
        Query(qid=r.qid, q=r.q, k=int(r.k), autocomplete=(r.kind == "prefix"))
        for r in qdf.itertuples(index=False)
    ]


def _assert_identical(got, want, min_nonempty=0, score_rtol=0.0):
    got_g = {qid: g.sort_values("rank") for qid, g in got.groupby("qid")}
    want_g = {qid: g.sort_values("rank") for qid, g in want.groupby("qid")}
    assert set(got_g) == set(want_g), "queries answered differ"
    n_nonempty = 0
    for qid in sorted(want_g):
        g, w = got_g[qid], want_g[qid]
        assert list(g["doc_index"]) == list(w["doc_index"]), (
            f"{qid}: rank mismatch\nserve=\n{g}\nwant=\n{w}"
        )
        np.testing.assert_allclose(
            g["score"].to_numpy(), w["score"].to_numpy(), rtol=score_rtol,
            err_msg=f"{qid}: scores differ",
        )
        n_nonempty += 1
    assert n_nonempty >= min_nonempty


def test_serving_rank_identity_reference_set(server, oracle, corpus_pdf, cfg):
    """Full reference set (exact / case / typo / autocomplete /
    common / notfound) — ranks exact, scores bit-equal: the serving
    tier runs the same oracle_search spec over decoded parquet
    postings, so any drift means the on-disk index diverged."""
    queries = _queries(corpus_pdf)
    got = server.search(queries)
    want = oracle_search(oracle, queries, cfg)
    _assert_identical(got, want, min_nonempty=25, score_rtol=0.0)


def test_serving_matches_spark_engine(spark, index_paths, server, cfg, corpus_pdf):
    """Direct three-way anchor: a handful of queries through the
    Spark engine vs the serving tier over the SAME index files."""
    engine = SearchEngine(spark, index_paths, cfg)
    queries = _queries(corpus_pdf)[:8]
    got = server.search(queries)
    want = engine.search(queries).toPandas()
    _assert_identical(got, want, score_rtol=1e-9)


def _equality_queries(corpus_pdf):
    words = corpus_pdf["text"].iloc[0].split()[:2]
    return _queries(corpus_pdf) + [
        Query(qid="qf1", q=" ".join(words), k=10, filters={"role": ["user"]}),
        Query(qid="qf2", q=" ".join(words), k=10,
              filters={"role": ["user", "assistant"], "tool": ["python"]}),
        Query(qid="qa1", q=words[0][:4], k=10, autocomplete=True),
        Query(qid="qp1", q=" ".join(words), k=10, phrase=True),
    ]


@pytest.mark.parametrize("snapshot", ["bulk", "cdc", "nolink"])
def test_spark_engine_equals_serving_exactly(
    spark, index_paths, cfg, corpus_pdf, tmp_path, snapshot
):
    """The Spark engine answers by running the serving tier in
    mapInPandas tasks, so its collected frame equals
    LocalSearchEngine's exactly — every shared column, every float —
    on a bulk index and on CDC snapshots published with and without
    hardlinks (partitions spread over several snapshot dirs)."""
    import dataclasses

    from addok_spark.index.fileio import NoLinkFileIO
    from addok_spark.index.incremental import apply_actions

    paths = index_paths
    if snapshot != "bulk":
        # 64 docs per pbucket: the batch rewrites a few partitions and
        # the snapshot references the rest from the bulk build
        cfg = dataclasses.replace(
            cfg, build_partitions=4, doc_bucket_bits=4, pbucket_shift=2
        )
        paths = build_index(
            spark, transcripts_df(spark, N_CONVS, seed=42), cfg,
            str(tmp_path / snapshot),
        )
        changes = corpus_pdf.iloc[[0, 1, 700, 701, 1200]].copy()
        changes["_action"] = ["update", "update", "delete", "delete", "update"]
        changes.loc[changes.index[[0, 1]], "text"] = [
            "rewritten zeta payload", "second wave theta",
        ]
        changes.loc[changes.index[4], "text"] = corpus_pdf["text"].iloc[3]
        appended = corpus_pdf.iloc[[5]].copy()
        appended["conv_id"] = "conv-appended"
        appended["_action"] = "index"
        apply_actions(
            spark, paths,
            spark.createDataFrame(pd.concat([changes, appended])), cfg,
            fileio=NoLinkFileIO() if snapshot == "nolink" else None,
        )
    queries = _equality_queries(corpus_pdf) + [
        Query(qid="qz", q="rewritten zeta payload", k=10),
    ]
    got = SearchEngine(spark, paths, cfg).search(queries).toPandas()
    want = LocalSearchEngine(paths, cfg).search(queries)
    want = want.sort_values(["qid", "rank"], kind="stable")[list(got.columns)]
    assert len(got) >= 200
    pd.testing.assert_frame_equal(
        got, want.reset_index(drop=True),
        check_exact=True, check_dtype=False,  # rank/turn_idx are int32
    )


def test_serving_filters_and_autocomplete(server, oracle, corpus_pdf, cfg):
    words = corpus_pdf["text"].iloc[0].split()[:2]
    queries = [
        Query(qid="qf1", q=" ".join(words), k=10, filters={"role": ["user"]}),
        Query(qid="qf2", q=" ".join(words), k=10,
              filters={"role": ["user", "assistant"], "tool": ["python"]}),
        Query(qid="qf3", q=" ".join(words), k=10, filters={"role": ["nope"]}),
        Query(qid="qa1", q=words[0][:4], k=10, autocomplete=True),
    ]
    got = server.search(queries)
    want = oracle_search(oracle, queries, cfg)
    _assert_identical(got, want, score_rtol=0.0)
    if "qf1" in set(got["qid"]):
        roles = [
            server.index.doc(d)["role"] for d in got[got.qid == "qf1"]["doc_index"]
        ]
        assert set(roles) <= {"user"}


def test_serving_fast_matches_spec(index_paths, oracle, corpus_pdf, cfg):
    """The vectorized collection kernel (FastSearch.run_gids) must be
    bit-identical to the pure-dict spec flow over the same parquet
    index — including scan-mode, relaxation variants, and filter
    groups — and both must equal the corpus-built oracle."""
    fast = LocalSearchEngine(index_paths, cfg, mode="fast")
    spec = LocalSearchEngine(index_paths, cfg, mode="spec")
    queries = _queries(corpus_pdf) + [
        Query(qid="qsf", q="the of", k=10),
        Query(qid="qsf2", q="the of to and", k=10),
        Query(qid="qsff", q="the of", k=10, filters={"role": ["user"]}),
    ]
    got = fast.search(queries)
    want = spec.search(queries)
    _assert_identical(got, want, min_nonempty=25, score_rtol=0.0)
    _assert_identical(
        got, oracle_search(oracle, queries, cfg), score_rtol=0.0
    )


def test_serving_lazy_loading(index_paths, cfg):
    """A single query must fault in only its own expansion tokens,
    never the whole posting store (the at-scale contract)."""
    srv = LocalSearchEngine(index_paths, cfg)
    assert len(srv.index._blocks) == 0
    srv.search([Query(qid="q", q="error file", k=5)])
    assert 0 < len(srv.index._blocks) < max(10, len(srv.index.df) // 10)
    # doc partitions fetched only for candidate pbuckets
    n_pbuckets = {int(d) >> srv.index._doc_shift for d in range(srv.index.n_docs)}
    assert len(srv.index._doc_cache) <= len(n_pbuckets)


def test_serving_query_length_guard(server, cfg):
    with pytest.raises(ValueError):
        server.search([Query(qid="qlong", q="x " * 200, k=5)])


def test_serving_empty_result(server):
    out = server.search([Query(qid="qx", q="zzzz qqqq xxxx", k=5)])
    assert len(out) == 0


def test_serving_http_local_backend(index_paths, cfg, corpus_pdf):
    """The HTTP layer duck-types the serving tier: same contract,
    no Spark session behind the socket."""
    import json
    import urllib.request

    from addok_spark.http_api import serve_background

    srv_engine = LocalSearchEngine(index_paths, cfg)
    srv, port = serve_background(srv_engine)
    try:
        words = "+".join(corpus_pdf["text"].iloc[0].split()[:2])
        r = urllib.request.urlopen(
            f"http://127.0.0.1:{port}/search/?q={words}&limit=5", timeout=60
        )
        body = json.loads(r.read())
        assert r.status == 200
        assert len(body["hits"]) <= 5
        if body["hits"]:
            assert body["hits"][0]["rank"] == 1
            assert "text" in body["hits"][0]
    finally:
        srv.shutdown()


def test_serving_refresh_after_cdc(spark, tmp_path):
    """A CDC batch rewrites index partitions; refresh() must make the
    warm server see it (deleted doc gone, new doc findable)."""
    from addok_spark.config import FieldSpec
    from addok_spark.index.incremental import apply_actions

    cdc_cfg = EngineConfig(
        fields=(FieldSpec("text", 1.0), FieldSpec("tool", 4.0)),
        build_partitions=4,
        doc_bucket_bits=2,
        pbucket_shift=1,
        posting_block_size=2,
        common_threshold=1000,
    )
    rows = [
        ("conv-a", 0, "user", "rue des Lilas", None, 0.5),
        ("conv-a", 1, "assistant", "avenue des Champs", "grep", 0.5),
        ("conv-b", 0, "user", "boulevard Voltaire", None, 0.25),
        ("conv-b", 1, "tool", "rue du General", "bash", 0.25),
    ]
    corpus = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string,"
        " tool string, importance double"
    )
    paths = build_index(spark, corpus, cdc_cfg, str(tmp_path / "cdc_idx"))
    srv = LocalSearchEngine(paths, cdc_cfg)
    before = srv.search([Query(qid="q", q="lilas", k=5)])
    assert len(before) == 1

    changes = spark.createDataFrame(
        [
            ("conv-a", 0, "user", "rue des Lilas", None, 0.5, "delete"),
            ("conv-c", 0, "user", "impasse Mimosas", None, 0.9, "index"),
        ],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, importance double, _action string",
    )
    apply_actions(spark, paths, changes, cdc_cfg)
    # stale caches still answer the old index; refresh picks up CDC
    srv.refresh()
    assert len(srv.search([Query(qid="q1", q="lilas", k=5)])) == 0
    after = srv.search([Query(qid="q2", q="mimosas", k=5)])
    assert list(after["conv_id"]) == ["conv-c"]


def test_serving_get_by_natural_key(server, corpus_pdf):
    """≙ Result.from_id (reference test_search.py:567-570): direct
    doc fetch by (conv_id, turn_idx) without a search."""
    row = corpus_pdf.iloc[5]
    got = server.get(row["conv_id"], int(row["turn_idx"]))
    assert got is not None
    assert got["text"] == row["text"]
    assert got["role"] == row["role"]
    assert server.get("conv-does-not-exist", 0) is None


def test_serving_many_pbuckets_rank_identity(spark, tmp_index_root, corpus_pdf):
    """Rank identity over a fine partition layout: with
    doc_bucket_bits=2, pbucket_shift=1 (8 docs per pbucket) every
    posting list and every candidate set spans many pbuckets, so the
    serving engine's doc-sorted posting arrays and its per-pbucket doc
    stores are stitched from many partitions. Answers, filtered query
    included, must equal the corpus oracle with exact scores."""
    fine_cfg = EngineConfig(
        build_partitions=8,
        doc_bucket_bits=2,
        pbucket_shift=1,
        posting_block_size=16,
        common_threshold=400,
    )
    sdf = transcripts_df(spark, N_CONVS, seed=42)
    paths = build_index(
        spark, sdf, fine_cfg, str(Path(tmp_index_root) / "fine_pbuckets")
    )
    eng = LocalSearchEngine(paths, fine_cfg)
    queries = _queries(corpus_pdf) + [
        Query(qid="shf", q="error file", k=10, filters={"role": ["user"]}),
    ]
    got = eng.search(queries)
    want = oracle_search(OracleIndex(corpus_pdf, fine_cfg), queries, fine_cfg)
    _assert_identical(got, want, min_nonempty=25, score_rtol=0.0)
    assert len(got[got.qid == "shf"]) > 0
    # the answers really come from many partitions
    shift = eng.index._doc_shift
    assert len(np.unique(got["doc_index"].to_numpy() >> shift)) > 8


def test_serving_scan_blockmax_partial_decode(spark, tmp_index_root, corpus_pdf):
    """Manual-scan mode with block-max pruning: identity with the
    pure-dict spec flow under a config where EVERY query group is
    'common' (intersect_limit=50), plus direct scan_top_docs
    equivalence against a brute-force reduce — including boost-tied
    blocks, where the stop rule must keep decoding equal-upper-bound
    blocks for the doc-index tie-break."""
    scan_cfg = EngineConfig(
        build_partitions=8,
        doc_bucket_bits=8,
        posting_block_size=16,
        common_threshold=30,
        intersect_limit=50,
        scan_limit=60,
    )
    sdf = transcripts_df(spark, N_CONVS, seed=42)
    paths = build_index(
        spark, sdf, scan_cfg, str(Path(tmp_index_root) / "scan_test")
    )
    fast = LocalSearchEngine(paths, scan_cfg, mode="fast")
    spec = LocalSearchEngine(paths, scan_cfg, mode="spec")
    queries = [
        Query(qid="sc1", q="the of", k=10),
        Query(qid="sc2", q="the of to and", k=10),
        Query(qid="sc3", q="error file", k=10),
        Query(qid="sc4", q="the of", k=10, filters={"role": ["user"]}),
    ]
    got = fast.search(queries)
    want = spec.search(queries)
    _assert_identical(got, want, min_nonempty=3, score_rtol=0.0)

    # direct probe equivalence vs brute force, on a common token
    idx = LocalSearchEngine(paths, scan_cfg).index
    tok = max(idx.df, key=lambda t: idx.df[t])
    for limit in (5, 60, 10_000):
        got_docs = idx.scan_top_docs([tok], limit)
        docs, _, boosts = idx._token_arrays(tok)
        bo = boosts.astype(np.float64)
        top = np.lexsort((docs, -bo))[:limit]
        want_docs = np.sort(docs[top])
        assert np.array_equal(got_docs, want_docs), (tok, limit)

    # pruning actually happened for a small probe limit on a fresh
    # store (no full decode yet)
    fresh = LocalSearchEngine(paths, scan_cfg).index
    fresh.scan_top_docs([tok], 5)
    tb = fresh._blocks[tok]
    assert tb.n_blocks > 3
    assert 0 < tb.blocks_decoded < tb.n_blocks, (
        tb.blocks_decoded, tb.n_blocks
    )


def test_serving_trace_and_bounded_caches(index_paths, cfg):
    """Per-query trace (latency, result rows, tokens faulted) and
    LRU-bounded caches — a serving node's working set must not grow
    without bound at 10^12 turns."""
    from addok_spark.serving.local import _LRU

    srv = LocalSearchEngine(index_paths, cfg)
    srv.search([Query(qid="t1", q="error file", k=5),
                Query(qid="t2", q="zzzz qqqq", k=5)])
    assert [e["qid"] for e in srv.last_trace] == ["t1", "t2"]
    assert srv.last_trace[0]["rows"] >= 0
    assert srv.last_trace[0]["tokens_faulted"] > 0
    assert srv.last_trace[0]["seconds"] >= 0

    lru = _LRU(3)
    for i in range(10):
        lru[i] = i
    assert len(lru) == 3 and set(lru) == {7, 8, 9}
    lru[8] = 80  # re-insert does not evict
    assert set(lru) == {7, 8, 9}


def test_serving_without_side_tables(spark, tmp_path, corpus_pdf):
    """An index built in the reference's mass-import shape (side
    tables deferred; ``build_prefixes`` is read by no code) must still
    serve: autocomplete expands from the dictionary with no pair
    pruning, fuzzy degrades to presence-only — as the oracle built
    without pairs does, and as the Spark engine does on the same
    index."""
    bare_cfg = EngineConfig(
        build_partitions=4,
        doc_bucket_bits=8,
        posting_block_size=64,
        common_threshold=400,
        build_prefixes=False,
        build_pairs=False,
    )
    sdf = transcripts_df(spark, 10, seed=42)
    paths = build_index(spark, sdf, bare_cfg, str(tmp_path / "bare_idx"))
    srv = LocalSearchEngine(paths, bare_cfg)
    assert srv.index.have_pairs is False
    oracle = OracleIndex(sdf.toPandas(), bare_cfg)
    # a prefix that is no token itself: only its expansions can match
    pfx = next(
        t[:4] for t in sorted(oracle.df)
        if len(t) > 5 and t.isalpha() and t[:4] not in oracle.df
    )
    words = corpus_pdf["text"].iloc[0].split()[:3]
    queries = [
        Query(qid="b1", q=" ".join(words), k=5),
        Query(qid="b2", q=pfx, k=5, autocomplete=True),
        Query(qid="b3", q=words[0][:-1] + "x " + words[1], k=5),  # typo
    ]
    r = srv.search(queries)
    assert len(r[r.qid == "b1"]) > 0
    # the autocomplete query answers from the dictionary, as the oracle
    want = oracle_search(oracle, queries[1:2], bare_cfg)
    _assert_identical(r[r.qid == "b2"], want, min_nonempty=1)
    # and the Spark engine agrees on the same bare index
    eng = SearchEngine(spark, paths, bare_cfg)
    for qid, q in [("b1", " ".join(words))]:
        got = eng.search([Query(qid=qid, q=q, k=5)]).toPandas()
        want = r[r.qid == qid]
        assert list(got["doc_index"]) == list(want["doc_index"])


def _prefix_probes(index, cfg) -> set[str]:
    """Every edge n-gram of every dictionary token (f| filter tokens
    included), plus prefixes autocomplete never answers: shorter than
    min_edge_ngram, longer than max_edge_ngram, all-digit, f|… and
    absent from the dictionary."""
    from addok_spark.functions.text import edge_ngrams_str

    lo, hi = cfg.min_edge_ngram, cfg.max_edge_ngram
    probes = {
        p for t in index.df for p in edge_ngrams_str(t, lo, hi)
    }
    for t in index.df:
        probes.add(t[: lo - 1])
        probes.add(t[: hi + 1])
        probes.add(t)
    probes |= {"", "0", "123", "2024", "f|", "f|r", "f|role", "f|role|u",
               "zzzq", "x" * (hi + 1)}
    # all-digit tokens whose edge n-grams must not offer them
    assert any(t.isdigit() and len(t) > lo for t in index.df)
    return probes


def _assert_prefixes_match(idx, oracle, cfg):
    probes = _prefix_probes(idx, cfg)
    for cap in (5, 100):
        for p in sorted(probes):
            assert idx.prefix_candidates(p, cap) == oracle.prefix_candidates(
                p, cap
            ), (p, cap)
    return probes


@pytest.fixture(scope="module")
def cdc_index(spark, index_paths, cfg, corpus_pdf, tmp_path_factory):
    """A copy of the module index (other tests read it as built) after
    one CDC batch that adds, rewrites and deletes docs, with the
    oracle of the corpus after that batch."""
    import shutil

    from addok_spark.index.incremental import apply_actions

    root = tmp_path_factory.mktemp("cdc") / "idx"
    shutil.copytree(index_paths.root, root)
    live = corpus_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    ups = live.iloc[[2, 9, 30]].copy()
    # one token longer than max_edge_ngram + 1: its longest edge n-gram
    # is answered, the prefix one character longer is not
    ups["text"] = ["zqprefixmark alphabetical", "zqprefixmarker",
                   "zqpre zqprefixmarkerlongerthanmax"]
    dels = live.iloc[[4, 5, 6, 60]].copy()
    new = live.iloc[:3].copy()
    new["conv_id"] = "conv-zz-appended"
    batch = pd.concat([
        ups.assign(_action="index"),
        dels.assign(_action="delete"),
        new.assign(_action="index"),
    ], ignore_index=True)
    apply_actions(spark, str(root), spark.createDataFrame(batch), cfg)
    after = live.copy()
    after.loc[ups.index, "text"] = ups["text"]
    after = pd.concat([after.drop(dels.index), new], ignore_index=True)
    return str(root), OracleIndex(after, cfg)


def test_prefix_candidates_equal_oracle_exhaustively(
    index_paths, cfg, oracle, cdc_index
):
    """Serving answers autocomplete prefixes from the sorted in-RAM
    dictionary. Its answer must equal the oracle's own edge-n-gram
    enumeration for every edge n-gram of every token, for both caps,
    and for every prefix it must not answer — on the bulk index and
    after a CDC batch that adds, rewrites and removes tokens."""
    from addok_spark.serving.local import ParquetIndex

    probes = _assert_prefixes_match(ParquetIndex(index_paths, cfg), oracle, cfg)
    assert len(probes) > 1000

    root, after = cdc_index
    idx = ParquetIndex(root, cfg)
    assert idx.paths.version == 1
    assert idx.prefix_candidates("zqpre") == [
        "zqprefixmark", "zqprefixmarker", "zqprefixmarkerlongerthanmax",
    ]
    long_tok = "zqprefixmarkerlongerthanmax"
    assert idx.prefix_candidates(long_tok[: cfg.max_edge_ngram]) == [long_tok]
    assert idx.prefix_candidates(long_tok[: cfg.max_edge_ngram + 1]) == []
    _assert_prefixes_match(idx, after, cfg)


@pytest.mark.parametrize("phase", ["bulk", "cdc"])
def test_cooc_equals_oracle_exhaustively(
    index_paths, cfg, oracle, cdc_index, phase
):
    """Serving answers co-occurrence by intersecting two tokens'
    posting lists. It must equal the oracle's pair set on every
    co-occurring pair, as many non-pairs, common tokens with the
    tokens they share a doc with, a filter token, an absent token and
    a token with itself — on the bulk index and after a CDC batch."""
    from addok_spark.serving.local import ParquetIndex

    if phase == "bulk":
        idx, want = ParquetIndex(index_paths, cfg), oracle
    else:
        idx, want = ParquetIndex(cdc_index[0], cfg), cdc_index[1]
    probes = want.cooc_probes()
    hits = [p for p in probes if want.cooc(*p)]
    assert len(hits) == len(want.pairs) > 1000
    assert len(probes) > 2 * len(hits)
    assert any(
        want.df.get(a, 0) > cfg.common_threshold for p in probes for a in p
    )
    assert [p for p in probes if idx.cooc(*p) != want.cooc(*p)] == []
    # every probe read its tokens' docs only: none entered the block cache
    assert len(idx._blocks) == 0


def _store_rows(rows) -> list[dict]:
    """Every block row of a token, from its ``(group, a, b)`` ranges in
    the row-group store, as plain Python values in read order."""
    out = []
    for g, a, b in rows:
        pos_off, pos = g.cols["pos"]
        for r in range(a, b):
            lo, hi = g.off[r], g.off[r + 1]
            out.append({
                "n": int(g.cols["n"][r]),
                "max_boost": float(g.cols["max_boost"][r]),
                "min_doc": int(g.cols["min_doc"][r]),
                "max_doc": int(g.cols["max_doc"][r]),
                "docs": g.cols["docs"][lo:hi].tolist(),
                "tfs": g.cols["tfs"][lo:hi].tolist(),
                "boosts": g.cols["boosts"][lo:hi].tolist(),
                "pos": [pos[pos_off[i]:pos_off[i + 1]].tolist()
                        for i in range(lo, hi)],
            })
    return out


@pytest.mark.parametrize("phase", ["bulk", "cdc"])
def test_row_group_store_equals_dataset_filter_exhaustively(
    index_paths, cfg, cdc_index, phase
):
    """A token read binary-searches each admitted row group's sorted
    token list and slices the group's decoded numpy columns. For every
    dictionary token, ``f|`` filter tokens included, ``n``,
    ``max_boost``, ``min_doc``, ``max_doc`` and every block's docs,
    tfs, boosts and position lists must equal a filter on
    ``token == t`` over the whole blocks dataset — read from the store,
    through ``_TokenBlocks`` and through ``token_position_arrays``. An
    absent token, one inside a row group's token range and ones outside
    every group's range read no rows."""
    from collections import Counter

    import pyarrow.compute as pc

    from addok_spark.index.build import open_dataset
    from addok_spark.serving.local import ParquetIndex

    idx = ParquetIndex(index_paths if phase == "bulk" else cdc_index[0], cfg)
    cols = ["n", "max_boost", "min_doc", "max_doc", "docs", "tfs", "boosts",
            "pos"]
    full = open_dataset(idx.paths, "blocks").to_table(columns=["token"] + cols)
    toks = sorted(idx.df)
    assert any(t.startswith("f|") for t in toks)
    for t in toks:
        want = full.filter(pc.field("token") == t).select(cols).to_pylist()
        assert want, t
        got = _store_rows(idx._token_rows(t, cols))
        key = lambda r: r["min_doc"]  # noqa: E731 — unique per token
        assert sorted(got, key=key) == sorted(want, key=key), t
        # _TokenBlocks and the position stream read the same rows, in
        # the store's (file and row) order
        tb = idx._read_token_blocks(t)
        assert tb.n.tolist() == [r["n"] for r in got], t
        assert tb.ub.tolist() == [r["max_boost"] for r in got], t
        assert tb.mind.tolist() == [r["min_doc"] for r in got], t
        assert tb.maxd.tolist() == [r["max_doc"] for r in got], t
        for i, r in enumerate(got):
            docs, tfs, boosts = tb.decode_block(i)
            assert docs.tolist() == r["docs"], (t, i)
            if not t.startswith("f|"):
                assert tfs.tolist() == r["tfs"], (t, i)
                assert boosts.tolist() == r["boosts"], (t, i)
        pdocs, pos = idx.token_position_arrays(t)
        assert pdocs.tolist() == [
            d for r in got for d, p in zip(r["docs"], r["pos"]) for _ in p
        ], t
        assert pos.tolist() == [x for r in got for p in r["pos"] for x in p], t
    # some token's rows straddle row groups, so the slices concatenate
    assert max(Counter(
        t for g in idx._groups.values() for t in set(g.tokens)
    ).values()) > 1
    mins = [lo for lo, _, _ in idx._row_groups()]
    maxs = [hi for _, hi, _ in idx._row_groups()]
    inside = toks[len(toks) // 2] + "\x00"
    assert inside not in idx.df
    for t in ("", min(mins)[:-1], max(maxs) + "z", "\uffff", inside):
        assert idx._token_rows(t, cols) == [], t
        tb = idx._read_token_blocks(t)
        assert tb.n_blocks == 0 and all(len(a) == 0 for a in tb.full()), t
        assert [len(a) for a in idx.token_position_arrays(t)] == [0, 0], t


def test_single_group_token_reads_are_views(index_paths, cfg):
    """A token held by one row group is read without copying: its
    ``_TokenBlocks`` arrays, and the arrays ``full()`` returns, share
    memory with the group's decoded columns."""
    from addok_spark.serving.local import ParquetIndex

    idx = ParquetIndex(index_paths, cfg)
    single = [t for t in sorted(idx.df)
              if not t.startswith("f|") and len(idx._token_rows(t, [])) == 1]
    assert len(single) > 100
    multi_block = 0
    for t in single:
        tb = idx._token_blocks(t)
        (grp, _, _), = idx._token_rows(t, [])
        for arr, col in ((tb.n, "n"), (tb.ub, "max_boost"),
                         (tb.mind, "min_doc"), (tb.maxd, "max_doc"),
                         (tb._docs, "docs"), (tb._tfs, "tfs"),
                         (tb._boosts, "boosts")):
            assert np.shares_memory(arr, grp.cols[col]), (t, col)
        docs, tfs, boosts = tb.full()
        assert np.all(docs[1:] > docs[:-1]), t
        for arr, col in ((docs, "docs"), (tfs, "tfs"), (boosts, "boosts")):
            assert np.shares_memory(arr, grp.cols[col]), (t, col)
        multi_block += tb.n_blocks > 1
    assert multi_block > 0


def test_token_over_several_files_reads_in_file_order(spark, tmp_path):
    """After a CDC batch a token's postings sit in several pbucket
    files. A token read concatenates them in file order — the order of
    the snapshot's blocks files — and ``full()`` hands them back
    doc-sorted, with each doc's tf and boost."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from addok_spark.index.build import table_files
    from addok_spark.index.incremental import apply_actions
    from addok_spark.serving.local import ParquetIndex

    cfg = EngineConfig(
        build_partitions=4,
        doc_bucket_bits=2,
        pbucket_shift=1,   # 8 docs per pbucket: many files
        posting_block_size=4,
        common_threshold=1000,
    )
    schema = ("conv_id string, turn_idx int, role string, text string,"
              " tool string, importance double")
    rows = [(f"conv-{i:03d}", 0, "user", f"alpha tok{i:03d} omega", None,
             0.1 + i / 100) for i in range(32)]
    paths = build_index(spark, spark.createDataFrame(rows, schema), cfg,
                        str(tmp_path / "files"))
    new_rows = [(f"conv-{i:03d}", 0, "user", f"beta new{i:03d} omega", None,
                 0.3, "index") for i in range(32, 48)]
    new_rows.append(("conv-000", 0, "user", "alpha zeta omega", None, 0.9,
                     "index"))
    apply_actions(spark, paths,
                  spark.createDataFrame(new_rows, schema + ", _action string"),
                  cfg)
    idx = ParquetIndex(paths.root, cfg)
    files = [str(f) for f in table_files(idx.paths, "blocks")]
    for tok in ("omega", "alpha"):
        per_file = []
        for f in files:
            tbl = pq.read_table(f, columns=["token", "docs", "tfs", "boosts"])
            tbl = tbl.filter(pc.field("token") == tok)
            if tbl.num_rows:
                per_file.append({c: [x for v in tbl.column(c).to_pylist()
                                     for x in v]
                                 for c in ("docs", "tfs", "boosts")})
        assert len(per_file) > 2, tok
        want = {c: [x for part in per_file for x in part[c]]
                for c in ("docs", "tfs", "boosts")}
        tb = idx._token_blocks(tok)
        assert tb._docs.tolist() == want["docs"], tok
        assert tb._tfs.tolist() == want["tfs"], tok
        assert tb._boosts.tolist() == want["boosts"], tok
        docs, tfs, boosts = tb.full()
        order = np.argsort(want["docs"], kind="stable")
        assert docs.tolist() == sorted(want["docs"]), tok
        assert tfs.tolist() == np.array(want["tfs"])[order].tolist(), tok
        assert boosts.tolist() == np.array(
            want["boosts"], dtype=np.float32)[order].tolist(), tok
    # the rewritten pbucket's file comes after the others: file order is
    # not doc order, so full() really restores the sort
    omega = idx._token_blocks("omega")._docs
    assert not np.all(omega[1:] > omega[:-1])


def test_unsorted_blocks_row_group_raises(index_paths, cfg, tmp_path):
    """A blocks file whose rows are not sorted by token would hide
    postings from the binary search; the first read of such a row
    group raises instead of answering with a silent miss."""
    import shutil

    import pyarrow.parquet as pq

    from addok_spark.index.build import IndexPaths, table_files

    root = tmp_path / "idx"
    shutil.copytree(index_paths.root, root)
    f = str(table_files(IndexPaths(root).pin(), "blocks")[0])
    tbl = pq.ParquetFile(f).read()
    toks = tbl.column("token").to_pylist()
    j = next(i for i in range(len(toks) - 1)
             if toks[i] < toks[i + 1] and toks[i].isalpha())
    swapped = list(range(len(toks)))
    swapped[j], swapped[j + 1] = j + 1, j
    pq.write_table(tbl.take(swapped), f, row_group_size=len(toks))
    srv = LocalSearchEngine(str(root), cfg)
    with pytest.raises(ValueError, match="not sorted by token"):
        srv.search([Query(qid="u", q=toks[j], k=5)])


def test_prefetch_pool_survives_refresh(index_paths, cfg):
    """Cold multi-token queries read their tokens on one pool per
    process: twenty ``refresh()`` + query cycles leave at most the
    pool's eight threads behind."""
    import threading

    words = [t for t in LocalSearchEngine(index_paths, cfg).index.df
             if t.isalpha()]
    base = threading.active_count()
    srv = LocalSearchEngine(index_paths, cfg)
    for i in range(20):
        srv.refresh()
        srv.search([Query(qid=f"r{i}", q=" ".join(words[i:i + 4]), k=5)])
        assert srv.last_trace[0]["tokens_faulted"] == 4
    assert threading.active_count() <= base + 8


def test_serving_preload_hot(index_paths, cfg, oracle, corpus_pdf):
    eng = LocalSearchEngine(index_paths, cfg)
    n = eng.preload(25)
    assert n == 25
    # the 25 highest-df tokens' blocks are resident before any query
    hot = sorted(
        eng.index.df.items(), key=lambda kv: (-kv[1], kv[0])
    )[:25]
    assert all(eng.index._blocks.get(t) is not None for t, _ in hot)
    # results are unchanged by preloading
    q = Query(qid="p", q="the model output", k=5)
    got = eng.search([q])
    want = oracle_search(oracle, [q], cfg)
    assert list(got["doc_index"]) == list(want["doc_index"])
    # n larger than the vocabulary preloads everything and stops
    assert eng.preload(10**9) == len(eng.index.df)


def test_lru_concurrent_hits_are_safe():
    """ADVICE r4 (medium): the serving caches are shared across
    ThreadingHTTPServer request threads; the LRU hit path is a
    delete+reinsert that raced before the per-cache lock (loser's
    delitem → KeyError → HTTP 500). Hammer one hot key plus churn
    from many threads: no exception, size stays bounded, the hot key
    survives."""
    import threading

    from addok_spark.serving.local import _LRU

    lru = _LRU(maxsize=64)
    lru["hot"] = "v"
    errors = []
    stop = threading.Event()

    def hammer(tid):
        try:
            i = 0
            while not stop.is_set():
                assert lru.get("hot") in ("v", None)
                _ = lru.get(("miss", tid, i))
                lru[("churn", tid, i % 100)] = i
                lru["hot"] = "v"
                _ = lru["hot"]
                i += 1
        except Exception as e:  # pragma: no cover - failure path
            errors.append(e)

    threads = [threading.Thread(target=hammer, args=(t,)) for t in range(8)]
    for t in threads:
        t.start()
    import time as _time

    _time.sleep(1.5)
    stop.set()
    for t in threads:
        t.join()
    assert not errors, errors
    assert len(lru) <= 64
    assert lru.get("hot") == "v"


def test_refresh_after_cdc_equals_fresh_engine(spark, tmp_path):
    """After a CDC batch that doubles the pbucket space and rewrites
    one served doc, a warm engine's ``refresh()`` answers exactly like
    a fresh ``LocalSearchEngine`` on the new snapshot: no cache
    survives the swap, and old docs and the appended batch are both
    served."""
    from addok_spark.config import FieldSpec
    from addok_spark.index.incremental import apply_actions

    cfg = EngineConfig(
        fields=(FieldSpec("text", 1.0), FieldSpec("tool", 4.0)),
        build_partitions=4,
        doc_bucket_bits=2,
        pbucket_shift=1,   # 8 docs per pbucket: many pbuckets
        posting_block_size=4,
        common_threshold=1000,
    )
    rows = [
        (f"conv-{i:03d}", 0, "user", f"alpha tok{i:03d} omega", None, 0.1)
        for i in range(32)
    ]
    schema = ("conv_id string, turn_idx int, role string, text string,"
              " tool string, importance double")
    corpus = spark.createDataFrame(rows, schema)
    paths = build_index(spark, corpus, cfg, str(tmp_path / "refresh"))
    qs = [
        Query(qid="old", q="alpha tok001", k=10),
        Query(qid="new", q="beta new050", k=10),
        Query(qid="mix", q="alpha omega", k=10),
        Query(qid="mix2", q="beta gamma", k=10),
        Query(qid="omega", q="omega", k=10),
        Query(qid="upd", q="alpha tok000", k=10),
    ]
    srv = LocalSearchEngine(paths, cfg)
    before = srv.search(qs)   # warms every cache on the old snapshot
    before_t = [tuple(r) for r in before[["qid", "conv_id", "turn_idx"]].values]
    assert ("omega", "conv-000", 0) in before_t
    assert "new" not in set(before["qid"])
    pbuckets_before = len(srv.index.paths.table_entries("docs"))

    # append a batch that DOUBLES the doc space → max pbucket grows;
    # the upsert takes "omega" out of conv-000
    new_rows = [
        (f"conv-{i:03d}", 0, "user", f"beta new{i:03d} gamma omega", None,
         0.3, "index")
        for i in range(32, 64)
    ] + [("conv-000", 0, "user", "alpha tok000 zeta", None, 0.1, "index")]
    apply_actions(
        spark, paths,
        spark.createDataFrame(new_rows, schema + ", _action string"),
        cfg,
    )
    srv.refresh()
    assert len(srv.index.paths.table_entries("docs")) > pbuckets_before
    got = srv.search(qs)
    want = LocalSearchEngine(paths, cfg).search(qs)
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    got_t = [tuple(r) for r in got[["qid", "conv_id", "turn_idx"]].values]
    assert ("new", "conv-050", 0) in got_t
    assert ("old", "conv-001", 0) in got_t
    assert ("omega", "conv-000", 0) not in got_t
    assert "zeta" in got[got.qid == "upd"]["text"].iloc[0]


def _assert_same_row(got: dict, want: dict, where):
    """Same keys in the same order, and per key the same Python type
    and an equal value (NaN equal to NaN)."""
    assert list(got) == list(want), where
    for k, w in want.items():
        g = got[k]
        assert type(g) is type(w), (where, k, type(g), type(w))
        same = g == w or (isinstance(w, float) and np.isnan(w) and np.isnan(g))
        assert same, (where, k, g, w)


def test_doc_store_matches_pandas_rows_after_cdc(spark, tmp_path):
    """The columnar doc store answers ``doc(d)`` with exactly the row
    a pandas ``.loc[d].to_dict()`` over the same pbucket partition
    gives (keys, values and Python types: ``pd.Timestamp`` ts, ``None``
    tool, ``int`` ints), and ``folded_texts`` / ``doc_values`` agree
    with it (the ``dl`` column included: the length norm reads it).
    The CDC batch leaves a touched pbucket in several files, so the
    store's own sort by doc_index is what orders it."""
    import re

    import pyarrow.dataset as pads
    from pyspark.sql.types import StringType, StructField, StructType

    from addok_spark.data.transcripts import SCHEMA
    from addok_spark.functions.text import fold_str
    from addok_spark.index.build import IndexPaths, open_dataset
    from addok_spark.index.incremental import apply_actions

    cfg = EngineConfig(
        build_partitions=4,
        doc_bucket_bits=4,
        pbucket_shift=2,   # 64 docs per pbucket: many pbuckets
        posting_block_size=16,
        common_threshold=400,
    )
    corpus = transcripts_pdf(12, seed=11)
    paths = build_index(
        spark, transcripts_df(spark, 12, seed=11), cfg, str(tmp_path / "docstore")
    )
    live = corpus.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    ups = live.iloc[[3, 5, 40, 41, 42]].copy()
    ups["text"] = ups["text"] + " zqparity"
    dels = live.iloc[[4, 43, 100]].copy()
    new = live.iloc[:6].copy()
    new["conv_id"] = "conv-zz-appended"
    batch = pd.concat([
        ups.assign(_action="index"),
        dels.assign(_action="delete"),
        new.assign(_action="index"),
    ], ignore_index=True)
    schema = StructType(list(SCHEMA.fields) + [StructField("_action", StringType())])
    apply_actions(spark, paths, spark.createDataFrame(batch, schema), cfg)

    ds = open_dataset(IndexPaths(Path(paths.root)).pin(), "docs")
    files_per_pb: dict[int, int] = {}
    for f in ds.files:
        pb = int(re.search(r"pbucket=(\d+)", f).group(1))
        files_per_pb[pb] = files_per_pb.get(pb, 0) + 1
    assert max(files_per_pb.values()) >= 2, files_per_pb
    frames = {
        pb: ds.to_table(filter=pads.field("pbucket") == pb)
        .to_pandas().set_index("doc_index", drop=False)
        for pb in sorted(files_per_pb)
    }
    n_live = sum(len(f) for f in frames.values())
    assert n_live == len(live) - len(dels) + len(new)

    idx = LocalSearchEngine(paths, cfg).index
    cols = ("importance", "role", "tool", "ts", "turn_idx", "dl")
    for pb, frame in frames.items():
        docs = frame.index.to_numpy()
        fields = idx.doc_fields([(c, None) for c in cols], docs[::-1])
        for col in cols:
            got = idx.doc_values(col, docs[::-1])
            want = [frame.loc[d].to_dict()[col] for d in docs[::-1]]
            _assert_same_row(dict(enumerate(got)), dict(enumerate(want)),
                             (pb, col))
            # the numpy gather and the several-field gather hold the
            # same values
            for other in (idx.doc_array(col, docs[::-1]).tolist(), fields[col]):
                _assert_same_row(dict(enumerate(other)), dict(enumerate(want)),
                                 (pb, col))
        assert idx.doc_values("nope", docs[:2], default=0.0) == [0.0, 0.0]
        assert idx.doc_fields([("nope", None)], docs[:2]) == {"nope": [None, None]}
        with pytest.raises(KeyError):
            idx.doc_values("nope", docs[:2])
        for d in docs:
            want = frame.loc[d].to_dict()
            _assert_same_row(idx.doc(d), want, int(d))
        assert idx.folded_texts(docs[::-1]) == [
            fold_str(frame.loc[d].to_dict()["text"] or "") for d in docs[::-1]
        ]
    # across pbuckets, in any order: one value per doc, input order
    mixed = np.concatenate([f.index.to_numpy()[:2] for f in frames.values()])
    np.random.default_rng(0).shuffle(mixed)
    assert idx.doc_values("doc_index", mixed) == mixed.tolist()
    assert idx.doc_array("doc_index", mixed).tolist() == mixed.tolist()
    assert idx.doc_fields([("doc_index", None)], mixed) == {
        "doc_index": mixed.tolist()
    }


def test_search_builds_no_doc_rows(
    index_paths, oracle, corpus_pdf, cfg, monkeypatch
):
    """The search flow reads docs only by column: with ``doc()`` and
    the store's row builder made to raise, the reference set plus
    common, filtered and phrase queries answer, under both scorers and
    both search modes, exactly as the spec flow and the corpus oracle
    do."""
    import dataclasses

    from addok_spark.serving.local import ParquetIndex, _DocStore

    def no_rows(*a, **kw):
        raise AssertionError("the search flow built a doc row")

    monkeypatch.setattr(ParquetIndex, "doc", no_rows)
    monkeypatch.setattr(_DocStore, "row", no_rows)
    words = corpus_pdf["text"].iloc[0].split()
    queries = _queries(corpus_pdf) + [
        Query(qid="rb1", q="the of", k=10),
        Query(qid="rb2", q="the of to and", k=3),
        Query(qid="rb3", q=" ".join(words[:2]), k=10, filters={"role": ["user"]}),
        Query(qid="rb4", q=" ".join(words[:2]), k=10,
              filters={"role": ["user", "assistant"], "tool": ["python"]}),
        Query(qid="rb5", q=" ".join(words[1:4]), k=5, phrase=True),
    ]
    ref_cfg = dataclasses.replace(cfg, scorer="reference")
    for qcfg in (cfg, ref_cfg):
        got = LocalSearchEngine(index_paths, qcfg).search(queries)
        spec = LocalSearchEngine(index_paths, qcfg, mode="spec").search(queries)
        want = oracle_search(oracle, queries, qcfg)
        _assert_identical(got, spec, min_nonempty=10, score_rtol=0.0)
        _assert_identical(got, want, score_rtol=0.0)
        # the rendered fields are the oracle's row values
        cols = ["qid", "rank", "conv_id", "turn_idx", "role", "tool", "text"]
        pd.testing.assert_frame_equal(
            got[cols].sort_values(["qid", "rank"], ignore_index=True),
            want[cols].sort_values(["qid", "rank"], ignore_index=True),
        )


def test_search_analyzes_each_query_once(
    index_paths, corpus_pdf, cfg, monkeypatch
):
    """A search of N queries calls the analyzer N times: the flow
    analyzes each query once and feeds the same tokens and filter keys
    to the prefetch and to the plan."""
    from addok_spark.functions import text
    from addok_spark.oracle import bm25_oracle

    calls = []
    analyze = text.analyze_str

    def counting(*a, **kw):
        calls.append(a[0])
        return analyze(*a, **kw)

    monkeypatch.setattr(text, "analyze_str", counting)
    monkeypatch.setattr(bm25_oracle, "analyze_str", counting)
    queries = _equality_queries(corpus_pdf)
    LocalSearchEngine(index_paths, cfg).search(queries)
    assert sorted(calls) == sorted(q.q for q in queries)
