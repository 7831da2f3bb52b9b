"""Cream early-termination (reference core.py:400-419): a dry bucket
already holding a string match ≥ MATCH_THRESHOLD stops the relaxation
rounds. Answers are checked through the serving tier's FastSearch and
the spec flow against the corpus-built oracle; the number of
collection kernel calls (``run_gids``) shows whether relaxation ran.

The corpus is skewed: the first docs are two-token turns and the rest
are 40-token turns, with one unique six-token doc as the cream target.
"""

from pathlib import Path

import pandas as pd
import pytest

from addok_spark.config import EngineConfig
from addok_spark.index.build import build_index
from addok_spark.oracle.bm25_oracle import OracleIndex, SpecSearch, oracle_search
from addok_spark.query.engine import Query
from addok_spark.serving.local import FastSearch, ParquetIndex


def _skewed_corpus() -> pd.DataFrame:
    rows = []
    fillers = ["x1", "x2", "x3", "x4", "x5", "x6", "x7", "x8"]
    for i in range(96):
        if i == 0:
            text = "gamma delta eps zeta eta theta"  # unique doc (cream target)
        elif i < 8:
            text = "alpha beta"          # 2 tokens → boost 0.5 each
        else:
            text = "alpha beta " + " ".join(
                fillers[(i + j) % len(fillers)] for j in range(38)
            )                             # 40 tokens → boost 0.025
        rows.append(
            {
                "conv_id": f"conv-{i:08d}",
                "turn_idx": 0,
                "role": ["user", "assistant", "tool"][i % 3],
                "text": text,
                "tool": None,
                "ts": pd.Timestamp("2026-01-01") + pd.Timedelta(seconds=i),
                "importance": 0.0,
            }
        )
    return pd.DataFrame(rows)


@pytest.fixture(scope="module")
def cream_setup(spark, tmp_index_root):
    pdf = _skewed_corpus()
    cfg = EngineConfig(
        build_partitions=4,
        doc_bucket_bits=3,       # 8 docs per bucket → 12 buckets
        posting_block_size=8,
        build_pairs=False,
    )
    sdf = spark.createDataFrame(pdf)
    out = str(Path(tmp_index_root) / "cream_test")
    paths = build_index(spark, sdf, cfg, out)
    return pdf, cfg, paths


def _answers(paths, pdf, cfg, queries):
    """doc_index lists of the serving kernel, the spec flow (both over
    the index files) and the oracle, plus the number of ``run_gids``
    calls the serving flow made."""
    fast = FastSearch(ParquetIndex(paths, cfg), cfg)
    calls = []
    orig = fast.run_gids

    def counting(*a, **kw):
        calls.append(a[2])
        return orig(*a, **kw)

    fast.run_gids = counting
    served = fast.search(queries)
    spec = SpecSearch(ParquetIndex(paths, cfg), cfg).search(queries)
    want = oracle_search(OracleIndex(pdf, cfg), queries, cfg)
    return (
        [list(f["doc_index"]) for f in (served, spec, want)],
        len(calls),
    )


def test_cream_early_termination(cream_setup):
    """An exact full-text match (str_distance 1.0) in a dry bucket
    stops the relaxation rounds; ranks stay oracle-identical."""
    pdf, cfg, paths = cream_setup
    # unique-ish 2-token doc text as the query, made dry by a
    # third token that only co-occurs in few docs: use the exact
    # short doc text (matches 8 docs < bucket_min=10 → dry) —
    # cream must stop rounds 3/4
    queries = [Query(qid="c1", q="alpha beta x1 x2 x3", k=10)]
    (served, spec, want), _ = _answers(paths, pdf, cfg, queries)
    assert served == spec == want


def test_cream_reduces_rounds(cream_setup):
    pdf, cfg, paths = cream_setup
    # the query matches exactly ONE doc (dry: 1 < bucket_min=10)
    # whose text IS the query → cream stops before round 3. Six
    # meaningful tokens so the remove-1 margin condition
    # (len(meaningful)-1 > ceil(2/3·len(tokens)), collectors.py:123)
    # holds and the relaxation round WOULD run without cream
    q = [Query(qid="cr1", q="gamma delta eps zeta eta theta", k=10)]
    (served, spec, want), calls = _answers(paths, pdf, cfg, q)
    assert served == spec == want
    assert calls == 1  # round 1 only

    import dataclasses

    cfg_nc = dataclasses.replace(cfg, match_threshold=2.0)  # unreachable
    (served_nc, spec_nc, want_nc), calls_nc = _answers(paths, pdf, cfg_nc, q)
    assert served_nc == spec_nc == want_nc
    assert calls_nc > 1  # relaxation round paid


def test_cream_metric_not_fooled_by_containment(spark, tmp_index_root):
    """Cream uses the reference's str_distance metric (bigram
    compare_ngrams for non-autocomplete queries), NOT the compare_str
    tie-break key: a long turn that merely CONTAINS the query scores
    ~1.0 query-trigram recall under compare_str but far below
    MATCH_THRESHOLD under compare_ngrams, so relaxation rounds the
    reference would still run must not be skipped."""
    rows = []
    filler = " ".join(f"pad{j:02d}" for j in range(50))
    for i in range(24):
        if i == 0:
            text = (
                "zeta theta iota kappa lambda mu " + filler
            )  # CONTAINS the query verbatim
        else:
            text = f"misc{i:02d} " + " ".join(
                f"pad{(i + j) % 50:02d}" for j in range(10)
            )
        rows.append(
            {
                "conv_id": f"conv-{i:02d}",
                "turn_idx": 0,
                "role": "user",
                "text": text,
                "tool": None,
                "ts": pd.Timestamp("2026-01-01") + pd.Timedelta(seconds=i),
                "importance": 0.0,
            }
        )
    pdf = pd.DataFrame(rows)
    cfg = EngineConfig(
        build_partitions=2,
        doc_bucket_bits=3,
        posting_block_size=8,
        build_pairs=False,
        build_prefixes=False,
    )
    from addok_spark.functions.text import compare_ngrams, compare_str, fold_str

    # the trap: compare_str says "match", compare_ngrams says "no"
    label = fold_str(pdf["text"].iloc[0])
    QUERY = "zeta theta iota kappa lambda mu"  # 6 meaningful tokens so
    # the remove-1 margin condition holds (collectors.py:123) and the
    # relaxation round is applicable at all
    assert compare_str(QUERY, label) >= cfg.match_threshold
    assert compare_ngrams(label, QUERY) < cfg.match_threshold

    sdf = spark.createDataFrame(pdf)
    out = str(Path(tmp_index_root) / "cream_containment_test")
    paths = build_index(spark, sdf, cfg, out)
    q = [Query(qid="cc1", q=QUERY, k=10)]
    (served, spec, want), calls = _answers(paths, pdf, cfg, q)
    assert calls >= 2  # no cream stop: the relaxation round ran
    assert served == spec == want
