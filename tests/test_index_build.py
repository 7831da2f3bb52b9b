"""Golden posting-table state tests (analog of the reference's exact
Redis-keyspace assertions, ``tests/test_index_utils.py:49-116``) plus
block-layout invariants and resume behavior."""

import json
from pathlib import Path

import numpy as np
import pytest

from pyspark.sql import functions as F

from addok_spark.config import EngineConfig, FieldSpec
from addok_spark.index.build import build_index


@pytest.fixture(scope="module")
def tiny_cfg():
    return EngineConfig(
        fields=(FieldSpec("text", 1.0), FieldSpec("tool", 4.0)),
        build_partitions=4,
        doc_bucket_bits=2,      # tiny buckets to exercise blocking
        posting_block_size=2,   # force multi-block posting lists
    )


@pytest.fixture(scope="module")
def tiny_corpus(spark):
    rows = [
        ("conv-a", 0, "user", "rue des Lilas", None, 0.5),
        ("conv-a", 1, "assistant", "rue des Lilas lilas", "grep", 0.5),
        ("conv-b", 0, "user", "avenue des Champs", None, 0.25),
        ("conv-b", 1, "tool", "rue du Général", "bash", 0.25),
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string,"
        " tool string, importance double"
    )


@pytest.fixture(scope="module")
def built(spark, tiny_corpus, tiny_cfg, tmp_index_root):
    out = str(Path(tmp_index_root) / "tiny")
    return build_index(spark, tiny_corpus, tiny_cfg, out)


def test_doc_ids_dense_and_ordered(spark, built):
    docs = spark.read.parquet(built.docs).orderBy("doc_index").collect()
    ids = [r["doc_index"] for r in docs]
    assert ids == list(range(4))
    keys = [(r["conv_id"], r["turn_idx"]) for r in docs]
    assert keys == sorted(keys)  # stable (conv_id, turn_idx) ordering


def test_text_roundtrip_equality(spark, built, tiny_corpus):
    """Per-turn text equality under stable ordering (input_hint)."""
    orig = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in tiny_corpus.collect()
    }
    stored = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in spark.read.parquet(built.docs).collect()
    }
    assert orig == stored


def test_golden_posting_state(spark, built, tiny_cfg):
    """Exact posting rows ≙ exact Redis keyspace (boost formula
    DEFAULT_BOOST/len(tokens)*field_boost + importance*0.1,
    index_utils tests' `zscore == 4/5` analog)."""
    dictionary = {
        r["token"]: r
        for r in spark.read.parquet(built.dictionary).collect()
    }
    # 'rue' appears in docs 0,1,3 → df=3
    assert dictionary["rue"]["df"] == 3
    assert dictionary["lilas"]["df"] == 2
    assert dictionary["lilas"]["cf"] == 3  # tf 1 + tf 2
    assert dictionary["lilas"]["max_tf"] == 2
    # 'lilas' boosts: doc0 "rue des Lilas" (3 toks) → 1/3 + 0.5*0.1;
    # doc1 (4 toks) → 1/4 + 0.05; max = doc0's (shorter field boosts
    # more, addok/helpers/index.py:30-37)
    expected = np.float32(1.0 / 3 + 0.05)
    assert dictionary["lilas"]["max_boost"] == pytest.approx(float(expected))
    # tool field boost: 'grep' = 1/1*4 + 0.05
    assert dictionary["grep"]["max_boost"] == pytest.approx(
        float(np.float32(4.0 + 0.05))
    )


def test_blocks_pack_and_split(spark, built, tiny_cfg):
    blocks = spark.read.parquet(built.blocks).filter(F.col("token") == "rue")
    rows = blocks.orderBy("bucket", "block_id").collect()
    all_docs = []
    for r in rows:
        docs = r["docs"]
        assert r["n"] == len(docs)
        assert r["min_doc"] == docs[0] and r["max_doc"] == docs[-1]
        assert len(docs) <= tiny_cfg.posting_block_size
        all_docs += docs
    assert all_docs == sorted(all_docs) == [0, 1, 3]


def test_dl_and_meta(spark, built):
    meta = json.loads(built.meta.read_text())
    assert meta["n_docs"] == 4
    docs = {r["doc_index"]: r["dl"] for r in spark.read.parquet(built.docs).collect()}
    # doc 1: 4 text tokens + 1 tool token
    assert docs[1] == 5
    assert meta["avgdl"] == pytest.approx(sum(docs.values()) / 4)


def test_prefix_table(built, tiny_cfg):
    """Autocomplete candidates come from the dictionary: a token is
    offered under its edge n-grams (min..max_edge_ngram characters,
    shorter than the token) and nowhere else; no prefixes table or
    manifest stage is written."""
    from addok_spark.serving.local import ParquetIndex

    idx = ParquetIndex(built, tiny_cfg)
    got = {
        p for p in ("li", "lil", "lila", "lilas", "lilasx")
        if "lilas" in idx.prefix_candidates(p)
    }
    assert got == {"lil", "lila"}
    assert idx.prefix_candidates("gen") == ["general"]  # folded "Général"
    # filter tokens are never offered
    assert "f|role|user" in idx.df
    assert idx.prefix_candidates("f|r") == []
    assert not Path(built.prefixes).exists()
    assert "prefixes" not in json.loads(built.manifest.read_text())["stages"]


def test_vectorized_analyzer_equals_pandas_udf(spark, tiny_corpus):
    """`_make_doc_analyzer` (Arrow-native, vectorized) must produce
    per-doc token aggregates identical to the pandas-UDF reference
    twin `make_doc_tokens_udf` — token set, tf, boost (importance
    folded in), position lists, and dl — including synonym
    expansion. Struct ORDER within a doc is unspecified (code order vs
    first-occurrence), so compare as sets."""
    from pyspark.sql import functions as F

    from addok_spark.index.build import analyze_docs, make_doc_tokens_udf

    cfg = EngineConfig(
        fields=(FieldSpec("text", 1.0), FieldSpec("tool", 4.0)),
        synonyms=(("avenue", "av"), ("rue", "r")),
    )
    docs = tiny_corpus.withColumn("doc_index", F.monotonically_increasing_id())

    new = analyze_docs(docs, cfg).select("doc_index", "__an").collect()
    udf = make_doc_tokens_udf(cfg, ["text", "tool"])
    old = docs.withColumn(
        "__an", udf(F.col("text"), F.col("tool"), F.col("importance"))
    ).select("doc_index", "__an").collect()

    def canon(rows):
        return {
            r["doc_index"]: (
                r["__an"].dl,
                frozenset(
                    (t.token, t.tf, tuple(t.pos), round(t.boost, 6))
                    for t in r["__an"].toks
                ),
            )
            for r in rows
        }

    got, want = canon(new), canon(old)
    assert got == want
    # synonyms actually fired (rue → r)
    all_toks = {t for _, ts in got.values() for (t, *_rest) in ts}
    assert "r" in all_toks and "rue" not in all_toks


def test_local_pack_blocks_equal_exploded_path(spark, built, tiny_cfg):
    """The Spark block build over analyzed docs must emit exactly the
    block rows of the per-group reference `_pack_group` over the same
    postings (the analyzer's token entries plus one f| posting per
    trimmed, non-empty filter value, collected here in Python),
    grouped by (token, bucket) and doc-sorted — including f| filter
    postings, multi-block runs and multi-bucket salting (two docs per
    bucket, one posting per block)."""
    import dataclasses
    from itertools import groupby

    import numpy as np

    from addok_spark.index.build import _pack_group, build_blocks_from_analyzed

    from addok_spark.index.build import analyze_docs

    cfg = dataclasses.replace(tiny_cfg, doc_bucket_bits=1, posting_block_size=1)
    # the build deletes its analyzed scratch table: analyze the built
    # docs again (the same doc columns, doc_index included)
    analyzed = analyze_docs(
        spark.read.parquet(built.docs).drop("dl", "pbucket"), tiny_cfg
    )
    rows = analyzed.select("doc_index", "__an", *cfg.filter_fields).collect()
    postings = [
        (tk.token, r.doc_index, tk.tf, tk.boost, tk.pos)
        for r in rows for tk in r["__an"].toks
    ] + [
        (f"f|{f}|{r[f].strip()}", r.doc_index, 1, 0.0, [])
        for r in rows for f in cfg.filter_fields
        if r[f] is not None and r[f].strip()
    ]
    postings = sorted(
        (tok, doc >> cfg.doc_bucket_bits, doc, tf, boost, pos)
        for tok, doc, tf, boost, pos in postings
    )
    want = {}
    for (tok, bucket), grp in groupby(postings, key=lambda p: p[:2]):
        g = list(grp)
        for blk in _pack_group(
            tok, bucket,
            np.array([p[2] for p in g]), np.array([p[3] for p in g]),
            np.array([p[4] for p in g]), [p[5] for p in g],
            cfg.posting_block_size,
        ):
            want[(tok, bucket, blk["block_id"])] = blk

    got = {}
    for r in build_blocks_from_analyzed(analyzed, cfg).collect():
        row = r.asDict()
        assert row.pop("pbucket") == row["bucket"] >> cfg.pbucket_shift
        got[(r.token, r.bucket, r.block_id)] = row
    assert set(got) == set(want)
    assert any(k[0].startswith("f|") for k in got)
    assert max(k[2] for k in got) > 0  # multi-block runs
    assert len({k[1] for k in got}) > 1  # multi-bucket salting
    for k, r in want.items():
        assert got[k] == r, k


def test_local_pack_filter_cast_parity_numeric_field(spark, tmp_index_root):
    """f| filter keys for NON-string filter columns must use Spark
    cast semantics (1.0 → '1.0'), not Arrow's ('1') — the query side
    builds keys with Spark casts, so a divergence silently breaks
    every filtered query on that field."""
    from pyspark.sql import functions as F

    from addok_spark.index.build import build_index

    cfg = EngineConfig(
        fields=(FieldSpec("text", 1.0),),
        filter_fields=("year",),
        build_partitions=2,
        doc_bucket_bits=4,
    )
    rows = [("c", 0, "hello world", 2024.0), ("c", 1, "more text", None)]
    docs = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, year double"
    )
    out = str(Path(tmp_index_root) / "numfilter")
    paths = build_index(spark, docs, cfg, out)
    ftoks = {
        r.token
        for r in spark.read.parquet(paths.blocks)
        .filter(F.col("token").startswith("f|"))
        .select("token")
        .collect()
    }
    assert ftoks == {"f|year|2024.0"}  # Spark cast spelling, null dropped


def test_analyzer_empty_synonym_target_and_no_fields(spark):
    """Falsy synonym targets keep the original token (the reference
    `if repl` check); a docs frame with NO configured field columns
    analyzes to empty token lists instead of crashing."""
    from addok_spark.index.build import analyze_docs

    cfg = EngineConfig(
        fields=(FieldSpec("text", 1.0),), synonyms=(("foo", ""),)
    )
    docs = spark.createDataFrame(
        [(0, "foo bar")], "doc_index long, text string"
    )
    toks = {
        t.token
        for r in analyze_docs(docs, cfg).select("__an").collect()
        for t in r["__an"].toks
    }
    assert toks == {"foo", "bar"}  # '' not injected, foo kept

    nofield = spark.createDataFrame([(0, 1.5)], "doc_index long, x double")
    got = analyze_docs(nofield, cfg).select("__an").collect()
    assert got[0]["__an"].toks == [] and got[0]["__an"].dl == 0


def _boost(index, token: str, d: int) -> float:
    """Posting boost of ``token`` in doc ``d`` (0.0 when absent)."""
    return float(index.tf_boost_many(token, [d])[1][0])


ALT_ROWS = [
    ("c", 0, "user", "Vernou-la-Celle-sur-Seine", None, 0.0, ["Vernou"]),
    ("c", 1, "user", "rue des Lilas", "grep", 0.5, None),
    ("c", 2, "user", "avenue des Champs", None, 0.25,
     ["Champs", "avenue verte des champs"]),
    ("c", 3, "user", "boulevard Voltaire", "bash", 0.0, []),
]
ALT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string,"
    " tool string, importance double, alt_texts array<string>"
)


def test_list_value_variants_weights(spark, tmp_index_root):
    """≙ reference test_allow_list_values
    (tests/test_index_utils.py:170-183): a list-valued name indexes
    every variant, each weighted by ITS OWN token count — w|vernou ==
    field boost 4 (1-token variant), w|celle == 4/5 (5-token
    variant) — and tf folds across variants."""
    cfg = EngineConfig(
        fields=(FieldSpec("text", 4.0), FieldSpec("tool", 1.0)),
        build_partitions=2, doc_bucket_bits=2, posting_block_size=4,
    )
    df = spark.createDataFrame(ALT_ROWS, ALT_SCHEMA)
    paths = build_index(
        spark, df, cfg, str(Path(tmp_index_root) / "altidx")
    )
    docs = spark.read.parquet(paths.docs)
    d0 = docs.filter(F.col("turn_idx") == 0).collect()[0]
    from addok_spark.serving.local import ParquetIndex

    idx = ParquetIndex(str(paths.root), cfg)
    d = int(d0["doc_index"])
    tfs, boosts = idx.tf_boost_many("vernou", [d])
    assert tfs[0] == 2 and abs(boosts[0] - 4.0) < 1e-6
    tfs, boosts = idx.tf_boost_many("celle", [d])
    assert tfs[0] == 1 and abs(boosts[0] - 4 / 5) < 1e-6
    assert idx.doc_values("dl", [d]) == [6]
    # deindex parity (tests/test_index_utils.py:185-201): deleting the
    # doc removes its variant postings too
    from addok_spark.index.incremental import apply_actions

    ch = spark.createDataFrame(
        [("c", 0, "user", None, None, 0.0, None, "delete")],
        ALT_SCHEMA + ", _action string",
    )
    apply_actions(spark, paths, ch, cfg)
    idx2 = ParquetIndex(str(paths.root), cfg)
    assert idx2.posting_count("vernou") == 0
    assert idx2.posting_count("celle") == 0


def test_vectorized_analyzer_equals_pandas_udf_with_alt(spark):
    """Alt-variant segments must keep the vectorized analyzer and the
    pandas twin identical (token set, tf, boost, position lists,
    dl) including synonyms inside variants."""
    from addok_spark.index.build import analyze_docs, make_doc_tokens_udf

    cfg = EngineConfig(
        fields=(FieldSpec("text", 4.0), FieldSpec("tool", 1.0)),
        synonyms=(("avenue", "av"),),
    )
    docs = spark.createDataFrame(ALT_ROWS, ALT_SCHEMA).withColumn(
        "doc_index", F.monotonically_increasing_id()
    )
    new = analyze_docs(docs, cfg).select("doc_index", "__an").collect()
    udf = make_doc_tokens_udf(cfg, ["text", "tool"], with_alt=True)
    old = docs.withColumn(
        "__an",
        udf(F.col("text"), F.col("tool"), F.col("alt_texts"),
            F.col("importance")),
    ).select("doc_index", "__an").collect()

    def canon(rows):
        return {
            r["doc_index"]: (
                r["__an"].dl,
                frozenset(
                    (t.token, t.tf, tuple(t.pos), round(t.boost, 6))
                    for t in r["__an"].toks
                ),
            )
            for r in rows
        }

    assert canon(new) == canon(old)


def test_boost_col_overrides_field_boost(spark, tmp_index_root):
    """≙ reference test_should_be_possible_to_override_boost_with_callable
    (tests/test_index_utils.py:247-263): a per-document boost — a
    callable in the reference, a numeric COLUMN here (callables don't
    vectorize; column expressions do) — replaces the field's static
    boost: w|lilas == 5, w|cergy == 1; null falls back to the static
    boost. Vectorized analyzer and pandas twin stay bit-identical."""
    from addok_spark.index.build import analyze_docs, make_doc_tokens_udf
    from addok_spark.serving.local import ParquetIndex

    cfg = EngineConfig(
        fields=(
            FieldSpec("text", 1.0, boost_col="text_boost"),
            FieldSpec("tool", 1.0),
        ),
        build_partitions=2, doc_bucket_bits=2, posting_block_size=4,
    )
    rows = [
        ("c", 0, "user", "Lilas", "Cergy", 0.0, 5.0),
        ("c", 1, "user", "Voltaire", None, 0.0, None),  # null → static
    ]
    schema = ("conv_id string, turn_idx int, role string, text string,"
              " tool string, importance double, text_boost double")
    df = spark.createDataFrame(rows, schema)
    paths = build_index(
        spark, df, cfg, str(Path(tmp_index_root) / "bcol")
    )
    idx = ParquetIndex(str(paths.root), cfg)
    docs = {
        r["turn_idx"]: int(r["doc_index"])
        for r in spark.read.parquet(paths.docs).collect()
    }
    assert abs(_boost(idx, "lilas", docs[0]) - 5.0) < 1e-6
    assert abs(_boost(idx, "cergy", docs[0]) - 1.0) < 1e-6
    assert abs(_boost(idx, "voltaire", docs[1]) - 1.0) < 1e-6
    # twin equivalence with the boost column in play
    docs_df = df.withColumn("doc_index", F.monotonically_increasing_id())
    new = analyze_docs(docs_df, cfg).select("doc_index", "__an").collect()
    udf = make_doc_tokens_udf(cfg, ["text", "tool"])
    old = docs_df.withColumn(
        "__an",
        udf(F.col("text"), F.col("tool"), F.col("text_boost"),
            F.col("importance")),
    ).select("doc_index", "__an").collect()

    def canon(rs):
        return {
            r["doc_index"]: (
                r["__an"].dl,
                frozenset(
                    (t.token, t.tf, tuple(t.pos), round(t.boost, 6))
                    for t in r["__an"].toks
                ),
            )
            for r in rs
        }

    assert canon(new) == canon(old)
    # oracle mirrors the same per-doc boost override
    import pandas as pd

    from addok_spark.oracle.bm25_oracle import OracleIndex

    pdf = pd.DataFrame(
        [list(r) for r in rows],
        columns=["conv_id", "turn_idx", "role", "text", "tool",
                 "importance", "text_boost"],
    )
    oi = OracleIndex(pdf, cfg)
    assert abs(_boost(oi, "lilas", 0) - 5.0) < 1e-6
    assert abs(_boost(oi, "cergy", 0) - 1.0) < 1e-6
    assert abs(_boost(oi, "voltaire", 1) - 1.0) < 1e-6


def test_allow_null_false_drops_doc(spark, tmp_index_root):
    """≙ reference test_doc_with_null_value_should_not_be_index_if_not_allowed
    (tests/test_index_utils.py:266-281): with ``null=False`` on a
    field, a document whose value is null or blank is not indexed at
    all — no doc row, no postings from its OTHER fields either."""
    cfg = EngineConfig(
        fields=(
            FieldSpec("text", 1.0, allow_null=False),
            FieldSpec("tool", 4.0),
        ),
        build_partitions=2,
        doc_bucket_bits=2,
        posting_block_size=4,
    )
    rows = [
        ("c", 0, "user", "rue des Lilas", None, 0.0),
        ("c", 1, "user", "", "cergy", 0.0),        # blank text → dropped
        ("c", 2, "user", "   ", None, 0.0),        # whitespace → dropped
        ("c", 3, "user", None, "bash", 0.0),       # null → dropped
        ("c", 4, "user", "avenue Voltaire", None, 0.0),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string,"
        " tool string, importance double"
    )
    paths = build_index(
        spark, df, cfg, str(Path(tmp_index_root) / "nullf")
    )
    docs = spark.read.parquet(paths.docs)
    assert sorted(
        r["turn_idx"] for r in docs.select("turn_idx").collect()
    ) == [0, 4]
    toks = {
        r["token"] for r in spark.read.parquet(paths.dictionary).collect()
    }
    # the dropped doc's tool tokens must not leak into the index
    assert "cergy" not in toks and "bash" not in toks
    # default config (allow_null=True) keeps all five docs
    cfg2 = EngineConfig(
        fields=(FieldSpec("text", 1.0), FieldSpec("tool", 4.0)),
        build_partitions=2, doc_bucket_bits=2, posting_block_size=4,
    )
    p2 = build_index(spark, df, cfg2, str(Path(tmp_index_root) / "nullt"))
    assert spark.read.parquet(p2.docs).count() == 5


def test_resume_skips_completed_stages(spark, tiny_corpus, tiny_cfg, built):
    manifest = json.loads(built.manifest.read_text())
    before = manifest["stages"]["blocks"]
    # rebuild with resume=True → stage untouched
    build_index(spark, tiny_corpus, tiny_cfg, str(built.root), resume=True)
    after = json.loads(built.manifest.read_text())["stages"]["blocks"]
    assert before == after


def test_callable_boost_matches_reference_scenario(spark, tmp_index_root):
    """≙ reference test_should_be_possible_to_override_boost_with_callable
    (tests/test_index_utils.py:247-263) with the ACTUAL callable:
    FIELDS boost=lambda doc: 5 on the primary field → w|lilas == 5
    while the other field keeps boost 1 (w|cergy == 1). The callable
    sees the document as a dict of source columns; here it reads one
    to prove per-DOCUMENT evaluation, not a constant fold."""
    from addok_spark.serving.local import ParquetIndex

    cfg = EngineConfig(
        fields=(
            FieldSpec("text", 1.0, boost_fn=lambda doc: doc["importance"] * 10),
            FieldSpec("tool", 1.0),
        ),
        build_partitions=2, doc_bucket_bits=2, posting_block_size=4,
    )
    rows = [
        ("c", 0, "user", "Lilas", "Cergy", 0.5),   # fn → 5.0
        ("c", 1, "user", "Voltaire", None, 0.2),   # fn → 2.0
    ]
    schema = ("conv_id string, turn_idx int, role string, text string,"
              " tool string, importance double")
    df = spark.createDataFrame(rows, schema)
    paths = build_index(
        spark, df, cfg, str(Path(tmp_index_root) / "bfn")
    )
    idx = ParquetIndex(str(paths.root), cfg)
    docs = {
        r["turn_idx"]: int(r["doc_index"])
        for r in spark.read.parquet(paths.docs).collect()
    }
    # w|lilas = 5/1-token + importance*0.1; w|cergy = 1 + imp*0.1
    assert abs(_boost(idx, "lilas", docs[0]) - (5.0 + 0.05)) < 1e-6
    assert abs(_boost(idx, "cergy", docs[0]) - (1.0 + 0.05)) < 1e-6
    assert abs(_boost(idx, "voltaire", docs[1]) - (2.0 + 0.02)) < 1e-6


def test_callable_boost_sees_none_not_nan_and_rejects_nonfinite(spark):
    """r5 advisor finding: pandas hands the callable NaN for null
    numeric fields (truthy, poisons arithmetic silently). The
    materializer must (a) convert nulls to None like the reference's
    plain doc dict, and (b) raise a clear error naming the field when
    the callable returns a non-finite boost."""
    from addok_spark.index.build import materialize_callable_boosts

    rows = [("c", 0, "user", "hello", None), ("c", 1, "user", "world", 0.5)]
    schema = ("conv_id string, turn_idx int, role string, text string,"
              " importance double")
    df = spark.createDataFrame(rows, schema)

    # (a) None arrives as None → the guard branch works
    cfg = EngineConfig(
        fields=(
            FieldSpec(
                "text", 1.0,
                boost_fn=lambda d: (d["importance"] or 0.0) * 10 + 1,
            ),
        ),
    )
    out, cfg2 = materialize_callable_boosts(df, cfg)
    col = cfg2.fields[0].boost_col
    got = {r["turn_idx"]: r[col] for r in out.collect()}
    assert got == {0: 1.0, 1: 6.0}

    # (b) an unguarded multiply on a null field → loud error naming
    # the field, not NaN-poisoned posting weights
    cfg_bad = EngineConfig(
        fields=(
            FieldSpec("text", 1.0, boost_fn=lambda d: d["importance"] * 10),
        ),
    )
    out_bad, _ = materialize_callable_boosts(df, cfg_bad)
    with pytest.raises(Exception, match="text"):
        out_bad.collect()


def _persisted_rdds(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.mark.parametrize("fail_on", [None, "_analyzed", "blocks"])
def test_build_releases_persisted_relations(spark, tiny_corpus, tiny_cfg,
                                            tmp_path, monkeypatch, fail_on):
    """The id assigner's persisted input is released when the build
    returns AND when a stage write raises ("_analyzed": the write that
    reads it; "blocks": a later stage)."""
    from pyspark.sql.readwriter import DataFrameWriter

    out = str(tmp_path / "idx")
    before = _persisted_rdds(spark)
    if fail_on is None:
        build_index(spark, tiny_corpus, tiny_cfg, out)
        assert _persisted_rdds(spark) == before
        return

    real = DataFrameWriter.parquet

    def failing(self, path, *a, **kw):
        if Path(path).name == fail_on:
            raise OSError(f"injected failure writing {path}")
        return real(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing)
    with pytest.raises(OSError, match="injected"):
        build_index(spark, tiny_corpus, tiny_cfg, out)
    assert _persisted_rdds(spark) == before


def test_build_deletes_analyzed_scratch_and_resumes(spark, tiny_corpus,
                                                   tiny_cfg, tmp_path):
    """A finished build leaves no ``_analyzed`` scratch table behind,
    and resuming it reads none: a second ``build_index`` with
    ``resume=True`` succeeds and changes no table file and no
    ``meta.json``."""
    import hashlib

    def files(root: Path) -> dict[str, str]:
        return {
            str(f.relative_to(root)): hashlib.sha256(f.read_bytes()).hexdigest()
            for f in sorted(root.rglob("*")) if f.is_file()
        }

    out = tmp_path / "idx"
    paths = build_index(spark, tiny_corpus, tiny_cfg, str(out))
    assert not (out / "_analyzed").exists()
    tables = [Path(getattr(paths, t))
              for t in ("docs", "blocks", "dict_partials", "dictionary")]
    before = [files(t) for t in tables]
    meta = paths.meta.read_text()
    assert all(before) and '"analyzed"' in meta
    again = build_index(spark, tiny_corpus, tiny_cfg, str(out), resume=True)
    assert not (out / "_analyzed").exists()
    assert [files(t) for t in tables] == before
    assert again.meta.read_text() == meta


def test_unreadable_docs_footer_fails_the_build(spark, tiny_corpus, tiny_cfg,
                                                tmp_path, monkeypatch):
    """The docs stage's footer row count becomes meta.json's n_docs
    (the BM25 idf input): a docs file whose footer cannot be read
    fails the build instead of being skipped, and no meta.json is
    written."""
    import pyarrow.parquet as pq

    real = pq.ParquetFile
    failed = []

    def flaky(path, *a, **kw):
        if not failed and "docs" in Path(path).parts:
            failed.append(path)
            raise OSError(f"injected unreadable footer {path}")
        return real(path, *a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", flaky)
    paths_root = tmp_path / "idx"
    with pytest.raises(OSError, match="unreadable footer"):
        build_index(spark, tiny_corpus, tiny_cfg, str(paths_root))
    assert failed
    assert not (paths_root / "meta.json").exists()


def test_filter_postings_of_list_and_null_values(spark):
    """f| postings come from the same row as the word postings: a list
    value gives one posting per trimmed, non-empty element, and a null
    list or value drops only its own postings, never the doc's words."""
    from addok_spark.index.build import analyze_docs, build_blocks_from_analyzed

    cfg = EngineConfig(fields=(FieldSpec("text", 1.0),), build_partitions=2)
    docs = spark.createDataFrame(
        [("c", 0, "user", "hello world", ["bash", " python ", "", None], 0),
         ("c", 1, None, "more words", None, 1)],
        "conv_id string, turn_idx int, role string, text string,"
        " tool array<string>, doc_index long",
    )
    blocks = build_blocks_from_analyzed(analyze_docs(docs, cfg), cfg)
    got = {(r.token, d) for r in blocks.collect() for d in r.docs}
    assert got == {
        ("hello", 0), ("world", 0), ("more", 1), ("words", 1),
        ("f|role|user", 0), ("f|tool|bash", 0), ("f|tool|python", 0),
    }


def _jobs_in_group(spark, group: str, fn):
    """(fn's result, the number of Spark jobs it ran), counted through
    a job group on this thread."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_docs_meta_reads_sum_dl_from_the_docs_write(spark, tiny_corpus,
                                                    tiny_cfg, tmp_path):
    """The docs write collects Σdl itself (an observation on its own
    job) into the docs stage's manifest entry, next to ``rows``, so the
    ``docs_meta`` stage runs no Spark job: ``meta.json``'s n_docs,
    sum_dl and avgdl equal a recount of the docs table. A manifest
    without the key (an older build, resumed) still gets the same
    figures, from an aggregate over the docs table."""
    import uuid

    out = tmp_path / "idx"
    paths = build_index(spark, tiny_corpus, tiny_cfg, str(out))
    docs = spark.read.parquet(paths.docs)
    n_docs = docs.count()
    sum_dl = docs.agg(F.sum("dl")).collect()[0][0]
    meta = json.loads(paths.meta.read_text())
    assert (meta["n_docs"], meta["sum_dl"]) == (n_docs, sum_dl) == (4, 15)
    assert meta["avgdl"] == sum_dl / n_docs
    manifest = json.loads(paths.manifest.read_text())
    assert manifest["stages"]["docs"]["sum_dl"] == sum_dl

    def rerun_docs_meta(drop_key: bool) -> int:
        m = json.loads(paths.manifest.read_text())
        del m["stages"]["docs_meta"]
        if drop_key:
            del m["stages"]["docs"]["sum_dl"]
        paths.manifest.write_text(json.dumps(m))
        paths.meta.unlink()
        group = f"docs-meta-{uuid.uuid4().hex}"
        _, jobs = _jobs_in_group(spark, group, lambda: build_index(
            spark, tiny_corpus, tiny_cfg, str(out), resume=True
        ))
        again = json.loads(paths.meta.read_text())
        assert {k: again[k] for k in ("n_docs", "sum_dl", "avgdl")} == {
            k: meta[k] for k in ("n_docs", "sum_dl", "avgdl")
        }
        return jobs

    assert rerun_docs_meta(drop_key=False) == 0
    assert rerun_docs_meta(drop_key=True) >= 1
