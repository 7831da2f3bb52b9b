"""Physical-plan assertions: the Catalyst behaviors the engine relies
on must actually appear in the plans (predicate pushdown, column
pruning, broadcast joins, partition pruning on the pbucket layout)."""

import pytest

from pyspark.sql import functions as F

from addok_spark.config import EngineConfig
from addok_spark.data.transcripts import transcripts_df
from addok_spark.entry_queries import q_bm25_topk
from addok_spark.index.build import build_index

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _fmt(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_to_parquet(spark):
    df = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter(F.col("lang") == "en")
        .select("doc_id", "lang")
    )
    plan = _fmt(df)
    assert "PushedFilters" in plan
    assert "IsNotNull(lang)" in plan or "EqualTo(lang,en)" in plan


def test_column_pruning(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id")
    plan = _fmt(df)
    # the scan must not read the wide text column for a 1-col projection
    assert "ReadSchema" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" not in read_schema


def test_bm25_uses_broadcast_joins(spark):
    plan = _plan(q_bm25_topk(spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_round_pushes_token_infilter_into_blocks_scan(spark, tmp_index_root):
    """A token IN-list on the blocks table must be pushed into the
    parquet scan (a broadcast join alone pushes nothing — every read
    would re-read all packed binaries)."""
    from addok_spark.index.build import read_table

    cfg = EngineConfig(
        build_partitions=4, doc_bucket_bits=4, posting_block_size=16,
    )
    paths = build_index(
        spark, transcripts_df(spark, 10, seed=42), cfg,
        f"{tmp_index_root}/scanplan_idx",
    )
    blocks = read_table(spark, paths, "blocks")
    toks = sorted(
        r["token"]
        for r in blocks.select("token").distinct().limit(3).collect()
    )
    plan = _fmt(
        blocks.filter(F.col("token").isin(toks)).select("token", "n")
    )
    assert "PushedFilters" in plan
    assert "In(token" in plan or "EqualTo(token" in plan


def test_block_build_is_plain_spark_with_map_side_collect(spark, tmp_path):
    """The block build runs no Python past the analyzer, reads the
    analyzed table once (the f| filter postings of ``role`` and
    ``tool`` come from the same scan as the word postings), and its
    collect_list runs in two phases: a partial collect below the
    shuffle (one row per key per map task crosses it), the final one
    above."""
    from addok_spark.index.build import analyze_docs, build_blocks_from_analyzed

    cfg = EngineConfig(build_partitions=2)
    docs = spark.createDataFrame(
        [("c", 0, "user", "hello world", None, 0.1, 0),
         ("c", 1, "tool", "more words", "bash", 0.2, 1)],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, importance double, doc_index long",
    )
    analyze_docs(docs, cfg).write.parquet(str(tmp_path / "analyzed"))
    plan = _plan(build_blocks_from_analyzed(
        spark.read.parquet(str(tmp_path / "analyzed")), cfg
    ))
    for node in ("MapInArrow", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, plan
    assert plan.count("FileScan parquet") == 1, plan
    lines = plan.splitlines()
    ex = next(i for i, l in enumerate(lines) if "Exchange hashpartitioning" in l)
    assert any("partial_collect_list" in l for l in lines[ex + 1:]), plan
    assert not any("partial_collect_list" in l for l in lines[:ex]), plan
    assert any("collect_list" in l for l in lines[:ex]), plan


def test_pbucket_partition_pruning(spark, tmp_index_root):
    cfg = EngineConfig(
        build_partitions=4, doc_bucket_bits=2, pbucket_shift=1,
        posting_block_size=8,
    )
    paths = build_index(
        spark, transcripts_df(spark, 8, seed=42), cfg,
        f"{tmp_index_root}/plans_idx",
    )
    blocks = spark.read.parquet(paths.blocks).filter(F.col("pbucket") == 0)
    plan = _fmt(blocks)
    # pbucket is a directory-partition column → pruned at planning
    assert "PartitionFilters" in plan
    assert "pbucket" in plan


def test_retrieval_topk_never_broadcasts_full_vocab(spark):
    """retrieval_topk must not attach a broadcast HINT to the
    full-corpus vocabulary stats (df = tf.groupBy(token).count()):
    at transcript scale the vocabulary is hapax-heavy (billions of
    rows) and a forced broadcast OOMs. Hints are only allowed on the
    bounded relations (query_ids, the one-row corpus stats). Runtime
    auto-broadcast by AQE of the semi-joined-down df remains legal —
    this walks the ANALYZED logical plan, where the user hints live."""
    from addok_spark.pipelines.retrieval import retrieval_topk

    docs = spark.createDataFrame(
        [(i, f"tok{i} tok{i % 3} shared") for i in range(20)],
        "doc_id long, text string",
    )
    qids = spark.createDataFrame([(0,), (1,)], "qid long")
    out = retrieval_topk(docs, "doc_id", "text", qids, k=3)

    def walk(node):
        yield node
        for i in range(node.children().size()):
            yield from walk(node.children().apply(i))

    analyzed = out._jdf.queryExecution().analyzed()
    hints = [n for n in walk(analyzed) if "Hint" in n.nodeName()]
    assert hints, "bounded-side broadcast hints should still exist"
    for h in hints:
        sub = h.toString()
        # the vocabulary aggregate aliases its count as `df`; a hint
        # subtree containing that alias would broadcast the full vocab
        assert " AS df#" not in sub, (
            "broadcast hint wraps the full-vocabulary df aggregate:\n"
            + sub[:2000]
        )


def _walk(node):
    yield node
    for i in range(node.children().size()):
        yield from _walk(node.children().apply(i))


def test_duplicate_spans_has_no_broadcast_hints(spark):
    """The duplicated-window key set is corpus-vocabulary-scale, so
    duplicate_spans must leave EVERY join unhinted — the planner
    picks broadcast only from measured stats (AQE), never because
    the code forced it."""
    from addok_spark.pipelines.dedup import duplicate_spans

    docs = spark.createDataFrame(
        [(i, "one two three four five six seven eight nine") for i in range(8)],
        "id long, text string",
    )
    analyzed = duplicate_spans(docs, "id", "text")._jdf.queryExecution().analyzed()
    hints = [n for n in _walk(analyzed) if "Hint" in n.nodeName()]
    assert not hints, f"unexpected hint in duplicate_spans plan: {hints[0]}"


def test_semantic_topk_has_no_broadcast_hints(spark):
    """The query table is user-supplied and unbounded from the
    operator's point of view — no forced broadcast (the round-4
    retrieval lesson); the planner broadcasts from stats."""
    from addok_spark.pipelines.retrieval import semantic_topk

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    q = spark.createDataFrame(
        [(0, [1.0, 0.5]), (1, [0.5, 1.0])], "qid long, qv array<float>"
    )
    out = semantic_topk(emb, "vec_id", "embedding", q, "qid", "qv", k=2)
    analyzed = out._jdf.queryExecution().analyzed()
    hints = [n for n in _walk(analyzed) if "Hint" in n.nodeName()]
    assert not hints, f"unexpected hint in semantic_topk plan: {hints[0]}"


def test_dsir_hints_only_bounded_relations(spark):
    """dsir_weights may hint-broadcast ONLY the bounded relations
    (the 64-row bucket ratio table and the 1-row totals) — never the
    doc histogram or the raw feature stream."""
    from addok_spark.pipelines.sampling import dsir_weights

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma{i} delta") for i in range(10)],
        "doc_id long, text string",
    )
    target = docs.filter("doc_id < 3").select("doc_id")
    out = dsir_weights(docs, "doc_id", "text", target)
    analyzed = out._jdf.queryExecution().analyzed()
    hints = [n for n in _walk(analyzed) if "Hint" in n.nodeName()]
    assert hints, "the bounded ratio/totals broadcasts should exist"
    for h in hints:
        sub = h.toString()
        # a hint wrapping the per-doc histogram would carry its
        # aggregate alias `cnt`; the bounded tables carry log_ratio /
        # totals aliases only
        assert " AS cnt#" not in sub, (
            "broadcast hint wraps the per-doc histogram:\n" + sub[:2000]
        )


def test_rank_filter_plans_window_group_limit(spark):
    """r6: the per-key top-k sites dropped their manual two-level
    (salted/sharded) pre-pass in favor of Spark's WindowGroupLimit
    planning of the rank-filter pattern — partial (map-side, before
    the exchange) + final. Assert the bound actually plans, or a
    Zipf-head key's full set would hit one window task again."""
    from addok_spark.entry_queries import q_postings_topk
    from addok_spark.pipelines.retrieval import retrieval_topk

    plan = _plan(q_postings_topk(spark, SF))
    assert plan.count("WindowGroupLimit") >= 2, plan[:4000]

    docs = spark.createDataFrame(
        [(i, f"tok{i} tok{i % 3} shared") for i in range(20)],
        "doc_id long, text string",
    )
    qids = spark.createDataFrame([(0,), (1,)], "qid long")
    plan = _plan(retrieval_topk(docs, "doc_id", "text", qids, k=3))
    assert plan.count("WindowGroupLimit") >= 2, plan[:4000]
