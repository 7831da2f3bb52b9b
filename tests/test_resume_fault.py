"""Checkpoint-resume under simulated mid-build failure (north_rule:
resumable from per-partition checkpoints with lineage + metrics)."""

import json
import shutil
from pathlib import Path

import pytest

from addok_spark.config import EngineConfig
from addok_spark.data.transcripts import transcripts_df
from addok_spark.index.build import build_index
from addok_spark.oracle.bm25_oracle import OracleIndex, oracle_search
from addok_spark.query.engine import Query, SearchEngine


@pytest.fixture()
def cfg():
    return EngineConfig(
        build_partitions=4, doc_bucket_bits=8, posting_block_size=32,
        common_threshold=400,
    )


def test_resume_after_partial_failure(spark, cfg, tmp_path, monkeypatch):
    from pyspark.sql.readwriter import DataFrameWriter

    out = str(tmp_path / "idx")
    corpus = transcripts_df(spark, 15, seed=42)
    # the reference: an uninterrupted build of the same corpus
    full = build_index(spark, corpus, cfg, str(tmp_path / "full"))
    full_stages = json.loads(full.manifest.read_text())["stages"]

    # a crash after the 'analyzed' and 'docs' stages: the blocks write
    # raises, so the later stages are lost (a finished build deletes
    # its analyzed scratch table, so only a real crash leaves one)
    real = DataFrameWriter.parquet

    def crashing(self, path, *a, **kw):
        if Path(path).name == "blocks":
            raise OSError(f"injected crash writing {path}")
        return real(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", crashing)
    with pytest.raises(OSError, match="injected crash"):
        build_index(spark, corpus, cfg, out)
    monkeypatch.undo()
    crashed = json.loads((Path(out) / full.manifest.name).read_text())["stages"]
    assert "blocks" not in crashed and "dictionary" not in crashed

    # resume: completes ONLY the missing stages (analyzed/docs kept)
    paths = build_index(spark, corpus, cfg, out, resume=True)
    m2 = json.loads(paths.manifest.read_text())["stages"]
    assert m2["analyzed"] == crashed["analyzed"]  # untouched
    assert m2["docs"] == crashed["docs"]
    assert m2["docs"]["rows"] == full_stages["docs"]["rows"]
    assert m2["blocks"]["rows"] == full_stages["blocks"]["rows"]
    assert m2["dictionary"]["rows"] == full_stages["dictionary"]["rows"]
    assert not (Path(out) / "_analyzed").exists()

    # the resumed index answers queries (autocomplete included)
    # rank-identically to the oracle
    corpus_pdf = corpus.toPandas()
    oracle = OracleIndex(corpus_pdf, cfg)
    words = corpus_pdf["text"].iloc[3].split()
    for q in (
        [Query(qid="r1", q=" ".join(words[:3]), k=5)],
        [Query(qid="r2", q=f"{words[0]} {words[1][:3]}", k=5, autocomplete=True)],
    ):
        got = SearchEngine(spark, paths, cfg).search(q).toPandas()
        want = oracle_search(oracle, q, cfg)
        assert list(got.sort_values("rank")["doc_index"]) == list(
            want.sort_values("rank")["doc_index"]
        )


def test_metrics_sidecars_exist(spark, cfg, tmp_path):
    """Per-snapshot metrics (lineage + counts) alongside each table
    (north_rule: 'metrics written alongside each Iceberg snapshot')."""
    out = str(tmp_path / "idx2")
    paths = build_index(spark, transcripts_df(spark, 8, seed=1), cfg, out)
    for d in (paths.docs, paths.blocks, paths.dictionary):
        side = Path(d) / "_metrics.json"
        assert side.exists(), d
        m = json.loads(side.read_text())
        assert m["rows"] > 0 and m["seconds"] >= 0
    meta = json.loads(paths.meta.read_text())
    assert meta["n_docs"] > 0 and "build_metrics" in meta
