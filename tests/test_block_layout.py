"""Posting-block layout: payloads are native Parquet list columns
(``docs`` absolute ascending, ``tfs``, ``boosts``, one ``pos`` list per
posting). Every block row must agree with its own metadata, after the
bulk build and after a CDC batch; a blocks table still in the retired
binary layout is refused by every reader and writer; ``info`` reports
the blocks table's on-disk size."""

import argparse
import json
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from addok_spark.config import EngineConfig, FieldSpec
from addok_spark.index.build import IndexPaths, build_index, open_dataset
from addok_spark.index.incremental import apply_actions

SCHEMA = (
    "conv_id string, turn_idx int, role string, text string,"
    " tool string, importance double"
)
WORDS = "rue des lilas avenue champs voltaire general grep bash lilas".split()


def _cfg():
    return EngineConfig(
        fields=(FieldSpec("text", 1.0), FieldSpec("tool", 4.0)),
        build_partitions=2,
        doc_bucket_bits=2,
        pbucket_shift=1,
        posting_block_size=2,  # multi-block posting lists
        common_threshold=1000,
    )


def _rows(conv: str, n: int, shift: int):
    # repeated words give tf > 1 and multi-position lists
    return [
        (
            conv, i, ("user", "assistant", "tool")[i % 3],
            " ".join(WORDS[(i * 3 + j + shift) % len(WORDS)] for j in range(i % 5 + 3))
            + " " + WORDS[(i + shift) % len(WORDS)],
            ("grep", None, "bash")[i % 3], 0.1 * (i % 4),
        )
        for i in range(n)
    ]


def _blocks_state(paths: IndexPaths) -> tuple[pa.Table, set, list]:
    """The snapshot's blocks rows, the encodings of the ``docs`` and
    ``pos`` values in every row group of its files, and the ``token``
    column of each file."""
    ds = open_dataset(paths.pin(), "blocks")
    enc = set()
    file_tokens = []
    for f in ds.files:
        file_tokens.append(pq.read_table(f, columns=["token"])["token"].to_pylist())
        md = pq.ParquetFile(f).metadata
        for i in range(md.num_row_groups):
            for j in range(md.num_columns):
                col = md.row_group(i).column(j)
                if col.path_in_schema.split(".")[0] in ("docs", "pos"):
                    enc.add(col.encodings)
    return ds.to_table(), enc, file_tokens


@pytest.fixture(scope="module")
def states(spark, tmp_index_root):
    """Blocks tables of one index: after the bulk build and after one
    CDC batch (an update, a delete and an appended conversation)."""
    cfg = _cfg()
    rows = _rows("conv-a", 9, 0) + _rows("conv-b", 7, 4)
    paths = build_index(
        spark, spark.createDataFrame(rows, SCHEMA), cfg,
        str(Path(tmp_index_root) / "layout"),
    )
    bulk = _blocks_state(paths)
    changes = spark.createDataFrame(
        [
            ("conv-a", 2, "user", "lilas lilas voltaire rue", "grep", 0.3, "index"),
            ("conv-b", 0, "user", None, None, 0.0, "delete"),
        ]
        + [r + ("index",) for r in _rows("conv-c", 4, 7)],
        SCHEMA + ", _action string",
    )
    apply_actions(spark, paths, changes, cfg)
    return {"bulk": bulk, "cdc": _blocks_state(paths), "paths": paths}


@pytest.mark.parametrize("state", ["bulk", "cdc"])
def test_block_rows_agree_with_their_metadata(states, state):
    tbl, encodings, file_tokens = states[state]
    assert not any(pa.types.is_binary(f.type) for f in tbl.schema)
    # every file is token-sorted, so row-group token min/max prune reads
    assert len(file_tokens) > 1
    for toks in file_tokens:
        assert toks == sorted(toks)
    # doc ids and positions are delta-packed, not dictionary-coded
    assert encodings == {("DELTA_BINARY_PACKED",)}
    rows = tbl.to_pylist()
    assert rows and any(r["token"].startswith("f|") for r in rows)
    assert any(r["block_id"] > 0 for r in rows)
    for r in rows:
        docs, tfs, boosts, pos = r["docs"], r["tfs"], r["boosts"], r["pos"]
        assert len(docs) == r["n"] == len(tfs) == len(boosts) == len(pos), r
        assert all(a < b for a, b in zip(docs, docs[1:])), r
        assert docs[0] == r["min_doc"] and docs[-1] == r["max_doc"], r
        assert sum(tfs) == r["sum_tf"] and max(tfs) == r["max_tf"], r
        assert max(boosts) == r["max_boost"], r
        if r["token"].startswith("f|"):
            assert all(p == [] for p in pos), r
        else:
            assert [len(p) for p in pos] == tfs, r
            assert all(p == sorted(set(p)) for p in pos), r


def test_info_reports_blocks_bytes(spark, states, monkeypatch, capsys):
    from addok_spark import __main__ as cli

    paths = states["paths"]
    monkeypatch.setattr(cli, "_spark", lambda args: spark)
    cli.cmd_info(argparse.Namespace(index=str(paths.root)))
    info = json.loads(capsys.readouterr().out)
    files = open_dataset(paths.pin(), "blocks").files
    assert files
    assert info["n_postings"] == sum(
        pq.read_table(f, columns=["n"])["n"].to_numpy().sum() for f in files
    )
    assert info["blocks_bytes"] == sum(Path(f).stat().st_size for f in files)
    assert "packed_bytes" not in info


@pytest.fixture(scope="module")
def blob_index(spark, tmp_index_root):
    """An index whose blocks files carry the retired binary payload
    columns instead of the list columns."""
    cfg = _cfg()
    paths = build_index(
        spark, spark.createDataFrame(_rows("conv-a", 4, 0), SCHEMA), cfg,
        str(Path(tmp_index_root) / "blob_layout"),
    )
    for f in open_dataset(paths.pin(), "blocks").files:
        t = pq.ParquetFile(f).read().drop_columns(["docs", "tfs", "boosts", "pos"])
        for c in ("docs_bin", "tfs_bin", "boosts_bin", "pos_bin"):
            t = t.append_column(c, pa.array([b""] * t.num_rows, pa.binary()))
        pq.write_table(t, f)
        crc = Path(f).with_name(f".{Path(f).name}.crc")
        crc.unlink(missing_ok=True)  # stale checksum of the old bytes
    return paths, cfg


def test_serving_refuses_blob_layout(blob_index):
    from addok_spark.serving.local import ParquetIndex

    paths, cfg = blob_index
    with pytest.raises(ValueError, match="build --no-resume"):
        ParquetIndex(paths, cfg)


def test_cdc_refuses_blob_layout(spark, blob_index):
    paths, cfg = blob_index
    version = paths.pin().version
    changes = spark.createDataFrame(
        [r + ("index",) for r in _rows("conv-z", 2, 1)],
        SCHEMA + ", _action string",
    )
    with pytest.raises(ValueError, match="build --no-resume"):
        apply_actions(spark, paths, changes, cfg)
    assert IndexPaths(paths.root).pin().version == version  # nothing published
