"""Block-builder parity: the Spark block builder (`build_blocks`) must
emit block rows identical to the per-group reference implementation
`_pack_group`, for posting runs shorter and longer than the block size,
`None` position lists (read as empty), several doc buckets per token,
a single posting and an empty input.
"""

from __future__ import annotations

from itertools import groupby

import numpy as np
import pytest

from addok_spark.config import EngineConfig
from addok_spark.index.build import _pack_group, build_blocks

BLOCK_SIZE = 64
BUCKET_BITS = 17  # docs of one bucket: [b << 17, (b + 1) << 17)
CFG = EngineConfig(
    build_partitions=2, posting_block_size=BLOCK_SIZE,
    doc_bucket_bits=BUCKET_BITS, pbucket_shift=1,
)
POSTING_SCHEMA = "doc_index long, token string, tf int, pos array<int>, boost float"


def _make_rows(seed: int = 7, n_groups: int = 40, max_run: int = 200):
    """(token, bucket, doc, tf, boost, pos) rows sorted by (token,
    bucket, doc); each (token, bucket) run has 1..max_run postings."""
    rng = np.random.default_rng(seed)
    toks = [f"tok{i:03d}" for i in range(12)]
    rows, seen = [], set()
    for _ in range(n_groups):
        t = toks[rng.integers(0, len(toks))]
        b = int(rng.integers(0, 4))
        if (t, b) in seen:
            continue
        seen.add((t, b))
        docs = np.sort(
            rng.choice(100000, size=int(rng.integers(1, max_run)), replace=False)
        )
        for d in docs:
            pos = (
                sorted(rng.integers(0, 500, size=int(rng.integers(0, 6))).tolist())
                or None  # None → the builder must read it as []
            )
            rows.append(
                (t, b, (b << BUCKET_BITS) + int(d), int(rng.integers(1, 9)),
                 float(np.float32(rng.random())), pos)
            )
    rows.sort(key=lambda r: (r[0], r[1], r[2]))
    return rows


def _reference_blocks(rows):
    out = []
    for (t, b), grp in groupby(rows, key=lambda r: (r[0], r[1])):
        g = list(grp)
        out.extend(
            _pack_group(
                t,
                b,
                np.array([r[2] for r in g], dtype=np.int64),
                np.array([r[3] for r in g], dtype=np.int64),
                np.array([r[4] for r in g], dtype=np.float32),
                [r[5] for r in g],
                BLOCK_SIZE,
            )
        )
    return out


def _built_blocks(spark, rows):
    """``build_blocks`` over ``rows`` fed as a posting DataFrame
    (shuffled, so the builder's own sort is what orders each run)."""
    df = spark.createDataFrame(
        [(r[2], r[0], r[3], r[5], r[4]) for r in reversed(rows)],
        POSTING_SCHEMA,
    )
    got = [r.asDict() for r in build_blocks(df, CFG).collect()]
    for g in got:
        assert g.pop("pbucket") == g["bucket"] >> CFG.pbucket_shift
    return sorted(got, key=lambda g: (g["token"], g["bucket"], g["block_id"]))


def _assert_same(got, ref):
    assert len(got) == len(ref)
    for g, r in zip(got, ref):
        assert set(g) == set(r), (g, r)
        for key, rv in r.items():
            if isinstance(rv, float):
                assert g[key] == pytest.approx(rv), (key, g, r)
            else:
                assert g[key] == rv, (key, g, r)


def test_builder_matches_pack_group(spark):
    rows = _make_rows()
    ref = _reference_blocks(rows)
    # the input holds every case the module docstring names
    assert any(r["block_id"] > 0 for r in ref)  # runs > block size
    assert any(r["block_id"] == 0 and r["n"] < BLOCK_SIZE for r in ref)
    buckets: dict[str, set] = {}
    for r in ref:
        buckets.setdefault(r["token"], set()).add(r["bucket"])
    assert any(len(b) > 1 for b in buckets.values())  # several buckets
    assert any(r[5] is None for r in rows)
    _assert_same(_built_blocks(spark, rows), ref)


def test_empty_and_single_posting(spark):
    assert build_blocks(
        spark.createDataFrame([], POSTING_SCHEMA), CFG
    ).collect() == []
    rows = [("solo", 0, 42, 3, 0.5, [1, 4, 9])]
    got = _built_blocks(spark, rows)
    _assert_same(got, _reference_blocks(rows))
    assert got[0]["n"] == 1 and got[0]["min_doc"] == 42
    assert got[0]["docs"] == [42] and got[0]["pos"] == [[1, 4, 9]]
