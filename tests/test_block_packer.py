"""Arrow block-packer parity: the vectorized mapInArrow packer
(`_make_arrow_packer`) must emit block rows identical to the
per-group reference implementation `_pack_group`, for every Arrow
batch split — including 1-row batches, which force the carry logic
(partial trailing block held back, complete blocks emitted early,
continuation block ids) on every row.

Pure-Python (no SparkSession): the packer consumes pyarrow
RecordBatches directly, so the carry paths are driven deterministically
here; Spark-side integration is covered by the golden posting-state
tests in test_index_build.py.
"""

from __future__ import annotations

import hashlib
from itertools import groupby

import numpy as np
import pyarrow as pa
import pytest

from addok_spark.index.build import _make_arrow_packer, _pack_group

BLOCK_SIZE = 64


def _hash(s: str, seed: int) -> int:
    # stand-in for the JVM xxhash64 columns: any per-token-injective
    # int64 works — the packer only compares adjacent values
    return int.from_bytes(
        hashlib.blake2b(f"{seed}|{s}".encode(), digest_size=8).digest(),
        "big",
        signed=True,
    )


def _make_rows(seed: int = 7, n_groups: int = 40, max_run: int = 200):
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
                or None  # None → packer must read it as []
            )
            rows.append(
                (t, b, int(d), int(rng.integers(1, 9)), float(rng.random()), pos)
            )
    rows.sort(key=lambda r: (r[0], r[1], r[2]))
    return rows


def _to_batches(rows, batch_sizes):
    out, i = [], 0
    for bs in batch_sizes:
        chunk = rows[i : i + bs]
        i += bs
        if not chunk:
            continue
        arrs = {
            "doc_index": pa.array([r[2] for r in chunk], pa.int64()),
            "token": pa.array([r[0] for r in chunk], pa.string()),
            "tf": pa.array([r[3] for r in chunk], pa.int32()),
            "pos": pa.array([r[5] for r in chunk], pa.list_(pa.int32())),
            "boost": pa.array([r[4] for r in chunk], pa.float32()),
            "bucket": pa.array([r[1] for r in chunk], pa.int64()),
            "g1": pa.array([_hash(r[0], 1) for r in chunk], pa.int64()),
            "g2": pa.array([_hash(r[0], 2) for r in chunk], pa.int64()),
        }
        out.append(
            pa.RecordBatch.from_arrays(list(arrs.values()), names=list(arrs.keys()))
        )
    assert i >= len(rows)
    return out


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


def _resolve_tokens(got_rows, rows):
    """The packer emits (g1, g2) hash keys instead of token strings
    (the join back happens in build_blocks); map them back here so the
    comparison with _pack_group's token-keyed reference rows holds."""
    lut = {(_hash(r[0], 1), _hash(r[0], 2)): r[0] for r in rows}
    for g in got_rows:
        g["token"] = lut[(g.pop("g1"), g.pop("g2"))]
    return got_rows


@pytest.mark.parametrize(
    "label,sizes_fn",
    [
        ("one_big", lambda n: [n]),
        ("tiny_7", lambda n: [7] * (n // 7 + 1)),
        ("mixed", lambda n: [1, 3, 64, 5, 128, 2, 1000, 64, max(n, 1)]),
        ("row_at_a_time", lambda n: [1] * n),
    ],
)
def test_packer_matches_pack_group(label, sizes_fn):
    rows = _make_rows()
    ref = _reference_blocks(rows)
    packer = _make_arrow_packer(BLOCK_SIZE)
    got = []
    for rb in packer(iter(_to_batches(rows, sizes_fn(len(rows))))):
        got.extend(rb.to_pylist())
    got = _resolve_tokens(got, rows)
    assert len(got) == len(ref)
    for g, r in zip(got, ref):
        for key, rv in r.items():
            gv = g[key]
            if isinstance(rv, float):
                assert abs(gv - rv) < 1e-6, (label, key, g, r)
            else:
                assert gv == rv, (label, key, g, r)


def test_empty_and_single_posting():
    packer = _make_arrow_packer(BLOCK_SIZE)
    assert list(packer(iter([]))) == []
    rows = [("solo", 0, 42, 3, 0.5, [1, 4, 9])]
    got = []
    for rb in packer(iter(_to_batches(rows, [1]))):
        got.extend(rb.to_pylist())
    got = _resolve_tokens(got, rows)
    ref = _reference_blocks(rows)
    assert got == [
        {k: (pytest.approx(v) if isinstance(v, float) else v) for k, v in ref[0].items()}
    ]
    assert got[0]["n"] == 1 and got[0]["min_doc"] == 42
    assert got[0]["docs"] == [42] and got[0]["pos"] == [[1, 4, 9]]
