"""IVF-Flat coarse quantization (pipelines/ann.py): deterministic
anchors, cell assignment as partition, probe-restricted search, and
full-probe equivalence to the brute-force baseline."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from addok_spark.pipelines import ann

N, DIM, CELLS = 80, 16, 4


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.Generator(np.random.PCG64(7))
    vecs = rng.normal(size=(N, DIM)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(N)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).cache()


def test_ivf_assignment_partitions(emb):
    anchors = ann.ivf_cells(emb, CELLS)
    assert len(anchors) == CELLS and len(anchors[0]) == DIM
    cells = emb.select(
        "vec_id",
        ann.ivf_assign_col(F.col("embedding"), anchors).alias("cell"),
    ).collect()
    assert len(cells) == N
    got = {r["vec_id"]: r["cell"] for r in cells}
    assert set(got.values()) <= set(range(CELLS))
    # an anchor's own vector lands in its own cell (cosine == 1)
    for j in range(CELLS):
        assert got[j] == j


def test_ivf_topk_probes_subset_and_full_probe_is_exact(emb):
    anchors = ann.ivf_cells(emb, CELLS)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 3)
          .collect()[0]["embedding"]]
    probes = ann.ivf_probe_cells(qv, anchors, nprobe=2)
    assert len(probes) == 2
    res = ann.ivf_topk(emb, qv, anchors, k=10, nprobe=2).collect()
    assert res and all(r["cell"] in probes for r in res)
    # the query's own vector is its best match when its cell is probed
    assert res[0]["id"] == 3 and res[0]["cosine"] == pytest.approx(1.0)
    # probing every cell recovers the exact brute-force ranking
    full = ann.ivf_topk(emb, qv, anchors, k=10, nprobe=CELLS).collect()
    brute = ann.cosine_topk(emb, qv, k=10).collect()
    assert [r["id"] for r in full] == [r["id"] for r in brute]
    assert [r["cosine"] for r in full] == [r["cosine"] for r in brute]


def test_kmeans_deterministic_and_improves(emb):
    got = {
        r["id"]: r
        for r in ann.kmeans_assign(emb, CELLS, iters=2).collect()
    }
    assert len(got) == N
    assert set(r["cluster"] for r in got.values()) <= set(range(CELLS))
    # partition-invariance: same result from a different layout
    re = {
        r["id"]: r
        for r in ann.kmeans_assign(emb.repartition(7), CELLS, iters=2)
        .collect()
    }
    assert all(
        re[i]["cluster"] == got[i]["cluster"]
        and re[i]["cosine"] == got[i]["cosine"]
        for i in got
    )
    # Lloyd improves (or keeps) mean within-cluster cosine vs iters=1
    one = ann.kmeans_assign(emb, CELLS, iters=1).collect()
    assert sum(r["cosine"] for r in got.values()) >= (
        sum(r["cosine"] for r in one) - 1e-6
    )


def test_semdedup_pairs(spark):
    # two planted near-dup groups + noise: dups must pair up within
    # their k-means cell, noise must not
    rng = np.random.Generator(np.random.PCG64(11))
    base1 = rng.normal(size=DIM)
    base2 = rng.normal(size=DIM)
    rows = []
    for i in range(3):  # group A: ids 0-2
        rows.append((i, [float(x) for x in base1 + 0.01 * rng.normal(size=DIM)]))
    for i in range(3, 6):  # group B: ids 3-5
        rows.append((i, [float(x) for x in base2 + 0.01 * rng.normal(size=DIM)]))
    for i in range(6, 30):  # noise
        rows.append((i, [float(x) for x in rng.normal(size=DIM)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = ann.semdedup_pairs(df, 4, threshold=0.95).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert got >= {(0, 1), (0, 2), (1, 2), (3, 4), (3, 5), (4, 5)}
    # no cross-group or noise pair reaches 0.95
    assert all(
        (a < 3 and b < 3) or (3 <= a < 6 and 3 <= b < 6) for a, b in got
    )
    assert all(r["id_a"] < r["id_b"] for r in pairs)


def test_ivf_partitioned_layout_prunes(spark, emb, tmp_path):
    anchors = ann.ivf_cells(emb, CELLS)
    path = str(tmp_path / "ivf_cells")
    ann.ivf_write_partitioned(emb, anchors, path)
    import os
    dirs = sorted(d for d in os.listdir(path) if d.startswith("cell="))
    assert len(dirs) == CELLS
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 3)
          .collect()[0]["embedding"]]
    res = ann.ivf_topk_partitioned(spark, path, qv, anchors, k=10, nprobe=2)
    # identical ranking to the scan-everything variant
    base = ann.ivf_topk(emb, qv, anchors, k=10, nprobe=2).collect()
    got = res.collect()
    assert [(r["id"], r["cosine"]) for r in got] == [
        (r["id"], r["cosine"]) for r in base
    ]
    # the physical plan prunes to the probed partition dirs
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan
    probes = ann.ivf_probe_cells(qv, anchors, 2)
    import re
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and all(str(c) in m.group(1) for c in probes)


def test_with_assignment_bit_identical_to_literal_fold(emb):
    """VERDICT r4 #2: the broadcast-data path (with_assignment) must be
    bit-identical to the plan-literal fold (assign_struct_col) — same
    expression tree, same sequential float order, only the candidate
    leaf differs."""
    anchors = ann.ivf_cells(emb, CELLS)
    lit = emb.select(
        "vec_id",
        ann.assign_struct_col(F.col("embedding"), anchors).alias("s"),
    ).collect()
    bro = (
        ann.with_assignment(emb, anchors, "embedding")
        .select("vec_id", F.col("_s").alias("s"))
        .collect()
    )
    key = lambda rows: {r["vec_id"]: (r["s"]["c"], r["s"]["best"]) for r in rows}
    assert key(lit) == key(bro)


def test_degenerate_vectors_raise_on_both_assignment_paths(spark, emb):
    """A zero-norm vector has no cosine: the literal fold raises
    DIVIDE_BY_ZERO (ANSI), and the numpy kernel behind with_assignment
    raises too instead of returning the fold's init (-1, -2.0). A NaN
    vector, which the fold would assign to cell 0 with a NaN cosine,
    raises in with_assignment; so does a zero-norm centroid."""
    from addok_spark.pipelines import veckernel as vk

    anchors = ann.ivf_cells(emb, CELLS)
    schema = "vec_id long, embedding array<float>"
    zero = spark.createDataFrame([(0, [0.0] * DIM)], schema)
    nan = spark.createDataFrame([(1, [float("nan")] * DIM)], schema)
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        zero.select(
            ann.assign_struct_col(F.col("embedding"), anchors).alias("s")
        ).collect()
    for df in (zero, nan):
        with pytest.raises(Exception, match="zero or non-finite norm"):
            ann.with_assignment(df, anchors, "embedding").collect()
    with pytest.raises(ValueError, match="centroid 1"):
        vk.assign_cells(np.ones((3, DIM)), np.stack([np.ones(DIM), np.zeros(DIM)]))


def test_with_assignment_scales_to_k2048(spark):
    """VERDICT r4 #2 'done' condition: k=2048 centroids — a scale the
    literal path would choke on (2048x8 doubles in the Catalyst tree) —
    assigns correctly through the broadcast codebook, and the analyzed
    plan stays O(1) in k (the codebook is DATA, not expression)."""
    k, dim = 2048, 8
    rng = np.random.Generator(np.random.PCG64(23))
    anchors = [[float(x) for x in rng.normal(size=dim)] for _ in range(k)]
    pts = [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(12)]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<float>")
    out = (
        ann.with_assignment(df, anchors, "embedding")
        .select("vec_id", F.col("_s.c").alias("cell"))
        .collect()
    )
    got = {r["vec_id"]: r["cell"] for r in out}
    A = np.array(anchors)
    An = A / np.linalg.norm(A, axis=1, keepdims=True)
    for i, vec in pts:
        v = np.array(vec, dtype="float64")
        cos = An @ (v / np.linalg.norm(v))
        r6 = np.array([ann._round6_half_up(c) for c in cos])
        assert got[i] == int(np.argmax(r6)), f"vec {i}"
    # O(1)-in-k plan: the codebook must not appear as literals
    plan = (
        ann.with_assignment(df, anchors, "embedding")
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert len(plan) < 50_000, f"plan grew with k: {len(plan)} chars"


def test_round6_half_up_matches_spark_f_round(spark):
    """ADVICE r4: ivf_probe_cells' driver-side rounding must match
    F.round's double semantics (shortest-repr BigDecimal, HALF_UP) on
    exact 6-dp midpoints where Python's builtin round() (HALF_EVEN)
    diverges."""
    vals = [0.1234565, 0.1234575, -0.1234565, 1.0000005, 0.9999995,
            5e-7, -5e-7, 0.1234564999, 2.0 / 3.0]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [
        r["r"]
        for r in df.select(F.round("x", 6).alias("r"))
        .collect()
    ]
    assert got == [ann._round6_half_up(v) for v in vals]


def test_semdedup_cell_cap_splits_mega_cluster(spark):
    """VERDICT r4 #3: a mega-cluster (one dense topic) must be re-split
    by max_cell_size so no shuffle key carries m^2 pairs. Checks (a) the
    capped output is exactly the uncapped pairs restricted to same
    sub-cell (the documented approximation), (b) the cap actually
    dropped cross-sub pairs (the split happened), (c) nothing outside
    the mega-cluster changed."""
    rng = np.random.Generator(np.random.PCG64(31))
    base = rng.normal(size=DIM)
    rows = [
        (i, [float(x) for x in base + 0.01 * rng.normal(size=DIM)])
        for i in range(40)  # mega-topic: ids 0-39, all near-dups
    ] + [
        (i, [float(x) for x in rng.normal(size=DIM)])
        for i in range(40, 56)  # noise
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    k, cap = 4, 10
    uncapped = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in ann.semdedup_pairs(df, k, threshold=0.95).collect()
    }
    capped = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in ann.semdedup_pairs(
            df, k, threshold=0.95, max_cell_size=cap
        ).collect()
    }
    # replicate the sub-cell assignment with the same Spark exprs
    assigned = ann.kmeans_assign(df, k, iters=2)
    from pyspark.sql import functions as SF
    sizes = assigned.groupBy("cluster").agg(SF.count(SF.lit(1)).alias("n"))
    sub = {
        r["id"]: (r["cluster"], r["sub"])
        for r in assigned.join(sizes, "cluster")
        .withColumn(
            "nsub",
            SF.greatest(
                SF.lit(1), SF.ceil(SF.col("n") / SF.lit(cap)).cast("int")
            ),
        )
        .withColumn("sub", SF.pmod(SF.hash(SF.col("id")), SF.col("nsub")))
        .collect()
    }
    expected = {
        p: c for p, c in uncapped.items() if sub[p[0]] == sub[p[1]]
    }
    assert capped == expected
    # the mega-cell really split: cross-sub pairs were dropped...
    assert len(capped) < len(uncapped)
    # ...but plenty survive within sub-cells
    assert len(capped) > 0


# ---------------------------------------------------------------------------
# product quantization


def test_pq_codebooks_shape_and_determinism(emb):
    m, ksub = 4, 8
    cbs = ann.pq_codebooks(emb, m, ksub)
    assert len(cbs) == m
    assert all(len(cb) == ksub for cb in cbs)
    assert all(len(cw) == DIM // m for cb in cbs for cw in cb)
    # same input -> identical codebooks (deterministic training stand-in)
    assert cbs == ann.pq_codebooks(emb, m, ksub)
    with pytest.raises(ValueError):
        ann.pq_codebooks(emb, 5, ksub)  # 16 % 5 != 0


def test_pq_encode_codeword_vectors_are_self_coded(emb):
    """A vector that IS codeword j in every subspace encodes to
    [j]*m (distance 0 beats everything, ties go to the first
    minimum)."""
    m, ksub = 4, 8
    cbs = ann.pq_codebooks(emb, m, ksub)
    enc = {r["id"]: r["code"] for r in ann.pq_encode(emb, cbs).collect()}
    assert len(enc) == N
    assert all(len(c) == m and all(0 <= x < ksub for x in c) for c in enc.values())
    # codebook rows came from the ksub smallest-id embeddings
    for j in range(ksub):
        assert enc[j] == [j] * m


def test_pq_adc_zero_distance_for_query_itself(emb):
    m, ksub = 4, 8
    cbs = ann.pq_codebooks(emb, m, ksub)
    enc = ann.pq_encode(emb, cbs)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 3).collect()[0]["embedding"]]
    top = ann.pq_adc_topk(enc, qv, cbs, k=5).collect()
    # vec 3 is codeword 3 in every subspace: its ADC distance is 0
    assert top[0]["id"] == 3 and top[0]["adc"] == 0.0
    # ascending distance, deterministic tie-break
    adcs = [r["adc"] for r in top]
    assert adcs == sorted(adcs)


def test_pq_rerank_recall_vs_brute_force(emb):
    """ADC shortlist + exact rerank recovers most of the brute-force
    top-k even with the crude stand-in codebooks; with shortlist=N it
    recovers it exactly."""
    m, ksub = 4, 8
    cbs = ann.pq_codebooks(emb, m, ksub)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    exact = [r["id"] for r in ann.cosine_topk(emb, qv, "vec_id", "embedding", k=10).collect()]
    full = [r["id"] for r in ann.pq_rerank_topk(emb, qv, cbs, shortlist=N, k=10).collect()]
    assert full == exact  # full shortlist == brute force, same order
    short = [r["id"] for r in ann.pq_rerank_topk(emb, qv, cbs, shortlist=20, k=10).collect()]
    assert len(set(short) & set(exact)) >= 5  # partial shortlist: real recall


def test_pq_encode_partition_invariant(emb):
    m, ksub = 4, 8
    cbs = ann.pq_codebooks(emb, m, ksub)
    a = {r["id"]: r["code"] for r in ann.pq_encode(emb, cbs).collect()}
    b = {
        r["id"]: r["code"]
        for r in ann.pq_encode(emb.repartition(13), cbs).collect()
    }
    assert a == b


def test_pq_encode_matches_catalyst_fold(emb, spark):
    """r6 optimization guard: the mapInArrow PQ encoder
    (veckernel.pq_encode_codes) must be bit-identical to the retained
    Catalyst first-minimum fold (_argmin_code over the broadcast
    codebook) it replaced."""
    m, ksub = 4, 8
    cbs = ann.pq_codebooks(emb, m, ksub)
    dsub = DIM // m
    got = {
        r["id"]: list(r["code"])
        for r in ann.pq_encode(emb, cbs).collect()
    }
    cdf = ann._pq_codebook_df(spark, cbs)
    vec = F.col("embedding")
    code = F.array(
        *[
            ann._argmin_code(F.slice(vec, s * dsub + 1, dsub), F.col("_pq")[s])
            for s in range(m)
        ]
    )
    want = {
        r["id"]: list(r["code"])
        for r in emb.crossJoin(F.broadcast(cdf))
        .select(F.col("vec_id").alias("id"), code.alias("code"))
        .collect()
    }
    assert got == want


def test_round6_array_matches_scalar_semantics():
    """veckernel.round6_array's fast path + midpoint fallback must
    reproduce F.round's shortest-repr HALF_UP semantics, including
    exact 6-dp midpoints, negatives, and NaN passthrough."""
    from addok_spark.pipelines import veckernel as vk

    vals = [
        0.1234565, -0.1234565, 0.9999995, -0.9999995, 1.0000005,
        0.0000005, -0.0000005, 0.123456499999999, 0.1234571, 0.0,
        -0.0, 1.0, -1.0, 0.5e-6, 1.5e-6, -1.5e-6, 0.7071067811865476,
    ]
    got = vk.round6_array(np.array(vals))
    want = [vk.round6_half_up(v) for v in vals]
    assert list(got) == want
    nan_out = vk.round6_array(np.array([float("nan")]))
    assert np.isnan(nan_out[0])


def test_round6_array_large_magnitude_midpoints():
    """Above |y| = 1e3 the product y*1e6 can be off a 6-dp midpoint by
    more than the fast path's 1e-6 guard (16539.2153925 used to round
    down to .215392); round6_array must still equal round6_half_up on
    midpoints at every magnitude."""
    from addok_spark.pipelines import veckernel as vk

    rng = np.random.default_rng(11)
    vals = [16539.2153925, -16539.2153925]
    for lo in (1e3, 1e4, 1e5, 1e6):
        ints = rng.integers(int(lo), int(lo * 10), 2000)
        fracs = rng.integers(0, 10**6, 2000)
        vals += [float(f"{i}.{f:06d}5") for i, f in zip(ints, fracs)]
    got = vk.round6_array(np.array(vals))
    assert got[0] == 16539.215393
    assert list(got) == [vk.round6_half_up(v) for v in vals]


def test_list_to_matrix_honours_slices():
    """A sliced List or FixedSizeList column converts to exactly the
    rows of the slice: flatten() already applies the slice, so the
    values must not be sliced again (List) or read unsliced
    (FixedSizeList)."""
    import pyarrow as pa

    from addok_spark.pipelines.veckernel import list_to_matrix

    want = np.array([[3.0, 4.0], [5.0, 6.0]])
    lists = pa.array([[1.0, 2.0], [3.0, 4.0], [5.0, 6.0], [7.0, 8.0]])
    assert np.array_equal(list_to_matrix(lists.slice(1, 2)), want)
    fixed = pa.FixedSizeListArray.from_arrays(
        pa.array([1.0, 2.0, 3.0, 4.0, 5.0, 6.0]), 2
    )
    assert np.array_equal(list_to_matrix(fixed.slice(1, 2)), want)
