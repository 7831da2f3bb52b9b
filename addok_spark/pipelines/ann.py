"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline; sign-LSH bucketing as
the scale path (bucket-join instead of cross-join). All column math
is built-in ``aggregate``/``zip_with`` (JVM, codegen) — no UDF for
the dot products.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from .veckernel import round6_half_up as _round6_half_up


def dot_col(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_col(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_col(a, b):
    return dot_col(a, b) / (norm_col(a) * norm_col(b))


def make_planes(n_planes: int, dim: int, seed: int = 97) -> list[list[float]]:
    """Deterministic hyperplanes for sign-LSH, shareable with any
    oracle (values are exact double literals)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    # small exact-decimal grid so literals survive SQL round-trips
    w = rng.integers(-1000, 1001, size=(n_planes, dim)) / 1000.0
    return [[float(x) for x in row] for row in w]


def sign_bucket_col(vec, planes: list[list[float]]):
    """Bucket id = bitmap of sign(vec · plane_j)."""
    bits = []
    for j, plane in enumerate(planes):
        p = F.array(*[F.lit(x) for x in plane])
        bits.append(
            F.when(dot_col(vec, p) > 0, F.lit(1 << j)).otherwise(F.lit(0))
        )
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def cosine_topk(
    emb: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact brute-force top-k by cosine to one query vector. One
    scan, no shuffle except the final TakeOrderedAndProject — the
    right baseline even at scale (embarrassingly parallel)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        emb.select(
            F.col(id_col).alias("id"),
            F.round(cosine_col(F.col(vec_col), q), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("id"))
        .limit(k)
    )


def query_bucket(query_vec: list[float], planes: list[list[float]]) -> int:
    qbits = 0
    for j, plane in enumerate(planes):
        if float(np.dot(np.array(query_vec), np.array(plane))) > 0:
            qbits |= 1 << j
    return qbits


def probe_buckets(qbits: int, n_planes: int, multi_probe: int = 0) -> list[int]:
    """The query bucket plus all buckets within Hamming distance
    ``multi_probe`` of it (standard multi-probe LSH: a vector near a
    hyperplane lands on either side, so flipping uncertain bits
    recovers the recall a single probe loses)."""
    out = {qbits}
    frontier = {qbits}
    for _ in range(multi_probe):
        frontier = {
            b ^ (1 << j) for b in frontier for j in range(n_planes)
        } - out
        out |= frontier
    return sorted(out)


def lsh_topk(
    emb: DataFrame,
    query_vec: list[float],
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    multi_probe: int = 0,
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's sign
    bucket(s). At scale the bucket column is a partition key, so the
    probe prunes to one partition per probed bucket (IVF-style);
    ``multi_probe`` widens to neighbor buckets (Hamming ≤ n flips)
    for recall at the cost of probing more partitions."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    probes = probe_buckets(query_bucket(query_vec, planes), len(planes), multi_probe)
    return (
        emb.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("vec"),
            sign_bucket_col(F.col(vec_col), planes).alias("bucket"),
        )
        .filter(F.col("bucket").isin(probes))
        .select("id", F.round(cosine_col(F.col("vec"), q), 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("id"))
        .limit(k)
    )


def ivf_cells(
    emb: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic IVF coarse-quantizer "training": the cell
    anchors are the embeddings of the ``n_cells`` smallest ids (a
    reproducible stand-in for a sampled k-means — the assignment and
    search shapes below are identical to a trained codebook's).
    Driver-held small state: n_cells vectors — shipped to executors
    in the assignment kernel's task closure (with_assignment), never
    as plan literals."""
    rows = (
        emb.orderBy(F.col(id_col).asc())
        .select(vec_col)
        .limit(n_cells)
        .collect()
    )
    return [[float(x) for x in r[0]] for r in rows]


def _assign_step(vec):
    """Fold step shared by the literal and broadcast-data assignment
    paths — ONE function so the two are bit-identical by construction
    (same expression tree, same sequential float order; only the leaf
    the candidates come from differs)."""

    def step(acc, cand):
        cos = F.round(cosine_col(vec, cand["v"]), 6)
        better = cos > acc["best"]
        return F.struct(
            F.when(better, cand["c"]).otherwise(acc["c"]).alias("c"),
            F.when(better, cos).otherwise(acc["best"]).alias("best"),
        )

    return step


def _assign_init():
    return F.struct(F.lit(-1).alias("c"), F.lit(-2.0).alias("best"))


def assign_struct_col(vec, anchors: list[list[float]]):
    """``struct(c, best)`` = (argmax cell, its cosine) over anchors by
    round-6 cosine, ties → lowest cell. ONE linear ``aggregate`` fold
    (a naive when-ladder nests every step's comparison inside the
    next and compiles to MiB-scale codegen; the fold is linear in
    k·dim). No UDF, no shuffle — deterministic across partitionings.

    LITERAL path: the anchors ride the plan as an array-of-struct
    literal, which is fine for column-expression contexts at small k
    but puts k·dim doubles in the Catalyst tree — at SemDeDup-scale k
    (10^4+ cells) analysis/codegen falls over long before the data
    does. Every DataFrame-level caller in this module therefore goes
    through :func:`with_assignment`, whose mapInArrow numpy kernel is
    bit-identical to this fold (the identity is test-asserted); this
    literal form is retained as the readable reference and for
    column-expression contexts."""
    cands = F.array(
        *[
            F.struct(
                F.lit(j).alias("c"),
                F.array(*[F.lit(x) for x in a]).alias("v"),
            )
            for j, a in enumerate(anchors)
        ]
    )
    return F.aggregate(cands, _assign_init(), _assign_step(vec))


def with_assignment(
    df: DataFrame,
    anchors: list[list[float]],
    vec_col: str,
    out: str = "_s",
) -> DataFrame:
    """Attach ``out = struct(c, best)`` (argmax cell + its round-6
    cosine) computed against the codebook, bit-identical to
    :func:`assign_struct_col`'s fold (tests/test_ann.py asserts the
    identity).

    Execution: ``mapInArrow`` with the centroid matrix in the task
    closure — the guide §4.2 shape (whole Arrow batches into
    vectorized numpy, heavyweight state once per task). This replaces
    the r5 one-row-codebook BroadcastNestedLoopJoin whose per-row
    interpreted ``aggregate`` fold was the measured cost of
    ivf/kmeans/semdedup (VERDICT r5 #5); k still scales without
    growing the plan (the codebook is closure data, not expression),
    and the map stays narrow — zero shuffle, zero join."""
    from . import veckernel as vk

    cents = np.asarray(anchors, dtype=np.float64)
    cent_norms = vk.seq_sq_norms(cents)
    vec_idx = df.columns.index(vec_col)
    schema = StructType(
        list(df.schema.fields)
        + [
            StructField(
                out,
                StructType(
                    [
                        StructField("c", IntegerType()),
                        StructField("best", DoubleType()),
                    ]
                ),
            )
        ]
    )

    def fn(batches):
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                c = np.empty(0, dtype=np.int32)
                b = np.empty(0, dtype=np.float64)
            else:
                vecs = vk.list_to_matrix(batch.column(vec_idx))
                c, b = vk.assign_cells(vecs, cents, cent_norms)
            sarr = pa.StructArray.from_arrays(
                [pa.array(c, type=pa.int32()), pa.array(b, type=pa.float64())],
                names=["c", "best"],
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(i) for i in range(batch.num_columns)] + [sarr],
                names=list(batch.schema.names) + [out],
            )

    return df.mapInArrow(fn, schema)


def ivf_assign_col(vec, anchors: list[list[float]]):
    """Cell id = argmax over anchors of round(cosine, 6); ties take
    the lowest cell. Literal path — see assign_struct_col's caveat."""
    return assign_struct_col(vec, anchors)["c"]


def ivf_probe_cells(
    query_vec: list[float], anchors: list[list[float]], nprobe: int
) -> list[int]:
    """Cells ranked by round(cosine(query, anchor), 6) desc (ties →
    lowest cell), truncated to nprobe. Sequential index-order sums,
    and HALF_UP rounding on the shortest decimal repr — the exact
    semantics of Spark's F.round on a double
    (BigDecimal.valueOf(x).setScale(6, HALF_UP)) — so the ranking
    matches the column fold bit-for-bit even on 6-dp midpoints
    (Python's builtin round() is HALF_EVEN and would diverge there)."""
    def _cos(a, b):
        dot = nx = ny = 0.0
        for x, y in zip(a, b):
            dot += x * y
            nx += x * x
            ny += y * y
        return _round6_half_up(dot / ((nx ** 0.5) * (ny ** 0.5)))

    scored = sorted(
        ((-_cos(query_vec, a), j) for j, a in enumerate(anchors))
    )
    return [j for _, j in scored[:nprobe]]


def ivf_topk(
    emb: DataFrame,
    query_vec: list[float],
    anchors: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize every vector to its
    nearest anchor cell, probe only the ``nprobe`` cells nearest the
    query, brute-force within. At scale the cell id is the partition
    key (write once, cluster by cell), so a probe reads nprobe
    partitions instead of the corpus — the classic IVF-Flat layout;
    anchors ride the assignment kernel's task closure
    (with_assignment), so k scales without growing the plan."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    probes = ivf_probe_cells(query_vec, anchors, nprobe)
    assigned = with_assignment(
        emb.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
        ),
        anchors,
        "vec",
    ).select("id", "vec", F.col("_s.c").alias("cell"))
    return (
        assigned.filter(F.col("cell").isin(probes))
        .select(
            "id",
            "cell",
            F.round(cosine_col(F.col("vec"), q), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("id"))
        .limit(k)
    )


def _centroid_update(
    emb_cells: DataFrame, vec_col: str, prev: list[list[float]]
) -> list[list[float]]:
    """One Lloyd update: per-(cell, dim) mean, ROUNDED to 6 decimals
    so the next assignment sees identical centroids on any engine /
    partitioning (the float-parity pin); a cell that lost every
    member keeps its previous centroid (deterministic, and the same
    rule the SQL oracle's left-join coalesce expresses). Map-side-
    combinable agg; result is k×dim driver-held doubles."""
    rows = (
        emb_cells.select(
            "cell", F.posexplode(F.col(vec_col)).alias("pos", "x")
        )
        .groupBy("cell", "pos")
        .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("m"))
        .collect()
    )
    by_cell: dict[int, dict[int, float]] = {}
    for r in rows:
        by_cell.setdefault(r["cell"], {})[r["pos"]] = float(r["m"])
    out = []
    for c, prev_c in enumerate(prev):
        dims = by_cell.get(c)
        out.append(
            [dims[p] for p in range(len(prev_c))] if dims else list(prev_c)
        )
    return out


def kmeans_assign(
    emb: DataFrame,
    n_clusters: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 2,
) -> DataFrame:
    """Spherical k-means with a fixed iteration budget — the SemDeDup
    clustering stage. Deterministic end to end: anchors are the
    ``n_clusters`` smallest ids, every assignment uses round-6
    cosines with lowest-cell tie-break, every centroid update rounds
    to 6 decimals before the next pass.

    Scale shape per iteration: one assignment map over the corpus
    (centroids in the assignment kernel's closure, never plan literals)
    + one map-side-combinable (cell, dim) mean — no corpus-scale
    shuffle beyond the k×dim agg. Returns (id, cluster,
    cosine-to-final-centroid)."""
    cents = ivf_cells(emb, n_clusters, id_col, vec_col)
    for _ in range(max(0, iters - 1)):
        assigned = with_assignment(
            emb.select(F.col(vec_col).alias("v")), cents, "v"
        ).select("v", F.col("_s.c").alias("cell"))
        cents = _centroid_update(assigned, "v", cents)
    # one fold yields both the cluster and the cosine to the OWN
    # cluster's centroid (the SemDeDup dedup signal: near-1 members
    # of the same cluster are semantic dups)
    return with_assignment(
        emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")),
        cents,
        "v",
    ).select(
        "id",
        F.col("_s.c").alias("cluster"),
        F.col("_s.best").alias("cosine"),
    )


def semdedup_pairs(
    emb: DataFrame,
    n_clusters: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
    iters: int = 2,
    max_cell_size: int | None = None,
) -> DataFrame:
    """SemDeDup (cluster-then-compare semantic dedup): k-means cells
    first, then exact pairwise cosine ONLY within each cell — the
    candidate count is Σ|cell|² instead of the corpus², and k scales
    with the corpus to bound cell sizes (the published recipe's
    knob). Returns (id_a, id_b, cosine) with id_a < id_b for pairs
    at or above ``threshold``; downstream keep-best reuses the same
    connected-components / keep-rule machinery as the other dedup
    ops.

    The within-cell join shuffles on the cluster id. k-means on real
    embeddings is routinely SKEWED (one dense topic = one giant
    cell), and a cell with m members costs m² pairs in one shuffle
    key — so ``max_cell_size`` caps it: any cell larger than the cap
    is re-split by a deterministic secondary hash of the id into
    ceil(m / cap) sub-cells, the same move the posting build makes
    for hot tokens. Semantics under the cap: pairs are emitted only
    WITHIN a sub-cell — two members of a split cell that hash to
    different sub-cells are never compared (the standard SemDeDup
    approximation, equivalent to having trained a finer quantizer
    over that region). Leave ``max_cell_size=None`` for exact
    within-cluster-complete pairs."""
    from ..persist import shared

    assigned = kmeans_assign(emb, n_clusters, id_col, vec_col, iters)
    # the cosine norm is per-VECTOR: compute it once per member here
    # instead of once per PAIR inside the within-cell join (a cell of
    # m members costs m² pairs — the join then evaluates only the
    # dot); persisted because the self-join reads it from both sides
    vecs = shared(
        emb.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            norm_col(F.col(vec_col)).alias("nv"),
        ).join(assigned.select("id", "cluster"), "id")
    )
    key = ["cluster"]
    if max_cell_size is not None:
        # ≤ k rows of (cluster, count) — always broadcastable
        sizes = vecs.groupBy("cluster").agg(
            F.count(F.lit(1)).cast("long").alias("_n")
        )
        vecs = (
            vecs.join(F.broadcast(sizes), "cluster")
            .withColumn(
                "_nsub",
                F.greatest(
                    F.lit(1),
                    F.ceil(F.col("_n") / F.lit(max_cell_size)).cast("int"),
                ),
            )
            .withColumn("sub", F.pmod(F.hash(F.col("id")), F.col("_nsub")))
            .drop("_n", "_nsub")
        )
        key = ["cluster", "sub"]
    a = vecs.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"),
        F.col("nv").alias("na"), *key
    )
    b = vecs.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"),
        F.col("nv").alias("nb"), *key
    )
    return (
        a.join(b, key)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                dot_col(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb")),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def ivf_write_partitioned(
    emb: DataFrame,
    anchors: list[list[float]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF-Flat layout: one parquet partition dir per
    cell. A probe then reads nprobe directories instead of the
    corpus — partition pruning does the work, no index structure
    needed (the claim ivf_topk's docstring makes, made literal)."""
    with_assignment(
        emb.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
        ),
        anchors,
        "vec",
    ).select("id", "vec", F.col("_s.c").alias("cell")).write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(path)


def ivf_topk_partitioned(
    spark,
    path: str,
    query_vec: list[float],
    anchors: list[list[float]],
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """Top-k over a cell-partitioned layout: the cell IN-list filter
    prunes to nprobe partition dirs at scan time (assert via
    PartitionFilters in .explain)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    probes = ivf_probe_cells(query_vec, anchors, nprobe)
    return (
        spark.read.parquet(path)
        .filter(F.col("cell").isin(probes))
        .select(
            "id",
            F.col("cell").cast("int").alias("cell"),
            F.round(cosine_col(F.col("vec"), q), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("id"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ's compression half)
# ---------------------------------------------------------------------------

def _l2sq_col(a, b):
    """Sequential-fold squared L2 distance of two double arrays (same
    ascending-index order as the oracle's unrolled sum)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_codebooks(
    emb: DataFrame,
    m: int,
    ksub: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Deterministic PQ "training": split the vector into ``m``
    subspaces; subspace ``s``'s codebook is the ``s``-th slice of the
    ``ksub`` smallest-id embeddings (the same reproducible stand-in
    ivf_cells uses for its coarse quantizer — a k-means-trained
    codebook plugs into the encode/search below unchanged).
    Returns ``codebooks[s][j]`` = codeword ``j`` of subspace ``s``;
    driver-held m·ksub·(dim/m) doubles = ksub·dim — tiny."""
    full = ivf_cells(emb, ksub, id_col, vec_col)
    dim = len(full[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    return [
        [v[s * dsub : (s + 1) * dsub] for v in full] for s in range(m)
    ]


def _pq_codebook_df(spark, codebooks: list[list[list[float]]]) -> DataFrame:
    """All subspace codebooks as ONE one-row DataFrame
    (``array<array<struct<c,v>>>``, outer index = subspace) — data,
    not plan literals, same policy as the IVF codebook."""
    rows = [
        (
            [
                [(j, [float(x) for x in cw]) for j, cw in enumerate(cb)]
                for cb in codebooks
            ],
        )
    ]
    return spark.createDataFrame(
        rows, "_pq array<array<struct<c:int,v:array<double>>>>"
    )


def _argmin_code(subvec, cands):
    """First-minimum fold: codeword index with the smallest round-6
    L2² distance, ties → lowest index (strict < keeps the first)."""
    init = F.struct(F.lit(-1).alias("c"), F.lit(1e300).alias("best"))

    def step(acc, cand):
        d = F.round(_l2sq_col(subvec, cand["v"]), 6)
        better = d < acc["best"]
        return F.struct(
            F.when(better, cand["c"]).otherwise(acc["c"]).alias("c"),
            F.when(better, d).otherwise(acc["best"]).alias("best"),
        )

    return F.aggregate(cands, init, step)["c"]


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to its PQ code (array<int>, one codeword
    index per subspace) — dim floats compress to m small ints (the
    32-64× memory cut that makes a 100-TB embedding store scannable).

    Scale shape: ``mapInArrow`` over only (id, vec) with the codebooks
    in the task closure (guide §4.2 — the same swap as
    :func:`with_assignment`; the former per-subspace argmin folds were
    interpreted CodegenFallback expressions). Zero shuffle, plan size
    O(1) in ksub, bit-identical first-minimum round-6 L2² codes
    (veckernel.pq_encode_codes). Encode once, persist ``(id, code)``;
    ADC search then never touches the raw vectors."""
    from . import veckernel as vk

    m = len(codebooks)
    cbs = np.asarray(codebooks, dtype=np.float64)
    src = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("_v"))
    schema = StructType(
        [src.schema.fields[0], StructField("code", ArrayType(IntegerType()))]
    )

    def fn(batches):
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                codes = np.empty((0, m), dtype=np.int32)
            else:
                codes = vk.pq_encode_codes(
                    vk.list_to_matrix(batch.column(1)), cbs
                )
            offsets = np.arange(0, (n + 1) * m, m, dtype=np.int32)
            carr = pa.ListArray.from_arrays(
                pa.array(offsets, type=pa.int32()),
                pa.array(codes.reshape(-1), type=pa.int32()),
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), carr], names=["id", "code"]
            )

    return src.mapInArrow(fn, schema)


def pq_query_lut(
    query_vec: list[float], codebooks: list[list[list[float]]]
) -> list[list[float]]:
    """Per-subspace lookup table for one query: ``lut[s][j]`` =
    round-6 L2² distance from the query's subspace-``s`` slice to
    codeword ``j``. Query-sized driver math (m·ksub doubles) — rides
    the plan as literals the way the query vector itself does."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    lut = []
    for s in range(m):
        qs = [float(x) for x in query_vec[s * dsub : (s + 1) * dsub]]
        lut.append(
            [
                _round6_half_up(
                    sum((qx - cx) ** 2 for qx, cx in zip(qs, cw))
                )
                for cw in codebooks[s]
            ]
        )
    return lut


def pq_adc_topk(
    encoded: DataFrame,
    query_vec: list[float],
    codebooks: list[list[list[float]]],
    k: int = 10,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: approximate distance =
    Σ_s lut[s][code_s] (one array lookup + add per subspace — no
    vector math in the scan at all). Ascending distance, ties → id.
    This is the classic ADC scan of IVF-PQ; at scale it reads only
    the (id, code) columns — m bytes/row instead of dim·4."""
    lut = pq_query_lut(query_vec, codebooks)
    lut_col = F.array(
        *[F.array(*[F.lit(v) for v in row]) for row in lut]
    )
    adc = F.round(
        F.aggregate(
            F.zip_with(
                F.col("code"),
                lut_col,
                lambda c, row: F.element_at(row, c + F.lit(1)),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    return (
        encoded.select(
            "id",
            F.array_join(F.col("code"), "-").alias("code_str"),
            adc.alias("adc"),
        )
        .orderBy(F.asc("adc"), F.asc("id"))
        .limit(k)
    )


def pq_rerank_topk(
    emb: DataFrame,
    query_vec: list[float],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    shortlist: int = 50,
    k: int = 10,
) -> DataFrame:
    """The production IVF-PQ recipe end-to-end: ADC over the codes for
    a cheap shortlist, then EXACT cosine rerank of only those
    ``shortlist`` rows (a broadcast semi-join — shortlist ≪ corpus,
    so the expensive math touches a constant number of vectors)."""
    enc = pq_encode(emb, codebooks, id_col, vec_col)
    short = pq_adc_topk(enc, query_vec, codebooks, k=shortlist).select(
        "id"
    )
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        emb.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
        )
        .join(F.broadcast(short), "id")
        .select(
            "id", F.round(cosine_col(F.col("vec"), q), 6).alias("cosine")
        )
        .orderBy(F.desc("cosine"), F.asc("id"))
        .limit(k)
    )
