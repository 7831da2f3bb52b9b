"""Deterministic sampling + sequence packing for training-data prep.

Two operations every LLM pretraining pipeline runs at corpus scale:

- ``stratified_sample``: per-stratum (e.g. per-language) subsampling
  with CONTENT-HASH Bernoulli selection instead of an RNG — the same
  row set comes back on every run, on any cluster size, under any
  partitioning (rebalancing corpora reproducibly is the point; an
  RNG-based sample() is neither stable across retries nor auditable).
  A row is kept iff the first 8 hex chars of ``md5(id)`` sort below
  the stratum's rate threshold; hex strings compare lexicographically
  = numerically, so the Spark plan and the DuckDB oracle use the
  identical predicate on identical md5 strings.

- ``pack_sequences``: concat-and-cut packing of documents into
  ~``budget``-token training sequences ("sequence packing"). Order
  must be deterministic but decorrelated from source order, and a
  global sort is a non-starter at 100 TB — so documents are split
  into 16 independent hash buckets (first md5 hex char), ordered by
  (md5, id) within the bucket, and the running sum of token counts
  assigns ``pack_id = bucket || floor(start/budget)``. A document
  straddling a boundary belongs to the pack where it starts
  (concatenate-then-cut semantics). DuckDB twin = the same fold as a
  window.

Scale notes: ``stratified_sample`` is one scan. ``pack_sequences``
runs the running sum as a TWO-PASS offset computation (the
``assign_doc_ids`` shape, index/build.py): documents hash-shuffle on
a finer md5 prefix (16^depth contiguous sub-ranges of each bucket's
global order), pass 1 folds per-sub-range token sums into O(16^depth)
driver rows, pass 2 computes a streaming partition-local cumulative
sum and adds the driver-computed base offsets. No single task ever
owns a bucket's full 1/16 of the corpus (the ceiling a
``Window.partitionBy(bucket)`` running sum would impose) —
parallelism follows the partition count, memory per task is one
Arrow batch, and the result is bit-identical to the window
definition under the same total order.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_HEX_SPACE = 16 ** 8


def rate_threshold(rate: float) -> str:
    """Hex threshold string for a keep-rate in [0, 1]: md5-prefix <
    threshold keeps ~rate of rows. 'g' sorts above every hex digit,
    so rate >= 1 keeps everything; '' keeps nothing."""
    if rate <= 0.0:
        return ""
    t = int(rate * _HEX_SPACE)
    if t >= _HEX_SPACE:
        return "g"
    return format(t, "08x")


def stratified_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
) -> DataFrame:
    """Keep each stratum at its configured rate, deterministically.

    ``rates`` maps stratum value → keep-rate; strata not listed use
    ``default_rate``. Selection key = md5 of the row id, so the
    sample is stable across runs, partitionings, and cluster sizes,
    and higher rates yield supersets of lower rates (same key space).
    """
    h = F.substring(F.md5(F.col(id_col).cast("string")), 1, 8)
    thr = F.lit(rate_threshold(default_rate))
    for value in sorted(rates):
        thr = F.when(
            F.col(stratum_col) == value, F.lit(rate_threshold(rates[value]))
        ).otherwise(thr)
    return (
        df.withColumn("_h", h)
        .where(F.col("_h") < thr)
        .select(id_col, stratum_col, F.col("_h").alias("sample_key"))
    )


def stratified_sample_sql(
    table: str,
    id_col: str,
    stratum_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
) -> str:
    """DuckDB twin of ``stratified_sample`` (same md5 keys, same
    thresholds, same lexicographic predicate)."""
    branches = " ".join(
        "WHEN {c} = '{v}' THEN '{t}'".format(
            c=stratum_col, v=str(v).replace("'", "''"), t=rate_threshold(r)
        )
        for v, r in sorted(rates.items())
    )
    return f"""
WITH keyed AS (
  SELECT {id_col}, {stratum_col},
         substr(md5(cast({id_col} AS varchar)), 1, 8) AS sample_key,
         CASE {branches} ELSE '{rate_threshold(default_rate)}' END AS thr
  FROM {table}
)
SELECT {id_col}, {stratum_col}, sample_key
FROM keyed WHERE sample_key < thr
"""


def _running_offsets(id_col: str):
    """mapInPandas fn: rows arrive sorted by (grp, sort_key, id)
    within the partition; emit each row's cumulative token count
    within its grp run (sum of PRECEDING rows). Bounded memory: the
    carried state is one (grp, acc) pair across Arrow batches."""

    def run(batches):
        cur = None
        acc = 0
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            g = pdf["grp"].to_numpy()
            tok = pdf["n_tokens"].to_numpy()
            cs = np.cumsum(tok) - tok  # batch-local preceding sum
            change = np.empty(n, dtype=bool)
            change[0] = cur is None or g[0] != cur
            if n > 1:
                change[1:] = g[1:] != g[:-1]
            idx = np.arange(n, dtype=np.int64)
            run_start = np.maximum.accumulate(np.where(change, idx, 0))
            local = cs - cs[run_start]
            if not change[0]:
                local[run_start == 0] += acc  # run continuing from last batch
            acc = int(local[-1] + tok[-1])
            cur = g[-1]
            out = pdf[[id_col, "bucket", "n_tokens", "grp"]].copy()
            out["__local"] = local.astype(np.int64)
            yield out

    return run


def pack_sequences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    budget: int,
    partitions: int = 64,
    depth: int = 3,
) -> DataFrame:
    """Assign each document to a ~``budget``-token training pack.

    Deterministic hash order inside 16 independent buckets; running
    sum of whitespace token counts; ``pack_id`` is the bucket plus
    the pack ordinal the document STARTS in (concat-then-cut).
    Returns (id, bucket, n_tokens, start_offset, pack_id).

    The running sum is two-pass, never a per-bucket window (which
    would serialize 1/16 of the corpus through one task): rows
    hash-shuffle on the first ``depth`` md5 hex chars — each ``grp``
    is a CONTIGUOUS sub-range of its bucket's (sort_key, id) order,
    so per-grp token sums (pass 1, O(16^depth) driver rows) give
    exact base offsets, and pass 2 adds a streaming partition-local
    cumulative sum. Deterministic under any partitioning: the total
    order is (md5, id) and hash placement never affects the values.
    """
    spark = df.sparkSession
    md5 = F.md5(F.col(id_col).cast("string"))
    toks = F.size(
        F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
    ).cast("long")
    base = df.select(
        F.col(id_col),
        F.substring(md5, 1, 1).alias("bucket"),
        md5.alias("sort_key"),
        F.substring(md5, 1, depth).alias("grp"),
        toks.alias("n_tokens"),
    )
    sdf = base.repartition(partitions, "grp").sortWithinPartitions(
        "grp", "sort_key", id_col
    )
    # pass 1: per-grp token sums → base offset of each grp = Σ sums
    # of lexicographically earlier grps in the same bucket (grps are
    # contiguous ranges of the bucket's md5 order, so this is exact)
    sums = sdf.groupBy("grp").agg(F.sum("n_tokens").alias("s")).collect()
    acc: dict[str, int] = {}
    offs = []
    for r in sorted(sums, key=lambda r: r["grp"]):
        b = r["grp"][0]
        offs.append((r["grp"], acc.get(b, 0)))
        acc[b] = acc.get(b, 0) + int(r["s"])
    if not offs:
        offs = [("", 0)]
    off_df = spark.createDataFrame(offs, "grp string, __base long")
    # pass 2: streaming local cumsum (one Arrow batch of state) +
    # broadcast base-offset join — both stay in the shuffle stage
    id_type = dict(df.dtypes)[id_col]
    out = sdf.mapInPandas(
        _running_offsets(id_col),
        f"`{id_col}` {id_type}, bucket string, n_tokens long, "
        "grp string, __local long",
    )
    return (
        out.join(F.broadcast(off_df), "grp")
        .withColumn(
            "start_offset", (F.col("__local") + F.col("__base")).cast("long")
        )
        .withColumn(
            "pack_id",
            F.concat_ws(
                "-", F.col("bucket"),
                F.floor(F.col("start_offset") / budget).cast("string"),
            ),
        )
        .select(id_col, "bucket", "n_tokens", "start_offset", "pack_id")
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Sliding-window document chunking — the RAG / context-window
    prep op: split each document into ``chunk_size``-token windows
    every ``stride`` tokens (overlap = chunk_size - stride).

    All IN-ROW array math (sequence → posexplode → slice →
    array_join): one scan, zero shuffle, parallelism follows the
    input partitioning — the 100-TB-safe shape (a per-doc window or
    self-join would shuffle the corpus for a per-row computation).
    Empty documents produce no chunks. Returns
    (id, chunk_idx, start_tok, n_chunk_tokens, chunk_text).
    """
    from .dedup import tokens_col

    toks = tokens_col(F.col(text_col))
    base = df.select(F.col(id_col).alias("id"), toks.alias("ts"))
    starts = F.when(
        F.size("ts") > 0,
        F.sequence(F.lit(0), F.size("ts") - 1, F.lit(stride)),
    ).otherwise(F.array().cast("array<int>"))
    ex = base.select(
        "id", "ts", F.posexplode(starts).alias("chunk_idx", "start_tok")
    )
    piece = F.slice(F.col("ts"), F.col("start_tok") + 1, chunk_size)
    return ex.select(
        "id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("start_tok").cast("long").alias("start_tok"),
        F.size(piece).cast("long").alias("n_chunk_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def pack_sequences_sql(table: str, id_col: str, text_col: str, budget: int) -> str:
    """DuckDB twin of ``pack_sequences``."""
    return f"""
WITH t AS (
  SELECT {id_col},
         substr(md5(cast({id_col} AS varchar)), 1, 1) AS bucket,
         md5(cast({id_col} AS varchar)) AS sort_key,
         len(list_filter(regexp_split_to_array({text_col}, '\\s+'),
                         x -> x <> ''))::bigint AS n_tokens
  FROM {table}
)
SELECT {id_col}, bucket, n_tokens,
       (sum(n_tokens) OVER (PARTITION BY bucket ORDER BY sort_key, {id_col}
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        - n_tokens)::bigint AS start_offset,
       bucket || '-' || cast(floor(((sum(n_tokens) OVER (PARTITION BY bucket
            ORDER BY sort_key, {id_col}
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) - n_tokens)
            / {budget}) AS bigint) AS pack_id
FROM t
"""


def dsir_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_ids: DataFrame,
    n_feat_buckets: int = 64,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling", arXiv:2302.03169):
    score every raw document by how target-domain-like it is under
    hashed n-gram features, log w(x) = Σ_f  c_f(x)·(log p̂_target(f)
    − log p̂_raw(f)), with add-1 smoothing over the feature buckets.
    Resampling the raw corpus ∝ w(x) shifts it toward the target
    domain. ``target_ids`` is a one-column ``id`` DataFrame naming
    the target-domain exemplars (they also remain part of raw).

    Features are word bigrams hashed into ``n_feat_buckets`` buckets
    via a 48-bit md5 prefix — md5 for engine-portable determinism
    (same rationale as every other hash in this package).

    Scale shape: one tokenize+bigram scan → per-(doc, bucket) counts
    (map-side combinable) → the two distribution tables are
    ``n_feat_buckets`` rows each (BOUNDED by construction, unlike a
    vocabulary — safe to broadcast at any corpus size) → per-doc
    weighted fold. The per-doc sum folds over an array sorted by
    bucket id, so the float result is bit-deterministic across
    partitionings and matches the oracle's identical sorted fold.
    ``target_ids`` joins via left_semi on the doc id — broadcast only
    if Spark/AQE decides it's small; no forced hint.
    """
    from .dedup import tokens_col

    toks = df.select(
        F.col(id_col).alias("id"), tokens_col(F.col(text_col)).alias("ts")
    )
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size("ts") - 1),
        lambda i: F.array_join(F.slice("ts", i, 2), " "),
    )
    from ..persist import shared

    # feats feeds the doc histogram, the raw distribution AND the
    # target distribution — persist so the tokenize + bigram + md5
    # scan runs once per invocation
    feats = shared(
        toks.filter(F.size("ts") >= 2)
        .select("id", F.explode(bigrams).alias("bg"))
        .select(
            "id",
            (
                F.conv(F.substring(F.md5("bg"), 1, 12), 16, 10).cast("long")
                % n_feat_buckets
            ).alias("bucket"),
        )
    )
    doc_hist = feats.groupBy("id", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    raw_dist = feats.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("raw_cnt")
    )
    tgt_dist = (
        feats.join(target_ids.select(F.col(target_ids.columns[0]).alias("id")), "id", "left_semi")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("tgt_cnt"))
    )
    # bounded (n_feat_buckets rows): totals + smoothed log ratio
    dist = (
        raw_dist.join(tgt_dist, "bucket", "left")
        .select("bucket", "raw_cnt", F.coalesce("tgt_cnt", F.lit(0)).alias("tgt_cnt"))
    )
    totals = dist.agg(
        F.sum("raw_cnt").cast("double").alias("raw_total"),
        F.sum("tgt_cnt").cast("double").alias("tgt_total"),
    )
    ratio = dist.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.log((F.col("tgt_cnt") + 1.0) / (F.col("tgt_total") + n_feat_buckets))
            - F.log((F.col("raw_cnt") + 1.0) / (F.col("raw_total") + n_feat_buckets))
        ).alias("log_ratio"),
    )
    per_doc = (
        doc_hist.join(F.broadcast(ratio), "bucket")
        .groupBy("id")
        .agg(
            F.sum("cnt").cast("int").alias("n_feats"),
            F.array_sort(
                F.collect_list(F.struct("bucket", (F.col("cnt") * F.col("log_ratio")).alias("term")))
            ).alias("terms"),
        )
    )
    return per_doc.select(
        "id",
        "n_feats",
        F.round(
            F.aggregate("terms", F.lit(0.0), lambda a, x: a + x["term"]),
            6,
        ).alias("log_weight"),
    )
