"""Incremental index maintenance (CDC) + streaming ingestion.

Re-expresses the reference's per-document ``_action ∈ {index, update,
delete}`` path (``/root/reference/addok/ds.py:58-75``,
``addok/helpers/index.py:57-92`` index/deindex) as *bucket-granular
snapshot publication*:

- every posting block holds only docs from one doc-range bucket, and
  buckets are grouped into ``pbucket`` partition directories;
- an upsert/delete therefore invalidates exactly the pbuckets of the
  touched doc_indexes: a batch writes only the touched partitions
  into the NEXT snapshot dir (``root/v{N+1}``), records a manifest in
  which every untouched partition keeps its previous location (the
  Iceberg manifest-reuse idea; ``FileIO.stage_partitions`` may also
  hardlink them into the new dir — ``LocalFileIO`` does), then
  atomically flips ``CURRENT.json`` (``IndexPaths.publish``). Every
  read of the current or staged tables resolves through
  ``IndexPaths`` entries, whichever FileIO wrote them. Readers pinned
  to the previous snapshot (``IndexPaths.pin()``) are never torn: no
  live path is ever rewritten or removed mid-batch — the property the
  reference gets from Redis per-command atomicity, ≙ Iceberg
  ``REPLACE WHERE`` + snapshot commit;
- the token dictionary is re-derived from block *metadata* (no text
  re-analysis), so global df/cf stay exactly consistent after any
  sequence of actions — the invariant the reference's deindex tests
  assert (``tests/test_index_utils.py:94-167``).

New documents are appended to the tail of the doc_index space in
(conv_id, turn_idx) order, preserving the stable-ordering invariant
for all pre-existing docs. Updates keep their doc_index (same key →
same id), so posting order stays globally consistent.

``stream_transcripts`` wires the same apply_actions into Structured
Streaming via foreachBatch: exactly-once per micro-batch through the
streaming checkpoint + the manifest's applied-batch record.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import EngineConfig
from ..persist import scope, shared
from .build import (
    BLOCKS_WRITE_OPTIONS,
    IndexPaths,
    analyze_docs,
    assign_doc_ids,
    build_blocks_from_analyzed,
    check_blocks_layout,
    dict_partials_from_blocks,
    dictionary_from_partials,
    open_dataset,
    read_entries,
    read_table,
)
from .fileio import FileIO, LocalFileIO


# the relations a batch reads more than once are persisted at
# the default storage level of Spark's DataFrame cache, deserialized in memory
_CDC_LEVEL = StorageLevel.MEMORY_AND_DISK_DESER


def _with_pbucket(df: DataFrame, cfg: EngineConfig) -> DataFrame:
    return df.withColumn(
        "pbucket",
        F.shiftright("doc_index", cfg.doc_bucket_bits + cfg.pbucket_shift),
    )


def _staged_view(spark, cur: IndexPaths, stg: IndexPaths, table: str,
                 rewritten) -> DataFrame:
    """The complete STAGED table as a DataFrame: exactly the entries
    the new manifest will record for it (see ``IndexPaths.next_entries``),
    read through the same resolver as any published table."""
    return read_entries(spark, stg.root, stg.next_entries(cur, table, rewritten))


def _last_action_per_key(changes: DataFrame, cfg: EngineConfig) -> DataFrame:
    """``changes`` reduced to one row per (conv_id, turn_idx): its LAST
    action, ``_action`` defaulted to "index", and upserts that leave an
    ``allow_null=False`` field empty turned into deletes. Columns:
    conv_id, turn_idx, _action, then the payload."""
    from pyspark.sql.window import Window

    from .build import field_null_violation

    if "_action" not in changes.columns:
        changes = changes.withColumn("_action", F.lit("index"))
    changes = changes.withColumn(
        "_action", F.coalesce(F.col("_action"), F.lit("index"))
    )
    # LAST action per key wins, deterministically: ordered by the
    # change-sequence column — explicit `_seq` if provided, else the
    # row timestamp `ts` — with `_action` as the final tiebreak so
    # equal-sequence batches still resolve identically across runs
    # (the reference processes actions strictly in stream order,
    # ds.py:67-70; a micro-batch must reproduce that order)
    seq = (
        F.col("_seq")
        if "_seq" in changes.columns
        else (F.col("ts") if "ts" in changes.columns else F.lit(0))
    )
    # final tiebreak: a deterministic payload digest, so two rows that
    # tie on BOTH (_seq, _action) — e.g. duplicate 'index' actions with
    # different text at the same _seq — still resolve identically
    # across runs (never by partition luck); the ordering is total
    payload_cols = [
        c for c in changes.columns
        if c not in ("conv_id", "turn_idx", "_seq")
    ]
    wseq = Window.partitionBy("conv_id", "turn_idx").orderBy(
        seq.desc(),
        F.col("_action").desc(),
        F.xxhash64(*[F.col(c).cast("string") for c in payload_cols]).desc(),
    )
    changes = (
        changes.withColumn("__rn", F.row_number().over(wseq))
        .filter(F.col("__rn") == 1)
        .drop("__rn", *(["_seq"] if "_seq" in changes.columns else []))
    )

    # ``allow_null=False`` fields: an upsert whose required field is
    # empty is not indexable — the reference's index_document skips
    # it, which on an update leaves the old doc deindexed; here that
    # is exactly a delete action (no-op if the key never existed)
    viol = field_null_violation(changes, cfg)
    if viol is not None:
        changes = changes.withColumn(
            "_action",
            F.when(
                (F.col("_action") != "delete") & viol, F.lit("delete")
            ).otherwise(F.col("_action")),
        )
    return changes.select(
        "conv_id", "turn_idx", "_action",
        *[c for c in changes.columns if c not in ("conv_id", "turn_idx", "_action")],
    )


def apply_actions(
    spark: SparkSession,
    paths: IndexPaths | str,
    changes: DataFrame,
    cfg: EngineConfig,
    batch_id: int | None = None,
    fileio: FileIO | None = None,
) -> dict:
    """Apply a batch of document actions to an existing index.

    ``changes``: transcripts columns + optional ``_action`` column
    (default "index"). Builds and atomically publishes the next
    snapshot (see module docstring). Returns metrics {upserts,
    deletes, touched_pbuckets, version}.

    ``batch_id`` (streaming callers): recorded in the published
    snapshot's manifest (meta.applied_batches[].batch_id). A batch id
    already present in the CURRENT manifest is a replay — the stream
    crashed between snapshot publish and checkpoint commit — and is
    skipped without building a snapshot (returns replayed=True).
    Manifest record + skip together give exactly-once semantics over
    snapshot versions on top of foreachBatch's at-least-once.

    ``fileio``: the filesystem seam (see fileio module docstring).
    Untouched partitions are always carried by manifest reference;
    the default LocalFileIO also hardlinks them into the new snapshot
    dir, NoLinkFileIO (object store) shares nothing.

    Each relation is computed once per batch: the change set is
    resolved against the docs table in one join, the touched docs are
    analyzed once (docs and blocks both come from those rows), and
    the dictionary is folded once. Every relation the batch
    persists is released before it returns or raises.
    """
    paths = paths if isinstance(paths, IndexPaths) else IndexPaths(Path(paths))
    fileio = fileio or LocalFileIO()
    cur = paths.pin()  # the consistent snapshot every read comes from
    blocks_ds = open_dataset(cur, "blocks")
    if blocks_ds is not None:
        check_blocks_layout(blocks_ds.schema, cur.root)

    if batch_id is not None and cur.meta.exists():
        applied = json.loads(cur.meta.read_text()).get("applied_batches", [])
        if any(b.get("batch_id") == batch_id for b in applied):
            return {
                "upserts": 0,
                "deletes": 0,
                "touched_pbuckets": [],
                "version": cur.version or 0,
                "replayed": True,
            }

    keyed = _last_action_per_key(changes, cfg)
    docs = read_table(spark, cur, "docs")
    keys = ["conv_id", "turn_idx"]
    shift = cfg.doc_bucket_bits + cfg.pbucket_shift
    with scope():
        # the change set resolved ONCE: every key's last action with its
        # current doc_index (null → a key the index does not hold). Counts,
        # touched pbuckets, id assignment and the survivors anti-join all
        # read this one relation — the dedup window and the docs join run
        # once per batch. Both joins broadcast the batch side, so the
        # docs scan is never shuffled
        matched = docs.select(*keys, "doc_index").join(
            F.broadcast(keyed.select(*keys)), keys, "left_semi"
        )
        resolved = shared(
            keyed.join(F.broadcast(matched), keys, "left"), _CDC_LEVEL
        )
        is_del = F.col("_action") == "delete"
        counts = resolved.agg(
            F.count(F.when(~is_del, 1)).alias("n_up"),
            F.count(F.when(is_del, 1)).alias("n_del"),
            F.count(F.when(~is_del & F.col("doc_index").isNull(), 1)).alias("n_new"),
            F.collect_set(F.shiftright("doc_index", shift)).alias("old_pb"),
        ).collect()[0]
        n_new = int(counts["n_new"])
        # per-pbucket (count, Σdl, max id) of the live docs: one scan of
        # three narrow columns gives the id space's tail AND the old stats
        # of whichever pbuckets the batch touches (≤ n_docs / 2^shift rows)
        pb_stats = {
            r["pbucket"]: r
            for r in docs.groupBy("pbucket").agg(
                F.count(F.lit(1)).alias("cnt"),
                F.coalesce(F.sum("dl"), F.lit(0)).alias("sdl"),
                F.max("doc_index").alias("max_id"),
            ).collect()
        }
        max_id = max((int(r["max_id"]) for r in pb_stats.values()), default=-1)

        # touched pbuckets = buckets of deleted ∪ updated ids, plus the
        # new ids [max_id+1, max_id+n_new] (dense — both assigners below)
        touched_pb = set(counts["old_pb"])
        if n_new:
            touched_pb.update(
                range((max_id + 1) >> shift, ((max_id + n_new) >> shift) + 1)
            )
        touched_pb = sorted(touched_pb)
        if not touched_pb:
            # no-op batch: no new snapshot — report the STILL-CURRENT
            # version so callers reading metrics["version"] (as the
            # docstring promises) never KeyError
            return {
                "upserts": 0,
                "deletes": 0,
                "touched_pbuckets": [],
                "version": cur.version or 0,
            }

        # ids: updates keep their doc_index; new docs append after max
        upserts = resolved.filter(~is_del)
        upserted = upserts.filter(F.col("doc_index").isNotNull())
        if n_new:
            # the bulk build's two-pass range assigner (no global
            # window, so id assignment never serializes through one
            # task), offset past the existing id space
            new_rows = upserts.filter(F.col("doc_index").isNull()).drop("doc_index")
            parts = max(1, min(cfg.build_partitions, n_new // 50_000 + 1))
            upserted = upserted.unionByName(
                assign_doc_ids(new_rows, parts).withColumn(
                    "doc_index", F.col("doc_index") + F.lit(max_id + 1)
                )
            )

        # --- staging snapshot: all writes land here; nothing under the
        # current snapshot is ever modified ------------------------------
        stg = cur.stage_next()
        pbnames = {f"pbucket={v}" for v in touched_pb}

        # rebuild the touched doc partitions: survivors + upserts
        doc_cols = [c for c in docs.columns if c not in ("dl", "pbucket")]
        survivors = (
            docs.filter(F.col("pbucket").isin(touched_pb))
            .join(F.broadcast(resolved.select(*keys)), keys, "left_anti")
            .select(*doc_cols)
        )
        ups_cols = upserted
        if "importance" not in ups_cols.columns:
            ups_cols = ups_cols.withColumn("importance", F.lit(0.0))
        ups_cols = ups_cols.select(*[
            F.col(c) if c in ups_cols.columns else F.lit(None).alias(c)
            for c in doc_cols
        ])
        new_docs = survivors.unionByName(ups_cols)

        # analyze ONCE (the bulk build's shape): dl comes from the
        # analyzer's own counter, and the docs and blocks both read
        # these analyzed rows — no second analysis pass, no dl groupBy
        analyzed_new = shared(analyze_docs(new_docs, cfg), _CDC_LEVEL)
        docs_part = _with_pbucket(
            analyzed_new.withColumn("dl", F.col("__an.dl")).drop("__an"), cfg
        )
        # the new stats of the touched doc partitions ride on the docs
        # write (an observed metric, no job of their own); the old ones
        # came with the id-space scan — n_docs / sum_dl update
        # incrementally instead of re-scanning the whole docs table
        new_stats = Observation("cdc_new_docs")
        docs_part = docs_part.observe(
            new_stats,
            F.count(F.lit(1)).alias("cnt"),
            F.coalesce(F.sum("dl"), F.lit(0)).alias("sdl"),
        )
        # untouched partitions: manifest references (the FileIO may
        # also share them into the staging dir); touched partitions:
        # appended fresh (a partition that became EMPTY is neither
        # shared nor written — no orphan postings, the reference's
        # deindex invariant, tests/test_index_utils.py:94-114)
        fileio.stage_partitions(cur.docs, stg.docs, touched_pb, "pbucket=")
        docs_part.write.mode("append").partitionBy("pbucket").parquet(stg.docs)

        # rebuild the touched posting partitions (f| filter postings
        # included, same as the bulk build)
        blocks = build_blocks_from_analyzed(analyzed_new, cfg)
        fileio.stage_partitions(cur.blocks, stg.blocks, touched_pb, "pbucket=")
        blocks.write.mode("append").options(**BLOCKS_WRITE_OPTIONS).partitionBy(
            "pbucket"
        ).parquet(stg.blocks)

        # --- dictionary: per-pbucket partials, touched partitions only --
        # (O(touched) — untouched pbuckets' block files are never read;
        # the global fold reads only the tiny partials table. The old
        # partials stay readable at the current snapshot, so no scratch
        # materialization is needed to know the previously-present tokens)
        fileio.stage_partitions(cur.dict_partials, stg.dict_partials,
                                touched_pb, "pbucket=")
        partials_src = spark.read.parquet(stg.blocks).filter(
            F.col("pbucket").isin(touched_pb)
        )
        # hash repartition (not range), as the bulk build: the range
        # sampler would re-run the blocks aggregation
        dict_partials_from_blocks(partials_src).repartition(
            cfg.build_partitions, "pbucket", "token"
        ).sortWithinPartitions("pbucket", "token").write.mode(
            "append"
        ).partitionBy("pbucket").parquet(stg.dict_partials)

        dictionary_from_partials(
            _staged_view(spark, cur, stg, "dict_partials", pbnames)
        ).repartitionByRange(
            cfg.build_partitions, "token"
        ).sortWithinPartitions("token").write.mode("overwrite").parquet(
            stg.dictionary
        )

        # refresh meta (n_docs / avgdl) incrementally + lineage record
        meta = json.loads(cur.meta.read_text())
        new = new_stats.get
        old = [pb_stats[pb] for pb in touched_pb if pb in pb_stats]
        n_docs = meta["n_docs"] - sum(int(r["cnt"]) for r in old) + int(new["cnt"])
        sum_dl = meta["sum_dl"] - sum(int(r["sdl"]) for r in old) + int(new["sdl"])
        meta["n_docs"] = int(n_docs)
        meta["sum_dl"] = int(sum_dl)
        meta["avgdl"] = float(sum_dl) / max(n_docs, 1)
        n_up, n_del = int(counts["n_up"]), int(counts["n_del"])
        lineage = {
            "upserts": n_up,
            "deletes": n_del,
            "touched_pbuckets": touched_pb,
            "version": stg.version,
        }
        if batch_id is not None:
            lineage["batch_id"] = batch_id
        meta.setdefault("applied_batches", []).append(lineage)
        stg.meta.write_text(json.dumps(meta, indent=2))

        # --- snapshot manifest: per-table entry → root-relative location;
        # untouched partitions keep their previous locations ----------
        stg.write_manifest(cur, {
            "docs": pbnames,
            "blocks": pbnames,
            "dict_partials": pbnames,
            "dictionary": "full",
        })

        # --- atomic publish: one pointer swap of CURRENT.json (local:
        # os.replace; object store: single PUT) --------------------------
        IndexPaths(cur.root).publish(
            stg.version, keep=cfg.snapshot_keep, fileio=fileio
        )
        return {
            "upserts": n_up,
            "deletes": n_del,
            "touched_pbuckets": touched_pb,
            "version": stg.version,
        }


def stream_transcripts(
    spark: SparkSession,
    stream_df: DataFrame,
    paths: IndexPaths | str,
    cfg: EngineConfig,
    checkpoint_dir: str,
    trigger_once: bool = True,
):
    """Continuous ingestion: readStream → foreachBatch(apply_actions).

    foreachBatch is at-least-once (a crash between snapshot publish
    and checkpoint commit replays the batch); apply_actions records
    each batch id in the snapshot manifest and skips ids already
    applied, upgrading the pipeline to exactly-once over snapshot
    versions."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        apply_actions(spark, paths, batch_df, cfg, batch_id=batch_id)

    writer = (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
