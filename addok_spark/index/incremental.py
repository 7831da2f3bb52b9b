"""Incremental index maintenance (CDC) + streaming ingestion.

Re-expresses the reference's per-document ``_action ∈ {index, update,
delete}`` path (``/root/reference/addok/ds.py:58-75``,
``addok/helpers/index.py:57-92`` index/deindex) as *bucket-granular
snapshot publication*:

- every posting block holds only docs from one doc-range bucket, and
  buckets are grouped into ``pbucket`` partition directories;
- an upsert/delete therefore invalidates exactly the pbuckets of the
  touched doc_indexes: a batch builds the NEXT snapshot dir
  (``root/v{N+1}``) by hardlinking every untouched partition dir from
  the current snapshot (O(#files) metadata ops, zero data copy — the
  local-FS analog of Iceberg manifest reuse) and recomputing only the
  touched ones, then atomically flips ``CURRENT.json``
  (``IndexPaths.publish``, one ``os.replace``). Readers pinned to the
  previous snapshot (``IndexPaths.pin()``) are never torn: no live
  path is ever rewritten or removed mid-batch — the property the
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
import shutil
from contextlib import ExitStack
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import EngineConfig
from .build import (
    IndexPaths,
    analyze_docs,
    assign_doc_ids,
    build_blocks_from_analyzed,
    dict_partials_from_blocks,
    dictionary_from_partials,
    pairs_from_analyzed,
    pairs_from_blocks,
    prefixes_from_dictionary,
    read_table,
    table_exists,
)
from .fileio import FileIO, LocalFileIO


def _with_pbucket(df: DataFrame, cfg: EngineConfig) -> DataFrame:
    return df.withColumn(
        "pbucket",
        F.shiftright("doc_index", cfg.doc_bucket_bits + cfg.pbucket_shift),
    )


def _stage_partitions(src: str, dst: str, skip, prefix: str,
                      fileio: FileIO) -> None:
    """Populate a staging table dir with SHARED copies (hardlinks on
    a POSIX FileIO) of every partition dir of ``src`` except
    ``{prefix}{v}`` for v in ``skip`` (the caller rewrites those).
    Loose table files are shared too, except _SUCCESS (the staged
    write drops a fresh one). Nothing under ``src`` is modified.

    Only called for link-capable FileIOs: without links a snapshot
    shares unchanged partitions BY MANIFEST REFERENCE instead (see
    fileio module docstring), and nothing is staged for them."""
    s, d = Path(src), Path(dst)
    d.mkdir(parents=True, exist_ok=True)
    if not s.exists():
        return
    skip_names = {f"{prefix}{v}" for v in skip}
    for p in s.iterdir():
        if p.name in skip_names or p.name == "_SUCCESS":
            continue
        if p.is_dir():
            fileio.share_tree(p, d / p.name)
        else:
            fileio.share_file(p, d / p.name)


def _staged_view(spark, cur: IndexPaths, stg: IndexPaths, table: str,
                 rewritten, part_col: str, linked: bool) -> DataFrame:
    """The complete STAGED table as a DataFrame. With links the
    staging dir materializes it (shared untouched partitions +
    freshly written ones) — one plain read. Without links the staging
    dir holds only the rewritten partitions, so the view is their
    union with the current snapshot's untouched partitions (read by
    manifest reference) — exactly the relation the new manifest will
    record."""
    stg_dir = getattr(stg, table)
    if linked:
        return spark.read.parquet(stg_dir)
    parts: list[DataFrame] = []
    if Path(stg_dir).exists():
        parts.append(spark.read.parquet(stg_dir))
    if table_exists(cur, table):
        kept = read_table(spark, cur, table)
        if rewritten:
            kept = kept.filter(~F.col(part_col).isin(sorted(rewritten)))
        parts.append(kept)
    if not parts:
        raise ValueError(f"staged table {table} has no data")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def _rel_to_root(path: str, root: Path) -> str:
    return str(Path(path).relative_to(root))


def _synth_entries(table_dir: str, rel_base: str) -> dict[str, str]:
    """Manifest entries synthesized from a materialized table dir
    (pre-manifest snapshots / the flat v0 bulk layout)."""
    d = Path(table_dir)
    if not d.exists():
        return {}
    names = [p.name for p in sorted(d.iterdir()) if p.name != "_SUCCESS"]
    if any("=" in n for n in names):
        return {n: f"{rel_base}/{n}" for n in names if "=" in n}
    return {"": rel_base} if names else {}


def _prev_entries(cur: IndexPaths, table: str) -> dict[str, str]:
    """The current snapshot's manifest entries for ``table`` —
    straight from its manifest when one exists (locations stay valid
    verbatim: manifests only ever reference immutable dirs), else
    synthesized from the materialized layout."""
    m = cur.read_snapshot_manifest()
    if m is not None:
        return dict(m.get("tables", {}).get(table, {}))
    return _synth_entries(
        getattr(cur, table), _rel_to_root(getattr(cur, table), cur.root)
    )


def _next_entries(cur: IndexPaths, stg: IndexPaths, table: str,
                  rewritten) -> dict[str, str]:
    """Manifest entries for ``table`` in the snapshot being staged:
    previous entries minus the rewritten partitions, plus whatever
    the batch actually wrote under the staging dir. ``rewritten`` is
    a set of partition-dir names, or "full" for a whole-table
    rewrite."""
    if rewritten == "full":
        out: dict[str, str] = {}
    else:
        out = {
            k: v
            for k, v in _prev_entries(cur, table).items()
            if k not in rewritten
        }
    stg_dir = Path(getattr(stg, table))
    if stg_dir.exists():
        rel = _rel_to_root(str(stg_dir), stg.root)
        names = [
            p.name for p in sorted(stg_dir.iterdir()) if p.name != "_SUCCESS"
        ]
        if names and not any("=" in n for n in names):
            return {"": rel}
        for n in names:
            if "=" in n:
                out[n] = f"{rel}/{n}"
    return out


def _persist_scoped(held: ExitStack, df: DataFrame) -> DataFrame:
    """Persist ``df`` for the rest of the batch: ``held`` unpersists it
    on every way out of ``apply_actions``, a failed write included."""
    df = df.persist()
    held.callback(df.unpersist)
    return df


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
    Default LocalFileIO materializes each snapshot as a hardlink
    tree; a supports_links=False IO (object store) shares untouched
    partitions purely by snapshot-manifest reference — nothing is
    linked or copied, and readers resolve tables via
    ``build.read_table``.

    Each relation is computed once per batch: the change set is
    resolved against the docs table in one join, the touched docs are
    analyzed once (docs, blocks AND touched pairs all come from those
    rows), and the dictionary is folded once. Every relation the batch
    persists is released before it returns or raises.
    """
    paths = paths if isinstance(paths, IndexPaths) else IndexPaths(Path(paths))
    fileio = fileio or LocalFileIO()
    linked = fileio.supports_links
    cur = paths.pin()  # the consistent snapshot every read comes from

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
    with ExitStack() as held:
        # the change set resolved ONCE: every key's last action with its
        # current doc_index (null → a key the index does not hold). Counts,
        # touched pbuckets, id assignment and the survivors anti-join all
        # read this one relation — the dedup window and the docs join run
        # once per batch. Both joins broadcast the batch side, so the
        # docs scan is never shuffled
        matched = docs.select(*keys, "doc_index").join(
            F.broadcast(keyed.select(*keys)), keys, "left_semi"
        )
        resolved = _persist_scoped(
            held, keyed.join(F.broadcast(matched), keys, "left")
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
        new_rows = upserts.filter(F.col("doc_index").isNull()).drop("doc_index")
        if n_new > cfg.cdc_backfill_threshold:
            # backfill-sized batch: the two-pass range assigner (no
            # global window — id assignment must not serialize through
            # one task), offset past the existing id space
            parts = max(1, min(cfg.build_partitions, n_new // 50_000 + 1))
            assigned, cached_ids = assign_doc_ids(new_rows, parts)
            held.callback(cached_ids.unpersist)
            new_rows = assigned.withColumn(
                "doc_index", F.col("doc_index") + F.lit(max_id + 1)
            )
        else:
            # micro-batch: one small window task is cheaper than the
            # assigner's extra pass
            from pyspark.sql.window import Window

            w = Window.orderBy("conv_id", "turn_idx")
            new_rows = new_rows.withColumn(
                "doc_index", F.row_number().over(w).cast("long") + F.lit(max_id)
            )
        upserted = upserts.filter(F.col("doc_index").isNotNull()).unionByName(new_rows)

        # --- staging snapshot: all writes land here; nothing under the
        # current snapshot is ever modified ------------------------------
        stg_version = (cur.version or 0) + 1
        stg = IndexPaths(cur.root, stg_version)
        if stg.snapshot_root.exists():  # crashed, never-published staging
            shutil.rmtree(stg.snapshot_root)
        stale_manifest = stg.snapshot_manifest_file(stg_version)
        if stale_manifest.exists():
            stale_manifest.unlink()
        stg.snapshot_root.mkdir(parents=True)

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
        # analyzer's own counter, and the docs, blocks and touched pairs
        # all read these analyzed rows — no second analysis pass, no dl
        # groupBy, no block unpack for the pair refresh
        analyzed_new = _persist_scoped(held, analyze_docs(new_docs, cfg))
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
        # untouched partitions: shared into the staging snapshot
        # (hardlinks) when the FileIO supports it, else left as manifest
        # references; touched partitions: appended fresh (a partition
        # that became EMPTY is neither shared nor written — no orphan
        # postings, the reference's deindex invariant,
        # tests/test_index_utils.py:94-114)
        if linked:
            _stage_partitions(cur.docs, stg.docs, set(touched_pb), "pbucket=",
                              fileio)
        docs_part.write.mode("append").partitionBy("pbucket").parquet(stg.docs)

        # rebuild the touched posting partitions (filter-set rows are
        # synthesized inside the local packer, same as the bulk build)
        blocks = build_blocks_from_analyzed(analyzed_new, cfg)
        if linked:
            _stage_partitions(cur.blocks, stg.blocks, set(touched_pb),
                              "pbucket=", fileio)
        blocks.write.mode("append").partitionBy("pbucket").parquet(stg.blocks)

        # --- dictionary: per-pbucket partials, touched partitions only --
        # (O(touched) — untouched pbuckets' block files are never read;
        # the global fold reads only the tiny partials table. The old
        # partials stay readable at the current snapshot, so no scratch
        # materialization is needed to know the previously-present tokens)
        changed_tokens = None  # None → unknown → full prefix rewrite
        partials_full_rewrite = not table_exists(cur, "dict_partials")
        if partials_full_rewrite:
            # legacy index (pre-partials layout): one full derivation
            # upgrades it; subsequent batches are incremental
            partials_src = _staged_view(spark, cur, stg, "blocks",
                                        set(touched_pb), "pbucket", linked)
        else:
            if linked:
                _stage_partitions(cur.dict_partials, stg.dict_partials,
                                  set(touched_pb), "pbucket=", fileio)
            partials_src = spark.read.parquet(stg.blocks).filter(
                F.col("pbucket").isin(touched_pb)
            )
        # hash repartition (not range), as the bulk build: the range
        # sampler would re-run the blocks aggregation
        dict_partials_from_blocks(partials_src).repartition(
            cfg.build_partitions, "pbucket", "token"
        ).sortWithinPartitions("pbucket", "token").write.mode(
            "overwrite" if partials_full_rewrite else "append"
        ).partitionBy("pbucket").parquet(stg.dict_partials)
        if not partials_full_rewrite:
            # read by the crossing check and the prefix refresh (three
            # times there) — computed once
            changed_tokens = _persist_scoped(held, (
                read_table(spark, cur, "dict_partials")
                .filter(F.col("pbucket").isin(touched_pb))
                .select("token")
                .unionByName(
                    spark.read.parquet(stg.dict_partials)
                    .filter(F.col("pbucket").isin(touched_pb))
                    .select("token")
                )
                .distinct()
            ))

        partials_view = _staged_view(
            spark, cur, stg, "dict_partials",
            set() if partials_full_rewrite else set(touched_pb),
            "pbucket", linked or partials_full_rewrite,
        )
        dictionary_from_partials(partials_view).repartitionByRange(
            cfg.build_partitions, "token"
        ).sortWithinPartitions("token").write.mode("overwrite").parquet(
            stg.dictionary
        )
        dict_disk = spark.read.parquet(stg.dictionary)
        # tokens whose COMMON status flips this batch invalidate pair
        # partitions beyond the touched set (the pair table excludes the
        # Zipf head by global df) — the OLD dictionary (still intact at
        # the current snapshot) against the one just written
        crossing: list[str] = []
        if (
            changed_tokens is not None
            and table_exists(cur, "pairs")
            and cfg.cdc_rebuild_pairs
        ):
            old_df = read_table(spark, cur, "dictionary").select(
                "token", F.col("df").alias("odf")
            )
            crossing = [
                r["token"]
                for r in changed_tokens.join(old_df, "token", "left")
                .join(
                    dict_disk.select("token", F.col("df").alias("ndf")),
                    "token",
                    "left",
                )
                .filter(
                    (F.coalesce(F.col("odf"), F.lit(0)) > cfg.common_threshold)
                    != (F.coalesce(F.col("ndf"), F.lit(0)) > cfg.common_threshold)
                )
                .select("token")
                .collect()
            ]

        # --- prefixes: rewrite only the hash buckets of changed tokens --
        pfx_rewritten: set[str] | str = "full"
        if table_exists(cur, "prefixes"):
            pfx_rewritten = _refresh_prefixes(
                spark, cur, stg, dict_disk, changed_tokens, cfg, fileio
            )

        # --- pairs: rebuild touched partitions (+ partitions holding a
        # common-threshold-crossing token), never the whole corpus ------
        pairs_rewritten: set[str] | str = "full"
        if table_exists(cur, "pairs") and cfg.cdc_rebuild_pairs:
            pairs_rewritten = _refresh_pairs(
                spark, cur, stg, dict_disk, partials_view, analyzed_new,
                touched_pb, crossing, cfg, fileio,
            )
        # (cdc_rebuild_pairs=False → pairs simply absent from the new
        # snapshot; the engine degrades to pairs=None expansion pruning)

        # refresh meta (n_docs / avgdl) incrementally + lineage record
        meta = json.loads(cur.meta.read_text())
        if "sum_dl" in meta:
            new = new_stats.get
            old = [pb_stats[pb] for pb in touched_pb if pb in pb_stats]
            n_docs = meta["n_docs"] - sum(int(r["cnt"]) for r in old) + int(new["cnt"])
            sum_dl = meta["sum_dl"] - sum(int(r["sdl"]) for r in old) + int(new["sdl"])
        else:  # legacy meta: one full single-column scan re-baselines it
            docs_now = _staged_view(
                spark, cur, stg, "docs", set(touched_pb), "pbucket", linked
            )
            n_docs = docs_now.count()
            sum_dl = int(docs_now.agg(F.sum("dl")).collect()[0][0] or 0)
        meta["n_docs"] = int(n_docs)
        meta["sum_dl"] = int(sum_dl)
        meta["avgdl"] = float(sum_dl) / max(n_docs, 1)
        n_up, n_del = int(counts["n_up"]), int(counts["n_del"])
        lineage = {
            "upserts": n_up,
            "deletes": n_del,
            "touched_pbuckets": touched_pb,
            "version": stg_version,
        }
        if batch_id is not None:
            lineage["batch_id"] = batch_id
        meta.setdefault("applied_batches", []).append(lineage)
        stg.meta.write_text(json.dumps(meta, indent=2))

        # --- snapshot manifest: per-table entry → root-relative location.
        # With links every location points into the materialized staging
        # tree (the manifest is then just a listing); without links the
        # untouched partitions keep their previous locations — sharing by
        # reference, which is what makes the layout object-store-safe ----
        tables: dict[str, dict[str, str]] = {}
        pbnames = {f"pbucket={v}" for v in touched_pb}
        for t, rewritten in (
            ("docs", pbnames),
            ("blocks", pbnames),
            ("dict_partials", "full" if partials_full_rewrite else pbnames),
            ("dictionary", "full"),
            ("prefixes", pfx_rewritten),
            ("pairs", pairs_rewritten),
        ):
            entries = _next_entries(cur, stg, t, rewritten)
            if entries:
                tables[t] = entries
        stg.snapshot_manifest_file(stg_version).write_text(
            json.dumps(
                {
                    "version": stg_version,
                    "materialized": bool(linked),
                    "tables": tables,
                },
                indent=2,
            )
        )

        # --- atomic publish: one pointer swap of CURRENT.json (local:
        # os.replace; object store: single PUT) --------------------------
        IndexPaths(cur.root).publish(
            stg_version, keep=cfg.snapshot_keep, fileio=fileio
        )
        return {
            "upserts": n_up,
            "deletes": n_del,
            "touched_pbuckets": touched_pb,
            "version": stg_version,
        }


def _refresh_prefixes(
    spark: SparkSession,
    cur: IndexPaths,
    stg: IndexPaths,
    dict_disk: DataFrame,
    changed_tokens: DataFrame | None,
    cfg: EngineConfig,
    fileio: FileIO,
) -> set[str] | str:
    """Stage the prefix table for the next snapshot: hash buckets
    holding no changed token are shared (hardlink or manifest
    reference); buckets with changed tokens are rewritten as
    keep-rows (members minus changed tokens) union the changed
    tokens' freshly derived rows. A bucket whose every token vanished
    is simply not staged — no removal from any live path, and no
    read-from/overwrite-to-same-path cycle (reads come from ``cur``,
    writes go to ``stg``). Returns the rewritten partition names (or
    "full") for the snapshot manifest."""
    if cur.read_snapshot_manifest() is not None:
        legacy = False  # manifest-bearing snapshots are never legacy
    else:
        legacy = not any(
            p.name.startswith("pfx_bucket=")
            for p in Path(cur.prefixes).iterdir()
            if p.is_dir()
        )
    if legacy or changed_tokens is None:
        prefixes_from_dictionary(dict_disk, cfg).repartitionByRange(
            cfg.build_partitions, "pfx_bucket", "prefix"
        ).sortWithinPartitions("pfx_bucket", "prefix").write.mode(
            "overwrite"
        ).partitionBy("pfx_bucket").parquet(stg.prefixes)
        return "full"
    buckets = [
        r["b"]
        for r in changed_tokens.select(
            F.pmod(F.xxhash64("token"), F.lit(cfg.prefix_hash_buckets))
            .cast("int")
            .alias("b")
        )
        .distinct()
        .collect()
    ]
    if fileio.supports_links:
        _stage_partitions(cur.prefixes, stg.prefixes, set(buckets),
                          "pfx_bucket=", fileio)
    if not buckets:
        return set()
    keep = (
        read_table(spark, cur, "prefixes")
        .filter(F.col("pfx_bucket").isin(buckets))
        .join(changed_tokens, "token", "left_anti")
    )
    fresh = prefixes_from_dictionary(
        dict_disk.join(changed_tokens, "token", "left_semi"), cfg
    )
    keep.select("prefix", "token", "df", "max_boost", "pfx_bucket").unionByName(
        fresh.select("prefix", "token", "df", "max_boost", "pfx_bucket")
    ).repartitionByRange(
        cfg.build_partitions, "pfx_bucket", "prefix"
    ).sortWithinPartitions(
        "pfx_bucket", "prefix"
    ).write.mode("append").partitionBy("pfx_bucket").parquet(stg.prefixes)
    return {f"pfx_bucket={b}" for b in buckets}


def _refresh_pairs(
    spark: SparkSession,
    cur: IndexPaths,
    stg: IndexPaths,
    dict_disk: DataFrame,
    partials_view: DataFrame,
    analyzed: DataFrame,
    touched_pb: list[int],
    crossing: list[str],
    cfg: EngineConfig,
    fileio: FileIO,
) -> set[str] | str:
    """Stage the pair table's next snapshot: untouched pbucket
    partitions shared (hardlink or manifest reference), touched ones
    re-derived from the batch's ``analyzed`` rows (which hold every
    doc of the touched pbuckets), and any other partition holding a
    token that crossed the common threshold this batch re-derived
    from its staged blocks. A partition rebuilt to zero pairs is
    simply not written — the stale-dir hazard of in-place dynamic
    overwrite cannot occur. Returns the rebuilt partition names (or
    "full") for the snapshot manifest."""
    if cur.read_snapshot_manifest() is not None:
        legacy = False  # manifest-bearing snapshots are never legacy
    else:
        legacy = not any(
            p.name.startswith("pbucket=")
            for p in Path(cur.pairs).iterdir()
            if p.is_dir()
        )
    rebuild = set(touched_pb)
    if not legacy and crossing:
        rebuild.update(
            r["pbucket"]
            for r in partials_view
            .filter(F.col("token").isin(crossing))
            .select("pbucket")
            .distinct()
            .collect()
        )
    linked = fileio.supports_links

    def staged_blocks():
        return _staged_view(
            spark, cur, stg, "blocks", set(touched_pb), "pbucket", linked
        )

    if legacy:
        pairs = pairs_from_blocks(staged_blocks(), dict_disk, cfg)
        mode = "overwrite"
    else:
        if linked:
            _stage_partitions(cur.pairs, stg.pairs, rebuild, "pbucket=",
                              fileio)
        # touched pbuckets: each doc's distinct tokens are already in
        # its analyzed row — no block unpack, no regroup-by-doc shuffle
        pairs = pairs_from_analyzed(analyzed, dict_disk, cfg)
        # a crossing token's other pbuckets were not analyzed this
        # batch: unpack their blocks (read through the staged VIEW, so
        # they resolve by reference too)
        extra = sorted(rebuild - set(touched_pb))
        if extra:
            pairs = pairs.unionByName(pairs_from_blocks(
                staged_blocks().filter(F.col("pbucket").isin(extra)),
                dict_disk, cfg,
            ))
        mode = "append"
    # HASH repartition (not range): the range sampler re-executes the
    # pair-expansion child — the measured 2× of the bulk stage; files
    # stay (token_a, token_b)-sorted within partitions for row-group
    # pruning, which is the part the probes need
    pairs.repartition(
        cfg.build_partitions, "pbucket", "token_a"
    ).sortWithinPartitions("pbucket", "token_a", "token_b").write.mode(
        mode
    ).partitionBy("pbucket").parquet(stg.pairs)
    # a pair table emptied of every partition has no readable schema
    # left — drop the STAGED dir (never a live path); the engine
    # treats a missing pairs dir as pairs=None (expansion pruning
    # degrades to dictionary presence, which is exact here: with zero
    # co-occurring non-common pairs no multi-token expansion could
    # match anyway)
    if Path(stg.pairs).exists() and not any(
        q.name.startswith("pbucket=") for q in Path(stg.pairs).iterdir()
    ):
        shutil.rmtree(stg.pairs, ignore_errors=True)
    return "full" if legacy else {f"pbucket={v}" for v in rebuild}


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
