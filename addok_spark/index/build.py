"""Distributed inverted-index build (postings, dictionary) over a
transcripts table.

Reference dataflow being re-expressed (NOT ported): the reference
indexes docs one at a time into Redis sorted sets
(``/root/reference/addok/helpers/index.py:40-85``) behind a
multiprocessing pool (``addok/helpers/__init__.py:224-289``). Here the
same logical artifacts are produced as one declarative Spark plan:

    transcripts
      → assign dense ordered doc_index   (scalable two-pass range sort)
      → analyze fields (one mapInArrow pass): per doc, one
        (token, tf, positions, boost) entry per distinct token
      → explode into posting rows, union the f| filter postings
      → groupBy(token, doc_bucket): array_sort(collect_list(posting))
        [partial collect map-side, final collect after the shuffle;
        doc-range bucketing IS the hot-token salt: "the" splits across
        buckets, no reducer ever owns a full hot posting list, and
        unlike a random salt the bucket boundaries preserve doc order
        so blocks concatenate into a globally doc-ordered posting list]
      → slice each sorted list into posting BLOCKS: rows whose
        payloads are native Parquet list columns (``docs`` absolute
        ascending, ``tfs``, ``boosts``, one position list per posting
        in ``pos``) — the columnar writer encodes them; no
        hand-written codec, no Python past the analyzer
      → the dictionary side table. Autocomplete and co-occurrence
        need no table of their own: in the token-sorted dictionary
        every prefix is one contiguous range, and two tokens co-occur
        when their doc-sorted posting lists intersect — both read by
        the serving tier (``serving/local.py``).

Each stage is written to its own directory with a manifest + metrics
sidecar; a re-run with the same ``out_dir`` skips completed stages →
checkpoint-resumable build (north_rule). Storage is parquet here; on
a real cluster these writers target Iceberg tables (``writeTo``),
which adds snapshot isolation on top of the same layout.

Weight formula parity: per-field token boost =
``DEFAULT_BOOST / n_field_tokens * field_boost`` and per-(doc,token)
``max(boost) + importance * 0.1``
(``addok/helpers/index.py:30-37,121-141``).
"""

from __future__ import annotations

import json
import shutil
import time
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import BM25_B, BM25_K1, EngineConfig
from ..persist import scope, shared

# Parquet writer settings of the blocks table (bulk build and CDC).
# A token read decodes every row group whose token min/max holds the
# token, and list columns decode value by value, so row groups stay
# small enough for those statistics to prune. Doc indexes and
# positions are ascending runs: DELTA_BINARY_PACKED (a v2 encoding)
# stores them in a few bits per value, where a per-row-group
# dictionary would repeat the doc ids of every group.
BLOCKS_WRITE_OPTIONS = {
    "parquet.block.size": str(64 * 1024),
    "parquet.writer.version": "v2",
    "parquet.enable.dictionary#docs.list.element": "false",
    "parquet.enable.dictionary#pos.list.element.list.element": "false",
}


def _load_json(f: Path, what: str) -> dict | None:
    """``f`` parsed, or None when it does not exist. A file that exists
    but does not parse raises: a damaged pointer or manifest must never
    read as "no snapshot" (that silently serves an older version)."""
    if not f.exists():
        return None
    try:
        obj = json.loads(f.read_text())
        if not isinstance(obj, dict):
            raise ValueError("not a JSON object")
        return obj
    except ValueError as e:
        raise ValueError(f"damaged {what} {f}: {e}") from e


@dataclass
class IndexPaths:
    """Index directory layout, versioned snapshot publish, and the ONE
    resolver of where a snapshot's table data lives.

    Two layouts coexist:

    - **flat** (a bulk build into an empty dir): tables live directly
      under ``root`` — ``version`` 0.
    - **versioned** (after any CDC batch or a rebuild over a versioned
      index): snapshot N writes its files under ``root/v{N:06d}/``,
      and ``root/snapshot-v{N:06d}.json`` (its manifest) maps each
      table's partitions to root-relative locations — in that dir, or
      in any earlier one when the FileIO shares untouched partitions
      by reference instead of by hardlink. ``root/CURRENT.json`` names
      the published version; publish is one atomic pointer swap (the
      local-FS analog of an Iceberg snapshot commit). A reader never
      sees a torn table: writers only create new snapshot dirs and
      flip CURRENT last.

    ``table_entries`` is where every reader starts: the manifest's
    entries, or entries synthesized from the table dir when the
    version has no manifest (flat v0). ``read_table`` (Spark) and
    ``open_dataset`` (pyarrow) open exactly those entries.

    ``version=None`` (default) resolves CURRENT.json on every access —
    what mutators and tests want. Long-lived readers (SearchEngine,
    serving) call ``pin()`` once so all their reads come from one
    consistent snapshot; ``publish(..., keep=k)`` retains the last
    ``k`` snapshots for exactly those pinned readers.
    """

    root: Path
    version: int | None = None  # None → follow CURRENT.json; 0 → flat

    def current_version(self) -> int | None:
        ptr = _load_json(self.root / "CURRENT.json", "snapshot pointer")
        if ptr is None:
            return None
        try:
            return int(ptr["version"])
        except (KeyError, TypeError, ValueError) as e:
            raise ValueError(
                f"damaged snapshot pointer {self.root / 'CURRENT.json'}: {e!r}"
            ) from e

    def pin(self) -> "IndexPaths":
        """A copy fixed to the snapshot published right now."""
        if self.version is not None:
            return self
        v = self.current_version()
        return IndexPaths(self.root, v if v is not None else 0)

    @property
    def snapshot_root(self) -> Path:
        v = self.version if self.version is not None else self.current_version()
        if not v:
            return self.root
        return self.root / f"v{v:06d}"

    def snapshot_manifest_file(self, version: int) -> Path:
        """Immutable per-snapshot manifest: {"version": N, "tables":
        {table: {entry: root-relative location}}}. Entries are
        partition-dir names ("pbucket=3") or "" for a table wholly
        inside one dir. (Manifests written before this format also
        carry a "materialized" flag; readers ignore it.)"""
        return self.root / f"snapshot-v{int(version):06d}.json"

    def read_snapshot_manifest(self) -> dict | None:
        """The pinned version's snapshot manifest, or None (flat v0 /
        pre-manifest snapshots). Raises if the file is damaged."""
        v = self.version if self.version is not None else self.current_version()
        if not v:
            return None
        return _load_json(self.snapshot_manifest_file(v), "snapshot manifest")

    def dir_entries(self, table: str) -> dict[str, str]:
        """Entries synthesized from this snapshot's own ``table`` dir:
        one per partition dir, or the single entry "" for an
        unpartitioned table; {} when the dir is missing or holds no
        data (hidden files — _SUCCESS, _metrics.json, .crc — only, as
        an empty partitioned write leaves it)."""
        d = Path(getattr(self, table))
        if not d.exists():
            return {}
        rel = str(d.relative_to(self.root))
        names = [
            p.name for p in sorted(d.iterdir())
            if not p.name.startswith(("_", "."))
        ]
        if any("=" in n for n in names):
            return {n: f"{rel}/{n}" for n in names if "=" in n}
        return {"": rel} if names else {}

    def table_entries(self, table: str) -> dict[str, str]:
        """Where ``table``'s data lives in this snapshot — straight from
        the manifest when the version has one (locations stay valid
        verbatim: manifests only reference immutable dirs), else
        synthesized from the table dir. {} → the snapshot has no such
        table."""
        m = self.read_snapshot_manifest()
        if m is None:
            return self.dir_entries(table)
        return dict(m.get("tables", {}).get(table, {}))

    def next_entries(self, prev: "IndexPaths | None", table: str,
                     rewritten=frozenset()) -> dict[str, str]:
        """Entries for ``table`` in this STAGED snapshot: ``prev``'s
        entries minus the ``rewritten`` partition names ("full" drops
        them all), plus whatever this snapshot's own dir holds."""
        own = self.dir_entries(table)
        if prev is None or rewritten == "full" or "" in own:
            return own
        out = {
            k: v for k, v in prev.table_entries(table).items()
            if k not in rewritten
        }
        out.update(own)
        return out

    def write_manifest(self, prev: "IndexPaths | None" = None,
                       rewritten: dict | None = None) -> None:
        """Write this staged snapshot's manifest (``next_entries`` for
        every table; ``rewritten`` maps table → rewritten partition
        names or "full"). ``prev=None`` lists only this snapshot's own
        dirs — a full rebuild."""
        rewritten = rewritten or {}
        tables = {}
        for t in MANIFEST_TABLES:
            entries = self.next_entries(prev, t, rewritten.get(t, frozenset()))
            if entries:
                tables[t] = entries
        self.snapshot_manifest_file(self.version).write_text(
            json.dumps({"version": self.version, "tables": tables}, indent=2)
        )

    def stage_next(self) -> "IndexPaths":
        """An empty staging snapshot for the version after this pinned
        one. A dir or manifest left by a crashed, never-published
        attempt at that version is removed first."""
        import shutil as _shutil

        stg = IndexPaths(self.root, (self.version or 0) + 1)
        if stg.snapshot_root.exists():
            _shutil.rmtree(stg.snapshot_root)
        stale = stg.snapshot_manifest_file(stg.version)
        if stale.exists():
            stale.unlink()
        stg.snapshot_root.mkdir(parents=True)
        return stg

    def publish(self, version: int, keep: int = 2, fileio=None) -> None:
        """Commit ``version``: one atomic pointer swap of
        CURRENT.json (os.replace locally ≙ single-object PUT on an
        object store — the only mutable object in the layout), then
        GC snapshot dirs older than the last ``keep`` UNLESS a
        retained manifest still references them (a snapshot's
        untouched partitions may live in older dirs by reference;
        deleting those would corrupt the live snapshot). Every
        retained manifest is read BEFORE the swap, so a damaged one
        raises with nothing committed and nothing deleted. Pinned
        readers on the previous snapshot keep working; the flat v0
        layout is never deleted — it doubles as the root dir."""
        import re
        import shutil as _shutil

        if fileio is None:
            from .fileio import LocalFileIO

            fileio = LocalFileIO()
        # dirs referenced by any RETAINED snapshot's manifest survive
        referenced: set[str] = set()
        lo = version - max(keep, 1) + 1
        for v in range(max(lo, 1), version + 1):
            man = _load_json(self.snapshot_manifest_file(v), "snapshot manifest")
            for entries in (man or {}).get("tables", {}).values():
                for rel in entries.values():
                    referenced.add(str(rel).split("/", 1)[0])
        pointer: dict = {"version": int(version)}
        if self.snapshot_manifest_file(version).exists():
            pointer["manifest"] = self.snapshot_manifest_file(version).name
        fileio.put_pointer(
            self.root / "CURRENT.json", json.dumps(pointer)
        )
        for p in self.root.iterdir():
            m = re.fullmatch(r"v(\d{6})", p.name)
            if m and int(m.group(1)) <= version - max(keep, 1):
                if p.name in referenced:
                    continue
                _shutil.rmtree(p, ignore_errors=True)
                old = self.snapshot_manifest_file(int(m.group(1)))
                if old.exists():
                    old.unlink()

    @property
    def docs(self) -> str:
        return str(self.snapshot_root / "docs")

    @property
    def blocks(self) -> str:
        return str(self.snapshot_root / "blocks")

    @property
    def dictionary(self) -> str:
        return str(self.snapshot_root / "dictionary")

    @property
    def dict_partials(self) -> str:
        # per-pbucket dictionary aggregates (pbucket-partitioned):
        # CDC recomputes only touched partitions and the global
        # dictionary folds these partials instead of all block stats
        return str(self.snapshot_root / "dict_partials")

    @property
    def prefixes(self) -> str:
        # nothing writes this dir and no manifest lists it: autocomplete
        # reads the dictionary. An older index may still hold one, which
        # every reader ignores; perfbench sizes it (0 bytes when absent)
        return str(self.snapshot_root / "prefixes")

    @property
    def pairs(self) -> str:
        # nothing writes this dir and no manifest lists it: co-occurrence
        # intersects posting lists. An older index may still hold one,
        # which every reader ignores; perfbench sizes it (0 bytes when
        # absent)
        return str(self.snapshot_root / "pairs")

    @property
    def meta(self) -> Path:
        return self.snapshot_root / "meta.json"

    @property
    def manifest(self) -> Path:
        # build-stage resume state: root-level (spans snapshots)
        return self.root / "manifest.json"



# every table a snapshot manifest can carry (each an IndexPaths
# property resolving under snapshot_root)
MANIFEST_TABLES = ("docs", "blocks", "dictionary", "dict_partials")


def _scans(root: Path, entries: dict[str, str]) -> list[tuple[str, list[str] | None]]:
    """``entries`` grouped by the dir they physically live in: (dir,
    None) reads the whole dir — an unpartitioned table, or a base
    whose every partition is an entry (flat v0 and every hardlinked
    snapshot: one plain scan, as a directory read); (base, partition
    dirs) reads just those under that ``basePath``."""
    out: list[tuple[str, list[str] | None]] = []
    groups: dict[str, list[str]] = {}
    for name, rel in sorted(entries.items()):
        loc = root / rel
        if name:
            groups.setdefault(str(loc.parent), []).append(str(loc))
        else:
            out.append((str(loc), None))
    for base, dirs in sorted(groups.items()):
        listed = {p.name for p in Path(base).iterdir() if "=" in p.name}
        covered = listed == {Path(d).name for d in dirs}
        out.append((base, None if covered else dirs))
    return out


def read_entries(spark, root: Path, entries: dict[str, str]) -> DataFrame:
    """One Spark scan per base dir of ``entries`` (see ``_scans``),
    unioned. A ``basePath`` scan keeps the hive partition column, and
    partition-filter pushdown still prunes inside every scan."""
    if not entries:
        raise FileNotFoundError(f"no table data under {root}")
    dfs = [
        spark.read.parquet(base) if dirs is None
        else spark.read.option("basePath", base).parquet(*dirs)
        for base, dirs in _scans(Path(root), entries)
    ]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


def read_table(spark, paths: "IndexPaths", table: str) -> DataFrame:
    """Open an index table at the pinned snapshot (Spark)."""
    pinned = paths.pin()
    return read_entries(spark, pinned.root, pinned.table_entries(table))


def open_dataset(paths: "IndexPaths", table: str):
    """Open an index table at the pinned snapshot as a pyarrow dataset
    (hive-partitioned, filter-prunable), or None when the snapshot has
    no such table. The same entries and base dirs as ``read_table``:
    one dataset per base, unioned only when there are several."""
    import pyarrow.dataset as pds

    pinned = paths.pin()
    entries = pinned.table_entries(table)
    if not entries:
        return None
    sets = []
    for base, dirs in _scans(pinned.root, entries):
        if dirs is None:
            # default ignore_prefixes skips _SUCCESS/_metrics/.crc
            sets.append(pds.dataset(base, format="parquet", partitioning="hive"))
            continue
        files = [str(f) for f in _data_files(dirs)]
        sets.append(pds.dataset(
            files, format="parquet", partitioning="hive",
            partition_base_dir=base,
        ))
    return sets[0] if len(sets) == 1 else pds.dataset(sets)


def _data_files(dirs) -> list[Path]:
    """Parquet data files under ``dirs`` (``_``/``.`` sidecars such as
    _SUCCESS, _metrics.json and .crc skipped)."""
    return [
        f for d in dirs for f in sorted(Path(d).rglob("*"))
        if f.is_file() and not f.name.startswith(("_", "."))
    ]


def table_files(paths: "IndexPaths", table: str) -> list[Path]:
    """Every data file of ``table`` at the pinned snapshot, wherever
    its entries live."""
    pinned = paths.pin()
    return _data_files(
        pinned.root / rel for rel in pinned.table_entries(table).values()
    )


def check_blocks_layout(schema, where) -> None:
    """Refuse a blocks table that predates the list-column posting
    layout (its payloads were binary blobs, so it has no ``docs``
    column). A CDC batch over such an index would mix both layouts in
    one snapshot, and every old fragment's ``docs`` would read as null
    postings."""
    if "docs" not in schema.names:
        raise ValueError(
            f"{where}: the blocks table uses the retired binary posting "
            "layout; rebuild the index with `build --no-resume`"
        )


def table_exists(paths: "IndexPaths", table: str) -> bool:
    """Whether the pinned snapshot carries ``table``."""
    return bool(paths.pin().table_entries(table))


def _parquet_rows(path: str) -> int:
    """Row count from parquet footers (driver-side, no Spark job). A
    footer that cannot be read raises: the docs stage's count becomes
    ``meta.json``'s ``n_docs``, the BM25 idf input."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(p).metadata.num_rows
        for p in Path(path).rglob("*.parquet")
    )


def assign_doc_ids(df: DataFrame, partitions: int) -> DataFrame:
    """Dense, ordered int64 doc_index by (conv_id, turn_idx).

    Scalable two-pass pattern (no global window): range-partition +
    per-partition sort, count rows per partition (O(P) driver state),
    then attach ``offset[pid] + arange`` per partition. Replaces the
    reference's Redis INCR id allocator (``addok/db.py:20-22``) with
    an order-preserving distributed equivalent. The sorted input is
    read twice (counts, then ids), so it is ``shared()``: the caller's
    persistence scope holds it.
    """
    sdf = shared(
        df.repartitionByRange(partitions, "conv_id", "turn_idx")
        .sortWithinPartitions("conv_id", "turn_idx")
    )
    counts = (
        sdf.groupBy(F.spark_partition_id().alias("pid"))
        .count()
        .collect()
    )
    sizes = {r["pid"]: r["count"] for r in counts}
    offsets: list[tuple[int, int]] = []
    acc = 0
    for pid in range(max(sizes) + 1 if sizes else 0):
        offsets.append((pid, acc))
        acc += sizes.get(pid, 0)
    spark = df.sparkSession
    off_df = spark.createDataFrame(offsets or [(0, 0)], "pid int, __offset long")
    # doc_index computed entirely JVM-side: monotonically_increasing_id
    # encodes (partition_id << 33) | row-seq-within-partition, so
    # seq = mid - (pid << 33); no Python crossing in the hot path.
    return (
        sdf.withColumn("pid", F.spark_partition_id())
        .withColumn("__mid", F.monotonically_increasing_id())
        .join(F.broadcast(off_df), "pid")
        .withColumn(
            "doc_index",
            (F.col("__mid") - F.expr("shiftleft(cast(pid as bigint), 33)"))
            + F.col("__offset"),
        )
        .drop("pid", "__mid", "__offset")
    )


DOC_TOKENS_TYPE = T.StructType(
    [
        T.StructField(
            "toks",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("token", T.StringType()),
                        T.StructField("tf", T.IntegerType()),
                        T.StructField("pos", T.ArrayType(T.IntegerType())),
                        T.StructField("boost", T.FloatType()),
                    ]
                )
            ),
        ),
        T.StructField("dl", T.IntegerType()),
    ]
)


def make_doc_tokens_udf(
    cfg: EngineConfig, field_names: list[str], with_alt: bool = False
):
    """Per-DOCUMENT analysis + aggregation in ONE Arrow batch pass —
    the readable REFERENCE twin of the vectorized ``_make_doc_analyzer``
    the build actually runs (equivalence-tested in
    tests/test_index_build.py). Nothing else calls it: CDC batches
    run ``analyze_docs`` too. It is kept as executable spec.

    Since every (doc, token) pair lives in exactly one input row, the
    tf/positions/boost aggregation is a per-row computation — doing
    it inside the UDF removes the 60M-row explode + hash-aggregate
    that dominated the build (and anti-scaled at high thread counts
    from per-task agg memory pressure). Weight formula unchanged:
    ``DEFAULT_BOOST / n_field_tokens * field_boost`` per field,
    per-(doc,token) ``max + importance*0.1``
    (addok/helpers/index.py:30-37,121-141). Positions are global
    across fields in config field order; dl = total token count.
    """
    from ..functions.text import analyze_series, analyze_str

    fields = [
        (f.name, f.boost, f.boost_col)
        for f in cfg.fields
        if f.name in field_names
    ]
    # fields with a per-doc boost column, in field order — their
    # columns follow the field columns in the UDF argument list
    boosted = [i for i, (_, _, bc) in enumerate(fields) if bc]
    syn = dict(cfg.synonyms)
    procs = cfg.processors
    default_boost, iw = cfg.default_boost, cfg.importance_weight

    def run(*cols: pd.Series) -> pd.DataFrame:
        # column order: field columns, boost-override columns (for
        # fields with boost_col, in field order), [alt variants
        # list], importance
        imp = cols[-1].fillna(0.0).to_numpy(dtype=np.float64)
        n_f = len(fields)
        bseries = {
            fi: cols[n_f + j] for j, fi in enumerate(boosted)
        }
        alt_col = cols[n_f + len(boosted)] if with_alt else None
        per_field = [analyze_series(c, syn, procs) for c in cols[:n_f]]
        n_rows = len(imp)
        # per-doc token aggregation (python dicts over ~40 tokens/doc)
        toks_out: list = []
        dl_out = np.zeros(n_rows, dtype=np.int32)
        for i in range(n_rows):
            pos = 0
            tfs: dict = {}
            boosts: dict = {}
            positions: dict = {}
            segments = []
            for fi, ((fname, fboost, _bc), toks_s) in enumerate(
                zip(fields, per_field)
            ):
                bs = bseries.get(fi)
                if bs is not None and not pd.isna(bs.iat[i]):
                    fboost = float(bs.iat[i])
                segments.append((toks_s.iat[i], fboost))
                if fi == 0 and alt_col is not None:
                    variants = alt_col.iat[i]
                    if variants is not None:
                        for v in variants:
                            # each variant weighted by its OWN length
                            segments.append(
                                (analyze_str(v or "", syn, procs), fboost)
                            )
            for toks, fboost in segments:
                if toks is None or len(toks) == 0:
                    continue
                w = default_boost / len(toks) * fboost
                for t in toks:
                    tfs[t] = tfs.get(t, 0) + 1
                    positions.setdefault(t, []).append(pos)
                    b = boosts.get(t)
                    if b is None or w > b:
                        boosts[t] = w
                    pos += 1
            ib = imp[i] * iw
            toks_out.append([
                {"token": t, "tf": tf, "pos": positions[t],
                 "boost": boosts[t] + ib}
                for t, tf in tfs.items()
            ])
            dl_out[i] = pos
        return pd.DataFrame({"toks": toks_out, "dl": dl_out})

    return F.pandas_udf(run, DOC_TOKENS_TYPE)


def _expand_synonyms(flat, rows, syn: dict[str, str]):
    """Inline, order-preserving synonym expansion over a flat Arrow
    token array (+ parallel row-id array). Applied on the DICTIONARY
    (unique values), not per token — a batch has thousands of uniques
    vs millions of tokens. Same semantics as ``synonymize_tokens``:
    each hit is replaced by its (possibly multi-word) target, in
    place."""
    import pyarrow as pa

    enc = flat.dictionary_encode()
    codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    uniq = enc.dictionary.to_pylist()
    # falsy targets keep the original token — the `if repl` check in
    # synonymize_tokens; '' .split(" ") would inject an empty token
    exp = [syn[u].split(" ") if syn.get(u) else [u] for u in uniq]
    if all(len(e) == 1 and e[0] == u for e, u in zip(exp, uniq)):
        return flat, rows
    rep_counts = np.array([len(e) for e in exp], dtype=np.int64)
    vals = pa.array([t for e in exp for t in e], type=pa.string())
    val_starts = np.concatenate(([0], np.cumsum(rep_counts)))
    per_tok = rep_counts[codes]
    out_rows = np.repeat(rows, per_tok)
    base = np.repeat(val_starts[codes], per_tok)
    within = np.arange(len(out_rows), dtype=np.int64) - np.repeat(
        np.cumsum(per_tok) - per_tok, per_tok
    )
    return vals.take(pa.array(base + within)), out_rows


def _apply_procs_flat(flat, ids, procs):
    """Apply the configured token-processor chain per contiguous
    id-run of a flat Arrow token array (+ parallel row/variant id
    array) — the Arrow analyzer's hook for ``cfg.token_processors``.
    Only runs when processors are configured (the default build never
    leaves Arrow); a processor sees one segment's ordered token list,
    exactly like ``analyze_str`` gives it."""
    import pyarrow as pa

    from ..functions.text import apply_processors

    toks = flat.to_pylist()
    out_t: list[str] = []
    out_i: list[int] = []
    i, n = 0, len(toks)
    while i < n:
        j = i
        rid = ids[i]
        while j < n and ids[j] == rid:
            j += 1
        new = apply_processors(toks[i:j], procs)
        out_t.extend(new)
        out_i.extend([rid] * len(new))
        i = j
    return pa.array(out_t, type=pa.string()), np.array(out_i, dtype=np.int64)


def _make_doc_analyzer(
    cfg: EngineConfig,
    fields: list[tuple[str, float]],
    alt_field: str | None = None,
):
    """mapInArrow analyzer: the fully-vectorized twin of
    ``make_doc_tokens_udf`` (kept as the readable reference — their
    outputs are equivalence-tested). Tokens are split JVM→Arrow→C++
    (``split_pattern_regex``), synonym-expanded on unique values only,
    aggregated per (doc, token) with one lexsort + reduceat, and the
    nested ``__an`` output column (positions as list<int32> sliced from
    the one sorted position array) is assembled as native Arrow
    buffers — no per-token Python objects in OR out (the list-of-dicts
    return path of the pandas UDF was most of the stage's CPU). Struct
    order within a doc is dictionary-code order, not first-occurrence
    order — no consumer depends on it (the blocks stage re-sorts)."""
    from ..functions.text import fold_series

    syn = dict(cfg.synonyms)
    procs = cfg.processors
    db, iw = cfg.default_boost, cfg.importance_weight

    def run(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            n_rows = b.num_rows
            if n_rows == 0:
                continue
            names = list(b.schema.names)
            if "importance" in names:
                imp = np.nan_to_num(
                    b.column("importance").to_numpy(zero_copy_only=False)
                    .astype(np.float64),
                    nan=0.0,
                )
            else:
                imp = np.zeros(n_rows)
            row_parts, tok_parts, w_parts, pos_parts = [], [], [], []
            pos_base = np.zeros(n_rows, dtype=np.int64)

            def _emit(flat, rows0, w_tok, cnt_row):
                nonlocal pos_base
                # positions continue per row across segments; within a
                # segment the flattened order is row-major, so the
                # in-row offset is index-minus-row-start
                starts_r = np.cumsum(cnt_row) - cnt_row
                pos_in = np.arange(len(rows0), dtype=np.int64) - np.repeat(
                    starts_r, cnt_row
                )
                row_parts.append(rows0)
                tok_parts.append(flat)
                w_parts.append(w_tok)
                pos_parts.append(pos_base[rows0] + pos_in)
                pos_base = pos_base + cnt_row

            def _alt_segment(bvals):
                # list-valued label variants (≙ reference list-value
                # name, index_document): each variant weighted by ITS
                # OWN token count (x the owning row's field boost);
                # tokens appended right after the primary field's
                col = b.column(alt_field)
                if isinstance(col, pa.ChunkedArray):
                    col = col.combine_chunks()
                ll = (
                    pc.list_value_length(col).fill_null(0)
                    .to_numpy(zero_copy_only=False).astype(np.int64)
                )
                vrow = np.repeat(np.arange(n_rows, dtype=np.int64), ll)
                if len(vrow) == 0:
                    return
                folded = fold_series(col.flatten().to_pandas())
                sp = pc.split_pattern_regex(
                    pa.array(folded, type=pa.string()), "[^a-z0-9_]+"
                )
                counts_v = pc.list_value_length(sp).fill_null(0).to_numpy(
                    zero_copy_only=False
                ).astype(np.int64)
                flat = _one_chunk(sp.flatten())
                vid0 = np.repeat(
                    np.arange(len(vrow), dtype=np.int64), counts_v
                )
                ne = np.flatnonzero(
                    pc.not_equal(flat, "").to_numpy(zero_copy_only=False)
                )
                flat = flat.take(pa.array(ne))
                vid0 = vid0[ne]
                if syn and len(vid0):
                    flat, vid0 = _expand_synonyms(flat, vid0, syn)
                if procs and len(vid0):
                    flat, vid0 = _apply_procs_flat(flat, vid0, procs)
                cnt_v = np.bincount(vid0, minlength=len(vrow))
                w_v = np.zeros(len(vrow))
                nzv = cnt_v > 0
                w_v[nzv] = db / cnt_v[nzv] * bvals[vrow][nzv]
                rows0 = vrow[vid0]
                cnt_row = np.bincount(rows0, minlength=n_rows)
                _emit(flat, rows0, w_v[vid0], cnt_row)

            for fi, (fname, fboost, bcol) in enumerate(fields):
                # per-doc boost override column (≙ callable boost)
                if bcol and bcol in names:
                    bvals = (
                        b.column(bcol).to_pandas()
                        .astype("float64").fillna(fboost)
                        .to_numpy(dtype=np.float64)
                    )
                else:
                    bvals = np.full(n_rows, float(fboost))
                folded = fold_series(b.column(fname).to_pandas())
                sp = pc.split_pattern_regex(
                    pa.array(folded, type=pa.string()), "[^a-z0-9_]+"
                )
                counts = pc.list_value_length(sp).fill_null(0).to_numpy(
                    zero_copy_only=False
                ).astype(np.int64)
                flat = _one_chunk(sp.flatten())
                rows0 = np.repeat(np.arange(n_rows, dtype=np.int64), counts)
                ne = np.flatnonzero(
                    pc.not_equal(flat, "").to_numpy(zero_copy_only=False)
                )
                flat = flat.take(pa.array(ne))
                rows0 = rows0[ne]
                if syn and len(rows0):
                    flat, rows0 = _expand_synonyms(flat, rows0, syn)
                if procs and len(rows0):
                    flat, rows0 = _apply_procs_flat(flat, rows0, procs)
                counts_f = np.bincount(rows0, minlength=n_rows)
                w_row = np.zeros(n_rows)
                nz = counts_f > 0
                w_row[nz] = db / counts_f[nz] * bvals[nz]
                _emit(flat, rows0, w_row[rows0], counts_f)
                if fi == 0 and alt_field is not None and alt_field in names:
                    _alt_segment(bvals)
            rows_all = (
                np.concatenate(row_parts)
                if row_parts
                else np.empty(0, dtype=np.int64)  # no field columns
            )
            dl = pos_base.astype(np.int32)
            if len(rows_all) == 0:
                empty_struct = pa.array(
                    [],
                    type=pa.struct(
                        [
                            ("token", pa.string()),
                            ("tf", pa.int32()),
                            ("pos", pa.list_(pa.int32())),
                            ("boost", pa.float32()),
                        ]
                    ),
                )
                toks_list = pa.ListArray.from_arrays(
                    pa.array(np.zeros(n_rows + 1, dtype=np.int32)),
                    empty_struct,
                )
                an = pa.StructArray.from_arrays(
                    [toks_list, pa.array(dl, type=pa.int32())],
                    names=["toks", "dl"],
                )
                yield pa.RecordBatch.from_arrays(
                    list(b.columns) + [an], names=names + ["__an"]
                )
                continue
            tok_all = pa.concat_arrays(
                [t.cast(pa.string()) for t in tok_parts]
            )
            w_all = np.concatenate(w_parts)
            pos_all = np.concatenate(pos_parts)
            enc = tok_all.dictionary_encode()
            codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            dic = enc.dictionary
            order = np.lexsort((pos_all, codes, rows_all))
            r_s = rows_all[order]
            c_s = codes[order]
            w_s = w_all[order]
            p_s = pos_all[order]
            change = np.ones(len(r_s), dtype=bool)
            if len(r_s) > 1:
                change[1:] = (r_s[1:] != r_s[:-1]) | (c_s[1:] != c_s[:-1])
            gstarts = np.flatnonzero(change)
            gends = np.append(gstarts[1:], len(r_s))
            g_row = r_s[gstarts]
            tf = (gends - gstarts).astype(np.int32)
            boost = (
                np.maximum.reduceat(w_s, gstarts) + imp[g_row] * iw
            ).astype(np.float32)
            per_doc = np.bincount(g_row, minlength=n_rows)
            offsets = np.concatenate(
                (np.zeros(1, dtype=np.int64), np.cumsum(per_doc))
            ).astype(np.int32)
            struct = pa.StructArray.from_arrays(
                [
                    dic.take(pa.array(c_s[gstarts])).cast(pa.string()),
                    pa.array(tf, type=pa.int32()),
                    _list_from(
                        np.append(gstarts, len(p_s)), pa.array(p_s, pa.int32())
                    ),
                    pa.array(boost, type=pa.float32()),
                ],
                names=["token", "tf", "pos", "boost"],
            )
            toks_list = pa.ListArray.from_arrays(pa.array(offsets), struct)
            an = pa.StructArray.from_arrays(
                [toks_list, pa.array(dl, type=pa.int32())],
                names=["toks", "dl"],
            )
            yield pa.RecordBatch.from_arrays(
                list(b.columns) + [an], names=names + ["__an"]
            )

    return run


def field_null_violation(docs: DataFrame, cfg: EngineConfig):
    """Boolean Column: true for docs violating a ``null=False`` field
    constraint (≙ reference FieldSpec ``null`` key,
    addok/helpers/index.py:121-141 via config FIELDS: a document
    whose required field is missing/empty is not indexed at all).
    Null / empty-after-trim strings violate; for array-valued fields,
    null or no non-blank element violates. Returns None when every
    configured field allows null (the default) — callers skip the
    filter entirely, so the scan predicate only exists when asked
    for."""
    pred = None
    for f in cfg.fields:
        if f.allow_null or f.name not in docs.columns:
            continue
        col = F.col(f.name)
        if isinstance(docs.schema[f.name].dataType, T.ArrayType):
            ok = col.isNotNull() & (
                F.size(
                    F.filter(
                        col,
                        lambda x: x.isNotNull()
                        & (F.length(F.trim(x.cast("string"))) > 0),
                    )
                )
                > 0
            )
        else:
            ok = col.isNotNull() & (
                F.length(F.trim(col.cast("string"))) > 0
            )
        viol = ~ok
        pred = viol if pred is None else (pred | viol)
    return pred


def enforce_field_nulls(docs: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Drop documents violating ``allow_null=False`` field specs
    before id assignment (bulk build path)."""
    pred = field_null_violation(docs, cfg)
    return docs if pred is None else docs.filter(~pred)


def materialize_callable_boosts(
    docs: DataFrame, cfg: EngineConfig
) -> tuple[DataFrame, EngineConfig]:
    """Evaluate callable FIELDS boosts (reference ``boost(doc)``,
    helpers/index.py:121-141 via tests/test_index_utils.py:247-263)
    into generated per-document columns and rewrite the specs onto
    the vectorized ``boost_col`` path.

    The callable receives the document as a dict of the source
    columns (reference parity: it sees the raw doc, not the analyzed
    form). Evaluation is an Arrow-batched pandas UDF — the per-row
    Python call is inherent to a Python-callable knob, but it runs
    once per document at build time, stays off the posting hot path,
    and adds no shuffle. Lambdas from ``--config`` modules work
    because the UDF closure is cloudpickled."""
    import dataclasses

    if not any(f.boost_fn for f in cfg.fields):
        return docs, cfg
    src_cols = [c for c in docs.columns if not c.startswith("__")]
    new_fields = []
    for f in cfg.fields:
        if not f.boost_fn or f.name not in docs.columns:
            new_fields.append(f)
            continue
        colname = f"__boost_fn_{f.name}"

        def _make(fn, fname):
            def _eval(batch: pd.DataFrame) -> pd.Series:
                # reference parity: the callable sees a plain doc dict
                # — null numeric fields must arrive as None, not NaN
                # (NaN is truthy and propagates through arithmetic,
                # silently poisoning the doc's posting weights)
                clean = batch.astype(object).where(batch.notna(), None)
                out = []
                for r in clean.to_dict("records"):
                    v = float(fn(r))
                    if v != v or v in (float("inf"), float("-inf")):
                        raise ValueError(
                            f"callable boost for field {fname!r} "
                            f"returned non-finite {v!r} for doc "
                            f"{r.get('conv_id', r)!r}"
                        )
                    out.append(v)
                return pd.Series(out, index=batch.index, dtype="float64")

            return _eval

        udf = F.pandas_udf(_make(f.boost_fn, f.name), "double")
        docs = docs.withColumn(colname, udf(F.struct(*src_cols)))
        new_fields.append(
            dataclasses.replace(f, boost_col=colname, boost_fn=None)
        )
    return docs, dataclasses.replace(cfg, fields=tuple(new_fields))


def analyze_docs(docs: DataFrame, cfg: EngineConfig) -> DataFrame:
    """docs → docs + ``__an`` struct (toks array + dl). One
    mapInArrow pass, no shuffle (see ``_make_doc_analyzer``)."""
    docs, cfg = materialize_callable_boosts(docs, cfg)
    field_specs = [
        (f.name, f.boost, f.boost_col)
        for f in cfg.fields
        if f.name in docs.columns
    ]
    alt = (
        cfg.alt_text_field
        if cfg.alt_text_field and cfg.alt_text_field in docs.columns
        else None
    )
    out_schema = T.StructType(
        list(docs.schema.fields) + [T.StructField("__an", DOC_TOKENS_TYPE)]
    )
    return docs.mapInArrow(
        _make_doc_analyzer(cfg, field_specs, alt_field=alt), out_schema
    )


def _pack_group(
    token: str,
    bucket: int,
    docs: np.ndarray,
    tfs: np.ndarray,
    boosts: np.ndarray,
    pos_lists,
    block_size: int,
) -> list[dict]:
    """Pack one doc-sorted (token,bucket) posting run into block rows.

    ``pos_lists`` = per-posting position lists (None reads as empty,
    like a filter posting's) — block ``pos`` holds them in doc order."""
    docs = docs.astype(np.int64)
    tfs = tfs.astype(np.int64)
    boosts = boosts.astype(np.float32)
    out = []
    for b, lo in enumerate(range(0, len(docs), block_size)):
        hi = min(lo + block_size, len(docs))
        out.append(
            {
                "token": token,
                "bucket": int(bucket),
                "block_id": b,
                "n": hi - lo,
                "sum_tf": int(tfs[lo:hi].sum()),
                "max_tf": int(tfs[lo:hi].max()),
                "max_boost": float(boosts[lo:hi].max()),
                "min_doc": int(docs[lo]),
                "max_doc": int(docs[hi - 1]),
                "docs": docs[lo:hi].tolist(),
                "tfs": tfs[lo:hi].tolist(),
                "boosts": boosts[lo:hi].tolist(),
                "pos": [[] if p is None else list(p) for p in pos_lists[lo:hi]],
            }
        )
    return out


def filter_postings(docs: DataFrame, cfg: EngineConfig) -> list[Column]:
    """Per filterable column, each doc's ``f|name|value`` postings as a
    list typed like ``__an.toks`` (≙ the reference's ``f|`` Redis sets,
    ``addok/helpers/keys.py:16-17``, ``helpers/index.py:180-195``).
    Stored in the SAME blocks table as word postings (tf=1, boost=0,
    empty positions), so query filters ride the normal intersection
    path and constrain candidate COLLECTION — a selective filter can
    never be starved by an unfiltered top-boost bucket. ``|`` cannot
    appear in analyzed tokens, so the namespace is collision-free."""
    from pyspark.sql.types import ArrayType

    def _postings(f):
        dtype = docs.schema[f].dataType
        # ARRAY-valued filter fields index one f| posting per element
        # (≙ the reference's list-valued doc fields,
        # tests/test_search.py:436-445 test_filter_indexes_multiple_values);
        # a null list holds none, and must not null the concatenation
        vals = (
            F.coalesce(F.col(f), F.array().cast(dtype))
            if isinstance(dtype, ArrayType)
            else F.array(F.col(f))
        )
        # values TRIMMED (empty-after-trim dropped) — the exact
        # normalization the query side applies when building f| keys and
        # the post-score predicate, so a value carrying stray whitespace
        # can never silently fail to match any filter
        kept = F.filter(
            F.transform(vals, lambda v: F.trim(v.cast("string"))),
            lambda v: v.isNotNull() & (v != ""),
        )
        return F.transform(kept, lambda v: F.struct(
            F.concat(F.lit(f"f|{f}|"), v).alias("token"),
            F.lit(1).alias("tf"),
            F.array().cast("array<int>").alias("pos"),
            F.lit(0.0).cast("float").alias("boost"),
        ))

    return [_postings(f) for f in cfg.filter_fields if f in docs.columns]


def _list_from(offsets: np.ndarray, values):
    """pyarrow list array over one flat pyarrow array: entry i =
    values[offsets[i]:offsets[i+1]] — no per-entry Python objects."""
    import pyarrow as pa

    return pa.ListArray.from_arrays(
        pa.array(np.asarray(offsets, dtype=np.int32)), values
    )


def _one_chunk(col):
    """ChunkedArray | Array → single contiguous Array (pyarrow's
    combine_chunks return type differs across versions)."""
    if hasattr(col, "num_chunks"):  # ChunkedArray
        col = col.combine_chunks()
        if hasattr(col, "num_chunks"):  # older pyarrow: still chunked
            col = col.chunk(0)
    return col


# The blocks table's columns after (token, bucket), every one nullable
# as the Parquet files declare them. ``build_blocks`` casts its block
# struct to this type: Spark would otherwise write the columns it can
# prove non-null (block_id, n, the payload lists) as required fields.
BLOCK_COLUMNS = T.StructType(
    [
        T.StructField("block_id", T.IntegerType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("sum_tf", T.LongType()),
        T.StructField("max_tf", T.IntegerType()),
        T.StructField("max_boost", T.FloatType()),
        T.StructField("min_doc", T.LongType()),
        T.StructField("max_doc", T.LongType()),
        T.StructField("docs", T.ArrayType(T.LongType())),
        T.StructField("tfs", T.ArrayType(T.IntegerType())),
        T.StructField("boosts", T.ArrayType(T.FloatType())),
        T.StructField("pos", T.ArrayType(T.ArrayType(T.IntegerType()))),
    ]
)


def build_blocks(token_doc: DataFrame, cfg: EngineConfig) -> DataFrame:
    """(doc_index, token, tf, pos, boost) posting rows → block rows.

    Plain Spark, no Python crossing: ``groupBy(token, bucket)`` collects
    each group's postings, ``array_sort`` orders them by doc (the
    struct's first field), and ``slice`` cuts the sorted list into
    ``posting_block_size`` blocks; the block metadata comes from
    ``size`` / ``aggregate`` / ``array_max`` / ``element_at`` over the
    block's own lists. A ``None`` position list reads as empty, like a
    filter posting's.

    ``collect_list`` runs in two phases: a partial collect in every map
    task, so one row per (token, bucket) per task crosses the shuffle
    (the local-pack-then-merge shape), then the final collect. No
    repartition may sit before the ``groupBy``: it would move the
    partial collect after the shuffle. The doc-range bucket is the
    hot-token salt: "the" splits across buckets, so no task holds
    more than one (token, bucket) group of ≤ 2^doc_bucket_bits
    postings, and the blocks of a token concatenate into one globally
    doc-ordered posting list.

    Rows leave sorted by (pbucket, token, bucket, block_id) within each
    partition: the pbucket-partitioned writer needs no sort of its
    own, and every file is token-sorted, so Parquet row groups keep
    tight token min/max for the readers' pruning.

    Measured against the Arrow run packers this replaced (perfbench,
    300 conversations ≈ 12k turns, local[4] on a shared 4-core VM):
    over ten interleaved pairs per workload the whole build's
    ``build_turns_per_cpu_s`` moved −1.7 % (``spark_batch``) and
    −4.1 % (``serve_cdc``); in one traced run the Python workers of
    the build got 2.6 MB instead of 16.7 MB (only the analyzer's
    input is left), and the shuffle wrote 19.5 MB instead of 19.7 MB.
    The blocks stage alone costs more: in one quiet traced
    ``serve_cdc`` run it took 3.6 s of wall time against 2.7 s, and
    its 1→4-core scaling efficiency read 0.35 against 0.40. Thread
    counts above 4 were not measured.
    """
    bs = cfg.posting_block_size
    posting = F.struct(
        F.col("doc_index").alias("doc"),
        "tf",
        "boost",
        F.coalesce("pos", F.array().cast("array<int>")).alias("pos"),
    )
    runs = (
        token_doc.withColumn(
            "bucket", F.shiftright("doc_index", cfg.doc_bucket_bits)
        )
        .groupBy("token", "bucket")
        .agg(F.array_sort(F.collect_list(posting)).alias("run"))
    )
    starts = F.sequence(F.lit(0), F.size("run") - 1, F.lit(bs))
    blocks = runs.select(
        "token",
        "bucket",
        F.posexplode(
            F.transform(starts, lambda s: F.slice("run", s + 1, bs))
        ).alias("block_id", "blk"),
    )
    docs, tfs, boosts = F.col("blk.doc"), F.col("blk.tf"), F.col("blk.boost")
    block = F.struct(
        "block_id",
        F.size("blk").alias("n"),
        F.aggregate(tfs, F.lit(0).cast("long"), lambda acc, x: acc + x).alias(
            "sum_tf"
        ),
        F.array_max(tfs).alias("max_tf"),
        F.array_max(boosts).alias("max_boost"),
        F.element_at(docs, 1).alias("min_doc"),
        F.element_at(docs, -1).alias("max_doc"),
        docs.alias("docs"),
        tfs.alias("tfs"),
        boosts.alias("boosts"),
        F.col("blk.pos").alias("pos"),
    ).cast(BLOCK_COLUMNS)
    return (
        blocks.select("token", "bucket", block.alias("b"))
        .select(
            "token",
            "bucket",
            "b.*",
            F.shiftright("bucket", cfg.pbucket_shift).alias("pbucket"),
        )
        .sortWithinPartitions("pbucket", "token", "bucket", "block_id")
    )


def build_blocks_from_analyzed(analyzed: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Block rows of analyzed docs (bulk build and CDC batches): each
    doc's ``__an.toks`` and ``filter_postings`` lists, concatenated in
    one projection of one scan and exploded once into posting rows,
    through ``build_blocks``."""
    token_doc = analyzed.select(
        "doc_index",
        F.explode(
            F.concat(F.col("__an.toks"), *filter_postings(analyzed, cfg))
        ).alias("tk"),
    ).select(
        "doc_index",
        F.col("tk.token").alias("token"),
        F.col("tk.tf").alias("tf"),
        F.col("tk.pos").alias("pos"),
        F.col("tk.boost").alias("boost"),
    )
    return build_blocks(token_doc, cfg)


def dictionary_from_blocks(blocks: DataFrame) -> DataFrame:
    """Token dictionary as a pure derivation of block metadata."""
    return blocks.groupBy("token").agg(
        F.sum("n").cast("long").alias("df"),
        F.sum("sum_tf").cast("long").alias("cf"),
        F.max("max_tf").alias("max_tf"),
        F.max("max_boost").alias("max_boost"),
    )


def dict_partials_from_blocks(blocks: DataFrame) -> DataFrame:
    """Per-(pbucket, token) dictionary aggregates from block
    metadata. All four measures are associative, so the global
    dictionary is an exact re-aggregation of these partials — which
    is what lets CDC refresh only touched pbucket partitions and
    still keep global df/cf exact (the reference's deindex
    invariant, tests/test_index_utils.py:94-167)."""
    return blocks.groupBy("pbucket", "token").agg(
        F.sum("n").cast("long").alias("df"),
        F.sum("sum_tf").cast("long").alias("cf"),
        F.max("max_tf").alias("max_tf"),
        F.max("max_boost").alias("max_boost"),
    )


def dictionary_from_partials(partials: DataFrame) -> DataFrame:
    """Global dictionary = fold of the per-pbucket partials (2^shift×
    fewer input rows than re-aggregating block stats)."""
    return partials.groupBy("token").agg(
        F.sum("df").cast("long").alias("df"),
        F.sum("cf").cast("long").alias("cf"),
        F.max("max_tf").alias("max_tf"),
        F.max("max_boost").alias("max_boost"),
    )


class IndexBuilder:
    def __init__(self, spark: SparkSession, cfg: EngineConfig, out_dir: str):
        self.spark = spark
        self.cfg = cfg
        root = Path(out_dir)
        base = IndexPaths(root)
        curv = base.current_version()
        # fresh dir → flat layout (version 0, tables under root).
        # rebuild over a VERSIONED index (a full reset after CDC
        # batches) → stage the whole build into the next snapshot dir
        # and publish atomically at the end, so concurrent readers of
        # the current snapshot never see the rebuild in progress
        self._publish_version: int | None = (
            curv + 1 if curv is not None else None
        )
        self.paths = (
            IndexPaths(root, self._publish_version)
            if self._publish_version is not None
            else base
        )
        self.paths.snapshot_root.mkdir(parents=True, exist_ok=True)
        if self._publish_version is not None:
            # a resume manifest from a DIFFERENT snapshot must not
            # skip stages of this one
            m = self._manifest()
            if m.get("build_version") != self._publish_version:
                self.paths.manifest.write_text(json.dumps(
                    {"stages": {}, "build_version": self._publish_version}
                ))
        self.metrics: dict = {"stages": {}}

    # --- manifest / resume -------------------------------------------------
    def _manifest(self) -> dict:
        if self.paths.manifest.exists():
            return json.loads(self.paths.manifest.read_text())
        return {"stages": {}}

    def _stage_done(self, name: str) -> bool:
        m = self._manifest()
        st = m["stages"].get(name)
        return bool(st and st.get("status") == "done")

    def _mark_stage(self, name: str, **info) -> None:
        m = self._manifest()
        m["stages"][name] = {"status": "done", **info}
        self.paths.manifest.write_text(json.dumps(m, indent=2))

    def _write(self, df: DataFrame, path: str, name: str, sort_by=None,
               partition_keys: int | None = None, partition_by: str | None = None,
               count_rows: bool = True, options: dict | None = None,
               observe: dict[str, Column] | None = None) -> None:
        """Write one stage table and mark the stage done. ``observe``
        maps names to aggregates collected by the write job itself
        (``DataFrame.observe``: no second scan); their values go into
        the stage's manifest entry under those names."""
        t0 = time.time()
        if sort_by:
            df = df.repartitionByRange(
                partition_keys or self.cfg.build_partitions, *sort_by
            ).sortWithinPartitions(*sort_by)
        obs = None
        if observe:
            obs = Observation()
            df = df.observe(obs, *(c.alias(k) for k, c in observe.items()))
        writer = df.write.mode("overwrite").options(**(options or {}))
        if partition_by:
            # directory-partitioned layout → incremental maintenance
            # rewrites only affected pbucket dirs (≙ Iceberg partition
            # overwrite; see index/incremental.py)
            writer = writer.partitionBy(partition_by)
        writer.parquet(path)
        # metrics row count from parquet footers, driver-side (no
        # Spark job — keeps the serial floor between stages low)
        rows = _parquet_rows(path) if count_rows else -1
        dur = time.time() - t0
        # per-snapshot metrics sidecar (north_rule: lineage + counts)
        Path(path, "_metrics.json").write_text(
            json.dumps({"rows": rows, "seconds": round(dur, 3)})
        )
        self.metrics["stages"][name] = {"rows": rows, "seconds": round(dur, 3)}
        self._mark_stage(name, rows=rows, seconds=round(dur, 3),
                         **(obs.get if obs is not None else {}))

    # --- the build ---------------------------------------------------------
    def build(self, transcripts: DataFrame, resume: bool = True) -> IndexPaths:
        cfg = self.cfg
        spark = self.spark

        scratch = str(self.paths.snapshot_root / "_analyzed")

        # stage 1: dense ids + per-doc analysis → ONE scratch parquet
        # (doc columns + nested token aggregates + dl). Intermediates
        # go to parquet, not the Spark cache: disk-backed stage checkpoints
        # are what makes the build resumable AND avoid the in-memory
        # cache contention that anti-scaled at high thread counts
        # (measured: cached pipeline 2× slower on local[32] than
        # local[8]; checkpointed stages scale).
        if not (resume and self._stage_done("analyzed")):
            # the id assigner's sorted input is released when the write
            # ends, a failed write included
            with scope():
                docs = assign_doc_ids(
                    enforce_field_nulls(transcripts, cfg), cfg.build_partitions
                )
                if "importance" not in docs.columns:
                    docs = docs.withColumn("importance", F.lit(0.0))
                analyzed = analyze_docs(docs, cfg)
                self._write(analyzed, scratch, "analyzed", count_rows=False)

        # only the docs and blocks stages read the scratch table; a
        # finished build has deleted it
        docs_todo = not (resume and self._stage_done("docs"))
        blocks_todo = not (resume and self._stage_done("blocks"))
        if docs_todo or blocks_todo:
            analyzed = spark.read.parquet(scratch)

        # stage 2: final docs table (dl + pbucket partition layout)
        if docs_todo:
            docs_out = (
                analyzed.withColumn("dl", F.col("__an.dl"))
                .drop("__an")
                .withColumn(
                    "pbucket",
                    F.shiftright("doc_index", cfg.doc_bucket_bits + cfg.pbucket_shift),
                )
            )
            # analyzed is already globally doc_index-ordered (range
            # layout from assign_doc_ids) — no re-shuffle needed
            # Σdl (avgdl's numerator) is collected by the write itself
            self._write(
                docs_out.sortWithinPartitions("doc_index"),
                self.paths.docs, "docs", partition_by="pbucket",
                observe={"sum_dl": F.coalesce(F.sum("dl"), F.lit(0))},
            )

        # stage 3: posting blocks — Spark's own list functions over
        # the exploded analyzed scan plus the f| filter postings
        # (doc-range bucketing = order-preserving salt)
        if blocks_todo:
            blocks = build_blocks_from_analyzed(analyzed, cfg)
            # rows are (pbucket, token)-sorted within partitions
            # already — write as-is; parquet row-group stats give token
            # min/max pruning (see BLOCKS_WRITE_OPTIONS)
            self._write(
                blocks, self.paths.blocks, "blocks", partition_by="pbucket",
                options=BLOCKS_WRITE_OPTIONS,
            )

        # stage 4a: per-pbucket dictionary partials from block stats
        # (pbucket-partitioned; CDC refreshes only touched partitions)
        if not (resume and self._stage_done("dict_partials")):
            partials = dict_partials_from_blocks(
                spark.read.parquet(self.paths.blocks)
            )
            # hash repartition (not range): the range sampler re-runs
            # the blocks-scan aggregation child; in-partition sort
            # keeps row-group token min/max tight for probe pruning
            self._write(
                partials.repartition(
                    cfg.build_partitions, "pbucket", "token"
                ).sortWithinPartitions("pbucket", "token"),
                self.paths.dict_partials, "dict_partials",
                partition_by="pbucket",
            )

        # stage 4b: global dictionary folded from the partials (df =
        # Σn, cf = Σsum_tf; ≙ ZCARD + zset max,
        # addok/helpers/index.py:22-27, lua/order_by_max_score.lua) —
        # re-derivable after any incremental bucket rewrite without
        # re-reading text or block payloads
        if not (resume and self._stage_done("dictionary")):
            dictionary = dictionary_from_partials(
                spark.read.parquet(self.paths.dict_partials)
            )
            self._write(
                dictionary, self.paths.dictionary, "dictionary", sort_by=["token"]
            )

        if not (resume and self._stage_done("docs_meta")):
            # n_docs and Σdl come from the docs stage's manifest entry;
            # a manifest written without them (an older build resumed)
            # falls back to scanning the docs table
            docs_stage = self._manifest()["stages"].get("docs", {})
            n_docs = docs_stage.get("rows", -1)
            sum_dl = docs_stage.get("sum_dl", -1)
            if n_docs < 0 or sum_dl < 0:
                docs_now = spark.read.parquet(self.paths.docs)
            if n_docs < 0:
                n_docs = docs_now.count()
            if sum_dl < 0:
                sum_dl = docs_now.agg(F.sum("dl")).collect()[0][0] or 0
            meta = {
                "n_docs": int(n_docs),
                "sum_dl": int(sum_dl),
                "avgdl": float(sum_dl) / max(n_docs, 1),
                "bm25_k1": BM25_K1,
                "bm25_b": BM25_B,
                "doc_bucket_bits": cfg.doc_bucket_bits,
                "pbucket_shift": cfg.pbucket_shift,
                "posting_block_size": cfg.posting_block_size,
                "fields": [[f.name, f.boost] for f in cfg.fields],
                "build_pairs": cfg.build_pairs,
            }
            self.paths.meta.write_text(json.dumps(meta, indent=2))
            self._mark_stage("docs_meta")

        # every stage is done: the scratch table has no reader left
        shutil.rmtree(scratch, ignore_errors=True)

        # final metrics rollup (a resumed build keeps the figures of
        # the stages it skipped)
        meta = json.loads(self.paths.meta.read_text())
        meta.setdefault("build_metrics", {}).update(self.metrics["stages"])
        self.paths.meta.write_text(json.dumps(meta, indent=2))
        if self._publish_version is not None:
            # this snapshot's own manifest (overwriting any a crashed
            # batch left for this version), then the atomic cutover:
            # readers switch snapshots only here
            self.paths.write_manifest()
            IndexPaths(self.paths.root).publish(
                self._publish_version, keep=self.cfg.snapshot_keep
            )
        return self.paths


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: EngineConfig,
    out_dir: str,
    resume: bool = True,
) -> IndexPaths:
    return IndexBuilder(spark, cfg, out_dir).build(transcripts, resume=resume)
