"""BM25 top-k query engine over the block posting index.

Re-expresses the reference's adaptive collection + scoring pipeline
(``/root/reference/addok/core.py:283-335``, collectors
``addok/helpers/collectors.py``, fuzzy ``addok/fuzzy.py:59-114``,
autocomplete ``addok/autocomplete.py:79-108``) as a *batched* Spark
job: the whole query set runs per round as one DataFrame plan, with
the driver holding only per-query candidate buckets (≤ BUCKET_MAX
ids, exactly like the reference's bucket, ``addok/core.py:354-365``).

Collection/scoring split mirrors the reference architecture:

- **Collect** (rounds): conjunctive match over the round's token
  *groups* (a group = one query token + its fuzzy/prefix expansions —
  generalizing ``addok/fuzzy.py:92-104`` substitution and
  ``addok/autocomplete.py:79-87`` prefix OR). Round order ≙ the
  RESULTS_COLLECTORS chain (``addok/config/default.py:78-92``):
  1. all meaningful tokens (``bucket_with_meaningful``) with
     fuzzy/autocomplete expansions riding as group members; queries
     with NO meaningful tokens take the ``only_commons`` fallback in
     the same batched round (disjoint qid sets);
  3. drop the highest-df meaningful token
     (``extend_results_reducing_tokens``) — unless the bucket already
     holds a ≥ match_threshold match ("cream", core.py:400-419);
  4. drop the two highest-df.
  Collection pre-score = Σ boost (≙ ZINTERSTORE sum + ZREVRANGE
  top-k, ``addok/helpers/lua/zinter.lua:1-11``).
- **Score**: every collected candidate is scored against the FULL
  query (≙ SEARCH_RESULT_PROCESSORS, ``addok/core.py:367-381``) with
  BM25 (north_rule; or the reference's Σscore/Σceiling fold under
  ``scorer="reference"``) + deterministic secondary keys
  ``(score desc, boost desc, importance desc, doc_index asc)`` —
  the reference's implicit tie behavior made explicit
  (SURVEY.md §4.2).

Scale notes:
- posting blocks are pruned *before unpacking* by bucket
  intersection: a block participates only if every required group
  has ≥1 block in the same doc-range bucket — the distributed analog
  of the zinter cost model / block-max skipping.
- float determinism: per-doc term scores are collected into an array
  sorted by group id and folded left-to-right (``F.aggregate``), so
  executor count / partitioning cannot perturb sums (SURVEY.md §7.4).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..config import EngineConfig
from ..functions.text import (
    analyze_str,
    fold_str,
    fold_udf,
    make_compare_best_udf,
    make_compare_str_udf,
    make_fuzzy_str,
    make_ref_score_best_udf,
    make_ref_score_udf,
    ref_string_score_best,
)
from ..index.build import IndexPaths
from ..index.compress import unpack_deltas, unpack_f32, varint_decode

UNPACK_SCHEMA = T.StructType(
    [
        T.StructField("doc_index", T.ArrayType(T.LongType())),
        T.StructField("tf", T.ArrayType(T.IntegerType())),
        T.StructField("boost", T.ArrayType(T.FloatType())),
    ]
)


@F.pandas_udf(UNPACK_SCHEMA)
def _unpack_block(docs_bin: pd.Series, tfs_bin: pd.Series, boosts_bin: pd.Series) -> pd.DataFrame:
    """Block decode as STRUCT-OF-ARRAYS: one numpy array per column
    per block — never a Python object per posting. At 100× scale a
    common token's blocks decode to millions of postings per round;
    they cross Arrow as primitive list buffers and are exploded
    JVM-side with arrays_zip (the row-wise dict construction this
    replaces was the build side's measured anti-scaling pattern)."""
    docs, tfs, boosts = [], [], []
    for db, tb, bb in zip(docs_bin, tfs_bin, boosts_bin):
        docs.append(unpack_deltas(db).astype(np.int64))
        tfs.append(varint_decode(tb).astype(np.int32))
        boosts.append(unpack_f32(bb))
    return pd.DataFrame({"doc_index": docs, "tf": tfs, "boost": boosts})


def _head_per_sorted_run(topn: int):
    """mapInPandas fn: rows arrive sorted by (qid, salt, np, d);
    emit only the first ``topn`` rows of each (qid, salt) run.

    Bounded-memory by construction: state is one (qid, salt, count)
    triple carried across Arrow batches — no buffer ever holds a
    group, so a corpus-sized match set for one qid streams through in
    arrow-batch-sized slices (vs collect_list, which gathers the
    whole group into a single non-spillable aggregation buffer)."""

    def run(batches):
        cur: tuple | None = None
        cnt = 0
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            qs = pdf["qid"].to_numpy()
            ss = pdf["salt"].to_numpy()
            change = np.empty(n, dtype=bool)
            change[0] = cur is None or (qs[0], ss[0]) != cur
            if n > 1:
                change[1:] = (qs[1:] != qs[:-1]) | (ss[1:] != ss[:-1])
            idx = np.arange(n, dtype=np.int64)
            starts = np.maximum.accumulate(np.where(change, idx, 0))
            pos = idx - starts
            if not change[0]:
                pos[starts == 0] += cnt  # run continuing from last batch
            keep = pos < topn
            cnt = int(pos[-1]) + 1
            cur = (qs[-1], ss[-1])
            out = pdf.loc[keep, ["qid", "np", "d"]]
            if len(out):
                yield out

    return run


def _topn_per_qid(df, score_col: str, id_col: str, topn: int,
                  two_level: bool = True):
    """Exact distributed top-n per qid by (score desc, id asc),
    without a per-qid window: with ``two_level``, level 1 takes the
    top-n within each (qid, id-salt) slice via an external SORT plus
    a streaming per-run head (bounded memory, spill-safe — the same
    sort-merge shape as the build-side block packer, build.py
    ``build_blocks``), and level 2 merges the ≤64·topn survivors.
    No task ever materializes a full (qid, salt) group, however many
    docs match. Small inputs (the common case, gated by the caller's
    decode-volume estimate) skip straight to the single per-qid
    slice: one stage fewer. Identical results either way.
    Returns (qid, id, rn, score)."""
    if two_level:
        level1 = (
            df.select(
                "qid",
                F.pmod(F.col(id_col), F.lit(64)).alias("salt"),
                (-F.col(score_col)).cast("double").alias("np"),
                F.col(id_col).cast("long").alias("d"),
            )
            .repartition("qid", "salt")
            .sortWithinPartitions("qid", "salt", "np", "d")
            .mapInPandas(
                _head_per_sorted_run(topn), "qid string, np double, d long"
            )
        )
        src = level1.select(
            "qid", F.struct(F.col("np"), F.col("d")).alias("key")
        )
    else:
        key = F.struct(
            (-F.col(score_col)).cast("double").alias("np"),
            F.col(id_col).cast("long").alias("d"),
        )
        src = df.select("qid", key.alias("key"))
    return (
        src.groupBy("qid")
        .agg(F.slice(F.array_sort(F.collect_list("key")), 1, topn).alias("top"))
        .select("qid", F.posexplode("top").alias("pos", "x"))
        .select(
            "qid",
            F.col("x.d").alias(id_col),
            (F.col("pos") + 1).alias("rn"),
            (-F.col("x.np")).alias(score_col),
        )
    )


def _exploded_postings(hits, extra_cols: list[str], with_tf: bool = False):
    """blocks rows → (…extra_cols, doc_index, boost[, tf]) posting
    rows: UDF decode to arrays, then JVM-side arrays_zip + explode."""
    unp = hits.select(
        *extra_cols,
        _unpack_block("docs_bin", "tfs_bin", "boosts_bin").alias("u"),
    )
    zipped = F.arrays_zip(
        F.col("u.doc_index").alias("doc_index"),
        F.col("u.boost").alias("boost"),
        *([F.col("u.tf").alias("tf")] if with_tf else []),
    )
    out_cols = ["p.doc_index", "p.boost"] + (["p.tf"] if with_tf else [])
    return unp.select(*extra_cols, F.explode(zipped).alias("p")).select(
        *extra_cols, *out_cols
    )


@dataclass
class Query:
    qid: str
    q: str
    k: int = 10
    autocomplete: bool = False
    filters: dict[str, list[str]] = field(default_factory=dict)
    # quoted-phrase mode: candidates are docs whose analyzed token
    # sequence contains the query's tokens CONSECUTIVELY in order
    # (positional postings); no fuzzy/autocomplete/relaxation, then
    # normal BM25 scoring — an extension beyond the reference (Redis
    # zsets carry no positions; this index stores them per posting)
    phrase: bool = False


# group ids at/above this are FILTER groups (f|name|value doc-set
# postings): required in every collection round, zero boost, excluded
# from BM25 scoring and from drop-token relaxation
FILTER_GID_BASE = 1_000_000


def normalize_filter_values(vals, cap: int) -> list[str]:
    """≙ _normalize_filter_values (reference core.py:160-176): strip,
    drop empties, dedup PRESERVING appearance order, take the first
    ``cap`` uniques, then sort. Shared by engine and oracle so the
    f|field|value keys agree for any input."""
    uniq = list(
        dict.fromkeys(s for s in (str(v).strip() for v in (vals or [])) if s)
    )
    return sorted(uniq[:cap])


@dataclass
class _QState:
    query: Query
    groups: dict[int, list[str]]          # group_id -> expansion tokens
    meaningful_order: list[int]           # group ids sorted by (df asc, token asc)
    group_df: dict[int, int] = field(default_factory=dict)  # min df per group
    candidates: set[int] = field(default_factory=set)
    done: bool = False
    phrase_seq: list[str] | None = None   # ordered analyzed tokens (dups kept)

    @property
    def filter_gids(self) -> list[int]:
        return [g for g in sorted(self.groups) if g >= FILTER_GID_BASE]


class SearchEngine:
    def __init__(self, spark: SparkSession, paths: IndexPaths | str, cfg: EngineConfig):
        self.spark = spark
        self.cfg = cfg
        # pin to the snapshot published right now: every table this
        # engine reads comes from ONE consistent index version even
        # while CDC batches publish new snapshots concurrently
        self.paths = (
            paths if isinstance(paths, IndexPaths) else IndexPaths(Path(paths))
        ).pin()
        self.meta = json.loads(self.paths.meta.read_text())
        # every table resolves through the snapshot's entries (see
        # IndexPaths.table_entries), whichever FileIO published it
        from ..index.build import read_table, table_exists

        self.blocks = read_table(spark, self.paths, "blocks")
        self.docs = read_table(spark, self.paths, "docs")
        self.dictionary = read_table(spark, self.paths, "dictionary")
        # prefixes may be deferred (build_prefixes=False; `addok_spark
        # ngrams` builds them later), pairs deferred at build time
        self.prefixes = (
            read_table(spark, self.paths, "prefixes")
            if table_exists(self.paths, "prefixes") else None
        )
        self.pairs = (
            read_table(spark, self.paths, "pairs")
            if table_exists(self.paths, "pairs") else None
        )
        self._probe_cache: dict[str, object] = {}

    # ------------------------------------------------------------------
    def _probe(self, table: str):
        """pyarrow dataset for the bounded driver-side metadata probes
        (dictionary stats, prefix candidates, pair existence). Each of
        these returns a handful of rows but used to pay a full Spark
        job (~0.3-0.5 s of scheduling on the measured host) — 3-5 of
        them per search() were most of the single-query latency floor.
        A pruned pyarrow read of the same parquet (IN-filter against
        row-group min/max stats, the same pushdown a Spark scan does)
        returns identical rows without a job — the serving tier's
        access pattern applied to just the probe layer; the collection
        rounds and scoring stay in Spark. The driver reads the index
        root itself (meta.json, the manifest), so ``open_dataset``
        reaches the very files ``read_table`` hands to Spark."""
        dset = self._probe_cache.get(table)
        if dset is None:
            from ..index.build import open_dataset

            dset = self._probe_cache[table] = open_dataset(self.paths, table)
        return dset

    # ------------------------------------------------------------------
    def _token_stats(self, tokens: set[str]) -> dict[str, tuple[int, float]]:
        """(df, max_boost) per token for the query batch's tokens (an
        IN-list filter pushed into the token-sorted dictionary parquet
        ≙ the reference's existence probe + ZREVRANGE max score,
        addok/helpers/text.py:61-63, lua/order_by_max_score.lua)."""
        if not tokens:
            return {}
        import pyarrow.dataset as pds

        t = self._probe("dictionary").to_table(
            filter=pds.field("token").isin(list(tokens)),
            columns=["token", "df", "max_boost"],
        )
        return {
            tok: (df, float(mb or 0.0))
            for tok, df, mb in zip(
                t.column("token").to_pylist(),
                t.column("df").to_pylist(),
                t.column("max_boost").to_pylist(),
            )
        }

    def _prefix_candidates_batch(
        self, prefixes: set[str], cap: int = 100
    ) -> dict[str, list[tuple[str, int, float]]]:
        """Raw full-token candidates under each edge n-gram for MANY
        prefixes in one job (≙ SMEMBERS n|prefix, autocomplete.py:86),
        highest-df first, capped at ``cap`` per prefix to bound the
        driver collect; each candidate carries its denormalized
        (df, max_boost) so planning needs no second dictionary probe.
        Per-query pair pruning and final ordering (max-score vs
        frequency) happen afterwards in _plan_queries."""
        if not prefixes or self.prefixes is None:
            return {}
        import pyarrow.dataset as pds

        dset = self._probe("prefixes")
        has_mb = "max_boost" in dset.schema.names
        cols = ["prefix", "token", "df"] + (["max_boost"] if has_mb else [])
        pdf = dset.to_table(
            filter=pds.field("prefix").isin(list(prefixes)),
            columns=cols,
        ).to_pandas()
        # rank-and-cap per prefix by (df desc, token asc); mergesort
        # keeps the order total/stable
        pdf = pdf.sort_values(
            ["prefix", "df", "token"],
            ascending=[True, False, True],
            kind="mergesort",
        )
        pdf["rn"] = pdf.groupby("prefix").cumcount() + 1
        pdf = pdf[pdf["rn"] <= cap]
        out: dict[str, list[tuple[str, int, float | None]]] = {}
        for r in pdf.itertuples(index=False):
            mb = None
            if has_mb:
                # pandas nulls arrive as NaN (truthy!) — map them to
                # 0.0 explicitly, as the dictionary probe does
                mb = 0.0 if pd.isna(r.max_boost) else float(r.max_boost)
            out.setdefault(r.prefix, []).append((r.token, int(r.df), mb))
        return out

    def _pairs_probe(self, checks: set[tuple[str, str]]) -> set[tuple[str, str]]:
        """Which of the requested sorted (a, b) co-occurrence pairs
        exist in the pair table — ONE job for the whole query batch,
        IN-lists pushed into the token_a-sorted pairs parquet. The
        distributed analog of the reference's SINTER over p| sets
        (autocomplete.py:83-87, fuzzy.py:92-100)."""
        if not checks or self.pairs is None:
            return set()
        a_list = sorted({a for a, _ in checks})
        b_list = sorted({b for _, b in checks})
        got = self._pairs_lookup(a_list, b_list)
        return got & checks

    def _pairs_lookup(
        self, a_list: list[str], b_list: list[str]
    ) -> set[tuple[str, str]]:
        """All (token_a, token_b) rows of the pair table matching the
        two IN-lists (one pruned pyarrow read)."""
        import pyarrow.dataset as pds

        t = self._probe("pairs").to_table(
            filter=pds.field("token_a").isin(a_list)
            & pds.field("token_b").isin(b_list),
            columns=["token_a", "token_b"],
        )
        return set(
            zip(t.column("token_a").to_pylist(), t.column("token_b").to_pylist())
        )

    # ------------------------------------------------------------------
    def _plan_queries(self, queries: list[Query]) -> dict[str, _QState]:
        cfg = self.cfg
        states: dict[str, _QState] = {}
        all_tokens: set[str] = set()
        analyzed: dict[str, list[str]] = {}
        raw_seqs: dict[str, list[str]] = {}
        fkeys: dict[str, list[tuple[int, list[str]]]] = {}
        for q in queries:
            if len(q.q) > cfg.query_max_length:
                raise ValueError(f"query too long ({len(q.q)} > {cfg.query_max_length})")
            toks = analyze_str(q.q, cfg.synonyms, cfg.processors)
            raw_seqs[q.qid] = toks  # ordered, duplicates kept (phrase)
            # order-preserving dedup (zinterstore collapses dup keys)
            seen: set[str] = set()
            toks = [t for t in toks if not (t in seen or seen.add(t))]
            analyzed[q.qid] = toks
            all_tokens.update(toks)
            # filter groups: one group per filter field, OR across its
            # values (≙ SUNION f|k|v1..vn, core.py:177-206), AND across
            # fields (≙ SINTER, core.py:250-269); values deduped +
            # sorted like _normalize_filter_values (core.py:160-176)
            fk: list[tuple[int, list[str]]] = []
            for fi, (fcol, vals) in enumerate(sorted((q.filters or {}).items())):
                vs = normalize_filter_values(vals, cfg.max_filter_values)
                if vs:
                    keys = [f"f|{fcol}|{v}" for v in vs]
                    fk.append((FILTER_GID_BASE + fi, keys))
                    all_tokens.update(keys)
            fkeys[q.qid] = fk
        full_stats = self._token_stats(all_tokens)
        dfs = {t: v[0] for t, v in full_stats.items()}
        mbs = {t: v[1] for t, v in full_stats.items()}

        # batch expansion lookups: ONE prefix job + ONE dictionary job
        # + ONE pairs job for the whole query set
        want_prefix: set[str] = set()
        want_fuzzy: set[str] = set()
        for q in queries:
            if getattr(q, "phrase", False):
                continue  # phrase mode never expands
            toks = analyzed[q.qid]
            for gid, tok in enumerate(toks):
                df = dfs.get(tok, 0)
                last = gid == len(toks) - 1
                if q.autocomplete and last:
                    want_prefix.add(tok)
                    if df == 0:
                        want_fuzzy.add(tok)
                elif df == 0:
                    want_fuzzy.add(tok)
        prefix_full = self._prefix_candidates_batch(want_prefix)
        for cs in prefix_full.values():
            for c, cdf, cmb in cs:
                dfs.setdefault(c, cdf)
                if cmb is not None:
                    mbs.setdefault(c, cmb)
        prefix_raw = {p: [c for c, _, _ in cs] for p, cs in prefix_full.items()}
        fuzzy_neigh = {
            t: make_fuzzy_str(t, cfg.fuzzy_key_map) for t in want_fuzzy
        }
        # only fuzzy neighbors still need a dictionary probe (they
        # are generated, not read from a stats-bearing table); a
        # legacy prefixes table without max_boost re-probes candidates
        extra = {n for ns in fuzzy_neigh.values() for n in ns} - set(dfs)
        extra.update(
            c for cs in prefix_full.values() for c, _, mb in cs if mb is None
        )
        if extra:
            more = self._token_stats(extra)
            dfs.update({t: v[0] for t, v in more.items()})
            mbs.update({t: v[1] for t, v in more.items()})

        def _noncommon(t: str) -> bool:
            return 0 < dfs.get(t, 0) <= cfg.common_threshold

        # pair checks: every (candidate, other-token) co-occurrence the
        # batch could need, probed in ONE job. COMMON candidates are
        # exempt from pruning — the distributed pair table drops the
        # Zipf head by design (pairs_from_blocks), so it cannot attest
        # them; the reference's p| sets include commons as members.
        checks: set[tuple[str, str]] = set()
        have_pairs = self.pairs is not None
        if have_pairs:
            for q in queries:
                if getattr(q, "phrase", False):
                    continue
                toks = analyzed[q.qid]
                for gid, tok in enumerate(toks):
                    last = gid == len(toks) - 1
                    if q.autocomplete and last:
                        others = [t for t in toks[:-1] if _noncommon(t)]
                        for c in prefix_raw.get(tok, []):
                            if _noncommon(c):
                                for o in others:
                                    if c != o:
                                        checks.add((min(c, o), max(c, o)))
                    if dfs.get(tok, 0) == 0:
                        others_f = [
                            t for t in toks if t != tok and _noncommon(t)
                        ]
                        for n in fuzzy_neigh.get(tok, []):
                            if _noncommon(n):
                                for o in others_f:
                                    if n != o:
                                        checks.add((min(n, o), max(n, o)))
        pairset = self._pairs_probe(checks)

        def _cooc(a: str, b: str) -> bool:
            return a != b and (min(a, b), max(a, b)) in pairset

        for q in queries:
            toks = analyzed[q.qid]
            groups: dict[int, list[str]] = {}
            group_df: dict[int, int] = {}
            meaningful: list[tuple[int, int, str]] = []  # (df, gid, token)
            is_phrase = bool(getattr(q, "phrase", False))
            for gid, tok in enumerate(toks):
                df = dfs.get(tok, 0)
                last = gid == len(toks) - 1
                if is_phrase:
                    # phrase mode: singleton scoring groups, no
                    # expansions; a df-0 token simply cannot match
                    groups[gid] = [tok]
                    group_df[gid] = df
                    if 0 < df <= cfg.common_threshold:
                        meaningful.append((df, gid, tok))
                    continue
                if df == 0 or (q.autocomplete and last):
                    exp: list[tuple[str, int]] = [(tok, df)] if df > 0 else []
                    if q.autocomplete and last:
                        # ≙ autocomplete(), autocomplete.py:83-95:
                        # candidates = SINTER(p| sets of the other
                        # meaningful tokens + n|prefix); ordered by
                        # max posting score when the prefix is the
                        # only meaningful token (order_by_max_score
                        # .lua), by frequency otherwise
                        others = [t for t in toks[:-1] if _noncommon(t)]
                        cands = [c for c in prefix_raw.get(tok, []) if c != tok]
                        if others and have_pairs:
                            cands = [
                                c for c in cands
                                if dfs.get(c, 0) > cfg.common_threshold
                                or all(_cooc(c, o) for o in others)
                            ]
                        if not others:
                            cands.sort(
                                key=lambda c: (-mbs.get(c, 0.0),
                                               -dfs.get(c, 0), c)
                            )
                        exp += [(c, dfs[c]) for c in cands[:10]]
                    if not exp:
                        # ≙ try_fuzzy, fuzzy.py:70-117: neighbors kept
                        # in generation order; when OTHER tokens exist
                        # only neighbors co-occurring with ALL of them
                        # survive (SINTER over p| sets, fuzzy.py:92-100
                        # — no presence-only fallback), else plain
                        # dictionary presence
                        others_f = [
                            t for t in toks if t != tok and _noncommon(t)
                        ]
                        nbrs = fuzzy_neigh.get(tok, [])
                        if others_f and have_pairs:
                            sel = [
                                n for n in nbrs
                                if dfs.get(n, 0) > 0
                                and (dfs[n] > cfg.common_threshold
                                     or all(_cooc(n, o) for o in others_f))
                            ]
                        else:
                            sel = [n for n in nbrs if dfs.get(n, 0) > 0]
                        exp = [(n, dfs[n]) for n in sel[:8]]
                    if exp:
                        groups[gid] = [t for t, _ in exp]
                        dfm = min(d for _, d in exp)
                        group_df[gid] = dfm
                        meaningful.append((dfm, gid, tok))
                    # else: token unmatched anywhere → dropped
                    # (≙ not_found, addok/helpers/search.py:28-46)
                elif df > cfg.common_threshold:
                    groups[gid] = [tok]  # common: excluded from round 1
                    group_df[gid] = df
                else:
                    groups[gid] = [tok]
                    group_df[gid] = df
                    meaningful.append((df, gid, tok))
            meaningful.sort(key=lambda x: (x[0], x[2]))
            no_token_groups = not groups
            for gid, keys in fkeys[q.qid]:
                groups[gid] = keys
                # group df = min over value-set cardinalities (the
                # cost-model stat steering manual_scan probe choice;
                # a selective filter can drive the probe,
                # ≙ collectors.py:35-65 SCARD comparison)
                group_df[gid] = min(dfs.get(k, 0) for k in keys)
            states[q.qid] = _QState(
                query=q,
                groups=groups,
                group_df=group_df,
                meaningful_order=[gid for _, gid, _ in meaningful[: cfg.max_meaningful]],
                # no usable word tokens → abort (≙ the
                # no_available_tokens_abort guard, collectors.py:10-17)
                done=no_token_groups,
                phrase_seq=(
                    raw_seqs[q.qid]
                    if getattr(q, "phrase", False) and not no_token_groups
                    else None
                ),
            )
        return states

    # ------------------------------------------------------------------
    def _phrase_round(self, states: dict[str, _QState]) -> None:
        """Collection for phrase-mode queries (Query.phrase): one
        batched positional job — blocks of the phrase tokens decoded
        to (doc, position) streams (the phrase operator's vectorized
        unpack, query/phrase.py), anchors normalized by sequence
        offset, a phrase occurrence = an anchor every offset shares.
        Filter f| doc sets constrain BEFORE the cap; candidates = top
        max(BUCKET_MAX, k) by (-occurrences, doc_index). Spec twin:
        SpecSearch.phrase_occurrences (oracle/bm25_oracle.py).

        Scale bounds (both sides of the shuffle): (a) the rarest
        phrase token's doc set semi-joins every position stream
        before the anchor dedup/agg — map-side when broadcastable —
        so decode/shuffle volume is bounded by the phrase's MIN df,
        stopwords included; (b) the final cap runs through
        ``_topn_per_qid`` (bounded streaming two-level merge), never
        a single-task-per-qid window."""
        from .phrase import _unpack_positions

        cfg = self.cfg
        todo = {
            qid: st for qid, st in states.items()
            if st.phrase_seq is not None and not st.done
        }
        if not todo:
            return
        for st in todo.values():
            st.done = True  # phrase queries never relax / fuzz / creep
        live = {
            qid: st for qid, st in todo.items()
            if all(
                st.group_df.get(g, 0) > 0
                for g in st.groups if g < FILTER_GID_BASE
            )
        }
        if not live:
            return
        rows = [
            (qid, tok, off, len(st.phrase_seq))
            for qid, st in live.items()
            for off, tok in enumerate(st.phrase_seq)
        ]
        spark = self.spark
        qdf = F.broadcast(spark.createDataFrame(
            rows, "qid string, token string, offset int, n_required int"
        ))
        toks = sorted({r[1] for r in rows})
        hits = self.blocks.filter(F.col("token").isin(toks)).join(qdf, "token")
        # bucket prune: every distinct phrase token must have blocks
        # in the bucket (metadata only, nothing decoded)
        ndist = F.broadcast(spark.createDataFrame(
            [(qid, len(set(st.phrase_seq))) for qid, st in live.items()],
            "qid string, n_tokens int",
        ))
        buck = (
            hits.groupBy("qid", "bucket")
            .agg(F.countDistinct("token").alias("nt"))
            .join(ndist, "qid")
            .filter(F.col("nt") >= F.col("n_tokens"))
            .select("qid", "bucket")
        )
        pruned = hits.join(buck, ["qid", "bucket"], "left_semi")
        # --- rarest-token doc conjunction (the scale bound) --------
        # a phrase occurrence needs EVERY phrase token in the doc, so
        # the doc set of the rarest token — its df is already known
        # from the planning dictionary probe, no extra job — bounds
        # the match set. Decode only that token's blocks boost-only
        # (no position payloads) and semi-join every token's exploded
        # (doc, position) stream against it BEFORE the anchor
        # dedup/groupBy: a phrase containing "the" never shuffles the
        # stopword's full positional postings — downstream volume is
        # bounded by min-df × phrase length, not max-df. When the
        # rare doc set is small (df ≤ phrase_broadcast_docs, the
        # common case) it is broadcast and the filter runs map-side
        # inside the same stage that decodes, so the big stream never
        # reaches an exchange at all.
        # ...engaged only when the estimated decode volume (Σ df of
        # all phrase tokens, known driver-side) clears the same floor
        # the non-phrase bucket pruning uses: below it, the extra
        # rare-decode job costs more than the decode it saves
        est_decode = sum(
            st.group_df.get(g, 0)
            for st in live.values()
            for g in st.groups
            if g < FILTER_GID_BASE
        )
        rare_docs = None
        if cfg.phrase_rare_prune and est_decode > cfg.prune_min_postings:
            rare_rows = []
            est_rare = 0
            for qid, st in live.items():
                rg = min(
                    (g for g in st.groups if g < FILTER_GID_BASE),
                    key=lambda g: (st.group_df.get(g, 0), st.groups[g][0]),
                )
                rare_rows.append((qid, st.groups[rg][0]))
                est_rare += st.group_df.get(rg, 0)
            rare_df = spark.createDataFrame(
                rare_rows, "qid string, token string"
            )
            rtoks = sorted({t for _, t in rare_rows})
            rhits = (
                self.blocks.filter(F.col("token").isin(rtoks))
                .join(F.broadcast(rare_df), "token")
                .join(buck, ["qid", "bucket"], "left_semi")
            )
            rare_docs = (
                rhits.select(
                    "qid",
                    _unpack_block(
                        "docs_bin", "tfs_bin", "boosts_bin"
                    ).alias("u"),
                )
                .select("qid", F.explode("u.doc_index").alias("doc_index"))
                .dropDuplicates(["qid", "doc_index"])
            )
            if est_rare <= cfg.phrase_broadcast_docs:
                rare_docs = F.broadcast(rare_docs)
        unp = pruned.select(
            "qid", "offset", "n_required",
            _unpack_positions("docs_bin", "tfs_bin", "pos_bin").alias("u"),
        )
        pos = unp.select(
            "qid", "offset", "n_required",
            F.explode(F.arrays_zip(
                F.col("u.doc_index").alias("doc_index"),
                F.col("u.position").alias("position"),
            )).alias("p"),
        ).select(
            "qid", "offset", "n_required",
            F.col("p.doc_index").alias("doc_index"),
            (F.col("p.position") - F.col("offset")).alias("anchor"),
        )
        if rare_docs is not None:
            pos = pos.join(rare_docs, ["qid", "doc_index"], "left_semi")
        anchors = pos.dropDuplicates(["qid", "doc_index", "offset", "anchor"])
        matched = (
            anchors.groupBy("qid", "doc_index", "anchor")
            .agg(
                F.countDistinct("offset").alias("no"),
                F.first("n_required").alias("nr"),
            )
            .filter(F.col("no") == F.col("nr"))
            .groupBy("qid", "doc_index")
            .agg(F.count(F.lit(1)).alias("n_occurrences"))
        )
        frows = [
            (qid, g, fk)
            for qid, st in live.items()
            for g in st.filter_gids
            for fk in st.groups[g]
        ]
        if frows:
            fdf = F.broadcast(spark.createDataFrame(
                frows, "qid string, fgid long, token string"
            ))
            fkeys = sorted({r[2] for r in frows})
            fh = self.blocks.filter(F.col("token").isin(fkeys)).join(fdf, "token")
            fdocs = fh.select(
                "qid", "fgid",
                _unpack_block("docs_bin", "tfs_bin", "boosts_bin").alias("u"),
            ).select(
                "qid", "fgid",
                F.explode(F.col("u.doc_index")).alias("doc_index"),
            ).dropDuplicates(["qid", "fgid", "doc_index"])
            nf = F.broadcast(spark.createDataFrame(
                [(qid, len(st.filter_gids)) for qid, st in live.items()],
                "qid string, nf int",
            ))
            fok = (
                fdocs.groupBy("qid", "doc_index")
                .agg(F.countDistinct("fgid").alias("ng"))
                .join(nf, "qid")
                .filter(F.col("ng") == F.col("nf"))
                .select("qid", "doc_index")
            )
            has_f = sorted(
                qid for qid, st in live.items() if st.filter_gids
            )
            matched = (
                matched.filter(F.col("qid").isin(has_f))
                .join(fok, ["qid", "doc_index"], "left_semi")
                .unionByName(matched.filter(~F.col("qid").isin(has_f)))
            )
        # final cap through the bounded distributed top-n (never a
        # single-task-per-qid window — a two-common-token phrase can
        # match a corpus-scale doc set); two-level streaming merge
        # engages above the same decode-volume style estimate the
        # non-phrase rounds use (Σ per-qid min df bounds the match
        # set), per-qid limits applied driver-side on the ≤topn rows
        lims = {
            qid: max(cfg.bucket_max, st.query.k) for qid, st in live.items()
        }
        est_matched = sum(
            min(
                st.group_df.get(g, 0)
                for g in st.groups
                if g < FILTER_GID_BASE
            )
            for st in live.values()
        )
        top = _topn_per_qid(
            matched, "n_occurrences", "doc_index", max(lims.values()),
            two_level=est_matched > cfg.phrase_two_level_min,
        ).collect()
        for r in top:
            if r["rn"] <= lims[r["qid"]]:
                live[r["qid"]].candidates.add(int(r["doc_index"]))

    # ------------------------------------------------------------------
    def _run_round(
        self, plan: pd.DataFrame, topn: int, wand_qids: list[str] | None = None
    ) -> pd.DataFrame:
        """One collection round: conjunctive group match + Σboost
        top-n per qid. plan columns: qid, gid, token, n_required,
        is_scan. Returns pandas (qid, doc_index, rn, prescore).

        Block-max WAND (for ``wand_qids``; SURVEY §4.1 "Top-k
        pushdown", after the published WAND / Block-Max WAND top-k
        pruning technique): per-bucket
        upper bound ub = Σ_group max(max_boost) is computed from block
        METADATA only. Phase 1 decodes each wand qid's best
        ``wand_bucket_batch`` buckets by ub; phase 2 decodes only the
        remaining buckets whose ub beats the phase-1 top-n floor —
        buckets that cannot contain a top-n doc are never unpacked.
        Rank-preserving: prescore ≤ its bucket's ub by construction.
        """
        spark = self.spark
        cfg = self.cfg
        wand_qids = [
            q for q in (wand_qids or []) if q in set(plan["qid"])
        ]
        plan_df = F.broadcast(spark.createDataFrame(plan))
        # explicit IN-filter BEFORE the broadcast join: a broadcast
        # join alone pushes nothing into the parquet scan, so every
        # round would re-read all packed block binaries; the token
        # list is driver-known, and blocks are token-sorted within
        # files → row-group min/max pruning skips nearly everything
        toks = sorted(set(plan["token"]))
        hits = self.blocks.filter(F.col("token").isin(toks)).join(plan_df, "token")
        # bucket qualification + upper bound, metadata only: every
        # group must appear in the bucket (skipping without decoding)
        g1 = hits.groupBy("qid", "bucket", "gid").agg(
            F.max("max_boost").alias("gmax"),
            F.first("n_required").alias("nr"),
        )
        buck = (
            g1.groupBy("qid", "bucket")
            .agg(
                F.count(F.lit(1)).alias("ng"),
                F.first("nr").alias("nr"),
                F.sum("gmax").cast("double").alias("ub"),
            )
            .filter(F.col("ng") >= F.col("nr"))
            .select("qid", "bucket", "ub")
        )
        self.last_round_metrics = {"wand_qids": len(wand_qids), "buckets_skipped": 0}
        # bucket pruning is itself two extra stages — only worth it
        # for qids whose decode volume is large (the rare+common case
        # where a common token's blocks can be skipped in buckets the
        # rare token never touches). Small-volume qids decode straight.
        if "gdf" in plan.columns:
            per_qid_df = (
                plan.drop_duplicates(["qid", "gid"]).groupby("qid")["gdf"].sum()
            )
        else:  # direct _run_round callers (tests): prune everything
            per_qid_df = None
        all_qids = set(plan["qid"])
        prune_qids = sorted(
            q
            for q in all_qids - set(wand_qids)
            if per_qid_df is None
            or per_qid_df.get(q, 0) > cfg.prune_min_postings
        )
        plain_qids = sorted(all_qids - set(wand_qids) - set(prune_qids))

        def gated_prune(src):
            parts = []
            if plain_qids:
                parts.append(src.filter(F.col("qid").isin(plain_qids)))
            if prune_qids:
                hp = src.filter(F.col("qid").isin(prune_qids))
                parts.append(
                    hp.join(
                        buck.select("qid", "bucket"), ["qid", "bucket"],
                        "left_semi",
                    )
                )
            out = parts[0]
            for p_ in parts[1:]:
                out = out.unionByName(p_)
            return out

        big = bool(prune_qids) or bool(wand_qids)
        if not wand_qids:
            return self._conjunctive_topn(
                gated_prune(hits), plan, topn, two_level=big
            )

        R = cfg.wand_bucket_batch
        is_wand = F.col("qid").isin(wand_qids)
        wb = Window.partitionBy("qid").orderBy(F.desc("ub"), F.asc("bucket"))
        buck2 = (
            buck.filter(is_wand)
            .withColumn("rnb", F.row_number().over(wb))
            .persist()
        )
        try:
            hw = hits.filter(is_wand)
            p1b = buck2.filter(F.col("rnb") <= R).select("qid", "bucket")
            phase1 = hw.join(p1b, ["qid", "bucket"], "left_semi")
            if plain_qids or prune_qids:
                phase1 = gated_prune(hits.filter(~is_wand)).unionByName(phase1)
            got1 = self._conjunctive_topn(phase1, plan, topn)
            # remaining-bucket summary per wand qid (metadata only)
            rem = (
                buck2.filter(is_wand & (F.col("rnb") > R))
                .groupBy("qid")
                .agg(F.max("ub").alias("max_ub"), F.count(F.lit(1)).alias("nb"))
                .collect()
            )
            NEG = float("-1e300")
            thresholds: dict[str, float] = {}
            rem_nb: dict[str, int] = {}
            for r in rem:
                mine = got1[got1["qid"] == r["qid"]]
                t = (
                    float(mine["prescore"].min()) if len(mine) >= topn else NEG
                )
                # INCLUSIVE floor: a bucket whose ub ties the phase-1
                # top-n floor can still hold a doc that wins the
                # doc_index tiebreak at that exact prescore — only
                # max_ub < t proves a qid's remaining buckets are dead
                if r["max_ub"] >= t:
                    thresholds[r["qid"]] = t
                    rem_nb[r["qid"]] = int(r["nb"])
                else:
                    self.last_round_metrics["buckets_skipped"] += int(r["nb"])
            if not thresholds:
                return got1
            thr_df = F.broadcast(
                spark.createDataFrame(
                    list(thresholds.items()), "qid string, thr double"
                )
            )
            p2b = (
                buck2.filter(F.col("rnb") > R)
                .join(thr_df, "qid")
                .filter(F.col("ub") >= F.col("thr"))
                .select("qid", "bucket")
            ).persist()
            # per-qid skipped = remaining buckets minus decoded buckets
            # (buck2 is persisted; this is a tiny metadata aggregation)
            dec = {
                r["qid"]: int(r["cnt"])
                for r in p2b.groupBy("qid").agg(
                    F.count(F.lit(1)).alias("cnt")
                ).collect()
            }
            for qid, nb in rem_nb.items():
                self.last_round_metrics["buckets_skipped"] += nb - dec.get(qid, 0)
            try:
                got2 = self._conjunctive_topn(
                    hw.join(p2b, ["qid", "bucket"], "left_semi"), plan, topn
                )
            finally:
                p2b.unpersist()
            # merge the two phases (disjoint bucket sets → disjoint
            # docs) under the same total order
            merged = pd.concat([got1, got2], ignore_index=True)
            merged = merged.sort_values(
                ["qid", "prescore", "doc_index"], ascending=[True, False, True]
            )
            merged["rn"] = merged.groupby("qid").cumcount() + 1
            return merged[merged["rn"] <= topn].reset_index(drop=True)
        finally:
            buck2.unpersist()

    # ------------------------------------------------------------------
    def _conjunctive_topn(
        self, pruned, plan: pd.DataFrame, topn: int, two_level: bool = True
    ) -> pd.DataFrame:
        """Conjunctive group match + Σboost top-n over (pre-pruned)
        block rows; collects the ≤topn-per-qid result to the driver.

        Scan mode (any is_scan row; ≙ manual_scan, the reference's
        cost-model path when every required token is too frequent,
        lua/manual_scan.lua + collectors.py:35-65): only the top
        ``scan_limit`` postings of the smallest list are probed
        against the other lists, instead of a full intersection.
        """
        postings = _exploded_postings(
            pruned, ["qid", "gid", "n_required", "is_scan"]
        )
        if bool(plan["is_scan"].any()):
            scan_qids = plan.loc[plan["is_scan"], "qid"].unique().tolist()
            scan_side = postings.filter(
                F.col("is_scan") & F.col("qid").isin(scan_qids)
            )
            sg = scan_side.groupBy("qid", "doc_index").agg(
                F.max("boost").alias("sboost")
            )
            # two-level top-scan_limit (same no-single-reducer rule as
            # the round top-n: the probe list of a common token is
            # corpus-sized before the cap — always big by definition,
            # scan mode only triggers above intersect_limit)
            probe = _topn_per_qid(
                sg.select("qid", "doc_index", F.col("sboost").alias("prescore")),
                "prescore", "doc_index", self.cfg.scan_limit,
                two_level=True,
            ).select("qid", "doc_index")
            scanned = postings.filter(F.col("qid").isin(scan_qids)).join(
                F.broadcast(probe), ["qid", "doc_index"], "left_semi"
            )
            postings = postings.filter(~F.col("qid").isin(scan_qids)).unionByName(
                scanned
            )
        # group-level semantics (a doc matches a group if it matches
        # ANY expansion; prescore = Σ over groups of max boost) in ONE
        # shuffle: collect this doc's (gid, boost) pairs sorted
        # ascending, then fold — each gid run's LAST element is its
        # max, committed in gid-ascending order, so the float sum
        # order is identical to summing per-group maxes by gid asc
        # (determinism invariant, SURVEY §7.4)
        zero = F.struct(
            F.lit(-1).cast("long").alias("g"),
            F.lit(0.0).cast("float").alias("m"),
            F.lit(0).alias("n"),
            F.lit(0.0).alias("t"),
        )

        def _step(acc, x):
            new_group = x["gid"] != acc["g"]
            committed = F.when(
                acc["g"] >= 0, acc["t"] + acc["m"].cast("double")
            ).otherwise(acc["t"])
            return F.struct(
                x["gid"].alias("g"),
                x["boost"].alias("m"),
                F.when(new_group, acc["n"] + 1).otherwise(acc["n"]).alias("n"),
                F.when(new_group, committed).otherwise(acc["t"]).alias("t"),
            )

        def _finish(acc):
            return F.struct(
                acc["n"].alias("nmatch"),
                F.when(
                    acc["g"] >= 0, acc["t"] + acc["m"].cast("double")
                ).otherwise(acc["t"]).alias("prescore"),
            )

        per_doc = (
            postings.groupBy("qid", "doc_index")
            .agg(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("gid", "boost"))),
                    zero, _step, _finish,
                ).alias("st"),
                F.first("n_required").alias("nr"),
            )
            .filter(F.col("st.nmatch") >= F.col("nr"))
            .select("qid", "doc_index", F.col("st.prescore").alias("prescore"))
        )
        # top-n per qid without a window; two-level (per (qid,
        # doc-salt) partial top-n first) whenever some qid's decode
        # volume is large, so no single reducer ever sees a
        # common-token conjunction's corpus-sized match set
        top = _topn_per_qid(
            per_doc, "prescore", "doc_index", topn, two_level=two_level
        )
        out = top.toPandas()
        if out.empty:
            out = pd.DataFrame(
                {
                    "qid": pd.Series(dtype=object),
                    "doc_index": pd.Series(dtype="int64"),
                    "rn": pd.Series(dtype="int64"),
                    "prescore": pd.Series(dtype="float64"),
                }
            )
        return out

    # ------------------------------------------------------------------
    def search(self, queries: list[Query]) -> DataFrame:
        """Batched search: returns DataFrame (qid, rank, conv_id,
        turn_idx, role, tool, text, score, importance)."""
        import time as _time0

        cfg = self.cfg
        _tp = _time0.time()
        states = self._plan_queries(queries)
        _plan_trace = {
            "stage": "plan_queries",
            "seconds": round(_time0.time() - _tp, 3),
            "queries": len(queries),
        }
        if any(st.phrase_seq is not None for st in states.values()):
            _tp = _time0.time()
            self._phrase_round(states)
            _plan_trace["phrase_round_seconds"] = round(
                _time0.time() - _tp, 3
            )

        def removal_order(st: _QState) -> list[int]:
            # ≙ the reducing collector's sorter (collectors.py:127-131):
            # digit tokens first, then highest df first; stable on ties
            return sorted(
                st.meaningful_order,
                key=lambda g: (
                    1 if st.groups[g][0].isdigit() else 0,
                    st.group_df.get(g, 0),
                ),
                reverse=True,
            )

        def round_plan(
            round_no: int,
        ) -> tuple[pd.DataFrame, list[str], dict[str, list[str]]]:
            import math as _math

            rows = []
            wand_qids: list[str] = []
            vq_order: dict[str, list[str]] = {}
            for qid, st in states.items():
                if st.done:
                    continue
                order = st.meaningful_order
                variants: list[tuple[str, list[int]]] = []
                if round_no == 1:
                    # meaningful conjunction; queries with NO
                    # meaningful tokens take the commons fallback
                    # (≙ only_commons, collectors.py:20-65) in the
                    # SAME round — the two qid sets are disjoint, so
                    # one batched plan covers both
                    gids = order if order else [
                        g for g in sorted(st.groups) if g < FILTER_GID_BASE
                    ]
                    if gids:
                        variants = [(qid, gids)]
                elif round_no == 3 and len(order) > 1:
                    # ≙ extend_results_reducing_tokens remove-1
                    # (collectors.py:115-137): try removing EACH
                    # meaningful token (not just the last-by-order),
                    # gated on empty bucket or margin over the
                    # 2/3-of-tokens should_match_threshold
                    # (search.py:25)
                    n_tok = len(
                        [g for g in st.groups if g < FILTER_GID_BASE]
                    )
                    smt = _math.ceil(2.0 / 3.0 * n_tok)
                    if not st.candidates or len(order) - 1 > smt:
                        variants = [
                            (f"{qid}\x00r1.{i}",
                             [g for g in order if g != r])
                            for i, r in enumerate(removal_order(st))
                        ]
                elif round_no == 4 and len(order) > 3 and not st.candidates:
                    # ≙ remove-2 (collectors.py:139-148): bucket still
                    # EMPTY and >3 meaningful — all unordered pairs in
                    # removal order (the reference's ordered-pair
                    # product yields the same key sets twice)
                    rm = removal_order(st)
                    vi = 0
                    for i, a in enumerate(rm):
                        for b2 in rm[i + 1:]:
                            variants.append(
                                (f"{qid}\x00r2.{vi}",
                                 [g for g in order if g not in (a, b2)])
                            )
                            vi += 1
                for vq, gids in variants:
                    if not gids:
                        continue
                    # filter groups are required in EVERY round (the
                    # reference appends f| keys to every intersect,
                    # core.py:337-352) and are never relaxation-dropped
                    gids = gids + st.filter_gids
                    # scan mode iff EVERY required group is too frequent
                    # (≙ only_commons → manual_scan, collectors.py:35-65)
                    gdf = st.group_df
                    scan_gid = -1
                    if all(
                        gdf.get(g, 0) > self.cfg.intersect_limit for g in gids
                    ):
                        scan_gid = min(gids, key=lambda g: (gdf.get(g, 0), g))
                    elif (
                        cfg.wand_enabled
                        and all(gdf.get(g, 0) > cfg.wand_min_df for g in gids)
                        and sum(gdf.get(g, 0) for g in gids)
                        > cfg.wand_min_postings
                    ):
                        # every group frequent AND the decode volume
                        # large enough to outweigh the two-phase
                        # scheduling cost → the case block-max
                        # skipping is for
                        wand_qids.append(vq)
                    vq_order.setdefault(qid, []).append(vq)
                    for gid in gids:
                        for tok in st.groups[gid]:
                            rows.append(
                                (vq, gid, tok, len(gids), gid == scan_gid,
                                 gdf.get(gid, 0))
                            )
            return pd.DataFrame(
                rows,
                columns=["qid", "gid", "token", "n_required", "is_scan", "gdf"],
            ), wand_qids, vq_order

        import time as _time

        self.last_metrics = {"rounds": 0, "cream_stops": 0, "buckets_skipped": 0}
        self.last_trace = [_plan_trace]  # per-stage timings (≙ shell
        #                EXPLAIN, addok/shell.py:282-327 / docs/shell.md)
        _t0 = _time.time()
        for round_no in (1, 3, 4):
            if round_no >= 3:
                # cream early-termination (≙ has_cream, core.py:400-419,
                # guarding the reducing/fuzzy collectors): a dry bucket
                # that already holds a ≥ match_threshold string match
                # stops relaxing instead of paying more rounds
                self._apply_cream(states)
            plan, wand_qids, vq_order = round_plan(round_no)
            if plan.empty:
                continue
            self.last_metrics["rounds"] += 1
            _tr = _time.time()
            # per-query bucket limit = max(k, BUCKET_MAX) (≙ intersect
            # limit, reference core.py:339 / issue #422: limit >
            # BUCKET_MAX must still fill) — the round top-n takes the
            # batch max; per-qid room below trims to each query's own
            round_topn = max(
                cfg.bucket_max,
                max((st.query.k for st in states.values()), default=0),
            )
            got = self._run_round(plan, round_topn, wand_qids)
            self.last_trace.append(
                {
                    "stage": f"collect_round_{round_no}",
                    "seconds": round(_time.time() - _tr, 3),
                    "plan_tokens": int(len(plan)),
                    "qids": int(plan["qid"].nunique()),
                    "wand_qids": len(wand_qids),
                    "buckets_skipped": self.last_round_metrics["buckets_skipped"],
                    "rows": int(len(got)),
                }
            )
            self.last_metrics["buckets_skipped"] += self.last_round_metrics[
                "buckets_skipped"
            ]
            by_vq = {
                vq: grp.sort_values("rn")["doc_index"].tolist()
                for vq, grp in got.groupby("qid")
            }
            for qid, vqs in vq_order.items():
                st = states[qid]
                for vq in vqs:
                    # variants accumulate in removal order until the
                    # bucket overflows (≙ add_to_bucket loop +
                    # bucket_overflow break, collectors.py:132-137)
                    room = max(
                        0,
                        max(cfg.bucket_max, st.query.k) - len(st.candidates),
                    )
                    if room == 0:
                        break
                    st.candidates.update(by_vq.get(vq, [])[:room])
                if len(st.candidates) >= cfg.bucket_min:
                    st.done = True
            if all(st.done for st in states.values()):
                break

        self._apply_cream(states)
        _tr = _time.time()
        self._relation_round(states)
        self.last_trace.append(
            {"stage": "relation_round", "seconds": round(_time.time() - _tr, 3)}
        )
        _tr = _time.time()
        out = self._score(states)
        self.last_trace.append(
            {"stage": "score_plan", "seconds": round(_time.time() - _tr, 3)}
        )
        self.last_trace.append(
            {"stage": "total_driver", "seconds": round(_time.time() - _t0, 3)}
        )
        self.last_states = states
        return out

    # ------------------------------------------------------------------
    def _apply_cream(self, states: dict[str, _QState]) -> None:
        """Mark still-dry queries done when their bucket already holds
        a string match ≥ cfg.match_threshold (the reference's "cream"
        check, core.py:400-419). One tiny pbucket-pruned doc lookup
        for ALL dry queries' candidates (≤ bucket_max each).

        The metric is the SAME str_distance the reference's result
        processors would have attached (results.py:60-104): the
        autocomplete equals/startswith/contains ladder for
        autocomplete queries, bigram compare_ngrams otherwise — NOT
        the compare_str tie-break key, whose 0.85 query-trigram-recall
        term scores ~1.0 for any long turn merely CONTAINING the query
        and would stop relaxation rounds the reference still runs."""
        need = {
            qid: st
            for qid, st in states.items()
            if not st.done and st.candidates
        }
        if not need:
            return
        ids = sorted({d for st in need.values() for d in st.candidates})
        shift = self.meta["doc_bucket_bits"] + self.meta.get("pbucket_shift", 6)
        pbs = sorted({d >> shift for d in ids})
        alt = (
            self.cfg.alt_text_field
            if self.cfg.alt_text_field in self.docs.columns
            else None
        )
        rows = (
            self.docs.filter(F.col("pbucket").isin(pbs))
            .filter(F.col("doc_index").isin(ids))
            .select("doc_index", "text", *([alt] if alt else []))
            .collect()
        )
        folded = {
            r["doc_index"]: [fold_str(r["text"] or "")]
            + [fold_str(v or "") for v in (r[alt] if alt else None) or []]
            for r in rows
        }
        thr = self.cfg.match_threshold
        for qid, st in need.items():
            qf = fold_str(st.query.q)
            ac = bool(st.query.autocomplete)
            if any(
                ref_string_score_best(qf, folded.get(d, [""]), ac) >= thr
                for d in sorted(st.candidates)
            ):
                st.done = True
                self.last_metrics["cream_stops"] += 1

    # ------------------------------------------------------------------
    def _relation_round(self, states: dict[str, _QState]) -> None:
        """Q13 ≙ extend_results_extrapoling_relations
        (collectors.py:151-214): for still-dry queries with ≥3
        meaningful groups, extract maximal cliques from the pair
        (co-occurrence) index over the groups\' representative tokens
        and re-intersect each clique, least-frequent first. All
        cliques of the whole batch run as ONE job (virtual qids)."""
        cfg = self.cfg
        dry = {
            qid: st
            for qid, st in states.items()
            if not st.done and len(st.meaningful_order) >= 3
        }
        if not dry or self.pairs is None:
            return
        reps: dict[str, dict[int, str]] = {}
        all_reps: set[str] = set()
        for qid, st in dry.items():
            r = {g: st.groups[g][0] for g in st.meaningful_order}
            reps[qid] = r
            all_reps.update(r.values())
        reps_list = sorted(all_reps)
        pairset = self._pairs_lookup(reps_list, reps_list)

        from .cliques import ordered_cliques

        plan_rows = []
        clique_order: dict[str, list[str]] = {}
        for qid, st in dry.items():
            nodes = st.meaningful_order
            r = reps[qid]
            edges = set()
            for i in nodes:
                for j in nodes:
                    if i < j:
                        a, b = sorted((r[i], r[j]))
                        if (a, b) in pairset:
                            edges.add((i, j))
            for ci, clique in enumerate(
                ordered_cliques(nodes, edges, st.group_df)
            ):
                vq = f"{qid}\x00{ci}"
                clique_order.setdefault(qid, []).append(vq)
                cg = list(clique) + st.filter_gids  # filters always required
                for gid in cg:
                    for tok in st.groups[gid]:
                        plan_rows.append(
                            (vq, gid, tok, len(cg), False,
                             st.group_df.get(gid, 0))
                        )
        if not plan_rows:
            return
        got = self._run_round(
            pd.DataFrame(
                plan_rows,
                columns=["qid", "gid", "token", "n_required", "is_scan", "gdf"],
            ),
            max(
                cfg.bucket_max,
                max((st.query.k for st in dry.values()), default=0),
            ),
        )
        by_vq = {
            vq: grp.sort_values("rn")["doc_index"].tolist()
            for vq, grp in got.groupby("qid")
        }
        for qid, st in dry.items():
            for vq in clique_order.get(qid, []):
                if len(st.candidates) >= cfg.bucket_min:
                    break
                room = max(
                    0,
                    max(cfg.bucket_max, st.query.k) - len(st.candidates),
                )
                st.candidates.update(by_vq.get(vq, [])[:room])

    # ------------------------------------------------------------------
    def _score(self, states: dict[str, _QState]) -> DataFrame:
        """Score every candidate against the FULL query token groups
        with BM25 + deterministic tie-break, take top-k per query."""
        spark = self.spark
        meta = self.meta
        n_docs, avgdl = meta["n_docs"], meta["avgdl"]
        k1, b = meta["bm25_k1"], meta["bm25_b"]

        cand_rows = [
            (st.query.qid, int(d), st.query.k)
            for st in states.values()
            for d in sorted(st.candidates)
        ]
        tok_rows = [
            (st.query.qid, gid, tok)
            for st in states.values()
            for gid, toks in sorted(st.groups.items())
            if gid < FILTER_GID_BASE  # filter groups never score
            for tok in toks
        ]
        if not cand_rows:
            return spark.createDataFrame(
                [], "qid string, rank int, conv_id string, turn_idx int, role string,"
                " tool string, text string, score double, importance double"
            )
        cand = F.broadcast(
            spark.createDataFrame(cand_rows, "qid string, doc_index long, k int")
        )
        qtoks = F.broadcast(
            spark.createDataFrame(tok_rows, "qid string, gid int, token string")
        )

        # restrict posting blocks to query tokens AND candidate doc-range
        # buckets before unpacking (candidates ≤ BUCKET_MAX per query, so
        # this skips nearly all blocks of common tokens)
        bits = meta["doc_bucket_bits"]
        cbuckets = F.broadcast(
            spark.createDataFrame(
                sorted({(qid, d >> bits) for qid, d, _ in cand_rows}),
                "qid string, bucket long",
            )
        )
        all_toks = sorted({t for _, _, t in tok_rows})
        hits = (
            self.blocks.filter(F.col("token").isin(all_toks))
            .join(qtoks, "token")
            .join(cbuckets, ["qid", "bucket"], "left_semi")
        )
        postings = _exploded_postings(hits, ["qid", "gid", "token"], with_tf=True)
        postings = postings.join(cand, ["qid", "doc_index"], "inner")
        # ONE exchange for both downstream aggregations: hash
        # partitioning on (qid, doc_index) satisfies the clustering
        # of groupBy(qid, doc_index, gid) AND groupBy(qid, doc_index)
        postings = postings.repartition("qid", "doc_index")

        # group-level tf: expansions of one query token sum their tf
        # (BM25F-style synonym handling); df for idf = df of the
        # matched token (min over matched expansions for determinism)
        # token IN-filter pushed into the dictionary scan (the
        # broadcast semi-join alone reads the whole table)
        dstats = self.dictionary.filter(
            F.col("token").isin(all_toks)
        ).select("token", "df")
        postings = postings.join(F.broadcast(dstats), "token")
        per_group = postings.groupBy("qid", "doc_index", "gid").agg(
            F.sum("tf").alias("tf"),
            F.min("df").alias("df"),
            F.max("boost").alias("gboost"),
            F.first("k").alias("k"),
        )
        # prune the docs scan to candidate partitions (+ row groups):
        # candidates are driver-known, docs are pbucket-partitioned
        shift = meta["doc_bucket_bits"] + meta.get("pbucket_shift", 6)
        cand_ids = sorted({d for _, d, _ in cand_rows})
        docs_src = self.docs.filter(
            F.col("pbucket").isin(sorted({d >> shift for d in cand_ids}))
        )
        if len(cand_ids) <= 10_000:
            docs_src = docs_src.filter(F.col("doc_index").isin(cand_ids))
        # alt label variants ride along only when the docs table has
        # them (list-valued name parity) — scoring compares best-of
        alt = (
            self.cfg.alt_text_field
            if self.cfg.alt_text_field in self.docs.columns
            else None
        )
        dl = docs_src.select("doc_index", "dl", "conv_id", "turn_idx", "role",
                             "tool", "text", "importance",
                             *([alt] if alt else []))
        # candidates ≤ bucket_max per query → the IN-pruned docs side
        # is tiny; broadcast keeps per_group's partitioning (no SMJ
        # exchange before the per-doc fold). Above the IN-list cap the
        # scan isn't row-pruned, so let the planner choose.
        scored = per_group.join(
            F.broadcast(dl) if len(cand_ids) <= 10_000 else dl, "doc_index"
        )
        idf = F.log(
            F.lit(1.0)
            + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        )
        tfn = (
            F.col("tf").cast("double")
            * (k1 + 1.0)
            / (
                F.col("tf").cast("double")
                + k1 * (1.0 - b + b * F.col("dl").cast("double") / F.lit(avgdl))
            )
        )
        scored = scored.withColumn("term_score", idf * tfn)
        per_doc = scored.groupBy("qid", "doc_index").agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("gid", "term_score"))),
                F.lit(0.0),
                lambda acc, x: acc + x["term_score"],
            ).alias("score"),
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("gid", "gboost"))),
                F.lit(0.0),
                lambda acc, x: acc + x["gboost"].cast("double"),
            ).alias("boost"),
            F.first("k").alias("k"),
            F.first("conv_id").alias("conv_id"),
            F.first("turn_idx").alias("turn_idx"),
            F.first("role").alias("role"),
            F.first("tool").alias("tool"),
            F.first("text").alias("text"),
            F.first("importance").alias("importance"),
            *([F.first(alt).alias(alt)] if alt else []),
        )
        # belt-and-braces filter predicate on top of the
        # filter-constrained collection (≙ f| sets → predicate,
        # addok/core.py:208-248) — values normalized exactly like the
        # collection keys (strip + drop empties)
        from pyspark.sql.types import ArrayType

        def _fpred(col: str, vs: list[str]):
            # trim the doc-side value too — same normalization as the
            # f| index keys (build.py filter_token_rows); ARRAY-valued
            # filter fields match when ANY element matches (one f|
            # posting per element at index time)
            try:
                is_arr = isinstance(
                    self.docs.schema[col].dataType, ArrayType
                )
            except KeyError:
                is_arr = False
            if is_arr:
                return F.arrays_overlap(
                    F.transform(F.col(col), lambda x: F.trim(x.cast("string"))),
                    F.array(*[F.lit(v) for v in vs]),
                )
            return F.trim(F.col(col).cast("string")).isin(vs)

        fexprs = []
        for st in states.values():
            for col, vals in (st.query.filters or {}).items():
                vs = normalize_filter_values(vals, self.cfg.max_filter_values)
                if vs:
                    fexprs.append(
                        (F.col("qid") != st.query.qid) | _fpred(col, vs)
                    )
        for e in fexprs:
            per_doc = per_doc.filter(e)

        # string-distance tie-break (reference score_by_str_distance,
        # results.py:80-104, recast as a deterministic secondary sort
        # key per north_rule) — candidates ≤ BUCKET_MAX/query, so the
        # pairwise compare is a tiny pandas-UDF pass
        qmap = F.create_map(
            *[
                x
                for st in states.values()
                for x in (F.lit(st.query.qid), F.lit(st.query.q))
            ]
        )
        # rounding happens INSIDE the UDF (Python round, HALF_EVEN)
        # so engine and oracle share one rounding rule (str_distance_key)
        if alt:
            cmp_best = make_compare_best_udf()
            per_doc = per_doc.withColumn(
                "str_distance",
                cmp_best(
                    qmap[F.col("qid")],
                    F.col("text"),
                    F.coalesce(
                        F.col(alt), F.array().cast("array<string>")
                    ),
                ),
            )
        else:
            cmp_udf = make_compare_str_udf()
            per_doc = per_doc.withColumn(
                "str_distance",
                cmp_udf(fold_udf(qmap[F.col("qid")]), fold_udf(F.col("text"))),
            )

        if self.cfg.scorer == "reference":
            # reference-semantics fold (core.py:92-101): score =
            # (importance·iw + string sub-score)/(iw + 1), with the
            # autocomplete ladder and the MIN_SCORE render cutoff
            # (core.py:327-335) — BM25 replaced wholesale
            amap = F.create_map(
                *[
                    x
                    for st in states.values()
                    for x in (
                        F.lit(st.query.qid),
                        F.lit(bool(st.query.autocomplete)),
                    )
                ]
            )
            if alt:
                ref_best = make_ref_score_best_udf(self.cfg.importance_weight)
                score_col = ref_best(
                    qmap[F.col("qid")],
                    F.col("text"),
                    F.coalesce(
                        F.col(alt), F.array().cast("array<string>")
                    ),
                    amap[F.col("qid")],
                    F.col("importance"),
                )
            else:
                ref_udf = make_ref_score_udf(self.cfg.importance_weight)
                score_col = ref_udf(
                    fold_udf(qmap[F.col("qid")]),
                    fold_udf(F.col("text")),
                    amap[F.col("qid")],
                    F.col("importance"),
                )
            per_doc = per_doc.withColumn("score", score_col).filter(
                F.col("score") >= F.lit(self.cfg.min_score)
            )

        w = Window.partitionBy("qid").orderBy(
            F.desc("score"),
            F.desc("str_distance"),
            F.desc("boost"),
            F.desc("importance"),
            F.asc("doc_index"),
        )
        return (
            per_doc.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= F.col("k"))
            .select(
                "qid", "rank", "conv_id", "turn_idx", "role", "tool",
                "text", "score", "str_distance", "importance", "doc_index",
            )
            .orderBy("qid", "rank")
        )
