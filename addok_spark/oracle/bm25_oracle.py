"""Single-process pure-Python/numpy oracle and the one search flow.

``OracleIndex`` rebuilds the index from the corpus with the same
analyzer functions as ``index.build`` (imported, not re-implemented)
and the same weight formula (``addok/helpers/index.py:30-37``).
``SpecSearch`` is the search flow itself: planning, collection
rounds, relaxation, cream, relation round and BM25 scoring with
deterministic tie-breaks. The serving tier (``serving/local.py``)
runs it over the parquet index, with array twins of its collection,
phrase and scoring kernels, and the Spark ``SearchEngine``
(``query/engine.py``) runs the serving tier in tasks, so rank identity
(north_rule) against the corpus-built oracle is checkable with
``python -m pytest -x -q`` (bucket semantics ≙
``addok/core.py:354-365``).
"""

from __future__ import annotations

import math
import random
from collections import defaultdict
from dataclasses import dataclass

import numpy as np
import pandas as pd

from ..config import BM25_B, BM25_K1, EngineConfig
from ..query.engine import FILTER_GID_BASE, normalize_filter_values
from ..functions.text import (
    analyze_str,
    edge_ngrams_str,
    fold_str,
    make_fuzzy_str,
    ref_fold_score,
    ref_string_score_best,
    str_distance_keys_multi,
)


# result frame columns, in order (``rank`` is appended last)
_RESULT_COLUMNS = [
    "qid", "doc_index", "score", "str_distance", "boost", "importance",
    "conv_id", "turn_idx", "role", "tool", "text",
]

# ``doc_values`` default meaning "the field must exist" (``row[name]``)
REQUIRED = object()

# the doc fields a returned record carries, each with its default
# when the docs table lacks the column
_RENDER_FIELDS = (
    ("conv_id", REQUIRED), ("turn_idx", REQUIRED), ("role", None),
    ("tool", None), ("text", REQUIRED),
)


@dataclass
class QueryPlan:
    """One query's plan as the search flow ran it: token groups by
    gid (FILTER_GID_BASE and up are filter groups), each group's df,
    the meaningful gids in collection order, and the collected
    candidates."""
    groups: dict[int, list[str]]
    group_dfs: dict[int, int]
    meaningful: list[int]
    candidates: set[int]


@dataclass
class OracleResult:
    qid: str
    rows: pd.DataFrame  # rank, conv_id, turn_idx, score, boost, importance, doc_index


class ExpansionMixin:
    """Query-planning spec shared by the corpus-built OracleIndex and
    the parquet-backed serving index (serving/local.py). Both inherit
    the expansion semantics below, so the serving tier follows the
    oracle's plan by construction. The search flow (``SpecSearch``)
    reads an index only through this protocol:

    - ``cfg, df, max_boost, n_docs, avgdl, have_pairs`` and
      ``prefetch_tokens(tokens)``;
    - postings: ``postings, posting_count, tf_boost_many,
      token_positions, any_shared_docs, cooc, prefix_candidates``
      (serving's ``FastSearch`` kernel reads ``ParquetIndex``'s
      posting arrays instead of the dict views);
    - documents: ``doc_values`` (one gather per field over a doc
      array), ``doc_array`` (the same as numpy), ``doc_fields``
      (several fields of the same docs) and ``folded_labels`` (built
      on ``folded_texts``, one ``text`` gather over a doc array).

    ``doc(d)`` (one full row) is for the shell; the flow never calls
    it."""

    def prefetch_tokens(self, tokens) -> None:
        """Read these tokens' postings ahead of the flow. No-op here:
        the oracle holds every posting in RAM."""

    def postings(self, token: str) -> dict[int, float]:
        """doc → boost for word tokens AND f| filter keys."""
        if token.startswith("f|"):
            return self.fboost.get(token, {})
        return self.boost.get(token, {})

    def posting_count(self, token: str) -> int:
        return len(self.postings(token))

    def any_shared_docs(self, a: str, b: str) -> bool:
        """Do two tokens co-occur in at least one doc? (relation-
        extrapolation edge test, collectors.py:166-170)."""
        return bool(set(self.tf.get(a, {})) & set(self.tf.get(b, {})))

    def doc_values(self, name: str, docs, default=REQUIRED) -> list:
        """One field of many docs, in ``docs`` order: ``doc(d)[name]``
        per doc, or ``doc(d).get(name, default)`` when a default is
        given. Spec form: one row per doc; the serving tier overrides
        this with one sorted-position gather per pbucket column
        (serving/local.py), equal in value and Python type."""
        if default is REQUIRED:
            return [self.doc(int(d))[name] for d in docs]
        return [self.doc(int(d)).get(name, default) for d in docs]

    def doc_array(self, name: str, docs, default=REQUIRED) -> np.ndarray:
        """``doc_values`` as one numpy array: numbers in the dtype numpy
        gives them, any other values (``None`` among them) as an object
        array. The serving tier gathers it per pbucket without a list."""
        vals = self.doc_values(name, docs, default)
        arr = np.array(vals) if vals else np.empty(0)
        if arr.ndim != 1 or arr.dtype.kind not in "biuf":
            arr = np.fromiter(vals, dtype=object, count=len(vals))
        return arr

    def doc_fields(self, fields, docs) -> dict[str, list]:
        """Several fields of many docs: ``doc_values(name, docs,
        default)`` for each ``(name, default)`` of ``fields``. The
        serving tier locates the docs once for all the fields."""
        return {
            name: self.doc_values(name, docs, default)
            for name, default in fields
        }

    def folded_texts(self, docs) -> list[str]:
        """Folded text of each doc, in ``docs`` order, for cream /
        reference-scorer / tie-break string comparisons: one ``text``
        gather, each text folded once (fold is deterministic, so
        implementations may cache it per doc)."""
        return [fold_str(t or "") for t in self.doc_values("text", docs)]

    def folded_labels(self, docs) -> list[list[str]]:
        """Folded label VARIANTS of each doc, in ``docs`` order: primary
        text plus the optional ``alt_text_field`` list (≙ reference
        Result.labels, results.py:80-104 — string comparisons score the
        BEST variant), read with one gather of each field. Singleton
        (no alt column) ⇒ the folded text alone, so the non-alt paths
        are unchanged."""
        labels = [[t] for t in self.folded_texts(docs)]
        alt_name = getattr(self.cfg, "alt_text_field", None)
        if alt_name and labels:
            alts = self.doc_values(alt_name, docs, default=None)
            for lab, alt in zip(labels, alts):
                if alt is not None and not (
                    isinstance(alt, float) and math.isnan(alt)
                ) and len(alt):
                    lab.extend(fold_str(v or "") for v in alt)
        return labels

    # -- expansion helpers (query planning) ---------------------------------
    def noncommon(self, t: str) -> bool:
        return 0 < self.df.get(t, 0) <= self.cfg.common_threshold

    def prefix_expansions(
        self, prefix: str, others: list[str]
    ) -> list[tuple[str, int]]:
        """≙ autocomplete.py:83-95:
        candidates co-occurring with every other meaningful token
        (commons exempt — ``cooc`` excludes the Zipf head), ordered
        by max posting score when the prefix is the only meaningful
        token (order_by_max_score.lua), by frequency otherwise."""
        cands = [c for c in self.prefix_candidates(prefix) if c != prefix]
        if others and self.have_pairs:
            cands = [
                c for c in cands
                if self.df.get(c, 0) > self.cfg.common_threshold
                or all(self.cooc(c, o) for o in others)
            ]
        if not others:
            cands.sort(
                key=lambda c: (-self.max_boost.get(c, 0.0),
                               -self.df.get(c, 0), c)
            )
        return [(c, self.df[c]) for c in cands[:10]]

    def fuzzy_expansions(
        self, token: str, others: list[str]
    ) -> list[tuple[str, int]]:
        """≙ try_fuzzy, fuzzy.py:70-117: neighbors in generation
        order; with other meaningful tokens present only neighbors
        co-occurring with ALL of them survive (SINTER over p| sets),
        else plain dictionary presence."""
        nbrs = make_fuzzy_str(token, self.cfg.fuzzy_key_map)
        if others and self.have_pairs:
            sel = [
                n for n in nbrs
                if self.df.get(n, 0) > 0
                and (self.df[n] > self.cfg.common_threshold
                     or all(self.cooc(n, o) for o in others))
            ]
        else:
            sel = [n for n in nbrs if self.df.get(n, 0) > 0]
        return [(n, self.df[n]) for n in sel[:8]]


class OracleIndex(ExpansionMixin):
    def __init__(self, corpus: pd.DataFrame, cfg: EngineConfig):
        self.cfg = cfg
        corpus = corpus.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
        corpus["doc_index"] = np.arange(len(corpus), dtype=np.int64)
        self.docs = corpus
        # posting maps: token -> {doc: tf}, token -> {doc: boost}
        self.tf: dict[str, dict[int, int]] = defaultdict(dict)
        self.boost: dict[str, dict[int, float]] = defaultdict(dict)
        self.dl = np.zeros(len(corpus), dtype=np.int64)
        fields = [
            (f.name, f.boost, f.boost_col)
            for f in cfg.fields
            if f.name in corpus.columns
        ]
        # per-(token, doc) position lists in the concatenated field
        # token stream — same counter the index build stores in the
        # blocks' ``pos`` lists (phrase-mode positional matching)
        self.positions: dict[str, dict[int, list[int]]] = defaultdict(dict)
        syn, procs = cfg.synonyms, cfg.processors
        for row in corpus.itertuples(index=False):
            d = int(row.doc_index)
            imp = float(getattr(row, "importance", 0.0) or 0.0)
            fb: dict[str, float] = {}
            tfs: dict[str, int] = {}
            pos = 0
            segments = []
            for fi, (fname, fboost, bcol) in enumerate(fields):
                if bcol and bcol in corpus.columns:
                    # per-doc boost override (≙ callable boost)
                    bv = getattr(row, bcol, None)
                    if bv is not None and not (
                        isinstance(bv, float) and math.isnan(bv)
                    ):
                        fboost = float(bv)
                raw = getattr(row, fname)
                segments.append(
                    (
                        analyze_str(
                            raw if isinstance(raw, str) else "",
                            syn,
                            procs,
                        ),
                        fboost,
                    )
                )
                if fi == 0 and cfg.alt_text_field in corpus.columns:
                    # list-valued label variants right after the
                    # primary field (index build does the same)
                    alt = getattr(row, cfg.alt_text_field, None)
                    if alt is not None and not (
                        isinstance(alt, float) and math.isnan(alt)
                    ):
                        for v in alt:
                            segments.append(
                                (analyze_str(v or "", syn, procs), fboost)
                            )
            for toks, fboost in segments:
                if not toks:
                    continue
                w = cfg.default_boost / len(toks) * fboost
                for t in toks:
                    tfs[t] = tfs.get(t, 0) + 1
                    fb[t] = max(fb.get(t, 0.0), w)
                    self.positions[t].setdefault(d, []).append(pos)
                    pos += 1
            self.dl[d] = pos
            for t, c in tfs.items():
                self.tf[t][d] = c
                # engine stores boost as float32 in parquet
                self.boost[t][d] = float(
                    np.float32(fb[t] + imp * cfg.importance_weight)
                )
        self.df = {t: len(m) for t, m in self.tf.items()}
        # filter-set postings (f|name|value → {doc: 0.0}) — same
        # namespace as the engine's filter_postings (build.py)
        self.fboost: dict[str, dict[int, float]] = defaultdict(dict)
        for fname in cfg.filter_fields:
            if fname not in corpus.columns:
                continue
            for d, v in zip(corpus["doc_index"], corpus[fname]):
                if v is None or (isinstance(v, float) and math.isnan(v)):
                    continue
                # list-valued filter fields: one f| posting per
                # element (build.py filter_postings ArrayType path)
                vals = v if isinstance(v, (list, tuple, np.ndarray)) else [v]
                for el in vals:
                    if el is None:
                        continue
                    # trim, drop empty — same normalization as
                    # build.py filter_postings and the query side
                    vv = str(el).strip()
                    if vv:
                        self.fboost[f"f|{fname}|{vv}"][int(d)] = 0.0
        # the docs table stores each doc's length beside its fields
        corpus["dl"] = self.dl
        self.n_docs = len(corpus)
        self.avgdl = float(self.dl.sum()) / max(self.n_docs, 1)
        # prefix table (non-digit tokens, autocomplete.py:111-131)
        self.prefixes: dict[str, list[tuple[str, int]]] = defaultdict(list)
        for t, df in self.df.items():
            if t.isdigit():
                continue
            for p in edge_ngrams_str(t, cfg.min_edge_ngram, cfg.max_edge_ngram):
                self.prefixes[p].append((t, df))
        # per-token max posting boost (float32 parity with the
        # dictionary's max_boost column, dictionary_from_blocks)
        self.max_boost = {
            t: max(m.values()) if m else 0.0 for t, m in self.boost.items()
        }
        # co-occurrence pairs of NON-common word tokens (Zipf head
        # dropped, sorted distinct pairs): the independent reference
        # that serving's posting-list intersection is tested against
        self.have_pairs = cfg.build_pairs
        self.pairs: set[tuple[str, str]] = set()
        if self.have_pairs:
            per_doc: dict[int, list[str]] = defaultdict(list)
            for t, m in self.tf.items():
                if 0 < self.df[t] <= cfg.common_threshold:
                    for d in m:
                        per_doc[d].append(t)
            for ts in per_doc.values():
                ts.sort()
                for i, a in enumerate(ts):
                    for b in ts[i + 1:]:
                        self.pairs.add((a, b))

    def token_positions(self, token: str) -> dict[int, list[int]]:
        """doc → position list of one token (phrase mode)."""
        return self.positions.get(token, {})

    def doc(self, d: int):
        """Full row of one doc (supports ``row[col]`` / ``row.get``):
        the spec form that ``doc_values`` reads field by field."""
        return self.docs.iloc[d]

    def tf_boost_many(self, token: str, docs_sorted):
        """(tf, boost) arrays of one token over a sorted candidate
        array, tf 0 and boost 0.0 where the token misses the doc. The
        serving tier answers the same from one block-pruned gather
        (serving/local.py), value-identical."""
        tf, boost = self.tf.get(token, {}), self.boost.get(token, {})
        n = len(docs_sorted)
        return (
            np.fromiter((tf.get(int(d), 0) for d in docs_sorted), np.int64, n),
            np.fromiter(
                (boost.get(int(d), 0.0) for d in docs_sorted), np.float64, n
            ),
        )

    def cooc(self, a: str, b: str) -> bool:
        return a != b and (min(a, b), max(a, b)) in self.pairs

    def prefix_candidates(self, prefix: str, cap: int = 100) -> list[str]:
        """Raw df-desc candidates under a prefix (≙ SMEMBERS n|prefix
        capped at ``cap``, highest df first)."""
        cands = sorted(self.prefixes.get(prefix, []), key=lambda x: (-x[1], x[0]))
        return [t for t, _ in cands[:cap]]

    def cooc_probes(self, seed: int = 0) -> list[tuple[str, str]]:
        """Token pairs to check another index's ``cooc`` against this
        one: every co-occurring pair, as many sampled non-pairs of
        non-common word tokens, each common word token with every
        token of its first doc, a filter token with every word token
        of its first doc, an absent token and a token with itself.
        Each pair's order is drawn at random."""
        rng = random.Random(seed)
        words = sorted(self.tf)
        rare = [t for t in words if self.noncommon(t)]
        probes = sorted(self.pairs)
        non: set[tuple[str, str]] = set()
        for _ in range(20 * len(probes)):
            if len(non) == len(probes) or len(rare) < 2:
                break
            a, b = sorted(rng.sample(rare, 2))
            if (a, b) not in self.pairs:
                non.add((a, b))
        probes += sorted(non)
        firsts = [
            (t, min(self.tf[t])) for t in words if not self.noncommon(t)
        ] + [(f, min(self.fboost[f])) for f in sorted(self.fboost)[:1]]
        for t, d in firsts:
            probes += [(t, u) for u in words if d in self.tf[u]]
        if rare:
            absent = "q" * (1 + max(map(len, self.df)))
            probes += [(absent, rare[0]), (rare[0], absent), (rare[0], rare[0])]
        return [p if rng.random() < 0.5 else p[::-1] for p in probes]


class SpecSearch:
    """Per-query search flow over an OracleIndex-shaped index object:
    planning, collection rounds, relaxation, relation extrapolation,
    cream early-termination, scoring.  The serving tier
    (serving/local.py) subclasses this and overrides three kernels
    with numpy twins: ``run_gids`` (collection), ``phrase_candidates``
    (phrase matches) and ``_score_rank`` (BM25 fold, tie-break and
    render, returning typed columns that ``frame`` turns into the
    same frame). Planning, rounds, relaxation, cream and cliques are
    shared, and the loops kept here are the oracle the twins are
    tested bit-equal against, so serving, the Spark engine that runs
    it in tasks and this oracle cannot drift in semantics."""

    def __init__(self, index, cfg: EngineConfig):
        self.index = index
        self.cfg = cfg
        # plan of the most recent query (see QueryPlan; read by EXPLAIN)
        self.last_plan: QueryPlan | None = None

    # -- hot kernel (overridable) ------------------------------------------
    def run_gids(
        self,
        groups: dict[int, list[str]],
        group_dfs: dict[int, int],
        gids: list[int],
        bucket_limit: int,
        use_scan: bool = True,
    ) -> list[int]:
        """Conjunctive group match + Σboost top-bucket_max (same
        spec incl. manual_scan, lua/manual_scan.lua)."""
        index, cfg = self.index, self.cfg
        scan_docs = None
        if use_scan and all(
            group_dfs.get(g, 0) > cfg.intersect_limit for g in gids
        ):
            sgid = min(gids, key=lambda g: (group_dfs.get(g, 0), g))
            sboost: dict[int, float] = {}
            for tok in groups[sgid]:
                for d, b in index.postings(tok).items():
                    if d not in sboost or b > sboost[d]:
                        sboost[d] = b
            ordered_s = sorted(sboost.items(), key=lambda kv: (-kv[1], kv[0]))
            scan_docs = {d for d, _ in ordered_s[: cfg.scan_limit]}
        match: dict[int, dict[int, float]] = {}  # doc -> gid -> gboost
        for gid in gids:
            for tok in groups[gid]:
                for d, b in index.postings(tok).items():
                    if scan_docs is not None and d not in scan_docs:
                        continue
                    slot = match.setdefault(d, {})
                    slot[gid] = max(slot.get(gid, -math.inf), b)
        hits = []
        for d, per_gid in match.items():
            if len(per_gid) >= len(gids):
                pre = 0.0
                for gid in sorted(per_gid):
                    pre += float(per_gid[gid])
                hits.append((-pre, d))
        hits.sort()
        return [d for _, d in hits[:bucket_limit]]

    # -- per-query flow ------------------------------------------------------
    def phrase_occurrences(self, seq: list[str]) -> dict[int, int]:
        """doc → number of consecutive-in-order occurrences of the
        analyzed token sequence (positional anchor intersection: a
        token at position p matching sequence offset o anchors a
        phrase start at p-o; the phrase occurs at every anchor all
        offsets share). Pure-dict spec; the serving tier overrides
        with a vectorized twin."""
        index = self.index
        per_doc: dict[int, set[int]] | None = None
        for off, t in enumerate(seq):
            cur = {
                d: {int(p) - off for p in ps}
                for d, ps in index.token_positions(t).items()
            }
            if per_doc is None:
                per_doc = cur
            else:
                per_doc = {
                    d: per_doc[d] & s for d, s in cur.items() if d in per_doc
                }
            per_doc = {d: s for d, s in per_doc.items() if s}
            if not per_doc:
                return {}
        return {d: len(s) for d, s in (per_doc or {}).items()}

    def phrase_candidates(
        self, seq: list[str], filter_groups: list[list[str]], bucket_limit: int
    ) -> list[int]:
        """Phrase candidate doc ids ordered (-occurrences, doc),
        constrained BEFORE the cap to the docs of every filter group
        (a group's docs: the union of its f| keys' postings).
        Pure-dict spec; the serving tier overrides with a twin that
        caches the ORDERED match arrays, so a repeat phrase pays a
        slice instead of re-sorting a possibly corpus-scale match
        map."""
        matched = self.phrase_occurrences(seq)
        for keys in filter_groups:
            fdocs = set().union(*(self.index.postings(k) for k in keys))
            matched = {d: c for d, c in matched.items() if d in fdocs}
        ordered = sorted(matched.items(), key=lambda kv: (-kv[1], kv[0]))
        return [d for d, _ in ordered[:bucket_limit]]

    def _one(self, q):
        """The ranked answer of one query, from ``_score_rank`` (here
        records, each with its ``rank``, best first); ``frame`` turns
        the answers of a whole call into one frame."""
        index, cfg = self.index, self.cfg
        is_phrase = bool(getattr(q, "phrase", False))
        seq = analyze_str(q.q, cfg.synonyms, cfg.processors)  # ordered, duplicates kept
        # filters: (gid, column, normalized values, f| keys), gids
        # FILTER_GID_BASE and up in sorted column order
        filters = []
        for fi, (fcol, vals) in enumerate(
            sorted((getattr(q, "filters", None) or {}).items())
        ):
            vs = normalize_filter_values(vals, cfg.max_filter_values)
            if vs:
                filters.append(
                    (FILTER_GID_BASE + fi, fcol, vs, [f"f|{fcol}|{v}" for v in vs])
                )
        # cold-path fan-out: read every query token's and filter key's
        # postings at once before the flow touches them one by one
        index.prefetch_tokens(seq + [k for *_, keys in filters for k in keys])
        seen: set[str] = set()
        toks = [t for t in seq if not (t in seen or seen.add(t))]
        groups: dict[int, list[str]] = {}
        group_dfs: dict[int, int] = {}
        meaningful: list[tuple[int, int, str]] = []
        for gid, tok in enumerate(toks):
            df = index.df.get(tok, 0)
            last = gid == len(toks) - 1
            if is_phrase:
                # phrase mode: no expansions ever — singleton groups
                # for scoring; a df-0 token just can't match
                groups[gid] = [tok]
                group_dfs[gid] = df
                if 0 < df <= cfg.common_threshold:
                    meaningful.append((df, gid, tok))
                continue
            if df == 0 or (getattr(q, "autocomplete", False) and last):
                exp: list[tuple[str, int]] = [(tok, df)] if df > 0 else []
                if getattr(q, "autocomplete", False) and last:
                    others = [t for t in toks[:-1] if index.noncommon(t)]
                    exp += index.prefix_expansions(tok, others)
                if not exp:
                    others_f = [
                        t for t in toks if t != tok and index.noncommon(t)
                    ]
                    exp = index.fuzzy_expansions(tok, others_f)
                if exp:
                    groups[gid] = [t for t, _ in exp]
                    group_dfs[gid] = min(d for _, d in exp)
                    meaningful.append((group_dfs[gid], gid, tok))
            elif df > cfg.common_threshold:
                groups[gid] = [tok]
                group_dfs[gid] = df
            else:
                groups[gid] = [tok]
                group_dfs[gid] = df
                meaningful.append((df, gid, tok))
        meaningful.sort(key=lambda x: (x[0], x[2]))
        order = [gid for _, gid, _ in meaningful[: cfg.max_meaningful]]
        candidates: set[int] = set()
        # EXPLAIN's view of this query; the filter groups and the
        # candidates below fill the same dicts and set
        self.last_plan = QueryPlan(groups, group_dfs, order, candidates)
        qf = fold_str(q.q)

        # no usable word tokens -> abort guard (collectors.py:10-17)
        if not groups:
            return self._score_rank(q, qf, groups, filters, candidates)
        filter_gids: list[int] = []
        for gid, _, _, keys in filters:
            groups[gid] = keys
            group_dfs[gid] = min(index.posting_count(k) for k in keys)
            filter_gids.append(gid)

        done = False
        # per-query bucket limit = max(k, BUCKET_MAX) (reference
        # core.py:339 / issue #422)
        bucket_limit = max(cfg.bucket_max, int(getattr(q, "k", 0) or 0))

        cream_memo: dict[int, float] = {}

        def has_cream() -> bool:
            # ≙ core.py:400-419:
            # the metric is the reference result processors'
            # str_distance (autocomplete ladder / compare_ngrams per
            # query mode, results.py:60-104), not the tie-break key.
            # Memoized per doc: rounds re-test the same accumulated
            # candidates and the metric is deterministic per query.
            # The labels of the docs not yet scored come from one
            # gather.
            ac = bool(getattr(q, "autocomplete", False))
            todo = [d for d in sorted(candidates) if d not in cream_memo]
            labels = dict(zip(todo, index.folded_labels(todo)))

            def _m(d: int) -> float:
                v = cream_memo.get(d)
                if v is None:
                    v = ref_string_score_best(qf, labels[d], ac)
                    cream_memo[d] = v
                return v

            return any(
                _m(d) >= cfg.match_threshold for d in sorted(candidates)
            )

        def removal_order() -> list[int]:
            # ≙ collectors.py:127-131
            return sorted(
                order,
                key=lambda g: (
                    1 if groups[g][0].isdigit() else 0,
                    group_dfs.get(g, 0),
                ),
                reverse=True,
            )

        if is_phrase:
            # candidates = positional phrase matches, filter-set
            # constrained BEFORE the cap, ordered (-occurrences, doc)
            if seq and all(index.df.get(t, 0) > 0 for t in seq):
                candidates.update(self.phrase_candidates(
                    seq, [groups[g] for g in filter_gids], bucket_limit
                ))
            done = True

        for round_no in (1, 3, 4):
            if done:
                break
            if round_no >= 3 and candidates and has_cream():
                done = True
                break
            variants: list[list[int]] = []
            if round_no == 1:
                # meaningful conjunction or commons fallback
                # (only_commons, collectors.py:20-65)
                gids = order if order else [
                    g for g in sorted(groups) if g < FILTER_GID_BASE
                ]
                if gids:
                    variants = [gids]
            elif round_no == 3 and len(order) > 1:
                # remove-1 relaxation (collectors.py:115-137 mirror)
                n_tok = len([g for g in groups if g < FILTER_GID_BASE])
                smt = math.ceil(2.0 / 3.0 * n_tok)
                if not candidates or len(order) - 1 > smt:
                    variants = [
                        [g for g in order if g != r] for r in removal_order()
                    ]
            elif round_no == 4 and len(order) > 3 and not candidates:
                rm = removal_order()
                for i, a in enumerate(rm):
                    for b2 in rm[i + 1:]:
                        variants.append(
                            [g for g in order if g not in (a, b2)]
                        )
            for gids in variants:
                if not gids:
                    continue
                room = max(0, bucket_limit - len(candidates))
                if room == 0:
                    break
                ordered = self.run_gids(
                    groups, group_dfs, gids + filter_gids, bucket_limit
                )
                candidates.update(ordered[:room])
            if variants and len(candidates) >= cfg.bucket_min:
                done = True

        # round 5: relation extrapolation (Q13, collectors.py:151-214)
        if not done and candidates and has_cream():
            done = True
        if not done and len(order) >= 3:
            from ..query.cliques import ordered_cliques

            r = {g: groups[g][0] for g in order}
            edges = set()
            for i in order:
                for j in order:
                    if i < j:
                        ta, tb = r[i], r[j]
                        if (
                            0 < index.df.get(ta, 0) <= cfg.common_threshold
                            and 0 < index.df.get(tb, 0) <= cfg.common_threshold
                            and index.any_shared_docs(ta, tb)
                        ):
                            edges.add((i, j))
            for clique in ordered_cliques(order, edges, group_dfs):
                if len(candidates) >= cfg.bucket_min:
                    break
                ordered = self.run_gids(
                    groups, group_dfs, list(clique) + filter_gids,
                    bucket_limit, use_scan=False,
                )
                room = max(0, bucket_limit - len(candidates))
                candidates.update(ordered[:room])

        return self._score_rank(q, qf, groups, filters, candidates)

    def _score_rank(
        self,
        q,
        qf: str,
        groups: dict[int, list[str]],
        filters: list[tuple],
        candidates: set[int],
    ) -> list[dict]:
        """Scoring over the FULL group set, tie-break and render: the
        ranked records of one query, best first, each with its
        ``rank``. ``qf`` is the folded query; ``filters`` are the
        query's ``(gid, column, values, keys)``. The serving tier
        overrides this with an array twin (``FastSearch``) that
        returns the same rows as typed columns."""
        index, cfg = self.index, self.cfg
        k1, b = BM25_K1, BM25_B
        n_docs, avgdl = index.n_docs, index.avgdl
        recs = []
        cand_sorted = sorted(candidates)
        # one bulk (tf, boost) gather per scoring token over the whole
        # candidate array — the inner fold below reads positions from
        # these instead of per-(token, doc) point lookups, with the
        # identical scalar float path (gather is just data movement)
        cand_arr = np.array(cand_sorted, dtype=np.int64)
        gathered: dict[tuple[int, str], tuple] = {}
        if len(cand_arr):
            for gid in sorted(groups):
                if gid >= FILTER_GID_BASE:
                    continue
                for tok in groups[gid]:
                    gathered[(gid, tok)] = index.tf_boost_many(tok, cand_arr)
        # the fold reads importance, the length and the filter fields:
        # one column gather each over the candidate array
        fcols = [
            (index.doc_values(col, cand_arr), set(vs))
            for _, col, vs, _ in filters
        ]
        imps = index.doc_values("importance", cand_arr, default=0.0)
        dls = index.doc_values("dl", cand_arr)
        if cfg.scorer == "reference":
            ref_labels = index.folded_labels(cand_arr)
        for ci, d in enumerate(cand_sorted):
            ok = True
            for fvals, vs in fcols:
                dv = fvals[ci]
                # list-valued field matches when ANY element matches
                els = dv if isinstance(dv, (list, tuple, np.ndarray)) else [dv]
                if not any(
                    el is not None and str(el).strip() in vs for el in els
                ):
                    ok = False
            if not ok:
                continue
            importance = float(imps[ci] or 0.0)
            dl = float(dls[ci])
            score = 0.0
            boost_sum = 0.0
            matched_any = False
            for gid in sorted(groups):
                if gid >= FILTER_GID_BASE:
                    continue  # filter groups never score
                tf = 0
                dfm = None
                gboost = None
                for tok in groups[gid]:
                    g_tf, g_b = gathered[(gid, tok)]
                    tfv = int(g_tf[ci])
                    if tfv:
                        tf += tfv
                        tdf = index.df[tok]
                        dfm = tdf if dfm is None else min(dfm, tdf)
                        tb = float(g_b[ci])
                        gboost = tb if gboost is None else max(gboost, tb)
                if tf == 0:
                    continue
                matched_any = True
                idf = math.log(1.0 + (float(n_docs) - dfm + 0.5) / (dfm + 0.5))
                tfn = tf * (k1 + 1.0) / (tf + k1 * ((1.0 - b) + b * dl / avgdl))
                score += idf * tfn
                boost_sum += float(gboost)
            if not matched_any:
                continue
            if cfg.scorer == "reference":
                score = ref_fold_score(
                    importance,
                    ref_string_score_best(
                        qf, ref_labels[ci],
                        bool(getattr(q, "autocomplete", False)),
                    ),
                    cfg.importance_weight,
                )
                if score < cfg.min_score:
                    continue
            recs.append(
                {
                    "qid": q.qid,
                    "doc_index": d,
                    "score": score,
                    # str_distance filled in one batched DP below
                    "str_distance": 0.0,
                    "boost": boost_sum,
                    "importance": importance,
                }
            )
        if recs:
            # deterministic secondary sort key, one vectorized DP
            # (bit-equal to per-pair str_distance_key) — computed ONLY
            # for candidates whose score reaches the k-th score: the
            # primary sort key is score, so a candidate strictly below
            # the k-th score can never enter the top-k whatever its
            # tie-break, and the DP is the scoring stage's single
            # largest cost at ~10× more candidates than k
            k = int(getattr(q, "k", 0) or 0)
            if 0 < k < len(recs):
                sc = np.array([r["score"] for r in recs], dtype=np.float64)
                kth = np.partition(sc, len(sc) - k)[len(sc) - k]
                sel = np.flatnonzero(sc >= kth)
            else:
                sel = np.arange(len(recs))
            dists = str_distance_keys_multi(
                qf, index.folded_labels([recs[i]["doc_index"] for i in sel])
            )
            for i, dv in zip(sel, dists):
                recs[i]["str_distance"] = dv
        if not recs:
            return []
        # total order (score desc, str_distance desc, boost desc,
        # importance desc, doc_index asc) via one lexsort on the key
        # arrays (a per-query sort_values over a 5-key candidate-sized
        # DataFrame was a measured chunk of warm serving latency)
        order = np.lexsort((
            np.array([r["doc_index"] for r in recs], dtype=np.int64),
            -np.array([r["importance"] for r in recs], dtype=np.float64),
            -np.array([r["boost"] for r in recs], dtype=np.float64),
            -np.array([r["str_distance"] for r in recs], dtype=np.float64),
            -np.array([r["score"] for r in recs], dtype=np.float64),
        ))[: q.k]
        top = [recs[i] for i in order]
        # render fields (≙ the reference's doc fetch) so serving/HTTP
        # can answer without a second fetch: one gather per field over
        # the returned docs, in rank order
        docs = [rec["doc_index"] for rec in top]
        cols = [
            (name, index.doc_values(name, docs, default=default))
            for name, default in _RENDER_FIELDS
        ]
        for i, rec in enumerate(top):
            for name, vals in cols:
                rec[name] = vals[i]
            rec["turn_idx"] = int(rec["turn_idx"])
            rec["rank"] = i + 1
        return top

    def frame(self, ranked: list) -> pd.DataFrame:
        """One result frame of the ``_one`` answers of a call."""
        return result_frame([r for recs in ranked for r in recs])

    def search(self, queries: list) -> pd.DataFrame:
        return self.frame([self._one(q) for q in queries])


def result_frame(records: list[dict]) -> pd.DataFrame:
    """One result frame (``_RESULT_COLUMNS`` then ``rank``) of the
    ranked records of every query of a call, built once: a frame per
    query and a concat cost more than the records themselves."""
    return pd.DataFrame(records, columns=_RESULT_COLUMNS + ["rank"])


def oracle_search(
    index: OracleIndex,
    queries: list,  # objects with qid, q, k, autocomplete, filters
    cfg: EngineConfig,
) -> pd.DataFrame:
    return SpecSearch(index, cfg).search(queries)
