"""Batched search over Spark: the serving tier's search flow, run in tasks.

``SearchEngine.search`` validates a batch of queries on the driver,
turns it into a small query DataFrame and ``mapInPandas``-es each
partition through a ``LocalSearchEngine`` (``serving/local.py``) over
the engine's pinned snapshot. Spark spreads whole Arrow batches of
queries over executors; each executor answers its slice with
``FastSearch``, which inherits the relaxation flow — plan, collection
rounds, token drop, cream, relation round — from the oracle's
``SpecSearch`` (``oracle/bm25_oracle.py``) and overrides its
collection, phrase and scoring kernels with numpy twins tested
bit-equal to the spec loops. Spark, serving and oracle answers
therefore come from one flow.

Reference mapping of that flow: collection ≙ the RESULTS_COLLECTORS
chain (``addok/helpers/collectors.py``, fuzzy ``addok/fuzzy.py:59-114``,
autocomplete ``addok/autocomplete.py:79-108``), scoring ≙ the
SEARCH_RESULT_PROCESSORS with BM25 and deterministic tie-breaks
``(score desc, str_distance desc, boost desc, importance desc,
doc_index asc)`` (SURVEY.md §4.2).
"""

from __future__ import annotations

import hashlib
import json
import time
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_type

from ..config import EngineConfig
# part of this module's surface: perfbench/tracing.py wraps it by name
from ..functions.text import analyze_str  # noqa: F401
from ..index.build import IndexPaths, open_dataset


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
    ``cap`` uniques, then sort. The search flow normalizes each
    filter once per query; its f|field|value keys, their prefetch and
    the scoring fold's value check all read that one result."""
    uniq = list(
        dict.fromkeys(s for s in (str(v).strip() for v in (vals or [])) if s)
    )
    return sorted(uniq[:cap])


_QUERY_SCHEMA = (
    "qid string, q string, k int, autocomplete boolean, filters string,"
    " phrase boolean"
)
_RESULT_COLUMNS = [
    "qid", "rank", "conv_id", "turn_idx", "role", "tool", "text",
    "score", "str_distance", "importance", "doc_index",
]
# computed columns; the rest carry the docs table's own types
_COMPUTED_TYPES = {
    "qid": "string", "rank": "int", "score": "double",
    "str_distance": "double", "importance": "double", "doc_index": "long",
}

# serving engines of this Python worker, by (root, version, build +
# config fingerprint); a reused worker keeps them across tasks and
# search() calls. A few snapshots at most: CDC publishes new versions.
_ENGINES: dict[tuple, object] = {}
_MAX_ENGINES = 4


def _local_engine(root: str, version: int, key: str, cfg: EngineConfig):
    eng = _ENGINES.get((root, version, key))
    if eng is None:
        from ..serving.local import LocalSearchEngine

        while len(_ENGINES) >= _MAX_ENGINES:
            _ENGINES.pop(next(iter(_ENGINES)))
        eng = LocalSearchEngine(IndexPaths(Path(root), version), cfg)
        _ENGINES[(root, version, key)] = eng
    return eng


class SearchEngine:
    """Spark batch search over one pinned snapshot.

    ``search`` returns a lazy DataFrame; the queries run when it is
    collected, one ``LocalSearchEngine.search`` call per Arrow batch.
    ``last_trace`` times the driver side of the last call (validation
    and plan construction); per-query timings of the executed search
    come from ``LocalSearchEngine.last_trace`` (see ``explain_search`` in
    ``shell.py``)."""

    def __init__(self, spark: SparkSession, paths: IndexPaths | str, cfg: EngineConfig):
        self.spark = spark
        self.cfg = cfg
        # pin to the snapshot published right now: every task reads
        # ONE consistent index version even while CDC batches publish
        # new snapshots concurrently
        self.paths = (
            paths if isinstance(paths, IndexPaths) else IndexPaths(Path(paths))
        ).pin()
        # a missing or damaged snapshot fails here, not inside a task
        meta = self.paths.meta.read_text()
        docs = open_dataset(self.paths, "docs").schema
        types = {
            f.name: from_arrow_type(f.type).simpleString() for f in docs
        } | _COMPUTED_TYPES
        self._schema = ", ".join(
            f"{c} {types.get(c, 'string')}" for c in _RESULT_COLUMNS
        )
        # an index rebuilt in place keeps its (root, version): the
        # build's meta.json tells the two apart, the config tells
        # engines over one snapshot apart
        self._key = hashlib.sha1((meta + repr(cfg)).encode()).hexdigest()

    def search(self, queries: list[Query]) -> DataFrame:
        """Batched search: DataFrame (qid, rank, conv_id, turn_idx,
        role, tool, text, score, str_distance, importance, doc_index)
        ordered by (qid, rank)."""
        t0 = time.perf_counter()
        cfg = self.cfg
        for q in queries:
            if len(q.q) > cfg.query_max_length:
                raise ValueError(f"query too long ({len(q.q)} > {cfg.query_max_length})")
        # sorted by qid and sliced contiguously: partition i's answers
        # all precede partition i+1's, so sorting within partitions
        # orders the whole result without a shuffle
        rows = sorted(
            (
                (q.qid, q.q, int(q.k), bool(q.autocomplete),
                 json.dumps(q.filters or {}, sort_keys=True), bool(q.phrase))
                for q in queries
            ),
            key=lambda r: r[0],
        )
        sc = self.spark.sparkContext
        n_parts = max(1, min(len(rows), sc.defaultParallelism))
        qdf = self.spark.createDataFrame(sc.parallelize(rows, n_parts), _QUERY_SCHEMA)
        root, version, key = str(self.paths.root), self.paths.version, self._key

        def run(batches):
            eng = _local_engine(root, version, key, cfg)
            for pdf in batches:
                got = eng.search([
                    Query(qid=r.qid, q=r.q, k=int(r.k),
                          autocomplete=bool(r.autocomplete),
                          filters=json.loads(r.filters), phrase=bool(r.phrase))
                    for r in pdf.itertuples(index=False)
                ])
                if len(got):
                    yield got[_RESULT_COLUMNS]

        out = qdf.mapInPandas(run, self._schema).sortWithinPartitions("qid", "rank")
        self.last_trace = [{
            "stage": "plan_queries",
            "seconds": round(time.perf_counter() - t0, 3),
            "queries": len(queries),
        }]
        self.last_metrics = {"queries": len(queries), "partitions": n_parts}
        return out
