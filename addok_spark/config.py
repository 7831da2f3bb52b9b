"""Engine configuration.

Mirrors the *capabilities* of the reference config
(``/root/reference/addok/config/default.py``) re-expressed for a
distributed PySpark engine over transcript tables:

- ``fields``: indexed text columns with per-field boost
  (reference ``FIELDS``, default.py:128-138 — ``name`` boost=4).
- ``default_boost`` / ``importance_weight``: the reference weight
  formula ``DEFAULT_BOOST / len(tokens) * field_boost +
  importance * IMPORTANCE_WEIGHT`` (``addok/helpers/index.py:30-37,
  121-141``).
- ``common_threshold`` / ``intersect_limit``: the cost-model
  thresholds steering collection strategy (default.py:30-33). At
  Spark scale ``common_threshold`` doubles as the *skew boundary*:
  tokens above it get salted / block-split aggregation.
- ``bucket_min`` / ``bucket_max``: candidate-bucket bounds
  (default.py:17-18).
- BM25 parameters (``BM25_K1``, ``BM25_B``): the north-rule scoring
  model that generalizes the reference's static zset score. Module
  constants, not fields: every scorer (serving, oracle, the Spark
  pipelines) reads these two, and the build records them in
  ``meta.json``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .functions.text import FUZZY_KEY_MAP as _FUZZY_KEY_MAP

BM25_K1, BM25_B = 1.2, 0.75


@dataclass(frozen=True)
class FieldSpec:
    name: str
    boost: float = 1.0
    # reference allows per-field null constraints (default.py:128-138)
    allow_null: bool = True
    # per-DOCUMENT boost override: name of a numeric column whose
    # value replaces the static ``boost`` for this field (null falls
    # back to ``boost``) — the Spark-idiomatic analog of the
    # reference's callable boost (``{"key": ..., "boost": lambda
    # doc: ...}``, tests/test_index_utils.py:247-263): a callable
    # can't vectorize, a column expression can
    boost_col: str | None = None
    # reference-parity escape hatch: the callable itself
    # (``boost(doc)`` → number, called with the document as a dict).
    # The build materializes it into a generated boost column via an
    # Arrow-batched pandas UDF before analysis (index/build.py:
    # materialize_callable_boosts) — the per-row Python call is
    # inherent to a Python-callable knob; everything downstream stays
    # on the vectorized boost_col path. Prefer boost_col where the
    # boost is expressible as a column. Takes precedence over
    # boost_col when both are set. Cloudpickled with the UDF closure,
    # so config-module lambdas work.
    boost_fn: object | None = None


@dataclass
class EngineConfig:
    # --- fields / weights (reference addok/helpers/index.py:30-37) ---
    fields: tuple[FieldSpec, ...] = (
        FieldSpec("text", boost=1.0),
        FieldSpec("tool", boost=4.0),  # analog of addok `name` boost=4
    )
    default_boost: float = 1.0
    importance_weight: float = 0.1  # addok/helpers/results.py:51-57
    # optional array<string> column carrying extra label VARIANTS of
    # the primary (first) field — ≙ the reference's list-valued name
    # (index_document list handling, tests/test_index_utils.py:170-201,
    # and best-of-labels scoring, results.py:80-104 over `labels`).
    # Each variant is tokenized and weighted independently
    # (default_boost / n_variant_tokens * field_boost, max per token)
    # and scoring compares the query against the BEST variant.
    alt_text_field: str = "alt_texts"
    # filterable columns — indexed as f|name|value doc-set postings in
    # the SAME blocks table (≙ the reference FILTERS config,
    # default.py:161, and f| sets, helpers/keys.py:16-17), so query
    # filters constrain candidate COLLECTION, not just post-scoring
    filter_fields: tuple[str, ...] = ("role", "tool")
    # HTTP filter values additionally split on this separator inside
    # each query-string parameter (≙ FILTERS_MULTI_VALUE_SEPARATOR,
    # reference default.py:24, http/base.py:88-122). None disables
    # splitting: only repeated parameters produce multiple values.
    filters_multi_value_separator: str | None = " "

    # --- tokenizer / analyzer ---
    min_edge_ngram: int = 3   # default.py:45
    max_edge_ngram: int = 20  # default.py:46
    query_max_length: int = 200  # default.py:41
    # HTTP query logging (≙ LOG_DIR / LOG_QUERIES / LOG_NOT_FOUND /
    # SLOW_QUERIES, default.py:164-168): tab-separated lines in
    # midnight-rotated files under log_dir; slow_queries is False or
    # a threshold in ms
    log_dir: str | None = None
    log_queries: bool = False
    log_not_found: bool = False
    slow_queries: int | bool = False
    synonyms: dict[str, str] = field(default_factory=dict)
    # extra token-processor chain appended to the analyzer (fold →
    # tokenize → synonymize → these), each ``list[str] ->
    # iterable[str]`` — the reference's pluggable PROCESSORS pipeline
    # (default.py:51-56, helpers/__init__.py:40-61). Entries are
    # callables or dotted import paths ("pkg.mod.func"); dotted paths
    # pickle cleanly into executor UDF closures. The one-analyzer
    # invariant (B9) applies them identically at index, query, oracle
    # and serving time.
    token_processors: tuple = ()
    # keyboard-adjacency map limiting fuzzy substitutions; defaults to
    # the reference's AZERTY FUZZY_KEY_MAP (default.py:172-200). Set
    # to None for full-alphabet substitutions.
    fuzzy_key_map: dict[str, str] | None = field(
        default_factory=lambda: dict(_FUZZY_KEY_MAP)
    )

    # --- collection strategy thresholds (default.py:17-33) ---
    bucket_min: int = 10
    bucket_max: int = 100
    # cap on OR-values per filter field (≙ MAX_FILTER_VALUES,
    # reference default.py:27, core.py:160-176: first N uniques in
    # appearance order, then sorted)
    max_filter_values: int = 10
    common_threshold: int = 10_000
    intersect_limit: int = 100_000
    scan_limit: int = 500  # manual_scan probe size, lua/manual_scan.lua
    max_meaningful: int = 10  # addok/core.py:274
    match_threshold: float = 0.9  # MATCH_THRESHOLD, default.py:36
    min_score: float = 0.1  # default.py:38
    # --- knobs no search path reads ---
    # They change no result. They stay only because the frozen bench.py
    # sets or reads them: the four WAND / phrase knobs in its
    # _wand_at_scale and _phrase_ab sections, and they go together with
    # those two sections; build_prefixes in its build runs (perfbench's
    # core build sets it too).
    wand_enabled: bool = True  # set by bench.py _wand_at_scale
    wand_min_df: int = 10_000  # read by bench.py _wand_at_scale
    wand_min_postings: int = 20_000_000  # set and read by _wand_at_scale
    phrase_rare_prune: bool = True  # set by bench.py _phrase_ab
    # autocomplete reads the term dictionary; no prefix table is built
    build_prefixes: bool = True

    # --- scoring model ---
    # "bm25" (north_rule default) or "reference": the reference's
    # Σscore/Σceiling fold over importance + string distance
    # (core.py:92-101, results.py:51-104), incl. the autocomplete
    # equals/startswith/contains ladder and the MIN_SCORE cutoff —
    # lets the reference's golden search scenarios replay 1:1
    scorer: str = "bm25"

    # --- distributed build knobs ---
    # postings are blocked by coarse doc ranges so no single reducer
    # ever owns a full hot-token posting list (SURVEY.md §7.4).
    doc_bucket_bits: int = 16      # docs per range-bucket = 2^bits
    posting_block_size: int = 4096  # max postings per stored block row
    pbucket_shift: int = 6         # buckets per partition dir = 2^shift
    build_partitions: int = 32
    # whether autocomplete and fuzzy expansions are co-occurrence-
    # filtered (≙ the reference deferring its pair index during mass
    # import, batch.py:44). No table is built either way: co-occurrence
    # intersects posting lists, and meta.json records the choice
    build_pairs: bool = True
    # snapshots retained after an atomic publish (CURRENT.json swap):
    # the published one plus keep-1 predecessors, so readers pinned to
    # the previous snapshot finish their queries before GC reclaims it
    snapshot_keep: int = 2

    @property
    def processors(self) -> tuple:
        """token_processors with dotted paths resolved to callables."""
        from .functions.text import resolve_processors

        return resolve_processors(self.token_processors)

    @property
    def field_names(self) -> tuple[str, ...]:
        return tuple(f.name for f in self.fields)

    @property
    def boosts(self) -> dict[str, float]:
        return {f.name: f.boost for f in self.fields}


DEFAULT = EngineConfig()


# -- reference-style config module loading -----------------------------------
# The reference configures through a Python module named by
# ADDOK_CONFIG_MODULE (addok/config/__init__.py:32-96): UPPERCASE
# attributes override defaults. A reference user switching engines
# keeps that workflow: point ADDOK_SPARK_CONFIG (or --config) at the
# same kind of file and the documented knobs map onto EngineConfig.

# reference name → EngineConfig field for names that differ beyond
# lowercasing (everything else maps by str.lower())
_REF_KEY_MAP = {
    "MIN_EDGE_NGRAMS": "min_edge_ngram",
    "MAX_EDGE_NGRAMS": "max_edge_ngram",
    "FILTERS": "filter_fields",
    "PROCESSORS_PYPATHS": "token_processors",
}

# reference knobs with no distributed analog (geo/Redis/plugin wiring)
_REF_IGNORED = {
    "REDIS", "GEOHASH_PRECISION", "GEO_DISTANCE_WEIGHT", "ID_FIELD",
    "EXTRA_FIELDS", "ATTRIBUTION", "LICENCE", "URL",
    "QUERY_PROCESSORS_PYPATHS", "SEARCH_PREPROCESSORS_PYPATHS",
    "BATCH_PROCESSORS_PYPATHS", "BATCH_FILE_LOADER_PYPATH",
    "BATCH_CHUNK_SIZE", "BATCH_WORKERS", "RESULTS_COLLECTORS_PYPATHS",
    "SEARCH_RESULT_PROCESSORS_PYPATHS",
    "REVERSE_RESULT_PROCESSORS_PYPATHS", "RESULTS_FORMATTERS_PYPATHS",
    "INDEXERS_PYPATHS", "DOCUMENT_SERIALIZER_PYPATH",
    "DOCUMENT_STORE_PYPATH", "HOUSENUMBERS_FIELD",
}


def config_from_module(path: str, **overrides) -> "EngineConfig":
    """Build an EngineConfig from a reference-style Python config
    file: UPPERCASE attributes become fields (``_REF_KEY_MAP`` covers
    renames, ``FIELDS`` dicts become FieldSpec, ``SYNONYMS_PATHS``
    files are read); lowercase EngineConfig names work directly.
    Unknown keys raise (a typo'd knob silently doing nothing is the
    worst failure mode a config file can have); reference knobs with
    no distributed analog are accepted and ignored."""
    import dataclasses
    import importlib.util

    spec = importlib.util.spec_from_file_location("_addok_spark_cfg", path)
    if spec is None or spec.loader is None:
        raise ValueError(f"cannot load config module {path!r}")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    known = {f.name for f in dataclasses.fields(EngineConfig)}
    kw: dict = {}
    for name in dir(mod):
        if name.startswith("_"):
            continue
        val = getattr(mod, name)
        import types

        if isinstance(val, types.ModuleType):
            continue  # `import os` at the top of a config file
        if callable(val) and not isinstance(val, (list, tuple, dict)):
            continue
        if name in _REF_IGNORED:
            continue
        if not name.isupper() and name not in known:
            # lowercase helpers (`base = "/data"`) are the config
            # author's business; only UPPERCASE knobs must resolve
            continue
        if name == "LOG_DIR":
            kw["log_dir"] = str(val)
            continue
        if name == "FIELDS":
            # `boost=lambda doc: ...` (tests/test_index_utils.py:
            # 247-263) maps to FieldSpec.boost_fn — materialized into
            # a generated boost column at build time, never silently
            # dropped (a knob doing nothing is this module's worst
            # failure mode)
            kw["fields"] = tuple(
                FieldSpec(
                    name=f["key"],
                    boost=(
                        1.0
                        if callable(f.get("boost", 1.0))
                        else float(f.get("boost", 1.0))
                    ),
                    allow_null=bool(f.get("null", True)),
                    boost_col=f.get("boost_col"),
                    boost_fn=(
                        f["boost"] if callable(f.get("boost")) else None
                    ),
                )
                for f in val
            )
            continue
        if name == "SYNONYMS_PATHS":
            from .functions.text import load_synonyms

            syn: dict[str, str] = {}
            for p in val:
                with open(p) as fh:
                    syn.update(load_synonyms(fh))
            kw["synonyms"] = syn
            continue
        key = _REF_KEY_MAP.get(name, name.lower() if name.isupper() else name)
        if key not in known:
            raise ValueError(
                f"unknown config key {name!r} in {path!r} "
                f"(no EngineConfig field {key!r})"
            )
        if key == "filter_fields" or key == "token_processors":
            val = tuple(val)
        kw[key] = val
    kw.update(overrides)
    return EngineConfig(**kw)
