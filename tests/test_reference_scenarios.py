"""Golden behavioral scenarios ported from the reference's search
suite (``/root/reference/tests/test_search.py``), replayed under the
reference-semantics scorer (``EngineConfig(scorer="reference")``:
Σscore/Σceiling fold over importance + string distance,
core.py:92-101 / results.py:51-104). Documents are transcript rows
whose ``text`` plays the reference's label role.
"""

from pathlib import Path

import pandas as pd
import pytest

from addok_spark.config import EngineConfig, FieldSpec
from addok_spark.index.build import build_index
from addok_spark.oracle.bm25_oracle import OracleIndex, oracle_search
from addok_spark.query.engine import Query, SearchEngine
from addok_spark.serving.local import ParquetIndex

DOCS = [
    # (conv_id, text, importance)
    ("doc-conflans", "Conflans", 0.0),
    ("doc-andresy", "rue d'Andrésy", 0.0),
    ("doc-paris-st-mande", "avenue de paris saint-mandé", 0.0185),
    ("doc-st-mande-paris", "avenue de saint-mandé paris", 0.0463),
    ("doc-rue-paris", "rue de paris", 1.0),
    ("doc-rue-paris-twin", "rue de paris", 0.2),
    ("doc-long", "w99990 " + " ".join(f"filler{i}" for i in range(40)), 0.0),
    ("doc-lille-douai", "rue de Lille Douai", 0.0),
    ("doc-douai-lille", "rue de Douai Lille", 0.0),
    ("doc-city-andresy", "Andrésy", 0.0),
]


@pytest.fixture(scope="module")
def setup(spark, tmp_index_root):
    pdf = pd.DataFrame(
        {
            "conv_id": [d[0] for d in DOCS],
            "turn_idx": 0,
            "role": "user",
            "text": [d[1] for d in DOCS],
            "tool": None,
            "ts": pd.Timestamp("2026-01-01"),
            "importance": [d[2] for d in DOCS],
        }
    )
    cfg = EngineConfig(
        scorer="reference",
        fields=(FieldSpec("text", 1.0),),
        build_partitions=2,
        doc_bucket_bits=4,
        posting_block_size=16,
        build_pairs=False,
    )
    out = str(Path(tmp_index_root) / "ref_scenarios")
    paths = build_index(spark, spark.createDataFrame(pdf), cfg, out)
    from addok_spark.serving.local import LocalSearchEngine

    return (
        SearchEngine(spark, paths, cfg),
        OracleIndex(pdf, cfg),
        cfg,
        LocalSearchEngine(paths, cfg),
    )


def _search(setup, q, **kw):
    engine, oracle, cfg = setup[:3]
    query = Query(qid="s", q=q, k=10, **kw)
    got = engine.search([query]).toPandas()
    want = oracle_search(oracle, [query], cfg)
    assert list(got["doc_index"]) == list(want["doc_index"]), (
        f"engine/oracle diverge for {q!r}:\n{got}\n{want}"
    )
    # the warm serving tier must replay reference-scorer semantics
    # identically over the same index files
    served = setup[3].search([query])
    assert list(served["doc_index"]) == list(want["doc_index"]), (
        f"serving/oracle diverge for {q!r}:\n{served}\n{want}"
    )
    return got


def test_should_match_name(setup):
    # test_search.py:5-12
    res = _search(setup, "Conflans")
    assert res.iloc[0]["conv_id"] == "doc-conflans"


def test_match_is_case_insensitive(setup):
    # test_search.py:15-18
    assert _search(setup, "conflans").iloc[0]["conv_id"] == "doc-conflans"


def test_match_with_and_without_accent(setup):
    # test_search.py:21-30: accented and unaccented forms match the
    # same docs (the exact-name city doc legitimately ranks first)
    r1 = _search(setup, "andrésy")
    r2 = _search(setup, "andresy")
    assert set(r1["conv_id"]) >= {"doc-andresy", "doc-city-andresy"}
    assert list(r1["conv_id"]) == list(r2["conv_id"])


def test_exact_name_beats_containing_name(setup):
    # test_search.py:33-37 (best_match): the doc whose whole label is
    # the query outranks the doc merely containing it
    res = _search(setup, "andresy")
    assert res.iloc[0]["conv_id"] == "doc-city-andresy"
    assert res.iloc[1]["conv_id"] == "doc-andresy"


def test_word_order_priority(setup):
    # test_search.py:602-617: the doc whose label IS the query wins
    r1 = _search(setup, "avenue de paris saint-mandé")
    assert r1.iloc[0]["conv_id"] == "doc-paris-st-mande"
    r2 = _search(setup, "avenue de saint-mandé paris")
    assert r2.iloc[0]["conv_id"] == "doc-st-mande-paris"


def test_word_order_priority_same_tokens(setup):
    # test_search.py:47-55 (best_match3): both docs carry the SAME
    # token set; only word order separates them — the bigram-multiset
    # distance must prefer the doc in query order
    assert _search(setup, "rue de lille douai").iloc[0]["conv_id"] == "doc-lille-douai"
    assert _search(setup, "rue de douai lille").iloc[0]["conv_id"] == "doc-douai-lille"


def test_score_is_not_greater_than_one(setup):
    # test_search.py:334-338: importance=1 + exact label → score == 1
    res = _search(setup, "rue de paris")
    assert res.iloc[0]["conv_id"] == "doc-rue-paris"
    assert res.iloc[0]["score"] == pytest.approx(1.0)
    assert (res["score"] <= 1.0 + 1e-12).all()


def test_importance_breaks_label_ties(setup):
    # identical labels → higher importance first (score_by_importance)
    res = _search(setup, "rue de paris")
    assert list(res["conv_id"][:2]) == ["doc-rue-paris", "doc-rue-paris-twin"]
    assert res.iloc[0]["score"] > res.iloc[1]["score"]


def test_min_score_cutoff(setup):
    # core.py:327-335: a match whose folded score < MIN_SCORE(0.1) is
    # dropped — one rare token inside a 41-token label scores ~0
    res = _search(setup, "w99990")
    assert len(res) == 0


def test_autocomplete_startswith_ladder(setup):
    # results.py:60-77: label startswith query → sub-score 0.9
    res = _search(setup, "rue de par", autocomplete=True)
    assert res.iloc[0]["conv_id"] == "doc-rue-paris"
    expected = (1.0 * 0.1 + 0.9) / 1.1
    assert res.iloc[0]["score"] == pytest.approx(expected)


def test_does_not_fail_without_usable_tokens(setup):
    # test_search.py:598-599
    engine = setup[0]
    assert len(engine.search([Query(qid="x", q="./.$*", k=5)]).toPandas()) == 0


# ---------------------------------------------------------------------------
# round-3 ports: fuzzy / synonym / autocomplete / commons / filter families
# (reference tests/test_search.py:58-140, 231-260, 417-524 portable subset)
# ---------------------------------------------------------------------------

def _mk(spark, tmp_index_root, name, texts_roles, **cfg_kw):
    rows = [tr if len(tr) == 3 else (*tr, None) for tr in texts_roles]
    pdf = pd.DataFrame(
        {
            "conv_id": [f"doc-{i}" for i in range(len(rows))],
            "turn_idx": 0,
            "role": [r for _, r, _ in rows],
            "text": [t for t, _, _ in rows],
            "tool": [tl for _, _, tl in rows],
            "ts": pd.Timestamp("2026-01-01"),
            "importance": 0.0,
        }
    )
    base = dict(
        scorer="reference",
        fields=(FieldSpec("text", 1.0),),
        build_partitions=2,
        doc_bucket_bits=4,
        posting_block_size=16,
        min_score=0.0,
    )
    base.update(cfg_kw)
    cfg = EngineConfig(**base)
    out = str(Path(tmp_index_root) / name)
    paths = build_index(spark, spark.createDataFrame(pdf), cfg, out)
    from addok_spark.serving.local import LocalSearchEngine

    return (
        SearchEngine(spark, paths, cfg),
        OracleIndex(pdf, cfg),
        cfg,
        LocalSearchEngine(paths, cfg),
    )


def _q(env, q, **kw):
    engine, oracle, cfg = env[:3]
    kw.setdefault("k", 10)
    query = Query(qid="s", q=q, **kw)
    got = engine.search([query]).toPandas()
    want = oracle_search(oracle, [query], cfg)
    g = list(got["doc_index"]) if "doc_index" in got.columns else []
    w = list(want["doc_index"]) if "doc_index" in want.columns else []
    assert g == w, f"engine/oracle diverge for {q!r}:\n{got}\n{want}"
    served = env[3].search([query])
    s = list(served["doc_index"]) if "doc_index" in served.columns else []
    assert s == w, f"serving/oracle diverge for {q!r}:\n{served}\n{want}"
    return got


@pytest.fixture(scope="module")
def fuzzy_env(spark, tmp_index_root):
    # FUZZY_KEY_MAP=None → full-alphabet edit-1 (test_search.py:58-62)
    return _mk(
        spark, tmp_index_root, "ref_fuzzy",
        [("Andrésy", "user")], fuzzy_key_map=None,
    )


def test_should_be_fuzzy_of_1_by_default(fuzzy_env):
    # test_search.py:58-62
    assert len(_q(fuzzy_env, "antresy")) == 1
    assert len(_q(fuzzy_env, "antresu")) == 0


def test_fuzzy_should_work_with_inversion(fuzzy_env):
    # test_search.py:65-67
    assert len(_q(fuzzy_env, "andreys")) == 1


def test_fuzzy_should_match_with_removal(fuzzy_env):
    # test_search.py:70-72
    assert len(_q(fuzzy_env, "andressy")) == 1


def test_synonyms_should_be_replaced(spark, tmp_index_root):
    # test_search.py:97-101
    env = _mk(
        spark, tmp_index_root, "ref_syn",
        [("boulevard des Fleurs", "user")],
        synonyms={"bd": "boulevard"},
    )
    assert len(_q(env, "bd")) == 1


@pytest.fixture(scope="module")
def ac_env(spark, tmp_index_root):
    return _mk(
        spark, tmp_index_root, "ref_ac",
        [("rue de Wambrechies Bondues", "user")],
    )


def test_should_do_autocomplete_on_last_term(ac_env):
    # test_search.py:92-95: a not-found non-last token is dropped;
    # only the LAST token autocompletes
    assert len(_q(ac_env, "avenue wambre", autocomplete=True)) == 1
    assert len(_q(ac_env, "wambre avenue", autocomplete=True)) == 0


MONNAIE_DOCS = [
    ("rue de la monnaie Vitry", "user"),
    ("rue de la monnaie Paris", "user"),
    ("rue de la monnaie Condom", "user"),
    ("la monnaye Saint-Loup", "user"),
    ("la monnaie ville", "tool"),
]


@pytest.fixture(scope="module")
def commons_env(spark, tmp_index_root):
    # COMMON_THRESHOLD=2 / INTERSECT_LIMIT=2 / BUCKET_MAX=3
    # (test_search.py:103-116)
    return _mk(
        spark, tmp_index_root, "ref_commons", MONNAIE_DOCS,
        common_threshold=2, intersect_limit=2, bucket_max=3,
    )


def test_should_return_results_if_only_common_terms(commons_env):
    # test_search.py:103-116: all query tokens common → the
    # only-commons fallback still returns the exact-phrase docs
    got = _q(commons_env, "rue de la monnaie")
    ids = set(got["conv_id"])
    assert {"doc-0", "doc-1", "doc-2"} <= ids
    assert "doc-3" not in ids


def test_should_brute_force_if_common_terms_above_limit(spark, tmp_index_root):
    # test_search.py:121-134: same answers when df > INTERSECT_LIMIT
    # forces the scan path vs the plain intersect path
    env = _mk(
        spark, tmp_index_root, "ref_commons_scan", MONNAIE_DOCS,
        common_threshold=2, intersect_limit=100_000, bucket_max=3,
    )
    got = _q(env, "rue de la monnaie")
    ids = set(got["conv_id"])
    assert {"doc-0", "doc-1", "doc-2"} <= ids
    assert "doc-3" not in ids


def test_should_use_filter_if_only_common_terms(commons_env):
    # test_search.py:137-150: filter constrains collection even when
    # every word token is common
    got = _q(commons_env, "la monnaie", filters={"role": ["tool"]})
    assert set(got["conv_id"]) == {"doc-4"}


def test_found_term_is_autocompleted_if_missing_results(spark, tmp_index_root):
    # test_search.py:237-241: "mont" is IN the index but also
    # autocompletes to "montagne" — both docs come back
    env = _mk(
        spark, tmp_index_root, "ref_ac_found",
        [("rue de la montagne Vitry", "user"), ("rue du mont Vitry", "user")],
        common_threshold=3,
    )
    got = _q(env, "rue mont", autocomplete=True)
    assert set(got["conv_id"]) == {"doc-0", "doc-1"}


# ---------------------------------------------------------------------------
# round-3 ports, second batch: best-match / autocomplete / filter /
# bucket-limit / token-reducing families
# ---------------------------------------------------------------------------


def test_should_give_priority_to_best_match2(spark, tmp_index_root):
    # test_search.py:40-45: both docs index (rue, andresy), but only
    # doc-0's NAME (= the label string distance compares against)
    # holds "andresy" — the other has it in the secondary field.
    # Faithful port: text = name (boost 4, label), tool = city
    # (boost 1, indexed but NOT in the label) — reference
    # default.py:128-136 FIELDS + labels.py name-only default label
    env = _mk(
        spark, tmp_index_root, "ref_best2",
        [("rue d'Andrésy", "user", "Conflans"),
         ("rue de Conflans", "user", "Andrésy")],
        fields=(FieldSpec("text", 4.0), FieldSpec("tool", 1.0)),
    )
    got = _q(env, "rue andresy")
    assert len(got) == 2
    assert got.iloc[0]["conv_id"] == "doc-0"


def test_not_found_term_is_autocompleted(spark, tmp_index_root):
    # test_search.py:234-238: "mon" is NOT an indexed token but
    # autocompletes to "monnaie"
    env = _mk(
        spark, tmp_index_root, "ref_ac_notfound",
        [("rue de la monnaie Vitry", "user")],
        common_threshold=3,
    )
    assert len(_q(env, "rue de la mon", autocomplete=True)) == 1


def test_found_term_is_not_autocompleted_if_enough_results(spark, tmp_index_root):
    # test_search.py:249-259: with enough exact "mont" docs for the
    # wanted k, the "montagne" expansion never reaches the top-k
    env = _mk(
        spark, tmp_index_root, "ref_ac_enough",
        [
            ("rue de la montagne Vitry", "user"),
            ("rue du mont Vitry", "user"),
            ("rue du mont Paris", "user"),
            ("rue du mont Lille", "user"),
        ],
        common_threshold=3,
    )
    got = _q(env, "rue mont", autocomplete=True, k=2)
    assert len(got) == 2
    assert "doc-0" not in set(got["conv_id"])


FILTER_DOCS = [
    ("rue de Paris", "user", "bash"),
    ("avenue de Paris", "user", "python"),
    ("Paris", "tool", "bash"),
    ("Paris Grenelle", "user", "browser"),
]


@pytest.fixture(scope="module")
def filter_env(spark, tmp_index_root):
    return _mk(spark, tmp_index_root, "ref_filters", FILTER_DOCS)


def test_search_can_be_filtered(filter_env):
    # test_search.py:341-348 (type= → role=)
    got = _q(filter_env, "paris", filters={"role": ["tool"]})
    assert set(got["conv_id"]) == {"doc-2"}


def test_search_supports_multi_value_filter(filter_env):
    # test_search.py:350-358: OR within one filter field
    got = _q(filter_env, "paris", filters={"tool": ["bash", "python"]})
    assert set(got["conv_id"]) == {"doc-0", "doc-1", "doc-2"}


def test_search_multi_filter_combination_with_other_filters(filter_env):
    # test_search.py:361-369: OR within a field, AND across fields
    got = _q(
        filter_env, "paris",
        filters={"tool": ["bash", "python"], "role": ["user"]},
    )
    assert set(got["conv_id"]) == {"doc-0", "doc-1"}


def test_multifilter_with_duplicate_values(filter_env):
    # test_search.py:372-380
    got = _q(filter_env, "paris", filters={"tool": ["bash", "bash", "python"]})
    assert set(got["conv_id"]) == {"doc-0", "doc-1", "doc-2"}


def test_multifilter_respects_max_values(filter_env):
    # test_search.py:383-400 + core.py:160-176: only the FIRST 10
    # unique values count — "browser" arrives 11th and is dropped, so
    # doc-3 must NOT match even though its value was requested
    vals = ["bash"] + [f"nope{i}" for i in range(9)] + ["browser", "python"]
    got = _q(filter_env, "paris", filters={"tool": vals})
    assert set(got["conv_id"]) == {"doc-0", "doc-2"}


def test_multifilter_case_sensitivity(spark, tmp_index_root):
    # test_search.py:403-414: filter values are case-sensitive
    env = _mk(
        spark, tmp_index_root, "ref_filter_case",
        [("rue de Paris", "user", "Bash"), ("Paris", "user", "bash")],
    )
    got = _q(env, "paris", filters={"tool": ["Bash"]})
    assert set(got["conv_id"]) == {"doc-0"}


def test_filter_indexes_multiple_values(spark, tmp_index_root):
    # test_search.py:436-445: a LIST-valued filter field indexes one
    # f| posting per element, and a filter matches when ANY element
    # matches — engine and oracle agree
    pdf = pd.DataFrame(
        {
            "conv_id": ["doc-0", "doc-1"],
            "turn_idx": 0,
            "role": "user",
            "text": ["rue de Paris", "avenue de Paris"],
            "tool": [["bash", "python"], ["browser"]],
            "ts": pd.Timestamp("2026-01-01"),
            "importance": 0.0,
        }
    )
    cfg = EngineConfig(
        scorer="reference",
        fields=(FieldSpec("text", 1.0),),
        build_partitions=2,
        doc_bucket_bits=4,
        posting_block_size=16,
        min_score=0.0,
    )
    out = str(Path(tmp_index_root) / "ref_multival_filter")
    paths = build_index(spark, spark.createDataFrame(pdf), cfg, out)
    from addok_spark.serving.local import LocalSearchEngine

    env = (
        SearchEngine(spark, paths, cfg),
        OracleIndex(pdf, cfg),
        cfg,
        LocalSearchEngine(paths, cfg),
    )
    assert set(
        _q(env, "paris", filters={"tool": ["python"]})["conv_id"]
    ) == {"doc-0"}
    assert set(
        _q(env, "paris", filters={"tool": ["bash"]})["conv_id"]
    ) == {"doc-0"}
    assert set(
        _q(env, "paris", filters={"tool": ["browser"]})["conv_id"]
    ) == {"doc-1"}
    assert set(
        _q(env, "paris", filters={"tool": ["bash", "browser"]})["conv_id"]
    ) == {"doc-0", "doc-1"}


def test_bucket_respects_limit(spark, tmp_index_root):
    # test_search.py:620-634 (issue #422): wanted > BUCKET_MAX must
    # still fill — the bucket limit is max(k, BUCKET_MAX),
    # core.py:339 — with and without autocomplete
    env = _mk(
        spark, tmp_index_root, "ref_bucket_limit",
        [("allee des acacias", "user") for _ in range(12)],
        bucket_max=5,
    )
    assert len(_q(env, "allee des acacias", k=12)) == 12
    assert len(_q(env, "allee des acacias", k=12, autocomplete=True)) == 12


def test_extend_results_reducing_tokens_should_remove_two_tokens(
    spark, tmp_index_root
):
    # test_search.py:678-689: "plage" and "cyprie" are both absent
    # from the target doc — only the remove-2 pass (all pairs,
    # collectors.py:139-148) can surface it
    env = _mk(
        spark, tmp_index_root, "ref_reduce2",
        [
            ("quai jules verne saint cyprien", "user"),
            ("allee des cyprie larmor plage", "user"),
            ("rue jules verne chatelaillon plage", "user"),
            ("quai saint truc la plage", "user"),
        ],
    )
    got = _q(env, "quai jules verne saint cyprie plage")
    assert len(got) >= 1
    assert got.iloc[0]["conv_id"] == "doc-0"


# ---------------------------------------------------------------------------
# strategy-choice scenarios (reference test_search.py:153-232): the
# collection strategy must react to FILTER selectivity, not just token
# frequency — a selective f| set makes intersection cheap even when
# every word token is common
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def strategy_setup(spark, tmp_index_root):
    rows = [
        # ≙ factory(name=..., type=...): role plays the type filter
        ("s-monnaie-vitry", "rue de la monnaie vitry", "street"),
        ("s-monnaie-paris", "rue de la monnaie paris", "street"),
        ("s-republique", "rue de la republique lyon", "street"),
        ("c-monnaie", "la monnaie", "city"),
        ("c-poste", "la poste", "city"),
    ]
    pdf = pd.DataFrame(
        {
            "conv_id": [r[0] for r in rows],
            "turn_idx": 0,
            "role": [r[2] for r in rows],
            "text": [r[1] for r in rows],
            "tool": None,
            "ts": pd.Timestamp("2026-01-01"),
            "importance": 0.0,
        }
    )
    cfg = EngineConfig(
        fields=(FieldSpec("text", 1.0),),
        build_partitions=2,
        doc_bucket_bits=4,
        posting_block_size=16,
        build_pairs=False,
        common_threshold=2,
        intersect_limit=2,
        bucket_max=10,
    )
    out = str(Path(tmp_index_root) / "ref_strategy")
    paths = build_index(spark, spark.createDataFrame(pdf), cfg, out)
    return SearchEngine(spark, paths, cfg), OracleIndex(pdf, cfg), cfg


def _search_with_plan(engine, oracle, cfg, query):
    """Run one query through the Spark engine, and through the serving
    flow over the same snapshot capturing whether each collection
    kernel call (``run_gids``) is a manual scan (≙ the reference's
    scripts.manual_scan monkeypatch): it is when scanning is allowed
    and every required group's df exceeds ``intersect_limit``."""
    from addok_spark.serving.local import FastSearch, ParquetIndex

    searcher = FastSearch(ParquetIndex(engine.paths, cfg), cfg)
    scans = []
    orig = searcher.run_gids

    def spy(groups, group_dfs, gids, bucket_limit, use_scan=True):
        scans.append(use_scan and all(
            group_dfs.get(g, 0) > cfg.intersect_limit for g in gids
        ))
        return orig(groups, group_dfs, gids, bucket_limit, use_scan)

    searcher.run_gids = spy
    served = searcher.search([query])
    got = engine.search([query]).toPandas()
    want = oracle_search(oracle, [query], cfg)
    assert list(got["doc_index"]) == list(want["doc_index"]), (
        f"engine/oracle diverge for {query.q!r}:\n{got}\n{want}"
    )
    assert list(served["doc_index"]) == list(want["doc_index"])
    return got, scans


def test_should_use_intersect_if_filter_smaller_than_token(strategy_setup):
    # test_search.py:153-193: token 'la' is common (df 5 > limit 2)
    # but the role=city filter set holds only 2 docs (≤ limit) — the
    # round must INTERSECT (no scan), and only the cities come back
    engine, oracle, cfg = strategy_setup
    q = Query(qid="st1", q="la", k=10, filters={"role": ["city"]})
    got, scans = _search_with_plan(engine, oracle, cfg, q)
    ids = set(got["conv_id"])
    assert {"c-monnaie", "c-poste"} <= ids
    assert not any(i.startswith("s-") for i in ids)
    assert scans and not any(scans), (
        "manual scan must NOT trigger when the filter is more "
        "selective than the token"
    )


def test_should_use_manual_scan_if_both_token_and_filter_large(strategy_setup):
    # test_search.py:195-232: token 'la' (df 5) AND role=street
    # (3 docs) both exceed intersect_limit=2 → manual scan fires
    engine, oracle, cfg = strategy_setup
    q = Query(qid="st2", q="la", k=10, filters={"role": ["street"]})
    got, scans = _search_with_plan(engine, oracle, cfg, q)
    assert set(got["conv_id"]) == {
        "s-monnaie-vitry", "s-monnaie-paris", "s-republique"
    }
    assert any(scans), (
        "manual scan must trigger when token and filter are both "
        "above intersect_limit"
    )


def test_document_without_text_is_not_searchable(spark, tmp_index_root):
    # test_search.py:327-331 (document_without_name_should_not_be_
    # indexed): a row whose only content sits outside the indexed
    # fields yields no postings and can never be returned
    pdf = pd.DataFrame(
        {
            "conv_id": ["empty-doc", "normal-doc"],
            "turn_idx": 0,
            "role": "user",
            "text": [None, "avenue de Paris"],
            "tool": ["Montceau-les-Mines", None],
            "ts": pd.Timestamp("2026-01-01"),
            "importance": 0.0,
        }
    )
    cfg = EngineConfig(
        fields=(FieldSpec("text", 1.0),),  # tool NOT indexed here
        build_partitions=2,
        doc_bucket_bits=4,
        posting_block_size=16,
        build_pairs=False,
    )
    out = str(Path(tmp_index_root) / "ref_empty_doc")
    paths = build_index(spark, spark.createDataFrame(pdf), cfg, out)
    engine = SearchEngine(spark, paths, cfg)
    assert len(engine.search([Query(qid="e1", q="montceau", k=5)]).toPandas()) == 0
    res = engine.search([Query(qid="e2", q="avenue paris", k=5)]).toPandas()
    assert list(res["conv_id"]) == ["normal-doc"]


def test_should_compare_with_multiple_values(spark, tmp_index_root):
    # test_search.py:573-580: a doc whose label list carries an exact
    # variant ("Vernou") scores EQUAL to the doc named exactly that —
    # string comparison takes the BEST variant, on all three surfaces
    import pandas as pd

    from addok_spark.oracle.bm25_oracle import OracleIndex, oracle_search
    from addok_spark.serving.local import LocalSearchEngine

    pdf = pd.DataFrame(
        {
            "conv_id": ["doc-long-name", "doc-vernou", "doc-other"],
            "turn_idx": 0,
            "role": "user",
            "text": [
                "Vernou-la-Celle-sur-Seine", "Vernou", "Montereau",
            ],
            "tool": None,
            "ts": pd.Timestamp("2026-01-01"),
            "importance": 0.0,
            "alt_texts": [["Vernou"], None, None],
        }
    )
    cfg = EngineConfig(
        scorer="reference",
        fields=(FieldSpec("text", 1.0),),
        build_partitions=2,
        doc_bucket_bits=4,
        posting_block_size=16,
        build_pairs=False,
    )
    out = str(Path(tmp_index_root) / "multival")
    paths = build_index(spark, spark.createDataFrame(pdf), cfg, out)
    query = Query(qid="mv", q="vernou", k=10)
    got = SearchEngine(spark, paths, cfg).search([query]).toPandas()
    want = oracle_search(OracleIndex(pdf, cfg), [query], cfg)
    served = LocalSearchEngine(out, cfg).search([query])
    assert list(got["doc_index"]) == list(want["doc_index"])
    assert list(served["doc_index"]) == list(want["doc_index"])
    assert len(got) == 2
    assert abs(got.iloc[0]["score"] - got.iloc[1]["score"]) < 1e-9
    assert set(got["conv_id"]) == {"doc-long-name", "doc-vernou"}
    # and equal on the oracle too (the reference asserts equality)
    assert abs(want.iloc[0]["score"] - want.iloc[1]["score"]) < 1e-9


def test_result_from_natural_key(setup):
    # test_search.py:567-570 (Result.from_id): direct doc fetch by
    # the natural key, served without a Spark job
    row = setup[3].get("doc-conflans", 0)
    assert row is not None and row["text"] == "Conflans"
    assert setup[3].get("doc-nope", 3) is None


def test_unchanged_text_is_default_label(setup):
    # test_search.py:592-595: a result's label is the stored text,
    # byte-identical — no normalization leaks into the output
    res = _search(setup, "rue d'Andrésy")
    assert res.iloc[0]["text"] == "rue d'Andrésy"


# ---------------------------------------------------------------------------
# round-4 ports: Lua-script primitives (reference tests/test_scripts.py)
# replayed against the engine's batched round machinery, and many-to-many
# relation extrapolation (reference tests/test_collectors.py) against the
# pair index + clique extractor.
# ---------------------------------------------------------------------------

SCRIPT_DOCS = [
    # doc_index == list position (dense ids ordered by (conv_id, turn_idx))
    ("doc-0", "rue de la monnaie Vitry", "street", 0.0),
    ("doc-1", "La monnaye Saint-Loup-Cammas", "street", 0.0),
    ("doc-2", "rue de la monnaie Paris", "street", 1.0),
    ("doc-3", "rue de la monnaie Condom", "street", 0.9),
    ("doc-4", "Vitry", "city", 0.0),
]


def _env_with_importance(spark, tmp_index_root, name, docs, **cfg_kw):
    pdf = pd.DataFrame(
        {
            "conv_id": [d[0] for d in docs],
            "turn_idx": 0,
            "role": [d[2] for d in docs],
            "text": [d[1] for d in docs],
            "tool": None,
            "ts": pd.Timestamp("2026-01-01"),
            "importance": [d[3] for d in docs],
        }
    )
    base = dict(
        scorer="reference",
        fields=(FieldSpec("text", 1.0),),
        build_partitions=2,
        doc_bucket_bits=4,
        posting_block_size=16,
        min_score=0.0,
    )
    base.update(cfg_kw)
    cfg = EngineConfig(**base)
    out = str(Path(tmp_index_root) / name)
    paths = build_index(spark, spark.createDataFrame(pdf), cfg, out)
    return ParquetIndex(paths, cfg), cfg


@pytest.fixture(scope="module")
def scripts_env(spark, tmp_index_root):
    """The reference's script-test corpus (tests/test_scripts.py:4-50)
    as transcript rows; ``role`` plays the ``type=`` filter field."""
    return _env_with_importance(
        spark, tmp_index_root, "ref_scripts", SCRIPT_DOCS
    )[0]


def _round(index, groups, topn, scan_gid=None):
    """Run ONE collection kernel call over explicit group expansions —
    the call the search flow makes per round variant — returning
    doc_index in bucket order, the same through the vectorized
    ``FastSearch`` and the spec ``SpecSearch``. This is the analog of
    calling ``scripts.zinter`` / ``scripts.manual_scan`` directly: a
    ``scan_gid`` gets the lowest df above ``intersect_limit`` and every
    other group a higher one, so the kernel probes from that group."""
    from addok_spark.oracle.bm25_oracle import SpecSearch
    from addok_spark.serving.local import FastSearch

    gids = list(range(len(groups)))
    lim = index.cfg.intersect_limit
    dfs = {g: lim + (1 if g == scan_gid else 2) for g in gids}
    got = [
        cls(index, index.cfg).run_gids(
            dict(enumerate(groups)), dfs, gids, topn,
            use_scan=scan_gid is not None,
        )
        for cls in (FastSearch, SpecSearch)
    ]
    assert got[0] == got[1]
    return got[0]


def test_zinter_sums_scores_and_limits(scripts_env):
    # tests/test_scripts.py:32-50 (lua/zinter.lua): conjunctive
    # intersect ordered by summed boost (importance-biased), capped
    assert _round(scripts_env, [["monnaie"], ["rue"], ["de"]], 2) == [2, 3]
    assert _round(scripts_env, [["monnaie"], ["rue"], ["de"]], 3) == [2, 3, 0]


def test_manual_scan_probes_best_first(scripts_env):
    # tests/test_scripts.py:4-13 (lua/manual_scan.lua): the probe
    # side's best-boost docs are checked against the other sets; the
    # two importance-boosted streets come back first
    assert _round(
        scripts_env, [["monnaie"], ["rue"], ["de"]], 2, scan_gid=0
    ) == [2, 3]


def test_manual_scan_with_filter(scripts_env):
    # tests/test_scripts.py:16-29: f| sets join the conjunction like
    # any token set; an unknown filter value matches nothing
    assert _round(
        scripts_env, [["rue"], ["de"], ["f|role|street"]], 2, scan_gid=0
    ) == [2, 3]
    assert _round(
        scripts_env, [["rue"], ["de"], ["f|role|whatever"]], 2, scan_gid=0
    ) == []
    assert _round(
        scripts_env, [["vitry"], ["f|role|city"]], 2, scan_gid=0
    ) == [4]


FREQ_DOCS = [
    ("doc-0", "rue de la monnaie Vitry", "street", 0.0),
    ("doc-1", "rue des lilas Vitry", "street", 0.0),
    ("doc-2", "rue des figues Vitry", "street", 0.0),
    ("doc-3", "rue des lilas Pantin", "street", 0.0),
    ("doc-4", "Vitry", "city", 0.5),
]


@pytest.fixture(scope="module")
def freq_env(spark, tmp_index_root):
    return _env_with_importance(
        spark, tmp_index_root, "ref_scripts_freq", FREQ_DOCS
    )[0]


def _token_stats(index, tokens):
    """(df, max_boost) per token present in the in-RAM dictionary."""
    return {
        t: (index.df[t], index.max_boost[t]) for t in tokens if t in index.df
    }


def test_order_by_frequency(freq_env):
    # tests/test_scripts.py:52-59: tokens ordered by df desc (the
    # reference corpus ties rue/vitry once the importance doc is
    # added, so `des` stands in for `rue` to keep the order strict)
    stats = _token_stats(freq_env, {"monnaie", "des", "lilas", "vitry"})
    got = sorted(stats, key=lambda t: -stats[t][0])
    assert got == ["vitry", "des", "lilas", "monnaie"]


def test_order_by_max_score(freq_env):
    # tests/test_scripts.py:62-70 (lua/order_by_max_score.lua): the
    # token whose best doc carries importance 0.5 (boost 1.0+0.05)
    # outranks tokens whose docs are all importance 0
    stats = _token_stats(freq_env, {"monnaie", "lilas", "vitry", "rue"})
    best = max(stats, key=lambda t: stats[t][1])
    assert best == "vitry"
    assert stats["vitry"][1] == pytest.approx(1.05, abs=1e-6)


# --- many-to-many relation extrapolation (tests/test_collectors.py) -------


def _relations(index, cfg, qtokens):
    """≙ ``_extract_manytomany_relations`` (reference
    collectors.py:175-214) through the serving index's primitives: df
    probe → meaningful set (0 < df ≤ COMMON_THRESHOLD) → pair-index
    probe → maximal cliques (≥2) over the co-occurrence graph."""
    from addok_spark.query.cliques import maximal_cliques

    stats = _token_stats(index, set(qtokens))
    meaningful = sorted(
        t
        for t in set(qtokens)
        if 0 < stats.get(t, (0, 0.0))[0] <= cfg.common_threshold
    )
    checks = {
        (a, b)
        for i, a in enumerate(meaningful)
        for b in meaningful[i + 1:]
    }
    present = {(a, b) for a, b in checks if index.cooc(a, b)}
    idx = {t: i for i, t in enumerate(meaningful)}
    edges = {(idx[a], idx[b]) for a, b in present}
    cliques = [
        c
        for c in maximal_cliques(sorted(idx.values()), edges)
        if len(c) >= 2
    ]
    return {frozenset(meaningful[i] for i in c) for c in cliques}


def test_extract_manytomany_relations(spark, tmp_index_root):
    # tests/test_collectors.py:5-13: rue/de are common; the only
    # interlinked meaningful group is {fecamp, paris}
    index, cfg = _env_with_importance(
        spark, tmp_index_root, "ref_m2m_1",
        [
            ("doc-0", "rue de Paris Fecamp", "street", 0.0),
            ("doc-1", "rue de la porte", "street", 0.0),
            ("doc-2", "rue de dieppe 506", "street", 0.0),
        ],
        common_threshold=2,
    )
    got = _relations(
        index, cfg, "rue de paris porte 506 fecamp".split()
    )
    assert got == {frozenset({"fecamp", "paris"})}


def test_extract_manytomany_relations_2(spark, tmp_index_root):
    # tests/test_collectors.py:16-39: two overlapping relations share
    # dieppe/76370; neuville and la stay singletons and drop out
    index, cfg = _env_with_importance(
        spark, tmp_index_root, "ref_m2m_2",
        [
            ("doc-0", "rue de falaise dieppe 76370 1", "street", 0.0),
            ("doc-1", "chemin du semaphore dieppe 76370 1", "street", 0.0),
            ("doc-2", "chemin de neuville", "street", 0.0),
            ("doc-3", "chemin de la tour 1", "street", 0.0),
        ],
        common_threshold=2,
    )
    got = _relations(
        index, cfg,
        "1 chemin de la falaise le semaphore neuville les 76370 dieppe"
        .split(),
    )
    assert got == {
        frozenset({"dieppe", "falaise", "76370"}),
        frozenset({"dieppe", "76370", "semaphore"}),
    }


def test_extract_manytomany_relations_3(spark, tmp_index_root):
    # tests/test_collectors.py:42-69: de reaches df 3 via
    # Saint-Pierre-de-Rouergue and goes common; typo/zero-df tokens
    # (tassign, pleiade, porte) and the unrelated `a` drop out,
    # leaving the single 4-clique
    index, cfg = _env_with_importance(
        spark, tmp_index_root, "ref_m2m_3",
        [
            (
                "doc-0",
                "Rue Maréchal de Lattre de Tassigny Mont-Saint-Aignan "
                "76130 45 3",
                "street", 0.0,
            ),
            ("doc-1", "rue du port Saint-Denis 76370 45 3", "street", 0.0),
            ("doc-2", "rue à l'eau Saint-Pierre-de-Rouergue", "street", 0.0),
            ("doc-3", "rue de Saint-Jean 45 3", "street", 0.0),
        ],
        common_threshold=2,
    )
    got = _relations(
        index, cfg,
        "45 rue de lattre de tassign pleiade a 3 porte 76130 mont saint "
        "aignan".split(),
    )
    assert got == {frozenset({"lattre", "aignan", "76130", "mont"})}


def test_allow_to_set_result_values(setup):
    # test_search.py:581-589: plugins may mutate result fields —
    # result frames expose plain writable columns
    res = _search(setup, "rue de paris")
    res.loc[res.index[0], "text"] = "blah"
    res.loc[res.index[0], "score"] = 22.0
    assert res.iloc[0]["text"] == "blah"
    assert res.iloc[0]["score"] == 22.0
