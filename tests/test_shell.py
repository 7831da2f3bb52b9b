"""Shell REPL command dispatch (≙ reference addok/shell.py surface)
driven non-interactively against a tiny index."""

from pathlib import Path

import pandas as pd
import pytest

from addok_spark.config import EngineConfig, FieldSpec
from addok_spark.index.build import build_index
from addok_spark.shell import Shell


@pytest.fixture(scope="module")
def shell_corpus():
    return pd.DataFrame(
        {
            "conv_id": ["doc-0", "doc-1", "doc-2"],
            "turn_idx": 0,
            "role": ["user", "tool", "user"],
            "text": [
                "rue des lilas",
                "avenue des lilas",
                "boulevard du montparnasse",
            ],
            "tool": None,
            "ts": pd.Timestamp("2026-01-01"),
            "importance": 0.0,
        }
    )


@pytest.fixture(scope="module")
def shell(spark, tmp_index_root, shell_corpus):
    cfg = EngineConfig(
        fields=(FieldSpec("text", 1.0),),
        build_partitions=2,
        doc_bucket_bits=4,
        posting_block_size=16,
    )
    out = str(Path(tmp_index_root) / "shell_idx")
    build_index(spark, spark.createDataFrame(shell_corpus), cfg, out)
    return Shell(out, cfg)


def test_shell_search_default(shell):
    out = shell.dispatch("rue des lilas")
    assert "doc-0" in out and "hits in" in out


def test_shell_explain(shell):
    out = shell.dispatch("EXPLAIN rue des lilas")
    assert "group" in out and '"stage": "search"' in out


def test_cli_explain_covers_the_executed_query(shell, capsys):
    """``explain`` runs the query on the serving tier: its groups come
    from the spec plan, and its one stage times the executed search,
    so the stage's row count is the number of results printed."""
    import json

    from addok_spark.__main__ import main

    main(["explain", "--index", shell.index_dir, "-q", "des lilas",
          "-k", "2", "--filters", '{"role": ["user", "tool"]}'])
    info = json.loads(capsys.readouterr().out)
    assert info["query"] == "des lilas"
    assert [(g["kind"], g["tokens"], g["df"]) for g in info["groups"]] == [
        ("meaningful", ["des"], 2),
        ("meaningful", ["lilas"], 2),
        ("filter", ["f|role|tool", "f|role|user"], 1),
    ]
    assert info["candidates"] == 2
    assert {r["conv_id"] for r in info["results"]} == {"doc-0", "doc-1"}
    (stage,) = info["stages"]
    assert stage["stage"] == "search" and stage["seconds"] > 0
    assert stage["rows"] == len(info["results"])


def test_shell_tokenize_fuzzy_freq(shell):
    assert "tokens: ['rue', 'des', 'lilas']" in shell.dispatch(
        "TOKENIZE Rue des Lilas!"
    )
    assert "ilas" in shell.dispatch("FUZZY lilas")
    assert "lilas: df=2" in shell.dispatch("FREQ lilas")


def test_shell_state_commands(shell):
    assert shell.dispatch("AUTOCOMPLETE on") == "autocomplete: on"
    out = shell.dispatch("montparnas")  # prefix only works with ac on
    assert "doc-2" in out
    assert shell.dispatch("AUTOCOMPLETE off") == "autocomplete: off"
    assert 'filters: {"role": ["tool"]}' in shell.dispatch(
        'FILTERS {"role": ["tool"]}'
    )
    out = shell.dispatch("lilas")
    assert "doc-1" in out and "doc-0" not in out
    shell.dispatch("FILTERS off")
    assert shell.dispatch("K 5") == "k: 5"


def test_shell_dbinfo_help_errors(shell):
    out = shell.dispatch("DBINFO")
    assert '"n_postings"' in out and '"n_docs"' in out
    assert "SEARCH" in shell.dispatch("HELP") or "search" in shell.dispatch("HELP")
    with pytest.raises(EOFError):
        shell.dispatch("QUIT")
    # bad JSON must not kill the loop (loop() catches; dispatch raises)
    with pytest.raises(Exception):
        shell.dispatch("FILTERS {bad json")


def test_shell_intersect(shell, shell_corpus):
    from addok_spark.oracle.bm25_oracle import OracleIndex

    out = shell.dispatch("INTERSECT des lilas LIMIT 5")
    assert "doc-0" in out and "doc-1" in out and "doc-2" not in out
    # each printed prescore is the oracle's Σ boost for that doc
    oracle = OracleIndex(shell_corpus, shell.cfg)
    doc_of = dict(zip(oracle.docs["conv_id"], oracle.docs["doc_index"]))
    rows = [line.split() for line in out.splitlines() if "#" in line]
    assert len(rows) == 2
    for _, prescore, key, *_ in rows:
        d = int(doc_of[key.split("#")[0]])
        want = sum(oracle.boost[t][d] for t in ("des", "lilas"))
        assert prescore == f"{want:.4f}"
    # raw conjunction, no relaxation: disjoint tokens → empty
    assert "(0 in" in shell.dispatch("INTERSECT rue montparnasse")


def test_shell_pair(shell):
    out = shell.dispatch("PAIR lilas")
    assert out.startswith("lilas:")
    assert "rue" in out and "avenue" in out


def test_shell_pair_equals_oracle(shell, shell_corpus):
    """PAIR lists, for every token, the tokens the oracle's pair set
    holds with it — commons (threshold lowered to 1) list none."""
    import dataclasses

    from addok_spark.oracle.bm25_oracle import OracleIndex

    for thr in (shell.cfg.common_threshold, 1):
        cfg = dataclasses.replace(shell.cfg, common_threshold=thr)
        oracle = OracleIndex(shell_corpus, cfg)
        sh = Shell(shell.index_dir, cfg)
        for t in sorted(oracle.df):
            want = sorted(u for u in oracle.df if oracle.cooc(t, u))
            assert sh.dispatch(f"PAIR {t}") == (
                f"{t}: {len(want)} pairs\n" + ", ".join(want)
            )
    assert sh.dispatch("PAIR lilas") == "lilas: 0 pairs\n"  # df 2 > 1


def test_shell_bestscore(shell):
    out = shell.dispatch("BESTSCORE lilas")
    assert "doc-0" in out and "doc-1" in out


def test_shell_get_strdistance_bucket_bench(shell):
    out = shell.dispatch("GET doc-2 0")
    assert "montparnasse" in out
    assert 'not found' in shell.dispatch("GET nope 9")
    d = float(shell.dispatch("STRDISTANCE rue des lilas|rue des lilas"))
    assert d == 1.0
    assert "doc-0" in shell.dispatch("BUCKET rue des lilas")
    assert "p50=" in shell.dispatch("BENCH 2 lilas")


def test_shell_config(shell):
    out = shell.dispatch("CONFIG")
    assert "bucket_max" in out and "min_score" in out
    assert shell.dispatch("CONFIG bucket_max").startswith("bucket_max ")
    assert "Not found" in shell.dispatch("CONFIG nosuchkey")


def test_shell_dbkey(shell):
    out = shell.dispatch("DBKEY w|lilas")
    assert "type: postings" in out and "df=2" in out
    assert "no such token" in shell.dispatch("DBKEY w|zzz")
    out = shell.dispatch("DBKEY p|lilas")
    assert "type: set" in out and "rue" in out
    out = shell.dispatch("DBKEY d|doc-2|0")
    assert "type: hash" in out and "montparnasse" in out
    assert "Unsupported" in shell.dispatch("DBKEY g|u09tyzfe")


def test_shell_index(shell):
    # doc-0 "rue des lilas": every token indexed; lilas has df=2 so
    # rank is 0 or 1; boost is the analyzer's per-token weight
    out = shell.dispatch("INDEX doc-0 0")
    lines = dict(
        (ln.split()[0], ln.split()[1:]) for ln in out.splitlines()
    )
    assert set(lines) == {"rue", "des", "lilas"}
    for tok, (boost, rank) in lines.items():
        assert float(boost) > 0
        assert int(rank) in (0, 1)
    assert "not found" in shell.dispatch("INDEX nope 0")
    assert "usage" in shell.dispatch("INDEX doc-0")


def test_shell_inline_options_and_filters(shell):
    # reference shell grammar: LIMIT / AUTOCOMPLETE / FIELD value
    # inline in the SEARCH line (tests/test_shell.py:1-60 grammar).
    # Pin session state first: the module-scoped shell carries
    # whatever earlier tests set.
    shell.dispatch("K 10")
    shell.dispatch("FILTERS off")
    shell.autocomplete = False
    out = shell.dispatch("des lilas LIMIT 1")
    assert "(1 hits in" in out
    # repetition ORs; tool-role docs only
    out = shell.dispatch("des lilas ROLE tool")
    assert "doc-1" in out and "doc-0" not in out
    # pipe separator ORs back to both
    out = shell.dispatch("des lilas ROLE user|tool")
    assert "doc-0" in out and "doc-1" in out
    out_rep = shell.dispatch("des lilas ROLE user ROLE tool")
    assert "doc-0" in out_rep and "doc-1" in out_rep
    # equals-sign form
    out = shell.dispatch("des lilas ROLE=tool")
    assert "doc-1" in out and "doc-0" not in out
    # AUTOCOMPLETE 1 expands the truncated last token
    assert "doc-0" in shell.dispatch("rue des lil AUTOCOMPLETE 1")
    # inline options do not leak into session state
    assert shell.k == 10 and shell.autocomplete is False


def test_shell_inline_grammar_hardening(shell):
    # option keywords without parseable values are SEARCH TEXT, not
    # crashes ('TIME LIMIT', 'RATE LIMIT exceeded' must run a search)
    shell.dispatch("K 10")
    shell.dispatch("FILTERS off")
    shell.autocomplete = False
    assert "hits in" in shell.dispatch("TIME LIMIT")
    assert "hits in" in shell.dispatch("RATE LIMIT exceeded")
    assert "hits in" in shell.dispatch("USE AUTOCOMPLETE")
    # key inside a word is not a filter ('PAROLE officer' keeps text)
    q, filters = shell._parse_filters("PAROLE officer")
    assert q == "PAROLE officer" and filters == {}
    # value containing the key survives intact
    q, v = shell._match_option("ROLE", "des lilas ROLE ROLEPLAY")
    assert q == "des lilas" and v == "ROLEPLAY"
    # bare trailing key stays in the search text, installs no filter
    q, filters = shell._parse_filters("des lilas ROLE ")
    assert filters == {} and "ROLE" in q


def test_shell_inline_filter_merges_with_session(shell):
    shell.dispatch("K 10")
    shell.autocomplete = False
    # session filter on tool stays in force when an inline ROLE is
    # given (per-field override, not wholesale replacement)
    shell.dispatch('FILTERS {"role": ["user"]}')
    out = shell.dispatch("des lilas ROLE tool")
    assert "doc-1" in out and "doc-0" not in out  # inline role wins
    shell.dispatch("FILTERS off")


# ---------------------------------------------------------------------------
# reference shell filter-parsing grammar (tests/test_shell.py:15-135,
# TYPE/POSTCODE adapted to this schema's ROLE/TOOL filter fields).
# One representational delta, by design: values are ALWAYS a list —
# the engine's normalize_filter_values handles single vs multi — so
# the reference's string-vs-list backward-compat case maps to a
# one-element list here.
# ---------------------------------------------------------------------------

@pytest.mark.parametrize(
    "query, want_q_parts, want_filters",
    [
        # single filter + other inline options survive
        ("rue des lilas ROLE user LIMIT 10",
         ["rue des lilas", "LIMIT 10"], {"role": ["user"]}),
        # repetition ORs
        ("rue des lilas ROLE user ROLE tool",
         ["rue des lilas"], {"role": ["user", "tool"]}),
        # pipe separator ORs
        ("rue des lilas ROLE user|tool",
         ["rue des lilas"], {"role": ["user", "tool"]}),
        # three values via separator
        ("paris ROLE user|tool|assistant",
         ["paris"], {"role": ["user", "tool", "assistant"]}),
        # mixed repetition + separator
        ("paris ROLE user|tool ROLE assistant",
         ["paris"], {"role": ["user", "tool", "assistant"]}),
        # multiple different filter fields
        ("rue ROLE user TOOL bash",
         ["rue"], {"role": ["user"], "tool": ["bash"]}),
        # multiple filters, multi-values each
        ("paris ROLE user ROLE tool TOOL bash TOOL grep",
         ["paris"], {"role": ["user", "tool"], "tool": ["bash", "grep"]}),
        # no filters: line untouched
        ("rue des lilas LIMIT 10", ["rue des lilas LIMIT 10"], {}),
        # equals-sign form
        ("rue ROLE=user", ["rue"], {"role": ["user"]}),
        # doubled separator: empty segments ignored
        ("rue ROLE user||tool", ["rue"], {"role": ["user", "tool"]}),
        # single value: one-element list (reference: bare string)
        ("rue ROLE user", ["rue"], {"role": ["user"]}),
    ],
)
def test_shell_parse_filters_reference_grammar(shell, query, want_q_parts,
                                               want_filters):
    remaining, filters = shell._parse_filters(query)
    assert filters == want_filters
    for part in want_q_parts:
        assert part in remaining
    for name in want_filters:
        assert name.upper() not in remaining
