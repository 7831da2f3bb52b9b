"""CLI — the spark-submit entry point (≙ the reference's `addok`
command surface, ``addok/bin/__init__.py``: batch import / search
shell / bench; autocomplete needs no ``ngrams`` post-pass, it reads
the term dictionary).

Deploy:
    zip -r addok_spark.zip addok_spark
    spark-submit --py-files addok_spark.zip -m addok_spark build ...

Local:
    python -m addok_spark build  --input corpus.parquet --index /idx
    python -m addok_spark search --index /idx -q "rue des lilas" -k 10
    python -m addok_spark shell  --index /idx           # interactive REPL
    python -m addok_spark actions --index /idx --input changes.parquet
    python -m addok_spark info   --index /idx           # ≙ shell DBINFO
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _spark(args):
    from .session import build_session

    return build_session(
        cores=args.cores, shuffle_partitions=None, driver_memory=args.driver_memory
    )


def _cfg(args):
    import os

    from .config import EngineConfig, config_from_module

    kw = {}
    if getattr(args, "no_side_tables", False):
        kw["build_pairs"] = False
    # only EXPLICITLY-GIVEN flags become overrides — a config-file
    # knob must never be clobbered by a flag the user didn't pass
    if getattr(args, "log_dir", None):
        kw["log_dir"] = args.log_dir
    if getattr(args, "log_queries", False):
        kw["log_queries"] = True
    if getattr(args, "log_not_found", False):
        kw["log_not_found"] = True
    if getattr(args, "slow_queries", 0):
        kw["slow_queries"] = args.slow_queries
    if getattr(args, "synonyms", None):
        from .functions.text import load_synonyms

        with open(args.synonyms) as fh:
            kw["synonyms"] = load_synonyms(fh)
    if str(args.cores).isdigit():
        kw["build_partitions"] = int(args.cores) * 2
    # reference-style config module (≙ ADDOK_CONFIG_MODULE,
    # addok/config/__init__.py:32-96): file is the base, flags win
    cfg_path = getattr(args, "config", None) or os.environ.get(
        "ADDOK_SPARK_CONFIG"
    )
    cfg = (
        config_from_module(cfg_path, **kw) if cfg_path
        else EngineConfig(**kw)
    )
    if (
        (cfg.log_queries or cfg.log_not_found or cfg.slow_queries)
        and not cfg.log_dir
    ):
        cfg.log_dir = "."  # logging asked for, nowhere named: cwd
    return cfg


def cmd_build(args) -> None:
    from .index.build import build_index

    spark = _spark(args)
    corpus = spark.read.parquet(args.input)
    paths = build_index(spark, corpus, _cfg(args), args.index, resume=not args.no_resume)
    print(json.dumps(json.loads(paths.meta.read_text()), indent=2))


def cmd_search(args) -> None:
    from .query.engine import Query

    filters = json.loads(args.filters) if args.filters else {}
    queries = [Query(qid="cli", q=args.query, k=args.k,
                     autocomplete=args.autocomplete, filters=filters,
                     phrase=getattr(args, "phrase", False))]
    if getattr(args, "local", False):
        # warm serving tier: no Spark session, pruned parquet reads
        from .serving.local import LocalSearchEngine

        res = LocalSearchEngine(args.index, _cfg(args)).search(
            queries
        ).to_dict("records")
    else:
        from .query.engine import SearchEngine

        spark = _spark(args)
        res = SearchEngine(spark, args.index, _cfg(args)).search(
            queries
        ).collect()
    for r in res:  # GeoJSON-render analog: one JSON object per hit
        print(json.dumps(
            {
                "rank": int(r["rank"]), "conv_id": r["conv_id"],
                "turn_idx": int(r["turn_idx"]), "role": r["role"],
                "tool": r["tool"], "score": float(r["score"]),
                "text": r["text"],
            }
        ))


def cmd_serve(args) -> None:
    """HTTP serving from the parquet index through the warm serving
    tier — no Spark session."""
    from .http_api import make_server
    from .serving.local import LocalSearchEngine

    engine = LocalSearchEngine(args.index, _cfg(args))
    preload = getattr(args, "preload", 0)
    if preload:
        t0 = time.time()
        n = engine.preload(preload)
        print(
            f"preloaded {n} hot tokens' blocks "
            f"in {time.time() - t0:.1f}s"
        )
    srv = make_server(engine, host=args.host, port=args.port)
    print(f"serving on http://{args.host}:{srv.server_address[1]}/search/")
    try:
        srv.serve_forever()
    except KeyboardInterrupt:
        pass


def cmd_explain(args) -> None:
    """Token groups, candidates, timing and results for one query
    (≙ the reference shell's EXPLAIN, addok/shell.py:282-327), run on
    the serving tier so the timing covers the whole executed query."""
    from .query.engine import Query
    from .serving.local import LocalSearchEngine
    from .shell import explain_search

    eng = LocalSearchEngine(args.index, _cfg(args))
    filters = json.loads(args.filters) if args.filters else {}
    res = eng.search(
        [Query(qid="explain", q=args.query, k=args.k,
               autocomplete=args.autocomplete, filters=filters)]
    )
    print(json.dumps(
        {"query": args.query, **explain_search(eng, res)}, indent=2
    ))


def cmd_shell(args) -> None:
    """Interactive REPL (≙ `addok shell`, addok/shell.py)."""
    from .shell import Shell

    Shell(args.index, _cfg(args)).loop()


def cmd_actions(args) -> None:
    from .index.incremental import apply_actions

    spark = _spark(args)
    changes = spark.read.parquet(args.input)
    print(json.dumps(apply_actions(spark, args.index, changes, _cfg(args))))


def pyshell_namespace(args) -> dict:
    """The namespace `pyshell` drops you into (≙ reference pyshell
    user_ns {DB, config, get_document}, addok/shell.py:595-614):
    a live SparkSession, the resolved EngineConfig, a ready
    SearchEngine and a serving-tier ParquetIndex over --index, and
    doc_by_id."""
    from .query.engine import Query, SearchEngine
    from .serving.local import ParquetIndex

    spark = _spark(args)
    cfg = _cfg(args)
    engine = SearchEngine(spark, args.index, cfg)
    index = ParquetIndex(args.index, cfg)

    def doc_by_id(conv_id, turn_idx):
        row = index.get_doc(conv_id, int(turn_idx))
        return [] if row is None else [row]

    return {
        "spark": spark,
        "config": cfg,
        "engine": engine,
        "index": index,
        "Query": Query,
        "doc_by_id": doc_by_id,
    }


def cmd_pyshell(args) -> None:
    import code

    ns = pyshell_namespace(args)
    banner = (
        "addok_spark pyshell — bound: "
        + ", ".join(sorted(ns))
        + "\ne.g. engine.search([Query(qid='q', q='hello world', k=5)]).show()"
    )
    code.interact(banner=banner, local=ns)


def cmd_reset(args) -> None:
    """Delete the ENTIRE index directory — every snapshot, stage and
    manifest (≙ reference `addok reset`, addok/batch.py:33-35 →
    reset(), which FLUSHALLs Redis + removes the doc store). Asks
    for confirmation unless --force, like the reference."""
    import shutil
    from pathlib import Path

    root = Path(args.index)
    if not root.exists():
        print(f"nothing to reset: {root} does not exist")
        return
    if not (root / "meta.json").exists() and not (root / "CURRENT.json").exists():
        # refuse to rm -rf a directory that isn't one of our indexes
        raise SystemExit(
            f"{root} does not look like an addok_spark index "
            "(no meta.json/CURRENT.json); not deleting"
        )
    if not args.force:
        answer = input(f"Delete ALL index data under {root}? [y/N] ")
        if answer.strip().lower() not in ("y", "yes"):
            print("aborted")
            return
    shutil.rmtree(root)
    print(f"reset: removed {root}")


def cmd_info(args) -> None:
    """Index stats (≙ shell DBINFO, addok/shell.py:309-327)."""
    from pathlib import Path

    from .index.build import IndexPaths, read_table, table_files

    spark = _spark(args)
    paths = IndexPaths(Path(args.index)).pin()
    meta = json.loads(paths.meta.read_text())
    blocks = read_table(spark, paths, "blocks")
    from pyspark.sql import functions as F

    agg = blocks.agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum("n").alias("n_postings"),
        F.countDistinct("token").alias("n_tokens"),
    ).collect()[0]
    stats = {k: int(agg[k]) for k in agg.asDict()}
    # on-disk size of the snapshot's blocks files
    stats["blocks_bytes"] = sum(
        f.stat().st_size for f in table_files(paths, "blocks")
    )
    print(json.dumps({**meta, **stats}, indent=2))


def main(argv=None) -> None:
    p = argparse.ArgumentParser(prog="addok_spark")
    p.add_argument("--cores", default="*")
    p.add_argument("--driver-memory", default="16g")
    p.add_argument("--config", default=None,
                   help="reference-style Python config module "
                        "(also read from $ADDOK_SPARK_CONFIG)")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build")
    b.add_argument("--input", required=True)
    b.add_argument("--index", required=True)
    b.add_argument("--synonyms")
    b.add_argument("--no-resume", action="store_true")
    b.add_argument("--no-side-tables", action="store_true")
    b.set_defaults(fn=cmd_build)

    s = sub.add_parser("search")
    s.add_argument("--index", required=True)
    s.add_argument("-q", "--query", required=True)
    s.add_argument("-k", type=int, default=10)
    s.add_argument("--autocomplete", action="store_true")
    s.add_argument("--filters", help='JSON, e.g. {"role": ["user"]}')
    s.add_argument("--synonyms")
    s.add_argument("--local", action="store_true",
                   help="answer from the warm serving tier (no Spark)")
    s.add_argument("--phrase", action="store_true",
                   help="quoted-phrase mode (consecutive tokens in order)")

    sv = sub.add_parser("serve")
    sv.add_argument("--index", required=True)
    sv.add_argument("--host", default="127.0.0.1")
    sv.add_argument("--port", type=int, default=7878)
    sv.add_argument("--synonyms")
    sv.add_argument("--preload", type=int, default=0,
                    help="warm the N highest-df tokens' blocks at startup")
    sv.add_argument("--log-dir", default=None,
                    help="write queries/notfound/slow_queries logs here")
    sv.add_argument("--log-queries", action="store_true")
    sv.add_argument("--log-not-found", action="store_true")
    sv.add_argument("--slow-queries", type=int, default=0,
                    help="log queries slower than N ms")
    sv.set_defaults(fn=cmd_serve)
    s.set_defaults(fn=cmd_search)

    e = sub.add_parser("explain")
    e.add_argument("--index", required=True)
    e.add_argument("-q", "--query", required=True)
    e.add_argument("-k", type=int, default=10)
    e.add_argument("--autocomplete", action="store_true")
    e.add_argument("--filters", help='JSON, e.g. {"role": ["user"]}')
    e.add_argument("--synonyms")
    e.set_defaults(fn=cmd_explain)

    sh = sub.add_parser("shell")
    sh.add_argument("--index", required=True)
    sh.add_argument("--synonyms")
    sh.set_defaults(fn=cmd_shell)

    a = sub.add_parser("actions")
    a.add_argument("--input", required=True)
    a.add_argument("--index", required=True)
    a.set_defaults(fn=cmd_actions)

    i = sub.add_parser("info")
    i.add_argument("--index", required=True)
    i.set_defaults(fn=cmd_info)

    py = sub.add_parser(
        "pyshell", help="Python shell with a live engine (≙ reference pyshell)"
    )
    py.add_argument("--index", required=True)
    py.set_defaults(fn=cmd_pyshell)

    r = sub.add_parser(
        "reset", help="Delete ALL index data (≙ reference reset)"
    )
    r.add_argument("--index", required=True)
    r.add_argument("--force", action="store_true",
                   help="Do not ask for confirm")
    r.set_defaults(fn=cmd_reset)

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
