"""Rank-identity validation at scale: the Spark engine, the
pure-Python oracle and the warm serving tier answer the same query
set over the same corpus and must agree. The Spark engine runs the
serving tier in mapInPandas tasks, so its frame must also equal the
serving frame exactly, and the serving tier's autocomplete prefix
candidates (read from its in-RAM dictionary) must equal the oracle's
for every edge n-gram of every dictionary token, at the default cap,
and its co-occurrence test (a posting-list intersection) the oracle's
pair set on ``OracleIndex.cooc_probes``: every co-occurring pair, as
many non-pairs, common, filter and absent tokens.
The check runs twice: on the bulk-built index, and again
after one CDC batch (updates, deletes and an appended conversation)
published with ``NoLinkFileIO`` — a reference-only snapshot whose
untouched partitions stay in the bulk build's dirs, which the serving
tier opens directly. Run ad hoc per round as the closing evidence
(BASELINE.md records each round's result).

Usage: python scripts/validate_four_way.py [n_convs] [cores]
"""

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import numpy as np
import pandas as pd


def make_queries(pdf, seed):
    from addok_spark.data.transcripts import reference_queries
    from addok_spark.query.engine import Query

    qdf = reference_queries(pdf, n=48, seed=seed)
    queries = [
        Query(qid=r.qid, q=r.q, k=10, autocomplete=(r.kind == "prefix"))
        for r in qdf.itertuples(index=False)
    ]
    # filter-bearing variants of the first exact queries
    for i, r in enumerate(qdf[qdf.kind == "exact"].head(8).itertuples(index=False)):
        queries.append(Query(
            qid=f"f-{i:02d}", q=r.q, k=10,
            filters={"role": ["user", "assistant"][i % 2:i % 2 + 1]},
        ))
    return queries


def check_prefixes(cfg, index, oracle):
    """(number of prefixes checked, mismatches): every edge n-gram of
    every token in either dictionary, serving against the oracle."""
    from addok_spark.functions.text import edge_ngrams_str
    from addok_spark.serving.local import ParquetIndex

    idx = ParquetIndex(index, cfg)
    probes = sorted({
        p for t in set(idx.df) | set(oracle.df)
        for p in edge_ngrams_str(t, cfg.min_edge_ngram, cfg.max_edge_ngram)
    })
    mismatches = []
    for p in probes:
        got, want = idx.prefix_candidates(p), oracle.prefix_candidates(p)
        if got != want:
            mismatches.append((p, got, want))
    return len(probes), mismatches


def check_cooc(cfg, index, oracle):
    """(number of token pairs checked, mismatches): the oracle's
    ``cooc_probes``, serving against the oracle."""
    from addok_spark.serving.local import ParquetIndex

    idx = ParquetIndex(index, cfg)
    probes = oracle.cooc_probes()
    mismatches = [
        (a, b, got, want) for a, b in probes
        if (got := idx.cooc(a, b)) != (want := oracle.cooc(a, b))
    ]
    return len(probes), mismatches


def check_answers(spark, cfg, index, oracle, queries):
    """Rank mismatches against the oracle, whether the engine's frame
    equals the serving frame exactly, and the engine / serving wall
    seconds."""
    from addok_spark.oracle.bm25_oracle import oracle_search
    from addok_spark.query.engine import SearchEngine
    from addok_spark.serving.local import LocalSearchEngine

    t0 = time.time()
    got_engine = SearchEngine(spark, index, cfg).search(queries).toPandas()
    engine_s = time.time() - t0
    want = oracle_search(oracle, queries, cfg)
    srv = LocalSearchEngine(index, cfg)
    t0 = time.time()
    got_srv = srv.search(queries)
    srv_s = time.time() - t0

    def ranks(df):
        out = {}
        for qid, g in df.groupby("qid"):
            g = g.sort_values("rank")
            out[qid] = list(zip(g["conv_id"], g["turn_idx"]))
        return out

    r_e, r_o, r_s = ranks(got_engine), ranks(want), ranks(got_srv)
    mismatches = []
    for qid in sorted(r_o):
        for name, r in (("engine", r_e), ("serving", r_s)):
            if r.get(qid, []) != r_o[qid]:
                mismatches.append((qid, name, r.get(qid, []), r_o[qid]))
    # every column the engine returns, value for value (the engine's
    # rank / turn_idx are int32, the serving frame's int64)
    served = got_srv.sort_values(["qid", "rank"], kind="stable")
    try:
        pd.testing.assert_frame_equal(
            got_engine.reset_index(drop=True),
            served[list(got_engine.columns)].reset_index(drop=True),
            check_exact=True, check_dtype=False,
        )
        exact = True
    except AssertionError as e:
        print("ENGINE != SERVING", str(e)[:500])
        exact = False
    return mismatches, exact, engine_s, srv_s


def change_batch(pdf, seed):
    """One CDC batch against ``pdf``: text updates and deletes among
    the first eighth of the docs (the lowest pbuckets), and one
    appended conversation (its conv_id sorts after every existing one,
    so appended doc ids keep the oracle's (conv_id, turn_idx) order).
    Returns (changes with an ``_action`` column, the corpus after it)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n = max(4, len(pdf) // 200)
    picked = rng.choice(max(len(pdf) // 8, 2 * n), size=2 * n, replace=False)
    upd, dele = picked[:n], picked[n:]
    donors = rng.choice(len(pdf), size=n + 3, replace=False)
    updates = pdf.iloc[upd].copy()
    updates["text"] = [
        f"{pdf['text'].iloc[d]} cdcmark{i:04d}" for i, d in enumerate(donors[:n])
    ]
    updates["_action"] = "index"
    deletes = pdf.iloc[dele].copy()
    deletes["_action"] = "delete"
    appended = pdf.iloc[donors[n:]].copy()
    appended["conv_id"] = "zz-cdc-00000000"
    appended["turn_idx"] = np.arange(len(appended), dtype="int32")
    appended["_action"] = "index"
    changes = pd.concat([updates, deletes, appended], ignore_index=True)
    after = pdf.copy()
    after.loc[after.index[upd], "text"] = updates["text"].to_numpy()
    after = after.drop(after.index[dele])
    after = pd.concat(
        [after, appended.drop(columns="_action")], ignore_index=True
    )
    return changes, after


def main() -> None:
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 2500
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 16

    from pyspark.sql import types as T

    from addok_spark.config import EngineConfig
    from addok_spark.data.transcripts import (
        SCHEMA, transcripts_df, transcripts_pdf,
    )
    from addok_spark.index.build import IndexPaths, build_index
    from addok_spark.index.fileio import NoLinkFileIO
    from addok_spark.index.incremental import apply_actions
    from addok_spark.oracle.bm25_oracle import OracleIndex
    from addok_spark.query.engine import Query
    from addok_spark.session import build_session

    spark = build_session(cores=cores, driver_memory="16g")
    # 1024 docs per pbucket: many partitions, so the CDC snapshot
    # leaves most of them in the bulk build's dirs
    cfg = EngineConfig(build_partitions=cores * 2, common_threshold=10_000,
                       doc_bucket_bits=8, pbucket_shift=2)
    sdf = transcripts_df(spark, n_convs, seed=42)
    out = f"/tmp/val4_{n_convs}"
    import shutil

    shutil.rmtree(out, ignore_errors=True)
    try:
        t0 = time.time()
        paths = build_index(spark, sdf, cfg, out)
        build_s = time.time() - t0
        pdf = transcripts_pdf(n_convs, seed=42)

        changes, after = change_batch(pdf, seed=11)
        schema = T.StructType(
            list(SCHEMA.fields) + [T.StructField("_action", T.StringType())]
        )
        failed = False
        for label, corpus in (("bulk", pdf), ("cdc", after)):
            if label == "cdc":
                t0 = time.time()
                m = apply_actions(
                    spark, paths, spark.createDataFrame(changes, schema), cfg,
                    fileio=NoLinkFileIO(),
                )
                cdc_s = time.time() - t0
                man = IndexPaths(Path(out), m["version"]).read_snapshot_manifest()
                bases = {
                    t: sorted({rel.split("/", 1)[0] for rel in entries.values()})
                    for t, entries in man["tables"].items()
                }
                print(f"CDC version={m['version']} upserts={m['upserts']} "
                      f"deletes={m['deletes']} touched={m['touched_pbuckets']} "
                      f"apply_s={cdc_s:.1f} manifest_bases={bases}")
            queries = make_queries(corpus, seed=7)
            if label == "cdc":  # the updated rows' unique tokens
                queries += [
                    Query(qid=f"mark-{i}", q=f"cdcmark{i:04d}", k=10)
                    for i in range(3)
                ]
            oracle = OracleIndex(corpus, cfg)
            mismatches, exact, engine_s, srv_s = check_answers(
                spark, cfg, out, oracle, queries
            )
            n_prefixes, pfx_mismatches = check_prefixes(cfg, out, oracle)
            n_cooc, cooc_mismatches = check_cooc(cfg, out, oracle)
            print(
                f"RESULT {label} turns={len(corpus)} queries={len(queries)} "
                f"mismatches={len(mismatches)} engine_equals_serving={exact} "
                f"prefixes={n_prefixes} prefix_mismatches={len(pfx_mismatches)} "
                f"cooc={n_cooc} cooc_mismatches={len(cooc_mismatches)} "
                f"build_s={build_s:.1f} engine_batch_s_per_q={engine_s/len(queries):.3f} "
                f"serving_cold_ms_per_q={1000*srv_s/len(queries):.1f}"
            )
            for mm in mismatches[:5]:
                print("MISMATCH", mm[0], mm[1], mm[2][:3], "vs", mm[3][:3])
            for p, got, want in pfx_mismatches[:5]:
                print("PREFIX MISMATCH", p, got[:3], "vs", want[:3])
            for mm in cooc_mismatches[:5]:
                print("COOC MISMATCH", *mm)
            failed |= (bool(mismatches) or bool(pfx_mismatches)
                       or bool(cooc_mismatches) or not exact)
    finally:
        # the index is scratch: remove it on every way out
        shutil.rmtree(out, ignore_errors=True)
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
