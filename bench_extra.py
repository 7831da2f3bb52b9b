"""Extra benchmarks for optimization work (bench.py is FROZEN for
driver measurement — this file exists so optimization rounds can
iterate on individual operators without touching it).

Usage:
  python bench_extra.py [--reps N] [--plans DIR] [--noop] [q1 q2 ...]
  python bench_extra.py --serve-kinds SEED [--index DIR] [--dump FILE | --check FILE]

- Times each named query (default: the full bench.py HEADLINE list)
  with the same methodology as bench.py (`fn(spark, SF_DIR).count()`
  in a local[$SPARK_GRAFT_CPUS] session, same config), `--reps N`
  times, reporting each sample and the min.
- `--plans DIR` additionally writes `.explain("formatted")` for each
  query to DIR/<name>.txt (the r06 plan evidence).
- `--noop` uses the noop sink (guide §1.4: computes every column)
  instead of .count() — isolates computation from count's pruning.

Prints one JSON line at the end: {"queries": {name: [s, ...]},
"queries_min": {name: s}}.

`--serve-kinds SEED` instead measures first-touch serving CPU per
query kind in perfbench's `spark_batch` serving shape: the workload's
corpus and query mix for SEED, four rounds of 128 queries, each round
on a newly opened `LocalSearchEngine`, and the process CPU time of
each `search([q])`. The index is built with Spark into `--index DIR`
(reused when DIR already holds one; a temporary directory otherwise).
Prints one JSON line: the overall median and nearest-rank p90 (ms),
per kind the query count, median, p90 and how many of its queries
cost more than the overall p90, and `rss_mb`, each round's growth in
resident memory from just before its engine opens to the end of its
queries, read the way perfbench reads `serve_rss_mb` (after
`gc.collect()`, Arrow's `release_unused()` and `malloc_trim`). After
that read, each round runs its queries once more on the same engine,
every cache they filled now warm; `hot_p50_ms` is the median wall time
of those repeats, the warm fixed cost per query that perfbench's
`serve.hot_query_p50_ms` reads.

`--dump FILE` also pickles the result frame of every `search([q])`
call of that loop, in call order. `--check FILE` instead compares each
call's frame with the one FILE holds (`assert_frame_equal`,
`check_exact=True`) and exits 1 on the first mismatch: run `--dump` on
one tree and `--check` on another to show two trees answer
bit-identically.
"""

from __future__ import annotations

import json
import os
import pickle
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def serve_kinds(seed: int, index_dir: str | None, frames: list | None = None) -> dict:
    """Per-kind first-touch serving CPU in the ``spark_batch`` shape.
    Each call's result frame is appended to ``frames`` when given."""
    import statistics
    import tempfile

    sys.path.insert(0, str(Path(__file__).resolve().parent / "perfbench"))
    import workloads as W
    from layers import p90

    from addok_spark.data.transcripts import transcripts_pdf
    from addok_spark.serving.local import LocalSearchEngine

    cfg = W.engine_cfg()
    corpus = transcripts_pdf(W.N_CONVS, seed=seed)
    pools = W.query_pools(corpus, W.SERVED * W.SERVE_ROUNDS // len(W.KINDS),
                          seed + 29, "v")
    kind_of = {q.qid: k for k, qs in pools.items() for q in qs}
    served = W.interleave(pools)
    tmp = None
    if index_dir is None:
        tmp = tempfile.TemporaryDirectory(prefix="serve_kinds_")
        index_dir = str(Path(tmp.name) / "idx")
    if not (Path(index_dir) / "meta.json").exists():
        from addok_spark.index.build import build_index
        from addok_spark.session import build_session

        import pyarrow as pa
        import pyarrow.parquet as pq

        # the corpus file perfbench's write_corpus writes
        src = Path(index_dir).parent / f"corpus_{seed}.parquet"
        schema = pa.schema([
            ("conv_id", pa.string()), ("turn_idx", pa.int32()),
            ("role", pa.string()), ("text", pa.string()), ("tool", pa.string()),
            ("ts", pa.timestamp("us")), ("importance", pa.float64()),
        ])
        pq.write_table(pa.Table.from_pandas(corpus, schema=schema,
                                            preserve_index=False), str(src))
        spark = build_session(cores=CPUS, app_name="addok_spark_serve_kinds")
        build_index(spark, spark.read.parquet(str(src)), cfg, index_dir,
                    resume=False)
        spark.stop()
    cpu: list[tuple[str, float]] = []
    rss: list[float] = []
    hot: list[float] = []
    for r in range(W.SERVE_ROUNDS):
        srv = None   # free the previous round's engine before rss0
        rss0 = W._rss_mb()
        srv = LocalSearchEngine(index_dir, cfg)
        round_qs = served[r * W.SERVED:(r + 1) * W.SERVED]
        for q in round_qs:
            c0 = time.process_time()
            got = srv.search([q])
            if frames is not None:
                frames.append(got)
            cpu.append((kind_of[q.qid], (time.process_time() - c0) * 1000.0))
        rss.append(round(W._rss_mb() - rss0, 2))
        for q in round_qs:
            t0 = time.perf_counter()
            srv.search([q])
            hot.append((time.perf_counter() - t0) * 1000.0)
    if tmp is not None:
        tmp.cleanup()
    overall = p90([c for _, c in cpu])
    kinds = {}
    for kind in W.KINDS:
        ms = [c for k, c in cpu if k == kind]
        kinds[kind] = {
            "n": len(ms),
            "median_ms": round(statistics.median(ms), 3),
            "p90_ms": round(p90(ms), 3),
            "above_p90": sum(c > overall for c in ms),
        }
    return {
        "seed": seed,
        "queries": len(cpu),
        "p50_ms": round(statistics.median(c for _, c in cpu), 3),
        "p90_ms": round(overall, 3),
        "rss_mb": rss,
        "hot_p50_ms": round(statistics.median(hot), 3),
        "kinds": kinds,
    }


def check_frames(frames: list, path: str) -> int:
    """0 when ``frames`` equal the dumped ones call for call, else 1."""
    import pandas as pd

    with open(path, "rb") as f:
        want = pickle.load(f)
    if len(frames) != len(want):
        print(f"{len(frames)} calls, the dump holds {len(want)}", file=sys.stderr)
        return 1
    for i, (g, w) in enumerate(zip(frames, want)):
        try:
            pd.testing.assert_frame_equal(g, w, check_exact=True)
        except AssertionError as e:
            print(f"call {i} differs: {e}", file=sys.stderr)
            return 1
    print(f"{len(frames)} calls, {sum(map(len, frames))} rows identical",
          file=sys.stderr)
    return 0


def main() -> None:
    args = sys.argv[1:]
    if "--serve-kinds" in args:
        i = args.index("--serve-kinds")
        index_dir = None
        if "--index" in args:
            index_dir = args[args.index("--index") + 1]
        # frames are kept only to dump or check: held, they would count
        # in the rounds' resident memory
        keep = "--dump" in args or "--check" in args
        frames: list | None = [] if keep else None
        out = serve_kinds(int(args[i + 1]), index_dir, frames)
        print(json.dumps({"serve_kinds": out}))
        if "--dump" in args:
            with open(args[args.index("--dump") + 1], "wb") as f:
                pickle.dump(frames, f)
        elif "--check" in args:
            sys.exit(check_frames(frames, args[args.index("--check") + 1]))
        return
    reps = 1
    plans_dir = None
    use_noop = False
    names = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--reps":
            reps = int(args[i + 1])
            i += 2
        elif a == "--plans":
            plans_dir = Path(args[i + 1])
            plans_dir.mkdir(parents=True, exist_ok=True)
            i += 2
        elif a == "--noop":
            use_noop = True
            i += 1
        else:
            names.append(a)
            i += 1

    from addok_spark.session import build_session
    from addok_spark.entry_queries import QUERIES

    if not names:
        import bench

        names = list(bench.HEADLINE)

    spark = build_session(
        cores=CPUS,
        shuffle_partitions=max(CPUS * 3, 8),
        driver_memory="48g",
        app_name="addok_spark_bench_extra",
    )
    # same warm-up as bench.py
    for name in ("token_dictionary", "cosine_topk"):
        QUERIES[name](spark, "/root/testdata/sf0.001").count()

    samples: dict[str, list[float]] = {}
    for name in names:
        fn = QUERIES[name]
        if plans_dir is not None:
            df = fn(spark, SF_DIR)
            txt = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            (plans_dir / f"{name}.txt").write_text(txt)
        samples[name] = []
        for _ in range(reps):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            if use_noop:
                fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            else:
                fn(spark, SF_DIR).count()
            samples[name].append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        print(f"{name}: {samples[name]}", file=sys.stderr)

    spark.sparkContext.setLogLevel("FATAL")
    spark.stop()
    out = {
        "sf": SF_DIR,
        "queries": samples,
        "queries_min": {k: min(v) for k, v in samples.items()},
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
