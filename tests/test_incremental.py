"""CDC (_action index/update/delete) tests — the analog of the
reference's batch/deindex golden tests
(``/root/reference/tests/test_batch.py:8-29``,
``tests/test_index_utils.py:94-167``: update replaces postings,
delete leaves no orphans) plus streaming ingestion."""

import json
from pathlib import Path

import pytest

from pyspark.sql import functions as F

from addok_spark.config import EngineConfig, FieldSpec
from addok_spark.index.build import build_index
from addok_spark.index.fileio import LocalFileIO, NoLinkFileIO
from addok_spark.index.incremental import apply_actions, stream_transcripts
from addok_spark.query.engine import Query, SearchEngine


@pytest.fixture()
def cfg():
    return EngineConfig(
        fields=(FieldSpec("text", 1.0), FieldSpec("tool", 4.0)),
        build_partitions=4,
        doc_bucket_bits=2,
        pbucket_shift=1,
        posting_block_size=2,
        common_threshold=1000,
    )


def _corpus(spark):
    rows = [
        ("conv-a", 0, "user", "rue des Lilas", None, 0.5),
        ("conv-a", 1, "assistant", "avenue des Champs", "grep", 0.5),
        ("conv-b", 0, "user", "boulevard Voltaire", None, 0.25),
        ("conv-b", 1, "tool", "rue du General", "bash", 0.25),
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string,"
        " tool string, importance double"
    )


@pytest.fixture()
def built(spark, cfg, tmp_path):
    out = str(tmp_path / "idx")
    return build_index(spark, _corpus(spark), cfg, out)


def _tokens(spark, paths):
    return {
        r["token"]: r["df"]
        for r in spark.read.parquet(paths.dictionary).collect()
    }


def test_delete_leaves_no_orphans(spark, cfg, built):
    changes = spark.createDataFrame(
        [("conv-a", 0, "user", "rue des Lilas", None, 0.5, "delete")],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, importance double, _action string",
    )
    m = apply_actions(spark, built, changes, cfg)
    assert m["deletes"] == 1
    d = _tokens(spark, built)
    assert "lilas" not in d           # only doc with 'lilas' is gone
    assert d["rue"] == 1              # conv-b/1 still has it
    docs = spark.read.parquet(built.docs)
    assert docs.count() == 3
    assert docs.filter(
        (F.col("conv_id") == "conv-a") & (F.col("turn_idx") == 0)
    ).count() == 0
    # autocomplete follows the dictionary
    from addok_spark.serving.local import ParquetIndex

    assert ParquetIndex(built, cfg).prefix_candidates("lil") == []
    meta = json.loads(built.meta.read_text())
    assert meta["n_docs"] == 3


def test_no_prefix_table_written(spark, cfg, built):
    """Neither the build nor a CDC batch writes a prefixes or pairs
    table, and no build or snapshot manifest lists one: autocomplete
    reads the dictionary and co-occurrence intersects posting lists.
    A prefixes dir an older build left behind is ignored."""
    import shutil

    for d in (built.prefixes, built.pairs):
        assert not Path(d).exists()
    stages = json.loads(built.manifest.read_text())["stages"]
    assert "prefixes" not in stages and "pairs" not in stages
    leftover = Path(built.prefixes) / "pfx_bucket=0"
    shutil.copytree(built.dictionary, leftover)
    changes = spark.createDataFrame(
        [("conv-c", 0, "user", "jardin du Luxembourg", None, 0.9, "index")],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, importance double, _action string",
    )
    m = apply_actions(spark, built, changes, cfg)
    cur = built.pin()
    assert cur.version == m["version"] == 1
    for d in (cur.prefixes, cur.pairs):
        assert not Path(d).exists()
    tables = cur.read_snapshot_manifest()["tables"]
    assert set(tables) == {"docs", "blocks", "dictionary", "dict_partials"}


def test_update_replaces_postings(spark, cfg, built):
    changes = spark.createDataFrame(
        [("conv-a", 0, "user", "place de la Concorde", None, 0.5, "update")],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, importance double, _action string",
    )
    old_idx = {
        (r["conv_id"], r["turn_idx"]): r["doc_index"]
        for r in spark.read.parquet(built.docs).collect()
    }
    apply_actions(spark, built, changes, cfg)
    d = _tokens(spark, built)
    assert "lilas" not in d and "concorde" in d
    new_idx = {
        (r["conv_id"], r["turn_idx"]): r["doc_index"]
        for r in spark.read.parquet(built.docs).collect()
    }
    assert new_idx == old_idx  # update keeps doc ids (stable ordering)


def test_insert_appends_and_searchable(spark, cfg, built):
    changes = spark.createDataFrame(
        [
            ("conv-c", 0, "user", "jardin du Luxembourg", None, 0.9, "index"),
            ("conv-c", 1, "tool", "jardin des Tuileries", "bash", 0.9, None),
        ],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, importance double, _action string",
    )
    m = apply_actions(spark, built, changes, cfg)
    assert m["upserts"] == 2
    docs = spark.read.parquet(built.docs)
    assert docs.count() == 6
    ids = [
        r["doc_index"]
        for r in docs.orderBy("conv_id", "turn_idx").collect()
    ]
    assert ids == sorted(ids) and len(set(ids)) == 6  # dense-ish, ordered
    eng = SearchEngine(spark, built, cfg)
    res = eng.search([Query(qid="q", q="jardin luxembourg", k=5)]).toPandas()
    assert list(res["conv_id"])[0] == "conv-c"
    assert list(res["turn_idx"])[0] == 0


def _cooc_matches_oracle(paths, cfg, corpus_pdf):
    """Serving's ``cooc`` equals the oracle's over the oracle's probe
    pairs on ``corpus_pdf``; returns the serving index."""
    from addok_spark.oracle.bm25_oracle import OracleIndex
    from addok_spark.serving.local import ParquetIndex

    idx = ParquetIndex(paths, cfg)
    oracle = OracleIndex(corpus_pdf, cfg)
    probes = oracle.cooc_probes()
    assert [p for p in probes if idx.cooc(*p) != oracle.cooc(*p)] == []
    return idx


def _apply(spark, paths, cfg, corpus, changes):
    """Apply ``changes`` (rows with an ``_action``); returns the
    batch's metrics and the corpus after it, as pandas."""
    cols = ("conv_id string, turn_idx int, role string, text string,"
            " tool string, importance double")
    m = apply_actions(
        spark, paths,
        spark.createDataFrame(changes, cols + ", _action string"), cfg,
    )
    keys = {(r[0], r[1]) for r in changes}
    kept = [r for r in corpus.collect() if (r[0], r[1]) not in keys]
    kept += [r[:-1] for r in changes if r[-1] != "delete"]
    return m, spark.createDataFrame(kept, cols).toPandas()


def test_pairs_follow_cdc(spark, cfg, built):
    """Co-occurrence follows CDC: edges from deleted docs disappear,
    edges from new docs appear (otherwise the relation round uses
    stale edges)."""
    from addok_spark.serving.local import ParquetIndex

    assert ParquetIndex(built, cfg).cooc("des", "lilas")  # from conv-a/0
    _, after = _apply(spark, built, cfg, _corpus(spark), [
        ("conv-a", 0, "user", "rue des Lilas", None, 0.5, "delete"),
        ("conv-d", 0, "user", "quai branly musee", None, 0.3, "index"),
    ])
    idx = _cooc_matches_oracle(built, cfg, after)
    assert not idx.cooc("des", "lilas")        # stale edge gone
    assert idx.cooc("branly", "quai")          # new doc's edges present


def test_last_action_per_key_is_deterministic(spark, cfg, built):
    """A micro-batch carrying index THEN delete for one key must
    resolve by the sequence column (_seq), not row luck."""
    changes = spark.createDataFrame(
        [
            ("conv-a", 1, "assistant", "replaced text one", "grep", 0.5, "index", 1),
            ("conv-a", 1, "assistant", "replaced text two", "grep", 0.5, "delete", 2),
        ],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, importance double, _action string, _seq int",
    )
    m = apply_actions(spark, built, changes, cfg)
    assert m["deletes"] == 1 and m["upserts"] == 0
    docs = spark.read.parquet(built.docs)
    assert docs.filter(
        (F.col("conv_id") == "conv-a") & (F.col("turn_idx") == 1)
    ).count() == 0


def test_streaming_foreachbatch(spark, cfg, built, tmp_path):
    """File-source micro-batches → foreachBatch(apply_actions)."""
    src = tmp_path / "stream_src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    (src / "b1.json").write_text(
        json.dumps(
            {
                "conv_id": "conv-z", "turn_idx": 0, "role": "user",
                "text": "streaming ingestion works", "tool": None,
                "importance": 0.1, "_action": "index",
            }
        )
        + "\n"
    )
    schema = (
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, importance double, _action string"
    )
    stream = spark.readStream.schema(schema).json(str(src))
    q = stream_transcripts(spark, stream, built, cfg, ckpt, trigger_once=True)
    q.awaitTermination(120)
    d = _tokens(spark, built)
    assert "streaming" in d and "ingestion" in d
    eng = SearchEngine(spark, built, cfg)
    res = eng.search([Query(qid="s", q="streaming ingestion", k=3)]).toPandas()
    assert list(res["conv_id"])[0] == "conv-z"


def _bigger_corpus(spark, n=24):
    rows = [
        (f"conv-{i:03d}", 0, "user", f"alpha tok{i:03d} omega", None, 0.1)
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string,"
        " tool string, importance double"
    )


def _pb_files(base, skip_pb):
    """{relative path: (inode, mtime_ns, size)} of every parquet file
    NOT under the given pbucket partitions. A snapshot shares
    untouched partition files (hardlinked into the next version dir,
    or referenced where they are), so "not rewritten" ⟺ the same
    inode with the same mtime — zero bytes recomputed or copied."""
    out = {}
    base = Path(base)
    for p in base.rglob("*.parquet"):
        if not any(f"pbucket={pb}" in p.parts for pb in skip_pb):
            st = p.stat()
            out[str(p.relative_to(base))] = (
                st.st_ino, st.st_mtime_ns, st.st_size
            )
    return out


@pytest.mark.parametrize(
    "fileio", [LocalFileIO(), NoLinkFileIO()], ids=["local", "nolink"]
)
def test_cdc_leaves_untouched_pbuckets_alone(spark, cfg, tmp_path, fileio):
    """Verdict #4 done-criterion: a CDC batch must not re-read or
    rewrite untouched pbuckets — asserted via (a) the untouched
    partitions' manifest entries across a second batch: the same
    names, resolving to the same files (inode, mtime, size — hardlinks
    under LocalFileIO), and under NoLinkFileIO the very same
    locations, and (b) the partials read plan carrying a pbucket
    partition filter — while global df/cf stay EXACTLY consistent
    (full-recompute comparison)."""
    from addok_spark.index.build import dictionary_from_blocks, read_table

    out = str(tmp_path / "idx_untouched")
    paths = build_index(spark, _bigger_corpus(spark), cfg, out)
    # update one doc -> its pbucket only
    changes = spark.createDataFrame(
        [("conv-001", 0, "user", "alpha tok001 REVISED omega", None, 0.1)],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, importance double",
    )
    # plan check: the old-partials read used by apply_actions prunes
    # partitions (same read shape as incremental.py builds)
    plan = (
        spark.read.parquet(paths.dict_partials)
        .filter(F.col("pbucket").isin([0]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "pbucket" in plan

    m0 = apply_actions(spark, paths, changes, cfg, fileio=fileio)
    touched = m0["touched_pbuckets"]
    assert len(touched) == 1

    def untouched(table):
        entries = paths.pin().table_entries(table)
        return {
            name: rel for name, rel in entries.items()
            if name not in {f"pbucket={t}" for t in touched}
        }

    def files(entries):
        return {
            name: _pb_files(Path(paths.root) / rel, ())
            for name, rel in entries.items()
        }

    tables = ("docs", "blocks", "dict_partials")
    before = {t: untouched(t) for t in tables}
    before_files = {t: files(e) for t, e in before.items()}
    # second batch touching the same pbucket again
    changes2 = spark.createDataFrame(
        [("conv-001", 0, "user", "alpha tok001 AGAIN omega", None, 0.1)],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, importance double",
    )
    m1 = apply_actions(spark, paths, changes2, cfg, fileio=fileio)
    assert m1["touched_pbuckets"] == touched
    for t in tables:
        after = untouched(t)
        assert after and set(after) == set(before[t]), t
        assert files(after) == before_files[t], (
            f"untouched {t} partitions were rewritten"
        )
        if isinstance(fileio, NoLinkFileIO):
            assert after == before[t], f"untouched {t} entries moved"
    # exactness: dictionary == full recompute from blocks
    blocks = read_table(spark, paths, "blocks")
    dictionary = read_table(spark, paths, "dictionary")
    got = {(r["token"], r["df"], r["cf"]) for r in dictionary.collect()}
    want = {
        (r["token"], r["df"], r["cf"])
        for r in dictionary_from_blocks(blocks).collect()
    }
    assert got == want


def _crossing_cfg():
    return EngineConfig(
        fields=(FieldSpec("text", 1.0),),
        build_partitions=4,
        doc_bucket_bits=2,
        pbucket_shift=1,
        posting_block_size=2,
        common_threshold=2,
    )


def _texts_df(spark, texts):
    return spark.createDataFrame(
        [(f"conv-{i:03d}", 0, "user", t, None, 0.1) for i, t in enumerate(texts)],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, importance double",
    )


def test_common_threshold_crossing_rebuilds_pairs_exactly(spark, tmp_path):
    """A token whose df crosses the common threshold stops co-occurring
    with every token, in pbuckets the batch never touched too."""
    from addok_spark.serving.local import ParquetIndex

    cfg2 = _crossing_cfg()
    # zulu df=2 (non-common) spread over two pbuckets; each doc pairs
    # zulu with a rare local token
    df = _texts_df(spark, [
        "zulu first0", "first1 only", "first2 only", "first3 only",
        "first4 only", "first5 only", "first6 only", "first7 only",
        "zulu ninth8", "ninth9 only",
    ])
    paths = build_index(spark, df, cfg2, str(tmp_path / "idx_cross"))
    idx0 = ParquetIndex(paths, cfg2)
    assert idx0.cooc("first0", "zulu") and idx0.cooc("ninth8", "zulu")
    # add a third zulu doc (new pbucket) -> df=3 > threshold -> common
    _, after = _apply(spark, paths, cfg2, df, [
        ("conv-100", 0, "user", "zulu extra", None, 0.1, "index"),
    ])
    idx = _cooc_matches_oracle(paths, cfg2, after)
    assert not idx.cooc("first0", "zulu") and not idx.cooc("ninth8", "zulu")


def test_common_token_falling_below_threshold_regains_pairs(spark, tmp_path):
    """The other crossing direction: deletes drop a COMMON token's df
    to the threshold, so it co-occurs again with the tokens of
    pbuckets the batch never touched."""
    from addok_spark.serving.local import ParquetIndex

    cfg2 = _crossing_cfg()
    # 8 docs per pbucket: zulu sits in pbuckets 0, 1 and 2 → df=3 > 2
    texts = [f"fill{i} word{i}" for i in range(17)]
    texts[0], texts[8], texts[16] = "zulu first0", "zulu ninth8", "zulu last16"
    df = _texts_df(spark, texts)
    paths = build_index(spark, df, cfg2, str(tmp_path / "idx_uncommon"))
    assert not ParquetIndex(paths, cfg2).cooc("first0", "zulu")  # common
    # delete the pbucket-2 zulu doc -> df=2 -> no longer common
    m, after = _apply(spark, paths, cfg2, df, [
        ("conv-016", 0, "user", None, None, 0.1, "delete"),
    ])
    assert m["touched_pbuckets"] == [2]
    idx = _cooc_matches_oracle(paths, cfg2, after)
    # co-occurrence came back in the two UNTOUCHED pbuckets
    assert idx.cooc("first0", "zulu") and idx.cooc("ninth8", "zulu")


def test_backfill_batch_routes_through_range_assigner(spark, cfg, built):
    """New docs get their ids from the bulk build's two-pass range
    assigner — ids stay dense, appended after the old max, in
    (conv_id, turn_idx) order."""
    docs0 = spark.read.parquet(built.docs)
    max0 = docs0.agg(F.max("doc_index")).collect()[0][0]
    rows = [
        (f"conv-z{i:04d}", j, "user", f"backfill text {i} {j}", None, 0.0)
        for i in range(20)
        for j in range(3)
    ]
    changes = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string,"
        " tool string, importance double",
    )
    m = apply_actions(spark, built, changes, cfg)
    assert m["upserts"] == 60
    new = (
        spark.read.parquet(built.docs)
        .filter(F.col("doc_index") > max0)
        .orderBy("doc_index")
        .select("conv_id", "turn_idx", "doc_index")
        .collect()
    )
    ids = [r["doc_index"] for r in new]
    assert ids == list(range(max0 + 1, max0 + 61))
    keys = [(r["conv_id"], r["turn_idx"]) for r in new]
    assert keys == sorted(keys)


def test_cdc_nullified_required_field_deindexes(spark, tmp_path):
    """An update that blanks an ``allow_null=False`` field behaves as
    the reference's skip-on-null (index_document refuses it after the
    deindex step of an update): the doc disappears from the index;
    a CREATE with a null field is a no-op rather than an error."""
    ncfg = EngineConfig(
        fields=(FieldSpec("text", 1.0, allow_null=False), FieldSpec("tool", 4.0)),
        build_partitions=4, doc_bucket_bits=2, pbucket_shift=1,
        posting_block_size=2, common_threshold=1000,
    )
    paths = build_index(spark, _corpus(spark), ncfg, str(tmp_path / "nidx"))
    changes = spark.createDataFrame(
        [
            # blank out conv-a/0's text → must deindex it
            ("conv-a", 0, "user", "", None, 0.5, "update"),
            # brand-new key with null text → skipped, not an error
            ("conv-z", 9, "user", None, "bash", 0.1, "index"),
        ],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, importance double, _action string",
    )
    m = apply_actions(spark, paths, changes, ncfg)
    cur = paths.pin()
    keys = {
        (r["conv_id"], r["turn_idx"])
        for r in spark.read.parquet(cur.docs)
        .select("conv_id", "turn_idx").collect()
    }
    assert ("conv-a", 0) not in keys
    assert ("conv-z", 9) not in keys
    assert len(keys) == 3
    eng = SearchEngine(spark, cur, ncfg)
    got = eng.search([Query(qid="q", q="lilas", k=5)]).toPandas()
    assert got.empty


def test_snapshot_publish_atomic_and_versioned(spark, cfg, built):
    """Every CDC batch publishes a complete NEW snapshot dir and
    flips CURRENT.json atomically; the previous snapshot's tables
    stay intact for pinned readers (no rmtree on a live path)."""
    assert built.current_version() is None  # fresh bulk build = flat
    pinned = built.pin()
    changes = spark.createDataFrame(
        [("conv-a", 0, "user", "rue des Tulipes", None, 0.5, "index")],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, importance double, _action string",
    )
    m1 = apply_actions(spark, built, changes, cfg)
    assert m1["version"] == 1 and built.current_version() == 1
    # dynamic paths follow the publish; the pinned reader does not
    assert "tulipes" in _tokens(spark, built)
    assert "tulipes" not in _tokens(spark, pinned)
    assert "lilas" in _tokens(spark, pinned)
    # a second batch lands in v2 and v1 survives (snapshot_keep=2)
    changes2 = spark.createDataFrame(
        [("conv-a", 0, "user", "rue des Roses", None, 0.5, "index")],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, importance double, _action string",
    )
    m2 = apply_actions(spark, built, changes2, cfg)
    assert m2["version"] == 2 and built.current_version() == 2
    assert (built.root / "v000001").exists()
    assert "roses" in _tokens(spark, built)
    v1 = built.root / "v000001"
    assert (v1 / "dictionary").exists() and (v1 / "meta.json").exists()


def test_concurrent_readers_never_torn(spark, cfg, tmp_path):
    """Readers opened at ANY moment during a stream of CDC batches
    see a complete index: dictionary loaded, autocomplete answering,
    queries answer — the torn-read window of in-place partition
    rewrites must not exist."""
    import threading

    from addok_spark.data.transcripts import transcripts_df
    from addok_spark.serving.local import ParquetIndex

    out = str(tmp_path / "cidx")
    corpus = transcripts_df(spark, 10, seed=42)
    paths = build_index(spark, corpus, cfg, out)
    probe = ParquetIndex(out, cfg)
    # a live prefix: the edge n-gram of a dictionary token
    a_prefix = next(
        t[: cfg.min_edge_ngram] for t in sorted(probe.df)
        if len(t) > cfg.min_edge_ngram and t.isalpha()
    )
    n_tokens0 = len(probe.df)

    errors: list = []
    openings = [0]
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                idx = ParquetIndex(out, cfg)  # fresh open → pins CURRENT
                assert idx.n_docs > 0
                assert len(idx.df) >= n_tokens0 - 5, "torn dictionary"
                assert idx.prefix_candidates(a_prefix), "torn dictionary"
                openings[0] += 1
            except Exception as e:  # pragma: no cover - failure detail
                errors.append(e)
                stop.set()

    t = threading.Thread(target=reader)
    t.start()
    try:
        for i in range(3):
            changes = spark.createDataFrame(
                [(f"conv-n{i}", 0, "user", f"fresh snapshot text {i}",
                  None, 0.1, "index")],
                "conv_id string, turn_idx int, role string, text string,"
                " tool string, importance double, _action string",
            )
            apply_actions(spark, paths, changes, cfg)
    finally:
        stop.set()
        t.join()
    assert not errors, errors[:1]
    assert openings[0] > 0
    assert paths.current_version() == 3
    # GC kept the published + previous snapshot only (keep=2)
    vdirs = sorted(p.name for p in Path(out).iterdir()
                   if p.name.startswith("v00"))
    assert vdirs == ["v000002", "v000003"]


def test_delete_of_nonexistent_id_is_noop(spark, cfg, built):
    """≙ reference test_deindex_document_should_not_fail_if_id_do_not_exist
    (tests/test_index_utils.py:203-204): deleting an id the index
    never held must not fail and must not change the index."""
    before = _tokens(spark, built)
    n_before = spark.read.parquet(built.docs).count()
    changes = spark.createDataFrame(
        [("conv-zz", 99, "user", None, None, 0.0, "delete")],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, importance double, _action string",
    )
    m = apply_actions(spark, built, changes, cfg)
    assert m["deletes"] == 0 or m["deletes"] == 1  # counted or not —
    # the contract is: nothing breaks and nothing changes
    assert _tokens(spark, built) == before
    assert spark.read.parquet(built.docs).count() == n_before
    # a real query still works afterwards
    from addok_spark.query.engine import Query, SearchEngine

    res = SearchEngine(spark, built, cfg).search(
        [Query(qid="x", q="rue des lilas", k=3)]
    ).collect()
    assert res and res[0]["conv_id"] == "conv-a"


def test_noop_batch_reports_current_version(spark, cfg, built):
    """ADVICE r4: a batch touching nothing (delete of a nonexistent
    key) returns early — it must still carry the promised "version"
    key (the STILL-CURRENT snapshot), not KeyError on readers."""
    before = built.pin().version or 0
    changes = spark.createDataFrame(
        [("no-such-conv", 999, "user", None, None, 0.0, "delete", 1)],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, importance double, _action string, _seq int",
    )
    m = apply_actions(spark, built, changes, cfg)
    assert m["touched_pbuckets"] == [] and m["upserts"] == 0
    assert m["version"] == before


def test_batch_id_replay_is_skipped(spark, cfg, built):
    """VERDICT r4 #6: exactly-once over snapshot versions — a replayed
    foreachBatch batch id (crash between publish and checkpoint
    commit) must be recognized from the manifest and skipped without
    building a new snapshot."""
    changes = spark.createDataFrame(
        [("conv-r", 7, "user", "replay guard text", None, 0.2, "index", 1)],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, importance double, _action string, _seq int",
    )
    m1 = apply_actions(spark, built, changes, cfg, batch_id=41)
    assert m1["upserts"] == 1 and "replayed" not in m1
    import json as _json

    meta = _json.loads(built.pin().meta.read_text())
    assert meta["applied_batches"][-1]["batch_id"] == 41
    # replay: same batch id again
    m2 = apply_actions(spark, built, changes, cfg, batch_id=41)
    assert m2.get("replayed") is True
    assert m2["version"] == m1["version"], "no new snapshot on replay"
    # a different batch id applies normally
    m3 = apply_actions(spark, built, changes, cfg, batch_id=42)
    assert m3["version"] == m1["version"] + 1


def test_streaming_rate_source(spark, cfg, built):
    """VERDICT r4 #6 'done' condition: a rate-source stream (the
    Kafka-shaped unbounded source Spark ships for tests) through
    stream_transcripts lands searchable documents."""
    import tempfile

    ckpt = tempfile.mkdtemp(prefix="rate_ckpt_")
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 200)
        .load()
        .selectExpr(
            "concat('conv-rate-', cast(value % 4 as string)) as conv_id",
            "cast(value as int) as turn_idx",
            "'user' as role",
            "concat('ratesource payload token', cast(value as string)) as text",
            "cast(null as string) as tool",
            "0.1 as importance",
        )
    )
    q = stream_transcripts(spark, stream, built, cfg, ckpt, trigger_once=False)
    import time as _time

    deadline = _time.time() + 90
    try:
        while _time.time() < deadline:
            d = _tokens(spark, built)
            if "ratesource" in d:
                break
            _time.sleep(2)
        else:
            raise AssertionError("rate-source rows never landed")
    finally:
        q.stop()
    eng = SearchEngine(spark, built, cfg)
    res = eng.search([Query(qid="r", q="ratesource payload", k=3)]).toPandas()
    assert len(res) > 0 and res["conv_id"].str.startswith("conv-rate-").all()


def test_time_travel_reads_pinned_versions(spark, cfg, built):
    """Iceberg-style time travel: IndexPaths(root, version=N) reads
    the snapshot as of batch N — historical queries over retained
    snapshots, independent of later publishes."""
    from addok_spark.index.build import IndexPaths
    from addok_spark.query.engine import Query, SearchEngine

    cfg.snapshot_keep = 5
    schema = ("conv_id string, turn_idx int, role string, text string,"
              " tool string, importance double, _action string")
    m1 = apply_actions(spark, built, spark.createDataFrame(
        [("conv-c", 0, "user", "jardin des Tulipes", None, 0.5, "index")],
        schema), cfg)
    m2 = apply_actions(spark, built, spark.createDataFrame(
        [("conv-d", 0, "user", "place des Roses", None, 0.5, "index")],
        schema), cfg)
    assert (m1["version"], m2["version"]) == (1, 2)

    v1 = IndexPaths(built.root, version=1)
    v2 = IndexPaths(built.root, version=2)
    d1, d2 = _tokens(spark, v1), _tokens(spark, v2)
    assert "tulipes" in d1 and "roses" not in d1   # as of batch 1
    assert "tulipes" in d2 and "roses" in d2       # as of batch 2
    # a pinned engine answers from the historical snapshot
    hits_v1 = SearchEngine(spark, v1, cfg).search(
        [Query(qid="t", q="place des roses", k=5)]
    ).collect()
    assert all("roses" not in (r["text"] or "").lower() for r in hits_v1)
    hits_v2 = SearchEngine(spark, v2, cfg).search(
        [Query(qid="t", q="place des roses", k=5)]
    ).collect()
    assert any("roses" in (r["text"] or "").lower() for r in hits_v2)


def _persisted_rdds(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.mark.parametrize("fail_on", [None, "blocks", "dictionary"])
def test_batch_releases_persisted_relations(spark, cfg, built, monkeypatch,
                                            fail_on):
    """Every relation a batch persists is released when it returns AND
    when a staged write raises midway ("blocks": after the analyzed
    rows are cached; "dictionary": the last write) — nothing stays pinned
    for the life of the session, and the failed batch publishes
    nothing, so the next batch applies cleanly."""
    from pyspark.sql.readwriter import DataFrameWriter

    changes = spark.createDataFrame(
        [
            ("conv-a", 0, "user", "rue des Tulipes", None, 0.5, "update"),
            ("conv-e", 0, "user", "quai de la Loire", None, 0.2, "index"),
            ("conv-b", 1, "tool", None, None, 0.0, "delete"),
        ],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, importance double, _action string",
    )
    before = _persisted_rdds(spark)
    if fail_on is None:
        apply_actions(spark, built, changes, cfg)
        assert _persisted_rdds(spark) == before
        assert built.current_version() == 1
        return

    real = DataFrameWriter.parquet

    def failing(self, path, *a, **kw):
        if Path(path).name == fail_on:
            raise OSError(f"injected failure writing {path}")
        return real(self, path, *a, **kw)

    with monkeypatch.context() as mp:
        mp.setattr(DataFrameWriter, "parquet", failing)
        with pytest.raises(OSError, match="injected"):
            apply_actions(spark, built, changes, cfg)
    assert _persisted_rdds(spark) == before
    assert built.current_version() is None  # nothing was published
    m = apply_actions(spark, built, changes, cfg)
    assert m["version"] == 1 and _persisted_rdds(spark) == before
    assert "tulipes" in _tokens(spark, built) and "lilas" not in _tokens(spark, built)
