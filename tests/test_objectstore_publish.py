"""Object-store-safe snapshot publish (VERDICT r4 #4): snapshots
share untouched partitions by MANIFEST REFERENCE (no hardlinks, no
byte copies), commit is a single pointer PUT, every reader (Spark
engine, serving tier) resolves tables through the snapshot's
IndexPaths entries, GC never deletes a dir a retained manifest
references, and a damaged pointer or manifest fails loudly. A
NoLinkFileIO simulates S3 semantics: it never links or copies a data
file."""

import json
from pathlib import Path

import pytest

from pyspark.sql import functions as F

from addok_spark.config import EngineConfig, FieldSpec
from addok_spark.index.build import (
    IndexPaths,
    build_index,
    read_table,
)
from addok_spark.index.fileio import LocalFileIO, NoLinkFileIO
from addok_spark.index.incremental import apply_actions
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


def _corpus(spark, n=16):
    rows = [
        (f"conv-{i:03d}", 0, "user", f"alpha tok{i:03d} omega", None, 0.1)
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string,"
        " tool string, importance double"
    )


def _batch(spark, i, text):
    return spark.createDataFrame(
        [(f"conv-{i:03d}", 0, "user", text, None, 0.5, "update")],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, importance double, _action string",
    )


def _search(spark, paths, cfg, q):
    eng = SearchEngine(spark, paths, cfg)
    return [
        (r["conv_id"], r["turn_idx"], round(r["score"], 6))
        for r in eng.search([Query(qid="q", q=q, k=10)]).collect()
    ]


def _twin(spark, cfg, tmp_path, fileio, name):
    paths = build_index(spark, _corpus(spark), cfg, str(tmp_path / name))
    m = apply_actions(
        spark, paths, _batch(spark, 0, "rewritten zeta payload"),
        cfg, fileio=fileio,
    )
    return paths, m


def test_nolink_publish_shares_by_reference(spark, cfg, tmp_path):
    lp, lm = _twin(spark, cfg, tmp_path, LocalFileIO(), "linked")
    np_, nm = _twin(spark, cfg, tmp_path, NoLinkFileIO(), "nolink")
    assert lm["touched_pbuckets"] == nm["touched_pbuckets"]
    touched = set(nm["touched_pbuckets"])

    # the no-link snapshot dir holds ONLY rewritten partitions
    snap = Path(np_.root) / "v000001"
    for table in ("docs", "blocks"):
        got = {
            p.name for p in (snap / table).iterdir()
            if p.name.startswith("pbucket=")
        }
        assert got == {f"pbucket={v}" for v in touched}, table

    # pointer names the manifest; untouched entries reference v0
    cur = json.loads((Path(np_.root) / "CURRENT.json").read_text())
    assert cur["version"] == 1 and cur["manifest"] == "snapshot-v000001.json"
    man = json.loads((Path(np_.root) / cur["manifest"]).read_text())
    docs_entries = man["tables"]["docs"]
    untouched = {
        k: v for k, v in docs_entries.items()
        if k not in {f"pbucket={t}" for t in touched}
    }
    assert untouched, "some partitions must be untouched"
    assert all(not v.startswith("v000001/") for v in untouched.values())
    assert all(
        docs_entries[f"pbucket={t}"].startswith("v000001/") for t in touched
    )

    # manifest-resolved reads == the hardlink twin, table by table
    for table in ("docs", "blocks", "dictionary", "dict_partials"):
        a = read_table(spark, lp, table)
        b = read_table(spark, np_, table)
        cols = sorted(a.columns)
        assert sorted(b.columns) == cols, table
        ra = sorted(map(tuple, a.select(*cols).collect()))
        rb = sorted(map(tuple, b.select(*cols).collect()))
        assert ra == rb, f"{table} diverged between linked and no-link"

    # and the engine sees identical results
    assert _search(spark, np_, cfg, "rewritten zeta") == _search(
        spark, lp, cfg, "rewritten zeta"
    )
    assert _search(spark, np_, cfg, "alpha tok007") == _search(
        spark, lp, cfg, "alpha tok007"
    )


def test_nolink_chained_batches_resolve_across_snapshots(spark, cfg, tmp_path):
    """Second no-link batch: its manifest must merge references into
    BOTH v0 (still-untouched) and v1 (partitions v1 rewrote that v2
    did not), and reads resolve across all three roots."""
    io = NoLinkFileIO()
    lp, _ = _twin(spark, cfg, tmp_path, LocalFileIO(), "linked")
    np_, m1 = _twin(spark, cfg, tmp_path, io, "nolink")
    b2 = _batch(spark, 15, "second wave theta")
    m2l = apply_actions(spark, lp, b2, cfg)
    m2n = apply_actions(spark, np_, b2, cfg, fileio=io)
    assert m2l["touched_pbuckets"] == m2n["touched_pbuckets"]
    man = json.loads(
        (Path(np_.root) / "snapshot-v000002.json").read_text()
    )
    roots = {
        v.split("/", 1)[0] for v in man["tables"]["docs"].values()
    }
    assert "v000002" in roots
    assert "v000001" in roots or "docs" in roots
    for q in ("rewritten zeta", "second wave", "alpha tok003"):
        assert _search(spark, np_, cfg, q) == _search(spark, lp, cfg, q)


def test_nolink_gc_keeps_referenced_dirs(spark, cfg, tmp_path):
    """GC after publish deletes old snapshot dirs ONLY when no
    retained manifest references them: rewriting the SAME pbucket
    every batch strands the intermediate snapshot's partitions, so
    that dir goes; dirs still referenced survive any age."""
    io = NoLinkFileIO()
    cfg2 = EngineConfig(**{**cfg.__dict__, "snapshot_keep": 1})
    paths = build_index(spark, _corpus(spark), cfg2, str(tmp_path / "gc"))
    for i, text in enumerate(
        ["gc wave one", "gc wave two", "gc wave three"], start=1
    ):
        apply_actions(
            spark, paths, _batch(spark, 0, text), cfg2, fileio=io
        )
        assert paths.current_version() == i
    root = Path(paths.root)
    assert (root / "v000003").exists()
    # with keep=1 only v3's manifest is retained: an old dir survives
    # GC iff that manifest references it — no more (space leak), no
    # less (corruption)
    man = json.loads((root / "snapshot-v000003.json").read_text())
    referenced = {
        rel.split("/", 1)[0]
        for entries in man["tables"].values()
        for rel in entries.values()
    }
    for v in ("v000001", "v000002"):
        assert (root / v).exists() == (v in referenced), v
    # v1's rewrites were all superseded by v2/v3 (same doc each batch)
    # so at least one old dir must actually have been GC'd
    assert "v000001" not in referenced and not (root / "v000001").exists()
    # everything v3's manifest references still resolves
    for entries in man["tables"].values():
        for rel in entries.values():
            assert (root / rel).exists(), rel
    assert _search(spark, paths, cfg2, "gc wave three")
    # the superseded batch's token is gone from the live dictionary
    assert not _search(spark, paths, cfg2, "one")


def _ranks(rows):
    out: dict[str, list] = {}
    for qid, conv, turn in rows:
        out.setdefault(qid, []).append((conv, int(turn)))
    return out


def _frame_ranks(df):
    df = df.sort_values(["qid", "rank"])
    return _ranks(zip(df["qid"], df["conv_id"], df["turn_idx"]))


def test_serving_opens_reference_only_snapshot_directly(spark, cfg, tmp_path):
    """Two chained no-link batches touching different pbuckets leave
    the live partitions spread over v0, v1 and v2. The serving tier
    opens that snapshot as it is and ranks exactly like the Spark
    engine and the oracle. The second batch also deletes one doc and
    appends one, so doc ids end past n_docs and the last pbucket must
    still be served."""
    from addok_spark.oracle.bm25_oracle import OracleIndex, oracle_search
    from addok_spark.serving.local import LocalSearchEngine

    io = NoLinkFileIO()
    n = 32  # pbuckets 0-3 (8 docs each); the appended doc opens pbucket 4
    paths = build_index(spark, _corpus(spark, n), cfg, str(tmp_path / "spread"))
    apply_actions(
        spark, paths, _batch(spark, 0, "rewritten zeta payload"), cfg, fileio=io
    )
    second = spark.createDataFrame(
        [
            (f"conv-{n - 1:03d}", 0, "user", "second wave theta", None, 0.5, "update"),
            (f"conv-{n - 2:03d}", 0, "user", "", None, 0.1, "delete"),
            ("conv-100", 0, "user", "fresh appended kappa", None, 0.5, "index"),
        ],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, importance double, _action string",
    )
    apply_actions(spark, paths, second, cfg, fileio=io)
    man = json.loads((Path(paths.root) / "snapshot-v000002.json").read_text())
    roots = {v.split("/", 1)[0] for v in man["tables"]["docs"].values()}
    assert roots == {"docs", "v000001", "v000002"}, roots

    pdf = _corpus(spark, n).toPandas()
    pdf.loc[0, ["text", "importance"]] = ["rewritten zeta payload", 0.5]
    pdf.loc[n - 1, ["text", "importance"]] = ["second wave theta", 0.5]
    pdf = pdf.drop(index=n - 2)
    pdf.loc[n] = ["conv-100", 0, "user", "fresh appended kappa", None, 0.5]
    queries = [
        Query(qid="exact", q="rewritten zeta", k=10),
        Query(qid="second", q="second wave theta", k=10),
        Query(qid="v0", q="alpha tok017", k=10),
        Query(qid="deleted", q="alpha tok030", k=10),
        Query(qid="appended", q="fresh kappa", k=10),
        Query(qid="common", q="alpha omega", k=10),
        Query(qid="prefix", q="tok02", k=10, autocomplete=True),
        Query(qid="typo", q="thetq", k=10),
    ]
    want = _frame_ranks(
        oracle_search(OracleIndex(pdf, cfg), queries, cfg)
    )
    assert want["v0"][0] == ("conv-017", 0)
    assert want["appended"] == [("conv-100", 0)]
    eng = SearchEngine(spark, paths, cfg).search(queries).collect()
    assert _ranks(
        (r["qid"], r["conv_id"], r["turn_idx"])
        for r in sorted(eng, key=lambda r: (r["qid"], r["rank"]))
    ) == want
    got = LocalSearchEngine(paths, cfg).search(queries)
    assert _frame_ranks(got) == want


@pytest.mark.parametrize("damaged", ["pointer", "manifest"])
def test_damaged_pointer_or_manifest_fails_loudly(spark, cfg, tmp_path, damaged):
    """A pointer or manifest that exists but does not parse must raise
    in every reader — never read as "no snapshot" (which would serve
    the flat v0 tables, or miss every partition the manifest points to
    in older dirs) — and publish's GC must delete nothing."""
    from addok_spark.serving.local import LocalSearchEngine

    io = NoLinkFileIO()
    paths, _ = _twin(spark, cfg, tmp_path, io, "dmg")
    apply_actions(spark, paths, _batch(spark, 15, "second wave"), cfg, fileio=io)
    root = Path(paths.root)
    bad = root / ("CURRENT.json" if damaged == "pointer" else "snapshot-v000002.json")
    bad.write_text('{"version": 2, "tables": ')

    def listing():
        return sorted(str(p.relative_to(root)) for p in root.rglob("*"))

    before = listing()
    with pytest.raises(ValueError, match="damaged"):
        read_table(spark, paths, "docs")
    with pytest.raises(ValueError, match="damaged"):
        SearchEngine(spark, paths, cfg)
    with pytest.raises(ValueError, match="damaged"):
        LocalSearchEngine(paths, cfg)
    with pytest.raises(ValueError, match="damaged"):
        apply_actions(spark, paths, _batch(spark, 7, "third wave"), cfg, fileio=io)
    if damaged == "manifest":
        # keep=1 retains only v2, whose manifest is unreadable: GC must
        # not guess which old dirs it still references
        with pytest.raises(ValueError, match="damaged"):
            IndexPaths(root).publish(2, keep=1, fileio=io)
    assert listing() == before


def test_rebuild_over_stale_manifest_reads_rebuilt_tables(spark, cfg, tmp_path):
    """A full rebuild over a versioned index publishes version N+1 with
    a manifest it wrote itself: a leftover snapshot-v{N+1}.json (a CDC
    batch that crashed between writing its manifest and publishing)
    must not redirect readers to the old partitions."""
    paths, _ = _twin(spark, cfg, tmp_path, NoLinkFileIO(), "rebuild")
    root = Path(paths.root)
    stale = json.loads((root / "snapshot-v000001.json").read_text())
    stale["version"] = 2
    (root / "snapshot-v000002.json").write_text(json.dumps(stale))
    rebuilt = build_index(spark, _corpus(spark, 20), cfg, str(root))
    assert paths.current_version() == 2
    for table in ("docs", "blocks", "dictionary", "dict_partials"):
        got = read_table(spark, paths, table)
        want = spark.read.parquet(getattr(rebuilt, table))
        cols = sorted(want.columns)
        assert sorted(got.columns) == cols, table
        assert sorted(map(tuple, got.select(*cols).collect())) == sorted(
            map(tuple, want.select(*cols).collect())
        ), table
    assert read_table(spark, paths, "docs").count() == 20


def test_read_table_prunes_partitions_on_manifest_snapshots(spark, cfg, tmp_path):
    """Manifest resolution must not cost partition pruning: a pbucket
    filter over the unioned per-base scans still reaches every scan's
    PartitionFilters."""
    io = NoLinkFileIO()
    np_, m = _twin(spark, cfg, tmp_path, io, "nolink")
    pb = m["touched_pbuckets"][0]
    df = read_table(spark, np_, "docs").filter(F.col("pbucket") == pb)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "pbucket" in plan
    assert df.count() > 0
