"""Every driver entry must be deterministic across physical plans:
the same rows (verified as a sorted multiset) under different
shuffle-partition counts. This is the engine-side half of the
oracle-hash gate — a result that drifts with partitioning would
pass a single-run oracle compare and still be wrong on a cluster.

Each entry also releases what it persists: once its results are
dropped and collected, the session holds as many persisted RDDs as
before the call."""

import gc

import pytest

from addok_spark import entry_queries

SF_DIR = "/root/testdata/sf0.001"


def _persisted(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _canon(df):
    pdf = df.toPandas()
    cols = sorted(pdf.columns)
    pdf = pdf[cols].sort_values(cols).reset_index(drop=True)
    # float columns: exact equality is the contract (entries round
    # and fold deterministically); keep values as-is
    return pdf


@pytest.mark.parametrize("name", sorted(entry_queries.QUERIES))
def test_entry_is_partition_invariant(spark, name):
    fn = entry_queries.QUERIES[name]
    gc.collect()
    persisted = _persisted(spark)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        a = _canon(fn(spark, SF_DIR))
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        b = _canon(fn(spark, SF_DIR))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    gc.collect()
    assert _persisted(spark) == persisted, (
        f"{name}: persisted relations outlive its result"
    )
    assert list(a.columns) == list(b.columns)
    assert len(a) == len(b), f"{name}: row count differs across plans"
    for c in a.columns:
        av, bv = a[c].values, b[c].values
        same = av == bv
        # object columns holding arrays compare elementwise
        if getattr(same, "all", None) is None or same is NotImplemented:
            same = [list(x) == list(y) for x, y in zip(av, bv)]
            assert all(same), f"{name}: column {c} differs across plans"
        else:
            import pandas as pd

            both_nan = pd.isna(av) & pd.isna(bv)
            assert (same | both_nan).all(), (
                f"{name}: column {c} differs across plans"
            )
