"""The persistence scope (addok_spark/persist.py): a relation marked
``shared()`` is persisted only inside a scope, lives exactly as long
as the scope (or the operator result that owns it), and one thread's
scope never frees another thread's caches."""

import gc
import threading

import pytest

from addok_spark.entry_queries import QUERIES
from addok_spark.persist import scope, scoped, shared
from addok_spark.pipelines.retrieval import retrieval_topk

SF_DIR = "/root/testdata/sf0.001"


def _persisted(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_shared_outside_a_scope_persists_nothing(spark):
    df = spark.range(10)
    assert shared(df) is df
    assert not df.is_cached


def test_scope_releases_on_exit_and_on_error(spark):
    before = _persisted(spark)
    with scope():
        a = shared(spark.range(100).selectExpr("id * 2 AS v"))
        assert a.is_cached
        assert a.count() == 100
        assert _persisted(spark) == before + 1
        with scope():  # an inner scope releases only its own relations
            b = shared(spark.range(50).selectExpr("id * 3 AS v"))
            assert b.count() == 50
        assert not b.is_cached and a.is_cached
    assert not a.is_cached and _persisted(spark) == before

    with pytest.raises(RuntimeError, match="boom"):
        with scope():
            c = shared(spark.range(7).selectExpr("id + 1 AS v"))
            c.count()
            raise RuntimeError("boom")
    assert not c.is_cached and _persisted(spark) == before


def test_scoped_result_owns_its_relations(spark):
    """A scoped call's relations stay persisted while its result is
    held and are released when the result is collected; a DataFrame
    derived from a released result still computes the same rows."""
    before = _persisted(spark)

    @scoped
    def op():
        base = shared(spark.range(1000).selectExpr("id % 10 AS k", "id AS v"))
        return base.groupBy("k").count().join(
            base.groupBy("k").sum("v"), "k"
        )

    out = op()
    want = _rows(out)
    assert _persisted(spark) == before + 1
    derived = out.filter("k < 5")
    del out
    gc.collect()
    assert _persisted(spark) == before
    assert _rows(derived) == [r for r in want if r[0] < 5]

    @scoped
    def failing():
        shared(spark.range(5)).count()
        raise ValueError("fails after persisting")

    with pytest.raises(ValueError):
        failing()
    assert _persisted(spark) == before


def test_direct_retrieval_call_persists_nothing(spark):
    docs = spark.createDataFrame(
        [(0, "zebra quagga common"), (1, "zebra quagga alpha"),
         (2, "zebra common beta"), (3, "common gamma delta")],
        "doc_id long, text string",
    )
    qids = spark.createDataFrame([(0,)], "qid long")
    before = _persisted(spark)
    n = retrieval_topk(
        docs, "doc_id", "text", qids, k=3, min_df=2, max_df_frac=0.9
    ).count()
    assert n > 0
    assert _persisted(spark) == before


def test_concurrent_operators_keep_their_own_caches(spark):
    """Two threads run two different shared()-using operators three
    times each at once: every run returns the serial run's rows, and
    nothing stays persisted once the results are gone."""
    names = ("retrieval_prf_topk", "dedup_jaccard")
    want = {n: _rows(QUERIES[n](spark, SF_DIR)) for n in names}
    gc.collect()
    before = _persisted(spark)
    got = {n: [] for n in names}
    errors = []

    def worker(name):
        try:
            for _ in range(3):
                got[name].append(_rows(QUERIES[name](spark, SF_DIR)))
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append((name, exc))

    threads = [threading.Thread(target=worker, args=(n,)) for n in names]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
        assert not t.is_alive()
    assert not errors, errors
    for n in names:
        assert got[n] == [want[n]] * 3, n
    gc.collect()
    assert _persisted(spark) == before
