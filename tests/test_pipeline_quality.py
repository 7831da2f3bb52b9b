"""Behavioral tests for the round-5 training-data-pipeline ops:
duplicate_spans (Lee-et-al substring-dedup signal), quality_buckets
(CCNet head/middle/tail), dsir_weights (importance resampling), and
the band check of minhash_lsh_pairs."""

import pytest
from pyspark.sql import functions as F

from addok_spark.pipelines.dedup import duplicate_spans, minhash_lsh_pairs
from addok_spark.pipelines.sampling import dsir_weights
from addok_spark.pipelines.textstats import quality_buckets


def test_duplicate_spans_flags_shared_window(spark):
    shared = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 tokens
    rows = [
        (1, f"intro one {shared} outro one"),
        (2, f"different prefix {shared} different suffix words"),
        (3, "completely unrelated text with eight unique tokens here now"),
        (4, "tiny"),  # < width tokens → zero windows
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r["id"]: r for r in duplicate_spans(df, "id", "text").collect()}
    assert set(out) == {1, 2, 3, 4}
    # docs 1 and 2 share one exact 8-token window; doc 3/4 share none
    assert out[1]["dup_windows"] == 1 and out[2]["dup_windows"] == 1
    assert out[3]["dup_windows"] == 0 and out[3]["dup_frac"] == 0.0
    assert out[4]["n_windows"] == 0 and out[4]["dup_frac"] == 0.0
    # window accounting: len(tokens) - 8 + 1
    assert out[1]["n_windows"] == 12 - 8 + 1
    assert out[1]["dup_frac"] == round(1 / out[1]["n_windows"], 6)


def test_duplicate_spans_within_doc_repeat_is_not_cross_doc(spark):
    # a doc repeating ITS OWN span does not create a ≥2-distinct-docs
    # window; min_docs counts documents, not occurrences
    span = "one two three four five six seven eight"
    df = spark.createDataFrame(
        [(1, f"{span} filler {span}"), (2, "other words entirely here")],
        "id long, text string",
    )
    out = {r["id"]: r for r in duplicate_spans(df, "id", "text").collect()}
    assert out[1]["dup_windows"] == 0


def test_quality_buckets_order_and_balance(spark):
    # 6 docs per lang; within a lang, docs built from corpus-frequent
    # tokens rank ahead of hapax salad
    rows = []
    for li, lang in enumerate(("en", "fr")):
        for i in range(6):
            common = " ".join(["the"] * (6 - i))
            rare = " ".join(f"zq{lang}{i}x{j}" for j in range(i))
            rows.append((li * 10 + i, lang, f"{common} {rare}".strip()))
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = quality_buckets(df, "doc_id", "text").collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        # ntile(3) over 6 rows → 2 per bucket
        sizes = {}
        for r in rs:
            sizes[r["bucket"]] = sizes.get(r["bucket"], 0) + 1
        assert sizes == {"head": 2, "middle": 2, "tail": 2}
        # every head doc has avg_logprob ≥ every tail doc
        head_min = min(r["avg_logprob"] for r in rs if r["bucket"] == "head")
        tail_max = max(r["avg_logprob"] for r in rs if r["bucket"] == "tail")
        assert head_min >= tail_max


def test_dsir_weights_prefer_target_like_docs(spark):
    # target domain = docs 1-3 (python-ish bigrams); raw also has
    # cooking docs. A held-out python-ish doc must outweigh a
    # held-out cooking doc.
    rows = [
        (1, "def main import numpy return value"),
        (2, "import pandas def helper return frame"),
        (3, "def run import spark return result"),
        (4, "simmer the onions then add butter"),
        (5, "whisk the eggs then add flour"),
        (6, "def score import torch return tensor"),   # target-like
        (7, "saute the garlic then add cream"),        # off-target
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    target = df.filter(F.col("doc_id") <= 3).select("doc_id")
    out = {r["id"]: r for r in
           dsir_weights(df, "doc_id", "text", target).collect()}
    assert set(out) == {1, 2, 3, 4, 5, 6, 7}
    assert out[6]["log_weight"] > out[7]["log_weight"]
    # n_feats = bigram count = n_tokens - 1
    assert out[1]["n_feats"] == 5


def test_dsir_weights_deterministic_across_partitionings(spark):
    rows = [(i, f"tok{i % 5} tok{(i + 1) % 7} tok{(i + 2) % 3} end") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    target = df.filter(F.col("doc_id") % 3 == 0).select("doc_id")
    a = {r["id"]: r["log_weight"] for r in
         dsir_weights(df.repartition(1), "doc_id", "text", target).collect()}
    b = {r["id"]: r["log_weight"] for r in
         dsir_weights(df.repartition(17), "doc_id", "text", target).collect()}
    assert a == b


def test_quality_buckets_quantile_path_agrees(spark):
    # the no-global-sort scale path must produce the same bucketing
    # as exact ntile up to cut-point ties (high sketch accuracy +
    # distinct logprobs → exact agreement expected on most docs)
    from addok_spark.pipelines.textstats import quality_buckets_quantile

    rows = []
    for li, lang in enumerate(("en", "fr")):
        for i in range(30):
            common = " ".join(["the"] * max(1, 30 - i))
            rare = " ".join(f"z{lang}{i}w{j}" for j in range(i))
            rows.append((li * 100 + i, lang, f"{common} {rare}".strip()))
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    exact = {r["id"]: r for r in quality_buckets(df, "doc_id", "text").collect()}
    approx = {r["id"]: r for r in
              quality_buckets_quantile(df, "doc_id", "text").collect()}
    assert set(exact) == set(approx)
    # per-lang: buckets are monotone in avg_logprob on BOTH paths
    for out in (exact, approx):
        for lang in ("en", "fr"):
            rs = [r for r in out.values() if r["lang"] == lang]
            head_min = min(r["avg_logprob"] for r in rs if r["bucket_idx"] == 1)
            tail_max = max(r["avg_logprob"] for r in rs if r["bucket_idx"] == 3)
            assert head_min >= tail_max
    agree = sum(
        exact[i]["bucket_idx"] == approx[i]["bucket_idx"] for i in exact
    )
    assert agree / len(exact) >= 0.9


def test_remove_duplicate_spans_keeps_canonical(spark):
    from addok_spark.pipelines.dedup import remove_duplicate_spans

    shared = "alpha bravo charlie delta echo foxtrot golf hotel"
    rows = [
        (1, f"{shared} tail one"),                   # canonical (min id)
        (2, f"head two {shared} end two"),           # span cut
        (3, "totally unrelated words for this doc"), # untouched
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r["id"]: r for r in
           remove_duplicate_spans(df, "id", "text").collect()}
    assert out[1]["n_removed"] == 0 and shared in out[1]["cleaned"]
    assert out[2]["n_removed"] == 8
    assert shared not in out[2]["cleaned"]
    assert out[2]["cleaned"] == "head two end two"
    assert out[3]["n_removed"] == 0
    assert out[3]["cleaned"] == rows[2][1]


def test_remove_duplicate_spans_overlap_union(spark):
    # two overlapping duplicated windows union their covered
    # positions (9 tokens covered by two 8-windows, not 16)
    from addok_spark.pipelines.dedup import remove_duplicate_spans

    nine = "a1 b2 c3 d4 e5 f6 g7 h8 i9"  # both 8-windows duplicated
    rows = [(1, nine), (2, f"x0 {nine} y0")]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r["id"]: r for r in
           remove_duplicate_spans(df, "id", "text").collect()}
    assert out[1]["n_removed"] == 0
    assert out[2]["n_removed"] == 9
    assert out[2]["cleaned"] == "x0 y0"


def test_minhash_lsh_pairs_rejects_bands_that_do_not_divide(spark):
    """Bands of n_hashes // bands rows would leave the remainder's
    hash ids in no band, so a count that does not divide is refused;
    a dividing one still pairs the near duplicates."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again"),
        (2, "the quick brown fox jumps over the lazy dog again"),
        (3, "entirely different words share nothing with those"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    for n_hashes, bands in ((10, 4), (8, 3), (8, 0)):
        with pytest.raises(ValueError, match=f"bands={bands}.*n_hashes={n_hashes}"):
            minhash_lsh_pairs(df, "id", "text", n_hashes=n_hashes, bands=bands)
    pairs = minhash_lsh_pairs(df, "id", "text", n_hashes=8, bands=4).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]
