"""Text analysis operators: language-ID, quality scoring, token
counting, fingerprinting — pure column math (codegen), applicable to
any (id, text) table at 100 TB scale (single scan, no shuffle except
where noted)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..persist import shared
from .dedup import _md5_long, tokens_col, word_shingles

STOPWORDS = {
    "en": ["the", "a", "of", "to", "and", "in", "is", "for", "on", "with", "it", "as"],
    "fr": ["le", "la", "les", "de", "des", "du", "et", "un", "une", "est", "pour"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "ein", "eine", "zu"],
}


def _raw_ratio_in(toks, words: list[str]):
    arr = F.array(*[F.lit(w) for w in words])
    n = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
    return n / F.greatest(F.size(toks), F.lit(1))


def _ratio_in(toks, words: list[str]):
    return F.round(_raw_ratio_in(toks, words), 6)


def language_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stopword-ratio language heuristic with deterministic tie-break
    (highest ratio; ties → language code ascending). The n-gram-free
    analog of fastText-style LID, good enough for corpus routing."""
    toks = tokens_col(F.col(text_col))
    out = df.select(F.col(id_col).alias("id"), toks.alias("toks"))
    for lang, words in STOPWORDS.items():
        out = out.withColumn(f"ratio_{lang}", _ratio_in(F.col("toks"), words))
    langs = sorted(STOPWORDS)
    best = F.greatest(*[F.col(f"ratio_{l}") for l in langs])
    pred = F.lit("unknown")
    for l in reversed(langs):  # ascending priority on ties
        pred = F.when(
            (F.col(f"ratio_{l}") == best) & (best > 0.05), F.lit(l)
        ).otherwise(pred)
    return out.select(
        "id", *[f"ratio_{l}" for l in langs], pred.alias("pred_lang")
    )


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Composite quality heuristics: length, token stats, punctuation
    / digit / stopword ratios — the standard pre-training filters."""
    text = F.col(text_col)
    toks = tokens_col(text)
    n_chars = F.length(text)
    n_tokens = F.size(toks)
    avg_tok = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("double")),
        F.lit(0.0),
        lambda a, x: a + x,
    ) / F.greatest(n_tokens, F.lit(1)).cast("double")
    punct_ratio = (
        n_chars - F.length(F.regexp_replace(text, "[^a-zA-Z0-9 ]", ""))
    ) / F.greatest(n_chars, F.lit(1)).cast("double")
    digit_ratio = F.size(
        F.filter(toks, lambda t: t.rlike("^[0-9]+$"))
    ) / F.greatest(n_tokens, F.lit(1)).cast("double")
    stop_ratio = _raw_ratio_in(toks, STOPWORDS["en"])
    # composite computed from RAW ratios (not the rounded output
    # columns): rounding decimal-grid intermediates makes the two
    # engines disagree on values ~1e-17 from a rounding boundary
    score = F.when(n_tokens < 5, 0.0).otherwise(
        (1.0 - punct_ratio) * 0.4 + (1.0 - digit_ratio) * 0.3 + stop_ratio * 0.3
    )
    return df.select(
        F.col(id_col).alias("id"),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(avg_tok, 6).alias("avg_token_len"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(digit_ratio, 6).alias("digit_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(score, 6).alias("quality"),
    )


def token_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Token counting three ways: whitespace, word-regex, and a
    BPE-ish subword estimate (chars/4 heuristic — the common
    budget-estimation shortcut when no tokenizer model is shipped)."""
    text = F.col(text_col)
    ws = F.size(F.filter(F.split(text, "\\s+"), lambda x: x != ""))
    words = F.size(tokens_col(text))
    bpe_est = F.ceil(F.length(text) / F.lit(4.0)).cast("long")
    return df.select(
        F.col(id_col).alias("id"),
        ws.alias("n_ws_tokens"),
        words.alias("n_word_tokens"),
        bpe_est.alias("n_bpe_est"),
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """Document fingerprint: min numeric md5 over word-k-gram
    shingles (rolling-hash analog, deterministic across engines)."""
    sh = word_shingles(df, id_col, text_col, k)
    return sh.groupBy("id").agg(
        F.min(_md5_long(F.col("shingle"))).alias("fingerprint"),
        F.count(F.lit(1)).alias("n_shingles"),
    )


def repetition_score(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Repetition filter (after the published Gopher data-quality
    rules: fraction of duplicated word n-grams within a document —
    boilerplate/spam text repeats itself). All in-row codegen array
    math, one scan, zero shuffle: n-grams via transform over an index
    sequence, dup fraction = 1 - distinct/total. Returns
    (id, n_ngrams, n_distinct, dup_ngram_frac)."""
    toks = df.select(
        F.col(id_col).alias("id"), tokens_col(F.col(text_col)).alias("ts")
    )
    ng = F.when(
        F.size("ts") >= n,
        F.transform(
            F.sequence(F.lit(0), F.size("ts") - n),
            lambda i: F.array_join(F.slice("ts", i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    out = toks.select("id", ng.alias("ng"))
    total = F.size("ng")
    dist = F.size(F.array_distinct("ng"))
    return out.select(
        "id",
        total.cast("long").alias("n_ngrams"),
        dist.cast("long").alias("n_distinct"),
        F.round(
            (total - dist) / F.greatest(total, F.lit(1)).cast("double"), 6
        ).alias("dup_ngram_frac"),
    )


def contamination(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bench: DataFrame,
    bench_id_col: str,
    bench_text_col: str,
    k: int = 5,
    exclude_self: bool = False,
) -> DataFrame:
    """Benchmark-contamination detection: which corpus documents
    share word k-grams with an evaluation set (the standard
    train/test decontamination pass). The benchmark side is tiny by
    definition, so its distinct shingles BROADCAST — the join runs
    map-side against the corpus scan, one pass at 100 TB; per-doc
    aggregation shuffles only the matching (doc, shingle) pairs.
    Returns (id, n_shingles, n_shared, n_bench_docs, containment)
    for contaminated docs plus zero rows for clean ones (filter
    n_shared > 0 downstream to keep only hits)."""
    # d_sh is referenced twice (sizes + hits) but NOT persisted:
    # measured at sf0.1, caching the wide shingle strings costs more
    # than the second codegen scan (columnar cache build ≈ 2× the
    # scan), and both branches stream map-side against the broadcast
    d_sh = word_shingles(df, id_col, text_col, k)
    b_sh = word_shingles(bench, bench_id_col, bench_text_col, k)
    b_sh = b_sh.withColumnRenamed("id", "bench_id")
    sizes = d_sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = d_sh.join(F.broadcast(b_sh), "shingle")
    if exclude_self:
        hits = hits.filter(F.col("id") != F.col("bench_id"))
    agg = hits.groupBy("id").agg(
        F.countDistinct("shingle").alias("n_shared"),
        F.countDistinct("bench_id").alias("n_bench_docs"),
    )
    return sizes.join(agg, "id", "left").select(
        "id",
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
        F.coalesce("n_bench_docs", F.lit(0)).cast("long").alias("n_bench_docs"),
        F.round(
            F.coalesce("n_shared", F.lit(0))
            / F.greatest("n_shingles", F.lit(1)).cast("double"),
            6,
        ).alias("containment"),
    )


# (name, pattern, replacement) in REDACTION ORDER. Counts are
# per-pattern detections on the ORIGINAL text, so classes that can
# overlap on adversarial inputs (an SSN-shaped run inside an
# international phone number matches both) are each counted; the
# sequential replacement resolves overlaps by order — phone runs
# BEFORE ssn so the containing span wins and no bare country-code
# remnant survives. Patterns stay in the RE2 ∩ java.util.regex
# common subset (no lookaround) so the Spark plan and the DuckDB
# oracle match byte-for-byte.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d{1,3}([ -]?\d{2,8})+", "<PHONE>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
]


def pii_redact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """PII detection + redaction — the mandatory pre-training privacy
    pass (emails, IPv4s, SSN-shaped ids, international phone forms).

    Pure ``regexp_count`` / ``regexp_replace`` column math: one scan,
    zero shuffle, whole-stage codegen at 100 TB. Counts are measured
    on the ORIGINAL text per class (overlapping classes each count —
    see the ``PII_PATTERNS`` note — so ``n_pii`` is an upper bound on
    distinct spans); the redacted text applies the replacements
    sequentially in the fixed ``PII_PATTERNS`` order.
    Returns (id, n_email, n_ipv4, n_phone, n_ssn, n_pii, redacted).
    """
    text = F.col(text_col)
    cols = [F.col(id_col).alias("id")]
    total = F.lit(0).cast("long")
    for name, pat, _ in PII_PATTERNS:
        c = F.regexp_count(text, F.lit(pat)).cast("long")
        cols.append(c.alias(f"n_{name}"))
        total = total + c
    red = text
    for _, pat, repl in PII_PATTERNS:
        red = F.regexp_replace(red, pat, repl)
    cols.append(total.alias("n_pii"))
    cols.append(red.alias("redacted"))
    return df.select(*cols)


def collocations_pmi(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Top-k collocations (adjacent-bigram PMI) over a corpus — the
    classic training-data vocabulary-analysis op (Church & Hanks
    1990). Bigrams are built IN-ROW with zip_with over adjacent array
    slices (no positional self-join), counted with a map-side-combinable
    groupBy, and joined to the two unigram marginals; the unigram
    table is Zipf-bounded (vocabulary-sized) so at 100 TB both joins
    are broadcast-or-SMJ on bounded keys, never O(corpus^2).

    PMI = ln(p(ab) / (p(a)p(b))) computed in a FIXED operand order —
    (c_ab * U * U) / (B * c_a * c_b) — then rounded to 6, so the
    DuckDB oracle can reproduce it bit-for-bit. min_count drops the
    noise tail (PMI is degenerate on hapax bigrams). Deterministic
    total order: (pmi desc, bigram asc)."""
    # toks feeds the bigram and unigram streams; uni/bcnt are each
    # referenced by their own totals AND the score join — persist all
    # three so each aggregation tree runs once per invocation
    toks = shared(
        df.select(
            F.col(id_col).alias("id"), tokens_col(F.col(text_col)).alias("toks")
        )
    )
    big = toks.select(
        F.explode(
            F.zip_with(
                F.slice("toks", 1, F.greatest(F.size("toks") - 1, F.lit(0))),
                F.slice("toks", 2, F.greatest(F.size("toks") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    uni = shared(
        toks.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bcnt = shared(
        big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab"))
    )
    # marginal totals as single-row cross joins INSIDE the plan (the
    # DuckDB oracle's tu/tb CTE shape): no driver collect, and the
    # uni/bcnt aggregation exchanges are reused instead of the whole
    # tokenize+explode lineage executing once per collected total
    tu = uni.agg(F.sum("c").cast("double").alias("__u"))
    tb = bcnt.agg(F.sum("c_ab").cast("double").alias("__bt"))
    out = (
        bcnt.filter(F.col("c_ab") >= min_count)
        .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c", "c_a"), "w1")
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c", "c_b"), "w2")
        .crossJoin(F.broadcast(tu))
        .crossJoin(F.broadcast(tb))
        .select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            F.col("c_ab"),
            F.round(
                F.log(
                    (
                        F.col("c_ab").cast("double")
                        * F.col("__u")
                        * F.col("__u")
                    )
                    / (
                        F.col("__bt")
                        * F.col("c_a").cast("double")
                        * F.col("c_b").cast("double")
                    )
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "bigram")
        .limit(top_k)
    )
    return out


def unigram_logprob(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document mean unigram log2-probability under the corpus's
    own unigram LM — the order-of-magnitude analog of CCNet-style
    kenlm perplexity filtering (low avg logprob = improbable word
    salad, high = boilerplate).

    Scale shape: one tokenize scan → token count agg (map-side
    combinable, vocabulary-sized result) → count join back (vocab
    ≪ corpus; Spark broadcasts it when small, AQE handles the rest)
    → per-doc agg. Per-doc sums fold over an ASCENDING-sorted array
    so the float result is bit-deterministic across partitionings
    (and matches the oracle's identical sorted fold)."""
    toks = tokens_col(F.col(text_col))
    # e feeds both the vocabulary count and the per-token score join:
    # persist so the corpus is tokenized once per invocation
    e = shared(
        df.select(F.col(id_col).alias("id"), F.explode(toks).alias("token"))
    )
    counts = shared(
        e.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = counts.agg(F.sum("cnt").cast("double").alias("__total"))
    logp = (
        e.join(counts, "token")
        .crossJoin(F.broadcast(total))
        .select(
            "id",
            F.log2(F.col("cnt").cast("double") / F.col("__total")).alias(
                "logp"
            ),
        )
    )
    per_doc = logp.groupBy("id").agg(
        F.count(F.lit(1)).cast("int").alias("n_tokens"),
        F.array_sort(F.collect_list("logp")).alias("lps"),
    )
    avg = F.round(
        F.aggregate("lps", F.lit(0.0), lambda a, x: a + x)
        / F.col("n_tokens"),
        6,
    )
    return per_doc.select(
        "id",
        "n_tokens",
        avg.alias("avg_logprob"),
        F.round(F.pow(F.lit(2.0), -avg), 4).alias("ppl"),
    )


def highlight_snippets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    terms: list[str],
    window: int = 4,
    open_tag: str = "<em>",
    close_tag: str = "</em>",
) -> DataFrame:
    """Search-hit highlighting + snippet extraction (the render step a
    full-text engine performs on its top-k — ≙ the reference returning
    labels with the matched portion implicit; here the match is made
    explicit the way Lucene/ES highlighters do).

    For every doc containing ANY query term (normalized word match):
    ``first_pos`` = 1-based position of the earliest term hit,
    ``n_hits`` = total term occurrences, ``snippet`` = the
    ``2*window+1`` normalized words centered on the first hit, and
    ``highlighted`` = the snippet with every term occurrence wrapped
    in ``open_tag``/``close_tag``.

    Scale shape: pure per-row column math over one scan — zero
    shuffle, fully codegen'd (split/array ops + one regexp_replace);
    the term list is a query-sized literal (tiny), never a join. At
    100 TB this is the same single-pass map as quality_score."""
    if not terms:
        raise ValueError("highlight_snippets needs at least one term")
    norm = [t.lower() for t in terms]
    words = tokens_col(F.col(text_col))
    terms_arr = F.array(*[F.lit(t) for t in norm])
    base = df.select(
        F.col(id_col).alias("id"),
        words.alias("__words"),
    )
    # earliest hit: least() skips the NULLs of absent terms (same
    # semantics in DuckDB's least, so the oracle mirrors exactly)
    positions = [
        F.nullif(F.array_position("__words", t), F.lit(0)) for t in norm
    ]
    first_pos = positions[0] if len(positions) == 1 else F.least(*positions)
    hit = base.select(
        "id",
        "__words",
        first_pos.cast("long").alias("first_pos"),
        F.size(
            F.filter("__words", lambda w: F.array_contains(terms_arr, w))
        ).cast("long").alias("n_hits"),
    ).filter(F.col("first_pos").isNotNull())
    start = F.greatest(F.lit(1), F.col("first_pos") - F.lit(window))
    snippet = F.array_join(
        F.slice("__words", start, F.lit(2 * window + 1)), " "
    )
    # normalized snippet contains only [a-z0-9_ ], so \b-bounded
    # alternation marks exactly the whole-word term hits (Java regex
    # here, RE2 in the DuckDB oracle — \b and alternation agree)
    pat = r"\b(" + "|".join(sorted(norm)) + r")\b"
    out = hit.select(
        "id",
        "first_pos",
        "n_hits",
        snippet.alias("snippet"),
        F.regexp_replace(
            snippet, pat, open_tag + "$1" + close_tag
        ).alias("highlighted"),
    )
    return out


def quality_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lang_col: str = "lang",
    n_buckets: int = 3,
) -> DataFrame:
    """CCNet-style per-language quality bucketing (Wenzek et al. 2020,
    arXiv:1911.00359): rank documents within each language by LM
    perplexity and cut the ranking into equal-frequency buckets —
    bucket 1 ≙ CCNet "head" (most fluent), the last ≙ "tail". CCNet
    uses a kenlm 5-gram; this uses the corpus's own unigram LM
    (``unigram_logprob``) as the env-available stand-in — the
    bucketing machinery is identical.

    Determinism: ntile runs over (rounded avg_logprob DESC, id) — the
    6-dp rounding is the precision at which the unigram LM is already
    proven bit-equal to the oracle, and the id tiebreak makes the
    total order unique, so bucket assignment is partition- and
    engine-invariant.

    Scale shape: the per-language window sort is the only shuffle
    beyond the LM itself; languages are a bounded partition key
    (dozens of values) and ntile needs no full materialization — rank
    streams through the sorted window. At 100 TB a single language
    still dominates (skew), so a real deployment would swap ntile for
    a two-pass quantile cut (approxQuantile on avg_logprob, then a
    stateless bucket lookup — no global sort); the window form is
    kept here because it is the exact-semantics reference and the
    oracle twin.
    """
    lp = unigram_logprob(df, id_col, text_col)
    base = df.select(
        F.col(id_col).alias("id"), F.col(lang_col).alias("lang")
    ).join(lp, "id")
    w = Window.partitionBy("lang").orderBy(
        F.col("avg_logprob").desc(), F.col("id")
    )
    names = F.when(F.col("bucket_idx") == 1, F.lit("head")).otherwise(
        F.when(F.col("bucket_idx") == n_buckets, F.lit("tail")).otherwise(
            F.lit("middle")
        )
    )
    return (
        base.withColumn("bucket_idx", F.ntile(n_buckets).over(w))
        .withColumn("bucket", names)
        .select("id", "lang", "avg_logprob", "bucket_idx", "bucket")
    )


def quality_buckets_quantile(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lang_col: str = "lang",
    n_buckets: int = 3,
    accuracy: int = 10000,
) -> DataFrame:
    """The 100-TB execution path for ``quality_buckets``: replace the
    per-language window sort (whose cost is a full sort of the
    dominant language) with a two-pass quantile cut — pass 1 computes
    per-language approximate logprob quantiles (percentile_approx, a
    map-side-combinable sketch; result is langs × (n_buckets-1) rows,
    broadcastable at any corpus size), pass 2 assigns buckets by a
    stateless comparison against the cut points. No global sort, no
    window; the plan is two scans and a broadcast join.

    Semantics: bucket boundaries are approximate where ntile's are
    exact-rank (ties around a cut point may land one bucket off, and
    bucket populations are equal only to sketch accuracy) — the
    standard CCNet-scale tradeoff. Same output shape as
    ``quality_buckets``.
    """
    lp = unigram_logprob(df, id_col, text_col)
    base = df.select(
        F.col(id_col).alias("id"), F.col(lang_col).alias("lang")
    ).join(lp, "id")
    probs = [i / n_buckets for i in range(1, n_buckets)]
    cuts = base.groupBy("lang").agg(
        F.percentile_approx(
            "avg_logprob", F.array(*[F.lit(p) for p in probs]), accuracy
        ).alias("cuts")
    )
    # avg_logprob DESC ranking: bucket 1 = above the (1 - 1/n)
    # quantile, so count how many cut points (ascending) the doc
    # clears from the top
    joined = base.join(F.broadcast(cuts), "lang")
    bucket_idx = (
        F.lit(n_buckets)
        - F.size(
            F.filter("cuts", lambda c: F.col("avg_logprob") > c)
        )
    ).cast("int")
    names = F.when(F.col("bucket_idx") == 1, F.lit("head")).otherwise(
        F.when(F.col("bucket_idx") == n_buckets, F.lit("tail")).otherwise(
            F.lit("middle")
        )
    )
    return (
        joined.withColumn("bucket_idx", bucket_idx)
        .withColumn("bucket", names)
        .select("id", "lang", "avg_logprob", "bucket_idx", "bucket")
    )


def bigram_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lam: float = 0.7,
) -> DataFrame:
    """Per-document mean log2-probability under an interpolated
    bigram LM estimated from the corpus itself: P(w2|w1) =
    lam·c(w1 w2)/c(w1) + (1-lam)·c(w2)/N (Jelinek-Mercer smoothing),
    first token scored by its unigram. The order-2 upgrade of
    ``unigram_logprob``: word salad with plausible unigrams but
    implausible transitions scores low.

    Scale shape: one tokenize scan → in-row bigram expansion →
    bigram/unigram count aggs (map-side combinable; the bigram
    vocabulary is hapax-heavy so NOTHING is broadcast-hinted — joins
    stay keyed on the bigram/token like the dedup family) → per-doc
    sorted fold for bit determinism.
    """
    toks = df.select(
        F.col(id_col).alias("id"), tokens_col(F.col(text_col)).alias("ts")
    ).filter(F.size("ts") >= 1)
    # positions 2..n scored by the bigram model; position 1 by the
    # unigram — emit (id, w1, w2) with w1 NULL for the first token
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("ts")),
        lambda i: F.struct(
            F.when(i > 1, F.element_at("ts", i - 1)).alias("w1"),
            F.element_at("ts", i).alias("w2"),
        ),
    )
    # e feeds the unigram agg, the bigram agg AND the score join —
    # persist so the tokenize + in-row pair expansion runs once
    e = shared(
        toks.select("id", F.explode(pairs).alias("p")).select(
            "id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
        )
    )
    uni = shared(
        e.groupBy("w2").agg(F.count(F.lit(1)).cast("long").alias("cu"))
    )
    total = uni.agg(F.sum("cu").cast("double").alias("__total"))
    bi = (
        e.filter(F.col("w1").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("cb"))
    )
    c1 = uni.select(F.col("w2").alias("w1"), F.col("cu").alias("c1"))
    scoredrows = (
        e.join(uni, "w2")
        .join(bi, ["w1", "w2"], "left")
        .join(c1, "w1", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "id",
            F.when(
                F.col("w1").isNull(),
                F.log2(F.col("cu") / F.col("__total")),
            )
            .otherwise(
                F.log2(
                    F.lit(lam) * F.coalesce("cb", F.lit(0)) / F.col("c1")
                    + F.lit(1.0 - lam) * F.col("cu") / F.col("__total")
                )
            )
            .alias("logp"),
        )
    )
    per_doc = scoredrows.groupBy("id").agg(
        F.count(F.lit(1)).cast("int").alias("n_tokens"),
        F.array_sort(F.collect_list("logp")).alias("lps"),
    )
    avg = F.round(
        F.aggregate("lps", F.lit(0.0), lambda a, x: a + x)
        / F.col("n_tokens"),
        6,
    )
    return per_doc.select(
        "id",
        "n_tokens",
        avg.alias("avg_logprob"),
        F.round(F.pow(F.lit(2.0), -avg), 4).alias("ppl"),
    )
