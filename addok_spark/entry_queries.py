"""Registry wiring SURVEY.md §2 operators to the driver contract.

Each entry pairs a Spark implementation (over the driver's testdata
parquet tables) with an equivalent ANSI-SQL oracle string runnable by
DuckDB on the same tables. Column names and value rounding are kept
IDENTICAL on both sides (the driver hash-compares values after
sorting columns by name).

Tokenizer used for oracle-checkable queries: ``lower`` +
``[a-z0-9_]+`` split — exactly expressible in both engines. (The full
unicode-folding analyzer is exercised by the pytest golden tests and
the transcripts rank-identity oracle instead; DuckDB's
``strip_accents`` diverges from the reference's folding on ligatures,
so it cannot serve as that oracle.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .persist import scoped, shared
from .pipelines import ann, dedup, retrieval, sampling, textstats
from .pipelines.retrieval import B, K1, bm25_term

# ---------------------------------------------------------------------------
# shared fragments
# ---------------------------------------------------------------------------

SQL_TOKENS = (
    "SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text),"
    " '[^a-z0-9_]+'), x -> x <> '')) AS token FROM documents"
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _tok(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", F.explode(dedup.tokens_col(F.col("text"))).alias("token")
    )


BM25_QUERY_TOKENS = ["data", "table", "query"]

# ---------------------------------------------------------------------------
# fulltext core (SURVEY.md §2.2-2.5)
# ---------------------------------------------------------------------------

def q_tokenize_tf(spark, sf_dir):
    """T1/B2: tokenize + per-(doc,token) term frequency."""
    return (
        _tok(spark, sf_dir)
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )


SQL_TOKENIZE_TF = f"""
WITH tok AS ({SQL_TOKENS})
SELECT doc_id, token, count(*)::bigint AS tf FROM tok GROUP BY doc_id, token
"""


def q_token_dictionary(spark, sf_dir):
    """B10/§2.6: token dictionary (df = ZCARD analog, cf)."""
    return (
        q_tokenize_tf(spark, sf_dir)
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).cast("long").alias("df"),
            F.sum("tf").cast("long").alias("cf"),
            F.max("tf").cast("long").alias("max_tf"),
        )
    )


SQL_TOKEN_DICTIONARY = f"""
WITH tok AS ({SQL_TOKENS}),
tf AS (SELECT doc_id, token, count(*)::bigint AS tf FROM tok GROUP BY doc_id, token)
SELECT token, count(*)::bigint AS df, sum(tf)::bigint AS cf, max(tf)::bigint AS max_tf
FROM tf GROUP BY token
"""


def q_postings_topk(spark, sf_dir):
    """R12: top-3 postings per token by (tf desc, doc_id asc) — the
    score-ordered posting read (ZREVRANGE analog)."""
    tf = q_tokenize_tf(spark, sf_dir)
    # a Zipf-head token's full posting list must never land in ONE
    # window task. Spark 3.5+/4.x plans the rank-filter pattern as
    # partial + final WindowGroupLimit — each map task emits at most
    # 3 rows per token BEFORE the exchange — which is the same bound
    # the former manual doc-shard pre-pass enforced, without its
    # extra Exchange+Sort+Window (plan asserted in tests/test_plans).
    w = Window.partitionBy("token").orderBy(F.desc("tf"), F.asc("doc_id"))
    return (
        tf.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("token", "doc_id", "tf", F.col("rn").cast("long").alias("rn"))
    )


SQL_POSTINGS_TOPK = f"""
WITH tok AS ({SQL_TOKENS}),
tf AS (SELECT doc_id, token, count(*)::bigint AS tf FROM tok GROUP BY doc_id, token),
r AS (SELECT token, doc_id, tf,
       row_number() OVER (PARTITION BY token ORDER BY tf DESC, doc_id)::bigint AS rn
      FROM tf)
SELECT token, doc_id, tf, rn FROM r WHERE rn <= 3
"""


def q_bm25_topk(spark, sf_dir):
    """Flagship: BM25 top-10 for a fixed query (Q1+R9/R10 as one
    declarative plan: posting join → ``retrieval.bm25_term()`` → top-k)."""
    # ONE tokenize pass: persist the per-doc token ARRAYS (5-50×
    # smaller than the exploded rows), derive dl shuffle-free as the
    # array size (identical to counting the exploded tokens; the
    # dl>0 filter reproduces explode dropping token-less docs), and
    # explode only for the query-token tf aggregate
    toks = shared(
        _docs(spark, sf_dir).select(
            "doc_id", dedup.tokens_col(F.col("text")).alias("ts")
        )
    )
    tok = toks.select("doc_id", F.explode("ts").alias("token"))
    dl = toks.select(
        "doc_id", F.size("ts").cast("long").alias("dl")
    ).filter(F.col("dl") > 0)
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    tf = (
        tok.filter(F.col("token").isin(BM25_QUERY_TOKENS))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("df"))
    terms = (
        tf.join(F.broadcast(df), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn("ts", bm25_term())
    )
    return (
        terms.groupBy("doc_id")
        .agg(
            F.round(F.sum("ts"), 6).alias("score"),
            F.count(F.lit(1)).cast("long").alias("n_terms"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )


SQL_BM25_TOPK = f"""
WITH tok AS ({SQL_TOKENS}),
dl AS (SELECT doc_id, count(*)::bigint AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*)::double AS n_docs, avg(dl)::double AS avgdl FROM dl),
tf AS (SELECT doc_id, token, count(*)::bigint AS tf FROM tok
       WHERE token IN ('data','table','query') GROUP BY doc_id, token),
df AS (SELECT token, count(*)::bigint AS df FROM tf GROUP BY token),
terms AS (
  SELECT tf.doc_id,
         ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
         * (tf.tf * {K1 + 1.0}) / (tf.tf + {K1} * ({1.0 - B} + {B} * dl.dl / stats.avgdl)) AS ts
  FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
)
SELECT doc_id, round(sum(ts), 6) AS score, count(*)::bigint AS n_terms
FROM terms GROUP BY doc_id
ORDER BY score DESC, doc_id LIMIT 10
"""


def q_conjunctive_intersect(spark, sf_dir):
    """Q1/Q2: k-way posting intersection as equi-join + count==k."""
    toks = ["table", "join"]
    tok = _tok(spark, sf_dir).filter(F.col("token").isin(toks))
    return (
        tok.dropDuplicates(["doc_id", "token"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_match"))
        .filter(F.col("n_match") == len(toks))
    )


SQL_CONJUNCTIVE = f"""
WITH tok AS ({SQL_TOKENS}),
d AS (SELECT DISTINCT doc_id, token FROM tok WHERE token IN ('table','join'))
SELECT doc_id, count(*)::bigint AS n_match FROM d GROUP BY doc_id
HAVING count(*) = 2
"""


def q_edge_ngrams(spark, sf_dir):
    toks = _tok(spark, sf_dir).select("token").distinct().filter(
        F.length("token") >= 4
    )
    return toks.select(
        "token",
        F.explode(
            F.expr(
                "transform(sequence(3, least(length(token) - 1, 8)),"
                " i -> substring(token, 1, i))"
            )
        ).alias("prefix"),
    ).select("prefix", "token")


SQL_EDGE_NGRAMS = f"""
WITH tok AS ({SQL_TOKENS}),
d AS (SELECT DISTINCT token FROM tok WHERE length(token) >= 4)
SELECT substr(token, 1, i) AS prefix, token
FROM (SELECT token, unnest(range(3, least(length(token) - 1, 8) + 1)) AS i FROM d)
"""


def q_autocomplete_candidates(spark, sf_dir):
    """Q15: prefix → candidate tokens ordered by df (the
    order_by_frequency.lua analog), prefix 'qu'... use 'sc'."""
    d = q_token_dictionary(spark, sf_dir)
    return (
        d.filter(F.col("token").startswith("s"))
        .select("token", "df")
        .orderBy(F.desc("df"), F.asc("token"))
        .limit(20)
    )


SQL_AUTOCOMPLETE = f"""
WITH tok AS ({SQL_TOKENS}),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
d AS (SELECT token, count(*)::bigint AS df FROM tf GROUP BY token)
SELECT token, df FROM d WHERE token LIKE 's%'
ORDER BY df DESC, token LIMIT 20
"""


def q_fuzzy_levenshtein(spark, sf_dir):
    """T13/Q14: fuzzy candidate pruning — dictionary tokens within
    edit distance 1 of the typo 'tabl' (true distance 1 from 'table',
    so the check exercises real rows at sf0.01)."""
    d = q_token_dictionary(spark, sf_dir).select("token", "df")
    return (
        d.withColumn("dist", F.levenshtein(F.col("token"), F.lit("tabl")).cast("long"))
        .filter(F.col("dist") <= 1)
        .select("token", "df", "dist")
    )


SQL_FUZZY = f"""
WITH tok AS ({SQL_TOKENS}),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
d AS (SELECT token, count(*)::bigint AS df FROM tf GROUP BY token)
SELECT token, df, levenshtein(token, 'tabl')::bigint AS dist
FROM d WHERE levenshtein(token, 'tabl') <= 1
"""


def q_cooccurrence_pairs(spark, sf_dir):
    """B5/Q13: token co-occurrence pairs (pair index), rare tokens
    only (df bounds ≙ PairsIndexer skipping commons; bounds chosen so
    the check exercises real rows at sf0.01)."""
    # tf feeds the df filter and the semi-join source; t is read from
    # both sides of the self-join — persist each so the tokenize and
    # the distinct run once per invocation
    tf = shared(q_tokenize_tf(spark, sf_dir))
    d = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    rare = d.filter((F.col("df") >= 2) & (F.col("df") <= 400)).select("token")
    t = shared(
        tf.join(rare, "token", "left_semi").select("doc_id", "token").distinct()
    )
    a, b = t.alias("a"), t.alias("b")
    return (
        a.join(b, "doc_id")
        .filter(F.col("a.token") < F.col("b.token"))
        .groupBy(
            F.col("a.token").alias("token_a"), F.col("b.token").alias("token_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
    )


SQL_COOCCURRENCE = f"""
WITH tok AS ({SQL_TOKENS}),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
d AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
rare AS (SELECT token FROM d WHERE df BETWEEN 2 AND 400),
t AS (SELECT DISTINCT doc_id, token FROM tf WHERE token IN (SELECT token FROM rare))
SELECT a.token AS token_a, b.token AS token_b, count(*)::bigint AS n_docs
FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.token < b.token
GROUP BY 1, 2 HAVING count(*) >= 2
"""


def q_char_trigrams(spark, sf_dir):
    toks = _tok(spark, sf_dir).select("token").distinct().filter(
        F.length("token") >= 4
    )
    return toks.select(
        "token",
        F.explode(
            F.expr(
                "transform(sequence(1, length(token)),"
                " i -> substring(concat(' ', token, ' '), i, 3))"
            )
        ).alias("trigram"),
    ).select("trigram", "token")


SQL_CHAR_TRIGRAMS = f"""
WITH tok AS ({SQL_TOKENS}),
d AS (SELECT DISTINCT token FROM tok WHERE length(token) >= 4)
SELECT substr(' ' || token || ' ', i, 3) AS trigram, token
FROM (SELECT token, unnest(range(1, length(token) + 1)) AS i FROM d)
"""

def q_phrase_count(spark, sf_dir):
    """Positional-phrase analog over raw text (the search flow's
    phrase mode counts over packed position streams; this is the
    SQL-checkable twin): per-doc occurrence count of the normalized
    phrase 'data table'."""
    norm = dedup.normalize_text(F.col("text"))
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.regexp_count(norm, F.lit("data table")).cast("long").alias("n_occ"),
        )
        .filter(F.col("n_occ") > 0)
    )


SQL_PHRASE_COUNT = """
SELECT doc_id,
       len(regexp_extract_all(
         trim(regexp_replace(lower(text), '[^a-z0-9_]+', ' ', 'g')),
         'data table'))::bigint AS n_occ
FROM documents
WHERE len(regexp_extract_all(
        trim(regexp_replace(lower(text), '[^a-z0-9_]+', ' ', 'g')),
        'data table')) > 0
"""


def q_tfidf_vectors(spark, sf_dir):
    """Per-(doc, token) tf-idf weight (the sparse-vectorization step
    of a retrieval/embedding pipeline), smooth idf = ln(N/df) + 1."""
    # tf feeds the doc count, the df aggregate and the weight join —
    # persist so the tokenize runs once per invocation
    tf = shared(q_tokenize_tf(spark, sf_dir))
    # n_docs via a broadcast 1-row aggregate cross join — ONE job for
    # the whole query instead of a separate count() action per call
    n = tf.agg(
        F.countDistinct("doc_id").cast("double").alias("n_docs")
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    return (
        tf.join(df, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf")
                * (F.log(F.col("n_docs") / F.col("df")) + F.lit(1.0)),
                6,
            ).alias("tfidf"),
        )
        .filter(F.col("tfidf") >= 3.0)
    )


SQL_TFIDF = f"""
WITH tok AS ({SQL_TOKENS}),
tf AS (SELECT doc_id, token, count(*)::bigint AS tf FROM tok GROUP BY doc_id, token),
n AS (SELECT count(DISTINCT doc_id)::double AS n_docs FROM tf),
df AS (SELECT token, count(*)::bigint AS df FROM tf GROUP BY token)
SELECT tf.doc_id, tf.token,
       round(tf.tf * (ln(n.n_docs / df.df) + 1.0), 6) AS tfidf
FROM tf JOIN df USING (token) CROSS JOIN n
WHERE round(tf.tf * (ln(n.n_docs / df.df) + 1.0), 6) >= 3.0
"""


def q_top_terms_per_doc(spark, sf_dir):
    """Top-3 tokens per document by (tf desc, token asc) — the
    per-doc summary window (keyword extraction baseline)."""
    tf = q_tokenize_tf(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy(F.desc("tf"), F.asc("token"))
    return (
        tf.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "token", "tf", "rn")
    )


SQL_TOP_TERMS = f"""
WITH tok AS ({SQL_TOKENS}),
tf AS (SELECT doc_id, token, count(*)::bigint AS tf FROM tok GROUP BY doc_id, token),
r AS (SELECT doc_id, token, tf,
       row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, token)::bigint AS rn
      FROM tf)
SELECT doc_id, token, tf, rn FROM r WHERE rn <= 3
"""


# ---------------------------------------------------------------------------
# dedup / similarity / text-analysis (training-data pipeline ops)
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    """Exact dedup over the corpus PLUS a deterministic re-keyed
    duplicate slice (doc_id % 7 == 0 → doc_id + 100000): the synthetic
    corpus has no verbatim dups, so the injected slice makes the
    oracle exercise real duplicate groups instead of hash-matching on
    zero rows."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    dup_slice = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return dedup.exact_duplicates(d.unionByName(dup_slice), "doc_id", "text")


SQL_DEDUP_EXACT = """
WITH uni AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
),
h AS (SELECT doc_id,
  md5(trim(regexp_replace(lower(text), '[^a-z0-9_]+', ' ', 'g'))) AS text_hash
  FROM uni)
SELECT text_hash, count(*)::bigint AS n_dups, min(doc_id) AS canonical_id
FROM h GROUP BY text_hash HAVING count(*) > 1
"""

SQL_SHINGLES = """
t AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
        x -> x <> '') AS ts FROM documents),
sh AS (SELECT DISTINCT doc_id AS id,
        array_to_string(list_slice(ts, i + 1, i + 3), ' ') AS shingle
       FROM (SELECT doc_id, ts, unnest(range(0, greatest(len(ts) - 3, 0) + 1)) AS i FROM t)
       WHERE array_to_string(list_slice(ts, i + 1, i + 3), ' ') <> '')
"""


def q_dedup_jaccard(spark, sf_dir):
    return dedup.ngram_jaccard_pairs_lsh(
        _docs(spark, sf_dir), "doc_id", "text", k=3, threshold=0.05,
        n_hashes=8, bands=4,
    )


SQL_DEDUP_JACCARD = f"""
WITH {SQL_SHINGLES},
sizes AS (SELECT id, count(*)::bigint AS set_size FROM sh GROUP BY id),
ab(hid, a, b) AS (VALUES (0,3557,127),(1,3041,9111),(2,2503,51787),(3,1987,303773),
  (4,1597,917113),(5,1229,2531381),(6,919,7247237),(7,613,19300907)),
base AS (SELECT id, ('0x' || substr(md5(shingle), 1, 12))::bigint AS base FROM sh),
h AS (SELECT id, hid, (a * base + b) % 2305843009213693951 AS hv FROM base, ab),
sig AS (SELECT id, hid, min(hv) AS minhash FROM h GROUP BY id, hid),
banded AS (SELECT id, (hid // 2)::int AS band,
             md5(string_agg(minhash::varchar, ',' ORDER BY minhash)) AS band_key
           FROM sig GROUP BY id, band),
cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
         WHERE a.id < b.id),
common AS (SELECT c.id_a, c.id_b, count(*)::bigint AS n_common
           FROM cand c
           JOIN sh a ON a.id = c.id_a
           JOIN sh b ON b.id = c.id_b AND b.shingle = a.shingle
           GROUP BY 1, 2)
SELECT id_a, id_b, n_common, sa.set_size AS size_a, sb.set_size AS size_b,
       round(n_common / (sa.set_size + sb.set_size - n_common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.id = common.id_a
JOIN sizes sb ON sb.id = common.id_b
WHERE round(n_common / (sa.set_size + sb.set_size - n_common), 6) >= 0.05
"""


def q_minhash_signatures(spark, sf_dir):
    return dedup.minhash_signatures(
        _docs(spark, sf_dir), "doc_id", "text", n_hashes=8, k=3
    )


SQL_MINHASH = f"""
WITH {SQL_SHINGLES},
ab(hid, a, b) AS (VALUES (0,3557,127),(1,3041,9111),(2,2503,51787),(3,1987,303773),
  (4,1597,917113),(5,1229,2531381),(6,919,7247237),(7,613,19300907)),
base AS (SELECT id, ('0x' || substr(md5(shingle), 1, 12))::bigint AS base FROM sh),
h AS (SELECT id, hid, (a * base + b) % 2305843009213693951 AS hv FROM base, ab)
SELECT id, hid::int AS hash_id, min(hv) AS minhash FROM h GROUP BY id, hid
"""


def q_minhash_lsh_pairs(spark, sf_dir):
    return dedup.minhash_lsh_pairs(
        _docs(spark, sf_dir), "doc_id", "text", n_hashes=8, bands=4, k=3
    )


SQL_MINHASH_LSH_PAIRS = f"""
WITH {SQL_SHINGLES},
ab(hid, a, b) AS (VALUES (0,3557,127),(1,3041,9111),(2,2503,51787),(3,1987,303773),
  (4,1597,917113),(5,1229,2531381),(6,919,7247237),(7,613,19300907)),
base AS (SELECT id, ('0x' || substr(md5(shingle), 1, 12))::bigint AS base FROM sh),
h AS (SELECT id, hid, (a * base + b) % 2305843009213693951 AS hv FROM base, ab),
sig AS (SELECT id, hid, min(hv) AS minhash FROM h GROUP BY id, hid),
banded AS (SELECT id, (hid // 2)::int AS band,
             md5(string_agg(minhash::varchar, ',' ORDER BY minhash)) AS band_key
           FROM sig GROUP BY id, band)
SELECT DISTINCT a.id AS id_a, b.id AS id_b
FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
WHERE a.id < b.id
"""


def q_dedup_clusters(spark, sf_dir):
    """Near-duplicate clusters: connected components (large-star /
    small-star) over the MinHash-LSH candidate pairs. cluster_id =
    min doc_id of the component; only docs that hit at least one
    candidate pair appear."""
    pairs = dedup.minhash_lsh_pairs(
        _docs(spark, sf_dir), "doc_id", "text", n_hashes=8, bands=4, k=3
    )
    cc = dedup.connected_components(pairs, "id_a", "id_b")
    return cc.select(
        F.col("id").alias("doc_id"), F.col("cluster_id")
    ).orderBy("doc_id")


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {SQL_SHINGLES},
ab(hid, a, b) AS (VALUES (0,3557,127),(1,3041,9111),(2,2503,51787),(3,1987,303773),
  (4,1597,917113),(5,1229,2531381),(6,919,7247237),(7,613,19300907)),
base AS (SELECT id, ('0x' || substr(md5(shingle), 1, 12))::bigint AS base FROM sh),
h AS (SELECT id, hid, (a * base + b) % 2305843009213693951 AS hv FROM base, ab),
sig AS (SELECT id, hid, min(hv) AS minhash FROM h GROUP BY id, hid),
banded AS (SELECT id, (hid // 2)::int AS band,
             md5(string_agg(minhash::varchar, ',' ORDER BY minhash)) AS band_key
           FROM sig GROUP BY id, band),
e AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
      WHERE a.id < b.id),
sym AS (SELECT id_a AS u, id_b AS v FROM e UNION ALL SELECT id_b, id_a FROM e),
walk(n, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM sym) t
  UNION
  SELECT w.n, s.v FROM walk w JOIN sym s ON s.u = w.r
)
SELECT n AS doc_id, min(r) AS cluster_id FROM walk GROUP BY n ORDER BY doc_id
"""


def q_dedup_keep_best(spark, sf_dir):
    """Canonical-document selection per near-dup cluster: the standard
    'keep best, drop rest' dedup policy — cluster membership from
    large-star/small-star connected components over the MinHash-LSH
    pairs, keeper = highest ROUNDED quality score (rounding first
    keeps the keeper choice bit-identical across engines), doc_id
    tie-break. keep is 1/0."""
    from pyspark.sql.window import Window

    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n_hashes=8, bands=4, k=3
    )
    cc = dedup.connected_components(pairs, "id_a", "id_b").select(
        F.col("id").alias("doc_id"), "cluster_id"
    )
    q = textstats.quality_score(docs, "doc_id", "text").select(
        F.col("id").alias("doc_id"), "quality"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    return (
        cc.join(q, "doc_id")
        .withColumn(
            "keep", (F.row_number().over(w) == 1).cast("int")
        )
        .select("doc_id", "cluster_id", "quality", "keep")
        .orderBy("doc_id")
    )


def _sql_dedup_keep_best() -> str:
    return f"""
WITH RECURSIVE {SQL_SHINGLES},
ab(hid, a, b) AS (VALUES (0,3557,127),(1,3041,9111),(2,2503,51787),(3,1987,303773),
  (4,1597,917113),(5,1229,2531381),(6,919,7247237),(7,613,19300907)),
base AS (SELECT id, ('0x' || substr(md5(shingle), 1, 12))::bigint AS base FROM sh),
h AS (SELECT id, hid, (a * base + b) % 2305843009213693951 AS hv FROM base, ab),
sig AS (SELECT id, hid, min(hv) AS minhash FROM h GROUP BY id, hid),
banded AS (SELECT id, (hid // 2)::int AS band,
             md5(string_agg(minhash::varchar, ',' ORDER BY minhash)) AS band_key
           FROM sig GROUP BY id, band),
e AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
      WHERE a.id < b.id),
sym AS (SELECT id_a AS u, id_b AS v FROM e UNION ALL SELECT id_b, id_a FROM e),
walk(n, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM sym) t0
  UNION
  SELECT w.n, s.v FROM walk w JOIN sym s ON s.u = w.r
),
cc AS (SELECT n AS doc_id, min(r) AS cluster_id FROM walk GROUP BY n),
qt AS (SELECT doc_id AS id, text,
  list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), x -> x <> '') AS ts
  FROM documents),
qm AS (SELECT id,
  len(ts)::int AS n_tokens,
  (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))
        / greatest(length(text), 1) AS punct_ratio,
  len(list_filter(ts, x -> regexp_full_match(x, '[0-9]+')))
        / greatest(len(ts), 1) AS digit_ratio,
  {{stop}} AS stopword_ratio
  FROM qt),
q AS (SELECT id, round(CASE WHEN n_tokens < 5 THEN 0.0 ELSE
    (1.0 - punct_ratio) * 0.4 + (1.0 - digit_ratio) * 0.3 + stopword_ratio * 0.3
  END, 6) AS quality FROM qm)
SELECT c.doc_id, c.cluster_id, q.quality,
  (CASE WHEN row_number() OVER (
      PARTITION BY c.cluster_id ORDER BY q.quality DESC, c.doc_id
   ) = 1 THEN 1 ELSE 0 END)::int AS keep
FROM cc c JOIN q ON q.id = c.doc_id
ORDER BY doc_id
""".replace("{stop}", _sql_raw_ratio(textstats.STOPWORDS["en"]))


def q_embedding_near_dup(spark, sf_dir):
    planes = ann.make_planes(N_PLANES, EMB_DIM)
    return dedup.embedding_near_dup_pairs(
        _emb(spark, sf_dir), "vec_id", "embedding",
        threshold=0.2, n_planes=N_PLANES, plane_weights=planes,
    )


def _sql_embedding_near_dup() -> str:
    planes = ann.make_planes(N_PLANES, EMB_DIM)
    rows = ",\n".join(
        f"({j}, {i}, {w!r})"
        for j, plane in enumerate(planes)
        for i, w in enumerate(plane)
    )
    return f"""
WITH planes(j, i, w) AS (VALUES {rows}),
z AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
             unnest(embedding)::double AS x
      FROM embeddings),
dots AS (SELECT z.vec_id, p.j, sum(z.x * p.w) AS dot
         FROM z JOIN planes p ON z.i = p.i GROUP BY z.vec_id, p.j),
buckets AS (SELECT vec_id AS id,
              sum(CASE WHEN dot > 0 THEN (1::bigint << j::int) ELSE 0 END)::bigint AS bucket
            FROM dots GROUP BY vec_id),
cand AS (SELECT a.id AS id_a, b.id AS id_b
         FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.id < b.id),
zz AS (SELECT c.id_a, c.id_b, unnest(ea.embedding)::double AS x,
              unnest(eb.embedding)::double AS y
       FROM cand c
       JOIN embeddings ea ON ea.vec_id = c.id_a
       JOIN embeddings eb ON eb.vec_id = c.id_b),
s AS (SELECT id_a, id_b, sum(x * y) AS dot, sum(x * x) AS nx, sum(y * y) AS ny
      FROM zz GROUP BY id_a, id_b)
SELECT id_a, id_b, round(dot / (sqrt(nx) * sqrt(ny)), 6) AS cosine
FROM s WHERE round(dot / (sqrt(nx) * sqrt(ny)), 6) >= 0.2
"""


def q_simhash(spark, sf_dir):
    return dedup.simhash(_docs(spark, sf_dir), "doc_id", "text", bits=16)


SQL_SIMHASH = """
WITH t AS (SELECT doc_id AS id,
  unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), x -> x <> '')) AS token
  FROM documents),
tf AS (SELECT id, token, count(*)::bigint AS tf FROM t GROUP BY id, token),
h AS (SELECT id, tf, ('0x' || substr(md5(token), 1, 12))::bigint AS hv FROM tf),
bits AS (SELECT id, tf, hv, unnest(range(0, 16)) AS bit FROM h),
votes AS (SELECT id, bit, sum((((hv >> bit::int) & 1) * 2 - 1) * tf)::bigint AS v
          FROM bits GROUP BY id, bit)
SELECT id, sum(CASE WHEN v > 0 THEN (1::bigint << bit::int) ELSE 0 END)::bigint AS simhash
FROM votes GROUP BY id
"""


def q_lang_id(spark, sf_dir):
    return textstats.language_id(_docs(spark, sf_dir), "doc_id", "text")


def _sql_raw_ratio(words: list[str]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return (
        f"len(list_filter(ts, x -> list_contains([{lst}], x)))"
        f" / greatest(len(ts), 1)"
    )


def _sql_ratio(words: list[str]) -> str:
    return f"round({_sql_raw_ratio(words)}, 6)"


SQL_LANG_ID = f"""
WITH t AS (SELECT doc_id AS id,
  list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), x -> x <> '') AS ts
  FROM documents),
r AS (SELECT id,
  {_sql_ratio(textstats.STOPWORDS['de'])} AS ratio_de,
  {_sql_ratio(textstats.STOPWORDS['en'])} AS ratio_en,
  {_sql_ratio(textstats.STOPWORDS['fr'])} AS ratio_fr
  FROM t)
SELECT id, ratio_de, ratio_en, ratio_fr,
  CASE WHEN ratio_de = greatest(ratio_de, ratio_en, ratio_fr) AND greatest(ratio_de, ratio_en, ratio_fr) > 0.05 THEN 'de'
       WHEN ratio_en = greatest(ratio_de, ratio_en, ratio_fr) AND greatest(ratio_de, ratio_en, ratio_fr) > 0.05 THEN 'en'
       WHEN ratio_fr = greatest(ratio_de, ratio_en, ratio_fr) AND greatest(ratio_de, ratio_en, ratio_fr) > 0.05 THEN 'fr'
       ELSE 'unknown' END AS pred_lang
FROM r
"""


def q_quality_score(spark, sf_dir):
    return textstats.quality_score(_docs(spark, sf_dir), "doc_id", "text")


SQL_QUALITY = f"""
WITH t AS (SELECT doc_id AS id, text,
  list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), x -> x <> '') AS ts
  FROM documents),
m AS (SELECT id,
  length(text)::int AS n_chars,
  len(ts)::int AS n_tokens,
  list_sum(list_transform(ts, x -> length(x)::double))
        / greatest(len(ts), 1) AS avg_token_len,
  (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))
        / greatest(length(text), 1) AS punct_ratio,
  len(list_filter(ts, x -> regexp_full_match(x, '[0-9]+')))
        / greatest(len(ts), 1) AS digit_ratio,
  {_sql_raw_ratio(textstats.STOPWORDS['en'])} AS stopword_ratio
  FROM t)
SELECT id, n_chars, n_tokens, round(avg_token_len, 6) AS avg_token_len,
  round(punct_ratio, 6) AS punct_ratio, round(digit_ratio, 6) AS digit_ratio,
  round(stopword_ratio, 6) AS stopword_ratio,
  round(CASE WHEN n_tokens < 5 THEN 0.0 ELSE
    (1.0 - punct_ratio) * 0.4 + (1.0 - digit_ratio) * 0.3 + stopword_ratio * 0.3
  END, 6) AS quality
FROM m
"""


def q_token_counts(spark, sf_dir):
    return textstats.token_counts(_docs(spark, sf_dir), "doc_id", "text")


def q_unigram_logprob(spark, sf_dir):
    """Mean unigram log2-prob per doc under the corpus's own LM
    (pipelines/textstats.py): the CCNet-style quality gate."""
    return textstats.unigram_logprob(_docs(spark, sf_dir), "doc_id", "text")


SQL_UNIGRAM_LOGPROB = """
WITH t AS (
  SELECT doc_id AS id,
    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
                x -> x <> '') AS ts
  FROM documents),
e AS (SELECT id, unnest(ts) AS token FROM t),
c AS (SELECT token, count(*)::bigint AS cnt FROM e GROUP BY token),
n AS (SELECT sum(cnt)::double AS total FROM c),
l AS (
  SELECT e.id, log2(c.cnt / n.total) AS logp
  FROM e JOIN c USING (token) CROSS JOIN n),
d AS (
  SELECT id, count(*)::int AS n_tokens,
    list_sort(list(logp)) AS lps
  FROM l GROUP BY id),
a AS (
  SELECT id, n_tokens,
    round(list_aggregate(lps, 'sum') / n_tokens, 6) AS avg_logprob
  FROM d)
SELECT id, n_tokens, avg_logprob,
  round(pow(2.0, -avg_logprob), 4) AS ppl
FROM a
"""


SQL_TOKEN_COUNTS = """
SELECT doc_id AS id,
  len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))::int AS n_ws_tokens,
  len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), x -> x <> ''))::int AS n_word_tokens,
  ceil(length(text) / 4.0)::bigint AS n_bpe_est
FROM documents
"""


_SAMPLE_RATES = {"en": 0.5, "fr": 0.25, "de": 0.1}


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-language subsampling by content hash
    (pipelines/sampling.py): reproducible across runs and cluster
    sizes — the rebalancing primitive of a pretraining corpus."""
    return sampling.stratified_sample(
        _docs(spark, sf_dir), "doc_id", "lang", _SAMPLE_RATES,
        default_rate=0.05,
    )


SQL_STRATIFIED_SAMPLE = sampling.stratified_sample_sql(
    "documents", "doc_id", "lang", _SAMPLE_RATES, default_rate=0.05
)


def q_pack_sequences(spark, sf_dir):
    """Concat-and-cut sequence packing into ~2048-token training
    packs, hash-bucketed so packing is partition-parallel."""
    return sampling.pack_sequences(
        _docs(spark, sf_dir), "doc_id", "text", budget=2048
    )


SQL_PACK_SEQUENCES = sampling.pack_sequences_sql(
    "documents", "doc_id", "text", budget=2048
)


def q_collocations_pmi(spark, sf_dir):
    """Top-50 adjacent-bigram collocations by PMI (min count 5)."""
    return textstats.collocations_pmi(
        _docs(spark, sf_dir), "doc_id", "text", min_count=5, top_k=50
    )


SQL_COLLOCATIONS_PMI = """
WITH ts AS (
  SELECT doc_id, generate_subscripts(l, 1) AS i, unnest(l) AS w
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
                           x -> x <> '') AS l
        FROM documents)
),
uni AS (SELECT w, count(*)::bigint AS c FROM ts GROUP BY w),
big AS (SELECT a.w AS w1, b.w AS w2
        FROM ts a JOIN ts b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
bc AS (SELECT w1, w2, count(*)::bigint AS c_ab FROM big GROUP BY w1, w2),
tu AS (SELECT sum(c)::double AS u FROM uni),
tb AS (SELECT sum(c_ab)::double AS bt FROM bc)
SELECT w1 || ' ' || w2 AS bigram, c_ab,
       round(ln((c_ab::double * u * u) / (bt * ua.c::double * ub.c)), 6) AS pmi
FROM bc, tu, tb
JOIN uni ua ON ua.w = bc.w1
JOIN uni ub ON ub.w = bc.w2
WHERE c_ab >= 5
ORDER BY pmi DESC, bigram
LIMIT 50
"""


def q_repetition(spark, sf_dir):
    """Gopher-style duplicate-trigram fraction per document (the
    repetition data-quality filter) — one scan, in-row array math."""
    return textstats.repetition_score(
        _docs(spark, sf_dir), "doc_id", "text", n=3
    )


SQL_REPETITION = """
WITH t AS (
  SELECT doc_id AS id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
                     x -> x <> '') AS ts
  FROM documents
),
g AS (
  SELECT id,
         CASE WHEN len(ts) >= 3 THEN
           list_transform(range(0, len(ts) - 3 + 1),
                          i -> array_to_string(list_slice(ts, i + 1, i + 3), ' '))
         ELSE []::varchar[] END AS ng
  FROM t
)
SELECT id,
       len(ng)::bigint AS n_ngrams,
       len(list_distinct(ng))::bigint AS n_distinct,
       round((len(ng) - len(list_distinct(ng)))
             / greatest(len(ng), 1), 6) AS dup_ngram_frac
FROM g
"""


def q_contamination(spark, sf_dir):
    """Benchmark-contamination sweep: docs sharing a word 5-gram with
    the deterministic pseudo-eval subset (doc_id % 97 == 0) — the
    train/test decontamination pass; the eval side broadcasts."""
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    out = textstats.contamination(
        docs, "doc_id", "text", bench, "doc_id", "text", k=3,
        exclude_self=True,
    )
    return out.filter(F.col("n_shared") > 0)


SQL_CONTAMINATION = """
WITH t AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
                             x -> x <> '') AS ts
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id AS id,
         array_to_string(list_slice(ts, i + 1, i + 3), ' ') AS shingle
  FROM (SELECT doc_id, ts,
               unnest(range(0, greatest(len(ts) - 3, 0) + 1)) AS i FROM t)
  WHERE array_to_string(list_slice(ts, i + 1, i + 3), ' ') <> ''
),
bsh AS (SELECT id AS bench_id, shingle FROM sh WHERE id % 97 = 0),
sizes AS (SELECT id, count(*)::bigint AS n_shingles FROM sh GROUP BY id),
hits AS (SELECT s.id, s.shingle, b.bench_id
         FROM sh s JOIN bsh b ON b.shingle = s.shingle AND b.bench_id <> s.id),
agg AS (SELECT id, count(DISTINCT shingle)::bigint AS n_shared,
               count(DISTINCT bench_id)::bigint AS n_bench_docs
        FROM hits GROUP BY id)
SELECT z.id, z.n_shingles, a.n_shared, a.n_bench_docs,
       round(a.n_shared / greatest(z.n_shingles, 1), 6) AS containment
FROM sizes z JOIN agg a ON a.id = z.id
WHERE a.n_shared > 0
"""


def q_retrieval_topk(spark, sf_dir):
    """Distributed bulk retrieval (pipelines/retrieval.py): top-5
    BM25 docs for a TABLE of queries (docs with doc_id % 17 == 0
    play the query role) — the mass-geocoding / retrieval-pair
    mining path, zero driver state."""
    docs = _docs(spark, sf_dir)
    qids = docs.filter(F.col("doc_id") % 17 == 0).select(
        F.col("doc_id").alias("qid")
    )
    # the synthetic documents vocabulary is tiny (~31 tokens, almost
    # all corpus-wide), so the df ceiling is opened to 0.9 here; real
    # corpora use the default 0.05 stopword guard
    return retrieval.retrieval_topk(
        docs, "doc_id", "text", qids, k=5, max_df_frac=0.9
    )


SQL_RETRIEVAL_TOPK = f"""
WITH tok AS ({SQL_TOKENS}),
tf AS (SELECT doc_id, token, count(*)::bigint AS tf FROM tok GROUP BY doc_id, token),
dl AS (SELECT doc_id, count(*)::bigint AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*)::double AS n_docs, avg(dl)::double AS avgdl FROM dl),
df AS (SELECT token, count(*)::bigint AS df FROM tf GROUP BY token),
qtok AS (
  SELECT qid, token FROM (
    SELECT tf.doc_id AS qid, tf.token,
           row_number() OVER (PARTITION BY tf.doc_id
                              ORDER BY df.df, tf.token) AS qrn
    FROM tf JOIN df USING (token) CROSS JOIN stats
    WHERE tf.doc_id % 17 = 0
      AND df.df >= 2 AND df.df <= stats.n_docs * 0.9
  ) WHERE qrn <= 6
),
terms AS (
  SELECT q.qid, tf.doc_id,
         ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
         * (tf.tf * {K1 + 1.0})
           / (tf.tf + {K1} * ({1.0 - B} + {B} * dl.dl / stats.avgdl)) AS ts
  FROM qtok q JOIN tf USING (token) JOIN dl ON dl.doc_id = tf.doc_id
  JOIN df USING (token) CROSS JOIN stats
),
scored AS (
  SELECT qid, doc_id, round(sum(ts), 6) AS score,
         count(*)::bigint AS n_terms
  FROM terms WHERE doc_id <> qid GROUP BY qid, doc_id
)
SELECT qid, doc_id, rank, score, n_terms FROM (
  SELECT *, row_number() OVER (PARTITION BY qid
                               ORDER BY score DESC, doc_id)::bigint AS rank
  FROM scored
) WHERE rank <= 5
"""


def q_retrieval_lm_topk(spark, sf_dir):
    """Bulk retrieval under the query-likelihood LM scorer (Dirichlet
    smoothing, Zhai-Lafferty matched-terms form) — same plan shape as
    the BM25 path, alternative scoring for retrieval-pair mining."""
    docs = _docs(spark, sf_dir)
    qids = docs.filter(F.col("doc_id") % 17 == 0).select(
        F.col("doc_id").alias("qid")
    )
    return retrieval.retrieval_topk(
        docs, "doc_id", "text", qids, k=5, max_df_frac=0.9,
        scorer="lm_dirichlet",
    )


SQL_RETRIEVAL_LM_TOPK = f"""
WITH tok AS ({SQL_TOKENS}),
tf AS (SELECT doc_id, token, count(*)::bigint AS tf FROM tok GROUP BY doc_id, token),
dl AS (SELECT doc_id, count(*)::bigint AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*)::double AS n_docs, avg(dl)::double AS avgdl,
                 sum(dl)::double AS total_tokens FROM dl),
df AS (SELECT token, count(*)::bigint AS df, sum(tf)::bigint AS cf
       FROM tf GROUP BY token),
qtok AS (
  SELECT qid, token FROM (
    SELECT tf.doc_id AS qid, tf.token,
           row_number() OVER (PARTITION BY tf.doc_id
                              ORDER BY df.df, tf.token) AS qrn
    FROM tf JOIN df USING (token) CROSS JOIN stats
    WHERE tf.doc_id % 17 = 0
      AND df.df >= 2 AND df.df <= stats.n_docs * 0.9
  ) WHERE qrn <= 6
),
nq AS (SELECT qid, count(*)::double AS nq FROM qtok GROUP BY qid),
terms AS (
  SELECT q.qid, tf.doc_id, dl.dl,
         ln(1.0 + tf.tf / (2000.0 * df.cf / stats.total_tokens)) AS ts
  FROM qtok q JOIN tf USING (token) JOIN dl ON dl.doc_id = tf.doc_id
  JOIN df USING (token) CROSS JOIN stats
),
scored AS (
  SELECT t.qid, t.doc_id,
         round(sum(t.ts)
               + first(nq.nq) * ln(2000.0 / (first(t.dl) + 2000.0)), 6)
           AS score,
         count(*)::bigint AS n_terms
  FROM terms t JOIN nq USING (qid)
  WHERE t.doc_id <> t.qid GROUP BY t.qid, t.doc_id
)
SELECT qid, doc_id, rank, score, n_terms FROM (
  SELECT *, row_number() OVER (PARTITION BY qid
                               ORDER BY score DESC, doc_id)::bigint AS rank
  FROM scored
) WHERE rank <= 5
"""


def q_fingerprint(spark, sf_dir):
    return textstats.fingerprint(_docs(spark, sf_dir), "doc_id", "text", k=3)


SQL_FINGERPRINT = f"""
WITH {SQL_SHINGLES}
SELECT id, min(('0x' || substr(md5(shingle), 1, 12))::bigint) AS fingerprint,
       count(*)::bigint AS n_shingles
FROM sh GROUP BY id
"""

# ---------------------------------------------------------------------------
# embeddings: similarity search
# ---------------------------------------------------------------------------

def q_cosine_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return ann.cosine_topk(emb, [float(x) for x in qv], "vec_id", "embedding", k=10)


SQL_COSINE_TOPK = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
z AS (SELECT e.vec_id, unnest(e.embedding)::double AS x, unnest(q.qv)::double AS y
      FROM embeddings e, q),
s AS (SELECT vec_id, sum(x * y) AS dot, sum(x * x) AS nx, sum(y * y) AS ny
      FROM z GROUP BY vec_id)
SELECT vec_id AS id, round(dot / (sqrt(nx) * sqrt(ny)), 6) AS cosine
FROM s ORDER BY cosine DESC, id LIMIT 10
"""

N_IVF_CELLS, IVF_NPROBE = 8, 2


def q_ivf_topk(spark, sf_dir):
    """IVF-Flat approximate top-k (pipelines/ann.py): coarse-quantize
    to anchor cells, probe the nprobe nearest cells, brute-force
    within — the codebook-partitioned scale path next to sign-LSH."""
    emb = _emb(spark, sf_dir)
    anchors = ann.ivf_cells(emb, N_IVF_CELLS)
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return ann.ivf_topk(
        emb, [float(x) for x in qv], anchors,
        k=10, nprobe=IVF_NPROBE,
    )


SQL_IVF_TOPK = f"""
WITH a AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS av
  FROM (SELECT vec_id, embedding FROM embeddings
        ORDER BY vec_id LIMIT {N_IVF_CELLS})),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
za AS (SELECT e.vec_id, a.cell, unnest(e.embedding)::double AS x,
              unnest(a.av)::double AS y
       FROM embeddings e, a),
sa AS (SELECT vec_id, cell, sum(x * y) AS dot, sum(x * x) AS nx,
              sum(y * y) AS ny
       FROM za GROUP BY vec_id, cell),
ca AS (SELECT vec_id, cell,
              round(dot / (sqrt(nx) * sqrt(ny)), 6) AS cos_a FROM sa),
asg AS (SELECT vec_id, cell FROM (
          SELECT vec_id, cell, row_number() OVER (
            PARTITION BY vec_id ORDER BY cos_a DESC, cell ASC) AS rn
          FROM ca) WHERE rn = 1),
zq AS (SELECT a.cell, unnest(a.av)::double AS x, unnest(q.qv)::double AS y
       FROM a, q),
sq AS (SELECT cell, sum(x * y) AS dot, sum(x * x) AS nx, sum(y * y) AS ny
       FROM zq GROUP BY cell),
probe AS (SELECT cell FROM sq
          ORDER BY round(dot / (sqrt(nx) * sqrt(ny)), 6) DESC, cell
          LIMIT {IVF_NPROBE}),
ze AS (SELECT e.vec_id, unnest(e.embedding)::double AS x,
              unnest(q.qv)::double AS y
       FROM embeddings e, q),
se AS (SELECT vec_id, sum(x * y) AS dot, sum(x * x) AS nx, sum(y * y) AS ny
       FROM ze GROUP BY vec_id)
SELECT se.vec_id AS id, asg.cell::int AS cell,
       round(se.dot / (sqrt(se.nx) * sqrt(se.ny)), 6) AS cosine
FROM se JOIN asg USING (vec_id)
WHERE asg.cell IN (SELECT cell FROM probe)
ORDER BY cosine DESC, id LIMIT 10
"""


KMEANS_K = 8


def q_kmeans_clusters(spark, sf_dir):
    """Spherical k-means, 2 Lloyd iterations (pipelines/ann.py) —
    the SemDeDup clustering stage. Deterministic: anchor init from
    the k smallest ids, round-6 cosine assignment, round-6 centroid
    pin between iterations; the oracle unrolls the same two
    iterations in SQL."""
    return ann.kmeans_assign(_emb(spark, sf_dir), KMEANS_K, iters=2)


SQL_KMEANS_CLUSTERS = f"""
WITH a AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS av
  FROM (SELECT vec_id, embedding FROM embeddings
        ORDER BY vec_id LIMIT {KMEANS_K})),
ed AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
              unnest(embedding)::double AS x
       FROM embeddings),
a0d AS (SELECT cell, generate_subscripts(av, 1) - 1 AS pos,
               unnest(av)::double AS x FROM a),
za AS (SELECT e.vec_id, a.cell, unnest(e.embedding)::double AS x,
              unnest(a.av)::double AS y FROM embeddings e, a),
sa AS (SELECT vec_id, cell, sum(x * y) AS dot, sum(x * x) AS nx,
              sum(y * y) AS ny
       FROM za GROUP BY vec_id, cell),
c1r AS (SELECT vec_id, cell,
               round(dot / (sqrt(nx) * sqrt(ny)), 6) AS cos_a FROM sa),
asg1 AS (SELECT vec_id, cell FROM (
           SELECT vec_id, cell, row_number() OVER (
             PARTITION BY vec_id ORDER BY cos_a DESC, cell ASC) AS rn
           FROM c1r) WHERE rn = 1),
cm AS (SELECT asg1.cell, ed.pos, round(avg(ed.x), 6) AS m
       FROM ed JOIN asg1 USING (vec_id) GROUP BY asg1.cell, ed.pos),
cent AS (SELECT a0d.cell, a0d.pos, coalesce(cm.m, a0d.x) AS m
         FROM a0d LEFT JOIN cm ON a0d.cell = cm.cell AND a0d.pos = cm.pos),
zb AS (SELECT ed.vec_id, cent.cell, ed.x * cent.m AS xy,
              ed.x * ed.x AS xx, cent.m * cent.m AS yy
       FROM ed JOIN cent USING (pos)),
sb AS (SELECT vec_id, cell, sum(xy) AS dot, sum(xx) AS nx, sum(yy) AS ny
       FROM zb GROUP BY vec_id, cell),
c2r AS (SELECT vec_id, cell,
               round(dot / (sqrt(nx) * sqrt(ny)), 6) AS cos_b FROM sb)
SELECT vec_id AS id, cell::int AS cluster, cos_b AS cosine
FROM (SELECT vec_id, cell, cos_b, row_number() OVER (
        PARTITION BY vec_id ORDER BY cos_b DESC, cell ASC) AS rn FROM c2r)
WHERE rn = 1
"""


def q_semdedup_pairs(spark, sf_dir):
    """SemDeDup (pipelines/ann.py): k-means cells, then exact pairwise
    cosine only within each cell — pair volume Σ|cell|², bounded by
    scaling k with the corpus."""
    return ann.semdedup_pairs(
        _emb(spark, sf_dir), KMEANS_K, threshold=0.2, iters=2
    )


SQL_SEMDEDUP_PAIRS = f"""
WITH km AS ({SQL_KMEANS_CLUSTERS}),
zp AS (SELECT e1.vec_id AS id_a, e2.vec_id AS id_b,
              unnest(e1.embedding)::double AS x,
              unnest(e2.embedding)::double AS y
       FROM embeddings e1
       JOIN km k1 ON e1.vec_id = k1.id
       JOIN km k2 ON k1.cluster = k2.cluster AND k2.id > k1.id
       JOIN embeddings e2 ON e2.vec_id = k2.id),
sp AS (SELECT id_a, id_b, sum(x * y) AS dot, sum(x * x) AS nx,
              sum(y * y) AS ny
       FROM zp GROUP BY id_a, id_b)
SELECT id_a, id_b, round(dot / (sqrt(nx) * sqrt(ny)), 6) AS cosine
FROM sp WHERE round(dot / (sqrt(nx) * sqrt(ny)), 6) >= 0.2
"""


N_PLANES, EMB_DIM = 6, 64


def q_lsh_buckets(spark, sf_dir):
    """Sign-LSH bucket assignment (the IVF-style partition key for
    ANN at scale)."""
    planes = ann.make_planes(N_PLANES, EMB_DIM)
    emb = _emb(spark, sf_dir)
    return emb.select(
        F.col("vec_id").alias("id"),
        ann.sign_bucket_col(F.col("embedding"), planes).cast("long").alias("bucket"),
    )


def _sql_lsh_buckets() -> str:
    planes = ann.make_planes(N_PLANES, EMB_DIM)
    rows = ",\n".join(
        f"({j}, {i}, {w!r})"
        for j, plane in enumerate(planes)
        for i, w in enumerate(plane)
    )
    return f"""
WITH planes(j, i, w) AS (VALUES {rows}),
z AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
             unnest(embedding)::double AS x
      FROM embeddings),
dots AS (SELECT z.vec_id, p.j, sum(z.x * p.w) AS dot
         FROM z JOIN planes p ON z.i = p.i GROUP BY z.vec_id, p.j),
bits AS (SELECT vec_id, CASE WHEN dot > 0 THEN (1::bigint << j::int) ELSE 0 END AS b
         FROM dots)
SELECT vec_id AS id, sum(b)::bigint AS bucket FROM bits GROUP BY vec_id
"""



def q_lsh_topk_multiprobe(spark, sf_dir):
    """Multi-probe sign-LSH ANN: probe the query's bucket plus all
    Hamming-distance-1 neighbor buckets (recovers the recall a single
    probe loses when the query sits near a hyperplane), exact cosine
    within the probed buckets only."""
    planes = ann.make_planes(N_PLANES, EMB_DIM)
    emb = _emb(spark, sf_dir)
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return ann.lsh_topk(
        emb, [float(x) for x in qv], planes, "vec_id", "embedding",
        k=10, multi_probe=1,
    )


def _sql_lsh_topk_multiprobe() -> str:
    planes = ann.make_planes(N_PLANES, EMB_DIM)
    rows = ",\n".join(
        f"({j}, {i}, {w!r})"
        for j, plane in enumerate(planes)
        for i, w in enumerate(plane)
    )
    return f"""
WITH planes(j, i, w) AS (VALUES {rows}),
z AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
             unnest(embedding)::double AS x
      FROM embeddings),
dots AS (SELECT z.vec_id, p.j, sum(z.x * p.w) AS dot
         FROM z JOIN planes p ON z.i = p.i GROUP BY z.vec_id, p.j),
buckets AS (SELECT vec_id,
              sum(CASE WHEN dot > 0 THEN (1::bigint << j::int) ELSE 0 END)::bigint AS bucket
            FROM dots GROUP BY vec_id),
qb AS (SELECT bucket AS q FROM buckets WHERE vec_id = 0),
cand AS (SELECT b.vec_id FROM buckets b, qb
         WHERE bit_count(xor(b.bucket, qb.q)) <= 1),
qvec AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
zz AS (SELECT e.vec_id, unnest(e.embedding)::double AS x, unnest(qvec.qv)::double AS y
       FROM embeddings e, qvec
       WHERE e.vec_id IN (SELECT vec_id FROM cand)),
s AS (SELECT vec_id, sum(x * y) AS dot, sum(x * x) AS nx, sum(y * y) AS ny
      FROM zz GROUP BY vec_id)
SELECT vec_id AS id, round(dot / (sqrt(nx) * sqrt(ny)), 6) AS cosine
FROM s ORDER BY cosine DESC, id LIMIT 10
"""

# ---------------------------------------------------------------------------
# embeddings: product quantization (IVF-PQ's compression half)

PQ_M, PQ_KSUB, PQ_SHORTLIST = 4, 8, 50


def _pq_setup(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    cbs = ann.pq_codebooks(emb, PQ_M, PQ_KSUB)
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return emb, cbs, [float(x) for x in qv]


def q_pq_codes(spark, sf_dir):
    """PQ encode (pipelines/ann.py): every vector compressed to m
    codeword indices via round-6 L2^2 argmin against deterministic
    subspace codebooks. Code emitted as a '-'-joined string so the
    driver's value hash is array-layout-independent."""
    emb, cbs, _ = _pq_setup(spark, sf_dir)
    enc = ann.pq_encode(emb, cbs)
    return enc.select(
        "id", F.array_join(F.col("code"), "-").alias("code_str")
    )


def q_pq_adc_topk(spark, sf_dir):
    """Asymmetric-distance top-k over PQ codes (pipelines/ann.py):
    approximate distance = sum of per-subspace LUT lookups."""
    emb, cbs, qv = _pq_setup(spark, sf_dir)
    enc = ann.pq_encode(emb, cbs)
    return ann.pq_adc_topk(enc, qv, cbs, k=10)


def q_pq_rerank_topk(spark, sf_dir):
    """ADC shortlist + exact cosine rerank (pipelines/ann.py) — the
    production IVF-PQ recipe end-to-end."""
    emb, cbs, qv = _pq_setup(spark, sf_dir)
    return ann.pq_rerank_topk(
        emb, qv, cbs, shortlist=PQ_SHORTLIST, k=10
    )


# Shared PQ CTE body: codebooks = subspace slices of the PQ_KSUB
# smallest-id embeddings; dists = round-6 L2^2 of every (vector,
# subspace, codeword); codes = first-minimum argmin per subspace.
# Subspace width is derived from the data so the oracle tracks any
# embedding dim (len(embedding) // PQ_M).
_SQL_PQ_COMMON = f"""
cbids AS (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cw
  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {PQ_KSUB})),
dsub AS (SELECT (len(embedding) // {PQ_M})::int AS w
         FROM embeddings LIMIT 1),
elem0 AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
                 unnest(embedding)::double AS x
          FROM embeddings),
elem AS (SELECT e.vec_id, (e.i // d.w)::int AS sub,
                (e.i % d.w)::int AS si, e.x
         FROM elem0 e, dsub d),
cb AS (SELECT c.cw, e.sub, e.si, e.x AS cx
       FROM elem e JOIN cbids c USING (vec_id)),
dists AS (SELECT e.vec_id, e.sub, c.cw,
                 round(sum((e.x - c.cx) * (e.x - c.cx)), 6) AS d
          FROM elem e JOIN cb c ON e.sub = c.sub AND e.si = c.si
          GROUP BY e.vec_id, e.sub, c.cw),
codes AS (SELECT vec_id, sub, cw FROM (
            SELECT vec_id, sub, cw, row_number() OVER (
              PARTITION BY vec_id, sub ORDER BY d ASC, cw ASC) AS rn
            FROM dists) WHERE rn = 1)
"""

SQL_PQ_CODES = f"""
WITH {_SQL_PQ_COMMON}
SELECT vec_id AS id,
       string_agg(cw::varchar, '-' ORDER BY sub) AS code_str
FROM codes GROUP BY vec_id
"""

# The query vector is vec 0's embedding, so its per-codeword distance
# rows in `dists` ARE the ADC lookup table.
_SQL_PQ_ADC = f"""
{_SQL_PQ_COMMON},
adc AS (SELECT c.vec_id, round(sum(q.d), 6) AS adc
        FROM codes c JOIN dists q
          ON q.vec_id = 0 AND c.sub = q.sub AND c.cw = q.cw
        GROUP BY c.vec_id)
"""

SQL_PQ_ADC_TOPK = f"""
WITH {_SQL_PQ_ADC},
codestr AS (SELECT vec_id,
                   string_agg(cw::varchar, '-' ORDER BY sub) AS code_str
            FROM codes GROUP BY vec_id)
SELECT a.vec_id AS id, s.code_str, a.adc
FROM adc a JOIN codestr s USING (vec_id)
ORDER BY a.adc ASC, id ASC LIMIT 10
"""

SQL_PQ_RERANK_TOPK = f"""
WITH {_SQL_PQ_ADC},
short AS (SELECT vec_id FROM adc ORDER BY adc ASC, vec_id ASC
          LIMIT {PQ_SHORTLIST}),
qvec AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
zz AS (SELECT e.vec_id, unnest(e.embedding)::double AS x,
              unnest(qvec.qv)::double AS y
       FROM embeddings e, qvec
       WHERE e.vec_id IN (SELECT vec_id FROM short)),
s2 AS (SELECT vec_id, sum(x * y) AS dot, sum(x * x) AS nx,
              sum(y * y) AS ny
       FROM zz GROUP BY vec_id)
SELECT vec_id AS id, round(dot / (sqrt(nx) * sqrt(ny)), 6) AS cosine
FROM s2 ORDER BY cosine DESC, id LIMIT 10
"""

# ---------------------------------------------------------------------------
# events (streaming-shaped analytics, batch-checkable)


def q_stateful_sessions(spark, sf_dir):
    """Custom stateful operator twin (streaming/stateful.py,
    applyInPandasWithState on streams): full per-session rows — gap
    sessionization carrying running aggregates. Batch execution runs
    the same fold under applyInPandas; timestamps emitted as epochs
    so the check is timezone-neutral."""
    from .streaming.stateful import stateful_sessionize

    ev = _events(spark, sf_dir)
    out = stateful_sessionize(ev, gap_s=1800, flush_open=True)
    return out.select(
        "user_id",
        F.unix_timestamp("session_start").cast("long").alias("start_epoch"),
        F.unix_timestamp("session_end").cast("long").alias("end_epoch"),
        "n_events",
        F.round("sum_value", 6).alias("sum_value"),
    )


SQL_STATEFUL_SESSIONS = """
WITH o AS (SELECT user_id, event_id, ts, value,
        CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
             THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
g AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid FROM o)
SELECT user_id,
       floor(epoch(min(ts)))::bigint AS start_epoch,
       floor(epoch(max(ts)))::bigint AS end_epoch,
       count(*)::bigint AS n_events,
       round(sum(value), 6) AS sum_value
FROM g GROUP BY user_id, sid
"""


# ---------------------------------------------------------------------------

def q_events_hourly(spark, sf_dir):
    """Tumbling-window aggregation (the batch equivalent of the
    streaming readStream→window→agg path in streaming/ingest.py)."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).cast("long").alias("hour_epoch"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


SQL_EVENTS_HOURLY = """
SELECT epoch(date_trunc('hour', ts))::bigint AS hour_epoch, event_type,
       count(*)::bigint AS n_events, round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_events_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity) via lag window —
    the batch shape of applyInPandasWithState sessionization."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "new_s",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
                > 1800
            ),
            1,
        ).otherwise(0),
    )
    return flagged.groupBy("user_id").agg(
        F.sum("new_s").cast("long").alias("n_sessions"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )


SQL_EVENTS_SESSIONIZE = """
WITH o AS (SELECT user_id, ts, event_id,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           FROM events),
f AS (SELECT user_id,
        CASE WHEN prev IS NULL OR epoch(ts) - epoch(prev) > 1800 THEN 1 ELSE 0 END AS new_s
      FROM o)
SELECT user_id, sum(new_s)::bigint AS n_sessions, count(*)::bigint AS n_events
FROM f GROUP BY user_id
"""

# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------


def q_token_kinds(spark, sf_dir):
    """T4 (kind flagging, generalized): classify every dictionary
    token — digit (the reference's housenumber-kind trigger,
    text.py:236-244), snake (underscore identifiers: the transcript
    analog of special-kind tokens), else word — with df per kind."""
    d = q_token_dictionary(spark, sf_dir).select("token", "df")
    kind = (
        F.when(F.col("token").rlike("^[0-9]+$"), F.lit("digit"))
        .when(F.col("token").contains("_"), F.lit("snake"))
        .otherwise(F.lit("word"))
    )
    return d.select("token", "df", kind.alias("kind"))


SQL_TOKEN_KINDS = f"""
WITH tok AS ({SQL_TOKENS}),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
d AS (SELECT token, count(*)::bigint AS df FROM tf GROUP BY token)
SELECT token, df,
       CASE WHEN regexp_full_match(token, '[0-9]+') THEN 'digit'
            WHEN contains(token, '_') THEN 'snake'
            ELSE 'word' END AS kind
FROM d
"""


def q_doc_labels(spark, sf_dir):
    """R3 (make_labels): synthesize a display label from the doc's
    fields (reference results.py:13-29 concatenates name + postcode +
    city; the documents analog is source/lang + a text snippet)."""
    d = _docs(spark, sf_dir)
    label = F.concat_ws(
        " — ",
        F.concat_ws("/", F.col("source"), F.col("lang")),
        F.substring(F.col("text"), 1, 80),
    )
    return d.select("doc_id", label.alias("label"))


SQL_DOC_LABELS = """
SELECT doc_id,
       concat_ws(' — ', concat_ws('/', source, lang), substr(text, 1, 80)) AS label
FROM documents
"""


def q_events_context(spark, sf_dir):
    """Previous-3 context assembly per event (streaming/aggregate.py
    event_context) — the training-pair construction window, one
    per-user bounded-frame window, deterministic (ts, event_id)
    order."""
    from .streaming.aggregate import event_context

    return event_context(_events(spark, sf_dir), n=3)


SQL_EVENTS_CONTEXT = """
SELECT event_id, user_id,
       len(ctx)::bigint AS n_prev,
       coalesce(array_to_string(ctx, ' '), '') AS prev_context
FROM (
  SELECT event_id, user_id,
         coalesce(list(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), []) AS ctx
  FROM events
)
"""


def q_pii_redact(spark, sf_dir):
    """PII detection + redaction (textstats.pii_redact): counts per
    class + sequentially-redacted text, pure regexp column math. The
    synthetic corpus carries no PII, so each doc is deterministically
    augmented (doc_id % 5 selects email / ipv4 / ssn / phone / clean)
    identically in Spark and the oracle — the op itself sees only an
    (id, text) table."""
    d = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(
            d % 5 == 0,
            F.concat(
                F.lit(" contact user"), d.cast("string"),
                F.lit("@example.com"),
            ),
        )
        .when(
            d % 5 == 1,
            F.concat(
                F.lit(" host 10.0."), (d % 256).cast("string"),
                F.lit("."), (d % 100).cast("string"),
            ),
        )
        .when(
            d % 5 == 2,
            F.concat(
                F.lit(" id 123-45-"),
                F.lpad((d % 10000).cast("string"), 4, "0"),
            ),
        )
        .when(
            d % 5 == 3,
            F.concat(
                F.lit(" call +1 555-"),
                F.lpad((d % 10000).cast("string"), 4, "0"),
            ),
        )
        .otherwise(F.lit("")),
    )
    docs = _docs(spark, sf_dir).select("doc_id", aug.alias("aug"))
    return textstats.pii_redact(docs, "doc_id", "aug")


def _sql_pii_redact() -> str:
    # chain the four replacements in PII_PATTERNS order (the op's
    # sequential-redaction semantics), counts from the original text
    chain = "aug"
    for _, p, r in textstats.PII_PATTERNS:
        chain = f"regexp_replace({chain}, '{p}', '{r}', 'g')"
    counts = ", ".join(
        f"len(regexp_extract_all(aug, '{p}'))::bigint AS n_{n}"
        for n, p, _ in textstats.PII_PATTERNS
    )
    total = " + ".join(
        f"len(regexp_extract_all(aug, '{p}'))"
        for _, p, _ in textstats.PII_PATTERNS
    )
    return f"""
WITH a AS (
  SELECT doc_id AS id,
         text || CASE doc_id % 5
           WHEN 0 THEN ' contact user' || cast(doc_id AS varchar) || '@example.com'
           WHEN 1 THEN ' host 10.0.' || cast(doc_id % 256 AS varchar)
                       || '.' || cast(doc_id % 100 AS varchar)
           WHEN 2 THEN ' id 123-45-' || lpad(cast(doc_id % 10000 AS varchar), 4, '0')
           WHEN 3 THEN ' call +1 555-' || lpad(cast(doc_id % 10000 AS varchar), 4, '0')
           ELSE ''
         END AS aug
  FROM documents
)
SELECT id, {counts}, ({total})::bigint AS n_pii, {chain} AS redacted
FROM a
"""


def q_chunk_documents(spark, sf_dir):
    """Sliding-window chunking (sampling.chunk_documents): 64-token
    windows every 48 tokens — in-row sequence/slice math, no
    shuffle."""
    return sampling.chunk_documents(
        _docs(spark, sf_dir), "doc_id", "text", chunk_size=64, stride=48
    )


SQL_CHUNK_DOCUMENTS = """
WITH t AS (
  SELECT doc_id AS id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
                     x -> x <> '') AS ts
  FROM documents
),
s AS (
  SELECT id, ts, unnest(range(0, len(ts), 48)) AS start_tok
  FROM t WHERE len(ts) > 0
)
SELECT id,
       (start_tok // 48)::bigint AS chunk_idx,
       start_tok::bigint AS start_tok,
       least(64, len(ts) - start_tok)::bigint AS n_chunk_tokens,
       array_to_string(list_slice(ts, start_tok + 1,
                                  least(start_tok + 64, len(ts))), ' ')
         AS chunk_text
FROM s
"""


_HL_TERMS = ["merge", "vector", "stream"]


def q_highlight_snippets(spark, sf_dir):
    """Search-hit highlighting + snippet windows
    (textstats.highlight_snippets): per matching doc, the earliest
    query-term position, total hits, and the ±4-word snippet with
    term occurrences wrapped in <em> tags — zero-shuffle render pass."""
    return textstats.highlight_snippets(
        _docs(spark, sf_dir), "doc_id", "text", _HL_TERMS, window=4
    )


_HL_POS = ", ".join(
    f"nullif(list_position(words, '{t}'), 0)" for t in _HL_TERMS
)
_HL_LIST = "[" + ", ".join(f"'{t}'" for t in _HL_TERMS) + "]"
_HL_PAT = r"\b(" + "|".join(sorted(_HL_TERMS)) + r")\b"

SQL_HIGHLIGHT_SNIPPETS = f"""
WITH w AS (
  SELECT doc_id AS id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
                     x -> x <> '') AS words
  FROM documents
),
hit AS (
  SELECT id, words,
         least({_HL_POS})::bigint AS first_pos,
         len(list_filter(words, x -> list_contains({_HL_LIST}, x)))::bigint
           AS n_hits
  FROM w
),
snip AS (
  SELECT id, first_pos, n_hits,
         array_to_string(
           list_slice(words, greatest(1, first_pos - 4),
                      greatest(1, first_pos - 4) + 8), ' ') AS snippet
  FROM hit WHERE first_pos IS NOT NULL
)
SELECT id, first_pos, n_hits, snippet,
       regexp_replace(snippet, '{_HL_PAT}', '<em>\\1</em>', 'g')
         AS highlighted
FROM snip
"""


def q_semantic_topk(spark, sf_dir):
    """Batched exact cosine top-k for a TABLE of query vectors
    (pipelines/retrieval.py:semantic_topk) — the multi-query twin of
    cosine_topk; query vectors are the % 17 == 0 subset, self-hits
    excluded before ranking."""
    emb = _emb(spark, sf_dir)
    qvecs = emb.filter(F.col("vec_id") % 17 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    return retrieval.semantic_topk(
        emb, "vec_id", "embedding", qvecs, "qid", "qv", k=10,
        exclude_self=True,
    )


SQL_SEMANTIC_TOPK = """
WITH q AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings
  WHERE vec_id % 17 = 0),
z AS (
  SELECT q.qid, e.vec_id AS doc_id,
         unnest(e.embedding)::double AS x, unnest(q.qv)::double AS y
  FROM embeddings e, q),
s AS (
  SELECT qid, doc_id, sum(x * y) AS dot, sum(x * x) AS nx,
         sum(y * y) AS ny
  FROM z GROUP BY qid, doc_id),
c AS (
  SELECT qid, doc_id, round(dot / (sqrt(nx) * sqrt(ny)), 6) AS cosine
  FROM s WHERE doc_id <> qid)
SELECT qid, doc_id, rank, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY qid
                               ORDER BY cosine DESC, doc_id)::bigint AS rank
  FROM c
) WHERE rank <= 10
"""


def q_hybrid_rrf_topk(spark, sf_dir):
    """Hybrid BM25 + exact-cosine retrieval fused with Reciprocal
    Rank Fusion (pipelines/retrieval.py:hybrid_rrf_topk). Query docs
    are the % 17 == 0 subset; embeddings align vec_id ≡ doc_id in
    the synthetic tables."""
    docs = _docs(spark, sf_dir)
    qids = docs.filter(F.col("doc_id") % 17 == 0).select(
        F.col("doc_id").alias("qid")
    )
    return retrieval.hybrid_rrf_topk(
        docs, "doc_id", "text", _emb(spark, sf_dir), "vec_id",
        "embedding", qids, k=5, pool=20, max_df_frac=0.9,
    )


SQL_HYBRID_RRF = f"""
WITH tok AS ({SQL_TOKENS}),
tf AS (SELECT doc_id, token, count(*)::bigint AS tf FROM tok GROUP BY doc_id, token),
dl AS (SELECT doc_id, count(*)::bigint AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*)::double AS n_docs, avg(dl)::double AS avgdl FROM dl),
df AS (SELECT token, count(*)::bigint AS df FROM tf GROUP BY token),
qtok AS (
  SELECT qid, token FROM (
    SELECT tf.doc_id AS qid, tf.token,
           row_number() OVER (PARTITION BY tf.doc_id
                              ORDER BY df.df, tf.token) AS qrn
    FROM tf JOIN df USING (token) CROSS JOIN stats
    WHERE tf.doc_id % 17 = 0
      AND df.df >= 2 AND df.df <= stats.n_docs * 0.9
  ) WHERE qrn <= 6
),
terms AS (
  SELECT q.qid, tf.doc_id,
         ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
         * (tf.tf * {K1 + 1.0})
           / (tf.tf + {K1} * ({1.0 - B} + {B} * dl.dl / stats.avgdl)) AS ts
  FROM qtok q JOIN tf USING (token) JOIN dl ON dl.doc_id = tf.doc_id
  JOIN df USING (token) CROSS JOIN stats
),
lexscored AS (
  SELECT qid, doc_id, round(sum(ts), 6) AS score
  FROM terms WHERE doc_id <> qid GROUP BY qid, doc_id
),
lex AS (
  SELECT qid, doc_id, lex_rank FROM (
    SELECT *, row_number() OVER (PARTITION BY qid
                                 ORDER BY score DESC, doc_id)::bigint
      AS lex_rank
    FROM lexscored
  ) WHERE lex_rank <= 20
),
qv AS (
  SELECT vec_id AS qid, embedding AS qve FROM embeddings
  WHERE vec_id % 17 = 0),
z AS (
  SELECT qv.qid, e.vec_id AS doc_id,
         unnest(e.embedding)::double AS x, unnest(qv.qve)::double AS y
  FROM embeddings e, qv),
sdot AS (
  SELECT qid, doc_id, sum(x * y) AS dot, sum(x * x) AS nx,
         sum(y * y) AS ny
  FROM z GROUP BY qid, doc_id),
csc AS (
  SELECT qid, doc_id, round(dot / (sqrt(nx) * sqrt(ny)), 6) AS cosine
  FROM sdot WHERE doc_id <> qid),
sem AS (
  SELECT qid, doc_id, sem_rank FROM (
    SELECT qid, doc_id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY cosine DESC, doc_id)::bigint
      AS sem_rank
    FROM csc
  ) WHERE sem_rank <= 20
),
fused AS (
  SELECT qid, doc_id,
         round(coalesce(1.0 / (60 + lex_rank), 0.0)
               + coalesce(1.0 / (60 + sem_rank), 0.0), 6) AS rrf_score,
         coalesce(lex_rank, 0)::bigint AS lex_rank,
         coalesce(sem_rank, 0)::bigint AS sem_rank
  FROM lex FULL OUTER JOIN sem USING (qid, doc_id)
)
SELECT qid, doc_id, rank, rrf_score, lex_rank, sem_rank FROM (
  SELECT *, row_number() OVER (PARTITION BY qid
                               ORDER BY rrf_score DESC, doc_id)::bigint
    AS rank
  FROM fused
) WHERE rank <= 5
"""


def q_retrieval_prf_topk(spark, sf_dir):
    """RM3 pseudo-relevance-feedback retrieval
    (pipelines/retrieval.py:retrieval_prf_topk): BM25 pass → top-5
    feedback docs → 3 expansion terms → interpolated re-score."""
    docs = _docs(spark, sf_dir)
    qids = docs.filter(F.col("doc_id") % 17 == 0).select(
        F.col("doc_id").alias("qid")
    )
    return retrieval.retrieval_prf_topk(
        docs, "doc_id", "text", qids, k=5, pool=5, n_expand=3,
        alpha=0.5, max_df_frac=0.9,
    )


SQL_RETRIEVAL_PRF = f"""
WITH tok AS ({SQL_TOKENS}),
tf AS (SELECT doc_id, token, count(*)::bigint AS tf FROM tok GROUP BY doc_id, token),
dl AS (SELECT doc_id, sum(tf)::bigint AS dl FROM tf GROUP BY doc_id),
stats AS (SELECT count(*)::double AS n_docs, avg(dl)::double AS avgdl FROM dl),
df AS (SELECT token, count(*)::bigint AS df FROM tf GROUP BY token),
qtok AS (
  SELECT qid, token FROM (
    SELECT tf.doc_id AS qid, tf.token,
           row_number() OVER (PARTITION BY tf.doc_id
                              ORDER BY df.df, tf.token) AS qrn
    FROM tf JOIN df USING (token) CROSS JOIN stats
    WHERE tf.doc_id % 17 = 0
      AND df.df >= 2 AND df.df <= stats.n_docs * 0.9
  ) WHERE qrn <= 6
),
terms1 AS (
  SELECT q.qid, tf.doc_id,
         ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
         * (tf.tf * {K1 + 1.0})
           / (tf.tf + {K1} * ({1.0 - B} + {B} * dl.dl / stats.avgdl)) AS ts
  FROM qtok q JOIN tf USING (token) JOIN dl ON dl.doc_id = tf.doc_id
  JOIN df USING (token) CROSS JOIN stats
),
lexscored AS (
  SELECT qid, doc_id, round(sum(ts), 6) AS score
  FROM terms1 WHERE doc_id <> qid GROUP BY qid, doc_id
),
lex AS (
  SELECT qid, doc_id, score FROM (
    SELECT *, row_number() OVER (PARTITION BY qid
                                 ORDER BY score DESC, doc_id) AS r
    FROM lexscored
  ) WHERE r <= 5
),
nq AS (SELECT qid, count(*)::double AS nq FROM qtok GROUP BY qid),
ssum AS (SELECT qid, sum(score) AS ssum FROM lex GROUP BY qid),
fb AS (
  SELECT l.qid, tf.token,
         round(sum(tf.tf::double / dl.dl * (l.score / s.ssum)), 6) AS w
  FROM lex l JOIN ssum s USING (qid)
  JOIN tf ON tf.doc_id = l.doc_id
  JOIN dl ON dl.doc_id = l.doc_id
  GROUP BY l.qid, tf.token
),
exp_cand AS (
  SELECT fb.qid, fb.token, fb.w
  FROM fb JOIN df USING (token) CROSS JOIN stats
  WHERE df.df >= 2 AND df.df <= stats.n_docs * 0.9
    AND NOT EXISTS (SELECT 1 FROM qtok q
                    WHERE q.qid = fb.qid AND q.token = fb.token)
),
expansion AS (
  SELECT qid, token, w FROM (
    SELECT *, row_number() OVER (PARTITION BY qid
                                 ORDER BY w DESC, token) AS ern
    FROM exp_cand
  ) WHERE ern <= 3
),
wsum AS (SELECT qid, sum(w) AS wsum FROM expansion GROUP BY qid),
wq AS (
  SELECT q.qid, q.token, round(0.5 / nq.nq, 6) AS qweight
  FROM qtok q JOIN nq USING (qid)
  UNION ALL
  SELECT e.qid, e.token, round(0.5 * e.w / ws.wsum, 6) AS qweight
  FROM expansion e JOIN wsum ws USING (qid)
),
terms2 AS (
  SELECT wq.qid, tf.doc_id,
         wq.qweight
         * ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
         * (tf.tf * {K1 + 1.0})
           / (tf.tf + {K1} * ({1.0 - B} + {B} * dl.dl / stats.avgdl)) AS ts
  FROM wq JOIN tf USING (token) JOIN dl ON dl.doc_id = tf.doc_id
  JOIN df USING (token) CROSS JOIN stats
),
scored2 AS (
  SELECT qid, doc_id, round(sum(ts), 6) AS score,
         count(*)::bigint AS n_terms
  FROM terms2 WHERE doc_id <> qid GROUP BY qid, doc_id
)
SELECT qid, doc_id, rank, score, n_terms FROM (
  SELECT *, row_number() OVER (PARTITION BY qid
                               ORDER BY score DESC, doc_id)::bigint AS rank
  FROM scored2
) WHERE rank <= 5
"""


def q_duplicate_spans(spark, sf_dir):
    """Exact duplicated-span fraction per document (Lee et al. 2022
    substring-dedup signal) at 8-token window granularity — see
    pipelines/dedup.py:duplicate_spans for the scale notes."""
    return dedup.duplicate_spans(_docs(spark, sf_dir), "doc_id", "text")


SQL_DUPLICATE_SPANS = """
WITH t AS (
  SELECT doc_id AS id,
    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
                x -> x <> '') AS ts
  FROM documents),
spine AS (SELECT id, greatest(len(ts) - 7, 0)::int AS n_windows, ts FROM t),
pos AS (
  SELECT id, substr(md5(array_to_string(list_slice(ts, i, i + 7), ' ')), 1, 12) AS hk
  FROM (SELECT id, ts, unnest(generate_series(1, len(ts) - 7)) AS i
        FROM spine WHERE n_windows > 0)),
dup AS (SELECT hk FROM pos GROUP BY hk HAVING count(DISTINCT id) >= 2),
dw AS (
  SELECT id, count(*)::int AS dup_windows
  FROM pos JOIN dup USING (hk) GROUP BY id)
SELECT spine.id, spine.n_windows,
  coalesce(dw.dup_windows, 0) AS dup_windows,
  round(coalesce(dw.dup_windows, 0) / greatest(spine.n_windows, 1), 6)
    AS dup_frac
FROM spine LEFT JOIN dw ON spine.id = dw.id
"""


def q_remove_duplicate_spans(spark, sf_dir):
    """Duplicated-span REMOVAL (Lee et al. 2022): keep one canonical
    occurrence corpus-wide, cut the rest — see
    pipelines/dedup.py:remove_duplicate_spans."""
    return dedup.remove_duplicate_spans(_docs(spark, sf_dir), "doc_id", "text")


SQL_REMOVE_DUPLICATE_SPANS = """
WITH t AS (
  SELECT doc_id AS id,
    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
                x -> x <> '') AS ts
  FROM documents),
spine AS (SELECT id, len(ts)::int AS n_tokens, ts FROM t),
pos AS (
  SELECT id, i,
         substr(md5(array_to_string(list_slice(ts, i, i + 7), ' ')), 1, 12) AS hk
  FROM (SELECT id, ts, unnest(generate_series(1, len(ts) - 7)) AS i
        FROM spine WHERE n_tokens >= 8)),
dup AS (
  SELECT hk, min(id) AS canonical FROM pos GROUP BY hk
  HAVING count(DISTINCT id) >= 2),
cov AS (
  SELECT DISTINCT id, unnest(generate_series(i, i + 7)) AS pp
  FROM pos JOIN dup USING (hk) WHERE pos.id <> dup.canonical),
tokse AS (
  SELECT id, unnest(ts) AS tok,
         unnest(generate_series(1, len(ts))) AS ord
  FROM spine),
kept AS (
  SELECT e.id,
         string_agg(e.tok, ' ' ORDER BY e.ord)
           FILTER (WHERE c.pp IS NULL) AS cleaned
  FROM tokse e LEFT JOIN cov c ON e.id = c.id AND e.ord = c.pp
  GROUP BY e.id),
ncov AS (SELECT id, count(*)::int AS n_removed FROM cov GROUP BY id)
SELECT spine.id, spine.n_tokens,
  coalesce(ncov.n_removed, 0) AS n_removed,
  coalesce(kept.cleaned, '') AS cleaned
FROM spine
LEFT JOIN ncov ON spine.id = ncov.id
LEFT JOIN kept ON spine.id = kept.id
"""


def q_bigram_logprob(spark, sf_dir):
    """Interpolated bigram-LM per-doc log-prob
    (pipelines/textstats.py:bigram_logprob) — the order-2 quality
    scorer; word salad with plausible unigrams scores low."""
    return textstats.bigram_logprob(_docs(spark, sf_dir), "doc_id", "text")


SQL_BIGRAM_LOGPROB = """
WITH t AS (
  SELECT doc_id AS id,
    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
                x -> x <> '') AS ts
  FROM documents),
e AS (
  SELECT id, CASE WHEN i > 1 THEN ts[i - 1] END AS w1, ts[i] AS w2
  FROM (SELECT id, ts, unnest(generate_series(1, len(ts))) AS i
        FROM t WHERE len(ts) >= 1)),
uni AS (SELECT w2, count(*)::bigint AS cu FROM e GROUP BY w2),
tot AS (SELECT sum(cu)::double AS total FROM uni),
bi AS (
  SELECT w1, w2, count(*)::bigint AS cb FROM e
  WHERE w1 IS NOT NULL GROUP BY w1, w2),
c1 AS (SELECT w2 AS w1, cu AS c1 FROM uni),
l AS (
  SELECT e.id,
    CASE WHEN e.w1 IS NULL THEN log2(uni.cu / tot.total)
         ELSE log2(0.7 * coalesce(bi.cb, 0) / c1.c1
                   + 0.3 * uni.cu / tot.total) END AS logp
  FROM e JOIN uni USING (w2)
  LEFT JOIN bi ON bi.w1 = e.w1 AND bi.w2 = e.w2
  LEFT JOIN c1 ON c1.w1 = e.w1
  CROSS JOIN tot),
d AS (
  SELECT id, count(*)::int AS n_tokens, list_sort(list(logp)) AS lps
  FROM l GROUP BY id),
a AS (
  SELECT id, n_tokens,
    round(list_aggregate(lps, 'sum') / n_tokens, 6) AS avg_logprob
  FROM d)
SELECT id, n_tokens, avg_logprob,
  round(pow(2.0, -avg_logprob), 4) AS ppl
FROM a
"""


def q_quality_buckets(spark, sf_dir):
    """CCNet-style per-language head/middle/tail perplexity buckets —
    see pipelines/textstats.py:quality_buckets."""
    return textstats.quality_buckets(_docs(spark, sf_dir), "doc_id", "text")


SQL_QUALITY_BUCKETS = f"""
WITH lp AS ({SQL_UNIGRAM_LOGPROB.strip()}),
base AS (
  SELECT d.doc_id AS id, d.lang, lp.avg_logprob
  FROM documents d JOIN lp ON d.doc_id = lp.id),
nt AS (
  SELECT id, lang, avg_logprob,
    ntile(3) OVER (PARTITION BY lang ORDER BY avg_logprob DESC, id)
      AS bucket_idx
  FROM base)
SELECT id, lang, avg_logprob, bucket_idx::int AS bucket_idx,
  CASE bucket_idx WHEN 1 THEN 'head' WHEN 3 THEN 'tail'
    ELSE 'middle' END AS bucket
FROM nt
"""


def q_dsir_weights(spark, sf_dir):
    """DSIR hashed-bigram importance weights toward the English
    subset as the target domain — see
    pipelines/sampling.py:dsir_weights."""
    docs = _docs(spark, sf_dir)
    target = docs.filter(F.col("lang") == "en").select("doc_id")
    return sampling.dsir_weights(docs, "doc_id", "text", target)


SQL_DSIR_WEIGHTS = """
WITH t AS (
  SELECT doc_id AS id, lang,
    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
                x -> x <> '') AS ts
  FROM documents),
feats AS (
  SELECT id, lang,
    ('0x' || substr(md5(array_to_string(list_slice(ts, i, i + 1), ' ')), 1, 12))::BIGINT % 64
      AS bucket
  FROM (SELECT id, lang, ts, unnest(generate_series(1, len(ts) - 1)) AS i
        FROM t WHERE len(ts) >= 2)),
doc_hist AS (
  SELECT id, bucket, count(*)::bigint AS cnt FROM feats GROUP BY id, bucket),
dist AS (
  SELECT bucket, count(*)::bigint AS raw_cnt,
    count(*) FILTER (WHERE lang = 'en')::bigint AS tgt_cnt
  FROM feats GROUP BY bucket),
totals AS (
  SELECT sum(raw_cnt)::double AS raw_total, sum(tgt_cnt)::double AS tgt_total
  FROM dist),
ratio AS (
  SELECT bucket,
    ln((tgt_cnt + 1.0) / (tgt_total + 64))
      - ln((raw_cnt + 1.0) / (raw_total + 64)) AS log_ratio
  FROM dist CROSS JOIN totals),
per_doc AS (
  SELECT id, sum(cnt)::int AS n_feats,
    list_sort(list({'bucket': d.bucket, 'term': d.cnt * r.log_ratio}))
      AS terms
  FROM doc_hist d JOIN ratio r USING (bucket) GROUP BY id)
SELECT id, n_feats,
  round(list_aggregate(list_transform(terms, x -> x.term), 'sum'), 6)
    AS log_weight
FROM per_doc
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # Ordered for the driver's 50-entry correctness cap: entries
    # that have never had a driver CORRECTNESS row (r4+r5) come
    # first, then the least-recently-checked (r4-only), then the
    # rest — so no entry goes two consecutive rounds unchecked
    # (round-5 verdict Next #3).
    "retrieval_lm_topk": q_retrieval_lm_topk,
    "highlight_snippets": q_highlight_snippets,
    "pack_sequences": q_pack_sequences,
    "repetition_score": q_repetition,
    "contamination": q_contamination,
    "retrieval_topk": q_retrieval_topk,
    "events_context": q_events_context,
    "pii_redact": q_pii_redact,
    "chunk_documents": q_chunk_documents,
    "semantic_topk": q_semantic_topk,
    "retrieval_prf_topk": q_retrieval_prf_topk,
    "hybrid_rrf_topk": q_hybrid_rrf_topk,
    "duplicate_spans": q_duplicate_spans,
    "remove_duplicate_spans": q_remove_duplicate_spans,
    "quality_buckets": q_quality_buckets,
    "bigram_logprob": q_bigram_logprob,
    "dsir_weights": q_dsir_weights,
    "tokenize_tf": q_tokenize_tf,
    "token_dictionary": q_token_dictionary,
    "postings_topk": q_postings_topk,
    "bm25_topk": q_bm25_topk,
    "conjunctive_intersect": q_conjunctive_intersect,
    "edge_ngrams": q_edge_ngrams,
    "autocomplete_candidates": q_autocomplete_candidates,
    "fuzzy_levenshtein": q_fuzzy_levenshtein,
    "cooccurrence_pairs": q_cooccurrence_pairs,
    "char_trigrams": q_char_trigrams,
    "phrase_count": q_phrase_count,
    "tfidf_vectors": q_tfidf_vectors,
    "top_terms_per_doc": q_top_terms_per_doc,
    "dedup_exact": q_dedup_exact,
    "dedup_jaccard": q_dedup_jaccard,
    "minhash_signatures": q_minhash_signatures,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "dedup_clusters": q_dedup_clusters,
    "dedup_keep_best": q_dedup_keep_best,
    "embedding_near_dup": q_embedding_near_dup,
    "simhash": q_simhash,
    "lang_id": q_lang_id,
    "quality_score": q_quality_score,
    "token_counts": q_token_counts,
    "unigram_logprob": q_unigram_logprob,
    "fingerprint": q_fingerprint,
    "collocations_pmi": q_collocations_pmi,
    "cosine_topk": q_cosine_topk,
    "ivf_topk": q_ivf_topk,
    "kmeans_clusters": q_kmeans_clusters,
    "semdedup_pairs": q_semdedup_pairs,
    "pq_codes": q_pq_codes,
    "pq_adc_topk": q_pq_adc_topk,
    "pq_rerank_topk": q_pq_rerank_topk,
    "lsh_buckets": q_lsh_buckets,
    "events_hourly": q_events_hourly,
    "events_sessionize": q_events_sessionize,
    "token_kinds": q_token_kinds,
    "doc_labels": q_doc_labels,
    "lsh_topk_multiprobe": q_lsh_topk_multiprobe,
    "stateful_sessions": q_stateful_sessions,
    "stratified_sample": q_stratified_sample,
}


# each call persists its shared() intermediates in its own scope,
# released when the DataFrame it returns is garbage-collected
QUERIES = {name: scoped(fn) for name, fn in QUERIES.items()}

ORACLES: dict[str, str] = {
    "semantic_topk": SQL_SEMANTIC_TOPK,
    "retrieval_prf_topk": SQL_RETRIEVAL_PRF,
    "hybrid_rrf_topk": SQL_HYBRID_RRF,
    "duplicate_spans": SQL_DUPLICATE_SPANS,
    "remove_duplicate_spans": SQL_REMOVE_DUPLICATE_SPANS,
    "quality_buckets": SQL_QUALITY_BUCKETS,
    "bigram_logprob": SQL_BIGRAM_LOGPROB,
    "dsir_weights": SQL_DSIR_WEIGHTS,
    "token_kinds": SQL_TOKEN_KINDS,
    "doc_labels": SQL_DOC_LABELS,
    "lsh_topk_multiprobe": _sql_lsh_topk_multiprobe(),
    "stateful_sessions": SQL_STATEFUL_SESSIONS,
    "tokenize_tf": SQL_TOKENIZE_TF,
    "token_dictionary": SQL_TOKEN_DICTIONARY,
    "postings_topk": SQL_POSTINGS_TOPK,
    "bm25_topk": SQL_BM25_TOPK,
    "conjunctive_intersect": SQL_CONJUNCTIVE,
    "edge_ngrams": SQL_EDGE_NGRAMS,
    "autocomplete_candidates": SQL_AUTOCOMPLETE,
    "fuzzy_levenshtein": SQL_FUZZY,
    "cooccurrence_pairs": SQL_COOCCURRENCE,
    "char_trigrams": SQL_CHAR_TRIGRAMS,
    "phrase_count": SQL_PHRASE_COUNT,
    "tfidf_vectors": SQL_TFIDF,
    "top_terms_per_doc": SQL_TOP_TERMS,
    "dedup_exact": SQL_DEDUP_EXACT,
    "dedup_jaccard": SQL_DEDUP_JACCARD,
    "minhash_signatures": SQL_MINHASH,
    "minhash_lsh_pairs": SQL_MINHASH_LSH_PAIRS,
    "dedup_clusters": SQL_DEDUP_CLUSTERS,
    "dedup_keep_best": _sql_dedup_keep_best(),
    "embedding_near_dup": _sql_embedding_near_dup(),
    "simhash": SQL_SIMHASH,
    "lang_id": SQL_LANG_ID,
    "quality_score": SQL_QUALITY,
    "token_counts": SQL_TOKEN_COUNTS,
    "unigram_logprob": SQL_UNIGRAM_LOGPROB,
    "fingerprint": SQL_FINGERPRINT,
    "collocations_pmi": SQL_COLLOCATIONS_PMI,
    "cosine_topk": SQL_COSINE_TOPK,
    "ivf_topk": SQL_IVF_TOPK,
    "kmeans_clusters": SQL_KMEANS_CLUSTERS,
    "semdedup_pairs": SQL_SEMDEDUP_PAIRS,
    "pq_codes": SQL_PQ_CODES,
    "pq_adc_topk": SQL_PQ_ADC_TOPK,
    "pq_rerank_topk": SQL_PQ_RERANK_TOPK,
    "lsh_buckets": _sql_lsh_buckets(),
    "events_hourly": SQL_EVENTS_HOURLY,
    "events_sessionize": SQL_EVENTS_SESSIONIZE,
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
    "pack_sequences": SQL_PACK_SEQUENCES,
    "repetition_score": SQL_REPETITION,
    "contamination": SQL_CONTAMINATION,
    "retrieval_topk": SQL_RETRIEVAL_TOPK,
    "retrieval_lm_topk": SQL_RETRIEVAL_LM_TOPK,
    "events_context": SQL_EVENTS_CONTEXT,
    "pii_redact": _sql_pii_redact(),
    "chunk_documents": SQL_CHUNK_DOCUMENTS,
    "highlight_snippets": SQL_HIGHLIGHT_SNIPPETS,
}
