"""Corpus statistics beyond per-doc scoring: TF-IDF term weighting,
PMI-style collocation mining, and repetition-ratio quality — the
standard lexical toolkit of a training-data pipeline (complements
text.py's per-doc stats and sampling.py's Zipf profile).

Cross-engine design notes:
- tf/df/N are exact integers; tf-idf's single ``ln`` is evaluated on
  the same exact rational in both engines and floor-truncated at 4dp
  (t4) — verified hash-stable at sf0.001/0.01/0.1 (PARITY.md rule 6).
- collocation "lift" avoids ``ln`` entirely: the PMI ordering is
  monotone in the exact-integer cross ratio c_ab*T / (c_a*c_b), so
  ranking and output use the rational directly — bit-stable with no
  transcendental at all.
- repetition ratios are pure integer ratios.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from wire_spark.catalog import register
from wire_spark.functions.text import ascii_lower
from wire_spark.queries._util import T, t4

# --------------------------------------------------------------------
# TF-IDF: top terms per document
# --------------------------------------------------------------------

_TFIDF_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ')) AS token
  FROM documents
), tok2 AS (SELECT doc_id, token FROM tok WHERE token != ''),
tf AS (
  SELECT doc_id, token, count(*) AS tf FROM tok2 GROUP BY doc_id, token
),
df AS (
  SELECT token, count(DISTINCT doc_id) AS df FROM tok2 GROUP BY token
),
n_docs AS (SELECT count(DISTINCT doc_id) AS n FROM tok2),
scored AS (
  SELECT tf.doc_id, tf.token,
         floor(tf.tf * ln(n.n * 1.0 / df.df) * 10000.0) / 10000.0 AS tfidf
  FROM tf JOIN df USING (token) CROSS JOIN n_docs n
),
ranked AS (
  SELECT doc_id, token, tfidf,
         row_number() OVER (
           PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rnk
  FROM scored
)
SELECT doc_id, token, tfidf, rnk
FROM ranked WHERE rnk <= 3 AND doc_id < 40
ORDER BY doc_id, rnk
"""


@register("text_tfidf_top_terms", oracle=_TFIDF_ORACLE, bench=True,
          doc="per-document top-3 TF-IDF terms (corpus df computed "
              "distributed, idf via broadcast)")
def text_tfidf_top_terms(spark, sf_dir):
    """Classic TF-IDF term weighting. Scale shape: tf is one shuffle
    on (doc_id, token); df is one shuffle on token; the df table is
    vocabulary-sized (tiny next to the corpus) so it broadcasts into
    the scoring join and the doc-side never reshuffles. The per-doc
    top-3 window partitions by doc_id — bounded per key. Output is
    cut to doc_id < 40 to keep the driver compare small; the plan is
    identical without the cut."""
    tok = (
        T(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split(ascii_lower(F.col("text")), " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    # tf holds one row per (doc, token) — df and the doc count both
    # derive from IT (a row count per token / a distinct over its
    # doc_id), not from re-scanning the exploded token relation with
    # two-phase count_distincts
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = tf.select("doc_id").distinct().agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id", "token",
            t4(F.col("tf") * F.log(F.col("n") * F.lit(1.0) / F.col("df"))).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter((F.col("rnk") <= 3) & (F.col("doc_id") < 40))
        .select("doc_id", "token", "tfidf", "rnk")
        .orderBy("doc_id", "rnk")
    )


# --------------------------------------------------------------------
# collocations: bigram lift (monotone in PMI, transcendental-free)
# --------------------------------------------------------------------

_COLLOC_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ') AS words FROM documents
), big AS (
  SELECT unnest([ {'a': words[i], 'b': words[i+1]}
                  for i in range(1, len(words)) ]) AS bg
  FROM w
), bg2 AS (SELECT bg.a AS a, bg.b AS b FROM big WHERE bg.a != '' AND bg.b != ''),
pair_c AS (SELECT a, b, count(*) AS c_ab FROM bg2 GROUP BY a, b),
left_c AS (SELECT a, count(*) AS c_a FROM bg2 GROUP BY a),
right_c AS (SELECT b, count(*) AS c_b FROM bg2 GROUP BY b),
tot AS (SELECT count(*) AS t FROM bg2)
SELECT a, b, c_ab,
       floor(c_ab * t.t * 10000.0 / (c_a * c_b)) / 10000.0 AS lift
FROM pair_c JOIN left_c USING (a) JOIN right_c USING (b) CROSS JOIN tot t
WHERE c_ab >= 5
ORDER BY lift DESC, a, b
LIMIT 20
"""


@register("text_collocations_lift", oracle=_COLLOC_ORACLE, bench=True,
          doc="top-20 bigram collocations by lift = P(ab)/(P(a)P(b)) — "
              "monotone in PMI, exact-integer arithmetic")
def text_collocations_lift(spark, sf_dir):
    """Collocation mining: bigrams whose joint frequency beats the
    independence assumption. ``lift`` is the exact-integer cross
    ratio c_ab*T/(c_a*c_b) (PMI = ln(lift) — same ordering, no
    transcendental, bit-stable across engines). Scale shape: bigram
    extraction is a projection; pair counts shuffle on (a, b); the
    unigram margins are vocabulary-sized and broadcast; final top-20
    is TakeOrdered. The c_ab >= 5 support floor is the standard
    noise cut and bounds the ranked set."""
    w = T(spark, sf_dir, "documents").select(
        F.split(ascii_lower(F.col("text")), " ").alias("words")
    ).filter(F.size("words") >= 2)
    # the >= 2 filter above is load-bearing: Spark's sequence(1, 0)
    # yields the DESCENDING [1, 0] (not empty like DuckDB's range),
    # and element_at(words, 2) on a 1-token doc then raises under
    # ANSI — the unicode-sweep empty-text crash
    idx = F.sequence(F.lit(1), F.size("words") - 1)
    bg = (
        w.select(
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.struct(
                        F.element_at("words", i).alias("a"),
                        F.element_at("words", i + 1).alias("b"),
                    ),
                )
            ).alias("bg")
        )
        .select(F.col("bg.a").alias("a"), F.col("bg.b").alias("b"))
        .filter((F.col("a") != "") & (F.col("b") != ""))
    )
    pair_c = bg.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
    left_c = bg.groupBy("a").agg(F.count(F.lit(1)).alias("c_a"))
    right_c = bg.groupBy("b").agg(F.count(F.lit(1)).alias("c_b"))
    tot = bg.agg(F.count(F.lit(1)).alias("t"))
    lift = F.floor(
        F.col("c_ab") * F.col("t") * F.lit(10000.0) / (F.col("c_a") * F.col("c_b"))
    ) / F.lit(10000.0)
    return (
        pair_c.filter(F.col("c_ab") >= 5)
        .join(F.broadcast(left_c), "a")
        .join(F.broadcast(right_c), "b")
        .crossJoin(F.broadcast(tot))
        .select("a", "b", "c_ab", lift.alias("lift"))
        .orderBy(F.desc("lift"), "a", "b")
        .limit(20)
    )


# --------------------------------------------------------------------
# repetition ratio: within-document token diversity
# --------------------------------------------------------------------

_REPETITION_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ')) AS token
  FROM documents
), tok2 AS (SELECT doc_id, token FROM tok WHERE token != ''),
per_tok AS (
  SELECT doc_id, token, count(*) AS c FROM tok2 GROUP BY doc_id, token
),
per_doc AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         count(*) AS n_distinct,
         max(c) AS top_c
  FROM per_tok GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_distinct,
       floor(n_distinct * 10000.0 / n_tokens) / 10000.0 AS distinct_ratio,
       floor(top_c * 10000.0 / n_tokens) / 10000.0 AS top_token_share
FROM per_doc
ORDER BY distinct_ratio ASC, doc_id
LIMIT 25
"""


@register("text_repetition_ratio", oracle=_REPETITION_ORACLE,
          doc="25 most repetitive documents by distinct-token ratio "
              "(the boilerplate/spam quality signal)")
def text_repetition_ratio(spark, sf_dir):
    """Within-document repetition: distinct-token ratio and the share
    of the single most repeated token — the standard cheap filter for
    boilerplate, keyword-stuffed, or generation-looped documents.
    One shuffle on (doc_id, token), one on doc_id, top-25 via
    TakeOrdered; all ratios exact-integer rationals."""
    per_tok = (
        T(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split(ascii_lower(F.col("text")), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = per_tok.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_c"),
    )
    ratio = F.floor(F.col("n_distinct") * F.lit(10000.0) / F.col("n_tokens")) / F.lit(10000.0)
    share = F.floor(F.col("top_c") * F.lit(10000.0) / F.col("n_tokens")) / F.lit(10000.0)
    return (
        per_doc.select(
            "doc_id", "n_tokens", "n_distinct",
            ratio.alias("distinct_ratio"), share.alias("top_token_share"),
        )
        .orderBy(F.asc("distinct_ratio"), F.asc("doc_id"))
        .limit(25)
    )


# --------------------------------------------------------------------
# unigram log-probability quality score (perplexity proxy)
# --------------------------------------------------------------------

_LOGPROB_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ')) AS token
  FROM documents
), tok2 AS (SELECT doc_id, token FROM tok WHERE token != ''),
uni AS (SELECT token, count(*) AS c FROM tok2 GROUP BY token),
tot AS (SELECT count(*) AS t FROM tok2),
scored AS (
  SELECT tok2.doc_id,
         CAST(floor(ln(uni.c * 1.0 / tot.t) * 1000000.0) AS BIGINT) AS lp6
  FROM tok2 JOIN uni USING (token) CROSS JOIN tot
)
SELECT doc_id,
       count(*) AS n_tokens,
       floor(CAST(sum(CAST(lp6 AS HUGEINT)) AS DOUBLE)
             / count(*) / 1000000.0e0 * 10000.0e0) / 10000.0e0
         AS avg_logprob
FROM scored
GROUP BY doc_id
ORDER BY avg_logprob ASC, doc_id
LIMIT 30
"""


@register("text_unigram_logprob", oracle=_LOGPROB_ORACLE, bench=True,
          doc="unigram log-probability quality score (perplexity proxy): "
              "30 most 'surprising' documents under the corpus model")
def text_unigram_logprob(spark, sf_dir):
    """Language-model quality proxy: each document scored by the mean
    log-probability of its tokens under the corpus unigram
    distribution — the cheap stand-in for the KenLM perplexity filter
    every pretraining pipeline runs. Low scores flag gibberish or
    out-of-domain text.

    Cross-engine determinism: each token's ln(c/T) addend is floored
    in integer micro-units BEFORE summation (the msum pattern), so
    the per-doc sum is an exact integer in any order; one division
    at the end.  The sum accumulates in DECIMAL(38,0)/HUGEINT (r13
    widening — per-addend |lp6| <= ~4e7, so a LONG accumulator broke
    at ~2.3e11 tokens per document; the exact int128 converts to
    DOUBLE identically in both engines, so the final division chain
    stays deterministic at any mass).  Scale shape: unigram counts
    shuffle on token once, the vocabulary-sized model broadcasts
    back, the per-doc fold shuffles on doc_id once; top-30 via
    TakeOrdered."""
    tok = (
        T(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split(ascii_lower(F.col("text")), " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    uni = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    tot = tok.agg(F.count(F.lit(1)).alias("t"))
    lp6 = F.floor(
        F.log(F.col("c") * F.lit(1.0) / F.col("t")) * F.lit(1000000.0)
    ).cast("long")
    scored = (
        tok.join(F.broadcast(uni), "token")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", lp6.alias("lp6"))
    )
    avg = F.floor(
        F.sum(F.col("lp6").cast("decimal(38,0)")).cast("double")
        / F.count(F.lit(1)) / F.lit(1000000.0) * F.lit(10000.0)
    ) / F.lit(10000.0)
    return (
        scored.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"), avg.alias("avg_logprob"))
        .orderBy(F.asc("avg_logprob"), F.asc("doc_id"))
        .limit(30)
    )
