"""Second curation wave (round 9): tokenizer OOV audit, readability
grading, pretraining shard-shuffle planning, per-source dataset
cards, and perplexity-band filtering.

These extend the training-data-pipeline surface (SURVEY §2 gap-fill,
same family as curation.py/sampling.py/text*.py — the reference
ships no corpus tooling; behavioral anchor is its declared transform
surface, ROADMAP.md:96-107).  All fixed-point arithmetic follows the
PARITY.md rules: integer ``div`` with non-negative numerators,
per-addend floors before summation, no raw float aggregate crosses
an engine boundary.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from wire_spark.catalog import register
from wire_spark.functions.text import ascii_lower
from wire_spark.queries._util import T, md5_long

# --------------------------------------------------------------------
# tokenizer OOV audit
# --------------------------------------------------------------------

_OOV_MIN_FREQ = 20

_OOV_ORACLE = f"""
WITH d AS (
  SELECT doc_id, text,
         CASE WHEN CAST(CONCAT('0x', SUBSTRING(md5(CAST(doc_id AS VARCHAR)),
                  1, 15)) AS BIGINT) % 100 < 80 THEN 'a_train'
              WHEN CAST(CONCAT('0x', SUBSTRING(md5(CAST(doc_id AS VARCHAR)),
                  1, 15)) AS BIGINT) % 100 < 90 THEN 'b_val'
              ELSE 'c_test' END AS split
  FROM documents
), tok AS (
  SELECT split, unnest(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ')) AS token FROM d
), tok2 AS (SELECT split, token FROM tok WHERE token != ''),
vocab AS (
  SELECT token FROM tok2 WHERE split = 'a_train'
  GROUP BY token HAVING count(*) >= {_OOV_MIN_FREQ}
), vs AS (SELECT CAST(count(*) AS BIGINT) AS vocab_size FROM vocab)
SELECT split,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(*) FILTER (WHERE v.token IS NULL) AS BIGINT) AS n_oov,
       CAST(count(*) FILTER (WHERE v.token IS NULL) * 10000
            // count(*) AS BIGINT) AS oov_rate_1e4,
       vs.vocab_size
FROM tok2 LEFT JOIN vocab v USING (token) CROSS JOIN vs
GROUP BY split, vs.vocab_size
ORDER BY split
"""


@register("tokenizer_oov_rate", bench=True, oracle=_OOV_ORACLE,
          doc="out-of-vocabulary rate per split against a vocabulary "
              "trained on the train split only (freq >= 20) — the "
              "tokenizer-coverage audit run before freezing a vocab")
def tokenizer_oov_rate(spark, sf_dir):
    """Tokenizer-coverage audit: freeze a vocabulary on the TRAIN
    split (every token with frequency >= 20 — a deterministic
    threshold, not top-K, so ties can never reorder membership) and
    measure each split's OOV token rate against it.  A val/test OOV
    rate far above train's means the split mix shifted or the
    threshold is starving rare domains — either way the fertility and
    perplexity numbers downstream are not comparable across splits.

    Scale shape: one explode + groupBy(token) over the train slice
    builds the vocabulary (token-grain, sublinear in corpus size by
    Heaps' law); scoring is a hint-free left join on token — AQE
    broadcasts the vocabulary while it fits, and falls back to a
    token-keyed shuffle when a 100 TB corpus outgrows that.  The
    split assignment is the same md5(doc_id) arithmetic as
    train_val_test_split, so rows never migrate as the corpus grows.
    """
    b = md5_long(F.col("doc_id").cast("string")) % 100
    tok = (
        T(spark, sf_dir, "documents")
        .select(
            F.when(b < 80, "a_train").when(b < 90, "b_val")
            .otherwise("c_test").alias("split"),
            F.explode(F.split(ascii_lower(F.col("text")), " ")).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    vocab = (
        tok.filter(F.col("split") == "a_train")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= _OOV_MIN_FREQ)
        .select("token", F.lit(True).alias("in_vocab"))
    )
    vs = vocab.agg(F.count(F.lit(1)).alias("vocab_size"))
    return (
        tok.join(vocab, "token", "left")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(F.when(F.col("in_vocab").isNull(), 1)).alias("n_oov"),
        )
        .crossJoin(F.broadcast(vs))
        .select(
            "split", "n_tokens", "n_oov",
            F.expr("CAST(n_oov * 10000 div n_tokens AS BIGINT)")
            .alias("oov_rate_1e4"),
            "vocab_size",
        )
        .orderBy("split")
    )


# --------------------------------------------------------------------
# FORCAST readability grade
# --------------------------------------------------------------------

_FORCAST_ORACLE = """
WITH tok AS (
  SELECT lang, unnest(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ')) AS token
  FROM documents
), tok2 AS (SELECT lang, token FROM tok WHERE token != '')
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(count(*) FILTER (
           WHERE len(regexp_extract_all(token, '[aeiouy]+')) = 1
       ) AS BIGINT) AS n_monosyllable,
       CAST(2000 - count(*) FILTER (
           WHERE len(regexp_extract_all(token, '[aeiouy]+')) = 1
       ) * 1500 // count(*) AS BIGINT) AS forcast_grade_1e2
FROM tok2
GROUP BY lang
ORDER BY lang
"""


@register("text_readability_forcast", bench=True, oracle=_FORCAST_ORACLE,
          doc="FORCAST readability grade per language bucket — the "
              "sentence-free readability formula (20 - mono/10 per "
              "150 words), usable on fragment corpora")
def text_readability_forcast(spark, sf_dir):
    """Readability grading for quality filtering.  Flesch-Kincaid
    needs sentence boundaries; web-scraped fragments often have none,
    so pipelines use FORCAST (grade = 20 - N/10, N = single-syllable
    words per 150-word sample), which needs only a syllable test.
    Syllables are vowel groups (``[aeiouy]+`` runs) — the standard
    regex heuristic; a word with exactly one run is monosyllabic.

    The per-150-words sampling folds into pure integers:
    grade*100 = 2000 - mono*1500 div words.  One explode + one
    map-combinable groupBy(lang); the regexp runs JVM-side inside
    codegen (no UDF).  At 100 TB this is a single scan-shaped pass
    like every text_* audit."""
    tok = (
        T(spark, sf_dir, "documents")
        .select(
            "lang",
            F.explode(F.split(ascii_lower(F.col("text")), " ")).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    mono = F.size(F.expr("regexp_extract_all(token, '[aeiouy]+', 0)")) == 1
    return (
        tok.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.count(F.when(mono, 1)).alias("n_monosyllable"),
        )
        .select(
            "lang", "n_words", "n_monosyllable",
            F.expr(
                "CAST(2000 - n_monosyllable * 1500 div n_words AS BIGINT)"
            ).alias("forcast_grade_1e2"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------
# pretraining shard-shuffle plan
# --------------------------------------------------------------------

_N_SHARDS = 64

_SHARD_ORACLE = f"""
WITH d AS (
  SELECT CAST(CONCAT('0x', SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % {_N_SHARDS} AS shard,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
), s AS (
  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS shard_tokens
  FROM d GROUP BY shard
), tot AS (SELECT CAST(sum(shard_tokens) AS BIGINT) AS t FROM s)
SELECT shard, n_docs, shard_tokens,
       CAST(abs(shard_tokens * {_N_SHARDS} * 10000 // tot.t - 10000)
            AS BIGINT) AS imbalance_1e4
FROM s, tot
ORDER BY shard
"""


@register("shard_shuffle_plan", bench=True, oracle=_SHARD_ORACLE,
          doc="deterministic global-shuffle shard assignment for "
              "pretraining (md5 % 64) with per-shard token counts "
              "and imbalance vs the uniform share")
def shard_shuffle_plan(spark, sf_dir):
    """The pretraining shard shuffle: every epoch reader expects the
    corpus pre-shuffled into fixed shards with near-uniform token
    mass.  Assignment is ``md5(doc_id) % 64`` — deterministic, so a
    grown corpus only ADDS to shards (stable incremental appends, no
    reshuffle of old docs), and hash-uniform, so shards balance in
    expectation.  The imbalance column is each shard's token mass
    against the uniform 1/64 share in basis points — the audit a
    data-loader reads before trusting steps-per-epoch math.

    Scale shape: one projection + one 64-key map-combinable groupBy;
    the shard totals relation is 64 rows forever.  The same shard
    column is what a real writer passes to ``repartition(64, shard)``
    — assignment, audit, and physical layout all share one
    expression."""
    d = T(spark, sf_dir, "documents").select(
        (md5_long(F.col("doc_id").cast("string")) % _N_SHARDS).alias("shard"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    s = d.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("shard_tokens"),
    )
    tot = s.agg(F.sum("shard_tokens").alias("t"))
    return (
        s.crossJoin(F.broadcast(tot))
        .select(
            "shard", "n_docs", "shard_tokens",
            F.expr(
                f"CAST(abs(shard_tokens * {_N_SHARDS} * 10000 div t "
                "- 10000) AS BIGINT)"
            ).alias("imbalance_1e4"),
        )
        .orderBy("shard")
    )


# --------------------------------------------------------------------
# per-source dataset card
# --------------------------------------------------------------------

_CARD_SHORT_DOC = 32

_CARD_ORACLE = f"""
WITH d AS (
  SELECT source, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
), g AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS lang_tokens,
         CAST(count(*) FILTER (WHERE n_tokens < {_CARD_SHORT_DOC})
              AS BIGINT) AS n_short
  FROM d GROUP BY source, lang
)
SELECT source,
       CAST(sum(n_docs) AS BIGINT) AS n_docs,
       CAST(sum(lang_tokens) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_langs,
       min(CASE WHEN n_docs = mx THEN lang END) AS top_lang,
       CAST(sum(lang_tokens) // sum(n_docs) AS BIGINT) AS mean_tokens,
       CAST(sum(n_short) * 10000 // sum(n_docs) AS BIGINT) AS short_rate_1e4
FROM (SELECT *, max(n_docs) OVER (PARTITION BY source) AS mx FROM g)
GROUP BY source
ORDER BY source
"""


@register("curation_data_card", bench=True, oracle=_CARD_ORACLE,
          doc="per-source dataset card: docs, tokens, language count "
              "and majority language, mean length, short-doc rate — "
              "the one-row-per-source release summary")
def curation_data_card(spark, sf_dir):
    """The dataset-card generator: every released corpus ships a
    per-source summary (how much, in what languages, how short) and
    every mixing/sampling decision upstream reads it.  This distills
    the doc-grain table to one row per source: volume (docs, tokens),
    language diversity (count + majority language), mean document
    length, and the sub-32-token share that dominates padding waste.

    Scale shape: one doc-grain projection folds straight into a
    (source, lang) grid (map-combinable), and everything else is
    grid-grain: the per-source rollup, the majority language via
    max-over-grid + conditional min (deterministic under ties — the
    lexicographically first of the tied languages), and exact integer
    ratios.  No row-grain state survives the first groupBy."""
    d = T(spark, sf_dir, "documents").select(
        "source", "lang",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    g = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("lang_tokens"),
        F.count(F.when(F.col("n_tokens") < _CARD_SHORT_DOC, 1)).alias("n_short"),
    )
    gm = g.withColumn(
        "mx", F.max("n_docs").over(W.partitionBy("source")),
    )
    return (
        gm.groupBy("source")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("lang_tokens").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_langs"),
            F.min(F.when(F.col("n_docs") == F.col("mx"), F.col("lang")))
            .alias("top_lang"),
            F.expr("CAST(sum(lang_tokens) div sum(n_docs) AS BIGINT)")
            .alias("mean_tokens"),
            F.expr("CAST(sum(n_short) * 10000 div sum(n_docs) AS BIGINT)")
            .alias("short_rate_1e4"),
        )
        .select(
            "source", "n_docs", "n_tokens", "n_langs", "top_lang",
            "mean_tokens", "short_rate_1e4",
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# perplexity-band filter audit
# --------------------------------------------------------------------

_PPL_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ')) AS token
  FROM documents
), tok2 AS (SELECT doc_id, token FROM tok WHERE token != ''),
uni AS (SELECT token, count(*) AS c FROM tok2 GROUP BY token),
tot AS (SELECT count(*) AS t FROM tok2),
scored AS (
  SELECT tok2.doc_id,
         CAST(floor(-ln(uni.c * 1.0 / tot.t) * 1000000.0) AS BIGINT) AS s6
  FROM tok2 JOIN uni USING (token) CROSS JOIN tot
), per_doc AS (
  SELECT doc_id, CAST(sum(s6) // count(*) AS BIGINT) AS surprisal_1e6
  FROM scored GROUP BY doc_id
), banded AS (
  SELECT d.source,
         CASE WHEN p.surprisal_1e6 < 2500000 THEN 'a_head'
              WHEN p.surprisal_1e6 < 3500000 THEN 'b_middle'
              ELSE 'c_tail' END AS ppl_band
  FROM per_doc p JOIN documents d USING (doc_id)
)
SELECT source, ppl_band, CAST(count(*) AS BIGINT) AS n_docs
FROM banded
GROUP BY source, ppl_band
ORDER BY source, ppl_band
"""


@register("text_perplexity_bands", bench=True, oracle=_PPL_ORACLE,
          doc="CCNet-style perplexity-band partition: per (source, "
              "head/middle/tail band) document counts under the "
              "corpus unigram model")
def text_perplexity_bands(spark, sf_dir):
    """The CCNet filtering shape: score every document's mean token
    surprisal under a language model (here the corpus unigram model —
    the same proxy ``text_unigram_logprob`` uses) and partition the
    corpus into head/middle/tail perplexity bands per source; the
    head band feeds pretraining first, the tail gets re-reviewed.

    Cross-engine determinism: per-token surprisal floors to integer
    micro-nats BEFORE summation (surprisal = -ln p, so every addend
    and numerator is NON-negative and integer ``div``/``//`` agree);
    the per-doc mean is one integer division, and band edges are
    integers in the 1e6 domain, so a band flip would need a full
    micro-nat of disagreement, not a ulp.  Scale shape: unigram counts shuffle on token once, the
    vocabulary-sized model joins back hint-free, the per-doc fold
    shuffles on doc_id once, and the band rollup is grid-grain."""
    d = T(spark, sf_dir, "documents")
    tok = (
        d.select(
            "doc_id",
            F.explode(F.split(ascii_lower(F.col("text")), " ")).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    uni = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    tot = tok.agg(F.count(F.lit(1)).alias("t"))
    s6 = F.floor(
        -F.log(F.col("c") * F.lit(1.0) / F.col("t")) * F.lit(1000000.0)
    ).cast("long")
    per_doc = (
        tok.join(uni, "token")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", s6.alias("s6"))
        .groupBy("doc_id")
        .agg(F.expr("CAST(sum(s6) div count(*) AS BIGINT)").alias("surp6"))
    )
    banded = per_doc.join(d.select("doc_id", "source"), "doc_id").select(
        "source",
        F.when(F.col("surp6") < 2500000, "a_head")
        .when(F.col("surp6") < 3500000, "b_middle")
        .otherwise("c_tail")
        .alias("ppl_band"),
    )
    return (
        banded.groupBy("source", "ppl_band")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("source", "ppl_band")
    )


# --------------------------------------------------------------------
# leave-one-source-out ablation: per-source metric attribution
# --------------------------------------------------------------------

_LOSO_ORACLE = r"""
WITH d AS (
  SELECT source,
         CAST(length(regexp_extract_all(text, '\S+')) AS BIGINT) AS tok,
         CAST(length(regexp_extract_all(text,
              '\b(?:the|a|of|and|in)\b')) AS BIGINT) AS stop
  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
), s AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(tok) AS BIGINT) AS tok_s,
         CAST(sum(stop) AS BIGINT) AS stop_s
  FROM d GROUP BY 1
), g AS (
  SELECT CAST(sum(n_docs) AS BIGINT) AS nn,
         CAST(sum(tok_s) AS BIGINT) AS tok_g,
         CAST(sum(stop_s) AS BIGINT) AS stop_g
  FROM s
)
SELECT source, n_docs,
       CAST(CAST(tok_s AS HUGEINT) * 1000000 // nullif(tok_g, 0) AS BIGINT)
         AS token_share_1e6,
       CAST(CAST(tok_g - tok_s AS HUGEINT) * 10000
            // nullif(nn - n_docs, 0) AS BIGINT) AS loso_mean_tok_1e4,
       CAST(CAST(tok_g - tok_s AS HUGEINT) * 10000
            // nullif(nn - n_docs, 0)
            - CAST(tok_g AS HUGEINT) * 10000 // nullif(nn, 0) AS BIGINT)
         AS delta_mean_tok_1e4,
       CAST(CAST(stop_g - stop_s AS HUGEINT) * 1000000
            // nullif(tok_g - tok_s, 0) AS BIGINT) AS loso_stop_1e6,
       CAST(CAST(stop_g - stop_s AS HUGEINT) * 1000000
            // nullif(tok_g - tok_s, 0)
            - CAST(stop_g AS HUGEINT) * 1000000 // nullif(tok_g, 0) AS BIGINT)
         AS delta_stop_1e6
FROM s, g
ORDER BY source
"""


@register("source_ablation_loso", bench=True, oracle=_LOSO_ORACLE,
          doc="leave-one-source-out ablation: how corpus-level mean "
              "token count and stopword share move when each source "
              "is dropped — the source-attribution readout behind "
              "mixing decisions")
def source_ablation_loso(spark, sf_dir):
    """For every source: its token share of the corpus, and the
    corpus-level mean-tokens-per-doc and stopword-share the corpus
    would have WITHOUT it (plus signed deltas vs the full-corpus
    values) — the leave-one-out attribution a mixing loop reads
    before reweighting or dropping a source.  For additive metrics
    the ablation is closed-form from per-source sums (complement =
    total minus the source), so the whole readout is ONE scan; no
    retraining, no per-ablation pass.

    Exactness: token and stopword counts are integers; every ratio is
    an integer fixed-point floor (HUGEINT/DECIMAL(38,0) widening —
    token totals reach ~1e12 at 100 TB and the 1e6 scaling would
    overflow int64), and the degenerate corpora — single source
    (complement empty) and all-whitespace (tok_g = 0) — NULL-band
    identically via nullif on every denominator on both engines.

    Scale shape: one documents scan, map-side combine to source
    grain (sources are few); the global row is an aggregate OVER the
    source relation (never a second scan) broadcast back by the
    planner.  NULL text/source rows are excluded on both sides
    (observed-rows rule; Spark's size(NULL) is -1, not 0).

    Reference anchor: none — LLM-brief extension (mixing weights /
    data-card family, like curation_mixing_weights).
    """
    from wire_spark.functions.text import ascii_lower, stopword_tokens, ws_tokens

    d = T(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("source").isNotNull()
    ).select(
        "source",
        F.size(ws_tokens("text")).cast("long").alias("tok"),
        F.size(stopword_tokens("text")).cast("long").alias("stop"),
    )
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tok").alias("tok_s"),
        F.sum("stop").alias("stop_s"),
    )
    g = s.agg(
        F.sum("n_docs").alias("nn"),
        F.sum("tok_s").alias("tok_g"),
        F.sum("stop_s").alias("stop_g"),
    )
    return (
        s.crossJoin(F.broadcast(g))
        .select(
            "source", "n_docs",
            F.expr(
                "CAST(CAST(tok_s AS DECIMAL(38,0)) * 1000000 div nullif(tok_g, 0)"
                " AS BIGINT)"
            ).alias("token_share_1e6"),
            F.expr(
                "CAST(CAST(tok_g - tok_s AS DECIMAL(38,0)) * 10000"
                " div nullif(nn - n_docs, 0) AS BIGINT)"
            ).alias("loso_mean_tok_1e4"),
            F.expr(
                "CAST(CAST(tok_g - tok_s AS DECIMAL(38,0)) * 10000"
                " div nullif(nn - n_docs, 0)"
                " - CAST(tok_g AS DECIMAL(38,0)) * 10000 div nullif(nn, 0)"
                " AS BIGINT)"
            ).alias("delta_mean_tok_1e4"),
            F.expr(
                "CAST(CAST(stop_g - stop_s AS DECIMAL(38,0)) * 1000000"
                " div nullif(tok_g - tok_s, 0) AS BIGINT)"
            ).alias("loso_stop_1e6"),
            F.expr(
                "CAST(CAST(stop_g - stop_s AS DECIMAL(38,0)) * 1000000"
                " div nullif(tok_g - tok_s, 0)"
                " - CAST(stop_g AS DECIMAL(38,0)) * 1000000 div nullif(tok_g, 0)"
                " AS BIGINT)"
            ).alias("delta_stop_1e6"),
        )
        .orderBy("source")
    )
