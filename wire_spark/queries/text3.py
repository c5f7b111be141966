"""Information-theoretic text quality: per-document token entropy.

Completes the quality-scorer family (text.py ratios, text2.py
TF-IDF/logprob/repetition): Shannon entropy of the within-document
token distribution is the classic gibberish-vs-boilerplate axis —
low entropy = repeated boilerplate, abnormally high = random noise.

Cross-engine: H = ln(n) - (1/n)*sum(c*ln c) — each distinct token's
``c*ln(c)`` addend is floored into integer micro-units BEFORE the
(order-free) sum, per PARITY.md rules 1/6; one deterministic division
chain at the end, floor-truncated to 4dp.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from wire_spark.catalog import register
from wire_spark.functions.text import ascii_lower
from wire_spark.queries._util import T

_ENTROPY_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ')) AS token
  FROM documents
), tok2 AS (SELECT doc_id, token FROM tok WHERE token != ''),
pt AS (SELECT doc_id, token, count(*) AS c FROM tok2 GROUP BY 1, 2),
pd AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
         sum(CAST(floor(c * ln(c) * 1000000.0e0) AS BIGINT)) AS clnc6
  FROM pt GROUP BY doc_id
)
SELECT doc_id, n AS n_tokens,
       floor((ln(n) - CAST(clnc6 AS DOUBLE) / 1000000.0e0 / n) * 10000.0e0)
         / 10000.0e0 AS entropy
FROM pd ORDER BY entropy ASC, doc_id LIMIT 30
"""


@register("text_token_entropy", oracle=_ENTROPY_ORACLE, bench=True,
          doc="Shannon entropy of each document's token distribution — "
              "30 lowest-entropy (most boilerplate) documents")
def text_token_entropy(spark, sf_dir):
    """Within-document Shannon entropy over tokens, via the
    sum-free-of-order identity H = ln(n) - (1/n) * sum(c * ln c):
    the per-token-type addend c*ln(c) is floored in integer
    micro-units so the fold is exact in any order, and ln appears
    only on exact integers (identical doubles in both engines).

    Scale shape: one shuffle on (doc_id, token) with map-side
    combine, one rollup on doc_id (reuses the partitioning prefix),
    top-30 via TakeOrdered. Text never shuffles — only (id, token,
    count) triples."""
    pt = (
        T(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(F.split(ascii_lower(F.col("text")), " ")).alias("token"),
        )
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # clnc6 accumulates in DECIMAL(38,0)/HUGEINT (r13 widening): the
    # per-type addend floor(c*ln(c)*1e6) reaches ~2.8e19 > int64 only
    # at c ~ 3.3e11 repeats of one token (documented per-addend
    # budget), but the per-DOC sum is bounded by n*ln(n)*1e6, which
    # crosses int64 already at n ~ 1e12 tokens — the maxmass
    # accumulation class.  The exact int128 converts to DOUBLE
    # identically in both engines.
    pd = pt.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.sum(
            F.floor(F.col("c") * F.log(F.col("c")) * F.lit(1000000.0))
            .cast("decimal(38,0)")
        ).alias("clnc6"),
    )
    ent = F.floor(
        (F.log(F.col("n"))
         - F.col("clnc6").cast("double") / F.lit(1000000.0) / F.col("n"))
        * F.lit(10000.0)
    ) / F.lit(10000.0)
    return (
        pd.select("doc_id", F.col("n").alias("n_tokens"), ent.alias("entropy"))
        .orderBy(F.asc("entropy"), F.asc("doc_id"))
        .limit(30)
    )


# --------------------------------------------------------------------
# bigram conditional log-probability (second-order LM quality score)
# --------------------------------------------------------------------

_BIGRAM_ORACLE = """
WITH w AS (
  SELECT doc_id,
         list_filter(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), x -> x != '') AS words
  FROM documents
), w2 AS (SELECT doc_id, words FROM w WHERE len(words) >= 2),
occ AS (
  SELECT doc_id,
         unnest([ words[i] || ' ' || words[i+1]
                  for i in range(1, len(words)) ]) AS bg
  FROM w2
),
bgc AS (SELECT bg, count(*) AS cb FROM occ GROUP BY bg),
lc AS (
  SELECT split_part(bg, ' ', 1) AS lw, sum(cb) AS cl FROM bgc GROUP BY 1
),
model AS (
  SELECT bg, CAST(floor(ln(cb * 1.0 / cl) * 1000000.0) AS BIGINT) AS lp6
  FROM bgc JOIN lc ON split_part(bgc.bg, ' ', 1) = lc.lw
),
scored AS (SELECT occ.doc_id, model.lp6 FROM occ JOIN model USING (bg))
SELECT doc_id, count(*) AS n_bigrams,
       floor(CAST(sum(CAST(lp6 AS HUGEINT)) AS DOUBLE)
             / count(*) / 1000000.0e0 * 10000.0e0) / 10000.0e0
         AS avg_logprob
FROM scored GROUP BY doc_id
ORDER BY avg_logprob ASC, doc_id
LIMIT 30
"""


@register("text_bigram_logprob", oracle=_BIGRAM_ORACLE, bench=True,
          doc="bigram conditional log-probability (2nd-order LM "
              "perplexity proxy): 30 most surprising documents")
def text_bigram_logprob(spark, sf_dir):
    """Average log P(w_i | w_{i-1}) per document under the corpus
    MLE bigram model — the second-order refinement of
    ``text_unigram_logprob``: word-salad that sails past a unigram
    model (common words, nonsense order) scores poorly here.

    Cross-engine: each distinct bigram's log-prob is floored into
    integer micro-units once, in the model table, so the per-doc
    fold is an exact-integer sum accumulated in DECIMAL(38,0)/HUGEINT
    (r13 widening — a LONG accumulator broke at ~2.3e11 bigrams per
    document; the exact int128 converts to DOUBLE identically in
    both engines); one floor-truncated division chain at the end
    (PARITY.md rule 1).

    Scale shape: bigram extraction is a pure array op inside the
    scan projection (transform over sequence — NO shuffle, text
    never leaves the task); the bigram count shuffles once on ``bg``
    with map-side combine; the left-margin table derives from the
    already-aggregated counts (vocab-sized, not corpus-sized); the
    model (distinct-bigram-sized) joins back to occurrences on the
    same ``bg`` key. Per-doc rollup is one more shuffle + TakeOrdered
    top-30."""
    docs = T(spark, sf_dir, "documents")
    occ = (
        docs.select(
            "doc_id",
            F.expr("filter(split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), x -> x != '')").alias(
                "words"
            ),
        )
        .filter(F.expr("size(words) >= 2"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(words) - 1), "
                    "i -> concat(element_at(words, i), ' ', "
                    "element_at(words, i + 1)))"
                )
            ).alias("bg"),
        )
    )
    bgc = occ.groupBy("bg").agg(F.count(F.lit(1)).alias("cb"))
    lc = (
        bgc.groupBy(F.split(F.col("bg"), " ").getItem(0).alias("lw"))
        .agg(F.sum("cb").alias("cl"))
    )
    model = (
        bgc.join(lc, F.split(bgc.bg, " ").getItem(0) == lc.lw)
        .select(
            "bg",
            F.floor(
                F.log(F.col("cb") * F.lit(1.0) / F.col("cl")) * F.lit(1000000.0)
            ).cast("long").alias("lp6"),
        )
    )
    scored = occ.join(model, "bg")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.floor(
                F.sum(F.col("lp6").cast("decimal(38,0)")).cast("double")
                / F.count(F.lit(1)) / F.lit(1000000.0)
                * F.lit(10000.0)
            ).alias("_a"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            (F.col("_a") / F.lit(10000.0)).alias("avg_logprob"),
        )
        .orderBy(F.asc("avg_logprob"), F.asc("doc_id"))
        .limit(30)
    )


# --------------------------------------------------------------------
# Gopher-style quality-rule audit (rule-based curation filters)
# --------------------------------------------------------------------

_GOPHER_ORACLE = """
WITH w AS (
  SELECT doc_id, source,
         list_filter(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), x -> x != '') AS words
  FROM documents
), mc AS (
  -- linear max token multiplicity (the r11 longdocs fix: the
  -- list_max(list_transform(list_distinct, w -> count-equal)) form
  -- is O(distinct x words) per doc — 4e8 comparisons on a 20k-word
  -- doc); zero-word docs get the vacuous 1 via the left join
  SELECT doc_id, max(c) AS maxc FROM (
    SELECT doc_id, count(*) AS c
    FROM (SELECT doc_id, unnest(words) AS x FROM w)
    GROUP BY doc_id, x
  ) GROUP BY doc_id
), m AS (
  SELECT source,
         len(words) AS nw,
         -- coalesce: DuckDB list_sum([]) is NULL but Spark's
         -- aggregate(words, 0, ...) is 0; both engines must agree
         -- that a zero-word doc has sumlen 0 (meanlen rule then
         -- passes vacuously on both: 0 <= 0 <= 0)
         COALESCE(list_sum(list_transform(words, x -> length(x))), 0) AS sumlen,
         len(list_filter(words,
             x -> x IN ('the', 'a', 'of', 'and', 'in'))) AS nstop,
         len(list_distinct(words)) AS ndis,
         COALESCE(mc.maxc, 1) AS maxc
  FROM w LEFT JOIN mc USING (doc_id)
)
SELECT source,
  count(*) AS n_docs,
  CAST(sum(CASE WHEN nw >= 50 AND nw <= 100000 THEN 0 ELSE 1 END) AS BIGINT)
    AS n_fail_wordcount,
  CAST(sum(CASE WHEN 3 * nw <= sumlen AND sumlen <= 10 * nw THEN 0 ELSE 1 END)
    AS BIGINT) AS n_fail_meanlen,
  CAST(sum(CASE WHEN 50 * nstop >= nw THEN 0 ELSE 1 END) AS BIGINT)
    AS n_fail_stopword,
  CAST(sum(CASE WHEN 5 * maxc <= nw THEN 0 ELSE 1 END) AS BIGINT)
    AS n_fail_repetition,
  CAST(sum(CASE WHEN 10 * ndis >= 3 * nw THEN 0 ELSE 1 END) AS BIGINT)
    AS n_fail_ttr,
  CAST(sum(CASE WHEN nw >= 50 AND nw <= 100000
                 AND 3 * nw <= sumlen AND sumlen <= 10 * nw
                 AND 50 * nstop >= nw
                 AND 5 * maxc <= nw
                 AND 10 * ndis >= 3 * nw THEN 1 ELSE 0 END) AS BIGINT)
    AS n_pass_all
FROM m
GROUP BY source
ORDER BY source
"""


@register("text_gopher_quality_rules", oracle=_GOPHER_ORACLE, bench=True,
          doc="Gopher-style rule-based quality filter audit: per-source "
              "failure counts for word-count / mean-word-length / "
              "stopword / repetition / type-token-ratio rules")
def text_gopher_quality_rules(spark, sf_dir):
    """Rule-based curation audit in the style of the Gopher paper's
    quality heuristics (word-count bounds, mean word length 3-10,
    stopword presence, max-token repetition share, type-token ratio),
    reported as per-source failure counts plus the pass-all count.

    Complements the scoring family (``text_quality_score``,
    ``text_repetition_ratio``, entropy/logprob): production pipelines
    run hard rule gates FIRST, and this is the audit table a curation
    run reviews before committing thresholds.

    Cross-engine parity: every rule is an EXACT-INTEGER comparison
    (e.g. mean length in [3,10] as ``3*nw <= sumlen <= 10*nw``) — no
    float ratio ever crosses an engine boundary (PARITY.md rule 1).

    Scale shape: all per-doc metrics are array HOFs inside the scan
    projection (split/filter/aggregate/transform — text never
    shuffles); the only shuffle is the tiny per-source count rollup
    with map-side combine. The nested-lambda max-count is
    O(distinct * words) per row, bounded by document length — at
    100 TB this is embarrassingly parallel scan work.
    """
    d = T(spark, sf_dir, "documents").select(
        "source",
        F.expr("filter(split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), x -> x != '')").alias("words"),
    )
    m = d.select(
        "source",
        F.size("words").alias("nw"),
        F.expr("aggregate(words, 0, (acc, x) -> acc + length(x))").alias("sumlen"),
        F.expr(
            "size(filter(words, x -> x IN ('the', 'a', 'of', 'and', 'in')))"
        ).alias("nstop"),
        F.size(F.array_distinct("words")).alias("ndis"),
        # linear max token multiplicity: longest equal-run of the
        # sorted array (zip of shifted slices -> aggregate with a
        # struct accumulator; every lambda touches only its own
        # arguments, so projection collapse cannot re-inline a
        # captured expression — the r11 longdocs lesson).  The old
        # transform(array_distinct, w -> count-equal) form was
        # O(distinct x words) per row.  Zero-word docs yield the
        # vacuous 1 (the oracle mirrors via COALESCE after its
        # unnest group-by; the repetition rule fails either way
        # since 5*1 <= 0 is false and NULL was also a fail).
        # greatest(..., 0): an EMPTY words array would make the slice
        # length -1, which raises under ANSI (the unicode sweep's
        # empty/whitespace-only docs); zero-length slices give the
        # vacuous maxc = 1 like the one-word case
        F.expr(
            "aggregate("
            " zip_with(slice(array_sort(words), 1,"
            "                greatest(size(words) - 1, 0)),"
            "          slice(array_sort(words), 2,"
            "                greatest(size(words) - 1, 0)),"
            "          (a, b) -> IF(a = b, 1, 0)),"
            " named_struct('cur', 1, 'best', 1),"
            " (acc, x) -> named_struct("
            "   'cur', IF(x = 1, acc.cur + 1, 1),"
            "   'best', greatest(acc.best, IF(x = 1, acc.cur + 1, 1))),"
            " acc -> acc.best)"
        ).alias("maxc"),
    )
    ok_wc = (F.col("nw") >= 50) & (F.col("nw") <= 100000)
    ok_ml = (3 * F.col("nw") <= F.col("sumlen")) & (F.col("sumlen") <= 10 * F.col("nw"))
    ok_sw = 50 * F.col("nstop") >= F.col("nw")
    ok_rep = 5 * F.col("maxc") <= F.col("nw")
    ok_ttr = 10 * F.col("ndis") >= 3 * F.col("nw")

    def n_fail(ok):
        return F.sum(F.when(ok, 0).otherwise(1))

    return (
        m.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            n_fail(ok_wc).alias("n_fail_wordcount"),
            n_fail(ok_ml).alias("n_fail_meanlen"),
            n_fail(ok_sw).alias("n_fail_stopword"),
            n_fail(ok_rep).alias("n_fail_repetition"),
            n_fail(ok_ttr).alias("n_fail_ttr"),
            F.sum(
                F.when(ok_wc & ok_ml & ok_sw & ok_rep & ok_ttr, 1).otherwise(0)
            ).alias("n_pass_all"),
        )
        .orderBy("source")
    )


def gopher_pass_all(text_col: str = "text"):
    """Single boolean Column applying every Gopher-style rule gate —
    the streaming/ingest form of ``text_gopher_quality_rules`` (same
    exact-integer predicates, computable inside any projection, so the
    identical gate runs in a ``readStream.filter`` with no state).
    Parity with the batch audit is pinned by
    tests/test_streaming_extras.py::test_streaming_gopher_gate_matches_batch.
    """
    words = f"filter(split(translate({text_col}, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), x -> x != '')"
    nw = f"size({words})"
    sumlen = f"aggregate({words}, 0, (acc, x) -> acc + length(x))"
    nstop = f"size(filter({words}, x -> x IN ('the', 'a', 'of', 'and', 'in')))"
    ndis = f"size(array_distinct({words}))"
    maxc = (
        f"array_max(transform(array_distinct({words}), "
        f"w -> size(filter({words}, x -> x = w))))"
    )
    return F.expr(
        f"({nw}) >= 50 AND ({nw}) <= 100000"
        f" AND 3 * ({nw}) <= ({sumlen}) AND ({sumlen}) <= 10 * ({nw})"
        f" AND 50 * ({nstop}) >= ({nw})"
        f" AND 5 * ({maxc}) <= ({nw})"
        f" AND 10 * ({ndis}) >= 3 * ({nw})"
    )


# --------------------------------------------------------------------
# BPE merge-pair counting (the byte-pair-encoding training primitive)
# --------------------------------------------------------------------

_BPE_ORACLE = """
WITH w AS (
  SELECT unnest(list_filter(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), x -> x != ''))
    AS word
  FROM documents
), wc AS (
  SELECT word, count(*) AS c FROM w WHERE length(word) >= 2 GROUP BY word
), pairs AS (
  SELECT substring(wc.word, g.i, 2) AS pair, wc.c
  FROM wc, LATERAL (SELECT unnest(range(1, length(wc.word))) AS i) g
)
SELECT pair, CAST(sum(c) AS BIGINT) AS n_pair
FROM pairs GROUP BY pair
ORDER BY n_pair DESC, pair
LIMIT 30
"""


@register("text_bpe_pair_counts", oracle=_BPE_ORACLE, bench=True,
          doc="BPE training primitive: corpus-frequency-weighted "
              "adjacent character-pair counts, top 30 merge candidates")
def text_bpe_pair_counts(spark, sf_dir):
    """The inner loop of byte-pair-encoding vocabulary training:
    count every adjacent symbol pair across the corpus, weighted by
    word frequency — the most frequent pair is the next BPE merge.
    One iteration is the oracle-checkable unit (full BPE training
    iterates merge -> recount; each round is this same shape).

    Scale shape: pair generation runs against the DISTINCT-word
    relation, not the corpus — the word-frequency rollup (one
    map-combined shuffle) collapses 100 TB of text to a vocabulary-
    sized table, and the per-word pair explosion is bounded by word
    length over that small relation; the final pair rollup is the
    second tiny shuffle, then a WindowGroupLimit-able top-30. No
    Python anywhere — split/explode/substring are all JVM column ops.

    Cross-engine parity notes: words shorter than 2 chars are
    filtered explicitly on BOTH engines — Spark's sequence(1, 0)
    auto-steps DOWNWARD ([1, 0]) where DuckDB range(1, 1) is empty,
    so an unguarded sequence fabricates pairs for 1-char words."""
    d = T(spark, sf_dir, "documents").select(
        F.explode(
            F.expr("filter(split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), x -> x != '')")
        ).alias("word")
    )
    wc = (
        d.filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pairs = wc.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1), "
                "i -> substring(word, i, 2))"
            )
        ).alias("pair"),
        "c",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("c").alias("n_pair"))
        .orderBy(F.desc("n_pair"), "pair")
        .limit(30)
    )


_BPE_MERGE_ORACLE = """
WITH w AS (
  SELECT unnest(list_filter(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), x -> x != ''))
    AS word
  FROM documents
), wc AS (
  SELECT word, count(*) AS c FROM w WHERE length(word) >= 2 GROUP BY word
), p1 AS (
  SELECT substring(wc.word, g.i, 2) AS pair, wc.c
  FROM wc, LATERAL (SELECT unnest(range(1, length(wc.word))) AS i) g
), top1 AS (
  SELECT pair FROM (
    SELECT pair, CAST(sum(c) AS BIGINT) AS n_pair FROM p1 GROUP BY pair
    ORDER BY n_pair DESC, pair LIMIT 1
  )
), merged AS (
  SELECT replace(wc.word, (SELECT pair FROM top1), '#') AS word, wc.c
  FROM wc
), m2 AS (
  SELECT word, CAST(sum(c) AS BIGINT) AS c FROM merged
  WHERE length(word) >= 2 GROUP BY word
), p2 AS (
  SELECT substring(m2.word, g.i, 2) AS pair, m2.c
  FROM m2, LATERAL (SELECT unnest(range(1, length(m2.word))) AS i) g
)
SELECT (SELECT pair FROM top1) AS merged_pair,
       pair, CAST(sum(c) AS BIGINT) AS n_pair
FROM p2 GROUP BY pair
ORDER BY n_pair DESC, pair
LIMIT 20
"""


@register("text_bpe_second_merge", oracle=_BPE_MERGE_ORACLE, bench=True,
          doc="second BPE iteration: apply the top merge (as sentinel "
              "'#') to the vocabulary and recount pairs — the loop "
              "step of BPE training, top 20 next candidates")
def text_bpe_second_merge(spark, sf_dir):
    """One full turn of the BPE training loop: take round 1's winning
    pair (``text_bpe_pair_counts`` rank 1), merge it into every
    vocabulary word (sentinel symbol '#', absent from the lowercase
    corpus), and recount adjacent pairs over the merged alphabet —
    the next merge candidates. Demonstrates the whole iterative
    algorithm is expressible as pure column ops: full training is
    this step repeated with a growing sentinel alphabet.

    Cross-engine parity: ``replace()`` substitutes non-overlapping
    occurrences left-to-right identically in Spark and DuckDB, and
    the winning pair is deterministic ((count DESC, pair ASC) limit
    1, broadcast as a scalar). Merged words re-aggregate (two
    pre-merge words can collapse to one spelling) before pair
    generation so both engines count from the identical vocabulary.

    Scale shape: everything after the word-frequency rollup operates
    on the vocabulary-sized relation; the top-1 pair is a scalar
    broadcast into the merge projection — per iteration, two tiny
    shuffles, zero corpus passes."""
    d = T(spark, sf_dir, "documents").select(
        F.explode(
            F.expr("filter(split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), x -> x != '')")
        ).alias("word")
    )
    wc = (
        d.filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )

    def pairs_of(rel):
        return rel.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(word) - 1), "
                    "i -> substring(word, i, 2))"
                )
            ).alias("pair"),
            "c",
        )

    top1 = (
        pairs_of(wc).groupBy("pair").agg(F.sum("c").alias("n_pair"))
        .orderBy(F.desc("n_pair"), "pair").limit(1)
        .select(F.col("pair").alias("mp"))
    )
    merged = (
        wc.crossJoin(F.broadcast(top1))
        .select(F.expr("replace(word, mp, '#')").alias("word"), "c", "mp")
    )
    m2 = (
        merged.filter(F.length("word") >= 2)
        .groupBy("word", "mp")
        .agg(F.sum("c").alias("c"))
    )
    return (
        pairs_of(m2.select("word", "c"))
        .groupBy("pair")
        .agg(F.sum("c").alias("n_pair"))
        .crossJoin(F.broadcast(top1))
        .select(F.col("mp").alias("merged_pair"), "pair", "n_pair")
        .orderBy(F.desc("n_pair"), "pair")
        .limit(20)
    )


# --------------------------------------------------------------------
# Jensen-Shannon divergence: per-source unigram drift vs the corpus
# --------------------------------------------------------------------

# The mixing-weight / drift gate for pretraining corpora: how far each
# source's unigram distribution sits from the corpus mixture, in nats.
# JS(P,Q) = (KL(P||M) + KL(Q||M)) / 2 with M = (P+Q)/2 — symmetric,
# bounded by ln 2, zero iff identical. Cross-engine parity follows the
# repo's ln() idiom: every p*ln(p/m) addend is floored into integer
# MICRO-nats first (both engines evaluate the textually identical
# double expression), so the per-source sum is exact-integer and
# order-independent; the final JS floors at 4dp.
_JSD_ORACLE = """
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
), st AS (
  SELECT source, token, CAST(count(*) AS BIGINT) AS cst
  FROM tok GROUP BY source, token
), srcs AS (
  SELECT source, CAST(sum(cst) AS BIGINT) AS ns,
         CAST(count(*) AS BIGINT) AS vocab_used
  FROM st GROUP BY source
), vocab AS (
  SELECT token, CAST(sum(cst) AS BIGINT) AS ct FROM st GROUP BY token
), tot AS (
  SELECT CAST(sum(ct) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS vocab_total
  FROM vocab
), grid AS (
  SELECT s.source, s.ns, s.vocab_used, t.vocab_total, v.ct, t.n,
         COALESCE(st.cst, 0) AS cst
  FROM srcs s CROSS JOIN vocab v CROSS JOIN tot t
  LEFT JOIN st ON st.source = s.source AND st.token = v.token
), add6 AS (
  SELECT source, ns, vocab_used, vocab_total,
    CASE WHEN cst > 0 THEN CAST(floor((cst * 1.0e0 / ns)
      * ln((cst * 1.0e0 / ns) / ((cst * 1.0e0 / ns + ct * 1.0e0 / n) / 2.0e0))
      * 1000000.0e0) AS BIGINT) ELSE 0 END
    + CAST(floor((ct * 1.0e0 / n)
      * ln((ct * 1.0e0 / n) / ((cst * 1.0e0 / ns + ct * 1.0e0 / n) / 2.0e0))
      * 1000000.0e0) AS BIGINT) AS a6
  FROM grid
)
SELECT source, ns AS n_tokens, vocab_used, vocab_total,
       floor(CAST(sum(CAST(a6 AS HUGEINT)) AS DOUBLE) / 200.0e0)
         / 10000.0e0 AS js4
FROM add6
GROUP BY source, ns, vocab_used, vocab_total
ORDER BY source
"""


@register("corpus_js_divergence", oracle=_JSD_ORACLE, bench=True,
          doc="Jensen-Shannon divergence of each source's unigram "
              "distribution vs the corpus mixture — the drift/mixing "
              "gate, micro-nat fixed-point")
def corpus_js_divergence(spark, sf_dir):
    """Which sources have drifted from the corpus distribution? The
    per-source JS divergence in nats — the symmetric, ln(2)-bounded
    distance that mixing-weight tuning, ablation selection, and
    ingest drift alarms all key on (KL alone is infinite on any
    source-only token; JS never is).

    Scale shape: two map-combinable token-count groupBys (source x
    token, then token), and the scoring relation is the
    vocab x n_sources GRID — bounded by vocabulary size, never by
    corpus size; absent (source, token) cells enter with p=0 via the
    grid's left join, which is what makes the q-side mass correct.
    At 100 TB the grid shuffles on token (vocab-grain); source
    marginals and corpus totals ride broadcasts. Addends are floored
    to integer micro-nats before summation (textually identical IEEE
    double expressions in both engines), so the aggregation is exact
    and partitioning-independent."""
    d = T(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(F.split(F.col("text"), " ")).alias("token"))
    st = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("cst"))
    srcs = st.groupBy("source").agg(
        F.sum("cst").alias("ns"), F.count(F.lit(1)).alias("vocab_used"))
    vocab = st.groupBy("token").agg(F.sum("cst").alias("ct"))
    tot = vocab.agg(F.sum("ct").alias("n"), F.count(F.lit(1)).alias("vocab_total"))
    grid = (
        F.broadcast(srcs).crossJoin(vocab).crossJoin(F.broadcast(tot))
        .join(st, ["source", "token"], "left")
        .withColumn("cst", F.coalesce(F.col("cst"), F.lit(0)))
    )
    # e0 literals force DOUBLE (not DECIMAL) in BOTH SQL dialects, so
    # the addend is the textually identical IEEE expression everywhere;
    # the final floor divides an exact integer by 200.0 (micro-half-nats
    # -> 4dp nats), which no double rounding can push across an integer
    a6 = (
        "CASE WHEN cst > 0 THEN CAST(floor((cst * 1.0e0 / ns) "
        "* ln((cst * 1.0e0 / ns) / ((cst * 1.0e0 / ns + ct * 1.0e0 / n) / 2.0e0)) "
        "* 1000000.0e0) AS BIGINT) ELSE 0 END "
        "+ CAST(floor((ct * 1.0e0 / n) "
        "* ln((ct * 1.0e0 / n) / ((cst * 1.0e0 / ns + ct * 1.0e0 / n) / 2.0e0)) "
        "* 1000000.0e0) AS BIGINT)"
    )
    # s6 accumulates in DECIMAL(38,0)/HUGEINT (r13 widening): each
    # |a6| addend is <= ~2.8e7 micro-nats (p*ln(p/m) bounded by the
    # distributions), so a LONG sum broke at ~3e11 vocabulary cells
    # per source — inside the engine's design language even though no
    # real vocabulary reaches it.  The exact int128 converts to
    # DOUBLE identically in both engines before the /200 scale-back.
    return (
        grid.withColumn("a6", F.expr(a6))
        .groupBy("source", "ns", "vocab_used", "vocab_total")
        .agg(F.sum(F.col("a6").cast("decimal(38,0)")).alias("s6"))
        .select(
            "source", F.col("ns").alias("n_tokens"), "vocab_used",
            "vocab_total",
            F.expr("floor(CAST(s6 AS DOUBLE) / 200.0e0) / 10000.0e0")
            .alias("js4"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# tokenizer fertility (chars per token, by language)
# --------------------------------------------------------------------

# The tokenizer-budget planner's first number: how many characters
# does one (whitespace) token cost per language?  Languages with high
# fertility under a given tokenizer eat the context window faster and
# skew the token-weighted language mix away from the document-weighted
# one — this query reports both, exactly.
_FERTILITY_ORACLE = """
WITH d AS (
  SELECT lang, CAST(n_chars AS BIGINT) AS nc,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
  FROM documents
), tot AS (SELECT CAST(sum(nt) AS BIGINT) AS t FROM d)
SELECT d.lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(d.nt) AS BIGINT) AS n_tokens,
       CAST(sum(d.nc) * 10000 // sum(d.nt) AS BIGINT) AS chars_per_token_1e4,
       CAST(sum(d.nt) * 10000 // tot.t AS BIGINT) AS token_share_1e4
FROM d, tot
GROUP BY d.lang, tot.t
ORDER BY d.lang
"""


@register("tokenizer_fertility", oracle=_FERTILITY_ORACLE, bench=True,
          doc="per-language chars-per-token fertility + token-mass "
              "share, exact integer fixed-point")
def tokenizer_fertility(spark, sf_dir):
    """Tokenizer fertility by language: characters per whitespace
    token, plus each language's share of the corpus TOKEN mass (vs
    its document share) — the two numbers a context-budget planner
    and a mixing-weight tuner need before choosing per-language
    sampling rates.

    Scale: one scan, one map-combinable groupBy on lang (a tiny key
    domain), the corpus total broadcast back as a 1-row frame; every
    ratio is exact integer fixed-point on non-negative operands."""
    d = T(spark, sf_dir, "documents").select(
        "lang",
        F.col("n_chars").cast("long").alias("nc"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("nt"),
    )
    tot = d.agg(F.sum("nt").alias("t"))
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("n_tokens"),
            F.sum("nc").alias("snc"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "lang", "n_docs", "n_tokens",
            F.expr("CAST(snc * 10000 div n_tokens AS BIGINT)")
            .alias("chars_per_token_1e4"),
            F.expr("CAST(n_tokens * 10000 div t AS BIGINT)")
            .alias("token_share_1e4"),
        )
        .orderBy("lang")
    )
