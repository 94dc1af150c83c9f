"""Interpolated Kneser-Ney trigram language-model scoring.

The production upgrade of the add-one bigram LM
(plans/textops.py:bigram_lm_doc_scores) for CCNet-style quality
filtering: absolute discounting (D = 0.75, Kneser & Ney 1995; Chen &
Goodman 1999's interpolated form) with CONTINUATION counts at the
lower orders - a word's backoff weight is how many distinct contexts
it completes, not how often it occurs, which is what makes KN the
standard n-gram smoother ("San Francisco" inflates c(Francisco) but
not N1+(. Francisco)).

Exactness: every count is an integer aggregate over trigram
occurrences / types, D = 0.75 is exactly representable, and each
probability is a fixed left-associative dag of IEEE +,-,*,/ on those
integers - both engines round identically at every step, so
per-trigram probabilities hash bit-exactly and per-document means
ride the quantized 1e-9 BIGINT-sum scheme (partition-order
independent). Log-space perplexity is deliberately NOT computed:
ln() is not correctly-rounded and differs across libm
implementations (the bigram-LM rationale); a production log-scorer
is a one-line variant.

Trained on the scored corpus itself, so every trigram has c3 >= 1
and all denominators are positive - no OOV path. The three orders:

    P1(w3)       = N1+(. w3) / N1+(. .)              (continuation)
    P2(w3|w2)    = max(N1+(. w2 w3) - D, 0) / N1+(. w2 .)
                   + D * N1+mid(w2 .) / N1+(. w2 .) * P1(w3)
    P3(w3|w1 w2) = max(c(w1 w2 w3) - D, 0) / c(w1 w2 .)
                   + D * N1+(w1 w2 .) / c(w1 w2 .) * P2(w3|w2)

with all N1+ counts derived from the distinct-trigram-type table
(bigram types = distinct (w2, w3) mid-pairs), keeping the model
self-consistent from ONE derivation.

Scale shape: the corpus explodes once into token-sized trigram rows;
every count table partially aggregates map-side; scoring is keyed
equi-joins on short string keys (trigram, context, mid-bigram) - the
document text never shuffles, and the model tables are
vocabulary-sized, not corpus-sized. The single driver-side value is
the scalar bigram-type total (one row), the bigram-LM V pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import barrier

D = 0.75  # absolute discount - exactly representable in binary


def trigram_rows(d: DataFrame, toks_col) -> DataFrame:
    """Per-doc (doc_id, w1, w2, w3) occurrence rows; the struct
    projection keeps the token array materializing once (the
    no-CSE-in-lambda lesson from _bigram_rows)."""
    toked = d.select("doc_id", toks_col.alias("__toks")).filter(
        F.size("__toks") >= 3
    )
    triples = F.transform(
        F.sequence(F.lit(1), F.size("__toks") - 2),
        lambda i: F.struct(
            F.element_at(F.col("__toks"), i).alias("w1"),
            F.element_at(F.col("__toks"), i + F.lit(1)).alias("w2"),
            F.element_at(F.col("__toks"), i + F.lit(2)).alias("w3"),
        ),
    )
    return toked.select("doc_id", F.explode(triples).alias("s")).select(
        "doc_id",
        F.col("s.w1").alias("w1"),
        F.col("s.w2").alias("w2"),
        F.col("s.w3").alias("w3"),
    )


def trigram_counts(d: DataFrame, toks_col) -> DataFrame:
    """(w1, w2, w3, c3): the trigram-occurrence counts that are the
    KN model's ENTIRE state - every other statistic (context totals,
    every continuation count) derives from this table's values and
    key set, which is what makes the model incrementally
    maintainable: c3 merges ADDITIVELY across document batches
    (streaming/lm.py), while countDistinct-style statistics would
    not merge from deltas."""
    return trigram_rows(d, toks_col).groupBy("w1", "w2", "w3").agg(
        F.count(F.lit(1)).alias("c3")
    )


def kn_scores_from_counts(tr: DataFrame, c3t: DataFrame) -> DataFrame:
    """Score the trigram-occurrence rows ``tr`` (doc_id, w1, w2, w3 -
    the docs being scored) under the KN model whose state is the
    counts table ``c3t`` (w1, w2, w3, c3 - from :func:`trigram_counts`
    or the streaming counts store). All derived statistics aggregate
    the VOCABULARY-sized counts table, never the corpus-sized
    occurrence rows: c2 = sum(c3) by prefix, N1+(w1 w2 .) = key count
    by prefix, the type table IS c3's key set, and the continuation
    counts follow from it - measured at sf0.1 this beats re-deriving
    them from occurrences 2.16 -> 1.66 s median (1.30x) on top of the
    barrier win, and at 100 TB it is the difference between model
    aggregations that are corpus-sized and ones that are vocab-sized.

    Trigrams of ``tr`` absent from ``c3t`` are DROPPED by the inner
    join (scoring the training corpus itself - the catalog shape -
    never hits this; scoring held-out text under a frozen model
    should smooth unseen events upstream, the standard OOV story)."""
    ctxt = c3t.groupBy("w1", "w2").agg(
        F.sum("c3").alias("c2"),
        F.count(F.lit(1)).alias("nf"),
    )
    # Every continuation statistic folds from the (w2, w3) type-count
    # table, aggregated ONCE from the counts table's (already
    # distinct) key set: n1mid is its value, nctx = sum of n1mid per
    # w2 (= trigram types per w2), nfol2 = its row count per w2
    # (= distinct w3 per w2), n1uni = its row count per w3, and the
    # bigram-type total is its row count. Identical integers to the
    # former per-statistic re-aggregations of the type table (one
    # groupBy + one countDistinct + one distinct), at one shuffle of
    # the strictly smaller mids table instead of three of tt.
    mids = barrier(
        c3t.groupBy("w2", "w3").agg(F.count(F.lit(1)).alias("n1mid")),
        eager=False,
    )
    w2s = mids.groupBy("w2").agg(
        F.sum("n1mid").alias("nctx"),
        F.count(F.lit(1)).alias("nfol2"),
    )
    uni = mids.groupBy("w3").agg(F.count(F.lit(1)).alias("n1uni"))
    b_total = mids.count()  # scalar, one row to the driver (the V pattern)

    p1 = F.col("n1uni").cast("double") / F.lit(float(b_total))
    p2 = (
        (F.col("n1mid").cast("double") - F.lit(D))
        / F.col("nctx").cast("double")
        + F.lit(D)
        * F.col("nfol2").cast("double")
        / F.col("nctx").cast("double")
        * p1
    )
    p2_tbl = (
        mids.join(w2s, "w2").join(uni, "w3").select("w2", "w3", p2.alias("p2"))
    )

    p3 = (
        (F.col("c3").cast("double") - F.lit(D)) / F.col("c2").cast("double")
        + F.lit(D)
        * F.col("nf").cast("double")
        / F.col("c2").cast("double")
        * F.col("p2")
    )
    scored = (
        tr.join(c3t, ["w1", "w2", "w3"])
        .join(ctxt, ["w1", "w2"])
        .join(p2_tbl, ["w2", "w3"])
        .withColumn("p", p3)
    )
    q = F.floor(F.col("p") * F.lit(1e9) + F.lit(0.5)).cast("long")
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_trigrams"),
        (
            F.sum(q).cast("double")
            / F.lit(1e9)
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_kn_prob"),
        F.min("p").alias("min_kn_prob"),
    )


def kn_trigram_doc_scores(d: DataFrame, toks_col) -> DataFrame:
    """(doc_id, n_trigrams, mean_kn_prob, min_kn_prob): score every
    document by its interpolated-KN trigram probabilities under the
    model trained on the full input. ``toks_col`` is the
    tokenization expression applied to each document's text.

    Barrier shape (the tfidf lesson, r14): the trigram-occurrence
    table feeds the counts aggregation AND the scoring join, and the
    counts table feeds every derived statistic - without barriers
    Catalyst re-derives the corpus tokenize+explode per consumer.
    Lazy barriers on ``tr`` and ``c3t`` (plus the
    bigram-type slice inside kn_scores_from_counts) collapse that to
    ONE corpus explode and ONE counts aggregation. Measured at sf0.1
    (matched warm runs): 3.42 s unbarriered -> 2.35 s barriered ->
    1.66 s with all model statistics derived from the vocab-sized
    counts table (r15)."""
    tr = barrier(trigram_rows(d, toks_col), eager=False)
    c3t = barrier(
        tr.groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("c3")),
        eager=False,
    )
    return kn_scores_from_counts(tr, c3t)
