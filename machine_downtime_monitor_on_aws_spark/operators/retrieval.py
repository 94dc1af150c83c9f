"""Lexical + hybrid retrieval: BM25 scoring and reciprocal-rank
fusion.

The retrieval legs a training-data pipeline actually runs - lexical
search for decontamination/attribution sweeps, and the lexical+dense
hybrid (RRF) that RAG-style dataset tooling uses to find what either
signal alone misses. Spark-first shapes throughout:

- postings are (doc, term, tf) rows produced by one explode +
  partial-aggregating count; the query-term filter lands BEFORE the
  aggregation, so the exchange carries only docs x |query| rows, not
  the corpus vocabulary;
- corpus statistics (N, avgdl) and per-term document frequencies are
  tiny aggregates broadcast back over the postings - the corpus
  never shuffles for them;
- the per-(doc, term) BM25 contribution is quantized to 1e-9 and
  summed as BIGINTs (the label_centroid_sums scheme), so the
  document score is independent of partition/addition order and the
  catalog query hash-matches its DuckDB oracle bit-for-bit;
- RRF is a full-outer join of the (tiny) top-N rankings - driver
  never sees data, and the fused score 1/(k+r_lex) + 1/(k+r_sem) is
  a single deterministic IEEE addition per doc.

Engine-exactness note: the catalog pins the RATIONAL idf
``(N - df + 0.5) / (df + 0.5)`` - the classic ``ln(...)`` idf is
available via ``idf_mode="log"`` for production, but ``ln`` is a
libm call whose final ulp is not guaranteed identical across
engines, so the oracle-paired query uses the log-free variant (same
per-term document ordering; weights differ). The log variant is
pinned against a Python model in unit tests instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import token_count, tokens
from ..session import barrier

_QUANT = 1_000_000_000.0


def query_term_postings(
    df: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, term, tf, dl) for the query terms only. The term
    filter sits on the exploded tokens BEFORE the tf aggregation -
    the exchange carries at most |docs| x |terms| rows. ``dl`` (doc
    token length) rides along for the BM25 length normalization."""
    if not terms:
        raise ValueError("terms must be non-empty")
    t = df.select(
        F.col(id_col).alias("doc_id"),
        token_count(F.col(text_col)).alias("dl"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    ).filter(F.col("term").isin(list(terms)))
    return t.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    )


def bm25_rank(
    df: DataFrame,
    terms: list[str],
    top_n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    idf_mode: str = "rational",
) -> DataFrame:
    """Top-``top_n`` documents by BM25 over ``terms`` -
    (doc_id, score, rnk), ranked score desc / doc_id asc. Docs
    containing none of the terms never enter the ranking.

    All statistics are computed in-plan: N and avgdl as one tiny
    aggregate cross-joined back (broadcast), per-term df as a
    |terms|-row broadcast join. Per-(doc, term) contribution
    ``idf * (tf*(k1+1)) / (tf + k1*(1 - b + b*dl/avgdl))`` is
    quantized (1e-9, BIGINT sum) so the total is addition-order
    independent - the property the oracle relies on. ``idf_mode``:
    "rational" (engine-exact, catalog default) or "log" (classic
    BM25, production)."""
    post = query_term_postings(df, terms, id_col, text_col)
    stats = df.select(
        F.count(F.lit(1)).alias("__n"),
        (
            F.sum(token_count(F.col(text_col))).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("__avgdl"),
    )
    dfreq = post.groupBy("term").agg(
        F.count(F.lit(1)).alias("__df")
    )
    scored = post.join(F.broadcast(dfreq), "term").crossJoin(
        F.broadcast(stats)
    )
    raw_idf = (
        (F.col("__n") - F.col("__df")).cast("double") + F.lit(0.5)
    ) / (F.col("__df").cast("double") + F.lit(0.5))
    idf = F.log(F.lit(1.0) + raw_idf) if idf_mode == "log" else raw_idf
    denom = F.col("tf").cast("double") + F.lit(float(k1)) * (
        F.lit(1.0 - b) + F.lit(float(b)) * F.col("dl").cast("double") / F.col("__avgdl")
    )
    contrib = idf * (F.col("tf").cast("double") * F.lit(float(k1 + 1.0))) / denom
    q = F.floor(contrib * F.lit(_QUANT) + F.lit(0.5)).cast("long")
    by_doc = scored.groupBy("doc_id").agg(
        (F.sum(q).cast("double") / F.lit(_QUANT)).alias("score")
    )
    # global cut as TakeOrdered (per-partition heap, no full sort nor
    # single-partition window over the corpus); the row_number then
    # runs over only top_n rows
    from pyspark.sql import Window

    cut = by_doc.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(
        top_n
    )
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return cut.withColumn("rnk", F.row_number().over(w)).select(
        "doc_id", "score", F.col("rnk").cast("int").alias("rnk")
    )


def rrf_fuse(
    a: DataFrame,
    b: DataFrame,
    k: int = 60,
    id_col: str = "doc_id",
    rank_col: str = "rnk",
) -> DataFrame:
    """Reciprocal-rank fusion of two rankings (Cormack et al.):
    ``score(d) = 1/(k + rank_a(d)) + 1/(k + rank_b(d))``, a doc
    absent from one list contributing 0 from it. Full-outer join of
    two top-N slivers - each side is bounded by its N, so the join
    is trivially small at any corpus scale; the fused score is one
    deterministic IEEE addition per doc (engine-exact without
    quantization). Returns (doc_id, rrf_score) unranked - compose
    with top_k_per_group for the final cut."""
    ra = a.select(
        F.col(id_col).alias("__ida"), F.col(rank_col).alias("__ra")
    )
    rb = b.select(
        F.col(id_col).alias("__idb"), F.col(rank_col).alias("__rb")
    )
    fused = ra.join(rb, F.col("__ida") == F.col("__idb"), "full_outer")
    part = lambda r: F.when(  # noqa: E731
        r.isNotNull(), F.lit(1.0) / (F.lit(float(k)) + r.cast("double"))
    ).otherwise(F.lit(0.0))
    return fused.select(
        F.coalesce("__ida", "__idb").alias(id_col),
        (part(F.col("__ra")) + part(F.col("__rb"))).alias("rrf_score"),
    )


def tfidf_rank(
    df: DataFrame,
    terms: list[str],
    top_n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``top_n`` documents by tf-idf COSINE similarity to the
    term query - the classic vector-space retrieval leg beside
    :func:`bm25_rank` (tf-idf remains the standard cheap baseline
    and the weighting inside most sparse-retrieval indexes).

    Weighting is deliberately log-free (the BM25 rational-idf
    discipline): ``idf = (N + 1) / (df + 1)`` as one double
    division, ``w = tf * idf``. The cosine needs the FULL document
    norm - every term of every document, not just query terms - so
    unlike BM25 this operator aggregates the whole postings table:
    one corpus-token-sized map-side-combining exchange for
    (doc, term, tf), a term-keyed join against the document
    frequencies, and a per-doc quantized (1e-9 BIGINT) sum of
    squared weights whose ``sqrt`` is IEEE-correctly-rounded on
    every engine. The query-side dot product then reuses only the
    docs x |terms| posting rows, and the query norm is a 1-row
    broadcast. Global cut = TakeOrdered heap + window over top_n
    rows, the bm25_rank shape.

    The postings table feeds FOUR consumers (document frequencies,
    weighted rows, and the weighted rows feed norms + dots); without
    a barrier Catalyst re-derives the corpus explode + aggregation
    per consumer (the r14 plan audit counted the full postings
    pipeline twice and eight parquet scans). Lazy barriers on the
    postings and on the weighted rows (the
    neardup_jaccard_verified pattern - plain .cache() evaluates
    every branch before the first materialization wins) collapse
    that to ONE corpus explode; every leg reads the stored blocks.
    Measured
    honestly: at sf0.1 this is a WASH (old 1.91/1.49/1.19 s vs new
    1.98/1.53/1.33 s across matched warm runs - the local explode is
    cheap enough that checkpoint writes offset the saved
    recomputation); the change is kept for the scale asymmetry: at
    100 TB the corpus-postings aggregation dominates and running it
    once instead of three times is the whole cost model, while the
    checkpoint trades postings-sized executor storage (spilling to
    disk) - the same trade a materialized postings index makes.

    Returns (doc_id, score, rnk), score desc / doc_id asc; docs
    sharing no term with the query never enter the ranking."""
    if not terms:
        raise ValueError("terms must be non-empty")
    spark = df.sparkSession
    post_all = barrier(
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens(F.col(text_col))).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf")),
        eager=False,
    )
    stats = df.select(F.count(F.lit(1)).alias("__n"))
    dfreq = post_all.groupBy("term").agg(F.count(F.lit(1)).alias("__df"))
    idf = (F.col("__n") + F.lit(1)).cast("double") / (
        F.col("__df") + F.lit(1)
    ).cast("double")
    weighted = barrier(
        post_all.join(dfreq, "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("__w", F.col("tf").cast("double") * idf)
        .withColumn("__idf", idf),
        eager=False,
    )
    quant = lambda c: F.floor(c * F.lit(_QUANT) + F.lit(0.5)).cast("long")
    norms = weighted.groupBy("doc_id").agg(
        F.sqrt(
            F.sum(quant(F.col("__w") * F.col("__w"))).cast("double")
            / F.lit(_QUANT)
        ).alias("__dnorm")
    )
    dots = (
        weighted.filter(F.col("term").isin(list(terms)))
        .groupBy("doc_id")
        .agg(
            (
                F.sum(quant(F.col("__w") * F.col("__idf"))).cast("double")
                / F.lit(_QUANT)
            ).alias("__dot")
        )
    )
    tdf = spark.createDataFrame([(t,) for t in terms], "term string")
    qnorm = (
        tdf.join(dfreq, "term", "left")
        .crossJoin(F.broadcast(stats))
        .select(
            (
                (F.col("__n") + F.lit(1)).cast("double")
                / (F.coalesce(F.col("__df"), F.lit(0)) + F.lit(1)).cast("double")
            ).alias("__qidf")
        )
        .agg(
            F.sqrt(
                F.sum(quant(F.col("__qidf") * F.col("__qidf"))).cast("double")
                / F.lit(_QUANT)
            ).alias("__qnorm")
        )
    )
    scored = (
        dots.join(norms, "doc_id")
        .crossJoin(F.broadcast(qnorm))
        .select(
            "doc_id",
            (
                F.col("__dot") / (F.col("__dnorm") * F.col("__qnorm"))
            ).alias("score"),
        )
    )
    from pyspark.sql import Window

    cut = scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(
        top_n
    )
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return cut.withColumn("rnk", F.row_number().over(w)).select(
        "doc_id", "score", F.col("rnk").cast("int").alias("rnk")
    )
