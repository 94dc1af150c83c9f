"""Retrieval catalog queries: BM25 lexical ranking and the
lexical+dense hybrid (reciprocal-rank fusion) over the synthetic
corpus - both hash-exact against DuckDB oracles (quantized
contribution sums for BM25; RRF's two-term addition is deterministic
as-is). See operators/retrieval.py for the scale shapes and the
rational-vs-log idf engine-exactness note."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.retrieval import bm25_rank, rrf_fuse
from ..session import pin_utc
from ..tables import load_table
from .catalog import register
from .textops import _TOKENS_SQL

_TERMS = ("join", "hash", "vector", "scan")
_TOP_N = 20
_RRF_K = 60
_HYBRID_QID = 5
_HYBRID_TOP = 15

_TERMS_SQL = "(" + ", ".join(f"'{t}'" for t in _TERMS) + ")"

_BM25_CTES = f"""
toks AS (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(len(tk)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
  FROM toks
),
post AS (
  SELECT doc_id, term, count(*) AS tf, min(dl) AS dl
  FROM (SELECT doc_id, len(tk) AS dl, unnest(tk) AS term FROM toks)
  WHERE term IN {_TERMS_SQL}
  GROUP BY doc_id, term
),
dfreq AS (SELECT term, count(*) AS df FROM post GROUP BY term),
contrib AS (
  SELECT p.doc_id,
         CAST(floor(
           ((CAST(s.n - d.df AS DOUBLE) + 0.5) / (CAST(d.df AS DOUBLE) + 0.5))
           * (CAST(p.tf AS DOUBLE) * 2.2)
           / (CAST(p.tf AS DOUBLE)
              + 1.2 * (0.25 + 0.75 * CAST(p.dl AS DOUBLE) / s.avgdl))
           * 1000000000.0 + 0.5) AS BIGINT) AS q
  FROM post p, dfreq d, stats s WHERE d.term = p.term
),
bm25_scores AS (
  SELECT doc_id, CAST(sum(q) AS DOUBLE) / 1000000000.0 AS score
  FROM contrib GROUP BY doc_id
),
lex AS (
  SELECT doc_id, score, rnk FROM (
    SELECT doc_id, score,
           row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
    FROM bm25_scores) WHERE rnk <= {_TOP_N}
)"""


@register(
    "bm25_top_docs",
    oracle=f"""
WITH {_BM25_CTES}
SELECT doc_id, score, CAST(rnk AS INT) AS rnk FROM lex
""",
)
def bm25_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (operators/retrieval.bm25_rank) over a
    fixed 4-term query, top-20. Scale shape: the query-term filter
    precedes the tf aggregation (exchange carries docs x 4 rows, not
    vocabulary), corpus stats and per-term document frequencies are
    broadcast scalars, per-(doc, term) contributions quantize to
    1e-9 BIGINTs so the score is addition-order independent, and the
    global cut is a TakeOrdered heap, never a full sort. The oracle
    recomputes the whole thing relationally - rational idf
    (log-free) keeps it engine-exact; the classic log idf is the
    production option, Python-model-pinned in unit tests."""
    pin_utc(spark)
    d = load_table(spark, sf_dir, "documents")
    return bm25_rank(d, list(_TERMS), _TOP_N)


_DOT_SQL = "list_sum(list_transform(list_zip({a}, {b}), x -> x[1]*x[2]))"
_NORM_SQL = "sqrt(list_sum(list_transform({a}, x -> x*x)))"
_COS_SQL = (
    f"{_DOT_SQL.format(a='e.v', b='q.qv')} / "
    f"({_NORM_SQL.format(a='e.v')} * {_NORM_SQL.format(a='q.qv')})"
)


def _lex_shortlist_store(spark: SparkSession, sf_dir: str) -> str:
    """Persisted BM25 shortlist for the pinned query terms - the
    lexical face of the retrieval-shortlist discipline
    (plans/vectorops._retrieval_shortlist_store): the postings scan +
    ranking runs ONCE per corpus and every fusion/re-ranking consumer
    reads the persisted (doc_id, score, rnk) sliver. Quantized-sum
    BM25 scores and integer ranks round-trip parquet exactly, so
    consumers keep hash-matching the derivation oracle; the PRODUCER
    query (bm25_top_docs) stays fully inline as the derivation
    evidence. Staged build, single-rename publish
    (fsio.build_if_absent)."""
    import os

    from .. import fsio

    def build(staged: str) -> None:
        pin_utc(spark)
        d = load_table(spark, sf_dir, "documents")
        bm25_rank(d, list(_TERMS), _TOP_N).write.mode("overwrite").parquet(
            f"{staged}/lex"
        )

    return fsio.build_if_absent(
        spark, "lexshort",
        fsio.store_ident(
            os.path.join(sf_dir, "documents.parquet"),
            f"lexshort:v1:{','.join(_TERMS)}:{_TOP_N}",
        ),
        build,
    )


@register(
    "hybrid_rrf_top_docs",
    oracle=f"""
WITH {_BM25_CTES},
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = {_HYBRID_QID}),
sem AS (
  SELECT vec_id AS doc_id, rnk FROM (
    SELECT e.vec_id,
           row_number() OVER (ORDER BY {_COS_SQL} DESC, e.vec_id ASC) AS rnk
    FROM e, q WHERE e.vec_id <> {_HYBRID_QID}) WHERE rnk <= {_TOP_N}
),
fused AS (
  SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
         coalesce(1.0 / ({_RRF_K} + CAST(l.rnk AS DOUBLE)), 0.0)
           + coalesce(1.0 / ({_RRF_K} + CAST(s.rnk AS DOUBLE)), 0.0)
           AS rrf_score
  FROM lex l FULL OUTER JOIN sem s ON s.doc_id = l.doc_id
)
SELECT doc_id, rrf_score, CAST(rnk AS INT) AS rnk FROM (
  SELECT doc_id, rrf_score,
         row_number() OVER (ORDER BY rrf_score DESC, doc_id ASC) AS rnk
  FROM fused) WHERE rnk <= {_HYBRID_TOP}
""",
)
def hybrid_rrf_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 top-20 (lexical) fused with cosine
    kNN top-20 for the query document's embedding (dense) by
    reciprocal-rank fusion, final top-15. The fusion is a full-outer
    join of two bounded top-N slivers - at any corpus scale the
    expensive legs are the two retrievals, each already in its scale
    shape, and the fused score 1/(60+r_lex) + 1/(60+r_sem) is one
    deterministic IEEE addition per doc (hash-exact without
    quantization). Ties (same single-list rank on opposite sides)
    break by doc_id on both engines.

    r11: BOTH legs read persisted shortlists - the dense one from
    plans/vectorops._retrieval_shortlist_store (the query anchor
    vec_id=5 sits inside the store's anchor set, and the store's
    top-N covers _TOP_N) and the lexical one from
    _lex_shortlist_store - so the fusion is two sliver reads + one
    full-outer join; neither corpus is scanned. Scores/ranks
    round-trip parquet exactly, so the store detour is
    hash-invisible; the producers (bm25_top_docs,
    knn_bruteforce_top5) stay inline as the derivation evidence."""
    from ..operators.topk import top_k_per_group
    from .vectorops import _SHORT_N, _stored_shortlist

    if _TOP_N > _SHORT_N:
        raise ValueError(
            f"hybrid fusion needs top-{_TOP_N} but the shortlist store "
            f"persists top-{_SHORT_N}"
        )
    pin_utc(spark)
    lex = spark.read.schema("doc_id long, score double, rnk int").parquet(
        f"{_lex_shortlist_store(spark, sf_dir)}/lex"
    )
    sem = (
        _stored_shortlist(spark, sf_dir)
        .filter((F.col("qid") == _HYBRID_QID) & (F.col("rnk") <= _TOP_N))
        .select(F.col("neighbor_id").alias("doc_id"), "rnk")
    )
    fused = rrf_fuse(lex, sem, k=_RRF_K)
    ranked = top_k_per_group(
        fused, [], [F.col("rrf_score").desc(), F.col("doc_id").asc()],
        _HYBRID_TOP,
    )
    return ranked.select(
        "doc_id", "rrf_score", F.col("rnk").cast("int").alias("rnk")
    )


_CE_TOP = 10
_QTERMS_SQL = "[" + ", ".join(f"'{t}'" for t in _TERMS) + "]"


def _ce_oracle() -> str:
    from ..operators.rerank import lexical_interaction_score_sql

    score = lexical_interaction_score_sql(_QTERMS_SQL, "dt.tk")
    return f"""
WITH {_BM25_CTES},
dt AS (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents),
scored AS (
  SELECT l.doc_id, CAST(l.rnk AS INT) AS bm25_rnk, {score} AS q
  FROM lex l JOIN dt ON dt.doc_id = l.doc_id
)
SELECT doc_id, bm25_rnk,
       CAST(q AS DOUBLE) / 1000000000.0 AS ce_score, CAST(rnk AS INT) AS rnk
FROM (SELECT doc_id, bm25_rnk, q,
             row_number() OVER (ORDER BY q DESC, doc_id ASC) AS rnk
      FROM scored)
WHERE rnk <= {_CE_TOP}
"""


@register("crossencoder_rerank_top10", oracle=_ce_oracle())
def crossencoder_rerank_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-encoder re-rank seam (operators/rerank.py - r13 verdict
    next-round #3b, the retrieval stack's missing final stage): the
    persisted BM25 top-20 shortlist re-ordered by an Arrow-batched
    PAIR scorer that sees query and candidate together, final top-10
    with the first-stage rank kept alongside for rank-shift QA. The
    default scorer is the deterministic lexical-interaction model
    (position-weighted term hits, 1e-9-quantized int sums) so the
    whole stage hash-matches the DuckDB oracle; a model-backed
    cross-encoder swaps in through the same (queries, docs) -> int64
    contract without touching the plan. Scale shape: the candidate
    sliver (20 rows) broadcasts into the doc-text join, scoring
    touches O(queries x top-N) pairs never the corpus, and the final
    cut is a per-query window."""
    from ..operators.rerank import crossencoder_rerank

    pin_utc(spark)
    lex = spark.read.schema("doc_id long, score double, rnk int").parquet(
        f"{_lex_shortlist_store(spark, sf_dir)}/lex"
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cands = (
        docs.join(F.broadcast(lex), "doc_id")
        .select(
            F.lit(0).alias("qid"),
            "doc_id",
            F.lit(" ".join(_TERMS)).alias("query"),
            "text",
            F.col("rnk").cast("int").alias("bm25_rnk"),
        )
    )
    out = crossencoder_rerank(
        cands, "qid", "doc_id", "query", "text", _CE_TOP
    )
    return out.select("doc_id", "bm25_rnk", "ce_score", "rnk")


_TFIDF_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks),
post AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(tk) AS term FROM toks)
  GROUP BY doc_id, term
),
dfreq AS (SELECT term, count(*) AS df FROM post GROUP BY term),
weighted AS (
  SELECT p.doc_id, p.term,
         CAST(p.tf AS DOUBLE)
           * (CAST(s.n + 1 AS DOUBLE) / CAST(d.df + 1 AS DOUBLE)) AS w,
         CAST(s.n + 1 AS DOUBLE) / CAST(d.df + 1 AS DOUBLE) AS idf
  FROM post p, dfreq d, stats s WHERE d.term = p.term
),
norms AS (
  SELECT doc_id,
         sqrt(CAST(sum(CAST(floor(w * w * 1000000000.0 + 0.5) AS BIGINT))
                   AS DOUBLE) / 1000000000.0) AS dnorm
  FROM weighted GROUP BY doc_id
),
dots AS (
  SELECT doc_id,
         CAST(sum(CAST(floor(w * idf * 1000000000.0 + 0.5) AS BIGINT))
              AS DOUBLE) / 1000000000.0 AS dot
  FROM weighted WHERE term IN {_TERMS_SQL} GROUP BY doc_id
),
qn AS (
  SELECT sqrt(CAST(sum(CAST(floor(qidf * qidf * 1000000000.0 + 0.5) AS BIGINT))
                   AS DOUBLE) / 1000000000.0) AS qnorm
  FROM (
    SELECT CAST(s.n + 1 AS DOUBLE) / CAST(coalesce(d.df, 0) + 1 AS DOUBLE)
             AS qidf
    FROM (SELECT unnest({list(_TERMS)!r}) AS term) t
    LEFT JOIN dfreq d ON d.term = t.term, stats s)
)
SELECT doc_id, score, CAST(rnk AS INT) AS rnk FROM (
  SELECT dt.doc_id, dt.dot / (n.dnorm * q.qnorm) AS score,
         row_number() OVER (ORDER BY dt.dot / (n.dnorm * q.qnorm) DESC,
                            dt.doc_id ASC) AS rnk
  FROM dots dt JOIN norms n ON n.doc_id = dt.doc_id, qn q
) WHERE rnk <= {_TOP_N}
"""


@register("tfidf_top_docs", oracle=_TFIDF_ORACLE)
def tfidf_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tf-idf cosine retrieval (operators/retrieval.tfidf_rank) over
    the same 4-term query as bm25_top_docs, top-20 - the classic
    vector-space baseline beside BM25. Log-free rational idf
    ((N+1)/(df+1)), quantized (1e-9 BIGINT) sums for both the dot
    product and the squared-norm accumulations (addition-order
    independent), and sqrt is correctly rounded per IEEE-754 on
    both engines, so the ranking hash-matches the DuckDB oracle.
    Honest cost note vs BM25: the cosine's document norm needs the
    FULL postings table (every term, not just query terms) - one
    corpus-token-sized map-side-combining exchange; BM25 avoids it,
    which is why it is the cheaper production default."""
    pin_utc(spark)
    d = load_table(spark, sf_dir, "documents")
    from ..operators.retrieval import tfidf_rank

    return tfidf_rank(d, list(_TERMS), _TOP_N)
