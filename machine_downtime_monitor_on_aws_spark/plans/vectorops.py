"""Similarity-search queries over the ``embeddings`` table.

Dot products are left-to-right double folds - verified bit-identical
between Spark and DuckDB - so cosine scores, thresholds, and ranks
hash-match exactly. Sign-LSH hyperplanes are +/-1 literals derived
from md5 in Python (functions/vectors.py) and embedded into BOTH the
Spark plan and the oracle SQL.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fsio
from ..functions.vectors import hyperplanes
from ..operators.similarity import brute_force_topk, lsh_neardup_pairs
from ..session import barrier, barrier_scope, pin_utc
from ..tables import load_table
from .catalog import register

_DIM = 64
# = recommended_num_planes(n) at the bench corpus size (2000 vectors,
# ~64-member target buckets). Pinned - not derived at runtime -
# because the oracle embeds the plane literals at registration; the
# production path passes num_planes=None to derive it per corpus.
_NUM_PLANES = 5
_N_QUERIES = 10
_TOPK = 5
_NEARDUP_THRESHOLD = 0.3

_DOT_SQL = "list_sum(list_transform(list_zip({a}, {b}), x -> x[1]*x[2]))"
_NORM_SQL = "sqrt(list_sum(list_transform({a}, x -> x*x)))"


def _cos_sql(a: str, b: str) -> str:
    return (
        f"{_DOT_SQL.format(a=a, b=b)} / "
        f"({_NORM_SQL.format(a=a)} * {_NORM_SQL.format(a=b)})"
    )


def _planes_sql() -> str:
    """Hyperplane literals as a DuckDB list-of-lists."""
    rows = hyperplanes(_NUM_PLANES, _DIM)
    return (
        "["
        + ", ".join(
            "[" + ", ".join(f"{c}.0" for c in row) + "]" for row in rows
        )
        + "]"
    )


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_utc(spark)
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec"), "label"
    )


_KNN_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {_N_QUERIES}),
scored AS (
  SELECT q.qid, e.vec_id AS neighbor_id,
         {_cos_sql('q.qv', 'e.v')} AS cosine_sim
  FROM q JOIN e ON e.vec_id <> q.qid
), ranked AS (
  SELECT qid, neighbor_id, cosine_sim,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cosine_sim DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT qid, neighbor_id, cosine_sim, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= {_TOPK}
"""


@register("knn_bruteforce_top5", oracle=_KNN_ORACLE)
def knn_bruteforce_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: the exact ANN baseline. Queries
    (vec_id < 10) broadcast against the corpus; per-query top-k via
    window - no global sort, deterministic tie-breaks."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("vec").alias("qvec")
    )
    return brute_force_topk(
        e, q, _TOPK, dim=_DIM,
        parallelism=spark.sparkContext.defaultParallelism,
    )


_LSH_PAIR_SQL = f"""
WITH planes AS (SELECT {_planes_sql()} AS ps),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (
  SELECT vec_id, v,
         array_to_string(
           list_transform((SELECT ps FROM planes),
                          p -> CASE WHEN {_DOT_SQL.format(a='v', b='p')} >= 0
                               THEN '1' ELSE '0' END), '') AS bucket
  FROM e
)
SELECT a.vec_id AS id_a, c.vec_id AS id_b,
       {_cos_sql('a.v', 'c.v')} AS cosine_sim
FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
WHERE {_cos_sql('a.v', 'c.v')} >= {_NEARDUP_THRESHOLD}
"""


@register("lsh_neardup_embeddings", oracle=_LSH_PAIR_SQL)
def lsh_neardup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH near-dup: hyperplane-sign buckets -> intra-bucket
    exact cosine >= 0.3. The scale path: bucket equi-join instead of
    the quadratic cross product (approximate recall by design).

    num_planes is pinned here (not derived from the corpus) because
    the DuckDB oracle embeds the plane literals at registration time;
    production callers pass ``num_planes=None`` to scale buckets with
    corpus size, plus ``max_bucket_size`` to bound in-bucket quadratic
    work (operators/similarity.py:recommended_num_planes)."""
    e = _emb(spark, sf_dir)
    return lsh_neardup_pairs(
        e, _NEARDUP_THRESHOLD, _NUM_PLANES, _DIM,
        parallelism=spark.sparkContext.defaultParallelism,
    )


@register(
    "embedding_dup_clusters",
    oracle=f"""
WITH RECURSIVE cand AS ({_LSH_PAIR_SQL}),
edges AS (
  SELECT id_a AS u, id_b AS v FROM cand
  UNION ALL
  SELECT id_b AS u, id_a AS v FROM cand
),
walk(node, reach) AS (
  SELECT DISTINCT u, u FROM edges
  UNION
  SELECT e.u, w.reach FROM edges e JOIN walk w ON w.node = e.v
)
SELECT node AS vec_id, min(reach) AS component FROM walk GROUP BY node
""",
)
def embedding_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup clusters: connected components over
    the sign-LSH pair graph (the same operators/dedup
    connected_components that clusters text near-dups - pair source
    swapped for the vector path). A~B~C chains collapse to one
    cluster even when cosine(A,C) fell below threshold."""
    from ..operators.dedup import connected_components

    e = _emb(spark, sf_dir)
    pairs = lsh_neardup_pairs(
        e, _NEARDUP_THRESHOLD, _NUM_PLANES, _DIM,
        parallelism=spark.sparkContext.defaultParallelism,
    )
    return connected_components(pairs, src="id_a", dst="id_b").select(
        F.col("doc_id").alias("vec_id"), "component"
    )


@register(
    "label_centroid_sums",
    oracle=f"""
SELECT label, CAST(j AS INT) AS dim,
       CAST(sum(CAST(floor(v[j] * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
         / 1000000000.0 AS component_sum,
       count(*) AS n_vectors
FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
     generate_series(1, {_DIM}) AS t(j)
GROUP BY label, dim
""",
)
def label_centroid_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid accumulators: components quantized to 1e-9
    by EXPLICIT double arithmetic (floor(v*1e9 + 0.5)) and summed as
    bigints - associative, partition-order-independent, and
    engine-identical. A double->DECIMAL cast is NOT portable: its
    rounding mode is engine-defined (Spark HALF_UP vs DuckDB
    HALF_EVEN), and binary doubles have exact decimal tails, so ties
    genuinely occur (one cell at sf0.1 flipped 1e-9 between engines).
    posexplode turns the vector into (dim, value) rows - one shuffle
    on (label, dim)."""
    e = _emb(spark, sf_dir)
    q = F.floor(F.col("component") * 1e9 + F.lit(0.5)).cast("long")
    exploded = e.select(
        "label", F.posexplode("vec").alias("pos", "component")
    ).select(
        "label",
        (F.col("pos") + 1).cast("int").alias("dim"),
        q.alias("comp_q"),
    )
    return exploded.groupBy("label", "dim").agg(
        (F.sum("comp_q").cast("double") / F.lit(1e9)).alias("component_sum"),
        F.count(F.lit(1)).alias("n_vectors"),
    )


@register(
    "embedding_norm_stats",
    oracle=f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT label, count(*) AS n_vectors,
       CAST(sum(CAST(floor({_NORM_SQL.format(a='v')} * 1000000000.0 + 0.5)
                     AS BIGINT)) AS DOUBLE) / 1000000000.0 AS norm_sum
FROM e GROUP BY label
""",
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm accumulators: norms quantized to 1e-9 by
    EXPLICIT double arithmetic (floor(norm*1e9 + 0.5)) and summed as
    bigints - the same scheme as label_centroid_sums. A
    double->DECIMAL cast is NOT portable: its rounding mode is
    engine-defined (Spark HALF_UP vs DuckDB HALF_EVEN) and a
    decimal-tail tie flips the hash by 1e-9."""
    from ..functions.vectors import l2_norm

    e = _emb(spark, sf_dir)
    q = F.floor(l2_norm("vec", _DIM) * F.lit(1e9) + F.lit(0.5)).cast("long")
    return e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        (F.sum(q).cast("double") / F.lit(1e9)).alias("norm_sum"),
    )


_DRIFT_SMD = 0.5

_DRIFT_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ex AS (SELECT vec_id, unnest(range(0, len(v))) AS dim, v FROM e),
vals AS (
  SELECT vec_id % 2 AS grp, CAST(dim AS INT) AS dim, v[dim + 1] AS x FROM ex
),
acc AS (
  SELECT grp, dim, count(*) AS n,
         CAST(sum(CAST(floor(x * 1000000000.0 + 0.5) AS BIGINT))
              AS BIGINT) AS sum_q,
         CAST(sum(CAST(floor(x * x * 1000000000.0 + 0.5) AS BIGINT))
              AS BIGINT) AS sumsq_q
  FROM vals GROUP BY grp, dim
),
m AS (
  SELECT r.dim, r.n AS n_ref, c.n AS n_new,
         (CAST(r.sum_q AS DOUBLE) / 1000000000.0)
           / CAST(r.n AS DOUBLE) AS mean_ref,
         (CAST(c.sum_q AS DOUBLE) / 1000000000.0)
           / CAST(c.n AS DOUBLE) AS mean_new,
         greatest((CAST(r.sumsq_q AS DOUBLE) / 1000000000.0)
                    / CAST(r.n AS DOUBLE)
                    - ((CAST(r.sum_q AS DOUBLE) / 1000000000.0)
                       / CAST(r.n AS DOUBLE))
                      * ((CAST(r.sum_q AS DOUBLE) / 1000000000.0)
                         / CAST(r.n AS DOUBLE)),
                  0.0) AS var_ref
  FROM (SELECT * FROM acc WHERE grp = 0) r
  JOIN (SELECT * FROM acc WHERE grp = 1) c ON c.dim = r.dim
),
s AS (
  SELECT dim, n_ref, n_new, mean_ref, mean_new,
         abs(mean_new - mean_ref) / sqrt(var_ref + 1e-12) AS smd
  FROM m
)
SELECT dim, n_ref, n_new, mean_ref, mean_new, smd,
       smd > {_DRIFT_SMD} AS drifted
FROM s
"""


@register("embedding_drift_monitor", oracle=_DRIFT_ORACLE)
def embedding_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-population drift report (operators/drift.py - r13
    verdict next-round #3c, the retrain signal the IVF skew gate
    cannot see): per-dimension standardized mean difference between
    a reference population and the current one - here the
    deterministic vec_id-parity split of the corpus, so the oracle
    re-derives both sides; production compares the stats persisted
    at index-train time (write_population_stats beside the index)
    against each arriving batch. Scale shape: one posexplode +
    64-group quantized-BIGINT aggregation per side (map-side combine
    reduces every partition to dim rows before the exchange), the
    join is dim x dim, and the gate decision
    (operators/drift.population_drifted) pulls one bounded counter.
    Every double derives from integer accumulators by a fixed
    expression order - hash-exact across engines."""
    from ..operators.drift import (
        embedding_drift_stats,
        embedding_population_stats,
    )

    e = _emb(spark, sf_dir)
    ref = embedding_population_stats(
        e.filter(F.col("vec_id") % 2 == 0), "vec", _DIM
    )
    cur = embedding_population_stats(
        e.filter(F.col("vec_id") % 2 == 1), "vec", _DIM
    )
    return embedding_drift_stats(ref, cur, smd_threshold=_DRIFT_SMD)


_N_CENTROIDS = 16
_N_PROBES = 4


_IVF_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {_N_CENTROIDS}),
assign AS (
  SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.v, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cos_sql('e.v', 'c.cv')} DESC, c.cid) AS rn
    FROM e, cents c) WHERE rn = 1
),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {_N_QUERIES}),
qprobe AS (
  SELECT qid, qv, cid FROM (
    SELECT q.qid, q.qv, c.cid,
           row_number() OVER (PARTITION BY q.qid
                              ORDER BY {_cos_sql('q.qv', 'c.cv')} DESC, c.cid) AS rn
    FROM q, cents c) WHERE rn <= {_N_PROBES}
),
scored AS (
  SELECT p.qid, a.vec_id AS neighbor_id, {_cos_sql('p.qv', 'a.v')} AS cosine_sim
  FROM qprobe p JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.qid
),
ranked AS (
  SELECT qid, neighbor_id, cosine_sim,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cosine_sim DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT qid, neighbor_id, cosine_sim, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= {_TOPK}
"""


# RETIRED from the catalog (r16 swap, funds ivfbin_rerank_top5):
# the inline IVF demo's full semantics live VERBATIM inside
# ivf_recall_at5's oracle (`iv AS ({_IVF_ORACLE})`) and this builder
# still runs live inside that registered query every round - the
# probe semantics stay machine-checked. The persisted production
# twins (ivfpq_rerank_top5, ivfbin_rerank_top5) carry the
# index-lifecycle evidence, exactly the r9 ivfpq_knn_top5 precedent.
def ivf_knn_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: deterministic centroids (first C vectors),
    inverted lists by nearest centroid, queries probe their top-P
    lists only. The 100 TB shape: centroid table broadcasts, the
    corpus partitions by list id, a query touches P/C of the data.
    Approximate by construction (recall < 1 vs brute force); the
    oracle reproduces the same algorithm exactly."""
    from ..functions.vectors import dot, l2_norm
    from ..operators.topk import top_k_per_group

    e = _emb(spark, sf_dir).select("vec_id", "vec")
    cents = e.filter(F.col("vec_id") < _N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("vec").alias("cv")
    )
    withn = e.withColumn("__n", l2_norm("vec", _DIM))
    centsn = cents.withColumn("__cn", l2_norm("cv", _DIM))
    sim_to_cent = dot("vec", "cv", _DIM) / (F.col("__n") * F.col("__cn"))

    assign = top_k_per_group(
        withn.crossJoin(F.broadcast(centsn)).withColumn("__sim", sim_to_cent),
        ["vec_id"],
        [F.col("__sim").desc(), F.col("cid").asc()],
        1,
    ).select("vec_id", "vec", F.col("__n"), "cid")

    q = withn.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("vec").alias("qv"), F.col("__n").alias("__qn")
    )
    qsim = dot("qv", "cv", _DIM) / (F.col("__qn") * F.col("__cn"))
    qprobe = top_k_per_group(
        q.crossJoin(F.broadcast(centsn)).withColumn("__sim", qsim),
        ["qid"],
        [F.col("__sim").desc(), F.col("cid").asc()],
        _N_PROBES,
    ).select("qid", "qv", F.col("__qn"), "cid")

    pair_sim = dot("qv", "vec", _DIM) / (F.col("__qn") * F.col("__n"))
    scored = (
        qprobe.join(assign, "cid")
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn("cosine_sim", pair_sim)
    )
    ranked = top_k_per_group(
        scored,
        ["qid"],
        [F.col("cosine_sim").desc(), F.col("vec_id").asc()],
        _TOPK,
    )
    return ranked.select(
        "qid",
        F.col("vec_id").alias("neighbor_id"),
        "cosine_sim",
        F.col("rnk").cast("int").alias("rnk"),
    )


@register("knn_pandas_udf", oracle=None)
def knn_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized ANN scoring: the same brute-force top-k with
    the dot products computed by a numpy-backed ``mapInPandas`` over
    the corpus (queries broadcast into the closure as a dense
    matrix). This is the high-throughput path when exactness of the
    float fold doesn't matter - BLAS-blocked summation differs from
    the left-fold in final ulps, hence rows-only check (the exact
    twin knn_bruteforce_top5 / ivf_knn_top5 carry the oracles)."""
    import numpy as np
    import pandas as pd

    pin_utc(spark)
    e = load_table(spark, sf_dir, "embeddings")
    qrows = (
        e.filter(F.col("vec_id") < _N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )
    qids = np.array([r.vec_id for r in qrows])
    qmat = np.array([r.embedding for r in qrows], dtype=np.float64)
    qnorm = np.linalg.norm(qmat, axis=1)

    def score(batches):
        for pdf in batches:
            mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            norms = np.linalg.norm(mat, axis=1)
            sims = (mat @ qmat.T) / np.outer(norms, qnorm)
            n, nq = sims.shape
            yield pd.DataFrame(
                {
                    "qid": np.repeat(qids, n),
                    "neighbor_id": np.tile(pdf["vec_id"].to_numpy(), nq),
                    "cosine_sim": sims.T.reshape(-1),
                }
            )

    scored = e.select("vec_id", "embedding").mapInPandas(
        score, "qid long, neighbor_id long, cosine_sim double"
    )
    from ..operators.topk import top_k_per_group

    ranked = top_k_per_group(
        scored.filter(F.col("neighbor_id") != F.col("qid")),
        ["qid"],
        [F.col("cosine_sim").desc(), F.col("neighbor_id").asc()],
        _TOPK,
    )
    return ranked.select("qid", "neighbor_id", "cosine_sim", F.col("rnk").cast("int").alias("rnk"))


@register(
    "ivf_recall_at5",
    oracle=f"""
WITH bf AS ({_KNN_ORACLE}),
iv AS ({_IVF_ORACLE})
SELECT bf.qid,
       CAST(coalesce(sum(CASE WHEN iv.neighbor_id IS NOT NULL
                              THEN 1 ELSE 0 END), 0) AS INT) AS n_hits,
       CAST(coalesce(sum(CASE WHEN iv.neighbor_id IS NOT NULL
                              THEN 1 ELSE 0 END), 0) AS DOUBLE)
         / {_TOPK} AS recall_at_5
FROM bf LEFT JOIN iv
  ON iv.qid = bf.qid AND iv.neighbor_id = bf.neighbor_id
GROUP BY bf.qid
""",
)
def ivf_recall_at5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF index vs the exact brute-force baseline -
    the quality metric a deployed ANN index is monitored on. Count of
    true top-5 neighbors the probed IVF search also returned, per
    query; integer hits are oracle-exact, and the fractional recall is
    a single IEEE division (hits/5) so it hash-matches too. At scale
    this runs on a sampled query set: cost is one brute-force pass
    over the sample, never the corpus squared.

    r12: the exact baseline reads the persisted retrieval-shortlist
    store's rnk<=5 cut - the same ground truth ivfpq_recall_at5
    serves from (r11 verdict #2): one recall monitor deployment has
    exactly ONE persisted ground-truth shortlist, and both the
    quantized and un-quantized monitors compare against it; only the
    IVF leg under measurement runs live. Same oracle, hash-exact
    (the store's cut is pinned equal to the inline producer)."""
    bf = (
        _stored_shortlist(spark, sf_dir)
        .filter(F.col("rnk") <= _TOPK)
        .select("qid", "neighbor_id")
    )
    iv = ivf_knn_top5(spark, sf_dir).select(
        F.col("qid").alias("__iq"),
        F.col("neighbor_id").alias("__in"),
        F.lit(1).alias("__hit"),
    )
    joined = bf.join(
        iv,
        (bf["qid"] == iv["__iq"]) & (bf["neighbor_id"] == iv["__in"]),
        "left",
    )
    hits = F.coalesce(F.sum("__hit"), F.lit(0))
    return joined.groupBy("qid").agg(
        hits.cast("int").alias("n_hits"),
        (hits.cast("double") / F.lit(_TOPK)).alias("recall_at_5"),
    )


# RETIRED from the catalog (r15 swap, r14 verdict next-round #1a):
# the raw sign-LSH bucket-id dump. Its evidence stays live twice
# over - lsh_neardup_embeddings derives these exact buckets inside
# its oracle-paired pair stage every round, and the new
# signq_rerank_top5 is the production form of "sign bits as a
# surface" (packed words + Hamming popcount + exact re-rank instead
# of a bit-string dump). Builder stays importable;
# tests/test_plans.py::test_r15_catalog_swap_executed pins the swap.
def lsh_bucket_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucket id per vector - the public
    operators/similarity.lsh_buckets surface as its own catalog query
    (r3 verdict item #6: it was only reachable inside
    lsh_neardup_embeddings). The bit-string bucket is engine-portable,
    so the assignment itself is oracle-exact - useful on its own for
    bucket-size diagnostics before running the pair stage."""
    from ..operators.similarity import lsh_buckets

    e = _emb(spark, sf_dir)
    return lsh_buckets(e, _NUM_PLANES, _DIM).select("vec_id", "bucket")


_PQ_M = 8
_PQ_K = 16
_PQ_SUB = _DIM // _PQ_M


def _sq_l2_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        "x -> (x[1]-x[2])*(x[1]-x[2])))"
    )


_PQ_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {_PQ_K}),
sd AS (
  SELECT e.vec_id, s.j, c.cid,
         {_sq_l2_sql(f'list_slice(e.v, s.j*{_PQ_SUB}+1, s.j*{_PQ_SUB}+{_PQ_SUB})',
                     f'list_slice(c.cv, s.j*{_PQ_SUB}+1, s.j*{_PQ_SUB}+{_PQ_SUB})')} AS d
  FROM e, generate_series(0, {_PQ_M - 1}) s(j), cent c
),
codes AS (
  SELECT vec_id, j, cid FROM (
    SELECT vec_id, j, cid,
           row_number() OVER (PARTITION BY vec_id, j
                              ORDER BY d ASC, cid ASC) AS rn
    FROM sd) WHERE rn = 1
),
recon AS (
  SELECT k.vec_id,
         flatten(list(list_slice(c.cv, k.j*{_PQ_SUB}+1, k.j*{_PQ_SUB}+{_PQ_SUB})
                      ORDER BY k.j)) AS rv
  FROM codes k JOIN cent c ON c.cid = k.cid
  GROUP BY k.vec_id
),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {_N_QUERIES}),
scored AS (
  SELECT q.qid, r.vec_id AS neighbor_id,
         {_sq_l2_sql('q.qv', 'r.rv')} AS approx_l2
  FROM q JOIN recon r ON r.vec_id <> q.qid
),
ranked AS (
  SELECT qid, neighbor_id, approx_l2,
         row_number() OVER (PARTITION BY qid
                            ORDER BY approx_l2 ASC, neighbor_id ASC) AS rnk
  FROM scored
)
SELECT qid, neighbor_id, approx_l2, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= {_TOPK}
"""


# RETIRED from the catalog (r9 swap, r8 verdict next-round #1): the
# literal-codebook exactness demo carried K*dim doubles in-plan and
# its production twin pq_lut_knn_top5 (broadcast-codebook encode +
# mapInPandas LUT, plan O(1) in K) is oracle-paired and driver-green
# (CORRECTNESS_r08). The builder and its oracle stay importable as
# the machine-checked derivation evidence (driver rows r5-r8) and for
# ad-hoc exactness replays; tests/test_plans.py pins the swap.
def pq_knn_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN (operators/pq.py): {m} one-byte codes
    replace each 64-dim float64 vector (64x compression), queries
    score against blockwise-centroid reconstructions (= asymmetric
    distance computation), top-5 by approximate L2. Codebooks here
    are the deterministic first-K vectors so the DuckDB oracle
    re-derives them relationally and the WHOLE pipeline - per-
    subspace argmin encode, reconstruction, ADC ranks - hash-matches
    bit-for-bit (left-fold distances, smallest-centroid tie-break);
    production passes k-means codebooks through the same functions.
    Scale shape: encoding is per-row expression work against literal
    codebooks (no join), the corpus never shuffles, and the scored
    representation is 64x smaller than raw vectors - the property
    that lets an ADC scan live where raw vectors cannot (and
    composes with the IVF index: codes inside inverted lists)."""
    from ..operators.pq import pq_encode_reconstruct, pq_topk

    e = _emb(spark, sf_dir)
    cents = [
        list(r.vec)
        for r in e.filter(F.col("vec_id") < _PQ_K)
        .select("vec_id", "vec")
        .orderBy("vec_id")
        .collect()
    ]
    enc = pq_encode_reconstruct(e, cents, _DIM, _PQ_M)
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("vec").alias("qv")
    )
    return pq_topk(q, enc, _TOPK)


pq_knn_top5.__doc__ = pq_knn_top5.__doc__.format(m=_PQ_M)


_SUB_SQL = "list_slice({v}, {j}*" + str(_PQ_SUB) + "+1, {j}*" + str(_PQ_SUB) + f"+{_PQ_SUB})"

# shared by _IVFPQ_ORACLE (ADC ranks are the answer) and
# _IVFPQ_RERANK_ORACLE (ADC ranks are the stage-1 shortlist)
_IVFPQ_CTE_PREFIX = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {_N_CENTROIDS}),
assign AS (
  SELECT vec_id, v, cid, cv FROM (
    SELECT e.vec_id, e.v, c.cid, c.cv,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cos_sql('e.v', 'c.cv')} DESC, c.cid) AS rn
    FROM e, cents c) WHERE rn = 1
),
resid AS (
  SELECT vec_id, cid,
         list_transform(list_zip(v, cv), x -> x[1] - x[2]) AS r
  FROM assign
),
book AS (SELECT vec_id AS bid, r AS bv FROM resid WHERE vec_id < {_PQ_K}),
sd AS (
  SELECT resid.vec_id, s.j, b.bid,
         {_sq_l2_sql(_SUB_SQL.format(v='resid.r', j='s.j'),
                     _SUB_SQL.format(v='b.bv', j='s.j'))} AS d
  FROM resid, generate_series(0, {_PQ_M - 1}) s(j), book b
),
codes AS (
  SELECT vec_id, j, bid FROM (
    SELECT vec_id, j, bid,
           row_number() OVER (PARTITION BY vec_id, j
                              ORDER BY d ASC, bid ASC) AS rn
    FROM sd) WHERE rn = 1
),
recon AS (
  SELECT k.vec_id,
         flatten(list({_SUB_SQL.format(v='b.bv', j='k.j')} ORDER BY k.j)) AS rv
  FROM codes k JOIN book b ON b.bid = k.bid
  GROUP BY k.vec_id
),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {_N_QUERIES}),
qprobe AS (
  SELECT qid, cid,
         list_transform(list_zip(qv, cv), x -> x[1] - x[2]) AS qr
  FROM (
    SELECT q.qid, q.qv, c.cid, c.cv,
           row_number() OVER (PARTITION BY q.qid
                              ORDER BY {_cos_sql('q.qv', 'c.cv')} DESC, c.cid) AS rn
    FROM q, cents c) WHERE rn <= {_N_PROBES}
),
scored AS (
  SELECT p.qid, a.vec_id AS neighbor_id,
         {_sq_l2_sql('p.qr', 'rec.rv')} AS approx_l2
  FROM qprobe p
  JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.qid
  JOIN recon rec ON rec.vec_id = a.vec_id
),
ranked AS (
  SELECT qid, neighbor_id, approx_l2,
         row_number() OVER (PARTITION BY qid
                            ORDER BY approx_l2 ASC, neighbor_id ASC) AS rnk
  FROM scored
)"""

_IVFPQ_ORACLE = (
    _IVFPQ_CTE_PREFIX
    + f"""
SELECT qid, neighbor_id, approx_l2, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= {_TOPK}
"""
)


# RETIRED from the catalog (r9 swap): production twin
# ivfpq_rerank_top5 (persisted index, codes-only stage-1 scan,
# broadcast re-rank) is oracle-paired and driver-green
# (CORRECTNESS_r08); the literal-codebook demo's exactness evidence
# stands in the r6-r8 driver rows. Builder + oracle stay importable.
def ivfpq_knn_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-ADC with RESIDUAL encoding (operators/ivf.ivfpq_knn - r6
    verdict next-round #2, promoted to a first-class oracle-paired
    catalog query): coarse inverted lists prune the probe to 4/16 of
    the corpus, product-quantization codes over the residuals
    (v - coarse centroid, the standard Jegou formulation - residuals
    concentrate near the origin so the same code budget quantizes
    them finer than raw vectors) compress what the probe scans by
    64x, and candidates rank by the asymmetric distance
    sqL2(q - c, recon). Codebooks are the deterministic first-16
    RESIDUALS so the DuckDB oracle re-derives the entire pipeline -
    coarse assign, residuals, per-subspace argmin codes,
    reconstruction, probe, ADC ranks - and the result hash-matches
    bit-for-bit. Production swaps in kmeans-trained books
    (operators/kmeans.train_pq_codebooks over the residual frame)
    through the same functions."""
    from ..functions.vectors import l2_norm
    from ..operators.ivf import _nearest, ivfpq_knn

    e = _emb(spark, sf_dir).select("vec_id", "vec")
    cents = e.filter(F.col("vec_id") < _N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("vec").alias("cv")
    )
    # codebook = first-16 residuals (collected once, embedded as
    # plan literals - same scheme the pq_knn_top5 oracle proves)
    seed = e.filter(F.col("vec_id") < _PQ_K).withColumn(
        "__n", l2_norm("vec", _DIM)
    )
    seed_assign = _nearest(
        seed, cents.withColumn("__cn", l2_norm("cv", _DIM)),
        "vec", "__n", ["vec_id"], _DIM, 1,
    ).select("vec_id", F.zip_with("vec", "cv", lambda x, y: x - y).alias("r"))
    books = [list(r.r) for r in seed_assign.orderBy("vec_id").collect()]
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("vec").alias("qv")
    )
    return ivfpq_knn(
        e, q, cents, books, _DIM, _PQ_M, _N_PROBES, _TOPK, residual=True
    )


def _ivfpq_books(e: DataFrame) -> tuple[DataFrame, list[list[float]]]:
    """(coarse centroids DF, first-16-residual codebook) - the
    deterministic derivation ivfpq_knn_top5's oracle proves, shared
    by the persisted-index twin."""
    from ..functions.vectors import l2_norm
    from ..operators.ivf import _nearest

    cents = e.filter(F.col("vec_id") < _N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("vec").alias("cv")
    )
    seed = e.filter(F.col("vec_id") < _PQ_K).withColumn("__n", l2_norm("vec", _DIM))
    seed_assign = _nearest(
        seed, cents.withColumn("__cn", l2_norm("cv", _DIM)),
        "vec", "__n", ["vec_id"], _DIM, 1,
    ).select("vec_id", F.zip_with("vec", "cv", lambda x, y: x - y).alias("r"))
    books = [list(r.r) for r in seed_assign.orderBy("vec_id").collect()]
    return cents, books


_RERANK_SHORTLIST = 20

_IVFPQ_RERANK_ORACLE = (
    _IVFPQ_CTE_PREFIX
    + f""",
shortlist AS (
  SELECT qid, neighbor_id FROM ranked WHERE rnk <= {_RERANK_SHORTLIST}
),
exact AS (
  SELECT s.qid, s.neighbor_id,
         {_cos_sql('q.qv', 'e.v')} AS cosine_sim
  FROM shortlist s
  JOIN q ON q.qid = s.qid
  JOIN e ON e.vec_id = s.neighbor_id
),
rr AS (
  SELECT qid, neighbor_id, cosine_sim,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cosine_sim DESC, neighbor_id ASC) AS rnk
  FROM exact
)
SELECT qid, neighbor_id, cosine_sim, CAST(rnk AS INT) AS rnk
FROM rr WHERE rnk <= {_TOPK}
"""
)


@register("ivfpq_rerank_top5", oracle=_IVFPQ_RERANK_ORACLE)
def ivfpq_rerank_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION IVF-ADC shape, driver-verified end to end (r7
    verdict next-round #1): build_ivfpq_index persists coarse
    centroids + residual PQ codes partitioned by list_id (params +
    codebook digest stamped), search_ivfpq_index_rerank then (stage
    1) ADC-shortlists {sl} candidates per query over the probed
    lists - a partition-pruned scan that reads ONLY (vec_id,
    pq_code, list_id), plan-asserted in tests/test_plans.py - and
    (stage 2) re-ranks the shortlist by EXACT cosine against the raw
    vector source, recovering the recall quantization lost while the
    exact math runs on queries x {sl} rows. Unlike ivfpq_knn_top5
    (the inline exactness demo), THIS query exercises the persisted
    index lifecycle a 100 TB corpus actually serves: the index is
    built ONCE per corpus (build-if-absent, keyed by the corpus
    file's identity like neardup_pagerank_from_store's pair store)
    and warm calls re-open it with load_ivfpq_codebooks - no
    out-of-band codebook, no rebuild; the serve path is the whole
    query. Same deterministic first-16-residual codebooks, so the
    DuckDB oracle re-derives build + probe + shortlist + re-rank
    and the result hash-matches bit-for-bit."""
    from ..operators.ivf import (
        build_ivfpq_index,
        load_ivfpq_codebooks,
        search_ivfpq_index_rerank,
    )

    e = _emb(spark, sf_dir).select("vec_id", "vec")
    books = None

    def build(staged: str) -> None:
        nonlocal books
        cents, books = _ivfpq_books(e)
        build_ivfpq_index(
            e, staged, _N_CENTROIDS, _DIM, _PQ_M, books,
            centroids=cents, residual=True,
        )

    path = fsio.build_if_absent(
        spark, "ivfpq_idx",
        fsio.store_ident(
            os.path.join(sf_dir, "embeddings.parquet"),
            f"ivfpq:v2:{_N_CENTROIDS}:{_PQ_M}:{_PQ_K}",
        ),
        build, ok_name="params.json",
    )
    if books is None:
        books = load_ivfpq_codebooks(spark, path)
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("vec").alias("qvec")
    )
    return search_ivfpq_index_rerank(
        spark, path, q, _TOPK, _RERANK_SHORTLIST, _N_PROBES,
        _DIM, _PQ_M, books, vector_source=e,
        query_vec_col="qvec",
    )


ivfpq_rerank_top5.__doc__ = ivfpq_rerank_top5.__doc__.format(
    sl=_RERANK_SHORTLIST
)


_LUT_K = 256
_LUT_M = 16
_LUT_SUB = _DIM // _LUT_M
_LUT_SLICE = (
    "list_slice({v}, {j}*" + str(_LUT_SUB) + "+1, {j}*" + str(_LUT_SUB)
    + f"+{_LUT_SUB})"
)

_LUT_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
book AS (SELECT vec_id AS bid, v AS bv FROM e WHERE vec_id < {_LUT_K}),
sd AS (
  SELECT e.vec_id, s.j, b.bid,
         {_sq_l2_sql(_LUT_SLICE.format(v='e.v', j='s.j'),
                     _LUT_SLICE.format(v='b.bv', j='s.j'))} AS d
  FROM e, generate_series(0, {_LUT_M - 1}) s(j), book b
),
codes AS (
  SELECT vec_id, j, bid FROM (
    SELECT vec_id, j, bid,
           row_number() OVER (PARTITION BY vec_id, j
                              ORDER BY d ASC, bid ASC) AS rn
    FROM sd) WHERE rn = 1
),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {_N_QUERIES}),
qd AS (
  SELECT q.qid, c.vec_id AS neighbor_id, c.j,
         {_sq_l2_sql(_LUT_SLICE.format(v='q.qv', j='c.j'),
                     _LUT_SLICE.format(v='b.bv', j='c.j'))} AS d
  FROM q
  JOIN codes c ON c.vec_id <> q.qid
  JOIN book b ON b.bid = c.bid
),
scored AS (
  SELECT qid, neighbor_id, list_sum(list(d ORDER BY j)) AS approx_l2
  FROM qd GROUP BY qid, neighbor_id
),
ranked AS (
  SELECT qid, neighbor_id, approx_l2,
         row_number() OVER (PARTITION BY qid
                            ORDER BY approx_l2 ASC, neighbor_id ASC) AS rnk
  FROM scored
)
SELECT qid, neighbor_id, approx_l2, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= {_TOPK}
"""


@register("pq_lut_knn_top5", oracle=_LUT_ORACLE)
def pq_lut_knn_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LARGE-K production PQ path, driver-verified (r7 verdict
    next-round #1): K={k} standard-size codebooks would embed
    K*dim = {kd} doubles as plan literals on the demo path - far past
    the JIT-bytecode cliff - so encoding runs pq_encode_arrow (the
    codebook rides the task closure; one mapInPandas pass, zero
    shuffles, plan size O(1) in K, bit-identical to the relational
    pq_encode_join whose struct-min argmin plans a SortAggregate
    over the N*m*K candidate fan-out - the Arrow twin skips that
    sort entirely) and scoring runs pq_topk_lut (per query an m x K
    lookup table computed once in numpy and shipped in the
    mapInPandas closure; scoring a stored code is m table lookups +
    a left-fold sum - O(m) per candidate, no codebook anywhere in
    the plan). Every float fold is an explicit left-to-right
    association, so the DuckDB oracle mirrors it term-for-term:
    per-subspace list_sum partials, ordered list(d ORDER BY j),
    list_sum over the m partials - hash-exact at K={k}."""
    from ..operators.pq import pq_encode_arrow, pq_topk_lut

    e = _emb(spark, sf_dir).select("vec_id", "vec")
    cents = [
        list(r.vec)
        for r in e.filter(F.col("vec_id") < _LUT_K).orderBy("vec_id").collect()
    ]
    codes = pq_encode_arrow(e, cents, _DIM, _LUT_M)
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("vec").alias("qv")
    )
    return pq_topk_lut(q, codes, cents, _DIM, _LUT_M, _TOPK)


pq_lut_knn_top5.__doc__ = pq_lut_knn_top5.__doc__.format(
    k=_LUT_K, kd=_LUT_K * _DIM
)


@register(
    "hard_negatives_top3",
    oracle=f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv FROM e
      WHERE vec_id < {_N_QUERIES}),
scored AS (
  SELECT q.qid, e.vec_id AS neighbor_id, e.label AS neighbor_label,
         {_cos_sql('q.qv', 'e.v')} AS cosine_sim
  FROM q JOIN e ON e.vec_id <> q.qid AND e.label <> q.qlabel
), ranked AS (
  SELECT qid, neighbor_id, neighbor_label, cosine_sim,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cosine_sim DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT qid, neighbor_id, neighbor_label, cosine_sim,
       CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= 3
""",
)
def hard_negatives_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (operators/similarity.hard_negative_topk):
    per anchor, the 3 most-similar vectors with a DIFFERENT label -
    the contrastive-training curriculum a metric-learning pipeline
    mines from its own corpus. Anchors broadcast; the label
    predicate lands before the per-anchor ranking window, so
    same-label rows never enter the sort. Exact-fold cosine ->
    hash-exact oracle; the scale path swaps the full scan for an
    IVF/LSH candidate set with the same ranking contract.

    r11: served from the persisted retrieval-shortlist store's
    ``hard_neg`` table (mined once per corpus by the same operator -
    its own table, NOT a cut of the unfiltered shortlist, because the
    label predicate precedes the ranking window). Same oracle,
    hash-exact; a training run re-reads its negative curriculum
    per epoch, so mining once is exactly the production shape."""
    path = _retrieval_shortlist_store(spark, sf_dir)
    return spark.read.schema(
        "qid long, neighbor_id long, neighbor_label int, "
        "cosine_sim double, rnk int"
    ).parquet(f"{path}/hard_neg")


@register(
    "embedding_gram_upper",
    oracle=f"""
WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT CAST(s.i AS INT) AS dim_i, CAST(t.j AS INT) AS dim_j,
       CAST(sum(CAST(floor(v[s.i + 1] * v[t.j + 1] * 1000000000.0 + 0.5)
                     AS BIGINT)) AS DOUBLE) / 1000000000.0 AS gram_sum,
       count(*) AS n_vectors
FROM e, generate_series(0, {_DIM - 1}) s(i), generate_series(0, {_DIM - 1}) t(j)
WHERE t.j >= s.i
GROUP BY dim_i, dim_j
""",
)
def embedding_gram_upper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gram (second-moment) matrix accumulation (operators/pca.py) -
    the distributed statistic PCA/whitening/OPQ rotations fit on.
    Upper triangle only (2080 cells at dim=64); per-vector products
    quantize to 1e-9 BIGINTs so the cell sums are partition-order
    independent and hash-exact. Runs the vectorized path: each
    partition emits its 2080 integer partials from one Arrow/numpy
    pass (no per-product row ever materializes), pinned bit-equal to
    the pure-expression explode twin the oracle mirrors - the
    exchange carries cells x partitions rows, never vectors x cells. pca_fit eigendecomposes the
    collected matrix driver-side (dim x dim - bounded by
    construction) and project_embeddings streams the corpus through
    the learned basis via an Arrow matmul."""
    from ..operators.pca import gram_upper

    e = _emb(spark, sf_dir)
    return gram_upper(e, _DIM)


_KM_K = 8
_KM_ITERS = 3


def _kmeans_parts(k: int, iters: int, dim: int) -> list[str]:
    """The unrolled-Lloyd's CTE chain shared by the kmeans oracle
    and every oracle that consumes trained clusters (semdedup):
    ends with ``cent_{iters}`` holding the final centroids."""
    parts = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f"cent_0 AS (SELECT vec_id AS cluster, v AS cv FROM e WHERE vec_id < {k})",
    ]
    for i in range(1, iters + 1):
        prev = f"cent_{i - 1}"
        parts.append(
            f"""assign_{i} AS (
  SELECT vec_id, v, cluster FROM (
    SELECT e.vec_id, e.v, c.cluster,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_sq_l2_sql('e.v', 'c.cv')} ASC,
                                       c.cluster ASC) AS rn
    FROM e, {prev} c) WHERE rn = 1)"""
        )
        parts.append(
            f"""sums_{i} AS (
  SELECT cluster, j,
         CAST(sum(CAST(floor(v[j] * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
           / 1000000000.0 / CAST(count(*) AS DOUBLE) AS comp
  FROM assign_{i}, generate_series(1, {dim}) t(j)
  GROUP BY cluster, j)"""
        )
        parts.append(
            f"newc_{i} AS (SELECT cluster, list(comp ORDER BY j) AS cv "
            f"FROM sums_{i} GROUP BY cluster)"
        )
        parts.append(
            f"cent_{i} AS (SELECT c.cluster, coalesce(n.cv, c.cv) AS cv "
            f"FROM {prev} c LEFT JOIN newc_{i} n ON n.cluster = c.cluster)"
        )
    return parts


def _kmeans_oracle(k: int, iters: int, dim: int) -> str:
    """Unrolled Lloyd's as a DuckDB CTE chain: deterministic first-K
    init + fixed iteration count make the whole training loop
    relationally expressible, and the quantized re-center
    (label_centroid_sums' integer-sum scheme) plus list-fold
    distances make every iteration bit-identical to the Spark
    operator. Empty clusters coalesce to their previous centroid."""
    parts = _kmeans_parts(k, iters, dim)
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT vec_id, CAST(cluster AS INT) AS cluster, sq_dist FROM (
  SELECT e.vec_id, c.cluster, {_sq_l2_sql('e.v', 'c.cv')} AS sq_dist,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {_sq_l2_sql('e.v', 'c.cv')} ASC,
                                     c.cluster ASC) AS rn
  FROM e, cent_{iters} c) WHERE rn = 1"""
    )


def _trained_centroids(spark: SparkSession, sf_dir: str) -> dict:
    """The catalog's shared k-means model (first-8 seeds, 3 Lloyd
    iterations), served from a persisted centroid store
    (build-if-absent keyed by the corpus file's identity - the
    tokenizer-store discipline, r8 verdict next-round #2 extended to
    the k-means family): training runs ONCE per corpus and every
    consumer (kmeans_assignments, semdedup_survivors) loads the
    digest-verified K x dim sliver. Parquet doubles round-trip
    exactly, so store-served assignments hash identically to
    retraining and the unrolled-CTE oracles are unchanged."""
    from ..operators.kmeans import (
        first_k_init,
        lloyd_iterations,
        load_centroids,
        save_centroids,
    )

    def build(staged: str) -> None:
        e = _emb(spark, sf_dir).select("vec_id", "vec")
        save_centroids(
            spark,
            staged,
            lloyd_iterations(e, first_k_init(e, _KM_K), _DIM, _KM_ITERS),
        )

    path = fsio.build_if_absent(
        spark, "km_cents",
        fsio.store_ident(
            os.path.join(sf_dir, "embeddings.parquet"),
            f"km:v2:{_KM_K}:{_KM_ITERS}:{_DIM}:first_k",
        ),
        build, ok_name="params.json",
    )
    cents, _params = load_centroids(spark, path)
    return cents


@register("kmeans_assignments", oracle=_kmeans_oracle(_KM_K, _KM_ITERS, _DIM))
def kmeans_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means training (operators/kmeans.py) run for a
    fixed 3 Lloyd iterations from the deterministic first-8 seeds,
    then the final nearest-centroid assignment over the corpus. The
    ENTIRE training loop hash-matches the unrolled DuckDB oracle -
    assignment argmins, quantized integer re-centering, empty-cluster
    fallbacks, and the final squared-L2 distances are all
    bit-identical (r6 verdict next-round #1: codebook/centroid
    training as a first-class oracle-checked operator). Per
    iteration: one broadcast of the K-row centroid table against the
    corpus, one bounded K*dim aggregation - the corpus itself never
    shuffles, which is the 100 TB story. The model serves from the
    shared persisted centroid store (_trained_centroids) - warm
    calls skip the 3 training jobs and run only the assignment."""
    from ..operators.kmeans import centroids_to_df, kmeans_assign

    e = _emb(spark, sf_dir).select("vec_id", "vec")
    cdf = centroids_to_df(spark, _trained_centroids(spark, sf_dir), [])
    return kmeans_assign(e, cdf, _DIM).select(
        "vec_id", F.col("cluster").cast("int").alias("cluster"), "sq_dist"
    )


_SQ_LEVELS = 256

_SQ_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
st AS (
  SELECT t.j, min(v[t.j + 1]) AS mn, max(v[t.j + 1]) AS mx
  FROM e, generate_series(0, {_DIM - 1}) t(j) GROUP BY t.j
),
codes AS (
  SELECT e.vec_id, s.j, s.mn, (s.mx - s.mn) / {float(_SQ_LEVELS - 1)} AS scale,
         CASE WHEN s.mx = s.mn THEN 0
              ELSE least({_SQ_LEVELS - 1}, greatest(0,
                CAST(floor((e.v[s.j + 1] - s.mn)
                           / ((s.mx - s.mn) / {float(_SQ_LEVELS - 1)})
                           + 0.5) AS INT)))
         END AS code
  FROM e, st s
),
recon AS (
  SELECT vec_id,
         list(mn + CAST(code AS DOUBLE) * scale ORDER BY j) AS rv
  FROM codes GROUP BY vec_id
),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {_N_QUERIES}),
scored AS (
  SELECT q.qid, r.vec_id AS neighbor_id,
         {_sq_l2_sql('q.qv', 'r.rv')} AS approx_l2
  FROM q JOIN recon r ON r.vec_id <> q.qid
),
ranked AS (
  SELECT qid, neighbor_id, approx_l2,
         row_number() OVER (PARTITION BY qid
                            ORDER BY approx_l2 ASC, neighbor_id ASC) AS rnk
  FROM scored
)
SELECT qid, neighbor_id, approx_l2, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= {_TOPK}
"""


@register("sq_knn_top5", oracle=_SQ_ORACLE)
def sq_knn_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization ANN (operators/sq.py): fit per-dimension
    (min, max) in one map-side-combining aggregation, encode each
    component as an 8-bit level index (float64 -> 1 byte, the
    zero-training compressed tier next to PQ), then rank raw queries
    against the reconstructions by asymmetric L2. The whole quantizer
    - exact min/max selections, fixed-order code/decode arithmetic,
    left-fold distances - is re-derived relationally by the oracle
    and hash-matches end to end. Scale shape: fit is one bounded
    aggregation; encode + ADC scoring are pure scan expressions over
    the 8x-smaller stored form, no shuffle beyond the top-k window."""
    from ..operators.sq import sq_fit_stats, sq_topk

    e = _emb(spark, sf_dir).select("vec_id", "vec")
    stats = sq_fit_stats(e, _DIM)
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("vec").alias("qv")
    )
    return sq_topk(q, e, stats, _TOPK, levels=_SQ_LEVELS)


_SIGNQ_WORDS = (_DIM + 31) // 32
# 1-bit codes are the lossiest tier, so they compensate with a wider
# shortlist than the 8-bit/PQ stages (the standard binary-index
# trade: the stage-1 scan is ~64x cheaper per row, so re-ranking 50
# exact rows instead of 20 still leaves the pipeline far cheaper at
# equal recall - measured on sf0.01: mean recall@5 0.50 at 20 vs
# 0.66 at 50 on the weak-margin synthetic embeddings, re-rank cost
# still queries x shortlist; test_signq_recall_floor_on_testdata
# pins the floor).
_SIGNQ_SHORTLIST = 50

# shared by _SIGNQ_ORACLE (flat corpus scan) and
# _IVFBIN_RERANK_ORACLE (coarse-list-pruned scan): corpus-mean
# thresholds, sign bits, packed BIGINT words - the encode both
# queries' Spark paths run through operators/signq.signq_encode.
_SIGNQ_CTE_PREFIX = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
st AS (
  SELECT t.j,
         sum(CAST(floor(v[t.j + 1] * 1000000000.0 + 0.5) AS BIGINT)) AS s,
         count(*) AS n
  FROM e, generate_series(0, {_DIM - 1}) t(j) GROUP BY t.j
),
thr AS (
  SELECT j, CAST(s AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE) AS thr
  FROM st
),
bl AS (
  SELECT e.vec_id,
         list(CASE WHEN e.v[t.j + 1] > t.thr THEN CAST(1 AS BIGINT)
                   ELSE CAST(0 AS BIGINT) END ORDER BY t.j) AS bits
  FROM e, thr t GROUP BY e.vec_id
),
codes AS (
  SELECT vec_id,
         list_transform(range(0, {_SIGNQ_WORDS}),
           w -> CAST(list_sum(list_transform(range(0, 32),
                  j -> bits[CAST(w * 32 + j + 1 AS INT)]
                       * (CAST(1 AS BIGINT) << CAST(j AS INT))))
                AS BIGINT)) AS code
  FROM bl
)"""

_SIGNQ_ORACLE = (
    _SIGNQ_CTE_PREFIX
    + f""",
q AS (SELECT vec_id AS qid, code AS qcode FROM codes
      WHERE vec_id < {_N_QUERIES}),
scored AS (
  SELECT q.qid, c.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(list_zip(q.qcode, c.code),
              x -> bit_count(xor(x[1], x[2])))) AS BIGINT) AS hamming
  FROM q JOIN codes c ON c.vec_id <> q.qid
),
cand AS (
  SELECT qid, neighbor_id, hamming FROM (
    SELECT qid, neighbor_id, hamming,
           row_number() OVER (PARTITION BY qid
                              ORDER BY hamming ASC, neighbor_id ASC) AS rn
    FROM scored) WHERE rn <= {_SIGNQ_SHORTLIST}
),
exact AS (
  SELECT cand.qid, cand.neighbor_id, cand.hamming,
         {_sq_l2_sql('qe.v', 'ne.v')} AS sq_dist
  FROM cand JOIN e qe ON qe.vec_id = cand.qid
            JOIN e ne ON ne.vec_id = cand.neighbor_id
),
ranked AS (
  SELECT qid, neighbor_id, hamming, sq_dist,
         row_number() OVER (PARTITION BY qid
                            ORDER BY sq_dist ASC, neighbor_id ASC) AS rnk
  FROM exact
)
SELECT qid, neighbor_id, hamming, sq_dist, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= {_TOPK}
"""
)


@register("signq_rerank_top5", oracle=_SIGNQ_ORACLE)
def signq_rerank_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary sign-quantization ANN (operators/signq.py - r14 verdict
    next-round #1a, the missing cheapest point on the SQ/PQ/OPQ
    compression curve): threshold each dimension at its
    quantized-integer corpus mean, pack the sign bits 32 per BIGINT
    word (64 dims -> 16 bytes), shortlist {sl} candidates per query by
    XOR+popcount Hamming distance, then re-rank the sliver by exact
    squared L2 over the raw vectors - the ivfpq_rerank_top5 shortlist
    contract at 1 bit per dimension. Every stage is exact integer or
    fixed-order IEEE arithmetic, so the oracle re-derives thresholds,
    packed words, Hamming counts, and re-rank distances end to end.
    Scale shape: fit is one map-side-combining aggregation (dim
    BIGINTs to the driver); encoding is scan expression; stage 1
    broadcasts only the 10 query codes and cuts per-query windows -
    the corpus never shuffles; stage 2 touches queries x {sl} rows."""
    from ..operators.signq import signq_fit_thresholds, signq_topk_rerank

    e = _emb(spark, sf_dir).select("vec_id", "vec")
    thr = signq_fit_thresholds(e, _DIM)
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("vec").alias("qv")
    )
    return signq_topk_rerank(q, e, thr, _TOPK, _SIGNQ_SHORTLIST)


signq_rerank_top5.__doc__ = signq_rerank_top5.__doc__.format(
    sl=_SIGNQ_SHORTLIST
)


_IVFBIN_RERANK_ORACLE = (
    _SIGNQ_CTE_PREFIX
    + f""",
cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {_N_CENTROIDS}),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cos_sql('e.v', 'c.cv')} DESC, c.cid) AS rn
    FROM e, cents c) WHERE rn = 1
),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {_N_QUERIES}),
qc AS (SELECT q.qid, codes.code AS qcode
       FROM q JOIN codes ON codes.vec_id = q.qid),
qprobe AS (
  SELECT qid, cid FROM (
    SELECT q.qid, c.cid,
           row_number() OVER (PARTITION BY q.qid
                              ORDER BY {_cos_sql('q.qv', 'c.cv')} DESC, c.cid) AS rn
    FROM q, cents c) WHERE rn <= {_N_PROBES}
),
scored AS (
  SELECT p.qid, a.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(list_zip(qc.qcode, c.code),
              x -> bit_count(xor(x[1], x[2])))) AS BIGINT) AS hamming
  FROM qprobe p
  JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.qid
  JOIN codes c ON c.vec_id = a.vec_id
  JOIN qc ON qc.qid = p.qid
),
cand AS (
  SELECT qid, neighbor_id, hamming FROM (
    SELECT qid, neighbor_id, hamming,
           row_number() OVER (PARTITION BY qid
                              ORDER BY hamming ASC, neighbor_id ASC) AS rn
    FROM scored) WHERE rn <= {_SIGNQ_SHORTLIST}
),
exact AS (
  SELECT cand.qid, cand.neighbor_id, cand.hamming,
         {_sq_l2_sql('qe.v', 'ne.v')} AS sq_dist
  FROM cand JOIN e qe ON qe.vec_id = cand.qid
            JOIN e ne ON ne.vec_id = cand.neighbor_id
),
ranked AS (
  SELECT qid, neighbor_id, hamming, sq_dist,
         row_number() OVER (PARTITION BY qid
                            ORDER BY sq_dist ASC, neighbor_id ASC) AS rnk
  FROM exact
)
SELECT qid, neighbor_id, hamming, sq_dist, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= {_TOPK}
"""
)


@register("ivfbin_rerank_top5", oracle=_IVFBIN_RERANK_ORACLE)
def ivfbin_rerank_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production IVF-binary serve path (operators/ivf.py:946+,
    r15 verdict next-round #1a - the FAISS IVF+binary combo, until
    now test-pinned only): build_ivfbin_index persists coarse
    centroids + 1-bit sign codes partitioned by list_id (thresholds
    stored IN-index and digest-stamped - the PQ-codebook drift guard
    applied to the sign quantizer; the index holds NO raw vectors,
    16 bytes per 64-dim vector), then search_ivfbin_index_rerank
    (stage 1) probes each query's top-{np} coarse lists - a
    dynamic-partition-pruned scan of packed BIGINT words scored by
    XOR+popcount Hamming, shortlisting {sl} candidates - and (stage
    2) re-ranks only that sliver by exact squared L2 against the raw
    vector source. This composes the two cheapest scan reductions
    the family offers: coarse pruning cuts WHICH rows are read
    ({np}/{nc} of the corpus), sign codes cut HOW MUCH each read row
    costs (64x less I/O than raw doubles) - at 100 TB this tier is
    the first-pass ANN filter, with exactness restored by the
    re-rank. Built once per corpus (build-if-absent, identity-keyed
    like ivfpq_rerank_top5); warm calls re-open the index and load
    digest-verified thresholds - the serve path IS the query. Every
    stage is exact integer or fixed-order IEEE arithmetic (cosine
    probe, integer Hamming, left-fold sqL2), so the DuckDB oracle
    re-derives thresholds, codes, coarse assignment, probe, pruned
    shortlist, and re-rank end to end, hash-exact."""
    from ..operators.ivf import build_ivfbin_index, search_ivfbin_index_rerank
    from ..operators.signq import signq_fit_thresholds

    e = _emb(spark, sf_dir).select("vec_id", "vec")
    path = fsio.build_if_absent(
        spark, "ivfbin_idx",
        fsio.store_ident(
            os.path.join(sf_dir, "embeddings.parquet"),
            f"ivfbin:v1:{_N_CENTROIDS}:{_DIM}",
        ),
        lambda staged: build_ivfbin_index(
            e, staged, _N_CENTROIDS, _DIM, signq_fit_thresholds(e, _DIM)
        ),
        ok_name="params.json",
    )
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("vec").alias("qvec")
    )
    return search_ivfbin_index_rerank(
        spark, path, q, _TOPK, _SIGNQ_SHORTLIST, _N_PROBES, _DIM,
        vector_source=e, query_vec_col="qvec",
    )


ivfbin_rerank_top5.__doc__ = ivfbin_rerank_top5.__doc__.format(
    sl=_SIGNQ_SHORTLIST, np=_N_PROBES, nc=_N_CENTROIDS
)


_PERM_PQ_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
st AS (
  SELECT t.j,
         sum(CAST(floor(v[t.j + 1] * 1000000000.0 + 0.5) AS BIGINT)) AS s,
         sum(CAST(floor(v[t.j + 1] * v[t.j + 1] * 1000000000.0 + 0.5)
                  AS BIGINT)) AS q,
         count(*) AS n
  FROM e, generate_series(0, {_DIM - 1}) t(j) GROUP BY t.j
),
vr AS (
  SELECT j,
         CAST(q AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE)
         - (CAST(s AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE))
           * (CAST(s AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE)) AS var
  FROM st
),
rk AS (SELECT j, row_number() OVER (ORDER BY var DESC, j ASC) - 1 AS r FROM vr),
asg AS (
  SELECT j,
         CASE WHEN (r // {_PQ_M}) % 2 = 0 THEN r % {_PQ_M}
              ELSE {_PQ_M - 1} - (r % {_PQ_M}) END AS sub,
         r // {_PQ_M} AS pos
  FROM rk
),
pe AS (
  SELECT e.vec_id, list(e.v[a.j + 1] ORDER BY a.sub, a.pos) AS pv
  FROM e, asg a GROUP BY e.vec_id
),
cent AS (SELECT vec_id AS cid, pv AS cv FROM pe WHERE vec_id < {_PQ_K}),
sd AS (
  SELECT p.vec_id, s.j, c.cid,
         {_sq_l2_sql(f'list_slice(p.pv, s.j*{_PQ_SUB}+1, s.j*{_PQ_SUB}+{_PQ_SUB})',
                     f'list_slice(c.cv, s.j*{_PQ_SUB}+1, s.j*{_PQ_SUB}+{_PQ_SUB})')} AS d
  FROM pe p, generate_series(0, {_PQ_M - 1}) s(j), cent c
),
codes AS (
  SELECT vec_id, j, cid FROM (
    SELECT vec_id, j, cid,
           row_number() OVER (PARTITION BY vec_id, j
                              ORDER BY d ASC, cid ASC) AS rn
    FROM sd) WHERE rn = 1
),
recon AS (
  SELECT k.vec_id,
         flatten(list(list_slice(c.cv, k.j*{_PQ_SUB}+1, k.j*{_PQ_SUB}+{_PQ_SUB})
                      ORDER BY k.j)) AS rv
  FROM codes k JOIN cent c ON c.cid = k.cid
  GROUP BY k.vec_id
),
q AS (SELECT vec_id AS qid, pv AS qv FROM pe WHERE vec_id < {_N_QUERIES}),
scored AS (
  SELECT q.qid, r.vec_id AS neighbor_id,
         {_sq_l2_sql('q.qv', 'r.rv')} AS approx_l2
  FROM q JOIN recon r ON r.vec_id <> q.qid
),
ranked AS (
  SELECT qid, neighbor_id, approx_l2,
         row_number() OVER (PARTITION BY qid
                            ORDER BY approx_l2 ASC, neighbor_id ASC) AS rnk
  FROM scored
)
SELECT qid, neighbor_id, approx_l2, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= {_TOPK}
"""


# RETIRED from the catalog (r9 swap): the permutation demo shares
# pq_knn_top5's literal-codebook cost profile and its encode/ADC
# machinery is production-served by pq_lut_knn_top5; the OPQ-specific
# halves (variance snake deal, rotation) keep their unit pins in
# tests/test_sq_opq.py and the r7-r8 driver rows stand as evidence.
def pq_permuted_knn_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ's permutation variant (operators/opq.py) as a first-class
    oracle-checked query: per-dimension variance (quantized-exact,
    one map-side-combining aggregation), variance ranking, a
    deterministic snake deal of dimensions onto the M subspaces, then
    the standard PQ encode -> ADC rank pipeline over the PERMUTED
    vectors with first-K permuted codebooks. Balancing the variance
    across subspaces is the space-allocation fix OPQ (Ge et al.,
    CVPR 2013) formalizes; this relational half hash-matches the
    DuckDB oracle end to end (rank arithmetic, snake assignment,
    codes, reconstructions, final distances), while the SVD-based
    rotation half lives in opq_train_rotation with test pins. L2 is
    permutation-invariant, so ranks are comparable with pq_knn_top5's
    - what changes is where the code budget lands. Scale shape: two
    bounded collects (2*dim+1 stats, K centroids); everything else is
    scan-side expression work plus the top-k window."""
    from ..operators.opq import (
        dim_variance_stats,
        permute_vec,
        variance_balanced_permutation,
    )
    from ..operators.pq import pq_encode_reconstruct, pq_topk

    e = _emb(spark, sf_dir).select("vec_id", "vec")
    variances = dim_variance_stats(e, _DIM)
    perm = variance_balanced_permutation(variances, _PQ_M)
    pe = e.select("vec_id", permute_vec(perm).alias("vec"))
    cents = [
        [float(x) for x in r.vec]
        for r in pe.filter(F.col("vec_id") < _PQ_K).orderBy("vec_id").collect()
    ]
    enc = pq_encode_reconstruct(pe, cents, _DIM, _PQ_M)
    q = pe.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("vec").alias("qv")
    )
    return pq_topk(q, enc, _TOPK)


_PR_ITERS = 3


def _pagerank_oracle(iters: int) -> str:
    """Unrolled power iteration as a CTE chain (the kmeans-oracle
    pattern): quantized contribution sums + fixed iteration count
    make PageRank bit-exact across engines."""
    parts = [
        f"cand AS ({_LSH_PAIR_SQL})",
        "edges AS (SELECT id_a AS src, id_b AS dst FROM cand "
        "UNION ALL SELECT id_b AS src, id_a AS dst FROM cand)",
        "deg AS (SELECT src, count(*) AS degree FROM edges GROUP BY src)",
        "nodes AS (SELECT DISTINCT src AS node FROM edges)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        "pr_0 AS (SELECT node, 1.0 / CAST((SELECT n FROM nn) AS DOUBLE) AS pr"
        " FROM nodes)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""c_{i} AS (
  SELECT e.dst AS node,
         CAST(floor(p.pr / CAST(d.degree AS DOUBLE) * 1000000000.0 + 0.5)
              AS BIGINT) AS q
  FROM edges e JOIN pr_{i - 1} p ON p.node = e.src
               JOIN deg d ON d.src = e.src)"""
        )
        parts.append(
            f"s_{i} AS (SELECT node, sum(q) AS s FROM c_{i} GROUP BY node)"
        )
        parts.append(
            f"""pr_{i} AS (
  SELECT n.node,
         (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
           / CAST((SELECT n FROM nn) AS DOUBLE)
         + CAST(0.85 AS DOUBLE)
           * (CAST(coalesce(s.s, 0) AS DOUBLE) / 1000000000.0) AS pr
  FROM nodes n LEFT JOIN s_{i} s ON s.node = n.node)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT p.node AS vec_id, d.degree AS degree, p.pr AS pagerank
FROM pr_{iters} p JOIN deg d ON d.src = p.node"""
    )


# RETIRED from the catalog (r9 swap): neardup_pagerank_from_store is
# the production composition (pairs from the persisted feed), shares
# this oracle VERBATIM, and is driver-green (CORRECTNESS_r08) - two
# registrations of one oracle bought no extra evidence. The inline
# builder stays importable (tests/test_graph.py pins the operator).
def neardup_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the sign-LSH near-dup pair graph
    (operators/graph.py) - the canonical-pick / boilerplate-hub
    signal next to connected_components' cluster labels, run for 3
    unrolled power iterations and hash-exact against a DuckDB CTE
    chain (quantized 1e-9 contribution sums make every iteration
    partition-order independent; same oracle pattern as
    kmeans_assignments). Scale shape: per iteration one keyed
    edges x ranks join on src and one map-side-combining (dst)
    aggregation - the edge list itself never re-shuffles between
    stages; degrees/nodes compute once."""
    from ..operators.graph import pagerank_unrolled

    e = _emb(spark, sf_dir)
    pairs = lsh_neardup_pairs(
        e, _NEARDUP_THRESHOLD, _NUM_PLANES, _DIM,
        parallelism=spark.sparkContext.defaultParallelism,
    )
    pr = pagerank_unrolled(pairs, _PR_ITERS)
    return pr.select(F.col("node").alias("vec_id"), "degree", "pagerank")


@register("neardup_pagerank_from_store", oracle=_pagerank_oracle(_PR_ITERS))
def neardup_pagerank_from_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """neardup_graph_pagerank's PRODUCTION composition (r7 verdict
    next-round #4): the demo rebuilds the whole LSH pair pipeline
    inline before every ranking (5.5 s median - the priciest catalog
    query), but in a real pipeline the pairs are a PERSISTED feed the
    streaming dedup loop already maintains, and centrality jobs read
    it. This query models exactly that: the pair set is materialized
    once per corpus into a parquet store (build-if-absent, keyed by
    the corpus file's identity so data changes invalidate it), and
    PageRank runs over the STORE READ - per iteration one keyed
    edges-to-ranks join plus one map-side-combining quantized
    aggregation, with pair derivation amortized to zero on the warm
    path. Shares the demo's oracle verbatim: the stored pairs are
    bit-identical to the inline ones, so both queries hash-match the
    same DuckDB CTE chain."""
    from ..operators.graph import pagerank_unrolled

    def build(staged: str) -> None:
        # the write consumes the pair pipeline's barrier entirely
        with barrier_scope(spark):
            lsh_neardup_pairs(
                _emb(spark, sf_dir), _NEARDUP_THRESHOLD, _NUM_PLANES, _DIM,
                parallelism=spark.sparkContext.defaultParallelism,
            ).write.mode("overwrite").parquet(staged)

    path = fsio.build_if_absent(
        spark, "lsh_pairs",
        fsio.store_ident(
            os.path.join(sf_dir, "embeddings.parquet"),
            f"lshpairs:v2:{_NUM_PLANES}:{_NEARDUP_THRESHOLD}",
        ),
        build, ok_name="_SUCCESS",
    )
    pairs = spark.read.parquet(path)
    pr = pagerank_unrolled(pairs, _PR_ITERS)
    return pr.select(F.col("node").alias("vec_id"), "degree", "pagerank")


# ---- SemDeDup (operators/similarity.semdedup_flags)

_SEMDEDUP_THRESHOLD = 0.3


def _semdedup_oracle(k: int, iters: int, dim: int, tau: float) -> str:
    parts = _kmeans_parts(k, iters, dim)
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
fin AS (
  SELECT vec_id, v, cluster FROM (
    SELECT e.vec_id, e.v, c.cluster,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_sq_l2_sql('e.v', 'c.cv')} ASC,
                                       c.cluster ASC) AS rn
    FROM e, cent_{iters} c) WHERE rn = 1),
dropped AS (
  SELECT DISTINCT b.vec_id AS d
  FROM fin a JOIN fin b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE {_cos_sql('a.v', 'b.v')} >= CAST({tau!r} AS DOUBLE))
SELECT f.vec_id, CAST(f.cluster AS INT) AS cluster, (d.d IS NULL) AS kept
FROM fin f LEFT JOIN dropped d ON d.d = f.vec_id
"""
    )


@register(
    "semdedup_survivors",
    oracle=_semdedup_oracle(_KM_K, _KM_ITERS, _DIM, _SEMDEDUP_THRESHOLD),
)
def semdedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) end to end: train k-means
    (the kmeans_assignments chain - same seeds, same quantized
    re-centering), assign every embedding to its cluster, then flag
    within-cluster cosine duplicates above the near-dup threshold,
    lowest id surviving. The whole train-cluster-dedup pipeline
    hash-matches the unrolled DuckDB oracle. This is the scale
    answer to embedding_dup_clusters' LSH formulation: clustering
    first bounds the quadratic pair search to single clusters
    (K grows with the corpus to hold cluster sizes flat), which is
    why the method works at billion-document scale. Shares
    kmeans_assignments' persisted centroid store (same seeds/iters/
    corpus key), so ONE training run serves both queries."""
    from ..operators.kmeans import centroids_to_df, kmeans_assign
    from ..operators.similarity import semdedup_flags

    e = _emb(spark, sf_dir).select("vec_id", "vec")
    cdf = centroids_to_df(spark, _trained_centroids(spark, sf_dir), [])
    assign = kmeans_assign(e, cdf, _DIM).select("vec_id", "vec", "cluster")
    return semdedup_flags(assign, _SEMDEDUP_THRESHOLD, dim=_DIM).select(
        "vec_id", F.col("cluster").cast("int").alias("cluster"), "kept"
    )


# ---- Known-label retrieval quality: reciprocal rank

@register(
    "knn_label_mrr",
    oracle=f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv FROM e WHERE vec_id < {_N_QUERIES}),
ranked AS (
  SELECT q.qid, q.qlabel, e.vec_id AS neighbor_id, e.label AS nlabel,
         row_number() OVER (PARTITION BY q.qid
                            ORDER BY {_cos_sql('q.qv', 'e.v')} DESC,
                                     e.vec_id ASC) AS rnk
  FROM q JOIN e ON e.vec_id <> q.qid
)
SELECT qid, CAST(min(rnk) AS INT) AS first_relevant_rank,
       CAST(1.0 AS DOUBLE) / CAST(min(rnk) AS DOUBLE) AS reciprocal_rank
FROM ranked WHERE nlabel = qlabel
GROUP BY qid
""",
)
def knn_label_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation beside ivf_recall_at5: for each
    query vector, the rank of the FIRST same-label neighbor under
    the exact cosine ranking, and its reciprocal rank - the
    known-item/MRR metric an embedding pipeline is tuned on.
    Deliberately per-query rows (the mean is one quantized fold away
    but the per-query ranks are the actionable signal), and
    deliberately rational: rank is an integer and 1/rank one IEEE
    division, so the metric hash-matches with no quantization.
    Scale shape: queries broadcast, full ranking per query via the
    per-key window (no global sort), label filter after ranking (the
    rank must be the UNFILTERED retrieval rank)."""
    from ..operators.similarity import brute_force_topk

    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("vec").alias("qvec")
    )
    ranked = brute_force_topk(
        e, q, (1 << 31) - 1, dim=_DIM,
        parallelism=spark.sparkContext.defaultParallelism,
    )
    nl = e.select(F.col("vec_id").alias("neighbor_id"), F.col("label").alias("__nl"))
    ql = e.select(F.col("vec_id").alias("qid"), F.col("label").alias("__ql"))
    first = (
        ranked.join(nl, "neighbor_id")
        .join(ql, "qid")
        .filter(F.col("__nl") == F.col("__ql"))
        .groupBy("qid")
        .agg(F.min("rnk").alias("first_relevant_rank"))
    )
    return first.select(
        "qid",
        "first_relevant_rank",
        (F.lit(1.0) / F.col("first_relevant_rank").cast("double")).alias(
            "reciprocal_rank"
        ),
    )


@register(
    "ivfpq_recall_at5",
    oracle=f"""
WITH bf AS ({_KNN_ORACLE}),
iv AS ({_IVFPQ_RERANK_ORACLE})
SELECT bf.qid,
       CAST(coalesce(sum(CASE WHEN iv.neighbor_id IS NOT NULL
                              THEN 1 ELSE 0 END), 0) AS INT) AS n_hits,
       CAST(coalesce(sum(CASE WHEN iv.neighbor_id IS NOT NULL
                              THEN 1 ELSE 0 END), 0) AS DOUBLE)
         / {_TOPK} AS recall_at_5
FROM bf LEFT JOIN iv
  ON iv.qid = bf.qid AND iv.neighbor_id = bf.neighbor_id
GROUP BY bf.qid
""",
)
def ivfpq_recall_at5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the PRODUCTION ANN path - the persisted
    IVF-PQ index served through the ADC-shortlist + exact-rerank
    pipeline (ivfpq_rerank_top5) - against the brute-force exact
    baseline, per query. Complements ivf_recall_at5 (which grades
    the un-quantized IVF): this is the number an index deployment
    is actually monitored on, and regressions localize - recall
    drops here but not in ivf_recall_at5 point at quantization
    (m/K/residual), drops in both point at the coarse partitioner
    (nlist/nprobe). Integer hits; the fractional recall is one IEEE
    division - hash-exact like its inputs.

    r11: the exact baseline reads the persisted retrieval-shortlist
    store's rnk<=5 cut (pinned equal to the inline producer in
    tests) - a production recall monitor compares the live ANN
    search against the PERSISTED ground-truth shortlist, not a fresh
    corpus scan per check; the ANN leg under measurement runs live."""
    bf = (
        _stored_shortlist(spark, sf_dir)
        .filter(F.col("rnk") <= _TOPK)
        .select("qid", "neighbor_id")
    )
    iv = ivfpq_rerank_top5(spark, sf_dir).select(
        F.col("qid").alias("__iq"),
        F.col("neighbor_id").alias("__in"),
        F.lit(1).alias("__hit"),
    )
    joined = bf.join(
        iv,
        (bf["qid"] == iv["__iq"]) & (bf["neighbor_id"] == iv["__in"]),
        "left",
    )
    hits = F.coalesce(F.sum("__hit"), F.lit(0))
    return joined.groupBy("qid").agg(
        hits.cast("int").alias("n_hits"),
        (hits.cast("double") / F.lit(_TOPK)).alias("recall_at_5"),
    )


# ---- Persisted retrieval shortlist (producer/consumer split, r11)

_MMR_N = 10
_MMR_K = 3
# One brute-force pass covers every shortlist consumer: the hybrid
# fusion's dense leg reads top-20 (retrievalops._TOP_N), MMR re-ranks
# the top-10, and the inline knn_bruteforce_top5 producer's rows are
# the same table cut at rnk <= 5 (pinned in tests).
_SHORT_N = 20
_HN_K = 3


def _retrieval_shortlist_store(spark: SparkSession, sf_dir: str) -> str:
    """Persisted exact-cosine shortlists - the near-dup history-store
    discipline (plans/textops._neardup_history_store) applied to the
    retrieval family: in production the brute-force (or ANN) top-k
    pass over the corpus runs ONCE per corpus/model version, and
    every re-ranking consumer (MMR diversification, RRF fusion,
    hard-negative curricula) reads the persisted shortlist instead of
    re-scanning the corpus per job. Layout: ``topk`` (exact cosine
    top-N per anchor at N=_SHORT_N, self-excluded), ``hard_neg``
    (the label-aware top-_HN_K - persisted separately because its label
    predicate precedes the ranking window, so it is NOT a cut of the
    unfiltered shortlist), and ``cand_sims`` (the complete pairwise
    cosines WITHIN each anchor's top-_MMR_N candidate set - the
    N^2-per-anchor sliver every diversification/redundancy re-ranker
    consumes; persisting it means the warm MMR path never touches an
    embedding vector at all). Build-if-absent keyed on the corpus file's
    identity plus a version token and every hyperparameter that
    shapes the tables; the fully built store publishes with ONE
    rename (fsio.build_if_absent), so readers never observe a partial
    or in-rewrite store. Doubles round-trip parquet exactly, so
    consumers keep hash-matching their derivation oracles; the
    PRODUCER query (knn_bruteforce_top5) stays fully inline as the
    derivation evidence."""
    from ..operators.similarity import brute_force_topk, hard_negative_topk

    def build(staged: str) -> None:
        e = _emb(spark, sf_dir)
        par = spark.sparkContext.defaultParallelism
        q = e.filter(F.col("vec_id") < _N_QUERIES).select(
            F.col("vec_id").alias("qid"), F.col("vec").alias("qvec")
        )
        brute_force_topk(e, q, _SHORT_N, dim=_DIM, parallelism=par).write.mode(
            "overwrite"
        ).parquet(f"{staged}/topk")
        ql = e.filter(F.col("vec_id") < _N_QUERIES).select(
            F.col("vec_id").alias("qid"),
            F.col("label").alias("qlabel"),
            F.col("vec").alias("qvec"),
        )
        hard_negative_topk(e, ql, _HN_K, dim=_DIM, parallelism=par).write.mode(
            "overwrite"
        ).parquet(f"{staged}/hard_neg")
        # pairwise cosines within each anchor's top-_MMR_N candidate
        # set, derived from the JUST-WRITTEN topk table so the two
        # tables can never disagree
        from ..operators.similarity import dot, l2_norm

        cand = (
            spark.read.schema(
                "qid long, neighbor_id long, cosine_sim double, rnk int"
            )
            .parquet(f"{staged}/topk")
            .filter(F.col("rnk") <= _MMR_N)
            .select("qid", "neighbor_id")
        )
        cv = cand.join(
            e.selectExpr("vec_id AS neighbor_id", "vec AS __v"), "neighbor_id"
        ).withColumn("__n", l2_norm("__v", _DIM))
        a = cv.selectExpr("qid", "neighbor_id AS a_id", "__v AS __va", "__n AS __na")
        b = cv.selectExpr("qid", "neighbor_id AS b_id", "__v AS __vb", "__n AS __nb")
        (
            a.join(b, "qid")
            .filter(F.col("a_id") != F.col("b_id"))
            .select(
                "qid",
                "a_id",
                "b_id",
                (
                    dot("__va", "__vb", _DIM) / (F.col("__na") * F.col("__nb"))
                ).alias("sim"),
            )
            .write.mode("overwrite")
            .parquet(f"{staged}/cand_sims")
        )

    return fsio.build_if_absent(
        spark, "retshort",
        fsio.store_ident(
            os.path.join(sf_dir, "embeddings.parquet"),
            f"retshort:v2:{_N_QUERIES}:{_SHORT_N}:{_HN_K}:{_MMR_N}:{_DIM}",
        ),
        build,
    )


def _stored_shortlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted exact top-_SHORT_N shortlist
    (qid, neighbor_id, cosine_sim, rnk) - explicit schema per the r10
    warm-read rule (no inference, no per-file listing)."""
    path = _retrieval_shortlist_store(spark, sf_dir)
    return spark.read.schema(
        "qid long, neighbor_id long, cosine_sim double, rnk int"
    ).parquet(f"{path}/topk")


def _mmr_oracle(n_cand: int, k: int) -> str:
    parts = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f"q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {_N_QUERIES})",
        f"""ranked AS (
  SELECT qid, neighbor_id, rel, row_number() OVER (
           PARTITION BY qid ORDER BY rel DESC, neighbor_id) AS rnk
  FROM (SELECT q.qid, e.vec_id AS neighbor_id,
               {_cos_sql('q.qv', 'e.v')} AS rel
        FROM q JOIN e ON e.vec_id <> q.qid))""",
        f"cand AS (SELECT qid, neighbor_id, rel FROM ranked WHERE rnk <= {n_cand})",
        """cv AS (
  SELECT c.qid, c.neighbor_id, c.rel, e.v
  FROM cand c JOIN e ON e.vec_id = c.neighbor_id)""",
        f"""sims AS (
  SELECT a.qid, a.neighbor_id AS a_id, b.neighbor_id AS b_id,
         {_cos_sql('a.v', 'b.v')} AS sim
  FROM cv a JOIN cv b
    ON a.qid = b.qid AND a.neighbor_id <> b.neighbor_id)""",
        """sel_1 AS (
  SELECT qid, neighbor_id, rel, rel AS mmr_score, 1 AS pick_order
  FROM (SELECT qid, neighbor_id, rel, row_number() OVER (
          PARTITION BY qid ORDER BY rel DESC, neighbor_id) AS rk FROM cand)
  WHERE rk = 1)""",
    ]
    for t in range(2, k + 1):
        prev = f"sel_{t - 1}"
        parts.append(
            f"""ms_{t} AS (
  SELECT s.qid, s.a_id, max(s.sim) AS maxsim
  FROM sims s JOIN {prev} p ON p.qid = s.qid AND p.neighbor_id = s.b_id
  GROUP BY s.qid, s.a_id)"""
        )
        parts.append(
            f"""pick_{t} AS (
  SELECT qid, neighbor_id, rel, score AS mmr_score, {t} AS pick_order FROM (
    SELECT c.qid, c.neighbor_id, c.rel,
           0.5 * c.rel - 0.5 * m.maxsim AS score,
           row_number() OVER (PARTITION BY c.qid
             ORDER BY (0.5 * c.rel - 0.5 * m.maxsim) DESC,
                      c.neighbor_id) AS rk
    FROM cand c
    JOIN ms_{t} m ON m.qid = c.qid AND m.a_id = c.neighbor_id
    WHERE NOT EXISTS (SELECT 1 FROM {prev} p
                      WHERE p.qid = c.qid
                        AND p.neighbor_id = c.neighbor_id))
  WHERE rk = 1)"""
        )
        parts.append(
            f"sel_{t} AS (SELECT * FROM {prev} UNION ALL SELECT * FROM pick_{t})"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT qid, neighbor_id, rel, mmr_score, CAST(pick_order AS INT) AS pick_order
FROM sel_{k}"""
    )


@register("mmr_diversified_top3", oracle=_mmr_oracle(_MMR_N, _MMR_K))
def mmr_diversified_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversification (operators/similarity.mmr_select) over the
    exact top-10 cosine shortlist: greedily pick 3 results per query
    maximizing 0.5*relevance - 0.5*max-similarity-to-picked - the
    re-ranking pass that keeps a RAG/retrieval result list from
    being k near-duplicates of each other, run where it belongs: on
    the post-ANN sliver (N=10 candidates, N^2 pairwise sims per
    query - constants, the corpus is never touched after the
    shortlist). Pick 1 is pure relevance; every later pick trades
    relevance against redundancy. Exact-fold cosines + one pinned
    score tree -> the whole greedy walk hash-matches the unrolled
    per-step oracle.

    r11: both MMR inputs are READ from the persisted
    retrieval-shortlist store - the candidate list (rnk <= 10 cut of
    the top-20 table; brute_force_topk ranks are prefix-stable, so
    the cut IS the top-10) and the candidate-set pairwise cosines
    (``cand_sims``) - so the warm path never touches an embedding
    vector: only the greedy walk's sliver joins run live. Same
    oracle, hash-exact - doubles round-trip parquet bit-for-bit; the
    corpus scan amortizes across every shortlist consumer."""
    from ..operators.similarity import mmr_select

    cand, sims = _mmr_inputs(spark, sf_dir)
    # The greedy walk references cand in every step and sims in every
    # step but the first; one eager materialization of each
    # ~N_QUERIES*N row sliver keeps the composed k-step plan from
    # re-scanning the store per reference.
    cand = barrier(cand.coalesce(1))
    sims = barrier(sims.coalesce(1))
    return mmr_select(cand, sims, _MMR_K, 0.5)


def _mmr_inputs(spark: SparkSession, sf_dir: str):
    """MMR's two store slivers PRE-checkpoint - exposed separately so
    the no-corpus-scan plan assertion reads the real scan plans
    (r11 ADVICE #3: the query's eager barriers rewrite the
    explained plan to Scan ExistingRDD, which would hide a regression
    that reinstated an inline embedding join upstream)."""
    path = _retrieval_shortlist_store(spark, sf_dir)
    cand = (
        _stored_shortlist(spark, sf_dir)
        .filter(F.col("rnk") <= _MMR_N)
        .select("qid", "neighbor_id", F.col("cosine_sim").alias("rel"))
    )
    sims = spark.read.schema(
        "qid long, a_id long, b_id long, sim double"
    ).parquet(f"{path}/cand_sims")
    return cand, sims


# ---- Streaming ANN ingest replay (index end state, driver row - r10)

_ANN_REPLAY_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (SELECT vec_id AS cid, v AS cv FROM e
          WHERE vec_id % 3 = 0 AND vec_id < {3 * _N_CENTROIDS}),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cos_sql('e.v', 'c.cv')} DESC, c.cid) AS rn
    FROM e, cents c) WHERE rn = 1
)
SELECT vec_id, cid AS list_id, CAST(vec_id % 3 AS INT) AS epoch FROM assign
"""


@register("ann_stream_replay", oracle=_ANN_REPLAY_ORACLE)
def ann_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN maintenance loop's index end state, driver-verified -
    extending the replay discipline from the three dedup loops to the
    embedding-ingest loop (streaming/ann.run_incremental_ann_stream):
    replay the embeddings table as three availableNow epochs (vectors
    arrive by vec_id % 3) against an index bootstrapped from an
    OFFLINE codebook (the loop's bootstrap_centroids path - here the
    first 16 epoch-0 vectors, so the model is SQL-expressible), then
    return every corpus row's (vec_id, list_id, epoch). What the hash
    match machine-checks against one DuckDB query:

    - EXACTLY-ONCE: each vector appears ONCE, in its arrival epoch -
      the epoch markers + (epoch, touched-lists) dynamic overwrite
      held across three restarts (a plain append would duplicate
      replayed vectors and silently eat top-k slots);
    - FROZEN-CENTROID assignment: every vector sits in the list of
      its nearest bootstrap centroid by exact-fold cosine (ties to
      the smallest cid) - the hash-aggregate argmin path agrees with
      the oracle's window exactly, per vector.

    The self-training bootstrap (hash-sampled k-means on the first
    batch) stays covered by tests/test_streaming.py; its xxhash coin
    flips are not DuckDB-expressible, which is WHY the replay pins
    the offline-codebook path. Replay runs once per corpus
    (streaming/epochs.replay_store); warm invocations read the index
    corpus. Epoch inputs stage as parquet - doubles never transit a
    text format."""
    from ..streaming.ann import run_incremental_ann_stream
    from ..streaming.epochs import replay_store

    pin_utc(spark)
    cents = None

    def cold(root: str) -> list[DataFrame]:
        nonlocal cents
        e = _emb(spark, sf_dir).select("vec_id", "vec")
        cents = e.filter(
            (F.col("vec_id") % 3 == 0) & (F.col("vec_id") < 3 * _N_CENTROIDS)
        ).select(F.col("vec_id").alias("cid"), F.col("vec").alias("cv"))
        return [e.filter(F.col("vec_id") % 3 == ep) for ep in range(3)]

    root = replay_store(
        spark, "annreplay",
        fsio.store_ident(
            os.path.join(sf_dir, "embeddings.parquet"),
            f"annreplay:v2:{_N_CENTROIDS}:{_DIM}:3",
        ),
        "vec_id long, vec array<double>",
        cold,
        lambda source, root, ep: run_incremental_ann_stream(
            source,
            f"{root}/index",
            f"{root}/ckpt",
            _N_CENTROIDS,
            _DIM,
            bootstrap_centroids=cents,
        ),
        fmt="parquet",
    )
    corpus = spark.read.schema(
        "vec_id long, list_id long, __epoch string"
    ).parquet(f"{root}/index/corpus")
    return corpus.select(
        "vec_id",
        "list_id",
        F.regexp_extract("__epoch", "-([0-9]+)$", 1)
        .cast("int")
        .alias("epoch"),
    )
