"""Persisted IVF (inverted-file) ANN index.

The catalog's ``ivf_knn_top5`` builds its inverted lists inline per
query (oracle-checked); a production corpus builds the index ONCE and
serves many queries from it. This module is that lifecycle:

- :func:`build_ivf_index` writes ``<path>/centroids`` (tiny parquet)
  and ``<path>/corpus`` parquet **partitioned by list_id**;
- :func:`search_ivf_index` broadcasts the centroid table, picks each
  query's top-P lists, and reads ONLY those partitions - the probe
  predicate is a partition filter, so a search over a 100 TB corpus
  scans P/C of it (verified by a plan test on PartitionFilters).

Centroids are the deterministic first-C vectors by id (same scheme as
the oracle-checked inline query; swap in ML KMeans centroids by
passing ``centroids=`` without changing the read path).
"""

from __future__ import annotations

import hashlib
import json
import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import dot, l2_norm
from ..session import barrier, release_checkpoint
from .topk import top_k_per_group


def codebook_digest(pq_centroids: list[list[float]]) -> str:
    """md5 over the codebook's IEEE-754 little-endian bytes - a
    byte-exact identity for "the codes were produced by THIS
    codebook". Stored in the index params at build time and verified
    before every ADC search: scoring codes against a drifted codebook
    returns silently wrong neighbors (the same silent-drift failure
    the MinHash index guards with _check_index_params)."""
    h = hashlib.md5()
    for row in pq_centroids:
        for x in row:
            h.update(struct.pack("<d", float(x)))
    return h.hexdigest()


def _stamp_index_params(spark: SparkSession, path: str, params: dict) -> None:
    from .. import fsio

    fsio.mkdirs(spark, path)
    fsio.write_text(spark, f"{path}/params.json", json.dumps(params, sort_keys=True))


def load_ivfpq_codebooks(spark: SparkSession, path: str) -> list[list[float]]:
    """The PQ codebook an IVF-PQ index at ``path`` was built with,
    read back from the store and RE-VERIFIED against the digest the
    build stamped into params.json - a torn or tampered codebook
    store fails loudly instead of decoding every stored code into
    the wrong reconstruction (the unigram-vocab self-digest
    discipline). Lets consumers re-open a persisted index with no
    out-of-band codebook at all."""
    from .. import fsio

    if not fsio.exists(spark, f"{path}/params.json"):
        raise ValueError(f"no committed ivfpq index at {path!r}")
    params = read_ivf_index_params(spark, path)
    rows = spark.read.parquet(f"{path}/codebooks").collect()
    books = [list(r.cv) for r in sorted(rows, key=lambda r: r.code)]
    actual = codebook_digest(books)
    if params.get("codebook_md5") != actual:
        raise ValueError(
            f"ivfpq codebooks at {path!r} fail the stamped digest "
            f"({params.get('codebook_md5')} != {actual}): torn write "
            "or tampered store"
        )
    return books


def read_ivf_index_params(spark: SparkSession, path: str) -> dict:
    """Params the index at ``path`` was built with ({} for a
    pre-metadata index - the guard is advisory-strict, never lossy,
    matching the MinHash index's read_minhash_index_params)."""
    from .. import fsio

    p = f"{path}/params.json"
    if not fsio.exists(spark, p):
        return {}
    try:
        return json.loads(fsio.read_text(spark, p))
    except ValueError:
        return {}


def _check_ivf_index_params(
    spark: SparkSession, path: str, **given: object
) -> dict:
    """Raise when a caller-declared param contradicts what the index
    at ``path`` was built with; returns the stamped params so callers
    can also FILL unspecified ones (e.g. residual mode) from the
    stamp. Unstamped legacy indexes pass."""
    recorded = read_ivf_index_params(spark, path)
    for k, v in given.items():
        if v is not None and k in recorded and recorded[k] != v:
            raise ValueError(
                f"IVF index {path!r} was built with {k}={recorded[k]!r} "
                f"but this call declares {k}={v!r}; mismatched index "
                "params silently return wrong neighbors"
            )
    return recorded


def _nearest(
    side: DataFrame,
    cents: DataFrame,
    vec_col: str,
    norm_col: str,
    key_cols: list[str],
    dim: int,
    top: int,
) -> DataFrame:
    """Top-``top`` centroids per ``side`` row by cosine, ties to the
    smallest cid. ``top == 1`` (the corpus-assignment path - the BIG
    side of every index build/append) runs as a hash aggregate
    ``min(struct(-sim, cid, payload...))`` instead of a window:
    partial aggregation collapses the N x C candidate rows to N
    map-side BEFORE the exchange, where the window shape shuffles all
    N x C. Same argmin semantics (lexicographic struct min = highest
    sim, then smallest cid; sim negation is exact); probe paths
    (top > 1) keep the window.

    NaN guard (r7 advice): a zero-norm vector or centroid makes the
    cosine 0/0 = NaN, and the two physical paths would DISAGREE on
    it - Spark's desc sort ranks NaN first (NaN > everything) while
    struct-min ranks it last. ``nanvl(sim, -inf)`` pins both paths
    to the same answer: degenerate candidates rank LAST, and an
    all-degenerate row falls to the smallest cid in either shape.
    nanvl is the identity on every non-NaN double, so oracle
    bit-exactness is untouched."""
    sim = F.nanvl(
        dot(vec_col, "cv", dim) / (F.col(norm_col) * F.col("__cn")),
        F.lit(float("-inf")),
    )
    joined = side.crossJoin(F.broadcast(cents)).withColumn("__sim", sim)
    if top == 1:
        cent_payload = [c for c in cents.columns if c != "cid"]
        side_payload = [c for c in side.columns if c not in key_cols]
        packed = F.min(
            F.struct(
                (-F.col("__sim")).alias("__ns"),
                F.col("cid").alias("cid"),
                *[F.col(c).alias(c) for c in cent_payload],
            )
        ).alias("__m")
        g = joined.groupBy(*key_cols).agg(
            packed, *[F.first(c).alias(c) for c in side_payload]
        )
        return g.select(
            *key_cols,
            *side_payload,
            F.col("__m.cid").alias("cid"),
            *[F.col(f"__m.{c}").alias(c) for c in cent_payload],
            (-F.col("__m.__ns")).alias("__sim"),
        )
    return top_k_per_group(
        joined,
        key_cols,
        [F.col("__sim").desc(), F.col("cid").asc()],
        top,
    )


def build_ivf_index(
    df: DataFrame,
    path: str,
    n_centroids: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "vec",
    centroids: DataFrame | None = None,
    epoch_partitioned: bool = False,
) -> None:
    """Write the index: ``centroids`` (cid, cv) + ``corpus`` rows
    (id, vec, norm) partitioned by their nearest centroid's list_id.

    One broadcast join + one partitioned write; the corpus shuffles
    once (into list partitions). Norms are precomputed - queries never
    recompute corpus-side norms.

    ``epoch_partitioned=True`` inserts a leading ``__epoch``
    partition level (the build writes ``__epoch=base``): the layout
    the streaming maintenance loop needs for EXACTLY-ONCE appends -
    each micro-batch dynamic-overwrites its own
    (epoch, touched lists) partitions, so a crash-replayed epoch
    replaces its partial output instead of duplicating vectors
    (duplicate corpus rows would silently eat top-k slots). Parquet
    partition discovery requires one uniform depth per directory, so
    the choice is stamped into params.json and appends validate it."""
    e = df.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
    ).withColumn("__n", l2_norm("vec", dim))
    # explicit None test: DataFrame truthiness is undefined surface
    # (pandas-on-Spark raises on __bool__; classic API may follow)
    if centroids is None:
        centroids = e.filter(F.col("vec_id") < n_centroids).select(
            F.col("vec_id").alias("cid"), F.col("vec").alias("cv")
        )
    cents = centroids
    cents = cents.withColumn("__cn", l2_norm("cv", dim))
    cents.select("cid", "cv").write.mode("overwrite").parquet(f"{path}/centroids")
    assign = _nearest(e, cents, "vec", "__n", ["vec_id"], dim, 1).select(
        "vec_id", "vec", F.col("__n").alias("norm"), F.col("cid").alias("list_id")
    )
    if epoch_partitioned:
        assign.withColumn("__epoch", F.lit("base")).write.mode(
            "overwrite"
        ).partitionBy("__epoch", "list_id").parquet(f"{path}/corpus")
    else:
        assign.write.mode("overwrite").partitionBy("list_id").parquet(
            f"{path}/corpus"
        )
    _stamp_index_params(
        df.sparkSession,
        path,
        {"layout": "ivf", "dim": dim, "epoch_layout": bool(epoch_partitioned)},
    )


def append_to_ivf_index(
    df: DataFrame,
    path: str,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "vec",
    epoch: str | None = None,
) -> None:
    """Add a batch of new vectors to an existing index WITHOUT
    rebuilding: assign each vector against the persisted centroid
    table (broadcast join) and append into the corpus' ``list_id``
    partitions. O(batch), never O(corpus) - the steady-state
    operation of a continuously-ingesting embedding store.

    Centroids stay fixed, which is standard IVF practice: assignment
    must stay consistent with what searches probe. A drifting corpus
    therefore skews list sizes until probes scan most of the data -
    audit with :func:`ivf_list_stats` (and ``ivf_recall_at5`` for the
    recall signal) and let :func:`rebalance_ivf_index_if_needed`
    retrain past the skew bound.

    ``epoch`` (required for epoch-layout indexes, rejected for flat
    ones - mixing depths breaks parquet partition discovery for the
    whole corpus) makes the append EXACTLY-ONCE: the batch
    dynamic-overwrites its own (epoch, touched lists) partitions, and
    because assignment against frozen centroids is deterministic, a
    crash-replayed epoch rewrites exactly the same partitions instead
    of appending duplicates."""
    spark = df.sparkSession
    # raw-vector appends into an IVF-PQ corpus (codes, no vec column)
    # would corrupt the layout; dim drift mis-folds every distance
    stamped = _check_ivf_index_params(spark, path, layout="ivf", dim=dim)
    epoch_layout = bool(stamped.get("epoch_layout", False))
    if epoch_layout and epoch is None:
        raise ValueError(
            f"IVF index {path!r} is epoch-partitioned: pass epoch= "
            "(plain appends would mix partition depths and break "
            "discovery)"
        )
    if not epoch_layout and epoch is not None:
        raise ValueError(
            f"IVF index {path!r} has a flat corpus layout: epoch= "
            "appends require an index built with "
            "epoch_partitioned=True"
        )
    cents = spark.read.parquet(f"{path}/centroids").withColumn(
        "__cn", l2_norm("cv", dim)
    )
    e = df.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
    ).withColumn("__n", l2_norm("vec", dim))
    assign = _nearest(e, cents, "vec", "__n", ["vec_id"], dim, 1).select(
        "vec_id", "vec", F.col("__n").alias("norm"), F.col("cid").alias("list_id")
    )
    if epoch is not None:
        assign.withColumn("__epoch", F.lit(epoch)).write.mode(
            "overwrite"
        ).option("partitionOverwriteMode", "dynamic").partitionBy(
            "__epoch", "list_id"
        ).parquet(f"{path}/corpus")
    else:
        assign.write.mode("append").partitionBy("list_id").parquet(
            f"{path}/corpus"
        )


def build_ivfpq_index(
    df: DataFrame,
    path: str,
    n_centroids: int,
    dim: int,
    m: int,
    pq_centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "vec",
    centroids: DataFrame | None = None,
    residual: bool = False,
) -> None:
    """IVF-PQ: the standard composition - coarse inverted lists for
    pruning, product-quantization codes for compression. The corpus
    partition stores ``(vec_id, pq_code, list_id)`` and NOT the raw
    vector: at 100 TB of float64 embeddings that is the difference
    between an index that fits (64x smaller at dim=64/m=8) and one
    that is just a copy of the data. Assignment + encoding are one
    pass over the corpus (broadcast coarse centroids, literal PQ
    codebooks), one partitioned write.

    ``pq_centroids`` are full-dim codebook vectors (K entries; the
    per-subspace books are their slices) - train them with
    operators/kmeans (train_pq_codebooks) or hash-sample from the
    corpus. ``residual=True`` PQ-encodes ``v - coarse_centroid(v)``
    instead of the raw vector - the standard IVF-ADC formulation
    (Jegou et al. 2011 §IV): residuals concentrate near the origin,
    so the same code budget quantizes them with materially less
    error than corpus-spread raw vectors. Search must score in the
    same mode - the build stamps it (with the codebook digest) into
    ``{path}/params.json`` and search validates.
    """
    from .pq import pq_encode_reconstruct

    e = df.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
    ).withColumn("__n", l2_norm("vec", dim))
    if centroids is None:
        centroids = e.filter(F.col("vec_id") < n_centroids).select(
            F.col("vec_id").alias("cid"), F.col("vec").alias("cv")
        )
    cents = centroids.withColumn("__cn", l2_norm("cv", dim))
    cents.select("cid", "cv").write.mode("overwrite").parquet(f"{path}/centroids")
    assign = _nearest(e, cents, "vec", "__n", ["vec_id"], dim, 1).select(
        "vec_id", "vec", F.col("cv").alias("__cv"), F.col("cid").alias("list_id")
    )
    if residual:
        assign = assign.withColumn(
            "__enc", F.zip_with("vec", "__cv", lambda x, y: x - y)
        )
    else:
        assign = assign.withColumn("__enc", F.col("vec"))
    encoded = pq_encode_reconstruct(assign, pq_centroids, dim, m, vec_col="__enc")
    encoded.select("vec_id", "pq_code", "list_id").write.mode(
        "overwrite"
    ).partitionBy("list_id").parquet(f"{path}/corpus")
    # the index carries its own codebook: consumers (re-open, serve,
    # append) load it from the store instead of threading it
    # out-of-band, and the params stamp (written LAST, the commit
    # marker) pins it by digest so a torn write fails loudly
    df.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(pq_centroids)],
        "code int, cv array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")
    _stamp_index_params(
        df.sparkSession,
        path,
        {
            "layout": "ivfpq",
            "dim": dim,
            "m": m,
            "k": len(pq_centroids),
            "residual": bool(residual),
            "codebook_md5": codebook_digest(pq_centroids),
        },
    )


def append_to_ivfpq_index(
    df: DataFrame,
    path: str,
    dim: int,
    m: int,
    pq_centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "vec",
) -> None:
    """Steady-state growth of an IVF-PQ index: assign the batch
    against the persisted coarse centroids (broadcast, partial-agg
    argmin), PQ-encode in the index's stamped mode (residual or
    raw - read from params.json, never guessed), append into the
    ``list_id`` partitions. O(batch), never O(corpus) - the
    IVF-PQ twin of :func:`append_to_ivf_index`. The declared
    m/dim/codebook are validated against the build stamp first:
    appending codes produced by a different codebook would poison
    every future search of the touched lists."""
    from .pq import pq_encode_reconstruct

    spark = df.sparkSession
    stamped = _check_ivf_index_params(
        spark,
        path,
        layout="ivfpq",
        dim=dim,
        m=m,
        k=len(pq_centroids),
        codebook_md5=codebook_digest(pq_centroids),
    )
    residual = bool(stamped.get("residual", False))
    cents = spark.read.parquet(f"{path}/centroids").withColumn(
        "__cn", l2_norm("cv", dim)
    )
    e = df.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
    ).withColumn("__n", l2_norm("vec", dim))
    assign = _nearest(e, cents, "vec", "__n", ["vec_id"], dim, 1).select(
        "vec_id", "vec", F.col("cv").alias("__cv"), F.col("cid").alias("list_id")
    )
    enc_in = assign.withColumn(
        "__enc",
        F.zip_with("vec", "__cv", lambda x, y: x - y)
        if residual
        else F.col("vec"),
    )
    encoded = pq_encode_reconstruct(enc_in, pq_centroids, dim, m, vec_col="__enc")
    encoded.select("vec_id", "pq_code", "list_id").write.mode(
        "append"
    ).partitionBy("list_id").parquet(f"{path}/corpus")


def search_ivfpq_index_rerank(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int,
    shortlist: int,
    n_probes: int,
    dim: int,
    m: int,
    pq_centroids: list[list[float]],
    vector_source: DataFrame,
    query_id_col: str = "qid",
    query_vec_col: str = "qvec",
    id_col: str = "vec_id",
    vec_col: str = "vec",
) -> DataFrame:
    """Two-stage retrieval (the standard production IVF-ADC shape):
    stage 1 shortlists ``shortlist`` (>= k) candidates per query by
    compressed ADC over the probed lists; stage 2 re-ranks ONLY the
    shortlist by exact cosine against ``vector_source`` (the raw
    vectors the index deliberately does not store - the corpus
    parquet, a feature store). The shortlist is queries x shortlist
    rows - broadcast against the source scan, so the expensive exact
    math runs on a sliver while the corpus-wide scan stayed on
    M-byte codes. Recovers most of the recall the quantization lost;
    the ADC shortlist bounds the exact work. Returns
    (qid, neighbor_id, cosine_sim, rnk)."""
    if shortlist < k:
        raise ValueError(f"shortlist={shortlist} must be >= k={k}")
    cand = search_ivfpq_index(
        spark, path, queries, shortlist, n_probes, dim, m, pq_centroids,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
    ).select("qid", "neighbor_id")
    q = queries.select(
        F.col(query_id_col).alias("qid"), F.col(query_vec_col).alias("qv")
    ).withColumn("__qn", l2_norm("qv", dim))
    cand_q = cand.join(q, "qid")
    src = vector_source.select(
        F.col(id_col).alias("__sid"), F.col(vec_col).alias("__sv")
    ).withColumn("__sn", l2_norm("__sv", dim))
    exact = src.join(
        F.broadcast(cand_q), F.col("__sid") == F.col("neighbor_id")
    ).withColumn(
        "cosine_sim",
        dot("qv", "__sv", dim) / (F.col("__qn") * F.col("__sn")),
    )
    ranked = top_k_per_group(
        exact, ["qid"], [F.col("cosine_sim").desc(), F.col("neighbor_id").asc()], k
    )
    return ranked.select(
        "qid", "neighbor_id", "cosine_sim", F.col("rnk").cast("int").alias("rnk")
    )


def search_ivfpq_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int,
    n_probes: int,
    dim: int,
    m: int,
    pq_centroids: list[list[float]],
    query_id_col: str = "qid",
    query_vec_col: str = "qvec",
    residual: bool | None = None,
) -> DataFrame:
    """ADC search over an IVF-PQ index: probe each query's top-P
    lists (partition-pruned scan, same I/O story as
    :func:`search_ivf_index`), reconstruct candidates from their
    codes against the literal codebooks, rank by approximate squared
    L2 (= sum of subspace distances - the ADC identity). The scan
    reads M-byte codes, never vectors: probe I/O shrinks by the same
    64x the index did. Returns (qid, neighbor_id, approx_l2, rnk).

    The declared m/dim/codebook are validated against what the build
    stamped into ``{path}/params.json`` (codebooks by md5 digest) -
    drifted codebooks or a different m decode every code into the
    wrong reconstruction and return silently wrong neighbors.
    ``residual=None`` scores in the mode the index was built with;
    passing it explicitly cross-checks against the stamp."""
    from ..functions.vectors import sq_l2
    from .pq import _literal_subcodebook

    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    stamped = _check_ivf_index_params(
        spark,
        path,
        layout="ivfpq",
        dim=dim,
        m=m,
        k=len(pq_centroids),
        residual=None if residual is None else bool(residual),
        codebook_md5=codebook_digest(pq_centroids),
    )
    if residual is None:
        residual = bool(stamped.get("residual", False))
    sub = dim // m
    cents = spark.read.parquet(f"{path}/centroids").withColumn(
        "__cn", l2_norm("cv", dim)
    )
    corpus = spark.read.parquet(f"{path}/corpus")
    q = queries.select(
        F.col(query_id_col).alias("qid"), F.col(query_vec_col).alias("qv")
    ).withColumn("__qn", l2_norm("qv", dim))
    probe = _nearest(q, cents, "qv", "__qn", ["qid"], dim, n_probes).select(
        "qid", "qv", F.col("cv").alias("__pcv"), F.col("cid").alias("list_id")
    )
    recon = F.flatten(
        F.array(
            *[
                F.element_at(
                    _literal_subcodebook(pq_centroids, j, sub),
                    F.element_at(F.col("pq_code"), j + 1) + 1,
                )
                for j in range(m)
            ]
        )
    )
    # residual mode: codes quantize v - c, so the comparable query
    # side is q - c of the PROBED list (per (query, list) pair)
    target = (
        F.zip_with("qv", "__pcv", lambda x, y: x - y)
        if residual
        else F.col("qv")
    )
    # recon depends only on pq_code - project it BELOW the probe join
    # (r17, guide §2.3/§8): each corpus row decodes its code ONCE,
    # where the post-join placement re-evaluated the m element_at
    # lookups + flatten once per (candidate, probing-query) pair.
    # Identical expression, identical doubles - approx_l2 and the
    # shortlist are bit-unchanged (oracle parity re-verified).
    scored = (
        corpus.withColumn("__recon", recon)
        .join(F.broadcast(probe), "list_id")
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn("approx_l2", sq_l2(target, F.col("__recon")))
    )
    ranked = top_k_per_group(
        scored, ["qid"], [F.col("approx_l2").asc(), F.col("vec_id").asc()], k
    )
    return ranked.select(
        "qid",
        F.col("vec_id").alias("neighbor_id"),
        "approx_l2",
        F.col("rnk").cast("int").alias("rnk"),
    )


def ivfpq_knn(
    e: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    pq_centroids: list[list[float]],
    dim: int,
    m: int,
    n_probes: int,
    k: int,
    residual: bool = True,
) -> DataFrame:
    """Inline IVF-ADC (no persisted index): coarse-assign the corpus
    to inverted lists, PQ-encode the residuals (v - coarse centroid -
    the standard formulation; ``residual=False`` encodes raw
    vectors), probe each query's top-P lists, and rank candidates by
    the asymmetric distance sqL2(q - c, recon). One broadcast of the
    centroid table, one broadcast of the probe set; the corpus never
    shuffles and only probed lists are scored. Deterministic
    end-to-end (argmin tie-breaks by smallest id), which is what lets
    the catalog's ``ivfpq_knn_top5`` carry a full hash-exact DuckDB
    oracle. ``e``: (vec_id, vec); ``queries``: (qid, qv);
    ``centroids``: (cid, cv). Returns (qid, neighbor_id, approx_l2,
    rnk)."""
    from ..functions.vectors import sq_l2
    from .pq import pq_encode_reconstruct

    ewn = e.select("vec_id", "vec").withColumn("__n", l2_norm("vec", dim))
    cents = centroids.withColumn("__cn", l2_norm("cv", dim))
    assign = _nearest(ewn, cents, "vec", "__n", ["vec_id"], dim, 1).select(
        "vec_id", "vec", F.col("cv").alias("__cv"), F.col("cid").alias("list_id")
    )
    enc_in = assign.withColumn(
        "__enc",
        F.zip_with("vec", "__cv", lambda x, y: x - y)
        if residual
        else F.col("vec"),
    )
    encoded = pq_encode_reconstruct(enc_in, pq_centroids, dim, m, vec_col="__enc")
    q = queries.select("qid", "qv").withColumn("__qn", l2_norm("qv", dim))
    probe = _nearest(q, cents, "qv", "__qn", ["qid"], dim, n_probes).select(
        "qid", "qv", F.col("cv").alias("__pcv"), F.col("cid").alias("list_id")
    )
    target = (
        F.zip_with("qv", "__pcv", lambda x, y: x - y)
        if residual
        else F.col("qv")
    )
    scored = (
        encoded.select("vec_id", "list_id", "__recon")
        .join(F.broadcast(probe), "list_id")
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn("approx_l2", sq_l2(target, F.col("__recon")))
    )
    ranked = top_k_per_group(
        scored, ["qid"], [F.col("approx_l2").asc(), F.col("vec_id").asc()], k
    )
    return ranked.select(
        "qid",
        F.col("vec_id").alias("neighbor_id"),
        "approx_l2",
        F.col("rnk").cast("int").alias("rnk"),
    )


def ivf_list_stats(spark: SparkSession, path: str) -> dict:
    """List-size audit (r5 verdict item #4): ``append_to_ivf_index``
    assigns against FROZEN centroids, so a drifting corpus piles new
    vectors into few lists until probes scan most of the data -
    search cost is proportional to probed-list share, so
    ``max_list_share`` IS the degradation metric. One aggregation
    over the partition column (list_id comes from directory names -
    no vector data is read). Collected output is bounded by
    n_centroids, never by corpus size."""
    sizes = {
        r.list_id: r.n
        for r in spark.read.parquet(f"{path}/corpus")
        .groupBy("list_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    total = sum(sizes.values())
    return {
        "n_lists": len(sizes),
        "n_vectors": total,
        "max_list_size": max(sizes.values(), default=0),
        "max_list_share": (max(sizes.values(), default=0) / total) if total else 0.0,
        "list_sizes": sizes,
    }


def sampled_centroids(
    df: DataFrame,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "vec",
) -> DataFrame:
    """Deterministic uniform centroid sample from the CURRENT corpus:
    the ``n_centroids`` vectors with the smallest
    ``xxhash64(vec_id)`` (id tiebreak). Hash order is uniform over
    the corpus regardless of how ids drifted, so rebuilt centroids
    cover new regions - unlike build's first-C-ids bootstrap scheme,
    which a drifting corpus leaves behind. orderBy+limit plans as a
    per-partition top-k merge (TakeOrdered), not a global sort."""
    return (
        df.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
        .orderBy(F.xxhash64(F.col("cid").cast("string")), F.col("cid"))
        .limit(n_centroids)
    )


def rebuild_ivf_index(
    spark: SparkSession,
    path: str,
    n_centroids: int,
    dim: int,
    centroids: DataFrame | None = None,
) -> None:
    """Retrain the index from its own current contents: fresh
    centroids (hash-sampled from the live corpus by default - drift
    participates), full reassignment, move-aside swap.

    This is the REBUILD arm of split-or-rebuild maintenance. A
    per-list split pass would rewrite only oversized partitions
    (O(skewed lists) instead of O(corpus)) but needs a transaction
    log to keep centroids and partitions consistent across a crash;
    without a table format the atomic unit is the directory swap, so
    the dependency-free realization rebuilds - gated by
    :func:`rebalance_ivf_index_if_needed` so the O(corpus) cost is
    paid only when skew actually crossed the line. Crash mid-swap
    leaves both copies on disk (recoverable), never a half-updated
    index."""
    from .. import fsio

    # An IVF-PQ corpus stores (vec_id, pq_code, list_id) - the raw
    # vectors this rebuild re-assigns from are GONE by design (the
    # compression is the point). Fail with the limitation spelled out
    # instead of an opaque AnalysisException on the missing column;
    # rebuild a PQ index by re-running build_ivfpq_index over a
    # retained vector source (the corpus parquet the index was built
    # from).
    stamped = read_ivf_index_params(spark, path)
    layout = stamped.get("layout")
    probe_cols = spark.read.parquet(f"{path}/corpus").columns
    if layout == "ivfpq" or "vec" not in probe_cols:
        raise ValueError(
            f"rebuild_ivf_index: {path!r} is an IVF-PQ index storing "
            "codes, not raw vectors - it cannot be re-assigned from "
            "its own contents; re-run build_ivfpq_index over a "
            "retained vector source instead"
        )
    # the epoch layout survives a rebuild (appends keep working) -
    # and the rebuild doubles as epoch COMPACTION: the whole corpus
    # lands back in __epoch=base, so long-lived loops don't grow one
    # directory level per micro-batch forever
    epoch_layout = bool(stamped.get("epoch_layout", False))
    corpus = spark.read.parquet(f"{path}/corpus").select("vec_id", "vec")
    cents = centroids if centroids is not None else sampled_centroids(
        corpus, n_centroids
    )
    # barrier both: the rebuild reads the path it will replace, and
    # the swap must not leave a plan re-reading moved directories
    corpus = barrier(corpus)
    cents = barrier(cents)
    tmp = path.rstrip("/") + "__rebuilding"
    fsio.delete(spark, tmp)
    build_ivf_index(
        corpus, tmp, n_centroids, dim, centroids=cents,
        epoch_partitioned=epoch_layout,
    )
    old = path.rstrip("/") + "__old"
    if not fsio.rename(spark, path, old):
        raise OSError(f"rebuild_ivf_index: could not move {path} aside")
    if not fsio.rename(spark, tmp, path):
        raise OSError(f"rebuild_ivf_index: could not publish {tmp}")
    fsio.delete(spark, old)
    release_checkpoint(corpus)
    release_checkpoint(cents)


def rebalance_ivf_index_if_needed(
    spark: SparkSession,
    path: str,
    n_centroids: int,
    dim: int,
    max_list_share: float = 0.10,
) -> bool:
    """Skew gate for sustained appends: when the largest inverted
    list holds more than ``max_list_share`` of the corpus, probing it
    approaches a scan and recall/latency targets silently die -
    rebuild with fresh centroids. The audit is one bounded
    aggregation per call (cheap after every append batch); the
    rebuild it gates is O(corpus), amortized by the threshold.
    Returns True when a rebuild ran.

    The threshold is floored at ``2 / n_centroids``: a PERFECTLY
    balanced index already has max share 1/n_centroids, so any bound
    at or below that is unreachable and the gate would rebuild on
    every call forever without ever getting under it (at
    n_centroids <= 10 the old 0.10 default did exactly that). The
    floor admits up to 2x the uniform share before rebuilding."""
    if n_centroids < 1:
        raise ValueError(f"n_centroids must be >= 1, got {n_centroids}")
    effective_bound = max(max_list_share, 2.0 / n_centroids)
    stats = ivf_list_stats(spark, path)
    if stats["n_vectors"] == 0 or stats["max_list_share"] <= effective_bound:
        return False
    rebuild_ivf_index(spark, path, n_centroids, dim)
    return True


def search_ivf_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int,
    n_probes: int,
    dim: int,
    query_id_col: str = "qid",
    query_vec_col: str = "qvec",
) -> DataFrame:
    """Top-k cosine neighbors per query, probing each query's top-P
    inverted lists.

    The probed list ids land in an ``isin``-style join predicate on
    the corpus' ``list_id`` PARTITION column, so the parquet scan
    prunes to P lists per query batch - the I/O story that makes IVF
    an index rather than a re-bucketing."""
    # a PQ corpus has no vec/norm columns to score; dim drift
    # mis-folds every distance - validate against the build stamp
    _check_ivf_index_params(spark, path, layout="ivf", dim=dim)
    cents = spark.read.parquet(f"{path}/centroids").withColumn(
        "__cn", l2_norm("cv", dim)
    )
    corpus = spark.read.parquet(f"{path}/corpus")
    q = queries.select(
        F.col(query_id_col).alias("qid"), F.col(query_vec_col).alias("qv")
    ).withColumn("__qn", l2_norm("qv", dim))
    probe = _nearest(q, cents, "qv", "__qn", ["qid"], dim, n_probes).select(
        "qid", "qv", "__qn", F.col("cid").alias("list_id")
    )
    # Partition pruning: the probed-list set is tiny (queries x P) ->
    # broadcast side of the join; DPP/AQE prunes corpus partitions to
    # exactly the probed lists.
    pair_sim = dot("qv", "vec", dim) / (F.col("__qn") * F.col("norm"))
    scored = (
        corpus.join(F.broadcast(probe), "list_id")
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn("cosine_sim", pair_sim)
    )
    ranked = top_k_per_group(
        scored, ["qid"], [F.col("cosine_sim").desc(), F.col("vec_id").asc()], k
    )
    return ranked.select(
        "qid",
        F.col("vec_id").alias("neighbor_id"),
        "cosine_sim",
        F.col("rnk").cast("int").alias("rnk"),
    )


def purge_from_ivf_corpus(
    spark: SparkSession, path: str, ids: DataFrame, id_col: str = "vec_id"
) -> int:
    """Targeted deletion (right-to-be-forgotten / takedown) from a
    persisted IVF or IVF-PQ index corpus - the PARTITION-PRUNED
    delete the ``list_id`` layout makes possible, unlike the MinHash
    index's O(index) rewrite:

    1. one column-pruned scan (id + partition columns; the broadcast
       semi-join against the purge set never moves the corpus) finds
       the affected (epoch,) list partitions and per-partition hit
       counts;
    2. ONLY those partitions are rewritten minus the purged ids via
       dynamic partition overwrite - untouched lists (the vast
       majority: takedown sets are tiny) keep their files byte-for-
       byte;
    3. partitions left EMPTY by the purge are removed explicitly: a
       dynamic overwrite only touches partitions present in its
       output, so an all-rows-purged list would otherwise silently
       keep its old files - the subtle trap step 3 exists for
       (unit-tested in tests/test_purge.py, including the
       crash-between-2-and-3 window healed by re-run).

    Works identically for the raw-vector IVF layout and the IVF-PQ
    codes layout (both are ``{path}/corpus`` partitioned by
    ``[__epoch,] list_id``; only vec_id and the partition columns are
    touched). Centroids/codebooks are statistics, not member data -
    they keep serving the remaining corpus and retrain on the normal
    rebuild cadence.

    Crash-safe by idempotence: a crash between steps 2 and 3 leaves
    purged rows visible in emptied partitions only; re-running the
    purge re-detects them and completes the removal. Returns the
    number of corpus rows removed."""
    from functools import reduce
    from operator import or_

    from .. import fsio

    corpus_path = f"{path}/corpus"
    corpus = spark.read.parquet(corpus_path)
    part_cols = [c for c in ("__epoch", "list_id") if c in corpus.columns]
    if not part_cols:
        raise ValueError(f"{corpus_path!r} is not a partitioned IVF corpus")
    pid = ids.select(F.col(id_col).alias("__pid")).distinct()
    hits = corpus.join(
        F.broadcast(pid), corpus["vec_id"] == F.col("__pid"), "left_semi"
    )
    per_part = hits.groupBy(*part_cols).agg(F.count(F.lit(1)).alias("__n")).collect()
    if not per_part:
        return 0
    n_deleted = sum(r["__n"] for r in per_part)
    if "__epoch" in part_cols:
        by_epoch: dict = {}
        for r in per_part:
            by_epoch.setdefault(r["__epoch"], []).append(r["list_id"])
        pred = reduce(
            or_,
            [
                (F.col("__epoch") == e) & F.col("list_id").isin(lists)
                for e, lists in by_epoch.items()
            ],
        )
    else:
        pred = F.col("list_id").isin([r["list_id"] for r in per_part])
    # barrier: the rewrite's lineage reads the very
    # path it dynamic-overwrites (the same reason KeyedParquetStore's
    # plan_upsert materializes) - and it holds only the AFFECTED
    # partitions minus the purged rows, not the corpus
    remaining = barrier(
        corpus.filter(pred).join(
            F.broadcast(pid), corpus["vec_id"] == F.col("__pid"), "left_anti"
        )
    )
    try:
        # partitions the purge empties entirely (computed BEFORE the
        # rewrite, from the still-committed files)
        still = {
            tuple(r[c] for c in part_cols)
            for r in remaining.select(*part_cols).distinct().collect()
        }
        emptied = {
            tuple(r[c] for c in part_cols) for r in per_part
        } - still
        (
            remaining.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*part_cols)
            .parquet(corpus_path)
        )
    finally:
        release_checkpoint(remaining)
    for combo in sorted(emptied):
        sub = "/".join(f"{c}={v}" for c, v in zip(part_cols, combo))
        fsio.delete(spark, f"{corpus_path}/{sub}")
    return int(n_deleted)


# ---- IVF + binary sign-quantization (the FAISS IVF,B-style combo):
# coarse inverted lists for PARTITION PRUNING, 1-bit sign codes for
# the cheapest possible in-list scan (operators/signq.py). The
# corpus partition stores (vec_id, signq_code, list_id) and NOT the
# raw vector: at dim=64 that is 16 bytes/vector - the index is ~32x
# smaller than raw float64 even before pruning, and the probed-list
# scan is XOR+popcount per word. Exact recall returns through the
# standard shortlist re-rank against the raw-vector source (the
# search_ivfpq_index_rerank contract).


def thresholds_digest(thresholds: list[float]) -> str:
    """md5 over the threshold vector's IEEE-754 little-endian bytes -
    the codebook_digest discipline for the sign quantizer: Hamming
    distances between codes cut at DIFFERENT thresholds are silently
    meaningless, so search verifies the stamp before scoring."""
    h = hashlib.md5()
    for x in thresholds:
        h.update(struct.pack("<d", float(x)))
    return h.hexdigest()


def build_ivfbin_index(
    df: DataFrame,
    path: str,
    n_centroids: int,
    dim: int,
    thresholds: list[float],
    id_col: str = "vec_id",
    vec_col: str = "vec",
    centroids: DataFrame | None = None,
    epoch_partitioned: bool = False,
) -> None:
    """Build the IVF-binary index: assign each vector to its nearest
    coarse centroid (broadcast K-row table, corpus never shuffles),
    sign-encode against ``thresholds``
    (operators/signq.signq_fit_thresholds over the corpus, or any
    frozen reference population), and write (vec_id, signq_code,
    list_id) partitioned by list_id. The thresholds persist INSIDE
    the index ({path}/thresholds) and the params stamp pins them by
    digest - consumers re-open the index with no out-of-band state,
    and a torn threshold store fails loudly.

    ``epoch_partitioned=True`` inserts a leading ``__epoch``
    partition level (the build writes ``__epoch=base``) - the
    build_ivf_index layout that lets a streaming loop append each
    micro-batch as an idempotent dynamic overwrite of its own
    (__epoch, list_id) partitions (streaming/ann.py's exactly-once
    contract, now available to the binary tier)."""
    from .signq import signq_encode

    if len(thresholds) != dim:
        raise ValueError(
            f"thresholds has {len(thresholds)} entries, expected dim={dim}"
        )
    # a rebuild changes the directory state the guard cache vouches for
    _invalidate_ivfbin_guard(path)
    e = df.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
    ).withColumn("__n", l2_norm("vec", dim))
    if centroids is None:
        centroids = e.filter(F.col("vec_id") < n_centroids).select(
            F.col("vec_id").alias("cid"), F.col("vec").alias("cv")
        )
    cents = centroids.select("cid", "cv")
    cents.write.mode("overwrite").parquet(f"{path}/centroids")
    assign = _nearest(e, cents.withColumn("__cn", l2_norm("cv", dim)),
                      "vec", "__n", ["vec_id"], dim, 1).select(
        "vec_id", "vec", F.col("cid").alias("list_id")
    )
    encoded = signq_encode(assign, thresholds)
    codes = encoded.select("vec_id", "signq_code", "list_id")
    if epoch_partitioned:
        codes.withColumn("__epoch", F.lit("base")).write.mode(
            "overwrite"
        ).partitionBy("__epoch", "list_id").parquet(f"{path}/corpus")
    else:
        codes.write.mode("overwrite").partitionBy("list_id").parquet(
            f"{path}/corpus"
        )
    df.sparkSession.createDataFrame(
        [(j, float(t)) for j, t in enumerate(thresholds)],
        "j int, thr double",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/thresholds")
    _stamp_index_params(
        df.sparkSession,
        path,
        {
            "layout": "ivfbin",
            "dim": dim,
            "n_words": (dim + 31) // 32,
            "thresholds_md5": thresholds_digest(thresholds),
            "epoch_layout": bool(epoch_partitioned),
        },
    )


def compact_ivfbin_index(spark: SparkSession, path: str) -> None:
    """Fold an epoch-layout IVF-binary corpus back into
    ``__epoch=base`` so a long-lived ingest loop
    (streaming/ann.run_incremental_ivfbin_stream) does not grow one
    directory level per micro-batch forever. The IVF loop gets this
    for free from its skew-gated rebuild; an IVF-binary index stores
    codes, not raw vectors, so it can never rebuild from its own
    contents - but compaction needs no re-assignment at all: codes
    and list assignments are IMMUTABLE once written, so this is a
    pure layout rewrite of (vec_id, signq_code, list_id), leaving
    centroids, thresholds, and the params stamp (digest included)
    untouched. Swap discipline is rebuild_ivf_index's: write the
    compacted corpus beside the live one, move the old aside, move
    the new in, delete the old - a crash mid-swap leaves both copies
    on disk (recoverable), never a half-updated corpus."""
    from .. import fsio

    stamped = _check_ivf_index_params(spark, path, layout="ivfbin")
    if not stamped.get("epoch_layout", False):
        raise ValueError(
            f"IVF-binary index {path!r} has a flat corpus layout: "
            "nothing to compact"
        )
    corpus_dir = f"{path.rstrip('/')}/corpus"
    # the swap below can create exactly the states the serve guard
    # refuses on - drop cached clean verdicts BEFORE touching anything
    # so a crash mid-swap is caught by the next serve in this process
    _invalidate_ivfbin_guard(path)
    codes = spark.read.parquet(corpus_dir).select(
        "vec_id", "signq_code", "list_id"
    )
    # the rewrite reads the directory it replaces - pin the rows
    codes = barrier(codes)
    tmp = corpus_dir + "__compacting"
    fsio.delete(spark, tmp)
    codes.withColumn("__epoch", F.lit("base")).write.mode(
        "overwrite"
    ).partitionBy("__epoch", "list_id").parquet(tmp)
    old = corpus_dir + "__old"
    if not fsio.rename(spark, corpus_dir, old):
        raise OSError(f"compact_ivfbin_index: could not move {corpus_dir}")
    if not fsio.rename(spark, tmp, corpus_dir):
        raise OSError(f"compact_ivfbin_index: could not publish {tmp}")
    fsio.delete(spark, old)
    release_checkpoint(codes)


# session-scoped guard verdicts: the three existence probes cost a
# dozen py4j round-trips per ivfbin SERVE and APPEND (r17's worst
# touched construction regression); a clean verdict is re-usable for
# the life of the session because the only in-process events that can
# create the guarded states (compaction swap, index rebuild) funnel
# through _invalidate_ivfbin_guard below. A CONCURRENT process
# compacting while this one serves was never protected - the original
# per-call probes had the same check-then-read window.
import weakref as _weakref

_IVFBIN_GUARD_OK: "_weakref.WeakKeyDictionary[SparkSession, set[str]]" = (
    _weakref.WeakKeyDictionary()
)


def _invalidate_ivfbin_guard(path: str) -> None:
    """Drop every session's cached clean-guard verdict for ``path`` -
    called by the in-process mutators (compact, rebuild) so the next
    serve/append re-probes the directory state.

    Must-invalidate contract: any in-process code that can create a
    guarded state (a ``corpus__old``/``corpus__compacting`` side dir,
    or a missing ``corpus`` under a stamped index) must call this
    after it touches the directory, or a cached clean verdict masks
    the state. :func:`purge_from_ivf_corpus`, which also serves ivfbin
    corpora, rewrites and deletes only leaf ``list_id`` partitions
    inside ``corpus``, so it cannot create a guarded state and does
    not call it. Deletions by another process are outside the contract."""
    key = path.rstrip("/")
    for paths in _IVFBIN_GUARD_OK.values():
        paths.discard(key)


def _guard_ivfbin_corpus(spark: SparkSession, path: str) -> None:
    """Refuse to serve or grow an IVF-binary index whose compaction
    swap was interrupted (r16 ADVICE #1): a crash between
    compact_ivfbin_index's two renames leaves ``corpus__old`` (and
    possibly no live ``corpus``) behind, and a later epoch append
    would silently RECREATE the corpus dir holding only new epochs -
    the index would then serve a truncated corpus with nothing
    failing. Leftover side dirs or a missing corpus on a stamped
    index are therefore hard errors with the recovery spelled out.

    Cost discipline (r17 verdict #4): ONE child listing of the index
    root replaces three existence probes, and a clean verdict is
    cached per (session, path) - the serve path re-checks only after
    an in-process compaction/rebuild invalidates it. The cache is
    sound only under :func:`_invalidate_ivfbin_guard`'s
    must-invalidate contract."""
    from .. import fsio

    root = path.rstrip("/")
    ok = _IVFBIN_GUARD_OK.get(spark)
    if ok is not None and root in ok:
        return
    names = set(fsio.list_names(spark, root))
    corpus = f"{root}/corpus"
    old = corpus + "__old"
    tmp = corpus + "__compacting"
    if "corpus__old" in names:
        raise RuntimeError(
            f"ivfbin index {path!r}: {old} exists - a compaction swap "
            "was interrupted. Recover: if corpus/ is missing, rename "
            "corpus__old back to corpus/; if corpus/ exists and is "
            "complete, delete corpus__old. Refusing to read or append "
            "until resolved."
        )
    if "corpus__compacting" in names:
        raise RuntimeError(
            f"ivfbin index {path!r}: {tmp} exists - a compaction was "
            "interrupted before its swap. Delete corpus__compacting "
            "(the live corpus is authoritative) and re-run compaction."
        )
    if "corpus" not in names:
        raise RuntimeError(
            f"ivfbin index {path!r} is stamped (params.json) but has "
            "no corpus/ directory - appending would recreate a "
            "truncated corpus. Restore the corpus (or rebuild the "
            "index) first."
        )
    _IVFBIN_GUARD_OK.setdefault(spark, set()).add(root)


def load_ivfbin_thresholds(spark: SparkSession, path: str) -> list[float]:
    """The sign thresholds an IVF-binary index was built with, read
    from the store and re-verified against the stamped digest (the
    load_ivfpq_codebooks discipline)."""
    from .. import fsio

    if not fsio.exists(spark, f"{path}/params.json"):
        raise ValueError(f"no committed ivfbin index at {path!r}")
    params = read_ivf_index_params(spark, path)
    rows = spark.read.parquet(f"{path}/thresholds").collect()
    thr = [0.0] * len(rows)
    for r in rows:
        thr[r["j"]] = float(r["thr"])
    actual = thresholds_digest(thr)
    if params.get("thresholds_md5") != actual:
        raise ValueError(
            f"ivfbin thresholds at {path!r} fail the stamped digest "
            f"({params.get('thresholds_md5')} != {actual}): torn write "
            "or tampered store"
        )
    return thr


def search_ivfbin_index_rerank(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int,
    shortlist: int,
    n_probes: int,
    dim: int,
    vector_source: DataFrame,
    query_id_col: str = "qid",
    query_vec_col: str = "qvec",
    id_col: str = "vec_id",
    vec_col: str = "vec",
) -> DataFrame:
    """Two-stage IVF-binary retrieval: stage 1 probes each query's
    top-P lists (the broadcast probe join dynamic-partition-prunes
    the corpus scan to P partitions per query - the
    search_ivf_index I/O story, over 1-bit codes) and shortlists
    ``shortlist`` candidates by XOR+popcount Hamming; stage 2
    re-ranks ONLY that sliver by exact squared L2 against
    ``vector_source`` (the raw vectors the index deliberately does
    not store). Thresholds load from the index and are
    digest-verified. Returns (qid, neighbor_id, hamming, sq_dist,
    rnk) - the signq_topk_rerank contract, so with all lists probed
    and a full-corpus shortlist the two paths agree row-for-row
    (test-pinned)."""
    from ..functions.vectors import sq_l2
    from .signq import hamming_distance, signq_encode
    from .topk import top_k_per_group

    if shortlist < k:
        raise ValueError(f"shortlist={shortlist} must be >= k={k}")
    _check_ivf_index_params(spark, path, layout="ivfbin", dim=dim)
    _guard_ivfbin_corpus(spark, path)
    thr = load_ivfbin_thresholds(spark, path)
    cents = spark.read.parquet(f"{path}/centroids").withColumn(
        "__cn", l2_norm("cv", dim)
    )
    corpus = spark.read.parquet(f"{path}/corpus")
    q = signq_encode(
        queries.select(
            F.col(query_id_col).alias("qid"),
            F.col(query_vec_col).alias("qv"),
        ),
        thr,
        vec_col="qv",
        code_col="__qcode",
    ).withColumn("__qn", l2_norm("qv", dim))
    probe = _nearest(q, cents, "qv", "__qn", ["qid"], dim, n_probes).select(
        "qid", "qv", "__qcode", F.col("cid").alias("list_id")
    )
    scored = (
        corpus.join(F.broadcast(probe), "list_id")
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn(
            "hamming",
            hamming_distance(F.col("__qcode"), F.col("signq_code")),
        )
    )
    cand = top_k_per_group(
        scored, ["qid"], [F.col("hamming").asc(), F.col("vec_id").asc()],
        shortlist,
    ).select("qid", "qv", F.col("vec_id").alias("neighbor_id"), "hamming")
    src = vector_source.select(
        F.col(id_col).alias("__sid"), F.col(vec_col).alias("__sv")
    )
    exact = src.join(
        F.broadcast(cand), F.col("__sid") == F.col("neighbor_id")
    ).withColumn("sq_dist", sq_l2(F.col("qv"), F.col("__sv")))
    ranked = top_k_per_group(
        exact, ["qid"], [F.col("sq_dist").asc(), F.col("neighbor_id").asc()], k
    )
    return ranked.select(
        "qid",
        "neighbor_id",
        "hamming",
        "sq_dist",
        F.col("rnk").cast("int").alias("rnk"),
    )


def append_to_ivfbin_index(
    df: DataFrame,
    path: str,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "vec",
    epoch: str | None = None,
) -> None:
    """Steady-state growth of an IVF-binary index: assign the batch
    against the persisted coarse centroids (broadcast, partial-agg
    argmin), sign-encode against the index's OWN digest-verified
    thresholds (loaded, never passed - a batch encoded at drifted
    thresholds would poison every future Hamming scan of the touched
    lists), append into the ``list_id`` partitions. O(batch), never
    O(corpus) - the binary twin of :func:`append_to_ivfpq_index`.
    Thresholds stay FROZEN at build time by design: sign codes are
    only mutually comparable under one threshold vector, so corpus
    drift is a rebuild signal (the drift monitor's job), not an
    append-time adjustment.

    ``epoch`` (epoch-layout indexes only) makes the append an
    idempotent dynamic overwrite of this batch's own
    (__epoch, list_id) partitions - a crash-replayed epoch rewrites
    identical rows instead of duplicating them (the
    append_to_ivf_index exactly-once contract)."""
    from .signq import signq_encode

    spark = df.sparkSession
    stamped = _check_ivf_index_params(spark, path, layout="ivfbin", dim=dim)
    _guard_ivfbin_corpus(spark, path)
    epoch_layout = bool(stamped.get("epoch_layout", False))
    if epoch_layout and epoch is None:
        raise ValueError(
            f"IVF-binary index {path!r} is epoch-partitioned: pass "
            "epoch= (plain appends would mix partition depths and "
            "break discovery)"
        )
    if not epoch_layout and epoch is not None:
        raise ValueError(
            f"IVF-binary index {path!r} has a flat corpus layout: "
            "epoch= appends require an index built with "
            "epoch_partitioned=True"
        )
    thr = load_ivfbin_thresholds(spark, path)
    cents = spark.read.parquet(f"{path}/centroids").withColumn(
        "__cn", l2_norm("cv", dim)
    )
    e = df.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
    ).withColumn("__n", l2_norm("vec", dim))
    assign = _nearest(e, cents, "vec", "__n", ["vec_id"], dim, 1).select(
        "vec_id", "vec", F.col("cid").alias("list_id")
    )
    encoded = signq_encode(assign, thr)
    codes = encoded.select("vec_id", "signq_code", "list_id")
    if epoch is not None:
        codes.withColumn("__epoch", F.lit(epoch)).write.mode(
            "overwrite"
        ).option("partitionOverwriteMode", "dynamic").partitionBy(
            "__epoch", "list_id"
        ).parquet(f"{path}/corpus")
    else:
        codes.write.mode("append").partitionBy("list_id").parquet(
            f"{path}/corpus"
        )
