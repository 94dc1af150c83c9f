"""Streaming maintenance for the remaining sketch family: CMS cell
counts, Bloom set-bits, and KMV k-minimum hashes, each kept fresh in
O(delta) per micro-batch.

With qsketch (bin counts) and the KN trainer (trigram counts) the
repo already maintains its ADDITIVE summaries incrementally; this
module completes the picture with the two other merge algebras a
sketch can have, under ONE shared loop
(:func:`run_delta_sketch_stream` - a :func:`~.epochs.delta_feed`
under :func:`~.epochs.run_epochs`, with params stamped into the feed
directory and verified by every writer/reader):

- **CMS (additive)**: the per-batch delta is the batch's own cell
  counts; the fold sums by (r, c). Integer sums are epoch/partition-
  order independent, so fold == one-shot build EXACTLY.
- **Bloom (OR-lattice)**: the delta is the batch's distinct set
  bits; the fold is DISTINCT over the feed. Bitwise OR is
  idempotent + commutative + associative, so not only is the fold
  exact - a double-delivered delta cannot even corrupt it (the
  epoch protocol still prevents it, but the algebra is a second
  line of defense).
- **KMV (k-min lattice)**: the delta is the batch's k smallest
  distinct hash fractions (<= k rows per epoch); the fold is the
  k-min of the distinct union. kmin_k(A ∪ B) ==
  kmin_k(kmin_k(A) ∪ kmin_k(B)) - the standard KMV merge theorem -
  so the folded estimate equals the one-shot operator's exactly.
  (n_hashed, the sketch's exact-count fallback input, is NOT
  delta-mergeable - batches overlap in values - so the store serves
  the estimator once the stream has seen >= k distinct values;
  below that a consumer does the exact count on the corpus, which
  is by definition small.)

Every delta is a bounded row count (depth x width cells, n_bits
bits, k hashes) however large the batch - the feed grows by at most
that per epoch, and the fold reads sketch-sized data, never the
corpus.
"""

from __future__ import annotations

import json
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .. import fsio
from ..operators.sketch import bloom_build, cms_build
from .epochs import delta_feed, run_epochs

_PARAMS_NAME = "_sketch_params.json"

CMS_DELTA_SCHEMA = "r int, c long, ct long, __epoch_id string"
BLOOM_DELTA_SCHEMA = "bit long, __epoch_id string"
KMV_DELTA_SCHEMA = "f long, __epoch_id string"


def _stamp_or_check_params(
    spark: SparkSession, feed_path: str, params: dict
) -> None:
    """First writer stamps the sketch params as a sidecar; every
    later writer/reader verifies them - deltas cut under different
    params must never fold together (the qsketch grid rule)."""
    p = f"{feed_path.rstrip('/')}/{_PARAMS_NAME}"
    want = dict(sorted(params.items()))
    if fsio.exists(spark, p):
        got = json.loads(fsio.read_text(spark, p))
        if got != want:
            raise ValueError(
                f"sketch feed at {feed_path!r} was cut with params {got}, "
                f"this writer/reader declares {want}; mismatched params "
                "fold into a silently wrong sketch"
            )
    else:
        fsio.mkdirs(spark, feed_path)
        fsio.write_text_atomic(spark, p, json.dumps(want, sort_keys=True))


def run_delta_sketch_stream(
    doc_stream: DataFrame,
    feed_path: str,
    checkpoint_dir: str,
    delta_fn: Callable[[DataFrame], DataFrame],
    params: dict,
    marker_name: str,
) -> StreamingQuery:
    """The shared loop: per epoch, ``delta_fn(batch)`` (a bounded
    sketch-delta DataFrame, a pure function of the batch) lands under
    its own ``__epoch_id`` partition of ``feed_path``."""
    _stamp_or_check_params(doc_stream.sparkSession, feed_path, params)
    return run_epochs(
        doc_stream, checkpoint_dir, marker_name, delta_feed(feed_path, delta_fn)
    )


def _read_feed(
    spark: SparkSession, feed_path: str, schema: str, params: dict
) -> DataFrame:
    if fsio.exists(spark, feed_path):
        _stamp_or_check_params(spark, feed_path, params)
        return spark.read.schema(schema).parquet(feed_path)
    return spark.createDataFrame([], schema)


# ---- CMS (additive: fold = sum by cell) ----


def run_cms_stream(
    doc_stream: DataFrame,
    feed_path: str,
    checkpoint_dir: str,
    value_col: str,
    depth: int,
    width: int,
    salt: str = "cms",
) -> StreamingQuery:
    """Maintain a count-min sketch over a streamed value column:
    each epoch appends the batch's own <= depth x width cell-count
    delta."""
    params = {"kind": "cms", "depth": depth, "width": width, "salt": salt}

    def delta(batch_df: DataFrame) -> DataFrame:
        return cms_build(batch_df, value_col, depth, width, salt).select(
            F.col("r").cast("int"),
            F.col("c").cast("long"),
            F.col("ct").cast("long"),
        )

    return run_delta_sketch_stream(
        doc_stream, feed_path, checkpoint_dir, delta, params, "cms"
    )


def cms_from_store(
    spark: SparkSession,
    feed_path: str,
    depth: int,
    width: int,
    salt: str = "cms",
) -> DataFrame:
    """(r, c, ct): the accumulated sketch - the delta feed folded by
    cell. Equals cms_build over every row ever ingested exactly
    (additive integer counts)."""
    params = {"kind": "cms", "depth": depth, "width": width, "salt": salt}
    feed = _read_feed(spark, feed_path, CMS_DELTA_SCHEMA, params)
    return feed.groupBy("r", "c").agg(F.sum("ct").alias("ct"))


# ---- Bloom (OR-lattice: fold = distinct) ----


def run_bloom_stream(
    doc_stream: DataFrame,
    feed_path: str,
    checkpoint_dir: str,
    key_col: str,
    n_bits: int,
    n_hashes: int,
    salt: str = "bloom",
) -> StreamingQuery:
    """Maintain a Bloom filter over streamed keys: each epoch
    appends the batch's distinct set bits (<= n_bits rows)."""
    params = {
        "kind": "bloom",
        "n_bits": n_bits,
        "n_hashes": n_hashes,
        "salt": salt,
    }

    def delta(batch_df: DataFrame) -> DataFrame:
        return bloom_build(batch_df, key_col, n_bits, n_hashes, salt).select(
            F.col("bit").cast("long")
        )

    return run_delta_sketch_stream(
        doc_stream, feed_path, checkpoint_dir, delta, params, "bloom"
    )


def bloom_from_store(
    spark: SparkSession,
    feed_path: str,
    n_bits: int,
    n_hashes: int,
    salt: str = "bloom",
) -> DataFrame:
    """(bit): the accumulated filter - DISTINCT over the feed.
    Equals bloom_build over every key ever ingested exactly
    (set union is idempotent/commutative/associative)."""
    params = {
        "kind": "bloom",
        "n_bits": n_bits,
        "n_hashes": n_hashes,
        "salt": salt,
    }
    feed = _read_feed(spark, feed_path, BLOOM_DELTA_SCHEMA, params)
    return feed.select("bit").distinct()


# ---- KMV (k-min lattice: fold = k smallest of the distinct union) ----


def _kmv_frac(value_col: str, salt: str):
    """The 52-bit hash fraction of operators/sampling.
    kmv_distinct_estimate, as a LONG (stored exactly; consumers
    divide by 16^13 - which that operator's estimator does)."""
    h = F.md5(F.concat(F.lit(f"{salt}:"), F.col(value_col).cast("string")))
    return F.conv(F.substring(h, 1, 13), 16, 10).cast("long")


def run_kmv_stream(
    doc_stream: DataFrame,
    feed_path: str,
    checkpoint_dir: str,
    value_col: str,
    k: int,
    salt: str = "kmv",
) -> StreamingQuery:
    """Maintain a KMV distinct-count sketch over a streamed value
    column: each epoch appends the batch's k smallest distinct hash
    fractions (<= k rows). kmin_k(A ∪ B) == kmin_k(kmin_k(A) ∪
    kmin_k(B)), so no information the final k-min needs is ever
    dropped."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    params = {"kind": "kmv", "k": k, "salt": salt}

    def delta(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.select(_kmv_frac(value_col, salt).alias("f"))
            .distinct()
            .orderBy(F.col("f").asc())
            .limit(k)
        )

    return run_delta_sketch_stream(
        doc_stream, feed_path, checkpoint_dir, delta, params, "kmv"
    )


def kmv_from_store(
    spark: SparkSession, feed_path: str, k: int, salt: str = "kmv"
) -> DataFrame:
    """One row (n_in_sketch, kmv_estimate): the accumulated sketch's
    estimate - distinct union of the per-epoch k-min deltas, k
    smallest kept, estimate = (k-1) / kth_min_fraction, exactly the
    one-shot operator's estimator on the same k-min set (test-pinned
    equal). With fewer than k distinct values ever seen the estimate
    degrades to the exact count of the k-min set (the operator's own
    fallback arithmetic on an identical set)."""
    params = {"kind": "kmv", "k": k, "salt": salt}
    feed = _read_feed(spark, feed_path, KMV_DELTA_SCHEMA, params)
    top = feed.select("f").distinct().orderBy(F.col("f").asc()).limit(k)
    two52 = float(16**13)
    return top.agg(
        F.count(F.lit(1)).alias("n_in_sketch"),
        F.when(
            F.count(F.lit(1)) < F.lit(k),
            F.count(F.lit(1)).cast("double"),
        )
        .otherwise(
            # the one-shot operator's exact IEEE operation order
            # ((k-1) / (max/2^52)) - same divisions, same order, so
            # the store-served estimate is bit-identical
            F.lit(float(k - 1))
            / (F.max("f").cast("double") / F.lit(two52))
        )
        .alias("kmv_estimate"),
    )
