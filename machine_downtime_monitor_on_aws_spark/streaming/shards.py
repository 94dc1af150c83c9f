"""Streaming training-shard-manifest maintenance: append new packed
sequences to a deterministic data-loading order without renumbering
what's committed.

The batch operator (operators/shards.py) defines a pure hash-order
permutation over a FROZEN pack table. In production packs keep
arriving (the assembly pipeline runs per ingest epoch), and an
append-only manifest cannot insert into a committed order - a pack
hashed into the middle would renumber every later position, breaking
any data loader resuming from a recorded step. This loop keeps the
two guarantees that actually matter and gives up the one that
cannot survive appends:

- KEPT - determinism: shard and order_key are pure functions of the
  pack key (same salted md5 as batch), and within an arrival epoch
  the order is the same hash order; the full order is EPOCH-MAJOR,
  HASH-MINOR - a pure function of (arrival history, salt), so epoch
  N of training re-reads byte-identically and a resumed loader
  continues at the exact step.
- KEPT - stability: committed (shard, position) pairs never change;
  each epoch's rows extend every shard from its stored max.
- GIVEN UP - the frozen-corpus global hash order (re-shard with the
  batch operator at a corpus freeze to recover it; the manifest is
  key+counters, so that re-sort is cheap relative to the corpus).

Crash semantics (:func:`~.epochs.run_epochs`): the manifest is ONE
epoch partition per epoch, and a replayed epoch recomputes its base
offsets EXCLUDING its own partition, so the rewrite is
value-identical. No append-only store exists, so every write is
idempotent.

Scale shape: shard/order_key are scan expressions over the batch;
the within-batch position is a per-shard window on batch-sized data;
the base offsets are one n_shards-row aggregate over the manifest
feed (at 100 TB the feed is the pack table - key+counters, never
text - and the aggregate prunes to max(position) per shard).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .. import fsio
from ..operators.shards import assign_training_shards
from ..session import barrier
from .epochs import run_epochs, write_epoch_partition


def manifest_schema(key_cols_schema: str) -> str:
    """Feed schema: caller key columns + the manifest columns."""
    return (
        key_cols_schema
        + ", shard int, order_key string, position int, __epoch_id string"
    )


def shard_base_positions(
    manifest: DataFrame, n_shards: int
) -> DataFrame:
    """(shard, base): the committed per-shard high-water position,
    dense over all n_shards (absent shards start at 0) so the join
    below never null-pads."""
    spark = manifest.sparkSession
    all_shards = spark.range(n_shards).select(
        F.col("id").cast("int").alias("shard")
    )
    maxes = manifest.groupBy("shard").agg(
        F.max("position").alias("__mx")
    )
    return all_shards.join(maxes, "shard", "left").select(
        "shard", F.coalesce(F.col("__mx"), F.lit(0)).alias("base")
    )


def run_shard_manifest_stream(
    pack_stream: DataFrame,
    key_cols: list[str],
    manifest_path: str,
    checkpoint_dir: str,
    n_shards: int,
    key_cols_schema: str,
) -> StreamingQuery:
    """Wire a stream of packed-sequence rows into the incremental
    manifest: per epoch, hash-assign (shard, order_key), extend each
    shard from its committed max, land the rows in the
    epoch-partitioned manifest. ``key_cols_schema`` is the DDL of the
    stream's columns (e.g. ``"bucket bigint, pack_id int"``) - used
    to read the feed schema-explicitly on replay (the
    _parquet_or_empty lesson)."""
    spark = pack_stream.sparkSession
    feed_schema = manifest_schema(key_cols_schema)

    def _read_feed() -> DataFrame:
        if not fsio.exists(spark, manifest_path):
            return spark.createDataFrame([], feed_schema)
        return spark.read.schema(feed_schema).parquet(manifest_path)

    def body(batch_df: DataFrame, epoch_id: int, epoch_val: str) -> None:
        assigned = barrier(assign_training_shards(batch_df, key_cols, n_shards))
        if assigned.count() == 0:
            return
        committed = _read_feed().filter(F.col("__epoch_id") != F.lit(epoch_val))
        base = shard_base_positions(committed, n_shards)
        out = assigned.join(base, "shard").select(
            *batch_df.columns,  # full passthrough, not just keys
            "shard",
            "order_key",
            (F.col("base") + F.col("position")).cast("int").alias("position"),
        )
        write_epoch_partition(out, manifest_path, epoch_val)

    return run_epochs(pack_stream, checkpoint_dir, "shard_manifest", body)


def read_manifest(
    spark: SparkSession, manifest_path: str, key_cols_schema: str
) -> DataFrame:
    """The accumulated manifest a data loader consumes (explicit
    schema; an absent path is the true empty state)."""
    schema = manifest_schema(key_cols_schema)
    if not fsio.exists(spark, manifest_path):
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(manifest_path)
