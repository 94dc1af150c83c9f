"""Streaming Kneser-Ney LM-counts maintenance: the trigram model
retrains incrementally as documents arrive.

The KN model's entire state is the trigram-occurrence count table
(operators/kneser_ney.trigram_counts) - every context total and
continuation statistic derives from that one table's values and key
set. Occurrence counts merge ADDITIVELY across document batches, so
the production loop never re-reads the corpus: each micro-batch
lands its own delta counts in an epoch-partitioned feed, and a
reader folds the feed by key to recover EXACTLY the counts a full
retrain over every document ever ingested would produce (integer
sums are associative and commutative - the equality is test-pinned,
and scoring from the folded store is bit-identical to
kn_trigram_doc_scores on the accumulated corpus).

This is deliberately NOT possible for countDistinct-style statistics
- which is why the operator derives ALL of them from the c3 key set
instead of storing them: a stored N1+(w1 w2 .) could not merge from
deltas without the full type table anyway, and the type table IS the
counts table's keys.

Crash semantics (the decontamination loop's protocol): the delta
feed is ONE epoch-partitioned dynamic overwrite keyed by the
checkpoint-lineage token - a replayed epoch replaces its own partial
output with identical rows (delta counts are a pure function of the
batch); the epoch marker gates committed replays; stale markers from
dead lineages are swept. Every write idempotent - double-counting,
the classic additive-state hazard, is structurally impossible
because an epoch's counts live in exactly one partition.

Scale shape: per batch, one batch-sized explode + one map-side-
combining count; the feed holds vocab-sized delta rows per epoch;
the fold is one keyed aggregation of the feed (compaction of old
epochs follows the established epoch-feed pattern when the epoch
count grows - fold N partitions into one, counts unchanged).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .. import fsio
from ..operators.kneser_ney import trigram_counts
from ..session import barrier, barrier_scope
from .ingest import _checkpoint_sink_token

KN_DELTA_SCHEMA = "w1 string, w2 string, w3 string, c3 long, __epoch_id string"


def run_kn_counts_stream(
    doc_stream: DataFrame,
    counts_path: str,
    checkpoint_dir: str,
    toks_col_factory,
) -> StreamingQuery:
    """Wire a document stream into the incremental KN trainer: per
    epoch, the batch's trigram counts land under their own partition
    of ``counts_path``. ``toks_col_factory`` is a zero-arg callable
    returning the tokenization Column (a factory, not a Column - the
    arity/closure lesson from the PySpark-lambda gotcha: building
    the expression fresh per batch keeps it bound to the batch
    plan)."""
    spark = doc_stream.sparkSession
    token = _checkpoint_sink_token(spark, checkpoint_dir)
    marker_dir = checkpoint_dir.rstrip("/") + "/kn_counts_epochs"
    fsio.mkdirs(spark, marker_dir)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        epoch_val = f"{token}-{epoch_id}"
        marker = f"{marker_dir}/{epoch_val}"
        if fsio.exists(spark, marker):
            return
        # pin the batch's counts once: count() and write would each
        # re-derive the explode+aggregate otherwise (the sibling
        # decontam/shards loops' barrier discipline)
        with barrier_scope(spark):
            delta = barrier(trigram_counts(batch_df, toks_col_factory()))
            if delta.count() > 0:
                delta.withColumn("__epoch_id", F.lit(epoch_val)).write.mode(
                    "overwrite"
                ).option("partitionOverwriteMode", "dynamic").partitionBy(
                    "__epoch_id"
                ).parquet(counts_path)
            fsio.write_text_atomic(spark, marker, epoch_val)
            for old in fsio.list_names(spark, marker_dir):
                if (
                    old == epoch_val
                    or old.endswith(".tmp")
                    or old.startswith(".")
                ):
                    continue
                old_tok, _, old_eid = old.rpartition("-")
                stale = old_tok != token or (
                    old_eid.isdigit() and int(old_eid) < epoch_id
                )
                if stale:
                    fsio.delete(spark, f"{marker_dir}/{old}", recursive=False)

    return (
        doc_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def kn_counts_from_store(spark: SparkSession, counts_path: str) -> DataFrame:
    """(w1, w2, w3, c3): the accumulated model state - the delta feed
    folded by key. Integer sums are partition/epoch-order
    independent, so this equals trigram_counts over every document
    ever ingested, exactly (explicit schema: an absent path is the
    true empty model)."""
    if not fsio.exists(spark, counts_path):
        feed = spark.createDataFrame([], KN_DELTA_SCHEMA)
    else:
        feed = spark.read.schema(KN_DELTA_SCHEMA).parquet(counts_path)
    return feed.groupBy("w1", "w2", "w3").agg(F.sum("c3").alias("c3"))
