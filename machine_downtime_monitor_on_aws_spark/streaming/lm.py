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

Crash semantics: the loop is a :func:`~.epochs.delta_feed` under
:func:`~.epochs.run_epochs` - delta counts are a pure function of the
batch and an epoch's counts live in exactly one partition, so
double-counting, the classic additive-state hazard, is structurally
impossible.

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
from .epochs import delta_feed, run_epochs

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
    return run_epochs(
        doc_stream,
        checkpoint_dir,
        "kn_counts",
        delta_feed(
            counts_path, lambda b: trigram_counts(b, toks_col_factory())
        ),
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
