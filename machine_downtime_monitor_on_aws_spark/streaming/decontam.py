"""Streaming eval-set decontamination: re-flag only touched docs as
the benchmark grows.

The batch decontamination pass (plans/textops.py:
benchmark_contamination - per training doc, distinct n-gram overlap
with the eval set) assumes a FROZEN benchmark. In production the
benchmark set grows (new eval suites, new held-out splits), and
re-running the full corpus x full benchmark join per update is
O(corpus) every time. This loop makes the update O(delta):

Each micro-batch of NEW benchmark documents is (1) shingled to its
distinct n-gram set, (2) reduced to the grams never seen in any
prior epoch (left-anti vs the persisted gram index - a replayed
epoch excludes only OTHER epochs' partitions, so its own recompute
is idempotent), (3) probed against the corpus's persisted shingle
index (operators/allpairs - the SAME bucketed postings table the
exact-dedup loop maintains, shingle_n set to the decontamination
window): the new-gram sliver BROADCASTS into the index scan, so per
batch the corpus is touched only where a new gram actually lands,
and (4) the per-doc hit counts append to an epoch-partitioned
contamination-delta feed. Because each benchmark gram lands in
exactly ONE epoch partition, summing a doc's deltas across epochs
equals the batch pass against the full accumulated benchmark -
the invariant the replay catalog query hash-checks end to end.

Crash semantics (:func:`~.epochs.run_epochs`): BOTH sinks are epoch
partitions. Unlike the dedup loops there is no
unconditionally-appended store at all - every write is idempotent,
so the crash window needs no count-safety argument.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .. import fsio
from ..functions.text import shingles
from ..session import barrier
from .epochs import run_epochs, write_epoch_partition

GRAMS_SCHEMA = "g string, __epoch_id string"
FLAGS_SCHEMA = "doc_id long, n_new_shared int, __epoch_id string"


def _read_or_empty(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Explicit-schema read of a feed that may not exist yet (first
    epoch) - inference-free, so an absent/empty path is the true
    empty state (the _parquet_or_empty lesson)."""
    if not fsio.exists(spark, path):
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(path)


def benchmark_gram_deltas(
    batch: DataFrame,
    seen_grams: DataFrame,
    n: int,
    text_col: str = "text",
) -> DataFrame:
    """The batch's distinct n-grams minus every gram any prior epoch
    already indexed: one distinct over benchmark-delta-sized rows,
    one left-anti join against the (benchmark-sized) gram index.

    A NULL text shingles to a NULL gram, and NULL never equals NULL
    in the anti-join - an unfiltered NULL would read as "new" EVERY
    epoch, re-triggering writes for all-duplicate batches and
    breaking the O(delta) contract under malformed input (the r14
    drift-gate lesson: a bad row may cost coverage of itself, never
    loop health). Filtered here, once, for both sinks."""
    g = (
        batch.select(
            F.explode(
                F.array_distinct(shingles(F.col(text_col), n))
            ).alias("g")
        )
        .filter(F.col("g").isNotNull())
        .distinct()
    )
    return g.join(seen_grams.select("g"), "g", "left_anti")


def probe_corpus_index(
    spark: SparkSession,
    new_grams: DataFrame,
    corpus_index_table: str,
) -> DataFrame:
    """(doc_id, n_new_shared): per corpus doc, how many of the NEW
    benchmark grams it contains. The gram sliver broadcasts into the
    postings scan (the index side never shuffles - its bucketed
    layout is irrelevant here because nothing joins doc-side), and
    the count partially aggregates map-side. Postings are distinct
    (shingle, doc_id) rows by construction, so count(*) IS the
    distinct-gram overlap."""
    idx = spark.table(corpus_index_table).select("shingle", "doc_id")
    return (
        idx.join(
            F.broadcast(new_grams.select(F.col("g").alias("shingle"))),
            "shingle",
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("int").alias("n_new_shared"))
    )


def run_decontamination_stream(
    benchmark_stream: DataFrame,
    corpus_index_table: str,
    grams_path: str,
    flags_path: str,
    checkpoint_dir: str,
    n: int = 3,
    text_col: str = "text",
) -> StreamingQuery:
    """Wire a stream of new benchmark documents into the incremental
    decontamination loop: per epoch, new-gram extraction -> corpus
    index probe -> epoch-partitioned delta feed + gram index. The
    corpus's shingle index (``corpus_index_table``, built once with
    operators/allpairs.write_shingle_index at ``shingle_n=n``) is
    read-only here - the exact-dedup ingest loop may keep appending
    to it independently; a doc ingested AFTER a benchmark epoch gets
    its overlap flagged by that loop's own probe or the next full
    audit, the standard split of duties."""
    spark = benchmark_stream.sparkSession

    def body(batch_df: DataFrame, epoch_id: int, epoch_val: str) -> None:
        seen = _read_or_empty(spark, grams_path, GRAMS_SCHEMA).filter(
            F.col("__epoch_id") != F.lit(epoch_val)
        )
        new_grams = barrier(
            benchmark_gram_deltas(batch_df, seen, n, text_col=text_col)
        )
        if new_grams.count() > 0:
            deltas = probe_corpus_index(spark, new_grams, corpus_index_table)
            write_epoch_partition(deltas, flags_path, epoch_val)
            write_epoch_partition(new_grams, grams_path, epoch_val)

    return run_epochs(benchmark_stream, checkpoint_dir, "decontam", body)


def contamination_totals(spark: SparkSession, flags_path: str) -> DataFrame:
    """(doc_id, n_shared_ngrams, n_epochs): the accumulated view a
    filtering pass consumes - per-doc delta sum across epochs (equal
    to the batch pass against the full benchmark, since each gram
    lands in exactly one epoch) and how many updates touched it."""
    return (
        _read_or_empty(spark, flags_path, FLAGS_SCHEMA)
        .groupBy("doc_id")
        .agg(
            F.sum("n_new_shared").cast("int").alias("n_shared_ngrams"),
            F.countDistinct("__epoch_id").cast("int").alias("n_epochs"),
        )
    )
