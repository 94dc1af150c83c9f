"""Streaming quantile-sketch maintenance: per-source quality-score
percentile cutoffs that refresh in O(delta) as documents arrive.

The sketch state (operators/qsketch.sketch_bins - per-source
fixed-grid bin counts) merges additively, so the production loop is
a :func:`~.epochs.delta_feed` of (source, score_bin, cnt) deltas
under :func:`~.epochs.run_epochs`. A reader folds the feed by
(source, bin) and reads the type-1 quantile cutoffs off
<= n_bins + 1 rows per source; no batch ever re-reads earlier
documents, which is exactly what the batch adaptive_quality_filter
cannot offer a stream.

Grid discipline: bin counts cut on different grids must never
merge, so the loop stamps (lo, hi, n_bins) into the feed directory
on first write (underscore-prefixed sidecar - parquet readers skip
it) and every subsequent writer/reader verifies the stamp - the
IVF-binary thresholds-digest rule applied to the grid.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .. import fsio
from ..operators.qsketch import merge_sketches, sketch_bins
from .epochs import delta_feed, run_epochs

QSKETCH_DELTA_SCHEMA = (
    "source string, score_bin long, cnt long, __epoch_id string"
)
_PARAMS_NAME = "_qsketch_params.json"


def _stamp_or_check_grid(
    spark: SparkSession, bins_path: str, lo: float, hi: float, n_bins: int
) -> None:
    p = f"{bins_path.rstrip('/')}/{_PARAMS_NAME}"
    want = {"lo": float(lo), "hi": float(hi), "n_bins": int(n_bins)}
    if fsio.exists(spark, p):
        got = json.loads(fsio.read_text(spark, p))
        if got != want:
            raise ValueError(
                f"qsketch feed at {bins_path!r} was cut on grid {got}, "
                f"this writer/reader declares {want}; counts from "
                "different grids merge into silently wrong quantiles"
            )
    else:
        fsio.mkdirs(spark, bins_path)
        fsio.write_text_atomic(spark, p, json.dumps(want, sort_keys=True))


def run_quality_sketch_stream(
    doc_stream: DataFrame,
    bins_path: str,
    checkpoint_dir: str,
    score_col_factory,
    lo: float,
    hi: float,
    n_bins: int,
    source_col: str = "source",
) -> StreamingQuery:
    """Wire a document stream into the incremental percentile store:
    per epoch, the batch's (source, score_bin, cnt) deltas land
    under their own partition of ``bins_path``.
    ``score_col_factory`` is a zero-arg callable returning the score
    Column (the closure-factory rule, as in streaming/lm.py); rows
    whose score is NULL-undefined (e.g. zero-token docs) must be
    filtered by the factory's caller upstream - the quantizer fails
    loudly on NULL by design."""
    spark = doc_stream.sparkSession
    _stamp_or_check_grid(spark, bins_path, lo, hi, n_bins)

    def delta(batch_df: DataFrame) -> DataFrame:
        scored = batch_df.select(
            F.col(source_col).alias("source"),
            score_col_factory().alias("__score"),
        )
        return sketch_bins(scored, ["source"], "__score", lo, hi, n_bins)

    return run_epochs(
        doc_stream, checkpoint_dir, "qsketch", delta_feed(bins_path, delta)
    )


def sketch_from_store(
    spark: SparkSession,
    bins_path: str,
    lo: float,
    hi: float,
    n_bins: int,
) -> DataFrame:
    """(source, score_bin, cnt): the accumulated sketch - the delta
    feed folded by key, grid-verified against the stamp. Equals
    sketch_bins over every document ever ingested exactly (additive
    counts; explicit schema so an absent path is the true empty
    sketch)."""
    if fsio.exists(spark, bins_path):
        _stamp_or_check_grid(spark, bins_path, lo, hi, n_bins)
        feed = spark.read.schema(QSKETCH_DELTA_SCHEMA).parquet(bins_path)
    else:
        feed = spark.createDataFrame([], QSKETCH_DELTA_SCHEMA)
    return merge_sketches(
        feed.select("source", "score_bin", "cnt"), ["source"]
    )
