"""Streaming ANN index maintenance: the embedding-ingest loop.

A training-data pipeline's embedding store grows continuously (new
documents arrive embedded, edited documents re-embed their changed
chunks - the feed ``run_incremental_dedup_stream``'s chunk leg
publishes). This loop keeps a persisted IVF index current with
O(batch) work per micro-batch and EXACTLY-ONCE semantics throughout:

- **bootstrap** (first batch): coarse centroids are TRAINED on the
  batch (operators/kmeans, hash-sampled init - not the first-K
  bootstrap), the index skeleton is built epoch-partitioned, and the
  batch lands as the first epoch. params.json acts as the
  bootstrap-commit signal: a crash anywhere before it re-runs the
  whole deterministic bootstrap; after it, replays skip straight to
  the append.
- **steady state**: each micro-batch assigns against the frozen
  persisted centroids (broadcast, partial-agg argmin) and
  dynamic-overwrites its own ``(__epoch, touched lists)`` corpus
  partitions. Assignment is deterministic, so a crash-replayed epoch
  rewrites exactly the same partitions - duplicates are structurally
  impossible (a plain parquet append would at-least-once duplicate
  vectors, and duplicated corpus rows silently eat top-k slots).
- **epoch markers**: both loops run on :func:`~.epochs.run_epochs`,
  so fully-committed replays are no-ops.
- **skew gate** (optional): after each committed epoch,
  ``rebalance_ivf_index_if_needed`` retrains when drift pushed one
  list past the share bound; the rebuild preserves the epoch layout
  and doubles as epoch compaction (everything lands back in
  ``__epoch=base``), so a long-lived loop's partition count stays
  bounded.

Searches (`search_ivf_index`) read the same corpus path; the probe
predicate prunes on ``list_id`` regardless of the extra epoch level.
Search after the first committed epoch - an empty bootstrap skeleton
has no data files yet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .. import fsio
from ..operators.ivf import (
    append_to_ivf_index,
    build_ivf_index,
    read_ivf_index_params,
    rebalance_ivf_index_if_needed,
)
from .epochs import parse_epoch_val, run_epochs, superseded

_STATS_SCHEMA = "dim int, n long, sum_q long, sumsq_q long"


def _add_stats(a: list, b: list) -> list:
    """Sum two per-dimension accumulator row lists. The quantized
    integer accumulators (operators/drift.py) are exactly additive,
    which is what makes the cumulative-population gate O(batch) per
    epoch instead of O(corpus)."""
    acc: dict[int, list[int]] = {}
    for rows in (a, b):
        for r in rows:
            cur = acc.setdefault(int(r.dim), [0, 0, 0])
            cur[0] += int(r.n)
            cur[1] += int(r.sum_q)
            cur[2] += int(r.sumsq_q)
    from pyspark.sql import Row

    return [
        Row(dim=d, n=v[0], sum_q=v[1], sumsq_q=v[2])
        for d, v in sorted(acc.items())
    ]


def _latest_snapshot_rows(spark, snap_dir, epoch_val):
    """Rows of the newest cumulative-stats snapshot STRICTLY BELOW
    ``epoch_val``'s epoch for this checkpoint lineage, or None. A
    replayed epoch's own (possibly half-written) snapshot is excluded
    so the replay recomputes it from the same predecessor - that is
    what makes the pre-marker snapshot write idempotent."""
    token, epoch_id = parse_epoch_val(epoch_val)
    best = None
    for name in fsio.list_names(spark, snap_dir):
        if not name.startswith("__epoch="):
            continue
        tok, eid = parse_epoch_val(name[len("__epoch="):])
        if tok != token or eid is None or eid >= epoch_id:
            continue
        if best is None or eid > best[0]:
            best = (eid, name)
    if best is None:
        return None
    return (
        spark.read.schema(_STATS_SCHEMA)
        .parquet(f"{snap_dir}/{best[1]}")
        .collect()
    )


def run_incremental_ann_stream(
    vec_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    n_centroids: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "vec",
    train_iters: int = 2,
    rebalance_max_list_share: float | None = None,
    bootstrap_centroids: DataFrame | None = None,
    drift_smd_threshold: float | None = None,
    drift_max_dims: int = 0,
) -> StreamingQuery:
    """Start the ANN maintenance loop over a vector stream
    (``id_col`` long, ``vec_col`` array<double>). See the module
    docstring for the crash-semantics contract.

    ``bootstrap_centroids`` (cid, cv): bootstrap the index from an
    OFFLINE-trained model instead of training on the first batch -
    the standard production path when a batch pipeline already owns
    the codebook (the persisted-centroid-store discipline): the
    stream then only ever assigns + appends, and the bootstrap is
    deterministic regardless of which batch arrives first. Ignored
    once a committed index exists.

    ``drift_smd_threshold`` arms the POPULATION-drift gate
    (operators/drift.py) - the retrain signal the skew gate cannot
    see: the CUMULATIVE served population (reference + integer-
    additive per-batch statistics accumulated since the last retrain,
    exactly-once via epoch-keyed snapshots in
    ``{index_path}__popstats_cur``) is compared against the reference
    population persisted beside the index
    (``{index_path}__popstats``, both OUTSIDE the index dir so
    rebuild swaps never clobber them); when more than
    ``drift_max_dims`` dimensions shift past the threshold, the index
    retrains, the reference refreshes to the full post-rebuild corpus
    (also after a SKEW-triggered rebuild, so both gates agree on what
    "trained-on" means), and the cumulative chain resets to it.
    Gating on the cumulative population rather than the lone batch is
    what lets the loop SETTLE: a batch-vs-reference gate re-fires on
    every post-shift micro-batch (the refreshed reference is the
    mixed corpus, which no pure-new batch matches), rebuilding
    O(corpus) per epoch. The first population seen seeds the
    reference, and re-seeds it if the stats dir is ever lost - the
    gate is advisory: a missed check is a delayed retrain, never a
    wrong answer. Per batch this adds one O(batch) dim-row
    aggregation and bounded dim-row driver pulls."""
    spark = vec_stream.sparkSession

    def body(batch_df: DataFrame, epoch_id: int, epoch_val: str):
        e = batch_df.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
        )
        # NULL / mis-sized vectors: the batch operators fail fast on
        # them (l2_norm raises - right for offline callers, a silent
        # skip would bias an index or a statistic), but inside
        # foreachBatch that raise lands BEFORE the epoch marker, so
        # every restart replays the same poison batch and fails again
        # - a wedged loop. Quarantine them
        # instead: exactly-once via dynamic overwrite of this epoch's
        # partition, same discipline as the corpus append itself.
        ok = F.col("vec").isNotNull() & (F.size("vec") == dim)
        bad = e.filter(~ok)
        if bad.limit(1).count() > 0:
            bad.withColumn("__epoch", F.lit(epoch_val)).write.mode(
                "overwrite"
            ).option("partitionOverwriteMode", "dynamic").partitionBy(
                "__epoch"
            ).json(checkpoint_dir.rstrip("/") + "/ann_rejects")
        e = e.filter(ok)
        if not read_ivf_index_params(spark, index_path):
            # bootstrap: params.json is written LAST by build, so its
            # absence means no committed skeleton - (re-)run the
            # deterministic train+build; the batch itself lands via
            # the idempotent epoch append below, never inside build
            # (a bootstrap crash window must not double-insert it).
            # A first batch SMALLER than n_centroids trains with
            # k = batch size instead of raising (the raise
            # wedged the loop - the marker never commits, so every
            # restart replays the same too-small batch and fails
            # again) and instead of returning (which would silently
            # DROP the batch: foreachBatch advances the checkpoint
            # either way). Fewer lists only coarsens pruning; the
            # rebalance gate retrains to full k as the corpus grows.
            if bootstrap_centroids is not None:
                cents = bootstrap_centroids.select("cid", "cv")
            else:
                avail = e.limit(n_centroids).count()
                if avail == 0:
                    return  # nothing to train on yet; the epoch commits
                from ..operators.kmeans import kmeans_fit_centroids_df

                cents = kmeans_fit_centroids_df(
                    e, min(n_centroids, avail), dim,
                    iters=train_iters, init="hash",
                ).select(F.col("cid"), F.col("cv"))
            build_ivf_index(
                e.limit(0), index_path, n_centroids, dim,
                centroids=cents, epoch_partitioned=True,
            )
        append_to_ivf_index(e, index_path, dim, epoch=epoch_val)
        # cumulative-population snapshot BEFORE the marker: the chain
        # entry for epoch N is a pure function of (snapshot < N, batch
        # N), so a crash-replayed epoch rewrites the identical
        # partition - exactly-once, like the corpus append. Writing it
        # pre-marker means a committed epoch's mass is never lost from
        # the chain (post-marker it would vanish on a crash, biasing
        # every future drift decision).
        batch_stat_rows: list = []
        cum_rows = None
        stats_path = index_path.rstrip("/") + "__popstats"
        snap_dir = index_path.rstrip("/") + "__popstats_cur"
        if drift_smd_threshold is not None:
            from ..operators.drift import embedding_population_stats

            # e is the quarantine-filtered well-formed subset, so the
            # operator's fail-fast (which would otherwise kill the
            # query, contradicting the advisory-gate contract) cannot
            # fire here. <= dim rows: the bounded-pull
            # class (centroid fetches).
            batch_stat_rows = embedding_population_stats(
                e, "vec", dim
            ).collect()
            if batch_stat_rows and fsio.exists(
                spark, f"{stats_path}/_STORE_OK"
            ):
                prev = _latest_snapshot_rows(spark, snap_dir, epoch_val)
                if prev is None:
                    # fresh chain: the reference IS the population at
                    # the last (re)train - start accumulating from it
                    from ..operators.drift import read_population_stats

                    prev = read_population_stats(spark, stats_path).collect()
                cum_rows = _add_stats(prev, batch_stat_rows)
                spark.createDataFrame(cum_rows, _STATS_SCHEMA).withColumn(
                    "__epoch", F.lit(epoch_val)
                ).write.mode("overwrite").option(
                    "partitionOverwriteMode", "dynamic"
                ).partitionBy("__epoch").parquet(snap_dir)

        def after_commit() -> None:
            # a crash mid-swap leaves both copies on disk rather than a
            # half-updated index
            rebuilt = False
            if rebalance_max_list_share is not None:
                rebuilt = rebalance_ivf_index_if_needed(
                    spark, index_path, n_centroids, dim,
                    max_list_share=rebalance_max_list_share,
                )
            if drift_smd_threshold is not None:
                from ..operators.drift import (
                    embedding_drift_stats,
                    embedding_population_stats,
                    population_drifted,
                    read_population_stats,
                    write_population_stats,
                )
                from ..operators.ivf import rebuild_ivf_index

                if batch_stat_rows and not fsio.exists(
                    spark, f"{stats_path}/_STORE_OK"
                ):
                    write_population_stats(
                        spark,
                        spark.createDataFrame(batch_stat_rows, _STATS_SCHEMA),
                        stats_path,
                    )
                elif cum_rows is not None and not rebuilt:
                    # gate on the CUMULATIVE served population (reference
                    # + every batch since the last retrain), not on the
                    # lone batch: batch-vs-reference fires on every
                    # post-shift micro-batch forever - after a retrain the
                    # reference is the full MIXED corpus, so each pure-new
                    # batch still reads as drifted and the loop rebuilds
                    # O(corpus) per epoch (r15: caught by the end-to-end
                    # test's epoch-4 centroid luck). The cumulative
                    # population converges to the corpus, so the gate
                    # fires exactly when the SERVED distribution left the
                    # TRAINED-ON one, then settles after the refresh.
                    report = embedding_drift_stats(
                        read_population_stats(spark, stats_path),
                        spark.createDataFrame(cum_rows, _STATS_SCHEMA),
                        smd_threshold=drift_smd_threshold,
                    )
                    if population_drifted(report, drift_max_dims):
                        rebuild_ivf_index(spark, index_path, n_centroids, dim)
                        rebuilt = True
                if rebuilt:
                    # either gate retrained: the reference is now the full
                    # corpus the fresh centroids were trained on, and the
                    # cumulative chain resets to it (a crash between the
                    # two leaves a stale over-counting chain -> at worst
                    # one spurious advisory rebuild, then consistent)
                    corpus = spark.read.parquet(f"{index_path}/corpus").select(
                        "vec_id", "vec"
                    )
                    write_population_stats(
                        spark,
                        embedding_population_stats(corpus, "vec", dim),
                        stats_path,
                        replace=True,
                    )
                    fsio.delete(spark, snap_dir)
                elif cum_rows is not None:
                    # chain hygiene: epoch N's snapshot supersedes all
                    # earlier ones (and any foreign-token leftovers)
                    for old in fsio.list_names(spark, snap_dir):
                        if old.startswith("__epoch=") and superseded(
                            old[len("__epoch="):], epoch_val
                        ):
                            fsio.delete(spark, f"{snap_dir}/{old}")

        return after_commit

    return run_epochs(vec_stream, checkpoint_dir, "ann", body)


def run_incremental_ivfbin_stream(
    vec_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    n_centroids: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "vec",
    train_iters: int = 2,
    bootstrap_centroids: DataFrame | None = None,
    bootstrap_thresholds: list[float] | None = None,
) -> StreamingQuery:
    """The binary tier's ingest loop: keep a persisted IVF-binary
    index (operators/ivf.build_ivfbin_index - 16-byte codes, coarse
    partition pruning) current with O(batch) work per micro-batch,
    under the run_incremental_ann_stream crash contract
    (:func:`~.epochs.run_epochs`; per-epoch idempotent dynamic
    overwrite of the batch's own (__epoch, touched-list) partitions;
    malformed-vector quarantine so a poison batch cannot wedge the
    loop).

    Bootstrap freezes BOTH model artifacts on the first committed
    build - coarse centroids (trained on the batch via hash-init
    k-means, or passed in from an offline store) AND the sign
    thresholds (fit on the batch, or passed): sign codes are only
    mutually comparable under one threshold vector, so thresholds
    can never be append-time adjusted. params.json is the
    bootstrap-commit signal, exactly as in the IVF loop.

    Deliberately NO in-loop rebuild gate: the index stores codes,
    not raw vectors (the compression is the point), so it cannot be
    re-assigned from its own contents - list skew or population
    drift (operators/drift.py over the embedding stream) is a
    REBUILD SIGNAL served by re-running build_ivfbin_index over a
    retained vector source, the documented ivfbin lifecycle stance
    (thresholds frozen at build; drift -> rebuild)."""
    from ..operators.ivf import append_to_ivfbin_index, build_ivfbin_index
    from ..operators.signq import signq_fit_thresholds

    spark = vec_stream.sparkSession

    def body(batch_df: DataFrame, epoch_id: int, epoch_val: str) -> None:
        e = batch_df.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
        )
        # quarantine before the encode: signq_encode fails loudly on
        # wrong-dim vectors (right for offline callers), but inside
        # foreachBatch that raise lands before the marker and every
        # restart replays the same poison batch - the wedged-loop
        # failure the ANN loop already designs out.
        ok = F.col("vec").isNotNull() & (F.size("vec") == dim)
        bad = e.filter(~ok)
        if bad.limit(1).count() > 0:
            bad.withColumn("__epoch", F.lit(epoch_val)).write.mode(
                "overwrite"
            ).option("partitionOverwriteMode", "dynamic").partitionBy(
                "__epoch"
            ).json(checkpoint_dir.rstrip("/") + "/ivfbin_rejects")
        e = e.filter(ok)
        if not read_ivf_index_params(spark, index_path):
            avail = e.limit(max(n_centroids, 1)).count()
            if avail == 0:
                return  # nothing to bootstrap from yet; the epoch commits
            if bootstrap_thresholds is not None:
                thr = list(bootstrap_thresholds)
            else:
                thr = signq_fit_thresholds(e, dim)
            if bootstrap_centroids is not None:
                cents = bootstrap_centroids.select("cid", "cv")
            else:
                from ..operators.kmeans import kmeans_fit_centroids_df

                cents = kmeans_fit_centroids_df(
                    e, min(n_centroids, avail), dim,
                    iters=train_iters, init="hash",
                ).select("cid", "cv")
            build_ivfbin_index(
                e.limit(0), index_path, n_centroids, dim, thr,
                centroids=cents, epoch_partitioned=True,
            )
        append_to_ivfbin_index(e, index_path, dim, epoch=epoch_val)

    return run_epochs(vec_stream, checkpoint_dir, "ivfbin", body)
