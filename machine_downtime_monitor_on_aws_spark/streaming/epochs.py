"""The epoch-idempotent ``foreachBatch`` runner: the package's one
exactly-once protocol for streaming loops.

Structured Streaming replays an epoch whose batch did not commit in
the checkpoint, with the same epoch id and the same rows. A loop is
exactly-once when every write of an epoch is idempotent under that
replay and a fully committed epoch is recognised and skipped.
:func:`run_epochs` owns both halves - the lineage token, the epoch
marker and its sweep, the barrier scope - so a loop supplies only
the body that computes and writes.

The helpers the ingest pipeline shares with the loops live here as
well: the lineage token, the change-feed publish gate and the
epoch-partition write. So does :func:`replay_store`, which replays
a corpus through a loop in arrival epochs, once per corpus - the
catalog's evidence that each loop is exactly-once. Every filesystem
call goes through ``fsio``
(the Hadoop FileSystem API), so a checkpoint dir or feed on
``s3a://``/``hdfs://`` runs the same code the local tests exercise.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .. import fsio
from ..session import barrier, barrier_scope

# body(batch_df, epoch_id, epoch_val) -> optional post-commit callable
EpochBody = Callable[[DataFrame, int, str], "Callable[[], None] | None"]


def checkpoint_sink_token(spark: SparkSession, checkpoint_dir: str) -> str:
    """Stable token identifying a checkpoint LINEAGE, persisted inside
    the checkpoint dir itself. Epoch partition values embed it
    (``<token>-<epoch_id>``) so the idempotent dynamic-overwrite sinks
    are scoped to the lineage that generated the epoch ids: a retry
    against the SAME checkpoint replaces its own partial output
    (exactly-once), while a FRESH checkpoint pointed at the same sink
    path restarts epoch ids at 0 under a NEW token and can never
    clobber data a previous lineage wrote (without the token, new
    epoch 0 dynamic-overwrites historical epoch-0 partitions -
    silent data loss, strictly worse than append's duplicates).

    Hadoop-FS realization (fsio): the checkpoint dir lives wherever
    the stream's checkpointLocation does (HDFS/S3 on a cluster), so
    the token must be durable THERE - publish is write-tmp +
    fs.rename, and a lost rename race re-reads the winner's token so
    concurrent starts still agree on one value."""
    import uuid

    p = checkpoint_dir.rstrip("/") + "/spark_graft_sink_token"
    if fsio.exists(spark, p):
        return fsio.read_text(spark, p).strip()
    fsio.mkdirs(spark, checkpoint_dir)
    # write_text_atomic returns False only when the publish failed AND
    # the path still doesn't exist (a lost race re-reads the winner's
    # token and returns True) - without this check the read below
    # would surface a raw Java FileNotFoundException instead of
    # naming the checkpoint dir that couldn't take the token.
    if not fsio.write_text_atomic(spark, p, uuid.uuid4().hex[:12]):
        raise OSError(
            f"could not publish sink token under {checkpoint_dir!r}"
        )
    return fsio.read_text(spark, p).strip()


def feed_epoch_published(spark: SparkSession, feed_path: str, epoch_val: str) -> bool:
    """True when the change feed already holds epoch ``epoch_val``.

    Dynamic partition overwrite stages files and commits the
    partition by rename, so the partition dir with part files exists
    IFF the publish completed - a partial write never surfaces it.
    The feed write is therefore write-once per epoch: the FIRST
    publish is computed against the pre-commit store (the full,
    correct delta set), and a retry must never rewrite it - a crash
    midway through the store commit leaves some buckets updated, so
    the retry's recomputed deltas are a SUBSET and overwriting would
    silently lose feed rows. Routed through the Hadoop FileSystem API
    (fsio) so the guard holds on s3a://hdfs:// feeds - an
    os.path.isdir check silently returns False for any URI and the
    guard would degrade to rewrite-on-retry, reintroducing exactly
    the subset-loss bug it exists to prevent."""
    d = feed_path.rstrip("/") + f"/__epoch_id={epoch_val}"
    return any(n.startswith("part-") for n in fsio.list_names(spark, d))


def write_epoch_partition(df: DataFrame, path: str, epoch_val: str) -> None:
    """Land ``df`` as the ``__epoch_id=<epoch_val>`` partition of
    ``path`` by dynamic partition overwrite: a replayed epoch replaces
    its own partial output and never touches another epoch's."""
    df.withColumn("__epoch_id", F.lit(epoch_val)).write.mode(
        "overwrite"
    ).option("partitionOverwriteMode", "dynamic").partitionBy(
        "__epoch_id"
    ).parquet(path)


def parse_epoch_val(name: str) -> tuple[str, int | None]:
    """(token, epoch id) of a ``<token>-<epoch_id>`` name; the id is
    None when the suffix is not a number."""
    tok, _, eid = name.rpartition("-")
    return tok, (int(eid) if eid.isdigit() else None)


def superseded(name: str, epoch_val: str) -> bool:
    """True when the ``<token>-<epoch_id>`` entry ``name`` is stale
    beside the committed ``epoch_val``: it carries another lineage's
    token, or an earlier epoch id of this lineage."""
    tok, eid = parse_epoch_val(name)
    cur_tok, cur_eid = parse_epoch_val(epoch_val)
    return tok != cur_tok or (eid is not None and eid < cur_eid)


def delta_feed(
    feed_path: str, delta_fn: Callable[[DataFrame], DataFrame]
) -> EpochBody:
    """:func:`run_epochs` body for the mergeable-summary loops:
    ``delta_fn(batch)`` is pinned once (count and write would each
    re-derive it otherwise) and, when non-empty, lands as the epoch's
    partition of ``feed_path``. The delta is a pure function of the
    batch, so a replay rewrites identical rows, and because an
    epoch's delta lives in exactly one partition a fold over the feed
    can never double-count."""

    def body(batch_df: DataFrame, epoch_id: int, epoch_val: str) -> None:
        delta = barrier(delta_fn(batch_df))
        if delta.count() > 0:
            write_epoch_partition(delta, feed_path, epoch_val)

    return body


def run_epochs(
    stream: DataFrame, checkpoint_dir: str, name: str, body: EpochBody
) -> StreamingQuery:
    """Start ``stream`` under the exactly-once epoch protocol and
    return the query (``availableNow``: drain what is there, stop).

    Per epoch, with ``epoch_val = "<token>-<epoch_id>"`` (the token
    from :func:`checkpoint_sink_token`):

    1. a marker ``{checkpoint_dir}/{name}_epochs/{epoch_val}`` that
       already exists means the epoch committed before a restart;
       the epoch is skipped whole - body and post-commit work;
    2. ``body(batch_df, epoch_id, epoch_val)`` computes and writes.
       Its writes must be idempotent under replay - an epoch
       partition keyed by ``epoch_val`` (:func:`write_epoch_partition`)
       or an append whose replay the loop proves harmless;
    3. the marker is written LAST, atomically: a crash anywhere
       before it replays the epoch, a crash after it never does;
    4. older markers are swept - only the latest uncommitted epoch
       can ever replay, so a long-lived loop keeps one marker, not
       one per micro-batch. Staleness is the epoch id PARSED FROM
       THE NAME, never mtime (object stores have no meaningful mtime
       order; the name carries the total order). A marker with a
       foreign token is stale by construction: the token is pinned
       per checkpoint dir, so a foreign one means the dir was
       recycled. Bookkeeping is left alone: ``.``-prefixed entries
       (local ChecksumFileSystem sidecars, removed with their marker
       by ``fs.delete``), ``.crc`` checksum files and ``.tmp`` names
       (in-flight ``write_text_atomic`` temps);
    5. if ``body`` returned a zero-arg callable, it runs now: post-
       commit maintenance (compaction, takedown drains, index
       rebalance). It never races the epoch's own writes, and a
       crash inside it does not replay the epoch - maintenance must
       heal itself on a later epoch or at loop start.

    Steps 2-5 run inside one ``barrier_scope``, so every pin the
    epoch takes is freed when it ends, raise included.

    A body that returns early commits the marker like any other: the
    ANN/ivfbin loops' nothing-to-bootstrap epoch commits after writing
    only its rejects partition, an idempotent overwrite, so skipping
    that epoch on replay loses nothing."""
    spark = stream.sparkSession
    token = checkpoint_sink_token(spark, checkpoint_dir)
    marker_dir = f"{checkpoint_dir.rstrip('/')}/{name}_epochs"
    fsio.mkdirs(spark, marker_dir)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        epoch_val = f"{token}-{epoch_id}"
        marker = f"{marker_dir}/{epoch_val}"
        if fsio.exists(spark, marker):
            return
        with barrier_scope(spark):
            after_commit = body(batch_df, epoch_id, epoch_val)
            fsio.write_text_atomic(spark, marker, epoch_val)
            for old in fsio.list_names(spark, marker_dir):
                if (
                    old == epoch_val
                    or old.startswith(".")
                    or old.endswith((".crc", ".tmp"))
                ):
                    continue
                if superseded(old, epoch_val):
                    fsio.delete(spark, f"{marker_dir}/{old}", recursive=False)
            if after_commit is not None:
                after_commit()

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def replay_store(
    spark: SparkSession,
    family: str,
    ident: str,
    schema: str,
    cold: Callable[[str], list[DataFrame]],
    start: Callable[[DataFrame, str, int], StreamingQuery],
    fmt: str = "json",
) -> str:
    """Replay a corpus through a streaming loop once per ``ident`` and
    return the replay root (``fsio.tmp_store_path(family, ident)``),
    under which the loop's sinks and checkpoint live.

    A ``_REPLAY_DONE`` record gates the replay: warm calls cost one
    exists-probe. Cold, any partial root a crashed build left is
    wiped, then ``cold(root)`` runs once - the caller's cold-only
    preparation (warehouse tables, indexes, centroids) goes there -
    and returns one frame per arrival epoch. Each frame lands as
    ``{root}/in/e{ep}_{i}.{fmt}`` (a ``coalesce(1)`` write to
    ``{root}/stage_e{ep}`` whose ``part-*.{fmt}`` files are renamed
    in, so the corpus never collects to the driver), and
    ``start(source, root, ep)`` restarts the loop over the ``{fmt}``
    stream of ``{root}/in`` read with ``schema``; it must return the
    started ``availableNow`` query. An epoch that does not finish
    within 600 s is stopped and raises. ``_REPLAY_DONE`` is written
    last, so any failure leaves a root the next call wipes and
    rebuilds; the loop's epoch markers make that rebuild
    deterministic.

    Unlike the :func:`fsio.build_if_absent` stores, the replay root
    is NOT staged-published: the loop keeps its streaming checkpoint
    INSIDE the root, so a concurrent cold build of the same corpus
    would interleave epochs. Single-writer is assumed for the
    one-shot build (r10 ADVICE #4); the gate+wipe protocol
    serializes CRASH recovery, not concurrency."""
    root = fsio.tmp_store_path(family, ident)
    done = f"{root}/_REPLAY_DONE"
    if fsio.exists(spark, done):
        return root
    fsio.delete(spark, root)
    in_dir = f"{root}/in"
    fsio.mkdirs(spark, in_dir)
    for ep, frame in enumerate(cold(root)):
        stage = f"{root}/stage_e{ep}"
        frame.coalesce(1).write.mode("overwrite").format(fmt).save(stage)
        parts = sorted(
            n
            for n in fsio.list_names(spark, stage)
            if n.startswith("part-") and n.endswith(f".{fmt}")
        )
        for i, n in enumerate(parts):
            fsio.rename(spark, f"{stage}/{n}", f"{in_dir}/e{ep}_{i}.{fmt}")
        q = start(
            spark.readStream.schema(schema).format(fmt).load(in_dir), root, ep
        )
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError("replay epoch did not terminate within 600s")
    fsio.write_text_atomic(spark, done, "ok")
    return root
