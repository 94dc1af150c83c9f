"""SparkSession construction tuned for both local testing and scale.

The defaults below are chosen for the 100 TB design point and scaled
down by env vars for local runs:

- AQE on (runtime coalescing, skew-join splitting) so plans self-tune
  when stats are off at scale.
- ``spark.sql.shuffle.partitions`` defaults to the local core count;
  on a real cluster this is overridden (2-3x total cores).
- Session timezone pinned to UTC so event-time semantics are stable
  and oracle (DuckDB, TZ-naive) comparisons are exact.
- Arrow enabled for the Pandas-UDF slow path.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame, SparkSession


def get_spark(app_name: str = "machine_downtime_monitor_on_aws_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 12g, not "as much as the box has": an oversized heap lets
        # garbage (broadcasts, codegen classes) pile up until one
        # multi-second full GC; periodic GC keeps the context cleaner
        # draining those eagerly. Observed: 30-90s stalls at 48g.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "12g"))
        .config("spark.cleaner.periodicGC.interval", "1min")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # LIMIT-probe actions (connected_components' one-action
        # strategy switch) scan all partitions in ONE parallel round
        # instead of the default 1 -> 4x -> 16x sequential scale-up,
        # which serializes the final stage of an otherwise-parallel
        # job. Cheap insurance for every .limit(n).collect() probe.
        .config("spark.sql.limit.initialNumPartitions", cpus)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Spark's RocksDB-backed state store provider (bundled rocksdbjni, no
# extra install). The default HDFSBackedStateStoreProvider keeps every
# streaming key's state on the executor HEAP - at 100x key cardinality
# (per-machine latest-status, per-source watermark aggs over a full
# fleet) that is an executor OOM. RocksDB spills state to local disk
# with an in-heap cache, the standard at-scale choice; the reference
# gets the same effect from DynamoDB's TTL-bounded storage
# (appsync-api-construct.ts:54). Applied per-query (a runtime SQL conf
# read at stream start), so batch-only sessions pay nothing.
ROCKSDB_STATE_STORE = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def use_rocksdb_state_store(spark: SparkSession) -> SparkSession:
    """Route all subsequently-started streaming queries' state to
    RocksDB (changelog checkpointing on, so commits upload deltas,
    not full snapshots)."""
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_STATE_STORE)
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true",
    )
    return spark


def unpersist_all_rdds(spark: SparkSession, blocking: bool = False) -> int:
    """Release every persisted RDD (localCheckpoint barriers included,
    which ``spark.catalog.clearCache()`` does NOT cover). Uses the
    public JavaSparkContext.getPersistentRDDs() java.util.Map - not
    the scala-Map iterator the r4 advice flagged as version-brittle.
    Returns the number of RDDs unpersisted. Bench/test hygiene."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    n = 0
    # py4j exposes java.util.Map with the Python dict protocol
    for rdd in list(jmap.values()):
        rdd.unpersist(blocking)
        n += 1
    return n


def persistent_rdd_ids(spark: SparkSession) -> list[int]:
    """Ids of currently-persisted RDDs (leak assertions in tests)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return sorted(int(k) for k in jmap.keys())


# The pin list of the innermost open barrier_scope. A ContextVar, not
# a module global: two streaming queries on one SparkContext run their
# epochs on different threads, and each must release only its own pins.
_SCOPE_PINS: ContextVar[list[int] | None] = ContextVar("barrier_scope", default=None)


def is_barrier_scan(df: DataFrame) -> bool:
    """True when the frame's analyzed plan is a bare ``LogicalRDD``
    scan - a barrier, or any other RDD-backed frame - i.e. there is NO
    upstream expression pipeline that a multi-consumer barrier would
    protect from double computation. Lets operators skip a redundant
    barrier on an input that is already materialized once (the
    streaming paths take a barrier every micro-batch before fanning
    out). Conservative on any doubt: False means "add the barrier",
    which is always safe."""
    try:
        return (
            df._jdf.queryExecution().analyzed().getClass().getSimpleName()
            == "LogicalRDD"
        )
    except Exception:
        return False


def _pinned_rdd_id(df: DataFrame) -> int | None:
    # Dataset.localCheckpoint wraps exactly the RDD it persisted in a
    # LogicalRDD node, so the id is read off the plan. None for a frame
    # that is not a barrier, or on plan-shape drift in a future Spark:
    # that pin is left to unpersist_all_rdds rather than risk freeing
    # the wrong RDD.
    try:
        return int(df._jdf.queryExecution().analyzed().rdd().id())
    except Exception:
        return None


def barrier(df: DataFrame, eager: bool = True) -> DataFrame:
    """The package's one materialization barrier: ``localCheckpoint``
    the frame (truncated lineage, blocks pinned on the executors) and
    register the pinned RDD with the innermost open
    :func:`barrier_scope`, which releases it on exit. Outside any
    scope the pin lives until :func:`unpersist_all_rdds` or the end of
    the context.

    Neither ``DataFrame.unpersist()`` nor dropping the Python reference
    releases a localCheckpoint's blocks (verified on PySpark 4.1), so
    a long-lived caller that never releases pins them forever - a
    streaming query checkpointing per micro-batch would pin RDDs per
    epoch for the life of the query.

    The pinned id is read off the returned frame's plan, never by
    diffing the context-global persistent-RDD set: with two concurrent
    streaming queries on one SparkContext, a diff window can capture
    the OTHER query's in-flight persist, and releasing it would free a
    localCheckpoint that cannot be recomputed.

    ``eager=False`` defers materialization to the first action that
    reads the frame; the RDD is still persisted (and registered) at
    mark time. Query builders use it to stay lazy (the catalog
    contract) while sharing one materialization between consumers."""
    out = df.localCheckpoint(eager=eager)
    pins = _SCOPE_PINS.get()
    if pins is not None:
        rid = _pinned_rdd_id(out)
        if rid is not None:
            pins.append(rid)
    return out


def _unpersist(spark: SparkSession, ids) -> None:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in ids:
        rdd = jmap.get(rid)
        if rdd is not None:  # released twice, or never registered
            rdd.unpersist(False)


@contextmanager
def barrier_scope(spark: SparkSession) -> Iterator[None]:
    """Release every :func:`barrier` pin taken inside the block when it
    exits, normally or by a raise. Scopes nest; a pin belongs to the
    innermost one. Consumers own scopes (a streaming epoch, a catalog
    query and its collect); operators only take barriers and return
    lazy frames, so every frame read inside the block must be fully
    consumed before it ends - a released barrier cannot be
    recomputed."""
    pins: list[int] = []
    token = _SCOPE_PINS.set(pins)
    try:
        yield
    finally:
        _SCOPE_PINS.reset(token)
        _unpersist(spark, pins)


def release_checkpoint(df: DataFrame) -> None:
    """Free a :func:`barrier` frame's pin before its scope ends: the
    iterative loops drop each superseded round, and the keyed store
    frees its upsert barriers once written. Call ONLY after every
    consumer of the frame has executed. No-op for a frame that is not
    a barrier, or whose pin is already released."""
    rid = _pinned_rdd_id(df)
    if rid is not None:
        _unpersist(df.sparkSession, (rid,))


def pin_utc(spark: SparkSession) -> SparkSession:
    """Pin the session TZ to UTC (runtime-settable).

    Every catalog query calls this so results are reproducible even
    when the caller's session was built with a different TZ.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark
