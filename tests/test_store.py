"""KeyedParquetStore: partition-pruned upsert semantics and the
O(batch)-not-O(snapshot) merge property (r1 verdict item #4).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from machine_downtime_monitor_on_aws_spark.streaming.store import KeyedParquetStore


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "machine_id string, status string, status_epoch long"
    )


def test_upsert_merge_and_deltas(spark, tmp_path):
    store = KeyedParquetStore(str(tmp_path / "st"), "machine_id", num_buckets=8)

    d1 = store.upsert(
        _df(spark, [("m1", "UP", 10), ("m2", "DOWN", 10)]), compare_col="status"
    )
    assert {(r.machine_id, r.status) for r in d1.collect()} == {
        ("m1", "UP"),
        ("m2", "DOWN"),
    }

    # m1 changes, m2 unchanged (newer epoch), m3 new
    d2 = store.upsert(
        _df(spark, [("m1", "DOWN", 20), ("m2", "DOWN", 20), ("m3", "UP", 20)]),
        compare_col="status",
    )
    assert {(r.machine_id, r.status) for r in d2.collect()} == {
        ("m1", "DOWN"),
        ("m3", "UP"),
    }

    snap = {r.machine_id: (r.status, r.status_epoch) for r in store.read(spark).collect()}
    assert snap == {"m1": ("DOWN", 20), "m2": ("DOWN", 20), "m3": ("UP", 20)}


def test_upsert_touches_only_affected_buckets(spark, tmp_path):
    """The scale property: upserting one key must not read or rewrite
    buckets it doesn't hash into. Proven at the filesystem level -
    untouched bucket partitions keep their exact files (names, sizes,
    mtimes)."""
    path = str(tmp_path / "st")
    store = KeyedParquetStore(path, "machine_id", num_buckets=16)
    seed = _df(spark, [(f"m{i}", "UP", 1) for i in range(200)])
    store.upsert(seed, compare_col="status")

    def bucket_files():
        out = {}
        for d in os.listdir(path):
            if not d.startswith("__kb="):
                continue
            full = os.path.join(path, d)
            out[d] = {
                (f, os.path.getmtime(os.path.join(full, f)), os.path.getsize(os.path.join(full, f)))
                for f in os.listdir(full)
                if f.endswith(".parquet")
            }
        return out

    before = bucket_files()
    assert len(before) > 4  # keys spread over several buckets

    store.upsert(_df(spark, [("m7", "DOWN", 2)]), compare_col="status")
    after = bucket_files()

    target = store._bucket()
    [kb] = [
        r[0]
        for r in spark.createDataFrame([("m7",)], "machine_id string")
        .select(target)
        .collect()
    ]
    touched = f"__kb={kb}"
    changed = {d for d in before if before[d] != after.get(d)}
    assert changed == {touched}, f"buckets rewritten: {changed}, expected only {touched}"
    # and the merge preserved the touched bucket's other keys
    snap = {r.machine_id: r.status for r in store.read(spark).collect()}
    assert snap["m7"] == "DOWN" and len(snap) == 200


def test_upsert_without_compare_col_returns_all(spark, tmp_path):
    store = KeyedParquetStore(str(tmp_path / "st"), "machine_id", num_buckets=4)
    store.upsert(_df(spark, [("a", "UP", 1)]))
    d = store.upsert(_df(spark, [("a", "UP", 2)]))
    assert [r.machine_id for r in d.collect()] == ["a"]
    assert store.read(spark).collect()[0].status_epoch == 2


def test_keyed_store_first_seen_wins(spark, tmp_path):
    """keep_existing=True: a key already in the store keeps its
    stored row (content-addressed semantics), deltas are exactly the
    new keys, and replaying the same batch is a no-op. The upsert
    barriers all end with the caller's scope."""
    import pytest

    from machine_downtime_monitor_on_aws_spark.session import (
        barrier_scope,
        persistent_rdd_ids,
    )
    from machine_downtime_monitor_on_aws_spark.streaming.store import (
        KeyedParquetStore,
    )

    before = set(persistent_rdd_ids(spark))
    store = KeyedParquetStore(str(tmp_path / "cas"), "k", 8)
    with barrier_scope(spark):
        b1 = spark.createDataFrame([("a", 1), ("b", 1)], "k string, ref int")
        d1 = store.upsert(b1, keep_existing=True)
        assert {(r.k, r.ref) for r in d1.collect()} == {("a", 1), ("b", 1)}

        # second batch: 'a' re-arrives with a DIFFERENT ref (first seen
        # wins - stored row keeps ref 1), 'c' is genuinely new
        b2 = spark.createDataFrame([("a", 2), ("c", 2)], "k string, ref int")
        d2 = store.upsert(b2, keep_existing=True)
        assert {(r.k, r.ref) for r in d2.collect()} == {("c", 2)}
        assert {(r.k, r.ref) for r in store.read(spark).collect()} == {
            ("a", 1), ("b", 1), ("c", 2),
        }

        # replaying a fully-landed batch produces zero deltas
        d3 = store.upsert(b2, keep_existing=True)
        assert d3.count() == 0
    assert not set(persistent_rdd_ids(spark)) - before

    with pytest.raises(ValueError, match="mutually exclusive"):
        store.plan_upsert(b2, compare_col="ref", keep_existing=True)


def test_barrier_scope_releases_nested_barriers(spark):
    """A barrier taken over another barrier pins a second RDD; each
    belongs to the innermost open scope, which frees it on exit.
    release_checkpoint frees one barrier early, and releasing it
    again (or letting its scope release it again) is a no-op."""
    from machine_downtime_monitor_on_aws_spark.session import (
        barrier,
        barrier_scope,
        persistent_rdd_ids,
        release_checkpoint,
    )

    before = set(persistent_rdd_ids(spark))
    df = spark.createDataFrame([(1, "a")], "k int, v string")
    with barrier_scope(spark):
        inner = barrier(df)
        with barrier_scope(spark):
            outer = barrier(inner.withColumn("w", inner["k"] + 1))
            assert len(set(persistent_rdd_ids(spark)) - before) == 2
            assert outer.collect()[0]["w"] == 2
        # the nested scope freed only its own pin
        assert len(set(persistent_rdd_ids(spark)) - before) == 1
        assert inner.count() == 1
        release_checkpoint(inner)
        assert not set(persistent_rdd_ids(spark)) - before
        release_checkpoint(inner)
    assert not set(persistent_rdd_ids(spark)) - before


def test_barrier_scope_releases_on_raise(spark):
    """A scope exited by an exception still frees its pins - the
    failure path of a streaming epoch or a catalog query."""
    import pytest

    from machine_downtime_monitor_on_aws_spark.session import (
        barrier,
        barrier_scope,
        persistent_rdd_ids,
    )

    before = set(persistent_rdd_ids(spark))
    df = spark.createDataFrame([(1, "a")], "k int, v string")
    with pytest.raises(RuntimeError, match="sink failed"):
        with barrier_scope(spark):
            barrier(df)
            barrier(df.select("k"), eager=False)
            assert len(set(persistent_rdd_ids(spark)) - before) == 2
            raise RuntimeError("sink failed")
    assert not set(persistent_rdd_ids(spark)) - before


def test_barrier_scope_ignores_other_threads(spark):
    """Scopes are per thread (a ContextVar): a scope open on one
    thread never captures, and so never frees, a barrier another
    thread takes meanwhile - two streaming queries on one context run
    their epochs on different threads."""
    import threading

    from machine_downtime_monitor_on_aws_spark.session import (
        barrier,
        barrier_scope,
        persistent_rdd_ids,
        release_checkpoint,
    )

    df = spark.createDataFrame([(1, "a")], "k int, v string")
    other = {}
    with barrier_scope(spark):
        t = threading.Thread(target=lambda: other.setdefault("ck", barrier(df)))
        t.start()
        t.join()
    ck = other["ck"]
    try:
        assert ck.count() == 1  # still pinned: readable after the scope
        rid = int(ck._jdf.queryExecution().analyzed().rdd().id())
        assert rid in persistent_rdd_ids(spark)
    finally:
        release_checkpoint(ck)
    assert rid not in persistent_rdd_ids(spark)


def test_is_checkpoint_scan_detects_barrier_frames(spark):
    from machine_downtime_monitor_on_aws_spark.session import (
        barrier,
        barrier_scope,
        is_barrier_scan,
    )

    # a createDataFrame frame is itself a bare RDD scan (no upstream
    # pipeline a barrier would protect) - True is correct for it too
    df = spark.createDataFrame([(1, "a")], "k int, v string")
    assert is_barrier_scan(df) is True
    with barrier_scope(spark):
        ck = barrier(df)
        assert is_barrier_scan(ck) is True
        # a transform on top is no longer a bare barrier scan
        assert is_barrier_scan(ck.select("k")) is False
        # a storage-backed relation is not an RDD scan
        import tempfile

        with tempfile.TemporaryDirectory() as d:
            ck.write.mode("overwrite").parquet(f"{d}/p")
            assert is_barrier_scan(spark.read.parquet(f"{d}/p")) is False
