"""KeyedParquetStore: partition-pruned upsert semantics and the
O(batch)-not-O(snapshot) merge property (r1 verdict item #4).
"""

from __future__ import annotations

import os

import pytest
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


_MODES = {
    "compare_col": {"compare_col": "status"},
    "none": {},
    "keep_existing": {"keep_existing": True},
}


class _DictStore:
    """Pure-Python reference for the three upsert modes: one row per
    key, deltas as :meth:`KeyedParquetStore.plan_upsert` defines
    them."""

    def __init__(self, mode: str) -> None:
        self.mode = mode
        self.rows: dict = {}

    def upsert(self, batch):
        deltas = []
        for row in batch:
            k, status = row[0], row[1]
            if self.mode == "keep_existing":
                if k not in self.rows:
                    self.rows[k] = row
                    deltas.append(row)
                continue
            # None == None here: the store's compare is null-safe
            if self.mode == "none" or k not in self.rows or self.rows[k][1] != status:
                deltas.append(row)
            self.rows[k] = row
        return sorted(deltas, key=repr)


def _rows(df):
    return sorted(
        ((r.machine_id, r.status, r.status_epoch) for r in df.collect()), key=repr
    )


def _bucket_bytes(path):
    out = {}
    for d in os.listdir(path):
        if d.startswith("__kb="):
            full = os.path.join(path, d)
            out[d] = {
                f: open(os.path.join(full, f), "rb").read()
                for f in os.listdir(full)
                if f.endswith(".parquet")
            }
    return out


@pytest.mark.parametrize("mode", sorted(_MODES))
def test_upsert_matches_dict_model(spark, tmp_path, mode):
    """plan_upsert + commit (and upsert) against a dict model, in all
    three modes: an empty store, a batch that hits only never-written
    buckets, a batch mixing written and new buckets with NULL
    compare values on both sides, and an identical replay - which
    must leave the buckets it does not hash into byte-identical."""
    from machine_downtime_monitor_on_aws_spark.session import (
        barrier_scope,
        persistent_rdd_ids,
        release_checkpoint,
    )

    path = str(tmp_path / "st")
    store = KeyedParquetStore(path, "machine_id", num_buckets=16)
    kw = _MODES[mode]
    model = _DictStore(mode)
    keys = [f"m{i}" for i in range(200)]
    bucket = {
        r[0]: r[1]
        for r in spark.createDataFrame([(k,) for k in keys], "machine_id string")
        .select("machine_id", store._bucket())
        .collect()
    }
    low = [k for k in keys if bucket[k] < 4]
    mid = [k for k in keys if 4 <= bucket[k] < 8]
    high = [k for k in keys if bucket[k] >= 8]

    def step(batch, replay=False):
        want = model.upsert(batch)
        if replay:
            got = _rows(store.upsert(_df(spark, batch), **kw))
        else:
            deltas, merged = store.plan_upsert(_df(spark, batch), **kw)
            got = _rows(deltas)
            store.commit(merged)
            release_checkpoint(merged)
        assert got == want
        assert _rows(store.read(spark)) == sorted(model.rows.values(), key=repr)
        return got

    before = set(persistent_rdd_ids(spark))
    with barrier_scope(spark):
        assert not store.exists(spark)
        b1 = [(k, "UP", 1) for k in low[:5]] + [(low[5], None, 1), (low[6], None, 1)]
        step(b1)
        written = {f"__kb={bucket[k]}" for k, *_ in b1}
        assert set(_bucket_bytes(path)) == written

        # the store exists, but the batch hits only never-written buckets
        step([(k, "DOWN", 2) for k in high[:3]])

        # mixed: a status change, an unchanged status at a newer epoch,
        # NULL -> NULL, NULL -> value, value -> NULL, plus keys in new
        # buckets
        b3 = [
            (low[0], "DOWN", 3),
            (low[1], "UP", 3),
            (low[5], None, 3),
            (low[6], "UP", 3),
            (low[2], None, 3),
            (mid[0], "UP", 3),
            (mid[1], None, 3),
            (high[0], "UP", 3),
        ]
        d3 = step(b3)
        if mode == "compare_col":
            assert {r[0] for r in d3} == {
                low[0], low[6], low[2], mid[0], mid[1], high[0]
            }

        touched = {f"__kb={bucket[k]}" for k, *_ in b3}
        files = _bucket_bytes(path)
        assert set(files) - touched  # some buckets are not in the replay
        d4 = step(b3, replay=True)
        if mode != "none":
            assert d4 == []
        after = _bucket_bytes(path)
        for d in set(files) - touched:
            assert after[d] == files[d], f"untouched bucket {d} was rewritten"
    assert not set(persistent_rdd_ids(spark)) - before


def test_plan_upsert_hot_path_reads_only_touched_buckets(spark, tmp_path, monkeypatch):
    """A steady-state upsert into a non-empty 64-bucket store never
    walks the store's files, and runs only the jobs of the batch pass
    and the two output barriers - no touched-bucket collect, no
    partition-discovery listing job, no schema-inference job."""
    import uuid

    from machine_downtime_monitor_on_aws_spark import fsio
    from machine_downtime_monitor_on_aws_spark.session import barrier_scope

    path = str(tmp_path / "st")
    store = KeyedParquetStore(path, "machine_id", num_buckets=64)
    seed = _df(spark, [(f"m{i}", "UP", 1) for i in range(400)])
    store.upsert(seed, compare_col="status")
    assert len([d for d in os.listdir(path) if d.startswith("__kb=")]) == 64

    def walk(*a, **kw):
        raise AssertionError("plan_upsert walked every file of the store")

    monkeypatch.setattr(fsio, "list_files_recursive", walk)
    batch = _df(spark, [("m1", "DOWN", 2), ("m2", "UP", 2), ("new", "UP", 2)])
    sc = spark.sparkContext
    group = f"plan-upsert-{uuid.uuid4().hex}"
    with barrier_scope(spark):
        sc.setJobGroup(group, "steady-state plan_upsert")
        try:
            deltas, merged = store.plan_upsert(batch, compare_col="status")
        finally:
            sc.setJobGroup("", "")
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
        assert {r.machine_id for r in deltas.collect()} == {"m1", "new"}
        # merged is exactly the touched buckets' prior rows plus the new key
        touched = [r[0] for r in batch.select(store._bucket()).distinct().collect()]
        prior = spark.read.parquet(path).filter(F.col("__kb").isin(touched))
        assert merged.count() == prior.count() + 1
    # one pass over the batch, the deltas broadcast + barrier, and the
    # merged anti-join (two shuffle stages, AQE's broadcast, barrier)
    assert len(jobs) <= 7, f"plan_upsert ran {len(jobs)} jobs: {sorted(jobs)}"
