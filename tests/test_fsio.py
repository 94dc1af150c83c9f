"""Hadoop-FS control-plane seam (r5 verdict item #1).

The exactly-once tokens/markers/feed gates and the compaction passes
run through machine_downtime_monitor_on_aws_spark.fsio (the Hadoop
FileSystem API) so the same code path works on file://, hdfs://, and
s3a://. These tests exercise the primitives AND the token/marker
consumers through EXPLICIT ``file:`` URIs - the seam a real
object-store deployment needs: with the old os.path realization every
one of these calls silently returned False/failed for any URI.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from machine_downtime_monitor_on_aws_spark import fsio


def test_fsio_primitives_roundtrip_file_uri(spark, tmp_path):
    root = "file:" + str(tmp_path / "ctl")
    assert not fsio.exists(spark, root)
    fsio.mkdirs(spark, root)
    assert fsio.is_dir(spark, root)

    p = root + "/token"
    assert fsio.write_text_atomic(spark, p, "abc123")
    assert fsio.read_text(spark, p) == "abc123"
    # tmp staging file must not survive the publish
    assert not fsio.exists(spark, p + ".tmp")
    names = [n for n in fsio.list_names(spark, root) if not n.startswith(".")]
    assert names == ["token"]

    assert fsio.rename(spark, p, root + "/token2")
    assert not fsio.exists(spark, p)
    assert fsio.read_text(spark, root + "/token2") == "abc123"

    files = fsio.list_files_recursive(spark, root)
    assert any(f.endswith("/token2") for f in files)
    assert fsio.delete(spark, root + "/token2", recursive=False)
    assert fsio.list_files_recursive(spark, root + "/absent") == []


def test_checkpoint_token_stable_through_file_uri(spark, tmp_path):
    """The lineage token written via a file: URI must be re-read
    identically by a plain-path caller and vice versa - both resolve
    to the same file through the Hadoop local filesystem."""
    from machine_downtime_monitor_on_aws_spark.streaming.epochs import (
        checkpoint_sink_token,
    )

    ckpt = tmp_path / "ckpt"
    t1 = checkpoint_sink_token(spark, "file:" + str(ckpt))
    t2 = checkpoint_sink_token(spark, str(ckpt))
    t3 = checkpoint_sink_token(spark, "file:" + str(ckpt))
    assert t1 == t2 == t3
    assert len(t1) == 12


def test_feed_epoch_published_gate_file_uri(spark, tmp_path):
    from machine_downtime_monitor_on_aws_spark.streaming.epochs import (
        feed_epoch_published,
    )

    feed = "file:" + str(tmp_path / "feed")
    assert not feed_epoch_published(spark, feed, "tok-0")
    (
        spark.range(3)
        .withColumn("__epoch_id", F.lit("tok-0"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__epoch_id")
        .parquet(feed)
    )
    assert feed_epoch_published(spark, feed, "tok-0")
    # an epoch that never published stays unpublished - the write-once
    # guard's exact discrimination
    assert not feed_epoch_published(spark, feed, "tok-1")


def test_ingest_fails_fast_on_flat_lake(spark, tmp_path):
    """r5 ADVICE (medium): pointing the epoch-partitioned realtime
    sink at a legacy FLAT day-partitioned lake must fail at start -
    not corrupt partition discovery for the whole lake on epoch 1 -
    and compact_retention(add_epoch_level=True) is the migration."""
    from machine_downtime_monitor_on_aws_spark.sources.lake import (
        compact_retention,
        write_lake,
    )
    from machine_downtime_monitor_on_aws_spark.streaming.ingest import (
        _assert_epoch_layout,
    )

    lake = str(tmp_path / "lake")
    flat = spark.createDataFrame(
        [(1, 2_000_000)], "id INT, message_timestamp LONG"
    ).withColumn("event_ts", F.timestamp_seconds(F.col("message_timestamp")))
    write_lake(flat, lake)  # flat layout: year/month/day, no epoch level

    with pytest.raises(ValueError, match="batch_epoch"):
        _assert_epoch_layout(spark, lake)

    # migration pass: unconditional batch_epoch=compacted level
    compact_retention(
        spark, lake, retention_hours=24, now_epoch=2_000_000, add_epoch_level=True
    )
    _assert_epoch_layout(spark, lake)  # now accepted
    dirs = {
        d
        for root, ds, _ in os.walk(lake)
        for d in ds
        if d.startswith("batch_epoch=")
    }
    assert dirs == {"batch_epoch=compacted"}
    # and the migrated lake is readable with the layout consumers expect
    out = spark.read.parquet(lake)
    assert out.count() == 1 and "batch_epoch" in out.columns


def test_streaming_dedup_markers_through_file_uri(spark, tmp_path):
    """End-to-end: the incremental dedup loop with its CHECKPOINT DIR
    (token + epoch markers + pruning) addressed as a file: URI - the
    exact seam an s3a:// checkpointLocation exercises."""
    from machine_downtime_monitor_on_aws_spark.streaming.dedup import (
        run_incremental_dedup_stream,
    )

    src = tmp_path / "src"
    src.mkdir()
    with open(src / "b1.jsonl", "w") as f:
        f.write(
            "\n".join(
                json.dumps(r)
                for r in [
                    {"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog again and again"},
                    {"doc_id": 2, "text": "the quick brown fox jumps over the lazy dog again and again"},
                ]
            )
        )
    table = "t_fsio_dedup_idx"
    ckpt_uri = "file:" + str(tmp_path / "ckpt")
    pairs = str(tmp_path / "pairs")
    try:
        stream = (
            spark.readStream.schema("doc_id LONG, text STRING")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = run_incremental_dedup_stream(
            stream, table, pairs, ckpt_uri, num_perms=4, num_bands=2, num_buckets=4
        )
        q.awaitTermination()
        got = {
            (r.doc_a, r.doc_b) for r in spark.read.parquet(pairs).collect()
        }
        assert got == {(1, 2)}
        markers = [
            m
            for m in os.listdir(tmp_path / "ckpt" / "dedup_epochs")
            if not m.endswith(".tmp") and not m.startswith(".")
        ]
        assert len(markers) == 1
        # restart over the same URI checkpoint: fully-committed epoch
        # replay is a no-op (marker read back through the URI)
        stream2 = (
            spark.readStream.schema("doc_id LONG, text STRING")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q2 = run_incremental_dedup_stream(
            stream2, table, pairs, ckpt_uri, num_perms=4, num_bands=2, num_buckets=4
        )
        q2.awaitTermination()
        assert spark.table(table).select("doc_id").distinct().count() == 2
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_publish_dir_single_rename_semantics(spark, tmp_path):
    """publish_dir: a fully staged store swings into place with one
    rename (True), a lost race deletes the staged copy and keeps the
    winner (False), and a crashed-writer partial at the destination
    is cleared before the publish."""
    from machine_downtime_monitor_on_aws_spark import fsio

    final = str(tmp_path / "store")

    def stage(name: str, committed: bool = True) -> str:
        staged = str(tmp_path / name)
        fsio.mkdirs(spark, staged)
        fsio.write_text(spark, f"{staged}/table.parquet", "data-" + name)
        if committed:
            fsio.write_text_atomic(spark, f"{staged}/_STORE_OK", "ok")
        return staged

    s1 = stage("build-a")
    assert fsio.publish_dir(spark, s1, final) is True
    assert fsio.read_text(spark, f"{final}/table.parquet") == "data-build-a"
    assert not fsio.exists(spark, s1)  # staged copy consumed

    # second writer loses the race: staged copy removed, winner kept
    s2 = stage("build-b")
    assert fsio.publish_dir(spark, s2, final) is False
    assert fsio.read_text(spark, f"{final}/table.parquet") == "data-build-a"
    assert not fsio.exists(spark, s2)

    # crashed-writer partial (no commit record) at the destination is
    # cleared and the new build publishes
    fsio.delete(spark, final)
    partial = stage("partial", committed=False)
    assert fsio.rename(spark, partial, final)
    s3 = stage("build-c")
    assert fsio.publish_dir(spark, s3, final) is True
    assert fsio.read_text(spark, f"{final}/table.parquet") == "data-build-c"
    assert fsio.exists(spark, f"{final}/_STORE_OK")

    # a missing destination parent is no obstacle: the local-FS
    # realization falls back to copy and creates it (same code path a
    # cluster's object store takes)
    s4 = stage("build-d")
    nested = str(tmp_path / "no" / "such" / "dir" / "store")
    assert fsio.publish_dir(spark, s4, nested) is True
    assert fsio.read_text(spark, f"{nested}/table.parquet") == "data-build-d"


def _stage_store(spark, tmp_path, name: str, committed: bool = True) -> str:
    staged = str(tmp_path / name)
    fsio.mkdirs(spark, staged)
    fsio.write_text(spark, f"{staged}/table.parquet", "data-" + name)
    if committed:
        fsio.write_text_atomic(spark, f"{staged}/_STORE_OK", "ok")
    return staged


def test_publish_dir_two_writers_over_crash_partial(spark, tmp_path):
    """Two writers that both built against the same crashed-writer
    partial (r11 verdict #3): the first publish swings its build in,
    the second must NOT disturb the committed store (False), and no
    trash/staging residue survives either publish."""
    final = str(tmp_path / "store")
    partial = _stage_store(spark, tmp_path, "crashed", committed=False)
    assert fsio.rename(spark, partial, final)

    a = _stage_store(spark, tmp_path, "writer-a")
    b = _stage_store(spark, tmp_path, "writer-b")
    assert fsio.publish_dir(spark, a, final) is True
    assert fsio.publish_dir(spark, b, final) is False
    assert fsio.read_text(spark, f"{final}/table.parquet") == "data-writer-a"
    assert fsio.exists(spark, f"{final}/_STORE_OK")
    residue = [
        n
        for n in fsio.list_names(spark, str(tmp_path))
        if ".trash-" in n or n in ("writer-a", "writer-b", "crashed")
    ]
    assert residue == [], residue


def test_publish_dir_rechecks_commit_before_clearing_partial(
    spark, tmp_path, monkeypatch
):
    """TOCTOU guard (r11 ADVICE #2): when a concurrent writer commits
    between the first commit-record check and the partial-clearing
    branch, publish_dir must observe the second check and back off
    WITHOUT renaming the freshly published store aside."""
    final = str(tmp_path / "store")
    winner = _stage_store(spark, tmp_path, "winner")
    assert fsio.publish_dir(spark, winner, final) is True

    loser = _stage_store(spark, tmp_path, "loser")
    ok = f"{final}/_STORE_OK"
    calls = {"n": 0}
    real_exists = fsio.exists

    def racy_exists(sp, path):
        if path == ok:
            calls["n"] += 1
            if calls["n"] == 1:
                return False  # the stale observation a racer acts on
        return real_exists(sp, path)

    real_rename = fsio.rename

    def guarded_rename(sp, src, dst):
        assert ".trash-" not in dst, "published store was moved aside"
        return real_rename(sp, src, dst)

    monkeypatch.setattr(fsio, "exists", racy_exists)
    monkeypatch.setattr(fsio, "rename", guarded_rename)
    assert fsio.publish_dir(spark, loser, final) is False
    assert calls["n"] >= 2  # the recheck actually ran
    monkeypatch.undo()
    assert fsio.read_text(spark, f"{final}/table.parquet") == "data-winner"
    assert fsio.exists(spark, ok)


def test_publish_dir_surfaces_commit_record_last(spark, tmp_path, monkeypatch):
    """Copy-publish robustness (r11 ADVICE #1): the commit record
    must travel under a hidden name during the directory move - so
    even a rename that degrades to a non-atomic per-file copy can
    never surface it before the data files - and reappear via ONE
    single-file rename strictly after the directory publish."""
    final = str(tmp_path / "store")
    staged = _stage_store(spark, tmp_path, "build")
    seq = []
    real_rename = fsio.rename

    def recording_rename(sp, src, dst):
        if src == staged:
            # at directory-publish time the record is already hidden
            names = fsio.list_names(sp, staged)
            assert "_STORE_OK" not in names, names
            assert "._STORE_OK.staged" in names, names
        seq.append((src, dst))
        return real_rename(sp, src, dst)

    monkeypatch.setattr(fsio, "rename", recording_rename)
    assert fsio.publish_dir(spark, staged, final) is True
    assert seq[-1] == (f"{final}/._STORE_OK.staged", f"{final}/_STORE_OK")
    assert [s for s, _ in seq].count(staged) == 1
    assert fsio.read_text(spark, f"{final}/table.parquet") == "data-build"
    assert not fsio.exists(spark, f"{final}/._STORE_OK.staged")


def test_publish_dir_refuses_uncommitted_staged_build(spark, tmp_path):
    """A staged dir missing its commit record is a builder bug - the
    publish must fail loudly instead of shipping a store no reader
    can certify (and must still clean up the staged copy)."""
    final = str(tmp_path / "store")
    staged = _stage_store(spark, tmp_path, "nocommit", committed=False)
    with pytest.raises(IOError, match="lacks its commit record"):
        fsio.publish_dir(spark, staged, final)
    assert not fsio.exists(spark, staged)
    assert not fsio.exists(spark, final)


def test_publish_dir_refuses_when_record_cannot_step_aside(
    spark, tmp_path
):
    """If the commit record cannot move to its hidden name (a reused
    staged dir already carrying one), publishing would surface the
    record mid-copy on copy-publish filesystems - the exact ordering
    hazard the protocol prevents. Must raise, publish nothing, and
    still clean up the staged copy."""
    final = str(tmp_path / "store")
    staged = _stage_store(spark, tmp_path, "reused")
    fsio.write_text(spark, f"{staged}/._STORE_OK.staged", "stale")
    with pytest.raises(IOError, match="step the commit record aside"):
        fsio.publish_dir(spark, staged, final)
    assert not fsio.exists(spark, final)
    assert not fsio.exists(spark, staged)


def _store_dirs(tmp_path, family: str) -> list[str]:
    return sorted(
        n for n in os.listdir(tmp_path) if n.startswith(f"spark_graft_{family}_")
    )


def test_build_if_absent_builds_once_then_serves_warm(
    spark, tmp_path, monkeypatch
):
    """The first call builds under a .build-* sibling and publishes
    it with a _STORE_OK record; the second call runs no build and
    makes exactly one exists-probe, of the commit record."""
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    builds: list[str] = []

    def build(staged: str) -> None:
        builds.append(staged)
        fsio.write_text(spark, f"{staged}/data.txt", "payload")

    ident = "src:1:2:unitbuild:v1"
    path = fsio.build_if_absent(spark, "unitbuild", ident, build)
    assert path == fsio.tmp_store_path("unitbuild", ident)
    assert len(builds) == 1 and builds[0].startswith(f"{path}.build-")
    assert fsio.read_text(spark, f"{path}/data.txt") == "payload"
    assert fsio.exists(spark, f"{path}/_STORE_OK")
    assert _store_dirs(tmp_path, "unitbuild") == [os.path.basename(path)]

    probes: list[str] = []
    real_exists = fsio.exists

    def counting_exists(spark_, p):
        probes.append(p)
        return real_exists(spark_, p)

    monkeypatch.setattr(fsio, "exists", counting_exists)
    assert fsio.build_if_absent(spark, "unitbuild", ident, build) == path
    assert len(builds) == 1
    assert probes == [f"{path}/_STORE_OK"]


def test_build_if_absent_raising_build_publishes_nothing(
    spark, tmp_path, monkeypatch
):
    """A build that raises (here after writing its own commit record)
    leaves neither a published store nor its staged directory, and
    the next call builds from scratch."""
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    ident = "src:1:2:unitfail:v1"

    def failing(staged: str) -> None:
        fsio.write_text(spark, f"{staged}/params.json", "{}")
        raise RuntimeError("injected build failure")

    with pytest.raises(RuntimeError, match="injected build failure"):
        fsio.build_if_absent(
            spark, "unitfail", ident, failing, ok_name="params.json"
        )
    assert _store_dirs(tmp_path, "unitfail") == []

    path = fsio.build_if_absent(
        spark, "unitfail", ident,
        lambda staged: fsio.write_text(spark, f"{staged}/params.json", "{}"),
        ok_name="params.json",
    )
    assert fsio.read_text(spark, f"{path}/params.json") == "{}"
    assert not fsio.exists(spark, f"{path}/_STORE_OK")
    assert _store_dirs(tmp_path, "unitfail") == [os.path.basename(path)]


def test_sweep_stale_stores_reclaims_unregistered_generations(
    spark, tmp_path, monkeypatch
):
    """sweep_stale_stores (r11 verdict #4) deletes spark_graft_* dirs
    no tmp_store_path call in this process registered - the orphans a
    version-token bump leaves behind, crashed .build-* staging, and
    publish trash - and never touches live stores or foreign names."""
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    live = fsio.tmp_store_path("unitfam", "src:1:2:unitfam:v2:k")
    fsio.mkdirs(spark, live)
    fsio.write_text(spark, f"{live}/table.parquet", "live")

    stale_gen = str(tmp_path / "spark_graft_unitfam_0123456789")
    crashed = f"{live}.build-deadbeef"
    trash = f"{live}.trash-deadbeef"
    foreign = str(tmp_path / "keep_me")
    for d in (stale_gen, crashed, trash, foreign):
        fsio.mkdirs(spark, d)

    swept = sorted(fsio.sweep_stale_stores(spark, min_age_sec=0))
    assert swept == sorted(
        [stale_gen, crashed, trash]
    ), swept
    assert fsio.exists(spark, live)
    assert fsio.read_text(spark, f"{live}/table.parquet") == "live"
    assert fsio.exists(spark, foreign)
    # idempotent: a second sweep finds nothing
    assert fsio.sweep_stale_stores(spark, min_age_sec=0) == []


def test_sweep_stale_stores_noop_from_fresh_process(
    spark, tmp_path, monkeypatch
):
    """The r12 verdict's liveness hazard: a process that has not
    touched the catalog yet knows no live paths, so an early sweep
    used to reclaim every current-generation store (silent full
    rebuild). Family scoping makes that structural: zero registered
    families sweep zero dirs, whatever is on disk."""
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(fsio, "_LIVE_STORE_PATHS", set())
    current = str(tmp_path / "spark_graft_unitfam_0123456789")
    crashed = f"{current}.build-deadbeef"
    for d in (current, crashed):
        fsio.mkdirs(spark, d)

    assert fsio.sweep_stale_stores(spark, min_age_sec=0) == []
    assert fsio.exists(spark, current)
    assert fsio.exists(spark, crashed)


def test_sweep_stale_stores_scoped_to_registered_families(
    spark, tmp_path, monkeypatch
):
    """A partially warmed process reclaims only within families it
    registered: famA's stale generation and crashed staging go, but
    famB's dirs - possibly the current generation another consumer
    serves - are out of reach until this process computes a famB
    path. Family names with underscores must parse (tag is the fixed
    10-hex suffix)."""
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(fsio, "_LIVE_STORE_PATHS", set())
    live_a = fsio.tmp_store_path("fam_a", "src:1:fam_a:v2:k")
    fsio.mkdirs(spark, live_a)

    stale_a = str(tmp_path / "spark_graft_fam_a_0123456789")
    crashed_a = f"{live_a}.build-deadbeef"
    current_b = str(tmp_path / "spark_graft_fam_b_abcdef0123")
    crashed_b = f"{current_b}.build-deadbeef"
    trash_b = f"{current_b}.trash-deadbeef"
    odd_name = str(tmp_path / "spark_graft_notatag")
    for d in (stale_a, crashed_a, current_b, crashed_b, trash_b, odd_name):
        fsio.mkdirs(spark, d)

    swept = sorted(fsio.sweep_stale_stores(spark, min_age_sec=0))
    assert swept == sorted([stale_a, crashed_a]), swept
    for kept in (live_a, current_b, crashed_b, trash_b, odd_name):
        assert fsio.exists(spark, kept), kept


def test_sweep_stale_stores_spares_young_dirs(spark, tmp_path, monkeypatch):
    """Default grace window: a candidate modified within min_age_sec
    is skipped even when its family is registered - an in-flight
    concurrent builder's staging dir is young by construction, so the
    quiesced-use convention is enforced rather than assumed. Age 0
    reclaims it (the quiesced caller's explicit choice)."""
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(fsio, "_LIVE_STORE_PATHS", set())
    live = fsio.tmp_store_path("gracefam", "src:1:gracefam:v1:k")
    fsio.mkdirs(spark, live)
    in_flight = f"{live}.build-deadbeef"
    fsio.mkdirs(spark, in_flight)

    assert fsio.sweep_stale_stores(spark) == []
    assert fsio.exists(spark, in_flight)
    swept = fsio.sweep_stale_stores(spark, min_age_sec=0)
    assert swept == [in_flight], swept
    assert fsio.exists(spark, live)


def test_tmp_store_path_rejects_unparseable_family():
    """_store_family splits at the first "." and the final "_"; a
    family outside [A-Za-z0-9_]+ would parse back differently than
    written and silently confuse sweep scoping - reject at the
    source."""
    with pytest.raises(ValueError, match="store family"):
        fsio.tmp_store_path("bad.family", "x:v1")
    with pytest.raises(ValueError, match="store family"):
        fsio.tmp_store_path("", "x:v1")


def test_store_family_roundtrip_property():
    """Every name tmp_store_path can produce - and its .build-/.trash-
    siblings - parses back to the family it was written with."""
    from hypothesis import given, strategies as st

    fam_st = st.from_regex(r"[A-Za-z0-9_]+", fullmatch=True).filter(
        lambda s: len(s) <= 40
    )

    @given(fam_st, st.text(min_size=1, max_size=20),
           st.sampled_from(["", ".build-deadbeef", ".trash-deadbeef"]))
    def check(family, ident, suffix):
        import hashlib
        tag = hashlib.md5(ident.encode("utf-8")).hexdigest()[:10]
        name = f"spark_graft_{family}_{tag}{suffix}"
        assert fsio._store_family(name, "spark_graft_") == family

    check()


def test_sweep_custom_root_ignores_other_roots_registrations(
    spark, tmp_path, monkeypatch
):
    """Family liveness is per-root (r13 ADVICE #1): registering a
    family under the system tempdir must not make same-named dirs
    under a DIFFERENT sweep root reclaimable - they may be another
    deployment's current generation whose live tag this process never
    registered. Registering under the custom root itself does."""
    import tempfile

    sysroot = tmp_path / "sys"
    other = tmp_path / "other"
    sysroot.mkdir()
    other.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(sysroot))
    monkeypatch.setattr(fsio, "_LIVE_STORE_PATHS", set())

    live_sys = fsio.tmp_store_path("rootfam", "src:1:rootfam:v2:k")
    fsio.mkdirs(spark, live_sys)
    foreign = str(other / "spark_graft_rootfam_0123456789")
    fsio.mkdirs(spark, foreign)

    # same family name, different root: out of reach
    assert fsio.sweep_stale_stores(spark, root=str(other), min_age_sec=0) == []
    assert fsio.exists(spark, foreign)

    # a registration under the custom root itself vouches for it
    fsio._LIVE_STORE_PATHS.add(str(other / "spark_graft_rootfam_aaaaaaaaaa"))
    swept = fsio.sweep_stale_stores(spark, root=str(other), min_age_sec=0)
    assert swept == [foreign], swept


def test_sweep_age_zero_unconditional_on_future_mtime(
    spark, tmp_path, monkeypatch
):
    """min_age_sec<=0 skips the mtime stat entirely (r13 ADVICE #3):
    a candidate touched with a slightly-future mtime (clock skew on a
    shared filesystem) is still reclaimed, keeping 'pass 0 to reclaim
    regardless of age' literal."""
    import os
    import tempfile
    import time

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(fsio, "_LIVE_STORE_PATHS", set())
    live = fsio.tmp_store_path("skewfam", "src:1:skewfam:v1:k")
    fsio.mkdirs(spark, live)
    stale = str(tmp_path / "spark_graft_skewfam_0123456789")
    fsio.mkdirs(spark, stale)
    future = time.time() + 3600
    os.utime(stale, (future, future))

    assert fsio.sweep_stale_stores(spark) == []  # grace window holds
    swept = fsio.sweep_stale_stores(spark, min_age_sec=0)
    assert swept == [stale], swept
