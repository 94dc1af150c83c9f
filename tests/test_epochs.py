"""streaming/epochs.run_epochs: the exactly-once epoch protocol every
marker loop runs on, checked once here under a crash at each step of
an epoch, plus the marker sweep's keep/delete rules; and
streaming/epochs.replay_store, the catalog's once-per-corpus replay
harness, under a crash mid-replay."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from machine_downtime_monitor_on_aws_spark import fsio
from machine_downtime_monitor_on_aws_spark.session import barrier, persistent_rdd_ids
from machine_downtime_monitor_on_aws_spark.streaming.epochs import (
    checkpoint_sink_token,
    replay_store,
    run_epochs,
    write_epoch_partition,
)

SCHEMA = "k LONG, v STRING"
N_BATCHES = 3
CRASH_EPOCH = 1


def _write_batches(src: str) -> dict[int, list[tuple]]:
    """One file per epoch, mtimes strictly increasing so the file
    source hands file i to epoch i."""
    os.makedirs(src)
    t0 = int(time.time()) - 100
    expect = {}
    for b in range(N_BATCHES):
        rows = [(b * 10 + i, f"r{b}-{i}") for i in range(4)]
        path = os.path.join(src, f"b{b}.jsonl")
        with open(path, "w") as f:
            f.write("\n".join(json.dumps({"k": k, "v": v}) for k, v in rows))
        os.utime(path, (t0 + b, t0 + b))
        expect[b] = sorted(rows)
    return expect


def _start(spark, src, ckpt, body):
    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).json(src)
    return run_epochs(stream, ckpt, "t", body)


def _markers(marker_dir: str) -> list[str]:
    return sorted(
        n for n in os.listdir(marker_dir)
        if not n.startswith(".") and not n.endswith((".crc", ".tmp"))
    )


@pytest.mark.parametrize("point", ["body", "marker", "post_commit"])
def test_run_epochs_crash_at_every_step(spark, tmp_path, monkeypatch, point):
    """A crash in the body after its write, between the marker write
    and the sweep, or in the post-commit callable: after a restart on
    the same checkpoint every epoch's partition exists once with the
    batch's rows, committed epochs never re-run the body, one marker
    is left, and no barrier pin outlives its epoch."""
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    expect = _write_batches(src)
    pins_before = set(persistent_rdd_ids(spark))
    body_runs: list[int] = []
    post_runs: list[int] = []
    crashed: list[str] = []

    def maybe_crash(where: str, epoch_id: int) -> None:
        if where == point and epoch_id == CRASH_EPOCH and not crashed:
            crashed.append(where)
            raise RuntimeError(f"injected crash: {where}")

    def body(batch_df, epoch_id, epoch_val):
        body_runs.append(epoch_id)
        write_epoch_partition(barrier(batch_df), out, epoch_val)
        maybe_crash("body", epoch_id)

        def after_commit():
            post_runs.append(epoch_id)
            maybe_crash("post_commit", epoch_id)

        return after_commit

    real_write = fsio.write_text_atomic

    def write_then_crash(spark_, path, text):
        ok = real_write(spark_, path, text)
        if "/t_epochs/" in path:
            maybe_crash("marker", int(text.rsplit("-", 1)[1]))
        return ok

    monkeypatch.setattr(fsio, "write_text_atomic", write_then_crash)

    q = _start(spark, src, ckpt, body)
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination()
    assert crashed == [point]
    _start(spark, src, ckpt, body).awaitTermination()

    # only the epoch that crashed before its marker re-runs its body;
    # a committed epoch is never retried, post-commit work included
    rerun = [CRASH_EPOCH] if point == "body" else []
    assert body_runs == sorted([*range(N_BATCHES), *rerun])
    lost = [CRASH_EPOCH] if point == "marker" else []
    assert post_runs == [e for e in range(N_BATCHES) if e not in lost]

    token = checkpoint_sink_token(spark, ckpt)
    parts = sorted(n for n in os.listdir(out) if n.startswith("__epoch_id="))
    assert parts == [f"__epoch_id={token}-{e}" for e in range(N_BATCHES)]
    for e in range(N_BATCHES):
        got = spark.read.schema(SCHEMA).parquet(f"{out}/__epoch_id={token}-{e}")
        assert sorted(tuple(r) for r in got.collect()) == expect[e]

    assert _markers(f"{ckpt}/t_epochs") == [f"{token}-{N_BATCHES - 1}"]
    assert set(persistent_rdd_ids(spark)) - pins_before == set()


def test_run_epochs_sweep_keeps_bookkeeping(spark, tmp_path):
    """The sweep deletes markers of a foreign lineage token (whatever
    their epoch id) and this lineage's older epochs; ``.crc``,
    ``.tmp`` and ``.``-prefixed entries are bookkeeping and stay."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    _write_batches(src)
    marker_dir = f"{ckpt}/t_epochs"
    os.makedirs(marker_dir)
    foreign = ["cafecafecafe-0", "cafecafecafe-99"]
    kept = ["cafecafecafe-0.crc", "cafecafecafe-0.tmp", ".cafecafecafe-0"]
    for name in foreign + kept:
        with open(os.path.join(marker_dir, name), "w") as f:
            f.write(name)

    _start(spark, src, ckpt, lambda df, eid, val: None).awaitTermination()

    token = checkpoint_sink_token(spark, ckpt)
    names = set(os.listdir(marker_dir))
    assert not names & set(foreign)
    assert set(kept) <= names
    assert _markers(marker_dir) == [f"{token}-{N_BATCHES - 1}"]


def _replay(spark, ident: str, colds: list[int], crash_epoch: int | None = None):
    """Replay 12 rows in three arrival epochs (k % 3) through
    run_epochs into ``{root}/out``; the body raises in arrival epoch
    ``crash_epoch``."""

    def cold(root: str):
        colds.append(1)
        df = spark.createDataFrame([(k, f"r{k}") for k in range(12)], SCHEMA)
        return [df.filter(F.col("k") % 3 == ep) for ep in range(3)]

    def start(source, root: str, ep: int):
        def body(batch_df, epoch_id, epoch_val):
            if ep == crash_epoch:
                raise RuntimeError("injected crash")
            write_epoch_partition(batch_df, f"{root}/out", epoch_val)

        return run_epochs(source, f"{root}/ckpt", "t", body)

    return replay_store(spark, "unitreplay", ident, SCHEMA, cold, start)


def _sink_rows(spark, root: str) -> list[tuple]:
    out = spark.read.schema(f"{SCHEMA}, __epoch_id STRING").parquet(f"{root}/out")
    return sorted(
        (r.k, r.v, int(r["__epoch_id"].rsplit("-", 1)[1])) for r in out.collect()
    )


def test_replay_store_crash_then_rerun_matches_clean_replay(
    spark, tmp_path, monkeypatch
):
    """A replay whose stream raises in arrival epoch 1 leaves no
    _REPLAY_DONE; the rerun wipes the partial root (a file dropped
    there is gone) and ends with the sink an uncrashed replay writes,
    each row once in its arrival epoch. A further call is warm: no
    cold preparation, no restage."""
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    ident = "src:1:2:unitreplay:v1"
    root = fsio.tmp_store_path("unitreplay", ident)
    colds: list[int] = []
    with pytest.raises(Exception, match="injected crash"):
        _replay(spark, ident, colds, crash_epoch=1)
    assert not os.path.exists(f"{root}/_REPLAY_DONE")
    staged = sorted(n for n in os.listdir(f"{root}/in") if not n.startswith("."))
    assert staged == ["e0_0.json", "e1_0.json"]
    leftover = os.path.join(root, "leftover")
    with open(leftover, "w") as f:
        f.write("partial")

    assert _replay(spark, ident, colds) == root
    assert os.path.exists(f"{root}/_REPLAY_DONE")
    assert not os.path.exists(leftover)
    clean = _replay(spark, "src:1:2:unitreplay:v1:clean", colds)
    assert clean != root
    got = _sink_rows(spark, root)
    assert got == _sink_rows(spark, clean)
    assert got == sorted((k, f"r{k}", k % 3) for k in range(12))

    assert len(colds) == 3
    assert _replay(spark, ident, colds) == root
    assert len(colds) == 3
