"""streaming/epochs.run_epochs: the exactly-once epoch protocol every
marker loop runs on, checked once here under a crash at each step of
an epoch, plus the marker sweep's keep/delete rules."""

from __future__ import annotations

import json
import os
import time

import pytest

from machine_downtime_monitor_on_aws_spark import fsio
from machine_downtime_monitor_on_aws_spark.session import barrier, persistent_rdd_ids
from machine_downtime_monitor_on_aws_spark.streaming.epochs import (
    checkpoint_sink_token,
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
