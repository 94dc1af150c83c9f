"""Seeded input generators for the benchmark, and the ingest outcome
each generated backlog must produce.

Everything here is pure Python plus NumPy/PyArrow: no Spark. The same
seed gives byte-identical files, so :func:`digest` of the output
directory names the inputs a run measured.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Seed reserved for confirming a claim after the change was written
# against the default seed (choosing-metrics: a claim must also hold on
# a seed not used while writing the change).
HELD_OUT_SEED = 7919

EVENT_TYPES = ("click", "view", "purchase", "error", "signup")
EVENT_TYPE_WEIGHTS = (0.2, 0.2, 0.2, 0.2, 0.2)
VOCAB = (
    "the a data query table row column key value part hash join merge "
    "sort scan filter group agg window stream batch spark vector line "
    "order customer small big fast slow"
).split()
LANGS = ("en", "fr", "de", "es", "zh")
LANG_WEIGHTS = (0.44, 0.13, 0.14, 0.14, 0.15)
USERS = 200
# share of documents that near-duplicate an earlier one
DUP_SHARE = 0.06


@dataclass(frozen=True)
class TableSpec:
    """Sizes of the generated catalog tables (one parquet file each)."""

    events: int = 20_000
    documents: int = 500


def _write(table: pa.Table, path: str) -> None:
    # one row group, no statistics that embed wall-clock data: the
    # bytes depend only on the rows
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def make_tables(
    out_dir: str,
    seed: int,
    spec: TableSpec = TableSpec(),
    tables: tuple[str, ...] = ("events", "documents"),
) -> None:
    """Write the requested tables among ``events`` and ``documents``
    as parquet files under ``out_dir`` (the ``sf_dir``
    layout ``tables.load_table`` reads). Every table draws from its own
    seeded stream, so a table's bytes do not depend on which others
    are written."""
    os.makedirs(out_dir, exist_ok=True)
    if "events" in tables:
        _events(out_dir, np.random.default_rng([seed, 1, 1]), spec)
    if "documents" in tables:
        _documents(out_dir, np.random.default_rng([seed, 1, 2]), spec)


def _events(out_dir: str, rng: np.random.Generator, spec: TableSpec) -> None:
    # events: strictly increasing microsecond timestamps (no ts ties, so
    # every order-by-ts query has one right answer), machines as users
    n = spec.events
    start_us = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
    span_us = 30 * 86_400 * 1_000_000
    gaps = rng.integers(1, 2 * span_us // n, size=n)
    ts = start_us + np.cumsum(gaps)
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, USERS, size=n), type=pa.int64()),
            "event_type": pa.array(
                [EVENT_TYPES[i] for i in rng.choice(len(EVENT_TYPES), size=n, p=EVENT_TYPE_WEIGHTS)]
            ),
            "value": pa.array(np.round(rng.integers(1, 49_003, size=n) / 100.0, 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
        }
    )
    _write(events, os.path.join(out_dir, "events.parquet"))


def _documents(out_dir: str, rng: np.random.Generator, spec: TableSpec) -> None:
    # documents: random word strings; a fixed share are near-duplicates
    # of an earlier document (one word swapped, " dup" appended). The
    # count is fixed, not drawn, so that seeds differ in content but
    # not in how much near-duplicate work they hold
    texts: list[str] = []
    n_dup = round(DUP_SHARE * spec.documents)
    dups = set(rng.choice(np.arange(11, spec.documents), size=n_dup, replace=False).tolist())
    for i in range(spec.documents):
        if i in dups:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words) + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), size=k)))
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(spec.documents, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[j] for j in rng.choice(len(LANGS), size=spec.documents, p=LANG_WEIGHTS)]),
            "source": pa.array([f"src{j}" for j in rng.integers(0, 20, size=spec.documents)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )
    _write(docs, os.path.join(out_dir, "documents.parquet"))


# ---------------------------------------------------------------- ingest

STATUS_TAG = "status"
COUNT_TAG = "pc"
UP_VALUES = ("u", "true", "200")
DOWN_VALUES = ("d", "false", "500")
IDLE_VALUES = ("i",)
REJECT_CLASSES = ("bad_base64", "bad_json", "blank_field", "bad_timestamp", "short_alias")
MACHINES = 400  # configured machines
UNCONFIGURED_MACHINES = 20
ZIPF_A = 1.3
UNCONFIGURED_SHARE = 0.05  # of messages
UNMAPPED_STATUS_SHARE = 0.03  # status values in no list
MAX_MESSAGES = 8


@dataclass(frozen=True)
class BacklogSpec:
    """Shape of the envelope backlog one drain consumes."""

    records: int = 1000
    records_per_file: int = 20
    reject_share: float = 0.03


@dataclass
class IngestExpectation:
    """What a drain of the backlog must write, derived from the seed.

    ``epochs`` holds one dict per micro-batch (realtime rows, feed
    rows); ``snapshot`` maps machine id -> (status, status epoch)."""

    records: int = 0
    rejects: int = 0
    messages: int = 0  # messages of accepted records
    realtime: int = 0
    feed: int = 0
    epochs: list[dict] = field(default_factory=list)
    snapshot: dict[str, tuple[str, int]] = field(default_factory=dict)
    reject_classes: dict[str, int] = field(default_factory=dict)


def machine_id(i: int) -> str:
    return f"site{i % 3}/area{i % 7}/line{i % 5}/m{i}"


def machine_configs() -> list[dict]:
    """Keyword arguments for ``config.MachineConfig``, one per
    configured machine (CSV value lists, as the reference stores them)."""
    return [
        dict(
            id=machine_id(i),
            status_tag=STATUS_TAG,
            production_count_tag=COUNT_TAG,
            status_up_values=", ".join(UP_VALUES),
            status_down_values=", ".join(DOWN_VALUES),
            status_idle_values=", ".join(IDLE_VALUES),
        )
        for i in range(MACHINES)
    ]


def _fmt_ts(epoch_s: int, micros: int, offset_min: int) -> str:
    """``yyyy-MM-dd HH:mm:ss.SSSSSSXXX`` wall-clock rendering of an
    instant at the given UTC offset."""
    import datetime as dt

    tz = dt.timezone(dt.timedelta(minutes=offset_min))
    t = dt.datetime.fromtimestamp(epoch_s, tz).replace(microsecond=micros)
    off = f"{'+' if offset_min >= 0 else '-'}{abs(offset_min) // 60:02d}:{abs(offset_min) % 60:02d}"
    return t.strftime("%Y-%m-%d %H:%M:%S.%f") + off


def _status_of(value: str) -> str | None:
    if value in UP_VALUES:
        return "UP"
    if value in DOWN_VALUES:
        return "DOWN"
    if value in IDLE_VALUES:
        return "IDLE"
    return None


def make_backlog(
    src_dir: str, seed: int, spec: BacklogSpec, files_per_epoch: int
) -> IngestExpectation:
    """Write the envelope backlog as JSON-lines files under ``src_dir``
    and return what draining it ``files_per_epoch`` files per epoch
    must produce.

    File modification times increase one second per file, so the file
    source's oldest-first order (and with it each epoch's content) is
    fixed. Timestamps run out of order within and across epochs; a
    machine's status timestamps never repeat a second, so the latest
    status per machine and epoch is unique."""
    os.makedirs(src_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    exp = IngestExpectation(reject_classes={c: 0 for c in REJECT_CLASSES})
    base_epoch = 1_614_967_200  # 2021-03-05 18:00:00 UTC
    used_status_secs: set[tuple[str, int]] = set()
    zipf_w = 1.0 / np.arange(1, MACHINES + 1) ** ZIPF_A
    zipf_w /= zipf_w.sum()
    perm = rng.permutation(MACHINES)  # hot machines spread over buckets

    n_files = -(-spec.records // spec.records_per_file)
    epoch_latest: dict[str, tuple[int, str]] = {}
    epoch_rt = 0
    snapshot: dict[str, tuple[str, int]] = {}

    def close_epoch() -> None:
        nonlocal epoch_latest, epoch_rt
        feed = 0
        for m, (sec, st) in epoch_latest.items():
            if m not in snapshot or snapshot[m][0] != st:
                feed += 1
            snapshot[m] = (st, sec)
        exp.epochs.append({"realtime": epoch_rt, "feed": feed})
        exp.realtime += epoch_rt
        exp.feed += feed
        epoch_latest, epoch_rt = {}, 0

    for fi in range(n_files):
        lines: list[str] = []
        for r in range(fi * spec.records_per_file, min(spec.records, (fi + 1) * spec.records_per_file)):
            exp.records += 1
            reject = None
            if rng.random() < spec.reject_share:
                reject = REJECT_CLASSES[int(rng.integers(0, len(REJECT_CLASSES)))]
            msgs = []
            accepted: list[tuple[str, str, str, int]] = []  # machine, tag, value, epoch
            # drifting clock with jitter: out of order inside a record
            # batch and across files
            centre = base_epoch + r * 3
            for _ in range(int(rng.integers(1, MAX_MESSAGES + 1))):
                if rng.random() < UNCONFIGURED_SHARE:
                    mid = f"plant/x/y/u{int(rng.integers(0, UNCONFIGURED_MACHINES))}"
                else:
                    mid = machine_id(int(perm[rng.choice(MACHINES, p=zipf_w)]))
                kind = rng.random()
                if kind < 0.5:
                    tag = STATUS_TAG
                    if rng.random() < UNMAPPED_STATUS_SHARE:
                        value: object = "x"
                    else:
                        pool = UP_VALUES + DOWN_VALUES + IDLE_VALUES
                        value = pool[int(rng.integers(0, len(pool)))]
                elif kind < 0.9:
                    tag, value = COUNT_TAG, int(rng.integers(0, 10_000))
                else:
                    tag, value = "temperature", round(float(rng.normal(60, 5)), 2)
                sec = centre + int(rng.integers(-240, 240))
                if tag == STATUS_TAG:
                    while (mid, sec) in used_status_secs:
                        sec += 1
                    used_status_secs.add((mid, sec))
                offset = (0, 0, 0, 60, -300)[int(rng.integers(0, 5))]
                msgs.append(
                    {
                        "name": f"{mid}/{tag}",
                        "quality": "GOOD",
                        "timestamp": _fmt_ts(sec, int(rng.integers(0, 1_000_000)), offset),
                        "value": value,
                    }
                )
                accepted.append((mid, tag, str(value), sec))
            if reject == "blank_field":
                msgs[int(rng.integers(0, len(msgs)))]["quality"] = "  "
            elif reject == "bad_timestamp":
                msgs[int(rng.integers(0, len(msgs)))]["timestamp"] = "2021/03/05 18:00:00"
            elif reject == "short_alias":
                msgs[int(rng.integers(0, len(msgs)))]["name"] = "loneword"
            payload = json.dumps({"messages": msgs}, separators=(",", ":"))
            data = base64.b64encode(payload.encode()).decode()
            if reject == "bad_json":
                data = base64.b64encode(payload[:-3].encode()).decode()
            elif reject == "bad_base64":
                data = data.rstrip("=") + "!"
            lines.append(
                json.dumps(
                    {
                        "record_id": f"r{r}",
                        "partition_key": accepted[0][0],
                        "arrival_ts": float(base_epoch + r),
                        "data": data,
                    },
                    separators=(",", ":"),
                )
            )
            if reject is not None:
                exp.rejects += 1
                exp.reject_classes[reject] += 1
                continue
            exp.messages += len(accepted)
            for mid, tag, value, sec in accepted:
                if mid.startswith("plant/") or tag not in (STATUS_TAG, COUNT_TAG):
                    continue
                if tag == COUNT_TAG:
                    epoch_rt += 1
                    continue
                st = _status_of(value)
                if st is None:
                    continue
                epoch_rt += 1
                if mid not in epoch_latest or epoch_latest[mid][0] < sec:
                    epoch_latest[mid] = (sec, st)
        path = os.path.join(src_dir, f"part-{fi:05d}.jsonl")
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        mtime = 1_700_000_000 + fi
        os.utime(path, (mtime, mtime))
        if (fi + 1) % files_per_epoch == 0 or fi == n_files - 1:
            close_epoch()
    exp.snapshot = snapshot
    return exp


def digest(paths: list[str]) -> str:
    """sha256 over the bytes of every file under ``paths`` (sorted
    relative names), so two runs can show they measured the same
    inputs."""
    h = hashlib.sha256()
    for root in sorted(paths):
        for dirpath, dirnames, filenames in os.walk(root):
            dirnames.sort()
            for name in sorted(filenames):
                p = os.path.join(dirpath, name)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()
