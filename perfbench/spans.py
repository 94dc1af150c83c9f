"""Span recording, percentile rule and Spark status probes.

Spans are recorded only from this directory's code: :func:`instrument`
wraps the package's public entry points (and PySpark's sink writers)
in place for the life of a traced run; the package itself is not
edited. Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import itertools
import json
import math
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    op: str | None
    start: float
    end: float = math.nan

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Each thread keeps its own open-span
    stack, so spans opened on a streaming callback thread nest under
    that thread's epoch span, not under the caller's."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        s = Span(
            next(self._ids),
            parent.id if parent else None,
            name,
            op if op is not None else (parent.op if parent else None),
            time.perf_counter(),
        )
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        traced.__name__ = getattr(fn, "__name__", name)
        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(s.__dict__) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval that its
    child spans cover (children may overlap each other)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(kids.get(s.id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = s.dur - covered
    return out


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the smallest sample with at least p%
    of the samples at or below it)."""
    xs = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def median(values: list[float]) -> float:
    xs = sorted(values)
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """The highest whole percentile above the median that leaves at
    least ``beyond`` of ``n`` samples strictly above its nearest-rank
    sample; None when even the median does not (n < 2 * beyond)."""
    best = None
    for p in range(50, 100):
        k = max(1, math.ceil(p / 100.0 * n))
        if n - k >= beyond:
            best = p
    return best


def timing_summary(values: list[float]) -> dict:
    """Median plus the tail percentile the rule allows, with the
    sample count recorded beside them."""
    out = {"n": len(values), "p50": median(values) if values else None}
    p = tail_percentile(len(values))
    if p is not None and p > 50:
        out["tail_p"] = p
        out["tail"] = percentile(values, p)
    return out


# ------------------------------------------------------- Spark probes


class SparkProbe:
    """Reads job, stage and Catalyst data that Spark records anyway:
    the status tracker for a job group's jobs, the app status store for
    stage metrics, and a frame's query-phase tracker."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = spark._jsc.sc()

    def drain_listener(self) -> None:
        # stage metrics arrive through the listener bus asynchronously
        self._jsc.listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def exec_stats(self, groups: list[str]) -> dict:
        self.drain_listener()
        jvm = self.spark._jvm
        store = self._jsc.statusStore()
        no_q = self.sc._gateway.new_array(jvm.double, 0)
        tot = dict(jobs=0, stages=0, tasks=0, run_ms=0, shuffle_read=0, shuffle_write=0, spill=0)
        for g in groups:
            for j in self.job_ids(g):
                info = self.sc.statusTracker().getJobInfo(j)
                if info is None:
                    continue
                tot["jobs"] += 1
                for sid in info.stageIds:
                    it = store.stageData(sid, False, jvm.java.util.ArrayList(), False, no_q).iterator()
                    while it.hasNext():
                        d = it.next()
                        if str(d.status()) == "SKIPPED":
                            continue
                        tot["stages"] += 1
                        tot["tasks"] += d.numCompleteTasks()
                        tot["run_ms"] += d.executorRunTime()
                        tot["shuffle_read"] += d.shuffleReadBytes()
                        tot["shuffle_write"] += d.shuffleWriteBytes()
                        tot["spill"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
        return tot

    @staticmethod
    def catalyst_ms(df) -> dict[str, int]:
        return _phases_ms(df._jdf.queryExecution())

    def listen_query_phases(self) -> "QueryPhaseListener":
        """Register a listener that sums the Catalyst phases of every
        query the session executes from now on. Write commands run in a
        QueryExecution of their own that the written frame never sees;
        this is how their phases are read."""
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(self.sc._gateway)
        listener = QueryPhaseListener()
        self.spark._jsparkSession.listenerManager().register(listener)
        return listener


CATALYST_PHASES = ("analysis", "optimization", "planning")


def _phases_ms(qe) -> dict[str, int]:
    phases = qe.tracker().phases()
    out = {}
    for k in CATALYST_PHASES:
        o = phases.get(k)
        out[k] = int(o.get().durationMs()) if o.isDefined() else 0
    return out


class QueryPhaseListener:
    """py4j proxy of Spark's ``QueryExecutionListener``. Spark calls it
    on its listener-bus thread; :meth:`take` returns and resets the
    sums (drain the listener bus first)."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._totals = dict.fromkeys(CATALYST_PHASES, 0)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        ms = _phases_ms(qe)
        with self._lock:
            for k, v in ms.items():
                self._totals[k] += v

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java API)
        pass

    def take(self) -> dict[str, int]:
        with self._lock:
            out, self._totals = self._totals, dict.fromkeys(CATALYST_PHASES, 0)
        return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


# -------------------------------------------------- instrumentation

FSIO_CALLS = ("exists", "list_names", "list_files_recursive", "read_text", "write_text_atomic", "mkdirs")
INGEST_OPERATORS = (
    "parse_envelopes",
    "classify_messages",
    "reportable_messages",
    "to_real_time_rows",
    "latest_by_key",
    "machine_config_df",
)
NORMALIZE_OPERATORS = ("explode_messages", "split_rejects")


class Instrumentation:
    """Installs span wrappers around the layer boundaries and removes
    them again. Wrappers record only while ``tracer.enabled``."""

    def __init__(self, tracer: Tracer, sample_pins=None) -> None:
        self.tracer = tracer
        # called where barriers are pinned: before a store commit (both
        # plan_upsert checkpoints held) and at the end of each epoch
        self.sample_pins = sample_pins
        self._undo: list[tuple[object, str, object]] = []

    def _patch(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        from pyspark.sql.readwriter import DataFrameWriter
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        from machine_downtime_monitor_on_aws_spark import fsio
        from machine_downtime_monitor_on_aws_spark.operators import normalize
        from machine_downtime_monitor_on_aws_spark.streaming import ingest, store

        t = self.tracer
        for name in FSIO_CALLS:
            self._patch(fsio, name, t.wrap(f"fsio.{name}", getattr(fsio, name)))
        for name in INGEST_OPERATORS:
            self._patch(ingest, name, t.wrap(f"operators.{name}", getattr(ingest, name)))
        for name in NORMALIZE_OPERATORS:
            self._patch(normalize, name, t.wrap(f"operators.{name}", getattr(normalize, name)))
        sample = self.sample_pins
        KPS = store.KeyedParquetStore
        self._patch(KPS, "plan_upsert", t.wrap("streaming.store.plan_upsert", KPS.plan_upsert))
        commit = t.wrap("streaming.store.commit", KPS.commit)

        def sampled_commit(*a, **kw):
            if sample is not None and t.enabled:
                sample()
            return commit(*a, **kw)

        self._patch(KPS, "commit", sampled_commit)
        self._patch(ingest, "release_checkpoint", t.wrap("barrier.release", ingest.release_checkpoint))

        for meth in ("json", "parquet"):
            self._patch(DataFrameWriter, meth, t.wrap(f"sink.{meth}", getattr(DataFrameWriter, meth)))

        orig_fb = DataStreamWriter.foreachBatch

        def foreach_batch(dsw, func):
            def epoch(batch_df, epoch_id):
                with t.span("epoch", op=f"epoch-{epoch_id}"):
                    func(batch_df, epoch_id)
                if sample is not None and t.enabled:
                    sample()

            return orig_fb(dsw, epoch)

        self._patch(DataStreamWriter, "foreachBatch", foreach_batch)

    def remove(self) -> None:
        while self._undo:
            owner, attr, old = self._undo.pop()
            setattr(owner, attr, old)
