"""The benchmark's three workloads, driven through the package's public
API in one Spark session.

Each workload generates its inputs from the seed, prepares them in a
fresh session and warms up (together the set-up the benchmark times),
and then runs passes of fixed work. A pass returns one
:class:`OpResult` per operation (a catalog query, or an ingest epoch)
and, when traced, the per-layer numbers of that pass; ``verify`` checks
the operations' outputs after the last pass.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field

import checks
import gen
from spans import INGEST_OPERATORS, NORMALIZE_OPERATORS, SparkProbe, Tracer, self_times

DASHBOARD_QUERIES = (
    "rle_event_runs status_downtime_totals state_durations_enriched "
    "minute_status_rollup status_age_seconds latest_status_per_user "
    "rollover_production_totals session_stats minute_chart_grid "
    "downtime_bi_dataset line_availability machine_mtbf_mttr downtime_pareto"
).split()
# the two heaviest roadmap targets of the dedup family: the
# construction-bound prefix-filter splits and the incremental probe. A
# cold warm-up pass plus a measured pass of the whole family does not
# fit the run budget; bench.py times the rest.
NEARDUP_QUERIES = ["incremental_exact_neardup", "leakage_safe_splits_exact"]

# ~100 envelope records per epoch, the reference's Lambda batch size
RECORDS_PER_FILE = 20
FILES_PER_EPOCH = 5
# one drain: an epoch into an empty snapshot, then two into a non-empty
# one. A drain takes about 15 s on 4 cores, long enough to average out
# the shared machine's second-to-second speed changes in a single pass
EPOCHS_PER_DRAIN = 3
# the warm-up drain runs both kinds of epoch once, so that the first
# measured drain does not compile the upsert into a non-empty snapshot
WARM_EPOCHS = 2


class CpuClock:
    """CPU seconds (user plus system, all threads) that this Python
    process and the Spark driver JVM have used so far. Unlike wall time,
    CPU time leaves out the time a shared machine's hypervisor runs
    other machines on this one's cores."""

    def __init__(self, spark) -> None:
        self.stat = f"/proc/{int(spark._jvm.ProcessHandle.current().pid())}/stat"
        self.tick = os.sysconf("SC_CLK_TCK")

    def __call__(self) -> float:
        with open(self.stat) as f:
            fields = f.read().rsplit(")", 1)[1].split()
        t = os.times()
        return (int(fields[11]) + int(fields[12])) / self.tick + t.user + t.system


@dataclass
class OpResult:
    name: str
    seconds: float
    ok: bool
    error: str | None = None
    # (rows, digest) of a catalog query's result, checked after the run
    digest: tuple[int, str] | None = None


@dataclass
class PassResult:
    wall: float
    ops: list[OpResult]
    traced: bool
    layers: dict = field(default_factory=dict)
    # per-operation (covered share of the op span), traced passes only
    coverage: list[float] = field(default_factory=list)
    msgs: int = 0
    # CPU seconds of the timed regions, see CpuClock
    cpu: float = 0.0


def _pins(spark) -> set[int]:
    from machine_downtime_monitor_on_aws_spark.session import persistent_rdd_ids

    return set(persistent_rdd_ids(spark))


def _release(spark) -> None:
    from machine_downtime_monitor_on_aws_spark.session import unpersist_all_rdds

    spark.catalog.clearCache()
    unpersist_all_rdds(spark)


def _add(d: dict, key: str, v) -> None:
    d[key] = d.get(key, 0) + v


def _exec_layers(layers: dict, stats: dict, action_s: float) -> None:
    _add(layers, "exec.action_s", action_s)
    _add(layers, "exec.jobs", stats["jobs"])
    _add(layers, "exec.stages", stats["stages"])
    _add(layers, "exec.tasks", stats["tasks"])
    _add(layers, "exec.shuffle_read_bytes", stats["shuffle_read"])
    _add(layers, "exec.shuffle_write_bytes", stats["shuffle_write"])
    _add(layers, "exec.spill_bytes", stats["spill"])
    _add(layers, "exec.run_s", stats["run_ms"] / 1000.0)


def _finish_exec(layers: dict, cores: int) -> None:
    act = layers.get("exec.action_s", 0.0)
    run = layers.pop("exec.run_s", 0.0)
    layers["exec.core_busy_share"] = run / (cores * act) if act > 0 else 0.0


def _fsio_layers(layers: dict, spans) -> None:
    fs = [s for s in spans if s.name.startswith("fsio.")]
    ids = {s.id for s in fs}
    layers["fsio.calls"] = len(fs)
    layers["fsio.s"] = sum(s.dur for s in fs if s.parent not in ids)


class CatalogWorkload:
    """A fixed list of catalog queries run back to back by one client
    that waits for each answer (a closed loop, no think time)."""

    def __init__(self, name: str, queries: list[str], tables: tuple[str, ...], shuffle: bool, work: str, seed: int) -> None:
        self.name = name
        self.tables = tables
        self.queries = list(queries)
        self.shuffle = shuffle
        self.sf_dir = os.path.join(work, "tables")
        self.seed = seed
        self.rng = random.Random(seed)
        self.fns = None
        self.cpu: CpuClock | None = None

    def generate(self) -> list[str]:
        gen.make_tables(self.sf_dir, self.seed, tables=self.tables)
        return [self.sf_dir]

    def prepare(self, spark) -> None:
        from machine_downtime_monitor_on_aws_spark.tables import load_table

        self.cpu = CpuClock(spark)
        for t in self.tables:
            load_table(spark, self.sf_dir, t).count()

    def verify(self, ops: list[OpResult]) -> None:
        """Check each query's result against its DuckDB oracle, by row
        count plus an order-insensitive digest; a query without an
        oracle must return rows. Runs after the measured passes, so the
        oracle's own time is outside every timed region."""
        from machine_downtime_monitor_on_aws_spark.plans import catalog

        oracles = catalog.oracle_sql()
        expected = checks.oracle_expectations(
            self.sf_dir, list(self.tables), {q: oracles[q] for q in self.queries if q in oracles}
        )
        for o in ops:
            if o.digest is None:
                continue
            exp = expected.get(o.name)
            if exp is None:
                o.error = None if o.digest[0] > 0 else "empty result"
            elif o.digest != exp:
                o.error = f"rows/digest {o.digest[0]}/{o.digest[1][:12]} != oracle {exp[0]}/{exp[1][:12]}"
            o.ok = o.error is None

    def _order(self) -> list[str]:
        qs = list(self.queries)
        if self.shuffle:
            self.rng.shuffle(qs)
        return qs

    def warm_up(self, spark) -> None:
        from machine_downtime_monitor_on_aws_spark.plans import catalog

        self.fns = catalog.queries()
        for q in self.queries:
            try:
                self.fns[q](spark, self.sf_dir).collect()
            except Exception:
                pass  # the measured passes count the failure
            finally:
                _release(spark)

    def run_pass(self, spark, tracer: Tracer, probe: SparkProbe | None, pass_no: int, cores: int) -> PassResult:
        sc = spark.sparkContext
        traced = tracer.enabled
        ops: list[OpResult] = []
        layers: dict = {}
        coverage: list[float] = []
        cpu = 0.0
        t_pass = time.perf_counter()
        for q in self._order():
            group = f"perfbench-{pass_no}-{q}"
            before = _pins(spark)
            err = None
            df = rows = None
            peak = 0
            t0 = t1 = t2 = time.perf_counter()
            c0 = self.cpu()
            try:
                with tracer.span("query", op=f"{pass_no}:{q}") as s_op:
                    sc.setJobGroup(group + "-c", q)
                    with tracer.span("plans.construct"):
                        c0 = self.cpu()
                        t0 = time.perf_counter()
                        df = self.fns[q](spark, self.sf_dir)
                        t1 = time.perf_counter()
                    if traced:
                        with tracer.span("barrier.sample"):
                            peak = len(_pins(spark))
                    sc.setJobGroup(group + "-a", q)
                    with tracer.span("exec.action"):
                        rows = df.collect()
                        t2 = time.perf_counter()
            except Exception as e:  # a failed query counts, the loop goes on
                t2 = time.perf_counter()
                err = f"{type(e).__name__}: {str(e)[:200]}"
            finally:
                cpu += self.cpu() - c0
                sc.setJobGroup("perfbench-idle", "")
            after = _pins(spark)
            digest = None if err else checks.rows_digest(df.columns, [tuple(r) for r in rows])
            ops.append(OpResult(q, t2 - t0, err is None, err, digest))
            if traced:
                kids = [s for s in tracer.spans if s.parent == s_op.id]
                coverage.append(sum(s.dur for s in kids) / s_op.dur if s_op.dur > 0 else 1.0)
                _add(layers, "plans.construct_s", t1 - t0)
                cstats = probe.exec_stats([group + "-c"])
                astats = probe.exec_stats([group + "-a"])
                _add(layers, "plans.construct_jobs", cstats["jobs"])
                for k in cstats:
                    astats[k] += cstats[k]
                _exec_layers(layers, astats, t2 - t1)
                if df is not None:
                    for k, v in probe.catalyst_ms(df).items():
                        _add(layers, f"catalyst.{k}_ms", v)
                layers["barrier.pinned_peak"] = max(layers.get("barrier.pinned_peak", 0), peak, len(after))
                _add(layers, "barrier.leaked", len(after - before))
            _release(spark)
        wall = time.perf_counter() - t_pass
        if traced:
            _finish_exec(layers, cores)
            _fsio_layers(layers, [s for s in tracer.spans if s.start >= t_pass])
        return PassResult(wall, ops, traced, layers, coverage, cpu=cpu)


class IngestWorkload:
    """Drain a seeded envelope backlog through ``run_ingest_stream``
    (all five sinks) in small epochs: a TRIM_HORIZON-style replay."""

    name = "ingest"

    def __init__(self, work: str, seed: int) -> None:
        self.work = work
        self.seed = seed
        self.src = os.path.join(work, "backlog")
        self.warm_src = os.path.join(work, "backlog_warm")
        self.spec = gen.BacklogSpec(records=RECORDS_PER_FILE * FILES_PER_EPOCH * EPOCHS_PER_DRAIN,
                                    records_per_file=RECORDS_PER_FILE)
        self.exp: gen.IngestExpectation | None = None
        self.cfg = None
        self.cpu: CpuClock | None = None
        self._n = 0
        # pin counts sampled inside epochs while a traced drain runs
        self.epoch_pins: list[int] = []
        self.phase_listener = None

    def generate(self) -> list[str]:
        self.exp = gen.make_backlog(self.src, self.seed, self.spec, FILES_PER_EPOCH)
        warm = gen.BacklogSpec(records=RECORDS_PER_FILE * FILES_PER_EPOCH * WARM_EPOCHS, records_per_file=RECORDS_PER_FILE)
        gen.make_backlog(self.warm_src, self.seed + 1, warm, FILES_PER_EPOCH)
        return [self.src]

    def prepare(self, spark) -> None:
        # the stream reads the backlog itself; the only input to load is
        # the machine config
        from machine_downtime_monitor_on_aws_spark.config import IngestConfig, MachineConfig, MessageFormat

        self.cpu = CpuClock(spark)
        self.cfg = IngestConfig(
            formats=(MessageFormat(),),
            machines=tuple(MachineConfig(**kw) for kw in gen.machine_configs()),
        ).validate()

    def verify(self, ops: list[OpResult]) -> None:
        pass  # each drain checked its sinks against the generator's prediction

    def _drain(self, spark, src: str):
        from machine_downtime_monitor_on_aws_spark.streaming.ingest import (
            IngestSinks,
            read_envelope_stream,
            run_ingest_stream,
        )

        self._n += 1
        root = os.path.join(self.work, "drains", str(self._n))
        d = {k: os.path.join(root, k) for k in ("realtime", "archive", "snapshot", "rejects", "feed", "ckpt")}
        sinks = IngestSinks(
            realtime_path=d["realtime"],
            archive_path=d["archive"],
            snapshot_path=d["snapshot"],
            rejects_path=d["rejects"],
            change_feed_path=d["feed"],
            change_feed=None,
        )
        cfg = self.cfg
        stream = read_envelope_stream(spark, src, max_files_per_trigger=FILES_PER_EPOCH)
        c0 = self.cpu()
        t0 = time.perf_counter()
        q = run_ingest_stream(spark, stream, lambda: cfg, sinks, d["ckpt"])
        err = None
        try:
            q.awaitTermination()
        except Exception as e:
            err = f"{type(e).__name__}: {str(e)[:200]}"
        wall = time.perf_counter() - t0
        return q, wall, self.cpu() - c0, err, root, d

    def warm_up(self, spark) -> None:
        # a failing warm-up is not fatal: the measured drains count it
        root = self._drain(spark, self.warm_src)[4]
        _release(spark)
        shutil.rmtree(root, ignore_errors=True)

    def _check(self, spark, d: dict) -> tuple[dict[int, tuple[int, int]], str | None, dict]:
        """Per-epoch (realtime, feed) row counts read back from the
        sinks, a drain-level error (or None), and the sink totals."""
        from pyspark.sql import functions as F

        exp = self.exp
        per: dict[int, list[int]] = {}
        for path, col, i in ((d["realtime"], "batch_epoch", 0), (d["feed"], "__epoch_id", 1)):
            if not os.path.isdir(path):
                continue
            for r in spark.read.parquet(path).groupBy(col).agg(F.count(F.lit(1))).collect():
                e = int(str(r[0]).rsplit("-", 1)[1])
                per.setdefault(e, [0, 0])[i] = r[1]
        totals = {
            "archive": spark.read.text(d["archive"]).count(),
            "rejects": spark.read.text(d["rejects"]).count(),
        }
        snap = {
            r[0]: (r[1], r[2])
            for r in spark.read.parquet(d["snapshot"]).select("machine_id", "status", "status_epoch").collect()
        }
        totals["snapshot"] = len(snap)
        totals["realtime"] = sum(v[0] for v in per.values())
        totals["feed"] = sum(v[1] for v in per.values())
        err = None
        if totals["archive"] != exp.records:
            err = f"archive rows {totals['archive']} != {exp.records}"
        elif totals["rejects"] != exp.rejects:
            err = f"reject rows {totals['rejects']} != {exp.rejects}"
        elif snap != exp.snapshot:
            bad = sum(1 for k in set(snap) | set(exp.snapshot) if snap.get(k) != exp.snapshot.get(k))
            err = f"snapshot differs on {bad} machines"
        return {e: tuple(v) for e, v in per.items()}, err, totals

    def run_pass(self, spark, tracer: Tracer, probe: SparkProbe | None, pass_no: int, cores: int) -> PassResult:
        traced = tracer.enabled
        before = _pins(spark)
        n_spans = len(tracer.spans)
        if traced:
            if self.phase_listener is None:
                self.phase_listener = probe.listen_query_phases()
            probe.drain_listener()
            self.phase_listener.take()
        q, wall, cpu, err, root, d = self._drain(spark, self.src)
        catalyst = {}
        if traced:
            probe.drain_listener()
            catalyst = self.phase_listener.take()
        progress = [p for p in q.recentProgress if p.numInputRows > 0]
        after = _pins(spark)
        per, drain_err, totals = {}, err, {}
        if err is None:
            try:
                per, drain_err, totals = self._check(spark, d)
            except Exception as e:
                drain_err = f"sink read-back failed: {type(e).__name__}: {str(e)[:200]}"
        ops: list[OpResult] = []
        by_batch = {p.batchId: p for p in progress}
        for e, want in enumerate(self.exp.epochs):
            p = by_batch.get(e)
            secs = p.durationMs.get("triggerExecution", 0) / 1000.0 if p else 0.0
            got = per.get(e, (0, 0))
            e_err = drain_err
            if e_err is None and p is None:
                e_err = "no progress for epoch"
            if e_err is None and got != (want["realtime"], want["feed"]):
                e_err = f"epoch rows (realtime, feed) {got} != {(want['realtime'], want['feed'])}"
            ops.append(OpResult(f"epoch-{e}", secs, e_err is None, e_err))
        layers: dict = {}
        coverage: list[float] = []
        if traced:
            spans = tracer.spans[n_spans:]
            st = self_times(spans)
            for s in spans:
                if s.name == "epoch":
                    coverage.append(1.0 - st[s.id] / s.dur if s.dur > 0 else 1.0)
            for name in INGEST_OPERATORS + NORMALIZE_OPERATORS:
                layers[f"operators.{name}_s"] = sum(s.dur for s in spans if s.name == f"operators.{name}")
            ups = [s for s in spans if s.name == "streaming.store.plan_upsert"]
            layers["streaming.store.plan_upsert_s"] = sum(s.dur for s in ups)
            layers["streaming.store.commit_s"] = sum(s.dur for s in spans if s.name == "streaming.store.commit")
            layers["streaming.store.upserts"] = len(ups)
            _fsio_layers(layers, spans)
            stats = probe.exec_stats([str(q.runId)])
            _exec_layers(layers, stats, wall)
            _finish_exec(layers, cores)
            n_ep = max(1, len(progress))
            layers["streaming.epochs"] = len(progress)
            layers["streaming.input_rows"] = sum(p.numInputRows for p in progress)
            layers["streaming.jobs_per_epoch"] = stats["jobs"] / n_ep
            for k in ("addBatch", "latestOffset", "walCommit", "commitOffsets", "queryPlanning"):
                vals = sorted(p.durationMs.get(k, 0) for p in progress) or [0]
                layers[f"streaming.{k}_ms"] = vals[len(vals) // 2]
            for k, v in catalyst.items():
                layers[f"catalyst.{k}_ms"] = v
            layers["barrier.pinned_peak"] = max([len(after)] + self.epoch_pins)
            layers["barrier.leaked"] = len(after - before)
            for k in ("realtime", "archive", "rejects", "feed", "snapshot"):
                layers[f"ingest.rows_{k}"] = totals.get(k, 0)
            layers["ingest.reportable_ratio"] = totals.get("realtime", 0) / max(1, self.exp.messages)
        self.epoch_pins = []
        _release(spark)
        shutil.rmtree(root, ignore_errors=True)
        return PassResult(wall, ops, traced, layers, coverage, msgs=self.exp.messages, cpu=cpu)

    def sample_pins(self, spark) -> None:
        self.epoch_pins.append(len(_pins(spark)))


def make(name: str, work: str, seed: int):
    if name == "ingest":
        return IngestWorkload(work, seed)
    if name == "dashboard":
        return CatalogWorkload(name, DASHBOARD_QUERIES, ("events",), True, work, seed)
    if name == "neardup_batch":
        return CatalogWorkload(name, NEARDUP_QUERIES, ("documents",), False, work, seed)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("ingest", "dashboard", "neardup_batch")
