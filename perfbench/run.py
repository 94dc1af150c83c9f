#!/usr/bin/env python3
"""Repository benchmark: three workloads against the package's public
API in one single-process Spark session.

    python3 perfbench/run.py --workload {ingest,dashboard,neardup_batch} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Inputs are generated from ``--seed``
under ``.perfbench_work/`` (removed at exit); traced runs leave their
spans under ``.perfbench_out/``. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# a run that starts while other processes keep more than this many
# cores busy, or while the hypervisor steals more than this share of
# the CPU time, is flagged: its timings are not comparable with a quiet
# box's. Measured from /proc/stat over a short window, because the
# 1-minute load average still carries the previous run's own load.
LOADED_BOX_BUSY_CORES = 1.0
LOADED_BOX_STEAL_SHARE = 0.1

END_TO_END = {"setup_s": "s", "cpu_s": "s"}
PER_LAYER = [
    "session.get_spark_s",
    "tables.load_s",
    "plans.construct_s",
    "plans.construct_jobs",
    "catalyst.analysis_ms",
    "catalyst.optimization_ms",
    "catalyst.planning_ms",
    "exec.action_s",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes",
    "exec.spill_bytes",
    "exec.core_busy_share",
    "barrier.pinned_peak",
    "barrier.leaked",
    "streaming.epochs",
    "streaming.input_rows",
    "streaming.jobs_per_epoch",
    "streaming.addBatch_ms",
    "streaming.latestOffset_ms",
    "streaming.walCommit_ms",
    "streaming.commitOffsets_ms",
    "streaming.queryPlanning_ms",
    "operators.parse_envelopes_s",
    "operators.explode_messages_s",
    "operators.split_rejects_s",
    "operators.classify_messages_s",
    "operators.reportable_messages_s",
    "operators.to_real_time_rows_s",
    "operators.latest_by_key_s",
    "operators.machine_config_df_s",
    "streaming.store.plan_upsert_s",
    "streaming.store.commit_s",
    "streaming.store.upserts",
    "fsio.calls",
    "fsio.s",
    "ingest.rows_realtime",
    "ingest.rows_archive",
    "ingest.rows_rejects",
    "ingest.rows_feed",
    "ingest.rows_snapshot",
    "ingest.reportable_ratio",
    "trace.overhead_s",
    "trace.coverage_min",
]


def layer_unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_share", "_ratio", "_min")):
        return "ratio"
    return "count"


def isolate(work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``work`` before the JVM starts, so a run writes only inside the
    checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the package defaults to a 12 GB driver heap; the inputs here are
    # small, and runs share the machine's memory
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # -XX:-UsePerfData: a JVM otherwise writes /tmp/hsperfdata_<user>,
    # and spark-submit starts two (its launcher, then the driver)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # C1 only: with C2 the heavy queries step down about 30% after the
    # third warm pass, later than a run can afford to wait, so a run
    # would measure wherever the JIT happens to be; with C1 the first
    # warm pass is already steady (see perfbench/README.md).
    # Parallel GC on a fixed heap, with System.gc() off: G1's concurrent
    # cycles and the session's periodic System.gc() fell inside some
    # measured passes and not others, and moved a drain's CPU time by
    # up to 7 s
    java_opts = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
        " -XX:+UseParallelGC -XX:+DisableExplicitGC -Xms2g"
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
            "--conf", "spark.ui.showConsoleProgress=false",
            "--driver-java-options", shlex.quote(java_opts),
            "pyspark-shell",
        ]
    )


def cpu_sample() -> tuple[int, int, int]:
    """(busy, stolen, total) clock ticks of this process's CPU set, from
    /proc/stat. Stolen ticks are those the hypervisor gave to other
    machines; they are not counted as busy."""
    mine = {f"cpu{c}" for c in os.sched_getaffinity(0)}
    busy = steal = total = 0
    with open("/proc/stat") as f:
        for line in f:
            name, *vals = line.split()
            if name in mine:
                v = [int(x) for x in vals[:8]]  # user .. steal; guest is in user
                busy += sum(v) - v[3] - v[4] - v[7]
                steal += v[7]
                total += sum(v)
    return busy, steal, total


def cpu_load(s0: tuple[int, int, int], s1: tuple[int, int, int]) -> tuple[float, float]:
    """Busy cores, and the stolen share of CPU time, between two
    :func:`cpu_sample` readings."""
    total = max(1, s1[2] - s0[2])
    return (s1[0] - s0[0]) / total * len(os.sched_getaffinity(0)), (s1[1] - s0[1]) / total


def git_commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import machine_downtime_monitor_on_aws_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    import workloads
    import gen
    from spans import Instrumentation, SparkProbe, Tracer, median, timing_summary

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {workloads.WORKLOADS}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    isolate(work)
    load0 = os.getloadavg()
    cpu0 = cpu_sample()
    time.sleep(0.5)
    cpu_start = cpu_sample()
    busy0, steal0 = cpu_load(cpu0, cpu_start)
    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "loadavg_start": [round(v, 2) for v in load0],
        "busy_cores_start": round(busy0, 2),
        "steal_share_start": round(steal0, 3),
        "loaded_start": busy0 > LOADED_BOX_BUSY_CORES or steal0 > LOADED_BOX_STEAL_SHARE,
        "commit": git_commit(),
    }
    if stamp["loaded_start"]:
        print(
            f"perfbench: WARNING loaded box at start ({busy0:.2f} cores busy, {steal0:.0%} of CPU time stolen);"
            " timings of this run are flagged and not comparable",
            file=sys.stderr,
        )
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    wl = workloads.make(args.workload, work, args.seed)
    # records nothing until enabled; only a traced run installs the
    # span wrappers and enables it
    tracer = Tracer()
    inst = None
    spark = None
    phases: dict[str, float] = {}
    t_phase = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = round(now - t_phase, 3)
        t_phase = now

    try:
        stamp["inputs_sha256"] = gen.digest(wl.generate())
        phase("generate")
        print(f"# inputs {args.workload} seed={args.seed} sha256={stamp['inputs_sha256']}", flush=True)
        if args.trace:
            hooks = {}
            if args.workload == "ingest":
                hooks = dict(sample_pins=lambda: wl.sample_pins(spark))
            inst = Instrumentation(tracer, **hooks)
            inst.install()
            tracer.enabled = True

        from machine_downtime_monitor_on_aws_spark.session import get_spark

        # set-up is everything a user pays before the first steady
        # answer: the JVM launch with the session, the input loads, and
        # the warm-up below
        t_setup = time.perf_counter()
        with tracer.span("session.get_spark", op="setup"):
            spark = get_spark("perfbench")
        t1 = time.perf_counter()
        with tracer.span("tables.load", op="setup"):
            wl.prepare(spark)
        t2 = time.perf_counter()
        tracer.enabled = False
        phase("session")
        stamp["pyspark"] = spark.version
        stamp["java"] = spark._jvm.System.getProperty("java.version")
        jvm_pid = int(spark._jvm.ProcessHandle.current().pid())

        wl.warm_up(spark)
        setup_s = time.perf_counter() - t_setup
        phase("warm_up")

        probe = SparkProbe(spark) if args.trace else None
        passes = []
        t_start = time.perf_counter()
        # a traced run alternates untraced and traced passes, so it
        # needs at least one of each for the tracing overhead
        min_passes = 2 if args.trace else 1
        while len(passes) < min_passes or time.perf_counter() - t_start < args.seconds:
            tracer.enabled = bool(args.trace) and len(passes) % 2 == 1
            passes.append(wl.run_pass(spark, tracer, probe, len(passes), cores))
        tracer.enabled = False
        phase("measure")

        ops = [o for p in passes for o in p.ops]
        wl.verify(ops)
        phase("verify")
        failed = [o for o in ops if not o.ok]
        for o in failed[:10]:
            print(f"perfbench: FAILED {o.name}: {o.error}", file=sys.stderr)
        op_secs = [o.seconds for o in ops if o.ok] or [o.seconds for o in ops]
        rss = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
        walls = [p.wall for p in passes if not p.traced]
        summary = {
            "setup_s": setup_s,
            "wall_s": median(walls),
            "cpu_s": median([p.cpu for p in passes if not p.traced]),
            "op": timing_summary(op_secs),
            "failed_frac": len(failed) / max(1, len(ops)),
            "peak_rss_mb": rss,
            "passes": len(passes),
        }
        if args.workload == "ingest":
            summary["msgs_per_s"] = passes[0].msgs / summary["wall_s"]

        if not args.trace:
            metrics = {k: summary[k] for k in END_TO_END}
            units = END_TO_END
        else:
            traced_passes = [p for p in passes if p.traced]
            metrics = {k: 0 for k in PER_LAYER}
            for k in {k for p in traced_passes for k in p.layers}:
                metrics[k] = median([p.layers.get(k, 0) for p in traced_passes])
            metrics["session.get_spark_s"] = t1 - t_setup
            metrics["tables.load_s"] = t2 - t1
            metrics["trace.overhead_s"] = median([p.wall for p in traced_passes]) - summary["wall_s"]
            cov = [c for p in traced_passes for c in p.coverage]
            metrics["trace.coverage_min"] = min(cov) if cov else 0.0
            units = {k: layer_unit(k) for k in PER_LAYER}
            tracer.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.jsonl"))
        load1 = os.getloadavg()
        stamp["loadavg_end"] = [round(v, 2) for v in load1]
        stamp["steal_share_run"] = round(cpu_load(cpu_start, cpu_sample())[1], 3)
        stamp["phase_s"] = phases
        print("# stamp " + json.dumps(stamp), flush=True)
        print("# summary " + json.dumps(summary), flush=True)
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
            json.dump(
                {
                    "stamp": stamp,
                    "summary": summary,
                    "metrics": metrics,
                    "passes": [[p.wall, p.traced] for p in passes],
                    "ops": [[o.name, o.seconds, o.ok] for o in ops],
                },
                f,
                indent=1,
            )
        result = {
            "correct": not failed,
            "attempted": len(ops),
            "failed": len(failed),
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }
        print(json.dumps(result), flush=True)
        return 0
    finally:
        if inst is not None:
            inst.remove()
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
