#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload plan_point_20k --seed 1 \
        --seconds 12 --trace 0

Run from the repository root.  The workload runs on local[<cpus>] as a
closed loop with one client: the next operation starts when the previous
one returned.  Every operation's result is checked against an answer the
benchmark computes independently; a mismatch or an exception counts as a
failed operation and the run goes on.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  With --trace 0
the metrics are the end-to-end ones; with --trace 1 the package's entry
points are wrapped with spans and the metrics are the per-layer ones
(see perfbench/README.md).  The line before it holds the details: every
latency summary with its sample count, workload-specific numbers, the
full per-layer table in traced runs, and host steal/loadavg.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback

ROOT = os.getcwd()
PACKAGE_DIR = os.path.join(ROOT, "datafusion_async_parquet_index_spark")
# generated inputs that do not depend on the seed, kept between runs
CACHE_DIR = os.path.join(ROOT, ".perfbench_data")
# set in this process's environment, so every process it starts (the JVM,
# Spark's Python workers, their children) carries it and can be found and
# stopped at the end even after it has left this process's tree
RUN_MARK = "PERFBENCH_RUN"


def workloads() -> dict:
    from perfbench.lineitem import IngestDmlMix, SelectiveScan
    from perfbench.plan_point import PlanPoint

    return {w.name: w for w in (PlanPoint, SelectiveScan, IngestDmlMix)}


def host_ticks() -> tuple[int, int, int]:
    """(total, busy, steal) jiffies summed over all CPUs, from the first
    line of /proc/stat; busy is user + nice + system + irq + softirq."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]] + [0] * 8
    return sum(v), v[0] + v[1] + v[2] + v[5] + v[6], v[7]


class StealShare:
    """Share of the CPU time wanted over some intervals that the
    hypervisor withheld: steal / (busy + steal), summed over the
    intervals.  On a shared host it varied from under 1 % to over 20 %
    from one minute to the next and moved whole runs by as much; times
    scaled by (1 - share) are what the same work takes on a host that
    gives this one its CPUs."""

    def __init__(self):
        self.busy = self.steal = 0
        self._t0 = None

    def start(self) -> None:
        self._t0 = host_ticks()

    def stop(self) -> None:
        """End the interval begun by start(); a second call is a no-op."""
        if self._t0 is None:
            return
        t1 = host_ticks()
        self.busy += t1[1] - self._t0[1]
        self.steal += t1[2] - self._t0[2]
        self._t0 = None

    @property
    def share(self) -> float:
        wanted = self.busy + self.steal
        return self.steal / wanted if wanted > 0 else 0.0


def prepare_environment(workdir: str, cpus: int) -> None:
    """Host hygiene, applied before Spark starts so the JVM and its
    Python workers inherit it."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # executors import the package (build_index's distributed footer pass)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell")
    tempfile.tempdir = tmp


class SparkJobs:
    """Counts jobs, stages and tasks per operation from outside the
    package: each operation runs under its own job group, and jobs
    submitted from other threads (no group) that appeared during the
    operation are added."""

    def __init__(self, sc):
        self.sc = sc
        self.st = sc.statusTracker()
        self.totals = {"jobs": 0, "stages": 0, "tasks": 0}
        self._seen: set[int] = set(self.st.getJobIdsForGroup(None))

    def begin(self, op_id: str) -> None:
        self.sc.setJobGroup(op_id, "perfbench", False)

    def end(self, op_id: str) -> None:
        ungrouped = set(self.st.getJobIdsForGroup(None))
        jobs = set(self.st.getJobIdsForGroup(op_id)) | (ungrouped - self._seen)
        self._seen |= ungrouped
        for j in jobs:
            info = self.st.getJobInfo(j)
            if info is None:
                continue
            self.totals["jobs"] += 1
            for sid in info.stageIds:
                stage = self.st.getStageInfo(sid)
                if stage is not None:
                    self.totals["stages"] += 1
                    self.totals["tasks"] += stage.numTasks


class Context:
    """What a workload sees: the session, its scratch dir, the cache of
    seed-independent inputs, the tracer (None when untraced) and the
    action helper."""

    def __init__(self, spark, workdir: str, cpus: int, seed: int, tracer):
        self.spark = spark
        self.workdir = workdir
        self.cache_dir = CACHE_DIR
        self.cpus = cpus
        self.seed = seed
        self.tracer = tracer

    def action(self, fn):
        """Run a terminal Spark action (count/collect) as the
        ``spark.action`` span."""
        if self.tracer is None:
            return fn()
        with self.tracer.span("spark.action"):
            return fn()


def run(args) -> int:
    from perfbench.metrics import latency_summary, peak_rss_mb

    registry = workloads()
    if args.workload not in registry:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(registry)}", file=sys.stderr)
        return 2
    wl = registry[args.workload]()
    cpus = len(os.sched_getaffinity(0))
    workdir = os.path.join(ROOT, ".perfbench_work",
                           f"{args.workload}-{os.getpid()}")
    os.makedirs(workdir)
    spark = None
    try:
        prepare_environment(workdir, cpus)
        tracer = None
        if args.trace:
            from perfbench import layers
            from perfbench.spans import Tracer

            tracer = Tracer()
            layers.install(tracer)
        from datafusion_async_parquet_index_spark import session

        setup_steal = StealShare()
        setup_steal.start()
        t0 = time.perf_counter()
        spark = session.get_spark("perfbench", shuffle_partitions=2 * cpus)
        spark.sparkContext.setLogLevel("ERROR")
        spark_start_s = time.perf_counter() - t0
        ctx = Context(spark, workdir, cpus, args.seed, tracer)
        wl.setup(ctx)
        setup_wall_s = time.perf_counter() - t0
        setup_steal.stop()

        ops = wl.ops(args.seed)
        jobs = SparkJobs(spark.sparkContext) if tracer else None
        if tracer:
            tracer.phase = "measure"
        lat: dict[str, list[float]] = {}
        op_steal = StealShare()
        done, failed, errors = [], 0, []
        # Cycle c runs with this thread on CPU c mod n: on hosts whose vCPUs
        # change speed independently over seconds, a thread left on one CPU
        # makes a whole run fast or slow; rotating once per cycle samples
        # every CPU alike and keeps caches warm within a cycle.
        cpu_ids = sorted(os.sched_getaffinity(0))
        ticks0, load0 = host_ticks(), os.getloadavg()
        m0 = time.perf_counter()
        deadline = m0 + args.seconds
        i = 0
        # whole cycles only, so every run sends the same mix of kinds
        while (time.perf_counter() < deadline or not done
               or len(done) % wl.cycle):
            op = ops[i % len(ops)]
            arg = wl.prepare(op)
            if i % wl.cycle == 0:
                os.sched_setaffinity(
                    0, {cpu_ids[i // wl.cycle % len(cpu_ids)]})
            if tracer:
                tracer.op = i
                jobs.begin(f"op{i}")
            op_steal.start()
            t = time.perf_counter()
            try:
                result = wl.run(ctx, op, arg)
                dt = time.perf_counter() - t
                op_steal.stop()
                ok = wl.check(op, arg, result)
            except Exception:
                dt = time.perf_counter() - t
                op_steal.stop()
                ok = False
                errors.append(traceback.format_exc(limit=3))
            if tracer:
                jobs.end(f"op{i}")
            lat.setdefault(op[0], []).append(dt)
            done.append(op)
            failed += not ok
            i += 1
        measured_s = time.perf_counter() - m0
        os.sched_setaffinity(0, cpu_ids)
        ticks1, load1 = host_ticks(), os.getloadavg()

        if tracer:
            tracer.phase = "verify"
            tracer.op = None
            jobs.begin("verify")
        try:
            verify_bad = wl.verify(ctx, done)
        except Exception:
            verify_bad = 1
            errors.append(traceback.format_exc(limit=3))
        if tracer:
            jobs.end("verify")

        all_lat = [x for xs in lat.values() for x in xs]
        op_s = sum(all_lat)
        e2e = {
            "setup_s": (setup_wall_s * (1 - setup_steal.share), "s"),
            # closed loop: operations per second of time spent in them,
            # excluding the benchmark's own preparation and checking
            "ops_per_s": (len(done) / (op_s * (1 - op_steal.share)),
                          "op/s"),
            "driver_rss_mb": (peak_rss_mb(), "MB"),
        }
        dt_total = ticks1[0] - ticks0[0]
        detail = {
            "workload": args.workload, "seed": args.seed,
            "cpus": cpus, "spark_start_s": spark_start_s,
            "measured_s": measured_s,
            "setup_wall_s": setup_wall_s,
            "setup_steal_share": setup_steal.share,
            "ops_per_s_wall": len(done) / op_s,
            "op_steal_share": op_steal.share,
            "latency": latency_summary(all_lat),
            "latency_by_kind": {k: latency_summary(v) for k, v in lat.items()},
            "latency_by_group": {
                g: latency_summary([x for k in kinds for x in lat.get(k, ())])
                for g, kinds in wl.latency_groups.items()},
            "failed_frac": failed / max(len(done), 1),
            "verify_mismatches": verify_bad,
            "workload_detail": wl.details(),
            "host": {"steal_pct": (100 * (ticks1[2] - ticks0[2]) / dt_total
                                   if dt_total > 0 else 0.0),
                     "loadavg_start": load0, "loadavg_end": load1},
            "errors": errors[:5],
        }
        if tracer:
            from perfbench import layers

            per_layer = layers.compute(tracer, len(done), jobs.totals)
            detail["layers"] = {k: v for k, (v, _) in per_layer.items()}
            detail["plan_scan_attribution"] = layers.plan_scan_attribution(
                tracer)
            metrics = {name: {"value": per_layer[name][0], "unit": unit}
                       for name, unit in layers.SHARED}
            tracer.unwrap()
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
            detail["end_to_end"] = {k: v for k, (v, _) in e2e.items()}
        print(json.dumps({"detail": detail}, default=str))
        print(json.dumps({
            "correct": failed == 0 and verify_bad == 0,
            "attempted": len(done),
            "failed": failed,
            "metrics": metrics,
        }), flush=True)
        return 0
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            stop_marked_processes(os.environ[RUN_MARK])
            shutil.rmtree(workdir, ignore_errors=True)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    worker daemon) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except (AttributeError, OSError):
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def marked_processes(mark: str) -> list[int]:
    """Live processes other than this one whose environment holds the
    run's mark (zombies count as ended)."""
    needle = f"{RUN_MARK}={mark}".encode()
    found = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit() or int(entry) == os.getpid():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                state = fh.read().rsplit(b")", 1)[1].split()[0]
            with open(f"/proc/{entry}/environ", "rb") as fh:
                env = fh.read().split(b"\0")
        except (OSError, IndexError):
            continue
        if state != b"Z" and needle in env:
            found.append(int(entry))
    return found


def stop_marked_processes(mark: str, grace_s: float = 10.0) -> None:
    """Terminate every process the run started that is still alive, kill
    what outlives the grace period, and wait until none is left."""
    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, 30.0)):
        deadline = time.monotonic() + wait_s
        pids = marked_processes(mark)
        for pid in pids:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        while pids and time.monotonic() < deadline:
            # reap this process's own children; others are reaped by init
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            time.sleep(0.05)
            pids = marked_processes(mark)
        if not pids:
            return


def _exit_on_signal(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(PACKAGE_DIR):
        print(f"perfbench: no package at {PACKAGE_DIR}; run from the "
              "repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ[RUN_MARK] = f"{os.getpid()}-{time.time_ns()}"
    # a terminated run still stops Spark and its helpers on the way out
    signal.signal(signal.SIGTERM, _exit_on_signal)
    signal.signal(signal.SIGHUP, _exit_on_signal)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
