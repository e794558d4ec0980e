#!/usr/bin/env python3
"""Benchmark of the incremental ETL runner (plans/incremental_runner.py).

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process, one Spark session from the
program's own ``get_spark``, and a closed loop: each ``run_incremental``
call starts after the previous one returned and its output was checked.

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer metrics of
a traced run (see perfbench/NOTES.md). The last line of standard output is
one JSON object with the keys correct, attempted, failed and metrics; the
line before it is the full record (world fingerprint, host, samples), also
written under .perfbench_work/results/. Exits 2 without a result when the
program is not importable from the checkout.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import resource
import shutil
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK_ROOT = ROOT / ".perfbench_work"

# World setups per process; setup_s reports their median.
SETUPS = 3
# Wait after a JVM collection for the ContextCleaner to work its queue.
CLEANUP_PAUSE_S = 1.0
# HotSpot's optimizing compiler (C2) is left off. Every run generates about
# 300 new classes; with C2 on, compiling them and Spark's own code took 29-53
# CPU-seconds per run on four cores, and warm runs kept getting faster until
# about the fourth, longer than a process can wait. With C1 alone a run took
# 19-26 CPU-seconds and about a tenth less wall time. C1's 48 MB default code
# cache fills within a few runs, hence the larger one. NOTES.md has the
# measurements.
JIT_OPTIONS = ("-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m")
# Timed runs per untraced process at the least; run_s is their median.
MIN_SAMPLES = 2
# The loop starts no new run past this point, so the process ends well
# inside three minutes.
DEADLINE_S = 150.0


# Multiplier on the gate fixture's sizes (120 revisions at 1x), both workloads.
SCALE = 15


@dataclass(frozen=True)
class Workload:
    delta: float | None  # share of newest revisions left out of the destination
    warmups: int  # untimed full runs before the first timed run


# Both workloads start timing at the second runner call of a fresh process:
# the first one (a backfill run, or the full run that builds the nightly
# base) pays the JVM's class loading and first JIT pass.
WORKLOADS = {
    # Every table build, dedup_latest and the partitioned write over the whole
    # world into an empty destination; watermark readback and merge bypassed.
    "backfill": Workload(delta=None, warmups=1),
    # The same world with the newest 2% of revisions (by dateModified) left
    # out of the destination: watermark readback, stack-component expansion,
    # merge anti-join and rewrite of every table for a small delta.
    "nightly": Workload(delta=0.02, warmups=0),
}


def prepare_environment(work: Path) -> None:
    """Keep Spark's local dirs, temp files and the JVM's inside the
    checkout. Must run before pyspark launches the JVM."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData", *JIT_OPTIONS])
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def import_program():
    """The runner, imported from this checkout only."""
    sys.path.insert(0, str(ROOT))
    import phabricator_etl_spark

    where = Path(phabricator_etl_spark.__file__).resolve()
    if ROOT not in where.parents:
        raise ImportError(f"phabricator_etl_spark found at {where}, outside {ROOT}")
    from phabricator_etl_spark.plans import incremental_runner

    return incremental_runner


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes of every file, number of parquet data files) under path."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            size += os.path.getsize(os.path.join(dirpath, name))
            files += name.endswith(".parquet")
    return size, files


def proc_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def proc_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024


class Bench:
    def __init__(self, runner, name: str, seed: int, seconds: int, work: Path):
        self.runner = runner  # plans.incremental_runner of the checkout
        self.name, self.seed, self.seconds = name, seed, seconds
        self.workload = WORKLOADS[name]
        self.work = work
        self.spark = None
        self.attempted = self.failed = 0
        self.check_s: list[float] = []
        # CPU seconds of the Python driver and the JVM during each run
        self.run_cpu_s: list[float] = []
        # seconds since process start at which each phase ended
        self.timeline: dict[str, float] = {}

    # -- set-up ------------------------------------------------------------

    def setup(self, t_process: float) -> dict:
        from perfbench import stats, world
        from phabricator_etl_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        threads = int(os.environ["SPARK_GRAFT_CPUS"])

        setup_s, timings = [], []
        for i in range(SETUPS):
            t = time.perf_counter()
            w = world.build(self.seed, SCALE, str(self.work / f"world{i}"), threads)
            setup_s.append(time.perf_counter() - t)
            timings.append(w.timings)
            if i and w.fingerprint != self.world.fingerprint:
                raise RuntimeError("the same seed generated two different worlds")
            if i:
                shutil.rmtree(self.world.directory)
            self.world = w
        t = time.perf_counter()
        self.src = world.read_sources(self.spark, self.world)
        read_s = time.perf_counter() - t
        return {
            "setup_s": session_s + stats.median(setup_s) + read_s,
            "setup.session_s": session_s,
            "setup.read_s": read_s,
            "setup.world_s": setup_s,
            "phab_fixtures.generate_s": stats.median([s["generate_s"] for s in timings]),
            "setup.write_s": stats.median([s["write_s"] for s in timings]),
            "setup.oracle_s": stats.median([s["oracle_s"] for s in timings]),
        }

    def prepare_destination(self) -> None:
        """For nightly, build the base destination every timed run starts
        from: a full run over the world without its newest revisions."""
        from pyspark.sql import functions as F

        from phabricator_etl_spark.sources.phab_fixtures import PhabSources

        self.dest = str(self.work / "dest")
        self.base = None
        self.delta_revisions = 0
        if self.workload.delta is None:
            return
        modified = sorted(self.world.revision_modified)
        cut = modified[math.ceil(len(modified) * (1 - self.workload.delta)) - 1]
        early = PhabSources(
            **{**self.src.__dict__, "revision": self.src.revision.filter(F.col("dateModified") <= cut)}
        )
        self.base = str(self.work / "base")
        self.runner.run_incremental(self.spark, early, self.base, now=self.world.now, full=True)
        self.delta_revisions = sum(1 for m in modified if m > cut)

    def reset_destination(self) -> None:
        """Restore the destination, and let the previous run's garbage go
        before the next run starts: collecting the Python references and
        then the JVM heap has Spark's ContextCleaner drop that run's
        shuffles, broadcasts and checkpoint blocks now rather than at a
        random point of the next, timed run."""
        shutil.rmtree(self.dest, ignore_errors=True)
        if self.base is not None:
            shutil.copytree(self.base, self.dest)
        gc.collect()
        self.spark._jvm.System.gc()
        time.sleep(CLEANUP_PAUSE_S)

    # -- one run -----------------------------------------------------------

    def run_once(self):
        return self.runner.run_incremental(
            self.spark, self.src, self.dest, now=self.world.now, full=self.base is None
        )

    def check(self, out) -> bool:
        """Final-table summary of the destination equals the DuckDB oracle
        of a full run over the same world."""
        from phabricator_etl_spark.plans import etl_e2e

        got = [tuple(r) for r in etl_e2e._summarize(out).collect()]
        return got == self.world.oracle

    def attempt(self, run) -> tuple[object, float]:
        """One checked run from a reset destination: (output, wall seconds of
        ``run``), with output None if the run raised or its output was wrong."""
        self.reset_destination()
        self.attempted += 1
        cpu = time.process_time() + proc_cpu_s(self.jvm_pid)
        t = time.perf_counter()
        try:
            out = run()
            wall = time.perf_counter() - t
            self.run_cpu_s.append(time.process_time() + proc_cpu_s(self.jvm_pid) - cpu)
            ok = self.check(out)
            self.check_s.append(time.perf_counter() - t - wall)
        except Exception:  # a failing run is counted, not fatal
            traceback.print_exc()
            ok = False
        if not ok:
            self.failed += 1
            return None, 0.0
        return out, wall

    # -- measurement -------------------------------------------------------

    def loop(self, step, enough, t_process: float) -> None:
        """Warm up, then call ``step(i)`` for i = 0, 1, ... until
        ``enough(steps done)`` holds and the run time is used up, starting no
        step that would end past DEADLINE_S."""
        for _ in range(self.workload.warmups):
            self.reset_destination()
            self.run_once()
        self.timeline["warmup"] = time.perf_counter() - t_process
        t_loop = time.perf_counter()
        steps = 0
        while True:
            t = time.perf_counter()
            step(steps)
            steps += 1
            now = time.perf_counter()
            if enough(steps) and now - t_loop >= self.seconds:
                return
            if now - t_process + (now - t) >= DEADLINE_S:
                return

    def measure(self, t_process: float) -> dict:
        from perfbench import stats

        samples: list[float] = []
        dest_usage = []

        def step(_):
            out, wall = self.attempt(self.run_once)
            if out is not None:
                samples.append(wall)
                if not dest_usage:
                    dest_usage.append(dir_usage(self.dest))

        self.loop(step, lambda steps: steps >= MIN_SAMPLES, t_process)
        if not samples:
            raise RuntimeError("no timed run succeeded")
        return {"run_s": stats.median(samples), "samples": samples, "dest_usage": dest_usage[0]}

    def measure_traced(self, t_process: float) -> dict:
        """Alternate untraced and traced runs, starting and ending with an
        untraced one, so the untraced runs bracket the traced ones while warm
        runs still speed up. Per-layer figures are medians over the traced
        runs, and their wall against the untraced ones is the tracing
        overhead."""
        from perfbench import stats, trace

        tracer = trace.Tracer()
        status = trace.SparkStatus(self.spark)
        untraced: list[float] = []
        traced: list[dict] = []
        record: dict = {}

        def traced_run():
            before = trace.status_ids(status)
            counters0 = status.counters()
            py0, jvm0 = time.process_time(), proc_cpu_s(self.jvm_pid)
            with trace.Instrumentation(tracer):
                root = tracer.begin_run(self.name)
                try:
                    out = self.run_once()
                finally:
                    tracer.end_run()
            record.update(
                root=root,
                py_cpu_s=time.process_time() - py0,
                jvm_cpu_s=proc_cpu_s(self.jvm_pid) - jvm0,
                stages=trace.stage_diff(status, before),
                counters={k: v - counters0[k] for k, v in status.counters().items()},
            )
            return out

        def step(i):
            if i % 2 == 0:
                out, wall = self.attempt(self.run_once)
                if out is not None:
                    untraced.append(wall)
            else:
                record.clear()
                out, _ = self.attempt(traced_run)
                if out is not None:
                    traced.append(self.layer_record(record, tracer, out))

        self.loop(step, lambda steps: steps >= 3 and steps % 2 == 1, t_process)
        if not (untraced and traced):
            raise RuntimeError("no traced and untraced run pair succeeded")
        metrics = {k: stats.median([r[k] for r in traced]) for k in traced[0]}
        metrics["trace.run_s_untraced"] = stats.median(untraced)
        metrics["trace.overhead_pct"] = 100.0 * (
            metrics["trace.run_s_traced"] / metrics["trace.run_s_untraced"] - 1
        )
        return {"metrics": metrics, "samples": untraced, "spans": tracer.spans}

    def layer_record(self, record: dict, tracer, out) -> dict:
        """Per-layer figures of one traced run. Counting runs extra Spark
        jobs, after the run's stage diff was taken."""
        from perfbench import trace

        root = record["root"]
        st = record["stages"]
        wall = root.seconds
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        cap = tracer.captured

        def rows(key: str) -> int:
            """Rows of every DataFrame the traced call ``key`` produced; 0 if
            the runner no longer makes that call."""
            return sum(df.count() for df in cap.get(key, []))

        changed = rows("filter_changed_revisions")
        expanded = rows("expand_by_stack_component")
        staged = rows("dedup_latest")
        written = sum(df.count() for df in out.values())
        task_s, task_cpu_s = st["run_ms"] / 1e3, st["cpu_ns"] / 1e9
        mb = 1024 * 1024
        m = trace.layer_metrics(root, tracer.spans)
        m.update({
            "trace.run_s_traced": wall,
            "incremental_runner.changed_revisions": changed,
            "incremental_runner.expanded_revisions": expanded,
            "incremental_runner.invalidation_ratio": expanded / max(changed, 1),
            "incremental_runner.rows_staged": staged,
            "incremental_runner.rows_written": written,
            "incremental_runner.write_amplification": written / max(staged, 1),
            "graph.cc_edges": rows("connected_components.edges"),
            "graph.cc_vertices": rows("connected_components.vertices"),
            "spark.jobs": st["jobs"],
            "spark.stages": st["stages"],
            "spark.stages_skipped": st["stages_skipped"],
            "spark.tasks": st["tasks"],
            "spark.slot_busy": task_s / (wall * cores),
            "spark.task_s": task_s,
            "spark.task_cpu_s": task_cpu_s,
            "spark.gc_s": st["gc_ms"] / 1e3,
            "spark.input_mb": st["input_b"] / mb,
            "spark.shuffle_write_mb": st["shuffle_write_b"] / mb,
            "spark.spill_mb": st["spill_b"] / mb,
            "spark.output_mb": st["output_b"] / mb,
            "driver.python_cpu_s": record["py_cpu_s"],
            "driver.jvm_cpu_s": record["jvm_cpu_s"],
            "driver.jvm_nontask_cpu_s": record["jvm_cpu_s"] - task_cpu_s,
            "driver.jit_compile_ms": record["counters"]["jit_ms"],
            "spark.codegen_compiles": record["counters"]["codegen_compiles"],
        })
        return m

    def peak_rss_mb(self) -> float:
        py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        return py + proc_peak_rss_mb(self.jvm_pid)

    def host(self) -> dict:
        import pyspark

        jvm = self.spark._jvm
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "pyspark": pyspark.__version__,
            "java": str(jvm.System.getProperty("java.version")),
            "driver_memory": self.spark.conf.get("spark.driver.memory"),
            "heap_max_mb": int(jvm.java.lang.Runtime.getRuntime().maxMemory()) // (1024 * 1024),
        }

    # -- teardown ----------------------------------------------------------

    def close(self) -> None:
        """Stop the session, wait for the JVM to exit, drop the working files."""
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            proc = getattr(gateway, "proc", None)
            if gateway is not None:
                gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        shutil.rmtree(self.work, ignore_errors=True)


def run(args, runner, t_process: float) -> dict:
    work = WORK_ROOT / f"{args.workload}-{os.getpid()}"
    prepare_environment(work)
    bench = Bench(runner, args.workload, args.seed, args.seconds, work)
    try:
        setup = bench.setup(t_process)
        bench.timeline["setup"] = time.perf_counter() - t_process
        bench.prepare_destination()
        bench.timeline["base"] = time.perf_counter() - t_process
        if args.trace:
            result = bench.measure_traced(t_process)
            metrics = {
                **result["metrics"],
                "phab_fixtures.generate_s": setup["phab_fixtures.generate_s"],
                "phab_fixtures.world_rows": sum(bench.world.fingerprint["rows"].values()),
                "setup.session_s": setup["setup.session_s"],
                "setup.oracle_s": setup["setup.oracle_s"],
                "setup.read_s": setup["setup.read_s"],
            }
        else:
            result = bench.measure(t_process)
            size, files = result["dest_usage"]
            metrics = {
                "run_s": result["run_s"],
                "setup_s": setup["setup_s"],
                "dest_mb": size / (1024 * 1024),
                "dest_files": files,
                "peak_rss_mb": bench.peak_rss_mb(),
                "success_rate": 1 - bench.failed / bench.attempted,
            }
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "scale": SCALE,
            "revisions": bench.world.revisions,
            "delta_revisions": bench.delta_revisions,
            "fingerprint": bench.world.fingerprint,
            "run_samples": result["samples"],
            "setup": setup,
            "host": bench.host(),
            "timeline": bench.timeline,
            "check_s": bench.check_s,
            "run_cpu_s": bench.run_cpu_s,
            "metrics": metrics,
        }
        spans = result.get("spans", [])
    finally:
        bench.close()
    record["timeline"]["closed"] = time.perf_counter() - t_process
    results = WORK_ROOT / "results"
    results.mkdir(parents=True, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    (results / f"{stem}.json").write_text(json.dumps(record, indent=1, default=str))
    if spans:
        (results / f"{stem}-spans.json").write_text(
            json.dumps([s.__dict__ for s in spans], default=str)
        )
    return {"record": record, "attempted": bench.attempted, "failed": bench.failed}


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=int, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    t_process = time.perf_counter()
    try:
        runner = import_program()  # before anything is written
    except ImportError as exc:
        print(f"perfbench: the program is not importable here: {exc}", file=sys.stderr)
        return 2
    out = run(args, runner, t_process)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    record = out["record"]
    print(json.dumps(record, default=str))
    declared = spec["per_layer" if args.trace else "end_to_end"]
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {
            m["name"]: {"value": record["metrics"][m["name"]], "unit": m["unit"]} for m in declared
        },
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    sys.exit(main())
