#!/usr/bin/env python3
"""crumble-spark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload bulk_direct --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1        # every workload, all named metrics

Generates the workload's input from --seed under .perfbench_work/ (the
only directory it writes; removed at exit; pipeline_sf reads the fixed
tables in perfbench/sf), starts Spark on local[nproc], sets up (session
start, Python-worker warm-up, cold first pass), then repeats warm passes
for --seconds.  Every op's output is checked.

--trace 0 prints the end-to-end metrics.  --trace 1 runs the same
session twice: first untraced, then, after a Spark restart, with the
event log on and the span hook on the Python path; it prints the
per-layer metrics of the traced session plus the tracing overhead (traced
median pass over untraced median pass).  The last stdout line is the
result JSON; the line before it carries the workload's named metrics and
input provenance.
Exits non-zero when any op failed or any output check did not hold.
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
import traceback
from collections import defaultdict
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
HOOK_DIR = os.path.join(HERE, "hook")
sys.path[:0] = [HERE, HOOK_DIR, ROOT]

import crumble_spark  # noqa: E402,F401  (fails fast outside a full checkout)

import eventlog  # noqa: E402
import layers  # noqa: E402
import measure  # noqa: E402
import perfbench_trace  # noqa: E402
from perfbench_trace import TRACE_PROPERTY  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

DRIVER_MEM = "1g"


class Ops:
    """Op log of one session: per-op wall times, per-pass wall and process
    tree CPU, the epoch-ms interval and token count of every op under its
    job description, and the attempted/failed tally."""

    def __init__(self, spark, workload: str, label: str | None = None, recorder=None):
        self.sc = spark.sparkContext
        self.prefix = f"{workload}/" if label is None else f"{workload}/{label}/"
        self.recorder = recorder
        self.times: dict[str, list[float]] = defaultdict(list)
        self.intervals: dict[str, list] = defaultdict(list)
        self.tokens: dict[str, int] = defaultdict(int)
        self.pass_wall: list[float] = []
        self.pass_cpu: list[float] = []
        self.passes = 0
        self.attempted = self.failed = 0
        self._wall = self._cpu = 0.0

    @contextmanager
    def op(self, name: str, tokens: int = 0):
        desc = self.prefix + name
        self.sc.setJobDescription(desc)
        if self.recorder is not None:
            self.recorder.phase = desc
            self.sc.setLocalProperty(TRACE_PROPERTY, "1")
        handle = _Op(self, name)
        self.attempted += 1
        cpu0 = measure.tree_cpu()
        e0 = time.time()
        t0 = time.perf_counter()
        try:
            yield handle
        except BaseException:
            handle.fail("raised:\n" + traceback.format_exc())
            raise
        finally:
            dt = time.perf_counter() - t0
            e1 = time.time()
            self._cpu += measure.tree_cpu() - cpu0
            self._wall += dt
            self.sc.setJobDescription(None)
            if self.recorder is not None:
                self.recorder.phase = None
                self.sc.setLocalProperty(TRACE_PROPERTY, None)
            self.times[name].append(dt)
            self.intervals[desc].append((e0 * 1e3, e1 * 1e3))
            self.tokens[desc] += tokens

    def end_pass(self):
        self.pass_wall.append(self._wall)
        self.pass_cpu.append(self._cpu)
        self._wall = self._cpu = 0.0
        self.passes += 1


class _Op:
    def __init__(self, ops: Ops, name: str):
        self.ops, self.name, self.ok = ops, name, True

    def fail(self, msg: str):
        if self.ok:
            self.ops.failed += 1
            self.ok = False
        print(f"FAILED {self.ops.prefix}{self.name}: {msg}", file=sys.stderr)

    def check(self, cond: bool, msg: str):
        if not cond:
            self.fail(msg)


def _spark_env(workload, trace_dir: str | None) -> None:
    """Environment the Spark JVM (and through it the Python workers)
    inherits; read once per JVM launch."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # heap fixed at DRIVER_MEM (-Xms = -Xmx): a resizing heap made the
    # JVM's footprint depend on when G1 grew it
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}"
    args = ["--driver-java-options", shlex.quote(java_opts)]
    args += ["--conf", "spark.ui.showConsoleProgress=false"]
    path = [ROOT]
    if trace_dir is not None:
        log_dir = os.path.join(trace_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        for conf in (
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{log_dir}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ):
            args += ["--conf", shlex.quote(conf)]
        path.insert(0, HOOK_DIR)
        os.environ["PERFBENCH_SPAN_DIR"] = os.path.join(trace_dir, "spans")
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_GRAFT_TASK_CPUS": str(workload.task_cpus),
            "SPARK_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
            "TMPDIR": tmp,
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(path),
            "PYSPARK_SUBMIT_ARGS": " ".join(args + ["pyspark-shell"]),
        }
    )


def _warm_workers(batches):
    import pandas as pd

    for pdf in batches:
        yield pd.DataFrame({"n": [len(pdf)]})


def start_session(workload, trace_dir=None):
    """Launch Spark on local[nproc] and warm the Python workers.  Returns
    (spark, {"start_s", "warm_s"})."""
    from crumble_spark.session import get_spark

    _spark_env(workload, trace_dir)
    t0 = time.perf_counter()
    spark = get_spark(app=f"perfbench-{workload.name}")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    par = spark.sparkContext.defaultParallelism
    spark.range(0, 4 * par, numPartitions=par).mapInPandas(_warm_workers, "n long").collect()
    return spark, {"start_s": t1 - t0, "warm_s": time.perf_counter() - t1}


def tear_down(spark) -> None:
    """Stop Spark and its JVM (the next set_up launches a fresh one)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()  # the gateway JVM exits when its stdin closes
        gw.proc.wait(timeout=120)
        SparkContext._gateway = None
        SparkContext._jvm = None


def timed_passes(spark, workload, ops: Ops, seconds: float) -> None:
    """Warm passes until `seconds` have gone by, at least one."""
    deadline = time.perf_counter() + seconds
    while ops.passes == 0 or time.perf_counter() < deadline:
        workload.run_pass(spark, ops)
        ops.end_pass()


def run_session(workload, seconds, logs: list[Ops], trace_dir=None, recorder=None):
    """Start Spark, set up (session start, worker warm-up, cold pass), run
    warm passes for `seconds`, stop Spark.  Appends the cold and the warm
    op log to `logs`; returns (set-up parts, warm op log)."""
    spark, setup = start_session(workload, trace_dir)
    try:
        logs.append(Ops(spark, workload.name, "cold"))
        t0 = time.perf_counter()
        getattr(workload, "cold_pass", workload.run_pass)(spark, logs[-1])
        setup["setup_s"] = setup["start_s"] + setup["warm_s"] + time.perf_counter() - t0
        label = None if recorder is None else "traced"
        logs.append(Ops(spark, workload.name, label, recorder))
        timed_passes(spark, workload, logs[-1], seconds)
    finally:
        tear_down(spark)
    return setup, logs[-1]


def _metric(value, unit):
    return {"value": value, "unit": unit}


def run_one(args) -> int:
    workload = WORKLOADS[args.workload]()
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    t0 = time.perf_counter()
    provenance = workload.prepare(args.seed, os.path.join(WORK, "data"))
    gen_s = time.perf_counter() - t0
    mem = measure.MemSampler().start()
    logs: list[Ops] = []
    ops = None
    setup = {}
    result_metrics = {}
    detail = {}
    completed = False
    try:
        setup, ops = run_session(workload, args.seconds, logs)
        if args.trace:
            trace_dir = os.path.join(WORK, "trace")
            recorder = perfbench_trace.install(os.path.join(trace_dir, "spans"))
            _, tops = run_session(workload, args.seconds, logs, trace_dir, recorder)
            log_dir = os.path.join(trace_dir, "eventlog")
            (log_file,) = os.listdir(log_dir)
            totals = eventlog.read(os.path.join(log_dir, log_file))
            spans = layers.read_spans(os.path.join(trace_dir, "spans"))
            per_layer = layers.compute(
                workload.name, tops, totals, spans, setup, measure.median(ops.pass_wall)
            )
            result_metrics = {k: _metric(v, u) for k, (v, u) in per_layer.items()}
        mem.stop()
        peak_mb = mem.peak / 2**20
        if not args.trace:
            result_metrics = {
                "setup_s": _metric(setup["setup_s"], "s"),
                "pass_s": _metric(measure.median(ops.pass_wall), "s"),
                "peak_pss_mb": _metric(peak_mb, "MB"),
            }
        detail = {
            "setup_s": (setup["setup_s"], "s"),
            "peak_pss_mb": (peak_mb, "MB"),
            "pass_cpu_s": (measure.median(ops.pass_cpu), "s"),
            **workload.detail(ops.times),
        }
        completed = True
    except Exception:  # noqa: BLE001 — any exception fails the run (an op that raised counted itself)
        traceback.print_exc()
        mem.stop()
    attempted = sum(o.attempted for o in logs) or 1
    failed = sum(o.failed for o in logs)
    if not completed:
        failed = max(failed, 1)
    ok = failed == 0
    detail["ops_failed_frac"] = (failed / attempted, "frac")
    print(
        json.dumps(
            {
                "workload": workload.name,
                "seed": args.seed,
                "input": provenance,
                "gen_s": gen_s,
                "warm_samples": {k: len(v) for k, v in ops.times.items()} if ops else {},
                "setup": setup,
                "named_metrics": {k: _metric(v, u) for k, (v, u) in detail.items()},
            }
        )
    )
    print(
        json.dumps(
            {"correct": ok, "attempted": attempted, "failed": failed, "metrics": result_metrics}
        )
    )
    shutil.rmtree(WORK, ignore_errors=True)
    return 0 if ok else 1


def run_all(args) -> int:
    """Every workload in its own process; prints each workload's named
    metrics as one table plus a combined verdict."""
    named, failed, attempted = {}, 0, 0
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
            capture_output=True, text=True,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            sys.stderr.write(proc.stderr[-4000:])
        if len(lines) < 2:
            failed += 1
            attempted += 1
            continue
        info, result = json.loads(lines[-2]), json.loads(lines[-1])
        named[name] = info["named_metrics"]
        failed += result["failed"]
        attempted += result["attempted"]
    for name, metrics in named.items():
        for k, m in metrics.items():
            value = "refused (<100 samples)" if m["value"] is None else f"{m['value']:.4f}"
            print(f"{name:12s} {k:20s} {value:>24s} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "named_metrics": named}))
    return 0 if failed == 0 else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
