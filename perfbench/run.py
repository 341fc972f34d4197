#!/usr/bin/env python3
"""ictspark benchmark: seeded, closed-loop, single-client workloads on a
local[4] Spark session.

    python3 perfbench/run.py --workload reports_batch --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout of the repository. It generates the
workload's inputs from the seed (cached under .perfbench_work/), sets up the
Spark session SETUPS times, then runs passes of the workload's operation
sequence until --seconds have elapsed, checks every operation's output, and
prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 is a separate run that
labels every operation's Spark jobs by layer, writes Spark's event log and
reports the per-layer metrics (perfbench/trace.py). A run's details (op
tail percentile, sample counts, set-up samples) go to stderr as one JSON line.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CPUS = 4
DRIVER_MEM = "2g"
# set-ups per run: the first from process start (interpreter, JVM launch,
# session, inputs, engine warm-up); the others restart the Spark context in
# the same JVM. setup_s is their median.
SETUPS = 3
TAIL_PERCENTILES = (99, 95, 90, 75, 50)
# rows/s and the operation latencies go to the run details, not here: on the
# 4-CPU microVM the benchmark was sized on, their run-to-run spread exceeds
# the largest regression bound a metric may have (see perfbench/README.md)
E2E_UNITS = {
    "setup_s": "s",
    "e2e_s": "s",
    "peak_rss_mb": "MB",
    "store_bytes_per_input_byte": "ratio",
}
# forced-layer calls in a traced run; their median absorbs a GC pause
TRACE_REPEATS = 3


def process_start_time() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + int(fields[19]) / os.sysconf("SC_CLK_TCK")


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it): the highest percentile of
    TAIL_PERCENTILES with at least ten samples beyond it, by nearest rank;
    the maximum (percentile 100) when there are too few samples."""
    xs = sorted(samples)
    n = len(xs)
    for q in TAIL_PERCENTILES:
        rank = math.ceil(q / 100 * n)
        if n - rank >= 10:
            return xs[rank - 1], float(q), n - rank
    return xs[-1], 100.0, 0


class Ops:
    """Times each operation, labels its Spark jobs when tracing, and holds
    its output for the check that runs after the timed window."""

    def __init__(self, spark, traced: bool) -> None:
        self.sc = spark.sparkContext
        self.traced = traced
        self.k: int | None = None  # current pass; None for the traced run's forced layers
        self.records: list[dict] = []
        self._pending: list[tuple[dict, object, object]] = []

    def __call__(self, layer: str, name: str, fn, check=None):
        if self.traced:
            self.sc.setJobGroup(f"{layer}.{name}", f"{layer}.{name}")
        rec = {"layer": layer, "op": name, "pass": self.k, "start": time.time(), "ok": True}
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:  # a failed operation counts in `failed`; the run goes on
            traceback.print_exc()
            out, rec["ok"] = None, False
        rec["s"] = time.perf_counter() - t0
        rec["end"] = rec["start"] + rec["s"]
        self.records.append(rec)
        if rec["ok"] and check is not None:
            self._pending.append((rec, check, out))
        return out

    def run_checks(self) -> None:
        for rec, check, out in self._pending:
            try:
                check(out)
            except Exception as e:  # any check error marks the op failed
                rec["ok"], rec["error"] = False, str(e)[:300]
                print(f"check failed: {rec['layer']}.{rec['op']} pass {rec['pass']}: {e}", file=sys.stderr)



def isolate_environment() -> None:
    """Keep every file the JVM, Spark and Python write inside the checkout,
    and fix the driver heap.

    The heap is the program's deployment setting ICTSPARK_DRIVER_MEM. At its
    8 GB default ParallelGC sizes the heap differently from run to run and
    peak RSS moved by ±15 % between seeds; the inputs need far less than
    DRIVER_MEM."""
    os.environ["ICTSPARK_DRIVER_MEM"] = DRIVER_MEM
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # gettempdir() may already have cached /tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def start_spark(workload: str, event_log: str | None):
    from ictspark.session import get_spark

    extra = {
        "spark.local.dir": os.path.join(WORK, "local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        os.makedirs(event_log, exist_ok=True)
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(cpus=CPUS, app=f"perfbench-{workload}", extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    t_proc = process_start_time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ictspark", "pipeline.py")):
        print(f"perfbench: no ictspark package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    isolate_environment()
    sys.path.insert(0, ROOT)
    from perfbench import inputs, procmem, trace
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    traced = bool(args.trace)

    # seeded input generation belongs to the harness, not to set-up
    t_gen = time.time()
    inp, sizes = inputs.ensure(WORK, args.workload, args.seed)
    gen_s = time.time() - t_gen
    out = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)

    event_log = os.path.join(out, "eventlog") if traced else None
    w = WORKLOADS[args.workload](inp, out)
    setups: list[float] = []
    spark = start_spark(args.workload, event_log)
    w.register(spark)
    setups.append(time.time() - t_proc - gen_s)
    for _ in range(SETUPS - 1):
        spark.stop()
        t0 = time.perf_counter()
        spark = start_spark(args.workload, event_log)
        w.register(spark)
        setups.append(time.perf_counter() - t0)

    ops = Ops(spark, traced)
    passes: list[dict] = []
    t_window = time.perf_counter()
    while True:
        k = len(passes)
        ops.k = k
        t0 = time.perf_counter()
        rows = w.run_pass(k, ops)
        passes.append({"k": k, "s": time.perf_counter() - t0, "rows": rows})
        if time.perf_counter() - t_window >= args.seconds:
            break
    ops.k = None
    window_s = time.perf_counter() - t_window

    peak_mb = procmem.peak_rss_mb()
    jvm_mb = sum(procmem.vm_hwm_kb(p) for p in procmem.find_jvms()) / 1024.0
    if traced:
        for _ in range(TRACE_REPEATS):
            w.trace_layers(ops)
    ops.run_checks()
    store_ratio = w.store_bytes() / w.input_bytes()
    app_id = spark.sparkContext.applicationId
    stop_spark(spark)

    timed = [r for r in ops.records if r["pass"] is not None]
    attempted = len(ops.records)
    failed = sum(not r["ok"] for r in ops.records)
    op_s = [r["s"] for r in timed]
    tail_s, tail_q, beyond = tail(op_s)
    details = {
        "workload": args.workload,
        "seed": args.seed,
        "inputs": sizes,
        "input_gen_s": gen_s,
        "setup_samples_s": setups,
        "passes": len(passes),
        "pass_s": [p["s"] for p in passes],
        "window_s": window_s,
        "rows_per_s": statistics.median(p["rows"] / p["s"] for p in passes),
        "op_p50_s": statistics.median(op_s),
        "op_tail_s": tail_s,
        "op_tail_percentile": tail_q,
        "op_tail_samples_beyond": beyond,
        "ops_timed": len(op_s),
        "peak_rss_jvm_mb": jvm_mb,
        "op_s": [(f"{r['layer']}.{r['op']}", round(r["s"], 3)) for r in timed if r["pass"] == 0],
        "failures": [f"{r['layer']}.{r['op']}: {r.get('error', 'raised')}" for r in ops.records if not r["ok"]],
    }
    if traced:
        (log,) = glob.glob(os.path.join(event_log, app_id + "*"))
        stages, jobs = trace.parse_event_log(log)
        values = trace.per_layer(ops.records, passes, stages, jobs, w.counters)
        units = trace.per_layer_units()
        spans = os.path.join(WORK, "trace", f"{args.workload}-s{args.seed}.json")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        with open(spans, "w") as f:
            json.dump({"passes": passes, "ops": ops.records}, f)
        details["spans"] = os.path.relpath(spans, ROOT)
    else:
        values = {
            "setup_s": statistics.median(setups),
            "e2e_s": statistics.median(p["s"] for p in passes),
            "peak_rss_mb": peak_mb,
            "store_bytes_per_input_byte": store_ratio,
        }
        units = E2E_UNITS
    for leftover in (out, os.path.join(WORK, "local"), os.path.join(WORK, "tmp")):
        shutil.rmtree(leftover, ignore_errors=True)
    print(json.dumps(details), file=sys.stderr)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
