"""Per-layer metrics for the traced run.

The traced run labels each operation's Spark jobs with
``setJobGroup("<layer>.<op>")``, keeps one span per operation in memory, and
writes Spark's own event log (uncompressed JSON lines). After the run this
module joins the two: stage and task metrics are attributed to a layer by
job group, and an operation's driver time is its span minus the part of it
covered by its stages.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

from perfbench.workloads import PRODUCT_REPORTS, REPORTS, TRACE_UPSTREAM

SPARK_LAYERS = [
    "io",
    "parse",
    "aggregates",
    "pipeline",
    "product_report",
    "enrich",
    "route",
    "checkpoint",
    "extras.dedup",
    "extras.curation",
    "extras.similarity",
    "extras.textstats",
    "extras.stores",
]
SPARK_METRICS = {
    "driver_s": "s",
    "executor_cpu_s": "s",
    "jvm_gc_s": "s",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "jobs": "count",
}

# "<layer>.<op>" whose median call time is reported as "<layer>.<op>_s"
OPS = (
    ["io.scan", "parse.parse_steps", "parse.parse_steps_arrow", "aggregates.with_attempt", "aggregates.runs"]
    + ["pipeline.materialize"]
    + [f"pipeline.{r}" for r in REPORTS]
    + [f"product_report.{r}" for r in PRODUCT_REPORTS]
    + ["enrich.enrich_steps", "route.write_routed"]
    + ["checkpoint.run_incremental", "checkpoint.report_from_store", "checkpoint.idle_poll"]
    + [
        "extras.dedup.minhash_lsh_pairs",
        "extras.curation.dedup_components",
        "extras.textstats.unigram_logprob",
        "extras.similarity.semantic_keep_list",
    ]
    + [
        "extras.stores.incr_dsir.init_store",
        "extras.stores.incr_para.ingest",
        "extras.stores.incr_dsir.ingest",
    ]
)
COUNTERS = {
    "parse.steps_per_turn": "ratio",
    "route.bytes_written_mb": "MB",
    "route.files_written": "count",
    "checkpoint.rewrite_ratio": "ratio",
    "checkpoint.journal_lines": "count",
    "checkpoint.store_mb": "MB",
}
HARNESS = {"harness.unattributed_s": "s", "harness.traced_e2e_s": "s"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name → unit, in the order printed."""
    out = {f"{o}_s": "s" for o in OPS}
    out.update(COUNTERS)
    out.update(HARNESS)
    for layer in SPARK_LAYERS:
        for m, unit in SPARK_METRICS.items():
            out[f"spark.{layer}.{m}"] = unit
    return out


def parse_event_log(path: str) -> tuple[dict, dict]:
    """(stages, jobs): stage id → {group, start, end, cpu_s, gc_s,
    shuffle_write_mb, spill_mb}; job group → number of jobs."""
    stage_group: dict[int, str | None] = {}
    stages: dict[int, dict] = {}
    jobs: dict[str | None, int] = defaultdict(int)
    acc: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                jobs[g] += 1
                for sid in e.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
            elif ev == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                if "Submission Time" in info and "Completion Time" in info:
                    stages[info["Stage ID"]] = {
                        "start": info["Submission Time"] / 1000.0,
                        "end": info["Completion Time"] / 1000.0,
                    }
            elif ev == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                a = acc[e["Stage ID"]]
                a["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                a["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
                a["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
    for sid, s in stages.items():
        s["group"] = stage_group.get(sid)
        s.update(acc.get(sid, {}))
    return stages, dict(jobs)


def _busy(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


def op_spark_costs(record: dict, stages: dict) -> dict[str, float]:
    """Spark costs of one operation call: stages of its job group that ran
    inside its span."""
    group = f"{record['layer']}.{record['op']}"
    mine = [s for s in stages.values() if s["group"] == group and record["start"] <= s["start"] <= record["end"]]
    busy = _busy([(s["start"], s["end"]) for s in mine], record["start"], record["end"])
    return {
        "driver_s": record["s"] - busy,
        "executor_cpu_s": sum(s.get("cpu_s", 0.0) for s in mine),
        "jvm_gc_s": sum(s.get("gc_s", 0.0) for s in mine),
        "shuffle_write_mb": sum(s.get("shuffle_write_mb", 0.0) for s in mine),
        "spill_mb": sum(s.get("spill_mb", 0.0) for s in mine),
    }


def per_layer(records: list[dict], passes: list[dict], stages: dict, jobs: dict, counters: dict) -> dict[str, float]:
    """The per-layer metrics of one traced run.

    - ``<layer>.<op>_s``: median call time; for a layer forced on its own
      after the timed window (the workload's trace_layers, run
      TRACE_REPEATS times), its self time: the median forced call minus the
      median forced call of its upstream layer.
    - ``spark.<layer>.*``: the layer's pass operations summed per pass, plus
      the self costs of one forced call of each of its forced operations.
    - ``harness.unattributed_s``: median over passes of the pass time not
      covered by an operation span.
    """
    n_pass = max(1, len(passes))
    calls: dict[str, list[float]] = defaultdict(list)
    costs: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    forced: set[str] = {f"{r['layer']}.{r['op']}" for r in records if r["pass"] is None}
    for r in records:
        name = f"{r['layer']}.{r['op']}"
        calls[name].append(r["s"])
        for k, v in op_spark_costs(r, stages).items():
            costs[name][k] += v
    # per pass for pass operations, per call for forced ones
    for name, c in costs.items():
        per = len(calls[name]) if name in forced else n_pass
        c["jobs"] = jobs.get(name, 0)
        for k in c:
            c[k] /= per
        c["s"] = statistics.median(calls[name])
    # a forced layer's own share: minus the forced call of its upstream layer
    cumulative = {name: dict(costs[name]) for name in forced}
    for name in forced:
        up = cumulative.get(TRACE_UPSTREAM.get(name, ""), {})
        costs[name] = {k: v - up.get(k, 0.0) for k, v in cumulative[name].items()}

    out: dict[str, float] = {}
    for name in OPS:
        if name in forced:
            out[f"{name}_s"] = costs[name]["s"]
        else:
            out[f"{name}_s"] = statistics.median(calls[name]) if calls.get(name) else 0.0
    for k in COUNTERS:
        out[k] = float(counters.get(k, 0.0))
    unattributed = [p["s"] - sum(r["s"] for r in records if r["pass"] == p["k"]) for p in passes]
    out["harness.unattributed_s"] = statistics.median(unattributed) if unattributed else 0.0
    out["harness.traced_e2e_s"] = statistics.median(p["s"] for p in passes) if passes else 0.0
    for layer in SPARK_LAYERS:
        mine = [c for name, c in costs.items() if _layer_of(name) == layer]
        for m in SPARK_METRICS:
            out[f"spark.{layer}.{m}"] = sum(c.get(m, 0.0) for c in mine)
    return out


def _layer_of(name: str) -> str:
    """The SPARK_LAYERS entry an op name belongs to (longest prefix)."""
    best = ""
    for layer in SPARK_LAYERS:
        if name.startswith(layer + ".") and len(layer) > len(best):
            best = layer
    return best
