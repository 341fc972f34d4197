#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarise each end-to-end metric
as median and quartile spread; optionally add one traced run per workload
and its per-layer metrics.

    python3 perfbench/sweep.py --seeds 1-10 --out perfbench/results/baseline.json
    python3 perfbench/sweep.py --seeds 1 --traced --out perfbench/results/layers.json

The spread of a metric is (Q3 - Q1) / median over its values, with the
quartiles of ``statistics.quantiles(values, n=4)``; the benchmark bounds in
BENCHMARK.json are judged against it.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict, float]:
    """(result line, details line, wall seconds) of one benchmark run."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed)]
    cmd += ["--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.time() - t0
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}:\n{p.stderr[-3000:]}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    details = json.loads(next(line for line in reversed(p.stderr.splitlines()) if line.startswith('{"workload"')))
    return result, details, wall


def spread(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None, "values": values}


def parse_seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--traced", action="store_true", help="add one traced run per workload (first seed)")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    seeds = parse_seeds(args.seeds)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report: dict = {
        "host": {"cpus": os.cpu_count(), "machine": platform.machine(), "python": platform.python_version()},
        "seeds": seeds,
        "run_seconds": bench["run_seconds"],
        "workloads": {},
    }
    for w in args.workloads.split(","):
        runs = []
        for seed in seeds:
            result, details, wall = run_once(w, seed, bench["run_seconds"], 0)
            runs.append({"seed": seed, "wall_s": wall, "result": result, "details": details})
            vals = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
            print(f"{w} seed {seed}: wall {wall:.1f}s correct={result['correct']} {vals}", file=sys.stderr)
        entry: dict = {
            "inputs": runs[0]["details"]["inputs"],
            "wall_s": spread([r["wall_s"] for r in runs]),
            "all_correct": all(r["result"]["correct"] for r in runs),
            "fail_ratio": sum(r["result"]["failed"] for r in runs) / sum(r["result"]["attempted"] for r in runs),
            "metrics": {},
        }
        for name in bounds:
            s = spread([r["result"]["metrics"][name]["value"] for r in runs])
            s["bound"] = bounds[name]
            s["unit"] = runs[0]["result"]["metrics"][name]["unit"]
            entry["metrics"][name] = s
        # measured per run but not gated (run details)
        for name in ("rows_per_s", "op_p50_s", "op_tail_s"):
            entry["metrics"][name] = spread([r["details"][name] for r in runs])
        entry["op_tail"] = [
            {"percentile": r["details"]["op_tail_percentile"], "samples": r["details"]["ops_timed"]} for r in runs
        ]
        entry["runs"] = [
            {"seed": r["seed"], "wall_s": r["wall_s"], "pass_s": r["details"]["pass_s"], "op_s": r["details"]["op_s"]}
            for r in runs
        ]
        if args.traced:
            result, details, wall = run_once(w, seeds[0], bench["run_seconds"], 1)
            untraced = next(r for r in runs if r["seed"] == seeds[0])["result"]["metrics"]["e2e_s"]["value"]
            traced = result["metrics"]["harness.traced_e2e_s"]["value"]
            entry["traced"] = {
                "seed": seeds[0],
                "correct": result["correct"],
                "wall_s": wall,
                "tracing_overhead_s": traced - untraced,
                "untraced_e2e_s": untraced,
                "per_layer": {k: v for k, v in result["metrics"].items()},
                "pass_s": details["pass_s"],
            }
        report["workloads"][w] = entry
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
        f.write("\n")
    for w, e in report["workloads"].items():
        for name, s in e["metrics"].items():
            bound = s.get("bound")
            flag = "" if bound is None or s["spread"] < bound / 3 else "  <-- spread >= bound/3"
            print(f"{w:14s} {name:28s} median {s['median']:.4g} spread {s['spread']:.3f} bound {bound}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
