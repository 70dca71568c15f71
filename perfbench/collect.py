#!/usr/bin/env python3
"""Runs the benchmark over many seeds and summarises each metric.

Usage (from the repository root):
    python3 perfbench/collect.py --runs 10 --first-seed 100 --traced \
        --out perfbench/baseline/BASELINE.json

Runs every workload of BENCHMARK.json `--runs` times, one seed per run,
interleaving the workloads so that machine-load drift spreads over all
of them. For each end-to-end metric it reports the median, the
quartiles (`statistics.quantiles(values, n=4)`) and the spread
(q3 - q1) / median next to the metric's bound. With `--traced` it adds
one traced run per workload for the per-layer numbers.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run_once(bench, workload, seed, trace, log=None):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]),
                              "--trace", str(trace)]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} failed ({proc.returncode})")
    if log:
        with open(log, "a") as f:
            f.write(json.dumps({"workload": workload, "seed": seed, "trace": trace,
                                "wall_s": wall, "summary": json.loads(lines[-2]),
                                "result": json.loads(lines[-1])}) + "\n")
    return json.loads(lines[-2]), json.loads(lines[-1]), wall


def describe(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "values": values}


def git_head():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True).stdout.strip() or None
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--out", default=None)
    ap.add_argument("--log", default=None,
                    help="JSON-lines file that every run's output is appended to")
    args = ap.parse_args()

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    finals = {w: [] for w in names}
    summaries = {w: [] for w in names}
    walls = {w: [] for w in names}
    for i in range(args.runs):
        for w in names:
            summary, final, wall = run_once(bench, w, args.first_seed + i, 0, args.log)
            summaries[w].append(summary)
            finals[w].append(final)
            walls[w].append(wall)
            print(f"{w} seed {args.first_seed + i}: {wall:.1f}s correct={final['correct']}",
                  file=sys.stderr)

    out = {"head_commit": git_head(), "nproc": os.cpu_count(),
           "run_seconds": bench["run_seconds"], "workloads": {}}
    for w in names:
        first = summaries[w][0]
        out.update(jdk=first["jdk"], heap_max_mb=first["heap_max_mb"],
                   cores=first["cores"])
        metrics = {}
        for m in bounds:
            d = describe([f["metrics"][m]["value"] for f in finals[w]])
            d.update(unit=finals[w][0]["metrics"][m]["unit"], bound=bounds[m])
            metrics[m] = d
        reported = {}
        for m in summaries[w][0]["reported"]:
            reported[m] = describe([s["reported"][m]["value"] for s in summaries[w]])
            reported[m]["unit"] = summaries[w][0]["reported"][m]["unit"]
        tail = summaries[w][0]["reported"]["query_tail_ms"]
        reported["query_tail_ms"].update(percentile=tail["percentile"],
                                         samples=tail["samples"])
        entry = {
            "seeds": [args.first_seed + i for i in range(args.runs)],
            "run_wall_s": describe(walls[w]),
            "attempted": sum(f["attempted"] for f in finals[w]),
            "failed": sum(f["failed"] for f in finals[w]),
            "failed_queries": sorted({q for s in summaries[w] for q in s["failed_queries"]}),
            "end_to_end": metrics, "reported": reported,
        }
        if args.traced:
            summary, final, wall = run_once(bench, w, args.first_seed, 1, args.log)
            entry["traced"] = {
                "seed": args.first_seed, "run_wall_s": wall,
                "per_layer": {k: v["value"] for k, v in final["metrics"].items()},
                "nonrepeating": summary["nonrepeating"],
            }
        out["workloads"][w] = entry
        for m, d in metrics.items():
            flag = "ok" if d["spread"] <= d["bound"] / 3 else (
                "within bound" if d["spread"] <= d["bound"] else "OVER BOUND")
            print(f"{w:16s} {m:18s} median {d['median']:10.3f} {d['unit']:3s} "
                  f"spread {d['spread']:.3f} (bound {d['bound']}) {flag}")
    text = json.dumps(out, indent=1)
    if args.out:
        Path(args.out).parent.mkdir(parents=True, exist_ok=True)
        Path(args.out).write_text(text + "\n")
    else:
        print(text)


if __name__ == "__main__":
    main()
