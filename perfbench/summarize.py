#!/usr/bin/env python3
"""Summarize kept benchmark results into one trajectory point.

    python3 perfbench/summarize.py --commit <sha> [--results DIR ...] [--out FILE]

Each --results directory (default: perfbench/.work/results, where run.py
keeps every run's result) is one set of steadiness runs: its untraced
runs give each workload's end-to-end and named metrics as median,
quartiles (statistics.quantiles, n=4) and spread (quartile distance over
median). The latest traced run per workload, over all directories, gives
its per-layer table. Prints each set's spreads against the bounds in
BENCHMARK.json and writes the point as JSON.
"""
import argparse
import glob
import json
import os
import statistics

BENCH = os.path.dirname(os.path.abspath(__file__))


def quartiles(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "n": len(values)}


def summarize_set(results, workloads, bounds):
    out = {}
    for w in workloads:
        runs = [json.load(open(p)) for p in
                sorted(glob.glob(os.path.join(results, f"{w}-seed*-trace0.json")))]
        if len(runs) < 2:
            continue
        entry = {"seeds": [int(r["conditions"]["seed"]) for r in runs],
                 "attempted": sum(int(r["attempted"]) for r in runs),
                 "failed": sum(int(r["failed"]) for r in runs),
                 "cpu_probe_ms": quartiles([float(r["conditions"]["cpu_probe_ms"])
                                            for r in runs]),
                 "conditions": runs[-1]["conditions"]}
        for group in ("end_to_end", "named"):
            entry[group] = {
                name: dict(quartiles([r[group][name]["value"] for r in runs]),
                           unit=runs[0][group][name]["unit"])
                for name in runs[0][group]}
        for name, s in entry["end_to_end"].items():
            flag = "" if s["spread"] <= bounds[name] / 3 else "  (above bound/3)"
            print(f"{w:15s} {name:17s} n={s['n']:2d} median={s['median']:12.4f} "
                  f"spread={s['spread']:.3f} bound={bounds[name]}{flag}")
        out[w] = entry
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--commit", required=True)
    ap.add_argument("--results", action="append")
    ap.add_argument("--out")
    args = ap.parse_args()
    dirs = args.results or [os.path.join(BENCH, ".work", "results")]
    spec = json.load(open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")))
    workloads = [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    point = {"commit": args.commit, "sets": [], "per_layer": {}}
    for d in dirs:
        print(f"-- {d}")
        point["sets"].append(summarize_set(d, workloads, bounds))
    for w in workloads:
        traced = sorted((p for d in dirs
                         for p in glob.glob(os.path.join(d, f"{w}-seed*-trace1.json"))),
                        key=os.path.getmtime)
        if traced:
            t = json.load(open(traced[-1]))
            point["per_layer"][w] = {
                "seed": int(t["conditions"]["seed"]),
                "cpu_probe_ms": float(t["conditions"]["cpu_probe_ms"]),
                "metrics": {k: v["value"] for k, v in t["layers"].items()}}
    if args.out:
        with open(args.out, "w") as f:
            json.dump(point, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
