#!/usr/bin/env python3
"""Runs the benchmark over several seeds and summarises the spread.

Usage (from the root of a checkout):
    python3 perfbench/sweep.py --out perfbench/results/NAME
        [--workloads a,b] [--seeds 1-10] [--seconds S] [--trace 0|1]

Each run's full result is kept as OUT/<workload>-seed<n>-trace<t>.json, and
OUT/summary-trace<t>.json holds, per workload and metric, the ten values, their
median, quartiles (statistics.quantiles(n=4)) and the quartile spread as a
share of the median, next to the metric's bound from BENCHMARK.json, plus
each run's wall time.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    summary = {"seconds": args.seconds, "trace": args.trace, "workloads": {}}
    for w in args.workloads.split(","):
        values, walls, failed = {}, [], 0
        for s in seeds(args.seeds):
            out = os.path.join(args.out, f"{w}-seed{s}-trace{args.trace}.json")
            t0 = time.time()
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(args.seconds),
                                "--trace", str(args.trace), "--out", out],
                               cwd=ROOT, capture_output=True, text=True)
            walls.append(round(time.time() - t0, 2))
            if r.returncode != 0:
                print(f"{w} seed {s}: exit {r.returncode}\n{r.stderr[-2000:]}", file=sys.stderr)
                failed += 1
                continue
            res = json.loads(r.stdout.strip().splitlines()[-1])
            failed += res["failed"] + (0 if res["correct"] else 1)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{w} seed {s}: wall {walls[-1]}s " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                           if k in bounds), flush=True)
        stats = {}
        for k, vs in values.items():
            if len(vs) < 2:
                continue
            q1, _, q3 = statistics.quantiles(vs, n=4)
            med = statistics.median(vs)
            stats[k] = {"values": vs, "median": med, "q1": q1, "q3": q3,
                        "spread": (q3 - q1) / med if med else None, "bound": bounds.get(k)}
        summary["workloads"][w] = {"metrics": stats, "run_wall_s": walls, "failed": failed}
        for k, st in stats.items():
            if k in bounds:
                print(f"{w} {k}: median {st['median']:.4g} spread {st['spread']:.3f} "
                      f"(bound {st['bound']})")
        print(f"{w}: mean run wall {statistics.mean(walls):.1f}s, failed {failed}", flush=True)
    with open(os.path.join(args.out, f"summary-trace{args.trace}.json"), "w") as f:
        json.dump(summary, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
