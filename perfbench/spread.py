#!/usr/bin/env python3
"""Run a workload under several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload query_stream --seeds 1-10 [--trace 1] [--out FILE]

For every metric it prints the median and the quartile distance as a
share of the median (``statistics.quantiles(values, n=4)``), which is how
a run set is judged steady against the bounds in ``BENCHMARK.json``.
Every run measures ``run_seconds`` from ``BENCHMARK.json``. With
``--out`` the raw results and the summary are written as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(runs: list[dict]) -> dict:
    out = {}
    for name in runs[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(values)
        q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
        out[name] = {"median": med, "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / med if med else None,
                     "unit": runs[0]["metrics"][name]["unit"]}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    ap.add_argument("--baseline", help="untraced --out file, to report the tracing overhead")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    runs = []
    for seed in seeds(args.seeds):
        t0 = time.time()
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            return 1
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        result.update(seed=seed, wall_s=time.time() - t0)
        stolen = re.search(r"stolen by the hypervisor during the timed passes: ([\d.]+)%", proc.stderr)
        if stolen:
            result["steal_share"] = float(stolen.group(1)) / 100
        if args.trace:
            trace = os.path.join(ROOT, ".perfbench_work", "traces", f"{args.workload}-s{seed}.json")
            with open(trace) as f:
                t = json.load(f)
            result.update(end_to_end=t["end_to_end"], self_s_per_op=t["self_s_per_op"])
        runs.append(result)
        print(f"seed {seed}: {time.time() - t0:.0f}s wall, failed {result['failed']}/{result['attempted']}, "
              f"steal {result.get('steal_share', 0):.1%}",
              file=sys.stderr, flush=True)
    summary = summarize(runs)
    if args.trace:
        traced = summarize([{"metrics": r["end_to_end"]} for r in runs])
        summary = {"per_layer": summary, "end_to_end_traced": traced}
        if args.baseline:
            with open(args.baseline) as f:
                base = json.load(f)["summary"]
            summary["tracing_overhead"] = {
                k: {"traced": v["median"], "untraced": base[k]["median"],
                    "share": v["median"] / base[k]["median"] - 1}
                for k, v in traced.items() if k in base}
        flat = summary["per_layer"]
    else:
        flat = summary
    for name, s in flat.items():
        spread = "n/a" if s["spread"] is None else f"{s['spread']:.3f}"
        print(f"{args.workload:15s} {name:40s} median {s['median']:.4g} {s['unit']:6s} spread {spread}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "trace": args.trace, "seconds": seconds,
                       "summary": summary, "runs": runs}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
