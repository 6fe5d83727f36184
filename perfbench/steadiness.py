#!/usr/bin/env python3
"""Repeat benchmark runs over seeds and record how steady each metric is.

Run from the repository root:

    python3 perfbench/steadiness.py --seeds 1-10 --out perfbench/STEADINESS.json

For every workload in BENCHMARK.json (or ``--workloads``) it runs
``perfbench/run.py`` once per seed, one run at a time, and records per
end-to-end metric the median, the first and third quartile
(``statistics.quantiles(values, n=4)``) and their distance as a share
of the median, next to the bound in BENCHMARK.json.  The record also
states the host's core count, and the load average and the share of
CPU time stolen by the hypervisor (``/proc/stat``) around every run.
Each invocation appends one set to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> dict[str, float]:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Stolen share of all CPU ticks between two ``cpu_ticks`` reads."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # guest time is already counted in user
    return delta[7] / total if total else 0.0


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--workloads", nargs="*",
                   default=[w["name"] for w in bench["workloads"]])
    p.add_argument("--out", required=True)
    args = p.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    record = {"cores": len(os.sched_getaffinity(0)),
              "run_seconds": bench["run_seconds"], "seeds": args.seeds,
              "workloads": {}}
    for w in args.workloads:
        runs = []
        for s in seeds(args.seeds):
            load0, t0, ticks = os.getloadavg()[0], time.monotonic(), cpu_ticks()
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"),
                 "--workload", w, "--seed", str(s),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                text=True, check=True,
            ).stdout.strip().splitlines()[-1]
            result = json.loads(out)
            runs.append({
                "seed": s, "wall_s": round(time.monotonic() - t0, 1),
                "loadavg_1m": [load0, os.getloadavg()[0]],
                "steal_share": round(steal_share(ticks, cpu_ticks()), 4),
                "correct": result["correct"],
                "attempted": result["attempted"], "failed": result["failed"],
                "metrics": {k: v["value"]
                            for k, v in result["metrics"].items()},
            })
            print(w, s, runs[-1]["wall_s"], result["correct"], flush=True)
        names = runs[0]["metrics"]
        record["workloads"][w] = {
            "metrics": {
                n: {**spread([r["metrics"][n] for r in runs]),
                    "bound": bounds.get(n)}
                for n in names
            },
            "runs": runs,
        }
    sets = []
    if os.path.exists(args.out):
        with open(args.out) as f:
            sets = json.load(f)["sets"]
    with open(args.out, "w") as f:
        json.dump({"sets": sets + [record]}, f, indent=1)
        f.write("\n")
    for w, rec in record["workloads"].items():
        for n, m in rec["metrics"].items():
            print(f"{w} {n}: median {m['median']:.4g}"
                  f" spread {m['spread']:.3f} bound {m['bound']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
