#!/usr/bin/env python3
"""Steadiness check: run every workload several times, each in a fresh
process (and so a fresh JVM), and print each metric's median, quartiles
and spread.

    python3 perfbench/steady.py --runs 10
    python3 perfbench/steady.py --runs 1              # every workload once

Run from the repository root. The workloads and the run length are
read from ``BENCHMARK.json``. Round ``r`` uses seed ``--seed0 + r`` and
runs the workloads in order on even rounds, reversed on odd rounds.
Every run logs the 1-minute load average and the CPU steal share during
the run, so a noisy epoch shows next to its figures.
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
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def run_once(workload: str, seed: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds",
           str(BENCH["run_seconds"]), "--trace", str(trace)]
    c0, load0, t0 = cpu_times(), loadavg(), time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    c1 = cpu_times()
    delta = [b - a for a, b in zip(c0, c1)]
    rec = {"workload": workload, "seed": seed, "trace": trace,
           "exit": proc.returncode, "wall_s": time.perf_counter() - t0,
           "load1": [load0, loadavg()],
           "steal_share": delta[7] / max(sum(delta), 1)}
    lines = proc.stdout.strip().splitlines()
    if proc.returncode == 0 and lines:
        rec["result"] = json.loads(lines[-1])
    else:
        rec["stderr_tail"] = proc.stderr[-2000:]
    return rec


def summarize(records: list[dict]) -> None:
    by_wl: dict[str, list[dict]] = {}
    for r in records:
        if "result" in r:
            by_wl.setdefault(r["workload"], []).append(r["result"])
    for wl, results in by_wl.items():
        shares = sorted({(x["failed"], x["attempted"]) for x in results})
        print(f"\n{wl}: {len(results)} runs, (failed, attempted) = "
              f"{shares[:4]}{' ...' if len(shares) > 4 else ''}, "
              f"all correct = {all(x['correct'] for x in results)}")
        for name, m in results[0]["metrics"].items():
            vals = [x["metrics"][name]["value"] for x in results]
            med = statistics.median(vals)
            q1, _, q3 = (statistics.quantiles(vals, n=4) if len(vals) > 1
                         else (vals[0], None, vals[0]))
            spread = (q3 - q1) / med if med else 0.0
            exact = " exact" if min(vals) == max(vals) else ""
            print(f"  {name:30s} {m['unit']:7s} median {med:14.4f}  "
                  f"q1 {q1:14.4f}  q3 {q3:14.4f}  spread {spread:6.3f}{exact}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    workloads = [w["name"] for w in BENCH["workloads"]]
    records = []
    for r in range(args.runs):
        order = workloads if r % 2 == 0 else workloads[::-1]
        for wl in order:
            rec = run_once(wl, args.seed0 + r, args.trace)
            records.append(rec)
            res = rec.get("result")
            figures = ({k: round(v["value"], 4)
                        for k, v in res["metrics"].items()} if res
                       else rec.get("stderr_tail", "")[-300:])
            print(f"{wl} seed={rec['seed']} exit={rec['exit']} "
                  f"wall={rec['wall_s']:.1f}s load1={rec['load1']} "
                  f"steal={rec['steal_share']:.4f} "
                  f"attempted={res and res['attempted']} "
                  f"failed={res and res['failed']} {figures}", flush=True)
    summarize(records)
    return 0 if all("result" in r for r in records) else 1


if __name__ == "__main__":
    sys.exit(main())
