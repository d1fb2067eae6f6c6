#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/stability.py --workload batch_sql --runs 10 [--first-seed 1]
    python3 perfbench/stability.py --workload batch_sql,iterative_index,stream_ingest \\
        --runs 10 --sets 2

Runs the benchmark once per seed and prints, for each workload and
end-to-end metric, the median and the quartile spread (Q3 - Q1) as a
share of the median, next to the metric's bound in BENCHMARK.json.
Several workloads are interleaved run by run, so a drift of the host's
speed reaches all of them alike. With --sets 2 the seeds run twice and
the second set's median is compared with the first's, as a comparison
of two commits would compare them. Runs with high CPU steal or a busy
host at start are flagged; nothing is adjusted or dropped.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
STEAL_FLAG = 0.05


def one_run(workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
    return json.loads(lines[-2])["annotations"], json.loads(lines[-1])


def spread(v):
    q = statistics.quantiles(v, n=4)
    med = statistics.median(v)
    return (q[2] - q[0]) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, help="one workload, or several comma-separated")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = a.workload.split(",")
    # values[set][workload][metric] -> list
    values = [{w: {k: [] for k in bounds} for w in workloads} for _ in range(a.sets)]
    for s in range(a.sets):
        for seed in range(a.first_seed, a.first_seed + a.runs):
            for w in workloads:
                try:
                    notes, res = one_run(w, seed, bench["run_seconds"])
                except RuntimeError as e:
                    print(e)
                    return 1
                for k in bounds:
                    values[s][w][k].append(res["metrics"][k]["value"])
                flags = []
                if notes["steal_frac"] > STEAL_FLAG:
                    flags.append(f"steal {notes['steal_frac']:.3f}")
                if notes["loadavg_start"] > notes["nproc"]:
                    flags.append(f"load {notes['loadavg_start']:.1f}")
                if notes["truncated"]:
                    flags.append("truncated")
                print(f"set {s + 1} {w} seed {seed}: correct={res['correct']} " +
                      " ".join(f"{k}={v[-1]:.4g}" for k, v in values[s][w].items()) +
                      (f"  FLAGGED: {', '.join(flags)}" if flags else ""), flush=True)
    for w in workloads:
        print(f"\n{w}: metric, bound, then per set: median, IQR/median" +
              (", and the change of the median from set 1" if a.sets > 1 else ""))
        for k in bounds:
            cols = []
            for s in range(a.sets):
                v = values[s][w][k]
                med, sp = statistics.median(v), spread(v)
                mark = "ok" if sp < bounds[k] / 3 else ("wide" if sp <= bounds[k] else "OVER")
                col = f"{med:10.4f} {sp:6.3f} {mark:4s}"
                if s:
                    first = statistics.median(values[0][w][k])
                    col += f" {(med - first) / first:+6.3f}"
                cols.append(col)
            print(f"  {k:18s} {bounds[k]:5.2f} | " + " | ".join(cols))
    return 0


if __name__ == "__main__":
    sys.exit(main())
