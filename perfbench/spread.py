"""Run the benchmark over several seeds and report each end-to-end metric's
median, quartiles and spread (interquartile distance as a share of the
median), plus the share of failed operations, per set and workload.

    python3 perfbench/spread.py --sets 101-110 201-210 [--workloads forward_edge] \
        [--out perfbench/out/spread.json]

Each `--sets` range is one set of runs. Runs are sequential (parallel runs
would measure each other) and interleaved: seed i of every set, every
workload in turn, then seed i + 1, so that a change in the box's speed over
the minutes of a measurement falls on every set and workload alike.
Workloads, run length and metrics come from BENCHMARK.json.
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


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
    res = json.loads(lines[-1])
    res["ambient"] = json.loads(lines[-2])["ambient"]
    res["seed"], res["wall_s"] = seed, time.perf_counter() - t0
    return res


def summarize(runs: list[dict]) -> dict:
    summary = {}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        summary[name] = {"median": med, "q1": q1, "q3": q3,
                         "spread": (q3 - q1) / med if med else float("nan"), "values": vals}
    summary["failed_share"] = sum(r["failed"] for r in runs) / sum(r["attempted"] for r in runs)
    summary["all_correct"] = all(r["correct"] for r in runs)
    summary["run_wall_s"] = [r["wall_s"] for r in runs]
    return summary


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--sets", nargs="+", required=True, help="seed ranges first-last, e.g. 101-110")
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    sets = [range(int(lo), int(hi) + 1) for lo, hi in (s.split("-") for s in args.sets)]
    runs = {(s, w): [] for s in args.sets for w in args.workloads}
    for i in range(max(map(len, sets))):
        for name, seeds in zip(args.sets, sets):
            if i >= len(seeds):
                continue
            for w in args.workloads:
                try:
                    res = run_once(w, seeds[i], bench["run_seconds"], args.trace)
                except (RuntimeError, subprocess.TimeoutExpired) as e:
                    print(e, file=sys.stderr)
                    return 1
                runs[name, w].append(res)
                print(f"set {name} {w} seed {seeds[i]}: wall {res['wall_s']:.1f}s "
                      f"correct={res['correct']} "
                      + " ".join(f"{k}={v['value']:.6g}" for k, v in res["metrics"].items()),
                      flush=True)
    report = {}
    for (name, w), rs in runs.items():
        summary = summarize(rs)
        report[f"{name}/{w}"] = {"summary": summary, "runs": rs}
        for metric, s in summary.items():
            if isinstance(s, dict):
                print(f"set {name} {w} {metric}: median {s['median']:.6g} q1 {s['q1']:.6g} "
                      f"q3 {s['q3']:.6g} spread {s['spread']:.4f}")
        print(f"set {name} {w} failed share {summary['failed_share']} all correct "
              f"{summary['all_correct']} mean run wall {statistics.mean(summary['run_wall_s']):.1f}s",
              flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
