#!/usr/bin/env python3
"""Steadiness self-check for the benchmark.

    python3 perfbench/check_steady.py [--workloads olap_mixed,...] [--seeds 1-10]

For each workload it runs ``run.py`` once per seed and prints, for every
end-to-end metric, the median, the spread (interquartile range as a share of
the median) and the metric's bound from BENCHMARK.json; a spread above a third
of its bound is flagged. ``setup_s`` is printed but not flagged, as in the
benchmark's acceptance rule: it is one JVM start per run, so only its median
is held to the bound. Then it makes two traced runs on the first seed,
asserts that the exact counts (``spark.jobs``, ``spark.stages``,
``spark.tasks``, ``output_files``) repeat exactly, and prints the tracing
overhead: the traced ``op_geomean_s`` over the untraced one of the same seed.
Exits non-zero if any check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXACT = ("spark.jobs", "spark.stages", "spark.tasks", "output_files")


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    """One run's metric values and its host-facts line."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    *_, host, last = proc.stdout.strip().splitlines()
    result = json.loads(last)
    if not result["correct"]:
        raise RuntimeError(f"{workload} seed {seed} reported incorrect output:\n{proc.stderr[-2000:]}")
    return {k: v["value"] for k, v in result["metrics"].items()}, json.loads(host)


def seed_list(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    parser.add_argument("--seeds", default="1-10")
    args = parser.parse_args()
    seeds = seed_list(args.seeds)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for workload in args.workloads.split(","):
        runs, hosts = zip(*(run_once(workload, s, bench["run_seconds"], 0) for s in seeds))
        print(f"== {workload}: {len(runs)} runs, seeds {args.seeds}")
        for name, bound in bounds.items():
            values = [r[name] for r in runs]
            median = statistics.median(values)
            q1, _, q3 = statistics.quantiles(values, n=4)
            spread = (q3 - q1) / median
            steady = name == "setup_s" or spread <= bound / 3
            ok &= steady
            print(f"  {name:14s} median {median:10.4f}  spread {spread:6.3f}  "
                  f"bound {bound:5.2f}  {'ok' if steady else 'UNSTEADY'}  "
                  f"[{' '.join(f'{v:.4g}' for v in values)}]")
        raw = [h["op_geomean_s"] for h in hosts]
        print(f"  op_geomean_s   median {statistics.median(raw):10.4f}  (raw seconds, not gated)  "
              f"[{' '.join(f'{v:.4g}' for v in raw)}]")
        traced = [run_once(workload, seeds[0], bench["run_seconds"], 1)[0] for _ in range(2)]
        for name in EXACT:
            a, b = traced[0][name], traced[1][name]
            ok &= a == b
            print(f"  {name:22s} {a} / {b}  {'repeats' if a == b else 'DIFFERS'}")
        untraced = hosts[0]["op_geomean_s"]
        overhead = statistics.median(t["trace.op_geomean_s"] for t in traced) / untraced - 1
        print(f"  tracing overhead on op_geomean_s (seed {seeds[0]}): {overhead:+.1%}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
