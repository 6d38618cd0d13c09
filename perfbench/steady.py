"""Steadiness check for the benchmark.

Runs each workload of BENCHMARK.json ``--runs`` times, each with another
seed, and reports for every end-to-end metric the median, the first and
third quartiles (``statistics.quantiles(values, n=4)``) and the spread
(third minus first quartile, as a share of the median) next to the
metric's bound. It also reports each run's wall time, which the whole
benchmark's time budget is planned from.

    python3 perfbench/steady.py --runs 10 [--workloads stream_deep] [--first-seed 1]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(bench: dict, workload: str, seed: int, trace: int = 0) -> tuple[dict, float]:
    cmd = [*bench["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.time() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    res = json.loads(lines[-1])
    # the "# name value unit" lines: unscaled times, counters
    res["printed"] = {f[1]: float(f[2]) for f in (ln.split() for ln in lines[:-1])
                      if len(f) == 4 and f[0] == "#"}
    return res, wall


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3, (q3 - q1) / statistics.median(values)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workloads", default=None, help="comma-separated; default all")
    p.add_argument("--out", default=None, help="write the raw results as JSON here")
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    raw: dict = {}
    ok = True
    for w in names:
        runs = []
        for i in range(args.runs):
            seed = args.first_seed + i
            res, wall = run_once(bench, w, seed)
            runs.append({"seed": seed, "wall_s": wall, **res})
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
            print(f"{w} seed={seed} wall={wall:.1f}s correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']} {vals}", flush=True)
            ok &= res["correct"]
        raw[w] = runs
        walls = [r["wall_s"] for r in runs]
        print(f"{w}: run wall median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in runs]
            med, q1, q3, sp = spread(vals)
            within = sp <= m["bound"]
            ok &= within
            print(f"  {m['name']:<20} median {med:<12.5g} q1 {q1:<12.5g} q3 {q3:<12.5g} "
                  f"spread {sp:.4f} bound {m['bound']} ({sp / m['bound']:.2f} of bound)"
                  f"{'' if within else '  OVER BOUND'}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(raw, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
