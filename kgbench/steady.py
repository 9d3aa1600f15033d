"""Steadiness mode: run the benchmark in two sets of runs per workload
and report whether the figures are steady and whether the sets agree.

    python3 kgbench/steady.py --runs 10

Each run uses its own seed.  For every end-to-end metric of every
workload it prints the median and the quartile spread (Q3 - Q1, from
``statistics.quantiles(values, n=4)``) as a share of the median.  A set
is steady when every spread stays within the metric's bound from
BENCHMARK.json; the two sets agree when, for every metric, the second
median differs from the first, in either direction, by at most the
bound as a share of the first.  Exits 0 only if both sets are steady and
they agree.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SETS = 2


def spread(values: list[float]) -> float:
    """Quartile spread as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def worse_by(first: float, second: float, better: str) -> float:
    """How much worse ``second`` is than ``first``, as a share of ``first``."""
    d = (second - first) / first
    return d if better == "lower" else -d


def agree(first: float, second: float, bound: float) -> bool:
    """The two medians differ by at most ``bound`` as a share of the first."""
    return abs(second - first) / first <= bound


def run_once(bench: dict, workload: str, seed: int) -> dict:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", "0",
    ]
    t = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    wall = time.perf_counter() - t
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit code {p.returncode}")
    *_, report, last = p.stdout.strip().splitlines()
    res = json.loads(last)
    if not res["correct"]:
        raise SystemExit(f"{workload} seed {seed}: incorrect result {res}")
    rep = json.loads(report)["report"]
    return {"wall_s": wall, "builds_s": rep["build_times_s"], "steal_s": rep["host_steal_s"],
            **{k: v["value"] for k, v in res["metrics"].items()}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", action="append", help="default: every workload")
    ap.add_argument("--seed", type=int, default=1000, help="first seed")
    args = ap.parse_args(argv)
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    metrics = bench["end_to_end"]

    ok = True
    seed = args.seed
    for wl in workloads:
        medians = []
        for s in range(SETS):
            runs = []
            for _ in range(args.runs):
                runs.append(run_once(bench, wl, seed))
                seed += 1
                print(json.dumps({"workload": wl, "set": s, "seed": seed - 1, **runs[-1]}), flush=True)
            summary = {}
            for m in metrics:
                vals = [r[m["name"]] for r in runs]
                sp = spread(vals)
                steady = sp <= m["bound"]
                ok &= steady
                summary[m["name"]] = {"median": statistics.median(vals), "spread": sp,
                                      "bound": m["bound"], "steady": steady}
            medians.append(summary)
            print(json.dumps({"workload": wl, "set": s, "summary": summary,
                              "wall_s": sum(r["wall_s"] for r in runs)}), flush=True)
        verdict = {}
        for m in metrics:
            first, second = (medians[s][m["name"]]["median"] for s in range(SETS))
            same = agree(first, second, m["bound"])
            verdict[m["name"]] = {"worse_by": worse_by(first, second, m["better"]), "agree": same}
            ok &= same
        print(json.dumps({"workload": wl, "sets_agree": verdict}), flush=True)
    print(json.dumps({"steady_and_agree": ok}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
