"""Interleaved A/B runs of perfbench: a base revision against the working tree.

Exports the base revision (default ``HEAD~1``) with ``git archive`` into a
temporary directory, then runs ``perfbench/run.py`` on both trees in N
pairs on the same seeds. The order inside a pair alternates (A B, B A,
A B, ...), so a host-speed drift during the session does not always land
on the same side. For every workload and metric it prints the medians and
quartiles of both sides, how many pairs the change won (by the metric's
``better`` direction in ``BENCHMARK.json``), whether the median moved by
more than the base's interquartile range, and each run's ``cpu_probe``
(the host-speed probe perfbench prints on stderr).

Usage, from the repository root:

    python3 tools/ab.py --workload analyst_mix --pairs 10 --seconds 15 \\
        --seeds 111,112,113,114,115 [--rev HEAD~1] [--trace 0|1] \\
        [--out ab.json]

Seeds are used in turn, one per pair. Standard library only.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import re
import statistics
import subprocess
import sys
import tarfile
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export_rev(rev: str, dest: str) -> None:
    """Write the committed tree of ``rev`` into ``dest``."""
    blob = subprocess.run(["git", "-C", ROOT, "archive", rev],
                          check=True, capture_output=True).stdout
    with tarfile.open(fileobj=io.BytesIO(blob)) as tar:
        tar.extractall(dest)


def run_once(tree: str, workload: str, seed: int, seconds: float,
             trace: int) -> dict:
    """One perfbench run in ``tree``: its result JSON plus wall time,
    ``cpu_probe`` and the stderr tail when it did not produce a result."""
    t = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=tree, capture_output=True, text=True)
    wall = time.perf_counter() - t
    probe = re.findall(r"cpu_probe ([0-9.]+)", proc.stderr)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = {"correct": False, "attempted": 1, "failed": 1,
                  "metrics": {}, "error": proc.stderr[-2000:]}
    result["cpu_probe"] = float(probe[-1]) if probe else None
    result["wall_s"] = round(wall, 1)
    return result


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return (xs[0],) * 3 if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def directions() -> dict[str, str]:
    """metric name -> 'lower' | 'higher', from the working tree's
    BENCHMARK.json (end-to-end and per-layer)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["better"]
            for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}


def report(workload: str, pairs: list[dict], better: dict[str, str]) -> str:
    out = [f"== {workload}: {len(pairs)} pairs =="]
    for i, p in enumerate(pairs):
        a, b = p["base"], p["change"]
        out.append(
            f"pair {i + 1} seed {p['seed']} order {p['order']}: "
            f"base correct={a['correct']} failed={a['failed']} "
            f"cpu_probe={a['cpu_probe']} | change correct={b['correct']} "
            f"failed={b['failed']} cpu_probe={b['cpu_probe']}")
    names = sorted({k for p in pairs for side in ("base", "change")
                    for k in p[side].get("metrics", {})})
    out.append(f"{'metric':34} {'base q1/med/q3':>28} "
               f"{'change q1/med/q3':>28} {'d_med':>8} {'wins':>6} >IQR")
    for name in names:
        both = [(p["base"]["metrics"][name]["value"],
                 p["change"]["metrics"][name]["value"]) for p in pairs
                if name in p["base"].get("metrics", {})
                and name in p["change"].get("metrics", {})]
        if not any(x or y for x, y in both):
            continue  # a layer this workload never enters
        av, bv = [x for x, _ in both], [y for _, y in both]
        aq, bq = quartiles(av), quartiles(bv)
        way = better.get(name, "lower")
        wins = sum((y < x) if way == "lower" else (y > x) for x, y in both)
        dmed = (bq[1] - aq[1]) / aq[1] if aq[1] else float("nan")
        beyond = abs(bq[1] - aq[1]) > (aq[2] - aq[0])
        out.append(
            f"{name:34} {aq[0]:9.4g}/{aq[1]:9.4g}/{aq[2]:9.4g} "
            f"{bq[0]:9.4g}/{bq[1]:9.4g}/{bq[2]:9.4g} "
            f"{dmed:+8.1%} {wins:>3}/{len(both):<2} "
            f"{'yes' if beyond else 'no'}")
    return "\n".join(out)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append",
                    help="repeatable; default analyst_mix")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--seeds", default="111,112,113",
                    help="comma-separated, used in turn per pair")
    ap.add_argument("--rev", default="HEAD~1", help="base revision")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="write every run's result here as JSON")
    args = ap.parse_args()
    seeds = [int(s) for s in args.seeds.split(",") if s.strip()]
    workloads = args.workload or ["analyst_mix"]
    better = directions()
    results: dict[str, list[dict]] = {w: [] for w in workloads}
    with tempfile.TemporaryDirectory(prefix="ab-base-") as base:
        export_rev(args.rev, base)
        trees = {"base": base, "change": ROOT}
        for i in range(args.pairs):
            seed = seeds[i % len(seeds)]
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for w in workloads:
                pair = {"seed": seed, "order": "".join(
                    "A" if side == "base" else "B" for side in order)}
                for side in order:
                    pair[side] = run_once(trees[side], w, seed,
                                          args.seconds, args.trace)
                    print(f"[{w} pair {i + 1}/{args.pairs} seed {seed}] "
                          f"{side}: correct={pair[side]['correct']} "
                          f"wall={pair[side]['wall_s']}s "
                          f"cpu_probe={pair[side]['cpu_probe']}",
                          file=sys.stderr, flush=True)
                results[w].append(pair)
                if args.out:
                    with open(args.out, "w") as f:
                        json.dump({"rev": args.rev, "seconds": args.seconds,
                                   "trace": args.trace, "results": results},
                                  f, indent=1)
    for w in workloads:
        print(report(w, results[w], better))
    return 0


if __name__ == "__main__":
    sys.exit(main())
