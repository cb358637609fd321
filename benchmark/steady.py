"""Steadiness check: repeated runs of each workload, two checkouts alternated.

    python3 benchmark/steady.py --runs 10
    python3 benchmark/steady.py --a . --b ../parent --runs 10

Run i (0-based) of every workload in BENCHMARK.json uses seed i + 1. With
``--b`` each run index runs both checkouts, alternating which goes first;
without it only ``--a`` runs. For every end-to-end metric of BENCHMARK.json
and every wall-clock figure on the run's extra line (not gated), the
command prints, per side, the median, the quartiles
(``statistics.quantiles``, n=4) and their distance as a share of the
median, and for two sides the relative difference of B's median from A's
(positive = B worse) against the metric's bound. The share of failed
operations is printed per side.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

# wall-clock figures printed on the extra line of every untraced run
EXTRA_FIGURES = ("build_docs_per_s", "search_qps", "setup_wall_s")


def run_once(checkout: str, workload: str, seed: int, seconds: int) -> dict:
    out = subprocess.run(
        [sys.executable, "benchmark/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True, timeout=900,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{checkout} {workload} seed {seed} failed:\n{out.stderr[-3000:]}")
    return {"checkout": checkout, "workload": workload, "extra": json.loads(lines[-2]), **json.loads(lines[-1])}


def summary(values: list[float]) -> str:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return f"median {med:.4g} [q1 {q1:.4g}, q3 {q3:.4g}] spread {(q3 - q1) / med:.3f}"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--a", default=".")
    ap.add_argument("--b", default=None)
    ap.add_argument("--runs", type=int, default=10)
    args = ap.parse_args()

    spec = json.load(open(os.path.join(args.a, "BENCHMARK.json")))
    workloads = [w["name"] for w in spec["workloads"]]
    sides = [os.path.abspath(args.a)] + ([os.path.abspath(args.b)] if args.b else [])
    results: list[dict] = []
    for i in range(args.runs):
        for w in workloads:
            for checkout in sides if i % 2 == 0 else sides[::-1]:
                r = run_once(checkout, w, i + 1, spec["run_seconds"])
                results.append(r)
                host = r["extra"]["host"]
                print(f"run {i} {w} {checkout} seed {i + 1}: "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
                      + f" | steal {host['steal_share']:.3f} wall {host['wall_s']}", flush=True)

    for w in workloads:
        print(f"\n== {w} ==")
        per_side = {s: [r for r in results if r["workload"] == w and r["checkout"] == s] for s in sides}
        for side, rs in per_side.items():
            share = sum(r["failed"] for r in rs) / sum(r["attempted"] for r in rs)
            print(f"  {side}: {len(rs)} runs, failed share {share:.6f}, all correct {all(r['correct'] for r in rs)}")
        for m in spec["end_to_end"]:
            name = m["name"]
            vals = [[r["metrics"][name]["value"] for r in per_side[s]] for s in sides]
            line = f"  {name:26s} bound {m['bound']:.2f} | " + " | ".join(summary(v) for v in vals)
            if len(sides) == 2:
                a, b = statistics.median(vals[0]), statistics.median(vals[1])
                worse = (b - a) / a * (-1 if m["better"] == "higher" else 1)
                line += f" | B vs A {worse:+.3f} ({'within' if worse <= m['bound'] else 'OUTSIDE'} bound)"
            print(line)
        for name in EXTRA_FIGURES:
            vals = [[r["extra"][name] for r in per_side[s]] for s in sides]
            print(f"  {name:26s} not gated  | " + " | ".join(summary(v) for v in vals))


if __name__ == "__main__":
    main()
