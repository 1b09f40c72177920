#!/usr/bin/env python
"""Alternating A/B bench between two checkouts (the r15-proven
interleaved protocol): run ``bench.py <queries>`` (subset mode — no
BENCH_spread.json write) in tree A and tree B for N rounds, A first on
even rounds and B first on odd ones, parse the per-query medians from
stderr, and print per-tree medians, ratios and how many of the round
pairs B won. Interleaving cancels slow host drift and alternating the
first side cancels a run-order effect; medians cancel run noise.

Usage:
    python tools/ab_bench.py --a /root/wt_old --b /root/repo \
        --rounds 3 -- dedup_semdedup_kmeans text_bpe_train
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys


def run_subset(tree: str, queries: list[str], sf_dir: str,
               cpus: str) -> dict[str, float]:
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_CPUS=cpus)
    p = subprocess.run([sys.executable, "bench.py", *queries], cwd=tree,
                       env=env, capture_output=True, text=True, timeout=3600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise RuntimeError(f"bench failed in {tree} rc={p.returncode}")
    out: dict[str, float] = {}
    for line in p.stderr.splitlines():
        m = re.match(r"# (\S+): ([0-9.]+)s \(spread", line)
        if m and m.group(1) in queries:
            out[m.group(1)] = float(m.group(2))
    missing = [q for q in queries if q not in out]
    if missing:
        raise RuntimeError(f"no timing parsed for {missing} in {tree}")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--a", required=True, help="tree A (baseline/old)")
    ap.add_argument("--b", required=True, help="tree B (candidate/new)")
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf0.1"))
    ap.add_argument("--cpus",
                    default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args(argv)

    results: dict[str, dict[str, list[float]]] = {
        "a": {q: [] for q in args.queries},
        "b": {q: [] for q in args.queries}}
    sides = (("a", args.a), ("b", args.b))
    for r in range(args.rounds):
        for label, tree in (sides if r % 2 == 0 else sides[::-1]):
            t = run_subset(tree, args.queries, args.sf_dir, args.cpus)
            for q, s in t.items():
                results[label][q].append(s)
            print(f"# round {r} tree {label} ({tree}): "
                  + " ".join(f"{q}={s:.2f}s" for q, s in t.items()),
                  flush=True)
    summary = {}
    for q in args.queries:
        ma = statistics.median(results["a"][q])
        mb = statistics.median(results["b"][q])
        b_wins = sum(b < a for a, b in zip(results["a"][q],
                                           results["b"][q]))
        summary[q] = {"a_median": round(ma, 3), "b_median": round(mb, 3),
                      "b_over_a": round(mb / ma, 3), "b_wins": b_wins,
                      "a_runs": results["a"][q], "b_runs": results["b"][q]}
        print(f"{q}: A med {ma:.2f}s  B med {mb:.2f}s  "
              f"ratio B/A {mb/ma:.3f}  B won {b_wins}/{args.rounds} pairs")
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
