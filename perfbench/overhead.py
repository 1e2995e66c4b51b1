#!/usr/bin/env python3
"""Tracing overhead: traced wall minus untraced wall, from interleaved
same-seed pairs of runs.

    python3 perfbench/overhead.py --out perfbench/results/overhead.json

For every workload of BENCHMARK.json and seeds 1..PAIRS it runs the
benchmark once untraced and once traced with the same seed, one right
after the other, alternating which of the two goes first.  The untraced
wall is the run's ``wall_s``; the traced wall is the sum of its
``<op>.wall.s`` metrics (the same operations).  It reports the
differences, their median and quartiles, and the median as a share of
the untraced median.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from pathlib import Path

from aa import ROOT, run_once

PAIRS = 4


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text(encoding="utf-8"))
    seconds = spec["run_seconds"]
    report: dict = {"pairs": PAIRS, "workloads": {}}
    for w in (x["name"] for x in spec["workloads"]):
        pairs = []
        for seed in range(1, PAIRS + 1):
            order = (0, 1) if seed % 2 else (1, 0)
            walls = {}
            for trace in order:
                r = run_once(w, seed, seconds, trace)
                m = r["metrics"]
                walls[trace] = (
                    m["wall_s"]["value"]
                    if trace == 0
                    else sum(v["value"] for k, v in m.items() if k.endswith(".wall.s"))
                )
            pairs.append({"seed": seed, "first": "traced" if order[0] else "untraced",
                          "untraced_s": walls[0], "traced_s": walls[1],
                          "diff_s": walls[1] - walls[0]})
            print(f"{w} seed {seed}: untraced {walls[0]:.2f}s traced {walls[1]:.2f}s",
                  file=sys.stderr, flush=True)
        diffs = [p["diff_s"] for p in pairs]
        q1, med, q3 = statistics.quantiles(diffs, n=4)
        base = statistics.median(p["untraced_s"] for p in pairs)
        report["workloads"][w] = {"pairs": pairs, "median_diff_s": med, "q1_diff_s": q1,
                                  "q3_diff_s": q3, "median_untraced_s": base,
                                  "median_diff_share": med / base}
        print(f"{w}: traced - untraced median {med:+.2f}s (quartiles {q1:+.2f} .. {q3:+.2f}), "
              f"{med / base:+.1%} of {base:.2f}s")
    text = json.dumps(report, indent=1)
    if args.out:
        Path(args.out).parent.mkdir(parents=True, exist_ok=True)
        Path(args.out).write_text(text + "\n", encoding="utf-8")
    return 0


if __name__ == "__main__":
    sys.exit(main())
