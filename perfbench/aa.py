#!/usr/bin/env python3
"""A/A steadiness check: run the benchmark in sets of seeds on the same
code and compare the sets metric by metric.

    python3 perfbench/aa.py --out perfbench/results/aa_head.json

Every workload of BENCHMARK.json runs untraced in SETS sets of SEEDS
seeds; set k uses seeds k*100+1 .. k*100+SEEDS.  For every workload and
end-to-end metric it reports, per set, the median, the quartiles
(``statistics.quantiles(values, n=4)``) and the spread (third minus first
quartile over the median), and across sets the change of the median as
a share of the first set's median, next to the metric's bound from
BENCHMARK.json.  A metric passes when every spread is within its bound
and no later median is worse than the first by more than the bound.
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
SEEDS, SETS = 10, 2


def run_once(workload: str, seed: int, seconds: int, trace: int = 0) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    elapsed = time.perf_counter() - t0
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}: {proc.stderr[-2000:]}")
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    out["process_s"] = elapsed
    return out


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None,
            "values": values}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text(encoding="utf-8"))
    names = [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    runs: dict[str, list[list[dict]]] = {w: [] for w in names}
    for k in range(SETS):
        for w in names:
            results = []
            for seed in range(k * 100 + 1, k * 100 + SEEDS + 1):
                r = run_once(w, seed, spec["run_seconds"])
                print(f"set {k} {w} seed {seed}: {r['process_s']:.1f}s correct={r['correct']}",
                      file=sys.stderr, flush=True)
                results.append(r)
            runs[w].append(results)

    report: dict = {"seeds_per_set": SEEDS, "sets": SETS, "workloads": {}}
    ok = True
    for w in names:
        rows = {}
        for name, m in bounds.items():
            sets = [summarize([r["metrics"][name]["value"] for r in rs]) for rs in runs[w]]
            base = sets[0]["median"]
            worse = []
            for s in sets[1:]:
                d = (s["median"] - base) / base
                worse.append(d if m["better"] == "lower" else -d)
            spread_ok = all(s["spread"] <= m["bound"] for s in sets)
            drift_ok = all(d <= m["bound"] for d in worse)
            ok &= spread_ok and drift_ok
            rows[name] = {"unit": m["unit"], "bound": m["bound"], "sets": sets,
                          "median_worse_share": worse, "pass": spread_ok and drift_ok}
        report["workloads"][w] = {
            "metrics": rows,
            "all_correct": all(r["correct"] and r["failed"] == 0 for rs in runs[w] for r in rs),
            "process_s": summarize([r["process_s"] for rs in runs[w] for r in rs]),
        }
    report["pass"] = ok
    text = json.dumps(report, indent=1)
    if args.out:
        Path(args.out).parent.mkdir(parents=True, exist_ok=True)
        Path(args.out).write_text(text + "\n", encoding="utf-8")
    for w, rep in report["workloads"].items():
        print(f"{w}: correct={rep['all_correct']} process_s median={rep['process_s']['median']:.1f}")
        for name, row in rep["metrics"].items():
            spreads = " ".join(f"{s['spread']:.3f}" for s in row["sets"])
            meds = " ".join(f"{s['median']:.4g}" for s in row["sets"])
            print(f"  {name:14s} bound {row['bound']:.2f} spreads {spreads} medians {meds} "
                  f"{'ok' if row['pass'] else 'FAIL'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
