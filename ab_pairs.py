#!/usr/bin/env python3
"""Alternating A/B pairs of the benchmark between two git revisions.

    python3 ab_pairs.py --base HEAD~1 --change HEAD \\
        --workload jobcan_sync --workload curate_lifecycle \\
        --seeds 101 102 103 104 105 106 --tag mychange

Each revision is exported with ``git archive`` into its own directory
under ``--workdir`` (default: a fresh directory in the system temp dir),
so the runs never see the working tree.  To measure uncommitted work,
pass ``--change "$(git stash create)"`` (a commit of the working tree's
tracked files that moves no ref; it falls back to HEAD when the tree is
clean).

For every workload and seed, one pair runs ``perfbench/run.py --trace
0`` once in each export, alternating which side goes first (even pair
index: base first).  Runs are sequential, one Spark session at a time.
The result is written to ``AB_<tag>.json``: one row per pair with both
sides' end-to-end metrics, and per workload and metric the medians of
both sides, the base's quartiles and interquartile range, the change's
median as a share of the base's, the metric's bound from the base's
BENCHMARK.json, and how many pairs the change won.  Exit status 1 when
any run failed or reported ``correct: false``.
"""

from __future__ import annotations

import argparse
import io
import json
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent
RUN_TIMEOUT_S = 900


def export(ref: str, dest: Path) -> str:
    """Unpack ``ref``'s tree into ``dest``; return its full commit id."""
    sha = subprocess.run(
        ["git", "rev-parse", "--verify", f"{ref}^{{commit}}"],
        cwd=ROOT, check=True, capture_output=True, text=True,
    ).stdout.strip()
    tar = subprocess.run(
        ["git", "archive", "--format=tar", sha],
        cwd=ROOT, check=True, capture_output=True,
    ).stdout
    dest.mkdir(parents=True)
    with tarfile.open(fileobj=io.BytesIO(tar)) as tf:
        tf.extractall(dest, filter="data")
    return sha


def run_once(tree: Path, workload: str, seed: int, seconds: float) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True,
                          timeout=RUN_TIMEOUT_S)
    out = {"exit": proc.returncode, "process_s": time.perf_counter() - t0}
    try:
        out.update(json.loads(proc.stdout.strip().splitlines()[-1]))
    except (IndexError, ValueError):
        out["stderr_tail"] = proc.stderr[-2000:]
    return out


def ok(result: dict) -> bool:
    return result["exit"] == 0 and result.get("correct") is True


def summarize(rows: list[dict], metrics: list[dict]) -> dict:
    out = {}
    for m in metrics:
        name = m["name"]
        pairs = [
            (r["base"]["metrics"][name]["value"], r["change"]["metrics"][name]["value"])
            for r in rows
            if ok(r["base"]) and ok(r["change"])
        ]
        if len(pairs) < 2:
            out[name] = {"pairs": len(pairs)}
            continue
        base = [b for b, _ in pairs]
        change = [c for _, c in pairs]
        q1, med, q3 = statistics.quantiles(base, n=4)
        lower = m["better"] == "lower"
        out[name] = {
            "pairs": len(pairs),
            "base_median": statistics.median(base),
            "change_median": statistics.median(change),
            "base_q1": q1,
            "base_q3": q3,
            "base_iqr": q3 - q1,
            "change_over_base": statistics.median(change) / statistics.median(base),
            "bound": m.get("bound"),
            "change_wins": sum((c < b) if lower else (c > b) for b, c in pairs),
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="git revision of the parent side")
    ap.add_argument("--change", required=True, help="git revision of the changed side")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--tag", required=True, help="output file is AB_<tag>.json")
    ap.add_argument("--workdir", default=None,
                    help="where the exports go (removed afterwards)")
    args = ap.parse_args()

    work = Path(args.workdir or tempfile.mkdtemp(prefix="ab_pairs-"))
    trees = {"base": work / "base", "change": work / "change"}
    try:
        shas = {side: export(getattr(args, side), tree) for side, tree in trees.items()}
        spec = json.loads((trees["base"] / "BENCHMARK.json").read_text(encoding="utf-8"))
        report = {"base": shas["base"], "change": shas["change"],
                  "seconds": args.seconds, "workloads": {}}
        all_ok = True
        for workload in args.workload:
            rows = []
            for i, seed in enumerate(args.seeds):
                order = ("base", "change") if i % 2 == 0 else ("change", "base")
                row = {"seed": seed, "first": order[0]}
                for side in order:
                    row[side] = run_once(trees[side], workload, seed, args.seconds)
                    all_ok &= ok(row[side])
                rows.append(row)
                brief = {
                    side: {k: round(v["value"], 2) for k, v in row[side].get("metrics", {}).items()}
                    for side in ("base", "change")
                }
                print(f"[ab] {workload} seed {seed} ({order[0]} first): {json.dumps(brief)}",
                      file=sys.stderr, flush=True)
            report["workloads"][workload] = {
                "pairs": rows,
                "summary": summarize(rows, spec["end_to_end"]),
            }
        out = ROOT / f"AB_{args.tag}.json"
        out.write_text(json.dumps(report, indent=1, ensure_ascii=False) + "\n", encoding="utf-8")
        print(f"[ab] wrote {out}", file=sys.stderr)
        return 0 if all_ok else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
