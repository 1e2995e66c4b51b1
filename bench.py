"""Benchmark harness: runs EVERY registered gate query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": headline_sec, "unit": "sec",
 "queries": {name: sec}, "sf": ..., "n": trials, "trials": [...],
 "value_full": full_suite_sec, "trials_full": [...]}.

"value" stays the HEADLINE subset total (the 25-query suite the recorded
BASELINE.md band was measured on, with the round-3 gate merges mapped to
their nearest equivalents — see HEADLINE) so round-over-round and
vs-baseline comparisons stay apples-to-apples; "value_full" is the whole
50-gate registry, so every operator has a recorded timing and regression
visibility.

Each query is materialized with the noop sink (full execution, no driver
collect overhead) after a JVM/session warmup pass.  The suite runs
$SPARK_GRAFT_BENCH_TRIALS times (default 3) in one session; reported
numbers are per-query and total MEDIANS with the raw trial totals
alongside — a distribution, not a single sample.

Per-gate regression tracking: BENCH_BASELINE.json freezes each gate's
recorded per-query median (suite composition changes round to round, so
suite-total comparisons stop meaning anything — per-gate ratios stay
attributable).  The output carries "vs_baseline" (gate -> median /
frozen baseline; null for gates added after the freeze, at a different
sf, or at a different cpu count) and "regressions" (gates over
2x) so a slowdown names its query instead of hiding in the total.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from jobcan_data_integrator_spark import gate as _gate  # noqa: E402
from jobcan_data_integrator_spark.session import get_spark, load_table  # noqa: E402

#: the baseline-comparable subset.  Round-3 renames vs the BASELINE.md
#: band: dd_lsh_candidate_pairs -> dd_lsh_verified_pairs (now also
#: computes the exact-Jaccard verify: strictly MORE work),
#: tx_doc_fingerprint -> tx_token_fingerprint (adds the regex token
#: count: slightly more work), sim_ann_lsh_topk now runs single AND
#: multi-probe (more work).  The subset is therefore a conservative
#: comparison — it can only overstate our time vs the recorded band.
HEADLINE = [
    "q1_pricing_summary",
    "j3_top_revenue_orders",
    "j5_nation_revenue",
    "j8_self_join_disjunct",
    "a1_pivot_event_values",
    "a2_ordered_concat_history",
    "a4_first_event_per_user",
    "a6_json_reconstruct_user_events",
    "w_sessionize_events",
    "w_tumbling_window_counts",
    "dd_exact_dedup",
    "dd_minhash_signatures",
    "dd_lsh_verified_pairs",
    "dd_simhash",
    "dd_simhash_pairs",
    "dd_ngram_jaccard_pairs",
    "dd_embedding_cosine_pairs",
    "sim_cosine_topk",
    "sim_ann_lsh_topk",
    "sim_ann_ivf_topk",
    "sim_ivf_train_kmeans",
    "tx_lang_id",
    "tx_quality_score",
    "tx_token_fingerprint",
    "mm_binary_metadata",
]


def _median(vals: list[float]) -> float:
    s = sorted(vals)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def main() -> None:
    # no options: the environment variables above configure the run;
    # parsing first makes --help and unknown flags exit before Spark starts
    argparse.ArgumentParser(
        description=__doc__.split("\n\n")[0],
        formatter_class=argparse.RawDescriptionHelpFormatter,
    ).parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_trials = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "3")))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("jdi-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warmup: touch every table and run the flagship once (JVM/codegen warm).
    for t in ("lineitem", "orders", "customer", "events", "documents", "embeddings"):
        load_table(spark, sf_dir, t).count()
    queries = _gate.queries()
    suite = list(queries)  # every registered gate, registry order
    missing = [n for n in HEADLINE if n not in queries]
    assert not missing, f"HEADLINE names not in registry: {missing}"
    queries["q1_pricing_summary"](spark, sf_dir).write.mode("overwrite").format("noop").save()

    per_query: dict[str, list[float]] = {name: [] for name in suite}
    headline_totals: list[float] = []
    full_totals: list[float] = []
    for _trial in range(n_trials):
        for name in suite:
            fn = queries[name]
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            per_query[name].append(time.perf_counter() - t0)
        headline_totals.append(
            round(sum(per_query[n][-1] for n in HEADLINE), 3)
        )
        full_totals.append(round(sum(per_query[n][-1] for n in suite), 3))
        # gate queries cache() intermediates (banding/bucketing tables
        # that would be persisted-at-ingest in a warehouse); Spark's
        # cache manager matches by logical plan, so WITHIN a trial later
        # gates reuse them (the ingest-once semantics the recorded
        # BASELINE band was measured under), and clearing BETWEEN trials
        # makes each trial pay the full pipeline once
        spark.catalog.clearCache()

    timings = {name: round(_median(ts), 3) for name, ts in per_query.items()}

    vs_baseline: dict[str, float | None] = {}
    regressions: list[str] = []
    baseline_path = Path(_REPO) / "BENCH_BASELINE.json"
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    if baseline_path.exists():
        baseline = json.loads(baseline_path.read_text())
        meta = baseline.get("_meta", {})
        comparable = (
            str(meta.get("sf")) == sf and str(meta.get("cpus")) == (cpus or "32")
        )
        for name in suite:
            base = baseline["queries"].get(name) if comparable else None
            if base:
                ratio = round(timings[name] / base, 2)
                vs_baseline[name] = ratio
                # ratio alone false-flags sub-second gates (host jitter
                # is ±0.3s here; measured A/B/A against the frozen
                # commit) — require a real absolute delta too
                if ratio > 2.0 and timings[name] - base > 0.5:
                    regressions.append(name)
            else:
                vs_baseline[name] = None

    # The stdout line must stay COMPACT: the driver captures a bounded
    # stdout tail, and round 4's line (prose metric + 50-gate
    # vs_baseline map) grew past it, leaving an unparseable artifact.
    # Everything beyond the contract keys goes to BENCH_FULL.json.
    compact = {
        "metric": f"headline-{len(HEADLINE)} suite wall-clock, "
        f"median of {n_trials}",
        "value": round(_median(headline_totals), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n": n_trials,
        "trials": sorted(headline_totals),
        "value_full": round(_median(full_totals), 3),
        "regressions": sorted(regressions),
        "full": "BENCH_FULL.json",
    }
    full = dict(
        compact,
        metric=f"headline-suite wall-clock ({len(HEADLINE)} queries: "
        "TPC-H-ish analytics, pivots/windows/JSON-reconstruct, "
        "minhash-LSH + simhash + jaccard + embedding dedup, cosine "
        "top-k + LSH/IVF ANN + k-means codebook training, text "
        "analysis, multimodal mapInPandas; median of "
        f"{n_trials} trials; value_full = all {len(suite)} "
        "registry gates)",
        trials_full=sorted(full_totals),
        vs_baseline=vs_baseline,
    )
    (Path(_REPO) / "BENCH_FULL.json").write_text(json.dumps(full, indent=1))
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
