"""10x scale smoke: synthesize sf1 from sf0.1 and run the HEADLINE suite.

Converts the "would this survive a 100x scale-up" plan arguments
(bucketed/banded candidate generation, broadcast thresholds, conditional
repartition, no single-partition windows) into a measured data point:
every HEADLINE query at 10x the bench corpus, compared per-query against
an sf0.1 run from the SAME session, flagging anything scaling worse than
SCALE_BUDGET x (linear would be ~10x on the data-bound gates; many gates
are dominated by fixed join/setup cost at this size and scale ~1x).

Synthesis = 10 replicas of every sf0.1 table with consistent key offsets
so FK joins keep their selectivity:

- all entity/fact keys shift by replica*(max_key+1): orderkey, custkey,
  partkey, suppkey, event_id, user_id, doc_id, vec_id;
- region/nation stay fixed (real dimension tables don't grow with the
  fact data; nationkey references remain valid);
- document TEXT gets every token suffixed with the replica id (replica 0
  keeps the original), so the dedup/similarity gates see 10x the
  near-dup GROUPS instead of 10-way cross-replica duplicate cliques —
  cliques would grow candidate pairs quadratically in the replica count,
  which is a different (adversarial-corpus) experiment than scale-up;
- embeddings get a small deterministic per-replica component jitter for
  the same reason (identical vectors would pile into identical LSH
  buckets and square the candidate volume).

Also runs a HOT-KEY SKEW experiment: a same-volume variant of sf0.1
where one user owns 50% of all events, isolating skew cost from scale
cost for the collect_list-bound a6 reconstruct (the 10x smoke's most
data-bound gate).

Usage: python scale_smoke.py [out_dir]  (default /tmp/spark_graft_sf1;
reuses the synthesized tables if already present).  Prints one JSON line
per suite (sf0.1 reference, sf1) plus a per-query ratio table.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import functions as F  # noqa: E402

from bench import HEADLINE  # noqa: E402
from jobcan_data_integrator_spark import gate as _gate  # noqa: E402
from jobcan_data_integrator_spark.session import (  # noqa: E402
    TESTDATA_TABLES,
    get_spark,
    load_table,
)

SRC_SF = "/root/testdata/sf0.1"
N_REPLICAS = 10
#: flag queries scaling worse than this many x (10x data; linear = ~10x,
#: most gates are partly fixed-cost so typical ratios are well under)
SCALE_BUDGET = 10.0

#: per-table integer key columns to shift per replica (col -> offset key)
_KEY_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
#: key-space sizes are shared across tables referencing the same entity
_KEY_OF = {
    "c_custkey": "custkey",
    "s_suppkey": "suppkey",
    "p_partkey": "partkey",
    "o_orderkey": "orderkey",
    "o_custkey": "custkey",
    "l_orderkey": "orderkey",
    "l_partkey": "partkey",
    "l_suppkey": "suppkey",
    "event_id": "event_id",
    "user_id": "user_id",
    "doc_id": "doc_id",
    "vec_id": "vec_id",
}


def synthesize(spark, out_dir: Path) -> None:
    spans: dict[str, int] = {}
    for table, cols in _KEY_COLS.items():
        df = load_table(spark, SRC_SF, table)
        for c in cols:
            k = _KEY_OF[c]
            hi = df.agg(F.max(c)).collect()[0][0]
            spans[k] = max(spans.get(k, 0), int(hi) + 1)

    for table in TESTDATA_TABLES:
        df = load_table(spark, SRC_SF, table)
        if table in ("region", "nation"):
            out = df  # fixed dimensions
        else:
            replicas = []
            for r in range(N_REPLICAS):
                rep = df
                for c in _KEY_COLS.get(table, []):
                    rep = rep.withColumn(c, F.col(c) + F.lit(r * spans[_KEY_OF[c]]))
                if r > 0 and table == "documents":
                    rep = rep.withColumn(
                        "text",
                        F.expr(
                            "concat_ws(' ', transform(split(text, ' '),"
                            f" t -> concat(t, '_{r}')))"
                        ),
                    )
                if r > 0 and table == "embeddings":
                    rep = rep.withColumn(
                        "embedding",
                        F.expr(
                            "transform(embedding, (x, i) -> cast(x +"
                            f" (pmod(xxhash64(vec_id * 64 + i + {r}), 997)"
                            " / 99700.0 - 0.005) as float))"
                        ),
                    )
                replicas.append(rep)
            out = replicas[0]
            for rep in replicas[1:]:
                out = out.unionByName(rep)
        # several output files => several scan splits downstream, like a
        # real table (and _docs' conditional repartition stays a no-op
        # only when the scan is already parallel enough)
        n_parts = 16 if table not in ("region", "nation") else 1
        out.repartition(n_parts).write.mode("overwrite").parquet(
            str(out_dir / f"{table}.parquet")
        )


#: a6's collect_list is the one data-bound aggregation whose cost
#: concentrates on a hot key; flag if the same-volume skewed corpus runs
#: worse than this many x the uniform one (a skew-tolerant plan is ~1x,
#: the single hot reducer building a half-corpus array costs some).
SKEW_BUDGET = 5.0

#: the gate whose hot-key behavior the skew experiment measures
SKEW_GATE = "a6_json_reconstruct_user_events"


def synthesize_skew(spark, skew_dir: Path) -> None:
    """Same tables and VOLUME as sf0.1, but one user owns ~50% of events
    (every even event_id reassigned to the minimum user) — isolates
    hot-key cost from scale-up cost.  Non-event tables are symlinked."""
    ev = load_table(spark, SRC_SF, "events")
    hot = ev.agg(F.min("user_id")).collect()[0][0]
    skewed = ev.withColumn(
        "user_id",
        F.when(F.pmod(F.col("event_id"), F.lit(2)) == 0, F.lit(hot)).otherwise(
            F.col("user_id")
        ),
    )
    skew_dir.mkdir(parents=True, exist_ok=True)
    skewed.repartition(16).write.mode("overwrite").parquet(
        str(skew_dir / "events.parquet")
    )
    for table in TESTDATA_TABLES:
        if table == "events":
            continue
        link = skew_dir / f"{table}.parquet"
        if not link.exists():
            os.symlink(f"{SRC_SF}/{table}.parquet", link)


#: incremental-dedup probe: a FIXED increment against a 10x index must
#: cost ~flat, not 10x — that is the whole point of the persisted index
#: + bucket pruning.  Budget is loose (4x): the corpus-side equi-join
#: touches 10x-bigger matching buckets at this small increment size,
#: the 640-bucket probe pays ~640-task scheduling overhead per stage,
#: and repeated full-smoke runs of IDENTICAL code measured 2.25, 2.26,
#: and 3.32 (isolated re-run of the 3.32 session's stores: 1.45) — the
#: in-session spread is host/JVM-state noise, so the budget must sit
#: above it to flag only real regressions.
INC_BUDGET = 4.0


def incremental_experiment(spark, sf_dir: str, n_buckets: int, workdir: Path) -> float:
    """Median seconds to dedup a FIXED ~20-doc increment against a
    bucket-pruned MinHash index of ``sf_dir``'s corpus (doc_id % 10 < 8).

    ``n_buckets`` scales with the corpus (the documented knob: hold
    bucket SIZE roughly constant), so the increment's band keys prune to
    a corpus-independent byte volume.  The increment is doc_id < 100 of
    the held-out 20% — replica 0 of the synthesized sf1 keeps original
    ids, so the exact same documents probe both indexes.
    """
    from jobcan_data_integrator_spark.gate._common import _H, _shingle_rows
    from jobcan_data_integrator_spark.operators.incremental import (
        build_minhash_index,
        dedup_increment,
        minhash_index_buckets,
    )
    from jobcan_data_integrator_spark.storage import TableStore

    hashed = _shingle_rows(spark, sf_dir).select(
        "doc_id", F.expr(_H.format(x="shingle")).alias("shingle")
    )
    store = TableStore(
        spark, workdir, write_partitions=1,
        bucketed=minhash_index_buckets(n_buckets),
    )
    build_minhash_index(store, hashed.filter(F.col("doc_id") % 10 < 8))
    inc = hashed.filter((F.col("doc_id") % 10 >= 8) & (F.col("doc_id") < 100))
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        dedup_increment(store, inc).write.mode("overwrite").format("noop").save()
        times.append(time.perf_counter() - t0)
        spark.catalog.clearCache()
    return round(sorted(times)[1], 3)


#: layered-store probe budget: dedup_increment over a 3-layer
#: snapshot-isolated index should cost at most ~2x the single-dir
#: plain-store probe (the layer union adds per-layer listing + a few
#: small reads, not data volume)
LAYER_BUDGET = 2.0


def layered_experiment(spark, sf_dir: str, n_buckets: int, workdir: Path) -> float:
    """Median seconds for the SAME fixed increment probe as
    ``incremental_experiment``, but against a snapshot-isolated LAYERED
    index: base build (60% of the corpus) + two absorbed extends (the
    remaining 8%-slices), leaving a 3-layer stack on every bucketed
    table and a range-banded pair table — the deployment shape where
    readers probe behind the manifest pointer while increments land."""
    from jobcan_data_integrator_spark.gate._common import _H, _shingle_rows
    from jobcan_data_integrator_spark.operators.incremental import (
        build_minhash_index,
        dedup_increment,
        extend_index,
        index_layout,
        minhash_index_buckets,
        minhash_pair_bands,
    )
    from jobcan_data_integrator_spark.storage import TableStore

    hashed = _shingle_rows(spark, sf_dir).select(
        "doc_id", F.expr(_H.format(x="shingle")).alias("shingle")
    )
    store = TableStore(
        spark, workdir, write_partitions=1,
        snapshot_isolation=True,
        **index_layout(minhash_index_buckets(n_buckets), minhash_pair_bands(1 << 10)),
    )
    build_minhash_index(store, hashed.filter(F.col("doc_id") % 10 < 6))
    for m in (6, 7):
        sl = hashed.filter(F.col("doc_id") % 10 == m)
        extend_index(store, sl, dedup_increment(store, sl))
    inc = hashed.filter((F.col("doc_id") % 10 >= 8) & (F.col("doc_id") < 100))
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        dedup_increment(store, inc).write.mode("overwrite").format("noop").save()
        times.append(time.perf_counter() - t0)
        spark.catalog.clearCache()
    return round(sorted(times)[1], 3)


#: orchestrated-ingest probe: a FIXED ~20-doc batch through
#: ``ingest_increment`` (exact + span + MinHash families, curated
#: merge, ledger) against a store seeded with the 10x corpus must cost
#: ~flat vs the sf0.1-seeded store — the orchestrator's whole claim is
#: per-batch cost linear in the INCREMENT.  Budget mirrors the
#: dedup-increment probe (the corpus-side bucket reads grow 10x while
#: staying tiny at this increment size).
INGEST_BUDGET = 3.0


def ingest_experiment(spark, sf_dir: str, n_buckets: int, workdir: Path) -> float:
    """Median seconds for one fixed ~20-doc ``ingest_increment`` batch
    (span=8, minhash on) against a store seeded with ``sf_dir``'s whole
    document corpus via one base ingest call.

    The probe batch is the SAME 20 source documents (sf0.1 doc_id < 20)
    in both runs, re-keyed above the seeded corpus's absorbed high-water
    mark, so this is the in-order case: the repairing path runs, but no
    repair fires.  Three sequential probe batches (each carries fresh
    ids under a fresh batch_id — a replayed batch_id short-circuits by
    design), median taken; each probe's cost
    includes extending every family, i.e. the real steady-state
    per-batch cost.  Bucket count scales with the corpus like the
    dedup probe (bucket SIZE held constant)."""
    from jobcan_data_integrator_spark.operators.incremental import (
        exact_index_buckets,
        index_layout,
        minhash_index_buckets,
        minhash_pair_bands,
        span_index_buckets,
    )
    from jobcan_data_integrator_spark.operators.ingest import ingest_increment
    from jobcan_data_integrator_spark.storage import TableStore

    buckets = (
        minhash_index_buckets(n_buckets)
        | exact_index_buckets(n_buckets)
        | span_index_buckets(n_buckets)
    )
    shutil.rmtree(workdir, ignore_errors=True)
    store = TableStore(
        spark, workdir, write_partitions=1,
        **index_layout(buckets, minhash_pair_bands(1 << 20)),
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hi = int(docs.agg(F.max("doc_id")).collect()[0][0])
    ingest_increment(store, docs, "base", span=8, minhash=True)
    probe_src = (
        load_table(spark, SRC_SF, "documents")
        .filter(F.col("doc_id") < 20)
        .select("doc_id", "text")
        .localCheckpoint(eager=True)
    )
    times = []
    for i in range(3):
        batch = probe_src.select(
            (F.col("doc_id") + F.lit(hi + 1 + i * 100)).alias("doc_id"),
            "text",
        )
        t0 = time.perf_counter()
        ingest_increment(store, batch, f"probe-{i}", span=8, minhash=True)
        times.append(time.perf_counter() - t0)
        spark.catalog.clearCache()
    return round(sorted(times)[1], 3)


#: out-of-order ingest probe: a FIXED ~20-doc LATE batch (ids
#: interleaved below the absorbed high-water mark, so the whole repair
#: machinery — keeper re-election, retro span rebuilds, MinHash
#: retraction + re-sign, relabel, sweep — runs) against the 10x-seeded
#: store must cost ~flat vs the sf0.1-seeded store: repairs are bounded
#: by the increment's interactions, not the corpus.
INGEST_OOO_BUDGET = 3.0


def ingest_ooo_experiment(
    spark, sf_dir: str, n_buckets: int, workdir: Path
) -> tuple[float, dict]:
    """Median seconds for one fixed ~20-doc OUT-OF-ORDER batch through
    ``ingest_increment`` against a store seeded with the rest of
    ``sf_dir``'s corpus.

    The corpus minus three id-combs (doc_id % 250 ∈ {13, 14, 15})
    seeds the store; each comb then arrives as a late batch capped at
    20 docs, its ids interleaved below the absorbed max everywhere —
    so exact demotions and retroactive span flags genuinely fire
    against the big store while batch size stays FIXED as the corpus
    grows 10x.  Median of the three batch times."""
    from jobcan_data_integrator_spark.operators.incremental import (
        cluster_label_buckets,
        exact_index_buckets,
        index_layout,
        minhash_index_buckets,
        minhash_pair_bands,
        span_index_buckets,
    )
    from jobcan_data_integrator_spark.operators.ingest import ingest_increment
    from jobcan_data_integrator_spark.storage import TableStore

    # r9: snapshot store + bucketed cc_labels — the production shape,
    # and the config where per-batch label maintenance takes the DELTA
    # path (scoped upsert) instead of a corpus-sized overwrite; the
    # probe's ratio is comparable across rounds (the mode applies at
    # BOTH scales), absolute seconds shift with the publish overhead
    buckets = (
        minhash_index_buckets(n_buckets)
        | exact_index_buckets(n_buckets)
        | span_index_buckets(n_buckets)
        | cluster_label_buckets(n_buckets)
    )
    shutil.rmtree(workdir, ignore_errors=True)
    store = TableStore(
        spark, workdir, write_partitions=1, snapshot_isolation=True,
        **index_layout(buckets, minhash_pair_bands(1 << 20)),
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    held = F.pmod(F.col("doc_id"), F.lit(250)).isin(13, 14, 15)
    ingest_increment(store, docs.filter(~held), "base", span=8, minhash=True)
    # label-read instrumentation (round 10): per late batch, how is the
    # corpus-sized cc_labels table READ?  The delta path's endpoint /
    # new-node lookups must be bucket-pruned (counted via
    # _bucket_scoped_raw), leaving exactly one narrow full-table
    # construction per extend — _remapped_members' pushed-In remap scan.
    from jobcan_data_integrator_spark import storage as _st

    label_reads = {"pruned_reads": 0, "buckets_scanned": 0, "full_reads": 0}
    orig_bsr = _st.TableStore._bucket_scoped_raw
    orig_read = _st.TableStore.read

    def _bsr(self, table, buckets, n):
        if table == "cc_labels":
            label_reads["pruned_reads"] += 1
            label_reads["buckets_scanned"] += len(buckets)
        return orig_bsr(self, table, buckets, n)

    def _read(self, table, *a, **k):
        if table == "cc_labels":
            label_reads["full_reads"] += 1
        return orig_read(self, table, *a, **k)

    times = []
    _st.TableStore._bucket_scoped_raw = _bsr
    _st.TableStore.read = _read
    try:
        for i, residue in enumerate((13, 14, 15)):
            batch = (
                docs.filter(F.pmod(F.col("doc_id"), F.lit(250)) == residue)
                .limit(20)
                .localCheckpoint(eager=True)
            )
            t0 = time.perf_counter()
            ingest_increment(store, batch, f"late-{i}", span=8, minhash=True)
            times.append(time.perf_counter() - t0)
            spark.catalog.clearCache()
    finally:
        _st.TableStore._bucket_scoped_raw = orig_bsr
        _st.TableStore.read = orig_read
    stats = dict(
        label_reads,
        n_buckets=n_buckets,
        batches=3,
        note="cc_labels access during the 3 late batches: pruned_reads "
        "list only their buckets_scanned bucket dirs; full_reads are "
        "full-table DataFrame constructions (one per extend = the "
        "narrow pushed-In remap-members scan, plus ooo repair sweeps)",
    )
    return round(sorted(times)[1], 3), stats


#: targeted-deletion probe: a FIXED ~20-id ``retract_documents`` call
#: (ids spread through the corpus: exact keepers, span-run owners and
#: cluster keepers all fire) against the 10x-seeded store must cost
#: ~flat vs the sf0.1-seeded store — retraction work is bounded by the
#: retracted ids' interactions (mate promotion, flag retraction,
#: relabel), not the corpus.
RETRACT_BUDGET = 3.0

#: compaction-fold probe: after the retractions, ``compact_store``
#: folds every mask into the base tables.  With the partition-scoped
#: prune (TableStore.prune_keys) the rewrite is bounded by the masks'
#: bucket fan-out (bucket SIZE is held constant as the corpus grows),
#: so the fold at the 10x store must cost ~flat — the budget leaves
#: room for the column-pruned affected-partition scans, which do grow
#: with the corpus.
COMPACT_BUDGET = 2.5

#: rollback probe: undoing (and redoing) the compaction publish is a
#: driver-side manifest write — its cost must be corpus-size-
#: INDEPENDENT (no data copied).  Enforced as an ABSOLUTE cap at the
#: 10x store: both measurements are single-digit milliseconds (first
#: run: 3 ms -> 7 ms), so a ratio of two sub-10 ms driver timings is
#: measurement noise — while any corpus-size-DEPENDENT regression
#: (a data copy sneaking into the path) would cost seconds at the 10x
#: store and trip this cap by orders of magnitude.
ROLLBACK_ABS_BUDGET_SEC = 0.5


def retract_experiment(
    spark, sf_dir: str, n_buckets: int, workdir: Path
) -> tuple[float, float, float]:
    """Median seconds for one fixed ~20-id ``retract_documents`` call
    against a store seeded with ``sf_dir``'s whole corpus in repair
    (out-of-order) mode.  Three sequential ~20-id combs (doc_id % 250
    ∈ {13, 14, 15}) are retracted one call each, median taken; each
    call pays the full cross-family deletion (exact re-election, span
    flag retraction + text regrowth, MinHash retirement + relabel +
    resurrection, curated/pre/chunk deletion, ledger).  Bucket count
    scales with the corpus like the ingest probes (bucket SIZE held
    constant); the curated tables are bucketed too, so the physical
    deletes take the partition-scoped prune path.

    Returns ``(retract_median_sec, compact_sec, rollback_sec)`` — the
    second number times ``compact_store`` folding all three
    retractions' masks after the loop (the bucket-scoped fold probe);
    the third times ``rollback`` undoing + redoing the compaction
    publish (two manifest pointer writes averaged — the O(1)-in-corpus-
    size claim, measured)."""
    from jobcan_data_integrator_spark.operators.incremental import (
        cluster_label_buckets,
        exact_index_buckets,
        index_layout,
        minhash_index_buckets,
        minhash_pair_bands,
        span_index_buckets,
    )
    from jobcan_data_integrator_spark.operators.ingest import (
        compact_store,
        ingest_increment,
        retract_documents,
    )
    from jobcan_data_integrator_spark.storage import TableStore

    buckets = (
        minhash_index_buckets(n_buckets)
        | exact_index_buckets(n_buckets)
        | span_index_buckets(n_buckets)
        | cluster_label_buckets(n_buckets)
        | {
            "cur_docs": ("doc_id", n_buckets),
            "cur_pre": ("doc_id", n_buckets),
        }
    )
    shutil.rmtree(workdir, ignore_errors=True)
    store = TableStore(
        spark, workdir, write_partitions=1, snapshot_isolation=True,
        **index_layout(buckets, minhash_pair_bands(1 << 20)),
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ingest_increment(store, docs, "base", span=8, minhash=True)
    times = []
    for i, residue in enumerate((13, 14, 15)):
        ids = (
            docs.filter(F.pmod(F.col("doc_id"), F.lit(250)) == residue)
            .select("doc_id")
            .limit(20)
            .localCheckpoint(eager=True)
        )
        t0 = time.perf_counter()
        retract_documents(
            store, ids, f"rt-{i}", span=8, minhash=True,
            auto_compact_bytes=None,
        )
        times.append(time.perf_counter() - t0)
        spark.catalog.clearCache()
    t0 = time.perf_counter()
    compact_store(store)
    compact_sec = round(time.perf_counter() - t0, 3)
    # time-travel probe: undo the compaction publish (one retained
    # version back), then roll forward to it again — two driver-side
    # manifest writes; the store ends in the compacted state
    cur = store.current_snapshot()["version"]
    t0 = time.perf_counter()
    store.rollback(cur - 1)
    store.rollback(cur)
    rollback_sec = round((time.perf_counter() - t0) / 2, 4)
    return round(sorted(times)[1], 3), compact_sec, rollback_sec


#: BM25 query probe: a FIXED 20-query ``bm25_query_indexed`` batch
#: against the 10x-seeded inverted index.  Query cost is bounded by the
#: query terms' POSTING LISTS — and the synthetic corpus's tiny
#: vocabulary makes every term a near-stop-term (each posting list is
#: ~corpus/31 rows), so this probe is deliberately data-bound: the
#: honest budget is the linear bound, not flat.  At real scale the
#: max_df_ratio stop-term cap is the lever that bounds this; the probe
#: measures the UNCAPPED worst case.
BM25_QUERY_BUDGET = 10.0

#: ...and a FIXED ~20-doc ``extend_bm25_index`` against the 10x index
#: must be ~flat (the insert-missing anti-join probe is bucket-pruned
#: by the batch's doc ids) — mirrors the ingest probes' budget.
BM25_EXTEND_BUDGET = 3.0


def bm25_experiment(
    spark, sf_dir: str, n_buckets: int, workdir: Path
) -> tuple[float, float]:
    """(query_median_sec, extend_sec) for the persisted BM25 family
    over ``sf_dir``'s documents on a term/doc-bucketed store: build the
    index once, run a fixed 20-query top-10 search 3x (median), then
    one fixed ~20-doc extend."""
    from jobcan_data_integrator_spark.operators.incremental import (
        index_layout,
    )
    from jobcan_data_integrator_spark.operators.retrieval import (
        bm25_index_buckets,
        bm25_query_indexed,
        extend_bm25_index,
    )
    from jobcan_data_integrator_spark.storage import TableStore

    shutil.rmtree(workdir, ignore_errors=True)
    store = TableStore(
        spark, workdir, write_partitions=1, snapshot_isolation=True,
        **index_layout(bm25_index_buckets(n_buckets)),
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    with store.commit_bracket("bm25-build"):
        extend_bm25_index(store, docs)
    queries = (
        docs.filter(F.pmod(F.col("doc_id"), F.lit(250)) == 11)
        .limit(20)
        .select(
            F.col("doc_id").alias("q_id"),
            F.expr(
                "array_join(slice(split(lower(text), '\\\\s+'), 1, 4), ' ')"
            ).alias("q_text"),
        )
        .localCheckpoint(eager=True)
    )
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        bm25_query_indexed(store, queries).write.mode("overwrite").format(
            "noop"
        ).save()
        times.append(time.perf_counter() - t0)
        spark.catalog.clearCache()
    hi = docs.agg(F.max("doc_id")).first()[0]
    late = docs.limit(20).select(
        (F.col("doc_id") + F.lit(hi) + 1).alias("doc_id"), "text"
    ).localCheckpoint(eager=True)
    with store.commit_bracket("bm25-extend"):
        t0 = time.perf_counter()
        extend_bm25_index(store, late)
        ext_sec = round(time.perf_counter() - t0, 3)
    return round(sorted(times)[1], 3), ext_sec


#: BPE batched-training smoke: learn a production-ish merge count with
#: batch=32 and assert the round count tracks ~n_merges/32, not
#: n_merges — the difference between minutes and hours of scheduler
#: overhead at 32k-64k vocab.  Incompatible-pair starvation can shorten
#: a round's batch, so the bound carries slack: rounds must stay under
#: 2x the ideal ceil(learned/32).
BPE_BATCH = 32
BPE_MERGES = 1000
BPE_ROUND_SLACK = 2.0


#: codebook refresh: retrain IVF + PQ over the live vectors and rebuild
#: assignments/codes — corpus-linear BY DESIGN (one train pass + one
#: assign/encode pass; the k-means shuffle is fixed-group), so the
#: honest budget for 10x vectors is the linear bound.  This is the
#: amortized maintenance op (run on drift, never per batch); the probe
#: pins that nothing super-linear hides in the rebuild.
REFRESH_BUDGET = 10.0


def refresh_experiment(spark, sf_dir: str, workdir: Path) -> float:
    """Seconds for ``refresh_embedding_codebooks`` over ``sf_dir``'s
    embeddings, IVF + PQ families built at the same scale first (build
    time excluded — the probe times the refresh alone)."""
    from jobcan_data_integrator_spark.operators.incremental import (
        build_ivf_index,
        build_pq_index,
        refresh_embedding_codebooks,
    )
    from jobcan_data_integrator_spark.storage import TableStore

    shutil.rmtree(workdir, ignore_errors=True)
    store = TableStore(
        spark, workdir, write_partitions=1, snapshot_isolation=True
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    build_ivf_index(store, emb)
    build_pq_index(store, emb)
    t0 = time.perf_counter()
    refresh_embedding_codebooks(store)
    return round(time.perf_counter() - t0, 3)


def bpe_experiment(spark, sf_dir: str, merges: int = BPE_MERGES) -> dict:
    """Train BPE (batch=32, up to ``merges`` merges) on ``sf_dir``'s
    document corpus re-tokenized as hyphenated BIGRAM words; returns
    learned merge count, count-round jobs, wall seconds, and the ideal
    round count.  Called at 1k/2k/4k to pin the rounds-per-merge slope
    the 32k-vocab claim extrapolates (three points, not one).

    The bigram re-tokenization is the width knob: the raw synthetic
    vocabulary (31 distinct words) exhausts after ~113 merges with its
    top pairs all sharing symbols — the inherently-sequential ENDGAME
    of BPE, not the regime the ~n/batch claim is about.  Bigram words
    (~1k distinct, ~10 chars) give the abundant-pair-mass head that a
    production 32k-merge corpus has, where compatible_merges packs full
    batches (a pure-Python replica of the batched rule reaches 1000
    merges in ~35 rounds on this table vs the ideal 32)."""
    from jobcan_data_integrator_spark.operators.bpe import train_bpe

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "array_join(filter(zip_with(split(text, ' '),"
            " slice(split(text, ' '), 2, size(split(text, ' '))),"
            " (x, y) -> case when y is null then null"
            "           else concat(x, '-', y) end),"
            " p -> p is not null), ' ')"
        ).alias("text"),
    )
    stats: dict = {}
    t0 = time.perf_counter()
    learned = train_bpe(docs, merges, batch=BPE_BATCH, stats=stats)
    sec = round(time.perf_counter() - t0, 3)
    ideal = -(-len(learned) // BPE_BATCH)  # ceil
    return {
        "op": "train_bpe",
        "batch": BPE_BATCH,
        "requested_merges": merges,
        "learned_merges": len(learned),
        "rounds": stats["rounds"],
        "ideal_rounds": ideal,
        "round_slack": BPE_ROUND_SLACK,
        "sec": sec,
        "note": "batched compatible merges; rounds must stay under "
        "slack x ceil(learned/batch) — the ~n/batch asymptotic "
        "operators/bpe.py claims",
    }


#: as-of join 10x budget: one hash shuffle + keyed sort, so 10x events
#: should cost ~linear; flag beyond this
TEMPORAL_BUDGET = 10.0

#: as-of join under a HOT KEY (one user owns ~50% of events): the
#: union+keyed-window plan serializes that key's whole history into one
#: task's sort, so the skewed run is expected to cost MORE than the
#: uniform same-volume run — but a bounded constant (one task sorting
#: ~N/2 rows vs 32 tasks sorting N/32 each), not a blow-up.  Past this
#: budget the salted carry-forward variant becomes mandatory.
ASOF_SKEW_BUDGET = 4.0

#: the SALTED as-of variant on the same skewed corpus: banding adds a
#: bounded constant (union + per-band carry-forward) over the uniform
#: plain run — r6 measured 3.0x.  Enforced since r8 (the r7 smoke
#: recorded 4.65x on a pytest-contended host but never checked it).
ASOF_SALTED_BUDGET = 4.0


def temporal_experiment(spark, sf_dir: str, salted: bool = False) -> float:
    """Median-of-3 as-of join over the events table: every error event
    picks up its most recent prior signup (operators/temporal.py) —
    the union+window formulation whose cost should track the event
    volume linearly.  ``salted=True`` runs the hot-key variant
    (asof_join_salted, daily time bands) instead — the plan whose task
    size is bounded by events-per-band, not key popularity."""
    import functools

    from pyspark.sql import functions as F

    from jobcan_data_integrator_spark.operators.temporal import (
        asof_join,
        asof_join_salted,
    )

    join = (
        functools.partial(asof_join_salted, band_seconds=86400)
        if salted
        else asof_join
    )

    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("event_id").alias("signup_event")
    )
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        join(errors, signups, key="user_id").write.mode(
            "overwrite"
        ).format("noop").save()
        times.append(time.perf_counter() - t0)
        spark.catalog.clearCache()
    return round(sorted(times)[1], 3)


#: SimHash candidate-volume skew budget: measured candidates/doc may
#: exceed the uniform-block model (n_blocks·n/2^block_bits per doc) by
#: the corpus's hot-block-value factor — measured 182-183x at BOTH
#: sf0.01 and sf0.1 on the synthetic corpus (templated docs vote the
#:  same bits), i.e. a scale-independent constant while growth stays
#: pure n².  Flag past 400x: the block-value distribution degenerated
#: beyond the documented skew, and candidate volume is no longer the
#: geometry formula's prediction — widen block_bits (the derived value
#: is emitted alongside) or the fingerprint.
SIMHASH_SKEW_BUDGET = 400.0


def simhash_experiment(spark, sf_dir: str) -> dict:
    """Measured SimHash candidate volume at the default 4x15-bit
    geometry: signatures -> block rows -> exact block-join candidate
    count WITHOUT materializing the join (sum of c·(c-1)/2 over
    (b, block_val) group sizes — the equi-join's row count by
    definition).  Emits candidates/doc, the uniform-model prediction,
    their ratio (the hot-value skew factor, the budgeted quantity), and
    what ``derived_block_bits`` would pick for this corpus at the
    8-candidates/doc target — the simhash.py scaling rule made a
    measured, per-smoke artifact instead of a hand rule."""
    from jobcan_data_integrator_spark.operators import simhash as sh

    n_blocks, block_bits = 4, 15
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n = docs.count()
    sig = sh.simhash_signatures(docs).localCheckpoint(eager=True)
    cand = (
        sh.block_rows(sig, n_blocks, block_bits)
        .groupBy("b", "block_val")
        .count()
        .agg(F.sum(F.expr("count * (count - 1) / 2")))
        .first()[0]
        or 0.0
    )
    model = n_blocks * n * n / 2.0 / (1 << block_bits)
    return {
        "op": "simhash_candidates",
        "n_docs": n,
        "n_blocks": n_blocks,
        "block_bits": block_bits,
        "candidates": int(cand),
        "per_doc": round(cand / n, 2) if n else 0.0,
        "model_per_doc": round(model / n, 3) if n else 0.0,
        "skew_factor": round(cand / model, 1) if model else 0.0,
        "skew_budget": SIMHASH_SKEW_BUDGET,
        "derived_block_bits": sh.derived_block_bits(n, n_blocks=n_blocks),
        "saturated": sh.simhash_geometry_saturated(n, n_blocks=n_blocks),
    }


def run_suite(spark, sf_dir: str) -> dict[str, float]:
    queries = _gate.queries()
    out: dict[str, float] = {}
    for name in HEADLINE:
        t0 = time.perf_counter()
        queries[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        out[name] = round(time.perf_counter() - t0, 3)
    spark.catalog.clearCache()
    return out


def main() -> None:
    out_dir = Path(sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark_graft_sf1")
    spark = get_spark("jdi-scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")

    if not (out_dir / "lineitem.parquet").exists():
        out_dir.mkdir(parents=True, exist_ok=True)
        t0 = time.perf_counter()
        synthesize(spark, out_dir)
        print(f"# synthesized sf1 at {out_dir} in "
              f"{time.perf_counter() - t0:.1f}s", file=sys.stderr)

    # warmup + reference pass at sf0.1, then the sf1 pass, same session
    for t in ("lineitem", "orders", "customer", "events", "documents", "embeddings"):
        load_table(spark, SRC_SF, t).count()
    _gate.queries()["q1_pricing_summary"](spark, SRC_SF).write.mode(
        "overwrite"
    ).format("noop").save()
    base = run_suite(spark, SRC_SF)
    scaled = run_suite(spark, str(out_dir))

    # hot-key skew experiment: same volume, half the events on one user
    skew_dir = out_dir.parent / f"{out_dir.name}_skew"
    if not (skew_dir / "events.parquet").exists():
        synthesize_skew(spark, skew_dir)
    queries = _gate.queries()
    skew_times = []
    for _ in range(3):
        t0 = time.perf_counter()
        queries[SKEW_GATE](spark, str(skew_dir)).write.mode("overwrite").format(
            "noop"
        ).save()
        skew_times.append(time.perf_counter() - t0)
        spark.catalog.clearCache()
    skew_t = round(sorted(skew_times)[1], 3)
    skew_ratio = round(skew_t / base[SKEW_GATE], 2) if base[SKEW_GATE] else None

    # incremental probe: same ~20-doc increment, sf0.1 index (64 buckets)
    # vs the 10x index (640 buckets — bucket size held constant)
    inc01 = incremental_experiment(
        spark, SRC_SF, 64, out_dir.parent / f"{out_dir.name}_incidx01"
    )
    inc1 = incremental_experiment(
        spark, str(out_dir), 640, out_dir.parent / f"{out_dir.name}_incidx1"
    )
    inc_ratio = round(inc1 / inc01, 2) if inc01 else None

    # orchestrated ingest: fixed ~20-doc batch, sf0.1-seeded store vs
    # the 10x-seeded store (buckets scaled so bucket size is constant)
    ing01 = ingest_experiment(
        spark, SRC_SF, 64, out_dir.parent / f"{out_dir.name}_ingidx01"
    )
    ing1 = ingest_experiment(
        spark, str(out_dir), 640, out_dir.parent / f"{out_dir.name}_ingidx1"
    )
    ing_ratio = round(ing1 / ing01, 2) if ing01 else None

    # out-of-order ingest: fixed ~20-doc LATE batches, repair machinery
    # live, sf0.1-seeded vs 10x-seeded store
    ooo01, ooo01_labels = ingest_ooo_experiment(
        spark, SRC_SF, 64, out_dir.parent / f"{out_dir.name}_oooidx01"
    )
    ooo1, ooo1_labels = ingest_ooo_experiment(
        spark, str(out_dir), 640, out_dir.parent / f"{out_dir.name}_oooidx1"
    )
    ooo_ratio = round(ooo1 / ooo01, 2) if ooo01 else None

    # targeted deletion: fixed ~20-id retraction, sf0.1-seeded vs
    # 10x-seeded store
    rt01, cp01, rb01 = retract_experiment(
        spark, SRC_SF, 64, out_dir.parent / f"{out_dir.name}_rtidx01"
    )
    rt1, cp1, rb1 = retract_experiment(
        spark, str(out_dir), 640, out_dir.parent / f"{out_dir.name}_rtidx1"
    )
    rt_ratio = round(rt1 / rt01, 2) if rt01 else None
    cp_ratio = round(cp1 / cp01, 2) if cp01 else None
    rb_ratio = round(rb1 / rb01, 2) if rb01 else None

    # BM25 family: fixed 20-query search (data-bound by posting lists)
    # + fixed ~20-doc extend (must be ~flat) at 1x vs 10x index
    bm01, bme01 = bm25_experiment(
        spark, SRC_SF, 64, out_dir.parent / f"{out_dir.name}_bmidx01"
    )
    bm1, bme1 = bm25_experiment(
        spark, str(out_dir), 640, out_dir.parent / f"{out_dir.name}_bmidx1"
    )
    bm_ratio = round(bm1 / bm01, 2) if bm01 else None
    bme_ratio = round(bme1 / bme01, 2) if bme01 else None

    # codebook refresh: retrain + rebuild over 1x vs 10x vectors —
    # corpus-linear by design, flag past the linear bound
    rf01 = refresh_experiment(
        spark, SRC_SF, out_dir.parent / f"{out_dir.name}_rfidx01"
    )
    rf1 = refresh_experiment(
        spark, str(out_dir), out_dir.parent / f"{out_dir.name}_rfidx1"
    )
    rf_ratio = round(rf1 / rf01, 2) if rf01 else None

    # BPE batched training: a 1k/2k/4k merge curve pins the
    # rounds-per-merge slope (the 32k-vocab claim's extrapolation base)
    bpe_curve = [
        bpe_experiment(spark, str(out_dir), merges=m)
        for m in (1000, 2000, 4000)
    ]
    bpe = bpe_curve[0]

    # SimHash candidate geometry: measured candidates/doc vs the
    # uniform-block model at 1x and 10x — the skew factor must stay the
    # documented scale-independent constant, and the derived width is
    # emitted so the re-sign decision is data-driven
    sim01 = simhash_experiment(spark, SRC_SF)
    sim1 = simhash_experiment(spark, str(out_dir))

    # as-of join: 10x events, expect ~linear
    tmp01 = temporal_experiment(spark, SRC_SF)
    tmp1 = temporal_experiment(spark, str(out_dir))
    tmp_ratio = round(tmp1 / tmp01, 2) if tmp01 else None

    # as-of join under a hot key: same volume, one user owns 50% of
    # events (the skew corpus), so that key's history sorts in ONE task
    tmp_skew = temporal_experiment(spark, str(skew_dir))
    tmp_skew_ratio = round(tmp_skew / tmp01, 2) if tmp01 else None
    # ...and the salted variant on the same skewed corpus, recording
    # what the band-partitioned plan costs where the plain one is the
    # one flagged to blow up at real scale
    tmp_salted = temporal_experiment(spark, str(skew_dir), salted=True)
    tmp_salted_ratio = round(tmp_salted / tmp01, 2) if tmp01 else None

    # layered snapshot store: the same probe over a 3-layer stack
    lay01 = layered_experiment(
        spark, SRC_SF, 64, out_dir.parent / f"{out_dir.name}_layidx01"
    )
    lay_ratio = round(lay01 / inc01, 2) if inc01 else None

    ratios = {
        n: round(scaled[n] / base[n], 2) if base[n] > 0 else None for n in HEADLINE
    }
    flagged = {n: r for n, r in ratios.items() if r and r > SCALE_BUDGET}
    if skew_ratio and skew_ratio > SKEW_BUDGET:
        flagged[f"{SKEW_GATE}@skew"] = skew_ratio
    if inc_ratio and inc_ratio > INC_BUDGET:
        flagged["dedup_increment@10x"] = inc_ratio
    if ing_ratio and ing_ratio > INGEST_BUDGET:
        flagged["ingest_increment@10x"] = ing_ratio
    if ooo_ratio and ooo_ratio > INGEST_OOO_BUDGET:
        flagged["ingest_increment@ooo10x"] = ooo_ratio
    if rt_ratio and rt_ratio > RETRACT_BUDGET:
        flagged["retract_documents@10x"] = rt_ratio
    if cp_ratio and cp_ratio > COMPACT_BUDGET:
        flagged["compact_store@10x"] = cp_ratio
    if rb1 and rb1 > ROLLBACK_ABS_BUDGET_SEC:
        flagged["rollback@10x"] = rb1
    if bm_ratio and bm_ratio > BM25_QUERY_BUDGET:
        flagged["bm25_query@10x"] = bm_ratio
    if bme_ratio and bme_ratio > BM25_EXTEND_BUDGET:
        flagged["bm25_extend@10x"] = bme_ratio
    if rf_ratio and rf_ratio > REFRESH_BUDGET:
        flagged["codebook_refresh@10x"] = rf_ratio
    for b in bpe_curve:
        if b["rounds"] > BPE_ROUND_SLACK * b["ideal_rounds"]:
            flagged[f"train_bpe@rounds{b['requested_merges']}"] = b["rounds"]
    if lay_ratio and lay_ratio > LAYER_BUDGET:
        flagged["dedup_increment@layers"] = lay_ratio
    for tag, se in (("1x", sim01), ("10x", sim1)):
        if se["skew_factor"] > SIMHASH_SKEW_BUDGET:
            flagged[f"simhash_candidates@{tag}"] = se["skew_factor"]
    if tmp_ratio and tmp_ratio > TEMPORAL_BUDGET:
        flagged["asof_join@10x"] = tmp_ratio
    if tmp_skew_ratio and tmp_skew_ratio > ASOF_SKEW_BUDGET:
        flagged["asof_join@skew"] = tmp_skew_ratio
    # the salted variant carries its own ENFORCED budget (r7 gap: the
    # ratio was recorded but never checked)
    if tmp_salted_ratio and tmp_salted_ratio > ASOF_SALTED_BUDGET:
        flagged["asof_join@skew-salted"] = tmp_salted_ratio
    print(json.dumps({"sf": 0.1, "value": round(sum(base.values()), 3), "queries": base}))
    print(json.dumps({"sf": 1.0, "value": round(sum(scaled.values()), 3),
                      "queries": scaled, "ratios": ratios,
                      "scale_budget": SCALE_BUDGET, "flagged": flagged,
                      "skew": {"gate": SKEW_GATE, "uniform_sec": base[SKEW_GATE],
                               "skewed_sec": skew_t, "ratio": skew_ratio,
                               "budget": SKEW_BUDGET,
                               "note": "same-volume corpus, one user owns "
                               "50% of events (median of 3)"},
                      "incremental": {"op": "dedup_increment",
                                      "sf01_sec": inc01, "sf1_sec": inc1,
                                      "ratio": inc_ratio, "budget": INC_BUDGET,
                                      "note": "fixed ~20-doc increment vs "
                                      "bucket-pruned MinHash index; buckets "
                                      "64 -> 640 so bucket size stays "
                                      "constant (median of 3)"},
                      "ingest": {"op": "ingest_increment",
                                 "sf01_sec": ing01, "sf1_sec": ing1,
                                 "ratio": ing_ratio, "budget": INGEST_BUDGET,
                                 "note": "fixed ~20-doc batch through the "
                                 "full orchestrator (exact+span+minhash "
                                 "families, curated merge, ledger) vs a "
                                 "store seeded with the whole corpus; "
                                 "buckets 64 -> 640 (median of 3)"},
                      "ingest_ooo": {"op": "ingest_increment@out-of-order",
                                     "sf01_sec": ooo01, "sf1_sec": ooo1,
                                     "ratio": ooo_ratio,
                                     "budget": INGEST_OOO_BUDGET,
                                     "note": "fixed ~20-doc LATE batch "
                                     "(ids interleaved below the absorbed "
                                     "max: keeper re-election, retro span "
                                     "rebuilds, MinHash retraction all "
                                     "fire) vs an out-of-order-mode store "
                                     "seeded with the rest of the corpus; "
                                     "buckets 64 -> 640 (median of 3)",
                                     "label_reads_sf01": ooo01_labels,
                                     "label_reads_sf1": ooo1_labels},
                      "retract": {"op": "retract_documents",
                                  "sf01_sec": rt01, "sf1_sec": rt1,
                                  "ratio": rt_ratio,
                                  "budget": RETRACT_BUDGET,
                                  "note": "fixed ~20-id retraction "
                                  "(exact re-election + mate promotion, "
                                  "span-flag retraction + text regrowth, "
                                  "MinHash retirement + relabel, "
                                  "curated/pre/chunk deletion) vs a "
                                  "repair-mode store seeded with the "
                                  "whole corpus; buckets 64 -> 640 "
                                  "(median of 3); curated tables "
                                  "bucketed (scoped prune path)"},
                      "compact": {"op": "compact_store",
                                  "sf01_sec": cp01, "sf1_sec": cp1,
                                  "ratio": cp_ratio,
                                  "budget": COMPACT_BUDGET,
                                  "note": "fold of 3 retractions' masks "
                                  "(~60 ids) into the bucketed base "
                                  "tables via the partition-scoped "
                                  "prune — rewrite bounded by mask "
                                  "bucket fan-out (bucket size constant "
                                  "64 -> 640), only the affected-"
                                  "partition scans grow with the "
                                  "corpus"},
                      "rollback": {"op": "TableStore.rollback",
                                   "sf01_sec": rb01, "sf1_sec": rb1,
                                   "ratio": rb_ratio,
                                   "abs_budget_sec": ROLLBACK_ABS_BUDGET_SEC,
                                   "note": "undo + redo of the "
                                   "compaction publish, averaged — a "
                                   "driver-side manifest pointer write "
                                   "(no data copied); enforced as an "
                                   "absolute cap at the 10x store "
                                   "(both sides are single-digit ms, "
                                   "so a ratio is noise; a data copy "
                                   "sneaking in would cost seconds)"},
                      "bm25": {"op": "bm25_query_indexed",
                               "sf01_sec": bm01, "sf1_sec": bm1,
                               "ratio": bm_ratio,
                               "budget": BM25_QUERY_BUDGET,
                               "extend_sf01_sec": bme01,
                               "extend_sf1_sec": bme1,
                               "extend_ratio": bme_ratio,
                               "extend_budget": BM25_EXTEND_BUDGET,
                               "note": "fixed 20-query top-10 over the "
                               "persisted term-bucketed index (median of "
                               "3; data-bound — the tiny synthetic vocab "
                               "makes every term near-stop, so the "
                               "uncapped budget is the linear bound) + "
                               "fixed ~20-doc extend (bucket-pruned "
                               "anti-join, must be ~flat); buckets "
                               "64 -> 640"},
                      "codebook_refresh": {
                          "op": "refresh_embedding_codebooks",
                          "sf01_sec": rf01, "sf1_sec": rf1,
                          "ratio": rf_ratio, "budget": REFRESH_BUDGET,
                          "note": "retrain IVF k-means + PQ sub-"
                          "codebooks over the live vectors and rebuild "
                          "assignments/codes under one publish — "
                          "corpus-linear by design (amortized "
                          "maintenance, run on drift); budget is the "
                          "linear bound"},
                      "simhash": {"sf01": sim01, "sf1": sim1,
                                  "note": "exact block-join candidate "
                                  "count from (b, block_val) group "
                                  "sizes; skew_factor = measured / "
                                  "uniform-model — must stay the "
                                  "documented scale-independent "
                                  "constant (~182x here); "
                                  "derived_block_bits is what the "
                                  "scaling rule would re-sign this "
                                  "corpus at (8 candidates/doc "
                                  "target), saturated = corpus "
                                  "outgrew the 60-bit fingerprint"},
                      "bpe": bpe,
                      "bpe_curve": bpe_curve,
                      "temporal": {"op": "asof_join_errors_signups",
                                   "sf01_sec": tmp01, "sf1_sec": tmp1,
                                   "ratio": tmp_ratio,
                                   "budget": TEMPORAL_BUDGET,
                                   "note": "union+keyed-window as-of join "
                                   "over events, 10x volume (median of 3)"},
                      "temporal_skew": {"op": "asof_join_errors_signups",
                                        "uniform_sec": tmp01,
                                        "skewed_sec": tmp_skew,
                                        "salted_skewed_sec": tmp_salted,
                                        "ratio": tmp_skew_ratio,
                                        "salted_ratio": tmp_salted_ratio,
                                        "budget": ASOF_SKEW_BUDGET,
                                        "salted_budget": ASOF_SALTED_BUDGET,
                                        "note": "same-volume corpus, one "
                                        "user owns 50% of events — that "
                                        "key's history sorts in one task; "
                                        "salted = asof_join_salted daily "
                                        "bands, task size bounded by "
                                        "events-per-band (median of 3)"},
                      "layered": {"op": "dedup_increment@snapshot-layers",
                                  "sf01_sec": lay01,
                                  "plain_sf01_sec": inc01,
                                  "ratio": lay_ratio, "budget": LAYER_BUDGET,
                                  "note": "same probe over a snapshot-"
                                  "isolated index with a 3-layer stack "
                                  "(base + 2 absorbed extends) and a "
                                  "range-banded pair table (median of 3)"}}))
    for n in HEADLINE:
        print(f"# {base[n]:8.2f} -> {scaled[n]:8.2f}  ({ratios[n]:6.2f}x)  {n}",
              file=sys.stderr)
    print(f"# skew: {SKEW_GATE} {base[SKEW_GATE]:.2f} uniform -> "
          f"{skew_t:.2f} skewed ({skew_ratio}x, budget {SKEW_BUDGET}x)",
          file=sys.stderr)
    print(f"# incremental: dedup_increment {inc01:.2f} @sf0.1-index -> "
          f"{inc1:.2f} @sf1-index ({inc_ratio}x, budget {INC_BUDGET}x)",
          file=sys.stderr)
    print(f"# ingest: ingest_increment {ing01:.2f} @sf0.1-store -> "
          f"{ing1:.2f} @sf1-store ({ing_ratio}x, budget {INGEST_BUDGET}x)",
          file=sys.stderr)
    print(f"# ingest ooo: {ooo01:.2f} @sf0.1-store -> {ooo1:.2f} "
          f"@sf1-store ({ooo_ratio}x, budget {INGEST_OOO_BUDGET}x); "
          f"cc_labels@10x: {ooo1_labels['pruned_reads']} pruned reads "
          f"scanning {ooo1_labels['buckets_scanned']} bucket-dirs total "
          f"(of {ooo1_labels['n_buckets']} per full scan), "
          f"{ooo1_labels['full_reads']} full constructions",
          file=sys.stderr)
    print(f"# retract: {rt01:.2f} @sf0.1-store -> {rt1:.2f} @sf1-store "
          f"({rt_ratio}x, budget {RETRACT_BUDGET}x)", file=sys.stderr)
    print(f"# compact: {cp01:.2f} @sf0.1-store -> {cp1:.2f} @sf1-store "
          f"({cp_ratio}x, budget {COMPACT_BUDGET}x)", file=sys.stderr)
    print(f"# codebook refresh: {rf01:.2f} @sf0.1 -> {rf1:.2f} @sf1 "
          f"({rf_ratio}x, budget {REFRESH_BUDGET}x)", file=sys.stderr)
    print(f"# rollback: {rb01:.3f} @sf0.1-store -> {rb1:.3f} @sf1-store "
          f"({rb_ratio}x; abs cap {ROLLBACK_ABS_BUDGET_SEC}s at 10x)",
          file=sys.stderr)
    for tag, se in (("1x", sim01), ("10x", sim1)):
        print(f"# simhash@{tag}: {se['per_doc']}/doc measured vs "
              f"{se['model_per_doc']}/doc model (skew {se['skew_factor']}x,"
              f" budget {SIMHASH_SKEW_BUDGET}x); derived block_bits "
              f"{se['derived_block_bits']} (saturated={se['saturated']})",
              file=sys.stderr)
    for b in bpe_curve:
        print(f"# bpe@{b['requested_merges']}: {b['learned_merges']} merges "
              f"in {b['rounds']} rounds (ideal {b['ideal_rounds']}, batch "
              f"{BPE_BATCH}) in {b['sec']:.1f}s", file=sys.stderr)
    print(f"# asof skew: {tmp01:.2f} uniform -> {tmp_skew:.2f} hot-key "
          f"({tmp_skew_ratio}x, budget {ASOF_SKEW_BUDGET}x); salted "
          f"{tmp_salted:.2f} ({tmp_salted_ratio}x, budget "
          f"{ASOF_SALTED_BUDGET}x)",
          file=sys.stderr)
    if flagged:
        print(f"# FLAGGED worse than {SCALE_BUDGET}x: {sorted(flagged)}",
              file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
