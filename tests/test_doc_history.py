"""doc_history + the per-id retraction receipt (operators/ingest.py).

``retraction_log`` records one receipt row per takedown (counts,
families, version); ``retraction_ids`` is its per-id companion written
in the same commit, and ``doc_history(store, ids)`` assembles the full
per-document timeline — curated / demoted / retracted with batch and
retraction references — from the store's own records.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from jobcan_data_integrator_spark.operators.ingest import (
    doc_history,
    ingest_increment,
    retract_documents,
)
from jobcan_data_integrator_spark.storage import TableStore
from test_ingest import BATCH1, BATCH2, BS, MIN_TOKENS, NH, SPAN, THRESH, _mk

CFG = dict(
    span=SPAN,
    min_tokens=MIN_TOKENS,
    n_hashes=NH,
    band_size=BS,
    cluster_threshold=THRESH,
)


def _events(store, spark, ids):
    df = doc_history(store, spark.createDataFrame([(i,) for i in ids], "doc_id long"))
    return {
        (r.doc_id, r.event, r.ref, r.cause): (r.over_version, r.ts)
        for r in df.collect()
    }


def test_doc_history_timeline_and_receipts(spark, tmp_path):
    store = TableStore(
        spark, tmp_path, write_partitions=2, snapshot_isolation=True
    )
    ingest_increment(store, _mk(spark, BATCH1), "b1", **CFG)
    ingest_increment(store, _mk(spark, BATCH2), "b2", **CFG)
    retract_documents(
        store, spark.createDataFrame([(2,)], "doc_id long"), "rt-1", **CFG
    )

    ev = _events(store, spark, [1, 2, 7, 8, 21, 23])
    keys = set(ev)
    # 23: unique survivor of b2 — one curated event
    assert (23, "curated", "b2", None) in keys
    assert len([k for k in keys if k[0] == 23]) == 1
    # 1: still live from b1
    assert (1, "curated", "b1", None) in keys
    # 7: curated in b1, demoted by b2's cluster merger
    assert (7, "curated", "b1", None) in keys
    assert (7, "demoted", "b2", "cluster") in keys
    # 2: retracted — receipt carries the retraction's version + ts,
    # and the curated row is physically gone
    retr = [k for k in keys if k[0] == 2]
    assert retr == [(2, "retracted", "rt-1", None)]
    over_version, ts = ev[(2, "retracted", "rt-1", None)]
    assert over_version and over_version > 0 and ts is not None
    # 8 (too short) and 21 (exact loser) never entered the corpus:
    # no recorded history
    assert not [k for k in keys if k[0] in (8, 21)]

    # the per-id receipt table holds exactly the retraction's ids
    got = {
        (r.retract_id, r.doc_id)
        for r in store.read("retraction_ids").collect()
    }
    assert got == {("rt-1", 2)}

    # redelivery is a ledger no-op: no second receipt row
    retract_documents(
        store, spark.createDataFrame([(2,)], "doc_id long"), "rt-1", **CFG
    )
    assert store.read("retraction_ids").count() == 1


def test_doc_history_empty_store_and_unknown_ids(spark, tmp_path):
    store = TableStore(
        spark, tmp_path, write_partitions=2, snapshot_isolation=True
    )
    assert (
        doc_history(
            store, spark.createDataFrame([(5,)], "doc_id long")
        ).count()
        == 0
    )
    ingest_increment(store, _mk(spark, BATCH1), "b1", **CFG)
    # unknown id: empty; known id: curated only (a single batch demotes
    # no stored doc, so no tombstone event)
    ev = _events(store, spark, [1, 999])
    assert set(ev) == {(1, "curated", "b1", None)}
