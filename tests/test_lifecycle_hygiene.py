"""Two lifecycle invariants of the curation store, on small corpora:

- ``compact_store`` folds the MinHash masks and the retraction masks in
  ONE snapshot commit, so ``rollback(version - 1)`` undoes a whole
  compaction;
- the exact, span and MinHash families' increment + extend steps leave
  nothing in the session's cache manager — a long-lived session that
  ingests batch after batch pins no per-batch frame.
"""

from __future__ import annotations

from jobcan_data_integrator_spark.operators import incremental as inc
from jobcan_data_integrator_spark.operators.ingest import (
    compact_store,
    read_curated,
    retract_documents,
)
from jobcan_data_integrator_spark.operators.minhash import hashed_shingle_rows
from jobcan_data_integrator_spark.storage import TableStore
from test_ingest import (
    BATCH1,
    BATCH2,
    BS,
    MIN_TOKENS,
    NH,
    SPAN,
    THRESH,
    _ingest_ooo,
    _mk,
    _rows,
    _t,
)


def test_compact_store_publishes_one_version(spark, tmp_path):
    # the late twin 1 demotes stored keeper 21 (an mh_doc_drops row);
    # retracting 22 adds a doc_retractions row (and masks 22's MinHash
    # rows too)
    store, _ = _ingest_ooo(
        spark,
        tmp_path,
        ([(21, _t("u", 0, 10)), (22, _t("w", 0, 10))], [(1, _t("u", 0, 10))]),
    )
    retract_documents(
        store,
        spark.createDataFrame([(22,)], "doc_id long"),
        "rt-1",
        span=SPAN,
        min_tokens=MIN_TOKENS,
        n_hashes=NH,
        band_size=BS,
        cluster_threshold=THRESH,
    )
    assert _rows(store.read("mh_doc_drops"), "doc_id") == {(21,), (22,)}
    assert _rows(store.read(inc.DOC_RETRACTIONS), "doc_id") == {(22,)}
    before = _rows(read_curated(store), "doc_id", "text")
    version = store.current_snapshot()["version"]

    compact_store(store)

    assert store.current_snapshot()["version"] == version + 1
    assert _rows(read_curated(store), "doc_id", "text") == before
    assert store.read("mh_doc_drops").count() == 0


def test_family_increments_leave_no_cache(spark, tmp_path):
    spark.catalog.clearCache()
    store = TableStore(spark, tmp_path, write_partitions=2, snapshot_isolation=True)
    first, second = _mk(spark, BATCH1), _mk(spark, BATCH2)
    inc.build_exact_index(store, first)
    inc.build_span_index(store, first, span=SPAN)
    inc.build_minhash_index(store, hashed_shingle_rows(first), NH, BS)

    inc.extend_exact_index(store, second, inc.exact_increment(store, second))
    groups, flags = inc.span_increment(store, second, span=SPAN)
    inc.extend_span_index(store, second, groups, flags, span=SPAN)
    hashed = hashed_shingle_rows(second)
    pairs = inc.dedup_increment(store, hashed, NH, BS)
    inc.extend_index(store, hashed, pairs, NH, BS)

    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
