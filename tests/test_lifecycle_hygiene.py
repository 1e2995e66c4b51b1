"""Lifecycle invariants of the curation store, on small corpora:

- ``compact_store`` folds the MinHash masks and the retraction masks in
  ONE snapshot commit, so ``rollback(version - 1)`` undoes a whole
  compaction;
- a snapshot commit's publish leaves only the version dirs that a
  retained manifest references — none of the commit's own superseded
  intermediate writes;
- the exact, span and MinHash families' increment + extend steps leave
  nothing in the session's cache manager — a long-lived session that
  ingests batch after batch pins no per-batch frame;
- ingest has one mode: every store it writes is retractable, and a
  store in a removed layout — the monotone-only mode's (``cur_docs``
  without ``cur_pre``), the persisted SimHash family's
  (``sh_signatures``), the embedding families' (``doc_vecs``,
  ``emb_retractions``), the BM25 family's (``bm_doc_len``) or per-batch
  packing's (``cur_chunks``) — is refused.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jobcan_data_integrator_spark.operators import incremental as inc
from jobcan_data_integrator_spark.operators.curate import curate_corpus
from jobcan_data_integrator_spark.operators.ingest import (
    compact_store,
    ingest_increment,
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
    _ingest,
    _mk,
    _near_dup_cb,
    _rows,
    _t,
)

CFG = dict(
    span=SPAN,
    min_tokens=MIN_TOKENS,
    n_hashes=NH,
    band_size=BS,
    cluster_threshold=THRESH,
)


def test_compact_store_publishes_one_version(spark, tmp_path):
    # the late twin 1 demotes stored keeper 21 (an mh_doc_drops row);
    # retracting 22 adds a doc_retractions row (and masks 22's MinHash
    # rows too)
    store, _ = _ingest(
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


def test_commit_gc_drops_its_own_superseded_dirs(spark, tmp_path):
    store = TableStore(spark, tmp_path, write_partitions=1, snapshot_isolation=True)
    with store.commit_bracket("v1"):
        store.overwrite("t", spark.range(3))
    with store.commit_bracket("v2"):
        for n in (4, 5, 6):
            store.overwrite("t", spark.range(n))

    on_disk = {p.name for p in tmp_path.glob("t.v-*")}
    history = {r["version"]: r["tables"] for r in store.snapshot_history()}
    cur = store.current_snapshot()["version"]
    referenced = {
        history[v]["t"]
        for v in range(cur - store.retain_snapshots, cur + 1)
        if "t" in history.get(v, {})
    }
    assert on_disk == referenced
    assert len(on_disk) == 2
    assert store.read("t").count() == 6


def test_in_order_store_is_retractable(spark, tmp_path):
    store = TableStore(spark, tmp_path, write_partitions=2, snapshot_isolation=True)
    for i, rows in enumerate((BATCH1, BATCH2), 1):
        ingest_increment(store, _mk(spark, rows), f"b{i}", **CFG)

    retract_documents(
        store, spark.createDataFrame([(2,)], "doc_id long"), "rt-1", **CFG
    )

    survivors = [r for r in BATCH1 + BATCH2 if r[0] != 2]
    one = curate_corpus(
        _mk(spark, survivors),
        span=SPAN,
        min_tokens=MIN_TOKENS,
        near_dup_pairs=_near_dup_cb,
    )
    assert _rows(read_curated(store), "doc_id", "text") == _rows(
        one.kept, "doc_id", "text"
    )


@pytest.mark.parametrize(
    "table, schema, row, feature, removed_kw",
    [
        (
            "sh_signatures",
            "doc_id long, simhash long",
            (21, 5),
            "persisted SimHash family",
            "simhash",
        ),
        (
            "doc_vecs",
            "doc_id long, vec_id long",
            (21, 7),
            "embedding families' doc-to-vector cascade",
            "new_emb",
        ),
        (
            "emb_retractions",
            "vec_id long, folded boolean",
            (7, False),
            "embedding families' vector retraction",
            "auto_refresh_codebooks",
        ),
        (
            "bm_doc_len",
            "doc_id long, dl long",
            (21, 12),
            "BM25 family's lifecycle maintenance",
            "bm25",
        ),
        (
            "cur_chunks",
            "chunk_id long, doc_id long, n_tokens long, batch_id string",
            (21 * 1_048_576, 21, 8, "b1"),
            "per-batch packing",
            "pack_budget",
        ),
    ],
    ids=["sh_signatures", "doc_vecs", "emb_retractions", "bm_doc_len", "cur_chunks"],
)
def test_removed_layout_is_refused(
    spark, tmp_path, table, schema, row, feature, removed_kw
):
    store = TableStore(spark, tmp_path, write_partitions=2, snapshot_isolation=True)
    with store.commit_bracket("old"):
        store.overwrite(table, spark.createDataFrame([row], schema))

    with pytest.raises(ValueError, match=feature):
        ingest_increment(store, _mk(spark, BATCH2), "b2", **CFG)
    with pytest.raises(ValueError, match=feature):
        retract_documents(
            store, spark.createDataFrame([(21,)], "doc_id long"), "rt-1", **CFG
        )
    with pytest.raises(TypeError):
        ingest_increment(
            store, _mk(spark, BATCH2), "b2", **{removed_kw: True}, **CFG
        )


def test_monotone_only_layout_is_refused(spark, tmp_path):
    store = TableStore(spark, tmp_path, write_partitions=2, snapshot_isolation=True)
    old_docs = _mk(spark, BATCH1).withColumn("batch_id", F.lit("b1"))
    with store.commit_bracket("old"):
        store.overwrite("cur_docs", old_docs)

    with pytest.raises(ValueError, match="cur_pre"):
        ingest_increment(store, _mk(spark, BATCH2), "b2", **CFG)
    with pytest.raises(ValueError, match="monotone-only ingest mode is gone"):
        ingest_increment(
            store, _mk(spark, BATCH2), "b2", allow_out_of_order=False, **CFG
        )
