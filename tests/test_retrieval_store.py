"""Store-backed BM25 family (operators/retrieval.py): an inverted index
that grows by ``extend_bm25_index`` and answers ``bm25_query_indexed``
from the store.

The contract: after any sequence of extends, the family equals
``build_inverted_index`` over the union of the extended docs (an id
already in the family keeps its first text — insert-missing), and an
indexed query equals one-shot ``bm25_topk(bm25_scores(…))`` over that
index, the stateless operators the driver gate already proves against
DuckDB.
"""

from __future__ import annotations

import pytest

from jobcan_data_integrator_spark.operators.incremental import index_layout
from jobcan_data_integrator_spark.operators.retrieval import (
    bm25_index_buckets,
    bm25_query_indexed,
    bm25_scores,
    bm25_topk,
    build_inverted_index,
    extend_bm25_index,
    query_terms,
)
from jobcan_data_integrator_spark.storage import TableStore


def _t(prefix, lo, hi):
    return " ".join(f"{prefix}{i}" for i in range(lo, hi))


FIRST = [
    (1, _t("u", 0, 10)),
    (2, _t("v", 0, 8) + " " + _t("a", 0, 4)),
    (3, _t("u", 2, 6) + " " + _t("w", 0, 5)),
    (4, _t("b", 0, 9)),
]
#: ids 2 and 4 are already in the family, under other text: the extend
#: must keep their first rows and index only 5-7
SECOND = [
    (2, _t("z", 0, 6)),
    (4, _t("u", 0, 3)),
    (5, _t("z", 0, 8) + " " + _t("v", 4, 7)),
    (6, _t("a", 2, 9) + " " + _t("b", 5, 8)),
    (7, "u0 u0 u1 w2 w2 w2"),
]

#: queries hitting the u/v/a/b/w/z vocabularies, plus unseen terms
QUERIES = [
    (1, "u0 u1 u2"),
    (2, "v5 v6"),
    (3, "a3 b7 w2"),
    (4, "z4 junk"),
    (5, "nomatch at all"),
]


def _rows(df, *cols):
    return {tuple(r[c] for c in cols) for r in df.collect()}


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_extended_family_matches_one_shot(spark, tmp_path):
    store = TableStore(
        spark, tmp_path, write_partitions=2, snapshot_isolation=True,
        **index_layout(bm25_index_buckets(4)),
    )
    for i, rows in enumerate((FIRST, SECOND)):
        with store.commit_bracket(f"bm25-{i}"):
            extend_bm25_index(store, _docs(spark, rows))

    first_ids = {d for d, _ in FIRST}
    union = FIRST + [(d, t) for d, t in SECOND if d not in first_ids]
    idx = build_inverted_index(_docs(spark, union))
    assert _rows(store.read("bm_postings"), "term", "doc_id", "tf") == _rows(
        idx.postings, "term", "doc_id", "tf"
    )
    assert _rows(store.read("bm_doc_len"), "doc_id", "dl") == _rows(
        idx.doc_stats, "doc_id", "dl"
    )

    q = spark.createDataFrame(QUERIES, "q_id long, q_text string")
    cols = ("q_id", "doc_id", "rank", "score_micro")
    want = _rows(bm25_topk(bm25_scores(idx, query_terms(q)), k=10), *cols)
    assert _rows(bm25_query_indexed(store, q), *cols) == want
    # the u-query ranks the u-vocabulary doc first, not its late rival 4
    assert (1, 1, 1) in {r[:3] for r in want}


def test_bm25_family_requires_snapshot_store(spark, tmp_path):
    """The two family tables must publish together, so a plain store is
    refused before any write."""
    store = TableStore(spark, tmp_path, write_partitions=2)
    with pytest.raises(ValueError, match="snapshot-isolation"):
        extend_bm25_index(store, _docs(spark, FIRST))
    assert not list(store.root.iterdir())
