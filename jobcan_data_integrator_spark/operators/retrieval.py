"""Distributed BM25 retrieval over an inverted index.

A training-data pipeline needs lexical retrieval long before it needs a
serving stack: retrieval-based decontamination (find corpus documents
that *answer* benchmark questions even when no n-gram overlaps),
retrieval-based quality scoring (how close is a document to a trusted
seed set), and hard-negative mining for embedding training all reduce
to "score corpus docs against a query set with BM25 and keep top-k".
No reference analog (the reference is a forms-ETL tool); semantics are
the public Okapi BM25 of Robertson & Zaragoza (2009), the same scoring
Lucene/Elasticsearch ship:

    idf(t)        = ln(1 + (N - df + 0.5) / (df + 0.5))
    tfn(t, d)     = tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))
    score(q, d)   = sum over distinct query terms of idf * tfn

Shape chosen for Spark — the inverted index IS a DataFrame:

- ``postings (term, doc_id, tf)`` — one groupBy over the exploded
  token stream; at 100 TB this is the only corpus-sized shuffle, keyed
  by term, and it is write-once/query-many.  Persist it partitioned by
  a term hash bucket and every later query run is a pruned scan.
- scoring is an EQUI-JOIN of the query term list against postings on
  ``term`` — the posting-list walk of a classical engine becomes a
  join that touches only the postings of query terms, never all pairs
  and never the corpus text.  Ad-hoc query sets broadcast (thousands
  of terms = KBs); batch query sets shuffle on ``term`` and meet the
  bucketed index co-partitioned.
- the hot-key lever is ``max_df_ratio``: stop-terms (df above the
  ratio) contribute near-zero idf but dominate posting volume — at
  web scale the 100 most common terms are most of the index.  Dropping
  them bounds per-term join fan-out at a measurable score error (their
  idf bound is printed in the cap's docstring), the standard
  Lucene-stopword / WAND-style pruning trade.
- per-(query, doc) contributions are summed as INTEGER MICRO-UNITS
  (``round(idf * tfn * 1e4)`` as BIGINT, the operators/lm.py scheme)
  so the reduce is exact and order-independent — the same plan hashes
  identically in Spark and the DuckDB oracle regardless of partition
  count or summation order.

Tokenization is the repo-wide deterministic split (lowercase,
whitespace), shared verbatim by the DuckDB oracle; swap ``tokenize``
for a real analyzer per-language upstream if needed — the index shape
is tokenizer-agnostic.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

if TYPE_CHECKING:  # pragma: no cover
    from jobcan_data_integrator_spark.storage import TableStore

#: Score micro-unit scale: contributions are rounded to 1e-4 before the
#: integer sum.  Coarse on purpose — a last-ulp ln()/division difference
#: between engines would need to land within ~1e-12 of a rounding
#: boundary to flip a unit, so cross-engine hashes stay bit-identical.
MICRO = 10_000


def tokenize(df: DataFrame, text_col: str = "text", out: str = "term") -> DataFrame:
    """Explode ``text_col`` into one lowercased whitespace token per row
    (empty tokens dropped).  Narrow, zero-shuffle; the projection keeps
    every other column so callers pick their own id columns."""
    return (
        df.withColumn(out, F.explode(F.split(F.lower(F.col(text_col)), r"\s+")))
        .filter(F.col(out) != "")
        .drop(text_col)
    )


@dataclass(frozen=True)
class InvertedIndex:
    """The four DataFrames a BM25 scorer needs.  ``corpus`` is a single
    row ``(n_docs, avgdl)`` kept as a DataFrame (broadcast at score
    time) so building the index triggers no driver collect."""

    postings: DataFrame  # (term, doc_id, tf)
    doc_stats: DataFrame  # (doc_id, dl)
    term_stats: DataFrame  # (term, df)
    corpus: DataFrame  # (n_docs, avgdl) — exactly one row

    def cached(self) -> "InvertedIndex":
        """The same index with every frame marked for caching — the
        ad-hoc (unpersisted) path's stand-in for the persisted-at-ingest
        bm25_* family: without it each scorer consumer re-runs the
        corpus token explode (postings feeds term_stats AND the score
        join; doc_stats and postings both re-derive ``toks`` — measured
        3-4 token passes per ad-hoc build+query).  Identical frames,
        compute-once.

        Lifetime (ADVICE r11): nothing here unpersists — the ad-hoc
        index has no end-of-query hook, so the frames rely on the
        session's LRU storage eviction (and the bench clears the cache
        between trials).  A long-lived application composing many
        ad-hoc indexes should unpersist the four frames when done, or
        use the persisted ``bm25_*`` family, which is the
        write-once/query-many path."""
        return InvertedIndex(
            self.postings.cache(),
            self.doc_stats.cache(),
            self.term_stats.cache(),
            self.corpus.cache(),
        )


def build_inverted_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> InvertedIndex:
    """One pass over the corpus: explode tokens, count (term, doc) pairs.

    ``doc_stats`` and ``term_stats`` are map-side-combined aggregates of
    the same token stream; everything downstream of the one term-keyed
    shuffle is derived, so persisting ``postings`` bucketed by term is
    the entire index-maintenance story (extend = union new docs' rows,
    df/dl recompute is a groupBy over the delta)."""
    toks = tokenize(docs.select(id_col, text_col), text_col).select(
        F.col(id_col).alias("doc_id"), "term"
    )
    postings = toks.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))
    doc_stats = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    term_stats = postings.groupBy("term").agg(F.count("*").alias("df"))
    corpus = doc_stats.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    return InvertedIndex(postings, doc_stats, term_stats, corpus)


def query_terms(
    queries: DataFrame, id_col: str = "q_id", text_col: str = "q_text"
) -> DataFrame:
    """(q_id, term) with DISTINCT terms per query — BM25's query-side tf
    is capped at 1 here (the common simplification for short queries;
    Robertson's (k3+1)qtf/(k3+qtf) factor is ~1 for qtf=1)."""
    return (
        tokenize(queries.select(id_col, text_col), text_col, out="term")
        .select(F.col(id_col).alias("q_id"), "term")
        .distinct()
    )


def bm25_scores(
    index: InvertedIndex,
    q_terms: DataFrame,
    *,
    k1: float = 1.2,
    b: float = 0.75,
    max_df_ratio: float | None = None,
    broadcast_queries: bool = True,
) -> DataFrame:
    """(q_id, doc_id, score_micro): integer micro-unit BM25 scores for
    every (query, doc) pair sharing at least one surviving term.

    Plan: q_terms ⨝ term_stats on term (idf per query term, tiny) ⨝
    postings on term (the posting-list walk) ⨝ doc_stats on doc_id,
    with the one-row corpus stats cross-broadcast.  With
    ``broadcast_queries`` the postings side never shuffles — the scan
    feeds a broadcast hash join and the only exchange is the final
    (q_id, doc_id) sum.

    ``max_df_ratio`` drops terms with df > ratio*N before the postings
    join — the stop-term cap that bounds fan-out at scale.  Score error
    is bounded by the dropped terms' idf ≤ ln(1 + (1/ratio - 1 +
    0.5/N·ratio)) ≈ ln(1/ratio) per dropped term."""
    ts = index.term_stats.join(
        F.broadcast(index.corpus.select("n_docs", "avgdl")), how="cross"
    )
    if max_df_ratio is not None:
        ts = ts.filter(F.col("df") <= F.col("n_docs") * F.lit(max_df_ratio))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    qt = ts.select("term", "avgdl", idf.alias("idf")).join(
        q_terms, "term"
    )
    if broadcast_queries:
        qt = F.broadcast(qt)
    tfn = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    contrib = F.round(F.col("idf") * tfn * F.lit(float(MICRO))).cast("long")
    return (
        index.postings.join(qt, "term")
        .join(index.doc_stats, "doc_id")
        .select("q_id", "doc_id", contrib.alias("c"))
        .groupBy("q_id", "doc_id")
        .agg(F.sum("c").alias("score_micro"))
    )


#: RRF contribution scale: one list position contributes
#: ``round(1e6 / (k + rank))`` integer micro-units.  With the standard
#: k=60 and top-10 lists the divisor stays in [61, 70], where 1e6/n can
#: never land on an exact .5 (that needs 2e6/n odd ⇒ n ≥ 2^7) — so
#: HALF_UP vs banker's rounding can never diverge between engines.
RRF_MICRO = 1_000_000


def rrf_fuse(
    rankings: list[DataFrame],
    *,
    k: int = 60,
    topk: int = 10,
    query_col: str = "q_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) of N
    per-query rank lists: ``score(q, d) = Σ_lists 1 / (k + rank)``,
    returned as ``(q_id, doc_id, rrf_rank, rrf_micro, n_lists)`` with
    the deterministic (score DESC, id ASC) cut at ``topk``.

    The standard hybrid-retrieval combiner: fuse a lexical (BM25) list
    with a dense (embedding ANN) list without calibrating their
    incomparable score scales — only RANKS enter the sum, so each
    retriever can evolve independently.  A query missing from one list
    (e.g. no embedding for it) degrades gracefully to the other list's
    contributions.

    Plan shape: the lists UNION (no join — missing entries need no
    outer-join null handling) into one narrow (q, d, contribution)
    stream, then ONE (q, d) sum and a per-query window top-k.  Each
    input list is already top-k-bounded by its retriever, so the fused
    volume is ≤ N·topk rows per query — broadcast-tiny relative to the
    corpus, at any corpus size.  Contributions are integer micro-units
    (``RRF_MICRO``) so the sum is exact and order-independent across
    engines and partitionings."""
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking list")
    contrib = None
    for r in rankings:
        c = r.select(
            F.col(query_col).alias("q_id"),
            F.col(id_col).alias("doc_id"),
            F.round(F.lit(float(RRF_MICRO)) / (F.lit(k) + F.col(rank_col)))
            .cast("long")
            .alias("c"),
        )
        contrib = c if contrib is None else contrib.unionByName(c)
    fused = contrib.groupBy("q_id", "doc_id").agg(
        F.sum("c").alias("rrf_micro"), F.count("*").cast("int").alias("n_lists")
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("rrf_micro").desc(), F.col("doc_id")
    )
    return (
        fused.withColumn("rrf_rank", F.row_number().over(w))
        .filter(F.col("rrf_rank") <= topk)
        .select(
            "q_id",
            "doc_id",
            F.col("rrf_rank").cast("int").alias("rrf_rank"),
            "rrf_micro",
            "n_lists",
        )
    )


def bm25_topk(scored: DataFrame, k: int = 10) -> DataFrame:
    """Top-k docs per query with the deterministic (score DESC, doc_id
    ASC) tiebreak every gate window uses — the cut is identical across
    engines and runs."""
    w = Window.partitionBy("q_id").orderBy(
        F.col("score_micro").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "doc_id", "rank", "score_micro")
    )


# ---------------------------------------------------------------------------
# Store-backed incremental BM25 family
# ---------------------------------------------------------------------------
#
# The inverted index as a PERSISTED family that grows by extension and
# answers queries from the store:
#
# - ``bm_postings (term, doc_id, tf)`` — bucketed by term, so a query's
#   posting-list read is bucket-PRUNED (TableStore.read_for_keys scans
#   only the dirs the query terms hash into).
# - ``bm_doc_len (doc_id, dl)`` — bucketed by doc_id, so an extend's
#   insert-missing probe reads only its batch's buckets; also the source
#   of (n_docs, avgdl) at query time, one narrow 2-column aggregate that
#   a serving deployment snapshots per query BATCH, not per query.
#
# INVARIANT: after any sequence of ``extend_bm25_index`` calls the
# family equals ``build_inverted_index`` over the union of the extended
# docs (first text per doc id wins), and ``bm25_query_indexed`` equals
# one-shot ``bm25_topk(bm25_scores(…))`` over that index (pinned in
# tests/test_retrieval_store.py).  The extend is insert-missing, so a
# crash replay converges.

BM25_POSTINGS = "bm_postings"
BM25_DOC_LEN = "bm_doc_len"


def bm25_index_buckets(n: int = 64) -> dict[str, tuple[str, int]]:
    """Bucket layout for a probe-pruned BM25 family (pass through
    ``incremental.index_layout``): postings keyed by term — a query
    reads only its terms' buckets; lengths keyed by doc_id — an extend
    probes only its docs' buckets."""
    return {BM25_POSTINGS: ("term", n), BM25_DOC_LEN: ("doc_id", n)}


def extend_bm25_index(store: "TableStore", docs: DataFrame) -> None:
    """Absorb a batch of (doc_id, text) docs — insert-missing
    semantics: ids already in the family keep their rows.  First call
    on an empty store builds the family.  Refuses a plain store: the
    two tables must publish together, or a query between their writes
    would count postings whose doc lengths are not yet visible."""
    if not store.snapshot_isolation:
        raise ValueError(
            "the BM25 family needs a snapshot-isolation store "
            f"(store {store.root} is plain)"
        )
    docs = docs.select("doc_id", "text")
    if store.exists(BM25_DOC_LEN):
        existing = store.read_for_keys(BM25_DOC_LEN, docs, "doc_id").select(
            "doc_id"
        )
        docs = docs.join(existing, "doc_id", "left_anti")
    docs = docs.localCheckpoint(eager=True)
    if not docs.head(1):
        return
    idx = build_inverted_index(docs)
    store.merge_insert_missing(BM25_POSTINGS, idx.postings, ["term", "doc_id"])
    store.merge_insert_missing(BM25_DOC_LEN, idx.doc_stats, ["doc_id"])


def bm25_query_indexed(
    store: "TableStore",
    queries: DataFrame,
    *,
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
    max_df_ratio: float | None = None,
) -> DataFrame:
    """Top-k BM25 over the PERSISTED family: (q_id, doc_id, rank,
    score_micro) for (q_id, q_text) queries.

    The posting read is bucket-pruned to the query's terms.  df comes
    from the fetched posting lists themselves (the fetch for term t
    contains exactly t's corpus rows); (n_docs, avgdl) is one aggregate
    over the narrow doc-length table, amortized per query batch."""
    qt = query_terms(queries).localCheckpoint(eager=True)
    postings = store.read_for_keys(BM25_POSTINGS, qt, "term").join(
        F.broadcast(qt.select("term").distinct()), "term", "leftsemi"
    )
    dl = store.read(BM25_DOC_LEN)
    index = InvertedIndex(
        postings=postings,
        doc_stats=dl,
        term_stats=postings.groupBy("term").agg(F.count("*").alias("df")),
        corpus=dl.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")),
    )
    return bm25_topk(
        bm25_scores(index, qt, k1=k1, b=b, max_df_ratio=max_df_ratio), k=k
    )
