"""Incremental (new-vs-corpus) deduplication and ANN indexing over
persisted index tables — ten families: exact-dedup hashes, MinHash
bands, SimHash blocks, embedding LSH buckets, IVF cell assignments,
SemDeDup pairs, ExactSubstr span hashes, n-gram LM counts (perplexity
scoring at ingest), boilerplate line-stats (line cleaning at ingest),
and PQ codes (compressed ANN serving).

A 100 TB training pipeline cannot re-dedup the whole corpus for every
ingest batch — the full-corpus LSH pipeline (gate/llm.py
dd_lsh_verified_pairs) is linear in CORPUS size per run, so running it
per batch is quadratic over the pipeline's lifetime.  The scale-correct
composition persists an INDEX of the corpus:

- ``mh_bands``    (doc_id, band_idx, band_key) — the LSH band table
- ``mh_shingles`` (doc_id, shingle)            — distinct shingle sets
- ``mh_sizes``    (doc_id, n)                  — Jaccard denominators
- ``mh_pairs``    (doc_a, doc_b, n_common, jaccard) — verified
  corpus-internal pairs (the previous runs' output)

and joins ONLY each increment against it: new-vs-corpus candidates come
from ``new_bands ⋈ mh_bands`` (the big side is touched once, by an
equi-join on the band key), new-vs-new from the increment's self-join,
and the verify stage reads corpus shingles only for candidate docs.
Per-batch cost is therefore linear in the INCREMENT (times the
candidate fan-out), not the corpus.

Equivalence contract (driver-gated in dd_incremental_dedup): banding
and verification are per-doc deterministic, so

    full_corpus_pairs ≡ mh_pairs ∪ dedup_increment(new_docs)

holds exactly — the gate runs the split pipeline in Spark against the
full-corpus SQL oracle and the driver hash-compares the values.

Reference analog: the reference never refetches full snapshots either —
`/root/reference/jobcan_di/gateway/api_client.py:521-597` pulls
increments against persisted state; this is the same stance applied to
the dedup index.  Storage: a TableStore (plain or snapshot-isolation
mode); at warehouse scale these tables would be bucketed by doc_id /
band_key and the pair upsert becomes a Delta/Iceberg MERGE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jobcan_data_integrator_spark.operators.minhash import (
    band_rows,
    candidate_pairs,
    shingle_sizes,
    verify_candidate_pairs,
)
from jobcan_data_integrator_spark.storage import TableStore

#: the index's table names, in commit-manifest order
INDEX_TABLES = ("mh_bands", "mh_shingles", "mh_sizes", "mh_pairs")

#: merge-on-read retraction tables for out-of-order ingest
#: (operators/ingest.py, allow_out_of_order=True) — the lakehouse
#: tombstone pattern applied to the MinHash family itself:
#:
#: - ``mh_doc_drops``  (doc_id): docs RETIRED from the family (an exact
#:   keeper demoted by a late smaller-id twin, or a repaired doc that
#:   fell under the length floor).  Never resurrected — a retired id
#:   never re-enters the corpus, so a plain anti-join is version-safe.
#: - ``mh_band_drops`` (doc_id, band_idx, band_key): superseded band
#:   rows of REPAIRED docs (text changed by retroactive span flags).
#:   The replacement rows land under new band keys — in other bucket
#:   dirs, where a keyed merge cannot reach the stale rows — so the
#:   stale rows are masked at read instead of rewritten.  Row-exact
#:   (all three columns), so an unchanged band is neither dropped nor
#:   duplicated, and a later repair re-creating a dropped key deletes
#:   the drop row (see ``resign_minhash``).
#: - ``mh_pair_drops`` (doc_a, doc_b): retracted pair rows — pairs a
#:   repair recomputation no longer produces, or pairs touching retired
#:   docs.  ``read_pairs`` is the corpus-pair read that applies them.
#:
#: All three are bounded by out-of-order REPAIR volume, not the corpus;
#: a monotone-id store never creates them and every read path checks
#: existence first (zero cost when absent).
OOO_DROP_TABLES = ("mh_doc_drops", "mh_band_drops", "mh_pair_drops")

#: targeted-deletion masks (operators/ingest.retract_documents) — the
#: same merge-on-read stance extended to the exact and span families,
#: which out-of-order ingest never needs to retract (a demoted exact
#: keeper always leaves a live identical-text twin, so its stale
#: ex_docs/sp_occs rows can never change a live outcome — retraction
#: removes docs with NO surviving twin, so their rows must be masked):
#:
#: - ``doc_retractions`` (doc_id): docs deleted from the corpus by
#:   ``retract_documents``.  Masks the stored side of
#:   ``exact_increment`` (a retracted doc must not win a future keeper
#:   election) and ``span_increment`` (its occurrences must not inflate
#:   ``n_occ`` or own ``min_key``).  Never resurrected — doc ids are
#:   unique for all time.
#: - ``sp_flag_drops`` (doc_id, pos): span flags RETRACTED because the
#:   deleted doc was the duplicating occurrence (n_occ fell to 1) or
#:   owned ``min_key`` (the new first occurrence unflags).  Applied by
#:   ``read_flags`` — the flag read every repair path uses.  A later
#:   batch re-duplicating the span re-asserts the flag, so
#:   ``extend_span_index`` deletes re-asserted rows from the mask
#:   (version safety, exactly like ``mh_band_drops``).
#:
#: Both are bounded by retraction volume and folded into the base
#: tables by ``compact_store``.
DOC_RETRACTIONS = "doc_retractions"
FLAG_DROPS = "sp_flag_drops"
#: vec_id-keyed sibling of ``doc_retractions`` for the embedding
#: families (operators/ingest.retract_vectors): masks the corpus side
#: of ``embedding_increment``/``semantic_increment`` and the
#: IVF/PQ serving paths; pair rows touching retracted vectors are
#: physically deleted at retract time (the pair tables are unmanaged),
#: and ``compact_store`` folds the mask into the vector/bucket/
#: assignment/code tables.
EMB_RETRACTIONS = "emb_retractions"
RETRACT_MASK_TABLES = (DOC_RETRACTIONS, FLAG_DROPS, EMB_RETRACTIONS)


def _mask_retracted(store: TableStore, df: DataFrame) -> DataFrame:
    """Anti-join the doc-retraction mask (no-op when absent)."""
    if store.exists(DOC_RETRACTIONS):
        df = df.join(
            F.broadcast(store.read(DOC_RETRACTIONS)), "doc_id", "left_anti"
        )
    return df


def _mask_emb_retracted(store: TableStore, df: DataFrame) -> DataFrame:
    """Anti-join the vector-retraction mask (no-op when absent)."""
    if store.exists(EMB_RETRACTIONS):
        df = df.join(
            F.broadcast(store.read(EMB_RETRACTIONS)), "vec_id", "left_anti"
        )
    return df


def read_flags(store: TableStore) -> DataFrame:
    """The LIVE span-flag set: ``sp_flags`` with retraction masks
    applied — the read every repair/retro consumer should use.  On a
    store with no retractions this is exactly ``store.read("sp_flags")``."""
    flags = store.read("sp_flags")
    if store.exists(FLAG_DROPS):
        flags = flags.join(
            F.broadcast(store.read(FLAG_DROPS)),
            ["doc_id", "pos"],
            "left_anti",
        )
    return _mask_retracted(store, flags)

#: the bucketing layout that makes every index probe below PRUNED: pass
#: ``TableStore(..., bucketed=minhash_index_buckets(n))`` and the
#: increment's corpus-side reads scan only the bucket dirs its keys hash
#: into (TableStore.read_for_keys) instead of the whole index.  ``n``
#: is a real scale knob: at 100 TB size it so one bucket ~ a few GB.
#: Plain (unbucketed) stores keep working — probes fall back to full
#: scans, and results are identical either way (tests pin this).


def minhash_index_buckets(n: int = 64) -> dict[str, tuple[str, int]]:
    return {
        "mh_bands": ("band_key", n),
        "mh_shingles": ("doc_id", n),
        "mh_sizes": ("doc_id", n),
    }


def cluster_label_buckets(n: int = 64) -> dict[str, tuple[str, int]]:
    """Bucket layout for the cluster-label table — SNAPSHOT stores only.
    With it, per-batch label maintenance (``extend_clusters`` and the
    retraction relabel) takes the DELTA path: scoped upserts/prunes of
    the changed rows' buckets instead of a corpus-sized overwrite per
    batch — the label table is the one per-increment write whose cost
    otherwise grows with the corpus.  Plain stores must not declare it:
    their managed writes cannot express an empty table (a label table
    starts empty whenever the seed corpus has no ≥-threshold pair), and
    the scoped prune needs the layer machinery."""
    return {"cc_labels": ("doc_id", n)}


def exact_index_buckets(n: int = 64) -> dict[str, tuple[str, int]]:
    return {"ex_docs": ("text_md5", n)}


def embedding_index_buckets(n: int = 64) -> dict[str, tuple[str, int]]:
    return {"eb_buckets": ("bucket", n), "eb_vectors": ("vec_id", n)}


def simhash_index_buckets(n: int = 64) -> dict[str, tuple[str, int]]:
    return {"sh_blocks": ("block_val", n), "sh_signatures": ("doc_id", n)}


def minhash_pair_bands(width: int = 1 << 20) -> dict[str, tuple[str, int]]:
    """Range-band layout for the pair table: ``mh_pairs`` partitioned by
    ``doc_b div width`` (TableStore.range_partitioned).  Pairs always
    carry the NEWER document as ``doc_b`` (doc_a < doc_b), so an
    increment's pair upsert rewrites only the newest few bands while the
    corpus's historical bands stay untouched — hash buckets cannot give
    this locality (new ids hash into every bucket).  Width is a scale
    knob: size it so one band's pairs are a few GB."""
    return {"mh_pairs": ("doc_b", width)}


#: Tables whose size is contractually bounded by BATCH / RETRACTION
#: volume, never by corpus size — the driver-side write contract
#: (TableStore ``driver_bounded``): per-batch ledger rows, retraction
#: masks and drop tables, all folded away by ``compact_store``.  The
#: bound is rows PER STORED STATE; a state exceeding it silently falls
#: back to the Spark write (speed, not correctness, is at stake).
#: Corpus-sized tables (cur_docs, sp_occs, mh_*, ex_*, cc_labels, ...)
#: must never be listed: the whole point of the cap is that collecting
#: one of these frames to the driver is bounded at any corpus scale.
#: Name literals from operators/ingest.py (LEDGER/TOMBSTONES/
#: RETRACTIONS/RETRACTION_LOG/RETRACTION_IDS) are repeated here to keep
#: incremental.py import-free of ingest.py.
DRIVER_BOUNDED_TABLES: dict[str, int] = {
    t: 1_000_000
    for t in (
        *OOO_DROP_TABLES,          # mh_doc_drops / mh_band_drops / mh_pair_drops
        DOC_RETRACTIONS,
        FLAG_DROPS,                # sp_flag_drops
        EMB_RETRACTIONS,
        "sp_mask_hashes",          # SPAN_MASK_HASHES
        "ig_batches",              # ingest.LEDGER
        "cur_drops",               # ingest.TOMBSTONES
        "cur_retractions",         # ingest.RETRACTIONS
        "retraction_log",          # ingest.RETRACTION_LOG
        "retraction_ids",          # ingest.RETRACTION_IDS
    )
}


def index_layout(
    buckets: dict[str, tuple[str, int]],
    ranges: dict[str, tuple[str, int]] | None = None,
) -> dict:
    """TableStore kwargs for a fully probe-optimized index layout:
    ``TableStore(spark, root, **index_layout(minhash_index_buckets(n),
    minhash_pair_bands(w)))`` — the bucket map plus a within-file sort on
    each table's bucket source column, so ``read_for_keys``'s pushed key
    values also skip row groups via tight min/max statistics
    (see TableStore.sorted_by); optional range bands for the
    append-mostly tables keyed by a growing id."""
    layout: dict = {
        "bucketed": buckets,
        "sorted_by": {t: [src] for t, (src, _) in buckets.items()},
        "driver_bounded": dict(DRIVER_BOUNDED_TABLES),
    }
    if ranges:
        layout["range_partitioned"] = dict(ranges)
        for t, (src, _) in ranges.items():
            layout["sorted_by"].setdefault(t, [src])
    return layout


def build_minhash_index(
    store: TableStore,
    hashed_shingles: DataFrame,
    n_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """Build the dedup index for an initial corpus: band table, shingle
    sets, sizes, and the corpus-internal verified pairs — one multi-table
    commit (crash mid-build is detected via the commit manifest and the
    idempotent re-run converges).  Returns the verified-pair frame
    (materialized) so callers reuse it instead of re-reading
    ``mh_pairs``."""
    hashed = hashed_shingles.cache()
    sh = hashed.select("doc_id", "shingle").distinct().cache()
    bands = band_rows(hashed, n_hashes, band_size).cache()
    sizes = shingle_sizes(sh)
    cands = candidate_pairs(bands)
    # the one expensive derived frame — materialize it (populating the
    # scratch caches on the way) and hand it back to the caller, which
    # previously re-read mh_pairs from the store for the SAME rows
    pairs = verify_candidate_pairs(cands, sh, sizes).localCheckpoint(
        eager=True
    )
    with store.commit_bracket("mh-index-build"):
        try:
            store.overwrite("mh_bands", bands)
            store.overwrite("mh_shingles", sh)
            store.overwrite("mh_sizes", sizes)
            store.overwrite("mh_pairs", pairs)
        finally:
            # drop the scratch caches once all four writes are done
            # (failed ones too)
            store.submit_op(
                lambda: [df.unpersist() for df in (bands, sh, hashed)],
                reads=INDEX_TABLES,
            )
    return pairs


def dedup_increment(
    store: TableStore,
    new_hashed_shingles: DataFrame,
    n_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """Verified near-dup pairs INVOLVING the increment: new-vs-corpus
    plus new-vs-new, with the exact columns/values the full-corpus
    pipeline would produce for those pairs.

    The corpus side is touched by (1) one band-key equi-join against the
    persisted band table and (2) a shingle fetch for candidate docs — no
    corpus-wide shingling, no corpus self-join.  Union the result with
    the stored ``mh_pairs`` to reproduce the full-corpus pair set.

    On a store bucketed with ``minhash_index_buckets`` the corpus-side
    reads are additionally BUCKET-PRUNED (read_for_keys): the band scan
    touches only the bucket dirs the increment's band keys hash into, and
    the shingle/size scans only the buckets of the CANDIDATE docs — so a
    small increment against a huge index reads a fraction of it, at the
    cost of materializing the candidate set early (one extra small
    action).  Results are identical to the unbucketed path.

    REPLAY-SAFE: a crash between ``extend_index`` and the caller's own
    checkpoint (e.g. a streaming micro-batch commit) re-delivers a batch
    the index already absorbed.  The increment is therefore made
    AUTHORITATIVE for its own docs — corpus-side shingle/size rows for
    increment doc ids are anti-joined away — so the unioned frames never
    hold a doc twice (double-counted shingles would produce jaccard
    values outside [0, 1] and corrupt ``mh_pairs`` on the upsert).
    Candidate generation needs no such guard: a replayed doc's corpus
    copy cannot self-pair (``doc_id`` inequality) and duplicate pairs
    collapse in the candidates' ``distinct``.

    Intermediates are ``localCheckpoint``ed rather than ``cache``d: the
    checkpoint RDDs are released by GC when the result frame dies,
    where forgotten cache entries would accumulate across micro-batches
    in a long-lived session.
    """
    new_hashed = new_hashed_shingles.localCheckpoint(eager=True)
    new_sh = (
        new_hashed.select("doc_id", "shingle").distinct().localCheckpoint(eager=True)
    )
    new_ids = new_sh.select("doc_id").distinct()
    new_bands = band_rows(new_hashed, n_hashes, band_size).localCheckpoint(eager=True)
    corpus_bands = store.read_for_keys("mh_bands", new_bands.select("band_key"))
    # out-of-order stores mask retired docs and superseded band rows at
    # read (merge-on-read; see OOO_DROP_TABLES) — both drop sets are
    # bounded by repair volume, hence broadcast
    if store.exists("mh_doc_drops"):
        corpus_bands = corpus_bands.join(
            F.broadcast(store.read("mh_doc_drops")), "doc_id", "left_anti"
        )
    if store.exists("mh_band_drops"):
        corpus_bands = corpus_bands.join(
            F.broadcast(store.read("mh_band_drops")),
            ["doc_id", "band_idx", "band_key"],
            "left_anti",
        )
    cands = candidate_pairs(new_bands, corpus_bands).unionByName(
        candidate_pairs(new_bands)
    ).distinct()
    if "mh_shingles" in store.bucketed or "mh_sizes" in store.bucketed:
        # the candidate set names exactly which corpus docs the verify
        # stage needs — materialize it (verify consumes it twice anyway)
        # and prune the shingle/size scans to those docs' buckets
        cands = cands.localCheckpoint(eager=True)
        cand_docs = cands.select(
            F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
        )
        corpus_sh = store.read_for_keys("mh_shingles", cand_docs)
        corpus_sz = store.read_for_keys("mh_sizes", cand_docs)
    else:
        corpus_sh = store.read("mh_shingles")
        corpus_sz = store.read("mh_sizes")
    corpus_sh = corpus_sh.join(F.broadcast(new_ids), "doc_id", "left_anti")
    corpus_sz = corpus_sz.join(F.broadcast(new_ids), "doc_id", "left_anti")
    if store.exists("mh_doc_drops"):
        drops = F.broadcast(store.read("mh_doc_drops"))
        corpus_sh = corpus_sh.join(drops, "doc_id", "left_anti")
        corpus_sz = corpus_sz.join(drops, "doc_id", "left_anti")
    shingles = corpus_sh.unionByName(new_sh)
    sizes = corpus_sz.unionByName(shingle_sizes(new_sh))
    return verify_candidate_pairs(cands, shingles, sizes)


def extend_index(
    store: TableStore,
    new_hashed_shingles: DataFrame,
    new_pairs: DataFrame,
    n_hashes: int = 8,
    band_size: int = 2,
) -> None:
    """Absorb a processed increment into the index so the NEXT increment
    dedups against it: append the increment's bands/shingles/sizes and
    upsert its verified pairs.  After this, ``mh_pairs`` holds the full
    pair set over everything indexed so far."""
    # ``new_pairs`` (from dedup_increment) lazily SCANS the index tables
    # this function is about to rewrite — materialize it first, or the
    # upsert below would read replaced files (FAILED_READ_FILE).  On a
    # snapshot-isolation store the old version dirs would survive one
    # publish, but plain mode swaps in place, so the checkpoint is the
    # mode-independent contract.
    new_pairs = new_pairs.localCheckpoint(eager=True)
    new_sh = new_hashed_shingles.select("doc_id", "shingle").distinct().cache()
    with store.commit_bracket("mh-index-extend"):
        store.merge_insert_missing(
            "mh_bands",
            band_rows(new_hashed_shingles, n_hashes, band_size),
            ["doc_id", "band_idx"],
        )
        store.merge_insert_missing("mh_shingles", new_sh, ["doc_id", "shingle"])
        store.merge_insert_missing("mh_sizes", shingle_sizes(new_sh), ["doc_id"])
        store.merge_upsert("mh_pairs", new_pairs, ["doc_a", "doc_b"])


def read_pairs(store: TableStore) -> DataFrame:
    """The LIVE corpus pair set: ``mh_pairs`` with out-of-order
    retractions applied (pairs a repair no longer produces, pairs
    touching retired docs) — the read every consumer of the corpus
    pair set should use.  On a monotone-id store the drop tables do
    not exist and this is exactly ``store.read("mh_pairs")``."""
    pairs = store.read("mh_pairs")
    if store.exists("mh_pair_drops"):
        pairs = pairs.join(
            F.broadcast(store.read("mh_pair_drops")),
            ["doc_a", "doc_b"],
            "left_anti",
        )
    if store.exists("mh_doc_drops"):
        drops = store.read("mh_doc_drops").select(
            F.col("doc_id").alias("_drop_id")
        )
        b = F.broadcast(drops)
        pairs = pairs.join(
            b, pairs["doc_a"] == F.col("_drop_id"), "left_anti"
        ).join(b, pairs["doc_b"] == F.col("_drop_id"), "left_anti")
    return pairs


def compact_minhash_drops(store: TableStore) -> None:
    """Fold the accumulated out-of-order retraction masks into the base
    tables — the OPTIMIZE/compaction analog for the merge-on-read drop
    tables: rewrite ``mh_bands``/``mh_shingles``/``mh_sizes``/
    ``mh_pairs`` minus their masked rows, then clear the drop tables,
    all under one commit.

    Merge-on-read keeps per-batch repair cost bounded by the repair
    volume, but the masks are broadcast at every probe — run this when
    their total size approaches the broadcast threshold (amortized
    across many batches, exactly like the layered store's fold).  Reads
    before/after are identical by construction: the rewrite applies the
    same anti-joins the probes were applying (pinned in
    tests/test_ingest.py)."""
    drops = [t for t in OOO_DROP_TABLES if store.exists(t)]
    if not drops:
        return
    with store.commit_bracket("mh-drops-compact"):
        # partition-SCOPED folds (TableStore.prune_keys): each mask rewrites
        # only the bucket/band segments containing its rows — mask-bounded
        # cost, not corpus-bounded.  Folds of DIFFERENT tables overlap;
        # prunes of the SAME table stay in call order.
        doc_drops = (
            store.read("mh_doc_drops") if store.exists("mh_doc_drops") else None
        )

        def _fold_bands() -> None:
            if doc_drops is not None:
                store.prune_keys("mh_bands", doc_drops, ["doc_id"])
            if store.exists("mh_band_drops"):
                store.prune_keys(
                    "mh_bands",
                    store.read("mh_band_drops"),
                    ["doc_id", "band_idx", "band_key"],
                )

        def _fold_pairs() -> None:
            if doc_drops is not None and store.exists("mh_pairs"):
                store.prune_keys(
                    "mh_pairs",
                    doc_drops.select(F.col("doc_id").alias("doc_a")),
                    ["doc_a"],
                )
                store.prune_keys(
                    "mh_pairs",
                    doc_drops.select(F.col("doc_id").alias("doc_b")),
                    ["doc_b"],
                )
            if store.exists("mh_pair_drops"):
                store.prune_keys(
                    "mh_pairs", store.read("mh_pair_drops"), ["doc_a", "doc_b"]
                )

        store.submit_op(
            _fold_bands,
            reads=("mh_bands", "mh_doc_drops", "mh_band_drops"),
            writes=("mh_bands",),
        )
        store.submit_op(
            _fold_pairs,
            reads=("mh_pairs", "mh_doc_drops", "mh_pair_drops"),
            writes=("mh_pairs",),
        )
        if doc_drops is not None:
            store.prune_keys("mh_shingles", doc_drops, ["doc_id"])
            store.prune_keys("mh_sizes", doc_drops, ["doc_id"])
        # each clear writes its drop table, so the scheduler's WAR edges
        # order it after the two folds above that read it when they run
        # (the other prunes' key frames already point at the published
        # version, which stays on disk until this commit publishes)
        for t in drops:
            store.overwrite(t, store.read(t).limit(0))


def retire_from_minhash(store: TableStore, doc_ids: DataFrame) -> DataFrame:
    """Retire docs from the MinHash family via merge-on-read drops:
    their band/shingle/size rows are masked from every future probe and
    their accumulated pairs from every ``read_pairs`` — without
    rewriting the bucketed tables they live in.  ``doc_ids`` (doc_id)
    must be ids that will never re-enter the corpus (out-of-order
    ingest's demoted exact keepers and floor-failed repairs are, by
    construction: a doc id is unique for all time).

    Returns the retracted pair rows (doc_a, doc_b, jaccard) — the
    caller relabels any cluster a ≥-threshold retraction touched
    (operators/ingest._relabel_after_retraction)."""
    spark = doc_ids.sparkSession
    ids = doc_ids.select("doc_id").distinct().localCheckpoint(eager=True)
    store.merge_insert_missing("mh_doc_drops", ids, ["doc_id"])
    touched = spark.range(0).select(
        F.col("id").alias("doc_a"),
        F.col("id").alias("doc_b"),
        F.col("id").cast("double").alias("jaccard"),
    )
    if store.exists("mh_pairs"):
        b = F.broadcast(ids.select(F.col("doc_id").alias("_rid")))
        touched = (
            store.read("mh_pairs")
            .select("doc_a", "doc_b", "jaccard")
            .join(
                b,
                (F.col("doc_a") == F.col("_rid"))
                | (F.col("doc_b") == F.col("_rid")),
                "left_semi",
            )
            .localCheckpoint(eager=True)
        )
        store.merge_insert_missing(
            "mh_pair_drops", touched.select("doc_a", "doc_b"), ["doc_a", "doc_b"]
        )
    return touched


def resign_minhash(
    store: TableStore,
    new_hashed_shingles: DataFrame,
    n_hashes: int = 8,
    band_size: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """Re-signature REPAIRED docs (text changed by a retroactive span
    flag) and rewrite their pair rows; returns ``(new_pairs,
    stale_pairs)`` — the docs' recomputed verified pairs (the caller
    feeds the ≥-threshold subset to ``extend_clusters``) and the
    retracted old rows WITH their old jaccard (the caller relabels the
    components a ≥-threshold retraction touched).

    Mechanics, per table:

    - ``mh_shingles``: full per-doc replace (``sync_children`` scoped by
      doc_id — the table is bucketed by doc_id, so the scope never
      migrates buckets and the replace is partition-local).
    - ``mh_sizes``: keyed upsert.
    - ``mh_bands``: the stale rows live in the OLD band keys' buckets, a
      keyed merge can't reach them — superseded rows (old minus new,
      row-exact) go to ``mh_band_drops``; new rows are inserted keyed by
      all three columns so unchanged bands neither duplicate nor drop;
      re-created keys are removed from the drop table (version safety).
    - ``mh_pairs``: the docs' pairs are recomputed with the SAME probe a
      new increment uses (``dedup_increment`` — the repaired docs are
      authoritative for themselves, drops already masked), then stale
      old pairs (old minus recomputed) go to ``mh_pair_drops``, the
      recomputed set is upserted, and re-created pairs leave the drop
      table.

    Cost: the old-row reads scan ``mh_bands``/``mh_pairs`` filtered by a
    broadcast of the repaired id set — linear in those index tables (4
    rows/doc and the pair set), never in the corpus text; everything
    else is the increment-linear probe."""
    hashed = new_hashed_shingles.localCheckpoint(eager=True)
    ids = hashed.select("doc_id").distinct().localCheckpoint(eager=True)
    b_ids = F.broadcast(ids)

    # pairs are recomputed BEFORE any table rewrite (the probe scans
    # them), but AFTER computing band drops would be wrong the other
    # way — the probe must NOT see the docs' stale bands, so drops go
    # first and the probe's corpus read masks them.
    old_bands = (
        store.read("mh_bands").join(b_ids, "doc_id", "left_semi")
        .localCheckpoint(eager=True)
    )
    new_bands = band_rows(hashed, n_hashes, band_size).localCheckpoint(
        eager=True
    )
    superseded = old_bands.join(
        new_bands, ["doc_id", "band_idx", "band_key"], "left_anti"
    )

    # dedup_increment's probe below reads mh_band_drops and barriers on
    # these writes; the old-pairs materialization overlaps them meanwhile
    store.merge_insert_missing(
        "mh_band_drops", superseded, ["doc_id", "band_idx", "band_key"]
    )
    store.delete_scope(
        "mh_band_drops", new_bands, ["doc_id", "band_idx", "band_key"]
    )

    b_rid = F.broadcast(ids.select(F.col("doc_id").alias("_rid")))
    old_pairs = (
        store.read("mh_pairs")
        .select("doc_a", "doc_b", "jaccard")
        .join(
            b_rid,
            (F.col("doc_a") == F.col("_rid"))
            | (F.col("doc_b") == F.col("_rid")),
            "left_semi",
        )
        .localCheckpoint(eager=True)
    )
    new_sh = hashed.select("doc_id", "shingle").distinct()
    new_pairs = dedup_increment(store, hashed, n_hashes, band_size)
    new_pairs = new_pairs.localCheckpoint(eager=True)

    with store.commit_bracket("mh-resign"):
        store.sync_children("mh_shingles", new_sh, ["doc_id"])
        store.merge_upsert("mh_sizes", shingle_sizes(new_sh), ["doc_id"])
        store.merge_insert_missing(
            "mh_bands", new_bands, ["doc_id", "band_idx", "band_key"]
        )
        stale_pairs = old_pairs.join(
            new_pairs.select("doc_a", "doc_b"), ["doc_a", "doc_b"], "left_anti"
        ).localCheckpoint(eager=True)
        store.merge_insert_missing(
            "mh_pair_drops", stale_pairs.select("doc_a", "doc_b"),
            ["doc_a", "doc_b"],
        )
        store.delete_scope(
            "mh_pair_drops", new_pairs.select("doc_a", "doc_b"),
            ["doc_a", "doc_b"],
        )
        store.merge_upsert("mh_pairs", new_pairs, ["doc_a", "doc_b"])
    return new_pairs, stale_pairs


# ---------------------------------------------------------------------------
# Dup-cluster labels (connected components, incrementally maintained)
# ---------------------------------------------------------------------------


def build_cluster_index(store: TableStore, pairs: DataFrame) -> None:
    """Persist (doc_id, cluster_id) connected-component labels for an
    initial pair set (cluster_id = min doc id of the component, as in
    operators/dedup.connected_components)."""
    from jobcan_data_integrator_spark.operators.dedup import (
        connected_components,
    )

    pairs = pairs.localCheckpoint(eager=True)
    with store.commit_bracket("cc-index-build"):
        # the iterative CC compute AND its write ride the scheduler: inside
        # an orchestrated batch they overlap the other families' writes, and
        # any later cc_labels read barriers automatically
        store.submit_op(
            lambda: store.overwrite(
                "cc_labels",
                connected_components(
                    pairs.select(
                        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
                    )
                ),
            ),
            reads=("cc_labels",),
            writes=("cc_labels",),
        )


def extend_clusters(store: TableStore, new_pairs: DataFrame) -> DataFrame:
    """Merge a batch of new near-dup pairs into the stored labels WITHOUT
    re-clustering the corpus graph.  Returns the label REMAP
    (old_label, new_label) — every cluster whose id changed this batch.
    Each ``old_label`` names a previously-kept doc (the old cluster
    minimum) now demoted by a merge; operators/ingest.py turns those
    into curated-corpus tombstones.

    New edges are projected into label space (each endpoint replaced by
    its current cluster label; unseen nodes keep their own id), connected
    components runs on that LABEL graph — one node per affected cluster
    plus the new nodes, a graph whose size is bounded by the increment,
    not the corpus — and the resulting label→label remap broadcasts onto
    the stored table.  Correctness: component membership is transitive
    union, so contracting already-known components to single nodes
    preserves the final partition, and min-of-mins keeps the global
    min-id labeling (tests pin equivalence with a from-scratch run).

    IDEMPOTENT under replay: re-merging absorbed edges finds every
    endpoint already sharing a label, the label graph has only self-free
    components, and the remap is empty.
    """
    if store.snapshot_isolation and store.is_managed("cc_labels"):
        # DELTA write on a bucketed label table: only the rows whose
        # label actually changed (stored members of remapped clusters,
        # bounded by merge fan-out) plus the increment's new nodes are
        # upserted — the rewrite touches only their buckets, so label
        # maintenance is increment-bounded instead of a corpus-sized
        # overwrite per batch (the scale term behind the ooo-ingest
        # smoke creep).  Reads are increment-bounded too: endpoint-label
        # lookups and the new-node anti-join go through bucket-pruned
        # ``read_for_keys`` on the doc_id-bucketed table; the only
        # remaining corpus-side touch is ONE narrow remapped-member
        # lookup with the remap's old labels pushed as an ``In`` filter
        # (see ``_remapped_members`` for why cluster_id can't bucket-
        # prune here and why a cc_members mirror isn't worth its writes).
        # Unbucketed stores keep the one-pass overwrite below — a keyed
        # upsert there would read+rewrite the whole table anyway, twice.
        changed, remap = _cluster_label_delta(store, new_pairs)
        if changed.head(1):
            with store.commit_bracket("cc-index-extend"):
                store.merge_upsert("cc_labels", changed, ["doc_id"])
        return remap
    out, remap = merged_cluster_labels(store.read("cc_labels"), new_pairs)
    with store.commit_bracket("cc-index-extend"):
        store.overwrite("cc_labels", out)
    return remap


def _pruned_label_reader(store: TableStore):
    """doc_id-keyed label lookup for the delta/probe paths: each call
    scans only the cc_labels buckets the requested doc ids hash into
    (``read_for_keys`` returns a bucket-superset; every caller below
    does its own exact equi-/anti-join, so extra bucket-mates are
    harmless).  Falls back to a plain read on unbucketed stores."""
    return lambda keys: store.read_for_keys("cc_labels", keys, key_col="doc_id")


def _cluster_merge_parts(
    labels_for, new_pairs: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared core of the label merge: project the new edges into label
    space, run CC on the contracted graph, and return
    ``(merged, remap, new_nodes)`` — the label-graph CC result, the
    (old_label, new_label) remap (materialized), and the
    first-seen-this-batch nodes with their final labels.

    ``labels_for(keys_df)`` resolves (doc_id, cluster_id) rows for a
    one-column ``doc_id`` key frame; it may return a SUPERSET of the
    matching rows (bucket-pruned reads do) — every use below is an
    exact join on doc_id.  Pass ``lambda _: labels`` for a pure
    in-memory frame, or ``_pruned_label_reader(store)`` to keep each
    lookup bounded by the increment's bucket fan-out instead of the
    corpus-sized label table."""
    from jobcan_data_integrator_spark.operators.dedup import (
        connected_components,
    )

    e = new_pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    endpoints = (
        e.select(F.col("src").alias("doc_id"))
        .union(e.select(F.col("dst").alias("doc_id")))
        .distinct()
    )
    ep_labels = labels_for(endpoints)
    la = (
        e.join(ep_labels.alias("l1"), e["src"] == F.col("l1.doc_id"), "left")
        .select(
            F.coalesce("l1.cluster_id", "src").alias("src_label"), "dst"
        )
    )
    label_edges = (
        la.join(ep_labels.alias("l2"), la["dst"] == F.col("l2.doc_id"), "left")
        .select(
            F.col("src_label").alias("src"),
            F.coalesce("l2.cluster_id", "dst").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    # connected_components is eager; on an empty/self-only label graph it
    # returns an empty frame and the remap below is a no-op
    merged = connected_components(label_edges)
    remap = merged.select(
        F.col("doc_id").alias("old_label"), F.col("cluster_id").alias("new_label")
    ).filter(F.col("old_label") != F.col("new_label")).localCheckpoint(eager=True)
    # nodes seen for the first time in this batch: their label-space id IS
    # their doc id, so the merged label graph already carries their final
    # label; stored nodes are excluded (they are covered by the remap).
    # Every merged node id is either a stored cluster label (which is its
    # own member, so (L, L) is a stored row) or a raw new doc id — a
    # doc_id-keyed lookup on merged's ids resolves both.
    new_nodes = (
        merged.join(labels_for(merged.select("doc_id")), "doc_id", "left_anti")
        .select("doc_id", "cluster_id")
    )
    return merged, remap, new_nodes


def merged_cluster_labels(
    labels: DataFrame, new_pairs: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """The PURE full-table half of the label merge: merge new near-dup
    edges into an existing (doc_id, cluster_id) label table without
    touching storage.  Returns ``(updated_labels, remap)`` — the
    post-merge label table (materialized via localCheckpoint) and the
    (old_label, new_label) remap of every cluster whose id changed.
    ``extend_clusters`` persists the equivalent result (via the delta
    path on bucketed stores); read-only consumers (``probe_duplicates``)
    use this directly to answer "what WOULD the labels be" without
    mutating the store (bucketed stores have the cheaper
    ``probe_merged_labels``, which never materializes the full table)."""
    merged, remap, new_nodes = _cluster_merge_parts(lambda _: labels, new_pairs)
    updated = (
        labels.join(
            F.broadcast(remap), labels["cluster_id"] == F.col("old_label"), "left"
        )
        .select(
            "doc_id", F.coalesce("new_label", "cluster_id").alias("cluster_id")
        )
    )
    out = updated.unionByName(new_nodes).localCheckpoint(eager=True)
    return out, remap


def probe_merged_labels(
    store: TableStore, new_pairs: DataFrame, probe_ids: DataFrame
) -> DataFrame:
    """Post-merge (doc_id, cluster_id) labels RESTRICTED to
    ``probe_ids`` — what ``merged_cluster_labels(store.read("cc_labels"),
    new_pairs)[0].join(probe_ids, "doc_id")`` would return, computed
    without ever materializing (or, on a bucketed store, scanning) the
    corpus-sized label table.  The read-only consumers
    (``ingest.probe_duplicates``) only need the BATCH docs' labels:

    - probe ids already stored keep their label, remapped through the
      (broadcast, merge-fan-out-bounded) label remap;
    - probe ids not stored appear in the contracted label graph as
      themselves iff they were an edge endpoint, and that graph already
      carries their final label;
    - probe ids that are neither stored nor endpoints have no label —
      exactly the rows the full-table join would drop.

    All label-table reads are doc_id-keyed ``read_for_keys`` lookups
    (bucket-pruned on ``cluster_label_buckets`` layouts; pinned
    equivalent to the full-frame path in tests/test_probe.py)."""
    labels_for = _pruned_label_reader(store)
    merged, remap, _ = _cluster_merge_parts(labels_for, new_pairs)
    ids = probe_ids.select("doc_id")
    stored = ids.join(labels_for(ids), "doc_id")
    relabeled = (
        stored.join(
            F.broadcast(remap),
            stored["cluster_id"] == F.col("old_label"),
            "left",
        )
        .select(
            "doc_id", F.coalesce("new_label", "cluster_id").alias("cluster_id")
        )
    )
    from_merge = (
        ids.join(stored.select("doc_id"), "doc_id", "left_anti")
        .join(merged, "doc_id")
        .select("doc_id", "cluster_id")
    )
    return relabeled.unionByName(from_merge)


def cluster_members(store: TableStore, clusters: DataFrame) -> DataFrame:
    """(doc_id, cluster_id) rows of the given clusters (a one-column
    ``cluster_id`` frame) — the ONE accepted narrow corpus touch of the
    label-maintenance paths.  cc_labels is bucketed by doc_id, so a
    cluster_id-keyed lookup cannot bucket-prune; instead this is a
    2-column column-pruned scan with the cluster ids pushed as an
    ``In`` filter (Parquet row-group stats skip non-matching groups) —
    read-only, shuffle-free, output bounded by the clusters' sizes.  A
    cc_members mirror bucketed by cluster_id would make the read
    cluster-bounded, but every label write (extend, retraction relabel,
    compaction prune) would then pay a second snapshot commit +
    delete/insert pair per batch — and per-family commit overhead, not
    scan volume, dominates ingest cost (BASELINE.md plan audit), so the
    mirror costs more than the scan it saves.  Oversized cluster sets
    (> MAX_PUSHED_KEYS) keep the semi-join over the plain scan."""
    cl = clusters.select("cluster_id").distinct()
    vals = [
        r["cluster_id"]
        for r in cl.limit(store.MAX_PUSHED_KEYS + 1).collect()
    ]
    base = store.read("cc_labels").select("doc_id", "cluster_id")
    if len(vals) <= store.MAX_PUSHED_KEYS:
        base = base.filter(F.col("cluster_id").isin(vals))
    return base.join(F.broadcast(cl), "cluster_id", "leftsemi").select(
        "doc_id", "cluster_id"
    )


def _remapped_members(store: TableStore, remap: DataFrame) -> DataFrame:
    """Stored members of remapped clusters, with their new labels — the
    corpus-side half of the label delta, served by ``cluster_members``'s
    pushed-In scan and relabeled through the broadcast remap."""
    members = cluster_members(
        store, remap.select(F.col("old_label").alias("cluster_id"))
    )
    return members.join(
        F.broadcast(remap), members["cluster_id"] == F.col("old_label")
    ).select("doc_id", F.col("new_label").alias("cluster_id"))


def _cluster_label_delta(
    store: TableStore, new_pairs: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """The DELTA half: only the rows whose label changes — stored
    members of remapped clusters plus the batch's new nodes —
    materialized for a keyed upsert.  ``merge_upsert`` of this frame is
    content-equivalent to overwriting ``merged_cluster_labels``'s full
    table (no row is ever deleted by a merge), at a cost bounded by
    merge fan-out + increment size instead of the corpus.  Label READS
    are increment-bounded too (``_pruned_label_reader``); the single
    remaining corpus touch is ``_remapped_members``'s narrow pushed-In
    scan."""
    merged, remap, new_nodes = _cluster_merge_parts(
        _pruned_label_reader(store), new_pairs
    )
    changed = (
        _remapped_members(store, remap)
        .unionByName(new_nodes)
        .localCheckpoint(eager=True)
    )
    return changed, remap


# ---------------------------------------------------------------------------
# Exact-dedup hash index (content-hash groupBy, incrementally maintained)
# ---------------------------------------------------------------------------


#: exact-dedup index tables: the per-doc hash map is PRIMARY (keyed by
#: doc_id, so replays are idempotent); the group table is derived from
#: it for affected hashes only.  An additive groups-only design would
#: double-count dup_count when a crashed batch replays.
EXACT_TABLES = ("ex_docs", "ex_groups")


def _doc_hashes(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("text_md5")
    )


def _hash_groups(doc_hashes: DataFrame) -> DataFrame:
    return doc_hashes.groupBy("text_md5").agg(
        F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("dup_count")
    )


def build_exact_index(store: TableStore, docs: DataFrame) -> DataFrame:
    """Persist the per-doc content hashes (doc_id, text_md5) and the
    derived dedup groups (text_md5, keep_doc_id, dup_count) for an
    initial corpus of (doc_id, text).  Returns the groups frame
    (materialized), so a caller that needs it — ingest's keeper
    election — reuses the computation instead of reading the table
    back, and inside an orchestrated batch the table writes overlap the
    caller's compute."""
    hashes = _doc_hashes(docs).localCheckpoint(eager=True)
    groups = _hash_groups(hashes).localCheckpoint(eager=True)
    with store.commit_bracket("ex-index-build"):
        store.overwrite("ex_docs", hashes)
        store.overwrite("ex_groups", groups)
    return groups


def exact_increment(store: TableStore, new_docs: DataFrame) -> DataFrame:
    """Up-to-date (text_md5, keep_doc_id, dup_count) groups for every
    hash the increment touches — the corpus side contributes via one
    semi-join of the narrow stored hash map against the increment's hash
    set (the corpus text is never re-hashed).  IDEMPOTENT under replay:
    the groups are a pure function of (stored ∪ increment) doc-hash
    rows, deduped by doc_id, so re-running an already-absorbed batch
    yields the identical frame and the upsert converges.  On a store
    bucketed with ``exact_index_buckets`` the stored-hash scan is
    bucket-pruned to the increment's hash buckets before the
    semi-join."""
    inc = _doc_hashes(new_docs).cache()
    stored = _mask_retracted(
        store, store.read_for_keys("ex_docs", inc.select("text_md5"))
    )
    affected = stored.join(
        F.broadcast(inc.select("text_md5").distinct()), "text_md5", "leftsemi"
    )
    return _hash_groups(affected.unionByName(inc).dropDuplicates(["doc_id"]))


def extend_exact_index(
    store: TableStore, new_docs: DataFrame, merged_groups: DataFrame
) -> None:
    """Absorb an increment: insert its doc hashes (keyed by doc_id, so a
    replay inserts nothing) and upsert the recomputed affected groups
    (materialized first — it scans the tables being rewritten)."""
    merged_groups = merged_groups.localCheckpoint(eager=True)
    with store.commit_bracket("ex-index-extend"):
        store.merge_insert_missing("ex_docs", _doc_hashes(new_docs), ["doc_id"])
        store.merge_upsert("ex_groups", merged_groups, ["text_md5"])


# ---------------------------------------------------------------------------
# SimHash block index (same incremental stance, Hamming-distance dedup)
# ---------------------------------------------------------------------------

#: SimHash index tables: the signature table is the canonical per-doc
#: record; the BLOCK table is the probe target (persisted, not derived
#: at probe time, so a store bucketed by block_val serves an increment's
#: block-key equi-join from only the matching bucket dirs); pairs are
#: the accumulated output.
SIMHASH_TABLES = ("sh_signatures", "sh_blocks", "sh_pairs", "sh_geometry")


def simhash_store_geometry(store: TableStore) -> dict | None:
    """The persisted family's geometry — {limbs, bits_per_limb,
    n_blocks, block_bits} from the one-row ``sh_geometry`` sidecar, or
    None on a store without the family.  Geometry is an INDEX property:
    every signer, prober and extender must read it from here rather
    than assume a width — mixing widths silently drops pairs (the
    failure class ``near_dup_pairs``'s in-row guard exists for)."""
    if not store.exists("sh_geometry"):
        return None
    r = store.read("sh_geometry").head()
    return {
        "limbs": r["limbs"],
        "bits_per_limb": r["bits_per_limb"],
        "n_blocks": r["n_blocks"],
        "block_bits": r["block_bits"],
    }


def _sh_geometry_df(store: TableStore, g: dict) -> DataFrame:
    return store.spark.createDataFrame(
        [(g["limbs"], g["bits_per_limb"], g["n_blocks"], g["block_bits"])],
        "limbs int, bits_per_limb int, n_blocks int, block_bits int",
    )


def _sh_validate_geometry(g: dict) -> None:
    if g["n_blocks"] % g["limbs"]:
        raise ValueError(
            "simhash geometry: limbs must divide n_blocks (blocks never "
            f"straddle limbs), got limbs={g['limbs']} n_blocks={g['n_blocks']}"
        )
    per_limb = g["n_blocks"] // g["limbs"]
    if per_limb * g["block_bits"] > g["bits_per_limb"]:
        raise ValueError(
            f"simhash geometry: {per_limb} blocks x {g['block_bits']} bits "
            f"exceed the {g['bits_per_limb']}-bit limb"
        )


def _sh_is_wide(signatures: DataFrame) -> bool:
    from pyspark.sql.types import ArrayType

    return isinstance(signatures.schema["simhash"].dataType, ArrayType)


def _sh_check_signatures(signatures: DataFrame, g: dict) -> None:
    """Fail loudly when a batch was signed at a different width than
    the store's — the array-vs-long column type carries the limb count
    (one limb ⇔ ``bigint``, the persisted invariant), so the mismatch
    is a schema check, not a data scan."""
    if _sh_is_wide(signatures) != (g["limbs"] > 1):
        want = "array<bigint>" if g["limbs"] > 1 else "bigint"
        raise ValueError(
            f"simhash signatures don't match the store's geometry "
            f"(limbs={g['limbs']} wants a {want} simhash column) — sign "
            "batches with simhash_signatures_at(docs, **stored geometry)"
        )


def _sh_block_rows(signatures: DataFrame, g: dict) -> DataFrame:
    from jobcan_data_integrator_spark.operators.simhash import (
        block_rows,
        block_rows_wide,
    )

    if g["limbs"] == 1:
        return block_rows(signatures, g["n_blocks"], g["block_bits"])
    return block_rows_wide(
        signatures, g["n_blocks"], g["limbs"], g["block_bits"]
    )


def _sh_near_dup_pairs(
    blocks: DataFrame, other: DataFrame | None, g: dict
) -> DataFrame:
    from jobcan_data_integrator_spark.operators.simhash import (
        near_dup_pairs,
        near_dup_pairs_wide,
    )

    if g["limbs"] == 1:
        return near_dup_pairs(
            blocks, other, n_blocks=g["n_blocks"], block_bits=g["block_bits"]
        )
    return near_dup_pairs_wide(
        blocks,
        other,
        n_blocks=g["n_blocks"],
        limbs=g["limbs"],
        block_bits=g["block_bits"],
    )


def build_simhash_index(
    store: TableStore,
    signatures: DataFrame,
    n_blocks: int = 4,
    block_bits: int | None = 15,
    limbs: int | None = None,
    bits_per_limb: int = 60,
) -> None:
    """Persist (doc_id, simhash), the pigeonhole block table, the
    corpus-internal near-dup pairs (doc_a, doc_b, hamming), and the
    one-row ``sh_geometry`` sidecar for an initial corpus.

    Width-generic (r11): signatures may be single-``bigint`` (one limb)
    or ``array<bigint>`` (``simhash_signatures_wide`` — the persisted
    layout past single-long saturation at ~410k docs).  ``limbs=None``
    infers the count from the column type; ``block_bits=None`` derives
    the width from the corpus count at build time
    (``simhash.derived_block_bits`` at the full fingerprint width — the
    quadratic-control scaling rule made automatic).  Probes and extends
    read the persisted geometry, so nothing downstream re-guesses the
    width; re-signing at a new geometry is ``resign_simhash_index``.

    Signatures are deduped on doc_id first: near_dup_pairs removes
    block-level duplicates with an in-row min-block predicate (no
    terminal distinct), so duplicate doc_id rows in the input (e.g. a
    replayed ingest) would otherwise persist duplicate
    (doc_a, doc_b, hamming) rows into sh_pairs."""
    from jobcan_data_integrator_spark.operators.simhash import (
        derived_block_bits,
    )

    sig = signatures.dropDuplicates(["doc_id"])
    if limbs is None:
        if not _sh_is_wide(sig):
            limbs = 1
        else:
            head = sig.select(F.size("simhash").alias("n")).head()
            if head is None:
                raise ValueError(
                    "build_simhash_index: cannot infer limbs from an "
                    "empty array-signature frame — pass limbs explicitly"
                )
            limbs = head["n"]
    if limbs == 1 and _sh_is_wide(sig):
        # persisted invariant: one limb ⇔ bigint column (the column
        # type IS the limb count for every later schema check)
        sig = sig.withColumn("simhash", F.element_at("simhash", 1))
    sig = sig.cache()
    if block_bits is None:
        block_bits = derived_block_bits(
            sig.count(), bits=limbs * bits_per_limb, n_blocks=n_blocks
        )
    g = {
        "limbs": limbs,
        "bits_per_limb": bits_per_limb,
        "n_blocks": n_blocks,
        "block_bits": block_bits,
    }
    _sh_validate_geometry(g)
    blocks = _sh_block_rows(sig, g).cache()
    pairs = _sh_near_dup_pairs(blocks, None, g)
    with store.commit_bracket("sh-index-build"):
        try:
            store.overwrite("sh_signatures", sig)
            store.overwrite("sh_blocks", blocks)
            store.overwrite("sh_pairs", pairs)
            store.overwrite("sh_geometry", _sh_geometry_df(store, g))
        finally:
            # drop the scratch caches once the writes are done
            store.submit_op(
                lambda: [df.unpersist() for df in (blocks, sig)],
                reads=tuple(SIMHASH_TABLES),
            )


def _sh_geometry(store: TableStore) -> dict:
    """``simhash_store_geometry``, raising on a store without the
    ``sh_geometry`` sidecar (``build_simhash_index`` and
    ``resign_simhash_index`` always write it)."""
    g = simhash_store_geometry(store)
    if g is None:
        raise ValueError(
            f"store {store.root} has no sh_geometry sidecar — build the "
            "SimHash family with build_simhash_index first"
        )
    return g


def simhash_increment(store: TableStore, new_signatures: DataFrame) -> DataFrame:
    """Near-dup pairs INVOLVING the increment (new-vs-corpus ∪
    new-vs-new) — union with stored ``sh_pairs`` to reproduce the full
    corpus's pair set.  The corpus side is one block-key equi-join
    against the persisted block table — bucket-pruned to the
    increment's block values on a store bucketed with
    ``simhash_index_buckets`` — so per-batch scan and shuffle volume is
    bounded by the candidate set, not the corpus.  Replay of an absorbed
    batch is benign here: a doc's corpus copy cannot self-pair and
    duplicate pairs collapse in the final ``distinct`` (Hamming is a
    pure per-pair function, not a count over unioned rows).

    Runs at the store's persisted ``sh_geometry`` (raises without it);
    ``new_signatures`` must be signed at that geometry
    (``simhash_signatures_at``) — the column type is checked."""
    g = _sh_geometry(store)
    _sh_check_signatures(new_signatures, g)
    new_blocks = _sh_block_rows(new_signatures, g).localCheckpoint(eager=True)
    corpus_blocks = store.read_for_keys(
        "sh_blocks", new_blocks.select("block_val")
    )
    return _sh_near_dup_pairs(new_blocks, corpus_blocks, g).unionByName(
        _sh_near_dup_pairs(new_blocks, None, g)
    ).distinct()


def extend_simhash_index(
    store: TableStore,
    new_signatures: DataFrame,
    new_pairs: DataFrame,
) -> None:
    """Absorb a processed increment: append signatures + their block
    rows, upsert pairs — at the store's persisted geometry (see
    ``simhash_increment``).  ``new_pairs`` AND ``new_signatures`` are
    materialized first — both may lazily scan tables this function
    rewrites (new_pairs via the probe, new_signatures via any
    caller-side derivation), and the second merge would otherwise
    re-evaluate ``sig`` against files the first merge replaced."""
    g = _sh_geometry(store)
    _sh_check_signatures(new_signatures, g)
    new_pairs = new_pairs.localCheckpoint(eager=True)
    sig = new_signatures.localCheckpoint(eager=True)
    with store.commit_bracket("sh-index-extend"):
        store.merge_insert_missing("sh_signatures", sig, ["doc_id"])
        store.merge_insert_missing(
            "sh_blocks", _sh_block_rows(sig, g), ["doc_id", "b"]
        )
        store.merge_upsert("sh_pairs", new_pairs, ["doc_a", "doc_b"])


def resign_simhash_index(
    store: TableStore,
    docs: DataFrame | None = None,
    *,
    limbs: int | None = None,
    n_blocks: int | None = None,
    block_bits: int | None = None,
    bits_per_limb: int | None = None,
) -> dict:
    """Move the persisted family to a NEW geometry (returns it).  The
    maintenance half of the scaling rule: ``derived_block_bits`` widens
    blocks as the corpus grows, and past single-long saturation the
    fingerprint itself must widen (more limbs) — this is the operation
    that applies either change to a live store.  Omitted parameters
    keep the current value; ``block_bits=None`` re-derives from the
    stored corpus count at the (new) fingerprint width.

    Cost is geometry-aware, which is what makes routine widening cheap:

    - **Fingerprint unchanged** (same limbs × bits_per_limb, same
      n_blocks — only ``block_bits`` moves): signatures AND pairs are
      reused as-is.  The pair set is {hamming ≤ n_blocks−1}, which is
      block-width-INDEPENDENT (pigeonhole completeness holds at every
      width; width only controls candidate volume), so only the block
      table is rebuilt — one linear re-block of the signature table,
      no pair join.  This is the common "corpus grew 10×, widen the
      blocks" maintenance call.
    - **Fingerprint changed** (limbs or bits_per_limb): every stored
      hamming distance is redefined, so ``docs`` — the FULL stored
      corpus as (doc_id, text) — is required; signatures are recomputed
      at the new width and the whole family rebuilds.  A missing-doc
      guard fails the call rather than silently dropping corpus rows.
    - **n_blocks changed** (fingerprint same): signatures are reused,
      but the hamming bound n_blocks−1 moved, so pairs rebuild from the
      re-blocked table.
    """
    from jobcan_data_integrator_spark.operators.simhash import (
        derived_block_bits,
        simhash_signatures_at,
    )

    old = _sh_geometry(store)
    new = {
        "limbs": limbs if limbs is not None else old["limbs"],
        "bits_per_limb": (
            bits_per_limb if bits_per_limb is not None else old["bits_per_limb"]
        ),
        "n_blocks": n_blocks if n_blocks is not None else old["n_blocks"],
    }
    stored_sig = store.read("sh_signatures")
    if block_bits is None:
        block_bits = derived_block_bits(
            stored_sig.count(),
            bits=new["limbs"] * new["bits_per_limb"],
            n_blocks=new["n_blocks"],
        )
    new["block_bits"] = block_bits
    _sh_validate_geometry(new)

    fingerprint_changed = (new["limbs"], new["bits_per_limb"]) != (
        old["limbs"],
        old["bits_per_limb"],
    )
    if fingerprint_changed:
        if docs is None:
            raise ValueError(
                "resign_simhash_index: changing the fingerprint width "
                f"({old['limbs']}x{old['bits_per_limb']} -> "
                f"{new['limbs']}x{new['bits_per_limb']}) redefines every "
                "hamming distance — pass the full stored corpus as docs"
            )
        missing = (
            stored_sig.select("doc_id")
            .join(docs.select("doc_id"), "doc_id", "left_anti")
            .count()
        )
        if missing:
            raise ValueError(
                f"resign_simhash_index: docs is missing {missing} stored "
                "doc_ids — a partial re-sign would silently drop them"
            )
        sig = simhash_signatures_at(
            docs, new["limbs"], new["bits_per_limb"]
        ).join(stored_sig.select("doc_id"), "doc_id", "leftsemi")
        build_simhash_index(
            store,
            sig,
            n_blocks=new["n_blocks"],
            block_bits=new["block_bits"],
            limbs=new["limbs"],
            bits_per_limb=new["bits_per_limb"],
        )
        return new

    blocks = _sh_block_rows(stored_sig, new).localCheckpoint(eager=True)
    with store.commit_bracket("sh-index-resign"):
        store.overwrite("sh_blocks", blocks)
        store.overwrite("sh_geometry", _sh_geometry_df(store, new))
        if new["n_blocks"] != old["n_blocks"]:
            store.overwrite("sh_pairs", _sh_near_dup_pairs(blocks, None, new))
    return new


def maybe_widen_simhash_index(
    store: TableStore,
    docs: DataFrame | None = None,
    *,
    target_candidates_per_doc: float = 8.0,
) -> dict | None:
    """Widen the persisted geometry iff the stored corpus has outgrown
    it — the SimHash twin of ``maybe_compact_store`` /
    ``maybe_refresh_codebooks``: call it after (a batch of) extends and
    the family re-signs itself past the saturation point the module
    docstring documents (~410k docs for the single-long layout) instead
    of sliding into quadratic candidate volume.  The check is one count
    of the signature table plus ``derived_geometry``; it only ever
    GROWS the width (a shrunken corpus keeps its wide fingerprint —
    harmless).  ``docs`` (the full stored corpus) is required only when
    the limb count must grow; a blocks-only widening runs without it.
    Returns the new geometry when a resign ran, else None."""
    from jobcan_data_integrator_spark.operators.simhash import (
        derived_geometry,
    )

    g = _sh_geometry(store)
    n = store.read("sh_signatures").count()
    want_limbs, want_bits = derived_geometry(
        n,
        n_blocks=g["n_blocks"],
        bits_per_limb=g["bits_per_limb"],
        target_candidates_per_doc=target_candidates_per_doc,
    )
    if want_limbs < g["limbs"] or (
        want_limbs == g["limbs"] and want_bits <= g["block_bits"]
    ):
        return None
    if want_limbs > g["limbs"] and docs is None:
        raise ValueError(
            f"maybe_widen_simhash_index: the corpus ({n} docs) needs "
            f"{want_limbs} limbs but the store holds {g['limbs']} — pass "
            "the full stored corpus as docs to re-sign the fingerprint"
        )
    return resign_simhash_index(
        store,
        docs if want_limbs > g["limbs"] else None,
        limbs=want_limbs,
        block_bits=want_bits,
    )


# ---------------------------------------------------------------------------
# IVF cell-assignment index (incremental ANN indexing)
# ---------------------------------------------------------------------------

#: IVF index tables: trained codebook + per-vector cell assignments.
IVF_TABLES = ("ivf_codebook", "ivf_assignments")


def build_ivf_index(
    store: TableStore, emb: DataFrame, n_cells: int = 16, iters: int = 2
) -> None:
    """Train the k-means codebook on the initial corpus and persist it
    with the corpus's cell assignments.  The codebook is FROZEN at build
    time — increments are assigned under it (the standard IVF stance:
    retrain offline when drift accumulates, never per batch)."""
    from jobcan_data_integrator_spark.operators.similarity import (
        assign_cells,
        quantized_expr,
        train_ivf_centroids,
    )

    cent, _ = train_ivf_centroids(emb, n_cells=n_cells, iters=iters)
    # NOT the trainer's returned assignment: Lloyd's last half-step
    # assigns under the PRE-update codebook (that is what the new
    # centroids are computed from).  The index serves the FINAL codebook,
    # so assignments are recomputed under it — the same per-row map an
    # increment gets, which is exactly what makes stored ∪ increment
    # equal a one-pass assignment of everything.  The embedding rides
    # along so ``ann_search_indexed`` probes read vectors directly from
    # the assignment table (at warehouse scale: partitioned by cell_id,
    # so a probe scans n_probe/n_cells of the data).
    assign = assign_cells(
        emb.select(
            "vec_id", "embedding", quantized_expr("embedding").alias("q")
        ),
        cent,
        keep=("embedding",),
    )
    assign = assign.localCheckpoint(eager=True)
    with store.commit_bracket("ivf-index-build"):
        store.overwrite("ivf_codebook", cent)
        store.overwrite("ivf_assignments", assign)
        store.overwrite(
            IVF_CELL_STATS,
            assign.groupBy("cell_id").agg(F.count("*").alias("n_vecs")),
        )


def assign_increment(store: TableStore, new_emb: DataFrame) -> DataFrame:
    """(vec_id, embedding, cell_id) for new vectors under the persisted
    codebook — a pure broadcast-codebook map (zero shuffle, the
    assign_cells shape), so indexing an increment costs one narrow pass
    over the increment."""
    from jobcan_data_integrator_spark.operators.similarity import (
        assign_cells,
        quantized_expr,
    )

    vq = new_emb.select(
        "vec_id", "embedding", quantized_expr("embedding").alias("q")
    )
    return assign_cells(vq, store.read("ivf_codebook"), keep=("embedding",))


def extend_ivf_index(store: TableStore, new_assignments: DataFrame) -> None:
    """Absorb an assigned increment into the assignment table, updating
    the affected cells' occupancy stats (the drift signal) in the same
    commit."""
    new_assignments = new_assignments.localCheckpoint(eager=True)
    stats = _cell_stat_rows(store, new_assignments)
    with store.commit_bracket("ivf-index-extend"):
        store.merge_insert_missing("ivf_assignments", new_assignments, ["vec_id"])
        store.merge_upsert(IVF_CELL_STATS, stats, ["cell_id"])


#: advisory sidecar (deliberately NOT in IVF_TABLES — retraction /
#: compaction sweeps must not treat it as index state): per-cell LIVE
#: vector counts, maintained for the AFFECTED cells at build / extend /
#: refresh time so the codebook-drift signal (``ivf_drift_stats``) is an
#: O(n_cells) read instead of a per-check corpus aggregation.  Vector
#: retractions between extends leave counts stale until the next
#: extend / refresh touches their cells — the signal is an advisory
#: maintenance TRIGGER, and ``refresh_embedding_codebooks`` (its
#: consumer) rebuilds the counts exactly.
IVF_CELL_STATS = "ivf_cell_stats"

#: refresh when the live mass is as concentrated as a uniform corpus
#: over HALF the cells (normalized HHI ≥ 2), or when any single cell
#: holds 4× its uniform share — either way the frozen codebook has
#: drifted far enough that IVF probes re-rank multiples of their
#: intended candidate volume.
DRIFT_SKEW_THRESHOLD = 2.0
DRIFT_MAX_SHARE_FACTOR = 4.0


def _cell_stat_rows(store: TableStore, inc_assign: DataFrame) -> DataFrame:
    """Exact post-extend (cell_id, n_vecs) for the increment's cells:
    stored live rows in those cells plus the increment's genuinely-new
    vec_ids.  Replay-safe by the same argument as merge_insert_missing —
    an already-stored vec_id re-assigns to the SAME cell under the
    frozen codebook, so the anti-join drops exactly the rows the insert
    skips.  Cost is bounded by the affected cells' populations
    (partition-pruned when ``ivf_assignments`` is declared
    hive-partitioned by cell_id), never the corpus."""
    corpus = store.read("ivf_assignments")
    if store.exists(IVF_CELL_STATS):
        cells_df = inc_assign.select("cell_id").distinct()
        if "ivf_assignments" in store.partitioned:
            cells = [r[0] for r in cells_df.collect()]
            corpus = corpus.filter(F.col("cell_id").isin(cells))
        else:
            corpus = corpus.join(F.broadcast(cells_df), "cell_id", "leftsemi")
    # else: first maintenance touch on a store built before the sidecar
    # existed — count EVERY cell once (an affected-cells-only upsert
    # would create a partial table), after which updates stay bounded
    corpus = _mask_emb_retracted(store, corpus)
    fresh = inc_assign.join(corpus.select("vec_id"), "vec_id", "left_anti")
    return (
        corpus.select("cell_id")
        .unionAll(fresh.select("cell_id"))
        .groupBy("cell_id")
        .agg(F.count("*").alias("n_vecs"))
        .localCheckpoint(eager=True)
    )


def ivf_drift_stats(store: TableStore) -> dict[str, float]:
    """The codebook-drift signal: live-vector occupancy skew over the
    frozen IVF cells.  Returns ``n_cells`` (codebook size), ``n_vecs``
    (live vectors counted), ``live_cells``, ``empty_cells``,
    ``max_share`` (largest cell's fraction) and ``skew`` — the
    normalized Herfindahl index ``n_cells · Σ share²``: 1.0 for a
    perfectly balanced corpus, ``n_cells`` when one cell holds
    everything.  Reads the O(n_cells) ``ivf_cell_stats`` sidecar, which
    every writer of ``ivf_assignments`` (build, extend, semantic extend,
    refresh) writes in the same commit.  Feed to
    ``should_refresh_codebooks`` or threshold directly."""
    n_cells = store.read("ivf_codebook").count()
    row = store.read(IVF_CELL_STATS).agg(
        F.coalesce(F.sum("n_vecs"), F.lit(0)).alias("n"),
        F.coalesce(F.max("n_vecs"), F.lit(0)).alias("mx"),
        F.coalesce(F.sum(F.col("n_vecs") * F.col("n_vecs")), F.lit(0)).alias(
            "sq"
        ),
        F.count("*").alias("live"),
    ).first()
    n, mx, sq, live = row["n"], row["mx"], row["sq"], row["live"]
    return {
        "n_cells": float(n_cells),
        "n_vecs": float(n),
        "live_cells": float(live),
        "empty_cells": float(n_cells - live),
        "max_share": (mx / n) if n else 0.0,
        "skew": (n_cells * sq / (n * n)) if n else 1.0,
    }


def maybe_refresh_codebooks(
    store: TableStore,
    *,
    skew_threshold: float = DRIFT_SKEW_THRESHOLD,
    max_share_factor: float = DRIFT_MAX_SHARE_FACTOR,
    **refresh_kwargs,
) -> bool:
    """Run ``refresh_embedding_codebooks`` iff the drift signal fires —
    the codebook twin of ``ingest.maybe_compact_store``: the check costs
    one O(n_cells) read of the occupancy sidecar (no assignment-table
    scan), so callers can invoke it after every extend (or cron it) and
    pay the corpus-sized retrain only when the frozen codebook has
    actually drifted past the documented thresholds.  Returns True when
    a refresh ran.  No-op on stores without the IVF family (PQ-only
    stores have no occupancy signal to threshold — cron their refresh)."""
    if not store.exists("ivf_codebook"):
        return False
    if not should_refresh_codebooks(
        store,
        skew_threshold=skew_threshold,
        max_share_factor=max_share_factor,
    ):
        return False
    refresh_embedding_codebooks(store, **refresh_kwargs)
    return True


def should_refresh_codebooks(
    store: TableStore,
    *,
    skew_threshold: float = DRIFT_SKEW_THRESHOLD,
    max_share_factor: float = DRIFT_MAX_SHARE_FACTOR,
) -> bool:
    """The maintenance-policy decision ``refresh_embedding_codebooks``'s
    docstring defers to ("run it on a drift signal or a cron"): True
    when the occupancy skew crosses either documented threshold.  Call
    it after (a batch of) extends — the check is O(n_cells) — and run
    the refresh when it fires; the rebuilt codebook re-balances the
    cells and the signal resets (pinned in tests/test_codebook_refresh)."""
    s = ivf_drift_stats(store)
    return (
        s["skew"] >= skew_threshold
        or s["max_share"] >= max_share_factor / s["n_cells"]
    )


def ann_search_indexed(
    store: TableStore,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    *,
    exclude_self: bool = True,
    exclude: DataFrame | None = None,
    restrict_to: DataFrame | None = None,
) -> DataFrame:
    """(q_id, vec_id, cosine_sim) top-k over the PERSISTED IVF index —
    the serving path: queries probe their ``n_probe`` best cells under
    the stored codebook (broadcast, zero shuffle on the corpus side) and
    re-rank only the vectors assigned to those cells, read straight from
    the assignment table.  No corpus-wide assignment recompute — that
    already happened at build/extend time.  Declare the assignment table
    hive-partitioned (``TableStore(..., partitioned={"ivf_assignments":
    ["cell_id"]})``) and the probe is PARTITION-PRUNED: the probed cell
    set is collected (≤ n_probe × queries, a serving-path action) and
    pushed as a partition filter, so each search scans ~n_probe/n_cells
    of the table instead of all of it.  Results match ``ann_topk_ivf``
    run with the stored codebook exactly (same rounded-cosine + vec_id
    ranking) in either layout.

    ``exclude_self`` (default True — the corpus-internal near-dup
    shape): drop the hit whose vec_id EQUALS the query's id.  Pass
    False when query ids live in a DIFFERENT id space than the corpus
    (e.g. hybrid_search_curated's external q_ids): a numeric collision
    between a query id and a corpus vec_id must not silently drop that
    vector.  ``exclude`` (a vec_id frame) masks corpus vectors BEFORE
    the top-k cut — the liveness lever (same contract as
    bm25_query_indexed's exclude), so a caller needing k LIVE hits gets
    k, not k minus however many masked rows made the cut.  ``exclude``
    is for BROADCAST-SMALL sets (it anti-joins broadcast); when the
    allowed set is the corpus-sized one (e.g. "vectors of live curated
    docs", hybrid_search_curated), pass it as ``restrict_to`` instead —
    a left-semi join applied pre-cut, which Spark plans as an ordinary
    keyed join on the cell-pruned candidate set."""
    from jobcan_data_integrator_spark.operators.similarity import (
        cosine_expr,
        probe_cells,
        quantized_expr,
    )
    from pyspark.sql.window import Window

    cent = store.read("ivf_codebook")
    assign = _mask_emb_retracted(store, store.read("ivf_assignments"))
    if exclude is not None:
        assign = assign.join(
            F.broadcast(exclude.select("vec_id")), "vec_id", "left_anti"
        )
    if restrict_to is not None:
        assign = assign.join(
            restrict_to.select("vec_id"), "vec_id", "leftsemi"
        )
    probe = probe_cells(
        queries.select("vec_id", quantized_expr("embedding").alias("q")),
        cent,
        n_probe,
    ).withColumnRenamed("vec_id", "q_id")
    if "ivf_assignments" in store.partitioned:
        # checkpoint, not cache: serving calls repeat, and forgotten
        # cache entries would accumulate (GC reclaims checkpoint RDDs)
        probe = probe.localCheckpoint(eager=True)
        cells = [r[0] for r in probe.select("cell_id").distinct().collect()]
        assign = assign.filter(F.col("cell_id").isin(cells))
    q_emb = queries.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    sims = F.broadcast(probe).join(assign, "cell_id")
    if exclude_self:
        sims = sims.filter(F.col("vec_id") != F.col("q_id"))
    sims = sims.join(F.broadcast(q_emb), "q_id").withColumn(
        "cosine_sim", cosine_expr("q_emb", "embedding")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "vec_id", "cosine_sim")
    )


# ---------------------------------------------------------------------------
# Embedding LSH-bucket index (cosine near-dup, the 4th index family)
# ---------------------------------------------------------------------------

#: embedding index tables: vectors + their per-band LSH buckets + pairs.
EMBEDDING_TABLES = ("eb_vectors", "eb_buckets", "eb_pairs")


def build_embedding_index(
    store: TableStore,
    emb: DataFrame,
    threshold: float = 0.3,
    n_planes: int = 8,
    dim: int = 64,
    n_bands: int = 1,
) -> None:
    """Persist (vec_id, embedding), the per-band bucket table, and the
    corpus-internal near-dup pairs for an initial corpus."""
    from jobcan_data_integrator_spark.operators.similarity import (
        bucket_rows,
        embedding_near_dup_pairs,
    )

    emb = emb.cache()
    pairs = embedding_near_dup_pairs(emb, threshold, n_planes, dim, n_bands)
    with store.commit_bracket("eb-index-build"):
        try:
            store.overwrite("eb_vectors", emb)
            store.overwrite(
                "eb_buckets",
                bucket_rows(emb, n_planes, dim, n_bands).select(
                    "vec_id", "band", "bucket"
                ),
            )
            store.overwrite("eb_pairs", pairs)
        finally:
            # drop the scratch cache once the writes are done
            store.submit_op(emb.unpersist, reads=tuple(EMBEDDING_TABLES))


def embedding_increment(
    store: TableStore,
    new_emb: DataFrame,
    threshold: float = 0.3,
    n_planes: int = 8,
    dim: int = 64,
    n_bands: int = 1,
) -> DataFrame:
    """(vec_a, vec_b, cosine_sim) near-dup pairs INVOLVING the increment
    — union with stored ``eb_pairs`` to reproduce the full corpus's pair
    set.  Candidates come from one (band, bucket) equi-join against the
    persisted bucket table plus the increment's self-join; embeddings are
    fetched for candidate ids only (ids-only dedup first, the same
    vector-movement discipline as embedding_near_dup_pairs).

    REPLAY-SAFE like ``dedup_increment``: corpus-side vectors for
    increment vec_ids are anti-joined away before the union, so a
    re-delivered batch the index already absorbed cannot double-match
    the embedding fetch join (which would emit duplicate pair rows)."""
    from jobcan_data_integrator_spark.operators.similarity import (
        bucket_rows,
        cosine_expr,
    )

    new_emb = new_emb.localCheckpoint(eager=True)
    new_b = (
        bucket_rows(new_emb, n_planes, dim, n_bands)
        .select("vec_id", "band", "bucket")
        .localCheckpoint(eager=True)
    )
    # bucket-pruned on a store bucketed with ``embedding_index_buckets``:
    # the corpus bucket table is scanned only where the increment's LSH
    # bucket values hash, and vectors are fetched only from the candidate
    # ids' buckets (plain read on an unbucketed store, same results)
    corpus_b = _mask_emb_retracted(
        store, store.read_for_keys("eb_buckets", new_b.select("bucket"))
    )
    a = new_b.alias("a")
    cross = (
        a.join(
            corpus_b.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.least(F.col("a.vec_id"), F.col("b.vec_id")).alias("vec_a"),
            F.greatest(F.col("a.vec_id"), F.col("b.vec_id")).alias("vec_b"),
        )
    )
    within = (
        a.join(
            new_b.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
    )
    cand = cross.unionByName(within).distinct()
    if "eb_vectors" in store.bucketed:
        cand = cand.localCheckpoint(eager=True)
        cand_ids = cand.select(
            F.explode(F.array("vec_a", "vec_b")).alias("vec_id")
        )
        corpus_vecs = store.read_for_keys("eb_vectors", cand_ids)
    else:
        corpus_vecs = store.read("eb_vectors")
    corpus_vecs = _mask_emb_retracted(store, corpus_vecs).join(
        F.broadcast(new_emb.select("vec_id")), "vec_id", "left_anti"
    )
    vecs = corpus_vecs.unionByName(new_emb)
    return (
        cand.join(vecs.alias("va"), F.col("vec_a") == F.col("va.vec_id"))
        .join(vecs.alias("vb"), F.col("vec_b") == F.col("vb.vec_id"))
        .select(
            "vec_a",
            "vec_b",
            cosine_expr("va.embedding", "vb.embedding").alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def extend_embedding_index(
    store: TableStore,
    new_emb: DataFrame,
    new_pairs: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    n_bands: int = 1,
) -> None:
    """Absorb a processed increment: append vectors + buckets, upsert
    pairs (materialized first — it scans the tables being rewritten)."""
    from jobcan_data_integrator_spark.operators.similarity import bucket_rows

    new_pairs = new_pairs.localCheckpoint(eager=True)
    with store.commit_bracket("eb-index-extend"):
        store.merge_insert_missing("eb_vectors", new_emb, ["vec_id"])
        store.merge_insert_missing(
            "eb_buckets",
            bucket_rows(new_emb, n_planes, dim, n_bands).select(
                "vec_id", "band", "bucket"
            ),
            ["vec_id", "band"],
        )
        store.merge_upsert("eb_pairs", new_pairs, ["vec_a", "vec_b"])


# ---------------------------------------------------------------------------
# Semantic-dedup pair index (SemDeDup over the IVF assignments, the 6th
# incremental family — closes the loop: IVF cells -> within-cell cosine
# pairs -> cluster-label maintenance via extend_clusters)
# ---------------------------------------------------------------------------

#: semantic index tables: the IVF tables carry the geometry; sd_pairs
#: accumulates the within-cell near-dup pairs.
SEMANTIC_TABLES = ("ivf_codebook", "ivf_assignments", "sd_pairs")


def _cell_pairs(a: DataFrame, b: DataFrame | None, threshold: float) -> DataFrame:
    """(vec_a, vec_b, cosine_sim) for vectors sharing a cell.  One frame:
    within-set (vec_a < vec_b).  Two frames: cross pairs normalized to
    (least, greatest) — the split composition matches the full corpus's
    pair set exactly because cell assignment is per-row deterministic."""
    from jobcan_data_integrator_spark.operators.similarity import (
        cosine_from_parts,
        norm_sq_expr,
    )

    # squared norms computed below the join (once per input row, not
    # once per candidate pair); cosine_from_parts is bit-identical to
    # cosine_expr, so persisted sd_pairs values are unchanged
    sided_a = a.withColumn("_nsq", norm_sq_expr("embedding"))
    fa = sided_a.alias("a")
    cos = cosine_from_parts(
        "a.embedding", "b.embedding", "a._nsq", "b._nsq"
    ).alias("cosine_sim")
    if b is None:
        fb = sided_a.alias("b")
        cond = (F.col("a.cell_id") == F.col("b.cell_id")) & (
            F.col("a.vec_id") < F.col("b.vec_id")
        )
        sel = [
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos,
        ]
    else:
        fb = b.withColumn("_nsq", norm_sq_expr("embedding")).alias("b")
        cond = (F.col("a.cell_id") == F.col("b.cell_id")) & (
            F.col("a.vec_id") != F.col("b.vec_id")
        )
        sel = [
            F.least(F.col("a.vec_id"), F.col("b.vec_id")).alias("vec_a"),
            F.greatest(F.col("a.vec_id"), F.col("b.vec_id")).alias("vec_b"),
            cos,
        ]
    return (
        fa.join(fb, cond)
        .select(*sel)
        .filter(F.col("cosine_sim") >= threshold)
        .distinct()
    )


def build_semantic_index(
    store: TableStore,
    emb: DataFrame,
    n_cells: int = 16,
    iters: int = 2,
    threshold: float = 0.95,
) -> None:
    """SemDeDup as a PERSISTED index: train the frozen codebook, assign
    the corpus, and store the corpus-internal within-cell near-dup pairs
    — `semantic_increment` then processes each ingest batch against it
    instead of re-running `semantic_dedup` corpus-wide."""
    build_ivf_index(store, emb, n_cells=n_cells, iters=iters)
    assign = store.read("ivf_assignments")
    with store.commit_bracket("sd-index-build"):
        store.overwrite("sd_pairs", _cell_pairs(assign, None, threshold))


def semantic_increment(
    store: TableStore, new_emb: DataFrame, threshold: float = 0.95
) -> DataFrame:
    """Within-cell near-dup pairs INVOLVING the increment (new-vs-corpus
    ∪ new-vs-new) under the stored frozen codebook — union with
    ``sd_pairs`` to reproduce the full corpus's pair set.

    The corpus side is one cell_id equi-join against the persisted
    assignment table — partition-pruned to the increment's cells when
    the store declares ``partitioned={"ivf_assignments": ["cell_id"]}``
    — so per-batch cost is bounded by the increment's cells' populations,
    not the corpus.  REPLAY-SAFE like its siblings (corpus copies of
    increment ids are anti-joined away).  Feed the result to
    ``extend_semantic_index`` and then ``extend_clusters`` to maintain
    keep/drop labels without a corpus re-cluster.
    """
    inc = assign_increment(store, new_emb).localCheckpoint(eager=True)
    corpus = store.read("ivf_assignments")
    if "ivf_assignments" in store.partitioned:
        cells = [r[0] for r in inc.select("cell_id").distinct().collect()]
        corpus = corpus.filter(F.col("cell_id").isin(cells))
    corpus = _mask_emb_retracted(store, corpus).join(
        F.broadcast(inc.select("vec_id")), "vec_id", "left_anti"
    )
    return _cell_pairs(inc, corpus, threshold).unionByName(
        _cell_pairs(inc, None, threshold)
    ).distinct()


def extend_semantic_index(
    store: TableStore, new_emb: DataFrame, new_pairs: DataFrame
) -> None:
    """Absorb a processed increment: insert its assignments (computed
    under the stored codebook), upsert its pairs."""
    new_pairs = new_pairs.localCheckpoint(eager=True)
    inc = assign_increment(store, new_emb).localCheckpoint(eager=True)
    stats = _cell_stat_rows(store, inc)
    with store.commit_bracket("sd-index-extend"):
        store.merge_insert_missing("ivf_assignments", inc, ["vec_id"])
        store.merge_upsert("sd_pairs", new_pairs, ["vec_a", "vec_b"])
        store.merge_upsert(IVF_CELL_STATS, stats, ["cell_id"])


# ---------------------------------------------------------------------------
# Span-hash index (incremental ExactSubstr dedup — the 7th family)
# ---------------------------------------------------------------------------

#: span-dedup index tables: the occurrence table is the canonical
#: per-(doc, pos) record — bucketed by span hash so an increment's
#: affected-hash read is pruned; the hash table carries the global
#: occurrence count + first-occurrence key (the probe target); the flag
#: table accumulates removal decisions.  Flags are MONOTONE: ``n_occ``
#: only grows and ``min_key`` only shrinks, so an occurrence once
#: flagged stays flagged and absorption is an insert-missing, never a
#: retraction.
SPAN_TABLES = ("sp_occs", "sp_hashes", "sp_flags")

#: span-mask segment sidecar (deliberately NOT in SPAN_TABLES): the
#: (doc_id, h) pairs of every retraction SINCE THE LAST FOLD, recorded
#: by retract_documents from the span hashes it computes anyway.
#: compact_store passes the h column as prune_keys' segment hint, so
#: the sp_occs doc-mask fold rewrites only the buckets the retracted
#: docs' hashes map into — mask-bounded, where the unhinted fold's
#: affected-bucket semi-join scan was the residual data-linear term
#: (BASELINE.md r8).  Cleared (per folded doc) at fold time; the
#: doc_id column makes completeness CHECKABLE — compact uses the hint
#: only when every unfolded masked doc appears here (a retraction run
#: with span=None falls back to the scan, never to a wrong fold).
SPAN_MASK_HASHES = "sp_mask_hashes"


def span_index_buckets(n: int = 64) -> dict[str, tuple[str, int]]:
    return {
        "sp_occs": ("h", n),
        "sp_hashes": ("h", n),
        "sp_flags": ("doc_id", n),
    }


def _span_occ_rows(docs: DataFrame, span: int) -> DataFrame:
    """(doc_id, pos, h, _key): span occurrences + the packed global
    first-occurrence ordering key (doc_id * 2^20 + pos)."""
    from jobcan_data_integrator_spark.operators.dedup import (
        _SPAN_POS_BITS,
        _span_occurrences,
    )

    occ = _span_occurrences(docs, span, "doc_id", "text")
    return occ.withColumn(
        "_key",
        (F.col("doc_id").cast("bigint") * (1 << _SPAN_POS_BITS)) + F.col("pos"),
    )


def _span_hash_groups(occ: DataFrame) -> DataFrame:
    return occ.groupBy("h").agg(
        F.count("*").alias("n_occ"), F.min("_key").alias("min_key")
    )


def _span_flags(occ: DataFrame, groups: DataFrame) -> DataFrame:
    """(doc_id, pos): the non-first occurrences of duplicated hashes —
    what the ExactSubstr pass removes."""
    return (
        occ.join(groups, "h")
        .filter((F.col("n_occ") > 1) & (F.col("_key") != F.col("min_key")))
        .select("doc_id", "pos")
        .distinct()
    )


def build_span_index(
    store: TableStore, docs: DataFrame, span: int = 8
) -> DataFrame:
    """Persist the span-dedup index for an initial (doc_id, text) corpus:
    occurrences, per-hash occurrence stats, and the flagged (removable)
    occurrence set.  Returns the flag frame (materialized) so callers
    reuse it instead of reading ``sp_flags`` back."""
    occ = _span_occ_rows(docs, span).cache()
    groups = _span_hash_groups(occ).cache()
    # materializing the flags populates both scratch caches on the way
    flags = _span_flags(occ, groups).localCheckpoint(eager=True)
    with store.commit_bracket("sp-index-build"):
        try:
            store.overwrite("sp_occs", occ)
            store.overwrite("sp_hashes", groups)
            store.overwrite("sp_flags", flags)
        finally:
            # drop the scratch caches once the writes are done
            store.submit_op(
                lambda: [df.unpersist() for df in (groups, occ)],
                reads=SPAN_TABLES,
            )
    return flags


def span_increment(
    store: TableStore, new_docs: DataFrame, span: int = 8
) -> tuple[DataFrame, DataFrame]:
    """(merged_hashes, flags) for every span hash the increment touches.

    ``merged_hashes`` is the up-to-date (h, n_occ, min_key) for affected
    hashes; ``flags`` is (doc_id, pos) — every occurrence of an affected
    hash that is now removable, which covers BOTH the increment's
    non-first occurrences AND any corpus occurrence retroactively
    demoted because the increment introduced an earlier key (replays and
    out-of-order ids need no special case: the result is a pure function
    of (stored ∪ increment) occurrences deduped by (doc_id, pos)).

    Scale shape: the corpus side is touched via ONE bucket-pruned read
    of ``sp_occs`` for the increment's hash set (``span_index_buckets``
    buckets it by ``h``), then an equi-semi-join; cost is linear in the
    increment times its hash fan-out, never in the corpus."""
    inc = _span_occ_rows(new_docs, span).cache()
    stored = _mask_retracted(
        store, store.read_for_keys("sp_occs", inc.select("h"))
    )
    affected = stored.join(
        F.broadcast(inc.select("h").distinct()), "h", "leftsemi"
    )
    union = affected.unionByName(inc).dropDuplicates(["doc_id", "pos"])
    groups = _span_hash_groups(union)
    return groups, _span_flags(union, groups)


def extend_span_index(
    store: TableStore,
    new_docs: DataFrame,
    merged_hashes: DataFrame,
    flags: DataFrame,
    span: int = 8,
) -> None:
    """Absorb an increment: insert its occurrences (keyed by
    (doc_id, pos), so a replay inserts nothing), upsert the recomputed
    affected hash stats, and insert the new flags (monotone — flags are
    never retracted, so insert-missing converges under replay).  Both
    inputs are materialized first: they scan the tables being
    rewritten."""
    merged_hashes = merged_hashes.localCheckpoint(eager=True)
    flags = flags.localCheckpoint(eager=True)
    has_drops = store.exists(FLAG_DROPS)
    with store.commit_bracket("sp-index-extend"):
        store.merge_insert_missing(
            "sp_occs", _span_occ_rows(new_docs, span), ["doc_id", "pos"]
        )
        store.merge_upsert("sp_hashes", merged_hashes, ["h"])
        store.merge_insert_missing("sp_flags", flags, ["doc_id", "pos"])
        if has_drops:
            # a flag retracted by a past retraction and now re-asserted
            # (the span re-duplicated) is present-but-masked in sp_flags —
            # the insert is a keyed no-op there, so unmask it too
            store.delete_scope(FLAG_DROPS, flags, ["doc_id", "pos"])


# ---------------------------------------------------------------------------
# n-gram LM count index (the 8th family: perplexity scoring at ingest)
# ---------------------------------------------------------------------------

#: LM index tables: the three count tables keyed by the 60-bit n-gram
#: hash, the one-row totals, and the absorbed-batch ledger that makes
#: the (inherently non-idempotent) additive count merge exactly-once.
LM_TABLES = ("lm_uni", "lm_bi", "lm_tri", "lm_tot", "lm_batches")


def lm_index_buckets(n: int = 64) -> dict[str, tuple[str, int]]:
    """Bucket the count tables by the n-gram hash so an increment's
    probe (``perplexity_increment``) scans only the bucket dirs its
    n-gram keys hash into."""
    return {"lm_uni": ("h", n), "lm_bi": ("h", n), "lm_tri": ("h", n)}


def build_lm_index(store: TableStore, docs: DataFrame) -> None:
    """Persist a Stupid-Backoff trigram LM (operators/lm.train_ngram_lm)
    trained on an initial trusted corpus of (doc_id, text)."""
    from jobcan_data_integrator_spark.operators.lm import train_ngram_lm

    lm = train_ngram_lm(docs)
    with store.commit_bracket("lm-index-build"):
        store.overwrite("lm_uni", lm.uni)
        store.overwrite("lm_bi", lm.bi)
        store.overwrite("lm_tri", lm.tri)
        store.overwrite("lm_tot", lm.totals)
        store.overwrite(
            "lm_batches",
            docs.sparkSession.range(1).select(
                F.lit("lm-index-build").alias("batch_id")
            ),
        )


def lm_from_store(store: TableStore):
    """The persisted LM as an operators/lm.NgramLM over full-table reads
    (use ``perplexity_increment`` for the bucket-pruned probe)."""
    from jobcan_data_integrator_spark.operators.lm import NgramLM

    return NgramLM(
        tri=store.read("lm_tri"),
        bi=store.read("lm_bi"),
        uni=store.read("lm_uni"),
        totals=store.read("lm_tot"),
    )


def perplexity_increment(
    store: TableStore,
    new_docs: DataFrame,
    cuts: tuple[float, float] = (-1.0, -1.5),
) -> DataFrame:
    """Score an increment against the PERSISTED LM — the CCNet filter
    applied at ingest time, without touching the training corpus.

    On a store bucketed with ``lm_index_buckets`` each count table is
    read bucket-pruned to the increment's own n-gram keys
    (TableStore.read_for_keys), so probe cost is linear in the INCREMENT
    times its key fan-out, never in the stored vocabulary.  The pruned
    reads are supersets of the matching count rows, and the scoring
    joins do the exact filtering — so the result is identical to scoring
    against the full tables (pinned in tests)."""
    from jobcan_data_integrator_spark.operators.lm import (
        NgramLM,
        _keyed_rows,
        perplexity,
    )

    keyed = _keyed_rows(new_docs).localCheckpoint(eager=False)
    lm = NgramLM(
        tri=store.read_for_keys(
            "lm_tri", keyed.select(F.col("t_h").alias("h")), "h"
        ),
        bi=store.read_for_keys(
            "lm_bi",
            keyed.select(
                F.explode(F.array("b12_h", "b23_h")).alias("h")
            ),
            "h",
        ),
        uni=store.read_for_keys(
            "lm_uni",
            keyed.select(F.explode(F.array("u2_h", "u3_h")).alias("h")),
            "h",
        ),
        totals=store.read("lm_tot"),
    )
    return perplexity(new_docs, lm, cuts=cuts)


def extend_lm_index(
    store: TableStore, new_docs: DataFrame, batch_id: str
) -> None:
    """Absorb a trusted increment into the persisted LM: counts merge by
    key-SUM (n-gram counts are corpus-additive — pinned in test_lm), the
    totals row adds the increment's tokens and its genuinely-new vocab.

    An additive merge is NOT an idempotent write, so this family cannot
    ride the plain-mode manifest contract (the commit manifest's
    "re-running the batch converges" assumes replays overwrite, not
    re-add).  Two guards make it exactly-once anyway:

    - the store MUST be in snapshot-isolation mode (raises otherwise):
      a crash before the commit publishes leaves nothing visible, so
      the replay recomputes from the untouched pre-batch tables;
    - ``lm_batches`` records every absorbed ``batch_id`` inside the same
      commit, so a batch REDELIVERED after a successful publish (e.g. a
      streaming retry whose checkpoint lagged) is detected and skipped.

    The merge itself touches the corpus tables via ONE bucket-pruned
    read per level (the increment's keys), sums the affected rows with
    the increment's counts, and upserts those keys only — linear in the
    increment at any stored-vocabulary size."""
    from jobcan_data_integrator_spark.operators.lm import train_ngram_lm

    if not store.snapshot_isolation:
        raise ValueError(
            "extend_lm_index needs a snapshot-isolation TableStore: "
            "additive count merges only replay safely when the whole "
            "batch publishes atomically"
        )
    if (
        store.exists("lm_batches")
        and store.read("lm_batches")
        .filter(F.col("batch_id") == batch_id)
        .limit(1)
        .count()
        > 0
    ):
        return  # already absorbed — redelivery, not a new increment
    inc = train_ngram_lm(new_docs)
    # totals inputs FIRST: after lm_uni's upsert below, a same-batch
    # read resolves the pending merged version (a batch reads its own
    # writes) and the anti-join would see zero new vocabulary.
    new_vocab = (
        inc.uni.select("h")
        .join(
            store.read_for_keys("lm_uni", inc.uni.select("h")).select("h"),
            "h",
            "left_anti",
        )
        .count()
    )
    inc_tokens = inc.totals.first()["n_tokens"]
    old = store.read("lm_tot").first()
    with store.commit_bracket(batch_id):

        def _level(table: str, counts: DataFrame) -> None:
            counts = counts.localCheckpoint(eager=True)
            stored = store.read_for_keys(table, counts.select("h")).join(
                F.broadcast(counts.select("h").distinct()), "h", "leftsemi"
            )
            merged = (
                stored.unionByName(counts)
                .groupBy("h")
                .agg(F.sum("c").cast("bigint").alias("c"))
                .localCheckpoint(eager=True)
            )
            store.merge_upsert(table, merged, ["h"])

        # the three count levels touch disjoint tables — each level's whole
        # probe+merge rides the scheduler as one op
        for table, counts in (
            ("lm_uni", inc.uni),
            ("lm_bi", inc.bi),
            ("lm_tri", inc.tri),
        ):
            store.submit_op(
                lambda t=table, c=counts: _level(t, c),
                reads=(table,),
                writes=(table,),
            )
        store.overwrite(
            "lm_tot",
            new_docs.sparkSession.range(1).select(
                F.lit(old["n_tokens"] + inc_tokens).cast("bigint").alias("n_tokens"),
                F.lit(old["n_vocab"] + new_vocab).cast("bigint").alias("n_vocab"),
            ),
        )
        store.merge_insert_missing(
            "lm_batches",
            new_docs.sparkSession.range(1).select(F.lit(batch_id).alias("batch_id")),
            ["batch_id"],
        )


# ---------------------------------------------------------------------------
# Boilerplate line-stats index (incremental line-level cleaning — the
# 9th family): persist per-line-hash document frequencies so each
# ingest batch cleans ITSELF against the accumulated corpus stats and
# then adds its own counts, without ever rescanning stored text.
# ---------------------------------------------------------------------------

LINE_TABLES = ("bl_stats", "bl_batches")


def line_index_buckets(n: int = 64) -> dict[str, tuple[str, int]]:
    """Bucket the stats by line hash so an increment's probe scans only
    the bucket dirs its own lines hash into."""
    return {"bl_stats": ("line_hash", n)}


def build_line_index(
    store: TableStore,
    docs: DataFrame,
    min_line_chars: int | None = None,
    batch_id: str = "bl-index-build",
) -> None:
    """Persist (line_hash, df) for an initial corpus of (doc_id, text)
    — one map-side-combined aggregation (operators/lines.py).

    ``batch_id`` is recorded in ``bl_batches`` so a caller replaying the
    SAME initial batch (e.g. the first micro-batch of a stream) can
    detect the build already absorbed it."""
    from jobcan_data_integrator_spark.operators import lines as L

    mc = L.DEFAULT_MIN_LINE_CHARS if min_line_chars is None else min_line_chars
    with store.commit_bracket(batch_id):
        store.overwrite(
            "bl_stats", L.boilerplate_line_stats(docs, min_line_chars=mc)
        )
        store.overwrite(
            "bl_batches",
            docs.sparkSession.range(1).select(F.lit(batch_id).alias("batch_id")),
        )


def clean_increment(
    store: TableStore,
    new_docs: DataFrame,
    max_doc_freq: int | None = None,
    min_line_chars: int | None = None,
    include_increment: bool = True,
) -> DataFrame:
    """Remove boilerplate lines from an increment using the PERSISTED
    corpus stats (+ the increment's own contribution when
    ``include_increment``): identical output to running
    remove_boilerplate_lines over (stored corpus ∪ increment) restricted
    to the increment's docs — pinned in tests/test_incremental_lines.py.

    Only hashes PRESENT in the increment can remove any of its lines,
    so the stored side contributes through one bucket-pruned
    ``read_for_keys`` on the increment's line hashes — probe cost is
    linear in the increment at any stored-corpus size, and the corpus
    text itself is never touched (the stats table is the whole
    interface)."""
    from jobcan_data_integrator_spark.operators import lines as L

    mdf = L.DEFAULT_MAX_DOC_FREQ if max_doc_freq is None else max_doc_freq
    mc = L.DEFAULT_MIN_LINE_CHARS if min_line_chars is None else min_line_chars
    inc = L.boilerplate_line_stats(new_docs, min_line_chars=mc).localCheckpoint(
        eager=True
    )
    stored = store.read_for_keys(
        "bl_stats", inc.select("line_hash"), "line_hash"
    ).join(F.broadcast(inc.select("line_hash").distinct()), "line_hash", "leftsemi")
    both = stored.unionByName(inc) if include_increment else stored
    merged = both.groupBy("line_hash").agg(
        F.sum("df").cast("bigint").alias("df")
    )
    return L.remove_boilerplate_lines(
        new_docs,
        max_doc_freq=mdf,
        min_line_chars=mc,
        stats=merged,
    )


def extend_line_index(
    store: TableStore,
    new_docs: DataFrame,
    batch_id: str,
    min_line_chars: int | None = None,
) -> None:
    """Absorb an increment's line counts: key-SUM merge of the affected
    hashes only (document frequencies are corpus-additive).  Same
    exactly-once contract as extend_lm_index — additive merges require
    a snapshot-isolation store (a crash publishes nothing) and
    ``bl_batches`` makes a redelivered batch a no-op."""
    from jobcan_data_integrator_spark.operators import lines as L

    if not store.snapshot_isolation:
        raise ValueError(
            "extend_line_index needs a snapshot-isolation TableStore: "
            "additive count merges only replay safely when the whole "
            "batch publishes atomically"
        )
    if (
        store.exists("bl_batches")
        and store.read("bl_batches")
        .filter(F.col("batch_id") == batch_id)
        .limit(1)
        .count()
        > 0
    ):
        return  # already absorbed — redelivery, not a new increment
    mc = L.DEFAULT_MIN_LINE_CHARS if min_line_chars is None else min_line_chars
    inc = L.boilerplate_line_stats(new_docs, min_line_chars=mc).localCheckpoint(
        eager=True
    )
    stored = store.read_for_keys(
        "bl_stats", inc.select("line_hash"), "line_hash"
    ).join(F.broadcast(inc.select("line_hash").distinct()), "line_hash", "leftsemi")
    merged = (
        stored.unionByName(inc)
        .groupBy("line_hash")
        .agg(F.sum("df").cast("bigint").alias("df"))
        .localCheckpoint(eager=True)
    )
    with store.commit_bracket(batch_id):
        store.merge_upsert("bl_stats", merged, ["line_hash"])
        store.merge_insert_missing(
            "bl_batches",
            new_docs.sparkSession.range(1).select(F.lit(batch_id).alias("batch_id")),
            ["batch_id"],
        )


# ---------------------------------------------------------------------------
# PQ code index (compressed ANN serving — the 10th family): persist the
# trained product-quantization codebook and every vector's codes so ADC
# search runs against ~8-byte rows, and each ingest batch encodes
# itself against the FROZEN codebook (the standard PQ stance: the
# codebook trains once on a representative sample; re-training would
# silently invalidate every stored code).
# ---------------------------------------------------------------------------

PQ_TABLES = ("pq_codebooks", "pq_codes")


def pq_index_buckets(n: int = 64) -> dict[str, tuple[str, int]]:
    """Bucket the codes by vec_id (point lookups / joins prune); the
    codebook is m*k rows — below any useful bucketing."""
    return {"pq_codes": ("vec_id", n)}


def build_pq_index(
    store: TableStore, emb: DataFrame, m: int = 8, k: int = 16, iters: int = 2
) -> None:
    """Train the PQ codebook on the initial corpus and persist it with
    every vector's codes (operators/pq.py)."""
    from jobcan_data_integrator_spark.operators.pq import pq_encode, train_pq

    cb = train_pq(emb, m=m, k=k, iters=iters).localCheckpoint(eager=True)
    with store.commit_bracket("pq-index-build"):
        store.overwrite("pq_codebooks", cb)
        store.overwrite("pq_codes", pq_encode(emb, cb, m=m))


def encode_pq_increment(store: TableStore, new_emb: DataFrame) -> DataFrame:
    """(vec_id, codes) for an increment against the STORED frozen
    codebook — a pure map over the increment (the corpus is never
    touched; the codebook is the whole interface)."""
    from jobcan_data_integrator_spark.operators.pq import pq_encode

    cb = store.read("pq_codebooks")
    m = cb.select(F.max("sub")).first()[0] + 1
    return pq_encode(new_emb, cb, m=m)


def extend_pq_index(store: TableStore, new_codes: DataFrame) -> None:
    """Absorb an increment's codes — keyed by vec_id, so replays insert
    nothing (plain idempotent-merge contract, no batch ledger needed)."""
    new_codes = new_codes.localCheckpoint(eager=True)
    with store.commit_bracket("pq-index-extend"):
        store.merge_insert_missing("pq_codes", new_codes, ["vec_id"])


def refresh_embedding_codebooks(
    store: TableStore,
    *,
    ivf_cells: int | None = None,
    ivf_iters: int = 2,
    pq_m: int | None = None,
    pq_k: int | None = None,
    pq_iters: int = 2,
) -> dict[str, int]:
    """Retrain the FROZEN trained aggregates — the IVF k-means codebook
    and the PQ sub-codebooks — on the store's CURRENT live vectors and
    rebuild their per-vector tables under the new codebooks, atomically.

    The standard IVF/PQ stance freezes codebooks at build time and
    assigns increments under them (``assign_increment`` /
    ``encode_pq_increment``); as the corpus drifts away from the
    training distribution, cell balance and ADC quality decay.  This is
    the amortized offline maintenance call that closes that loop — the
    codebook sibling of ``compact_store``: run it on a drift signal or
    a cron, NOT per batch.  Cost is corpus-sized BY DESIGN (one
    training pass + one assignment/encode pass over the live vectors);
    every serving path picks up the new codebooks atomically at the
    single snapshot publish.

    Equivalence contract (tests/test_codebook_refresh.py): after any
    sequence of builds, extends, and vector retractions, the refreshed
    ``ivf_codebook``/``ivf_assignments``/``pq_codebooks``/``pq_codes``
    equal a from-scratch ``build_ivf_index``/``build_pq_index`` over
    the surviving vectors — exactly, because the integer k-means is
    bit-stable (train_ivf_centroids) and retraction masks are applied
    to the training input.

    Defaults re-use each family's current geometry (cell count from
    ``ivf_codebook``, ``m``/``k`` from ``pq_codebooks``); pass explicit
    values when cells have dropped out and the original geometry should
    be restored.  The LSH family (``eb_*``) has no trained state — its
    hyperplanes are data-independent — so it is left untouched, as is
    the ``emb_retractions`` mask (folded by ``compact_store``)."""
    from jobcan_data_integrator_spark.operators.pq import pq_encode, train_pq
    from jobcan_data_integrator_spark.operators.similarity import (
        assign_cells,
        quantized_expr,
        train_ivf_centroids,
    )

    has_ivf = store.exists("ivf_codebook")
    has_pq = store.exists("pq_codebooks")
    if not has_ivf and not has_pq:
        raise ValueError(
            "refresh_embedding_codebooks: store has neither the IVF nor "
            "the PQ family (the LSH family's hyperplanes are "
            "data-independent and never need retraining)"
        )
    if has_ivf:
        src = store.read("ivf_assignments").select("vec_id", "embedding")
    elif store.exists("eb_vectors"):
        src = store.read("eb_vectors").select("vec_id", "embedding")
    else:
        raise ValueError(
            "refresh_embedding_codebooks: no vector-bearing family to "
            "retrain from (pq_codes stores codes only) — keep the IVF "
            "assignments or the LSH vector table alongside PQ"
        )
    live = (
        _mask_emb_retracted(store, src)
        .dropDuplicates(["vec_id"])
        .localCheckpoint(eager=True)
    )

    summary: dict[str, int] = {"n_vectors": live.count()}
    with store.commit_bracket("codebook-refresh"):
        if has_ivf:
            n_cells = ivf_cells or store.read("ivf_codebook").count()
            cent, _ = train_ivf_centroids(
                live, n_cells=n_cells, iters=ivf_iters
            )
            cent = cent.localCheckpoint(eager=True)
            assign = assign_cells(
                live.select(
                    "vec_id",
                    "embedding",
                    quantized_expr("embedding").alias("q"),
                ),
                cent,
                keep=("embedding",),
            ).localCheckpoint(eager=True)
            store.overwrite("ivf_codebook", cent)
            store.overwrite("ivf_assignments", assign)
            # exact occupancy rebuild: the refresh is what RESETS the
            # drift signal (ivf_drift_stats)
            store.overwrite(
                IVF_CELL_STATS,
                assign.groupBy("cell_id").agg(F.count("*").alias("n_vecs")),
            )
            summary["ivf_cells"] = cent.count()
        if has_pq:
            cur = store.read("pq_codebooks")
            m = pq_m or cur.agg(F.max("sub")).first()[0] + 1
            k = (
                pq_k
                or cur.groupBy("sub").count().agg(F.max("count")).first()[0]
            )
            cb = train_pq(live, m=m, k=k, iters=pq_iters).localCheckpoint(
                eager=True
            )
            store.overwrite("pq_codebooks", cb)
            store.overwrite("pq_codes", pq_encode(live, cb, m=m))
            summary["pq_m"], summary["pq_k"] = m, k
    return summary


def pq_search_indexed(
    store: TableStore, queries: DataFrame, k: int = 5
) -> DataFrame:
    """ADC top-k served entirely from the persisted index — codes +
    codebook, never the embeddings (operators/pq.pq_search)."""
    from jobcan_data_integrator_spark.operators.pq import pq_search

    return pq_search(
        _mask_emb_retracted(store, store.read("pq_codes")),
        store.read("pq_codebooks"),
        queries,
        k=k,
    )


def ivfpq_search_indexed(
    store: TableStore, queries: DataFrame, k: int = 5, n_probe: int = 2
) -> DataFrame:
    """IVFPQ served from TWO persisted families: the IVF coarse
    quantizer's codebook + cell assignments (``ivf_codebook`` /
    ``ivf_assignments``) prune candidates to the probed cells, and the PQ
    family's codes + codebook ADC-score them — embeddings are read for
    the QUERIES only.  On a store bucketed by vec_id the codes fetch
    for candidates is additionally bucket-pruned."""
    from jobcan_data_integrator_spark.operators.pq import ann_topk_ivfpq

    return ann_topk_ivfpq(
        _mask_emb_retracted(store, store.read("pq_codes")),
        store.read("ivf_assignments").select("vec_id", "cell_id"),
        store.read("pq_codebooks"),
        store.read("ivf_codebook"),
        queries,
        k=k,
        n_probe=n_probe,
    )
