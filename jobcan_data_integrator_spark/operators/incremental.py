"""Incremental (new-vs-corpus) deduplication and ANN indexing over
persisted index tables — three incremental families (exact-dedup
hashes, MinHash bands with cluster labels, ExactSubstr span hashes) and
two built ANN families (IVF cell assignments and PQ codes, retrained
together by ``refresh_embedding_codebooks``).

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

#: merge-on-read retraction tables for ingest's late-batch repairs
#: (operators/ingest.py) — the lakehouse
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
#: All three are bounded by late-batch REPAIR volume, not the corpus;
#: a store whose batches arrived in id order never creates them and
#: every read path checks existence first (zero cost when absent).
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
RETRACT_MASK_TABLES = (DOC_RETRACTIONS, FLAG_DROPS)


def _mask_retracted(store: TableStore, df: DataFrame) -> DataFrame:
    """Anti-join the doc-retraction mask (no-op when absent)."""
    if store.exists(DOC_RETRACTIONS):
        df = df.join(
            F.broadcast(store.read(DOC_RETRACTIONS)), "doc_id", "left_anti"
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
    checkpoint (e.g. ``ingest_increment``'s batch ledger commit)
    re-delivers a batch the index already absorbed.  The increment is
    therefore made AUTHORITATIVE for its own docs — corpus-side
    shingle/size rows for increment doc ids are anti-joined away — so
    the unioned frames never hold a doc twice (double-counted shingles
    would produce jaccard values outside [0, 1] and corrupt
    ``mh_pairs`` on the upsert).
    Candidate generation needs no such guard: a replayed doc's corpus
    copy cannot self-pair (``doc_id`` inequality) and duplicate pairs
    collapse in the candidates' ``distinct``.

    Intermediates are ``localCheckpoint``ed rather than ``cache``d: the
    checkpoint RDDs are released by GC when the result frame dies,
    where forgotten cache entries would accumulate across batches
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
    # lazy checkpoint, not cache: GC releases it with the frame, where a
    # cache entry nothing unpersists would pin it for the session
    new_sh = (
        new_hashed_shingles.select("doc_id", "shingle")
        .distinct()
        .localCheckpoint(eager=False)
    )
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
    # GC-released lazy checkpoint (see extend_index), not a cache entry
    inc = _doc_hashes(new_docs).localCheckpoint(eager=False)
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
# IVF cell-assignment index (ANN indexing)
# ---------------------------------------------------------------------------


def build_ivf_index(
    store: TableStore, emb: DataFrame, n_cells: int = 16, iters: int = 2
) -> None:
    """Train the k-means codebook on the initial corpus and persist it
    with the corpus's cell assignments.  The codebook is FROZEN at build
    time (the standard IVF stance: retrain offline with
    ``refresh_embedding_codebooks``, never per batch)."""
    from jobcan_data_integrator_spark.operators.similarity import (
        assign_cells,
        quantized_expr,
        train_ivf_centroids,
    )

    cent, _ = train_ivf_centroids(emb, n_cells=n_cells, iters=iters)
    # NOT the trainer's returned assignment: Lloyd's last half-step
    # assigns under the PRE-update codebook (that is what the new
    # centroids are computed from).  The index serves the FINAL codebook,
    # so assignments are recomputed under it — the same per-row map the
    # codebook refresh applies.  The embedding rides along so the
    # refresh reads vectors directly from the assignment table.
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


# ---------------------------------------------------------------------------
# Span-hash index (incremental ExactSubstr dedup)
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
    # GC-released lazy checkpoint (see extend_index), not a cache entry
    inc = _span_occ_rows(new_docs, span).localCheckpoint(eager=False)
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
# PQ code index (compressed ANN serving): persist the trained
# product-quantization codebook and every vector's codes so ADC search
# runs against ~8-byte rows.  The codebook is FROZEN (re-training would
# silently invalidate every stored code), so it is only retrained
# together with the codes, by ``refresh_embedding_codebooks``.
# ---------------------------------------------------------------------------


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

    The standard IVF/PQ stance freezes codebooks at build time; as the
    corpus drifts away from the training distribution, cell balance and
    ADC quality decay.  This is the amortized offline maintenance call
    that closes that loop — the codebook sibling of ``compact_store``:
    run it on a drift signal or a cron, NOT per batch.  Cost is corpus-sized BY DESIGN (one
    training pass + one assignment/encode pass over the live vectors);
    every serving path picks up the new codebooks atomically at the
    single snapshot publish.

    Equivalence contract (tests/test_codebook_refresh.py): after a
    build at any geometry, the refreshed
    ``ivf_codebook``/``ivf_assignments``/``pq_codebooks``/``pq_codes``
    equal a from-scratch ``build_ivf_index``/``build_pq_index`` over
    the stored vectors — exactly, because the integer k-means is
    bit-stable (train_ivf_centroids).

    Defaults re-use each family's current geometry (cell count from
    ``ivf_codebook``, ``m``/``k`` from ``pq_codebooks``); pass explicit
    values when cells have dropped out and the original geometry should
    be restored.  The vectors come from ``ivf_assignments`` (``pq_codes``
    stores codes only), so a PQ-only store is refused."""
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
            "the PQ family"
        )
    if not has_ivf:
        raise ValueError(
            "refresh_embedding_codebooks: no vector-bearing family to "
            "retrain from (pq_codes stores codes only) — keep the IVF "
            "assignments alongside PQ"
        )
    live = (
        store.read("ivf_assignments")
        .select("vec_id", "embedding")
        .dropDuplicates(["vec_id"])
        .localCheckpoint(eager=True)
    )

    summary: dict[str, int] = {"n_vectors": live.count()}
    with store.commit_bracket("codebook-refresh"):
        n_cells = ivf_cells or store.read("ivf_codebook").count()
        cent, _ = train_ivf_centroids(live, n_cells=n_cells, iters=ivf_iters)
        cent = cent.localCheckpoint(eager=True)
        assign = assign_cells(
            live.select(
                "vec_id", "embedding", quantized_expr("embedding").alias("q")
            ),
            cent,
            keep=("embedding",),
        ).localCheckpoint(eager=True)
        store.overwrite("ivf_codebook", cent)
        store.overwrite("ivf_assignments", assign)
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

