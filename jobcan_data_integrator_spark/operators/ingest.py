"""Orchestrated incremental ingest: ONE call per arriving document
batch that runs the full curation pipeline against the persisted index
families and absorbs the batch into every configured index — under one
commit.

``curate_corpus`` (operators/curate.py) is the ONE-SHOT composition; a
production corpus is not ingested one-shot, it arrives in batches, and
re-curating the whole corpus per batch is quadratic over the pipeline's
lifetime.  ``ingest_increment`` is the batch-arrival analog: each stage
consults the matching incremental index family (operators/
incremental.py) instead of the corpus, so per-batch cost is linear in
the INCREMENT, and then extends that family so the NEXT batch sees this
one.  The stages are curate_corpus's PII scrub and dedup stages, in its
order:

    PII scrub -> exact dedup (vs ex_docs) -> ExactSubstr span removal
    (vs sp_occs) -> MinHash near-dup + cluster labels (vs mh_* /
    cc_labels) -> curated-corpus merge

curate_corpus's one-shot-only stages (normalization, line cleaning,
PII-hit cap, classifier and perplexity gates) live there alone.

EQUIVALENCE CONTRACT (pinned in tests/test_ingest.py): for batches in
ANY doc-id order — late ids interleaving with absorbed ones included,
the analog of the reference's re-pulled open-status and canceled-
after-completion requests — after N ``ingest_increment`` calls

    read_curated(store)  ≡  curate_corpus(union of batches).kept
    mh_pairs             ≡  the full-corpus verified pair set
    cc_labels            ≡  dup_clusters(full pairs) labels

A batch's effects on already-absorbed docs are repaired in place:
exact keeper re-election, span-flag repairs from the persisted pre-span
text table (``cur_pre``), MinHash re-signing with merge-on-read
retraction, component-local cluster relabeling, and tombstone
resurrection (see ``ingest_increment``'s docstring).  Demoted docs
become TOMBSTONES (``cur_drops``, with a cause) — merge-on-read
deletes, the lakehouse pattern — so ``read_curated`` (curated docs
anti-join tombstones) stays equivalent to the one-shot result without
rewriting historical partitions.  The same tables make every store
retractable (``retract_documents``).

Atomicity: every family write lands inside ONE ``store.commit_bracket``
— on a snapshot-isolation store the whole batch (every family, the
curated table, the ledger) publishes with one pointer swap, and a crash
anywhere publishes NOTHING; the replay (same batch_id) reruns against
the untouched pre-batch snapshot.  A batch REDELIVERED after a
successful publish is detected by the ``ig_batches`` ledger and
returns the already-curated rows without touching any index.

Reference analog: the reference's top-level phase driver runs exactly
this shape over its domain — basic -> outline -> detail phases, each
consulting persisted state, committing progress as it goes
(`/root/reference/jobcan_di/integrator/integrator.py:522-553`); this is
the LLM-curation-tier analog.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jobcan_data_integrator_spark.storage import TableStore

#: orchestrator-owned tables: the absorbed-batch ledger, the curated
#: corpus and its tombstones
LEDGER = "ig_batches"
CURATED = "cur_docs"
TOMBSTONES = "cur_drops"
#: each exact-dedup survivor's PRE-span (post-PII) text — the input
#: retroactive span flags, retractions and mate promotions re-dedup.
CURATED_PRE = "cur_pre"
#: absorbed-retraction ledger (retract_documents): one row per
#: retract_id, so a redelivered retraction is a no-op.
RETRACTIONS = "cur_retractions"
#: compliance receipt: one row per absorbed retraction (ids count,
#: families touched, the snapshot version it published) — written
#: inside the retraction's own commit, so the receipt exists iff the
#: deletion published.
RETRACTION_LOG = "retraction_log"
#: the receipt's per-id companion: (retract_id, doc_id) — WHICH ids
#: each retraction removed (the log row records only the count).  Same
#: commit, same redelivery guarantees; ``doc_history`` joins it back to
#: the log for the timestamp and snapshot version.
RETRACTION_IDS = "retraction_ids"


@dataclass
class IngestResult:
    """One batch's outcome.  ``docs`` is the batch's curated survivors
    (doc_id, text) — already merged into ``cur_docs``; ``stages`` are
    (name, frame) pairs in pipeline order (materialized — counting them
    re-runs nothing upstream); ``pairs`` the near-dup pairs involving
    the batch; ``demoted`` the previously-kept doc ids tombstoned by
    cluster merges this batch."""

    batch_id: str
    replayed: bool
    docs: DataFrame
    stages: list[tuple[str, DataFrame]] = field(default_factory=list)
    pairs: DataFrame | None = None
    demoted: DataFrame | None = None

    def audit(self) -> dict[str, int]:
        """Per-stage surviving-row counts (curate_corpus's audit).

        Safe to call at any time after ``ingest_increment`` returns:
        every stage frame was localCheckpointed during the batch, so
        each count is one job over pinned blocks — nothing upstream
        re-runs and no since-rewritten index table is re-scanned."""
        return {name: df.count() for name, df in self.stages}


def read_curated(store: TableStore, version: int | None = None) -> DataFrame:
    """The curated corpus as of the last published batch: ``cur_docs``
    minus tombstoned (retroactively demoted) docs.  Merge-on-read: the
    tombstone set is bounded by observed cluster merges — broadcast-size
    by construction — so the anti-join never shuffles the corpus.

    ``version`` (time travel): read the corpus as of a RETAINED
    snapshot version instead — both tables resolve through the same
    pinned manifest (``TableStore.read_version``), so the docs and the
    tombstone mask are consistent for that version.  Audit/debug tool
    (what did batch N's corpus look like before the repair?); note a
    pre-retraction version still shows the later-retracted docs — that
    is the point of retention bounds (``retain_snapshots``) and
    ``vacuum_snapshots`` for takedown-sensitive stores."""
    if version is not None:
        # pin the manifest ONCE: both tables resolve through the same
        # log read, consistent even across a concurrent publish
        snap = store.snapshot_at(version)
        docs = store.read_version(CURATED, version, snapshot=snap)
        if TOMBSTONES in snap["tables"]:
            docs = docs.join(
                F.broadcast(
                    store.read_version(
                        TOMBSTONES, version, snapshot=snap
                    ).select("doc_id")
                ),
                "doc_id",
                "left_anti",
            )
        return docs
    docs = store.read(CURATED)
    if store.exists(TOMBSTONES):
        docs = docs.join(
            F.broadcast(store.read(TOMBSTONES).select("doc_id")),
            "doc_id",
            "left_anti",
        )
    return docs


def diff_curated(
    store: TableStore, version_a: int, version_b: int
) -> DataFrame:
    """What changed in the curated corpus between two RETAINED snapshot
    versions: one row per doc whose liveness or text differs, with
    ``change`` ∈ added/removed/changed (b relative to a) and both texts.

    The audit companion to ``rollback``/``retraction_log``: "which docs
    did batch N actually add?", "what exactly did this takedown remove?",
    "did the out-of-order repair change any text it shouldn't have?" —
    answered from the snapshot log without replaying anything.  Cost:
    one full-outer join of the two versions' curated reads on the doc
    key — corpus-linear, the unavoidable lower bound for a whole-corpus
    diff; both sides are the SAME bucketed table two manifests apart,
    so the join co-partitions without a pre-shuffle where the layout
    allows."""
    # presence rides explicit per-side markers, NOT text nullity — a
    # doc whose text column is NULL in one version must classify as
    # present (changed/unchanged via null-safe compare), never 'added'
    a = read_curated(store, version=version_a).select(
        "doc_id", F.col("text").alias("text_a"), F.lit(True).alias("in_a")
    )
    b = read_curated(store, version=version_b).select(
        "doc_id", F.col("text").alias("text_b"), F.lit(True).alias("in_b")
    )
    joined = a.join(b, "doc_id", "full_outer")
    change = (
        F.when(F.col("in_a").isNull(), "added")
        .when(F.col("in_b").isNull(), "removed")
        .otherwise("changed")
    )
    return (
        joined.filter(
            F.col("in_a").isNull()
            | F.col("in_b").isNull()
            | ~F.col("text_a").eqNullSafe(F.col("text_b"))
        )
        .select("doc_id", change.alias("change"), "text_a", "text_b")
    )


def doc_history(store: TableStore, ids: DataFrame) -> DataFrame:
    """Per-document lifecycle timeline — the id-keyed audit companion to
    ``diff_curated`` (whole-corpus) and ``retraction_log`` (per-call):
    "what happened to THESE docs?", answered from the store's own
    records without replaying anything.

    ``ids`` is a (doc_id) frame; returns one row per recorded event:
    ``(doc_id, event, ref, cause, over_version, ts)`` with ``event`` ∈

    - ``curated`` — the doc holds (or held, if later demoted) a curated
      row; ``ref`` = the ingest batch that inserted it.  Retracted docs
      lose this row (the takedown deletes the text physically).
    - ``demoted`` — tombstoned by a dedup decision; ``ref`` = the batch,
      ``cause`` = exact/cluster/floor.  Revoked (resurrected) demotions
      leave no row — the timeline reflects the CURRENT adjudication,
      matching what ``read_curated`` serves.
    - ``retracted`` — permanently deleted; ``ref`` = the retract_id,
      with the receipt's snapshot version and timestamp joined from
      ``retraction_log``.

    Scale shape: every read is either bucket-pruned to the requested
    ids (curated) or an already-broadcast-small tombstone/receipt table;
    cost is bounded by the id list and the stores' retraction history,
    never the corpus."""
    spark = store.spark
    ids = ids.select("doc_id").distinct().localCheckpoint(eager=True)
    b = F.broadcast(ids)
    null_s = F.lit(None).cast("string")
    null_l = F.lit(None).cast("bigint")
    null_d = F.lit(None).cast("double")
    out = spark.createDataFrame(
        [],
        "doc_id long, event string, ref string, cause string, "
        "over_version long, ts double",
    )
    if store.exists(CURATED):
        out = out.unionByName(
            store.read_for_keys(CURATED, ids, "doc_id")
            .join(b, "doc_id", "leftsemi")
            .select(
                "doc_id",
                F.lit("curated").alias("event"),
                F.col("batch_id").alias("ref"),
                null_s.alias("cause"),
                null_l.alias("over_version"),
                null_d.alias("ts"),
            )
        )
    if store.exists(TOMBSTONES):
        # a 'retracted'-cause tombstone is surfaced as the richer
        # ``retracted`` event below, not twice
        t = (
            store.read(TOMBSTONES)
            .join(b, "doc_id", "leftsemi")
            .filter(F.col("cause") != "retracted")
        )
        out = out.unionByName(
            t.select(
                "doc_id",
                F.lit("demoted").alias("event"),
                F.col("batch_id").alias("ref"),
                "cause",
                null_l.alias("over_version"),
                null_d.alias("ts"),
            )
        )
    if store.exists(RETRACTION_IDS):
        r = store.read(RETRACTION_IDS).join(b, "doc_id", "leftsemi")
        if store.exists(RETRACTION_LOG):
            r = r.join(
                F.broadcast(
                    store.read(RETRACTION_LOG).select(
                        "retract_id", "over_version", "ts"
                    )
                ),
                "retract_id",
                "left",
            )
        else:
            r = r.withColumn("over_version", null_l).withColumn("ts", null_d)
        out = out.unionByName(
            r.select(
                "doc_id",
                F.lit("retracted").alias("event"),
                F.col("retract_id").alias("ref"),
                null_s.alias("cause"),
                F.col("over_version").cast("bigint").alias("over_version"),
                F.col("ts").cast("double").alias("ts"),
            )
        )
    return out


def probe_duplicates(
    store: TableStore,
    candidate_docs: DataFrame,
    *,
    span: int | None = 8,
    min_tokens: int = 10,
    minhash: bool = True,
    n_hashes: int = 8,
    band_size: int = 2,
    cluster_threshold: float = 0.5,
) -> DataFrame:
    """READ-ONLY dedup-as-a-service: the exact keep/drop verdict
    ``ingest_increment`` would reach for each candidate doc against the
    store's persisted index families — without writing anything.  Use it
    to filter an incoming crawl against the curated corpus before paying
    for ingest, to cost a batch, or to serve "is this a dup?" queries
    from a frozen index.

    Returns one row per input doc:
    ``(doc_id, verdict, dup_of, text)`` where ``verdict`` is the FIRST
    pipeline stage that drops the doc — ``retracted`` (permanently
    masked id), ``exact_dup`` (``dup_of`` = the content hash's keeper,
    corpus or batch), ``too_short`` (post span-removal under
    ``min_tokens``), ``near_dup`` (``dup_of`` = the would-be cluster
    label) — or ``keep``, in which case ``text`` carries the curated
    text the doc WOULD get (scrubbed, span-deduped).  The knobs are
    ``ingest_increment``'s dedup stages; pass the same values you would
    ingest with, or the verdicts answer a different pipeline's
    question.  The one-shot-only stages (normalization, line cleaning,
    PII-hit cap, classifier and perplexity gates) live in
    ``curate_corpus``.

    Equivalence contract (pinned in tests/test_probe.py): for a batch
    whose ids all exceed the store's, ``probe.filter(verdict = 'keep')``
    equals the (doc_id, text) set ``ingest_increment`` then curates for
    the same batch.  A probe cannot see the retroactive repairs a late
    batch would make to OTHER stored docs (it mutates nothing), but the
    batch's own keep set still matches ingest whenever the batch
    introduces no retro demotions.

    Scale shape: identical to the ingest probes it reuses — every
    corpus-side read is bucket-pruned to the increment's key fan-out
    (``read_for_keys``), masks are broadcast, and cluster labels are
    resolved per batch doc via ``probe_merged_labels``'s doc_id-keyed
    pruned lookups — no corpus-sized table is scanned anywhere on the
    probe path.  Cost is increment-linear; nothing is persisted, so
    replay and crash semantics do not arise."""
    from jobcan_data_integrator_spark.operators import incremental as inc
    from jobcan_data_integrator_spark.operators.dedup import (
        connected_components,
        remove_flagged_spans,
    )
    from jobcan_data_integrator_spark.operators.minhash import (
        band_rows,
        candidate_pairs,
        hashed_shingle_rows,
        shingle_sizes,
        verify_candidate_pairs,
    )
    from jobcan_data_integrator_spark.operators.pii import scrub_pii

    docs = candidate_docs.select("doc_id", "text")
    _null_dup = F.lit(None).cast("bigint").alias("dup_of")

    def _verdict(ids: DataFrame, verdict: str) -> DataFrame:
        return ids.select("doc_id", F.lit(verdict).alias("verdict"), _null_dup)

    verdicts: list[DataFrame] = []
    if store.exists(inc.DOC_RETRACTIONS):
        mask = F.broadcast(store.read(inc.DOC_RETRACTIONS))
        verdicts.append(
            _verdict(docs.join(mask, "doc_id", "leftsemi"), "retracted")
        )
        docs = docs.join(mask, "doc_id", "left_anti")

    scrubbed = scrub_pii(docs).select(
        "doc_id", F.col("redacted_text").alias("text")
    ).localCheckpoint(eager=True)

    # exact: the doc survives iff it is its content hash's keeper over
    # corpus ∪ batch — same election ingest runs, computed purely when
    # the store has no family yet
    if store.exists("ex_docs"):
        groups = inc.exact_increment(store, scrubbed)
    else:
        groups = inc._hash_groups(inc._doc_hashes(scrubbed))
    exact_dups = (
        inc._doc_hashes(scrubbed)
        .join(groups, "text_md5")
        .filter(F.col("doc_id") != F.col("keep_doc_id"))
        .select(
            "doc_id",
            F.lit("exact_dup").alias("verdict"),
            F.col("keep_doc_id").cast("bigint").alias("dup_of"),
        )
        .localCheckpoint(eager=True)
    )
    verdicts.append(exact_dups)
    survivors = scrubbed.join(
        exact_dups.select("doc_id"), "doc_id", "left_anti"
    ).localCheckpoint(eager=True)

    # span removal + length floor (the batch's own flags)
    if span is not None:
        if store.exists("sp_occs"):
            _, flags = inc.span_increment(store, survivors, span=span)
        else:
            occ = inc._span_occ_rows(survivors, span)
            flags = inc._span_flags(occ, inc._span_hash_groups(occ))
        batch_flags = flags.join(
            survivors.select("doc_id"), "doc_id", "leftsemi"
        )
        kept = remove_flagged_spans(survivors, batch_flags, span=span).select(
            "doc_id", F.col("deduped_text").alias("text")
        )
    else:
        kept = survivors
    kept = kept.filter(
        F.size(F.split(F.col("text"), " ")) >= min_tokens
    ).localCheckpoint(eager=True)
    verdicts.append(
        _verdict(
            survivors.select("doc_id").join(
                kept.select("doc_id"), "doc_id", "left_anti"
            ),
            "too_short",
        )
    )

    # minhash canonicalization: merge the batch's ≥-threshold pairs into
    # the stored labels PURELY and drop non-minimum members
    if minhash:
        hashed = hashed_shingle_rows(kept)
        if store.exists("mh_bands"):
            pairs = inc.dedup_increment(store, hashed, n_hashes, band_size)
        else:
            sh = hashed.select("doc_id", "shingle").distinct()
            pairs = verify_candidate_pairs(
                candidate_pairs(band_rows(hashed, n_hashes, band_size)),
                sh,
                shingle_sizes(sh),
            )
        th = pairs.filter(F.col("jaccard") >= cluster_threshold)
        if store.exists("cc_labels"):
            # increment-bounded: resolves labels for the batch's docs via
            # bucket-pruned lookups instead of merging the corpus-sized
            # label table (pinned ≡ merged_cluster_labels in test_probe)
            labels = inc.probe_merged_labels(store, th, kept.select("doc_id"))
        else:
            labels = connected_components(
                th.select(
                    F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
                )
            )
        near = (
            kept.select("doc_id")
            .join(labels, "doc_id")
            .filter(F.col("doc_id") != F.col("cluster_id"))
            .select(
                "doc_id",
                F.lit("near_dup").alias("verdict"),
                F.col("cluster_id").cast("bigint").alias("dup_of"),
            )
            .localCheckpoint(eager=True)
        )
        verdicts.append(near)
        kept = kept.join(
            near.select("doc_id"), "doc_id", "left_anti"
        ).localCheckpoint(eager=True)

    out = kept.select(
        "doc_id", F.lit("keep").alias("verdict"), _null_dup, "text"
    )
    for v in verdicts:
        out = out.unionByName(
            v.withColumn("text", F.lit(None).cast("string"))
        )
    return out


def probe_contamination(
    store: TableStore, bench: DataFrame, *, span: int = 8
) -> DataFrame:
    """READ-ONLY benchmark decontamination check against the persisted
    span index: "is this eval set leaked into the training corpus?",
    answered from ``sp_occs`` without scanning the corpus text.

    ``bench`` is (bench_id, text); returns one row per benchmark item:
    ``(bench_id, n_spans, n_hit, hit_ratio)`` where ``n_spans`` counts
    the item's DISTINCT ``span``-token hashes, ``n_hit`` how many of
    them occur in at least one LIVE curated doc (retracted docs are
    masked, demoted docs excluded — a span carried only by a tombstoned
    duplicate does not train), and ``hit_ratio`` = n_hit / n_spans
    (0.0 for items shorter than ``span``).  The standard n-gram-overlap
    contamination verdict (tx_contamination's stateless shape) served
    from the index: threshold ``hit_ratio`` at the caller's policy, or
    feed flagged ids to ``retract_documents`` via the matching docs.

    ``span`` must equal the store's span family geometry — the hashes
    only collide when the token-window length matches.

    Scale shape: the benchmark's hashes prune the ``sp_occs`` read to
    their buckets (``span_index_buckets``), the hit docs' liveness
    check prunes the curated read to those doc ids, and every joined
    side is benchmark-bounded — cost follows the eval set, never the
    corpus."""
    from jobcan_data_integrator_spark.operators import incremental as inc

    if not store.exists("sp_occs"):
        raise ValueError(
            "probe_contamination needs the span family (sp_occs) — "
            "ingest with span=<n> first"
        )
    occ_b = (
        inc._span_occ_rows(
            bench.select(F.col("bench_id").alias("doc_id"), "text"), span
        )
        .select(F.col("doc_id").alias("bench_id"), "h")
        .distinct()
        .localCheckpoint(eager=True)
    )
    stored = inc._mask_retracted(
        store, store.read_for_keys("sp_occs", occ_b.select("h"))
    ).join(F.broadcast(occ_b.select("h").distinct()), "h", "leftsemi")
    # liveness: only spans carried by a doc read_curated would serve —
    # the hit set is benchmark-bounded, so both prunes stay narrow
    hit_docs = stored.select("doc_id").distinct().localCheckpoint(eager=True)
    live_ids = (
        store.read_for_keys(CURATED, hit_docs)
        .join(F.broadcast(hit_docs), "doc_id", "leftsemi")
        .select("doc_id")
    )
    if store.exists(TOMBSTONES):
        live_ids = live_ids.join(
            store.read(TOMBSTONES).select("doc_id"), "doc_id", "left_anti"
        )
    live_hits = (
        stored.join(F.broadcast(live_ids), "doc_id", "leftsemi")
        .select("h")
        .distinct()
    )
    hits = (
        occ_b.join(live_hits.withColumn("_hit", F.lit(1)), "h", "left")
        .groupBy("bench_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_hit"),
        )
    )
    return (
        bench.select("bench_id")
        .distinct()
        .join(hits, "bench_id", "left")
        .select(
            "bench_id",
            F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce("n_hit", F.lit(0)).cast("bigint").alias("n_hit"),
            F.when(
                F.coalesce("n_spans", F.lit(0)) > 0,
                F.round(
                    F.coalesce("n_hit", F.lit(0))
                    / F.col("n_spans").cast("double"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("hit_ratio"),
        )
    )


def _pair_endpoints(pairs: DataFrame, threshold: float) -> DataFrame:
    """(doc_id) — both endpoints of every ≥-threshold pair (retractions
    below the cluster threshold never had a cluster edge to undo)."""
    th = pairs.filter(F.col("jaccard") >= threshold)
    return (
        th.select(F.col("doc_a").alias("doc_id"))
        .unionByName(th.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )


def _tombstone(
    store: TableStore,
    ids: DataFrame,
    batch_id: str,
    cause: str,
    permanent: bool = False,
) -> None:
    """Insert ``cur_drops`` tombstones (doc_id, batch_id, cause).
    'exact'/'floor'/'retracted' are PERMANENT — the doc can never
    re-qualify; 'cluster' is revocable — a later pair retraction can
    resurrect it.  Permanent causes UPSERT so they are never shadowed
    by an earlier revocable row; revocable causes insert-if-missing so
    they never downgrade a permanent one."""
    rows = ids.select("doc_id").withColumns(
        {"batch_id": F.lit(batch_id), "cause": F.lit(cause)}
    )
    write = store.merge_upsert if permanent else store.merge_insert_missing
    write(TOMBSTONES, rows, ["doc_id"])


#: (table, feature) for each removed lifecycle feature: tables that
#: ingest, retraction and compaction no longer maintain, repair or
#: retract
_REMOVED_LAYOUTS = (
    ("sh_signatures", "the persisted SimHash family"),
    ("doc_vecs", "the embedding families' doc-to-vector cascade"),
    ("emb_retractions", "the embedding families' vector retraction"),
    ("bm_doc_len", "the BM25 family's lifecycle maintenance"),
    ("cur_chunks", "per-batch packing"),
)


def _require_repair_tables(store: TableStore) -> None:
    """Refuse the layouts of removed features that no current code can
    repair or retract: the monotone-only mode's (``cur_docs`` without
    ``cur_pre``) and each ``_REMOVED_LAYOUTS`` table."""
    if store.exists(CURATED) and not store.exists(CURATED_PRE):
        raise ValueError(
            f"store holds {CURATED} but no {CURATED_PRE}: it was written "
            "by the removed monotone-only ingest mode, which kept no "
            "repair tables — re-ingest it from its source batches"
        )
    for table, feature in _REMOVED_LAYOUTS:
        if store.exists(table):
            raise ValueError(
                f"store holds {table}: {feature} was removed — re-ingest "
                "the store from its source batches"
            )


def _relabel_after_retraction(
    store: TableStore,
    seeds: DataFrame,
    threshold: float,
    rebuild_cb=None,
) -> None:
    """Component-local cluster relabel after a pair RETRACTION (a doc
    retired from the MinHash family, or a repair that no longer
    produces a formerly ≥-threshold pair).  Min-label propagation
    cannot un-merge, so the components the retraction touched are
    recomputed from scratch — over the LIVE pair set (``read_pairs``,
    drops applied) restricted to those components' members, a graph
    bounded by near-dup cluster size, never the corpus.

    Members whose demotion no longer holds (now their component's
    minimum, or singletons) are RESURRECTED: a revocable
    ('cluster'-cause) tombstone is deleted, so ``read_curated``
    surfaces the still-present ``cur_docs`` row again — the
    merge-on-read payoff.  A member demoted at its OWN batch has no
    tombstone and no curated row at all; ``rebuild_cb`` (when given)
    reconstructs those from their persisted pre-span text.  Permanent
    tombstones ('exact'/'floor') are never resurrected, and a nested
    relabel (from inside a rebuild) passes no callback — one reinsert
    level per batch, deeper cascades are caught by the next batch's
    sweep."""
    from jobcan_data_integrator_spark.operators import incremental as inc
    from jobcan_data_integrator_spark.operators.dedup import (
        connected_components,
    )

    if not store.exists("cc_labels"):
        return
    seeds = seeds.select("doc_id").distinct().localCheckpoint(eager=True)
    if not seeds.head(1):
        return
    # seed clusters via a bucket-pruned doc_id lookup; their member
    # rows via cluster_members' pushed-In narrow scan — the full label
    # table is never read (let alone materialized) on this path
    comp = (
        store.read_for_keys("cc_labels", seeds)
        .join(F.broadcast(seeds), "doc_id", "leftsemi")
        .select("cluster_id")
        .distinct()
    )
    nodes = inc.cluster_members(store, comp).localCheckpoint(eager=True)
    if not nodes.head(1):
        return
    na = nodes.select(F.col("doc_id").alias("_na"))
    nb = nodes.select(F.col("doc_id").alias("_nb"))
    live = inc.read_pairs(store).filter(F.col("jaccard") >= threshold)
    live = live.join(
        F.broadcast(na), live["doc_a"] == F.col("_na"), "left_semi"
    )
    live = live.join(
        F.broadcast(nb), live["doc_b"] == F.col("_nb"), "left_semi"
    )
    fresh = connected_components(
        live.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    ).select("doc_id", "cluster_id").localCheckpoint(eager=True)
    if store.snapshot_isolation and store.is_managed("cc_labels"):
        # bucketed label table (snapshot stores): the relabel touches
        # only the affected
        # components' rows — prune the members whose surviving edge set
        # emptied (they leave the table, as in the overwrite below) and
        # upsert the recomputed labels; both writes are scoped to the
        # touched doc_ids' buckets, never the corpus
        vanished = (
            nodes.select("doc_id")
            .join(fresh.select("doc_id"), "doc_id", "left_anti")
            .localCheckpoint(eager=True)
        )
        if vanished.head(1):
            store.prune_keys("cc_labels", vanished, ["doc_id"])
        if fresh.head(1):
            store.merge_upsert("cc_labels", fresh, ["doc_id"])
    else:
        # unbucketed overwrite path: the full read is inherent (the
        # whole table is rewritten) — materialize it first so the
        # overwrite never reads the files it is replacing
        labels = store.read("cc_labels").localCheckpoint(eager=True)
        updated = labels.join(
            F.broadcast(nodes.select("doc_id")), "doc_id", "left_anti"
        ).unionByName(fresh)
        store.overwrite("cc_labels", updated)
    # resurrection: demoted-before, keeper-or-singleton now
    old_demoted = nodes.filter(F.col("doc_id") != F.col("cluster_id")).select(
        "doc_id"
    )
    new_demoted = fresh.filter(F.col("doc_id") != F.col("cluster_id")).select(
        "doc_id"
    )
    revived = old_demoted.join(new_demoted, "doc_id", "left_anti")
    if store.exists(TOMBSTONES):
        tomb = store.read(TOMBSTONES)
        revived = revived.join(
            tomb.filter(F.col("cause") != "cluster").select("doc_id"),
            "doc_id",
            "left_anti",
        ).localCheckpoint(eager=True)
        tomb_del = revived.join(
            tomb.select("doc_id"), "doc_id", "leftsemi"
        ).localCheckpoint(eager=True)
        if tomb_del.head(1):
            store.delete_scope(TOMBSTONES, tomb_del, ["doc_id"])
    else:
        revived = revived.localCheckpoint(eager=True)
    if rebuild_cb is not None and revived.head(1):
        missing = revived.join(
            store.read(CURATED).select("doc_id"), "doc_id", "left_anti"
        ).localCheckpoint(eager=True)
        if missing.head(1):
            rebuild_cb(missing)


def _sweep_cluster_demotions(
    store: TableStore, batch_id: str, touched: DataFrame | None = None
) -> DataFrame | None:
    """The general cluster-demotion pass: tombstone every live curated
    doc that is no longer its cluster's minimum.  Label CHANGES alone
    would miss demotions — a late smaller-id doc founding a cluster
    around a stored keeper changes no existing label, yet demotes it.

    ``touched`` (a one-column ``cluster_id`` frame): restrict the sweep
    to those clusters' members.  SOUND for the per-batch caller because
    the sweep itself maintains the invariant it exploits: before a
    batch, every live curated doc IS its cluster's minimum (this pass
    ran for every earlier edge-bearing batch; batch docs are
    anti-joined against non-minimum labels before curation; rebuild and
    retraction paths run their own passes) — so a NEW demotion can only
    appear in a cluster this batch touched, i.e. one carrying a final
    label of some batch endpoint.  Cost then follows the touched
    clusters (one narrow pushed-In label scan + id-pruned curated
    lookups) instead of the corpus-sized label ⋈ curated semi-join;
    oversized touched sets fall back to the full sweep.  Pass ``None``
    for the general full pass (the rebuild path keeps it: its relabel
    can shrink labels outside the resign's own edge set)."""
    if not store.exists("cc_labels") or not store.exists(CURATED):
        return None
    labels = store.read("cc_labels")
    restricted = False
    if touched is not None:
        vals = [
            r[0]
            for r in touched.select("cluster_id")
            .distinct()
            .limit(store.MAX_PUSHED_KEYS + 1)
            .collect()
        ]
        if len(vals) <= store.MAX_PUSHED_KEYS:
            labels = labels.filter(F.col("cluster_id").isin(vals))
            restricted = True
    nonkeep_ids = labels.filter(
        F.col("doc_id") != F.col("cluster_id")
    ).select("doc_id")
    if restricted:
        # candidate set is batch-bounded: materialize it once, then the
        # curated liveness check can bucket-prune instead of scanning
        # the whole table
        nonkeep_ids = nonkeep_ids.localCheckpoint(eager=True)
        cur_ids = store.read_for_keys(CURATED, nonkeep_ids).select("doc_id")
    else:
        cur_ids = store.read(CURATED).select("doc_id")
    nonkeep = nonkeep_ids.join(cur_ids, "doc_id", "leftsemi")
    if store.exists(TOMBSTONES):
        nonkeep = nonkeep.join(
            F.broadcast(store.read(TOMBSTONES).select("doc_id")),
            "doc_id",
            "left_anti",
        )
    nonkeep = nonkeep.localCheckpoint(eager=True)
    if not nonkeep.head(1):
        return None
    _tombstone(store, nonkeep, batch_id, "cluster")
    return nonkeep


def _rebuild_docs(
    store: TableStore,
    ids: DataFrame,
    stages: list,
    *,
    span: int | None,
    min_tokens: int,
    minhash: bool,
    n_hashes: int,
    band_size: int,
    cluster_threshold: float,
    batch_id: str,
    revive_floor: bool = False,
) -> None:
    """Ingest's and retraction's doc reconstruction: recompute the curated
    row for every id from its persisted pre-span text (``cur_pre``)
    under the CURRENT accumulated ``sp_flags``, then upsert it (under
    its ORIGINAL batch id, so a redelivery of that batch returns the
    repaired text) — or tombstone it permanently (and retire it from
    the MinHash family) if it falls under the ``min_tokens`` floor.
    Serves both retroactive-span REPAIRS (family members whose stored
    flags just grew — LIVE OR NOT: a cluster-demoted doc's signature
    must track its current text or its stale pairs survive forever) and
    RESURRECTIONS (docs demoted at their own batch whose demoter was
    later retracted — no curated row exists; the upsert inserts one).
    Permanently-retired docs (exact/floor tombstones, ``mh_doc_drops``)
    are excluded — they have no one-shot text to track.  Liveness is
    managed purely by tombstones: every rebuilt doc's current text
    lands in ``cur_docs``, the relabel deletes revocable tombstones of
    docs whose demotion dissolved, and the demotion sweep tombstones
    any that are (still) not their cluster's minimum.

    Surviving rebuilds are re-signed (``resign_minhash``); components
    touched by a ≥-threshold pair retraction are relabeled (WITHOUT a
    nested reinsert level); the recomputed ≥-threshold pairs merge into
    the cluster labels; and the demotion sweep tombstones any rebuilt
    doc that is not its cluster's minimum — exactly the batch path's
    endgame.

    Cost: bounded by the rebuild set (retro flags are bounded by the
    increment's span-hash fan-out), plus ``resign_minhash``'s
    broadcast-filtered scans of the band/pair tables.

    ``revive_floor`` (retraction context only): under monotone-growing
    flags a floored doc can never regrow, so 'floor' tombstones are
    permanent — but ``retract_documents`` RETRACTS flags, so a doc
    floored during a past repair may re-qualify.  When set, 'floor'
    tombstones do not exclude targets; a rebuilt doc that now passes
    the floor has its tombstone and its ``mh_doc_drops`` retirement
    deleted and is re-signed UNCONDITIONALLY (its signature was
    retired, so the unchanged-text fast path must not skip it)."""
    from jobcan_data_integrator_spark.operators import incremental as inc
    from jobcan_data_integrator_spark.operators.dedup import (
        remove_flagged_spans,
    )
    from jobcan_data_integrator_spark.operators.minhash import (
        hashed_shingle_rows,
    )

    targets = ids.select("doc_id").distinct()
    excluded_causes = (
        ("exact", "retracted") if revive_floor else ("exact", "floor", "retracted")
    )
    if store.exists(TOMBSTONES):
        tomb = store.read(TOMBSTONES)
        targets = targets.join(
            F.broadcast(
                tomb.filter(F.col("cause").isin(*excluded_causes)).select(
                    "doc_id"
                )
            ),
            "doc_id",
            "left_anti",
        )
    if store.exists("mh_doc_drops") and not revive_floor:
        # in revive mode the retirement set may contain floored docs
        # that are about to re-qualify; exact/retracted retirements are
        # already excluded via their tombstone causes above
        targets = targets.join(
            F.broadcast(store.read("mh_doc_drops")), "doc_id", "left_anti"
        )
    pre = (
        store.read(CURATED_PRE)
        .join(targets, "doc_id", "leftsemi")
        .localCheckpoint(eager=True)
    )
    if not pre.head(1):
        return
    if span is not None and store.exists("sp_flags"):
        rep_flags = inc.read_flags(store).join(
            pre.select("doc_id"), "doc_id", "leftsemi"
        )
        repaired = (
            remove_flagged_spans(
                pre.select("doc_id", "text"), rep_flags, span=span
            )
            .select("doc_id", F.col("deduped_text").alias("text"))
            .localCheckpoint(eager=True)
        )
    else:
        repaired = pre.select("doc_id", "text").localCheckpoint(eager=True)
    ok = repaired.filter(
        F.size(F.split(F.col("text"), " ")) >= min_tokens
    ).localCheckpoint(eager=True)
    floored = repaired.join(ok.select("doc_id"), "doc_id", "left_anti").select(
        "doc_id"
    ).localCheckpoint(eager=True)

    if floored.head(1):
        _tombstone(store, floored, batch_id, "floor", permanent=True)
        if minhash and store.exists("mh_bands"):
            touched = inc.retire_from_minhash(store, floored)
            _relabel_after_retraction(
                store,
                floored.unionByName(
                    _pair_endpoints(touched, cluster_threshold)
                ),
                cluster_threshold,
            )
    if not ok.head(1):
        return
    revived_floor = None
    if revive_floor and store.exists(TOMBSTONES):
        tomb = store.read(TOMBSTONES)
        revived_floor = (
            ok.select("doc_id")
            .join(
                F.broadcast(
                    tomb.filter(F.col("cause") == "floor").select("doc_id")
                ),
                "doc_id",
                "leftsemi",
            )
            .localCheckpoint(eager=True)
        )
        if revived_floor.head(1):
            # the doc re-qualifies: the flag retraction regrew its
            # text past the floor — resolve the tombstone and the
            # MinHash retirement (its recomputed pairs re-enter via
            # the resign below; still-valid dropped pairs are
            # undropped there, the rest stay retracted)
            store.delete_scope(TOMBSTONES, revived_floor, ["doc_id"])
            if store.exists("mh_doc_drops"):
                store.delete_scope("mh_doc_drops", revived_floor, ["doc_id"])
        else:
            revived_floor = None
    # Delta the rebuild set before the expensive half: a retro flag that
    # lands inside an already-removed interval leaves the doc's repaired
    # text IDENTICAL to its current curated text — its cur_docs row and
    # its MinHash signature are both already current, so the upsert, the
    # re-sign probe, and the cluster maintenance are all no-ops by value.
    # cur_docs holds the current signed text for every rebuilt family
    # member (live or demoted — liveness is tombstone-managed), so the
    # anti-join on (doc_id, text) keeps exactly the genuinely-changed
    # docs plus any member with no row yet (demoted at its own batch, or
    # a resurrection insert) — conservative where we cannot prove the
    # signature current.  This bounds repair cost by the CHANGED set,
    # not the retro-flag fan-out (SCALE_SMOKE `ingest_ooo`).
    if store.exists(CURATED):
        delta = ok.join(
            store.read(CURATED).select("doc_id", "text"),
            ["doc_id", "text"],
            "left_anti",
        )
        if revived_floor is not None:
            # a revived doc's stale cur_docs row may coincidentally
            # match the regrown text (flags returned to their old set)
            # — but its signature was RETIRED, so it must re-sign
            delta = delta.unionByName(
                ok.join(F.broadcast(revived_floor), "doc_id", "leftsemi")
            ).dropDuplicates(["doc_id"])
        ok = delta.localCheckpoint(eager=True)
        if not ok.head(1):
            return
    ok_rows = ok.join(
        store.read(CURATED_PRE).select("doc_id", "batch_id"), "doc_id"
    )
    store.merge_upsert(CURATED, ok_rows, ["doc_id"])
    stages.append(("span_repaired", ok))

    if minhash and store.exists("mh_bands"):
        new_pairs, stale = inc.resign_minhash(
            store, hashed_shingle_rows(ok), n_hashes, band_size
        )
        _relabel_after_retraction(
            store, _pair_endpoints(stale, cluster_threshold), cluster_threshold
        )
        edges = new_pairs.filter(F.col("jaccard") >= cluster_threshold)
        if store.exists("cc_labels"):
            inc.extend_clusters(store, edges)
        else:
            inc.build_cluster_index(store, edges)
        _sweep_cluster_demotions(store, batch_id)


def ingest_increment(
    store: TableStore,
    new_docs: DataFrame,
    batch_id: str,
    *,
    span: int | None = 8,
    min_tokens: int = 10,
    minhash: bool = True,
    n_hashes: int = 8,
    band_size: int = 2,
    cluster_threshold: float = 0.5,
    allow_out_of_order: bool = True,
    auto_compact_bytes: int | None = 8 << 20,
) -> IngestResult:
    """Curate one arriving (doc_id, text) batch against — and into —
    the persisted index families.  The stages are ``curate_corpus``'s
    PII scrub and dedup stages; its one-shot-only stages (normalization,
    line cleaning, PII-hit cap, classifier and perplexity gates) live in
    ``curate_corpus`` alone.  Knobs:

    - ``span``/``min_tokens``: curate_corpus's stages with its defaults.
    - ``minhash``: near-dup canonicalization — curate_corpus's
      ``near_dup_pairs`` callback specialized to the MinHash-LSH family
      (the one with a maintained pair index), clustered at
      ``cluster_threshold`` with min-id keepers via ``cc_labels``.

    First batch against an empty store BUILDS each family; later
    batches increment.  Batches may arrive in any doc-id order, their
    ids interleaving with already-absorbed ones — the analog of the
    reference's own late-data reality (open-status re-pull + canceled-
    after-completion second pass, api_client.py:585-595).  Every batch
    repairs the retroactive effects it has on absorbed docs:

    - **Cluster demotion**: a cluster merge demotes the larger
      cluster's old keeper, and a late smaller-id doc founding a
      cluster around a stored keeper demotes it; the demotion sweep
      tombstones both (revocable 'cluster' cause).
    - **Exact keeper re-election**: a late doc with a smaller id than
      its content-hash's stored keeper wins the group; the demoted
      stored keeper becomes a ``cur_drops`` tombstone and is RETIRED
      from the MinHash family (merge-on-read drops — its replacement
      flows through the pipeline as an ordinary batch survivor with
      identical text).
    - **Retroactive span flags**: a late doc's smaller occurrence keys
      can demote stored occurrences (``span_increment`` already emits
      those flags — they are monotone, so the accumulated ``sp_flags``
      converges to the one-shot flag set in any batch order).  Affected
      LIVE curated docs are REPAIRED: their pre-span text (persisted in
      ``cur_pre`` by every batch) is re-deduped under the full flag
      set, the curated row upserted (or tombstoned if it falls under the
      ``min_tokens`` floor), and their MinHash rows re-signed
      (``resign_minhash``) so cross-batch pair discovery keeps matching
      the one-shot pair set.
    - **Pair/label maintenance** stays merge-monotone: repairs that ADD
      pair mass merge clusters exactly (keeper demotions tombstoned as
      usual); a repair that would WEAKEN a formerly-clustering pair
      retracts the pair row (``read_pairs``) but leaves the
      conservative merged labels (an as-of-ingest stance).

    Removed layouts raise (``_require_repair_tables``): the
    monotone-only mode's and each ``_REMOVED_LAYOUTS`` table.  So does
    ``allow_out_of_order=False`` (kept for existing callers; ``True`` is
    its one value).  Batch-order equivalence with the one-shot curation
    (docs + pairs + labels) is pinned in tests/test_ingest.py.

    ``auto_compact_bytes``: after a successful publish, fold the
    merge-on-read masks into their base tables (``compact_store``) once
    their on-disk size crosses this many bytes (driver-side stat, no
    job when under threshold) — the auto-trigger that keeps the
    broadcast masks bounded under sustained repair/retraction traffic.
    None disables.
    """
    from jobcan_data_integrator_spark.operators import incremental as inc
    from jobcan_data_integrator_spark.operators.dedup import (
        remove_flagged_spans,
    )
    from jobcan_data_integrator_spark.operators.minhash import (
        hashed_shingle_rows,
    )
    from jobcan_data_integrator_spark.operators.pii import scrub_pii

    spark = new_docs.sparkSession
    if not allow_out_of_order:
        raise ValueError(
            "the monotone-only ingest mode is gone: every batch takes the "
            "repairing path (any batch order); drop allow_out_of_order"
        )
    _require_repair_tables(store)

    if store.exists(LEDGER):
        led = store.read(LEDGER).agg(
            F.max((F.col("batch_id") == batch_id).cast("int")).alias("seen"),
        ).first()
        if led["seen"]:
            # redelivery after a successful publish: the batch's rows
            # are already curated — return them, touch nothing
            prior = (
                read_curated(store)
                .filter(F.col("batch_id") == batch_id)
                .select("doc_id", "text")
            )
            return IngestResult(batch_id, True, prior)

    bounds = new_docs.agg(
        F.min("doc_id").alias("lo"),
        F.max("doc_id").alias("hi"),
        F.count("*").alias("n"),
    ).first()

    # JVM-native literal row (spark.range + lit), NOT createDataFrame: a
    # Python local relation costs ~3x more per downstream job (measured
    # ~430ms vs ~130ms on local[32] — the per-batch ledger merge is a
    # pure fixed cost, so it rides the cheap path)
    ledger_row = spark.range(1).select(
        F.lit(batch_id).alias("batch_id"),
        F.lit(bounds["lo"]).cast("bigint").alias("min_doc_id"),
        F.lit(bounds["hi"]).cast("bigint").alias("max_doc_id"),
        F.lit(bounds["n"]).cast("bigint").alias("n_docs"),
    )

    docs = new_docs.select("doc_id", "text")
    # a doc deleted by retract_documents stays deleted: a late copy
    # of a retracted id (redelivery, replayed source) must not
    # re-enter the corpus, win a keeper election, or re-seed span
    # occurrences — the ≡ contract becomes one-shot curation over
    # (union of batches) ∖ retracted
    docs = inc._mask_retracted(store, docs)
    stages: list[tuple[str, DataFrame]] = [("input", docs)]
    pairs: DataFrame | None = None
    demoted: DataFrame | None = None

    with store.commit_bracket(batch_id):
        # 1. PII scrub — downstream hashes see the redacted text.  Lazy
        # checkpoint: materialized by the survivors checkpoint below
        # (one job instead of two), still pinned before any family
        # extend rewrites the tables this frame scans
        scrubbed = scrub_pii(docs).select(
            "doc_id", F.col("redacted_text").alias("text")
        ).localCheckpoint(eager=False)
        stages.append(("pii_scrubbed", scrubbed))

        # 2. exact dedup vs the ex_docs family: a batch doc survives iff
        # it is its content hash's keeper (min id over corpus ∪ batch —
        # a smaller-id late twin WINS and the stored keeper is demoted)
        retired: DataFrame | None = None
        if not store.exists("ex_docs"):
            # the build returns the (materialized) groups frame: no
            # read-back job, and the table writes stay in the background
            groups, first_exact = inc.build_exact_index(store, scrubbed), True
        else:
            groups = inc.exact_increment(store, scrubbed).localCheckpoint(
                eager=True
            )
            first_exact = False
            # keeper re-election: stored keepers outvoted by a smaller
            # batch id — computed against the PRE-extend group table,
            # bounded by the batch's hash fan-out
            retired = (
                store.read("ex_groups")
                .withColumnRenamed("keep_doc_id", "old_keep")
                .join(F.broadcast(groups), "text_md5")
                .filter(F.col("old_keep") != F.col("keep_doc_id"))
                .select(F.col("old_keep").alias("doc_id"))
                .localCheckpoint(eager=True)
            )
            if not retired.head(1):
                retired = None
        survivors = scrubbed.join(
            groups.select(F.col("keep_doc_id").alias("doc_id")),
            "doc_id",
            "leftsemi",
        ).localCheckpoint(eager=True)
        if not first_exact:
            inc.extend_exact_index(store, scrubbed, groups)
        if retired is not None:
            _tombstone(store, retired, batch_id, "exact", permanent=True)
            if minhash and store.exists("mh_bands"):
                touched = inc.retire_from_minhash(store, retired)

                # relabel the retired docs' components over the live
                # pair set: mates demoted only THROUGH a retired doc
                # resurrect (their exact twin re-pairs on its own merit
                # as an ordinary batch survivor); a mate that never got
                # a curated row is rebuilt from cur_pre
                def _reinsert(missing: DataFrame) -> None:
                    _rebuild_docs(
                        store,
                        missing,
                        stages,
                        span=span,
                        min_tokens=min_tokens,
                        minhash=minhash,
                        n_hashes=n_hashes,
                        band_size=band_size,
                        cluster_threshold=cluster_threshold,
                        batch_id=batch_id,
                    )

                _relabel_after_retraction(
                    store,
                    retired.unionByName(
                        _pair_endpoints(touched, cluster_threshold)
                    ),
                    cluster_threshold,
                    rebuild_cb=_reinsert,
                )
        stages.append(("exact_deduped", survivors))

        # every survivor's pre-span text is persisted — the input a later
        # batch's retroactive span flags (and a retraction) re-dedup
        store.merge_insert_missing(
            CURATED_PRE,
            survivors.withColumn("batch_id", F.lit(batch_id)),
            ["doc_id"],
        )

        # 3. ExactSubstr span removal vs the sp_occs family + length
        # floor.  The batch's own flags curate the batch; the
        # increment's smaller keys can also demote stored occurrences —
        # those retro flags repair the affected curated docs below
        # (flags are MONOTONE, so the accumulated sp_flags converges to
        # the one-shot flag set in any batch order).
        if span is not None:
            sp_groups = None
            if not store.exists("sp_occs"):
                flags = inc.build_span_index(store, survivors, span=span)
            else:
                sp_groups, flags = inc.span_increment(
                    store, survivors, span=span
                )
            batch_flags = flags.join(
                survivors.select("doc_id"), "doc_id", "leftsemi"
            )
            retro = None
            if sp_groups is not None:
                # flags the stored corpus has not seen yet, for docs
                # outside the batch — pinned BEFORE the extend below
                # rewrites the tables they scan
                retro = (
                    flags.join(
                        survivors.select("doc_id"), "doc_id", "left_anti"
                    )
                    .join(
                        # the MASKED flag read: a flag retracted by
                        # retract_documents and re-asserted by this
                        # batch is present-but-masked in sp_flags, and
                        # the repair must fire for it again
                        inc.read_flags(store),
                        ["doc_id", "pos"],
                        "left_anti",
                    )
                    .localCheckpoint(eager=True)
                )
            kept = (
                remove_flagged_spans(survivors, batch_flags, span=span)
                .select("doc_id", F.col("deduped_text").alias("text"))
                .filter(F.size(F.split(F.col("text"), " ")) >= min_tokens)
                .localCheckpoint(eager=True)
            )
            stages.append(("span_deduped", kept))
            if sp_groups is not None:
                inc.extend_span_index(
                    store, survivors, sp_groups, flags, span=span
                )
            if retro is not None and retro.head(1):
                # rebuild EVERY retro-flagged family member, live or
                # not — a doc demoted at its own batch via pairs
                # computed from its pre-repair text must be re-signed
                # too, or its stale pairs survive forever and block its
                # resurrection (_rebuild_docs excludes the permanently
                # retired and manages liveness via tombstones)
                _rebuild_docs(
                    store,
                    retro.select("doc_id").distinct(),
                    stages,
                    span=span,
                    min_tokens=min_tokens,
                    minhash=minhash,
                    n_hashes=n_hashes,
                    band_size=band_size,
                    cluster_threshold=cluster_threshold,
                    batch_id=batch_id,
                )
        else:
            kept = survivors.filter(
                F.size(F.split(F.col("text"), " ")) >= min_tokens
            ).localCheckpoint(eager=True)
            stages.append(("length_filtered", kept))

        # 4. MinHash near-dup canonicalization vs mh_* + cc_labels
        if minhash:
            hashed = hashed_shingle_rows(kept)
            if not store.exists("mh_bands"):
                pairs = inc.build_minhash_index(
                    store, hashed, n_hashes, band_size
                )
                inc.build_cluster_index(
                    store, pairs.filter(F.col("jaccard") >= cluster_threshold)
                )
            else:
                pairs = inc.dedup_increment(
                    store, hashed, n_hashes, band_size
                ).localCheckpoint(eager=True)
                inc.extend_index(store, hashed, pairs, n_hashes, band_size)
                inc.extend_clusters(
                    store, pairs.filter(F.col("jaccard") >= cluster_threshold)
                )
            # only the BATCH docs' labels matter here (anti-join on
            # doc_id): bucket-pruned on cluster_label_buckets layouts
            labels = store.read_for_keys("cc_labels", kept.select("doc_id"))
            kept = kept.join(
                labels.filter(F.col("doc_id") != F.col("cluster_id")).select(
                    "doc_id"
                ),
                "doc_id",
                "left_anti",
            ).localCheckpoint(eager=True)
            stages.append(("near_deduped", kept))
            # demotion sweep: any LIVE curated doc no longer its
            # cluster's minimum — a merge's old keeper, or a stored
            # keeper a late smaller-id doc founded a cluster around.
            # Skipped when the batch produced no ≥-threshold edge:
            # extend_clusters was a no-op then, no label changed, and any
            # rebuild path runs its own sweep — so a quiet batch pays one
            # cheap probe instead of the labels-join + tombstone merge.
            th_pairs = pairs.filter(F.col("jaccard") >= cluster_threshold)
            if th_pairs.head(1):
                # clusters this batch touched = the final (post-extend)
                # labels of its pair endpoints — a bucket-pruned lookup;
                # the sweep restricts to their members (see
                # _sweep_cluster_demotions' soundness argument)
                eps = _pair_endpoints(th_pairs, cluster_threshold)
                touched = (
                    store.read_for_keys("cc_labels", eps)
                    .join(F.broadcast(eps), "doc_id", "leftsemi")
                    .select("cluster_id")
                    .distinct()
                )
                demoted = _sweep_cluster_demotions(
                    store, batch_id, touched=touched
                )

        # 5. curated-corpus merge
        store.merge_insert_missing(
            CURATED, kept.withColumn("batch_id", F.lit(batch_id)), ["doc_id"]
        )

        # 6. the ledger, written LAST.  On a plain store every write
        # above ran inline in program order, so the ledger still lands
        # after every family write — a crash before it leaves the batch
        # replayable (idempotent family merges), after it redelivery
        # short-circuits above.  On a snapshot store all of it publishes
        # atomically, so the concurrent schedule is unobservable.
        store.merge_insert_missing(LEDGER, ledger_row, ["batch_id"])

    result = IngestResult(
        batch_id, False, kept.select("doc_id", "text"), stages, pairs, demoted
    )
    if auto_compact_bytes is not None:
        maybe_compact_store(store, threshold_bytes=auto_compact_bytes)
    return result


@dataclass
class RetractResult:
    """One retraction's outcome.  ``retracted`` is the (doc_id) set
    actually removed this call; ``promoted`` the exact-dup mates elected
    keeper in the retracted keepers' place (now curated); ``repaired``
    the stored docs whose curated text was rebuilt because a retracted
    doc's span occurrences stopped duplicating theirs."""

    retract_id: str
    replayed: bool
    retracted: DataFrame
    promoted: DataFrame | None = None
    repaired: DataFrame | None = None


def retract_documents(
    store: TableStore,
    ids: DataFrame,
    retract_id: str,
    *,
    span: int | None = 8,
    min_tokens: int = 10,
    minhash: bool = True,
    n_hashes: int = 8,
    band_size: int = 2,
    cluster_threshold: float = 0.5,
    auto_compact_bytes: int | None = 8 << 20,
) -> RetractResult:
    """Targeted deletion: remove already-absorbed docs from the curated
    corpus AND every index family, under one commit — the post-hoc
    contamination-removal / takedown operator.  ``ids`` is a (doc_id)
    frame; pass the same stage knobs the store was ingested with.

    EQUIVALENCE CONTRACT (pinned in tests/test_ingest.py): after any
    ingest history and ``retract_documents(ids)``,

        read_curated / live pairs / cc_labels
            ≡  one-shot curation over (union of batches) ∖ ids

    including every second-order effect a true deletion implies:

    - **Exact mate promotion**: a retracted content-hash keeper's
      smallest surviving duplicate is RE-ELECTED and flows back into
      the corpus as a first-class doc (its text is the keeper's
      persisted pre-span text — identical by definition of exact dup):
      span occurrences inserted under its own keys, curated row
      materialized under the current flag set, MinHash-signed, cluster-
      labeled, demotion-swept.
    - **Span-flag retraction**: occurrences that duplicated ONLY the
      retracted doc's spans are unflagged (``sp_flag_drops``,
      merge-on-read) and the affected stored docs' curated texts are
      rebuilt from ``cur_pre`` — text GROWS back, the one repair
      direction ingest never needs.  A later batch
      re-duplicating the span re-asserts the flag (the drop row is
      removed and the repair re-fires — pinned in tests).
    - **Cluster mate resurrection**: docs demoted only by a retracted
      near-dup keeper are revived via the component-local relabel; a
      mate that never had a curated row is rebuilt from ``cur_pre``.
    - **Permanence**: retracted ids get permanent ``cur_drops``
      tombstones AND a ``doc_retractions`` mask consulted by every
      exact/span probe, and ``ingest_increment`` drops them from any
      future batch — a redelivered copy can never re-enter, win a
      keeper election, or re-seed span occurrences.  Their ``cur_docs``
      / ``cur_pre`` rows are PHYSICALLY deleted in this commit (the
      text is gone, not merely masked); index-side masks are folded
      by ``compact_store``.

    Requires a snapshot-isolation store; every ingest batch keeps the
    repair tables this reads (``cur_pre``, tombstone causes, merge-on-
    read drops).  Redelivery of the same ``retract_id`` is a no-op
    (``cur_retractions`` ledger); a crash publishes nothing and the
    replay converges.

    Cost shape: one narrow broadcast-semi pass over the ``ex_docs`` hash
    map (finding retracted keepers' groups), bucket-pruned probes of the
    span/minhash families for the retracted docs' own keys, and rebuild
    work bounded by the CHANGED doc set — never corpus-wide.  Batch ids
    into one call to amortize the fixed cost.  Reference analog: the
    reference's own delete-of-removed sync (users.py:129-134) — rows
    absent from the authority disappear from every derived table; this
    is that contract for the LLM-curation tier.

    Scope: this call covers the DOC-keyed families (curated corpus,
    exact hash map, span tables, MinHash family, cluster labels).
    Every retraction appends a ``retraction_log`` receipt row (ids
    count, families touched, snapshot version) in the same commit.
    """
    from jobcan_data_integrator_spark.operators import incremental as inc
    from jobcan_data_integrator_spark.operators.incremental import (
        _hash_groups,
        _span_flags,
        _span_hash_groups,
        _span_occ_rows,
    )

    spark = ids.sparkSession
    if not store.snapshot_isolation:
        raise ValueError(
            "retract_documents needs a snapshot-isolation store: the "
            "multi-family retraction must publish atomically (a plain "
            "store's partial replay could resurrect a deleted doc)"
        )
    _require_repair_tables(store)

    if store.exists(RETRACTIONS):
        seen = (
            store.read(RETRACTIONS)
            .filter(F.col("retract_id") == retract_id)
            .head(1)
        )
        if seen:
            return RetractResult(
                retract_id,
                True,
                spark.createDataFrame([], "doc_id bigint"),
            )

    r_ids = inc._mask_retracted(
        store, ids.select("doc_id").distinct()
    ).localCheckpoint(eager=True)
    n_ids = r_ids.count()
    ledger_row = spark.range(1).select(
        F.lit(retract_id).alias("retract_id"),
        F.lit(n_ids).cast("bigint").alias("n_ids"),
    )

    # the compliance receipt's ``families``: every table this
    # retraction may touch
    families = [RETRACTION_IDS, TOMBSTONES, CURATED, CURATED_PRE]
    families += [inc.DOC_RETRACTIONS, "ex_docs", "ex_groups"]
    if span is not None:
        families += list(inc.SPAN_TABLES)
        families += [inc.FLAG_DROPS, inc.SPAN_MASK_HASHES]
    if minhash:
        families += list(inc.INDEX_TABLES) + list(inc.OOO_DROP_TABLES)
        families += ["cc_labels"]

    stages: list[tuple[str, DataFrame]] = []
    promoted: DataFrame | None = None
    repaired: DataFrame | None = None

    with store.commit_bracket(retract_id):
        if n_ids == 0:
            store.merge_insert_missing(RETRACTIONS, ledger_row, ["retract_id"])
            return RetractResult(retract_id, False, r_ids)

        # retracted docs' persisted pre-span texts (exact losers have
        # none — they were never family members beyond their hash row)
        pre_r = (
            store.read(CURATED_PRE)
            .join(F.broadcast(r_ids), "doc_id", "leftsemi")
            .select("doc_id", "text")
            .localCheckpoint(eager=True)
        )

        # 1. permanence FIRST: the tombstone + mask make every step
        # below see the retracted ids as gone (and a crash replay
        # recomputes against the untouched pre-retraction snapshot).
        # Three independent single-table writes: on a snapshot store
        # they overlap the exact-family recompute below (any later read
        # of cur_drops / doc_retractions barriers automatically)
        _tombstone(store, r_ids, retract_id, "retracted", permanent=True)
        _mask_insert(store, inc.DOC_RETRACTIONS, r_ids, "doc_id")
        # per-id compliance receipt (the log row below records counts;
        # audits and doc_history want the ids) — keyed insert, so a
        # crash replay converges to one row per (retraction, id)
        store.merge_insert_missing(
            RETRACTION_IDS,
            r_ids.select(F.lit(retract_id).alias("retract_id"), "doc_id"),
            ["retract_id", "doc_id"],
        )

        # 2. exact family: re-elect keepers for every hash group a
        # retracted doc belonged to.  One narrow broadcast-semi pass
        # over the hash map finds the groups; survivors re-group.
        mate_docs = None
        if store.exists("ex_docs"):
            r_rows = (
                store.read("ex_docs")
                .join(F.broadcast(r_ids), "doc_id", "leftsemi")
                .localCheckpoint(eager=True)
            )
            md5s = r_rows.select("text_md5").distinct()
            remaining = (
                store.read_for_keys("ex_docs", md5s)
                .join(F.broadcast(md5s), "text_md5", "leftsemi")
                .join(F.broadcast(r_ids), "doc_id", "left_anti")
            )
            remaining = inc._mask_retracted(store, remaining)
            new_groups = _hash_groups(
                remaining.dropDuplicates(["doc_id"])
            ).localCheckpoint(eager=True)
            old_groups = (
                store.read("ex_groups")
                .join(F.broadcast(md5s), "text_md5", "leftsemi")
                .localCheckpoint(eager=True)
            )
            vanished = old_groups.join(
                new_groups.select("text_md5"), "text_md5", "left_anti"
            ).select("text_md5")
            mates = (
                old_groups.withColumnRenamed("keep_doc_id", "old_keep")
                .join(
                    F.broadcast(r_ids),
                    F.col("old_keep") == F.col("doc_id"),
                    "left_semi",
                )
                .join(new_groups.select("text_md5", "keep_doc_id"), "text_md5")
                .select("text_md5", "old_keep", "keep_doc_id")
            )
            # the promoted mate's text IS the retracted keeper's
            # pre-span text (exact dup), captured before deletion
            mate_docs = (
                mates.join(
                    pre_r.withColumnRenamed("doc_id", "old_keep"), "old_keep"
                )
                .select(F.col("keep_doc_id").alias("doc_id"), "text")
                .localCheckpoint(eager=True)
            )
            if not mate_docs.head(1):
                mate_docs = None
            if store.exists("ex_groups"):
                store.merge_upsert("ex_groups", new_groups, ["text_md5"])
                store.delete_scope("ex_groups", vanished, ["text_md5"])

        # 3. span family: remove the retracted docs' occurrences (mask)
        # and recompute the affected hashes' stats + flags over the
        # survivors PLUS the promoted mates' fresh occurrences — one
        # one-shot-shaped recomputation, so flags are never dropped and
        # immediately re-added.
        rebuild = (
            mate_docs.select("doc_id") if mate_docs is not None else None
        )
        if span is not None and store.exists("sp_occs"):
            # segment sidecar for compact_store's sp_occs fold:
            # (doc_id, h) for EVERY retracted id — ids with no
            # occurrence rows (exact losers, sub-span docs: the same
            # no-cur_pre invariant the repair below relies on) record a
            # NULL hash, so compact's completeness check (unfolded mask
            # docs ⊆ sidecar docs) passes without naming any bucket for
            # them.  The hashes are recomputed from texts this function
            # already holds — zero extra corpus scans.
            occ_sm = (
                _span_occ_rows(pre_r, span)
                .select("doc_id", "h")
                .distinct()
                .localCheckpoint(eager=True)
                if pre_r.head(1)
                else None
            )
            no_h = r_ids
            if occ_sm is not None:
                no_h = r_ids.join(
                    occ_sm.select("doc_id").distinct(), "doc_id", "left_anti"
                )
            sm_rows = no_h.select(
                "doc_id", F.lit(None).cast("bigint").alias("h")
            )
            if occ_sm is not None:
                sm_rows = occ_sm.unionByName(sm_rows)
            store.merge_insert_missing(
                inc.SPAN_MASK_HASHES, sm_rows, ["doc_id", "h"]
            )
        if span is not None and store.exists("sp_occs") and pre_r.head(1):
            occ_r = _span_occ_rows(pre_r, span)
            hs = occ_r.select("h").distinct().localCheckpoint(eager=True)
            stored_aff = (
                store.read_for_keys("sp_occs", hs)
                .join(F.broadcast(hs), "h", "leftsemi")
                .join(F.broadcast(r_ids), "doc_id", "left_anti")
            )
            stored_aff = inc._mask_retracted(store, stored_aff)
            stored_aff = stored_aff.localCheckpoint(eager=True)
            mate_occ = (
                _span_occ_rows(mate_docs, span)
                if mate_docs is not None
                else None
            )
            # dedup by (doc_id, pos): a mate that was RETIRED by a past
            # exact re-election already has its occurrence rows stored
            # (retirement never removes them — harmless then, but a
            # double-counted n_occ here would corrupt the hash stats)
            after = (
                stored_aff.unionByName(mate_occ).dropDuplicates(
                    ["doc_id", "pos"]
                )
                if mate_occ is not None
                else stored_aff
            )
            after = after.localCheckpoint(eager=True)
            new_sp_groups = _span_hash_groups(after).localCheckpoint(
                eager=True
            )
            new_flags = _span_flags(after, new_sp_groups).localCheckpoint(
                eager=True
            )
            old_flags = inc.read_flags(store).join(
                stored_aff.select("doc_id", "pos").distinct(),
                ["doc_id", "pos"],
                "leftsemi",
            )
            removed = old_flags.join(
                new_flags, ["doc_id", "pos"], "left_anti"
            ).localCheckpoint(eager=True)
            added = new_flags.join(
                inc.read_flags(store), ["doc_id", "pos"], "left_anti"
            ).localCheckpoint(eager=True)
            # hashes with no surviving occurrence are PHYSICALLY
            # deleted: h is the bucket source, so prune_keys derives
            # the affected buckets straight from the vanished hash set
            # (scoped, zero scan)
            vanished_hs = hs.join(
                new_sp_groups.select("h"), "h", "left_anti"
            )
            # sp_hashes / sp_occs / sp_flags / its drop mask are
            # independent tables, so their writes overlap
            store.merge_upsert("sp_hashes", new_sp_groups, ["h"])
            if vanished_hs.head(1):
                store.prune_keys("sp_hashes", vanished_hs, ["h"])
            if mate_occ is not None:
                store.merge_insert_missing(
                    "sp_occs", mate_occ, ["doc_id", "pos"]
                )
            store.merge_insert_missing("sp_flags", added, ["doc_id", "pos"])
            has_drops = store.exists(inc.FLAG_DROPS)
            if removed.head(1):
                has_drops = True
                store.merge_insert_missing(
                    inc.FLAG_DROPS, removed, ["doc_id", "pos"]
                )
            if has_drops and added.head(1):
                store.delete_scope(inc.FLAG_DROPS, added, ["doc_id", "pos"])
            changed = removed.unionByName(added).select("doc_id").distinct()
            repaired = changed.join(
                F.broadcast(r_ids), "doc_id", "left_anti"
            ).localCheckpoint(eager=True)
            rebuild = (
                repaired
                if rebuild is None
                else rebuild.unionByName(repaired.select("doc_id"))
            )

        # 4. the retracted rows themselves: curated text and pre-span
        # text are PHYSICALLY deleted (takedown), not masked — both
        # unmanaged tables, both inside this commit
        store.prune_keys(CURATED, r_ids, ["doc_id"])
        store.prune_keys(CURATED_PRE, r_ids, ["doc_id"])

        # 5. MinHash retirement + component relabel: mates demoted only
        # through a retracted doc resurrect; one whose curated row never
        # existed is rebuilt from cur_pre
        if minhash and store.exists("mh_bands"):
            touched = inc.retire_from_minhash(store, r_ids)

            def _reinsert(missing: DataFrame) -> None:
                _rebuild_docs(
                    store,
                    missing,
                    stages,
                    span=span,
                    min_tokens=min_tokens,
                    minhash=minhash,
                    n_hashes=n_hashes,
                    band_size=band_size,
                    cluster_threshold=cluster_threshold,
                    batch_id=retract_id,
                    revive_floor=True,
                )

            _relabel_after_retraction(
                store,
                r_ids.unionByName(_pair_endpoints(touched, cluster_threshold)),
                cluster_threshold,
                rebuild_cb=_reinsert,
            )

        # 6. promoted mates get cur_pre rows (they are family members
        # now), then one rebuild pass covers mates + flag-repaired docs:
        # current-flag span removal, length floor, curated upsert,
        # MinHash (re-)signing, cluster maintenance, demotion sweep
        if mate_docs is not None:
            store.merge_insert_missing(
                CURATED_PRE,
                mate_docs.withColumn("batch_id", F.lit(retract_id)),
                ["doc_id"],
            )
            promoted = mate_docs.select("doc_id")
            # a mate that was itself RETIRED by a past exact
            # re-election (its demoter arrived late, permanent 'exact'
            # tombstone + MinHash retirement) is re-elected BACK when
            # that demoter is deleted: resolve the tombstone and the
            # retirement so the rebuild below can re-materialize it.
            # 'cluster' tombstones stay — cluster demotion state is
            # managed by the relabel + the demotion sweep.
            if store.exists(TOMBSTONES):
                retired_mates = (
                    store.read(TOMBSTONES)
                    .filter(F.col("cause") == "exact")
                    .select("doc_id")
                    .join(F.broadcast(promoted), "doc_id", "leftsemi")
                    .localCheckpoint(eager=True)
                )
                if retired_mates.head(1):
                    store.delete_scope(TOMBSTONES, retired_mates, ["doc_id"])
                    if store.exists("mh_doc_drops"):
                        store.delete_scope(
                            "mh_doc_drops", retired_mates, ["doc_id"]
                        )
        if rebuild is not None:
            rebuild = rebuild.distinct().localCheckpoint(eager=True)
            if rebuild.head(1):
                _rebuild_docs(
                    store,
                    rebuild,
                    stages,
                    span=span,
                    min_tokens=min_tokens,
                    minhash=minhash,
                    n_hashes=n_hashes,
                    band_size=band_size,
                    cluster_threshold=cluster_threshold,
                    batch_id=retract_id,
                    revive_floor=True,
                )
        if minhash and store.exists("cc_labels"):
            _sweep_cluster_demotions(store, retract_id)

        # 7. receipt + ledger LAST (same stance as ingest_increment)
        _log_retraction(store, retract_id, n_ids, sorted(set(families)))
        store.merge_insert_missing(RETRACTIONS, ledger_row, ["retract_id"])

    result = RetractResult(retract_id, False, r_ids, promoted, repaired)
    if auto_compact_bytes is not None:
        maybe_compact_store(store, threshold_bytes=auto_compact_bytes)
    return result


def _log_retraction(
    store: TableStore,
    retract_id: str,
    n_ids: int,
    families: list[str],
) -> None:
    """Append the compliance receipt: WHAT was deleted WHEN — one
    ``retraction_log`` row per retraction, inside the caller's commit
    (the receipt publishes atomically with the deletion; a redelivered
    retraction short-circuits on the ledger and never writes a second
    row).  ``over_version`` is the snapshot version the commit
    publishes (current + 1 — the retraction is the pending batch)."""
    import time as _time

    spark = store.spark
    version = (
        store.current_snapshot()["version"] + 1
        if store.snapshot_isolation
        else -1
    )
    row = spark.range(1).select(
        F.lit(retract_id).alias("retract_id"),
        F.lit("documents").alias("kind"),
        F.lit(n_ids).cast("bigint").alias("n_ids"),
        F.lit(",".join(sorted(set(families)))).alias("families"),
        F.lit(version).cast("bigint").alias("over_version"),
        F.lit(float(_time.time())).alias("ts"),
    )
    store.merge_insert_missing(RETRACTION_LOG, row, ["retract_id"])


def _mask_insert(store: TableStore, table: str, ids: DataFrame, key: str) -> None:
    """Insert permanent-retraction mask rows carrying ``folded=False`` —
    the compact_store fold WATERMARK: a fold prunes base tables with
    only the not-yet-folded ids, then flips them to ``folded=True``, so
    fold cost follows retraction volume SINCE THE LAST FOLD instead of
    lifetime takedown history."""
    store.merge_insert_missing(
        table, ids.select(key).withColumn("folded", F.lit(False)), [key]
    )


def compact_store(store: TableStore) -> None:
    """Fold EVERY merge-on-read mask into its base table — the one-call
    OPTIMIZE analog for a store that has absorbed late-batch repairs
    and/or retractions.  Extends ``compact_minhash_drops`` (the mh_*
    masks) with:

    - ``doc_retractions`` folded into ``ex_docs``/``sp_occs`` (the
      retracted docs' rows physically leave the hash map and the
      occurrence table);
    - ``sp_flag_drops`` folded into ``sp_flags`` (retracted flags
      physically leave);
    - ``cur_pre`` rows pruned and PERMANENT tombstones resolved: a doc
      retired for cause 'exact' or 'retracted' can never re-enter under
      its own text (its id is unique for all time and every probe now
      sees the folded base tables), so its masked ``cur_docs`` row is
      deleted and the tombstone row itself is dropped.  'floor'
      tombstones are REVIVABLE (``retract_documents`` retracts the
      flags that shrank the doc, and ``_rebuild_docs(revive_floor=
      True)`` then regrows it from ``cur_pre``), so they — and their
      ``cur_pre`` rows — survive compaction.  Revocable 'cluster'
      tombstones stay too — they are the ACTIVE demotion mask, bounded
      by the live corpus's near-dup cluster structure, not by repair
      traffic.

    PERMANENCE: the ``doc_retractions`` mask is NEVER folded away — it
    is the takedown contract ("a redelivered copy can never re-enter"),
    consulted by ``ingest_increment``'s redelivery guard and every
    exact/span probe for all time.  Compaction folds its EFFECT into the
    base tables (the masked rows physically leave) but keeps the id set;
    the auto-trigger accounts for this by measuring mask GROWTH since
    the last fold (a driver-side stat file), so an already-folded
    permanent mask never re-triggers.
    The fold itself is delta-scoped the same way: mask rows carry a
    ``folded`` watermark flag — each fold prunes with only the rows
    added since the last fold and then flips them, so per-fold cost
    follows recent retraction volume, never lifetime history.

    All folds run in one ``commit_bracket`` and publish once.
    Reads before/after are identical by construction (each fold applies
    exactly the anti-join its probes were applying — pinned in
    tests/test_ingest.py).  Amortize like the layered fold: run when
    mask bytes near the broadcast threshold (``maybe_compact_store``
    does this check cheaply, driver-side)."""
    from jobcan_data_integrator_spark.operators import incremental as inc

    if not any(
        store.exists(t)
        for t in (
            inc.DOC_RETRACTIONS,
            inc.FLAG_DROPS,
            TOMBSTONES,
        )
    ):
        # MinHash masks only: their own bracket is the one publish
        inc.compact_minhash_drops(store)
        return
    # every fold below goes through the partition-SCOPED prune
    # primitives: on a bucketed/banded snapshot table only the segments
    # containing masked rows are rewritten (emptied ones become layer
    # delete-markers), so the fold's REWRITE cost follows the MASK's
    # partition fan-out, not the corpus size — see TableStore.prune_keys
    # (the residual corpus-linear term is the column-pruned
    # affected-partition scans).  Inside the bracket folds of different
    # tables overlap; same-table prunes stay in call order.
    def _unfolded(table: str, key: str) -> DataFrame | None:
        """The mask rows added since the last fold (``folded=False``).
        None when nothing is new — the per-family prunes are skipped, so
        a fold's cost follows retraction volume SINCE THE LAST FOLD, not
        lifetime takedown history (every bucket any past retraction ever
        touched would otherwise be re-read and re-written on every
        8 MB-growth trigger, forever)."""
        if not store.exists(table):
            return None
        m = (
            store.read(table)
            .filter(~F.col("folded"))
            .select(key)
            .localCheckpoint(eager=True)
        )
        return m if m.head(1) else None

    with store.commit_bracket("store-compact"):
        # nests: the MinHash folds join this commit
        inc.compact_minhash_drops(store)
        _compact_folds(store, _unfolded)
    _record_compact_stat(store)


def _compact_folds(store: TableStore, _unfolded) -> None:
    """The fold body of ``compact_store`` (one ``commit_bracket``): the
    base-table prunes, the mask watermark flips, the permanent-tombstone
    resolution and the transient-mask reset.  Writes of different
    tables overlap on a snapshot store; the sp_flags fold reads
    ``sp_flag_drops`` when it runs and declares it, so the reset of that
    mask waits for it, and the commit publishes once."""
    from jobcan_data_integrator_spark.operators import incremental as inc

    mask = _unfolded(inc.DOC_RETRACTIONS, "doc_id")

    def _fold_sp_flags() -> None:
        if mask is not None:
            store.prune_keys("sp_flags", mask, ["doc_id"])
        if store.exists(inc.FLAG_DROPS):
            store.prune_keys(
                "sp_flags", store.read(inc.FLAG_DROPS), ["doc_id", "pos"]
            )

    store.submit_op(
        _fold_sp_flags,
        reads=("sp_flags", inc.FLAG_DROPS),
        writes=("sp_flags",),
    )
    if mask is not None:
        # sp_occs is bucketed by span hash, so a doc-keyed fold would
        # pay a full-bucket semi-join scan to find affected buckets —
        # the residual data-linear term.  The retraction-time sidecar
        # names the masked docs' hashes; when it COVERS every unfolded
        # masked doc, those hashes become prune_keys' segment hint and
        # the fold is mask-bounded (zero scan).  A mask the sidecar
        # does not cover (a retraction run with span=None records no
        # hashes) fails the coverage check and keeps the scan — never
        # a wrong fold.
        sp_hint = None
        if store.exists(inc.SPAN_MASK_HASHES):
            sm = store.read(inc.SPAN_MASK_HASHES).localCheckpoint(eager=True)
            covered = not mask.join(
                sm.select("doc_id").distinct(), "doc_id", "left_anti"
            ).head(1)
            if covered:
                sp_hint = (
                    sm.join(F.broadcast(mask), "doc_id", "leftsemi")
                    .filter(F.col("h").isNotNull())
                    .select("h")
                    .distinct()
                )
        store.prune_keys("ex_docs", mask, ["doc_id"])
        if sp_hint is not None:
            store.prune_keys(
                "sp_occs", mask, ["doc_id"], segment_keys=sp_hint, segment_col="h"
            )
            # folded docs' sidecar rows are spent (next fold's scope
            # starts empty, mirroring the masks' watermark flip)
            store.delete_scope(inc.SPAN_MASK_HASHES, mask, ["doc_id"])
        else:
            store.prune_keys("sp_occs", mask, ["doc_id"])
    # flip the folded delta's watermark: the permanent ids STAY (the
    # takedown contract), but the next fold's prune scope starts empty
    if mask is not None:
        store.overwrite(
            inc.DOC_RETRACTIONS,
            store.read(inc.DOC_RETRACTIONS).select("doc_id").distinct()
            .withColumn("folded", F.lit(True)),
        )
    if store.exists(TOMBSTONES):
        tomb = store.read(TOMBSTONES)
        # only 'exact' and 'retracted' are final: an exact-retired mate
        # revives through mate PROMOTION (its text comes from the
        # retracted demoter's cur_pre row, not its own), and a retracted
        # doc can never revive at all.  'floor' is revivable (flag
        # retraction regrows the text from the doc's OWN cur_pre row —
        # ADVICE r7), so its tombstone and cur_pre row must survive the
        # fold.
        perm = (
            tomb.filter(F.col("cause").isin("exact", "retracted"))
            .select("doc_id")
            .localCheckpoint(eager=True)
        )
        if perm.head(1):
            store.prune_keys(CURATED, perm, ["doc_id"])
            store.prune_keys(CURATED_PRE, perm, ["doc_id"])
            store.overwrite(
                TOMBSTONES,
                tomb.filter(~F.col("cause").isin("exact", "retracted")),
            )
    # sp_flag_drops is the ONE transient retraction mask (its effect —
    # flag rows deleted — is fully captured by the fold; a later batch
    # re-duplicating the span re-asserts the flag as a fresh insert).
    # doc_retractions is PERMANENT by contract and is never emptied
    # here — see the docstring.  (Waits for the sp_flags fold, which
    # reads sp_flag_drops when it runs.)
    if store.exists(inc.FLAG_DROPS):
        store.overwrite(inc.FLAG_DROPS, store.read(inc.FLAG_DROPS).limit(0))


#: driver-side advisory watermark written by ``compact_store``: every
#: mask table's on-disk bytes as of the last fold.  Purely an
#: auto-trigger optimization — a missing/stale file only causes one
#: extra (reads-identical) compaction, never a wrong read.
COMPACT_STAT = "_compact_stat.json"


def _mask_tables() -> tuple[str, ...]:
    """Every merge-on-read mask the auto-trigger watches: the transient
    ones (folded to empty) and the permanent retraction sets (folded
    but retained)."""
    from jobcan_data_integrator_spark.operators import incremental as inc

    return inc.OOO_DROP_TABLES + inc.RETRACT_MASK_TABLES


def _read_compact_stat(store: TableStore) -> dict:
    import json as _json

    p = store.root / COMPACT_STAT
    try:
        return _json.loads(p.read_text())
    except (OSError, ValueError):
        return {}


def _record_compact_stat(store: TableStore) -> None:
    """Record the mask tables' post-fold footprint (called after a
    successful ``compact_store`` publish — a crashed fold records
    nothing and simply re-triggers)."""
    import json as _json
    import os as _os

    stat = {t: store.table_bytes(t) for t in _mask_tables()}
    tmp = store.root / f"{COMPACT_STAT}.tmp"
    tmp.write_text(_json.dumps(stat))
    _os.replace(tmp, store.root / COMPACT_STAT)


def maybe_compact_store(
    store: TableStore, threshold_bytes: int = 8 << 20
) -> bool:
    """Run ``compact_store`` iff the merge-on-read masks' UNFOLDED
    on-disk size crosses ``threshold_bytes`` — a driver-side stat, no
    Spark job.  Every mask counts only its GROWTH since the last fold
    (the ``_compact_stat.json`` watermark ``compact_store`` writes):
    the permanent retraction masks keep their rows forever (permanence
    contract), and even an emptied transient mask keeps a schema-footer
    footprint — absolute size would re-trigger a fold on every call
    once any retraction happened.  Masks are broadcast at every probe,
    so the default threshold sits under Spark's broadcast-join comfort
    zone; ``ingest_increment`` and ``retract_documents`` call this
    after every successful commit (the auto-trigger), and long-running
    pipelines can also cron it.  Returns True when a compaction ran."""
    folded = _read_compact_stat(store)
    total = sum(
        max(0, store.table_bytes(t) - int(folded.get(t, 0)))
        for t in _mask_tables()
    )
    if total < threshold_bytes:
        return False
    compact_store(store)
    return True
