"""Structured Streaming mode (SURVEY.md §2.9): the reference's
batch-incremental state machine re-expressed as streams.

The reference has no true streaming, but its mechanisms map 1:1
(SURVEY.md §2.9 table): per-key watermarks -> event-time watermark;
late-data catch-up -> windowed aggregation with ``withWatermark``; the
work queue -> a file-source stream over the bronze archive; failure
records -> foreachBatch quarantine.  These entry points make the same
silver tables incrementally maintainable from a stream:

- ``stream_bronze_documents``  — tail the bronze archive as a stream
  (each appended JSON-lines file is a micro-batch; at scale this is the
  standard autoloader shape: file listing scales with new files only);
- ``merge_documents_stream``   — foreachBatch shred + MERGE into the
  silver store: exactly the batch pipeline's write path, so batch and
  streaming share one code path (and one idempotence contract);
- ``windowed_request_counts``  — event-time tumbling counts with a
  watermark bounding state;
- ``sessionize_events_stream`` — custom stateful operator via
  ``applyInPandasWithState`` (gap-based sessions per user), the
  reference-free example of state Spark lacks a built-in for.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from jobcan_data_integrator_spark.operators.shred import (
    parse_request_documents,
    shred_request_documents,
)
from jobcan_data_integrator_spark.storage import TableStore


def _sink(
    stream: DataFrame, fn: Callable[[DataFrame, int], None], checkpoint_dir: str
):
    """The one ``foreachBatch`` sink every entry point below returns:
    ``fn(batch_df, batch_id)`` runs per non-empty micro-batch, and the
    query drains what is available from ``checkpoint_dir``'s offsets
    (``availableNow``), then stops."""

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            fn(batch_df, batch_id)

    return (
        stream.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def stream_bronze_documents(spark: SparkSession, bronze_dir: str) -> DataFrame:
    """Tail the bronze detail archive (JSON lines) as a parsed doc stream."""
    raw = spark.readStream.format("text").load(bronze_dir)
    return parse_request_documents(raw, column="value")


def merge_documents_stream(
    docs: DataFrame,
    store: TableStore,
    checkpoint_dir: str,
):
    """Incrementally maintain the silver tables from a document stream.

    ``foreachBatch`` reuses the batch merge path (``pipeline.write_table``
    with ``REQUEST_WRITES``) — the streaming mode is a scheduler over the
    same idempotent writes, so replays after a failure converge (same
    contract as the batch pipeline's re-run).
    """
    from jobcan_data_integrator_spark.pipeline import REQUEST_WRITES, write_table

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        tables = shred_request_documents(batch_df)
        try:
            for name, df in tables.items():
                write_table(store, name, df, REQUEST_WRITES)
        finally:
            # one cache set per micro-batch would otherwise accumulate
            tables.unpersist()

    return _sink(docs, _merge, checkpoint_dir)


def dedup_documents_stream(
    docs: DataFrame,
    store: TableStore,
    checkpoint_dir: str,
    n_hashes: int = 8,
    band_size: int = 2,
):
    """Ingest-time near-dup detection: each micro-batch of documents
    (doc_id, text) is deduped against the persisted MinHash index and
    absorbed into it — the streaming face of operators/incremental.py.

    Per batch: shingle the batch (batch-linear), join its bands against
    the persisted band table (corpus touched via one equi-join), verify
    candidates, upsert pairs, append the batch to the index.  After the
    stream drains, ``store.read("mh_pairs")`` holds EXACTLY the pairs a
    full-corpus run would produce (tests/test_streaming.py pins the
    equivalence) — dedup cost amortizes over ingest instead of ever
    re-running corpus-wide.  Replays after a crash converge: the extend
    merges are insert-missing/upsert keyed on content-derived ids, the
    same idempotence contract as merge_documents_stream.
    """
    from jobcan_data_integrator_spark.operators.incremental import (
        build_minhash_index,
        dedup_increment,
        extend_index,
    )
    from jobcan_data_integrator_spark.operators.minhash import (
        hashed_shingle_rows,
    )

    def _dedup(batch_df: DataFrame, batch_id: int) -> None:
        sh = hashed_shingle_rows(batch_df.select("doc_id", "text")).cache()
        try:
            if not store.exists("mh_bands"):
                build_minhash_index(store, sh, n_hashes, band_size)
            else:
                pairs = dedup_increment(store, sh, n_hashes, band_size)
                extend_index(store, sh, pairs, n_hashes, band_size)
        finally:
            sh.unpersist()

    return _sink(docs, _dedup, checkpoint_dir)


def windowed_request_counts(
    docs: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Event-time tumbling counts per form with bounded state.

    The watermark is the streaming analogue of the reference's per-form
    ``applied_after`` cursor (I1): rows older than max(event_time) -
    watermark are finalized and their state dropped.
    """
    stamped = docs.select(
        F.col("doc.form_id").alias("form_id"),
        F.to_timestamp(F.col("doc.applied_date")).alias("applied_ts"),
    )
    return (
        stamped.withWatermark("applied_ts", watermark)
        .groupBy(F.window("applied_ts", window).alias("w"), "form_id")
        .agg(F.count("*").alias("n_requests"))
        .select(
            F.col("w.start").alias("window_start"),
            "form_id",
            "n_requests",
        )
    )


#: sessionize output: one row per closed-or-updated session.
SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
    ]
)

#: VERSIONED state: the physical state-store schema is one binary
#: column, permanently — applyInPandasWithState validates the state
#: schema against the checkpoint on restart, so any physical change
#: strands every deployed checkpoint.  The LOGICAL layout lives inside
#: the blob behind a version tag (compact JSON: debuggable, no pickle)
#: and evolves by adding decoder branches, never by touching the
#: physical schema — a v(N) checkpoint restarts cleanly under a v(N+1)
#: binary and upgrades lazily per key on first read
#: (tests/test_streaming.py::test_sessionize_restores_old_layout_checkpoint).
#:
#: Logical payload: ALL of a user's unsealed sessions as (start, end, n)
#: triples sorted by start.  A session leaves state only when the
#: event-time watermark passes its close point — never earlier — so no
#: later event can bridge into an already-emitted session (exactness,
#: not bounded-error).  State stays O(sessions inside one watermark
#: window) per user, which the watermark bounds just like built-in
#: session windows.
#:
#: COMPAT: the blob schema replaced the round-4 3-parallel-array struct
#: (itself a break from round 2's scalar layout) — the LAST physical
#: break.  A checkpoint written under either pre-blob struct cannot
#: restart here (Spark's state schema check rejects it before our code
#: runs): discard it and rebuild from the source (the sessionizer is
#: deterministic over replayed events).  Both historical LOGICAL
#: layouts live on as decoder versions 1 and 2 below.
_STATE_SCHEMA = StructType([StructField("blob", BinaryType())])

#: current logical state-layout version written by _encode_state
_STATE_VERSION = 2


def _encode_state(held: list[list[int]]) -> bytes:
    """Current (v2) layout: parallel triple arrays under a version tag."""
    import json as _json

    return _json.dumps(
        {
            "v": _STATE_VERSION,
            "s": [t[0] for t in held],
            "e": [t[1] for t in held],
            "n": [t[2] for t in held],
        }
    ).encode()


def _decode_state(blob: bytes) -> list[list[int]]:
    """Decode ANY historical layout version into (start, end, n)
    triples: v1 is round 2's scalar one-unsealed-session layout, v2 the
    parallel arrays.  Unknown versions raise loudly — a checkpoint from
    a NEWER binary must not be silently misread."""
    import json as _json

    d = _json.loads(bytes(blob))
    v = d.get("v")
    if v == 1:
        return [[d["s"], d["e"], d["n"]]]
    if v == 2:
        return [list(t) for t in zip(d["s"], d["e"], d["n"])]
    raise ValueError(
        f"unknown sessionizer state version {v!r} — checkpoint written "
        "by a newer binary?"
    )


def merge_gap_intervals(
    intervals: list[tuple[int, int, int]], gap_ms: int
) -> list[list[int]]:
    """Classic interval merge over (start, end, n) triples: any two
    intervals within ``gap_ms`` coalesce.  Pure (no Spark) — the
    sessionizer's per-batch state transition, property-tested for batch
    equivalence in tests/test_streaming.py."""
    merged: list[list[int]] = []
    for s, e, n in sorted(intervals):
        if merged and s - merged[-1][1] <= gap_ms:
            merged[-1][1] = max(merged[-1][1], e)
            merged[-1][2] += n
        else:
            merged.append([s, e, n])
    return merged


def split_sealed(
    held: list[list[int]], wm_ms: int, gap_ms: int
) -> tuple[list[list[int]], list[list[int]]]:
    """(sealed, kept): a session whose ``end + gap`` is behind the
    watermark can never be touched by an admissible event (t >= wm), so
    it is final.  Pure — shared by the streaming operator and its
    property tests."""
    sealed = [t for t in held if t[1] + gap_ms < wm_ms]
    kept = [t for t in held if t[1] + gap_ms >= wm_ms]
    return sealed, kept


def sessionize_events_stream(
    events: DataFrame, gap_seconds: int = 1800, watermark: str = "1 hour"
) -> DataFrame:
    """Gap-based sessionization as a custom stateful streaming operator.

    Input: streaming (user_id long, ts timestamp).  State is the user's
    whole set of UNSEALED sessions (every session newer than
    ``watermark - gap``); each batch runs a classic interval merge over
    (sorted events + unsealed sessions), so out-of-order events extend
    any held session in either direction, stray chains coalesce among
    themselves, and a later in-order event can still bridge two held
    sessions.  This is the ``applyInPandasWithState`` shape of the
    reference's per-key progress map (I4) as a true stream.

    EXACT emission: a session is emitted only once the event-time
    watermark passes ``session_end + gap`` — at that point no event the
    watermark still admits (t >= watermark > end + gap) can attach to or
    bridge into it, so every emitted row is final and the stream output
    equals the batch sessionization of the same events (no overlapping /
    split session rows).  Sealing happens both on data batches and via
    the event-time TIMEOUT (for idle users), keyed to the earliest
    unsealed close point.
    """
    from jobcan_data_integrator_spark.session import ensure_pyfiles

    ensure_pyfiles(events.sparkSession)
    gap_ms = gap_seconds * 1000
    events = events.withWatermark("ts", watermark)

    def _update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key

        def _emit(rows: list[tuple[int, int, int]]) -> pd.DataFrame:
            return pd.DataFrame(
                {
                    "user_id": [user_id for _ in rows],
                    "session_start": [pd.Timestamp(r[0], unit="ms") for r in rows],
                    "session_end": [pd.Timestamp(r[1], unit="ms") for r in rows],
                    "n_events": [r[2] for r in rows],
                }
            )

        # (start, end, n) triples currently held for this user —
        # version-decoded, so any historical blob layout restores
        held: list[list[int]] = []
        if state.exists:
            (blob,) = state.get
            held = _decode_state(blob)

        if not state.hasTimedOut:
            # interval-merge the batch events into the held sessions
            intervals = [tuple(t) for t in held]
            for pdf in pdfs:
                intervals.extend(
                    (t, t, 1)
                    for t in (int(v.value // 1_000_000) for v in pdf["ts"])
                )
            held = merge_gap_intervals(intervals, gap_ms)

        # seal against the watermark: final sessions emit, the rest stay
        # in state.  Applies on data AND timeout calls.
        sealed, held = split_sealed(held, state.getCurrentWatermarkMs(), gap_ms)

        if held:
            state.update((_encode_state(held),))
            # wake when the earliest unsealed session becomes sealable;
            # end + gap >= wm for every held session, so this is always
            # ahead of the current watermark as the API requires
            state.setTimeoutTimestamp(min(t[1] for t in held) + gap_ms + 1)
        elif state.exists:
            state.remove()

        if sealed:
            yield _emit([(s, e, n) for s, e, n in sealed])

    return events.groupBy("user_id").applyInPandasWithState(
        _update,
        SESSION_SCHEMA,
        _STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def index_embeddings_stream(
    emb: DataFrame,
    store: TableStore,
    checkpoint_dir: str,
    n_cells: int = 16,
    iters: int = 2,
    threshold: float = 0.95,
):
    """Ingest-time semantic indexing: each micro-batch of embeddings
    (vec_id, embedding) is scored for near-dups against the persisted
    SemDeDup index and absorbed into it — the streaming face of the
    sd_pairs family (operators/incremental.py), mirroring
    ``dedup_documents_stream`` for the embedding modality.

    The FIRST batch trains the frozen k-means codebook and seeds the
    index (the standard IVF stance: the coarse quantizer is trained
    once, on a representative sample — here the first batch — and
    retrained offline when drift accumulates, never per batch).  Every
    later batch is assigned under the stored codebook, scored against
    only its own cells, and upserted; the batch's pairs also fold into
    the stored keep/drop labels via the label-graph CC
    (``extend_clusters``) — so after the stream drains,
    ``sd_pairs``/``cc_labels`` equal a one-shot run over everything
    under that codebook (tests pin the equivalence).  Replays after a
    crash converge: the increment path is replay-safe and the merges
    are keyed upserts.
    """
    from jobcan_data_integrator_spark.operators.incremental import (
        build_cluster_index,
        build_semantic_index,
        extend_clusters,
        extend_semantic_index,
        semantic_increment,
    )

    def _index(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.select("vec_id", "embedding").localCheckpoint(eager=True)
        if not store.exists("ivf_codebook"):
            build_semantic_index(
                store, b, n_cells=n_cells, iters=iters, threshold=threshold
            )
            build_cluster_index(
                store,
                store.read("sd_pairs").select(
                    F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
                ),
            )
        else:
            pairs = semantic_increment(store, b, threshold).localCheckpoint(
                eager=True
            )
            extend_semantic_index(store, b, pairs)
            extend_clusters(
                store,
                pairs.select(
                    F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
                ),
            )

    return _sink(emb, _index, checkpoint_dir)


def index_spans_stream(
    docs: DataFrame,
    store: TableStore,
    checkpoint_dir: str,
    span: int = 8,
):
    """Ingest-time ExactSubstr dedup: each micro-batch of documents
    (doc_id, text) is span-hashed against the persisted span index and
    absorbed into it — the streaming face of the 7th incremental family
    (operators/incremental.py sp_* tables).

    Per batch: hash the batch's token windows (batch-linear, no
    shuffle), probe only the affected hashes via the bucket-pruned
    ``sp_occs`` read, flag removable occurrences (including retroactive
    demotions of previously-first corpus occurrences), and absorb.
    After the stream drains, ``store.read("sp_flags")`` holds EXACTLY
    the flag set a full-corpus run would produce (tests pin the
    equivalence).  Replays converge: the probe is a pure recompute over
    (stored ∪ increment) occurrences and every merge is keyed —
    flags are monotone, so nothing is ever retracted.
    """
    from jobcan_data_integrator_spark.operators.incremental import (
        build_span_index,
        extend_span_index,
        span_increment,
    )

    def _index(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.select("doc_id", "text")
        if not store.exists("sp_occs"):
            build_span_index(store, batch, span)
        else:
            groups, flags = span_increment(store, batch, span)
            extend_span_index(store, batch, groups, flags, span)

    return _sink(docs, _index, checkpoint_dir)


def clean_documents_stream(
    docs: DataFrame,
    store: TableStore,
    checkpoint_dir: str,
    max_doc_freq: int | None = None,
    min_line_chars: int | None = None,
):
    """Ingest-time boilerplate-line cleaning: each micro-batch of
    (doc_id, text) documents is cleaned against the ACCUMULATED corpus
    line frequencies (operators/incremental.py's bl_stats family), the
    cleaned rows are upserted into ``bl_clean_docs``, and the batch's
    own line counts are absorbed into the index — line cleaning
    amortized over ingest, never a corpus re-scan.

    Crash-replay exact: Structured Streaming redelivers only the LAST
    uncommitted batch (offsets commit in order), and for that batch the
    merged stats are identical whether its counts were absorbed or not
    — unabsorbed folds them in via ``include_increment=True``, absorbed
    reads them from the store — so the keyed upsert rewrites the same
    rows and ``extend_line_index``'s batch ledger keeps the additive
    merge exactly-once.  A FULL reprocess (fresh checkpoint over the
    same source) is a monotone refinement: counts never double-add, and
    every batch now cleans against the complete corpus stats, so
    ``bl_clean_docs`` converges to exactly the one-shot full-corpus
    clean (pinned in tests/test_incremental_lines.py).  Requires a
    snapshot-isolation TableStore (as every additive family does)."""
    from jobcan_data_integrator_spark.operators.incremental import (
        build_line_index,
        clean_increment,
        extend_line_index,
    )

    def _clean(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.select("doc_id", "text")
        bid = f"line-stream-{batch_id}"
        absorbed = (
            store.exists("bl_batches")
            and store.read("bl_batches")
            .filter(F.col("batch_id") == bid)
            .limit(1)
            .count()
            > 0
        )
        need_extend = False
        if absorbed:
            cleaned = clean_increment(
                store, b, max_doc_freq, min_line_chars,
                include_increment=False,
            )
        elif not store.exists("bl_stats"):
            # first batch: the build IS the absorption (recorded under
            # bid), so clean against the stored stats only
            build_line_index(store, b, min_line_chars, batch_id=bid)
            cleaned = clean_increment(
                store, b, max_doc_freq, min_line_chars,
                include_increment=False,
            )
        else:
            cleaned = clean_increment(
                store, b, max_doc_freq, min_line_chars,
                include_increment=True,
            )
            need_extend = True
        cleaned = cleaned.localCheckpoint(eager=True)
        store.merge_upsert("bl_clean_docs", cleaned, ["doc_id"])
        if need_extend:
            extend_line_index(store, b, bid, min_line_chars)

    return _sink(docs, _clean, checkpoint_dir)


def index_pq_stream(
    emb: DataFrame,
    store: TableStore,
    checkpoint_dir: str,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
):
    """Ingest-time PQ encoding: the FIRST micro-batch trains the frozen
    codebook (the standard PQ stance — representative sample once,
    offline retrain on drift, never per batch) and seeds ``pq_codes``;
    every later batch encodes itself against the stored codebook in a
    pure map and inserts its codes.  After the stream drains the index
    serves ADC search (``pq_search_indexed``) over everything ingested.

    Replay-safe with no ledger: codes are keyed by vec_id and encoding
    under a frozen codebook is deterministic, so a redelivered batch
    re-inserts identical rows that merge_insert_missing drops."""
    from jobcan_data_integrator_spark.operators.incremental import (
        build_pq_index,
        encode_pq_increment,
        extend_pq_index,
    )

    def _index(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.select("vec_id", "embedding").localCheckpoint(eager=True)
        if not store.exists("pq_codebooks"):
            build_pq_index(store, b, m=m, k=k, iters=iters)
        else:
            extend_pq_index(store, encode_pq_increment(store, b))

    return _sink(emb, _index, checkpoint_dir)


def ingest_documents_stream(
    docs: DataFrame,
    store: TableStore,
    checkpoint_dir: str,
    **ingest_kwargs,
):
    """Streaming face of the ORCHESTRATED ingest: each micro-batch of
    (doc_id, text) runs ``operators/ingest.ingest_increment`` — the
    full curation pipeline against and into every configured index
    family, one snapshot commit per micro-batch — under the batch id
    ``stream-<epoch_id>``.

    Exactly-once without idempotent sinks: Structured Streaming
    redelivers an epoch after a foreachBatch failure, and the
    orchestrator's ``ig_batches`` ledger turns the redelivery into a
    no-op (a crash BEFORE the snapshot publish left nothing visible,
    so the retry recomputes against the pre-batch state).  Micro-batches
    may deliver ids in any order: the orchestrator repairs a late id's
    effects on absorbed docs, as it does for every batch.
    ``ingest_kwargs`` pass through to ``ingest_increment`` (span,
    min_tokens, minhash, ...).
    """
    from jobcan_data_integrator_spark.operators.ingest import (
        ingest_increment,
    )

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        ingest_increment(
            store,
            batch_df.select("doc_id", "text"),
            f"stream-{batch_id}",
            **ingest_kwargs,
        )

    return _sink(docs, _ingest, checkpoint_dir)


def retract_documents_stream(
    requests: DataFrame,
    store: TableStore,
    checkpoint_dir: str,
    **retract_kwargs,
):
    """Streaming face of the takedown path: each micro-batch of
    (doc_id) rows runs ``operators/ingest.retract_documents`` — the
    one-call deletion across the curated corpus and every doc-keyed
    family, with the receipt log and per-id receipt, one snapshot
    commit per micro-batch — under the retraction id
    ``stream-retract-<epoch_id>``.  The operational shape a production
    corpus needs: takedown requests arrive as a FEED (DSAR queues,
    copyright claims), not as one offline job.

    Exactly-once mirrors ``ingest_documents_stream``: a redelivered
    epoch short-circuits on the ``retractions`` ledger (and the
    permanent ``doc_retractions`` mask makes even a re-sent id a
    no-op at every family).  ``retract_kwargs`` pass through to
    ``retract_documents`` (span, min_tokens, minhash params, ...) —
    pass the same stage knobs the store was ingested with."""
    from jobcan_data_integrator_spark.operators.ingest import (
        retract_documents,
    )

    def _retract(batch_df: DataFrame, batch_id: int) -> None:
        retract_documents(
            store,
            batch_df.select("doc_id"),
            f"stream-retract-{batch_id}",
            **retract_kwargs,
        )

    return _sink(requests, _retract, checkpoint_dir)
