"""Focused tests for the r11 fixed-cost storage optimizations:

1. Background submission inside any open commit bracket (``_depth``
   > 0): submits overlap on the scheduler but the bracket's semantics
   are unchanged — same-instance reads observe the pending writes,
   nothing publishes before ``end_commit``, a failing op aborts the
   bracket, a failed publish leaks nothing into the next commit, and
   cross-table hazards stay ordered.  Bare write primitives called on
   the bracket's own thread queue themselves the same way (writes of
   different tables overlap, same-table writes keep call order, a
   failure surfaces at the bracket exit, and a cache release queued
   after them still runs); argument errors still raise at the call,
   another thread's primitive calls run inline, and the lease is
   verified after the queued writes drain.
2. The versioned-dir schema memo (``_read_pq``): repeated reads of one
   immutable snapshot dir reuse the inferred schema; a new version with
   a DIFFERENT schema is read with its own schema (no stale memo).
3. Layout edge cases: a zero-row first write to a managed plain-mode
   table leaves no unreadable dir, ``read_at`` never serves a table
   the pinned snapshot does not hold, and the benchmark's store tracing
   still resolves every method it wraps.
"""

from __future__ import annotations

import json
import threading
import time

import pytest

from pyspark.sql import functions as F

from jobcan_data_integrator_spark.storage import ConcurrentWriterError, TableStore


def _store(spark, tmp_path, **kw):
    return TableStore(
        spark, tmp_path / "store", snapshot_isolation=True,
        write_partitions=1, **kw,
    )


def test_begin_commit_backgrounds_submits(spark, tmp_path):
    store = _store(spark, tmp_path)
    a = spark.range(5).select(F.col("id").alias("k"))
    b = spark.range(7).select(F.col("id").alias("k"))
    store.begin_commit("bg-bracket")
    assert store._depth == 1
    store.submit_op(lambda: store.overwrite("ta", a), reads=("ta",), writes=("ta",))
    store.submit_op(lambda: store.overwrite("tb", b), reads=("tb",), writes=("tb",))
    # the scheduler was engaged (not inline): at least one async future
    assert store._async is not None
    # same-instance reads barrier on the pending writer and see the data
    assert store.read("ta").count() == 5
    # a SECOND store instance (reader) must not see anything pre-publish
    other = TableStore(spark, tmp_path / "store", snapshot_isolation=True)
    assert not other.exists("ta")
    store.end_commit()
    assert store._depth == 0
    other2 = TableStore(spark, tmp_path / "store", snapshot_isolation=True)
    assert other2.read("ta").count() == 5
    assert other2.read("tb").count() == 7


def test_begin_commit_background_failure_aborts(spark, tmp_path):
    store = _store(spark, tmp_path)

    def boom():
        raise RuntimeError("background write failed")

    store.begin_commit("bg-fail")
    store.submit_op(boom, reads=("ta",), writes=("ta",))
    with pytest.raises(RuntimeError, match="background write failed"):
        store.end_commit()


def test_begin_commit_same_table_order_preserved(spark, tmp_path):
    """WAW: two background writes of one table land in submit order."""
    store = _store(spark, tmp_path)
    first = spark.range(3).select(F.col("id").alias("k"))
    second = spark.range(10).select(F.col("id").alias("k"))
    store.begin_commit("bg-waw")
    store.submit_op(lambda: store.overwrite("ta", first), reads=("ta",), writes=("ta",))
    store.submit_op(lambda: store.overwrite("ta", second), reads=("ta",), writes=("ta",))
    store.end_commit()
    assert store.read("ta").count() == 10
    # bare primitives on the bracket's thread queue in call order too
    third = spark.range(10, 12).select(F.col("id").alias("k"))
    with store.commit_bracket("bare-waw"):
        store.overwrite("tb", second)
        store.overwrite("tb", first)
        store.merge_insert_missing("tb", third, ["k"])
        assert store._async is not None
        store.prune_predicate("tb", F.col("k") == 0)
    assert sorted(r.k for r in store.read("tb").collect()) == [1, 2, 10, 11]


def test_bare_writes_of_different_tables_overlap(spark, tmp_path, monkeypatch):
    """Two bare ``overwrite`` calls inside a bracket run concurrently:
    each blocks in its write until the other has reached it too, which
    an inline (sequential) write could never satisfy."""
    store = _store(spark, tmp_path, driver_bounded={"ta": 100, "tb": 100})
    meet = threading.Barrier(2, timeout=10)
    real = store._driver_write

    def meeting_write(table, df, out):
        meet.wait()
        return real(table, df, out)

    monkeypatch.setattr(store, "_driver_write", meeting_write)
    a = spark.range(5).select(F.col("id").alias("k"))
    b = spark.range(7).select(F.col("id").alias("k"))
    with store.commit_bracket("overlap"):
        store.overwrite("ta", a)
        store.overwrite("tb", b)
    assert store.read("ta").count() == 5
    assert store.read("tb").count() == 7


def test_schema_memo_hits_and_versions(spark, tmp_path):
    store = _store(spark, tmp_path)
    v1 = spark.range(4).select(F.col("id").alias("k"), F.lit("x").alias("s"))
    store.begin_commit("memo-1")
    store.overwrite("tm", v1)
    store.end_commit()
    r1 = store.read("tm")
    assert len(store._schema_memo) == 1
    # second read of the same version: memo hit, identical schema + rows
    r2 = store.read("tm")
    assert r2.schema == r1.schema
    assert sorted(r.k for r in r2.collect()) == [0, 1, 2, 3]
    # overwrite with a DIFFERENT schema -> new versioned dir -> no stale
    # schema served
    v2 = spark.range(2).select(
        F.col("id").alias("k"), F.lit(1).alias("n"), F.lit(True).alias("b")
    )
    store.begin_commit("memo-2")
    store.overwrite("tm", v2)
    store.end_commit()
    r3 = store.read("tm")
    assert set(r3.columns) == {"k", "n", "b"}
    assert r3.count() == 2


def test_driver_bounded_write_roundtrip(spark, tmp_path):
    """driver_bounded tables: the pyarrow driver-side write publishes a
    file Spark reads back with the IDENTICAL schema and rows the Spark
    writer would have produced; over-bound frames fall back silently."""
    rows = spark.range(0, 50).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("t"), F.col("id").cast("string")).alias("txt"),
        F.array(F.col("id"), F.col("id") * 2).alias("arr"),
        F.timestamp_micros(F.col("id") * 1_000_000).alias("ts"),
    )
    store = _store(
        spark, tmp_path, driver_bounded={"tiny": 1000, "overcap": 10},
        sorted_by={"tiny": ["doc_id"]},
    )
    ctl = TableStore(
        spark, tmp_path / "ctl", snapshot_isolation=True, write_partitions=1
    )
    store.begin_commit("dw")
    store.overwrite("tiny", rows)
    store.overwrite("overcap", rows)  # 50 > 10: Spark-write fallback
    store.overwrite("empty", rows.filter("doc_id < 0"))
    store.end_commit()
    ctl.begin_commit("dw")
    ctl.overwrite("tiny", rows)
    ctl.end_commit()
    a, b = store.read("tiny"), ctl.read("tiny")
    assert a.schema == b.schema
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert store.read("overcap").count() == 50
    e = store.read("empty")
    assert e.count() == 0 and e.schema == b.schema
    # the fast path actually engaged (and only where contracted)
    droot = tmp_path / "store"
    assert list(droot.glob("tiny.v-*/part-00000-driver.parquet"))
    assert not list(droot.glob("overcap.v-*/part-*driver*.parquet"))


def test_driver_bounded_merge_rides_overwrite(spark, tmp_path):
    """merge_upsert / merge_insert_missing on an unmanaged bounded table
    go through the driver-side write and keep merge semantics exact."""
    store = _store(spark, tmp_path, driver_bounded={"m": 1000})
    base = spark.range(0, 10).select(
        F.col("id").alias("k"), F.lit("old").alias("v")
    )
    ups = spark.range(5, 15).select(
        F.col("id").alias("k"), F.lit("new").alias("v")
    )
    store.begin_commit("m1")
    store.overwrite("m", base)
    store.merge_upsert("m", ups, ["k"])
    store.end_commit()
    got = {(r.k, r.v) for r in store.read("m").collect()}
    assert got == {(k, "old") for k in range(5)} | {
        (k, "new") for k in range(5, 15)
    }
    store.begin_commit("m2")
    store.merge_insert_missing(
        "m",
        spark.range(0, 20).select(
            F.col("id").alias("k"), F.lit("ins").alias("v")
        ),
        ["k"],
    )
    store.end_commit()
    got = {(r.k, r.v) for r in store.read("m").collect()}
    assert got == {(k, "old") for k in range(5)} | {
        (k, "new") for k in range(5, 15)
    } | {(k, "ins") for k in range(15, 20)}


def test_abort_commit_clears_failed_bracket(spark, tmp_path):
    """An exception inside a standalone bracket must not leave pending
    background writes that a LATER unrelated commit would publish."""
    store = _store(spark, tmp_path)
    good = spark.range(3).select(F.col("id").alias("k"))
    with pytest.raises(RuntimeError, match="boom"):
        with store.commit_bracket("bad"):
            store.submit_op(
                lambda: store.overwrite("ta", good),
                reads=("ta",), writes=("ta",),
            )
            raise RuntimeError("boom")
    assert store._depth == 0
    assert not store._pending_versions
    # the failed bracket's write never became visible, and a fresh
    # bracket works normally
    assert not store.exists("ta")
    with store.commit_bracket("ok"):
        store.overwrite("tb", good)
    assert store.read("tb").count() == 3
    assert not store.exists("ta")


def test_failed_outer_publish_leaks_nothing_into_next_commit(
    spark, tmp_path, monkeypatch
):
    """A publish failing at the OUTER bracket's exit (after a composed
    operator's inner bracket joined it) aborts the whole batch: nothing
    was published, the pending versions and the lease are gone, and the
    next commit publishes only its own table."""
    store = _store(spark, tmp_path)
    a = spark.range(5).select(F.col("id").alias("k"))
    b = spark.range(7).select(F.col("id").alias("k"))
    real_publish = store._publish_snapshot

    def fail_once(*args, **kwargs):
        monkeypatch.setattr(store, "_publish_snapshot", real_publish)
        raise OSError("publish failed")

    with pytest.raises(OSError, match="publish failed"):
        with store.commit_bracket("batch"):
            with store.commit_bracket("extend"):
                store.overwrite("ta", a)
            store.overwrite("tb", b)
            monkeypatch.setattr(store, "_publish_snapshot", fail_once)
    assert store.current_snapshot()["version"] == 0
    assert not store._pending_versions
    assert not (store.root / TableStore.LEASE).exists()
    assert store._depth == 0
    with store.commit_bracket("ok"):
        store.overwrite("tb", b)
    assert set(store.current_snapshot()["tables"]) == {"tb"}
    assert store.pending_commit() is None


def test_commit_bracket_background_failure_aborts(spark, tmp_path):
    """A background write failure surfaces at the bracket exit AND the
    bracket aborts (no half-published state)."""
    store = _store(spark, tmp_path)

    def boom():
        raise ValueError("bg fail")

    with pytest.raises(ValueError, match="bg fail"):
        with store.commit_bracket("bg-bad"):
            store.submit_op(boom, reads=("ta",), writes=("ta",))
    assert store._depth == 0
    assert not store._pending_versions
    # a bare primitive whose frame fails when it runs: the call returns
    # (the write is queued), the bracket aborts at its exit, and not even
    # the bracket's successful write is published
    good = spark.range(3).select(F.col("id").alias("k"))
    bad = spark.range(3).select(F.raise_error(F.lit("bare write failed")).alias("k"))
    returned = False
    with pytest.raises(Exception, match="bare write failed"):
        with store.commit_bracket("bare-bad"):
            store.overwrite("ta", good)
            store.overwrite("tb", bad)
            returned = True
    assert returned
    assert store._depth == 0
    assert not store._pending_versions
    assert store.current_snapshot()["version"] == 0
    assert not store.exists("ta")
    assert not (store.root / TableStore.LEASE).exists()


def test_release_op_runs_after_a_failed_write(spark, tmp_path):
    """An op that writes nothing (a build's cache release) still runs
    once the writes it follows are done, even when one failed; the
    failure is still what the bracket raises."""
    store = _store(spark, tmp_path)
    bad = spark.range(3).select(F.raise_error(F.lit("bare write failed")).alias("k"))
    ran = []
    with pytest.raises(Exception, match="bare write failed"):
        with store.commit_bracket("release"):
            store.overwrite("ta", bad)
            store.submit_op(lambda: ran.append("released"), reads=("ta",))
    assert ran == ["released"]


def test_lease_takeover_during_the_drain_publishes_nothing(spark, tmp_path):
    """The fencing check runs after the bracket's queued writes drain:
    a takeover that lands while they run still stops the publish."""
    store = _store(spark, tmp_path)

    def take_over():
        lease = store.root / TableStore.LEASE
        held = json.loads(lease.read_text())
        lease.write_text(
            json.dumps({"pid": 1, "ts": time.time(), "epoch": held["epoch"] + 1})
        )

    with pytest.raises(ConcurrentWriterError, match="lease lost"):
        with store.commit_bracket("zombie"):
            store.overwrite("ta", spark.range(3).select(F.col("id").alias("k")))
            store.submit_op(take_over, reads=("ta",), writes=("ta",))
    assert store.current_snapshot()["version"] == 0
    assert json.loads((store.root / TableStore.LEASE).read_text())["pid"] == 1


def test_delete_scope_on_managed_table_raises_at_the_call(spark, tmp_path):
    store = _store(spark, tmp_path, bucketed={"m": ("k", 4)})
    keys = spark.range(3).select(F.col("id").alias("k"))
    with store.commit_bracket("ds"):
        store.overwrite("m", keys)
        with pytest.raises(ValueError, match="delete_scope"):
            store.delete_scope("m", keys, ["k"])
    assert store.read("m").count() == 3


def test_primitive_on_another_thread_runs_inline(spark, tmp_path):
    """Only the thread that opened the bracket queues its writes; a
    primitive called from any other thread runs inline there, so its
    failure raises in that thread (per-write failure attribution, as
    the pipeline's phase pool relies on)."""
    store = _store(spark, tmp_path)
    bad = spark.range(3).select(F.raise_error(F.lit("inline write failed")).alias("k"))
    good = spark.range(4).select(F.col("id").alias("k"))
    errors = []

    def write():
        try:
            store.overwrite("tc", bad)
        except Exception as exc:  # noqa: BLE001 - asserted below
            errors.append(exc)
        store.overwrite("td", good)

    with store.commit_bracket("other-thread"):
        t = threading.Thread(target=write)
        t.start()
        t.join(timeout=120)
        assert not t.is_alive()
        assert store._async is None  # nothing was queued
        assert len(errors) == 1 and "inline write failed" in str(errors[0])
    assert not store.exists("tc")
    assert store.read("td").count() == 4


def test_empty_first_write_to_managed_plain_table_stays_absent(spark, tmp_path):
    """A zero-row partitioned write lands no data file; the table must
    stay absent (not an unreadable empty dir) so the next merge that
    carries rows creates it."""
    store = TableStore(
        spark,
        tmp_path / "plain",
        write_partitions=1,
        partitioned={"p": ["g"]},
        bucketed={"b": ("k", 4)},
    )
    schema = "k int, g string, v int"
    rows = [(1, "a", 10), (2, "b", 20)]
    for table in ("p", "b"):
        store.sync_children(table, spark.createDataFrame([], schema), ["k"])
        assert not store.exists(table)
        store.sync_children(table, spark.createDataFrame(rows, schema), ["k"])
        got = sorted(
            (r.k, r.g, r.v) for r in store.read(table).collect()
        )
        assert got == rows


def test_read_at_never_serves_unpinned_tables(spark, tmp_path):
    """``read_at`` resolves ONLY through the pinned manifest: a table a
    later publish created, or one pending in the open bracket, is not
    in the pin and raises like ``read_version`` does."""
    store = _store(spark, tmp_path)
    snap = store.current_snapshot()
    with store.commit_bracket("b1"):
        store.overwrite("ta", spark.range(3).select(F.col("id").alias("k")))
    with pytest.raises(FileNotFoundError):
        store.read_at("ta", snap)
    with store.commit_bracket("b2"):
        store.overwrite("tb", spark.range(5).select(F.col("id").alias("k")))
        with pytest.raises(FileNotFoundError):
            store.read_at("tb", snap)
    assert store.read_at("ta", store.current_snapshot()).count() == 3


def test_benchmark_tracing_resolves_every_wrapped_store_method():
    """perfbench/tracing.py wraps TableStore methods by name at import;
    importing it here makes a deleted or renamed traced method fail the
    default tier instead of the benchmark."""
    import importlib.util
    from pathlib import Path

    path = Path(__file__).resolve().parents[1] / "perfbench" / "tracing.py"
    spec = importlib.util.spec_from_file_location("_perfbench_tracing", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)  # AttributeError on a missing method
    assert issubclass(mod.TracedStore, TableStore)
