"""Table storage with MERGE semantics over plain Parquet
(reference upsert idioms, SURVEY.md §2.3).

The reference's four write idioms map to three primitives here:

- ``merge_upsert``        — INSERT OR REPLACE / ON CONFLICT DO UPDATE
  (users.py:101-106, _requests.py:72-80, _customized_items.py:130-136)
- ``merge_insert_missing``— INSERT ... WHERE NOT EXISTS, never updates
  (group.py:52-64, N15)
- ``sync_children``       — full-snapshot-per-scope: replace ALL child rows
  of the scoped parents (users.py:109-180 delete-of-removed, N14/N18 —
  and the fix for the reference's broken tail-trim DELETE)

Every write primitive (``overwrite``, the three merges, ``delete_scope``,
``prune_keys``, ``prune_predicate``) touches exactly ONE table, so the
store decides which of a commit's writes may overlap: on a snapshot
store, a primitive called inside a commit bracket on the thread that
opened it validates its arguments, then queues itself on the bracket's
background scheduler with its own table as its read and write set
(``_AsyncWrites``: same-table writes keep program order, a read of the
table waits for its pending writer).  Callers write plain sequential
calls; only an op that reads ANOTHER table when it runs declares its
sets through ``submit_op``.  Everywhere else (plain mode, outside a
bracket, on any other thread) a primitive runs inline.

Implementation is read-modify-write parquet, in one of two on-disk
layouts fixed when the store is constructed:

- plain mode (the default): each table is one live directory
  ``<table>/``, hive-partitioned for managed tables.  A full replace
  lands in ``<table>.tmp-<token>-<id>`` and is renamed over the live
  directory; managed merges rewrite only their partitions in place.
- snapshot mode (``snapshot_isolation=True``): every write lands in a
  fresh ``<table>.v-<token>-<id>`` directory (a layer stack for managed
  tables) and becomes visible when ``end_commit`` swaps the
  ``_snapshot.json`` pointer; ``_snaplog/`` keeps one manifest per
  published version.

The two layouts are not interchangeable: a root written in one mode is
never read in the other.  On a production deployment the same three
call sites bind 1:1 to Delta/Iceberg ``MERGE INTO`` (``WHEN MATCHED
UPDATE / WHEN NOT MATCHED INSERT / WHEN NOT MATCHED BY SOURCE DELETE``)
and become metadata-only row-group rewrites; the rewrite-everything
fallback is the cost of zero table-format dependencies, not of the
design.  Keys are compared null-safely (``eqNullSafe``) to mirror
SQLite's ``IS`` used in the reference's existence checks.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
import uuid
import weakref
from concurrent.futures import ThreadPoolExecutor, wait
from contextlib import contextmanager
from functools import reduce
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: derived partition column for ``bucketed`` tables (dropped on read)
BUCKET_COL = "_pbucket"

#: derived partition column for ``range_partitioned`` tables (dropped on
#: read) — the Iceberg ``truncate(width)`` transform analog
RANGE_COL = "_prange"

#: absolute table paths with an ``overwrite`` swap in flight in THIS
#: process — _recover must neither restore nor clean such a table while
#: another thread (e.g. a streaming foreachBatch merge sharing the store
#: root with the batch pipeline) is mid-swap, or it can delete the
#: in-flight tmp write / rename the superseded .old back mid-rename.
_INFLIGHT_LOCK = threading.Lock()
_INFLIGHT: set[str] = set()

#: leftover ``.tmp-*`` dirs from OTHER processes are only reclaimed once
#: this old — a fresh foreign tmp may be a live writer's in-flight data.
#: (Cross-process concurrent writers to one table are otherwise
#: unsupported — single logical writer per table, like the reference's
#: single-process SQLite; the age gate just keeps a same-host overlap
#: from corrupting an in-flight swap.)
_STALE_TMP_SECONDS = 3600.0

#: live in-process lease holders per store root: TableStore instances
#: currently between ``begin_commit`` and ``end_commit``.  A WeakSet, so
#: a crashed/abandoned instance drops out when collected and a
#: same-process replay through a fresh handle re-enters freely — while
#: TWO LIVE instances composing on one root (streaming merge + batch
#: pipeline) refcount the lease instead of the second's end_commit
#: unlinking it under the first (ADVICE r7).
_LEASE_LOCK = threading.Lock()
_LEASE_HOLDERS: dict[str, "weakref.WeakSet"] = {}


#: set on threads executing a ``submit_op`` body: storage-level
#: auto-barriers are skipped there (the op's dependencies were resolved
#: at submit time; re-barriering from inside a worker would self-wait)
_ASYNC_WORKER = threading.local()

#: concurrent store writes per commit: the background scheduler's pool,
#: and the Jobcan pipeline's overlapped phase merges.  Each tiny
#: versioned write is >99% DRIVER fixed cost (~0.2 s, BASELINE.md
#: fixed-cost memo), so the pool bounds driver-side concurrency, not
#: executor contention; 8 was the measured sweet spot (8 merges: 2.66 s
#: serial vs 0.58 s under 8 threads, OPTIMIZATION_r11.md §1)
WRITE_POOL_WIDTH = 8


class _AsyncWrites:
    """Dependency-ordered background executor for the independent store
    writes of ONE commit (guide §2.6: overlap independent jobs so each
    small write's fixed driver/scheduler cost hides behind the pipeline's
    compute instead of serializing after it).

    Ops declare the tables they read and write at submit time; an op
    waits for (a) earlier writers of anything it reads (RAW), (b) earlier
    writers of anything it writes (WAW — same-table writes stay ordered),
    and (c) earlier readers of anything it writes (WAR — a reader sees
    the state as of ITS submission, never a later write).  Every
    dependency is an earlier-submitted future and the pool is FIFO, so a
    blocked op's dependencies are always already running or done — no
    cyclic wait is constructible.

    An op that writes never runs after a failed dependency.  An op that
    writes nothing (releasing the caches earlier writes read) runs once
    its dependencies are done, failed or not; ``wait_all`` re-raises
    the first failure either way.
    """

    def __init__(self) -> None:
        self._pool = ThreadPoolExecutor(max_workers=WRITE_POOL_WIDTH)
        self._lock = threading.Lock()
        self._writers: dict[str, object] = {}
        self._readers: dict[str, list] = {}
        self._all: list = []

    def submit(self, op, reads: tuple, writes: tuple) -> None:
        with self._lock:
            deps = []
            for t in reads:
                w = self._writers.get(t)
                if w is not None:
                    deps.append(w)
            for t in writes:
                w = self._writers.get(t)
                if w is not None:
                    deps.append(w)
                deps.extend(self._readers.get(t, []))

            def run(deps=deps, op=op, writes=writes):
                wait(deps)
                if writes:
                    for d in deps:
                        d.result()
                _ASYNC_WORKER.active = True
                try:
                    op()
                finally:
                    _ASYNC_WORKER.active = False

            fut = self._pool.submit(run)
            for t in writes:
                self._writers[t] = fut
                self._readers[t] = []
            for t in reads:
                self._readers.setdefault(t, []).append(fut)
            self._all.append(fut)

    def wait_table(self, table: str) -> None:
        """Block until the last submitted writer of ``table`` (if any)
        has finished — the read-side barrier."""
        with self._lock:
            fut = self._writers.get(table)
        if fut is not None:
            fut.result()

    def wait_all(self, *, swallow: bool = False) -> None:
        with self._lock:
            futs = list(self._all)
            self._all = []
            self._writers = {}
            self._readers = {}
        first_err = None
        for f in futs:
            try:
                f.result()
            except BaseException as e:  # noqa: BLE001 - re-raised below
                if first_err is None:
                    first_err = e
        self._pool.shutdown(wait=True)
        if first_err is not None and not swallow:
            raise first_err


class ConcurrentWriterError(RuntimeError):
    """A second writer tried to commit to a store another live writer
    holds the lease on.  The snapshot pointer update and the manifest
    protocol are read-modify-write — two interleaved writers would
    silently lose each other's publishes — so commits are fenced by an
    advisory lease (``_writer.lease``) instead of relying on the
    documented single-writer convention."""


class TableStore:
    """A directory of parquet tables with merge primitives."""

    def __init__(
        self,
        spark: SparkSession,
        root: str | os.PathLike,
        *,
        write_partitions: int | None = None,
        partitioned: dict[str, list[str]] | None = None,
        bucketed: dict[str, tuple[str, int]] | None = None,
        range_partitioned: dict[str, tuple[str, int]] | None = None,
        sorted_by: dict[str, list[str]] | None = None,
        snapshot_isolation: bool = False,
        max_snapshot_layers: int = 8,
        retain_snapshots: int = 1,
        driver_bounded: dict[str, int] | None = None,
    ) -> None:
        """``write_partitions`` caps output files per table — set to a small
        number for dimension-scale tables / tests; leave None to let AQE
        size the write (the right call for large fact tables).

        ``partitioned`` maps table name -> hive partition columns.  Merges
        into a partitioned table rewrite ONLY the partitions present in
        the update batch (dynamic partition overwrite + a broadcast-semi
        prune of the current side), so a 100 TB table absorbs a
        few-partition increment without a full rewrite.  Dynamic
        overwrite is not atomic across partitions — same contract as the
        reference's per-record commits: a crashed write is converged by
        the idempotent re-run (failure records, SURVEY.md §4.3 item 2).

        ``bucketed`` maps table name -> (source column, n_buckets) for
        tables whose natural key is too high-cardinality to hive-partition
        directly (e.g. child tables scoped by ``request_id``): writes add
        a derived partition column ``_pbucket = pmod(xxhash64(src), n)``
        and reads drop it, so merges rewrite only the 1/n of the table
        the update batch's keys hash into.  The same key always lands in
        the same bucket, so scoped syncs stay correct by construction.

        ``range_partitioned`` maps table name -> (source column, width)
        for tables whose merge locality follows a MONOTONE integer key —
        writes add a derived partition column ``_prange = src div width``
        and reads drop it (the Iceberg ``truncate(width)`` partition
        transform).  Where hash buckets spread a new-id increment across
        EVERY bucket, range bands keep it in the few bands its ids fall
        into — the right layout for append-mostly tables keyed by a
        growing id (e.g. a dedup-pair table banded by the newer
        document's id: an increment's pairs all carry new doc_b values,
        so the merge rewrites only the newest band while the corpus's
        historical bands stay untouched).  Pick the width so a band is
        a few GB at target scale (1M ids x ~1KB rows ~ 1 GB).

        ``sorted_by`` maps table name -> columns to sort WITHIN each
        written file (``sortWithinPartitions`` before every write — no
        extra shuffle beyond the write's own layout).  Sorted files
        carry tight per-row-group min/max statistics on those columns,
        so a pushed ``In``/range filter (see ``read_for_keys``'s
        key-value pushdown) skips whole row groups instead of decoding
        them — the "z-order lite" a warehouse applies to its probe-side
        index tables.

        ``snapshot_isolation`` switches the store to
        versioned writes published through a single manifest pointer:
        every write lands in a fresh ``<table>.v-*`` directory and
        becomes reader-visible only when ``end_commit`` atomically swaps
        ``_snapshot.json`` — so a reader that pins one snapshot (see
        ``current_snapshot``/``read_at``) observes a CONSISTENT set of
        tables even while a multi-table batch is mid-write.  This is the
        manifest-pointer mechanism Delta/Iceberg provide natively; plain
        in-place mode (the default) keeps the reference's
        converged-by-replay contract instead.

        For ``partitioned``/``bucketed`` tables, snapshot mode keeps the
        partition-scoped merge economics through LAYERS: each commit's
        merge writes only its touched partitions into a fresh layer dir,
        the manifest records every layer's partition set, and readers
        resolve newest-layer-wins per partition (one hive read per layer,
        unioned) — so a 100 TB index table absorbs a few-bucket increment
        as a few-bucket layer while concurrent readers keep probing the
        pinned snapshot.  ``end_commit`` folds the layer stack back into
        one base layer once it exceeds ``max_snapshot_layers`` (the
        OPTIMIZE/compaction analog, amortized across batches).
        ``delete_scope`` stays unsupported for managed tables (same
        reason as plain mode: a layer cannot express an emptied
        partition; use ``sync_children``).

        ``retain_snapshots`` (snapshot mode): how many SUPERSEDED
        snapshots keep their data directories through the publish-time
        GC.  1 (the default) is the one-version reader grace the
        publish protocol needs anyway; larger values buy TIME TRAVEL —
        ``read_version`` serves any retained version and ``rollback``
        republishes one as the new current snapshot (an O(1)
        driver-side pointer write, never a data copy — the Delta
        ``RESTORE`` analog).  Every publish appends its manifest to the
        ``_snaplog/`` history (tiny JSON, kept regardless), so history
        STRUCTURE survives past retention even when the data dirs are
        reclaimed.

        ``driver_bounded`` maps table name -> max rows for tables the
        CALLER contracts to stay tiny at any corpus scale (per-batch
        retraction masks, ledger rows, receipts — bounded by batch /
        retraction volume, never by corpus size).  Unmanaged writes of
        such tables skip the Spark write job entirely: the frame is
        collected through Arrow (capped at the contract — a frame over
        the bound falls back to the normal Spark write, so a wrong
        contract costs speed, never memory or correctness) and written
        driver-side with pyarrow.  On the bench box a tiny versioned
        Spark write is >99% driver/scheduler/commit fixed cost (~0.2 s,
        BASELINE.md); the driver-side path cuts the write half of that
        to ~1 ms while keeping the published file Spark-readable with
        the identical schema."""
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        self.write_partitions = write_partitions
        self.partitioned = dict(partitioned or {})
        self.bucketed = dict(bucketed or {})
        self.range_partitioned = dict(range_partitioned or {})
        self.sorted_by = dict(sorted_by or {})
        self.driver_bounded = dict(driver_bounded or {})
        self.snapshot_isolation = snapshot_isolation
        self.max_snapshot_layers = max_snapshot_layers
        if retain_snapshots < 1:
            raise ValueError(
                "retain_snapshots must be >= 1: a reader that pinned a "
                "snapshot just before a publish may still be scanning "
                "the previous version's directories"
            )
        self.retain_snapshots = retain_snapshots
        #: snapshot mode: versioned dirs written this batch, not yet
        #: published — {table: dirname} for unmanaged tables,
        #: {table: {"reset": bool, "layers": [{"dir", "parts"}...]}} for
        #: managed ones; read() prefers these so a batch reads its own
        #: writes
        self._pending_versions: dict[str, str | dict] = {}
        #: guards _pending_versions and _inflight_vdirs: background
        #: writer threads register layers concurrently, and a
        #: concurrently-publishing in-process instance reads BOTH via
        #: _pending_dirs to spare this instance's dirs from its GC
        self._pv_lock = threading.RLock()
        #: versioned dirs whose Spark write has STARTED but which no
        #: _pending_versions entry references yet — without this
        #: registration a concurrent composer's publish-time GC would
        #: delete a dir mid-write (the write-return-to-register window).
        #: Cleared when the commit publishes or aborts; an abandoned
        #: (failed-write) dir is reclaimed by the next publish after
        #: that.
        self._inflight_vdirs: set[str] = set()
        #: open commit brackets on this instance (0 = none).  Only the
        #: outermost bracket takes the lease, writes the manifest and
        #: publishes or aborts; nested brackets just count, so composed
        #: operators (each of which brackets its own writes) fold into
        #: ONE outer commit — the orchestration contract of
        #: operators/ingest.ingest_increment
        self._depth = 0
        #: ``threading.get_ident()`` of the thread that opened the
        #: outermost bracket: only its primitive calls queue themselves
        #: (``_deferred``); any other thread's calls run inline
        self._opener: int | None = None
        #: instance-scoped swap-name token: _recover may always reclaim
        #: THIS instance's leftover tmp dirs, but foreign ones only when
        #: stale (they may be another live writer's in-flight swap)
        self._token = f"{os.getpid():x}{uuid.uuid4().hex[:6]}"
        #: the lease epoch this instance's current commit runs under
        #: (set at begin_commit; the fencing token _verify_lease checks)
        self._commit_epoch: int | None = None
        #: background write scheduler for the current commit bracket
        #: (created on first ``submit_op``, drained at publish or abort)
        self._async: _AsyncWrites | None = None
        #: versioned-dir schema memo (dir path -> inferred StructType):
        #: snapshot dirs are immutable once written, so the first read's
        #: inferred schema is exact for every later read of the same dir
        #: and ``spark.read.schema(...)`` skips footer inference (~70 ms
        #: of driver fixed cost per read; the ig gates do ~80 store
        #: reads per run).  Plain-mode paths mutate in place and are
        #: never memoized.
        self._schema_memo: dict[str, object] = {}

    # -- background writes (guide §2.6) ---------------------------------------

    def submit_op(self, op, *, reads: tuple = (), writes: tuple = ()) -> None:
        """Run ``op`` (a zero-arg callable) in the background when that
        is safe — inside a commit bracket on a snapshot-isolated store,
        where completion order is unobservable until the single atomic
        publish (``end_commit`` drains the scheduler first).  Elsewhere
        (plain mode's ordered swaps, or outside any bracket) it runs
        inline.

        Only for COMPOSITE ops: a single primitive call schedules itself
        (see the module docstring).  Use this for an op that reads
        another table when it runs (a fold that reads its mask table),
        computes eagerly before it writes (an iterative label build), or
        must follow a set of writes (releasing the caches they read).
        ``reads``/``writes`` name every table the op touches; the
        scheduler orders ops sharing tables (see ``_AsyncWrites``), and
        a synchronous read of a table waits for its pending writer."""
        if (
            not self.snapshot_isolation
            or not self._depth
            # a worker thread is already asynchronous; nesting a submit
            # would race the drain's pool shutdown — run inline (covered
            # by the outer op's declared table sets)
            or getattr(_ASYNC_WORKER, "active", False)
        ):
            op()
            return
        if self._async is None:
            self._async = _AsyncWrites()
        self._async.submit(op, tuple(reads), tuple(writes))

    def _deferred(self, table: str, primitive, *args, **kwargs) -> bool:
        """Queue ``primitive(table, *args, **kwargs)`` on the bracket's
        scheduler with ``table`` as its read and write set, and return
        True — when the store is snapshot-isolated, a bracket is open
        and this is the thread that opened it.  Otherwise return False
        and the caller runs inline (scheduler workers, a caller's own
        pool threads, plain mode, outside any bracket).  ``primitive``
        is the BOUND method, so the queued call re-enters it on a worker
        thread, where it runs inline."""
        if not (
            self.snapshot_isolation
            and self._depth
            and threading.get_ident() == self._opener
        ):
            return False
        if self._async is None:
            self._async = _AsyncWrites()
        self._async.submit(
            lambda: primitive(table, *args, **kwargs), (table,), (table,)
        )
        return True

    def _rbar(self, table: str) -> None:
        """Read barrier: wait for the pending background writer of
        ``table`` so a synchronous read observes it (no-op on worker
        threads — their dependencies were resolved at submit)."""
        if self._async is not None and not getattr(
            _ASYNC_WORKER, "active", False
        ):
            self._async.wait_table(table)

    def flush_writes(self, *, swallow: bool = False) -> None:
        """Drain every pending background write (re-raising the first
        failure unless ``swallow``)."""
        if self._async is not None:
            a, self._async = self._async, None
            a.wait_all(swallow=swallow)

    # -- basic io -------------------------------------------------------------

    def path(self, table: str) -> Path:
        return self.root / table

    def _recover(self, table: str) -> None:
        """Converge a half-finished ``overwrite`` swap.

        The swap is two renames (live -> .old, .tmp -> live); a crash
        between them leaves the table directory missing while the data
        sits intact in ``.old-*``.  Without recovery the next merge sees
        ``exists() == False`` and silently rebuilds the table from the
        incremental batch alone — so every read path funnels through
        here first.  A leftover ``.tmp-*`` is an unswapped (possibly
        torn) write and is discarded; a leftover ``.old-*`` alongside a
        live table is already-superseded data and is discarded too.

        Concurrency: a table with a swap in flight in this process is
        skipped entirely (see _INFLIGHT), and tmp dirs created by OTHER
        processes are only reclaimed after _STALE_TMP_SECONDS — so a
        streaming merge and a batch pipeline sharing one store root
        cannot delete each other's in-flight writes.
        """
        target = self.path(table)
        with _INFLIGHT_LOCK:
            if str(target) in _INFLIGHT:
                return
        olds = sorted(
            self.root.glob(f"{table}.old-*"), key=lambda p: p.stat().st_mtime
        )
        if olds and not target.exists():
            os.replace(olds.pop(), target)
        if target.exists():
            for p in olds:
                shutil.rmtree(p, ignore_errors=True)
        now = time.time()
        for p in self.root.glob(f"{table}.tmp-*"):
            mine = p.name.startswith(f"{table}.tmp-{self._token}-")
            try:
                fresh = (now - p.stat().st_mtime) < _STALE_TMP_SECONDS
            except OSError:
                continue  # deleted concurrently
            if mine or not fresh:
                # Re-check in-flight membership IMMEDIATELY before the
                # delete: a concurrent overwrite() on this table (same
                # store instance, same token) may have registered and
                # created its tmp between this function's entry check and
                # the glob — deleting that fresh tmp mid-write would fail
                # the writer loudly for no reason (check-then-act TOCTOU).
                with _INFLIGHT_LOCK:
                    if str(target) in _INFLIGHT:
                        return
                shutil.rmtree(p, ignore_errors=True)

    def _resolve(self, table: str) -> Path | None:
        """Snapshot mode: the directory a read of ``table`` should scan —
        this batch's own pending write first, then the published
        snapshot.  None = table does not exist."""
        if table in self._pending_versions:
            return self.root / self._pending_versions[table]
        entry = self.current_snapshot()["tables"].get(table)
        if entry is None:
            return None
        if not isinstance(entry, str):
            raise ValueError(
                f"table {table!r} has a layered snapshot entry but is "
                "not declared partitioned/bucketed in this store — "
                "changing a table's layout under one snapshot root is "
                "unsupported"
            )
        return self.root / entry

    # -- snapshot layers (managed tables) -------------------------------------

    def _is_managed(self, table: str) -> bool:
        return bool(self._managed_pcols(table))

    def is_managed(self, table: str) -> bool:
        """True when the table has a partition-scoped (hive/bucket/range)
        layout — i.e. keyed deletes must go through masks or
        ``sync_children``, never ``delete_scope``."""
        return self._is_managed(table)

    def _layer_parts(self, vdir: str, n_pcols: int) -> list[str]:
        """Relative hive partition paths (``col=val[/col2=val2…]``) present
        in a written layer dir — read back from disk, so value escaping
        is whatever the writer produced (never re-derived from values)."""
        base = self.root / vdir
        pat = "/".join(["*=*"] * n_pcols)
        return sorted(
            str(p.relative_to(base)) for p in base.glob(pat) if p.is_dir()
        )

    def _materialize_layer(self, table: str, df: DataFrame) -> dict:
        """Write ``df`` (already carrying the partition columns) into a
        fresh versioned dir in the table's hive layout; return the layer
        record ``{"dir", "parts"}``.

        File-count control: small bucket counts coalesce to
        ``write_partitions`` tasks (cheap, no shuffle).  A WIDE bucketed
        table instead repartitions on the partition columns — hash
        partitioning sends each bucket's rows to one task, so the write
        parallelizes across buckets while still producing one file per
        bucket dir (a coalesce(1) write of a 640-bucket layer is ONE
        task serially emitting 640 directories — measured as the
        dominant term of compact_store's wide folds)."""
        pcols = self._managed_pcols(table)
        if self.write_partitions is not None:
            n_buckets = self.bucketed.get(table, (None, 0))[1]
            if n_buckets > 32:
                df = df.repartition(*[F.col(c) for c in pcols])
            else:
                df = df.coalesce(self.write_partitions)
        vdir = f"{table}.v-{self._token}-{uuid.uuid4().hex[:8]}"
        with self._pv_lock:
            self._inflight_vdirs.add(vdir)  # visible to concurrent GC NOW
        out = str(self.root / vdir)
        self._sorted(table, df).write.mode("overwrite").partitionBy(*pcols).parquet(out)
        parts = self._layer_parts(vdir, len(pcols))
        if not parts:
            # empty frame: a partitioned write of zero rows leaves no
            # data files at all — rewrite flat so the dir still carries
            # the schema (incl. the partition columns, which stay in the
            # frame when not partitioned away)
            df.write.mode("overwrite").parquet(out)
        return {"dir": vdir, "parts": parts}

    def _write_layer(self, table: str, df: DataFrame, *, reset: bool) -> None:
        """Record ``df`` as a new pending layer.  ``reset=True`` (a full
        ``overwrite``) discards every earlier layer at publish;
        ``reset=False`` (a merge) stacks on top — readers resolve
        newest-layer-wins per partition."""
        layer = self._materialize_layer(table, df)
        with self._pv_lock:
            pend = self._pending_versions.get(table)
            if reset or not isinstance(pend, dict):
                pend = {"reset": reset, "layers": []}
            pend["layers"].append(layer)
            self._pending_versions[table] = pend

    def _write_pruned_layer(
        self, table: str, df: DataFrame, dead_parts: set[str]
    ) -> None:
        """Record ``df`` as a pending layer that REWRITES the partitions
        it contains and DELETES ``dead_parts`` (partitions the prune
        emptied — present in neither ``df`` nor any newer read)."""
        layer = self._materialize_layer(table, df)
        dead = sorted(set(dead_parts) - set(layer["parts"]))
        if dead:
            layer["dead"] = dead
        with self._pv_lock:
            pend = self._pending_versions.get(table)
            if not isinstance(pend, dict):
                pend = {"reset": False, "layers": []}
            pend["layers"].append(layer)
            self._pending_versions[table] = pend

    def prunes_scoped(self, table: str) -> bool:
        """True when ``prune_keys`` on this table takes the
        partition-scoped path (rewrite bounded by the key fan-out)
        rather than the full-rewrite fallback — callers with a cheaper
        merge-on-read alternative (masks) can choose it when this is
        False."""
        return (
            self.snapshot_isolation
            and self._is_managed(table)
            and self._prunable_pcol(table) is not None
        )

    def _prunable_pcol(self, table: str) -> str | None:
        """The single derived partition column a scoped prune can
        address (its hive segments are integer-valued — no value
        escaping to re-derive).  Tables with hive partition columns fall
        back to the full rewrite."""
        pcols = self._managed_pcols(table)
        if pcols == [BUCKET_COL] or pcols == [RANGE_COL]:
            return pcols[0]
        return None

    def _affected_segments(
        self, table: str, keys: DataFrame, key_cols: list[str]
    ) -> list[int]:
        """Partition values of ``table`` that contain rows matching
        ``keys``.  When a key column IS the table's partition source the
        values are derived from the keys directly (no table scan);
        otherwise one column-pruned semi-join scan finds them."""
        if table in self.bucketed:
            src, n = self.bucketed[table]
            if src in key_cols:
                return sorted(
                    r[0]
                    for r in keys.select(
                        F.pmod(F.xxhash64(F.col(src)), F.lit(n)).alias("b")
                    )
                    .distinct()
                    .collect()
                )
            pcol = BUCKET_COL
        else:
            src, width = self.range_partitioned[table]
            if src in key_cols:
                return sorted(
                    r[0]
                    for r in keys.select(
                        F.expr(
                            f"cast(`{src}` as bigint) div {int(width)}"
                        ).alias("b")
                    )
                    .distinct()
                    .collect()
                )
            pcol = RANGE_COL
        raw = self._read_raw(table).select(pcol, *key_cols)
        return sorted(
            r[0]
            for r in raw.join(
                F.broadcast(keys.dropDuplicates(key_cols)), key_cols, "leftsemi"
            )
            .select(pcol)
            .distinct()
            .collect()
        )

    def prune_keys(
        self,
        table: str,
        keys: DataFrame,
        key_cols: list[str],
        *,
        segment_keys: DataFrame | None = None,
        segment_col: str | None = None,
    ) -> None:
        """Physically remove every row whose ``key_cols`` values appear
        in ``keys`` — the mask-FOLD primitive (``compact_store``).

        Managed snapshot tables rewrite ONLY the partitions that contain
        matching rows: the affected partition set comes straight from
        the keys when a key column is the partition source (zero scan),
        else from one column-pruned semi-join scan; the surviving rows
        of those partitions land in a new layer whose ``dead`` list
        shadows any partition the prune emptied.  Fold cost is thus
        bounded by the MASK's partition fan-out, not the corpus size —
        the Iceberg delete-file economics for the one operation
        (mask folding) that would otherwise rewrite a 100 TB table to
        drop a few thousand rows.  Unmanaged (or plain-mode / hive-
        partitioned) tables keep the full anti-join rewrite.

        ``segment_keys``/``segment_col``: when the key columns are NOT
        the bucket source (the semi-join-scan case), a caller that
        already KNOWS the bucket-source values of every matching row
        (e.g. the span hashes a retraction computed from the retracted
        texts) can pass them here and the affected-bucket set derives
        from the hint with ZERO scan — the fold becomes mask-bounded
        even on a table bucketed by an unrelated column.  CONTRACT: the
        hint must cover every bucket containing a matching row; rows in
        unhinted buckets silently survive (pinned complete at the one
        call site by tests/test_retract.py's fold-equivalence checks)."""
        if self._deferred(
            table, self.prune_keys, keys, key_cols,
            segment_keys=segment_keys, segment_col=segment_col,
        ):
            return
        if self.prunes_scoped(table):
            if not self.exists(table):
                return
            pcol = self._prunable_pcol(table)
            if (
                segment_keys is not None
                and table in self.bucketed
                and (segment_col or self.bucketed[table][0])
                == self.bucketed[table][0]
            ):
                src, nb = self.bucketed[table]
                segs = sorted(
                    r[0]
                    for r in segment_keys.select(
                        F.pmod(
                            F.xxhash64(F.col(segment_col or src)),
                            F.lit(nb),
                        ).alias("b")
                    )
                    .distinct()
                    .collect()
                )
            else:
                segs = self._affected_segments(table, keys, key_cols)
            if not segs:
                return  # nothing to fold
            n = self.bucketed[table][1] if table in self.bucketed else None
            if pcol == BUCKET_COL:
                affected = self._bucket_scoped_raw(table, segs, n)
            else:
                layers = self._effective_layers(table)
                affected = self._read_layers(
                    layers, last_segment_filter={f"{pcol}={s}" for s in segs}
                )
            kept = affected.join(
                F.broadcast(keys.dropDuplicates(key_cols)),
                key_cols,
                "left_anti",
            )
            self._write_pruned_layer(
                table, kept, {f"{pcol}={s}" for s in segs}
            )
            return
        if self.exists(table):
            self.overwrite(
                table,
                self.read(table).join(
                    F.broadcast(keys.dropDuplicates(key_cols)),
                    key_cols,
                    "left_anti",
                ),
            )

    def prune_predicate(self, table: str, cond) -> None:
        """Physically remove every row matching ``cond`` (a Column
        predicate) — same partition-scoped economics as ``prune_keys``
        (one column-pruned scan finds the affected partitions).

        SQL DELETE semantics: only rows where ``cond`` is TRUE are
        removed — rows where it evaluates to NULL are kept (the kept
        side filters on ``~cond OR cond IS NULL``, since a bare
        ``~cond`` would silently drop the NULLs a three-valued ``~``
        keeps un-matched)."""
        if self._deferred(table, self.prune_predicate, cond):
            return
        if not self.exists(table):
            return
        keep = ~cond | cond.isNull()
        if self.prunes_scoped(table):
            pcol = self._prunable_pcol(table)
            segs = sorted(
                r[0]
                for r in self._read_raw(table)
                .filter(cond)
                .select(pcol)
                .distinct()
                .collect()
            )
            if not segs:
                return
            n = self.bucketed[table][1] if table in self.bucketed else None
            if pcol == BUCKET_COL:
                affected = self._bucket_scoped_raw(table, segs, n)
            else:
                affected = self._read_layers(
                    self._effective_layers(table),
                    last_segment_filter={f"{pcol}={s}" for s in segs},
                )
            self._write_pruned_layer(
                table, affected.filter(keep), {f"{pcol}={s}" for s in segs}
            )
            return
        self.overwrite(table, self.read(table).filter(keep))

    def _published_layers(self, table: str) -> list[dict] | None:
        """The published manifest's layer list for a managed table, or
        None when the manifest has no entry for it."""
        entry = self.current_snapshot()["tables"].get(table)
        if isinstance(entry, str):
            raise ValueError(
                f"table {table!r} has an unmanaged snapshot entry but is "
                "declared partitioned/bucketed — changing a table's "
                "layout under one snapshot root is unsupported"
            )
        return entry["layers"] if entry is not None else None

    def _effective_layers(self, table: str) -> list[dict] | None:
        """Published + this batch's pending layers (read-your-own-writes);
        a pending ``reset`` hides everything published."""
        pend = self._pending_versions.get(table)
        if isinstance(pend, dict):
            if pend["reset"]:
                return list(pend["layers"])
            base = self._published_layers(table) or []
            return base + pend["layers"]
        return self._published_layers(table)

    def _layers(self, table: str) -> list[dict]:
        """``_effective_layers``, raising for a table the snapshot (and
        this batch) does not hold."""
        layers = self._effective_layers(table)
        if layers is None:
            raise FileNotFoundError(f"no snapshot layers for table {table!r}")
        return layers

    def _read_layers(
        self,
        layers: list[dict],
        last_segment_filter: set[str] | None = None,
    ) -> DataFrame:
        """Union the layer stack, newest layer winning per partition.

        ``last_segment_filter``: restrict to partitions whose LAST hive
        path segment (the bucket segment on bucketed tables) is in the
        set — static partition pruning for key-scoped reads, applied
        before any file listing happens.

        A layer's optional ``dead`` list names partitions the layer
        DELETES (emptied by a scoped prune — see ``prune_keys``): they
        shadow older layers' copies exactly like a rewritten partition,
        but carry no data files — the delete-marker a dynamic overwrite
        cannot express.
        """
        seen: set[str] = set()
        dfs = []
        for layer in reversed(layers):
            live = [p for p in layer["parts"] if p not in seen]
            seen.update(layer["parts"])
            seen.update(layer.get("dead", ()))
            if last_segment_filter is not None:
                live = [
                    p for p in live if p.rsplit("/", 1)[-1] in last_segment_filter
                ]
            if live:
                base = self.root / layer["dir"]
                if len(live) == len(layer["parts"]) and len(live) > 8:
                    # fully-live layer (nothing shadowed by newer
                    # layers): one root path instead of one path per
                    # partition — at 640 buckets the per-path listing
                    # dominated every full-table scan's planning time
                    dfs.append(self._read_pq(base))
                else:
                    dfs.append(
                        self.spark.read.option("basePath", str(base)).parquet(
                            *[str(base / p) for p in live]
                        )
                    )
        if not dfs:
            # every layer empty (or filtered away): recover the schema
            # from the newest layer's flat empty write
            base = self.root / layers[-1]["dir"]
            return self._read_pq(base).limit(0)
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def _drop_derived(self, table: str, df: DataFrame) -> DataFrame:
        """Strip the store-derived partition columns from a read."""
        for col in (BUCKET_COL, RANGE_COL):
            if col in df.columns:
                df = df.drop(col)
        return df

    #: entry cap on the versioned-dir schema memo: dirs GC'd by
    #: _publish_snapshot would otherwise leak their memoized StructType
    #: for the store's lifetime, growing the driver's footprint with
    #: commit count (ADVICE r11).  LRU at a few thousand entries — far
    #: above any live snapshot's dir count, negligible memory.
    SCHEMA_MEMO_MAX = 4096

    def _read_pq(self, path) -> DataFrame:
        """Parquet read of an IMMUTABLE versioned/layer dir with the
        schema memo applied (see ``_schema_memo``).  Callers on mutable
        plain-mode paths must keep using ``spark.read.parquet``."""
        key = str(path)
        with self._pv_lock:  # memo is touched from scheduler worker threads
            sch = self._schema_memo.pop(key, None)
            if sch is not None:
                self._schema_memo[key] = sch  # re-insert: LRU recency
        if sch is not None:
            return self.spark.read.schema(sch).parquet(key)
        df = self.spark.read.parquet(key)
        with self._pv_lock:
            self._schema_memo[key] = df.schema
            while len(self._schema_memo) > self.SCHEMA_MEMO_MAX:
                self._schema_memo.pop(next(iter(self._schema_memo)))
        return df

    def exists(self, table: str) -> bool:
        self._rbar(table)
        if self.snapshot_isolation:
            if self._is_managed(table):
                return self._effective_layers(table) is not None
            return self._resolve(table) is not None
        self._recover(table)
        return self.path(table).exists()

    def read(self, table: str) -> DataFrame:
        self._rbar(table)
        if self.snapshot_isolation:
            if self._is_managed(table):
                return self._drop_derived(
                    table, self._read_layers(self._layers(table))
                )
            p = self._resolve(table)
            if p is None:
                raise FileNotFoundError(f"no snapshot entry for table {table!r}")
            return self._read_pq(p)
        self._recover(table)
        df = self.spark.read.parquet(str(self.path(table)))
        return self._drop_derived(table, df)

    def read_or_empty(self, table: str, like: DataFrame) -> DataFrame:
        if self.exists(table):
            return self.read(table)
        return self.spark.createDataFrame([], like.schema)

    def table_bytes(self, table: str) -> int:
        """On-disk bytes of the table's CURRENT version (0 if absent) —
        a driver-side filesystem stat, no Spark job.  The cheap size
        probe behind auto-compaction triggers (a merge-on-read mask
        table's footprint approximates its broadcast cost)."""
        self._rbar(table)
        if not self.exists(table):
            return 0
        if self.snapshot_isolation and self._is_managed(table):
            dirs = [
                self.root / layer["dir"]
                for layer in (self._effective_layers(table) or [])
            ]
        elif self.snapshot_isolation:
            p = self._resolve(table)
            dirs = [p] if p is not None else []
        else:
            dirs = [self.path(table)]
        total = 0
        for d in dirs:
            for f in Path(d).rglob("*.parquet"):
                try:
                    total += f.stat().st_size
                except OSError:
                    continue
        return total

    #: key-value pushdown cap for read_for_keys: an ``In`` filter with
    #: more literals than this stops helping (planning cost, and Parquet
    #: dictionary/row-group pruning saturates) — past it, only the
    #: partition-level bucket filter is pushed.
    MAX_PUSHED_KEYS = 1024

    def read_for_keys(
        self, table: str, keys: DataFrame, key_col: str | None = None
    ) -> DataFrame:
        """Bucket-pruned read: only the hive bucket directories that the
        given key values hash into are scanned.

        ``keys`` is a (small) one-column-of-interest frame; ``key_col``
        names that column (default: the table's declared bucket source
        column) and MUST have the same type as the stored source column
        — ``xxhash64`` is type-sensitive, so a string key against a
        bigint-bucketed table would silently prune the wrong dirs.

        Returns a SUPERSET of the rows whose source column equals one of
        the keys — the caller's own equi-/semi-join does the exact
        filtering, as it already must.  Two pruning levels:

        1. the bucket set (at most ``n_buckets`` values, one tiny
           aggregate over the keys) goes into an ``isin`` on the
           partition column — unmatched bucket dirs are never even
           LISTED;
        2. when the distinct key set itself is small (≤ MAX_PUSHED_KEYS)
           the key VALUES are additionally pushed as an ``In`` filter on
           the source column — Parquet row-group min/max statistics then
           skip non-matching row groups inside the surviving buckets,
           which is what the ``sorted_by`` write layout makes sharp.

        Range-banded tables prune the same way on ``_prange = key div
        width`` (always — the band space is unbounded, so any key set
        names a proper subset).  Falls back to a plain ``read`` when the
        table is neither bucketed nor range-banded (nothing to prune on)
        or when the keys cover every bucket.
        """
        self._rbar(table)
        if table not in self.bucketed:
            if table in self.range_partitioned:
                return self._read_for_key_bands(table, keys, key_col)
            return self.read(table)
        src, n = self.bucketed[table]
        kc = key_col or src
        pairs = (
            keys.select(
                F.col(kc).alias("k"),
                F.pmod(F.xxhash64(F.col(kc)), F.lit(n)).alias("b"),
            )
            .distinct()
            .limit(self.MAX_PUSHED_KEYS + 1)
            .collect()
        )
        if len(pairs) <= self.MAX_PUSHED_KEYS:
            # the full distinct key set fits: push values AND buckets
            buckets = sorted({r["b"] for r in pairs})
            key_vals = [r["k"] for r in pairs]
        else:
            # too many keys to push by value — bucket-level pruning only
            # (the limit above truncated the pair list, so re-derive the
            # complete bucket set)
            buckets = sorted(
                r[0]
                for r in keys.select(
                    F.pmod(F.xxhash64(F.col(kc)), F.lit(n)).alias("b")
                )
                .distinct()
                .collect()
            )
            key_vals = None
        df = self._bucket_scoped_raw(table, buckets, n)
        if key_vals is not None:
            df = df.filter(F.col(src).isin(key_vals))
        return self._drop_derived(table, df)

    def _read_for_key_bands(
        self, table: str, keys: DataFrame, key_col: str | None
    ) -> DataFrame:
        """read_for_keys for a range-banded table: prune to the bands the
        key values fall into, plus the value ``In`` pushdown when the key
        set is small."""
        src, width = self.range_partitioned[table]
        kc = key_col or src
        band = F.expr(f"cast(`{kc}` as bigint) div {int(width)}")
        pairs = (
            keys.select(F.col(kc).alias("k"), band.alias("b"))
            .distinct()
            .limit(self.MAX_PUSHED_KEYS + 1)
            .collect()
        )
        if len(pairs) <= self.MAX_PUSHED_KEYS:
            bands = sorted({r["b"] for r in pairs})
            key_vals = [r["k"] for r in pairs]
        else:
            bands = sorted(
                r[0] for r in keys.select(band.alias("b")).distinct().collect()
            )
            key_vals = None
        if self.snapshot_isolation and self._is_managed(table):
            seg = {f"{RANGE_COL}={b}" for b in bands}
            df = self._read_layers(self._layers(table), last_segment_filter=seg)
        else:
            df = self._read_raw(table).filter(F.col(RANGE_COL).isin(bands))
        if key_vals is not None:
            df = df.filter(F.col(src).isin(key_vals))
        return self._drop_derived(table, df)

    def _bucket_scoped_raw(self, table: str, buckets: list[int], n: int) -> DataFrame:
        """Raw (bucket-column-carrying) read pruned to ``buckets``.

        Snapshot mode prunes STATICALLY: only the matching bucket
        segments of each live layer are ever listed.  Plain mode pushes
        an ``isin`` on the partition column (hive partition pruning)."""
        if self.snapshot_isolation and self._is_managed(table):
            seg = (
                {f"{BUCKET_COL}={b}" for b in buckets} if len(buckets) < n else None
            )
            return self._read_layers(self._layers(table), last_segment_filter=seg)
        df = self._read_raw(table)
        if len(buckets) < n:
            df = df.filter(F.col(BUCKET_COL).isin(list(buckets)))
        return df

    @staticmethod
    def _arrow_safe(schema) -> bool:
        """True when every column round-trips bit-identically through
        toArrow() -> pyarrow.parquet -> spark.read.parquet: primitives
        plus arrays of primitives.  Anything else (structs, maps, nested
        arrays, null-typed columns) keeps the Spark write path."""
        from pyspark.sql import types as T

        prim = (
            T.BooleanType, T.ByteType, T.ShortType, T.IntegerType,
            T.LongType, T.FloatType, T.DoubleType, T.StringType,
            T.BinaryType, T.DateType, T.TimestampType, T.TimestampNTZType,
            T.DecimalType,
        )
        for f in schema.fields:
            dt = f.dataType
            if isinstance(dt, T.ArrayType):
                dt = dt.elementType
                if not isinstance(dt, prim):
                    return False
            elif not isinstance(dt, prim):
                return False
        return True

    def _driver_write(self, table: str, df: DataFrame, out: Path) -> bool:
        """Driver-side parquet write for a ``driver_bounded`` table: one
        Arrow collect (the same job the Spark write would run to compute
        the frame) and a ~1 ms pyarrow file write — no write-stage tasks,
        no output-committer temp-dir dance, no second job.  Returns False
        (caller runs the normal Spark write) when the table has no
        contract, the schema is not arrow-safe, or the frame exceeds its
        row bound — the collect is capped via ``limit(bound+1)``, so a
        violated contract can never blow driver memory, only fall back.
        ``sorted_by`` is honored driver-side (pyarrow sort) so row-group
        min/max statistics stay as sharp as the Spark path's."""
        cap = self.driver_bounded.get(table)
        if cap is None or not self._arrow_safe(df.schema):
            return False
        try:
            tbl = df.limit(cap + 1).toArrow()
        except Exception:
            return False  # anything exotic: let the Spark writer handle it
        if tbl.num_rows > cap:
            return False
        import pyarrow.parquet as _pq

        sort_cols = [c for c in self.sorted_by.get(table, ()) if c in tbl.column_names]
        if sort_cols and tbl.num_rows > 1:
            tbl = tbl.sort_by([(c, "ascending") for c in sort_cols])
        out.mkdir(parents=True, exist_ok=True)
        _pq.write_table(
            tbl, out / "part-00000-driver.parquet", compression="snappy"
        )
        return True

    def overwrite(self, table: str, df: DataFrame) -> None:
        """Atomic full replace: write to a tmp dir, swap, drop the old.

        The table is registered in-flight for the whole write+swap so a
        concurrent _recover (another thread sharing the store root)
        neither deletes the tmp mid-write nor renames the .old back
        between the two swap renames.

        Partitioned/bucketed tables land in their managed hive layout
        directly (partitionBy into the tmp dir, same swap), so every
        managed table carries its partition columns from its first
        write.  A zero-row partitioned write lands no data file (nothing
        to infer a schema from); a driver-side listing catches that and
        the table is left absent instead of unreadable.

        Snapshot mode: the write lands in a fresh versioned directory and
        is NOT reader-visible until ``end_commit`` publishes the manifest
        pointer — no swap, no in-flight bookkeeping needed.
        """
        if self._deferred(table, self.overwrite, df):
            return
        if self.snapshot_isolation:
            if self._is_managed(table):
                self._write_layer(table, self._prep(table, df), reset=True)
                return
            vdir = f"{table}.v-{self._token}-{uuid.uuid4().hex[:8]}"
            with self._pv_lock:
                self._inflight_vdirs.add(vdir)  # spare from concurrent GC
            if not self._driver_write(table, df, self.root / vdir):
                df_out = df
                if self.write_partitions is not None:
                    df_out = df_out.coalesce(self.write_partitions)
                self._sorted(table, df_out).write.mode("overwrite").parquet(
                    str(self.root / vdir)
                )
            with self._pv_lock:
                self._pending_versions[table] = vdir
            return
        target = self.path(table)
        tmp = self.root / f"{table}.tmp-{self._token}-{uuid.uuid4().hex[:8]}"
        old = self.root / f"{table}.old-{uuid.uuid4().hex[:8]}"
        with _INFLIGHT_LOCK:
            _INFLIGHT.add(str(target))
        try:
            pcols = self._managed_pcols(table)
            if pcols:
                df = self._prep(table, df)
            if pcols or not self._driver_write(table, df, tmp):
                if self.write_partitions is not None:
                    df = df.coalesce(self.write_partitions)
                w = self._sorted(table, df).write.mode("overwrite")
                if pcols:
                    w = w.partitionBy(*pcols)
                w.parquet(str(tmp))
            if pcols and not self._layer_parts(tmp.name, len(pcols)):
                shutil.rmtree(tmp, ignore_errors=True)
            if target.exists():
                os.replace(target, old)
            if tmp.exists():
                os.replace(tmp, target)
            if old.exists():
                shutil.rmtree(old, ignore_errors=True)
        finally:
            with _INFLIGHT_LOCK:
                _INFLIGHT.discard(str(target))

    def merge_batch(self, ops: list) -> None:
        """Run zero-arg write ops (``None`` entries skipped) in list
        order.  Each op's primitives schedule themselves (see the module
        docstring), so inside a snapshot commit writes of different
        tables still overlap; plain mode runs them in order, so a
        must-be-last op (a ledger row) goes last.  The package writes
        sequential calls instead; this stays because
        ``perfbench/tracing.py`` wraps it by name."""
        for op in ops:
            if op is not None:
                op()

    # -- multi-table commit manifest ------------------------------------------

    #: manifest file marking a multi-table write batch in progress
    MANIFEST = "_commit.json"

    #: advisory single-writer lease, held from the outermost
    #: ``begin_commit`` to its ``end_commit`` (nested brackets only
    #: count).  Readers never take it.
    LEASE = "_writer.lease"

    #: a lease older than this is stale even when its pid looks alive —
    #: the pid-liveness check is same-host only (on a shared filesystem
    #: another host's writer has a meaningless-here pid), so age is the
    #: cross-host backstop.  Generous: longer than any sane batch.
    LEASE_TTL_SECONDS = 6 * 3600.0

    #: high-water mark of every epoch ever issued on this store — read
    #: at acquire so epochs are MONOTONIC across clean release/unlink
    #: cycles.  Without it a fencing token could be REUSED: writer A
    #: stalls on epoch 1, is TTL-taken-over (epoch 2), the taker
    #: releases and unlinks — a fresh acquire restarting at 1 would then
    #: let zombie A's end_commit pass the pid+epoch verify and publish
    #: stale pending dirs the taker's GC already deleted.
    EPOCH_FILE = "_writer.epoch"

    def _persisted_epoch(self) -> int:
        try:
            return int((self.root / self.EPOCH_FILE).read_text())
        except (OSError, ValueError):
            return 0

    def _persist_epoch(self, epoch: int) -> None:
        # serialized by the lease: only the O_EXCL winner writes it
        tmp = self.root / f"{self.EPOCH_FILE}.tmp"
        tmp.write_text(str(epoch))
        os.replace(tmp, self.root / self.EPOCH_FILE)

    def _acquire_lease(self) -> int:
        """Take the store's writer lease (or re-enter it) and return the
        lease EPOCH this commit runs under; raise ConcurrentWriterError
        when another live writer holds it.

        Protocol: atomic O_EXCL create of ``_writer.lease`` holding
        (pid, timestamp, epoch).  The lease is PROCESS-scoped: the same
        process re-enters freely — a crashed batch's same-process
        replay, and the supported in-process composition of a streaming
        merge with a batch pipeline on one store root (see ``_recover``),
        both keep working (re-entry adopts the standing epoch).  On a
        foreign holder: a dead pid (same host) or a lease older than
        ``LEASE_TTL_SECONDS`` (the cross-host backstop — pids are
        meaningless across hosts) is STALE and taken over with epoch =
        max(stale epoch, persisted high-water mark) + 1 (unlink + one
        retry; a racing second taker loses the O_EXCL and raises); a
        live foreign holder raises, naming the pid that owns the store.
        Every issued epoch is recorded in ``_writer.epoch`` while the
        lease is held, so epochs stay monotonic across clean
        release/unlink cycles and a fencing token is never reused.

        The EPOCH is the fencing token: ``end_commit`` re-verifies that
        the on-disk lease still carries this commit's (pid, epoch)
        immediately before the snapshot pointer swap, so a writer whose
        lease was TTL-taken-over while it stalled (a zombie) can never
        publish over — or GC — the new holder's commit.  This is the
        enforcement for the single-writer stance end_commit documents —
        the reference gets it from SQLite's file lock; plain and
        snapshot stores get it here."""
        import json as _json

        path = self.root / self.LEASE
        next_epoch = self._persisted_epoch() + 1
        for _attempt in range(2):
            payload = _json.dumps(
                {"pid": os.getpid(), "ts": time.time(), "epoch": next_epoch}
            ).encode()
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                try:
                    os.write(fd, payload)
                finally:
                    os.close(fd)
                # record the high-water mark while holding the lease so
                # the epoch can never be re-issued after a clean unlink
                self._persist_epoch(next_epoch)
                return next_epoch
            except FileExistsError:
                try:
                    holder = _json.loads(path.read_text())
                except (OSError, ValueError):
                    holder = None  # torn write / vanished: stale
                if holder and holder.get("pid") == os.getpid():
                    # re-entrant: this process already writes — adopt
                    # the standing epoch (a crashed same-process
                    # instance's replay, or a second live instance
                    # composing on this root)
                    return int(holder.get("epoch", 1))
                stale = True
                if holder:
                    age = time.time() - float(holder.get("ts", 0))
                    pid = holder.get("pid")
                    alive = False
                    if isinstance(pid, int):
                        try:
                            os.kill(pid, 0)
                            alive = True
                        except ProcessLookupError:
                            alive = False
                        except PermissionError:
                            alive = True  # exists, owned by another user
                    stale = (not alive) or age > self.LEASE_TTL_SECONDS
                if not stale:
                    raise ConcurrentWriterError(
                        f"store {self.root} is being written by pid "
                        f"{holder.get('pid')} (lease {path.name}, "
                        f"{time.time() - float(holder.get('ts', 0)):.0f}s "
                        "old); route all writes through one process — "
                        "or remove the lease if that writer is gone"
                    ) from None
                # fence the (possibly still-alive elsewhere) stale
                # holder out: the takeover bumps the epoch past BOTH the
                # stale lease's and the persisted high-water mark, so
                # its end_commit's verify fails even if it wakes later
                stale_epoch = int(holder.get("epoch", 0)) if holder else 0
                next_epoch = max(stale_epoch, self._persisted_epoch()) + 1
                try:
                    path.unlink()
                except FileNotFoundError:
                    pass
        raise ConcurrentWriterError(
            f"store {self.root}: lost the lease takeover race (another "
            "writer claimed the stale lease first)"
        )

    def _lease_holders(self) -> "weakref.WeakSet":
        with _LEASE_LOCK:
            hs = _LEASE_HOLDERS.get(str(self.root))
            if hs is None:
                hs = _LEASE_HOLDERS[str(self.root)] = weakref.WeakSet()
            return hs

    def _verify_lease(self) -> None:
        """The fencing check: the on-disk lease must still carry THIS
        commit's (pid, epoch).  Called immediately before the snapshot
        pointer swap (and thus before the versioned-dir GC): a writer
        whose lease was taken over while it stalled aborts here instead
        of publishing interleaved pointers / GC-ing the new holder's
        live data.  One driver-side stat per commit; the residual
        window between this check and the ``os.replace`` is the
        advisory-lock floor every filesystem-lease design shares
        (Delta's S3 LogStore has the same caveat)."""
        import json as _json

        if self._commit_epoch is None:
            # no begin_commit on this instance: an end_commit outside
            # any bracket — nothing leased to verify
            return
        path = self.root / self.LEASE
        try:
            holder = _json.loads(path.read_text())
        except (OSError, ValueError):
            holder = None
        if (
            holder is None
            or holder.get("pid") != os.getpid()
            or int(holder.get("epoch", -1)) != self._commit_epoch
        ):
            # this writer was fenced out: drop its unpublished work and
            # leave the (foreign) lease alone
            self._pending_versions = {}
            self._inflight_vdirs = set()
            self._lease_holders().discard(self)
            epoch_held, self._commit_epoch = self._commit_epoch, None
            held = (
                f"pid {holder.get('pid')} epoch {holder.get('epoch')}"
                if holder
                else "no lease"
            )
            raise ConcurrentWriterError(
                f"store {self.root}: lease lost before publish (this "
                f"commit holds epoch {epoch_held}, on-disk: "
                f"{held}) — another writer took over while this batch "
                "stalled; nothing was published, replay against the "
                "current snapshot"
            )

    def _release_lease(self) -> None:
        """Drop this instance's hold; unlink the lease only when no
        other LIVE in-process instance is still mid-commit (refcount via
        the weak holder set) and the on-disk lease is still this
        commit's (never unlink a taker's lease)."""
        import json as _json

        hs = self._lease_holders()
        hs.discard(self)
        epoch, self._commit_epoch = self._commit_epoch, None
        if len(hs):
            return  # another live instance of this process still writes
        path = self.root / self.LEASE
        try:
            holder = _json.loads(path.read_text())
            if holder.get("pid") == os.getpid() and (
                epoch is None or int(holder.get("epoch", -1)) == epoch
            ):
                path.unlink()
        except (OSError, ValueError):
            pass

    def begin_commit(self, batch_id: str) -> None:
        """Mark a multi-table batch in progress (atomic manifest write of
        ``{"batch_id", "epoch"}``).

        Per-table swaps are individually atomic but the batch is not: a
        hard crash between tables leaves some written and some not.  The
        writes are idempotent merges driven by checkpoint state that only
        advances AFTER ``end_commit``, so re-running the batch converges
        to the exact same result — the manifest makes that interrupted
        state DETECTED and the replay explicit instead of implicit
        (reference parity: gateway.py:513-539 converges per record the
        same way, also without cross-table atomicity).  The manifest
        names no tables: replay re-runs the whole batch from the
        caller's checkpoint, and snapshot mode's unpublished dirs are
        tracked in memory (``_pending_versions``), never through it.

        Re-entrant: inside an open bracket this only deepens it — the
        outer manifest owns the batch.
        """
        import json as _json

        if self._depth:
            self._depth += 1
            return
        self._commit_epoch = self._acquire_lease()
        self._lease_holders().add(self)
        payload = {"batch_id": batch_id, "epoch": self._commit_epoch}
        tmp = self.root / f"{self.MANIFEST}.tmp"
        tmp.write_text(_json.dumps(payload))
        os.replace(tmp, self.root / self.MANIFEST)
        self._opener = threading.get_ident()
        self._depth = 1

    #: versioned manifest pointer (snapshot mode): the ONE file whose
    #: atomic replace publishes a whole batch to readers
    SNAPSHOT = "_snapshot.json"

    def current_snapshot(self) -> dict:
        """The published snapshot: ``{"version": N, "tables": {...}}``
        where each table entry is a versioned dirname (unmanaged tables)
        or ``{"layers": [{"dir", "parts"}, ...]}`` (partitioned/bucketed
        tables, newest layer last).  Pin the returned dict and resolve
        every table of a multi-table read through it (``read_at``) to
        observe one consistent batch; calling ``read`` per table re-reads
        the pointer and can straddle a concurrent publish."""
        import json as _json

        p = self.root / self.SNAPSHOT
        if p.exists():
            return _json.loads(p.read_text())
        return {"version": 0, "tables": {}}

    def read_at(self, table: str, snapshot: dict) -> DataFrame:
        """Read ``table`` as of a pinned ``current_snapshot()`` result.
        Raises ``FileNotFoundError`` when the pinned snapshot does not
        hold the table — even if a later publish (or this batch's
        pending writes) created it since."""
        entry = snapshot["tables"].get(table)
        if entry is None:
            raise FileNotFoundError(
                f"table {table!r} is not in snapshot version "
                f"{snapshot['version']} of store {self.root}"
            )
        if isinstance(entry, dict):
            return self._drop_derived(table, self._read_layers(entry["layers"]))
        return self._read_pq(self.root / entry)

    def end_commit(self) -> None:
        """Clear the manifest: the batch's tables are all written (or its
        replay is owned by recorded failure state).

        Snapshot mode: FIRST atomically publish the batch's versioned
        dirs as the new snapshot pointer — until this single
        ``os.replace`` every reader resolves the pre-batch snapshot, after
        it every new pin resolves the whole batch.  Superseded versioned
        dirs are GC'd except the immediately-previous snapshot's (a
        reader that pinned just before the publish may still be lazily
        scanning those paths; one-version grace matches one batch cycle).

        Snapshot mode assumes ONE logical writer per STORE (the pointer
        update is read-modify-write, and the GC reclaims any versioned
        dir the manifest doesn't reference): readers may be many and
        concurrent, but route all writes through one process — the same
        single-writer stance as the reference's SQLite.  ENFORCED two
        ways: ``begin_commit`` takes the advisory lease, and this method
        re-verifies the lease's (pid, epoch) fencing token immediately
        before the pointer swap — a stalled writer whose lease was
        TTL-taken-over aborts with ConcurrentWriterError instead of
        publishing over (or GC-ing) the new holder's commit.

        Inside a nested bracket this only closes that level: the batch
        publishes once, when the outermost bracket ends.
        """
        import json as _json

        if self._depth > 1:
            self._depth -= 1
            return
        self._depth = 0
        self.flush_writes()
        # the fencing check: abort BEFORE the pointer swap and the GC if
        # this commit's lease was taken over while the batch stalled —
        # AFTER the drain, where a snapshot commit's writes run
        self._verify_lease()
        if self.snapshot_isolation and self._pending_versions:
            snap = self.current_snapshot()
            new_tables = dict(snap["tables"])
            for table, pend in self._pending_versions.items():
                if isinstance(pend, dict):  # managed: merge the layer stack
                    if pend["reset"]:
                        layers = list(pend["layers"])
                    else:
                        layers = (self._published_layers(table) or []) + pend[
                            "layers"
                        ]
                    if len(layers) > self.max_snapshot_layers:
                        layers = [self._compact_layers(table, layers)]
                    new_tables[table] = {"layers": layers}
                else:
                    new_tables[table] = pend
            self._publish_snapshot(new_tables, snap)
            self._pending_versions = {}
            self._inflight_vdirs = set()
        (self.root / self.MANIFEST).unlink(missing_ok=True)
        self._release_lease()

    def abort_commit(self) -> None:
        """Abandon the open bracket: drain in-flight background writes
        (swallowing their errors — the bracket is already failing),
        discard its unpublished versioned dirs and release the lease.
        The manifest is LEFT IN PLACE, so ``pending_commit`` reports the
        interrupted batch and its replay converges exactly as after a
        hard crash.  Inside a nested bracket this only closes that
        level — the exception propagating to the outermost bracket
        aborts the batch there.  Safe to call when no bracket is open."""
        if self._depth > 1:
            self._depth -= 1
            return
        self._depth = 0
        self.flush_writes(swallow=True)
        self._pending_versions = {}
        self._inflight_vdirs = set()
        self._release_lease()

    @contextmanager
    def commit_bracket(self, batch_id: str):
        """ONE commit around the ``with`` block: ``begin_commit``, then
        ``end_commit`` on success or ``abort_commit`` on any exception
        (including a failed publish or a background-write failure
        re-raised at the drain).  On a snapshot store everything written
        inside publishes atomically at the outermost exit, under a
        single manifest.  The bracket's scope is whatever its block
        writes; callers name no tables.

        Brackets nest: an inner bracket joins the outer one (the
        manifest keeps the outer ``batch_id``), so composed operators
        that each bracket their own writes — ``extend_index``,
        ``extend_lm_index``, ... inside ``ingest_increment`` — publish
        exactly once, and an exception leaving an inner bracket aborts
        the whole batch."""
        self.begin_commit(batch_id)
        try:
            yield self
            self.end_commit()
        except BaseException:
            self.abort_commit()
            raise

    #: snapshot-manifest history: one tiny JSON per published version,
    #: appended immediately before each pointer swap — the structural
    #: record ``snapshot_history``/``read_version``/``rollback`` resolve
    SNAPLOG = "_snaplog"

    def _snaplog_path(self, version: int) -> Path:
        return self.root / self.SNAPLOG / f"v{version:012d}.json"

    def _publish_snapshot(
        self, new_tables: dict, prev: dict, *, rollback_of: int | None = None
    ) -> int:
        """Publish ``new_tables`` as the next snapshot version: append the
        manifest to the ``_snaplog/`` history, atomically swap the
        pointer, then GC versioned dirs no retained manifest references.

        The history record lands BEFORE the pointer swap: a crash
        between the two leaves an orphan log entry for a version that
        was never published, which the next real publish of that same
        version number overwrites (same filename, atomic replace) — so
        the log never diverges from the pointer for more than one
        interrupted publish, and replay needs no log repair step.

        GC keeps the data dirs of the new snapshot plus the most recent
        ``retain_snapshots`` superseded ones (resolved through the
        history log; the immediately-previous manifest is ``prev``,
        already in memory)."""
        import json as _json

        version = prev["version"] + 1
        payload: dict = {"version": version, "ts": time.time(), "tables": new_tables}
        if rollback_of is not None:
            payload["rollback_of"] = rollback_of
        logdir = self.root / self.SNAPLOG
        logdir.mkdir(exist_ok=True)
        blob = _json.dumps(payload)
        ltmp = logdir / f"v{version:012d}.json.tmp"
        ltmp.write_text(blob)
        os.replace(ltmp, self._snaplog_path(version))
        tmp = self.root / f"{self.SNAPSHOT}.tmp"
        tmp.write_text(blob)
        os.replace(tmp, self.root / self.SNAPSHOT)
        keep = self._entry_dirs(new_tables)
        for retained in self._retained_manifests(version, prev):
            keep |= self._entry_dirs(retained["tables"])
        # spare the UNPUBLISHED pending dirs of any other live
        # in-process writer composing on this root (they are
        # referenced by no manifest yet — without this, the first
        # publisher's GC would delete a concurrent instance's
        # in-flight batch data)
        for inst in list(self._lease_holders()):
            keep |= inst._pending_dirs()
        for p in self.root.glob("*.v-*"):
            if p.name not in keep:
                shutil.rmtree(p, ignore_errors=True)
        return version

    def _retained_manifests(self, current: int, prev: dict) -> list[dict]:
        """The manifests of the ``retain_snapshots`` versions superseded
        most recently (newest first).  ``prev`` serves version
        ``current - 1`` directly; older versions resolve through the
        log, skipping a torn record."""
        import json as _json

        out: list[dict] = []
        for v in range(current - 1, max(current - 1 - self.retain_snapshots, 0), -1):
            if v == prev.get("version"):
                out.append(prev)
                continue
            p = self._snaplog_path(v)
            try:
                out.append(_json.loads(p.read_text()))
            except (OSError, ValueError):
                continue  # torn record: nothing to retain
        return out

    def snapshot_history(self) -> list[dict]:
        """Every logged snapshot version, oldest first:
        ``{"version", "ts", "tables", "available", ["rollback_of"]}``.
        ``available`` is True when every data directory the manifest
        references still exists (i.e. the version is within
        ``retain_snapshots`` of current, or is current) — only those
        versions can serve ``read_version``/``rollback``.  Driver-side
        directory listing, no Spark job."""
        import json as _json

        out: list[dict] = []
        for p in sorted((self.root / self.SNAPLOG).glob("v*.json")):
            try:
                rec = _json.loads(p.read_text())
            except (OSError, ValueError):
                continue
            rec["available"] = all(
                (self.root / d).exists() for d in self._entry_dirs(rec["tables"])
            )
            out.append(rec)
        # an orphan log record of a crashed pre-swap publish sits one
        # past the pointer and was never readable: hide it
        cur = self.current_snapshot()["version"]
        return [r for r in out if r["version"] <= cur]

    def snapshot_at(self, version: int) -> dict:
        """The manifest of a specific published version (current, or any
        logged predecessor).  Raises ``KeyError`` for unknown versions
        (never published, or a torn log record)."""
        import json as _json

        cur = self.current_snapshot()
        if version == cur["version"]:
            return cur
        if 0 < version < cur["version"]:
            try:
                return _json.loads(self._snaplog_path(version).read_text())
            except (OSError, ValueError):
                pass
        raise KeyError(
            f"store {self.root}: no snapshot log record for version "
            f"{version} (current is {cur['version']})"
        )

    def _version_dirs(self, snapshot: dict, table: str) -> list[str]:
        entry = snapshot["tables"].get(table)
        if entry is None:
            return []
        if isinstance(entry, str):
            return [entry]
        return [layer["dir"] for layer in entry["layers"]]

    def read_version(
        self, table: str, version: int, *, snapshot: dict | None = None
    ) -> DataFrame:
        """Time travel: read ``table`` as of published ``version``.

        Serves any version whose data dirs survived the publish-time GC
        (current plus the last ``retain_snapshots`` superseded ones);
        older versions raise with the retention knob to turn.  A table
        absent from that version's manifest raises ``FileNotFoundError``
        — it did not exist then, even if it does now.

        ``snapshot``: a manifest already pinned via ``snapshot_at`` —
        multi-table readers pass it so every table resolves through ONE
        log read (and one consistent manifest, even if the pointer moves
        between their calls)."""
        snap = snapshot if snapshot is not None else self.snapshot_at(version)
        if table not in snap["tables"]:
            raise FileNotFoundError(
                f"table {table!r} does not exist at snapshot version "
                f"{version} of store {self.root}"
            )
        gone = [
            d
            for d in self._version_dirs(snap, table)
            if not (self.root / d).exists()
        ]
        if gone:
            raise ValueError(
                f"store {self.root}: version {version} of table "
                f"{table!r} was garbage-collected ({gone[0]} is gone) — "
                f"retain_snapshots={self.retain_snapshots} keeps only "
                "that many superseded versions; raise it at store "
                "construction to time-travel further back"
            )
        return self.read_at(table, snap)

    def vacuum_snapshots(self, retain: int = 1) -> list[str]:
        """Reclaim the data dirs of superseded versions beyond ``retain``
        — the VACUUM analog to ``rollback``'s RESTORE.  Returns the
        reclaimed dirnames.

        The default ``retain=1`` keeps the immediately-previous
        version's data, matching the publish protocol's one-version
        reader grace (a reader that pinned just before the last publish
        may still be lazily scanning those dirs — the same hazard the
        constructor rejects ``retain_snapshots < 1`` for).  Pass
        ``retain=0`` to keep only the current snapshot ONLY after
        quiescing readers first.

        Runs under the writer lease (a concurrent writer's unpublished
        pending dirs are spared, like the publish-time GC); history
        STRUCTURE (the ``_snaplog/`` records) is kept — vacuumed
        versions just report ``available=False`` and refuse
        ``read_version``/``rollback``.  Use after an incident window
        closes to release the disk a deep ``retain_snapshots`` was
        holding."""
        if not self.snapshot_isolation:
            raise ValueError(
                "vacuum_snapshots needs snapshot_isolation=True (plain "
                "mode keeps no superseded versions)"
            )
        if retain < 0:
            raise ValueError(f"retain must be >= 0: {retain}")
        if self._depth or self._pending_versions:
            raise RuntimeError(
                "vacuum inside an open commit bracket (or with unpublished "
                "pending writes) is not supported — publish first"
            )
        self._commit_epoch = self._acquire_lease()
        self._lease_holders().add(self)
        try:
            import json as _json

            snap = self.current_snapshot()
            keep = self._entry_dirs(snap["tables"])
            for v in range(snap["version"] - 1, max(snap["version"] - 1 - retain, 0), -1):
                try:
                    rec = _json.loads(self._snaplog_path(v).read_text())
                except (OSError, ValueError):
                    continue  # torn record: nothing retained
                keep |= self._entry_dirs(rec["tables"])
            for inst in list(self._lease_holders()):
                keep |= inst._pending_dirs()
            gone = []
            for p in self.root.glob("*.v-*"):
                if p.name not in keep:
                    shutil.rmtree(p, ignore_errors=True)
                    # report only what actually left the disk: a held-
                    # open/EACCES survivor must not read as reclaimed
                    # (takedown-sensitive callers trust this list)
                    if not p.exists():
                        gone.append(p.name)
        finally:
            self._release_lease()
        return sorted(gone)

    def rollback(self, version: int, *, batch_id: str | None = None) -> int:
        """Republish a retained snapshot as the NEW current version and
        return the new version number.

        This is the Delta ``RESTORE`` analog: a driver-side manifest
        write under the writer lease — no data is copied or rewritten,
        so the cost is O(1) in corpus size.  The rolled-back state
        becomes a fresh version on top of the history (never a pointer
        rewind), so the undone versions stay in the log and a rollback
        can itself be rolled back while retention lasts.  Tables created
        after ``version`` drop out of the manifest; their data dirs
        survive as superseded versions until retention expires.

        Requires snapshot isolation, no batch in flight on this
        instance, and every data dir of the target version still on
        disk (``snapshot_history()[i]["available"]``)."""
        if not self.snapshot_isolation:
            raise ValueError(
                "rollback needs snapshot_isolation=True: plain mode has "
                "no versioned manifests to restore"
            )
        if self._depth or self._pending_versions:
            raise RuntimeError(
                "rollback inside an open commit bracket (or with "
                "unpublished pending writes) is not supported — publish "
                "or abandon the batch first"
            )
        # take the lease BEFORE reading the pointer or checking the
        # target's data dirs: a concurrent publish landing between an
        # unfenced read and the lease grab would be silently clobbered —
        # this rollback would reuse its version number, overwrite its
        # _snaplog record, swap the pointer over it, and the GC (keyed
        # off the stale prev manifest) would delete that publish's data
        # dirs.  end_commit reads the pointer only after _verify_lease
        # for the same reason.
        self.begin_commit(batch_id or f"rollback-to-v{version}")
        try:
            self._verify_lease()
            snap = self.current_snapshot()
            if version == snap["version"]:
                new_version = version  # already current: nothing to publish
            else:
                target = self.snapshot_at(version)
                gone = sorted(
                    d
                    for d in self._entry_dirs(target["tables"])
                    if not (self.root / d).exists()
                )
                if gone:
                    raise ValueError(
                        f"store {self.root}: cannot roll back to version "
                        f"{version} — {len(gone)} data dir(s) were garbage-"
                        f"collected (first: {gone[0]}); retain_snapshots="
                        f"{self.retain_snapshots} bounds how far back "
                        "rollback reaches"
                    )
                new_version = self._publish_snapshot(
                    dict(target["tables"]), snap, rollback_of=version
                )
        finally:
            # rollback writes no table data, and a failure here (a
            # validation error, a takeover fence, or a pre-swap crash in
            # _publish_snapshot) published nothing — so the manifest is
            # cleared on every path rather than report a phantom
            # interrupted batch, then the lease is dropped
            self._depth = 0
            (self.root / self.MANIFEST).unlink(missing_ok=True)
            self._release_lease()
        return new_version

    def _pending_dirs(self) -> set[str]:
        """Versioned dirnames this instance has written — or has a Spark
        job CURRENTLY WRITING (``_inflight_vdirs``) — but not yet
        published (spared by a concurrent composer's GC).  Locked: a
        publishing instance calls this on OTHER live instances while
        their background writer threads register layers."""
        with self._pv_lock:
            dirs: set[str] = set(self._inflight_vdirs)
            for pend in self._pending_versions.values():
                if isinstance(pend, dict):
                    dirs.update(layer["dir"] for layer in pend["layers"])
                else:
                    dirs.add(pend)
        return dirs

    @staticmethod
    def _entry_dirs(tables: dict) -> set[str]:
        """Every versioned dirname a manifest's table entries reference."""
        dirs: set[str] = set()
        for entry in tables.values():
            if isinstance(entry, str):
                dirs.add(entry)
            else:
                dirs.update(layer["dir"] for layer in entry["layers"])
        return dirs

    def _compact_layers(self, table: str, layers: list[dict]) -> dict:
        """Fold a layer stack into one fresh base layer (full rewrite —
        the OPTIMIZE analog, amortized to one per ``max_snapshot_layers``
        batches).  The pre-compaction layer dirs stay on disk for the
        one-publish grace cycle like every superseded version."""
        return self._materialize_layer(table, self._read_layers(layers))

    def pending_commit(self) -> dict | None:
        """The interrupted batch's manifest ``{"batch_id", "epoch"}``, if
        a previous process died mid-batch — callers replay (re-run the
        idempotent merges from their checkpoint, which never advanced
        past the batch) inside a ``commit_bracket``, whose exit clears
        it."""
        import json as _json

        p = self.root / self.MANIFEST
        if p.exists():
            return _json.loads(p.read_text())
        return None

    # -- merge primitives (§2.3) ----------------------------------------------

    def _key_cond(self, a: DataFrame, b: DataFrame, keys: list[str]):
        return reduce(
            lambda x, y: x & y, (a[k].eqNullSafe(b[k]) for k in keys)
        )

    def _managed_pcols(self, table: str) -> list[str] | None:
        """Partition columns for tables with partition-scoped merges.

        A table may be hive-partitioned, key-bucketed, range-banded, or
        a combination — e.g. the bronze archive partitions by api_type
        AND buckets by brief_key, so an incremental merge touches one
        api's few buckets, not the api's whole (unbounded) partition."""
        cols = list(self.partitioned.get(table, []))
        if table in self.range_partitioned:
            cols.append(RANGE_COL)
        if table in self.bucketed:
            cols.append(BUCKET_COL)
        return cols or None

    def _prep(self, table: str, df: DataFrame) -> DataFrame:
        """Attach the derived partition columns for managed tables."""
        if table in self.range_partitioned and RANGE_COL not in df.columns:
            src, width = self.range_partitioned[table]
            df = df.withColumn(
                RANGE_COL, F.expr(f"cast(`{src}` as bigint) div {int(width)}")
            )
        if table in self.bucketed and BUCKET_COL not in df.columns:
            src, n = self.bucketed[table]
            df = df.withColumn(BUCKET_COL, F.pmod(F.xxhash64(F.col(src)), F.lit(n)))
        return df

    def _sorted(self, table: str, df: DataFrame) -> DataFrame:
        """Apply the table's declared within-file sort (see sorted_by).

        The hive partition columns lead the sort: the file writer
        REQUIRES rows ordered by partition columns and would insert its
        own (non-stable) sort otherwise, destroying the data-column
        order — leading with them satisfies that requirement so the
        declared order actually reaches the files.
        """
        cols = self.sorted_by.get(table)
        if not cols:
            return df
        pcols = [
            c for c in (self._managed_pcols(table) or []) if c in df.columns
        ]
        return df.sortWithinPartitions(*pcols, *cols)

    def _read_raw(self, table: str) -> DataFrame:
        """Like read(), but keeps the derived partition columns on
        managed tables (every managed table is written partitioned from
        its first write, so they are always there)."""
        if self.snapshot_isolation and self._is_managed(table):
            return self._read_layers(self._layers(table))
        self._recover(table)
        return self.spark.read.parquet(str(self.path(table)))

    def _write_partitions_dynamic(self, table: str, df: DataFrame) -> None:
        """Overwrite only the hive partitions present in ``df``.

        Snapshot mode: the touched partitions become a new LAYER instead
        of an in-place dynamic overwrite — published atomically with the
        rest of the batch at ``end_commit``.

        The dynamic mode is a per-write option, never the session-wide
        ``spark.sql.sources.partitionOverwriteMode``: concurrent writers
        (a phase's overlapping table merges, a streaming merge sharing
        the root) would race on the session conf, and a write that saw
        it restored to ``static`` mid-flight drops every partition it
        does not carry.

        A zero-row FIRST write (the table did not exist) leaves a dir
        with no data file, which every later read would fail to infer a
        schema from; a driver-side listing finds no partition dir and
        removes it again, so the table stays absent until a write
        carries rows."""
        if self.snapshot_isolation:
            self._write_layer(table, df, reset=False)
            return
        pcols = self._managed_pcols(table)
        existed = self.path(table).exists()
        if self.write_partitions is not None:
            df = df.coalesce(self.write_partitions)
        self._sorted(table, df).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy(*pcols).parquet(str(self.path(table)))
        if not existed and not self._layer_parts(table, len(pcols)):
            shutil.rmtree(self.path(table), ignore_errors=True)

    def _current_in_partitions(self, table: str, updates: DataFrame) -> DataFrame:
        """Current rows of the partitions the update batch touches — a
        broadcast semi join on the partition columns, so the scan prunes
        to the affected partitions (DPP).  ``updates`` must already carry
        the partition columns (callers _prep bucketed tables first)."""
        from pyspark.sql.functions import broadcast

        pcols = self._managed_pcols(table)
        parts = updates.select(*pcols).dropDuplicates(pcols)
        if self.snapshot_isolation and table in self.bucketed:
            # static layer pruning: only the increment's bucket segments
            # of each live layer are listed at all (the semi join below
            # still does the exact partition filtering)
            _, n = self.bucketed[table]
            buckets = sorted(
                r[0] for r in updates.select(BUCKET_COL).distinct().collect()
            )
            cur = self._bucket_scoped_raw(table, buckets, n)
        else:
            cur = self._read_raw(table)
        return cur.join(broadcast(parts), pcols, "leftsemi")

    def merge_upsert(self, table: str, updates: DataFrame, keys: list[str]) -> None:
        """Full-row upsert: rows matching on ``keys`` are replaced, new rows
        inserted.  ``updates`` must be key-unique (callers dedup upstream)."""
        if self._deferred(table, self.merge_upsert, updates, keys):
            return
        u = updates.dropDuplicates(keys)
        if not self.exists(table):
            if self._managed_pcols(table):
                self._write_partitions_dynamic(table, self._prep(table, u))
            else:
                self.overwrite(table, u)
            return
        if self._managed_pcols(table):
            up = self._prep(table, u)
            current = self._current_in_partitions(table, up).alias("t")
            kept = current.join(up.alias("u"), on=self._key_cond(current, up, keys), how="left_anti")
            self._write_partitions_dynamic(table, kept.unionByName(up))
            return
        current = self.read(table).alias("t")
        ua = u.alias("u")
        kept = current.join(ua, on=self._key_cond(current, ua, keys), how="left_anti")
        self.overwrite(table, kept.unionByName(u))

    def merge_insert_missing(self, table: str, updates: DataFrame, keys: list[str]) -> None:
        """Insert-if-absent, never update (reference N15, group.py:52-64)."""
        if self._deferred(table, self.merge_insert_missing, updates, keys):
            return
        u = updates.dropDuplicates(keys)
        if not self.exists(table):
            if self._managed_pcols(table):
                self._write_partitions_dynamic(table, self._prep(table, u))
            else:
                self.overwrite(table, u)
            return
        if self._managed_pcols(table):
            up = self._prep(table, u)
            current = self._current_in_partitions(table, up)
            new_rows = up.alias("u").join(
                current.alias("t"), on=self._key_cond(up, current, keys), how="left_anti"
            )
            self._write_partitions_dynamic(table, current.unionByName(new_rows))
            return
        current = self.read(table)
        ua = u.alias("u")
        new_rows = ua.join(current.alias("t"), on=self._key_cond(ua, current, keys), how="left_anti")
        self.overwrite(table, current.unionByName(new_rows))

    def sync_children(self, table: str, updates: DataFrame, scope_keys: list[str]) -> None:
        """Full-snapshot-per-scope: delete every stored row whose scope key
        appears in ``updates`` (or in ``scopes`` when provided), then insert
        the new rows.  This is the reference's delete-of-removed nested sync
        (N14) generalized — a re-ingest with fewer children leaves no stale
        tails (N18)."""
        if self._deferred(table, self.sync_children, updates, scope_keys):
            return
        if not self.exists(table):
            if self._managed_pcols(table):
                self._write_partitions_dynamic(table, self._prep(table, updates))
            else:
                self.overwrite(table, updates)
            return
        if self._managed_pcols(table):
            # NOTE: assumes a scope never migrates between partitions —
            # true by construction for bucketed tables (the bucket is a
            # pure function of the scope key) and for hive partitions
            # whose column is immutable per scope (a request's form_id);
            # else the stale row in the old partition must be removed by
            # a delete_scope.
            up = self._prep(table, updates)
            current = self._current_in_partitions(table, up)
            scopes = up.select(*scope_keys).dropDuplicates(scope_keys).alias("s")
            kept = current.alias("t").join(
                scopes, on=self._key_cond(current, scopes, scope_keys), how="left_anti"
            )
            self._write_partitions_dynamic(table, kept.unionByName(up))
            return
        current = self.read(table)
        scopes = updates.select(*scope_keys).dropDuplicates(scope_keys).alias("s")
        kept = current.alias("t").join(
            scopes, on=self._key_cond(current, scopes, scope_keys), how="left_anti"
        )
        self.overwrite(table, kept.unionByName(updates))

    def delete_scope(self, table: str, scopes: DataFrame, scope_keys: list[str]) -> None:
        """Remove all rows whose scope keys appear in ``scopes``.

        Unmanaged tables only: dynamic partition overwrite cannot express
        "this partition is now empty" (an empty partition never appears in
        the written frame), so a partition-scoped delete could leave stale
        rows behind.  Use ``sync_children`` for managed tables instead —
        its kept ∪ updates frame always re-covers every touched partition.
        """
        if self._managed_pcols(table):
            raise ValueError(
                f"delete_scope on partitioned/bucketed table {table!r} is "
                "unsupported (empty partitions cannot be expressed by a "
                "dynamic overwrite); use sync_children"
            )
        if self._deferred(table, self.delete_scope, scopes, scope_keys):
            return
        if not self.exists(table):
            return
        current = self.read(table)
        s = scopes.select(*scope_keys).dropDuplicates(scope_keys).alias("s")
        self.overwrite(
            table,
            current.alias("t").join(
                s, on=self._key_cond(current, s, scope_keys), how="left_anti"
            ),
        )
