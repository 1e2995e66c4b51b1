"""The incremental ETL driver: basic data -> form outline -> form detail
(reference entry points, ``integrator/integrator.py:522-553`` +
``gateway/gateway.py`` — SURVEY.md §3.1-§3.2, operator families O1-O4,
I1-I5).

Commit/restart model (divergence from the reference, documented):
the reference commits per record and drains the work queue per id; we
batch — one shred + one MERGE per table per phase, under ONE commit
bracket per phase (``basic``, ``form_detail``) — and keep the
reference's crash safety at phase/form granularity.  Inside a bracket
the phase's table merges run concurrently on the pipeline's own pool,
``WRITE_POOL_WIDTH`` (8) wide, the same width as a snapshot store's
background writes: the tables are disjoint and every write drains
before the bracket ends, so their order is unobservable.  The merges
run inline on the pool threads, so each raises in its own future.
Basic APIs are marked done, and the outline queue entry removed and the
form watermark advanced, only after the phase's merges have landed; a
write that raises is a per-API (basic) or per-batch (detail) save
failure record, replayed next run.  A hard crash in between leaves the
bracket's manifest and re-runs the whole phase — every basic API, or
every form — and deterministic surrogate keys + full-snapshot-per-
document MERGE make the re-run idempotent.

Scale notes: the fetch loop is serial by API contract (~1.4 req/s —
SURVEY.md §6); everything from ``parse_request_documents`` on is
distributed and identical whether rows arrive from this client or from
a 100 TB bronze replay (``spark.read.text`` over the archive -> the same
shred + merge path).
"""

from __future__ import annotations

import json
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any, Callable

from pyspark.sql import SparkSession

from jobcan_data_integrator_spark.operators.entities import ENTITY_APIS, parse_entities
from jobcan_data_integrator_spark.operators.shred import (
    parse_request_documents,
    shred_request_documents,
)
from jobcan_data_integrator_spark.sources.client import (
    BASIC_APIS,
    CLOSED_STATUSES,
    JobcanApiClient,
)
from jobcan_data_integrator_spark.state import AppState, Checkpoint, Phase
from jobcan_data_integrator_spark.storage import WRITE_POOL_WIDTH, TableStore

#: write strategy per basic-entity table (SURVEY.md §2.3 idioms):
#: ("upsert", keys) / ("insert_missing", keys) / ("sync", scope_keys).
ENTITY_WRITES: dict[str, tuple[str, list[str]]] = {
    "users": ("upsert", ["id"]),
    "user_groups": ("sync", ["user_id"]),
    "user_positions": ("sync", ["user_id"]),
    "user_bank_accounts": ("sync", ["user_id"]),
    # N15: groups are insert-only, NULL-safe on (group_name, group_code)
    "groups": ("insert_missing", ["group_name", "group_code"]),
    "positions": ("upsert", ["position_code"]),
    "projects": ("upsert", ["project_code"]),
    "companies": ("upsert", ["company_code"]),
    "forms": ("upsert", ["id"]),
    "fix_journals": ("upsert", ["journal_id"]),
    "custom_journal_items": ("sync", ["journal_id"]),
}

#: hive-partition spec for the big tables (pass to TableStore): requests
#: partition by form_id, so incremental merges rewrite only the touched
#: forms' partitions and the form-scoped view filters (WHERE form_id = …,
#: create_views.sql:336 etc.) prune at the scan.  The keyed bronze
#: archive partitions by api_type for the same reason (sources/bronze.py).
PARTITIONED_TABLES: dict[str, list[str]] = {
    "requests": ["form_id"],
    "bronze_responses": ["api_type"],
}

#: request-child tables sync-scoped by ``request_id`` (REQUEST_WRITES "*").
#: Too high-cardinality to hive-partition on the key itself, so the store
#: hash-buckets them (``_pbucket = pmod(xxhash64(request_id), 64)``): an
#: incremental batch rewrites only the buckets its request_ids hash into —
#: 1/64 of the table per touched bucket instead of a full-table rewrite.
REQUEST_CHILD_TABLES = (
    "customized_items",
    "table_data",
    "expense",
    "expense_specifics",
    "expense_specific_rows",
    "payment",
    "payment_specifics",
    "payment_specific_rows",
    "ec",
    "ec_specifics",
    "ec_specific_rows",
    "approval_process",
    "approval_steps",
    "approvers",
    "approval_route_modify_logs",
    "comments",
    "comment_associations",
    "viewers",
    "modify_logs",
    "modify_log_details",
    "modify_log_detail_specifics",
    "custom_items",
    "custom_item_values",
    "custom_item_value_extension_items",
    "default_attachment_files",
    "file_associations",
)

BUCKETED_TABLES: dict[str, tuple[str, int]] = {
    t: ("request_id", 64) for t in REQUEST_CHILD_TABLES
}
#: the keyed bronze archive combines BOTH: hive partition by api_type
#: (above) and bucket by brief_key — without the bucket, every merge
#: would rewrite the api's whole (unbounded) partition.
BUCKETED_TABLES["bronze_responses"] = ("brief_key", 32)

#: request-document tables: global dedup entities merge by id, everything
#: else is a full snapshot per request (N18 semantics).
REQUEST_WRITES: dict[str, tuple[str, list[str]]] = {
    "requests": ("upsert", ["id"]),
    "generic_masters": ("upsert", ["generic_master_id"]),
    "generic_master_additional_items": ("sync", ["generic_master_id"]),
    "shipping_address": ("upsert", ["shipping_address_id"]),
    "files": ("upsert", ["id"]),
    # default for every other shredded table:
    "*": ("sync", ["request_id"]),
}


def utc_now_str() -> str:
    """Watermark stamp in the reference's format (gateway.py:418)."""
    return datetime.now(timezone.utc).strftime("%Y/%m/%d %H:%M:%S")


@dataclass
class RunSummary:
    phase: int = Phase.INITIALIZING
    basic_rows: dict[str, int] = field(default_factory=dict)
    outline_forms: int = 0
    outline_ids: int = 0
    detail_fetched: int = 0
    detail_failed: list[str] = field(default_factory=list)
    warnings: list[str] = field(default_factory=list)


class JobcanPipeline:
    """One full sync run over an injected client + table store."""

    def __init__(
        self,
        spark: SparkSession,
        client: JobcanApiClient,
        store: TableStore,
        checkpoint: Checkpoint,
        *,
        now_fn: Callable[[], str] = utc_now_str,
        include_canceled: bool = True,
        archive_raw: bool = True,
        progress_callback: Callable[[str, int, int | None, int | None, int | None], None]
        | None = None,
        id_progress_callback: Callable[[str, str, object, str | None], None] | None = None,
        issue_callback: Callable[[str], None] | None = None,
    ) -> None:
        """Progress/notification hooks (O3, reference
        ``gateway/gateway.py:366-393``):

        - ``progress_callback(api_type, current, total, sub_count,
          sub_total)`` — per processed unit; ``sub_count``/``sub_total``
          count forms in the outline/detail phases and apis in the basic
          phase; ``total`` is None where unknown upfront (paginated).
        - ``id_progress_callback(event, form_key, outline, last_access)``
          — ``"fetch-failure"`` or ``"success"`` per form, mirroring the
          reference's id_progress_callback events.
        - ``issue_callback(message)`` — every warning as it is recorded
          (the reference's issue_callback carries JDIError/Warning data;
          here the formatted message).
        """
        self.spark = spark
        self.client = client
        self.store = store
        self.checkpoint = checkpoint
        self.now_fn = now_fn
        self.include_canceled = include_canceled
        self.archive_raw = archive_raw
        self.progress_callback = progress_callback or (lambda *a: None)
        self.id_progress_callback = id_progress_callback or (lambda *a: None)
        self.issue_callback = issue_callback or (lambda *a: None)

    def _warn(self, summary: RunSummary, messages: list[str]) -> None:
        summary.warnings.extend(messages)
        for m in messages:
            self.issue_callback(m)

    # -- helpers ---------------------------------------------------------------

    def _raw_df(self, objs: list[Any]):
        # one partition per ~2000 docs: an API-fetched batch is tiny by
        # contract (≤5000 req/h) — wide parallelism here just multiplies
        # task overhead across the 31 downstream table writes.  The 100 TB
        # path is bronze replay (spark.read.text), which partitions by
        # file splits instead.  (Sliced at parallelize time: coalesce(1)
        # over a default-parallelism local collection costs seconds/job.)
        rows = [(json.dumps(o, ensure_ascii=False),) for o in objs]
        rdd = self.spark.sparkContext.parallelize(rows, max(1, len(rows) // 2000))
        return self.spark.createDataFrame(rdd, "raw string")

    def _archive(self, api: str, pages: list[Any]) -> None:
        """Bronze layer, both reference shapes:

        - S5 (file archive): append raw pages as JSON lines — the
          bulk-replay source.  A 100 TB backfill replays
          this directory through the same shred path with zero API calls
          (reference design note, SURVEY.md §4.1).
        - S6 (keyed DB archive): merge per-record rows into the
          ``bronze_responses`` table keyed (api_type, brief_key,
          detailed_key) — re-fetching a page REPLACES its rows instead of
          appending duplicates (sources/bronze.py).
        """
        if not (self.archive_raw and pages):
            return
        path = self.store.root / "bronze" / api
        self._raw_df(pages).write.mode("append").text(str(path))
        from jobcan_data_integrator_spark.sources.bronze import archive_responses

        archive_responses(self.spark, self.store, api, pages)

    def _write(self, table: str, df, strategy: dict[str, tuple[str, list[str]]]) -> None:
        """Write one table with its ``strategy`` idiom (the ``"*"`` entry
        for a table the strategy does not name)."""
        kind, keys = strategy.get(table) or strategy["*"]
        if kind == "upsert":
            self.store.merge_upsert(table, df, keys)
        elif kind == "insert_missing":
            self.store.merge_insert_missing(table, df, keys)
        else:
            self.store.sync_children(table, df, keys)

    def _write_tables(
        self, tables: dict[str, Any], strategy: dict[str, tuple[str, list[str]]]
    ) -> dict[str, Exception]:
        """Merge one phase's tables concurrently (up to the store's write
        pool width) and wait for every write to finish.

        The tables are disjoint and the phase's replay key is the
        checkpoint, which advances only after this returns, so write
        order is unobservable; overlapping the writes hides each small
        merge's fixed driver/scheduler cost behind the others.  Returns
        ``{table: exception}`` for the writes that raised an
        ``Exception`` (handled save failures).  Any other
        ``BaseException`` is a hard crash: queued writes are cancelled,
        running ones finish, and it propagates."""
        errors: dict[str, Exception] = {}
        with ThreadPoolExecutor(max_workers=WRITE_POOL_WIDTH) as pool:
            futures = {
                name: pool.submit(self._write, name, df, strategy)
                for name, df in tables.items()
            }
            for name, fut in futures.items():
                try:
                    fut.result()
                except Exception as exc:
                    errors[name] = exc
                except BaseException:
                    pool.shutdown(cancel_futures=True)
                    raise
        return errors

    # -- phase 1: basic data (O1, gateway.py:277-340) ---------------------------

    def _run_basic_data(self, state: AppState, summary: RunSummary) -> None:
        if not state.is_future(Phase.BASIC_DATA):
            return
        if state.phase < Phase.BASIC_DATA:
            state.enter_phase(Phase.BASIC_DATA)
        fetched: dict[str, tuple[int, dict]] = {}
        for api_idx, api in enumerate(BASIC_APIS):
            if not state.is_future(Phase.BASIC_DATA, api):
                continue
            res = self.client.fetch_basic_data(api)
            self._warn(summary, res.warnings)
            self.progress_callback(
                api, len(res.rows), len(res.rows), api_idx + 1, len(BASIC_APIS)
            )
            if res.failures:
                # fetch failed mid-pagination: record + retry next run,
                # keep last run's snapshot (warn-and-continue, I7)
                state.record_failures([(api, k) for _, k in res.failures])
                self.checkpoint.save(state)
                continue
            self._archive(api, res.raw_pages)
            ddl, shred = ENTITY_APIS[api]
            tables = shred(parse_entities(self._raw_df(res.rows), ddl))
            if not isinstance(tables, dict):
                tables = {api: tables}
            fetched[api] = (len(res.rows), tables)
        if not fetched:
            return
        # every fetched api's tables merge concurrently in one bracket; a
        # handled save failure is a per-api record (I5), and only a HARD
        # crash leaves the manifest (and re-runs the phase's apis)
        frames = {n: df for _, tables in fetched.values() for n, df in tables.items()}
        with self.store.commit_bracket("basic"):
            errors = self._write_tables(frames, ENTITY_WRITES)
        for api, (n_rows, tables) in fetched.items():
            failed = [errors[n] for n in tables if n in errors]
            if failed:  # db-save failure record (I5)
                state.record_failures([(api, "save")], save=True)
                self._warn(summary, [f"save failed for {api}: {failed[0]}"])
            else:
                summary.basic_rows[api] = n_rows
                state.take_failures(api)
                state.mark_done(api)
        self.checkpoint.save(state)

    # -- phase 2: form outline (gateway.py:342-432) ------------------------------

    def _form_ids(self) -> list[int]:
        if not self.store.exists("forms"):
            return []
        return sorted(r[0] for r in self.store.read("forms").select("id").collect())

    def _run_form_outline(self, state: AppState, summary: RunSummary) -> None:
        if not state.is_future(Phase.FORM_OUTLINE):
            return
        if state.phase < Phase.FORM_OUTLINE:
            state.enter_phase(Phase.FORM_OUTLINE)
        # raw pages are archived in chunks (one bronze append + one keyed
        # merge per ~50 forms) instead of one Spark job per form.  A form
        # is only marked DONE once its chunk's archive write has landed:
        # inside a chunk window the per-form checkpoint still persists
        # the outline/watermark/failure state (durable after EVERY form,
        # reference _tf_io.py:132-143) but leaves the form re-fetchable,
        # so a hard kill before the flush re-fetches — never silently
        # loses — the un-archived raw pages.  The finally-flush covers a
        # fatal ApiError aborting the loop.
        pages_buf: list[Any] = []
        done_buf: list[str] = []

        def _flush_chunk() -> None:
            nonlocal pages_buf, done_buf
            # hand the chunk off BEFORE archiving: if the archive write
            # itself fails, the finally-flush must not re-append the same
            # pages to the S5 text archive
            chunk, pages_buf = pages_buf, []
            keys, done_buf = done_buf, []
            self._archive("requests_outline", chunk)
            if keys:
                for k in keys:
                    state.mark_done(k)
                self.checkpoint.save(state)

        form_ids = self._form_ids()
        try:
            for sub_count, fid in enumerate(form_ids, start=1):
                key = str(fid)
                if not state.is_future(Phase.FORM_OUTLINE, key):
                    continue
                outline, res = self.client.fetch_form_outline(
                    fid,
                    applied_after=state.watermarks.get(key),
                    include_canceled=self.include_canceled,
                    now=self.now_fn(),
                )
                self._warn(summary, res.warnings)
                self.progress_callback(
                    "requests", len(outline.ids), None, sub_count, len(form_ids)
                )
                self.id_progress_callback(
                    "fetch-failure" if res.failures else "success",
                    key,
                    outline,
                    outline.last_access,
                )
                pages_buf.extend(res.raw_pages)
                state.outline_queue[key] = {
                    "ids": sorted(outline.ids),
                    # a partial outline must never advance the watermark
                    "last_access": None if res.failures else outline.last_access,
                }
                if res.failures:
                    state.record_failures([("form_outline", key)])
                else:
                    # a clean fetch supersedes any stale failure record
                    # for this form — otherwise it would sit in the
                    # checkpoint JSON forever (records are keyed, never
                    # bulk-drained)
                    state.clear_failure("form_outline", key)
                summary.outline_forms += 1
                summary.outline_ids += len(outline.ids)
                done_buf.append(key)
                # durable after EVERY form — but done only after archive
                self.checkpoint.save(state)
                if len(pages_buf) >= 50:
                    _flush_chunk()
        finally:
            _flush_chunk()

    # -- phase 3: form detail (gateway.py:434-541) --------------------------------

    def _open_items(self):
        """I2 late-data catch-up: (form_key, id) of stored requests whose
        status is still open — re-fetched every run (reference
        _requests.py:219-251).  A DataFrame, never a driver collection:
        the status filter is pushed to the parquet scan and the frame
        feeds the work-queue union/anti-join below, so no id list ever
        materializes on the driver regardless of table size."""
        from pyspark.sql import functions as F

        if not self.store.exists("requests"):
            return None
        return (
            self.store.read("requests")
            .filter(
                ~F.col("status").isin(*sorted(CLOSED_STATUSES))
                | F.col("status").isNull()
            )
            .select(
                F.col("form_id").cast("string").alias("form_key"),
                F.col("id"),
            )
        )

    def _work_queue(self, state: AppState, retry_ids: set[str]):
        """The detail-phase work list as a DataFrame of (form_key, id):
        each outline-queue form's ids ∪ its stored open requests, plus
        stray retry ids (unknown form) in a catch-all ``_retry`` bucket.

        Built entirely with Spark set operations (union, dropDuplicates,
        anti-join) — the driver sees only per-form COUNTS (bounded by
        the number of forms) and then streams ids one partition at a
        time via ``toLocalIterator`` in ``_run_form_detail``, never an
        unbounded ``collect``: the open set is small by construction
        (requests drain to a closed status) but the work-queue build
        must not depend on that at 100 TB."""
        spark = self.store.spark
        schema = "form_key string, id string"
        outline_rows = [
            (key, rid)
            for key, entry in state.outline_queue.items()
            for rid in entry["ids"]
        ]
        work = spark.createDataFrame(outline_rows or [], schema)
        open_df = self._open_items()
        if open_df is not None and state.outline_queue:
            # old-behavior parity: open catch-up applies to forms present
            # in this run's outline queue (the outline enumerates every
            # form each run); the key list is bounded by the form count
            work = work.unionByName(
                open_df.filter(
                    open_df["form_key"].isin(*state.outline_queue)
                )
            )
        work = work.dropDuplicates(["id"])
        if retry_ids:
            retry = spark.createDataFrame(
                [(r,) for r in sorted(retry_ids)], "id string"
            )
            stray = (
                retry.join(work.select("id"), "id", "left_anti")
                .selectExpr("'_retry' as form_key", "id")
            )
            work = work.unionByName(stray)
        return work

    def _run_form_detail(self, state: AppState, summary: RunSummary) -> None:
        if not state.is_future(Phase.FORM_DETAIL):
            return
        if state.phase < Phase.FORM_DETAIL:
            state.enter_phase(Phase.FORM_DETAIL)
        retry_ids = state.take_failures("requests_detail")
        work = self._work_queue(state, retry_ids)
        # per-form totals for progress reporting: bounded by the number
        # of forms, the ONLY work-queue aggregate the driver holds
        counts = {
            r["form_key"]: r["count"]
            for r in work.groupBy("form_key").count().collect()
        }

        docs: list[dict[str, Any]] = []
        failed_forms: set[str] = set()
        pages: list[Any] = []
        sub_count, current, last_key = 0, 0, None
        for row in work.orderBy("form_key", "id").toLocalIterator():
            key, rid = row["form_key"], row["id"]
            if key != last_key:
                sub_count, current, last_key = sub_count + 1, 0, key
            current += 1
            doc, res = self.client.fetch_form_detail(rid)
            self._warn(summary, res.warnings)
            self.progress_callback(
                "requests_detail",
                current,
                counts[key],
                sub_count,
                len(counts),
            )
            pages.extend(res.raw_pages)
            if doc is None:
                state.record_failures(res.failures)
                summary.detail_failed.append(rid)
                failed_forms.add(key)
            else:
                docs.append(doc)
        self._archive("requests_detail", pages)

        if docs:
            tables = shred_request_documents(
                parse_request_documents(self._raw_df(docs))
            )
            try:
                with self.store.commit_bracket("form_detail"):
                    errors = self._write_tables(tables, REQUEST_WRITES)
            finally:
                tables.unpersist()  # drop shred caches (long-lived sessions)
            if errors:
                state.record_failures(
                    [("requests_detail", d["id"]) for d in docs], save=True
                )
                self._warn(
                    summary, [f"detail save failed: {next(iter(errors.values()))}"]
                )
                # replay now owned by the save-failure records
                self.checkpoint.save(state)
                return
        summary.detail_fetched = len(docs)

        # drain + watermark advance only for fully-successful forms
        # (reference integrator.py:838-853: advance after drain)
        for key in list(state.outline_queue):
            if key in failed_forms:
                continue
            entry = state.outline_queue.pop(key)
            if entry.get("last_access"):
                state.watermarks[key] = entry["last_access"]
            state.mark_done(key)
        self.checkpoint.save(state)

    # -- run (O1 phase pipeline + O4 lifecycle) -----------------------------------

    def run_with_retry(
        self,
        *,
        backoff: list[float] | None = None,
        retryable: tuple[type[BaseException], ...] = (ConnectionError, TimeoutError),
        sleep: Callable[[float], None] | None = None,
    ) -> RunSummary:
        """I6: retry the run on transient network errors with the
        reference's backoff schedule (60s -> 5min -> 15min, then give up
        — ``app.py:17-36``).  The checkpoint state makes each retry a
        resume, not a restart."""
        import time as _time

        sleep = sleep or _time.sleep
        schedule = list(backoff if backoff is not None else [60.0, 300.0, 900.0])
        while True:
            try:
                return self.run()
            except retryable:
                if not schedule:
                    raise
                sleep(schedule.pop(0))

    def run(self) -> RunSummary:
        state = self.checkpoint.load()
        if state.phase >= Phase.TERMINATING:
            # previous run completed: new run keeps watermarks + failure
            # records, restarts the phase cursor (reference restart path)
            state = AppState(
                watermarks=state.watermarks,
                fetch_failures=state.fetch_failures,
                save_failures=state.save_failures,
                outline_queue=state.outline_queue,
            )
        summary = RunSummary()
        pending = self.store.pending_commit()
        if pending:
            # a previous process died inside a multi-table batch: the
            # checkpoint never advanced past it (mark_done follows the
            # bracket's exit), so this run re-executes the batch's idempotent
            # merges from re-fetched data — surface the replay instead of
            # converging silently
            self._warn(
                summary,
                [
                    "interrupted commit batch detected "
                    f"(batch {pending['batch_id']}); replaying via "
                    "checkpoint resume"
                ],
            )
            # clear the stale manifest under the writer lease: a live
            # foreign writer's manifest is refused here, before any fetch
            with self.store.commit_bracket(pending["batch_id"]):
                pass
        self._run_basic_data(state, summary)
        self._run_form_outline(state, summary)
        self._run_form_detail(state, summary)
        state.enter_phase(
            Phase.COMPLETED if not state.outline_queue else Phase.TERMINATING
        )
        self.checkpoint.save(state)
        summary.phase = state.phase
        return summary
