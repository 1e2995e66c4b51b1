"""The benchmark workloads.

Each runs closed-loop with one caller: the next operation starts only
after the previous one returned.  A workload has a set-up part
(``prepare``, repeated so its median is steady), a timed fixed sequence
of operations, and output checks that run outside the timed part.
"""

from __future__ import annotations

import math
import shutil
import statistics
import sys
import time
from pathlib import Path

import duckdb
from pyspark.sql import functions as F

import inputs
from tracing import (
    PhaseClock,
    SparkJobs,
    Tracer,
    TracedCheckpoint,
    TracedClient,
    TracedStore,
)

from jobcan_data_integrator_spark.storage import TableStore

SETUP_REPEATS = 3

#: jobcan_sync sizes: request docs served, and detail fetches of them
#: that answer 503
N_DOCS, N_FAIL = 20, 3

#: curate_lifecycle sizes: corpus docs, the share ingested (the rest is
#: the held-out probe slice), and the retraction comb modulus
N_CORPUS, INGEST_SHARE, RETRACT_MOD = 400, 0.8, 15

#: ingest stages reported by IngestResult.audit() under these knobs
AUDIT_STAGES = (
    "input",
    "pii_scrubbed",
    "exact_deduped",
    "span_deduped",
    "near_deduped",
)


class Run:
    """State shared by a workload run: the session, the tracer (None
    when untraced), per-operation timings and the failure tally."""

    def __init__(self, spark, work: Path, seed: int, seconds: float, tracer: Tracer | None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.ops: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = {}
        self.jobs = SparkJobs(spark) if tracer else None
        self.setup_s: list[float] = []

    def op(self, op_type: str, fn, *args, **kwargs):
        """Run one timed operation; an exception counts as a failure."""
        self.attempted += 1
        if self.tracer is not None:
            self.jobs.take()
        t0 = time.perf_counter()
        try:
            if self.tracer is not None:
                with self.tracer.op(op_type):
                    out = fn(*args, **kwargs)
            else:
                out = fn(*args, **kwargs)
        except Exception as exc:  # counted, reported, and the run goes on
            self.failed += 1
            log(f"{op_type} failed: {exc!r}")
            return None
        finally:
            self.ops.setdefault(op_type, []).append(time.perf_counter() - t0)
            log(f"{op_type}: {self.ops[op_type][-1]:.3f}s")
            if self.tracer is not None:
                jobs, tasks = self.jobs.take()
                self.add(f"{op_type}.spark.jobs", jobs)
                self.add(f"{op_type}.spark.tasks", tasks)
        return out

    def check(self, ok: bool, what: str) -> None:
        """An output check: a failed check counts as a failed operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"check failed: {what}")

    def add(self, key: str, value: float) -> None:
        self.layer[key] = self.layer.get(key, 0.0) + value

    def store(self, *args, **kwargs) -> TableStore:
        if self.tracer is None:
            return TableStore(self.spark, *args, **kwargs)
        return TracedStore(self.tracer, self.spark, *args, **kwargs)

    def prepare(self, fn) -> object:
        """Run a set-up step SETUP_REPEATS times; keep the last result."""
        out = None
        for rep in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            out = fn(rep)
            self.setup_s.append(time.perf_counter() - t0)
        log(f"set-up done: {[round(s, 3) for s in self.setup_s]}")
        return out


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _dir_bytes(root: Path, since: float | None = None) -> int:
    total = 0
    for p in root.rglob("*"):
        if p.is_file():
            st = p.stat()
            if since is None or st.st_mtime >= since:
                total += st.st_size
    return total


def _canon(cols, rows) -> list[tuple]:
    """Rows as sorted tuples of normalized values, columns by name."""

    def norm(v):
        if isinstance(v, float):
            if math.isnan(v):
                return None
            return int(v) if v.is_integer() else round(v, 9)
        if hasattr(v, "isoformat"):
            return v.replace(tzinfo=None).isoformat() if hasattr(v, "tzinfo") else v.isoformat()
        if hasattr(v, "as_tuple"):  # Decimal
            return norm(float(v))
        if isinstance(v, (list, tuple)):
            return tuple(norm(x) for x in v)
        return v

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(norm(r[i]) for i in order) for r in rows),
        key=lambda t: tuple((x is None, repr(x)) for x in t),
    )


# -- jobcan_sync ---------------------------------------------------------------


def jobcan_sync(run: Run) -> None:
    from jobcan_data_integrator_spark import views as V
    from jobcan_data_integrator_spark.pipeline import (
        BUCKETED_TABLES,
        PARTITIONED_TABLES,
        JobcanPipeline,
    )
    from jobcan_data_integrator_spark.sources.client import JobcanApiClient
    from jobcan_data_integrator_spark.sources.mock_api import MockJobcanApi
    from jobcan_data_integrator_spark.state import Checkpoint

    spark, tracer = run.spark, run.tracer

    def prepare(rep):
        inp = inputs.jobcan_inputs(run.seed, N_DOCS, N_FAIL)
        root = run.work / "jobcan"
        shutil.rmtree(root, ignore_errors=True)
        return inp, root

    inp, root = run.prepare(prepare)
    api = MockJobcanApi(entities=inp.entities, documents=inp.docs)
    store = run.store(
        root / "tables",
        write_partitions=1,
        partitioned=PARTITIONED_TABLES,
        bucketed=BUCKETED_TABLES,
    )
    if tracer is None:
        client, ckpt, phases = JobcanApiClient(api), Checkpoint(root / "ckpt"), None
    else:
        client, ckpt = TracedClient(tracer, api), TracedCheckpoint(tracer, root / "ckpt")
        phases = PhaseClock()
    pipe = JobcanPipeline(
        spark, client, store, ckpt, now_fn=lambda: "2024/04/01 00:00:00",
        archive_raw=False, progress_callback=phases,
    )

    # one sync; a seeded few detail fetches answer 503
    api.fail = {f"/{rid}/": 503 for rid in inp.fail}
    t0, since = time.perf_counter(), time.time()
    summary = run.op("sync", pipe.run)
    if tracer is not None:
        for name, dt in phases.phases(t0, time.perf_counter()).items():
            run.add(f"sync.pipeline.{name}.s", dt)
        run.add("sync.storage.bytes_written", _dir_bytes(root / "tables", since))

    # BI read path: open the stored tables, register the view DAG over
    # them and materialize each view
    tables: dict = {}

    def register():
        for p in sorted((root / "tables").iterdir()):
            if not p.name.startswith(("_", ".")) and store.exists(p.name):
                tables[p.name] = store.read(p.name)
        V.register_views(spark, tables)

    t0 = time.perf_counter()
    run.op("views", register)
    reg_s = time.perf_counter() - t0
    results = {}

    def materialize():
        for name, render in V.VIEWS:
            t = time.perf_counter()
            df = spark.table(f"`{name}`")
            results[name] = (df.columns, df.collect())
            run.add(f"views.{render.__name__.removeprefix('_view_')}.s", time.perf_counter() - t)

    run.op("views", materialize)
    run.add("views.register.s", reg_s)

    req = tables.get("requests")
    ids = [r["id"] for r in req.select("id").collect()] if req is not None else []
    run.check(
        summary is not None and len(ids) == len(set(ids)) and set(ids) == inp.stored_ids(),
        "every served request id except the failed fetches is stored exactly once",
    )
    retry = Checkpoint(root / "ckpt").load().take_failures("requests_detail")
    run.check(retry == set(inp.fail), "each failed fetch is recorded for the next sync")

    # each view equals DuckDB's rendering of it over the same stored rows
    con = duckdb.connect()
    try:
        for n, df in tables.items():
            con.register(n, df.toArrow())
        for name, _ in V.VIEWS:
            con.execute(f'CREATE VIEW "{name}" AS {V.view_sql(name, V.DUCKDB)}')
    except Exception as exc:
        log(f"DuckDB view DAG: {exc!r}")
    for name, _ in V.VIEWS:
        try:
            res = con.execute(f'SELECT * FROM "{name}"')
            d_cols, d_rows = [c[0] for c in res.description], res.fetchall()
            s_cols, s_rows = results.get(name, ([], None))
            ok = s_rows is not None and _canon(s_cols, s_rows) == _canon(d_cols, d_rows)
        except Exception as exc:
            log(f"view {name}: {exc!r}")
            ok = False
        run.check(ok, f"view {name} equals its DuckDB rendering")
    con.close()
    run.add("store.bytes_per_input_byte", _dir_bytes(root / "tables") / inp.json_bytes())


# -- curate_lifecycle ------------------------------------------------------------


def curate_lifecycle(run: Run) -> None:
    from jobcan_data_integrator_spark.gate.llm import _ig_oracle
    from jobcan_data_integrator_spark.operators.incremental import (
        cluster_label_buckets,
        index_layout,
    )
    from jobcan_data_integrator_spark.operators.ingest import (
        compact_store,
        ingest_increment,
        probe_duplicates,
        read_curated,
        retract_documents,
    )

    spark, tracer = run.spark, run.tracer
    n_ingest = int(N_CORPUS * INGEST_SHARE)
    retract_rem = run.seed % RETRACT_MOD
    knobs = dict(span=8, min_tokens=10, minhash=True)

    def prepare(rep):
        root = run.work / "curate"
        shutil.rmtree(root, ignore_errors=True)
        root.mkdir(parents=True)
        path = root / "documents.parquet"
        text_bytes = inputs.write_documents(path, run.seed, N_CORPUS)
        docs = spark.read.parquet(str(path)).select("doc_id", "text")
        docs.count()
        return root, path, docs, text_bytes

    root, path, docs, text_bytes = run.prepare(prepare)
    # the ig gates' session setting: shuffles sized to the increment
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    store = run.store(
        root / "store", write_partitions=1, snapshot_isolation=True,
        **index_layout(cluster_label_buckets(8)),
    )

    def timed(op_type: str, fn, *args, **kwargs):
        since = time.time()
        out = run.op(op_type, fn, *args, **kwargs)
        if tracer is not None:
            run.add(f"{op_type}.storage.bytes_written", _dir_bytes(root / "store", since))
        return out

    batch = docs.filter(F.col("doc_id") < n_ingest)
    res = timed(
        "ingest", ingest_increment, store, batch, "bulk", allow_out_of_order=True, **knobs
    )
    if tracer is not None and res is not None:
        audit = res.audit()
        for stage in AUDIT_STAGES:
            run.add(f"ingest.audit.{stage}.rows", audit.get(stage, 0))
        run.add("ingest.keep_ratio", audit.get("near_deduped", 0) / max(1, audit["input"]))

    # read-only probe of the held-out slice, repeated for --seconds
    held_out = docs.filter(F.col("doc_id") >= n_ingest)
    keep = None
    t_end = time.perf_counter() + run.seconds
    while True:
        out = timed(
            "probe",
            lambda: probe_duplicates(store, held_out, **knobs)
            .filter(F.col("verdict") == "keep")
            .select("doc_id", "text")
            .collect(),
        )
        keep = out if keep is None else keep
        if out is None or time.perf_counter() >= t_end:
            break
    if tracer is not None and keep is not None:
        run.add("probe.keep_ratio", len(keep) / (N_CORPUS - n_ingest))

    retracted = batch.filter(F.pmod(F.col("doc_id"), F.lit(RETRACT_MOD)) == retract_rem)
    timed("retract", retract_documents, store, retracted.select("doc_id"), "takedown", **knobs)
    timed("compact", compact_store, store)
    final = run.op("read", lambda: read_curated(store).select("doc_id", "text").collect())

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    survivors = (
        f"(SELECT * FROM documents WHERE doc_id < {n_ingest}"
        f" AND doc_id % {RETRACT_MOD} <> {retract_rem}) AS documents"
    )
    want = con.execute(_ig_oracle(survivors)).fetchall()
    run.check(
        final is not None and _canon(["doc_id", "text"], final) == _canon(["doc_id", "text"], want),
        "read_curated equals the one-shot curation of the survivors",
    )
    want = con.execute(
        _ig_oracle(f"(SELECT * FROM documents WHERE doc_id < {N_CORPUS}) AS documents")
        + f"\n      AND d.doc_id >= {n_ingest}"
    ).fetchall()
    run.check(
        keep is not None and _canon(["doc_id", "text"], keep) == _canon(["doc_id", "text"], want),
        "probe keep set equals the one-shot curation restricted to the probed ids",
    )
    con.close()
    run.add("store.bytes_per_input_byte", _dir_bytes(root / "store") / text_bytes)


WORKLOADS = {
    "jobcan_sync": jobcan_sync,
    "curate_lifecycle": curate_lifecycle,
}


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(run: Run, session_s: float, rss_mb: float) -> dict[str, float]:
    return {
        "setup_s": session_s + median(run.setup_s),
        "wall_s": sum(sum(v) for v in run.ops.values()),
        "peak_rss_mb": rss_mb,
    }


def per_layer(run: Run) -> dict[str, float]:
    tr = run.tracer
    out = dict(run.layer)
    for op_type, times in run.ops.items():
        out[f"{op_type}.wall.s"] = sum(times)
    for op_type in {s["op_type"] for s in tr.spans}:
        writes = tr.durations(op_type, "storage.write")
        out[f"{op_type}.storage.writes"] = len(writes)
        out[f"{op_type}.storage.write.s"] = tr.busy_s(op_type, "storage.write")
        out[f"{op_type}.storage.write.p50_ms"] = 1000 * median(writes)
        out[f"{op_type}.storage.commit.s"] = tr.busy_s(op_type, "storage.commit")
        out[f"{op_type}.storage.flush_wait.s"] = tr.busy_s(op_type, "storage.flush_wait")
        out[f"{op_type}.sources.fetch.s"] = tr.busy_s(op_type, "sources.fetch")
        out[f"{op_type}.state.save.s"] = tr.busy_s(op_type, "state.save")
    for key, value in tr.counts.items():
        out[key] = value
    for layer, s in tr.self_times().items():
        out[f"self.{layer}.s"] = s
    out["trace.overhead_s"] = tr.overhead_s
    out["trace.spans"] = len(tr.spans)
    return out
