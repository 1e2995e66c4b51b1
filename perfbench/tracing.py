"""Span recording for the traced run, from the benchmark side only.

Spans sit at the boundaries of calls into the engine's layers: the
``TableStore`` public methods (``TracedStore``), the Jobcan client's
fetches (``TracedClient``), checkpoint save/load (``TracedCheckpoint``),
pipeline phases (``PhaseClock`` on the public ``progress_callback``),
and the Spark jobs each operation starts (``SparkJobs``).  Untraced runs
use the engine's own classes and no callback, so tracing costs nothing
there.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from collections import defaultdict
from pathlib import Path

from jobcan_data_integrator_spark.sources.client import JobcanApiClient
from jobcan_data_integrator_spark.state import Checkpoint
from jobcan_data_integrator_spark.storage import TableStore


class Tracer:
    """In-memory spans: (id, name, start, end, parent, op id).

    A span nested inside a span of the same name on the same thread is
    not recorded again, so re-entrant store calls (a commit bracket
    calling ``begin_commit``) count once."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.op_id = 0
        self.op_type = ""
        self._op_span = None
        self.overhead_s = 0.0

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str):
        t_in = time.perf_counter()
        stack = self._stack()
        if any(s["name"] == name for s in stack):
            yield None
            return
        parent = stack[-1]["id"] if stack else self._op_span
        rec = {"id": next(self._ids), "name": name, "parent": parent, "op": self.op_id,
               "op_type": self.op_type, "thread": threading.get_ident()}
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:  # writer threads of the snapshot store record spans too
                self.spans.append(rec)
                self.overhead_s += (rec["start"] - t_in) + (time.perf_counter() - rec["end"])

    @contextlib.contextmanager
    def op(self, op_type: str):
        """One benchmark operation; spans opened inside share its id."""
        self.op_id += 1
        self.op_type = op_type
        with self.span(f"op.{op_type}") as rec:
            self._op_span = rec["id"]
            try:
                yield rec
            finally:
                self._op_span = None

    def count(self, key: str, value: float = 1.0) -> None:
        self.counts[f"{self.op_type}.{key}"] += value

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")

    # -- aggregation -------------------------------------------------------

    def busy_s(self, op_type: str, name: str) -> float:
        """Wall time covered by spans called ``name`` under ``op_type``
        (overlapping spans from writer threads counted once)."""
        iv = sorted(
            (s["start"], s["end"])
            for s in self.spans
            if s["op_type"] == op_type and s["name"] == name
        )
        total, cur_s, cur_e = 0.0, None, None
        for a, b in iv:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            total += cur_e - cur_s
        return total

    def durations(self, op_type: str, name: str) -> list[float]:
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["op_type"] == op_type and s["name"] == name
        ]

    def self_times(self) -> dict[str, float]:
        """Per layer (first dotted part of a span name): span time minus
        the part of it that child spans cover."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            kids = sorted((c["start"], c["end"]) for c in children[s["id"]])
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in kids:
                a, b = max(a, s["start"]), min(b, s["end"])
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["name"].split(".")[0]] += (s["end"] - s["start"]) - covered
        return dict(out)


# -- layer wrappers ------------------------------------------------------------

_STORE_KINDS = {
    "write": (
        "overwrite", "merge_upsert", "merge_insert_missing", "sync_children",
        "delete_scope", "merge_batch", "prune_keys", "prune_predicate",
    ),
    "commit": ("begin_commit", "end_commit", "abort_commit"),
    "flush_wait": ("flush_writes",),
    "read": ("read", "read_for_keys", "read_or_empty", "read_at"),
}


def _spanned(kind: str, method):
    def wrapper(self, *args, **kwargs):
        with self._tracer.span(f"storage.{kind}"):
            return method(self, *args, **kwargs)

    wrapper.__name__ = method.__name__
    return wrapper


class TracedStore(TableStore):
    """``TableStore`` whose public write, commit, flush and read methods
    record a ``storage.<kind>`` span."""

    def __init__(self, tracer: Tracer, *args, **kwargs) -> None:
        self._tracer = tracer
        super().__init__(*args, **kwargs)


for _kind, _names in _STORE_KINDS.items():
    for _name in _names:
        setattr(TracedStore, _name, _spanned(_kind, getattr(TableStore, _name)))


class TracedClient(JobcanApiClient):
    """Jobcan client recording a ``sources.fetch`` span per fetch and
    counting the detail fetches that failed (each is retried next sync)."""

    def __init__(self, tracer: Tracer, *args, **kwargs) -> None:
        super().__init__(*args, **kwargs)
        self._tracer = tracer

    def fetch_basic_data(self, api_type, params=None):
        self._tracer.count("sources.calls")
        with self._tracer.span("sources.fetch"):
            return super().fetch_basic_data(api_type, params)

    def fetch_form_outline(self, form_id, **kwargs):
        self._tracer.count("sources.calls")
        with self._tracer.span("sources.fetch"):
            return super().fetch_form_outline(form_id, **kwargs)

    def fetch_form_detail(self, request_id):
        self._tracer.count("sources.calls")
        with self._tracer.span("sources.fetch"):
            doc, res = super().fetch_form_detail(request_id)
        if doc is None:
            self._tracer.count("sources.failures")
        return doc, res


class TracedCheckpoint(Checkpoint):
    def __init__(self, tracer: Tracer, *args, **kwargs) -> None:
        super().__init__(*args, **kwargs)
        self._tracer = tracer

    def save(self, state) -> None:
        self._tracer.count("state.saves")
        with self._tracer.span("state.save"):
            super().save(state)

    def load(self):
        with self._tracer.span("state.load"):
            return super().load()


class PhaseClock:
    """``progress_callback`` hook: the first callback of each pipeline
    phase marks where the previous phase ended."""

    PHASES = {"requests": "outline", "requests_detail": "detail"}

    def __init__(self) -> None:
        self.marks: dict[str, float] = {}

    def __call__(self, api_type, *_rest) -> None:
        if api_type in self.PHASES:
            self.marks.setdefault(self.PHASES[api_type], time.perf_counter())

    def phases(self, t0: float, t1: float) -> dict[str, float]:
        outline = self.marks.get("outline", t1)
        detail = self.marks.get("detail", t1)
        return {"basic": outline - t0, "outline": detail - outline, "detail": t1 - detail}


class SparkJobs:
    """Spark jobs and tasks started between two points, read from the
    status tracker's job-id range."""

    def __init__(self, spark) -> None:
        self._tracker = spark.sparkContext.statusTracker()
        self._last = self._max_id()

    def _max_id(self) -> int:
        ids = self._tracker.getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def take(self) -> tuple[int, int]:
        hi = self._max_id()
        jobs, tasks = 0, 0
        for j in range(self._last + 1, hi + 1):
            info = self._tracker.getJobInfo(j)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = self._tracker.getStageInfo(sid)
                tasks += st.numTasks if st is not None else 0
        self._last = hi
        return jobs, tasks
