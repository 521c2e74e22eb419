"""Spans recorded from outside the program, plus the Spark event-log reader
that attributes jobs, stages and tasks to them.

A span has a name, start and end (epoch seconds), the id of its parent
span and the run id. Spans are kept in memory and written out when the run
ends. Every span that can launch Spark jobs sets the Spark job group
``pb.<span id>`` while it is open, so each job in the event log belongs to
exactly one span, the innermost one open when the job started. Job counts
therefore come from the event log, never from the status tracker (whose
per-group job list is capped at ~1000 retained jobs).

Executor-side transport calls run in Python worker processes, so
:class:`TracedTransport` appends their spans to per-process files in the
trace directory, and :meth:`Tracer.dump` folds them into the span list.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import Counter, defaultdict

GROUP_PREFIX = "pb."


class Tracer:
    """Span recorder. With ``enabled=False`` every call is a no-op, so the
    same workload code serves the untraced and the traced run."""

    def __init__(self, run_id: str, enabled: bool, trace_dir: str | None = None):
        self.run_id = run_id
        self.enabled = enabled
        self.trace_dir = trace_dir
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._grouped: list[int] = []  # open spans that set a job group
        self._next_id = 0
        self._sc = None

    def attach(self, spark) -> None:
        """Bind the SparkContext whose job group spans set."""
        self._sc = spark.sparkContext

    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    def _set_group(self, span_id: int | None) -> None:
        if self._sc is not None:
            gid = None if span_id is None else f"{GROUP_PREFIX}{span_id}"
            self._sc.setLocalProperty("spark.jobGroup.id", gid)

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = True, **attrs):
        """Record ``name`` around the block; yields the span's attribute dict
        so the caller can add counts measured inside it."""
        if not self.enabled:
            yield {}
            return
        sid = self._next_id
        self._next_id += 1
        parent = self.current()
        rec = {"id": sid, "name": name, "parent": parent, "run": self.run_id, **attrs}
        self._stack.append(sid)
        if jobs:
            self._grouped.append(sid)
            self._set_group(sid)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if jobs:
                self._grouped.pop()
                self._set_group(self._grouped[-1] if self._grouped else None)
            self.spans.append(rec)

    def dump(self, path: str) -> list[dict]:
        """Fold in executor-side spans, add each span's self time, and write
        every span, one JSON object per line. Returns the full list."""
        spans = list(self.spans)
        if self.trace_dir:
            for f in sorted(glob.glob(os.path.join(self.trace_dir, "transport-*.jsonl"))):
                with open(f) as fh:
                    spans.extend(json.loads(line) for line in fh if line.strip())
        children: dict[int | None, list[list[float]]] = defaultdict(list)
        for s in spans:
            children[s["parent"]].append([s["start"], s["end"]])
        for s in spans:
            covered = union_seconds(children[s["id"]]) if "id" in s else 0.0
            s["self_s"] = s["end"] - s["start"] - covered
        with open(path, "w") as fh:
            for s in spans:
                fh.write(json.dumps(s, default=str) + "\n")
        return spans


class TracedTransport:
    """Wraps one fake transport so each request becomes a span.

    On the driver the span goes to the tracer like any other. When Spark
    pickles the transport for an executor-side fan-out, the pickle carries
    the id of the span open at submit time as the parent, and the worker
    appends its spans to ``transport-<pid>.jsonl`` in the trace directory.
    """

    def __init__(self, fn, kind: str, tracer: Tracer):
        self.fn = fn
        self.kind = kind
        self._tracer = tracer
        self._parent = None
        self._run = tracer.run_id
        self._dir = tracer.trace_dir

    def __getstate__(self):
        return {
            "fn": self.fn,
            "kind": self.kind,
            "_tracer": None,
            "_parent": self._tracer.current() if self._tracer else self._parent,
            "_run": self._run,
            "_dir": self._dir,
        }

    def __call__(self, request):
        if self._tracer is not None:
            with self._tracer.span("transport", jobs=False, kind=self.kind) as rec:
                try:
                    return self.fn(request)
                except Exception:
                    rec["failed"] = True
                    raise
        rec = {"name": "transport", "kind": self.kind, "parent": self._parent,
               "run": self._run, "pid": os.getpid(), "start": time.time()}
        try:
            return self.fn(request)
        except Exception:
            rec["failed"] = True
            raise
        finally:
            rec["end"] = time.time()
            path = os.path.join(self._dir, f"transport-{os.getpid()}.jsonl")
            with open(path, "a") as fh:
                fh.write(json.dumps(rec) + "\n")


def parquet_files(root: str) -> dict[str, tuple[int, int]]:
    """relative path -> (bytes, mtime_ns) of every parquet file under root."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def written_since(root: str, before: dict[str, tuple[int, int]]) -> tuple[int, int, int]:
    """(files, bytes, rows) of parquet files under root that are new or
    changed since the ``before`` snapshot; rows come from the footers."""
    import pyarrow.parquet as pq

    files = nbytes = rows = 0
    for rel, stat in parquet_files(root).items():
        if before.get(rel) != stat:
            files += 1
            nbytes += stat[0]
            rows += pq.ParquetFile(os.path.join(root, rel)).metadata.num_rows
    return files, nbytes, rows


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap the program's public entry points in spans for the traced run:
    ``run_day``/``run_hour``/``run_partition``, ``run_datamart`` and the
    TableStore ``read``/``write``/``merge``/``compact`` calls. Everything is
    restored on exit; the program's code is not changed."""
    from pyspark.sql.classic.dataframe import DataFrame

    import aave_etl_spark.plans as plans_pkg
    from aave_etl_spark.io.table_store import TableStore
    from aave_etl_spark.plans import orchestration, runner

    saved: list[tuple[object, str, object]] = []

    def patch(owner, attr, make):
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def spanned(name):
        def make(orig):
            def wrapper(*a, **k):
                with tracer.span(name):
                    return orig(*a, **k)
            return wrapper
        return make

    for fn in ("run_day", "run_hour", "run_partition"):
        patch(orchestration, fn, spanned(fn))

    def make_runner(orig):
        def run_datamart(spark, inputs, models=None, store=None):
            with tracer.span("run_datamart") as rec:
                out = orig(spark, inputs, models, store)
                rec["models"] = len(out)
                return out
        return run_datamart

    patch(runner, "run_datamart", make_runner)
    # datamart heads import it from the package at call time
    patch(plans_pkg, "run_datamart", lambda _: runner.run_datamart)

    def make_checkpoint(orig):
        def localCheckpoint(self, *a, **k):
            with tracer.span("checkpoint", jobs=False):
                return orig(self, *a, **k)
        return localCheckpoint

    patch(DataFrame, "localCheckpoint", make_checkpoint)

    def store_op(op):
        def make(orig):
            pos = 1 if op in ("write", "merge") else 0  # (df, name) vs (name)

            def wrapper(self, *a, **k):
                name = a[pos] if len(a) > pos else k["name"]
                table = self._path(name)
                before = parquet_files(table) if op != "read" else None
                with tracer.span(f"store.{op}", table=name) as rec:
                    out = orig(self, *a, **k)
                if before is not None:
                    rec["files"], rec["bytes"], rec["rows"] = written_since(table, before)
                return out
            return wrapper
        return make

    for op in ("read", "write", "merge", "compact"):
        patch(TableStore, op, store_op(op))
    try:
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


def read_event_log(path: str) -> dict[str | None, Counter]:
    """Fold a Spark event log into per-job-group totals: jobs, stages run,
    tasks, failed tasks, task run and CPU time, shuffle bytes, spill, tasks
    that read no records, and the job intervals (for busy time)."""
    groups: dict[str | None, Counter] = defaultdict(Counter)
    intervals: dict[str | None, list[list[float]]] = defaultdict(list)
    job_group: dict[int, str | None] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str | None] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                jid = ev["Job ID"]
                job_group[jid] = gid
                job_start[jid] = ev["Submission Time"] / 1000.0
                groups[gid]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, gid)
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_start:
                    intervals[job_group[jid]].append(
                        [job_start[jid], ev["Completion Time"] / 1000.0]
                    )
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                groups[stage_group.get(sid)]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                g = groups[stage_group.get(ev["Stage ID"])]
                g["tasks"] += 1
                reason = (ev.get("Task End Reason") or {}).get("Reason")
                if reason != "Success":
                    g["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                g["task_run_ms"] += m.get("Executor Run Time", 0)
                g["task_cpu_ns"] += m.get("Executor CPU Time", 0)
                g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                sr = m.get("Shuffle Read Metrics") or {}
                g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                records = sr.get("Total Records Read", 0) + (
                    m.get("Input Metrics") or {}
                ).get("Records Read", 0)
                if records == 0:
                    g["empty_tasks"] += 1
    for gid, iv in intervals.items():
        groups[gid]["_intervals"] = iv  # type: ignore[assignment]
    return groups


def event_log_file(log_dir: str) -> str:
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return files[0]


def union_seconds(intervals: list[list[float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
