"""Tracing for the benchmark's traced run.

Spans are recorded by the benchmark around calls into the program's
public entry points; the program itself is not edited. Each span holds
name, start, end, parent and op id; spans stay in memory and are written
out when the run ends.

Spark work is attributed to spans in two steps:

* every span sets a Spark job group (``perfbench/<span id>``) on entry, so
  the event log names the span that submitted each job; a job without one
  of our groups (submitted from a thread that did not inherit it) falls
  back to the innermost span whose interval holds its submission time;
* task and stage counts come from the Spark event log, read after the
  session stops.

Micro-batch splits come from a ``StreamingQueryListener``; a batch belongs
to the op whose interval holds its trigger timestamp.

Only ``Tracer`` and ``install_wrappers`` touch Spark; the rest is plain
Python so the benchmark's tests can exercise it.
"""

from __future__ import annotations

import contextlib
import dataclasses
import functools
import importlib
import json
import os
import time
from datetime import datetime, timezone

from perfbench.stats import clip, union_length

GROUP_PREFIX = "perfbench/"

# The root span of every op; coverage counts the named layer spans beneath.
ROOT_SPAN = "op"


@dataclasses.dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class NullTracer:
    """Stand-in for untraced runs: spans cost nothing and record nothing."""

    enabled = False
    op = None

    def span(self, name: str):
        return contextlib.nullcontext()


class Tracer:
    """In-memory span recorder that tags Spark jobs with the open span."""

    enabled = True

    def __init__(self, spark=None):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = spark.sparkContext if spark is not None else None
        self.op: int | None = None

    def _set_group(self, span: Span | None) -> None:
        if self._sc is None:
            return
        self._sc.setLocalProperty(
            "spark.jobGroup.id", None if span is None else f"{GROUP_PREFIX}{span.id}"
        )

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, time.time(), 0.0, parent.id if parent else None, self.op)
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(parent)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def install_wrappers(tracer: Tracer) -> list[tuple[object, str, object]]:
    """Wrap the public entry points the traced run records. Returns what
    ``uninstall_wrappers`` needs to restore the originals."""
    from pyspark.sql import DataFrameReader, DataFrameWriter
    from pyspark.sql.classic.dataframe import DataFrame  # the class sessions return
    from pyspark.sql.streaming import StreamingQuery

    # the package re-exports the function under the module's name
    convert_mod = importlib.import_module("json_to_parquet_spark.operators.convert")

    targets = [
        # resolved where operators.convert looks them up
        (convert_mod, "read_ndjson_parallel", "sources.ndjson.read"),
        (convert_mod, "release_parallel_read", "sources.ndjson.release"),
        (convert_mod, "rewrite_dt_fields", "functions.dt_rewrite"),
        # Spark actions the program (or the benchmark) triggers
        (DataFrameWriter, "parquet", "exec.write"),
        (DataFrameWriter, "save", "exec.write"),
        (DataFrameReader, "parquet", "exec.read_parquet"),
        (DataFrame, "count", "exec.count"),
        (DataFrame, "collect", "exec.collect"),
        (DataFrame, "toPandas", "exec.collect"),
        (DataFrame, "localCheckpoint", "exec.checkpoint"),
        (StreamingQuery, "awaitTermination", "streaming.drain"),
    ]
    saved = []
    for owner, attr, name in targets:
        original = getattr(owner, attr)
        saved.append((owner, attr, original))
        setattr(owner, attr, tracer.wrap(name, original))
    return saved


def uninstall_wrappers(saved: list[tuple[object, str, object]]) -> None:
    for owner, attr, original in reversed(saved):
        setattr(owner, attr, original)


# --- self time and coverage --------------------------------------------------


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: total duration minus the part of each span's
    interval that its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        kids = [c for iv in children.get(s.id, []) if (c := clip(iv, (s.start, s.end)))]
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - union_length(kids)
    return out


def span_coverage(spans: list[Span], ops: list[dict]) -> float:
    """Share of op wall time covered by named layer spans (every span but
    the op's root)."""
    covered = 0.0
    wall = 0.0
    by_op: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.name != ROOT_SPAN and s.op is not None:
            by_op.setdefault(s.op, []).append((s.start, s.end))
    for op in ops:
        window = (op["start"], op["end"])
        wall += op["end"] - op["start"]
        ivs = [c for iv in by_op.get(op["id"], []) if (c := clip(iv, window))]
        covered += union_length(ivs)
    return covered / wall if wall else 0.0


# --- event log ---------------------------------------------------------------


@dataclasses.dataclass
class Job:
    id: int
    start: float
    end: float
    group: str | None
    stages: int = 0
    tasks: list[dict] = dataclasses.field(default_factory=list)


def _accum(task_info: dict, name: str) -> int:
    total = 0
    for acc in task_info.get("Accumulables", ()):
        if acc.get("Name") == name:
            try:
                total += int(acc.get("Update", 0))
            except (TypeError, ValueError):
                pass
    return total


def parse_event_log(lines) -> list[Job]:
    """Jobs with their completed stages and per-task figures, from the
    JSON lines of a Spark event log."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    submitted: set[int] = set()
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(
                ev["Job ID"], ev["Submission Time"] / 1000, 0.0,
                props.get("spark.jobGroup.id"),
            )
            jobs[job.id] = job
            for sid in ev.get("Stage IDs", ()):
                if sid not in submitted:
                    stage_job[sid] = job.id
        elif kind == "SparkListenerStageSubmitted":
            submitted.add(ev["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerStageCompleted":
            jid = stage_job.get(ev["Stage Info"]["Stage ID"])
            if jid in jobs:
                jobs[jid].stages += 1
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            if jid not in jobs:
                continue
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            records = (m.get("Input Metrics") or {}).get("Records Read", 0) + sr.get(
                "Total Records Read", 0
            )
            jobs[jid].tasks.append({
                "wall_s": (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000,
                "run_s": m.get("Executor Run Time", 0) / 1000,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1000,
                "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "spill": m.get("Disk Bytes Spilled", 0),
                "records": records,
                "py_sent": _accum(info, "data sent to Python workers"),
                "py_returned": _accum(info, "data returned from Python workers"),
            })
    return [j for j in jobs.values() if j.end]


def read_event_log(log_dir: str) -> list[Job]:
    jobs: list[Job] = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            jobs.extend(parse_event_log(f))
    return jobs


def attribute_jobs(jobs: list[Job], spans: list[Span]) -> dict[int, int]:
    """job id -> span id. Our job group names the span directly. A job
    with another group, none, or a group left behind on a reused thread
    (the named span had already closed) goes to the innermost span whose
    interval holds its submission."""
    by_id = {s.id: s for s in spans}
    out: dict[int, int] = {}
    for job in jobs:
        if job.group and job.group.startswith(GROUP_PREFIX):
            sp = by_id.get(int(job.group[len(GROUP_PREFIX):]))
            # event-log times have millisecond resolution
            if sp is not None and sp.start - 0.002 <= job.start <= sp.end + 0.002:
                out[job.id] = sp.id
                continue
        holders = [s for s in spans if s.start <= job.start <= s.end]
        if holders:
            # the latest-starting holder is the innermost (spans nest)
            out[job.id] = max(holders, key=lambda s: (s.start, s.id)).id
    return out


def job_table(jobs: list[Job], spans: list[Span]) -> list[dict]:
    """One row per job with the span and op it is attributed to."""
    owner = attribute_jobs(jobs, spans)
    by_id = {s.id: s for s in spans}
    rows = []
    for j in sorted(jobs, key=lambda j: j.id):
        sp = by_id.get(owner.get(j.id, -1))
        rows.append({
            "job": j.id, "start": j.start, "end": j.end, "group": j.group,
            "span": sp.name if sp else None, "span_id": sp.id if sp else None,
            "op": sp.op if sp else None, "stages": j.stages, "tasks": len(j.tasks),
            "shuffle_write": sum(t["shuffle_write"] for t in j.tasks),
        })
    return rows


# --- streaming progress --------------------------------------------------------


def progress_epoch(ts: str) -> float:
    """Epoch seconds of a StreamingQueryProgress ``timestamp``."""
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc
    ).timestamp()


def make_progress_listener():
    """A ``StreamingQueryListener`` that keeps (trigger epoch, durationMs)
    per micro-batch."""
    from pyspark.sql.streaming import StreamingQueryListener

    class BatchListener(StreamingQueryListener):
        def __init__(self):
            self.batches: list[tuple[float, dict]] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.batches.append((progress_epoch(p.timestamp), dict(p.durationMs)))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return BatchListener()


# --- per-layer rollup ------------------------------------------------------------


def layer_metrics(
    ops: list[dict],
    spans: list[Span],
    jobs: list[Job],
    batches: list[tuple[float, dict]],
    cores: int,
) -> dict[str, float]:
    """Per-layer metrics over the traced ops, as per-op means unless the
    name says ratio or share."""
    n = len(ops)
    op_ids = {op["id"] for op in ops}
    by_id = {s.id: s for s in spans}
    owner = attribute_jobs(jobs, spans)
    op_jobs = [j for j in jobs if j.id in owner and by_id[owner[j.id]].op in op_ids]
    job_span = {j.id: by_id[owner[j.id]] for j in op_jobs}

    def within(span: Span, name: str) -> bool:
        while span is not None:
            if span.name == name:
                return True
            span = by_id.get(span.parent) if span.parent is not None else None
        return False

    def dur(name: str) -> float:
        return sum(s.end - s.start for s in spans if s.name == name and s.op in op_ids)

    def job_time(js: list[Job]) -> float:
        return union_length([(j.start, j.end) for j in js])

    tasks = [t for j in op_jobs for t in j.tasks]
    wall = sum(op["end"] - op["start"] for op in ops)

    read_jobs = [j for j in op_jobs if within(job_span[j.id], "sources.ndjson.read")]
    # In convert, a write span's first job is the range partitioner's
    # sample; the rest is the exchange, sort and Parquet write.
    convert_writes: dict[int, list[Job]] = {}
    for j in op_jobs:
        sp = job_span[j.id]
        if sp.name == "exec.write" and within(sp, "operators.convert"):
            convert_writes.setdefault(sp.id, []).append(j)
    sample_jobs, write_jobs = [], []
    for js in convert_writes.values():
        js.sort(key=lambda j: (j.start, j.id))
        sample_jobs.append(js[0])
        write_jobs.extend(js[1:])
    verify_s = 0.0
    for s in spans:
        parent = by_id.get(s.parent) if s.parent is not None else None
        if parent is None or parent.name != "operators.convert" or s.op not in op_ids:
            continue
        wrote = [w for w in spans if w.parent == parent.id and w.name == "exec.write"]
        if s.name in ("exec.count", "exec.read_parquet") and wrote and s.start >= wrote[0].end:
            verify_s += s.end - s.start
    build_jobs = [j for j in op_jobs if within(job_span[j.id], "queries.build")]

    add_batch = engine = 0.0
    n_batches = 0
    windows = [(op["start"], op["end"]) for op in ops]
    for ts, d in batches:
        if any(s <= ts <= e for s, e in windows):
            n_batches += 1
            add = d.get("addBatch", 0) / 1000
            add_batch += add
            engine += d.get("triggerExecution", 0) / 1000 - add

    def per_op(x: float) -> float:
        return x / n if n else 0.0

    return {
        "sources.ndjson.read_s": per_op(dur("sources.ndjson.read")),
        "sources.ndjson.infer_job_s": per_op(job_time(read_jobs)),
        "sources.ndjson.scan_tasks": per_op(sum(len(j.tasks) for j in read_jobs)),
        "functions.dt_rewrite.build_s": per_op(dur("functions.dt_rewrite")),
        "operators.convert.sample_job_s": per_op(job_time(sample_jobs)),
        "operators.convert.write_job_s": per_op(job_time(write_jobs)),
        "operators.convert.verify_s": per_op(verify_s),
        "queries.build_s": per_op(dur("queries.build")),
        "queries.build_jobs": per_op(len(build_jobs)),
        "queries.build_share": dur("queries.build") / wall if wall else 0.0,
        "catalyst.plan_s": per_op(dur("catalyst.plan")),
        "streaming.batches": per_op(n_batches),
        "streaming.add_batch_s": per_op(add_batch),
        "streaming.engine_s": per_op(engine),
        "python.bytes_sent": per_op(sum(t["py_sent"] for t in tasks)),
        "python.bytes_returned": per_op(sum(t["py_returned"] for t in tasks)),
        "exec.execute_s": per_op(
            sum(job_time([j for j in op_jobs if by_id[owner[j.id]].op == op["id"]]) for op in ops)
        ),
        "exec.jobs": per_op(len(op_jobs)),
        "exec.stages": per_op(sum(j.stages for j in op_jobs)),
        "exec.tasks": per_op(len(tasks)),
        "exec.task_s": per_op(sum(t["run_s"] for t in tasks)),
        "exec.task_cpu_s": per_op(sum(t["cpu_s"] for t in tasks)),
        "exec.gc_s": per_op(sum(t["gc_s"] for t in tasks)),
        "exec.shuffle_read_bytes": per_op(sum(t["shuffle_read"] for t in tasks)),
        "exec.shuffle_write_bytes": per_op(sum(t["shuffle_write"] for t in tasks)),
        "exec.spill_bytes": per_op(sum(t["spill"] for t in tasks)),
        "exec.slot_busy_ratio": (
            sum(t["wall_s"] for t in tasks) / (wall * cores) if wall and cores else 0.0
        ),
        "exec.empty_task_ratio": (
            sum(1 for t in tasks if t["records"] == 0) / len(tasks) if tasks else 0.0
        ),
        "trace.span_coverage": span_coverage(spans, ops),
    }
