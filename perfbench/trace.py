"""Spans around the engine's public layer functions, and Spark job
attribution from the event log.

A span is one call into a layer: ``replay.apply_batch``, ``merge.merge_batch``
or one of the ``table.*`` methods of ``LakeTable``. The benchmark installs
wrappers around those functions for the traced run only; the engine's code is
not modified. A call made from inside a span of the same layer (``compact``
calling ``self.write_files``) is part of its caller's span, so each span is
one crossing of a layer boundary.

Spark work is attributed per job. On entry each span sets the thread-local
Spark property ``bench.span`` to its id and restores the previous value on
exit, because the engine's thread pools reuse threads. A job whose tag names
a span that was open when the job was submitted belongs to that span. Any
other job (untagged, or carrying a stale tag from a reused thread) belongs to
the innermost span, opened on the benchmark's own thread, whose interval
encloses the job's submission time. Spans opened on engine pool threads are
skipped by that rule because their intervals overlap unrelated work running
beside them.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

TAG = "bench.span"

# public functions wrapped by ``installed``; ``table.read`` is not among
# them: ``LakeTable.read`` only builds a lazy plan (its scan runs in whichever
# job consumes it), so the reader opens a ``table.read`` span itself around
# the read and the action that consumes it
TABLE_METHODS = (
    "write_files", "write_delta_files", "commit", "checkpoint", "live_files",
    "compact", "compact_deltas", "expire_snapshots",
)
SPAN_NAMES = (
    "replay.apply_batch", "merge.merge_batch",
    *(f"table.{m}" for m in TABLE_METHODS), "table.read",
)

# job metric -> (stage accumulable names summed, scale to the reported unit)
STAGE_METRICS = {
    "executor_cpu_s": (("internal.metrics.executorCpuTime",), 1e-9),
    "executor_run_s": (("internal.metrics.executorRunTime",), 1e-3),
    "shuffle_write_bytes": (("internal.metrics.shuffle.write.bytesWritten",), 1),
    "shuffle_read_bytes": (
        ("internal.metrics.shuffle.read.localBytesRead",
         "internal.metrics.shuffle.read.remoteBytesRead"), 1),
    "input_bytes": (("internal.metrics.input.bytesRead",), 1),
    "output_bytes": (("internal.metrics.output.bytesWritten",), 1),
    "spill_bytes": (("internal.metrics.diskBytesSpilled",), 1),
    "gc_s": (("internal.metrics.jvmGCTime",), 1e-3),
}
SPAN_JOB_METRICS = (
    "executor_cpu_s", "executor_run_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "input_bytes", "output_bytes",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    batch: int | None
    start: float
    end: float = 0.0
    on_root_thread: bool = True
    counts: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory. ``sc`` is anything with Spark's
    ``getLocalProperty``/``setLocalProperty`` (a SparkContext), or None."""

    def __init__(self, sc=None, clock=time.time):
        self.spans: list[Span] = []
        self.batch: int | None = None
        self._sc = sc
        self._clock = clock
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._stacks: dict[int, list[Span]] = {}
        self._root = threading.get_ident()

    def _parent(self) -> Span | None:
        with self._lock:
            own = self._stacks.get(threading.get_ident())
            if own:
                return own[-1]
            # an engine pool thread: its work was started by the innermost
            # span open on the benchmark's thread
            root = self._stacks.get(self._root)
            return root[-1] if root else None

    @contextmanager
    def span(self, name: str):
        """Open a span; yields it, or None for a same-layer nested call."""
        parent = self._parent()
        if parent is not None and parent.layer == name.split(".", 1)[0]:
            yield None
            return
        tid = threading.get_ident()
        s = Span(
            next(self._ids), name, parent.id if parent else None, self.batch,
            self._clock(), on_root_thread=tid == self._root,
        )
        prev = None
        if self._sc is not None:
            prev = self._sc.getLocalProperty(TAG)
            self._sc.setLocalProperty(TAG, str(s.id))
        with self._lock:
            self._stacks.setdefault(tid, []).append(s)
        try:
            yield s
        finally:
            s.end = self._clock()
            with self._lock:
                self._stacks[tid].pop()
                self.spans.append(s)
            if self._sc is not None:
                self._sc.setLocalProperty(TAG, prev)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(s.__dict__) + "\n")


# --------------------------------------------------------------- wrappers
def _count_files(s: Span, args, kwargs, out) -> None:
    s.counts["rows"] = s.counts.get("rows", 0) + sum(e.rows for e in out)
    s.counts["files"] = s.counts.get("files", 0) + len(out)


def _count_commit(s: Span, args, kwargs, out) -> None:
    added = kwargs.get("add_files") or (args[2] if len(args) > 2 else None) or []
    s.counts["rows_added"] = sum(e.rows for e in added)


def _count_batch(s: Span, args, kwargs, out) -> None:
    s.counts.update(events_in=out.events_in, errors=out.errors, changes=out.changes)


COUNTERS = {
    "table.write_files": _count_files,
    "table.write_delta_files": _count_files,
    "table.commit": _count_commit,
    "replay.apply_batch": _count_batch,
}


def _wrap(tracer: Tracer, name: str, fn):
    count = COUNTERS.get(name)

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name) as s:
            out = fn(*args, **kwargs)
            if s is not None and count is not None:
                count(s, args, kwargs, out)
            return out

    return wrapper


@contextmanager
def installed(tracer: Tracer):
    """Wrap the engine's layer functions for the duration of the block."""
    from ingestion3_spark.cdc import replay
    from ingestion3_spark.lakehouse.table import LakeTable

    # merge_batch is looked up in replay's namespace at call time
    targets = [
        (replay.ReplayEngine, "apply_batch", "replay.apply_batch"),
        (replay, "merge_batch", "merge.merge_batch"),
        *((LakeTable, m, f"table.{m}") for m in TABLE_METHODS),
    ]
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
    for owner, attr, name in targets:
        setattr(owner, attr, _wrap(tracer, name, getattr(owner, attr)))
    try:
        yield tracer
    finally:
        for owner, attr, orig in saved:
            setattr(owner, attr, orig)


# -------------------------------------------------------------- intervals
def union_length(intervals) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _clipped(intervals, lo: float, hi: float):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span wall time minus the union of its children's intervals (children
    may run concurrently on engine pool threads)."""
    children = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return {
        s.id: s.wall - union_length(_clipped(children[s.id], s.start, s.end))
        for s in spans
    }


# -------------------------------------------------------------- event log
@dataclass
class Job:
    id: int
    start: float  # seconds since the epoch
    end: float
    tag: str | None
    metrics: dict = field(default_factory=dict)


def event_log_files(log_dir: str) -> list[str]:
    """Event log files under ``log_dir`` in write order: Spark 4's rolling
    ``eventlog_v2_*/events_<n>_*`` parts, or one plain log file."""
    found = []
    for root, _dirs, files in os.walk(log_dir):
        for fn in files:
            if fn.startswith(("appstatus", ".")) or fn.endswith(".crc"):
                continue
            parts = fn.split("_")
            idx = int(parts[1]) if fn.startswith("events_") and parts[1].isdigit() else 0
            found.append((root, idx, os.path.join(root, fn)))
    return [p for _r, _i, p in sorted(found)]


def read_jobs(lines) -> list[Job]:
    """Jobs with their summed stage metrics, from event-log JSON lines."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stage_acc: dict[int, dict] = {}
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            t = e["Submission Time"] / 1000.0
            jobs[jid] = Job(jid, t, t, (e.get("Properties") or {}).get(TAG))
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            acc = stage_acc.setdefault(info["Stage ID"], {})
            for a in info.get("Accumulables", []):
                try:
                    acc[a["Name"]] = acc.get(a["Name"], 0.0) + float(a["Value"])
                except (KeyError, TypeError, ValueError):
                    continue
    for sid, acc in stage_acc.items():
        job = jobs.get(stage_job.get(sid))
        if job is None:
            continue
        for metric, (names, scale) in STAGE_METRICS.items():
            job.metrics[metric] = job.metrics.get(metric, 0.0) + scale * sum(
                acc.get(n, 0.0) for n in names
            )
    return sorted(jobs.values(), key=lambda j: j.start)


def attribute(jobs: list[Job], spans: list[Span], slack: float = 0.005) -> dict[int, int | None]:
    """Job id -> span id (None when the job ran outside every span).

    ``slack`` absorbs the event log's millisecond timestamps."""
    by_id = {s.id: s for s in spans}
    rooted = [s for s in spans if s.on_root_thread]

    def encloses(s: Span, t: float) -> bool:
        return s.start - slack <= t <= s.end + slack

    out: dict[int, int | None] = {}
    for j in jobs:
        tagged = by_id.get(int(j.tag)) if j.tag and j.tag.isdigit() else None
        if tagged is not None and encloses(tagged, j.start):
            out[j.id] = tagged.id
            continue
        # spans on one thread nest, so the latest-started enclosing one is
        # the innermost
        enclosing = [s for s in rooted if encloses(s, j.start)]
        out[j.id] = max(enclosing, key=lambda s: s.start).id if enclosing else None
    return out


# ------------------------------------------------------- per-layer report
def _root_of(span_id: int, by_id: dict[int, Span]) -> Span:
    s = by_id[span_id]
    while s.parent is not None:
        s = by_id[s.parent]
    return s


def layer_metrics(spans: list[Span], jobs: list[Job], owner: dict[int, int | None]) -> dict:
    """Per-span and run-wide metrics as ``{name: (value, unit)}``."""
    by_id = {s.id: s for s in spans}
    selfs = self_times(spans)
    out: dict[str, tuple[float, str]] = {}
    for name in SPAN_NAMES:
        mine = [s for s in spans if s.name == name]
        ids = {s.id for s in mine}
        owned = [j for j in jobs if owner.get(j.id) in ids]
        out[f"{name}.calls"] = (len(mine), "count")
        out[f"{name}.self_s"] = (sum(selfs[s.id] for s in mine), "s")
        out[f"{name}.jobs"] = (len(owned), "count")
        for m in SPAN_JOB_METRICS:
            unit = "s" if m.endswith("_s") else "B"
            out[f"{name}.{m}"] = (sum(j.metrics.get(m, 0.0) for j in owned), unit)

    batches = [s for s in spans if s.name == "replay.apply_batch"]
    batch_jobs: dict[int, list[Job]] = defaultdict(list)
    for j in jobs:
        if owner.get(j.id) is not None:
            root = _root_of(owner[j.id], by_id)
            if root.name == "replay.apply_batch":
                batch_jobs[root.id].append(j)
    gap = sum(
        b.wall - union_length(_clipped([(j.start, j.end) for j in batch_jobs[b.id]], b.start, b.end))
        for b in batches
    )
    apply_wall = sum(b.wall for b in batches)
    roots = [s for s in spans if s.parent is None]
    out["replay.apply_batch.wall_s"] = (apply_wall, "s")
    out["replay.driver_gap_s"] = (gap, "s")
    out["replay.jobs_per_batch"] = (
        sum(len(v) for v in batch_jobs.values()) / max(len(batches), 1), "count")
    events = sum(b.counts.get("events_in", 0) for b in batches)
    changes = sum(b.counts.get("changes", 0) for b in batches)
    out["validate.error_share"] = (
        sum(b.counts.get("errors", 0) for b in batches) / max(events, 1), "ratio")
    out["dedup.winners_per_event"] = (changes / max(events, 1), "ratio")
    merge_commit_rows = sum(
        s.counts.get("rows_added", 0) for s in spans
        if s.name == "table.commit" and s.parent is not None
        and by_id[s.parent].name == "merge.merge_batch"
    )
    out["merge.rows_written_per_change"] = (merge_commit_rows / max(changes, 1), "ratio")
    attributed = [j for j in jobs if owner.get(j.id) is not None]
    out["table.bytes_written_per_event"] = (
        sum(j.metrics.get("output_bytes", 0.0) for j in attributed) / max(events, 1), "B")
    out["spark.spill_bytes"] = (sum(j.metrics.get("spill_bytes", 0.0) for j in attributed), "B")
    out["spark.gc_s"] = (sum(j.metrics.get("gc_s", 0.0) for j in attributed), "s")
    root_wall = sum(s.wall for s in roots)
    out["trace.coverage"] = (sum(selfs.values()) / root_wall if root_wall else 0.0, "ratio")
    return out
