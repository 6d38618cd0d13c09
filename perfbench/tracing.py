"""Span recorder, wrappers around the engine's public calls, and the Spark
event-log reader that attributes jobs, stages and tasks to spans.

Nothing here edits the engine: ``install`` rebinds module attributes (the
names each caller bound at import time) and ``BatchStore`` methods to
timing wrappers, and ``uninstall`` restores the originals. Every wrapper
sets the thread-local Spark property ``perfbench.span`` to its span id for
the length of the call, so the event log of a traced session says which
span submitted each job. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from dataclasses import dataclass, field

SPAN_PROP = "perfbench.span"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None              # the operation (run) the span belongs to
    batch: int | None
    t0: float
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Recorder:
    """Collects spans from every thread. A span opened on a thread with no
    open span of its own (the engine's background pool) takes the current
    operation's root span as its parent."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.sc = None
        self.op: int | None = None
        self.op_root: int | None = None
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, batch: int | None = None) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else self.op_root
        with self._lock:
            sid = next(self._ids)
        span = Span(sid, name, parent, self.op, batch, time.time())
        stack.append(sid)
        span.attrs["_prev_prop"] = self._set_prop(str(sid))
        return span

    def close(self, span: Span) -> None:
        span.t1 = time.time()
        self._set_prop(span.attrs.pop("_prev_prop"))
        stack = self._stack()
        if stack and stack[-1] == span.id:
            stack.pop()
        with self._lock:
            self.spans.append(span)

    def _set_prop(self, value: str | None) -> str | None:
        if self.sc is None:
            return None
        prev = self.sc.getLocalProperty(SPAN_PROP)
        self.sc.setLocalProperty(SPAN_PROP, value)
        return prev

    def call(self, name: str, fn, *args, **kwargs):
        span = self.open(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.close(span)

    # --- installation ------------------------------------------------------
    def patch(self, owner: object, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def wrapper(self, name: str, batch_arg: int | None = None, name_arg: int | None = None,
                keep_result: bool = False):
        """Decorator factory: time ``fn`` as span ``name``; ``batch_arg`` /
        ``name_arg`` pick a positional argument that carries the batch id /
        a name suffix (``BatchStore.write_table``'s table)."""
        rec = self

        def make(fn):
            @functools.wraps(fn)
            def wrapped(*args, **kwargs):
                label = name
                if name_arg is not None and len(args) > name_arg:
                    label = f"{name}:{args[name_arg]}"
                batch = args[batch_arg] if batch_arg is not None and len(args) > batch_arg else None
                span = rec.open(label, batch)
                try:
                    out = fn(*args, **kwargs)
                finally:
                    rec.close(span)
                if keep_result:
                    span.attrs["result"] = out
                return out
            return wrapped
        return make


def install(rec: Recorder) -> None:
    """Wrap the engine's layer boundaries (see module docstring)."""
    from pyspark.sql.classic.dataframe import DataFrame

    from crawler_distributed_spark import storage
    from crawler_distributed_spark.operators import seen_filter
    from crawler_distributed_spark.plans import frontier_loop as fl
    from crawler_distributed_spark.streaming import stream_loop

    rec.patch(fl, "run_crawl", rec.wrapper("run_crawl", keep_result=True))
    rec.patch(stream_loop, "run_crawl", rec.wrapper("run_crawl", keep_result=True))
    rec.patch(fl, "init_crawl", rec.wrapper("init_crawl"))
    rec.patch(fl, "select_fetch_batch", rec.wrapper("select_fetch_batch"))
    rec.patch(fl, "fetch_scheduled", rec.wrapper("fetch_scheduled"))
    rec.patch(fl, "admit", rec.wrapper("admit"))
    rec.patch(fl, "with_sequence", rec.wrapper("with_sequence"))
    rec.patch(seen_filter, "build_bloom_delta", _tagging(rec, "build_bloom_delta"))
    rec.patch(seen_filter, "merge_blooms", _tagging(rec, "merge_blooms"))
    bs = storage.BatchStore
    # args[0] is self: write_table(self, df, batch_id, table)
    rec.patch(bs, "write_table", rec.wrapper("write_table", batch_arg=2, name_arg=3))
    rec.patch(bs, "commit", rec.wrapper("commit", batch_arg=1))
    rec.patch(bs, "compact_seen", rec.wrapper("compact_seen", batch_arg=2))
    rec.patch(bs, "read_frontier", rec.wrapper("read_frontier", batch_arg=2))
    rec.patch(bs, "read_seen", rec.wrapper("read_seen", batch_arg=2))
    rec.patch(bs, "read_seen_parts", rec.wrapper("read_seen_parts", batch_arg=2))

    def make_ckpt(fn):
        @functools.wraps(fn)
        def wrapped(df, *args, **kwargs):
            tag = getattr(df, "_perfbench_tag", None)
            span = rec.open(f"localCheckpoint:{tag}" if tag else "localCheckpoint")
            try:
                return fn(df, *args, **kwargs)
            finally:
                rec.close(span)
        return wrapped

    rec.patch(DataFrame, "localCheckpoint", make_ckpt)


def _tagging(rec: Recorder, name: str):
    """Wrap a bloom builder and tag the DataFrame it returns, so the
    ``localCheckpoint`` that materializes it is attributed to the bloom."""
    def make(fn):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            span = rec.open(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                rec.close(span)
            out._perfbench_tag = f"{name}#{span.id}"
            return out
        return wrapped
    return make


def write_spans(spans: list[Span], path: str) -> None:
    """One JSON object per span, in start order."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for s in sorted(spans, key=lambda s: s.t0):
            f.write(json.dumps({"id": s.id, "name": s.name, "parent": s.parent, "op": s.op,
                                "batch": s.batch, "start": s.t0, "end": s.t1}) + "\n")


# --- event log ---------------------------------------------------------------

@dataclass
class StageStats:
    span: int | None
    job: int
    tasks: int = 0
    task_s: float = 0.0        # sum of task durations (launch -> finish)
    shuffle_write: int = 0     # shuffle bytes written
    python_s: float = 0.0      # "time to run Python workers" (Python UDF execs)


@dataclass
class JobStats:
    id: int
    span: int | None
    t_submit: float
    stages: list[int] = field(default_factory=list)


def read_event_log(log_dir: str) -> tuple[dict[int, JobStats], dict[int, StageStats]]:
    """Parse every event-log file under ``log_dir`` into job and stage
    records tagged with the ``perfbench.span`` property."""
    jobs: dict[int, JobStats] = {}
    stages: dict[int, StageStats] = {}
    stage_job: dict[int, int] = {}
    files = sorted(
        os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names
        if not n.startswith((".", "appstatus"))
    )
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    span = _span_of(props)
                    job = JobStats(ev["Job ID"], span, ev["Submission Time"] / 1e3,
                                   list(ev.get("Stage IDs", [])))
                    jobs[job.id] = job
                    for sid in job.stages:
                        stage_job.setdefault(sid, job.id)
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    sid = info["Stage ID"]
                    st = stages.setdefault(sid, StageStats(None, stage_job.get(sid, -1)))
                    st.span = _span_of(ev.get("Properties") or {})
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], StageStats(None, -1))
                    for acc in info.get("Accumulables", []):
                        if acc.get("Name") == "time to run Python workers":
                            st.python_s += int(acc.get("Value") or 0) / 1e3
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    st = stages.setdefault(sid, StageStats(None, stage_job.get(sid, -1)))
                    ti = ev.get("Task Info") or {}
                    tm = ev.get("Task Metrics") or {}
                    st.tasks += 1
                    st.task_s += max(0, ti.get("Finish Time", 0) - ti.get("Launch Time", 0)) / 1e3
                    sw = tm.get("Shuffle Write Metrics") or {}
                    st.shuffle_write += sw.get("Shuffle Bytes Written", 0)
    return jobs, stages


def _span_of(props: dict) -> int | None:
    v = props.get(SPAN_PROP)
    return int(v) if v else None


# --- span arithmetic ---------------------------------------------------------

def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def self_time(span: Span, children: dict[int, list[Span]]) -> float:
    kids = children.get(span.id, [])
    return span.dur - covered([(k.t0, k.t1) for k in kids], span.t0, span.t1)


def children_of(spans: list[Span]) -> dict[int, list[Span]]:
    out: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            out.setdefault(s.parent, []).append(s)
    return out


def span_table(spans: list[Span], stages: dict[int, StageStats],
               jobs: dict[int, JobStats]) -> list[dict]:
    """Per span name: calls, total and self seconds, jobs, stages, tasks,
    task seconds and shuffle bytes of the Spark work each span submitted
    itself (not its children's)."""
    kids = children_of(spans)
    by_name: dict[str, dict] = {}
    by_id = {s.id: s for s in spans}
    for s in spans:
        key = s.name.split("#", 1)[0]
        row = by_name.setdefault(key, dict(name=key, calls=0, total_s=0.0, self_s=0.0,
                                              jobs=0, stages=0, tasks=0, task_s=0.0,
                                              shuffle_bytes=0))
        row["calls"] += 1
        row["total_s"] += s.dur
        row["self_s"] += self_time(s, kids)
    for j in jobs.values():
        if j.span in by_id:
            by_name[by_id[j.span].name.split("#", 1)[0]]["jobs"] += 1
    for st in stages.values():
        if st.span in by_id:
            row = by_name[by_id[st.span].name.split("#", 1)[0]]
            row["stages"] += 1
            row["tasks"] += st.tasks
            row["task_s"] += st.task_s
            row["shuffle_bytes"] += st.shuffle_write
    return sorted(by_name.values(), key=lambda r: -r["self_s"])
