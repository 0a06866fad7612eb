"""Spans recorded around calls into the engine, and the Spark counters
read for each of them afterwards.

A span has a name (``<layer>.<call>``), a start and end on the
``perf_counter`` clock, and the id of the span that was open when it
began. While a span is open its id is the Spark job group of the calling
thread, so every job it launches can be attributed to it; a streaming
query's jobs carry the query's run id instead, which the benchmark maps
to the span that drained it. Nothing is read from Spark while spans are
open: the counters are pulled once, after the measured repetitions.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager, nullcontext

JOB_GROUP_PREFIX = "perfbench-"


class NullTracer:
    """Tracing off: every span is a no-op."""

    enabled = False

    def span(self, name, **attrs):
        return nullcontext()


class Tracer:
    """Records spans in memory; :meth:`span` is a context manager."""

    enabled = True

    def __init__(self, sc):
        self._sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name, **attrs):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, **attrs,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._sc.setJobGroup(f"{JOB_GROUP_PREFIX}{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                top = self._stack[-1]
                self._sc.setJobGroup(f"{JOB_GROUP_PREFIX}{top}", self.spans[top]["name"])
            else:
                self._sc._jsc.clearJobGroup()

    def subtree(self, root_id: int) -> list[dict]:
        """The span ``root_id`` and all its descendants."""
        ids = {root_id}
        out = []
        for s in self.spans:  # parents precede children
            if s["id"] in ids or s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the time its direct children cover
    (children of one parent never overlap: the driver is one thread)."""
    own = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] in own:
            own[s["parent"]] -= s["end"] - s["start"]
    return own


def check_tree(spans: list[dict]) -> list[str]:
    """Well-formedness problems of a span list (empty when fine): unique
    ids, known parents that start before their children, every span
    closed, and children inside their parent's interval."""
    problems = []
    by_id = {}
    for s in spans:
        if s["id"] in by_id:
            problems.append(f"duplicate span id {s['id']}")
        by_id[s["id"]] = s
        if s["end"] is None or s["end"] < s["start"]:
            problems.append(f"span {s['id']} not closed")
    for s in spans:
        p = s["parent"]
        if p is None:
            continue
        if p not in by_id or p >= s["id"]:
            problems.append(f"span {s['id']} has bad parent {p}")
            continue
        par = by_id[p]
        if s["start"] < par["start"] or (s["end"] or 0) > (par["end"] or 0):
            problems.append(f"span {s['id']} escapes parent {p}")
    return problems


# --- Spark counters -----------------------------------------------------

_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
          "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "min": 6e4, "h": 3.6e6}

# SQL metric name -> per-layer counter, read from the file scans, the
# pandas/Arrow exec nodes and the broadcast exchanges of each SQL
# execution's plan graph
SQL_METRICS = {
    "size of files read": "input_bytes",
    "time to run Python workers": "python_run_ms",
    "time to start Python workers": "python_start_ms",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
}
BROADCAST_NODE = "BroadcastExchange"


def parse_metric(text: str) -> float:
    """A formatted SQL metric value (``'1,024'``, ``'3.1 MiB'``,
    ``'total (min, med, max ...)\\n9.5 s (...)'``) as a number: bytes for
    sizes, milliseconds for times."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]+)?", line)
    if not m:
        raise ValueError(f"unparsed SQL metric {text!r}")
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1) if m.group(2) else value


def _scala_list(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def _option(opt):
    return opt.get() if opt.isDefined() else None


def read_counters(spark, groups: dict[str, int]) -> dict[int, dict]:
    """Per-span counters from Spark's in-process status stores.

    ``groups`` maps a job group (a span's, or a streaming query's run
    id) to the span id it belongs to. Returns span id -> counters: jobs,
    stages, tasks, failed tasks, executor run/CPU/GC ms, shuffle and
    spill bytes, and the SQL metrics in :data:`SQL_METRICS` plus
    broadcast bytes.
    """
    store = spark.sparkContext._jsc.sc().statusStore()
    out: dict[int, dict] = {}
    job_span: dict[int, int] = {}
    for job in _scala_list(store.jobsList(None)):
        sid = groups.get(_option(job.jobGroup()))
        if sid is None:
            continue
        job_span[job.jobId()] = sid
        c = out.setdefault(sid, _zero_counters())
        c["jobs"] += 1
        for stage_id in _scala_list(job.stageIds()):
            st = store.lastStageAttempt(stage_id)
            if st.numTasks() == 0 or str(st.status()) == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            c["failed_tasks"] += st.numFailedTasks()
            c["executor_run_ms"] += st.executorRunTime()
            c["executor_cpu_ms"] += st.executorCpuTime() / 1e6
            c["gc_ms"] += st.jvmGcTime()
            c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["shuffle_read_bytes"] += st.shuffleReadBytes()
            c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    sql = spark._jsparkSession.sharedState().statusStore()
    for ex in _scala_list(sql.executionsList()):
        job_ids = _scala_list(ex.jobs().keys().toSeq())
        spans = {job_span[j] for j in job_ids if j in job_span}
        if len(spans) != 1:
            continue
        c = out[spans.pop()]
        values = sql.executionMetrics(ex.executionId())
        for node in _scala_list(sql.planGraph(ex.executionId()).allNodes()):
            node_name = node.name()
            for m in _scala_list(node.metrics()):
                name = m.name()
                key = SQL_METRICS.get(name)
                if key is None and node_name == BROADCAST_NODE and name == "data size":
                    key = "broadcast_bytes"
                if key is None:
                    continue
                v = _option(values.get(m.accumulatorId()))
                if v is not None:
                    c[key] += parse_metric(v)
    return out


COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "executor_run_ms",
    "executor_cpu_ms", "gc_ms", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "broadcast_bytes", *SQL_METRICS.values(),
)


def _zero_counters() -> dict:
    return {k: 0.0 for k in COUNTERS}


def plan_phases(qe) -> dict[str, float]:
    """Catalyst phase times (ms) recorded by a query execution's tracker:
    analysis, optimization and planning."""
    phases = qe.tracker().phases()
    it = phases.iterator()
    out = {}
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out
