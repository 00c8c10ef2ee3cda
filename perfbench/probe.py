"""Spark's own accounting, read from outside the program, and the spans of
a traced run.

Nothing here changes what the program does. ``Accounting`` reads:

- job ids and per-stage totals from the status store
  (``DAGScheduler.numTotalJobs``, ``AppStatusStore.job`` /
  ``lastStageAttempt``), which is populated with the UI off;
- codegen compiles and compile time (``CodegenMetrics`` histogram count,
  ``CodeGenerator.compileTime``);
- the analysis / optimization / planning phases of every executed query
  (``QueryExecution.tracker()``), through a registered
  ``QueryExecutionListener``;
- micro-batch progress through a ``StreamingQueryListener``.

``Tracer`` keeps spans in memory: name, start, end, parent and the trace
id of the operation they belong to.
"""

from __future__ import annotations

import itertools
import time
from datetime import datetime
from dataclasses import dataclass, field

STAGE_FIELDS = (
    "numTasks", "numFailedTasks", "executorRunTime", "executorCpuTime", "jvmGcTime",
    "inputBytes", "inputRecords", "shuffleWriteBytes", "shuffleRemoteBytesRead",
    "shuffleLocalBytesRead", "memoryBytesSpilled", "diskBytesSpilled",
)
PLAN_PHASES = ("analysis", "optimization", "planning")


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    trace: int
    id: int = 0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans of the run. ``codegen_ms`` (a cumulative counter) is read at
    every opened span's start and end, so compile time, which happens on
    the driver between a plan and its jobs, can be carved out of the self
    time of the span it happened in."""

    def __init__(self, codegen_ms=lambda: 0.0) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._trace_ids = itertools.count(1)
        self._stack: list[Span] = []
        self._codegen_ms = codegen_ms

    def open(self, name: str, new_trace: bool = False, **attrs) -> Span:
        parent = self._stack[-1] if self._stack else None
        trace = next(self._trace_ids) if new_trace or parent is None else parent.trace
        s = Span(name, time.time(), 0.0, parent.id if parent else None, trace,
                 next(self._ids), attrs)
        s.attrs["codegen_ms"] = -self._codegen_ms()
        self.spans.append(s)
        self._stack.append(s)
        return s

    def close(self, span: Span) -> None:
        span.attrs["codegen_ms"] += self._codegen_ms()
        span.end = time.time()
        assert self._stack.pop() is span

    def add(self, name: str, start: float, end: float, parent: Span, **attrs) -> None:
        """Record a span measured by Spark (plan phase, job) under ``parent``."""
        self.spans.append(Span(name, start, end, parent.id, parent.trace, next(self._ids), attrs))

    def self_times(self, spans: list[Span] | None = None) -> dict[str, float]:
        """Per span name: the time its spans cover that none of their
        children cover (overlapping spans of one name count once), with
        the codegen compile time of each opened span moved to ``codegen``."""
        spans = self.spans if spans is None else spans
        kids: dict[int, list[Span]] = {}
        for s in spans:
            kids.setdefault(s.parent, []).append(s)
        own: dict[str, list[tuple[float, float]]] = {}
        mine: dict[int, float] = {}
        for s in spans:
            cuts = merged([(c.start, c.end) for c in kids.get(s.id, [])])
            iv = subtract((s.start, s.end), cuts)
            own.setdefault(s.name, []).extend(iv)
            mine[s.id] = union_length(iv)
        out = {name: union_length(iv) for name, iv in own.items()}
        # compile time of an opened span happened in its execution windows
        # (codegen runs when a plan executes), else in the span itself
        codegen = 0.0
        for s in spans:
            if "codegen_ms" not in s.attrs:
                continue
            left = max(0.0, s.attrs["codegen_ms"] - sum(
                c.attrs.get("codegen_ms", 0.0) for c in kids.get(s.id, []))) / 1e3
            for c in kids.get(s.id, []):
                if c.name == "exec" and left > 0:
                    take = min(left, mine[c.id])
                    out["exec"] -= take
                    codegen += take
                    left -= take
            take = min(left, mine[s.id])
            out[s.name] -= take
            codegen += take
        out["codegen"] = codegen
        return out


def merged(intervals) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def subtract(span: tuple[float, float], cuts) -> list[tuple[float, float]]:
    """``span`` minus the sorted, disjoint intervals ``cuts``."""
    out, pos = [], span[0]
    for a, b in cuts:
        if a > pos:
            out.append((pos, min(a, span[1])))
        pos = max(pos, b)
    if pos < span[1]:
        out.append((pos, span[1]))
    return [i for i in out if i[1] > i[0]]


def union_length(intervals) -> float:
    return sum(b - a for a, b in merged(intervals))


def _seq(scala_seq) -> list:
    it, out = scala_seq.iterator(), []
    while it.hasNext():
        out.append(it.next())
    return out


class _QueryListener:
    """py4j implementation of ``org.apache.spark.sql.util.QueryExecutionListener``."""

    def __init__(self) -> None:
        self.queries: list[dict] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java interface)
        self._record(func_name, qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self._record(func_name, qe)

    def _record(self, func_name, qe) -> None:
        phases = {}
        for kv in _seq(qe.tracker().phases().toSeq()):
            phases[kv._1()] = (kv._2().startTimeMs() / 1e3, kv._2().endTimeMs() / 1e3)
        self.queries.append({"func": func_name, "phases": phases})

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Accounting:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.store = self.jsc.statusStore()
        jvm = spark._jvm
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self.queries = _QueryListener()
        self.progress: list[dict] = []
        self._progress = None  # the registered StreamingQueryListener, if any

    def listen(self, on: bool) -> None:
        """Register (or remove) the query and streaming listeners. Only
        traced passes listen: the listeners call back into Python for every
        query and micro-batch, a cost untraced passes must not pay."""
        if on == (self._progress is not None):
            return
        listeners = self.spark._jsparkSession.listenerManager()
        if on:
            from pyspark.java_gateway import ensure_callback_server_started

            ensure_callback_server_started(self.spark.sparkContext._gateway)
            listeners.register(self.queries)
            self._progress = _progress_listener(self.progress)
            self.spark.streams.addListener(self._progress)
        else:
            self.drain_events()
            listeners.unregister(self.queries)
            self.spark.streams.removeListener(self._progress)
            self._progress = None

    def jobs(self) -> int:
        return self.jsc.dagScheduler().numTotalJobs()

    def codegen(self) -> tuple[int, float]:
        """(classes compiled, compile ms) since the JVM started."""
        return self._compiles.getCount(), self._codegen.compileTime() / 1e6

    def drain_events(self) -> None:
        """Wait until every listener has seen every event posted so far."""
        self.jsc.listenerBus().waitUntilEmpty()

    def job_records(self, first: int, end: int) -> list[dict]:
        """Per job in ``[first, end)``: wall interval (epoch s) and stage totals."""
        out = []
        for jid in range(first, end):
            try:
                jd = self.store.job(jid)
            except Exception:  # evicted from the status store
                continue
            sub, done = jd.submissionTime(), jd.completionTime()
            rec = {"id": jid, "status": jd.status().toString(),
                   "start": sub.get().getTime() / 1e3 if sub.isDefined() else None,
                   "end": done.get().getTime() / 1e3 if done.isDefined() else None}
            for f in STAGE_FIELDS:
                rec[f] = 0
            for sid in _seq(jd.stageIds()):
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Exception:  # skipped stage: never attempted
                    continue
                for f in STAGE_FIELDS:
                    rec[f] += getattr(sd, f)()
            out.append(rec)
        return out

    def storage_bytes(self) -> int:
        return sum(r.memoryUsed() + r.diskUsed() for r in _seq(self.store.rddList(True)))


def _progress_listener(sink: list):
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            p = event.progress
            start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            sink.append({
                "start": start,
                "durationMs": dict(p.durationMs),
                "numInputRows": p.numInputRows,
                "stateOperators": [
                    {"commitTimeMs": s.commitTimeMs,
                     "numShufflePartitions": s.numShufflePartitions}
                    for s in p.stateOperators
                ],
            })

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    return Progress()
