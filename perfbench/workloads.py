"""The three workloads and the traced/untraced operation runner.

A *pass* is one ordered list of operations; a run is a cold first pass and
then steady passes in the same session (closed loop, one client).

- ``views_olap`` / ``llm_curation``: registry entries (``queries()``), each
  built by its public callable and its output collected as Arrow. The seed
  permutes the order within every pass.
- ``lake_ingest``: per pass, a seeded arriving document file drained through
  ``streaming.ingest_front_door_sink`` (one micro-batch), a seeded event
  batch appended with ``sinks.append_evolved`` to a date-partitioned lake,
  ``sinks.refresh_partitions`` of an hourly rollup over the touched days and
  a ``sinks.read_evolved`` read-back.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
import pyarrow.feather as feather
import pyarrow.parquet as pq

import gen
from probe import PLAN_PHASES, Accounting, Tracer, merged, union_length

VIEWS_OLAP = [
    "unified_view_events", "tiered_views", "hourly_rollup", "q3_shipping_priority",
    "q5_local_supplier", "sessionized_events", "gapfill_locf", "streaming_hourly_counts",
]
LLM_CURATION = [
    "dedup_ngram_jaccard", "tail_latency_percentiles", "multimodal_decode_ppm", "epoch_shuffle",
]

# per-pass totals a traced pass reports, by layer (names are the per_layer metrics)
LAYER_METRICS = (
    "operators.construct_s", "operators.construct_jobs",
    "sources.input_bytes", "sources.input_rows",
    "spark.plan.analysis_ms", "spark.plan.optimization_ms", "spark.plan.planning_ms",
    "spark.codegen.compiles", "spark.codegen.compile_ms",
    "spark.exec.wall_s", "spark.exec.jobs", "spark.exec.tasks", "spark.exec.task_run_ms",
    "spark.exec.task_cpu_ms", "spark.exec.gc_ms", "spark.exec.failed_tasks",
    "spark.shuffle.write_bytes", "spark.shuffle.read_bytes", "spark.shuffle.spill_bytes",
    "cachereg.pins", "cachereg.storage_bytes", "cachereg.memo_reuse",
    "streaming.batches", "streaming.trigger_ms", "streaming.add_batch_ms",
    "streaming.state_commit_ms", "streaming.state_partitions",
    "sinks.write_s", "sinks.files_written", "sinks.bytes_written", "sinks.partitions_touched",
    "sinks.write_amp",
)


@dataclass
class Ctx:
    spark: object
    data_dir: str
    work_dir: str
    seed: int
    acct: Accounting | None = None
    tracer: Tracer | None = None  # None: untraced pass
    layers: dict = field(default_factory=dict)

    @contextmanager
    def span(self, name: str):
        if self.tracer is None:
            yield
            return
        s = self.tracer.open(name)
        try:
            yield
        finally:
            self.tracer.close(s)

    def add(self, metric: str, value: float) -> None:
        self.layers[metric] = self.layers.get(metric, 0) + value


def run_op(ctx: Ctx, name: str, body) -> float:
    """Run one operation; return its wall time. A traced operation also
    attributes the Spark work done meanwhile to the spans the body opened;
    its wall time includes that attribution, the cost of tracing it."""
    if ctx.tracer is None:
        t0 = time.perf_counter()
        body(ctx)
        return time.perf_counter() - t0
    from etl_schema_spark.operators import cachereg

    acct, tr = ctx.acct, ctx.tracer
    j0, q0, p0 = acct.jobs(), len(acct.queries.queries), len(acct.progress)
    cg0 = acct.codegen()
    pins0 = dict(cachereg._PINS)
    t0 = time.perf_counter()
    op = tr.open("op", new_trace=True, op=name)
    try:
        body(ctx)
    finally:
        tr.close(op)
        acct.drain_events()
        _attribute(ctx, op, j0, q0, p0, cg0)
        ctx.add("cachereg.memo_reuse",
                sum(1 for k, df in pins0.items() if cachereg._PINS.get(k) is df))
    return time.perf_counter() - t0


def _attribute(ctx: Ctx, op, j0: int, q0: int, p0: int, cg0) -> None:
    """Add Spark's own accounting of one operation to the trace and the
    pass's layer totals. Spans added under the innermost opened span:

    - ``plan.<phase>`` from each query's ``tracker()`` phases;
    - ``exec``: an execution window, from the end of the planning that
      precedes a job to the end of the last job it covers; the driver-side
      work between a query's jobs (adaptive re-planning, stage scheduling,
      codegen) is the window's self time;
    - ``job``: each Spark job, inside its window;
    - ``streaming.batch``: each micro-batch's trigger.
    """
    acct, tr = ctx.acct, ctx.tracer
    opened = [s for s in tr.spans if s.trace == op.trace]

    def parent_of(t: float, among):
        inside = [s for s in among if s.start <= t <= s.end]
        return max(inside, key=lambda s: s.start) if inside else op

    for p in acct.progress[p0:]:
        d = p["durationMs"]
        start = p["start"]
        tr.add("streaming.batch", start, start + d.get("triggerExecution", 0) / 1e3,
               parent_of(start, opened))
        ctx.add("streaming.batches", 1)
        ctx.add("streaming.trigger_ms", d.get("triggerExecution", 0))
        ctx.add("streaming.add_batch_ms", d.get("addBatch", 0))
        for s in p["stateOperators"]:
            ctx.add("streaming.state_commit_ms", s["commitTimeMs"])
            ctx.layers["streaming.state_partitions"] = max(
                ctx.layers.get("streaming.state_partitions", 0), s["numShufflePartitions"])
    parents = [s for s in tr.spans if s.trace == op.trace]
    plan_ends = []
    for q in acct.queries.queries[q0:]:
        for phase in PLAN_PHASES:
            if phase in q["phases"]:
                a, b = q["phases"][phase]
                tr.add(f"plan.{phase}", a, b, parent_of(a, parents))
                ctx.add(f"spark.plan.{phase}_ms", (b - a) * 1e3)
        if "planning" in q["phases"]:
            plan_ends.append(q["phases"]["planning"][1])
    jobs = [r for r in acct.job_records(j0, acct.jobs()) if r["start"] is not None]
    windows: dict[int, list] = {}  # parent span id -> execution windows
    for rec in jobs:
        rec["end"] = rec["end"] or rec["start"]
        parent = parent_of(rec["start"], parents)
        began = [e for e in plan_ends if parent.start <= e <= rec["start"]]
        windows.setdefault(parent.id, [parent, []])[1].append(
            (max(began) if began else rec["start"], rec["end"]))
        if parent.name == "construct":
            ctx.add("operators.construct_jobs", 1)
        ctx.add("spark.exec.jobs", 1)
        ctx.add("spark.exec.tasks", rec["numTasks"])
        ctx.add("spark.exec.failed_tasks", rec["numFailedTasks"])
        ctx.add("spark.exec.task_run_ms", rec["executorRunTime"])
        ctx.add("spark.exec.task_cpu_ms", rec["executorCpuTime"] / 1e6)
        ctx.add("spark.exec.gc_ms", rec["jvmGcTime"])
        ctx.add("sources.input_bytes", rec["inputBytes"])
        ctx.add("sources.input_rows", rec["inputRecords"])
        ctx.add("spark.shuffle.write_bytes", rec["shuffleWriteBytes"])
        ctx.add("spark.shuffle.read_bytes",
                rec["shuffleRemoteBytesRead"] + rec["shuffleLocalBytesRead"])
        ctx.add("spark.shuffle.spill_bytes", rec["memoryBytesSpilled"] + rec["diskBytesSpilled"])
    all_windows = []
    for parent, iv in windows.values():
        for a, b in merged(iv):
            tr.add("exec", a, b, parent)
            all_windows.append((a, b))
    execs = [s for s in tr.spans if s.trace == op.trace and s.name == "exec"]
    for rec in jobs:
        tr.add("job", rec["start"], rec["end"], parent_of(rec["start"], execs), job=rec["id"])
    ctx.add("spark.exec.wall_s", union_length(all_windows))
    n, ms = acct.codegen()
    ctx.add("spark.codegen.compiles", n - cg0[0])
    ctx.add("spark.codegen.compile_ms", ms - cg0[1])
    for s in opened:
        if s.name == "construct":
            ctx.add("operators.construct_s", s.end - s.start)
        elif s.name.startswith("sinks."):
            ctx.add("sinks.write_s", s.end - s.start)


class Registry:
    """Registry entries, each output collected as Arrow so that every timed
    output is checked afterwards; the seed permutes each pass. Outputs are
    written to the work directory after each pass, so that the driver holds
    one pass's outputs at a time."""

    # Untimed passes after the cold one. The JIT keeps compiling for several
    # passes, and pass times fall with it; on llm_curation, with two untimed
    # passes, they still fell from the third to the fifth pass after the
    # cold one in most runs, so three passes are run (and checked) untimed.
    warm_passes = 3

    def __init__(self, names: list[str]) -> None:
        self.names = names
        self.pending: list = []  # (name, Arrow table) of the running pass
        self.outputs: list = []  # (name, Arrow IPC file) per executed operation

    def setup(self, ctx: Ctx) -> None:
        import __spark_entry__ as entry

        self.fns = entry.queries()
        self.out_dir = os.path.join(ctx.work_dir, "outputs")
        os.makedirs(self.out_dir, exist_ok=True)

    def end_pass(self) -> None:
        for name, tbl in self.pending:
            path = os.path.join(self.out_dir, f"{len(self.outputs):05d}.arrow")
            feather.write_feather(tbl, path, compression="uncompressed")
            self.outputs.append((name, path))
        self.pending = []

    def results(self):
        """(name, Arrow table) per executed operation, read back."""
        for name, path in self.outputs:
            yield name, feather.read_table(path)

    def ops(self, ctx: Ctx, pass_no: int):
        order = np.random.default_rng([ctx.seed, pass_no]).permutation(len(self.names))
        for i in order:
            name = self.names[i]
            yield name, lambda c, name=name: self._call(c, name)

    def _call(self, ctx: Ctx, name: str) -> None:
        with ctx.span("construct"):
            df = self.fns[name](ctx.spark, ctx.data_dir)
        with ctx.span("sink"):
            self.pending.append((name, df.toArrow()))


def dir_stats(*paths: str) -> tuple[int, int]:
    """(data files, bytes) under ``paths``, ignoring checkpoint and marker files."""
    files = size = 0
    for p in paths:
        for root, dirs, names in os.walk(p):
            dirs[:] = [d for d in dirs if d != "_chk"]
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(root, n))
    return files, size


class LakeIngest:
    """Arriving documents through the streaming front door; arriving events
    through additive-evolution appends, a partition refresh and a read-back."""

    # Untimed passes after the cold one. JIT compile time (summed over the
    # compiler threads) is about 46 s by the end of the cold pass, then about
    # 11 s, 9 s and 3-6 s per pass; pass times fall with it and level off
    # about four passes after the cold one on a quiet host.
    warm_passes = 2
    DOC_ROWS = 40  # one arriving file, one micro-batch, per pass
    EVENT_ROWS = 500  # per batch; one batch per pass, two in the first
    N_USERS = 30

    def setup(self, ctx: Ctx) -> None:
        w = ctx.work_dir
        self.arriving = os.path.join(w, "arriving_docs")
        self.staged = os.path.join(w, "staged_events")
        self.target = os.path.join(w, "front_door")
        self.lake = os.path.join(w, "lake_events")
        self.rollup = os.path.join(w, "rollup_hourly")
        for d in (self.arriving, self.staged):
            os.makedirs(d, exist_ok=True)
        self.corpus = pq.read_table(os.path.join(ctx.data_dir, "documents.parquet"))
        self.docs: list = []  # arriving doc tables, in order
        self.copies: dict[int, int] = {}  # planted exact copy -> its source doc
        self.arrived_rows = self.arrived_bytes = 0
        self.touched: set = set()

    def written(self) -> tuple[int, int]:
        return dir_stats(self.lake, self.rollup, self.target)

    def end_pass(self) -> None:
        pass

    def ops(self, ctx: Ctx, pass_no: int):
        yield "docs", lambda c: self._docs(c, pass_no)
        # the first pass's second batch adds a column to the existing lake
        for i in range(2 if pass_no == 0 else 1):
            yield "events", lambda c, i=i: self._events(c, pass_no, i)
        yield "refresh", self._refresh
        yield "read_back", self._read_back

    def _docs(self, ctx: Ctx, pass_no: int) -> None:
        from etl_schema_spark.streaming import ingest_front_door_sink

        with ctx.span("land"):
            t, copies = gen.doc_batch(ctx.seed, pass_no, 0, self.DOC_ROWS, self.corpus, self.docs)
            path = os.path.join(self.arriving, f"docs-{pass_no:04d}.parquet")
            pq.write_table(t, path)
            self.docs.append(t)
            self.copies.update(copies)
            self.arrived_rows += t.num_rows
            self.arrived_bytes += os.path.getsize(path)
        with ctx.span("drain"):
            ingest_front_door_sink(ctx.spark, ctx.data_dir, self.target,
                                   arriving_dir=self.arriving, max_files_per_trigger=1)

    def _events(self, ctx: Ctx, pass_no: int, i: int) -> None:
        from pyspark.sql import functions as F

        from etl_schema_spark import sinks

        with ctx.span("land"):
            t = gen.event_batch(ctx.seed, pass_no, i, self.EVENT_ROWS, self.N_USERS,
                                add_column=(pass_no, i) == (0, 1))
            path = os.path.join(self.staged, f"events-{pass_no:04d}-{i}.parquet")
            pq.write_table(t, path)
            self.arrived_rows += t.num_rows
            self.arrived_bytes += os.path.getsize(path)
            days = np.unique(t["ts"].to_numpy().astype("datetime64[D]"))
            self.touched.update(str(d) for d in days)
        with ctx.span("construct"):
            df = ctx.spark.read.parquet(path).withColumn("date", F.to_date("ts"))
        with ctx.span("sinks.append"):
            sinks.append_evolved(ctx.spark, df, self.lake, ["date"])

    def _refresh(self, ctx: Ctx) -> None:
        from etl_schema_spark import sinks

        days = sorted(self.touched)
        self.touched.clear()
        ctx.add("sinks.partitions_touched", len(days))
        with ctx.span("construct"):
            view = self.rollup_view(ctx.spark)
        with ctx.span("sinks.refresh"):
            sinks.refresh_partitions(ctx.spark, view, self.rollup, "date", days)

    def rollup_view(self, spark):
        from pyspark.sql import functions as F

        from etl_schema_spark import sinks

        return (
            sinks.read_evolved(spark, self.lake)
            .groupBy("date", F.hour("ts").alias("hour"), "event_type")
            .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        )

    def _read_back(self, ctx: Ctx) -> None:
        from etl_schema_spark import sinks

        with ctx.span("construct"):
            per_date = sinks.read_evolved(ctx.spark, self.lake).groupBy("date").count()
        with ctx.span("read_back"):
            per_date.collect()
