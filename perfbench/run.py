"""Run one benchmark workload in this (fresh) process and print its metrics.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload views_olap --seed 1 --seconds 10 --trace 0

Workloads: ``views_olap``, ``llm_curation``, ``lake_ingest`` (see
perfbench/README.md). ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` prints the per-layer metrics of a traced run and writes its
spans to ``.perfbench_out/``. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
carries diagnostics (environment, host canaries, set-up parts, error
rate, failures). The exit code is 0 only when every output is correct.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF = 0.002  # generated input scale (lineitem rows = 6M x SF)
# The tables are the same in every run, like a read-only testdata set; the
# run's --seed permutes the operation order and makes the arriving batches.
DATA_SEED = 42
MIN_STEADY = 3  # steady passes per untraced run, at least
DRIVER_MEMORY = "1g"
END_TO_END = {"setup_s": "s", "first_pass_s": "s", "pass_s": "s", "peak_rss_mb": "MB"}
SELF_TIMES = ("op", "construct", "sink", "plan", "codegen", "exec", "job", "streaming", "land",
              "drain", "sinks", "read_back")


def program_present() -> bool:
    return all(os.path.exists(os.path.join(ROOT, p)) for p in
               ("etl_schema_spark/__init__.py", "__spark_entry__.py", "tools/check_correctness.py"))


def pin_environment(work: str) -> dict:
    """Environment every run pins, recorded in its result."""
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # Arrow UDF workers import the package; they only see PYTHONPATH
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        # every JVM, Spark's command-line launcher included, keeps its
        # temporary files in the work directory
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    return env


def spark_conf(work: str) -> dict:
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # The heap is sized at its maximum from the start, so the collector
        # makes no expansion decisions, which follow GC timing and moved
        # peak RSS by up to 25% between runs. It is not pre-touched: RSS
        # counts the heap pages the program's allocations have touched.
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
    }


def source_identity() -> dict:
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    h = hashlib.sha1()
    for base in ("etl_schema_spark", "__spark_entry__.py"):
        p = os.path.join(ROOT, base)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(r, f) for r, _, fs in os.walk(p) for f in fs if f.endswith(".py"))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return {"git_commit": commit, "source_sha1": h.hexdigest()}


def process_age() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def warm_up(spark) -> None:
    """JVM, codegen path and the Python worker pool, on generated rows only."""
    n = spark.sparkContext.defaultParallelism
    spark.range(0, 64, 1, n).mapInPandas(lambda it: it, "id long").write.format("noop") \
        .mode("overwrite").save()
    spark.range(10_000).selectExpr("id % 7 AS k").groupBy("k").count().collect()


def canary(host_canary) -> dict:
    """The two host canaries of ``tools/host_canary.py``, once each (the
    aggregate runs in the active session). Diagnostic only, never a gate."""
    return {"cpu_s": round(host_canary.cpu_loop(), 4), "agg_s": round(host_canary.spark_agg(), 4)}


def steady_pass_s(passes: list[dict]) -> float:
    """A steady pass: per operation slot (its name and occurrence in the
    pass) the median over ``passes``, summed, so that a stall in one
    operation of one pass moves the figure as little as it can."""
    slots: dict[tuple, list[float]] = {}
    for p in passes:
        seen: dict[str, int] = {}
        for name, secs in p["ops"]:
            seen[name] = seen.get(name, 0) + 1
            slots.setdefault((name, seen[name]), []).append(secs)
    return sum(statistics.median(v) for v in slots.values())


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples above it:
    (value, percentile, samples above). Falls back to the maximum when
    there are fewer than eleven samples."""
    xs = sorted(samples)
    n = len(xs)
    if n < 11:
        return xs[-1], 100.0, 0
    k = n - 11
    return xs[k], round(100.0 * (k + 1) / n, 1), n - 1 - k


def children_of_jvm(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(d))
            except OSError:
                pass
    return out


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to exit. The
    JVM exits when its stdin closes; its py4j sockets close with it."""
    proc = spark.sparkContext._gateway.proc
    kids = children_of_jvm(proc.pid)
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 20
    while kids and time.time() < deadline:
        kids = [k for k in kids if os.path.exists(f"/proc/{k}")]
        time.sleep(0.1)


def make_workload(name: str):
    import workloads as w

    return {
        "views_olap": lambda: w.Registry(w.VIEWS_OLAP),
        "llm_curation": lambda: w.Registry(w.LLM_CURATION),
        "lake_ingest": w.LakeIngest,
    }[name]()


def start_session(work: str, gen_s: float):
    """The cold set-up: from process start (input generation excluded) until
    ``get_spark`` has returned, then the warm-up. Returns the session and
    (start_s, warmup_s)."""
    from etl_schema_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=spark_conf(work))
    start = process_age() - gen_s
    t0 = time.perf_counter()
    warm_up(spark)
    warmup = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, (start, warmup)


def run_passes(args, ctx, wl, tracer, rss) -> tuple[list[dict], list[str]]:
    """The cold first pass, the warm-up passes, then steady passes until
    ``args.seconds`` have passed and there are enough of them. A traced run
    alternates traced and untraced steady passes, so both are measured in
    one session. Each pass records ``rss()`` after it."""
    from etl_schema_spark.operators import cachereg
    from workloads import LakeIngest, run_op

    is_lake = isinstance(wl, LakeIngest)
    passes, failures = [], []

    def run_pass(pass_no: int, traced: bool, steady: bool) -> None:
        ctx.acct.listen(traced)
        ctx.tracer = tracer if traced else None
        first_span = len(tracer.spans)
        ctx.layers = {}
        before = wl.written() if is_lake else (0, 0)
        arrived = (wl.arrived_rows, wl.arrived_bytes) if is_lake else (0, 0)
        ops = []
        t = time.perf_counter()
        for name, body in wl.ops(ctx, pass_no):
            t_op = time.perf_counter()
            try:
                ops.append((name, run_op(ctx, name, body)))
            except Exception as ex:  # counted in error_rate, run continues
                failures.append(f"pass {pass_no} {name}: {type(ex).__name__}: {ex}"[:500])
                ops.append((name, time.perf_counter() - t_op))
        rec = {"pass_s": time.perf_counter() - t, "ops": ops, "traced": traced, "steady": steady}
        wl.end_pass()
        rec["rss"] = rss()
        if is_lake:
            after = wl.written()
            rec["rows"] = wl.arrived_rows - arrived[0]
            rec["write_amp"] = (after[1] - before[1]) / max(1, wl.arrived_bytes - arrived[1])
            ctx.add("sinks.files_written", after[0] - before[0])
            ctx.add("sinks.bytes_written", after[1] - before[1])
            ctx.add("sinks.write_amp", rec["write_amp"])
        if traced:
            ctx.add("cachereg.pins", len(cachereg._PINS))
            ctx.add("cachereg.storage_bytes", ctx.acct.storage_bytes())
            rec["layers"] = dict(ctx.layers)
            rec["spans"] = tracer.spans[first_span:]
            rec["self"] = tracer.self_times(rec["spans"])
        passes.append(rec)

    run_pass(0, traced=bool(args.trace), steady=False)
    for _ in range(wl.warm_passes):
        run_pass(len(passes), traced=False, steady=False)
    t_steady = time.perf_counter()
    n_steady = 0
    while True:
        run_pass(len(passes), traced=bool(args.trace) and n_steady % 2 == 0, steady=True)
        n_steady += 1
        steady = passes[-n_steady:]
        n_traced = sum(p["traced"] for p in steady)
        enough = (n_traced >= 2 and len(steady) - n_traced >= 2) if args.trace \
            else len(steady) >= MIN_STEADY
        if enough and time.perf_counter() - t_steady >= args.seconds:
            ctx.acct.listen(False)
            return passes, failures


def per_layer(passes: list[dict], setup: tuple[float, float]) -> dict:
    """Counts from the first traced steady pass; times are medians over the
    traced steady passes. The tracing overhead is the traced steady pass
    against the untraced steady passes of the same run, which run without
    listeners."""
    from workloads import LAYER_METRICS

    traced = [p for p in passes if p["steady"] and p["traced"]]
    untraced = [p for p in passes if p["steady"] and not p["traced"]]
    values = {}
    for m in LAYER_METRICS:
        if m.endswith(("_s", "_ms")):
            values[m] = statistics.median(p["layers"].get(m, 0) for p in traced)
        else:
            values[m] = traced[0]["layers"].get(m, 0)
    values["session.start_s"], values["session.warmup_s"] = setup
    for name in SELF_TIMES:
        values[f"self.{name}_s"] = statistics.median(
            sum(t for k, t in p["self"].items() if k == name or k.startswith(name + "."))
            for p in traced)
    values["trace.overhead_s"] = steady_pass_s(traced) - steady_pass_s(untraced)
    return {m: {"value": values[m], "unit": layer_unit(m)} for m in per_layer_names()}


def run(args, work: str, env: dict) -> tuple[dict, dict]:
    import gen
    import verify
    from probe import Accounting, Tracer
    from workloads import Ctx, LakeIngest

    data = os.path.join(work, "data")
    os.makedirs(data)
    t0 = time.perf_counter()
    gen.write_star(data, DATA_SEED, SF)
    gen_s = time.perf_counter() - t0
    spark, setup = start_session(work, gen_s)
    jvm_pid = spark.sparkContext._gateway.proc.pid
    acct = Accounting(spark)
    host_canary = verify.tool(ROOT, "host_canary")
    canary_start = canary(host_canary)

    wl = make_workload(args.workload)
    ctx = Ctx(spark, data, work, args.seed, acct)
    wl.setup(ctx)
    is_lake = isinstance(wl, LakeIngest)
    passes, failures = run_passes(args, ctx, wl, Tracer(lambda: acct.codegen()[1]),
                                  lambda: {"jvm": vm_hwm_mb(jvm_pid), "driver": vm_hwm_mb("self")})

    # correctness, off the clock
    t0 = time.perf_counter()
    attempted = sum(len(p["ops"]) for p in passes)
    if is_lake:
        attempted += verify.LAKE_CHECKS
        failures += verify.check_lake(spark, wl)
    else:
        import __spark_entry__ as entry

        failures += verify.check_registry(ROOT, data, wl.results(), entry.oracle_sql())
    verify_s = time.perf_counter() - t0
    canary_end = canary(host_canary)
    t0 = time.perf_counter()
    shutdown(spark)
    stop_s = time.perf_counter() - t0

    steady = [p for p in passes if p["steady"] and not p["traced"]]
    op_s = [s for p in steady for _, s in p["ops"]]
    tail_s, tail_pct, tail_beyond = tail(op_s)
    result = outcome(attempted, failures)
    diag = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "sf": SF,
        **source_identity(), "env": env, "spark_ui": "off",
        "canary_start": canary_start, "canary_end": canary_end,
        "gen_inputs_s": round(gen_s, 4), "verify_s": round(verify_s, 4),
        "shutdown_s": round(stop_s, 4), "peak_rss_mb": passes[-1]["rss"],
        "setup": {"start_s": round(setup[0], 4), "warmup_s": round(setup[1], 4)},
        "pass_s": [round(p["pass_s"], 4) for p in passes],
        "op_median_s": {n: round(statistics.median(s for p in steady for k, s in p["ops"] if k == n), 4)
                        for n in dict.fromkeys(k for k, _ in passes[0]["ops"])},
        "op_p50_s": {"value": statistics.median(op_s), "unit": "s", "samples": len(op_s)},
        "op_tail_s": {"value": tail_s, "unit": "s", "percentile": tail_pct,
                      "samples": len(op_s), "samples_beyond": tail_beyond},
        "error_rate": result.pop("error_rate"), "failures": failures[:20],
    }
    if is_lake:
        diag["ingest_rows_per_s"] = statistics.median(p["rows"] / p["pass_s"] for p in steady)
        diag["write_amp"] = statistics.median(p["write_amp"] for p in steady)
    if args.trace:
        result["metrics"] = per_layer(passes, setup)
        dump_spans(args, passes)
    else:
        values = {
            "setup_s": sum(setup),
            "first_pass_s": passes[0]["pass_s"],
            "pass_s": steady_pass_s(steady),
            # the same work in every run, whatever the host's speed; read
            # before any check runs in either process
            "peak_rss_mb": sum(steady[MIN_STEADY - 1]["rss"].values()),
        }
        result["metrics"] = {k: {"value": values[k], "unit": END_TO_END[k]} for k in END_TO_END}
    return diag, result


def outcome(attempted: int, failures: list[str]) -> dict:
    """A failed or wrong operation counts once against those attempted."""
    return {"correct": not failures, "attempted": attempted, "failed": len(failures),
            "error_rate": len(failures) / attempted}


def per_layer_names() -> list[str]:
    from workloads import LAYER_METRICS

    return [*LAYER_METRICS, "session.start_s", "session.warmup_s",
            *(f"self.{n}_s" for n in SELF_TIMES), "trace.overhead_s"]


def layer_unit(m: str) -> str:
    if m.endswith("_ms"):
        return "ms"
    if m.endswith("_s"):
        return "s"
    if "bytes" in m:
        return "bytes"
    if m.endswith("write_amp"):
        return "ratio"
    return "count"


def dump_spans(args, passes) -> None:
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"spans-{args.workload}-{args.seed}.jsonl"), "w") as f:
        for i, p in enumerate(passes):
            for s in p.get("spans", ()):
                f.write(json.dumps({"pass": i, **s.__dict__}) + "\n")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["views_olap", "llm_curation", "lake_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not program_present():
        print(f"perfbench: no etl_schema_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    env = pin_environment(work)
    sys.path[:0] = [ROOT, HERE]
    try:
        diag, result = run(args, work, env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(diag, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
