"""Output checks, run off the clock after the timed passes.

Registry entries are compared with their DuckDB ``oracle_sql()`` twins using
the canonicalisation of ``tools/check_correctness.py`` (column names, Arrow
type classes, order-insensitive values). ``lake_ingest`` is checked against
DuckDB recomputed over the staged batches. Every check returns a list of
failure messages; an empty list means correct. DuckDB is imported by the
checks only, so that it is not loaded in the driver while passes run.
"""

from __future__ import annotations

import importlib.util
import os
import sys

import pyarrow as pa

import gen


def tool(root: str, name: str):
    """Import ``tools/<name>.py`` from the checkout by path."""
    path = os.path.join(root, "tools", f"{name}.py")
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved  # the tool prepends its own repo path; keep ours
    return mod


def rows(tbl: pa.Table) -> list[tuple]:
    """Row tuples of an Arrow table, timestamps as naive UTC (the session
    time zone), the form both the Spark and the DuckDB side are compared in."""
    cols = []
    for c in tbl.columns:
        if pa.types.is_timestamp(c.type) and c.type.tz is not None:
            c = c.cast(pa.timestamp(c.type.unit))
        cols.append(c.to_pylist())
    return list(zip(*cols)) if cols else []


def duck(cc, data_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in cc.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def compare(cc, name: str, got: pa.Table, want: pa.Table) -> list[str]:
    if sorted(got.schema.names) != sorted(want.schema.names):
        return [f"{name}: columns {sorted(got.schema.names)} != {sorted(want.schema.names)}"]
    gt, wt = cc.arrow_types(got), cc.arrow_types(want)
    tdiff = {c: (gt[c], wt[c]) for c in gt if gt[c] != wt[c]}
    if tdiff:
        return [f"{name}: arrow type mismatch (spark, oracle): {tdiff}"]
    a = cc.canon(rows(got), got.schema.names)
    b = cc.canon(rows(want), want.schema.names)
    if len(a) != len(b):
        return [f"{name}: rowcount {len(a)} != {len(b)}"]
    if a != b:
        bad = [(x, y) for x, y in zip(a, b) if x != y][:2]
        return [f"{name}: value mismatch, first diffs: {bad}"]
    return []


def check_registry(root: str, data_dir: str, outputs, oracles: dict[str, str]) -> list[str]:
    """One message per wrong output in ``outputs`` = (name, Spark Arrow
    table) pairs; each oracle runs once."""
    cc = tool(root, "check_correctness")
    con = duck(cc, data_dir)
    want: dict[str, pa.Table] = {}
    fails = []
    for name, got in outputs:
        if name not in want:
            want[name] = con.execute(oracles[name]).arrow()
        fails += compare(cc, name, got, want[name])
    return fails


LAKE_CHECKS = 4


def check_lake(spark, lake) -> list[str]:
    """The ``LAKE_CHECKS`` end-state checks of a finished
    ``workloads.LakeIngest``: lake rows per date, the hourly rollup, one
    verdict per arriving doc, planted exact copies verdicted duplicate."""
    import duckdb
    from pyspark.sql import functions as F

    from etl_schema_spark import sinks

    fails = []
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW staged AS SELECT *, CAST(ts AS DATE) AS date FROM "
        f"read_parquet('{lake.staged}/*.parquet', union_by_name=true)"
    )
    want = dict(con.execute("SELECT CAST(date AS VARCHAR), COUNT(*) FROM staged GROUP BY 1").fetchall())
    got = {str(r["date"]): r["count"] for r in
           sinks.read_evolved(spark, lake.lake).groupBy("date").count().collect()}
    if got != want:
        fails.append(f"lake rows per date {got} != {want}")
    want = sorted(con.execute(
        "SELECT CAST(date AS VARCHAR), hour(ts), event_type, COUNT(*), ROUND(SUM(value), 6) "
        "FROM staged GROUP BY ALL").fetchall())
    got = sorted(
        (str(r[0]), r[1], r[2], r[3], round(r[4], 6)) for r in
        spark.read.parquet(lake.rollup)
        .select("date", "hour", "event_type", "n", "total_value").collect()
    )
    if got != want:
        fails.append(f"hourly rollup: {len(got)} rows != {len(want)} rows or values differ")
    verdicts = [(r.doc_id, r.verdict) for r in
                spark.read.parquet(os.path.join(lake.target, "out"))
                .select(F.col("doc_id").cast("long"), "verdict").collect()]
    arrived = [i for t in lake.docs for i in t["doc_id"].to_pylist()]
    per_doc: dict[int, list[str]] = {}
    for d, v in verdicts:
        per_doc.setdefault(d, []).append(v)
    if sorted(per_doc) != sorted(arrived) or any(len(v) != 1 for v in per_doc.values()):
        fails.append(f"{len(arrived)} arriving docs but {len(verdicts)} verdicts "
                     f"for {len(per_doc)} docs")
    missed = [d for d, src in lake.copies.items()
              if per_doc.get(d) != ["duplicate"]
              and (src < gen.ARRIVING_ID0 or per_doc.get(src) == ["admitted"])]
    if missed:
        fails.append(f"{len(missed)} planted exact copies not verdicted duplicate: {missed[:5]}")
    return fails

