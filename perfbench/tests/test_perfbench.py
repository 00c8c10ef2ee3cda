"""Self-tests for the benchmark's own code, on generated sf0.001 inputs.

Run from the root of a checkout:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import run  # noqa: E402
import verify  # noqa: E402
import workloads  # noqa: E402
from probe import Tracer, union_length  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_schema_is_pinned():
    s = spec()
    assert set(s) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert s["command"] == ["python3", "perfbench/run.py"]
    assert s["paths"] == ["perfbench"]
    assert isinstance(s["run_seconds"], int) and 1 <= s["run_seconds"] <= 60
    assert [w["name"] for w in s["workloads"]] == ["llm_curation", "lake_ingest"]
    for w in s["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    names = [m["name"] for m in s["end_to_end"] + s["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for m in s["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25 and UNIT.match(m["unit"])
    for m in s["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.match(m["unit"])
    setup = next(m for m in s["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in s["end_to_end"])
    assert len(json.dumps(s)) <= 64 * 1024


def test_metric_names_and_units_match_the_runner():
    s = spec()
    assert {m["name"]: m["unit"] for m in s["end_to_end"]} == run.END_TO_END
    declared = {m["name"]: m["unit"] for m in s["per_layer"]}
    produced = {m: run.layer_unit(m) for m in run.per_layer_names()}
    assert declared == produced


def test_tail_percentile_rule():
    xs = [float(i) for i in range(1, 101)]
    value, pct, beyond = run.tail(xs)
    assert (value, pct, beyond) == (90.0, 90.0, 10)
    assert run.tail([1.0, 2.0, 3.0]) == (3.0, 100.0, 0)


def test_self_times_count_overlaps_once_and_carve_codegen():
    t = Tracer()
    op = t.open("op")
    op.start = 0.0
    sink = t.open("sink")
    sink.start = 1.0
    t.add("exec", 2.0, 5.0, sink)
    t.add("exec", 3.0, 6.0, sink)  # overlaps the first job
    t.close(sink)
    sink.end, sink.attrs["codegen_ms"] = 8.0, 1000.0
    t.close(op)
    op.end, op.attrs["codegen_ms"] = 10.0, 1000.0
    st = t.self_times()
    assert st["exec"] == pytest.approx(4.0 - 1.0)  # compile time moves to codegen
    assert st["sink"] == pytest.approx(7.0 - 4.0)
    assert st["codegen"] == pytest.approx(1.0)
    assert st["op"] == pytest.approx(3.0)
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4


def test_lake_batches_are_seeded():
    import pyarrow as pa

    corpus = pa.table({"doc_id": [0, 1, 2, 19], "text": ["a b c d", "b c d e", "c d e f", "x y z w"]})
    a, copies_a = workloads.gen.doc_batch(7, 1, 0, 30, corpus, [])
    b, copies_b = workloads.gen.doc_batch(7, 1, 0, 30, corpus, [])
    assert a.equals(b) and copies_a == copies_b
    assert all(src % 10 != 9 for src in copies_a.values())  # only indexed docs are copied
    e = workloads.gen.event_batch(7, 2, 1, 200, 30, add_column=True)
    assert workloads.gen.EXTRA_COLUMN in e.schema.names


@pytest.fixture(scope="module")
def env(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    run.pin_environment(work)
    data = os.path.join(work, "data")
    os.makedirs(data)
    workloads.gen.write_star(data, 3, 0.001)
    from etl_schema_spark.session import get_spark

    conf = dict(run.spark_conf(work), **{"spark.sql.shuffle.partitions": "8"})
    spark = get_spark("perfbench-tests", master="local[2]", extra_conf=conf)
    yield spark, data, work


def test_traced_op_layers_sum_to_wall_time(env):
    """construct + plan + exec of a traced operation account for its wall
    time within 10% (codegen compiles inside the execution windows)."""
    from probe import Accounting

    spark, data, work = env
    acct = Accounting(spark)
    acct.listen(True)
    reg = workloads.Registry(["q3_shipping_priority"])
    ctx = workloads.Ctx(spark, data, work, 0, acct)
    reg.setup(ctx)
    (name, body), = reg.ops(ctx, 0)
    workloads.run_op(ctx, name, body)  # compile once; measure the warm call
    ctx.tracer = Tracer(lambda: acct.codegen()[1])
    wall = workloads.run_op(ctx, name, body)
    acct.listen(False)
    spans = ctx.tracer.spans
    (op,) = [s for s in spans if s.name == "op"]
    construct = sum(s.end - s.start for s in spans if s.name == "construct")
    sink = next(s for s in spans if s.name == "sink")
    under_sink = [s for s in spans if s.parent == sink.id]
    plan = sum(s.end - s.start for s in under_sink if s.name.startswith("plan."))
    exec_s = union_length([(s.start, s.end) for s in under_sink if s.name == "exec"])
    traced_wall = op.end - op.start
    assert wall >= traced_wall  # the returned time also pays the attribution
    assert construct + plan + exec_s == pytest.approx(traced_wall, rel=0.10)


def test_planted_wrong_oracle_row_counts_as_error(env):
    spark, data, work = env
    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    reg = workloads.Registry(["q3_shipping_priority", "sessionized_events"])
    ctx = workloads.Ctx(spark, data, work, 0)
    reg.setup(ctx)
    for name, body in reg.ops(ctx, 0):
        workloads.run_op(ctx, name, body)
    reg.end_pass()
    assert verify.check_registry(ROOT, data, reg.results(), oracles) == []
    planted = dict(oracles)
    planted["q3_shipping_priority"] = (  # every oracle row plus one repeated row
        f"WITH o AS ({oracles['q3_shipping_priority']}) "
        "SELECT * FROM o UNION ALL SELECT * FROM (SELECT * FROM o LIMIT 1)"
    )
    bad = verify.check_registry(ROOT, data, reg.results(), planted)
    assert len(bad) == 1 and bad[0].startswith("q3_shipping_priority")
    result = run.outcome(attempted=len(reg.outputs), failures=bad)
    assert result["failed"] == 1 and result["correct"] is False
    assert result["error_rate"] == 0.5
