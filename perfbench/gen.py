"""Seeded inputs for the benchmark.

``write_star(dir, seed, sf)`` writes the ten tables the registry reads
(TPC-H-style star schema, ``events``, ``documents``, ``embeddings``) as one
parquet file each, with the schemas and value distributions of the
repository's reference testdata: uniform keys and categories, a 30-word
document vocabulary with 5% planted near-copies (``<text> dup``), unit-norm
64-d embeddings. The same ``(seed, sf)`` always gives the same bytes.

``doc_batch`` and ``event_batch`` make the arriving batches of the
``lake_ingest`` workload; they only read the generated corpus and the
arguments, so a batch is a pure function of ``(seed, pass, index)``.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from etl_schema_spark.operators.dedup import NEW_BATCH_MOD  # front door indexes doc_id % 10 != 9

VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch"
).split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
P_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
ADJ = "blue cold hot red small new old large".split()
NOUN = "ring plate gear rod bolt anvil widget gizmo".split()
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENTS_T0 = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_DAYS = 30
N_DOCS = 500
N_VECS = 500
DIM = 64
TS = pa.timestamp("us")


def _days(rng, n, lo: str, hi: str) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return (a + rng.integers(0, (b - a).astype(int) + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in range(n)]


def _text(rng, n_words: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def _write(out_dir: str, name: str, cols: dict, schema: pa.Schema) -> None:
    pq.write_table(pa.table(cols, schema=schema), f"{out_dir}/{name}.parquet")


def documents(rng, n: int, dup_share: float = 0.05) -> pa.Table:
    texts = [_text(rng, int(k)) for k in rng.integers(10, 101, n)]
    # planted near-copies: a later doc repeats an earlier one plus " dup"
    for t in rng.choice(np.arange(1, n), int(n * dup_share), replace=False):
        texts[t] = texts[int(rng.integers(0, t))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return doc_table(ids, texts, rng.choice(LANGS, n, p=LANG_P), [f"src{i % 20}" for i in ids])


DOC_SCHEMA = pa.schema(
    [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
     ("source", pa.string()), ("n_chars", pa.int64())]
)


def doc_table(ids, texts, langs, sources) -> pa.Table:
    return pa.table(
        {"doc_id": ids, "text": texts, "lang": langs, "source": sources,
         "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
        schema=DOC_SCHEMA,
    )


def write_star(out_dir: str, seed: int, sf: float) -> None:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_evt = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    _write(out_dir, "region",
           {"r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
           pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(out_dir, "nation",
           {"n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype=np.int32) % 5},
           pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))
    _write(out_dir, "customer",
           {"c_custkey": np.arange(n_cust, dtype=np.int64), "c_name": _names("Customer", n_cust),
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust)},
           pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                      ("c_acctbal", f64), ("c_mktsegment", s)]))
    _write(out_dir, "supplier",
           {"s_suppkey": np.arange(n_supp, dtype=np.int64), "s_name": _names("Supplier", n_supp),
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)},
           pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)]))
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part",
           {"p_partkey": pk,
            "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(P_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": np.round(900 + (pk % 1000) / 10, 1)},
           pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                      ("p_size", i32), ("p_retailprice", f64)]))
    _write(out_dir, "orders",
           {"o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_ord),
            "o_totalprice": _money(rng, n_ord, 1000, 500_000),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord)},
           pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                      ("o_totalprice", f64), ("o_orderdate", TS), ("o_orderpriority", s)]))
    _write(out_dir, "lineitem",
           {"l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900, 105_000),
            "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_line),
            "l_linestatus": rng.choice(np.array(["F", "O"]), n_line),
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")},
           pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                      ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
                      ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
                      ("l_linestatus", s), ("l_shipdate", TS)]))
    pq.write_table(events(rng, 0, n_evt, max(1, int(15_000 * sf)), 0.0, EVENT_DAYS),
                   f"{out_dir}/events.parquet")
    pq.write_table(documents(rng, N_DOCS), f"{out_dir}/documents.parquet")
    vec = rng.standard_normal((N_VECS, DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(out_dir, "embeddings",
           {"vec_id": np.arange(N_VECS, dtype=np.int64), "embedding": list(vec),
            "label": rng.integers(0, 10, N_VECS, dtype=np.int32)},
           pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)]))


EVENT_SCHEMA = pa.schema(
    [("event_id", pa.int64()), ("ts", TS), ("user_id", pa.int64()),
     ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())]
)


DAY_US = 86_400_000_000


def events(rng, first_id: int, n: int, n_users: int, day0: float, days: float,
           late_share: float = 0.0) -> pa.Table:
    """``n`` time-ordered events over ``[day0, day0 + days)`` days after
    2024-01-01; a ``late_share`` of them carry a timestamp from the whole
    day before ``day0``'s day (late arrivals)."""
    off = np.sort(rng.integers(0, int(days * DAY_US), n)) + int(day0 * DAY_US)
    late = rng.random(n) < late_share
    prev_day = max(0, int(day0) - 1) * DAY_US
    off[late] = prev_day + rng.integers(0, DAY_US, int(late.sum()))
    return pa.table(
        {"event_id": np.arange(first_id, first_id + n, dtype=np.int64),
         "ts": EVENTS_T0 + off.astype("timedelta64[us]"),
         "user_id": rng.integers(0, n_users, n, dtype=np.int64),
         "event_type": rng.choice(EVENT_TYPES, n),
         "value": np.round(rng.exponential(50.0, n), 2),
         "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]},
        schema=EVENT_SCHEMA,
    )


# -- lake_ingest arriving batches ---------------------------------------

ARRIVING_ID0 = 10_000_000  # arriving doc ids never collide with the corpus
EXACT_SHARE, NEAR_SHARE = 0.2, 0.2  # the rest are fresh docs
LATE_SHARE = 0.1


def doc_batch(seed: int, pass_no: int, index: int, rows: int, corpus: pa.Table,
              earlier: list[pa.Table]) -> tuple[pa.Table, dict]:
    """One arriving document batch: exact copies and near copies (text +
    one word) of indexed corpus docs and of earlier arriving docs, plus
    fresh docs. Returns the batch and, per planted exact copy, the doc id
    it copies."""
    rng = np.random.default_rng([seed, 1, pass_no, index])
    ids = ARRIVING_ID0 + (pass_no * 100 + index) * 1000 + np.arange(rows, dtype=np.int64)
    indexed = corpus.filter(corpus["doc_id"].to_numpy() % NEW_BATCH_MOD != NEW_BATCH_MOD - 1)
    pool_ids = indexed["doc_id"].to_pylist() + [i for t in earlier for i in t["doc_id"].to_pylist()]
    pool_text = indexed["text"].to_pylist() + [x for t in earlier for x in t["text"].to_pylist()]
    kind = rng.choice(3, rows, p=[EXACT_SHARE, NEAR_SHARE, 1 - EXACT_SHARE - NEAR_SHARE])
    src = rng.integers(0, len(pool_ids), rows)
    texts, copies = [], {}
    for i, (k, j) in enumerate(zip(kind, src)):
        if k == 0:
            texts.append(pool_text[j])
            copies[int(ids[i])] = int(pool_ids[j])
        elif k == 1:
            texts.append(pool_text[j] + " " + VOCAB[int(rng.integers(0, len(VOCAB)))])
        else:
            texts.append(_text(rng, int(rng.integers(10, 101))))
    langs = rng.choice(LANGS, rows, p=LANG_P)
    return doc_table(ids, texts, langs, [f"src{i % 20}" for i in ids]), copies


EXTRA_COLUMN = "region"  # the column one event batch adds to the lake


def event_batch(seed: int, pass_no: int, index: int, rows: int, n_users: int,
                add_column: bool) -> pa.Table:
    """One arriving event batch: half of lake day ``pass_no + 1`` (2024-01-02
    onwards), with a ``LATE_SHARE`` of late events from the day before. ``add_column`` appends
    a nullable string column the lake has not seen yet."""
    rng = np.random.default_rng([seed, 2, pass_no, index])
    first = (pass_no * 100 + index) * 100_000
    t = events(rng, first, rows, n_users, float(pass_no + 1) + index / 2, 0.5, LATE_SHARE)
    if add_column:
        t = t.append_column(EXTRA_COLUMN, pa.array(rng.choice(["eu", "us", "apac"], rows)))
    return t
