"""Seeded input generator for the benchmark.

Writes a TPC-H-like star schema plus the `events`, `documents` and
`embeddings` tables with the column names and types the package's
queries read (see FIXTURES.md §2), so the benchmark needs no data from
outside its checkout. `scale=1.0` matches the row counts of the sf0.01
fixture set (lineitem 60k rows); row counts grow linearly with `scale`.

The same (seed, scale) always gives byte-identical tables.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order vector "
    "line table data agg value key stream window a spark part group big sort query "
    "fast the"
).split()
_EPOCH = dt.datetime(1970, 1, 1)


def _days(rng, n, lo: dt.datetime, span_days: int):
    base = (lo - _EPOCH).days
    d = base + rng.integers(0, span_days, n)
    return pa.array(d.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int, scale: float) -> dict:
    """Build every table in memory; returns {name: pyarrow.Table}."""
    rng = np.random.default_rng(seed)
    n_cust = max(20, int(1500 * scale))
    n_supp = max(10, int(100 * scale))
    n_part = max(20, int(2000 * scale))
    n_ord = max(100, int(15000 * scale))
    n_line = 4 * n_ord
    n_ev = max(200, int(10000 * scale))
    n_doc = max(100, int(500 * scale ** 0.5))
    n_emb = max(100, int(500 * scale ** 0.5))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    adj = ["small", "red", "blue", "hot", "old", "large", "new", "green"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000, 500000),
        "o_orderdate": _days(rng, n_ord, dt.datetime(1995, 1, 1), 2400),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, n_line, 900, 105000),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, dt.datetime(1995, 1, 2), 2500),
    })
    ev_base = int((dt.datetime(2024, 1, 1) - _EPOCH).total_seconds() * 1_000_000)
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)) + ev_base
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(10, n_cust // 10), n_ev).astype("int64"),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_doc):
        if i > 5 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(words) + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "de", "es", "fr", "zh"], n_doc),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype="int64"),
    })
    centers = rng.standard_normal((10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_emb)
    x = 0.15 * centers[labels] + rng.standard_normal((n_emb, 64)) / 8.0
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": labels.astype("int32"),
    })
    return t


def write_tables(out_dir: str, seed: int, scale: float) -> dict:
    """Write every table as `<out_dir>/<name>.parquet` unless a complete
    set for this (seed, scale) is already there; returns
    {name: (rows, bytes)}."""
    marker = os.path.join(out_dir, "_COMPLETE")
    if not os.path.exists(marker):
        os.makedirs(out_dir, exist_ok=True)
        for name, table in make_tables(seed, scale).items():
            pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        open(marker, "w").close()
    return {
        name: (pq.ParquetFile(p).metadata.num_rows, os.path.getsize(p))
        for name in TABLES
        for p in [os.path.join(out_dir, f"{name}.parquet")]
    }


# ---------------------------------------------------------------------------
# lake_cdc: change batches against the `orders` table
# ---------------------------------------------------------------------------

def lake_base(orders: pa.Table) -> pa.Table:
    """`orders` with `o_orderdate` as a DATE, plus an exact integer-cents
    column for the view's sums.

    DATE rather than TIMESTAMP: AcidTable's driver-side bin-pack
    rewrites Spark's INT96 timestamps as INT64 nanoseconds, which Spark
    then refuses to read back into the table's timestamp column."""
    cents = np.round(orders["o_totalprice"].to_numpy() * 100).astype("int64")
    i = orders.schema.get_field_index("o_orderdate")
    orders = orders.set_column(i, "o_orderdate", orders["o_orderdate"].cast(pa.date32()))
    return orders.append_column("o_total_cents", pa.array(cents))


def cdc_new_keys(i: int, rows: int) -> int:
    """New keys in batch `i`. Batches 1 and 2 of every 4 are
    insert-only bursts, each landing as a small file that compaction
    after batch 2 packs; the others are 80% updates."""
    return rows if i % 4 in (1, 2) else rows // 5


def cdc_next_key(n_base: int, i: int, rows: int) -> int:
    """First key no batch before `i` has used."""
    return n_base + sum(cdc_new_keys(j, rows) for j in range(i))


def cdc_batch(seed: int, i: int, n_base: int, n_cust: int, rows: int) -> pa.Table:
    """Batch `i` of the change stream: one row per key; the updates are
    skewed toward the most recent keys."""
    rng = np.random.default_rng([seed, 1, i])
    n_new = cdc_new_keys(i, rows)
    hi = cdc_next_key(n_base, i, rows)
    recent = hi - 1 - np.floor(rng.exponential(max(1.0, hi * 0.05), rows * 2)).astype("int64")
    upd = np.unique(np.clip(recent, 0, hi - 1))[: rows - n_new]
    keys = np.concatenate([upd, np.arange(hi, hi + n_new, dtype="int64")])
    n = len(keys)
    price = _money(rng, n, 1000, 500000)
    return pa.table({
        "o_orderkey": keys,
        "o_custkey": rng.integers(0, n_cust, n).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": price,
        "o_orderdate": _days(rng, n, dt.datetime(1995, 1, 1), 2400).cast(pa.date32()),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n),
        "o_total_cents": np.round(price * 100).astype("int64"),
    })


def cdc_delete_range(seed: int, i: int, n_base: int, width: int) -> tuple:
    """Inclusive key range removed after batch `i` (old keys only)."""
    rng = np.random.default_rng([seed, 2, i])
    lo = int(rng.integers(0, max(1, int(n_base * 0.8))))
    return lo, lo + width - 1


def lookup_keys(seed: int, i: int, hi: int, k: int = 5) -> list:
    rng = np.random.default_rng([seed, 3, i])
    return sorted({int(x) for x in rng.integers(0, hi, k)})


# ---------------------------------------------------------------------------
# etl_pipelines: seeded pipeline configs, each with its DuckDB twin
# ---------------------------------------------------------------------------

STRATEGIES = ("insert", "append", "replace", "upsert")
PIPELINE_CYCLE = 4 * len(STRATEGIES)  # every (template, strategy) pair once


def orders_by_priority(df, year: int):
    """Code-transform body: a plan-composing ``DataFrame -> DataFrame``."""
    from pyspark.sql import functions as F

    return (
        df.filter(F.year("o_orderdate") == year)
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.max("o_totalprice").alias("max_price"))
    )


def _date(rng, lo_year: int, span_days: int) -> str:
    d = dt.date(lo_year, 1, 1) + dt.timedelta(days=int(rng.integers(0, span_days)))
    return d.isoformat()


def pipeline_config(seed: int, i: int, data_dir: str) -> tuple:
    """(runner config, DuckDB SQL computing the same rows, upsert keys).

    Four templates cover both ingest forms (file path, SQL over views)
    and the three transform engines; two target tables per template,
    so appends and upserts replay onto earlier writes. Each cycle of
    PIPELINE_CYCLE configs holds every (template, strategy) pair once,
    in a seeded order, so every seed runs the same mix."""
    cycle, pos = divmod(i, PIPELINE_CYCLE)
    pair = int(np.random.default_rng([seed, 4, cycle]).permutation(PIPELINE_CYCLE)[pos])
    t, strategy = pair // len(STRATEGIES), STRATEGIES[pair % len(STRATEGIES)]
    rng = np.random.default_rng([seed, 4, cycle, pos])
    table = f"t{t}_{int(rng.integers(0, 2))}"
    pq_path = lambda name: os.path.join(data_dir, f"{name}.parquet")  # noqa: E731
    if t == 0:
        d0 = _date(rng, 1995, 2000)
        d1 = (dt.date.fromisoformat(d0) + dt.timedelta(days=int(rng.integers(60, 400)))).isoformat()
        body = ("SELECT l_suppkey, COUNT(*) AS n, SUM(l_quantity) AS qty, "
                "SUM(l_extendedprice * (1 - l_discount)) AS revenue FROM {src} "
                f"WHERE l_shipdate >= TIMESTAMP '{d0}' AND l_shipdate < TIMESTAMP '{d1}' "
                "GROUP BY l_suppkey")
        ingestion = {"path": pq_path("lineitem")}
        transformation = {"type": "sql", "query": body.format(src="input_data")}
        oracle = body.format(src=f"read_parquet('{pq_path('lineitem')}')")
        keys = ["l_suppkey"]
    elif t == 1:
        d0 = _date(rng, 1995, 1800)
        floor = float(rng.integers(0, 200) * 1000)
        join = ("SELECT o.o_orderkey, o.o_totalprice, o.o_orderdate, c.c_mktsegment "
                "FROM {o} o JOIN {c} c ON o.o_custkey = c.c_custkey "
                f"WHERE o.o_orderdate >= TIMESTAMP '{d0}'")
        ingestion = {"query": join.format(o="orders", c="customer")}
        transformation = {"type": "config", "config": {
            "filter": {"o_totalprice": {">=": floor}},
            "add_columns": {"price_band": "CAST(FLOOR(o_totalprice / 50000) AS INT)"},
            "aggregations": {"group_by": ["c_mktsegment", "price_band"], "aggregations": {
                "n": "count(*)", "s": "sum(o_totalprice)", "m": "max(o_totalprice)"}},
        }}
        src = join.format(o=f"read_parquet('{pq_path('orders')}')",
                          c=f"read_parquet('{pq_path('customer')}')")
        oracle = ("SELECT c_mktsegment, CAST(FLOOR(o_totalprice / 50000) AS INT) AS price_band, "
                  "COUNT(*) AS count, SUM(o_totalprice) AS o_totalprice_sum, "
                  f"MAX(o_totalprice) AS o_totalprice_max FROM ({src}) "
                  f"WHERE o_totalprice >= {floor} GROUP BY 1, 2")
        keys = ["c_mktsegment", "price_band"]
    elif t == 2:
        year = int(rng.integers(1995, 2001))
        ingestion = {"path": pq_path("orders")}
        transformation = {"type": "code", "function": orders_by_priority,
                          "kwargs": {"year": year}}
        oracle = ("SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n, "
                  f"MAX(o_totalprice) AS max_price FROM read_parquet('{pq_path('orders')}') "
                  f"WHERE year(o_orderdate) = {year} GROUP BY 1, 2")
        keys = ["o_orderpriority", "o_orderstatus"]
    else:
        day = int(rng.integers(0, 27))
        d0 = (dt.date(2024, 1, 1) + dt.timedelta(days=day)).isoformat()
        d1 = (dt.date(2024, 1, 1) + dt.timedelta(days=day + int(rng.integers(1, 4)))).isoformat()
        sel = ("SELECT user_id, event_type, value FROM {e} "
               f"WHERE ts >= TIMESTAMP '{d0}' AND ts < TIMESTAMP '{d1}'")
        body = ("SELECT user_id, event_type, COUNT(*) AS n, SUM(value) AS total "
                "FROM {src} GROUP BY user_id, event_type")
        ingestion = {"query": sel.format(e="events")}
        transformation = {"type": "sql", "query": body.format(src="input_data")}
        oracle = body.format(src="(" + sel.format(e=f"read_parquet('{pq_path('events')}')") + ")")
        keys = ["user_id", "event_type"]
    persistence = {"table": table, "strategy": strategy}
    if strategy == "upsert":
        persistence["upsert_keys"] = keys
    config = {"ingestion": ingestion, "transformation": transformation,
              "persistence": persistence}
    return config, oracle, keys
