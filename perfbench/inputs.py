"""Seeded inputs for the benchmark and the references its checks use.

* Change streams come from ``benchgen.synth_changes`` and are written as
  the change-log batch files ``ChangeLogSource`` reads.
* ``lww_reference`` is the last-writer-wins answer computed with pandas
  from the generated events, independent of the engine.
* ``write_query_tables`` synthesizes the star-schema tables the headline
  queries read (events, lineitem, orders, customer, documents,
  embeddings) with the column names and types of the repository's test
  data, so the queries and their DuckDB oracles run unchanged.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

LOG_SCHEMA = pa.schema(
    [
        ("lsn", pa.int64()), ("op", pa.string()), ("conv_id", pa.string()),
        ("turn_idx", pa.int32()), ("role", pa.string()), ("text", pa.string()),
        ("tool", pa.string()), ("ts", pa.timestamp("us")),
    ]
)


def synth_stream(n_events: int, seed: int) -> pd.DataFrame:
    """70/25/5 insert/update/delete, shuffled keys, 5 % late updates."""
    from image_report_spark.benchgen import synth_changes

    return synth_changes(n_events, seed=seed)


def write_batches(log_dir: str, events: pd.DataFrame, bounds: list[int]) -> list[str]:
    """Write ``events[bounds[i]:bounds[i+1]]`` as ``batch-{i}.parquet``
    (row groups small enough that one file splits across tasks)."""
    os.makedirs(log_dir, exist_ok=True)
    paths = []
    for b in range(len(bounds) - 1):
        part = events.iloc[bounds[b]:bounds[b + 1]]
        path = os.path.join(log_dir, f"batch-{b:05d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(part, schema=LOG_SCHEMA, preserve_index=False),
            path,
            row_group_size=32768,
        )
        paths.append(path)
    return paths


def lww_reference(events: pd.DataFrame) -> pd.DataFrame:
    """Winning event per ``(conv_id, turn_idx)``: latest ``ts``, then
    highest ``lsn`` (the engine's ordering). Deleted keys keep their
    tombstone, as the table's lineage view does."""
    ordered = events.sort_values(["ts", "lsn"], kind="stable")
    win = ordered.drop_duplicates(["conv_id", "turn_idx"], keep="last")
    return win[["conv_id", "turn_idx", "lsn", "op", "ts"]].reset_index(drop=True)


def lineage_set(df: pd.DataFrame, lsn_col: str) -> set[tuple[str, int, int]]:
    return set(
        zip(df["conv_id"].tolist(), df["turn_idx"].astype(int).tolist(),
            df[lsn_col].astype(int).tolist())
    )


# --------------------------------------------------------------- query tables

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]


def _ts(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + offsets_us.astype(np.int64), pa.timestamp("us"))


def _days(base: str, days: np.ndarray) -> pa.Array:
    return _ts(base, days.astype(np.int64) * 86_400_000_000)


def write_query_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the headline queries' input tables; ``scale`` = 1.0 is
    600 k lineitem rows (the sf0.1 shape). Prices are whole cents and
    extended prices whole dollars, so the rounded sums the queries report
    never sit on a rounding boundary that summation order could flip."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, int(15_000 * scale))
    n_orders = max(200, int(150_000 * scale))
    n_line = max(800, int(600_000 * scale))
    n_events = max(400, int(100_000 * scale))
    n_users = max(20, int(1_500 * scale))
    n_docs = max(100, int(5_000 * scale))
    n_emb = max(100, int(2_000 * scale))
    rows = {}

    def put(name: str, table: pa.Table) -> None:
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows

    put("customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(rng.integers(-99_999, 999_999, n_cust) / 100.0),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust)),
    }))
    put("orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders)),
        "o_totalprice": pa.array(rng.integers(100_000, 50_000_000, n_orders) / 100.0),
        "o_orderdate": _days("1995-01-01", rng.integers(0, 2400, n_orders)),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders)),
    }))
    qty = rng.integers(1, 51, n_line)
    put("lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, max(10, n_line // 300), n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(qty.astype(np.float64)),
        "l_extendedprice": pa.array((qty * rng.integers(900, 2100, n_line)).astype(np.float64)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": _days("1995-01-01", rng.integers(0, 2500, n_line)),
    }))
    # distinct event times (microsecond offsets drawn without collisions)
    ev_ts = np.sort(rng.choice(30 * 86_400_000_000, n_events, replace=False))
    put("events", pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts("2024-01-01", ev_ts),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n_events)),
        "value": pa.array(rng.integers(1, 50_000, n_events) / 100.0),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    }))
    # documents: random word sequences; one in 20 is a near-copy of an
    # earlier document with one word appended (the near-dup queries' hits)
    lengths = rng.integers(8, 80, n_docs)
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, lengths[i])))
    put("documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n_docs)),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))
    centers = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, n_emb)
    vec = centers[label] + rng.normal(0, 0.6, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }))
    return rows
