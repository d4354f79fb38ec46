"""Seeded benchmark inputs, written as parquet files the engine reads.

Two input families, both a pure function of the seed:

- an op log and its transaction side-table, from the package's fixture
  generator (the same rows the replay oracle consumes), laid out as
  block-range files;
- the star schema the canonical queries read (events, orders, customer,
  lineitem, embeddings, documents) at sf0.1 row counts, with the column
  types of the repository's fixtures (FIXTURES.md).

pyarrow writes the files, so no Spark work happens before the session is
timed and the engine sees only files.
"""

from __future__ import annotations

import datetime
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Blocks per op-log file: a block-range layout like an exported HAF log,
#: several files per sync chunk, row groups small enough to prune.
BLOCKS_PER_FILE = 2500
ROW_GROUP_ROWS = 2048


@dataclass
class OpLog:
    ops: list[dict]
    trx: list[dict]
    ops_path: str
    trx_path: str
    first_block: int
    last_block: int


def write_oplog(root: str, n_ops: int, seed: int) -> OpLog:
    from haf_plug_play_spark import fixtures

    ops, trx = fixtures.generate(n_ops, seed)
    ops_path, trx_path = os.path.join(root, "ops"), os.path.join(root, "trx")
    _write_block_files(
        ops_path,
        ops,
        {
            "id": pa.int64(),
            "block_num": pa.int32(),
            "trx_in_block": pa.int32(),
            "timestamp": pa.timestamp("us", tz="UTC"),
            "op_type_id": pa.int16(),
            "body": pa.string(),
        },
    )
    _write_block_files(
        trx_path,
        trx,
        {"block_num": pa.int32(), "trx_in_block": pa.int32(), "trx_hash": pa.binary()},
    )
    return OpLog(ops, trx, ops_path, trx_path, ops[0]["block_num"], ops[-1]["block_num"])


def _write_block_files(path: str, rows: list[dict], schema: dict) -> None:
    os.makedirs(path)
    by_file: dict[int, list[dict]] = {}
    for r in rows:
        by_file.setdefault(r["block_num"] // BLOCKS_PER_FILE, []).append(r)
    for key, part in sorted(by_file.items()):
        table = pa.table(
            {c: pa.array([r[c] for r in part], t) for c, t in schema.items()}
        )
        pq.write_table(
            table,
            os.path.join(path, f"part-{key:05d}.parquet"),
            row_group_size=ROW_GROUP_ROWS,
        )


# ------------------------------------------------------------- star schema

SF01_ROWS = {
    "events": 100_000,
    "customer": 15_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "embeddings": 2_000,
    "documents": 5_000,
}
_WORDS = (
    "a batch part spark line column order small sort fast value scan hash "
    "slow group agg filter big key window row table stream merge data query"
).split()
_EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])


def _ts_us(dt: datetime.datetime) -> int:
    return int(dt.replace(tzinfo=datetime.timezone.utc).timestamp()) * 1_000_000


def write_star_schema(root: str, seed: int, scale: float = 1.0) -> str:
    """Write the canonical queries' tables under ``root`` and return it;
    ``scale`` shrinks every table's row count."""
    rng = np.random.default_rng(seed)
    os.makedirs(root)
    n = {k: max(100, int(v * scale)) for k, v in SF01_ROWS.items()}
    day_us = 86_400 * 1_000_000

    t0 = _ts_us(datetime.datetime(2024, 1, 1))
    ev_ts = np.sort(rng.integers(0, 30 * day_us, n["events"])) + t0
    events = {
        "event_id": pa.array(np.arange(n["events"], dtype=np.int64)),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n["events"], dtype=np.int64)),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n["events"])),
        "value": pa.array(np.round(rng.exponential(60.0, n["events"]), 2)),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])]
        ),
    }

    customer = {
        "c_custkey": pa.array(np.arange(n["customer"], dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"], dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2)),
        "c_mktsegment": pa.array(
            rng.choice(
                np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]),
                n["customer"],
            )
        ),
    }

    # Every third customer never orders, as in TPC-H, so the semi and anti
    # joins both have work to do.
    buyers = np.arange(n["customer"], dtype=np.int64)
    buyers = buyers[buyers % 3 != 0]
    d0 = _ts_us(datetime.datetime(1995, 1, 1))
    o_date = d0 + rng.integers(0, 2404, n["orders"]) * day_us
    orders = {
        "o_orderkey": pa.array(np.arange(n["orders"], dtype=np.int64)),
        "o_custkey": pa.array(rng.choice(buyers, n["orders"])),
        "o_orderstatus": pa.array(rng.choice(np.array(["O", "F", "P"]), n["orders"])),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n["orders"]), 2)),
        "o_orderdate": pa.array(o_date, pa.timestamp("us")),
        "o_orderpriority": pa.array(
            rng.choice(
                np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]),
                n["orders"],
            )
        ),
    }

    l_order = rng.integers(0, n["orders"], n["lineitem"], dtype=np.int64)
    qty = rng.integers(1, 51, n["lineitem"]).astype(np.float64)
    lineitem = {
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(rng.integers(0, 20_000, n["lineitem"], dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 1_000, n["lineitem"], dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"], dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n["lineitem"]), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n["lineitem"]) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n["lineitem"]) / 100.0),
        "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n["lineitem"])),
        "l_linestatus": pa.array(rng.choice(np.array(["O", "F"]), n["lineitem"])),
        # ships 1-121 days after its order, so the 90-day theta join keeps
        # about three quarters of the pairs
        "l_shipdate": pa.array(
            o_date[l_order] + rng.integers(1, 122, n["lineitem"]) * day_us,
            pa.timestamp("us"),
        ),
    }

    dim = 64
    values = pa.array(rng.standard_normal(n["embeddings"] * dim).astype(np.float32))
    offsets = pa.array(np.arange(0, (n["embeddings"] + 1) * dim, dim, dtype=np.int32))
    embeddings = {
        "vec_id": pa.array(np.arange(n["embeddings"], dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, values),
        "label": pa.array(rng.integers(0, 10, n["embeddings"], dtype=np.int32)),
    }

    lengths = rng.integers(10, 101, n["documents"])
    words = rng.integers(0, len(_WORDS), int(lengths.sum()))
    texts, at = [], 0
    for ln in lengths:
        texts.append(" ".join(_WORDS[w] for w in words[at:at + ln]))
        at += ln
    documents = {
        "doc_id": pa.array(np.arange(n["documents"], dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(
            rng.choice(np.array(["en", "zh", "es", "fr", "de"]), n["documents"],
                       p=[0.4, 0.15, 0.15, 0.15, 0.15])
        ),
        "source": pa.array([f"src{i % 20}" for i in range(n["documents"])]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }

    for name, cols in (
        ("events", events),
        ("customer", customer),
        ("orders", orders),
        ("lineitem", lineitem),
        ("embeddings", embeddings),
        ("documents", documents),
    ):
        pq.write_table(pa.table(cols), os.path.join(root, f"{name}.parquet"))
    return root
