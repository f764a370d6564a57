"""Seeded inputs for the batch workloads: a deterministic transform of the
engine's sf0.1 test tables.

``data/`` beside this file holds the base tables, one parquet file each,
taken from the engine's sf0.1 test data by ``make_base``
(``python3 perfbench/datagen.py --src <sf0.1 directory>``): one in four
customers with their orders and line items, one in four ``events`` users
with their whole history, every row of the other tables. ``generate`` turns them into one seed's inputs with pure column
arithmetic in the style of ``tools/make_sfn.py``:

- ids shift by a per-seed offset, foreign keys with their primary keys
  (orders -> lineitem, customer -> orders, part/supplier -> lineitem), by
  a multiple of 63 so every ``id % 3``, ``% 7`` and ``% 9`` the queries
  and operations branch on selects as many rows for every seed;
- ``events.ts`` shifts by a whole number of days; the TPC-H dates stay,
  since the relational queries filter them against fixed literals;
- each table's rows rotate by a seeded count before they are split into a
  fixed number of files, so the files differ per seed and their number
  does not.

Text, vectors, values and row counts are the base tables' own for every
seed, so each seed asks the engine for the same work on different bytes.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
#: parquet files per table in a seed's inputs; large tables are split so
#: their scans have several tasks
FILES = {"lineitem": 4, "orders": 2, "events": 4}
#: id offsets are multiples of this (63 = 7 * 9, so also of 3)
ID_STEP = 63 * 160
#: id columns -> the key space they shift with
ID_COLS = {
    "customer": {"c_custkey": "cust"},
    "supplier": {"s_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "order", "l_partkey": "part", "l_suppkey": "supp"},
    "events": {"event_id": "event", "user_id": "user"},
    # doc and vector ids stay below the 1M stride of the corpus augmentation
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec"},
}
US_PER_DAY = 86_400 * 1_000_000


def _offsets(seed: int) -> dict[str, int]:
    rng = np.random.default_rng(seed)
    spaces = ["cust", "supp", "part", "order", "event", "user", "doc", "vec"]
    return {s: int(rng.integers(0, 48)) * ID_STEP for s in spaces} | {
        "days": int(rng.integers(0, 365)),
        "rotate": int(rng.integers(0, 2**31)),
    }


def _transform(name: str, t: pa.Table, off: dict[str, int]) -> pa.Table:
    for col, space in ID_COLS.get(name, {}).items():
        i = t.schema.get_field_index(col)
        c = t.column(i)
        t = t.set_column(i, col, pc.add(c, pa.scalar(off[space], c.type)))
    if name == "events":
        i = t.schema.get_field_index("ts")
        ts = t.column(i)
        shifted = pc.add(pc.cast(ts, pa.int64()), off["days"] * US_PER_DAY)
        t = t.set_column(i, "ts", pc.cast(shifted, ts.type))
    if t.num_rows > 1:
        k = off["rotate"] % t.num_rows
        t = pa.concat_tables([t.slice(k), t.slice(0, k)])
    return t


def _stamp(seed: int) -> str:
    """What a seed's inputs are made from: the seed, this file's source and
    the base tables' bytes; a change to any of them regenerates."""
    h = hashlib.sha1(open(__file__, "rb").read())
    for name in TABLES:
        h.update(open(os.path.join(BASE_DIR, f"{name}.parquet"), "rb").read())
    return f"seed={seed} source={h.hexdigest()}\n"


def generate(data_dir: str, seed: int) -> str:
    """Write the tables for ``seed`` under ``data_dir`` once; reuse them
    when a complete earlier write from the same seed and sources is there."""
    marker = os.path.join(data_dir, "_COMPLETE")
    stamp = _stamp(seed)
    if os.path.exists(marker) and open(marker).read() == stamp:
        return data_dir
    shutil.rmtree(data_dir, ignore_errors=True)
    off = _offsets(seed)
    for name in TABLES:
        table = _transform(name, pq.read_table(os.path.join(BASE_DIR, f"{name}.parquet")), off)
        tdir = os.path.join(data_dir, f"{name}.parquet")
        os.makedirs(tdir)
        k = FILES.get(name, 1)
        step = -(-table.num_rows // k)
        for i in range(k):
            pq.write_table(
                table.slice(i * step, step), os.path.join(tdir, f"part-{i:05d}.parquet")
            )
    with open(marker, "w") as f:
        f.write(stamp)
    return data_dir


def make_base(src: str, fraction: int) -> None:
    """Write the base tables from an sf0.1 directory of the engine's test
    data, keeping one in ``fraction`` of the orders (by customer, with
    their line items), customers and events (by user, so every kept user
    keeps its whole history). Dimension tables, documents and embeddings
    are kept whole."""
    os.makedirs(BASE_DIR, exist_ok=True)
    out: dict[str, pa.Table] = {}
    for name in TABLES:
        out[name] = pq.read_table(os.path.join(src, f"{name}.parquet")).replace_schema_metadata(None)

    def every(col) -> pa.Array:
        return pa.array(col.to_numpy() % fraction == 0)

    out["customer"] = out["customer"].filter(every(out["customer"]["c_custkey"]))
    out["orders"] = out["orders"].filter(every(out["orders"]["o_custkey"]))
    out["lineitem"] = out["lineitem"].filter(
        pc.is_in(out["lineitem"]["l_orderkey"], value_set=out["orders"]["o_orderkey"])
    )
    out["events"] = out["events"].filter(every(out["events"]["user_id"]))
    for name, t in out.items():
        pq.write_table(t, os.path.join(BASE_DIR, f"{name}.parquet"), compression="zstd")


def main() -> None:
    p = argparse.ArgumentParser(description="Write perfbench's base tables from sf0.1 test data.")
    p.add_argument("--src", required=True, help="directory of the engine's sf0.1 test tables")
    p.add_argument("--fraction", type=int, default=4, help="keep one in this many customers and users")
    args = p.parse_args()
    make_base(args.src, args.fraction)


if __name__ == "__main__":
    main()
