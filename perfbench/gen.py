"""Seeded input generators for the benchmark.

Two input families, both written before any timing starts:

* ``write_tables`` — the ten parquet tables the query registry reads
  (``region nation customer supplier part orders lineitem events documents
  embeddings``), with the value domains, key relationships and one-row-group
  layout of the project's reference testdata, at a chosen size.
* ``write_daily`` — one day of the daily job's raw inputs in the reference
  layout: ``orders/<dd-MM-yyyy>/orders.csv``,
  ``snapshots/<dd-MM-yyyy>/snapshot.json`` (several history days, duplicate
  primary keys so last-write-wins has work to do) and an ``init.sql`` of
  master-data INSERTs.

The same seed always gives byte-identical files.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass
from datetime import date, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000


@dataclass(frozen=True)
class TableSize:
    lineitem: int
    orders: int
    part: int
    supplier: int
    customer: int
    events: int
    documents: int
    embeddings: int


def table_size(sf: float, documents: int, embeddings: int) -> TableSize:
    """Row counts of the reference testdata at scale factor ``sf``; the
    corpus tables are sized separately because their queries are
    quadratic-ish in the corpus, not linear in ``sf``."""
    return TableSize(
        lineitem=int(6_000_000 * sf),
        orders=int(1_500_000 * sf),
        part=int(200_000 * sf),
        supplier=max(10, int(10_000 * sf)),
        customer=int(150_000 * sf),
        events=int(1_000_000 * sf),
        documents=documents,
        embeddings=embeddings,
    )


def _ts_us(iso: str) -> int:
    return int(np.datetime64(iso, "us").astype("int64"))


VOCAB = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query a big key window row table stream merge data "
    "vector join index page shard"
).split()


def write_tables(out: str, seed: int, size: TableSize) -> dict[str, int]:
    """Write the ten registry tables under ``out``; returns file bytes per
    table.  Every file is a single row group, like the reference testdata."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    sizes: dict[str, int] = {}

    def write(name: str, table: pa.Table) -> None:
        path = f"{out}/{name}.parquet"
        pq.write_table(table, path, row_group_size=max(1, table.num_rows))
        sizes[name] = os.path.getsize(path)

    write("region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }))
    write("nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))

    n = size.part
    adj = np.array(["large", "hot", "blue", "small", "dark", "quick", "soft", "cold"])
    noun = np.array(["ring", "bolt", "disk", "wire", "gear", "tube", "clip", "rod"])
    types = np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO", "MEDIUM"])
    write("part", pa.table({
        "p_partkey": pa.array(range(n), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n)], " "),
                              noun[rng.integers(0, 8, n)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
        "p_type": types[rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + rng.random(n) * 100.0, 2),
    }))

    n = size.supplier
    write("supplier", pa.table({
        "s_suppkey": pa.array(range(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": np.round(rng.random(n) * 10_000 - 1_000, 2),
    }))

    n = size.customer
    segs = np.array(["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"])
    write("customer", pa.table({
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": np.round(rng.random(n) * 10_000 - 1_000, 2),
        "c_mktsegment": segs[rng.integers(0, 5, n)],
    }))

    n = size.orders
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    o_lo, o_hi = _ts_us("1995-01-01"), _ts_us("2001-08-01")
    write("orders", pa.table({
        "o_orderkey": pa.array(range(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, size.customer, n), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.choice(3, n, p=[0.49, 0.49, 0.02])],
        "o_totalprice": np.round(1_000 + rng.random(n) * 499_000, 2),
        "o_orderdate": pa.array(
            o_lo + rng.integers(0, (o_hi - o_lo) // DAY_US + 1, n) * DAY_US,
            pa.timestamp("us"),
        ),
        "o_orderpriority": prio[rng.integers(0, 5, n)],
    }))

    n = size.lineitem
    l_lo, l_hi = _ts_us("1995-01-02"), _ts_us("2001-11-04")
    write("lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, size.orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, size.part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, size.supplier, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype("float64"),
        "l_extendedprice": np.round(900 + rng.random(n) * 104_100, 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["N", "A", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": pa.array(
            l_lo + rng.integers(0, (l_hi - l_lo) // DAY_US + 1, n) * DAY_US,
            pa.timestamp("us"),
        ),
    }))

    n = size.events
    etypes = np.array(["view", "click", "purchase", "signup", "error"])
    ets = np.sort(_ts_us("2024-01-01") + rng.integers(0, 30 * DAY_US, n))
    write("events", pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ets, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, size.customer), n), pa.int64()),
        "event_type": etypes[rng.integers(0, 5, n)],
        "value": np.round(np.abs(rng.normal(0.0, 1.0, n)) ** 2 * 60.0, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
    }))

    n = size.documents
    langs = np.array(["en", "de", "fr", "es", "zh"])
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), k)) for k in lengths]
    # a pinch of exact duplicates, like the reference corpus
    for _ in range(max(1, n // 125)):
        texts[int(rng.integers(0, n))] = texts[int(rng.integers(0, n))]
    write("documents", pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": langs[rng.choice(5, n, p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475])],
        "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))

    n = size.embeddings
    vecs = rng.normal(0, 1, (n, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write("embeddings", pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    }))
    return sizes


# --- the daily job's raw inputs ---------------------------------------------


@dataclass(frozen=True)
class DailySize:
    skus: int
    warehouses: int
    suppliers: int
    orders: int  # fact rows in orders.csv
    history_days: int  # snapshot days per file, the run date included
    dup_frac: float  # share of snapshot rows re-written later in the file


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _init_sql(rng: np.random.Generator, size: DailySize) -> str:
    cats = ["Office", "IT", "Cleaning", "Packaging", "Safety", "Furniture"]
    cities = ["Casablanca", "Rabat", "Tangier", "Fes", "Marrakesh", "Agadir"]
    lines = ["-- generated master data", ""]

    rows = [
        f"({_q(f'SUP-{i:04d}')}, {_q(f'Supplier {i} S.A.R.L')}, "
        f"{_q(f'sup{i}@example.com')}, {_q(f'+212-5{i:08d}')}, "
        f"{'FALSE' if rng.random() < 0.1 else 'TRUE'})"
        for i in range(1, size.suppliers + 1)
    ]
    lines.append("INSERT INTO suppliers (supplier_code, name, email, phone, is_active) VALUES")
    lines.append(",\n".join(rows) + ";")

    rows = [
        f"({_q(f'SKU-{i:05d}')}, {_q(f'Item {i} (box, {1 + i % 7} units)')}, "
        f"{_q(cats[i % len(cats)])}, 'unit', TRUE)"
        for i in range(1, size.skus + 1)
    ]
    lines.append("INSERT INTO products (sku_code, name, category, uom, is_active) VALUES")
    lines.append(",\n".join(rows) + ";")

    rows = [
        f"({_q(f'WH-{i:03d}')}, {_q(f'Depot {i}')}, {_q(cities[i % len(cities)])}, TRUE)"
        for i in range(1, size.warehouses + 1)
    ]
    lines.append("INSERT INTO warehouses (warehouse_code, name, city, is_active) VALUES")
    lines.append(",\n".join(rows) + ";")

    rows = []
    for sku in range(1, size.skus + 1):
        offers = rng.choice(np.arange(1, size.suppliers + 1), size=3, replace=False)
        for sup in sorted(int(s) for s in offers):
            price = round(float(rng.integers(500, 20_000)) / 100.0, 2)
            rows.append(
                f"({sup}, {sku}, {int(rng.choice([1, 6, 10, 12, 24]))}, "
                f"{int(rng.integers(1, 50))}, {int(rng.integers(1, 15))}, {price:.2f}, 'MAD', "
                f"{'FALSE' if rng.random() < 0.1 else 'TRUE'})"
            )
    lines.append(
        "INSERT INTO supplier_products (supplier_id, sku_id, pack_size, min_order_qty, "
        "lead_time_days, unit_price, currency, is_active) VALUES"
    )
    lines.append(",\n".join(rows) + ";")

    rows = [f"({sku}, {int(rng.integers(0, 80))}, NOW())" for sku in range(1, size.skus + 1)]
    lines.append("INSERT INTO safety_stock (sku_id, safety_stock_qty, updated_at) VALUES")
    lines.append(",\n".join(rows) + ";")

    rows = [
        f"({wh}, {sku}, {int(rng.integers(0, 120))}, NOW())"
        for wh in range(1, size.warehouses + 1)
        for sku in range(1, size.skus + 1)
        if rng.random() < 0.2
    ]
    lines.append(
        "INSERT INTO safety_stock_by_warehouse (warehouse_id, sku_id, safety_stock_qty, "
        "updated_at) VALUES"
    )
    lines.append(",\n".join(rows) + ";")
    return "\n".join(lines) + "\n"


def write_daily(raw_root: str, seed: int, run_date: date, size: DailySize) -> dict:
    """Write one day of raw inputs plus ``init.sql`` under ``raw_root``;
    returns the row counts and file bytes."""
    rng = np.random.default_rng(seed)
    day = run_date.strftime("%d-%m-%Y")
    os.makedirs(raw_root, exist_ok=True)
    init_sql = f"{raw_root}/init.sql"
    with open(init_sql, "w") as f:
        f.write(_init_sql(rng, size))

    # orders: a skewed (Zipf-like) sku popularity so a few skus dominate
    n = size.orders
    weights = 1.0 / np.arange(1, size.skus + 1) ** 0.6
    sku = rng.choice(np.arange(1, size.skus + 1), size=n, p=weights / weights.sum())
    wh = rng.integers(1, size.warehouses + 1, n)
    sup = rng.integers(1, size.suppliers + 1, n)
    qty = rng.integers(1, 200, n)
    # a few order lines reference a warehouse the master data does not know;
    # the inner dimension join drops them, as in the reference
    wh[rng.random(n) < 0.002] = size.warehouses + 1
    iso = run_date.isoformat()
    orders_dir = f"{raw_root}/orders/{day}"
    os.makedirs(orders_dir, exist_ok=True)
    orders_csv = f"{orders_dir}/orders.csv"
    with open(orders_csv, "w") as f:
        f.write("order_id,supplier_id,sku_id,quantity,warehouse_id,order_date\n")
        f.writelines(
            f"ORD-{i:08d},{s},{k},{q},{w},{iso}\n"
            for i, (s, k, q, w) in enumerate(zip(sup.tolist(), sku.tolist(),
                                                 qty.tolist(), wh.tolist()))
        )

    # snapshots: every (sku, warehouse) for each history day, then a tail of
    # re-writes of random earlier keys (the later write must win)
    objs = []
    for back in range(size.history_days - 1, -1, -1):
        d = (run_date - timedelta(days=back)).isoformat()
        avail = rng.integers(0, 300, (size.skus, size.warehouses))
        resv = rng.integers(0, 40, (size.skus, size.warehouses))
        for s in range(size.skus):
            for w in range(size.warehouses):
                objs.append((s + 1, d, w + 1, int(avail[s, w]), int(resv[s, w])))
    n_dup = int(len(objs) * size.dup_frac)
    for j in rng.integers(0, len(objs), n_dup).tolist():
        s, d, w, _a, _r = objs[j]
        objs.append((s, d, w, int(rng.integers(0, 300)), int(rng.integers(0, 40))))
    snap_dir = f"{raw_root}/snapshots/{day}"
    os.makedirs(snap_dir, exist_ok=True)
    snapshot_json = f"{snap_dir}/snapshot.json"
    with open(snapshot_json, "w") as f:
        json.dump(
            [
                {"sku_code": f"SKU-{s:05d}", "snapshot_date": d,
                 "warehouse_code": f"WH-{w:03d}", "available_qty": a, "reserved_qty": r}
                for s, d, w, a, r in objs
            ],
            f,
            indent=1,
        )
    return {
        "size": asdict(size),
        "orders_rows": n,
        "snapshot_rows": len(objs),
        "snapshot_duplicate_rows": n_dup,
        "orders_csv_bytes": os.path.getsize(orders_csv),
        "snapshot_json_bytes": os.path.getsize(snapshot_json),
        "init_sql_bytes": os.path.getsize(init_sql),
        "init_sql": init_sql,
    }
