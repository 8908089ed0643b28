"""Independent answers, computed by DuckDB from the same input files.

Registry queries are checked the way the project's correctness driver
checks them: row count, sorted column names and an order-insensitive hash
of the normalized cell values, against the spec's own ``oracle`` SQL run in
DuckDB.  The daily job is checked against DuckDB SQL written here from the
reference's three queries, over the generated raw files.
"""

from __future__ import annotations

import csv
import hashlib
import json
from dataclasses import dataclass
from datetime import date, datetime

import duckdb
import pyarrow as pa

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm(v) -> str:
    """Cell normalization shared with the correctness driver: floats
    rounded to 9 places, dates ISO, midnight timestamps as dates."""
    if v is None:
        return ""
    if isinstance(v, float):
        return repr(round(v, 9))
    if isinstance(v, datetime):
        if v.hour == v.minute == v.second == v.microsecond == 0:
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, list):
        return json.dumps([norm(x) for x in v])
    return str(v)


def value_hash(cols: list[str], rows) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


@dataclass(frozen=True)
class Answer:
    """What a correct result looks like: row count, column set, value hash."""

    rows: int
    columns: tuple[str, ...]
    digest: str

    @classmethod
    def of(cls, cols, rows) -> Answer:
        return cls(len(rows), tuple(sorted(cols)), value_hash(list(cols), rows))


def registry_answers(sf_dir: str, oracles: dict[str, str]) -> dict[str, Answer]:
    """Run each oracle SQL in DuckDB over the parquet tables in ``sf_dir``."""
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        out = {}
        for name, sql in oracles.items():
            res = con.execute(sql)
            out[name] = Answer.of([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


# --- the daily job ------------------------------------------------------------

# Q1-Q3 of the reference, over the generated raw files.  The snapshot table
# arrives with its file position (``seq``) so last-write-wins is explicit.
_DAILY_SQL = """
WITH agg AS (
  SELECT o.sku_id, o.warehouse_id, SUM(o.quantity) AS total_quantity,
         p.sku_code, w.warehouse_code
  FROM orders o
  JOIN products p ON o.sku_id = p.sku_id
  JOIN warehouses w ON o.warehouse_id = w.warehouse_id
  GROUP BY ALL
),
ssc AS (
  SELECT ss.sku_id, w.warehouse_id,
         COALESCE(ssw.safety_stock_qty, ss.safety_stock_qty, 0) AS ss_qty
  FROM safety_stock ss CROSS JOIN warehouses w
  LEFT JOIN ssw ON ssw.sku_id = ss.sku_id AND ssw.warehouse_id = w.warehouse_id
),
inv AS (
  SELECT sku_code, warehouse_code, available_qty, reserved_qty FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY sku_code, snapshot_date, warehouse_code ORDER BY seq DESC) AS rn
    FROM snapshots) WHERE rn = 1 AND snapshot_date = CAST($run_date AS DATE)
),
nd AS (
  SELECT agg.sku_id, agg.warehouse_id,
         GREATEST(0, agg.total_quantity + COALESCE(ssc.ss_qty, 0)
                  - (COALESCE(inv.available_qty, 0) - COALESCE(inv.reserved_qty, 0)))
           AS net_demand
  FROM agg
  LEFT JOIN ssc ON agg.sku_id = ssc.sku_id AND agg.warehouse_id = ssc.warehouse_id
  LEFT JOIN inv ON agg.sku_code = inv.sku_code AND agg.warehouse_code = inv.warehouse_code
),
ranked AS (
  SELECT sp.*, ROW_NUMBER() OVER (
    PARTITION BY sp.sku_id ORDER BY sp.unit_price, sp.supplier_id) AS price_rank
  FROM supplier_products sp JOIN suppliers s ON sp.supplier_id = s.supplier_id
  WHERE sp.is_active AND s.is_active
),
so AS (
  SELECT GREATEST(CAST(r.min_order_qty AS DOUBLE),
                  CEIL(CAST(nd.net_demand AS DOUBLE) / r.pack_size) * r.pack_size)
         * CAST(r.unit_price AS DOUBLE) AS total_cost
  FROM nd JOIN ranked r ON nd.sku_id = r.sku_id AND r.price_rank = 1
  WHERE nd.net_demand > 0
)
SELECT (SELECT COUNT(*) FROM agg) AS aggregated_count,
       (SELECT CAST(SUM(net_demand) AS BIGINT) FROM nd) AS total_net_demand,
       (SELECT COUNT(*) FROM so) AS supplier_orders_count,
       (SELECT SUM(total_cost) FROM so) AS total_cost
"""

# Postgres BIGSERIAL ids are 1-based insert order
_SERIAL_ID = {"suppliers": "supplier_id", "products": "sku_id", "warehouses": "warehouse_id"}


def daily_answer(init_sql: str, orders_csv: str, snapshot_json: str, run_date: date) -> dict:
    """The four summary figures of one daily run, computed by DuckDB.

    The init script is loaded by DuckDB itself: its INSERT statements are
    plain SQL."""
    con = duckdb.connect()
    try:
        ddl = {
            "suppliers": "supplier_code VARCHAR, name VARCHAR, email VARCHAR, "
                         "phone VARCHAR, is_active BOOLEAN",
            "products": "sku_code VARCHAR, name VARCHAR, category VARCHAR, uom VARCHAR, "
                        "is_active BOOLEAN",
            "warehouses": "warehouse_code VARCHAR, name VARCHAR, city VARCHAR, is_active BOOLEAN",
            "supplier_products": "supplier_id BIGINT, sku_id BIGINT, pack_size INT, "
                                 "min_order_qty INT, lead_time_days INT, "
                                 "unit_price DECIMAL(12,4), currency VARCHAR, is_active BOOLEAN",
            "safety_stock": "sku_id BIGINT, safety_stock_qty INT, updated_at TIMESTAMP",
            "safety_stock_by_warehouse": "warehouse_id BIGINT, sku_id BIGINT, "
                                         "safety_stock_qty INT, updated_at TIMESTAMP",
        }
        for table, cols in ddl.items():
            con.execute(f"CREATE TABLE {table} ({cols})")
        with open(init_sql) as f:
            con.execute(f.read())
        for table, key in _SERIAL_ID.items():
            con.execute(
                f"CREATE OR REPLACE TABLE {table} AS "
                f"SELECT ROW_NUMBER() OVER () AS {key}, * FROM {table}"
            )
        con.execute("ALTER TABLE safety_stock_by_warehouse RENAME TO ssw")
        con.execute(
            f"CREATE TABLE orders AS SELECT CAST(sku_id AS BIGINT) AS sku_id, "
            f"CAST(warehouse_id AS BIGINT) AS warehouse_id, "
            f"CAST(quantity AS BIGINT) AS quantity "
            f"FROM read_csv('{orders_csv}', header=true, all_varchar=true)"
        )
        with open(snapshot_json) as f:
            snaps = json.load(f)
        snapshots = pa.Table.from_pylist(snaps).append_column(
            "seq", pa.array(range(len(snaps)), pa.int64())
        )
        con.register("snapshots_raw", snapshots)
        con.execute(
            "CREATE TABLE snapshots AS SELECT seq, sku_code, "
            "CAST(snapshot_date AS DATE) AS snapshot_date, warehouse_code, "
            "CAST(available_qty AS INT) AS available_qty, "
            "CAST(reserved_qty AS INT) AS reserved_qty FROM snapshots_raw"
        )
        row = con.execute(_DAILY_SQL, {"run_date": run_date.isoformat()}).fetchone()
        return dict(zip(("aggregated_count", "total_net_demand",
                         "supplier_orders_count", "total_cost"), row))
    finally:
        con.close()


def csv_rows(path: str) -> int:
    with open(path, newline="") as f:
        return sum(1 for _ in csv.DictReader(f))
