"""Event-table queries: upsert semantics, date-predicate scans, windowed
rollups — the snapshot/streaming-shaped slice of the reference.

Numeric discipline note used throughout: double columns are summed as exact
integer cents (``CAST(ROUND(x*100) AS BIGINT)`` per row, summed, divided by
100.0 at the edge).  Per-row double ops are IEEE-identical across engines;
integer sums are order-independent — so Spark (parallel, partitioned) and the
sequential DuckDB oracle produce bit-identical aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions import portable as P

SNAP_DAY_START = "2024-01-10 00:00:00"
SNAP_DAY_END = "2024-01-11 00:00:00"


def q_snapshot_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: Cassandra-style last-write-wins upsert, replayed as batch dedup.

    The reference PK is ((sku_code), snapshot_date, warehouse_code) with
    last write winning (reference init-scripts/cassandra/init.cql:15,
    dags/pipeline.py:275-289).  Analog: one surviving row per
    (user_id, event_type), latest ts wins, event_id DESC tiebreak.

    Scale: ROW_NUMBER over the PK partitions — one hash shuffle on the key,
    no global sort; skewed keys are handled by AQE skew-join/partition
    splitting.  (A max_by-style agg would also work but keeps less of the
    row; window form matches MERGE/upsert replay semantics.)
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.unix_micros(F.col("ts")).alias("ts_us"),
            "value",
            "event_id",
        )
    )


Q_SNAPSHOT_UPSERT_SQL = """
    SELECT user_id, event_type, epoch_us(ts) AS ts_us, value, event_id
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id, event_type
            ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
"""


def q_events_date_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 + P8 + P10/P11: date-literal predicate scan with projection.

    The reference reads one snapshot day via a Cassandra clustering-key
    predicate (pipeline.py:516-519); here the timestamp range + value filter
    push down to the parquet scan (visible as PushedFilters in explain).
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(
        (F.col("ts") >= F.lit(SNAP_DAY_START).cast("timestamp"))
        & (F.col("ts") < F.lit(SNAP_DAY_END).cast("timestamp"))
        & (F.col("value") > 5.0)
    ).select(
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "user_id",
        "event_type",
        "value",
    )


Q_EVENTS_DATE_FILTER_SQL = f"""
    SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
    FROM events
    WHERE ts >= TIMESTAMP '{SNAP_DAY_START}' AND ts < TIMESTAMP '{SNAP_DAY_END}'
      AND value > 5.0
"""


def q_events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (batch form of the Structured Streaming
    hourly rollup in streaming/events.py — same grouping semantics as
    ``F.window(ts, '1 hour')`` whose window.start == date_trunc('hour')).

    Beyond reference parity (the reference has no streaming operators,
    SURVEY §2.8); this is the batch-equivalence anchor for the streaming
    path.  Sum over doubles uses the exact-cents discipline.
    """
    ev = load_table(spark, sf_dir, "events")
    cents = P.spark_cents(F.col("value"))
    return (
        ev.groupBy(
            F.unix_micros(F.date_trunc("hour", F.col("ts"))).alias("window_start_us"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(cents) / 100.0).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


Q_EVENTS_HOURLY_ROLLUP_SQL = """
    SELECT
        epoch_us(date_trunc('hour', ts)) AS window_start_us,
        event_type,
        COUNT(*) AS n_events,
        CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS total_value,
        COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1, 2
"""


def q_pipeline_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3/D4 + A6-A8: the reference's run-summary metrics as one global
    aggregation row (reference pipeline.py:738-774: total_net_demand,
    items_with_demand, total procurement cost with 0-defaults).

    Derived from the supplier_orders result; the float total_cost sum that
    the reference computes in Python (pipeline.py:715, producing
    2631239.6999999997) is made exact via the cents discipline instead —
    documented float-drift fix (SURVEY §4.3).
    """
    from .procurement import q_supplier_orders

    so = q_supplier_orders(spark, sf_dir)
    cost_cents = P.spark_cents(F.col("total_cost"))
    return so.agg(
        F.coalesce(F.sum("net_demand"), F.lit(0)).alias("total_net_demand"),
        F.coalesce(
            F.count(F.when(F.col("net_demand") > 0, F.lit(1))), F.lit(0)
        ).alias("items_with_demand"),
        (F.coalesce(F.sum(cost_cents), F.lit(0)) / 100.0).alias("total_cost"),
        F.count(F.lit(1)).alias("supplier_order_count"),
    )


def q_pipeline_summary_sql(supplier_orders_sql: str) -> str:
    return f"""
    SELECT
        CAST(COALESCE(SUM(net_demand), 0) AS BIGINT) AS total_net_demand,
        COUNT(CASE WHEN net_demand > 0 THEN 1 END) AS items_with_demand,
        CAST(COALESCE(SUM(CAST(ROUND(total_cost * 100) AS BIGINT)), 0) AS BIGINT)
            / 100.0 AS total_cost,
        COUNT(*) AS supplier_order_count
    FROM ({supplier_orders_sql})
    """


def q_row_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 + A5: post-load row-count validation (reference pipeline.py:362-380
    runs SELECT COUNT(*) on each registered table and XCom-pushes the counts)."""
    names = ("orders", "lineitem", "events", "part", "supplier")
    dfs = [
        load_table(spark, sf_dir, n).agg(
            F.lit(n).alias("table_name"), F.count(F.lit(1)).alias("row_count")
        )
        for n in names
    ]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionAll(d)
    return out


Q_ROW_COUNTS_SQL = """
    SELECT 'orders' AS table_name, COUNT(*) AS row_count FROM orders
    UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem
    UNION ALL SELECT 'events', COUNT(*) FROM events
    UNION ALL SELECT 'part', COUNT(*) FROM part
    UNION ALL SELECT 'supplier', COUNT(*) FROM supplier
"""


def q_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/S3 analog: semi-structured JSON column parsed in-query.

    The reference ingests JSON sources by flattening them before query time
    (reference dags/pipeline.py:222-229 JSON->CSV, :269-270 json.load); a
    Spark-first engine instead parses the JSON string column lazily with
    ``get_json_object`` — JVM-side, codegen-friendly, no pre-pass over the
    data.  Scale shape: narrow map + one partial-aggregated groupBy on a
    low-cardinality key; sums use the exact integer discipline.
    """
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            (F.sum("k").cast("double") / F.count(F.lit(1))).alias("avg_k"),
        )
    )


Q_EVENTS_JSON_PROPS_SQL = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           MIN(k) AS min_k,
           MAX(k) AS max_k,
           CAST(SUM(k) AS DOUBLE) / COUNT(*) AS avg_k
    FROM (
        SELECT event_type,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events
    )
    GROUP BY event_type
"""


def q_multi_grain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: hour AND day grains from ONE
    fact scan and one exchange via GROUPING SETS (Expand emits each row
    once per grain; map-side partial aggs collapse before the shuffle).
    At 100 TB this replaces two full scans with one — the LMFAO shared-
    aggregate idea (Layered Aggregate Engine, SIGMOD 2019) on time grains.
    grouping_id() labels the grain; exact-cents sums keep hashes stable."""
    ev = load_table(spark, sf_dir, "events")
    cents = P.spark_cents(F.col("value"))
    base = ev.select(
        F.unix_micros(F.date_trunc("hour", F.col("ts"))).alias("hour_us"),
        F.unix_micros(F.date_trunc("day", F.col("ts"))).alias("day_us"),
        F.col("event_type"),
        cents.alias("cents"),
    )
    return (
        base.groupingSets(
            [["hour_us", "event_type"], ["day_us", "event_type"]],
            "hour_us", "day_us", "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum("cents").cast("long") / F.lit(100.0).cast("double")).alias("total_value"),
            F.when(F.grouping("hour_us") == 0, F.lit("hour")).otherwise(F.lit("day")).alias("grain"),
        )
        .select(
            F.coalesce(F.col("hour_us"), F.col("day_us")).alias("window_start_us"),
            "event_type", "grain", "n_events", "total_value",
        )
    )


Q_MULTI_GRAIN_ROLLUP_SQL = """
    WITH base AS (
        SELECT epoch_us(date_trunc('hour', ts)) AS hour_us,
               epoch_us(date_trunc('day', ts)) AS day_us,
               event_type,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
    )
    SELECT COALESCE(hour_us, day_us) AS window_start_us, event_type,
           CASE WHEN GROUPING(hour_us) = 0 THEN 'hour' ELSE 'day' END AS grain,
           COUNT(*) AS n_events,
           CAST(SUM(cents) AS BIGINT) / CAST(100.0 AS DOUBLE) AS total_value
    FROM base
    GROUP BY GROUPING SETS ((hour_us, event_type), (day_us, event_type))
"""
