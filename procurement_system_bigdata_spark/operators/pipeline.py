"""The procurement pipeline on reference-shaped inputs.

This is the engine a user of the reference would actually run: the 8-task
Airflow DAG (reference dags/pipeline.py:813-885) collapsed into pure
DataFrame stage functions plus a ``run_pipeline`` driver.  Data moves
between stages in memory instead of via HDFS files; each analytic stage is
a function so it can be recomputed (reference behavior — each Trino query
re-derives its CTEs from raw, SURVEY §2.7) or cached for reuse.

Query semantics are 1:1 with the three federated Trino queries:
- aggregate_orders   -> pipeline.py:408-426 (Q1)
- net_demand         -> pipeline.py:495-537 (Q2)
- supplier_orders    -> pipeline.py:616-687 (Q3 + Python enrichment)
with the documented determinism fixes (SURVEY §2.5): ROW_NUMBER tie-breaks
on supplier_id / (sku_id, warehouse_id).
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable
from datetime import date

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .ranking import with_global_sequence

logger = logging.getLogger(__name__)

# D2 (reference dags/pipeline.py:806-811): every Airflow task runs with
# retries=2 and retry_delay=timedelta(minutes=5).  Spark's own task retries
# cover *executor task* failures; this wrapper covers *stage-function-level*
# failures — a sink raising after compute, a transient metastore/FS error —
# which Airflow would re-run from the top of the task.
STAGE_RETRIES = 2
STAGE_RETRY_DELAY_SEC = 300.0


def retry_stage(
    fn: Callable[[], object],
    *,
    stage: str = "stage",
    retries: int = STAGE_RETRIES,
    delay_sec: float = STAGE_RETRY_DELAY_SEC,
    sleep: Callable[[float], None] = time.sleep,
):
    """Run ``fn()`` with the reference's per-task retry policy: up to
    ``retries`` re-attempts after the first failure, ``delay_sec`` apart
    (``sleep`` injectable so tests don't wait 5 minutes).  Re-raises the
    last exception once attempts are exhausted — callers decide whether
    that is fatal (mid-pipeline stages) or degradable (the all_done
    summary, see run_pipeline)."""
    attempts = retries + 1
    for attempt in range(1, attempts + 1):
        try:
            return fn()
        except Exception as ex:  # noqa: BLE001 — mirror Airflow: retry any task error
            if attempt == attempts:
                logger.error("stage %s failed after %d attempts: %s", stage, attempts, ex)
                raise
            logger.warning(
                "stage %s attempt %d/%d failed (%s); retrying in %.0fs",
                stage, attempt, attempts, ex, delay_sec,
            )
            sleep(delay_sec)
    raise AssertionError("unreachable")


def aggregate_orders(
    orders: DataFrame, products: DataFrame, warehouses: DataFrame
) -> DataFrame:
    """Q1 (reference pipeline.py:408-426): orders ⋈ products ⋈ warehouses,
    8-key GROUP BY, SUM/COUNT/MAX.  Dims are tiny -> broadcast; at scale the
    fact side never shuffles for the joins, only for the aggregation."""
    joined = (
        orders.join(F.broadcast(products), orders.sku_id == products.sku_id)
        .join(F.broadcast(warehouses), orders.warehouse_id == warehouses.warehouse_id)
    )
    keys = [
        orders.sku_id.alias("sku_id"),
        products.sku_code.alias("sku_code"),
        products.name.alias("product_name"),
        products.category.alias("category"),
        orders.warehouse_id.alias("warehouse_id"),
        warehouses.warehouse_code.alias("warehouse_code"),
        warehouses.name.alias("warehouse_name"),
        warehouses.city.alias("city"),
    ]
    return joined.groupBy(*keys).agg(
        F.sum(orders.quantity).alias("total_quantity"),
        F.count(F.lit(1)).alias("order_count"),
        F.max(orders.order_date).alias("order_date"),  # string max on ISO dates (A4)
    ).orderBy(F.desc("total_quantity"))


def safety_stock_combined(
    safety_stock: DataFrame, warehouses: DataFrame, ss_by_warehouse: DataFrame
) -> DataFrame:
    """Q2 CTE (reference pipeline.py:506-515): global per-SKU safety stock
    densified across all warehouses (CROSS JOIN), per-warehouse overrides
    via LEFT JOIN + 3-arg COALESCE.  Keeps the reference quirk: SKUs present
    only in the override table are dropped (the anchor is safety_stock)."""
    dense = safety_stock.alias("ss").crossJoin(
        F.broadcast(warehouses.select(F.col("warehouse_id")).alias("w"))
    )
    ssw = ss_by_warehouse.alias("ssw")
    return dense.join(
        F.broadcast(ssw),
        (F.col("ss.sku_id") == F.col("ssw.sku_id"))
        & (F.col("w.warehouse_id") == F.col("ssw.warehouse_id")),
        "left",
    ).select(
        F.coalesce(F.col("ssw.sku_id"), F.col("ss.sku_id")).alias("sku_id"),
        F.coalesce(F.col("ssw.warehouse_id"), F.col("w.warehouse_id")).alias("warehouse_id"),
        F.coalesce(
            F.col("ssw.safety_stock_qty"), F.col("ss.safety_stock_qty"), F.lit(0)
        ).alias("safety_stock_qty"),
    )


def inventory_for_date(snapshots: DataFrame, run_date: date) -> DataFrame:
    """Q2 CTE inventory_data (reference pipeline.py:516-519): one snapshot
    day selected by date predicate (the Cassandra clustering-key read; with
    a date-partitioned snapshot store this is pure partition pruning)."""
    return snapshots.filter(F.col("snapshot_date") == F.lit(run_date)).select(
        "sku_code", "warehouse_code", "available_qty", "reserved_qty"
    )


def net_demand_measures(
    total: Column, ss_qty: Column, avail: Column, resv: Column
) -> list[Column]:
    """Q2 measures (reference pipeline.py:521-536): the five stock columns
    and net_demand = GREATEST(0, orders + safety - (available - reserved)).
    A missing safety-stock row counts as 0; ``avail``/``resv`` arrive
    already 0-defaulted (outer-join COALESCE or conditional sums)."""
    ss = F.coalesce(ss_qty, F.lit(0))
    effective = avail - resv
    return [
        total.alias("aggregated_orders"),
        ss.cast("long").alias("safety_stock"),
        avail.cast("long").alias("available_stock"),
        resv.cast("long").alias("reserved_stock"),
        effective.cast("long").alias("effective_stock"),
        F.greatest(F.lit(0).cast("long"), (total + ss - effective).cast("long")).alias(
            "net_demand"
        ),
    ]


def net_demand(
    agg_orders: DataFrame, ss_combined: DataFrame, inventory: DataFrame, run_date: date
) -> DataFrame:
    """Q2 final select (reference pipeline.py:521-537) + the Python-appended
    calculation_date column (P13, pipeline.py:544-545, dd-MM-yyyy)."""
    ss = ss_combined.withColumnRenamed("safety_stock_qty", "ss_qty")
    joined = (
        agg_orders.join(F.broadcast(ss), ["sku_id", "warehouse_id"], "left")
        .join(inventory, ["sku_code", "warehouse_code"], "left")
    )
    return joined.select(
        "sku_id", "sku_code", "product_name", "category", "warehouse_id",
        "warehouse_code", "warehouse_name", "city",
        *net_demand_measures(
            F.col("total_quantity"),
            F.col("ss_qty"),
            F.coalesce(F.col("available_qty"), F.lit(0)),
            F.coalesce(F.col("reserved_qty"), F.lit(0)),
        ),
        F.lit(run_date.strftime("%d-%m-%Y")).alias("calculation_date"),
    ).orderBy(F.desc("net_demand"))


def price_rank() -> Column:
    """Q3 W1 (reference pipeline.py:654-662): ROW_NUMBER of each offer
    within its SKU, cheapest unit_price first, with the deterministic
    supplier_id tiebreak — the reference's ORDER BY unit_price alone is
    nondeterministic on real price ties (SURVEY §2.5; e.g. sku 1 @45.00
    from suppliers 1/18/30, init.sql:174,:229,:264)."""
    w = Window.partitionBy("sku_id").orderBy(F.asc("unit_price"), F.asc("supplier_id"))
    return F.row_number().over(w)


def ranked_suppliers(supplier_products: DataFrame, suppliers: DataFrame) -> DataFrame:
    """Q3 CTE (reference pipeline.py:654-662): active offers ranked by
    unit_price per SKU."""
    sp = supplier_products.filter(F.col("is_active"))
    s = suppliers.filter(F.col("is_active")).select(
        F.col("supplier_id"), F.col("supplier_code"), F.col("name").alias("supplier_name")
    )
    return sp.join(F.broadcast(s), "supplier_id").withColumn("price_rank", price_rank())


def supplier_orders(
    nd: DataFrame, ranked: DataFrame, run_date: date
) -> DataFrame:
    """Q3 final select + Python enrichment (reference pipeline.py:663-687):
    cheapest supplier (rank=1), pack-rounded order quantity with MOQ floor,
    cost, delivery date, then PO ids minted in total_cost-DESC order with
    deterministic tiebreak, order_date and status='PENDING'."""
    rs = ranked.filter(F.col("price_rank") == 1).select(
        "sku_id", "supplier_id", "supplier_code", "supplier_name",
        "pack_size", "min_order_qty", "unit_price", "currency", "lead_time_days",
    )
    joined = nd.filter(F.col("net_demand") > 0).join(F.broadcast(rs), "sku_id")
    # CEILING(CAST(net AS DOUBLE)/pack)*pack (pipeline.py:668): Trino CEILING
    # on DOUBLE returns DOUBLE, hence the observed float order_quantity values
    # (data/output/.../supplier_orders.csv: "79.0"); GREATEST(moq, ...) then
    # promotes to DOUBLE too. Reproduced exactly, documented float quirk.
    order_qty = F.greatest(
        F.col("min_order_qty").cast("double"),
        F.ceil(F.col("net_demand").cast("double") / F.col("pack_size")).cast("double")
        * F.col("pack_size"),
    )
    enriched = joined.select(
        "sku_id", "sku_code", "product_name", "category",
        "warehouse_id", "warehouse_code", "warehouse_name", "city",
        "supplier_id", "supplier_code", "supplier_name",
        "net_demand", "pack_size", "min_order_qty", "unit_price", "currency",
        "lead_time_days",
        order_qty.alias("order_quantity"),
        (order_qty * F.col("unit_price").cast("double")).alias("total_cost"),
        F.date_add(F.lit(run_date), F.col("lead_time_days")).alias("expected_delivery_date"),
    )
    # Global PO numbering via the two-phase range-sort operator — identical
    # sequence to ROW_NUMBER (the key is a deterministic total order since
    # (sku_id, warehouse_id) is unique per row) without the single-partition
    # wall; same swap as queries/procurement.q_supplier_orders.
    po_keys = [F.desc("total_cost"), F.asc("sku_id"), F.asc("warehouse_id")]
    compact = run_date.strftime("%Y%m%d")
    return (
        with_global_sequence(enriched, po_keys, seq_col="_seq")
        .withColumn("order_id", F.format_string("PO-%s-%05d", F.lit(compact), F.col("_seq")))
        .withColumn("order_date", F.lit(run_date.isoformat()))
        .withColumn("status", F.lit("PENDING"))
        .drop("_seq")
        .orderBy(F.desc("total_cost"), "sku_id", "warehouse_id")
    )


def run_pipeline(
    orders: DataFrame,
    products: DataFrame,
    warehouses: DataFrame,
    suppliers: DataFrame,
    supplier_products: DataFrame,
    safety_stock: DataFrame,
    ss_by_warehouse: DataFrame,
    snapshots: DataFrame,
    run_date: date,
    reuse_stages: bool = True,
    stage_retries: int = STAGE_RETRIES,
    retry_delay_sec: float = 0.0,
    retry_sleep: Callable[[float], None] = time.sleep,
) -> dict:
    """D1-D4 (reference pipeline.py:813-885): the sequential DAG as one
    driver function.  Returns the three result DataFrames plus the summary
    metrics dict (XCom replacement; 0-defaults like trigger_rule=all_done).

    D2: job-executing stages run under the reference's per-task retry
    policy (``stage_retries`` defaults to the reference's 2;
    ``retry_delay_sec`` defaults to 0 for an in-process run — pass
    STAGE_RETRY_DELAY_SEC for the reference's 5-min spacing; tests inject
    ``retry_sleep``).  A stage that exhausts retries does NOT abort the
    run: the summary is all_done (reference task 8) — its metrics emit
    0-defaults and ``failed_stages`` names what failed.

    The reference re-derives the shared CTEs inside every query; here each
    stage df is built once and — with ``reuse_stages`` — persisted, so the
    summary's six actions and the downstream supplier-orders derivation hit
    the materialized stage instead of re-running the whole lineage (the
    reference pays this recompute three times per day, SURVEY §2.7).  At
    scale the persisted frames are dim-product bounded (|sku|×|warehouse|
    for net_demand, purchase-order count for supplier_orders), never
    fact-sized, so MEMORY_AND_DISK stage caches stay small even at 100 TB
    of raw orders.  ``release()`` in the returned dict unpersists them.
    Callers wanting byte-layout outputs use sources.sinks on the frames.
    """
    agg_full = aggregate_orders(orders, products, warehouses)
    ssc = safety_stock_combined(safety_stock, warehouses, ss_by_warehouse)
    inv = inventory_for_date(snapshots, run_date)
    nd_full = net_demand(agg_full, ssc, inv, run_date)
    persisted: list[DataFrame] = []
    if reuse_stages:
        # agg_full feeds net_demand + one count + the returned frame (it is
        # persisted first, so nd_full's cached plan reads it); nd_full feeds
        # three summary actions + supplier_orders; so feeds two actions +
        # return.
        agg_full, nd_full = agg_full.persist(), nd_full.persist()
        persisted += [agg_full, nd_full]
    rs = ranked_suppliers(supplier_products, suppliers)
    failed_stages: list[str] = []
    # generate_supplier_orders is the one stage whose BUILD already runs jobs
    # (the adaptive-numbering count in with_global_sequence), so the build
    # itself runs under the task retry policy, like reference task 7.
    try:
        so = retry_stage(
            lambda: supplier_orders(nd_full, rs, run_date),
            stage="generate_supplier_orders",
            retries=stage_retries,
            delay_sec=retry_delay_sec,
            sleep=retry_sleep,
        )
    except Exception:  # noqa: BLE001 — downstream summary is all_done
        so = None
        failed_stages.append("generate_supplier_orders")
    if reuse_stages and so is not None:
        so = so.persist()
        persisted.append(so)

    # D2 + D4: each summary action runs under the reference's retry policy
    # (retries=2); the summary itself is trigger_rule=all_done — a metric
    # whose stage exhausts retries degrades to its 0-default instead of
    # aborting the run, and the failure is reported in failed_stages.
    metric_stages: list[tuple[str, Callable[[], object], object]] = [
        ("orders_count", lambda: orders.count(), 0),
        ("aggregated_count", lambda: agg_full.count(), 0),
        ("net_demand_count", lambda: nd_full.count(), 0),
        ("total_net_demand", lambda: nd_full.agg(F.sum("net_demand")).first()[0] or 0, 0),
        ("items_with_demand", lambda: nd_full.filter(F.col("net_demand") > 0).count(), 0),
        ("supplier_orders_count", lambda: so.count(), 0),
        ("total_cost", lambda: float(so.agg(F.sum("total_cost")).first()[0] or 0.0), 0.0),
    ]
    summary: dict = {"run_date": run_date.isoformat()}
    for name, thunk, default in metric_stages:
        if so is None and name in ("supplier_orders_count", "total_cost"):
            summary[name] = default
            failed_stages.append(name)
            continue
        try:
            summary[name] = retry_stage(
                thunk,
                stage=name,
                retries=stage_retries,
                delay_sec=retry_delay_sec,
                sleep=retry_sleep,
            )
        except Exception:  # noqa: BLE001 — all_done summary absorbs stage failure
            summary[name] = default
            failed_stages.append(name)

    def release() -> None:
        for df in persisted:
            df.unpersist()

    return {
        "aggregated_orders": agg_full,
        "net_demand": nd_full,
        "supplier_orders": so,
        "summary": summary,
        "failed_stages": failed_stages,
        "release": release,
    }
