"""Scalable ranking equivalence + property-based pipeline invariants
(SURVEY §5.2: Hypothesis over generated frames mirroring generateData.py)."""

from __future__ import annotations

from datetime import date

import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from conftest import SF_DIR

from procurement_system_bigdata_spark.catalog import load_table
from procurement_system_bigdata_spark.operators import pipeline as pl
from procurement_system_bigdata_spark.operators.ranking import with_global_sequence
from procurement_system_bigdata_spark import schemas


def test_global_sequence_equals_row_number(spark):
    """The two-phase numbering must be identical to the single-partition
    ROW_NUMBER on a deterministic total order."""
    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    # (orderkey, linenumber) alone is NOT unique in this data — the unique
    # total order (and dict key) must be the full sort tuple
    order = [F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")]
    key = lambda r: (r.l_extendedprice, r.l_orderkey, r.l_linenumber)  # noqa: E731
    fast = {
        key(r): r.seq
        for r in with_global_sequence(
            li, order, num_partitions=7, single_partition_max_rows=0
        ).collect()
    }
    from pyspark.sql.window import Window

    slow = {
        key(r): r.seq
        for r in li.withColumn(
            "seq", F.row_number().over(Window.orderBy(*order))
        ).collect()
    }
    assert len(fast) == li.count()
    assert fast == slow
    # the adaptive small-input path must give the identical sequence too
    adaptive = {
        key(r): r.seq for r in with_global_sequence(li, order).collect()
    }
    assert adaptive == slow


# --- property-based pipeline invariants ----------------------------------

order_rows = st.lists(
    st.tuples(
        st.integers(1, 8),    # sku_id
        st.integers(1, 3),    # warehouse_id
        st.integers(1, 500),  # quantity
    ),
    min_size=1,
    max_size=60,
)
snapshot_rows = st.lists(
    st.tuples(
        st.integers(1, 8),    # sku index -> PROD00x
        st.integers(1, 3),    # warehouse index -> WH00x
        st.integers(0, 800),  # available
        st.integers(0, 200),  # reserved
    ),
    max_size=20,
    unique_by=lambda t: (t[0], t[1]),
)


@pytest.fixture(scope="module")
def tiny_master(spark):
    from decimal import Decimal

    products = spark.createDataFrame(
        [(i, f"PROD00{i}", f"Product {i}", "Cat", "unit", True, None) for i in range(1, 9)],
        schemas.PRODUCTS,
    )
    warehouses = spark.createDataFrame(
        [(i, f"WH00{i}", f"Warehouse {i}", "City", True) for i in range(1, 4)],
        schemas.WAREHOUSES,
    )
    suppliers = spark.createDataFrame(
        [(i, f"SUP00{i}", f"Supplier {i}", "e", "p", i != 3, None) for i in range(1, 5)],
        schemas.SUPPLIERS,
    )
    # sku i offered by suppliers (i%4)+1 and ((i+1)%4)+1; supplier 3 inactive
    sp = []
    for i in range(1, 9):
        for s in {(i % 4) + 1, ((i + 1) % 4) + 1}:
            sp.append((s, i, 5, 10, 3, Decimal(str(10 + ((s * 7 + i) % 5))), "MAD", True))
    supplier_products = spark.createDataFrame(sp, schemas.SUPPLIER_PRODUCTS)
    safety_stock = spark.createDataFrame(
        [(i, 20 * i) for i in range(1, 9)], schemas.SAFETY_STOCK
    )
    ssw = spark.createDataFrame(
        [(1, i, 5 * i) for i in range(1, 5)], schemas.SAFETY_STOCK_BY_WAREHOUSE
    )
    return dict(
        products=products, warehouses=warehouses, suppliers=suppliers,
        supplier_products=supplier_products, safety_stock=safety_stock,
        ss_by_warehouse=ssw,
    )


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(orders=order_rows, snaps=snapshot_rows)
def test_pipeline_invariants(spark, tiny_master, orders, snaps):
    run_date = date(2026, 2, 1)
    odf = spark.createDataFrame(
        [
            (f"ORD-{i:05d}", 1, sku, qty, wh, run_date.isoformat())
            for i, (sku, wh, qty) in enumerate(orders)
        ],
        schemas.ORDERS_TYPED,
    )
    sdf = spark.createDataFrame(
        [
            (f"PROD00{sku}", run_date, f"WH00{wh}", av, rv)
            for (sku, wh, av, rv) in snaps
        ],
        schemas.INVENTORY_SNAPSHOTS,
    )
    out = pl.run_pipeline(
        orders=odf, snapshots=sdf, run_date=run_date, **tiny_master
    )
    nd = [r.asDict() for r in out["net_demand"].collect()]
    so = [r.asDict() for r in out["supplier_orders"].collect()]

    # SURVEY §5.2 invariants
    distinct_pairs = {(sku, wh) for (sku, wh, _q) in orders}
    assert len(nd) == len(distinct_pairs)
    for r in nd:
        assert r["net_demand"] >= 0
        assert r["effective_stock"] == r["available_stock"] - r["reserved_stock"]
        assert r["net_demand"] == max(
            0, r["aggregated_orders"] + r["safety_stock"] - r["effective_stock"]
        )
    pos = {(r["sku_id"], r["warehouse_id"]) for r in nd if r["net_demand"] > 0}
    assert {(r["sku_id"], r["warehouse_id"]) for r in so} == pos
    for r in so:
        assert r["order_quantity"] >= r["min_order_qty"]
        assert r["order_quantity"] >= r["net_demand"]
        assert (
            r["order_quantity"] % r["pack_size"] == 0
            or r["order_quantity"] == r["min_order_qty"]
        )
        assert r["supplier_id"] != 3  # inactive supplier never chosen
        assert abs(r["total_cost"] - r["order_quantity"] * float(r["unit_price"])) < 1e-6


def test_daily_pipeline_matches_python_and_stage_reuse(spark, tiny_master):
    """run_pipeline on fixed inputs: the recompute-everything run
    (reuse_stages=False) and the persisted-stage run agree on every frame
    and summary metric, and every net_demand row equals the Q2 arithmetic
    done in plain Python over the same inputs."""
    run_date = date(2026, 2, 1)
    day_before = date(2026, 1, 31)
    # (sku, warehouse, quantity); (1, 1) and (5, 2) take two order lines
    orders = [(1, 1, 30), (1, 1, 12), (2, 2, 50), (3, 1, 7), (4, 3, 100),
              (5, 2, 1), (5, 2, 2)]
    snaps = [
        (1, 1, run_date, 100, 10),    # effective stock 90 > demand + safety
        (3, 1, run_date, 20, 5),
        (4, 3, run_date, 50, 0),
        (6, 1, run_date, 70, 0),      # stock without demand: no output row
        (2, 2, day_before, 500, 0),   # other day: (2, 2) has no snapshot
    ]                                 # (5, 2) has no snapshot row at all
    odf = spark.createDataFrame(
        [(f"ORD-{i:05d}", 1, sku, qty, wh, run_date.isoformat())
         for i, (sku, wh, qty) in enumerate(orders)],
        schemas.ORDERS_TYPED,
    )
    sdf = spark.createDataFrame(
        [(f"PROD00{sku}", d, f"WH00{wh}", av, rv) for sku, wh, d, av, rv in snaps],
        schemas.INVENTORY_SNAPSHOTS,
    )
    keys = ("aggregated_orders", "net_demand", "supplier_orders")
    cold = pl.run_pipeline(orders=odf, snapshots=sdf, run_date=run_date,
                           reuse_stages=False, **tiny_master)
    # pin the cold results before the warm run caches the same plans
    cold_rows = {k: cold[k].collect() for k in keys}
    warm = pl.run_pipeline(orders=odf, snapshots=sdf, run_date=run_date, **tiny_master)
    try:
        assert warm["summary"] == cold["summary"]
        assert warm["failed_stages"] == cold["failed_stages"] == []
        for k in keys:
            a = spark.createDataFrame(cold_rows[k], cold[k].schema)
            b = warm[k]
            assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, k
    finally:
        warm["release"]()

    m = {k: v.collect() for k, v in tiny_master.items()}
    product = {r.sku_id: r for r in m["products"]}
    warehouse = {r.warehouse_id: r for r in m["warehouses"]}
    ss_global = {r.sku_id: r.safety_stock_qty for r in m["safety_stock"]}
    ss_override = {(r.sku_id, r.warehouse_id): r.safety_stock_qty
                   for r in m["ss_by_warehouse"]}
    stock = {(sku, wh): (av, rv) for sku, wh, d, av, rv in snaps if d == run_date}
    totals: dict = {}
    for sku, wh, qty in orders:
        totals[(sku, wh)] = totals.get((sku, wh), 0) + qty
    expected = {}
    for (sku, wh), total in totals.items():
        safety = ss_override.get((sku, wh), ss_global[sku])
        avail, resv = stock.get((sku, wh), (0, 0))
        expected[(sku, wh)] = dict(
            sku_id=sku, sku_code=product[sku].sku_code,
            product_name=product[sku].name, category=product[sku].category,
            warehouse_id=wh, warehouse_code=warehouse[wh].warehouse_code,
            warehouse_name=warehouse[wh].name, city=warehouse[wh].city,
            aggregated_orders=total, safety_stock=safety,
            available_stock=avail, reserved_stock=resv,
            effective_stock=avail - resv,
            net_demand=max(0, total + safety - (avail - resv)),
            calculation_date="01-02-2026",
        )
    got = {(r.sku_id, r.warehouse_id): r.asDict() for r in cold_rows["net_demand"]}
    assert got == expected
    assert expected[(1, 1)]["net_demand"] == 0 and expected[(5, 2)]["available_stock"] == 0
    assert cold["summary"]["total_net_demand"] == sum(e["net_demand"] for e in expected.values())
    assert {(r.sku_id, r.warehouse_id) for r in cold_rows["supplier_orders"]} == {
        k for k, e in expected.items() if e["net_demand"] > 0
    }


def test_approx_quantiles_within_rank_error(spark, duck):
    """GK-sketch guarantee: each approximate quantile must sit within the
    exact value window [q - eps, q + eps] with eps = 1/accuracy rank error
    (generous 10x slack for tiny-group edge effects).  The registry query
    now asserts the rank bound itself (p*_rank_ok booleans — checked
    first); the DuckDB re-derivation below verifies the same guarantee
    INDEPENDENTLY of the query's own join logic."""
    import pyspark.sql.functions as F

    from procurement_system_bigdata_spark.catalog import load_table
    from procurement_system_bigdata_spark.queries.analytics import (
        APPROX_PCT_ACCURACY,
        q_approx_quantiles,
    )
    from conftest import SF_DIR

    for r in q_approx_quantiles(spark, SF_DIR).collect():
        assert r.p25_rank_ok and r.p50_rank_ok and r.p75_rank_ok, r

    pct = F.percentile_approx(
        "value",
        F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)),
        F.lit(APPROX_PCT_ACCURACY),
    )
    got = {
        r.event_type: r
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(pct[0].alias("p25_approx"), pct[1].alias("p50_approx"),
             pct[2].alias("p75_approx"))
        .collect()
    }
    for et, row in got.items():
        for target, val in ((0.25, row.p25_approx), (0.5, row.p50_approx),
                            (0.75, row.p75_approx)):
            # the sketch returns an actual data value; its true rank fraction
            # must be within the sketch's rank error (+ discreteness slack)
            n, n_le = duck.execute(
                f"""SELECT COUNT(*), COUNT(*) FILTER (value <= {val})
                    FROM events WHERE event_type = '{et}'"""
            ).fetchone()
            eps = 10.0 / APPROX_PCT_ACCURACY + 1.5 / n
            assert target - eps <= n_le / n, (et, target, val, n_le / n)
            n_lt = duck.execute(
                f"""SELECT COUNT(*) FILTER (value < {val})
                    FROM events WHERE event_type = '{et}'"""
            ).fetchone()[0]
            assert n_lt / n <= target + eps, (et, target, val, n_lt / n)


# ---------------------------------------------------------------------------
# Property-based invariants for the text/codec extension operators.
# Pure-Python properties run at full hypothesis throughput; Spark-backed
# ones use few examples with batched rows (session round-trips are the cost).
# ---------------------------------------------------------------------------

_texts = st.text(
    alphabet=st.characters(codec="ascii", exclude_characters="\x00"),
    min_size=0,
    max_size=200,
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(texts=st.lists(_texts, min_size=1, max_size=25))
def test_pii_scrub_is_idempotent_and_entropy_bounded(spark, texts):
    """scrub(scrub(x)) == scrub(x) (redaction tokens contain nothing the
    patterns can re-match), and 0 <= H <= log2(distinct chars)."""
    import math

    from procurement_system_bigdata_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    once = text_ops.pii_scrub(docs).select(
        "doc_id", F.col("scrubbed_text").alias("text")
    )
    twice = text_ops.pii_scrub(once).select("doc_id", "scrubbed_text")
    joined = once.join(twice, "doc_id").collect()
    for r in joined:
        assert r.text == r.scrubbed_text, "scrub must be idempotent"

    ent = {r.doc_id: r for r in text_ops.char_entropy(docs).collect()}
    for i, t in enumerate(texts):
        h = ent[i].entropy_bits
        distinct = len(set(t))
        assert h >= 0.0
        if distinct > 0:
            assert h <= math.log2(distinct) + 1e-6


@given(
    mid=st.integers(min_value=0, max_value=10**9),
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=40),
    out_w=st.integers(min_value=1, max_value=40),
    out_h=st.integers(min_value=1, max_value=40),
)
@settings(max_examples=50, deadline=None)
def test_codec_roundtrip_and_resize_properties(mid, w, h, out_w, out_h):
    """PPM encode/decode is an exact roundtrip for any dims; nearest resize
    hits the requested shape and only ever emits source pixels."""
    import numpy as np

    from procurement_system_bigdata_spark.operators import codecs

    arr = codecs.decode_ppm(codecs.synthesize_image(mid, w, h))
    assert arr.shape == (h, w, 3)
    assert (codecs.decode_ppm(codecs.encode_ppm(arr)) == arr).all()
    resized = codecs.resize_nearest(arr, out_w, out_h)
    assert resized.shape == (out_h, out_w, 3)
    src_px = {tuple(p) for p in arr.reshape(-1, 3)}
    assert {tuple(p) for p in resized.reshape(-1, 3)} <= src_px


@given(rate=st.sampled_from([4000, 8000, 16000]), n=st.integers(1, 4000))
@settings(max_examples=25, deadline=None)
def test_wav_roundtrip_tolerance(rate, n):
    """16-bit PCM WAV roundtrip distorts by at most one quantization step."""
    import numpy as np

    from procurement_system_bigdata_spark.operators import codecs

    x = 0.8 * np.sin(np.arange(n) * 0.37)
    y, r = codecs.decode_wav(codecs.encode_wav(x, rate))
    assert r == rate and len(y) == n
    # error budget: half-step rounding plus the 32767-encode / 32768-decode
    # scale asymmetry (|x| <= 1) -> under two quantization steps total
    assert float(np.max(np.abs(x - y))) <= 2.0 / 32768.0


def test_running_total_two_phase_equals_window(spark):
    """The two-phase prefix sum must equal the single-partition running
    window exactly, on exact integer values, at every row."""
    from procurement_system_bigdata_spark.operators.ranking import (
        with_running_total,
    )

    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_quantity").cast("long") * 100).alias("qty_cents"),
        "l_extendedprice",
    )
    order = [
        F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")
    ]
    key = lambda r: (r.l_extendedprice, r.l_orderkey, r.l_linenumber)  # noqa: E731
    fast = {
        key(r): r.running_total
        for r in with_running_total(
            li, order, "qty_cents",
            num_partitions=7, single_partition_max_rows=0,
        ).collect()
    }
    from pyspark.sql.window import Window

    w = Window.orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    slow = {
        key(r): r.running_total
        for r in li.withColumn(
            "running_total", F.sum("qty_cents").over(w).cast("long")
        ).collect()
    }
    assert len(fast) == li.count()
    assert fast == slow
    adaptive = {
        key(r): r.running_total
        for r in with_running_total(li, order, "qty_cents").collect()
    }
    assert adaptive == slow


def test_running_total_null_values_identical_on_both_paths(spark):
    """NULL values count as 0 on BOTH adaptive paths (review round 5: the
    two-phase local cumsum used to return NULL where the one-task window
    skipped the NULL and carried the running sum through)."""
    from procurement_system_bigdata_spark.operators.ranking import (
        with_running_total,
    )

    df = spark.createDataFrame(
        [(1, 5), (2, None), (3, 7), (4, None)], "k long, v long"
    )
    order = [F.asc("k")]
    small = {
        r.k: r.running_total
        for r in with_running_total(df, order, "v").collect()
    }
    two_phase = {
        r.k: r.running_total
        for r in with_running_total(
            df, order, "v", num_partitions=3, single_partition_max_rows=0
        ).collect()
    }
    assert small == two_phase == {1: 5, 2: 5, 3: 12, 4: 12}
