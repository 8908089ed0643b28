"""D2: per-stage retry policy (reference dags/pipeline.py:806-811 —
retries=2, retry_delay=5min on every task) and its D4 interplay (the
all_done summary still emits, 0-defaulted, when a stage exhausts retries).

The transient fault is injected as a REAL failing Spark job (a mapInPandas
task that raises until a cross-attempt counter file passes the threshold),
so the retry wrapper is exercised against actual job failures, not mocked
exceptions."""

from __future__ import annotations

from datetime import date
from pathlib import Path

import pytest

from procurement_system_bigdata_spark.operators import pipeline as pl
from procurement_system_bigdata_spark.sources import readers
from procurement_system_bigdata_spark.sources.master_sql import master_data_frames

REF = Path("/root/reference/data")
RUN_DATE = date(2026, 1, 14)
DAY = "14-01-2026"


# --- retry_stage unit semantics ------------------------------------------

def test_retry_stage_fail_twice_then_succeed():
    calls = {"n": 0}
    sleeps: list[float] = []

    def flaky():
        calls["n"] += 1
        if calls["n"] <= 2:
            raise RuntimeError("transient")
        return "ok"

    out = pl.retry_stage(
        flaky, stage="t", retries=2, delay_sec=7.5, sleep=sleeps.append
    )
    assert out == "ok"
    assert calls["n"] == 3
    assert sleeps == [7.5, 7.5]


def test_retry_stage_exhausts_and_reraises():
    calls = {"n": 0}

    def always_fails():
        calls["n"] += 1
        raise ValueError("permanent")

    with pytest.raises(ValueError, match="permanent"):
        pl.retry_stage(
            always_fails, stage="t", retries=2, delay_sec=0.0, sleep=lambda _: None
        )
    assert calls["n"] == 3  # first attempt + 2 retries, like the reference


def test_retry_stage_no_retry_on_success():
    sleeps: list[float] = []
    assert pl.retry_stage(lambda: 42, sleep=sleeps.append) == 42
    assert sleeps == []


# --- pipeline-level integration ------------------------------------------

def _flaky_scan(df, counter_path: str, fail_times: int):
    """Wrap df so each JOB that scans it raises until the scan counter (a
    file, shared across retry attempts) reaches fail_times.  coalesce(1)
    keeps it one task per scan so the count is deterministic; local mode has
    no task-level retries, so each raise fails the whole job attempt."""
    schema = df.schema

    def gen(batches):
        try:
            with open(counter_path) as f:
                n = int(f.read().strip() or 0)
        except FileNotFoundError:
            n = 0
        with open(counter_path, "w") as f:
            f.write(str(n + 1))
        if n < fail_times:
            raise RuntimeError(f"injected transient failure #{n}")
        yield from batches

    return df.coalesce(1).mapInPandas(gen, schema)


@pytest.fixture(scope="module")
def pipeline_inputs(spark):
    master = master_data_frames(spark)
    orders = readers.read_orders_csv(
        spark, str(REF / "raw/orders" / DAY / "orders.csv")
    )
    snaps = readers.read_snapshots_json(
        spark, str(REF / "raw/snapshots" / DAY / "snapshot.json")
    )
    return master, orders, snaps


def _run(master, orders, snaps, **kw):
    return pl.run_pipeline(
        orders=orders,
        products=master["products"],
        warehouses=master["warehouses"],
        suppliers=master["suppliers"],
        supplier_products=master["supplier_products"],
        safety_stock=master["safety_stock"],
        ss_by_warehouse=master["safety_stock_by_warehouse"],
        snapshots=snaps,
        run_date=RUN_DATE,
        **kw,
    )


def test_pipeline_recovers_from_transient_stage_failure(
    pipeline_inputs, tmp_path
):
    """A stage failing twice then succeeding yields the COMPLETE summary —
    identical to a clean run — with both retry delays taken."""
    master, orders, snaps = pipeline_inputs
    clean = _run(master, orders, snaps)
    clean_summary = clean["summary"]
    clean["release"]()

    sleeps: list[float] = []
    flaky = _flaky_scan(orders, str(tmp_path / "ctr"), fail_times=2)
    out = _run(
        master,
        flaky,
        snaps,
        stage_retries=2,
        retry_delay_sec=1.5,
        retry_sleep=sleeps.append,
    )
    assert out["failed_stages"] == []
    assert out["summary"] == clean_summary
    assert sleeps == [1.5, 1.5]
    out["release"]()


def test_pipeline_summary_emits_zero_defaults_on_exhausted_retries(
    pipeline_inputs, tmp_path
):
    """D4 interplay: when retries are exhausted the run does NOT raise — the
    all_done summary emits with every metric present and 0-defaulted for the
    failed stages, and failed_stages names them."""
    master, orders, snaps = pipeline_inputs
    flaky = _flaky_scan(orders, str(tmp_path / "ctr"), fail_times=10_000)
    out = _run(
        master,
        flaky,
        snaps,
        stage_retries=1,
        retry_delay_sec=0.0,
        retry_sleep=lambda _: None,
    )
    summary = out["summary"]
    expected_keys = {
        "run_date", "orders_count", "aggregated_count", "net_demand_count",
        "total_net_demand", "items_with_demand", "supplier_orders_count",
        "total_cost",
    }
    assert set(summary) == expected_keys  # complete despite failures
    assert summary["run_date"] == RUN_DATE.isoformat()
    for k in expected_keys - {"run_date"}:
        assert summary[k] == 0, k
    assert "generate_supplier_orders" in out["failed_stages"]
    assert "orders_count" in out["failed_stages"]
    assert out["supplier_orders"] is None
    out["release"]()
