"""The benchmark's own tests: inputs, answers and the output check.

    python3 -m pytest perfbench/test_perfbench.py -q

They need DuckDB but no Spark session, and take a few seconds.
"""

from __future__ import annotations

import csv
import json
import os
import shutil
import subprocess
import sys
from datetime import date

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402

RUN_DATE = date(2026, 1, 14)
SMALL_DAY = gen.DailySize(skus=30, warehouses=4, suppliers=8, orders=2_000,
                          history_days=3, dup_frac=0.2)


@pytest.fixture(scope="module")
def day(tmp_path_factory):
    raw = str(tmp_path_factory.mktemp("raw"))
    facts = gen.write_daily(raw, 5, RUN_DATE, SMALL_DAY)
    d = RUN_DATE.strftime("%d-%m-%Y")
    return {
        "facts": facts,
        "orders_csv": f"{raw}/orders/{d}/orders.csv",
        "snapshot_json": f"{raw}/snapshots/{d}/snapshot.json",
    }


@pytest.fixture(scope="module")
def tables(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("tables"))
    gen.write_tables(out, 9, gen.table_size(0.0005, documents=40, embeddings=40))
    return out


# --- inputs ---------------------------------------------------------------------


def test_same_seed_same_bytes(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    size = gen.table_size(0.0002, documents=20, embeddings=20)
    gen.write_tables(a, 1, size)
    gen.write_tables(b, 1, size)
    gen.write_tables(c, 2, size)
    for t in oracle.TABLES:
        with open(f"{a}/{t}.parquet", "rb") as fa, open(f"{b}/{t}.parquet", "rb") as fb:
            assert fa.read() == fb.read(), t
    with open(f"{a}/lineitem.parquet", "rb") as fa, open(f"{c}/lineitem.parquet", "rb") as fc:
        assert fa.read() != fc.read()


def test_daily_inputs_have_history_and_duplicate_keys(day):
    with open(day["snapshot_json"]) as f:
        snaps = json.load(f)
    dates = {s["snapshot_date"] for s in snaps}
    assert len(dates) == SMALL_DAY.history_days
    keys = [(s["sku_code"], s["snapshot_date"], s["warehouse_code"]) for s in snaps]
    assert len(keys) - len(set(keys)) == day["facts"]["snapshot_duplicate_rows"] > 0


def test_init_sql_parses_with_the_package_loader(day):
    from procurement_system_bigdata_spark.sources import master_sql

    ins = master_sql.parse_inserts(day["facts"]["init_sql"])
    assert len(ins["products"]) == SMALL_DAY.skus
    assert len(ins["warehouses"]) == SMALL_DAY.warehouses
    assert len(ins["suppliers"]) == SMALL_DAY.suppliers
    assert len(ins["safety_stock"]) == SMALL_DAY.skus
    assert all(len(r) == 8 for r in ins["supplier_products"])


# --- answers --------------------------------------------------------------------


def _python_daily(day) -> tuple[int, int]:
    """(aggregated_count, total_net_demand) in plain Python, a second
    independent reading of the reference's Q1 and Q2."""
    from procurement_system_bigdata_spark.sources import master_sql

    ins = master_sql.parse_inserts(day["facts"]["init_sql"])
    skus = {i + 1: r[0] for i, r in enumerate(ins["products"])}
    whs = {i + 1: r[0] for i, r in enumerate(ins["warehouses"])}
    total: dict[tuple[int, int], int] = {}
    with open(day["orders_csv"]) as f:
        for r in csv.DictReader(f):
            k = (int(r["sku_id"]), int(r["warehouse_id"]))
            if k[0] in skus and k[1] in whs:
                total[k] = total.get(k, 0) + int(r["quantity"])
    ss = {sku: qty for sku, qty, _ts in ins["safety_stock"]}
    ssw = {(sku, wh): qty for wh, sku, qty, _ts in ins["safety_stock_by_warehouse"]}
    inv = {}
    with open(day["snapshot_json"]) as f:
        for s in json.load(f):  # file order: the last write wins
            if s["snapshot_date"] == RUN_DATE.isoformat():
                inv[(s["sku_code"], s["warehouse_code"])] = (s["available_qty"], s["reserved_qty"])
    net = 0
    for (sku, wh), qty in total.items():
        safety = ssw.get((sku, wh), ss.get(sku, 0)) if sku in ss else 0
        avail, resv = inv.get((skus[sku], whs[wh]), (0, 0))
        net += max(0, qty + safety - (avail - resv))
    return len(total), net


def test_duckdb_daily_answer_matches_plain_python(day):
    ans = oracle.daily_answer(day["facts"]["init_sql"], day["orders_csv"],
                              day["snapshot_json"], RUN_DATE)
    assert (ans["aggregated_count"], ans["total_net_demand"]) == _python_daily(day)
    assert 0 < ans["supplier_orders_count"] <= ans["aggregated_count"]
    assert ans["total_cost"] > 0


def test_last_write_wins_changes_the_answer(day, tmp_path):
    """Dropping the re-written tail of the snapshot file must change the
    answer, so the duplicates really exercise last-write-wins."""
    with open(day["snapshot_json"]) as f:
        snaps = json.load(f)
    first_writes = tmp_path / "first.json"
    first_writes.write_text(json.dumps(snaps[: len(snaps) - day["facts"]["snapshot_duplicate_rows"]]))
    full = oracle.daily_answer(day["facts"]["init_sql"], day["orders_csv"],
                               day["snapshot_json"], RUN_DATE)
    trimmed = oracle.daily_answer(day["facts"]["init_sql"], day["orders_csv"],
                                  str(first_writes), RUN_DATE)
    assert full["total_net_demand"] != trimmed["total_net_demand"]


# --- the output check -----------------------------------------------------------

SQL = "SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS q FROM lineitem GROUP BY 1"


def _op(tables, query="flags"):
    import duckdb

    con = duckdb.connect()
    res = con.execute(SQL.replace("lineitem", f"read_parquet('{tables}/lineitem.parquet')"))
    ans = oracle.Answer.of([d[0] for d in res.description], res.fetchall())
    con.close()
    return {"id": f"p0:{query}", "query": query, "error": None,
            "answer": [ans.rows, list(ans.columns), ans.digest]}


def test_right_answer_passes(tables):
    op = _op(tables)
    run.check_session_ops([op], oracle.registry_answers(tables, {"flags": SQL}))
    assert op["error"] is None


def test_corrupted_expected_answer_counts_as_failed(tables):
    expect = oracle.registry_answers(tables, {"flags": SQL})
    good, bad = _op(tables), _op(tables)
    corrupt = expect["flags"]
    run.check_session_ops([good], expect)
    run.check_session_ops([bad], {"flags": oracle.Answer(corrupt.rows, corrupt.columns,
                                                         "0" * 64)})
    assert good["error"] is None
    assert bad["error"] and bad["error"].startswith("wrong answer")
    wrong_rows = _op(tables)
    run.check_session_ops([wrong_rows], {"flags": oracle.Answer(
        corrupt.rows + 1, corrupt.columns, corrupt.digest)})
    assert wrong_rows["error"]


def test_float_noise_below_nine_places_is_tolerated():
    a = oracle.value_hash(["x"], [(0.1 + 0.2,)])
    b = oracle.value_hash(["x"], [(0.3,)])
    assert a == b
    assert oracle.value_hash(["x", "y"], [(1, 2), (3, 4)]) == oracle.value_hash(
        ["y", "x"], [(4, 3), (2, 1)])


def _write_outputs(out_root, counts):
    d = RUN_DATE.strftime("%d-%m-%Y")
    for family, name, n in (("processed", "aggregated_orders", counts[0]),
                            ("processed", "net_demand", counts[0]),
                            ("output", "supplier_orders", counts[1])):
        path = os.path.join(out_root, family, name, d)
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, f"{name}.csv"), "w") as f:
            f.write("a,b\n" + "".join(f"{i},x\n" for i in range(n)))


def test_daily_check_catches_each_kind_of_error(tmp_path):
    expect = {"aggregated_count": 5, "total_net_demand": 40, "supplier_orders_count": 3,
              "total_cost": 123.5}
    summary = dict(expect)
    _write_outputs(str(tmp_path), (5, 3))
    assert run._check_daily(summary, expect, str(tmp_path), RUN_DATE) is None
    for key, value in (("total_net_demand", 41), ("aggregated_count", 4),
                       ("supplier_orders_count", 2), ("total_cost", 123.5001)):
        corrupted = dict(expect, **{key: value})
        assert run._check_daily(summary, corrupted, str(tmp_path), RUN_DATE), key
    short = tmp_path / "short"
    _write_outputs(str(short), (5, 2))
    assert "supplier_orders.csv" in run._check_daily(summary, expect, str(short), RUN_DATE)


# --- tracing helpers and the command's failure mode --------------------------------


def test_metric_parsing_and_union():
    assert spans.parse_metric("total (min, med, max)\n8.5 KiB (2.1 KiB, ...)") == 8.5 * 1024
    assert spans.parse_metric("1,000") == 1000
    assert spans.parse_metric("total\n1.2 s (272 ms, ...)") == pytest.approx(1.2)
    assert spans._union_length([(0, 2), (1, 3), (5, 6)]) == 4


def test_peak_rss_of_this_process():
    mem = spans.memory(spans.rss_tree(os.getpid()))
    assert mem["memory.peak_rss_mb"] == mem["memory.python_hwm_mb"] > 1


def test_cpu_time_counts_reaped_children():
    before = spans.cpu_tree(os.getpid())
    subprocess.run([sys.executable, "-c", "sum(range(3_000_000))"], check=True)
    assert spans.cpu_tree(os.getpid()) - before >= 0.01


def test_mix_median_takes_each_type_once():
    ops = [{"query": "a", "cpu_s": 1.0}, {"query": "a", "cpu_s": 3.0},
           {"query": "b", "cpu_s": 10.0}, {"query": "b", "cpu_s": 10.0},
           {"query": "b", "cpu_s": 99.0}]
    assert run.mix_median(ops, "cpu_s") == pytest.approx((2.0 + 10.0) / 2)
    assert run.mix_median([{"cpu_s": 5.0}, {"cpu_s": 7.0}, {"cpu_s": 100.0}], "cpu_s") == 7.0


def test_a_run_whose_only_daily_op_failed_still_reports():
    failed = {"ops": [{"id": "op0", "wall_s": 3.0, "error": "exit 1"}], "rows_per_op": 10,
              "setup_samples": [], "setup_wall_samples": []}
    assert {k: v for k, (v, _unit, _n) in run.end_to_end(failed).items()} == {
        "op_cpu_s": 0.0, "rows_per_cpu_s": 0.0, "setup_s": 0.0}


def test_without_the_package_the_command_fails(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "daily_run", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_benchmark_json_matches_the_workloads():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)
    assert {m["name"] for m in bench["per_layer"]} == set(spans.PER_LAYER)
    assert {m["name"] for m in bench["end_to_end"]} == {
        "op_cpu_s", "rows_per_cpu_s", "setup_s"}
    assert bench["paths"] == ["perfbench"]
