"""The benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  It generates the workload's inputs from
the seed (the daily job's files; for the warm-session workloads, whose
tables are fixed, the query order), computes the expected answers with
DuckDB, runs the workload as a closed loop with one client for
``--seconds`` seconds on a Spark ``local[N]`` session (N = the CPUs this
process may use), checks every operation's output, and prints one JSON
object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
they are the per-layer ones, and the span trees of every operation go to
``.perfbench_out/trace-<workload>-s<seed>.json``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
from datetime import date

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "procurement_system_bigdata_spark"
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import spans  # noqa: E402

CHILD_TIMEOUT_S = 150
# The warm-session workloads read one fixed set of tables; their --seed
# shuffles the query order of every pass.  Tables drawn per seed would add
# the spread of the data (how many near-duplicate pairs a draw holds) to
# the spread of the timings.
TABLE_SEED = 42
GROUP_EXIT_WAIT_S = 10

WORKLOADS: dict[str, dict] = {
    "daily_run": {
        "kind": "daily",
        "size": gen.DailySize(skus=400, warehouses=10, suppliers=30, orders=50_000,
                              history_days=2, dup_frac=0.05),
        "run_date": date(2026, 1, 14),
        "min_ops": 1,
    },
    "olap_queries": {
        "kind": "session",
        "size": gen.table_size(0.002, documents=100, embeddings=100),
        "queries": ["aggregate_orders", "net_demand", "supplier_orders", "market_share",
                    "events_hourly_rollup", "cube_revenue"],
        "min_passes": 1,
    },
    "dedup_queries": {
        "kind": "session",
        "size": gen.table_size(0.0002, documents=120, embeddings=120),
        "queries": ["dedup_minhash_lsh", "simhash_neardup", "cluster_safe_split",
                    "embedding_neardup", "image_neardup", "audio_neardup", "media_decode_audio"],
        "min_passes": 1,
    },
}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _child_env(work: str, traced: bool) -> dict[str, str]:
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    confs = ["spark.ui.showConsoleProgress=false",
             # keep the JVM's temp files, perf-data file included, in the checkout
             f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    if traced:
        confs += ["spark.ui.retainedJobs=100000", "spark.ui.retainedStages=100000",
                  "spark.sql.ui.retainedExecutions=100000"]
    env.update({
        "SPARK_GRAFT_CPUS": str(_cores()),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {shlex.quote(c)}" for c in confs)
        + " pyspark-shell",
    })
    env.pop("SPARK_GRAFT_SF_DIR", None)
    return env


def _run_child(cmd: list[str], env: dict, cwd: str) -> tuple[int, float, str]:
    """Run ``cmd`` in its own process group; returns (exit code, wall
    seconds, stderr tail).  The whole group is killed on timeout, and in
    any case once ``cmd`` has ended, and waited for."""
    start = time.perf_counter()
    proc = subprocess.Popen(cmd, env=env, cwd=cwd, stdout=subprocess.DEVNULL,
                            stderr=subprocess.PIPE, text=True, start_new_session=True)
    try:
        _out, err = proc.communicate(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        _out, err = proc.communicate()
    wall = time.perf_counter() - start
    # stragglers of the group (the JVM's children) must not outlive the run
    deadline = time.monotonic() + GROUP_EXIT_WAIT_S
    try:
        os.killpg(proc.pid, signal.SIGKILL)
        while time.monotonic() < deadline:
            os.killpg(proc.pid, 0)  # raises once no process of the group is left
            time.sleep(0.05)
    except ProcessLookupError:
        pass
    return proc.returncode, wall, (err or "")[-2000:]


# --- the daily job ---------------------------------------------------------------


def run_daily(spec: dict, args, work: str) -> dict:
    raw = os.path.join(work, "raw")
    facts = gen.write_daily(raw, args.seed, spec["run_date"], spec["size"])
    day = spec["run_date"].strftime("%d-%m-%Y")
    orders_csv = f"{raw}/orders/{day}/orders.csv"
    snapshot_json = f"{raw}/snapshots/{day}/snapshot.json"
    expect = oracle.daily_answer(facts["init_sql"], orders_csv, snapshot_json, spec["run_date"])
    rows_in = facts["orders_rows"] + facts["snapshot_rows"]

    ops: list[dict] = []
    start = time.perf_counter()
    n_ops = 2 if args.trace else None
    while (len(ops) < n_ops) if n_ops else (
            len(ops) < spec["min_ops"] or time.perf_counter() - start < args.seconds):
        i = len(ops)
        traced = bool(args.trace) and i == 1
        out_root = os.path.join(work, "out", str(i))
        report = os.path.join(work, f"report-{i}.json")
        cmd = [sys.executable, os.path.join(HERE, "daily_op.py"), report, "1" if traced else "0",
               "--", "--date", spec["run_date"].isoformat(), "--raw-root", raw,
               "--out-root", out_root, "--init-sql", facts["init_sql"]]
        code, wall, err = _run_child(cmd, _child_env(work, bool(args.trace)), work)
        op = {"id": f"op{i}", "wall_s": wall, "traced": traced, "error": None}
        if code != 0 or not os.path.exists(report):
            op["error"] = f"exit {code}: {err[-500:]}"
        else:
            with open(report) as f:
                op.update(json.load(f))
            op["error"] = _check_daily(op["summary"], expect, out_root, spec["run_date"])
        ops.append(op)
        shutil.rmtree(out_root, ignore_errors=True)
    good = [op for op in ops if "session_s" in op]
    return {
        "ops": ops,
        "rows_per_op": rows_in,
        "setup_samples": [op["session_cpu_s"] for op in good],
        "setup_wall_samples": [op["session_s"] for op in good],
        # the operation that used the most memory
        "rss_by_process": max((op["rss_by_process"] for op in good), default=[],
                              key=lambda r: sum(mb for _pid, _name, mb in r)),
        "facts": dict({k: v for k, v in facts.items() if k != "init_sql"}, expected=expect),
    }


def _check_daily(summary: dict, expect: dict, out_root: str, run_date: date) -> str | None:
    for key in ("aggregated_count", "total_net_demand", "supplier_orders_count"):
        if summary.get(key) != expect[key]:
            return f"{key}: got {summary.get(key)}, expected {expect[key]}"
    got, want = float(summary.get("total_cost", 0.0)), float(expect["total_cost"] or 0.0)
    if abs(got - want) > 1e-9 * max(1.0, abs(want)):
        return f"total_cost: got {got}, expected {want}"
    day = run_date.strftime("%d-%m-%Y")
    for family, name, key in (("processed", "aggregated_orders", "aggregated_count"),
                              ("processed", "net_demand", "aggregated_count"),
                              ("output", "supplier_orders", "supplier_orders_count")):
        path = os.path.join(out_root, family, name, day, f"{name}.csv")
        if not os.path.exists(path):
            return f"missing {family}/{name}.csv"
        n = oracle.csv_rows(path)
        if n != expect[key]:
            return f"{name}.csv: {n} rows, expected {expect[key]}"
    return None


# --- warm-session workloads -----------------------------------------------------


def run_session(spec: dict, args, work: str) -> dict:
    sf_dir = os.path.join(work, "tables")
    file_bytes = gen.write_tables(sf_dir, TABLE_SEED, spec["size"])
    cfg = {
        "sf_dir": sf_dir, "queries": spec["queries"], "seed": args.seed,
        "seconds": args.seconds, "min_passes": spec["min_passes"], "trace": bool(args.trace),
        "out": os.path.join(work, "session.json"),
        "dead_letters": os.path.join(work, "dead_letters"),
    }
    cfg_path = os.path.join(work, "session-config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    code, _wall, err = _run_child(
        [sys.executable, os.path.join(HERE, "session_run.py"), cfg_path],
        _child_env(work, bool(args.trace)), work)
    if code != 0 or not os.path.exists(cfg["out"]):
        raise RuntimeError(f"session run failed (exit {code}): {err}")
    with open(cfg["out"]) as f:
        res = json.load(f)
    # the child reports each spec's oracle SQL, so this process need not
    # import the query registry
    expect = oracle.registry_answers(sf_dir, res["oracles"])
    rows = {t: getattr(spec["size"], t, None) for t in oracle.TABLES}
    rows.update(region=5, nation=25)
    check_session_ops(res["ops"], expect)
    for op in res["ops"]:
        op["rows_in"] = sum(rows[t] for t in res["tables_read"][op["query"]])
    return {
        "ops": res["ops"],
        "setup_samples": [res["setup_cpu_s"]],
        "setup_wall_samples": [res["setup_s"]],
        "rss_by_process": res["rss_by_process"],
        "setup_trace": res.get("setup_trace"),
        "facts": {"table_rows": rows, "table_bytes": file_bytes,
                  "tables_read": res["tables_read"], "warmup_s": res["warmup_s"],
                  "shuffle_partitions": res["shuffle_partitions"]},
    }


def check_session_ops(ops: list[dict], expect: dict[str, oracle.Answer]) -> None:
    """Mark every op whose result differs from DuckDB's answer as failed."""
    for op in ops:
        if op["error"] is None:
            want = expect[op["query"]]
            got = oracle.Answer(op["answer"][0], tuple(op["answer"][1]), op["answer"][2])
            if got != want:
                op["error"] = (f"wrong answer: {got.rows} rows vs {want.rows}, "
                               f"hash {got.digest[:12]} vs {want.digest[:12]}")


# --- reporting ---------------------------------------------------------------------


def mix_median(ops: list[dict], key: str) -> float:
    """``key`` of one operation of the workload's fixed mix: per operation
    type (the query; a daily run is one type), the median over the run's
    repetitions, then the mean over the types.  Unlike one median over all
    operations, it cannot jump between two query types' timings."""
    by_type: dict[str, list[float]] = {}
    for op in ops:
        by_type.setdefault(op.get("query", "daily"), []).append(op[key])
    return statistics.fmean(statistics.median(v) for v in by_type.values())


def end_to_end(run: dict) -> dict[str, tuple[float, str, int]]:
    # a daily operation whose process failed has no figures; if none has
    # any, the run still prints its (failed) result, with zeros
    ops = [op for op in run["ops"] if "cpu_s" in op]
    rows_in = sum(op.get("rows_in", run.get("rows_per_op", 0)) for op in ops)
    cpu = sum(op["cpu_s"] for op in ops)
    setup = run["setup_samples"]
    return {
        "op_cpu_s": (mix_median(ops, "cpu_s") if ops else 0.0, "s", len(ops)),
        "rows_per_cpu_s": (rows_in / cpu if cpu else 0.0, "rows/s", len(ops)),
        "setup_s": (statistics.median(setup) if setup else 0.0, "s", len(setup)),
    }


def per_layer(run: dict, workload: str, seed: int) -> dict[str, tuple[float, str, int]]:
    traced = [op for op in run["ops"] if op["traced"]]
    untraced = [op for op in run["ops"] if not op["traced"]]
    records = [op["trace"] for op in traced if "trace" in op]
    values = spans.layer_metrics(records, _cores())
    if run.get("setup_trace"):
        values["session.start_s"] = sum(
            s["dur_s"] for s in run["setup_trace"]["spans"] if s["layer"] == "session")
    # a daily operation reads its own counters before it exits; that is not
    # tracing overhead
    overhead = (sum(op["wall_s"] - op.get("bookkeeping_s", 0.0) for op in traced)
                / max(1, len(traced))
                - sum(op["wall_s"] for op in untraced) / max(1, len(untraced)))
    values["trace.overhead_s"] = overhead
    values["wall.op_s"] = mix_median(untraced, "wall_s")
    values.update(spans.memory(run["rss_by_process"]))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{workload}-s{seed}.json")
    with open(path, "w") as f:
        json.dump({
            "workload": workload, "seed": seed, "host": host_facts(),
            "per_layer": values,
            "tracing_overhead_s_per_op": overhead,
            "untraced_op_wall_s": {op["id"]: op["wall_s"] for op in untraced},
            "traced_op_wall_s": {op["id"]: op["wall_s"] for op in traced},
            "span_trees": {op["id"]: op["trace"]["tree"] for op in traced if "trace" in op},
            "spark_by_op": {op["id"]: op["trace"]["spark"] for op in traced if "trace" in op},
            "setup_trace": run.get("setup_trace"),
            "inputs": run["facts"],
        }, f, indent=1, default=str)
    print(f"trace written to {os.path.relpath(path, ROOT)}")
    n = len(records)
    return {k: (v, spans.PER_LAYER[k][0], n) for k, v in values.items()}


def host_facts() -> dict:
    import duckdb
    import pyspark

    return {
        "nproc": _cores(), "SPARK_GRAFT_CPUS": str(_cores()),
        "pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
        "python": platform.python_version(), "machine": platform.machine(),
        "page_cache": "inputs are written by the generator just before the run, "
                      "so they are read from a hot OS page cache",
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: package {PACKAGE}/ not found next to perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    spec = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        run = (run_daily if spec["kind"] == "daily" else run_session)(spec, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print("# inputs " + json.dumps(run["facts"], default=str))
    for op in run["ops"]:
        print(f"# op {op['id']} {op['wall_s']:.3f} s wall {op.get('cpu_s', 0.0):.2f} s cpu"
              f"{' traced' if op['traced'] else ''}")
    failed = [op for op in run["ops"] if op["error"]]
    for op in failed:
        print(f"FAILED {op['id']} {op.get('query', '')}: {op['error']}", file=sys.stderr)
    metrics = per_layer(run, args.workload, args.seed) if args.trace else end_to_end(run)
    attempted = len(run["ops"])
    print(f"# {args.workload} seed={args.seed} ops={attempted} failed={len(failed)} "
          f"fail_frac={len(failed) / attempted:.4f}")
    for name, (value, unit, n) in metrics.items():
        print(f"# {name} = {value:.6g} {unit} (samples: {n})")
    if not args.trace:  # reported, but too unsteady to bound (README)
        print(f"# op_wall_s = {mix_median(run['ops'], 'wall_s'):.6g} s "
              f"(samples: {attempted})")
        setup_wall = run["setup_wall_samples"]
        print(f"# setup_wall_s = {statistics.median(setup_wall) if setup_wall else 0.0:.6g} s "
              f"(samples: {len(setup_wall)})")
        print("# memory " + json.dumps({k: round(v, 1) for k, v in
                                        spans.memory(run["rss_by_process"]).items()}))
    print(json.dumps({
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": {name: {"value": value, "unit": unit}
                    for name, (value, unit, _n) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
