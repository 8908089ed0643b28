"""One warm-session workload run in a fresh process.

``python3 perfbench/session_run.py <config.json>`` starts the package's
SparkSession, runs one warm-up pass over the workload's queries, then runs
closed-loop passes (one client, each query collected to the driver) until
``seconds`` have passed and at least ``min_passes`` passes are done.  Query
order is shuffled per pass from the seed.  Results are hashed after the
timed window and written, with the timings, to ``config["out"]``; the
parent compares the hashes with DuckDB's answers.

With ``trace`` set, the timed window is one untraced pass and then the same
pass again with the tracer installed; the difference is the tracing
overhead.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import oracle  # noqa: E402
import spans as tr  # noqa: E402


def _pass_order(queries: list[str], seed: int, n: int) -> list[str]:
    order = list(queries)
    random.Random(f"{seed}:{n}").shuffle(order)
    return order


def main(cfg: dict) -> dict:
    tracer = tr.Tracer() if cfg["trace"] else None
    if tracer:
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (os.path.join(os.path.dirname(__file__), "hook"), ROOT,
                        os.environ.get("PYTHONPATH")) if p)
        os.environ["PERFBENCH_DEAD_LETTERS"] = cfg["dead_letters"]

    t0 = time.perf_counter()
    from procurement_system_bigdata_spark import session
    from procurement_system_bigdata_spark.queries.registry import REGISTRY

    if tracer:  # after the imports, so the query modules' bindings are traced
        tracer.install()
        tracer.op = "setup"
    spark = session.get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = int(spark._jvm.ProcessHandle.current().pid())
    sf_dir, queries, seed = cfg["sf_dir"], cfg["queries"], cfg["seed"]

    # warm-up: every query once, which also records the tables each reads
    loads: dict[str, set[str]] = {q: set() for q in queries}
    from procurement_system_bigdata_spark import catalog

    load_table, current = catalog.load_table, [""]

    def recording_load(spark_, sf, name):
        loads[current[0]].add(name)
        return load_table(spark_, sf, name)

    saved = tr.rebind(load_table, recording_load)
    warmup_s: dict[str, float] = {}
    for q in queries:
        current[0] = q
        t = time.perf_counter()
        try:
            REGISTRY[q].fn(spark, sf_dir).collect()
            warmup_s[q] = time.perf_counter() - t
        except Exception:  # noqa: BLE001 - the timed op of this query fails too
            pass
    tr.restore(saved)
    setup_s = time.perf_counter() - t0
    setup_cpu_s = tr.cpu_tree(os.getpid())
    if tracer:
        tracer.uninstall()

    ops: list[dict] = []
    results: list[tuple[list[str], list]] = []

    def run_op(q: str, n_pass: int, traced: bool) -> None:
        op_id = f"p{n_pass}:{q}"
        err, rows, cols = None, [], []
        cpu_start = tr.cpu_tree(me)
        start = time.perf_counter()
        try:
            if traced:
                tracer.op = op_id
                base = tracer.cached_bytes()
                with tracer.span("queries", q):
                    df = REGISTRY[q].fn(spark, sf_dir)
                tracer.peak("cache.bytes", tracer.cached_bytes() - base)
                with tracer.span("execute", "collect"):
                    rows = df.collect()
            else:
                df = REGISTRY[q].fn(spark, sf_dir)
                rows = df.collect()
            cols = df.columns
        except Exception as ex:  # noqa: BLE001 - a failed op is counted, not fatal
            err = f"{type(ex).__name__}: {ex}"[:500]
        wall = time.perf_counter() - start
        cpu = tr.cpu_tree(me) - cpu_start
        op = {"id": op_id, "query": q, "pass": n_pass, "wall_s": wall, "cpu_s": cpu,
              "error": err, "traced": traced}
        if traced:
            size = os.path.getsize(cfg["dead_letters"]) if os.path.exists(cfg["dead_letters"]) else 0
            tracer.count("codecs.dead_letters", size - dead_seen[0])
            dead_seen[0] = size
            op["trace"] = tracer.op_record(spark, op_id)
        ops.append(op)
        results.append((cols, rows))

    dead_seen = [0]
    me = os.getpid()  # the JVM and its Python workers run under this process
    t_timed = time.perf_counter()
    n_pass = 0
    if tracer:
        order = _pass_order(queries, seed, 0)
        for q in order:
            run_op(q, 0, False)
        tracer.install()
        for q in order:
            run_op(q, 1, True)
        tracer.uninstall()
    else:
        while n_pass < cfg["min_passes"] or time.perf_counter() - t_timed < cfg["seconds"]:
            for q in _pass_order(queries, seed, n_pass):
                run_op(q, n_pass, False)
            n_pass += 1
    timed_s = sum(op["wall_s"] for op in ops)
    rss_by_process = tr.rss_tree(os.getpid(), jvm_pid)

    # outside the timed window: hash every result
    for op, (cols, rows) in zip(ops, results):
        if op["error"] is None:
            ans = oracle.Answer.of(cols, [tuple(r) for r in rows])
            op["answer"] = [ans.rows, list(ans.columns), ans.digest]
    out = {
        "setup_s": setup_s, "setup_cpu_s": setup_cpu_s, "timed_s": timed_s,
        "rss_by_process": rss_by_process, "ops": ops, "jvm_pid": jvm_pid,
        "tables_read": {q: sorted(v) for q, v in loads.items()},
        "warmup_s": warmup_s,
        "oracles": {q: REGISTRY[q].oracle for q in queries},
        "cores": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }
    if tracer:
        setup_rec = tracer.op_record(spark, "setup")
        out["setup_trace"] = setup_rec
    spark.stop()
    return out


if __name__ == "__main__":
    with open(sys.argv[1]) as f:
        config = json.load(f)
    result = main(config)
    with open(config["out"], "w") as f:
        json.dump(result, f, default=str)
