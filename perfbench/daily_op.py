"""One daily-job operation: the package's CLI in a fresh process.

``python3 perfbench/daily_op.py <report.json> <trace 0|1> -- <CLI args>``
starts the SparkSession the CLI uses (timed on its own: ``session_s`` wall,
``session_cpu_s`` CPU), then runs
``procurement_system_bigdata_spark.__main__.main`` with the CLI arguments,
which finds that session and runs the day.  It writes the run
summary, the session start time, and the CPU time and peak resident
memory of this process, the JVM and their children to ``report.json``;
with tracing on, also the operation's spans and Spark counters, and the
time spent reading them (``bookkeeping_s``), which the tracing overhead
leaves out.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import spans as tr  # noqa: E402


def _out_files(out_root: str) -> tuple[int, int, int]:
    """(files, bytes, rows in the JSON datasets) under the out-root."""
    files = size = rows = 0
    for dirpath, _dirs, names in os.walk(out_root):
        for name in names:
            path = os.path.join(dirpath, name)
            files += 1
            size += os.path.getsize(path)
            if name.endswith(".json") and "/logs/" not in path and "summary" not in name:
                with open(path) as f:
                    rows += len(json.load(f))
    return files, size, rows


def main(report_path: str, traced: bool, argv: list[str]) -> None:
    tracer = tr.Tracer() if traced else None
    t0 = time.perf_counter()
    if tracer:
        tracer.install()
        tracer.op = "daily"
    with tracer.span("cli", "main") if tracer else contextlib.nullcontext():
        from procurement_system_bigdata_spark import __main__ as cli
        from procurement_system_bigdata_spark import session

        run_date = argv[argv.index("--date") + 1]
        spark = session.get_spark(app_name=f"procurement-daily-{run_date}")
        session_s = time.perf_counter() - t0
        session_cpu_s = tr.cpu_tree(os.getpid())
        spark.sparkContext.setLogLevel("ERROR")
        summary = cli.main(argv)
    # before any tracing bookkeeping: the CPU time of this process, the JVM
    # and the JVM's Python workers since this process started
    cpu_s = tr.cpu_tree(os.getpid())
    report = {"session_s": session_s, "session_cpu_s": session_cpu_s, "cpu_s": cpu_s,
              "summary": summary}
    if tracer:
        bookkeeping_start = time.perf_counter()
        record = tracer.op_record(spark, "daily")
        out_root = argv[argv.index("--out-root") + 1]
        files, size, rows = _out_files(out_root)
        record["counts"].update({"sinks.files_written": files, "sinks.bytes_written": size,
                                 "sinks.driver_collect_rows": rows})
        report["trace"] = record
        report["bookkeeping_s"] = time.perf_counter() - bookkeeping_start
    jvm_pid = int(spark._jvm.ProcessHandle.current().pid())
    report["rss_by_process"] = tr.rss_tree(os.getpid(), jvm_pid)
    with open(report_path, "w") as f:
        json.dump(report, f, default=str)


if __name__ == "__main__":
    sep = sys.argv.index("--")
    main(sys.argv[1], sys.argv[2] == "1", sys.argv[sep + 1:])
