"""Spans around the package's public functions, and Spark's own counters.

Used only by a traced run (``--trace 1``).  ``Tracer.install`` replaces each
named function, wherever the package has bound it, with a wrapper that
records a span and tags every Spark job the span starts with a job group
of its own (``SparkContext.setJobGroup``).  After each operation
``Tracer.harvest`` reads the stages, tasks and SQL metrics of those job
groups from Spark's status stores, which are kept with the UI off.
"""

from __future__ import annotations

import functools
import os
import re
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PACKAGE = "procurement_system_bigdata_spark"

# (module, attribute, layer) for every function the traced run wraps
WRAPPED = (
    ("session", "get_spark", "session"),
    ("catalog", "load_table", "catalog"),
    ("sources.master_sql", "master_data_frames", "master_sql"),
    ("sources.master_sql", "parse_inserts", "master_sql"),
    ("sources.readers", "read_orders_csv", "readers"),
    ("sources.readers", "read_snapshots_json", "readers"),
    ("operators.pipeline", "run_pipeline", "pipeline"),
    ("operators.ranking", "with_global_sequence", "ranking"),
    ("sources.sinks", "write_single_csv", "sinks"),
    ("sources.sinks", "write_single_json", "sinks"),
    ("sources.sinks", "write_task_log", "sinks"),
    ("sources.sinks", "write_partitioned", "sinks"),
    ("operators.dedup", "_confirm_jaccard", "dedup"),
)

LAYERS = ("session", "catalog", "master_sql", "readers", "pipeline", "ranking",
          "sinks", "queries", "dedup", "cache", "execute", "cli")


@dataclass
class Span:
    id: int
    parent: int | None
    op: str
    layer: str
    name: str
    start: float
    end: float = 0.0
    children: list[int] = field(default_factory=list)

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.id}"


def rebind(orig, repl) -> list[tuple[object, str, object]]:
    """Rebind ``orig`` to ``repl`` in every package module that holds it,
    so ``from x import f`` bindings are reached too; returns what to
    restore."""
    saved = []
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(PACKAGE):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                saved.append((mod, attr, val))
                setattr(mod, attr, repl)
    return saved


def restore(saved: list[tuple[object, str, object]]) -> None:
    for owner, attr, val in reversed(saved):
        setattr(owner, attr, val)


def _active_sc():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.op = ""
        self.counts: dict[str, dict[str, float]] = {}  # op -> key -> count
        self._restore: list[tuple[object, str, object]] = []

    # --- spans ----------------------------------------------------------------

    def count(self, key: str, n: float = 1) -> None:
        c = self.counts.setdefault(self.op, {})
        c[key] = c.get(key, 0) + n

    def peak(self, key: str, v: float) -> None:
        c = self.counts.setdefault(self.op, {})
        c[key] = max(c.get(key, 0), v)

    def _set_group(self, span: Span | None) -> None:
        sc = _active_sc()
        if sc is None:
            return
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(span.group, f"{span.layer}:{span.name}")

    @contextmanager
    def span(self, layer: str, name: str):
        parent = self.stack[-1] if self.stack else None
        s = Span(len(self.spans), parent.id if parent else None, self.op, layer, name,
                 time.perf_counter())
        self.spans.append(s)
        if parent:
            parent.children.append(s.id)
        self.stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self.stack.pop()
            self._set_group(self.stack[-1] if self.stack else None)

    def wrap(self, fn, layer: str, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, name):
                return fn(*args, **kwargs)

        return traced

    # --- installation ---------------------------------------------------------

    def install(self) -> None:
        import importlib

        importlib.import_module(f"{PACKAGE}.__main__")
        special = {"run_pipeline": self._wrap_run_pipeline,
                   "_confirm_jaccard": self._wrap_confirm}
        for mod_name, attr, layer in WRAPPED:
            orig = getattr(importlib.import_module(f"{PACKAGE}.{mod_name}"), attr)
            repl = special[attr](orig) if attr in special else self.wrap(orig, layer, attr)
            self._restore += rebind(orig, repl)
        from pyspark.sql import DataFrame

        df_cls = DataFrame
        try:  # classic (non-Connect) DataFrame in Spark 4
            from pyspark.sql.classic.dataframe import DataFrame as df_cls  # noqa: N813
        except ImportError:
            pass
        for meth in ("persist", "cache", "localCheckpoint", "checkpoint"):
            orig = getattr(df_cls, meth)
            self._restore.append((df_cls, meth, orig))
            setattr(df_cls, meth, self._wrap_cache(orig, meth))

    def uninstall(self) -> None:
        restore(self._restore)
        self._restore.clear()

    def _wrap_run_pipeline(self, orig):
        tracer = self

        def counting_sleep(seconds: float) -> None:
            tracer.count("pipeline.retries")
            time.sleep(seconds)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            kwargs.setdefault("retry_sleep", counting_sleep)
            with tracer.span("pipeline", "run_pipeline"):
                out = orig(*args, **kwargs)
            tracer.peak("cache.bytes", tracer.cached_bytes())
            return out

        return traced

    def _wrap_confirm(self, orig):
        """Counts candidate and confirmed pairs at the minhash-family
        confirm seam.  The counts run as extra jobs in a span of their own
        (layer ``probe``), kept out of every layer's figures."""
        tracer = self

        @functools.wraps(orig)
        def traced(cand, *args, **kwargs):
            with tracer.span("dedup", "_confirm_jaccard"):
                out = orig(cand, *args, **kwargs)
            with tracer.span("probe", "confirm_counts"):
                tracer.count("dedup.candidate_pairs", cand.count())
                tracer.count("dedup.confirmed_pairs", out.count())
            return out

        return traced

    def _wrap_cache(self, orig, name: str):
        tracer = self

        @functools.wraps(orig)
        def traced(df, *args, **kwargs):
            tracer.count("cache.materializations")
            with tracer.span("cache", name):
                return orig(df, *args, **kwargs)

        return traced

    # --- Spark's counters ----------------------------------------------------

    def cached_bytes(self) -> int:
        sc = _active_sc()
        if sc is None:
            return 0
        rdds = sc._jsc.sc().statusStore().rddList(True)
        return sum(
            int(rdds.apply(i).memoryUsed()) + int(rdds.apply(i).diskUsed())
            for i in range(rdds.size())
        )

    def harvest(self, spark, op: str) -> dict:
        """Spark jobs, stages and SQL metrics of every span of ``op``,
        attributed to the span that started them."""
        spans = {s.group: s for s in self.spans if s.op == op}
        store = spark.sparkContext._jsc.sc().statusStore()
        jobs_by_span: dict[str, list[int]] = {}  # span id -> job ids
        stage_ids: dict[int, int] = {}  # stage id -> span id
        intervals: list[tuple[float, float]] = []
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            g = j.jobGroup()
            if not g.isDefined() or g.get() not in spans:
                continue
            sid = spans[g.get()].id
            jobs_by_span.setdefault(str(sid), []).append(int(j.jobId()))
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            ids = j.stageIds()
            for k in range(ids.size()):
                stage_ids[int(ids.apply(k))] = sid
        quantiles = spark.sparkContext._gateway.new_array(spark._jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        stages = []
        for stage_id, sid in sorted(stage_ids.items()):
            try:
                d = store.lastStageAttempt(stage_id)
            except Exception:  # noqa: BLE001 - a skipped stage has no attempt
                continue
            if str(d.status()) == "SKIPPED":
                continue
            st = {
                "stage": stage_id, "span": sid, "tasks": int(d.numTasks()),
                "run_s": d.executorRunTime() / 1e3, "cpu_s": d.executorCpuTime() / 1e9,
                "gc_s": d.jvmGcTime() / 1e3,
                "input_bytes": int(d.inputBytes()), "input_rows": int(d.inputRecords()),
                "shuffle_read_bytes": int(d.shuffleReadBytes()),
                "shuffle_write_bytes": int(d.shuffleWriteBytes()),
                "spill_bytes": int(d.memoryBytesSpilled()) + int(d.diskBytesSpilled()),
                "peak_exec_mem_bytes": int(d.peakExecutionMemory()),
                "failed_tasks": int(d.numFailedTasks()),
            }
            if st["tasks"] > 1:
                q = store.taskSummary(stage_id, d.attemptId(), quantiles)
                if q.isDefined():
                    run = q.get().executorRunTime()
                    st["task_med_s"], st["task_max_s"] = run.apply(0) / 1e3, run.apply(1) / 1e3
            stages.append(st)
        return {"jobs": jobs_by_span, "stages": stages, "exec_s": _union_length(intervals),
                "sql": self._sql_metrics(spark, jobs_by_span)}

    @staticmethod
    def _sql_metrics(spark, jobs_by_span: dict[str, list[int]]) -> dict[str, float]:
        """Python-boundary SQL metrics summed over the op's executions."""
        wanted = {
            "data sent to Python workers": "python.bytes_sent",
            "data returned from Python workers": "python.bytes_returned",
            "time to run Python workers": "python.stage_run_s",
        }
        job_ids = {j for js in jobs_by_span.values() for j in js}
        sql = spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        out = dict.fromkeys(wanted.values(), 0.0)
        for i in range(execs.size()):
            e = execs.apply(i)
            ej = e.jobs().keySet()
            if not any(ej.contains(j) for j in job_ids):
                continue
            metrics = e.metrics()
            names = {}
            for k in range(metrics.size()):
                m = metrics.apply(k)
                if m.name() in wanted:
                    names[m.accumulatorId()] = wanted[m.name()]
            if not names:
                continue
            values = sql.executionMetrics(e.executionId())
            for acc, key in names.items():
                v = values.get(acc)
                if v.isDefined():
                    out[key] += parse_metric(v.get())
        return out

    # --- reporting -------------------------------------------------------------

    def op_record(self, spark, op: str) -> dict:
        """Everything the traced run keeps about one operation."""
        return {
            "op": op,
            "spans": [
                {"id": s.id, "layer": s.layer, "name": s.name,
                 "dur_s": s.end - s.start, "children": s.children}
                for s in self.spans if s.op == op
            ],
            "tree": self.tree(op),
            "self": self.self_times(op),
            "counts": self.counts.get(op, {}),
            "spark": self.harvest(spark, op),
        }

    def tree(self, op: str) -> list[dict]:
        def node(s: Span) -> dict:
            return {"layer": s.layer, "name": s.name,
                    "start_s": round(s.start - t0, 6), "dur_s": round(s.end - s.start, 6),
                    "children": [node(self.spans[c]) for c in s.children]}

        roots = [s for s in self.spans if s.op == op and s.parent is None]
        t0 = roots[0].start if roots else 0.0
        return [node(s) for s in roots]

    def self_times(self, op: str) -> dict[str, float]:
        """Per-layer self time: each span's duration minus its children's."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s.op != op:
                continue
            child = sum(self.spans[c].end - self.spans[c].start for c in s.children)
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - child
        return out


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9}


def parse_metric(text: str) -> float:
    """A formatted SQL metric (``'12.3 KiB (...)'`` or ``'1,000'``) as a
    number in bytes, seconds or rows."""
    line = text.split("\n")[-1]
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _descendants(*pids: int) -> list[int]:
    """``pids`` and every live process under them, sorted."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    seen: set[int] = set()
    todo = list(pids)
    while todo:
        p = todo.pop()
        if p not in seen:
            seen.add(p)
            todo.extend(children.get(p, []))
    return sorted(seen)


def rss_tree(*pids: int) -> list[tuple[int, str, float]]:
    """(pid, command name, VmHWM in MB) for ``pids`` and all descendants."""
    out = []
    for p in _descendants(*pids):
        try:
            with open(f"/proc/{p}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
            out.append((p, fields["Name"].strip(), int(fields["VmHWM"].split()[0]) / 1024.0))
        except (OSError, KeyError, ValueError):
            continue
    return out


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def cpu_tree(*pids: int) -> float:
    """CPU seconds (user + system) used so far by ``pids`` and all their
    descendants, including descendants that have exited and were reaped.
    Time the host takes the CPU away (steal) is not in it."""
    total = 0
    for p in _descendants(*pids):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17 of proc(5)
        total += sum(int(v) for v in fields[11:15])
    return total * _TICK_S


def memory(rss_by_process: list) -> dict[str, float]:
    """Peak resident memory of a run from ``rss_tree``'s list: the total,
    the JVM's share and the Python processes' share, in MB."""
    jvm = sum(mb for _pid, name, mb in rss_by_process if name == "java")
    total = sum(mb for _pid, _name, mb in rss_by_process)
    return {"memory.peak_rss_mb": total, "memory.jvm_hwm_mb": jvm,
            "memory.python_hwm_mb": total - jvm}


# per-layer metric -> (unit, better); the traced run reports each of them
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "catalog.load_s": ("s", "lower"),
    "catalog.load_calls": ("count", "lower"),
    "master_sql.parse_s": ("s", "lower"),
    "readers.rows": ("rows", "lower"),
    "readers.bytes_read": ("bytes", "lower"),
    "readers.stage_run_s": ("s", "lower"),
    "pipeline.run_s": ("s", "lower"),
    "pipeline.jobs": ("count", "lower"),
    "pipeline.retries": ("count", "lower"),
    "ranking.global_sequence_s": ("s", "lower"),
    "sinks.write_s": ("s", "lower"),
    "sinks.bytes_written": ("bytes", "lower"),
    "sinks.driver_collect_rows": ("rows", "lower"),
    "sinks.files_written": ("count", "lower"),
    "queries.build_s": ("s", "lower"),
    "queries.build_jobs": ("count", "lower"),
    "cache.materializations": ("count", "lower"),
    "cache.bytes": ("bytes", "lower"),
    "dedup.candidate_pairs": ("count", "lower"),
    "dedup.confirmed_pairs": ("count", "higher"),
    "dedup.confirm_ratio": ("ratio", "higher"),
    "python.bytes_sent": ("bytes", "lower"),
    "python.bytes_returned": ("bytes", "lower"),
    "python.stage_run_s": ("s", "lower"),
    "codecs.dead_letters": ("count", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.exec_s": ("s", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.core_util": ("ratio", "higher"),
    "spark.task_max_over_median": ("ratio", "lower"),
    "spark.single_task_stage_frac": ("ratio", "lower"),
    "spark.task_parallelism_max": ("count", "higher"),
    "spark.gc_s": ("s", "lower"),
    "spark.shuffle_read_bytes": ("bytes", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.input_bytes": ("bytes", "lower"),
    "spark.peak_exec_mem_bytes": ("bytes", "lower"),
    "spark.task_failures": ("count", "lower"),
    **{f"self.{layer}_s": ("s", "lower") for layer in LAYERS},
    "memory.peak_rss_mb": ("MB", "lower"),
    "memory.jvm_hwm_mb": ("MB", "lower"),
    "memory.python_hwm_mb": ("MB", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "wall.op_s": ("s", "lower"),
}
# filled in by the runner, not from the spans
RUNNER_SET = ("memory.peak_rss_mb", "memory.jvm_hwm_mb", "memory.python_hwm_mb",
              "trace.overhead_s", "wall.op_s")


def layer_metrics(ops: list[dict], cores: int) -> dict[str, float]:
    """Workload-level per-layer figures from the traced operations.

    Extensive figures are means per operation; ratios are taken over the
    totals of all operations.  Stages started by the ``probe`` spans (the
    pair counts) are left out."""
    n = max(1, len(ops))
    tot: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        tot[key] = tot.get(key, 0.0) + v

    stages_all, parallelism, med_sum, max_sum = [], [], 0.0, 0.0
    for op in ops:
        spans = {s["id"]: s for s in op["spans"]}
        by_layer: dict[str, list[dict]] = {}
        for s in op["spans"]:
            by_layer.setdefault(s["layer"], []).append(s)
        for layer, secs in op["self"].items():
            add(f"self.{layer}_s", secs)

        def dur(layer, name=None):
            return sum(s["dur_s"] for s in by_layer.get(layer, [])
                       if name is None or s["name"] == name)

        def subtree_jobs(layer):
            seen, todo = set(), [s["id"] for s in by_layer.get(layer, [])]
            while todo:
                i = todo.pop()
                if i in seen or spans[i]["layer"] == "probe":
                    continue
                seen.add(i)
                todo.extend(spans[i]["children"])
            return sum(len(op["spark"]["jobs"].get(str(i), [])) for i in seen)

        add("session.start_s", dur("session"))
        add("catalog.load_s", dur("catalog"))
        add("catalog.load_calls", len(by_layer.get("catalog", [])))
        add("master_sql.parse_s", dur("master_sql", "parse_inserts"))
        add("pipeline.run_s", dur("pipeline"))
        add("pipeline.jobs", subtree_jobs("pipeline"))
        add("ranking.global_sequence_s", dur("ranking"))
        add("sinks.write_s", dur("sinks"))
        add("queries.build_s", dur("queries"))
        add("queries.build_jobs", subtree_jobs("queries"))
        for key, v in op["counts"].items():
            add(key, v)
        for key, v in op["spark"]["sql"].items():
            add(key, v)
        probe = {s["id"] for s in op["spans"] if s["layer"] == "probe"}
        stages = [st for st in op["spark"]["stages"] if st["span"] not in probe]
        stages_all += stages
        if by_layer.get("readers"):
            # the daily job's only file scans are the readers' CSV and JSON
            scans = [st for st in stages if st["input_bytes"] > 0]
            add("readers.rows", sum(st["input_rows"] for st in scans))
            add("readers.bytes_read", sum(st["input_bytes"] for st in scans))
            add("readers.stage_run_s", sum(st["run_s"] for st in scans))
        add("spark.jobs", sum(len(v) for k, v in op["spark"]["jobs"].items()
                              if int(k) not in probe))
        add("spark.exec_s", op["spark"]["exec_s"])
        parallelism.append(max((st["tasks"] for st in stages), default=0))
        for st in stages:
            if "task_med_s" in st:
                med_sum += st["task_med_s"]
                max_sum += st["task_max_s"]

    out = {k: v / n for k, v in tot.items()}
    out["spark.stages"] = len(stages_all) / n
    for key, field_ in (("spark.tasks", "tasks"), ("spark.executor_run_s", "run_s"),
                        ("spark.executor_cpu_s", "cpu_s"), ("spark.gc_s", "gc_s"),
                        ("spark.shuffle_read_bytes", "shuffle_read_bytes"),
                        ("spark.shuffle_write_bytes", "shuffle_write_bytes"),
                        ("spark.spill_bytes", "spill_bytes"), ("spark.input_bytes", "input_bytes"),
                        ("spark.task_failures", "failed_tasks")):
        out[key] = sum(st[field_] for st in stages_all) / n
    out["spark.peak_exec_mem_bytes"] = max(
        (st["peak_exec_mem_bytes"] for st in stages_all), default=0)
    out["spark.single_task_stage_frac"] = (
        sum(1 for st in stages_all if st["tasks"] == 1) / len(stages_all) if stages_all else 0.0)
    out["spark.task_parallelism_max"] = sum(parallelism) / n
    out["spark.task_max_over_median"] = max_sum / med_sum if med_sum else 0.0
    exec_s = out.get("spark.exec_s", 0.0)
    out["spark.core_util"] = out["spark.executor_run_s"] / (exec_s * cores) if exec_s else 0.0
    cand = out.get("dedup.candidate_pairs", 0.0)
    out["dedup.confirm_ratio"] = out.get("dedup.confirmed_pairs", 0.0) / cand if cand else 0.0
    return {k: out.get(k, 0.0) for k in PER_LAYER if k not in RUNNER_SET}
