"""Traced mode: per-layer counters gathered from the benchmark's own files.

Timing wrappers go around the public entry points of each module
(``Engine.sql``/``write_lines``/``advance_clock``, ``rewrite_dql``,
``lines_to_tables``, ``Catalog.insert``/``compact``).  Every benchmark
operation runs under its own Spark job group, and after the run the
uncompressed Spark event log is read back to attribute jobs, stages and
task metrics to the operation that caused them.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
from collections import defaultdict

import procstat

# layer metric -> how it is normalised in the summary line
PER_OP = (
    "engine.stmt_ms", "engine.stmts", "rewriter.rewrite_ms", "rewriter.calls",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.executor_cpu_ms",
    "exec.executor_run_ms", "exec.gc_ms", "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.input_bytes",
    "exec.driver_gap_ms", "python.worker_cpu_s", "catalog.files_written",
    "catalog.bytes_written",
)
PER_REQUEST = (
    "sources.parse_ms", "sources.tables_per_request", "catalog.insert_ms",
    "catalog.insert_calls",
)
PER_LAYER = PER_OP + PER_REQUEST + (
    "streaming.tick_ms", "streaming.rollup_rows_stored", "streaming.rollup_rows_live",
    "catalog.table_files", "catalog.compact_ms", "exec.unattributed_jobs",
    "trace.op_p50_ms",
)


def unit(metric: str) -> str:
    if metric.endswith("_ms"):
        return "ms"
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    if "bytes" in metric:
        return "B"
    return "count"


def _files(root: str) -> dict[str, int]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            if not f.endswith(".crc"):
                p = os.path.join(d, f)
                try:
                    out[p] = os.path.getsize(p)
                except OSError:
                    pass
    return out


class Tracer:
    def __init__(self, spark, warehouse: str, event_dir: str):
        self.spark = spark
        self.warehouse = warehouse
        self.event_dir = event_dir
        self.ops: list[dict] = []  # id, kind, phase, t0_ms, t1_ms, counters
        self.cur: dict | None = None
        self._entry: list[str] = []  # stack of public Engine entry points
        self._dfs: list = []
        self._undo: list = []
        self.end_state: dict = defaultdict(list)

    # -------------------------------------------------------------- wrappers
    def _add(self, key: str, value: float) -> None:
        if self.cur is not None:
            self.cur["c"][key] += value

    def _wrap(self, owner, name: str, before, after) -> None:
        orig = getattr(owner, name)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            token = before(args, kwargs)
            t0 = time.perf_counter()
            out = None
            try:
                out = orig(*args, **kwargs)
                return out
            finally:  # also on an exception, so the entry stack stays balanced
                after(token, (time.perf_counter() - t0) * 1000.0, out)

        setattr(owner, name, wrapper)
        self._undo.append((owner, name, orig))

    def install(self) -> None:
        from cnosdb_spark import engine as engine_mod
        from cnosdb_spark.catalog import Catalog
        from cnosdb_spark.engine import Engine
        from cnosdb_spark.sources import line_protocol
        from cnosdb_spark.sql import rewriter

        def enter(tag):
            def before(_a, _k):
                self._entry.append(tag)
                return tag
            return before

        def leave(metric_ms, metric_n):
            def after(_tok, dt, _out):
                self._entry.pop()
                self._add(metric_ms, dt)
                self._add(metric_n, 1)
            return after

        def sql_after(_tok, dt, out):
            self._entry.pop()
            self._add("engine.stmt_ms", dt)
            self._add("engine.stmts", 1)
            if out is not None and hasattr(out, "_jdf"):
                self._dfs.append(out)

        self._wrap(Engine, "sql", enter("sql"), sql_after)
        self._wrap(Engine, "write_lines", enter("write"), leave("ops.write_ms", "ops.requests"))
        self._wrap(Engine, "advance_clock", enter("tick"), leave("streaming.tick_ms", "ops.ticks"))

        self._wrap(rewriter, "rewrite_dql", lambda a, k: None,
                   lambda _t, dt, _o: (self._add("rewriter.rewrite_ms", dt),
                                       self._add("rewriter.calls", 1)))
        # engine.py binds the name at import; point it at the same wrapper
        self._undo.append((engine_mod, "rewrite_dql", engine_mod.rewrite_dql))
        engine_mod.rewrite_dql = rewriter.rewrite_dql

        def parse_after(_tok, dt, out):
            self._add("sources.parse_ms", dt)
            self._add("sources.tables", len(out or ()))

        self._wrap(line_protocol, "lines_to_tables", lambda a, k: None, parse_after)

        def insert_after(_tok, dt, _out):
            if self._entry and self._entry[-1] == "write":
                self._add("catalog.insert_ms", dt)
                self._add("catalog.insert_calls", 1)

        self._wrap(Catalog, "insert", lambda a, k: None, insert_after)
        self._wrap(Catalog, "compact", lambda a, k: None,
                   lambda _t, dt, _o: (self._add("catalog.compact_ms", dt),
                                       self._add("catalog.compactions", 1)))

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._undo):
            setattr(owner, name, orig)
        self._undo.clear()

    # ------------------------------------------------------------ operations
    def begin(self, kind: str, phase: str) -> None:
        op = {
            "id": len(self.ops), "kind": kind, "phase": phase,
            "c": defaultdict(float),
        }
        self.ops.append(op)
        self.cur = op
        self._dfs = []
        self.spark.sparkContext.setJobGroup(f"tsbench-{op['id']}", f"{phase}:{kind}")
        op["files0"] = _files(self.warehouse)
        op["pycpu0"] = procstat.python_worker_cpu_s()
        op["t0_ms"] = time.time() * 1000.0

    def end(self) -> None:
        op = self.cur
        op["t1_ms"] = time.time() * 1000.0
        c = op["c"]
        c["python.worker_cpu_s"] += procstat.python_worker_cpu_s() - op.pop("pycpu0")
        before = op.pop("files0")
        new = {p: s for p, s in _files(self.warehouse).items() if p not in before}
        c["catalog.files_written"] += len(new)
        c["catalog.bytes_written"] += sum(new.values())
        for df in self._dfs:
            phases = df._jdf.queryExecution().tracker().phases()
            for ph in ("analysis", "optimization", "planning"):
                summ = phases.get(ph)
                if summ.isDefined():
                    c[f"catalyst.{ph}_ms"] += summ.get().durationMs()
        self._dfs = []
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        self.cur = None

    def note_end_state(self, key: str, value: float) -> None:
        self.end_state[key].append(value)

    # ------------------------------------------------------------- event log
    def read_event_log(self) -> None:
        """Attribute jobs and task metrics to operations.  Call after the
        SparkContext stopped, so the log is complete."""
        paths = [
            p for p in glob.glob(os.path.join(self.event_dir, "**", "*"), recursive=True)
            if os.path.isfile(p) and not p.endswith(".crc")
        ]
        jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        tasks = []
        for p in sorted(paths):
            with open(p) as fh:
                for ln in fh:
                    ev = json.loads(ln)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        jid = ev["Job ID"]
                        props = ev.get("Properties") or {}
                        jobs[jid] = {
                            "group": props.get("spark.jobGroup.id"),
                            "t0": ev.get("Submission Time"),
                            "t1": None,
                            "stages": set(),
                        }
                        for s in ev.get("Stage Infos", []):
                            stage_job.setdefault(s["Stage ID"], jid)
                    elif kind == "SparkListenerJobEnd":
                        if ev["Job ID"] in jobs:
                            jobs[ev["Job ID"]]["t1"] = ev.get("Completion Time")
                    elif kind == "SparkListenerTaskEnd":
                        tasks.append(ev)
        by_id = {f"tsbench-{op['id']}": op for op in self.ops}
        unattributed = 0
        job_op: dict[int, dict] = {}
        for jid, j in jobs.items():
            op = by_id.get(j["group"])
            if op is None:
                unattributed += 1
                # closed loop: operations never overlap, so the job belongs
                # to whichever operation was running when it was submitted
                op = next(
                    (o for o in self.ops if o.get("t0_ms", 0) <= (j["t0"] or 0) <= o.get("t1_ms", 0)),
                    None,
                )
            if op is not None:
                job_op[jid] = op
                op["c"]["exec.jobs"] += 1
                op.setdefault("intervals", []).append((j["t0"], j["t1"] or j["t0"]))
        self.unattributed_jobs = unattributed
        self.total_jobs = len(jobs)
        seen_stages: set = set()
        for ev in tasks:
            sid = ev.get("Stage ID")
            op = job_op.get(stage_job.get(sid))
            if op is None:
                continue
            c = op["c"]
            if (sid, ev.get("Stage Attempt ID")) not in seen_stages:
                seen_stages.add((sid, ev.get("Stage Attempt ID")))
                c["exec.stages"] += 1
            c["exec.tasks"] += 1
            m = ev.get("Task Metrics") or {}
            c["exec.executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            c["exec.executor_run_ms"] += m.get("Executor Run Time", 0)
            c["exec.gc_ms"] += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            c["exec.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            c["exec.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            c["exec.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            c["exec.input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        for op in self.ops:
            wall = op["t1_ms"] - op["t0_ms"]
            covered, last = 0.0, op["t0_ms"]
            for a, b in sorted(op.get("intervals", [])):
                a, b = max(a, last), min(b, op["t1_ms"])
                if b > a:
                    covered += b - a
                    last = b
            op["c"]["exec.driver_gap_ms"] += max(0.0, wall - covered)

    # ---------------------------------------------------------------- report
    def summary(self, primary: str) -> dict[str, float]:
        timed = [o for o in self.ops if o["phase"] == "timed"]
        n_primary = max(1, sum(1 for o in timed if o["kind"] == primary))
        tot: dict = defaultdict(float)
        for o in timed:
            for k, v in o["c"].items():
                tot[k] += v
        out = {k: tot[k] / n_primary for k in PER_OP}
        reqs = tot["ops.requests"]
        out["sources.parse_ms"] = tot["sources.parse_ms"] / reqs if reqs else 0.0
        out["sources.tables_per_request"] = tot["sources.tables"] / reqs if reqs else 0.0
        out["catalog.insert_ms"] = tot["catalog.insert_ms"] / reqs if reqs else 0.0
        out["catalog.insert_calls"] = tot["catalog.insert_calls"] / reqs if reqs else 0.0
        ticks = tot["ops.ticks"]
        out["streaming.tick_ms"] = tot["streaming.tick_ms"] / ticks if ticks else 0.0
        for key in ("streaming.rollup_rows_stored", "streaming.rollup_rows_live", "catalog.table_files"):
            vals = self.end_state.get(key)
            out[key] = float(statistics.median(vals)) if vals else 0.0
        n_compact = tot["catalog.compactions"]
        out["catalog.compact_ms"] = tot["catalog.compact_ms"] / n_compact if n_compact else 0.0
        out["exec.unattributed_jobs"] = float(self.unattributed_jobs)
        return out

    def by_kind(self) -> dict:
        """Per operation type (and phase): count and mean of every counter."""
        groups: dict = defaultdict(list)
        for o in self.ops:
            groups[f"{o['phase']}:{o['kind']}"].append(o)
        out = {}
        for key, ops in groups.items():
            keys = sorted({k for o in ops for k in o["c"]})
            out[key] = {
                "count": len(ops),
                "mean": {k: sum(o["c"].get(k, 0.0) for o in ops) / len(ops) for k in keys},
                "wall_ms_mean": sum(o["t1_ms"] - o["t0_ms"] for o in ops) / len(ops),
            }
        return out
