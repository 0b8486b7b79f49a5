"""Time-series benchmark for cnosdb_spark.

    python3 tsbench/run.py --workload <ingest_rollup|ts_analytics|dashboard>
                           --seed <n> --seconds <s> --trace <0|1>

One single-client closed loop per run, in a fresh Spark JVM, over a fresh
warehouse under a temporary directory inside the checkout (removed at exit).
Set-up runs several times (``setup_s`` is the median), then a warm-up,
identical in every run, then whole rounds of a fixed, seeded script of
operations until ``--seconds`` have passed.  Every operation's output is
checked against an independent Python computation; a failed check counts
as a failed operation and the run exits 1.

The last line of stdout is the result JSON.  With ``--trace 0`` it carries
the end-to-end metrics; with ``--trace 1`` the per-layer metrics, and a
per-operation-type breakdown is written to ``.tsbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

import procstat

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = max(1, min(4, os.cpu_count() or 1))
DRIVER_MEM = "2g"
# end-to-end times are scaled to a host where the reference probe
# (probe.py) takes this long and uses this much CPU of the process tree;
# both are about the probe's figures on a 4-vCPU VM
REF_PROBE_MS = 700.0
REF_PROBE_CPU_S = 1.7
# probe passes after the warm-up; the first ones are still slower while the
# JVM compiles the probe's code, so only the last WARM_PROBES_KEPT count
WARM_PROBES, WARM_PROBES_KEPT = 4, 3


def tail(values: list[float]) -> dict | str:
    """Highest of p50/p75/p90/p95/p99 with at least ten samples beyond it."""
    fit = [p for p in (50, 75, 90, 95, 99) if len(values) * (100 - p) / 100 >= 10]
    if not fit:
        return "fewer than 20 samples: no percentile has 10 beyond it"
    q = statistics.quantiles(values, n=100, method="inclusive")[fit[-1] - 1]
    return {"percentile": fit[-1], "ms": round(q, 3)}


def start_spark(tmp: str, trace: bool):
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Python workers import cnosdb_spark kernels (value_fill & co.)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    from cnosdb_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
        # a fixed young generation keeps the JVM's resident size from
        # following G1's adaptive sizing from run to run
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData -Xmn256m"
        ),
    }
    if trace:
        events = os.path.join(tmp, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="tsbench", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    # the JVM's Python workers are not our children: remember them to wait
    descendants = set(procstat.tree()) - {os.getpid()}
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline:
        alive = [p for p in descendants if procstat.is_running(p)]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        os.kill(p, signal.SIGKILL)


class Runner:
    """Runs set-ups, probes and operations; keeps timings and outcomes."""

    def __init__(self, eng, wl, probe, tracer):
        self.eng, self.wl, self.probe, self.tracer = eng, wl, probe, tracer
        self.setup_s: list[float] = []
        self.lat: dict[str, list[float]] = {}  # op kind -> ms
        self.parts: dict[str, list[float]] = {}  # sub-step -> ms
        self.points = 0
        self.cpu_s = 0.0  # process-tree CPU spent inside timed operations
        self.probe_cpu: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.storage: list[float] = []
        self.rounds = 0

    def _begin(self, kind: str, phase: str) -> None:
        if self.tracer:
            self.tracer.begin(kind, phase)

    def _end(self) -> None:
        if self.tracer:
            self.tracer.end()

    def setup(self) -> None:
        self._begin("setup", "setup")
        t0 = time.perf_counter()
        try:
            self.wl.setup(self.eng)
        finally:
            self.setup_s.append(time.perf_counter() - t0)
            self._end()

    def run_probe(self, record: bool = True) -> None:
        self._begin("probe", "probe")
        c0 = procstat.tree_cpu_s()
        try:
            self.probe.run(record)
        finally:
            self._end()
        if record:
            self.probe_cpu.append(procstat.tree_cpu_s() - c0)

    def run_op(self, op, phase: str) -> None:
        timed = phase == "timed"
        if timed:
            if op.kind == self.wl.primary:
                self.run_probe()
            cpu0 = procstat.tree_cpu_s()
        self._begin(op.kind, phase)
        t0 = time.perf_counter()
        try:
            res, err = op.run(self.eng), None
        except Exception:
            res, err = None, traceback.format_exc(limit=3)
        dt = (time.perf_counter() - t0) * 1000.0
        self._end()
        if timed:
            self.cpu_s += procstat.tree_cpu_s() - cpu0
        errs = [err] if err else op.check(res)
        if errs:
            self.errors.append(f"{phase} {op.kind}: {errs[0]}")
        if not timed:
            return
        self.attempted += 1
        if errs:
            self.failed += 1
            return
        self.lat.setdefault(op.kind, []).append(dt)
        if isinstance(res, dict):
            for k, v in res.get("parts", {}).items():
                self.parts.setdefault(k, []).append(v * 1000.0)
            self.points += res.get("points", 0)

    def timed_phase(self, seconds: float) -> None:
        """Whole rounds until ``seconds`` have passed (at least one)."""
        wl, tracer = self.wl, self.tracer
        t_start = time.perf_counter()
        while self.rounds == 0 or time.perf_counter() - t_start < seconds:
            if wl.fresh_state_per_round:
                self.setup()
            for op in wl.round_ops():
                self.run_op(op, "timed")
            self.rounds += 1
            self.storage.append(wl.storage_bytes_per_point())
            if tracer:
                tracer.note_end_state("catalog.table_files", wl.table_files())
                self._begin("end_state", "end_state")
                for key, value in wl.end_state(self.eng).items():
                    tracer.note_end_state(key, value)
                self._end()


def measure(args, wl, tmp: str) -> tuple[dict, dict, "Runner"]:
    """Run the workload in a fresh JVM; return (run details, metrics, runner)."""
    others_before = procstat.other_spark_jvms()
    marks = {"start": time.perf_counter()}
    spark = start_spark(tmp, args.trace)
    try:
        marks["spark"] = time.perf_counter()
        from cnosdb_spark.engine import Engine
        from probe import Probe

        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark, wl.warehouse, os.path.join(tmp, "events"))
            tracer.install()
        eng = Engine(spark, wl.warehouse, database=wl.db)
        r = Runner(eng, wl, Probe(spark, os.path.join(tmp, "probe")), tracer)
        for _ in range(wl.setups):
            r.setup()
        marks["setup"] = time.perf_counter()
        for op in wl.warmup_ops():
            r.run_op(op, "warmup")
        for i in range(WARM_PROBES):
            r.run_probe(record=i >= WARM_PROBES - WARM_PROBES_KEPT)
        marks["warmup"] = time.perf_counter()
        r.timed_phase(args.seconds)
        marks["timed"] = time.perf_counter()
        peak_rss = procstat.tree_peak_rss_mb()
        rss_by_kind = procstat.tree_peak_rss_by_kind()
        others = set(others_before) | set(procstat.other_spark_jvms())
        if tracer:
            tracer.uninstall()
    finally:
        stop_spark(spark)
    marks["stop"] = time.perf_counter()

    op_ms = r.lat.get(wl.primary, [0.0])
    probe_ms = statistics.median(r.probe.wall_s) * 1000.0
    scale = REF_PROBE_MS / probe_ms
    probe_cpu_s = statistics.median(r.probe_cpu)
    cpu_scale = REF_PROBE_CPU_S / probe_cpu_s
    raw = {
        "setup_s": statistics.median(r.setup_s),
        "op_p50_ms": statistics.median(op_ms),
        "cpu_s": r.cpu_s / len(op_ms),
    }
    info = {
        "workload": wl.name, "seed": args.seed, "rounds": r.rounds,
        "cores": CORES, "driver_memory": DRIVER_MEM,
        "other_spark_jvms": len(others),
        "phase_s": {k: round(v - marks["start"], 2) for k, v in marks.items()},
        "setup_s": [round(x, 4) for x in r.setup_s],
        "probe_ms": round(probe_ms, 2),
        "probe_cpu_s": round(probe_cpu_s, 3),
        "unnormalised": {m: round(v, 4) for m, v in raw.items()},
        "peak_rss_mb_by_kind": {kind: round(v, 1) for kind, v in rss_by_kind.items()},
        "ops": {
            kind: {"n": len(v), "p50_ms": round(statistics.median(v), 3), "tail": tail(v)}
            for kind, v in {**r.lat, **r.parts}.items()
        },
        "stmt_p50_ms": {s: round(statistics.median(v), 1) for s, v in wl.stmt_ms.items()},
    }
    if r.points:
        info["points_per_s"] = round(r.points / (sum(r.parts["write"]) / 1000.0), 1)
    if tracer:
        tracer.read_event_log()
        metrics = tracer.summary(wl.primary)
        metrics["trace.op_p50_ms"] = raw["op_p50_ms"] * scale
        info["jobs"] = tracer.total_jobs
        info["unattributed_jobs"] = tracer.unattributed_jobs
        os.makedirs(os.path.join(ROOT, ".tsbench_out"), exist_ok=True)
        out = os.path.join(ROOT, ".tsbench_out", f"trace-{wl.name}-{args.seed}.json")
        with open(out, "w") as fh:
            json.dump({"info": info, "per_layer": metrics, "by_kind": tracer.by_kind()},
                      fh, indent=1, sort_keys=True)
    else:
        metrics = {
            # set-up is reported as measured, not at probe speed: it is the
            # figure that shows work moved into set-up
            "setup_s": raw["setup_s"],
            "op_p50_ms": raw["op_p50_ms"] * scale,
            "cpu_s": raw["cpu_s"] * cpu_scale,
            "peak_rss_mb": peak_rss,
            "storage_bytes_per_point": statistics.median(r.storage),
        }
    return info, metrics, r


def run(args) -> int:
    if not os.path.isfile(os.path.join(ROOT, "cnosdb_spark", "engine.py")):
        print(f"tsbench: no cnosdb_spark package next to {HERE}; run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)  # after this directory, which holds the script
    from tracing import unit
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"tsbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    tmp = tempfile.mkdtemp(prefix=".tsbench-", dir=ROOT)
    try:
        wl = WORKLOADS[args.workload](args.seed, os.path.join(tmp, "wh"))
        info, metrics, r = measure(args, wl, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for e in r.errors[:10]:
        print(f"tsbench: check failed: {e}", file=sys.stderr)
    correct = not r.errors and bool(r.lat.get(wl.primary))
    print("# " + json.dumps(info, sort_keys=True))
    print(json.dumps({
        "correct": correct, "attempted": r.attempted, "failed": r.failed,
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(ap.parse_args())


if __name__ == "__main__":
    sys.exit(main())
