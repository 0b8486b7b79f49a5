"""The three workloads: set-up, a fixed round of timed operations, checks.

A workload drives the engine only through ``Engine.write_lines``,
``Engine.sql``, ``Engine.advance_clock`` and ``COMPACT``.  Each timed
operation returns fully collected results; its check runs after the clock
stops and returns a list of error strings (empty when the output is right).
"""

from __future__ import annotations

import math
import os
import time
from dataclasses import dataclass
from datetime import datetime
from typing import Callable

from model import (
    NS,
    T0_NS,
    AnalyticsGen,
    DashGen,
    IngestGen,
    Store,
    duration_in,
    expected_last,
    expected_rollup,
    increase,
    to_ns,
    ts_literal,
)

REL = 1e-9


def close(a, b, rel: float = REL) -> bool:
    if a is None or b is None:
        return a is b
    return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=1e-12)


def bucket_ns(w) -> int:
    """Window start of a time_window struct (a Row) or a gap-fill bucket."""
    return to_ns(w if isinstance(w, datetime) else w["start"])


@dataclass
class Op:
    kind: str
    run: Callable  # (engine) -> result, fully materialized
    check: Callable  # (result) -> list[str]


def collect(eng, sql: str) -> list:
    return eng.sql(sql).collect()


def db_bytes(warehouse: str, db: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(os.path.join(warehouse, "cnosdb", db)):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def db_data_files(warehouse: str, db: str) -> int:
    n = 0
    for root, _dirs, files in os.walk(os.path.join(warehouse, "cnosdb", db)):
        if os.sep + "_series" in root:
            continue
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def _cmp_map(what: str, pairs: list, want: dict, rel: float = REL) -> list[str]:
    """Compare (key, value) pairs read from result rows with ``want``; a key
    that comes back in more than one row (a duplicate the merge-on-read
    dedup should have removed) is an error too."""
    got = dict(pairs)
    errs = []
    if len(pairs) != len(got):
        errs.append(f"{what}: {len(pairs)} rows for {len(got)} distinct keys")
    if set(got) != set(want):
        errs.append(f"{what}: keys differ ({len(got)} got, {len(want)} expected)")
    for k in sorted(set(got) & set(want), key=str):
        if not close(got[k], want[k], rel):
            errs.append(f"{what}[{k}]: got {got[k]!r}, expected {want[k]!r}")
            break
    return errs


class Workload:
    name = ""
    db = ""
    primary = ""  # op kind whose latency is op_p50_ms
    setups = 3  # set-up repetitions per run (setup_s is their median)
    tables: tuple[str, ...] = ()  # dropped and re-created by set-up
    # ingest_rollup rebuilds its state before every round; read-only
    # workloads reuse the state set-up left behind
    fresh_state_per_round = False

    def __init__(self, seed: int, warehouse: str):
        self.seed = seed
        self.warehouse = warehouse
        self.stmt_ms: dict[str, list[float]] = {}  # per statement, all phases

    def setup(self, eng) -> None:
        raise NotImplementedError

    def warmup_ops(self) -> list[Op]:
        raise NotImplementedError

    def round_ops(self) -> list[Op]:
        raise NotImplementedError

    def live_points(self) -> int:
        raise NotImplementedError

    def storage_bytes_per_point(self) -> float:
        return db_bytes(self.warehouse, self.db) / self.live_points()

    def table_files(self) -> int:
        return db_data_files(self.warehouse, self.db)

    def end_state(self, eng) -> dict[str, float]:
        """Counters read after a round in traced runs."""
        return {}

    def _drop_tables(self, eng) -> None:
        for t in self.tables:
            eng.sql(f"DROP TABLE IF EXISTS {t}")


# ------------------------------------------------------------------ ingest
ROLLUP_SQL = (
    "INSERT INTO cpu_1m(time, host, avg_user) "
    "SELECT date_bin(INTERVAL '1 minute', time) AS time, host, "
    "avg(usage_user) AS avg_user FROM cpu_s "
    "GROUP BY date_bin(INTERVAL '1 minute', time), host"
)


class IngestRollup(Workload):
    """Write requests into a growing, uncompacted table; each is followed by
    one stream tick; a short read-your-writes panel every PANEL_EVERY
    requests; the round ends with a compaction of the raw cpu table."""

    name = "ingest_rollup"
    db = "ing"
    primary = "cycle"
    # set-up is short here and still speeds up over its first repetitions
    # while the JVM compiles the write path; with three, the median fell on
    # that slope and spread 0.34 over ten runs
    setups = 5
    fresh_state_per_round = True
    tables = ("cpu", "mem", "disk", "cpu_1m")
    CYCLES = 4  # write requests per round
    PANEL_EVERY = 4

    def __init__(self, seed: int, warehouse: str):
        super().__init__(seed, warehouse)
        self.store = Store()

    def setup(self, eng) -> None:
        self._drop_tables(eng)
        eng.sql("CREATE TABLE cpu(usage_user DOUBLE, usage_system DOUBLE, TAGS(host, region))")
        eng.sql("CREATE TABLE mem(used BIGINT, free BIGINT, TAGS(host))")
        eng.sql("CREATE TABLE disk(used_pct DOUBLE, TAGS(host, path))")
        eng.sql("CREATE TABLE cpu_1m(avg_user DOUBLE, TAGS(host))")
        eng.sql("DROP STREAM TABLE IF EXISTS cpu_s")
        eng.sql(
            "CREATE STREAM TABLE cpu_s WITH (db='ing', table='cpu', "
            "event_time_column='time') engine=tskv"
        )
        eng.sql(ROLLUP_SQL)
        # every round replays the same seeded requests from an empty store
        self.gen = IngestGen(self.seed)
        self.store = Store()
        self.requests_sent = 0

    def live_points(self) -> int:
        return len(self.store.rows)

    def end_state(self, eng) -> dict[str, float]:
        return {
            "streaming.rollup_rows_stored": collect(eng, "SELECT count(*) FROM cpu_1m")[0][0],
            "streaming.rollup_rows_live": collect(eng, "SELECT exact_count(*) FROM cpu_1m")[0][0],
        }

    def _cycle(self) -> Op:
        def run(eng):
            text, n = self.gen.request(self.requests_sent, self.store)
            self.requests_sent += 1
            expected = {m: 0 for m in IngestGen.MEAS}
            for ln in text.splitlines():
                expected[ln.split(",", 1)[0]] += 1
            t0 = time.perf_counter()
            written = eng.write_lines(text)
            t1 = time.perf_counter()
            eng.advance_clock("1s")
            t2 = time.perf_counter()
            return {"written": written, "expected": expected,
                    "parts": {"write": t1 - t0, "tick": t2 - t1}, "points": n}

        def check(res):
            if res["written"] != res["expected"]:
                return [f"write_lines returned {res['written']}, expected {res['expected']}"]
            return []

        return Op("cycle", run, check)

    def _panel(self) -> Op:
        def run(eng):
            return {
                "last": collect(eng, "SELECT host, last(time, usage_user) AS v FROM cpu GROUP BY host"),
                "exact": collect(eng, "SELECT exact_count(*) AS n FROM cpu"),
                # bare shape: CnosDB counts physical (pre-merge) rows here
                "raw": collect(eng, "SELECT count(*) FROM cpu"),
                "rollup": collect(eng, "SELECT time, host, avg_user FROM cpu_1m"),
            }

        def check(res):
            st = self.store
            errs = _cmp_map(
                "last usage_user per host",
                [(r["host"], r["v"]) for r in res["last"]],
                expected_last(st, "cpu", "usage_user"),
            )
            if res["exact"][0][0] != st.live("cpu"):
                errs.append(f"exact_count(*) = {res['exact'][0][0]}, expected {st.live('cpu')}")
            if res["raw"][0][0] != st.raw["cpu"]:
                errs.append(f"count(*) = {res['raw'][0][0]}, expected {st.raw['cpu']} raw points")
            errs += _cmp_map(
                "rollup avg_user",
                [((r["host"], to_ns(r["time"])), r["avg_user"]) for r in res["rollup"]],
                expected_rollup(st),
            )
            return errs

        return Op("panel", run, check)

    def _compact(self) -> Op:
        def run(eng):
            eng.sql("COMPACT TABLE cpu")
            return collect(eng, "SELECT count(*) FROM cpu")

        def check(rows):
            live = self.store.live("cpu")
            if rows[0][0] != live:
                return [f"count(*) after COMPACT = {rows[0][0]}, expected {live} live points"]
            return []

        return Op("compact", run, check)

    def round_ops(self) -> list[Op]:
        ops = []
        for i in range(self.CYCLES):
            ops.append(self._cycle())
            if (i + 1) % self.PANEL_EVERY == 0:
                ops.append(self._panel())
        return ops + [self._compact()]

    def warmup_ops(self) -> list[Op]:
        return [self._cycle(), self._panel(), self._compact()]


# --------------------------------------------------------------- dashboard
class Dashboard(Workload):
    """Read-only: a compacted table and a fixed set of eight small panels
    refreshed as one operation."""

    name = "dashboard"
    db = "dash"
    primary = "refresh"
    tables = ("cpu",)

    def __init__(self, seed: int, warehouse: str):
        super().__init__(seed, warehouse)
        self.gen = DashGen(seed)

    def setup(self, eng) -> None:
        self._drop_tables(eng)
        eng.write_lines(self.gen.text)
        eng.sql("COMPACT TABLE cpu")

    def live_points(self) -> int:
        return len(self.gen.store.rows)

    def _statements(self) -> dict[str, str]:
        g = self.gen
        h1 = T0_NS + 30 * 60 * NS
        rng = (T0_NS + 20 * 60 * NS, T0_NS + 80 * 60 * NS)
        gap = (T0_NS + 20 * 60 * NS, T0_NS + 70 * 60 * NS)
        return {
            "last": "SELECT host, last(time, usage_user) AS v FROM cpu GROUP BY host",
            "window": (
                "SELECT time_window(time, interval '10 minutes') AS w, avg(usage_user) AS a "
                f"FROM cpu WHERE host = '{g.focus}' AND time >= '{ts_literal(h1)}' "
                f"AND time < '{ts_literal(h1 + 3600 * NS)}' GROUP BY w"
            ),
            "first_last": (
                "SELECT host, first(time, usage_system) AS f, last(time, usage_system) AS l "
                f"FROM cpu WHERE time >= '{ts_literal(rng[0])}' "
                f"AND time < '{ts_literal(rng[1])}' GROUP BY host"
            ),
            "topk": f"SELECT topk(usage_user, 5) FROM cpu WHERE host = '{g.focus}'",
            "tag_values": 'SHOW TAG VALUES FROM cpu WITH KEY = "host"',
            "series": "SHOW SERIES FROM cpu LIMIT 5",
            "gapfill": (
                "SELECT time_window_gapfill(time, interval '1 minute') AS w, host, "
                "locf(avg(usage_user)) AS v FROM cpu "
                f"WHERE host = '{g.gap_host}' AND time >= '{ts_literal(gap[0])}' "
                f"AND time < '{ts_literal(gap[1])}' GROUP BY w, host"
            ),
            "filtered": (
                "SELECT host, count(*) AS n, avg(usage_user) AS a, max(usage_system) AS m "
                "FROM cpu WHERE region = 'r1' AND usage_user > 50 GROUP BY host"
            ),
        }

    def _refresh(self) -> Op:
        stmts = self._statements()

        def run(eng):
            return {k: collect(eng, s) for k, s in stmts.items()}

        return Op("refresh", run, self._check)

    def _check(self, res) -> list[str]:
        g = self.gen
        series = g.store.series("cpu")
        by_host = {tags[0]: pts for tags, pts in series.items()}
        errs = _cmp_map(
            "last", [(r["host"], r["v"]) for r in res["last"]],
            {h: pts[-1][1]["usage_user"] for h, pts in by_host.items()},
        )
        h1 = T0_NS + 30 * 60 * NS
        want = {}
        for t, f in by_host[g.focus]:
            if h1 <= t < h1 + 3600 * NS:
                want.setdefault(t - (t - T0_NS) % (600 * NS), []).append(f["usage_user"])
        errs += _cmp_map(
            "time_window avg", [(bucket_ns(r["w"]), r["a"]) for r in res["window"]],
            {k: sum(v) / len(v) for k, v in want.items()},
        )
        lo, hi = T0_NS + 20 * 60 * NS, T0_NS + 80 * 60 * NS
        fl = {}
        for h, pts in by_host.items():
            sel = [f["usage_system"] for t, f in pts if lo <= t < hi]
            fl[h] = (sel[0], sel[-1])
        errs += _cmp_map("first", [(r["host"], r["f"]) for r in res["first_last"]],
                         {h: v[0] for h, v in fl.items()})
        errs += _cmp_map("last in range", [(r["host"], r["l"]) for r in res["first_last"]],
                         {h: v[1] for h, v in fl.items()})
        top = sorted((f["usage_user"] for _, f in by_host[g.focus]), reverse=True)[:5]
        got = sorted((r[0] for r in res["topk"]), reverse=True)
        if got != top:
            errs.append(f"topk: got {got}, expected {top}")
        tv = sorted(r["value"] for r in res["tag_values"])
        if tv != sorted(g.hosts):
            errs.append(f"SHOW TAG VALUES: got {len(tv)} hosts, expected {len(g.hosts)}")
        keys = [r[0] for r in res["series"]]
        all_keys = {f"cpu,host={h},region={g.region[h]}" for h in g.hosts}
        if len(keys) != 5 or len(set(keys)) != 5 or not set(keys) <= all_keys:
            errs.append(f"SHOW SERIES LIMIT 5: got {keys}")
        errs += self._check_gapfill(res["gapfill"], by_host[g.gap_host])
        flt = {}
        for h, pts in by_host.items():
            if g.region[h] != "r1":
                continue
            sel = [f for _, f in pts if f["usage_user"] > 50]
            if sel:
                flt[h] = (len(sel), sum(f["usage_user"] for f in sel) / len(sel),
                          max(f["usage_system"] for f in sel))
        errs += _cmp_map("filtered count", [(r["host"], r["n"]) for r in res["filtered"]],
                         {h: v[0] for h, v in flt.items()})
        errs += _cmp_map("filtered avg", [(r["host"], r["a"]) for r in res["filtered"]],
                         {h: v[1] for h, v in flt.items()})
        errs += _cmp_map("filtered max", [(r["host"], r["m"]) for r in res["filtered"]],
                         {h: v[2] for h, v in flt.items()})
        return errs

    def _check_gapfill(self, rows, pts) -> list[str]:
        lo, hi = T0_NS + 20 * 60 * NS, T0_NS + 70 * 60 * NS
        per_min: dict = {}
        for t, f in pts:
            if lo <= t < hi:
                per_min.setdefault(t - (t - T0_NS) % (60 * NS), []).append(f["usage_user"])
        want, prev = {}, None
        for m in range(lo, hi, 60 * NS):
            if m in per_min:
                prev = sum(per_min[m]) / len(per_min[m])
            want[m] = prev
        return _cmp_map("gapfill locf", [(bucket_ns(r["w"]), r["v"]) for r in rows], want)

    def round_ops(self) -> list[Op]:
        return [self._refresh()]

    def warmup_ops(self) -> list[Op]:
        # the first pass in a fresh JVM is several times slower, and the
        # second still measurably slower than later ones
        return [self._refresh(), self._refresh()]


# ------------------------------------------------------------ ts_analytics
class TsAnalytics(Workload):
    """Read-only: a report of heavy CnosDB-extension statements over a table
    written in overlapping requests (merge-on-read dedup does real work)."""

    name = "ts_analytics"
    db = "tsa"
    primary = "report"
    tables = ("sensor",)

    def __init__(self, seed: int, warehouse: str):
        super().__init__(seed, warehouse)
        self.gen = AnalyticsGen(seed)

    def setup(self, eng) -> None:
        self._drop_tables(eng)
        for text in self.gen.requests:
            eng.write_lines(text)

    def live_points(self) -> int:
        return len(self.gen.store.rows)

    def _statements(self) -> dict[str, str]:
        return {
            "gauge": (
                "SELECT host, delta(gauge_agg(time, temp)) AS d, "
                "rate(gauge_agg(time, temp)) AS r FROM sensor GROUP BY host"
            ),
            "state": (
                "SELECT host, duration_in(state_agg(time, status), 'fault') AS d "
                "FROM sensor GROUP BY host"
            ),
            "gapfill": (
                "SELECT time_window_gapfill(time, interval '1 minute') AS w, host, "
                "interpolate(avg(v)) AS iv FROM sensor "
                f"WHERE time >= '{ts_literal(T0_NS)}' AND time < '{ts_literal(T0_NS + 3600 * NS)}' "
                "GROUP BY w, host"
            ),
            "increase": (
                "SELECT host, increase(time, counter ORDER BY time) AS inc "
                "FROM sensor GROUP BY host"
            ),
            "window": (
                "SELECT time_window(time, interval '10 minutes') AS w, host, "
                "avg(temp) AS a, max(temp) AS m FROM sensor GROUP BY w, host"
            ),
            "first_last": (
                "SELECT host, first(time, temp) AS f, last(time, temp) AS l "
                "FROM sensor GROUP BY host"
            ),
            "value_fill": "SELECT value_fill(time, v) FROM sensor WHERE host = 'host_01'",
            # timestamp_repair is held out: on jittered series it returns a
            # spurious 1970-01-01 row for some seeds (functions/repair.py,
            # _dp_repair_ref), and a statement that fails on some seeds only
            # cannot be part of a steady report
            "completeness": "SELECT completeness(time, v) FROM sensor WHERE host = 'host_02'",
        }

    def _report(self) -> Op:
        stmts = self._statements()

        def run(eng):
            out = {}
            for k, s in stmts.items():
                t0 = time.perf_counter()
                out[k] = collect(eng, s)
                self.stmt_ms.setdefault(k, []).append((time.perf_counter() - t0) * 1000)
            return out

        return Op("report", run, self._check)

    def _check(self, res) -> list[str]:
        series = {tags[0]: pts for tags, pts in self.gen.store.series("sensor").items()}
        errs = []
        want_d = {h: pts[-1][1]["temp"] - pts[0][1]["temp"] for h, pts in series.items()}
        errs += _cmp_map("gauge delta", [(r["host"], r["d"]) for r in res["gauge"]], want_d)
        errs += _cmp_map(
            "gauge rate", [(r["host"], r["r"]) for r in res["gauge"]],
            {h: want_d[h] / (pts[-1][0] - pts[0][0]) for h, pts in series.items()},
        )
        errs += _cmp_map(
            "duration_in fault (s)",
            [(r["host"], r["d"].total_seconds()) for r in res["state"]],
            {h: duration_in(pts, "fault") / NS for h, pts in series.items()},
        )
        cells = {(bucket_ns(r["w"]), r["host"]) for r in res["gapfill"]}
        want_cells = {(T0_NS + m * 60 * NS, h) for m in range(60) for h in series}
        if len(res["gapfill"]) != len(want_cells) or cells != want_cells:
            errs.append(
                f"gapfill: {len(res['gapfill'])} rows, {len(cells)} distinct cells, "
                f"expected one row per (window, host) = {len(want_cells)}"
            )
        errs += _cmp_map(
            "increase", [(r["host"], r["inc"]) for r in res["increase"]],
            {h: increase([f["counter"] for _, f in pts]) for h, pts in series.items()},
        )
        want_w: dict = {}
        for h, pts in series.items():
            for t, f in pts:
                want_w.setdefault((t - (t - T0_NS) % (600 * NS), h), []).append(f["temp"])
        errs += _cmp_map(
            "window avg", [((bucket_ns(r["w"]), r["host"]), r["a"]) for r in res["window"]],
            {k: sum(v) / len(v) for k, v in want_w.items()},
        )
        errs += _cmp_map(
            "window max", [((bucket_ns(r["w"]), r["host"]), r["m"]) for r in res["window"]],
            {k: max(v) for k, v in want_w.items()},
        )
        errs += _cmp_map("first", [(r["host"], r["f"]) for r in res["first_last"]],
                         {h: pts[0][1]["temp"] for h, pts in series.items()})
        errs += _cmp_map("last", [(r["host"], r["l"]) for r in res["first_last"]],
                         {h: pts[-1][1]["temp"] for h, pts in series.items()})
        vf = res["value_fill"]
        if len(vf) != len(series["host_01"]) or any(r[1] is None or r[1] != r[1] for r in vf):
            errs.append(f"value_fill: {len(vf)} rows (expected {len(series['host_01'])}) or NULLs left")
        c = res["completeness"][0][0]
        if c is None or not 0.0 <= c <= 1.0:
            errs.append(f"completeness = {c!r}, expected a value in [0, 1]")
        return errs

    def round_ops(self) -> list[Op]:
        return [self._report()]

    def warmup_ops(self) -> list[Op]:
        # the first pass in a fresh JVM is several times slower, and the
        # second still measurably slower than later ones
        return [self._report(), self._report()]


WORKLOADS = {w.name: w for w in (IngestRollup, Dashboard, TsAnalytics)}
