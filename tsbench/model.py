"""Seeded input generators and the pure-Python reference model.

Everything the output checks compare against is computed here from the
generated points alone, never from a saved copy of the engine's output.
The store keeps CnosDB's write semantics: a point is keyed by
(measurement, tag values, time) and a later write of the same key replaces
the earlier one (every generated write carries all of its measurement's
fields, so row-level and field-level last-write-wins agree).
"""

from __future__ import annotations

import calendar
import random
from collections import defaultdict
from dataclasses import dataclass, field
from datetime import datetime

NS = 1_000_000_000
T0_NS = 1_704_067_200 * NS  # 2024-01-01T00:00:00Z


def ts_literal(t_ns: int) -> str:
    """SQL timestamp literal (UTC) for an epoch-ns instant."""
    return datetime.utcfromtimestamp(t_ns // NS).strftime("%Y-%m-%d %H:%M:%S")


def to_ns(dt: datetime) -> int:
    """Epoch ns of a naive-UTC datetime returned by the engine."""
    return (calendar.timegm(dt.timetuple()) * 1_000_000 + dt.microsecond) * 1000


@dataclass
class Store:
    """Last-write-wins model of every point written, plus raw counts."""

    rows: dict = field(default_factory=dict)  # (meas, tags, t_ns) -> fields
    raw: dict = field(default_factory=lambda: defaultdict(int))

    def write(self, meas: str, tags: tuple, t_ns: int, fields: dict) -> None:
        self.rows[(meas, tags, t_ns)] = dict(fields)
        self.raw[meas] += 1

    def live(self, meas: str) -> int:
        return sum(1 for k in self.rows if k[0] == meas)

    def series(self, meas: str) -> dict[tuple, list[tuple[int, dict]]]:
        """tags -> [(t_ns, fields)] sorted by time."""
        out: dict[tuple, list] = defaultdict(list)
        for (m, tags, t), f in self.rows.items():
            if m == meas:
                out[tags].append((t, f))
        for pts in out.values():
            pts.sort(key=lambda p: p[0])
        return dict(out)


def _fmt_field(v) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return f"{v}i"
    if isinstance(v, float):
        return repr(v)
    return '"' + str(v).replace('"', '\\"') + '"'


def line(meas: str, tags: list[tuple[str, str]], t_ns: int, fields: dict) -> str:
    tag_s = "".join(f",{k}={v}" for k, v in tags)
    field_s = ",".join(f"{k}={_fmt_field(v)}" for k, v in fields.items())
    return f"{meas}{tag_s} {field_s} {t_ns}"


# --------------------------------------------------------------- ingest_rollup
INGEST_HOSTS = 20
INGEST_STEP_S = 10
INGEST_POINTS = 6  # per series per request: one 1-minute block
INGEST_OVERWRITE = 0.05  # share of series blocks that also rewrite an old key
INGEST_LATE = 0.03  # share that also carry an out-of-order (older) new key


class IngestGen:
    """Telegraf-style requests: request k carries minute block k for every
    (host, measurement) series, plus seeded rewrites of earlier keys and
    late points that land in earlier blocks."""

    MEAS = ("cpu", "mem", "disk")

    def __init__(self, seed: int):
        self.rng = random.Random(seed * 7919 + 1)
        self.hosts = [f"host_{i:02d}" for i in range(INGEST_HOSTS)]

    def tags(self, meas: str, host: str, i: int) -> list[tuple[str, str]]:
        if meas == "cpu":
            return [("host", host), ("region", f"r{i % 4}")]
        if meas == "disk":
            return [("host", host), ("path", "/data")]
        return [("host", host)]

    def fields(self, meas: str) -> dict:
        r = self.rng
        if meas == "cpu":
            return {
                "usage_user": round(r.uniform(0, 100), 3),
                "usage_system": round(r.uniform(0, 30), 3),
            }
        if meas == "mem":
            used = r.randrange(1 << 20, 1 << 34)
            return {"used": used, "free": (1 << 35) - used}
        return {"used_pct": round(r.uniform(0, 100), 3)}

    def request(self, k: int, store: Store) -> tuple[str, int]:
        """Line-protocol text of request k; records it in ``store``.
        Returns (text, points)."""
        r = self.rng
        lines = []
        block = T0_NS + k * INGEST_POINTS * INGEST_STEP_S * NS
        for i, host in enumerate(self.hosts):
            for meas in self.MEAS:
                tags = self.tags(meas, host, i)
                key = tuple(v for _, v in tags)
                times = [block + j * INGEST_STEP_S * NS for j in range(INGEST_POINTS)]
                if k > 0 and r.random() < INGEST_OVERWRITE:
                    old = r.randrange(k)
                    times.append(
                        T0_NS
                        + (old * INGEST_POINTS + r.randrange(INGEST_POINTS))
                        * INGEST_STEP_S * NS
                    )
                if k > 0 and r.random() < INGEST_LATE:
                    old = r.randrange(k)
                    # off-grid (+5 s) so the late point is a new key
                    times.append(
                        T0_NS
                        + (old * INGEST_POINTS + r.randrange(INGEST_POINTS))
                        * INGEST_STEP_S * NS
                        + 5 * NS
                    )
                for t in times:
                    f = self.fields(meas)
                    store.write(meas, key, t, f)
                    lines.append(line(meas, tags, t, f))
        r.shuffle(lines)
        return "\n".join(lines) + "\n", len(lines)


def expected_last(store: Store, meas: str, col: str, tag_index: int = 0) -> dict:
    """tag value -> value of ``col`` at the latest time of that tag."""
    best: dict = {}
    for tags, pts in store.series(meas).items():
        t, f = pts[-1]
        k = tags[tag_index]
        if k not in best or t > best[k][0]:
            best[k] = (t, f[col])
    return {k: v for k, (_, v) in best.items()}


def expected_rollup(store: Store, minute_ns: int = 60 * NS) -> dict:
    """(host, minute_start_ns) -> avg(usage_user) over the live cpu points."""
    acc: dict = defaultdict(list)
    for (m, tags, t), f in store.rows.items():
        if m == "cpu":
            acc[(tags[0], t - (t - T0_NS) % minute_ns)].append(f["usage_user"])
    return {k: sum(v) / len(v) for k, v in acc.items()}


# ------------------------------------------------------------------ dashboard
DASH_HOSTS = 16
DASH_STEP_S = 10
DASH_POINTS = 720  # two hours per host


class DashGen:
    """One compacted cpu table: 16 hosts x 2 h at 10 s, with a seeded
    5-minute outage on one host (the gap-fill panel's target)."""

    def __init__(self, seed: int):
        r = random.Random(seed * 104729 + 2)
        self.hosts = [f"host_{i:02d}" for i in range(DASH_HOSTS)]
        self.region = {h: f"r{i % 4}" for i, h in enumerate(self.hosts)}
        self.focus = r.choice(self.hosts)
        self.gap_host = r.choice(self.hosts)
        # outage: 30 grid points (5 min) inside the 2nd half-hour
        self.gap_start = r.randrange(180, 330)
        self.gap_len = 30
        lines = []
        self.store = Store()
        for i, h in enumerate(self.hosts):
            tags = [("host", h), ("region", self.region[h])]
            for j in range(DASH_POINTS):
                if h == self.gap_host and self.gap_start <= j < self.gap_start + self.gap_len:
                    continue
                t = T0_NS + j * DASH_STEP_S * NS
                f = {
                    "usage_user": round(r.uniform(0, 100), 3),
                    "usage_system": round(r.uniform(0, 30), 3),
                }
                self.store.write("cpu", (h, self.region[h]), t, f)
                lines.append(line("cpu", tags, t, f))
        self.text = "\n".join(lines) + "\n"


# --------------------------------------------------------------- ts_analytics
TS_HOSTS = 8
TS_STEP_S = 10
TS_POINTS = 360  # one hour per host
TS_REQUESTS = 2
TS_OVERLAP = 30  # grid points each request rewrites from the previous one
TS_MISSING = 0.04  # grid points never written
TS_NULL_V = 0.05  # points written without field v
STATES = ("ok", "warn", "fault")


class AnalyticsGen:
    """sensor table written in overlapping requests: request r covers grid
    points [r*180 - 30, r*180 + 180), so 30 points per series are written
    twice and the merge-on-read dedup must pick the later one."""

    def __init__(self, seed: int):
        r = random.Random(seed * 15485863 + 3)
        self.hosts = [f"host_{i:02d}" for i in range(TS_HOSTS)]
        self.store = Store()
        missing = {
            (h, j) for h in self.hosts for j in range(TS_POINTS) if r.random() < TS_MISSING
        }
        # per-series state runs and a counter with occasional resets
        self.requests: list[str] = []
        span = TS_POINTS // TS_REQUESTS
        state = {h: r.choice(STATES) for h in self.hosts}
        counter = {h: 0 for h in self.hosts}
        per_req: list[list[str]] = [[] for _ in range(TS_REQUESTS)]
        for h in self.hosts:
            for j in range(TS_POINTS):
                if (h, j) in missing:
                    continue
                t = T0_NS + j * TS_STEP_S * NS
                reqs = [q for q in range(TS_REQUESTS) if q * span - TS_OVERLAP <= j < (q + 1) * span]
                for q in reqs:
                    if r.random() < 0.08:
                        state[h] = r.choice(STATES)
                    counter[h] = 0 if r.random() < 0.01 else counter[h] + r.randrange(0, 50)
                    f = {
                        "temp": round(r.uniform(-10, 40), 3),
                        "status": state[h],
                        "counter": counter[h],
                    }
                    if r.random() >= TS_NULL_V:
                        f["v"] = round(r.uniform(0, 10), 3)
                    self.store.write("sensor", (h,), t, f)
                    per_req[q].append(line("sensor", [("host", h)], t, f))
        for lines in per_req:
            r.shuffle(lines)
            self.requests.append("\n".join(lines) + "\n")
        self.raw_points = sum(len(x) for x in per_req)


def duration_in(pts: list[tuple[int, dict]], state: str) -> int:
    """ns spent in ``state``: each point's state lasts until the next point;
    the last point's state is an open period and counts nothing."""
    return sum(
        pts[i + 1][0] - pts[i][0]
        for i in range(len(pts) - 1)
        if pts[i][1]["status"] == state
    )


def increase(values: list[int]) -> int:
    """Counter increase: positive deltas, and after a reset the new value."""
    return sum(c - p if c >= p else c for p, c in zip(values, values[1:]))
