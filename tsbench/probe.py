"""Reference probe: a fixed set of plain Spark SQL statements, no cnosdb_spark.

The host this benchmark runs on is shared, and its speed drifts by a
quarter over minutes: wall time and CPU time of the same operation move
together.  The probe runs small statements of the same kind as the
workloads' (parse, plan, a few short jobs with a shuffle, collect) in the
same JVM, between timed operations, so an operation's time can be stated
relative to the probe's.  It runs in a session of its own
(``spark.newSession()``), so SQL settings the engine makes on its session do
not reach it; settings of the JVM and the Spark context do.
"""

from __future__ import annotations

import time


class Probe:
    def __init__(self, spark, path: str):
        self.spark = spark.newSession()
        self.path = path
        self.written = False
        src = f"parquet.`{path}`"
        self.stmts = [
            f"SELECT h, avg(v) AS a, max(v) AS m FROM {src} GROUP BY h",
            f"SELECT count(*) FROM {src} WHERE v > 0.5",
            f"SELECT h, max_by(v, t) AS l FROM {src} GROUP BY h",
        ]
        self.wall_s: list[float] = []

    def run(self, record: bool = True) -> None:
        if not self.written:
            self.spark.range(0, 20_000, 1, 2).selectExpr(
                "id % 16 AS h", "id AS t", "(id * 7919 % 1000) / 1000.0 AS v"
            ).write.parquet(self.path)
            self.written = True
        t0 = time.perf_counter()
        for s in self.stmts:
            self.spark.sql(s).collect()
        wall = time.perf_counter() - t0
        if record:
            self.wall_s.append(wall)
