"""Steadiness check for the benchmark.

    python3 tsbench/steady.py

Runs every workload of BENCHMARK.json in two interleaved sets of five runs
(A1 B1 B2 A2 ..., seeds 1, 2, 3, ... one per run) and prints, per workload
and end-to-end metric, each set's median and interquartile range as a share
of the median, the spread over all ten runs of the workload, and the
set-to-set difference of medians against the metric's bound.  It ends with
one traced run per workload and compares its operation median with the
untraced one.  Raw results go to ``.tsbench_out/``.  Exits 1 when a spread
or a set-to-set difference exceeds its bound, or the failed share differs.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS_PER_SET = 5


def spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, quartiles as statistics.quantiles(n=4) gives them."""
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def run_one(bench: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: no result line (exit {proc.returncode})")
    info = next((json.loads(ln[2:]) for ln in lines if ln.startswith("# ")), {})
    res.update(exit=proc.returncode, wall_s=round(wall, 1), seed=seed, info=info)
    return res


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    sets: dict = {w: {"A": [], "B": []} for w in names}
    seed = 1
    for i in range(RUNS_PER_SET):
        for w in names:
            for s in ("A", "B") if i % 2 == 0 else ("B", "A"):
                r = run_one(bench, w, seed, 0)
                seed += 1
                sets[w][s].append(r)
                print(f"{w} set {s} seed {r['seed']}: exit {r['exit']} wall {r['wall_s']} s "
                      f"failed {r['failed']}/{r['attempted']} other_jvms "
                      f"{r['info'].get('other_spark_jvms')}", flush=True)
    traced = {}
    for w in names:
        traced[w] = run_one(bench, w, seed, 1)
        seed += 1
    os.makedirs(os.path.join(ROOT, ".tsbench_out"), exist_ok=True)
    out = os.path.join(ROOT, ".tsbench_out", f"steady-{int(time.time())}.json")
    with open(out, "w") as fh:
        json.dump({"sets": sets, "traced": traced}, fh, indent=1)

    ok = True
    print(f"\n{'workload':14} {'metric':24} {'med A':>10} {'iqr A':>6} {'med B':>10} "
          f"{'iqr B':>6} {'iqr all':>7} {'B/A-1':>7} {'bound':>5}  verdict")
    for w in names:
        for m, spec in bounds.items():
            a = [r["metrics"][m]["value"] for r in sets[w]["A"]]
            b = [r["metrics"][m]["value"] for r in sets[w]["B"]]
            ma, mb = statistics.median(a), statistics.median(b)
            diff = mb / ma - 1 if ma else 0.0
            worse = diff if spec["better"] == "lower" else -diff
            sp_all = spread(a + b)
            verdict = []
            if sp_all > spec["bound"]:
                verdict.append("SPREAD>BOUND")
            elif sp_all > spec["bound"] / 3:
                verdict.append("spread>bound/3")
            if worse > spec["bound"]:
                verdict.append("DRIFT>BOUND")
            ok &= not any(v.isupper() for v in verdict)
            print(f"{w:14} {m:24} {ma:10.4g} {spread(a):6.3f} {mb:10.4g} {spread(b):6.3f} "
                  f"{sp_all:7.3f} {diff:+7.3f} {spec['bound']:5.2f}  {' '.join(verdict) or 'ok'}")
        fa = [r["failed"] / r["attempted"] for r in sets[w]["A"]]
        fb = [r["failed"] / r["attempted"] for r in sets[w]["B"]]
        if set(fa) != set(fb) or len(set(fa)) != 1:
            ok = False
            print(f"{w:14} failed share differs: A {sorted(set(fa))} B {sorted(set(fb))}")
        untraced = statistics.median(
            r["metrics"]["op_p50_ms"]["value"] for r in sets[w]["A"] + sets[w]["B"]
        )
        t = traced[w]["metrics"]["trace.op_p50_ms"]["value"]
        print(f"{w:14} tracing overhead: op_p50_ms {t:.1f} traced vs {untraced:.1f} "
              f"untraced ({t / untraced - 1:+.1%}); jobs {traced[w]['info'].get('jobs')}, "
              f"unattributed {traced[w]['info'].get('unattributed_jobs')}")
    print(f"\nraw results: {os.path.relpath(out, ROOT)}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
