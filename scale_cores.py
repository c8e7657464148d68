#!/usr/bin/env python
"""Reproducible 8-vs-32-core paired scaling run at sf1 (SCALE.md's
core-scaling table): runs the UNMODIFIED bench.py protocol (warmup +
min-of-3 noop-sink, one JSON line) once per core count against the
scale-ladder sf1 build, then prints the paired per-query table.

Why sf1 and not the driver's sf0.1: at sf0.1 every headline query is
task-scheduling/stage-overhead-bound — 8 cores reads as fast or FASTER
than 32 on every query (BENCH_r14_c8.json: 39.2 s vs 47.9 s), so the
core-scaling signal is inverted and says nothing about parallelism.
sf1 (10x rows, built deterministically by scale_build.py) is the
smallest scale on this box where compute outweighs per-stage overhead.

Usage: python scale_cores.py            # runs both core counts, prints table
Env:   SPARK_GRAFT_SCALE_OUT  sf1 dir   (default /root/repo/.scale/sf1;
                                         build it with scale_build.py)
       SPARK_GRAFT_SCALE_CORES          (default "32,8")

Each bench.py child inherits the unmodified driver contract
($SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS, master local[$CPUS]); this
script adds nothing to the timed region — it only orchestrates two
stock bench runs and formats their JSON lines.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

SF_DIR = os.environ.get("SPARK_GRAFT_SCALE_OUT", "/root/repo/.scale/sf1")


def parse_cores(spec: str) -> list[str]:
    """``SPARK_GRAFT_SCALE_CORES`` as a list of at least two core counts;
    anything else is a usage error (a paired table needs two runs)."""
    cores = [c.strip() for c in spec.split(",") if c.strip()]
    if len(cores) < 2 or not all(c.isdigit() and int(c) > 0 for c in cores):
        raise SystemExit(
            f"SPARK_GRAFT_SCALE_CORES={spec!r}: need at least two positive "
            'core counts, comma-separated (e.g. "32,8")'
        )
    return cores


def run_bench(cores: str) -> dict:
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=SF_DIR, SPARK_GRAFT_CPUS=cores)
    proc = subprocess.run(
        [sys.executable, "bench.py"],
        env=env,
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.abspath(__file__)),
    )
    lines = [
        ln for ln in proc.stdout.splitlines() if ln.startswith('{"metric"')
    ]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"bench.py failed at {cores} cores")
    return json.loads(lines[-1])


def main() -> None:
    cores = parse_cores(os.environ.get("SPARK_GRAFT_SCALE_CORES", "32,8"))
    results = {c: run_bench(c) for c in cores}
    base, other = cores[0], cores[1]
    qb, qo = results[base]["queries"], results[other]["queries"]
    print(f"# paired bench at {SF_DIR}: {base} vs {other} cores")
    print(f"| query | {base}c s | {other}c s | ratio ({other}c/{base}c) |")
    print("|---|---|---|---|")
    rows = sorted(qb, key=lambda q: -(qo.get(q, 0.0) / qb[q] if qb[q] else 0))
    for q in rows:
        r = qo.get(q, float("nan")) / qb[q] if qb[q] else float("nan")
        print(f"| {q} | {qb[q]:.3f} | {qo.get(q, float('nan')):.3f} | {r:.2f}x |")
    tb, to = results[base]["value"], results[other]["value"]
    print(f"| **total** | **{tb:.3f}** | **{to:.3f}** | **{to / tb:.2f}x** |")
    for c in cores:
        with open(f".scale_cores_{c}.json", "w") as f:
            json.dump(results[c], f)


if __name__ == "__main__":
    main()
