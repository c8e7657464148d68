#!/usr/bin/env python3
"""Run the benchmark over several seeds and record every run as JSON lines.

    python3 perfbench/aa.py OUT.jsonl --workloads lakehouse analytics \\
        --seeds 1-10 --sets A B

Run from the repository root. For each workload and seed it runs one run
per set, in the order given, so the sets interleave (same-code A/A pairs,
or parent/change pairs when the sets are run from two checkouts). Each
output line is ``{"workload", "seed", "set", "wall_s", "result",
"detail"}``, the input of ``summarize.py``.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("out")
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", type=seeds, required=True)
    ap.add_argument("--sets", nargs="+", default=["A"])
    ap.add_argument("--seconds", default="10")
    args = ap.parse_args()
    bad = 0
    for workload in args.workloads:
        for seed in args.seeds:
            for name in args.sets:
                t0 = time.time()
                proc = subprocess.run(
                    [sys.executable, "perfbench/run.py", "--workload", workload,
                     "--seed", str(seed), "--seconds", args.seconds, "--trace", "0"],
                    stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
                lines = proc.stdout.strip().splitlines()
                if proc.returncode != 0 or len(lines) < 2:
                    bad += 1
                    print(f"{workload} seed {seed} set {name}: exit {proc.returncode}",
                          file=sys.stderr)
                    continue
                record = {"workload": workload, "seed": seed, "set": name,
                          "wall_s": round(time.time() - t0),
                          "result": json.loads(lines[-1]),
                          "detail": json.loads(lines[-2])["detail"]}
                with open(args.out, "a") as fh:
                    fh.write(json.dumps(record) + "\n")
                print(f"{workload} seed {seed} set {name}: {record['wall_s']} s "
                      f"{json.dumps(record['result']['metrics'])}", file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
