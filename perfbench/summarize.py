#!/usr/bin/env python3
"""Summarize benchmark runs: median, quartiles and spread per metric.

    python3 perfbench/summarize.py RUNS.jsonl [MORE.jsonl ...]

Each input line is one run: {"workload", "seed", "set", "wall_s",
"result": <the runner's last stdout line>, "detail": <the line before>}.
Runs are grouped by workload and set (for example the two halves of an
interleaved A/A or A/B pair). Spread is (Q3 - Q1) / median, with quartiles
from ``statistics.quantiles(values, n=4)``. With two sets, the last column
is the second set's median against the first's.
"""

from __future__ import annotations

import json
import statistics
import sys


def main(paths: list[str]) -> None:
    groups: dict[str, dict[str, list[dict]]] = {}
    for path in paths:
        with open(path) as fh:
            for line in fh:
                if line.strip():
                    run = json.loads(line)
                    groups.setdefault(run["workload"], {}).setdefault(run["set"], []).append(run)
    for workload, sets in groups.items():
        names = sorted(sets)
        print(f"\n## {workload}\n")
        header = "| metric | set | n | median | Q1 | Q3 | spread |"
        print(header + (" vs first set |" if len(names) > 1 else ""))
        print("|---" * (header.count("|") - 1 + (len(names) > 1)) + "|")
        metrics = sorted(sets[names[0]][0]["result"]["metrics"])
        for metric in metrics:
            first = None
            for name in names:
                vals = [r["result"]["metrics"][metric]["value"] for r in sets[name]]
                med = statistics.median(vals)
                q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med,) * 3
                first = med if first is None else first
                row = (f"| {metric} | {name} | {len(vals)} | {med:.4g} | {q1:.4g} | "
                       f"{q3:.4g} | {(q3 - q1) / med:.3f} |")
                if len(names) > 1:
                    row += f" {med / first - 1:+.3f} |"
                print(row)
        for name in names:
            runs = sets[name]
            failed = sum(r["result"]["failed"] for r in runs)
            attempted = sum(r["result"]["attempted"] for r in runs)
            walls = [r["wall_s"] for r in runs]
            print(f"\nset {name}: {failed} failed of {attempted} attempted; run wall "
                  f"{min(walls)}–{max(walls)} s (median {statistics.median(walls)} s)")


if __name__ == "__main__":
    main(sys.argv[1:])
