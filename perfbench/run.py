#!/usr/bin/env python3
"""minilake benchmark runner.

    python3 perfbench/run.py --workload lakehouse --seed 1 --seconds 10 --trace 0

Run from the repository root. The inputs are the reference tables in
``perfbench/data``; ``--seed`` picks the query parameters and order, the
appended rows and the DML predicates. Scratch files go under
``.perfbench_work/`` (nothing outside the checkout is read or written).
The workload runs closed-loop clients against the library's public API
for ``--seconds``, every output is checked, and the last line of stdout is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they
are the per-layer ones from spans recorded around the library's public
functions. The line before it is a JSON detail record (per-operation
latencies, sample counts, failure ratio with its base, environment).
Exit code 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("lakehouse", "analytics")
SETUP_REPEATS = 3


def box_env(work: str) -> dict[str, str]:
    """Session settings that are safe on the box this runs on: all cores,
    a driver heap of a quarter of physical RAM capped at 4 GiB, and every
    Spark scratch path inside the work directory."""
    cpus = len(os.sched_getaffinity(0))
    phys_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / (1 << 30)
    mem_gib = max(1, min(4, int(phys_gib // 4)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_gib}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "SPARK_GRAFT_CONF_spark__ui__showConsoleProgress": "false",
        "SPARK_GRAFT_CONF_spark__sql__warehouse__dir": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_CONF_spark__driver__extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return s[k]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def tree_cpu_s(root: int) -> float:
    """CPU seconds used by ``root`` and all its descendants, including
    children they have already reaped (Spark's Python workers)."""
    procs: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        rest = stat[stat.rindex(")") + 2:].split()
        procs[int(name)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += procs.get(pid, (0, 0))[1]
        stack.extend(children.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


@dataclass
class Op:
    op_id: str
    client: str
    kind: str
    start: float
    end: float
    wall_start: float
    wall_end: float
    ok: bool
    traced: bool

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Bench:
    """Shared state of one run: the Spark session, the closed-loop op
    recorder, failures, and the tracer when ``--trace 1``."""

    def __init__(self, args, work: str):
        self.args = args
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = work
        self.ops: list[Op] = []
        self.failures: list[str] = []
        self.extra_attempted = 0
        self.detail: dict = {}
        self.layer: dict[str, float] = {}
        self.counters: dict[str, float] = {}
        self.unscored_kinds: set[str] = set()
        self._mu = threading.Lock()
        self._op_ids = 0
        self.measure_start = 0.0
        self.units = 0
        self._kind_parity: dict[str, int] = {}
        self.tracer = None
        if args.trace:
            import tracing

            self.tracer = tracing.Tracer()
            self.tracer.install()
        from mini_lakehouse_control_plane_executor_spark import session

        self._session = session
        self._phase_t = t0 = time.perf_counter()
        self.spark = session.get_spark("perfbench")
        self.spark.range(1).count()
        self.detail["jvm_start_s"] = time.perf_counter() - t0
        self.phase("jvm_start")
        self.ctx_starts: list[float] = []

    # -- set-up ------------------------------------------------------------

    def restart_spark(self):
        """Stop the SparkContext and start a fresh one in the running JVM."""
        t0 = time.perf_counter()
        self.spark.stop()
        self.spark = self._session.get_spark("perfbench")
        self.spark.range(1).count()
        self.ctx_starts.append(time.perf_counter() - t0)
        return self.spark

    def timed_setups(self, setup_fn):
        """Run ``setup_fn(rep_dir)`` SETUP_REPEATS times, each after a
        context restart and in a fresh directory; return the last result
        and record the median wall time as setup_s."""
        times, result, prev = [], None, None
        for rep in range(SETUP_REPEATS):
            rep_dir = os.path.join(self.work, f"rep{rep}")
            t0 = time.perf_counter()
            self.restart_spark()
            result = setup_fn(rep_dir)
            times.append(time.perf_counter() - t0)
            if prev:
                shutil.rmtree(prev, ignore_errors=True)
            prev = rep_dir
        self.detail["setup_runs_s"] = times
        self.phase("setups")
        self.setup_s = statistics.median(times)
        return result

    # -- measurement -------------------------------------------------------

    def next_unit(self) -> bool:
        """Whether to start another whole cycle (or pass) of the workload:
        while the window lasts, and in a traced run at least two."""
        more = self.running() or (self.tracer is not None and self.units < 2)
        self.units += more
        return more

    def traced_now(self, kind: str) -> bool:
        """In a traced run each operation kind is traced in every second
        unit, half of the kinds in the odd units and half in the even ones,
        so the same run yields the tracing overhead with the warm-up drift
        between units balanced out."""
        if self.tracer is None:
            return False
        parity = self._kind_parity.setdefault(kind, len(self._kind_parity) % 2)
        return (self.units + parity) % 2 == 0

    def start_window(self):
        self.phase("warm_up")
        self._ticks0 = cpu_ticks()
        self._cpu0 = tree_cpu_s(os.getpid())
        self.measure_start = time.perf_counter()
        self.deadline = self.measure_start + self.seconds

    def running(self) -> bool:
        return time.perf_counter() < self.deadline

    def op(self, client: str, kind: str, fn, hands_off: bool = False):
        """Run one closed-loop operation and record it. ``fn()`` returns
        (result, ok); an exception counts as a failed operation."""
        with self._mu:
            self._op_ids += 1
            op_id = f"{client}-{self._op_ids}"
        traced = self.traced_now(kind)
        self.spark.sparkContext.setJobGroup(op_id, kind)
        result, ok = None, False
        ws = time.time()
        t0 = time.perf_counter()
        try:
            if self.tracer is not None:
                with self.tracer.op(op_id, kind, traced, hands_off):
                    result, ok = fn()
            else:
                result, ok = fn()
        except Exception as exc:  # a failed operation is data, not a crash
            self.fail(f"{kind}: {type(exc).__name__}: {str(exc)[:300]}")
            traceback.print_exc(file=sys.stderr)
        else:
            if not ok:
                self.fail(f"{kind}: wrong result")
        t1 = time.perf_counter()
        with self._mu:
            if self.measure_start:
                self.ops.append(Op(op_id, client, kind, t0, t1, ws, time.time(), ok, traced))
            else:  # warm-up: checked and counted, not timed
                self.extra_attempted += 1
        return result, ok, op_id

    def span(self, layer: str, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(layer, name)

    def phase(self, name: str):
        """Record the wall time since the previous phase mark."""
        now = time.perf_counter()
        self.detail.setdefault("phase_s", {})[name] = now - self._phase_t
        self._phase_t = now

    def count(self, key: str, n: float):
        with self._mu:
            self.counters[key] = self.counters.get(key, 0) + n

    def _conflicts(self, lake, tables) -> int:
        return sum(lake.table(t).log.conflict_count for t in tables) if lake else 0

    def mark_window(self, lake, tables):
        """Baselines for the counters read again by ``end_window``."""
        self._conflicts0 = self._conflicts(lake, tables)
        if self.tracer is not None:
            import tracing

            self._job0 = tracing.max_job_id(self.spark)
            self._exec0 = tracing.newest_execution_id(self.spark)

    def end_window(self, lake, tables):
        self.phase("window")
        self._cpu1 = tree_cpu_s(os.getpid())
        self._ticks1 = cpu_ticks()
        self.layer["catalog.commit_conflicts"] = float(
            self._conflicts(lake, tables) - self._conflicts0)
        if self.tracer is None:
            return
        import tracing

        self.stage_totals, self.stage_intervals = tracing.spark_stage_totals(
            self.spark, self._job0)
        self.python_bytes, _ = tracing.python_boundary_bytes(self.spark, self._exec0)

    def fail(self, msg: str):
        with self._mu:
            self.failures.append(msg)
        print(f"FAILED {msg}", file=sys.stderr)

    def check(self, what: str, ok: bool, msg: str = ""):
        """An output check outside the timed window; counted as attempted."""
        with self._mu:
            self.extra_attempted += 1
        if not ok:
            self.fail(f"check {what}: {msg}")

    # -- results -----------------------------------------------------------

    def end_to_end(self) -> dict:
        ops = self.ops
        lat = [o.ms for o in ops]
        span = max(o.end for o in ops) - self.measure_start if ops else 1.0
        jvm = self.spark.sparkContext._gateway.proc.pid
        rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm)
        by_kind = {}
        for o in ops:
            by_kind.setdefault(o.kind, []).append(o.ms)
        self.detail["ops"] = {
            k: {"n": len(v), "p50_ms": statistics.median(v),
                "p90_ms": percentile(v, 90)}
            for k, v in sorted(by_kind.items())
        }
        self.detail["op_p50_ms"] = statistics.median(lat) if lat else 0.0
        self.detail["op_p90_ms"] = percentile(lat, 90) if lat else 0.0
        self.detail["op_count"] = len(lat)
        # TPC-H power style: the geometric mean over operation kinds of each
        # kind's median, so a run's mix of kinds does not move it.
        logs = [math.log(statistics.median(v)) for k, v in by_kind.items()
                if k not in self.unscored_kinds]
        self.detail["peak_rss_mb"] = rss
        steal, total = (b - a for a, b in zip(self._ticks0, self._ticks1))
        self.detail["host_steal_pct"] = 100.0 * steal / total if total else 0.0
        return {
            "setup_s": (self.setup_s, "s"),
            "op_geomean_ms": (math.exp(statistics.fmean(logs)) if logs else 0.0, "ms"),
            "ops_per_s": (len(ops) / span, "1/s"),
            "cpu_ms_per_op": (1000.0 * (self._cpu1 - self._cpu0) / max(1, len(ops)), "ms"),
        }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    repo = os.getcwd()
    if not os.path.isdir(os.path.join(repo, "mini_lakehouse_control_plane_executor_spark")):
        print("perfbench: run from the repository root (library package not found)",
              file=sys.stderr)
        return 2
    base = os.path.join(repo, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ.update(box_env(work))
    sys.path.insert(0, repo)

    import workloads

    bench = None
    try:
        bench = Bench(args, work)
        getattr(workloads, args.workload)(bench)
        bench.phase("checks")
        e2e = bench.end_to_end()
        if args.trace:
            metrics = {k: {"value": v, "unit": u}
                       for k, (v, u) in sorted(workloads.per_layer(bench).items())}
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            bench.tracer.dump(os.path.join(
                base, "traces", f"{args.workload}-{args.seed}.json"))
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        attempted = len(bench.ops) + bench.extra_attempted
        failed = len(bench.failures)
        bench.detail.update({
            "workload": args.workload, "seed": args.seed,
            "env": {k: os.environ[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")},
            "op_failure_ratio": failed / attempted if attempted else 1.0,
            "failures": bench.failures[:20],
        })
        print(json.dumps({"detail": bench.detail}, default=float))
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics,
        }))
        return 0 if failed == 0 else 1
    finally:
        if bench is not None:
            workloads.shutdown(bench)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
