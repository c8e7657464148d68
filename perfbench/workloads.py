"""The benchmark's workloads, their output checks and per-layer metrics.

Each workload takes the ``Bench`` of ``run.py``, reads the reference
data set in ``data/sf0.1`` (tables of the project's sf 0.1 test data,
byte for byte, checked against ``SHA256SUMS``), sets up SETUP_REPEATS
times (reported as ``setup_s``), measures closed-loop clients for the
run's seconds and then checks every output. The seed picks the query
parameters and their order, the appended rows and the DML predicates.

- ``lakehouse``: one client works on a ``lineitem`` table whose log
  already holds HISTORY_VERSIONS versions, in whole cycles. A cycle
  alternates writer requests (WRITER_CYCLE: small appends with txn ids,
  merge-on-read DELETE and UPDATE touching ~1% of rows) with reader
  requests (READER_REPEATS rounds of the query mix, each request pinned
  to the version it saw), then compacts whenever ``should_compact()``
  says so, vacuums, and PROBE_REPEATS times scrapes ``GET /metrics``,
  cold-opens the table from a fresh session and replays an earlier txn id.
- ``analytics``: registry pipelines on the raw reference parquet with a
  noop sink, whole passes in a seeded order.
"""

from __future__ import annotations

import concurrent.futures
import hashlib
import json
import math
import re
import os
import random
import statistics
import urllib.request

import tracing

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")
TABLES = ("lineitem", "orders")
HISTORY_VERSIONS = 500
BATCH_ROWS = 200
POOL_BATCHES = 4
# The writer's requests of one cycle, run in a seeded order and spread
# evenly between the reader's: READER_REPEATS rounds of the kinds of
# ``_reader_ops``, so that every read kind's median rests on more than one
# sample.
WRITER_CYCLE = ["append"] * 5 + ["delete", "update"]
READER_REPEATS = 2
PROBE_REPEATS = 5
# Time-travel reads go back at most 5 versions.
VACUUM_RETAIN_VERSIONS = 6

ANALYTICS_QUERIES = [
    "q18_large_orders",
    "events_sessionize",
    "dedup_minhash_lsh",
    "embedding_pca_covariance",
]


# -- shared helpers ---------------------------------------------------------


def reference_data() -> dict[str, str]:
    """Paths of the reference tables, after checking each against
    ``SHA256SUMS``, so every run reads the same bytes."""
    paths = {}
    with open(os.path.join(DATA_DIR, "SHA256SUMS")) as fh:
        for line in fh:
            digest, name = line.split()
            path = os.path.join(DATA_DIR, name)
            with open(path, "rb") as data:
                if hashlib.sha256(data.read()).hexdigest() != digest:
                    raise RuntimeError(f"{path} differs from its SHA256SUMS entry")
            paths[name.removesuffix(".parquet")] = path
    return paths


def load_frame(spark, path: str):
    """Read reference parquet for a lakehouse table. TIMESTAMP_NTZ columns
    are cast to TIMESTAMP because the table schema layer has no NTZ type."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampNTZType

    df = spark.read.parquet(path)
    return df.select(*[
        F.col(f.name).cast("timestamp").alias(f.name)
        if isinstance(f.dataType, TimestampNTZType) else F.col(f.name)
        for f in df.schema.fields
    ])


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def _http(url: str, body: dict | None = None):
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(url, data=data, method="POST" if data else "GET",
                                 headers={"Content-Type": "application/json"})
    with urllib.request.urlopen(req, timeout=120) as resp:
        raw = resp.read().decode()
    return raw if body is None else json.loads(raw)


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def rows_match(got: list[tuple], want: list[tuple]) -> bool:
    key = lambda r: tuple("" if v is None else str(v) if isinstance(v, str) else v for v in r)
    got, want = sorted(got, key=key), sorted(want, key=key)
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_close(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want))


def _start_server(b, lake):
    from mini_lakehouse_control_plane_executor_spark.api.rest import LakehouseRestServer

    b.server = LakehouseRestServer(lake).start()
    return f"http://127.0.0.1:{b.server.port}"


def shutdown(b) -> None:
    """Stop everything this run started and wait for it to end."""
    server = getattr(b, "server", None)
    if server is not None:
        server.stop()
    spark = getattr(b, "spark", None)
    if spark is None:
        return
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=20)
        except Exception:
            proc.kill()
            proc.wait()


# -- lakehouse ----------------------------------------------------------------

_MONTHS = [f"{y}-{m:02d}-01" for y in range(1995, 2002) for m in range(1, 13)]


def _reader_ops(rng) -> list[tuple[str, dict]]:
    """One seeded cycle of the query mix. Each op is pinned to the latest
    version when it runs; ``back`` makes the time-travel read older."""
    q = rng.randrange(10, 41)
    m = rng.randrange(0, len(_MONTHS) - 1)
    year = rng.randrange(1995, 2001)
    full_scan = {"table_name": "lineitem",
                 "group_by": ["l_linestatus"],
                 "aggregates": [{"function": "sum", "column": "l_extendedprice"},
                                {"function": "count", "column": "*"}]}
    ops = [
        ("q_groupby", {"table_name": "lineitem",
                       "filter": f"l_quantity < {q}",
                       "group_by": ["l_returnflag", "l_linestatus"],
                       "aggregates": [{"function": "sum", "column": "l_quantity"},
                                      {"function": "count", "column": "*"}]}),
        ("q_prune", {"table_name": "lineitem",
                     "filter": f"l_shipdate >= '{_MONTHS[m]}' AND l_shipdate < '{_MONTHS[m + 1]}'",
                     "group_by": ["l_returnflag"],
                     "aggregates": [{"function": "sum", "column": "l_quantity"},
                                    {"function": "count", "column": "*"}]}),
        ("q_fullscan", full_scan),
        ("time_travel", {"back": rng.randrange(1, 6)}),
        ("rest_sql_join", {"year": year}),
        # The full-scan aggregate again, through the Python data source.
        ("scan_minilake", full_scan),
    ]
    rng.shuffle(ops)
    return ops


_SQL_JOIN = (
    "SELECT o_orderpriority, count(*) AS n, sum(l_quantity) AS q FROM lineitem "
    "JOIN orders ON l_orderkey = o_orderkey WHERE o_orderdate >= TIMESTAMP '{y}-01-01' "
    "AND o_orderdate < TIMESTAMP '{y1}-01-01' GROUP BY o_orderpriority")


def _expected_sql(kind: str, p: dict) -> str:
    if "group_by" in p:
        keys = ", ".join(p["group_by"])
        aggs = ", ".join("count(*)" if a["column"] == "*" else f"sum({a['column']})"
                         for a in p["aggregates"])
        where = ""
        if "filter" in p:
            where = "WHERE " + re.sub(r"'(\d{4}-\d\d-\d\d)'", r"TIMESTAMP '\1'", p["filter"])
        return f"SELECT {keys}, {aggs} FROM lineitem {where} GROUP BY {keys}"
    if kind == "rest_sql_join":
        return _SQL_JOIN.format(y=p["year"], y1=p["year"] + 1)
    return "SELECT l_returnflag, count(*), sum(l_quantity) FROM lineitem GROUP BY l_returnflag"


def lakehouse(b) -> None:
    import duckdb
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from mini_lakehouse_control_plane_executor_spark import LakehouseSession
    from mini_lakehouse_control_plane_executor_spark.sources import pydatasource
    from mini_lakehouse_control_plane_executor_spark.table.schema import from_spark_schema

    data = reference_data()

    def setup(rep_dir):
        lake = LakehouseSession(b.spark, rep_dir)
        for name in TABLES:
            df = load_frame(b.spark, data[name])
            t = lake.create_table(name, from_spark_schema(df.schema))
            t.insert(df, txn_id=f"load-{name}",
                     cluster_by=["l_shipdate"] if name == "lineitem" else None)
        # A long streaming-ingest history: one idempotency-marker commit
        # per (empty) micro-batch, as a streaming sink records them.
        lineitem = lake.table("lineitem")
        log, fields = lineitem.log, lineitem.fields
        for i in range(HISTORY_VERSIONS):
            log.commit(log.latest_version(), f"stream-batch-{i}", fields)
        return lake

    lake = b.timed_setups(setup)
    spark = b.spark
    # Left out of op_geomean_ms: background maintenance, which users wait
    # on only through other requests, and the millisecond Python-only
    # probes, whose latency doubles with the host's state from run to run.
    # The probes are reported per layer (log.cold_open_ms,
    # rest.metrics_scrape_ms) and count in ops_per_s.
    b.unscored_kinds = {"compact", "vacuum", "metrics_scrape", "cold_open", "replay"}
    pydatasource.register(spark)
    url = _start_server(b, lake)
    table = lake.table("lineitem")
    v_base = table.log.latest_version()
    w_rng, r_rng = random.Random(b.seed * 2 + 1), random.Random(b.seed * 2 + 2)

    # Appended batches: lineitem rows the seed picks, given order keys
    # past the loaded ones (new orders that the DML predicates reach too).
    source = pq.read_table(data["lineitem"])
    picked = np.random.default_rng(b.seed).choice(
        source.num_rows, POOL_BATCHES * BATCH_ROWS, replace=False)
    extra = source.take(np.sort(picked))
    offset = pc.max(source.column("l_orderkey")).as_py() + 1
    extra = extra.set_column(0, "l_orderkey", pc.add(extra.column(0), offset))
    batches = [extra.slice(i * BATCH_ROWS, BATCH_ROWS) for i in range(POOL_BATCHES)]
    pool = [spark.createDataFrame(t.to_pandas(), table.spark_schema).coalesce(1)
            for t in batches]

    writes: list[tuple[int, str, object]] = []  # (version, kind, payload)
    reads: list[tuple[str, dict, list]] = []
    acked: dict[str, int] = {f"stream-batch-{i}": None for i in range(HISTORY_VERSIONS)}
    last_job = [None]

    def run_read(kind, p):
        if kind.startswith("q_"):
            job = last_job[0] = lake.submit_async(p)
            lake.job_wait(job)
            rows = lake.job_result(job)
            keys = p["group_by"] + [
                "count_star" if a["column"] == "*" else f"sum_{a['column']}"
                for a in p["aggregates"]]
            return [tuple(r[k] for k in keys) for r in rows]
        if kind == "rest_sql_join":
            out = _http(url + "/sql", {"sql": _SQL_JOIN.format(y=p["year"], y1=p["year"] + 1),
                                       "versions": {"lineitem": p["version"]}})
            return [(r["o_orderpriority"], r["n"], r["q"]) for r in out["rows"]]
        if kind == "scan_minilake":
            df = (spark.read.format("minilake").option("root", lake.root)
                  .option("table", "lineitem").option("version", p["version"]).load())
            return [tuple(r) for r in df.groupBy("l_linestatus").agg(
                F.sum("l_extendedprice"), F.count(F.lit(1))).collect()]
        return [tuple(r) for r in table.read(version=p["version"]).groupBy(
            "l_returnflag").agg(F.count(F.lit(1)), F.sum("l_quantity")).collect()]

    state = {"n": 0}
    dvmat = {"seen": v_base, "n": 0}

    def writer_op(kind):
        if kind == "replay":
            txn = w_rng.choice(sorted(t for t, v in acked.items() if v))
            want, i = acked[txn], w_rng.randrange(len(pool))
            b.op("client", "replay", lambda: (lambda v: (v, v == want))(
                table.insert(pool[i], txn_id=txn)))
            return
        state["n"] += 1
        txn = f"w-{state['n']}"
        if kind == "append":
            payload = w_rng.randrange(len(pool))
            fn = lambda: (lambda v: (v, v is not None))(table.insert(pool[payload], txn_id=txn))
        elif kind == "delete":
            payload = f"l_orderkey % 101 = {w_rng.randrange(101)}"
            fn = lambda: (table.delete(payload, txn_id=txn, mode="merge-on-read")[0], True)
        else:
            payload = f"l_orderkey % 103 = {w_rng.randrange(103)}"
            fn = lambda: (table.update(payload, {"l_quantity": "l_quantity + 1"},
                                       txn_id=txn, mode="merge-on-read")[0], True)
        v, ok, _ = b.op("client", kind, fn)
        if ok and v is not None:
            acked[txn] = v
            writes.append((v, kind, payload))

    def reader_op(kind, p):
        v = table.log.latest_version()
        p = dict(p, version=max(v_base, v - p["back"]) if "back" in p else v)
        rows, ok, op_id = b.op("client", kind, lambda: (run_read(kind, p), True),
                               hands_off=True)
        if ok:
            reads.append((kind, p, rows))
        if b.tracer is not None and kind.startswith("q_"):
            tracker = spark.sparkContext.statusTracker()
            b.count("query_spark_jobs", len(tracker.getJobIdsForGroup(op_id))
                    + len(tracker.getJobIdsForGroup(last_job[0])))
            b.count("queries", 1)

    def expected_commits():
        """Commits the session has made, from the client's own record: per
        table a create and a load, the history, every acknowledged write
        and every compaction. Replays add none. The one commit the client
        does not request is the library's own deletion-vector rewrite
        after a DELETE or UPDATE (txn id ``dvmat-*``), counted from the
        log entries after set-up."""
        for v in range(dvmat["seen"] + 1, table.log.latest_version() + 1):
            dvmat["n"] += table.log.read_entry(v).txn_id.startswith("dvmat-")
            dvmat["seen"] = v
        return (2 * len(TABLES) + HISTORY_VERSIONS + len(writes)
                + int(b.counters.get("compactions", 0)) + dvmat["n"])

    def scrape():
        text = _http(url + "/metrics")
        got = re.search(r"^lakehouse_commits_total (\d+)$", text, re.M)
        want = expected_commits()
        if got is None or int(got.group(1)) != want:
            raise AssertionError(f"lakehouse_commits_total {got and got.group(1)} != {want}")
        return text, True

    def run_cycle():
        """Writer and reader requests alternate, each stream in its own
        seeded order; then maintenance, a metrics scrape and a cold open."""
        w_kinds = iter(w_rng.sample(WRITER_CYCLE, len(WRITER_CYCLE)))
        r_ops = [op for _ in range(READER_REPEATS) for op in _reader_ops(r_rng)]
        n_w, n_r = len(WRITER_CYCLE), len(r_ops)
        for i, op in enumerate(r_ops):
            for _ in range((i + 1) * n_w // n_r - i * n_w // n_r):
                writer_op(next(w_kinds))
            reader_op(*op)
        # Deletion-vector rows waiting when maintenance starts; compaction
        # clears them, so the table at run end has none.
        b.count("dv_pending_rows", sum(f.dv_rows for f in table.snapshot().files))
        if table.should_compact():
            b.op("client", "compact", lambda: (_compact(b, table), True))
        b.op("client", "vacuum", lambda: (_vacuum(b, table), True))
        # Millisecond requests, repeated so each kind's median is steady.
        newest = table.log.latest_version()
        for _ in range(PROBE_REPEATS):
            b.op("client", "metrics_scrape", scrape, hands_off=True)
            b.op("client", "cold_open", lambda: (lambda snap: (
                snap, snap.version == newest))(
                LakehouseSession(spark, lake.root).table("lineitem").snapshot()))
            writer_op("replay")

    b.phase("prepare")
    # Warm-up, untimed: each write kind once, so that the reads after it
    # compile their deletion-vector plans here, then every read kind, three
    # at a time to shorten the run. Their results are checked with the rest.
    acked["warm"] = table.insert(pool[0], txn_id="warm")
    writes.append((acked["warm"], "append", 0))
    for kind in ("delete", "update"):
        writer_op(kind)
    v = table.log.latest_version()
    warm = [(kind, dict(p, version=v)) for kind, p in _reader_ops(random.Random(0))]
    with concurrent.futures.ThreadPoolExecutor(3) as ex:
        reads.extend((kind, p, rows) for (kind, p), rows in
                     zip(warm, ex.map(lambda op: run_read(*op), warm)))
    _http(url + "/metrics")

    log_dir = os.path.join(table.dir, "_log")
    dir_before, log_before, v_before = (
        _dir_bytes(table.dir), _dir_bytes(log_dir), table.log.latest_version())
    b.mark_window(lake, TABLES)
    b.start_window()
    while b.next_unit():  # whole cycles only, so every run has the same mix
        run_cycle()
    b.end_window(lake, TABLES)

    snap = table.snapshot()
    commits = snap.version - v_before
    b.layer["log.bytes_per_commit"] = (
        (_dir_bytes(log_dir) - log_before) / commits if commits else 0.0)
    live = sum(f.size * (f.rows - f.dv_rows) / f.rows for f in snap.files if f.rows)
    on_disk = _dir_bytes(table.dir)
    b.detail["space_amp"] = on_disk / live if live else 0.0
    user = sum(a.size for v, k, _ in writes if k == "append" and v > v_before
               for a in table.log.read_entry(v).adds)
    written = on_disk - dir_before + b.counters.get("vacuum_bytes_freed", 0.0)
    b.detail["bytes_written_per_user_byte"] = written / user if user else 0.0
    b.detail["log_versions"] = snap.version
    for group, kinds in (("commit", ("append", "delete", "update")),
                         ("query", tuple(k for k, _ in _reader_ops(random.Random(0))))):
        lat = [o.ms for o in b.ops if o.kind in kinds]
        if lat:
            b.detail[f"{group}_p50_ms"] = statistics.median(lat)
            b.detail[f"{group}_n"] = len(lat)

    # Output checks: replay the acknowledged writes in DuckDB and compare
    # every pinned read and the final table against it; then cold-start a
    # fresh session on the directory and look for every acknowledged txn.
    con = duckdb.connect()
    con.execute(f"CREATE TABLE lineitem AS SELECT * FROM read_parquet('{data['lineitem']}')")
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{data['orders']}')")
    writes.sort()
    applied = 0
    for kind, p, rows in sorted(reads, key=lambda r: r[1]["version"]):
        while applied < len(writes) and writes[applied][0] <= p["version"]:
            _apply_write(con, writes[applied], batches)
            applied += 1
        want = con.execute(_expected_sql(kind, p)).fetchall()
        b.check(f"read_{kind}", rows_match(rows, want), f"v{p['version']} {rows} != {want}")
    for w in writes[applied:]:
        _apply_write(con, w, batches)
    want = con.execute("SELECT count(*), sum(l_quantity) FROM lineitem").fetchone()
    got = table.read().agg(F.count(F.lit(1)), F.sum("l_quantity")).first()
    b.check("final_rows", rows_match([tuple(got)], [want]), f"{tuple(got)} != {want}")
    fresh = LakehouseSession(spark, lake.root).table("lineitem")
    b.check("durable_version", fresh.log.latest_version() == snap.version)
    lost = [t for t, v in acked.items() if fresh.log.find_txn(t) is None
            or (v is not None and fresh.log.find_txn(t) != v)]
    b.check("durable_txns", not lost, f"{len(lost)} acknowledged txn ids not found")
    got = fresh.read().agg(F.count(F.lit(1)), F.sum("l_quantity")).first()
    b.check("durable_rows", rows_match([tuple(got)], [want]), f"{tuple(got)} != {want}")
    con.close()


def _apply_write(con, write, batches) -> None:
    _, kind, payload = write
    if kind == "append":
        batch = batches[payload]  # noqa: F841 - read by DuckDB's replacement scan
        con.execute("INSERT INTO lineitem SELECT * FROM batch")
    elif kind == "delete":
        con.execute(f"DELETE FROM lineitem WHERE {payload}")
    else:
        con.execute(f"UPDATE lineitem SET l_quantity = l_quantity + 1 WHERE {payload}")


def _compact(b, table):
    v = table.compact()
    if v is not None:
        adds = table.log.read_entry(v).adds
        b.count("compact_bytes_rewritten", sum(a.size for a in adds))
        b.count("compactions", 1)
    return v


def _vacuum(b, table):
    out = table.vacuum(retain_versions=VACUUM_RETAIN_VERSIONS, min_age_seconds=10.0)
    b.count("vacuum_bytes_freed", out.get("freed_bytes", 0))
    b.count("vacuums", 1)
    return out


# -- analytics ----------------------------------------------------------------


def _frames_equal(left, right) -> bool:
    import pandas as pd

    if sorted(left.columns) != sorted(right.columns) or len(left) != len(right):
        return False

    def norm(df):
        df = df[sorted(df.columns)].copy()
        for c in df.columns:
            if getattr(df[c].dtype, "tz", None) is not None:
                df[c] = df[c].dt.tz_localize(None)
        return df.sort_values(by=list(df.columns), ignore_index=True)

    try:
        pd.testing.assert_frame_equal(norm(left), norm(right), check_dtype=False,
                                      check_exact=False, rtol=0, atol=1e-9)
    except AssertionError:
        return False
    return True


def analytics(b) -> None:
    import duckdb

    from mini_lakehouse_control_plane_executor_spark import queries as qlib

    paths = reference_data()
    sf_dir = DATA_DIR
    registry, oracles = qlib.all_queries(), qlib.all_oracles()
    rng = random.Random(b.seed)

    def setup(_rep_dir):
        for name in ANALYTICS_QUERIES:  # planning, including eager jobs
            registry[name](b.spark, sf_dir)
        qlib.release_cached_intermediates(b.spark)

    b.timed_setups(setup)
    spark = b.spark

    # Untimed pass, which also warms up the plans the timed passes run:
    # every pipeline's result against its DuckDB oracle.
    con = duckdb.connect()
    for t, p in paths.items():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    for name in rng.sample(ANALYTICS_QUERIES, len(ANALYTICS_QUERIES)):
        got = registry[name](spark, sf_dir).toPandas()
        qlib.release_cached_intermediates(spark)
        want = con.execute(oracles[name]).fetchdf()
        b.check(f"oracle_{name}", _frames_equal(got, want), "result differs from oracle")
    con.close()
    b.phase("oracle_checks")

    def run(name):
        def go():
            with b.span("queries", "plan"):
                df = registry[name](spark, sf_dir)
            with b.span("spark", "execute"):
                df.write.format("noop").mode("overwrite").save()
            return None, True
        return go

    b.mark_window(None, [])
    b.start_window()
    while b.next_unit():  # whole passes only, so every run has the same mix
        for name in rng.sample(ANALYTICS_QUERIES, len(ANALYTICS_QUERIES)):
            b.op("analytics", name, run(name))
            qlib.release_cached_intermediates(spark)
    b.end_window(None, [])
    per_query = {}
    for o in b.ops:
        per_query.setdefault(o.kind, []).append(o.end - o.start)
    medians = {k: statistics.median(v) for k, v in per_query.items()}
    b.detail["analytics_total_s"] = sum(medians.values())
    for name in ANALYTICS_QUERIES:
        b.layer[f"analytics.{name}_s"] = medians.get(name, 0.0)


# -- per-layer metrics (traced run) ------------------------------------------

SELF_LAYERS = ["bench", "queries", "spark", "table.log", "table.table", "functions.filters",
               "plans.query", "table.catalog", "api.rest"]


def per_layer(b) -> dict[str, tuple[float, str]]:
    """Every per-layer metric, from the traced operations of the window.
    A layer the workload bypasses reads 0."""
    tr = b.tracer
    traced = [o for o in b.ops if o.traced]
    traced_ids = {o.op_id for o in traced}
    spans = [s for s in tr.spans if s.op_id in traced_ids and s.end > 0]
    durations: dict[tuple[str, str], list[float]] = {}
    for s in spans:
        durations.setdefault((s.layer, s.name), []).append((s.end - s.start) * 1000.0)

    def span_ms(layer, name):
        v = durations.get((layer, name))
        return statistics.fmean(v) if v else 0.0

    def op_ms(kind):
        v = [o.ms for o in traced if o.kind == kind]
        return statistics.fmean(v) if v else 0.0

    def ratio(num, den):
        return num / den if den else 0.0

    c, tc = b.counters, tr.counters
    appends = {o.op_id for o in traced if o.kind == "append" and o.ok}
    list_calls = sum(1 for s in spans if s.op_id in appends
                     and s.name in ("list_versions", "list_checkpoints"))
    rest_overhead = []
    server_sql = {s.op_id: (s.end - s.start) * 1000.0 for s in spans
                  if s.layer == "api.rest" and s.name == "execute_sql"}
    for o in traced:
        if o.kind == "rest_sql_join" and o.op_id in server_sql:
            rest_overhead.append(o.ms - server_sql[o.op_id])

    out: dict[str, tuple[float, str]] = {
        "session.spark_start_s": (statistics.median(b.ctx_starts), "s"),
        "log.commit_ms": (span_ms("table.log", "commit"), "ms"),
        "log.list_calls_per_commit": (ratio(list_calls, len(appends)), "count"),
        "log.snapshot_ms": (span_ms("table.log", "snapshot"), "ms"),
        "log.cold_open_ms": (op_ms("cold_open"), "ms"),
        "log.bytes_per_commit": (b.layer.get("log.bytes_per_commit", 0.0), "B"),
        "table.insert_ms": (span_ms("table.table", "insert"), "ms"),
        "table.delete_ms": (span_ms("table.table", "delete"), "ms"),
        "table.update_ms": (span_ms("table.table", "update"), "ms"),
        "table.compact_ms": (span_ms("table.table", "compact"), "ms"),
        "table.compact_bytes_rewritten": (
            ratio(c.get("compact_bytes_rewritten", 0), c.get("compactions", 0)), "B"),
        "table.vacuum_bytes_freed": (
            ratio(c.get("vacuum_bytes_freed", 0), c.get("vacuums", 0)), "B"),
        "table.read_resolve_ms": (span_ms("table.table", "read"), "ms"),
        "table.dv_pending_rows": (ratio(c.get("dv_pending_rows", 0), b.units), "count"),
        "table.scan_ms": (op_ms("q_fullscan"), "ms"),
        "filters.prune_ms": (span_ms("functions.filters", "prune_files"), "ms"),
        "filters.files_kept_ratio": (
            ratio(tc.get("prune_kept", 0), tc.get("prune_in", 0)), "ratio"),
        "plans.apply_query_ms": (span_ms("plans.query", "apply_query"), "ms"),
        "catalog.job_wait_ms": (span_ms("table.catalog", "job_wait"), "ms"),
        "catalog.job_result_ms": (span_ms("table.catalog", "job_result"), "ms"),
        "catalog.sql_bind_ms": (span_ms("table.catalog", "sql"), "ms"),
        "catalog.spark_jobs_per_query": (
            ratio(c.get("query_spark_jobs", 0), c.get("queries", 0)), "count"),
        "catalog.commit_conflicts": (b.layer.get("catalog.commit_conflicts", 0.0), "count"),
        "sources.minilake_scan_ms": (op_ms("scan_minilake"), "ms"),
        "rest.sql_overhead_ms": (
            statistics.fmean(rest_overhead) if rest_overhead else 0.0, "ms"),
        "rest.metrics_scrape_ms": (op_ms("metrics_scrape"), "ms"),
    }

    # Spark execution over the whole window, per operation.
    n_ops = max(1, len(b.ops))
    units = {"executor_run_ms": "ms", "executor_cpu_ms": "ms", "gc_ms": "ms",
             "shuffle_read_bytes": "B", "shuffle_write_bytes": "B", "spill_bytes": "B",
             "input_bytes": "B", "stages": "count", "tasks": "count"}
    for key, unit in units.items():
        out[f"spark.{key}"] = (b.stage_totals.get(key, 0.0) / n_ops, unit)
    uncovered = []
    for o in b.ops:
        inside = [(max(s, o.wall_start), min(e, o.wall_end))
                  for s, e in b.stage_intervals if e > o.wall_start and s < o.wall_end]
        uncovered.append(o.wall_end - o.wall_start - tracing._union_length(inside))
    out["spark.driver_ms"] = (1000.0 * statistics.fmean(uncovered) if uncovered else 0.0, "ms")

    for name in ANALYTICS_QUERIES:
        out[f"analytics.{name}_s"] = (b.layer.get(f"analytics.{name}_s", 0.0), "s")
    out["analytics.plan_ms"] = (span_ms("queries", "plan"), "ms")
    out["analytics.python_bytes"] = (
        b.python_bytes / n_ops if b.args.workload == "analytics" else 0.0, "B")

    selfs = tracing.self_times(spans)
    for layer in SELF_LAYERS:
        out[f"self.{layer}_ms"] = (1000.0 * ratio(selfs.get(layer, 0.0), len(traced)), "ms")

    # Tracing overhead: per kind, the traced median against the untraced
    # median, as a geometric mean over kinds.
    split: dict[str, tuple[list[float], list[float]]] = {}
    for o in b.ops:
        split.setdefault(o.kind, ([], []))[o.traced].append(o.ms)
    logs = [math.log(statistics.median(on) / statistics.median(off))
            for off, on in split.values() if on and off]
    out["trace.overhead_pct"] = (
        100.0 * (math.exp(statistics.fmean(logs)) - 1.0) if logs else 0.0, "%")
    out["trace.spans_per_op"] = (ratio(len(spans), len(traced)), "count")
    return out
