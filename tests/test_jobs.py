"""Async job lifecycle + execution metrics (reference
QueryExecutionMetrics parity: distributed_query_executor.go:510-524)."""

import threading
import time

from pyspark.sql import functions as F

from mini_lakehouse_control_plane_executor_spark.plans.query import Aggregate, SimpleQuery
from mini_lakehouse_control_plane_executor_spark.table import catalog as cat
from mini_lakehouse_control_plane_executor_spark.table.schema import Field

SCHEMA = [Field("k", "int64"), Field("v", "string"), Field("x", "float64")]


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
        (F.col("id") * 1.5).alias("x"),
    )


def test_async_job_metrics(lake, spark):
    lake.create_table("jm", SCHEMA)
    lake.insert("jm", _df(spark, 0, 1000))
    q = SimpleQuery(
        table_name="jm",
        filter="k >= 100",
        group_by=["v"],
        aggregates=[Aggregate("count", "*", "n")],
        limit=5,
    )
    job_id = lake.submit_async(q)
    rows = lake.job_result(job_id)
    assert len(rows) == 5 and all(r["n"] == 1 for r in rows)

    info = lake.job_status(job_id)
    assert info.status == "COMPLETED" and info.finished_ms is not None
    m = info.metrics
    assert m["input_files"] >= 1
    assert m["input_bytes"] > 0
    assert m["input_rows"] == 1000
    assert m["output_rows"] == 5
    assert m["spark_jobs"] >= 1
    assert m["num_tasks"] >= 1
    assert info.to_json()["metrics"] == m


def test_job_lifecycle_observable(lake, spark, monkeypatch):
    """RUNNING is observable while the query executes; COMPLETED after."""
    lake.create_table("jl", SCHEMA)
    lake.insert("jl", _df(spark, 0, 10))

    gate = threading.Event()
    real_query = lake.query

    def slow_query(q):
        gate.wait(10)
        return real_query(q)

    monkeypatch.setattr(lake, "query", slow_query)
    job_id = lake.submit_async(SimpleQuery(table_name="jl"))
    deadline = time.time() + 5
    while lake.job_status(job_id).status == "PENDING" and time.time() < deadline:
        time.sleep(0.01)
    assert lake.job_status(job_id).status == "RUNNING"
    gate.set()
    assert len(lake.job_result(job_id)) == 10
    assert lake.job_status(job_id).status == "COMPLETED"


def test_failed_job_surfaces_error(lake, spark):
    job_id = lake.submit_async(SimpleQuery(table_name="does_not_exist"))
    import pytest

    with pytest.raises(RuntimeError, match="does_not_exist"):
        lake.job_result(job_id)
    assert lake.job_status(job_id).status == "FAILED"


def test_large_result_is_file_backed_not_driver_resident(lake, spark):
    """VERDICT r02 item 4: a large un-aggregated SELECT * must never
    materialize its full row set in JobInfo — rows go to the parquet
    result sink; the driver keeps only a bounded preview."""
    import os

    from mini_lakehouse_control_plane_executor_spark.table import catalog as cat

    lake.create_table("big", SCHEMA)
    lake.insert("big", _df(spark, 0, 50_000))
    job_id = lake.submit_async(SimpleQuery(table_name="big"))
    info = lake.job_wait(job_id)

    assert "rows" not in info.extra  # full rows never stored on the driver
    assert len(info.extra["preview"]) == cat.RESULT_PREVIEW_ROWS
    assert info.metrics["output_rows"] == 50_000
    path = info.extra["result_path"]
    assert os.path.isdir(path)
    assert spark.read.parquet(path).count() == 50_000
    # On-demand full materialization still works for small-result callers.
    assert len(lake.job_result(job_id)) == 50_000


def test_finished_job_eviction_bounds_job_map(lake, spark, monkeypatch):
    """The job map and results dir stay bounded on a long-lived server."""
    import os

    from mini_lakehouse_control_plane_executor_spark.table import catalog as cat

    monkeypatch.setattr(cat, "MAX_FINISHED_JOBS", 3)
    lake.create_table("ev", SCHEMA)
    lake.insert("ev", _df(spark, 0, 10))
    ids = [lake.submit_async(SimpleQuery(table_name="ev")) for _ in range(6)]
    for j in ids:
        try:
            lake.job_wait(j)
        except KeyError:
            pass  # may already be evicted by a later job's cleanup
    finished = [j for j in lake._jobs.values() if j.status == "COMPLETED"]
    assert len(finished) <= 3
    # evicted jobs' result dirs are gone; surviving ones remain
    results_root = os.path.join(lake.root, "results")
    assert len(os.listdir(results_root)) <= 3


ALL_TYPES = [
    Field("i32", "int32"),
    Field("i64", "int64"),
    Field("f32", "float32"),
    Field("f64", "float64"),
    Field("s", "string"),
    Field("b", "boolean"),
    Field("d", "date"),
    Field("ts", "timestamp"),
]


def _all_types_df(spark, n):
    """``n`` rows over every schema type; every third row is NULL in
    every column but the key."""
    null = F.col("id") % 3 == 2
    return spark.range(n).select(
        F.col("id").cast("int").alias("i32"),
        F.when(~null, F.col("id") * 1_000_003).alias("i64"),
        F.when(~null, (F.col("id") / 7).cast("float")).alias("f32"),
        F.when(~null, F.col("id") / 3).alias("f64"),
        F.when(~null, F.concat(F.lit("é-"), F.col("id").cast("string"))).alias("s"),
        F.when(~null, F.col("id") % 2 == 0).alias("b"),
        F.when(~null, F.date_add(F.lit("1999-12-30").cast("date"), F.col("id").cast("int"))).alias("d"),
        F.when(~null, F.timestamp_micros(F.col("id") * 86_400_123_457)).alias("ts"),
    )


def _dicts(df):
    return [r.asDict(recursive=True) for r in df.collect()]


def test_job_result_matches_collect_for_every_type(lake, spark):
    """The Arrow read of the result sink gives what ``collect()`` gives,
    value for value and type for type, for all eight schema types with
    NULLs, and for an empty result."""
    lake.create_table("ty", ALL_TYPES)
    lake.insert("ty", _all_types_df(spark, 60))
    for q in [
        SimpleQuery(table_name="ty", order_by=["i32"]),
        SimpleQuery(table_name="ty", filter="i32 > 1000"),  # empty
        SimpleQuery(
            table_name="ty",
            group_by=["b"],
            aggregates=[Aggregate("count", "*", "n"), Aggregate("max", "ts", "m")],
        ),
    ]:
        want = _dicts(lake.query(q))
        job_id = lake.submit_async(q)
        got = lake.job_result(job_id)
        assert got == want
        assert [[type(v) for v in r.values()] for r in got] == [
            [type(v) for v in r.values()] for r in want
        ]
        info = lake.job_status(job_id)
        assert info.metrics["output_rows"] == len(want)
        assert info.extra["preview"] == want[: cat.RESULT_PREVIEW_ROWS]


def test_job_result_keeps_order_across_part_files(lake, spark, monkeypatch):
    """An ordered result written as several part files reads back in
    order: the preview is its first N rows, job_result all of them, and
    output_rows is exact."""
    monkeypatch.setattr(cat, "RESULT_PREVIEW_ROWS", 7)
    lake.create_table("ord", SCHEMA)
    lake.insert("ord", _df(spark, 0, 3000).repartition(4))
    q = SimpleQuery(table_name="ord", filter="k % 5 <> 0", order_by=["v"])
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        job_id = lake.submit_async(q)
        info = lake.job_wait(job_id)
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    parts = cat._result_parts(info.extra["result_path"])
    assert len(parts) > 1
    want = _dicts(lake.query(q))
    assert [r["v"] for r in want] == sorted(r["v"] for r in want)
    assert lake.job_result(job_id) == want
    assert info.extra["preview"] == want[:7]
    assert info.metrics["output_rows"] == len(want) == 2400


def test_job_runs_one_spark_job_and_result_reads_without_spark(lake, spark):
    """The runner's only Spark action is the result write, and
    job_result reads the sink on the driver without any Spark job."""
    lake.create_table("sj", SCHEMA)
    lake.insert("sj", _df(spark, 0, 500))
    q = SimpleQuery(table_name="sj", filter="k < 250")
    job_id = lake.submit_async(q)
    info = lake.job_wait(job_id)
    sc = spark.sparkContext
    group = f"job-result-{job_id}"
    sc.setJobGroup(group, "job_result")
    try:
        rows = lake.job_result(job_id)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 250
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert info.metrics["spark_jobs"] == 1


def test_grouped_query_orders_by_group_key_without_range_partitioning(lake, spark):
    """A grouped SimpleQuery returns rows in group-key order — more groups
    than shuffle partitions, a NULL key and two keys — through both
    ``query().collect()`` and ``submit_async`` → ``job_result``. The order
    comes from one sorted reduce partition, not a global range sort."""
    lake.create_table(
        "grp",
        [Field("a", "int64", True), Field("b", "string"), Field("x", "float64")],
    )
    lake.insert(
        "grp",
        spark.range(0, 2000).select(
            F.when(F.col("id") % 31 == 0, None)
            .otherwise(F.col("id") % 40)
            .alias("a"),
            F.when(F.col("id") % 2 == 0, "p").otherwise("q").alias("b"),
            (F.col("id") * 0.5).alias("x"),
        ).repartition(4),
    )
    q = SimpleQuery(
        table_name="grp",
        filter="x >= 10",
        group_by=["a", "b"],
        aggregates=[Aggregate("count", "*", "n"), Aggregate("sum", "x", "s")],
    )
    df = lake.query(q)
    plan = df._jdf.queryExecution().executedPlan().toString().lower()
    assert "rangepartitioning" not in plan
    want = _dicts(df)
    assert len(want) > int(spark.conf.get("spark.sql.shuffle.partitions"))
    keys = [(r["a"], r["b"]) for r in want]
    assert (None, "p") in keys and (None, "q") in keys
    assert keys == sorted(keys, key=lambda k: (k[0] is not None, k[0] or 0, k[1]))
    assert sum(r["n"] for r in want) == 2000 - 20
    assert lake.job_result(lake.submit_async(q)) == want
