"""`minilake` Python data source (Spark 4 DataSource API): log-driven
visibility through spark.read.format(...), snapshot isolation pinned at
plan time, files packed into at most one input partition per core,
stats-based file pruning."""

import pytest

from pyspark.sql import functions as F

from mini_lakehouse_control_plane_executor_spark.sources import register
from mini_lakehouse_control_plane_executor_spark.table.schema import Field

SCHEMA = [Field("id", "int64", False), Field("v", "string", True)]


def _mk(spark, lo, hi):
    return spark.range(lo, hi).select(
        "id", F.concat(F.lit("v"), F.col("id")).alias("v")
    )


def _fmt(spark, lake, table, version=None):
    r = (
        spark.read.format("minilake")
        .option("root", lake.root)
        .option("table", table)
    )
    if version is not None:
        r = r.option("version", version)
    return r.load()


def test_format_read_matches_native(lake, spark):
    register(spark)
    lake.create_table("ds", SCHEMA)
    lake.insert("ds", _mk(spark, 0, 40))
    lake.insert("ds", _mk(spark, 40, 60))
    df = _fmt(spark, lake, "ds")
    native = lake.table("ds").read()
    # The format read carries the TABLE schema (incl. nullable=False);
    # the native parquet read relaxes nullability — compare names/types.
    from mini_lakehouse_control_plane_executor_spark.table.schema import to_spark_schema

    assert df.schema == to_spark_schema(lake.table("ds").fields)
    assert [(f.name, f.dataType) for f in df.schema.fields] == [
        (f.name, f.dataType) for f in native.schema.fields
    ]
    assert sorted(r["id"] for r in df.collect()) == sorted(
        r["id"] for r in native.collect()
    )
    assert df.count() == 60


def test_format_time_travel(lake, spark):
    register(spark)
    lake.create_table("dv", SCHEMA)
    lake.insert("dv", _mk(spark, 0, 10))  # v2
    lake.insert("dv", _mk(spark, 10, 30))  # v3
    assert _fmt(spark, lake, "dv", version=2).count() == 10
    assert _fmt(spark, lake, "dv", version=3).count() == 30


def test_format_snapshot_isolation(lake, spark):
    """The file list pins when the DataFrame is planned: a commit after
    load() does not leak into the already-created frame."""
    register(spark)
    lake.create_table("di", SCHEMA)
    lake.insert("di", _mk(spark, 0, 10))
    df = _fmt(spark, lake, "di")
    df.count()  # force plan + snapshot resolution
    lake.insert("di", _mk(spark, 10, 25))
    assert df.count() == 10  # pinned
    assert _fmt(spark, lake, "di").count() == 25  # fresh read sees it


def test_format_prunes_files_by_stats(lake, spark, capsys):
    """A supported comparison filter drops whole files via log stats:
    with clustered inserts, `id < 10` must plan fewer partitions than
    the full table has files — observable as fewer tasks (partitions()
    length) — while returning exactly the right rows."""
    register(spark)
    lake.create_table("dp", SCHEMA)
    for k in range(4):
        lake.insert("dp", _mk(spark, k * 100, (k + 1) * 100).coalesce(1))
    n_files = len(lake.table("dp").snapshot().files)
    assert n_files == 4
    df = _fmt(spark, lake, "dp").filter(F.col("id") < 10)
    rows = sorted(r["id"] for r in df.collect())
    assert rows == list(range(10))
    # Partition count after pushdown-pruning: the filtered scan plans
    # fewer input partitions than files in the table.
    pruned = df.rdd.getNumPartitions()
    assert pruned < n_files, (pruned, n_files)


def test_format_schema_evolution_nulls(lake, spark):
    """Old files read NULL for columns added later (merge-by-name)."""
    register(spark)
    lake.create_table("de", SCHEMA)
    lake.insert("de", _mk(spark, 0, 5))
    lake.table("de").add_columns([Field("extra", "float64", True)])
    df2 = spark.range(5, 8).select(
        "id",
        F.concat(F.lit("v"), F.col("id")).alias("v"),
        (F.col("id") * 1.5).alias("extra"),
    )
    lake.insert("de", df2)
    out = _fmt(spark, lake, "de")
    assert out.count() == 8
    assert out.filter(F.col("extra").isNull()).count() == 5
    got = {r["id"]: r["extra"] for r in out.filter(F.col("extra").isNotNull()).collect()}
    assert got == {5: 7.5, 6: 9.0, 7: 10.5}


def test_format_missing_options_error(lake, spark):
    register(spark)
    with pytest.raises(Exception):
        spark.read.format("minilake").load().count()


def _stream_all(spark, lake, table, name, **opts):
    r = (
        spark.readStream.format("minilake-stream")
        .option("root", lake.root)
        .option("table", table)
    )
    for k, v in opts.items():
        r = r.option(k, v)
    q = (
        r.load()
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_stream_source_tails_commits(lake, spark):
    """readStream.format('minilake-stream'): appends flow as micro-batch
    rows tagged with _commit_version."""
    register(spark)
    lake.create_table("st", SCHEMA)
    lake.insert("st", _mk(spark, 0, 5))  # v2
    lake.insert("st", _mk(spark, 5, 8))  # v3
    got = _stream_all(spark, lake, "st", "m_st")
    rows = sorted((r["id"], r["_commit_version"]) for r in got.collect())
    assert [r[0] for r in rows] == list(range(8))
    assert {r[1] for r in rows if r[0] < 5} == {2}
    assert {r[1] for r in rows if r[0] >= 5} == {3}


def test_stream_source_starting_version(lake, spark):
    register(spark)
    lake.create_table("sv", SCHEMA)
    lake.insert("sv", _mk(spark, 0, 5))  # v2
    lake.insert("sv", _mk(spark, 5, 9))  # v3
    got = _stream_all(spark, lake, "sv", "m_sv", startingVersion=2)
    assert sorted(r["id"] for r in got.collect()) == list(range(5, 9))


def test_stream_source_rejects_rewrites_unless_ignored(lake, spark):
    """A DELETE (rewrite) commit fails the stream by default; with
    ignoreChanges=true the non-append commit is skipped and appends
    continue to flow."""
    register(spark)
    lake.create_table("sr", SCHEMA)
    lake.insert("sr", _mk(spark, 0, 5))  # v2
    lake.table("sr").delete("id < 2")  # v3: rewrite (adds + removes)
    lake.insert("sr", _mk(spark, 10, 12))  # v4
    with pytest.raises(Exception, match="append-only|STREAM_FAILED"):
        _stream_all(spark, lake, "sr", "m_sr_fail")
    got = _stream_all(spark, lake, "sr", "m_sr_ok", ignoreChanges=True)
    ids = sorted(r["id"] for r in got.collect())
    assert ids == [0, 1, 2, 3, 4, 10, 11]  # v2 + v4; the v3 rewrite skipped


def test_format_temp_view_sql(lake, spark):
    """The SQL interop path that works today: a format read registered
    as a temp view (persisted-catalog USING-minilake tables lose their
    OPTIONS in Spark 4.1's Python-source read path — documented)."""
    register(spark)
    lake.create_table("dq", SCHEMA)
    lake.insert("dq", _mk(spark, 0, 9))
    _fmt(spark, lake, "dq").createOrReplaceTempView("dq_view")
    out = spark.sql("SELECT count(*) AS n, sum(id) AS s FROM dq_view").collect()[0]
    assert (out["n"], out["s"]) == (9, 36)


def test_cdc_replication_end_to_end(lake, spark, tmp_path):
    """Composition: the log-tail CDC stream feeding the exactly-once
    streaming ingest REPLICATES table A into table B — restartable from
    the checkpoint, append-for-append, no duplicates on a second drain."""
    from mini_lakehouse_control_plane_executor_spark.streaming.ingest import ingest_stream

    register(spark)
    lake.create_table("repl_a", SCHEMA)
    lake.create_table("repl_b", SCHEMA)
    lake.insert("repl_a", _mk(spark, 0, 20))
    lake.insert("repl_a", _mk(spark, 20, 30))
    ckpt = str(tmp_path / "repl_ckpt")

    def drain():
        stream = (
            spark.readStream.format("minilake-stream")
            .option("root", lake.root)
            .option("table", "repl_a")
            .load()
            .drop("_commit_version")
        )
        q = ingest_stream(stream, lake, "repl_b", ckpt, query_name="repl")
        q.awaitTermination(120)

    drain()
    assert sorted(r["id"] for r in lake.table("repl_b").read().collect()) == list(range(30))
    # New commits on A replicate incrementally from the checkpoint...
    lake.insert("repl_a", _mk(spark, 30, 36))
    drain()
    b_rows = sorted(r["id"] for r in lake.table("repl_b").read().collect())
    assert b_rows == list(range(36))
    # ...and a drain with nothing new is a no-op (no duplicates).
    drain()
    assert lake.table("repl_b").read().count() == 36


def test_format_write_append_and_overwrite(lake, spark):
    """df.write.format('minilake'): staged task files -> one OCC commit;
    append and overwrite both versioned and time-travelable; txn option
    makes replays idempotent; NOT NULL enforced in the task."""
    register(spark)
    lake.create_table("dw", SCHEMA)
    lake.insert("dw", _mk(spark, 0, 5))  # v2
    t = lake.table("dw")

    def write(df, mode="append", **opts):
        w = df.write.format("minilake").option("root", lake.root).option("table", "dw")
        for k, v in opts.items():
            w = w.option(k, v)
        w.mode(mode).save()

    write(_mk(spark, 5, 12))
    assert sorted(r["id"] for r in t.read().collect()) == list(range(12))
    v_after_append = t.log.latest_version()
    # Idempotent replay under an explicit txn id.
    write(_mk(spark, 100, 105), txn="dsw-once")
    write(_mk(spark, 100, 105), txn="dsw-once")
    assert t.read().count() == 17
    # Overwrite replaces everything in one atomic commit...
    write(_mk(spark, 200, 203), mode="overwrite")
    assert sorted(r["id"] for r in t.read().collect()) == [200, 201, 202]
    # ...and old versions still time-travel.
    assert t.read(version=v_after_append).count() == 12
    # NOT NULL enforced inside the task.
    bad = spark.createDataFrame([(None, "x")], "id long, v string")
    with pytest.raises(Exception, match="NOT NULL|PYTHON_DATA_SOURCE"):
        write(bad)
    assert t.read().count() == 3  # failed write left nothing behind
    # no orphaned stage dirs
    import os
    assert not any(x.endswith("-dsw") for x in os.listdir(t.tmp_dir))


def test_format_write_enforces_check_constraints(lake, spark):
    """The DSv2 writer enforces CHECK constraints at commit time (one
    aggregate scan over the STAGED files, before promotion): passing rows
    commit; a violating write fails with nothing committed — no new
    version, no orphan files in data/."""
    import os

    from mini_lakehouse_control_plane_executor_spark.table.schema import Field as Fld

    register(spark)
    lake.create_table(
        "dwc",
        [Fld("id", "int64", False)],
        constraints={"small": "id < 100"},
    )
    # Passing rows commit through the format writer.
    (
        spark.range(0, 3).select("id")
        .write.format("minilake")
        .option("root", lake.root).option("table", "dwc")
        .mode("append").save()
    )
    t = lake.table("dwc")
    assert t.read().count() == 3
    v_before = t.log.latest_version()
    files_before = sorted(os.listdir(os.path.join(t.dir, "data")))
    # Violating rows fail atomically: same version, same files, no stage.
    with pytest.raises(Exception, match="CHECK constraint 'small'"):
        (
            spark.range(98, 103).select("id")
            .write.format("minilake")
            .option("root", lake.root).option("table", "dwc")
            .mode("append").save()
        )
    assert t.log.latest_version() == v_before
    assert sorted(os.listdir(os.path.join(t.dir, "data"))) == files_before
    assert os.listdir(t.tmp_dir) == []
    assert t.read().count() == 3


def test_format_reads_shallow_clone(lake, spark):
    """A shallow clone's snapshot stores ABSOLUTE source-file paths;
    the DataSource's per-file partitions must pass them through (posix
    os.path.join semantics) — format reads serve the pinned snapshot
    even after the source advances, and the clone's own inserts appear
    alongside the referenced files."""
    register(spark)
    lake.create_table("cl_ds_src", SCHEMA)
    lake.insert("cl_ds_src", _mk(spark, 0, 30))
    lake.clone_table("cl_ds_src", "cl_ds_dup")
    lake.insert("cl_ds_src", _mk(spark, 30, 50))  # source advances
    lake.insert("cl_ds_dup", _mk(spark, 100, 110))  # clone-owned file
    df = _fmt(spark, lake, "cl_ds_dup")
    assert df.count() == 40
    assert sorted(r["id"] for r in df.collect()) == list(range(30)) + list(
        range(100, 110)
    )
    assert _fmt(spark, lake, "cl_ds_src").count() == 50


def test_sessionless_check_shims_match_spark(spark):
    """The session-less commit worker evaluates CHECKs with DuckDB plus
    exact-semantics shims for Spark-only scalar functions
    (`_register_spark_shims`). Cross-validate: same inputs through the
    real Spark functions and through the shimmed DuckDB connection must
    agree byte-for-byte — including the soundex edge cases Spark's
    UTF8String.soundex defines (non-letter first byte returns the input,
    multi-byte chars reset the run, H/W transparency)."""
    import duckdb

    from mini_lakehouse_control_plane_executor_spark.sources.pydatasource import (
        _register_spark_shims,
    )

    samples = [
        "Robert", "Rupert", "Tymczak", "Pfister", "Ashcraft", "Honeyman",
        "hello world", "a", "12abc", "MiXeD CaSe tExT", "O'Brien",
        "résumé", "Résumé", "HW", "bhhb", "baab", "",
    ]
    # `crc32(s)` etc. rely on Spark's implicit string->binary cast —
    # the exact form the shims support (they UTF-8-encode internally).
    exprs = [
        "crc32(s)", "sha1(s)",
        "sha2(s, 224)", "sha2(s, 256)",
        "sha2(s, 384)", "sha2(s, 512)",
        "soundex(s)", "initcap(s)",
    ]
    rows = spark.createDataFrame([(s,) for s in samples], "s string")
    got_spark = [
        tuple(r) for r in rows.selectExpr(*[f"{e} as c{i}" for i, e in enumerate(exprs)])
        .collect()
    ]
    con = duckdb.connect()
    _register_spark_shims(con)
    duck_exprs = [e.replace("(s", "($s") for e in exprs]
    got_duck = [
        con.execute("SELECT " + ", ".join(duck_exprs), {"s": s}).fetchone()
        for s in samples
    ]
    assert len(got_spark) == len(got_duck)
    for s, sp, du in zip(samples, got_spark, got_duck):
        assert tuple(sp) == tuple(du), f"shim mismatch for {s!r}: {sp} != {du}"
    assert con.execute("SELECT space(3)").fetchone()[0] == "   "
    assert con.execute("SELECT sha2('x', 999)").fetchone()[0] is None


def test_format_write_check_with_spark_only_function(lake, spark):
    """End-to-end: a CHECK constraint using a scalar function DuckDB
    does not have natively (crc32) is still enforced by the format
    writer's session-less commit — passing rows commit, violating rows
    abort atomically with nothing staged and nothing promoted."""
    import os
    import zlib

    from mini_lakehouse_control_plane_executor_spark.table.schema import Field as Fld

    register(spark)
    lake.create_table("dwx", [Fld("id", "int64", False), Fld("v", "string", True)])
    forbidden = zlib.crc32(b"forbidden")
    lake.table("dwx").add_constraint("not_forbidden", f"crc32(v) <> {forbidden}")

    def write(df):
        (
            df.write.format("minilake")
            .option("root", lake.root).option("table", "dwx")
            .mode("append").save()
        )

    write(spark.createDataFrame([(1, "ok"), (2, "fine")], "id long, v string"))
    t = lake.table("dwx")
    assert t.read().count() == 2
    v_before = t.log.latest_version()
    files_before = sorted(os.listdir(os.path.join(t.dir, "data")))
    with pytest.raises(Exception, match="not_forbidden"):
        write(spark.createDataFrame([(3, "forbidden")], "id long, v string"))
    assert t.log.latest_version() == v_before
    assert sorted(os.listdir(os.path.join(t.dir, "data"))) == files_before
    assert os.listdir(t.tmp_dir) == []


def test_format_packs_files_into_core_partitions(lake, spark):
    """More files than cores: the reader packs them into at most one
    partition per usable core, and a task holding several files applies
    each file's own deletion vector — dv'd files sharing a partition
    with overlapping deleted positions, a file written before
    ``add_columns`` packed with one written after it — with and without
    stats pruning, equal to ``table.read()``."""
    import os

    from mini_lakehouse_control_plane_executor_spark.sources.pydatasource import (
        _MinilakeReader,
    )

    cores = len(os.sched_getaffinity(0))
    register(spark)
    lake.create_table("pk", SCHEMA)
    half = cores + 1
    for i in range(half):
        lake.insert("pk", _mk(spark, i * 10, i * 10 + 10).coalesce(1))
    t = lake.table("pk")
    old = {f.path for f in t.snapshot().files}
    t.add_columns([Field("extra", "float64", True)])
    for i in range(half, 2 * half):
        lake.insert(
            "pk",
            _mk(spark, i * 10, i * 10 + 10)
            .withColumn("extra", F.col("id") * 0.5)
            .coalesce(1),
        )
    # Positions 1 and 3 go in every file (overlapping positions under one
    # dv parquet); id % 7 = 0 deletes file-specific positions.
    t.delete("id % 10 = 1 OR id % 10 = 3 OR id % 7 = 0", mode="mor")
    files = t.snapshot().files
    assert len(files) == 2 * half > cores and all(f.dv_path for f in files)

    parts = _MinilakeReader({"root": lake.root, "table": "pk"}).partitions()
    assert len(parts) <= cores
    assert any(len(part.files) >= 2 for part in parts)
    assert sorted(p for part in parts for p, _ in part.files) == sorted(
        f.path for f in files
    )
    assert any(
        {p in old for p, _ in part.files} == {True, False} for part in parts
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    df = _fmt(spark, lake, "pk")
    assert df.rdd.getNumPartitions() <= cores
    assert rows(df) == rows(t.read())
    assert len(rows(df)) == sum(
        1 for k in range(20 * half) if k % 10 not in (1, 3) and k % 7
    )
    assert df.filter(F.col("extra").isNull()).count() == len(
        [k for k in range(10 * half) if k % 10 not in (1, 3) and k % 7]
    )
    pruned = _fmt(spark, lake, "pk").filter(F.col("id") < 25)
    assert pruned.rdd.getNumPartitions() <= 3
    assert rows(pruned) == rows(t.read().filter(F.col("id") < 25))
