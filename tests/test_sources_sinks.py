"""Unit tests for JDBC option/SQL construction, maintenance sinks, and
the orchestration runner."""

from __future__ import annotations

import os
import tarfile
import time

import pytest
from pyspark.sql import functions as F

from curw_wrf_data_pusher_spark.plans.runner import RunReport, run_wrf_push
from curw_wrf_data_pusher_spark.sinks.maintenance import (
    archive_dir,
    retention_delete,
)
from curw_wrf_data_pusher_spark.sinks.upsert import build_mysql_upsert_sql
from curw_wrf_data_pusher_spark.sources.jdbc import (
    active_stations_query,
    jdbc_options,
    read_dim,
)

from .test_wrf_pipeline import CFG
from .wrf_fixture import EPOCH_STR, FGT_UTC, make_grid_pdf


def test_mysql_upsert_sql_shape():
    sql = build_mysql_upsert_sql(
        "fcst_data", ["tms_id", "time", "fgt", "value"], ["fgt", "value"]
    )
    assert sql == (
        "INSERT INTO fcst_data (tms_id, time, fgt, value) "
        "VALUES (%s, %s, %s, %s) "
        "ON DUPLICATE KEY UPDATE fgt=VALUES(fgt), value=VALUES(value)"
    )


def test_jdbc_options_partitioned_scan():
    opts = jdbc_options(
        "jdbc:mysql://host/db", "fcst_data", "u", "p",
        partition={"column": "station_id", "lowerBound": 0,
                   "upperBound": 16038, "numPartitions": 32},
    )
    assert opts["dbtable"] == "fcst_data"
    assert opts["partitionColumn"] == "station_id"
    assert opts["numPartitions"] == "32"
    q = jdbc_options("u", "SELECT 1", "u", "p", is_query=True)
    assert "query" in q and "dbtable" not in q


def test_jdbc_partitioned_read_roundtrip(spark, tmp_path):
    """REAL JDBC integration: write a dim to an embedded Derby database
    (the JDBC engine Spark ships), then read it back through read_dim
    with a 4-way range partitioning — the scan must split into 4 input
    partitions (one range-predicate query each) and return identical
    rows.  This is the S3/S4 scale path: a big dim scan must never be a
    single JDBC task."""
    import pandas as pd

    url = f"jdbc:derby:{tmp_path}/dimdb;create=true"
    pdf = pd.DataFrame(
        {"id": list(range(100)), "name": [f"s{i}" for i in range(100)]}
    )
    # Derby folds unquoted identifiers to upper case and scopes tables
    # by a schema named after the user — write unqualified (default APP
    # schema), read back as user APP.
    spark.createDataFrame(pdf).write.format("jdbc").option(
        "url", url
    ).option("dbtable", "STATIONS").save()
    out = read_dim(
        spark, url, "STATIONS", "APP", "",
        partition={"column": "id", "lowerBound": 0,
                   "upperBound": 100, "numPartitions": 4},
    )
    assert out.rdd.getNumPartitions() == 4
    got = sorted((r["id"], r["name"]) for r in out.collect())
    assert got == sorted(zip(pdf["id"], pdf["name"]))


def test_active_stations_query_is_filter_pushdown():
    q = active_stations_query(days=7)
    assert "INTERVAL 7 DAY" in q and "stored" not in q.lower()


def test_archive_and_retention(tmp_path):
    src = tmp_path / "rfields"
    src.mkdir()
    (src / "a.txt").write_text("1\n")
    tar_path = archive_dir(str(src), str(tmp_path / "out" / "rfields.tar.gz"))
    with tarfile.open(tar_path) as t:
        assert "rfields/a.txt" in t.getnames()

    old = tmp_path / "lake" / "old.nc"
    new = tmp_path / "lake" / "new.nc"
    old.parent.mkdir()
    old.write_text("x")
    new.write_text("y")
    os.utime(old, (time.time() - 100 * 86400,) * 2)
    removed = retention_delete(str(tmp_path / "lake"), max_age_days=90)
    assert [os.path.basename(p) for p in removed] == ["old.nc"]
    assert new.exists() and not old.exists()


def _fixture_grid(spark):
    return (
        spark.createDataFrame(make_grid_pdf())
        .withColumn("source_file", F.lit("fixture.nc"))
        .withColumn("fgt_utc", F.lit(FGT_UTC).cast("timestamp"))
        .withColumn("epoch_str", F.lit(EPOCH_STR))
    )


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _counted(grid, reads):
    """``grid`` behind an identity ``mapInArrow`` that adds every row it
    passes to the ``reads`` accumulator."""

    def count_rows(batches):
        for batch in batches:
            reads.add(batch.num_rows)
            yield batch

    return grid.mapInArrow(count_rows, grid.schema)


def test_runner_end_to_end_and_error_capture(spark, tmp_path):
    spark.catalog.clearCache()
    grid = _fixture_grid(spark)
    report = run_wrf_push(
        spark, CFG, grid, str(tmp_path / "store"),
        rfield_dir=str(tmp_path / "rf"),
    )
    assert report.ok
    steps = {s["step"]: s for s in report.steps}
    assert steps["push"]["rows"] == 2 * 12 * 6 * 5
    assert steps["push"]["series"] == 2 * 6 * 5
    assert steps["rfields"]["files"] == 2 * (2 * 12)  # d03 + kelani
    # the shared push frame was released once the push step ended
    assert _cache_is_empty(spark)

    # error capture: a grid missing required columns must produce a
    # failed step, not an unhandled exception
    bad = spark.range(3)
    report2 = run_wrf_push(spark, CFG, bad, str(tmp_path / "store2"))
    assert not report2.ok
    assert "push" == report2.steps[0]["step"]
    assert report2.steps[0]["detail"]
    assert _cache_is_empty(spark)


def test_runner_decodes_once_per_push(spark, tmp_path):
    """Both upserts (touched-partition collect, both merge branches,
    the run-dim merge) read one cached copy of the shared push frame:
    the grid source is evaluated exactly once per push, on the
    first-write path and on a merge onto an existing partitioned
    store alike."""
    spark.catalog.clearCache()
    grid = _fixture_grid(spark)
    n_grid = grid.count()
    reads = spark.sparkContext.accumulator(0)
    counted = _counted(grid, reads)
    store = str(tmp_path / "store")
    for push in ("first write", "overlapping merge"):
        before = reads.value
        report = run_wrf_push(spark, CFG, counted, store)
        assert report.ok, (push, report.steps)
        assert reads.value - before == n_grid, push
        assert _cache_is_empty(spark), push

    # a decode that fails inside the first upsert's action still
    # releases the cached frame
    def broken(batches):
        for _ in batches:
            raise ValueError("corrupt slab")
        yield  # pragma: no cover

    report = run_wrf_push(
        spark, CFG, grid.mapInArrow(broken, grid.schema), store
    )
    assert not report.ok and "corrupt slab" in report.steps[0]["detail"]
    assert _cache_is_empty(spark)


def test_runner_rfields_read_grid_once_per_file_set(spark, tmp_path):
    """E2 branch: the push reads the grid once, and each of the two
    ``write_rfield_files`` calls (d03, Kelani) reads it once more —
    the manifest and the value emission share one evaluation."""
    spark.catalog.clearCache()
    grid = _fixture_grid(spark)
    n_grid = grid.count()
    reads = spark.sparkContext.accumulator(0)
    report = run_wrf_push(
        spark, CFG, _counted(grid, reads), str(tmp_path / "store"),
        rfield_dir=str(tmp_path / "rf"),
    )
    assert report.ok, report.steps
    assert reads.value == 3 * n_grid
    assert _cache_is_empty(spark)


def test_write_rfield_files_evaluates_input_once(spark, tmp_path):
    """The xy.csv manifest and the value emission read one cached copy
    of the input; the cache is released after the call, also when the
    input fails inside the first action, and a caller's cache is left
    in place."""
    from pyspark import StorageLevel

    from curw_wrf_data_pusher_spark.sinks.rfield_files import (
        write_rfield_files,
    )

    spark.catalog.clearCache()
    frame = spark.createDataFrame(
        [
            (f"2024-06-01 0{t}:00:00", 80.0 + i / 10, 7.0 + j / 10,
             float(t * 100 + i * 10 + j))
            for t in range(3) for i in range(4) for j in range(5)
        ],
        "time string, longitude double, latitude double, value double",
    )
    reads = spark.sparkContext.accumulator(0)
    files = write_rfield_files(
        _counted(frame, reads), str(tmp_path / "rf"),
    )
    assert len(files) == 3
    assert reads.value == frame.count()
    assert _cache_is_empty(spark)

    def broken(batches):
        for _ in batches:
            raise ValueError("corrupt slab")
        yield  # pragma: no cover

    with pytest.raises(Exception, match="corrupt slab"):
        write_rfield_files(
            frame.mapInArrow(broken, frame.schema), str(tmp_path / "bad"),
        )
    assert _cache_is_empty(spark)

    mine = frame.persist(StorageLevel.MEMORY_ONLY)
    try:
        write_rfield_files(mine, str(tmp_path / "cached"))
        assert mine.storageLevel == StorageLevel.MEMORY_ONLY
    finally:
        mine.unpersist()


def test_runner_empty_push_leaves_run_dim_untouched(spark, tmp_path):
    """A4: an empty grid (what the reader returns for an empty
    watch dir) is a failed push step, and it must not stage and
    rename the existing run dim to merge zero rows."""
    from curw_wrf_data_pusher_spark.sources.netcdf import read_wrf_grid

    store = str(tmp_path / "store")
    assert run_wrf_push(spark, CFG, _fixture_grid(spark), store).ok
    run_dir = os.path.join(store, "run")

    def listing():
        return sorted(
            (f, os.stat(os.path.join(run_dir, f)).st_mtime_ns)
            for f in os.listdir(run_dir)
        )

    before = listing()
    empty_dir = tmp_path / "watch"
    empty_dir.mkdir()
    empty = read_wrf_grid(spark, str(empty_dir))
    assert empty.isEmpty()
    report = run_wrf_push(spark, CFG, empty, store)
    assert not report.ok
    assert report.steps[0]["detail"] == "timeseries is empty"
    assert listing() == before


def test_runner_seq_variant_single_system(spark, tmp_path):
    grid = _fixture_grid(spark)
    report = run_wrf_push(
        spark, CFG, grid, str(tmp_path / "store"), systems=["A"]
    )
    assert report.ok
    assert report.steps[0]["rows"] == 12 * 6 * 5  # one system only


def test_upsert_jdbc_real_database_roundtrip(spark, tmp_path):
    """Run the actual foreachPartition sink against a real database
    (SQLite dialect): insert, then re-push with changed values — the
    conflict path must update, concurrent partitions must serialize
    via the retry wrapper."""
    import sqlite3

    from curw_wrf_data_pusher_spark.sinks.upsert import upsert_jdbc

    db = str(tmp_path / "store.db")
    with sqlite3.connect(db) as c:
        c.execute(
            "CREATE TABLE fcst_data (tms_id TEXT, time TEXT, fgt TEXT, "
            "value REAL, PRIMARY KEY (tms_id, time))"
        )

    rows1 = [(f"s{i % 5}", f"t{i}", "f1", float(i)) for i in range(200)]
    df1 = spark.createDataFrame(
        rows1, "tms_id string, time string, fgt string, value double"
    ).repartition(8)

    def connect():
        import sqlite3 as sq

        return sq.connect(db, timeout=60)

    upsert_jdbc(
        df1, connect, "fcst_data", key_columns=["tms_id", "time"],
        batch_size=32, retries=3, retry_wait_s=0.2, dialect="sqlite",
    )
    with sqlite3.connect(db) as c:
        n, fgts = c.execute(
            "SELECT count(*), group_concat(DISTINCT fgt) FROM fcst_data"
        ).fetchone()
    assert n == 200 and fgts == "f1"

    # re-push same keys with new fgt and shifted values → updated, not
    # duplicated (the reference's whole-file re-push)
    rows2 = [(k, t, "f2", v + 0.5) for k, t, _, v in rows1]
    df2 = spark.createDataFrame(
        rows2, "tms_id string, time string, fgt string, value double"
    ).repartition(8)
    upsert_jdbc(
        df2, connect, "fcst_data", key_columns=["tms_id", "time"],
        batch_size=32, retries=3, retry_wait_s=0.2, dialect="sqlite",
    )
    with sqlite3.connect(db) as c:
        n, fgts, v = c.execute(
            "SELECT count(*), group_concat(DISTINCT fgt), sum(value) "
            "FROM fcst_data"
        ).fetchone()
    assert n == 200 and fgts == "f2"
    assert v == sum(r[3] for r in rows2)


def _partition_state(store: str, part: str = "") -> dict[str, bytes]:
    """relative path → bytes for every data file under one partition
    dir, nested partition levels included (the whole store by default)."""
    d = os.path.join(store, part)
    out = {}
    for dirpath, _, names in os.walk(d):
        for f in sorted(names):
            if f.startswith(("part-", ".part-")) and not f.endswith(".crc"):
                path = os.path.join(dirpath, f)
                with open(path, "rb") as fh:
                    out[os.path.relpath(path, d)] = fh.read()
    return out


def test_upsert_parquet_partition_scoped(spark, tmp_path):
    """The 100 TB merge path: an upsert touching partition d1 must leave
    partition d2's files byte-identical (never read, never rewritten)."""
    from curw_wrf_data_pusher_spark.sinks.upsert import upsert_parquet

    store = str(tmp_path / "store")
    base = spark.createDataFrame(
        [("s1", "t1", "d1", 1.0), ("s1", "t2", "d1", 2.0),
         ("s2", "t1", "d2", 3.0), ("s2", "t2", "d2", 4.0)],
        "tms_id string, time string, run_date string, value double",
    )
    n0 = upsert_parquet(
        spark, base, store, keys=["tms_id", "time"],
        partition_cols=["run_date"],
    )
    assert n0 == 4
    before_d2 = _partition_state(store, "run_date=d2")
    assert before_d2  # the partition exists and has data files

    # touch ONLY d1: replace (s1,t1) and add (s3,t9)
    push = spark.createDataFrame(
        [("s1", "t1", "d1", 10.0), ("s3", "t9", "d1", 9.0)],
        "tms_id string, time string, run_date string, value double",
    )
    n1 = upsert_parquet(
        spark, push, store, keys=["tms_id", "time"],
        partition_cols=["run_date"],
    )
    assert n1 == 3  # kept (s1,t2) + two incoming rows

    after_d2 = _partition_state(store, "run_date=d2")
    assert after_d2 == before_d2  # untouched partition: bytes unchanged

    got = {
        (r["tms_id"], r["time"]): (r["run_date"], r["value"])
        for r in spark.read.parquet(store).collect()
    }
    assert got == {
        ("s1", "t1"): ("d1", 10.0), ("s1", "t2"): ("d1", 2.0),
        ("s3", "t9"): ("d1", 9.0),
        ("s2", "t1"): ("d2", 3.0), ("s2", "t2"): ("d2", 4.0),
    }

    # idempotence: re-pushing the same rows changes nothing
    n2 = upsert_parquet(
        spark, push, store, keys=["tms_id", "time"],
        partition_cols=["run_date"],
    )
    assert n2 == n1
    assert spark.read.parquet(store).count() == 5


def test_upsert_parquet_flat_store_migrates_not_corrupts(spark, tmp_path):
    """A partition-scoped upsert against a store written FLAT (by the
    earlier unpartitioned path) must NOT dynamic-overwrite partition
    dirs beside the flat files (duplicate keys, silent corruption).
    The layout probe routes it to the full-store merge, which also
    migrates the store to the partitioned layout."""
    from curw_wrf_data_pusher_spark.sinks.upsert import upsert_parquet

    store = str(tmp_path / "flat_store")
    base = spark.createDataFrame(
        [("s1", "t1", "d1", 1.0), ("s2", "t1", "d2", 3.0)],
        "tms_id string, time string, run_date string, value double",
    )
    # flat write: no partition columns
    assert upsert_parquet(spark, base, store, keys=["tms_id", "time"]) == 2
    assert any(
        f.startswith("part-") for f in os.listdir(store)
    )  # flat data files at the root

    push = spark.createDataFrame(
        [("s1", "t1", "d1", 10.0), ("s3", "t9", "d1", 9.0)],
        "tms_id string, time string, run_date string, value double",
    )
    upsert_parquet(
        spark, push, store, keys=["tms_id", "time"],
        partition_cols=["run_date"],
    )
    got = {
        (r["tms_id"], r["time"]): (r["run_date"], r["value"])
        for r in spark.read.parquet(store).collect()
    }
    # no duplicate keys, replaced row replaced, unrelated row kept
    assert got == {
        ("s1", "t1"): ("d1", 10.0),
        ("s3", "t9"): ("d1", 9.0),
        ("s2", "t1"): ("d2", 3.0),
    }
    # store migrated to the partitioned layout: subsequent pushes take
    # the scoped path
    assert any(f.startswith("run_date=") for f in os.listdir(store))
    assert not any(f.startswith("part-") for f in os.listdir(store))


def test_upsert_parquet_swap_is_rename(spark, tmp_path):
    """Unpartitioned form: the staging swap must not leave .staging or
    .old residue and must preserve merge semantics."""
    from curw_wrf_data_pusher_spark.sinks.upsert import upsert_parquet

    store = str(tmp_path / "swap_store")
    df1 = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0)], "k string, v double"
    )
    df2 = spark.createDataFrame(
        [("b", 20.0), ("c", 3.0)], "k string, v double"
    )
    assert upsert_parquet(spark, df1, store, keys=["k"]) == 2
    assert upsert_parquet(spark, df2, store, keys=["k"]) == 3
    got = {r["k"]: r["v"] for r in spark.read.parquet(store).collect()}
    assert got == {"a": 1.0, "b": 20.0, "c": 3.0}
    assert not os.path.exists(store + ".staging")
    assert not os.path.exists(store + ".old")


def _store_rows(spark, store: str) -> dict:
    return {
        (r["tms_id"], r["time"]): tuple(r)[2:]
        for r in spark.read.parquet(store)
        .select("tms_id", "time", "run_date", "wrf_system", "value")
        .collect()
    }


_ROW_SCHEMA = (
    "tms_id string, time string, run_date string, wrf_system string, "
    "value double"
)


@pytest.mark.parametrize("partition_cols", [["run_date"], None])
def test_upsert_parquet_failed_merge_leaves_store_intact(
    spark, tmp_path, partition_cols
):
    """A merge whose write task fails must propagate the error and leave
    the store exactly as it was, with no staging residue beside it
    (``.staging``/``.old``) or inside it (``.spark-staging-*``)."""
    from curw_wrf_data_pusher_spark.sinks.upsert import upsert_parquet

    store = str(tmp_path / "store")
    base = spark.createDataFrame(
        [("s1", "t1", "d1", "A", 1.0), ("s2", "t1", "d2", "A", 2.0)],
        _ROW_SCHEMA,
    )
    upsert_parquet(spark, base, store, keys=["tms_id", "time"],
                   partition_cols=partition_cols)
    files_before = _partition_state(store)
    rows_before = _store_rows(spark, store)
    push = spark.createDataFrame(
        [("s1", "t1", "d1", "A", 10.0), ("bad", "t1", "d1", "A", 0.0)],
        _ROW_SCHEMA,
    ).withColumn(
        "value",
        F.when(F.col("tms_id") == "bad", F.raise_error(F.lit("boom")))
        .otherwise(F.col("value")),
    )
    with pytest.raises(Exception, match="boom"):
        upsert_parquet(spark, push, store, keys=["tms_id", "time"],
                       partition_cols=partition_cols)
    assert _partition_state(store) == files_before
    assert _store_rows(spark, store) == rows_before
    assert not os.path.exists(store + ".staging")
    assert not os.path.exists(store + ".old")
    assert not [f for f in os.listdir(store) if f.startswith(".spark-staging")]


def test_upsert_parquet_scoped_merge_leaves_session_conf(
    spark, tmp_path, monkeypatch
):
    """The scoped merge passes dynamic overwrite as a writer option: it
    never sets the shared session conf, which would switch every other
    query on the session (a foreachBatch, a thread) to dynamic mode."""
    from pyspark.sql.conf import RuntimeConfig

    from curw_wrf_data_pusher_spark.sinks.upsert import upsert_parquet

    store = str(tmp_path / "store")
    base = spark.createDataFrame(
        [("s1", "t1", "d1", "A", 1.0), ("s2", "t1", "d2", "A", 2.0)],
        _ROW_SCHEMA,
    )
    upsert_parquet(spark, base, store, keys=["tms_id", "time"],
                   partition_cols=["run_date"])
    push = spark.createDataFrame([("s1", "t1", "d1", "A", 10.0)], _ROW_SCHEMA)
    sets = []
    real_set = RuntimeConfig.set

    def spy(self, key, value):
        sets.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    assert upsert_parquet(spark, push, store, keys=["tms_id", "time"],
                          partition_cols=["run_date"]) == 1
    monkeypatch.undo()
    assert sets == []
    mode = "spark.sql.sources.partitionOverwriteMode"
    assert spark.conf.get(mode).lower() == "static"
    assert _store_rows(spark, store) == {
        ("s1", "t1"): ("d1", "A", 10.0), ("s2", "t1"): ("d2", "A", 2.0),
    }


def test_partition_scoped_upsert_writes_once(spark, tmp_path, monkeypatch):
    """A scoped merge onto an existing store is one pruned store read
    and one write, straight into the store; its returned count is the
    touched partitions' rows as read back afterwards."""
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    from curw_wrf_data_pusher_spark.sinks.upsert import upsert_parquet

    store = str(tmp_path / "store")
    base = spark.createDataFrame(
        [("s1", "t1", "d1", "A", 1.0), ("s1", "t2", "d1", "A", 2.0),
         ("s2", "t1", "d2", "A", 3.0)],
        _ROW_SCHEMA,
    )
    upsert_parquet(spark, base, store, keys=["tms_id", "time"],
                   partition_cols=["run_date"])
    push = spark.createDataFrame(
        [("s1", "t1", "d1", "A", 10.0), ("s3", "t1", "d1", "A", 9.0)],
        _ROW_SCHEMA,
    )
    writes, reads = [], []
    real_write, real_read = DataFrameWriter.parquet, DataFrameReader.parquet

    def write(self, path, *a, **kw):
        writes.append(path)
        return real_write(self, path, *a, **kw)

    def read(self, *paths, **kw):
        reads.extend(paths)
        return real_read(self, *paths, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", write)
    monkeypatch.setattr(DataFrameReader, "parquet", read)
    n = upsert_parquet(spark, push, store, keys=["tms_id", "time"],
                       partition_cols=["run_date"])
    monkeypatch.undo()
    assert writes == [store]
    assert reads == [store]
    touched = spark.read.parquet(store).filter("run_date = 'd1'")
    assert n == touched.count() == 3


def test_upsert_parquet_two_level_partition_scoped(spark, tmp_path):
    """A scoped merge over two partition columns replaces exactly the
    touched leaf directories: every other leaf, including a sibling
    under the same first-level directory, stays byte-identical."""
    from curw_wrf_data_pusher_spark.sinks.upsert import upsert_parquet

    store = str(tmp_path / "store")
    parts = ["run_date", "wrf_system"]
    base = spark.createDataFrame(
        [("s1", "t1", "d1", "A", 1.0), ("s1", "t2", "d1", "A", 2.0),
         ("s2", "t1", "d1", "C", 3.0), ("s3", "t1", "d2", "A", 4.0),
         ("s4", "t1", "d2", "C", 5.0)],
        _ROW_SCHEMA,
    )
    assert upsert_parquet(spark, base, store, keys=["tms_id", "time"],
                          partition_cols=parts) == 5
    leaf = {
        (d, w): f"run_date={d}/wrf_system={w}"
        for d in ("d1", "d2") for w in ("A", "C")
    }
    before = {k: _partition_state(store, v) for k, v in leaf.items()}

    # touch only (d1, A): replace (s1,t1), add (s5,t1)
    push = spark.createDataFrame(
        [("s1", "t1", "d1", "A", 10.0), ("s5", "t1", "d1", "A", 6.0)],
        _ROW_SCHEMA,
    )
    for _ in range(2):  # the repeat is idempotent
        assert upsert_parquet(spark, push, store, keys=["tms_id", "time"],
                              partition_cols=parts) == 3
        for k in [("d1", "C"), ("d2", "A"), ("d2", "C")]:
            assert _partition_state(store, leaf[k]) == before[k]
        assert _partition_state(store, leaf["d1", "A"]) != before["d1", "A"]
        assert _store_rows(spark, store) == {
            ("s1", "t1"): ("d1", "A", 10.0), ("s1", "t2"): ("d1", "A", 2.0),
            ("s5", "t1"): ("d1", "A", 6.0), ("s2", "t1"): ("d1", "C", 3.0),
            ("s3", "t1"): ("d2", "A", 4.0), ("s4", "t1"): ("d2", "C", 5.0),
        }

    # three touched leaves (an odd OR tree); (d1, C) stays untouched
    push3 = spark.createDataFrame(
        [("s1", "t2", "d1", "A", 20.0), ("s3", "t1", "d2", "A", 40.0),
         ("s4", "t1", "d2", "C", 50.0)],
        _ROW_SCHEMA,
    )
    assert upsert_parquet(spark, push3, store, keys=["tms_id", "time"],
                          partition_cols=parts) == 5
    assert _partition_state(store, leaf["d1", "C"]) == before["d1", "C"]
    assert _store_rows(spark, store) == {
        ("s1", "t1"): ("d1", "A", 10.0), ("s1", "t2"): ("d1", "A", 20.0),
        ("s5", "t1"): ("d1", "A", 6.0), ("s2", "t1"): ("d1", "C", 3.0),
        ("s3", "t1"): ("d2", "A", 40.0), ("s4", "t1"): ("d2", "C", 50.0),
    }


def test_load_table_memo_sees_rewritten_files(spark, tmp_path):
    """The per-session load_table memo must not serve a stale plan
    handle when the parquet at the path is rewritten within one
    session (regenerated testdata): the memo key carries an
    (mtime, size) freshness token, so a rewrite is a cache miss."""
    from curw_wrf_data_pusher_spark.sources.lake import load_table

    sf_dir = str(tmp_path)
    path = os.path.join(sf_dir, "region.parquet")
    spark.range(3).selectExpr("id AS r_regionkey").coalesce(1).toPandas() \
        .to_parquet(path)
    assert load_table(spark, sf_dir, "region").count() == 3
    # memo hit: identical call returns the same plan handle
    assert load_table(spark, sf_dir, "region") is load_table(
        spark, sf_dir, "region"
    )
    time.sleep(0.01)  # ensure a distinct mtime_ns on coarse filesystems
    spark.range(5).selectExpr("id AS r_regionkey").coalesce(1).toPandas() \
        .to_parquet(path)
    assert load_table(spark, sf_dir, "region").count() == 5


# ---------------------------------------------------------------------------
# schema evolution (sources/lake.py::read_evolving / align_schema)


def test_read_evolving_merges_vintages_and_aligns(spark, tmp_path):
    from pyspark.sql import types as T

    from curw_wrf_data_pusher_spark.sources.lake import read_evolving

    lake = str(tmp_path / "lake")
    # vintage 1: (id int, v float)
    spark.createDataFrame([(1, 1.5), (2, 2.5)], "id int, v float") \
        .write.parquet(lake)
    # vintage 2: adds a string column AND widens v to double — beyond
    # what mergeSchema accepts (Spark refuses float/double merges);
    # the explicit-target read handles both per file
    spark.createDataFrame(
        [(3, 3.5, "x")], "id int, v double, tag string"
    ).write.mode("append").parquet(lake)

    target = T.StructType([
        T.StructField("id", T.LongType()),      # widened int -> long
        T.StructField("v", T.DoubleType()),     # widened float -> double
        T.StructField("tag", T.StringType()),   # added mid-history
        T.StructField("score", T.DoubleType()),  # not written yet
    ])
    out = read_evolving(spark, lake, target)
    assert [f.name for f in out.schema.fields] == [
        "id", "v", "tag", "score"
    ]
    rows = {r.id: r for r in out.collect()}
    assert rows[1].tag is None and rows[1].score is None
    assert rows[3].tag == "x"
    assert abs(rows[2].v - 2.5) < 1e-9
    assert out.schema["id"].dataType.simpleString() == "bigint"


def test_align_schema_rejects_incompatible_drift(spark, tmp_path):
    import pytest as _pytest
    from pyspark.sql import types as T

    from curw_wrf_data_pusher_spark.sources.lake import align_schema

    df = spark.createDataFrame([(1, "oops")], "id int, v string")
    target = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("v", T.DoubleType()),
    ])
    with _pytest.raises(ValueError, match="column 'v'"):
        align_schema(df, target)
    # narrowing long -> int is also refused
    df2 = spark.createDataFrame([(1,)], "n long")
    t2 = T.StructType([T.StructField("n", T.IntegerType())])
    with _pytest.raises(ValueError, match="column 'n'"):
        align_schema(df2, t2)


def test_align_schema_refuses_integral_to_float(spark):
    """Round-8 advisor fix: FloatType must not accept integral
    sources — casting long→float silently loses up to 40 bits
    (2**60+1 → 1.15e18), violating the lossless-widening contract.
    long→double stays allowed as the conventional SQL promotion."""
    import pytest as _pytest
    from pyspark.sql import types as T

    from curw_wrf_data_pusher_spark.sources.lake import align_schema

    df = spark.createDataFrame([(2**60 + 1,)], "n long")
    t_float = T.StructType([T.StructField("n", T.FloatType())])
    with _pytest.raises(ValueError, match="column 'n'"):
        align_schema(df, t_float)
    # int → float is equally refused (int doesn't fit a 24-bit mantissa)
    df_i = spark.createDataFrame([(1,)], "n int")
    with _pytest.raises(ValueError, match="column 'n'"):
        align_schema(df_i, t_float)
    # the accepted promotions still work
    t_double = T.StructType([T.StructField("n", T.DoubleType())])
    assert align_schema(df, t_double).schema["n"].dataType == T.DoubleType()
    t_long = T.StructType([T.StructField("n", T.LongType())])
    assert align_schema(df_i, t_long).collect()[0].n == 1


def test_read_evolving_cast_reconcile_covers_long_to_double(
    spark, tmp_path
):
    """long→double is an align_schema cast promotion but NOT a parquet
    reader widening: the fast reader path fails at execution on a
    long-vintage file under a double target, and reconcile='cast'
    (mergeSchema + align_schema) is the documented transition-window
    escape hatch."""
    import pytest
    from pyspark.sql import types as T

    from curw_wrf_data_pusher_spark.sources.lake import read_evolving

    lake = str(tmp_path / "lake")
    spark.createDataFrame([(1, 10)], "id long, v long").write.parquet(
        f"{lake}/part=a"
    )
    spark.createDataFrame([(2, 2.5)], "id long, v double").write.parquet(
        f"{lake}/part=b"
    )
    target = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    with pytest.raises(Exception):  # reader widening lacks long→double
        read_evolving(spark, lake, target).collect()
    out = read_evolving(spark, lake, target, reconcile="cast")
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "bigint", "double",
    ]
    got = {(r.id, r.v) for r in out.collect()}
    assert got == {(1, 10.0), (2, 2.5)}


def test_plan_compaction_reports_leaf_dirs(spark, tmp_path):
    from curw_wrf_data_pusher_spark.sinks.maintenance import (
        compact_small_files,
        plan_compaction,
    )

    lake = str(tmp_path / "lake")
    # partition a: fragmented (8 files); partition b: already compact
    spark.range(2000).selectExpr("id", "id * 2 AS v").repartition(8) \
        .write.parquet(f"{lake}/day=a")
    spark.range(2000).selectExpr("id", "id * 2 AS v").coalesce(1) \
        .write.parquet(f"{lake}/day=b")

    plan = plan_compaction(lake, target_file_bytes=1 << 30)
    by_path = {r["path"]: r for r in plan}
    a = by_path[f"{lake}/day=a"]
    b = by_path[f"{lake}/day=b"]
    assert a["n_files"] == 8 and a["needs_compaction"]
    assert b["n_files"] == 1 and not b["needs_compaction"]
    # worst-first ordering
    assert plan[0]["path"] == a["path"]

    # acting on the plan clears the flag (and only the flagged dir)
    compact_small_files(spark, a["path"], target_file_bytes=1 << 30)
    plan2 = {r["path"]: r for r in plan_compaction(
        lake, target_file_bytes=1 << 30)}
    assert not plan2[a["path"]]["needs_compaction"]
    assert plan2[a["path"]]["n_files"] == 1
