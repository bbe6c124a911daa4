"""Keyed upsert sinks (SURVEY §2.9 K1-K3; §4 custom work #2).

Reference: batched ``INSERT ... ON DUPLICATE KEY UPDATE`` of
``[tms_id, time, fgt, value]`` with a retry-once-after-5s wrapper
(wrf_data_pusher.py:119-140), run-metadata insert (:239-260) and a
latest-fgt pointer update (:103-116) per successful push.  That K3
pointer needs no sink of its own: ``push_wrf_grid``'s run rows carry
``max(fgt)`` per series, and upserting them on ``tms_id`` moves it.

Two sinks:
- ``upsert_parquet``: lake-native MERGE emulation — new rows win on the
  key; everything else is carried over.  Used for all local testing and
  as the scale path when the store is the lake itself (at 100 TB the
  anti-join is partition-pruned by the key's partition columns).  Each
  merge is written once and its row count observed in the write's plan.
  ``staged_upsert`` is its full-store form split around a caller's
  block: staged beside it, published only when the block says so.
- ``upsert_jdbc``: ``foreachPartition`` batched MySQL upsert with retry,
  matching the reference's sink exactly.  Import-gated (no MySQL driver
  or server in this container); the SQL builder is pure and unit-tested.
"""

from __future__ import annotations

import functools
import time
from collections.abc import Callable, Iterator, Sequence
from concurrent.futures import ThreadPoolExecutor, wait
from contextlib import contextmanager

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def _hadoop_fs(spark: SparkSession, path_str: str):
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    path = jvm.org.apache.hadoop.fs.Path(path_str)
    return path.getFileSystem(jsc.hadoopConfiguration()), path, jvm


def upsert_parquet(
    spark: SparkSession,
    new_rows: DataFrame,
    store_path: str,
    keys: Sequence[str],
    partition_cols: Sequence[str] | None = None,
) -> int:
    """Idempotent MERGE into a parquet store: rows whose key matches an
    incoming row are replaced; others survive.  Returns the number of
    rows written, observed in-plan (for the unpartitioned full-store
    form this equals the post-merge row count).

    ``new_rows`` is evaluated by several actions (the touched-partition
    collect and both branches of the merge), so a caller whose lineage
    is expensive passes a materialised frame.

    Two physical forms:

    - ``partition_cols`` given (the 100 TB path): the merge touches ONLY
      the partitions present in ``new_rows``.  The touched-partition
      predicate is collected driver-side (bounded by partitions-per-push,
      not store size) so Catalyst prunes the scan at planning time: the
      file index lists the whole store tree, but only touched files are
      read.  ONE write, by dynamic partition overwrite straight into the
      store: Spark's commit stages task output in
      ``<path>/.spark-staging-<job>`` and, after every task has read
      the old files, swaps in exactly the touched partition
      directories; the rest is never rewritten.  REQUIRES the partition
      columns to be a function of the key (a key's row always lives in
      one partition) — true for the reference's layout where fgt/date
      derive from the series key + run (SURVEY §1.4,
      wrf_data_pusher.py:119-140).
    - no ``partition_cols``, or a store that is missing or not yet laid
      out by them: full-store merge in two steps.  *Stage* writes the
      merged result (``new_rows`` alone when there is no store yet) to
      ``<path>.staging``; *publish* swaps it in by filesystem RENAME
      (store → .old, staging → store, delete .old), so a failure at any
      point leaves either the old or the new store fully intact — never
      the half-deleted state a second overwrite-write would risk (a
      failed staging write deletes its partial copy).
      :func:`staged_upsert` runs the same two steps with the stage on a
      worker thread, so a caller can publish one store only after its
      write to another has committed (E1: fact commit, then run-dim
      publish).
    """
    # The scoped merge is only sound when the store really is laid out
    # as <col>=<value> directories for these columns: against a flat
    # store the touched-partition filter would match nothing, the
    # anti-join would drop nothing, and dynamic overwrite would write
    # partition dirs BESIDE the old flat files — duplicate keys, silent
    # corruption.  A flat (or mixed) store falls back to the full-store
    # merge below, which also migrates it to the partitioned layout.
    if partition_cols and _store_is_partitioned_by(
        spark, store_path, list(partition_cols)
    ):
        return _upsert_partitioned(
            spark, new_rows, store_path, keys, list(partition_cols)
        )
    written = _stage(spark, new_rows, store_path, keys, partition_cols)
    _publish(spark, store_path)
    return written


@contextmanager
def staged_upsert(
    spark: SparkSession,
    new_rows: DataFrame,
    store_path: str,
    keys: Sequence[str],
) -> Iterator[Callable[[], int]]:
    """The full-store :func:`upsert_parquet`, run beside the caller's
    block: the merge is staged on one worker thread while the block
    runs, and the store changes only when the block calls the yielded
    ``publish()``, which waits for the stage, swaps it in and returns
    the rows written (re-raising a failed stage).

    On exit the thread is always joined — no job of it outlives the
    block, so a cache the caller releases afterwards is not re-filled —
    and a staging the block did not publish (it returned early or
    raised) is deleted: the store is then exactly as it was.  The thread
    carries the caller's Spark local properties (job group, scheduler
    pool, description), so its jobs are attributed like the caller's."""
    publishing = False
    with ThreadPoolExecutor(max_workers=1) as pool:
        staged = pool.submit(
            inheritable_thread_target(spark)(_stage),
            spark, new_rows, store_path, keys,
        )

        def publish() -> int:
            nonlocal publishing
            written = staged.result()
            publishing = True
            _publish(spark, store_path)
            return written

        try:
            yield publish
        finally:
            wait([staged])
            if not publishing:
                _discard(spark, store_path)


def _read_store(spark: SparkSession, store_path: str) -> DataFrame | None:
    """The store's rows, or None when there is no store yet: a missing
    path, or a directory without data files.  A missing path is checked
    on the filesystem first; reading it would run a failed query that
    every ``Observation`` listener of the session logs as an error."""
    from pyspark.errors import AnalysisException

    from ..functions.errors import is_missing_input

    fs, path, _ = _hadoop_fs(spark, store_path)
    if not fs.exists(path):
        return None
    try:
        return spark.read.parquet(store_path)
    except AnalysisException as exc:
        # ONLY "no store yet" (empty or just-deleted path) may start a
        # fresh store; a transient read failure on an EXISTING store
        # must propagate — swallowing it would write `new_rows` alone
        # over months of history (the swallow-everything anti-pattern
        # functions/errors.py exists to eliminate)
        if not is_missing_input(exc, allow_empty=True):
            raise
        return None


def _swap_paths(spark: SparkSession, store_path: str):
    """The store's filesystem and the Hadoop paths of the store, of its
    staged successor ``<store>.staging`` and of ``<store>.old``, where
    the publish moves it aside."""
    fs, store, jvm = _hadoop_fs(spark, store_path)
    base = store_path.rstrip("/")
    path = jvm.org.apache.hadoop.fs.Path
    return fs, store, path(base + ".staging"), path(base + ".old")


def _stage(
    spark: SparkSession,
    new_rows: DataFrame,
    store_path: str,
    keys: Sequence[str],
    partition_cols: Sequence[str] | None = None,
) -> int:
    """Write the full-store merge of ``new_rows`` to ``<store>.staging``
    and return the rows written.  The store itself is only read."""
    existing = _read_store(spark, store_path)
    merged = new_rows
    if existing is not None:
        kept = existing.join(
            new_rows.select(*keys),
            on=list(keys),
            how="left_anti",
        )
        merged = kept.unionByName(new_rows)
    counted, written = _observe_rows(merged)
    fs, _, staging, _ = _swap_paths(spark, store_path)
    writer = counted.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    try:
        writer.parquet(staging.toString())
    except BaseException:
        fs.delete(staging, True)
        raise
    return written()


def _publish(spark: SparkSession, store_path: str) -> None:
    """Swap ``<store>.staging`` in by rename; a first write has no store
    to move aside."""
    fs, store, staging, old = _swap_paths(spark, store_path)
    if fs.exists(old):
        fs.delete(old, True)
    if fs.exists(store):
        fs.rename(store, old)
    fs.rename(staging, store)
    fs.delete(old, True)


def _discard(spark: SparkSession, store_path: str) -> None:
    fs, _, staging, _ = _swap_paths(spark, store_path)
    fs.delete(staging, True)


def _observe_rows(df: DataFrame):
    """``df`` with an in-plan row counter, and a getter to call once
    the returned frame has been written."""
    obs = Observation()
    counted = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    return counted, lambda: int(obs.get["rows"])


def _store_is_partitioned_by(
    spark: SparkSession, store_path: str, partition_cols: list[str]
) -> bool:
    """True iff the store is Hive-partitioned by EVERY column of
    ``partition_cols``, in order: level k under the root must consist
    of ``<partition_cols[k]>=...`` directories with no stray data files
    or differently-named partition directories beside them.  Probes one
    sample directory per level — len(partition_cols) listStatus calls,
    cheap regardless of store size.

    Checking only the root level is not enough: a store previously
    written with partition_cols=["run_date"] and later upserted with
    ["run_date","wrf_system"] has the right FIRST level but flat data
    files one level down — dynamic overwrite would then write
    wrf_system=... dirs beside them inside each run_date directory,
    the same mixed-layout duplicate-key corruption this guard exists
    to prevent, one level deeper."""
    fs, root, _ = _hadoop_fs(spark, store_path)
    if not fs.exists(root):
        return False
    current = root
    for col in partition_cols:
        prefix = col + "="
        sample = None
        for status in fs.listStatus(current):
            name = status.getPath().getName()
            if status.isDirectory() and name.startswith(prefix):
                sample = status.getPath()
            elif status.isDirectory() and "=" in name:
                # partitioned by a DIFFERENT column at this level
                return False
            elif status.isFile() and not (
                name.startswith("_") or name.startswith(".")
            ):
                # a data file where partition dirs belong: flat or mixed
                return False
        if sample is None:
            return False
        current = sample
    return True


def _touched_predicate(
    partition_cols: Sequence[str], touched: Sequence
) -> "F.Column":
    """Exact membership predicate for the touched partition tuples.

    MUST stay shallow: a left-fold OR chain is a depth-|touched|
    expression tree and overflows the JVM stack during column
    conversion once one batch touches ~10k partitions — found by the
    round-13 stream_gauge_qc 100x probe, whose bootstrap batch
    touches every one of 10,000 hash_id partitions.  Single partition
    column (every current caller) compiles to ONE flat isin/InSet;
    the multi-column form balances the OR tree to log2 depth."""
    if len(partition_cols) == 1:
        c = partition_cols[0]
        vals = [row[c] for row in touched]
        non_null = [v for v in vals if v is not None]
        pred = F.col(c).isin(non_null) if non_null else F.lit(False)
        if len(non_null) < len(vals):  # a NULL partition was touched
            pred = pred | F.col(c).isNull()
        return pred
    terms = [
        functools.reduce(
            lambda a, b: a & b,
            (F.col(c).eqNullSafe(F.lit(row[c])) for c in partition_cols),
        )
        for row in touched
    ]
    while len(terms) > 1:
        terms = [
            terms[i] | terms[i + 1] if i + 1 < len(terms) else terms[i]
            for i in range(0, len(terms), 2)
        ]
    return terms[0]


def _upsert_partitioned(
    spark: SparkSession,
    new_rows: DataFrame,
    store_path: str,
    keys: Sequence[str],
    partition_cols: list[str],
) -> int:
    """Partition-scoped merge: read only touched partitions, anti-join
    on the key, dynamic-partition-overwrite only those partitions in
    one write (the commit swaps them in after every task has read)."""
    # Touched-partition predicate, collected driver-side.  The row
    # count is the number of distinct partition tuples in one push —
    # dims-scale at worst (a store-bootstrapping batch touches every
    # series of a 10^4-gauge network), never fact-scale.
    # (A fresh store takes the full-store route: this function is only
    # entered when the store exists AND _store_is_partitioned_by saw
    # <col>= data directories.)
    touched = new_rows.select(*partition_cols).distinct().collect()
    if not touched:
        return 0
    pred = _touched_predicate(partition_cols, touched)
    # Partition-pruned scan: only the touched files are read.
    # Explicit schema: partition-column TYPES come from the incoming
    # frame, not directory-name inference (a string partition value that
    # looks like a timestamp must stay a string for the key anti-join).
    existing_touched = (
        spark.read.schema(new_rows.schema).parquet(store_path).filter(pred)
    )
    kept = existing_touched.join(
        new_rows.select(*keys),
        on=list(keys),
        how="left_anti",
    )
    merged, written = _observe_rows(kept.unionByName(new_rows))
    # writer option, not the shared session conf (which would put any
    # concurrent query on the session in dynamic mode too)
    merged.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy(*partition_cols).parquet(store_path)
    return written()


def build_mysql_upsert_sql(table: str, columns: Sequence[str],
                           update_columns: Sequence[str]) -> str:
    """``INSERT ... ON DUPLICATE KEY UPDATE`` text for executemany —
    the statement shape the reference's adapter emits for
    ``insert_formatted_data(..., True)`` (wrf_data_pusher.py:127)."""
    collist = ", ".join(columns)
    placeholders = ", ".join(["%s"] * len(columns))
    updates = ", ".join(f"{c}=VALUES({c})" for c in update_columns)
    return (
        f"INSERT INTO {table} ({collist}) VALUES ({placeholders}) "
        f"ON DUPLICATE KEY UPDATE {updates}"
    )


def build_upsert_sql(
    table: str,
    columns: Sequence[str],
    key_columns: Sequence[str],
    dialect: str = "mysql",
) -> str:
    """Keyed-upsert statement per dialect.

    mysql  : INSERT ... ON DUPLICATE KEY UPDATE (paramstyle %s) —
             production target, matching the reference's adapter.
    sqlite : INSERT ... ON CONFLICT(keys) DO UPDATE (paramstyle ?) —
             lets the integration tests run the real foreachPartition
             sink against an actual database in this container."""
    update_cols = [c for c in columns if c not in key_columns]
    if dialect == "mysql":
        return build_mysql_upsert_sql(table, columns, update_cols)
    if dialect == "sqlite":
        collist = ", ".join(columns)
        placeholders = ", ".join(["?"] * len(columns))
        keys = ", ".join(key_columns)
        updates = ", ".join(f"{c}=excluded.{c}" for c in update_cols)
        return (
            f"INSERT INTO {table} ({collist}) VALUES ({placeholders}) "
            f"ON CONFLICT({keys}) DO UPDATE SET {updates}"
        )
    raise ValueError(f"unknown dialect: {dialect}")


def upsert_jdbc(
    df: DataFrame,
    connect: "callable",
    table: str,
    key_columns: Sequence[str],
    batch_size: int = 1000,
    retries: int = 1,
    retry_wait_s: float = 5.0,
    dialect: str = "mysql",
) -> None:
    """Batched keyed upsert via foreachPartition.

    ``connect`` is a zero-arg callable returning a DB-API connection
    (created INSIDE each task — connections don't serialize).  Retry
    semantics mirror the reference: one retry after a fixed sleep
    (wrf_data_pusher.py:126-140)."""
    columns = df.columns
    sql = build_upsert_sql(table, columns, key_columns, dialect)

    def push_partition(rows) -> None:
        conn = connect()
        try:
            cur = conn.cursor()
            batch = []
            for row in rows:
                batch.append(tuple(row[c] for c in columns))
                if len(batch) >= batch_size:
                    _execute_with_retry(
                        conn, cur, sql, batch, retries, retry_wait_s
                    )
                    batch = []
            if batch:
                _execute_with_retry(conn, cur, sql, batch, retries, retry_wait_s)
            conn.commit()
        finally:
            conn.close()

    df.foreachPartition(push_partition)


def _execute_with_retry(conn, cur, sql, batch, retries, wait_s):
    for attempt in range(retries + 1):
        try:
            cur.executemany(sql, batch)
            return
        except Exception:
            if attempt == retries:
                raise
            time.sleep(wait_s)

