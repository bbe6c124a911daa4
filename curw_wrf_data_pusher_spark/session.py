"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` but every default here is chosen so
the same plan scales on a multi-executor cluster: AQE on (runtime join
re-planning, partition coalescing, skew-join splitting), Arrow on (all
pandas-UDF paths are batch-vectorized), session timezone pinned to UTC
(the reference applies the +05:30 Asia/Colombo shift explicitly per
value — wrf_data_pusher.py:75-76 — so the engine must not also apply an
implicit session shift).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "curw_wrf_data_pusher_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster set it (or rely on AQE coalescing) to ~2-3× total cores.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # testdata writes TIMESTAMP(NANOS) parquet, which Spark rejects
        # natively; read as long and convert in sources.lake.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via addPyFile.

    Any cloudpickled function defined in this package (stateful
    streaming UDFs, mapInPandas readers) must be importable on the
    worker side; on a real cluster — or a driver launched from a CWD
    outside the repo — the package isn't on the workers' sys.path.
    A zip added once per session fixes both."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmpdir = spark._jvm.System.getProperty("java.io.tmpdir") or "/tmp"
    spark.sparkContext.addPyFile(
        package_zip(os.path.join(root, "curw_wrf_data_pusher_spark"), tmpdir)
    )


def package_zip(pkg: str, out_dir: str) -> str:
    """Zip of the ``.py`` files under ``pkg`` (paths relative to its
    parent), named by a hash of their paths and bytes: one tree's code
    is one file, reused by every session that ships it, and a zip never
    holds another tree's code.  Written to a temporary name and renamed
    into place, so a concurrent reader sees no partial zip."""
    import hashlib
    import tempfile
    import zipfile

    root = os.path.dirname(pkg)
    members = []
    for dirpath, dirnames, names in os.walk(pkg):
        dirnames.sort()
        for name in sorted(names):
            if name.endswith(".py"):
                full = os.path.join(dirpath, name)
                with open(full, "rb") as f:
                    members.append((os.path.relpath(full, root), f.read()))
    digest = hashlib.sha256()
    for rel, data in members:
        digest.update(f"{rel}\0{len(data)}\0".encode())
        digest.update(data)
    zip_path = os.path.join(
        out_dir, f"{os.path.basename(pkg)}-{digest.hexdigest()[:16]}.zip"
    )
    if os.path.exists(zip_path):
        return zip_path
    fd, tmp = tempfile.mkstemp(dir=out_dir, suffix=".zip.tmp")
    try:
        with os.fdopen(fd, "wb") as f, zipfile.ZipFile(f, "w") as zf:
            for rel, data in members:
                zf.writestr(rel, data)
        os.replace(tmp, zip_path)
    except BaseException:
        os.unlink(tmp)
        raise
    return zip_path
