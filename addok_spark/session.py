"""SparkSession helpers + package shipping.

On a real cluster the engine ships via ``spark-submit --py-files
addok_spark.zip`` (north_rule). For interactive / driver-created
sessions, ``ship_package`` zips the installed package and registers
it with ``sc.addPyFile`` so executor Python workers can unpickle the
pandas-UDF closures regardless of the driver's cwd.
"""

from __future__ import annotations

import atexit
import os
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession


def ship_package(spark: SparkSession) -> str:
    """Zip addok_spark and addPyFile it (≙ --py-files). Every call
    writes a zip of its own name, so sessions started at the same time
    (from one checkout or several) never overwrite each other's file;
    it is removed when the process exits, since executors fetch it
    whenever a task starts."""
    pkg_dir = Path(__file__).resolve().parent
    fd, name = tempfile.mkstemp(prefix="addok_spark_pkg_", suffix=".zip")
    os.close(fd)
    out = Path(name)
    atexit.register(out.unlink, missing_ok=True)
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for p in sorted(pkg_dir.rglob("*.py")):
            zf.write(p, Path("addok_spark") / p.relative_to(pkg_dir))
    spark.sparkContext.addPyFile(str(out))
    return str(out)


def build_session(
    cores: int | str = "*",
    shuffle_partitions: int | None = None,
    app_name: str = "addok_spark",
    driver_memory: str = "16g",
    extra_conf: dict | None = None,
) -> SparkSession:
    """local[N] session with the configuration profile the engine
    assumes (AQE on, Arrow on, UTC)."""
    n = os.cpu_count() if cores == "*" else int(cores)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # smaller input splits: scan parallelism must reach the core
        # count even for ~1GB intermediates (default 128MB splits cap
        # the analyze/pack map sides at a handful of tasks)
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        # task-side file commit (v2): the v1 job-commit rename pass is
        # driver-serial and O(files) — it was the measured serial floor
        # of partitioned-table writes. Safe here: every write is an
        # overwrite into a stage dir gated by the build manifest, so a
        # failed job's partial files are replaced on retry/resume.
        .config(
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
            "2",
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark
