"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from pathlib import Path

from pyspark.sql import SparkSession


def _ship_package(spark: SparkSession) -> None:
    """Ship tilemaker_spark to executors (the spark-submit --py-files
    analog) so pandas-UDF workers can import it regardless of cwd."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    if not os.path.isdir(pkg_dir):
        # imported from a zip (spark-submit --py-files): already shipped
        return
    zip_base = os.path.join(tempfile.gettempdir(),
                            f"tilemaker_spark_pyfiles_{os.getpid()}")
    zip_path = shutil.make_archive(zip_base, "zip", root_dir=root,
                                   base_dir="tilemaker_spark")
    spark.sparkContext.addPyFile(zip_path)
    # executors fetch the zip when their tasks start: keep it until exit
    atexit.register(Path(zip_path).unlink, missing_ok=True)


def session_conf(master: str | None = None,
                 shuffle_partitions: int | None = None) -> dict[str, str]:
    """The engine's session config.

    Defaults chosen for the target workload (wide shuffles keyed by tile
    ids, Arrow-heavy pandas UDFs) and for the host:
      * one slot per core (``SPARK_GRAFT_CPUS``) and a driver heap of
        half the RAM, at most 16g (``SPARK_DRIVER_MEM``): the Python
        workers need the other cores' time and the rest of the memory;
      * AQE on (runtime coalescing + skew-join splitting),
      * Arrow enabled with a bounded records-per-batch so huge tiles
        don't blow a single Arrow batch,
      * shuffle partitions sized to cores by default (overridable; on a
        real cluster this would be ~2-3x total executor cores).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return {
        "spark.master": master or f"local[{cpus}]",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.shuffle.partitions": str(shuffle_partitions or int(cpus)),
        "spark.sql.parquet.compression.codec": "zstd",
        "spark.driver.memory": os.environ.get(
            "SPARK_DRIVER_MEM", f"{min(16 * 1024, ram_mb // 2)}m"),
        # timestamps in fixtures are naive UTC
        "spark.sql.session.timeZone": "UTC",
        # ANSI off: the engine relies on wraparound-free integer hashing
        # expressions that must evaluate identically to the DuckDB oracle
        "spark.sql.ansi.enabled": "false",
        # Spark 4.1 default: ~10 py4j round trips (and a failed IPython
        # import) per DataFrame/Column call to record its call site
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        # SPARK_GRAFT_TASK_CPUS > 1 reserves N cores per task slot —
        # used by the scaling benchmark to build UNCONTENDED local[k]
        # pairs (k JVM task threads + k Python workers must stay <=
        # physical cores, so slots = k / task.cpus)
        "spark.task.cpus": os.environ.get("SPARK_GRAFT_TASK_CPUS", "1"),
    }


def get_spark(app_name: str = "tilemaker_spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a session with :func:`session_conf`."""
    spark = SparkSession.builder.appName(app_name).config(
        map=session_conf(master, shuffle_partitions)).getOrCreate()
    _ship_package(spark)
    return spark
