"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]`` but every knob here is chosen so the same
logical plans behave on a 1000-executor cluster reading 100 TB:

- AQE on (runtime coalescing, skew-join splitting, dynamic join strategy);
- session timezone pinned to UTC (parquet instants compare bit-identically
  with the DuckDB oracle, and cluster nodes disagree on local TZ otherwise);
- Arrow enabled for the Pandas-UDF paths (vectorized transfer);
- shuffle partitions sized by env, not the 200 default.
"""

from __future__ import annotations

import os
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def ship_package(spark: SparkSession) -> None:
    """Distribute this library to Python workers via ``addPyFile``.

    Pandas-UDF / stateful-fold closures reference package modules; executors
    (and local-mode worker processes launched from an arbitrary cwd) must be
    able to import them. On a real cluster this is exactly how the engine
    ships itself alongside the job.
    """
    pkg_dir = Path(__file__).resolve().parent
    zip_path = Path(tempfile.gettempdir()) / f"pagopa_ecommerce_cdc_service_spark-{os.getpid()}.zip"
    if not zip_path.exists():
        with zipfile.ZipFile(zip_path, "w") as zf:
            for py in sorted(pkg_dir.rglob("*.py")):
                zf.write(py, arcname=str(py.relative_to(pkg_dir.parent)))
    spark.sparkContext.addPyFile(str(zip_path))


def build_session(
    app_name: str = "pagopa-ecommerce-cdc-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local: ~cores; on a real cluster this is overridden (or left to AQE
        # coalescing from a higher initial value).
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # custom Python data sources (sources/pyds.py) may implement
        # pushFilters; Spark refuses such readers unless this is on
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.stopActiveRunOnRestart", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # Python workers the JVM launches outside the task path (the Python
    # data-source planner) never see the addPyFile zip: put the package's
    # parent on the PYTHONPATH the JVM inherits, so they import it from
    # any cwd. No effect once a JVM is running.
    pkg_parent = str(Path(__file__).resolve().parent.parent)
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if pkg_parent not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([pkg_parent, *paths])
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark
