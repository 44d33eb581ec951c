"""Shared conventions for the oracle-checked query suite.

The driver compares Spark results against DuckDB by row-count + schema +
order-insensitive value hash, so every float-valued aggregate must be
bit-identical across engines. Discipline:

- Source doubles in the testdata are exact 2-decimal values (verified), so
  ``CAST(x AS DECIMAL(p,s))`` is lossless in both engines.
- All sums/products run in decimal (exact, order-independent) and only the
  FINAL value is cast to double → identical IEEE doubles everywhere.
- Averages are ``CAST(SUM(decimal) AS DOUBLE) / COUNT`` — double division of
  identical operands, never engine-specific decimal-division scale rules.
- Every computed column is aliased identically in Spark and SQL (the driver
  sorts columns by name before hashing).
- LIMIT/top-k queries always order by a unique tie-break key.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a testdata table, normalizing timestamp encodings.

    ``events.ts`` has shipped in two physical encodings across testdata
    generations: INT64 TIMESTAMP(NANOS) (Spark refuses by default; with
    ``spark.sql.legacy.parquet.nanosAsLong`` it surfaces as a long we
    floor-convert to a micros timestamp — exactly what DuckDB does when it
    reads TIMESTAMP_NS) and TIMESTAMP(MICROS, isAdjustedToUTC=false) (Spark
    reads TIMESTAMP_NTZ). Either way we normalize to session-local TIMESTAMP
    under the pinned UTC session so downstream event-time arithmetic
    (``unix_micros``, watermarks, window frames) sees one type with the same
    wall-clock values the oracle reads.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # integer division — double math would lose 1µs at ~1.7e18 ns
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # same wall clock under the UTC session; restores the LTZ type
            # every event-time operator in the suite was certified against
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def spread(df: DataFrame, spark: SparkSession, min_parts: int | None = None) -> DataFrame:
    """Fan a narrow scan out across all cores before CPU-heavy per-row work.

    Small testdata tables arrive as a single parquet file → one input split →
    one core doing all the hashing/shingling. A round-robin repartition of the
    raw rows (cheap: the text itself is small) unlocks the full machine. At
    production scale the scan is already split, so this is a no-op.

    The split estimate mirrors Spark's own file-partition packing
    (``ceil((total_bytes + n_files * openCostInBytes) / maxPartitionBytes)``
    — small files PACK together, they don't each get a split) and comes from
    the scan's file list + sizes, NOT ``df.rdd`` — converting to an RDD
    builds the whole lineage driver-side on every query, which is dead
    weight in a library hot path.
    """
    import math
    import os

    target = min_parts or spark.sparkContext.defaultParallelism
    max_bytes = _parse_bytes(
        str(spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")),
        default=128 * 1024 * 1024,
    )
    open_cost = _parse_bytes(
        str(spark.conf.get("spark.sql.files.openCostInBytes", "4m")),
        default=4 * 1024 * 1024,
    )
    total = 0
    for path in df.inputFiles():
        local = path.removeprefix("file:")
        try:
            total += os.path.getsize(local) + open_cost
        except OSError:  # non-local / unstat-able: count the open cost only
            total += open_cost
        if math.ceil(total / max_bytes) >= target:
            return df
    return df.repartition(target)


def gate_workdir(prefix: str, max_age_seconds: float = 2 * 3600) -> str:
    """Fresh temp workdir for a gate query that stages files on disk; stale
    workdirs from earlier invocations (same prefix, older than
    ``max_age_seconds``) are best-effort deleted so repeated gate/bench runs
    don't accumulate unbounded temp data."""
    import shutil
    import tempfile
    import time

    root = tempfile.gettempdir()
    cutoff = time.time() - max_age_seconds
    try:
        for name in os.listdir(root):
            if name.startswith(prefix):
                p = os.path.join(root, name)
                try:
                    if os.path.isdir(p) and os.path.getmtime(p) < cutoff:
                        shutil.rmtree(p, ignore_errors=True)
                except OSError:
                    pass
    except OSError:
        pass
    return tempfile.mkdtemp(prefix=prefix)


def write_single_file(df: DataFrame, dest: str, fmt: str = "json") -> None:
    """Write ``df`` as exactly ONE data file at ``dest`` (atomic move of the
    single part file) — gate queries use this to control micro-batch
    boundaries of the file stream source."""
    import glob as globmod
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="single-file-")
    out = f"{tmp}/out"
    getattr(df.coalesce(1).write, fmt)(out)
    part = next(p for p in globmod.glob(f"{out}/part-*") if not p.endswith(".crc"))
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    shutil.move(part, dest)
    shutil.rmtree(tmp, ignore_errors=True)


def _parse_bytes(raw: str, default: int) -> int:
    """Spark size-string → bytes ('134217728', '134217728b', '128m', '1g')."""
    s = raw.strip().lower()
    for suffix, mult in (
        ("tb", 1024**4), ("gb", 1024**3), ("mb", 1024**2), ("kb", 1024),
        ("t", 1024**4), ("g", 1024**3), ("m", 1024**2), ("k", 1024),
        ("b", 1),
    ):
        if s.endswith(suffix):
            num = s[: -len(suffix)].strip()
            if num.isdigit():
                return int(num) * mult
            break
    return int(s) if s.isdigit() else default


def static_plan_table(spark: SparkSession, schema: str, rows: list) -> DataFrame:
    """Bounded literal dimension table — the zero-preserving left-join
    anchor for sweep/grid queries (every declared cell keeps its output
    row even when its aggregate is empty). ONE LocalRelation, not a
    unioned ``spark.range(1)`` per row: same values, smaller analyzed
    plan, and one place to change the idiom."""
    return spark.createDataFrame(rows, schema)


def dec(col: Column | str, p: int = 12, s: int = 2) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({p},{s})")


def money_sum(col: Column, alias: str) -> Column:
    """Exact decimal sum, surfaced as double."""
    return F.sum(col).cast("double").alias(alias)


def avg_double(col: Column, alias: str) -> Column:
    """Order-independent average: exact decimal sum / count, divided as double."""
    return (F.sum(col).cast("double") / F.count(col)).alias(alias)


# price * (1 - discount): DECIMAL(12,2) * DECIMAL(4,2) → DECIMAL(17,4), exact
def disc_price() -> Column:
    return dec("l_extendedprice") * (F.lit(1).cast("decimal(1,0)") - dec("l_discount", 3, 2))


def charge() -> Column:
    # (price * (1-disc)) * (1+tax): DECIMAL(17,4) * DECIMAL(4,2) → DECIMAL(22,6), exact
    return disc_price() * (F.lit(1).cast("decimal(1,0)") + dec("l_tax", 3, 2))


# SQL-side equivalents (DuckDB): keep in lockstep with the column builders.
SQL_DISC_PRICE = (
    "CAST(l_extendedprice AS DECIMAL(12,2)) * "
    "(CAST(1 AS DECIMAL(1,0)) - CAST(l_discount AS DECIMAL(3,2)))"
)
SQL_CHARGE = (
    f"({SQL_DISC_PRICE}) * "
    "(CAST(1 AS DECIMAL(1,0)) + CAST(l_tax AS DECIMAL(3,2)))"
)


def staged_stream(workdir: str, slices: list[DataFrame], held: int = 0) -> DataFrame:
    """Stage ``slices`` as a bounded parquet file stream under
    ``{workdir}/src``: one file per slice, mtimes pinned in slice order
    (``1000 * (i + 1)``), so the file source with ``maxFilesPerTrigger=1``
    replays slice ``i`` as micro-batch ``i``.

    The stream's schema is ``slices[0].schema`` — derived, never inferred
    from the files, so building the stream runs no Spark job. A slice whose
    column names or types differ from the first raises ``ValueError``: the
    by-name parquet read would otherwise null the mismatched column.

    The last ``held`` slices are written beside the source dir, not in it;
    :func:`release_held` moves them in for a restart leg on the same
    checkpoint."""
    first = slices[0]
    for i, sl in enumerate(slices):
        if sl.dtypes != first.dtypes:
            raise ValueError(
                f"staged slice {i} has columns {sl.dtypes}, slice 0 has {first.dtypes}"
            )
    for i, sl in enumerate(slices):
        outside = i >= len(slices) - held
        dest = f"{workdir}/src{'.held' if outside else ''}/part{i}.parquet"
        write_single_file(sl, dest, fmt="parquet")
        os.utime(dest, (1000.0 * (i + 1),) * 2)
    return (
        first.sparkSession.readStream.schema(first.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{workdir}/src")
    )


def release_held(workdir: str) -> None:
    """Move the slices :func:`staged_stream` held back into the source dir.
    A rename keeps their pinned mtimes, which sort after every slice the
    stream has already seen, so the next drain ingests exactly them."""
    held = f"{workdir}/src.held"
    for name in sorted(os.listdir(held)):
        os.rename(f"{held}/{name}", f"{workdir}/src/{name}")


def registrar(queries: dict, oracles: dict):
    """The ``@query(name, oracle)`` decorator of a plans module: registers
    the function in ``queries`` and, when given, its DuckDB SQL in
    ``oracles``."""

    def query(name: str, oracle: str | None = None):
        def deco(fn):
            queries[name] = fn
            if oracle is not None:
                oracles[name] = oracle
            return fn

        return deco

    return query
