"""Batch sources.

The reference's source stack is: gzipped CSV -> strict 9-field parser
(TaxiRide.java:91-129) -> replayed event stream -> registered dynamic
table ``rides`` with an appended event-time column ``rowtime``
(TaxiRideTableSource.scala:26-47, TaxiRideSource.java:221-228).

Batch-side we read the driver's parquet fixtures with explicit schemas
(the reference never infers schema from data — SURVEY §1.2) and derive a
rides-shaped table from ``events``. The derivation is pure double-
precision arithmetic expressed identically in Spark and ANSI SQL
(``RIDES_ORACLE_SQL``) so every downstream query is oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
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
]


# Event-time columns stored as TIMESTAMP(NANOS) in the fixtures. Spark
# has no nanosecond timestamp type; with spark.sql.legacy.parquet.
# nanosAsLong (session.py) they arrive as epoch-nanos longs and are
# normalized here to TimestampType (microsecond precision, matching the
# oracle). Integer DIV keeps full precision (epoch-nanos > 2^53 would
# lose bits in double math).
_TS_COLUMNS = {
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
    "events": ["ts"],
}


_SHIPPED_CONTEXTS: set[str] = set()


def ensure_package_on_workers(spark: SparkSession) -> None:
    """Ship this package to the Python workers, once per SparkContext.

    Workers resolve ``table_demo_spark`` through their own sys.path —
    NOT the driver's runtime ``sys.path`` edits. When the driver
    happens to run with the repo as its cwd, workers find the package
    by cwd inheritance (local mode) and everything works by accident;
    any other launch directory — and every real cluster, where
    executors share nothing with the driver — breaks the first
    closure that references a module-level function
    (``ModuleNotFoundError`` at unpickle, observed running the driver
    contract from a scratch cwd). Zipping the package (its 50 .py
    files, 2.0 MB, stored uncompressed) to scratch and
    ``addPyFile``-ing it makes the engine cwd- and cluster-agnostic:
    the standard ``--py-files`` submission, done for the caller."""
    import os
    import zipfile

    # Keyed by applicationId, not id(sc): CPython reuses object
    # addresses, so a stop-and-recreate sequence could silently skip
    # the ship for the new context.
    key = spark.sparkContext.applicationId
    if key in _SHIPPED_CONTEXTS:
        return
    import table_demo_spark

    from table_demo_spark.scratch import scratch_dir

    pkg_dir = os.path.dirname(os.path.abspath(table_demo_spark.__file__))
    zpath = os.path.join(scratch_dir("tds-pyfiles-"), "table_demo_spark.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    z.write(full, rel)
    spark.sparkContext.addPyFile(zpath)
    _SHIPPED_CONTEXTS.add(key)


def _ensure_session_confs(spark: SparkSession) -> None:
    """The engine's session invariants, enforced on ANY session the
    caller hands us (the driver builds a vanilla one): nanos timestamps
    readable, UTC so NTZ->LTZ casts are deterministic, and the package
    importable on Python workers. All safe to apply repeatedly."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ensure_package_on_workers(spark)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Parquet carries its own (exact) schema —
    no inference happens; this mirrors the reference's fixed POJO schema
    stance (TaxiRideTableSource.scala:43-45).
    """
    _ensure_session_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for c in _TS_COLUMNS.get(name, []):
        if c not in df.columns:
            continue
        dtype = dict(df.dtypes)[c]
        if dtype == "bigint":  # TIMESTAMP(NANOS) read as epoch-nanos
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} DIV 1000)"))
        elif dtype == "timestamp_ntz":  # session TZ is pinned UTC
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def fan_out(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Round-robin repartition a compute-dense input so per-row work
    (hashing, shingling, vector math) uses every core.

    Guarded: a no-op when the scan already has >= target partitions —
    at 100 TB inputs arrive as thousands of file splits and no shuffle
    happens; the repartition only fires for small/single-row-group
    inputs (like the local fixtures) where the shuffle is trivially
    cheap and the alternative is one task doing all the CPU work.
    """
    target = partitions or df.sparkSession.sparkContext.defaultParallelism
    # Estimate scan parallelism from the input file count — touching
    # df.rdd here would force an RDD conversion and analyzer churn on
    # every hot construction path just to read a partition count.
    try:
        n_splits = len(df.inputFiles())
    except Exception:  # non-file-backed plan (e.g. in-memory test frames)
        n_splits = 0
    if n_splits >= target:
        return df
    return df.repartition(target)


def register_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view (the reference's
    ``tEnv.registerTableSource`` — TaxiRideQueries.scala:46-48) so both
    the DataFrame and SQL dialects see one catalog.
    """
    dfs = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        dfs[name] = df
    return dfs


def rides_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive a taxi-rides-shaped table from ``events``.

    Shape mirrors TaxiRide.java:61-69 + the appended ``rowtime``
    (TaxiRideTableSource.scala:41): one event row per ride event with an
    is-start discriminator, lon/lat coordinates, and an event-time
    column. Coordinates are synthesized deterministically from the
    event's integer keys so that some rows fall just OUTSIDE the NYC
    bbox (exercising the ``in_nyc`` filter and grid boundaries —
    FIXTURES.md §A). All arithmetic is IEEE-754 double and is mirrored
    verbatim in ``RIDES_ORACLE_SQL``.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").alias("ride_id"),
        F.col("event_type").isin("click", "view", "signup").alias("is_start"),
        F.col("ts").alias("rowtime"),
        (F.lit(-74.06) + (F.col("user_id") % 12) * F.lit(0.03)).alias("start_lon"),
        (F.lit(40.49) + (F.col("event_id") % 16) * F.lit(0.03)).alias("start_lat"),
        (F.lit(-74.06) + (F.col("event_id") % 12) * F.lit(0.03)).alias("end_lon"),
        (F.lit(40.49) + (F.col("user_id") % 16) * F.lit(0.03)).alias("end_lat"),
        (F.col("event_id") % 4 + 1).cast("int").alias("passenger_cnt"),
    )


# The same derivation in ANSI SQL, runnable by DuckDB over the `events`
# view. Keep in lock-step with rides_view() — every expression must be
# bit-identical double math. NB: DuckDB parses bare decimal literals as
# exact DECIMALs, so every literal is cast to DOUBLE to match Spark.
RIDES_ORACLE_SQL = """
SELECT
  event_id                                                        AS ride_id,
  event_type IN ('click', 'view', 'signup')                       AS is_start,
  ts                                                              AS rowtime,
  CAST(-74.06 AS DOUBLE) + (user_id % 12) * CAST(0.03 AS DOUBLE)   AS start_lon,
  CAST(40.49 AS DOUBLE) + (event_id % 16) * CAST(0.03 AS DOUBLE)   AS start_lat,
  CAST(-74.06 AS DOUBLE) + (event_id % 12) * CAST(0.03 AS DOUBLE)  AS end_lon,
  CAST(40.49 AS DOUBLE) + (user_id % 16) * CAST(0.03 AS DOUBLE)    AS end_lat,
  CAST(event_id % 4 + 1 AS INT)                                   AS passenger_cnt
FROM events
"""
