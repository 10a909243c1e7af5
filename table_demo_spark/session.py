"""SparkSession bootstrap.

The reference bootstraps a ``StreamExecutionEnvironment`` +
``TableEnvironment`` with event time enabled (TaxiRideQueries.scala:33-37).
Our equivalent is a single tuned ``SparkSession``:

- AQE on (runtime partition coalescing + skew-join splitting) — this is
  what lets the same plan run at sf0.001 and at 100 TB without re-tuning
  ``spark.sql.shuffle.partitions`` by hand.
- UTC session timezone — the reference is epoch-ms end-to-end
  (TaxiFunctions.scala:87-90); pinning UTC makes timestamp<->epoch
  conversions deterministic and oracle-comparable.
- Arrow enabled for the (rare) Pandas-UDF paths.
- Local masters: ``file:`` is ``localfs``'s process-free local file
  system, so checkpoint and sink commits spawn no ``chmod``/``readlink``.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

from table_demo_spark import localfs

DEFAULT_SHUFFLE_PARTITIONS = 32


def _launches_jvm() -> bool:
    """Whether ``getOrCreate`` starts the driver JVM from here. Only then
    can the JVM's class path still take ``localfs``'s classes: naming
    them as ``file:`` in a running JVM (a stopped session's, or one
    ``spark-submit`` started) would fail every file access."""
    return SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ


def get_spark(
    app_name: str = "table-demo-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back to
    ``local[*]``). On a real cluster the caller simply passes no master
    and lets spark-submit decide — every other setting below is
    cluster-safe.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: coalesce small shuffle partitions, split skewed ones,
        # convert sort-merge to broadcast when runtime stats allow.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for pandas_udf / mapInPandas extension points.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The driver fixtures store TIMESTAMP(NANOS); Spark has no nanos
        # timestamp type — read as long and convert in the loader
        # (sources/batch.py normalizes to TimestampType).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Local runs: keep the UI off and the driver quiet.
        .config("spark.ui.enabled", "false")
        .config("spark.sql.crossJoin.enabled", "true")
    )
    if master.startswith("local"):
        # In local mode the executors live inside the driver JVM; the
        # 1g default heap cannot host 32 executor threads running the
        # full headline suite back-to-back. Only applies before JVM
        # start (getOrCreate reusing a live session ignores it) and
        # only to our own local entry points — the external driver's
        # vanilla session is untouched. Sized well inside the 128 GiB
        # host; -Xmx is a cap, not a reservation.
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"),
        )
    conf = dict(extra_conf or {})
    if master.startswith("local") and _launches_jvm():
        conf.update(localfs.session_conf(extra_conf))
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
