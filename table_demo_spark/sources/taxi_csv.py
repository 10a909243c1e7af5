"""The reference's CSV record format (S2) as native expressions.

Reference: ``TaxiRide.java`` —
- ``toString`` (:71-89): ``rideId,START|END,ts,ts,startLon,startLat,
  endLon,endLat,passengerCnt`` where the event type decides which
  timestamp is serialized first (START: start,end; END: end,start),
  timestamps formatted ``yyyy-MM-dd HH:mm:ss`` in UTC (:41-42).
- ``fromString`` (:91-129): strict 9-field arity (:94-96), event-type
  switch with the swapped timestamp parse (:102-115), empty coordinate
  tokens default to ``0.0f`` (:118-121), RuntimeException on malformed
  records.

Both directions are pure Column expressions (codegen'd, 100 TB-safe).
Float/double -> string uses the engines' shortest-roundtrip repr, which
Spark and DuckDB agree on (verified for the fixture value domain), so
the serializer itself is oracle-checkable, and the parser via roundtrip.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

TIME_FMT = "yyyy-MM-dd HH:mm:ss"  # TaxiRide.java:41-42 (UTC)

DIRTY_MOD = 97  # dead-letter fixture: corrupt every 97th ride's lines


def shaped_rides(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rides with explicit start/end timestamps (±20 min around the
    event time, deterministic) — the full 9-field record TaxiRide.java
    serializes. Shared by the S2 roundtrip query and the gzip fixture."""
    from table_demo_spark.sources.batch import rides_view

    rides = rides_view(spark, sf_dir)
    return rides.select(
        "ride_id",
        "is_start",
        F.when(F.col("is_start"), F.col("rowtime"))
        .otherwise(F.expr("rowtime - INTERVAL 20 MINUTES"))
        .alias("start_time"),
        F.when(F.col("is_start"), F.expr("rowtime + INTERVAL 20 MINUTES"))
        .otherwise(F.col("rowtime"))
        .alias("end_time"),
        "start_lon",
        "start_lat",
        "end_lon",
        "end_lat",
        "passenger_cnt",
    )


def ensure_rides_csv_gz(
    spark: SparkSession, sf_dir: str, dirty: bool = False
) -> str:
    """Materialize the reference's input format — a directory of
    gzip-compressed CSV files of ``TaxiRide.toString`` lines
    (TaxiRideSource.java:109-110 wraps the data file in a
    GZIPInputStream) — from the parquet fixture, once, cached by
    fixture identity. Returns the directory path.

    ``dirty=True`` writes the dead-letter variant: every line whose
    ride_id % DIRTY_MOD == 0 is replaced by the unparseable
    ``CORRUPT,<ride_id>`` (wrong arity — fails TaxiRide.fromString's
    validation), deterministically, for exercising quarantine paths.

    Gzip streams are not splittable, so the scale shape is MANY .gz
    files (one task each), which the partitioned text write gives
    naturally; a single 100 TB .gz would serialize the whole scan."""
    from table_demo_spark.native_cache import cached_build, fixture_key

    def build(path: str) -> None:
        line = ride_to_csv_line(
            F.col("ride_id"),
            F.col("is_start"),
            F.col("start_time"),
            F.col("end_time"),
            F.col("start_lon"),
            F.col("start_lat"),
            F.col("end_lon"),
            F.col("end_lat"),
            F.col("passenger_cnt"),
        )
        if dirty:
            line = F.when(
                F.col("ride_id") % DIRTY_MOD == 0,
                F.concat(F.lit("CORRUPT,"), F.col("ride_id").cast("string")),
            ).otherwise(line)
        shaped_rides(spark, sf_dir).select(line.alias("value")).write.mode(
            "overwrite"
        ).option("compression", "gzip").text(path)

    _, key = fixture_key(sf_dir, "events", "rides-csv-gz", dirty)
    return cached_build("taxi-csv-gz", key, build)


def ride_to_csv_line(
    ride_id: Column,
    is_start: Column,
    start_time: Column,
    end_time: Column,
    start_lon: Column,
    start_lat: Column,
    end_lon: Column,
    end_lat: Column,
    passenger_cnt: Column,
) -> Column:
    """``TaxiRide.toString`` (TaxiRide.java:71-89)."""
    first = F.when(is_start, start_time).otherwise(end_time)
    second = F.when(is_start, end_time).otherwise(start_time)
    return F.concat_ws(
        ",",
        ride_id.cast("string"),
        F.when(is_start, "START").otherwise("END"),
        F.date_format(first, TIME_FMT),
        F.date_format(second, TIME_FMT),
        start_lon.cast("float").cast("string"),
        start_lat.cast("float").cast("string"),
        end_lon.cast("float").cast("string"),
        end_lat.cast("float").cast("string"),
        passenger_cnt.cast("string"),
    )


def _coord(tok: Column) -> Column:
    """Empty coordinate token -> 0.0f (TaxiRide.java:118-121)."""
    return F.when(F.length(tok) > 0, tok.cast("float")).otherwise(
        F.lit(0.0).cast("float")
    )


def is_valid_ride_line(line: Column) -> Column:
    """``TaxiRide.fromString``'s validity predicate (arity + event
    type, TaxiRide.java:94-101) as a routing expression — the
    PERMISSIVE complement of :func:`parse_taxi_csv`'s strict raise,
    for dead-letter-queue pipelines."""
    toks = F.split(line, ",", -1)
    return (F.size(toks) == 9) & F.element_at(toks, 2).isin("START", "END")


def parse_taxi_csv(
    lines: DataFrame, line_col: str = "line", keep_line: bool = False
) -> DataFrame:
    """``TaxiRide.fromString`` (TaxiRide.java:91-129) over a DataFrame of
    CSV lines: strict arity + event-type validation (malformed records
    raise, like the reference's RuntimeException), swapped timestamp
    columns by event type, empty-coordinate defaulting.
    """
    line = F.col(line_col)
    toks = F.split(line, ",", -1)
    invalid = F.raise_error(F.concat(F.lit("Invalid record: "), line))
    ok = (F.size(toks) == 9) & F.element_at(toks, 2).isin("START", "END")

    def guard(c: Column) -> Column:
        return F.when(ok, c).otherwise(invalid)

    t = [F.element_at(toks, i + 1) for i in range(9)]
    is_start = t[1] == "START"
    ts_first = F.to_timestamp(t[2], TIME_FMT)
    ts_second = F.to_timestamp(t[3], TIME_FMT)
    return lines.select(
        *([line.alias(line_col)] if keep_line else []),
        guard(t[0].cast("long")).alias("ride_id"),
        guard(is_start).alias("is_start"),
        guard(F.when(is_start, ts_first).otherwise(ts_second)).alias("start_time"),
        guard(F.when(is_start, ts_second).otherwise(ts_first)).alias("end_time"),
        guard(_coord(t[4])).alias("start_lon"),
        guard(_coord(t[5])).alias("start_lat"),
        guard(_coord(t[6])).alias("end_lon"),
        guard(_coord(t[7])).alias("end_lat"),
        guard(t[8].cast("short")).alias("passenger_cnt"),
    )
