"""``TableEnvironment`` — the reference's user-facing API surface,
re-expressed over Spark.

A user of fhueske/table-demo works through four calls
(TaxiRideQueries.scala:33-127): build the environment with event time
enabled, ``tEnv.scan("rides")`` for the fluent dialect,
``tEnv.sql(query)`` for the SQL dialect (both over ONE catalog of
tables + registered UDFs), and ``table.writeToSink(sink)`` where the
planner infers append-vs-upsert and the upsert key from the GROUP BY
(ElasticUpsertTableSink.scala:51-55,86). This facade gives the same
four calls over a SparkSession:

    tenv = TableEnvironment(spark, sf_dir)
    rides = tenv.scan("rides")                    # entry point A
    counts = tenv.sql("SELECT ... FROM rides")    # entry point B
    sink, query = tenv.write_to_sink(stream_df)   # K1: inferred keys
    stream = tenv.scan_stream("rides", speed=600) # entry point C

It composes pieces that are each independently oracle-gated
(register_tables, rides_view, the UDF registries, plans/modes
inference, the upsert sinks, the replay source) — the facade adds no
logic of its own beyond wiring, so its tests assert wiring: dialect
equivalence through one catalog, and key/mode inference reaching the
sink.
"""

from __future__ import annotations

from table_demo_spark.scratch import scratch_dir

from pyspark.sql import DataFrame, SparkSession

from table_demo_spark.plans.modes import ContinuousPlan, infer_plan
from table_demo_spark.streaming import start_stream


class TableEnvironment:
    def __init__(self, spark: SparkSession, sf_dir: str):
        from table_demo_spark.functions.taxi import register_sql_functions
        from table_demo_spark.functions.text import register_text_sql_functions
        from table_demo_spark.sources.batch import register_tables, rides_view

        self.spark = spark
        self.sf_dir = sf_dir
        self._tables = register_tables(spark, sf_dir)
        rides = rides_view(spark, sf_dir)
        rides.createOrReplaceTempView("rides")
        self._tables["rides"] = rides
        register_sql_functions(spark)
        register_text_sql_functions(spark)

    # -- entry point A: fluent dialect ---------------------------------
    def scan(self, name: str) -> DataFrame:
        """``tEnv.scan(name)`` — a registered table as a DataFrame."""
        return self._tables[name]

    # -- entry point B: SQL dialect (same catalog) ---------------------
    def sql(self, query: str) -> DataFrame:
        """``tEnv.sql(query)`` — tables and UDFs resolve from the same
        catalog the fluent dialect uses."""
        return self.spark.sql(query)

    # -- entry point C: stream ingestion -------------------------------
    def scan_stream(
        self, name: str, speed: float = 600.0, max_delay_ms: int = 60_000
    ) -> DataFrame:
        """The replay-source path (TaxiRideSource semantics: rate
        scaling + seeded Gaussian disorder + watermark). Only the
        rides/events stream tables exist, like the reference."""
        from table_demo_spark.streaming.queries import (
            stream_events_typed,
            stream_rides,
        )

        if name == "rides":
            return stream_rides(self.spark, self.sf_dir, speed, max_delay_ms)
        if name == "events":
            return stream_events_typed(
                self.spark, self.sf_dir, speed, max_delay_ms=max_delay_ms
            )
        raise KeyError(f"no stream table {name!r}")

    # -- sink binding with mode/key inference (K1) ---------------------
    def infer(self, df: DataFrame) -> ContinuousPlan:
        return infer_plan(df)

    def write_to_sink(self, df: DataFrame, sink=None, checkpoint: str | None = None):
        """``table.writeToSink(sink)``: derive output mode and upsert
        keys from the plan (the reference planner's job) and bind.

        Batch DataFrame: the result is applied to the sink as one
        final batch (what the reference's batch path would upsert).
        Streaming DataFrame: starts the continuous query. Returns
        (sink, query) — query is None for batch."""
        from table_demo_spark.streaming.upsert import MemoryUpsertSink

        plan = infer_plan(df)
        if sink is None:
            missing = [k for k in plan.upsert_keys if k not in df.columns]
            if missing:
                # infer_plan traces keys through projections like the
                # reference planner (Q1's window.end -> dept_time rename
                # binds without help), so reaching here means a grouping
                # column was genuinely destroyed (e.g. folded into an
                # arbitrary expression) — refuse to guess.
                raise ValueError(
                    f"inferred upsert keys {plan.upsert_keys} not all in "
                    f"output columns {tuple(df.columns)} (missing "
                    f"{missing}); keep the grouping columns in the "
                    "output or pass an explicit sink"
                )
            sink = MemoryUpsertSink(plan.upsert_keys)
        if not df.isStreaming:
            sink.foreach_batch()(df, 0)
            return sink, None
        ckpt = checkpoint or scratch_dir("tds-tenv-ckpt-")
        query = start_stream(
            df.writeStream.outputMode(plan.output_mode)
            .option("checkpointLocation", ckpt)
            .foreachBatch(sink.foreach_batch())
        )
        return sink, query
