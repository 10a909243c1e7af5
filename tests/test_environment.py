"""TableEnvironment facade: the reference's four-call API surface
(scan / sql / scan_stream / write_to_sink) wired over one catalog.
The pieces are each oracle-gated elsewhere; these tests assert the
WIRING — dialect equivalence through the shared catalog, and
mode/key inference reaching the sink."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def tenv(spark):
    from table_demo_spark.environment import TableEnvironment

    return TableEnvironment(spark, SF_SMOKE)


def test_scan_and_sql_share_one_catalog(tenv):
    """Q1's fluent form over scan('rides') equals the SQL form over
    the same registered view + UDFs (dialect equivalence, the
    reference's departuresPerTenMinsTumble vs ...SQL pair)."""
    from table_demo_spark.functions.taxi import in_nyc, to_cell_id

    fluent = (
        tenv.scan("rides")
        .filter(F.col("is_start") & in_nyc("start_lon", "start_lat"))
        .groupBy(to_cell_id("start_lon", "start_lat").alias("cell"))
        .agg(F.count("*").alias("cnt"))
    )
    via_sql = tenv.sql(
        """
        SELECT toCellId(start_lon, start_lat) AS cell, count(*) AS cnt
        FROM rides
        WHERE is_start AND inNyc(start_lon, start_lat)
        GROUP BY toCellId(start_lon, start_lat)
        """
    )
    a = {(r.cell, r.cnt) for r in fluent.collect()}
    b = {(r.cell, r.cnt) for r in via_sql.collect()}
    assert a == b and a


def test_write_to_sink_infers_upsert_keys_batch(tenv):
    """The GROUP BY columns become the sink's upsert key (the
    reference planner's setKeyFields), and the batch path materializes
    the final state."""
    agg = (
        tenv.scan("orders")
        .groupBy("o_orderstatus")
        .agg(F.count("*").cast("long").alias("n"))
    )
    sink, query = tenv.write_to_sink(agg)
    assert query is None
    assert sink.key_cols == ("o_orderstatus",)
    got = {(r["o_orderstatus"], r["n"]) for r in sink.snapshot()}
    want = {(r.o_orderstatus, r.n) for r in agg.collect()}
    assert got == want


def test_write_to_sink_streaming_roundtrip(tenv, spark):
    """Entry point C end-to-end through the facade: scan_stream ->
    continuous per-cell count -> write_to_sink (update mode, inferred
    key = grouping column) drains to the batch answer."""
    from table_demo_spark.queries.streaming import _drain
    from table_demo_spark.streaming.queries import stream_departures

    out = (
        stream_departures(tenv.scan_stream("rides", speed=5e8))
        .groupBy("cell")
        .agg(F.count("*").cast("long").alias("dept_cnt"))
    )
    plan = tenv.infer(out)
    assert plan.output_mode == "update"
    assert plan.upsert_keys == ("cell",)
    sink, query = tenv.write_to_sink(out)
    _drain(query, lambda: len(sink.snapshot()), quiet_polls=1)
    from table_demo_spark.functions.taxi import in_nyc, to_cell_id

    want = {
        (r.cell, r.dept_cnt)
        for r in (
            tenv.scan("rides")
            .filter(F.col("is_start") & in_nyc("start_lon", "start_lat"))
            .groupBy(to_cell_id("start_lon", "start_lat").alias("cell"))
            .agg(F.count("*").cast("long").alias("dept_cnt"))
            .collect()
        )
    }
    got = {(r["cell"], r["dept_cnt"]) for r in sink.snapshot()}
    assert got == want


def test_write_to_sink_traces_q1_keys_through_projection(tenv, spark):
    """The reference planner derives the upsert key from the GROUP BY
    *through subsequent projections* (ElasticUpsertTableSink.scala:51-55
    via Flink's UpdatingPlanChecker: ``'w.end.cast(LONG) as 'deptTime``
    still keys on (cell, deptTime)).  A user porting Q1 verbatim must
    bind WITHOUT an explicit sink: the window key renames through the
    ``unix_millis(w.end) AS dept_time`` projection, and a watermarked
    single window agg is append-only (the sink's appendOnly fast path,
    :76-80)."""
    from table_demo_spark.queries.streaming import _drain
    from table_demo_spark.streaming.queries import q1_stream, stream_departures

    out = q1_stream(stream_departures(tenv.scan_stream("rides", speed=5e8)))
    plan = tenv.infer(out)
    assert plan.upsert_keys == ("cell", "dept_time")
    assert plan.is_append_only  # single watermarked window agg
    sink, query = tenv.write_to_sink(out)  # no explicit sink
    assert sink.key_cols == ("cell", "dept_time")
    _drain(query, lambda: len(sink.snapshot()), quiet_polls=1)
    # Append mode emits exactly the watermark-closed windows: every
    # emitted row must match the batch answer (subset, nonempty).
    want = {
        (r.cell, r.dept_time, r.dept_cnt)
        for r in q1_stream(
            stream_departures(tenv.scan("rides")).withWatermark("rowtime", "1 hour")
        ).collect()
    }
    got = {(r["cell"], r["dept_time"], r["dept_cnt"]) for r in sink.snapshot()}
    assert got and got <= want


def test_write_to_sink_rejects_destroyed_key(tenv):
    """Key tracing follows renames, not arbitrary expressions: folding
    the grouping column into an expression destroys the key and the
    facade must refuse to guess and name the fix (explicit sink or keep
    grouping columns)."""
    import pytest as _pytest

    agg = (
        tenv.scan("orders")
        .groupBy("o_orderstatus")
        .agg(F.count("*").cast("long").alias("n"))
        .select(F.concat(F.col("o_orderstatus"), F.col("n")).alias("mix"), "n")
    )
    with _pytest.raises(ValueError, match="explicit sink"):
        tenv.write_to_sink(agg)


def test_infer_plan_traces_cast_rename_and_window_alias(tenv):
    """Tracing unit shapes: Cast-wrapped identity renames follow the
    key; a second rename chains; an expression that merges two columns
    drops it (name survives for the diagnostic)."""
    dep = tenv.scan("orders")
    base = dep.groupBy("o_orderstatus").agg(F.count("*").cast("long").alias("n"))
    assert tenv.infer(
        base.select(F.col("o_orderstatus").cast("string").alias("status"), "n")
    ).upsert_keys == ("status",)
    assert tenv.infer(
        base.select(F.col("o_orderstatus").alias("s1"), "n").select(
            F.col("s1").alias("s2"), "n"
        )
    ).upsert_keys == ("s2",)
    assert tenv.infer(
        base.select(F.concat("o_orderstatus", "n").alias("mix"), "n")
    ).upsert_keys == ("o_orderstatus",)


def test_infer_plan_prefers_window_end_when_both_bounds_projected(tenv):
    """When a projection extracts BOTH window.start and window.end, the
    traced upsert key must be the END alias regardless of projection
    order — Flink's UpdatingPlanChecker forwards the window end
    (ElasticUpsertTableSink.scala:51-55), and for session windows the
    start does not uniquely identify the window instance (ADVICE r7)."""
    ev = tenv.scan("events")
    win = ev.groupBy(F.window("ts", "1 hour")).agg(
        F.count("*").cast("long").alias("n")
    )
    # .start aliased FIRST in the projectList — .end must still win
    proj = win.select(
        F.col("window.start").alias("w_start"),
        F.col("window.end").alias("w_end"),
        "n",
    )
    keys = tenv.infer(proj).upsert_keys
    assert "w_end" in keys and "w_start" not in keys, keys
    # and symmetric order gives the same answer
    proj2 = win.select(
        F.col("window.end").alias("w_end2"),
        F.col("window.start").alias("w_start2"),
        "n",
    )
    keys2 = tenv.infer(proj2).upsert_keys
    assert "w_end2" in keys2 and "w_start2" not in keys2, keys2


def test_infer_plan_projected_window_struct_beats_bound_alias(tenv):
    """ADVICE r8 (modes.py carried_bound): when the RAW window struct is
    projected alongside a bound extraction, the struct is the key in
    BOTH projection orders — it carries both bounds, a strictly
    stronger key than either one, so the 'end replaces start' rule must
    not fire against it."""
    ev = tenv.scan("events")
    win = ev.groupBy(F.window("ts", "1 hour")).agg(
        F.count("*").cast("long").alias("n")
    )
    # struct first, .end alias later: the struct must survive
    proj = win.select("window", F.col("window.end").alias("w_end"), "n")
    keys = tenv.infer(proj).upsert_keys
    assert "window" in keys and "w_end" not in keys, keys
    # .end alias first, struct later: same answer (order-independent)
    proj2 = win.select(F.col("window.end").alias("w_end"), "window", "n")
    keys2 = tenv.infer(proj2).upsert_keys
    assert "window" in keys2 and "w_end" not in keys2, keys2
