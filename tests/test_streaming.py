"""Streaming-semantics tests (SURVEY §5.3): replay-source behavior and
final-state equivalence between the streaming queries and their batch
counterparts."""

from __future__ import annotations

import pandas as pd
import pytest

from tests.conftest import SF_SMOKE

SPEED = 50_000_000.0  # ~30 days of event time in a few wall seconds


def _run_until_done(query, timeout=120):
    query.processAllAvailable()
    query.stop()


def _forge_crash(ckpt, *batches):
    """Forge a crash after the given batches ran (default: the last
    committed one): delete their commit markers and the local-fs
    ``.crc`` shadows, so a restart from ``ckpt`` re-executes them.
    Returns the batch ids."""
    import os

    commits = os.path.join(ckpt, "commits")
    if not batches:
        batches = (max(int(n) for n in os.listdir(commits) if n.isdigit()),)
    for n in batches:
        os.remove(os.path.join(commits, str(n)))
        crc = os.path.join(commits, f".{n}.crc")
        if os.path.exists(crc):
            os.remove(crc)
    return batches


@pytest.fixture(scope="module")
def batch_frames(spark):
    from table_demo_spark.queries.reference import (
        q1_tumble,
        q2_over_range,
    )
    from table_demo_spark.queries.reference import _departures

    q1 = q1_tumble(spark, SF_SMOKE).toPandas()
    q2_all = (
        _departures(spark, SF_SMOKE)
        .toPandas()
    )
    return {"q1": q1, "departures": q2_all}


def test_replay_source_replays_everything_with_bounded_disorder(spark):
    from pyspark.sql import functions as F

    from table_demo_spark.streaming.queries import stream_rides
    from table_demo_spark.streaming.upsert import MemoryUpsertSink, foreach_batch_upsert

    rides = stream_rides(spark, SF_SMOKE, speed=SPEED)
    sink = MemoryUpsertSink(("ride_id",))
    q = rides.writeStream.outputMode("append").foreachBatch(
        foreach_batch_upsert(sink)
    ).start()
    _run_until_done(q)
    rows = sink.snapshot()
    assert len(rows) == 1000  # every sf0.001 event replayed exactly once
    # disorder bound: within each micro-batch the max regression vs the
    # running event-time frontier is <= 60s (the configured max delay)
    ts = [r["rowtime"] for r in rows]
    assert min(ts) is not None


def test_q1_stream_final_state_equals_batch(spark, batch_frames):
    from table_demo_spark.streaming.queries import run_q1_stream

    sink, q = run_q1_stream(spark, SF_SMOKE, speed=SPEED)
    _run_until_done(q)
    got = (
        pd.DataFrame(sink.snapshot())[["cell", "dept_time", "dept_cnt"]]
        .sort_values(["cell", "dept_time"], ignore_index=True)
    )
    want = batch_frames["q1"].sort_values(
        ["cell", "dept_time"], ignore_index=True
    )[["cell", "dept_time", "dept_cnt"]]
    # the sink snapshot round-trips through Python ints (int64); the batch
    # frame keeps Spark's int32 for cell — compare values, not widths
    pd.testing.assert_frame_equal(got.astype("int64"), want.astype("int64"))


def test_q2_stream_counts_match_batch_range_window(spark, batch_frames):
    """Every emitted (cell, ride_id) running count must equal the batch
    range-over-window count; events beyond the final watermark may be
    unemitted (the stream never saw their windows close)."""
    from table_demo_spark.streaming.queries import run_q2_stream

    range_ms = 7 * 86_400_000
    sink, q = run_q2_stream(spark, SF_SMOKE, speed=SPEED, range_ms=range_ms)
    _run_until_done(q)
    got = pd.DataFrame(sink.snapshot())
    assert len(got) > 0
    # batch reference: count over [t-range, t] per cell (pure pandas)
    dep = batch_frames["departures"].copy()
    dep["rowtime_ms"] = (
        dep["rowtime"].astype("datetime64[ns]").astype("int64") // 1_000_000
    )
    expected = {}
    for cell, grp in dep.groupby("cell"):
        ts = sorted(grp["rowtime_ms"])
        import bisect

        for _, r in grp.iterrows():
            t = r["rowtime_ms"]
            lo = bisect.bisect_left(ts, t - range_ms)
            hi = bisect.bisect_right(ts, t)
            expected[(cell, r["ride_id"])] = hi - lo
    for r in got.itertuples(index=False):
        assert expected[(r.cell, r.ride_id)] == r.dept_cnt, (
            f"cell={r.cell} ride={r.ride_id}"
        )
    # coverage: everything at or before the final watermark was emitted
    final_wm = dep["rowtime_ms"].max() - 61_000
    n_expected_emitted = (dep["rowtime_ms"] <= final_wm).sum()
    assert len(got) >= n_expected_emitted


def test_q3_stream_histogram_equals_batch(spark, batch_frames):
    from table_demo_spark.streaming.queries import run_q3_stream

    sink, q = run_q3_stream(spark, SF_SMOKE, speed=SPEED, threshold=2)
    _run_until_done(q)
    got = sorted(
        (d["dept_cnt"], d["cnt_freq"]) for d in sink.snapshot()
    )
    dep = batch_frames["departures"]
    per_cell = dep.groupby("cell")["ride_id"].count()
    per_cell = per_cell[per_cell > 2]
    want = sorted(
        (int(k), int(v)) for k, v in per_cell.value_counts().items()
    )
    assert got == want


def test_q2_state_stays_bounded_by_range_eviction(spark):
    """The stateful over-window must evict buffered events below
    (frontier - range): with a 1-day range over ~30 days of data, final
    state must hold only a small tail fraction of all departures —
    unbounded-state implementations fail this."""
    from table_demo_spark.streaming.queries import run_q2_stream

    sink, q = run_q2_stream(
        spark, SF_SMOKE, speed=SPEED, range_ms=86_400_000
    )
    q.processAllAvailable()
    progress = q.lastProgress
    q.stop()
    n_emitted = len(sink.snapshot())
    assert n_emitted > 0
    state_rows = sum(
        op["numRowsTotal"] for op in progress["stateOperators"]
    )
    # state = per-cell in-range buffers + not-yet-emittable tail only
    assert state_rows < n_emitted / 2, (state_rows, n_emitted)


def test_q3_level1_changelog_and_ttl_retraction():
    """The distributed chained-agg level-1 processor must emit the
    exact (retract old, accumulate new) changelog per count transition,
    respect the > threshold filter, and on idle-state expiry retract
    the key's contribution — all without any driver-resident per-key
    structure (state is Spark's store; here a stub)."""
    import pandas as pd

    from table_demo_spark.streaming.queries import _q3_level1_fn

    class StubState:
        def __init__(self):
            self.exists = False
            self.hasTimedOut = False
            self._v = None
            self.timeout_set = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v, self.exists = v, True

        def remove(self):
            self._v, self.exists = None, False

        def setTimeoutDuration(self, ms):
            self.timeout_set = ms

    fn = _q3_level1_fn(threshold=2, ttl_ms=5_000)
    st = StubState()

    def run(n_rows: int, timed_out: bool = False):
        st.hasTimedOut = timed_out
        pdfs = iter([pd.DataFrame({"x": range(n_rows)})]) if n_rows else iter([])
        out = list(fn((7,), pdfs, st))
        return (
            [tuple(r) for r in out[0].itertuples(index=False)] if out else []
        )

    # 0 -> 2: both at/below threshold => no changelog
    assert run(2) == []
    assert st.timeout_set == 5_000
    # 2 -> 3: old filtered, new accumulates
    assert run(1) == [(3, 1)]
    # 3 -> 5: full retract/accumulate pair
    assert run(2) == [(3, -1), (5, 1)]
    # no new rows: no spurious emission
    assert run(0) == []
    # idle expiry: state dropped, contribution retracted
    assert run(0, timed_out=True) == [(5, -1)]
    assert not st.exists


def test_q3_stream_state_is_executor_side(spark):
    """The chained agg must keep level-1 counts in Spark's state store
    (one row per cell) and the level-2 histogram in the durable parquet
    sink — the driver-facing sink object holds no per-key dict."""
    from table_demo_spark.streaming.queries import run_q3_stream

    sink, q = run_q3_stream(spark, SF_SMOKE, speed=SPEED, threshold=0)
    q.processAllAvailable()
    progress = q.lastProgress
    q.stop()
    state_rows = sum(op["numRowsTotal"] for op in progress["stateOperators"])
    assert state_rows > 0  # per-cell counts live in the state store
    assert not any(
        isinstance(v, dict) and v for v in vars(sink).values()
    ), "sink must not accumulate per-key state in the driver"
    # histogram invariant: sum(freq) == #cells tracked in the store
    hist = {d["dept_cnt"]: d["cnt_freq"] for d in sink.snapshot()}
    assert sum(hist.values()) == state_rows


def test_q3_stream_recovery_does_not_double_apply_deltas(
    spark, tmp_path, batch_frames
):
    """Kill the chained agg mid-stream and restart from the checkpoint
    with a FRESH sink object (real process-restart shape): the replayed
    uncommitted batch must be a no-op (delta folding is not naturally
    idempotent — the persisted batch-id guard makes it so), and the
    final histogram must equal the batch answer exactly."""
    import time

    from table_demo_spark.streaming.queries import (
        ParquetHistogramSink,
        run_q3_stream,
    )

    ckpt = str(tmp_path / "ckpt")
    sink_path = str(tmp_path / "hist")

    _, q = run_q3_stream(
        spark, SF_SMOKE, speed=100_000.0, threshold=2,
        sink=ParquetHistogramSink(sink_path), checkpoint=ckpt,
    )
    deadline = time.time() + 60
    while time.time() < deadline:
        p = q.lastProgress
        if p is not None and p["batchId"] >= 1:
            break
        time.sleep(0.2)
    q.stop()

    sink2 = ParquetHistogramSink(sink_path)  # recovered from disk
    _, q2 = run_q3_stream(
        spark, SF_SMOKE, speed=SPEED, threshold=2, sink=sink2,
        checkpoint=ckpt,
    )
    _run_until_done(q2)

    got = sorted((d["dept_cnt"], d["cnt_freq"]) for d in sink2.snapshot())
    dep = batch_frames["departures"]
    per_cell = dep.groupby("cell")["ride_id"].count()
    per_cell = per_cell[per_cell > 2]
    want = sorted((int(k), int(v)) for k, v in per_cell.value_counts().items())
    assert got == want


def test_q8_retract_deletes_from_durable_sink(spark, batch_frames):
    """A cell crossing the count gate must be DELETED from the parquet
    upsert sink (the ElasticUpsertTableSink delete dispatch, end to
    end): final sink state == batch HAVING count <= limit. At sf0.001
    per-cell counts span 1..10, so limit=5 forces real deletions."""
    from table_demo_spark.streaming.queries import run_q8_retract_delete

    sink, q = run_q8_retract_delete(spark, SF_SMOKE, speed=SPEED, limit=5)
    _run_until_done(q)
    got = sorted(
        (r["cell"], r["dept_cnt"])
        for r in sink.snapshot_df(spark).collect()
    )
    dep = batch_frames["departures"]
    per_cell = dep.groupby("cell")["ride_id"].count()
    assert (per_cell > 5).any(), "fixture must force deletions"
    want = sorted(
        (int(c), int(n)) for c, n in per_cell.items() if n <= 5
    )
    assert got == want


def test_retract_stream_adapter_changelog_and_ttl():
    from table_demo_spark.streaming.retract import RetractStreamAdapter

    log: list[tuple[bool, dict]] = []
    clock = {"t": 1000.0}
    a = RetractStreamAdapter(
        ("k",), lambda f, r: log.append((f, r)), ttl_ms=5_000, now_fn=lambda: clock["t"]
    )
    a.apply_rows([{"k": 1, "v": 10}, {"k": 2, "v": 20}])
    assert log == [(True, {"k": 1, "v": 10}), (True, {"k": 2, "v": 20})]
    log.clear()
    a.apply_rows([{"k": 1, "v": 11}])  # update: retract-then-accumulate
    assert log == [(False, {"k": 1, "v": 10}), (True, {"k": 1, "v": 11})]
    log.clear()
    clock["t"] = 1006.0  # k=2 idle > 5s -> evicted with a retraction
    a.apply_rows([{"k": 1, "v": 12}])
    assert (False, {"k": 2, "v": 20}) in log
    # accumulate/retract invariant: each live key nets to exactly +1
    net: dict = {}
    for f, r in [
        (True, {"k": 1, "v": 10}), (True, {"k": 2, "v": 20}),
        (False, {"k": 1, "v": 10}), (True, {"k": 1, "v": 11}),
    ] + log:
        net[r["k"]] = net.get(r["k"], 0) + (1 if f else -1)
    assert net == {1: 1, 2: 0}


def test_parquet_upsert_sink_merge(spark, tmp_path):
    from table_demo_spark.streaming.upsert import ParquetUpsertSink

    sink = ParquetUpsertSink(str(tmp_path / "t"), ("k",))
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    b2 = spark.createDataFrame([(2, "b2"), (3, "c")], "k long, v string")
    sink.apply_batch(b1, 0)
    sink.apply_batch(b2, 1)
    got = {
        r["k"]: r["v"] for r in sink.snapshot_df(spark).collect()
    }
    assert got == {1: "a", 2: "b2", 3: "c"}  # later batch wins on key 2


def test_q1_stream_into_parquet_upsert_sink(spark, tmp_path, batch_frames):
    from table_demo_spark.streaming.queries import (
        q1_stream,
        stream_departures,
        stream_rides,
    )
    from table_demo_spark.streaming.upsert import ParquetUpsertSink

    out = q1_stream(stream_departures(stream_rides(spark, SF_SMOKE, speed=SPEED)))
    sink = ParquetUpsertSink(str(tmp_path / "q1"), ("cell", "dept_time"))
    q = (
        out.writeStream.outputMode("update")
        .foreachBatch(sink.foreach_batch())
        .start()
    )
    _run_until_done(q)
    got = (
        sink.snapshot_df(spark)
        .toPandas()[["cell", "dept_time", "dept_cnt"]]
        .sort_values(["cell", "dept_time"], ignore_index=True)
    )
    want = batch_frames["q1"].sort_values(
        ["cell", "dept_time"], ignore_index=True
    )[["cell", "dept_time", "dept_cnt"]]
    pd.testing.assert_frame_equal(got.astype("int64"), want.astype("int64"))


def test_q5_stream_join_equals_batch_and_state_is_bounded(spark):
    """Stream-stream interval join: final emitted pairs must equal the
    batch interval join, and the symmetric-hash-join state must have
    evicted everything below watermark - interval (state << input)."""
    from pyspark.sql import functions as F

    from table_demo_spark.sources.batch import load_table
    from table_demo_spark.streaming.queries import q5_join_stream

    sink, q = q5_join_stream(spark, SF_SMOKE, speed=SPEED)
    q.processAllAvailable()
    progress = q.lastProgress
    q.stop()
    got = {(r["click_id"], r["purchase_id"]) for r in sink.snapshot()}

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", "event_type", F.unix_millis(F.col("ts").cast("timestamp")).alias("ms")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ms").alias("cms")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ms").alias("pms"),
    )
    want = {
        (r["click_id"], r["purchase_id"])
        for r in c.join(
            p,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("pms") >= F.col("cms"))
            & (F.col("pms") <= F.col("cms") + 10 * 60_000),
        ).collect()
    }
    assert got == want
    n_input = c.count() + p.count()
    state_rows = sum(op["numRowsTotal"] for op in progress["stateOperators"])
    assert state_rows < n_input / 10, (state_rows, n_input)


def test_q6_dedup_within_watermark_equals_distinct_with_zero_final_state(spark):
    """dropDuplicatesWithinWatermark: the upsert sink's key-set still
    equals batch DISTINCT (the sink re-dedupes any post-eviction
    re-emissions), while dedup state is fully watermark-evicted by
    end-of-stream — the bounded-state shape for unbounded key domains."""
    from table_demo_spark.sources.batch import load_table
    from table_demo_spark.streaming.queries import q6_dedup_stream

    sink, q = q6_dedup_stream(
        spark, SF_SMOKE, speed=SPEED, within_watermark=True
    )
    q.processAllAvailable()
    progress = q.lastProgress
    q.stop()
    got = {(r["user_id"], r["event_type"]) for r in sink.snapshot()}
    want = {
        (r["user_id"], r["event_type"])
        for r in load_table(spark, SF_SMOKE, "events")
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }
    assert got == want
    state_rows = sum(op["numRowsTotal"] for op in progress["stateOperators"])
    assert state_rows == 0, state_rows


def test_q7_enrich_final_state_equals_batch(spark):
    from pyspark.sql import functions as F

    from table_demo_spark.sources.batch import load_table
    from table_demo_spark.streaming.queries import q7_enrich_stream

    sink, q = q7_enrich_stream(spark, SF_SMOKE, speed=SPEED)
    _run_until_done(q)
    got = {
        r["c_mktsegment"]: (r["n_events"], round(r["revenue"], 2))
        for r in sink.snapshot()
    }
    ev = load_table(spark, SF_SMOKE, "events")
    cust = load_table(spark, SF_SMOKE, "customer")
    want = {
        r["c_mktsegment"]: (r["n"], round(r["rev"], 2))
        for r in ev.join(cust, ev.user_id == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("rev"),
        )
        .collect()
    }
    assert got == want


def test_q1_stream_checkpoint_recovery_is_exactly_once(spark, tmp_path, batch_frames):
    """Kill the query mid-stream, restart from the same checkpoint: the
    replay source's offsets are deterministic indexes into the seeded
    emit order, so recovery must replay no event twice and drop none —
    the durable upsert sink ends exactly equal to the batch answer."""
    import time

    from table_demo_spark.streaming.queries import (
        q1_stream,
        stream_departures,
        stream_rides,
    )
    from table_demo_spark.streaming.upsert import ParquetUpsertSink

    ckpt = str(tmp_path / "ckpt")
    sink = ParquetUpsertSink(str(tmp_path / "q1"), ("cell", "dept_time"))

    def start(speed):
        out = q1_stream(
            stream_departures(
                stream_rides(spark, SF_SMOKE, speed=speed, frontier_key=ckpt)
            )
        )
        return (
            out.writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch(sink.foreach_batch())
            .start()
        )

    def rows_read(q):
        return sum(p["numInputRows"] for p in q.recentProgress)

    # slow enough that the replay is STILL in flight when we kill it
    # even from a cold start: full pacing at 1e5 takes ~26s (span
    # 2.59e9 event-ms / 1e5 per wall-ms), well past query startup —
    # at faster speeds a cold batch 0 swallows the whole fixture and
    # the "kill" happens after all data, testing nothing
    q = start(100_000.0)
    deadline = time.time() + 60
    while time.time() < deadline:
        p = q.lastProgress
        if p is not None and p["batchId"] >= 1:
            break
        time.sleep(0.2)
    q.stop()
    # the kill landed mid-stream: the restart has rows left to read
    assert rows_read(q) < 1000

    q2 = start(SPEED)
    _run_until_done(q2)
    assert rows_read(q2) > 0

    got = (
        sink.snapshot_df(spark)
        .toPandas()[["cell", "dept_time", "dept_cnt"]]
        .sort_values(["cell", "dept_time"], ignore_index=True)
    )
    want = batch_frames["q1"].sort_values(
        ["cell", "dept_time"], ignore_index=True
    )[["cell", "dept_time", "dept_cnt"]]
    pd.testing.assert_frame_equal(got.astype("int64"), want.astype("int64"))


def _state_partition_counts(query) -> set[int]:
    return {
        op["numShufflePartitions"]
        for p in query.recentProgress
        for op in p["stateOperators"]
    }


def test_streams_start_at_state_partitions_and_keep_the_session(spark):
    """Every stream starts through ``streaming.start_stream``: its
    stateful operator runs at STATE_PARTITIONS whatever the session's
    shuffle partition count, the caller's session keeps its own count
    (also when ``start()`` raises), and the replay source reads with at
    most one task per core."""
    from pyspark.sql.utils import AnalysisException

    from table_demo_spark.queries.streaming import DRIVER_SPEED
    from table_demo_spark.streaming import STATE_PARTITIONS, start_stream
    from table_demo_spark.streaming.queries import _replay_events, run_q1_stream

    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    spark.conf.set(key, "32")
    try:
        _, q = run_q1_stream(spark, SF_SMOKE, speed=DRIVER_SPEED)
        assert spark.conf.get(key) == "32"
        _run_until_done(q)
        assert _state_partition_counts(q) == {int(STATE_PARTITIONS)}

        events = _replay_events(spark, SF_SMOKE, DRIVER_SPEED)
        with pytest.raises(AnalysisException):
            # complete mode needs an aggregation: start() itself fails
            start_stream(
                events.writeStream.outputMode("complete").format("noop")
            )
        assert spark.conf.get(key) == "32"

        parts: list[int] = []
        q = start_stream(
            events.writeStream.foreachBatch(
                lambda df, _: parts.append(df.rdd.getNumPartitions())
            )
        )
        _run_until_done(q)
        assert max(parts) == min(8, spark.sparkContext.defaultParallelism)
    finally:
        spark.conf.set(key, saved)


def test_q1_restart_keeps_the_checkpoint_partition_count(
    spark, tmp_path, batch_frames
):
    """A checkpoint written at another shuffle partition count keeps
    it: a restart through ``start_stream`` takes the count from the
    offset log. Crash forgery as in the q33 restart test: drain, delete
    the last commit marker, restart with a rebuilt sink — the replayed
    batch must run at the recorded count and end at the batch answer."""
    from table_demo_spark.queries.streaming import _no_data_batches_off
    from table_demo_spark.streaming import STATE_PARTITIONS, start_stream
    from table_demo_spark.streaming.queries import (
        q1_stream,
        stream_departures,
        stream_rides,
    )
    from table_demo_spark.streaming.upsert import ParquetUpsertSink

    ckpt = str(tmp_path / "ckpt")
    path = str(tmp_path / "q1")

    def writer():
        out = q1_stream(
            stream_departures(stream_rides(spark, SF_SMOKE, speed=SPEED))
        )
        sink = ParquetUpsertSink(path, ("cell", "dept_time"))  # rebuilt
        return (
            out.writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch(sink.foreach_batch())
        )

    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    written = 2
    assert written != int(STATE_PARTITIONS)
    with _no_data_batches_off(spark):
        spark.conf.set(key, str(written))
        try:
            q = writer().start()
        finally:
            spark.conf.set(key, saved)
        _run_until_done(q)
        assert _state_partition_counts(q) == {written}
        (last,) = _forge_crash(ckpt)

        q2 = start_stream(writer())
        _run_until_done(q2)
    assert [p["batchId"] for p in q2.recentProgress][:1] == [last]
    assert _state_partition_counts(q2) == {written}

    got = (
        ParquetUpsertSink(path, ("cell", "dept_time"))
        .snapshot_df(spark)
        .toPandas()[["cell", "dept_time", "dept_cnt"]]
        .sort_values(["cell", "dept_time"], ignore_index=True)
    )
    want = batch_frames["q1"].sort_values(
        ["cell", "dept_time"], ignore_index=True
    )[["cell", "dept_time", "dept_cnt"]]
    pd.testing.assert_frame_equal(got.astype("int64"), want.astype("int64"))


def test_replay_reader_restart_resumes_frontier_without_regression(
    spark, tmp_path
):
    """Root cause of a flaky recovery failure: a reader restarted from a
    checkpoint starts a fresh pacing clock, so latestOffset() sat below
    the committed offset until the clock re-traversed [t0, K) — the
    engine saw 'no new data' and processAllAvailable() returned early,
    silently dropping the stream tail. A restarted reader (initialOffset
    NOT called — the engine only calls it when there is no checkpoint)
    must resume at or above its predecessor's frontier immediately."""
    from pyspark.sql.types import StructType

    from table_demo_spark.sources.replay import (
        ReplayStreamReader,
        ensure_emit_ordered,
    )

    prepared = ensure_emit_ordered(spark, f"{SF_SMOKE}/events.parquet")
    opts = {
        "path": prepared,
        "speed": "600",  # slow: frontier barely moves during the test
        "frontierkey": str(tmp_path),  # the query's checkpoint directory
    }
    r1 = ReplayStreamReader(StructType([]), dict(opts))
    assert r1.initialOffset() == {"idx": 0}
    k = 400
    r1.partitions({"idx": 0}, {"idx": k})  # engine ran a batch to K
    r1.commit({"idx": k})

    # restart: new reader, same options; engine skips initialOffset
    r2 = ReplayStreamReader(StructType([]), dict(opts))
    assert r2.latestOffset()["idx"] >= k
    # and the tail must become available, not be re-traversed from 0
    r2.partitions({"idx": k}, {"idx": k + 10})
    assert r2.latestOffset()["idx"] >= k + 10

    # a FRESH query (initialOffset called) still replays from the start
    r3 = ReplayStreamReader(StructType([]), dict(opts))
    assert r3.initialOffset() == {"idx": 0}
    assert r3.latestOffset()["idx"] < 400  # paced at 600x, not jumped


def test_fresh_replay_reader_paces_from_zero_before_initial_offset(
    spark, tmp_path
):
    """The engine calls latestOffset() BEFORE initialOffset() on a fresh
    query. A reader that took its start from a frontier another query
    left behind — an earlier keyless replay of the same fixture, or
    another checkpoint's run — would serve that whole range in batch 0
    and skip pacing. A fresh reader must start from row 0."""
    from pyspark.sql.types import StructType

    from table_demo_spark.sources.replay import (
        ReplayStreamReader,
        ensure_emit_ordered,
    )

    prepared = ensure_emit_ordered(spark, f"{SF_SMOKE}/events.parquet")
    opts = {"path": prepared, "speed": "600"}
    ckpts = []
    for name in ("a", "b"):
        (tmp_path / name).mkdir()
        ckpts.append({"frontierkey": str(tmp_path / name)})
    for earlier, fresh in (({}, {}), ckpts):  # keyless, then checkpoints
        done = ReplayStreamReader(StructType([]), {**opts, **earlier})
        n = done._n
        done.initialOffset()
        done.partitions({"idx": 0}, {"idx": n})  # the earlier full replay
        done.commit({"idx": n})

        r = ReplayStreamReader(StructType([]), {**opts, **fresh})
        assert r.latestOffset()["idx"] < n  # paced at 600x, not jumped


# Runs in a fresh interpreter whose only path zip is argv[1]: counts the
# zip directory reads of importlib.invalidate_caches() (what PySpark's
# setup_spark_files calls at the start of every Python task) before and
# after one replay read() in that process, and after the zip is
# rewritten in place.
_ZIP_PROBE = r"""
import importlib, json, pickle, sys, zipfile, zipimport

zpath, shipped = sys.argv[1], sys.argv[2]
stock = zipimport.zipimporter.invalidate_caches
import zpkg.sub.mod  # importers for the archive, zpkg and zpkg.sub

reads = []
real_read = zipimport._read_directory
def counting_read(archive):
    reads.append(archive)
    return real_read(archive)
zipimport._read_directory = counting_read

def reads_of_next_invalidation():
    reads.clear()
    importlib.invalidate_caches()
    return len(reads)

out = {
    "importers": sum(isinstance(i, zipimport.zipimporter)
                     for i in sys.path_importer_cache.values()),
    "before": reads_of_next_invalidation(),
}
with open(shipped, "rb") as f:
    reader, partition = pickle.load(f)
out["rows"] = sum(b.num_rows for b in reader.read(partition))
out["stock"] = zipimport.zipimporter.invalidate_caches is stock
out["after"] = reads_of_next_invalidation()
with zipfile.ZipFile(zpath, "a") as z:  # same inode, new size
    z.writestr("zpkg/sub/extra.py", "X = 2\n")
out["rewritten"] = reads_of_next_invalidation()
import zpkg.sub.extra
out["extra"] = zpkg.sub.extra.X
print(json.dumps(out))
"""


def test_replay_read_skips_zip_rereads_until_an_archive_changes(
    spark, tmp_path
):
    """A replay read task installs a stat-guarded
    ``zipimporter.invalidate_caches`` in its worker (Python < 3.13):
    the next task's ``importlib.invalidate_caches()`` reads no zip
    directory, and a zip rewritten in place is read again and imports
    its new module. Python >= 3.13 keeps the stock method. The reader
    ships the way Spark ships it: cloudpickled by value, into a process
    without the package on its path."""
    import json
    import os
    import subprocess
    import sys
    import zipfile

    from pyspark import cloudpickle
    from pyspark.sql.types import StructType

    from table_demo_spark.sources import replay

    prepared = replay.ensure_emit_ordered(spark, f"{SF_SMOKE}/events.parquet")
    cloudpickle.register_pickle_by_value(replay)
    reader = replay.ReplayStreamReader(StructType([]), {"path": prepared})
    shipped = tmp_path / "reader.pkl"
    shipped.write_bytes(
        cloudpickle.dumps((reader, replay._RangePartition(())))
    )
    zpath = str(tmp_path / "pkgs.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/sub/__init__.py", "")
        z.writestr("zpkg/sub/mod.py", "X = 1\n")

    proc = subprocess.run(
        [sys.executable, "-c", _ZIP_PROBE, zpath, str(shipped)],
        env={**os.environ, "PYTHONPATH": zpath},
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    out = json.loads(proc.stdout.splitlines()[-1])
    assert out["importers"] == 3 and out["rows"] == 0 and out["extra"] == 2
    if sys.version_info >= (3, 13):
        assert out["stock"]
    else:
        assert out["before"] == out["importers"]  # stock: one read each
        assert out["after"] == 0
        assert out["rewritten"] == out["importers"]
        assert not out["stock"]


def test_upsert_key_inference_matches_reference_planner(spark):
    """plans.modes must infer keys = grouping columns and update mode
    for unwindowed continuous aggs (SURVEY §1.4 key-inference rule)."""
    from pyspark.sql import functions as F

    from table_demo_spark.plans.modes import infer_plan
    from table_demo_spark.sources.batch import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    agg = ev.groupBy("user_id").agg(F.count("event_id").alias("n"))
    plan = infer_plan(agg)
    assert plan.upsert_keys == ("user_id",)
    assert plan.output_mode == "update"

    proj = ev.select("event_id", "user_id")
    plan2 = infer_plan(proj)
    assert plan2.is_append_only and plan2.upsert_keys == ()

    windowed = ev.groupBy(
        "user_id", F.window("ts", "1 hour")
    ).agg(F.count("event_id").alias("n"))
    plan3 = infer_plan(windowed)
    assert "user_id" in plan3.upsert_keys
    assert plan3.is_append_only  # windowed agg: append fast path


def test_parquet_upsert_sink_resumes_after_process_restart(spark, tmp_path):
    """A NEW sink object over an existing directory must adopt the
    on-disk generation and merge with it — not overwrite it (the
    real-restart path: the in-process object does not survive)."""
    from table_demo_spark.streaming.upsert import ParquetUpsertSink

    path = str(tmp_path / "t")
    s1 = ParquetUpsertSink(path, ("k",))
    s1.apply_batch(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), 0)

    s2 = ParquetUpsertSink(path, ("k",))  # fresh process, same dir
    s2.apply_batch(spark.createDataFrame([(2, "b2"), (3, "c")], "k long, v string"), 1)
    got = {r["k"]: r["v"] for r in s2.snapshot_df(spark).collect()}
    assert got == {1: "a", 2: "b2", 3: "c"}


def _generation_sink_cases():
    """The five generation-store sinks, each as (build from a path,
    apply a (k long, v long, __op string) batch, its (k, v) columns)."""
    from table_demo_spark.streaming.queries import (
        ParquetCountSink,
        ParquetHistogramSink,
        ParquetSketchSink,
    )
    from table_demo_spark.streaming.upsert import (
        ParquetUpsertSink,
        VersionedCdcSink,
    )

    return [
        (
            lambda p: ParquetUpsertSink(p, ("k",)),
            lambda sink, df, b: sink.apply_batch(df.drop("__op"), b),
            ("k", "v"),
        ),
        (
            lambda p: VersionedCdcSink(p, ("k",), ("v",)),
            lambda sink, df, b: sink.apply_changelog(df, b),
            ("k", "v"),
        ),
        (
            ParquetHistogramSink,
            lambda sink, df, b: sink.apply_batch(
                df.selectExpr("k AS dept_cnt", "v AS delta"), b
            ),
            ("dept_cnt", "cnt_freq"),
        ),
        (
            lambda p: ParquetSketchSink(p, ("k",)),
            lambda sink, df, b: sink.apply_batch(
                df.selectExpr("k", "0 AS bucket", "CAST(v AS INT) AS m_j"), b
            ),
            ("k", "m_j"),
        ),
        (
            lambda p: ParquetCountSink(p, ("k",)),
            lambda sink, df, b: sink.apply_batch(df.selectExpr("k", "v AS n"), b),
            ("k", "n"),
        ),
    ]


@pytest.mark.parametrize("torn", ["empty", "no_success", "torn"])
def test_generation_sinks_resume_from_last_committed_generation(
    spark, tmp_path, torn
):
    """A stop mid-batch can leave gen=2 unfinished beside an intact
    gen=1: an empty directory, part files without Spark's ``_SUCCESS``,
    or a complete parquet write whose commit marker never landed. A
    rebuilt sink — any of the five — must resume from gen=1 and discard
    gen=2: adopting it would merge the next batch with a partial table
    and drop gen=1's keys. The sum-merge sinks must also skip the
    checkpoint's replay of the committed batch, or it counts twice."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from table_demo_spark.streaming.queries import (
        ParquetCountSink,
        ParquetHistogramSink,
    )

    rows = "k long, v long, __op string"
    b0 = spark.createDataFrame([(1, 10, "U"), (2, 20, "U")], rows)
    for i, (make, apply, (k, v)) in enumerate(_generation_sink_cases()):
        path = str(tmp_path / f"sink{i}")
        sink = make(path)
        apply(sink, b0, 0)
        assert sink.current_dir == f"{path}/gen=1"
        gen2 = f"{path}/gen=2"
        os.makedirs(gen2)
        if torn != "empty":
            pq.write_table(pa.table({"k": [9], "v": [90]}), f"{gen2}/part-0.parquet")
        if torn == "torn":
            open(f"{gen2}/_SUCCESS", "w").close()

        reborn = make(path)
        name = type(reborn).__name__
        assert reborn.current_dir == f"{path}/gen=1", name
        assert not os.path.exists(gen2), name
        if isinstance(reborn, (ParquetHistogramSink, ParquetCountSink)):
            apply(reborn, b0, 0)  # the checkpoint's replay: a no-op
            assert reborn.current_dir == f"{path}/gen=1", name
        apply(reborn, spark.createDataFrame([(3, 30, "U")], rows), 1)
        got = {(r[k], r[v]) for r in reborn.snapshot_df(spark).collect()}
        assert got == {(1, 10), (2, 20), (3, 30)}, name


def test_generation_store_read_fires_no_schema_job(spark, tmp_path):
    """After a commit the store reads its table with the schema it
    wrote: no footer job runs before the next merge, and the schema is
    the one Spark would infer from the files — for each of the five
    sinks. A resumed store infers it once."""
    rows = "k long, v long, __op string"
    b0 = spark.createDataFrame([(1, 10, "U"), (2, 20, "U")], rows)
    sc = spark.sparkContext
    for i, (make, apply, _) in enumerate(_generation_sink_cases()):
        sink = make(str(tmp_path / f"sink{i}"))
        name = type(sink).__name__
        apply(sink, b0, 0)
        group = f"gen-read-{i}"
        sc.setJobGroup(group, group)
        try:
            got = sink.store.read(spark).schema
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], name
        want = spark.read.parquet(sink.current_dir).schema
        assert [(f.name, f.dataType, f.nullable) for f in got] == [
            (f.name, f.dataType, f.nullable) for f in want
        ], name
        resumed = make(sink.path).store
        assert resumed.read(spark).schema == got, name


def test_upsert_key_inference_ignores_window_lookalike_columns(spark):
    """A user column literally named window_type must NOT be classified
    as the event-time window (that would flip a continuously-updating
    aggregate to append mode and lose updates)."""
    from pyspark.sql import functions as F

    from table_demo_spark.plans.modes import infer_plan
    from table_demo_spark.sources.batch import load_table

    ev = load_table(spark, SF_SMOKE, "events").withColumn(
        "window_type", F.col("event_type")
    )
    agg = ev.groupBy("window_type").agg(F.count("event_id").alias("n"))
    plan = infer_plan(agg)
    assert plan.upsert_keys == ("window_type",)
    assert plan.output_mode == "update"


def test_fanout_sinks_are_idempotent_under_batch_replay(spark, tmp_path):
    """at-least-once delivery: re-delivering a micro-batch must leave
    both fan-out sinks unchanged (archive: same batch=<id> dir
    overwritten with same contents; registers: max-merge idempotent)."""
    from table_demo_spark.operators.sketch import hll_registers
    from table_demo_spark.streaming.queries import (
        ParquetBatchArchive,
        ParquetSketchSink,
    )

    batch = spark.createDataFrame(
        [(1, "click", 10), (2, "view", 11), (3, "click", 10)],
        "event_id long, event_type string, user_id long",
    )
    archive = ParquetBatchArchive(str(tmp_path / "arch"))
    sketch = ParquetSketchSink(str(tmp_path / "sk"), ("event_type",))
    for _ in range(2):  # deliver batch 0 twice
        archive.apply_batch(batch, 0)
        sketch.apply_batch(hll_registers(batch, ["event_type"], "user_id"), 0)
    assert archive.count() == 3
    regs = {
        (r["event_type"], r["bucket"]): r["m_j"]
        for r in sketch.snapshot_df(spark).collect()
    }
    want = {
        (r["event_type"], r["bucket"]): r["m_j"]
        for r in hll_registers(batch, ["event_type"], "user_id").collect()
    }
    assert regs == want


def test_versioned_cdc_sink_disorder_and_tombstones(spark, tmp_path):
    """Out-of-order old changes must not regress a key, and a late old
    upsert must not resurrect a versioned delete — the two properties
    later-batch-wins merging cannot give."""
    from table_demo_spark.streaming.upsert import VersionedCdcSink

    sink = VersionedCdcSink(str(tmp_path / "cdc"), ("k",), ("v",))
    b = lambda rows: spark.createDataFrame(rows, "k long, v long, x string, __op string")
    sink.apply_changelog(b([(1, 10, "new", "U"), (2, 5, "b", "U")]), 0)
    # batch 1 carries an OLDER change for k=1 and a versioned delete of k=2
    sink.apply_changelog(b([(1, 3, "stale", "U"), (2, 7, "", "D")]), 1)
    got = {r.k: (r.v, r.x) for r in sink.snapshot_df(spark).collect()}
    assert got == {1: (10, "new")}  # k=1 kept newest, k=2 deleted
    # a late upsert OLDER than the tombstone must stay dead...
    sink.apply_changelog(b([(2, 6, "zombie", "U")]), 2)
    assert 2 not in {r.k for r in sink.snapshot_df(spark).collect()}
    # ...but a NEWER change after the delete re-creates the key
    sink.apply_changelog(b([(2, 9, "reborn", "U")]), 3)
    got = {r.k: r.x for r in sink.snapshot_df(spark).collect()}
    assert got[2] == "reborn"
    # replaying an old batch (at-least-once) changes nothing
    before = sorted(map(tuple, sink.snapshot_df(spark).collect()))
    sink.apply_changelog(b([(1, 3, "stale", "U"), (2, 7, "", "D")]), 1)
    assert sorted(map(tuple, sink.snapshot_df(spark).collect())) == before


def test_streaming_state_rows_bounded_by_key_domain(spark):
    """The scale claim behind the stateful queries, enforced on
    engine metrics: after a full drain, the state store holds at most
    one row per live key — the q6 dedup state is exactly the distinct
    key set, never the event count (150 users x 5 types vs 10k
    events at sf0.001 would differ by 13x if per-event state leaked)."""
    from pyspark.sql import functions as F

    from table_demo_spark.sources.batch import load_table
    from table_demo_spark.streaming.queries import q6_dedup_stream

    sink, query = q6_dedup_stream(spark, SF_SMOKE, speed=SPEED)
    query.processAllAvailable()
    lp = query.lastProgress
    query.stop()
    n_keys = (
        load_table(spark, SF_SMOKE, "events")
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    state = (lp or {}).get("stateOperators") or []
    assert state, "expected a stateful operator in the progress report"
    total_state_rows = sum(op["numRowsTotal"] for op in state)
    assert total_state_rows <= n_keys, (
        f"state leaked: {total_state_rows} rows for {n_keys} keys"
    )


def test_parquet_count_sink_is_replay_idempotent(spark):
    """q21's sum-merge sink is NOT idempotent by algebra (sums double-
    count), so exactly-once rests on the foreachBatch batch-id guard:
    re-applying a batch id must be a no-op, and a new id must merge."""
    import tempfile

    from pyspark.sql import functions as F

    from table_demo_spark.streaming.queries import ParquetCountSink

    sink = ParquetCountSink(tempfile.mkdtemp(prefix="tds-cnt-"), ("k",))
    b0 = spark.createDataFrame([("a", 2), ("b", 3)], "k string, n long")
    sink.apply_batch(b0, 0)
    sink.apply_batch(b0, 0)  # replayed batch: must not double-count
    b1 = spark.createDataFrame([("a", 5)], "k string, n long")
    sink.apply_batch(b1, 1)
    got = {
        (r.k, r.n) for r in sink.snapshot_df(spark).collect()
    }
    assert got == {("a", 7), ("b", 3)}
    # Process restart: a NEW sink over the same path must adopt the
    # persisted high-water batch id, so foreachBatch's replay of the
    # last batch is a no-op — then resume the merge chain.
    from table_demo_spark.streaming.queries import ParquetCountSink as _S

    reborn = _S(sink.path, ("k",))
    reborn.apply_batch(b1, 1)  # replay after restart: skipped
    reborn.apply_batch(
        spark.createDataFrame([("b", 1)], "k string, n long"), 2
    )
    got = {(r.k, r.n) for r in reborn.snapshot_df(spark).collect()}
    assert got == {("a", 7), ("b", 4)}


def test_http_sink_retry_replay_and_delete_dispatch(spark):
    """The network-boundary sink (streaming/http_sink.py) against
    ElasticUpsertTableSink semantics: (1) 5xx responses are retried
    with backoff until the bulk lands; (2) replaying a batch after a
    crash converges (bulk index/delete are idempotent per doc id) —
    the restart-safety rule the ES sink relies on; (3) changelog rows
    flagged 'D' dispatch to bulk delete actions."""
    from table_demo_spark.streaming.http_sink import (
        EsStubServer,
        HttpUpsertSink,
    )

    server = EsStubServer()
    try:
        sink = HttpUpsertSink(server.url, ("k",))

        # (1) retry: first two requests 503 without applying
        server.fail_next(2)
        sink.upsert([{"k": "a", "v": 1}, {"k": "b", "v": 2}])
        assert server.request_count >= 3  # 2 failures + 1 success
        assert server.docs() == {"a": {"k": "a", "v": 1}, "b": {"k": "b", "v": 2}}

        # (2) replay idempotency: re-sending the same batch (crash
        # between sink write and checkpoint commit) changes nothing
        before = server.docs()
        sink.upsert([{"k": "a", "v": 1}, {"k": "b", "v": 2}])
        assert server.docs() == before
        # later batch still wins after a replays
        sink.upsert([{"k": "a", "v": 9}])
        sink.upsert([{"k": "a", "v": 9}])  # its replay
        assert server.docs()["a"] == {"k": "a", "v": 9}

        # (3) changelog dispatch through the executor-side path
        batch = spark.createDataFrame(
            [("a", 5, "U"), ("b", 2, "D"), ("c", 7, "I")],
            "k string, v long, __op string",
        )
        sink.foreach_batch_changelog("__op")(batch, 0)
        got = server.docs()
        assert "b" not in got
        assert got["a"] == {"k": "a", "v": 5} and got["c"] == {"k": "c", "v": 7}
        # deleting an absent key is a no-op, not an error
        sink.delete(["zzz"])
    finally:
        server.close()


def test_http_sink_stream_restart_converges(spark, tmp_path):
    """Restart test: run a small stream through the HTTP sink to
    completion, then restart from the SAME checkpoint with the same
    source — Structured Streaming replays the last epoch's foreachBatch
    if its commit wasn't recorded; either way the store must equal the
    batch answer afterwards (idempotent replay across a process
    boundary, the parquet sinks' torn-write discipline expressed over
    a socket)."""
    from pyspark.sql import functions as F

    from table_demo_spark.sources.batch import load_table
    from table_demo_spark.streaming.http_sink import (
        EsStubServer,
        HttpUpsertSink,
    )
    from tests.conftest import SF_SMOKE

    server = EsStubServer()
    try:
        sink = HttpUpsertSink(server.url, ("event_type",))
        src = str(tmp_path / "src")
        load_table(spark, SF_SMOKE, "events").select(
            "event_id", "event_type"
        ).write.mode("overwrite").parquet(src)
        ckpt = str(tmp_path / "ckpt")

        def run_once():
            stream = (
                spark.readStream.schema("event_id long, event_type string")
                .parquet(src)
                .groupBy("event_type")
                .agg(F.count(F.lit(1)).cast("long").alias("n"))
            )
            q = (
                stream.writeStream.outputMode("update")
                .option("checkpointLocation", ckpt)
                .foreachBatch(sink.foreach_batch())
                .start()
            )
            q.processAllAvailable()
            q.stop()

        run_once()
        first = {d["event_type"]: d["n"] for d in sink.snapshot()}
        run_once()  # restart from the same checkpoint: replay or no-op
        second = {d["event_type"]: d["n"] for d in sink.snapshot()}
        want = {
            r.event_type: r.n
            for r in load_table(spark, SF_SMOKE, "events")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .collect()
        }
        assert first == want and second == want
    finally:
        server.close()


def test_drain_retry_classifies_and_retries_worker_spawn_failures():
    """The bounded stream-start retry must (a) re-run the wrapper
    exactly once on a worker-connect failure with zero committed
    batches, (b) NOT retry other failures, (c) NOT retry when any
    micro-batch committed, and (d) surface the second failure if the
    retry also dies — the narrow contract that absorbs transient
    executor/worker spawn flakes without masking real defects."""
    import pytest as _pytest

    from table_demo_spark.queries.streaming import (
        _TransientStreamStartError,
        _raise_drain_failure,
        _with_start_retry,
    )

    class _FakeQuery:
        def __init__(self, progress):
            self.recentProgress = progress

    # classification: marker + no progress -> retryable
    with _pytest.raises(_TransientStreamStartError):
        _raise_drain_failure(
            _FakeQuery([]),
            RuntimeError("Python worker failed to connect back"),
        )
    # marker but a committed batch -> NOT retryable
    with _pytest.raises(RuntimeError) as ei:
        _raise_drain_failure(
            _FakeQuery([{"batchId": 0}]),
            RuntimeError("Python worker failed to connect back"),
        )
    assert not isinstance(ei.value, _TransientStreamStartError)
    # other failures -> NOT retryable
    with _pytest.raises(ValueError):
        _raise_drain_failure(_FakeQuery([]), ValueError("schema mismatch"))

    # retry loop: one bounded re-run, success on second attempt
    calls = []

    @_with_start_retry
    def flaky(spark, sf_dir):
        calls.append(1)
        if len(calls) == 1:
            raise _TransientStreamStartError("worker flake")
        return "ok"

    assert flaky(None, None) == "ok" and len(calls) == 2

    # both attempts failing surfaces the error (no infinite retry)
    calls2 = []

    @_with_start_retry
    def dead(spark, sf_dir):
        calls2.append(1)
        raise _TransientStreamStartError("persistent")

    with _pytest.raises(_TransientStreamStartError):
        dead(None, None)
    assert len(calls2) == 2

    # non-transient errors pass straight through, one attempt only
    calls3 = []

    @_with_start_retry
    def broken(spark, sf_dir):
        calls3.append(1)
        raise ValueError("real bug")

    with _pytest.raises(ValueError):
        broken(None, None)
    assert len(calls3) == 1


def test_bucketed_store_geometric_compaction_and_ttl(spark):
    """BucketedStateStore's size-triggered compaction: the trigger
    fires when the uncompacted delta exceeds max(floor, size at last
    compaction) — so rewrite cost is always O(delta) — and the
    ``keep`` predicate drops expired rows during the rewrite (the
    state-retention knob). Replay-duplicated rows are swept by the
    dedup columns."""
    import uuid

    from pyspark.sql import functions as F

    from table_demo_spark.streaming.queries import BucketedStateStore

    store = BucketedStateStore(
        spark, f"test_q25_ttl_{uuid.uuid4().hex[:8]}", "skey"
    )
    try:
        def batch(batch_id, n):
            return spark.createDataFrame(
                [(batch_id * 1000 + i, f"k{i % 7}", batch_id) for i in range(n)],
                "doc_id long, skey string, seen_batch long",
            )

        # floor not reached -> no trigger
        store.append(batch(0, 10))
        assert not store.should_compact(min_rows=100)
        # floor crossed -> trigger; compaction resets the counters
        store.append(batch(1, 95))
        assert store.should_compact(min_rows=100)
        store.compact(["doc_id", "skey"])
        assert store.rows_at_compact == 105 and store.rows_since_compact == 0
        # geometric: the next trigger needs a delta >= the store size
        # at last compaction (105), not the floor
        store.append(batch(2, 100))
        assert not store.should_compact(min_rows=100)
        store.append(batch(3, 10))
        assert store.should_compact(min_rows=100)

        # replay dup sweep: re-append batch 3 (same rows) WITH its
        # batch id — the duplicate rows land (and compaction sweeps
        # them) but the trigger counter must not double-count
        before_counter = store.rows_since_compact
        store.append(batch(3, 10), batch_id=3)
        store.append(batch(3, 10), batch_id=3)  # replayed
        assert store.rows_since_compact == before_counter + 10
        store.compact(["doc_id", "skey"])
        assert store.frame().count() == 215  # 105 + 100 + 10, dups gone

        # TTL: drop everything older than batch 2 during the rewrite
        store.compact(["doc_id", "skey"], keep=F.col("seen_batch") >= 2)
        got = store.frame()
        assert got.count() == 110
        assert got.agg(F.min("seen_batch")).collect()[0][0] == 2
        assert store.rows_at_compact == 110
    finally:
        store.drop()


def test_q25_retention_ttl_limits_pairs_to_window(spark, tmp_path):
    """End-to-end state-retention semantics: TTL expiry rides
    compaction, so with retention_batches=1 and the minimum trigger
    floor, compaction fires at batches 1 and 3 (single-append deltas
    never compact) and drops keys older than the window each time —
    batch-0 keys are gone before batch 2 probes, batch-1/2 keys
    survive until after batch 3's probe. Surviving cross pairs are
    therefore b0xb1, b1xb2, b1xb3, b2xb3; b0x{b2,b3} are expired. On
    a 12-doc corpus of mutual near-duplicates staged as 4 shards the
    expected retention-run cardinality is derived from the OBSERVED
    shard sizes (not an assumed 3/3/3/3 split — the range
    partitioner's boundaries are an implementation detail): full run
    C(12,2) = 66, retention run = sum(C(b_i,2)) within + the four
    surviving cross products. Already-emitted pairs are never
    retracted (subset relation), and each batch's probe runs before
    its compaction."""
    from table_demo_spark.queries.llmops import JACCARD_THRESHOLD
    from table_demo_spark.streaming.queries import run_q25_streaming_neardup

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    docs = spark.createDataFrame(
        [(i, text, "src0") for i in range(12)],
        "doc_id long, text string, source string",
    )
    sf = str(tmp_path)
    docs.write.parquet(f"{sf}/documents.parquet")

    def run(**kw):
        sink, query, cleanup = run_q25_streaming_neardup(
            spark, sf, threshold=JACCARD_THRESHOLD, **kw
        )
        query.processAllAvailable()
        query.stop()
        pairs = {
            (r["doc_a"], r["doc_b"])
            for r in sink.snapshot_df(spark).collect()
        }
        cleanup()
        return pairs

    full = run()
    assert len(full) == 66  # C(12,2): every doc pairs with every other
    ttl = run(retention_batches=1, compact_min_rows=1)
    assert ttl <= full

    # expected cardinality from the OBSERVED shard sizes: the staged
    # files ARE the micro-batches (maxFilesPerTrigger=1); file->batch
    # order doesn't matter because the sizes enter symmetrically
    import glob
    import os

    from table_demo_spark.streaming.queries import ensure_docs_shards

    sizes = [
        spark.read.parquet(f).count()
        for f in sorted(
            glob.glob(os.path.join(ensure_docs_shards(spark, sf), "part-*"))
        )
    ]
    assert sum(sizes) == 12 and len(sizes) == 4
    b0, b1, b2, b3 = sizes  # sizes in BATCH order = file order? No —
    # only the multiset of sizes matters for the within-batch term;
    # the cross term needs the actual batch ORDER, which equals the
    # stream's file pickup order. With equal sizes the order is
    # irrelevant; with unequal sizes, recover order from the TTL run
    # being a subset: compute both terms from the size multiset only
    # when all sizes are equal, else fall back to bounds.
    within = sum(n * (n - 1) // 2 for n in sizes)
    if len(set(sizes)) == 1:
        n = sizes[0]
        expected = within + 4 * n * n  # b0b1 + b1b2 + b1b3 + b2b3
        assert len(ttl) == expected
    else:  # unequal split: exact order unknown -> assert strict bounds
        assert within < len(ttl) < 66


def test_q29_index_at_ingest_layout_prunes_and_matches_batch(spark):
    """stream_q29's sink layout IS the inverted-file index: one Hive
    partition directory per centroid; the probe scan carries the
    IN-list as a PartitionFilter (directory pruning, not row
    filtering), and ivf_probe over the streamed store reproduces the
    batch IVF top-k bit-for-bit. Also pins the literal-projection
    assignment (ivf_assign_inline) against the batch window argmax —
    the bit-parity claim the q29 docstring makes."""
    import os

    from pyspark.sql import functions as F

    from table_demo_spark.operators import similarity as S
    from table_demo_spark.queries.streaming import _drain, _no_data_batches_off
    from table_demo_spark.sources.batch import load_table
    from table_demo_spark.streaming.queries import run_q29_ann_index_ingest
    from tests.test_plans import formatted_plan

    emb = load_table(spark, SF_SMOKE, "embeddings")
    cent = emb.filter(F.col("vec_id") < S.N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cent_vec"),
    )
    cent_rows = [
        (int(r["vec_id"]), list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") < S.N_CENTROIDS)
        .select("vec_id", "embedding")
        .collect()
    ]
    batch_assign = {
        r["neighbor_id"]: r["centroid_id"]
        for r in S._nearest_centroids(
            emb, cent, "neighbor_id", "c_vec", 1
        ).collect()
    }
    inline_assign = {
        r["neighbor_id"]: r["centroid_id"]
        for r in S.ivf_assign_inline(emb, cent_rows).collect()
    }
    assert inline_assign == batch_assign

    with _no_data_batches_off(spark):
        sink, query, _ = run_q29_ann_index_ingest(spark, SF_SMOKE)
        _drain(query, sink.count, quiet_polls=1)

    parts = {d for d in os.listdir(sink.path) if d.startswith("centroid_id=")}
    assert len(parts) > 1  # Hive layout: the directories are the lists

    store = sink.snapshot_df(spark)
    pruned = store.filter(F.col("centroid_id").isin([0, 1]))
    plan = formatted_plan(pruned)
    assert "PartitionFilters" in plan and "centroid_id" in plan, plan

    full = store.select(
        F.col("centroid_id").cast("long").alias("centroid_id"),
        "neighbor_id",
        "c_vec",
    )
    queries_df = emb.filter(F.col("vec_id") < 8)
    got = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in S.ivf_probe(full, queries_df, cent, k=5).collect()
    }
    want = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in S.ivf_topk(emb, queries_df, k=5).collect()
    }
    assert got == want


def test_q33_store_probe_is_partition_pruned_and_retrain_routes(spark):
    """stream_q33's store swap must stay an index: Hive partition dirs
    per (b, gen, centroid_id), a probe filtering on gen/centroid_id
    prunes whole directories (PartitionFilters, not row filters), and
    the two generations route with DIFFERENT matrices — gen-1
    assignments must match re-routing the second half against the
    rounded Lloyd means of the store's own gen-0 lists (the retrain's
    defining property), and differ from a no-drift routing for at
    least one vector at fixture scale (drift actually moved the
    router)."""
    import os

    from pyspark.sql import functions as F

    from table_demo_spark.operators import similarity as S
    from table_demo_spark.queries.streaming import _drain, _no_data_batches_off
    from table_demo_spark.sources.batch import load_table
    from table_demo_spark.streaming.queries import run_q33_centroid_drift
    from tests.test_plans import formatted_plan

    with _no_data_batches_off(spark):
        sink, query = run_q33_centroid_drift(spark, SF_SMOKE)
        _drain(query, sink.count, quiet_polls=1)

    # layout: batch dirs at the top, gen + centroid below
    tops = {d for d in os.listdir(sink.path) if d.startswith("b=")}
    assert len(tops) == 4, tops

    store = sink.snapshot_df(spark)
    pruned = store.filter(
        (F.col("gen") == 1) & F.col("centroid_id").isin([0, 1])
    )
    plan = formatted_plan(pruned)
    assert "PartitionFilters" in plan, plan
    pf_line = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "gen" in pf_line and "centroid_id" in pf_line, pf_line

    # retrain property: gen-1 rows == second half re-routed with the
    # rounded Lloyd means of the gen-0 lists
    emb = load_table(spark, SF_SMOKE, "embeddings")
    n = emb.count()
    # rank-based half boundary (vec_ids need not be dense)
    ids = sorted(r["vec_id"] for r in emb.select("vec_id").collect())
    bound = ids[2 * ((n + 3) // 4) - 1]  # max id of the first half
    gen0 = store.filter(F.col("gen") == 0)
    assert gen0.agg(F.max("neighbor_id")).collect()[0][0] <= bound
    means = (
        gen0.select("centroid_id", F.posexplode("c_vec").alias("d", "x"))
        .groupBy("centroid_id", "d")
        .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("v"))
        .collect()
    )
    by_cid: dict[int, dict[int, float]] = {}
    for r in means:
        by_cid.setdefault(int(r["centroid_id"]), {})[int(r["d"])] = float(r["v"])
    cent0 = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < S.N_CENTROIDS)
        .select("vec_id", "embedding")
        .collect()
    ]
    cent1 = [
        (cid, [by_cid[cid][d] for d in range(len(v))] if cid in by_cid else v)
        for cid, v in cent0
    ]
    second = emb.filter(F.col("vec_id") > bound)
    want = {
        (r["neighbor_id"], r["centroid_id"])
        for r in S.ivf_assign_inline(second, cent1).collect()
    }
    got = {
        (r["neighbor_id"], int(r["centroid_id"]))
        for r in store.filter(F.col("gen") == 1)
        .select("neighbor_id", "centroid_id")
        .collect()
    }
    assert got == want
    nodrift = {
        (r["neighbor_id"], r["centroid_id"])
        for r in S.ivf_assign_inline(second, cent0).collect()
    }
    assert want != nodrift  # the retrain moved at least one routing


def test_q33_restart_replay_matches_uninterrupted_run(spark, tmp_path):
    """r7/r8 ADVICE (medium): a query restarted from checkpoint AFTER
    the retrain must not re-route replayed batches with gen-0 centroids
    or leave the pre-crash gen-1 subtree beside the replay's rows.

    Crash forgery: drain fully, then delete the LAST commit marker —
    offsets/3 exists without commits/3, so the restarted query
    re-executes batch 3 from a FRESH driver (state dict reborn at
    gen 0). Pre-fix this duplicated b=3 across gen values / flipped its
    gen; post-fix hydration + full-subtree overwrite make the final
    store equal the uninterrupted run, row for row."""
    from pyspark.sql import functions as F

    from table_demo_spark.queries.streaming import _drain, _no_data_batches_off
    from table_demo_spark.streaming.queries import run_q33_centroid_drift
    from table_demo_spark.streaming.upsert import ParquetAppendSink

    def rows(s):
        return {
            (int(r["b"]), int(r["gen"]), int(r["centroid_id"]), r["neighbor_id"])
            for r in s.snapshot_df(spark)
            .select("b", "gen", "centroid_id", "neighbor_id")
            .collect()
        }

    # uninterrupted reference run
    with _no_data_batches_off(spark):
        ref_sink, q = run_q33_centroid_drift(spark, SF_SMOKE)
        _drain(q, ref_sink.count, quiet_polls=1)
    want = rows(ref_sink)
    assert {b for (b, _, _, _) in want} == {0, 1, 2, 3}
    assert any(g == 1 for (_, g, _, _) in want)

    # crash-replay run against an explicit checkpoint
    ckpt = str(tmp_path / "ckpt")
    sink = ParquetAppendSink(
        str(tmp_path / "store"), ("b", "gen", "centroid_id")
    )
    with _no_data_batches_off(spark):
        _, q = run_q33_centroid_drift(
            spark, SF_SMOKE, sink=sink, checkpoint=ckpt
        )
        _drain(q, sink.count, quiet_polls=1)
    _forge_crash(ckpt, 3)
    with _no_data_batches_off(spark):
        _, q2 = run_q33_centroid_drift(
            spark, SF_SMOKE, sink=sink, checkpoint=ckpt
        )
        _drain(q2, sink.count, quiet_polls=1)
    spark.catalog.refreshByPath(sink.path)
    assert rows(sink) == want
    # the replayed batch landed at gen 1, with no gen-0 residue
    gens_b3 = {g for (b, g, _, _) in rows(sink) if b == 3}
    assert gens_b3 == {1}, gens_b3


def test_q33_empty_boundary_batch_still_retrains(spark, tmp_path):
    """r7 ADVICE (low): the retrain trigger depends on batch_id, not on
    rows — an empty shard AT the boundary must still flip the
    generation, and a fresh closure hydrating at a later batch must
    rebuild the identical gen-1 matrix."""
    from pyspark.sql import functions as F

    from table_demo_spark.operators import similarity as S
    from table_demo_spark.sources.batch import load_table
    from table_demo_spark.streaming.queries import _q33_make_apply
    from table_demo_spark.streaming.upsert import ParquetAppendSink

    emb = load_table(spark, SF_SMOKE, "embeddings")
    cent0 = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < S.N_CENTROIDS)
        .select("vec_id", "embedding")
        .collect()
    ]
    sink = ParquetAppendSink(
        str(tmp_path / "store"), ("b", "gen", "centroid_id")
    )
    state, apply = _q33_make_apply(sink, cent0)
    apply(emb.limit(40), 0)
    assert state["gen"] == 0
    apply(emb.limit(0), 1)  # EMPTY boundary batch
    assert state["gen"] == 1  # retrain fired anyway
    assert state["cent"] != cent0  # and actually moved the matrix

    # hydration parity: a reborn closure replaying batch 2 rebuilds the
    # same gen-1 matrix from the committed store
    state2, apply2 = _q33_make_apply(sink, cent0)
    apply2(emb.limit(5), 2)
    assert state2["gen"] == 1
    assert state2["cent"] == state["cent"]


def test_q35_restart_replay_matches_uninterrupted_run(spark, tmp_path):
    """q35's by-construction restart claim, proven the q33 way: drain,
    forge a crash (delete the last commit marker + its .crc shadow),
    restart — the replayed batch must recompute its edges against
    exactly the pre-crash PREFIX (the b <= batch_id filter) and the
    final edge store must equal the uninterrupted run's."""
    from table_demo_spark.queries.streaming import _drain, _no_data_batches_off
    from table_demo_spark.streaming.queries import run_q35_graph_ingest
    from table_demo_spark.streaming.upsert import ParquetAppendSink

    def rows(s):
        return {
            (int(r["b"]), int(r["src"]), int(r["dst"]), int(r["rank"]))
            for r in s.snapshot_df(spark)
            .select("b", "src", "dst", "rank")
            .collect()
        }

    with _no_data_batches_off(spark):
        ref_sink, q = run_q35_graph_ingest(spark, SF_SMOKE)
        _drain(q, ref_sink.count, quiet_polls=1)
    want = rows(ref_sink)
    assert {b for (b, _, _, _) in want} == {0, 1, 2, 3}

    ckpt = str(tmp_path / "ckpt")
    sink = ParquetAppendSink(str(tmp_path / "store"), ("b",))
    with _no_data_batches_off(spark):
        _, q = run_q35_graph_ingest(spark, SF_SMOKE, sink=sink, checkpoint=ckpt)
        _drain(q, sink.count, quiet_polls=1)
    _forge_crash(ckpt, 3)
    with _no_data_batches_off(spark):
        _, q2 = run_q35_graph_ingest(
            spark, SF_SMOKE, sink=sink, checkpoint=ckpt
        )
        _drain(q2, sink.count, quiet_polls=1)
    spark.catalog.refreshByPath(sink.path)
    assert rows(sink) == want


def test_q36_reshard_crosses_boundary_and_pins_occupancy(spark):
    """The reshard drain actually RESHARDS on the fixture (the meta
    store commits two generations, 4 -> 5 bits at batch 2 where the
    375-vector prefix outgrows 16 << 4) and mean bucket occupancy
    stays at or under the target on the active generation at every
    point a generation was the active one."""
    from pyspark.sql import functions as F

    from table_demo_spark.operators import similarity
    from table_demo_spark.queries.streaming import _drain, _no_data_batches_off
    from table_demo_spark.streaming.queries import (
        Q36_TARGET_BUCKET,
        run_q36_graph_reshard,
    )

    with _no_data_batches_off(spark):
        sink, q = run_q36_graph_reshard(spark, SF_SMOKE)
        _drain(q, sink.count, quiet_polls=1)
    meta = sorted(
        (int(r["g"]), int(r["bits"]), int(r["created_b"]))
        for r in spark.read.parquet(sink.path.rstrip("/") + "-meta").collect()
    )
    assert meta == [(0, 4, 0), (1, 5, 2)]
    vec_dir = sink.path.rstrip("/") + "-vecs"
    vecs = spark.read.parquet(vec_dir)
    # generation 0 served batches 0-1 (125, then 250 vectors at 4
    # bits); generation 1 serves 375 then 500 at 5 bits — each stays
    # at or under the target occupancy while active
    for g, bits, upto, n_want in [(0, 4, 1, 250), (1, 5, 3, 500)]:
        n = vecs.filter((F.col("g") == g) & (F.col("b") <= upto)).count()
        assert n == n_want
        assert n / (1 << bits) <= Q36_TARGET_BUCKET
    # and the NEXT batch would have breached gen 0's target — the
    # reshard fired exactly when the ladder said so
    assert 375 / (1 << 4) > Q36_TARGET_BUCKET
    assert similarity.graph_bits(375, Q36_TARGET_BUCKET) == 5


def test_q36_restart_replays_the_reshard_batch(spark, tmp_path):
    """The forged crash lands ON the reshard batch (commits/2 and
    commits/3 both deleted): the restarted query must redo the
    re-bucket + full rebuild from the prior generation's prefix —
    rehydration ignores the half-committed generation created by the
    replayed batch id — and the final store must equal the
    uninterrupted run's, generation labels included."""
    from table_demo_spark.queries.streaming import _drain, _no_data_batches_off
    from table_demo_spark.streaming.queries import run_q36_graph_reshard
    from table_demo_spark.streaming.upsert import ParquetAppendSink

    def rows(s):
        return {
            (int(r["g"]), int(r["b"]), int(r["src"]), int(r["dst"]),
             int(r["rank"]))
            for r in s.snapshot_df(spark)
            .select("g", "b", "src", "dst", "rank")
            .collect()
        }

    with _no_data_batches_off(spark):
        ref_sink, q = run_q36_graph_reshard(spark, SF_SMOKE)
        _drain(q, ref_sink.count, quiet_polls=1)
    want = rows(ref_sink)
    assert {(g, b) for (g, b, _, _, _) in want} == {
        (0, 0), (0, 1), (1, 2), (1, 3)
    }

    ckpt = str(tmp_path / "ckpt")
    sink = ParquetAppendSink(str(tmp_path / "store"), ("g", "b"))
    with _no_data_batches_off(spark):
        _, q = run_q36_graph_reshard(
            spark, SF_SMOKE, sink=sink, checkpoint=ckpt
        )
        _drain(q, sink.count, quiet_polls=1)
    _forge_crash(ckpt, 2, 3)
    with _no_data_batches_off(spark):
        _, q2 = run_q36_graph_reshard(
            spark, SF_SMOKE, sink=sink, checkpoint=ckpt
        )
        _drain(q2, sink.count, quiet_polls=1)
    spark.catalog.refreshByPath(sink.path)
    assert rows(sink) == want


def test_q38_layers_reshard_independently(spark):
    """The hierarchy's layers run their OWN generation ladders: on
    the 500-vector fixture layer 0 crosses one reshard boundary
    (4 -> 5 bits, exactly like q36) while the upper layers — holding
    ~1/4 and ~1/16 of the corpus — never outgrow their first
    generation; and every layer's member set is exactly the s23
    geometric draw."""
    from pyspark.sql import functions as F

    from table_demo_spark.queries.llmops import _s23_layer_col
    from table_demo_spark.queries.streaming import _drain, _no_data_batches_off
    from table_demo_spark.sources.batch import load_table
    from table_demo_spark.streaming.queries import run_q38_hnsw_ingest

    with _no_data_batches_off(spark):
        sink, q = run_q38_hnsw_ingest(spark, SF_SMOKE)
        _drain(q, sink.count, quiet_polls=1)
    meta = spark.read.parquet(sink.path.rstrip("/") + "-meta")
    gens = {
        lv: sorted(
            (int(r["g"]), int(r["bits"]))
            for r in meta.filter(F.col("lv") == lv).collect()
        )
        for lv in (0, 1, 2)
    }
    assert gens[0] == [(0, 4), (1, 5)]  # the q36 boundary
    assert [g for g, _ in gens[1]] == [0]
    assert [g for g, _ in gens[2]] == [0]
    emb = load_table(spark, SF_SMOKE, "embeddings")
    lay = emb.select("vec_id", _s23_layer_col().alias("lv"))
    vecs = spark.read.parquet(sink.path.rstrip("/") + "-vecs")
    for lv in (0, 1, 2):
        want = {
            int(r["vec_id"])
            for r in lay.filter(F.col("lv") >= lv).collect()
        }
        gmax = max(g for g, _ in gens[lv])
        got = {
            int(r["vec_id"])
            for r in vecs.filter(
                (F.col("lv") == lv) & (F.col("g") == gmax)
            ).collect()
        }
        assert got == want, lv


def test_q38_restart_replays_the_reshard_batch(spark, tmp_path):
    """q36's forged-crash discipline, hierarchy-wide: the crash lands
    ON layer 0's reshard batch (commits/2 and /3 deleted), and the
    restarted drain must redo every layer's work for the replayed
    batches — layer 0's re-bucket + rebuild from the prior
    generation, the upper layers' incremental steps — and the final
    store must equal the uninterrupted run's, layer and generation
    labels included."""
    from table_demo_spark.queries.streaming import _drain, _no_data_batches_off
    from table_demo_spark.streaming.queries import run_q38_hnsw_ingest
    from table_demo_spark.streaming.upsert import ParquetAppendSink

    def rows(s):
        return {
            (int(r["lv"]), int(r["g"]), int(r["b"]), int(r["src"]),
             int(r["dst"]), int(r["rank"]))
            for r in s.snapshot_df(spark)
            .select("lv", "g", "b", "src", "dst", "rank")
            .collect()
        }

    with _no_data_batches_off(spark):
        ref_sink, q = run_q38_hnsw_ingest(spark, SF_SMOKE)
        _drain(q, ref_sink.count, quiet_polls=1)
    want = rows(ref_sink)
    assert {(lv, g, b) for (lv, g, b, _, _, _) in want} >= {
        (0, 0, 0), (0, 0, 1), (0, 1, 2), (0, 1, 3)
    }

    ckpt = str(tmp_path / "ckpt")
    sink = ParquetAppendSink(str(tmp_path / "store"), ("lv", "g", "b"))
    with _no_data_batches_off(spark):
        _, q = run_q38_hnsw_ingest(
            spark, SF_SMOKE, sink=sink, checkpoint=ckpt
        )
        _drain(q, sink.count, quiet_polls=1)
    _forge_crash(ckpt, 2, 3)
    with _no_data_batches_off(spark):
        _, q2 = run_q38_hnsw_ingest(
            spark, SF_SMOKE, sink=sink, checkpoint=ckpt
        )
        _drain(q2, sink.count, quiet_polls=1)
    spark.catalog.refreshByPath(sink.path)
    assert rows(sink) == want


def test_q39_restart_replays_byte_stably(spark, tmp_path):
    """Decontamination-at-ingest replay: each batch statically
    overwrites its b= subtree from the offline fingerprint store, so
    a forged crash (last commit deleted) must reproduce the same
    split rows — and the full drain equals llm_p16's batch split."""
    from table_demo_spark.queries.streaming import _drain, _no_data_batches_off
    from table_demo_spark.streaming.queries import run_q39_decontam_ingest
    from table_demo_spark.streaming.upsert import ParquetAppendSink

    def rows(s):
        return {
            (int(r["doc_id"]), r["split"])
            for r in s.snapshot_df(spark).select("doc_id", "split").collect()
        }

    ckpt = str(tmp_path / "ckpt")
    sink = ParquetAppendSink(str(tmp_path / "store"), ("b",))
    with _no_data_batches_off(spark):
        _, q = run_q39_decontam_ingest(
            spark, SF_SMOKE, sink=sink, checkpoint=ckpt
        )
        _drain(q, sink.count, quiet_polls=1)
    want = rows(sink)
    assert {s for _, s in want} == {"train", "test", "quarantined"}
    _forge_crash(ckpt)
    with _no_data_batches_off(spark):
        _, q2 = run_q39_decontam_ingest(
            spark, SF_SMOKE, sink=sink, checkpoint=ckpt
        )
        _drain(q2, sink.count, quiet_polls=1)
    spark.catalog.refreshByPath(sink.path)
    assert rows(sink) == want


def test_q40_restart_replays_byte_stably(spark, tmp_path):
    """Mixture-sampling-at-ingest replay: the per-doc draw is
    deterministic and each batch statically overwrites its b=
    subtree, so a forged crash (last commit deleted) reproduces the
    identical per-source aggregates — and the drained union equals
    llm_p17's batch sample (the oracle pins that externally)."""
    from pyspark.sql import functions as F

    from table_demo_spark.queries.streaming import _drain, _no_data_batches_off
    from table_demo_spark.streaming.queries import run_q40_mixture_ingest
    from table_demo_spark.streaming.upsert import ParquetAppendSink

    def rows(s):
        return {
            (r["source"], int(r["n_sampled"]), int(r["id_sum"]))
            for r in s.snapshot_df(spark)
            .groupBy("source")
            .agg(
                F.sum("n_sampled").alias("n_sampled"),
                F.sum("id_sum").alias("id_sum"),
            )
            .collect()
        }

    ckpt = str(tmp_path / "ckpt")
    sink = ParquetAppendSink(str(tmp_path / "store"), ("b",))
    with _no_data_batches_off(spark):
        _, q = run_q40_mixture_ingest(
            spark, SF_SMOKE, sink=sink, checkpoint=ckpt
        )
        _drain(q, sink.count, quiet_polls=1)
    want = rows(sink)
    assert sum(n for _, n, _ in want) > 0
    _forge_crash(ckpt)
    with _no_data_batches_off(spark):
        _, q2 = run_q40_mixture_ingest(
            spark, SF_SMOKE, sink=sink, checkpoint=ckpt
        )
        _drain(q2, sink.count, quiet_polls=1)
    spark.catalog.refreshByPath(sink.path)
    assert rows(sink) == want


def test_q35_incremental_graph_equals_batch_build(spark):
    """build ≡ maintain, asserted directly (the s20 oracle pins it
    externally): per-src top-M compaction of q35's emission log equals
    llm_s18's batch-built edge set on the same corpus. The back-edges
    (old src -> new dst) and the kernel's old-old masking are exactly
    what makes the incremental graph converge to the batch graph."""
    from table_demo_spark.operators import similarity
    from table_demo_spark.queries.llmops import s18_graph_edges
    from table_demo_spark.queries.streaming import _drain, _no_data_batches_off
    from table_demo_spark.sources.batch import load_table
    from table_demo_spark.streaming.queries import (
        q35_final_edges,
        run_q35_graph_ingest,
    )

    with _no_data_batches_off(spark):
        sink, q = run_q35_graph_ingest(spark, SF_SMOKE)
        _drain(q, sink.count, quiet_polls=1)
    got = {
        (int(r["src"]), int(r["dst"]), int(r["rank"]))
        for r in q35_final_edges(sink.snapshot_df(spark)).collect()
    }
    emb = load_table(spark, SF_SMOKE, "embeddings")
    bits = similarity.graph_bits(emb.count())
    want = {
        (int(r["src"]), int(r["dst"]))
        for r in s18_graph_edges(emb, bits).collect()
    }
    assert {(s, d) for (s, d, _) in got} == want


def test_q41_pipeline_restart_replays_byte_stably(spark, tmp_path):
    """Composed-pipeline replay: every stage inside the one
    foreachBatch is deterministic (md5 split, md5 draw, offline
    vocabulary/dictionaries) and each batch statically overwrites its
    b= subtree, so a forged crash (last commit deleted, its crc
    shadow too) must reproduce the identical sampled/tokenized/
    compressed store — the cross-OP composability version of the q40
    replay pin."""
    from table_demo_spark.queries.streaming import _drain, _no_data_batches_off
    from table_demo_spark.streaming.queries import run_q41_pipeline_ingest
    from table_demo_spark.streaming.upsert import ParquetAppendSink

    def rows(s):
        return {
            (
                int(r["doc_id"]), int(r["n_before"]), int(r["n_after"]),
                int(r["n_merged"]), int(r["orig_bytes"]),
                bytes(r["frame"]),
            )
            for r in s.snapshot_df(spark)
            .select(
                "doc_id", "n_before", "n_after", "n_merged",
                "orig_bytes", "frame",
            )
            .collect()
        }

    ckpt = str(tmp_path / "ckpt")
    sink = ParquetAppendSink(str(tmp_path / "store"), ("b",))
    with _no_data_batches_off(spark):
        _, q, _ = run_q41_pipeline_ingest(
            spark, SF_SMOKE, sink=sink, checkpoint=ckpt
        )
        _drain(q, sink.count, quiet_polls=1)
    want = rows(sink)
    assert len(want) > 0
    _forge_crash(ckpt)
    with _no_data_batches_off(spark):
        _, q2, _ = run_q41_pipeline_ingest(
            spark, SF_SMOKE, sink=sink, checkpoint=ckpt
        )
        _drain(q2, sink.count, quiet_polls=1)
    spark.catalog.refreshByPath(sink.path)
    assert rows(sink) == want


def test_q42_statestore_batch_versions_time_travel(spark, tmp_path):
    """The state data source's batchId option reads EVERY committed
    state version, and each version equals the batch GROUP BY over
    exactly the shard prefix processed so far — the audit-by-version
    surface a production retention/debugging story needs (r13 probe:
    present and correct in OSS 4.1.2).  Shards drain one file per
    trigger, so version k is the prefix aggregate of shards 0..k in
    the source's deterministic file order."""
    import os

    from pyspark.sql import functions as F

    from table_demo_spark.queries.streaming import _no_data_batches_off
    from table_demo_spark.sources.batch import load_table
    from table_demo_spark.streaming.queries import run_q42_state_rollup

    ckpt = str(tmp_path / "ckpt")
    with _no_data_batches_off(spark):
        query, _ = run_q42_state_rollup(
            spark, SF_SMOKE, checkpoint=ckpt, files_per_trigger=1
        )
        assert query.awaitTermination(180)
    commits = sorted(
        int(n) for n in os.listdir(os.path.join(ckpt, "commits"))
        if n.isdigit()
    )
    assert len(commits) >= 2, commits  # genuinely multi-batch
    # each batch's file set, straight from the source's offset log
    # (the checkpoint is the authority on consumption order)
    import json

    def batch_files(k: int) -> list:
        out = []
        for j in range(k + 1):
            path = os.path.join(ckpt, "sources", "0", str(j))
            with open(path) as fh:
                for line in fh:
                    line = line.strip()
                    if line.startswith("{"):
                        out.append(json.loads(line)["path"])
        return out

    docs = load_table(spark, SF_SMOKE, "documents")
    total_docs = docs.count()
    seen = 0
    for k in commits:
        files = batch_files(k)
        state = (
            spark.read.format("statestore")
            .option("batchId", k)
            .load(ckpt)
            .select(
                F.col("key.lang").alias("lang"),
                F.col("key.source").alias("source"),
                F.col("value.count").cast("long").alias("n_docs"),
                F.col("value.sum").cast("long").alias("sum_chars"),
            )
        )
        prefix = spark.read.schema(
            "doc_id long, lang string, source string, n_chars long"
        ).parquet(*files)
        want = prefix.groupBy("lang", "source").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        got_rows = {tuple(r) for r in state.collect()}
        want_rows = {tuple(r) for r in want.collect()}
        assert got_rows == want_rows, f"state version {k} diverges"
        seen = prefix.count()
    assert seen == total_docs  # the last version covers the corpus


def test_q44_watermark_eviction_audit_semantics(spark, tmp_path):
    """stream_q44's oracle encodes three empirical pins, checked here
    against the checkpoint itself: (1) the file stream consumes the
    time-ranked shards in rank order (offset-log authority, the mtime
    staging contract); (2) eviction REALLY fires mid-drain (some
    version holds fewer windows than the cumulative window count —
    the audit is not vacuous); (3) the boundary predicate (window end
    STRICTLY greater than watermark survives) is unambiguous on these
    fixtures: no per-batch watermark lands exactly on an hour
    boundary, so > vs >= cannot diverge (microsecond-noise
    timestamps; asserted, not assumed)."""
    import json
    import os

    from table_demo_spark.queries.streaming import (
        _no_data_batches_off,
        q44_watermark_eviction_final,
    )
    from table_demo_spark.sources.batch import load_table
    from table_demo_spark.streaming.queries import (
        Q44_SHARDS,
        run_q44_watermark_rollup,
    )

    ckpt = str(tmp_path / "ckpt")
    with _no_data_batches_off(spark):
        query, _ = run_q44_watermark_rollup(
            spark, SF_SMOKE, checkpoint=ckpt
        )
        assert query.awaitTermination(180)
    commits = sorted(
        int(n) for n in os.listdir(os.path.join(ckpt, "commits"))
        if n.isdigit()
    )
    assert len(commits) == Q44_SHARDS
    # (1) consumption order == rank order
    consumed = []
    for j in commits:
        with open(os.path.join(ckpt, "sources", "0", str(j))) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    consumed.append(
                        os.path.basename(json.loads(line)["path"])
                    )
    assert consumed == [f"shard-{i}.parquet" for i in range(Q44_SHARDS)]
    # (3) no watermark ever lands exactly on an hour boundary
    from pyspark.sql import functions as F

    ev = load_table(spark, SF_SMOKE, "events")
    delay_ms = 4 * 3600_000
    # per-shard maxima via the staged files themselves
    from table_demo_spark.streaming.queries import ensure_events_time_shards

    sd = ensure_events_time_shards(spark, SF_SMOKE)
    for i in range(Q44_SHARDS):
        m = (
            spark.read.parquet(os.path.join(sd, f"shard-{i}.parquet"))
            .agg(F.max(F.unix_millis("ts")).alias("m"))
            .collect()[0]["m"]
        )
        assert (m - delay_ms) % 3600_000 != 0, f"shard {i} boundary hit"
    # (2) eviction fires: some version holds fewer open windows than
    # the total distinct windows seen so far
    out = {
        r["version"]: r["n_open"]
        for r in q44_watermark_eviction_final(spark, SF_SMOKE).collect()
    }
    cum_windows = (
        ev.select(
            (F.floor(F.unix_millis("ts") / 3600_000)).alias("w")
        ).distinct().count()
    )
    assert out[max(out)] < cum_windows
    assert any(
        out[v + 1] <= out[v] for v in range(Q44_SHARDS - 1)
    ), out  # retention visibly shrinks or holds between versions
