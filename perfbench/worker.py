"""One benchmark run of one workload, measured from outside the engine.

Started by ``run.py`` inside the run's sandbox; writes its result JSON
to ``--out``. The engine is driven only through its public functions:
``session.get_spark``, the query registry, ``sources.replay``'s
``ensure_emit_ordered`` and ``streaming.queries.run_q1_stream`` with a
``ParquetUpsertSink`` whose ``foreach_batch`` callable is wrapped here.
Layer readings come from wall-clock timing of those calls, Spark's
status tracker and streaming progress reports, and ``/proc``.

Workloads
- ``stream``: open loop. Q1 (replay source -> in_nyc/cell filter ->
  1-day tumbling count, 61 s watermark -> ParquetUpsertSink) over
  seeded generated events that the replay source releases at a fixed
  rate on its own wall clock. Latency of an event runs from its due
  time on the replay schedule to the return of the sink call that
  committed it.
- ``analytics``: closed loop, one client, over a seeded generated
  sf0.1-shaped dataset: the paper's three batch queries and four
  analytics queries (JVM only: no Python node). Latency of a query
  runs from calling its registry function to the return of its noop
  write.

With ``--trace 1`` the run also records spans and per-layer metrics;
the end-to-end numbers of record come from ``--trace 0`` runs. A traced
``stream`` run ends with one registry drain of Q1 over the same events,
observed through a StreamingQueryListener, for the ``drain.*`` layer of
``queries.streaming``.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import re
import statistics
import sys
import time
import traceback

T0 = float(os.environ.get("PERFBENCH_T0", time.time()))

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import procstat  # noqa: E402

ANALYTICS = [
    "ref_q1_tumble",
    "ref_q2_over_range",
    "ref_q3_cnt_freq",
    "an_a1_pricing_summary",
    "an_a2_revenue_by_nation",
    "an_a9_interval_join",
    "an_a12_asof_join",
]
# Registry drain whose layers a traced stream run records.
DRAIN = "stream_q1_tumble_upsert"

# Closed-loop warm-up: after the cold round, at least MIN_WARM_ROUNDS
# whole rounds, then more until one is within SETTLE of the round before
# it. A run that has not settled after MAX_WARM_ROUNDS fails.
SETTLE = 0.15
MIN_WARM_ROUNDS = 2
MAX_WARM_ROUNDS = 6

# Paced stream: offered rate, replay speed (event-time ms per wall ms)
# and the replay's bounded disorder (the engine's default, 60 s).
STREAM_RATE = 2000.0
STREAM_SPEED = 240.0
STREAM_MAX_DELAY_MS = 60_000
# Start-up: at least STARTUP_MIN_BATCHES commits, then the last three
# commit-to-commit intervals within STARTUP_SPREAD of each other. A run
# that has not settled after STARTUP_LIMIT_S fails.
STARTUP_MIN_BATCHES = 4
STARTUP_SPREAD = 1.25
STARTUP_LIMIT_S = 60.0
# Replay length: start-up allowance plus the timed window plus slack.
STREAM_EXTRA_S = 75.0

PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def layer_metric_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, as BENCHMARK.json's
    ``per_layer`` lists them; a run reports all of them, with 0 for a
    layer its workload does not reach."""
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def end_of_measurement(flag: str) -> None:
    """Tell the launcher that the program's work is over: the oracle
    checks that follow do not count towards peak memory."""
    open(flag, "w").close()


def log(msg: str) -> None:
    print(f"[perfbench {time.time() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def quantile(values, p: float) -> float:
    """Harrell-Davis estimate of the p-quantile: a Beta(p(n+1),
    (1-p)(n+1))-weighted mean of all order statistics. Samples cluster
    by query (closed loop) or by micro-batch (stream), and the plain
    order statistic jumps between clusters. Over the sets of analytics
    runs measured, this estimate spread less from run to run than
    numpy's linear percentile in 9 of 10 comparisons (p50 and p90)."""
    import numpy as np

    x = np.sort(np.asarray(values, dtype="float64"))
    n = len(x)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    t = np.linspace(0.0, 1.0, 200_001)
    tc = np.clip(t, 1e-12, 1 - 1e-12)
    logpdf = (a - 1) * np.log(tc) + (b - 1) * np.log1p(-tc)
    pdf = np.exp(logpdf - logpdf.max())
    cdf = np.concatenate(([0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)))
    cdf /= cdf[-1]
    w = np.diff(np.interp(np.arange(n + 1) / n, t, cdf))
    return float(w @ x)


class Trace:
    """In-memory spans and per-layer samples; written out at exit.
    Disabled, it records nothing and its probes are never called."""

    def __init__(self, on: bool):
        self.on = on
        self.spans: list[dict] = []
        self.samples: dict[str, list[float]] = {}
        self.values: dict[str, float] = {}

    def span(self, name, start, end, parent=None, op=None, **attrs) -> int | None:
        if not self.on:
            return None
        sid = len(self.spans)
        self.spans.append(
            dict(id=sid, name=name, start=start, end=end, parent=parent, op=op, **attrs)
        )
        return sid

    def sample(self, name: str, value: float) -> None:
        if self.on:
            self.samples.setdefault(name, []).append(float(value))

    def set(self, name: str, value: float) -> None:
        if self.on:
            self.values[name] = float(value)

    def metrics(self) -> dict[str, dict]:
        units = layer_metric_units()
        out = {}
        for name, unit in units.items():
            if name in self.values:
                v = self.values[name]
            elif name in self.samples:
                v = statistics.median(self.samples[name])
            else:
                v = 0.0
            out[name] = {"value": round(v, 6) + 0.0, "unit": unit}
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "samples": self.samples}, f)


def start_session(sandbox: str, trace: Trace):
    # Engine scratch (checkpoints, sink tables) goes to the sandbox, not
    # the shared tmpfs, so a run writes only inside its checkout.
    from table_demo_spark import scratch

    scratch._SHM = os.path.join(sandbox, "scratch")
    from table_demo_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(sandbox, "warehouse"),
        # A fixed-size heap, touched in full at start. With the engine's
        # 12g cap and G1's adaptive sizing the JVM's peak PSS in one
        # workload ranged from 2.1 to 3.9 GB between runs; pinned, it
        # repeats within 1%. The heap is therefore a constant part of
        # peak_pss_mb, and heap_used_mb reports what the heap holds.
        "spark.driver.extraJavaOptions": (
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch"
        ),
    }
    t = time.time()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    trace.set("session.start_s", time.time() - t)
    trace.span("session.get_spark", t, time.time())
    return spark


def heap_used_mb(spark) -> float:
    """JVM heap in use right after a full GC, in MB: the live objects
    the engine holds (plans, state, caches)."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return mem.getHeapMemoryUsage().getUsed() / 2**20


def job_stats(spark, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under job group ``group``."""
    return _jobs_tasks(spark, spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _jobs_tasks(spark, jobs) -> tuple[int, int]:
    st = spark.sparkContext.statusTracker()
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            si = st.getStageInfo(s)
            tasks += si.numTasks if si else 0
    return len(jobs), tasks


def _idx(offset) -> int:
    """Row index of a replay-source offset ({"idx": n}, as a dict or its
    text); 0 before the first batch."""
    m = re.search(r"idx\W+(\d+)", str(offset))
    return int(m.group(1)) if m else 0


def parse_ts(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def batch_spans(trace: Trace, progress: list[dict], parent, op) -> None:
    """Micro-batch spans and their phase children, from progress
    reports. Phases are laid end to end in execution order."""
    for p in progress:
        start = parse_ts(p["timestamp"])
        d = p["durationMs"]
        end = start + d.get("triggerExecution", 0) / 1000.0
        sid = trace.span("streaming.batch", start, end, parent, op, batch=p["batchId"])
        t = start
        for ph in PHASES:
            ms = d.get(ph, 0)
            trace.span(f"streaming.{ph}", t, t + ms / 1000.0, sid, op)
            t += ms / 1000.0


def sample_progress(trace: Trace, progress: list[dict]) -> None:
    for p in progress:
        d = p["durationMs"]
        trace.sample("streaming.batch_ms", d.get("triggerExecution", 0))
        for ph in ("addBatch", "queryPlanning", "walCommit", "commitOffsets"):
            trace.sample(f"streaming.{ph}_ms", d.get(ph, 0))
        trace.sample("sources.replay.latestOffset_ms", d.get("latestOffset", 0))
        trace.sample("sources.replay.getBatch_ms", d.get("getBatch", 0))
        trace.sample("streaming.rows_per_batch", p.get("numInputRows", 0))
        ops = p.get("stateOperators") or []
        trace.sample("streaming.state_rows", sum(o.get("numRowsTotal", 0) for o in ops))
        trace.sample("streaming.state_commit_ms", sum(o.get("commitTimeMs", 0) for o in ops))


class Oracle:
    """DuckDB over the run's parquet inputs, compared with the
    canonical comparison of ``tests/compare.py``."""

    def __init__(self, tables: dict[str, str]):
        import duckdb

        self.con = duckdb.connect()
        for name, path in tables.items():
            self.con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")

    def mismatch(self, sql: str, got_pdf) -> str | None:
        """None if ``got_pdf`` equals the oracle's answer, else why not."""
        from tests.compare import assert_matches

        class _Frame:
            def toPandas(self):
                return got_pdf

        try:
            assert_matches(_Frame(), self.con.sql(sql).df())
        except AssertionError as e:
            return str(e) or "mismatch"
        return None


# ---------------------------------------------------------------------------
# Closed loop
# ---------------------------------------------------------------------------


class QueryLoop:
    """One client running registry queries back to back."""

    def __init__(self, spark, data_dir: str, names: list[str], trace: Trace):
        from table_demo_spark.queries import all_queries

        self.spark = spark
        self.data_dir = data_dir
        self.registry = {q.name: q for q in all_queries()}
        self.names = names
        self.trace = trace
        self.procs = procstat.SparkProcesses(os.getpid()) if trace.on else None
        self.n_ops = 0

    def run_once(self, name: str, traced: bool) -> float:
        """Build and execute one query; returns its latency in seconds.
        Traced, also records its spans and layer samples."""
        fn = self.registry[name].spark_fn
        if not traced:
            t = time.perf_counter()
            fn(self.spark, self.data_dir).write.format("noop").mode("overwrite").save()
            lat = time.perf_counter() - t
            self.spark.catalog.clearCache()
            return lat

        sc = self.spark.sparkContext
        op = self.n_ops
        self.n_ops += 1
        sc.setJobGroup(f"b{op}", name)
        t0 = time.time()
        df = fn(self.spark, self.data_dir)
        t1 = time.time()
        cpu1 = self.procs.snapshot()
        sc.setJobGroup(f"e{op}", name)
        df.write.format("noop").mode("overwrite").save()
        t2 = time.time()
        cpu2 = self.procs.snapshot()
        self.spark.catalog.clearCache()

        root = self.trace.span(name, t0, t2, None, op)
        self.trace.span("queries.build", t0, t1, root, op)
        self.trace.span("exec", t1, t2, root, op)
        b_jobs, _ = job_stats(self.spark, f"b{op}")
        e_jobs, e_tasks = job_stats(self.spark, f"e{op}")
        jvm, py = cpu2[0] - cpu1[0], cpu2[1] - cpu1[1]
        for key, v in (
            ("queries.build_ms", (t1 - t0) * 1000),
            ("queries.build_jobs", b_jobs),
            ("exec.ms", (t2 - t1) * 1000),
            ("exec.jobs", e_jobs),
            ("exec.tasks", e_tasks),
            ("exec.jvm_cpu_s", jvm),
            ("exec.pyworker_cpu_s", py),
        ):
            self.trace.sample(f"{key}.{name}", v)
        return t2 - t0

    def round(self, traced: bool = False) -> list[float]:
        return [self.run_once(n, traced) for n in self.names]


def analytics_workload(spark, sandbox, seed, seconds, measured, trace: Trace) -> dict:
    data_dir = os.path.join(sandbox, "data")
    names = list(ANALYTICS)
    loop = QueryLoop(spark, data_dir, names, trace)

    # Cold round: collect every answer for the oracle check.
    answers, failed_names = {}, set()
    for name in names:
        try:
            answers[name] = loop.registry[name].spark_fn(spark, data_dir).toPandas()
        except Exception:
            traceback.print_exc()
            failed_names.add(name)
        spark.catalog.clearCache()
    log(f"cold round done; failed: {sorted(failed_names)}")
    live = [n for n in names if n not in failed_names]
    loop.names = live

    warm, settled = [], False
    while not settled and len(warm) < MAX_WARM_ROUNDS:
        warm.append(sum(loop.round()))
        log(f"warm round {len(warm)}: {warm[-1]:.2f} s")
        settled = len(warm) >= MIN_WARM_ROUNDS and abs(warm[-1] - warm[-2]) <= SETTLE * warm[-1]
    if not settled:
        log(f"round time did not settle in {MAX_WARM_ROUNDS} warm rounds; the run fails")
    trace.set("setup.warmup_rounds", len(warm))
    n_rounds = max(1, math.ceil(seconds / warm[-1]))
    if trace.on:
        n_rounds = max(2, n_rounds + n_rounds % 2)

    # Timed region: whole rounds, so every query is sampled equally.
    setup_s = time.time() - T0
    lat: dict[str, list[float]] = {n: [] for n in live}
    by_mode: dict[bool, dict[str, list[float]]] = {True: {}, False: {}}
    t_start = time.perf_counter()
    for r in range(n_rounds):
        traced = trace.on and r % 2 == 0
        for name, x in zip(live, loop.round(traced)):
            lat[name].append(x)
            by_mode[traced].setdefault(name, []).append(x)
    elapsed = time.perf_counter() - t_start
    log(f"timed {n_rounds} rounds in {elapsed:.2f} s")
    log("latencies (ms): " + " ".join(f"{x * 1000:.1f}" for n in live for x in lat[n]))
    heap_mb = heap_used_mb(spark)

    # Output checks, outside the timed region.
    end_of_measurement(measured)
    oracle = Oracle(
        {t: os.path.join(data_dir, f"{t}.parquet") for t in datagen.ROWS}
    )
    for name in live:
        sql = loop.registry[name].oracle
        why = oracle.mismatch(sql, answers[name]) if sql else None
        if why:
            log(f"oracle mismatch {name}: {why}")
            failed_names.add(name)

    all_lat = [x for n in live for x in lat[n]]
    attempted = len(all_lat) + sum(1 for n in names if n not in live)
    failed = sum(1 for n in names if n not in live) + sum(
        len(lat[n]) for n in live if n in failed_names or not settled
    )
    metrics = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "latency_p50_ms": {"value": quantile(all_lat, 0.5) * 1000, "unit": "ms", "samples": len(all_lat)},
        "latency_p90_ms": {"value": quantile(all_lat, 0.9) * 1000, "unit": "ms", "samples": len(all_lat)},
        "throughput_per_s": {"value": len(all_lat) / elapsed, "unit": "1/s"},
        "heap_used_mb": {"value": heap_mb, "unit": "MB"},
    }
    if trace.on:
        # Per round: the sum over queries of each query's median.
        units = layer_metric_units()
        for metric in (m for m in units if f"{m}.{live[0]}" in units):
            trace.set(
                metric,
                sum(statistics.median(trace.samples[f"{metric}.{n}"]) for n in live),
            )
        ncpu = len(os.sched_getaffinity(0))
        cpu = trace.values["exec.jvm_cpu_s"] + trace.values["exec.pyworker_cpu_s"]
        trace.set("exec.cpu_util", cpu / (trace.values["exec.ms"] / 1000 * ncpu))
        ratios = [
            statistics.median(by_mode[True][n]) / statistics.median(by_mode[False][n])
            for n in live
        ]
        gmean = math.exp(sum(math.log(r) for r in ratios) / len(ratios))
        trace.set("trace.overhead_pct", (gmean - 1) * 100)
    return dict(
        correct=not failed_names, attempted=attempted, failed=failed, metrics=metrics
    )


# ---------------------------------------------------------------------------
# Paced stream (open loop)
# ---------------------------------------------------------------------------


def stream_workload(spark, sandbox, seed, seconds, measured, trace: Trace) -> dict:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from table_demo_spark.queries.reference import Q1_ORACLE
    from table_demo_spark.sources.replay import ensure_emit_ordered
    from table_demo_spark.streaming.queries import run_q1_stream
    from table_demo_spark.streaming.upsert import ParquetUpsertSink

    data_dir = os.path.join(sandbox, "data")
    events, n_events = datagen.write_stream_events(
        data_dir, seed, STREAM_RATE, seconds + STREAM_EXTRA_S, STREAM_SPEED
    )
    t = time.time()
    prepared = ensure_emit_ordered(
        spark, events, timecol="ts", max_delay_ms=STREAM_MAX_DELAY_MS
    )
    trace.set("sources.replay.prep_s", time.time() - t)
    trace.span("sources.replay.ensure_emit_ordered", t, time.time())
    # The prepared files, in name order, hold the replay's emit order.
    files = sorted(glob.glob(os.path.join(prepared, "part-*.parquet")))
    order = pa.concat_tables(
        [pq.read_table(f, columns=["event_id", "__emit_ms"]) for f in files]
    )
    emit = order.column("__emit_ms").to_numpy()
    emit_ids = order.column("event_id").to_numpy()
    if len(emit) != n_events:
        raise RuntimeError(f"replay prep holds {len(emit)} of {n_events} events")
    ms_per_s = STREAM_SPEED * 1000.0  # event-time ms released per wall second

    procs = procstat.SparkProcesses(os.getpid()) if trace.on else None
    probe_cost: list[float] = []
    batch_cpu: dict[int, tuple[float, float]] = {}

    class TimedSink(ParquetUpsertSink):
        """The engine's upsert sink, with its foreach_batch callable
        wrapped to time each commit."""

        def __init__(self, path, key_cols):
            super().__init__(path, key_cols)
            self.entries: list[int] = []
            self.commits: list[tuple[int, float, float]] = []

        def foreach_batch(self):
            def apply(batch_df, batch_id):
                self.entries.append(batch_id)
                t0 = time.time()
                self.apply_batch(batch_df, batch_id)
                t1 = time.time()
                self.commits.append((batch_id, t0, t1))
                if procs is not None:
                    batch_cpu[batch_id] = procs.snapshot()
                    probe_cost.append(time.time() - t1)

            return apply

    sink = TimedSink(os.path.join(sandbox, "sink"), ("cell", "dept_time"))
    t_call = time.time()
    sink, query = run_q1_stream(spark, data_dir, speed=STREAM_SPEED, sink=sink)
    trace.set("queries.build_ms", (time.time() - t_call) * 1000)

    # Start-up: wait for the commit interval to settle.
    deadline = time.time() + STARTUP_LIMIT_S
    settled = False
    while not settled and time.time() < deadline:
        c = list(sink.commits)
        if len(c) >= STARTUP_MIN_BATCHES:
            iv = [b[2] - a[2] for a, b in zip(c[-4:], c[-3:])]
            settled = max(iv) <= STARTUP_SPREAD * min(iv)
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        time.sleep(0.02)
    if not sink.commits:
        raise RuntimeError(f"no micro-batch committed in {STARTUP_LIMIT_S:.0f} s")
    if not settled:
        log(f"commit interval did not settle in {STARTUP_LIMIT_S:.0f} s; the run fails")
    n_startup = len(sink.commits)
    trace.set("setup.warmup_rounds", n_startup)
    w0 = sink.commits[-1][2]
    setup_s = w0 - T0
    log(f"steady after {n_startup} batches; window opens")
    # Micro-batch jobs run under the query's runId group, foreachBatch
    # jobs under none.
    st = spark.sparkContext.statusTracker()

    def stream_jobs() -> set[int]:
        return set(st.getJobIdsForGroup(str(query.runId))) | set(st.getJobIdsForGroup(None))

    jobs0 = stream_jobs() if trace.on else set()
    while time.time() < w0 + seconds:
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        time.sleep(0.02)
    jobs1 = stream_jobs() if trace.on else set()
    t_stop = time.time()
    query.stop()
    log(f"stopped in {time.time() - t_stop:.2f} s")
    # Read once no batch is in flight: while the query runs, a batch
    # always is, and its transient objects moved the reading by 70%.
    heap_mb = heap_used_mb(spark)
    progress = {p["batchId"]: p for p in query.recentProgress}

    # Offsets of every batch: from progress reports, else the offset log.
    ckpt = glob.glob(os.path.join(sandbox, "scratch", "tds-ckpt-*"))[0]

    def offsets(bid: int) -> tuple[int, int]:
        p = progress.get(bid)
        if p is not None:
            src = p["sources"][0]
            return _idx(src["startOffset"]), _idx(src["endOffset"])
        with open(os.path.join(ckpt, "offsets", str(bid))) as f:
            end = json.loads(f.read().splitlines()[-1])["idx"]
        return (offsets(bid - 1)[1] if bid > 0 else 0), end

    # Clock anchor of the replay schedule, bounded by each batch's
    # latestOffset call: emit[end-1] was due, emit[end] was not.
    lo, hi = -math.inf, math.inf
    for p in progress.values():
        end = offsets(p["batchId"])[1]
        if end == 0:
            continue
        ts = parse_ts(p["timestamp"])
        lo_call = ts
        hi_call = ts + p["durationMs"].get("latestOffset", 0) / 1000.0
        hi = min(hi, hi_call - (emit[end - 1] - emit[0]) / ms_per_s)
        if end < n_events:
            lo = max(lo, lo_call - (emit[end] - emit[0]) / ms_per_s)
    anchor = (lo + hi) / 2
    # Width of the bound; the progress timestamps' 1 ms resolution can
    # cross the two sides, hence abs.
    trace.set("sources.replay.anchor_ms", abs(hi - lo) * 1000)

    def due(i):
        return anchor + (emit[i] - emit[0]) / ms_per_s

    timed = [c for c in sink.commits if w0 < c[2] <= w0 + seconds]
    lats, backlog = [], []
    committed = 0
    for bid, t0, t1 in timed:
        s, e = offsets(bid)
        lats.append(t1 - due(np.arange(s, e)))
        committed += e - s
        frontier = emit[0] + (t1 - anchor) * ms_per_s
        backlog.append(int(np.searchsorted(emit, frontier, side="right")) - e)
        trace.sample("sources.replay.backlog_rows", backlog[-1])
        trace.sample("streaming.upsert.sink_ms", (t1 - t0) * 1000)
    lat = np.concatenate(lats) if lats else np.zeros(0)
    c = sink.commits
    log("commit intervals (s): " + " ".join(f"{b[2] - a[2]:.2f}" for a, b in zip(c, c[1:])))
    third = max(1, len(timed) // 3)
    iv = [b[2] - a[2] for a, b in zip([sink.commits[n_startup - 1]] + timed, timed)]
    trace.set(
        "streaming.batch_drift_pct",
        (statistics.mean(iv[-third:]) / statistics.mean(iv[:third]) - 1) * 100,
    )
    growing = statistics.mean(backlog[-third:]) > 1.5 * statistics.mean(backlog[:third]) + STREAM_RATE * 0.5
    if growing:
        log(f"backlog grew across the window: {backlog}")

    end_of_measurement(measured)
    # Output check: the sink's final table equals Q1's oracle over the
    # events the committed batches consumed.
    final_gen = int(sink.current_dir.rsplit("gen=", 1)[1])
    final_bid = sink.entries[final_gen - 1]
    n_done = offsets(final_bid)[1]
    got = (
        spark.read.parquet(sink.current_dir)
        .selectExpr("CAST(cell AS INT) cell", "CAST(dept_time AS LONG) dept_time", "CAST(dept_cnt AS LONG) dept_cnt")
        .toPandas()
    )
    oracle = Oracle({"events_all": events})
    oracle.con.register("done_ids", pa.table({"event_id": emit_ids[:n_done]}))
    oracle.con.sql(
        "CREATE VIEW events AS SELECT * FROM events_all "
        "WHERE event_id IN (SELECT event_id FROM done_ids)"
    )
    why = oracle.mismatch(Q1_ORACLE, got)
    if why:
        log(f"oracle mismatch on the stream's upsert table: {why}")
    trace.set("streaming.upsert.table_rows", len(got))

    attempted = max(1, int(lat.size))
    ok = why is None and settled and not growing and lat.size > 0
    metrics = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "latency_p50_ms": {"value": quantile(lat, 0.5) * 1000, "unit": "ms", "samples": len(timed)},
        "latency_p90_ms": {"value": quantile(lat, 0.9) * 1000, "unit": "ms", "samples": len(timed)},
        "throughput_per_s": {"value": committed / (timed[-1][2] - w0), "unit": "1/s"},
        "heap_used_mb": {"value": heap_mb, "unit": "MB"},
    }

    if trace.on:
        timed_ids = {c[0] for c in timed}
        prog = [progress[b] for b in sorted(timed_ids) if b in progress]
        sample_progress(trace, prog)
        root = trace.span("stream.q1", t_call, t_stop, None, 0)
        batch_spans(trace, [progress[b] for b in sorted(progress)], root, 0)
        for bid, t0, t1 in sink.commits:
            trace.span("streaming.upsert.foreach_batch", t0, t1, root, 0, batch=bid)
        # CPU between the commit that opened the window and the last
        # timed commit, per batch.
        (a_bid, _, a_t), (b_bid, _, b_t) = sink.commits[n_startup - 1], timed[-1]
        a, b = batch_cpu[a_bid], batch_cpu[b_bid]
        nb, wall = len(timed), b_t - a_t
        trace.set("exec.ms", wall * 1000 / nb)
        trace.set("exec.jvm_cpu_s", (b[0] - a[0]) / nb)
        trace.set("exec.pyworker_cpu_s", (b[1] - a[1]) / nb)
        ncpu = len(os.sched_getaffinity(0))
        trace.set("exec.cpu_util", (b[0] - a[0] + b[1] - a[1]) / (wall * ncpu))
        n_jobs, n_tasks = _jobs_tasks(spark, sorted(jobs1 - jobs0))
        trace.set("exec.jobs", n_jobs / max(1, len(timed)))
        trace.set("exec.tasks", n_tasks / max(1, len(timed)))
        # The probes run inside the foreachBatch call, so each adds its
        # cost to the batch: that cost over the batch interval.
        interval = statistics.median(y[2] - x[2] for x, y in zip(timed, timed[1:]))
        trace.set("trace.overhead_pct", statistics.median(probe_cost) / interval * 100)
        drain_probe(spark, data_dir, trace)
    return dict(
        correct=ok,
        attempted=attempted,
        failed=0 if ok else attempted,
        metrics=metrics,
    )


def drain_probe(spark, data_dir: str, trace: Trace) -> None:
    """One registry drain, observed through a StreamingQueryListener:
    stream start, batches, gaps between them and the tail to return."""
    from pyspark.sql.streaming import StreamingQueryListener

    from table_demo_spark.queries import all_queries

    reports: list[dict] = []

    class ProgressLog(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            reports.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            reports.append({"terminated": str(event.id)})

    fn = {q.name: q.spark_fn for q in all_queries()}[DRAIN]
    listener = ProgressLog()
    spark.streams.addListener(listener)
    try:
        t0 = time.time()
        fn(spark, data_dir)
        t1 = time.time()
        deadline = t1 + 5.0
        while time.time() < deadline and not any("terminated" in r for r in reports):
            time.sleep(0.02)
    finally:
        spark.streams.removeListener(listener)
    prog = [r for r in reports if "batchId" in r]
    root = trace.span(DRAIN, t0, t1, None, 1)
    batch_spans(trace, prog, root, 1)
    starts = [parse_ts(p["timestamp"]) for p in prog]
    ends = [s + p["durationMs"].get("triggerExecution", 0) / 1000 for s, p in zip(starts, prog)]
    trace.set("drain.start_ms", (starts[0] - t0) * 1000)
    trace.set("drain.batches", len(prog))
    trace.set("drain.gap_ms", ((t1 - t0) - sum(e - s for s, e in zip(starts, ends))) * 1000)
    trace.set("drain.tail_ms", (t1 - max(ends)) * 1000)


WORKLOADS = {"stream": stream_workload, "analytics": analytics_workload}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sandbox", required=True)
    ap.add_argument("--out", required=True, help="result JSON path")
    ap.add_argument("--measured", required=True, help="flag file: measuring is over")
    args = ap.parse_args()

    trace = Trace(bool(args.trace))
    if args.workload == "analytics":
        datagen.write_tables(os.path.join(args.sandbox, "data"), args.seed)
    spark = start_session(args.sandbox, trace)
    try:
        result = WORKLOADS[args.workload](
            spark, args.sandbox, args.seed, args.seconds, args.measured, trace
        )
    finally:
        spark.stop()
    if trace.on:
        result["metrics"] = trace.metrics()
        trace.write(
            os.path.join(
                os.getcwd(), ".perfbench-out", f"trace-{args.workload}-{args.seed}.json"
            )
        )
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
