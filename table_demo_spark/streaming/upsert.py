"""Upsert sinks — the Spark port of ``ElasticUpsertTableSink``.

Reference behaviors reproduced:
- key-based upsert with the document id built by joining key-field
  values with ':' (ElasticUpsertTableSink.scala:125);
- upsert vs delete dispatch on the changelog flag (:144-147) — in
  Structured Streaming ``update`` output mode there are no deletes
  (state eviction is watermark-driven), so the sink's delete path is
  exercised only by the foreachBatch retraction strategies;
- append fast path (:86,96-114) — plain inserts.

``MemoryUpsertSink`` is the in-process stand-in for Elasticsearch: a
keyed dict the tests and demos can assert on. ``foreach_batch_upsert``
adapts any keyed store to ``writeStream.foreachBatch``. A real target
(Delta MERGE, JDBC upsert, ES bulk) plugs in by implementing
``upsert(rows)`` / ``delete(keys)``.
"""

from __future__ import annotations

import os
import re
import shutil
import threading
from typing import Callable

from pyspark.sql import DataFrame

from table_demo_spark.streaming import start_stream


def committed_generation(path: str, marker: str = "_SUCCESS") -> int:
    """Resume point of a generation-flip sink rooted at ``path``: the
    highest ``gen=N`` directory holding ``marker`` (by default the
    ``_SUCCESS`` file Spark's job commit leaves), or 0 if none does.

    Each sink writes generation N+1 in full, marks it, and only then
    removes generation N. A process that dies in between leaves a newer
    generation without the marker — empty, or holding part files —
    beside the intact one. Adopting it would make the next batch merge
    with a partial table and drop every key it lacks, so every unmarked
    generation above the committed one is discarded."""
    os.makedirs(path, exist_ok=True)
    gens = sorted(
        (
            int(m.group(1))
            for d in os.listdir(path)
            if (m := re.fullmatch(r"gen=(\d+)", d))
        ),
        reverse=True,
    )
    for g in gens:
        d = os.path.join(path, f"gen={g}")
        if os.path.exists(os.path.join(d, marker)):
            return g
        shutil.rmtree(d, ignore_errors=True)
    return 0


class MemoryUpsertSink:
    """Thread-safe keyed row store; doc id = ':'-joined key values."""

    def __init__(self, key_cols: tuple[str, ...]):
        self.key_cols = key_cols
        self._rows: dict[str, dict] = {}
        self._lock = threading.Lock()

    def doc_id(self, row: dict) -> str:
        return ":".join(str(row[k]) for k in self.key_cols)

    def upsert(self, rows: list[dict]) -> None:
        with self._lock:
            for r in rows:
                self._rows[self.doc_id(r)] = r

    def delete(self, keys: list[str]) -> None:
        with self._lock:
            for k in keys:
                self._rows.pop(k, None)

    def snapshot(self) -> list[dict]:
        with self._lock:
            return list(self._rows.values())

    def foreach_batch(self) -> Callable[[DataFrame, int], None]:
        return foreach_batch_upsert(self)


class ParquetUpsertSink:
    """Durable key-based upsert target: a parquet directory maintained
    by MERGE-style read-modify-write per micro-batch — the
    production-shaped analog of the Elasticsearch upsert sink (swap for
    Delta ``MERGE INTO`` / ES bulk on a real deployment; the
    foreachBatch contract is identical).

    Each batch is unioned with the current table and deduplicated by
    key keeping the newest generation (later batch wins — the upsert
    rule of ElasticUpsertTableSink.scala:127-138). Writes go to a new
    generation directory, then the pointer flips — readers never see a
    half-written table, and the overwritten-while-read hazard of
    in-place parquet overwrite never arises."""

    def __init__(self, path: str, key_cols: tuple[str, ...]):
        self.path = path
        self.key_cols = key_cols
        # Resume the merge chain after a process restart (otherwise the
        # first replayed batch would merge with nothing and silently
        # drop every previously upserted key).
        self._gen = committed_generation(path)

    def _gen_dir(self, gen: int) -> str:
        return f"{self.path}/gen={gen}"

    @property
    def current_dir(self) -> str | None:
        return self._gen_dir(self._gen) if self._gen > 0 else None

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        spark = batch_df.sparkSession
        new = batch_df.withColumn("__gen", F.lit(self._gen + 1))
        if self.current_dir is not None:
            # stored rows predate every incoming generation
            cur = spark.read.parquet(self.current_dir).withColumn(
                "__gen", F.lit(0)
            )
            merged = cur.unionByName(new)
        else:
            merged = new
        w = Window.partitionBy(*self.key_cols).orderBy(F.col("__gen").desc())
        latest = (
            merged.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__gen")
        )
        nxt = self._gen_dir(self._gen + 1)
        latest.write.mode("overwrite").parquet(nxt)
        old = self.current_dir
        self._gen += 1
        if old is not None:
            shutil.rmtree(old, ignore_errors=True)

    def apply_changelog(
        self, batch_df: DataFrame, batch_id: int, op_col: str = "__op"
    ) -> None:
        """Upsert/delete dispatch on a changelog flag column — the
        reference sink's RequestIndexer branch
        (ElasticUpsertTableSink.scala:140-147): rows with ``op_col`` =
        'D' remove their key from the table, every other row upserts.
        Deletes of absent keys are no-ops (left-anti join). Same
        generation-flip write discipline as ``apply_batch``."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        spark = batch_df.sparkSession
        dels = batch_df.filter(F.col(op_col) == "D").select(*self.key_cols)
        ups = batch_df.filter(F.col(op_col) != "D").drop(op_col).withColumn(
            "__gen", F.lit(1)
        )
        if self.current_dir is not None:
            cur = (
                spark.read.parquet(self.current_dir)
                .join(dels, on=list(self.key_cols), how="left_anti")
                .withColumn("__gen", F.lit(0))
            )
            merged = cur.unionByName(ups)
        else:
            merged = ups
        w = Window.partitionBy(*self.key_cols).orderBy(F.col("__gen").desc())
        latest = (
            merged.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__gen")
        )
        nxt = self._gen_dir(self._gen + 1)
        latest.write.mode("overwrite").parquet(nxt)
        old = self.current_dir
        self._gen += 1
        if old is not None:
            shutil.rmtree(old, ignore_errors=True)

    def snapshot_df(self, spark) -> DataFrame:
        assert self.current_dir is not None, "no batch written yet"
        return spark.read.parquet(self.current_dir)

    def snapshot(self) -> list[dict]:
        """MemoryUpsertSink-compatible convenience for tests/demos:
        the current table as row dicts via the active session.  The
        distributed read path is ``snapshot_df`` — this collect is
        bounded by the sink's key domain, never the stream volume."""
        from pyspark.sql import SparkSession

        if self.current_dir is None:
            return []
        spark = SparkSession.getActiveSession()
        return [r.asDict() for r in self.snapshot_df(spark).collect()]

    def count(self, spark=None) -> int:
        """Row count of the current table (0 before the first batch) —
        the drain-polling probe. Reads parquet footer metadata only
        (no Spark job): polls happen every few hundred ms during a
        drain, and a full distributed count per poll would dominate
        the drain time."""
        import glob

        import pyarrow.parquet as pq

        for _ in range(8):  # generation may flip mid-read; retry
            d = self.current_dir
            if d is None:
                return 0
            try:
                files = glob.glob(os.path.join(d, "*.parquet"))
                total = sum(
                    pq.ParquetFile(f).metadata.num_rows for f in files
                )
            except FileNotFoundError:
                continue
            # rmtree between pointer read and glob empties the glob
            # without raising — re-check and retry instead of reporting
            # a transient 0 to the drain's stability probe.
            if self.current_dir != d or (not files and not os.path.isdir(d)):
                continue
            return total
        return 0

    def foreach_batch(self) -> Callable[[DataFrame, int], None]:
        return self.apply_batch


class ParquetAppendSink:
    """Append-mode durable sink = Spark's native parquet file sink
    (exactly-once via the `_spark_metadata` commit log). For append
    streams keys never update, so the upsert merge is pure overhead —
    each micro-batch writes only its own files, the scale-correct
    O(batch) shape (the reference's append fast path,
    ElasticUpsertTableSink.scala:86,96-114)."""

    def __init__(self, path: str, partition_by: tuple[str, ...] = ()):
        self.path = path
        self.partition_by = tuple(partition_by)

    def bind_stream(self, df: DataFrame, checkpoint: str):
        writer = (
            df.writeStream.outputMode("append")
            .format("parquet")
            .option("path", self.path)
            .option("checkpointLocation", checkpoint)
        )
        if self.partition_by:
            # Hive-style partition directories (the file sink's commit
            # log tracks them) — e.g. one inverted list per centroid
            # for stream_q29, so the probe's IN-list prunes whole
            # directories at scan time.
            writer = writer.partitionBy(*self.partition_by)
        return start_stream(writer)

    def count(self, spark=None) -> int:
        """Footer-metadata row count over written part files — the
        drain-poll probe (may briefly overcount files not yet in the
        commit log; polling only needs stability, and the final read
        goes through the log). Recursive so partitioned layouts
        (partition_by) are counted too."""
        import glob

        import pyarrow.parquet as pq

        total = 0
        for f in glob.glob(
            os.path.join(self.path, "**", "part-*.parquet"), recursive=True
        ):
            try:
                total += pq.ParquetFile(f).metadata.num_rows
            except (FileNotFoundError, OSError):
                continue  # racing an in-progress write
        return total

    def snapshot_df(self, spark) -> DataFrame:
        return spark.read.parquet(self.path)

    def snapshot(self) -> list[dict]:
        """MemoryUpsertSink-compatible convenience for tests/demos
        (see ParquetUpsertSink.snapshot)."""
        import glob

        from pyspark.sql import SparkSession

        if not glob.glob(
            os.path.join(self.path, "**", "part-*.parquet"), recursive=True
        ):
            return []
        spark = SparkSession.getActiveSession()
        return [r.asDict() for r in self.snapshot_df(spark).collect()]


class ConsoleDebugSink:
    """K4 — the console/debug sink: records EVERY update-mode change as
    a (batch_id, row) log line, optionally echoing it like
    ``writeStream.format("console")`` (the reference's stdout sink,
    printed per changelog message). The log IS the sink's contents —
    ``snapshot()`` folds it to the last update per key, which for an
    update-mode aggregate equals the final result table.

    Debug tool by design: output volume equals changelog volume, so it
    belongs on bounded key domains / sampled streams only — the same
    caveat the reference's print sink carries. Not a scale target."""

    def __init__(self, key_cols: tuple[str, ...], echo: bool = False):
        self.key_cols = key_cols
        self.echo = echo
        self._log: list[tuple[int, dict]] = []
        self._lock = threading.Lock()

    def foreach_batch(self) -> Callable[[DataFrame, int], None]:
        def fn(batch_df: DataFrame, batch_id: int) -> None:
            rows = [r.asDict() for r in batch_df.collect()]
            with self._lock:
                for r in rows:
                    self._log.append((batch_id, r))
                    if self.echo:
                        print(f"[batch {batch_id}] {r}")

        return fn

    def log(self) -> list[tuple[int, dict]]:
        with self._lock:
            return list(self._log)

    def snapshot(self) -> list[dict]:
        latest: dict[tuple, dict] = {}
        with self._lock:
            for _, r in self._log:
                latest[tuple(r[k] for k in self.key_cols)] = r
        return list(latest.values())


def foreach_batch_upsert(
    sink: MemoryUpsertSink,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function applying each micro-batch as upserts.

    In ``update`` mode a micro-batch contains exactly the keys whose
    aggregate changed — applying them as key-based upserts reproduces
    the reference's continuously-updated result table. At scale the
    collect below becomes the sink client's bulk API (ES bulk, Delta
    MERGE) executed per partition via ``df.foreachPartition``.
    """

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        sink.upsert([r.asDict() for r in batch_df.collect()])

    return fn


class VersionedCdcSink:
    """CDC materializer: highest VERSION wins, not latest arrival.

    ``ParquetUpsertSink`` implements "later batch wins" — correct when
    upstream emits per-key changes in order (update-mode aggregates).
    A raw CDC/changelog stream with bounded disorder breaks that
    premise: a micro-batch can carry an out-of-order OLD change for a
    key whose newer change already applied. This sink merges by
    explicit version columns instead, and keeps deletes as VERSIONED
    TOMBSTONES so a late, older upsert cannot resurrect a deleted key
    — the standard CDC-materialization discipline (Debezium/Delta CDF
    consumers do exactly this).

    Idempotent by algebra: max-version-per-key is associative,
    commutative, idempotent, so at-least-once redelivery and batch
    replay after restart are safe with no replay guard. Same
    generation-flip write discipline as ``ParquetUpsertSink``.

    Scale shape: per batch one shuffle on the key (window over
    key ordered by version desc); at 100 TB the store becomes a Delta/
    Iceberg MERGE with the same version predicate — the foreachBatch
    contract is unchanged.
    """

    def __init__(
        self,
        path: str,
        key_cols: tuple[str, ...],
        version_cols: tuple[str, ...],
    ):
        self.path = path
        self.key_cols = key_cols
        self.version_cols = version_cols
        self._gen = committed_generation(path)

    def _gen_dir(self, gen: int) -> str:
        return f"{self.path}/gen={gen}"

    @property
    def current_dir(self) -> str | None:
        return self._gen_dir(self._gen) if self._gen > 0 else None

    def apply_changelog(
        self, batch_df: DataFrame, batch_id: int, op_col: str = "__op"
    ) -> None:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        spark = batch_df.sparkSession
        new = batch_df.withColumn(
            "__deleted", F.col(op_col) == "D"
        ).drop(op_col)
        if self.current_dir is not None:
            merged = spark.read.parquet(self.current_dir).unionByName(new)
        else:
            merged = new
        w = Window.partitionBy(*self.key_cols).orderBy(
            *[F.col(v).desc() for v in self.version_cols]
        )
        latest = (
            merged.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        nxt = self._gen_dir(self._gen + 1)
        latest.write.mode("overwrite").parquet(nxt)
        old = self.current_dir
        self._gen += 1
        if old is not None:
            shutil.rmtree(old, ignore_errors=True)

    def count(self, spark=None) -> int:
        """Footer-metadata row count (tombstones included) — the
        drain-poll stability probe, no Spark job per poll."""
        import glob

        import pyarrow.parquet as pq

        for _ in range(8):
            d = self.current_dir
            if d is None:
                return 0
            try:
                return sum(
                    pq.ParquetFile(f).metadata.num_rows
                    for f in glob.glob(os.path.join(d, "*.parquet"))
                )
            except FileNotFoundError:
                continue
        return 0

    def snapshot_df(self, spark) -> DataFrame:
        """The materialized table: live rows only (tombstones hidden)."""
        from pyspark.sql import functions as F

        assert self.current_dir is not None, "no batch written yet"
        return (
            spark.read.parquet(self.current_dir)
            .filter(~F.col("__deleted"))
            .drop("__deleted")
        )
