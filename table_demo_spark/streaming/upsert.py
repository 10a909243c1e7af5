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

The durable keyed tables — ``ParquetUpsertSink`` and
``VersionedCdcSink`` here, the histogram, sketch and count sinks in
``streaming/queries.py`` — share one on-disk protocol,
``GenerationStore``: each micro-batch's merged table is written in full
as the next generation, marked committed with the batch id, and only
then replaces the previous one. Readers never see a half-written table,
and a restart resumes from the last committed generation. Each sink
adds only its merge expression.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import threading
from typing import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from table_demo_spark.sources.batch import read_parquet
from table_demo_spark.streaming import start_stream


def footer_rows(pattern: str) -> int:
    """Row total of the parquet files matching the glob ``pattern``
    (``**`` recurses), read from their footers: no Spark job, so a
    drain can poll it every few hundred ms. A file removed between the
    glob and its read counts 0."""
    import pyarrow.parquet as pq

    total = 0
    for f in glob.glob(pattern, recursive=True):
        try:
            total += pq.ParquetFile(f).metadata.num_rows
        except OSError:
            continue
    return total


class GenerationStore:
    """The generation-flip table rooted at ``path``.

    ``commit`` writes generation N+1 in full as ``gen=N+1``, renames a
    marker holding the batch id into it, moves the pointer, and only
    then removes generation N. A process that dies before the rename
    leaves an unmarked generation beside the intact one — empty, or
    holding part files. Adopting it would merge the next batch with a
    partial table and drop every key it lacks, so a new store adopts
    the newest marked generation and removes all others. The marker's
    leading ``_`` keeps parquet readers off it."""

    _PREFIX = "gen="
    _MARKER = "_COMMIT.json"

    def __init__(self, path: str):
        self.path = path
        self._gen = 0
        self.last_batch = -1  # batch id of the current generation
        self._schema = None  # of the frame last committed
        os.makedirs(path, exist_ok=True)
        gens = sorted(
            (
                int(n)
                for d in os.listdir(path)
                if (n := d.removeprefix(self._PREFIX)) != d and n.isdigit()
            ),
            reverse=True,
        )
        for g in gens:
            marker = os.path.join(self._dir(g), self._MARKER)
            if self._gen == 0 and os.path.exists(marker):
                with open(marker) as f:
                    self._gen, self.last_batch = g, json.load(f)["batch_id"]
            else:
                shutil.rmtree(self._dir(g), ignore_errors=True)

    def _dir(self, gen: int) -> str:
        return f"{self.path}/{self._PREFIX}{gen}"

    @property
    def current_dir(self) -> str | None:
        return self._dir(self._gen) if self._gen > 0 else None

    def commit(self, df: DataFrame, batch_id: int) -> None:
        nxt = self._dir(self._gen + 1)
        df.write.mode("overwrite").parquet(nxt)
        self._schema = df.schema
        tmp = os.path.join(nxt, f"{self._MARKER}.tmp")
        with open(tmp, "w") as f:
            json.dump({"batch_id": batch_id}, f)
        os.replace(tmp, os.path.join(nxt, self._MARKER))
        old = self.current_dir
        self._gen, self.last_batch = self._gen + 1, batch_id
        if old is not None:
            shutil.rmtree(old, ignore_errors=True)

    def read(self, spark, empty_schema: str | None = None) -> DataFrame:
        """The current table; before the first commit an empty frame of
        ``empty_schema``, which sinks without a fixed schema omit. The
        table is read with the schema ``commit`` wrote, so no footer
        job infers it; a resumed store infers it once."""
        if self.current_dir is None:
            assert empty_schema is not None, "no batch written yet"
            return spark.createDataFrame([], empty_schema)
        return read_parquet(spark, self.current_dir, self._schema)

    def union(self, df: DataFrame) -> DataFrame:
        """The current table (if any) unioned by name with ``df``."""
        if self.current_dir is None:
            return df
        return self.read(df.sparkSession).unionByName(df)

    def count(self) -> int:
        """Footer row count of the current table. A commit can move the
        pointer and remove the old directory between the pointer read
        and the glob, which reads short or empty without raising — so a
        count stands only if the pointer held still meanwhile."""
        for _ in range(8):
            d = self.current_dir
            n = footer_rows(f"{d}/*.parquet") if d else 0
            if d == self.current_dir:
                return n
        return 0


class GenerationSink:
    """A durable keyed table in a ``GenerationStore``: subclasses merge
    each batch with the stored table and ``store.commit`` the result.
    Sinks whose merge is idempotent take every batch as it comes; the
    others skip a batch id at or below ``store.last_batch`` — the
    replay of the last batch after a restart."""

    empty_schema: str | None = None  # snapshot_df before the first commit

    def __init__(self, path: str):
        self.path = path
        self.store = GenerationStore(path)

    @property
    def current_dir(self) -> str | None:
        return self.store.current_dir

    def count(self, spark=None) -> int:
        """Footer row count (no Spark job) — the drain-poll probe."""
        return self.store.count()

    def snapshot_df(self, spark) -> DataFrame:
        return self.store.read(spark, self.empty_schema)

    def snapshot(self) -> list[dict]:
        """MemoryUpsertSink-compatible convenience for tests/demos:
        the current table as row dicts via the active session. The
        distributed read path is ``snapshot_df`` — this collect is
        bounded by the sink's key domain, never the stream volume."""
        from pyspark.sql import SparkSession

        if self.current_dir is None:
            return []
        spark = SparkSession.getActiveSession()
        return [r.asDict() for r in self.snapshot_df(spark).collect()]


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


class ParquetUpsertSink(GenerationSink):
    """Durable key-based upsert target: a parquet table maintained by
    MERGE-style read-modify-write per micro-batch — the
    production-shaped analog of the Elasticsearch upsert sink (swap for
    Delta ``MERGE INTO`` / ES bulk on a real deployment; the
    foreachBatch contract is identical).

    Each batch is unioned with the stored table and deduplicated by key
    keeping the batch's row (later batch wins — the upsert rule of
    ElasticUpsertTableSink.scala:127-138). Key overwrite is idempotent,
    so a replayed batch needs no guard."""

    def __init__(self, path: str, key_cols: tuple[str, ...]):
        super().__init__(path)
        self.key_cols = key_cols

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        self._merge(batch_df, batch_id)

    def apply_changelog(
        self, batch_df: DataFrame, batch_id: int, op_col: str = "__op"
    ) -> None:
        """Upsert/delete dispatch on a changelog flag column — the
        reference sink's RequestIndexer branch
        (ElasticUpsertTableSink.scala:140-147): rows with ``op_col`` =
        'D' remove their key from the table, every other row upserts.
        Deletes of absent keys are no-ops (left-anti join)."""
        dels = batch_df.filter(F.col(op_col) == "D").select(*self.key_cols)
        ups = batch_df.filter(F.col(op_col) != "D").drop(op_col)
        self._merge(ups, batch_id, dels)

    def _merge(
        self, ups: DataFrame, batch_id: int, dels: DataFrame | None = None
    ) -> None:
        merged = ups.withColumn("__gen", F.lit(1))
        if self.current_dir is not None:
            cur = self.store.read(ups.sparkSession)
            if dels is not None:
                cur = cur.join(dels, on=list(self.key_cols), how="left_anti")
            # stored rows predate every incoming row
            merged = cur.withColumn("__gen", F.lit(0)).unionByName(merged)
        w = Window.partitionBy(*self.key_cols).orderBy(F.col("__gen").desc())
        latest = (
            merged.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__gen")
        )
        self.store.commit(latest, batch_id)

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
        return footer_rows(os.path.join(self.path, "**", "part-*.parquet"))

    def snapshot_df(self, spark) -> DataFrame:
        return spark.read.parquet(self.path)

    def snapshot(self) -> list[dict]:
        """MemoryUpsertSink-compatible convenience for tests/demos
        (see GenerationSink.snapshot)."""
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


class VersionedCdcSink(GenerationSink):
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
    replay after restart are safe with no replay guard.

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
        super().__init__(path)
        self.key_cols = key_cols
        self.version_cols = version_cols

    def apply_changelog(
        self, batch_df: DataFrame, batch_id: int, op_col: str = "__op"
    ) -> None:
        new = batch_df.withColumn(
            "__deleted", F.col(op_col) == "D"
        ).drop(op_col)
        w = Window.partitionBy(*self.key_cols).orderBy(
            *[F.col(v).desc() for v in self.version_cols]
        )
        latest = (
            self.store.union(new)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        self.store.commit(latest, batch_id)

    def snapshot_df(self, spark) -> DataFrame:
        """The materialized table: live rows only (tombstones hidden;
        ``count`` includes them)."""
        return (
            super().snapshot_df(spark)
            .filter(~F.col("__deleted"))
            .drop("__deleted")
        )
