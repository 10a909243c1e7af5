"""Event-replay streaming source — the Spark-native port of
``TaxiRideSource.java``.

Reference semantics reproduced (file:line cites into /root/reference):
- events served in event-time order, re-ordered by a bounded random
  delay (truncated Gaussian, mean maxDelay/2, std maxDelay/2, seeded —
  TaxiRideSource.java:126,230-237): a deterministic per-row delay is
  added and the data is sorted by delayed *emit time*, exactly the
  reference's PriorityQueue-on-emit-time behavior (:127-134,163-213).
- wall-clock pacing at a serving-speed factor (:216-219): offsets
  advance with real elapsed time * serving_speed.
- watermarking is NOT re-implemented in the source: Spark's
  ``withWatermark`` supplies the bounded-out-of-orderness watermark
  the reference emitted by hand (:102,150,210).

Architecture (the 100-TB shape):

1. ``ensure_emit_ordered(spark, path, ...)`` runs ONCE per
   (source, timecol, max_delay, seed): a distributed batch job that
   computes each row's seeded delay, appends ``__emit_ms`` and
   range-partition-sorts the dataset globally by it. Spark's
   distributed sort handles any input size; the output is a parquet
   directory whose files, in name order, hold the exact emit order.
2. ``ReplayStreamReader`` never touches row data on the driver: it
   indexes the prepared dataset's row-group footers (counts + min/max
   emit-time statistics — O(#row_groups) memory), paces a frontier in
   emit-time, and maps offsets to (file, row-group, row-range) slices.
3. ``read(partition)`` runs on executors: each task opens ONLY its
   row groups with pyarrow and yields Arrow batches. No driver-side
   materialization anywhere. Its first call in a worker makes the
   worker's later tasks skip re-reading unchanged zips on the Python
   path (``_lazy_zip_invalidation``).

The per-row delay is counter-based (Box-Muller over xxhash64 streams
of the row content) rather than the reference's sequential
``Random.nextGaussian`` — a sequential PRNG cannot be drawn in
parallel; content-keyed streams give the same truncated-Gaussian
distribution (mean max/2, std max/2, support [0, max]) while staying
deterministic under any partitioning. ``gaussian_delays_ms`` keeps the
faithful serial reference implementation for tests to compare moments
against.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass
from typing import Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

_EMIT_COL = "__emit_ms"
_MARKER = "_REPLAY_PREPARED.json"
_FORMAT_VERSION = 2


def gaussian_delays_ms(n: int, max_delay_ms: int, seed: int) -> list[int]:
    """Truncated-Gaussian per-event delay in [0, max_delay_ms] — the
    reference's getNormalDelayMsecs (TaxiRideSource.java:230-237):
    ``rand.nextGaussian() * x + x`` with ``x = maxDelayMsecs / 2``,
    i.e. mean max/2 AND std max/2, resampling until in range.

    Serial reference implementation — the distributed prep job uses the
    counter-based equivalent in ``_delay_expr`` (same distribution)."""
    rnd = random.Random(seed)
    out = []
    x = max_delay_ms / 2
    std = max_delay_ms / 2
    for _ in range(n):
        while True:
            d = rnd.gauss(x, std)
            if 0 <= d <= max_delay_ms:
                out.append(int(d))
                break
    return out


# ---------------------------------------------------------------------------
# Emit-order preparation (distributed, one-time, cached).
# ---------------------------------------------------------------------------


def _delay_expr(src_cols: list[str], max_delay_ms: int, seed: int):
    """Counter-based truncated Gaussian delay as a native column
    expression: uniforms from xxhash64 streams of the row content,
    Box-Muller to a normal, mean = std = max/2 (the reference
    distribution), retrying across 6 independent streams then clamping
    (residual probability ~0.1%) — resampling loops don't exist in a
    vectorized plan."""
    from pyspark.sql import functions as F

    def u(k: int):
        h = F.xxhash64(*src_cols, F.lit(seed * 131 + k))
        return (F.pmod(h, F.lit(2**52)) + F.lit(0.5)) / F.lit(float(2**52))

    x = max_delay_ms / 2.0

    def cand(k: int):
        z = F.sqrt(F.log(u(2 * k)) * F.lit(-2.0)) * F.cos(
            u(2 * k + 1) * F.lit(2.0 * math.pi)
        )
        return z * F.lit(x) + F.lit(x)

    lo, hi = F.lit(0.0), F.lit(float(max_delay_ms))
    tries = [
        F.when((cand(k) >= lo) & (cand(k) <= hi), cand(k)) for k in range(6)
    ]
    return F.coalesce(*tries, F.greatest(lo, F.least(hi, cand(0)))).cast("long")


def _prep_cache_dir(path: str, timecol: str, max_delay_ms: int, seed: int) -> str:
    import hashlib
    import os
    import tempfile

    st = os.stat(path)
    key = repr(
        (
            os.path.abspath(path),
            st.st_mtime_ns,
            st.st_size,
            timecol,
            max_delay_ms,
            seed,
            _FORMAT_VERSION,
        )
    )
    digest = hashlib.md5(key.encode()).hexdigest()[:16]
    return os.path.join(
        tempfile.gettempdir(), f"replay-prep-{os.getuid()}-{digest}"
    )


def ensure_emit_ordered(
    spark,
    path: str,
    timecol: str = "ts",
    max_delay_ms: int = 60_000,
    seed: int = 7452,
    rows_per_file: int = 200_000,
) -> str:
    """Materialize the emit-ordered replay dataset for ``path`` (cached
    by content identity + options; concurrent callers race benignly on
    an atomic rename). Returns the prepared directory.

    The job is a single distributed range-partitioned sort — the only
    plan shape that orders 100 TB: no driver collect, no single-task
    sort; file N's rows all precede file N+1's in emit order.
    """
    import json
    import os
    import shutil
    import tempfile

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    final = _prep_cache_dir(path, timecol, max_delay_ms, seed)
    if os.path.exists(os.path.join(final, _MARKER)):
        return final

    from table_demo_spark.sources.batch import _ensure_session_confs

    _ensure_session_confs(spark)
    df = spark.read.parquet(path)
    src_cols = list(df.columns)

    # normalize every source timestamp to epoch-ms long (the replay
    # contract: engine-neutral ms longs; downstream timestamp_millis()).
    arrow_schema = pq.read_schema(path)
    arrow_types = {f.name: f.type for f in arrow_schema}
    dtypes = dict(df.dtypes)
    for c in src_cols:
        at = arrow_types.get(c)
        unit = at.unit if at is not None and str(at).startswith("timestamp") else None
        if dtypes[c] == "bigint" and unit == "ns":
            df = df.withColumn(c, F.expr(f"{c} DIV 1000000"))
        elif dtypes[c] in ("timestamp", "timestamp_ntz"):
            df = df.withColumn(c, F.unix_millis(F.col(c).cast("timestamp")))

    delay = _delay_expr(src_cols, max_delay_ms, seed)
    tb = F.xxhash64(*src_cols, F.lit(seed * 131 + 997))
    out = df.withColumn(_EMIT_COL, F.col(timecol) + delay).withColumn("__tb", tb)

    total_rows = sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in ([path] if os.path.isfile(path) else _parquet_files(path))
    )
    n_files = max(1, min(256, math.ceil(total_rows / rows_per_file)))

    staging = tempfile.mkdtemp(prefix="replay-prep-stage-")
    (
        out.repartitionByRange(n_files, _EMIT_COL, "__tb")
        .sortWithinPartitions(_EMIT_COL, "__tb")
        .select(*src_cols, _EMIT_COL)
        .write.mode("overwrite")
        .parquet(staging)
    )
    with open(os.path.join(staging, _MARKER), "w") as f:
        json.dump(
            {
                "source": os.path.abspath(path),
                "timecol": timecol,
                "max_delay_ms": max_delay_ms,
                "seed": seed,
                "version": _FORMAT_VERSION,
            },
            f,
        )
    try:
        os.rename(staging, final)
    except OSError:
        shutil.rmtree(staging, ignore_errors=True)  # lost the race
    if not os.path.exists(os.path.join(final, _MARKER)):
        raise RuntimeError(f"replay prep failed for {path}")
    return final


def _parquet_files(d: str) -> list[str]:
    import glob
    import os

    if os.path.isfile(d):
        return [d]
    return sorted(glob.glob(os.path.join(d, "part-*.parquet"))) or sorted(
        glob.glob(os.path.join(d, "*.parquet"))
    )


@dataclass(frozen=True)
class _Slice:
    file: str
    row_group: int
    start: int  # row offset within the row group
    end: int


@dataclass
class _RangePartition(InputPartition):
    slices: tuple  # tuple[_Slice, ...]


# Replay-frontier persistence. A reader restarted from a checkpoint
# must RESUME the replay frontier where its predecessor left off: a
# fresh wall clock would re-traverse [t0, K) and report latestOffset
# below the committed offset K for a while, during which the engine
# sees "no new data" — processAllAvailable() returns early and the
# stream tail is silently never processed. The reader lives in a
# dedicated Python worker process (python_streaming_source_runner) that
# dies with the query, so the frontier must survive OUTSIDE that
# process: a small file in the query's checkpoint directory, passed as
# the ``frontierkey`` option, one per prepared dataset. A fresh
# checkpoint holds no frontier, so a fresh query paces from row 0 even
# though the engine calls latestOffset() before initialOffset(). A
# reader without a frontier key persists nothing and always starts at
# row 0.


def _frontier_path(frontier_key: str, path: str) -> str | None:
    import hashlib
    import os

    if not frontier_key:
        return None
    digest = hashlib.md5(os.path.abspath(path).encode()).hexdigest()[:16]
    return os.path.join(frontier_key, f"replay-frontier-{digest}")


def _frontier_read(path: str | None) -> int:
    if path is None:
        return 0
    try:
        with open(path) as f:
            return int(f.read().strip() or 0)
    except (OSError, ValueError):
        return 0


def _frontier_write(path: str | None, idx: int) -> None:
    import os
    import tempfile

    if path is None:
        return
    fd, tmp = tempfile.mkstemp(
        prefix=".frontier-", dir=os.path.dirname(path)
    )
    try:
        with os.fdopen(fd, "w") as f:
            f.write(str(idx))
        os.replace(tmp, path)  # atomic: concurrent readers never see torn writes
    except OSError:
        try:
            os.unlink(tmp)
        except OSError:
            pass


def _lazy_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when it changed on disk (Python < 3.13; 3.13 already defers it).

    PySpark starts every Python task with ``importlib.invalidate_caches()``,
    which on 3.11/3.12 re-reads the central directory of every zip
    importer on the worker's path: 13 for ``pyspark.zip``, 2 for the
    spark-core jar, 2 for py4j, ~300 ms per task. The replacement stats
    the archive and calls the stock method only when its (inode, size,
    mtime) differs from the last read, or the stat fails. Installed once
    per process (a class flag: this module is pickled by value, so its
    globals are new in every task). Importers already on the path are
    taken as current: the worker's ``setup_spark_files`` re-read them all
    at the start of the task that installs this."""
    import os
    import sys
    import zipimport

    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or getattr(cls, "_read_on_change", False):
        return

    def archive_key(imp):
        try:
            st = os.stat(imp.archive)
        except OSError:
            return None
        return (st.st_ino, st.st_size, st.st_mtime_ns)

    stock = cls.invalidate_caches

    def invalidate_caches(self):
        key = archive_key(self)
        if key is None or key != getattr(self, "_read_key", None):
            stock(self)
            self._read_key = key

    for imp in sys.path_importer_cache.values():
        if isinstance(imp, cls):
            imp._read_key = archive_key(imp)
    cls.invalidate_caches = invalidate_caches
    cls._read_on_change = True


class ReplayStreamReader(DataSourceStreamReader):
    """Offset protocol over a prepared emit-ordered dataset.

    Driver-side state is O(#row_groups): per-row-group row counts and
    __emit_ms min/max from the parquet footers. Offsets are global row
    positions in the emit order; pacing maps wall-clock time to a row
    frontier using the footer statistics, reading at most ONE boundary
    row group's emit column (cached) for the exact position. Row data
    flows only on executors (``read``).
    """

    def __init__(self, schema: StructType, options: dict):
        import os
        import time

        import numpy as np
        import pyarrow.parquet as pq

        self._path = options["path"]
        if not os.path.exists(os.path.join(self._path, _MARKER)):
            raise ValueError(
                f"replay source requires an emit-ordered dataset; run "
                f"ensure_emit_ordered(spark, <source>) and pass its result "
                f"as 'path' (got: {self._path})"
            )
        self._speed = float(options.get("speed", 600.0))
        self._n_parts = int(options.get("numpartitions", 8))
        # The query's checkpoint directory, where the frontier persists
        # (see _frontier_path); each query has its own.
        self._frontier = _frontier_path(
            options.get("frontierkey", ""), self._path
        )

        files = _parquet_files(self._path)
        counts: list[int] = []
        emins: list[int] = []
        emaxs: list[int] = []
        self._rg_meta: list[tuple[str, int]] = []  # (file, row_group)
        for fp in files:
            pf = pq.ParquetFile(fp)
            md = pf.metadata
            emit_idx = next(
                i
                for i in range(md.num_columns)
                if md.schema.column(i).name == _EMIT_COL
            )
            for rg in range(md.num_row_groups):
                rgm = md.row_group(rg)
                st = rgm.column(emit_idx).statistics
                if st is not None and st.has_min_max:
                    mn, mx = int(st.min), int(st.max)
                else:  # footer lacks stats: one small column read
                    col = pf.read_row_group(rg, columns=[_EMIT_COL])
                    arr = col.column(0).to_numpy()
                    mn, mx = int(arr.min()), int(arr.max())
                self._rg_meta.append((fp, rg))
                counts.append(rgm.num_rows)
                emins.append(mn)
                emaxs.append(mx)
        self._cum = np.concatenate(([0], np.cumsum(counts))).astype("int64")
        self._emin = np.asarray(emins, dtype="int64")
        self._emax = np.asarray(emaxs, dtype="int64")
        self._n = int(self._cum[-1])
        self._emit_cache: dict[int, "np.ndarray"] = {}

        self._wall_start = time.time()
        # assume restart-resume until initialOffset() proves fresh start
        self._base_idx = min(_frontier_read(self._frontier), self._n)
        self._seen_hi = 0  # highest offset the engine has shown us (WAL)

    def __getstate__(self):
        # executors deserialize the reader to call read(); the boundary
        # emit-column cache is driver-local working state — don't ship it
        state = dict(self.__dict__)
        state["_emit_cache"] = {}
        return state

    def _rg_emit(self, j: int):
        """__emit_ms column of row group j (tiny LRU — pacing touches
        only the current boundary row group)."""
        import pyarrow.parquet as pq

        if j not in self._emit_cache:
            if len(self._emit_cache) >= 4:
                self._emit_cache.pop(next(iter(self._emit_cache)))
            fp, rg = self._rg_meta[j]
            tbl = pq.ParquetFile(fp).read_row_group(rg, columns=[_EMIT_COL])
            self._emit_cache[j] = tbl.column(0).to_numpy()
        return self._emit_cache[j]

    def _emit_at(self, row: int) -> int:
        import numpy as np

        j = int(np.searchsorted(self._cum, row, side="right")) - 1
        return int(self._rg_emit(j)[row - int(self._cum[j])])

    def _rows_due(self, frontier_ms: float) -> int:
        """#rows with emit time <= frontier. Global sort order makes the
        footer stats a total pre-index: row groups with emax <= frontier
        count fully; exactly one boundary group needs its column."""
        import numpy as np

        j = int(np.searchsorted(self._emax, frontier_ms, side="right"))
        due = int(self._cum[j])
        if j < len(self._emin) and self._emin[j] <= frontier_ms:
            due += int(
                np.searchsorted(self._rg_emit(j), frontier_ms, side="right")
            )
        return due

    def _advance_frontier(self, idx: int) -> None:
        if idx > _frontier_read(self._frontier):
            _frontier_write(self._frontier, idx)

    def initialOffset(self) -> dict:
        # fresh query (no checkpoint): replay — and pace — from the start
        self._base_idx = 0
        _frontier_write(self._frontier, 0)
        return {"idx": 0}

    def latestOffset(self) -> dict:
        import time

        if self._n == 0:
            return {"idx": 0}
        if self._base_idx >= self._n:
            idx = self._n
        else:
            # anchor the clock at the first unserved row's emit time, so
            # the row at _base_idx becomes available immediately — on
            # restart this makes progress visible to the engine at once
            # instead of after a catch-up lag
            anchor = self._emit_at(self._base_idx)
            elapsed_ms = (time.time() - self._wall_start) * 1000.0
            idx = self._rows_due(anchor + elapsed_ms * self._speed)
        idx = max(idx, self._base_idx, self._seen_hi)
        self._advance_frontier(idx)
        return {"idx": idx}

    def _slices_for(self, lo: int, hi: int) -> tuple:
        import numpy as np

        out = []
        j = int(np.searchsorted(self._cum, lo, side="right")) - 1
        pos = lo
        while pos < hi and j < len(self._rg_meta):
            rg_lo, rg_hi = int(self._cum[j]), int(self._cum[j + 1])
            s, e = max(pos, rg_lo), min(hi, rg_hi)
            if s < e:
                fp, rg = self._rg_meta[j]
                out.append(_Slice(fp, rg, s - rg_lo, e - rg_lo))
            pos = e
            j += 1
        return tuple(out)

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        lo, hi = start["idx"], end["idx"]
        self._seen_hi = max(self._seen_hi, lo, hi)
        self._advance_frontier(self._seen_hi)
        if hi <= lo:
            return [_RangePartition(())]
        n = min(self._n_parts, hi - lo)
        step = math.ceil((hi - lo) / n)
        return [
            _RangePartition(self._slices_for(i, min(i + step, hi)))
            for i in range(lo, hi, step)
        ]

    def read(self, partition: _RangePartition):
        """Executor-side: open ONLY this partition's row groups."""
        _lazy_zip_invalidation()
        import pyarrow.parquet as pq

        for sl in partition.slices:
            tbl = pq.ParquetFile(sl.file).read_row_group(sl.row_group)
            chunk = tbl.slice(sl.start, sl.end - sl.start).drop_columns(
                [_EMIT_COL]
            )
            yield from chunk.to_batches(max_chunksize=20_000)

    def commit(self, end: dict) -> None:
        self._seen_hi = max(self._seen_hi, end["idx"])
        self._advance_frontier(self._seen_hi)


class ReplayDataSource(DataSource):
    """spark.readStream.format("replay").option("path", <prepared dir>)
    source; ``path`` must come from ``ensure_emit_ordered``."""

    @classmethod
    def name(cls) -> str:
        return "replay"

    def schema(self) -> str:
        import pyarrow.parquet as pq

        # Derive the Spark schema from the prepared footer (timestamps
        # were normalized to epoch-ms longs by the prep job; __emit_ms
        # is the source's internal pacing column and is not surfaced).
        files = _parquet_files(self.options["path"])
        schema = pq.read_schema(files[0])
        fields = []
        for f in schema:
            if f.name == _EMIT_COL:
                continue
            t = str(f.type)
            spark_t = {
                "int64": "long",
                "int32": "int",
                "double": "double",
                "float": "float",
                "string": "string",
                "large_string": "string",
                "bool": "boolean",
            }.get(t, "string")
            fields.append(f"{f.name} {spark_t}")
        return ", ".join(fields)

    def streamReader(self, schema: StructType) -> ReplayStreamReader:
        return ReplayStreamReader(schema, dict(self.options))


def register_replay_source(spark) -> None:
    # The data-source class ships to Python workers via cloudpickle.
    # By default a module-level class pickles BY REFERENCE, which
    # requires `table_demo_spark` on every worker's import path — not
    # true under a vanilla driver session (the driver adds the repo to
    # its own sys.path only). Registering this module for by-value
    # pickling makes the source self-contained on the wire; replay.py
    # deliberately imports nothing else from the package so the
    # by-value closure stays small.
    import sys

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    spark.dataSource.register(ReplayDataSource)
