"""``sources/batch.py``'s parquet reads: ``read_parquet`` fires Spark's
schema-inference job once per file version and inference conf, and the
schema it reads with is the one Spark infers."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from table_demo_spark.sources import batch
from table_demo_spark.sources.batch import TABLES, load_table, read_parquet
from tests.conftest import SF_SMOKE


def _jobs(spark, group, fn):
    """(fn's result, the number of Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _fields(schema):
    return [(f.name, f.dataType, f.nullable) for f in schema]


def test_load_table_infers_a_schema_once(spark, tmp_path):
    """Two loads of one table fire one inference job between them; the
    table is copied to a fresh path so no earlier load warmed the memo."""
    shutil.copy(f"{SF_SMOKE}/nation.parquet", tmp_path / "nation.parquet")

    def twice():
        return [load_table(spark, str(tmp_path), "nation") for _ in range(2)]

    (a, b), n = _jobs(spark, "load-twice", twice)
    assert n == 1
    assert a.schema == b.schema
    assert a.count() == b.count() == 25


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": [1, 2]}), path)
    assert read_parquet(spark, path).columns == ["k"]
    pq.write_table(pa.table({"k": [1, 2], "v": ["x", "y"]}), path)
    df = read_parquet(spark, path)
    assert df.columns == ["k", "v"]
    assert sorted(r["v"] for r in df.collect()) == ["x", "y"]


def test_rewritten_directory_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "d")
    spark.range(3).write.parquet(path)
    assert read_parquet(spark, path).columns == ["id"]
    spark.range(3).withColumn("v", F.col("id") * 2).write.mode("overwrite").parquet(path)
    assert read_parquet(spark, path).columns == ["id", "v"]


def test_inference_conf_change_reinfers(spark, tmp_path):
    path = str(tmp_path / "b.parquet")
    pq.write_table(pa.table({"b": pa.array([b"ab"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert read_parquet(spark, path).dtypes == [("b", "binary")]
        spark.conf.set(key, "true")
        df = read_parquet(spark, path)
        assert df.dtypes == [("b", "string")]
        assert df.collect()[0]["b"] == "ab"
    finally:
        spark.conf.set(key, old)


def test_memoized_schema_equals_inferred_schema(spark, tmp_path):
    """Every sf0.001 fixture table, and a TIMESTAMP(MICROS) table shaped
    like perfbench's generated ones, read with the schema Spark infers:
    names, types and nullability."""
    micros = str(tmp_path / "orders.parquet")
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([1, 2], pa.int64()),
                "o_orderdate": pa.array([0, 86_400_000_000], pa.timestamp("us")),
                "o_totalprice": pa.array([1.5, None], pa.float64()),
            }
        ),
        micros,
    )
    batch._ensure_session_confs(spark)
    paths = [f"{SF_SMOKE}/{t}.parquet" for t in TABLES] + [micros]
    for path in paths:
        want = _fields(spark.read.parquet(path).schema)
        assert _fields(batch._parquet_schema(spark, path)) == want, path
        assert _fields(read_parquet(spark, path).schema) == want, path
    assert dict(read_parquet(spark, micros).dtypes)["o_orderdate"] == "timestamp_ntz"


def test_given_schema_fires_no_job_and_reads_as_inferred(spark, tmp_path, monkeypatch):
    """A frame read straight back with the schema it was written with:
    no job, no file stat, and the schema Spark would infer (the written
    frame's non-null fields and arrays read back nullable)."""
    df = spark.range(4).select(
        F.col("id").alias("src"),
        F.array(F.lit("a"), F.col("id").cast("string")).alias("toks"),
        F.struct(F.col("id").alias("n")).alias("s"),
    )
    path = str(tmp_path / "written")
    df.write.parquet(path)

    def no_stat(_path):
        raise AssertionError("given schema looked at the file")

    monkeypatch.setattr(batch, "_file_identity", no_stat)
    back, n = _jobs(spark, "given-schema", lambda: read_parquet(spark, path, df.schema))
    assert n == 0
    monkeypatch.undo()
    assert _fields(back.schema) == _fields(spark.read.parquet(path).schema)
    assert sorted(r["src"] for r in back.collect()) == [0, 1, 2, 3]


def test_unstatable_path_infers_every_time(spark, tmp_path):
    path = str(tmp_path / "u.parquet")
    pq.write_table(pa.table({"k": [1]}), path)
    uri = f"file://{path}"
    assert not os.path.exists(uri)
    _, n = _jobs(spark, "uri-twice", lambda: [read_parquet(spark, uri) for _ in range(2)])
    assert n == 2


def test_schema_memo_is_bounded(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(batch, "_SCHEMA_MEMO_SIZE", 2)
    for i in range(3):
        path = str(tmp_path / f"m{i}.parquet")
        pq.write_table(pa.table({"k": [i]}), path)
        read_parquet(spark, path)
    assert len(batch._SCHEMAS) <= 2
    assert not any(key[1] == str(tmp_path / "m0.parquet") for key in batch._SCHEMAS)


@pytest.mark.parametrize("name", ["events", "orders", "lineitem"])
def test_load_table_timestamp_columns_are_timestamps(spark, name):
    df = load_table(spark, SF_SMOKE, name)
    ts = {"events": "ts", "orders": "o_orderdate", "lineitem": "l_shipdate"}[name]
    assert dict(df.dtypes)[ts] == "timestamp"
