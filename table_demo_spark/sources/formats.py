"""Source-format connectors beyond parquet/CSV: JSON-lines and ORC.

Both formats round-trip the ``events`` fixture so the format readers
can be oracle-gated against the parquet view of the same records
(serialization chosen lossless: timestamps travel as epoch-ms longs —
JSON has no timestamp type, and ISO-string round-trips would invite
timezone/precision drift).

Scale notes:
- JSONL reads use an EXPLICIT schema. ``spark.read.json`` without one
  runs a full inference pass over the data — a second 100 TB scan
  before the first real one. Schema-on-read with a declared schema is
  single-pass and lets the scanner drop unprojected fields at parse
  time.
- JSONL is splittable line-by-line (unlike gzip-CSV), so one big file
  still parallelizes; ORC is a columnar format with predicate pushdown
  and column pruning like parquet — both verified by the plan tests.
- The ``_corrupt_record`` pattern (PERMISSIVE mode + corrupt-column
  capture) is the production posture for dirty JSON; the fixture
  write is clean by construction so the roundtrip stays hash-exact.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from table_demo_spark.native_cache import cached_build, fixture_key

EVENTS_JSONL_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _typed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from table_demo_spark.sources.batch import load_table

    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def _cached_events(spark: SparkSession, sf_dir: str, tag: str, write) -> str:
    """The events fixture as ``write(typed_events, path)`` lays it
    out, built once per fixture (native_cache.cached_build)."""
    _, key = fixture_key(sf_dir, "events", tag)
    return cached_build(
        f"events-{tag}", key,
        lambda path: write(_typed_events(spark, sf_dir), path),
    )


def ensure_events_jsonl(spark: SparkSession, sf_dir: str) -> str:
    """Materialize events as a directory of JSON-lines files (one JSON
    object per line), once per fixture. Distributed write — one file
    per partition, the shape that parallelizes the later read."""
    return _cached_events(
        spark, sf_dir, "jsonl",
        lambda ev, path: ev.write.mode("overwrite").json(path),
    )


def read_events_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Schema-declared JSONL read (no inference pass)."""
    return spark.read.schema(EVENTS_JSONL_SCHEMA).json(path)


def ensure_events_orc(spark: SparkSession, sf_dir: str) -> str:
    """Materialize events as ORC, once per fixture."""
    return _cached_events(
        spark, sf_dir, "orc",
        lambda ev, path: ev.write.mode("overwrite").orc(path),
    )


def read_events_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


TEXT_LINE_SEP = "\t"


def ensure_events_text(spark: SparkSession, sf_dir: str) -> str:
    """Materialize events as plain text lines (one TAB-delimited record
    per line, ``to_csv`` quoting rules), once per fixture. This is the
    raw-line ingestion shape: the *reader* is format-blind
    (``spark.read.text``) and the record parser is an in-query
    expression — the reference's strict toString/fromString contract
    (`TaxiRide.java:71-129`) re-expressed as ``to_csv``/``from_csv``."""

    def write(ev: DataFrame, path: str) -> None:
        ev.select(
            F.to_csv(
                F.struct(
                    "event_id", "ts_ms", "user_id", "event_type", "value", "props"
                ),
                {"sep": TEXT_LINE_SEP},
            ).alias("value")
        ).write.mode("overwrite").text(path)

    return _cached_events(spark, sf_dir, "textln", write)


def read_events_text(spark: SparkSession, path: str) -> DataFrame:
    """Line-source read + strict in-query record parse.

    ``spark.read.text`` is splittable by line and carries exactly one
    string column, so the parse (``from_csv`` with a declared schema —
    never inference) happens inside the projection, fully
    codegen-compatible; a malformed line yields nulls in PERMISSIVE
    mode rather than killing the scan (the production posture)."""
    parsed = spark.read.text(path).select(
        F.from_csv(
            F.col("value"),
            EVENTS_JSONL_SCHEMA.simpleString(),
            {"sep": TEXT_LINE_SEP},
        ).alias("r")
    )
    return parsed.select("r.*")


def ensure_events_xml(spark: SparkSession, sf_dir: str) -> str:
    """Materialize events as XML (Spark 4's native xml source — one
    <event> element per record under a <events> root per file), once
    per fixture. XML is the enterprise-feed ingestion shape; the
    writer's entity escaping must round-trip the JSON-carrying props
    strings exactly."""

    def write(ev: DataFrame, path: str) -> None:
        (
            ev.select(
                "event_id", "ts_ms", "user_id", "event_type", "value", "props"
            )
            .write.mode("overwrite")
            .format("xml")
            .option("rootTag", "events")
            .option("rowTag", "event")
            .save(path)
        )

    return _cached_events(spark, sf_dir, "xml", write)


def read_events_xml(spark: SparkSession, path: str) -> DataFrame:
    """Schema-declared XML read (never inference — the sampling pass
    would double the scan and can mistype empty-looking columns);
    rowTag selects the record elements, entity unescaping is the
    source's job."""
    return (
        spark.read.format("xml")
        .option("rowTag", "event")
        .schema(EVENTS_JSONL_SCHEMA)
        .load(path)
    )


def ensure_events_partitioned(spark: SparkSession, sf_dir: str) -> str:
    """Materialize events as hive-partitioned parquet
    (``event_type=<v>/part-*.parquet``), once per fixture.

    Partition layout is THE 100 TB table design: a filter on the
    partition column prunes whole directories at planning time
    (`PartitionFilters` in the scan, zero I/O for dropped partitions),
    and dynamic partition writes scale out per partition value. The
    partition column travels in the directory name, not the data
    files, so it costs no storage and no scan bytes."""
    return _cached_events(
        spark, sf_dir, "hivepart",
        lambda ev, path: ev.write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(path),
    )


def read_events_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read the hive-partitioned layout; ``basePath`` keeps the
    partition column typed as a data column in the result."""
    df = spark.read.option("basePath", path).parquet(path)
    # partition-discovery yields event_type last; restore fixture order
    return df.select(
        "event_id", "ts_ms", "user_id", "event_type", "value", "props"
    )


DIRTY_EVERY = 50  # every k-th record is written truncated (malformed)


def ensure_events_jsonl_dirty(spark, sf_dir: str) -> str:
    """Materialize a JSONL copy where every ``DIRTY_EVERY``-th record
    (by event_id) is truncated mid-object — a deterministic stand-in
    for the malformed lines every real 100 TB JSON crawl contains."""
    j = F.to_json(
        F.struct("event_id", "ts_ms", "user_id", "event_type", "value", "props")
    )
    line = F.when(
        F.col("event_id") % DIRTY_EVERY == 0,
        F.expr("substring(j, 1, length(j) - 5)"),
    ).otherwise(F.col("j"))
    return _cached_events(
        spark, sf_dir, "jsonl-dirty",
        lambda ev, path: ev.withColumn("j", j)
        .select(line.alias("value"))
        .write.mode("overwrite")
        .text(path),
    )


CORRUPT_COL = "_corrupt"


def read_events_jsonl_permissive(spark: SparkSession, path: str) -> DataFrame:
    """PERMISSIVE read with corrupt-record capture: a malformed line
    yields nulls + its raw text in ``_corrupt`` instead of failing the
    scan — quarantine-and-continue, the only viable posture when one
    bad line in 100 TB must not kill the job. Declared schema as
    always (no inference pass)."""
    schema = T.StructType(
        list(EVENTS_JSONL_SCHEMA.fields)
        + [T.StructField(CORRUPT_COL, T.StringType())]
    )
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def ensure_events_evolved(spark: SparkSession, sf_dir: str) -> str:
    """Materialize a SCHEMA-EVOLVED parquet directory, once per
    fixture: v1 files carry the original narrow schema (event_id,
    ts_ms, user_id, event_type — "before the pipeline logged values"),
    v2 files add (value, props). This is the directory every
    long-lived dataset becomes after a schema migration; the read
    path must reconcile both generations."""

    def write(ev: DataFrame, path: str) -> None:
        v1 = ev.filter(F.col("event_id") % 2 == 0).select(
            "event_id", "ts_ms", "user_id", "event_type"
        )
        v2 = ev.filter(F.col("event_id") % 2 == 1)
        v1.write.mode("overwrite").parquet(os.path.join(path, "v=1"))
        v2.write.mode("overwrite").parquet(os.path.join(path, "v=2"))

    return _cached_events(spark, sf_dir, "evolved", write)


def read_events_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution read: ``mergeSchema`` unions the per-file
    footers into the widest schema; rows from narrow files surface
    NULL for columns that postdate them. At 100 TB prefer declaring
    the target schema explicitly (one footer pass saved, same
    semantics) — mergeSchema is the discovery tool, the declared
    schema is the production read."""
    return (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )


EVENTS_CSV_SCHEMA = (
    "event_id long, ts_ms long, user_id long, event_type string, "
    "value double, props string"
)


def ensure_events_quoted_csv(spark: SparkSession, sf_dir: str) -> str:
    """Materialize events as RFC-4180 CSV WITH headers, quoting, and
    escapes, once per fixture. The props column is JSON — embedded
    commas and double quotes in every row — so the write exercises
    quote-wrapping and quote-doubling, and the read must undo both
    losslessly (the roundtrip oracle catches any mangling). value is
    serialized as scaled-integer cents (exact) because float->text->
    float is the one leg of a CSV roundtrip that is NOT identity."""

    def write(ev: DataFrame, path: str) -> None:
        (
            ev.withColumn(
                "value_cents", F.round(F.col("value") * 100).cast("long")
            )
            .drop("value")
            .write.mode("overwrite")
            .option("header", True)
            .option("quote", '"')
            .option("escape", '"')  # RFC 4180: quotes escape by doubling
            .csv(path)
        )

    return _cached_events(spark, sf_dir, "quoted-csv", write)


def read_events_quoted_csv(spark: SparkSession, path: str) -> DataFrame:
    """Schema-declared, header-aware quoted-CSV read (no inference
    pass — at 100 TB an inference read doubles the scan)."""
    return (
        spark.read.schema(
            "event_id long, ts_ms long, user_id long, event_type string, "
            "props string, value_cents long"
        )
        .option("header", True)
        .option("quote", '"')
        .option("escape", '"')
        .csv(path)
    )


MULTILINE_SHARDS = 8


def ensure_events_multiline_json(spark: SparkSession, sf_dir: str) -> str:
    """Materialize events as ``MULTILINE_SHARDS`` whole-file JSON
    ARRAYS (one pretty-ish array per file) — the API-dump shape real
    crawls deliver constantly, and the one JSON layout that is NOT
    line-splittable: a reader must parse a whole file as one value, so
    parallelism is exactly the file count (the intra-object story of
    docs/SCALE.md's m18 note, at the container level). The array
    strings are BUILT distributed (per-shard concat of to_json rows —
    the corpus never collects to the driver) and land one file per
    shard via partitionBy."""
    j = F.to_json(
        F.struct("event_id", "ts_ms", "user_id", "event_type", "value", "props")
    )

    def write(ev: DataFrame, path: str) -> None:
        shards = (
            ev.select(
                (F.col("event_id") % MULTILINE_SHARDS).alias("shard"),
                j.alias("j"),
            )
            .groupBy("shard")
            .agg(
                F.concat(
                    F.lit("[\n"),
                    F.concat_ws(",\n", F.collect_list("j")),
                    F.lit("\n]"),
                ).alias("body")
            )
        )
        (
            shards.repartition(MULTILINE_SHARDS, "shard")
            .write.mode("overwrite")
            .partitionBy("shard")
            .text(path)
        )

    return _cached_events(spark, sf_dir, "mljson", write)


def read_events_multiline_json(spark: SparkSession, path: str) -> DataFrame:
    """Whole-file JSON-array read: ``multiLine`` makes Spark parse each
    FILE as one JSON value (the array explodes to rows). The file glob
    targets the data files directly so the shard= directory layer is
    plumbing, not a schema column."""
    import glob as _glob

    files = sorted(_glob.glob(os.path.join(path, "shard=*", "part-*")))
    return spark.read.schema(EVENTS_JSONL_SCHEMA).option(
        "multiLine", "true"
    ).json(files)


def ensure_docs_png_files(spark: SparkSession, sf_dir: str) -> str:
    """Materialize every document's PNG (the md5-stream raster through
    the real zlib+filter encoder) as an INDIVIDUAL ``doc_<id>.png``
    file — the object-store layout crawl images actually arrive in.
    The write is distributed: executors encode and write their own
    partitions' files (fan_out-spread so a single-file fixture does
    not serialize the codec work) into the build directory, which the
    driver creates and native_cache.cached_build moves into place.

    LOCAL-MODE ASSUMPTION: executors write with plain ``open()`` into
    a driver-created staging directory, which requires driver and
    executors to share a filesystem — true on local[k] (this repo's
    fixture machinery) but silently incomplete on a multi-node
    cluster. On a real deployment this builder is the one piece that
    must write through a shared store instead (s3://... via Spark's
    binary write, or ``toLocalIterator`` on the driver); the READ side
    (src_s10's binaryFile source) is cluster-correct as is."""
    from table_demo_spark.operators.multimodal import with_png_payload
    from table_demo_spark.sources.batch import load_table

    _, key = fixture_key(sf_dir, "documents", "png")

    def build(path: str) -> None:
        os.makedirs(path)  # the executors write into it

        def write_files(rows) -> list:
            import os as _os

            n = 0
            for row in rows:
                name = _os.path.join(path, f"doc_{row['doc_id']}.png")
                with open(name, "wb") as fh:
                    fh.write(row["payload"])
                n += 1
            return [n]

        docs = load_table(spark, sf_dir, "documents").select("doc_id")
        with_png_payload(docs).rdd.mapPartitions(
            lambda it: write_files(it)
        ).sum()

    return cached_build("docs-png", key, build)


def read_docs_binary_files(spark: SparkSession, path: str) -> DataFrame:
    """Spark's native ``binaryFile`` source over the PNG directory:
    one row per file with (path, modificationTime, length, content).
    ``pathGlobFilter`` prunes non-image files at
    LISTING time — no bytes of a filtered file are ever read — and
    parallelism is one task per file group, the right unit for opaque
    binary objects. The doc id travels in the file name, recovered
    with one regexp over the path column."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.png")
        .load(path)
    )
    return df.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.png$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("length").cast("long").alias("n_bytes"),
        F.col("content").alias("payload"),
    )
