"""Parquet table sources for the synthetic star schema (TESTDATA.md).

A plain parquet scan with a declared schema — Catalyst handles predicate
pushdown, column pruning and partition pruning on these scans (SURVEY.md
§4.2); the engine never pre-materializes or caches a table the query didn't
ask for. The schema is not inferred by a Spark job on every read: the
driver reads each data file's footer once and converts it with Spark's own
converter (``_footer_meta``), and only that metadata is cached, keyed by
every data file's (path, size, mtime_ns) and the converter's confs.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Columns written as parquet TIMESTAMP(NANOS) (pandas/pyarrow default), which
# Spark has no native type for. With nanosAsLong they arrive as LongType
# nanoseconds; truncate to micros — the same truncation DuckDB/Python apply.
_NANOS_TS_COLUMNS = {"events": ("ts",)}


def _normalize_timestamps(df: DataFrame) -> DataFrame:
    """Normalize event-time columns to session-zoned ``TimestampType``.

    The driver's parquet fixtures have carried three timestamp physical types
    across regenerations (nanos-as-long, micros-no-tz, micros-utc). Spark 4
    reads ``timestamp[us]`` without a timezone as TIMESTAMP_NTZ, which the
    engine's temporal operators (``cast("long")`` gap arithmetic) and
    Structured Streaming's ``withWatermark`` both reject. The session timezone
    is pinned to UTC (``_session_defaults``), so casting NTZ → ``timestamp``
    reinterprets the wall-clock value as UTC — bit-identical instants, and the
    same reading DuckDB applies to the raw parquet. Centralizing here means
    every operator downstream sees one canonical event-time type regardless of
    fixture vintage (VERDICT r2 "What's wrong" #1/#2).
    """
    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, T.TimestampNTZType)]
    for col in ntz:
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def _session_defaults(spark: SparkSession) -> None:
    """Runtime confs the engine relies on, applied idempotently so queries
    behave identically under a caller-provided session (e.g. the driver's)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


#: Tables below this size are left on their natural splits: fanning a
#: dimension table out to every core costs more in task scheduling than
#: the map work it parallelizes.
_PARALLELIZE_MIN_BYTES = 256 * 1024

#: Row-weight gate for AUTO parallelization: only tables whose compressed
#: footprint is at least this many bytes per row are fanned out. Fat rows
#: (document text, embedding vectors) feed per-row-expensive operators
#: (shingling, hashing, vector arithmetic) where a single-core map stage
#: dominates the query; narrow relational rows (~20 B/row) feed joins and
#: plain aggregates where the extra exchange COSTS more than the
#: parallelism returns (measured r15: QJ4-theta 2.55→1.36 s, QJ1 1.58→0.93
#: without the repartition, vs XD-containment 3.81→3.33 WITH it).
_PARALLELIZE_MIN_BYTES_PER_ROW = 64


#: SQL confs ``ParquetToSparkSchemaConverter(SQLConf)`` reads: each one can
#: change the converted schema, so all are part of the footer cache key.
_CONVERTER_CONFS = tuple(f"spark.sql.{k}" for k in (
    "parquet.binaryAsString", "parquet.int96AsTimestamp",
    "parquet.inferTimestampNTZ.enabled", "legacy.parquet.nanosAsLong",
    "caseSensitive", "parquet.fieldId.read.enabled",
    "parquet.ignoreVariantAnnotation",
    "parquet.reader.respectUnknownTypeAnnotation.enabled",
))

#: table path -> (key, metadata): one entry per path, so a rewrite replaces
#: it. The key is the files' version and the confs, so every caller and
#: session in the process can share an entry; a race only repeats a read.
_FOOTERS: dict[str, tuple[tuple, tuple[T.StructType, int, int, int]]] = {}


def _footer_meta(spark: SparkSession, path: str) -> tuple[T.StructType, int, int, int]:
    """(schema, rows, bytes, data files) of a local parquet file or flat
    directory, read from its footers on the driver: no Spark job.

    ``ParquetFileFormat.readSchemaFromFooter`` with a
    ``ParquetToSparkSchemaConverter`` over the session's SQLConf is the
    code Spark's inference job runs, so the Spark row-metadata key and
    ``nanosAsLong`` are honoured; like inference without ``mergeSchema``,
    the first data file's schema is the table's. Cached under every data
    file's (path, size, mtime_ns) and ``_CONVERTER_CONFS``. Names starting
    with ``_`` or ``.`` are skipped, as Spark's file index skips them. A
    missing or empty table raises Spark's own error; a corrupt footer
    raises from the footer read."""
    if os.path.isdir(path):
        files = [os.path.join(path, n) for n in sorted(os.listdir(path))
                 if not n.startswith(("_", "."))]
    else:
        files = [path] if os.path.exists(path) else []
    if not files:
        spark.read.parquet(path)  # PATH_NOT_FOUND / UNABLE_TO_INFER_SCHEMA
        raise FileNotFoundError(path)
    stats = tuple((f, (st := os.stat(f)).st_size, st.st_mtime_ns) for f in files)
    key = (stats, tuple(spark.conf.get(k) for k in _CONVERTER_CONFS))
    hit = _FOOTERS.get(path)
    if hit is not None and hit[0] == key:
        return hit[1]
    jvm = spark._jvm
    pq, sql = jvm.org.apache.parquet.hadoop, jvm.org.apache.spark.sql.execution.datasources
    converter = sql.parquet.ParquetToSparkSchemaConverter(
        spark._jsparkSession.sessionState().conf()
    )
    hconf = spark._jsc.hadoopConfiguration()
    schema, rows = None, 0
    for f in files:
        jpath = jvm.org.apache.hadoop.fs.Path(f)
        reader = pq.ParquetFileReader.open(pq.util.HadoopInputFile.fromPath(jpath, hconf))
        try:
            rows += reader.getRecordCount()
            if schema is None:
                footer = pq.Footer(jpath, reader.getFooter())
                schema = T.StructType.fromJson(json.loads(
                    sql.parquet.ParquetFileFormat.readSchemaFromFooter(footer, converter).json()
                ))
        finally:
            reader.close()
    meta = (schema, rows, sum(size for _, size, _ in stats), len(files))
    _FOOTERS[path] = (key, meta)
    return meta


def _input_parallelize(
    spark: SparkSession,
    df: DataFrame,
    size: int,
    rows: int,
    files: int,
    parallelize: bool | None,
) -> DataFrame:
    """Give a low-split input the session's parallelism (r15, guide §2.2).

    Parquet assigns one ROW GROUP to one task, so a table written as a
    single row group — every sf0.001–0.1 fixture, and any badly-compacted
    production file — runs its whole map side (scan, explode, hash,
    partial aggregation) on ONE core while the rest idle; measured r15,
    this single-core map stage dominated every heavy corpus query (e.g.
    the 4.5 s corpus-pass aggregations in XK-hll-overlap). A round-robin
    repartition of the base rows unlocks the map side for a few MB of
    shuffle. Two gates keep it from becoming a pessimization:

    - split gate: estimated splits (bytes / maxPartitionBytes, at least
      one per data file) must be below half the cores — any real 100 TB
      layout takes the plain scan with zero added shuffle (scale-adaptive,
      not a local[32] constant);
    - row-weight gate (AUTO mode only): compressed bytes/row must reach
      ``_PARALLELIZE_MIN_BYTES_PER_ROW``. Narrow relational tables flow
      into joins/simple aggregates where the added exchange+stage costs
      more than it parallelizes (measured: QJ4-theta 2.55→1.36 s once
      lineitem/orders stopped repartitioning); fat text/vector rows feed
      per-row-heavy operators where it pays for itself many times over.

    ``parallelize`` overrides the row-weight gate per call site: True for
    narrow tables with provably heavy map work (QA5's exact-decimal
    moments), False to force the plain scan. The split gate always
    applies — an override can never add a shuffle to an already-wide
    production layout. Predicate pushdown and column pruning both
    traverse Repartition, so PushedFilters/ReadSchema are unaffected."""
    if parallelize is False:
        return df
    par = spark.sparkContext.defaultParallelism
    max_split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    est_splits = max(files, (size + max_split - 1) // max_split)
    if size < _PARALLELIZE_MIN_BYTES or est_splits >= par // 2:
        return df
    if parallelize is None and rows > 0 and size / rows < _PARALLELIZE_MIN_BYTES_PER_ROW:
        return df
    return df.repartition(par)


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    parallelize: bool | None = None,
) -> DataFrame:
    """Fixture table ``name`` of the local ``sf_dir``, timestamps normalized.

    Read with ``spark.read.schema(...)``: the schema comes from the parquet
    footers, read on the driver and cached with the row count and byte size
    under every data file's (path, size, mtime_ns) and the parquet
    converter's confs (``_footer_meta``), so no schema-inference job runs.
    A missing table raises Spark's ``AnalysisException`` here."""
    _session_defaults(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema, rows, size, files = _footer_meta(spark, path)
    df = spark.read.schema(schema).parquet(path)
    for col in _NANOS_TS_COLUMNS.get(name, ()):
        if isinstance(schema[col].dataType, T.LongType):
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    return _input_parallelize(
        spark, _normalize_timestamps(df), size, rows, files, parallelize
    )


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL entry points."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
