"""Footer-declared schemas: ``load_table`` reads each table with the schema
converted from its parquet footers on the driver, never with a
schema-inference job.

The contract: the declared read equals an inferring ``spark.read.parquet``
followed by the loader's normalization (schema with nullability, and rows),
for every fixture table, a pyarrow ``timestamp[ns]`` file and a
Spark-written multi-file directory; building the canonical queries launches
no Spark job; the cached footer metadata goes stale with the file and with
the converter's confs; a missing or corrupt table still fails loudly at
``load_table`` time.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from haf_plug_play_spark.queries.canonical import CANONICAL_QUERIES
from haf_plug_play_spark.sources import tables as tsrc

from .conftest import SF_SMOKE


def _inferred(spark, sf_dir, name):
    """An inferring read plus the loader's normalization."""
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for col in tsrc._NANOS_TS_COLUMNS.get(name, ()):
        if isinstance(df.schema[col].dataType, T.LongType):
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    return tsrc._normalize_timestamps(df)


def _rows(df):
    return sorted(df.collect(), key=repr)


def _assert_same_as_inferred(spark, sf_dir, name):
    got = tsrc.load_table(spark, sf_dir, name)
    want = _inferred(spark, sf_dir, name)
    assert got.schema == want.schema, name
    assert _rows(got) == _rows(want), name


def test_canonical_queries_build_without_jobs(spark):
    sc = spark.sparkContext
    group = "test-canonical-build-no-jobs"
    sc.setJobGroup(group, group)
    try:
        for fn in CANONICAL_QUERIES.values():
            fn(spark, SF_SMOKE)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


@pytest.mark.parametrize("name", sorted(tsrc.TABLES))
def test_fixture_read_matches_inferred(spark, name):
    _assert_same_as_inferred(spark, SF_SMOKE, name)


def test_nanos_timestamp_file_matches_inferred(spark, tmp_path):
    ts = pa.array([1_700_000_000_123_456_789, None, 5], pa.timestamp("ns"))
    pq.write_table(
        pa.table({"event_id": pa.array([1, 2, 3], pa.int64()), "ts": ts}),
        tmp_path / "events.parquet",
    )
    _assert_same_as_inferred(spark, str(tmp_path), "events")
    got = tsrc.load_table(spark, str(tmp_path), "events")
    assert got.schema["ts"].dataType == T.TimestampType()


def test_spark_written_directory_matches_inferred(spark, tmp_path):
    path = tmp_path / "documents.parquet"
    spark.range(300).select(
        F.col("id").alias("doc_id"), F.sha2(F.col("id").cast("string"), 256).alias("text")
    ).repartition(3).write.parquet(str(path))
    _assert_same_as_inferred(spark, str(tmp_path), "documents")
    parts = [f for f in os.listdir(path) if f.endswith(".parquet")]
    _, rows, size, files = tsrc._footer_meta(spark, str(path))
    assert (rows, files) == (300, len(parts)) and len(parts) > 1
    # the byte size is the data files', not the directory inode's
    assert size == sum(os.path.getsize(path / f) for f in parts)


def test_missing_table_raises_at_load(spark, tmp_path):
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        tsrc.load_table(spark, str(tmp_path), "region")


def test_corrupt_footer_raises_at_load(spark, tmp_path):
    (tmp_path / "region.parquet").write_bytes(b"PAR1" + b"\0" * 64)
    with pytest.raises(Exception, match="(?i)parquet"):
        tsrc.load_table(spark, str(tmp_path), "region")
    # a corrupt part that is not the first file of a directory raises too
    path = tmp_path / "nation.parquet"
    spark.range(10).repartition(2).write.parquet(str(path))
    last = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))[-1]
    (path / last).write_bytes(b"not parquet at all")
    with pytest.raises(Exception, match="(?i)parquet"):
        tsrc.load_table(spark, str(tmp_path), "nation")


def test_rewritten_file_misses_the_cache(spark, tmp_path):
    path = tmp_path / "part.parquet"
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int32())}), path)
    assert tsrc.load_table(spark, str(tmp_path), "part").columns == ["a"]
    st = os.stat(path)
    pq.write_table(pa.table({"b": pa.array(["x"], pa.string())}), path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    df = tsrc.load_table(spark, str(tmp_path), "part")
    assert df.schema == T.StructType([T.StructField("b", T.StringType())])
    assert df.collect() == [("x",)]


def test_binary_as_string_misses_the_cache(spark, tmp_path):
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}), tmp_path / "part.parquet")
    assert tsrc.load_table(spark, str(tmp_path), "part").schema["b"].dataType == T.BinaryType()
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try:
        df = tsrc.load_table(spark, str(tmp_path), "part")
        assert df.schema["b"].dataType == T.StringType()
        assert df.collect() == [("x",)]
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert tsrc.load_table(spark, str(tmp_path), "part").schema["b"].dataType == T.BinaryType()
