"""Adaptive input parallelization (r15, guide §2.2).

Parquet assigns one row group to one task, so a single-row-group table —
every small-SF fixture, and any badly-compacted production file — runs
its whole map side on one core. ``load_table`` round-robins such inputs
to the session's parallelism when the rows are fat enough for per-row
compute to dominate (text/vector tables); narrow relational tables keep
the plain scan, where the extra exchange costs more than it parallelizes
(measured r15: QJ4-theta 2.55→1.36 s). Inputs already wide enough for
half the cores (every sane 100 TB layout) are always left untouched.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from haf_plug_play_spark.sources import tables as tsrc

SF01 = "/root/testdata/sf0.1"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_fat_single_split_input_gets_session_parallelism(spark):
    # documents: ~119 compressed B/row (text payload) — auto-parallelized
    df = tsrc.load_table(spark, SF01, "documents")
    assert "RoundRobinPartitioning" in _plan(df)
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_narrow_table_keeps_plain_scan(spark):
    # lineitem: ~18 compressed B/row — joins/simple aggregates lose more
    # to the added exchange than the fan-out returns (r15 measurement)
    df = tsrc.load_table(spark, SF01, "lineitem")
    assert "RoundRobinPartitioning" not in _plan(df)


def test_narrow_table_parallelize_override(spark):
    # a call site with provably heavy map work opts in explicitly
    df = tsrc.load_table(spark, SF01, "lineitem", parallelize=True)
    assert "RoundRobinPartitioning" in _plan(df)


def test_parallelize_false_forces_plain_scan(spark):
    df = tsrc.load_table(spark, SF01, "documents", parallelize=False)
    assert "Exchange" not in _plan(df)


def test_small_table_keeps_natural_splits(spark):
    df = tsrc.load_table(spark, SF01, "region")
    assert "Exchange" not in _plan(df)


def test_wide_input_is_left_alone(spark, monkeypatch):
    # a file that already yields >= par/2 splits must not be repartitioned,
    # even under an explicit parallelize=True override (the split gate is
    # the scale-adaptivity guarantee)
    monkeypatch.setattr(tsrc, "_PARALLELIZE_MIN_BYTES", 1)
    sz = os.path.getsize(os.path.join(SF01, "documents.parquet"))
    par = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(max(1, sz // par)))
    try:
        df = tsrc.load_table(spark, SF01, "documents", parallelize=True)
        assert "RoundRobinPartitioning" not in _plan(df)
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")


def test_pushdown_and_pruning_survive_repartition(spark):
    """Predicate pushdown and column pruning must traverse the
    round-robin exchange down to the parquet scan (guide §6)."""
    df = tsrc.load_table(spark, SF01, "documents")
    q = df.where(F.col("doc_id") > 49).select("source")
    plan = _plan(q)
    assert "RoundRobinPartitioning" in plan
    assert "PushedFilters: [IsNotNull(doc_id), GreaterThan(doc_id,49" in plan
    # pruned read schema: only the two referenced columns reach the scan
    ln = next(l for l in plan.splitlines() if l.startswith("ReadSchema"))
    assert "doc_id" in ln and "source" in ln and "text" not in ln


def test_many_file_directory_keeps_plain_scan(spark, tmp_path):
    """A directory with at least half the cores' worth of data files is
    already spread over the cores: no Repartition, even though its bytes
    and its fat rows would repartition the same data as one file."""
    par = spark.sparkContext.defaultParallelism
    df = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.concat(*[F.sha2(F.concat(F.col("id"), F.lit(i)), 256) for i in range(4)]).alias("text"),
    )
    df.repartition(max(2, par // 2)).write.parquet(str(tmp_path / "many" / "documents.parquet"))
    df.coalesce(1).write.parquet(str(tmp_path / "one" / "documents.parquet"))
    many = tsrc.load_table(spark, str(tmp_path / "many"), "documents")
    one = tsrc.load_table(spark, str(tmp_path / "one"), "documents")
    assert tsrc._footer_meta(spark, str(tmp_path / "many" / "documents.parquet"))[2] >= (
        tsrc._PARALLELIZE_MIN_BYTES
    )
    assert "Repartition" not in _plan(many)
    assert "RoundRobinPartitioning" in _plan(one)
