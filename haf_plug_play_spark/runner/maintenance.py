"""Table maintenance: small-file compaction for the block-bucket layout.

Every micro-batch writes its own bucket partitions (runner/batch.py), so a
long-running live sync accumulates one small parquet file per chunk per
bucket — the classic small-files problem: at 100 TB the scan cost becomes
file-open dominated and the driver's split enumeration balloons. Compaction
rewrites each bucket to ceil(bytes / target) files.

Crash-safety protocol: the compacted copy is fully written OUTSIDE the
table directory (a ``<table>.maintenance`` sibling — anything inside the
table path, even underscore-prefixed, is parsed by Spark's partition
discovery as a conflicting partition column), then the swap is two
directory RENAMES — old bucket aside into the maintenance dir, new bucket
in — never an rmtree of live data. A crash leaves, in order of the
windows: a stray ``_compact_*`` (garbage-collected on the next run), or a
moved-aside ``_old_*`` with the bucket missing (restored on the next
run), or the finished state. The only invisibility window is between the
two renames — microseconds, versus the unbounded rmtree window of the
naive swap.

Single-writer assumption: compaction must not run concurrently with a
sync writing the same table (the runner's model is one writer per plug —
run compact between chunks or from the maintenance CLI while sync is
paused). Buckets are independent — at scale, shard the bucket list across
concurrent calls.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import SparkSession

from haf_plug_play_spark.runner.fs import LocalFS

DEFAULT_TARGET_BYTES = 128 << 20  # HDFS-block-sized files

_TMP_PREFIX = "_compact_"
_OLD_PREFIX = "_old_"


def _maint_dir(table_dir: str) -> str:
    return table_dir.rstrip("/") + ".maintenance"


def _recover(table_dir: str, fs) -> None:
    """Finish or roll back an interrupted compaction: restore a moved-aside
    bucket whose replacement never landed; drop stray temp dirs."""
    mdir = _maint_dir(table_dir)
    for entry in fs.listdir(mdir):
        if entry.startswith(_OLD_PREFIX):
            bucket = entry[len(_OLD_PREFIX):]
            bdir = os.path.join(table_dir, bucket)
            if not fs.isdir(bdir):
                fs.rename(os.path.join(mdir, entry), bdir)
            else:
                fs.delete(os.path.join(mdir, entry))
        elif entry.startswith(_TMP_PREFIX):
            fs.delete(os.path.join(mdir, entry))


def compact_table(
    spark: SparkSession,
    table_dir: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    fs=None,
) -> dict:
    """Compact every ``block_bucket=N`` partition of one derived table.
    Returns {buckets_compacted, files_before, files_after}.

    All control-plane filesystem calls go through the ``fs`` seam
    (runner/fs.py): ``LocalFS`` by default, ``HadoopFS(spark)`` for
    hdfs://-style roots — see fs.py for the per-backend rename-atomicity
    contract this protocol rests on."""
    fs = fs or LocalFS()
    stats = {"buckets_compacted": 0, "files_before": 0, "files_after": 0}
    if not fs.isdir(table_dir):
        return stats
    _recover(table_dir, fs)
    for entry in fs.listdir(table_dir):
        if not entry.startswith("block_bucket="):
            continue
        bdir = os.path.join(table_dir, entry)
        files = [f for f in fs.listdir(bdir) if f.endswith(".parquet")]
        size = sum(fs.getsize(os.path.join(bdir, f)) for f in files)
        n_out = max(1, math.ceil(size / target_bytes))
        stats["files_before"] += len(files)
        if n_out >= len(files):
            stats["files_after"] += len(files)
            continue
        mdir = _maint_dir(table_dir)
        fs.makedirs(mdir)
        tmp = os.path.join(mdir, _TMP_PREFIX + entry)
        old = os.path.join(mdir, _OLD_PREFIX + entry)
        (
            spark.read.parquet(bdir)
            .coalesce(n_out)
            # re-establish the zone-map invariant the runner's writes set up
            # (batch.py sortWithinPartitions): concatenated small files would
            # otherwise span the whole bucket per row group
            .sortWithinPartitions("block_num")
            .write.mode("overwrite")
            .parquet(tmp)
        )
        fs.rename(bdir, old)
        fs.rename(tmp, bdir)
        fs.delete(old)
        stats["buckets_compacted"] += 1
        stats["files_after"] += len(
            [f for f in fs.listdir(bdir) if f.endswith(".parquet")]
        )
    return stats


def compact_plug(spark: SparkSession, out_root: str, plug_name: str, fs=None, **kw) -> dict:
    """Compact every derived table of one plug."""
    fs = fs or LocalFS()
    root = os.path.join(out_root, plug_name)
    total = {"buckets_compacted": 0, "files_before": 0, "files_after": 0}
    for table in fs.listdir(root):
        if table.endswith(".maintenance"):
            continue
        s = compact_table(spark, os.path.join(root, table), fs=fs, **kw)
        for k in total:
            total[k] += s[k]
    return total
