"""Batch sync runner — the reference's sync engine re-expressed on Spark.

Reference parity (/root/reference/haf_plug_play/database/sql/sync.sql):
- range negotiation + monotonic guards (T1/T10): sync.sql:31-38,
  plugs/polls/functions.sql:18-33 — begin clips to cursor+1, stale ranges
  are no-ops.
- micro-batch chunking (T2): sync.sql:59,72-77 — fixed block step.
- per-chunk atomic commit (T3): sync.sql:108-111 — here: idempotent
  overwrite of exactly the chunk's block-bucket partitions, the chunk's
  tables written concurrently (one thread each), cursor written last,
  after every write has succeeded; a replayed chunk rewrites the same
  partitions byte-identically, so retries are exactly-once in effect.
- massive vs live sync (T4): one code path — ``backfill`` over a large range
  IS massive sync; the streaming wrapper drives ``backfill`` per
  micro-batch (runner/streaming.py), so every path inherits backfill's
  bucket alignment. ``process_range`` itself is a single-bucket primitive
  — see its guard.
- fork recovery (J6): FK-cascade becomes recompute-tail — drop derived
  partitions past the fork point, reset the cursor, re-run.

Scale posture: every derived table is parquet partitioned by
``block_bucket = block_num // step`` — partition pruning serves the
reference's block_num secondary indexes (SURVEY §4.1); writes touch only the
chunk's buckets; nothing ever reads or collects an unbounded set.
"""

from __future__ import annotations

import functools
import os
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from haf_plug_play_spark.fixtures import OPS_SCHEMA, TRX_SCHEMA
from haf_plug_play_spark.ingest.envelope import dead_letter, parse_custom_json
from haf_plug_play_spark.plugs.framework import Plug
from haf_plug_play_spark.runner.fs import LocalFS
from haf_plug_play_spark.runner.state import PlugStateStore
from haf_plug_play_spark.sources.oplog import read_ops, read_trx

DEFAULT_STEP = 100  # blocks per chunk — sync.sql:59


class PlugRunner:
    def __init__(
        self,
        spark: SparkSession,
        plug: Plug,
        ops_path: str,
        trx_path: str | None,
        out_root: str,
        step: int = DEFAULT_STEP,
        fs=None,
    ) -> None:
        self.spark = spark
        self.plug = plug
        self.ops_path = ops_path
        self.trx_path = trx_path
        self.out_root = out_root
        self.step = step
        # control-plane FS seam (runner/fs.py): LocalFS default,
        # HadoopFS(spark) for hdfs://-or-object-store out_roots
        self.fs = fs or LocalFS()
        self.store = PlugStateStore(os.path.join(out_root, "_state"), fs=self.fs)

    # ------------------------------------------------------------ plumbing

    def _table_dir(self, table: str) -> str:
        return os.path.join(self.out_root, self.plug.name, table)

    def _parsed_range(self, first: int, last: int) -> DataFrame:
        # declared op-log schemas: no schema-inference job per chunk
        ops = read_ops(self.spark, self.ops_path).filter(
            F.col("block_num").between(first, last)
        )
        trx = None
        if self.trx_path:
            trx = read_trx(self.spark, self.trx_path).filter(
                F.col("block_num").between(first, last)
            )
        return parse_custom_json(ops, trx)

    def _write_append_table(self, table: str, df: DataFrame) -> None:
        if "block_num" not in df.columns:
            raise ValueError(f"append table {table} must carry block_num")
        (
            df.withColumn("block_bucket", (F.col("block_num") / self.step).cast("long"))
            # a chunk is one bucket (process_range's guard), so one task
            # writes it: coalesce gives the bucket its single file without
            # the exchange a repartition on block_bucket would add
            .coalesce(1)
            # sorted files → tight parquet min/max zone maps on block_num,
            # so sub-bucket range predicates skip row groups (SCALE.md). The
            # partition column leads the key because the writer requires
            # that order and would otherwise re-sort by it alone, losing
            # the block_num order
            .sortWithinPartitions("block_bucket", "block_num")
            .write.mode("overwrite")
            # per-write dynamic overwrite: replaces only the touched buckets
            # without flipping the session-wide overwrite semantics
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("block_bucket")
            .parquet(self._table_dir(table))
        )

    @functools.cached_property
    def _schemas(self) -> dict[str, T.StructType]:
        """Each output table's on-disk schema, ``block_bucket`` included:
        the plug's transform over an empty op log, made nullable as every
        parquet read is. Building it launches no Spark job."""
        parsed = parse_custom_json(
            self.spark.createDataFrame([], OPS_SCHEMA),
            self.spark.createDataFrame([], TRX_SCHEMA) if self.trx_path else None,
        )
        out = dict(self.plug.silver_transform(parsed))
        out["_dead_letter"] = dead_letter(parsed, self.plug.cj_ids)
        return {
            table: _nullable(df.schema).add("block_bucket", T.LongType())
            for table, df in out.items()
        }

    def read_table(self, table: str) -> DataFrame:
        """Cumulative silver table (all processed chunks), read with the
        table's declared schema, so no schema-inference job runs. A table
        never synced reads as empty with that schema; so does one whose
        chunks were all empty (its directory holds no parquet file). A
        corrupt footer, permission failure or transient FS error surfaces
        when the frame is first evaluated rather than when this returns,
        and is still never served as an empty-but-200 table (review r9)."""
        schema = self._schemas[table]
        tdir = self._table_dir(table)
        if not self.fs.isdir(tdir):
            df = self.spark.createDataFrame([], schema)
        else:
            df = self.spark.read.schema(schema).parquet(tdir)
        return df.drop("block_bucket")

    def read_gold(self, table: str) -> DataFrame:
        """Gold view over cumulative silver tables (e.g. polls_content)."""
        builder = self.plug.gold[table]
        silver = {
            t: self.read_table(t)
            for t in self._silver_table_names()
            if self.fs.isdir(self._table_dir(t))
        }
        return builder(silver)

    def _silver_table_names(self) -> list[str]:
        # discover from a dry transform on an empty frame? keep it simple:
        # whatever directories exist under the plug root (skipping
        # compaction's side-car .maintenance dirs)
        root = os.path.join(self.out_root, self.plug.name)
        return [t for t in self.fs.listdir(root) if not t.endswith(".maintenance")]

    # ------------------------------------------------------------ sync

    def process_range(self, first: int, last: int) -> None:
        """One micro-batch: parse → plug silver transform → idempotent
        partition-aligned writes → cursor (last).

        SINGLE-BUCKET primitive (review r9): the write path replaces
        whole ``block_bucket`` partitions, so a range that only partially
        covers a bucket silently deletes that bucket's previously-synced
        rows outside the range. ``backfill`` aligns its chunks; a direct
        caller crossing a bucket boundary is refused loudly."""
        if first // self.step != last // self.step:
            raise ValueError(
                f"process_range({first}, {last}) crosses a block_bucket "
                f"boundary (step={self.step}): the dynamic partition "
                "overwrite would replace whole buckets with partial data — "
                "use backfill(), which aligns chunks to bucket boundaries"
            )
        # per-plug scheduler pool ≙ the reference's process-per-plug
        # isolation (database/plugs.py:14,99): concurrent plugs running in
        # separate driver threads get fair-shared executor slots instead of
        # one plug's backfill starving the others
        self.spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", f"plug-{self.plug.name}"
        )
        # persist: the parse feeds the max-agg plus one write per output
        # table — uncached that is N+2 full source scans + JSON parses per
        # chunk (review r9); cached it is one
        parsed = self._parsed_range(first, last).persist()
        try:
            out = dict(self.plug.silver_transform(parsed))
            # T14: malformed-but-matched ops land in a queryable dead-letter
            # table instead of being silently skipped (functions.sql:91-96
            # logs and drops; we keep the evidence).
            out["_dead_letter"] = dead_letter(parsed, self.plug.cj_ids)
            max_row = (
                parsed.agg(
                    F.max("block_num").alias("b"), F.max("created").alias("t")
                ).first()
            )
            # one thread per table: each write's fixed cost is mostly
            # planning and job set-up, so the writes overlap instead of
            # queueing. The threads inherit this thread's scheduler pool
            # and job group.
            with ThreadPoolExecutor(max_workers=len(out)) as pool:
                writes = [
                    pool.submit(
                        inheritable_thread_target(self.spark)(self._write_append_table),
                        table,
                        df,
                    )
                    for table, df in out.items()
                ]
            # all writes have finished; the first failure aborts the commit
            for w in writes:
                w.result()
        finally:
            parsed.unpersist()
        state = self.store.load(self.plug.name)
        # monotonic: replaying an old chunk (idempotent retry) must not
        # rewind the cursor — NOR the block time (review r9: the time
        # rode every replay while the cursor held, leaving status/health
        # showing a months-old time at a current block)
        advanced = last > state.latest_block_num
        state.latest_block_num = max(state.latest_block_num, last)
        if advanced and max_row and max_row.t is not None:
            state.latest_block_time = max_row.t.strftime("%Y-%m-%dT%H:%M:%S")
        self.store.save(state)

    def backfill(self, start_block: int, end_block: int) -> list[tuple[int, int]]:
        """Massive sync: chunked traversal with monotonic guards. Returns the
        chunk ranges processed. Chunks align to step boundaries so retries
        overwrite exactly their own partitions."""
        state = self.store.load(self.plug.name)
        cursor = state.latest_block_num
        begin = max(start_block, cursor + 1)
        if end_block <= cursor:  # stale range → no-op (T10)
            return []
        if begin > end_block:
            # empty range (e.g. inverted args on a fresh store): a no-op
            # that must not persist a resume floor or massive_synced for
            # blocks that were never synced (review r9: a bad
            # backfill(1000, 500) used to permanently block 100-999 from
            # a later correct backfill(100, 2000))
            return []
        if state.start_block is None:  # first-ever sync: record the floor
            state.start_block = begin
            self.store.save(state)
        # Align the resume point DOWN to its bucket boundary: a cursor that
        # stopped mid-bucket means that bucket holds a partial chunk, and a
        # partition overwrite starting past the boundary would drop the rows
        # before it. The floor is the PERSISTED first-ever start block, not
        # this call's start_block — a caller resuming with a later
        # start_block must still re-derive the full partial bucket.
        ranges = []
        first = max(state.start_block, (begin // self.step) * self.step)
        while first <= end_block:
            bucket_end = ((first // self.step) + 1) * self.step - 1
            last = min(bucket_end, end_block)
            ranges.append((first, last))
            first = last + 1
        for first, last in ranges:
            self.process_range(first, last)
        state = self.store.load(self.plug.name)
        state.massive_synced = True
        self.store.save(state)
        return ranges

    # ------------------------------------------------------------ forks

    def recover_fork(self, fork_block: int) -> None:
        """Recompute-tail (J6): drop derived rows past the fork point and
        reset the cursor; the next backfill re-derives the tail from the
        (rewound) op log. Partition layout makes this cheap: whole buckets
        past the fork are deleted; the boundary bucket is rewritten."""
        fork_bucket = fork_block // self.step
        for table in self._silver_table_names():
            tdir = self._table_dir(table)
            if not self.fs.isdir(tdir):
                continue
            # re-entrancy pre-pass (review r9): a crash mid-boundary-swap
            # leaves a '.rewrite' dir that would wedge the int() parse
            # below on every rerun. Ordering makes recovery unambiguous —
            # the rewrite is fully written BEFORE its source is deleted:
            #   source present  → rewrite may be partial → discard it,
            #                     the rewrite below redoes the work;
            #   source missing  → rewrite is complete → finish the rename.
            for entry in list(self.fs.listdir(tdir)):
                if not entry.endswith(".rewrite"):
                    continue
                leftover = os.path.join(tdir, entry)
                source = leftover[: -len(".rewrite")]
                if self.fs.isdir(source):
                    self.fs.delete(leftover)
                else:
                    self.fs.rename(leftover, source)
            boundary = None
            for entry in self.fs.listdir(tdir):
                if not entry.startswith("block_bucket="):
                    continue
                bucket = int(entry.split("=", 1)[1])
                if bucket > fork_bucket:
                    self.fs.delete(os.path.join(tdir, entry))
                elif bucket == fork_bucket:
                    boundary = os.path.join(tdir, entry)
            if boundary is not None:
                # the .rewrite copy is fully written before the source dir
                # is removed, so no caching is needed
                (
                    self.spark.read.parquet(boundary)
                    .filter(F.col("block_num") <= fork_block)
                    .write.mode("overwrite")
                    .parquet(boundary + ".rewrite")
                )
                self.fs.delete(boundary)
                self.fs.rename(boundary + ".rewrite", boundary)
        state = self.store.load(self.plug.name)
        state.latest_block_num = min(state.latest_block_num, fork_block)
        self.store.save(state)


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field, element and value nullable — the schema a
    parquet read reports whatever the writer declared."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt
