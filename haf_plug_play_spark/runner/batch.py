"""Batch sync runner — the reference's sync engine re-expressed on Spark.

Reference parity (/root/reference/haf_plug_play/database/sql/sync.sql):
- range negotiation + monotonic guards (T1/T10): sync.sql:31-38,
  plugs/polls/functions.sql:18-33 — begin clips to cursor+1, stale ranges
  are no-ops.
- micro-batch chunking (T2): sync.sql:59,72-77 — fixed block step.
- per-chunk atomic commit (T3): sync.sql:108-111 — here: the chunk writes
  every table of the plug into a fresh, uniquely named directory (the
  tables concurrently, one thread each), then one save of the plug's state
  document publishes all of those directories, the cursor and the block
  time together. Readers resolve state → directories, so a crash before
  the save leaves only unreferenced directories, and a retry writes new
  ones: retries are exactly-once without a second commit point.
- massive vs live sync (T4): one code path — ``backfill`` over a large range
  IS massive sync; the streaming wrapper drives ``backfill`` per
  micro-batch (runner/streaming.py), so every path cuts chunks on the same
  ``step`` grid.
- fork recovery (J6): FK-cascade becomes recompute-tail — one state commit
  drops the entries past the fork point, swaps the straddling entry for a
  filtered copy and resets the cursor; the next backfill re-runs the tail.

Scale posture: the state's ``chunks`` list is the manifest of every table.
A chunk that completes ``FOLD_FANIN`` entries of one level folds them into
one entry of the next level in the same write, so a read names at most
``(FOLD_FANIN - 1) * levels`` directories — O(log history), never a
listing — and every file is sorted on ``block_num`` for parquet zone maps
(SURVEY §4.1); nothing ever reads or collects an unbounded set.
"""

from __future__ import annotations

import functools
import math
import os
import uuid
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from haf_plug_play_spark.fixtures import OPS_SCHEMA, TRX_SCHEMA
from haf_plug_play_spark.ingest.envelope import dead_letter, parse_custom_json
from haf_plug_play_spark.plugs.framework import Plug
from haf_plug_play_spark.runner.fs import LocalFS
from haf_plug_play_spark.runner.state import PlugState, PlugStateStore
from haf_plug_play_spark.sources.oplog import read_ops, read_trx

DEFAULT_STEP = 100  # blocks per chunk — sync.sql:59
#: a chunk that completes a run of this many state entries of one level
#: rewrites them, with its own rows, as one entry of the next level
FOLD_FANIN = 8
FOLD_FILE_BYTES = 128 << 20  # target output file size of a fold


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

    def _dirs(self, table: str, entries: list[dict]) -> list[str]:
        return [os.path.join(self._table_dir(table), e["dir"]) for e in entries]

    def _bytes(self, table: str, entries: list[dict]) -> int:
        return sum(
            self.fs.getsize(os.path.join(d, f))
            for d in self._dirs(table, entries)
            for f in self.fs.listdir(d)
            if f.endswith(".parquet")
        )

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

    def _write_append_table(
        self, table: str, df: DataFrame, name: str, nbytes: int = 0
    ) -> None:
        """Write ``df`` into the fresh directory ``name`` of ``table``: one
        file per ``FOLD_FILE_BYTES`` of ``nbytes`` (the bytes folded in),
        each sorted on block_num, so parquet min/max stats on block_num are
        tight and range predicates skip row groups (SCALE.md). A plain chunk
        is one task with no exchange; an empty frame still leaves a file."""
        if "block_num" not in df.columns:
            raise ValueError(f"append table {table} must carry block_num")
        files = max(1, math.ceil(nbytes / FOLD_FILE_BYTES))
        df = df.coalesce(1) if files == 1 else df.repartitionByRange(files, "block_num")
        (
            df.sortWithinPartitions("block_num")
            .write.mode("error")
            .parquet(os.path.join(self._table_dir(table), name))
        )

    @functools.cached_property
    def _schemas(self) -> dict[str, T.StructType]:
        """Each output table's on-disk schema: the plug's transform over an
        empty op log, made nullable as every parquet read is. Building it
        launches no Spark job."""
        parsed = parse_custom_json(
            self.spark.createDataFrame([], OPS_SCHEMA),
            self.spark.createDataFrame([], TRX_SCHEMA) if self.trx_path else None,
        )
        out = dict(self.plug.silver_transform(parsed))
        out["_dead_letter"] = dead_letter(parsed, self.plug.cj_ids)
        return {table: _nullable(df.schema) for table, df in out.items()}

    def _read(self, table: str, entries: list[dict]) -> DataFrame:
        schema = self._schemas[table]
        if not entries:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(*self._dirs(table, entries))

    def _committed(self, tables) -> PlugState:
        """The plug's state, refusing the one reading that would serve data
        as missing: "never synced" while a table directory holds data (the
        state file is briefly absent in HadoopFS's delete+rename fallback,
        review r9)."""
        state = self.store.load(self.plug.name)
        if state.latest_block_num < 0 and any(
            self.fs.listdir(self._table_dir(t)) for t in tables
        ):
            raise RuntimeError(
                f"plug {self.plug.name}: the state says never synced, but "
                f"{self.out_root} holds its table data; refusing to serve it as empty"
            )
        return state

    def read_table(self, table: str) -> DataFrame:
        """Cumulative silver table: the directories the plug's state names,
        read with the table's declared schema — no listing and no
        schema-inference job. A plug with no committed chunk reads as
        empty with that schema. A corrupt footer, permission failure or
        transient FS error surfaces when the frame is first evaluated, and
        is never served as an empty-but-200 table (review r9)."""
        return self._read(table, self._committed([table]).chunks)

    def read_gold(self, table: str) -> DataFrame:
        """Gold view over cumulative silver tables (e.g. polls_content), all
        read from one state, so they show the same chunks."""
        entries = self._committed(self._schemas).chunks
        return self.plug.gold[table]({t: self._read(t, entries) for t in self._schemas})

    def _silver_table_names(self) -> list[str]:
        return list(self._schemas)

    # ------------------------------------------------------------ sync

    def process_range(self, first: int, last: int) -> None:
        """One micro-batch: parse → plug silver transform → one fresh
        directory per table → one state save that publishes them with the
        cursor. ``first`` clips to cursor + 1, so a range at or below the
        cursor (a replay) writes nothing and only checks in."""
        state = self.store.load(self.plug.name)
        first = max(first, state.latest_block_num + 1)
        if first > last:
            # the watchdog reads check_in as liveness, replays included
            self.store.save(state)
            return
        # fold: the chunk completes FOLD_FANIN entries of level 0, and then
        # perhaps of level 1, … — its write absorbs them (entries keep
        # descending levels with at most FOLD_FANIN - 1 per level)
        keep, level = len(state.chunks), 0
        while keep >= FOLD_FANIN - 1 and all(
            e["level"] == level for e in state.chunks[keep - FOLD_FANIN + 1 : keep]
        ):
            keep, level = keep - FOLD_FANIN + 1, level + 1
        folded = state.chunks[keep:]
        entry = _entry(folded[0]["first"] if folded else first, last, level)
        # per-plug scheduler pool ≙ the reference's process-per-plug
        # isolation (database/plugs.py:14,99): concurrent plugs running in
        # separate driver threads get fair-shared executor slots instead of
        # one plug's backfill starving the others
        self.spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", f"plug-{self.plug.name}"
        )

        def write(table: str, df: DataFrame) -> None:
            if folded:
                df = df.unionByName(self._read(table, folded))
            self._write_append_table(
                table, df, entry["dir"], self._bytes(table, folded)
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
            max_row = parsed.agg(F.max("created").alias("t")).first()
            # one thread per table: each write's fixed cost is mostly
            # planning and job set-up, so the writes overlap instead of
            # queueing. The threads inherit this thread's scheduler pool
            # and job group.
            with ThreadPoolExecutor(max_workers=len(out)) as pool:
                writes = [
                    pool.submit(inheritable_thread_target(self.spark)(write), table, df)
                    for table, df in out.items()
                ]
            # all writes have finished; the first failure aborts the commit
            try:
                for w in writes:
                    w.result()
            except BaseException:
                self._delete([entry])  # the tables that did get written
                raise
        finally:
            parsed.unpersist()
        state.chunks = state.chunks[:keep] + [entry]
        state.latest_block_num = last
        if max_row.t is not None:
            state.latest_block_time = max_row.t.strftime("%Y-%m-%dT%H:%M:%S")
        self.store.save(state)
        self._delete(folded)

    def _delete(self, entries: list[dict]) -> None:
        """Remove the entries' directories of every table. Superseded ones
        go only after the commit, so a crash leaves unreferenced ones."""
        for table in self._schemas:
            for d in self._dirs(table, entries):
                self.fs.delete(d)

    def backfill(self, first: int, last: int) -> list[tuple[int, int]]:
        """Massive sync: chunked traversal with monotonic guards. Returns the
        chunk ranges processed; chunk ends sit on the ``step`` grid."""
        a = max(first, self.store.load(self.plug.name).latest_block_num + 1)
        if a > last:  # stale (T10) or empty range → no-op
            return []
        ranges = []
        while a <= last:
            b = min((a // self.step + 1) * self.step - 1, last)
            ranges.append((a, b))
            a = b + 1
        for a, b in ranges:
            self.process_range(a, b)
        state = self.store.load(self.plug.name)
        state.massive_synced = True
        self.store.save(state)
        return ranges

    # ------------------------------------------------------------ forks

    def recover_fork(self, fork_block: int) -> None:
        """Recompute-tail (J6) as one state commit: entries past the fork
        point are dropped, the entry straddling it is replaced by a copy
        filtered to ``block_num <= fork_block`` and the cursor is reset; the
        next backfill re-derives the tail from the (rewound) op log. Nothing
        is renamed; replaced directories are deleted after the commit."""
        state = self.store.load(self.plug.name)
        kept = [e for e in state.chunks if e["first"] <= fork_block]
        gone = state.chunks[len(kept):]
        if kept and kept[-1]["last"] > fork_block:
            old = kept[-1]
            kept[-1] = _entry(old["first"], fork_block, old["level"])
            for table in self._schemas:
                self._write_append_table(
                    table,
                    self._read(table, [old]).filter(F.col("block_num") <= fork_block),
                    kept[-1]["dir"],
                    self._bytes(table, [old]),
                )
            gone.append(old)
        state.chunks = kept
        state.latest_block_num = min(state.latest_block_num, fork_block)
        self.store.save(state)
        self._delete(gone)


def _entry(first: int, last: int, level: int) -> dict:
    """A state entry for blocks ``first..last``; its directory name is
    unique, so a retried or crashed write never meets an existing one."""
    return {
        "first": first,
        "last": last,
        "level": level,
        "dir": f"c-{first}-{last}-{uuid.uuid4().hex[:8]}",
    }


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
