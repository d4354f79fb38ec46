"""Structured Streaming wrapper, health assessment, watchdog.

Reference parity:
- live sync loop (T1-T4): database/sql/sync.sql:3-42,59-117 → ``readStream``
  over the op log is only the trigger; each micro-batch's block range runs
  through ``PlugRunner.backfill``, so live and massive sync share one
  commit path and one table layout.
- exactly-once (T3): a replayable source plus a sink with one commit
  point — each chunk writes fresh directories that only the plug's state
  save publishes, together with the cursor (sync.sql:108-111), and a
  replayed epoch falls at or below the cursor, so it only checks in. This
  assumes a block-ordered op log (SURVEY T13); forks go through
  ``PlugRunner.recover_fork``.
- health (T12): server/system_status.py:12-29 — BAD when any enabled plug
  lags the head by > 10 blocks or the head is > 30 s stale.
- watchdog (T11): database/plugs.py:89-102 — restart dead queries, flag
  plugs whose check_in went stale (> 60 s, database/sql/functions.sql:43),
  and cancel + restart live-but-wedged queries (the reference cancels the
  stuck backend, database/sql/functions.sql:49-62).
"""

from __future__ import annotations

import datetime
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from haf_plug_play_spark.plugs.framework import Plug
from haf_plug_play_spark.runner.batch import DEFAULT_STEP, PlugRunner
from haf_plug_play_spark.runner.state import PlugStateStore
from haf_plug_play_spark.sources.oplog import read_ops

MAX_HEALTHY_LAG_BLOCKS = 10  # server/system_status.py:23
MAX_HEALTHY_HEAD_AGE_S = 30  # server/system_status.py:25-26
STUCK_SYNC_S = 60  # database/sql/functions.sql:43


class StreamingPlugRunner:
    """Runs a plug as a streaming query over a growing op-log directory: a
    thin trigger over ``PlugRunner``, which owns the writes and the cursor."""

    def __init__(
        self,
        spark: SparkSession,
        plug: Plug,
        ops_path: str,
        trx_path: str | None,
        out_root: str,
        checkpoint_root: str | None = None,
        fs=None,
        step: int = DEFAULT_STEP,
    ) -> None:
        self.spark = spark
        self.plug = plug
        self.ops_path = ops_path
        self.checkpoint = checkpoint_root or os.path.join(out_root, "_checkpoints", plug.name)
        self.runner = PlugRunner(
            spark, plug, ops_path, trx_path, out_root, step=step, fs=fs
        )
        self.store = self.runner.store

    def _process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        rng = batch_df.agg(
            F.min("block_num").alias("lo"), F.max("block_num").alias("hi")
        ).first()
        if rng.lo is None or not self.runner.backfill(int(rng.lo), int(rng.hi)):
            # empty or replayed batch: nothing to commit, but the delivery
            # still checks in — PlugWatchdog reads check_in as liveness
            self.store.save(self.store.load(self.plug.name))

    def start(self, ops_schema, available_now: bool = True) -> StreamingQuery:
        # per-plug scheduler pool, mirroring the batch path (see
        # PlugRunner.process_range): concurrent plug streams fair-share
        self.spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", f"plug-{self.plug.name}"
        )
        stream = (
            self.spark.readStream.schema(ops_schema)
            .option("maxFilesPerTrigger", 4)  # rate limit ≙ 100-block chunks (T2)
            .parquet(self.ops_path)
        )
        writer = (
            stream.writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", self.checkpoint)
            .outputMode("append")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def read_table(self, table: str) -> DataFrame:
        return self.runner.read_table(table)


# ---------------------------------------------------------------- health


def sync_status(
    spark: SparkSession,
    ops_path: str,
    store: PlugStateStore,
    plugs: list[Plug],
    now: datetime.datetime | None = None,
) -> dict:
    """System status ≙ GET /api (server/system_status.py:12-29)."""
    # Epoch seconds computed JVM-side: collect() renders timestamps in the
    # PROCESS-local timezone, which would skew the age by the UTC offset on
    # non-UTC hosts; unix_timestamp is timezone-proof.
    head = (
        read_ops(spark, ops_path)
        .agg(
            F.max("block_num").alias("b"),
            F.max(F.unix_timestamp("timestamp")).alias("epoch"),
        )
        .first()
    )
    now = now or datetime.datetime.now(datetime.timezone.utc)
    head_age = (now.timestamp() - head.epoch) if head and head.epoch is not None else None
    plug_rows = []
    healthy = head_age is not None and head_age <= MAX_HEALTHY_HEAD_AGE_S
    for plug in plugs:
        if not plug.enabled:
            continue
        st = store.load(plug.name)
        lag = (head.b - st.latest_block_num) if head.b is not None else None
        plug_ok = lag is not None and lag <= MAX_HEALTHY_LAG_BLOCKS
        healthy = healthy and plug_ok
        plug_rows.append(
            {
                "plug": plug.name,
                "latest_block_num": st.latest_block_num,
                "latest_block_time": st.latest_block_time,
                "lag_blocks": lag,
                "healthy": plug_ok,
            }
        )
    return {
        "status": "GOOD" if healthy else "BAD",
        "head_block_num": head.b,
        "head_age_seconds": head_age,
        "plugs": plug_rows,
    }


# ---------------------------------------------------------------- watchdog


@dataclass
class WatchdogReport:
    stale_plugs: list[str]
    restarted: list[str]


class PlugWatchdog:
    """≙ AvailablePlugs.plug_watch (database/plugs.py:89-102): every cycle,
    flag plugs whose check_in is stale and restart dead streaming queries."""

    def __init__(self, store: PlugStateStore, stuck_after_s: float = STUCK_SYNC_S) -> None:
        self.store = store
        self.stuck_after_s = stuck_after_s
        self.queries: dict[str, tuple[StreamingQuery, object]] = {}
        self._last_restart: dict[str, datetime.datetime] = {}

    def register(self, plug_name: str, query: StreamingQuery, restart) -> None:
        self.queries[plug_name] = (query, restart)

    def check(self, now: datetime.datetime | None = None) -> WatchdogReport:
        now = now or datetime.datetime.now(datetime.timezone.utc)
        stale, restarted = [], []
        for name, (query, restart) in list(self.queries.items()):
            age = self.store.check_in_age(name, now)
            stuck = age is not None and age > self.stuck_after_s
            if stuck:
                stale.append(name)
            # cooldown: check_in only refreshes when a batch COMMITS, so a
            # freshly-restarted query still shows the stale timestamp; give
            # every restart a full stuck_after_s window to make progress or
            # the cancel path becomes a kill loop that never lets a slow
            # batch finish
            last = self._last_restart.get(name)
            in_cooldown = (
                last is not None and (now - last).total_seconds() <= self.stuck_after_s
            )
            if query is not None and not query.isActive:
                new_query = restart()
                self.queries[name] = (new_query, restart)
                self._last_restart[name] = now
                restarted.append(name)
            elif query is not None and stuck and not in_cooldown:
                # live-but-wedged query: cancel + restart, parity with the
                # reference's stuck-sync backend cancel
                # (database/sql/functions.sql:49-62, database/plugs.py:98-101)
                query.stop()
                new_query = restart()
                self.queries[name] = (new_query, restart)
                self._last_restart[name] = now
                restarted.append(name)
        return WatchdogReport(stale_plugs=stale, restarted=restarted)
