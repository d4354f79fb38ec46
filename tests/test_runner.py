"""Runner tests: chunked backfill == one-shot batch, retry idempotency,
resume, fork recovery, streaming == batch, health + watchdog."""

from __future__ import annotations

import datetime

import pytest

from haf_plug_play_spark import fixtures
from haf_plug_play_spark.ingest.envelope import parse_custom_json
from haf_plug_play_spark.plugs import PLUGS
from haf_plug_play_spark.plugs.polls import content_from
from haf_plug_play_spark.runner.batch import PlugRunner
from haf_plug_play_spark.runner.state import PlugStateStore
from haf_plug_play_spark.runner.streaming import (
    PlugWatchdog,
    StreamingPlugRunner,
    sync_status,
)

from .compare import canonical

N_OPS = 4_000
STEP = 200


@pytest.fixture(scope="module")
def oplog(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("oplog")
    ops_df, trx_df = fixtures.as_dataframes(spark, N_OPS, 42)
    ops_path, trx_path = str(root / "ops"), str(root / "trx")
    ops_df.repartitionByRange(6, "block_num").write.parquet(ops_path)
    trx_df.repartitionByRange(6, "block_num").write.parquet(trx_path)
    lo, hi = ops_df.agg({"block_num": "min"}).first()[0], ops_df.agg({"block_num": "max"}).first()[0]
    return ops_path, trx_path, lo, hi


def _expected(spark, ops_path, trx_path, plug, max_block=None):
    ops = spark.read.parquet(ops_path)
    if max_block is not None:
        ops = ops.filter(ops.block_num <= max_block)
    trx = spark.read.parquet(trx_path)
    if max_block is not None:
        trx = trx.filter(trx.block_num <= max_block)
    return plug.transform(parse_custom_json(ops, trx))


def _rows(df):
    cols = sorted(df.columns)
    return canonical(cols, [tuple(r[c] for c in cols) for r in df.select(cols).collect()])


def _assert_same(a_df, b_df, label):
    assert sorted(a_df.columns) == sorted(b_df.columns), label
    assert _rows(a_df) == _rows(b_df), label


def _check_plug_outputs(runner, expected):
    _assert_same(runner.read_table("polls_ops"), expected["polls_ops"], "polls_ops")
    _assert_same(
        runner.read_table("polls_votes").drop("block_num"),
        expected["polls_votes"],
        "polls_votes",
    )
    _assert_same(runner.read_gold("polls_content"), expected["polls_content"], "polls_content")


def test_backfill_equals_batch(spark, oplog, tmp_path):
    ops_path, trx_path, lo, hi = oplog
    runner = PlugRunner(spark, PLUGS["polls"], ops_path, trx_path, str(tmp_path), step=STEP)
    ranges = runner.backfill(lo, hi)
    assert len(ranges) >= 5
    assert all(last // STEP == first // STEP for first, last in ranges)  # bucket-aligned
    expected = _expected(spark, ops_path, trx_path, PLUGS["polls"])
    _check_plug_outputs(runner, expected)
    # retry a middle chunk verbatim → byte-identical state (exactly-once)
    runner.process_range(*ranges[len(ranges) // 2])
    _check_plug_outputs(runner, expected)


def test_dead_letter_persisted(spark, oplog, tmp_path):
    """T14: malformed matched ops survive as a queryable table."""
    import json

    ops_path, trx_path, lo, hi = oplog
    runner = PlugRunner(spark, PLUGS["podping"], ops_path, trx_path, str(tmp_path), step=STEP)
    runner.backfill(lo, hi)
    dl = runner.read_table("_dead_letter")
    rows = dl.collect()
    assert len(rows) > 0
    for r in rows:
        assert r.cj_id in PLUGS["podping"].cj_ids
        try:
            json.loads(r.payload)
            raise AssertionError("valid JSON in dead letter")
        except ValueError:
            pass


def test_backfill_resume_and_guards(spark, oplog, tmp_path):
    ops_path, trx_path, lo, hi = oplog
    mid = (lo + hi) // 2
    runner = PlugRunner(spark, PLUGS["podping"], ops_path, trx_path, str(tmp_path), step=STEP)
    runner.backfill(lo, mid)
    # second call spans the whole range: the monotonic guard clips it to
    # the block after the cursor
    ranges = runner.backfill(lo, hi)
    assert ranges[0][0] == mid + 1
    assert runner.backfill(lo, mid) == []  # stale range → no-op (T10)
    expected = _expected(spark, ops_path, trx_path, PLUGS["podping"])
    _assert_same(runner.read_table("podping_ops"), expected["podping_ops"], "podping_ops")
    _assert_same(runner.read_table("podping_updates"), expected["podping_updates"], "podping_updates")


def test_resume_with_later_start_block_keeps_bucket_head(spark, oplog, tmp_path):
    """Regression (review finding): resuming with a start_block INSIDE the
    cursor's bucket must still re-derive the full partial bucket — aligning
    to the call's start_block instead of the persisted floor silently
    deleted the bucket-head rows on partition overwrite."""
    ops_path, trx_path, lo, hi = oplog
    runner = PlugRunner(spark, PLUGS["podping"], ops_path, trx_path, str(tmp_path), step=STEP)
    mid = ((lo + (hi - lo) // 2) // STEP) * STEP + STEP // 2  # mid-bucket stop
    runner.backfill(lo, mid)
    # resume asking only for a LATER start inside the same bucket
    runner.backfill(mid - STEP // 4, hi)
    expected = _expected(spark, ops_path, trx_path, PLUGS["podping"])
    _assert_same(runner.read_table("podping_ops"), expected["podping_ops"], "podping_ops")


def test_cursor_never_rewinds_on_replay(spark, oplog, tmp_path):
    """Regression (review finding): replaying an old chunk (idempotent
    retry) must not rewind the sync cursor."""
    ops_path, trx_path, lo, hi = oplog
    runner = PlugRunner(spark, PLUGS["podping"], ops_path, trx_path, str(tmp_path), step=STEP)
    runner.backfill(lo, hi)
    runner.process_range((lo // STEP) * STEP, (lo // STEP) * STEP + STEP - 1)
    assert runner.store.load("podping").latest_block_num == hi


def test_read_gold_on_clean_oplog(spark, tmp_path):
    """Regression (review finding): a synced range with NO malformed ops
    leaves an empty _dead_letter dir; read_table/read_gold must fall back
    to its schema instead of raising KeyError."""
    import datetime
    import json

    rows = [
        {
            "id": i + 1, "block_num": 1000 + i, "trx_in_block": 0,
            "timestamp": datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=3 * i),
            "op_type_id": 18,
            "body": json.dumps({"type": "custom_json_operation", "value": {
                "id": "polls", "required_auths": [], "required_posting_auths": ["alice"],
                "json": json.dumps([[1, "app"], "create", {
                    "permlink": f"p{i}", "question": "q", "answers": ["a", "b"],
                    "expires": "2024-06-01 00:00:00", "tag": "t"}])}}),
        }
        for i in range(6)
    ]
    from haf_plug_play_spark import fixtures as fx

    ops_df = spark.createDataFrame(rows, fx.OPS_SCHEMA)
    ops_path = str(tmp_path / "ops")
    ops_df.write.parquet(ops_path)
    runner = PlugRunner(spark, PLUGS["polls"], ops_path, None, str(tmp_path / "out"), step=10)
    runner.backfill(1000, 1005)
    assert runner.read_table("_dead_letter").count() == 0
    content = runner.read_gold("polls_content")
    assert content.count() == 6


@pytest.fixture(scope="module")
def synced(spark, oplog, tmp_path_factory):
    """Every plug backfilled over the whole ``oplog``, one runner each."""
    ops_path, trx_path, lo, hi = oplog
    out = str(tmp_path_factory.mktemp("synced"))
    runners = {
        name: PlugRunner(spark, PLUGS[name], ops_path, trx_path, out, step=STEP)
        for name in ("podping", "polls", "hive_engine")
    }
    for runner in runners.values():
        runner.backfill(lo, hi)
    return runners


def test_read_table_declared_schema_matches_inferred(spark, synced, tmp_path):
    """``read_table`` reads with a schema derived from the plug's transform
    instead of inferring it from the footers: for every silver table and
    the dead letter, that schema (nullability included) and the rows must
    equal what an inferring read of the same directory returns. A table
    never synced reads as empty with the same schema."""
    for name, runner in synced.items():
        tables = runner._silver_table_names()
        assert "_dead_letter" in tables and len(tables) > 2, name
        fresh = PlugRunner(
            spark, runner.plug, runner.ops_path, runner.trx_path,
            str(tmp_path / name), step=STEP,
        )
        entries = runner.store.load(name).chunks
        for table in tables:
            # an inferring read of the directories the state names
            inferred = spark.read.parquet(*runner._dirs(table, entries))
            got = runner.read_table(table)
            assert got.schema == inferred.schema, (name, table)
            assert _rows(got) == _rows(inferred), (name, table)
            empty = fresh.read_table(table)
            assert empty.schema == inferred.schema and empty.count() == 0, (name, table)


def test_serving_context_launches_no_jobs(spark, synced):
    """Building a serving context (every silver table plus the polls gold
    view) is pure plan construction: no schema-inference job per table."""
    sc = spark.sparkContext
    group = "test-serving-context-no-jobs"
    sc.setJobGroup(group, group)
    try:
        for runner in synced.values():
            for table in runner._silver_table_names():
                runner.read_table(table)
        synced["polls"].read_gold("polls_content")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_serving_context_independent_of_history(spark, oplog, tmp_path):
    """The serving context's cost does not grow with the synced history: at
    5 chunks and at 40 every polls table reads the same number of
    directories, and building the context launches no job (Spark lists
    more than 32 paths with a job). The rows equal the one-shot result."""
    import os

    ops_path, trx_path, lo, _ = oplog
    step = 40
    runner = PlugRunner(spark, PLUGS["polls"], ops_path, trx_path, str(tmp_path), step=step)
    sc = spark.sparkContext

    def context(chunks: int) -> dict[str, int]:
        runner.backfill(lo, (lo // step + chunks) * step - 1)
        group = f"test-history-{chunks}"
        sc.setJobGroup(group, group)
        try:
            frames = {t: runner.read_table(t) for t in runner._silver_table_names()}
            runner.read_gold("polls_content")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], chunks
        return {t: len({os.path.dirname(f) for f in df.inputFiles()}) for t, df in frames.items()}

    at5 = context(5)
    assert context(40) == at5
    _check_plug_outputs(
        runner,
        _expected(spark, ops_path, trx_path, PLUGS["polls"], max_block=(lo // step + 40) * step - 1),
    )


def test_bucket_files_sorted_by_block_num(synced):
    """Each directory the state names holds one file sorted on block_num,
    so parquet min/max stats on block_num are tight (SCALE.md)."""
    import glob

    import pyarrow.parquet as pq

    for name, runner in synced.items():
        entries = runner.store.load(name).chunks
        for table in runner._silver_table_names():
            for d in runner._dirs(table, entries):
                files = glob.glob(f"{d}/*.parquet")
                assert len(files) == 1, d
                blocks = pq.read_table(files[0], columns=["block_num"]).column(0).to_pylist()
                assert blocks == sorted(blocks), d


def test_failed_table_write_aborts_chunk_commit(spark, oplog, tmp_path, monkeypatch):
    """The chunk's tables are written concurrently; one failed write must
    fail the chunk and leave the cursor, the block time and every table's
    rows where they were (no table shows the failed chunk), and a plain
    retry must converge to the one-shot result (exactly-once)."""
    ops_path, trx_path, lo, hi = oplog
    runner = PlugRunner(spark, PLUGS["polls"], ops_path, trx_path, str(tmp_path), step=STEP)
    first_bucket_end = (lo // STEP) * STEP + STEP - 1
    runner.backfill(lo, first_bucket_end)
    before = runner.store.load("polls")
    tables = runner._silver_table_names()
    rows_before = {t: _rows(runner.read_table(t)) for t in tables}
    write = PlugRunner._write_append_table

    def failing(self, table, *args):
        if table == "polls_votes":
            raise RuntimeError("injected write failure")
        write(self, table, *args)

    monkeypatch.setattr(PlugRunner, "_write_append_table", failing)
    with pytest.raises(RuntimeError, match="injected write failure"):
        runner.process_range(first_bucket_end + 1, first_bucket_end + STEP)
    after = runner.store.load("polls")
    assert after.latest_block_num == before.latest_block_num
    assert after.latest_block_time == before.latest_block_time
    for t in tables:
        assert _rows(runner.read_table(t)) == rows_before[t], t
    monkeypatch.undo()
    runner.backfill(lo, hi)
    _check_plug_outputs(runner, _expected(spark, ops_path, trx_path, PLUGS["polls"]))


def test_chunk_writes_keep_job_group_and_pool(spark, oplog, tmp_path):
    """The write threads inherit the caller's job group and the plug's
    scheduler pool: every job of a chunk is attributed to the group the
    chunk ran under, and every stage ran in the plug's pool."""
    ops_path, trx_path, lo, _ = oplog
    runner = PlugRunner(spark, PLUGS["polls"], ops_path, trx_path, str(tmp_path), step=STEP)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    group = "test-chunk-job-group"
    sc.setJobGroup(group, group)
    try:
        runner.process_range(lo, (lo // STEP) * STEP + STEP - 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped
    jobs = list(tracker.getJobIdsForGroup(group))
    tables = len(runner._silver_table_names())
    assert len(jobs) >= tables + 1  # one write per table plus the cursor max
    store = sc._jsc.sc().statusStore()
    for job in jobs:
        ran = 0
        for stage in tracker.getJobInfo(job).stageIds:
            # once the store holds more than spark.ui.retainedStages, Spark
            # evicts never-run (skipped) stages first; the count below
            # checks that no stage that ran went missing
            if tracker.getStageInfo(stage) is None:
                continue
            attempt = store.lastStageAttempt(stage)
            if attempt.status().toString() != "SKIPPED":  # never scheduled
                assert attempt.schedulingPool() == "plug-polls"
                ran += 1
        assert ran == store.job(job).numCompletedStages(), job


def test_fork_recovery(spark, oplog, tmp_path):
    ops_path, trx_path, lo, hi = oplog
    fork = lo + (hi - lo) * 2 // 3
    runner = PlugRunner(spark, PLUGS["polls"], ops_path, trx_path, str(tmp_path), step=STEP)
    runner.backfill(lo, hi)
    runner.recover_fork(fork)
    assert runner.store.load("polls").latest_block_num == fork
    truncated = _expected(spark, ops_path, trx_path, PLUGS["polls"], max_block=fork)
    _check_plug_outputs(runner, truncated)
    # re-sync the tail: state must converge to the full-log result
    runner.backfill(lo, hi)
    full = _expected(spark, ops_path, trx_path, PLUGS["polls"])
    _check_plug_outputs(runner, full)


def test_streaming_matches_batch(spark, oplog, tmp_path):
    ops_path, trx_path, _, _ = oplog
    srunner = StreamingPlugRunner(
        spark, PLUGS["polls"], ops_path, trx_path, str(tmp_path), step=STEP
    )
    q = srunner.start(fixtures.OPS_SCHEMA, available_now=True)
    q.awaitTermination(120)
    expected = _expected(spark, ops_path, trx_path, PLUGS["polls"])
    _assert_same(srunner.read_table("polls_ops"), expected["polls_ops"], "polls_ops")
    content = content_from(
        srunner.read_table("polls_creates"), srunner.read_table("polls_deletes")
    )
    _assert_same(content, expected["polls_content"], "polls_content")


def test_stream_after_backfill_hand_off(spark, oplog, tmp_path):
    """T4 hand-off: massive sync, then the live stream over the SAME
    out_root. The stream re-delivers the whole log, which sits at or below
    the backfill cursor, so it must neither double rows nor write a second
    layout next to the block buckets that serving reads."""
    ops_path, trx_path, lo, hi = oplog
    runner = PlugRunner(
        spark, PLUGS["podping"], ops_path, trx_path, str(tmp_path), step=STEP
    )
    runner.backfill(lo, hi)
    srunner = StreamingPlugRunner(
        spark, PLUGS["podping"], ops_path, trx_path, str(tmp_path), step=STEP
    )
    q = srunner.start(fixtures.OPS_SCHEMA, available_now=True)
    q.awaitTermination(120)
    expected = _expected(spark, ops_path, trx_path, PLUGS["podping"])
    for table in ("podping_ops", "podping_updates"):
        _assert_same(srunner.read_table(table), expected[table], table)
        _assert_same(runner.read_table(table), expected[table], table)
    assert runner.store.load("podping").latest_block_num == hi


def test_sync_status(spark, oplog, tmp_path):
    ops_path, trx_path, lo, hi = oplog
    runner = PlugRunner(spark, PLUGS["polls"], ops_path, trx_path, str(tmp_path), step=STEP)
    runner.backfill(lo, hi)
    head_time = (
        spark.read.parquet(ops_path).agg({"timestamp": "max"}).first()[0]
    )
    fresh_now = head_time.replace(tzinfo=datetime.timezone.utc) + datetime.timedelta(seconds=5)
    status = sync_status(spark, ops_path, runner.store, [PLUGS["polls"]], now=fresh_now)
    assert status["status"] == "GOOD" and status["plugs"][0]["lag_blocks"] == 0
    stale_now = fresh_now + datetime.timedelta(minutes=10)
    assert sync_status(spark, ops_path, runner.store, [PLUGS["polls"]], now=stale_now)["status"] == "BAD"
    # lagging cursor → BAD even with fresh head
    st = runner.store.load("polls")
    st.latest_block_num = hi - 50
    runner.store.save(st)
    assert sync_status(spark, ops_path, runner.store, [PLUGS["polls"]], now=fresh_now)["status"] == "BAD"


def test_compaction_preserves_rows(spark, oplog, tmp_path, monkeypatch):
    """A chunk that completes FOLD_FANIN entries of one level rewrites them
    with its own rows as one entry of the next level: rows identical, one
    directory in place of eight (the superseded ones deleted), and every
    output file sorted on block_num — also when the fold's input asks for
    several files (the file target is shrunk here to force that)."""
    import glob

    import pyarrow.parquet as pq

    from haf_plug_play_spark.runner import batch

    ops_path, trx_path, lo, _ = oplog
    runner = PlugRunner(spark, PLUGS["podping"], ops_path, trx_path, str(tmp_path), step=STEP)
    end = (lo // STEP + batch.FOLD_FANIN - 1) * STEP - 1  # one chunk short of a fold
    runner.backfill(lo, end)
    entries = runner.store.load("podping").chunks
    assert [e["level"] for e in entries] == [0] * (batch.FOLD_FANIN - 1)
    tables = runner._silver_table_names()
    before = {t: _rows(runner.read_table(t)) for t in tables}
    target = runner._bytes("podping_ops", entries) // 3
    monkeypatch.setattr(batch, "FOLD_FILE_BYTES", target)
    runner.backfill(lo, end + STEP)
    (entry,) = runner.store.load("podping").chunks
    assert entry["level"] == 1 and entry["first"] == entries[0]["first"]
    expected = _expected(spark, ops_path, trx_path, PLUGS["podping"], max_block=end + STEP)
    for t in ("podping_ops", "podping_updates"):
        assert _rows(runner.read_table(t)) == _rows(expected[t]), t
    for t in tables:
        assert set(before[t]) <= set(_rows(runner.read_table(t))), t
        for d in runner._dirs(t, entries):
            assert not glob.glob(d), d
        (d,) = runner._dirs(t, [entry])
        files = glob.glob(f"{d}/*.parquet")
        if t == "podping_ops":
            assert len(files) >= 3, files
        for f in files:
            blocks = pq.read_table(f, columns=["block_num"]).column(0).to_pylist()
            assert blocks == sorted(blocks), f


def test_per_plug_scheduler_pool(spark, oplog, tmp_path):
    """Concurrent plugs must run in their own scheduler pool (≙ the
    reference's process-per-plug isolation, database/plugs.py:14,99)."""
    ops_path, trx_path, lo, _ = oplog
    runner = PlugRunner(spark, PLUGS["podping"], ops_path, trx_path, str(tmp_path), step=STEP)
    runner.process_range(lo, lo + STEP - 1)
    assert (
        spark.sparkContext.getLocalProperty("spark.scheduler.pool")
        == "plug-podping"
    )


def test_streaming_trx_scan_range_pushdown(spark, oplog, tmp_path):
    """Each chunk's trx scan — batch and live alike, both commit through
    ``PlugRunner.process_range`` — must clip to the chunk's block range AND
    push the range into the parquet scan: a per-chunk full scan of the trx
    log is a scale-killer at 100 TB."""
    from .test_plans import _plan

    ops_path, trx_path, lo, _ = oplog
    runner = PlugRunner(
        spark, PLUGS["podping"], ops_path, trx_path, str(tmp_path), step=STEP
    )
    plan = _plan(runner._parsed_range(lo, lo + 99))
    assert f"GreaterThanOrEqual(block_num,{lo})" in plan
    assert f"LessThanOrEqual(block_num,{lo + 99})" in plan


def test_watchdog_cancels_stuck_live_query(tmp_path):
    """A live query whose plug check_in went stale is wedged: the watchdog
    must stop() and restart it (parity with the reference's stuck-backend
    cancel), not just report it."""

    class FakeQuery:
        def __init__(self):
            self.stopped = False

        @property
        def isActive(self):
            return not self.stopped

        def stop(self):
            self.stopped = True

    store = PlugStateStore(str(tmp_path / "_state"))
    store.save(store.load("wedged"))  # stamps check_in = now
    q1, q2 = FakeQuery(), FakeQuery()
    dog = PlugWatchdog(store)
    dog.register("wedged", q1, lambda: q2)
    # fresh check_in: live query left alone
    assert dog.check().restarted == []
    assert not q1.stopped
    # stale check_in + still active → cancel + restart
    future = datetime.datetime.now(datetime.timezone.utc) + datetime.timedelta(seconds=120)
    report = dog.check(now=future)
    assert report.stale_plugs == ["wedged"] and report.restarted == ["wedged"]
    assert q1.stopped and dog.queries["wedged"][0] is q2
    # cooldown: check_in only refreshes on batch commit, so the restarted
    # query still looks stale — it must get a full window, not a kill loop
    assert dog.check(now=future).restarted == [] and not q2.stopped
    later = future + datetime.timedelta(seconds=120)
    assert dog.check(now=later).restarted == ["wedged"] and q2.stopped


def test_watchdog(spark, oplog, tmp_path):
    ops_path, trx_path, _, _ = oplog
    store = PlugStateStore(str(tmp_path / "_state"))
    srunner = StreamingPlugRunner(
        spark, PLUGS["podping"], ops_path, trx_path, str(tmp_path), step=STEP
    )

    def restart():
        return srunner.start(fixtures.OPS_SCHEMA, available_now=True)

    q = restart()
    q.awaitTermination(120)
    assert not q.isActive  # availableNow query drains and stops
    dog = PlugWatchdog(store)
    dog.register("podping", q, restart)
    report = dog.check()
    assert report.restarted == ["podping"]  # dead query restarted (T11)
    q2 = dog.queries["podping"][0]
    q2.awaitTermination(120)
    # stale check_in detection (stuck sync, functions.sql:43)
    st = store.load("podping")
    store.save(st)
    old = datetime.datetime.now(datetime.timezone.utc) + datetime.timedelta(seconds=120)
    assert dog.check(now=old).stale_plugs == ["podping"]

def test_process_range_refuses_cross_bucket_ranges(spark, oplog, tmp_path):
    """process_range writes fresh directories and clips to the cursor, so a
    direct call across step boundaries loses nothing: a cross-step range
    followed by a backfill equals the one-shot result."""
    ops_path, trx_path, lo, hi = oplog
    runner = PlugRunner(
        spark, PLUGS["polls"], ops_path, trx_path, str(tmp_path), step=STEP
    )
    runner.process_range(lo, lo + STEP + STEP // 2)
    assert runner.store.load("polls").latest_block_num == lo + STEP + STEP // 2
    runner.backfill(lo, hi)
    _check_plug_outputs(runner, _expected(spark, ops_path, trx_path, PLUGS["polls"]))


def test_backfill_empty_range_records_no_floor(spark, oplog, tmp_path):
    """review r9: an inverted/empty range on a fresh store must not
    persist massive_synced or any chunk — it used to permanently block
    earlier blocks from a later correct backfill."""
    ops_path, trx_path, lo, hi = oplog
    runner = PlugRunner(
        spark, PLUGS["polls"], ops_path, trx_path, str(tmp_path), step=STEP
    )
    assert runner.backfill(hi, lo) == []  # inverted args → no-op
    st = runner.store.load("polls")
    assert not st.massive_synced
    # a later correct backfill covers the full range from lo
    ranges = runner.backfill(lo, lo + 2 * STEP)
    assert ranges and ranges[0][0] <= lo


def test_replayed_chunk_does_not_rewind_block_time(spark, oplog, tmp_path):
    """review r9: the monotonic guard covers latest_block_time too — a
    replayed old chunk must not pair a months-old time with a current
    cursor in status/health."""
    ops_path, trx_path, lo, hi = oplog
    runner = PlugRunner(
        spark, PLUGS["polls"], ops_path, trx_path, str(tmp_path), step=STEP
    )
    runner.backfill(lo, hi)
    st = runner.store.load("polls")
    head_time, head_block = st.latest_block_time, st.latest_block_num
    # replay the first chunk (idempotent retry)
    first_bucket = (lo // STEP) * STEP
    runner.process_range(first_bucket, first_bucket + STEP - 1)
    st2 = runner.store.load("polls")
    assert st2.latest_block_num == head_block
    assert st2.latest_block_time == head_time


def test_streaming_dead_letter_and_replay_monotonicity(spark, oplog, tmp_path):
    """Two r10 live-path fixes (parity with the review-r9 batch fixes):
    (a) T14 on the stream — malformed-but-matched ops land in the same
    queryable _dead_letter table the backfill writes, so live and batch
    derivations of one log never diverge on evidence; (b) a REPLAYED
    epoch (restart after a crash between write and checkpoint commit)
    must rewind neither the cursor nor latest_block_time."""
    from haf_plug_play_spark.ingest.envelope import dead_letter

    ops_path, trx_path, lo, hi = oplog
    srunner = StreamingPlugRunner(
        spark, PLUGS["polls"], ops_path, trx_path, str(tmp_path), step=STEP
    )
    q = srunner.start(fixtures.OPS_SCHEMA, available_now=True)
    q.awaitTermination(120)

    expected_dl = dead_letter(
        parse_custom_json(
            spark.read.parquet(ops_path), spark.read.parquet(trx_path)
        ),
        PLUGS["polls"].cj_ids,
    )
    _assert_same(
        srunner.read_table("_dead_letter"), expected_dl, "_dead_letter"
    )

    # replay: re-process the FIRST blocks directly (what foreachBatch does
    # on epoch retry) after the state has advanced past them
    state = srunner.store.load("polls")
    cursor, t = state.latest_block_num, state.latest_block_time
    # the cursor tracks the max PARSED block (matched cj_ids), which may
    # trail the raw log head by the unmatched tail — it must at least be
    # far past the replay batch below
    assert lo + 50 < cursor <= hi
    old_batch = spark.read.parquet(ops_path).filter(
        f"block_num <= {lo + 50}"
    )
    srunner._process_batch(old_batch, epoch_id=0)
    state2 = srunner.store.load("polls")
    assert state2.latest_block_num == cursor
    assert state2.latest_block_time == t
