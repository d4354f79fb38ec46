"""Local-mode driver-heap sizing (r15, guide §5).

The pyspark launcher's 1g default heap is the cluster-sizing bug of local
mode: the driver JVM hosts every executor thread, so 1g across local[32]
is ~32 MB of execution+storage memory per core. ``get_spark`` fixes the
heap BEFORE the py4j gateway launches (SparkConf is applied after launch
and silently ineffective), sized to half of box RAM clamped to [2g, 16g].
"""

from __future__ import annotations

import os
import re

from haf_plug_play_spark.session import _default_driver_memory, get_spark


def test_default_driver_memory_is_clamped():
    mem = _default_driver_memory()
    m = re.fullmatch(r"(\d+)g", mem)
    assert m, mem
    assert 2 <= int(m.group(1)) <= 16


def test_running_jvm_actually_got_the_sized_heap(spark):
    """The point of the pre-launch injection: the live JVM's -Xmx must
    reflect the sized heap, not pyspark's 1g launcher default. (The test
    session is built by conftest through get_spark, so this asserts the
    real end-to-end effect.)"""
    expect = os.environ.get("SPARK_GRAFT_DRIVER_MEMORY") or _default_driver_memory()
    gb = int(expect.rstrip("g"))
    rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    max_mb = rt.maxMemory() // 1048576
    # maxMemory() reports slightly under -Xmx; 1g default would read ~1024
    assert max_mb > gb * 1024 * 0.9, f"JVM heap {max_mb} MB, expected ~{gb}g"


def test_get_spark_respects_existing_submit_args(spark, monkeypatch):
    """A caller-provided PYSPARK_SUBMIT_ARGS must never be overwritten —
    and with the gateway already up, get_spark must not mutate the env at
    all (the injection is launch-time-only)."""
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", "--driver-memory 3g pyspark-shell")
    get_spark("haf_plug_play_spark_tests", master="local[4]")
    assert os.environ["PYSPARK_SUBMIT_ARGS"] == "--driver-memory 3g pyspark-shell"


def _shm(monkeypatch, tmp_path, free_gib):
    """Point the /dev/shm candidate at ``tmp_path`` with ``free_gib`` free,
    so no test writes to the real /dev/shm."""
    import os as _os

    from haf_plug_play_spark import session

    class _Stat:
        f_bavail = free_gib * 1024**3
        f_frsize = 1

    monkeypatch.setattr(session, "_SHM", str(tmp_path))
    monkeypatch.setattr(_os, "statvfs", lambda path: _Stat())
    monkeypatch.delenv("SPARK_GRAFT_LOCAL_DIR", raising=False)
    monkeypatch.delenv("SPARK_LOCAL_DIRS", raising=False)


def test_default_local_dir_resolution(monkeypatch, tmp_path):
    """Scratch-dir selection (r16, guide §5/§6): explicit env wins, a
    caller/cluster-set SPARK_LOCAL_DIRS suppresses any engine choice, and
    the /dev/shm fallback only fires when the mount has headroom."""
    import os as _os

    from haf_plug_play_spark.session import _default_local_dir

    _shm(monkeypatch, tmp_path, free_gib=32)
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", "/scratch/x")
    assert _default_local_dir() == "/scratch/x"
    monkeypatch.delenv("SPARK_GRAFT_LOCAL_DIR")

    monkeypatch.setenv("SPARK_LOCAL_DIRS", "/cluster/managed")
    assert _default_local_dir() is None
    monkeypatch.delenv("SPARK_LOCAL_DIRS")

    result = _default_local_dir()
    assert result == str(tmp_path / f"spark_graft_scratch-{_os.getuid()}")
    assert _os.path.isdir(result)

    _shm(monkeypatch, tmp_path / "small", free_gib=8)
    assert _default_local_dir() is None
    assert not (tmp_path / "small").exists()


def test_local_dir_is_per_user(monkeypatch, tmp_path):
    """Two OS users on one box get two scratch dirs, each private to its
    owner (ADVICE r16 low #5: a shared dir made by the first user broke
    the second user's session start)."""
    import os as _os
    import stat

    from haf_plug_play_spark.session import _default_local_dir

    _shm(monkeypatch, tmp_path, free_gib=32)
    monkeypatch.setattr(_os, "getuid", lambda: 1001)
    first = _default_local_dir()
    monkeypatch.setattr(_os, "getuid", lambda: 1002)
    second = _default_local_dir()
    assert first == str(tmp_path / "spark_graft_scratch-1001")
    assert second == str(tmp_path / "spark_graft_scratch-1002")
    assert stat.S_IMODE(_os.stat(first).st_mode) & 0o077 == 0


def test_unwritable_local_dir_falls_through(monkeypatch, tmp_path):
    """A scratch dir this user cannot write to falls through to Spark's
    default scratch dir instead of failing the session start."""
    import os as _os

    from haf_plug_play_spark.session import _default_local_dir

    _shm(monkeypatch, tmp_path, free_gib=32)
    real_access = _os.access
    monkeypatch.setattr(
        _os, "access",
        lambda path, mode: False if "spark_graft_scratch" in str(path) else real_access(path, mode),
    )
    assert _default_local_dir() is None


def test_spark_local_dirs_override_warns(monkeypatch, tmp_path):
    """Spark reads SPARK_LOCAL_DIRS above spark.local.dir, so an explicit
    SPARK_GRAFT_LOCAL_DIR next to it is ignored by Spark: say so."""
    import warnings

    import pytest

    from haf_plug_play_spark.session import _default_local_dir

    _shm(monkeypatch, tmp_path, free_gib=32)
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", "/scratch/x")
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        _default_local_dir()  # alone: no warning
    monkeypatch.setenv("SPARK_LOCAL_DIRS", "/cluster/managed")
    with pytest.warns(UserWarning, match="SPARK_LOCAL_DIRS=/cluster/managed overrides"):
        _default_local_dir()


def test_running_session_uses_fast_scratch_when_available(spark):
    """End-to-end: the conftest session (built via get_spark) must have
    its local dir on the engine-selected scratch when /dev/shm has room
    and nothing overrode it."""
    import os as _os

    if _os.environ.get("SPARK_GRAFT_LOCAL_DIR") or _os.environ.get("SPARK_LOCAL_DIRS"):
        return  # caller controls scratch; nothing to assert
    st = _os.statvfs("/dev/shm")
    if st.f_bavail * st.f_frsize < 16 * 1024**3:
        return
    assert spark.conf.get("spark.local.dir", None) == (
        f"/dev/shm/spark_graft_scratch-{_os.getuid()}"
    )
