"""SparkSession factory.

Engine-wide session defaults (SURVEY.md §1.2, §7.0):

- UTC session timezone — the reference stores naive-UTC timestamps
  (``plugs/podping/tables.sql:6``) and formats them at the API boundary
  (``tools.py:14``); pinning UTC makes Spark timestamps byte-compatible with
  the DuckDB oracle.
- ANSI off — PostgreSQL array indexing yields NULL out-of-range
  (``plugs/polls/polls.py:62``); ``element_at`` must not throw.
- AQE on — runtime join-strategy selection, partition coalescing and skew
  handling; this is the 100 TB posture (no hand-scheduled plans).
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"
_SHM = "/dev/shm"  # RAM-backed scratch candidate, see _default_local_dir


def _default_driver_memory() -> str:
    """Default local-mode JVM heap: half of box RAM, clamped to [2g, 16g].

    In local mode the driver JVM hosts every executor thread, so its heap
    IS the cluster's executor memory; pyspark's launcher default (1g)
    gives local[32] ~32 MB of execution+storage memory per core — far
    below any published sizing guidance — and measured GC pressure on the
    heavy queries (r15: XT-trigram-lm 5.63→3.61 s, XD-containment
    4.30→2.86 s at sf0.1 going 1g→16g, idle-box min-of-3 A/B). On a real
    cluster this function is irrelevant: spark-submit sizes driver and
    executors explicitly. Clamping to half of RAM keeps small CI boxes
    safe. The cap is 8g, not more: ContextCleaner work (broadcast and
    shuffle cleanup) is driven by weak references, i.e. by GC frequency —
    at 16g the shuffle-heaviest query (XD-minhash-acc) ran 1.5× SLOWER
    (4.95 s vs 3.32 at 1g, vs 3.06 at 8g, isolated min-of-3) and the
    bench suite degraded run-over-run as stale broadcasts accumulated;
    the periodic-GC conf in get_spark is the other half of that fix."""
    try:
        with open("/proc/meminfo") as fh:
            kb = int(
                next(l for l in fh if l.startswith("MemTotal")).split()[1]
            )
        gb = max(2, min(8, kb // (2 * 1024 * 1024)))
    except Exception:  # non-Linux fallback
        gb = 4
    return f"{gb}g"


def _default_local_dir() -> str | None:
    """Scratch directory for shuffle files and localCheckpoint blocks.

    In local mode Spark defaults ``spark.local.dir`` to ``/tmp``, which on
    many boxes is plain disk. Every shuffle file and every DISK_ONLY
    materialization block then lands on the root disk, and a long query
    sequence degrades as writeback competes with reads (measured r16,
    162-query bench at sf0.1: all-queries 191.4 s with /tmp-on-disk vs
    121.4 s with tmpfs scratch; XT-trigram-lm read 14.5 s in-suite vs
    3.7 s isolated; canonical passes [10.6, 14.6, 14.2] degrading vs
    [10.2, 7.3, 7.5] flat). These blocks are transient per-query scratch
    — RAM-backed tmpfs is the right home when the box has room, the same
    trade the r15 streaming-checkpoint fix made.

    Resolution order keeps the cluster posture intact:
    - ``SPARK_GRAFT_LOCAL_DIR`` explicitly names the scratch dir;
    - a caller-set ``SPARK_LOCAL_DIRS`` wins over anything here (Spark
      reads it above ``spark.local.dir``; on YARN/K8s the cluster manager
      sets it and this function is irrelevant anyway) — so when both are
      set, ``SPARK_GRAFT_LOCAL_DIR`` is ignored, with a warning;
    - ``/dev/shm`` is used only when it is a real mount with at least
      16 GiB free — small CI boxes fall through to the default. The dir
      is per OS user (``spark_graft_scratch-<uid>``, mode 0700), so two
      users never share scratch; one this user cannot write to also
      falls through to the default.
    """
    explicit = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    cluster = os.environ.get("SPARK_LOCAL_DIRS")
    if explicit:
        if cluster:
            warnings.warn(
                f"SPARK_LOCAL_DIRS={cluster} overrides "
                f"SPARK_GRAFT_LOCAL_DIR={explicit}: Spark puts its scratch "
                "in SPARK_LOCAL_DIRS",
                stacklevel=2,
            )
        return explicit
    if cluster:
        return None
    try:
        st = os.statvfs(_SHM)
        if st.f_bavail * st.f_frsize >= 16 * 1024**3:
            path = os.path.join(_SHM, f"spark_graft_scratch-{os.getuid()}")
            os.makedirs(path, mode=0o700, exist_ok=True)
            if os.access(path, os.W_OK):
                return path
    except OSError:
        pass
    return None


def get_spark(app_name: str = "haf_plug_play_spark", master: str | None = None) -> SparkSession:
    """Build (or get) the engine SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``) so
    tests and bench share one code path; on a real cluster the caller passes
    nothing and spark-submit supplies the master.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    # Driver heap must be fixed BEFORE the py4j gateway launches the JVM:
    # SparkConf entries are applied after launch, so a builder-time
    # spark.driver.memory silently leaves the pyspark 1g default in place
    # (verified: maxMemory() read 1024 MB with the conf "set"). Honor an
    # explicit PYSPARK_SUBMIT_ARGS from the caller; otherwise inject the
    # sized heap only while the gateway is still down.
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEMORY") or _default_driver_memory()
    from pyspark import SparkContext

    if "PYSPARK_SUBMIT_ARGS" not in os.environ and SparkContext._gateway is None:
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--driver-memory {mem} pyspark-shell"
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", os.environ.get(
            "SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # FAIR + per-plug pools (runner sets spark.scheduler.pool): the
        # reference isolates plugs in their own PG backends
        # (database/plugs.py:14,99); FIFO would let one plug's backfill
        # starve every other plug's live sync
        .config("spark.scheduler.mode", "FAIR")
        # The engine deliberately builds small broadcast frames FROM
        # corpus scans (scalar stats tables, the lazy quadratic-fan-out
        # guards on the overlap matrices): at 100 TB those builds are
        # column-pruned corpus aggregations that can exceed the 300 s
        # default, which would surface as a misleading "Could not
        # execute broadcast" instead of the query's own result/guard
        # message. One hour matches the longest leg a backfill chunk
        # may legitimately take.
        .config("spark.sql.broadcastTimeout", os.environ.get(
            "SPARK_GRAFT_BROADCAST_TIMEOUT", "3600"))
        .config("spark.ui.enabled", "false")
        # ContextCleaner is weak-reference-driven: on a roomy heap full
        # GCs become rare and stale broadcasts / shuffle registrations
        # pile up across a long query sequence (measured r15: the 162-
        # query bench degraded run-over-run at 16g, third canonical pass
        # 40.6 s vs 12.4). A periodic System.gc keeps cleanup flowing;
        # 2 min costs microseconds on an 8g heap.
        .config("spark.cleaner.periodicGC.interval", "2min")
    )
    local_dir = _default_local_dir()
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    # Conf mirror of the pre-launch heap sizing above — a no-op for an
    # already-running local JVM, but it makes the intended size visible in
    # spark.conf and carries to cluster submission paths.
    builder = builder.config("spark.driver.memory", mem)
    if not SparkSession.getActiveSession():
        builder = builder.master(master)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
