"""Run one benchmark workload and print its metrics.

From the root of a checkout:

    python3 perfbench/run.py --workload serve-mixed --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. The line before it records the run environment and the
workload's named report (see perfbench/README.md). The exit code is 0 only
when every operation succeeded and every output matched its oracle.

Everything the run writes goes under ``.perfbench_work/`` in the checkout
and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shlex
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
#: Pinned so that memory figures compare across boxes of different size
#: (the engine's default heap is half of RAM).
DRIVER_MEMORY = "3g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def sweep_stale_work() -> None:
    """Remove work trees of earlier runs whose process is gone."""
    if not os.path.isdir(WORK_ROOT):
        return
    for entry in os.listdir(WORK_ROOT):
        pid = entry.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(WORK_ROOT, entry), ignore_errors=True)


def pin_env(work: str) -> dict:
    """Fix what the session would otherwise pick from the box: cores,
    scratch location (the engine's /dev/shm gate flips between tmpfs and
    disk near 16 GiB free), heap, timezone and temp dirs."""
    cpus = len(os.sched_getaffinity(0))
    local, tmp = os.path.join(work, "spark-local"), os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_DRIVER_MEMORY=DRIVER_MEMORY,
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-memory {DRIVER_MEMORY} "
            f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
        ),
        TMPDIR=tmp,
        TZ="UTC",
    )
    os.environ.pop("SPARK_GRAFT_LOCAL_DIR", None)
    time.tzset()
    return {"cpus": cpus, "driver_memory": DRIVER_MEMORY,
            "scratch": os.path.relpath(local, ROOT)}


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus its JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        jvm_kb = next(int(l.split()[1]) for l in fh if l.startswith("VmHWM"))
    return (py_kb + jvm_kb) / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its parent's pipe closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    try:
        spec = load_spec()
    except (OSError, ValueError) as e:
        print(f"perfbench: cannot read BENCHMARK.json: {e}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "haf_plug_play_spark")):
        print("perfbench: the haf_plug_play_spark package is not in this checkout",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    sweep_stale_work()
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    env = pin_env(work)
    sys.path.insert(1, ROOT)
    spark = None
    try:
        import pyspark

        from haf_plug_play_spark.session import get_spark
        from spans import Tracer

        env.update(pyspark=pyspark.__version__, seed=args.seed,
                   seconds=args.seconds, trace=args.trace)
        tracer = Tracer() if args.trace else None
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        session_ms = (time.perf_counter() - t0) * 1000.0
        wl = WORKLOADS[args.workload](spark, work, args.seed, tracer)
        wl.setup()
        setup_s = time.perf_counter() - t_start
        wl.run(args.seconds)
        rss = peak_rss_mb(spark)
        if tracer:
            tracer.unwrap_all()
        t0 = time.perf_counter()
        wl.check()
        check_s = time.perf_counter() - t0
        e2e = wl.end_to_end()
        e2e["setup_s"] = setup_s
        layers = {}
        if tracer:
            layers = wl.per_layer()
            layers.update({"session.start_ms": session_ms, "process.peak_rss_mb": rss})
    except Exception:
        traceback.print_exc()
        return 3
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed_ratio = wl.failed / max(wl.attempted, 1)
    report = {k: {"value": v, "unit": u} for k, (v, u) in wl.report.items()}
    report.update(
        setup_s={"value": setup_s, "unit": "s"},
        peak_rss_mb={"value": rss, "unit": "MB"},
        failed_ratio={"value": failed_ratio, "unit": "ratio"},
        session_start_ms={"value": session_ms, "unit": "ms"},
        **{f"setup_{k}_ms": {"value": v, "unit": "ms"} for k, v in wl.setup_ms.items()},
        window_s={"value": wl.window_s, "unit": "s"},
        check_s={"value": check_s, "unit": "s"},
    )
    tails = {k: {"percentile": p, "samples": n} for k, (p, n) in wl.tails.items()}
    print(json.dumps({"perfbench": {"workload": args.workload, "env": env,
                                    "report": report, "tails": tails}}))

    missing = set(wl.LAYERS) - set(layers) if args.trace else set()
    if missing:
        print(f"perfbench: workload did not measure {sorted(missing)}", file=sys.stderr)
        return 3
    try:
        line = result_line(spec, args.trace, layers if args.trace else e2e,
                           wl.attempted, wl.failed)
    except KeyError as e:
        print(f"perfbench: workload did not measure {e}", file=sys.stderr)
        return 3
    print(line)
    return 0 if wl.failed == 0 else 1


def result_line(spec: dict, trace: int, values: dict, attempted: int, failed: int) -> str:
    """The last line of a run. Every end-to-end metric must be measured; a
    per-layer metric of a layer the workload does not exercise reads 0."""
    if trace:
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    return json.dumps({"correct": failed == 0, "attempted": attempted,
                       "failed": failed, "metrics": metrics})


if __name__ == "__main__":
    sys.exit(main())
