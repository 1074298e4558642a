"""Session lifecycle, memory probe and the closed-loop client shared by the
plain and the traced runs."""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
CORES = 4
SETUPS = 3


def heap_mb() -> int:
    """Driver heap: a quarter of physical memory, within [1, 8] GiB. The
    engine's 16g default exceeds a 15 GB host (see NOTES.md)."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return min(max(int(line.split()[1]) // 4096, 1024), 8192)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def prepare_env() -> None:
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # the JVM that spark-submit starts to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb()}m"
    # Python workers import the engine from the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    sys.path.insert(0, ROOT)


def start_session(extra: dict | None = None):
    from gfp_gdal_spark.session import get_spark

    # -Xms: a heap that grows follows GC timing, which made the JVM's
    # VmHWM swing by a third between runs; a committed heap does not.
    java_opts = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
        f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}"
    )
    conf = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        **(extra or {}),
    }
    t0 = time.perf_counter()
    spark = get_spark(app="perfbench", cores=CORES, extra_conf=conf)
    return spark, time.perf_counter() - t0


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def shutdown_jvm() -> None:
    """Stop the active context, then end the JVM (and with it the Python
    workers) and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def peak_rss_kb(root_pid: int) -> list[int]:
    """VmHWM (kB) of the JVM, then of every live descendant (the Python
    daemon and workers)."""
    kids, todo, out = _children(), [root_pid], []
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                out += [int(x.split()[1]) for x in f if x.startswith("VmHWM:")]
        except OSError:
            continue
    return out


def set_group(spark, group: str) -> None:
    spark.sparkContext.setJobGroup(group, group)


def warm_up(spark, wl):
    """The workload's fixed warm-up passes; returns (pass walls, pass
    results)."""
    walls, results = [], []
    for tag in wl.WARMUP:
        set_group(spark, tag)
        t0 = time.perf_counter()
        results.append(wl.run_pass(spark, tag))
        walls.append(time.perf_counter() - t0)
    return walls, results


def closed_loop(spark, wl, seconds, tag, tracer=None, min_passes=1):
    """Passes back to back until ``seconds`` of pass time and at least
    ``min_passes`` passes; returns (pass walls, pass results). The caller
    checks the results with ``failures``, outside the timed region."""
    walls, results = [], []
    while sum(walls) < seconds or len(walls) < min_passes:
        name = f"{tag}{len(walls)}"
        set_group(spark, name)
        if tracer is None:
            t0 = time.perf_counter()
            results.append(wl.run_pass(spark, name))
            walls.append(time.perf_counter() - t0)
        else:
            with tracer.span("pass", group=name) as sp:
                results.append(wl.run_pass(spark, name))
            walls.append(sp["end"] - sp["start"])
    return walls, results


def failures(wl, results, expected) -> int:
    return sum(not wl.check(r, expected) for r in results)


def set_up(wl):
    """SETUPS set-ups: session start, inputs built from the seed and
    verified. Returns (last session, set-up times, session start times,
    input digests)."""
    spark, setups, starts, digests = None, [], [], []
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark, t_start = start_session()
        digests.append(wl.build(spark))
        setups.append(time.perf_counter() - t0)
        starts.append(t_start)
    return spark, setups, starts, digests
