"""End-to-end and per-layer benchmark of the spatial engine.

    python3 perfbench/run.py --workload rasterize --seed 1 --seconds 12 --trace 0

One process, Spark local[4], one closed-loop client that runs passes of the
workload back to back. Run it from the root of a source checkout; it reads
and writes only there (``.perfbench_work/`` for scratch, ``.perfbench_out/``
for the traced run's JSON artefact).

A run sets up three times (session start, inputs generated from the seed
and verified by digest) and reports the median as ``setup_s``; runs the
workload's fixed warm-up; computes the oracle; then measures passes in the
last session. Every pass, warm-ups included, is checked against the oracle
outside the timed region; a pass that fails its check counts as failed.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` splits
``--seconds`` in two: untraced passes, then, after restarting the session
with Spark's event log on, traced passes with the engine's public calls
wrapped in spans. It also times pipeline prefixes and reports the per-layer
metrics (see NOTES.md) plus the tracing overhead.

The last stdout line is one JSON object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

import harness
from harness import OUT, ROOT, WORK


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "gfp_gdal_spark", "__init__.py")):
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    harness.prepare_env()
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload](args.seed, WORK)
    print(
        f"perfbench: workload={wl.name} seed={args.seed} local[{harness.CORES}] "
        f"driver heap={os.environ['SPARK_GRAFT_DRIVER_MEM']} (SPARK_GRAFT_DRIVER_MEM)",
        flush=True,
    )

    try:
        spark, setups, starts, digests = harness.set_up(wl)
        pid = harness.jvm_pid()
        t0 = time.perf_counter()
        warm, results = harness.warm_up(spark, wl)
        t1 = time.perf_counter()
        # after the warm-up, so that the oracle does not pay the cold start
        # (on a workload with no warm-up passes, the oracle pays it instead)
        expected = wl.oracle(spark)
        oracle_s = time.perf_counter() - t1
        # from the end of set-up to the first measured pass
        warm_s = time.perf_counter() - t0
        failed = harness.failures(wl, results, expected)
        # a traced run gives half its window to the untraced passes, which
        # there only serve as the base of the tracing overhead, so that it
        # ends within the time limit
        window = args.seconds / 2 if args.trace else args.seconds
        walls, results = harness.closed_loop(
            spark, wl, window, "pass", min_passes=1 if args.trace else wl.MIN_PASSES
        )
        failed += harness.failures(wl, results, expected)
        attempted = len(warm) + len(walls)
        ips = statistics.median(wl.items / w for w in walls)
        rss = harness.peak_rss_kb(pid)
        print(
            f"perfbench: inputs sha256={digests[-1]}; set-ups (s): "
            f"{' '.join(f'{x:.2f}' for x in setups)}; warm-up passes (s): "
            f"{' '.join(f'{w:.2f}' for w in warm)}; oracle {oracle_s:.2f}s; measured passes (s): "
            f"{' '.join(f'{w:.2f}' for w in walls)}; VmHWM (MB) JVM {rss[0] / 1024:.0f}, "
            f"{len(rss) - 1} Python processes {sum(rss[1:]) / 1024:.0f}",
            flush=True,
        )
        if args.trace:
            import layers

            spark.stop()
            metrics, t_att, t_failed = layers.traced_run(
                wl, window, expected, ips, statistics.median(starts), warm_s, OUT, WORK
            )
            attempted += t_att
            failed += t_failed
        else:
            metrics = {
                "items_per_s": {"value": ips, "unit": "items/s"},
                "wall_s": {"value": statistics.median(walls), "unit": "s"},
                "setup_s": {"value": statistics.median(setups), "unit": "s"},
                "peak_rss_mb": {"value": sum(rss) / 1024.0, "unit": "MB"},
            }
    finally:
        harness.shutdown_jvm()
    shutil.rmtree(WORK, ignore_errors=True)
    correct = failed == 0 and len(set(digests)) == 1
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
