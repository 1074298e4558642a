"""The traced run: per-layer metrics of one workload.

Runs in a fresh session with the event log on. It records spans around the
engine's public calls, times pipeline prefixes with a no-op sink, reads the
event log for executor time, CPU, GC, shuffle/spill bytes, task counts and
plan-node row counts, and writes everything to a JSON artefact. Each pass
is its own Spark job group, so per-pass figures are medians over the traced
passes. Metrics that do not apply to a workload read 0.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import harness
from tracing import JOIN_NODES, PYTHON_NODES, EventLog, Tracer, instrument

UNITS = {
    "sources.scan_s": "s",
    "sources.bytes_read": "bytes",
    "functions.spatial.encode_s": "s",
    "operators.joins.call_s": "s",
    "operators.joins.join_s": "s",
    "operators.joins.candidates": "rows",
    "operators.joins.rows_out": "rows",
    "operators.joins.refine_pass_ratio": "ratio",
    "operators.joins.jobs": "count",
    "operators.joins.broadcast_bytes": "bytes",
    "operators.raster.pixels": "count",
    "operators.raster.burned": "count",
    "operators.raster.python_s": "s",
    "operators.raster.max_task_share": "ratio",
    "pipelines.python_s": "s",
    "pipelines.decode_rows_per_image": "ratio",
    "kernels.codec.kernel_s_per_kimage": "s",
    "plans.lineage.write_s": "s",
    "plans.lineage.commit_s": "s",
    "plans.lineage.bytes_written": "bytes",
    "plans.lineage.files_written": "count",
    "plans.lineage.bytes_per_row": "bytes",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.tasks": "count",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "trace.items_per_s": "items/s",
    "trace.untraced_items_per_s": "items/s",
    "trace.overhead_share": "ratio",
}

EXCLUDED_RULES = "spark.sql.optimizer.excludedRules"
PUSHDOWN = "org.apache.spark.sql.catalyst.optimizer.PushDownPredicates"


def _is_python(name, _text):
    return name in PYTHON_NODES


def _is_cell_join(name, text):
    return name in JOIN_NODES and "[cell#" in text


_PASS_THROUGH = ("Project", "ColumnarToRow", "InputAdapter", "WholeStageCodegen")


def _refine_rows(log, gs) -> float:
    """Rows out of the Filter directly above each cell equi-join (the bbox
    prefilter and the exact refine, kept apart by the probe pass)."""
    accs = set()
    for ex, name, text, metric, key in log.acc_node.values():
        if ex not in gs.execs or metric != "number of output rows" or not _is_cell_join(name, text):
            continue
        parent = log.node_parent.get(key)
        while parent is not None and parent[0]["nodeName"].startswith(_PASS_THROUGH):
            parent = log.node_parent.get(parent[1])
        if parent is not None and parent[0]["nodeName"] == "Filter":
            accs |= {
                int(m["accumulatorId"])
                for m in parent[0].get("metrics", [])
                if m["name"] == "number of output rows"
            }
    return gs.acc_sum(accs)


def _pass_layers(gs, tracer, span_id, wl) -> dict:
    sp = gs.spark()
    py_stages = gs.stages_with(_is_python)
    m = {
        "sources.bytes_read": sp["bytes_read"],
        "operators.joins.call_s": tracer.total("operators.joins.pip_join", span_id),
        "operators.joins.jobs": float(len(gs.jobs)),
        "operators.joins.broadcast_bytes": gs.node_metric(
            lambda n, t: n == "BroadcastExchange", "data size"
        ),
        **{f"spark.{k}": v for k, v in sp.items() if k != "bytes_read"},
    }
    if wl.name == "rasterize":
        m["operators.raster.python_s"] = gs.run_s(py_stages)
        m["operators.raster.max_task_share"] = gs.max_task_share(py_stages)
    if wl.name == "ingest_resumable":
        m["pipelines.python_s"] = gs.run_s(py_stages)
        m["pipelines.decode_rows_per_image"] = (
            gs.node_metric(_is_python, "number of output rows") / wl.items
        )
    return m


def _codec_kernel_s_per_kimage(wl) -> float:
    """decode_group + encode_group over the workload's images, grouped by
    (fmt, w, h) as the decode boundary groups them, on the driver."""
    import pyarrow.parquet as pq

    from gfp_gdal_spark.kernels import codec

    pdf = pq.read_table(wl.images, columns=["bytes", "w", "h", "fmt"]).to_pandas()
    groups = [
        (fmt, int(w), int(h), [bytes(b) for b in pdf["bytes"].iloc[idx]])
        for (fmt, w, h), idx in pdf.groupby(["fmt", "w", "h"], sort=False).indices.items()
    ]
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        for fmt, w, h, blobs in groups:
            codec.encode_group(codec.decode_group(blobs, fmt, w, h), fmt)
        times.append(time.perf_counter() - t0)
    return statistics.median(times) / (len(pdf) / 1000.0)


def traced_run(wl, seconds, expected, untraced_ips, start_s, warmup_s, out_dir, work):
    """Returns (per-layer metrics, passes attempted, passes failed)."""
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    spark, _ = harness.start_session(
        {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    )
    tracer = Tracer()
    restore = instrument(tracer)
    try:
        # Catalyst fuses the bbox prefilter and the exact refine into the
        # cell equi-join's condition, which leaves the candidate count
        # unrecorded. One checked probe pass with predicate pushdown off
        # keeps them as a Filter above the join, whose input and output
        # rows are the candidates and the refined rows. It also warms the
        # new context before the traced passes.
        spark.conf.set(EXCLUDED_RULES, PUSHDOWN)
        try:
            harness.set_group(spark, "probe")
            failed = int(not wl.check(wl.run_pass(spark, "probe"), expected))
        finally:
            spark.conf.unset(EXCLUDED_RULES)
        walls, results = harness.closed_loop(spark, wl, seconds, "tpass", tracer)
        failed += harness.failures(wl, results, expected)
        prefix = {}
        for label, build in wl.prefixes():
            harness.set_group(spark, f"prefix-{label}")
            with tracer.span("prefix", label=label) as sp:
                build(spark).write.format("noop").mode("overwrite").save()
            prefix[label] = sp["end"] - sp["start"]
    finally:
        restore()
        spark.stop()  # closes the event log
    log = EventLog(log_dir)
    pass_spans = [s for s in tracer.spans if s["name"] == "pass"]
    per_pass = [_pass_layers(log.group(s["group"]), tracer, s["id"], wl) for s in pass_spans]
    metrics = {k: 0.0 for k in UNITS}
    for k in per_pass[0]:
        metrics[k] = statistics.median(p[k] for p in per_pass)
    probe = log.group("probe")
    cand = probe.node_metric(_is_cell_join, "number of output rows")
    rows_out = _refine_rows(log, probe)
    metrics["operators.joins.candidates"] = cand
    metrics["operators.joins.rows_out"] = rows_out
    metrics["operators.joins.refine_pass_ratio"] = rows_out / cand if cand else 0.0
    metrics["sources.scan_s"] = prefix.get("scan", 0.0)
    if "footprint" in prefix:
        before = prefix.get("decode", prefix["scan"])
        metrics["functions.spatial.encode_s"] = prefix["footprint"] - before
        metrics["operators.joins.join_s"] = prefix["join"] - prefix["footprint"]
    if wl.name == "rasterize":
        metrics["operators.raster.pixels"] = float(wl.items)
        metrics["operators.raster.burned"] = float(
            sum(v[0] for k, v in expected.items() if k.startswith("frame"))
        )
    if wl.name == "ingest_resumable":
        metrics["kernels.codec.kernel_s_per_kimage"] = _codec_kernel_s_per_kimage(wl)
        for k in ("write_s", "commit_s", "bytes_written", "files_written", "bytes_per_row"):
            metrics[f"plans.lineage.{k}"] = statistics.median(x[k] for x in wl.lineage)
    traced_ips = statistics.median(wl.items / w for w in walls)
    metrics["session.start_s"] = start_s
    metrics["session.warmup_s"] = warmup_s
    metrics["trace.items_per_s"] = traced_ips
    metrics["trace.untraced_items_per_s"] = untraced_ips
    metrics["trace.overhead_share"] = (untraced_ips - traced_ips) / untraced_ips
    os.makedirs(out_dir, exist_ok=True)
    artefact = os.path.join(out_dir, f"trace_{wl.name}_seed{wl.seed}.json")
    with open(artefact, "w") as f:
        json.dump(
            {
                "workload": wl.name,
                "seed": wl.seed,
                "items": wl.items,
                "item": wl.item,
                "per_layer": metrics,
                "per_pass": per_pass,
                "prefix_s": prefix,
                "probe": {"candidates": cand, "rows_out": rows_out},
                "pass_walls_s": walls,
                "spans": tracer.spans,
            },
            f,
            indent=1,
        )
    print(f"perfbench: trace artefact {os.path.relpath(artefact, harness.ROOT)}", flush=True)
    out = {k: {"value": float(v), "unit": UNITS[k]} for k, v in metrics.items()}
    return out, 1 + len(walls), failed
