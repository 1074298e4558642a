"""Tracing for the benchmark's per-layer run, all from outside the engine.

- ``Tracer`` records spans (name, start, end, parent) around the engine's
  public calls; ``instrument`` wraps those calls' module attributes for the
  traced run only.
- ``EventLog`` reads the Spark event log of the traced session. Stages are
  tied to plan nodes through the accumulator ids of the SQL plan graphs
  (``SparkListenerSQLExecutionStart`` and its adaptive updates), because
  Spark 4.1 names stages after anonymous closures, not after operators.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import json
import time
from collections import defaultdict

# (module, attribute) pairs wrapped in spans: the public calls the
# workloads make, and the ones those calls make through module attributes.
TRACED_CALLS = [
    ("gfp_gdal_spark.functions.spatial", "with_footprint"),
    ("gfp_gdal_spark.operators.joins", "pip_join"),
    ("gfp_gdal_spark.operators.joins", "tile_assign"),
    ("gfp_gdal_spark.operators.raster", "rasterize_zones"),
    ("gfp_gdal_spark.pipelines", "run_north_star_resumable"),
    ("gfp_gdal_spark.pipelines", "north_star_pipeline"),
    ("gfp_gdal_spark.pipelines", "decode_and_hash"),
    ("gfp_gdal_spark.pipelines", "with_footprint"),
    ("gfp_gdal_spark.plans.lineage", "run_bucketed"),
]

PYTHON_NODES = ("MapInPandas", "PythonMapInArrow", "MapInArrow")
JOIN_NODES = ("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin")


class Tracer:
    """In-memory spans; parent is the innermost open span."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self.t0,
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def total(self, name: str, under: int) -> float:
        """Summed duration of the ``name`` spans nested below span ``under``."""
        out = 0.0
        for s in self.spans:
            p = s["parent"]
            while p is not None and p != under:
                p = self.spans[p]["parent"]
            if s["name"] == name and p == under and s["end"] is not None:
                out += s["end"] - s["start"]
        return out


def instrument(tracer: Tracer):
    """Wrap TRACED_CALLS in spans; returns a function that undoes it."""
    undo = []
    for mod_name, attr in TRACED_CALLS:
        mod = importlib.import_module(mod_name)
        orig = getattr(mod, attr)
        label = f"{orig.__module__.removeprefix('gfp_gdal_spark.')}.{orig.__name__}"

        def wrapped(*a, __orig=orig, __label=label, **kw):
            with tracer.span(__label):
                return __orig(*a, **kw)

        setattr(mod, attr, functools.wraps(orig)(wrapped))
        undo.append((mod, attr, orig))

    def restore():
        for mod, attr, orig in undo:
            setattr(mod, attr, orig)

    return restore


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


class EventLog:
    """The parts of one application's event log the per-layer table uses."""

    def __init__(self, log_dir: str):
        files = sorted(glob.glob(f"{log_dir}/*"))
        if not files:
            raise FileNotFoundError(f"no event log under {log_dir}")
        self.job_group: dict[int, str] = {}
        self.job_exec: dict[int, int] = {}
        self.job_stages: dict[int, list[int]] = {}
        self.stage_info: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        # accumulator id -> (execution id, node name, node text, metric name,
        # node key); node key -> (parent node, parent key) or None
        self.acc_node: dict[int, tuple] = {}
        self.node_parent: dict[int, tuple | None] = {}
        self.driver_acc: dict[int, float] = defaultdict(float)
        for path in files:
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _plan(self, exec_id: int, node: dict, parent):
        key = len(self.node_parent)
        self.node_parent[key] = parent
        for m in node.get("metrics", []):
            self.acc_node[int(m["accumulatorId"])] = (
                exec_id, node["nodeName"], node.get("simpleString", ""), m["name"], key
            )
        for child in node.get("children", []):
            self._plan(exec_id, child, (node, key))

    def _event(self, e: dict):
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            self.job_group[jid] = props.get("spark.jobGroup.id", "")
            ex = props.get("spark.sql.execution.id")
            self.job_exec[jid] = int(ex) if ex not in (None, "") else -1
            self.job_stages[jid] = list(e.get("Stage IDs", []))
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            self.stage_info[info["Stage ID"]] = info
        elif kind == "SparkListenerTaskEnd":
            self.tasks[e["Stage ID"]].append(e)
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            self._plan(int(e["executionId"]), e["sparkPlanInfo"], None)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc, v in e.get("accumUpdates", []):
                self.driver_acc[int(acc)] += _num(v)

    def group(self, name: str) -> "GroupStats":
        jobs = [j for j, g in self.job_group.items() if g == name]
        stages = sorted({s for j in jobs for s in self.job_stages[j] if s in self.stage_info})
        execs = {self.job_exec[j] for j in jobs} - {-1}
        return GroupStats(self, jobs, stages, execs)


class GroupStats:
    """Totals over the jobs of one job group (one traced pass)."""

    def __init__(self, log: EventLog, jobs, stages, execs):
        self.log, self.jobs, self.stages, self.execs = log, jobs, stages, execs

    def _task_sum(self, stages, path) -> float:
        total = 0.0
        for s in stages:
            for t in self.log.tasks.get(s, []):
                v = t.get("Task Metrics") or {}
                for k in path:
                    v = v.get(k, {}) if isinstance(v, dict) else {}
                total += _num(v) if not isinstance(v, dict) else 0.0
        return total

    def spark(self) -> dict:
        s = self.stages
        return {
            "executor_run_s": self._task_sum(s, ["Executor Run Time"]) / 1e3,
            "executor_cpu_s": self._task_sum(s, ["Executor CPU Time"]) / 1e9,
            "gc_s": self._task_sum(s, ["JVM GC Time"]) / 1e3,
            "shuffle_write_bytes": self._task_sum(s, ["Shuffle Write Metrics", "Shuffle Bytes Written"]),
            "spill_bytes": self._task_sum(s, ["Memory Bytes Spilled"])
            + self._task_sum(s, ["Disk Bytes Spilled"]),
            "tasks": float(sum(len(self.log.tasks.get(x, [])) for x in s)),
            "bytes_read": self._task_sum(s, ["Input Metrics", "Bytes Read"]),
        }

    def _stage_acc(self, stage: int) -> dict[int, float]:
        return {
            int(a["ID"]): _num(a.get("Value"))
            for a in self.log.stage_info[stage].get("Accumulables", [])
        }

    def acc_sum(self, accs: set[int]) -> float:
        """Total of the accumulators ``accs`` over this group's stages and
        the driver-side updates of its executions."""
        total = sum(v for s in self.stages for a, v in self._stage_acc(s).items() if a in accs)
        return total + sum(self.log.driver_acc.get(a, 0.0) for a in accs)

    def node_metric(self, match, metric: str) -> float:
        """Sum of SQL metric ``metric`` over the plan nodes accepted by
        ``match(node_name, node_text)`` in this group's executions."""
        return self.acc_sum(
            {
                acc
                for acc, (ex, name, text, m, _) in self.log.acc_node.items()
                if ex in self.execs and m == metric and match(name, text)
            }
        )

    def stages_with(self, match) -> list[int]:
        """Stages that ran a plan node accepted by ``match``."""
        accs = {
            acc
            for acc, (ex, name, text, _, _) in self.log.acc_node.items()
            if ex in self.execs and match(name, text)
        }
        return [s for s in self.stages if accs & set(self._stage_acc(s))]

    def run_s(self, stages) -> float:
        return self._task_sum(stages, ["Executor Run Time"]) / 1e3

    def max_task_share(self, stages) -> float:
        """Longest task over its stage's wall, worst stage."""
        best = 0.0
        for s in stages:
            info = self.log.stage_info[s]
            wall = _num(info.get("Completion Time")) - _num(info.get("Submission Time"))
            tasks = self.log.tasks.get(s, [])
            if wall <= 0 or not tasks:
                continue
            longest = max(
                _num(t["Task Info"]["Finish Time"]) - _num(t["Task Info"]["Launch Time"])
                for t in tasks
            )
            best = max(best, longest / wall)
        return best
