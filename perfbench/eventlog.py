"""Spark event-log parser: runtime-layer metrics and the span tree.

The benchmark tags every Spark call it makes with a job description
(``SparkContext.setJobDescription``) naming the benchmark span the call
belongs to.  This module reads the uncompressed event log written during
a traced run and

* attributes every job (and its stages and tasks) to that span, giving
  the job and stage levels of the span tree;
* maps the SQL metric accumulators declared in ``sparkPlanInfo`` (plus
  their per-task updates in ``TaskEnd`` and driver-side updates) to the
  plan node that owns them, and folds them into the ``spark.*`` layer
  metrics: scan, codegen, the Arrow hop to Python, shuffle, aggregate
  and join build, and per-task CPU/GC/skew.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

PYTHON_METRIC = "data sent to Python workers"

# (metric key, plan-node name prefix or None for any node, SQL metric
# name, scale to the reported unit).  Timing metrics are in ms already;
# nsTiming metrics are in ns.
_SQL_SUMS = [
    ("spark.scan_ms", "Scan", "scan time", 1.0),
    ("spark.scan_bytes", "Scan", "size of files read", 1.0),
    ("spark.codegen_ms", "WholeStageCodegen", "duration", 1.0),
    ("spark.python.boot_ms", None, "time to start Python workers", 1.0),
    ("spark.python.init_ms", None, "time to initialize Python workers", 1.0),
    ("spark.python.run_ms", None, "time to run Python workers", 1.0),
    ("spark.python.bytes_in", None, "data sent to Python workers", 1.0),
    ("spark.python.bytes_out", None, "data returned from Python workers", 1.0),
    ("spark.shuffle.bytes_written", "Exchange", "shuffle bytes written", 1.0),
    ("spark.shuffle.write_ms", "Exchange", "shuffle write time", 1e-6),
    ("spark.shuffle.fetch_wait_ms", None, "fetch wait time", 1.0),
    ("spark.agg.build_ms", None, "time in aggregation build", 1.0),
    ("spark.join.build_ms", None, "time to build", 1.0),
    ("spark.join.build_ms", None, "time to build hash map", 1.0),
    ("spark.join.broadcast_bytes", "BroadcastExchange", "data size", 1.0),
]

def _short(event: str) -> str:
    return event.rsplit(".", 1)[-1]


class _Plan:
    """Accumulator ids of one SQL execution, by owning plan node."""

    def __init__(self) -> None:
        self.acc: dict[int, tuple[str, str]] = {}  # id -> (node, metric)
        # (depth, rows-out acc id, rows-in acc id), shallowest first
        self.python_nodes: list[tuple[int, int | None, int | None]] = []

    def load(self, info: dict) -> None:
        """Adopt a (re-)planned tree: accumulators accumulate across
        adaptive re-plans, the Python-node list is the latest plan's."""
        self.python_nodes.clear()
        self._walk(info, 0)
        self.python_nodes.sort(key=lambda t: t[0])

    def _rows_acc(self, node: dict) -> int | None:
        """'number of output rows' of the node or its nearest descendant
        that counts rows (the rows a Python node consumes)."""
        for m in node["metrics"]:
            if m["name"] == "number of output rows":
                return m["accumulatorId"]
        for ch in node["children"]:
            got = self._rows_acc(ch)
            if got is not None:
                return got
        return None

    def _walk(self, node: dict, depth: int) -> None:
        names = {m["name"]: m["accumulatorId"] for m in node["metrics"]}
        for m in node["metrics"]:
            self.acc[m["accumulatorId"]] = (node["nodeName"], m["name"])
        if PYTHON_METRIC in names:
            rows_in = None
            for ch in node["children"]:
                rows_in = rows_in or self._rows_acc(ch)
            self.python_nodes.append(
                (depth, names.get("number of output rows"), rows_in)
            )
        for ch in node["children"]:
            self._walk(ch, depth + 1)


class EventLog:
    """Parsed jobs, stages, tasks and SQL metric totals of one log."""

    def __init__(self, path: str) -> None:
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        self.plans: dict[int, _Plan] = defaultdict(_Plan)
        # accumulator id -> summed task/driver updates
        self.acc_sum: dict[int, float] = defaultdict(float)
        self.acc_max: dict[int, float] = defaultdict(float)
        self.acc_exec: dict[int, int] = {}
        self._parse(path)

    def _parse(self, path: str) -> None:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = _short(e["Event"])
                if kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
                    plan = self.plans[e["executionId"]]
                    plan.load(e["sparkPlanInfo"])
                    for a in plan.acc:
                        self.acc_exec[a] = e["executionId"]
                elif kind == "SparkListenerSQLAdaptiveSQLMetricUpdates":
                    plan = self.plans[e["executionId"]]
                    for m in e["sqlPlanMetrics"]:
                        plan.acc[m["accumulatorId"]] = ("", m["name"])
                        self.acc_exec[m["accumulatorId"]] = e["executionId"]
                elif kind == "SparkListenerDriverAccumUpdates":
                    for acc_id, value in e["accumUpdates"]:
                        self.acc_sum[acc_id] += float(value)
                        self.acc_max[acc_id] = max(self.acc_max[acc_id], float(value))
                elif kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    ex = props.get("spark.sql.execution.id")
                    self.jobs[e["Job ID"]] = {
                        "desc": props.get("spark.job.description", ""),
                        "exec": int(ex) if ex is not None else None,
                        "start": e["Submission Time"],
                        "end": None,
                        "stages": list(e["Stage IDs"]),
                    }
                elif kind == "SparkListenerJobEnd":
                    self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    self.stages[info["Stage ID"]] = {
                        "start": info.get("Submission Time"),
                        "end": info.get("Completion Time"),
                    }
                elif kind == "SparkListenerTaskEnd":
                    self._task(e)

    def _task(self, e: dict) -> None:
        info = e["Task Info"]
        tm = e.get("Task Metrics") or {}
        self.tasks[e["Stage ID"]].append(
            {
                "dur": info["Finish Time"] - info["Launch Time"],
                "run_ms": tm.get("Executor Run Time", 0),
                "cpu_ns": tm.get("Executor CPU Time", 0),
                "gc_ms": tm.get("JVM GC Time", 0),
                "spill": tm.get("Disk Bytes Spilled", 0),
            }
        )
        for a in info.get("Accumulables", []):
            if a.get("Metadata") != "sql":
                continue
            try:
                v = float(a["Update"])
            except (TypeError, ValueError):
                continue
            self.acc_sum[a["ID"]] += v
            self.acc_max[a["ID"]] = max(self.acc_max[a["ID"]], v)

    # -- layer metrics -----------------------------------------------------

    def layer_metrics(self, descs: set[str], passes: int) -> dict[str, float]:
        """``spark.*`` metrics over the jobs whose description is in
        ``descs`` (the measured passes), per pass."""
        jobs = [j for j in self.jobs.values() if j["desc"] in descs]
        stage_ids = [s for j in jobs for s in j["stages"] if s in self.stages]
        tasks = [t for s in stage_ids for t in self.tasks.get(s, [])]
        execs = {j["exec"] for j in jobs if j["exec"] is not None}
        acc_ids = {a for a, ex in self.acc_exec.items() if ex in execs}
        out = dict.fromkeys((k for k, *_ in _SQL_SUMS), 0.0)
        n = max(passes, 1)
        out["spark.jobs_per_pass"] = len(jobs) / n
        out["spark.stages_per_pass"] = len(stage_ids) / n
        out["spark.tasks_per_pass"] = len(tasks) / n
        for key, prefix, name, scale in _SQL_SUMS:
            total = 0.0
            for a in acc_ids:
                node, metric = self.plans[self.acc_exec[a]].acc.get(a, ("", ""))
                if metric == name and (prefix is None or node.startswith(prefix)):
                    total += self.acc_sum.get(a, 0.0) * scale
            out[key] += total / n
        peak = [
            self.acc_max.get(a, 0.0)
            for a in acc_ids
            if self.plans[self.acc_exec[a]].acc.get(a, ("", ""))
            in {("HashAggregate", "peak memory"), ("ObjectHashAggregate", "peak memory")}
        ]
        out["spark.agg.peak_mem_bytes"] = max(peak, default=0.0)
        out["spark.shuffle.spill_bytes"] = sum(t["spill"] for t in tasks) / n
        out["spark.task.gc_ms"] = sum(t["gc_ms"] for t in tasks) / n
        run = sum(t["run_ms"] for t in tasks)
        out["spark.task.cpu_frac"] = (
            sum(t["cpu_ns"] for t in tasks) / (run * 1e6) if run else 0.0
        )
        out["spark.task.skew"] = self._skew(stage_ids)
        nodes, keep_in, keep_out = 0, 0.0, 0.0
        for ex in execs:
            plan = self.plans[ex]
            nodes += len(plan.python_nodes)
            if plan.python_nodes:
                # the refine node: the Python node nearest the plan root
                _, out_acc, in_acc = plan.python_nodes[0]
                if out_acc is not None and in_acc is not None:
                    keep_out += self.acc_sum.get(out_acc, 0.0)
                    keep_in += self.acc_sum.get(in_acc, 0.0)
        out["spark.python.nodes"] = nodes / n
        out["spark.refine_rows_in"] = keep_in / n
        out["spark.refine_keep_ratio"] = keep_out / keep_in if keep_in else 0.0
        return out

    def _skew(self, stage_ids: list[int]) -> float:
        """max / median task time in the longest stage."""
        best, skew = -1.0, 0.0
        for s in stage_ids:
            st = self.stages[s]
            durs = [t["dur"] for t in self.tasks.get(s, [])]
            if not durs or st["start"] is None or st["end"] is None:
                continue
            if st["end"] - st["start"] > best:
                best = st["end"] - st["start"]
                med = statistics.median(durs)
                skew = max(durs) / med if med > 0 else 1.0
        return skew

    # -- span tree -----------------------------------------------------------

    def spans(self) -> list[dict]:
        """Job and stage spans (ms epoch times); a job's parent is the
        benchmark span named by its description, a stage's its job."""
        out = []
        for jid, j in sorted(self.jobs.items()):
            if j["end"] is None:
                continue
            out.append(
                {"id": f"job{jid}", "kind": "job", "parent": j["desc"],
                 "start": j["start"] / 1e3, "end": j["end"] / 1e3}
            )
            for s in j["stages"]:
                st = self.stages.get(s)
                if st and st["start"] is not None and st["end"] is not None:
                    out.append(
                        {"id": f"stage{s}", "kind": "stage", "parent": f"job{jid}",
                         "start": st["start"] / 1e3, "end": st["end"] / 1e3}
                    )
        return out


def find_log(log_dir: str) -> str:
    """The events file of the single application logged under log_dir
    (rolling v2 layout: eventlog_v2_<app>/events_<n>_<app>)."""
    files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")))
    if not files:
        raise FileNotFoundError(f"no event log under {log_dir}")
    return files[-1]
