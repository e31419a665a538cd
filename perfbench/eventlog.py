"""Per-module numbers from Spark's own event log.

The traced session writes an uncompressed, non-rolling event log (plus
block-update events). After the session stops, :func:`layer_metrics`
reads it once and sums, for each crawl window, the SQL operator metrics
and task metrics that fall inside that window.

Operators map to the engine's modules like this:

- ``ArrowEvalPython`` (the ``enrich_page`` UDF) -> ``functions.parsing``
- ``FlatMapGroupsInPandas`` (Bloom densify), the ``bit_or`` aggregate
  (Bloom update) and the ``_shard`` probe join -> ``operators.dedup``
- ``Window`` partitioned by host, and the ``Sort`` under it ->
  ``operators.politeness`` (the robots gate's window is partitioned by
  ``url`` and is kept apart where the plan is known; inside a persisted
  DataFrame only the stage is known, and its window sort counts as
  politeness)
- task output metrics of writes under the store root -> ``state.lakestore``
- job and task counts and block updates -> ``engine.driver``

Operator metrics of type ``timing`` are milliseconds, ``nsTiming``
nanoseconds; those times are summed over tasks, so they are task-seconds,
not wall seconds. ``wall.<module>`` is wall time instead: the part of the
window during which at least one stage that ran a module's operator was
running.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

# "time to run" covers a task's whole use of its Python worker, start
# included; "time to initialize" is left out because for a reused worker
# Spark reports it larger than the run time
_PY_RUN = "time to run Python workers"
_PY_START = "time to start Python workers"
_WRAPPERS = ("WholeStageCodegen", "InputAdapter")


def _module(node: str, text: str, parent: tuple[str, str] | None, store: str) -> str | None:
    if node == "Execute InsertIntoHadoopFsRelationCommand" and store in text:
        return "lakestore"
    if node == "ArrowEvalPython":
        return "parsing"
    if node == "FlatMapGroupsInPandas":
        return "dedup.densify"
    if node == "HashAggregate" and "bit_or(" in text:
        return "dedup.update"
    if node in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin") and "_shard" in text:
        return "dedup.probe"
    if node == "Window":
        return "robots.window" if "windowspecdefinition(url#" in text else "politeness.window"
    if node == "Sort" and parent is not None and parent[0] == "Window":
        return _module(*parent, None, store)
    return None


def _walk(plan: dict, accs: dict, store: str, parent: tuple[str, str] | None = None) -> bool:
    """Register the plan's metric accumulators by module; True if the
    plan writes under ``store``."""
    node, text = plan["nodeName"], plan.get("simpleString", "")
    base = node.split(" (")[0]
    mod = _module(base, text, parent, store)
    for m in plan.get("metrics", []):
        accs[m["accumulatorId"]] = (mod, m["name"], m["metricType"])
    # the Sort under a Window sits inside a codegen wrapper; skip wrappers
    # so the Sort still sees the Window as its parent
    up = parent if base.startswith(_WRAPPERS) else (base, text)
    writes = mod == "lakestore"
    for child in plan.get("children", []):
        writes = _walk(child, accs, store, up) or writes
    return writes


def _from_stage(name: str, ops: frozenset) -> tuple | None:
    """Classify a task metric whose operator is missing from every plan
    in the log. That happens for operators inside a persisted DataFrame:
    the plan of a cache-filling job shows only the in-memory scan. The
    stage's RDD scopes still name the non-codegen operators it ran."""
    if name in (_PY_RUN, _PY_START):
        if "ArrowEvalPython" in ops:
            return ("parsing", name, "timing")
        if "FlatMapGroupsInPandas" in ops:
            return ("dedup.densify", name, "timing")
    if name == "sort time" and "Window" in ops:
        return ("politeness.window", name, "timing")
    return None


def _seconds(value: float, mtype: str) -> float:
    return value / 1e9 if mtype == "nsTiming" else value / 1e3


def event_log_file(log_dir: str) -> str:
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return files[0]


def layer_metrics(path: str, windows: list[tuple[float, float]], store_root: str) -> list[dict]:
    """One dict of summed raw numbers per (start_s, end_s) window."""
    accs: dict[int, tuple] = {}
    exec_start: dict[int, float] = {}
    store_execs: set[int] = set()
    job_exec: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    stage_ops: dict[int, frozenset] = {}
    stage_mods: dict[int, set] = defaultdict(set)
    stage_span: dict[int, tuple[float, float]] = {}
    out = [defaultdict(float) for _ in windows]
    clock = 0.0  # block-update events carry no time; use the last one seen
    store_uri = os.path.abspath(store_root)

    def win(t_s: float) -> dict | None:
        for (a, b), d in zip(windows, out):
            if a <= t_s <= b:
                return d
        return None

    def add_acc(d: dict, acc_id: int, value, name: str = "", ops: frozenset = frozenset(),
                stage: int | None = None) -> None:
        info = accs.get(acc_id) or _from_stage(name, ops)
        if info is None or info[0] is None:
            return
        mod, name, mtype = info
        if stage is not None:
            stage_mods[stage].add(mod.split(".")[0])
        v = float(value)
        if mod == "parsing":
            if name == _PY_RUN:
                d["parsing.run_s"] += _seconds(v, mtype)
            elif name == _PY_START:
                d["parsing.worker_init_s"] += _seconds(v, mtype)
            elif name == "number of output rows":
                d["parsing.rows"] += v
            elif name == "data sent to Python workers":
                d["parsing.bytes_in"] += v
            elif name == "data returned from Python workers":
                d["parsing.bytes_out"] += v
        elif mod == "dedup.densify" and name == _PY_RUN:
            d["dedup.densify_s"] += _seconds(v, mtype)
        elif mod == "dedup.update" and name == "time in aggregation build":
            d["dedup.update_s"] += _seconds(v, mtype)
        elif mod == "lakestore" and name == "number of written files":
            d["lakestore.files_written"] += v
        elif mod.endswith(".window") and name == "sort time":
            d[mod.replace(".window", ".sort_s")] += _seconds(v, mtype)

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"].rsplit(".", 1)[-1]
            if ev in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
                if ev == "SparkListenerSQLExecutionStart":
                    exec_start[e["executionId"]] = e["time"] / 1e3
                if _walk(e["sparkPlanInfo"], accs, store_uri):
                    store_execs.add(e["executionId"])
            elif ev == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                stage_ops[info["Stage ID"]] = frozenset(
                    json.loads(r["Scope"])["name"] for r in info.get("RDD Info", []) if "Scope" in r
                )
            elif ev == "SparkListenerDriverAccumUpdates":
                d = win(exec_start.get(e["executionId"], -1.0))
                if d is not None:
                    for acc_id, value in e["accumUpdates"]:
                        add_acc(d, acc_id, value)
                        if accs.get(acc_id, (None, ""))[1] == "time to build":
                            d["spark.broadcasts"] += 1
            elif ev == "SparkListenerJobStart":
                clock = e["Submission Time"] / 1e3
                exec_id = (e.get("Properties") or {}).get("spark.sql.execution.id")
                for st in e["Stage IDs"]:
                    stage_job[st] = e["Job ID"]
                if exec_id is not None:
                    job_exec[e["Job ID"]] = int(exec_id)
                d = win(clock)
                if d is not None:
                    d["driver.jobs"] += 1
            elif ev == "SparkListenerTaskEnd":
                info, tm = e["Task Info"], e.get("Task Metrics") or {}
                clock = info["Finish Time"] / 1e3
                d = win(info["Launch Time"] / 1e3)
                if d is None:
                    continue
                d["driver.tasks"] += 1
                ops = stage_ops.get(e["Stage ID"], frozenset())
                for a in info.get("Accumulables", []):
                    if "Update" in a:
                        add_acc(d, a["ID"], a["Update"], a.get("Name", ""), ops, e["Stage ID"])
                d["spark.executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                d["spark.executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                d["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                d["spark.task_deser_s"] += tm.get("Executor Deserialize Time", 0) / 1e3
                d["spark.shuffle_bytes"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                d["spark.shuffle_fetch_wait_s"] += tm.get("Shuffle Read Metrics", {}).get("Fetch Wait Time", 0) / 1e3
                d["spark.spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                if job_exec.get(stage_job.get(e["Stage ID"], -1)) in store_execs:
                    stage_mods[e["Stage ID"]].add("lakestore")
                    d["lakestore.bytes_written"] += tm.get("Output Metrics", {}).get("Bytes Written", 0)
            elif ev == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                if "Submission Time" in info and "Completion Time" in info:
                    stage_span[info["Stage ID"]] = (info["Submission Time"] / 1e3,
                                                    info["Completion Time"] / 1e3)
            elif ev == "SparkListenerBlockUpdated":
                b = e["Block Updated Info"]
                d = win(clock)
                if d is not None and b["Block ID"].startswith("rdd_"):
                    d["driver.ckpt_bytes"] += b["Memory Size"] + b["Disk Size"]
    # wall seconds of each window during which at least one stage of a
    # module was running (concurrent stages of one module count once)
    for (a, b), d in zip(windows, out):
        for mod in ("parsing", "dedup", "politeness", "lakestore"):
            spans = sorted(
                (max(a, s0), min(b, s1)) for st, (s0, s1) in stage_span.items()
                if mod in stage_mods.get(st, ()) and s1 > a and s0 < b
            )
            total, end = 0.0, a
            for s0, s1 in spans:
                if s1 > end:
                    total += s1 - max(s0, end)
                    end = s1
            d[f"wall.{mod}"] = total
    return [dict(d) for d in out]
