"""Per-layer numbers from Spark's own event log.

Reads the uncompressed JSON-lines event logs Spark writes when
`spark.eventLog.enabled=true` (one directory or file per SparkContext) and
reduces them to the counters the benchmark reports per layer: jobs, tasks,
bytes, spill and streaming progress. Attribution uses only what Spark
records: the `streaming.sql.batchId` and `spark.jobGroup.id` job
properties, and the write path in each SQL execution's physical plan.
"""

import glob
import json
import os
import re
from datetime import datetime

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
DRIVER_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"
PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
# The write target of a file-writing SQL execution: its last path component
# names the table (`.../blocks`, `.../blocks.staging`).
_WRITE_PATH = re.compile(
    r"Execute InsertIntoHadoopFsRelationCommand\s*\nInput: [^\n]*\nArguments: [^,\n]*/([\w-]+)")


class App:
    """One SparkContext's events, reduced to what the metrics need."""

    def __init__(self):
        self.jobs = {}          # job id -> {submit, end, stages, props}
        self.tasks = {}         # stage id -> one dict per finished task
        self.sql = {}           # execution id -> {table, files_metric_ids}
        self.driver_accum = {}  # accumulator id -> latest value
        self.progress = []      # StreamingQueryProgress dicts
        self.cached_peak = 0    # peak bytes held by cached RDD blocks
        self._cached = {}

    def feed(self, e):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            self.jobs[jid] = {"submit": e["Submission Time"], "end": None,
                              "stages": e["Stage IDs"], "props": e.get("Properties") or {}}
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in self.jobs:
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            self.tasks.setdefault(e["Stage ID"], []).append({
                "run_ms": m.get("Executor Run Time", 0),
                "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                "shuffle_write": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                "in_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
                "in_records": m.get("Input Metrics", {}).get("Records Read", 0),
                "out_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
            })
        elif kind == SQL_START:
            match = _WRITE_PATH.search(e.get("physicalPlanDescription", ""))
            self.sql[e["executionId"]] = {
                "table": match.group(1) if match else None,
                "files_metric_ids": _metric_ids(e.get("sparkPlanInfo"), "number of files read")}
        elif kind == DRIVER_ACCUM:
            for acc_id, value in e["accumUpdates"]:
                self.driver_accum[acc_id] = value
        elif kind == PROGRESS:
            self.progress.append(e["progress"])
        elif kind == "SparkListenerBlockUpdated":
            info = e["Block Updated Info"]
            if info["Block ID"].startswith("rdd_"):
                size = info["Memory Size"] + info["Disk Size"]
                if size:
                    self._cached[info["Block ID"]] = size
                else:
                    self._cached.pop(info["Block ID"], None)
                self.cached_peak = max(self.cached_peak, sum(self._cached.values()))

    def job_tasks(self, jobs):
        return [t for j in jobs for s in j["stages"] for t in self.tasks.get(s, [])]

    def sql_of_job(self, job):
        eid = job["props"].get("spark.sql.execution.id")
        return self.sql.get(int(eid)) if eid is not None else None


def _metric_ids(plan, name):
    if not plan:
        return []
    ids = [m["accumulatorId"] for m in plan.get("metrics", []) if m["name"] == name]
    for child in plan.get("children", []):
        ids.extend(_metric_ids(child, name))
    return ids


def load(path):
    """All apps under an event-log directory (rolling v2 dirs or plain files)."""
    files = sorted(f for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
                   if os.path.isfile(f) and not os.path.basename(f).startswith((".", "appstatus")))
    by_app = {}
    for f in files:
        key = os.path.dirname(f) if os.path.basename(os.path.dirname(f)).startswith(
            "eventlog_v2_") else f
        by_app.setdefault(key, []).append(f)
    apps = []
    for key in sorted(by_app):
        app = App()
        for f in sorted(by_app[key]):
            with open(f) as fh:
                for line in fh:
                    if line.strip():
                        app.feed(json.loads(line))
        apps.append(app)
    return apps


def _union_ms(intervals):
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0)


def _epoch_ms(iso):
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000.0


def streaming_batches(apps):
    """One record per micro-batch that read input: progress durations plus
    the jobs, tasks and bytes Spark attributes to that batch id."""
    out = []
    for app in apps:
        for p in app.progress:
            src = p["sources"][0] if p.get("sources") else {}
            if not src.get("numInputRows"):
                continue
            bid = str(p["batchId"])
            jobs = [j for j in app.jobs.values() if j["props"].get("streaming.sql.batchId") == bid
                    and j["props"].get("sql.streaming.queryId") == p["id"]]
            tasks = app.job_tasks(jobs)
            d = p["durationMs"]
            written = {}
            for j in jobs:
                sql = app.sql_of_job(j)
                table = sql["table"] if sql else None
                written[table] = written.get(table, 0) + sum(
                    t["out_bytes"] for t in app.job_tasks([j]))
            covered = _union_ms([(j["submit"], j["end"]) for j in jobs if j["end"] is not None])
            out.append({
                "start_ms": _epoch_ms(p["timestamp"]),
                "start_offset": src.get("startOffset"), "end_offset": src.get("endOffset"),
                "blocks": src["numInputRows"],
                "trigger_ms": d.get("triggerExecution", 0),
                "planning_ms": d.get("queryPlanning", 0),
                "offsets_ms": sum(d.get(k, 0) for k in
                                  ("latestOffset", "getBatch", "walCommit", "commitOffsets")),
                "add_batch_ms": d.get("addBatch", 0),
                "jobs": len(jobs), "tasks": len(tasks),
                "driver_gap_ms": max(0, d.get("addBatch", 0) - covered),
                "bytes_written": sum(written.values()),
                "bytes_written_by_table": {k: v for k, v in written.items() if k},
                "shuffle_bytes": sum(t["shuffle_write"] for t in tasks),
                "spill_bytes": sum(t["spill"] for t in tasks),
            })
    return out


def job_groups(apps, prefix):
    """Per job group starting with `prefix` (e.g. "read:" or "query:"): the
    jobs, tasks, bytes and scan counters of every execution in the group."""
    groups = {}
    for app in apps:
        for jid, job in app.jobs.items():
            group = job["props"].get("spark.jobGroup.id") or ""
            if not group.startswith(prefix):
                continue
            desc = job["props"].get("spark.job.description") or group
            g = groups.setdefault(desc, {"group": group, "jobs": 0, "tasks": 0, "run_ms": 0,
                                         "shuffle_bytes": 0, "spill_bytes": 0, "in_bytes": 0,
                                         "in_records": 0, "files_read": 0, "_sql": set()})
            g["jobs"] += 1
            for t in app.job_tasks([job]):
                g["tasks"] += 1
                g["run_ms"] += t["run_ms"]
                g["shuffle_bytes"] += t["shuffle_write"]
                g["spill_bytes"] += t["spill"]
                g["in_bytes"] += t["in_bytes"]
                g["in_records"] += t["in_records"]
            sql = app.sql_of_job(job)
            eid = job["props"].get("spark.sql.execution.id")
            if sql and (id(app), eid) not in g["_sql"]:
                g["_sql"].add((id(app), eid))
                g["files_read"] += sum(int(app.driver_accum.get(a, 0))
                                       for a in sql["files_metric_ids"])
    for g in groups.values():
        del g["_sql"]
    return groups


def cached_peak(apps):
    return max((a.cached_peak for a in apps), default=0)
