"""Per-op ledger parsed from Spark's JSON event log.

The traced run switches ``spark.eventLog`` on, writing into the run's own
directory.  After the session stops, ``parse`` reads that log and ties
every job to the op that caused it:

* batch jobs by their job group, which the benchmark sets to the op id
  before each op;
* micro-batch jobs by the streaming query id and batch id that Spark puts
  in their properties (the benchmark maps query ids to op ids).

Each op row sums its tasks' metrics and reads the SQL metrics of its SQL
executions from their final (adaptive) plan.  A second table groups jobs
by call site.  Self-test: ``python3 perfbench/ledger.py --self-test``.
"""

from __future__ import annotations

import json
import os
import sys
from collections import defaultdict

from spans import union_length

_SQL = "org.apache.spark.sql.execution.ui."
_OP_FIELDS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
              "gc_s", "shuffle_write_mb", "spill_mb", "python_udf_nodes",
              "python_rows", "files_read", "scans", "scan_tasks")


def read_events(log_dir: str) -> list[dict]:
    """Every event under ``log_dir`` (plain or rolling layout)."""
    paths = []
    for root, _, files in os.walk(log_dir):
        paths += [os.path.join(root, f) for f in files
                  if not f.startswith(".") and not f.startswith("appstatus")]
    events = []
    for path in sorted(paths):
        with open(path, encoding="utf-8") as fh:
            events += [json.loads(line) for line in fh if line.strip()]
    return events


def _walk(node: dict):
    yield node
    for child in node.get("children", []):
        yield from _walk(child)


def call_site(props: dict) -> str:
    """The short call site, from the package directory on (absolute
    prefixes differ between checkouts)."""
    site = props.get("callSite.short") or "(none)"
    at = site.find("rdf_mapper_spark/")
    return site if at < 0 else site.split(" at ")[0] + " at " + site[at:]


def parse(events: list[dict], stream_ops: dict[str, str] | None = None):
    """-> (ops, sites).  ``ops`` maps op id to a row of _OP_FIELDS plus
    ``job_intervals`` (epoch-second pairs) and ``sites`` (call site ->
    [jobs, job seconds]); ``sites`` totals the same over all ops.
    ``stream_ops`` maps a streaming query id to the op id prefix of its
    micro-batches (``<prefix>:b<batchId>``)."""
    stream_ops = stream_ops or {}
    job_op: dict[int, str] = {}
    job_exec: dict[int, str] = {}
    job_start: dict[int, float] = {}
    job_site: dict[int, str] = {}
    stage_op: dict[int, str] = {}
    stage_tasks: dict[int, int] = {}
    scan_stages: set[int] = set()
    exec_plan: dict[str, dict] = {}
    acc: dict[int, float] = defaultdict(float)
    ops: dict[str, dict] = defaultdict(
        lambda: {**{f: 0 for f in _OP_FIELDS}, "job_intervals": [],
                 "sites": defaultdict(lambda: [0, 0.0])})
    sites: dict[str, dict] = defaultdict(lambda: {"jobs": 0, "job_s": 0.0})

    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            qid = props.get("sql.streaming.queryId")
            if qid in stream_ops:
                op = f"{stream_ops[qid]}:b{props.get('streaming.sql.batchId')}"
            else:
                op = props.get("spark.jobGroup.id")
            if op is None:
                continue
            jid = e["Job ID"]
            job_op[jid] = op
            job_start[jid] = e["Submission Time"] / 1000
            job_site[jid] = call_site(props)
            if "spark.sql.execution.id" in props:
                job_exec[jid] = props["spark.sql.execution.id"]
            for sid in e.get("Stage IDs", []):
                stage_op[sid] = op
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in job_op:
                start, end = job_start[jid], e["Completion Time"] / 1000
                row = ops[job_op[jid]]
                row["jobs"] += 1
                row["job_intervals"].append((start, end))
                sites[job_site[jid]]["jobs"] += 1
                sites[job_site[jid]]["job_s"] += end - start
                row["sites"][job_site[jid]][0] += 1
                row["sites"][job_site[jid]][1] += end - start
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            sid = info["Stage ID"]
            stage_tasks[sid] = info["Number of Tasks"]
            if any(r.get("Name") == "FileScanRDD"
                   for r in info.get("RDD Info", [])):
                scan_stages.add(sid)
            if sid in stage_op:
                ops[stage_op[sid]]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                if a.get("Metadata") == "sql":
                    acc[a["ID"]] += float(a.get("Update") or 0)
            op = stage_op.get(e["Stage ID"])
            m = e.get("Task Metrics")
            if op is None or not m:
                continue
            row = ops[op]
            row["tasks"] += 1
            row["executor_run_s"] += m["Executor Run Time"] / 1e3
            row["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
            row["gc_s"] += m["JVM GC Time"] / 1e3
            row["shuffle_write_mb"] += (
                m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 2**20)
            row["spill_mb"] += m["Disk Bytes Spilled"] / 2**20
        elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                      _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            # the last plan seen is the one that ran
            exec_plan[str(e["executionId"])] = e["sparkPlanInfo"]
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for aid, value in e["accumUpdates"]:
                acc[aid] += value

    exec_op = {}
    for jid, ex in job_exec.items():
        exec_op.setdefault(ex, job_op[jid])
    for ex, plan in exec_plan.items():
        if ex not in exec_op:
            continue
        row = ops[exec_op[ex]]
        for node in _walk(plan):
            name = node["nodeName"]
            metrics = {m["name"]: m["accumulatorId"] for m in node["metrics"]}
            if "EvalPython" in name:
                row["python_udf_nodes"] += 1
                row["python_rows"] += acc.get(
                    metrics.get("number of output rows"), 0)
            elif name.startswith("Scan "):
                row["scans"] += 1
                row["files_read"] += acc.get(
                    metrics.get("number of files read"), 0)
    for sid in scan_stages:
        if sid in stage_op:
            ops[stage_op[sid]]["scan_tasks"] += stage_tasks[sid]
    return dict(ops), dict(sites)


def job_cover_s(row: dict, start: float, end: float) -> float:
    """Seconds of [start, end] during which at least one of the op's jobs
    ran."""
    return union_length([(max(s, start), min(e, end))
                         for s, e in row["job_intervals"]
                         if e > start and s < end])


def _self_test() -> None:
    """The recorded log holds one map_bulk CSV op (job group ``op0``)
    and a two-batch streaming run of the KG pipeline (query id mapped to
    ``s1``), trimmed to the events and fields the parser reads."""
    here = os.path.dirname(os.path.abspath(__file__))
    events = read_events(os.path.join(here, "testdata", "eventlog"))
    qid = next(e["progress"]["id"] for e in events
               if e["Event"].endswith("QueryProgressEvent"))
    ops, sites = parse(events, {qid: "s1"})
    want_ops = {"op0", "s1:b0", "s1:b1"}
    assert want_ops <= set(ops), sorted(ops)
    op0 = ops["op0"]
    # the CSV spec mints subjects and parses dates in pandas UDFs
    assert op0["python_udf_nodes"] > 0 and op0["python_rows"] > 0, op0
    # one small file: every scan of it is a single task
    assert op0["files_read"] >= 1 and op0["scans"] >= 1, op0
    assert op0["scan_tasks"] >= op0["scans"], op0
    assert op0["tasks"] >= op0["stages"] >= 1 and op0["jobs"] >= 1, op0
    assert op0["executor_run_s"] > 0 and op0["executor_cpu_s"] > 0, op0
    for b in ("s1:b0", "s1:b1"):
        # the KG step runs no Python UDF and shuffles for its dedup
        assert ops[b]["python_udf_nodes"] == 0, ops[b]
        assert ops[b]["jobs"] >= 2 and ops[b]["shuffle_write_mb"] > 0, \
            ops[b]
    assert sum(s["jobs"] for s in sites.values()) == sum(
        r["jobs"] for r in ops.values())
    lo = min(s for r in ops.values() for s, _ in r["job_intervals"])
    hi = max(e for r in ops.values() for _, e in r["job_intervals"])
    assert 0 < job_cover_s(op0, lo, hi) <= hi - lo
    # a job outside the window covers nothing
    assert job_cover_s(op0, hi + 1, hi + 2) == 0
    print("ledger self-test passed:", {k: ops[k]["jobs"] for k in
                                       sorted(want_ops)})


if __name__ == "__main__":
    if sys.argv[1:] == ["--self-test"]:
        _self_test()
    else:
        print("usage: python3 perfbench/ledger.py --self-test",
              file=sys.stderr)
        sys.exit(2)
