#!/usr/bin/env python3
"""Summarize a Spark event log by SQL execution.

Usage:
    python3 scripts/eventlog_summary.py <eventlog> [--from JOB] [--to JOB]

Prints one row per SQL execution: its id, its call site (the
execution's description, e.g. "localCheckpoint at ReleaseStore.scala:147"),
the Spark jobs it ran, the shuffle and broadcast exchanges in its executed
plan (the last adaptive plan when AQE re-planned it) and its duration.
Jobs that belong to no SQL execution get one row per call site. A job is
attributed through its `spark.sql.execution.id` property, so the stage
jobs AQE submits from its own threads (call site `CompletableFuture`)
count under the query that planned them. `--from`/`--to` bound the
window by job id (inclusive): only those jobs count, and only executions
with a job in the window are listed.

Record a log by passing Spark's settings to the JVM, e.g. for a benchmark
run:

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \\
      -Dspark.eventLog.dir=file:///tmp/ev -Dspark.eventLog.compress=false" \\
      python3 perfbench/run.py --workload store_ingest --seed 1
    python3 scripts/eventlog_summary.py /tmp/ev/eventlog_v2_*/events_*

Spark 4 writes the log as a directory of `events_*` files; pass the file. The
log must be uncompressed JSON lines.
"""

import argparse
import json
import signal
import sys

SQL_EVENT = "org.apache.spark.sql.execution.ui.SparkListenerSQL"


def exchanges(plan):
    """(shuffle, broadcast) exchange counts of a sparkPlanInfo tree."""
    shuffle = broadcast = 0
    stack = [plan] if plan else []
    while stack:
        node = stack.pop()
        name = node.get("nodeName", "")
        if name == "Exchange":
            shuffle += 1
        elif name == "BroadcastExchange":
            broadcast += 1
        stack.extend(node.get("children", []))
    return shuffle, broadcast


def site_of(description):
    """A micro-batch's actions carry the stream's job description
    (name, id, runId, batch lines): name them by their batch."""
    lines = [l for l in (description or "").splitlines() if l.strip()]
    if len(lines) == 1:
        return lines[0]
    batch = [l for l in lines if l.startswith("batch = ")]
    return "stream " + batch[0].replace(" =", "") if batch else " ".join(lines) or "?"


def read_events(path):
    with open(path, "rb") as f:
        head = f.read(1)
    if head not in (b"{", b""):
        sys.exit("eventlog_summary: %s is not JSON lines (compressed? record "
                 "with -Dspark.eventLog.compress=false)" % path)
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)


def summarize(events, first=None, last=None):
    """Rows [(exec id or None, call site, jobs, shuffles, broadcasts,
    duration ms or None)] in execution order, then the jobs outside any
    execution by call site."""
    execs = {}  # id -> {"site", "plan", "start", "end"}
    jobs = {}   # exec id (or call site for jobs outside one) -> count
    for e in events:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            if (first is not None and jid < first) or \
                    (last is not None and jid > last):
                continue
            props = e.get("Properties") or {}
            eid = props.get("spark.sql.execution.id")
            if eid is not None:
                key = int(eid)
            else:  # the newest stage is named by the job's call site
                stages = e.get("Stage Infos") or [{}]
                key = props.get("callSite.short") or max(
                    stages, key=lambda s: s.get("Stage ID", 0)).get(
                        "Stage Name", "?")
            jobs[key] = jobs.get(key, 0) + 1
        elif kind == SQL_EVENT + "ExecutionStart":
            execs[e["executionId"]] = {
                "site": site_of(e.get("description")),
                "plan": e.get("sparkPlanInfo"), "start": e.get("time"),
                "end": None}
        elif kind == SQL_EVENT + "AdaptiveExecutionUpdate":
            if e["executionId"] in execs:
                execs[e["executionId"]]["plan"] = e.get("sparkPlanInfo")
        elif kind == SQL_EVENT + "ExecutionEnd":
            if e["executionId"] in execs:
                execs[e["executionId"]]["end"] = e.get("time")
    windowed = first is not None or last is not None
    rows = []
    for eid in sorted(execs):
        x = execs[eid]
        n = jobs.get(eid, 0)
        if windowed and n == 0:
            continue
        dur = x["end"] - x["start"] \
            if x["end"] is not None and x["start"] is not None else None
        rows.append((eid, x["site"], n) + exchanges(x["plan"]) + (dur,))
    for site in sorted(k for k in jobs if isinstance(k, str)):
        rows.append((None, site, jobs[site], 0, 0, None))
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("eventlog")
    ap.add_argument("--from", dest="first", type=int, help="first job id")
    ap.add_argument("--to", dest="last", type=int, help="last job id")
    args = ap.parse_args()
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)  # e.g. piped into head
    rows = summarize(read_events(args.eventlog), args.first, args.last)
    print("%5s  %-56s %5s %8s %6s %9s" % (
        "exec", "call site", "jobs", "shuffles", "bcasts", "ms"))
    for eid, site, n, sh, bc, dur in rows:
        print("%5s  %-56s %5d %8d %6d %9s" % (
            "-" if eid is None else eid, site[:56], n, sh, bc,
            "-" if dur is None else dur))
    print("%5s  %-56s %5d %8d %6d %9s" % (
        "", "total (%d rows)" % len(rows), sum(r[2] for r in rows),
        sum(r[3] for r in rows), sum(r[4] for r in rows),
        sum(r[5] for r in rows if r[5] is not None)))


if __name__ == "__main__":
    main()
