#!/usr/bin/env python3
"""Per-micro-batch job breakdown of the streaming queries in a Spark event log.

    python3 tools/stream_batches.py <event log file or eventlog_v2_* dir>

Reads an uncompressed event log and prints, per streaming query (named by
its first source): batches, jobs per batch and the median job span per batch
(first job submitted to last job finished). Then, for the median batch of
every stream (streams that share a source each wait on their own batch), it
lists each job: offset from the batch start, duration, tasks run, the root
of the SQL plan it ran under and, in parentheses, the operator its last
stage ends in.
"""
import json
import os
import statistics
import sys
from collections import defaultdict


def events(path):
    if os.path.isdir(path):
        path = os.path.join(path, min(f for f in os.listdir(path) if f.startswith("events_")))
    with open(path) as f:
        for line in f:
            yield json.loads(line)


def main(path):
    jobs, stage_job, tasks, roots, source = {}, {}, defaultdict(int), {}, {}
    for e in events(path):
        kind = e["Event"].rsplit(".", 1)[-1].rsplit("$", 1)[-1]
        if kind == "SparkListenerJobStart" and "sql.streaming.queryId" in (e.get("Properties") or {}):
            p = e["Properties"]
            last = max(e["Stage Infos"], key=lambda s: s["Stage ID"])
            top = max(last["RDD Info"], key=lambda r: r["RDD ID"])
            op = json.loads(top["Scope"])["name"] if "Scope" in top else last["Stage Name"]
            jobs[e["Job ID"]] = dict(q=p["sql.streaming.queryId"], b=int(p["streaming.sql.batchId"]),
                                     start=e["Submission Time"], end=None, x=p.get("spark.sql.execution.id"), op=op)
            stage_job.update((s, e["Job ID"]) for s in e["Stage IDs"])
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_job:
            tasks[stage_job[e["Stage ID"]]] += 1
        elif kind == "SparkListenerSQLExecutionStart":
            node = e["sparkPlanInfo"]
            while node["nodeName"] == "AdaptiveSparkPlan" and node["children"]:
                node = node["children"][0]
            roots[str(e["executionId"])] = node["nodeName"]
        elif kind == "QueryProgressEvent" and e["progress"]["sources"]:
            source[e["progress"]["id"]] = e["progress"]["sources"][0]["description"].rstrip("]").rsplit("/", 1)[-1]
    batches = defaultdict(lambda: defaultdict(list))
    for jid, j in sorted((jid, j) for jid, j in jobs.items() if j["end"] is not None):
        batches[j["q"]][j["b"]].append((jid, j))
    span = lambda js: max(j["end"] for _, j in js) - min(j["start"] for _, j in js)  # noqa: E731
    for q, bs in batches.items():
        counts = [len(js) for js in bs.values()]
        print(f"stream {q[:8]} ({source.get(q, '?')}): {len(bs)} batches, jobs/batch median "
              f"{statistics.median(counts)} (min {min(counts)}, max {max(counts)}), "
              f"median job span {statistics.median(span(js) for js in bs.values()):.0f} ms")
    if not batches:
        sys.exit("no streaming jobs in the log")
    for q, bs in batches.items():
        b, js = sorted(bs.items(), key=lambda kv: span(kv[1]))[len(bs) // 2]
        t0 = min(j["start"] for _, j in js)
        print(f"\nmedian batch {b} of stream {q[:8]} ({source.get(q, '?')}), span {span(js)} ms:")
        print(f"{'job':>5} {'offset':>7} {'ms':>6} {'tasks':>5}  plan root (last operator)")
        for jid, j in js:
            print(f"{jid:>5} {j['start'] - t0:>7} {j['end'] - j['start']:>6} {tasks[jid]:>5}  "
                  f"{roots.get(j['x'], '-')} ({j['op']})")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    try:
        main(sys.argv[1])
        sys.stdout.flush()
    except BrokenPipeError:
        # the reader closed the pipe (`| head`): stop quietly, and keep the
        # interpreter's final flush from raising on the closed stdout
        os.dup2(os.open(os.devnull, os.O_WRONLY), sys.stdout.fileno())
