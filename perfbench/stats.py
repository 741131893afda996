"""The benchmark's own arithmetic, kept free of Spark so it can be tested on
tiny inputs (``perfbench/test_stats.py``)."""

from __future__ import annotations

import json

TAIL_MIN_BEYOND = 10


def median(values):
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("median of no values")
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2


def tail(values, min_beyond: int = TAIL_MIN_BEYOND):
    """The highest nearest-rank percentile that still has at least
    ``min_beyond`` samples beyond it.

    Returns ``(value, percentile, n_beyond)``.  With ``n`` samples the value
    is the order statistic of rank ``n - min_beyond``, whose nearest-rank
    percentile is ``100 * (n - min_beyond) / n``: 20 samples give p50, 60
    give p83.3, 100 give p90.  With ``min_beyond`` samples or fewer no rank
    qualifies and the maximum is returned as p100 with nothing beyond it."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no values")
    if n <= min_beyond:
        return s[-1], 100.0, 0
    rank = n - min_beyond
    return s[rank - 1], 100.0 * rank / n, min_beyond


def self_times(spans):
    """Self time of each span: its duration minus the durations of its
    direct children.  ``spans`` is a list of dicts with ``start``, ``end``
    and ``parent`` (index into the list, or None)."""
    child = [0.0] * len(spans)
    for sp in spans:
        if sp["parent"] is not None:
            child[sp["parent"]] += sp["end"] - sp["start"]
    return [sp["end"] - sp["start"] - c for sp, c in zip(spans, child)]


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def cpu_ticks():
    """The machine's cumulative CPU ticks from ``/proc/stat``: user, nice,
    system, idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def cpu_shares(before, after):
    """Busy and steal shares of the machine's CPU time between two
    ``cpu_ticks`` readings.  Steal is time the hypervisor ran something else
    while a virtual CPU wanted to run; it slows every timed step, so the
    detail line records it beside the figures."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d)
    if total <= 0:
        return {"busy_share": 0.0, "steal_share": 0.0}
    return {"busy_share": 1.0 - (d[3] + d[4] + d[7]) / total, "steal_share": d[7] / total}


# ---------------------------------------------------------------- event log

_OK = "Success"


def read_event_log(lines):
    """Parse Spark's plain-JSON event log into jobs, stages and tasks.

    Returns ``{"jobs": {id: {...}}, "stages": [...], "tasks": [...]}`` with
    times in epoch seconds.  Only the fields the fold needs are kept."""
    jobs: dict[int, dict] = {}
    stages: list[dict] = []
    tasks: list[dict] = []
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {"submit": ev["Submission Time"] / 1000.0, "end": None, "stages": ev.get("Stage IDs", [])}
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stages.append({"stage": info["Stage ID"], "attempt": info.get("Stage Attempt ID", 0)})
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            launch, finish = info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0
            deser = m.get("Executor Deserialize Time", 0) / 1000.0
            run = m.get("Executor Run Time", 0) / 1000.0
            ser = m.get("Result Serialization Time", 0) / 1000.0
            getting = (finish - info["Getting Result Time"] / 1000.0) if info.get("Getting Result Time") else 0.0
            shuffle_r = m.get("Shuffle Read Metrics") or {}
            shuffle_w = m.get("Shuffle Write Metrics") or {}
            tasks.append(
                {
                    "stage": ev["Stage ID"],
                    "ok": (ev.get("Task End Reason") or {}).get("Reason") == _OK,
                    "run_s": run,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                    "sched_delay_s": max(0.0, finish - launch - deser - run - ser - getting),
                    "input_b": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "shuffle_read_b": shuffle_r.get("Remote Bytes Read", 0) + shuffle_r.get("Local Bytes Read", 0),
                    "shuffle_write_b": shuffle_w.get("Shuffle Bytes Written", 0),
                    "spill_b": m.get("Disk Bytes Spilled", 0),
                }
            )
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def fold_event_log(log, ops, cores: int):
    """Fold parsed event-log records into one record per operation.

    ``ops`` is a list of dicts with ``start``/``end`` (epoch seconds) and
    optionally ``build_end``: a job belongs to the operation whose interval
    holds its submission time, and counts as a build job when it was
    submitted before ``build_end``.  A stage or task belongs to the
    operation of its job."""
    stage_op: dict[int, int] = {}
    out = []
    for i, op in enumerate(ops):
        rec = {
            "spark.jobs": 0,
            "queries.build_jobs": 0,
            "queries.action_jobs": 0,
            "spark.stages": 0,
            "spark.stage_retries": 0,
            "spark.tasks": 0,
            "spark.failed_tasks": 0,
            "spark.scheduler_delay_s": 0.0,
            "spark.executor_run_s": 0.0,
            "spark.executor_cpu_s": 0.0,
            "spark.gc_s": 0.0,
            "spark.input_mb": 0.0,
            "spark.shuffle_read_mb": 0.0,
            "spark.shuffle_write_mb": 0.0,
            "spark.spill_mb": 0.0,
        }
        intervals = []
        for job in log["jobs"].values():
            if op["start"] <= job["submit"] <= op["end"]:
                rec["spark.jobs"] += 1
                build_end = op.get("build_end")
                if build_end is not None and job["submit"] <= build_end:
                    rec["queries.build_jobs"] += 1
                else:
                    rec["queries.action_jobs"] += 1
                intervals.append((job["submit"], job["end"] if job["end"] is not None else op["end"]))
                for sid in job["stages"]:
                    stage_op.setdefault(sid, i)
        wall = op["end"] - op["start"]
        rec["spark.driver_self_s"] = max(0.0, wall - union_length(intervals))
        out.append(rec)
    for st in log["stages"]:
        i = stage_op.get(st["stage"])
        if i is None:
            continue
        out[i]["spark.stages"] += 1
        if st["attempt"] > 0:
            out[i]["spark.stage_retries"] += 1
    mb = 1024.0 * 1024.0
    for t in log["tasks"]:
        i = stage_op.get(t["stage"])
        if i is None:
            continue
        rec = out[i]
        rec["spark.tasks"] += 1
        rec["spark.failed_tasks"] += 0 if t["ok"] else 1
        rec["spark.scheduler_delay_s"] += t["sched_delay_s"]
        rec["spark.executor_run_s"] += t["run_s"]
        rec["spark.executor_cpu_s"] += t["cpu_s"]
        rec["spark.gc_s"] += t["gc_s"]
        rec["spark.input_mb"] += t["input_b"] / mb
        rec["spark.shuffle_read_mb"] += t["shuffle_read_b"] / mb
        rec["spark.shuffle_write_mb"] += t["shuffle_write_b"] / mb
        rec["spark.spill_mb"] += t["spill_b"] / mb
    for op, rec in zip(ops, out):
        wall = op["end"] - op["start"]
        rec["spark.cpu_busy_share"] = rec["spark.executor_run_s"] / (wall * cores) if wall > 0 else 0.0
    return out


# ------------------------------------------------------- open-loop latency


def file_latencies(due: dict, commit: dict) -> list:
    """Open-loop latency of each generator file (``due``/``commit``: file
    index -> epoch seconds): the commit time of the micro-batch that carried
    the file minus the time the file was *due*, not the time it was actually
    written, so a generator that falls behind cannot hide queueing delay.
    Files never committed are skipped; the caller counts them as failed."""
    return [commit[k] - due[k] for k in sorted(due) if k in commit]

