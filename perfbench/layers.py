"""Per-layer metrics of a traced run.

Joins four sources into one record per operation: the tracer's spans
(calls into the package's layers), the planning records of its
``PlanningListener``, Spark's event log folded by time interval
(``stats.fold_event_log``), and the ``StreamingQueryProgress`` records of
every stream the operation ran.  The workload's per-layer
metric is then the mean over operations, the mean over triggers, or the
maximum, as ``LAYER_METRICS`` says.
"""

from __future__ import annotations

import datetime
import glob
import os

import stats
from openloop import EVENTS_PER_FILE

# metric -> (unit, aggregation over the traced operations or triggers)
LAYER_METRICS = {
    "session.start_s": ("s", "run"),
    "queries.build_s": ("s", "mean"),
    "queries.build_jobs": ("count", "mean"),
    "queries.action_s": ("s", "mean"),
    "queries.action_jobs": ("count", "mean"),
    "registry.scoped_persists": ("count", "mean"),
    "registry.release_s": ("s", "mean"),
    "tables.load_calls": ("count", "mean"),
    "tables.load_s": ("s", "mean"),
    "spark.jobs": ("count", "mean"),
    "spark.stages": ("count", "mean"),
    "spark.tasks": ("count", "mean"),
    "spark.scheduler_delay_s": ("s", "mean"),
    "spark.planning_s": ("s", "mean"),
    "spark.driver_self_s": ("s", "mean"),
    "spark.stage_retries": ("count", "mean"),
    "spark.failed_tasks": ("count", "mean"),
    "spark.executor_run_s": ("s", "mean"),
    "spark.executor_cpu_s": ("s", "mean"),
    "spark.gc_s": ("s", "mean"),
    "spark.input_mb": ("MB", "mean"),
    "spark.shuffle_read_mb": ("MB", "mean"),
    "spark.shuffle_write_mb": ("MB", "mean"),
    "spark.spill_mb": ("MB", "mean"),
    "spark.cpu_busy_share": ("ratio", "mean"),
    "streaming.runner.drain_s": ("s", "mean"),
    "streaming.runner.lifecycle_s": ("s", "mean"),
    "streaming.runner.triggers": ("count", "mean"),
    "stream.trigger_ms": ("ms", "trigger"),
    "stream.add_batch_ms": ("ms", "trigger"),
    "stream.query_planning_ms": ("ms", "trigger"),
    "stream.offsets_ms": ("ms", "trigger"),
    "stream.commit_ms": ("ms", "trigger"),
    "stream.rows_per_trigger": ("count", "trigger"),
    "state.commit_ms": ("ms", "trigger"),
    "state.rows_total": ("count", "max"),
    "state.memory_mb": ("MB", "max"),
    "state.late_dropped": ("count", "mean"),
    "source.backlog_files": ("count", "max"),
    "metrics.queue_depth_max": ("count", "max"),
    "metrics.late_dropped_total": ("count", "mean"),
    "leak.active_streams": ("count", "run"),
    "leak.mem_views": ("count", "run"),
    "leak.chk_dirs": ("count", "run"),
    "leak.persistent_rdds": ("count", "run"),
    "gen.late_ms_max": ("ms", "run"),
    "trace.overhead_share": ("ratio", "run"),
}
UNITS = {k: u for k, (u, _) in LAYER_METRICS.items()}


def _epoch(iso: str) -> float:
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def trigger_phases(p: dict) -> dict:
    """One trigger's phase split, from its StreamingQueryProgress."""
    d = p.get("durationMs") or {}
    ops = p.get("stateOperators") or []
    return {
        "stream.trigger_ms": d.get("triggerExecution", 0),
        "stream.add_batch_ms": d.get("addBatch", 0),
        "stream.query_planning_ms": d.get("queryPlanning", 0),
        "stream.offsets_ms": d.get("latestOffset", 0) + d.get("getBatch", 0),
        "stream.commit_ms": d.get("walCommit", 0) + d.get("commitOffsets", 0),
        "stream.rows_per_trigger": p.get("numInputRows", 0),
        "state.commit_ms": sum(o.get("commitTimeMs", 0) for o in ops),
        "state.rows_total": sum(o.get("numRowsTotal", 0) for o in ops),
        "state.memory_mb": sum(o.get("memoryUsedBytes", 0) for o in ops) / (1024.0 * 1024.0),
        "state.late_dropped": sum(o.get("numRowsDroppedByWatermark", 0) for o in ops),
    }


def backlog_files(progress, published: dict, events_per_file: int):
    """Files written minus files admitted, taken at the start of each
    trigger (``published``: file index -> publish time, epoch seconds)."""
    admitted = 0
    out = []
    for p in progress:
        t = _epoch(p["timestamp"])
        written = sum(1 for ts in published.values() if ts <= t)
        out.append(max(0, written - admitted // events_per_file))
        admitted += p.get("numInputRows", 0)
    return out


def _last_event_log(log_dir: str) -> list[str]:
    """Lines of the newest application's event log: the measured windows
    all run on the run's last session."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if not files:
        return []
    with open(max(files, key=os.path.getmtime)) as f:
        return f.readlines()


def _op_record(op, spans, progress, actions) -> dict:
    from simple_stream_processor_spark import metrics

    rec = {"op": op["name"], "wall_s": op["end"] - op["start"]}

    def dur(pred):
        return sum(s["end"] - s["start"] for s in spans if pred(s))

    rec["queries.build_s"] = op.get("build_s", dur(lambda s: s["layer"] == "queries" and s["name"] == "build"))
    rec["queries.action_s"] = op.get("action_s", dur(lambda s: s["layer"] == "queries" and s["name"] == "action"))
    rec["spark.planning_s"] = sum(a["planning_s"] for a in actions if op["start"] <= a["start"] <= op["end"])
    rec["tables.load_calls"] = sum(1 for s in spans if s["layer"] == "tables")
    rec["tables.load_s"] = dur(lambda s: s["layer"] == "tables")
    rec["registry.release_s"] = dur(lambda s: s["name"] == "release_scoped_caches")
    rec["registry.scoped_persist_calls"] = sum(1 for s in spans if s["name"] == "scoped_persist")
    drains = [s for s in spans if s["name"] == "run_stream_to_memory"]
    rec["streaming.runner.drain_s"] = sum(s["end"] - s["start"] for s in drains)
    rec["streaming.runner.triggers"] = sum(len(s.get("result") or []) for s in drains)
    drained_ms = sum((p.get("durationMs") or {}).get("triggerExecution", 0) for s in drains for p in s.get("result") or [])
    rec["streaming.runner.lifecycle_s"] = rec["streaming.runner.drain_s"] - drained_ms / 1000.0 if drains else 0.0
    phases = [trigger_phases(p) for p in progress]
    rec["state.late_dropped"] = sum(ph["state.late_dropped"] for ph in phases)
    snap = metrics.snapshot_from_streaming_progress(progress).values if progress else {}
    rec["metrics.queue_depth_max"] = snap.get("ssp_boundary_queue_depth_max", 0)
    rec["metrics.late_dropped_total"] = snap.get("ssp_late_event_dropped_total", 0)
    rec["_phases"] = phases
    return rec


def collect(kind: str, raw: dict, tracer, log_dir: str, cores: int):
    """(per-layer metrics of the workload, per-operation records)."""
    if kind == "batch":
        ops = raw["traced"]["ops"]
        for i, op in enumerate(ops):
            op["persists"] = ops[i + 1]["released"] if i + 1 < len(ops) else op.get("released_after", 0)
        base = (sum(o["latency_s"] for o in raw["ops"]) + sum(o["latency_s"] for o in raw["traced"]["untraced_after"])) / 2
        overhead = sum(o["latency_s"] for o in ops) / base - 1.0
        leaks = raw["traced"]["leaks"][-1]
        gen_late_ms = 0.0
        extra = [{} for _ in ops]
    else:
        before, run, after = raw["runs"]
        (b0, b1), end = run["build"], run["drained_at"]
        ops = [{"name": "stream-openloop", "start": b0, "end": end, "build_end": b1, "build_s": b1 - b0, "action_s": end - b1, "persists": 0}]
        base = (stats.median(before["latency_s"]) + stats.median(after["latency_s"])) / 2
        overhead = stats.median(run["latency_s"]) / base - 1.0
        leaks = raw["leaks"]
        gen_late_ms = 1000.0 * max(run["gen_late_s"], default=0.0)
        extra = [{"source.backlog_files": max(backlog_files(run["progress"], run["published"], EVENTS_PER_FILE), default=0)}]

    folded = stats.fold_event_log(stats.read_event_log(_last_event_log(log_dir)), ops, cores)
    records = []
    for op, fold, ext in zip(ops, folded, extra):
        spans = tracer.within(op["start"], op["end"])
        if kind == "batch":
            progress = [p for s in spans if s["name"] == "run_stream_to_memory" for p in s.get("result") or []]
        else:
            progress = raw["runs"][1]["progress"]
        rec = _op_record(op, spans, progress, tracer.actions)
        rec.update(fold)
        rec["registry.scoped_persists"] = op["persists"]
        rec.setdefault("source.backlog_files", 0)
        rec.update(ext)
        records.append(rec)

    triggers = []
    for r in records:
        phases = r.pop("_phases")
        triggers += phases
        for name, (_, agg) in LAYER_METRICS.items():
            if agg == "trigger":
                r[name] = sum(ph[name] for ph in phases) / len(phases) if phases else 0.0
            elif agg == "max" and name.startswith("state."):
                r[name] = max((ph[name] for ph in phases), default=0)
    first = next(s for s in tracer.spans if s["name"] == "get_spark")
    run_level = dict(leaks)
    run_level["session.start_s"] = first["end"] - first["start"]
    run_level["gen.late_ms_max"] = gen_late_ms
    run_level["trace.overhead_share"] = overhead
    out = {}
    for name, (_, agg) in LAYER_METRICS.items():
        if agg == "run":
            out[name] = run_level[name]
        elif agg == "mean":
            out[name] = sum(r[name] for r in records) / len(records)
        elif agg == "trigger":
            out[name] = sum(t[name] for t in triggers) / len(triggers) if triggers else 0.0
        else:  # max
            pool = triggers if name.startswith("state.") else records
            out[name] = max((r[name] for r in pool), default=0)
    return out, records
