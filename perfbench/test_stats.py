"""Self-tests of the benchmark's own arithmetic, on tiny inputs.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import layers  # noqa: E402
import stats  # noqa: E402
from tracer import Tracer  # noqa: E402


# ------------------------------------------------------------ tail percentile


def test_tail_keeps_ten_samples_beyond():
    value, pct, beyond = stats.tail(list(range(100, 0, -1)))  # 1..100, unsorted
    assert (value, pct, beyond) == (90, 90.0, 10)
    assert stats.tail(range(1, 1001)) == (990, 99.0, 10)
    assert stats.tail(range(1, 81)) == (70, 87.5, 10)
    # few samples put the highest qualifying percentile low: 20 give p50
    assert stats.tail(range(1, 21)) == (10, 50.0, 10)


def test_tail_smallest_qualifying_sample_count():
    value, pct, beyond = stats.tail(range(1, 12))  # 11 samples: rank 1
    assert (value, beyond) == (1, 10)
    assert pct == pytest.approx(100 / 11)


def test_tail_without_enough_samples_is_the_maximum():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)
    assert stats.tail(range(10)) == (9, 100.0, 0)
    with pytest.raises(ValueError):
        stats.tail([])


def test_median():
    assert stats.median([3, 1, 2]) == 2
    assert stats.median([4, 1, 2, 3]) == 2.5


# ----------------------------------------------------------- span self time


def test_self_time_subtracts_direct_children_only():
    spans = [
        {"start": 0.0, "end": 10.0, "parent": None},
        {"start": 1.0, "end": 4.0, "parent": 0},
        {"start": 5.0, "end": 9.0, "parent": 0},
        {"start": 6.0, "end": 7.0, "parent": 2},
    ]
    assert stats.self_times(spans) == [3.0, 3.0, 3.0, 1.0]


def test_tracer_spans_nest_and_self_times_add_up():
    tr = Tracer()
    with tr.span("op", "bench"):
        with tr.span("build", "queries"):
            with tr.span("load_table", "tables"):
                pass
        with tr.span("action", "queries"):
            pass
    assert [s["parent"] for s in tr.spans] == [None, 0, 1, 0]
    selfs = stats.self_times(tr.spans)
    total = tr.spans[0]["end"] - tr.spans[0]["start"]
    assert sum(selfs) == pytest.approx(total)
    assert all(s >= 0 for s in selfs)


def test_union_length_merges_overlaps():
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert stats.union_length([]) == 0


# ---------------------------------------------------------- event-log fold


def _ev(**kw):
    return json.dumps(kw)


def _task(stage, launch, finish, run_ms, ok=True, **metrics):
    m = {
        "Executor Deserialize Time": 10,
        "Executor Run Time": run_ms,
        "Result Serialization Time": 0,
        "Executor CPU Time": run_ms * 1_000_000 // 2,
        "JVM GC Time": 5,
        "Input Metrics": {"Bytes Read": metrics.get("input", 0)},
        "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": metrics.get("sread", 0)},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": metrics.get("swrite", 0)},
        "Disk Bytes Spilled": metrics.get("spill", 0),
    }
    return _ev(
        Event="SparkListenerTaskEnd",
        **{
            "Stage ID": stage,
            "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
            "Task Info": {"Launch Time": launch, "Finish Time": finish, "Getting Result Time": 0},
            "Task Metrics": m,
        },
    )


def test_event_log_fold_per_operation():
    mib = 1024 * 1024
    lines = [
        _ev(Event="SparkListenerApplicationStart"),
        # op 0 [1000, 2000] ms: job 0 during build, jobs 1 and 2 in the action, overlapping
        _ev(Event="SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 1100, "Stage IDs": [0]}),
        _ev(Event="SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 1200}),
        _ev(Event="SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 1500, "Stage IDs": [1]}),
        _ev(Event="SparkListenerJobStart", **{"Job ID": 2, "Submission Time": 1600, "Stage IDs": [2]}),
        _ev(Event="SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 1800}),
        _ev(Event="SparkListenerJobEnd", **{"Job ID": 2, "Completion Time": 1900}),
        _ev(Event="SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0}}),
        _ev(Event="SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 1, "Stage Attempt ID": 0}}),
        _ev(Event="SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 1, "Stage Attempt ID": 1}}),
        _ev(Event="SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 2, "Stage Attempt ID": 0}}),
        _task(0, 1110, 1190, 50, input=2 * mib),
        _task(1, 1500, 1700, 150, ok=False, sread=mib, swrite=mib),
        _task(2, 1600, 1800, 190, spill=mib),
        # op 1 [3000, 3500] ms: one job, no build end known
        _ev(Event="SparkListenerJobStart", **{"Job ID": 3, "Submission Time": 3100, "Stage IDs": [3]}),
        _ev(Event="SparkListenerJobEnd", **{"Job ID": 3, "Completion Time": 3300}),
        _task(3, 3100, 3300, 100),
        # a job outside every operation is ignored
        _ev(Event="SparkListenerJobStart", **{"Job ID": 4, "Submission Time": 9000, "Stage IDs": [4]}),
        _task(4, 9000, 9100, 100),
    ]
    log = stats.read_event_log(lines)
    ops = [{"start": 1.0, "end": 2.0, "build_end": 1.3}, {"start": 3.0, "end": 3.5}]
    a, b = stats.fold_event_log(log, ops, cores=2)
    assert (a["spark.jobs"], a["queries.build_jobs"], a["queries.action_jobs"]) == (3, 1, 2)
    assert (a["spark.stages"], a["spark.stage_retries"]) == (4, 1)
    assert (a["spark.tasks"], a["spark.failed_tasks"]) == (3, 1)
    # wall 1.0 s minus the union of [1.1, 1.2] and [1.5, 1.9]
    assert a["spark.driver_self_s"] == pytest.approx(0.5)
    assert a["spark.executor_run_s"] == pytest.approx(0.39)
    assert a["spark.executor_cpu_s"] == pytest.approx(0.195)
    assert a["spark.gc_s"] == pytest.approx(0.015)
    # per task: duration - deserialize - run
    assert a["spark.scheduler_delay_s"] == pytest.approx(0.02 + 0.04 + 0.0)
    assert (a["spark.input_mb"], a["spark.shuffle_read_mb"], a["spark.shuffle_write_mb"], a["spark.spill_mb"]) == (2, 1, 1, 1)
    assert a["spark.cpu_busy_share"] == pytest.approx(0.39 / (1.0 * 2))
    assert (b["spark.jobs"], b["queries.build_jobs"], b["queries.action_jobs"], b["spark.tasks"]) == (1, 0, 1, 1)
    assert b["spark.driver_self_s"] == pytest.approx(0.3)


# ------------------------------------------------------- open-loop latency


def test_open_loop_latency_runs_from_due_time():
    due = {0: 10.0, 1: 10.25, 2: 10.5, 3: 10.75}
    # file 1 was published late and file 3 never committed: latency still
    # counts from when each file was due, and a missing file is skipped
    commit = {0: 11.0, 1: 11.0, 2: 12.0}
    assert stats.file_latencies(due, commit) == pytest.approx([1.0, 0.75, 1.5])


def test_backlog_is_files_written_minus_files_admitted():
    progress = [
        {"timestamp": "2026-01-01T00:00:01.000Z", "numInputRows": 4000},
        {"timestamp": "2026-01-01T00:00:02.000Z", "numInputRows": 2000},
        {"timestamp": "2026-01-01T00:00:03.000Z", "numInputRows": 0},
    ]
    t0 = layers._epoch("2026-01-01T00:00:00.000Z")
    published = {0: t0 + 0.5, 1: t0 + 0.9, 2: t0 + 1.5, 3: t0 + 1.8, 4: t0 + 2.5}
    assert layers.backlog_files(progress, published, 2000) == [2, 2, 2]


def test_retention_removes_only_old_committed_files(tmp_path, monkeypatch):
    import numpy as np
    import openloop

    monkeypatch.setattr(openloop, "RETAIN_FILES", 2)
    files = openloop.plan_files(np.random.default_rng(0), 5)
    gen = openloop.Generator(str(tmp_path), files, 0.0, committed={0, 1})
    for k in range(5):
        gen.publish(k)
    # files 0 and 1 are two behind and committed; file 2 is two behind the
    # newest but not committed, so it stays, and so does everything after it
    assert sorted(os.listdir(gen.inbox)) == ["b000002", "b000003", "b000004"]
    assert gen.removed == 2


def test_cpu_shares():
    before = [100, 0, 50, 800, 10, 0, 0, 40]
    after = [400, 0, 150, 1300, 10, 0, 0, 140]  # +300 user +100 sys +500 idle +100 steal
    shares = stats.cpu_shares(before, after)
    assert shares["busy_share"] == pytest.approx(0.4)
    assert shares["steal_share"] == pytest.approx(0.1)
