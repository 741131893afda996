"""Structured Streaming twins of the reference's event-time goldens
(FIXTURES.md §C): watermark late-drop, streaming dedup, stateful count
windows, and batch/stream equivalence.
"""

import os
import time
import uuid

import pytest
from pyspark.sql import functions as F

from simple_stream_processor_spark.streaming.runner import (
    TMP_ROOT,
    await_drain,
    run_stream_to_memory,
    stream_events,
)
from simple_stream_processor_spark.streaming.windows import (
    streaming_count_window,
    streaming_tumbling_window,
)
from simple_stream_processor_spark.streaming.dedup import streaming_dedup
from simple_stream_processor_spark import metrics


def _micro_batch_dir() -> str:
    d = os.path.join(TMP_ROOT, "mb", uuid.uuid4().hex[:12])
    os.makedirs(d, exist_ok=True)
    return d


def _write_batch(spark, d: str, rows, batch_no: int) -> None:
    # one parquet file per micro-batch; the file source picks up new files
    # per trigger, advancing the watermark between batches
    df = spark.createDataFrame(rows, "value string, ts_ms long").select(
        "value", F.timestamp_millis(F.col("ts_ms")).alias("ts")
    )
    df.coalesce(1).write.mode("append").parquet(d)


def _drive(spark, d: str, make_query, batches, output_mode="append"):
    """Write batch 1, start the query, then feed remaining batches one
    trigger at a time (processAllAvailable commits the watermark between
    batches — the streaming analog of the reference's in-band Watermark
    rows arriving in sequence)."""
    _write_batch(spark, d, batches[0], 0)
    schema = spark.read.parquet(d).schema
    sdf = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    out = make_query(sdf)
    name = "t_" + uuid.uuid4().hex[:10]
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", os.path.join(d, "_chk"))
        .start()
    )
    try:
        q.processAllAvailable()
        for i, b in enumerate(batches[1:], start=1):
            _write_batch(spark, d, b, i)
            q.processAllAvailable()
        progress = [p.asDict() if hasattr(p, "asDict") else p for p in q.recentProgress]
        return spark.table(name).collect(), progress
    finally:
        q.stop()


def test_streaming_late_event_dropped_golden(spark):
    """reference SimpleStreamProcessorTest.scala:294-310 / event-time
    example: a@1s..d@8s arrive, watermark advances to 8, then late@4s
    arrives → dropped; window [0,5) closes with exactly {a, b};
    numRowsDroppedByWatermark == 1 ≙ ssp_late_event_dropped_total."""
    d = _micro_batch_dir()

    def make(sdf):
        return (
            sdf.withWatermark("ts", "0 seconds")
            .groupBy(F.window("ts", "5 seconds").alias("w"))
            .agg(F.sort_array(F.collect_list("value")).alias("vals"))
            .select(F.unix_timestamp("w.start").alias("start_s"), "vals")
        )

    rows, progress = _drive(
        spark,
        d,
        make,
        [
            [("a", 1000), ("b", 3000), ("c", 7000), ("d", 8000)],
            [("late", 4000)],
            [("flush", 20000)],  # advances the watermark so [5,10) also closes
        ],
    )
    by_start = {r.start_s: list(r.vals) for r in rows}
    assert by_start[0] == ["a", "b"]  # late-x NOT in the closed window
    assert by_start[5] == ["c", "d"]
    snap = metrics.snapshot_from_streaming_progress(progress)
    assert snap.values["ssp_late_event_dropped_total"] == 1
    assert snap.values["ssp_watermark_regression_total"] == 0  # monotonic by construction


def test_streaming_dedup_within_watermark(spark):
    """N10 streaming: same key in a later batch is dropped; first arrival
    survives."""
    d = _micro_batch_dir()

    def make(sdf):
        return streaming_dedup(sdf.withColumn("k", F.col("value")), ["k"], "ts", "1 minute").select("k", "ts")

    rows, _ = _drive(
        spark,
        d,
        make,
        [
            [("k1", 1000), ("k2", 2000)],
            [("k1", 30000), ("k3", 31000)],  # k1 is a dup within the horizon
        ],
    )
    keys = sorted(r.k for r in rows)
    assert keys == ["k1", "k2", "k3"]


def test_streaming_count_window_state(spark):
    """reference grouped(3) golden, streaming form: 7 events for one key →
    two full windows emitted, 1-element remainder held in state (a stream
    has no halt; the reference's final partial chunk emits only at
    end-of-stream, ADR-0006:15)."""
    d = _micro_batch_dir()

    def make(sdf):
        ev = sdf.select(F.col("ts").cast("long").alias("event_id"), F.lit(1).cast("long").alias("user_id"))
        return streaming_count_window(ev, size=3)

    batches = [
        [(f"e{i}", (i + 1) * 1000) for i in range(4)],  # ids 1..4
        [(f"e{i}", (i + 1) * 1000) for i in range(4, 7)],  # ids 5..7
    ]
    rows, _ = _drive(spark, d, make, batches)
    rows = sorted(rows, key=lambda r: r.window_no)
    assert len(rows) == 2
    assert (rows[0].first_id, rows[0].last_id, rows[0].n) == (1, 3, 3)
    assert (rows[1].first_id, rows[1].last_id, rows[1].n) == (4, 6, 3)


def test_stream_batch_equivalence_tumbling(spark, sf_dir):
    """The streaming tumbling aggregation over the events table (complete
    mode = end-of-stream flush) must equal the batch computation exactly."""
    sdf = streaming_tumbling_window(stream_events(spark, sf_dir), "ts", "1 hour", "0 seconds")
    stream_rows, _ = run_stream_to_memory(sdf, output_mode="complete")
    from simple_stream_processor_spark.queries import q_tumbling_window

    batch_rows = q_tumbling_window(spark, sf_dir)
    got = sorted(tuple(r) for r in stream_rows.collect())
    want = sorted(tuple(r) for r in batch_rows.collect())
    assert got == want


def test_backpressure_rate_limited_drain(spark, sf_dir):
    """BASELINE.md parity: rate-limited source (admission control) drains
    the full table without unbounded state — every trigger processes at
    most the admitted batch, and all rows arrive exactly once."""
    sdf = stream_events(spark, sf_dir, max_files_per_trigger=1).select("event_id")
    out, progress = run_stream_to_memory(sdf, output_mode="append")
    n = out.count()
    from simple_stream_processor_spark.tables import load_table

    assert n == load_table(spark, "events", sf_dir).count()


def test_streaming_query_failure_surfaces_exception(spark, sf_dir):
    """X3 streaming outcome parity (reference Execution.scala:77-82): a
    failing query classifies as Failed with the error retrievable — the
    reference's error-signal-fails-the-query contract (S3)."""
    import pytest
    from pyspark.sql.streaming import StreamingQueryException

    from simple_stream_processor_spark.streaming.runner import _tmpdir, stream_events

    sdf = stream_events(spark, sf_dir).select("event_id")

    def boom(batch_df, batch_id):
        raise RuntimeError("sink boom")

    q = (
        sdf.writeStream.foreachBatch(boom)
        .option("checkpointLocation", _tmpdir("chk"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(StreamingQueryException, match="sink boom"):
        q.awaitTermination(120)
    assert q.exception() is not None and "sink boom" in str(q.exception())
    assert not q.isActive  # terminal state, like Outcome.FAILED


def test_streaming_parquet_sink_exactly_once(spark, sf_dir, tmp_path):
    """File sink with checkpoint: the commit log makes output files
    atomic/exactly-once per batch — re-reading the directory yields exactly
    the input rows (the durable-sink counterpart of the memory sink)."""
    from simple_stream_processor_spark.streaming.runner import _tmpdir, stream_events

    out_dir = str(tmp_path / "out")
    sdf = stream_events(spark, sf_dir).select("event_id", "event_type")
    q = (
        sdf.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", _tmpdir("chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    from simple_stream_processor_spark.tables import load_table

    expected = load_table(spark, "events", sf_dir).count()
    assert spark.read.parquet(out_dir).count() == expected


def test_checkpoint_recovery_exactly_once(spark, sf_dir, tmp_path):
    """Restart-from-checkpoint: run an AvailableNow query over one input
    file, add a second file, restart with the SAME checkpoint — the sink
    must contain every input row exactly once (file A not reprocessed,
    file B picked up). This is the recovery semantic the reference
    explicitly does NOT provide (README.md:77-80 there: no exactly-once);
    Spark's checkpoint + file-sink commit log supplies it."""
    import shutil

    from simple_stream_processor_spark.tables import load_table

    src_dir = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    chk_dir = str(tmp_path / "chk")
    os.makedirs(src_dir)

    ev = load_table(spark, "events", sf_dir).select("event_id", "user_id")
    a = ev.where(F.col("event_id") % 2 == 0)
    b = ev.where(F.col("event_id") % 2 == 1)
    a.write.mode("overwrite").parquet(os.path.join(src_dir, "batch_a"))

    schema = "event_id long, user_id long"

    def run_once():
        sdf = spark.readStream.schema(schema).option("pathGlobFilter", "*.parquet").parquet(
            src_dir + "/*"
        )
        q = (
            sdf.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", chk_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    n_a = spark.read.parquet(out_dir).count()
    assert n_a == a.count()

    b.write.mode("overwrite").parquet(os.path.join(src_dir, "batch_b"))
    run_once()
    out = spark.read.parquet(out_dir)
    assert out.count() == ev.count()  # A exactly once + B exactly once
    assert out.select("event_id").distinct().count() == ev.count()


def test_streaming_funnel_incremental_across_batches(spark, tmp_path):
    """The stateful funnel must give the same answer as the batch walk
    even when a user's stages arrive OUT OF ORDER across micro-batches:
    batch 1 delivers the purchase, batch 2 the earlier view+click. The
    sorted per-stage state makes the walk order-independent."""
    import datetime

    from simple_stream_processor_spark.operators.relational import funnel
    from simple_stream_processor_spark.streaming.funnel import streaming_funnel

    src = str(tmp_path / "src")
    os.makedirs(src)
    rows1 = [(1, 30_000_000, "purchase"), (2, 10_000_000, "view")]
    rows2 = [(1, 10_000_000, "view"), (1, 20_000_000, "click"), (2, 5_000_000, "click")]
    for i, rows in enumerate([rows1, rows2]):
        spark.createDataFrame(
            [(u, datetime.datetime.fromtimestamp(t / 1e6, datetime.timezone.utc).replace(tzinfo=None), s) for u, t, s in rows],
            "user_id long, ts timestamp, event_type string",
        ).coalesce(1).write.parquet(f"{src}/b{i}")
    sdf = (
        spark.readStream.schema("user_id long, ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    out, progress = run_stream_to_memory(
        streaming_funnel(sdf, ["view", "click", "purchase"]), output_mode="update"
    )
    final = {
        r.user_id: (r.t_view, r.t_click, r.t_purchase)
        for r in out.groupBy("user_id")
        .agg(F.max_by(F.struct("t_view", "t_click", "t_purchase"), "n_seen").alias("s"))
        .select("user_id", "s.*")
        .collect()
    }
    # user 1: view@10 < click@20 < purchase@30 completes despite purchase-first arrival
    assert final[1] == (10_000_000, 20_000_000, 30_000_000)
    # user 2: click arrived before view in event time -> funnel breaks at click
    assert final[2] == (10_000_000, None, None)
    # and the stream really ran more than one micro-batch
    assert len([p for p in progress if p.get("numInputRows", 0) > 0]) >= 2
    # agreement with the batch operator on the same data
    all_rows = rows1 + rows2
    bdf = spark.createDataFrame(
        [(u, datetime.datetime.fromtimestamp(t / 1e6, datetime.timezone.utc).replace(tzinfo=None), s) for u, t, s in all_rows],
        "user_id long, ts timestamp, event_type string",
    )
    batch = {
        r.user_id: tuple(
            None if v is None else int(v.timestamp() * 1_000_000)
            for v in (r.t_view, r.t_click, r.t_purchase)
        )
        for r in funnel(bdf, ["view", "click", "purchase"]).collect()
    }
    assert final == batch


def test_run_stream_to_memory_restores_shuffle_partitions(spark, sf_dir):
    """The streaming runner pins shuffle partitions for the state store but
    must RESTORE the caller's value afterwards — leaking the streaming
    setting into subsequent batch queries was a real review finding."""
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "57")
    try:
        sdf = stream_events(spark, sf_dir).select("event_id")
        run_stream_to_memory(sdf, output_mode="append")
        assert spark.conf.get("spark.sql.shuffle.partitions") == "57"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)


def _mem_views(spark) -> set:
    return {t.name for t in spark.catalog.listTables() if t.name.startswith("mem_")}


def test_drain_timeout_raises_and_leaves_no_active_stream(spark, sf_dir):
    """A drain that outlives its timeout must fail loudly, never hand back
    a truncated result, and must not leave its query running or its
    memory-sink view behind."""
    views = _mem_views(spark)
    sdf = stream_events(spark, sf_dir, max_files_per_trigger=1).groupBy("event_type").count()
    with pytest.raises(TimeoutError, match="did not finish"):
        run_stream_to_memory(sdf, output_mode="complete", timeout_s=0.001)
    assert spark.streams.active == []
    assert _mem_views(spark) == views


def test_foreach_batch_drain_timeout_raises_and_stops(spark, sf_dir):
    """The foreachBatch drains (q_streaming_merge_upsert, the live DSIR
    scorer) wait through ``await_drain``: on timeout the query is stopped
    and the caller gets a TimeoutError instead of partial state."""
    from simple_stream_processor_spark.streaming.runner import _tmpdir

    q = (
        stream_events(spark, sf_dir).writeStream.foreachBatch(lambda df, i: None)
        .option("checkpointLocation", _tmpdir("chk"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(TimeoutError):
        await_drain(q, 0.001)
    assert not q.isActive
    assert spark.streams.active == []


def _start_glob_query(spark, root):
    """Start a stateful aggregate over the glob ``root/src/*`` into a memory
    sink on two state partitions, checkpointed at ``root/chk``."""
    sdf = spark.readStream.schema("k string, id long").parquet(os.path.join(root, "src", "*"))
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        return (
            sdf.groupBy("k").count().writeStream.format("memory")
            .queryName("glob_" + uuid.uuid4().hex[:10])
            .outputMode("complete")
            .option("checkpointLocation", os.path.join(root, "chk"))
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)


def _drain_dir_glob(spark, root, n_dirs=40):
    """Write ``n_dirs`` one-file directories under ``root/src``, drain the
    glob query over them and check its result; return the query."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for i in range(n_dirs):
        d = os.path.join(root, "src", f"d{i:02d}")
        os.makedirs(d)
        pq.write_table(pa.table({"k": [f"k{i % 3}"], "id": [i]}), os.path.join(d, "part-0.parquet"))
    q = _start_glob_query(spark, root)
    await_drain(q, 120)
    got = sorted(tuple(r) for r in spark.table(q.name).collect())
    spark.catalog.dropTempView(q.name)
    assert got == [("k0", 14), ("k1", 13), ("k2", 13)]
    return q


def test_glob_over_many_directories_runs_no_listing_job(spark, tmp_path):
    """A source glob over 40 directories (above Spark's default parallel
    listing threshold of 32) is listed on the driver: the query's run
    group holds one job per micro-batch, each with its scan and state
    stages, and no one-stage listing job with a task per directory."""
    q = _drain_dir_glob(spark, str(tmp_path))
    batches = [p for p in q.recentProgress if p.numInputRows > 0]
    assert len(batches) == 1 and batches[0].numInputRows == 40
    st = spark.sparkContext.statusTracker()
    jobs = [st.getJobInfo(j) for j in st.getJobIdsForGroup(str(q.runId))]
    assert [len(j.stageIds) for j in jobs] == [2] * len(batches)


def test_checkpoint_keeps_checksums_after_stateful_commit(spark, tmp_path):
    """The local checkpoint manager still writes every integrity sidecar:
    Hadoop's ``.N.crc`` beside the offset and commit logs, and the state
    store's ``N.delta.crc`` beside each partition's delta; and a damaged
    offset log fails the restart instead of being read."""
    root = str(tmp_path)
    _drain_dir_glob(spark, root)
    chk = os.path.join(root, "chk")
    for log in ("offsets", "commits"):
        assert os.path.isfile(os.path.join(chk, log, "0"))
        assert os.path.isfile(os.path.join(chk, log, ".0.crc"))
    parts = sorted(p for p in os.listdir(os.path.join(chk, "state", "0")) if p.isdigit())
    assert parts == ["0", "1"]
    for p in parts:
        d = os.path.join(chk, "state", "0", p)
        assert os.path.isfile(os.path.join(d, "1.delta"))
        assert os.path.isfile(os.path.join(d, "1.delta.crc"))

    off = os.path.join(chk, "offsets", "0")
    with open(off, "rb") as f:
        body = bytearray(f.read())
    body[-2] ^= 0x01  # same length, different bytes: only the checksum can tell
    with open(off, "wb") as f:
        f.write(body)
    q = _start_glob_query(spark, root)
    try:
        with pytest.raises(Exception, match="(?i)checksum"):
            q.awaitTermination(120)
    finally:
        q.stop()
        spark.catalog.dropTempView(q.name)


def test_boundary_queue_depth_bounded_by_admission(spark):
    """X7 gauge parity: under micro-batch admission control the trigger
    batch IS the boundary queue, so ssp_boundary_queue_depth_max must never
    exceed the admission capacity (maxFilesPerTrigger=1 → the largest
    single file's rows) — the reference harness invariant depth <= capacity
    (BackpressureStressHarness.scala:53). Producer block time maps to
    cumulative trigger drain time and must be observed > 0."""
    d = _micro_batch_dir()

    def make(sdf):
        return sdf.select("value", "ts")

    _, progress = _drive(
        spark,
        d,
        make,
        [
            [("a", 1000), ("b", 2000), ("c", 3000)],  # capacity: largest file = 3 rows
            [("d", 4000), ("e", 5000)],
            [("f", 6000)],
        ],
    )
    snap = metrics.snapshot_from_streaming_progress(progress)
    assert 1 <= snap.values["ssp_boundary_queue_depth_max"] <= 3
    assert snap.values["ssp_boundary_producer_block_ms"] > 0
    assert snap.values["ssp_boundary_queue_depth"] <= snap.values["ssp_boundary_queue_depth_max"]


def test_streaming_watermark_cadence_adr_example(spark):
    """W1 cadence twin, reference ADR worked example
    (docs/adr/event-time-example.md:10-24) with per-N emission across
    micro-batches (reference WatermarkPipe, Node.scala:289-313):
    a@1s,b@3s arrive (N=2 → WM 3s emitted), then c@7s,d@8s (→ WM 8s),
    then late-x@4s — late because 4 < 8, counter +1. The watermark in
    force, the per-N emission points, AND the cadence state must survive
    micro-batch boundaries."""
    import pandas as pd

    from simple_stream_processor_spark.streaming.windows import streaming_watermark_cadence

    d = _micro_batch_dir()

    def write(rows, _spark=spark):
        pdf = pd.DataFrame(rows, columns=["event_id", "ts_ms"])
        df = _spark.createDataFrame(pdf).select(
            F.col("event_id").cast("long"), F.timestamp_millis(F.col("ts_ms").cast("long")).alias("ts")
        )
        df.coalesce(1).write.mode("append").parquet(d)

    write([(1, 1000), (2, 3000)])
    schema = spark.read.parquet(d).schema
    sdf = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    out = streaming_watermark_cadence(sdf, "event_id", "ts", emit_every_n=2)
    name = "t_" + uuid.uuid4().hex[:10]
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(d, "_chk"))
        .start()
    )
    try:
        q.processAllAvailable()
        write([(3, 7000), (4, 8000)])
        q.processAllAvailable()
        write([(5, 4000)])  # late-x
        q.processAllAvailable()
        rows = {r.event_id: (r.wm_ms, r.is_late) for r in spark.table(name).collect()}
    finally:
        q.stop()
    assert rows == {
        1: (None, False),  # initial watermark Long.MinValue -> null
        2: (None, False),
        3: (3000, False),  # WM 3s emitted after the 2nd record
        4: (3000, False),
        5: (8000, True),  # WM 8s in force; 4 < 8 -> dropped, counter +1
    }
    assert sum(1 for wm, late in rows.values() if late) == 1  # ssp_late_event_dropped_total


def test_streaming_restart_from_checkpoint_recovers_offsets_and_state(spark):
    """Fault tolerance at the engine level (the 100 TB operational story —
    a 1000-executor job WILL lose its driver eventually): a stateful
    streaming query stopped and restarted from its checkpoint must
    (a) not reprocess already-committed input (offset log recovery: no
    duplicate output rows), and (b) keep its dedup state across the
    restart (state-store recovery: a key first seen before the stop is
    still a duplicate after it)."""
    d = _micro_batch_dir()
    out_dir = os.path.join(d, "_out")
    chk = os.path.join(d, "_chk")

    def write(rows):
        _write_batch(spark, d, rows, 0)

    def start():
        sdf = (
            spark.readStream.schema(spark.read.parquet(d).schema)
            .option("maxFilesPerTrigger", 1)
            .option("pathGlobFilter", "*.parquet")
            .parquet(d)
        )
        dd = streaming_dedup(sdf.withColumn("k", F.col("value")), ["k"], "ts", "1 minute").select("k", "ts")
        return (
            dd.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", chk)
            .outputMode("append")
            .start()
        )

    write([("k1", 1000), ("k2", 2000)])
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()  # driver goes down

    # input arrives while the query is down: k1 is a dup within the horizon
    write([("k1", 30000), ("k3", 31000)])

    q = start()  # restart from the SAME checkpoint
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = sorted((r.k, r.ts.second) for r in spark.read.parquet(out_dir).collect())
    # exactly once: k1@1s survives (not reprocessed, not re-emitted), the
    # post-restart k1@30s was deduped by RECOVERED state, k3 is new
    assert got == [("k1", 1), ("k2", 2), ("k3", 31)]


def test_streaming_watermark_cadence_per_key(spark):
    """The distributed form: key=... gives each key its own cadence state.
    Two interleaved keys with N=2 must each see their OWN watermark, not a
    global one."""
    import pandas as pd

    from simple_stream_processor_spark.streaming.windows import streaming_watermark_cadence

    d = _micro_batch_dir()
    pdf = pd.DataFrame(
        # key A: ts 1s,5s then late 2s; key B: ts 100s,200s (never late)
        [(1, 1000, 0), (2, 5000, 0), (3, 100000, 1), (4, 200000, 1), (5, 2000, 0)],
        columns=["event_id", "ts_ms", "k"],
    )
    spark.createDataFrame(pdf).select(
        F.col("event_id").cast("long"),
        F.timestamp_millis(F.col("ts_ms").cast("long")).alias("ts"),
        F.col("k").cast("long"),
    ).coalesce(1).write.mode("append").parquet(d)
    sdf = spark.readStream.schema(spark.read.parquet(d).schema).parquet(d)
    out = streaming_watermark_cadence(sdf, "event_id", "ts", emit_every_n=2, key="k")
    rows, _ = run_stream_to_memory(out, output_mode="append")
    got = {r.event_id: (r.wm_ms, r.is_late) for r in rows.collect()}
    assert got[1] == (None, False) and got[2] == (None, False)
    assert got[3] == (None, False) and got[4] == (None, False)  # key B: own cadence, no WM yet
    assert got[5] == (5000, True)  # key A's WM 5s dropped its late 2s record


def test_streaming_dsir_live_scoring_uses_state_in_force(spark, tmp_path):
    """Live-scoring streaming DSIR (dsir_score_stream): a candidate
    micro-batch is scored against the ratio state in force WHEN IT
    ARRIVES — a doc arriving before a target-domain ratio update scores
    per the old state; the identical text arriving after scores per the
    updated state. Pinned two ways: (a) every live per-batch score equals
    a batch replay of the same dsir_tail expressions over that batch's
    actual cumulative prefix counts, exactly; (b) the duplicated text's
    two arrivals produce different scores, and the post-update arrival
    scores HIGHER because the intervening target batch made its vocab
    more target-like."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_stream_processor_spark.queries_llmdata import dsir_tail, dsir_tokens
    from simple_stream_processor_spark.queries_streaming import dsir_score_stream

    feed = str(tmp_path / "dsir_feed")
    os.makedirs(feed)
    # file0: seed target docs + candidate p0 ("cherry durian" vocab unseen
    # in target). file1: target-only update, heavy on cherry/durian.
    # file2: candidate p1 = p0's exact text, post-update.
    batches = [
        [(0, "src0", "apple banana apple"), (100, "src1", "cherry durian")],
        [(1, "src0", "cherry durian cherry durian cherry durian")],
        [(101, "src1", "cherry durian")],
    ]
    for i, rows in enumerate(batches):
        path = os.path.join(feed, f"b{i}.parquet")
        pq.write_table(
            pa.Table.from_pydict(
                {
                    "doc_id": pa.array([r[0] for r in rows], type=pa.int64()),
                    "source": pa.array([r[1] for r in rows], type=pa.string()),
                    "text": pa.array([r[2] for r in rows], type=pa.string()),
                }
            ),
            path,
        )
        os.utime(path, (1_700_000_000 + 100 * i, 1_700_000_000 + 100 * i))

    schema = spark.read.parquet(feed).schema
    seen: list[list[tuple]] = []
    scored = dsir_score_stream(
        spark,
        feed,
        schema,
        on_batch=lambda bid, bdf: seen.append(
            [(r.doc_id, r.source, r.text) for r in bdf.select("doc_id", "source", "text").collect()]
        ),
    )
    live = {(r.doc_id, r.batch_id): r.dsir_score for r in scored.collect()}
    assert len(seen) == 3, f"expected 3 micro-batches, got {len(seen)}"

    # (a) exact equality vs a batch replay over each batch's actual prefix
    for i in range(len(seen)):
        prefix_rows = [r for b in seen[: i + 1] for r in b]
        pdf = spark.createDataFrame(prefix_rows, "doc_id long, source string, text string")
        tok = dsir_tokens(pdf)
        counts = tok.groupBy((F.col("source") == "src0").alias("is_target"), "b").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        batch_ids = [r[0] for r in seen[i] if r[1] != "src0"]
        pool = tok.where(F.col("doc_id").isin(batch_ids)) if batch_ids else tok.limit(0)
        expect = {r.doc_id: r.dsir_score for r in dsir_tail(counts, pool).collect()}
        got = {d: s for (d, b), s in live.items() if b == i}
        assert got == expect, (i, got, expect)

    # (b) same text, different arrival time => different score, per the
    # state in force; the target update moved cherry/durian toward target
    assert (100, 0) in live and (101, 2) in live
    assert live[(101, 2)] != live[(100, 0)]
    assert live[(101, 2)] > live[(100, 0)]
