"""Open-loop streaming workload.

A generator thread writes one parquet file of ``EVENTS_PER_FILE`` events
every ``PERIOD_S`` seconds into a watched directory, whether or not the
pipeline keeps up.  Each file carries fixed shares of duplicate,
out-of-order and late events, and every event of file ``k`` is *due* at
``t0 + k * PERIOD_S``.  The pipeline is the package's own
``stream_events`` -> ``streaming_dedup`` -> a ``foreachBatch`` sink on the
default trigger; latency runs from a file's due time to the commit of the
micro-batch that carried it.  The watched directory keeps the newest
``RETAIN_FILES`` files: older ones are removed once committed, so the source
lists the same number of directories on every trigger.  Without that the
listing, and with it every trigger, grows with the run's age, and latency
climbed from 0.7 s to 1.9 s over a 60 s run (4 vCPUs), so a window's median
said more about when it was taken than about the code.  The loop runs
``WARMUP_S`` seconds before the measured window opens, so the window sees a
warmer JVM, dedup state at its steady size and the listing at its retained
size; every file is checked, warm-up included.

The inputs are chosen so the expected output is exact whatever the batch
boundaries are: ``SEED_FILES`` untimed seed files, each committed in its own
micro-batch, set the watermark before the window opens (Spark filters late
rows against the previous batch's watermark, so it takes two batches);
out-of-order events lag by less than the watermark delay; duplicates repeat
an event from at most ``DUP_LOOKBACK`` files back, inside the dedup horizon;
and late events, in every file after the seed files, are an hour old, so
they are always dropped.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import stats

EVENTS_PER_FILE = 2000
PERIOD_S = 0.25  # 8 000 events/s
DUP_SHARE, OOO_SHARE, LATE_SHARE = 0.05, 0.10, 0.01
OOO_MAX_S = 2.0
LATE_S = 3600.0
DELAY = "5 seconds"
WARMUP_S = 10.0  # open-loop seconds before the window: JIT, dedup state and the listing reach steady state
DUP_LOOKBACK = 3
SEED_FILES = 2
RETAIN_FILES = 40  # the watched directory keeps the newest 40 files (10 s of input)
NOMINAL_T0 = 1_704_067_200.0  # 2024-01-01T00:00:00Z
_TYPES = np.array(["click", "error", "purchase", "signup", "view"], dtype=object)

N_DUP = int(EVENTS_PER_FILE * DUP_SHARE)
N_FRESH = EVENTS_PER_FILE - N_DUP
N_LATE = int(N_FRESH * LATE_SHARE)
N_OOO = int(N_FRESH * OOO_SHARE)


def plan_files(rng, n_files: int):
    """Per file: fresh event ids (``k * N_FRESH + j``), the offsets (seconds
    before due) of their event times, and the fresh ids it repeats.  Late
    fresh events are the first ``N_LATE`` of each window file; the first
    ``SEED_FILES`` files are the seed files, written before the window."""
    files = []
    for k in range(n_files):
        ids = k * N_FRESH + np.arange(N_FRESH, dtype=np.int64)
        lag = np.zeros(N_FRESH)
        if k >= SEED_FILES:
            lag[:N_LATE] = LATE_S
        ooo = N_LATE + rng.choice(N_FRESH - N_LATE, N_OOO, replace=False)
        lag[ooo] = rng.uniform(0.0, OOO_MAX_S, N_OOO)
        lo = max(0, k - DUP_LOOKBACK)
        pool = np.arange(lo * N_FRESH, (k + 1) * N_FRESH, dtype=np.int64)
        pool = pool[(pool % N_FRESH) >= N_LATE]  # never repeat a late event
        dups = rng.choice(pool, N_DUP, replace=False)
        files.append({"ids": ids, "lag": lag, "dups": dups})
    return files


def expected_ids(files) -> np.ndarray:
    return np.concatenate([f["ids"][N_LATE if k >= SEED_FILES else 0 :] for k, f in enumerate(files)])


def _table(files, k: int) -> pa.Table:
    """File ``k``'s rows.  Event time is the file's nominal due time (file 0
    at 2024-01-01T00:00Z, then one ``PERIOD_S`` per file) minus the planned
    lag, as naive UTC microseconds, so a seed always gives the same bytes;
    a duplicate repeats its original row exactly."""
    f = files[k]
    ids = np.concatenate([f["ids"], f["dups"]])
    src = ids // N_FRESH
    lag = np.array([files[s]["lag"][i % N_FRESH] for s, i in zip(src, ids)])
    ts_us = np.round((NOMINAL_T0 + src * PERIOD_S - lag) * 1e6).astype("int64")
    # user/type/value derive from the id, so a duplicate is an exact copy
    user = (ids * 2654435761) % 5000
    return pa.table(
        {
            "event_id": pa.array(ids, type=pa.int64()),
            "ts": pa.array(ts_us, type=pa.int64()).cast(pa.timestamp("us")),
            "user_id": pa.array(user, type=pa.int64()),
            "event_type": pa.array(_TYPES[ids % len(_TYPES)].tolist(), type=pa.string()),
            "value": pa.array(np.round((ids % 10007) / 100.0, 2)),
            "props": pa.array([f'{{"k": {i % 100}}}' for i in ids], type=pa.string()),
        }
    )


class Generator:
    """Writes window file ``k`` at ``t0 + k * PERIOD_S``; records the
    actual publish time, so lateness can be reported and the backlog seen by
    each trigger reconstructed.

    After each publish it removes the oldest files that are both
    ``RETAIN_FILES`` files behind the newest and committed at the sink
    (``committed``: a set of file indices), as a retention policy on a
    landing directory would; a file the stream has not yet committed is
    never removed."""

    def __init__(self, root: str, files, t0: float, committed: set) -> None:
        self.staging = os.path.join(root, "staging")
        self.inbox = os.path.join(root, "in")
        os.makedirs(self.staging, exist_ok=True)
        os.makedirs(self.inbox, exist_ok=True)
        self.files = files
        self.t0 = t0
        # prebuild every table so the thread only writes
        self.tables = [_table(files, k) for k in range(len(files))]
        self.published: dict[int, float] = {}
        self.committed = committed
        self.removed = 0  # files 0 .. removed-1 are gone from the listing
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def due(self, k: int) -> float:
        return self.t0 + k * PERIOD_S

    def publish(self, k: int) -> None:
        d = os.path.join(self.staging, f"b{k:06d}")
        os.makedirs(d)
        pq.write_table(self.tables[k], os.path.join(d, "events.parquet"))
        # the rename makes the whole file visible to a listing at once
        os.rename(d, os.path.join(self.inbox, f"b{k:06d}"))
        self.published[k] = time.time()
        while self.removed <= k - RETAIN_FILES and self.removed in self.committed:
            shutil.rmtree(os.path.join(self.inbox, f"b{self.removed:06d}"))
            self.removed += 1

    def _run(self) -> None:
        for k in range(SEED_FILES, len(self.files)):
            wait = self.due(k) - time.time()
            if wait > 0 and self._stop.wait(wait):
                return
            self.publish(k)

    def start(self) -> None:
        self._thread = threading.Thread(target=self._run, name="perfbench-generator", daemon=True)
        self._thread.start()

    def join(self) -> None:
        if self._thread is not None:
            self._thread.join()

    def stop(self) -> None:
        self._stop.set()
        self.join()

    def lateness_s(self) -> list[float]:
        return [t - self.due(k) for k, t in self.published.items() if k >= SEED_FILES]


class Sink:
    """foreachBatch sink: collects the batch's event ids and stamps the
    commit time once they are on the driver.  ``files`` holds the index of
    every file whose marker event (its first fresh event that is never
    late, id ``k * N_FRESH + N_LATE``) has reached the sink."""

    def __init__(self) -> None:
        self.batches: list[tuple[int, float, np.ndarray]] = []
        self.files: set[int] = set()

    def __call__(self, df, batch_id: int) -> None:
        ids = df.select("event_id").toPandas()["event_id"].to_numpy()
        self.batches.append((batch_id, time.time(), ids))
        self.files.update(int(i) // N_FRESH for i in ids[ids % N_FRESH == N_LATE])


def run_window(ctx, root: str, rng, seconds: float) -> dict:
    """One open-loop window on a fresh directory and a fresh query."""
    from simple_stream_processor_spark import metrics
    from simple_stream_processor_spark.streaming import dedup, runner

    spark = ctx.spark
    first = SEED_FILES + int(round(WARMUP_S / PERIOD_S))  # first window file
    n_files = first + int(round(seconds / PERIOD_S))
    files = plan_files(rng, n_files)
    root = os.path.join(root, uuid.uuid4().hex[:12])
    sink = Sink()
    gen = Generator(root, files, time.time(), sink.files)
    chk = os.path.join(root, "chk")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    out: dict = {}
    query = None
    try:
        gen.publish(0)
        t_build = time.time()
        sdf = runner.stream_events(spark, os.path.join(gen.inbox, "*"))
        sdf = dedup.streaming_dedup(sdf, ["event_id"], "ts", DELAY)
        query = sdf.writeStream.foreachBatch(sink).option("checkpointLocation", chk).start()
        t_start = time.time()
        for k in range(SEED_FILES):  # each seed file in its own micro-batch
            if k:
                gen.publish(k)
            while len(sink.batches) <= k:
                if not query.isActive:
                    raise RuntimeError(f"stream stopped during set-up: {query.exception()}")
                time.sleep(0.005)
            if k == 0:  # set-up: query start to first committed trigger
                out["first_trigger_s"] = sink.batches[0][1] - t_start
        # the open loop: file k is due at t0 + k * PERIOD_S, from now on
        gen.t0 = time.time() - SEED_FILES * PERIOD_S
        ticks = stats.cpu_ticks()
        gen.start()
        gen.join()
        out["cpu"] = stats.cpu_shares(ticks, stats.cpu_ticks())
        window_end = gen.due(n_files - 1) + PERIOD_S
        query.processAllAvailable()
        out["drained_at"] = time.time()
        progress = [p.asDict() if hasattr(p, "asDict") else p for p in query.recentProgress]
    finally:
        gen.stop()
        if query is not None:
            query.stop()
    window_start = gen.due(first)
    snap = metrics.snapshot_from_streaming_progress(progress).values

    # correctness: exactly the expected event set, each event once, and the
    # metric snapshot's late-drop count equal to the late events generated
    got = np.concatenate([b[2] for b in sink.batches]) if sink.batches else np.array([], dtype=np.int64)
    want = expected_ids(files)
    uniq = np.unique(got)
    out["sink_rows"] = int(len(got))
    out["duplicates_emitted"] = int(len(got) - len(uniq))
    out["missing"] = int(len(np.setdiff1d(want, uniq)))
    out["unexpected"] = int(len(np.setdiff1d(uniq, want)))
    out["late_generated"] = N_LATE * (n_files - SEED_FILES)
    out["late_dropped_metric"] = int(snap["ssp_late_event_dropped_total"])
    out["mismatches"] = int(out["duplicates_emitted"] > 0) + int(out["missing"] > 0) + int(out["unexpected"] > 0)
    out["mismatches"] += int(out["late_dropped_metric"] != out["late_generated"])

    # latency per window file, from its due time to its batch's commit
    commit_of_file = {}
    for _, t, ids in sink.batches:
        for i in ids[ids % N_FRESH == N_LATE]:  # one marker id per file
            commit_of_file[int(i) // N_FRESH] = t
    out["latency_s"] = stats.file_latencies({k: gen.due(k) for k in range(first, n_files)}, commit_of_file)
    out["files"] = n_files - SEED_FILES
    out["files_uncommitted"] = sum(1 for k in range(SEED_FILES, n_files) if k not in commit_of_file)
    # sink rate: events of the batches committed inside the window, after
    # its first commit, over the time from that first commit to the last
    inside = [(t, len(ids)) for _, t, ids in sink.batches if window_start <= t <= window_end]
    out["events_per_s"] = sum(n for _, n in inside[1:]) / (inside[-1][0] - inside[0][0])
    out["build"] = (t_build, t_start)
    out["progress"] = progress
    out["published"] = dict(gen.published)
    out["gen_late_s"] = gen.lateness_s()
    out["files_removed"] = gen.removed
    shutil.rmtree(root, ignore_errors=True)
    return out
