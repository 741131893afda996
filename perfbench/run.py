"""The repository's benchmark (described by BENCHMARK.json at the root).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  It reads the package's own test data
(``fixtures.py``) and writes only under ``.perfbench_work/`` in the
checkout (Spark scratch, the stream's watched directory, event logs, trace
records).  The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics.  The line
before it (``perfbench-detail {...}``) holds the environment record, the
failed share, the tail percentile and the raw counts behind every metric.
See perfbench/README.md for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import resource
import shlex
import shutil
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)

import stats  # noqa: E402

WORKLOADS = {
    "batch-closedloop": {
        "kind": "batch",
        # (query, fixture): executor-bound queries at sf0.1, then
        # coordination-bound iterative queries and streaming twins at sf0.01
        "queries": [
            ("q_tpch_q1", "sf0.1"), ("q_tpch_q21", "sf0.1"), ("q_tfidf_topterms", "sf0.1"),
            ("q_multimodal_decode", "sf0.1"), ("q_minhash_dedup", "sf0.1"),
            ("q_session_window", "sf0.1"), ("q_cosine_topk", "sf0.1"),
            ("q_label_propagation", "sf0.01"), ("q_link_prediction", "sf0.01"), ("q_set_similarity_join", "sf0.01"),
            ("q_streaming_dedup", "sf0.01"), ("q_streaming_tumbling", "sf0.01"),
            ("q_streaming_session", "sf0.01"), ("q_streaming_macd", "sf0.01"),
        ],
        "pass_s": 17.0,  # --seconds per timed pass (a pass takes ~17 s on 4 cores)
    },
    "stream-openloop": {"kind": "stream", "queries": []},
}
# end-to-end metrics (--trace 0); the per-layer ones are in layers.py
UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "heap_live_mb": "MB",
}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _check_checkout() -> None:
    for rel in ("simple_stream_processor_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            raise SystemExit(f"perfbench: {rel} not found under {ROOT}; run from the root of a full checkout")


def _prepare_env(run_id: str, trace: bool) -> str:
    """Process environment for the package and the JVM it launches.  Must
    run before pyspark or the package is imported."""
    cores = str(_cores())
    tmp = os.path.join(WORK, "tmp", run_id)  # removed when the run ends
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": cores,
            "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
            "TMPDIR": tmp,
            # executors' Python workers import the package from the checkout
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        }
    )
    os.environ.pop("OMP_NUM_THREADS", None)
    args = [
        "--driver-java-options", f"-Djava.io.tmpdir={tmp}",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    log_dir = os.path.join(WORK, "eventlog", run_id)
    if trace:
        os.makedirs(log_dir, exist_ok=True)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args) + " pyspark-shell"
    return log_dir


class Context:
    """The live session plus what the run learns about its process."""

    def __init__(self, sf_dirs: dict, tracer=None) -> None:
        self.sf_dirs = sf_dirs  # fixture label -> directory
        self.tracer = tracer  # set only for a traced run
        self.spark = None
        self.setup_s = None
        self.gateway = None

    def start(self) -> None:
        """The session set-up: launch the JVM and the session, then resolve
        every fixture table's scan once."""
        from pyspark import SparkContext
        from simple_stream_processor_spark import session, tables

        t0 = time.perf_counter()
        self.spark = session.get_spark("perfbench")
        for sf_dir in self.sf_dirs.values():
            for t in tables.TABLES:
                tables.load_table(self.spark, t, sf_dir)
        self.setup_s = time.perf_counter() - t0
        self.gateway = SparkContext._gateway

    def peak_rss_mb(self) -> float:
        """Driver JVM high-water RSS plus this Python process's."""
        jvm_kb = 0
        with open(f"/proc/{self.gateway.proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024.0

    def live_heap_mb(self) -> float:
        """Driver JVM heap in use after a full GC, with every cached RDD
        unpersisted first: what the run retains beyond the block cache
        (memory-sink tables, listener and plan state).  Which RDDs the
        package leaks depends on the query order, so cached blocks are
        counted by ``leak.persistent_rdds`` instead."""
        self.spark.catalog.clearCache()
        for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)
        # Python-side cycles can still hold py4j references that pin JVM
        # objects; collecting them first makes the JVM reading repeatable
        gc.collect()
        jvm = self.spark.sparkContext._jvm
        bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        used = []
        for _ in range(4):  # later collections free what earlier ones queued for cleanup
            jvm.java.lang.System.gc()
            time.sleep(0.5)
            used.append(bean.getHeapMemoryUsage().getUsed() / (1024.0 * 1024.0))
        self.heap_after_gc_mb = used
        return min(used)

    def env_record(self) -> dict:
        import platform

        import pyspark

        jvm = self.spark.sparkContext._jvm
        return {
            "nproc": _cores(),
            "loadavg": list(os.getloadavg()),
            "pyspark": pyspark.__version__,
            "java": str(jvm.java.lang.System.getProperty("java.version")),
            "python": platform.python_version(),
        }

    def stop(self) -> None:
        """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if self.gateway is None:
            return
        proc = self.gateway.proc
        workers = _children(proc.pid) if proc is not None else []
        try:
            self.gateway.shutdown()
        except Exception:
            pass
        if proc is not None:
            try:
                proc.stdin.close()  # the gateway server exits on stdin EOF
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        # the JVM's Python worker daemons exit on their own once it is gone
        deadline = time.time() + 30
        while any(os.path.exists(f"/proc/{pid}") for pid in workers) and time.time() < deadline:
            time.sleep(0.05)
        self.gateway = None


def _children(pid: int) -> list[int]:
    """Process ids whose parent is ``pid``."""
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(entry))
            except (OSError, IndexError, ValueError):
                pass
    return out


def _chk_root() -> str:
    # where the package's memory-sink drains put their checkpoints
    return os.path.join(ROOT, ".tmp", "chk")


def _list_chk() -> set:
    d = _chk_root()
    return set(os.listdir(d)) if os.path.isdir(d) else set()


def _leak_probe(ctx, chk_before: set):
    def probe() -> dict:
        spark = ctx.spark
        return {
            "leak.active_streams": len(spark.streams.active),
            "leak.mem_views": sum(1 for t in spark.catalog.listTables() if t.name.startswith("mem_")),
            "leak.chk_dirs": len(_list_chk() - chk_before),
            "leak.persistent_rdds": int(spark.sparkContext._jsc.getPersistentRDDs().size()),
        }

    return probe


def _latency_metrics(lat_s: list[float]) -> tuple[dict, dict]:
    """The median as a metric; the tail (highest percentile with at least ten
    samples beyond it) only in the detail line, since a batch run has too few
    samples for a tail above its median."""
    value, pct, beyond = stats.tail(lat_s)
    detail = {"latency_tail_ms": value * 1000.0, "tail_percentile": pct, "tail_samples_beyond": beyond, "latency_samples": len(lat_s)}
    return {"latency_p50_ms": stats.median(lat_s) * 1000.0}, detail


# ------------------------------------------------------------------ batch


def run_batch(ctx, wl, rng, seconds, trace):
    import __spark_entry__
    from batch import BatchRunner, Oracle
    from simple_stream_processor_spark.tables import TABLES

    mix = wl["queries"]

    def shuffled():
        order = list(mix)
        rng.shuffle(order)
        return order

    chk_before = _list_chk()
    runner = BatchRunner(ctx)
    oracles = {label: Oracle(d, TABLES) for label, d in ctx.sf_dirs.items()}
    warm_s, bad = runner.correctness_pass(shuffled(), __spark_entry__.oracle_sql(), oracles)
    for o in oracles.values():
        o.close()
    probe = _leak_probe(ctx, chk_before)
    # a traced run measures three windows (untraced, traced, untraced), so
    # each gets a third of the time
    passes = [shuffled() for _ in range(max(1, round(seconds / (3 if trace else 1) / wl["pass_s"])))]
    ticks = stats.cpu_ticks()
    ops, walls, leaks = runner.window(passes, leak_probe=probe)
    cpu = stats.cpu_shares(ticks, stats.cpu_ticks())
    wall = sum(walls)
    raw = {"ops": ops}
    timed = list(ops)
    if trace:
        # the same passes again with spans on, then once more without: the
        # overhead compares the traced window with the mean of the untraced
        # windows on either side of it, so JIT warm-up cancels to first order
        ctx.tracer.install(ctx.spark)
        t_ops, _, t_leaks = runner.window(passes, tracer=ctx.tracer, leak_probe=probe)
        ctx.tracer.uninstall()
        u_ops, _, _ = runner.window(passes)
        raw["traced"] = {"ops": t_ops, "leaks": t_leaks, "untraced_after": u_ops}
        timed += t_ops + u_ops
    for name in _list_chk() - chk_before:
        shutil.rmtree(os.path.join(_chk_root(), name), ignore_errors=True)

    attempted = len(timed) + len(mix)
    failed = len(bad) + sum(not o["ok"] for o in timed)
    e2e, detail = _latency_metrics([o["latency_s"] for o in ops])
    e2e["throughput_per_s"] = len(ops) / wall
    e2e["setup_s"] = ctx.setup_s + warm_s
    detail.update(
        {
            "warmup_pass_s": warm_s,
            "oracle_mismatches": bad,
            "passes": len(passes),
            "cpu": cpu,
            "pass_walls_s": walls,
            "ops_failed": [f"{o['name']}: {o['error']}" for o in timed if not o["ok"]],
            "latency_ms": {f"{n}@{label}": [round(o["latency_s"] * 1000.0, 1) for o in ops if o["name"] == n] for n, label in mix},
            "leaks_after_each_pass": leaks,
        }
    )
    return e2e, detail, attempted, failed, raw


# ----------------------------------------------------------------- stream


def run_stream(ctx, rng, seconds, trace):
    import numpy as np
    import openloop

    root = os.path.join(WORK, "stream")
    rng = np.random.default_rng(rng.getrandbits(63))
    chk_before = _list_chk()
    if trace:
        seconds /= 3  # three windows, as in run_batch
    runs = [openloop.run_window(ctx, root, rng, seconds)]
    raw = {"runs": runs}
    if trace:  # untraced, traced, untraced: see run_batch
        ctx.tracer.install(ctx.spark)
        runs.append(openloop.run_window(ctx, root, rng, seconds))
        ctx.tracer.uninstall()
        runs.append(openloop.run_window(ctx, root, rng, seconds))
        raw["leaks"] = _leak_probe(ctx, chk_before)()
    base = runs[0]
    # the generator kept its schedule if no file was published a whole period
    # after it was due; latency counts from the due time either way, so a
    # late generator does not flatter the numbers, and this is only recorded
    valid = all(max(r["gen_late_s"], default=0.0) < openloop.PERIOD_S for r in runs)
    attempted = sum(r["files"] + 1 for r in runs)
    failed = sum(r["files_uncommitted"] + r["mismatches"] for r in runs)
    e2e, detail = _latency_metrics(base["latency_s"])
    e2e["throughput_per_s"] = base["events_per_s"]
    e2e["setup_s"] = ctx.setup_s + base["first_trigger_s"]
    for k in ("first_trigger_s", "files", "files_uncommitted", "files_removed", "cpu", "sink_rows", "duplicates_emitted", "missing", "unexpected", "late_generated", "late_dropped_metric"):
        detail[k] = base[k]
    detail["triggers"] = len(base["progress"])
    detail["gen_late_ms_max"] = 1000.0 * max(base["gen_late_s"], default=0.0)
    detail["generator_on_schedule"] = valid
    return e2e, detail, attempted, failed, raw


# ------------------------------------------------------------------- main


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    _check_checkout()
    if args.workload == "all":
        return run_all(args)
    wl = WORKLOADS[args.workload]
    trace = bool(args.trace)
    run_id = f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
    log_dir = _prepare_env(run_id, trace)

    sys.path.insert(0, ROOT)
    import fixtures

    sf_dirs = {label: fixtures.checked_dir(label) for label in sorted({label for _, label in wl["queries"]})}
    import __spark_entry__

    __spark_entry__.queries()  # import (register) every query module
    tracer = None
    if trace:
        from tracer import Tracer

        tracer = Tracer()
    ctx = Context(sf_dirs, tracer)
    rng = random.Random(args.seed)
    try:
        if tracer is not None:
            tracer.install()
        ctx.start()
        if tracer is not None:
            tracer.uninstall()
        env = ctx.env_record()
        if wl["kind"] == "batch":
            e2e, detail, attempted, failed, raw = run_batch(ctx, wl, rng, args.seconds, trace)
        else:
            e2e, detail, attempted, failed, raw = run_stream(ctx, rng, args.seconds, trace)
        peak_rss = ctx.peak_rss_mb()
        e2e["heap_live_mb"] = ctx.live_heap_mb()
    finally:
        ctx.stop()
        shutil.rmtree(os.path.join(WORK, "tmp", run_id), ignore_errors=True)

    detail.update(
        {
            "workload": args.workload,
            "seed": args.seed,
            "env": env,
            "fixtures": sf_dirs,
            "session_setup_s": ctx.setup_s,
            "peak_rss_mb": peak_rss,
            "heap_after_each_gc_mb": ctx.heap_after_gc_mb,
            "attempted": attempted,
            "failed": failed,
            "failed_share": failed / attempted,
            "end_to_end": e2e,
        }
    )
    if trace:
        import layers

        per_layer, records = layers.collect(wl["kind"], raw, tracer, log_dir, _cores())
        shutil.rmtree(log_dir, ignore_errors=True)
        for span, self_s in zip(tracer.spans, stats.self_times(tracer.spans)):
            span["self_s"] = self_s
        out_path = os.path.join(WORK, "trace", f"{run_id}.json")
        os.makedirs(os.path.dirname(out_path), exist_ok=True)
        with open(out_path, "w") as f:
            json.dump({"detail": detail, "per_layer": per_layer, "operations": records, "spans": tracer.spans}, f, indent=1, default=str)
        detail["trace_file"] = os.path.relpath(out_path, ROOT)
        metrics = {k: {"value": v, "unit": layers.UNITS[k]} for k, v in per_layer.items()}
    else:
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
    print("perfbench-detail " + json.dumps(detail, default=str), flush=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}), flush=True)
    return 0


def run_all(args) -> int:
    """Every workload in turn, each in its own process; prints one line per
    workload with its result and returns non-zero if any run failed."""
    import subprocess

    status = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print(f"{name} {lines[-1] if proc.returncode == 0 and lines else 'FAILED'}", flush=True)
        status = status or proc.returncode
    return status


if __name__ == "__main__":
    sys.exit(main())  # an uncaught error exits non-zero without a result line
