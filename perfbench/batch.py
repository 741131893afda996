"""Closed-loop batch workloads: one client runs a fixed mix of declared
queries in whole passes, each pass in a seeded order."""

from __future__ import annotations

import os
import time


def is_twin(name: str) -> bool:
    return name.startswith("q_stream")


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Oracle:
    """The DuckDB oracle of each declared query, over the same fixture
    files, compared as the oracle gate (``tools/check_oracles.py``) does."""

    def __init__(self, sf_dir: str, tables) -> None:
        import duckdb
        from tools.check_oracles import normalize

        self.normalize = normalize

        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t)}.parquet')")

    def check(self, sql: str | None, pdf) -> str | None:
        """None when ``pdf`` matches the oracle, else the reason."""
        for c in pdf.columns:  # the gate's array-column check
            if pdf[c].map(lambda v: isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray").any():
                return f"array-typed output column {c}"
        if sql is None:
            return "no oracle"
        scols, srows = self.normalize(pdf)
        ocols, orows = self.normalize(self.con.execute(sql).df())
        if scols != ocols:
            return f"columns {scols} != {ocols}"
        if len(srows) != len(orows):
            return f"rows {len(srows)} != {len(orows)}"
        if srows != orows:
            return "values differ"
        return None

    def close(self) -> None:
        self.con.close()


class BatchRunner:
    """Runs operations ``(query, fixture label)`` on the context's session."""

    def __init__(self, ctx) -> None:
        self.ctx = ctx

    def correctness_pass(self, order, oracle_sql: dict, oracles: dict):
        """One untimed pass that also checks every query against its oracle
        (``oracles``: fixture label -> Oracle).  Returns (Spark seconds,
        {query: why} for every failure or mismatch)."""
        from simple_stream_processor_spark.registry import QUERIES, release_scoped_caches

        spark = self.ctx.spark
        spark_s = 0.0
        bad: dict[str, str] = {}
        for name, label in order:
            t0 = time.perf_counter()
            try:
                release_scoped_caches()
                pdf = QUERIES[name](spark, self.ctx.sf_dirs[label]).toPandas()
            except Exception as exc:  # counted, never fatal
                bad[name] = f"{type(exc).__name__}: {exc}"[:300]
                continue
            finally:
                spark_s += time.perf_counter() - t0
            why = oracles[label].check(oracle_sql.get(name), pdf)
            if why is not None:
                bad[name] = why
        release_scoped_caches()
        return spark_s, bad

    def run_op(self, name: str, label: str, tracer=None) -> dict:
        """One operation: release the previous scoped caches, build the
        query, run its action (noop write, or count for a streaming twin)."""
        from simple_stream_processor_spark import registry

        spark = self.ctx.spark
        sf_dir = self.ctx.sf_dirs[label]
        op = {"name": name, "start": time.time(), "ok": True, "build_end": None}
        t0 = time.perf_counter()
        try:
            if tracer is None:
                registry.release_scoped_caches()
                df = registry.QUERIES[name](spark, sf_dir)
                op["build_end"] = time.time()
                df.count() if is_twin(name) else _noop_write(df)
            else:
                with tracer.span(name, "op"):
                    op["released"] = registry.release_scoped_caches()
                    with tracer.span("build", "queries"):
                        df = registry.QUERIES[name](spark, sf_dir)
                    op["build_end"] = time.time()
                    with tracer.span("action", "queries"):
                        df.count() if is_twin(name) else _noop_write(df)
        except Exception as exc:
            op["ok"] = False
            op["error"] = f"{type(exc).__name__}: {exc}"[:300]
        op["latency_s"] = time.perf_counter() - t0
        op["end"] = time.time()
        return op

    def window(self, passes, tracer=None, leak_probe=None):
        """Run the given passes (each a list of operations) back to back.
        Returns (ops, wall seconds of each pass, leak counts after each
        pass); the leak
        probe runs outside the wall."""
        from simple_stream_processor_spark.registry import release_scoped_caches

        ops, walls, leaks = [], [], []
        for order in passes:
            t0 = time.perf_counter()
            for name, label in order:
                ops.append(self.run_op(name, label, tracer))
            walls.append(time.perf_counter() - t0)
            if leak_probe is not None:
                leaks.append(leak_probe())
        # the last operation's scoped caches, released outside the wall
        ops[-1]["released_after"] = release_scoped_caches()
        return ops, walls, leaks
