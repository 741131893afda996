"""Windowing + event-time semantics (SURVEY §2.5, reference ADR-0006/0007).

Re-expressed semantics:

- **Count windows** (reference ``grouped``/``windowByCount``,
  Stream.scala:230-256, Node.scala:276-280): chunk an *ordered* stream into
  fixed-size groups, final partial chunk emitted (ADR-0006). Spark has no
  order without a key, so the operator takes an explicit ordering column:
  ``row_number() over (order by key)`` then ``(rn-1) div size``. The global
  row_number is a single-partition window at the limit — fine for bounded
  control streams; for 100 TB data the idiom is zipWithIndex-style
  per-partition offsets (see ``count_window_scalable``).

- **Tumbling event-time windows** (reference ``windowByEventTime``,
  Node.scala:315-356): assignment ``start = (ts / size) * size``
  (Node.scala:327) is exactly Spark's ``window(ts, size)`` bucketing
  (epoch-aligned). Late-record dropping below the watermark is Spark's
  ``withWatermark`` in streaming; in batch all records are in scope, which
  matches the reference's oracle view (watermark MaxValue flush,
  ADR-0006:18-19).

- **Sliding / session windows**: reference non-goals (ADR-0006:50-53) that
  Spark supplies natively — ``window(ts, size, slide)`` and
  ``session_window(ts, gap)``.

- **Watermark cadence** (reference ``withWatermarks(emitEveryN)``,
  Node.scala:289-313): watermark = max event time seen, emitted every N
  records. Batch emulation: block = (arrival_rank-1) div N; the watermark
  in force for a record is the running max of event time over *completed*
  blocks before its own. A record is late iff ts < that watermark
  (drop policy ADR-0007:13-14).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def count_window(df: DataFrame, order_col: str, size: int) -> DataFrame:
    """Fixed-size count windows over an explicit order (reference
    Node.scala:276-280). Adds ``window_no`` (0-based). Final partial chunk
    kept — parity with ADR-0006:15 / test golden [[1,2,3],[4,5,6],[7]].

    Global row_number = one-partition exchange: acceptable for the bounded
    control-stream shapes this operator exists for; use
    ``count_window_scalable`` when the input is large."""
    if size <= 0:
        raise ValueError(f"size must be > 0, got {size}")  # fail-fast parity, reference Stream.scala:234
    w = Window.orderBy(order_col)
    return df.withColumn("window_no", (F.row_number().over(w) - F.lit(1)).cast("long") / F.lit(size)).withColumn(
        "window_no", F.floor("window_no")
    )


def count_window_scalable(df: DataFrame, order_col: str, size: int) -> DataFrame:
    """Scale-path count windows: when the ordering key is already dense and
    unique (e.g. event_id), window assignment is pure arithmetic — no
    row_number, no single-partition exchange, fully parallel."""
    if size <= 0:
        raise ValueError(f"size must be > 0, got {size}")
    return df.withColumn("window_no", F.floor(F.col(order_col) / F.lit(size)).cast("long"))


def tumbling_window(df: DataFrame, ts_col: str, size: str) -> Column:
    """Tumbling bucket column (reference Node.scala:327 assignment).
    ``F.window`` start/end are epoch-aligned exactly like (ts/size)*size."""
    return F.window(F.col(ts_col), size)


def watermark_cadence(df: DataFrame, order_col: str, ts_col: str, emit_every_n: int) -> DataFrame:
    """Batch emulation of per-N-record watermark emission + late-drop policy
    (reference Node.scala:289-313 and 326-331).

    Adds:
      - ``block``: 0-based index of the N-record arrival block,
      - ``wm_ms``: watermark (epoch ms) in force when the record arrived =
        max event time over all *earlier completed* blocks (initial
        watermark = Long.MinValue → null here, ADR-0007:16),
      - ``is_late``: ts < wm_ms (the reference drops these and bumps
        ssp_late_event_dropped_total).

    Scale path: when the order key is dense unique integers
    (min..min+n-1 — e.g. the ``event_id`` testdata column), the arrival
    rank IS ``order_col - min + 1``, so block assignment is pure
    arithmetic — no global rank, no record-level single-partition
    exchange (the ``count_window_scalable`` trick). Density is probed
    with one scalar aggregate (column-pruned scan; min/max come straight
    from parquet footer stats). Non-dense keys fall back to the bounded
    rank path, which serializes through one task and is only for small
    control streams — the fallback is documented, not silent: plan tests
    pin the declared query to the arithmetic path.

    The per-block running max stays a Window over the *aggregated* block
    table (n/N rows) and is broadcast back — the one intentional
    single-partition step, on a table N× smaller than the input.
    """
    if emit_every_n <= 0:
        raise ValueError(f"emit_every_n must be > 0, got {emit_every_n}")  # parity Node.scala:291
    stats = df.agg(
        F.min(order_col).alias("_mn"),
        F.max(order_col).alias("_mx"),
        F.count(F.lit(1)).alias("_n"),
        F.count_distinct(F.col(order_col)).alias("_nd"),
    ).first()
    dense = (
        stats["_n"] > 0
        and stats["_n"] == stats["_nd"]
        and int(stats["_mx"]) - int(stats["_mn"]) + 1 == stats["_n"]
    )
    if dense:
        ranked = df.withColumn(
            "block",
            F.floor((F.col(order_col) - F.lit(int(stats["_mn"]))) / F.lit(emit_every_n)).cast("long"),
        )
    else:
        rank_w = Window.orderBy(order_col)
        ranked = (
            df.withColumn("_rn", F.row_number().over(rank_w))
            .withColumn("block", F.floor((F.col("_rn") - 1) / F.lit(emit_every_n)).cast("long"))
            .drop("_rn")
        )
    # exact integer epoch-ms (unix_millis), never cast-to-double*1000:
    # the double path truncates (1001 ms -> 1000.999... -> 1000)
    ranked = ranked.withColumn("_ts_ms", F.unix_millis(F.col(ts_col)))
    # Per-block max event time, then running max over strictly-earlier blocks
    # = the watermark in force while a block's records arrive.
    block_max = ranked.groupBy("block").agg(F.max("_ts_ms").alias("_block_max"))
    running = block_max.withColumn(
        "wm_ms", F.max("_block_max").over(Window.orderBy("block").rowsBetween(Window.unboundedPreceding, -1))
    ).select("block", "wm_ms")
    out = ranked.join(F.broadcast(running), "block", "left").withColumn(
        "is_late", F.when(F.col("wm_ms").isNotNull() & (F.col("_ts_ms") < F.col("wm_ms")), F.lit(True)).otherwise(F.lit(False))
    )
    return out


def sweep_concurrency(
    df: DataFrame,
    ts_col: str,
    duration_ms_col: Column,
    id_col: str,
    bucket_s: int = 3600,
) -> DataFrame:
    """Sweep-line interval concurrency: how many intervals
    ``[ts, ts + duration)`` are open at each boundary event — the classic
    concurrent-sessions / open-connections analytic.

    The textbook form is a GLOBAL running sum over +1/-1 boundary events —
    a single-partition window, the exact shape this module's cadence
    rewrite eliminated. Scalable two-level formulation instead:

    1. boundaries bucket by ``floor(t / bucket_s)``;
    2. per-bucket delta sums (one small aggregate) prefix-sum ONCE over the
       bucket table (rows/bucket_size rows — the only single-partition
       step) and broadcast back as each bucket's starting offset;
    3. within a bucket the running sum is a partition-local window.

    Concurrency(row) = bucket_offset + intra-bucket running sum, exact for
    any tie pattern because the order (t, delta, id) is total: at equal t,
    ends (-1) apply before starts (+1) — half-open interval semantics.
    """
    t_ms = F.unix_millis(F.col(ts_col))  # exact ms; double*1000 truncates
    # duration_ms_col must already be integral milliseconds: a double->long
    # cast TRUNCATES in Spark while SQL round() rounds, so callers do the
    # rounding explicitly where the oracle can mirror it exactly
    starts = df.select(t_ms.alias("t_ms"), F.lit(1).alias("delta"), F.col(id_col).alias("iid"))
    ends = df.select(
        (t_ms + duration_ms_col).alias("t_ms"),
        F.lit(-1).alias("delta"),
        F.col(id_col).alias("iid"),
    )
    bounds = starts.unionByName(ends).withColumn("bucket", F.floor(F.col("t_ms") / F.lit(bucket_s * 1000)).cast("long"))
    per_bucket = bounds.groupBy("bucket").agg(F.sum("delta").alias("bucket_sum"))
    offsets = per_bucket.withColumn(
        "offset",
        F.coalesce(
            F.sum("bucket_sum").over(Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    ).select("bucket", "offset")
    intra = Window.partitionBy("bucket").orderBy("t_ms", "delta", "iid").rowsBetween(Window.unboundedPreceding, 0)
    return (
        bounds.join(F.broadcast(offsets), "bucket")
        .withColumn("concurrency", (F.col("offset") + F.sum("delta").over(intra)).cast("long"))
        .select("t_ms", "delta", "iid", "concurrency")
    )


def rolling_zscore(daily: DataFrame, key_col: str = "event_type", day_col: str = "day",
                   cents_col: str = "cents") -> DataFrame:
    """Score each (key, day) value against its trailing 7-day window
    (6 preceding closed rows): z = (x - mean) / stddev_samp, anomaly at
    |z| > 2. Shared by the batch query (q_rolling_zscore) and its
    streaming twin (q_streaming_zscore) so both paths are value-identical
    by construction. Input must be the DAILY pre-aggregate in EXACT
    INTEGER CENTS — double daily sums are partition-order-dependent and
    flip round() at half boundaries between engines; on integers the
    window avg is one exact-sum division, bit-identical everywhere. The
    window stage holds 7 rows of state per key regardless of history."""
    win = Window.partitionBy(key_col).orderBy(day_col).rowsBetween(-6, -1)
    z = (F.col(cents_col) - F.col("mu_c")) / F.col("sigma_c")
    return (
        daily.select(
            key_col,
            F.unix_millis(day_col).alias("day_ms"),
            cents_col,
            F.avg(cents_col).over(win).alias("mu_c"),
            F.stddev_samp(cents_col).over(win).alias("sigma_c"),
            F.count(F.lit(1)).over(win).alias("n_prior"),
        )
        .where((F.col("n_prior") >= 3) & (F.col("sigma_c") > 1e-9))
        .select(
            key_col,
            "day_ms",
            # round in the CENTS domain, then divide: avg-of-integers halves
            # (sum/4, sum/6) are binary-exact, so both engines round the
            # same value; rounding AFTER /100 hits the Spark-BigDecimal vs
            # DuckDB-binary half divergence
            (F.col(cents_col) / 100.0).alias("revenue"),
            (F.round(F.col("mu_c"), 0) / 100.0).alias("mu"),
            "n_prior",
            F.round(z, 3).alias("zscore"),
            F.when(F.abs(z) > 2.0, F.lit(1)).otherwise(F.lit(0)).alias("is_anomaly"),
        )
    )
