"""Relational extension queries beyond SURVEY §2.8 N1-N13: as-of join,
bucketized range join, rollup/cube grouping, pivot. These are the analytic
surfaces a complete engine needs that neither the reference (SURVEY §2.7 —
explicitly absent) nor plain TPC-H shapes cover; each maps to the idiomatic
Spark primitive with the 100 TB shuffle story in the operator docstring
(operators/relational.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simple_stream_processor_spark import storage
from simple_stream_processor_spark.operators import relational, windows
from simple_stream_processor_spark.registry import query, scoped_persist
from simple_stream_processor_spark.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, name, sf_dir)


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@query(
    "q_asof_join",
    oracle="""
    WITH v AS (
      SELECT user_id, ts, max(value) AS view_value
      FROM events WHERE event_type = 'view' GROUP BY 1, 2
    ),
    p AS (
      SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id,
           epoch_ms(p.ts) AS ts_ms,
           round(p.value, 2) AS purchase_value,
           round(v.view_value, 2) AS last_view_value
    FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event picks up the value of the user's most
    recent view event at-or-before it (NULL when none). Spark has no ASOF
    join operator; operators/relational.py:asof_join re-expresses it as
    union + one keyed window carry-forward — one shuffle, no range-join
    blowup. Right side is pre-aggregated per (user, ts) for determinism."""
    ev = _t(spark, sf_dir, "events")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("view_value"))
    )
    p = ev.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts", "value")
    joined = relational.asof_join(p, v, on="user_id", ts="ts", value_col="view_value", out_col="last_view_value")
    return joined.select(
        "event_id",
        "user_id",
        F.expr("unix_micros(ts) div 1000").alias("ts_ms"),
        F.round(F.col("value"), 2).alias("purchase_value"),
        F.round(F.col("last_view_value"), 2).alias("last_view_value"),
    )


@query(
    "q_range_join",
    oracle="""
    SELECT c.event_id, count(p.event_id) AS n_follow
    FROM events c
    LEFT JOIN events p
      ON p.user_id = c.user_id AND p.event_type = 'purchase'
     AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
    WHERE c.event_type = 'click'
    GROUP BY c.event_id
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: purchases following each click within 10
    minutes, same user. The oracle is the naive inequality join; the Spark
    plan is the bucketized equi-join from
    operators/relational.py:range_join_bucketed — linear shuffle, no
    per-key quadratic probe."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event_id"), "user_id", "ts"
    )
    j = relational.range_join_bucketed(clicks, purchases, on="user_id", ts="ts", range_s=600)
    return j.groupBy(F.col("l.event_id").alias("event_id")).agg(F.count(F.col("r.p_event_id")).alias("n_follow"))


@query(
    "q_rollup",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping (hierarchical subtotals + grand total). Physically
    Spark expands the grouping sets BEFORE the exchange, so partial
    aggregation still combines map-side — the shuffle carries
    #keys x #levels rows, not raw data. (l_returnflag/l_linestatus are
    non-null in this data, so the 'ALL' sentinel is unambiguous.)"""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n",
        )
    )


@query(
    "q_cube",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
           coalesce(o_orderpriority, 'ALL') AS orderpriority,
           round(sum(o_totalprice), 2) AS sum_price,
           count(*) AS n
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping (all 2^k grouping sets in one pass over the data)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("sum_price"), F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("orderstatus"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("orderpriority"),
            "sum_price",
            "n",
        )
    )


@query(
    "q_pivot",
    oracle="""
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click')    AS click,
           count(*) FILTER (WHERE event_type = 'error')    AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup')   AS signup,
           count(*) FILTER (WHERE event_type = 'view')     AS view
    FROM events
    GROUP BY user_id
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long → wide): per-user event-type counts as columns. The
    explicit value list keeps the schema static (no extra distinct pass to
    discover pivot values — the scale-correct form); missing combinations
    coalesce to 0 to match SQL's FILTER counts."""
    ev = _t(spark, sf_dir, "events")
    wide = ev.groupBy("user_id").pivot("event_type", list(EVENT_TYPES)).agg(F.count(F.lit(1)))
    return wide.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in EVENT_TYPES]
    )


@query(
    "q_salted_join",
    oracle="""
    SELECT o_orderkey, o_custkey AS c_custkey, c_nationkey,
           round(o_totalprice, 2) AS totalprice
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant salted join (operators/relational.py:salted_join):
    fact keys spread over 8 salts, dim replicated per salt, join on
    (key, salt). Value-identical to the plain equi-join — the oracle IS the
    plain join — while bounding any hot key's per-task volume to 1/8 of its
    total at scale."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("c_custkey"), "o_totalprice"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    j = relational.salted_join(o, c, "c_custkey", salt_n=8)
    return j.select("o_orderkey", "c_custkey", "c_nationkey", F.round(F.col("o_totalprice"), 2).alias("totalprice"))


@query(
    "q_window_frames",
    oracle="""
    SELECT event_id, user_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING), 2) AS running_sum,
           round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4) AS moving_avg_5
    FROM events
    """,
)
def q_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-based analytic windows (running sum + 5-row moving average per
    user): one hash exchange on the partition key, partition-local sort,
    both frames computed in the same Window pass."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2).alias("running_sum"),
        F.round(F.avg("value").over(w.rowsBetween(-4, 0)), 4).alias("moving_avg_5"),
    )


@query(
    "q_grouped_udaf",
    oracle="""
    SELECT user_id,
           round(regr_slope(value, (epoch_ms(ts) - epoch_ms(TIMESTAMP '2024-01-01')) / 86400000.0), 4)
             AS slope_per_day,
           count(*) AS n
    FROM events
    GROUP BY user_id
    """,
)
def q_grouped_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF via grouped-map applyInPandas: per-user least-squares
    slope of event value over time (days) — the reference's whole API is
    arbitrary-user-function operators; this is the keyed-aggregation form
    Spark expresses as a pandas group map (one shuffle on the key, Arrow
    batch per group). Centered covariance formula (numerically stable at
    epoch magnitudes) matches SQL regr_slope exactly at 4dp."""
    import pandas as pd

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        (F.expr("unix_micros(ts) div 1000") - F.lit(1704067200000)).cast("double").alias("ms"),
        "value",
    )

    def slope(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["ms"] / 86400000.0
        y = pdf["value"]
        xc = x - x.mean()
        denom = (xc * xc).sum()
        s = float((xc * (y - y.mean())).sum() / denom) if denom > 0 else None
        return pd.DataFrame(
            {"user_id": [pdf["user_id"].iloc[0]], "slope_per_day": [round(s, 4) if s is not None else None], "n": [len(pdf)]}
        )

    return ev.groupBy("user_id").applyInPandas(slope, "user_id long, slope_per_day double, n long")


@query(
    "q_hash_sample",
    oracle="""
    SELECT l_returnflag, count(*) AS n_sampled,
           sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT))::BIGINT
             AS revenue_cents
    FROM lineitem
    WHERE substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 1) IN ('0', '1')
    GROUP BY l_returnflag
    """,
)
def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling (~2/16 = 12.5% of order keys): the
    reproducible alternative to `TABLESAMPLE` — md5 of the key is
    engine-independent, so the sample is stable across runs, engines, and
    partitionings (a rerun-safe property `rand()` sampling lacks, and the
    standard way to carve experiment holdouts from a 100 TB corpus).
    Key-level (not row-level) sampling keeps whole orders together.
    The filter is a narrow projection evaluated at scan speed; no shuffle
    until the final tiny per-flag aggregate."""
    li = load_table(spark, "lineitem", sf_dir)
    bucket = F.substring(F.md5(F.col("l_orderkey").cast("string")), 1, 1)
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0).cast("long")
    return (
        li.where(bucket.isin("0", "1"))
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_sampled"), F.sum(rev).alias("revenue_cents"))
    )


@query(
    "q_grouping_sets",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           count(*) AS n,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (the general form of rollup/cube —
    q_rollup/q_cube cover the fixed lattices): detail, per-flag, and
    grand-total levels in ONE scan. Spark expands the sets before the
    exchange, so partial aggregation still applies and the shuffle carries
    (rows × sets) pre-combined groups, not raw rows. The SQL surface is
    the DataFrame surface: same Catalyst plan either way."""
    from simple_stream_processor_spark.tables import register_views

    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(
        """
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               count(*) AS n,
               CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@query(
    "q_full_outer_reconcile",
    oracle="""
    WITH s AS (
      SELECT user_id, date_trunc('day', ts) AS d, count(*) AS n_signup
      FROM events WHERE event_type = 'signup' GROUP BY 1, 2
    ), e AS (
      SELECT user_id, date_trunc('day', ts) AS d, count(*) AS n_error
      FROM events WHERE event_type = 'error' GROUP BY 1, 2
    )
    SELECT coalesce(s.user_id, e.user_id) AS user_id,
           CAST(epoch_ms(coalesce(s.d, e.d)) AS BIGINT) AS day_ms,
           coalesce(n_signup, 0) AS n_signup,
           coalesce(n_error, 0) AS n_error
    FROM s FULL OUTER JOIN e ON s.user_id = e.user_id AND s.d = e.d
    """,
)
def q_full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join (the one join type the suite didn't yet cover):
    reconciling two sparse per-user-day aggregates where either side may
    be absent — the audit/anti-drift shape of pipeline reconciliation.
    Both inputs pre-aggregate BEFORE the join, so the full-outer shuffle
    carries group-cardinality rows, never raw events; at 100 TB the join
    keys are already partitioned identically from the two aggs and AQE
    plans a no-regret sort-merge on the shared (user, day) key."""
    ev = _t(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    s = (
        ev.where(F.col("event_type") == "signup")
        .groupBy(F.col("user_id").alias("s_uid"), day.alias("s_d"))
        .agg(F.count(F.lit(1)).alias("n_signup"))
    )
    e = (
        ev.where(F.col("event_type") == "error")
        .groupBy(F.col("user_id").alias("e_uid"), day.alias("e_d"))
        .agg(F.count(F.lit(1)).alias("n_error"))
    )
    j = s.join(e, (s.s_uid == e.e_uid) & (s.s_d == e.e_d), "full_outer")
    return j.select(
        F.coalesce("s_uid", "e_uid").alias("user_id"),
        (F.unix_micros(F.coalesce("s_d", "e_d")) / F.lit(1000)).cast("long").alias("day_ms"),
        F.coalesce("n_signup", F.lit(0)).alias("n_signup"),
        F.coalesce("n_error", F.lit(0)).alias("n_error"),
    )


@query(
    "q_gap_fill",
    oracle="""
    WITH e AS (
      SELECT user_id, date_trunc('hour', ts) AS h, round(max(value), 2) AS v
      FROM events WHERE user_id < 5 GROUP BY 1, 2
    ), bounds AS (
      SELECT user_id, min(h) AS h0, max(h) AS h1 FROM e GROUP BY 1
    ), spine AS (
      SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM bounds
    )
    SELECT spine.user_id,
           CAST(epoch_ms(spine.h) AS BIGINT) AS hour_ms,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY spine.user_id ORDER BY spine.h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_value,
           (v IS NULL) AS is_gap
    FROM spine LEFT JOIN e ON spine.user_id = e.user_id AND spine.h = e.h
    """,
)
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: per-user hourly spine (`sequence` +
    explode between observed bounds) left-joined to observations, missing
    hours carried forward with `last(ignorenulls)` — the
    regularization step before any rolling-window feature at scale. The
    spine explode is narrow (each user's row expands locally); the fill
    window partitions by user, so state is one value per user — no
    global sort. Spark's `sequence` and DuckDB's `generate_series` agree
    on inclusive bounds."""
    ev = _t(spark, sf_dir, "events").where(F.col("user_id") < 5)
    hour = F.date_trunc("hour", F.col("ts"))
    e = ev.groupBy("user_id", hour.alias("h")).agg(F.round(F.max("value"), 2).alias("v"))
    spine = (
        e.groupBy("user_id")
        .agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select(
            "user_id",
            F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("h"),
        )
    )
    from pyspark.sql import Window

    j = spine.join(e, ["user_id", "h"], "left_outer")
    w = Window.partitionBy("user_id").orderBy("h").rowsBetween(Window.unboundedPreceding, 0)
    return j.select(
        "user_id",
        (F.unix_micros("h") / F.lit(1000)).cast("long").alias("hour_ms"),
        F.last("v", ignorenulls=True).over(w).alias("filled_value"),
        F.col("v").isNull().alias("is_gap"),
    )


@query(
    "q_analytic_distribution",
    oracle="""
    SELECT c_mktsegment, c_custkey, round(c_acctbal, 2) AS acctbal,
           ntile(4) OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cum_dist,
           lead(c_custkey) OVER w AS next_custkey
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC)
    """,
)
def q_analytic_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution analytics (the window-function family q_rank_window's
    row_number/lag doesn't cover): quartile bucketing (ntile), relative
    rank (percent_rank), cumulative share (cume_dist), and forward
    navigation (lead) in ONE window pass — one exchange on the partition
    key, partition-local sort. The tie-breaking custkey in the ORDER BY
    makes every function deterministic; percent_rank and cume_dist are
    ratios of exact integer ranks, so the 6dp round is cross-engine
    stable."""
    c = _t(spark, sf_dir, "customer")
    from pyspark.sql import Window

    w = Window.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").asc(), F.col("c_custkey").asc())
    return c.select(
        "c_mktsegment",
        "c_custkey",
        F.round("c_acctbal", 2).alias("acctbal"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cum_dist"),
        F.lead("c_custkey").over(w).alias("next_custkey"),
    )


@query(
    "q_stratified_sample",
    oracle="""
    WITH b AS (
      SELECT lang, doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS INT) AS bucket
      FROM documents
    )
    SELECT lang, count(*) AS n_sampled, min(doc_id) AS min_doc, max(doc_id) AS max_doc
    FROM b
    WHERE bucket < CASE lang WHEN 'en' THEN 32 WHEN 'de' THEN 128 ELSE 256 END
    GROUP BY lang
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling — per-class rates from one
    md5-bucket column (en 32/256 = 12.5%, de 50%, everything else kept):
    the class-rebalancing step of corpus curation (downsample the
    dominant language, keep the tail), reproducible across engines, runs,
    and partitionings where `sampleBy(fractions)` is seed-and-partition
    dependent. Still a narrow scan-stage filter: rate lookup is a CASE
    on the stratum column, no join, no shuffle before the per-class
    audit aggregate."""
    docs = load_table(spark, "documents", sf_dir)
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10).cast("int")
    rate = (
        F.when(F.col("lang") == "en", F.lit(32))
        .when(F.col("lang") == "de", F.lit(128))
        .otherwise(F.lit(256))
    )
    return (
        docs.where(bucket < rate)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


@query(
    "q_stats_agg",
    oracle="""
    WITH l AS (
      SELECT l_returnflag,
             CAST(round(l_quantity) AS BIGINT) AS q,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
      FROM lineitem
    ), m AS (
      SELECT l_returnflag,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(q) AS DOUBLE) AS sq,
             CAST(sum(pc) AS DOUBLE) AS sp,
             CAST(sum(q * q) AS DOUBLE) AS sqq,
             CAST(sum(pc * pc) AS DOUBLE) AS spp,
             CAST(sum(q * pc) AS DOUBLE) AS sqp
      FROM l GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           round((n * sqp - sq * sp)
                 / (sqrt(greatest(0, n * sqq - sq * sq)) * sqrt(greatest(0, n * spp - sp * sp))),
                 6) AS qty_price_corr,
           round((n * sqp - sq * sp) / (n * (n - 1)) / 100.0, 2) AS qty_price_covar,
           round(sqrt(greatest(0, n * spp - sp * sp) / (n * (n - 1))) / 100.0, 4) AS price_stddev,
           round((n * sqq - sq * sq) / (n * (n - 1)), 6) AS qty_var
    FROM m
    """,
)
def q_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (corr / covar_samp / stddev_samp /
    var_samp) per group — the moments family a feature-engineering pass
    needs, one pass, one tiny exchange.

    Computed from exact-integer moment sums (quantities are whole,
    prices are cents) summed as decimal(38,0), converted to double once,
    then combined with expression trees mirrored verbatim in the oracle:
    builtin Welford merges accumulate in partition order, which differs
    across engines AND across partitionings of one engine, so a moment
    landing on a rounding boundary would flip — the q_group_agg cent-flip
    class, eliminated rather than tolerated. try_divide keeps n=1 and
    constant-series groups at SQL NULL (the var_samp/corr contract)
    instead of an ANSI DIVIDE_BY_ZERO."""
    li = load_table(spark, "lineitem", sf_dir)
    qv = F.round(F.col("l_quantity"), 0).cast("long")
    pc = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(qv).cast("double").alias("sq"),
        F.sum(pc).cast("double").alias("sp"),
        # widen BEFORE multiplying: (long * long).cast(decimal) computes the
        # product in long arithmetic first, so at the scales this protects
        # the multiply itself would overflow (ANSI ArithmeticException)
        # before the decimal cast applies
        F.sum(qv.cast("decimal(38,0)") * qv).cast("double").alias("sqq"),
        F.sum(pc.cast("decimal(38,0)") * pc).cast("double").alias("spp"),
        F.sum(qv.cast("decimal(38,0)") * pc).cast("double").alias("sqp"),
    )
    n, sq, sp = F.col("n"), F.col("sq"), F.col("sp")
    sqq, spp, sqp = F.col("sqq"), F.col("spp"), F.col("sqp")
    num = n * sqp - sq * sp
    var_q = n * sqq - sq * sq
    var_p = n * spp - sp * sp
    denom = n * (n - 1)
    return m.select(
        "l_returnflag",
        F.round(
            relational.corr_from_moments(n, sq, sp, sqq, spp, sqp), 6
        ).alias("qty_price_corr"),
        F.round(F.try_divide(num, denom) / F.lit(100.0), 2).alias("qty_price_covar"),
        F.round(F.sqrt(F.try_divide(F.greatest(F.lit(0.0), var_p), denom)) / F.lit(100.0), 4).alias("price_stddev"),
        F.round(F.try_divide(var_q, denom), 6).alias("qty_var"),
    )


@query(
    "q_recursive_cte",
    oracle="""
    WITH RECURSIVE months(m) AS (
      SELECT TIMESTAMP '1995-01-01'
      UNION ALL
      SELECT m + INTERVAL 1 MONTH FROM months WHERE m < TIMESTAMP '1996-12-01'
    )
    SELECT CAST(epoch_ms(m) AS BIGINT) AS month_ms, count(o_orderkey) AS n_orders
    FROM months LEFT JOIN orders ON date_trunc('month', o_orderdate) = m
    GROUP BY m
    """,
)
def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (SQL:1999 WITH RECURSIVE, native in Spark 4): a
    24-month calendar spine generated by recursion, left-joined to
    month-truncated order counts — the fixed-point surface the iterative
    operators (dedup_clusters) use imperatively, now available
    declaratively. The recursion happens on the driver-side plan (24
    one-row steps, trivially cheap); the join and aggregate stay
    distributed. Months with zero orders survive via the left join."""
    from simple_stream_processor_spark.tables import register_views

    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        WITH RECURSIVE months(m) AS (
          SELECT TIMESTAMP '1995-01-01'
          UNION ALL
          SELECT m + INTERVAL 1 MONTH FROM months WHERE m < TIMESTAMP '1996-12-01'
        )
        SELECT unix_micros(m) div 1000 AS month_ms, count(o_orderkey) AS n_orders
        FROM months LEFT JOIN orders ON date_trunc('month', o_orderdate) = m
        GROUP BY m
        """
    )


@query(
    "q_funnel",
    oracle="""
    WITH u AS (
      SELECT user_id,
        list_sort(list(ts) FILTER (WHERE event_type = 'view')) AS views,
        list_sort(list(ts) FILTER (WHERE event_type = 'click')) AS clicks,
        list_sort(list(ts) FILTER (WHERE event_type = 'purchase')) AS purchases
      FROM events GROUP BY user_id
    ), s1 AS (
      SELECT user_id, clicks, purchases, list_min(views) AS t_view FROM u
    ), s2 AS (
      SELECT user_id, purchases, t_view,
             list_min(list_filter(clicks, c -> c > t_view)) AS t_click
      FROM s1
    ), s3 AS (
      SELECT user_id, t_view, t_click,
             list_min(list_filter(purchases, p -> p > t_click)) AS t_purchase
      FROM s2
    )
    SELECT count(t_view)::BIGINT AS users_viewed,
           count(t_click)::BIGINT AS users_clicked,
           count(t_purchase)::BIGINT AS users_purchased
    FROM s3
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click → purchase): how many users reached
    each stage strictly after the previous one — the sequence-pattern
    shape of event analytics. operators/relational.py:funnel does the
    whole walk in ONE shuffle (groupBy user collects per-stage sorted
    ts arrays; the stage progression is narrow array math), so an
    N-stage funnel over 100 TB costs one scan + one exchange. Counts
    are exact integers — bit-identical cross-engine."""
    ev = _t(spark, sf_dir, "events")
    f = relational.funnel(ev, ["view", "click", "purchase"])
    return f.agg(
        F.count("t_view").alias("users_viewed"),
        F.count("t_click").alias("users_clicked"),
        F.count("t_purchase").alias("users_purchased"),
    )


@query(
    "q_cohort_retention",
    oracle="""
    WITH e AS (
      SELECT user_id, date_trunc('week', ts) AS wk FROM events
    ), c AS (
      SELECT user_id, wk, min(wk) OVER (PARTITION BY user_id) AS cohort_wk FROM e
    )
    SELECT epoch_ms(cohort_wk) AS cohort_ms,
           date_diff('day', cohort_wk::DATE, wk::DATE) // 7 AS week_offset,
           count(DISTINCT user_id)::BIGINT AS active_users
    FROM c GROUP BY 1, 2
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle: users cohorted by first-event
    week, distinct actives per (cohort, week offset). One shuffle on
    user (partition-only window, no sort, no self-join); the final
    exchange carries weeks² groups, not events. Offsets are exact
    integer day arithmetic — bit-identical cross-engine."""
    return relational.cohort_retention(_t(spark, sf_dir, "events"))


@query(
    "q_scd2_intervals",
    oracle="""
    SELECT user_id, event_type, event_id,
           epoch_ms(ts) AS valid_from_ms,
           epoch_ms(lead(ts) OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts, event_id)) AS valid_to_ms,
           CAST(round(value * 100) AS BIGINT) AS val_cents
    FROM events
    """,
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) interval construction: each
    (user, attribute) change event becomes a [valid_from, valid_to)
    row, valid_to = the next change's timestamp (NULL while current) —
    the event-log-to-dimension-table materialization every warehouse
    runs. ONE shuffle on the (user, type) key + an in-partition sort;
    per-key state is that key's history, never table size. The
    (ts, event_id) tie-break makes interval edges deterministic;
    values are exact integer cents."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    to_ms = lambda c: (F.unix_micros(c) / 1000).cast("long")  # noqa: E731
    return ev.select(
        "user_id",
        "event_type",
        "event_id",
        to_ms(F.col("ts")).alias("valid_from_ms"),
        to_ms(F.lead("ts").over(w)).alias("valid_to_ms"),
        F.round(F.col("value") * 100).cast("long").alias("val_cents"),
    )


@query(
    "q_latest_snapshot",
    oracle="""
    SELECT user_id, event_type, event_id,
           epoch_ms(ts) AS ts_ms,
           CAST(round(value * 100) AS BIGINT) AS val_cents
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts DESC, event_id DESC) = 1
    """,
)
def q_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-state snapshot (the SCD read side of q_scd2_intervals):
    the current row per (user, attribute) — last-writer-wins keyed
    dedup with a deterministic (ts, event_id) winner. One shuffle +
    in-partition top-1 (rank filter prunes before any further stage);
    at 100 TB this is the compaction query that turns an append-only
    event log into a serving table."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "user_id",
            "event_type",
            "event_id",
            (F.unix_micros(F.col("ts")) / 1000).cast("long").alias("ts_ms"),
            F.round(F.col("value") * 100).cast("long").alias("val_cents"),
        )
    )


@query(
    "q_rolling_time_window",
    oracle="""
    SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
           (count(*) OVER w)::BIGINT AS n_7d,
           (sum(CAST(round(value * 100) AS BIGINT)) OVER w)::BIGINT AS cents_7d
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW)
    """,
)
def q_rolling_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day per-user aggregates via a time-RANGE window frame —
    the value-based sibling of q_window_frames' ROWS frames: the frame
    is bounded by event-time distance, not row count, so gaps and
    bursts are handled exactly. One shuffle on user + in-partition
    sort; frame evaluation is a sliding two-pointer over the sorted
    partition (linear, no per-row rescan). Sums are exact integer
    cents. NOTE: ties at identical ts are frame-equivalent (RANGE
    includes peers), so the result is deterministic without a
    tie-break."""
    from simple_stream_processor_spark.tables import register_views

    register_views(spark, sf_dir, ("events",))
    return spark.sql(
        """
        SELECT user_id, event_id, unix_micros(ts) div 1000 AS ts_ms,
               count(*) OVER w AS n_7d,
               sum(CAST(round(value * 100) AS BIGINT)) OVER w AS cents_7d
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW)
        """
    )


@query(
    "q_schema_evolution_union",
    oracle="""
    WITH old AS (
      SELECT doc_id, text, lang FROM documents WHERE doc_id % 2 = 0
    ), new AS (
      SELECT doc_id, text, lang, source, n_chars FROM documents WHERE doc_id % 2 = 1
    ), unioned AS (
      SELECT doc_id, text, lang, NULL AS source, NULL AS n_chars FROM old
      UNION ALL
      SELECT * FROM new
    )
    SELECT lang, coalesce(source, '<missing>') AS source,
           count(*)::BIGINT AS n, sum(len(text))::BIGINT AS chars
    FROM unioned GROUP BY 1, 2
    """,
)
def q_schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union (`unionByName(allowMissingColumns=True)`):
    an old ingest batch lacking the source/n_chars columns unions with
    the current schema by NAME — missing columns null-fill instead of
    silently mis-binding by position (what plain UNION ALL does when a
    column was added mid-history). The ingest-reconciliation shape of
    any long-lived 100 TB table; the union itself is narrow (no
    shuffle) and the aggregate exchange carries group cardinality."""
    d = _t(spark, sf_dir, "documents")
    old = d.where(F.col("doc_id") % 2 == 0).select("doc_id", "text", "lang")
    new = d.where(F.col("doc_id") % 2 == 1)
    u = old.unionByName(new, allowMissingColumns=True)
    return u.groupBy(
        "lang", F.coalesce(F.col("source"), F.lit("<missing>")).alias("source")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("text")).alias("chars"),
    )


@query(
    "q_hll_mergeable",
    oracle="""
    WITH per AS (
      SELECT event_type, count(*)::BIGINT AS n_rows,
             CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
             (abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
                <= 0.10 * count(DISTINCT user_id)) AS within_bound
      FROM events GROUP BY event_type
    )
    SELECT event_type, n_rows, exact_users, within_bound FROM per
    UNION ALL
    SELECT '<all>', count(*)::BIGINT,
           CAST(count(DISTINCT user_id) AS BIGINT),
           (abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
              <= 0.10 * count(DISTINCT user_id))
    FROM events
    """,
)
def q_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL via
    hll_sketch_agg / hll_union_agg): per-source user sketches are built
    ONCE, then unioned into a global estimate WITHOUT re-scanning raw
    data — the pre-aggregation pattern that makes 100 TB dashboards
    cheap (store per-partition sketch bytes ~KB each; any rollup is a
    sketch union, not a corpus scan). The sketch binary is
    engine-specific, so the hashed output is a VERDICT contract: each
    engine certifies its own estimate (Spark: the <all> row goes through
    the sketch UNION, witnessing mergeability; DuckDB: its own HLL)
    against its own exact count within a 10% bound (DataSketches default
    lgK=12 → rsd ≈ 1.6%, 3σ ≈ 5%; doubled for slack). The full
    estimate-vs-exact error curve stays pinned in
    tests/test_declared_queries.py; the portable cross-engine-EXACT
    sketch family is q_hll_portable (N35b)."""
    ev = _t(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("user_id").alias("exact_users"),
    )
    per_rows = per_type.select(
        "event_type",
        "n_rows",
        "exact_users",
        (
            F.abs(F.hll_sketch_estimate("sk") - F.col("exact_users"))
            <= 0.10 * F.col("exact_users")
        ).alias("within_bound"),
    )
    global_exact = ev.agg(
        F.count(F.lit(1)).alias("n_rows"), F.count_distinct("user_id").alias("exact_users")
    )
    global_row = (
        per_type.agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .crossJoin(F.broadcast(global_exact))
        .select(
            F.lit("<all>").alias("event_type"),
            "n_rows",
            "exact_users",
            (F.abs(F.col("est") - F.col("exact_users")) <= 0.10 * F.col("exact_users")).alias(
                "within_bound"
            ),
        )
    )
    return per_rows.unionByName(global_row)


@query(
    "q_dynamic_session_window",
    oracle="""
    WITH g AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN event_type = 'purchase' THEN 1800000 ELSE 600000 END AS gap_ms
      FROM events
    ), o AS (
      SELECT *, max(epoch_ms(ts) + gap_ms)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      FROM g
    ), f AS (
      SELECT *, CASE WHEN prev_end IS NULL OR epoch_ms(ts) >= prev_end
                     THEN 1 ELSE 0 END AS new_s
      FROM o
    ), s AS (
      SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM f
    )
    SELECT user_id,
           CAST(epoch_ms(min(ts)) AS BIGINT) AS session_start_ms,
           count(*)::BIGINT AS n,
           sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
    FROM s GROUP BY user_id, sid
    """,
)
def q_dynamic_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap session windows: each event extends its session by a
    PER-EVENT timeout (purchases keep sessions alive 30 min, everything
    else 10) — the data-dependent sessionization fixed-gap windows
    can't express. Spark merges overlapping per-event windows in one
    pass; the oracle reproduces that with a running-max-of-window-end
    islands computation. Same single user-keyed shuffle as the fixed
    form; session state per key, never stream length."""
    ev = _t(spark, sf_dir, "events")
    gap = F.when(
        F.col("event_type") == "purchase", F.expr("make_interval(0,0,0,0,0,30,0)")
    ).otherwise(F.expr("make_interval(0,0,0,0,0,10,0)"))
    return (
        ev.groupBy(F.session_window(F.col("ts"), gap).alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
        .select(
            "user_id",
            F.expr("unix_micros(w.start) div 1000").alias("session_start_ms"),
            "n",
            "cents",
        )
    )


@query(
    "q_linear_attribution",
    oracle="""
    WITH p AS (
      SELECT event_id AS p_id, user_id, ts AS p_ts,
             CAST(round(value * 100) AS BIGINT) AS p_cents
      FROM events WHERE event_type = 'purchase'
    ), touches AS (
      SELECT p.p_id, p.p_cents, c.event_id AS click_id
      FROM p JOIN events c
        ON c.user_id = p.user_id AND c.event_type = 'click'
       AND c.ts < p.p_ts AND c.ts >= p.p_ts - INTERVAL 30 MINUTE
    ), n AS (
      SELECT *, count(*) OVER (PARTITION BY p_id) AS n_touches FROM touches
    )
    SELECT click_id,
           count(*)::BIGINT AS n_purchases,
           sum(p_cents // n_touches)::BIGINT AS credit_cents
    FROM n GROUP BY click_id
    """,
)
def q_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear marketing attribution: each purchase's value is split
    equally across the user's clicks in the preceding 30 minutes
    (credit = cents div n_touches — exact integer division, so the
    split is bit-identical cross-engine). The touch join is an
    equi-join on user (one linear shuffle) with the 30-minute bound as
    a join residual — per-user probe cost is clicks×purchases for that
    user only; swap in relational.range_join_bucketed when per-user
    volumes are heavy. The per-purchase touch count is a
    partition-only window over the join output — no second scan."""
    ev = _t(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        F.round(F.col("value") * 100).cast("long").alias("p_cents"),
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("c_ts")
    )
    touches = p.join(
        c,
        (p.user_id == c.user_id)
        & (c.c_ts < p.p_ts)
        & (c.c_ts >= p.p_ts - F.expr("INTERVAL 30 MINUTE")),
    )
    from pyspark.sql.window import Window

    n = touches.withColumn("n_touches", F.count(F.lit(1)).over(Window.partitionBy("p_id")))
    return n.groupBy("click_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(F.expr("p_cents div n_touches")).alias("credit_cents"),
    )


@query(
    "q_topk_per_group",
    oracle="""
    SELECT user_id, event_id, event_type,
           CAST(round(value * 100) AS BIGINT) AS cents, rk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY value DESC, event_id) AS rk,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    )
    WHERE rk <= 3
    """,
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k (top-3 events by value per user) — the grouped
    sibling of the global TakeOrdered top-k: one shuffle on the group
    key, in-partition sort, rank filter prunes to k rows per key
    BEFORE anything downstream. Deterministic (value desc, event_id)
    tie-break. At 100 TB the WindowGroupLimit optimization pushes the
    k-filter into the sort itself (per-partition heaps), so no
    partition ever materializes fully sorted."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
            "rk",
        )
    )


@query(
    "q_chi_square",
    oracle="""
    WITH o AS (
      SELECT lang, source, count(*)::BIGINT AS obs FROM documents GROUP BY 1, 2
    ), m AS (
      SELECT o.*,
             sum(obs) OVER (PARTITION BY lang) AS row_n,
             sum(obs) OVER (PARTITION BY source) AS col_n,
             sum(obs) OVER () AS total_n
      FROM o
    )
    SELECT round(sum(
             (obs - (1.0 * row_n * col_n) / total_n)
             * (obs - (1.0 * row_n * col_n) / total_n)
             / ((1.0 * row_n * col_n) / total_n)
           ), 4) AS chi2,
           count(*)::BIGINT AS n_cells,
           max(total_n)::BIGINT AS n_docs
    FROM m
    """,
)
def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test over the lang × source contingency
    table (the distribution-drift check of corpus curation: did a crawl
    snapshot shift the language mix per source?). Observed and marginal
    counts are exact integers; expected counts and the statistic are the
    same double expression tree on both engines, so the rounded value is
    stable. One groupBy exchange carrying cells (langs × sources), then
    window marginals over that tiny table — corpus cost is the scan."""
    d = _t(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    o = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("obs"))
    m = (
        o.withColumn("row_n", F.sum("obs").over(Window.partitionBy("lang")))
        .withColumn("col_n", F.sum("obs").over(Window.partitionBy("source")))
        .withColumn("total_n", F.sum("obs").over(Window.partitionBy()))
    )
    e = (F.lit(1.0) * F.col("row_n") * F.col("col_n")) / F.col("total_n")
    return m.agg(
        F.round(F.sum((F.col("obs") - e) * (F.col("obs") - e) / e), 4).alias("chi2"),
        F.count(F.lit(1)).alias("n_cells"),
        F.max("total_n").alias("n_docs"),
    )


@query(
    "q_integrity_audit",
    oracle="""
    SELECT 'orders->customer' AS fk,
           count(*)::BIGINT AS n_rows,
           count(c_custkey)::BIGINT AS n_matched,
           (count(*) - count(c_custkey))::BIGINT AS n_orphans
    FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    UNION ALL
    SELECT 'lineitem->orders',
           count(*)::BIGINT, count(o_orderkey)::BIGINT,
           (count(*) - count(o_orderkey))::BIGINT
    FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
    """,
)
def q_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts for every foreign-key
    edge in one pass each — the ingest-validation query a 100 TB
    warehouse runs after every load. The dim probe (orders→customer)
    broadcasts the key column only; the fact-fact edge
    (lineitem→orders) shuffles the two KEY columns, never payloads
    (column pruning reaches the scan); each audit collapses to a
    one-row aggregate before unioning."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    ok = _t(spark, sf_dir, "orders").select("o_orderkey")
    a1 = (
        o.select("o_custkey")
        .join(F.broadcast(c), o.o_custkey == c.c_custkey, "left")
        .agg(
            F.lit("orders->customer").alias("fk"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count("c_custkey").alias("n_matched"),
            (F.count(F.lit(1)) - F.count("c_custkey")).alias("n_orphans"),
        )
    )
    a2 = (
        li.join(ok, li.l_orderkey == ok.o_orderkey, "left")
        .agg(
            F.lit("lineitem->orders").alias("fk"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count("o_orderkey").alias("n_matched"),
            (F.count(F.lit(1)) - F.count("o_orderkey")).alias("n_orphans"),
        )
    )
    return a1.unionByName(a2)


@query(
    "q_robust_stats_mad",
    oracle="""
    WITH med AS (
      SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS m
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           round(any_value(med.m), 4) AS median_price,
           round(quantile_cont(abs(l.l_extendedprice - med.m), 0.5), 4) AS mad_price,
           count(*)::BIGINT AS n
    FROM lineitem l JOIN med USING (l_returnflag)
    GROUP BY l.l_returnflag
    """,
)
def q_robust_stats_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust dispersion: median absolute deviation per group (the
    outlier-resistant twin of q_stats_agg's stddev — the right spread
    measure for heavy-tailed 100 TB value columns). Two-level exact
    percentile: group medians (tiny result) BROADCAST back onto the
    fact for the deviation pass — two scans, one broadcast, no
    fact-side re-shuffle for the join. Interpolation is quantile_cont
    on both engines — bit-identical before rounding."""
    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    med = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("m")
    )
    j = li.join(F.broadcast(med), "l_returnflag")
    return j.groupBy("l_returnflag").agg(
        F.round(F.any_value("m"), 4).alias("median_price"),
        F.round(F.expr("percentile(abs(l_extendedprice - m), 0.5)"), 4).alias("mad_price"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q_funnel_by_segment",
    oracle="""
    WITH u AS (
      SELECT user_id,
        list_sort(list(ts) FILTER (WHERE event_type = 'view')) AS views,
        list_sort(list(ts) FILTER (WHERE event_type = 'click')) AS clicks,
        list_sort(list(ts) FILTER (WHERE event_type = 'purchase')) AS purchases
      FROM events GROUP BY user_id
    ), s1 AS (
      SELECT user_id, clicks, purchases, list_min(views) AS t_view FROM u
    ), s2 AS (
      SELECT user_id, purchases, t_view,
             list_min(list_filter(clicks, c -> c > t_view)) AS t_click
      FROM s1
    ), s3 AS (
      SELECT user_id, t_view, t_click,
             list_min(list_filter(purchases, p -> p > t_click)) AS t_purchase
      FROM s2
    )
    SELECT c.c_mktsegment AS segment,
           count(t_view)::BIGINT AS users_viewed,
           count(t_click)::BIGINT AS users_clicked,
           count(t_purchase)::BIGINT AS users_purchased,
           (10000 * count(t_purchase) // count(t_view))::BIGINT AS conv_bp
    FROM s3 JOIN customer c ON s3.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def q_funnel_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion by customer segment: the one-shuffle funnel
    composes with a broadcast dimension join and a segment rollup —
    still exactly ONE fact exchange end to end (the per-user funnel
    table is already user-keyed; the dim broadcasts; the final
    aggregate carries segments). Conversion reported in exact integer
    basis points (10000·purchased div viewed)."""
    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    f = relational.funnel(ev, ["view", "click", "purchase"])
    j = f.join(F.broadcast(cust), f.user_id == cust.c_custkey)
    return j.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("t_view").alias("users_viewed"),
        F.count("t_click").alias("users_clicked"),
        F.count("t_purchase").alias("users_purchased"),
        F.expr("10000 * count(t_purchase) div count(t_view)").alias("conv_bp"),
    )


@query(
    "q_timeseries_similarity",
    oracle="""
    WITH c AS (
      SELECT date_trunc('day', ts) AS d, extract(hour FROM ts) AS h, count(*) AS n
      FROM events WHERE event_type = 'click' GROUP BY 1, 2
    ), days AS (SELECT DISTINCT d FROM c),
    grid AS (SELECT days.d, t.h FROM days, (SELECT unnest(range(24)) AS h) t),
    dense AS (
      SELECT g.d, g.h, coalesce(c.n, 0)::BIGINT AS n
      FROM grid g LEFT JOIN c ON g.d = c.d AND g.h = c.h
    ), probe AS (
      SELECT h, n FROM dense WHERE d = (SELECT min(d) FROM days)
    )
    SELECT CAST(epoch_ms(dense.d) AS BIGINT) AS day_ms,
           sum((dense.n - probe.n) * (dense.n - probe.n))::BIGINT AS dist2
    FROM dense JOIN probe USING (h)
    WHERE dense.d <> (SELECT min(d) FROM days)
    GROUP BY dense.d
    ORDER BY dist2, day_ms LIMIT 5
    """,
)
def q_timeseries_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity search: each day's hourly click-count
    profile is a dense 24-vector; find the 5 days most similar to the
    first day by squared euclidean distance (cf. distributed
    subsequence matching, EDBT 2019 — PAPERS.md). Counts are exact
    integers, so distances are bit-identical cross-engine. Scale
    shape: the day×hour grid densifies per key (narrow spine), the
    probe vector is a 24-row broadcast, distances reduce per day
    before the TakeOrdered top-5 — the corpus is scanned once."""
    ev = _t(spark, sf_dir, "events")
    c = (
        ev.where(F.col("event_type") == "click")
        .groupBy(
            F.date_trunc("day", F.col("ts")).alias("d"),
            F.hour(F.col("ts")).alias("h"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    days = c.select("d").distinct()
    hours = days.sparkSession.range(24).select(F.col("id").cast("int").alias("h"))
    grid = days.crossJoin(F.broadcast(hours))
    dense = grid.join(c, ["d", "h"], "left").select(
        "d", "h", F.coalesce(F.col("n"), F.lit(0)).alias("n")
    )
    first_day = days.agg(F.min("d").alias("d0"))
    probe = (
        dense.join(F.broadcast(first_day), dense.d == F.col("d0"))
        .select("h", F.col("n").alias("pn"))
    )
    return (
        dense.join(F.broadcast(first_day), dense.d != F.col("d0"))
        .join(F.broadcast(probe), "h")
        .groupBy(F.expr("unix_micros(d) div 1000").alias("day_ms"))
        .agg(F.sum((F.col("n") - F.col("pn")) * (F.col("n") - F.col("pn"))).alias("dist2"))
        .orderBy("dist2", "day_ms")
        .limit(5)
    )


@query(
    "q_string_agg",
    oracle="""
    SELECT r.r_name AS region,
           string_agg(DISTINCT n.n_name, ',' ORDER BY n.n_name) AS nations,
           count(DISTINCT c.c_custkey)::BIGINT AS n_customers
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    GROUP BY r.r_name
    """,
)
def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (listagg): per region the
    alphabetized nation list plus customer counts. collect_set gives
    NO cross-partition order guarantee, so the deterministic form is
    array_join(array_sort(collect_set(...))) — the engine's canonical
    answer to SQL string_agg ... ORDER BY. Dims broadcast; one
    customer-side exchange carrying (region, nation) group rows."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    j = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return j.groupBy(F.col("r_name").alias("region")).agg(
        F.array_join(F.array_sort(F.collect_set("n_name")), ",").alias("nations"),
        F.count_distinct("c_custkey").alias("n_customers"),
    )


@query(
    "q_absence_pattern",
    oracle="""
    SELECT v.event_id, v.user_id, epoch_ms(v.ts) AS ts_ms
    FROM events v
    LEFT JOIN events p
      ON p.user_id = v.user_id AND p.event_type = 'purchase'
     AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
    WHERE v.event_type = 'view'
    GROUP BY v.event_id, v.user_id, v.ts
    HAVING count(p.event_id) = 0
    """,
)
def q_absence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absence-pattern detection (negative CEP): views NOT followed by a
    purchase within 30 minutes by the same user — the abandonment /
    timeout-alert shape of complex event processing (cf. CEP-on-stream
    bridging, EDBT 2024 — PAPERS.md). Expressed as a left anti join
    with the time bound in the join condition: one user-keyed
    exchange, per-user probe cost, and the anti semantics prune
    matched rows at the join — no HAVING re-aggregation pass."""
    ev = _t(spark, sf_dir, "events")
    v = ev.where(F.col("event_type") == "view").select("event_id", "user_id", "ts")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    anti = v.join(
        p,
        (v.user_id == p.p_user)
        & (p.p_ts > v.ts)
        & (p.p_ts <= v.ts + F.expr("INTERVAL 30 MINUTE")),
        "left_anti",
    )
    return anti.select(
        "event_id", "user_id", (F.unix_micros(F.col("ts")) / 1000).cast("long").alias("ts_ms")
    )


@query(
    "q_transition_matrix",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    )
    SELECT event_type AS from_type, next_type AS to_type, count(*)::BIGINT AS n
    FROM o WHERE next_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def q_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-transition (Markov) matrix: counts of consecutive
    (from → to) event-type pairs per user timeline — the user-journey
    model behind next-action prediction and anomaly detection. One
    shuffle on user + in-partition sort for the lead(); the final
    exchange carries types² rows. Deterministic (ts, event_id)
    ordering; exact integer counts."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    )
    return (
        o.where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "q_winsorize",
    oracle="""
    WITH b AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.01) AS p01,
             quantile_cont(l_extendedprice, 0.99) AS p99
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           count(*) AS n,
           CAST(sum(CASE WHEN CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                              < CAST(round(p01 * 100, 0) AS BIGINT) THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_low,
           CAST(sum(CASE WHEN CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                              > CAST(round(p99 * 100, 0) AS BIGINT) THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_high,
           CAST(sum(CAST(round(least(greatest(l_extendedprice, p01), p99) * 100, 0) AS BIGINT)) AS BIGINT)
             AS win_sum_cents
    FROM lineitem l JOIN b USING (l_returnflag)
    GROUP BY l.l_returnflag
    """,
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization — clamp a numeric column to its per-group exact
    [p01, p99] band, the outlier-handling step of feature cleaning. Two
    passes over the fact: the percentile pass reduces to group cardinality
    (tiny) and broadcasts back, so the clamp pass is a narrow map + one
    aggregate exchange — no fact re-shuffle.

    Clamp counts and sums compare in the CENT domain: the engines'
    interpolation forms differ by an ulp on duplicate-heavy data (Spark
    computes a + t(b-a), exact when a == b; DuckDB (1-t)a + tb, which
    returns e.g. 900.0000000000001 — found by cross-engine fuzz), and
    cent-rounding both the value and the bound absorbs exactly that class
    while preserving the money semantics."""
    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    bounds = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.01)").alias("p01"),
        F.expr("percentile(l_extendedprice, 0.99)").alias("p99"),
    )
    clamped = F.least(F.greatest(F.col("l_extendedprice"), F.col("p01")), F.col("p99"))
    return (
        li.join(F.broadcast(bounds), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(
                    F.round(F.col("l_extendedprice") * 100, 0).cast("long")
                    < F.round(F.col("p01") * 100, 0).cast("long"),
                    1,
                ).otherwise(0)
            ).cast("long").alias("n_clamped_low"),
            F.sum(
                F.when(
                    F.round(F.col("l_extendedprice") * 100, 0).cast("long")
                    > F.round(F.col("p99") * 100, 0).cast("long"),
                    1,
                ).otherwise(0)
            ).cast("long").alias("n_clamped_high"),
            F.sum(F.round(clamped * 100, 0).cast("long")).cast("long").alias("win_sum_cents"),
        )
    )


@query(
    "q_interval_concurrency",
    oracle="""
    WITH bounds AS (
      SELECT epoch_ms(ts) AS t_ms, 1 AS delta, event_id AS iid FROM events
      UNION ALL
      SELECT epoch_ms(ts) + CAST(round(value * 1000, 0) AS BIGINT), -1, event_id FROM events
    )
    SELECT CAST(t_ms AS BIGINT) AS t_ms, CAST(delta AS BIGINT) AS delta,
           CAST(iid AS BIGINT) AS iid,
           CAST(sum(delta) OVER (ORDER BY t_ms, delta, iid
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS concurrency
    FROM bounds
    """,
)
def q_interval_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line concurrency (operators/windows.py:sweep_concurrency):
    each event opens an interval of ``value`` seconds; the output is the
    number of concurrently-open intervals at every boundary — concurrent
    sessions / open connections over time. The oracle is the textbook
    global running sum; the Spark plan is the two-level prefix sum (bucket
    partials + broadcast offsets + partition-local windows), so the only
    single-partition step touches rows/bucket_size rows. Ties are exact:
    (t, delta, id) is a total order with ends applying before starts."""
    ev = _t(spark, sf_dir, "events")
    dur_ms = F.round(F.col("value") * 1000, 0).cast("long")  # mirrors the oracle's round-then-cast
    return windows.sweep_concurrency(ev, "ts", dur_ms, "event_id", bucket_s=3600)


@query(
    "q_skew_report",
    oracle="""
    WITH c AS (
      SELECT o_custkey, count(*) AS n FROM orders GROUP BY 1
    ),
    s AS (
      SELECT count(*) AS n_keys,
             CAST(sum(n) AS BIGINT) AS total_rows,
             max(n) AS max_n,
             round(avg(n), 4) AS avg_n,
             round(max(n) / avg(n), 4) AS skew_ratio
      FROM c
    )
    SELECT t.o_custkey, t.n,
           round(100.0 * t.n / s.total_rows, 4) AS share_pct,
           s.n_keys, s.total_rows, s.max_n, s.avg_n, s.skew_ratio
    FROM (SELECT * FROM c ORDER BY n DESC, o_custkey LIMIT 10) t
    CROSS JOIN s
    """,
)
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostics: per-key row counts on the join/agg
    key, the top-10 heaviest keys with their share of the table, and the
    global skew ratio max/avg — the report you run BEFORE deciding whether
    a 100 TB join needs salting (operators/relational.py:salted_join) or
    AQE skew splitting. One keyed exchange builds the histogram; the
    summary is a single-row aggregate broadcast back to the (limit-10)
    head, so nothing beyond the per-key counts ever shuffles. At 1000
    executors the count table is ~n_keys rows — trivially spillable —
    and TakeOrdered handles the head without a global sort."""
    orders = _t(spark, sf_dir, "orders")
    counts = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    stats = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("total_rows"),
        F.max("n").alias("max_n"),
        F.round(F.avg("n"), 4).alias("avg_n"),
        F.round(F.max("n") / F.avg("n"), 4).alias("skew_ratio"),
    )
    top = counts.orderBy(F.col("n").desc(), "o_custkey").limit(10)
    return top.join(F.broadcast(stats)).select(
        "o_custkey",
        "n",
        F.round(F.lit(100.0) * F.col("n") / F.col("total_rows"), 4).alias("share_pct"),
        "n_keys",
        "total_rows",
        "max_n",
        "avg_n",
        "skew_ratio",
    )


# shared with the streaming twin (queries_streaming.q_streaming_zscore):
# both paths must hash-match the identical batch SQL
ZSCORE_ORACLE = """
    WITH daily AS (
      -- exact integer cents: double sums are partition-order-dependent,
      -- which flips round() at half boundaries between engines
      SELECT event_type, date_trunc('day', ts) AS day,
             sum(CAST(round(value * 100, 0) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2
    ),
    w AS (
      SELECT event_type, epoch_ms(day) AS day_ms, cents,
             avg(cents) OVER win AS mu_c,
             stddev_samp(cents) OVER win AS sigma_c,
             count(*) OVER win AS n_prior
      FROM daily
      WINDOW win AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, CAST(day_ms AS BIGINT) AS day_ms,
           cents / 100.0 AS revenue,
           round(mu_c, 0) / 100.0 AS mu,
           CAST(n_prior AS BIGINT) AS n_prior,
           round((cents - mu_c) / sigma_c, 3) AS zscore,
           CASE WHEN abs((cents - mu_c) / sigma_c) > 2.0 THEN 1 ELSE 0 END AS is_anomaly
    FROM w
    WHERE n_prior >= 3 AND sigma_c > 1e-9
    """


@query("q_rolling_zscore", oracle=ZSCORE_ORACLE)
def q_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: daily revenue per event type
    scored against the trailing 7-day window (6 preceding closed days),
    flagging |z| > 2 — the standard ops-metric anomaly monitor. Two
    exchanges total: the daily pre-aggregate (partial map-side combine
    shrinks events to types x days rows BEFORE the shuffle) and the
    per-type window partition; the frame is ROWS-bounded so state per
    key is 7 rows regardless of history length. At 100 TB the daily
    table is tiny — the window stage is never the bottleneck; the
    pre-aggregate carries it. Sample stddev on both engines; the
    sigma > 0 guard and n_prior >= 3 gate make the score well-defined.
    The scoring stage is shared with the streaming twin
    (q_streaming_zscore) via operators/windows.py:rolling_zscore."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"))
    return windows.rolling_zscore(daily)


@query(
    "q_entity_match",
    oracle="""
    WITH names AS (
      SELECT p_name, count(*) AS n_parts,
             regexp_extract(p_name, '([a-z]+)$', 1) AS block
      FROM part GROUP BY 1
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b, a.block,
           levenshtein(a.p_name, b.p_name) AS dist,
           a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
    FROM names a JOIN names b
      ON a.block = b.block AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 4
    """,
)
def q_entity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage / entity resolution over the product catalog:
    candidate duplicate listings are name pairs sharing a blocking key
    (the head noun) within edit distance 4 — the classic block-then-
    compare shape. The scale design is the point: the catalog first
    collapses to DISTINCT names with their occurrence counts (100 TB of
    listings -> unique-name table, shrunk BEFORE any pairing), then the
    self-join runs per block, so comparisons are sum(block_size^2) not
    n^2 — blocking is what makes linkage feasible at scale, exactly like
    LSH banding in operators/dedup.py. Levenshtein is engine-exact on
    both sides; `<` on the name pair gives each candidate once."""
    part = _t(spark, sf_dir, "part")
    names = (
        part.groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .withColumn("block", F.regexp_extract("p_name", r"([a-z]+)$", 1))
    )
    a = names.select(
        F.col("p_name").alias("name_a"), F.col("n_parts").alias("n_parts_a"), "block"
    )
    b = names.select(
        F.col("p_name").alias("name_b"), F.col("n_parts").alias("n_parts_b"),
        F.col("block").alias("block_b"),
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, (F.col("block") == F.col("block_b")) & (F.col("name_a") < F.col("name_b")))
        .where(dist <= 4)
        .select("name_a", "name_b", "block", dist.alias("dist"), "n_parts_a", "n_parts_b")
    )


MERGE_ORACLE = """
    WITH base AS (
      SELECT user_id, value, epoch_ms(ts) AS ts_ms FROM (
        SELECT user_id, value, ts,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts < TIMESTAMP '2024-01-16'
      ) WHERE rn = 1
    ),
    updates AS (
      SELECT user_id, value, epoch_ms(ts) AS ts_ms,
             CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op
      FROM (
        SELECT user_id, value, ts, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts >= TIMESTAMP '2024-01-16'
      ) WHERE rn = 1
    )
    SELECT coalesce(u.user_id, b.user_id) AS user_id,
           round(coalesce(u.value, b.value), 2) AS value,
           CAST(coalesce(u.ts_ms, b.ts_ms) AS BIGINT) AS last_ts_ms,
           CASE WHEN u.user_id IS NULL THEN 'unchanged'
                WHEN b.user_id IS NULL THEN 'inserted'
                ELSE 'updated' END AS status
    FROM base b FULL OUTER JOIN updates u ON b.user_id = u.user_id
    WHERE u.op IS NULL OR u.op <> 'delete'
    """


MERGE_CUT = "2024-01-16"


def merge_latest_per_key(side: DataFrame) -> DataFrame:
    """Compact an event slice to its latest row per user via the
    (ts, event_id) total order — rank-filter, WindowGroupLimit-eligible."""
    from pyspark.sql.window import Window

    rn = F.row_number().over(
        Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    )
    return (
        side.select("user_id", "value", "ts", "event_id", "event_type", rn.alias("rn"))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


def merge_apply(base_slice: DataFrame, updates_latest: DataFrame) -> DataFrame:
    """Full-outer MERGE of a compacted change batch into the compacted base
    snapshot: delete on tombstone, update on match, insert otherwise, with
    status labels. Shared by the batch query and the foreachBatch streaming
    twin so both hash-match the same oracle."""
    b = merge_latest_per_key(base_slice).select(
        "user_id", "value", F.unix_millis("ts").alias("ts_ms")
    ).alias("b")
    u = updates_latest.select(
        "user_id",
        "value",
        F.unix_millis("ts").alias("ts_ms"),
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
    ).alias("u")
    return (
        b.join(u, F.col("b.user_id") == F.col("u.user_id"), "full_outer")
        .where(F.col("u.op").isNull() | (F.col("u.op") != "delete"))
        .select(
            F.coalesce(F.col("u.user_id"), F.col("b.user_id")).alias("user_id"),
            F.round(F.coalesce(F.col("u.value"), F.col("b.value")), 2).alias("value"),
            F.coalesce(F.col("u.ts_ms"), F.col("b.ts_ms")).alias("last_ts_ms"),
            F.when(F.col("u.user_id").isNull(), F.lit("unchanged"))
            .when(F.col("b.user_id").isNull(), F.lit("inserted"))
            .otherwise(F.lit("updated"))
            .alias("status"),
        )
    )


@query("q_merge_upsert", oracle=MERGE_ORACLE)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (CDC apply): a change batch (latest event per
    key after the cut, 'error' = tombstone) merges into the base snapshot
    (latest state per key before the cut) — WHEN MATCHED AND op='delete'
    DELETE / WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT, with each
    surviving row labeled unchanged/updated/inserted. The lakehouse
    upsert path without a table format: both sides compact to one row
    per key via rank-filter windows (WindowGroupLimit-eligible) BEFORE
    the full-outer join, so the join carries key-cardinality rows, not
    history — at 100 TB the change batch is typically days smaller than
    the base and AQE picks a broadcast merge. Deterministic latest via
    (ts, event_id) total order."""
    ev = _t(spark, sf_dir, "events")
    cut = F.lit(MERGE_CUT).cast("timestamp")
    return merge_apply(
        ev.where(F.col("ts") < cut),
        merge_latest_per_key(ev.where(F.col("ts") >= cut)),
    )


@query(
    "q_top_paths",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) >= 600000
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    ),
    r AS (
      SELECT user_id, sid, event_type,
             row_number() OVER (PARTITION BY user_id, sid ORDER BY ts, event_id) AS rn
      FROM s
    ),
    p AS (
      SELECT user_id, sid, string_agg(event_type, '>' ORDER BY rn) AS path
      FROM r WHERE rn <= 3 GROUP BY 1, 2
    )
    SELECT path, count(*) AS n_sessions
    FROM p GROUP BY 1 ORDER BY n_sessions DESC, path LIMIT 10
    """,
)
def q_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user journeys: sessionize each user's timeline (10-minute gap,
    the q_session_window semantics built by hand so the path extraction
    can ride the same window pass), take each session's first 3 event
    types as a '>'-joined path, and count the most common journeys — the
    product-analytics query behind funnel DISCOVERY (q_funnel checks a
    known path; this finds the paths worth checking). ONE user-keyed
    exchange carries sessionization, session-id prefix sum, and the
    per-session rank — three window functions, zero extra shuffles: the
    user-keyed hash partitioning already satisfies the (user, sid)
    window's clustered-distribution requirement, so the plan has exactly
    two exchanges (user timeline + path counts), and the rn <= 3 filter
    pushes down as a WindowGroupLimit. The path aggregate carries one
    row per session; the top-10 is TakeOrdered. Ties are
    total-ordered by (ts, event_id); the session gap uses exact epoch-ms
    arithmetic."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ms = F.unix_millis(F.col("ts")) - F.unix_millis(F.lag("ts").over(w))
    new_s = F.when(gap_ms.isNull() | (gap_ms >= 600000), F.lit(1)).otherwise(F.lit(0))
    s = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum(new_s).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("sid"),
    )
    rn = F.row_number().over(Window.partitionBy("user_id", "sid").orderBy("ts", "event_id"))
    paths = (
        s.select("user_id", "sid", "event_type", rn.alias("rn"))
        .where(F.col("rn") <= 3)
        .groupBy("user_id", "sid")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                    lambda x: x["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(10)
    )


@query(
    "q_market_basket",
    oracle="""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    np AS (SELECT l_partkey, count(*) AS n FROM items GROUP BY 1),
    tot AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM items),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_ab
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT p.part_a, p.part_b, p.n_ab,
           na.n AS n_a, nb.n AS n_b,
           round(CAST(p.n_ab AS DOUBLE) * t.n_orders / (na.n * nb.n), 4) AS lift
    FROM pairs p
    JOIN np na ON na.l_partkey = p.part_a
    JOIN np nb ON nb.l_partkey = p.part_b
    CROSS JOIN tot t
    ORDER BY p.n_ab DESC, p.part_a, p.part_b
    LIMIT 20
    """,
)
def q_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket analysis (association-rule mining): the top co-
    purchased part pairs with support count and lift — the recsys /
    cross-sell primitive. ONE l_orderkey exchange carries the distinct
    (order, part) projection, the pair self-join, AND the per-order
    pairing (same-key join needs no second shuffle); pair cardinality is
    sum(basket_size^2) per order — bounded by the few-items-per-order
    shape, the same collision-proportional argument as LSH banding. The
    per-part counts broadcast back into the pair table (parts-cardinality
    lookup), lift is exact-integer products under one IEEE division, and
    the top-20 is TakeOrdered, never a global sort. At 100 TB you'd add
    a min-support pre-filter on np before the join — the plan shape
    stays identical."""
    li = _t(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    np_ = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n"))
    tot = items.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    # pair support rides the shared basket-explode build (see
    # _copurchase_pairs — 2 exchanges, no self-join); w IS the old
    # per-(part_a, part_b) co-occurrence count
    pairs = _copurchase_pairs(spark, sf_dir).select(
        F.col("x").alias("part_a"), F.col("y").alias("part_b"), F.col("w").alias("n_ab")
    )
    na = np_.select(F.col("l_partkey").alias("part_a"), F.col("n").alias("n_a"))
    nb = np_.select(F.col("l_partkey").alias("part_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(na), "part_a")
        .join(F.broadcast(nb), "part_b")
        .join(F.broadcast(tot))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            "n_a",
            "n_b",
            F.round(
                F.col("n_ab").cast("double") * F.col("n_orders") / (F.col("n_a") * F.col("n_b")), 4
            ).alias("lift"),
        )
        .orderBy(F.col("n_ab").desc(), "part_a", "part_b")
        .limit(20)
    )


@query(
    "q_expectations",
    oracle="""
    SELECT 'orders.o_orderkey.unique' AS check_name,
           (SELECT count(*) FROM orders) AS n_rows,
           (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders) AS n_violations
    UNION ALL
    SELECT 'orders.o_totalprice.positive',
           (SELECT count(*) FROM orders),
           (SELECT count(*) FROM orders WHERE o_totalprice IS NULL OR o_totalprice <= 0)
    UNION ALL
    SELECT 'orders.o_orderstatus.enum',
           (SELECT count(*) FROM orders),
           (SELECT count(*) FROM orders WHERE o_orderstatus NOT IN ('O', 'F', 'P'))
    UNION ALL
    SELECT 'lineitem.l_discount.range_0_1',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem
            WHERE l_discount IS NULL OR l_discount < 0 OR l_discount > 1)
    UNION ALL
    SELECT 'lineitem.l_quantity.min_1',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem WHERE l_quantity IS NULL OR l_quantity < 1)
    UNION ALL
    SELECT 'events.value.not_null',
           (SELECT count(*) FROM events),
           (SELECT count(*) FROM events WHERE value IS NULL)
    UNION ALL
    SELECT 'events.event_type.enum',
           (SELECT count(*) FROM events),
           (SELECT count(*) FROM events
            WHERE event_type NOT IN ('view', 'click', 'purchase', 'signup', 'error'))
    """,
)
def q_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract validation (expectation suite): column-level checks —
    uniqueness, positivity, value ranges, enum membership, non-null —
    each reported as (check_name, n_rows, n_violations), the
    Great-Expectations-style gate a pipeline runs BEFORE publishing a
    table (complementing q_integrity_audit's cross-table FK checks). All
    checks on one table fuse into a SINGLE scan-aggregate (conditional
    sums ride one pass — adding a check costs one column expression, not
    one scan), then unpivot via stack(); at 100 TB the whole suite is
    three table scans and three one-row aggregates, no exchange of any
    data rows."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    ev = _t(spark, sf_dir, "events")

    def viol(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    o = orders.agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("v_unique"),
        viol(F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0)).alias("v_pos"),
        viol(~F.col("o_orderstatus").isin("O", "F", "P")).alias("v_enum"),
    ).selectExpr(
        "stack(3, 'orders.o_orderkey.unique', n, v_unique,"
        " 'orders.o_totalprice.positive', n, v_pos,"
        " 'orders.o_orderstatus.enum', n, v_enum) AS (check_name, n_rows, n_violations)"
    )
    l = li.agg(
        F.count(F.lit(1)).alias("n"),
        viol(
            F.col("l_discount").isNull() | (F.col("l_discount") < 0) | (F.col("l_discount") > 1)
        ).alias("v_disc"),
        viol(F.col("l_quantity").isNull() | (F.col("l_quantity") < 1)).alias("v_qty"),
    ).selectExpr(
        "stack(2, 'lineitem.l_discount.range_0_1', n, v_disc,"
        " 'lineitem.l_quantity.min_1', n, v_qty) AS (check_name, n_rows, n_violations)"
    )
    e = ev.agg(
        F.count(F.lit(1)).alias("n"),
        viol(F.col("value").isNull()).alias("v_null"),
        viol(~F.col("event_type").isin("view", "click", "purchase", "signup", "error")).alias(
            "v_enum"
        ),
    ).selectExpr(
        "stack(2, 'events.value.not_null', n, v_null,"
        " 'events.event_type.enum', n, v_enum) AS (check_name, n_rows, n_violations)"
    )
    return o.unionByName(l).unionByName(e)


@query(
    "q_forecast_eval",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             sum(CAST(round(value * 100, 0) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2
    ),
    l AS (
      SELECT event_type, cents,
             lag(cents, 7) OVER (PARTITION BY event_type ORDER BY day) AS fc
      FROM daily
    )
    SELECT event_type, count(*) AS n_scored,
           avg(abs(cents - fc)) AS mae_cents,
           round(avg(abs(cents - fc) * 1.0 / cents), 4) AS mape
    FROM l WHERE fc IS NOT NULL
    GROUP BY 1
    """,
)
def q_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast baseline evaluation: seasonal-naive prediction (each day's
    revenue forecast = the value 7 days earlier) scored with MAE and MAPE
    per series — the sanity baseline every forecasting pipeline must beat
    before a model earns its keep, and the evaluation harness that scores
    the real model the same way. Exact-integer cents make the error terms
    engine-exact; MAE is one exact-sum division (emitted unrounded — the
    doubles are bit-identical), MAPE is rounded. Same two-exchange shape
    as q_rolling_zscore: daily pre-aggregate with map-side combine, then
    a ROWS-bounded per-series lag — 7 rows of window state per key at
    any history length."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"))
    w = Window.partitionBy("event_type").orderBy("day")
    scored = daily.select(
        "event_type", "cents", F.lag("cents", 7).over(w).alias("fc")
    ).where(F.col("fc").isNotNull())
    abs_err = F.abs(F.col("cents") - F.col("fc"))
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.avg(abs_err).alias("mae_cents"),
        # try_divide: a day whose values all round to 0 cents would make
        # ANSI raise on the MAPE term; DuckDB's x/0.0 is NULL and avg()
        # skips NULLs identically in both engines
        F.round(F.avg(F.try_divide(abs_err * F.lit(1.0), F.col("cents"))), 4).alias("mape"),
    )


@query(
    "q_rfm_segmentation",
    oracle="""
    WITH ref AS (SELECT max(o_orderdate) AS ref_d FROM orders),
    rfm AS (
      SELECT o_custkey,
             date_diff('day', max(o_orderdate), (SELECT ref_d FROM ref)) AS r_days,
             count(*) AS f,
             sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS m_cents
      FROM orders GROUP BY 1
    ),
    b AS (
      SELECT quantile_cont(r_days, 0.2) AS r1, quantile_cont(r_days, 0.4) AS r2,
             quantile_cont(r_days, 0.6) AS r3, quantile_cont(r_days, 0.8) AS r4,
             quantile_cont(f, 0.2) AS f1, quantile_cont(f, 0.4) AS f2,
             quantile_cont(f, 0.6) AS f3, quantile_cont(f, 0.8) AS f4,
             quantile_cont(m_cents, 0.2) AS m1, quantile_cont(m_cents, 0.4) AS m2,
             quantile_cont(m_cents, 0.6) AS m3, quantile_cont(m_cents, 0.8) AS m4
      FROM rfm
    )
    SELECT CAST(1 + (r_days > r1)::INT + (r_days > r2)::INT + (r_days > r3)::INT + (r_days > r4)::INT AS BIGINT) AS r_q,
           CAST(1 + (f > f1)::INT + (f > f2)::INT + (f > f3)::INT + (f > f4)::INT AS BIGINT) AS f_q,
           CAST(1 + (m_cents > m1)::INT + (m_cents > m2)::INT + (m_cents > m3)::INT + (m_cents > m4)::INT AS BIGINT) AS m_q,
           count(*) AS n_customers,
           avg(m_cents) AS avg_m_cents
    FROM rfm CROSS JOIN b
    GROUP BY 1, 2, 3
    """,
)
def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary
    quintiles) — the CRM workhorse. The scalable formulation is the
    point: a global ntile() would serialize every customer through ONE
    window task, so instead the quintile BOUNDARIES come from one exact
    percentile aggregate (a single row, broadcast back) and each
    customer scores itself with four comparisons — narrow, scan-speed,
    the same bounds-broadcast pattern as q_winsorize. Exact-integer
    day/count/cents inputs; Spark percentile ≡ DuckDB quantile_cont
    bit-for-bit (proven by q_exact_percentile); boundary comparisons on
    exact values make every quintile assignment engine-identical."""
    orders = _t(spark, sf_dir, "orders")
    ref = orders.agg(F.max("o_orderdate").alias("ref_d"))
    rfm = (
        orders.join(F.broadcast(ref))
        .groupBy("o_custkey")
        .agg(
            F.datediff(F.first("ref_d"), F.max("o_orderdate")).alias("r_days"),
            F.count(F.lit(1)).alias("f"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("m_cents"),
        )
    )
    bounds = rfm.agg(
        *[
            F.expr(f"percentile({c}, {q})").alias(f"{c[0]}{i}")
            for c in ("r_days", "f", "m_cents")
            for i, q in enumerate((0.2, 0.4, 0.6, 0.8), start=1)
        ]
    )

    def score(col, pfx):
        s = F.lit(1)
        for i in (1, 2, 3, 4):
            s = s + (F.col(col) > F.col(f"{pfx}{i}")).cast("int")
        return s.cast("long")

    return (
        rfm.join(F.broadcast(bounds))
        .select(
            score("r_days", "r").alias("r_q"),
            score("f", "f").alias("f_q"),
            score("m_cents", "m").alias("m_q"),
            "m_cents",
        )
        .groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.avg("m_cents").alias("avg_m_cents"),
        )
    )


def _copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted co-purchase part pairs (x < y, w = number of orders carrying
    both) — the shared edge build of the whole graph family (pagerank,
    triangle, densest, label-prop, k-core, assortativity, Adamic-Adar,
    link-prediction).

    r10 optimization (guide §2.3/§2.4): ONE order-keyed collect_set
    aggregation + an array-side ordered-pair explode replaces the old
    distinct-items self-join — 2 exchanges (baskets, pair rollup) instead
    of 3 (items distinct, the join's re-exchange, pair rollup) and no join.
    The sorted basket array emits each unordered pair exactly once (x < y
    by construction), so groupBy(x, y).count() equals the old
    items-self-join pair count row for row. Basket-quadratic output is
    inherent to co-purchase semantics and unchanged; at 100 TB the explode
    stays order-local (no shuffle) and the rollup is the same
    collision-proportional exchange as before.

    Pair emission is two chained GENERATORS (posexplode + explode(slice)),
    not the earlier flatten(transform(..., transform(...))) nested
    higher-order function: HOF lambda bodies evaluate INTERPRETED (the
    q_winnowing_fingerprint lesson), and building every per-element slice
    inside a lambda allocated O(basket²) intermediate arrays per basket.
    Generators run inside codegen; measured −31% on the pair rollup at
    sf0.1 (same rows, same rollup exchange)."""
    li = _t(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    # posexplode yields 0-based i; slice is 1-based, so slice(ps, i + 2, n)
    # is exactly the strictly-after suffix — (ps[i], ps[j]) for j > i, the
    # identical pair set the nested-transform form emitted
    pairs = baskets.select(F.posexplode("ps").alias("i", "x"), "ps").select(
        "x", F.explode(F.slice("ps", F.col("i") + 2, F.size("ps"))).alias("y")
    )
    return pairs.groupBy("x", "y").agg(F.count(F.lit(1)).alias("w"))


@query(
    "q_pagerank",
    oracle="""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS (
      SELECT a.l_partkey AS src, b.l_partkey AS dst
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2
    ),
    deg AS (SELECT src, count(*) AS d FROM e0 GROUP BY 1),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg),
    r0 AS (SELECT src AS node, CAST(1 AS DOUBLE) / n.n_nodes AS r FROM deg, n),
    it1 AS (
      SELECT e.dst AS node,
             round(CAST(0.15 AS DOUBLE) / n.n_nodes
                   + CAST(0.85 AS DOUBLE) * sum(r.r / g.d), 9) AS r
      FROM e0 e JOIN r0 r ON r.node = e.src JOIN deg g ON g.src = e.src
      CROSS JOIN n GROUP BY e.dst, n.n_nodes
    ),
    it2 AS (
      SELECT e.dst AS node,
             round(CAST(0.15 AS DOUBLE) / n.n_nodes
                   + CAST(0.85 AS DOUBLE) * sum(r.r / g.d), 9) AS r
      FROM e0 e JOIN it1 r ON r.node = e.src JOIN deg g ON g.src = e.src
      CROSS JOIN n GROUP BY e.dst, n.n_nodes
    ),
    it3 AS (
      SELECT e.dst AS node,
             round(CAST(0.15 AS DOUBLE) / n.n_nodes
                   + CAST(0.85 AS DOUBLE) * sum(r.r / g.d), 9) AS r
      FROM e0 e JOIN it2 r ON r.node = e.src JOIN deg g ON g.src = e.src
      CROSS JOIN n GROUP BY e.dst, n.n_nodes
    )
    SELECT it3.node AS part_key, CAST(g.d AS BIGINT) AS degree, it3.r AS pagerank
    FROM it3 JOIN deg g ON g.src = it3.node
    ORDER BY it3.r DESC, it3.node LIMIT 20
    """,
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-purchase graph (3 unrolled power
    iterations, damping 0.85) — the link-centrality primitive for
    catalog/graph analytics, and the repo's second iterative distributed
    algorithm next to dedup_clusters' label propagation. Scale shape:
    the rank vector is node-cardinality and joins the edge table
    BROADCAST (r/deg shares, k rows per node); each iteration costs one
    dst-keyed aggregate whose exchange carries node cardinality after
    map-side combine — the 2.4M-edge table itself never re-shuffles
    (same-key reuse). Per-iteration round(·,9) re-synchronizes both
    engines, so cross-engine double drift cannot compound across
    iterations and the whole fixed-point prefix is hash-matched
    (operators/relational.py:pagerank). At
    corpus scale: persist the edge table (it is scanned per iteration),
    swap the broadcast for a src-bucketed co-partitioned join once ranks
    outgrow the threshold, and min-support-filter the basket pairs
    (the q_market_basket argument) to bound edge cardinality."""
    p = _copurchase_pairs(spark, sf_dir).select("x", "y")
    edges = p.select(F.col("x").alias("src"), F.col("y").alias("dst")).unionAll(
        p.select(F.col("y").alias("src"), F.col("x").alias("dst"))
    )
    # materialize the edge table ONCE (lineage-truncating, per-invocation —
    # not CacheManager-shared): every iteration re-reads the checkpointed
    # RDD instead of re-running the basket self-join + distinct; the
    # dedup_clusters iteration pattern, and what "persist the edges" means
    # at cluster scale (there: reliable checkpoint to survive executor loss)
    edges = edges.localCheckpoint(eager=False)
    # ONE persisted degree table shared by the power iteration's broadcasts
    # and the final degree join (r10 — previously aggregated twice)
    deg = scoped_persist(
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("d"))
        .select(F.col("src").alias("dnode"), "d")
    )
    ranks = relational.pagerank(edges, rounds=3, damping=0.85, deg=deg)
    return (
        ranks.join(F.broadcast(deg), ranks["node"] == deg["dnode"])
        .select(F.col("node").alias("part_key"), F.col("d").cast("long").alias("degree"), F.col("r").alias("pagerank"))
        .orderBy(F.col("pagerank").desc(), F.col("part_key"))
        .limit(20)
    )


@query(
    "q_triangle_count",
    oracle="""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS x, b.l_partkey AS y
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT x AS node FROM e UNION ALL SELECT y FROM e
      ) GROUP BY 1
    ),
    o AS (
      SELECT CASE WHEN (dx.d, e.x) < (dy.d, e.y) THEN e.x ELSE e.y END AS u,
             CASE WHEN (dx.d, e.x) < (dy.d, e.y) THEN e.y ELSE e.x END AS v,
             CASE WHEN (dx.d, e.x) < (dy.d, e.y) THEN dy.d ELSE dx.d END AS dv
      FROM e JOIN deg dx ON dx.node = e.x JOIN deg dy ON dy.node = e.y
    ),
    wedge AS (
      SELECT CASE WHEN (e1.dv, e1.v) < (e2.dv, e2.v) THEN e1.v ELSE e2.v END AS w1,
             CASE WHEN (e1.dv, e1.v) < (e2.dv, e2.v) THEN e2.v ELSE e1.v END AS w2
      FROM o e1 JOIN o e2 ON e1.u = e2.u AND e1.v < e2.v
    ),
    tri AS (
      SELECT count(*) AS n_tri FROM wedge w JOIN o ON o.u = w.w1 AND o.v = w.w2
    ),
    stats AS (
      SELECT (SELECT count(*) FROM deg) AS n_nodes,
             (SELECT count(*) FROM e) AS n_edges,
             (SELECT sum(d * (d - 1) / 2) FROM deg) AS n_wedges
    )
    SELECT CAST(s.n_nodes AS BIGINT) AS n_nodes, CAST(s.n_edges AS BIGINT) AS n_edges,
           CAST(s.n_wedges AS BIGINT) AS n_wedges, CAST(t.n_tri AS BIGINT) AS n_triangles,
           round(3 * t.n_tri * CAST(1 AS DOUBLE) / s.n_wedges, 6) AS clustering_coef
    FROM stats s CROSS JOIN tri t
    """,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting with degree-ordered orientation + the global
    clustering coefficient (3·triangles / wedges) over the part
    co-purchase graph — the graph-density companion to q_pagerank
    (community structure, recommendation quality, and near-clique
    detection all start here). The orientation is the scale argument:
    directing every edge from its lower-(degree, id) endpoint bounds
    out-degrees at O(sqrt(m)), so the wedge self-join generates
    Σ outdeg² candidates instead of Σ deg² — the classic distributed
    triangle algorithm (each triangle counted exactly once from its
    minimum-rank vertex, no post-hoc dedup). One edge-build exchange,
    one u-keyed wedge join, one (w1, w2)-keyed closure probe; the wedge
    pair is rank-canonicalized at emit so the closure is a plain
    equi-join (no OR-condition nested loop). Exact integers throughout;
    the coefficient is one final division."""
    e = _copurchase_pairs(spark, sf_dir).select("x", "y").localCheckpoint(eager=False)
    deg = (
        e.select(F.col("x").alias("node"))
        .unionAll(e.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    dx = deg.select(F.col("node").alias("nx"), F.col("d").alias("dxv"))
    dy = deg.select(F.col("node").alias("ny"), F.col("d").alias("dyv"))
    lower = (F.col("dxv") < F.col("dyv")) | ((F.col("dxv") == F.col("dyv")) & (F.col("x") < F.col("y")))
    o = (
        e.join(F.broadcast(dx), F.col("x") == F.col("nx"))
        .join(F.broadcast(dy), F.col("y") == F.col("ny"))
        .select(
            F.when(lower, F.col("x")).otherwise(F.col("y")).alias("u"),
            F.when(lower, F.col("y")).otherwise(F.col("x")).alias("v"),
            F.when(lower, F.col("dyv")).otherwise(F.col("dxv")).alias("dv"),
        )
        .localCheckpoint(eager=False)
    )
    e1 = o.select(F.col("u").alias("u1"), F.col("v").alias("v1"), F.col("dv").alias("dv1"))
    e2 = o.select(F.col("u").alias("u2"), F.col("v").alias("v2"), F.col("dv").alias("dv2"))
    first_lower = (F.col("dv1") < F.col("dv2")) | (
        (F.col("dv1") == F.col("dv2")) & (F.col("v1") < F.col("v2"))
    )
    wedge = (
        e1.join(e2, (F.col("u1") == F.col("u2")) & (F.col("v1") < F.col("v2")))
        .select(
            F.when(first_lower, F.col("v1")).otherwise(F.col("v2")).alias("w1"),
            F.when(first_lower, F.col("v2")).otherwise(F.col("v1")).alias("w2"),
        )
    )
    o3 = o.select(F.col("u").alias("u3"), F.col("v").alias("v3"))
    tri = wedge.join(o3, (F.col("w1") == F.col("u3")) & (F.col("w2") == F.col("v3"))).agg(
        F.count(F.lit(1)).alias("n_tri")
    )
    stats = (
        deg.agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_wedges"),
        )
        .crossJoin(F.broadcast(e.agg(F.count(F.lit(1)).alias("n_edges"))))
    )
    return stats.crossJoin(F.broadcast(tri)).select(
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("n_edges").cast("long").alias("n_edges"),
        F.col("n_wedges").cast("long").alias("n_wedges"),
        F.col("n_tri").cast("long").alias("n_triangles"),
        # try_divide: a wedge-free graph (all degree-1 nodes) has 0/0 here
        F.round(F.try_divide(F.lit(3) * F.col("n_tri") * F.lit(1.0), F.col("n_wedges")), 6).alias("clustering_coef"),
    )


@query(
    "q_changepoint_cusum",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, count(*) AS n_days, sum(cents) AS total
      FROM daily GROUP BY 1
    ),
    pre AS (
      SELECT d.event_type, d.day, t.n_days, t.total,
             sum(d.cents) OVER (PARTITION BY d.event_type ORDER BY d.day) AS prefix,
             row_number() OVER (PARTITION BY d.event_type ORDER BY d.day) AS k
      FROM daily d JOIN tot t USING (event_type)
    ),
    dev AS (
      SELECT event_type, day, n_days, total,
             abs(n_days * prefix - k * total) AS abs_num
      FROM pre
    ),
    best AS (
      SELECT event_type, day AS cp_day, n_days, total, abs_num,
             row_number() OVER (PARTITION BY event_type ORDER BY abs_num DESC, day ASC) AS r
      FROM dev
    )
    SELECT event_type, CAST(n_days AS BIGINT) AS n_days, CAST(total AS BIGINT) AS total_cents,
           CAST(cp_day AS VARCHAR) AS cp_day, CAST(abs_num AS BIGINT) AS max_dev_num,
           round(abs_num * CAST(1 AS DOUBLE) / n_days / 100, 2) AS max_dev_dollars
    FROM best WHERE r = 1
    """,
)
def q_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event-type revenue series: the day
    k maximizing |S_k| where S_k = Σ_{i≤k}(x_i − mean) — the level-shift
    detector that localizes WHEN a metric moved (the companion to
    q_rolling_zscore's does-today-look-wrong monitor). Exactness trick:
    S_k = (n·prefix_k − k·total)/n, so the argmax runs entirely on the
    exact integer numerator (integer-cents domain; no float ever enters
    the comparison, so the chosen day cannot flicker cross-engine); the
    reported magnitude is one final division. Scale shape: the daily
    pre-aggregate shrinks events to types×days WITH map-side combine
    before any shuffle (the rolling_zscore pattern); prefix sums and the
    argmax rank sort partition-locally within each type."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("cents"))
    tot = daily.groupBy(F.col("event_type").alias("t_type")).agg(
        F.count(F.lit(1)).alias("n_days"), F.sum("cents").alias("total")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    pre = (
        daily.join(F.broadcast(tot), daily["event_type"] == F.col("t_type"))
        .select(
            "event_type",
            "day",
            "n_days",
            "total",
            F.sum("cents").over(w).alias("prefix"),
            F.row_number().over(w).alias("k"),
        )
    )
    dev = pre.select(
        "event_type",
        "day",
        "n_days",
        "total",
        F.abs(F.col("n_days") * F.col("prefix") - F.col("k") * F.col("total")).alias("abs_num"),
    )
    rw = Window.partitionBy("event_type").orderBy(F.col("abs_num").desc(), F.col("day").asc())
    return (
        dev.withColumn("r", F.row_number().over(rw))
        .where(F.col("r") == 1)
        .select(
            "event_type",
            F.col("n_days").cast("long").alias("n_days"),
            F.col("total").cast("long").alias("total_cents"),
            F.col("day").cast("string").alias("cp_day"),
            F.col("abs_num").cast("long").alias("max_dev_num"),
            F.round(F.col("abs_num") * F.lit(1.0) / F.col("n_days") / 100, 2).alias("max_dev_dollars"),
        )
    )


def km_curve(u: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming survival queries: from a
    per-user (f, l) first/last-event table, label churn vs censoring
    against the observation horizon (max l) and produce the Kaplan-Meier
    day-indexed curve. Everything after the user table is bounded by
    observation days; the ln-product runs in identical row order in both
    engines."""
    from pyspark.sql.window import Window

    mx = u.agg(F.max("l").alias("m"))
    lab = u.crossJoin(F.broadcast(mx)).select(
        F.datediff(F.col("l").cast("date"), F.col("f").cast("date")).alias("day"),
        F.when(F.col("l") < F.col("m") - F.expr("INTERVAL 1 DAY"), 1).otherwise(0).alias("churned"),
    )
    evt = lab.groupBy("day").agg(
        F.sum("churned").alias("d"), F.sum(F.lit(1) - F.col("churned")).alias("c")
    )
    risk = evt.select(
        "day",
        "d",
        "c",
        F.sum(F.col("d") + F.col("c")).over(Window.orderBy(F.col("day").desc())).alias("n_risk"),
    )
    f = risk.select(
        "day",
        "d",
        "c",
        "n_risk",
        F.when(F.col("d") == F.col("n_risk"), F.lit(0.0))
        .otherwise(F.log((F.col("n_risk") - F.col("d")) * F.lit(1.0) / F.col("n_risk")))
        .alias("lnf"),
        F.when(F.col("d") == F.col("n_risk"), 1).otherwise(0).alias("zero"),
    )
    s = f.select(
        "day",
        "d",
        "c",
        "n_risk",
        F.sum("lnf").over(Window.orderBy("day")).alias("lns"),
        F.sum("zero").over(Window.orderBy("day")).alias("zeros"),
    )
    return s.select(
        F.col("day").cast("long").alias("day"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").cast("long").alias("n_churned"),
        F.col("c").cast("long").alias("n_censored"),
        F.when(F.col("zeros") > 0, F.lit(0.0)).otherwise(F.round(F.exp("lns"), 6)).alias("survival"),
    )


@query(
    "q_survival_curve",
    oracle="""
    WITH u AS (
      SELECT user_id, min(ts) AS f, max(ts) AS l
      FROM events GROUP BY 1
    ),
    mx AS (SELECT max(ts) AS m FROM events),
    lab AS (
      SELECT user_id, date_diff('day', f, l) AS lt,
             CASE WHEN l < mx.m - INTERVAL 1 DAY THEN 1 ELSE 0 END AS churned
      FROM u, mx
    ),
    ev AS (
      SELECT lt AS day, sum(churned) AS d, sum(1 - churned) AS c
      FROM lab GROUP BY 1
    ),
    risk AS (
      SELECT day, d, c,
             sum(d + c) OVER (ORDER BY day DESC) AS n_risk
      FROM ev
    ),
    f AS (
      SELECT day, d, c, n_risk,
             CASE WHEN d = n_risk THEN 0.0
                  ELSE ln((n_risk - d) * CAST(1 AS DOUBLE) / n_risk) END AS lnf,
             CASE WHEN d = n_risk THEN 1 ELSE 0 END AS zero
      FROM risk
    ),
    s AS (
      SELECT day, d, c, n_risk,
             sum(lnf) OVER (ORDER BY day) AS lns,
             sum(zero) OVER (ORDER BY day) AS zeros
      FROM f
    )
    SELECT CAST(day AS BIGINT) AS day, CAST(n_risk AS BIGINT) AS n_risk,
           CAST(d AS BIGINT) AS n_churned, CAST(c AS BIGINT) AS n_censored,
           CASE WHEN zeros > 0 THEN 0.0 ELSE round(exp(lns), 6) END AS survival
    FROM s
    """,
)
def q_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve over user lifetimes (days from first to
    last event), with right-censoring: users still active within a day of
    the observation horizon are censored, not churned — the
    retention-analysis estimator that q_cohort_retention's raw triangle
    feeds into (KM is the principled answer when observation windows are
    unequal). S(t) = Π_{k≤t}(1 − d_k/n_k) over the day-indexed event
    table; the risk set n_k is a suffix sum over the bounded lifetime
    table. Determinism: the product is computed as exp of a running sum
    of ln-factors — the window adds rows in day order, so both engines
    sum the identical sequence in the identical order, and a d=n_risk
    terminal day (everyone at risk churns) short-circuits to exactly 0
    through an integer flag instead of ln(0). Scale shape: one user-keyed
    aggregate collapses events to users, one horizon scalar broadcasts;
    everything after is lifetime-table-sized (≤ observation days)."""
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(F.min("ts").alias("f"), F.max("ts").alias("l"))
    return km_curve(u)


@query(
    "q_k_anonymity",
    oracle="""
    WITH q AS (
      SELECT event_type, dayofmonth(ts) AS dom,
             CAST(floor(value / 100) AS BIGINT) AS vband, count(*) AS k
      FROM events GROUP BY 1, 2, 3
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(min(k) AS BIGINT) AS min_k,
           CAST(sum(CASE WHEN k < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_small_classes,
           CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
           round(sum(CASE WHEN k < 5 THEN k ELSE 0 END) * CAST(1 AS DOUBLE) / sum(k), 6)
             AS at_risk_frac
    FROM q GROUP BY event_type
    """,
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifier tuples (event_type ×
    day-of-month × value band): per type, the number of equivalence
    classes smaller than k=5, the rows inside them (re-identification
    exposure), and the minimum class size — the privacy-side companion to
    q_pii_redact (redaction hides direct identifiers; THIS measures
    whether combinations of innocent columns still single people out,
    the release gate before publishing any derived dataset). One
    quasi-tuple count exchange (map-side combined, bounded by the tuple
    domain), then a types-sized rollup; exact integers to one final
    division."""
    ev = _t(spark, sf_dir, "events")
    q = ev.groupBy(
        "event_type",
        F.dayofmonth("ts").alias("dom"),
        F.floor(F.col("value") / 100).cast("long").alias("vband"),
    ).agg(F.count(F.lit(1)).alias("k"))
    return q.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.min("k").cast("long").alias("min_k"),
        F.sum(F.when(F.col("k") < 5, 1).otherwise(0)).cast("long").alias("n_small_classes"),
        F.sum(F.when(F.col("k") < 5, F.col("k")).otherwise(0)).cast("long").alias("n_rows_at_risk"),
        F.round(
            F.sum(F.when(F.col("k") < 5, F.col("k")).otherwise(0)) * F.lit(1.0) / F.sum("k"), 6
        ).alias("at_risk_frac"),
    )


@query(
    "q_densest_subgraph",
    oracle="""
    WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS MATERIALIZED (
      SELECT a.l_partkey AS x, b.l_partkey AS y
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    d0 AS MATERIALIZED (SELECT node, count(*) AS d FROM (SELECT x AS node FROM e0 UNION ALL SELECT y FROM e0) GROUP BY 1),
    t0 AS MATERIALIZED (SELECT count(*) AS n, sum(d) AS sd FROM d0),
    k1 AS MATERIALIZED (SELECT node FROM d0, t0 WHERE d * t0.n >= t0.sd),
    e1 AS MATERIALIZED (
      SELECT e.x, e.y FROM e0 e
      JOIN k1 ka ON ka.node = e.x JOIN k1 kb ON kb.node = e.y
    ),
    d1 AS MATERIALIZED (SELECT node, count(*) AS d FROM (SELECT x AS node FROM e1 UNION ALL SELECT y FROM e1) GROUP BY 1),
    t1 AS MATERIALIZED (SELECT count(*) AS n, sum(d) AS sd FROM d1),
    k2 AS MATERIALIZED (SELECT node FROM d1, t1 WHERE d * t1.n >= t1.sd),
    e2 AS MATERIALIZED (
      SELECT e.x, e.y FROM e1 e
      JOIN k2 ka ON ka.node = e.x JOIN k2 kb ON kb.node = e.y
    ),
    d2 AS MATERIALIZED (SELECT node, count(*) AS d FROM (SELECT x AS node FROM e2 UNION ALL SELECT y FROM e2) GROUP BY 1),
    t2 AS MATERIALIZED (SELECT count(*) AS n, sum(d) AS sd FROM d2),
    k3 AS MATERIALIZED (SELECT node FROM d2, t2 WHERE d * t2.n >= t2.sd),
    e3 AS MATERIALIZED (
      SELECT e.x, e.y FROM e2 e
      JOIN k3 ka ON ka.node = e.x JOIN k3 kb ON kb.node = e.y
    ),
    d3 AS MATERIALIZED (SELECT node, count(*) AS d FROM (SELECT x AS node FROM e3 UNION ALL SELECT y FROM e3) GROUP BY 1),
    stats AS (
      SELECT 0 AS round, (SELECT count(*) FROM d0) AS n_nodes, (SELECT count(*) FROM e0) AS n_edges
      UNION ALL SELECT 1, (SELECT count(*) FROM d1), (SELECT count(*) FROM e1)
      UNION ALL SELECT 2, (SELECT count(*) FROM d2), (SELECT count(*) FROM e2)
      UNION ALL SELECT 3, (SELECT count(*) FROM d3), (SELECT count(*) FROM e3)
    )
    SELECT CAST(round AS BIGINT) AS round, CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(n_edges AS BIGINT) AS n_edges,
           CASE WHEN n_nodes > 0
                THEN round(n_edges * CAST(1 AS DOUBLE) / n_nodes, 6) END AS density
    FROM stats
    """,
)
def q_densest_subgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charikar greedy densest-subgraph peeling on the co-purchase graph:
    each round removes every node whose degree is below the current
    average (the comparison runs as deg·n ≥ Σdeg — exact integers, no
    division enters the peel decision); the best round over the peeling
    sequence is a 2-approximation of the densest subgraph (the community-mining / spam-cluster primitive beside
    q_pagerank and q_triangle_count; in curation it surfaces tightly
    co-occurring boilerplate families). Three unrolled rounds keep the
    fixed-point declarative and hash-checkable (the loop-until-stable
    form is dedup_clusters' iteration with localCheckpoint per round).
    Scale shape: each round = one degree aggregate (node-cardinality)
    whose one-row rollup serves BOTH the stats row and the peel
    threshold (Σdeg = 2·|E|, so the edge count needs no second
    aggregate), + one broadcast-filtered edge semi-join; edges
    localCheckpoint per round so the plan stays shallow."""
    edges = _copurchase_pairs(spark, sf_dir).select("x", "y").localCheckpoint(eager=False)
    return densest_peel_rounds(edges, 4)


def densest_peel_rounds(edges: DataFrame, n_rounds: int) -> DataFrame:
    """Charikar peel over an (x, y) edge table (x < y, deduplicated):
    per-round (round, n_nodes, n_edges, density) stats. One one-row
    (n, Σdeg) rollup per round drives both the stats row and the exact
    integer peel threshold; kept-node sets broadcast into the edge
    semi-join; per-round lazy localCheckpoint keeps the plan shallow."""

    def degrees(e):
        return (
            e.select(F.col("x").alias("node"))
            .unionAll(e.select(F.col("y").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )

    rounds = []
    cur = edges
    for r in range(n_rounds):
        # query-scoped persist (r10): each round's degree table feeds the
        # stats rollup, the peel-threshold broadcast AND the keep filter —
        # unshared, the node aggregate re-scans the round's edge table 3x
        deg = scoped_persist(degrees(cur))
        tot = deg.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("d"), F.lit(0)).alias("sd"),
        )
        stats = tot.select(
            F.lit(r).alias("round"),
            F.col("n").alias("n_nodes"),
            F.expr("sd DIV 2").alias("n_edges"),
        )
        rounds.append(stats)
        if r == n_rounds - 1:
            break
        keep = (
            deg.crossJoin(F.broadcast(tot))
            .where(F.col("d") * F.col("n") >= F.col("sd"))
            .select("node")
        )
        ka = keep.select(F.col("node").alias("kx"))
        kb = keep.select(F.col("node").alias("ky"))
        cur = (
            cur.join(F.broadcast(ka), F.col("x") == F.col("kx"))
            .join(F.broadcast(kb), F.col("y") == F.col("ky"))
            .select("x", "y")
            .localCheckpoint(eager=False)
        )
    out = rounds[0]
    for st in rounds[1:]:
        out = out.unionAll(st)
    return out.select(
        F.col("round").cast("long").alias("round"),
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("n_edges").cast("long").alias("n_edges"),
        F.when(
            F.col("n_nodes") > 0,
            F.round(F.col("n_edges") * F.lit(1.0) / F.col("n_nodes"), 6),
        ).alias("density"),
    )


@query(
    "q_interval_join",
    oracle="""
    WITH iv AS (
      SELECT l_suppkey AS k, l_orderkey AS o, l_linenumber AS ln,
             CAST(l_shipdate AS DATE) AS s,
             CAST(l_shipdate AS DATE) + CAST(l_quantity AS INT) AS e
      FROM lineitem WHERE l_suppkey <= 20
    )
    SELECT a.k AS suppkey,
           CAST(count(*) AS BIGINT) AS n_overlapping_pairs,
           CAST(sum(date_diff('day', GREATEST(a.s, b.s), LEAST(a.e, b.e)) + 1) AS BIGINT)
             AS total_overlap_days
    FROM iv a JOIN iv b
      ON a.k = b.k
     AND (a.o < b.o OR (a.o = b.o AND a.ln < b.ln))
     AND a.s <= b.e AND b.s <= a.e
    GROUP BY a.k
    """,
)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join: per supplier, pairs of shipments whose
    ship→receipt windows intersect, with total overlap days — the
    concurrent-exposure / double-booking primitive (two INTERVAL sides,
    vs q_range_join's point-in-window and q_interval_concurrency's
    sweep-line counts). The transit window is ship → ship+quantity days
    (the schema carries no receipt date; quantity ≤ 50 keeps intervals
    bounded). Gridded into 64-day bins, so each interval touches ≤2
    bins; each pair meets
    ONLY in the later interval's first bin, so no duplicate pairs and
    no post-join dedup; pair identity (orderkey, linenumber) ordering
    excludes self and mirror pairs. Overlap days are exact integer
    datediffs. Keyed to 20 suppliers to keep the oracle's naive
    inequality join honest at test scale; the bucketed plan is the
    100 TB path."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_suppkey") <= 20)
    iv = li.select(
        F.col("l_suppkey").alias("k"),
        F.col("l_orderkey").alias("o"),
        F.col("l_linenumber").alias("ln"),
        F.col("l_shipdate").cast("date").alias("s"),
        F.date_add(F.col("l_shipdate").cast("date"), F.col("l_quantity").cast("int")).alias("e"),
    )
    pairs = relational.interval_overlap_join(iv, iv, on="k", start="s", end="e", bucket_days=64)
    ordered = pairs.where(
        (F.col("l.o") < F.col("r.o"))
        | ((F.col("l.o") == F.col("r.o")) & (F.col("l.ln") < F.col("r.ln")))
    )
    return ordered.groupBy(F.col("l.k").alias("suppkey")).agg(
        F.count(F.lit(1)).alias("n_overlapping_pairs"),
        F.sum(
            F.datediff(
                F.least(F.col("l.e"), F.col("r.e")), F.greatest(F.col("l.s"), F.col("r.s"))
            )
            + 1
        ).alias("total_overlap_days"),
    )


_ACF_LAGS = list(range(1, 8))

_ACF_ORACLE = (
    """
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             sum(CAST(round(value * 100, 0) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2
    ), lagged AS (
"""
    + "\n      UNION ALL\n".join(
        f"""      SELECT event_type, CAST({lag} AS BIGINT) AS lag, cents,
             lag(cents, {lag}) OVER (PARTITION BY event_type ORDER BY day) AS y
      FROM daily"""
        for lag in _ACF_LAGS
    )
    + """
    ), m AS (
      SELECT event_type, lag,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(cents) AS DOUBLE) AS sx,
             CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(cents * cents) AS DOUBLE) AS sxx,
             CAST(sum(y * y) AS DOUBLE) AS syy,
             CAST(sum(cents * y) AS DOUBLE) AS sxy
      FROM lagged WHERE y IS NOT NULL
      GROUP BY event_type, lag
    )
    SELECT event_type, lag, CAST(n AS BIGINT) AS n_pairs,
           round((n * sxy - sx * sy)
                 / (sqrt(greatest(0, n * sxx - sx * sx)) * sqrt(greatest(0, n * syy - sy * sy))),
                 6) AS acf
    FROM m
    """
)


@query("q_acf_daily", oracle=_ACF_ORACLE)
def q_acf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of daily revenue per event type at lags
    1–7 — the seasonality diagnostic that justifies (or kills)
    q_forecast_eval's seasonal-naive baseline: a weekly cycle shows as
    an acf(7) spike. Events shrink to exact-integer daily cents FIRST
    (map-side combined, types×days rows); the 7 lags are lag() columns
    over that bounded table unpivoted long — one moment aggregate on a
    7×-days table, never a self-join. The correlation derives from exact
    integer moment sums with the expression tree mirrored verbatim in the
    oracle (the q_stats_agg discipline), so the 6dp rounding cannot flip
    across engines or partitionings."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"))
    return acf_tail(daily)


def acf_tail(daily: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming ACF queries: from a
    (event_type, day, cents) daily table, the lag-1..7 autocorrelations.
    Both paths run the identical lag/corr expressions on the identical
    bounded table, so the streaming twin hash-matches the batch oracle."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "cents",
        *[F.lag("cents", lag).over(w).alias(f"_l{lag}") for lag in _ACF_LAGS],
    )
    stack = ", ".join(f"{lag}L, _l{lag}" for lag in _ACF_LAGS)
    long = lagged.select(
        "event_type", "cents", F.expr(f"stack({len(_ACF_LAGS)}, {stack}) AS (lag, y)")
    ).where(F.col("y").isNotNull())
    # Exact-integer moment sums (daily cents are bigint; the squared/cross
    # products sum as decimal(38,0) — the q_stats_agg discipline — so a
    # large deployment's cents² terms cannot overflow the long sum under
    # ANSI; DuckDB's sum already widens to int128), cast to double once,
    # then combined through relational.corr_from_moments — the same
    # expression tree the oracle mirrors verbatim: builtin corr is
    # Welford-merged in partition order (and under ANSI raises
    # DIVIDE_BY_ZERO on a constant series), so a correlation on a 6dp
    # rounding boundary could flip across engines/partitionings.
    m = long.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("cents").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        # widen BEFORE multiplying so the product itself is decimal — a
        # long·long product would overflow before the cast applies
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).cast("double").alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).cast("double").alias("syy"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("y")).cast("double").alias("sxy"),
    )
    return m.select(
        "event_type",
        "lag",
        F.col("n").cast("long").alias("n_pairs"),
        F.round(
            relational.corr_from_moments(
                F.col("n"), F.col("sx"), F.col("sy"), F.col("sxx"), F.col("syy"), F.col("sxy")
            ),
            6,
        ).alias("acf"),
    )


_PROFILE_COLS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_returnflag", "l_linestatus",
]

_PROFILE_ORACLE = (
    "    SELECT * FROM (\n"
    + "\n      UNION ALL\n".join(
        f"""      SELECT '{c}' AS column_name,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(*) - count({c}) AS BIGINT) AS n_null,
             CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
             round(count(DISTINCT {c}) * CAST(1 AS DOUBLE) / count(*), 6) AS distinct_ratio
      FROM lineitem"""
        for c in _PROFILE_COLS
    )
    + "\n    )"
)


@query("q_table_profile", oracle=_PROFILE_ORACLE)
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling: per-column row/null/exact-distinct counts and
    cardinality ratio — the first query anyone runs against an unknown
    table, and the statistics a join planner or partitioning choice
    starts from (high-cardinality → join key candidate; low → dimension
    /partition candidate). ONE pass over the table: Spark plans the
    multi-column count(DISTINCT) set via a single Expand (each row fans
    to #cols tagged copies, partial-deduped map-side) rather than a scan
    per column — at 100 TB, 1 scan instead of 6. Key and flag columns
    only: exact distincts on them are join-planning facts; for float
    metrics the right tool is q_approx_distinct's HLL (documented
    contrast). All-integer outputs to one ratio division."""
    li = _t(spark, sf_dir, "lineitem")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__null"),
            F.countDistinct(c).alias(f"{c}__d"),
        ]
    one = li.agg(*aggs)
    stack = ", ".join(f"'{c}', {c}__n, {c}__null, {c}__d" for c in _PROFILE_COLS)
    return one.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack}) AS (column_name, n_rows, n_null, n_distinct)"
        )
    ).select(
        "column_name",
        "n_rows",
        "n_null",
        "n_distinct",
        # try_divide: an empty table still emits one agg row (count=0)
        F.round(F.try_divide(F.col("n_distinct") * F.lit(1.0), F.col("n_rows")), 6).alias("distinct_ratio"),
    )


@query(
    "q_ab_test",
    oracle="""
    WITH assigned AS (
      SELECT user_id,
             CASE WHEN ('0x' || substr(md5('ab1:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
                  THEN 'A' ELSE 'B' END AS bucket,
             CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) * 5
                       > count(*) THEN 1 ELSE 0 END AS converted
      FROM events GROUP BY 1
    ), arms AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(converted) AS BIGINT) AS n_converted
      FROM assigned GROUP BY bucket
    ), wide AS (
      SELECT max(CASE WHEN bucket = 'A' THEN n_users END) AS na,
             max(CASE WHEN bucket = 'A' THEN n_converted END) AS ca,
             max(CASE WHEN bucket = 'B' THEN n_users END) AS nb,
             max(CASE WHEN bucket = 'B' THEN n_converted END) AS cb
      FROM arms
    )
    SELECT na AS n_a, ca AS conv_a, nb AS n_b, cb AS conv_b,
           round(ca * CAST(1 AS DOUBLE) / na, 6) AS rate_a,
           round(cb * CAST(1 AS DOUBLE) / nb, 6) AS rate_b,
           round((ca * CAST(1 AS DOUBLE) / na - cb * CAST(1 AS DOUBLE) / nb)
                 / sqrt((ca + cb) * CAST(1 AS DOUBLE) / (na + nb)
                        * (1 - (ca + cb) * CAST(1 AS DOUBLE) / (na + nb))
                        * (CAST(1 AS DOUBLE) / na + CAST(1 AS DOUBLE) / nb)), 6) AS z_score
    FROM wide
    """,
)
def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users hash deterministically into two
    arms (md5('ab1:'||user_id) — the same engine-stable bucketing as
    q_group_split, so assignment never flips across reruns or engines),
    conversion = purchase share above 1-in-5 (scale-free: a fixed
    absolute count saturates as the corpus grows), and the two-proportion pooled
    z-test says whether the rate gap is noise. All counts are exact
    integers off ONE user-keyed aggregate (events shrink map-side); the
    z formula is a single identical expression tree over the 4 counts,
    rounded at 6dp. The experimentation companion to q_chi_square
    (independence) and q_calibration (score quality)."""
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("n_purchase"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return ab_test_tail(u)


def ab_test_tail(u: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming A/B queries: from a
    per-user (n_purchase, n_events) table, arm assignment, conversion,
    and the pooled two-proportion z — identical expressions both paths,
    so the streaming twin hash-matches the batch oracle."""
    assigned = u.select(
        "user_id",
        F.when(F.col("n_purchase") * 5 > F.col("n_events"), 1).otherwise(0).alias("converted"),
    ).select(
        F.when(
            F.conv(
                F.substring(F.md5(F.concat(F.lit("ab1:"), F.col("user_id").cast("string"))), 1, 8),
                16,
                10,
            ).cast("long")
            % 2
            == 0,
            F.lit("A"),
        )
        .otherwise(F.lit("B"))
        .alias("bucket"),
        "converted",
    )
    arms = assigned.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_users"), F.sum("converted").alias("n_converted")
    )
    wide = arms.agg(
        F.max(F.when(F.col("bucket") == "A", F.col("n_users"))).alias("na"),
        F.max(F.when(F.col("bucket") == "A", F.col("n_converted"))).alias("ca"),
        F.max(F.when(F.col("bucket") == "B", F.col("n_users"))).alias("nb"),
        F.max(F.when(F.col("bucket") == "B", F.col("n_converted"))).alias("cb"),
    )
    p = (F.col("ca") + F.col("cb")) * F.lit(1.0) / (F.col("na") + F.col("nb"))
    return wide.select(
        F.col("na").alias("n_a"),
        F.col("ca").alias("conv_a"),
        F.col("nb").alias("n_b"),
        F.col("cb").alias("conv_b"),
        F.round(F.col("ca") * F.lit(1.0) / F.col("na"), 6).alias("rate_a"),
        F.round(F.col("cb") * F.lit(1.0) / F.col("nb"), 6).alias("rate_b"),
        # try_divide: zero conversions in both arms → pooled p=0 → sqrt
        # term 0 → ANSI 0/0 crash; numerator is 0 there too, so NULL
        # matches DuckDB's 0/0.0
        F.round(
            F.try_divide(
                F.col("ca") * F.lit(1.0) / F.col("na") - F.col("cb") * F.lit(1.0) / F.col("nb"),
                F.sqrt(p * (F.lit(1) - p) * (F.lit(1.0) / F.col("na") + F.lit(1.0) / F.col("nb"))),
            ),
            6,
        ).alias("z_score"),
    )


@query(
    "q_lag_features",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, CAST(epoch_ms(day) AS BIGINT) AS day_ms, cents, n,
           lag(cents, 1) OVER w AS cents_lag1,
           lag(cents, 7) OVER w AS cents_lag7,
           CAST(sum(cents) OVER (w ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS cents_roll7,
           CAST(sum(n) OVER (w ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_roll7,
           CAST(count(*) OVER (w ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS roll7_days
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day)
    """,
)
def q_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature engineering for forecasting models: per series, the lag-1
    / lag-7 values and 7-day rolling sums every gradient-boosted or
    autoregressive model trains on — the feature-store step between raw
    events and q_decision_stump/q_forecast_eval. Events collapse to the
    exact-integer daily table FIRST (map-side combined); every feature
    is a window over that types×days-bounded table sharing ONE
    partitioning (one exchange, partition-local sorts). Rolling SUMS
    plus the window row count are emitted instead of a rolling mean —
    exact integers, and the consumer picks its own null policy for the
    warm-up rows (they're visible as roll7_days < 7)."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"),
        F.count(F.lit(1)).alias("n"),
    )
    return lag_features_tail(daily)


def lag_features_tail(daily: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming feature queries: lag and
    rolling-window features over a (event_type, day, cents, n) daily
    table. Identical expressions on the identical bounded table, so the
    streaming twin hash-matches the batch oracle."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type").orderBy("day")
    w7 = w.rowsBetween(-6, Window.currentRow)
    return daily.select(
        "event_type",
        F.unix_millis(F.col("day")).alias("day_ms"),
        "cents",
        "n",
        F.lag("cents", 1).over(w).alias("cents_lag1"),
        F.lag("cents", 7).over(w).alias("cents_lag7"),
        F.sum("cents").over(w7).alias("cents_roll7"),
        F.sum("n").over(w7).alias("n_roll7"),
        F.count(F.lit(1)).over(w7).alias("roll7_days"),
    )


@query(
    "q_target_encoding",
    oracle="""
    WITH base AS (
      SELECT o_custkey, o_orderpriority AS cat,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ), g AS (
      SELECT cat, CAST(count(*) AS BIGINT) AS n_cat, CAST(sum(y) AS BIGINT) AS sum_cat
      FROM base GROUP BY cat
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_all, CAST(sum(y) AS BIGINT) AS sum_all FROM base
    )
    SELECT b.cat, b.y AS target,
           CAST(count(*) AS BIGINT) AS n_rows,
           round((g.sum_cat - b.y + 20 * (tot.sum_all * CAST(1 AS DOUBLE) / tot.n_all))
                 / (g.n_cat - 1 + 20), 6) AS loo_encoding
    FROM base b JOIN g ON b.cat = g.cat CROSS JOIN tot
    GROUP BY b.cat, b.y, g.sum_cat, g.n_cat, tot.sum_all, tot.n_all
    """,
)
def q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding with additive smoothing (the
    categorical-feature workhorse of tabular ML): each row's encoding is
    the category's target mean EXCLUDING the row itself — plain
    per-category means leak the row's own label into its feature —
    shrunk toward the global prior with weight 20 so rare categories
    don't memorize. enc = (sum_cat − y + m·prior)/(n_cat − 1 + m): the
    numerator stays exact-integer except the one prior term, and within
    a category the encoding takes exactly two values (y=0 / y=1), so
    the output is the category×target table, not per-row — grouped here
    for a bounded, hash-checkable result; the per-row form is the same
    broadcast join without the final groupBy. Scale: one category
    rollup (tiny) + one one-row global — both broadcast back; the fact
    table never shuffles."""
    od = _t(spark, sf_dir, "orders")
    base = od.select(
        F.col("o_orderpriority").alias("cat"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    g = base.groupBy("cat").agg(
        F.count(F.lit(1)).alias("n_cat"), F.sum("y").alias("sum_cat")
    )
    tot = base.agg(F.count(F.lit(1)).alias("n_all"), F.sum("y").alias("sum_all"))
    prior = F.col("sum_all") * F.lit(1.0) / F.col("n_all")
    enc = (F.col("sum_cat") - F.col("target") + F.lit(20) * prior) / (
        F.col("n_cat") - 1 + F.lit(20)
    )
    return (
        base.join(F.broadcast(g), "cat")
        .crossJoin(F.broadcast(tot))
        .groupBy(
            "cat", F.col("y").alias("target"), "sum_cat", "n_cat", "sum_all", "n_all"
        )
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select("cat", "target", "n_rows", F.round(enc, 6).alias("loo_encoding"))
    )


@query(
    "q_time_to_convert",
    oracle="""
    WITH u AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
      FROM events GROUP BY 1
    ), d AS (
      SELECT CAST((epoch_us(first_purchase) - epoch_us(first_view)) // 1000000 AS BIGINT) AS delay_s
      FROM u
      WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
        AND first_purchase >= first_view
    )
    SELECT CAST(count(*) AS BIGINT) AS n_converted,
           round(quantile_cont(delay_s, 0.5), 4) AS p50_s,
           round(quantile_cont(delay_s, 0.9), 4) AS p90_s,
           CAST(max(delay_s) AS BIGINT) AS max_s
    FROM d
    """,
)
def q_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per user, the delay from first
    view to first purchase, summarized as exact P50/P90/max — the
    latency readout behind every funnel (q_funnel counts WHO converts;
    this says HOW FAST, which is what an SLA or a campaign readout
    needs). One user-keyed aggregate collapses events to two first-hit
    timestamps (conditional mins, map-side combined); delays are exact
    floor-divided micros→seconds (identical integer arithmetic both
    engines — date_diff('second') would count boundary crossings
    instead); percentiles are sort-based `percentile` = DuckDB's
    quantile_cont bit-for-bit before the 4dp round, over the
    users-bounded delay table."""
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("first_purchase"),
    )
    return time_to_convert_tail(u)


def time_to_convert_tail(u: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming time-to-convert queries:
    from a per-user (first_view, first_purchase) table, the exact delay
    percentiles. Identical expressions both paths — the streaming twin
    hash-matches the batch oracle."""
    d = u.where(
        F.col("first_view").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") >= F.col("first_view"))
    ).select(
        F.expr("(unix_micros(first_purchase) - unix_micros(first_view)) div 1000000").alias(
            "delay_s"
        )
    )
    return d.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.expr("percentile(delay_s, 0.5)"), 4).alias("p50_s"),
        F.round(F.expr("percentile(delay_s, 0.9)"), 4).alias("p90_s"),
        F.max("delay_s").alias("max_s"),
    )


@query(
    "q_power_analysis",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) * 5
                  > count(*) THEN 1 ELSE 0 END AS converted
      FROM events GROUP BY 1
    ), base AS (
      SELECT CAST(count(*) AS BIGINT) AS n_users, CAST(sum(converted) AS BIGINT) AS n_conv
      FROM u
    ), mde AS (
      SELECT n_users, n_conv, n_conv * CAST(1 AS DOUBLE) / n_users AS p,
             unnest([0.01, 0.02, 0.05]) AS delta
      FROM base
    )
    SELECT delta AS min_detectable_lift,
           n_users, n_conv, round(p, 6) AS base_rate,
           CAST(ceil(2 * power(1.959964 + 0.841621, 2) * p * (1 - p) / (delta * delta)) AS BIGINT)
             AS required_per_arm,
           CASE WHEN n_users >= 2 * ceil(2 * power(1.959964 + 0.841621, 2) * p * (1 - p) / (delta * delta))
                THEN 1 ELSE 0 END AS currently_powered
    FROM mde
    """,
)
def q_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment power analysis — the design-side companion to
    q_ab_test's readout: for candidate absolute lifts (1/2/5 points),
    the per-arm sample size for 80% power at α=0.05 two-sided
    (n = 2(z_{α/2}+z_β)²·p(1−p)/δ², z constants pinned to 6dp so both
    engines evaluate the identical expression), seeded with the
    corpus's own base conversion rate, plus whether the current user
    count already powers that lift. One user-keyed aggregate → one-row
    math fanned over the lift grid; nothing else moves."""
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.when(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)) * 5
            > F.count(F.lit(1)),
            1,
        )
        .otherwise(0)
        .alias("converted")
    )
    base = u.agg(F.count(F.lit(1)).alias("n_users"), F.sum("converted").alias("n_conv"))
    p = F.col("n_conv") * F.lit(1.0) / F.col("n_users")
    mde = base.select(
        "n_users",
        "n_conv",
        p.alias("p"),
        F.explode(F.array(F.lit(0.01), F.lit(0.02), F.lit(0.05))).alias("delta"),
    )
    z2 = F.pow(F.lit(1.959964) + F.lit(0.841621), 2)
    req = F.ceil(F.lit(2) * z2 * F.col("p") * (F.lit(1) - F.col("p")) / (F.col("delta") * F.col("delta")))
    return mde.select(
        F.col("delta").alias("min_detectable_lift"),
        "n_users",
        "n_conv",
        F.round(F.col("p"), 6).alias("base_rate"),
        req.cast("long").alias("required_per_arm"),
        F.when(F.col("n_users") >= F.lit(2) * req, 1).otherwise(0).alias("currently_powered"),
    )


@query(
    "q_retention_curve",
    oracle="""
    WITH u AS (
      SELECT user_id, CAST(min(ts) AS DATE) AS d0 FROM events GROUP BY 1
    ), horizon AS (
      SELECT CAST(max(ts) AS DATE) AS hmax FROM events
    ), offsets AS (
      SELECT unnest([1, 3, 7, 14, 30]) AS offset_d
    ), eligible AS (
      SELECT o.offset_d, u.user_id, u.d0
      FROM u CROSS JOIN offsets o CROSS JOIN horizon h
      WHERE u.d0 + o.offset_d <= h.hmax
    ), hits AS (
      SELECT DISTINCT e.offset_d, e.user_id
      FROM eligible e JOIN events ev ON ev.user_id = e.user_id
      WHERE CAST(ev.ts AS DATE) = e.d0 + e.offset_d
    )
    SELECT el.offset_d AS day_offset,
           CAST(count(*) AS BIGINT) AS n_cohort,
           CAST(count(h.user_id) AS BIGINT) AS n_retained,
           round(count(h.user_id) * CAST(1 AS DOUBLE) / count(*), 6) AS retention
    FROM eligible el
    LEFT JOIN hits h ON h.offset_d = el.offset_d AND h.user_id = el.user_id
    GROUP BY el.offset_d
    """,
)
def q_retention_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-N retention curve (D1/D3/D7/D14/D30 — the growth metric
    beside q_cohort_retention's weekly triangle): a user counts at
    offset d if they have ANY event exactly d days after their first
    day, over the cohort whose day-d is inside the observation horizon
    (right-censoring guard — without it late cohorts deflate D30).
    Shape: one user-keyed first-day collapse, one horizon scalar
    broadcast, then a (user, active-day) DISTINCT projection joined to
    the 5-offset-exploded cohort — every payload is user×days-bounded,
    never raw events; counts exact to one final division."""
    ev = _t(spark, sf_dir, "events")
    active = ev.select("user_id", F.col("ts").cast("date").alias("ad")).distinct()
    return retention_tail(active)


def retention_tail(active: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming retention queries: from a
    distinct (user_id, active-day) table, the day-N retention curve.
    First day and horizon are min/max over the day table (identical to
    min/max event timestamps cast to date), so both paths run the same
    expressions and the streaming twin hash-matches the batch oracle."""
    u = active.groupBy("user_id").agg(F.min("ad").alias("d0"))
    horizon = active.agg(F.max("ad").alias("hmax"))
    offsets = F.array(*[F.lit(d) for d in (1, 3, 7, 14, 30)])
    eligible = (
        u.crossJoin(F.broadcast(horizon))
        .select("user_id", "d0", F.explode(offsets).alias("offset_d"))
        .where(F.date_add(F.col("d0"), F.col("offset_d")) <= F.col("hmax"))
    )
    probe = active.select(F.col("user_id").alias("a_user"), F.col("ad").alias("a_day"))
    hits = (
        eligible.join(
            probe,
            (F.col("user_id") == F.col("a_user"))
            & (F.date_add(F.col("d0"), F.col("offset_d")) == F.col("a_day")),
        )
        .select(F.col("user_id").alias("h_user"), F.col("offset_d").alias("h_off"))
        .distinct()
    )
    return (
        eligible.join(
            hits,
            (F.col("user_id") == F.col("h_user")) & (F.col("offset_d") == F.col("h_off")),
            "left",
        )
        .groupBy(F.col("offset_d").alias("day_offset"))
        .agg(
            F.count(F.lit(1)).alias("n_cohort"),
            F.count("h_user").alias("n_retained"),
            F.round(F.count("h_user") * F.lit(1.0) / F.count(F.lit(1)), 6).alias("retention"),
        )
    )


@query(
    "q_data_freshness",
    oracle="""
    WITH g AS (SELECT max(ts) AS gmax FROM events)
    SELECT event_type AS source_stream,
           CAST(epoch_ms(max(ts)) AS BIGINT) AS last_event_ms,
           CAST((epoch_us(g.gmax) - epoch_us(max(ts))) // 60000000 AS BIGINT) AS minutes_behind,
           CAST(sum(CASE WHEN ts >= g.gmax - INTERVAL 1 DAY THEN 1 ELSE 0 END) AS BIGINT)
             AS events_last_day,
           CAST(count(*) AS BIGINT) AS events_total
    FROM events CROSS JOIN g
    GROUP BY event_type, g.gmax
    """,
)
def q_data_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness monitoring per stream: last event, minutes behind the
    corpus head, and last-day volume — the first page of any pipeline
    dashboard, and the alert input for a stalled upstream (a stream
    minutes_behind while others advance IS the incident signal; pair
    with q_expectations for content checks and q_skew_report for volume
    shape). One scan: the head scalar broadcasts back and every output
    is exact integer arithmetic on epoch micros (floor-divided minutes —
    no boundary-crossing drift). At 100 TB the same query answers from
    parquet footer max-statistics for the last_event column — the scan
    exists for the volume counts."""
    ev = _t(spark, sf_dir, "events")
    g = ev.agg(F.max("ts").alias("gmax"))
    return (
        ev.crossJoin(F.broadcast(g))
        .groupBy(F.col("event_type").alias("source_stream"), "gmax")
        .agg(
            F.unix_millis(F.max("ts")).alias("last_event_ms"),
            F.expr("(unix_micros(gmax) - unix_micros(max(ts))) div 60000000").alias(
                "minutes_behind"
            ),
            F.sum(
                F.when(F.col("ts") >= F.col("gmax") - F.expr("INTERVAL 1 DAY"), 1).otherwise(0)
            ).alias("events_last_day"),
            F.count(F.lit(1)).alias("events_total"),
        )
        .drop("gmax")
    )


@query(
    "q_active_users",
    oracle="""
    WITH ad AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), head AS (
      SELECT max(d) AS h FROM ad
    )
    SELECT CAST((SELECT count(DISTINCT user_id) FROM ad, head WHERE d = h) AS BIGINT) AS dau,
           CAST((SELECT count(DISTINCT user_id) FROM ad, head WHERE d > h - 7) AS BIGINT) AS wau,
           CAST((SELECT count(DISTINCT user_id) FROM ad, head WHERE d > h - 30) AS BIGINT) AS mau,
           round((SELECT count(DISTINCT user_id) FROM ad, head WHERE d = h)
                 * CAST(1 AS DOUBLE)
                 / (SELECT count(DISTINCT user_id) FROM ad, head WHERE d > h - 30), 6)
             AS stickiness
    """,
)
def q_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU/MAU + stickiness (DAU/MAU) as of the corpus head — the
    growth readout beside q_retention_curve (rates) and
    q_data_freshness (pipeline health). ONE distinct (user, day)
    projection serves all three windows: tag each row with per-window
    membership flags, then count distinct users per flag in a single
    aggregate (max-of-flag per user then sum — no three separate
    scans); the head day is a one-row broadcast. Exact integers to one
    stickiness division."""
    ev = _t(spark, sf_dir, "events")
    ad = ev.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    return active_users_tail(ad)


def active_users_tail(ad: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming active-user queries: from
    a distinct (user_id, day) table, DAU/WAU/MAU + stickiness as of the
    table's head day — identical expressions both paths."""
    head = ad.agg(F.max("d").alias("h"))
    tagged = ad.crossJoin(F.broadcast(head)).groupBy("user_id").agg(
        F.max(F.when(F.col("d") == F.col("h"), 1).otherwise(0)).alias("in_d"),
        F.max(F.when(F.col("d") > F.date_sub(F.col("h"), 7), 1).otherwise(0)).alias("in_w"),
        F.max(F.when(F.col("d") > F.date_sub(F.col("h"), 30), 1).otherwise(0)).alias("in_m"),
    )
    return tagged.agg(
        F.sum("in_d").alias("dau"),
        F.sum("in_w").alias("wau"),
        F.sum("in_m").alias("mau"),
        F.round(F.sum("in_d") * F.lit(1.0) / F.sum("in_m"), 6).alias("stickiness"),
    )


@query(
    "q_dim_coverage",
    oracle="""
    WITH sold AS (SELECT DISTINCT l_partkey FROM lineitem),
    p AS (
      SELECT CAST(count(*) AS BIGINT) AS n_parts FROM part
    ), hit AS (
      SELECT CAST(count(*) AS BIGINT) AS n_sold
      FROM part JOIN sold ON p_partkey = l_partkey
    )
    SELECT n_parts, n_sold, CAST(n_parts - n_sold AS BIGINT) AS n_never_sold,
           round(n_sold * CAST(1 AS DOUBLE) / n_parts, 6) AS coverage
    FROM p CROSS JOIN hit
    """,
)
def q_dim_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension coverage: how much of the part catalog the fact table
    actually references — the inverse of q_integrity_audit (orphan
    FACTS) and the assortment/dead-stock readout on the dimension side.
    The fact table collapses to DISTINCT keys FIRST (8-byte payloads,
    map-side combined) and semi-joins the dimension; two one-row counts
    cross into the summary. At 100 TB the distinct-key projection is
    the only fact-sized work and it never carries payload columns."""
    li = _t(spark, sf_dir, "lineitem")
    pt = _t(spark, sf_dir, "part")
    sold = li.select("l_partkey").distinct()
    n_parts = pt.agg(F.count(F.lit(1)).alias("n_parts"))
    n_sold = (
        pt.join(sold, pt["p_partkey"] == sold["l_partkey"], "left_semi")
        .agg(F.count(F.lit(1)).alias("n_sold"))
    )
    return (
        n_parts.crossJoin(F.broadcast(n_sold))
        .select(
            "n_parts",
            "n_sold",
            (F.col("n_parts") - F.col("n_sold")).alias("n_never_sold"),
            F.round(F.col("n_sold") * F.lit(1.0) / F.col("n_parts"), 6).alias("coverage"),
        )
    )


@query(
    "q_weekday_profile",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ), wk AS (
      SELECT event_type, CAST(isodow(day) AS BIGINT) AS weekday,
             CAST(sum(cents) AS BIGINT) AS cents, CAST(count(*) AS BIGINT) AS n_days
      FROM daily GROUP BY 1, 2
    ), tot AS (
      SELECT event_type, CAST(sum(cents) AS BIGINT) AS total FROM wk GROUP BY 1
    )
    SELECT w.event_type, w.weekday, w.cents, w.n_days,
           round(w.cents * CAST(1 AS DOUBLE) / t.total, 6) AS revenue_share
    FROM wk w JOIN tot t ON w.event_type = t.event_type
    """,
)
def q_weekday_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week revenue profile per series — the readable face of the
    weekly cycle q_acf_daily detects (ACF says 'period 7'; this names
    the days). ISO weekday (Mon=1) on the exact-integer daily table;
    shares are per-type cents over the type total — one daily exchange
    then 7-row-per-type arithmetic, the per-type totals re-aggregated
    from the weekday table (never a second event scan)."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"))
    return weekday_profile_tail(daily)


def weekday_profile_tail(daily: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming weekday-profile queries:
    ISO weekday rollup + per-type shares over a (event_type, day,
    cents) daily table — identical expressions both paths."""
    wk = daily.groupBy(
        "event_type", F.dayofweek(F.col("day")).alias("dow")
    ).agg(F.sum("cents").alias("cents"), F.count(F.lit(1)).alias("n_days"))
    # Spark dayofweek: Sun=1..Sat=7 → ISO Mon=1..Sun=7
    wk = wk.select(
        "event_type",
        F.when(F.col("dow") == 1, F.lit(7)).otherwise(F.col("dow") - 1).cast("long").alias("weekday"),
        "cents",
        "n_days",
    )
    tot = wk.groupBy(F.col("event_type").alias("t_type")).agg(F.sum("cents").alias("total"))
    return (
        wk.join(F.broadcast(tot), wk["event_type"] == F.col("t_type"))
        .select(
            "event_type",
            "weekday",
            "cents",
            "n_days",
            # try_divide: a type whose every value rounds to 0 cents has
            # total=0; ANSI would raise where DuckDB's x/0.0 yields NULL
            F.round(F.try_divide(F.col("cents") * F.lit(1.0), F.col("total")), 6).alias("revenue_share"),
        )
    )


HLL_ORACLE = """
    WITH h AS (
      SELECT event_type,
             ('0x' || substr(md5('hll:' || user_id), 1, 15))::BIGINT AS hv
      FROM events
    ),
    reg AS (
      SELECT event_type, hv % 256 AS b,
             max(CASE WHEN hv // 256 = 0 THEN 53
                      ELSE 53 - length(bin(hv // 256)) END) AS rho
      FROM h GROUP BY 1, 2
    ),
    allreg AS (
      SELECT * FROM reg
      UNION ALL
      SELECT '<all>' AS event_type, b, max(rho) AS rho FROM reg GROUP BY 2
    ),
    est AS (
      SELECT event_type,
             count(*) AS n_regs,
             list_reduce(list_prepend(0.0, list(pow(2.0, -rho) ORDER BY b)), (a, x) -> a + x)
               + (256 - count(*)) AS denom
      FROM allreg GROUP BY 1
    )
    SELECT event_type,
           CAST(256 - n_regs AS BIGINT) AS empty_buckets,
           round(CASE WHEN 0.7213 / (1 + 1.079 / 256) * 256 * 256 / denom <= 2.5 * 256
                           AND n_regs < 256
                      THEN 256 * ln(256.0 / (256 - n_regs))
                      ELSE 0.7213 / (1 + 1.079 / 256) * 256 * 256 / denom END, 4) AS distinct_est
    FROM est
    """


@query("q_hll_portable", oracle=HLL_ORACLE)
def q_hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog (N35b, Flajolet et al. 2007): the
    engine-agnostic complement to q_hll_mergeable's DataSketches binary —
    registers derive from md5 (15-hex = 60-bit hash, low 8 bits bucket,
    rho = 53 − bit-length of the remaining 52 bits via STRING length of
    bin(), never float log2), so Spark and DuckDB build bit-identical
    register tables and the harmonic-mean estimate (with the standard
    small-range linear-counting correction) hash-matches to 4dp. The
    per-bucket fold sums 2^-rho in sorted bucket order from 0.0 — the
    repo's deterministic-fold discipline. The <all> rollup is a
    register-wise max — the MERGE that makes 100 TB dashboards cheap:
    per-source state is 256 small ints forever; any rollup is a
    256-row aggregate, never a corpus re-scan. shiftright(hv, 8), not
    hv/256: long division in Spark SQL is double division, which drops
    low bits past 2^53."""
    return hll_estimate_tail(hll_registers(_t(spark, sf_dir, "events")))


def hll_rho_cols():
    """(bucket, rho) column pair for the portable HLL: 60-bit md5 hash,
    low 8 bits bucket, rho from the STRING length of bin() on the top 52
    bits (shiftright, not division — long division in Spark SQL is
    double division, which drops low bits past 2^53)."""
    hv = F.conv(
        F.substring(F.md5(F.concat(F.lit("hll:"), F.col("user_id").cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    w = F.shiftright(hv, 8)
    rho = F.when(w == 0, F.lit(53)).otherwise(F.lit(53) - F.length(F.bin(w)))
    return (hv % 256).alias("b"), rho.alias("rho")


def hll_registers(ev: DataFrame) -> DataFrame:
    """Per-(event_type, bucket) max-rho register table — 256 small ints
    per group forever. In the streaming twin this aggregate IS the
    state: max is commutative, so arrival order across micro-batches
    cannot change the registers."""
    b, rho = hll_rho_cols()
    return ev.select("event_type", b, rho).groupBy("event_type", "b").agg(
        F.max("rho").alias("rho")
    )


def hll_estimate_tail(reg: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming portable-HLL queries: the
    <all> register-wise-max merge, the sorted-bucket 2^-rho fold, and
    the harmonic estimate with linear-counting small-range correction —
    identical expressions both paths, so the streaming twin hash-matches
    the batch oracle."""
    allreg = reg.unionByName(
        reg.groupBy("b")
        .agg(F.max("rho").alias("rho"))
        .select(F.lit("<all>").alias("event_type"), "b", "rho")
    )
    est = allreg.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_regs"),
        (
            F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("b", F.pow(F.lit(2.0), -F.col("rho")).alias("p"))
                        )
                    ),
                    lambda s: s["p"],
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            + (F.lit(256) - F.count(F.lit(1)))
        ).alias("denom"),
    )
    raw = F.lit(0.7213) / (F.lit(1) + F.lit(1.079) / F.lit(256)) * 256 * 256 / F.col("denom")
    return est.select(
        "event_type",
        (F.lit(256) - F.col("n_regs")).cast("long").alias("empty_buckets"),
        F.round(
            F.when(
                (raw <= F.lit(2.5) * 256) & (F.col("n_regs") < 256),
                F.lit(256) * F.log(F.lit(256.0) / (F.lit(256) - F.col("n_regs"))),
            ).otherwise(raw),
            4,
        ).alias("distinct_est"),
    )


@query(
    "q_benford_audit",
    oracle="""
    WITH v AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem WHERE l_extendedprice > 0
    ),
    d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit FROM v),
    cnt AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
    tot AS (SELECT sum(n) AS t FROM cnt),
    dig AS (SELECT CAST(unnest(range(1, 10)) AS INT) AS digit)
    SELECT g.digit,
           CAST(coalesce(c.n, 0) AS BIGINT) AS n,
           round(coalesce(c.n, 0) * CAST(1 AS DOUBLE) / t.t, 6) AS observed_p,
           round(log10(1 + CAST(1 AS DOUBLE) / g.digit), 6) AS benford_p,
           round(pow(coalesce(c.n, 0) * CAST(1 AS DOUBLE) / t.t
                     - log10(1 + CAST(1 AS DOUBLE) / g.digit), 2)
                 * t.t / log10(1 + CAST(1 AS DOUBLE) / g.digit), 4) AS chi2_term
    FROM dig g LEFT JOIN cnt c ON c.digit = g.digit, tot t
    """,
)
def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit (N36c) over transaction amounts —
    the classic fabricated-data / fraud screen: natural multi-scale
    amounts follow P(d) = log₁₀(1+1/d); uniform or hand-entered values
    do not, and the per-digit χ² terms localize WHICH digits deviate
    (sum them against the χ²₈ critical value for the verdict; the
    synthetic fixtures' uniform prices rightly FAIL the law — the audit
    detects exactly that). The first significant digit comes from the
    integer-cents STRING — no float log10 of the value itself, so the
    digit extraction is exact in both engines (leading digit of cents ==
    leading digit of the amount for amounts ≥ 0.01). One narrow scan →
    9-row count table; everything downstream is arithmetic on 9 rows."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_extendedprice") > 0)
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    d = li.select(F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit"))
    cnt = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    tot = cnt.agg(F.sum("n").alias("t"))
    dig = spark.range(1, 10).select(F.col("id").cast("int").alias("g_digit"))
    obs_p = F.coalesce(F.col("n"), F.lit(0)) * F.lit(1.0) / F.col("t")
    ben_p = F.log10(F.lit(1) + F.lit(1.0) / F.col("g_digit"))
    return (
        F.broadcast(dig)
        .join(cnt, F.col("g_digit") == F.col("digit"), "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("g_digit").alias("digit"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
            F.round(obs_p, 6).alias("observed_p"),
            F.round(ben_p, 6).alias("benford_p"),
            F.round(F.pow(obs_p - ben_p, 2) * F.col("t") / ben_p, 4).alias("chi2_term"),
        )
    )


@query(
    "q_gini_concentration",
    oracle="""
    WITH v AS (
      SELECT o_orderpriority AS seg, o_custkey,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS x
      FROM orders GROUP BY 1, 2
    ),
    r AS (
      SELECT seg, x, row_number() OVER (PARTITION BY seg ORDER BY x, o_custkey) AS i
      FROM v
    ),
    g AS (
      SELECT seg, count(*) AS n, sum(x) AS sx, sum(i * x) AS six FROM r GROUP BY seg
    )
    SELECT seg, CAST(n AS BIGINT) AS n_customers,
           round(sx / 100.0, 2) AS total_revenue,
           round(2.0 * six / (n * CAST(sx AS DOUBLE)) - (n + 1.0) / n, 6) AS gini
    FROM g ORDER BY seg
    """,
)
def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer-revenue concentration per order
    priority (N50b): G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over per-customer
    revenue sorted ascending — the whale-dependence readout beside RFM
    segmentation (q_rfm_segmentation buckets customers; Gini says how
    UNEQUAL the whole distribution is, the number a revenue-risk or
    data-mixture review asks for first). Revenue in exact integer cents;
    the rank·value products sum as decimal(38,0) (i·x at 100 TB
    customer counts overflows a long sum — the q_stats_agg discipline);
    (x, custkey) ordering makes ranks total. One customer rollup + one
    keyed rank window + a seg-keyed 5-row aggregate."""
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders")
    v = o.groupBy(
        F.col("o_orderpriority").alias("seg"), "o_custkey"
    ).agg(F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("x"))
    r = v.select(
        "seg",
        "x",
        F.row_number().over(Window.partitionBy("seg").orderBy("x", "o_custkey")).alias("i"),
    )
    g = r.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        # widen BEFORE multiplying: long i·x would overflow before the cast
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("x")).alias("six"),
    )
    return g.select(
        "seg",
        F.col("n").cast("long").alias("n_customers"),
        F.round(F.col("sx") / F.lit(100.0), 2).alias("total_revenue"),
        F.round(
            F.lit(2.0) * F.col("six") / (F.col("n") * F.col("sx").cast("double"))
            - (F.col("n") + F.lit(1.0)) / F.col("n"),
            6,
        ).alias("gini"),
    )


@query(
    "q_time_weighted_avg",
    oracle="""
    WITH e AS (
      SELECT event_type, date_trunc('day', ts) AS day, ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    w AS (
      SELECT event_type, day, cents,
             epoch_ms(ts) AS t,
             lead(epoch_ms(ts)) OVER (PARTITION BY event_type, day ORDER BY ts, event_id) AS t_next,
             max(epoch_ms(ts)) OVER (PARTITION BY event_type, day) AS t_last
      FROM e
    ),
    d AS (
      SELECT event_type, day, cents, coalesce(t_next, t_last) - t AS dur FROM w
    ),
    a AS (
      SELECT event_type, day, sum(cents * dur) AS num, sum(dur) AS den, count(*) AS n
      FROM d GROUP BY 1, 2
    )
    SELECT event_type, CAST(epoch_ms(day) AS BIGINT) AS day_ms, CAST(n AS BIGINT) AS n_readings,
           round(CASE WHEN den = 0 THEN NULL ELSE num / (CAST(den AS DOUBLE) * 100.0) END, 6) AS twap
    FROM a
    """,
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP, N22c) of the event value per type and
    day: each reading holds until the next one, so its weight is its
    duration-in-force — the correct average for irregularly-sampled
    series (sensor readings, prices, queue depths), where the plain mean
    over-weights bursts (q_rolling_time_window's mean treats every
    reading equally; TWAP integrates the step function). Weights are
    exact integer milliseconds from ONE keyed lead() window (the
    day-closing reading holds zero time — the window's max rides the
    same exchange); value·duration products sum exactly; one float
    division at the end, NULL-guarded for single-reading days."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("day"),
        "ts",
        "event_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    wd = Window.partitionBy("event_type", "day")
    wseq = wd.orderBy("ts", "event_id")
    w = e.select(
        "event_type",
        "day",
        "cents",
        F.unix_millis("ts").alias("t"),
        F.lead(F.unix_millis("ts"), 1).over(wseq).alias("t_next"),
        F.max(F.unix_millis("ts")).over(wd).alias("t_last"),
    )
    d = w.select(
        "event_type", "day", "cents", (F.coalesce("t_next", "t_last") - F.col("t")).alias("dur")
    )
    a = d.groupBy("event_type", "day").agg(
        F.sum(F.col("cents") * F.col("dur")).alias("num"),
        F.sum("dur").alias("den"),
        F.count(F.lit(1)).alias("n"),
    )
    return a.select(
        "event_type",
        F.unix_millis("day").alias("day_ms"),
        F.col("n").cast("long").alias("n_readings"),
        F.round(
            F.when(F.col("den") == 0, F.lit(None)).otherwise(
                F.col("num") / (F.col("den").cast("double") * F.lit(100.0))
            ),
            6,
        ).alias("twap"),
    )


@query(
    "q_skyline",
    oracle="""
    WITH p AS (
      SELECT p_partkey, p_brand,
             CAST(round(p_retailprice * 100) AS BIGINT) AS price_c,
             CAST(p_size AS BIGINT) AS size
      FROM part
    ),
    w AS (
      SELECT *,
             max(size) OVER (ORDER BY price_c
                             RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_cheaper,
             max(size) OVER (ORDER BY price_c
                             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS max_cheaper_eq
      FROM p
    )
    SELECT p_partkey, p_brand, round(price_c / 100.0, 2) AS price, size
    FROM w
    WHERE NOT (coalesce(max_cheaper, -1) >= size OR max_cheaper_eq > size)
    """,
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline / Pareto front (N70, Börzsönyi et al. 2001 "The
    Skyline Operator"): the parts no other part strictly dominates on
    (price ↓, size ↑) — the multi-objective shortlist query (cheapest-
    for-the-size frontier) that a naive formulation writes as an O(n²)
    dominance anti-join. In 2-D it collapses to running maxima over the
    price order: dominated ⇔ a strictly-cheaper part has size ≥ mine OR
    a cheaper-or-equal part has size > mine — two RANGE-frame windows
    on exact integer cents (RANGE … 1 PRECEDING = strictly cheaper, no
    float ties), one sort, zero joins. Equal (price, size) twins
    neither dominate nor get dominated — both kept, both engines.

    100 TB shape: the one global-order window is the budgeted
    single-partition exchange at fixture scale; at corpus scale
    range-partition by price and combine per-partition cummaxes with
    broadcast partition-boundary maxima (the classic distributed
    prefix-max) — same two-window logic, one range exchange."""
    from pyspark.sql.window import Window

    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        F.round(F.col("p_retailprice") * 100, 0).cast("long").alias("price_c"),
        F.col("p_size").cast("long").alias("size"),
    )
    w_strict = Window.orderBy("price_c").rangeBetween(Window.unboundedPreceding, -1)
    w_eq = Window.orderBy("price_c").rangeBetween(Window.unboundedPreceding, Window.currentRow)
    w = p.select(
        "p_partkey",
        "p_brand",
        "price_c",
        "size",
        F.max("size").over(w_strict).alias("max_cheaper"),
        F.max("size").over(w_eq).alias("max_cheaper_eq"),
    )
    return (
        w.where(
            ~(
                (F.coalesce(F.col("max_cheaper"), F.lit(-1)) >= F.col("size"))
                | (F.col("max_cheaper_eq") > F.col("size"))
            )
        )
        .select(
            "p_partkey",
            "p_brand",
            F.round(F.col("price_c") / F.lit(100.0), 2).alias("price"),
            "size",
        )
    )


@query(
    "q_zonemap_prune",
    oracle="""
    WITH o AS (
      SELECT o_orderkey AS ok, epoch_ms(o_orderdate) // 86400000 AS day FROM orders
    ),
    mx AS (SELECT max(day) AS m FROM o),
    u AS (
      SELECT 'hash' AS layout, ok % 64 AS bucket, day FROM o
      UNION ALL
      SELECT 'date' AS layout, day // 30 AS bucket, day FROM o
    )
    SELECT layout, CAST(bucket AS BIGINT) AS bucket, count(*)::BIGINT AS n_rows,
           CAST(min(day) AS BIGINT) AS min_day, CAST(max(day) AS BIGINT) AS max_day,
           (max(day) < m - 59 OR min(day) > m - 30) AS prunable
    FROM u, mx
    GROUP BY layout, bucket, m
    """,
)
def q_zonemap_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N71: zone-map (min/max) data-skipping audit — the layout decision
    that matters most at 100 TB, made measurable. Orders are assigned to
    64 'files' under two layouts: hash-by-key (ingestion order; what a
    naive writer produces) and date-partitioned (day // 30). Each file's
    day zone map is its parquet-footer min/max; a file is `prunable` for
    the trailing 30-day window query iff its zone is disjoint from the
    predicate range. The hash layout prunes ~nothing (every file spans
    every day — uncorrelated key); the date layout prunes all but the
    two overlapping months — the same scan turned from 100 TB into GBs
    purely by layout. Shape: one narrow projection, one bucket-keyed
    aggregate (map-side combine; 64 + #months exchange rows), one-row
    max-day broadcast. The zone maps themselves come free from parquet
    footers in a real table; computing them here is the audit."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"),
        F.floor(F.unix_timestamp("o_orderdate") / 86400).cast("long").alias("day"),
    )
    u = _zonemap_assign(o)
    g = u.groupBy("layout", "bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("day").alias("min_day"),
        F.max("day").alias("max_day"),
    )
    return zonemap_tail(g)


def _zonemap_assign(o: DataFrame) -> DataFrame:
    """(ok, day) → (layout, bucket, day) under both layouts from ONE scan
    (exploded, not self-unioned — the q_zorder_layout lesson). Shared by
    the batch query and the streaming twin."""
    return o.select(
        F.explode(
            F.array(
                F.struct(F.lit("hash").alias("layout"), (F.col("ok") % 64).alias("bucket")),
                F.struct(
                    F.lit("date").alias("layout"),
                    F.floor(F.col("day") / 30).cast("long").alias("bucket"),
                ),
            )
        ).alias("lb"),
        "day",
    ).select(F.col("lb.layout").alias("layout"), F.col("lb.bucket").alias("bucket"), "day")


def zonemap_tail(g: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming zone-map audits: from the
    per-(layout, bucket) zone table (n_rows, min_day, max_day), derive
    the global max day (max over bucket maxima — a one-row aggregate
    over the bucket-bounded table, never the facts) and flag each zone
    prunable for the trailing-30-day predicate."""
    mx = g.agg(F.max("max_day").alias("m"))
    return g.crossJoin(F.broadcast(mx)).select(
        "layout",
        "bucket",
        "n_rows",
        "min_day",
        "max_day",
        ((F.col("max_day") < F.col("m") - 59) | (F.col("min_day") > F.col("m") - 30)).alias(
            "prunable"
        ),
    )


def _morton8(cb, db):
    """Interleave two 4-bit bucket columns into an 8-bit Morton (Z-order)
    code with pure integer expressions — identical arithmetic in the
    DuckDB oracle, so codes hash-match bit-exactly."""
    z = F.lit(0)
    for i in range(4):
        z = (
            z
            + F.shiftleft(F.shiftright(cb, i).bitwiseAND(F.lit(1)), 2 * i + 1)
            + F.shiftleft(F.shiftright(db, i).bitwiseAND(F.lit(1)), 2 * i)
        )
    return z


@query(
    "q_zorder_layout",
    oracle="""
    WITH o AS (
      SELECT o_custkey AS ck, epoch_ms(o_orderdate) // 86400000 AS day FROM orders
    ),
    b AS (SELECT min(day) AS mn, max(day) AS mx FROM o),
    d AS (
      SELECT ck % 16 AS cb,
             least(15, ((day - mn) * 16) // (mx - mn + 1)) AS db
      FROM o, b
    ),
    z AS (
      SELECT cb, db,
             ((cb >> 0) & 1) * 2   + ((db >> 0) & 1)
           + ((cb >> 1) & 1) * 8   + ((db >> 1) & 1) * 4
           + ((cb >> 2) & 1) * 32  + ((db >> 2) & 1) * 16
           + ((cb >> 3) & 1) * 128 + ((db >> 3) & 1) * 64 AS zcode,
             cb * 16 + db AS rowmajor
      FROM d
    ),
    u AS (
      SELECT 'zorder' AS layout, zcode // 16 AS file_id,
             (cb BETWEEN 4 AND 7 AND db BETWEEN 4 AND 7) AS hit
      FROM z
      UNION ALL
      SELECT 'rowmajor' AS layout, rowmajor // 16 AS file_id,
             (cb BETWEEN 4 AND 7 AND db BETWEEN 4 AND 7) AS hit
      FROM z
    )
    SELECT layout, CAST(file_id AS BIGINT) AS file_id, count(*)::BIGINT AS n_rows,
           CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
           bool_or(hit) AS touched
    FROM u GROUP BY layout, file_id
    """,
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N72: Z-order (Morton) multi-dimensional clustering audit — the
    lakehouse layout lever for queries that filter on TWO dimensions at
    once (customer × time here). Each order gets a 4-bit bucket per
    dimension; the Z-code interleaves the bits, and records are packed
    into 16 'files' of contiguous code ranges under (a) Z-order and (b)
    row-major (cb*16+db — clustering by customer only). For a 2-D range
    predicate (middle quarter of each dimension), the report shows per
    file: rows, matching rows, and `touched` — Z-order confines the 16
    matching cells to ~4 touched files, row-major smears them across all
    customer stripes. At 100 TB: `touched` files are the scan bill; the
    Morton code is a pure integer expression (no UDF) computed at write
    time and used as the table's sort key. Shape: narrow projection,
    min/max one-row broadcast, one 32-row aggregate."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("ck"),
        F.floor(F.unix_timestamp("o_orderdate") / 86400).cast("long").alias("day"),
    )
    b = o.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
    d = o.crossJoin(F.broadcast(b)).select(
        (F.col("ck") % 16).alias("cb"),
        F.least(
            F.lit(15),
            F.floor((F.col("day") - F.col("mn")) * 16 / (F.col("mx") - F.col("mn") + 1)).cast(
                "long"
            ),
        ).alias("db"),
    )
    z = d.select(
        "cb",
        "db",
        _morton8(F.col("cb"), F.col("db")).alias("zcode"),
        (F.col("cb") * 16 + F.col("db")).alias("rowmajor"),
    )
    hit = (F.col("cb").between(4, 7)) & (F.col("db").between(4, 7))
    # explode both layouts from ONE scan instead of a self-union: a union
    # duplicates the whole subtree (including the one-row min/max
    # aggregate), doubling the scan and tripping the single-partition
    # exchange budget; the explode keeps one pass
    u = z.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("zorder").alias("layout"),
                    F.floor(F.col("zcode") / 16).cast("long").alias("file_id"),
                ),
                F.struct(
                    F.lit("rowmajor").alias("layout"),
                    F.floor(F.col("rowmajor") / 16).cast("long").alias("file_id"),
                ),
            )
        ).alias("lf"),
        hit.alias("hit"),
    ).select(F.col("lf.layout").alias("layout"), F.col("lf.file_id").alias("file_id"), "hit")
    return u.groupBy("layout", "file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("hit"), 1).otherwise(0)).alias("n_match"),
        F.max("hit").alias("touched"),
    )


@query(
    "q_incremental_agg",
    oracle="""
    WITH o AS (
      SELECT o_custkey, epoch_ms(o_orderdate) // 86400000 AS day,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    mx AS (SELECT max(day) AS m FROM o),
    delta_keys AS (
      SELECT DISTINCT o_custkey FROM o, mx WHERE day >= m - 30
    )
    SELECT o.o_custkey, count(*)::BIGINT AS n_orders,
           CAST(sum(o.cents) AS BIGINT) AS sum_cents,
           CAST(min(o.day) AS BIGINT) AS first_day,
           CAST(max(o.day) AS BIGINT) AS last_day
    FROM o JOIN delta_keys USING (o_custkey)
    GROUP BY o.o_custkey
    """,
)
def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N73: incremental aggregate maintenance (the materialized-view
    delta-merge): per-customer order stats are kept as ALGEBRAIC partial
    states (count, sum, min, max — each mergeable), the last 30 days
    arrive as a delta batch, and the view updates by MERGING the delta's
    partial states into the base's — `merge(state(base), state(delta))`,
    never a re-scan of base. The oracle recomputes the same customers
    from scratch, so the driver hash certifies merge ≡ recompute — the
    algebraic-aggregate law that makes incremental pipelines safe. At
    100 TB the base states are a customer-sized table (orders of
    magnitude smaller than the facts) and each refresh costs one pass
    over the delta + one key-aligned merge join; output is restricted to
    delta-touched customers, which is what an incremental sink emits.
    Shape: two partial aggregates + one semi-joined merge aggregate, all
    on the same o_custkey key (one shuffle partitioning reused)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.unix_timestamp("o_orderdate") / 86400).cast("long").alias("day"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    # the delta boundary is a one-row driver witness (in a real pipeline
    # it is pipeline config, not data-derived); embedding it as a literal
    # keeps the base/delta subtrees free of duplicated one-row exchanges
    m = int(o.agg(F.max("day")).collect()[0][0])
    base = o.where(F.col("day") < m - 30)
    delta = o.where(F.col("day") >= m - 30)

    def state(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("sum_cents"),
            F.min("day").alias("first_day"),
            F.max("day").alias("last_day"),
        )

    # delta_state has two consumers (the merge union + the output semi
    # join); localCheckpoint materializes it once instead of re-running
    # the delta aggregate per consumer
    delta_state = state(delta).localCheckpoint(eager=False)
    merged = (
        state(base)
        .unionByName(delta_state)
        .groupBy("o_custkey")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("sum_cents").alias("sum_cents"),
            F.min("first_day").alias("first_day"),
            F.max("last_day").alias("last_day"),
        )
    )
    return merged.join(delta_state.select("o_custkey"), "o_custkey", "left_semi")


def ewma_tail(daily: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming EWMA queries: from a
    (event_type, day_s, cents) daily table, the recursive smoothing
    e_t = 0.3·x_t + 0.7·e_{t−1} (e_1 = x_1) restated CLOSED-FORM as
    e_t = 0.7^{t−1}·x_1 + Σ_{i=2..t} 0.3·0.7^{t−i}·x_i over observation
    indexes t, i — each term is a pure function of (t, i, x_i), so the
    recursion parallelizes as a bounded (t ≥ i) self-join instead of a
    sequential scan. Terms fold in sorted i order (the repo's float
    discipline: F.aggregate over an array_sort'ed collect_list ≡ DuckDB
    list_reduce over list(... ORDER BY i)), so the double sum is
    bit-identical across engines and partitionings. Cost is O(days²)
    pairs per series — the time dimension is bounded (3650 days of
    history = 6.7M pairs per series, trivial), while the series
    dimension (event types / SKUs / users) carries the parallelism; for
    very long series swap the self-join for a per-series sequential
    fold over the collected day array (days ≪ memory by the same
    bound)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type").orderBy("day_s")
    idx = daily.select("event_type", "day_s", "cents", F.row_number().over(w).alias("i"))
    t = idx.select(
        "event_type",
        F.col("i").alias("t"),
        "day_s",
        "cents",
    )
    # rename the join key on the right side: a plain using-column self-join
    # of a streaming memory-sink view trips Catalyst's conflicting-attribute
    # dedup (the streaming twin shares this tail), and the rename sidesteps
    # the whole class
    b = idx.select(
        F.col("event_type").alias("et2"), F.col("i").alias("i"), F.col("cents").alias("x_i")
    )
    j = (
        t.join(b, t["event_type"] == b["et2"])
        .drop("et2")
        .where(F.col("i") <= F.col("t"))
    )
    term = (
        F.col("x_i").cast("double")
        * F.pow(F.lit(0.7), (F.col("t") - F.col("i")).cast("double"))
        * F.when(F.col("i") == 1, F.lit(1.0)).otherwise(F.lit(0.3))
    )
    folded = j.groupBy("event_type", "t", "day_s", "cents").agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("i"), term.alias("v")))),
                lambda s: s["v"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("e")
    )
    return folded.select(
        "event_type", "day_s", "cents", F.round(F.col("e"), 4).alias("ewma")
    )


_EWMA_ORACLE = """
    WITH daily AS (
      SELECT event_type,
             CAST(epoch_ms(date_trunc('day', ts)) // 1000 AS BIGINT) AS day_s,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY day_s) AS i
      FROM daily
    ),
    pairs AS (
      SELECT t.event_type, t.i AS t, t.day_s, t.cents, b.i AS i,
             CAST(b.cents AS DOUBLE) * pow(0.7, t.i - b.i)
               * (CASE WHEN b.i = 1 THEN 1.0 ELSE 0.3 END) AS term
      FROM idx t JOIN idx b ON t.event_type = b.event_type AND b.i <= t.i
    )
    SELECT event_type, day_s, cents,
           round(list_reduce(list_prepend(0.0, list(term ORDER BY i)),
                             (a, b) -> a + b), 4) AS ewma
    FROM pairs GROUP BY event_type, t, day_s, cents
    """


@query("q_ewma_smooth", oracle=_EWMA_ORACLE)
def q_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N74: exponentially weighted moving average (α = 0.3) of daily
    revenue per event type — the classic smoother feeding dashboards,
    alerting baselines, and Holt-Winters-style forecasts. The recursion
    is restated closed-form and parallelized as a bounded self-join in
    ewma_tail (shared with the streaming twin); exact integer cents in,
    one sorted-fold double sum out."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.unix_timestamp(F.date_trunc("day", F.col("ts"))).alias("day_s"),
    ).agg(F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"))
    return ewma_tail(daily)


@query(
    "q_graph_bfs",
    oracle="""
    WITH RECURSIVE
    items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS src, b.l_partkey AS dst
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2
    ),
    seed AS (SELECT min(l_partkey) AS s FROM lineitem),
    walk(node, hops) AS (
      SELECT s, 0 FROM seed
      UNION
      SELECT e.dst, walk.hops + 1 FROM walk JOIN e ON e.src = walk.node
      WHERE walk.hops < 6
    ),
    dist AS (SELECT node, min(hops) AS hops FROM walk GROUP BY node)
    SELECT CAST(hops AS INT) AS hops, count(*)::BIGINT AS n_nodes,
           CAST(min(node) AS BIGINT) AS min_node, CAST(max(node) AS BIGINT) AS max_node
    FROM dist GROUP BY hops
    """,
)
def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N75: breadth-first reachability (hop-distance histogram from the
    lowest part key) over the part co-purchase graph — the traversal
    primitive beside q_pagerank (centrality), q_triangle_count
    (density), and q_densest_subgraph (community): 'how many hops does
    influence travel' / blast-radius analysis. Frontier-parallel BFS,
    the scalable shape: each round expands ONLY the new frontier —
    through the BIPARTITE part→order→part incidence table (two keyed
    joins; the co-purchase edge table, quadratic in basket size, is
    never materialized) — anti-joins the settled set, and
    localCheckpoints so lineage stays O(1) across rounds; the incidence
    table is checkpointed once and re-read per round (the q_pagerank
    discipline). Bounded at 6 rounds — matched exactly by the oracle's
    recursive-CTE depth bound — with an early exit when a frontier
    drains (the one-row count is the same bounded driver witness as
    dedup's convergence check). The seed is a one-row min aggregate,
    deterministic. At 100 TB: frontier exchanges are node- and
    incidence-bounded, never Σ basket² edge-bounded."""
    li = _t(spark, sf_dir, "lineitem")
    # r10 optimization: walk the BIPARTITE part→order→part incidence table
    # instead of materializing the co-purchase edge table. The old edge
    # build (items self-join on l_orderkey + distinct) is quadratic in
    # basket size and was ~70% of the query's cost; one bipartite round
    # (two keyed joins against the order-items table) reaches exactly the
    # same neighbor set — "co-purchased" IS "shares an order" — so hop
    # distances and the output histogram are identical. A part alone in
    # its orders joins back only to itself and is anti-joined as settled,
    # matching the old src != dst edge filter. At 100 TB the win is
    # structural: frontier expansions stay incidence-bounded (rows =
    # order-item memberships touched), never Σ basket² edge-bounded.
    # no distinct on the incidence projection: duplicate (order, part) rows
    # (rare in lineitem) only pass through the per-round distincts below,
    # and dropping the dedup exchange saves its shuffle at build time
    items = li.select("l_orderkey", "l_partkey").localCheckpoint()
    # r11: ONE setup aggregate yields the seed AND the incidence cardinality
    # that gates the per-round broadcast hints (was two jobs: seed collect +
    # a would-be count); the agg runs on the checkpointed RDD, scan speed.
    seed_row = items.agg(
        F.min("l_partkey").alias("s"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    seed, items_n = seed_row["s"], seed_row["n"]
    # r11 (guide §3.1/§5): the frontier, settled set and touched-order set
    # are node-/order-bounded — orders of magnitude under the incidence
    # table. Hinting them BROADCAST removes both per-round shuffle stages
    # of the incidence table's join sides (the SMJ re-sorted 600k rows per
    # round) — each round becomes one broadcast-probe pass over the
    # checkpointed incidence RDD. The hint is GATED on the pre-counted
    # incidence cardinality (the repo-wide gated_broadcast discipline):
    # past the gate every join degrades to the old AQE-picked plan,
    # value-identical, so 100 TB frontiers never force an OOM broadcast.
    from simple_stream_processor_spark.operators.dedup import gated_broadcast

    hint = gated_broadcast(
        int(items_n), int(spark.conf.get("spark.graft.broadcast_gate_rows", "100000")) * 40
    )
    dist = spark.createDataFrame([(int(seed), 0)], schema="node LONG, hops INT")
    frontier = dist.select("node")
    for k in range(1, 7):
        oks = (
            hint(frontier).join(items, frontier["node"] == items["l_partkey"])
            .select("l_orderkey")
            .distinct()
        )
        nxt = (
            items.join(hint(oks), "l_orderkey")
            .select(F.col("l_partkey").alias("node"))
            .distinct()
            .join(hint(dist), "node", "left_anti")
            .select("node", F.lit(k).cast("int").alias("hops"))
        )
        # r11: LAZY checkpoint + count — ONE job per round materializes the
        # checkpoint AND serves as the bounded driver convergence witness
        # (was two: an eager checkpoint job + an isEmpty job).
        nxt = nxt.localCheckpoint(eager=False)  # O(1) lineage per round
        if nxt.count() == 0:  # frontier drained
            break
        # the union of checkpointed rounds has O(rounds) flat lineage —
        # re-checkpointing it each round was one redundant job per round
        dist = dist.unionByName(nxt)
        frontier = nxt.select("node")
    return dist.groupBy("hops").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("node").alias("min_node"),
        F.max("node").alias("max_node"),
    )


@query(
    "q_bisect_median",
    oracle="""
    WITH v AS (
      SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    ),
    r AS (
      SELECT l_returnflag, cents,
             row_number() OVER (PARTITION BY l_returnflag ORDER BY cents) AS rn
      FROM v
    ),
    n AS (SELECT l_returnflag, count(*)::BIGINT AS n FROM v GROUP BY 1)
    SELECT n.l_returnflag, n.n, r.cents AS median_cents,
           round(r.cents / 100.0, 2) AS median
    FROM n JOIN r ON r.l_returnflag = n.l_returnflag AND r.rn = (n.n + 1) // 2
    """,
)
def q_bisect_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N76: exact grouped median WITHOUT a sort — value-domain bisection.
    Per group keep [lo, hi] integer-cent bounds; each round builds a
    ≤4096-cell bucket histogram of the group's bracket (one scan-speed
    map-side-combinable aggregate over the persisted projection, group
    state joined BROADCAST so millions of groups stay distributed),
    locates rank k = ⌈n/2⌉ via the cumulative bucket count, and narrows
    the bracket to that bucket — the k-th order statistic, provably a
    present value when the bracket closes. Base-4096 radix rounds
    (round 10; the r8 judge's barrier cut continued from base-4):
    log4096(value range) ≈ 2 sequential rounds of scan-speed counting —
    vs ONE full per-group sort: at 100 TB the sort spills and the
    counting passes don't (percentile_approx bounds memory but not
    error; this bounds BOTH at log-range passes). Convergence witness: a
    one-row max(hi−lo) aggregate per round (the dedup/BFS discipline);
    integer arithmetic end-to-end, so both engines agree bit-exactly."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .select(
            "l_returnflag",
            F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
        )
        .persist()
    )
    # r11: LAZY checkpoints + the gap witness — each round's one-row
    # max(hi−lo) collect scans every state partition, so it materializes
    # that round's checkpoint in the SAME job (the graph_bfs/k_core count
    # fusion): one job per round instead of checkpoint-job + witness-job.
    state = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
    ).localCheckpoint(eager=False)
    state = state.select("l_returnflag", "n", F.expr("(n + 1) div 2").alias("k"), "lo", "hi")
    # r10 optimization: base-4096 histogram rounds (radix select) instead of
    # base-4 split points — same counting-pass idea, log4096(range) ≈ 2
    # sequential rounds for cent-scale domains instead of ~12, so ~10 fewer
    # driver-synced barriers and full-table passes. Each round buckets the
    # bracket into ≤4096 cells (one scan-speed conditional aggregate, still
    # map-side combinable; the per-group histogram is ≤4097 rows, so the
    # pick window is metadata-sized), locates rank k's bucket via the
    # cumulative count (cum ≥ k > cum − n — exactly one row per group), and
    # narrows the bracket to that bucket. The invariant
    # count(≤ lo−1) < k ≤ count(≤ hi) is maintained verbatim, so the closed
    # bracket is a present value and the result is bit-identical.
    B = 4096
    from pyspark.sql.window import Window as _W

    for _ in range(8):  # 4096^8 > any long range; loop exits on the witness
        gap = state.agg(F.max(F.col("hi") - F.col("lo"))).collect()[0][0]
        if gap == 0:
            break
        mid_state = state.select(
            "l_returnflag", "n", "k", "lo", "hi",
            F.expr(f"(hi - lo) div {B} + 1").alias("w"),
        )
        hist = (
            li.join(F.broadcast(mid_state), "l_returnflag")
            # rows above hi can never hold rank k (k ≤ count(≤ hi)); rows
            # below lo only matter through their count — bucket them at -1
            .where(F.col("cents") <= F.col("hi"))
            .groupBy(
                "l_returnflag", "n", "k", "lo", "hi", "w",
                F.when(F.col("cents") < F.col("lo"), F.lit(-1).cast("long"))
                .otherwise(F.expr("(cents - lo) div w"))
                .alias("bucket"),
            )
            .agg(F.count(F.lit(1)).alias("c"))
        )
        cum_w = _W.partitionBy("l_returnflag").orderBy("bucket").rowsBetween(
            _W.unboundedPreceding, _W.currentRow
        )
        h = hist.withColumn("cum", F.sum("c").over(cum_w))
        state = (
            h.where((F.col("cum") >= F.col("k")) & (F.col("cum") - F.col("c") < F.col("k")))
            .select(
                "l_returnflag",
                "n",
                "k",
                (F.col("lo") + F.col("bucket") * F.col("w")).alias("lo"),
                F.least(
                    F.col("hi"), F.col("lo") + (F.col("bucket") + 1) * F.col("w") - 1
                ).alias("hi"),
            )
            .localCheckpoint(eager=False)  # materialized by the next gap witness
        )
    # r11: n rode the state through every round (it came from the SAME
    # initial aggregate), so the old final count-join re-scanned the
    # just-unpersisted projection for a number state already holds.
    out = state.select("l_returnflag", "n", F.col("lo").alias("median_cents"))
    li.unpersist()
    return out.select(
        "l_returnflag",
        "n",
        "median_cents",
        F.round(F.col("median_cents") / F.lit(100.0), 2).alias("median"),
    )


@query(
    "q_weighted_median",
    oracle="""
    WITH v AS (
      SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(round(l_quantity) AS BIGINT) AS qty
      FROM lineitem
    ),
    pp AS (
      SELECT l_returnflag, cents, CAST(sum(qty) AS BIGINT) AS w
      FROM v GROUP BY 1, 2
    ),
    c AS (
      SELECT l_returnflag, cents, w,
             CAST(sum(w) OVER (PARTITION BY l_returnflag ORDER BY cents
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             CAST(sum(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tot
      FROM pp
    )
    SELECT l_returnflag, max(tot) AS total_qty,
           CAST(min(cents) AS BIGINT) AS wmedian_cents,
           round(min(cents) / 100.0, 2) AS wmedian
    FROM c WHERE 2 * cum >= tot
    GROUP BY l_returnflag
    """,
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N77: weighted median — the price at which half the shipped
    QUANTITY sits at-or-below (inventory/pricing's 'median unit', not
    median line): the weighted-quantile aggregate Spark lacks natively.
    Shape: collapse to the distinct-price weight table first (the
    exchange is price-cardinality, not line-cardinality), then a
    two-level prefix sum carries the running and total weight, and the
    answer is the first price where 2·cum ≥ tot. Exact integer cents
    and quantities end-to-end — no float crossing, bit-identical across
    engines. At 100 TB: per-group price tables are the only shuffled
    payload; every window partition is (group, bucket)-bounded (no
    whole-group single-task sort)."""
    from pyspark.sql.window import Window

    v = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
        F.round(F.col("l_quantity"), 0).cast("long").alias("qty"),
    )
    # r10 optimization (guide §2.5): the running-weight window partitioned
    # by l_returnflag alone put each group's ENTIRE distinct-price table
    # (~580k rows at sf0.1) through one sort task — 3 groups, 3 tasks, 29
    # idle cores (and a straggler wall at 100 TB). Two-level prefix sum
    # instead (the L109 / q_equidepth_hist pattern): cumulate within
    # (group, price-bucket) partitions — hundreds of balanced tasks — and
    # add the bucket-offset prefix computed on the metadata-sized
    # (group, bucket) totals table. Identical cum/tot values, identical
    # output; the only data-sized window is now bucket-bounded.
    pp = v.groupBy("l_returnflag", "cents").agg(F.sum("qty").alias("w"))
    ppb = pp.withColumn("b", F.expr("cents div 65536"))
    bt = ppb.groupBy("l_returnflag", "b").agg(F.sum("w").alias("bw"))
    w_off = Window.partitionBy("l_returnflag").orderBy("b").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_tot = Window.partitionBy("l_returnflag")
    btp = bt.select(
        "l_returnflag",
        "b",
        F.coalesce(F.sum("bw").over(w_off), F.lit(0)).alias("off"),
        F.sum("bw").over(w_tot).alias("tot"),
    )
    w_in = Window.partitionBy("l_returnflag", "b").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = ppb.join(F.broadcast(btp), ["l_returnflag", "b"]).select(
        "l_returnflag",
        "cents",
        (F.sum("w").over(w_in) + F.col("off")).alias("cum"),
        "tot",
    )
    return (
        c.where(2 * F.col("cum") >= F.col("tot"))
        .groupBy("l_returnflag")
        .agg(
            F.max("tot").alias("total_qty"),
            F.min("cents").alias("wmedian_cents"),
        )
        .select(
            "l_returnflag",
            "total_qty",
            "wmedian_cents",
            F.round(F.col("wmedian_cents") / F.lit(100.0), 2).alias("wmedian"),
        )
    )


@query(
    "q_equidepth_hist",
    oracle="""
    WITH v AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents FROM lineitem
    ),
    b AS (
      SELECT quantile_cont(cents, [0.0625, 0.125, 0.1875, 0.25, 0.3125, 0.375,
                                   0.4375, 0.5, 0.5625, 0.625, 0.6875, 0.75,
                                   0.8125, 0.875, 0.9375]) AS bounds
      FROM v
    )
    SELECT CAST(len(list_filter(b.bounds, x -> v.cents > x)) AS INT) AS bucket,
           count(*)::BIGINT AS n,
           CAST(min(v.cents) AS BIGINT) AS lo_cents,
           CAST(max(v.cents) AS BIGINT) AS hi_cents
    FROM v, b
    GROUP BY 1
    """,
)
def q_equidepth_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N78: equi-depth (equi-height) histogram construction — the
    cost-based-optimizer statistic (selectivity estimation wants equal
    row mass per bucket, not equal value width like q_histogram's
    fixed-width bins). 15 interior boundaries at exact k/16 percentiles
    (distinct-value counts + a two-level prefix sum + 30 broadcast rank
    lookups — NOT a global ntile window or a single-reducer percentile
    buffer, either of which drags the data to one task), broadcast back
    as a 15-element array; bucket assignment is a JVM-side array filter
    count. Interpolated boundary
    floats are safe to compare against integer-cent data: a boundary
    either lands exactly ON a datum (interpolation fraction 0 — exact in
    both engines) or strictly between two adjacent data values, so a
    final-ulp difference can never flip an assignment. At 100 TB: one
    percentile aggregate + one scan — the same shape ANALYZE TABLE runs."""
    from pyspark.sql.window import Window as _W

    v = _t(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents")
    )
    # r10 optimization (guide §2.3/§5): F.percentile is a TypedImperative
    # aggregate that buffers EVERY value into per-partition maps and merges
    # them on ONE reducer — measured 2.9 s of the query's 5.4 s at sf0.1,
    # and a single-reducer memory wall at 100 TB. Replace it with the exact
    # same interpolated boundaries computed distributively: distinct-value
    # counts (map-side combinable), a two-level prefix sum (the L109
    # q_token_budget_fill pattern — per-bucket cumsum + metadata-sized
    # bucket-offset window, no data-sized single partition anywhere), and
    # 30 broadcast rank lookups (value at rank r = the distinct cents whose
    # cumulative interval contains r; boundary = lower + frac*(higher-lower),
    # h = (n-1)p exact in doubles since p = i/16 is a dyadic rational).
    # A boundary ulp can never flip a bucket: it is either exactly a datum
    # (frac 0 — exact) or strictly between two ADJACENT distinct values,
    # where no datum lives (the original q_equidepth_hist argument).
    # r10 round-2 optimization (guide §1.2 "the distributed algorithm" — the
    # q_bisect_median radix discipline): the rank→value lookup no longer
    # builds the FULL distinct-value cum table (a corpus-wide distinct-count
    # aggregate + a corpus-wide two-level window — measured ~2s of the 3.7s
    # at sf0.1). Instead:
    #   pass 1: a ≤4096-cell coarse histogram (cents div 65536) — map-side
    #     combined, collected to the driver (the same bounded driver witness
    #     q_bisect_median's bracket loop uses); a driver-side cumsum maps
    #     each of the 30 boundary ranks to its coarse bucket + in-bucket rank.
    #   pass 2: distinct-value counts ONLY inside the ≤30 target buckets
    #     (the scan-side filter drops ~4/5 of rows before the exchange), one
    #     per-bucket prefix-sum window over that filtered table, and the same
    #     30-row broadcast rank probe — now an equi-join on bucket id.
    # The boundary values and fracs are identical: value at global rank r ==
    # value at rank (r − bucket offset) within r's bucket, and h/frac use the
    # same ((n−1)·i)/16 double arithmetic (exact: /16 is a power-of-two
    # scale). No corpus-sized window, no persists.
    # DOMAIN NOTE (r10 advisor): the "≤4096-cell" bound on this collect is a
    # PRICE-DOMAIN bound, not a law of nature — cells = value_range / 65536,
    # so it holds while cents < 65536·4096 (≈ $2.68 M, far above the TPC-H
    # price domain). A wider value domain grows the collect linearly, so the
    # raise below makes the assumption LOUD instead of silently collecting
    # an unbounded histogram; re-derive the radix width from min/max (the
    # q_bisect_median bracket probe) before lifting it. Also note the
    # eager-construction semantics: this collect runs Spark jobs at
    # DataFrame-BUILD time, so the boundaries snapshot the input as of the
    # call, not as of the caller's later action (fine for the declared
    # immutable-fixture contract; a streaming/incremental caller must
    # rebuild the DataFrame per trigger).
    coarse = sorted(
        (r["cb"], r["c"])
        for r in v.groupBy(F.expr("cents div 65536").alias("cb"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    if len(coarse) > 4096:
        raise ValueError(
            f"equidepth coarse histogram outgrew its radix width ({len(coarse)} cells): "
            "value domain wider than cents < 65536*4096 — widen the radix base"
        )
    n = sum(c for _, c in coarse)
    grid_rows = []
    for i in range(1, 16):
        h = float(n - 1) * float(i) / 16.0
        lo_rank = int(h // 1) + 1
        frac = h - float(int(h // 1))
        for kind, rank in ((0, lo_rank), (1, lo_rank + 1)):
            if rank < 1 or rank > n:
                continue  # hi rank past the last value: v_hi stays NULL
            off = 0
            for cb, c in coarse:
                if off + c >= rank:
                    grid_rows.append((i, frac, kind, rank - off, cb))
                    break
                off += c
    grid = spark.createDataFrame(
        grid_rows, "i INT, frac DOUBLE, kind INT, rank BIGINT, gb BIGINT"
    )
    tgt = sorted({gb for *_, gb in grid_rows})
    ppb = (
        v.where(F.expr("cents div 65536").isin(tgt) if tgt else F.lit(False))
        .groupBy("cents")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("b", F.expr("cents div 65536"))
    )
    w_in = _W.partitionBy("b").orderBy("cents").rowsBetween(_W.unboundedPreceding, _W.currentRow)
    cumt = ppb.select("cents", "c", "b", F.sum("c").over(w_in).alias("bcum"))
    bvals = (
        cumt.join(
            F.broadcast(grid),
            (F.col("b") == F.col("gb"))
            & (F.col("bcum") >= F.col("rank"))
            & (F.col("bcum") - F.col("c") < F.col("rank")),
        )
        .groupBy("i")
        .agg(
            F.max(F.when(F.col("kind") == 0, F.col("cents"))).alias("v_lo"),
            F.max(F.when(F.col("kind") == 1, F.col("cents"))).alias("v_hi"),
            F.max("frac").alias("frac"),
        )
        .select(
            "i",
            (
                F.col("v_lo").cast("double")
                + F.col("frac") * (F.coalesce(F.col("v_hi"), F.col("v_lo")) - F.col("v_lo")).cast("double")
            ).alias("bound"),
        )
    )
    bounds = bvals.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "bound"))), lambda s: s["bound"]
        ).alias("bounds")
    )
    return (
        v.crossJoin(F.broadcast(bounds))
        .select(
            F.size(F.filter(F.col("bounds"), lambda x: F.col("cents") > x)).alias("bucket"),
            "cents",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
        )
    )


@query(
    "q_burst_detection",
    oracle="""
    WITH e AS (SELECT user_id, epoch_ms(ts) AS ms FROM events),
    w AS (
      SELECT user_id,
             count(*) OVER (PARTITION BY user_id ORDER BY ms
                            RANGE BETWEEN 59999 PRECEDING AND CURRENT ROW) AS in_minute
      FROM e
    )
    SELECT user_id, count(*)::BIGINT AS n_events,
           CAST(max(in_minute) AS BIGINT) AS max_burst,
           (max(in_minute) >= 5) AS is_burst
    FROM w GROUP BY user_id
    """,
)
def q_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N79: burst / rate-limit detection — each user's maximum event
    count inside ANY trailing 60-second window (the sliding-rate
    primitive behind abuse detection, API throttling audits, and bot
    scoring; a fixed-bucket count misses bursts straddling bucket
    edges, the RANGE frame does not). One user-partitioned RANGE window
    over epoch-ms (exact integers — no timestamp arithmetic drift) +
    one aggregate riding the same user partitioning: a single shuffle,
    both stages keyed identically. At 100 TB: per-user event sequences
    are the window unit; no global sort, no cross-user state."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_millis("ts").alias("ms")
    )
    w = Window.partitionBy("user_id").orderBy("ms").rangeBetween(-59999, 0)
    counted = e.select("user_id", F.count(F.lit(1)).over(w).alias("in_minute"))
    return counted.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("in_minute").alias("max_burst"),
        (F.max("in_minute") >= 5).alias("is_burst"),
    )


@query(
    "q_abc_classification",
    oracle="""
    WITH rev AS (
      SELECT l_partkey, CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem GROUP BY 1
    ),
    c AS (
      SELECT cents,
             CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             CAST(sum(cents) OVER () AS BIGINT) AS tot
      FROM rev
    ),
    cls AS (
      SELECT CASE WHEN cum * 100 <= tot * 80 THEN 'A'
                  WHEN cum * 100 <= tot * 95 THEN 'B'
                  ELSE 'C' END AS abc_class,
             cents, tot
      FROM c
    )
    SELECT abc_class, count(*)::BIGINT AS n_parts,
           CAST(sum(cents) AS BIGINT) AS revenue_cents,
           round(CAST(sum(cents) AS DOUBLE) / max(tot), 4) AS revenue_share
    FROM cls GROUP BY abc_class
    """,
)
def q_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N80: ABC (Pareto) inventory classification — parts ranked by
    revenue; A carries the first 80% of cumulative revenue, B to 95%,
    C the tail: the assortment-planning primitive behind every
    'top 20% of SKUs drive 80% of revenue' decision. Facts collapse to
    the part-keyed revenue rollup FIRST (the only record-level
    exchange); the global cumulative share then runs over that
    dimension-sized table — one budgeted single-partition window over
    part-cardinality rows, never facts (q_skew_report's allowance
    argument; at extreme part cardinality decompose via the zipf_fit
    two-level rank). Exact integer class edges (cum·100 ≤ tot·80) —
    no float crossing until the reported share."""
    from pyspark.sql.window import Window

    rev = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long")).alias("cents"))
    )
    wc = Window.orderBy(F.col("cents").desc(), "l_partkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy()
    c = rev.select(
        "cents",
        F.sum("cents").over(wc).alias("cum"),
        F.sum("cents").over(wt).alias("tot"),
    )
    cls = c.select(
        F.when(F.col("cum") * 100 <= F.col("tot") * 80, "A")
        .when(F.col("cum") * 100 <= F.col("tot") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
        "cents",
        "tot",
    )
    return cls.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("cents").alias("revenue_cents"),
        F.round(F.sum("cents").cast("double") / F.max("tot"), 4).alias("revenue_share"),
    )


@query(
    "q_compaction_plan",
    oracle="""
    WITH o AS (
      SELECT o_orderkey % 64 AS bucket, count(*)::BIGINT AS n FROM orders GROUP BY 1
    ),
    t AS (SELECT CAST(ceil(sum(n) / 8.0) AS BIGINT) AS target FROM o),
    c AS (
      SELECT bucket, n,
             CAST(coalesce(sum(n) OVER (ORDER BY bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
      FROM o
    )
    SELECT CAST(cum_before // t.target AS BIGINT) AS file_id,
           count(*)::BIGINT AS n_buckets,
           CAST(sum(n) AS BIGINT) AS n_rows,
           CAST(min(bucket) AS BIGINT) AS first_bucket,
           CAST(max(bucket) AS BIGINT) AS last_bucket
    FROM c, t
    GROUP BY 1
    """,
)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N81: small-file compaction planner — the maintenance job every
    lakehouse table needs: given per-input-file row counts (the 64
    hash 'files' of q_zonemap_prune), assign contiguous input files to
    ~8 equal-row output files by greedy prefix packing (output file =
    cumulative-rows-before ÷ target). Contiguity preserves any sort/
    cluster order the inputs carry (the zone-map and Z-order layouts
    stay valid after compaction — why compactors don't hash-shuffle).
    All planning happens on the file-count table (64 rows): one
    budgeted single-partition window over metadata, never data; the
    actual rewrite at 100 TB is then an embarrassingly parallel
    per-output-file copy. Integer arithmetic end-to-end."""
    from pyspark.sql.window import Window

    o = (
        _t(spark, sf_dir, "orders")
        .groupBy((F.col("o_orderkey") % 64).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = o.agg(F.ceil(F.sum("n") / 8.0).cast("long").alias("target"))
    wc = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    c = o.select(
        "bucket",
        "n",
        F.coalesce(F.sum("n").over(wc), F.lit(0)).alias("cum_before"),
    )
    return (
        c.crossJoin(F.broadcast(tot))
        .select("bucket", "n", F.expr("cum_before div target").alias("file_id"))
        .groupBy("file_id")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("n").alias("n_rows"),
            F.min("bucket").alias("first_bucket"),
            F.max("bucket").alias("last_bucket"),
        )
    )


@query(
    "q_date_spine",
    oracle="""
    WITH b AS (
      SELECT epoch_ms(min(o_orderdate)) // 86400000 AS mn,
             epoch_ms(max(o_orderdate)) // 86400000 AS mx
      FROM orders
    ),
    spine AS (SELECT unnest(range(mn, mx + 1)) AS day FROM b),
    daily AS (
      SELECT epoch_ms(o_orderdate) // 86400000 AS day, count(*)::BIGINT AS n
      FROM orders GROUP BY 1
    )
    SELECT CAST(s.day // 30 AS BIGINT) AS month_bucket,
           count(*)::BIGINT AS days_in_bucket,
           CAST(sum(CASE WHEN d.n IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS days_with_orders,
           CAST(sum(CASE WHEN d.n IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS missing_days,
           CAST(coalesce(sum(d.n), 0) AS BIGINT) AS n_orders
    FROM spine s LEFT JOIN daily d ON d.day = s.day
    GROUP BY 1
    """,
)
def q_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N82: date-spine generation + coverage audit — the calendar
    scaffold every reporting pipeline joins against (a GROUP BY over
    raw facts silently drops empty days; the spine makes absence a
    row). The spine is GENERATED (F.sequence over the min/max day
    bounds, exploded — a source operator, no input table), the daily
    fact rollup LEFT-joins onto it, and the audit reports per 30-day
    bucket how many calendar days had no orders. At 100 TB the spine
    is ~10⁴ rows regardless of fact volume — generation is free; the
    daily rollup is the only fact-sized exchange. Integer epoch-day
    arithmetic both engines."""
    o = _t(spark, sf_dir, "orders").select(
        F.floor(F.unix_timestamp("o_orderdate") / 86400).cast("long").alias("day")
    )
    b = o.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
    spine = b.select(F.explode(F.sequence(F.col("mn"), F.col("mx"))).alias("day"))
    daily = o.groupBy("day").agg(F.count(F.lit(1)).alias("n"))
    j = spine.join(daily.withColumnRenamed("day", "d2"), spine["day"] == F.col("d2"), "left")
    return j.groupBy(F.expr("day div 30").alias("month_bucket")).agg(
        F.count(F.lit(1)).alias("days_in_bucket"),
        F.sum(F.when(F.col("n").isNotNull(), 1).otherwise(0)).alias("days_with_orders"),
        F.sum(F.when(F.col("n").isNull(), 1).otherwise(0)).alias("missing_days"),
        F.coalesce(F.sum("n"), F.lit(0)).alias("n_orders"),
    )


@query(
    "q_audience_overlap",
    oracle="""
    WITH u AS (
      SELECT user_id, epoch_ms(date_trunc('day', ts)) // 86400000 AS day,
             array_to_string(list_sort(list(DISTINCT event_type)), ',') AS combo,
             CAST(len(list(DISTINCT event_type)) AS INT) AS n_types
      FROM events GROUP BY 1, 2
    )
    SELECT combo, max(n_types) AS n_types, count(*)::BIGINT AS n_user_days
    FROM u GROUP BY combo
    """,
)
def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N83: audience-overlap (UpSet) analysis — (user, day) activity
    units counted per EXACT combination of event types performed: the
    set-intersection readout behind 'how many user-days both purchase
    AND error', which pairwise Venn counts cannot answer (2^k exact
    regions vs k·(k−1)/2 pairwise overlaps). The unit is user-DAY, the
    grain engagement dashboards segment on (a lifetime-per-user set
    saturates to the full combo on any active product — measured on
    the fixtures too). One (user, day)-keyed collect_set (the only
    record-level exchange), then a combo-keyed rollup; the combination
    space is bounded by 2^|types|, not users. Deterministic: the set
    is sorted before it becomes the key."""
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy(
        "user_id", F.floor(F.unix_timestamp(F.date_trunc("day", F.col("ts"))) / 86400).cast("long").alias("day")
    ).agg(
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias("combo"),
        F.size(F.collect_set("event_type")).alias("n_types"),
    )
    return audience_tail(u)


def audience_tail(u: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming audience-overlap queries:
    roll the per-(user, day) combo table — which IS the streaming state
    (collect_set is order-insensitive; sorted before becoming a value)
    — up to combo cardinality."""
    return u.groupBy("combo").agg(
        F.max("n_types").alias("n_types"),
        F.count(F.lit(1)).alias("n_user_days"),
    )


@query(
    "q_asof_tolerance",
    oracle="""
    WITH v AS (
      SELECT user_id, ts, max(value) AS view_value
      FROM events WHERE event_type = 'view' GROUP BY 1, 2
    ),
    p AS (
      SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id,
           epoch_ms(p.ts) AS ts_ms,
           round(p.value, 2) AS purchase_value,
           CASE WHEN v.ts IS NOT NULL AND epoch_ms(p.ts) - epoch_ms(v.ts) <= 3600000
                THEN round(v.view_value, 2) END AS last_view_value,
           (v.ts IS NOT NULL AND epoch_ms(p.ts) - epoch_ms(v.ts) <= 3600000) AS within_tolerance
    FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
)
def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N14b: as-of join with TOLERANCE — each purchase picks up the
    user's most recent view, but only if it is at most one hour stale;
    older matches become NULL (the feature-store freshness contract:
    a feature older than the tolerance must not leak into serving).
    Correctness identity that keeps the oracle simple: the most-recent
    match is the ONLY candidate that could satisfy the tolerance, so
    'as-of then staleness-filter' ≡ 'as-of within window'. Reuses the
    asof carry-forward machinery (operators/relational.py:asof_join —
    union + keyed window, one shuffle, no Spark ASOF primitive), then
    one staleness CASE on exact epoch-ms."""
    ev = _t(spark, sf_dir, "events")
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("view_value"))
        .select("user_id", "ts", "view_value")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    # asof carry-forward (operators/relational.py:asof_join shape) with a
    # STRUCT payload so the match's own timestamp rides along for the
    # staleness check; (ts, is_l, struct) is a total order because views
    # are pre-aggregated to one (user, ts) row
    from pyspark.sql.window import Window

    payload = F.struct(F.col("ts").alias("m_ts"), F.col("view_value").alias("m_val"))
    ptype = "struct<m_ts:timestamp,m_val:double>"
    l = purchases.select(
        "user_id", "ts", "event_id", "value",
        F.lit(1).alias("is_l"), F.lit(None).cast(ptype).alias("m"),
    )
    r = views.select(
        "user_id", "ts",
        F.lit(None).cast("long").alias("event_id"), F.lit(None).cast("double").alias("value"),
        F.lit(0).alias("is_l"), payload.alias("m"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "is_l", "m").rowsBetween(
        Window.unboundedPreceding, 0
    )
    joined = (
        l.unionByName(r)
        .withColumn("m", F.last("m", ignorenulls=True).over(w))
        .where(F.col("is_l") == 1)
    )
    stale_ok = F.col("m").isNotNull() & (
        (F.unix_millis("ts") - F.unix_millis("m.m_ts")) <= 3600000
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_millis("ts").alias("ts_ms"),
        F.round(F.col("value"), 2).alias("purchase_value"),
        F.when(stale_ok, F.round(F.col("m.m_val"), 2)).alias("last_view_value"),
        stale_ok.alias("within_tolerance"),
    )


@query(
    "q_mutual_information",
    oracle="""
    WITH e AS (
      SELECT event_type AS x, CAST(extract(hour FROM ts) AS INT) AS y FROM events
    ),
    cells AS (SELECT x, y, count(*)::BIGINT AS nxy FROM e GROUP BY 1, 2),
    mx AS (SELECT x, CAST(sum(nxy) AS BIGINT) AS nx FROM cells GROUP BY 1),
    my AS (SELECT y, CAST(sum(nxy) AS BIGINT) AS ny FROM cells GROUP BY 1),
    tot AS (SELECT CAST(sum(nxy) AS BIGINT) AS n FROM cells),
    terms AS (
      SELECT c.x, c.y,
             (CAST(c.nxy AS DOUBLE) / t.n)
               * ln((CAST(c.nxy AS DOUBLE) * t.n) / (CAST(mx.nx AS DOUBLE) * my.ny)) AS mi_term,
             -(CAST(c.nxy AS DOUBLE) / t.n) * ln(CAST(c.nxy AS DOUBLE) / t.n) AS hxy_term
      FROM cells c JOIN mx ON mx.x = c.x JOIN my ON my.y = c.y CROSS JOIN tot t
    )
    SELECT (SELECT n FROM tot) AS n_events,
           (SELECT count(*)::BIGINT FROM cells) AS n_cells,
           round(list_reduce(list_prepend(0.0, list(mi_term ORDER BY x, y)), (a, b) -> a + b), 4) AS mi_nats,
           round(list_reduce(list_prepend(0.0, list(hxy_term ORDER BY x, y)), (a, b) -> a + b), 4) AS h_joint_nats
    FROM terms
    """,
)
def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N84: mutual information between event type and hour-of-day (plus
    the joint entropy) — the information-theoretic dependence audit
    beside q_chi_square's significance test: chi-square says WHETHER the
    type mix depends on time, MI says HOW MANY NATS of predictability
    that dependence carries (the feature-selection quantity). All
    probabilities are exact integer count ratios over the bounded
    (types × 24) cell grid; the log terms fold in sorted cell order
    (the repo's float discipline), so both engines sum bit-identically.
    One fact-sized exchange into the cell grid; everything after is
    grid-bounded."""
    ev = _t(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.col("event_type").alias("x"), F.hour("ts").alias("y")
    ).agg(F.count(F.lit(1)).alias("nxy"))
    return mi_tail(cells)


def mi_tail(cells: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming MI queries: from the
    (x, y, nxy) cell table — which IS the streaming state (commutative
    counts over the bounded type×24 grid) — derive marginals, MI, and
    joint entropy. Grouping keys re-aliased so derived subtrees of a
    memory-sink view carry fresh attribute ids."""
    mx = cells.groupBy(F.col("x").alias("x1")).agg(F.sum("nxy").alias("nx"))
    my = cells.groupBy(F.col("y").alias("y1")).agg(F.sum("nxy").alias("ny"))
    tot = cells.agg(F.sum("nxy").alias("n"))
    t = (
        cells.join(F.broadcast(mx), F.col("x") == F.col("x1"))
        .drop("x1")
        .join(F.broadcast(my), F.col("y") == F.col("y1"))
        .drop("y1")
        .crossJoin(F.broadcast(tot))
    )
    p = F.col("nxy").cast("double") / F.col("n")
    mi_term = p * F.log(
        (F.col("nxy").cast("double") * F.col("n")) / (F.col("nx").cast("double") * F.col("ny"))
    )
    hxy_term = -p * F.log(p)
    terms = t.select("x", "y", "n", mi_term.alias("mi_term"), hxy_term.alias("hxy_term"))

    def fold(col):
        return F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("x"), F.col("y"), col.alias("v")))),
                lambda s: s["v"],
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        )

    return terms.agg(
        F.max("n").alias("n_events"),
        F.count(F.lit(1)).alias("n_cells"),
        F.round(fold(F.col("mi_term")), 4).alias("mi_nats"),
        F.round(fold(F.col("hxy_term")), 4).alias("h_joint_nats"),
    )


@query(
    "q_topk_with_other",
    oracle="""
    WITH rev AS (
      SELECT event_type, user_id,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    rk AS (
      SELECT event_type, user_id, cents,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY cents DESC, user_id) AS rn
      FROM rev
    )
    SELECT event_type, CAST(user_id AS VARCHAR) AS entity, cents, FALSE AS is_other
    FROM rk WHERE rn <= 3
    UNION ALL
    SELECT event_type, '<other>' AS entity, CAST(sum(cents) AS BIGINT), TRUE
    FROM rk WHERE rn > 3 GROUP BY event_type
    """,
)
def q_topk_with_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N85: top-k with an '<other>' rollup — the dashboard contract that
    plain per-group top-k breaks: the rows shown plus the residual row
    sum EXACTLY to the group total, so stakeholders can reconcile the
    chart against finance. Per event type: top-3 revenue users + one
    aggregated remainder. One user-keyed rollup, one group-partitioned
    rank window over the rollup (user-cardinality, never events), one
    conditional re-aggregate riding the same partitioning."""
    from pyspark.sql.window import Window

    rev = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", "user_id")
        .agg(F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"))
    )
    w = Window.partitionBy("event_type").orderBy(F.col("cents").desc(), "user_id")
    rk = rev.select("event_type", "user_id", "cents", F.row_number().over(w).alias("rn"))
    top = rk.where(F.col("rn") <= 3).select(
        "event_type",
        F.col("user_id").cast("string").alias("entity"),
        "cents",
        F.lit(False).alias("is_other"),
    )
    other = (
        rk.where(F.col("rn") > 3)
        .groupBy("event_type")
        .agg(F.sum("cents").alias("cents"))
        .select("event_type", F.lit("<other>").alias("entity"), "cents", F.lit(True).alias("is_other"))
    )
    return top.unionByName(other)


@query(
    "q_period_over_period",
    oracle="""
    WITH weekly AS (
      SELECT event_type,
             CAST((epoch_ms(ts) // 86400000) // 7 AS BIGINT) AS week,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, week, cents,
           lag(cents) OVER (PARTITION BY event_type ORDER BY week) AS prev_cents,
           round(100.0 * (cents - lag(cents) OVER (PARTITION BY event_type ORDER BY week))
                 / lag(cents) OVER (PARTITION BY event_type ORDER BY week), 4) AS pct_change
    FROM weekly
    """,
)
def q_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N86: period-over-period report — weekly revenue per event type
    with the previous week and percent change (the first row every
    business review reads). Weeks are exact integer epoch-day ÷ 7
    buckets; the lag window runs over the (type × weeks)-bounded weekly
    rollup, never events; NULL pct on each type's first week (no prior
    period), exact cents until the one reported division."""
    from pyspark.sql.window import Window

    weekly = (
        _t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.expr("(unix_millis(ts) div 86400000) div 7").alias("week"),
        )
        .agg(F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"))
    )
    w = Window.partitionBy("event_type").orderBy("week")
    prev = F.lag("cents").over(w)
    return weekly.select(
        "event_type",
        "week",
        "cents",
        prev.alias("prev_cents"),
        # try_divide: a zero-revenue previous week (all values 0.0) is a
        # legal frame; DuckDB's /0 -> NULL already matches.
        F.round(F.try_divide(F.lit(100.0) * (F.col("cents") - prev), prev), 4).alias("pct_change"),
    )


@query(
    "q_user_saturation",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_ms(date_trunc('day', ts)) // 86400000 AS day FROM events
    ),
    dau AS (SELECT day, count(DISTINCT user_id)::BIGINT AS dau FROM e GROUP BY 1),
    fs AS (
      SELECT first_day AS day, count(*)::BIGINT AS n_new FROM (
        SELECT user_id, min(day) AS first_day FROM e GROUP BY user_id
      ) GROUP BY 1
    )
    SELECT d.day, d.dau,
           coalesce(f.n_new, 0) AS n_new,
           CAST(sum(coalesce(f.n_new, 0)) OVER (ORDER BY d.day
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users,
           round(100.0 * coalesce(f.n_new, 0) / d.dau, 4) AS pct_new
    FROM dau d LEFT JOIN fs f ON f.day = d.day
    """,
)
def q_user_saturation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N87: user-acquisition saturation curve — per day: active users,
    FIRST-seen users, the cumulative distinct-user count, and the
    new-user share of DAU: the growth-accounting readout (when pct_new
    collapses, growth is retention-bound, not acquisition-bound) and
    the events-table sibling of the corpus novelty curve (same
    first-occurrence-is-a-MIN shape). One user-keyed min aggregate +
    two day-bounded rollups; the cumulative sum runs over the
    day-bounded table (budgeted single-partition window over ~10³
    rows, never events)."""
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.unix_timestamp(F.date_trunc("day", F.col("ts"))) / 86400).cast("long").alias("day"),
    )
    ud = e.groupBy("user_id", "day").agg(F.count(F.lit(1)).alias("n"))
    return saturation_tail(ud)


def saturation_tail(ud: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming saturation queries: from
    the (user_id, day, n) user-day table — which IS the streaming state
    (counts commutative; a user's first day is a MIN over state rows) —
    derive per day: DAU, first-seen users, cumulative users, new share.
    Renamed join key: two subtrees of one streaming memory-sink view
    (the novelty_tail lesson)."""
    from pyspark.sql.window import Window

    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    fs = (
        ud.groupBy("user_id")
        .agg(F.min("day").alias("first_day"))
        .groupBy(F.col("first_day").alias("d2"))
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    j = dau.join(fs, dau["day"] == fs["d2"], "left").drop("d2").select(
        "day", "dau", F.coalesce(F.col("n_new"), F.lit(0)).alias("n_new")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return j.select(
        "day",
        "dau",
        "n_new",
        F.sum("n_new").over(w).alias("cum_users"),
        F.round(F.lit(100.0) * F.col("n_new") / F.col("dau"), 4).alias("pct_new"),
    )


@query(
    "q_whatif_grid",
    oracle="""
    WITH base AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
             CAST(round(l_discount * 100) AS BIGINT) AS d_pct
      FROM lineitem
    ),
    grid AS (
      SELECT g.delta_pct,
             CAST(sum(price_c * (100 - greatest(0, d_pct + g.delta_pct))) AS BIGINT) AS rev_c100
      FROM base, (SELECT unnest([-1, 0, 1]) AS delta_pct) g
      GROUP BY g.delta_pct
    )
    SELECT g.delta_pct, g.rev_c100,
           round(100.0 * (g.rev_c100 - b.rev_c100) / b.rev_c100, 4) AS pct_vs_base
    FROM grid g CROSS JOIN (SELECT rev_c100 FROM grid WHERE delta_pct = 0) b
    """,
)
def q_whatif_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N88: what-if scenario grid — discounted revenue under a ±1-point
    discount shift, all scenarios in ONE scan: the pricing-sensitivity
    readout analysts otherwise run as k separate queries. The scenario
    dimension EXPLODES per row (k small constants — a narrow map, no
    join), each scenario's revenue accumulates as exact integer
    cents×percent, and the base comparison joins the 3-row grid to its
    own delta=0 row. At 100 TB: one fact pass amortizes across the
    whole grid — the marginal scenario is free, which is the point."""
    base = _t(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("price_c"),
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("d_pct"),
    )
    grid = (
        base.select(
            "price_c",
            "d_pct",
            F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias("delta_pct"),
        )
        .groupBy("delta_pct")
        .agg(
            F.sum(
                F.col("price_c")
                * (F.lit(100) - F.greatest(F.lit(0), F.col("d_pct") + F.col("delta_pct")))
            ).alias("rev_c100")
        )
    )
    b = grid.where(F.col("delta_pct") == 0).select(F.col("rev_c100").alias("base_c100"))
    return grid.crossJoin(F.broadcast(b)).select(
        "delta_pct",
        "rev_c100",
        F.round(
            F.lit(100.0) * (F.col("rev_c100") - F.col("base_c100")) / F.col("base_c100"), 4
        ).alias("pct_vs_base"),
    )


@query(
    "q_lift_table",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS resp
      FROM events GROUP BY user_id
    ),
    d AS (
      SELECT cents, resp,
             ntile(10) OVER (ORDER BY cents DESC, user_id) AS decile
      FROM u
    ),
    g AS (
      SELECT decile, count(*)::BIGINT AS n_users,
             CAST(sum(resp) AS BIGINT) AS n_resp
      FROM d GROUP BY decile
    ),
    t AS (SELECT CAST(sum(n_users) AS BIGINT) AS nt, CAST(sum(n_resp) AS BIGINT) AS rt FROM g)
    SELECT g.decile, g.n_users, g.n_resp,
           round(CAST(g.n_resp AS DOUBLE) / g.n_users, 4) AS resp_rate,
           round((CAST(g.n_resp AS DOUBLE) / g.n_users) / (CAST(t.rt AS DOUBLE) / t.nt), 4) AS lift,
           round(CAST(sum(g.n_resp) OVER (ORDER BY g.decile ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                 / t.rt, 4) AS cum_gains
    FROM g, t
    """,
)
def q_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N89: decile lift / gains table — users ranked by engagement spend
    into deciles; per decile the purchase-response rate, lift over the
    base rate, and cumulative gains: the campaign-targeting readout
    (call the top-2 deciles, capture X% of responders) that complements
    q_auc_eval (threshold-free ranking quality) and q_calibration
    (probability accuracy). Facts collapse to the user-keyed rollup
    first; the decile window and the gains cumsum run over user- and
    10-row-bounded tables (budgeted, never events). ntile ties are
    totally ordered by (score desc, user_id) so bucket edges are
    deterministic in both engines."""
    from pyspark.sql.window import Window

    u = _t(spark, sf_dir, "events").groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("resp"),
    )
    d = u.select(
        "cents",
        "resp",
        F.ntile(10).over(Window.orderBy(F.col("cents").desc(), "user_id")).alias("decile"),
    )
    g = d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("resp").alias("n_resp"),
    )
    t = g.agg(F.sum("n_users").alias("nt"), F.sum("n_resp").alias("rt"))
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        g.crossJoin(F.broadcast(t))
        .select(
            "decile",
            "n_users",
            "n_resp",
            F.round(F.col("n_resp").cast("double") / F.col("n_users"), 4).alias("resp_rate"),
            # try_divide on the base-rate and gains denominators: a corpus
            # with ZERO responders (rt = 0) is a legal frame; DuckDB's
            # /0 -> NULL already matches (adversarial-sweep find, round 7).
            F.round(
                F.try_divide(
                    F.col("n_resp").cast("double") / F.col("n_users"),
                    F.col("rt").cast("double") / F.col("nt"),
                ),
                4,
            ).alias("lift"),
            F.round(
                F.try_divide(F.sum("n_resp").over(wc).cast("double"), F.col("rt")), 4
            ).alias("cum_gains"),
        )
    )


@query(
    "q_join_advisor",
    oracle="""
    WITH sizes AS (
      SELECT 'region' AS tbl, count(*)::BIGINT AS n_rows,
             CAST(sum(16 + length(r_name)) AS BIGINT) AS est_bytes FROM region
      UNION ALL
      SELECT 'nation', count(*)::BIGINT,
             CAST(sum(24 + length(n_name)) AS BIGINT) FROM nation
      UNION ALL
      SELECT 'customer', count(*)::BIGINT,
             CAST(sum(24 + length(c_name) + length(c_mktsegment)) AS BIGINT) FROM customer
      UNION ALL
      SELECT 'supplier', count(*)::BIGINT,
             CAST(sum(24 + length(s_name)) AS BIGINT) FROM supplier
      UNION ALL
      SELECT 'part', count(*)::BIGINT,
             CAST(sum(32 + length(p_name) + length(p_brand)) AS BIGINT) FROM part
      UNION ALL
      SELECT 'orders', count(*)::BIGINT,
             CAST(sum(40 + length(o_orderstatus) + length(o_orderpriority)) AS BIGINT) FROM orders
    )
    SELECT tbl, n_rows, est_bytes,
           (est_bytes < 10485760) AS broadcastable,
           CASE WHEN est_bytes < 10485760 THEN 'broadcast' ELSE 'shuffle' END AS strategy
    FROM sizes
    """,
)
def q_join_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N90: join-strategy advisor — per candidate dimension table, exact
    row count and a deterministic in-memory size estimate (fixed widths
    for numeric/date columns + actual string lengths — the arithmetic
    ANALYZE TABLE feeds the CBO), and the broadcast-vs-shuffle verdict
    at the classic 10 MB autoBroadcastJoinThreshold. This is the
    decision every query in this repo bakes in via F.broadcast hints,
    surfaced as data so a planner (or a reviewer) can audit it: at
    100 TB the dims that stay under threshold ride the driver to every
    executor and the fact table NEVER shuffles for them. Six one-row
    stat aggregates (one per table — the q_expectations per-table
    allowance), each over #tasks partials."""
    parts = []
    specs = [
        ("region", 16, ["r_name"]),
        ("nation", 24, ["n_name"]),
        ("customer", 24, ["c_name", "c_mktsegment"]),
        ("supplier", 24, ["s_name"]),
        ("part", 32, ["p_name", "p_brand"]),
        ("orders", 40, ["o_orderstatus", "o_orderpriority"]),
    ]
    for tbl, fixed, strcols in specs:
        t = _t(spark, sf_dir, tbl)
        row_bytes = F.lit(fixed)
        for c in strcols:
            row_bytes = row_bytes + F.length(c)
        parts.append(
            t.agg(
                F.lit(tbl).alias("tbl"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(row_bytes).cast("long").alias("est_bytes"),
            )
        )
    sizes = parts[0]
    for p in parts[1:]:
        sizes = sizes.unionByName(p)
    return sizes.select(
        "tbl",
        "n_rows",
        "est_bytes",
        (F.col("est_bytes") < 10485760).alias("broadcastable"),
        F.when(F.col("est_bytes") < 10485760, "broadcast").otherwise("shuffle").alias("strategy"),
    )


@query(
    "q_debounce",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, event_id, epoch_ms(ts) AS ms FROM events
    ),
    l AS (
      SELECT event_type, ms,
             lag(ms) OVER (PARTITION BY user_id, event_type
                           ORDER BY ms, event_id) AS prev_ms
      FROM e
    )
    SELECT event_type, count(*)::BIGINT AS n_events,
           CAST(sum(CASE WHEN prev_ms IS NULL OR ms - prev_ms > 5000 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN prev_ms IS NOT NULL AND ms - prev_ms <= 5000 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
    FROM l GROUP BY event_type
    """,
)
def q_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N91: debounce / event de-bouncing — collapse repeats of the same
    (user, event-type) arriving within 5 s of the previous occurrence:
    the instrumentation-cleaning pass that removes double-clicks, retry
    storms, and SDK re-fires before ANY downstream count is trusted
    (dedup by key removes exact copies; debounce removes rapid
    LEGITIMATE repeats). One (user, type)-partitioned lag window over
    exact epoch-ms + one rollup riding the same partitioning — a single
    shuffle, per-key sequences as the window unit, no global state."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", F.unix_millis("ts").alias("ms")
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("ms", "event_id")
    l = e.select("event_type", "ms", F.lag("ms").over(w).alias("prev_ms"))
    keep = F.col("prev_ms").isNull() | (F.col("ms") - F.col("prev_ms") > 5000)
    return l.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(keep, 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(~keep, 1).otherwise(0)).alias("n_dropped"),
    )


@query(
    "q_tiered_billing",
    oracle="""
    WITH u AS (
      SELECT l.l_suppkey AS acct,
             CAST(sum(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT) AS units
      FROM lineitem l GROUP BY 1
    )
    SELECT acct, units,
           CAST(least(units, 100) * 50
              + least(greatest(units - 100, 0), 400) * 40
              + greatest(units - 500, 0) * 25 AS BIGINT) AS cost_cents,
           round((least(units, 100) * 50
                + least(greatest(units - 100, 0), 400) * 40
                + greatest(units - 500, 0) * 25) / (100.0 * units), 4) AS effective_rate
    FROM u
    """,
)
def q_tiered_billing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N92: tiered (graduated) billing — per supplier account, shipped
    units priced through marginal tiers (first 100 @ 50¢, next 400 @
    40¢, beyond @ 25¢) and the blended effective rate: the metering
    rollup every usage-billed platform runs, with the classic
    correctness trap (marginal tiers, NOT cliff pricing) spelled out in
    exact integer arithmetic — least/greatest tier slices, no branches,
    no floats until the reported rate. One account-keyed rollup; the
    tier math is a narrow map over account cardinality."""
    u = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_suppkey").alias("acct"))
        .agg(F.sum(F.round(F.col("l_quantity"), 0).cast("long")).alias("units"))
    )
    t1 = F.least(F.col("units"), F.lit(100)) * 50
    t2 = F.least(F.greatest(F.col("units") - 100, F.lit(0)), F.lit(400)) * 40
    t3 = F.greatest(F.col("units") - 500, F.lit(0)) * 25
    cost = (t1 + t2 + t3).cast("long")
    return u.select(
        "acct",
        "units",
        cost.alias("cost_cents"),
        F.round(cost / (F.lit(100.0) * F.col("units")), 4).alias("effective_rate"),
    )


@query(
    "q_lateness_audit",
    oracle="""
    WITH e AS (
      SELECT event_type, event_id, epoch_ms(ts) AS ms FROM events
    ),
    l AS (
      SELECT event_type, ms,
             max(ms) OVER (PARTITION BY event_type ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      FROM e
    ),
    x AS (
      SELECT event_type,
             greatest(0, coalesce(prev_max - ms, 0)) AS late_ms
      FROM l
    )
    SELECT event_type, count(*)::BIGINT AS n_events,
           CAST(sum(CASE WHEN late_ms > 60000 THEN 1 ELSE 0 END) AS BIGINT) AS n_late_1m,
           CAST(sum(CASE WHEN late_ms > 600000 THEN 1 ELSE 0 END) AS BIGINT) AS n_late_10m,
           CAST(max(late_ms) AS BIGINT) AS max_late_ms
    FROM x GROUP BY event_type
    """,
)
def q_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N93: event-lateness audit — per type, how far events arrive
    BEHIND the stream's running high-water mark (arrival order =
    event_id): the empirical input to every watermark decision (a
    10-minute watermark drops exactly n_late_10m rows — measured, not
    guessed). The Spark plan is the DISTRIBUTED PREFIX-MAX shape, not
    the oracle's naive full-partition window: arrival buckets of 1000
    events compute local maxima; the bucket table (bounded) carries a
    running max per type; each row's high-water mark is
    greatest(carry-in from prior buckets, prefix max WITHIN its
    bucket) — so the only full-data window is partitioned by
    (type, bucket), embarrassingly parallel, while the cross-bucket
    sequence lives on the small table (the q_skyline boundary-maxima
    argument, executed). Exact epoch-ms integers."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events").select(
        "event_type", "event_id", F.unix_millis("ts").alias("ms"),
        F.expr("event_id div 1000").alias("bucket"),
    )
    bmax = e.groupBy("event_type", "bucket").agg(F.max("ms").alias("bmx"))
    wb = Window.partitionBy("event_type").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry = bmax.select(
        "event_type", F.col("bucket").alias("cb"), F.max("bmx").over(wb).alias("carry_ms")
    )
    ww = Window.partitionBy("event_type", "bucket").orderBy("event_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    within = e.select(
        "event_type", "bucket", "ms", F.max("ms").over(ww).alias("within_ms")
    )
    j = within.join(
        F.broadcast(carry),
        (within["event_type"] == carry["event_type"]) & (within["bucket"] == carry["cb"]),
    ).drop(carry["event_type"]).drop("cb")
    late = F.greatest(
        F.lit(0),
        F.coalesce(F.greatest(F.col("carry_ms"), F.col("within_ms")), F.col("within_ms"), F.col("carry_ms"), F.lit(None).cast("long"))
        - F.col("ms"),
    )
    x = j.select("event_type", F.coalesce(late, F.lit(0)).alias("late_ms"))
    return x.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("late_ms") > 60000, 1).otherwise(0)).alias("n_late_1m"),
        F.sum(F.when(F.col("late_ms") > 600000, 1).otherwise(0)).alias("n_late_10m"),
        F.max("late_ms").alias("max_late_ms"),
    )


@query(
    "q_salt_advisor",
    oracle="""
    WITH k AS (
      SELECT event_type AS key, count(*)::BIGINT AS n FROM events GROUP BY 1
    ),
    t AS (
      SELECT CAST(ceil(sum(n) / 32.0) AS BIGINT) AS target FROM k
    )
    SELECT k.key, k.n, t.target AS target_per_task,
           CAST(ceil(CAST(k.n AS DOUBLE) / t.target) AS BIGINT) AS salt_factor,
           (k.n > t.target) AS needs_salt
    FROM k, t
    """,
)
def q_salt_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N94: skew-salting advisor — per join/aggregation key: its row
    count, the per-task target (total ÷ 32 shuffle partitions), and the
    recommended salt factor ceil(n / target): the executable companion
    to q_skew_report (which diagnoses) and q_salted_join (which fixes
    with a FIXED factor) — this computes the factor per key, which is
    what an adaptive salting pass actually consumes (AQE's skew-join
    split does the same arithmetic on partition byte sizes at runtime).
    Key-cardinality rollup + one-row total broadcast; exact integers."""
    k = _t(spark, sf_dir, "events").groupBy(F.col("event_type").alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    t = k.agg(F.ceil(F.sum("n") / 32.0).cast("long").alias("target"))
    return k.crossJoin(F.broadcast(t)).select(
        "key",
        "n",
        F.col("target").alias("target_per_task"),
        F.ceil(F.col("n").cast("double") / F.col("target")).cast("long").alias("salt_factor"),
        (F.col("n") > F.col("target")).alias("needs_salt"),
    )


@query(
    "q_ship_lag",
    oracle="""
    WITH j AS (
      SELECT CAST(epoch_ms(date_trunc('month', o.o_orderdate)) // 1000 AS BIGINT) AS month_s,
             (epoch_ms(l.l_shipdate) - epoch_ms(o.o_orderdate)) // 86400000 AS lag_days
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    )
    SELECT month_s, count(*)::BIGINT AS n_lines,
           CAST(sum(CASE WHEN lag_days <= 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_within_1w,
           CAST(sum(CASE WHEN lag_days > 7 AND lag_days <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_1w_to_1m,
           CAST(sum(CASE WHEN lag_days > 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_over_1m,
           CAST(max(lag_days) AS BIGINT) AS max_lag_days
    FROM j GROUP BY month_s
    """,
)
def q_ship_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N95: order-to-ship lag distribution per order month — the
    supply-chain latency trend (are we shipping slower this quarter),
    bucketed ≤1w / 1w–1m / >1m in exact epoch-day integers. The join is
    the canonical fact-fact orderkey equi-join both tables bucket on at
    100 TB (no dimension detour); the month rollup rides the join's
    output partitioning after AQE. The lag-bucket split is one
    conditional aggregate — adding a bucket costs an expression, not a
    pass."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.unix_timestamp(F.date_trunc("month", F.col("o_orderdate"))).alias("month_s"),
        F.unix_millis("o_orderdate").alias("o_ms"),
    )
    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.unix_millis("l_shipdate").alias("s_ms")
    )
    j = l.join(o, l["l_orderkey"] == o["o_orderkey"]).select(
        "month_s", F.expr("(s_ms - o_ms) div 86400000").alias("lag_days")
    )
    return j.groupBy("month_s").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.when(F.col("lag_days") <= 7, 1).otherwise(0)).alias("n_within_1w"),
        F.sum(F.when((F.col("lag_days") > 7) & (F.col("lag_days") <= 30), 1).otherwise(0)).alias("n_1w_to_1m"),
        F.sum(F.when(F.col("lag_days") > 30, 1).otherwise(0)).alias("n_over_1m"),
        F.max("lag_days").alias("max_lag_days"),
    )


@query(
    "q_cohort_ltv",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_ms(ts) // 86400000 AS day,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    first AS (SELECT user_id, min(day) // 7 AS cohort_week FROM e GROUP BY user_id),
    rev AS (
      SELECT f.cohort_week,
             (e.day // 7) - f.cohort_week AS weeks_since,
             CAST(sum(e.cents) AS BIGINT) AS cents
      FROM e JOIN first f ON f.user_id = e.user_id
      GROUP BY 1, 2
    ),
    sized AS (SELECT cohort_week, count(*)::BIGINT AS cohort_users FROM first GROUP BY 1)
    SELECT r.cohort_week, r.weeks_since, s.cohort_users, r.cents,
           CAST(sum(r.cents) OVER (PARTITION BY r.cohort_week ORDER BY r.weeks_since
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents,
           round(CAST(sum(r.cents) OVER (PARTITION BY r.cohort_week ORDER BY r.weeks_since
                                         ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                 / (100.0 * s.cohort_users), 4) AS ltv_per_user
    FROM rev r JOIN sized s ON s.cohort_week = r.cohort_week
    """,
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N96: cohort LTV accumulation — per signup-week cohort, revenue by
    weeks-since-signup and the cumulative lifetime value per user: the
    payback-period readout (which week does a cohort's LTV cross
    acquisition cost) that q_cohort_retention's COUNT triangle cannot
    answer — money, not presence. One user-keyed first-touch aggregate
    joined back into the fact stream (the retention shape), a
    (cohort × weeks)-bounded rollup, and the cumulative window over
    that bounded triangle; exact cents until the one per-user
    division."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_millis(ts) div 86400000").alias("day"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    first = e.groupBy("user_id").agg(F.expr("min(day) div 7").alias("cohort_week"))
    rev = (
        e.join(first, "user_id")
        .groupBy(
            "cohort_week",
            (F.expr("day div 7") - F.col("cohort_week")).alias("weeks_since"),
        )
        .agg(F.sum("cents").alias("cents"))
    )
    sized = first.groupBy(F.col("cohort_week").alias("cw")).agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    w = Window.partitionBy("cohort_week").orderBy("weeks_since").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        rev.join(F.broadcast(sized), rev["cohort_week"] == sized["cw"])
        .drop("cw")
        .select(
            "cohort_week",
            "weeks_since",
            "cohort_users",
            "cents",
            F.sum("cents").over(w).alias("cum_cents"),
            F.round(
                F.sum("cents").over(w).cast("double") / (F.lit(100.0) * F.col("cohort_users")), 4
            ).alias("ltv_per_user"),
        )
    )


@query(
    "q_nearest_event_join",
    oracle="""
    WITH v AS (
      SELECT user_id, ts, max(value) AS view_value
      FROM events WHERE event_type = 'view' GROUP BY 1, 2
    ),
    p AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    prev AS (
      SELECT p.event_id, v.ts AS m_ts, v.view_value
      FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
    ),
    nxt AS (
      SELECT p.event_id, v.ts AS m_ts, v.view_value
      FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts < v.ts
    )
    SELECT p.event_id, p.user_id, epoch_ms(p.ts) AS ts_ms,
           CASE
             WHEN prev.m_ts IS NULL AND nxt.m_ts IS NULL THEN NULL
             WHEN nxt.m_ts IS NULL THEN round(prev.view_value, 2)
             WHEN prev.m_ts IS NULL THEN round(nxt.view_value, 2)
             WHEN epoch_ms(p.ts) - epoch_ms(prev.m_ts) <= epoch_ms(nxt.m_ts) - epoch_ms(p.ts)
               THEN round(prev.view_value, 2)
             ELSE round(nxt.view_value, 2)
           END AS nearest_view_value,
           CASE
             WHEN prev.m_ts IS NULL AND nxt.m_ts IS NULL THEN NULL
             WHEN nxt.m_ts IS NULL THEN epoch_ms(p.ts) - epoch_ms(prev.m_ts)
             WHEN prev.m_ts IS NULL THEN epoch_ms(nxt.m_ts) - epoch_ms(p.ts)
             ELSE least(epoch_ms(p.ts) - epoch_ms(prev.m_ts), epoch_ms(nxt.m_ts) - epoch_ms(p.ts))
           END AS dist_ms
    FROM p
    LEFT JOIN prev ON prev.event_id = p.event_id
    LEFT JOIN nxt ON nxt.event_id = p.event_id
    """,
)
def q_nearest_event_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N97: nearest-event (bidirectional as-of) join — each purchase
    picks the view closest in time in EITHER direction, with the
    distance: sensor alignment, sessionless attribution, and
    panel-data matching all need nearest-by-|Δt|, which one-sided ASOF
    cannot express. Implementation = the carry-forward union run TWICE
    (once in each time direction — the backward pass is the same
    window with ts descending), then a 3-way CASE on exact epoch-ms
    distances; ties break toward the PAST match (≤), pinned in both
    engines. Still one shuffle per direction on the same key — no
    range-join blowup."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("view_value"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    ptype = "struct<m_ts:timestamp,m_val:double>"
    payload = F.struct(F.col("ts").alias("m_ts"), F.col("view_value").alias("m_val"))
    l = purchases.select(
        "user_id", "ts", "event_id", F.lit(1).alias("is_l"), F.lit(None).cast(ptype).alias("m")
    )
    r = views.select(
        "user_id", "ts", F.lit(None).cast("long").alias("event_id"),
        F.lit(0).alias("is_l"), payload.alias("m"),
    )
    u = l.unionByName(r)
    wf = Window.partitionBy("user_id").orderBy("ts", "is_l", "m").rowsBetween(
        Window.unboundedPreceding, 0
    )
    # backward pass: descending ts; is_l ASC keeps right rows at the same
    # ts visible (strictly-after semantics: purchase at t matches views > t)
    wb = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("is_l"), F.col("m")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    both = (
        u.withColumn("prev_m", F.last("m", ignorenulls=True).over(wf))
        .withColumn("next_m", F.last("m", ignorenulls=True).over(wb))
        .where(F.col("is_l") == 1)
    )
    p_ms = F.unix_millis("ts")
    prev_d = p_ms - F.unix_millis("prev_m.m_ts")
    next_d = F.unix_millis("next_m.m_ts") - p_ms
    pick_prev = F.col("next_m").isNull() | (
        F.col("prev_m").isNotNull() & (prev_d <= next_d)
    )
    return both.select(
        "event_id",
        "user_id",
        p_ms.alias("ts_ms"),
        F.when(F.col("prev_m").isNull() & F.col("next_m").isNull(), F.lit(None).cast("double"))
        .when(pick_prev, F.round(F.col("prev_m.m_val"), 2))
        .otherwise(F.round(F.col("next_m.m_val"), 2))
        .alias("nearest_view_value"),
        F.when(F.col("prev_m").isNull() & F.col("next_m").isNull(), F.lit(None).cast("long"))
        .when(pick_prev, prev_d)
        .otherwise(next_d)
        .alias("dist_ms"),
    )


KMV_ORACLE = """
    WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
    h AS (
      SELECT event_type, user_id,
             ('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
      FROM d
    ),
    r AS (
      SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rk,
             count(*) OVER (PARTITION BY event_type) AS nd
      FROM h
    ),
    bk AS (SELECT * FROM r WHERE rk <= 64),
    per AS (
      SELECT event_type,
             CAST(max(nd) AS BIGINT) AS exact_users,
             CAST(count(*) AS BIGINT) AS k_used,
             CAST(max(hv) AS BIGINT) AS rk_hv
      FROM bk GROUP BY 1
    ),
    mgd AS (SELECT DISTINCT hv FROM bk),
    mr AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rk FROM mgd),
    mk AS (
      SELECT CAST(count(*) AS BIGINT) AS k_used, CAST(max(hv) AS BIGINT) AS rk_hv
      FROM mr WHERE rk <= 64
    ),
    gx AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users FROM events),
    u AS (
      SELECT event_type, exact_users, k_used, rk_hv FROM per
      UNION ALL
      SELECT '<all>' AS event_type, g.exact_users, m.k_used, m.rk_hv FROM mk m, gx g
    ),
    est AS (
      SELECT event_type, exact_users, k_used,
             CASE WHEN exact_users <= 64 THEN CAST(exact_users AS DOUBLE)
                  ELSE 63.0 * 1152921504606846976.0 / rk_hv END AS raw_est
      FROM u
    )
    SELECT event_type, exact_users, k_used,
           round(raw_est, 4) AS kmv_est,
           (abs(raw_est - exact_users) <= 0.5 * exact_users) AS within_bound
    FROM est
    """


@query("q_kmv_sketch", oracle=KMV_ORACLE)
def q_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N98: K-minimum-values distinct sketch (Bar-Yossef et al. 2002) —
    the PORTABLE bottom-k alternative to HLL for distinct counting with
    native set algebra: per event_type keep the 64 smallest 60-bit md5
    hashes of user_id; D-hat = (k-1)*2^60 / R_k (R_k = k-th smallest).
    Cross-engine EXACT like q_hll_portable: both engines derive identical
    hash sets, so estimates hash-match to 4dp — no verdict-contract
    weakening needed (the within_bound column is the accuracy readout,
    ~1/sqrt(k-2) relative error). The '<all>' row is built by MERGING the
    per-type bottom-64 lists (union -> re-take bottom-64) — the KMV merge
    property that makes per-source sketches roll up to any grouping
    without a corpus re-scan: the union of per-type bottom-k provably
    contains the global bottom-k. At 100 TB the state per group is 64
    longs forever; the per-type window runs on the (type, user)-distinct
    table (the one real exchange, map-side combined), and the merged
    rollup touches <= types*64 rows. Small-cardinality groups (nd <= k)
    report exactly."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select("event_type", "user_id").distinct()
    return kmv_tail(d)


def kmv_tail(d: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming KMV queries: from a
    (event_type, user_id) distinct table, hash, take per-type bottom-64,
    merge for the '<all>' row, estimate. The hash is a pure function of
    user_id, so streaming state stays the bare presence set."""
    from pyspark.sql.window import Window

    K = 64
    hv = F.conv(
        F.substring(F.md5(F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    h = d.select("event_type", hv.alias("hv"))
    wr = Window.partitionBy("event_type").orderBy("hv")
    wn = Window.partitionBy("event_type")
    r = h.select(
        "event_type",
        "hv",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("nd"),
    )
    bk = r.where(F.col("rk") <= K)
    per = bk.groupBy("event_type").agg(
        F.max("nd").alias("exact_users"),
        F.count(F.lit(1)).alias("k_used"),
        F.max("hv").alias("rk_hv"),
    )
    # mergeability demo: union of per-type bottom-k -> distinct -> bottom-k
    mgd = bk.select("hv").distinct()
    mr = mgd.select("hv", F.row_number().over(Window.orderBy("hv")).alias("rk"))
    mk = mr.where(F.col("rk") <= K).agg(
        F.count(F.lit(1)).alias("k_used"), F.max("hv").alias("rk_hv")
    )
    gx = d.agg(F.count_distinct("user_id").alias("exact_users"))
    allrow = mk.crossJoin(F.broadcast(gx)).select(
        F.lit("<all>").alias("event_type"), "exact_users", "k_used", "rk_hv"
    )
    u = per.select("event_type", "exact_users", "k_used", "rk_hv").unionByName(allrow)
    raw_est = F.when(
        F.col("exact_users") <= K, F.col("exact_users").cast("double")
    ).otherwise(F.lit(63.0) * F.lit(float(2**60)) / F.col("rk_hv"))
    return u.select(
        "event_type",
        "exact_users",
        "k_used",
        F.round(raw_est, 4).alias("kmv_est"),
        (F.abs(raw_est - F.col("exact_users")) <= 0.5 * F.col("exact_users")).alias("within_bound"),
    )


@query(
    "q_srm_check",
    oracle="""
    WITH u AS (
      SELECT DISTINCT epoch_ms(ts) // 86400000 AS day, user_id,
             ('0x' || substr(md5('ab1:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0 AS is_control
      FROM events
    ),
    c AS (
      SELECT day,
             CAST(sum(CASE WHEN is_control THEN 1 ELSE 0 END) AS BIGINT) AS n_control,
             CAST(sum(CASE WHEN is_control THEN 0 ELSE 1 END) AS BIGINT) AS n_treatment
      FROM u GROUP BY 1
    )
    SELECT day * 86400 AS day_s, n_control, n_treatment,
           round(CAST((n_control - n_treatment) * (n_control - n_treatment) AS DOUBLE)
                 / (n_control + n_treatment), 4) AS chi2,
           (CAST((n_control - n_treatment) * (n_control - n_treatment) AS DOUBLE)
                 / (n_control + n_treatment) > 10.827566) AS srm_flag
    FROM c
    """,
)
def q_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N99: sample-ratio-mismatch audit — the experimentation guardrail
    that must run BEFORE q_ab_test's significance readout is believed: per
    day, the distinct users landing in each md5 arm (the exact q_ab_test
    assignment) and the 1-df chi-square against the designed 50/50 split,
    flagged at p < 0.001 (chi2 > 10.8276 — the industry SRM threshold;
    Fabijan et al. 2019). A triggered flag means assignment/logging bias —
    any lift readout on that day is invalid. For a 50/50 design the
    chi-square collapses to (n_a - n_b)^2 / (n_a + n_b), exact integers to
    one final division — both engines evaluate the identical double, so
    the boolean flag can never disagree. One (day, user) DISTINCT is the
    only event-sized exchange (map-side combined); the per-day rollup is
    days-bounded. At 100 TB the distinct exchange is the standard daily
    dedup any DAU pipeline already pays — the SRM panel rides it free."""
    ev = _t(spark, sf_dir, "events")
    du = ev.select(
        F.expr("unix_millis(ts) div 86400000").alias("day"), "user_id"
    ).distinct()
    return srm_tail(du)


def srm_tail(du: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming SRM queries: from a
    (day, user_id) distinct table, assign the md5 arm and roll up the
    per-day chi-square vs 50/50. The arm is a pure function of user_id,
    so it can be (re)derived at drain time — streaming state stays the
    bare (day, user) presence set."""
    is_control = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("ab1:"), F.col("user_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 2
        == 0
    )
    c = du.select("day", is_control.alias("is_control")).groupBy("day").agg(
        F.sum(F.when(F.col("is_control"), 1).otherwise(0)).alias("n_control"),
        F.sum(F.when(F.col("is_control"), 0).otherwise(1)).alias("n_treatment"),
    )
    diff = F.col("n_control") - F.col("n_treatment")
    chi2 = (diff * diff).cast("double") / (F.col("n_control") + F.col("n_treatment"))
    return c.select(
        (F.col("day") * 86400).alias("day_s"),
        "n_control",
        "n_treatment",
        F.round(chi2, 4).alias("chi2"),
        (chi2 > 10.827566).alias("srm_flag"),
    )


@query(
    "q_seasonal_decompose",
    oracle="""
    WITH e AS (
      SELECT epoch_ms(ts) // 86400000 AS day,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    d AS (SELECT day, CAST(sum(cents) AS BIGINT) AS cents FROM e GROUP BY 1),
    t AS (
      SELECT day, cents,
             CAST(sum(cents) OVER w AS BIGINT) AS wsum,
             CAST(count(*) OVER w AS BIGINT) AS wn
      FROM d
      WINDOW w AS (ORDER BY day RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    dt AS (
      SELECT day, day % 7 AS slot, cents,
             wsum // wn AS trend_cents,
             cents - wsum // wn AS detrended
      FROM t
    ),
    s AS (
      SELECT slot,
             CAST(sum(detrended) AS BIGINT) AS snum,
             count(*)::BIGINT AS sden
      FROM dt GROUP BY 1
    )
    SELECT dt.day * 86400 AS day_s, dt.slot, dt.cents, dt.trend_cents,
           s.snum // s.sden AS seasonal_cents,
           dt.detrended - s.snum // s.sden AS residual_cents
    FROM dt JOIN s ON s.slot = dt.slot
    """,
)
def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N100: classical seasonal decomposition (trend + seasonal +
    residual) of the daily revenue series — the structure pass behind
    q_forecast_eval's seasonal-naive baseline and q_rolling_zscore's
    anomaly gate: trend = centered 7-day moving mean, seasonal = per-slot
    (day mod 7) mean of the detrended series, residual = the rest. ALL
    integer arithmetic: moving mean and seasonal mean use truncating
    integer division (Spark `div` == DuckDB `//` on BIGINT, identical on
    negatives — trunc toward zero), so every output column is an exact
    BIGINT and the decomposition reassembles exactly:
    cents = trend + seasonal + residual + (two bounded truncation
    remainders < 1 cent). Events collapse to the days-bounded daily table
    first (the one corpus-sized exchange); the centered RANGE window and
    the 7-row slot rollup + broadcast-back all run on days-bounded data.
    At 100 TB the daily rollup is parquet-footer cheap and the
    decomposition itself is O(days)."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        F.expr("unix_millis(ts) div 86400000").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    d = e.groupBy("day").agg(F.sum("cents").alias("cents"))
    return seasonal_tail(d)


def seasonal_tail(d: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming seasonal-decompose queries:
    from a (day, cents) daily table, the centered-7d integer trend, the
    day-mod-7 seasonal means, and the exact residual."""
    from pyspark.sql.window import Window

    w = Window.orderBy("day").rangeBetween(-3, 3)
    t = d.select(
        "day",
        "cents",
        F.sum("cents").over(w).alias("wsum"),
        F.count(F.lit(1)).over(w).alias("wn"),
    )
    dt = t.select(
        "day",
        (F.col("day") % 7).alias("slot"),
        "cents",
        F.expr("wsum div wn").alias("trend_cents"),
        F.expr("cents - wsum div wn").alias("detrended"),
    )
    s = dt.groupBy("slot").agg(
        F.sum("detrended").alias("snum"), F.count(F.lit(1)).alias("sden")
    )
    return dt.join(F.broadcast(s), "slot").select(
        (F.col("day") * 86400).alias("day_s"),
        "slot",
        "cents",
        "trend_cents",
        F.expr("snum div sden").alias("seasonal_cents"),
        F.expr("detrended - snum div sden").alias("residual_cents"),
    )


@query(
    "q_holt_linear",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT event_type,
             epoch_ms(ts) // 86400000 AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    arr AS (
      SELECT event_type,
             count(*)::BIGINT AS n_days,
             list(CAST(cents AS DOUBLE) ORDER BY day) AS xs
      FROM daily GROUP BY 1
    ),
    rec AS (
      -- row-per-step recursion: every new column derives from the PREVIOUS
      -- row's l/b (simultaneous update), matching Spark's F.aggregate lambda
      -- semantics; DuckDB's list_reduce mutates struct fields sequentially
      -- (field 2 sees field 1 already updated) so a struct fold would diverge
      SELECT event_type, n_days, xs, 1 AS step,
             xs[1] AS l, CAST(0.0 AS DOUBLE) AS b, CAST(0.0 AS DOUBLE) AS sse
      FROM arr
      UNION ALL
      SELECT event_type, n_days, xs, step + 1,
             0.3 * xs[step + 1] + 0.7 * (l + b),
             0.1 * ((0.3 * xs[step + 1] + 0.7 * (l + b)) - l) + 0.9 * b,
             sse + (xs[step + 1] - (l + b)) * (xs[step + 1] - (l + b))
      FROM rec WHERE step < n_days
    )
    SELECT event_type, n_days,
           round(l, 4) AS level,
           round(b, 4) AS trend,
           round(l + b, 4) AS forecast_next,
           round(sqrt(sse / NULLIF(n_days - 1, 0)), 4) AS rmse
    FROM rec WHERE step = n_days
    """,
)
def q_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N101: Holt's linear-trend double exponential smoothing (alpha=0.3,
    beta=0.1) of daily revenue per event type — the level+trend
    forecaster one rung above q_ewma_smooth (level only), feeding the
    forecast_next baseline q_forecast_eval scores. The recursion's state
    is a STRUCT {level, trend, sse}, folded sequentially over the
    day-sorted series: Spark F.aggregate reads the OLD accumulator for
    every field (simultaneous update), and the oracle mirrors that with
    a row-per-step RECURSIVE CTE — NOT a DuckDB list_reduce struct fold,
    which mutates fields sequentially (field 2 sees field 1 updated) and
    silently diverges on mutually-referential recursions like this one.
    Identical expression trees per step make level, trend, forecast and
    in-sample RMSE bit-identical (the q_ewma closed-form trick does NOT
    apply — the 2-state recursion has matrix-power closed form only).
    Init: l_1 = x_1, b_1 = 0.
    Scale: the fold is per-SERIES over the days-bounded array (3650
    doubles for a decade) — the series dimension (types/SKUs/users)
    carries the parallelism; one daily rollup is the only corpus-sized
    exchange."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr("unix_millis(ts) div 86400000").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    return holt_tail(daily)


def holt_tail(daily: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming Holt queries: from an
    (event_type, day, cents) daily table, collect the day-sorted series
    per type and run the {level, trend, sse} struct fold."""
    arr = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "cents"))),
            lambda s: s["cents"].cast("double"),
        ).alias("xs"),
    )
    state = "struct<l:double,b:double,sse:double>"
    folded = arr.select(
        "event_type",
        "n_days",
        F.aggregate(
            F.slice(F.col("xs"), 2, F.greatest(F.size("xs") - 1, F.lit(0))),
            F.struct(
                F.element_at("xs", 1).alias("l"),
                F.lit(0.0).alias("b"),
                F.lit(0.0).alias("sse"),
            ).cast(state),
            lambda acc, x: F.struct(
                (F.lit(0.3) * x + F.lit(0.7) * (acc["l"] + acc["b"])).alias("l"),
                (
                    F.lit(0.1) * ((F.lit(0.3) * x + F.lit(0.7) * (acc["l"] + acc["b"])) - acc["l"])
                    + F.lit(0.9) * acc["b"]
                ).alias("b"),
                (acc["sse"] + (x - (acc["l"] + acc["b"])) * (x - (acc["l"] + acc["b"]))).alias(
                    "sse"
                ),
            ).cast(state),
        ).alias("s"),
    )
    return folded.select(
        "event_type",
        "n_days",
        F.round(F.col("s.l"), 4).alias("level"),
        F.round(F.col("s.b"), 4).alias("trend"),
        F.round(F.col("s.l") + F.col("s.b"), 4).alias("forecast_next"),
        F.round(
            F.sqrt(F.try_divide(F.col("s.sse"), F.nullif(F.col("n_days") - 1, F.lit(0)))), 4
        ).alias("rmse"),
    )


@query(
    "q_cuped",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_ms(ts) // 86400000 AS day,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    bounds AS (
      SELECT min(day) + (max(day) - min(day) + 1) // 2 AS split_day FROM e
    ),
    u AS (
      SELECT e.user_id,
             CAST(sum(CASE WHEN e.day < b.split_day THEN e.cents ELSE 0 END) AS BIGINT) AS x,
             CAST(sum(CASE WHEN e.day >= b.split_day THEN e.cents ELSE 0 END) AS BIGINT) AS y,
             ('0x' || substr(md5('ab1:' || CAST(e.user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0 AS is_control
      FROM e, bounds b
      GROUP BY e.user_id
    ),
    m AS (
      SELECT count(*)::BIGINT AS n,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy,
             CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
             CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
      FROM u
    ),
    th AS (
      SELECT n, sx / n AS xbar,
             (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0.0) AS theta,
             (n * sxy - sx * sy) * (n * sxy - sx * sy)
               / NULLIF((n * sxx - sx * sx) * (n * syy - sy * sy), 0.0) AS rho2
      FROM m
    )
    SELECT CASE WHEN u.is_control THEN 'control' ELSE 'treatment' END AS arm,
           count(*)::BIGINT AS n_users,
           round(CAST(sum(u.y) AS DOUBLE) / count(*), 4) AS mean_y,
           round(CAST(sum(u.y) AS DOUBLE) / count(*)
                 - th.theta * (CAST(sum(u.x) AS DOUBLE) / count(*) - th.xbar), 4) AS mean_y_cuped,
           round(th.theta, 6) AS theta,
           round(th.rho2, 6) AS rho2
    FROM u, th
    GROUP BY u.is_control, th.theta, th.xbar, th.rho2
    """,
)
def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N102: CUPED variance reduction (Deng et al. 2013) — the
    industry-standard A/B sharpener: each user's post-period metric Y is
    adjusted by their PRE-period metric X (theta = cov(X,Y)/var(X)),
    removing the between-user variance component rho^2 and shrinking
    required sample sizes by the same factor (the q_power_analysis
    denominator). The experiment split is the q_ab_test md5 arm; the
    pre/post boundary is the data-driven median day. Mean adjustment
    needs NO per-row pass: mean(Y - theta*(X - xbar)) per arm ==
    mean_y_arm - theta*(mean_x_arm - xbar), so the whole readout derives
    from ONE user-keyed aggregate + exact integer moments (sums of
    cents and widened cross-products — decimal in Spark, HUGEINT in
    DuckDB) pushed through identical float expression trees; NULLIF
    guards the zero-variance degenerate. At 100 TB: one user rollup
    (the exchange any experiment readout pays), a one-row moment
    aggregate, and a broadcast-back — the fact table never shuffles
    twice."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        F.expr("unix_millis(ts) div 86400000").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    bounds = e.agg(
        (F.min("day") + F.expr("(max(day) - min(day) + 1) div 2")).alias("split_day")
    )
    is_control = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("ab1:"), F.col("user_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 2
        == 0
    )
    u = (
        e.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("day") < F.col("split_day"), F.col("cents")).otherwise(0)).alias("x"),
            F.sum(F.when(F.col("day") >= F.col("split_day"), F.col("cents")).otherwise(0)).alias("y"),
        )
        .select("user_id", "x", "y", is_control.alias("is_control"))
    )
    m = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).cast("double").alias("syy"),
    )
    th = m.select(
        "n",
        (F.col("sx") / F.col("n")).alias("xbar"),
        F.try_divide(
            F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"),
            F.nullif(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0.0)),
        ).alias("theta"),
        F.try_divide(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            * (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")),
            F.nullif(
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")),
                F.lit(0.0),
            ),
        ).alias("rho2"),
    )
    return (
        u.crossJoin(F.broadcast(th))
        .groupBy("is_control", "theta", "xbar", "rho2")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("y").cast("double").alias("sy_arm"),
            F.sum("x").cast("double").alias("sx_arm"),
        )
        .select(
            F.when(F.col("is_control"), "control").otherwise("treatment").alias("arm"),
            "n_users",
            F.round(F.col("sy_arm") / F.col("n_users"), 4).alias("mean_y"),
            F.round(
                F.col("sy_arm") / F.col("n_users")
                - F.col("theta") * (F.col("sx_arm") / F.col("n_users") - F.col("xbar")),
                4,
            ).alias("mean_y_cuped"),
            F.round("theta", 6).alias("theta"),
            F.round("rho2", 6).alias("rho2"),
        )
    )


@query(
    "q_label_propagation",
    oracle="""
    WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS MATERIALIZED (
      SELECT a.l_partkey AS src, b.l_partkey AS dst
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM e),
    c1 AS MATERIALIZED (SELECT e.dst AS node, l.label, count(*)::BIGINT AS c
           FROM e JOIN l0 l ON l.node = e.src GROUP BY 1, 2),
    m1 AS MATERIALIZED (SELECT node, max(c) AS mc FROM c1 GROUP BY 1),
    l1 AS MATERIALIZED (SELECT c.node, min(c.label) AS label
           FROM c1 c JOIN m1 m ON m.node = c.node AND c.c = m.mc GROUP BY 1),
    c2 AS MATERIALIZED (SELECT e.dst AS node, l.label, count(*)::BIGINT AS c
           FROM e JOIN l1 l ON l.node = e.src GROUP BY 1, 2),
    m2 AS MATERIALIZED (SELECT node, max(c) AS mc FROM c2 GROUP BY 1),
    l2 AS MATERIALIZED (SELECT c.node, min(c.label) AS label
           FROM c2 c JOIN m2 m ON m.node = c.node AND c.c = m.mc GROUP BY 1),
    c3 AS MATERIALIZED (SELECT e.dst AS node, l.label, count(*)::BIGINT AS c
           FROM e JOIN l2 l ON l.node = e.src GROUP BY 1, 2),
    m3 AS MATERIALIZED (SELECT node, max(c) AS mc FROM c3 GROUP BY 1),
    l3 AS MATERIALIZED (SELECT c.node, min(c.label) AS label
           FROM c3 c JOIN m3 m ON m.node = c.node AND c.c = m.mc GROUP BY 1),
    c4 AS MATERIALIZED (SELECT e.dst AS node, l.label, count(*)::BIGINT AS c
           FROM e JOIN l3 l ON l.node = e.src GROUP BY 1, 2),
    m4 AS MATERIALIZED (SELECT node, max(c) AS mc FROM c4 GROUP BY 1),
    l4 AS MATERIALIZED (SELECT c.node, min(c.label) AS label
           FROM c4 c JOIN m4 m ON m.node = c.node AND c.c = m.mc GROUP BY 1)
    SELECT label AS community, count(*)::BIGINT AS n_nodes,
           CAST(min(node) AS BIGINT) AS min_node, CAST(max(node) AS BIGINT) AS max_node
    FROM l4 GROUP BY 1
    """,
)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N103: synchronous label propagation (Raghavan et al. 2007) over
    the repeat-co-purchase graph (pairs bought together in >= 2 orders —
    single co-occurrences are noise that fuses everything into one
    giant component), 4 rounds — COMMUNITY detection beside
    q_pagerank (centrality), q_triangle_count (density),
    q_densest_subgraph (densest core) and q_graph_bfs (reachability):
    each node adopts its neighbors' MODE label, ties broken toward the
    smallest label, which makes every round fully deterministic (the
    async/random-order variants of LPA are not reproducible — this is
    the GraphFrames-style synchronous variant). Fixed 4 rounds, matched
    exactly by the oracle's unrolled MATERIALIZED-CTE rounds (the BFS /
    densest-peel precedent). Per round: one edge-keyed join
    (label-sized payload), a (node,label) count rollup, and the argmax
    via max-count join + min-label rollup — all map-side combinable;
    labels localCheckpoint per round so lineage stays O(1) (the
    q_pagerank discipline) and the edge table checkpoints once. At
    100 TB: every exchange is node- or (node x distinct-neighbor-label)-
    bounded, never edge^2; skewed hub nodes are AQE-split like any
    heavy groupBy key."""
    # repeat co-purchases only (w >= 2): the signal graph; the undirected
    # pair weight equals the old per-direction count, so unioning both
    # orientations of the w >= 2 pairs reproduces the directed edge table
    p = _copurchase_pairs(spark, sf_dir).where(F.col("w") >= 2).select("x", "y")
    edges = (
        p.select(F.col("x").alias("src"), F.col("y").alias("dst")).unionAll(
            p.select(F.col("y").alias("src"), F.col("x").alias("dst"))
        )
    ).localCheckpoint(eager=False)
    # r10 optimization (guide §2.4): round 1 collapses to ONE aggregate —
    # with identity labels over a DISTINCT pair set every neighbor label is
    # distinct, so every (dst, label) count is 1 and the mode tie-break
    # (min label among max counts) is simply min(src) per dst. Provably the
    # oracle's c1/m1/l1 chain: c1 rows all have c = 1, m1 is 1, l1 = min.
    #
    # r11 (guide §5 driver rules, measured): the per-round label
    # localCheckpoints are GONE. Each round's label table feeds exactly ONE
    # consumer (the next round's join), so checkpointing bought no subtree
    # dedup — only lineage flattening, which a 3-round unroll does not need
    # (the full plan is ~40 operators). Each lazy checkpoint call cost
    # ~0.7 s of driver-side planning + codegen per round (profiled:
    # localCheckpoint was 3.66 s of the 4.59 s build); one end-to-end plan
    # pays that once. The EDGE checkpoint stays: edges is referenced by
    # every round and by the round-1 aggregate, and the checkpoint caches
    # it instead of re-running the basket build 4x.
    labels = (
        edges.groupBy("dst")
        .agg(F.min("src").alias("label"))
        .select(F.col("dst").alias("node"), "label")
    )
    for _ in range(3):
        cnt = (
            edges.join(labels, edges["src"] == labels["node"])
            .select("dst", "label")
            .groupBy("dst", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # r10 optimization (guide §2.4): the max-count join + min-label
        # rollup (3 ops, one extra exchange) folds into ONE aggregate —
        # max(struct(c, -label)) orders by count then by SMALLEST label
        # (labels are positive part keys), so m.nl recovers exactly the
        # old min-label-among-max-count winner.
        labels = (
            cnt.groupBy("dst")
            .agg(F.max(F.struct(F.col("c"), (-F.col("label")).alias("nl"))).alias("m"))
            .select(F.col("dst").alias("node"), (-F.col("m.nl")).alias("label"))
        )
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("node").alias("min_node"),
        F.max("node").alias("max_node"),
    )


@query(
    "q_theil_sen",
    oracle="""
    WITH daily AS (
      SELECT event_type, epoch_ms(ts) // 86400000 AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.event_type,
             a.day AS di, b.day AS dj,
             CAST(b.cents - a.cents AS DOUBLE) / (b.day - a.day) AS slope
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND b.day > a.day
    ),
    rk AS (
      SELECT event_type, slope,
             row_number() OVER (PARTITION BY event_type ORDER BY slope, di, dj) AS r,
             count(*) OVER (PARTITION BY event_type) AS np
      FROM pairs
    ),
    med AS (
      SELECT event_type, CAST(max(np) AS BIGINT) AS n_pairs,
             avg(slope) AS slope_med
      FROM rk
      WHERE r = (np + 1) // 2 OR r = np // 2 + 1
      GROUP BY 1
    ),
    resid AS (
      SELECT d.event_type, CAST(d.cents AS DOUBLE) - m.slope_med * d.day AS b0,
             d.day AS di,
             row_number() OVER (PARTITION BY d.event_type
                                ORDER BY CAST(d.cents AS DOUBLE) - m.slope_med * d.day, d.day) AS r,
             count(*) OVER (PARTITION BY d.event_type) AS nd
      FROM daily d JOIN med m ON m.event_type = d.event_type
    )
    SELECT r2.event_type,
           CAST(max(r2.nd) AS BIGINT) AS n_days,
           max(m.n_pairs) AS n_pairs,
           round(max(m.slope_med), 4) AS slope_cents_per_day,
           round(avg(r2.b0), 4) AS intercept_cents
    FROM resid r2 JOIN med m ON m.event_type = r2.event_type
    WHERE r2.r = (r2.nd + 1) // 2 OR r2.r = r2.nd // 2 + 1
    GROUP BY 1
    """,
)
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N104: Theil-Sen robust trend estimation (median of all pairwise
    slopes; Sen 1968) of daily revenue per event type — the
    outlier-immune companion to the OLS slope q_quality_trend uses and
    the structural trend q_seasonal_decompose smooths: a single
    flash-sale day cannot move this slope (29% breakdown point).
    Determinism: every pairwise slope is the identical double in both
    engines (exact integer cents / exact integer day gaps), the median
    rank ORDER pins ties with (slope, day_i, day_j), and the even-count
    median averages the two middle ranks — same convention in the
    intercept median of per-day residual intercepts. Scale: the pair
    join is per-SERIES over the days-bounded daily table (3650 days →
    6.7M pairs, trivial beside the corpus scan); series carry the
    parallelism, exactly the q_ewma cost argument — at very long
    horizons swap in the O(n log n) repeated-median refinement, changing
    the rank pass, not the plan shape."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr("unix_millis(ts) div 86400000").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    a = daily.select(
        F.col("event_type").alias("et"), F.col("day").alias("di"), F.col("cents").alias("ci")
    )
    b = daily.select(
        F.col("event_type").alias("et"), F.col("day").alias("dj"), F.col("cents").alias("cj")
    )
    pairs = (
        a.join(b, "et")
        .where(F.col("dj") > F.col("di"))
        .select(
            F.col("et").alias("event_type"),
            "di",
            "dj",
            ((F.col("cj") - F.col("ci")).cast("double") / (F.col("dj") - F.col("di"))).alias(
                "slope"
            ),
        )
    )
    wr = Window.partitionBy("event_type").orderBy("slope", "di", "dj")
    wn = Window.partitionBy("event_type")
    rk = pairs.select(
        "event_type",
        "slope",
        F.row_number().over(wr).alias("r"),
        F.count(F.lit(1)).over(wn).alias("np"),
    )
    med = (
        rk.where(
            (F.col("r") == F.expr("(np + 1) div 2")) | (F.col("r") == F.expr("np div 2 + 1"))
        )
        .groupBy("event_type")
        .agg(F.max("np").alias("n_pairs"), F.avg("slope").alias("slope_med"))
    )
    resid = daily.join(F.broadcast(med), "event_type").select(
        "event_type",
        "n_pairs",
        "slope_med",
        "day",
        (F.col("cents").cast("double") - F.col("slope_med") * F.col("day")).alias("b0"),
    )
    wr2 = Window.partitionBy("event_type").orderBy("b0", "day")
    r2 = resid.select(
        "event_type",
        "n_pairs",
        "slope_med",
        "b0",
        F.row_number().over(wr2).alias("r"),
        F.count(F.lit(1)).over(wn).alias("nd"),
    )
    return (
        r2.where(
            (F.col("r") == F.expr("(nd + 1) div 2")) | (F.col("r") == F.expr("nd div 2 + 1"))
        )
        .groupBy("event_type")
        .agg(
            F.max("nd").alias("n_days"),
            F.max("n_pairs").alias("n_pairs"),
            F.round(F.max("slope_med"), 4).alias("slope_cents_per_day"),
            F.round(F.avg("b0"), 4).alias("intercept_cents"),
        )
    )


@query(
    "q_sort_key_advisor",
    oracle="""
    WITH o AS (
      SELECT epoch_ms(o_orderdate) // 86400000 AS day,
             o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderkey
      FROM orders
    ),
    layouts AS (
      SELECT 'by_date' AS sort_key,
             ntile(32) OVER (ORDER BY day, o_orderkey) AS bin, * FROM o
      UNION ALL
      SELECT 'by_custkey' AS sort_key,
             ntile(32) OVER (ORDER BY o_custkey, o_orderkey) AS bin, * FROM o
      UNION ALL
      SELECT 'by_price' AS sort_key,
             ntile(32) OVER (ORDER BY cents, o_orderkey) AS bin, * FROM o
    ),
    spans AS (
      SELECT sort_key, bin,
             max(day) - min(day) AS span_day,
             max(o_custkey) - min(o_custkey) AS span_cust,
             max(cents) - min(cents) AS span_cents
      FROM layouts GROUP BY 1, 2
    ),
    g AS (
      SELECT max(day) - min(day) AS g_day,
             max(o_custkey) - min(o_custkey) AS g_cust,
             max(cents) - min(cents) AS g_cents
      FROM o
    )
    SELECT s.sort_key,
           round(CAST(sum(s.span_day) AS DOUBLE) / (32 * g.g_day), 4) AS scan_frac_date_probe,
           round(CAST(sum(s.span_cust) AS DOUBLE) / (32 * g.g_cust), 4) AS scan_frac_cust_probe,
           round(CAST(sum(s.span_cents) AS DOUBLE) / (32 * g.g_cents), 4) AS scan_frac_price_probe
    FROM spans s, g
    GROUP BY s.sort_key, g.g_day, g.g_cust, g.g_cents
    """,
)
def q_sort_key_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N105: sort-key advisor — FOR EACH candidate sort key (order date,
    customer, price), lay the orders table out in 32 equal row-bins
    under that key and measure, per probe column, the expected fraction
    of bins a uniform point probe must scan: sum(bin_span)/(32 x
    global_span) — the zone-map effectiveness number (Redshift's
    'clustering depth' arithmetic, Moerkotte 1998 small materialized
    aggregates). Completes the layout panel: q_zonemap_prune tests ONE
    layout against one predicate, q_zorder_layout interleaves two keys,
    q_compaction_plan sizes files — this one RANKS the candidate keys
    by what they buy every other column's probes (the diagonal is ~1/32
    = 0.03, self-sorting is perfect; off-diagonals near 1.0 mean that
    probe gains nothing). All exact integer min/max spans off one
    ntile pass per layout; ties pinned by o_orderkey so the binning is
    reproducible. At 100 TB the same numbers come from parquet footer
    min/max stats — a metadata query, no data scan at all."""
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders").select(
        F.expr("unix_millis(o_orderdate) div 86400000").alias("day"),
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderkey",
    )
    layouts = None
    for name, keys in (
        ("by_date", ["day", "o_orderkey"]),
        ("by_custkey", ["o_custkey", "o_orderkey"]),
        ("by_price", ["cents", "o_orderkey"]),
    ):
        l = o.select(
            F.lit(name).alias("sort_key"),
            F.ntile(32).over(Window.orderBy(*keys)).alias("bin"),
            "day",
            "o_custkey",
            "cents",
        )
        layouts = l if layouts is None else layouts.unionByName(l)
    spans = layouts.groupBy("sort_key", "bin").agg(
        (F.max("day") - F.min("day")).alias("span_day"),
        (F.max("o_custkey") - F.min("o_custkey")).alias("span_cust"),
        (F.max("cents") - F.min("cents")).alias("span_cents"),
    )
    g = o.agg(
        (F.max("day") - F.min("day")).alias("g_day"),
        (F.max("o_custkey") - F.min("o_custkey")).alias("g_cust"),
        (F.max("cents") - F.min("cents")).alias("g_cents"),
    )
    return (
        spans.crossJoin(F.broadcast(g))
        .groupBy("sort_key", "g_day", "g_cust", "g_cents")
        .agg(
            F.sum("span_day").alias("s_day"),
            F.sum("span_cust").alias("s_cust"),
            F.sum("span_cents").alias("s_cents"),
        )
        .select(
            "sort_key",
            F.round(F.col("s_day").cast("double") / (32 * F.col("g_day")), 4).alias(
                "scan_frac_date_probe"
            ),
            F.round(F.col("s_cust").cast("double") / (32 * F.col("g_cust")), 4).alias(
                "scan_frac_cust_probe"
            ),
            F.round(F.col("s_cents").cast("double") / (32 * F.col("g_cents")), 4).alias(
                "scan_frac_price_probe"
            ),
        )
    )


@query(
    "q_mann_kendall",
    oracle="""
    WITH daily AS (
      SELECT event_type, epoch_ms(ts) // 86400000 AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT a.event_type,
             CAST(sum(CASE WHEN b.cents > a.cents THEN 1
                           WHEN b.cents < a.cents THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND b.day > a.day
      GROUP BY 1
    ),
    n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days FROM daily GROUP BY 1),
    ties AS (
      SELECT event_type,
             CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
      FROM (SELECT event_type, cents, CAST(count(*) AS BIGINT) AS t
            FROM daily GROUP BY 1, 2)
      GROUP BY 1
    ),
    v AS (
      SELECT n.event_type, n.n_days, s.s_stat,
             CAST(n.n_days * (n.n_days - 1) * (2 * n.n_days + 5) - ties.tie_term AS BIGINT)
               AS var_s_x18
      FROM n JOIN s ON s.event_type = n.event_type
             JOIN ties ON ties.event_type = n.event_type
    ),
    z AS (
      SELECT event_type, n_days, s_stat, var_s_x18,
             CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s_x18 / 18.0)
                  WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s_x18 / 18.0)
                  ELSE 0.0 END AS zraw
      FROM v
    )
    SELECT event_type, n_days, s_stat, var_s_x18,
           round(zraw, 4) AS z_stat,
           CASE WHEN zraw > 1.96 THEN 'increasing'
                WHEN zraw < -1.96 THEN 'decreasing'
                ELSE 'no_trend' END AS trend
    FROM z
    """,
)
def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N106: Mann-Kendall trend significance test (Mann 1945, Kendall 1975)
    of daily revenue per event type — the hypothesis test that says whether
    q_theil_sen's slope is DISTINGUISHABLE FROM NOISE: S = sum of pairwise
    sign(c_j - c_i), tie-corrected Var(S) = [n(n-1)(2n+5) - SUM t(t-1)(2t+5)]
    / 18, continuity-corrected z. Determinism: S, n, and the x18 variance
    numerator are exact BIGINT; the only floats are one division and one
    IEEE-exact sqrt per series, the identical expression tree both engines.
    The trend verdict thresholds the UNROUNDED z at +/-1.96 so the label and
    the displayed statistic can never disagree. Scale: the sign-pair join is
    per-SERIES over the days-bounded daily rollup (the q_theil_sen cost
    argument — 3650 days is 6.7M integer comparisons, trivial beside the
    corpus scan that builds the daily table); the tie and count terms ride
    the same rollup. Complements N104 (robust slope magnitude) and N43
    (pointwise anomaly): this is the monotone-trend yes/no."""
    daily = _daily_cents_by_type(spark, sf_dir)
    return mann_kendall_tail(daily)


def mann_kendall_tail(daily: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming Mann-Kendall queries: the
    sign-pair statistic, tie-corrected variance, and trend verdict over a
    (event_type, day, cents) daily table."""
    # every derived side renames its join keys (the memory-sink
    # conflicting-attribute rule — this tail also serves the streaming twin)
    a = daily.select(F.col("event_type").alias("et"), F.col("day").alias("di"), F.col("cents").alias("ci"))
    b = daily.select(F.col("event_type").alias("et2"), F.col("day").alias("dj"), F.col("cents").alias("cj"))
    s = (
        a.join(b, F.col("et") == F.col("et2"))
        .where(F.col("dj") > F.col("di"))
        .groupBy(F.col("et").alias("set"))
        .agg(
            F.sum(
                F.when(F.col("cj") > F.col("ci"), 1)
                .when(F.col("cj") < F.col("ci"), -1)
                .otherwise(0)
            ).alias("s_stat")
        )
    )
    n = daily.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_days"))
    ties = (
        daily.groupBy(F.col("event_type").alias("tet"), "cents")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("tet")
        .agg(F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)).alias("tie_term"))
    )
    v = (
        n.join(s, F.col("event_type") == F.col("set"))
        .join(ties, F.col("event_type") == F.col("tet"))
        .select(
            "event_type",
            "n_days",
            "s_stat",
            (
                F.col("n_days") * (F.col("n_days") - 1) * (2 * F.col("n_days") + 5)
                - F.col("tie_term")
            ).alias("var_s_x18"),
        )
    )
    zraw = (
        F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1) / F.sqrt(F.col("var_s_x18") / 18.0))
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / F.sqrt(F.col("var_s_x18") / 18.0))
        .otherwise(F.lit(0.0))
    )
    return v.select(
        "event_type",
        "n_days",
        "s_stat",
        "var_s_x18",
        F.round(zraw, 4).alias("z_stat"),
        F.when(zraw > 1.96, F.lit("increasing"))
        .when(zraw < -1.96, F.lit("decreasing"))
        .otherwise(F.lit("no_trend"))
        .alias("trend"),
    )


def _daily_cents_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The integer-day daily revenue rollup (event_type, day, cents) shared by
    the trend/dispersion family (N104 Theil-Sen, N106 Mann-Kendall, N107 runs
    test, N109 XmR): one map-side-combined aggregate, types x days rows."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr("unix_millis(ts) div 86400000").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    # r11 (guide §5): most consumers reference the daily table twice or more
    # (a per-type stats aggregate AND the row side it broadcasts back onto)
    # — unpersisted, every reference re-scans and re-aggregates the events
    # table. Query-scoped persist: types x days rows, released at the next
    # declared-query boundary like every other scoped cache.
    return scoped_persist(daily)


@query(
    "q_runs_test",
    oracle="""
    WITH daily AS (
      SELECT event_type, epoch_ms(ts) // 86400000 AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    d AS (
      SELECT event_type, day,
             cents - lag(cents) OVER (PARTITION BY event_type ORDER BY day) AS diff
      FROM daily
    ),
    sgn AS (
      SELECT event_type, day,
             CASE WHEN diff > 0 THEN 1 ELSE -1 END AS sg
      FROM d WHERE diff IS NOT NULL AND diff <> 0
    ),
    runs AS (
      SELECT event_type, sg,
             CASE WHEN lag(sg) OVER (PARTITION BY event_type ORDER BY day) IS NULL THEN 1
                  WHEN sg <> lag(sg) OVER (PARTITION BY event_type ORDER BY day) THEN 1
                  ELSE 0 END AS chg
      FROM sgn
    ),
    agg AS (
      SELECT event_type,
             CAST(count(CASE WHEN sg = 1 THEN 1 END) AS BIGINT) AS n_pos,
             CAST(count(CASE WHEN sg = -1 THEN 1 END) AS BIGINT) AS n_neg,
             CAST(sum(chg) AS BIGINT) AS n_runs
      FROM runs GROUP BY 1
    ),
    stat AS (
      SELECT event_type, n_pos, n_neg, n_runs,
             2.0 * n_pos * n_neg / (n_pos + n_neg) + 1 AS mu,
             CAST(2 * n_pos * n_neg * (2 * n_pos * n_neg - n_pos - n_neg) AS DOUBLE)
               / ((n_pos + n_neg) * (n_pos + n_neg) * (n_pos + n_neg - 1)) AS var
      FROM agg
    )
    SELECT event_type, n_pos, n_neg, n_runs,
           round(mu, 4) AS expected_runs,
           round((n_runs - mu) / sqrt(var), 4) AS z_stat,
           CASE WHEN (n_runs - mu) / sqrt(var) IS NULL THEN 'n/a'
                WHEN abs((n_runs - mu) / sqrt(var)) <= 1.96 THEN 'true'
                ELSE 'false' END AS looks_random
    FROM stat
    """,
)
def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N107: Wald-Wolfowitz runs test (1940) on the up/down sign sequence of
    day-over-day revenue per event type — the randomness audit that catches
    what a mean-level test cannot: momentum (too FEW runs: autocorrelated
    drift, caching artifacts) or oscillation (too MANY: load-balancer
    ping-pong, day-parity bugs). Zero diffs are discarded (the classic
    convention), runs counted as sign changes + 1 via one lag window; n_pos
    / n_neg / n_runs are exact BIGINT, and mu = 2*n1*n2/(n1+n2)+1 and the
    variance are each ONE division of exact integer products (the largest,
    2*n1*n2*(2*n1*n2-n1-n2), is ~4e13 at a 10-year horizon — long-safe).
    z is NULL (try_divide == DuckDB /0 -> NULL) for degenerate series —
    constant or 2-day — so fuzz shapes cannot crash ANSI mode. Scale: two
    keyed lag windows + one aggregate over the types x days rollup; series
    carry the parallelism. The verdict thresholds unrounded |z| at 1.96."""
    daily = _daily_cents_by_type(spark, sf_dir)
    return runs_test_tail(daily)


def runs_test_tail(daily: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming runs-test queries: the
    up/down sign sequence, run count, and Wald-Wolfowitz z over a
    (event_type, day, cents) daily table."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type").orderBy("day")
    d = daily.select(
        "event_type", "day", (F.col("cents") - F.lag("cents").over(w)).alias("diff")
    )
    sgn = d.where(F.col("diff").isNotNull() & (F.col("diff") != 0)).select(
        "event_type", "day", F.when(F.col("diff") > 0, 1).otherwise(-1).alias("sg")
    )
    runs = sgn.select(
        "event_type",
        "sg",
        F.when(F.lag("sg").over(w).isNull(), 1)
        .when(F.col("sg") != F.lag("sg").over(w), 1)
        .otherwise(0)
        .alias("chg"),
    )
    agg = runs.groupBy("event_type").agg(
        F.count(F.when(F.col("sg") == 1, 1)).alias("n_pos"),
        F.count(F.when(F.col("sg") == -1, 1)).alias("n_neg"),
        F.sum("chg").alias("n_runs"),
    )
    n1, n2, r = F.col("n_pos"), F.col("n_neg"), F.col("n_runs")
    mu = 2.0 * n1 * n2 / (n1 + n2) + 1
    # try_divide: a single nonzero-diff day makes the variance denominator
    # (n1+n2-1) zero — ANSI plain division crashes (cross-engine fuzz);
    # DuckDB /0 -> NULL matches
    var = F.try_divide(
        (2 * n1 * n2 * (2 * n1 * n2 - n1 - n2)).cast("double"),
        (n1 + n2) * (n1 + n2) * (n1 + n2 - 1),
    )
    z = F.try_divide(r - mu, F.sqrt(var))
    return agg.select(
        "event_type",
        "n_pos",
        "n_neg",
        "n_runs",
        F.round(mu, 4).alias("expected_runs"),
        F.round(z, 4).alias("z_stat"),
        # string verdict, not nullable boolean: an all-NULL boolean column
        # coerces to float NaN in DuckDB's pandas bridge but stays object
        # None in Spark's — the canonicalizer would see <nan> vs <null>
        # (found by cross-engine fuzz on single-sign series)
        F.when(z.isNull(), F.lit("n/a"))
        .when(F.abs(z) <= 1.96, F.lit("true"))
        .otherwise(F.lit("false"))
        .alias("looks_random"),
    )


_CCF_ORACLE = """
    WITH daily AS (
      SELECT event_type, epoch_ms(ts) // 86400000 AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE event_type IN ('view', 'purchase') GROUP BY 1, 2
    ),
    x AS (SELECT day, cents AS xc FROM daily WHERE event_type = 'view'),
    y AS (SELECT day, cents AS yc FROM daily WHERE event_type = 'purchase'),
    lags AS (SELECT CAST(range AS INTEGER) AS lag FROM range(-7, 8)),
    p AS (
      SELECT l.lag, x.xc, y.yc
      FROM lags l JOIN x ON TRUE JOIN y ON y.day = x.day + l.lag
    ),
    m AS (
      SELECT lag,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(xc) AS DOUBLE) AS sx,
             CAST(sum(yc) AS DOUBLE) AS sy,
             CAST(sum(CAST(xc AS HUGEINT) * xc) AS DOUBLE) AS sxx,
             CAST(sum(CAST(yc AS HUGEINT) * yc) AS DOUBLE) AS syy,
             CAST(sum(CAST(xc AS HUGEINT) * yc) AS DOUBLE) AS sxy
      FROM p GROUP BY 1
    )
    SELECT lag, n_days,
           round((n * sxy - sx * sy)
                 / (sqrt(greatest(0, n * sxx - sx * sx)) * sqrt(greatest(0, n * syy - sy * sy))),
                 6) AS ccf
    FROM m
"""


def ccf_tail(daily: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming lead-lag CCF: from a
    (event_type, day, cents) daily table restricted to the view/purchase
    pair, the cross-correlation at lags -7..+7 via exact-integer moment
    sums through relational.corr_from_moments (the acf_tail discipline)."""
    spark = daily.sparkSession
    lags = spark.range(15).select((F.col("id") - 7).cast("int").alias("lag"))
    x = daily.where(F.col("event_type") == "view").select(
        F.col("day").alias("xday"), F.col("cents").alias("xc")
    )
    y = daily.where(F.col("event_type") == "purchase").select(
        F.col("day").alias("yday"), F.col("cents").alias("yc")
    )
    p = x.crossJoin(F.broadcast(lags)).join(y, F.col("yday") == F.col("xday") + F.col("lag"))
    m = p.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("xc").cast("double").alias("sx"),
        F.sum("yc").cast("double").alias("sy"),
        F.sum(F.col("xc").cast("decimal(38,0)") * F.col("xc")).cast("double").alias("sxx"),
        F.sum(F.col("yc").cast("decimal(38,0)") * F.col("yc")).cast("double").alias("syy"),
        F.sum(F.col("xc").cast("decimal(38,0)") * F.col("yc")).cast("double").alias("sxy"),
    )
    return m.select(
        "lag",
        "n_days",
        F.round(
            relational.corr_from_moments(
                F.col("n"), F.col("sx"), F.col("sy"), F.col("sxx"), F.col("syy"), F.col("sxy")
            ),
            6,
        ).alias("ccf"),
    )


@query("q_ccf_leadlag", oracle=_CCF_ORACLE)
def q_ccf_leadlag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N108: lead-lag cross-correlation (CCF, Box-Jenkins 1970) between the
    view and purchase daily revenue series at lags -7..+7 — the
    which-metric-moves-FIRST diagnostic behind every funnel-latency and
    leading-indicator claim (a peak at lag +2 means views predict purchases
    two days out; q_acf_daily is this query's special case x==y). Each lag
    is an integer-day equi-join (day+lag) of the two days-bounded series —
    15 broadcast-replicated probes, never a range join — and the correlation
    derives from exact integer moment sums through corr_from_moments (the
    acf_tail discipline: decimal-widened squares, one double division, 6dp
    rounding that cannot flip across engines or partition orders). Scale:
    the corpus scan shrinks map-side into the daily table; everything after
    is days-bounded. Gap days simply drop out of the overlap (n_days
    carries the effective sample size per lag)."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("event_type").isin("view", "purchase"))
        .groupBy("event_type", F.expr("unix_millis(ts) div 86400000").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    )
    return ccf_tail(daily)


@query(
    "q_xmr_control",
    oracle="""
    WITH daily AS (
      SELECT event_type, epoch_ms(ts) // 86400000 AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    mr AS (
      SELECT event_type, day, cents,
             abs(cents - lag(cents) OVER (PARTITION BY event_type ORDER BY day)) AS moved
      FROM daily
    ),
    lim AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(cents) AS BIGINT) AS sum_cents,
             CAST(count(moved) AS BIGINT) AS n_mr,
             CAST(sum(moved) AS BIGINT) AS sum_mr
      FROM mr GROUP BY 1
    ),
    bands AS (
      SELECT event_type, n_days,
             CAST(sum_cents AS DOUBLE) / n_days AS xbar,
             CAST(sum_mr AS DOUBLE) / n_mr AS mrbar
      FROM lim
    ),
    breach AS (
      SELECT d.event_type,
             CAST(count(CASE WHEN d.cents > b.xbar + 2.66 * b.mrbar
                              OR d.cents < b.xbar - 2.66 * b.mrbar THEN 1 END) AS BIGINT) AS n_breach,
             min(CASE WHEN d.cents > b.xbar + 2.66 * b.mrbar
                       OR d.cents < b.xbar - 2.66 * b.mrbar THEN d.day END) AS first_breach_day
      FROM daily d JOIN bands b ON b.event_type = d.event_type
      GROUP BY 1
    )
    SELECT b.event_type, b.n_days,
           round(b.xbar, 4) AS mean_cents,
           round(b.mrbar, 4) AS mr_mean,
           round(b.xbar + 2.66 * b.mrbar, 4) AS ucl,
           round(b.xbar - 2.66 * b.mrbar, 4) AS lcl,
           br.n_breach, br.first_breach_day
    FROM bands b JOIN breach br ON br.event_type = b.event_type
    """,
)
def q_xmr_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N109: XmR individuals control chart (Shewhart 1931; Wheeler's 2.66
    constant = 3/d2, d2=1.128 for n=2 moving ranges) on daily revenue per
    event type: natural process limits x-bar +/- 2.66 * mean-moving-range,
    the count of out-of-limit days and the first breach day. The SPC
    complement to q_rolling_zscore (trailing-window, pointwise) and
    q_changepoint_cusum (cumulative drift): XmR limits come from
    SHORT-TERM variation (consecutive-day movement), so a slow drift that
    inflates the global stddev cannot widen them — the chart stays
    sensitive. Determinism: cents and moving ranges are exact integers;
    xbar and mrbar are one division each, the limits one shared expression
    tree, and breach comparisons test exact integers against those
    identical doubles. mrbar is NULL for 1-day series (try_divide == DuckDB
    /0) so breaches count zero, never crash. Scale: one keyed lag window +
    two aggregates over the types x days rollup; the breach pass re-joins
    the 5-row limits table broadcast."""
    daily = _daily_cents_by_type(spark, sf_dir)
    return xmr_tail(daily)


def xmr_tail(daily: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming XmR chart: from a
    (event_type, day, cents) daily table, the process limits and breach
    panel. Both paths run identical expressions on the identical bounded
    table, so the streaming twin hash-matches the batch oracle."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type").orderBy("day")
    mr = daily.select(
        "event_type",
        "day",
        "cents",
        F.abs(F.col("cents") - F.lag("cents").over(w)).alias("moved"),
    )
    lim = mr.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("cents").alias("sum_cents"),
        F.count("moved").alias("n_mr"),
        F.sum("moved").alias("sum_mr"),
    )
    bands = lim.select(
        "event_type",
        "n_days",
        (F.col("sum_cents").cast("double") / F.col("n_days")).alias("xbar"),
        F.try_divide(F.col("sum_mr").cast("double"), F.col("n_mr")).alias("mrbar"),
    )
    is_breach = (F.col("cents") > F.col("xbar") + 2.66 * F.col("mrbar")) | (
        F.col("cents") < F.col("xbar") - 2.66 * F.col("mrbar")
    )
    # renamed join keys: bands/breach are subtrees of the same (possibly
    # memory-sink) daily view — same-named join columns trip Catalyst's
    # conflicting-attribute check (the ewma_tail lesson)
    breach = (
        daily.join(
            F.broadcast(bands.select(F.col("event_type").alias("bet"), "xbar", "mrbar")),
            F.col("event_type") == F.col("bet"),
        )
        .groupBy(F.col("bet").alias("cet"))
        .agg(
            F.count(F.when(is_breach, 1)).alias("n_breach"),
            F.min(F.when(is_breach, F.col("day"))).alias("first_breach_day"),
        )
    )
    return bands.join(breach, F.col("event_type") == F.col("cet")).select(
        "event_type",
        "n_days",
        F.round(F.col("xbar"), 4).alias("mean_cents"),
        F.round(F.col("mrbar"), 4).alias("mr_mean"),
        F.round(F.col("xbar") + 2.66 * F.col("mrbar"), 4).alias("ucl"),
        F.round(F.col("xbar") - 2.66 * F.col("mrbar"), 4).alias("lcl"),
        "n_breach",
        "first_breach_day",
    )


@query(
    "q_link_prediction",
    oracle="""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS x, b.l_partkey AS y
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    adj AS (SELECT x AS a, y AS b FROM e UNION ALL SELECT y, x FROM e),
    deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1),
    cand AS (
      SELECT l.a AS u, r.b AS v, CAST(count(*) AS BIGINT) AS cn
      FROM adj l JOIN adj r ON l.b = r.a AND l.a < r.b
      GROUP BY 1, 2
    ),
    nonedge AS (
      SELECT c.u, c.v, c.cn FROM cand c
      WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.x = c.u AND e.y = c.v)
    )
    SELECT n.u AS part_a, n.v AS part_b, n.cn AS common_neighbors,
           round(CAST(n.cn AS DOUBLE) / (du.d + dv.d - n.cn), 6) AS jaccard
    FROM nonedge n
    JOIN deg du ON du.node = n.u
    JOIN deg dv ON dv.node = n.v
    ORDER BY n.cn DESC, n.u, n.v
    LIMIT 20
    """,
)
def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N110: common-neighbors link prediction (Liben-Nowell & Kleinberg 2003)
    over the repeat-co-purchase part graph (the q_label_propagation edge set,
    w >= 2): the top-20 NON-adjacent part pairs ranked by shared neighbors —
    the 'frequently bought with the same things, never together yet'
    recommendation shortlist. The wedge join through the shared neighbor is
    collision-proportional (SUM deg(mid)^2 over the w>=2-sparsified graph),
    the same cost shape as q_triangle_count's wedge pass; existing edges
    leave by anti-join; degrees broadcast back for the Jaccard column.
    Ranking is the EXACT integer (cn DESC, part_a, part_b) — the Jaccard
    float is display-only, never an ORDER BY at the LIMIT boundary (the
    cross-engine float-ranking rule) — so the TakeOrdered top-20 is
    byte-stable. At 100 TB the wedge pass bounds via the same
    degree-orientation trick the triangle counter documents."""
    e = _repeat_copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    adj = e.select(F.col("x").alias("a"), F.col("y").alias("b")).unionAll(
        e.select(F.col("y").alias("a"), F.col("x").alias("b"))
    )
    deg = adj.groupBy(F.col("a").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    l = adj.select(F.col("a").alias("u"), F.col("b").alias("mid"))
    r = adj.select(F.col("a").alias("mid"), F.col("b").alias("v"))
    cand = (
        l.join(r, "mid")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    nonedge = cand.join(e, (cand["u"] == e["x"]) & (cand["v"] == e["y"]), "left_anti")
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    scored = (
        nonedge.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            F.col("u").alias("part_a"),
            F.col("v").alias("part_b"),
            F.col("cn").alias("common_neighbors"),
            F.round(
                F.col("cn").cast("double") / (F.col("du") + F.col("dv") - F.col("cn")), 6
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(F.desc("common_neighbors"), "part_a", "part_b").limit(20)


def _repeat_copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-co-purchase part graph: undirected (x < y) edges appearing in
    >= 2 distinct orders — the sparsified graph q_label_propagation mines
    (single-co-occurrence edges are noise at any scale; the w >= 2 cut keeps
    edge count collision-proportional rather than quadratic in basket size)."""
    return _copurchase_pairs(spark, sf_dir).where(F.col("w") >= 2).select("x", "y")


@query(
    "q_degree_assortativity",
    oracle="""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    w AS (
      SELECT a.l_partkey AS x, b.l_partkey AS y, CAST(count(*) AS BIGINT) AS w
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    graphs AS (
      SELECT 'all' AS graph, x, y FROM w
      UNION ALL
      SELECT 'repeat' AS graph, x, y FROM w WHERE w >= 2
    ),
    adj AS (
      SELECT graph, x AS a, y AS b FROM graphs
      UNION ALL
      SELECT graph, y, x FROM graphs
    ),
    deg AS (SELECT graph, a AS node, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1, 2),
    ends AS (
      SELECT adj.graph, da.d AS dx, db.d AS dy
      FROM adj
      JOIN deg da ON da.graph = adj.graph AND da.node = adj.a
      JOIN deg db ON db.graph = adj.graph AND db.node = adj.b
    ),
    m AS (
      SELECT graph,
             CAST(count(*) AS BIGINT) AS n_ends,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(dx) AS DOUBLE) AS sx,
             CAST(sum(dy) AS DOUBLE) AS sy,
             CAST(sum(CAST(dx AS HUGEINT) * dx) AS DOUBLE) AS sxx,
             CAST(sum(CAST(dy AS HUGEINT) * dy) AS DOUBLE) AS syy,
             CAST(sum(CAST(dx AS HUGEINT) * dy) AS DOUBLE) AS sxy
      FROM ends GROUP BY 1
    ),
    gstats AS (
      SELECT graph,
             CAST(count(DISTINCT node) AS BIGINT) AS n_nodes,
             round(avg(d), 4) AS avg_degree,
             CAST(max(d) AS BIGINT) AS max_degree
      FROM deg GROUP BY 1
    )
    SELECT g.graph, g.n_nodes, m.n_ends // 2 AS n_edges, g.avg_degree, g.max_degree,
           round((m.n * m.sxy - m.sx * m.sy)
                 / (sqrt(greatest(0, m.n * m.sxx - m.sx * m.sx))
                    * sqrt(greatest(0, m.n * m.syy - m.sy * m.sy))), 6) AS assortativity
    FROM gstats g JOIN m ON m.graph = g.graph
    """,
)
def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N111: degree assortativity (Newman 2002, Pearson r of endpoint degrees
    over directed edge ends) for BOTH co-purchase graph variants — 'all'
    (w>=1, the q_pagerank/q_triangle_count graph) and 'repeat' (w>=2, the
    q_label_propagation graph) — plus node/edge/degree summary: the one
    number that says whether hubs attach to hubs (r>0, robust cores,
    assortative mixing) or to leaves (r<0, hub-and-spoke, disassortative) —
    which decides whether hub-keyed joins skew and whether the LSH/blocking
    families' bucket sizes balance. Both graph variants ride ONE basket
    self-join (the weight filter forks after the pair count); the degree
    table joins back broadcast (nodes-bounded); the correlation is the
    exact-integer corr_from_moments tree (decimal-widened squares, one
    double division, 6dp). Why each edge counts TWICE (both orientations):
    that is Newman's estimator — it symmetrizes the degree pairing so r is
    orientation-free. At 100 TB: two exchanges (pair count, degree count),
    both collision-proportional."""
    w = _copurchase_pairs(spark, sf_dir).localCheckpoint(eager=False)
    graphs = w.select(F.lit("all").alias("graph"), "x", "y").unionAll(
        w.where(F.col("w") >= 2).select(F.lit("repeat").alias("graph"), "x", "y")
    )
    adj = graphs.select("graph", F.col("x").alias("a"), F.col("y").alias("b")).unionAll(
        graphs.select("graph", F.col("y").alias("a"), F.col("x").alias("b"))
    )
    # r10 optimization (guide §5): the degree table feeds THREE consumers
    # (da broadcast, db broadcast, gstats) — unpersisted, each broadcast
    # build re-ran the adj aggregate over the checkpointed pair table
    deg = scoped_persist(
        adj.groupBy("graph", F.col("a").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("graph").alias("g1"), F.col("node").alias("na"), F.col("d").alias("dx"))
    db = deg.select(F.col("graph").alias("g2"), F.col("node").alias("nb"), F.col("d").alias("dy"))
    ends = adj.join(
        F.broadcast(da), (F.col("graph") == F.col("g1")) & (F.col("a") == F.col("na"))
    ).join(F.broadcast(db), (F.col("graph") == F.col("g2")) & (F.col("b") == F.col("nb")))
    m = ends.groupBy("graph").agg(
        F.count(F.lit(1)).alias("n_ends"),
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("dx").cast("double").alias("sx"),
        F.sum("dy").cast("double").alias("sy"),
        F.sum(F.col("dx").cast("decimal(38,0)") * F.col("dx")).cast("double").alias("sxx"),
        F.sum(F.col("dy").cast("decimal(38,0)") * F.col("dy")).cast("double").alias("syy"),
        F.sum(F.col("dx").cast("decimal(38,0)") * F.col("dy")).cast("double").alias("sxy"),
    )
    gstats = deg.groupBy("graph").agg(
        F.count_distinct(F.col("node")).alias("n_nodes"),
        F.round(F.avg("d"), 4).alias("avg_degree"),
        F.max("d").alias("max_degree"),
    )
    return gstats.join(m, "graph").select(
        "graph",
        "n_nodes",
        F.expr("n_ends div 2").alias("n_edges"),
        "avg_degree",
        "max_degree",
        F.round(
            relational.corr_from_moments(
                F.col("n"), F.col("sx"), F.col("sy"), F.col("sxx"), F.col("syy"), F.col("sxy")
            ),
            6,
        ).alias("assortativity"),
    )


@query(
    "q_growth_accounting",
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id, epoch_ms(ts) // 604800000 AS week FROM events
    ),
    fw AS (SELECT user_id, min(week) AS first_week FROM uw GROUP BY 1),
    mx AS (SELECT max(week) AS max_week FROM uw),
    status AS (
      SELECT uw.week,
             CASE WHEN uw.week = fw.first_week THEN 'new'
                  WHEN EXISTS (SELECT 1 FROM uw p
                               WHERE p.user_id = uw.user_id AND p.week = uw.week - 1)
                       THEN 'retained'
                  ELSE 'resurrected' END AS st
      FROM uw JOIN fw ON fw.user_id = uw.user_id
    ),
    act AS (
      SELECT week,
             CAST(count(CASE WHEN st = 'new' THEN 1 END) AS BIGINT) AS n_new,
             CAST(count(CASE WHEN st = 'retained' THEN 1 END) AS BIGINT) AS n_retained,
             CAST(count(CASE WHEN st = 'resurrected' THEN 1 END) AS BIGINT) AS n_resurrected
      FROM status GROUP BY 1
    ),
    churn AS (
      SELECT c.week, CAST(count(*) AS BIGINT) AS n_churned
      FROM (SELECT user_id, week + 1 AS week FROM uw) c, mx
      WHERE c.week <= mx.max_week
        AND NOT EXISTS (SELECT 1 FROM uw p
                        WHERE p.user_id = c.user_id AND p.week = c.week)
      GROUP BY 1
    )
    SELECT coalesce(a.week, c.week) AS week,
           coalesce(a.n_new, 0) AS n_new,
           coalesce(a.n_retained, 0) AS n_retained,
           coalesce(a.n_resurrected, 0) AS n_resurrected,
           coalesce(c.n_churned, 0) AS n_churned
    FROM act a FULL OUTER JOIN churn c ON c.week = a.week
    """,
)
def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N112: weekly growth accounting (the Social Capital 'accounting
    identity' panel: new / retained / resurrected / churned) — the
    decomposition that explains every WAU move: WAU(w) - WAU(w-1) ==
    n_new + n_resurrected - n_churned, an identity the pytest pins. The
    roll-forward complement to q_retention_curve (cohort view) and
    q_active_users (level view): same (user, week) DISTINCT everyone
    already pays, classified with one broadcastable first-week table and
    one self-shift. Churned(w) = active in w-1, absent in w, clipped at the
    horizon so the final week cannot fabricate churn. All columns exact
    BIGINT — nothing to round, nothing to drift. Scale: state is
    users x weeks presence, the q_streaming_retention bound; the
    first-week table is users-bounded; the anti-join shifts the same
    presence set one week — two exchanges total on the same key."""
    ev = _t(spark, sf_dir, "events")
    uw = (
        ev.select("user_id", F.expr("unix_millis(ts) div 604800000").alias("week"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    return growth_tail(uw)


def growth_tail(uw: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming growth accounting: from the
    (user_id, week) presence set, the weekly new/retained/resurrected/
    churned panel. The presence set is exactly the commutative,
    replay-idempotent state the streaming twin keeps."""
    # every derived side renames its join keys: two subtrees of one
    # streaming memory-sink view trip Catalyst's conflicting-attribute
    # check when joined on same-named columns (the ewma_tail lesson)
    fw = uw.groupBy(F.col("user_id").alias("fuid")).agg(F.min("week").alias("first_week"))
    prev = uw.select(
        F.col("user_id").alias("puid"), (F.col("week") + 1).alias("pweek"), F.lit(1).alias("was_prev")
    )
    status = (
        uw.join(fw, F.col("user_id") == F.col("fuid"))
        .join(prev, (F.col("user_id") == F.col("puid")) & (F.col("week") == F.col("pweek")), "left")
        .select(
            "week",
            F.when(F.col("week") == F.col("first_week"), F.lit("new"))
            .when(F.col("was_prev").isNotNull(), F.lit("retained"))
            .otherwise(F.lit("resurrected"))
            .alias("st"),
        )
    )
    act = status.groupBy("week").agg(
        F.count(F.when(F.col("st") == "new", 1)).alias("n_new"),
        F.count(F.when(F.col("st") == "retained", 1)).alias("n_retained"),
        F.count(F.when(F.col("st") == "resurrected", 1)).alias("n_resurrected"),
    )
    mx = uw.agg(F.max("week").alias("max_week"))
    shifted = uw.select(F.col("user_id").alias("cuid"), (F.col("week") + 1).alias("cweek"))
    churn = (
        shifted.crossJoin(F.broadcast(mx))
        .where(F.col("cweek") <= F.col("max_week"))
        .join(uw, (F.col("cuid") == F.col("user_id")) & (F.col("cweek") == F.col("week")), "left_anti")
        .groupBy(F.col("cweek"))
        .agg(F.count(F.lit(1)).alias("n_churned"))
    )
    return act.join(churn, act["week"] == churn["cweek"], "full_outer").select(
        F.coalesce(F.col("week"), F.col("cweek")).alias("week"),
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
        F.coalesce("n_retained", F.lit(0)).alias("n_retained"),
        F.coalesce("n_resurrected", F.lit(0)).alias("n_resurrected"),
        F.coalesce("n_churned", F.lit(0)).alias("n_churned"),
    )


@query(
    "q_stratified_ate",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_events,
             CASE WHEN 5 * sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                       > count(*) THEN 1 ELSE 0 END AS treated,
             CAST(sum(CASE WHEN event_type = 'purchase'
                           THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS cents
      FROM events GROUP BY 1
    ),
    s AS (
      SELECT *, ntile(5) OVER (ORDER BY n_events, user_id) AS stratum FROM u
    ),
    per AS (
      SELECT stratum,
             CAST(count(CASE WHEN treated = 1 THEN 1 END) AS BIGINT) AS n_treat,
             CAST(count(CASE WHEN treated = 0 THEN 1 END) AS BIGINT) AS n_ctrl,
             CAST(sum(CASE WHEN treated = 1 THEN cents ELSE 0 END) AS BIGINT) AS st,
             CAST(sum(CASE WHEN treated = 0 THEN cents ELSE 0 END) AS BIGINT) AS sc
      FROM s GROUP BY 1
    ),
    m AS (
      SELECT stratum, n_treat, n_ctrl,
             CAST(st AS DOUBLE) / n_treat AS mean_t,
             CAST(sc AS DOUBLE) / n_ctrl AS mean_c
      FROM per
    ),
    strata_rows AS (
      SELECT CAST(stratum AS VARCHAR) AS stratum, n_treat, n_ctrl,
             round(mean_t, 4) AS mean_treat_cents,
             round(mean_c, 4) AS mean_ctrl_cents,
             round(mean_t - mean_c, 4) AS diff_cents
      FROM m
    ),
    valid AS (
      SELECT stratum, n_treat, n_ctrl,
             (n_treat + n_ctrl) * (mean_t - mean_c) AS term
      FROM m WHERE n_treat > 0 AND n_ctrl > 0
    ),
    allrow AS (
      SELECT '<all>' AS stratum,
             CAST(sum(n_treat) AS BIGINT) AS n_treat,
             CAST(sum(n_ctrl) AS BIGINT) AS n_ctrl,
             CAST(NULL AS DOUBLE) AS mean_treat_cents,
             CAST(NULL AS DOUBLE) AS mean_ctrl_cents,
             round(list_reduce(list_prepend(0.0, list(term ORDER BY stratum)),
                               (a, b) -> a + b)
                   / sum(n_treat + n_ctrl), 4) AS diff_cents
      FROM valid
    )
    SELECT * FROM strata_rows UNION ALL SELECT * FROM allrow
    """,
)
def q_stratified_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N113: stratified average treatment effect (Cochran 1968
    subclassification; Imbens-Rubin ch.17) — the OBSERVATIONAL causal
    readout where q_ab_test's randomization is absent: do ERROR-PRONE users
    (treatment = error share above the uniform 1/5 expectation, the exact
    integer comparison 5*n_error > n_events — scale-free, like q_ab_test's
    conversion) spend less, controlling for activity? Users are subclassified into 5 activity quintiles (ntile over
    the exact (n_events, user_id) order — reproducible across engines);
    within a stratum treated and control users are comparable, and the
    <all> row is the stratum-size-weighted mean difference — confounding by
    activity level is removed exactly where CUPED (N102) removes
    pre-period variance. Per-stratum means are one division of exact cents
    sums; the cross-stratum ATE numerator is a SORTED FOLD over the 5
    stratum terms (F.aggregate over array_sort == DuckDB list_reduce ORDER
    BY — the float-sum discipline) so partition order cannot flip the 4dp.
    Scale: one user rollup (map-side combined), a users-bounded ntile (the
    one budgeted single-partition exchange — same stance as
    q_conformal_threshold; at corpus scale swap for pre-computed decile
    bounds via approx quantiles), then 5-row arithmetic."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("n_error"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(F.lit(0))
        ).alias("cents"),
    )
    u = u.select(
        "user_id",
        "n_events",
        "cents",
        F.when(5 * F.col("n_error") > F.col("n_events"), 1).otherwise(0).alias("treated"),
    )
    s = u.select("*", F.ntile(5).over(Window.orderBy("n_events", "user_id")).alias("stratum"))
    per = s.groupBy("stratum").agg(
        F.count(F.when(F.col("treated") == 1, 1)).alias("n_treat"),
        F.count(F.when(F.col("treated") == 0, 1)).alias("n_ctrl"),
        F.sum(F.when(F.col("treated") == 1, F.col("cents")).otherwise(0)).alias("st"),
        F.sum(F.when(F.col("treated") == 0, F.col("cents")).otherwise(0)).alias("sc"),
    )
    m = per.select(
        "stratum",
        "n_treat",
        "n_ctrl",
        F.try_divide(F.col("st").cast("double"), F.col("n_treat")).alias("mean_t"),
        F.try_divide(F.col("sc").cast("double"), F.col("n_ctrl")).alias("mean_c"),
    )
    strata_rows = m.select(
        F.col("stratum").cast("string").alias("stratum"),
        "n_treat",
        "n_ctrl",
        F.round("mean_t", 4).alias("mean_treat_cents"),
        F.round("mean_c", 4).alias("mean_ctrl_cents"),
        F.round(F.col("mean_t") - F.col("mean_c"), 4).alias("diff_cents"),
    )
    valid = m.where((F.col("n_treat") > 0) & (F.col("n_ctrl") > 0)).select(
        "stratum",
        "n_treat",
        "n_ctrl",
        ((F.col("n_treat") + F.col("n_ctrl")) * (F.col("mean_t") - F.col("mean_c"))).alias(
            "term"
        ),
    )
    allrow = valid.agg(
        F.sum("n_treat").alias("n_treat"),
        F.sum("n_ctrl").alias("n_ctrl"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("stratum"), F.col("term").alias("v")))
                ),
                lambda x: x["v"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("num"),
        F.sum(F.col("n_treat") + F.col("n_ctrl")).alias("den"),
    ).select(
        F.lit("<all>").alias("stratum"),
        "n_treat",
        "n_ctrl",
        F.lit(None).cast("double").alias("mean_treat_cents"),
        F.lit(None).cast("double").alias("mean_ctrl_cents"),
        F.round(F.col("num") / F.col("den"), 4).alias("diff_cents"),
    )
    return strata_rows.unionByName(allrow)


@query(
    "q_mix_shift",
    oracle="""
    WITH o AS (
      SELECT o_orderpriority AS segment,
             epoch_ms(o_orderdate) // 86400000 AS day,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    mid AS (SELECT (min(day) + max(day) + 1) // 2 AS m FROM o),
    per AS (
      SELECT segment, CASE WHEN day < mid.m THEN 1 ELSE 2 END AS p,
             CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS r
      FROM o, mid GROUP BY 1, 2
    ),
    tot AS (
      SELECT p, CAST(sum(n) AS BIGINT) AS np FROM per GROUP BY 1
    ),
    wide AS (
      SELECT coalesce(p1.segment, p2.segment) AS segment,
             coalesce(p1.n, 0) AS n1, coalesce(p2.n, 0) AS n2,
             coalesce(p1.r, 0) AS r1, coalesce(p2.r, 0) AS r2
      FROM (SELECT * FROM per WHERE p = 1) p1
      FULL OUTER JOIN (SELECT * FROM per WHERE p = 2) p2
        ON p2.segment = p1.segment
    ),
    eff AS (
      SELECT w.segment, w.n1, w.n2, w.r1, w.r2,
             coalesce(CAST(w.r1 AS DOUBLE) / nullif(w.n1, 0), 0.0) AS rate1,
             coalesce(CAST(w.r2 AS DOUBLE) / nullif(w.n2, 0), 0.0) AS rate2,
             coalesce(CAST(w.n1 AS DOUBLE) / nullif(t1.np, 0), 0.0) AS share1,
             coalesce(t2.np, 0) AS bign2
      FROM wide w
      LEFT JOIN tot t1 ON t1.p = 1
      LEFT JOIN tot t2 ON t2.p = 2
    )
    SELECT segment,
           n1 AS n_p1, n2 AS n_p2, r1 AS cents_p1, r2 AS cents_p2,
           (share1 * bign2 - n1) * rate1 AS volume_effect,
           (n2 - share1 * bign2) * rate1 AS mix_effect,
           n2 * (rate2 - rate1) AS rate_effect
    FROM eff
""",
)
def q_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N114: price-volume-mix decomposition (the FP&A 'PVM bridge';
    van Ryzin & Talluri's revenue-decomposition arithmetic) of order revenue
    between the first and second half of the order-date span, by order
    priority segment: period-2 minus period-1 revenue splits EXACTLY into
    volume (total order count moved), mix (segment shares shifted at old
    rates), and rate (per-order value changed) effects — the identity
    SUM(volume+mix+rate) == R2-R1 is pinned in pytest, so the bridge can
    never leak. Degenerate periods (a segment absent, or all orders in one
    half) coalesce rates/shares to 0 through try_divide so the identity
    still holds — the fuzz shapes. Everything derives from ONE
    segment x period exact-integer rollup (count + cents); the two period
    totals broadcast back as one-row tables. The midpoint split is exact
    integer (min+max+1) div 2 — both engines bucket every order
    identically."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("segment"),
        F.expr("unix_millis(o_orderdate) div 86400000").alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    mid = o.agg(F.expr("(min(day) + max(day) + 1) div 2").alias("m"))
    per = (
        o.crossJoin(F.broadcast(mid))
        .select("segment", F.when(F.col("day") < F.col("m"), 1).otherwise(2).alias("p"), "cents")
        .groupBy("segment", "p")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("r"))
        .localCheckpoint(eager=False)
    )
    tot = per.groupBy("p").agg(F.sum("n").alias("np"))
    p1 = per.where(F.col("p") == 1).select(
        F.col("segment").alias("s1"), F.col("n").alias("n1"), F.col("r").alias("r1")
    )
    p2 = per.where(F.col("p") == 2).select(
        F.col("segment").alias("s2"), F.col("n").alias("n2"), F.col("r").alias("r2")
    )
    wide = p1.join(p2, F.col("s1") == F.col("s2"), "full_outer").select(
        F.coalesce("s1", "s2").alias("segment"),
        F.coalesce("n1", F.lit(0)).alias("n1"),
        F.coalesce("n2", F.lit(0)).alias("n2"),
        F.coalesce("r1", F.lit(0)).alias("r1"),
        F.coalesce("r2", F.lit(0)).alias("r2"),
    )
    t1 = tot.where(F.col("p") == 1).select(F.col("np").alias("np1"))
    t2 = tot.where(F.col("p") == 2).select(F.col("np").alias("np2"))
    eff = (
        wide.crossJoin(F.broadcast(t1))
        .crossJoin(F.broadcast(t2))
        .select(
            "segment",
            "n1",
            "n2",
            "r1",
            "r2",
            F.coalesce(F.try_divide(F.col("r1").cast("double"), F.col("n1")), F.lit(0.0)).alias("rate1"),
            F.coalesce(F.try_divide(F.col("r2").cast("double"), F.col("n2")), F.lit(0.0)).alias("rate2"),
            F.coalesce(F.try_divide(F.col("n1").cast("double"), F.col("np1")), F.lit(0.0)).alias("share1"),
            F.coalesce(F.col("np2"), F.lit(0)).alias("bign2"),
        )
    )
    return eff.select(
        "segment",
        F.col("n1").alias("n_p1"),
        F.col("n2").alias("n_p2"),
        F.col("r1").alias("cents_p1"),
        F.col("r2").alias("cents_p2"),
        ((F.col("share1") * F.col("bign2") - F.col("n1")) * F.col("rate1")).alias("volume_effect"),
        # cents-scale magnitudes with genuine fractions: a 4dp round here
        # exceeds double precision once the corpus grows (the q_anova
        # round-8 lesson) — the unrounded doubles are bit-identical
        ((F.col("n2") - F.col("share1") * F.col("bign2")) * F.col("rate1")).alias("mix_effect"),
        (F.col("n2") * (F.col("rate2") - F.col("rate1"))).alias("rate_effect"),
    )




@query(
    "q_nelson_aalen",
    oracle="""
    WITH u AS (
      SELECT user_id, min(ts) AS f, max(ts) AS l
      FROM events GROUP BY 1
    ),
    mx AS (SELECT max(ts) AS m FROM events),
    lab AS (
      SELECT user_id, date_diff('day', f, l) AS lt,
             CASE WHEN l < mx.m - INTERVAL 1 DAY THEN 1 ELSE 0 END AS churned
      FROM u, mx
    ),
    ev AS (
      SELECT lt AS day, sum(churned) AS d, sum(1 - churned) AS c
      FROM lab GROUP BY 1
    ),
    risk AS (
      SELECT day, d, c,
             sum(d + c) OVER (ORDER BY day DESC) AS n_risk
      FROM ev
    ),
    h AS (
      SELECT day, d, c, n_risk,
             sum(d * CAST(1 AS DOUBLE) / n_risk) OVER (ORDER BY day) AS ch,
             sum(d * CAST(1 AS DOUBLE) / (n_risk * CAST(n_risk AS HUGEINT)))
               OVER (ORDER BY day) AS vh
      FROM risk
    )
    SELECT CAST(day AS BIGINT) AS day, CAST(n_risk AS BIGINT) AS n_risk,
           CAST(d AS BIGINT) AS n_churned, CAST(c AS BIGINT) AS n_censored,
           round(ch, 6) AS cum_hazard,
           round(sqrt(vh), 6) AS hazard_se,
           round(exp(-ch), 6) AS fh_survival
    FROM h
""",
)
def q_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N115: Nelson-Aalen cumulative hazard (Nelson 1972, Aalen 1978)
    with the Fleming-Harrington survival transform exp(-H) — the
    hazard-scale companion to q_survival_curve's Kaplan-Meier: same user
    lifetimes, same right-censoring against the horizon, same
    days-bounded risk-set suffix sum, but H(t) = SUM d_k/n_k ACCUMULATES
    where KM multiplies — hazard_se = sqrt(SUM d/n^2) gives the pointwise
    error band KM's product form hides, and FH stays positive where KM
    pins 0 on a total-churn day (the documented estimator difference the
    pytest asserts). Determinism: the running sums add identical doubles
    in identical day order in both engines (the km_curve lns discipline);
    n_risk^2 widens to decimal before multiplying. Scale: one user
    rollup, one broadcast horizon scalar, then observation-days-bounded
    arithmetic — the km_curve shape exactly."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(F.min("ts").alias("f"), F.max("ts").alias("l"))
    return na_curve(u)


def na_curve(u: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming Nelson-Aalen queries: from a
    per-user (f, l) first/last-event table (the km_curve input), the
    cumulative-hazard curve with its standard error and FH survival."""
    from pyspark.sql.window import Window

    mx = u.agg(F.max("l").alias("m"))
    lab = u.crossJoin(F.broadcast(mx)).select(
        F.datediff(F.col("l").cast("date"), F.col("f").cast("date")).alias("day"),
        F.when(F.col("l") < F.col("m") - F.expr("INTERVAL 1 DAY"), 1).otherwise(0).alias("churned"),
    )
    evt = lab.groupBy("day").agg(
        F.sum("churned").alias("d"), F.sum(F.lit(1) - F.col("churned")).alias("c")
    )
    risk = evt.select(
        "day",
        "d",
        "c",
        F.sum(F.col("d") + F.col("c")).over(Window.orderBy(F.col("day").desc())).alias("n_risk"),
    )
    w = Window.orderBy("day")
    h = risk.select(
        "day",
        "d",
        "c",
        "n_risk",
        F.sum(F.col("d") * F.lit(1.0) / F.col("n_risk")).over(w).alias("ch"),
        F.sum(
            F.col("d") * F.lit(1.0) / (F.col("n_risk") * F.col("n_risk").cast("decimal(38,0)"))
        ).over(w).alias("vh"),
    )
    return h.select(
        F.col("day").cast("long").alias("day"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").cast("long").alias("n_churned"),
        F.col("c").cast("long").alias("n_censored"),
        F.round(F.col("ch"), 6).alias("cum_hazard"),
        F.round(F.sqrt(F.col("vh")), 6).alias("hazard_se"),
        F.round(F.exp(-F.col("ch")), 6).alias("fh_survival"),
    )




@query(
    "q_welch_ttest",
    oracle="""
    WITH daily AS (
      SELECT event_type, epoch_ms(ts) // 86400000 AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    g AS (
      SELECT event_type,
             CASE WHEN (day + 3) % 7 + 1 >= 6 THEN 1 ELSE 0 END AS we,
             cents
      FROM daily
    ),
    m AS (
      SELECT event_type,
             CAST(count(CASE WHEN we = 0 THEN 1 END) AS BIGINT) AS n1,
             CAST(count(CASE WHEN we = 1 THEN 1 END) AS BIGINT) AS n2,
             CAST(sum(CASE WHEN we = 0 THEN cents ELSE 0 END) AS BIGINT) AS s1,
             CAST(sum(CASE WHEN we = 1 THEN cents ELSE 0 END) AS BIGINT) AS s2,
             CAST(sum(CASE WHEN we = 0 THEN cents * CAST(cents AS HUGEINT) ELSE 0 END) AS DOUBLE) AS q1,
             CAST(sum(CASE WHEN we = 1 THEN cents * CAST(cents AS HUGEINT) ELSE 0 END) AS DOUBLE) AS q2
      FROM g GROUP BY 1
    ),
    v AS (
      SELECT event_type, n1, n2,
             CAST(s1 AS DOUBLE) / n1 AS m1,
             CAST(s2 AS DOUBLE) / n2 AS m2,
             (q1 - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1) AS v1,
             (q2 - CAST(s2 AS DOUBLE) * s2 / n2) / (n2 - 1) AS v2
      FROM m
    ),
    t AS (
      SELECT event_type, n1, n2, m1, m2, v1, v2,
             (m1 - m2) / sqrt(v1 / n1 + v2 / n2) AS tstat,
             (v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
               / ((v1 / n1) * (v1 / n1) / (n1 - 1) + (v2 / n2) * (v2 / n2) / (n2 - 1)) AS df
      FROM v
    )
    SELECT event_type, n1 AS n_weekday, n2 AS n_weekend,
           round(m1, 4) AS mean_weekday, round(m2, 4) AS mean_weekend,
           round(tstat, 4) AS t_stat, round(df, 2) AS df,
           CASE WHEN tstat IS NULL THEN 'n/a'
                WHEN abs(tstat) > 1.96 THEN 'true' ELSE 'false' END AS weekend_effect
    FROM t
""",
)
def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N116: Welch unequal-variance t-test (Welch 1947) for the weekend
    effect: per event type, weekday vs weekend mean daily revenue with the
    Welch-Satterthwaite effective df — the two-sample location test the A/B
    z-test (N65) cannot do when group variances differ and groups are
    days-bounded-small. Weekend = ISO dow >= 6 derived as exact integer
    arithmetic ((day+3) mod 7 + 1 — no date functions, both engines
    identical). Moments are exact: integer cents sums and decimal-widened
    squares, cast to double once; t, df, and the verdict threshold (|t| >
    1.96, normal approximation documented — df here is ~dozens to
    thousands where t and z differ < 0.3%) evaluate one shared expression
    tree. try_divide pins degenerate groups (one-day weekend, constant
    series) to NULL instead of ANSI DIVIDE_BY_ZERO — the fuzz shapes.
    Scale: rides the daily rollup; 5 one-row stats after."""
    daily = _daily_cents_by_type(spark, sf_dir)
    return welch_tail(daily)


def welch_tail(daily: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming Welch weekend-effect
    queries: exact weekday/weekend moments and the t/df panel over a
    (event_type, day, cents) daily table."""
    g = daily.select(
        "event_type",
        F.when((F.col("day") + 3) % 7 + 1 >= 6, 1).otherwise(0).alias("we"),
        "cents",
    )
    m = g.groupBy("event_type").agg(
        F.count(F.when(F.col("we") == 0, 1)).alias("n1"),
        F.count(F.when(F.col("we") == 1, 1)).alias("n2"),
        F.sum(F.when(F.col("we") == 0, F.col("cents")).otherwise(0)).alias("s1"),
        F.sum(F.when(F.col("we") == 1, F.col("cents")).otherwise(0)).alias("s2"),
        F.sum(
            F.when(F.col("we") == 0, F.col("cents") * F.col("cents").cast("decimal(38,0)")).otherwise(
                F.lit(0).cast("decimal(38,0)")
            )
        ).cast("double").alias("q1"),
        F.sum(
            F.when(F.col("we") == 1, F.col("cents") * F.col("cents").cast("decimal(38,0)")).otherwise(
                F.lit(0).cast("decimal(38,0)")
            )
        ).cast("double").alias("q2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    # try_divide throughout: a type whose days are ALL weekend (or all
    # weekday) has n=0 on one side — ANSI plain division would crash
    # (found by cross-engine fuzz); DuckDB's /0 -> NULL matches try_divide
    m1 = F.try_divide(F.col("s1").cast("double"), n1)
    m2 = F.try_divide(F.col("s2").cast("double"), n2)
    v1 = F.try_divide(
        F.col("q1") - F.try_divide(F.col("s1").cast("double") * F.col("s1"), n1), n1 - 1
    )
    v2 = F.try_divide(
        F.col("q2") - F.try_divide(F.col("s2").cast("double") * F.col("s2"), n2), n2 - 1
    )
    v = m.select("event_type", "n1", "n2", m1.alias("m1"), m2.alias("m2"), v1.alias("v1"), v2.alias("v2"))
    se2 = F.try_divide(F.col("v1"), F.col("n1")) + F.try_divide(F.col("v2"), F.col("n2"))
    tstat = F.try_divide(F.col("m1") - F.col("m2"), F.sqrt(se2))
    t1 = F.try_divide(F.col("v1"), F.col("n1"))
    t2 = F.try_divide(F.col("v2"), F.col("n2"))
    df = F.try_divide(
        se2 * se2,
        F.try_divide(t1 * t1, F.col("n1") - 1) + F.try_divide(t2 * t2, F.col("n2") - 1),
    )
    t = v.select("event_type", "n1", "n2", "m1", "m2", tstat.alias("tstat"), df.alias("dfv"))
    return t.select(
        "event_type",
        F.col("n1").alias("n_weekday"),
        F.col("n2").alias("n_weekend"),
        F.round(F.col("m1"), 4).alias("mean_weekday"),
        F.round(F.col("m2"), 4).alias("mean_weekend"),
        F.round(F.col("tstat"), 4).alias("t_stat"),
        F.round(F.col("dfv"), 2).alias("df"),
        # string verdict (the looks_random lesson): nullable booleans coerce
        # asymmetrically through the two engines' pandas bridges
        F.when(F.col("tstat").isNull(), F.lit("n/a"))
        .when(F.abs(F.col("tstat")) > 1.96, F.lit("true"))
        .otherwise(F.lit("false"))
        .alias("weekend_effect"),
    )




@query(
    "q_new_returning_revenue",
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id, epoch_ms(ts) // 604800000 AS week FROM events
    ),
    fw AS (SELECT user_id, min(week) AS first_week FROM uw GROUP BY 1),
    p AS (
      SELECT user_id, epoch_ms(ts) // 604800000 AS week,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    j AS (
      SELECT p.week,
             CASE WHEN fw.first_week = p.week THEN 1 ELSE 0 END AS is_new,
             p.user_id, p.cents
      FROM p JOIN fw ON fw.user_id = p.user_id
    ),
    agg AS (
      SELECT week,
             CAST(sum(CASE WHEN is_new = 1 THEN cents ELSE 0 END) AS BIGINT) AS cents_new,
             CAST(sum(CASE WHEN is_new = 0 THEN cents ELSE 0 END) AS BIGINT) AS cents_returning,
             CAST(count(DISTINCT CASE WHEN is_new = 1 THEN user_id END) AS BIGINT) AS n_new_buyers,
             CAST(count(DISTINCT CASE WHEN is_new = 0 THEN user_id END) AS BIGINT) AS n_returning_buyers
      FROM j GROUP BY 1
    )
    SELECT week, cents_new, cents_returning, n_new_buyers, n_returning_buyers,
           round(CAST(cents_new AS DOUBLE) / nullif(cents_new + cents_returning, 0), 6)
             AS new_share
    FROM agg
""",
)
def q_new_returning_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N117: new-vs-returning revenue split by week — the
    monetization lens on N112's growth accounting (THAT counts heads; this
    weighs wallets): each week's purchase cents split by whether the buyer's
    first-ever activity week IS this week, with distinct-buyer counts and
    the new-revenue share. First-week table is users-bounded and joins the
    purchase stream on its natural key (at 100 TB both sides hash-exchange
    on user_id once — the q_retention_curve join shape); cents stay exact
    BIGINT to one share division (try_divide: a week with zero purchase
    revenue yields NULL share, not a crash). The composite every
    growth-stage dashboard pairs: acquisition quality (new share falling =
    retention economics improving) against q_cohort_ltv's cohort curves."""
    ev = _t(spark, sf_dir, "events")
    uw = ev.select("user_id", F.expr("unix_millis(ts) div 604800000").alias("week")).distinct()
    fw = uw.groupBy("user_id").agg(F.min("week").alias("first_week"))
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.expr("unix_millis(ts) div 604800000").alias("week"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    j = p.join(fw, "user_id").select(
        "week",
        F.when(F.col("first_week") == F.col("week"), 1).otherwise(0).alias("is_new"),
        "user_id",
        "cents",
    )
    agg = j.groupBy("week").agg(
        F.sum(F.when(F.col("is_new") == 1, F.col("cents")).otherwise(0)).alias("cents_new"),
        F.sum(F.when(F.col("is_new") == 0, F.col("cents")).otherwise(0)).alias("cents_returning"),
        F.count_distinct(F.when(F.col("is_new") == 1, F.col("user_id"))).alias("n_new_buyers"),
        F.count_distinct(F.when(F.col("is_new") == 0, F.col("user_id"))).alias("n_returning_buyers"),
    )
    return agg.select(
        "week",
        "cents_new",
        "cents_returning",
        "n_new_buyers",
        "n_returning_buyers",
        F.round(
            F.try_divide(
                F.col("cents_new").cast("double"), F.col("cents_new") + F.col("cents_returning")
            ),
            6,
        ).alias("new_share"),
    )




@query(
    "q_max_drawdown",
    oracle="""
    WITH daily AS (
      SELECT event_type, epoch_ms(ts) // 86400000 AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT event_type, day, cents,
             CAST(max(cents) OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS runmax
      FROM daily
    ),
    dd AS (
      SELECT event_type, day, cents, runmax, runmax - cents AS draw,
             row_number() OVER (PARTITION BY event_type ORDER BY runmax - cents DESC, day) AS rk,
             count(*) OVER (PARTITION BY event_type) AS n_days
      FROM r
    ),
    trough AS (
      SELECT event_type, CAST(n_days AS BIGINT) AS n_days, day AS trough_day,
             runmax AS peak_cents, draw AS max_drawdown_cents
      FROM dd WHERE rk = 1
    )
    SELECT t.event_type, t.n_days,
           CAST(min(d.day) AS BIGINT) AS peak_day,
           CAST(t.trough_day AS BIGINT) AS trough_day,
           t.peak_cents, t.max_drawdown_cents,
           round(CAST(t.max_drawdown_cents AS DOUBLE) / nullif(t.peak_cents, 0), 6)
             AS drawdown_frac
    FROM trough t JOIN daily d
      ON d.event_type = t.event_type AND d.day <= t.trough_day AND d.cents = t.peak_cents
    GROUP BY t.event_type, t.n_days, t.trough_day, t.peak_cents, t.max_drawdown_cents
""",
)
def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N118: maximum drawdown (the risk-analytics peak-to-trough
    statistic; Magdon-Ismail et al. 2004 for the distribution theory) of
    daily revenue per event type: the deepest fall from a running peak,
    with peak/trough days and the fractional depth — the severity
    complement to q_changepoint_cusum (CUSUM locates a LEVEL shift; this
    quantifies the worst cumulative slide, the number an SLA or
    revenue-at-risk review asks for). All exact integers: running max and
    draw are BIGINT, the trough is the row_number-1 row under the pinned
    (draw DESC, day) order, the peak is the EARLIEST day at-or-before the
    trough that attains the peak value (min-day group), and the only
    float is the final depth fraction. Scale: one keyed running-max
    window over the types x days rollup + one broadcast re-join of the
    5-row trough table."""
    from pyspark.sql.window import Window

    daily = _daily_cents_by_type(spark, sf_dir)
    return max_drawdown_tail(daily)


def max_drawdown_tail(daily: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming drawdown queries: running-max
    draw, pinned trough/peak, depth fraction over a (event_type, day,
    cents) daily table."""
    from pyspark.sql.window import Window

    daily = daily.localCheckpoint(eager=False)
    wrun = Window.partitionBy("event_type").orderBy("day")
    r = daily.select("event_type", "day", "cents", F.max("cents").over(wrun).alias("runmax"))
    draw = F.col("runmax") - F.col("cents")
    wrk = Window.partitionBy("event_type").orderBy(draw.desc(), F.col("day"))
    wn = Window.partitionBy("event_type")
    dd = r.select(
        "event_type",
        "day",
        "cents",
        "runmax",
        draw.alias("draw"),
        F.row_number().over(wrk).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n_days"),
    )
    trough = dd.where(F.col("rk") == 1).select(
        F.col("event_type").alias("tet"),
        F.col("n_days"),
        F.col("day").alias("trough_day"),
        F.col("runmax").alias("peak_cents"),
        F.col("draw").alias("max_drawdown_cents"),
    )
    return (
        daily.join(
            F.broadcast(trough),
            (F.col("event_type") == F.col("tet"))
            & (F.col("day") <= F.col("trough_day"))
            & (F.col("cents") == F.col("peak_cents")),
        )
        .groupBy("event_type", "n_days", "trough_day", "peak_cents", "max_drawdown_cents")
        .agg(F.min("day").alias("peak_day"))
        .select(
            "event_type",
            "n_days",
            "peak_day",
            "trough_day",
            "peak_cents",
            "max_drawdown_cents",
            F.round(
                F.try_divide(F.col("max_drawdown_cents").cast("double"), F.col("peak_cents")), 6
            ).alias("drawdown_frac"),
        )
    )




@query(
    "q_seasonality_strength",
    oracle="""
    WITH e AS (
      SELECT epoch_ms(ts) // 86400000 AS day,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    d AS (SELECT day, CAST(sum(cents) AS BIGINT) AS cents FROM e GROUP BY 1),
    t AS (
      SELECT day, cents,
             CAST(sum(cents) OVER w AS BIGINT) AS wsum,
             CAST(count(*) OVER w AS BIGINT) AS wn
      FROM d
      WINDOW w AS (ORDER BY day RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    dt AS (
      SELECT day, day % 7 AS slot, cents,
             wsum // wn AS trend_cents,
             cents - wsum // wn AS detrended
      FROM t
    ),
    s AS (
      SELECT slot, CAST(sum(detrended) AS BIGINT) AS snum, count(*)::BIGINT AS sden
      FROM dt GROUP BY 1
    ),
    comp AS (
      SELECT dt.trend_cents AS tc, s.snum // s.sden AS sc,
             dt.detrended - s.snum // s.sden AS rc
      FROM dt JOIN s ON s.slot = dt.slot
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(rc) AS BIGINT) AS sr,
             CAST(sum(rc * CAST(rc AS HUGEINT)) AS DOUBLE) AS qr,
             CAST(sum(sc + rc) AS BIGINT) AS ssr,
             CAST(sum((sc + rc) * CAST(sc + rc AS HUGEINT)) AS DOUBLE) AS qsr,
             CAST(sum(tc + rc) AS BIGINT) AS str,
             CAST(sum((tc + rc) * CAST(tc + rc AS HUGEINT)) AS DOUBLE) AS qtr
      FROM comp
    )
    SELECT n AS n_days,
           round(coalesce(greatest(0.0, 1.0 -
             (n * qr - CAST(sr AS DOUBLE) * sr) / nullif(n * qtr - CAST(str AS DOUBLE) * str, 0)
           ), 0.0), 4) AS trend_strength,
           round(coalesce(greatest(0.0, 1.0 -
             (n * qr - CAST(sr AS DOUBLE) * sr) / nullif(n * qsr - CAST(ssr AS DOUBLE) * ssr, 0)
           ), 0.0), 4) AS seasonal_strength
    FROM m
""",
)
def q_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N119: trend / seasonal strength panel (Hyndman &
    Athanasopoulos FPP3 ch.4: F_T = max(0, 1 - Var(R)/Var(T+R)), F_S =
    max(0, 1 - Var(R)/Var(S+R))) over the N100 classical decomposition —
    the one-row scorecard that ARBITRATES the time-series family: high
    F_S justifies q_forecast_eval's seasonal-naive and q_weekday_profile's
    cycle story; low F_T tells q_theil_sen/q_quality_trend there is no
    trend worth testing. Reuses seasonal_tail verbatim (exact-BIGINT
    components), so the variances derive from exact integer moments
    (decimal-widened squares, the n*Q - S^2 form) — one double division
    per strength, degenerate zero-variance series pinned to 0 through
    try_divide + coalesce (the fuzz shapes). Scale: the daily rollup is
    the only corpus-sized exchange; everything after is days-bounded with
    a one-row final aggregate."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        F.expr("unix_millis(ts) div 86400000").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    d = e.groupBy("day").agg(F.sum("cents").alias("cents"))
    return seasonality_strength_tail(d)


def seasonality_strength_tail(d) -> DataFrame:
    """Shared tail of the batch and streaming strength queries: the FPP3
    F_T/F_S panel over a (day, cents) daily table."""
    comp = seasonal_tail(d).select(
        F.col("trend_cents").alias("tc"),
        F.col("seasonal_cents").alias("sc"),
        F.col("residual_cents").alias("rc"),
    )
    m = comp.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rc").alias("sr"),
        F.sum(F.col("rc").cast("decimal(38,0)") * F.col("rc")).cast("double").alias("qr"),
        F.sum(F.col("sc") + F.col("rc")).alias("ssr"),
        F.sum(
            (F.col("sc") + F.col("rc")).cast("decimal(38,0)") * (F.col("sc") + F.col("rc"))
        ).cast("double").alias("qsr"),
        F.sum(F.col("tc") + F.col("rc")).alias("str"),
        F.sum(
            (F.col("tc") + F.col("rc")).cast("decimal(38,0)") * (F.col("tc") + F.col("rc"))
        ).cast("double").alias("qtr"),
    )
    n = F.col("n")
    vr = n * F.col("qr") - F.col("sr").cast("double") * F.col("sr")
    vtr = n * F.col("qtr") - F.col("str").cast("double") * F.col("str")
    vsr = n * F.col("qsr") - F.col("ssr").cast("double") * F.col("ssr")
    return m.select(
        n.alias("n_days"),
        F.round(
            F.coalesce(F.greatest(F.lit(0.0), 1.0 - F.try_divide(vr, vtr)), F.lit(0.0)), 4
        ).alias("trend_strength"),
        F.round(
            F.coalesce(F.greatest(F.lit(0.0), 1.0 - F.try_divide(vr, vsr)), F.lit(0.0)), 4
        ).alias("seasonal_strength"),
    )




@query(
    "q_bucketed_join",
    oracle="""
    SELECT o.o_orderpriority AS segment,
           CAST(count(*) AS BIGINT) AS n_lineitems,
           CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY 1
""",
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N120: bucket-co-located join — the storage-layout lever that
    REMOVES the join shuffle instead of tuning it (SCALE.md's bucketing
    section, run as a first-class query): lineitem and orders are written
    bucketed 8 ways on the order key (storage.write_bucketed — hash
    bucket files + catalog bucket spec), read back via the catalog, and
    merge-joined — Catalyst sees matching bucket specs and plans the
    SortMergeJoin with ZERO exchanges before it (pytest pins
    exchange-count == 1: only the final segment rollup). At 100 TB this
    is THE difference between an hourly fact-fact join re-shuffling 100
    TB every run and reading pre-aligned buckets: pay one layout write,
    amortize over every subsequent join. Results are the exact-cents
    revenue-per-priority rollup, hash-matched against the plain-join
    oracle — the layout changes the PLAN, provably not the ANSWER."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
        .cast("long")
        .alias("cents"),
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    storage.write_bucketed(li, "ssp_li_by_orderkey", "l_orderkey", 8)
    storage.write_bucketed(o, "ssp_o_by_orderkey", "o_orderkey", 8)
    lib = storage.read_table(spark, "ssp_li_by_orderkey")
    ob = storage.read_table(spark, "ssp_o_by_orderkey")
    joined = lib.hint("merge").join(ob, lib["l_orderkey"] == ob["o_orderkey"])
    return joined.groupBy(F.col("o_orderpriority").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_lineitems"),
        F.sum("cents").alias("revenue_cents"),
    )




@query(
    "q_seasonal_anomaly",
    oracle="""
    WITH e AS (
      SELECT epoch_ms(ts) // 86400000 AS day,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    d AS (SELECT day, CAST(sum(cents) AS BIGINT) AS cents FROM e GROUP BY 1),
    t AS (
      SELECT day, cents,
             CAST(sum(cents) OVER w AS BIGINT) AS wsum,
             CAST(count(*) OVER w AS BIGINT) AS wn
      FROM d
      WINDOW w AS (ORDER BY day RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    dt AS (
      SELECT day, day % 7 AS slot, cents,
             wsum // wn AS trend_cents,
             cents - wsum // wn AS detrended
      FROM t
    ),
    s AS (
      SELECT slot, CAST(sum(detrended) AS BIGINT) AS snum, count(*)::BIGINT AS sden
      FROM dt GROUP BY 1
    ),
    comp AS (
      SELECT dt.day, dt.cents,
             dt.detrended - s.snum // s.sden AS rc
      FROM dt JOIN s ON s.slot = dt.slot
    ),
    rk AS (
      SELECT *, row_number() OVER (ORDER BY rc, day) AS r,
             count(*) OVER () AS nd
      FROM comp
    ),
    med AS (
      SELECT CAST(sum(rc) AS BIGINT) AS msum
      FROM rk WHERE r = (nd + 1) // 2 OR r = nd // 2 + 1
    ),
    dev AS (
      SELECT c.day, c.cents, c.rc, abs(2 * c.rc - m.msum) AS dev2
      FROM comp c, med m
    ),
    erk AS (
      SELECT *, row_number() OVER (ORDER BY dev2, day) AS r,
             count(*) OVER () AS nd
      FROM dev
    ),
    mad AS (
      SELECT CAST(sum(dev2) AS BIGINT) AS esum
      FROM erk WHERE r = (nd + 1) // 2 OR r = nd // 2 + 1
    ),
    scored AS (
      SELECT d.day, d.cents, d.rc,
             (2.0 * d.rc - m.msum) * 2.0 / (1.4826 * md.esum) AS rz,
             d.dev2
      FROM dev d, med m, mad md
    )
    SELECT CAST(day * 86400 AS BIGINT) AS day_s,
           cents, rc AS residual_cents,
           round(rz, 4) AS robust_z,
           CASE WHEN rz IS NULL THEN 'n/a'
                WHEN abs(rz) > 3.0 THEN 'true' ELSE 'false' END AS is_anomaly
    FROM scored
    ORDER BY dev2 DESC, day
    LIMIT 10
""",
)
def q_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N121: seasonal-adjusted anomaly detection — the top-10 days
    whose N100-decomposition RESIDUAL deviates most from the residual
    median, scored as a robust z (median/MAD, Hampel's 1.4826
    normal-consistency constant): the detector that q_rolling_zscore
    cannot be — a weekly-cycle peak is NOT an anomaly here because the
    seasonal component already absorbed it, and a slow trend cannot
    inflate the scale because MAD ignores it. EXACT-INTEGER ranking end
    to end: the even-median is kept as the two-middles SUM (msum = 2*med,
    BIGINT), deviations are |2*rc - msum| (BIGINT), the MAD likewise a
    sum (esum = 4*MAD), so the top-10 cut orders by exact integers —
    the one float is the final robust-z division (2*rc - msum)*2 /
    (1.4826*esum), try_divide-pinned NULL on constant residuals.
    Scale: everything after the daily rollup is days-bounded (the N100
    argument); the two median ranks ride the same bounded table."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        F.expr("unix_millis(ts) div 86400000").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    d = e.groupBy("day").agg(F.sum("cents").alias("cents"))
    return seasonal_anomaly_tail(d)


def seasonal_anomaly_tail(d) -> DataFrame:
    """Shared tail of the batch and streaming seasonal-anomaly queries:
    median/MAD robust-z top-10 over the decomposition residuals of a
    (day, cents) daily table."""
    from pyspark.sql.window import Window

    comp = seasonal_tail(d).select(
        F.expr("day_s div 86400").alias("day"),
        "cents",
        F.col("residual_cents").alias("rc"),
    ).localCheckpoint(eager=False)
    wr = Window.orderBy("rc", "day")
    wn = Window.partitionBy()
    rk = comp.select(
        "rc", F.row_number().over(wr).alias("r"), F.count(F.lit(1)).over(wn).alias("nd")
    )
    med = rk.where(
        (F.col("r") == F.expr("(nd + 1) div 2")) | (F.col("r") == F.expr("nd div 2 + 1"))
    ).agg(F.sum("rc").alias("msum"))
    dev = comp.crossJoin(F.broadcast(med)).select(
        "day", "cents", "rc", F.abs(2 * F.col("rc") - F.col("msum")).alias("dev2"), "msum"
    )
    we = Window.orderBy("dev2", "day")
    erk = dev.select(
        "dev2", F.row_number().over(we).alias("r"), F.count(F.lit(1)).over(wn).alias("nd")
    )
    mad = erk.where(
        (F.col("r") == F.expr("(nd + 1) div 2")) | (F.col("r") == F.expr("nd div 2 + 1"))
    ).agg(F.sum("dev2").alias("esum"))
    rz = F.try_divide(
        (2.0 * F.col("rc") - F.col("msum")) * 2.0, 1.4826 * F.col("esum")
    )
    scored = dev.crossJoin(F.broadcast(mad)).select(
        (F.col("day") * 86400).alias("day_s"),
        "cents",
        F.col("rc").alias("residual_cents"),
        F.round(rz, 4).alias("robust_z"),
        # string verdict (the looks_random lesson)
        F.when(rz.isNull(), F.lit("n/a"))
        .when(F.abs(rz) > 3.0, F.lit("true"))
        .otherwise(F.lit("false"))
        .alias("is_anomaly"),
        "dev2",
        "day",
    )
    return scored.orderBy(F.desc("dev2"), "day").limit(10).drop("dev2", "day")




@query(
    "q_hill_tail_index",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    rk AS (
      SELECT cents, row_number() OVER (ORDER BY cents DESC, o_orderkey) AS rn,
             count(*) OVER () AS n
      FROM o
    ),
    kd AS (SELECT cents, rn, n, n // 20 AS k FROM rk),
    agg AS (
      SELECT CAST(max(n) AS BIGINT) AS n_orders,
             CAST(max(k) AS BIGINT) AS k_tail,
             CAST(max(cents) FILTER (WHERE rn = k + 1) AS BIGINT) AS threshold_cents,
             list_reduce(
               list_prepend(0.0, list(ln(CAST(cents AS DOUBLE)) ORDER BY rn)
                                   FILTER (WHERE rn <= k)),
               (a, x) -> a + x) AS lnsum
      FROM kd
    )
    SELECT n_orders, k_tail, threshold_cents,
           round(k_tail / (lnsum - k_tail * ln(CAST(threshold_cents AS DOUBLE))), 4)
             AS hill_alpha
    FROM agg
""",
)
def q_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N122: Hill tail-index estimator (Hill 1975; the
    peaks-over-threshold heavy-tail diagnostic) over order values:
    alpha = k / SUM ln(x_i / x_(k+1)) for the top k = n div 20 order
    totals — the number that says whether the value distribution is
    power-law-heavy (alpha < 2: variance undefined, expect extreme
    whales) or light (large alpha) — which decides whether revenue
    aggregates need q_salted_join's skew treatment and how q_ab_test's
    means behave. Deterministic: the tail cut ranks by exact (cents
    DESC, o_orderkey); the ln-ratio sum folds in rank order (float-sum
    discipline); alpha is one division, NULL (try_divide) when the top-k
    ties flat (fuzz shape). Scale note: the global rank is the
    advisor-stance sort (q_sort_key_advisor precedent) — at 100 TB the
    threshold comes from an approx-quantile pass and the fold shrinks to
    the k tail rows only; the plan shape (one sort, one fold) is
    unchanged."""
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    w = Window.orderBy(F.desc("cents"), "o_orderkey")
    wn = Window.partitionBy()
    # ONE aggregate over the ranked table: SUM ln(x_i/t) == SUM ln x_i -
    # k*ln t, so the threshold never needs a second pass — 2 budgeted
    # single-partition exchanges total (the advisor-stance global rank +
    # the one-row aggregate)
    kd = o.select(
        "cents",
        F.row_number().over(w).alias("rn"),
        F.expr("count(1) over () div 20").alias("k"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    agg = kd.agg(
        F.max("n").alias("n_orders"),
        F.max("k").alias("k_tail"),
        F.max(F.when(F.col("rn") == F.col("k") + 1, F.col("cents"))).alias("threshold_cents"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("rn") <= F.col("k"),
                            F.struct("rn", F.log(F.col("cents").cast("double")).alias("v")),
                        )
                    )
                ),
                lambda t: t["v"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("lnsum"),
    )
    return agg.select(
        "n_orders",
        "k_tail",
        "threshold_cents",
        F.round(
            F.try_divide(
                F.col("k_tail"),
                F.col("lnsum")
                - F.col("k_tail") * F.log(F.col("threshold_cents").cast("double")),
            ),
            4,
        ).alias("hill_alpha"),
    )




@query(
    "q_partition_pruned_scan",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-16'
    GROUP BY 1
""",
)
def q_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N123: date-partition-pruned scan — the SECOND storage-layout
    lever beside N120's bucketing (bucketing kills the join shuffle; THIS
    kills the scan): events are written hive-partitioned by calendar date
    (storage.write_date_partitioned), read back, and filtered to one week —
    Catalyst resolves the predicate ENTIRELY at planning time
    (PartitionFilters carries it, DataFilters is empty — pytest pins both),
    so only 7 of the ~30 date directories are ever opened. At 100 TB with
    ~3 years of events, the same one-week dashboard query reads ~0.6% of
    the bytes; no row-level filtering happens at all. The aggregate result
    hash-matches the raw-scan oracle — layout changes I/O, provably not
    the answer (the N120 contract)."""
    import os
    from urllib.parse import urlparse

    ev = _t(spark, sf_dir, "events").select("ts", "value")
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")).path
    path = os.path.join(warehouse if os.path.isabs(warehouse) else "spark-warehouse",
                        "ssp_events_by_date")
    storage.write_date_partitioned(ev, path)
    back = storage.read_date_partitioned(spark, path)
    pruned = back.where(
        (F.col("event_date") >= F.lit("2024-01-10")) & (F.col("event_date") <= F.lit("2024-01-16"))
    )
    return pruned.groupBy(F.col("event_date").cast("string").alias("event_date")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    )




@query(
    "q_csv_source",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY 1
""",
)
def q_csv_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N124: CSV source round-trip — the third source format through
    the oracle gate (parquet everywhere, JSONL via the custom managed
    source S5, CSV here): events project to a typed CSV (header, native
    distributed writer), read back with an EXPLICIT schema (never
    inferSchema — a second full scan and type guesses that flip on dirty
    data), and aggregate to per-type counts/revenue/distinct users that
    hash-match the raw-parquet oracle — the loss-less-ness of the
    round-trip IS the assertion. Scale: CSV splits by line so the read
    parallelizes like parquet minus columnar pruning; the docstring
    contract is 'ingest format, convert to parquet once' — this query is
    the audit that conversion preserved every row and value."""
    import os
    from urllib.parse import urlparse

    from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")).path
    path = os.path.join(warehouse if os.path.isabs(warehouse) else "spark-warehouse",
                        "ssp_events_csv")
    ev.write.mode("overwrite").option("header", "true").csv(path)
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    back = spark.read.schema(schema).option("header", "true").csv(path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        F.count_distinct(F.col("user_id")).alias("n_users"),
    )




@query(
    "q_lorenz_curve",
    oracle="""
    WITH u AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    d AS (
      SELECT cents, ntile(10) OVER (ORDER BY cents, o_custkey) AS decile FROM u
    ),
    per AS (
      SELECT decile,
             CAST(count(*) AS BIGINT) AS n_customers,
             CAST(sum(cents) AS BIGINT) AS cents
      FROM d GROUP BY 1
    ),
    cum AS (
      SELECT decile, n_customers, cents,
             CAST(sum(cents) OVER (ORDER BY decile) AS BIGINT) AS cum_cents,
             CAST(sum(cents) OVER () AS BIGINT) AS total
      FROM per
    )
    SELECT decile, n_customers, cents AS decile_cents,
           round(CAST(cum_cents AS DOUBLE) / nullif(total, 0), 6) AS cum_share
    FROM cum
""",
)
def q_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N125: Lorenz curve deciles (Lorenz 1905 — the curve whose area
    deficit IS q_gini_concentration's coefficient, shown as the 10-point
    table a dashboard actually plots): customers ranked by exact revenue
    cents into ntile(10) deciles (ties pinned by custkey), cumulative
    revenue share per decile — 'the top decile holds 1-cum_share(9) of
    revenue'. All exact integers (per-decile and cumulative cents) to ONE
    share division; the customer-bounded global ntile is the budgeted
    single-partition exchange (q_stratified_ate stance: swap for
    approx-quantile bounds at corpus scale, same downstream arithmetic).
    Cross-checked against Gini in pytest: 2*AUC-of-curve - 1 ≈ -G."""
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders")
    u = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    d = u.select(
        "cents", F.ntile(10).over(Window.orderBy("cents", "o_custkey")).alias("decile")
    )
    per = d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"), F.sum("cents").alias("cents")
    )
    cum = per.select(
        "decile",
        "n_customers",
        "cents",
        F.sum("cents").over(Window.orderBy("decile")).alias("cum_cents"),
        F.sum("cents").over(Window.partitionBy()).alias("total"),
    )
    return cum.select(
        "decile",
        "n_customers",
        F.col("cents").alias("decile_cents"),
        F.round(F.try_divide(F.col("cum_cents").cast("double"), F.col("total")), 6).alias(
            "cum_share"
        ),
    )




@query(
    "q_interarrival_stats",
    oracle="""
    WITH e AS (
      SELECT event_type, epoch_us(ts) AS us, event_id FROM events
    ),
    g AS (
      SELECT event_type,
             us - lag(us) OVER (PARTITION BY event_type ORDER BY us, event_id) AS gap
      FROM e
    )
    SELECT event_type,
           CAST(count(gap) AS BIGINT) AS n_gaps,
           round(CAST(sum(gap) AS DOUBLE) / count(gap) / 1e6, 4) AS mean_s,
           round(quantile_cont(gap, 0.5) / 1e6, 4) AS p50_s,
           round(quantile_cont(gap, 0.9) / 1e6, 4) AS p90_s,
           round(quantile_cont(gap, 0.99) / 1e6, 4) AS p99_s,
           round(CAST(max(gap) AS DOUBLE) / 1e6, 4) AS max_s
    FROM g WHERE gap IS NOT NULL
    GROUP BY 1
""",
)
def q_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N126: inter-arrival gap profile (the queueing-theory
    arrival-process panel; Little's-law companion to N41's concurrency
    sweep): per event type, exact microsecond gaps between consecutive
    events with mean / P50 / P90 / P99 / max in seconds — burstiness vs
    Poisson-ness at a glance (P99/P50 >> ln(100) says heavy bursts), the
    number that sizes stream buffers and state-store write rates.
    Determinism: gaps are exact BIGINT micros off one keyed lag window
    (ties pinned by event_id); exact sort-based percentile == DuckDB
    quantile_cont bit-for-bit (the q_exact_percentile contract); the mean
    is the exact integer sum to one division. Scale: one shuffle on
    event_type (the q_time_to_convert shape), per-group sort bounded by
    that type's events — swap to the t-digest sketch when a single type
    outgrows a partition (documented)."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    e = ev.select("event_type", F.expr("unix_micros(ts)").alias("us"), "event_id")
    w = Window.partitionBy("event_type").orderBy("us", "event_id")
    g = e.select("event_type", (F.col("us") - F.lag("us").over(w)).alias("gap")).where(
        F.col("gap").isNotNull()
    )
    return g.groupBy("event_type").agg(
        F.count("gap").alias("n_gaps"),
        F.round(F.sum("gap").cast("double") / F.count("gap") / 1e6, 4).alias("mean_s"),
        F.round(F.expr("percentile(gap, 0.5)") / 1e6, 4).alias("p50_s"),
        F.round(F.expr("percentile(gap, 0.9)") / 1e6, 4).alias("p90_s"),
        F.round(F.expr("percentile(gap, 0.99)") / 1e6, 4).alias("p99_s"),
        F.round(F.max("gap").cast("double") / 1e6, 4).alias("max_s"),
    )




@query(
    "q_qini_curve",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_events,
             CASE WHEN ('0x' || substr(md5('ab1:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
                  THEN 1 ELSE 0 END AS treated,
             CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) * 5
                       > count(*) THEN 1 ELSE 0 END AS converted
      FROM events GROUP BY 1
    ),
    s AS (
      SELECT *, ntile(10) OVER (ORDER BY n_events DESC, user_id) AS decile FROM u
    ),
    per AS (
      SELECT decile,
             CAST(count(CASE WHEN treated = 1 THEN 1 END) AS BIGINT) AS n_treat,
             CAST(count(CASE WHEN treated = 1 AND converted = 1 THEN 1 END) AS BIGINT) AS conv_treat,
             CAST(count(CASE WHEN treated = 0 THEN 1 END) AS BIGINT) AS n_ctrl,
             CAST(count(CASE WHEN treated = 0 AND converted = 1 THEN 1 END) AS BIGINT) AS conv_ctrl
      FROM s GROUP BY 1
    ),
    cum AS (
      SELECT decile, n_treat, conv_treat, n_ctrl, conv_ctrl,
             CAST(sum(n_treat) OVER w AS BIGINT) AS nt,
             CAST(sum(conv_treat) OVER w AS BIGINT) AS ct,
             CAST(sum(n_ctrl) OVER w AS BIGINT) AS nc,
             CAST(sum(conv_ctrl) OVER w AS BIGINT) AS cc
      FROM per
      WINDOW w AS (ORDER BY decile)
    )
    SELECT decile, n_treat, conv_treat, n_ctrl, conv_ctrl,
           round(conv_treat * CAST(1 AS DOUBLE) / nullif(n_treat, 0)
                 - conv_ctrl * CAST(1 AS DOUBLE) / nullif(n_ctrl, 0), 6) AS uplift,
           round(ct - cc * CAST(nt AS DOUBLE) / nullif(nc, 0), 4) AS qini
    FROM cum
""",
)
def q_qini_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N127: Qini uplift curve (Radcliffe 2007 — the uplift-model
    evaluation standard) over the q_ab_test experiment: users sorted by a
    targeting score (activity, descending) into deciles; per decile the
    treated/control conversion gap, and cumulatively the Qini value
    ct - cc*Nt/Nc — the incremental conversions the first k deciles
    captured beyond chance. On a RANDOM assignment (the md5 arms) the
    curve's diagonal-ness is itself the sanity check the pytest pins
    (final Qini == the arm-imbalance correction, near 0 relative to
    conversions). Exact integer counts off one user rollup; the only
    floats are the per-decile rate gap and the cumulative Qini division,
    both try_divide-guarded. The users-bounded ntile is the one budgeted
    single-partition exchange (q_stratified_ate stance)."""
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("n_purchase"),
    )
    return qini_tail(u)


def qini_tail(u: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming Qini queries: from a per-user
    (n_events, n_purchase) table (the ab_test_tail state shape), arms,
    conversion, activity deciles, and the cumulative Qini curve."""
    from pyspark.sql.window import Window

    u = u.select(
        "user_id",
        "n_events",
        F.when(
            F.conv(
                F.substring(F.md5(F.concat(F.lit("ab1:"), F.col("user_id").cast("string"))), 1, 8),
                16,
                10,
            ).cast("long")
            % 2
            == 0,
            1,
        )
        .otherwise(0)
        .alias("treated"),
        F.when(F.col("n_purchase") * 5 > F.col("n_events"), 1).otherwise(0).alias("converted"),
    )
    s = u.select(
        "*", F.ntile(10).over(Window.orderBy(F.desc("n_events"), "user_id")).alias("decile")
    )
    per = s.groupBy("decile").agg(
        F.count(F.when(F.col("treated") == 1, 1)).alias("n_treat"),
        F.count(F.when((F.col("treated") == 1) & (F.col("converted") == 1), 1)).alias("conv_treat"),
        F.count(F.when(F.col("treated") == 0, 1)).alias("n_ctrl"),
        F.count(F.when((F.col("treated") == 0) & (F.col("converted") == 1), 1)).alias("conv_ctrl"),
    )
    w = Window.orderBy("decile")
    cum = per.select(
        "decile",
        "n_treat",
        "conv_treat",
        "n_ctrl",
        "conv_ctrl",
        F.sum("n_treat").over(w).alias("nt"),
        F.sum("conv_treat").over(w).alias("ct"),
        F.sum("n_ctrl").over(w).alias("nc"),
        F.sum("conv_ctrl").over(w).alias("cc"),
    )
    return cum.select(
        "decile",
        "n_treat",
        "conv_treat",
        "n_ctrl",
        "conv_ctrl",
        F.round(
            F.try_divide(F.col("conv_treat") * F.lit(1.0), F.col("n_treat"))
            - F.try_divide(F.col("conv_ctrl") * F.lit(1.0), F.col("n_ctrl")),
            6,
        ).alias("uplift"),
        F.round(
            F.col("ct") - F.col("cc") * F.try_divide(F.col("nt").cast("double"), F.col("nc")),
            4,
        ).alias("qini"),
    )




@query(
    "q_kmv_intersection",
    oracle="""
    WITH pairs(ta, tb) AS (VALUES ('view', 'purchase'), ('click', 'view'), ('signup', 'purchase')),
    d AS (SELECT DISTINCT event_type, user_id FROM events),
    h AS (
      SELECT event_type,
             ('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv,
             user_id
      FROM d
    ),
    sides AS (
      SELECT p.ta, p.tb,
             CASE WHEN h.event_type = p.ta THEN 'a' ELSE 'b' END AS side,
             h.hv, h.user_id
      FROM pairs p JOIN h ON h.event_type IN (p.ta, p.tb)
    ),
    exact AS (
      SELECT ta, tb, CAST(count(*) AS BIGINT) AS exact_both FROM (
        SELECT ta, tb, user_id FROM sides GROUP BY 1, 2, 3 HAVING count(DISTINCT side) = 2
      ) GROUP BY 1, 2
    ),
    per_side AS (
      SELECT ta, tb, side, hv,
             row_number() OVER (PARTITION BY ta, tb, side ORDER BY hv) AS rk,
             count(*) OVER (PARTITION BY ta, tb, side) AS nd
      FROM (SELECT DISTINCT ta, tb, side, hv FROM sides)
    ),
    est_side AS (
      SELECT ta, tb, side,
             CASE WHEN max(nd) <= 64 THEN CAST(max(nd) AS DOUBLE)
                  ELSE 63.0 * 1152921504606846976 / max(CASE WHEN rk = 64 THEN hv END) END AS est
      FROM per_side WHERE rk <= 64 GROUP BY 1, 2, 3
    ),
    uni AS (
      SELECT ta, tb, hv,
             row_number() OVER (PARTITION BY ta, tb ORDER BY hv) AS rk,
             count(*) OVER (PARTITION BY ta, tb) AS nd
      FROM (SELECT DISTINCT ta, tb, hv FROM sides)
    ),
    est_uni AS (
      SELECT ta, tb,
             CASE WHEN max(nd) <= 64 THEN CAST(max(nd) AS DOUBLE)
                  ELSE 63.0 * 1152921504606846976 / max(CASE WHEN rk = 64 THEN hv END) END AS est_u
      FROM uni WHERE rk <= 64 GROUP BY 1, 2
    )
    SELECT e.ta || '&' || e.tb AS pair, e.exact_both,
           round(greatest(0.0,
             max(CASE WHEN s.side = 'a' THEN s.est END)
             + max(CASE WHEN s.side = 'b' THEN s.est END) - u.est_u), 4) AS kmv_est,
           round(abs(greatest(0.0,
             max(CASE WHEN s.side = 'a' THEN s.est END)
             + max(CASE WHEN s.side = 'b' THEN s.est END) - u.est_u) - e.exact_both)
             / nullif(e.exact_both, 0), 4) AS rel_err
    FROM exact e
    JOIN est_side s ON s.ta = e.ta AND s.tb = e.tb
    JOIN est_uni u ON u.ta = e.ta AND u.tb = e.tb
    GROUP BY e.ta, e.tb, e.exact_both, u.est_u
""",
)
def q_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N128: KMV set-intersection estimation (Bar-Yossef et al.
    2002 sketches + inclusion-exclusion; Beyer et al. 2007 for the
    intersection refinement) — audience overlap WITHOUT the exact
    distinct pass: |A ∩ B| ≈ est(A) + est(B) - est(A ∪ B), where the
    union estimate comes from MERGING the two bottom-64 sketches (the KMV
    algebra q_kmv_sketch demonstrates for rollups, here doing real set
    arithmetic). Cross-engine EXACT like all the portable sketches: both
    engines derive identical md5 bottom-k sets, so the estimate — not
    just a verdict — hash-matches; exact_both and rel_err sit beside it
    as the accuracy readout (the q_audience_overlap exact panel is the
    contrast: THAT pays a per-pair distinct, this pays 64 longs per
    side). Small sides (nd <= k) estimate exactly; clamped at 0."""
    from pyspark.sql.window import Window

    K = 64
    ev = _t(spark, sf_dir, "events")
    d = ev.select("event_type", "user_id").distinct()
    pairs = d.sparkSession.createDataFrame(
        [("view", "purchase"), ("click", "view"), ("signup", "purchase")], ["ta", "tb"]
    )
    hv = F.conv(
        F.substring(F.md5(F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    h = d.select("event_type", hv.alias("hv"), "user_id")
    sides = (
        F.broadcast(pairs)
        .join(h, h["event_type"].isin("view", "purchase", "click", "signup"))
        .where((F.col("event_type") == F.col("ta")) | (F.col("event_type") == F.col("tb")))
        .select(
            "ta",
            "tb",
            F.when(F.col("event_type") == F.col("ta"), "a").otherwise("b").alias("side"),
            "hv",
            "user_id",
        )
        .localCheckpoint(eager=False)
    )
    exact = (
        sides.groupBy("ta", "tb", "user_id")
        .agg(F.count_distinct("side").alias("ns"))
        .where(F.col("ns") == 2)
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("exact_both"))
    )
    dd = sides.select("ta", "tb", "side", "hv").distinct()
    wps = Window.partitionBy("ta", "tb", "side").orderBy("hv")
    wns = Window.partitionBy("ta", "tb", "side")
    ps = dd.select(
        "ta", "tb", "side", "hv",
        F.row_number().over(wps).alias("rk"),
        F.count(F.lit(1)).over(wns).alias("nd"),
    )
    est_expr = F.when(F.max("nd") <= K, F.max("nd").cast("double")).otherwise(
        F.lit(63.0) * F.lit(float(2**60)) / F.max(F.when(F.col("rk") == K, F.col("hv")))
    )
    est_side = ps.where(F.col("rk") <= K).groupBy("ta", "tb", "side").agg(est_expr.alias("est"))
    du = sides.select("ta", "tb", "hv").distinct()
    wpu = Window.partitionBy("ta", "tb").orderBy("hv")
    wnu = Window.partitionBy("ta", "tb")
    pu = du.select(
        "ta", "tb", "hv",
        F.row_number().over(wpu).alias("rk"),
        F.count(F.lit(1)).over(wnu).alias("nd"),
    )
    est_uni = pu.where(F.col("rk") <= K).groupBy("ta", "tb").agg(est_expr.alias("est_u"))
    wide = (
        est_side.groupBy("ta", "tb")
        .agg(
            F.max(F.when(F.col("side") == "a", F.col("est"))).alias("ea"),
            F.max(F.when(F.col("side") == "b", F.col("est"))).alias("eb"),
        )
        .join(est_uni, ["ta", "tb"])
        .join(exact, ["ta", "tb"])
    )
    inter = F.greatest(F.lit(0.0), F.col("ea") + F.col("eb") - F.col("est_u"))
    return wide.select(
        F.concat(F.col("ta"), F.lit("&"), F.col("tb")).alias("pair"),
        "exact_both",
        F.round(inter, 4).alias("kmv_est"),
        F.round(F.try_divide(F.abs(inter - F.col("exact_both")), F.col("exact_both")), 4).alias(
            "rel_err"
        ),
    )




# Poisson(1) inverse-CDF thresholds (cumulative), 12dp literals shared by
# both engines: P(X<=k) for k=0..4; u above the last -> 5.
_POIS = (0.367879441171, 0.735758882343, 0.919698602929, 0.981011843124, 0.996340153173)
_B = 100


def _pois_case_sql(ucol: str) -> str:
    cases = " ".join(
        f"WHEN {ucol} < {p!r} THEN {k}" for k, p in enumerate(_POIS)
    )
    return f"CASE {cases} ELSE 5 END"



_BOOT_ORACLE = f"""
    WITH u AS (
      SELECT user_id,
             CAST(sum(CASE WHEN event_type = 'purchase'
                           THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS cents
      FROM events GROUP BY 1
    ),
    reps AS (SELECT CAST(range AS INTEGER) AS b FROM range({_B})),
    draws AS (
      SELECT r.b, u.cents,
             ('0x' || substr(md5('boot:' || CAST(r.b AS VARCHAR) || ':' || CAST(u.user_id AS VARCHAR)), 1, 15))::BIGINT
               / 1152921504606846976.0 AS uu
      FROM u, reps r
    ),
    w AS (SELECT b, cents, {_pois_case_sql('uu')} AS wt FROM draws),
    means AS (
      SELECT b,
             CAST(sum(wt * CAST(cents AS HUGEINT)) AS DOUBLE)
               / nullif(CAST(sum(wt) AS BIGINT), 0) AS m
      FROM w GROUP BY 1
    ),
    base AS (
      SELECT CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(cents) AS BIGINT) AS total_cents
      FROM u
    )
    SELECT base.n_users,
           round(CAST(base.total_cents AS DOUBLE) / base.n_users, 4) AS mean_cents,
           CAST(count(m) AS BIGINT) AS n_replicates,
           round(quantile_cont(m, 0.025), 4) AS ci_lo,
           round(quantile_cont(m, 0.975), 4) AS ci_hi
    FROM means, base
    GROUP BY base.n_users, base.total_cents
"""


@query("q_bootstrap_ci", oracle=_BOOT_ORACLE)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N129: distributed Poisson bootstrap confidence interval (Chamandy
    et al. 2012, 'Estimating uncertainty for massive data streams' — the
    bootstrap that works when data cannot be resampled by index): each of
    100 replicates weights every user by a Poisson(1) draw derived from
    md5(replicate:user) through pinned inverse-CDF literals, so both
    engines draw the IDENTICAL resamples — the replicate means hash-match,
    not just the interval. Replicate means are exact integer
    weight*cents sums (decimal-widened) to one division; the 2.5/97.5
    percentiles over the 100-row replicate table are exact sort-based
    (quantile_cont-identical). Scale: the fan-out is 100 x the USER
    rollup (already shrunk from events), embarrassingly parallel, and
    the whole CI machinery never touches raw events twice — the
    textbook-bootstrap alternative (resample event rows B times) is the
    thing this query exists to avoid at 100 TB."""
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase", F.round(F.col("value") * 100).cast("long")
            ).otherwise(F.lit(0))
        ).alias("cents")
    )
    return bootstrap_tail(u)


def bootstrap_tail(u: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming bootstrap queries: from a
    per-user purchase-cents table, the 100 Poisson-weighted replicate
    means and the exact percentile interval."""
    spark = u.sparkSession
    reps = spark.range(_B).select(F.col("id").cast("int").alias("b"))
    uu = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("boot:"),
                        F.col("b").cast("string"),
                        F.lit(":"),
                        F.col("user_id").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(float(2**60))
    )
    draws = u.crossJoin(F.broadcast(reps)).select("b", "cents", uu.alias("uu"))
    wt = F.lit(5)
    for k in range(len(_POIS) - 1, -1, -1):
        wt = F.when(F.col("uu") < _POIS[k], F.lit(k)).otherwise(wt)
    w = draws.select("b", "cents", wt.alias("wt"))
    means = w.groupBy("b").agg(
        F.try_divide(
            F.sum(F.col("wt") * F.col("cents").cast("decimal(38,0)")).cast("double"),
            F.sum("wt"),
        ).alias("m")
    )
    base = u.agg(
        F.count(F.lit(1)).alias("n_users"), F.sum("cents").alias("total_cents")
    )
    ci = means.agg(
        F.count("m").alias("n_replicates"),
        F.round(F.expr("percentile(m, 0.025)"), 4).alias("ci_lo"),
        F.round(F.expr("percentile(m, 0.975)"), 4).alias("ci_hi"),
    )
    return base.crossJoin(F.broadcast(ci)).select(
        "n_users",
        F.round(F.col("total_cents").cast("double") / F.col("n_users"), 4).alias("mean_cents"),
        "n_replicates",
        "ci_lo",
        "ci_hi",
    )




@query(
    "q_shapley_attribution",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n,
             CASE WHEN 5 * sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) > count(*) THEN 1 ELSE 0 END AS ec,
             CASE WHEN 5 * sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) > count(*) THEN 1 ELSE 0 END AS ev,
             CASE WHEN 5 * sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) > count(*) THEN 1 ELSE 0 END AS es,
             CASE WHEN 5 * sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > count(*) THEN 1 ELSE 0 END AS converted
      FROM events GROUP BY 1
    ),
    g AS (
      SELECT ec, ev, es,
             CAST(count(*) AS BIGINT) AS nu,
             CAST(sum(converted) AS BIGINT) AS conv
      FROM u GROUP BY 1, 2, 3
    ),
    wide AS (
      SELECT
        coalesce(max(CASE WHEN ec=0 AND ev=0 AND es=0 THEN conv * CAST(1 AS DOUBLE) / nu END), 0.0) AS r000,
        coalesce(max(CASE WHEN ec=1 AND ev=0 AND es=0 THEN conv * CAST(1 AS DOUBLE) / nu END), 0.0) AS r100,
        coalesce(max(CASE WHEN ec=0 AND ev=1 AND es=0 THEN conv * CAST(1 AS DOUBLE) / nu END), 0.0) AS r010,
        coalesce(max(CASE WHEN ec=0 AND ev=0 AND es=1 THEN conv * CAST(1 AS DOUBLE) / nu END), 0.0) AS r001,
        coalesce(max(CASE WHEN ec=1 AND ev=1 AND es=0 THEN conv * CAST(1 AS DOUBLE) / nu END), 0.0) AS r110,
        coalesce(max(CASE WHEN ec=1 AND ev=0 AND es=1 THEN conv * CAST(1 AS DOUBLE) / nu END), 0.0) AS r101,
        coalesce(max(CASE WHEN ec=0 AND ev=1 AND es=1 THEN conv * CAST(1 AS DOUBLE) / nu END), 0.0) AS r011,
        coalesce(max(CASE WHEN ec=1 AND ev=1 AND es=1 THEN conv * CAST(1 AS DOUBLE) / nu END), 0.0) AS r111,
        coalesce(max(CASE WHEN ec=1 THEN 1 END), 0) AS dummy
      FROM g
    ),
    exposed AS (
      SELECT 'click' AS channel, CAST(coalesce(sum(CASE WHEN ec=1 THEN nu END), 0) AS BIGINT) AS n_exposed FROM g
      UNION ALL
      SELECT 'view', CAST(coalesce(sum(CASE WHEN ev=1 THEN nu END), 0) AS BIGINT) FROM g
      UNION ALL
      SELECT 'signup', CAST(coalesce(sum(CASE WHEN es=1 THEN nu END), 0) AS BIGINT) FROM g
    ),
    shap AS (
      SELECT 'click' AS channel,
             (r100 - r000) / 3.0 + (r110 - r010) / 6.0 + (r101 - r001) / 6.0 + (r111 - r011) / 3.0 AS s
      FROM wide
      UNION ALL
      SELECT 'view',
             (r010 - r000) / 3.0 + (r110 - r100) / 6.0 + (r011 - r001) / 6.0 + (r111 - r101) / 3.0
      FROM wide
      UNION ALL
      SELECT 'signup',
             (r001 - r000) / 3.0 + (r101 - r100) / 6.0 + (r011 - r010) / 6.0 + (r111 - r110) / 3.0
      FROM wide
    )
    SELECT s.channel, e.n_exposed, round(s.s, 6) AS shapley_value
    FROM shap s JOIN exposed e ON e.channel = s.channel
""",
)
def q_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N130: Shapley-value channel attribution (Shapley 1953; data-driven
    marketing form of Zhao et al. 2018) — the game-theoretic successor to
    q_linear_attribution's equal split: channels = above-uniform exposure
    to click/view/signup (the exact integer 5*n_c > n contrast), coalition
    value v(S) = conversion rate of users with exposure set EXACTLY S, and
    each channel's value is the exact 3-player Shapley sum (weights 1/3,
    1/6, 1/6, 1/3). The efficiency axiom — SUM of the three values ==
    v(grand) - v(empty) — is pinned in pytest, so the attribution provably
    allocates exactly the full lift. All 8 coalition rates come from ONE
    user rollup + an 8-row aggregate (empty coalitions pinned to 0.0,
    documented); the exposure/conversion contrasts are exact integers, the
    rates one division each, the Shapley arithmetic a shared literal
    expression tree."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(f"n_{t}")
            for t in ("click", "view", "signup", "purchase")
        ],
    )
    return shapley_tail(counts)


def shapley_tail(counts: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming Shapley queries: from a
    per-user (n, n_click, n_view, n_signup, n_purchase) count table,
    exposure flags, coalition rates, and the exact 3-player Shapley sums."""

    def flag(t):
        return F.when(5 * F.col(f"n_{t}") > F.col("n"), 1).otherwise(0)

    u = counts.select(
        flag("click").alias("ec"),
        flag("view").alias("ev"),
        flag("signup").alias("es"),
        flag("purchase").alias("converted"),
    )
    g = u.groupBy("ec", "ev", "es").agg(
        F.count(F.lit(1)).alias("nu"), F.sum("converted").alias("conv")
    ).localCheckpoint(eager=False)

    def r(ec, ev_, es):
        return F.coalesce(
            F.max(
                F.when(
                    (F.col("ec") == ec) & (F.col("ev") == ev_) & (F.col("es") == es),
                    F.col("conv") * F.lit(1.0) / F.col("nu"),
                )
            ),
            F.lit(0.0),
        )

    wide = g.agg(
        r(0, 0, 0).alias("r000"), r(1, 0, 0).alias("r100"), r(0, 1, 0).alias("r010"),
        r(0, 0, 1).alias("r001"), r(1, 1, 0).alias("r110"), r(1, 0, 1).alias("r101"),
        r(0, 1, 1).alias("r011"), r(1, 1, 1).alias("r111"),
    )
    # ONE aggregate each for exposure counts and Shapley terms, unpivoted
    # with stack — two budgeted one-row exchanges over the 8-row coalition
    # table instead of six
    exposed = g.agg(
        F.coalesce(F.sum(F.when(F.col("ec") == 1, F.col("nu"))), F.lit(0)).alias("x_click"),
        F.coalesce(F.sum(F.when(F.col("ev") == 1, F.col("nu"))), F.lit(0)).alias("x_view"),
        F.coalesce(F.sum(F.when(F.col("es") == 1, F.col("nu"))), F.lit(0)).alias("x_signup"),
    ).select(
        F.expr(
            "stack(3, 'click', x_click, 'view', x_view, 'signup', x_signup)"
            " AS (channel, n_exposed)"
        )
    )
    c = F.col
    s_click = ((c("r100") - c("r000")) / 3.0 + (c("r110") - c("r010")) / 6.0
               + (c("r101") - c("r001")) / 6.0 + (c("r111") - c("r011")) / 3.0)
    s_view = ((c("r010") - c("r000")) / 3.0 + (c("r110") - c("r100")) / 6.0
              + (c("r011") - c("r001")) / 6.0 + (c("r111") - c("r101")) / 3.0)
    s_signup = ((c("r001") - c("r000")) / 3.0 + (c("r101") - c("r100")) / 6.0
                + (c("r011") - c("r010")) / 6.0 + (c("r111") - c("r110")) / 3.0)
    shap = wide.select(
        s_click.alias("s_click"), s_view.alias("s_view"), s_signup.alias("s_signup")
    ).select(
        F.expr(
            "stack(3, 'click', s_click, 'view', s_view, 'signup', s_signup) AS (channel, s)"
        )
    )
    return shap.join(F.broadcast(exposed), "channel").select(
        "channel", "n_exposed", F.round(F.col("s"), 6).alias("shapley_value")
    )




@query(
    "q_mann_whitney",
    oracle="""
    WITH daily AS (
      SELECT event_type, epoch_ms(ts) // 86400000 AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    g AS (
      SELECT event_type,
             CASE WHEN (day + 3) % 7 + 1 >= 6 THEN 1 ELSE 0 END AS we,
             cents
      FROM daily
    ),
    rk AS (
      SELECT event_type, we, cents,
             rank() OVER (PARTITION BY event_type ORDER BY cents) AS rmin,
             count(*) OVER (PARTITION BY event_type, cents) AS t
      FROM g
    ),
    agg AS (
      SELECT event_type,
             CAST(count(CASE WHEN we = 0 THEN 1 END) AS BIGINT) AS n1,
             CAST(count(CASE WHEN we = 1 THEN 1 END) AS BIGINT) AS n2,
             CAST(sum(CASE WHEN we = 1 THEN 2 * rmin + t - 1 ELSE 0 END) AS BIGINT) AS r2x2
      FROM rk GROUP BY 1
    ),
    ties AS (
      SELECT event_type, CAST(sum(t * t * t - t) AS BIGINT) AS tie_cube
      FROM (SELECT event_type, cents, CAST(count(*) AS BIGINT) AS t FROM g GROUP BY 1, 2)
      GROUP BY 1
    ),
    stat AS (
      SELECT a.event_type, a.n1, a.n2,
             a.r2x2 - a.n2 * (a.n2 + 1) AS u2x2,
             a.n1 + a.n2 AS n,
             t.tie_cube
      FROM agg a JOIN ties t ON t.event_type = a.event_type
    ),
    z AS (
      SELECT event_type, n1, n2, u2x2,
             (u2x2 - n1 * n2)
               / (2.0 * sqrt(
                   n1 * CAST(n2 AS DOUBLE) / 12.0
                   * ((n + 1) - CAST(tie_cube AS DOUBLE) / (n * (n - 1))))) AS zraw,
             CAST(u2x2 AS DOUBLE) / (n1 * n2) - 1.0 AS delta
      FROM stat
    )
    SELECT event_type, n1 AS n_weekday, n2 AS n_weekend,
           u2x2 AS u_weekend_x2,
           round(zraw, 4) AS z_stat,
           round(delta, 6) AS cliffs_delta,
           CASE WHEN zraw IS NULL OR isnan(zraw) THEN 'n/a'
                WHEN abs(zraw) > 1.96 THEN 'true' ELSE 'false' END AS weekend_shift
    FROM z
""",
)
def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N131: Mann-Whitney U rank-sum test (Mann & Whitney 1947) with
    Cliff's delta (1993) for the weekend effect — the NONPARAMETRIC twin of
    q_welch_ttest (N116): rank-based, so a single whale day cannot move it
    where Welch's means swing, and delta = 2U/(n1*n2) - 1 is the
    effect-size readout (P(weekend>weekday) - P(<)). EXACT-INTEGER rank
    machinery: midranks are kept DOUBLED (2*rank_min + t - 1, BIGINT), so
    the doubled rank sum, the doubled U, and the tie-correction cube sum
    are all exact; the only floats are the tie-corrected variance and the
    final z/delta divisions, identical trees both engines. A group with
    zero variance (every day tied) gives sqrt(0) -> z NaN/NULL -> the 'n/a'
    string verdict (the nullable-boolean canon lesson). Scale: rides the
    daily rollup; two keyed windows + types-bounded arithmetic."""
    from pyspark.sql.window import Window

    daily = _daily_cents_by_type(spark, sf_dir)
    return mann_whitney_tail(daily)


def mann_whitney_tail(daily: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming Mann-Whitney queries: exact
    doubled-midrank U, tie-corrected z, and Cliff's delta over a
    (event_type, day, cents) daily table."""
    from pyspark.sql.window import Window

    g = daily.select(
        "event_type",
        F.when((F.col("day") + 3) % 7 + 1 >= 6, 1).otherwise(0).alias("we"),
        "cents",
    )
    wr = Window.partitionBy("event_type").orderBy("cents")
    wt = Window.partitionBy("event_type", "cents")
    rk = g.select(
        "event_type",
        "we",
        "cents",
        F.rank().over(wr).alias("rmin"),
        F.count(F.lit(1)).over(wt).alias("t"),
    )
    agg = rk.groupBy("event_type").agg(
        F.count(F.when(F.col("we") == 0, 1)).alias("n1"),
        F.count(F.when(F.col("we") == 1, 1)).alias("n2"),
        F.sum(
            F.when(F.col("we") == 1, 2 * F.col("rmin") + F.col("t") - 1).otherwise(0)
        ).alias("r2x2"),
    )
    ties = (
        g.groupBy(F.col("event_type").alias("tet"), "cents")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("tet")
        .agg(F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("tie_cube"))
    )
    st = agg.join(ties, F.col("event_type") == F.col("tet")).select(
        "event_type",
        "n1",
        "n2",
        (F.col("r2x2") - F.col("n2") * (F.col("n2") + 1)).alias("u2x2"),
        (F.col("n1") + F.col("n2")).alias("n"),
        "tie_cube",
    )
    var = (
        F.col("n1") * F.col("n2").cast("double") / 12.0
        # try_divide: n = 1 (a single daily row for the type) makes
        # n*(n-1) = 0; DuckDB's /0 -> NULL already matches, and the NULL
        # propagates through var -> zraw -> the 'n/a' string verdict.
        * ((F.col("n") + 1) - F.try_divide(F.col("tie_cube").cast("double"), F.col("n") * (F.col("n") - 1)))
    )
    zraw = F.try_divide(F.col("u2x2") - F.col("n1") * F.col("n2"), 2.0 * F.sqrt(var))
    delta = F.try_divide(F.col("u2x2").cast("double"), F.col("n1") * F.col("n2")) - 1.0
    return st.select(
        "event_type",
        F.col("n1").alias("n_weekday"),
        F.col("n2").alias("n_weekend"),
        F.col("u2x2").alias("u_weekend_x2"),
        F.round(zraw, 4).alias("z_stat"),
        F.round(delta, 6).alias("cliffs_delta"),
        F.when(zraw.isNull() | F.isnan(zraw), F.lit("n/a"))
        .when(F.abs(zraw) > 1.96, F.lit("true"))
        .otherwise(F.lit("false"))
        .alias("weekend_shift"),
    )




@query(
    "q_markov_entropy_rate",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    m AS (
      SELECT event_type AS i, next_type AS j, CAST(count(*) AS BIGINT) AS nij
      FROM o WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    ),
    ri AS (SELECT i, CAST(sum(nij) AS BIGINT) AS ni FROM m GROUP BY 1),
    tot AS (SELECT CAST(sum(nij) AS BIGINT) AS nn FROM m),
    terms AS (
      SELECT m.i, m.j, m.nij, ri.ni, tot.nn,
             m.nij * ln(CAST(ri.ni AS DOUBLE) / m.nij) AS cond_term,
             m.nij * ln(CAST(tot.nn AS DOUBLE) / ri.ni) AS marg_term
      FROM m JOIN ri ON ri.i = m.i, tot
    ),
    folded AS (
      SELECT max(nn) AS nn,
             list_reduce(list_prepend(0.0, list(cond_term ORDER BY i, j)),
                         (a, x) -> a + x) AS cond_sum,
             list_reduce(list_prepend(0.0, list(marg_term ORDER BY i, j)),
                         (a, x) -> a + x) AS marg_sum
      FROM terms
    )
    SELECT CAST(nn AS BIGINT) AS n_transitions,
           round(marg_sum / nn, 4) AS h_marginal_nats,
           round(cond_sum / nn, 4) AS h_conditional_nats,
           round((marg_sum - cond_sum) / nn, 4) AS predictability_gain_nats
    FROM folded
""",
)
def q_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N132: Markov entropy rate of the user-journey chain (Shannon;
    the predictability ceiling of Song et al. 2010): from N40's transition
    counts, the conditional entropy H(next|cur) = SUM n_ij*ln(n_i/n_ij)/N
    vs the marginal H(cur), and their gap — the information one step of
    context buys a next-action model (near-zero gap = journeys are
    memoryless, sequence features are worthless; large gap = invest in
    sequential models). Exact integer counts; both entropy sums fold in
    sorted (i,j) order (the float-sum discipline); two one-row aggregates
    over the types^2-bounded matrix. The sequence-level companion to
    q_mutual_information (type vs hour) and q_corpus_entropy (tokens)."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select("user_id", "event_type", F.lead("event_type").over(w).alias("next_type"))
    m = (
        o.where(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("i"), F.col("next_type").alias("j"))
        .agg(F.count(F.lit(1)).alias("nij"))
        .localCheckpoint(eager=False)
    )
    ri = m.groupBy(F.col("i").alias("ri_i")).agg(F.sum("nij").alias("ni"))
    tot = m.agg(F.sum("nij").alias("nn"))
    # the marginal fold rides the SAME (i,j) rows: SUM_j nij == ni, so
    # SUM_ij nij*ln(nn/ni) == SUM_i ni*ln(nn/ni) — one aggregate, not three
    terms = m.join(F.broadcast(ri), F.col("i") == F.col("ri_i")).crossJoin(F.broadcast(tot)).select(
        "i",
        "j",
        "nij",
        "ni",
        "nn",
        (F.col("nij") * F.log(F.col("ni").cast("double") / F.col("nij"))).alias("cond_term"),
        (F.col("nij") * F.log(F.col("nn").cast("double") / F.col("ni"))).alias("marg_term"),
    )
    folded = terms.agg(
        F.max("nn").alias("nn"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "j", F.col("cond_term").alias("v")))),
                lambda t: t["v"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("cond_sum"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "j", F.col("marg_term").alias("v")))),
                lambda t: t["v"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("marg_sum"),
    )
    return folded.select(
        F.col("nn").alias("n_transitions"),
        F.round(F.col("marg_sum") / F.col("nn"), 4).alias("h_marginal_nats"),
        F.round(F.col("cond_sum") / F.col("nn"), 4).alias("h_conditional_nats"),
        F.round((F.col("marg_sum") - F.col("cond_sum")) / F.col("nn"), 4).alias(
            "predictability_gain_nats"
        ),
    )




@query(
    "q_block_maxima",
    oracle="""
    WITH daily AS (
      SELECT epoch_ms(ts) // 86400000 AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1
    ),
    wk AS (
      SELECT day // 7 AS week, CAST(max(cents) AS BIGINT) AS mx
      FROM daily GROUP BY 1
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n_blocks,
             CAST(sum(mx) AS BIGINT) AS sm,
             CAST(sum(mx * CAST(mx AS HUGEINT)) AS DOUBLE) AS qm,
             CAST(max(mx) AS BIGINT) AS observed_max
      FROM wk
    ),
    fit AS (
      SELECT n_blocks, sm, observed_max,
             CAST(sm AS DOUBLE) / n_blocks AS mean_mx,
             sqrt((qm - CAST(sm AS DOUBLE) * sm / n_blocks) / (n_blocks - 1)) AS sd_mx
      FROM m
    ),
    p AS (
      SELECT n_blocks, observed_max, mean_mx, sd_mx,
             sd_mx * 0.7796968012336761 AS beta,
             mean_mx - sd_mx * 0.7796968012336761 * 0.5772156649015329 AS mu
      FROM fit
    )
    SELECT n_blocks, observed_max,
           round(mean_mx, 4) AS mean_weekly_max,
           round(mu, 4) AS gumbel_mu,
           round(beta, 4) AS gumbel_beta,
           round(1.0 - exp(-exp(-(1.5 * observed_max - mu) / beta)), 6)
             AS p_exceed_150pct,
           round(mu - beta * (-3.9415503865226063), 4) AS one_year_return_level
    FROM p
""",
)
def q_block_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N133: Gumbel block-maxima fit (Fisher-Tippett 1928, Gumbel 1958 —
    the EVT complement to N122's Hill index: Hill reads the tail of
    VALUES, this reads the distribution of maxima over TIME): weekly
    maximum daily revenue fitted by moments (beta = sd*sqrt(6)/pi, mu =
    mean - gamma*beta, constants pinned to 16 digits like the Poisson
    thresholds), the exceedance probability of a 1.5x-record week, and
    the 52-week return level — capacity-planning numbers (how big a
    spike must the pipeline absorb once a year?). Block maxima are exact
    integer cents; the moment fit uses decimal-widened squares to one
    sqrt; single-block series pin NULL through try_divide. Scale: two
    bounded rollups (days, then weeks) after the one corpus exchange."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.expr("unix_millis(ts) div 86400000").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    )
    wk = daily.groupBy(F.expr("day div 7").alias("week")).agg(F.max("cents").alias("mx"))
    m = wk.agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum("mx").alias("sm"),
        F.sum(F.col("mx") * F.col("mx").cast("decimal(38,0)")).cast("double").alias("qm"),
        F.max("mx").alias("observed_max"),
    )
    mean_mx = F.col("sm").cast("double") / F.col("n_blocks")
    sd_mx = F.sqrt(
        F.try_divide(
            F.col("qm") - F.try_divide(F.col("sm").cast("double") * F.col("sm"), F.col("n_blocks")),
            F.col("n_blocks") - 1,
        )
    )
    fit = m.select(
        "n_blocks", "observed_max", mean_mx.alias("mean_mx"), sd_mx.alias("sd_mx")
    )
    beta = F.col("sd_mx") * 0.7796968012336761
    mu = F.col("mean_mx") - beta * 0.5772156649015329
    p = fit.select("n_blocks", "observed_max", "mean_mx", beta.alias("beta"), mu.alias("mu"))
    return p.select(
        "n_blocks",
        "observed_max",
        F.round(F.col("mean_mx"), 4).alias("mean_weekly_max"),
        F.round(F.col("mu"), 4).alias("gumbel_mu"),
        F.round(F.col("beta"), 4).alias("gumbel_beta"),
        F.round(
            # try_divide: a constant weekly-max series gives sd = 0 ->
            # beta = 0.0; DuckDB's /0 -> NULL matches, and the NULL rides
            # exp/round into a NULL probability instead of an ANSI crash.
            1.0 - F.exp(-F.exp(-F.try_divide(1.5 * F.col("observed_max") - F.col("mu"), F.col("beta")))),
            6,
        ).alias("p_exceed_150pct"),
        # ln(-ln(51/52)) pinned as a literal (the Poisson-threshold
        # discipline) so both engines multiply the identical double
        F.round(F.col("mu") - F.col("beta") * F.lit(-3.9415503865226063), 4).alias(
            "one_year_return_level"
        ),
    )




@query(
    "q_overdispersion",
    oracle="""
    WITH u AS (
      SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(c) AS BIGINT) AS sc,
             CAST(sum(c * CAST(c AS HUGEINT)) AS DOUBLE) AS qc
      FROM u GROUP BY 1
    ),
    s AS (
      SELECT event_type, n_users,
             CAST(sc AS DOUBLE) / n_users AS mean_c,
             (qc - CAST(sc AS DOUBLE) * sc / n_users) / (n_users - 1) AS var_c
      FROM m
    )
    SELECT event_type, n_users,
           round(mean_c, 4) AS mean_per_user,
           round(var_c, 4) AS var_per_user,
           round(var_c / mean_c, 4) AS dispersion_index,
           CASE WHEN var_c / mean_c IS NULL THEN 'n/a'
                WHEN var_c / mean_c > 1.0 + 2.0 * sqrt(2.0 / (n_users - 1)) THEN 'overdispersed'
                WHEN var_c / mean_c < 1.0 - 2.0 * sqrt(2.0 / (n_users - 1)) THEN 'underdispersed'
                ELSE 'poisson_like' END AS verdict
    FROM s
""",
)
def q_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N134: overdispersion audit (Fisher's dispersion index
    var/mean; Cox 1983) of per-user event counts — the distributional
    assumption check UNDER the experiment family: q_ab_test and
    q_power_analysis implicitly price variance, and an index far above 1
    (negative-binomial-like burstiness, bots, power users) means Poisson
    intuitions and naive sample-size math understate noise. Exact integer
    count moments (decimal-widened squares) to two divisions; the verdict
    band is the null sd of the index (~sqrt(2/(n-1))) at 2 sigmas, emitted
    as a STRING (the nullable-verdict canon lesson — n/a on single-user
    types). One (type, user) rollup then types-bounded arithmetic — the
    q_ab_test exchange shape."""
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("c"))
    m = u.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("c").alias("sc"),
        F.sum(F.col("c") * F.col("c").cast("decimal(38,0)")).cast("double").alias("qc"),
    )
    mean_c = F.col("sc").cast("double") / F.col("n_users")
    var_c = F.try_divide(
        F.col("qc") - F.try_divide(F.col("sc").cast("double") * F.col("sc"), F.col("n_users")),
        F.col("n_users") - 1,
    )
    s = m.select("event_type", "n_users", mean_c.alias("mean_c"), var_c.alias("var_c"))
    idx = F.try_divide(F.col("var_c"), F.col("mean_c"))
    band = 2.0 * F.sqrt(F.try_divide(F.lit(2.0), F.col("n_users") - 1))
    return s.select(
        "event_type",
        "n_users",
        F.round(F.col("mean_c"), 4).alias("mean_per_user"),
        F.round(F.col("var_c"), 4).alias("var_per_user"),
        F.round(idx, 4).alias("dispersion_index"),
        F.when(idx.isNull(), F.lit("n/a"))
        .when(idx > 1.0 + band, F.lit("overdispersed"))
        .when(idx < 1.0 - band, F.lit("underdispersed"))
        .otherwise(F.lit("poisson_like"))
        .alias("verdict"),
    )




@query(
    "q_spearman",
    oracle="""
    WITH daily AS (
      SELECT event_type, epoch_ms(ts) // 86400000 AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE event_type IN ('view', 'purchase') GROUP BY 1, 2
    ),
    x AS (SELECT day, cents AS xc FROM daily WHERE event_type = 'view'),
    y AS (SELECT day, cents AS yc FROM daily WHERE event_type = 'purchase'),
    j AS (SELECT x.day, x.xc, y.yc FROM x JOIN y ON y.day = x.day),
    rk AS (
      SELECT day,
             2 * rank() OVER (ORDER BY xc) + count(*) OVER (PARTITION BY xc) - 1 AS rx2,
             2 * rank() OVER (ORDER BY yc) + count(*) OVER (PARTITION BY yc) - 1 AS ry2
      FROM j
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n_days,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(rx2) AS DOUBLE) AS sx,
             CAST(sum(ry2) AS DOUBLE) AS sy,
             CAST(sum(rx2 * CAST(rx2 AS HUGEINT)) AS DOUBLE) AS sxx,
             CAST(sum(ry2 * CAST(ry2 AS HUGEINT)) AS DOUBLE) AS syy,
             CAST(sum(rx2 * CAST(ry2 AS HUGEINT)) AS DOUBLE) AS sxy
      FROM rk
    )
    SELECT n_days,
           round((n * sxy - sx * sy)
                 / (sqrt(greatest(0, n * sxx - sx * sx)) * sqrt(greatest(0, n * syy - sy * sy))),
                 6) AS spearman_rho
    FROM m
""",
)
def q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N135: Spearman rank correlation (Spearman 1904) between view
    and purchase daily revenue — the monotone-association companion to
    N108's Pearson CCF at lag 0: rank-based, so one whale day cannot
    manufacture correlation, and any monotone (not just linear) coupling
    registers. EXACT rank machinery: doubled midranks (2*rank + t - 1,
    the N131 trick) keep every moment sum an exact integer
    (decimal-widened), and rho is Pearson-on-ranks through the shared
    corr_from_moments tree — 6dp can never flip across engines or
    partition orders. Constant series pin NULL via try_divide. Scale:
    the two global rank windows run on the days-bounded joined series
    (budgeted single-partition — the advisor stance); everything else is
    the daily rollup everyone pays."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("event_type").isin("view", "purchase"))
        .groupBy("event_type", F.expr("unix_millis(ts) div 86400000").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    )
    x = daily.where(F.col("event_type") == "view").select(
        F.col("day").alias("xday"), F.col("cents").alias("xc")
    )
    y = daily.where(F.col("event_type") == "purchase").select(
        F.col("day").alias("yday"), F.col("cents").alias("yc")
    )
    j = x.join(y, F.col("yday") == F.col("xday")).select(
        F.col("xday").alias("day"), "xc", "yc"
    )
    rk = j.select(
        "day",
        (2 * F.rank().over(Window.orderBy("xc")) + F.count(F.lit(1)).over(Window.partitionBy("xc")) - 1).alias("rx2"),
        (2 * F.rank().over(Window.orderBy("yc")) + F.count(F.lit(1)).over(Window.partitionBy("yc")) - 1).alias("ry2"),
    )
    m = rk.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("rx2").cast("double").alias("sx"),
        F.sum("ry2").cast("double").alias("sy"),
        F.sum(F.col("rx2") * F.col("rx2").cast("decimal(38,0)")).cast("double").alias("sxx"),
        F.sum(F.col("ry2") * F.col("ry2").cast("decimal(38,0)")).cast("double").alias("syy"),
        F.sum(F.col("rx2") * F.col("ry2").cast("decimal(38,0)")).cast("double").alias("sxy"),
    )
    return m.select(
        "n_days",
        F.round(
            relational.corr_from_moments(
                F.col("n"), F.col("sx"), F.col("sy"), F.col("sxx"), F.col("syy"), F.col("sxy")
            ),
            6,
        ).alias("spearman_rho"),
    )



@query(
    "q_kendall_tau",
    oracle="""
    WITH daily AS (
      SELECT event_type, epoch_ms(ts) // 86400000 AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE event_type IN ('view', 'purchase') GROUP BY 1, 2
    ),
    x AS (SELECT day, cents AS xc FROM daily WHERE event_type = 'view'),
    y AS (SELECT day, cents AS yc FROM daily WHERE event_type = 'purchase'),
    j AS (SELECT x.day, x.xc, y.yc FROM x JOIN y ON y.day = x.day),
    p AS (
      SELECT CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(CASE WHEN (a.xc - b.xc) * (a.yc - b.yc) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
             CAST(sum(CASE WHEN (a.xc - b.xc) * (a.yc - b.yc) < 0 THEN 1 ELSE 0 END) AS BIGINT) AS nd
      FROM j a JOIN j b ON a.day < b.day
    ),
    tx AS (SELECT CAST(coalesce(sum(t * (t - 1) // 2), 0) AS BIGINT) AS n1
           FROM (SELECT count(*)::BIGINT AS t FROM j GROUP BY xc)),
    ty AS (SELECT CAST(coalesce(sum(t * (t - 1) // 2), 0) AS BIGINT) AS n2
           FROM (SELECT count(*)::BIGINT AS t FROM j GROUP BY yc)),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
                  count(*)::BIGINT * (count(*) - 1) // 2 AS n0 FROM j)
    SELECT nn.n_days, coalesce(p.nc, 0) AS n_concordant, coalesce(p.nd, 0) AS n_discordant,
           round((coalesce(p.nc, 0) - coalesce(p.nd, 0))
                 / sqrt(CAST((nn.n0 - tx.n1) AS DOUBLE) * (nn.n0 - ty.n2)), 6) AS tau_b
    FROM nn, tx, ty LEFT JOIN p ON TRUE
""",
)
def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N136: Kendall tau-b rank correlation (Kendall 1938) between view
    and purchase daily revenue — the third leg of the association family
    (N108 Pearson CCF = linear, N135 Spearman = monotone-by-ranks,
    tau-b = pairwise concordance with PROPER tie handling in the
    denominator, which Spearman's midranks only approximate). EXACT
    INTEGER machinery end-to-end: concordant/discordant pair counts from
    one day<day self-join, tie corrections n1/n2 from per-value count
    rollups, and ONE final division under try_divide (all-tied series
    pin NULL). Scale: the pair join is O(days^2) bounded by the TIME
    dimension per series — the documented q_theil_sen/q_ewma_smooth
    trade — after the daily rollup everyone pays; never event-level."""
    daily = _daily_cents_by_type(spark, sf_dir).where(
        F.col("event_type").isin("view", "purchase")
    )
    return kendall_tau_tail(daily)


def kendall_tau_tail(daily: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming Kendall queries over a
    (event_type, day, cents) daily table filtered to view/purchase."""
    x = daily.where(F.col("event_type") == "view").select(
        F.col("day").alias("xday"), F.col("cents").alias("xc")
    )
    y = daily.where(F.col("event_type") == "purchase").select(
        F.col("day").alias("yday"), F.col("cents").alias("yc")
    )
    j = x.join(y, F.col("yday") == F.col("xday")).select(
        F.col("xday").alias("day"), "xc", "yc"
    )
    a = j.select(F.col("day").alias("da"), F.col("xc").alias("xa"), F.col("yc").alias("ya"))
    b = j.select(F.col("day").alias("db"), F.col("xc").alias("xb"), F.col("yc").alias("yb"))
    prod = (F.col("xa") - F.col("xb")) * (F.col("ya") - F.col("yb"))
    p = a.join(b, F.col("da") < F.col("db")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(prod > 0, 1).otherwise(0)).alias("nc"),
        F.sum(F.when(prod < 0, 1).otherwise(0)).alias("nd"),
    )
    tx = (
        j.groupBy("xc").agg(F.count(F.lit(1)).alias("t"))
        .agg(F.coalesce(F.sum(F.expr("t * (t - 1) div 2")), F.lit(0)).alias("n1"))
    )
    ty = (
        j.groupBy("yc").agg(F.count(F.lit(1)).alias("t"))
        .agg(F.coalesce(F.sum(F.expr("t * (t - 1) div 2")), F.lit(0)).alias("n2"))
    )
    nn = j.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.expr("count(1) * (count(1) - 1) div 2").alias("n0"),
    )
    out = (
        nn.crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .join(F.broadcast(p), F.lit(True), "left")
    )
    return out.select(
        "n_days",
        F.coalesce(F.col("nc"), F.lit(0)).alias("n_concordant"),
        F.coalesce(F.col("nd"), F.lit(0)).alias("n_discordant"),
        # try_divide: a fully-tied series makes both tie-corrected pair
        # counts zero; DuckDB's /0 -> NULL matches.
        F.round(
            F.try_divide(
                F.coalesce(F.col("nc"), F.lit(0)) - F.coalesce(F.col("nd"), F.lit(0)),
                F.sqrt((F.col("n0") - F.col("n1")).cast("double") * (F.col("n0") - F.col("n2"))),
            ),
            6,
        ).alias("tau_b"),
    )


@query(
    "q_pettitt_changepoint",
    oracle="""
    WITH daily AS (
      SELECT event_type, epoch_ms(ts) // 86400000 AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    d AS (
      SELECT a.event_type, a.day,
             CAST(sum(CASE WHEN a.cents > b.cents THEN 1
                           WHEN a.cents < b.cents THEN -1 ELSE 0 END) AS BIGINT) AS dsum
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type AND b.day <> a.day
      GROUP BY 1, 2
    ),
    u AS (
      SELECT event_type, day,
             CAST(sum(dsum) OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS ut,
             count(*) OVER (PARTITION BY event_type) AS n_days
      FROM d
    ),
    u2 AS (
      SELECT *, max(abs(ut)) OVER (PARTITION BY event_type) AS kmax FROM u
    ),
    k AS (
      SELECT event_type, CAST(max(n_days) AS BIGINT) AS n_days,
             CAST(max(kmax) AS BIGINT) AS k_stat,
             CAST(min(CASE WHEN abs(ut) = kmax THEN day END) AS BIGINT) AS change_day
      FROM u2 GROUP BY event_type
    )
    SELECT event_type, n_days, k_stat, change_day,
           round(least(1.0, 2.0 * exp(
             -6.0 * k_stat * CAST(k_stat AS DOUBLE)
             / (CAST(n_days AS DOUBLE) * n_days * n_days + CAST(n_days AS DOUBLE) * n_days))), 6)
             AS p_approx
    FROM k
""",
)
def q_pettitt_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N139: Pettitt rank changepoint test (Pettitt 1979) per event type —
    the NONPARAMETRIC complement to N53's CUSUM (which localizes a LEVEL
    shift in means and a whale day can drag): U_t = sum_{i<=t,j>t}
    sign(x_i - x_j) peaks where the rank distribution splits, K = max|U_t|
    localizes the most probable change day, and the classic approximation
    p ~ 2exp(-6K^2/(n^3+n^2)) prices it. The O(n^2)-per-t triple sum
    collapses via the antisymmetry identity U_t = cumsum_{i<=t} D_i with
    D_i = sum_j sign(x_i - x_j) — ONE days^2 self-join per type (the
    bounded N104 trade) + one cumulative window. Exact integers until the
    single exp; single-day types drop (test undefined), matching the
    oracle's inner join. Tie on max|U| resolves to the earliest day."""
    daily = _daily_cents_by_type(spark, sf_dir)
    return pettitt_tail(daily)


def pettitt_tail(daily: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming Pettitt queries over a
    (event_type, day, cents) daily table."""
    from pyspark.sql.window import Window

    a = daily.select(F.col("event_type").alias("et"), F.col("day").alias("da"), F.col("cents").alias("ca"))
    b = daily.select(F.col("event_type").alias("eb"), F.col("day").alias("db"), F.col("cents").alias("cb"))
    d = (
        a.join(b, (F.col("eb") == F.col("et")) & (F.col("db") != F.col("da")))
        .groupBy(F.col("et").alias("event_type"), F.col("da").alias("day"))
        .agg(
            F.sum(
                F.when(F.col("ca") > F.col("cb"), 1).when(F.col("ca") < F.col("cb"), -1).otherwise(0)
            ).alias("dsum")
        )
    )
    wcum = Window.partitionBy("event_type").orderBy("day")
    wall = Window.partitionBy("event_type")
    u = d.select(
        "event_type",
        "day",
        F.sum("dsum").over(wcum).alias("ut"),
        F.count(F.lit(1)).over(wall).alias("n_days"),
    )
    u2 = u.withColumn("kmax", F.max(F.abs(F.col("ut"))).over(wall))
    k = u2.groupBy("event_type").agg(
        F.max("n_days").alias("n_days"),
        F.max("kmax").alias("k_stat"),
        F.min(F.when(F.abs(F.col("ut")) == F.col("kmax"), F.col("day"))).alias("change_day"),
    )
    n = F.col("n_days").cast("double")
    return k.select(
        "event_type",
        "n_days",
        "k_stat",
        "change_day",
        F.round(
            F.least(
                F.lit(1.0),
                2.0
                * F.exp(
                    -6.0 * F.col("k_stat") * F.col("k_stat").cast("double")
                    / (n * n * n + n * n)
                ),
            ),
            6,
        ).alias("p_approx"),
    )

@query(
    "q_kruskal_wallis",
    oracle="""
    WITH daily AS (
      SELECT event_type, epoch_ms(ts) // 86400000 AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    rk AS (
      SELECT event_type,
             2 * rank() OVER (ORDER BY cents) + count(*) OVER (PARTITION BY cents) - 1 AS rk2
      FROM daily
    ),
    g AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS ni, CAST(sum(rk2) AS BIGINT) AS r2
      FROM rk GROUP BY 1
    ),
    ties AS (
      SELECT CAST(coalesce(sum(t * t * CAST(t AS HUGEINT) - t), 0) AS BIGINT) AS tie_cube
      FROM (SELECT count(*)::BIGINT AS t FROM daily GROUP BY cents)
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS k_groups,
             CAST(sum(ni) AS BIGINT) AS n,
             list_reduce(list_prepend(0.0,
               list(CAST(r2 * CAST(r2 AS HUGEINT) AS DOUBLE) / ni ORDER BY event_type)),
               (a, x) -> a + x) AS srr
      FROM g
    )
    SELECT m.k_groups, m.n AS n_days,
           round(3.0 * srr / (CAST(m.n AS DOUBLE) * (m.n + 1)) - 3.0 * (m.n + 1), 4) AS h_stat,
           round((3.0 * srr / (CAST(m.n AS DOUBLE) * (m.n + 1)) - 3.0 * (m.n + 1))
                 / (1.0 - CAST(ties.tie_cube AS DOUBLE)
                          / (CAST(m.n AS DOUBLE) * m.n * m.n - m.n)), 4) AS h_corrected,
           CASE WHEN (1.0 - CAST(ties.tie_cube AS DOUBLE)
                            / (CAST(m.n AS DOUBLE) * m.n * m.n - m.n)) IS NULL
                  OR (1.0 - CAST(ties.tie_cube AS DOUBLE)
                            / (CAST(m.n AS DOUBLE) * m.n * m.n - m.n)) = 0.0
                  OR m.k_groups < 2 THEN 'n/a'
                WHEN (3.0 * srr / (CAST(m.n AS DOUBLE) * (m.n + 1)) - 3.0 * (m.n + 1))
                     / (1.0 - CAST(ties.tie_cube AS DOUBLE)
                              / (CAST(m.n AS DOUBLE) * m.n * m.n - m.n))
                     > CASE m.k_groups - 1 WHEN 1 THEN 3.841 WHEN 2 THEN 5.991
                         WHEN 3 THEN 7.815 WHEN 4 THEN 9.488 WHEN 5 THEN 11.070
                         WHEN 6 THEN 12.592 ELSE 14.067 END
                THEN 'true' ELSE 'false' END AS groups_differ
    FROM m, ties
""",
)
def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N137: Kruskal-Wallis H test (Kruskal & Wallis 1952) — do the k
    event types draw daily revenue from one distribution? The k-sample
    generalization of N131's Mann-Whitney exactly as N140's ANOVA
    generalizes N116's Welch, but rank-based: a whale day moves means,
    not ranks. EXACT doubled-midrank machinery (2*rank + t - 1, the N131
    trick) keeps every rank sum an exact integer; the sum over groups of
    R_i^2/n_i folds in sorted event_type order (the float-sum
    discipline, decimal-widened squares for 100 TB rank sums); the tie
    correction and H division ride try_divide ('n/a' on a single day or
    all-tied corpus). The verdict compares tie-corrected H against the
    pinned chi-square 95% critical value for df = k-1 (both engines CASE
    on the same literals). Scale: one pooled rank window over the
    days x types-bounded daily table (budgeted single-partition, the
    N135 stance) + types-bounded arithmetic."""
    daily = _daily_cents_by_type(spark, sf_dir)
    return kruskal_tail(daily)


def kruskal_tail(daily: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming Kruskal-Wallis queries."""
    from pyspark.sql.window import Window

    rk = daily.select(
        "event_type",
        (2 * F.rank().over(Window.orderBy("cents"))
         + F.count(F.lit(1)).over(Window.partitionBy("cents")) - 1).alias("rk2"),
    )
    g = rk.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("ni"), F.sum("rk2").alias("r2"))
    ties = daily.groupBy(F.col("cents").alias("tc")).agg(F.count(F.lit(1)).alias("t")).agg(
        F.coalesce(
            F.sum(F.col("t") * F.col("t") * F.col("t").cast("decimal(38,0)") - F.col("t")),
            F.lit(0),
        ).cast("long").alias("tie_cube"))
    m = g.agg(
        F.count(F.lit(1)).alias("k_groups"),
        F.sum("ni").alias("n"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("event_type", "r2", "ni"))),
            F.lit(0.0),
            lambda acc, s: acc
            + (s["r2"] * s["r2"].cast("decimal(38,0)")).cast("double") / s["ni"],
        ).alias("srr"),
    )
    nD = F.col("n").cast("double")
    h = 3.0 * F.col("srr") / (nD * (F.col("n") + 1)) - 3.0 * (F.col("n") + 1)
    # try_divide x2: n=1 zeroes n^3-n; an all-tied corpus zeroes the
    # correction factor itself — both pin the 'n/a' verdict.
    c = 1.0 - F.try_divide(F.col("tie_cube").cast("double"), nD * F.col("n") * F.col("n") - F.col("n"))
    hc = F.try_divide(h, c)
    crit = (
        F.when(F.col("k_groups") - 1 == 1, 3.841)
        .when(F.col("k_groups") - 1 == 2, 5.991)
        .when(F.col("k_groups") - 1 == 3, 7.815)
        .when(F.col("k_groups") - 1 == 4, 9.488)
        .when(F.col("k_groups") - 1 == 5, 11.070)
        .when(F.col("k_groups") - 1 == 6, 12.592)
        .otherwise(14.067)
    )
    return m.crossJoin(F.broadcast(ties)).select(
        "k_groups",
        F.col("n").alias("n_days"),
        F.round(h, 4).alias("h_stat"),
        F.round(hc, 4).alias("h_corrected"),
        F.when(c.isNull() | (c == 0.0) | (F.col("k_groups") < 2), F.lit("n/a"))
        .when(hc > crit, F.lit("true"))
        .otherwise(F.lit("false"))
        .alias("groups_differ"),
    )


@query(
    "q_anova",
    oracle="""
    WITH daily AS (
      SELECT event_type, epoch_ms(ts) // 86400000 AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    g AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS ni,
             CAST(sum(cents) AS BIGINT) AS si,
             CAST(sum(cents * CAST(cents AS HUGEINT)) AS DOUBLE) AS qi
      FROM daily GROUP BY 1
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS k_groups,
             CAST(sum(ni) AS BIGINT) AS n,
             CAST(sum(si) AS BIGINT) AS s,
             list_reduce(list_prepend(0.0, list(qi ORDER BY event_type)), (a, x) -> a + x) AS q,
             list_reduce(list_prepend(0.0,
               list(CAST(si * CAST(si AS HUGEINT) AS DOUBLE) / ni ORDER BY event_type)),
               (a, x) -> a + x) AS sr
      FROM g
    )
    SELECT k_groups, n AS n_days,
           sr - CAST(s AS DOUBLE) * s / n AS ss_between,
           q - sr AS ss_within,
           round(((sr - CAST(s AS DOUBLE) * s / n) / (k_groups - 1))
                 / ((q - sr) / (n - k_groups)), 4) AS f_stat,
           round((sr - CAST(s AS DOUBLE) * s / n)
                 / (q - CAST(s AS DOUBLE) * s / n), 6) AS eta_sq
    FROM m
""",
)
def q_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N140: one-way ANOVA (Fisher) across event types on daily revenue —
    the k-sample generalization of N116's Welch t-test on the MEANS axis,
    beside N137's rank-based Kruskal-Wallis: F = MSB/MSW plus eta^2
    effect size (share of variance the grouping explains). Exact integer
    moments (decimal-widened squares); the per-group s_i^2/n_i and q_i
    sums fold in sorted event_type order (float-sum discipline); every
    division that a degenerate frame can zero (k=1, n=k, zero variance)
    rides try_divide. One daily rollup + types-bounded arithmetic —
    the q_ab_test exchange shape."""
    daily = _daily_cents_by_type(spark, sf_dir)
    return anova_tail(daily)


def anova_tail(daily: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming ANOVA queries."""
    g = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("ni"),
        F.sum("cents").alias("si"),
        F.sum(F.col("cents") * F.col("cents").cast("decimal(38,0)")).cast("double").alias("qi"),
    )
    m = g.agg(
        F.count(F.lit(1)).alias("k_groups"),
        F.sum("ni").alias("n"),
        F.sum("si").alias("s"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("event_type", "qi"))),
            F.lit(0.0), lambda acc, s: acc + s["qi"],
        ).alias("q"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("event_type", "si", "ni"))),
            F.lit(0.0),
            lambda acc, s: acc + (s["si"] * s["si"].cast("decimal(38,0)")).cast("double") / s["ni"],
        ).alias("sr"),
    )
    ssb = F.col("sr") - F.col("s").cast("double") * F.col("s") / F.col("n")
    ssw = F.col("q") - F.col("sr")
    sst = F.col("q") - F.col("s").cast("double") * F.col("s") / F.col("n")
    # ss magnitudes reach cents^2 scale (1e11+ at fuzz scale), where a
    # 4dp decimal round asks for more significant digits than a double
    # carries — Spark (exact-decimal path) and DuckDB (multiply-divide
    # path) disagree at the ulp. The unrounded doubles are bit-identical
    # (exact integer inputs through identical expression trees), so emit
    # them raw (the q_quality_score raw-IEEE precedent); the O(1)-scale
    # F and eta^2 keep their display rounding.
    return m.select(
        "k_groups",
        F.col("n").alias("n_days"),
        ssb.alias("ss_between"),
        ssw.alias("ss_within"),
        F.round(
            F.try_divide(
                F.try_divide(ssb, F.col("k_groups") - 1),
                F.try_divide(ssw, F.col("n") - F.col("k_groups")),
            ),
            4,
        ).alias("f_stat"),
        F.round(F.try_divide(ssb, sst), 6).alias("eta_sq"),
    )

@query(
    "q_cramers_v",
    oracle="""
    WITH o AS (
      SELECT event_type, CAST(extract(hour FROM ts) AS BIGINT) AS hr,
             count(*)::BIGINT AS obs
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT o.*,
             CAST(sum(obs) OVER (PARTITION BY event_type) AS BIGINT) AS row_n,
             CAST(sum(obs) OVER (PARTITION BY hr) AS BIGINT) AS col_n,
             CAST(sum(obs) OVER () AS BIGINT) AS total_n
      FROM o
    ),
    s AS (
      SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS r,
             CAST(count(DISTINCT hr) AS BIGINT) AS c,
             CAST(max(total_n) AS BIGINT) AS n_events,
             list_reduce(list_prepend(0.0, list(
               (obs - (1.0 * row_n * col_n) / total_n)
               * (obs - (1.0 * row_n * col_n) / total_n)
               / ((1.0 * row_n * col_n) / total_n)
               ORDER BY event_type, hr)), (a, x) -> a + x) AS chi2
      FROM m
    )
    SELECT r AS n_rows, c AS n_cols, n_events,
           round(chi2, 4) AS chi2,
           round(sqrt(chi2 / (n_events * least(r - 1, c - 1))), 6) AS cramers_v
    FROM s
""",
)
def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N138: Cramer's V association strength (Cramer 1946) between event
    type and hour-of-day — the EFFECT-SIZE readout on top of N8c's
    chi-square statistic (chi2 grows with N, V = sqrt(chi2/(N*min(r-1,
    c-1))) does not, so it is comparable across corpora and over time —
    the number a drift dashboard should actually plot). Observed and
    marginal counts are exact integers; the 120-cell chi-square terms
    fold in sorted (type, hour) order (the float-sum discipline — the
    cell table here is bigger than N8c's, where plain sum sufficed);
    try_divide pins NULL when either dimension is constant (min(r-1,
    c-1) = 0). One (type, hour) groupBy exchange, then window marginals
    over the types x 24-bounded cell table."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    o = ev.groupBy("event_type", F.hour("ts").cast("long").alias("hr")).agg(
        F.count(F.lit(1)).alias("obs"))
    return cramers_tail(o)


def cramers_tail(o: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming Cramer's-V queries over a
    (event_type, hr, obs) contingency-cell table."""
    from pyspark.sql.window import Window

    m = (
        o.withColumn("row_n", F.sum("obs").over(Window.partitionBy("event_type")))
        .withColumn("col_n", F.sum("obs").over(Window.partitionBy("hr")))
        .withColumn("total_n", F.sum("obs").over(Window.partitionBy()))
    )
    def term(s):
        e = (F.lit(1.0) * s["row_n"] * s["col_n"]) / s["total_n"]
        return (s["obs"] - e) * (s["obs"] - e) / e

    s = m.agg(
        F.countDistinct("event_type").alias("n_rows"),
        F.countDistinct("hr").alias("n_cols"),
        F.max("total_n").alias("n_events"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("event_type", "hr", "obs", "row_n", "col_n", "total_n"))),
            F.lit(0.0), lambda acc, st: acc + term(st),
        ).alias("chi2"),
    )
    return s.select(
        "n_rows", "n_cols", "n_events",
        F.round(F.col("chi2"), 4).alias("chi2"),
        # try_divide: a single-type (or single-hour) frame has
        # min(r-1, c-1) = 0 and V undefined; DuckDB's /0 -> NULL matches.
        F.round(
            F.sqrt(F.try_divide(
                F.col("chi2"),
                F.col("n_events") * F.least(F.col("n_rows") - 1, F.col("n_cols") - 1),
            )),
            6,
        ).alias("cramers_v"),
    )


@query(
    "q_tukey_fences",
    oracle="""
    WITH daily AS (
      SELECT event_type, epoch_ms(ts) // 86400000 AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT event_type, cents,
             row_number() OVER (PARTITION BY event_type ORDER BY cents, day) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM daily
    ),
    q AS (
      SELECT event_type, CAST(max(n) AS BIGINT) AS n_days,
             CAST(max(CASE WHEN rn = (n - 1) // 4 + 1 THEN cents END) AS BIGINT) AS q1lo,
             CAST(max(CASE WHEN rn = least((n - 1) // 4 + 2, n) THEN cents END) AS BIGINT) AS q1hi,
             CAST(max(CASE WHEN rn = (3 * (n - 1)) // 4 + 1 THEN cents END) AS BIGINT) AS q3lo,
             CAST(max(CASE WHEN rn = least((3 * (n - 1)) // 4 + 2, n) THEN cents END) AS BIGINT) AS q3hi
      FROM r GROUP BY event_type
    ),
    x AS (
      SELECT event_type, n_days,
             4 * q1lo + ((n_days - 1) % 4) * (q1hi - q1lo) AS q1x4,
             4 * q3lo + ((3 * (n_days - 1)) % 4) * (q3hi - q3lo) AS q3x4
      FROM q
    ),
    f AS (
      SELECT event_type, n_days, q1x4, q3x4,
             2 * q1x4 - 3 * (q3x4 - q1x4) AS lo8,
             2 * q3x4 + 3 * (q3x4 - q1x4) AS hi8
      FROM x
    )
    SELECT f.event_type, f.n_days,
           round(q1x4 / 4.0, 2) AS q1, round(q3x4 / 4.0, 2) AS q3,
           round((q3x4 - q1x4) / 4.0, 2) AS iqr,
           CAST(coalesce(sum(CASE WHEN 8 * d.cents < f.lo8 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_low,
           CAST(coalesce(sum(CASE WHEN 8 * d.cents > f.hi8 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_high
    FROM f JOIN daily d ON d.event_type = f.event_type
    GROUP BY 1, 2, 3, 4, 5
""",
)
def q_tukey_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N141: Tukey IQR fences outlier report (Tukey 1977 box-plot rule)
    per event type — the DISTRIBUTION-SHAPE outlier screen beside N43's
    rolling z-score (model-free, no normality assumption, robust to the
    very outliers it hunts) and N8e's winsorization (which CLAMPS at
    fixed percentiles; this FLAGS at quartile-derived fences). EXACT
    INTEGER throughout: linearly-interpolated quartiles carry a x4
    scale (the fractional part of (n-1)/4 is a quarter, so 4*q1 is an
    integer), fences carry x8 (1.5*IQR doubles the quarter), and every
    outlier comparison is 8*cents vs an integer fence — no float ever
    classifies a day. Scale: two passes over the types x days daily
    table (rank for quartiles, broadcast-join for fence counts)."""
    daily = _daily_cents_by_type(spark, sf_dir)
    return tukey_tail(daily)


def tukey_tail(daily: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming Tukey-fence queries."""
    from pyspark.sql.window import Window

    r = daily.select(
        "event_type", "cents",
        F.row_number().over(Window.partitionBy("event_type").orderBy("cents", "day")).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    q = r.groupBy("event_type").agg(
        F.max("n").alias("n_days"),
        F.max(F.when(F.col("rn") == F.expr("(n - 1) div 4") + 1, F.col("cents"))).alias("q1lo"),
        F.max(F.when(F.col("rn") == F.least(F.expr("(n - 1) div 4") + 2, F.col("n")), F.col("cents"))).alias("q1hi"),
        F.max(F.when(F.col("rn") == F.expr("(3 * (n - 1)) div 4") + 1, F.col("cents"))).alias("q3lo"),
        F.max(F.when(F.col("rn") == F.least(F.expr("(3 * (n - 1)) div 4") + 2, F.col("n")), F.col("cents"))).alias("q3hi"),
    )
    x = q.select(
        F.col("event_type").alias("fet"),
        "n_days",
        (4 * F.col("q1lo") + ((F.col("n_days") - 1) % 4) * (F.col("q1hi") - F.col("q1lo"))).alias("q1x4"),
        (4 * F.col("q3lo") + ((3 * (F.col("n_days") - 1)) % 4) * (F.col("q3hi") - F.col("q3lo"))).alias("q3x4"),
    )
    f = x.select(
        "fet", "n_days", "q1x4", "q3x4",
        (2 * F.col("q1x4") - 3 * (F.col("q3x4") - F.col("q1x4"))).alias("lo8"),
        (2 * F.col("q3x4") + 3 * (F.col("q3x4") - F.col("q1x4"))).alias("hi8"),
    )
    j = F.broadcast(f).join(daily, daily["event_type"] == F.col("fet"))
    return (
        j.groupBy("fet", "n_days", "q1x4", "q3x4", "lo8", "hi8")
        .agg(
            F.coalesce(F.sum(F.when(8 * F.col("cents") < F.col("lo8"), 1).otherwise(0)), F.lit(0)).alias("n_low"),
            F.coalesce(F.sum(F.when(8 * F.col("cents") > F.col("hi8"), 1).otherwise(0)), F.lit(0)).alias("n_high"),
        )
        .select(
            F.col("fet").alias("event_type"),
            "n_days",
            F.round(F.col("q1x4") / 4.0, 2).alias("q1"),
            F.round(F.col("q3x4") / 4.0, 2).alias("q3"),
            F.round((F.col("q3x4") - F.col("q1x4")) / 4.0, 2).alias("iqr"),
            "n_low",
            "n_high",
        )
    )

@query(
    "q_xyz_classification",
    oracle="""
    WITH wk AS (
      SELECT l_partkey, epoch_ms(l_shipdate) // 604800000 AS week,
             CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS q
      FROM lineitem GROUP BY 1, 2
    ),
    m AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(q) AS BIGINT) AS s,
             CAST(sum(q * CAST(q AS HUGEINT)) AS HUGEINT) AS qq
      FROM wk GROUP BY 1
    ),
    cls AS (
      SELECT l_partkey,
             CASE WHEN s = 0 THEN 'n/a'
                  WHEN 4 * n * qq <= 5 * s * CAST(s AS HUGEINT) THEN 'X'
                  WHEN n * qq <= 2 * s * CAST(s AS HUGEINT) THEN 'Y'
                  ELSE 'Z' END AS xyz_class
      FROM m
    )
    SELECT xyz_class, CAST(count(*) AS BIGINT) AS n_parts,
           round(count(*) * 100.0 / sum(count(*)) OVER (), 4) AS pct_parts
    FROM cls GROUP BY xyz_class
""",
)
def q_xyz_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N142: XYZ demand-variability classification — the inventory-
    planning twin of N80's ABC (ABC ranks by revenue CONTRIBUTION, XYZ
    by demand PREDICTABILITY; the ABC-XYZ matrix is the classic
    stocking-policy grid): per part, the coefficient of variation of
    weekly shipped quantity classes X (cv <= 0.5, steady — forecast and
    automate), Y (cv <= 1, seasonal/trending), Z (cv > 1, erratic —
    safety stock or make-to-order). CLASSIFICATION IS EXACT INTEGER:
    cv^2 = (n*q - s^2)/s^2 against t^2 thresholds cross-multiplies to
    4nq <= 5s^2 (X) and nq <= 2s^2 (Y) in decimal/HUGEINT — no float
    ever assigns a class; all-zero-quantity parts pin 'n/a'. One
    (part, week) rollup then part-bounded arithmetic."""
    from pyspark.sql.window import Window

    li = _t(spark, sf_dir, "lineitem")
    wk = li.groupBy(
        "l_partkey", F.expr("unix_millis(l_shipdate) div 604800000").alias("week")
    ).agg(F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("q"))
    m = wk.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("s"),
        F.sum(F.col("q") * F.col("q").cast("decimal(38,0)")).alias("qq"),
    )
    s2 = F.col("s") * F.col("s").cast("decimal(38,0)")
    cls = m.select(
        "l_partkey",
        F.when(F.col("s") == 0, "n/a")
        .when(4 * F.col("n") * F.col("qq") <= 5 * s2, "X")
        .when(F.col("n") * F.col("qq") <= 2 * s2, "Y")
        .otherwise("Z")
        .alias("xyz_class"),
    )
    out = cls.groupBy("xyz_class").agg(F.count(F.lit(1)).alias("n_parts"))
    return out.select(
        "xyz_class", "n_parts",
        F.round(F.col("n_parts") * 100.0 / F.sum("n_parts").over(Window.partitionBy()), 4).alias("pct_parts"),
    )


@query(
    "q_encoding_advisor",
    oracle="""
    WITH cols AS (
      SELECT o_orderkey AS k, 'o_orderstatus' AS col, o_orderstatus AS v FROM orders
      UNION ALL
      SELECT o_orderkey, 'o_orderpriority', o_orderpriority FROM orders
      UNION ALL
      SELECT o_orderkey, 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
      UNION ALL
      SELECT o_orderkey, 'o_orderdate', CAST(epoch_ms(o_orderdate) // 86400000 AS VARCHAR) FROM orders
    ),
    runs AS (
      SELECT col, v,
             CASE WHEN v IS DISTINCT FROM lag(v) OVER (PARTITION BY col ORDER BY k)
                  THEN 1 ELSE 0 END AS chg
      FROM cols
    ),
    agg AS (
      SELECT col, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
             CAST(sum(chg) AS BIGINT) AS runs_current
      FROM runs GROUP BY col
    )
    SELECT col AS column_name, n_rows, n_distinct, runs_current,
           n_distinct AS runs_sorted,
           CAST(CAST(runs_current AS HUGEINT) * 1000000 // n_rows AS BIGINT) AS rle_runs_ppm,
           CASE WHEN runs_current > 8 * n_distinct THEN 'sort_helps' ELSE 'already_clustered' END AS advice
    FROM agg
""",
)
def q_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N143: RLE encoding advisor — the column-level companion to N105's
    sort-key advisor (that one prices zone-map SKIPPING under a sort;
    this one prices run-length COMPRESSION): per column, the run count
    in the table's key order (the physical proxy: o_orderkey — parquet
    row order is not a stable plan property, the key is) vs the floor a
    sort would reach (runs_sorted = n_distinct), and the runs-per-row
    ppm as exact 128-bit `div`. A column with few distincts but many
    runs ('sort_helps') is where re-clustering buys storage; parquet's
    RLE_DICTIONARY pages realize exactly this win. The four audited
    columns unpivot into ONE (col, key)-ordered window pass — adding a
    column is a UNION branch, not a new scan plan."""
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders")
    cols = None
    for name, expr in [
        ("o_orderstatus", F.col("o_orderstatus")),
        ("o_orderpriority", F.col("o_orderpriority")),
        ("o_custkey", F.col("o_custkey")),
        ("o_orderdate", F.expr("cast(unix_millis(o_orderdate) div 86400000 as string)")),
    ]:
        part = o.select(F.col("o_orderkey").alias("k"), F.lit(name).alias("col"), expr.cast("string").alias("v"))
        cols = part if cols is None else cols.unionAll(part)
    runs = cols.select(
        "col", "v",
        F.when(
            ~F.col("v").eqNullSafe(F.lag("v").over(Window.partitionBy("col").orderBy("k"))), 1
        ).otherwise(0).alias("chg"),
    )
    agg = runs.groupBy("col").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("v").alias("n_distinct"),
        F.sum("chg").alias("runs_current"),
    )
    return agg.select(
        F.col("col").alias("column_name"),
        "n_rows", "n_distinct", "runs_current",
        F.col("n_distinct").alias("runs_sorted"),
        F.expr("cast(cast(runs_current as decimal(38,0)) * 1000000 div n_rows as bigint)").alias("rle_runs_ppm"),
        F.when(F.col("runs_current") > 8 * F.col("n_distinct"), "sort_helps")
        .otherwise("already_clustered")
        .alias("advice"),
    )

@query(
    "q_price_elasticity",
    oracle="""
    WITH wk AS (
      SELECT p.p_brand AS brand, epoch_ms(l.l_shipdate) // 604800000 AS week,
             CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS ep_c,
             CAST(sum(CAST(round(l.l_quantity * 100) AS BIGINT)) AS BIGINT) AS q_c
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ),
    pts AS (
      SELECT brand, week,
             ln(CAST(ep_c AS DOUBLE) / q_c) AS x,
             ln(CAST(q_c AS DOUBLE) / 100.0) AS y
      FROM wk WHERE ep_c > 0 AND q_c > 0
    ),
    m AS (
      SELECT brand, CAST(count(*) AS BIGINT) AS n_weeks,
             list_reduce(list_prepend(0.0, list(x ORDER BY week)), (a, v) -> a + v) AS sx,
             list_reduce(list_prepend(0.0, list(y ORDER BY week)), (a, v) -> a + v) AS sy,
             list_reduce(list_prepend(0.0, list(x * x ORDER BY week)), (a, v) -> a + v) AS sxx,
             list_reduce(list_prepend(0.0, list(y * y ORDER BY week)), (a, v) -> a + v) AS syy,
             list_reduce(list_prepend(0.0, list(x * y ORDER BY week)), (a, v) -> a + v) AS sxy
      FROM pts GROUP BY brand
    )
    SELECT brand, n_weeks,
           round((n_weeks * sxy - sx * sy) / (n_weeks * sxx - sx * sx), 4) AS elasticity,
           round((n_weeks * sxy - sx * sy) * (n_weeks * sxy - sx * sy)
                 / ((n_weeks * sxx - sx * sx) * (n_weeks * syy - sy * sy)), 6) AS r_sq
    FROM m
""",
)
def q_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N144: log-log price elasticity of demand per brand (the Marshall
    demand-curve slope, estimated as OLS on ln(qty) ~ ln(price) —
    Working 1943 form): per (brand, week) the realized average unit
    price (sum extendedprice / sum qty, an exact integer ratio) and
    total quantity, then regr_slope on the log-log points — elasticity
    <-1 is elastic (discount to grow revenue), -1..0 inelastic (price
    up), r^2 says whether to believe it. The pricing readout N88's
    what-if grid ASSUMES; this measures it. Float discipline: ln sees
    identical exact-integer ratios both engines; the five moment sums
    fold in week order per brand (the sorted-fold rule); slope and r^2
    ride try_divide (constant-price brands pin NULL — you cannot
    estimate elasticity without price variation). One broadcast dim
    join + a (brand, week)-bounded rollup; never row-level beyond the
    first aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    wk = (
        li.join(F.broadcast(p), p["p_partkey"] == li["l_partkey"])
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.expr("unix_millis(l_shipdate) div 604800000").alias("week"),
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("ep_c"),
            F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("q_c"),
        )
    )
    pts = wk.where((F.col("ep_c") > 0) & (F.col("q_c") > 0)).select(
        "brand", "week",
        F.log(F.col("ep_c").cast("double") / F.col("q_c")).alias("x"),
        F.log(F.col("q_c").cast("double") / 100.0).alias("y"),
    )

    def fold(expr_fn):
        return F.aggregate(
            F.array_sort(F.collect_list(F.struct("week", "x", "y"))),
            F.lit(0.0), lambda a, s: a + expr_fn(s),
        )

    m = pts.groupBy("brand").agg(
        F.count(F.lit(1)).alias("n_weeks"),
        fold(lambda s: s["x"]).alias("sx"),
        fold(lambda s: s["y"]).alias("sy"),
        fold(lambda s: s["x"] * s["x"]).alias("sxx"),
        fold(lambda s: s["y"] * s["y"]).alias("syy"),
        fold(lambda s: s["x"] * s["y"]).alias("sxy"),
    )
    num = F.col("n_weeks") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n_weeks") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n_weeks") * F.col("syy") - F.col("sy") * F.col("sy")
    return m.select(
        "brand", "n_weeks",
        F.round(F.try_divide(num, denx), 4).alias("elasticity"),
        F.round(F.try_divide(num * num, denx * deny), 6).alias("r_sq"),
    )


_K_CORE_ORACLE = """
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS MATERIALIZED (
      SELECT a.l_partkey AS x, b.l_partkey AS y
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    ed AS MATERIALIZED (SELECT x AS u, y AS v FROM e UNION ALL SELECT y, x FROM e),
    n0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM ed),
    n1 AS MATERIALIZED (
      SELECT ed.u AS node
      FROM ed
      JOIN n0 a ON a.node = ed.u
      JOIN n0 b ON b.node = ed.v
      GROUP BY ed.u HAVING count(*) >= 3
    ),
    n2 AS MATERIALIZED (
      SELECT ed.u AS node
      FROM ed
      JOIN n1 a ON a.node = ed.u
      JOIN n1 b ON b.node = ed.v
      GROUP BY ed.u HAVING count(*) >= 3
    ),
    n3 AS MATERIALIZED (
      SELECT ed.u AS node
      FROM ed
      JOIN n2 a ON a.node = ed.u
      JOIN n2 b ON b.node = ed.v
      GROUP BY ed.u HAVING count(*) >= 3
    ),
    n4 AS MATERIALIZED (
      SELECT ed.u AS node
      FROM ed
      JOIN n3 a ON a.node = ed.u
      JOIN n3 b ON b.node = ed.v
      GROUP BY ed.u HAVING count(*) >= 3
    ),
    n5 AS MATERIALIZED (
      SELECT ed.u AS node
      FROM ed
      JOIN n4 a ON a.node = ed.u
      JOIN n4 b ON b.node = ed.v
      GROUP BY ed.u HAVING count(*) >= 3
    ),
    n6 AS MATERIALIZED (
      SELECT ed.u AS node
      FROM ed
      JOIN n5 a ON a.node = ed.u
      JOIN n5 b ON b.node = ed.v
      GROUP BY ed.u HAVING count(*) >= 3
    ),
    n7 AS MATERIALIZED (
      SELECT ed.u AS node
      FROM ed
      JOIN n6 a ON a.node = ed.u
      JOIN n6 b ON b.node = ed.v
      GROUP BY ed.u HAVING count(*) >= 3
    ),
    n8 AS MATERIALIZED (
      SELECT ed.u AS node
      FROM ed
      JOIN n7 a ON a.node = ed.u
      JOIN n7 b ON b.node = ed.v
      GROUP BY ed.u HAVING count(*) >= 3
    ),
    n9 AS MATERIALIZED (
      SELECT ed.u AS node
      FROM ed
      JOIN n8 a ON a.node = ed.u
      JOIN n8 b ON b.node = ed.v
      GROUP BY ed.u HAVING count(*) >= 3
    ),
    n10 AS MATERIALIZED (
      SELECT ed.u AS node
      FROM ed
      JOIN n9 a ON a.node = ed.u
      JOIN n9 b ON b.node = ed.v
      GROUP BY ed.u HAVING count(*) >= 3
    ),
    n11 AS MATERIALIZED (
      SELECT ed.u AS node
      FROM ed
      JOIN n10 a ON a.node = ed.u
      JOIN n10 b ON b.node = ed.v
      GROUP BY ed.u HAVING count(*) >= 3
    ),
    n12 AS MATERIALIZED (
      SELECT ed.u AS node
      FROM ed
      JOIN n11 a ON a.node = ed.u
      JOIN n11 b ON b.node = ed.v
      GROUP BY ed.u HAVING count(*) >= 3
    ),
    n13 AS MATERIALIZED (
      SELECT ed.u AS node
      FROM ed
      JOIN n12 a ON a.node = ed.u
      JOIN n12 b ON b.node = ed.v
      GROUP BY ed.u HAVING count(*) >= 3
    ),
    n14 AS MATERIALIZED (
      SELECT ed.u AS node
      FROM ed
      JOIN n13 a ON a.node = ed.u
      JOIN n13 b ON b.node = ed.v
      GROUP BY ed.u HAVING count(*) >= 3
    ),
    n15 AS MATERIALIZED (
      SELECT ed.u AS node
      FROM ed
      JOIN n14 a ON a.node = ed.u
      JOIN n14 b ON b.node = ed.v
      GROUP BY ed.u HAVING count(*) >= 3
    ),
    n16 AS MATERIALIZED (
      SELECT ed.u AS node
      FROM ed
      JOIN n15 a ON a.node = ed.u
      JOIN n15 b ON b.node = ed.v
      GROUP BY ed.u HAVING count(*) >= 3
    )
    SELECT 3 AS k,
           CAST((SELECT count(*) FROM n0) AS BIGINT) AS n_nodes,
           CAST((SELECT count(*) FROM n16) AS BIGINT) AS n_core_nodes,
           CAST((SELECT count(*) FROM e
                 JOIN n16 a ON a.node = e.x
                 JOIN n16 b ON b.node = e.y) AS BIGINT) AS n_core_edges,
           CASE WHEN (SELECT count(*) FROM n16) = (SELECT count(*) FROM n15)
                THEN 'true' ELSE 'false' END AS converged
"""


@query("q_k_core", oracle=_K_CORE_ORACLE)
def q_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N146: k-core decomposition (Seidman 1983; Batagelj-Zaversnik
    peeling) of the w>=2-pruned part co-purchase graph — the cohesion
    filter UNDER the graph family: PageRank ranks importance inside
    whatever blob exists, label propagation names communities, the
    3-core says which subgraph is structurally DENSE enough to trust
    (every member keeps >= 3 co-purchase partners after all hangers-on
    peel away) — the standard pre-filter before community/embedding work
    pays for noisy tendrils. Synchronous peeling: 16 unrolled rounds,
    each one degree aggregate over the surviving induced subgraph
    (node-bounded exchanges, localCheckpoint lineage control — the
    q_label_propagation discipline); the oracle unrolls the same rounds
    as MATERIALIZED CTEs (non-materialized chaining would inline each
    round into the next TWICE — exponential blowup, measured). The
    converged flag ('n16 == n15') is part of the hash contract, so an
    unconverged pathological graph is VISIBLE, not silently truncated.
    Fixture peeling is real: sf0.01's w>=2 graph keeps 935 of 1880
    nodes; sf0.1's keeps none (its pair graph is relatively sparser)."""
    e = (
        _copurchase_pairs(spark, sf_dir)
        .where(F.col("w") >= 2).select("x", "y").persist()
    )
    ed = e.select(F.col("x").alias("u"), F.col("y").alias("v")).unionAll(
        e.select(F.col("y").alias("u"), F.col("x").alias("v"))
    ).localCheckpoint()
    # r11: lazy checkpoint + count — one job materializes the node table AND
    # yields n0 (was an eager checkpoint job followed by a count job)
    nodes = ed.select(F.col("u").alias("node")).distinct().localCheckpoint(eager=False)
    n0_count = nodes.count()
    k, rounds = 3, 16
    # r10 optimization: fixed-point early exit. Peeling is monotone
    # (survivors ⊆ nodes — the degree join conditions on membership of both
    # endpoints), so equal consecutive COUNTS imply equal SETS, and every
    # remaining unrolled round would reproduce that set unchanged; in
    # particular n16 == n15 == the fixed-point count, so the converged flag
    # and all outputs are provably identical to the full 16-round unroll.
    # One bounded one-row count per round (on the checkpointed node table)
    # replaces up to 13 dead edge-table joins — sf0.1's w>=2 graph peels to
    # empty in 3 rounds, sf0.01's to its 3-core in 4.
    # r11 (guide §3.1): every membership set is ≤ n0 nodes (peeling is
    # monotone), so the per-round joins and the final core_edges count get a
    # BROADCAST hint gated on the pre-counted n0 (the repo-wide
    # gated_broadcast discipline) — each round becomes one broadcast-probe
    # pass over the checkpointed edge RDD instead of an AQE shuffle pair;
    # past the gate the joins degrade to the old plan, value-identical.
    from simple_stream_processor_spark.operators.dedup import gated_broadcast

    hint = gated_broadcast(
        int(n0_count), int(spark.conf.get("spark.graft.broadcast_gate_rows", "100000"))
    )
    counts = [n0_count]
    fixed_point = False
    for i in range(rounds):
        if i == 0:
            # r10: round 1's membership joins are identities — nodes IS
            # distinct(u of ed) at entry, so conditioning both endpoints on
            # membership keeps every edge. Aggregate the raw edge table
            # directly: two joins (and their broadcast builds) removed from
            # the one round that still sees the full edge table.
            deg = ed.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
        else:
            deg = (
                ed.join(hint(nodes.withColumnRenamed("node", "su")), F.col("su") == F.col("u"))
                .join(hint(nodes.withColumnRenamed("node", "sv")), F.col("sv") == F.col("v"))
                .groupBy("u").agg(F.count(F.lit(1)).alias("d"))
            )
        # r11: lazy checkpoint + count — ONE job per round materializes the
        # survivor set AND serves as the convergence witness (was two)
        survivors = (
            deg.where(F.col("d") >= k).select(F.col("u").alias("node"))
        ).localCheckpoint(eager=False)
        nodes = survivors
        counts.append(nodes.count())  # bounded scalar: convergence witness
        if counts[-1] == counts[-2]:
            fixed_point = True
            break
    n_core = counts[-1]
    prev_count = counts[-1] if fixed_point else counts[-2]
    if n_core == 0:
        # r10: an empty core provably has zero induced edges — skip the
        # membership-join count (it only short-circuits AFTER AQE builds
        # and broadcasts the empty sides)
        core_edges = 0
    else:
        core_edges = (
            e.join(hint(nodes.withColumnRenamed("node", "cx")), F.col("cx") == F.col("x"))
            .join(hint(nodes.withColumnRenamed("node", "cy")), F.col("cy") == F.col("y"))
            .count()
        )
    e.unpersist()  # core_edges was the last consumer (r10 review find)
    return spark.createDataFrame(
        [(k, n0_count, n_core, core_edges, "true" if n_core == prev_count else "false")],
        "k int, n_nodes long, n_core_nodes long, n_core_edges long, converged string",
    )

@query(
    "q_holt_winters",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT event_type, epoch_ms(ts) // 86400000 AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    arr AS (
      SELECT event_type, count(*)::BIGINT AS n_days,
             list(CAST(cents AS DOUBLE) ORDER BY day) AS xs
      FROM daily GROUP BY 1 HAVING count(*) >= 14
    ),
    init AS (
      SELECT event_type, n_days, xs,
             list_reduce(list_prepend(0.0, xs[1:7]), (a, v) -> a + v) / 7.0 AS l0,
             (list_reduce(list_prepend(0.0, xs[8:14]), (a, v) -> a + v) / 7.0
              - list_reduce(list_prepend(0.0, xs[1:7]), (a, v) -> a + v) / 7.0) / 7.0 AS b0
      FROM arr
    ),
    rec AS (
      -- row-per-step recursion (the q_holt_linear lesson): every new column
      -- derives from the PREVIOUS row's l/b/s — simultaneous update, matching
      -- Spark's F.aggregate lambda; l_new is expanded inline where b/s need it
      SELECT event_type, n_days, xs, 7 AS t,
             l0 AS l, b0 AS b,
             list_transform(xs[1:7], v -> v - l0) AS s,
             CAST(0.0 AS DOUBLE) AS sae
      FROM init
      UNION ALL
      SELECT event_type, n_days, xs, t + 1,
             0.3 * (xs[t + 1] - s[(t % 7) + 1]) + 0.7 * (l + b),
             0.05 * ((0.3 * (xs[t + 1] - s[(t % 7) + 1]) + 0.7 * (l + b)) - l) + 0.95 * b,
             s[1:(t % 7)]
               || [0.2 * (xs[t + 1]
                          - (0.3 * (xs[t + 1] - s[(t % 7) + 1]) + 0.7 * (l + b)))
                   + 0.8 * s[(t % 7) + 1]]
               || s[(t % 7) + 2:7],
             sae + abs(xs[t + 1] - (l + b + s[(t % 7) + 1]))
      FROM rec WHERE t < n_days
    )
    SELECT event_type, n_days,
           round(l, 4) AS level,
           round(b, 4) AS trend,
           round(l + b + s[(n_days % 7) + 1], 4) AS forecast_next,
           round(list_max(s) - list_min(s), 4) AS seasonal_amplitude,
           round(sae / (n_days - 7), 4) AS mae
    FROM rec WHERE t = n_days
""",
)
def q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N147: additive Holt-Winters triple exponential smoothing (Winters
    1960; alpha=0.3, beta=0.05, gamma=0.2, m=7) of daily revenue per
    event type — the level+trend+SEASONAL forecaster that completes the
    smoothing ladder (N74 EWMA = level, N101 Holt = +trend, this =
    +weekly shape), and the model-based complement to N100's descriptive
    decomposition. Textbook init (l = first-week mean, b = week-over-week
    mean change / 7, s = first-week deviations; series under 14 days
    drop — you cannot initialize a season you never saw). The state is
    {t, l, b, s[7], sae}: Spark folds it with F.aggregate (simultaneous
    reads; l_new expanded inline inside b/s updates), and the oracle is
    a row-per-step RECURSIVE CTE carrying the seasonal LIST — the
    q_holt_linear lesson (a DuckDB struct list_reduce mutates fields
    sequentially and diverges). The seasonal slot updates by slice
    concatenation, identical in both engines. Output: final level/trend,
    next-day forecast (with the right seasonal slot), seasonal
    amplitude, and the in-sample one-step MAE that q_forecast_eval-style
    baselines compare against. Scale: per-series fold over the
    days-bounded array; the series dimension carries parallelism."""
    daily = _daily_cents_by_type(spark, sf_dir)
    return holt_winters_tail(daily)


def holt_winters_tail(daily: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming Holt-Winters queries."""
    arr = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "cents"))),
            lambda s: s["cents"].cast("double"),
        ).alias("xs"),
    ).where(F.col("n_days") >= 14)
    mean7 = lambda lo: F.aggregate(F.slice("xs", lo, 7), F.lit(0.0), lambda a, v: a + v) / 7.0
    init = arr.select(
        "event_type", "n_days", "xs",
        mean7(1).alias("l0"),
        ((mean7(8) - mean7(1)) / 7.0).alias("b0"),
    )
    state = "struct<t:int,l:double,b:double,s:array<double>,sae:double>"

    def step(acc, x):
        slot0 = acc["t"] % 7  # 0-based seasonal slot of the incoming day
        s_old = F.element_at(acc["s"], slot0 + 1)
        l_new = F.lit(0.3) * (x - s_old) + F.lit(0.7) * (acc["l"] + acc["b"])
        b_new = F.lit(0.05) * (l_new - acc["l"]) + F.lit(0.95) * acc["b"]
        s_upd = F.lit(0.2) * (x - l_new) + F.lit(0.8) * s_old
        s_new = F.concat(
            F.slice(acc["s"], 1, slot0),
            F.array(s_upd),
            F.slice(acc["s"], slot0 + 2, F.lit(6) - slot0),
        )
        return F.struct(
            (acc["t"] + 1).alias("t"),
            l_new.alias("l"),
            b_new.alias("b"),
            s_new.alias("s"),
            (acc["sae"] + F.abs(x - (acc["l"] + acc["b"] + s_old))).alias("sae"),
        ).cast(state)

    folded = init.select(
        "event_type", "n_days",
        F.aggregate(
            F.slice(F.col("xs"), 8, F.greatest(F.size("xs") - 7, F.lit(0))),
            F.struct(
                F.lit(7).alias("t"),
                F.col("l0").alias("l"),
                F.col("b0").alias("b"),
                F.transform(F.slice("xs", 1, 7), lambda v: v - F.col("l0")).alias("s"),
                F.lit(0.0).alias("sae"),
            ).cast(state),
            step,
        ).alias("st"),
    )
    return folded.select(
        "event_type", "n_days",
        F.round(F.col("st.l"), 4).alias("level"),
        F.round(F.col("st.b"), 4).alias("trend"),
        F.round(
            F.col("st.l") + F.col("st.b")
            + F.element_at("st.s", ((F.col("n_days") % 7) + 1).cast("int")),
            4,
        ).alias("forecast_next"),
        F.round(F.array_max("st.s") - F.array_min("st.s"), 4).alias("seasonal_amplitude"),
        F.round(F.col("st.sae") / (F.col("n_days") - 7), 4).alias("mae"),
    )

@query(
    "q_sax_words",
    oracle="""
    WITH daily AS (
      SELECT event_type, epoch_ms(ts) // 86400000 AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    mom AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s,
             CAST(sum(cents * CAST(cents AS HUGEINT)) AS DOUBLE) AS q
      FROM daily GROUP BY 1
    ),
    z AS (
      SELECT event_type, n AS n_days,
             CAST(s AS DOUBLE) / n AS mu,
             sqrt((q - CAST(s AS DOUBLE) * s / n) / (n - 1)) AS sd
      FROM mom
    ),
    seg AS (
      SELECT d.event_type, (row_number() OVER (PARTITION BY d.event_type ORDER BY d.day) - 1) // 7 AS sg,
             d.cents
      FROM daily d
    ),
    paa AS (
      SELECT s.event_type, s.sg,
             CAST(sum(s.cents) AS BIGINT) AS seg_sum, CAST(count(*) AS BIGINT) AS seg_n
      FROM seg s GROUP BY 1, 2
    ),
    sym AS (
      SELECT p.event_type, p.sg, z.n_days,
             CASE WHEN (CAST(p.seg_sum AS DOUBLE) / p.seg_n - z.mu) / z.sd IS NULL THEN 'n'
                  WHEN (CAST(p.seg_sum AS DOUBLE) / p.seg_n - z.mu) / z.sd < -0.6745 THEN 'a'
                  WHEN (CAST(p.seg_sum AS DOUBLE) / p.seg_n - z.mu) / z.sd < 0.0 THEN 'b'
                  WHEN (CAST(p.seg_sum AS DOUBLE) / p.seg_n - z.mu) / z.sd < 0.6745 THEN 'c'
                  ELSE 'd' END AS sym
      FROM paa p JOIN z ON z.event_type = p.event_type
    )
    SELECT event_type, CAST(max(n_days) AS BIGINT) AS n_days,
           CAST(count(*) AS BIGINT) AS n_segments,
           string_agg(sym, '' ORDER BY sg) AS sax_word
    FROM sym GROUP BY event_type
""",
)
def q_sax_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N148: SAX symbolic aggregate approximation (Lin, Keogh et al.
    2003) of each type's daily-revenue series — z-normalize, pool into
    7-day PAA segments, and map each segment mean to an alphabet-of-4
    symbol at the standard Gaussian breakpoints (-0.6745, 0, 0.6745 =
    quartiles of N(0,1)): the series becomes a short WORD ('bbcdda...')
    that motif mining, grep-style anomaly search, and cross-series
    clustering can treat as text — the bridge between the time-series
    family and the corpus operators (a SAX word can feed q_template_
    detect or shingle dedup directly). Exact integer moments and segment
    sums; z-scores are identical float trees; a constant series (sd = 0)
    pins 'n' symbols through try_divide's NULL in BOTH engines rather
    than one engine's NaN falling through differently. One daily rollup,
    one per-type rank window (days-bounded), types x segments tiny."""
    daily = _daily_cents_by_type(spark, sf_dir)
    return sax_tail(daily)


def sax_tail(daily: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming SAX queries."""
    mom = daily.groupBy(F.col("event_type").alias("met")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("cents") * F.col("cents").cast("decimal(38,0)")).cast("double").alias("q"),
    )
    z = mom.select(
        "met",
        F.col("n").alias("n_days"),
        (F.col("s").cast("double") / F.col("n")).alias("mu"),
        F.sqrt(
            F.try_divide(
                F.col("q") - F.col("s").cast("double") * F.col("s") / F.col("n"),
                F.col("n") - 1,
            )
        ).alias("sd"),
    )
    seg = daily.select(
        "event_type",
        F.expr(
            "(row_number() over (partition by event_type order by day) - 1) div 7"
        ).alias("sg"),
        "cents",
    )
    paa = seg.groupBy("event_type", "sg").agg(
        F.sum("cents").alias("seg_sum"), F.count(F.lit(1)).alias("seg_n")
    )
    zval = F.try_divide(
        F.col("seg_sum").cast("double") / F.col("seg_n") - F.col("mu"), F.col("sd")
    )
    sym = paa.join(F.broadcast(z), F.col("met") == F.col("event_type")).select(
        "event_type", "sg", "n_days",
        F.when(zval.isNull(), "n")
        .when(zval < -0.6745, "a")
        .when(zval < 0.0, "b")
        .when(zval < 0.6745, "c")
        .otherwise("d")
        .alias("sym"),
    )
    return sym.groupBy("event_type").agg(
        F.max("n_days").alias("n_days"),
        F.count(F.lit(1)).alias("n_segments"),
        F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("sg", "sym"))), lambda s: s["sym"]),
            "",
        ).alias("sax_word"),
    )


# ---------------------------------------------------------------------------
# Round 8: concentration/inequality, paired & dispersion tests, market bars,
# sequential drift, traffic forensics, attribution, PIT join, sessions,
# DTW, isotonic calibration, survival comparison.
# ---------------------------------------------------------------------------


def hhi_tail(rows: DataFrame) -> DataFrame:
    """Shared tail of the batch/streaming HHI queries: from the
    (segment, custkey, cents) revenue state — commutative integer sums,
    bounded at segments x customers rows — the Herfindahl-Hirschman
    index and top-customer share per segment. All-integer moments
    (decimal-widened squares) to two final display divisions."""
    g = rows.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_custs"),
        F.sum("cents").alias("total_cents"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).alias("sumsq"),
        F.max("cents").alias("cmax"),
    )
    return g.select(
        "segment", "n_custs", "total_cents",
        F.round(
            F.try_divide(
                F.col("sumsq").cast("double") * 10000.0,
                F.col("total_cents").cast("double") * F.col("total_cents"),
            ),
            4,
        ).alias("hhi"),
        F.round(
            F.try_divide(F.col("cmax").cast("double") * 100.0, F.col("total_cents").cast("double")),
            4,
        ).alias("max_share_pct"),
    )


def _customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(segment, custkey, cents) revenue rollup shared by the
    concentration/inequality family (N149 HHI, N150 Theil): one
    custkey-keyed exchange both sides bucket on at 100 TB."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ck"), F.col("c_mktsegment").alias("segment")
    )
    return (
        o.join(c, F.col("o_custkey") == F.col("ck"))
        .groupBy("segment", F.col("o_custkey").alias("custkey"))
        .agg(F.sum("cents").alias("cents"))
    )


@query(
    "q_hhi_concentration",
    oracle="""
    WITH rows_ AS (
      SELECT c_mktsegment AS segment, o_custkey AS custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders JOIN customer ON c_custkey = o_custkey
      GROUP BY 1, 2
    ),
    g AS (
      SELECT segment, CAST(count(*) AS BIGINT) AS n_custs,
             CAST(sum(cents) AS BIGINT) AS total_cents,
             sum(CAST(cents AS HUGEINT) * cents) AS sumsq,
             CAST(max(cents) AS BIGINT) AS cmax
      FROM rows_ GROUP BY 1
    )
    SELECT segment, n_custs, total_cents,
           round(CAST(sumsq AS DOUBLE) * 10000.0 / (CAST(total_cents AS DOUBLE) * total_cents), 4) AS hhi,
           round(CAST(cmax AS DOUBLE) * 100.0 / CAST(total_cents AS DOUBLE), 4) AS max_share_pct
    FROM g
    """,
)
def q_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N149: Herfindahl-Hirschman concentration index of customer revenue
    per market segment (Herfindahl 1950 / Hirschman 1945) — the antitrust
    and portfolio-risk standard beside N129's Gini and N113's Lorenz
    curve: HHI = 10000 * sum(share_i^2), in the 0..10000 points scale
    regulators quote, plus the top-customer share. EXACT INTEGER moments:
    cents sums and decimal(38,0)-widened squares (the widen-BEFORE-
    multiply discipline) survive any corpus scale; two final display
    divisions ride try_divide (an all-zero-revenue segment pins NULL,
    DuckDB /0 matching). One custkey exchange + a segments-bounded
    rollup — the q_gini_concentration shape."""
    return hhi_tail(_customer_revenue(spark, sf_dir))


def theil_tail(rows: DataFrame) -> DataFrame:
    """Shared tail of the batch/streaming Theil queries. Per-customer
    transcendental terms are FLOOR-QUANTIZED to integer picounits and
    summed commutatively — floor(t*1e12) of bit-identical doubles is a
    bit-identical long in both engines, and a long sum (decimal-widened)
    is partial-aggregation-safe at any scale, unlike a float fold that
    would need one global sort. The quantization IS the contract (both
    engines compute the same quantized statistic), not an approximation
    of one engine by the other."""
    pos = rows.where(F.col("cents") > 0)
    seg = pos.groupBy(F.col("segment").alias("sg")).agg(
        F.count(F.lit(1)).alias("nj"), F.sum("cents").alias("sj")
    )
    terms = (
        pos.join(F.broadcast(seg), F.col("segment") == F.col("sg"))
        .select(
            "segment", "nj",
            F.floor(
                (F.col("cents").cast("double") / F.col("sj"))
                * F.log(F.col("cents").cast("double") * F.col("nj") / F.col("sj"))
                * 1e12
            ).cast("decimal(38,0)").alias("t_e12"),
        )
    )
    within = terms.groupBy("segment", F.col("nj").alias("n_custs")).agg(
        F.round(F.sum("t_e12").cast("double") / 1e12, 6).alias("theil")
    ).select("segment", "n_custs", "theil")
    tot = seg.agg(F.sum("nj").alias("n"), F.sum("sj").alias("s"))
    btw = (
        seg.crossJoin(F.broadcast(tot))
        .select(
            "sg",
            ((F.col("sj").cast("double") / F.col("s"))
             * F.log((F.col("sj").cast("double") * F.col("n")) / (F.col("s").cast("double") * F.col("nj")))
             ).alias("term"),
            "n",
        )
        .groupBy(F.col("n").alias("n_custs"))
        .agg(
            F.round(
                F.aggregate(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct(F.col("sg"), F.col("term").alias("v")))),
                        lambda s: s["v"],
                    ),
                    F.lit(0.0),
                    lambda a, b: a + b,
                ),
                6,
            ).alias("theil")
        )
        .select(F.lit("(between)").alias("segment"), "n_custs", "theil")
    )
    return within.unionByName(btw)


@query(
    "q_theil_index",
    oracle="""
    WITH rows_ AS (
      SELECT c_mktsegment AS segment, o_custkey AS custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders JOIN customer ON c_custkey = o_custkey
      GROUP BY 1, 2
    ),
    pos AS (SELECT * FROM rows_ WHERE cents > 0),
    seg AS (
      SELECT segment, CAST(count(*) AS BIGINT) AS nj, CAST(sum(cents) AS BIGINT) AS sj
      FROM pos GROUP BY 1
    ),
    terms AS (
      SELECT p.segment, s.nj,
             CAST(floor((CAST(p.cents AS DOUBLE) / s.sj)
                  * ln(CAST(p.cents AS DOUBLE) * s.nj / s.sj) * 1e12) AS HUGEINT) AS t_e12
      FROM pos p JOIN seg s ON s.segment = p.segment
    ),
    within AS (
      SELECT segment, nj AS n_custs, round(CAST(sum(t_e12) AS DOUBLE) / 1e12, 6) AS theil
      FROM terms GROUP BY segment, nj
    ),
    tot AS (SELECT CAST(sum(nj) AS BIGINT) AS n, CAST(sum(sj) AS BIGINT) AS s FROM seg),
    btw AS (
      SELECT '(between)' AS segment, tot.n AS n_custs,
             round(list_reduce(list_prepend(0.0, list(
               (CAST(sj AS DOUBLE) / tot.s) * ln((CAST(sj AS DOUBLE) * tot.n) / (CAST(tot.s AS DOUBLE) * nj))
               ORDER BY segment)), (a, b) -> a + b), 6) AS theil
      FROM seg, tot GROUP BY tot.n
    )
    SELECT * FROM within UNION ALL SELECT * FROM btw
    """,
)
def q_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N150: Theil T inequality index of customer revenue (Theil 1967),
    decomposed into per-segment WITHIN components plus the BETWEEN-segment
    component — the additively-decomposable inequality measure Gini is
    not (which segment drives the concentration, not just how much).
    Determinism: per-customer terms p_i*ln(p_i*n) are pure functions of
    exact integers, floor-quantized to picounit longs and summed
    COMMUTATIVELY (map-side combinable — the scale answer to float-fold
    ordering; the bounded between-row keeps the classic sorted fold).
    Zero/negative-revenue customers are excluded (ln domain). One
    custkey exchange + segments-bounded arithmetic."""
    return theil_tail(_customer_revenue(spark, sf_dir))


def mcnemar_tail(pres: DataFrame) -> DataFrame:
    """Shared tail of the batch/streaming McNemar queries over the
    (event_type, user_id, day) presence state (counts commutative,
    bounded by active user-days). The half-period boundary derives from
    the state's own min/max day at drain time."""
    bounds = pres.agg(
        F.min("day").alias("dmin"), F.max("day").alias("dmax")
    ).select(F.expr("(dmin + dmax) div 2").alias("mid"))
    flags = (
        pres.crossJoin(F.broadcast(bounds))
        .groupBy("event_type", "user_id")
        .agg(
            F.max(F.when(F.col("day") <= F.col("mid"), 1).otherwise(0)).alias("x"),
            F.max(F.when(F.col("day") > F.col("mid"), 1).otherwise(0)).alias("y"),
        )
    )
    g = flags.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when((F.col("x") == 1) & (F.col("y") == 0), 1).otherwise(0)).alias("b"),
        F.sum(F.when((F.col("x") == 0) & (F.col("y") == 1), 1).otherwise(0)).alias("c"),
    )
    num = F.greatest(F.abs(F.col("b") - F.col("c")) - 1, F.lit(0))
    chi2 = F.try_divide((num * num).cast("double"), (F.col("b") + F.col("c")).cast("double"))
    return g.select(
        "event_type", "n_users", "b", "c",
        F.round(chi2, 4).alias("chi2_cc"),
        F.when(chi2.isNull(), "n/a").when(chi2 > 3.841, "shifted").otherwise("stable").alias("verdict"),
    )


@query(
    "q_mcnemar",
    oracle="""
    WITH pres AS (
      SELECT event_type, user_id, epoch_ms(ts) // 86400000 AS day
      FROM events GROUP BY 1, 2, 3
    ),
    mid AS (SELECT (min(day) + max(day)) // 2 AS mid FROM pres),
    flags AS (
      SELECT event_type, user_id,
             max(CASE WHEN day <= mid THEN 1 ELSE 0 END) AS x,
             max(CASE WHEN day > mid THEN 1 ELSE 0 END) AS y
      FROM pres, mid GROUP BY 1, 2
    ),
    g AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(CASE WHEN x = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
             CAST(sum(CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c
      FROM flags GROUP BY 1
    )
    SELECT event_type, n_users, b, c,
           round(CAST(greatest(abs(b - c) - 1, 0) * greatest(abs(b - c) - 1, 0) AS DOUBLE)
                 / CAST(b + c AS DOUBLE), 4) AS chi2_cc,
           CASE WHEN b + c = 0 THEN 'n/a'
                WHEN CAST(greatest(abs(b - c) - 1, 0) * greatest(abs(b - c) - 1, 0) AS DOUBLE)
                     / CAST(b + c AS DOUBLE) > 3.841 THEN 'shifted'
                ELSE 'stable' END AS verdict
    FROM g
    """,
)
def q_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N151: McNemar's paired test (McNemar 1947, continuity-corrected)
    on first-half vs second-half per-user presence of each event type —
    the PAIRED complement to the family's unpaired two-sample tests
    (N116 Welch, N134 Mann-Whitney): only the discordant users b (did,
    then stopped) and c (didn't, then started) carry signal, so secular
    audience churn cancels out. Exact integer cells to one chi-square
    division under try_divide (b+c=0 pins 'n/a' — the nullable-boolean
    lesson applied as verdict strings). The period midpoint is a one-row
    broadcast scalar; everything else is two keyed aggregates bounded by
    active user-days."""
    ev = _t(spark, sf_dir, "events")
    pres = ev.groupBy(
        "event_type", "user_id", F.expr("unix_millis(ts) div 86400000").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    return mcnemar_tail(pres)


def brown_forsythe_tail(daily: DataFrame) -> DataFrame:
    """Shared tail of the batch/streaming Brown-Forsythe queries over the
    (event_type, day, cents) daily state: per-group exact medians via the
    doubled-midrank rank windows (integer m2 = lo+hi), |2x - m2| absolute
    deviations, then the one-way ANOVA machinery on the deviations."""
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("cents", "day")
    ranked = daily.select(
        "event_type", "day", "cents",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("cnt"),
    )
    med = ranked.where(
        (F.col("rk") == F.expr("(cnt + 1) div 2")) | (F.col("rk") == F.expr("(cnt + 2) div 2"))
    ).groupBy(F.col("event_type").alias("et")).agg(F.sum("cents").alias("m2x"), F.count(F.lit(1)).alias("nm"))
    med = med.select("et", F.when(F.col("nm") == 1, F.col("m2x") * 2).otherwise(F.col("m2x")).alias("m2"))
    z = (
        daily.join(F.broadcast(med), F.col("event_type") == F.col("et"))
        .select("event_type", "day", F.abs(F.col("cents") * 2 - F.col("m2")).alias("z2"))
    )
    g = z.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("ni"),
        F.sum("z2").alias("si"),
        F.sum(F.col("z2").cast("decimal(38,0)") * F.col("z2")).cast("double").alias("qi"),
    )
    m = g.agg(
        F.count(F.lit(1)).alias("k_groups"),
        F.sum("ni").alias("n"),
        F.sum("si").alias("s"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("event_type", "qi"))),
            F.lit(0.0), lambda acc, s: acc + s["qi"],
        ).alias("q"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("event_type", "si", "ni"))),
            F.lit(0.0),
            lambda acc, s: acc + (s["si"] * s["si"].cast("decimal(38,0)")).cast("double") / s["ni"],
        ).alias("sr"),
    )
    ssb = F.col("sr") - F.col("s").cast("double") * F.col("s") / F.col("n")
    ssw = F.col("q") - F.col("sr")
    f_bf = F.try_divide(
        F.try_divide(ssb, F.col("k_groups") - 1),
        F.try_divide(ssw, F.col("n") - F.col("k_groups")),
    )
    return m.select(
        "k_groups", F.col("n").alias("n_days"), F.round(f_bf, 4).alias("f_bf"),
        F.when(f_bf.isNull(), "n/a").when(f_bf > 3.0, "heteroscedastic").otherwise("homoscedastic").alias("verdict"),
    )


@query(
    "q_brown_forsythe",
    oracle="""
    WITH daily AS (
      SELECT event_type, epoch_ms(ts) // 86400000 AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT event_type, day, cents,
             row_number() OVER (PARTITION BY event_type ORDER BY cents, day) AS rk,
             count(*) OVER (PARTITION BY event_type) AS cnt
      FROM daily
    ),
    med0 AS (
      SELECT event_type, CAST(sum(cents) AS BIGINT) AS m2x, count(*) AS nm
      FROM ranked WHERE rk = (cnt + 1) // 2 OR rk = (cnt + 2) // 2
      GROUP BY 1
    ),
    med AS (SELECT event_type, CASE WHEN nm = 1 THEN m2x * 2 ELSE m2x END AS m2 FROM med0),
    z AS (
      SELECT d.event_type, d.day, abs(d.cents * 2 - med.m2) AS z2
      FROM daily d JOIN med ON med.event_type = d.event_type
    ),
    g AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS ni,
             CAST(sum(z2) AS BIGINT) AS si,
             CAST(sum(CAST(z2 AS HUGEINT) * z2) AS DOUBLE) AS qi
      FROM z GROUP BY 1
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS k_groups,
             CAST(sum(ni) AS BIGINT) AS n,
             CAST(sum(si) AS BIGINT) AS s,
             list_reduce(list_prepend(0.0, list(qi ORDER BY event_type)), (a, x) -> a + x) AS q,
             list_reduce(list_prepend(0.0,
               list(CAST(CAST(si AS HUGEINT) * si AS DOUBLE) / ni ORDER BY event_type)),
               (a, x) -> a + x) AS sr
      FROM g
    )
    SELECT k_groups, n AS n_days,
           round(((sr - CAST(s AS DOUBLE) * s / n) / (k_groups - 1))
                 / ((q - sr) / (n - k_groups)), 4) AS f_bf,
           CASE WHEN ((sr - CAST(s AS DOUBLE) * s / n) / (k_groups - 1))
                     / ((q - sr) / (n - k_groups)) IS NULL THEN 'n/a'
                WHEN ((sr - CAST(s AS DOUBLE) * s / n) / (k_groups - 1))
                     / ((q - sr) / (n - k_groups)) > 3.0 THEN 'heteroscedastic'
                ELSE 'homoscedastic' END AS verdict
    FROM m
    """,
)
def q_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N152: Brown-Forsythe variance-homogeneity test (Brown & Forsythe
    1974) across event types on daily revenue — the robust Levene
    variant (median centers, not means) that answers "is N140's ANOVA
    even valid?" and flags dispersion regresses the mean-tests miss.
    Exact machinery: per-group medians as doubled midranks (integer
    m2 = lo+hi, no half fractions), |2x - m2| deviations stay integer,
    then the N140 ANOVA moments (decimal-widened squares, sorted
    per-group folds, every degenerate division under try_divide with
    'n/a' verdicts). One daily rollup + types-bounded rank windows."""
    daily = _daily_cents_by_type(spark, sf_dir)
    return brown_forsythe_tail(daily)


def ohlc_projection(ev: DataFrame) -> DataFrame:
    """The ONE projection both OHLC paths share (batch ohlc_state and the
    stateful streaming port in streaming/ohlc.py): integer cents,
    epoch-day bucketing, the (ts_ms, event_id) total order. Editing it
    here changes both paths together — by construction they cannot
    drift."""
    return ev.select(
        "event_type",
        F.expr("unix_millis(ts) div 86400000").alias("day"),
        F.unix_millis("ts").alias("ts_ms"),
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )


def ohlc_state(ev: DataFrame) -> DataFrame:
    """The (event_type, day) candlestick state: lexicographic struct
    MIN/MAX pick open/close deterministically ((ts_ms, event_id) is a
    total order), integer extremes/sums for high/low/volume — every
    aggregate commutative, so the state is streaming-mergeable and the
    exchange carries one row per bar at any corpus scale."""
    e = ohlc_projection(ev)
    return e.groupBy("event_type", "day").agg(
        F.min(F.struct("ts_ms", "event_id", "cents")).alias("o"),
        F.max(F.struct("ts_ms", "event_id", "cents")).alias("c"),
        F.min("cents").alias("low_cents"),
        F.max("cents").alias("high_cents"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").alias("total_cents"),
    )


def ohlc_tail(state: DataFrame) -> DataFrame:
    """Shared tail of the batch/streaming OHLC queries: unpack the
    open/close structs."""
    return state.select(
        "event_type", "day",
        F.col("o")["cents"].alias("open_cents"),
        "high_cents", "low_cents",
        F.col("c")["cents"].alias("close_cents"),
        "n_events", "total_cents",
    )


@query(
    "q_ohlc_bars",
    oracle="""
    WITH e AS (
      SELECT event_type, epoch_ms(ts) // 86400000 AS day, epoch_ms(ts) AS ts_ms,
             event_id, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    r AS (
      SELECT *,
             row_number() OVER (PARTITION BY event_type, day ORDER BY ts_ms, event_id) AS ra,
             row_number() OVER (PARTITION BY event_type, day ORDER BY ts_ms DESC, event_id DESC) AS rd
      FROM e
    )
    SELECT event_type, day,
           CAST(max(CASE WHEN ra = 1 THEN cents END) AS BIGINT) AS open_cents,
           CAST(max(cents) AS BIGINT) AS high_cents,
           CAST(min(cents) AS BIGINT) AS low_cents,
           CAST(max(CASE WHEN rd = 1 THEN cents END) AS BIGINT) AS close_cents,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(cents) AS BIGINT) AS total_cents
    FROM r GROUP BY 1, 2
    """,
)
def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N153: OHLC candlestick bars per (event_type, day) — the market-data
    downsampling primitive (open/high/low/close/volume/turnover): open
    and close are the FIRST/LAST values by (ts, event_id), picked via
    lexicographic struct min/max instead of rank windows, which makes the
    whole bar ONE commutative aggregate — no per-key sort, map-side
    combinable, and directly reusable as streaming state (N153b). The
    oracle replays the same total order with rank windows; integer cents
    everywhere."""
    return ohlc_tail(ohlc_state(_t(spark, sf_dir, "events")))


def page_hinkley_tail(daily: DataFrame) -> DataFrame:
    """Shared tail of the batch/streaming Page-Hinkley queries over the
    (day, cents) daily-total state: the sequential PH statistic as one
    ordered fold (struct accumulator; all references to the PREVIOUS
    state are explicit, so Spark's simultaneous lambda semantics and the
    oracle's recursive CTE compute the identical expression tree)."""
    arr = daily.agg(
        F.array_sort(F.collect_list(F.struct("day", "cents"))).alias("xs")
    )
    init = F.struct(
        F.lit(0).alias("t"),
        F.lit(0).cast("long").alias("sm"),
        F.lit(0.0).alias("m"),
        F.lit(0.0).alias("minm"),
        F.lit(0.0).alias("best"),
        F.lit(-1).cast("long").alias("bday"),
    )

    def step(acc, x):
        t1 = acc["t"] + 1
        m1 = acc["m"] + x["cents"] - (acc["sm"] + x["cents"]).cast("double") / t1
        minm1 = F.when(acc["t"] == 0, m1).otherwise(F.least(acc["minm"], m1))
        gap = m1 - minm1
        return F.struct(
            t1.alias("t"),
            (acc["sm"] + x["cents"]).alias("sm"),
            m1.alias("m"),
            minm1.alias("minm"),
            F.greatest(acc["best"], gap).alias("best"),
            F.when((acc["t"] == 0) | (gap > acc["best"]), x["day"]).otherwise(acc["bday"]).alias("bday"),
        )

    st = arr.select(F.aggregate("xs", init, step).alias("s")).select(
        F.col("s")["t"].alias("n_days"),
        F.round(F.col("s")["m"] - F.col("s")["minm"], 4).alias("ph_stat"),
        F.round(F.col("s")["best"], 4).alias("max_drift"),
        F.col("s")["bday"].alias("drift_day"),
    )
    return st.where(F.col("n_days") > 0)


@query(
    "q_page_hinkley",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT epoch_ms(ts) // 86400000 AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1
    ),
    ord AS (SELECT day, cents, row_number() OVER (ORDER BY day) AS t FROM daily),
    nmax AS (SELECT count(*) AS n FROM ord),
    ph AS (
      SELECT t, day, CAST(cents AS BIGINT) AS sm,
             CAST(cents AS DOUBLE) - CAST(cents AS DOUBLE) / 1 AS m,
             CAST(cents AS DOUBLE) - CAST(cents AS DOUBLE) / 1 AS minm,
             CAST(0.0 AS DOUBLE) AS best, day AS bday
      FROM ord WHERE t = 1
      UNION ALL
      SELECT o.t, o.day, ph.sm + o.cents,
             ph.m + o.cents - CAST(ph.sm + o.cents AS DOUBLE) / o.t,
             least(ph.minm, ph.m + o.cents - CAST(ph.sm + o.cents AS DOUBLE) / o.t),
             greatest(ph.best,
                      (ph.m + o.cents - CAST(ph.sm + o.cents AS DOUBLE) / o.t)
                      - least(ph.minm, ph.m + o.cents - CAST(ph.sm + o.cents AS DOUBLE) / o.t)),
             CASE WHEN (ph.m + o.cents - CAST(ph.sm + o.cents AS DOUBLE) / o.t)
                       - least(ph.minm, ph.m + o.cents - CAST(ph.sm + o.cents AS DOUBLE) / o.t)
                       > ph.best
                  THEN o.day ELSE ph.bday END
      FROM ph JOIN ord o ON o.t = ph.t + 1
    )
    SELECT CAST(t AS INTEGER) AS n_days, round(m - minm, 4) AS ph_stat,
           round(best, 4) AS max_drift, bday AS drift_day
    FROM ph, nmax WHERE t = nmax.n
    """,
)
def q_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N154: Page-Hinkley sequential drift detection (Page 1954; Hinkley
    1971) over the daily-revenue series — the ONLINE changepoint monitor
    beside N93's retrospective CUSUM and N131's Pettitt: PH_t = sum of
    deviations from the RUNNING mean, alarm strength = PH_t - min PH,
    plus the day where the drift gap peaked. Sequential by definition,
    so it folds over the days-bounded series (the q_ewma_smooth trade);
    the mutually-referential (sum, m, min) state uses a recursive-CTE
    oracle (the q_holt_linear lesson — DuckDB list_reduce struct state
    mutates sequentially, a recursive CTE is simultaneous like Spark's
    lambda). Exact integer inputs; doubles only through identical
    expression trees."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.expr("unix_millis(ts) div 86400000").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    )
    return page_hinkley_tail(daily)


@query(
    "q_bot_detection",
    oracle="""
    WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id FROM events),
    gaps AS (
      SELECT user_id, ts_ms,
             ts_ms - lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS gap
      FROM e
    ),
    pu AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             CAST(count(gap) AS BIGINT) AS k,
             CAST(sum(gap) AS BIGINT) AS sg,
             sum(CAST(gap AS HUGEINT) * gap) AS sgq,
             CAST(max(ts_ms) - min(ts_ms) AS BIGINT) AS span_ms
      FROM gaps GROUP BY 1
    ),
    scored AS (
      SELECT user_id, n_events,
             sqrt(greatest(CAST(sgq AS DOUBLE) / k - (CAST(sg AS DOUBLE) / k) * (CAST(sg AS DOUBLE) / k), 0.0))
               / (CAST(sg AS DOUBLE) / k) AS cv,
             CAST(n_events AS DOUBLE) * 86400000.0 / CAST(span_ms AS DOUBLE) AS rate
      FROM pu
    ),
    v AS (
      SELECT CASE WHEN n_events >= 20 AND cv IS NOT NULL AND cv < 0.3 THEN 'bot-regular'
                  WHEN rate IS NOT NULL AND rate > 100.0 AND n_events >= 20 THEN 'bot-rate'
                  ELSE 'human' END AS verdict,
             n_events, cv
      FROM scored
    )
    SELECT verdict, CAST(count(*) AS BIGINT) AS n_users,
           CAST(max(n_events) AS BIGINT) AS max_events,
           round(min(cv), 4) AS min_cv
    FROM v GROUP BY 1
    """,
)
def q_bot_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N155: bot-traffic forensics — per-user inter-event-gap regularity
    (coefficient of variation of millisecond gaps) and sustained event
    rate, classified into bot-regular (metronomic timing humans do not
    produce), bot-rate (sustained >100 events/day), and human; the
    pre-filter ad-fraud and crawl pipelines run before any engagement
    metric. Exact integer gap moments (decimal-widened squares) per
    user; cv/rate are pure doubles of those integers so the verdicts
    never flicker across engines or partitionings (variance clamped at
    0 before sqrt — float error can land epsilon-negative). One user-
    keyed window + rollup; output bounded at 3 verdict rows."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_millis("ts").alias("ts_ms"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    gaps = ev.select(
        "user_id", "ts_ms",
        (F.col("ts_ms") - F.lag("ts_ms").over(w)).alias("gap"),
    )
    per_user = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("gap").alias("k"),
        F.sum("gap").alias("sg"),
        F.sum(F.col("gap").cast("decimal(38,0)") * F.col("gap")).alias("sgq"),
        (F.max("ts_ms") - F.min("ts_ms")).alias("span_ms"),
    )
    mean = F.col("sg").cast("double") / F.col("k")
    var = F.greatest(F.col("sgq").cast("double") / F.col("k") - mean * mean, F.lit(0.0))
    cv = F.try_divide(F.sqrt(var), mean)
    rate = F.try_divide(F.col("n_events").cast("double") * 86400000.0, F.col("span_ms").cast("double"))
    scored = per_user.select("user_id", "n_events", cv.alias("cv"), rate.alias("rate"))
    verdict = (
        F.when((F.col("n_events") >= 20) & F.col("cv").isNotNull() & (F.col("cv") < 0.3), "bot-regular")
        .when(F.col("rate").isNotNull() & (F.col("rate") > 100.0) & (F.col("n_events") >= 20), "bot-rate")
        .otherwise("human")
    )
    return (
        scored.select(verdict.alias("verdict"), "n_events", "cv")
        .groupBy("verdict")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.max("n_events").alias("max_events"),
            F.round(F.min("cv"), 4).alias("min_cv"),
        )
    )


@query(
    "q_time_decay_attribution",
    oracle="""
    WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, event_id FROM events),
    p AS (SELECT user_id AS pu, ts_ms AS pts, event_id AS pid FROM e WHERE event_type = 'purchase'),
    t AS (SELECT user_id AS tu, event_type AS touch_type, ts_ms AS tts FROM e WHERE event_type <> 'purchase'),
    pairs AS (
      SELECT pid, touch_type,
             ([256, 128, 64, 32, 16])[CAST((pts - tts) // 604800000 AS INTEGER) + 1] AS w
      FROM p JOIN t ON tu = pu AND tts < pts AND pts - tts <= 30::BIGINT * 86400000
    ),
    credited AS (
      SELECT touch_type, (w * 1000000) // sum(w) OVER (PARTITION BY pid) AS credit_ppm
      FROM pairs
    )
    SELECT touch_type, CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(credit_ppm) AS BIGINT) AS credit_ppm_total
    FROM credited GROUP BY 1
    """,
)
def q_time_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N156: time-decay multi-touch attribution — each purchase splits
    conversion credit over its prior-30-day touches with a 7-day
    half-life, the recency-weighted model beside N33c's uniform linear
    split. EXACT INTEGER throughout: weights are the power-of-two table
    [256,128,64,32,16] indexed by whole weeks of age (no float decay),
    per-touch credit = w*1e6 div sum(w) — integer division both engines
    (Spark `div` / DuckDB BIGINT `//`), deterministic and commutatively
    summable. The touch-purchase pair join is user-keyed with a 30-day
    band (the N14 as-of shape); per-purchase normalization is one keyed
    window over the purchase's own touches."""
    from pyspark.sql import Window  # noqa: F401  (expr-based window below)

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_millis("ts").alias("ts_ms"), "event_id"
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts_ms").alias("pts"), F.col("event_id").alias("pid")
    )
    t = ev.where(F.col("event_type") != "purchase").select(
        F.col("user_id").alias("tu"), F.col("event_type").alias("touch_type"),
        F.col("ts_ms").alias("tts"),
    )
    pairs = p.join(
        t,
        (F.col("pu") == F.col("tu"))
        & (F.col("tts") < F.col("pts"))
        & (F.col("pts") - F.col("tts") <= F.lit(30 * 86400000)),
    ).select(
        "pid", "touch_type",
        F.element_at(
            F.array(*[F.lit(x).cast("long") for x in (256, 128, 64, 32, 16)]),
            (F.expr("(pts - tts) div 604800000") + 1).cast("int"),
        ).alias("w"),
    )
    credited = pairs.select(
        "touch_type",
        F.expr("(w * 1000000) div sum(w) over (partition by pid)").alias("credit_ppm"),
    )
    return credited.groupBy("touch_type").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.sum("credit_ppm").alias("credit_ppm_total"),
    )


@query(
    "q_pit_join",
    oracle="""
    WITH dayed AS (
      SELECT user_id, epoch_ms(ts) // 86400000 AS day, event_type,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    daily AS (SELECT user_id, day, count(*) AS n FROM dayed GROUP BY 1, 2),
    tiered AS (
      SELECT user_id, day,
             CASE WHEN n >= 10 THEN 'heavy' WHEN n >= 3 THEN 'regular' ELSE 'light' END AS tier
      FROM daily
    ),
    changes AS (
      SELECT * FROM (
        SELECT user_id, day, tier, lag(tier) OVER (PARTITION BY user_id ORDER BY day) AS prev
        FROM tiered
      ) WHERE prev IS NULL OR tier <> prev
    ),
    intervals AS (
      SELECT user_id AS iu, tier, day AS vfrom,
             lead(day) OVER (PARTITION BY user_id ORDER BY day) AS vto
      FROM changes
    ),
    purchases AS (
      SELECT user_id AS pu, day AS pday, cents FROM dayed WHERE event_type = 'purchase'
    )
    SELECT tier, CAST(count(*) AS BIGINT) AS n_purchases, CAST(sum(cents) AS BIGINT) AS total_cents
    FROM purchases JOIN intervals
      ON iu = pu AND pday >= vfrom AND (vto IS NULL OR pday < vto)
    GROUP BY 1
    """,
)
def q_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N157: point-in-time-correct join — purchases enriched with the
    SCD2 validity interval in force AT the purchase day (the feature-
    store primitive that prevents training-serving leakage: never join a
    fact to dimension state from its future). The dimension history is
    built inline with the N32 machinery (daily activity tier, change
    detection via lag, validity via lead); the PIT lookup is a user-
    keyed interval join (the N15 range-join shape — at 100 TB, bucket
    both sides by user so the interval probe is partition-local).
    Deterministic end to end: tiers are exact-count CASE bands, interval
    bounds are integer days."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    dayed = ev.select(
        "user_id", F.expr("unix_millis(ts) div 86400000").alias("day"),
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    daily = dayed.groupBy("user_id", "day").agg(F.count(F.lit(1)).alias("n"))
    tiered = daily.select(
        "user_id", "day",
        F.when(F.col("n") >= 10, "heavy").when(F.col("n") >= 3, "regular").otherwise("light").alias("tier"),
    )
    w = Window.partitionBy("user_id").orderBy("day")
    changes = tiered.select(
        "user_id", "day", "tier", F.lag("tier").over(w).alias("prev")
    ).where(F.col("prev").isNull() | (F.col("tier") != F.col("prev")))
    intervals = changes.select(
        F.col("user_id").alias("iu"), F.col("tier"),
        F.col("day").alias("vfrom"),
        F.lead("day").over(w).alias("vto"),
    )
    purchases = dayed.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("day").alias("pday"), "cents"
    )
    joined = purchases.join(
        intervals,
        (F.col("pu") == F.col("iu"))
        & (F.col("pday") >= F.col("vfrom"))
        & (F.col("vto").isNull() | (F.col("pday") < F.col("vto"))),
    )
    return joined.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum("cents").alias("total_cents"),
    )


@query(
    "q_session_stats",
    oracle="""
    WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, event_type FROM events),
    flagged AS (
      SELECT user_id, ts_ms, event_id, event_type,
             CASE WHEN lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) IS NULL
                       OR ts_ms - lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) > 1800000
                  THEN 1 ELSE 0 END AS new_s
      FROM e
    ),
    sess AS (
      SELECT user_id, ts_ms, event_id, event_type,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    ),
    per AS (
      SELECT user_id, sid, count(*) AS n,
             CAST(max(ts_ms) - min(ts_ms) AS BIGINT) AS dwell_ms,
             min(struct_pack(a := ts_ms, b := event_id, c := event_type))['c'] AS entry_type
      FROM sess GROUP BY 1, 2
    )
    SELECT entry_type, CAST(count(*) AS BIGINT) AS n_sessions,
           round(CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE) * 100.0 / count(*), 4) AS bounce_pct,
           round(CAST(sum(dwell_ms) AS DOUBLE) / count(*) / 1000.0, 4) AS avg_dwell_s
    FROM per GROUP BY 1
    """,
)
def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N158: session dwell/bounce panel — 30-minute-gap sessionization
    (the N13 gaps-and-islands machinery) rolled up by the session's
    ENTRY event type: session count, bounce rate (single-event
    sessions), mean dwell seconds — the landing-page quality readout
    beside N13's windowed counts. Entry type via lexicographic struct
    min (total order (ts, event_id) — no rank window); dwell sums exact
    integer ms to one display division. One user-keyed sort carries the
    lag flag + running session id; rollups are session- then
    type-bounded."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_millis("ts").alias("ts_ms"), "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    flagged = ev.select(
        "user_id", "ts_ms", "event_id", "event_type",
        F.when(
            F.lag("ts_ms").over(w).isNull()
            | (F.col("ts_ms") - F.lag("ts_ms").over(w) > 1800000),
            1,
        ).otherwise(0).alias("new_s"),
    )
    sess = flagged.select(
        "user_id", "ts_ms", "event_id", "event_type",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("sid"),
    )
    per = sess.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).alias("n"),
        (F.max("ts_ms") - F.min("ts_ms")).alias("dwell_ms"),
        F.min(F.struct("ts_ms", "event_id", "event_type"))["event_type"].alias("entry_type"),
    )
    return per.groupBy("entry_type").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.round(
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).cast("double") * 100.0 / F.count(F.lit(1)),
            4,
        ).alias("bounce_pct"),
        F.round(F.sum("dwell_ms").cast("double") / F.count(F.lit(1)) / 1000.0, 4).alias("avg_dwell_s"),
    )


_DTW_INF = 1 << 50


def dtw_tail(hourly: DataFrame) -> DataFrame:
    """Shared tail of the batch/streaming DTW queries over the
    (event_type, hour, cents) hour-of-day state: densify to 24 points,
    pack both series, run the ALL-INTEGER dynamic-programming warp.
    Because every cell is exact integer arithmetic, the two engines may
    use structurally different (but both correct) DP evaluations and
    still produce the identical cost — no float ordering discipline
    needed anywhere in this operator."""
    spark = hourly.sparkSession
    hours = spark.range(0, 24).select(F.col("id").alias("h"))
    dense = (
        hours.crossJoin(
            hourly.where(F.col("event_type").isin("view", "purchase"))
            .select(F.col("event_type").alias("et2")).distinct()
        )
        .join(
            hourly.select(F.col("event_type").alias("et"), F.col("hour").alias("h2"), "cents"),
            (F.col("h") == F.col("h2")) & (F.col("et") == F.col("et2")),
            "left",
        )
        .select("et2", "h", F.coalesce(F.col("cents"), F.lit(0)).alias("c"))
    )
    series = dense.groupBy(F.col("et2").alias("event_type")).agg(
        F.transform(F.array_sort(F.collect_list(F.struct("h", "c"))), lambda s: s["c"]).alias("v")
    )
    ab = (
        series.where(F.col("event_type") == "view").select(F.col("v").alias("a"))
        .crossJoin(series.where(F.col("event_type") == "purchase").select(F.col("v").alias("b")))
    )
    inf = F.lit(_DTW_INF).cast("long")
    base = F.concat(F.array(F.lit(0).cast("long")), F.array_repeat(inf, 24))

    def outer(prev, i):
        def inner(acc, j):
            cost = F.abs(
                F.element_at(F.col("a"), i.cast("int")) - F.element_at(F.col("b"), j.cast("int"))
            )
            last = F.element_at(acc, F.size(acc))
            return F.concat(
                acc,
                F.array(
                    cost
                    + F.least(
                        F.element_at(prev, (j + 1).cast("int")),
                        F.element_at(prev, j.cast("int")),
                        last,
                    )
                ),
            )

        return F.aggregate(F.sequence(F.lit(1), F.lit(24)), F.array(inf), inner)

    dtw = F.element_at(F.aggregate(F.sequence(F.lit(1), F.lit(24)), base, outer), 25)
    lockstep = F.aggregate(
        F.zip_with(F.col("a"), F.col("b"), lambda x, y: F.abs(x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return ab.select(
        F.lit(24).alias("n_points"),
        dtw.alias("dtw_cost"),
        lockstep.alias("lockstep_cost"),
        F.round(F.try_divide(dtw.cast("double"), lockstep.cast("double")), 6).alias("warp_gain"),
    )


@query(
    "q_dtw_distance",
    oracle=f"""
    WITH RECURSIVE hourly AS (
      SELECT event_type, (epoch_ms(ts) // 3600000) % 24 AS hour,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    hours AS (SELECT unnest(range(0, 24)) AS h),
    dense AS (
      SELECT t.et, hours.h, coalesce(hy.cents, 0) AS c
      FROM hours CROSS JOIN (SELECT DISTINCT event_type AS et FROM hourly
                             WHERE event_type IN ('view', 'purchase')) t
      LEFT JOIN hourly hy ON hy.hour = hours.h AND hy.event_type = t.et
    ),
    series AS (SELECT et, list(c ORDER BY h) AS v FROM dense GROUP BY 1),
    ab AS (
      SELECT a.v AS a, b.v AS b
      FROM (SELECT v FROM series WHERE et = 'view') a,
           (SELECT v FROM series WHERE et = 'purchase') b
    ),
    dp AS (
      SELECT 0 AS k,
             list_prepend(CAST(0 AS BIGINT), [CAST({_DTW_INF} AS BIGINT) FOR x IN range(24)]) AS prev,
             [CAST({_DTW_INF} AS BIGINT)] AS curr,
             a, b
      FROM ab
      UNION ALL
      SELECT k + 1,
             CASE WHEN (k % 24) = 0 AND k > 0 THEN curr ELSE prev END,
             list_append(
               CASE WHEN (k % 24) = 0 AND k > 0 THEN [CAST({_DTW_INF} AS BIGINT)] ELSE curr END,
               abs(a[(k // 24) + 1] - b[(k % 24) + 1])
               + least(
                   (CASE WHEN (k % 24) = 0 AND k > 0 THEN curr ELSE prev END)[(k % 24) + 2],
                   (CASE WHEN (k % 24) = 0 AND k > 0 THEN curr ELSE prev END)[(k % 24) + 1],
                   (CASE WHEN (k % 24) = 0 AND k > 0 THEN [CAST({_DTW_INF} AS BIGINT)] ELSE curr END)
                     [len(CASE WHEN (k % 24) = 0 AND k > 0 THEN [CAST({_DTW_INF} AS BIGINT)] ELSE curr END)]
                 )
             ),
             a, b
      FROM dp WHERE k < 576
    ),
    final AS (SELECT curr[25] AS dtw, a, b FROM dp WHERE k = 576),
    lock AS (
      SELECT dtw,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
               [CAST(abs(a[i+1] - b[i+1]) AS BIGINT) FOR i IN range(24)]), (x, y) -> x + y) AS BIGINT) AS lockstep
      FROM final
    )
    SELECT 24 AS n_points, CAST(dtw AS BIGINT) AS dtw_cost,
           lockstep AS lockstep_cost,
           round(CAST(dtw AS DOUBLE) / CAST(lockstep AS DOUBLE), 6) AS warp_gain
    FROM lock
    """,
)
def q_dtw_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N159: dynamic time warping distance (Sakoe & Chiba 1978) between
    the view and purchase hour-of-day revenue profiles — the elastic
    series-similarity measure that N37's lockstep euclidean cannot
    express (a 2-hour phase shift between traffic and conversion costs
    lockstep dearly but warps cheaply); reported beside the lockstep L1
    cost so warp_gain = dtw/lockstep <= 1 quantifies the phase
    misalignment. ALL-INTEGER DP over the 24x24 grid (|a_i - b_j| cents
    costs), so engine determinism is free — Spark runs a nested
    array-fold (row-by-row wavefront), the oracle a flattened 576-step
    recursive CTE, and the exact integer costs must agree. The series
    are grid-bounded state (types x 24), the q_timeseries_similarity
    trade: at 100 TB the profile rollup is the only data-sized pass."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.expr("(unix_millis(ts) div 3600000) % 24").alias("hour")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    return dtw_tail(hourly)


@query(
    "q_isotonic_calibration",
    oracle="""
    WITH ev AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS score, event_id,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ),
    binned AS (
      SELECT ntile(10) OVER (ORDER BY score, event_id) - 1 AS bin, y FROM ev
    ),
    bins AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
      FROM binned GROUP BY 1
    ),
    cum AS (
      SELECT bin, n, pos,
             CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
             CAST(sum(pos) OVER (ORDER BY bin) AS BIGINT) AS cp
      FROM bins
    ),
    seg AS (
      SELECT lo.bin AS i, hi.bin AS j,
             CAST(hi.cp - (lo.cp - lo.pos) AS DOUBLE) / (hi.cn - (lo.cn - lo.n)) AS avg
      FROM cum lo JOIN cum hi ON lo.bin <= hi.bin
    ),
    inner_min AS (
      SELECT k.bin AS k, s.i, min(s.avg) AS mn
      FROM cum k JOIN seg s ON s.i <= k.bin AND s.j >= k.bin
      GROUP BY 1, 2
    ),
    fit AS (SELECT k, max(mn) AS fitted FROM inner_min GROUP BY 1)
    SELECT c.bin, c.n, c.pos,
           round(CAST(c.pos AS DOUBLE) / c.n, 6) AS raw_rate,
           round(f.fitted, 6) AS fitted_rate
    FROM cum c JOIN fit f ON f.k = c.bin
    """,
)
def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N160: isotonic regression calibration (PAVA; Ayer et al. 1955) of
    purchase rate against the value score, computed by the CLOSED-FORM
    min-max identity fitted(k) = max_{i<=k} min_{j>=k} avg(y[i..j]) over
    10 score deciles — the monotone calibration map N8x's raw reliability
    table (L44) cannot guarantee, without iterating pool-adjacent
    violators. Segment averages are exact integer ratios off ONE prefix-
    sum pass (cp/cn cumulative positives/counts), so the min-max over the
    bounded 10x10x10 grid is deterministic; the decile assignment is an
    exact-count ntile over the (score, event_id) total order (the
    q_stratified_ate stance: swap for approx-quantile bounds at corpus
    scale — the grid math downstream is scale-free either way)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100).cast("long").alias("score"),
        "event_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    binned = ev.select(
        (F.ntile(10).over(Window.orderBy("score", "event_id")) - 1).alias("bin"), "y"
    )
    bins = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos")
    )
    wc = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = bins.select(
        "bin", "n", "pos",
        F.sum("n").over(wc).alias("cn"), F.sum("pos").over(wc).alias("cp"),
    )
    lo = cum.select(
        F.col("bin").alias("i"),
        (F.col("cn") - F.col("n")).alias("cn_lo"),
        (F.col("cp") - F.col("pos")).alias("cp_lo"),
    )
    hi = cum.select(F.col("bin").alias("j"), F.col("cn").alias("cn_hi"), F.col("cp").alias("cp_hi"))
    seg = (
        lo.join(hi, F.col("i") <= F.col("j"))
        .select(
            "i", "j",
            ((F.col("cp_hi") - F.col("cp_lo")).cast("double")
             / (F.col("cn_hi") - F.col("cn_lo"))).alias("avg"),
        )
    )
    k = cum.select(F.col("bin").alias("k"))
    inner = (
        k.join(seg, (F.col("i") <= F.col("k")) & (F.col("j") >= F.col("k")))
        .groupBy("k", "i")
        .agg(F.min("avg").alias("mn"))
    )
    fit = inner.groupBy("k").agg(F.max("mn").alias("fitted"))
    return (
        cum.join(fit, F.col("bin") == F.col("k"))
        .select(
            "bin", "n", "pos",
            F.round(F.col("pos").cast("double") / F.col("n"), 6).alias("raw_rate"),
            F.round(F.col("fitted"), 6).alias("fitted_rate"),
        )
    )


def logrank_tail(users: DataFrame) -> DataFrame:
    """Shared tail of the batch/streaming log-rank queries over the
    per-user survival state (user_id, g, t, ev): day-granularity risk
    sets via one prefix window over the days-bounded event-time table,
    exact integer O/E/V inputs, sorted folds for the day sums."""
    from pyspark.sql import Window

    per_day = users.groupBy("t").agg(
        F.sum(F.when(F.col("g") == 1, F.col("ev")).otherwise(0)).alias("d1"),
        F.sum("ev").alias("d"),
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).alias("r1"),
        F.count(F.lit(1)).alias("r"),
    )
    tot = users.agg(
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).alias("n1_total"),
        F.count(F.lit(1)).alias("n_total"),
    )
    wt = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = per_day.select(
        "t", "d1", "d",
        (F.coalesce(F.sum("r1").over(wt), F.lit(0))).alias("gone1"),
        (F.coalesce(F.sum("r").over(wt), F.lit(0))).alias("gone"),
    )
    terms = risk.crossJoin(F.broadcast(tot)).select(
        "t", "d1", "d",
        (F.col("n1_total") - F.col("gone1")).alias("n1j"),
        (F.col("n_total") - F.col("gone")).alias("nj"),
    ).where(F.col("d") > 0)
    e_term = F.col("d").cast("double") * F.col("n1j") / F.col("nj")
    v_term = F.coalesce(
        F.try_divide(
            F.col("d").cast("double") * F.col("n1j") * (F.col("nj") - F.col("n1j")) * (F.col("nj") - F.col("d")),
            F.col("nj").cast("double") * F.col("nj") * (F.col("nj") - 1),
        ),
        F.lit(0.0),
    )
    folded = terms.select("t", "d1", e_term.alias("e"), v_term.alias("v")).agg(
        F.sum("d1").alias("o1"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct(F.col("t"), F.col("e").alias("x")))),
            F.lit(0.0), lambda a, s: a + s["x"],
        ).alias("e1"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct(F.col("t"), F.col("v").alias("x")))),
            F.lit(0.0), lambda a, s: a + s["x"],
        ).alias("vv"),
    )
    totals = users.agg(
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).alias("n1_users"),
        F.sum(F.when(F.col("g") == 0, 1).otherwise(0)).alias("n0_users"),
    )
    chi2 = F.try_divide(
        (F.coalesce(F.col("o1"), F.lit(0)) - F.col("e1"))
        * (F.coalesce(F.col("o1"), F.lit(0)) - F.col("e1")),
        F.col("vv"),
    )
    return folded.crossJoin(F.broadcast(totals)).select(
        "n1_users", "n0_users",
        F.coalesce(F.col("o1"), F.lit(0)).alias("observed_g1"),
        F.round(F.col("e1"), 4).alias("expected_g1"),
        F.round(chi2, 4).alias("chi2"),
        F.when(chi2.isNull(), "n/a").when(chi2 > 3.841, "different").otherwise("similar").alias("verdict"),
    )


@query(
    "q_logrank_test",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_type, epoch_ms(ts) // 86400000 AS day FROM events
    ),
    per_user AS (
      SELECT user_id, min(day) AS d0, max(day) AS dlast,
             min(CASE WHEN event_type = 'purchase' THEN day END) AS dp,
             min(struct_pack(a := day, b := event_type))['b'] AS first_type
      FROM ev GROUP BY 1
    ),
    users AS (
      SELECT user_id,
             CASE WHEN first_type = 'view' THEN 1 ELSE 0 END AS g,
             CASE WHEN dp IS NOT NULL THEN dp - d0 ELSE dlast - d0 END AS t,
             CASE WHEN dp IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM per_user
    ),
    per_day AS (
      SELECT t,
             CAST(sum(CASE WHEN g = 1 THEN ev ELSE 0 END) AS BIGINT) AS d1,
             CAST(sum(ev) AS BIGINT) AS d,
             CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS r1,
             CAST(count(*) AS BIGINT) AS r
      FROM users GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1_total,
             CAST(count(*) AS BIGINT) AS n_total,
             CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0_total
      FROM users
    ),
    risk AS (
      SELECT t, d1, d,
             CAST(coalesce(sum(r1) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS gone1,
             CAST(coalesce(sum(r) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS gone
      FROM per_day
    ),
    terms AS (
      SELECT t, d1, d, n1_total - gone1 AS n1j, n_total - gone AS nj
      FROM risk, tot WHERE d > 0
    ),
    folded AS (
      SELECT CAST(sum(d1) AS BIGINT) AS o1,
             coalesce(list_reduce(list_prepend(0.0, list(
               CAST(d AS DOUBLE) * n1j / nj ORDER BY t)), (a, x) -> a + x), 0.0) AS e1,
             coalesce(list_reduce(list_prepend(0.0, list(
               coalesce(CAST(d AS DOUBLE) * n1j * (nj - n1j) * (nj - d)
                        / nullif(CAST(nj AS DOUBLE) * nj * (nj - 1), 0.0), 0.0)
               ORDER BY t)), (a, x) -> a + x), 0.0) AS vv
      FROM terms
    )
    SELECT tot.n1_total AS n1_users, tot.n0_total AS n0_users,
           CAST(coalesce(o1, 0) AS BIGINT) AS observed_g1,
           round(e1, 4) AS expected_g1,
           round((coalesce(o1, 0) - e1) * (coalesce(o1, 0) - e1) / nullif(vv, 0.0), 4) AS chi2,
           CASE WHEN (coalesce(o1, 0) - e1) * (coalesce(o1, 0) - e1) / nullif(vv, 0.0) IS NULL THEN 'n/a'
                WHEN (coalesce(o1, 0) - e1) * (coalesce(o1, 0) - e1) / nullif(vv, 0.0) > 3.841 THEN 'different'
                ELSE 'similar' END AS verdict
    FROM folded, tot
    """,
)
def q_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N161: log-rank test (Mantel 1966) comparing time-to-first-purchase
    survival between users who entered via a view vs everyone else —
    the hypothesis-test companion to N89's Kaplan-Meier curve and N114's
    Nelson-Aalen hazard (is the separation between two survival curves
    real, with censoring handled correctly — the naive conversion-rate
    comparison silently drops censored users). At each day with events:
    observed group-1 deaths vs the hypergeometric expectation/variance
    from exact integer risk sets (prefix-window over the days-bounded
    event-time table); the day terms fold in sorted order, and chi2
    rides try_divide (a single-day or one-group frame pins 'n/a')."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type",
        F.expr("unix_millis(ts) div 86400000").alias("day"),
    )
    per_user = ev.groupBy("user_id").agg(
        F.min("day").alias("d0"),
        F.max("day").alias("dlast"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("day"))).alias("dp"),
        F.min(F.struct("day", "event_type"))["event_type"].alias("first_type"),
    )
    users = per_user.select(
        "user_id",
        F.when(F.col("first_type") == "view", 1).otherwise(0).alias("g"),
        F.when(F.col("dp").isNotNull(), F.col("dp") - F.col("d0"))
        .otherwise(F.col("dlast") - F.col("d0")).alias("t"),
        F.when(F.col("dp").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    return logrank_tail(users)


# ---------------------------------------------------------------------------
# Round 8 wave 2: Cochran Q, price indices, Hurst R/S, Weibull fit, Croston.
# ---------------------------------------------------------------------------


def cochran_tail(pres: DataFrame) -> DataFrame:
    """Shared tail of the batch/streaming Cochran queries over the
    (event_type, user_id, day) presence state: three equal period thirds
    from the state's own day bounds, exact integer Q."""
    bounds = pres.agg(F.min("day").alias("dmin"), F.max("day").alias("dmax"))
    flags = (
        pres.crossJoin(F.broadcast(bounds))
        .select(
            "event_type", "user_id",
            F.least(F.lit(2), F.expr("((day - dmin) * 3) div (dmax - dmin + 1)")).alias("p"),
        )
        .groupBy("event_type", "user_id")
        .agg(
            F.max(F.when(F.col("p") == 0, 1).otherwise(0)).alias("x0"),
            F.max(F.when(F.col("p") == 1, 1).otherwise(0)).alias("x1"),
            F.max(F.when(F.col("p") == 2, 1).otherwise(0)).alias("x2"),
        )
    )
    ri = F.col("x0") + F.col("x1") + F.col("x2")
    g = flags.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("x0").alias("c0"), F.sum("x1").alias("c1"), F.sum("x2").alias("c2"),
        F.sum(ri * ri).alias("sum_r2"),
    )
    s = F.col("c0") + F.col("c1") + F.col("c2")
    sum_c2 = (
        F.col("c0").cast("decimal(38,0)") * F.col("c0")
        + F.col("c1").cast("decimal(38,0)") * F.col("c1")
        + F.col("c2").cast("decimal(38,0)") * F.col("c2")
    )
    qn = F.lit(2) * (F.lit(3) * sum_c2 - s.cast("decimal(38,0)") * s)
    qd = F.lit(3).cast("decimal(38,0)") * s - F.col("sum_r2")
    q = F.try_divide(qn.cast("double"), qd.cast("double"))
    return g.select(
        "event_type", "n_users",
        F.col("c0"), F.col("c1"), F.col("c2"),
        F.round(q, 4).alias("q_stat"),
        F.when(q.isNull(), "n/a").when(q > 5.991, "shifted").otherwise("stable").alias("verdict"),
    )


@query(
    "q_cochran_q",
    oracle="""
    WITH pres AS (
      SELECT event_type, user_id, epoch_ms(ts) // 86400000 AS day
      FROM events GROUP BY 1, 2, 3
    ),
    bounds AS (SELECT min(day) AS dmin, max(day) AS dmax FROM pres),
    flags AS (
      SELECT event_type, user_id,
             max(CASE WHEN least(2, ((day - dmin) * 3) // (dmax - dmin + 1)) = 0 THEN 1 ELSE 0 END) AS x0,
             max(CASE WHEN least(2, ((day - dmin) * 3) // (dmax - dmin + 1)) = 1 THEN 1 ELSE 0 END) AS x1,
             max(CASE WHEN least(2, ((day - dmin) * 3) // (dmax - dmin + 1)) = 2 THEN 1 ELSE 0 END) AS x2
      FROM pres, bounds GROUP BY 1, 2
    ),
    g AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(x0) AS BIGINT) AS c0, CAST(sum(x1) AS BIGINT) AS c1, CAST(sum(x2) AS BIGINT) AS c2,
             CAST(sum((x0 + x1 + x2) * (x0 + x1 + x2)) AS BIGINT) AS sum_r2
      FROM flags GROUP BY 1
    )
    SELECT event_type, n_users, c0, c1, c2,
           round(CAST(2 * (3 * (CAST(c0 AS HUGEINT) * c0 + CAST(c1 AS HUGEINT) * c1 + CAST(c2 AS HUGEINT) * c2)
                           - CAST(c0 + c1 + c2 AS HUGEINT) * (c0 + c1 + c2)) AS DOUBLE)
                 / CAST(3 * CAST(c0 + c1 + c2 AS HUGEINT) - sum_r2 AS DOUBLE), 4) AS q_stat,
           CASE WHEN 3 * CAST(c0 + c1 + c2 AS HUGEINT) - sum_r2 = 0 THEN 'n/a'
                WHEN CAST(2 * (3 * (CAST(c0 AS HUGEINT) * c0 + CAST(c1 AS HUGEINT) * c1 + CAST(c2 AS HUGEINT) * c2)
                               - CAST(c0 + c1 + c2 AS HUGEINT) * (c0 + c1 + c2)) AS DOUBLE)
                     / CAST(3 * CAST(c0 + c1 + c2 AS HUGEINT) - sum_r2 AS DOUBLE) > 5.991 THEN 'shifted'
                ELSE 'stable' END AS verdict
    FROM g
    """,
)
def q_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N162: Cochran's Q test (Cochran 1950) — k=3-period repeated-measures
    presence shift per event type, the k-sample generalization of N151's
    McNemar (did the SAME users' engagement pattern change across thirds
    of the observation window, with each user as their own control).
    FULLY exact integers: Q = (k-1)(k*sum C_j^2 - S^2)/(k*S - sum R_i^2)
    in decimal-widened arithmetic to ONE division under try_divide
    (an all-or-nothing panel zeroes the denominator — 'n/a'); verdict at
    the chi-square df=2 95% critical value. Same presence state as N151
    — the two tests share the streaming head."""
    ev = _t(spark, sf_dir, "events")
    pres = ev.groupBy(
        "event_type", "user_id", F.expr("unix_millis(ts) div 86400000").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    return cochran_tail(pres)


def price_index_tail(pm: DataFrame) -> DataFrame:
    """Shared tail of the batch/streaming price-index queries over the
    (partkey, month, qty, rev_cents) state: unit prices as exact integer
    division, Laspeyres/Paasche in basis points as pure integer
    arithmetic, Fisher as the one geometric-mean double."""
    priced = pm.select(
        "partkey", "month", "qty",
        F.expr("rev_cents div qty").alias("price_c"),
    )
    base_month = priced.agg(F.min("month").alias("m0"))
    base = (
        priced.crossJoin(F.broadcast(base_month))
        .where(F.col("month") == F.col("m0"))
        .select(F.col("partkey").alias("bpk"), F.col("qty").alias("q0"), F.col("price_c").alias("p0"))
    )
    joined = priced.join(F.broadcast(base), F.col("partkey") == F.col("bpk"))
    g = joined.groupBy("month").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum(F.col("price_c").cast("decimal(38,0)") * F.col("q0")).alias("lnum"),
        F.sum(F.col("p0").cast("decimal(38,0)") * F.col("q0")).alias("lden"),
        F.sum(F.col("price_c").cast("decimal(38,0)") * F.col("qty")).alias("pnum"),
        F.sum(F.col("p0").cast("decimal(38,0)") * F.col("qty")).alias("pden"),
    )
    lasp = F.expr("CASE WHEN lden = 0 THEN NULL ELSE (lnum * 10000) div lden END")
    paas = F.expr("CASE WHEN pden = 0 THEN NULL ELSE (pnum * 10000) div pden END")
    return g.select(
        "month", "n_parts",
        lasp.cast("long").alias("laspeyres_bp"),
        paas.cast("long").alias("paasche_bp"),
        F.round(F.sqrt(lasp.cast("double") * paas.cast("double")), 4).alias("fisher_bp"),
    )


@query(
    "q_price_index",
    oracle="""
    WITH pm AS (
      SELECT l_partkey AS partkey,
             (year(l_shipdate) - 1992) * 12 + month(l_shipdate) - 1 AS month,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
      FROM lineitem GROUP BY 1, 2 HAVING sum(CAST(round(l_quantity) AS BIGINT)) > 0
    ),
    priced AS (SELECT partkey, month, qty, rev_cents // qty AS price_c FROM pm),
    m0 AS (SELECT min(month) AS m0 FROM priced),
    base AS (
      SELECT partkey AS bpk, qty AS q0, price_c AS p0 FROM priced, m0 WHERE month = m0.m0
    ),
    g AS (
      SELECT month, CAST(count(*) AS BIGINT) AS n_parts,
             sum(CAST(price_c AS HUGEINT) * q0) AS lnum,
             sum(CAST(p0 AS HUGEINT) * q0) AS lden,
             sum(CAST(price_c AS HUGEINT) * qty) AS pnum,
             sum(CAST(p0 AS HUGEINT) * qty) AS pden
      FROM priced JOIN base ON bpk = partkey GROUP BY 1
    )
    SELECT month, n_parts,
           CAST((lnum * 10000) // lden AS BIGINT) AS laspeyres_bp,
           CAST((pnum * 10000) // pden AS BIGINT) AS paasche_bp,
           round(sqrt(CAST((lnum * 10000) // lden AS DOUBLE) * CAST((pnum * 10000) // pden AS DOUBLE)), 4) AS fisher_bp
    FROM g
    """,
)
def q_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N163: monthly price indices (Laspeyres 1871 / Paasche 1874 /
    Fisher 1922) over the part catalog — the inflation-tracking rollup
    finance and pricing teams run on transaction data: Laspeyres weights
    by the BASE month's basket (did existing purchases get pricier),
    Paasche by the current basket, Fisher the geometric compromise.
    EXACT INTEGER throughout: unit prices = rev_cents div qty, index
    points = (sum p_t*q_0 * 10000) div (sum p_0*q_0) in decimal-widened
    basis points — no float enters until the one Fisher sqrt. One
    (part, month) rollup, base-month broadcast, months-bounded output."""
    li = _t(spark, sf_dir, "lineitem")
    pm = (
        li.groupBy(
            F.col("l_partkey").alias("partkey"),
            ((F.year("l_shipdate") - 1992) * 12 + F.month("l_shipdate") - 1).alias("month"),
        )
        .agg(
            F.sum(F.round(F.col("l_quantity")).cast("long")).alias("qty"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("rev_cents"),
        )
        .where(F.col("qty") > 0)
    )
    return price_index_tail(pm)


def hurst_tail(daily: DataFrame) -> DataFrame:
    """Shared tail of the batch/streaming Hurst queries over the
    (day, cents) daily-total state: rescaled-range analysis at block
    scales {8,16,32}. Block statistics use exact integer prefix sums
    (an O(m^2) in-expression scan per block — m <= 32, trivial) so the
    partial-sum deviations are pure doubles of exact integers; block
    ln(R/S) terms and the final 3-point regression fold in index order."""
    spark = daily.sparkSession
    arr = daily.agg(
        F.array_sort(F.collect_list(F.struct("day", "cents"))).alias("s")
    ).select(F.transform(F.col("s"), lambda x: x["cents"]).alias("xs"))
    scales = spark.createDataFrame([(8,), (16,), (32,)], "m int")
    rows = arr.crossJoin(F.broadcast(scales)).where(F.size("xs") >= F.col("m"))

    def block_ln_rs(b):
        blk = F.slice(F.col("xs"), (b * F.col("m") + 1).cast("int"), F.col("m"))
        ssum = F.aggregate(blk, F.lit(0).cast("long"), lambda a, x: a + x)
        mean = ssum.cast("double") / F.col("m")
        presum = F.transform(
            F.sequence(F.lit(1), F.col("m")),
            lambda j: F.aggregate(
                F.slice(blk, 1, j.cast("int")), F.lit(0).cast("long"), lambda a, x: a + x
            ).cast("double") - j.cast("double") * mean,
        )
        r = F.array_max(presum) - F.array_min(presum)
        ss = F.aggregate(
            blk, F.lit(0.0), lambda a, x: a + (x.cast("double") - mean) * (x - mean)
        )
        s = F.sqrt(ss / F.col("m"))
        return F.when(s > 0, F.log(r / s))

    per_scale = rows.select(
        "m",
        F.filter(
            F.transform(
                F.sequence(F.lit(0), (F.size("xs") / F.col("m")).cast("int") - 1),
                block_ln_rs,
            ),
            lambda v: v.isNotNull(),
        ).alias("lnrs"),
        F.size("xs").alias("n_days"),
    ).where(F.size("lnrs") > 0)
    pts = per_scale.select(
        "m", "n_days",
        F.size("lnrs").alias("n_blocks"),
        (F.aggregate("lnrs", F.lit(0.0), lambda a, v: a + v) / F.size("lnrs")).alias("y"),
        F.log(F.col("m").cast("double")).alias("x"),
    )
    g = pts.agg(
        F.max("n_days").alias("n_days"),
        F.count(F.lit(1)).alias("n_scales"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("m", F.col("x").alias("v")))),
            F.lit(0.0), lambda a, s: a + s["v"],
        ).alias("sx"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("m", F.col("y").alias("v")))),
            F.lit(0.0), lambda a, s: a + s["v"],
        ).alias("sy"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("m", (F.col("x") * F.col("y")).alias("v")))),
            F.lit(0.0), lambda a, s: a + s["v"],
        ).alias("sxy"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("m", (F.col("x") * F.col("x")).alias("v")))),
            F.lit(0.0), lambda a, s: a + s["v"],
        ).alias("sxx"),
    )
    h = F.try_divide(
        F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n_scales"),
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n_scales"),
    )
    return g.where(F.col("n_scales") > 0).select(
        "n_days", "n_scales",
        F.round(h, 4).alias("hurst"),
        F.when(h.isNull(), "n/a")
        .when(h > 0.6, "trending")
        .when(h < 0.4, "mean-reverting")
        .otherwise("random-walk")
        .alias("verdict"),
    )


@query(
    "q_hurst_exponent",
    oracle="""
    WITH daily AS (
      SELECT epoch_ms(ts) // 86400000 AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1
    ),
    series AS (SELECT list(cents ORDER BY day) AS xs FROM daily),
    scales AS (SELECT unnest([8, 16, 32]) AS m),
    rows_ AS (SELECT m, xs FROM series, scales WHERE len(xs) >= m),
    per_block AS (
      SELECT m, len(xs) AS n_days,
             list_filter([
               CASE WHEN sqrt(list_reduce(list_prepend(0.0,
                        [ (CAST(x AS DOUBLE) - CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), xs[b*m+1 : b*m+m]), (u, v) -> u + v) AS DOUBLE) / m)
                          * (x - CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), xs[b*m+1 : b*m+m]), (u, v) -> u + v) AS DOUBLE) / m)
                          FOR x IN xs[b*m+1 : b*m+m] ]), (u, v) -> u + v) / m) > 0
               THEN ln(
                 (list_max([ CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), xs[b*m+1 : b*m+j]), (u, v) -> u + v) AS DOUBLE)
                             - j * (CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), xs[b*m+1 : b*m+m]), (u, v) -> u + v) AS DOUBLE) / m)
                             FOR j IN range(1, m + 1) ])
                  - list_min([ CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), xs[b*m+1 : b*m+j]), (u, v) -> u + v) AS DOUBLE)
                               - j * (CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), xs[b*m+1 : b*m+m]), (u, v) -> u + v) AS DOUBLE) / m)
                               FOR j IN range(1, m + 1) ]))
                 / sqrt(list_reduce(list_prepend(0.0,
                     [ (CAST(x AS DOUBLE) - CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), xs[b*m+1 : b*m+m]), (u, v) -> u + v) AS DOUBLE) / m)
                       * (x - CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), xs[b*m+1 : b*m+m]), (u, v) -> u + v) AS DOUBLE) / m)
                       FOR x IN xs[b*m+1 : b*m+m] ]), (u, v) -> u + v) / m))
               END
               FOR b IN range(0, len(xs) // m) ], v -> v IS NOT NULL) AS lnrs
      FROM rows_
    ),
    pts AS (
      SELECT m, n_days, len(lnrs) AS n_blocks,
             list_reduce(list_prepend(0.0, lnrs), (a, v) -> a + v) / len(lnrs) AS y,
             ln(CAST(m AS DOUBLE)) AS x
      FROM per_block WHERE len(lnrs) > 0
    ),
    g AS (
      SELECT CAST(max(n_days) AS BIGINT) AS n_days, CAST(count(*) AS BIGINT) AS n_scales,
             list_reduce(list_prepend(0.0, list(x ORDER BY m)), (a, v) -> a + v) AS sx,
             list_reduce(list_prepend(0.0, list(y ORDER BY m)), (a, v) -> a + v) AS sy,
             list_reduce(list_prepend(0.0, list(x * y ORDER BY m)), (a, v) -> a + v) AS sxy,
             list_reduce(list_prepend(0.0, list(x * x ORDER BY m)), (a, v) -> a + v) AS sxx
      FROM pts
    )
    SELECT n_days, CAST(n_scales AS BIGINT) AS n_scales,
           round((sxy - sx * sy / n_scales) / nullif(sxx - sx * sx / n_scales, 0.0), 4) AS hurst,
           CASE WHEN (sxy - sx * sy / n_scales) / nullif(sxx - sx * sx / n_scales, 0.0) IS NULL THEN 'n/a'
                WHEN (sxy - sx * sy / n_scales) / nullif(sxx - sx * sx / n_scales, 0.0) > 0.6 THEN 'trending'
                WHEN (sxy - sx * sy / n_scales) / nullif(sxx - sx * sx / n_scales, 0.0) < 0.4 THEN 'mean-reverting'
                ELSE 'random-walk' END AS verdict
    FROM g WHERE n_scales > 0
    """,
)
def q_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N164: Hurst exponent via rescaled-range analysis (Hurst 1951;
    Mandelbrot & Wallis 1969) of the daily revenue series — long-memory
    diagnosis beside N101's short-lag ACF: H > 0.5 means shocks persist
    (trending), H < 0.5 mean-reversion, 0.5 a random walk; the number
    that decides whether N112's drawdown statistics understate tail risk.
    Per-block R/S at scales {8,16,32} from exact integer prefix sums
    (O(m^2) in-expression, m <= 32); H = the 3-point log-log regression
    slope, all folds in index order. The series is days-bounded state
    (the page-hinkley shape) — one daily rollup is the only data pass."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.expr("unix_millis(ts) div 86400000").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    )
    return hurst_tail(daily)


def weibull_tail(users: DataFrame) -> DataFrame:
    """Shared tail of the batch/streaming Weibull queries over the
    per-user survival state (user_id, t, ev): median-rank linearized-CDF
    regression over DISTINCT lifetimes (days-bounded points)."""
    from pyspark.sql import Window

    obs = users.where(F.col("ev") == 1)
    n = obs.agg(F.count(F.lit(1)).alias("n"))
    per_t = obs.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    wc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    pts = per_t.select(
        "t", F.sum("c").over(wc).alias("chi")
    ).crossJoin(F.broadcast(n)).select(
        "t",
        F.log(F.col("t").cast("double")).alias("x"),
        F.log(-F.log(F.lit(1.0) - (F.col("chi").cast("double") - 0.3) / (F.col("n") + 0.4))).alias("y"),
    )
    g = pts.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("t", F.col("x").alias("v")))),
            F.lit(0.0), lambda a, s: a + s["v"],
        ).alias("sx"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("t", F.col("y").alias("v")))),
            F.lit(0.0), lambda a, s: a + s["v"],
        ).alias("sy"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("t", (F.col("x") * F.col("y")).alias("v")))),
            F.lit(0.0), lambda a, s: a + s["v"],
        ).alias("sxy"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("t", (F.col("x") * F.col("x")).alias("v")))),
            F.lit(0.0), lambda a, s: a + s["v"],
        ).alias("sxx"),
    )
    k = F.try_divide(
        F.col("sxy") - F.try_divide(F.col("sx") * F.col("sy"), F.col("n_points")),
        F.col("sxx") - F.try_divide(F.col("sx") * F.col("sx"), F.col("n_points")),
    )
    lam = F.exp(
        F.try_divide(F.col("sx"), F.col("n_points"))
        - F.try_divide(F.try_divide(F.col("sy"), F.col("n_points")), k)
    )
    return g.crossJoin(F.broadcast(n)).select(
        F.col("n").alias("n_obs"),
        "n_points",
        F.round(k, 4).alias("shape_k"),
        F.round(lam, 4).alias("scale_days"),
    )


@query(
    "q_weibull_fit",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_type, epoch_ms(ts) // 86400000 AS day FROM events
    ),
    per_user AS (
      SELECT user_id, min(day) AS d0,
             min(CASE WHEN event_type = 'purchase' THEN day END) AS dp
      FROM ev GROUP BY 1
    ),
    users AS (
      SELECT user_id, coalesce(dp, d0) - d0 + 1 AS t,
             CASE WHEN dp IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM per_user
    ),
    obs AS (SELECT * FROM users WHERE ev = 1),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM obs),
    per_t AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM obs GROUP BY 1),
    pts AS (
      SELECT t, ln(CAST(t AS DOUBLE)) AS x,
             ln(-ln(1.0 - (CAST(sum(c) OVER (ORDER BY t) AS DOUBLE) - 0.3) / (n.n + 0.4))) AS y
      FROM per_t, n
    ),
    g AS (
      SELECT CAST(count(*) AS BIGINT) AS n_points,
             list_reduce(list_prepend(0.0, list(x ORDER BY t)), (a, v) -> a + v) AS sx,
             list_reduce(list_prepend(0.0, list(y ORDER BY t)), (a, v) -> a + v) AS sy,
             list_reduce(list_prepend(0.0, list(x * y ORDER BY t)), (a, v) -> a + v) AS sxy,
             list_reduce(list_prepend(0.0, list(x * x ORDER BY t)), (a, v) -> a + v) AS sxx
      FROM pts
    )
    SELECT n.n AS n_obs, n_points,
           round((sxy - sx * sy / nullif(n_points, 0)) / nullif(sxx - sx * sx / nullif(n_points, 0), 0.0), 4) AS shape_k,
           round(exp(sx / nullif(n_points, 0)
                     - (sy / nullif(n_points, 0)) / nullif((sxy - sx * sy / nullif(n_points, 0)) / nullif(sxx - sx * sx / nullif(n_points, 0), 0.0), 0.0)), 4) AS scale_days
    FROM g, n
    """,
)
def q_weibull_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N165: Weibull survival fit (Weibull 1951; median-rank regression,
    Benard's approximation) of time-to-first-purchase — the PARAMETRIC
    member of the survival family (N89 KM curve, N114 NA hazard, N161
    log-rank): shape k < 1 means conversion hazard falls with time
    (convert-early-or-never — spend retargeting budget early), k > 1
    rising hazard. Linearized-CDF regression ln(-ln(1-F)) on ln(t) over
    DISTINCT day lifetimes (days-bounded points, ECDF at each distinct
    value) with all regression sums as sorted folds — no regr_* partial
    float aggregation; slope/scale divisions under try_divide (a
    single-point fit pins NULL)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr("unix_millis(ts) div 86400000").alias("day")
    )
    per_user = ev.groupBy("user_id").agg(
        F.min("day").alias("d0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("day"))).alias("dp"),
    )
    users = per_user.select(
        "user_id",
        (F.coalesce(F.col("dp"), F.col("d0")) - F.col("d0") + 1).alias("t"),
        F.when(F.col("dp").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    return weibull_tail(users)


def croston_tail(daily: DataFrame) -> DataFrame:
    """Shared tail of the batch/streaming Croston queries over the
    (event_type, day, cents) daily state: dense day spine from the
    state's own bounds, per-type sequential fold (alpha = 0.2) with all
    previous-state references explicit (Spark simultaneous lambda ==
    recursive-CTE oracle semantics)."""
    bounds = daily.agg(F.min("day").alias("dmin"), F.max("day").alias("dmax"))
    types = daily.select(F.col("event_type").alias("et")).distinct()
    spine = (
        types.crossJoin(F.broadcast(bounds))
        .select("et", F.explode(F.sequence(F.col("dmin"), F.col("dmax"))).alias("d"))
    )
    dense = spine.join(
        daily.select(F.col("event_type").alias("e2"), F.col("day").alias("d2"), "cents"),
        (F.col("et") == F.col("e2")) & (F.col("d") == F.col("d2")),
        "left",
    ).select("et", "d", F.coalesce(F.col("cents"), F.lit(0)).alias("q"))
    arr = dense.groupBy("et").agg(
        F.transform(F.array_sort(F.collect_list(F.struct("d", "q"))), lambda s: s["q"]).alias("qs")
    )
    init = F.struct(
        F.lit(0.0).alias("z"),
        F.lit(0.0).alias("p"),
        F.lit(1).cast("long").alias("gap"),
        F.lit(0).alias("started"),
        F.lit(0).cast("long").alias("nd"),
    )

    def step(acc, q):
        demand = q > 0
        z1 = F.when(
            demand,
            F.when(acc["started"] == 1, acc["z"] + F.lit(0.2) * (q.cast("double") - acc["z"]))
            .otherwise(q.cast("double")),
        ).otherwise(acc["z"])
        p1 = F.when(
            demand,
            F.when(acc["started"] == 1, acc["p"] + F.lit(0.2) * (acc["gap"].cast("double") - acc["p"]))
            .otherwise(acc["gap"].cast("double")),
        ).otherwise(acc["p"])
        return F.struct(
            z1.alias("z"),
            p1.alias("p"),
            F.when(demand, F.lit(1).cast("long")).otherwise(acc["gap"] + 1).alias("gap"),
            F.when(demand, 1).otherwise(acc["started"]).alias("started"),
            (acc["nd"] + F.when(demand, 1).otherwise(0)).alias("nd"),
        )

    st = arr.select(
        "et",
        F.size("qs").alias("n_days"),
        F.aggregate("qs", init, step).alias("s"),
    )
    return st.select(
        F.col("et").alias("event_type"),
        "n_days",
        F.col("s")["nd"].alias("n_demand_days"),
        F.round(F.col("s")["z"], 4).alias("smoothed_size"),
        F.round(F.col("s")["p"], 4).alias("smoothed_interval"),
        F.round(F.try_divide(F.col("s")["z"], F.col("s")["p"]), 4).alias("demand_per_day"),
    )


@query(
    "q_croston",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT event_type, epoch_ms(ts) // 86400000 AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2
    ),
    bounds AS (SELECT min(day) AS dmin, max(day) AS dmax FROM daily),
    spine AS (
      SELECT t.et, b.dmin + u.i AS d, u.i + 1 AS t
      FROM (SELECT DISTINCT event_type AS et FROM daily) t,
           bounds b, unnest(range(0, CAST(b.dmax - b.dmin + 1 AS BIGINT))) AS u(i)
    ),
    dense AS (
      SELECT s.et, s.t, coalesce(dy.cents, 0) AS q
      FROM spine s LEFT JOIN daily dy ON dy.event_type = s.et AND dy.day = s.d
    ),
    nmax AS (SELECT max(t) AS n FROM dense),
    cr AS (
      SELECT et, t, q,
             CASE WHEN q > 0 THEN CAST(q AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS z,
             CASE WHEN q > 0 THEN CAST(1 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS p,
             CASE WHEN q > 0 THEN CAST(1 AS BIGINT) ELSE CAST(2 AS BIGINT) END AS gap,
             CASE WHEN q > 0 THEN 1 ELSE 0 END AS started,
             CASE WHEN q > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS nd
      FROM dense WHERE t = 1
      UNION ALL
      SELECT d.et, d.t, d.q,
             CASE WHEN d.q > 0 THEN
               CASE WHEN cr.started = 1 THEN cr.z + CAST(0.2 AS DOUBLE) * (CAST(d.q AS DOUBLE) - cr.z)
                    ELSE CAST(d.q AS DOUBLE) END
             ELSE cr.z END,
             CASE WHEN d.q > 0 THEN
               CASE WHEN cr.started = 1 THEN cr.p + CAST(0.2 AS DOUBLE) * (CAST(cr.gap AS DOUBLE) - cr.p)
                    ELSE CAST(cr.gap AS DOUBLE) END
             ELSE cr.p END,
             CASE WHEN d.q > 0 THEN CAST(1 AS BIGINT) ELSE cr.gap + 1 END,
             CASE WHEN d.q > 0 THEN 1 ELSE cr.started END,
             cr.nd + CASE WHEN d.q > 0 THEN 1 ELSE 0 END
      FROM cr JOIN dense d ON d.et = cr.et AND d.t = cr.t + 1
    )
    SELECT et AS event_type, CAST(nmax.n AS INTEGER) AS n_days, nd AS n_demand_days,
           round(z, 4) AS smoothed_size,
           round(p, 4) AS smoothed_interval,
           round(z / nullif(p, 0.0), 4) AS demand_per_day
    FROM cr, nmax WHERE t = nmax.n
    """,
)
def q_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N166: Croston's intermittent-demand method (Croston 1972) per
    event type — the forecasting standard for sparse demand that plain
    EWMA (N74) systematically underestimates: demand SIZE and demand
    INTERVAL are smoothed separately (alpha = 0.2, only on demand days)
    and the rate is their ratio. The per-day recursion folds over the
    dense day spine (zero-filled from the state's own bounds, the N27
    gap-fill shape); the multi-field state has no same-step
    cross-references, and the oracle recursion carries ALL types in one
    recursive CTE level (multi-row recursion). try_divide pins the
    never-any-demand type to NULL."""
    ev = _t(spark, sf_dir, "events").where(F.col("event_type").isNotNull())
    daily = ev.groupBy(
        "event_type", F.expr("unix_millis(ts) div 86400000").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    return croston_tail(daily)


def abc_xyz_tail(pw: DataFrame) -> DataFrame:
    """Shared tail of the batch/streaming ABC-XYZ queries over the
    (partkey, week, q, cents) state — one part-week-bounded commutative
    state serves BOTH classifications (revenue sums for ABC, weekly
    quantity moments for XYZ)."""
    from pyspark.sql.window import Window

    rev = pw.groupBy(F.col("partkey").alias("l_partkey")).agg(F.sum("cents").alias("cents"))
    wc = Window.orderBy(F.col("cents").desc(), "l_partkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy()
    abc = rev.select(
        F.col("l_partkey").alias("apk"),
        "cents",
        F.sum("cents").over(wc).alias("cum"),
        F.sum("cents").over(wt).alias("tot"),
    ).select(
        "apk", "cents", "tot",
        F.when(F.col("cum") * 100 <= F.col("tot") * 80, "A")
        .when(F.col("cum") * 100 <= F.col("tot") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    m = pw.groupBy(F.col("partkey").alias("l_partkey")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("s"),
        F.sum(F.col("q") * F.col("q").cast("decimal(38,0)")).alias("qq"),
    )
    s2 = F.col("s") * F.col("s").cast("decimal(38,0)")
    xyz = m.select(
        F.col("l_partkey").alias("xpk"),
        F.when(F.col("s") == 0, "n/a")
        .when(4 * F.col("n") * F.col("qq") <= 5 * s2, "X")
        .when(F.col("n") * F.col("qq") <= 2 * s2, "Y")
        .otherwise("Z")
        .alias("xyz_class"),
    )
    j = abc.join(xyz, F.col("apk") == F.col("xpk"))
    return j.groupBy("abc_class", "xyz_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("cents").alias("revenue_cents"),
        F.round(
            F.try_divide(F.sum("cents").cast("double") * 100.0, F.max("tot").cast("double")), 4
        ).alias("revenue_pct"),
    )


@query(
    "q_abc_xyz_matrix",
    oracle="""
    WITH rev AS (
      SELECT l_partkey, CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem GROUP BY 1
    ),
    abc AS (
      SELECT l_partkey AS apk, cents,
             CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
             CAST(sum(cents) OVER () AS BIGINT) AS tot
      FROM rev
    ),
    abc2 AS (
      SELECT apk, cents, tot,
             CASE WHEN cum * 100 <= tot * 80 THEN 'A'
                  WHEN cum * 100 <= tot * 95 THEN 'B'
                  ELSE 'C' END AS abc_class
      FROM abc
    ),
    wk AS (
      SELECT l_partkey, epoch_ms(l_shipdate) // 604800000 AS week,
             CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS q
      FROM lineitem GROUP BY 1, 2
    ),
    m AS (
      SELECT l_partkey AS xpk, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(q) AS BIGINT) AS s,
             sum(CAST(q AS HUGEINT) * q) AS qq
      FROM wk GROUP BY 1
    ),
    xyz AS (
      SELECT xpk,
             CASE WHEN s = 0 THEN 'n/a'
                  WHEN 4 * n * qq <= 5 * CAST(s AS HUGEINT) * s THEN 'X'
                  WHEN n * qq <= 2 * CAST(s AS HUGEINT) * s THEN 'Y'
                  ELSE 'Z' END AS xyz_class
      FROM m
    )
    SELECT abc_class, xyz_class, CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(cents) AS BIGINT) AS revenue_cents,
           round(CAST(sum(cents) AS DOUBLE) * 100.0 / nullif(max(tot), 0), 4) AS revenue_pct
    FROM abc2 JOIN xyz ON xpk = apk
    GROUP BY 1, 2
    """,
)
def q_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N167: the ABC-XYZ stocking-policy matrix — N80's revenue-Pareto
    classes crossed with N142's demand-variability classes into the
    9-cell grid inventory planning actually uses (AX = automate, CZ =
    make-to-order or delist), with part counts and revenue share per
    cell. Both classifications keep their exact-integer machinery (rank
    windows over part-cardinality rollups, cross-multiplied CV classes
    in decimal/HUGEINT) and share ONE (part, week)-bounded rollup — the
    state the streaming twin drains. One budgeted single-partition
    window inherited from the ABC side (the q_abc_classification
    allowance argument)."""
    li = _t(spark, sf_dir, "lineitem")
    pw = li.groupBy(
        F.col("l_partkey").alias("partkey"),
        F.expr("unix_millis(l_shipdate) div 604800000").alias("week"),
    ).agg(
        F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("q"),
        F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long")).alias("cents"),
    )
    return abc_xyz_tail(pw)


def seasonal_mk_tail(daily: DataFrame) -> DataFrame:
    """Shared tail of the batch/streaming seasonal Mann-Kendall queries
    over the (day, cents) daily-total state: per-weekday-stratum sign
    pairs and tie-corrected variances, summed across strata."""
    d = daily.select("day", "cents", F.expr("((day % 7) + 7) % 7").alias("wd"))
    a = d.select(F.col("wd").alias("wa"), F.col("day").alias("di"), F.col("cents").alias("ci"))
    b = d.select(F.col("wd").alias("wb"), F.col("day").alias("dj"), F.col("cents").alias("cj"))
    s = (
        a.join(b, F.col("wa") == F.col("wb"))
        .where(F.col("dj") > F.col("di"))
        .agg(
            F.coalesce(
                F.sum(
                    F.when(F.col("cj") > F.col("ci"), 1)
                    .when(F.col("cj") < F.col("ci"), -1)
                    .otherwise(0)
                ),
                F.lit(0),
            ).alias("s_stat")
        )
    )
    per_stratum = d.groupBy(F.col("wd").alias("nw")).agg(F.count(F.lit(1)).alias("nk"))
    ties = (
        d.groupBy(F.col("wd").alias("tw"), "cents")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("tw")
        .agg(F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)).alias("tie_term"))
    )
    var = (
        per_stratum.join(ties, F.col("nw") == F.col("tw"))
        .agg(
            F.sum(
                F.col("nk") * (F.col("nk") - 1) * (2 * F.col("nk") + 5) - F.col("tie_term")
            ).alias("var_s_x18"),
            F.count(F.lit(1)).alias("n_strata"),
            F.sum("nk").alias("n_days"),
        )
    )
    v = s.crossJoin(F.broadcast(var))
    zraw = (
        F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1) / F.sqrt(F.col("var_s_x18") / 18.0))
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / F.sqrt(F.col("var_s_x18") / 18.0))
        .otherwise(F.lit(0.0))
    )
    return v.select(
        "n_days", "n_strata", "s_stat", "var_s_x18",
        F.round(zraw, 4).alias("z_stat"),
        F.when(zraw > 1.96, F.lit("increasing"))
        .when(zraw < -1.96, F.lit("decreasing"))
        .otherwise(F.lit("no_trend"))
        .alias("trend"),
    )


@query(
    "q_seasonal_mann_kendall",
    oracle="""
    WITH daily AS (
      SELECT epoch_ms(ts) // 86400000 AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1
    ),
    d AS (SELECT day, cents, ((day % 7) + 7) % 7 AS wd FROM daily),
    s AS (
      SELECT CAST(coalesce(sum(CASE WHEN b.cents > a.cents THEN 1
                                    WHEN b.cents < a.cents THEN -1 ELSE 0 END), 0) AS BIGINT) AS s_stat
      FROM d a JOIN d b ON a.wd = b.wd AND b.day > a.day
    ),
    per_stratum AS (SELECT wd, CAST(count(*) AS BIGINT) AS nk FROM d GROUP BY 1),
    ties AS (
      SELECT wd, CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
      FROM (SELECT wd, cents, CAST(count(*) AS BIGINT) AS t FROM d GROUP BY 1, 2)
      GROUP BY 1
    ),
    var_ AS (
      SELECT CAST(sum(nk * (nk - 1) * (2 * nk + 5) - tie_term) AS BIGINT) AS var_s_x18,
             CAST(count(*) AS BIGINT) AS n_strata,
             CAST(sum(nk) AS BIGINT) AS n_days
      FROM per_stratum JOIN ties ON ties.wd = per_stratum.wd
    ),
    z AS (
      SELECT n_days, n_strata, s_stat, var_s_x18,
             CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s_x18 / 18.0)
                  WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s_x18 / 18.0)
                  ELSE 0.0 END AS zraw
      FROM s, var_
    )
    SELECT n_days, n_strata, s_stat, var_s_x18,
           round(zraw, 4) AS z_stat,
           CASE WHEN zraw > 1.96 THEN 'increasing'
                WHEN zraw < -1.96 THEN 'decreasing'
                ELSE 'no_trend' END AS trend
    FROM z
    """,
)
def q_seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N168: seasonal Mann-Kendall trend test (Hirsch & Slack 1984) on
    the daily revenue total, stratified by day-of-week — the trend test
    to run when the series has a weekly cycle N106's plain MK mistakes
    for noise (or trend): sign pairs only compare Mondays with Mondays,
    so the weekend dip never enters S; per-stratum tie-corrected
    variances sum across strata. Same exact-integer machinery as N106
    (S and the x18 variance numerator are BIGINT; one division + one
    IEEE sqrt in the identical expression tree); the pair join is
    days^2/7-bounded — cheaper than plain MK."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.expr("unix_millis(ts) div 86400000").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    )
    return seasonal_mk_tail(daily)


def poisson_rate_tail(counts: DataFrame) -> DataFrame:
    """Shared tail of the batch/streaming Poisson-rate queries over the
    (event_type, day, k) daily count state: calendar-day halves from the
    state's own bounds, exact integer counts into one z expression."""
    bounds = counts.agg(F.min("day").alias("dmin"), F.max("day").alias("dmax")).select(
        F.expr("(dmin + dmax) div 2").alias("mid"),
        F.col("dmin"), F.col("dmax"),
    )
    g = (
        counts.crossJoin(F.broadcast(bounds))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("day") <= F.col("mid"), F.col("k")).otherwise(0)).alias("k1"),
            F.sum(F.when(F.col("day") > F.col("mid"), F.col("k")).otherwise(0)).alias("k2"),
            (F.max("mid") - F.max("dmin") + 1).alias("t1"),
            (F.max("dmax") - F.max("mid")).alias("t2"),
        )
    )
    r1 = F.col("k1").cast("double") / F.col("t1")
    r2 = F.col("k2").cast("double") / F.col("t2")
    se = F.sqrt(
        F.col("k1").cast("double") / (F.col("t1") * F.col("t1"))
        + F.col("k2").cast("double") / (F.col("t2") * F.col("t2"))
    )
    z = F.when(
        (F.col("t1") > 0) & (F.col("t2") > 0) & (F.col("k1") + F.col("k2") > 0),
        (r1 - r2) / se,
    )
    return g.select(
        "event_type", "k1", "k2", "t1", "t2",
        F.round(z, 4).alias("z_stat"),
        F.when(z.isNull(), "n/a")
        .when(F.abs(z) > 1.96, "rate-changed")
        .otherwise("stable")
        .alias("verdict"),
    )


@query(
    "q_poisson_rate_test",
    oracle="""
    WITH counts AS (
      SELECT event_type, epoch_ms(ts) // 86400000 AS day, CAST(count(*) AS BIGINT) AS k
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT (min(day) + max(day)) // 2 AS mid, min(day) AS dmin, max(day) AS dmax FROM counts
    ),
    g AS (
      SELECT event_type,
             CAST(sum(CASE WHEN day <= mid THEN k ELSE 0 END) AS BIGINT) AS k1,
             CAST(sum(CASE WHEN day > mid THEN k ELSE 0 END) AS BIGINT) AS k2,
             CAST(max(mid) - max(dmin) + 1 AS BIGINT) AS t1,
             CAST(max(dmax) - max(mid) AS BIGINT) AS t2
      FROM counts, bounds GROUP BY 1
    ),
    z AS (
      SELECT event_type, k1, k2, t1, t2,
             CASE WHEN t1 > 0 AND t2 > 0 AND k1 + k2 > 0 THEN
               (CAST(k1 AS DOUBLE) / t1 - CAST(k2 AS DOUBLE) / t2)
               / sqrt(CAST(k1 AS DOUBLE) / (t1 * t1) + CAST(k2 AS DOUBLE) / (t2 * t2))
             END AS zraw
      FROM g
    )
    SELECT event_type, k1, k2, t1, t2,
           round(zraw, 4) AS z_stat,
           CASE WHEN zraw IS NULL THEN 'n/a'
                WHEN abs(zraw) > 1.96 THEN 'rate-changed'
                ELSE 'stable' END AS verdict
    FROM z
    """,
)
def q_poisson_rate_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N169: two-sample Poisson rate test per event type — did the
    events-per-calendar-day RATE change between the first and second half
    of the observation window (the volume companion to N151's presence
    McNemar and N154's mean-level Page-Hinkley: counts, not values or
    membership). Wald z on the rate difference with exact integer counts
    and calendar-day exposures; a single-day window pins 'n/a' via an
    explicit CASE (lazy both engines) rather than a reachable zero
    division. One daily-count rollup — types x days bounded state, the
    streaming twin drains it unchanged."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy(
        "event_type", F.expr("unix_millis(ts) div 86400000").alias("day")
    ).agg(F.count(F.lit(1)).alias("k"))
    return poisson_rate_tail(counts)


def friedman_tail(daily: DataFrame) -> DataFrame:
    """daily: (event_type, day, cents). Blocks = days with ALL types
    present; within-block doubled midranks keep ranks exact integers."""
    types = daily.select(F.col("event_type").alias("t1")).distinct()
    ktab = types.agg(F.count(F.lit(1)).alias("k"))
    per_day = daily.groupBy(F.col("day").alias("bd")).agg(F.count(F.lit(1)).alias("nt"))
    blocks = per_day.crossJoin(F.broadcast(ktab)).where(F.col("nt") == F.col("k")).select(
        F.col("bd"), F.col("k")
    )
    d = daily.join(F.broadcast(blocks), F.col("day") == F.col("bd")).select(
        "event_type", "day", "cents", "k"
    )
    # doubled midrank of each type's cents within its day
    a = d.select(F.col("day").alias("da"), F.col("event_type").alias("ea"), F.col("cents").alias("ca"), "k")
    b = d.select(F.col("day").alias("db"), F.col("event_type").alias("eb"), F.col("cents").alias("cb"))
    r2 = (
        a.join(b, F.col("da") == F.col("db"))
        .groupBy("da", "ea", "k")
        .agg(
            (
                F.sum(F.when(F.col("cb") < F.col("ca"), 2).otherwise(0))
                + F.sum(F.when(F.col("cb") == F.col("ca"), 1).otherwise(0))
                + 1
            ).alias("rank2")
        )
    )
    # per-type rank-sum (x2): R2_j = sum of doubled midranks
    rj = r2.groupBy(F.col("ea").alias("event_type"), F.col("k").alias("kk")).agg(
        F.sum("rank2").alias("r2_sum"), F.count(F.lit(1)).alias("b")
    )
    # chi2 = 12/(b k (k+1)) * sum Rj^2 - 3 b (k+1), with Rj = r2_sum/2:
    # = 3/(b k (k+1)) * sum r2_sum^2 - 3 b (k+1)   (exact integers to one division)
    g = rj.agg(
        F.max("kk").alias("k"),
        F.max("b").alias("b"),
        F.count(F.lit(1)).alias("k_check"),
        F.sum(F.col("r2_sum").cast("decimal(38,0)") * F.col("r2_sum")).alias("sum_r2sq"),
    )
    chi2 = F.try_divide(
        F.lit(3).cast("double") * F.col("sum_r2sq").cast("double"),
        (F.col("b") * F.col("k") * (F.col("k") + 1)).cast("double"),
    ) - 3.0 * F.col("b") * (F.col("k") + 1)
    # chi-square 95% critical values for df = k-1 (pinned, k <= 8)
    crit = (
        F.when(F.col("k") == 2, 3.841)
        .when(F.col("k") == 3, 5.991)
        .when(F.col("k") == 4, 7.815)
        .when(F.col("k") == 5, 9.488)
        .when(F.col("k") == 6, 11.070)
        .when(F.col("k") == 7, 12.592)
        .otherwise(14.067)
    )
    return g.select(
        F.col("k").alias("k_treatments"),
        F.col("b").alias("n_blocks"),
        F.round(chi2, 4).alias("chi2"),
        F.when(chi2.isNull(), "n/a")
        .when(chi2 > crit, "ordering-differs")
        .otherwise("exchangeable")
        .alias("verdict"),
    )


@query(
    "q_friedman_test",
    oracle="""
WITH daily AS (
  SELECT event_type, epoch_ms(ts) // 86400000 AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
),
ktab AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k FROM daily),
blocks AS (
  SELECT day AS bd, k FROM (SELECT day, count(*) AS nt FROM daily GROUP BY 1), ktab
  WHERE nt = k
),
d AS (
  SELECT event_type, day, cents, k FROM daily JOIN blocks ON bd = day
),
r2 AS (
  SELECT a.day, a.event_type, a.k,
         CAST(sum(CASE WHEN b.cents < a.cents THEN 2 ELSE 0 END)
              + sum(CASE WHEN b.cents = a.cents THEN 1 ELSE 0 END) + 1 AS BIGINT) AS rank2
  FROM d a JOIN d b ON b.day = a.day
  GROUP BY 1, 2, 3
),
rj AS (
  SELECT event_type, max(k) AS kk, CAST(sum(rank2) AS BIGINT) AS r2_sum,
         CAST(count(*) AS BIGINT) AS b
  FROM r2 GROUP BY 1
),
g AS (
  SELECT CAST(max(kk) AS BIGINT) AS k, CAST(max(b) AS BIGINT) AS b,
         sum(CAST(r2_sum AS HUGEINT) * r2_sum) AS sum_r2sq
  FROM rj
),
z AS (
  SELECT k, b,
         CAST(3 AS DOUBLE) * CAST(sum_r2sq AS DOUBLE) / CAST(b * k * (k + 1) AS DOUBLE)
           - 3.0 * b * (k + 1) AS chi2,
         CASE WHEN k = 2 THEN 3.841 WHEN k = 3 THEN 5.991 WHEN k = 4 THEN 7.815
              WHEN k = 5 THEN 9.488 WHEN k = 6 THEN 11.070 WHEN k = 7 THEN 12.592
              ELSE 14.067 END AS crit
  FROM g
)
SELECT k AS k_treatments, b AS n_blocks,
       round(chi2, 4) AS chi2,
       CASE WHEN chi2 IS NULL THEN 'n/a'
            WHEN chi2 > crit THEN 'ordering-differs'
            ELSE 'exchangeable' END AS verdict
FROM z
""",
)
def q_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N170: Friedman rank test (Friedman 1937) — do the event types keep
    the SAME revenue ordering day after day, with each day as its own
    block (the repeated-measures companion to N137's independent-sample
    Kruskal-Wallis, and the magnitude-aware sibling of N162's binary
    Cochran Q). Blocks are the days where EVERY type reported; within-
    block DOUBLED midranks keep rank sums exact integers, and the
    chi-square statistic reduces to 3*sum(R2_j^2)/(b*k*(k+1)) - 3b(k+1)
    — decimal-widened integer moments to ONE division under try_divide;
    the verdict thresholds against the pinned df = k-1 95% critical
    value. The within-day rank join is k^2-per-day bounded over the
    types x days daily state the streaming twin drains."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr("unix_millis(ts) div 86400000").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    return friedman_tail(daily)


# ---------------------------------------------------------------------------
# Round 9: distribution / trend / market-signal family over the daily state
# (N171-N176), plus the lineitem pricing/stocking trio (N177-N179).
# ---------------------------------------------------------------------------


def jarque_bera_tail(daily: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming Jarque-Bera queries: exact
    integer daily state -> one mean, three sorted central-moment folds
    (day order, bit-identical to DuckDB list_reduce), skew/kurtosis/JB
    with try_divide on the constant-series frame (s2 = 0 -> NULL/'n/a')."""
    g = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("cents").alias("s"),
        F.array_sort(F.collect_list(F.struct("day", "cents"))).alias("xs"),
    )
    g = g.select(
        "event_type", "n_days", "xs",
        (F.col("s").cast("double") / F.col("n_days")).alias("mean"),
    )

    def fold(power: int):
        def term(x):
            d = x["cents"].cast("double") - F.col("mean")
            if power == 2:
                return d * d
            if power == 3:
                return (d * d) * d
            return (d * d) * (d * d)

        return F.aggregate(F.transform("xs", term), F.lit(0.0), lambda a, x: a + x)

    g = g.select(
        "event_type", "n_days",
        fold(2).alias("s2"), fold(3).alias("s3"), fold(4).alias("s4"),
    )
    nd = F.col("n_days").cast("double")
    m2 = F.col("s2") / nd
    skew = F.try_divide(F.col("s3") / nd, F.sqrt(m2) * m2)
    kurt = F.try_divide(F.col("s4") / nd, m2 * m2)
    jb = nd / F.lit(6.0) * (skew * skew + (kurt - F.lit(3.0)) * (kurt - F.lit(3.0)) / F.lit(4.0))
    return g.select(
        "event_type", "n_days",
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("kurtosis"),
        F.round(jb, 6).alias("jb_stat"),
        F.when(jb.isNull(), "n/a")
        .when(jb > 5.991, "non-normal")
        .otherwise("normal")
        .alias("verdict"),
    )


@query(
    "q_jarque_bera",
    oracle="""
    WITH daily AS (
      SELECT event_type, epoch_ms(ts) // 86400000 AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(cents) AS DOUBLE) / count(*) AS mean
      FROM daily GROUP BY 1
    ),
    folds AS (
      SELECT d.event_type, m.n_days,
        list_reduce(list_prepend(0.0, list(
          ((d.cents - m.mean) * (d.cents - m.mean)) ORDER BY d.day)), (a, x) -> a + x) AS s2,
        list_reduce(list_prepend(0.0, list(
          (((d.cents - m.mean) * (d.cents - m.mean)) * (d.cents - m.mean)) ORDER BY d.day)), (a, x) -> a + x) AS s3,
        list_reduce(list_prepend(0.0, list(
          (((d.cents - m.mean) * (d.cents - m.mean)) * ((d.cents - m.mean) * (d.cents - m.mean))) ORDER BY d.day)), (a, x) -> a + x) AS s4
      FROM daily d JOIN m USING (event_type)
      GROUP BY d.event_type, m.n_days
    ),
    stats AS (
      SELECT event_type, n_days,
             (s3 / n_days) / (sqrt(s2 / n_days) * (s2 / n_days)) AS skew,
             (s4 / n_days) / ((s2 / n_days) * (s2 / n_days)) AS kurt
      FROM folds
    )
    SELECT event_type, n_days,
           round(skew, 6) AS skewness,
           round(kurt, 6) AS kurtosis,
           round(CAST(n_days AS DOUBLE) / 6.0 * (skew * skew + (kurt - 3.0) * (kurt - 3.0) / 4.0), 6) AS jb_stat,
           CASE WHEN skew IS NULL THEN 'n/a'
                WHEN CAST(n_days AS DOUBLE) / 6.0 * (skew * skew + (kurt - 3.0) * (kurt - 3.0) / 4.0) > 5.991
                  THEN 'non-normal' ELSE 'normal' END AS verdict
    FROM stats
    """,
)
def q_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N171: Jarque-Bera normality test (Jarque & Bera 1980) of daily
    revenue per event type — the moment-based screen that says whether
    the z-score/XmR family's normal-theory control limits (N43, N109)
    are even applicable to this metric, from skewness and kurtosis
    alone. Exact integer daily cents; the mean is one exact-int
    division; the three central-moment sums are SORTED sequential folds
    (day order) so both engines accumulate bit-identically, and the only
    guarded division is the constant-series s2 = 0 frame (try_divide ->
    'n/a'). JB = n/6*(S^2 + (K-3)^2/4) thresholds against the chi-square
    df=2 95% critical value 5.991. Scale: one map-side-combined daily
    rollup, then a types-bounded fold — no window, no shuffle beyond the
    5-row group state."""
    daily = _daily_cents_by_type(spark, sf_dir)
    return jarque_bera_tail(daily)


def cox_stuart_tail(daily: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming Cox-Stuart queries: rank the
    days, pair x_i with x_{i+ceil(n/2)}, sign-count the pairs, z against
    the binomial normal approximation (ties excluded; m' = 0 -> 'n/a')."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type").orderBy("day")
    wn = Window.partitionBy("event_type")
    r = daily.select(
        "event_type", "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n_days"),
    )
    a = r.select("event_type", "n_days", F.col("rn").alias("i"), F.col("cents").alias("x"))
    b = r.select(F.col("event_type").alias("et2"), F.col("rn").alias("j"), F.col("cents").alias("y"))
    pairs = a.join(
        b,
        (F.col("event_type") == F.col("et2"))
        & (F.col("j") == F.col("i") + F.expr("(n_days + 1) div 2"))
        & (F.col("i") <= F.expr("n_days div 2")),
    )
    g = pairs.groupBy("event_type").agg(
        F.max("n_days").alias("n_days"),
        F.sum(F.when(F.col("y") > F.col("x"), 1).otherwise(0)).alias("n_plus"),
        F.sum(F.when(F.col("y") < F.col("x"), 1).otherwise(0)).alias("n_minus"),
    )
    m = F.col("n_plus") + F.col("n_minus")
    z = F.try_divide((2 * F.col("n_plus") - m).cast("double"), F.sqrt(m.cast("double")))
    return g.select(
        "event_type", "n_days", "n_plus", "n_minus",
        F.round(z, 6).alias("z"),
        F.when(z.isNull(), "n/a")
        .when(z > 1.96, "increasing")
        .when(z < -1.96, "decreasing")
        .otherwise("no-trend")
        .alias("verdict"),
    )


@query(
    "q_cox_stuart",
    oracle="""
    WITH daily AS (
      SELECT event_type, epoch_ms(ts) // 86400000 AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT event_type, cents,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n_days
      FROM daily
    ),
    pairs AS (
      SELECT a.event_type, a.n_days, a.cents AS x, b.cents AS y
      FROM r a JOIN r b
        ON b.event_type = a.event_type AND b.rn = a.rn + (a.n_days + 1) // 2
      WHERE a.rn <= a.n_days // 2
    ),
    g AS (
      SELECT event_type, CAST(max(n_days) AS BIGINT) AS n_days,
             CAST(sum(CASE WHEN y > x THEN 1 ELSE 0 END) AS BIGINT) AS n_plus,
             CAST(sum(CASE WHEN y < x THEN 1 ELSE 0 END) AS BIGINT) AS n_minus
      FROM pairs GROUP BY 1
    )
    SELECT event_type, n_days, n_plus, n_minus,
           round(CAST(2 * n_plus - (n_plus + n_minus) AS DOUBLE)
                 / sqrt(CAST(n_plus + n_minus AS DOUBLE)), 6) AS z,
           CASE WHEN n_plus + n_minus = 0 THEN 'n/a'
                WHEN CAST(2 * n_plus - (n_plus + n_minus) AS DOUBLE)
                     / sqrt(CAST(n_plus + n_minus AS DOUBLE)) > 1.96 THEN 'increasing'
                WHEN CAST(2 * n_plus - (n_plus + n_minus) AS DOUBLE)
                     / sqrt(CAST(n_plus + n_minus AS DOUBLE)) < -1.96 THEN 'decreasing'
                ELSE 'no-trend' END AS verdict
    FROM g
    """,
)
def q_cox_stuart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N172: Cox-Stuart sign trend test (Cox & Stuart 1955) on daily
    revenue per event type — the assumption-free quick screen beside
    N106's Mann-Kendall: pair each first-half day with its second-half
    counterpart (offset ceil(n/2), middle dropped when n is odd) and
    sign-test the pairs. Needs only n/2 comparisons vs Mann-Kendall's
    n^2/2, the classic cheap-first-pass ordering. Everything is exact
    integers until the one z division (try_divide: all-tied pairs ->
    'n/a'); the pairing self-join is rank-equality on the types x days
    state, never event-level."""
    daily = _daily_cents_by_type(spark, sf_dir)
    return cox_stuart_tail(daily)


def bollinger_tail(daily: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming Bollinger queries: 7-day
    trailing count/sum/sum-of-squares (decimal-widened BEFORE the
    multiply), breakout flags via the exact integer comparison
    L^2 > 4*(n*ss - s^2) with L = n*x - s — no float enters the verdict."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
    cd = F.col("cents").cast("decimal(38,0)")
    r = daily.select(
        "event_type", "day", "cents",
        F.count(F.lit(1)).over(w).alias("win_n"),
        F.sum(cd).over(w).alias("win_sum"),
        F.sum(cd * cd).over(w).alias("win_sumsq"),
    )
    wn = F.col("win_n").cast("decimal(38,0)")
    m = wn * F.col("win_sumsq") - F.col("win_sum") * F.col("win_sum")
    l = wn * F.col("cents") - F.col("win_sum")
    up = (l > 0) & (l * l > 4 * m)
    dn = (l < 0) & (l * l > 4 * m)
    return r.select(
        "event_type", "day", "cents", "win_n",
        F.round(F.col("win_sum").cast("double") / F.col("win_n"), 2).alias("mean_cents"),
        F.round(F.sqrt(m.cast("double")) / F.col("win_n"), 2).alias("sd_cents"),
        up.alias("breach_upper"),
        dn.alias("breach_lower"),
    )


@query(
    "q_bollinger_bands",
    oracle="""
    WITH daily AS (
      SELECT event_type, epoch_ms(ts) // 86400000 AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT event_type, day, cents,
             CAST(count(*) OVER w AS BIGINT) AS win_n,
             sum(CAST(cents AS HUGEINT)) OVER w AS win_sum,
             sum(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) OVER w AS win_sumsq
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day, cents, win_n,
           round(CAST(win_sum AS DOUBLE) / win_n, 2) AS mean_cents,
           round(sqrt(CAST(win_n * win_sumsq - win_sum * win_sum AS DOUBLE)) / win_n, 2) AS sd_cents,
           (win_n * cents - win_sum > 0 AND
            (win_n * cents - win_sum) * (win_n * cents - win_sum)
              > 4 * (win_n * win_sumsq - win_sum * win_sum)) AS breach_upper,
           (win_n * cents - win_sum < 0 AND
            (win_n * cents - win_sum) * (win_n * cents - win_sum)
              > 4 * (win_n * win_sumsq - win_sum * win_sum)) AS breach_lower
    FROM r
    """,
)
def q_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N173: Bollinger bands (Bollinger 1980s; mean +/- 2 sigma over a
    7-day trailing window) on daily revenue per event type, with EXACT
    integer breakout flags: a breach of the upper band is n*x - s > 0
    AND (n*x - s)^2 > 4*(n*ss - s^2) — the band comparison cross-
    multiplied so no sqrt or division touches the verdict (display
    mean/sd are the only floats, derived from the same exact integers;
    Spark decimal(38,0) ≡ DuckDB HUGEINT per the widen-before-multiply
    rule). The volatility-envelope complement to N43's rolling z-score:
    z-scores standardize the point, bands flag the regime. One keyed
    trailing window over the types x days state."""
    daily = _daily_cents_by_type(spark, sf_dir)
    return bollinger_tail(daily)


def durbin_watson_tail(daily: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming Durbin-Watson queries:
    successive differences (mean cancels, so residual diffs ARE value
    diffs — exact integers), decimal-widened squares, DW = n*num / M
    with M = n*ss - s^2 in one try_divide."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type").orderBy("day")
    d = daily.select(
        "event_type", "cents",
        (F.col("cents") - F.lag("cents").over(w)).cast("decimal(38,0)").alias("diff"),
    )
    cd = F.col("cents").cast("decimal(38,0)")
    g = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("cents").cast("decimal(38,0)").alias("s"),
        F.sum(cd * cd).alias("ss"),
        F.sum(F.col("diff") * F.col("diff")).alias("num"),
    )
    m = F.col("n_days") * F.col("ss") - F.col("s") * F.col("s")
    dw = F.try_divide((F.col("n_days") * F.col("num")).cast("double"), m.cast("double"))
    return g.select(
        "event_type", "n_days",
        F.round(dw, 6).alias("dw"),
        F.when(dw.isNull(), "n/a")
        .when(dw < 1.0, "positive-autocorr")
        .when(dw > 3.0, "negative-autocorr")
        .otherwise("none")
        .alias("verdict"),
    )


@query(
    "q_durbin_watson",
    oracle="""
    WITH daily AS (
      SELECT event_type, epoch_ms(ts) // 86400000 AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    d AS (
      SELECT event_type, cents,
             CAST(cents - lag(cents) OVER (PARTITION BY event_type ORDER BY day) AS HUGEINT) AS diff
      FROM daily
    ),
    g AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(cents) AS HUGEINT) AS s,
             sum(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) AS ss,
             sum(diff * diff) AS num
      FROM d GROUP BY 1
    )
    SELECT event_type, n_days,
           round(CAST(n_days * num AS DOUBLE) / CAST(n_days * ss - s * s AS DOUBLE), 6) AS dw,
           CASE WHEN n_days * ss - s * s = 0 OR num IS NULL THEN 'n/a'
                WHEN CAST(n_days * num AS DOUBLE) / CAST(n_days * ss - s * s AS DOUBLE) < 1.0 THEN 'positive-autocorr'
                WHEN CAST(n_days * num AS DOUBLE) / CAST(n_days * ss - s * s AS DOUBLE) > 3.0 THEN 'negative-autocorr'
                ELSE 'none' END AS verdict
    FROM g
    """,
)
def q_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N174: Durbin-Watson serial-correlation statistic (Durbin & Watson
    1950) of daily revenue per event type — the residual-autocorrelation
    check that says whether N49's forecast errors or N65's A/B readouts
    can treat days as independent. Key identity: residuals about the
    mean difference to PLAIN value differences (the mean cancels), so
    the numerator sum-of-squared-diffs is exact integer arithmetic, the
    denominator is the exact moment M = n*ss - s^2 (decimal-widened
    before every multiply), and DW = n*num/M is ONE try_divide (constant
    series or n=1 -> 'n/a'). DW ~ 2(1 - rho): < 1 flags positive serial
    correlation, > 3 negative. Scale: one lag window + one aggregate
    over the types x days state."""
    daily = _daily_cents_by_type(spark, sf_dir)
    return durbin_watson_tail(daily)


def rsi_tail(daily: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming RSI queries: day-over-day
    diffs, 7-diff trailing gain/loss sums (exact integers), RSI =
    100*gains/(gains+losses) in one try_divide (flat window -> 'n/a')."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type").orderBy("day")
    d = daily.select(
        "event_type", "day",
        (F.col("cents") - F.lag("cents").over(w)).alias("diff"),
    ).where(F.col("diff").isNotNull())
    ww = Window.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
    r = d.select(
        "event_type", "day",
        F.count(F.lit(1)).over(ww).alias("win_n"),
        F.sum(F.greatest(F.col("diff"), F.lit(0))).over(ww).alias("gains"),
        F.sum(F.greatest(-F.col("diff"), F.lit(0))).over(ww).alias("losses"),
    )
    rsi = F.try_divide(F.lit(100.0) * F.col("gains"), (F.col("gains") + F.col("losses")).cast("double"))
    return r.select(
        "event_type", "day", "win_n", "gains", "losses",
        F.round(rsi, 4).alias("rsi"),
        F.when(rsi.isNull(), "n/a")
        .when(rsi > 70, "overbought")
        .when(rsi < 30, "oversold")
        .otherwise("neutral")
        .alias("signal"),
    )


@query(
    "q_rsi_cutler",
    oracle="""
    WITH daily AS (
      SELECT event_type, epoch_ms(ts) // 86400000 AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    d AS (
      SELECT event_type, day,
             cents - lag(cents) OVER (PARTITION BY event_type ORDER BY day) AS diff
      FROM daily QUALIFY diff IS NOT NULL
    ),
    r AS (
      SELECT event_type, day,
             CAST(count(*) OVER w AS BIGINT) AS win_n,
             CAST(sum(greatest(diff, 0)) OVER w AS BIGINT) AS gains,
             CAST(sum(greatest(-diff, 0)) OVER w AS BIGINT) AS losses
      FROM d
      WINDOW w AS (PARTITION BY event_type ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day, win_n, gains, losses,
           round(100.0 * gains / CAST(gains + losses AS DOUBLE), 4) AS rsi,
           CASE WHEN gains + losses = 0 THEN 'n/a'
                WHEN 100.0 * gains / CAST(gains + losses AS DOUBLE) > 70 THEN 'overbought'
                WHEN 100.0 * gains / CAST(gains + losses AS DOUBLE) < 30 THEN 'oversold'
                ELSE 'neutral' END AS signal
    FROM r
    """,
)
def q_rsi_cutler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N175: Cutler's RSI (the simple-moving-average variant of Wilder
    1978's relative strength index — Cutler's form is chosen precisely
    because it is NON-recursive, so both engines compute it from the
    same bounded window with zero smoothing-state divergence risk) over
    a 7-diff trailing window of daily revenue per event type. Gains and
    losses are exact integer sums of signed day-over-day diffs; RSI =
    100*gains/(gains+losses) is the single try_divide (a flat window ->
    'n/a'); the overbought/oversold bands are the textbook 70/30. The
    momentum complement to N74's EWMA level: EWMA says where the level
    is, RSI says whether the recent moves were one-sided. One lag + one
    trailing window over the types x days state."""
    daily = _daily_cents_by_type(spark, sf_dir)
    return rsi_tail(daily)


def jonckheere_tail(daily: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming Jonckheere queries: week
    buckets as the ordered groups, cross-group pair sign counts via one
    keyed self-join, ties at half weight, z against the no-tie H0
    moments (all exact integers until the final division)."""
    d = daily.select("event_type", F.expr("day div 7").alias("w"), "cents")
    a = d.select("event_type", F.col("w").alias("w1"), F.col("cents").alias("x"))
    b = d.select(F.col("event_type").alias("et2"), F.col("w").alias("w2"), F.col("cents").alias("y"))
    pairs = a.join(b, (F.col("event_type") == F.col("et2")) & (F.col("w2") > F.col("w1")))
    jt = pairs.groupBy("event_type").agg(
        F.sum(F.when(F.col("y") > F.col("x"), 1).otherwise(0)).alias("jt"),
        F.sum(F.when(F.col("y") == F.col("x"), 1).otherwise(0)).alias("ties"),
    )
    # rename the join key on the moment side: joining two derivations of
    # one memory-sink view on a same-named column throws Catalyst
    # "conflicting references" in the streaming twin (the ewma_tail lesson)
    sizes = d.groupBy(F.col("event_type").alias("t_et"), "w").agg(F.count(F.lit(1)).alias("nw"))
    tot = sizes.groupBy("t_et").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("nw").alias("n_days"),
        F.sum(F.col("nw") * F.col("nw")).alias("sum_sq"),
        F.sum(F.col("nw") * F.col("nw") * (2 * F.col("nw") + 3)).alias("sum_sq23"),
    )
    g = jt.join(tot, F.col("event_type") == F.col("t_et"))
    nn = F.col("n_days") * F.col("n_days")
    e = (nn - F.col("sum_sq")).cast("double") / F.lit(4.0)
    var = (nn * (2 * F.col("n_days") + 3) - F.col("sum_sq23")).cast("double") / F.lit(72.0)
    z = F.try_divide(F.col("jt").cast("double") + F.lit(0.5) * F.col("ties") - e, F.sqrt(var))
    return g.select(
        "event_type", "n_days", "n_groups", "jt", "ties",
        F.round(z, 6).alias("z"),
        F.when(z.isNull(), "n/a")
        .when(z > 1.96, "upward")
        .when(z < -1.96, "downward")
        .otherwise("no-trend")
        .alias("verdict"),
    )


@query(
    "q_jonckheere",
    oracle="""
    WITH daily AS (
      SELECT event_type, epoch_ms(ts) // 86400000 AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    d AS (SELECT event_type, day // 7 AS w, cents FROM daily),
    jt AS (
      SELECT a.event_type,
             CAST(sum(CASE WHEN b.cents > a.cents THEN 1 ELSE 0 END) AS BIGINT) AS jt,
             CAST(sum(CASE WHEN b.cents = a.cents THEN 1 ELSE 0 END) AS BIGINT) AS ties
      FROM d a JOIN d b ON b.event_type = a.event_type AND b.w > a.w
      GROUP BY 1
    ),
    sizes AS (SELECT event_type, w, count(*) AS nw FROM d GROUP BY 1, 2),
    tot AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_groups,
             CAST(sum(nw) AS BIGINT) AS n_days,
             CAST(sum(nw * nw) AS BIGINT) AS sum_sq,
             CAST(sum(nw * nw * (2 * nw + 3)) AS BIGINT) AS sum_sq23
      FROM sizes GROUP BY 1
    ),
    g AS (SELECT jt.event_type, n_days, n_groups, jt, ties, sum_sq, sum_sq23
          FROM jt JOIN tot ON tot.event_type = jt.event_type)
    SELECT event_type, n_days, n_groups, jt, ties,
           round((CAST(jt AS DOUBLE) + 0.5 * ties - CAST(n_days * n_days - sum_sq AS DOUBLE) / 4.0)
                 / sqrt(CAST(n_days * n_days * (2 * n_days + 3) - sum_sq23 AS DOUBLE) / 72.0), 6) AS z,
           CASE WHEN n_days * n_days * (2 * n_days + 3) - sum_sq23 = 0 THEN 'n/a'
                WHEN (CAST(jt AS DOUBLE) + 0.5 * ties - CAST(n_days * n_days - sum_sq AS DOUBLE) / 4.0)
                     / sqrt(CAST(n_days * n_days * (2 * n_days + 3) - sum_sq23 AS DOUBLE) / 72.0) > 1.96 THEN 'upward'
                WHEN (CAST(jt AS DOUBLE) + 0.5 * ties - CAST(n_days * n_days - sum_sq AS DOUBLE) / 4.0)
                     / sqrt(CAST(n_days * n_days * (2 * n_days + 3) - sum_sq23 AS DOUBLE) / 72.0) < -1.96 THEN 'downward'
                ELSE 'no-trend' END AS verdict
    FROM g
    """,
)
def q_jonckheere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N176: Jonckheere-Terpstra ordered-alternative trend test
    (Jonckheere 1954, Terpstra 1952) — are daily revenues
    stochastically INCREASING across ordered week buckets?  The
    dose-response sibling of N137's Kruskal-Wallis: KW only asks 'do
    the groups differ', JT exploits the week ordering for power against
    monotone drift. JT = sum over ordered group pairs of
    #(later > earlier), ties at half weight (midrank convention); the
    H0 moments E = (N^2 - sum n_w^2)/4 and V = (N^2(2N+3) - sum
    n_w^2(2n_w+3))/72 are exact integer expressions, and z is the one
    guarded division (single-group or empty frame -> 'n/a'). The
    cross-group pair join is (types x days)^2-bounded on the daily
    state, never event-level."""
    daily = _daily_cents_by_type(spark, sf_dir)
    return jonckheere_tail(daily)


@query(
    "q_vwap",
    oracle="""
    WITH g AS (
      SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) AS ym,
             CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS pv
      FROM lineitem GROUP BY 1
    )
    SELECT ym, n_lines, sum_qty,
           round(CAST(pv AS DOUBLE) / CAST(sum_qty AS DOUBLE), 4) AS vwap_cents
    FROM g
    """,
)
def q_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N177: monthly volume-weighted average price (the execution-quality
    benchmark every trading/procurement desk reports) over lineitem:
    VWAP = sum(price*qty)/sum(qty) per ship month. Exact integer
    price-cents x quantity products summed map-side, ONE try_divide at
    the end — the textbook 'weighted mean without floats until the last
    step' shape. Distinct from N163's price indices (those compare two
    periods' baskets; VWAP is the within-period benchmark). Scale: one
    map-side-combined aggregate, months-bounded output."""
    li = _t(spark, sf_dir, "lineitem")
    g = li.select(
        (F.year("l_shipdate") * 100 + F.month("l_shipdate")).cast("long").alias("ym"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    ).groupBy("ym").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("qty").alias("sum_qty"),
        F.sum(F.col("price_cents") * F.col("qty")).alias("pv"),
    )
    vwap = F.try_divide(F.col("pv").cast("double"), F.col("sum_qty").cast("double"))
    return g.select("ym", "n_lines", "sum_qty", F.round(vwap, 4).alias("vwap_cents"))


@query(
    "q_newsvendor",
    oracle="""
    WITH d AS (
      SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty FROM lineitem
    ),
    r AS (
      SELECT l_returnflag, qty,
             row_number() OVER (PARTITION BY l_returnflag ORDER BY qty) AS rn,
             count(*) OVER (PARTITION BY l_returnflag) AS n
      FROM d
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n_lines, CAST(rn AS BIGINT) AS k_rank,
           75 AS cr_pct, qty AS optimal_qty
    FROM r WHERE rn = (3 * n + 3) // 4
    """,
)
def q_newsvendor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N178: newsvendor optimal stocking quantity (Arrow, Harris &
    Marschak 1951 critical-fractile solution) per return-flag segment:
    with underage cost 3x overage, the optimal stock is the smallest q
    with F(q) >= 0.75 — the CEILING order statistic k = ceil(3n/4) =
    (3n+3) div 4 of the demand distribution, NOT the interpolated
    percentile (N31 interpolates; inventory must be a real attainable
    demand value, so the inverse-CDF order statistic is the correct
    primitive and ties make the rank-k VALUE unique regardless of tie
    order). Exact integers end to end. Scale: one keyed rank window
    over the demand projection — the sort-based percentile trade
    documented at N76 applies when the sort would spill."""
    from pyspark.sql.window import Window

    li = _t(spark, sf_dir, "lineitem")
    d = li.select("l_returnflag", F.col("l_quantity").cast("long").alias("qty"))
    w = Window.partitionBy("l_returnflag").orderBy("qty")
    wn = Window.partitionBy("l_returnflag")
    r = d.select(
        "l_returnflag", "qty",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return r.where(F.col("rn") == F.expr("(3 * n + 3) div 4")).select(
        "l_returnflag",
        F.col("n").alias("n_lines"),
        F.col("rn").alias("k_rank"),
        F.lit(75).alias("cr_pct"),
        F.col("qty").alias("optimal_qty"),
    )


@query(
    "q_promo_uplift",
    oracle="""
    WITH d AS (
      SELECT epoch_ms(l_shipdate) // 86400000 AS day,
             l_discount >= 0.05 AS treat,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    ),
    bounds AS (SELECT (min(day) + max(day) + 1) // 2 AS mid FROM d),
    p AS (SELECT treat, day >= mid AS post, cents FROM d, bounds),
    g AS (
      SELECT
        CAST(sum(CASE WHEN treat AND NOT post THEN 1 ELSE 0 END) AS BIGINT) AS n_tp,
        CAST(sum(CASE WHEN treat AND NOT post THEN cents ELSE 0 END) AS BIGINT) AS s_tp,
        CAST(sum(CASE WHEN treat AND post THEN 1 ELSE 0 END) AS BIGINT) AS n_tq,
        CAST(sum(CASE WHEN treat AND post THEN cents ELSE 0 END) AS BIGINT) AS s_tq,
        CAST(sum(CASE WHEN NOT treat AND NOT post THEN 1 ELSE 0 END) AS BIGINT) AS n_cp,
        CAST(sum(CASE WHEN NOT treat AND NOT post THEN cents ELSE 0 END) AS BIGINT) AS s_cp,
        CAST(sum(CASE WHEN NOT treat AND post THEN 1 ELSE 0 END) AS BIGINT) AS n_cq,
        CAST(sum(CASE WHEN NOT treat AND post THEN cents ELSE 0 END) AS BIGINT) AS s_cq
      FROM p
    )
    SELECT n_tp AS n_treat_pre, n_tq AS n_treat_post, n_cp AS n_ctrl_pre, n_cq AS n_ctrl_post,
           round(CAST(s_tp AS DOUBLE) / CAST(n_tp AS DOUBLE), 4) AS mean_treat_pre,
           round(CAST(s_tq AS DOUBLE) / CAST(n_tq AS DOUBLE), 4) AS mean_treat_post,
           round(CAST(s_cp AS DOUBLE) / CAST(n_cp AS DOUBLE), 4) AS mean_ctrl_pre,
           round(CAST(s_cq AS DOUBLE) / CAST(n_cq AS DOUBLE), 4) AS mean_ctrl_post,
           round((CAST(s_tq AS DOUBLE) / CAST(n_tq AS DOUBLE) - CAST(s_tp AS DOUBLE) / CAST(n_tp AS DOUBLE))
               - (CAST(s_cq AS DOUBLE) / CAST(n_cq AS DOUBLE) - CAST(s_cp AS DOUBLE) / CAST(n_cp AS DOUBLE)), 4) AS did_cents,
           CASE WHEN n_tp = 0 OR n_tq = 0 OR n_cp = 0 OR n_cq = 0 THEN 'n/a'
                WHEN (CAST(s_tq AS DOUBLE) / CAST(n_tq AS DOUBLE) - CAST(s_tp AS DOUBLE) / CAST(n_tp AS DOUBLE))
                   - (CAST(s_cq AS DOUBLE) / CAST(n_cq AS DOUBLE) - CAST(s_cp AS DOUBLE) / CAST(n_cp AS DOUBLE)) > 0
                  THEN 'positive-uplift' ELSE 'no-uplift' END AS verdict
    FROM g
    """,
)
def q_promo_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N179: difference-in-differences promo readout (Card & Krueger
    1994 popularized the design; Ashenfelter 1978) over lineitem:
    discounted lines (>= 5%) are the treated group, the ship-date-range
    midpoint splits pre/post (an exact integer from the one-row
    min/max bounds, broadcast back), and DiD = (treat_post - treat_pre)
    - (ctrl_post - ctrl_pre) nets out the common time trend that a
    naive before/after (N86 period-over-period) cannot. The causal
    sibling of N102's CUPED (variance reduction) and N113's stratified
    ATE (confounder adjustment): DiD is the panel-structure member of
    the family. All four cell means are exact-int divisions under
    try_divide (any empty cell -> 'n/a'); one conditional-sum pass over
    the projection, one-row output."""
    li = _t(spark, sf_dir, "lineitem")
    d = li.select(
        F.expr("unix_millis(l_shipdate) div 86400000").alias("day"),
        (F.col("l_discount") >= 0.05).alias("treat"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    bounds = d.agg(F.expr("(min(day) + max(day) + 1) div 2").alias("mid"))
    p = d.crossJoin(F.broadcast(bounds)).select(
        "treat", (F.col("day") >= F.col("mid")).alias("post"), "cents"
    )

    def cell(t, po, what):
        cond = (F.col("treat") == t) & (F.col("post") == po)
        if what == "n":
            return F.sum(F.when(cond, 1).otherwise(0))
        return F.sum(F.when(cond, F.col("cents")).otherwise(0))

    g = p.agg(
        cell(True, False, "n").alias("n_tp"), cell(True, False, "s").alias("s_tp"),
        cell(True, True, "n").alias("n_tq"), cell(True, True, "s").alias("s_tq"),
        cell(False, False, "n").alias("n_cp"), cell(False, False, "s").alias("s_cp"),
        cell(False, True, "n").alias("n_cq"), cell(False, True, "s").alias("s_cq"),
    )

    def mean(s, n):
        return F.try_divide(F.col(s).cast("double"), F.col(n).cast("double"))

    did = (mean("s_tq", "n_tq") - mean("s_tp", "n_tp")) - (mean("s_cq", "n_cq") - mean("s_cp", "n_cp"))
    return g.select(
        F.col("n_tp").alias("n_treat_pre"), F.col("n_tq").alias("n_treat_post"),
        F.col("n_cp").alias("n_ctrl_pre"), F.col("n_cq").alias("n_ctrl_post"),
        F.round(mean("s_tp", "n_tp"), 4).alias("mean_treat_pre"),
        F.round(mean("s_tq", "n_tq"), 4).alias("mean_treat_post"),
        F.round(mean("s_cp", "n_cp"), 4).alias("mean_ctrl_pre"),
        F.round(mean("s_cq", "n_cq"), 4).alias("mean_ctrl_post"),
        F.round(did, 4).alias("did_cents"),
        F.when(did.isNull(), "n/a").when(did > 0, "positive-uplift").otherwise("no-uplift").alias("verdict"),
    )


def macd_tail(daily: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming MACD queries: from an
    (event_type, day, cents) daily table, collect the day-sorted series
    per type and run the {e12, e26, sig} struct fold — three mutually
    sequential EMAs (the 2/(n+1) convention: fast 12, slow 26, signal 9
    over the MACD line), so the holt_tail row-per-step discipline
    applies: Spark F.aggregate reads the OLD accumulator for every
    field and the oracle mirrors with a RECURSIVE CTE (simultaneous
    update), NOT a DuckDB struct list_reduce (sequential field
    mutation). Init: e12_1 = e26_1 = x_1 (so macd_1 = 0), sig_1 = 0.
    Scale: the fold is per-SERIES over the days-bounded array; the
    series dimension carries the parallelism, one daily rollup is the
    only corpus-sized exchange."""
    arr = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "cents"))),
            lambda s: s["cents"].cast("double"),
        ).alias("xs"),
    )
    a12, a26, a9 = 2.0 / 13.0, 2.0 / 27.0, 2.0 / 10.0
    state = "struct<e12:double,e26:double,sig:double>"
    folded = arr.select(
        "event_type",
        "n_days",
        F.aggregate(
            F.slice(F.col("xs"), 2, F.greatest(F.size("xs") - 1, F.lit(0))),
            F.struct(
                F.element_at("xs", 1).alias("e12"),
                F.element_at("xs", 1).alias("e26"),
                F.lit(0.0).alias("sig"),
            ).cast(state),
            lambda acc, x: F.struct(
                (F.lit(a12) * x + F.lit(1.0 - a12) * acc["e12"]).alias("e12"),
                (F.lit(a26) * x + F.lit(1.0 - a26) * acc["e26"]).alias("e26"),
                (
                    F.lit(a9)
                    * (
                        (F.lit(a12) * x + F.lit(1.0 - a12) * acc["e12"])
                        - (F.lit(a26) * x + F.lit(1.0 - a26) * acc["e26"])
                    )
                    + F.lit(1.0 - a9) * acc["sig"]
                ).alias("sig"),
            ).cast(state),
        ).alias("s"),
    )
    macd = F.col("s.e12") - F.col("s.e26")
    hist = macd - F.col("s.sig")
    return folded.select(
        "event_type",
        "n_days",
        F.round(macd, 4).alias("macd"),
        F.round(F.col("s.sig"), 4).alias("signal"),
        F.round(hist, 4).alias("histogram"),
        F.when(hist > 0, "bullish").when(hist < 0, "bearish").otherwise("none").alias("verdict"),
    )


@query(
    "q_macd",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT event_type,
             epoch_ms(ts) // 86400000 AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    arr AS (
      SELECT event_type,
             count(*)::BIGINT AS n_days,
             list(CAST(cents AS DOUBLE) ORDER BY day) AS xs
      FROM daily GROUP BY 1
    ),
    rec AS (
      -- row-per-step recursion reading the PREVIOUS row's e12/e26/sig
      -- (simultaneous update), matching Spark's F.aggregate semantics
      SELECT event_type, n_days, xs, 1 AS step,
             xs[1] AS e12, xs[1] AS e26, CAST(0.0 AS DOUBLE) AS sig
      FROM arr
      UNION ALL
      SELECT event_type, n_days, xs, step + 1,
             (2.0 / 13.0) * xs[step + 1] + (1.0 - 2.0 / 13.0) * e12,
             (2.0 / 27.0) * xs[step + 1] + (1.0 - 2.0 / 27.0) * e26,
             (2.0 / 10.0) * (((2.0 / 13.0) * xs[step + 1] + (1.0 - 2.0 / 13.0) * e12)
                             - ((2.0 / 27.0) * xs[step + 1] + (1.0 - 2.0 / 27.0) * e26))
               + (1.0 - 2.0 / 10.0) * sig
      FROM rec WHERE step < n_days
    )
    SELECT event_type, n_days,
           round(e12 - e26, 4) AS macd,
           round(sig, 4) AS signal,
           round((e12 - e26) - sig, 4) AS histogram,
           CASE WHEN (e12 - e26) - sig > 0 THEN 'bullish'
                WHEN (e12 - e26) - sig < 0 THEN 'bearish'
                ELSE 'none' END AS verdict
    FROM rec WHERE step = n_days
    """,
)
def q_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N180 (round 10): MACD momentum indicator (Appel 1979; fast EMA12 −
    slow EMA26, signal = EMA9 of the MACD line, histogram = MACD −
    signal) on daily revenue per event type — the third rung of the
    finance-panel family beside Bollinger (volatility regime) and RSI
    (bounded momentum): MACD reads trend CHANGE via the crossover of two
    smoothing horizons. Three mutually sequential EMA recursions fold as
    one {e12, e26, sig} struct pass per series (the holt_tail
    discipline); oracle = row-per-step RECURSIVE CTE with identical
    expression trees, so the doubles are bit-identical before the final
    round(4)."""
    daily = _daily_cents_by_type(spark, sf_dir)
    return macd_tail(daily)


def _phi_col(z):
    """Standard normal CDF via the Abramowitz & Stegun 7.1.26 erf
    polynomial (|abs err| <= 1.5e-7), expressed with the exact same
    operation tree the DuckDB oracle uses — plain */+- chains, one
    exp(), one sqrt(2.0) — so both engines produce bit-identical doubles
    (exp() is the only <=1-ulp-divergence risk, absorbed by the final
    round(6) many orders of magnitude above it)."""
    x = F.abs(z) / F.sqrt(F.lit(2.0))
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * x)
    poly = (
        (
            (
                (F.lit(1.061405429) * t - F.lit(1.453152027)) * t
                + F.lit(1.421413741)
            )
            * t
            - F.lit(0.284496736)
        )
        * t
        + F.lit(0.254829592)
    ) * t
    erf = F.lit(1.0) - poly * F.exp(-(x * x))
    phi = F.lit(0.5) * (F.lit(1.0) + F.signum(z) * erf)
    # clamp: the polynomial's 1.5e-7 absolute error can push extreme-tail
    # values to <= 0 and ln() to NaN — clamp identically on both sides
    return F.greatest(F.lit(1e-10), F.least(F.lit(1.0 - 1e-10), phi))


def anderson_tail(daily: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming Anderson-Darling queries:
    per type, exact integer sums give mean and sample sd; each day's
    z-score contributes (2i−1)·ln Φ(z_(i)) + (2j−1)·ln Φ(−z_(j)) with i
    the ascending and j = n+1−i the descending rank (one window pass —
    the two classic sums restated per-row); terms fold in sorted-i order
    (the repo's float discipline) into A² = −n − S/n and the small-sample
    adjustment A²* = A²(1 + 0.75/n + 2.25/n²), flagged against the 5%
    critical value 0.752 (Stephens 1974, case 3)."""
    from pyspark.sql.window import Window

    g = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("cents").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents").cast("decimal(38,0)")).alias("ss"),
    )
    nd = F.col("n_days").cast("double")
    mean = F.col("s").cast("double") / nd
    m = F.col("n_days") * F.col("ss") - F.col("s") * F.col("s")
    sd = F.sqrt(
        F.try_divide(m.cast("double"), (F.col("n_days") * (F.col("n_days") - 1)).cast("double"))
    )
    # the small side renames its join key: stats shares lineage with daily,
    # and a memory-sink daily (the streaming twin) trips Spark's
    # conflicting-reference check on raw self-joins (the ewma_tail rule)
    stats = g.select(
        F.col("event_type").alias("st_type"), "n_days", mean.alias("mean"), sd.alias("sd")
    )

    w = Window.partitionBy("event_type").orderBy(F.col("cents").asc(), F.col("day").asc())
    ranked = (
        daily.select("event_type", "day", "cents", F.row_number().over(w).alias("i"))
        .join(F.broadcast(stats), F.col("event_type") == F.col("st_type"))
        .drop("st_type")
    )
    z = F.try_divide(F.col("cents").cast("double") - F.col("mean"), F.col("sd"))
    j = (F.col("n_days") - F.col("i") + 1).cast("double")
    term = F.when(
        F.col("sd").isNull() | (F.col("sd") == 0), F.lit(None).cast("double")
    ).otherwise(
        (F.lit(2.0) * F.col("i").cast("double") - F.lit(1.0)) * F.log(_phi_col(z))
        + (F.lit(2.0) * j - F.lit(1.0)) * F.log(_phi_col(-z))
    )
    folded = ranked.select("event_type", "n_days", "i", term.alias("term")).groupBy(
        "event_type", "n_days"
    ).agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "term"))), lambda s: s["term"]
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("big_s")
    )
    nd2 = F.col("n_days").cast("double")
    a2 = -nd2 - F.col("big_s") / nd2
    a2_star = a2 * (F.lit(1.0) + F.lit(0.75) / nd2 + F.lit(2.25) / (nd2 * nd2))
    return folded.select(
        "event_type",
        "n_days",
        F.round(a2, 6).alias("a2"),
        F.round(a2_star, 6).alias("a2_star"),
        F.when(F.isnan(a2_star) | a2_star.isNull(), "n/a")
        .when(a2_star > 0.752, "non-normal")
        .otherwise("normal")
        .alias("verdict"),
    )


@query(
    "q_anderson_darling",
    oracle="""
    WITH daily AS (
      SELECT event_type, epoch_ms(ts) // 86400000 AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    g AS (
      SELECT event_type, count(*)::BIGINT AS n_days,
             CAST(sum(cents) AS HUGEINT) AS s,
             sum(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) AS ss
      FROM daily GROUP BY 1
    ),
    stats AS (
      SELECT event_type, n_days,
             CAST(s AS DOUBLE) / n_days AS mean,
             CASE WHEN n_days <= 1 OR n_days * ss - s * s <= 0 THEN NULL
                  ELSE sqrt(CAST(n_days * ss - s * s AS DOUBLE)
                            / CAST(n_days * (n_days - 1) AS DOUBLE)) END AS sd
      FROM g
    ),
    ranked AS (
      SELECT d.event_type, d.cents, st.n_days, st.mean, st.sd,
             (CAST(d.cents AS DOUBLE) - st.mean) / st.sd AS z,
             row_number() OVER (PARTITION BY d.event_type ORDER BY d.cents ASC, d.day ASC) AS i
      FROM daily d JOIN stats st ON st.event_type = d.event_type
    ),
    phix AS (SELECT *, abs(z) / sqrt(2.0) AS x FROM ranked),
    phit AS (SELECT *, 1.0 / (1.0 + 0.3275911 * x) AS t FROM phix),
    phi AS (
      SELECT event_type, n_days, i, sd,
             greatest(1e-10, least(1.0 - 1e-10,
               0.5 * (1.0 + sign(z) * (1.0 - ((((1.061405429 * t - 1.453152027) * t + 1.421413741) * t - 0.284496736) * t + 0.254829592) * t * exp(-(x * x)))))) AS phi_pos,
             greatest(1e-10, least(1.0 - 1e-10,
               0.5 * (1.0 + sign(-z) * (1.0 - ((((1.061405429 * t - 1.453152027) * t + 1.421413741) * t - 0.284496736) * t + 0.254829592) * t * exp(-(x * x)))))) AS phi_neg
      FROM phit
    ),
    terms AS (
      SELECT event_type, n_days, i,
             CASE WHEN sd IS NULL OR sd = 0 THEN NULL
                  ELSE (2.0 * i - 1.0) * ln(phi_pos)
                       + (2.0 * (n_days - i + 1) - 1.0) * ln(phi_neg) END AS term
      FROM phi
    ),
    folded AS (
      SELECT event_type, n_days,
             list_reduce(list_prepend(0.0, list(term ORDER BY i)), (a, b) -> a + b) AS big_s
      FROM terms GROUP BY 1, 2
    ),
    scored AS (
      SELECT event_type, n_days,
             -CAST(n_days AS DOUBLE) - big_s / n_days AS a2,
             (-CAST(n_days AS DOUBLE) - big_s / n_days)
               * (1.0 + 0.75 / n_days + 2.25 / (CAST(n_days AS DOUBLE) * n_days)) AS a2_star
      FROM folded
    )
    SELECT event_type, n_days,
           round(a2, 6) AS a2,
           round(a2_star, 6) AS a2_star,
           CASE WHEN a2_star IS NULL OR isnan(a2_star) THEN 'n/a'
                WHEN a2_star > 0.752 THEN 'non-normal'
                ELSE 'normal' END AS verdict
    FROM scored
    """,
)
def q_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N181 (round 10): Anderson-Darling normality test (Anderson &
    Darling 1952; Stephens 1974 case-3 small-sample adjustment) on daily
    revenue per event type — the tail-weighted EDF complement to N171
    Jarque-Bera (moment-based): A-D reads the EDF-vs-Φ discrepancy with
    1/(F(1−F)) weighting, so tail departures that moments smear show up
    directly. One window pass assigns ascending/descending ranks so the
    two classic log-CDF sums restate per-row; Φ comes from the shared
    A&S 7.1.26 erf polynomial (_phi_col) written as the identical
    operation tree in the oracle, and terms fold in sorted-i order, so
    both engines agree bit-exactly far below the round(6)."""
    daily = _daily_cents_by_type(spark, sf_dir)
    return anderson_tail(daily)


def theta_tail(daily: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming Theta queries: per type,
    exact-integer OLS sums give the linear trend (theta=0 line); the
    theta=2 line z_t = 2·x_t − (a + b·t) doubles the local curvature and
    is smoothed by SES (α=0.3) in one indexed struct fold (simultaneous
    update — the holt_tail discipline; the oracle mirrors with a
    row-per-step RECURSIVE CTE); the forecast is the M3 combination
    0.5·(SES level + trend extrapolation at n+1)."""
    arr = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("cents").cast("decimal(38,0)").alias("sx"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "cents"))),
            lambda s: s["cents"].cast("double"),
        ).alias("xs"),
    )
    # OLS over t = 1..n with exact integer identities: sum t = n(n+1)/2,
    # sum t^2 = n(n+1)(2n+1)/6 — long arithmetic (exact to ~3e6 days, far
    # past any daily series); sum t*x folds from the indexed array
    st = F.expr("n_days * (n_days + 1) div 2")
    st2 = F.expr("n_days * (n_days + 1) * (2 * n_days + 1) div 6")
    stx = F.aggregate(
        F.transform(F.col("xs"), lambda x, i: (i.cast("double") + F.lit(1.0)) * x),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    nd = F.col("n_days").cast("double")
    with_trend = arr.select(
        "event_type", "n_days", "sx", "xs",
        stx.alias("stx"), st.alias("st"), st2.alias("st2"),
    )
    b = F.try_divide(
        nd * F.col("stx") - F.col("st").cast("double") * F.col("sx").cast("double"),
        (F.col("n_days") * F.col("st2") - F.col("st") * F.col("st")).cast("double"),
    )
    with_trend = with_trend.select(
        "event_type", "n_days", "xs",
        b.alias("b"),
        ((F.col("sx").cast("double") - b * F.col("st").cast("double")) / nd).alias("a"),
    )
    # SES(0.3) over the theta-2 line, indexed fold (z_t needs t)
    zed = F.transform(
        F.col("xs"),
        lambda x, i: F.lit(2.0) * x - (F.col("a") + F.col("b") * (i.cast("double") + F.lit(1.0))),
    )
    folded = with_trend.select(
        "event_type", "n_days", "a", "b",
        F.aggregate(
            F.slice(zed, 2, F.greatest(F.size("xs") - 1, F.lit(0))),
            F.element_at(zed, 1),
            lambda acc, z: F.lit(0.3) * z + F.lit(0.7) * acc,
        ).alias("ses_level"),
    )
    nd2 = F.col("n_days").cast("double")
    trend_next = F.col("a") + F.col("b") * (nd2 + F.lit(1.0))
    fc = F.lit(0.5) * (F.col("ses_level") + trend_next)
    return folded.select(
        "event_type", "n_days",
        F.round(F.col("b"), 6).alias("trend_slope"),
        F.round(F.col("a"), 6).alias("trend_intercept"),
        F.round(F.col("ses_level"), 4).alias("theta2_ses"),
        F.round(fc, 4).alias("forecast_next"),
    )


@query(
    "q_theta_forecast",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT event_type, epoch_ms(ts) // 86400000 AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    arr AS (
      SELECT event_type, count(*)::BIGINT AS n_days,
             CAST(sum(cents) AS HUGEINT) AS sx,
             list(CAST(cents AS DOUBLE) ORDER BY day) AS xs
      FROM daily GROUP BY 1
    ),
    trended AS (
      SELECT event_type, n_days, xs,
             (CAST(n_days AS DOUBLE)
                * list_reduce(list_prepend(0.0,
                    list_transform(xs, (x, i) -> CAST(i AS DOUBLE) * x)), (p, q) -> p + q)
              - CAST(n_days * (n_days + 1) // 2 AS DOUBLE) * CAST(sx AS DOUBLE))
             / CAST(CAST(n_days AS HUGEINT) * (n_days * (n_days + 1) * (2 * n_days + 1) // 6)
                    - (n_days * (n_days + 1) // 2) * (n_days * (n_days + 1) // 2) AS DOUBLE) AS b,
             sx
      FROM arr
    ),
    ab AS (
      SELECT event_type, n_days, xs, b,
             (CAST(sx AS DOUBLE) - b * CAST(n_days * (n_days + 1) // 2 AS DOUBLE))
               / CAST(n_days AS DOUBLE) AS a
      FROM trended
    ),
    rec AS (
      SELECT event_type, n_days, xs, a, b, 1 AS step,
             2.0 * xs[1] - (a + b * 1.0) AS l
      FROM ab
      UNION ALL
      SELECT event_type, n_days, xs, a, b, step + 1,
             0.3 * (2.0 * xs[step + 1] - (a + b * CAST(step + 1 AS DOUBLE))) + 0.7 * l
      FROM rec WHERE step < n_days
    )
    SELECT event_type, n_days,
           round(b, 6) AS trend_slope,
           round(a, 6) AS trend_intercept,
           round(l, 4) AS theta2_ses,
           round(0.5 * (l + (a + b * (CAST(n_days AS DOUBLE) + 1.0))), 4) AS forecast_next
    FROM rec WHERE step = n_days
    """,
)
def q_theta_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N182 (round 10): Theta-method forecast (Assimakopoulos &
    Nikolopoulos 2000 — the M3-competition winner; Hyndman & Billah 2003
    show it equals SES with drift) on daily revenue per event type: the
    theta=0 line is the exact-integer OLS trend, the theta=2 line doubles
    local curvature and is SES-smoothed (α=0.3), and the forecast is
    their average — the forecasting family's fourth member beside
    seasonal-naive (N49), Holt (N101), and Holt-Winters (N147), covering
    the trend-without-seasonality regime. OLS sums use the closed-form
    Σt/Σt² integer identities so only the final ratios are floats; the
    SES fold and its recursive-CTE oracle share the holt_tail
    simultaneous-update discipline."""
    daily = _daily_cents_by_type(spark, sf_dir)
    return theta_tail(daily)


@query(
    "q_adamic_adar",
    oracle="""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS x, b.l_partkey AS y, count(*) AS w
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    e AS (SELECT x, y FROM pairs WHERE w >= 2),
    adj AS (SELECT x AS a, y AS b FROM e UNION ALL SELECT y, x FROM e),
    deg AS (SELECT a AS node, count(*) AS d FROM adj GROUP BY 1),
    wedges AS (
      SELECT l.a AS u, r.b AS v,
             CAST(round(1e12 / ln(dm.d)) AS BIGINT) AS term_ppt
      FROM adj l JOIN adj r ON r.a = l.b AND l.a < r.b
      JOIN deg dm ON dm.node = l.b
    ),
    cand AS (
      SELECT u, v, count(*)::BIGINT AS cn,
             CAST(sum(term_ppt) AS BIGINT) AS aa_ppt
      FROM wedges GROUP BY 1, 2
    ),
    nonedge AS (
      SELECT c.* FROM cand c LEFT JOIN e ON e.x = c.u AND e.y = c.v
      WHERE e.x IS NULL
    )
    SELECT CAST(u AS BIGINT) AS part_a, CAST(v AS BIGINT) AS part_b,
           cn AS common_neighbors, round(aa_ppt / 1e12, 9) AS aa_score
    FROM nonedge
    ORDER BY aa_ppt DESC, part_a ASC, part_b ASC
    LIMIT 20
    """,
)
def q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N183 (round 10): Adamic-Adar link prediction (Adamic & Adar 2003)
    over the repeat-co-purchase part graph — the degree-weighted upgrade
    of N110's common-neighbors count: a shared RARE neighbor (1/ln deg)
    is stronger evidence than a shared hub, which is exactly the
    boilerplate-hub problem co-purchase graphs have. Same
    collision-proportional wedge pass as N110/N52 (Σ deg(mid)² rows,
    degree-orientation-boundable at 100 TB); each neighbor's weight
    quantizes to integer parts-per-trillion (round(1e12/ln deg)) so the
    per-pair score is a COMMUTATIVE exact long sum — no per-pair array
    state, no fold-order discipline, pure map-side combine (the first
    cut folded collected per-pair term arrays and ground for >12 min on
    the densified sf1 graph's 101 M candidate pairs — the r9
    set-similarity lesson re-learned) — and the ranking at the LIMIT
    boundary is the exact INTEGER sum with id tiebreaks, satisfying the
    cross-engine float-ranking rule outright."""
    e = _repeat_copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    adj = e.select(F.col("x").alias("a"), F.col("y").alias("b")).unionAll(
        e.select(F.col("y").alias("a"), F.col("x").alias("b"))
    )
    deg = adj.groupBy(F.col("a").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    l = adj.select(F.col("a").alias("u"), F.col("b").alias("mid"))
    r = adj.select(F.col("a").alias("rmid"), F.col("b").alias("v"))
    dm = deg.select(F.col("node").alias("dnode"), F.col("d").alias("dm"))
    wedges = (
        l.join(r, l["mid"] == r["rmid"])
        .where(F.col("u") < F.col("v"))
        .join(F.broadcast(dm), F.col("mid") == F.col("dnode"))
        .select(
            "u", "v",
            F.round(F.lit(1e12) / F.log(F.col("dm").cast("double")), 0)
            .cast("long")
            .alias("term_ppt"),
        )
    )
    cand = wedges.groupBy("u", "v").agg(
        F.count(F.lit(1)).alias("cn"),
        F.sum("term_ppt").alias("aa_ppt"),
    )
    nonedge = cand.join(e, (cand["u"] == e["x"]) & (cand["v"] == e["y"]), "left_anti")
    return (
        nonedge.select(
            F.col("u").alias("part_a"),
            F.col("v").alias("part_b"),
            F.col("cn").alias("common_neighbors"),
            F.round(F.col("aa_ppt") / F.lit(1e12), 9).alias("aa_score"),
            F.col("aa_ppt"),
        )
        .orderBy(F.desc("aa_ppt"), F.asc("part_a"), F.asc("part_b"))
        .limit(20)
        .drop("aa_ppt")
    )


def grubbs_tail(daily: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming Grubbs queries: per type,
    exact integer sums give mean and sample sd; the suspect day is ranked
    on the EXACT integer |n·x − S| (float never orders the pick), then
    G = |n·x* − S| / (n·sd).  The critical value is the classic
    t-quantile form G_crit = ((n−1)/√n)·√(t²/(ν+t²)) with
    t = t_{α/(2n), ν}, ν = n−2, α = 0.05, where the t quantile comes from
    the A&S 26.2.23 rational normal quantile pushed through the
    A&S 26.7.5 Cornish-Fisher expansion (through ν⁻³) — the approximation
    IS the spec, written as the identical operation tree in the oracle so
    both engines agree bit-exactly far below the round(6)."""
    from simple_stream_processor_spark.registry import scoped_persist

    # r11 (guide §5): g feeds THREE consumers (the stats broadcast, nvals →
    # the crit broadcast, and through `top` the final projection) —
    # unpersisted, the per-type aggregate re-ran once per broadcast build.
    # scoped_persist computes it once; both broadcast builds read the
    # InMemoryRelation.
    g = scoped_persist(daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s"),
        F.sum(
            F.col("cents").cast("decimal(38,0)") * F.col("cents").cast("decimal(38,0)")
        ).alias("ss"),
    ))
    # the small side renames its join key (the anderson_tail rule: a
    # memory-sink daily trips the conflicting-reference check on raw
    # self-joins)
    stats = g.select(F.col("event_type").alias("st_type"), "n_days", "s", "ss")
    joined = (
        daily.join(F.broadcast(stats), F.col("event_type") == F.col("st_type"))
        .drop("st_type")
        .select(
            "event_type",
            "day",
            "n_days",
            "s",
            "ss",
            F.abs(
                F.col("n_days").cast("decimal(38,0)") * F.col("cents").cast("decimal(38,0)")
                - F.col("s")
            ).alias("ad"),
        )
    )
    # r11 (guide §2.4): the row_number window (exchange + full sort of the
    # panel) collapses to ONE max(struct(ad, -day)) aggregate — struct
    # ordering is (ad DESC ⇒ max, then -day ⇒ smallest day), exactly the
    # window's (ad DESC, day ASC) rank-1 row. n_days/s/ss are per-type
    # constants, so grouping on them too changes nothing.
    top = (
        joined.groupBy("event_type", "n_days", "s", "ss")
        .agg(F.max(F.struct(F.col("ad"), (-F.col("day")).alias("md"))).alias("m"))
        .select("event_type", "n_days", "s", "ss",
                F.col("m.ad").alias("ad"), (-F.col("m.md")).alias("day"))
    )

    # The critical value is a function of n alone, and its t-quantile
    # expression tree is large enough that inlining it per output column
    # blows Janino's 64 KB generated-method limit (codegen falls back to
    # interpreted; measured 2x slower).  Computing it once on the
    # DISTINCT n_days frame puts ONE copy of the tree in its own tiny
    # codegen stage, broadcast back — and matches the statistic's
    # structure: G_crit depends on n alone, not the data.
    nvals = g.select("n_days").distinct()
    ndv = F.col("n_days").cast("double")
    # t_{alpha/(2n), n-2} via A&S 26.2.23 + 26.7.5, alpha = 0.05
    q = F.lit(0.05) / (F.lit(2.0) * ndv)
    sq = F.sqrt(F.lit(-2.0) * F.log(q))
    z = sq - (
        (F.lit(2.515517) + F.lit(0.802853) * sq + F.lit(0.010328) * sq * sq)
        / (
            F.lit(1.0)
            + F.lit(1.432788) * sq
            + F.lit(0.189269) * sq * sq
            + F.lit(0.001308) * sq * sq * sq
        )
    )
    nu = ndv - F.lit(2.0)
    t = (
        z
        + (z * z * z + z) / (F.lit(4.0) * nu)
        + (F.lit(5.0) * z * z * z * z * z + F.lit(16.0) * z * z * z + F.lit(3.0) * z)
        / (F.lit(96.0) * nu * nu)
        + (
            F.lit(3.0) * z * z * z * z * z * z * z
            + F.lit(19.0) * z * z * z * z * z
            + F.lit(17.0) * z * z * z
            - F.lit(15.0) * z
        )
        / (F.lit(384.0) * nu * nu * nu)
    )
    crit = nvals.select(
        F.col("n_days").alias("cn"),
        F.when(F.col("n_days") < 3, F.lit(None).cast("double"))
        .otherwise(((ndv - F.lit(1.0)) / F.sqrt(ndv)) * F.sqrt((t * t) / (nu + t * t)))
        .alias("g_crit_v"),
    )
    with_crit = top.join(F.broadcast(crit), F.col("n_days") == F.col("cn")).drop("cn")

    nd = F.col("n_days").cast("double")
    m = F.col("n_days") * F.col("ss") - F.col("s") * F.col("s")
    sd = F.sqrt(
        F.try_divide(m.cast("double"), (F.col("n_days") * (F.col("n_days") - 1)).cast("double"))
    )
    g_stat = F.when(sd.isNull() | (sd == 0) | (F.col("n_days") < 3), F.lit(None).cast("double")).otherwise(
        F.col("ad").cast("double") / (nd * sd)
    )
    g_crit = F.col("g_crit_v")
    return (
        with_crit
        .select(
            "event_type",
            "n_days",
            F.col("day").alias("suspect_day"),
            F.round(g_stat, 6).alias("g_stat"),
            F.round(g_crit, 6).alias("g_crit"),
            F.when(g_stat.isNull() | g_crit.isNull(), "n/a")
            .when(g_stat > g_crit, "outlier")
            .otherwise("clean")
            .alias("verdict"),
        )
    )


@query(
    "q_grubbs_test",
    oracle="""
    WITH daily AS (
      SELECT event_type, epoch_ms(ts) // 86400000 AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    g AS (
      SELECT event_type, count(*)::BIGINT AS n_days,
             CAST(sum(cents) AS HUGEINT) AS s,
             sum(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) AS ss
      FROM daily GROUP BY 1
    ),
    ranked AS (
      SELECT d.event_type, d.day, g.n_days, g.s, g.ss,
             abs(CAST(g.n_days AS HUGEINT) * d.cents - g.s) AS ad,
             row_number() OVER (
               PARTITION BY d.event_type
               ORDER BY abs(CAST(g.n_days AS HUGEINT) * d.cents - g.s) DESC, d.day ASC
             ) AS rn
      FROM daily d JOIN g ON g.event_type = d.event_type
    ),
    top AS (SELECT * FROM ranked WHERE rn = 1),
    scored AS (
      SELECT event_type, n_days, day,
             CASE WHEN n_days <= 1 OR n_days * ss - s * s <= 0 OR n_days < 3 THEN NULL
                  ELSE CAST(ad AS DOUBLE)
                       / (CAST(n_days AS DOUBLE)
                          * sqrt(CAST(n_days * ss - s * s AS DOUBLE)
                                 / CAST(n_days * (n_days - 1) AS DOUBLE))) END AS g_stat,
             sqrt(-2.0 * ln(0.05 / (2.0 * CAST(n_days AS DOUBLE)))) AS sq,
             CAST(n_days AS DOUBLE) AS nd
      FROM top
    ),
    zq AS (
      SELECT *,
             sq - ((2.515517 + 0.802853 * sq + 0.010328 * sq * sq)
                   / (1.0 + 1.432788 * sq + 0.189269 * sq * sq + 0.001308 * sq * sq * sq)) AS z,
             nd - 2.0 AS nu
      FROM scored
    ),
    tq AS (
      SELECT *,
             z + (z * z * z + z) / (4.0 * nu)
               + (5.0 * z * z * z * z * z + 16.0 * z * z * z + 3.0 * z) / (96.0 * nu * nu)
               + (3.0 * z * z * z * z * z * z * z + 19.0 * z * z * z * z * z
                  + 17.0 * z * z * z - 15.0 * z) / (384.0 * nu * nu * nu) AS t
      FROM zq
    ),
    crit AS (
      SELECT event_type, n_days, day, g_stat,
             CASE WHEN n_days < 3 THEN NULL
                  ELSE ((nd - 1.0) / sqrt(nd)) * sqrt((t * t) / (nu + t * t)) END AS g_crit
      FROM tq
    )
    SELECT event_type, n_days, day AS suspect_day,
           round(g_stat, 6) AS g_stat,
           round(g_crit, 6) AS g_crit,
           CASE WHEN g_stat IS NULL OR g_crit IS NULL THEN 'n/a'
                WHEN g_stat > g_crit THEN 'outlier'
                ELSE 'clean' END AS verdict
    FROM crit
    """,
)
def q_grubbs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N184 (round 10): Grubbs' maximum-normed-residual outlier test
    (Grubbs 1950; Stefansky 1972 critical form) on daily revenue per
    event type — the single-suspect hypothesis-test complement to N141's
    Tukey fences (distribution-free flags) and N109's XmR chart
    (sequential limits): Grubbs asks whether the ONE most extreme day is
    consistent with the Gaussian the rest of the panel assumes, at a
    stated significance.  The suspect day is ranked on the exact integer
    |n·x − S| so float never orders the pick; G and the t-quantile
    critical value are identical operation trees on both engines."""
    daily = _daily_cents_by_type(spark, sf_dir)
    return grubbs_tail(daily)


def pacf_tail(daily: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming PACF queries: lag-1..3
    autocorrelations from EXACT integer moment sums (the acf_tail
    discipline — n²·Σx_t·x_{t+k} − n·S·(A_k+B_k) + (n−k)·S² over
    n²·SS − n·S², one double division at the end), then the
    Durbin-Levinson recursion unrolled closed-form:
    φ11 = r1, φ22 = (r2−r1²)/(1−r1²), φ21 = φ11 − φ22·φ11,
    φ33 = (r3 − φ21·r2 − φ22·r1)/(1 − φ21·r1 − φ22·r2).
    The suggested AR order is the largest k with |φkk| > 1.96/√n."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "cents",
        *[F.lag("cents", k).over(w).alias(f"_l{k}") for k in (1, 2, 3)],
    )

    def _ksums(k: int):
        c = F.col("cents").cast("decimal(38,0)")
        lcol = F.col(f"_l{k}").cast("decimal(38,0)")
        present = F.col(f"_l{k}").isNotNull()
        return [
            F.sum(F.when(present, c * lcol)).alias(f"p{k}"),
            F.sum(F.when(present, lcol)).alias(f"a{k}"),
            F.sum(F.when(present, c)).alias(f"b{k}"),
        ]

    # lagged preserves every daily row and its cents, so the per-type
    # totals (n, S, SS) ride the SAME groupBy as the lag cross-sums —
    # one aggregate pass, no self-join (and no conflicting-reference
    # hazard on a memory-sink daily)
    j = lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s"),
        F.sum(
            F.col("cents").cast("decimal(38,0)") * F.col("cents").cast("decimal(38,0)")
        ).alias("ss"),
        *(_ksums(1) + _ksums(2) + _ksums(3)),
    )

    n_dec = F.col("n_days").cast("decimal(38,0)")
    den = (n_dec * n_dec * F.col("ss") - n_dec * F.col("s") * F.col("s")).cast("double")

    def _r(k: int):
        num = (
            n_dec * n_dec * F.col(f"p{k}")
            - n_dec * F.col("s") * (F.col(f"a{k}") + F.col(f"b{k}"))
            + (n_dec - F.lit(k)) * F.col("s") * F.col("s")
        ).cast("double")
        return F.try_divide(num, den)

    r1, r2, r3 = _r(1), _r(2), _r(3)
    phi11 = r1
    phi22 = F.try_divide(r2 - r1 * r1, F.lit(1.0) - r1 * r1)
    phi21 = phi11 - phi22 * phi11
    phi33 = F.try_divide(
        r3 - phi21 * r2 - phi22 * r1,
        F.lit(1.0) - phi21 * r1 - phi22 * r2,
    )
    thr = F.lit(1.96) / F.sqrt(F.col("n_days").cast("double"))
    ar_order = (
        F.when(F.abs(phi33) > thr, F.lit(3))
        .when(F.abs(phi22) > thr, F.lit(2))
        .when(F.abs(phi11) > thr, F.lit(1))
        .otherwise(F.lit(0))
    )
    return j.select(
        "event_type",
        "n_days",
        F.round(phi11, 6).alias("pacf1"),
        F.round(phi22, 6).alias("pacf2"),
        F.round(phi33, 6).alias("pacf3"),
        ar_order.alias("ar_order"),
    )


@query(
    "q_pacf",
    oracle="""
    WITH daily AS (
      SELECT event_type, epoch_ms(ts) // 86400000 AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    lagged AS (
      SELECT event_type, cents,
             lag(cents, 1) OVER (PARTITION BY event_type ORDER BY day) AS l1,
             lag(cents, 2) OVER (PARTITION BY event_type ORDER BY day) AS l2,
             lag(cents, 3) OVER (PARTITION BY event_type ORDER BY day) AS l3
      FROM daily
    ),
    cross_s AS (
      SELECT event_type,
             sum(CASE WHEN l1 IS NOT NULL THEN CAST(cents AS HUGEINT) * l1 END) AS p1,
             sum(CASE WHEN l1 IS NOT NULL THEN CAST(l1 AS HUGEINT) END) AS a1,
             sum(CASE WHEN l1 IS NOT NULL THEN CAST(cents AS HUGEINT) END) AS b1,
             sum(CASE WHEN l2 IS NOT NULL THEN CAST(cents AS HUGEINT) * l2 END) AS p2,
             sum(CASE WHEN l2 IS NOT NULL THEN CAST(l2 AS HUGEINT) END) AS a2,
             sum(CASE WHEN l2 IS NOT NULL THEN CAST(cents AS HUGEINT) END) AS b2,
             sum(CASE WHEN l3 IS NOT NULL THEN CAST(cents AS HUGEINT) * l3 END) AS p3,
             sum(CASE WHEN l3 IS NOT NULL THEN CAST(l3 AS HUGEINT) END) AS a3,
             sum(CASE WHEN l3 IS NOT NULL THEN CAST(cents AS HUGEINT) END) AS b3
      FROM lagged GROUP BY 1
    ),
    g AS (
      SELECT event_type, count(*)::BIGINT AS n_days,
             CAST(sum(cents) AS HUGEINT) AS s,
             sum(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) AS ss
      FROM daily GROUP BY 1
    ),
    j AS (SELECT * FROM g JOIN cross_s USING (event_type)),
    rr AS (
      SELECT event_type, n_days,
             CAST(CAST(n_days AS HUGEINT) * n_days * ss - CAST(n_days AS HUGEINT) * s * s AS DOUBLE) AS den,
             CAST(CAST(n_days AS HUGEINT) * n_days * p1 - CAST(n_days AS HUGEINT) * s * (a1 + b1) + (CAST(n_days AS HUGEINT) - 1) * s * s AS DOUBLE) AS num1,
             CAST(CAST(n_days AS HUGEINT) * n_days * p2 - CAST(n_days AS HUGEINT) * s * (a2 + b2) + (CAST(n_days AS HUGEINT) - 2) * s * s AS DOUBLE) AS num2,
             CAST(CAST(n_days AS HUGEINT) * n_days * p3 - CAST(n_days AS HUGEINT) * s * (a3 + b3) + (CAST(n_days AS HUGEINT) - 3) * s * s AS DOUBLE) AS num3
      FROM j
    ),
    acf AS (
      SELECT event_type, n_days,
             CASE WHEN den = 0 THEN NULL ELSE num1 / den END AS r1,
             CASE WHEN den = 0 THEN NULL ELSE num2 / den END AS r2,
             CASE WHEN den = 0 THEN NULL ELSE num3 / den END AS r3
      FROM rr
    ),
    dl1 AS (
      SELECT *, r1 AS phi11,
             CASE WHEN 1.0 - r1 * r1 = 0 THEN NULL
                  ELSE (r2 - r1 * r1) / (1.0 - r1 * r1) END AS phi22
      FROM acf
    ),
    dl2 AS (
      SELECT *, phi11 - phi22 * phi11 AS phi21 FROM dl1
    ),
    dl3 AS (
      SELECT *,
             CASE WHEN 1.0 - phi21 * r1 - phi22 * r2 = 0 THEN NULL
                  ELSE (r3 - phi21 * r2 - phi22 * r1)
                       / (1.0 - phi21 * r1 - phi22 * r2) END AS phi33
      FROM dl2
    )
    SELECT event_type, n_days,
           round(phi11, 6) AS pacf1,
           round(phi22, 6) AS pacf2,
           round(phi33, 6) AS pacf3,
           CASE WHEN abs(phi33) > 1.96 / sqrt(CAST(n_days AS DOUBLE)) THEN 3
                WHEN abs(phi22) > 1.96 / sqrt(CAST(n_days AS DOUBLE)) THEN 2
                WHEN abs(phi11) > 1.96 / sqrt(CAST(n_days AS DOUBLE)) THEN 1
                ELSE 0 END AS ar_order
    FROM dl3
    """,
)
def q_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N185 (round 10): partial autocorrelation function at lags 1–3 via
    the Durbin-Levinson recursion unrolled closed-form (Durbin 1960;
    Box-Jenkins AR-order identification) on daily revenue per event type
    — the AR-order complement to N59's ACF: the ACF says WHETHER memory
    exists, the PACF says how many AR lags explain it (φkk is the lag-k
    correlation with lags 1..k−1 regressed out).  Lag sums come off one
    bounded window pass (never a self-join); every moment is an exact
    integer until a single double division, and the recursion's
    arithmetic tree is mirrored verbatim in the oracle."""
    daily = _daily_cents_by_type(spark, sf_dir)
    return pacf_tail(daily)


def chow_tail(daily: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming Chow queries: the candidate
    breakpoint is the mid-range day (exact integer (min+max) div 2); per
    type ONE aggregate pass yields per-segment exact integer OLS sums
    (n, Σd, Σc, Σd², Σdc, Σc²); pooled sums are their exact integer
    totals.  Each SSR uses the scaled closed form
    (Sxx·Syy − Sxy²)/(n·Sxx) with S's the n-scaled central moments, and
    F = ((SSR_p − SSR₁ − SSR₂)/2) / ((SSR₁+SSR₂)/(n−4)) is compared to
    the EXACT closed-form F(2, n−4) upper-5% point
    (m/2)·(0.05^(−2/m) − 1) — no quantile approximation needed at
    d1 = 2."""
    split = daily.groupBy("event_type").agg(
        F.expr("(min(day) + max(day)) div 2").alias("split_day")
    )
    sp = split.select(F.col("event_type").alias("sp_type"), "split_day")
    seg = (
        daily.join(F.broadcast(sp), F.col("event_type") == F.col("sp_type"))
        .drop("sp_type")
        .select(
            "event_type",
            "split_day",
            F.when(F.col("day") <= F.col("split_day"), F.lit(1)).otherwise(F.lit(2)).alias("seg"),
            F.col("day").cast("decimal(38,0)").alias("d"),
            F.col("cents").cast("decimal(38,0)").alias("c"),
        )
    )

    def _segsums(i: int):
        inseg = F.col("seg") == i
        return [
            F.sum(F.when(inseg, F.lit(1)).otherwise(F.lit(0))).alias(f"n{i}"),
            F.sum(F.when(inseg, F.col("d"))).alias(f"sd{i}"),
            F.sum(F.when(inseg, F.col("c"))).alias(f"sc{i}"),
            F.sum(F.when(inseg, F.col("d") * F.col("d"))).alias(f"sdd{i}"),
            F.sum(F.when(inseg, F.col("d") * F.col("c"))).alias(f"sdc{i}"),
            F.sum(F.when(inseg, F.col("c") * F.col("c"))).alias(f"scc{i}"),
        ]

    agg = seg.groupBy("event_type", "split_day").agg(*(_segsums(1) + _segsums(2)))

    def _ssr(n, sd, sc, sdd, sdc, scc):
        n_dec = n.cast("decimal(38,0)")
        sxx = n_dec * sdd - sd * sd
        sxy = n_dec * sdc - sd * sc
        syy = n_dec * scc - sc * sc
        return F.try_divide(
            (sxx * syy - sxy * sxy).cast("double"), (n_dec * sxx).cast("double")
        )

    n1, n2 = F.col("n1"), F.col("n2")
    n = n1 + n2
    ssr1 = _ssr(n1, F.col("sd1"), F.col("sc1"), F.col("sdd1"), F.col("sdc1"), F.col("scc1"))
    ssr2 = _ssr(n2, F.col("sd2"), F.col("sc2"), F.col("sdd2"), F.col("sdc2"), F.col("scc2"))
    ssrp = _ssr(
        n,
        F.col("sd1") + F.col("sd2"),
        F.col("sc1") + F.col("sc2"),
        F.col("sdd1") + F.col("sdd2"),
        F.col("sdc1") + F.col("sdc2"),
        F.col("scc1") + F.col("scc2"),
    )
    m = (n - F.lit(4)).cast("double")
    # n < 5 is guarded EXPLICITLY (not left to the division): at n = 4,
    # m = 0 and Spark's double division yields NULL while DuckDB's IEEE
    # division yields inf (f = x/inf = 0.0) — a silent cross-engine
    # divergence on a legal tiny group
    f_stat = F.when(n < 5, F.lit(None).cast("double")).otherwise(
        F.try_divide(
            (ssrp - ssr1 - ssr2) / F.lit(2.0),
            (ssr1 + ssr2) / m,
        )
    )
    f_crit = (m / F.lit(2.0)) * (
        F.exp((F.lit(-2.0) / m) * F.log(F.lit(0.05))) - F.lit(1.0)
    )
    bad = (n1 < 3) | (n2 < 3) | (n < 5) | f_stat.isNull()
    return agg.select(
        "event_type",
        (n1 + n2).cast("long").alias("n_days"),
        "split_day",
        F.round(f_stat, 6).alias("f_stat"),
        F.when(n - F.lit(4) < 1, F.lit(None).cast("double")).otherwise(F.round(f_crit, 6)).alias("f_crit"),
        F.when(bad, "n/a")
        .when(f_stat > f_crit, "break")
        .otherwise("stable")
        .alias("verdict"),
    )


@query(
    "q_chow_test",
    oracle="""
    WITH daily AS (
      SELECT event_type, epoch_ms(ts) // 86400000 AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    split AS (
      SELECT event_type, (min(day) + max(day)) // 2 AS split_day
      FROM daily GROUP BY 1
    ),
    seg AS (
      SELECT d.event_type, s.split_day,
             CASE WHEN d.day <= s.split_day THEN 1 ELSE 2 END AS seg,
             CAST(d.day AS HUGEINT) AS dd, CAST(d.cents AS HUGEINT) AS cc
      FROM daily d JOIN split s ON s.event_type = d.event_type
    ),
    agg AS (
      SELECT event_type, split_day,
             sum(CASE WHEN seg = 1 THEN 1 ELSE 0 END) AS n1,
             sum(CASE WHEN seg = 1 THEN dd END) AS sd1,
             sum(CASE WHEN seg = 1 THEN cc END) AS sc1,
             sum(CASE WHEN seg = 1 THEN dd * dd END) AS sdd1,
             sum(CASE WHEN seg = 1 THEN dd * cc END) AS sdc1,
             sum(CASE WHEN seg = 1 THEN cc * cc END) AS scc1,
             sum(CASE WHEN seg = 2 THEN 1 ELSE 0 END) AS n2,
             sum(CASE WHEN seg = 2 THEN dd END) AS sd2,
             sum(CASE WHEN seg = 2 THEN cc END) AS sc2,
             sum(CASE WHEN seg = 2 THEN dd * dd END) AS sdd2,
             sum(CASE WHEN seg = 2 THEN dd * cc END) AS sdc2,
             sum(CASE WHEN seg = 2 THEN cc * cc END) AS scc2
      FROM seg GROUP BY 1, 2
    ),
    ssr AS (
      SELECT event_type, split_day, n1, n2,
             CASE WHEN CAST(n1 AS HUGEINT) * (CAST(n1 AS HUGEINT) * sdd1 - sd1 * sd1) = 0 THEN NULL
                  ELSE CAST((CAST(n1 AS HUGEINT) * sdd1 - sd1 * sd1) * (CAST(n1 AS HUGEINT) * scc1 - sc1 * sc1)
                            - (CAST(n1 AS HUGEINT) * sdc1 - sd1 * sc1) * (CAST(n1 AS HUGEINT) * sdc1 - sd1 * sc1) AS DOUBLE)
                       / CAST(CAST(n1 AS HUGEINT) * (CAST(n1 AS HUGEINT) * sdd1 - sd1 * sd1) AS DOUBLE) END AS ssr1,
             CASE WHEN CAST(n2 AS HUGEINT) * (CAST(n2 AS HUGEINT) * sdd2 - sd2 * sd2) = 0 THEN NULL
                  ELSE CAST((CAST(n2 AS HUGEINT) * sdd2 - sd2 * sd2) * (CAST(n2 AS HUGEINT) * scc2 - sc2 * sc2)
                            - (CAST(n2 AS HUGEINT) * sdc2 - sd2 * sc2) * (CAST(n2 AS HUGEINT) * sdc2 - sd2 * sc2) AS DOUBLE)
                       / CAST(CAST(n2 AS HUGEINT) * (CAST(n2 AS HUGEINT) * sdd2 - sd2 * sd2) AS DOUBLE) END AS ssr2,
             CASE WHEN CAST(n1 + n2 AS HUGEINT) * (CAST(n1 + n2 AS HUGEINT) * (sdd1 + sdd2) - (sd1 + sd2) * (sd1 + sd2)) = 0 THEN NULL
                  ELSE CAST((CAST(n1 + n2 AS HUGEINT) * (sdd1 + sdd2) - (sd1 + sd2) * (sd1 + sd2))
                              * (CAST(n1 + n2 AS HUGEINT) * (scc1 + scc2) - (sc1 + sc2) * (sc1 + sc2))
                            - (CAST(n1 + n2 AS HUGEINT) * (sdc1 + sdc2) - (sd1 + sd2) * (sc1 + sc2))
                              * (CAST(n1 + n2 AS HUGEINT) * (sdc1 + sdc2) - (sd1 + sd2) * (sc1 + sc2)) AS DOUBLE)
                       / CAST(CAST(n1 + n2 AS HUGEINT) * (CAST(n1 + n2 AS HUGEINT) * (sdd1 + sdd2) - (sd1 + sd2) * (sd1 + sd2)) AS DOUBLE) END AS ssrp
      FROM agg
    ),
    f AS (
      SELECT event_type, split_day, n1, n2, n1 + n2 AS n,
             CASE WHEN n1 + n2 < 5 OR ssr1 IS NULL OR ssr2 IS NULL OR ssrp IS NULL OR (ssr1 + ssr2) / (CAST(n1 + n2 AS DOUBLE) - 4.0) = 0 THEN NULL
                  ELSE ((ssrp - ssr1 - ssr2) / 2.0)
                       / ((ssr1 + ssr2) / (CAST(n1 + n2 AS DOUBLE) - 4.0)) END AS f_stat,
             (CAST(n1 + n2 AS DOUBLE) - 4.0) AS m
      FROM ssr
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_days, split_day,
           round(f_stat, 6) AS f_stat,
           CASE WHEN n - 4 < 1 THEN NULL
                ELSE round((m / 2.0) * (exp((-2.0 / m) * ln(0.05)) - 1.0), 6) END AS f_crit,
           CASE WHEN n1 < 3 OR n2 < 3 OR n < 5 OR f_stat IS NULL THEN 'n/a'
                WHEN f_stat > (m / 2.0) * (exp((-2.0 / m) * ln(0.05)) - 1.0) THEN 'break'
                ELSE 'stable' END AS verdict
    FROM f
    """,
)
def q_chow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N186 (round 10): Chow structural-break F-test (Chow 1960) at the
    mid-range day of each event type's daily-revenue series — the
    PARAMETRIC break detector beside N139 Pettitt (rank-based location
    shift) and N53 CUSUM (level-shift localization): Chow asks whether
    one linear trend explains both halves or the slope/intercept
    themselves changed, the regression-regime question the trend
    forecasters (N101 Holt, N182 Theta) silently assume away.  One
    aggregate pass collects exact integer OLS sums for both segments;
    the pooled fit reuses their exact totals; the F(2, n−4) critical
    value is closed-form exact — no quantile approximation — and the
    whole tree is mirrored verbatim in the oracle."""
    daily = _daily_cents_by_type(spark, sf_dir)
    return chow_tail(daily)
