"""Relational extensions (SURVEY §2.8 N1-N9): keyed aggregation, joins,
sort/top-k, distinct/set ops, ranking windows, scalar functions.

The reference has none of these (SURVEY §2.7 — explicitly absent); they are
the north-star extensions that make the engine a usable analytics surface
over the TPC-H-ish testdata. Everything here is pure DataFrame API so
Catalyst supplies pushdown, join selection (broadcast vs sort-merge), and
AQE runtime re-planning.

Scale notes per operator are in each docstring; the common rules:
- dims (region/nation/supplier at TPC-H shape) are broadcast — no shuffle
  of the fact side;
- fact-fact joins (lineitem x orders) shuffle on the join key; at 100 TB
  you bucket both tables on orderkey at write time to eliminate it;
- keyed aggs are partial+final (map-side combine) automatically.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ansi_safe_corr(x: Column | str, y: Column | str) -> Column:
    """Pearson correlation as explicit sum aggregates with ``try_divide``:
    NULL when either series has zero variance or fewer than two pairs —
    the ANSI-SQL / DuckDB ``corr()`` contract.

    Spark's builtin ``corr`` divides by the variance product in its final
    projection, and under ANSI mode (the Spark 4 default, hence the
    driver's vanilla session) that raises DIVIDE_BY_ZERO on a constant
    series instead of returning NULL — found by cross-engine fuzz
    (tests/test_properties.py) and reachable in production whenever a
    filtered group degenerates to one value. Pairs with a NULL on either
    side are excluded, matching the builtin's pairwise deletion.

    Precision: the textbook n·Σxy−Σx·Σy form loses digits when n·mean²
    dwarfs the variance; at the 6-decimal rounding every caller applies
    this is harmless up to ~1e12 rows per group (double eps 1e-16 leaves
    >6 safe digits), and groups larger than that should pre-aggregate
    first (as q_acf_daily's daily rollup does)."""
    xc = F.col(x) if isinstance(x, str) else x
    yc = F.col(y) if isinstance(y, str) else y
    both = xc.isNotNull() & yc.isNotNull()
    xv = F.when(both, xc.cast("double"))
    yv = F.when(both, yc.cast("double"))
    n = F.count(F.when(both, F.lit(1))).cast("double")
    return corr_from_moments(
        n, F.sum(xv), F.sum(yv), F.sum(xv * xv), F.sum(yv * yv), F.sum(xv * yv)
    )


def corr_from_moments(
    n: Column, sx: Column, sy: Column, sxx: Column, syy: Column, sxy: Column
) -> Column:
    """The ANSI-safe correlation combine: Pearson r from pre-aggregated
    moment sums, NULL (via ``try_divide``) when either series is constant
    or has fewer than two pairs. This is the single expression tree every
    corr in the repo routes through — ``ansi_safe_corr`` feeds it
    double-cast sums for ad-hoc use; the hash-matched queries
    (``q_stats_agg``, ``acf_tail`` and its streaming twin) feed it
    EXACT-INTEGER moment sums so the 6dp rounding cannot flip across
    engines or partition orders, with the oracle mirroring the same
    n·Σxy−ΣxΣy / √(nΣxx−Σx²)·√(nΣyy−Σy²) tree verbatim."""
    num = n * sxy - sx * sy
    den = F.sqrt(F.greatest(F.lit(0.0), n * sxx - sx * sx)) * F.sqrt(
        F.greatest(F.lit(0.0), n * syy - sy * sy)
    )
    return F.try_divide(num, den)


def group_agg(df: DataFrame, keys: Sequence[str], *aggs: Column) -> DataFrame:
    """Keyed hash aggregation (N1). Physical: HashAggregate(partial) →
    Exchange(hash keys) → HashAggregate(final). Low-cardinality keys like
    (l_returnflag, l_linestatus) reduce to a handful of rows before the
    exchange — the shuffle moves only #distinct-keys rows per partition."""
    return df.groupBy(*keys).agg(*aggs)


def join_broadcast_dim(fact: DataFrame, dim: DataFrame, on: Column | list[str], how: str = "inner") -> DataFrame:
    """Equi-join with an explicitly broadcast dimension (N2). The hint keeps
    the plan a BroadcastHashJoin even if stats mislead Catalyst; the fact
    side never shuffles."""
    return fact.join(F.broadcast(dim), on, how)


def join_shuffle(left: DataFrame, right: DataFrame, on: Column | list[str], how: str = "inner") -> DataFrame:
    """Fact-fact equi-join (N3): both sides exchange on the key; AQE converts
    to broadcast at runtime if one side turns out small, and splits skewed
    partitions (skewJoin.enabled)."""
    return left.join(right, on, how)


def semi_join(left: DataFrame, right: DataFrame, on: Column | list[str]) -> DataFrame:
    """EXISTS (N4): left_semi keeps left columns only, stops probing on
    first match — strictly cheaper than inner join + distinct."""
    return left.join(right, on, "left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: Column | list[str]) -> DataFrame:
    """NOT EXISTS (N4)."""
    return left.join(right, on, "left_anti")


def distinct_rows(df: DataFrame) -> DataFrame:
    """Distinct (N6) = group-by-all-columns; partial dedup per partition
    before the exchange bounds shuffle volume by distinct count."""
    return df.distinct()


def set_intersect(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.intersect(b)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts: str,
    value_col: str,
    out_col: str,
) -> DataFrame:
    """As-of join (left): attach the most recent ``right.value_col`` with
    ``right.ts <= left.ts`` per ``on`` key; NULL when no prior right row.

    Implementation is union + partition-local carry-forward, not a join:
    both inputs shuffle ONCE on the key, then a single window sort carries
    the last right-side value forward (``is_l`` breaks ts ties so a right
    row at the same timestamp is visible — the inclusive <= of ASOF). This
    is the scale shape: no range-join blowup, no per-row probe; cost is one
    exchange + one sort regardless of time-density.

    Right-side duplicates per (key, ts) resolve DETERMINISTICALLY to the
    maximum value at that timestamp: the value column participates in the
    window sort, so the tie-break is total and free (no pre-aggregation
    pass, no extra exchange) instead of a documented-but-unenforced
    uniqueness precondition."""
    from pyspark.sql import Window

    lcols = [c for c in left.columns if c not in (on, ts)]
    l = left.select(
        on, ts, *lcols, F.lit(1).alias("is_l"), F.lit(None).cast(right.schema[value_col].dataType).alias(out_col)
    )
    r = right.select(
        on, ts, *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
        F.lit(0).alias("is_l"), F.col(value_col).alias(out_col),
    )
    # (ts, is_l, out_col) is a total order over observationally-distinct
    # rows: right dupes at one ts sort ascending by value, so last() = max.
    w = Window.partitionBy(on).orderBy(ts, "is_l", out_col).rowsBetween(Window.unboundedPreceding, 0)
    return (
        l.unionByName(r)
        .withColumn(out_col, F.last(out_col, ignorenulls=True).over(w))
        .where(F.col("is_l") == 1)
        .drop("is_l")
    )


def range_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts: str,
    range_s: int,
) -> DataFrame:
    """Interval join as a bucketized equi-join: pair each left row with the
    right rows of the same key in ``(left.ts, left.ts + range_s]``.

    The naive form is an inequality join — O(n·m) per key, unusable at
    scale. Bucketing time into ``range_s``-wide bins makes it an equi-join:
    a right row lands in exactly one bucket, a left row's window spans at
    most two (b, b+1), so the left explodes 2 candidate buckets and joins
    on (key, bucket); an exact range filter then prunes false candidates.
    Shuffle volume is 2x left + 1x right — linear, skew-handled by AQE.
    Left-outer keeps zero-match left rows (count 0 downstream)."""
    lb = F.floor(F.unix_micros(F.col(ts)) / F.lit(range_s * 1_000_000)).cast("long")
    l = left.withColumn("bucket", F.explode(F.array(lb, lb + 1))).alias("l")
    r = right.withColumn("bucket", F.floor(F.unix_micros(F.col(ts)) / F.lit(range_s * 1_000_000)).cast("long")).alias(
        "r"
    )
    cond = (
        (F.col(f"l.{on}") == F.col(f"r.{on}"))
        & (F.col("l.bucket") == F.col("r.bucket"))
        & (F.col(f"r.{ts}") > F.col(f"l.{ts}"))
        & (F.col(f"r.{ts}") <= F.col(f"l.{ts}") + F.expr(f"INTERVAL {range_s} SECOND"))
    )
    return l.join(r, cond, "left_outer")


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_n: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: salt the fact side's hot keys by spreading
    each key over ``salt_n`` synthetic sub-keys, replicate the (small) dim
    side across all salts, join on (key, salt).

    A shuffled equi-join hashes rows to partitions by key — one hot key
    (a null-ish user id, a default timestamp) lands its entire volume on
    ONE task, and at 100 TB that task runs for hours while 999 executors
    idle. Salting bounds any key's per-task volume at 1/salt_n of its
    total. AQE's skew-join split handles this adaptively for sort-merge
    joins; explicit salting is the deterministic form that also covers
    aggregations and older planners. Value-identical to the plain join
    (oracle-checked by q_salted_join)."""
    salted_fact = fact.withColumn("_salt", (F.abs(F.hash(F.monotonically_increasing_id())) % salt_n).cast("int"))
    salts = dim.sparkSession.range(salt_n).select(F.col("id").cast("int").alias("_salt"))
    salted_dim = dim.crossJoin(F.broadcast(salts))
    return salted_fact.join(salted_dim, [key, "_salt"], how).drop("_salt")


def funnel(
    events: DataFrame,
    stages: Sequence[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered funnel progression: per user, the timestamp at which each
    stage was first reached *strictly after* the previous stage (the
    sequence-pattern / MATCH_RECOGNIZE shape of event analytics). Returns
    one row per user with a ``t_<stage>`` timestamp column per stage
    (NULL once the funnel breaks).

    Scale shape: ONE shuffle — a single groupBy(user) collects each
    stage's timestamps as a sorted array (map-side combine on the
    conditional collects), then the stage walk is narrow array math
    (``array_min(filter(arr, x > t_prev))``) on the aggregated row.
    Per-user state is bounded by that user's event count, never corpus
    size; no self-joins, no N-pass scans — an N-stage funnel over 100 TB
    costs the same single scan + shuffle as a 2-stage one.

    Reference parity: generalizes the reference's windowed event-time
    accumulation (Node.scala:315-356) to cross-event sequence state.
    """
    if not stages:
        raise ValueError("funnel requires at least one stage")
    per_user = events.groupBy(user_col).agg(
        *[
            F.sort_array(
                F.collect_list(F.when(F.col(type_col) == s, F.col(ts_col)))
            ).alias(f"_arr_{i}")
            for i, s in enumerate(stages)
        ]
    )
    def _first_after(arr: Column, t_prev: Column) -> Column:
        return F.array_min(F.filter(arr, lambda x: x > t_prev))

    prev = None
    cols = [F.col(user_col)]
    for i, s in enumerate(stages):
        arr = F.col(f"_arr_{i}")
        t = F.array_min(arr) if prev is None else _first_after(arr, prev)
        # materialize each stage once so later stages reference the alias, not a re-computation
        per_user = per_user.withColumn(f"t_{s}", t)
        prev = F.col(f"t_{s}")
        cols.append(F.col(f"t_{s}"))
    return per_user.select(*cols)


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort retention: users are cohorted by the week of their
    first event; for every (cohort_week, week_offset) the count of
    distinct cohort members active that week.

    Scale shape: the per-user first-week is a partition-only window
    (``min over (partition by user)``) — ONE shuffle on user, no
    self-join, no sort (unbounded frame needs no ordering). The final
    aggregate's exchange carries (cohort, offset) group cardinality —
    weeks², not events. Week arithmetic stays in exact integer days
    (``datediff div 7``) so the offset is bit-identical cross-engine.
    """
    from pyspark.sql.window import Window

    wk = events.select(
        F.col(user_col), F.date_trunc("week", F.col(ts_col)).alias("wk")
    )
    w = Window.partitionBy(user_col)
    c = wk.withColumn("cohort_wk", F.min("wk").over(w))
    return (
        c.groupBy(
            F.expr("unix_micros(cohort_wk) div 1000").alias("cohort_ms"),
            F.expr("datediff(wk, cohort_wk) div 7").alias("week_offset"),
        )
        .agg(F.count_distinct(F.col(user_col)).alias("active_users"))
    )


def pagerank(edges: DataFrame, rounds: int = 3, damping: float = 0.85, deg: DataFrame | None = None) -> DataFrame:
    """PageRank power iteration over a directed edge table (src, dst) with
    no dangling nodes (every src has out-edges — symmetric graphs satisfy
    this by construction). Returns (node, r, n_nodes) after ``rounds``
    iterations from the uniform 1/n start.

    Scale shape: the rank vector is node-cardinality and joins the edge
    table BROADCAST (r/deg shares); each iteration costs one dst-keyed
    aggregate whose exchange carries node cardinality after map-side
    combine — the edge table itself never re-shuffles. n_nodes (an exact
    integer) rides along through every iteration so the one-row count
    aggregate materializes exactly once — the plan's only single-partition
    exchange. Per-iteration round(·,9) re-synchronizes engines, so
    cross-engine double drift cannot compound and the fixed-point prefix
    is hash-checkable. At corpus scale: persist the edge table (scanned
    per iteration) and swap the broadcast for a src-bucketed
    co-partitioned join once ranks outgrow the threshold."""
    from simple_stream_processor_spark.registry import scoped_persist

    # query-scoped persist (r10): deg is re-read by every iteration's
    # broadcast build, the n_nodes count, AND the caller's final degree
    # join — without the cache the node-table aggregate re-scans the edge
    # table once per consumer (4+ times for 3 rounds). Callers that need
    # the degree table themselves pass it in (pre-persisted) and share it.
    if deg is None:
        deg = scoped_persist(
            edges.groupBy("src")
            .agg(F.count(F.lit(1)).alias("d"))
            .select(F.col("src").alias("dnode"), "d")
        )
    n = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    ranks = deg.select(F.col("dnode").alias("node")).crossJoin(F.broadcast(n)).select(
        "node", (F.lit(1.0) / F.col("n_nodes")).alias("r"), "n_nodes"
    )
    teleport = F.lit(round(1.0 - damping, 9))
    for _ in range(rounds):
        shares = (
            # deg is node-cardinality but often sits on a stats-free lineage
            # (checkpointed edges), so hint the broadcast explicitly — a
            # node-table SortMergeJoin per iteration is a regression
            ranks.join(F.broadcast(deg), ranks["node"] == deg["dnode"])
            .select(
                F.col("dnode").alias("e_src"),
                (F.col("r") / F.col("d")).alias("share"),
                "n_nodes",
            )
        )
        ranks = (
            edges.join(F.broadcast(shares), edges["src"] == F.col("e_src"))
            .groupBy("dst")
            .agg(F.sum("share").alias("contrib"), F.first("n_nodes").alias("n_nodes"))
            .select(
                F.col("dst").alias("node"),
                F.round(
                    teleport / F.col("n_nodes") + F.lit(damping) * F.col("contrib"), 9
                ).alias("r"),
                "n_nodes",
            )
        )
    return ranks


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    start: str,
    end: str,
    bucket_days: int,
) -> DataFrame:
    """Interval-OVERLAP equi-join: pair rows of the same key whose closed
    date intervals [start, end] intersect. Distinct from
    ``range_join_bucketed`` (point-in-window): BOTH sides are intervals.

    The naive form is a per-key inequality self-join — O(n²) per key.
    Gridding time into ``bucket_days`` bins makes it an equi-join: each
    interval explodes to the bins it touches ((len / bucket_days) + 1
    rows — pick bucket_days ≥ the typical interval length so that's ≤2),
    candidates meet on (key, bin), and the pair is kept ONLY in the
    later of the two intervals' first bins (greatest(_b0_l, _b0_r) —
    any intersecting pair shares exactly that bin, so no post-join
    dedup and no duplicate pairs ever). An exact overlap predicate
    prunes same-bin false candidates. Shuffle is ~2× rows of 3-column
    payloads; per-bin fan-out is collision-proportional, skew handled
    by AQE. Columns are returned aliased l_*/r_* via struct packing.
    """
    def prep(df, tag):
        b0 = F.floor(F.unix_date(F.col(start)) / bucket_days).cast("long")
        b1 = F.floor(F.unix_date(F.col(end)) / bucket_days).cast("long")
        return df.select(
            F.col(on).alias(f"{tag}_key"),
            F.struct(*[F.col(c) for c in df.columns]).alias(tag),
            b0.alias(f"{tag}_b0"),
            F.explode(F.sequence(b0, b1)).alias(f"{tag}_bucket"),
        )

    l = prep(left, "l")
    r = prep(right, "r")
    cond = (
        (F.col("l_key") == F.col("r_key"))
        & (F.col("l_bucket") == F.col("r_bucket"))
        & (F.col("l_bucket") == F.greatest(F.col("l_b0"), F.col("r_b0")))
        & (F.col(f"l.{start}") <= F.col(f"r.{end}"))
        & (F.col(f"r.{start}") <= F.col(f"l.{end}"))
    )
    return l.join(r, cond).select("l", "r")
