"""Analytic query-layer completeness: running windows, lag/lead,
percentiles, cube, distinct counts, set operations.

The reference delegates ALL analytical queries to PostgreSQL
(SURVEY §3 entry point 3 — its migrations' index set documents the
intended workload); a user switching from the reference's Postgres
to this engine expects the standard analytic SQL surface. These
operators complete it Spark-first.

Scale notes: ranked/running windows shuffle once on the partition key;
percentiles aggregate with map-side partials; cube multiplies output
groups (4x here), not input rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..storage import ITER_STORAGE, iter_checkpoint


def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user aggregates ordered by event time — the
    account-activity rollup (reference A4) as an incremental view."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("run_cnt"),
        F.round(F.sum("value").over(w), 2).alias("run_sum"),
    )


def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user delta vs previous event (lag) — inter-arrival shapes."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("value").over(w)
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.col("value") - F.coalesce(prev, F.lit(0.0)), 2).alias("delta"),
    )


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event type (p50/p90)."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", 0.5) + 1e-9, 4).alias("p50"),
        F.round(F.percentile("value", 0.9) + 1e-9, 4).alias("p90"),
    )


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (lang, source): all four grouping combinations."""
    docs = table(spark, sf_dir, "documents")
    return docs.cube("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counts per group (the reference's per-type
    distribution A2, deduplicated by actor)."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT over derived key sets (absent from the
    reference — SURVEY §2.6 'not present'; added for query-layer
    completeness): buyers ∩ error-users, buyers ∖ error-users."""
    ev = table(spark, sf_dir, "events")
    buyers = ev.where(F.col("event_type") == "purchase").select("user_id").distinct()
    err = ev.where(F.col("event_type") == "error").select("user_id").distinct()
    n_both = buyers.intersect(err).agg(F.count("*").alias("n_both"))
    n_only = buyers.exceptAll(err).agg(F.count("*").alias("n_buyers_only"))
    return n_both.crossJoin(n_only)


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS ((lang), (source)) — two independent breakdowns
    in one pass over the corpus (one shuffle, not two scans)."""
    docs = table(spark, sf_dir, "documents")
    return docs.groupingSets([["lang"], ["source"]], "lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands): a new session starts
    after a >30-minute silence; per session emit bounds and size.

    The batch twin of the streaming ``session_window`` (X7): two
    window functions over ONE shuffle on user_id — lag to flag
    session starts, running sum to number them — then a grouped
    aggregate that reuses the same partitioning."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # NTZ → LTZ → double (NTZ has no numeric cast; session tz is UTC)
    sec = F.col("ts").cast("timestamp").cast("double")
    gap = sec - F.lag(sec).over(w)
    is_start = F.when(gap.isNull() | (gap > 30 * 60), 1).otherwise(0)
    sessions = ev.withColumn(
        "session_id",
        F.sum(is_start).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (absent from the reference — SURVEY §2.3 'not
    present'): each purchase paired with the user's most recent
    at-or-before signup event.

    Spark-first: NOT a range join (O(n·m) candidate explosion) — a
    running ``max(ts) FILTER (event_type='signup')`` window over the
    time-sorted stream gives the as-of match in one shuffle on
    user_id; the sort inside the window is the merge step of a
    sort-based as-of join."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_signup = F.max(
        F.when(F.col("event_type") == "signup", F.col("ts"))
    ).over(w)
    return (
        ev.withColumn("asof_signup_ts", last_signup)
        .where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "asof_signup_ts")
    )


def q_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 events per type by value — the ranked-window family
    (row_number over a per-group order), the grouped twin of the O2
    global top-k (``src/pipeline.rs:303-308``).

    Scale: one shuffle on the (low-cardinality) group key; within each
    partition the window ranks locally. For a handful of groups at
    100 TB the per-group skew is the risk — AQE splits the oversized
    partitions; if groups are truly few, a per-partition pre-top-k
    (partial TakeOrdered per map task) bounds the shuffle to
     3×partitions rows."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    return (
        ev.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("event_type", "rnk", "event_id", "value")
    )


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct users per event type — the
    sketch path for cardinality at 100 TB (exact countDistinct needs a
    full shuffle of the key; HLL carries a fixed ~kB sketch per group
    through map-side partials).

    Oracle-checkable via the within-bound pattern: Spark's HLL++ and
    DuckDB's HLL give different estimates by construction, so the
    query emits the EXACT count plus a deterministic boolean
    `within_bound` = |approx − exact| / exact ≤ 0.05; the oracle
    computes the exact count and a literal ``true``. The hash then
    verifies the sketch is in tolerance without comparing sketch
    internals across engines."""
    ev = table(spark, sf_dir, "events")
    exact = F.countDistinct("user_id")
    approx = F.approx_count_distinct("user_id", rsd=0.02)
    return ev.groupBy("event_type").agg(
        exact.alias("exact_users"),
        F.count("*").alias("n_events"),
        (
            F.abs(approx.cast("double") - exact.cast("double"))
            / exact.cast("double")
            <= F.lit(0.05)
        ).alias("within_bound"),
    )


def q_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGEABILITY — the property that makes sketches the
    100 TB aggregation story: per-(event_type, day) Datasketches HLL
    sketches are built once (`hll_sketch_agg`), then rolled up across
    days by `hll_union_agg` WITHOUT touching the raw keys again —
    exactly how a production warehouse maintains daily sketch
    partitions and answers "distinct users this month" by unioning 30
    fixed-size binary states instead of re-shuffling 10^11 rows
    (q_approx_distinct is the one-shot sketch; this is the
    incremental-rollup form, the sketch twin of
    q_stream_incremental_agg's algebraic partial-merge).

    Same within-bound oracle stance as q_approx_distinct: sketch
    internals differ by engine, so the query emits the exact count
    plus deterministic booleans — the union estimate must be within
    2% of exact (lgConfigK=14 → σ≈0.65%) AND at least the max single
    day's distinct count (union dominates every input, a pure
    mergeability invariant)."""
    ev = table(spark, sf_dir, "events").select(
        "event_type", "user_id", F.to_date("ts").alias("day")
    )
    # Hierarchical distinct (r8): dedup the fact to (type, day, user)
    # triples ONCE — map-side combined, three narrow columns — and
    # derive everything from that frame. The r7 shape paired
    # countDistinct with the sketch agg (Expand ×2 over the raw fact)
    # AND re-scanned the fact for the exact branch; at sf100 those
    # two fact-wide distinct shuffles were the 12× decade ratio. HLL
    # insertion is idempotent, so sketches over deduped triples are
    # state-identical, and count(*) over triples IS the per-day
    # distinct count. Both consumers hang off the triples exchange
    # (ReuseExchange), so the raw fact is scanned once.
    triples = ev.distinct()
    daily = triples.groupBy("event_type", "day").agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"),
        F.count("*").alias("day_users"),
    )
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
        F.count("*").alias("n_days"),
        F.max("day_users").alias("max_day_users"),
    )
    exact = triples.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return merged.join(exact, "event_type").select(
        "event_type",
        "exact_users",
        "n_days",
        (
            F.abs(F.col("est").cast("double") - F.col("exact_users").cast("double"))
            / F.col("exact_users").cast("double")
            <= F.lit(0.02)
        ).alias("within_bound"),
        (F.col("est") >= F.col("max_day_users")).alias("dominates_days"),
    )


def _lower_median(col: str, part: str) -> tuple:
    """(cum_count window, total window) scaffolding for the exact
    deterministic LOWER median: smallest value whose cumulative count
    reaches half the group — integer rank logic, no interpolation, so
    Spark and DuckDB agree bit-for-bit (quantile_cont interpolation
    differs across engines; this doesn't)."""
    w_cum = (
        Window.partitionBy(part)
        .orderBy(col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(part)
    return w_cum, w_all


def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection by Median Absolute Deviation — the
    heavy-tail-safe alternative to q_anomaly's z-score (one whale
    inflates a mean/stddev until nothing is anomalous; medians don't
    care): per event type, med = median(value), MAD =
    median(|value − med|), and a point is an outlier when
    |value − med| > 3 · 1.4826 · MAD. Both medians are the exact
    deterministic LOWER median (rank arithmetic, no interpolation —
    engines disagree on quantile interpolation, never on ranks).

    Scale: two sort-windows over the same event_type partitioning
    (Catalyst shares the Exchange); the honest cost of exact medians.
    At 100 TB you swap in the mergeable-histogram median
    (q_quantile_merge) and keep this as the audit path."""
    ev = table(spark, sf_dir, "events").select("event_type", "value")
    w_cum, w_all = _lower_median("value", "event_type")
    with_rank = ev.select(
        "event_type",
        "value",
        F.count("*").over(w_cum).alias("cum"),
        F.count("*").over(w_all).alias("n"),
    )
    med = (
        with_rank.where(F.col("cum") * 2 >= F.col("n"))
        .groupBy("event_type")
        .agg(F.min("value").alias("med"))
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "value", F.abs(F.col("value") - F.col("med")).alias("adev"), "med"
    )
    w_cum2, w_all2 = _lower_median("adev", "event_type")
    with_rank2 = dev.select(
        "event_type",
        "adev",
        F.count("*").over(w_cum2).alias("cum"),
        F.count("*").over(w_all2).alias("n"),
    )
    mad = (
        with_rank2.where(F.col("cum") * 2 >= F.col("n"))
        .groupBy("event_type")
        .agg(F.min("adev").alias("mad"))
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            (F.round(F.max("med") + F.lit(1e-9), 2) + 0.0).alias("median"),
            (F.round(F.max("mad") + F.lit(1e-9), 2) + 0.0).alias("mad"),
            F.count_if(
                F.col("adev") > 3 * 1.4826 * F.col("mad")
            ).alias("n_outliers"),
        )
    )


def q_funnel_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: for every purchase, the minutes
    since the same user's most recent prior click (the funnel edge
    q_funnel counts, now MEASURED); reported as per-type-pair
    percentiles plus conversion-lag extremes. One user-partitioned
    window computes the last-click timestamp at each purchase —
    exactly the q_attribution scan shape, so at 100 TB the two
    reports share a cached exchange.

    Integer-exact: lags are whole microseconds divided to whole
    minutes with floor — no float time math (the q_time_weighted_avg
    stance), so the oracle hash-matches without rounding nudges."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    last_click = F.last(
        F.when(F.col("event_type") == "click", F.col("ts")),
        ignorenulls=True,
    ).over(w)
    lagged = (
        ev.withColumn("last_click", last_click)
        .where(
            (F.col("event_type") == "purchase")
            & F.col("last_click").isNotNull()
        )
        .select(
            (
                (
                    F.unix_micros(F.col("ts").cast("timestamp"))
                    - F.unix_micros(F.col("last_click").cast("timestamp"))
                )
                / F.lit(60_000_000)
            )
            .cast("long")
            .alias("lag_min")
        )
    )
    return lagged.agg(
        F.count("*").alias("n_conversions"),
        F.min("lag_min").alias("min_lag_min"),
        (F.round(F.avg("lag_min") + F.lit(1e-9), 4) + 0.0).alias(
            "mean_lag_min"
        ),
        F.max("lag_min").alias("max_lag_min"),
    )


def q_clamped_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Floor-at-zero running balance — the inventory/credit-ledger
    recurrence b_i = max(0, b_{i-1} + delta_i) that LOOKS inherently
    sequential (the clamp is non-associative) but has a closed
    windowed form: with S the plain prefix sum,
    b_i = S_i − min(0, min_{j≤i} S_j). Two cumulative windows over
    one (user; ts) sort replace a per-user fold — the same
    turn-the-recurrence-into-algebra move as the EWMA affine
    segments, so one pathological user never serializes a task.
    Deltas are integer (credits: purchase/signup; debits: the rest),
    so every balance is exact. Emits per user the final and peak
    balance."""
    ev = table(spark, sf_dir, "events")
    delta = (
        F.when(
            F.col("event_type").isin("purchase", "signup"), F.lit(1)
        ).otherwise(F.lit(-1))
        * F.round("value").cast("long")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base = ev.select(
        "user_id",
        F.row_number().over(w_ord).alias("rn"),
        F.sum(delta).over(w).alias("s"),
    )
    # second stage: ts is projected away, so the cumulative-min window
    # re-orders by the explicit sequence number
    w2 = Window.partitionBy("user_id").orderBy("rn").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    stepped = base.withColumn(
        "balance",
        F.col("s") - F.least(F.lit(0).cast("long"), F.min("s").over(w2)),
    )
    return stepped.groupBy("user_id").agg(
        # groupBy last() is order-undefined — pick the final row by
        # its explicit sequence number instead
        F.max_by("balance", "rn").alias("final_balance"),
        F.max("balance").alias("peak_balance"),
    )


def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting — the product-analytics ledger every
    startup dashboard leads with: per week, users split into NEW
    (first week ever seen), RETAINED (active this week and last),
    RESURRECTED (active this week, not last, seen before), and the
    week's CHURNED (active last week, not this). The identity
    active_w = new + retained + resurrected is enforced by
    construction and makes a great data-quality tripwire.

    Scale: events reduce to the distinct (user, week) activity table
    first; lag over each user's week sequence classifies transitions
    — one shuffle on user_id over the reduced table, then a
    dimension-sized weekly rollup."""
    ev = table(spark, sf_dir, "events")
    uw = ev.select(
        "user_id", F.weekofyear("ts").alias("week")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("week")
    flagged = uw.select(
        "user_id",
        "week",
        F.lag("week").over(w).alias("prev_week"),
        F.min("week").over(
            Window.partitionBy("user_id")
        ).alias("first_week"),
        F.lead("week").over(w).alias("next_week"),
    )
    status = flagged.select(
        "week",
        F.when(F.col("week") == F.col("first_week"), "new")
        .when(F.col("prev_week") == F.col("week") - 1, "retained")
        .otherwise("resurrected")
        .alias("status"),
        # this user churns AFTER this week if the next active week
        # isn't the immediately following one
        (
            F.col("next_week").isNull()
            | (F.col("next_week") > F.col("week") + 1)
        ).alias("churns_after"),
    )
    return status.groupBy("week").agg(
        F.count("*").alias("active"),
        F.count_if(F.col("status") == "new").alias("new_users"),
        F.count_if(F.col("status") == "retained").alias("retained"),
        F.count_if(F.col("status") == "resurrected").alias("resurrected"),
        F.count_if(F.col("churns_after")).alias("churning_after"),
    )


def q_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users by day — the growth curve: naive
    cumulative COUNT(DISTINCT) over an expanding window re-counts the
    whole prefix per day; the scalable identity is that a user adds to
    the cumulative count only on their FIRST day, so the curve is a
    running sum over the first-seen-day histogram — one user rollup +
    one |days|-sized prefix sum."""
    ev = table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    per_day = first_seen.groupBy("first_day").agg(
        F.count("*").alias("new_users")
    )
    w = Window.orderBy("first_day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_day.select(
        F.col("first_day").alias("day"),
        "new_users",
        F.sum("new_users").over(w).alias("cumulative_users"),
    )


def q_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-parent OLAP report: revenue per (region, nation) with
    each nation's share of its region and of the global total — two
    window sums over the dimension-sized rollup (the heavy work is
    one fact aggregate; the shares are free)."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "_rev"
            )
        )
    )
    w_r = Window.partitionBy("r_name")
    w_g = Window.partitionBy()
    return rev.select(
        "r_name",
        "n_name",
        (F.round(F.col("_rev") + F.lit(1e-9), 2) + 0.0).alias("revenue"),
        (
            F.round(F.col("_rev") / F.sum("_rev").over(w_r) * 100 + F.lit(1e-9), 4)
            + 0.0
        ).alias("pct_of_region"),
        (
            F.round(F.col("_rev") / F.sum("_rev").over(w_g) * 100 + F.lit(1e-9), 4)
            + 0.0
        ).alias("pct_of_total"),
    )


TOPK_OTHERS_K = 3


def q_topk_others(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K plus OTHERS — the reporting idiom dashboards need (a pie
    chart with a long tail): top-3 event types by revenue keep their
    name, the tail folds into one 'other' row, totals preserved. Rank
    over the dimension-sized rollup, then one re-aggregate."""
    ev = table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.sum("value").alias("_rev"), F.count("*").alias("_n")
    )
    w = Window.orderBy(F.desc("_rev"), F.asc("event_type"))
    ranked = per_type.withColumn("rn", F.row_number().over(w))
    return (
        ranked.select(
            F.when(F.col("rn") <= TOPK_OTHERS_K, F.col("event_type"))
            .otherwise(F.lit("other"))
            .alias("bucket"),
            "_rev",
            "_n",
        )
        .groupBy("bucket")
        .agg(
            (F.round(F.sum("_rev") + F.lit(1e-9), 2) + 0.0).alias("revenue"),
            F.sum("_n").alias("n_events"),
        )
    )


def q_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition (the moving-average STL
    ancestor) of the daily revenue series: trend = 7-day centered
    moving average, seasonal = day-of-week mean of the detrended
    series, residual = the rest. The reduce-first shape matters:
    events aggregate to ONE row per day before any window — the
    decomposition windows run over a days-in-corpus-sized table, so
    at 100 TB the expensive part is a plain map-side-combinable
    rollup and the time-series math is free. Edge days use the
    partial centered window (rows between -3 and 3 over what exists),
    identically in both engines."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum("value").alias("revenue")
    )
    w_ma = Window.orderBy("day").rowsBetween(-3, 3)
    t = daily.select(
        "day", "revenue", F.avg("revenue").over(w_ma).alias("trend")
    ).withColumn("detrended", F.col("revenue") - F.col("trend"))
    w_dow = Window.partitionBy(F.dayofweek("day"))
    s = t.withColumn("seasonal", F.avg("detrended").over(w_dow))
    return s.select(
        "day",
        (F.round(F.col("revenue") + F.lit(1e-9), 2) + 0.0).alias("revenue"),
        (F.round(F.col("trend") + F.lit(1e-9), 4) + 0.0).alias("trend"),
        (F.round(F.col("seasonal") + F.lit(1e-9), 4) + 0.0).alias(
            "seasonal"
        ),
        (
            F.round(
                F.col("detrended") - F.col("seasonal") + F.lit(1e-9), 4
            )
            + 0.0
        ).alias("residual"),
    )


CUPED_SPLIT = "2024-01-16"  # pre-period / experiment-period boundary


def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM'13) — the
    experimentation-platform op that cuts A/B test runtimes: each
    user's PRE-period spend is a covariate for their experiment-period
    spend; the adjusted metric post − θ·(pre − mean(pre)) with
    θ = cov(pre, post)/var(pre) has the same mean but strictly lower
    variance whenever pre correlates with post. Variants are the
    deterministic user_id % 2 split; the report shows, per variant,
    the raw and adjusted means and the variance-reduction ratio the
    covariate bought.

    Scale: two conditional aggregates per user (one shuffle), then θ
    and the means come from ONE pooled moment aggregate (covar_pop /
    var_pop are algebraic — map-side partials), broadcast back as a
    1-row cross join. Nothing beyond |users| rows ever shuffles.
    Floats follow the q_stats_agg stance: round(±1e-9, 4) on both
    engines because distributed moment merges perturb last bits."""
    ev = table(spark, sf_dir, "events")
    split = F.lit(CUPED_SPLIT).cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        F.coalesce(
            F.sum(F.when(F.col("ts") < split, F.col("value"))), F.lit(0.0)
        ).alias("pre"),
        F.coalesce(
            F.sum(F.when(F.col("ts") >= split, F.col("value"))), F.lit(0.0)
        ).alias("post"),
    )
    pooled = per_user.agg(
        (F.covar_pop("pre", "post") / F.var_pop("pre")).alias("theta"),
        F.avg("pre").alias("pre_mean"),
    )
    adj = per_user.crossJoin(F.broadcast(pooled)).select(
        (F.col("user_id") % 2).alias("variant"),
        "post",
        (
            F.col("post")
            - F.col("theta") * (F.col("pre") - F.col("pre_mean"))
        ).alias("adjusted"),
    )
    return adj.groupBy("variant").agg(
        F.count("*").alias("n_users"),
        (F.round(F.avg("post") + F.lit(1e-9), 4) + 0.0).alias("mean_post"),
        (F.round(F.avg("adjusted") + F.lit(1e-9), 4) + 0.0).alias(
            "mean_adjusted"
        ),
        (
            F.round(
                1 - F.var_pop("adjusted") / F.var_pop("post") + F.lit(1e-9),
                4,
            )
            + 0.0
        ).alias("var_reduction"),
    )


def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimate with right censoring, on
    RECURRENT events — time between purchases: each inter-purchase
    gap is a complete observation; each user's OPEN gap (last purchase
    → corpus end) is censored, exactly how a retention team estimates
    "P(next purchase takes > t days)" without the still-open gaps
    biasing the curve downward. (A wall-clock churn rule labels
    nobody in this uniformly-active fixture — gap-survival is the
    non-vacuous, and frankly more common, production question.)
    At each observed gap length t: d_t completed gaps, n_t gaps still
    at risk (length ≥ t), S(t) = Π_{s ≤ t} (1 − d_s/n_s) computed as
    exp(Σ ln factor) with an explicit zero guard (Spark's ln(0) is
    NULL, DuckDB's is -inf — the CASE keeps both engines off that
    divergence).

    Scale: one user-partitioned lead window over purchases, then
    everything is DISTINCT-GAP-LENGTH scale (≤ days-in-corpus rows) —
    at-risk counts via a reverse cumulative sum over the gap
    histogram, never a per-subject window."""
    ev = table(spark, sf_dir, "events")
    anchor = ev.agg(F.max("ts")).head()[0]  # 1-row time anchor
    pur = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = pur.select(
        F.lead("ts").over(w).isNotNull().alias("observed"),
        F.when(
            F.lead("ts").over(w).isNotNull(),
            F.datediff(F.lead("ts").over(w), F.col("ts")),
        )
        .otherwise(F.datediff(F.lit(anchor), F.col("ts")))
        .alias("duration"),
    )
    hist = gaps.groupBy("duration").agg(
        F.count("*").alias("m"),
        F.count_if(F.col("observed")).alias("d"),
    )
    w_rev = (
        Window.orderBy(F.desc("duration"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    at_risk = hist.select(
        "duration", "d", F.sum("m").over(w_rev).alias("n")
    ).where(F.col("d") > 0)
    w_cum = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    factor = 1 - F.col("d") / F.col("n")
    # ln argument guarded INSIDE the window term: the outer CASE does
    # not stop either engine from evaluating the sum's every term, and
    # ln(0) is NULL in Spark but a hard error in DuckDB
    safe_log = F.log(F.when(factor > 0, factor).otherwise(F.lit(1.0)))
    return at_risk.select(
        F.col("duration").alias("t"),
        F.col("n").alias("n_at_risk"),
        F.col("d").alias("n_churned"),
        (
            F.round(
                F.when(F.min(factor).over(w_cum) == 0, F.lit(0.0)).otherwise(
                    F.exp(F.sum(safe_log).over(w_cum))
                )
                + F.lit(1e-9),
                6,
            )
            + 0.0
        ).alias("survival"),
    )


_NULL_SEMANTICS_SQL = """
    WITH sub AS (
      SELECT o_custkey AS k FROM orders
      UNION ALL SELECT CAST(NULL AS BIGINT)
    )
    SELECT
      (SELECT count(*) FROM customer
       WHERE c_custkey NOT IN (SELECT k FROM sub)) AS not_in_with_null,
      (SELECT count(*) FROM customer c WHERE NOT EXISTS
        (SELECT 1 FROM sub s WHERE s.k = c.c_custkey))
        AS not_exists_without,
      (SELECT count(k) FROM sub) AS count_col_skips_null,
      (SELECT count(*) FROM sub) AS count_star_includes_null
"""


def q_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NULL-semantics traps every SQL migration hits, pinned as a
    correctness query (IDENTICAL statement in both engines): NOT IN
    against a subquery containing a NULL is three-valued logic — it
    returns ZERO rows no matter what, while the NOT EXISTS spelling
    returns the customers without orders; count(col) skips NULLs
    while count(*) doesn't. An engine that 'optimizes' NOT IN into an
    anti-join without the null check silently changes answers — this
    query hash-locks the standard behavior (Spark plans it as a
    NullAware anti join for exactly this reason)."""
    from ..catalog import load

    load(spark, sf_dir, register_views=True)
    return spark.sql(_NULL_SEMANTICS_SQL)


def q_window_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (percent_rank / cume_dist /
    ntile) over each event's value within its type — the remaining
    ANSI window surface next to the rank/lag/range families. Ties are
    broken by event_id so both engines rank identically; one shuffle
    on event_type."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        "event_id",
        "event_type",
        (F.round(F.percent_rank().over(w) + F.lit(1e-9), 6) + 0.0).alias(
            "pct_rank"
        ),
        (F.round(F.cume_dist().over(w) + F.lit(1e-9), 6) + 0.0).alias(
            "cume"
        ),
        F.ntile(10).over(w).alias("decile"),
    )


def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling report — the summarize/ANALYZE TABLE surface a
    switching user expects: per column of ``events``, null count,
    approx-free exact distinct count, min/max (as strings for the
    uniform schema), and the most frequent value with its count
    (deterministic tie-break on the value itself). Two jobs total:
    one cheap fused HashAggregate for count/min/max (NO
    count_distinct — a 4-way multi-distinct expands the input 4x),
    and ONE (column, value) rollup that serves BOTH the distinct
    counts and the modes: n_distinct is just count(*) over that
    table, so the expensive shuffle is paid once and reused. At
    100 TB the same plan is how profilers (Deequ-style) collect
    column statistics — with high-cardinality columns switched to
    approximate sketches, which this exact-oracle variant keeps
    honest."""
    ev = table(spark, sf_dir, "events")
    cols = ["event_id", "user_id", "event_type", "value"]
    facets = ev.agg(
        F.count("*").alias("_n"),
        *[
            e
            for c in cols
            for e in (
                F.count_if(F.col(c).isNull()).alias(f"{c}__nulls"),
                F.min(F.col(c)).cast("string").alias(f"{c}__min"),
                F.max(F.col(c)).cast("string").alias(f"{c}__max"),
            )
        ],
    ).head()
    # all four modes in ONE job: union the (column, value) pairs,
    # count once, rank-1 per column via a row_number window — the
    # rn=1 filter plans as WindowGroupLimit (map-side top-1 per
    # group), vs the naive per-column sort+limit jobs (4 full
    # shuffles; measured 25 s at sf1 against ~6 s for this shape; a
    # production profiler would switch the high-cardinality columns
    # to an approximate top-k sketch entirely)
    from functools import reduce

    pairs = reduce(
        lambda a, b: a.unionByName(b),
        [
            ev.select(
                F.lit(c).alias("column"),
                F.col(c).cast("string").alias("v"),
            )
            for c in cols
        ],
    )
    w_mode = Window.partitionBy("column").orderBy(
        F.desc("count"), F.asc("v")
    )
    counts = iter_checkpoint(
        pairs.groupBy("column", "v").count(), eager=False
    )  # reused by mode AND n_distinct — the one expensive shuffle
    mode_df = (
        counts.withColumn("rn", F.row_number().over(w_mode))
        .where(F.col("rn") == 1)
        .select(
            "column",
            F.col("v").alias("top_value"),
            F.col("count").alias("top_count"),
        )
    ).join(
        counts.groupBy("column").agg(
            F.count("*").cast("long").alias("n_distinct")
        ),
        "column",
    )
    rows = [
        (
            c,
            int(facets["_n"]),
            int(facets[f"{c}__nulls"]),
            str(facets[f"{c}__min"]),
            str(facets[f"{c}__max"]),
        )
        for c in cols
    ]
    base = spark.createDataFrame(
        rows,
        "column string, n_rows bigint, n_nulls bigint,"
        " min_value string, max_value string",
    )
    return base.join(mode_df, "column").select(
        "column",
        "n_rows",
        "n_nulls",
        "n_distinct",
        "min_value",
        "max_value",
        "top_value",
        "top_count",
    )


DEAD_LETTER_MOD = 13  # every 13th event's props is corrupted in transit


def q_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter routing (ST5 made inspectable): the props JSON of
    every 13th event is deterministically corrupted (simulating a
    producer bug), rows are parsed with an explicit schema under
    try-semantics, and the batch SPLITS — clean rows continue to the
    aggregate, corrupt rows land in a quarantine rollup with a reason.
    One pass, one filter each side, no exceptions thrown: at 100 TB
    dead-lettering must be a column-level branch, not a task retry
    (a single poison row must never kill a 2-hour batch).

    Emits per event_type: clean count, quarantined count, and the
    mean of the parsed k field over clean rows only."""
    ev = table(spark, sf_dir, "events")
    wire = ev.select(
        "event_id",
        "event_type",
        F.when(
            F.col("event_id") % DEAD_LETTER_MOD == 0,
            # drop the closing brace: truncated-in-transit payload
            # (appending garbage is NOT enough — lenient parsers stop
            # at the first complete JSON value and would accept it)
            F.expr("substring(props, 1, length(props) - 1)"),
        )
        .otherwise(F.col("props"))
        .alias("props"),
    )
    parsed = wire.withColumn(
        "k", F.try_variant_get(F.try_parse_json("props"), "$.k", "int")
    )
    return parsed.groupBy("event_type").agg(
        F.count_if(F.col("k").isNotNull()).alias("n_clean"),
        F.count_if(F.col("k").isNull()).alias("n_quarantined"),
        (
            F.round(
                F.avg(F.when(F.col("k").isNotNull(), F.col("k")))
                + F.lit(1e-9),
                4,
            )
            + 0.0
        ).alias("mean_k_clean"),
    )


AFFINITY_MIN_PAIRS = 3  # co-occurrence support threshold


def q_item_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity ("bought X, also bought Y"): part pairs
    co-occurring in the same order, with support count and LIFT
    (P(A,B) / (P(A)·P(B)) over the order universe). Top-20 pairs by
    lift among pairs with support ≥ 3.

    Scale shape: baskets are MATERIALIZED (one groupBy on orderkey →
    sorted distinct-part array) and pairs expand MAP-SIDE from the
    array (nested sequence transform) — one shuffle for the baskets,
    one for the pair counts, versus the naive within-order self-join's
    extra exchange. Candidate pairs are Σ basket_size² — bounded by
    the max basket (TPC-H: 7 lines), never corpus². Item marginals
    broadcast back. At 100 TB the basket build bucket-partitions by
    orderkey and the expansion cost is unchanged."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # o_orderkey is the orders PK: plain count == distinct count, and
    # skips a 150k-row distinct exchange before the scalar collect
    n_orders = table(spark, sf_dir, "orders").count()
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    pair_expr = F.explode(
        F.flatten(
            F.expr(
                "transform(sequence(1, size(parts) - 1), i ->"
                " transform(sequence(i + 1, size(parts)), j ->"
                " struct(element_at(parts, i) AS part_a,"
                "        element_at(parts, j) AS part_b)))"
            )
        )
    )
    pairs = (
        baskets.where(F.size("parts") >= 2)
        .select(pair_expr.alias("p"))
        .groupBy(
            F.col("p.part_a").alias("part_a"),
            F.col("p.part_b").alias("part_b"),
        )
        .agg(F.count("*").alias("n_both"))
        .where(F.col("n_both") >= AFFINITY_MIN_PAIRS)
    )
    marg = baskets.select(
        F.explode("parts").alias("part")
    ).groupBy("part").agg(F.count("*").alias("n_orders_with"))
    out = (
        pairs.join(
            F.broadcast(marg.withColumnRenamed("part", "part_a")), "part_a"
        )
        .withColumnRenamed("n_orders_with", "n_a")
        .join(
            F.broadcast(marg.withColumnRenamed("part", "part_b")), "part_b"
        )
        .withColumnRenamed("n_orders_with", "n_b")
    )
    lift = (F.col("n_both") * F.lit(n_orders)) / (
        F.col("n_a") * F.col("n_b")
    )
    return (
        out.select(
            "part_a",
            "part_b",
            "n_both",
            (F.round(lift + F.lit(1e-9), 4) + 0.0).alias("lift"),
        )
        .orderBy(
            F.desc("lift"), F.desc("n_both"), F.asc("part_a"), F.asc("part_b")
        )
        .limit(20)
    )


def q_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association RULES on top of the co-occurrence pairs — the
    directional half market-basket lift can't express: for each part
    pair, conf(A→B) = P(B|A) and conf(B→A) = P(A|B) differ whenever
    the marginals do, and the actionable rule is the high-confidence
    direction ("A buyers also buy B" ≠ "B buyers also buy A"). Top-20
    rules by confidence among pairs with support ≥ 3, each emitted in
    its stronger direction.

    Scale: reuses the basket-materialized pair counts (map-side
    expansion, Σ basket² bounded by basket size) and broadcast
    marginals — the rule arithmetic is free once the pairs exist."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    pair_expr = F.explode(
        F.flatten(
            F.expr(
                "transform(sequence(1, size(parts) - 1), i ->"
                " transform(sequence(i + 1, size(parts)), j ->"
                " struct(element_at(parts, i) AS part_a,"
                "        element_at(parts, j) AS part_b)))"
            )
        )
    )
    pairs = (
        baskets.where(F.size("parts") >= 2)
        .select(pair_expr.alias("p"))
        .groupBy(F.col("p.part_a").alias("part_a"), F.col("p.part_b").alias("part_b"))
        .agg(F.count("*").alias("n_both"))
        .where(F.col("n_both") >= AFFINITY_MIN_PAIRS)
    )
    marg = baskets.select(F.explode("parts").alias("part")).groupBy(
        "part"
    ).agg(F.count("*").alias("n_with"))
    enriched = (
        pairs.join(
            F.broadcast(marg.withColumnRenamed("part", "part_a")), "part_a"
        )
        .withColumnRenamed("n_with", "n_a")
        .join(
            F.broadcast(marg.withColumnRenamed("part", "part_b")), "part_b"
        )
        .withColumnRenamed("n_with", "n_b")
    )
    conf_ab = F.col("n_both") / F.col("n_a")
    conf_ba = F.col("n_both") / F.col("n_b")
    return (
        enriched.select(
            F.when(conf_ab >= conf_ba, F.col("part_a"))
            .otherwise(F.col("part_b"))
            .alias("antecedent"),
            F.when(conf_ab >= conf_ba, F.col("part_b"))
            .otherwise(F.col("part_a"))
            .alias("consequent"),
            "n_both",
            (
                F.round(F.greatest(conf_ab, conf_ba) + F.lit(1e-9), 4) + 0.0
            ).alias("confidence"),
        )
        .orderBy(
            F.desc("confidence"),
            F.desc("n_both"),
            F.asc("antecedent"),
            F.asc("consequent"),
        )
        .limit(20)
    )


def q_markov_next(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-event prediction accuracy from the first-order Markov
    transition matrix — turning q_transitions' counts into a MODEL and
    scoring it in-sample: the predictor for state s is
    argmax_t P(t|s) (ties to the lexicographically first target, both
    engines); accuracy = fraction of transitions where the prediction
    matches. The baseline every sequence model must beat, computed
    with two shuffles over the reduced transition table."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").alias("n"))
    )
    w_best = Window.partitionBy("src").orderBy(F.desc("n"), F.asc("dst"))
    best = (
        trans.withColumn("rn", F.row_number().over(w_best))
        .where(F.col("rn") == 1)
        .select("src", F.col("dst").alias("predicted"), F.col("n").alias("n_hit"))
    )
    totals = trans.groupBy("src").agg(F.sum("n").alias("n_total"))
    return (
        best.join(totals, "src")
        .select(
            "src",
            "predicted",
            "n_total",
            (
                F.round(F.col("n_hit") / F.col("n_total") + F.lit(1e-9), 4)
                + 0.0
            ).alias("accuracy"),
        )
    )


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per user recency (days since last
    event), frequency (event count), monetary (value sum), each cut
    into quartiles by ntile, then segment sizes and averages per
    (R, F, M) cell. The workhorse of lifecycle marketing, expressed as
    one user rollup + three rank windows over the REDUCED per-user
    table — the windows sort |users| rows, not |events| (the same
    reduce-first stance as the drift statistics). Scale honesty: an
    unpartitioned ntile is a single-task sort; at 10^9 users each cut
    becomes the two-phase bucket-local rank + summary carry that
    q_equidepth_bins already implements (identical quartile labels,
    distributed sort) — at the fixture's user cardinality the direct
    window is the faster plan.

    Determinism: every ntile orders by (metric, user_id) so quartile
    boundaries are stable; the anchor 'now' is the corpus max ts (a
    1-row aggregate), not wall-clock."""
    ev = table(spark, sf_dir, "events")
    anchor = ev.agg(F.max("ts")).head()[0]  # 1-row collect: time anchor
    per_user = ev.groupBy("user_id").agg(
        F.datediff(F.lit(anchor), F.max("ts")).alias("recency_days"),
        F.count("*").alias("frequency"),
        F.round(F.sum("value") + F.lit(1e-9), 2).alias("monetary"),
    )
    # recency: LOWER days = better = higher quartile label
    r_w = Window.orderBy(F.desc("recency_days"), F.asc("user_id"))
    f_w = Window.orderBy(F.asc("frequency"), F.asc("user_id"))
    m_w = Window.orderBy(F.asc("monetary"), F.asc("user_id"))
    scored = per_user.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(4).over(r_w).alias("r"),
        F.ntile(4).over(f_w).alias("f"),
        F.ntile(4).over(m_w).alias("m"),
    )
    return scored.groupBy("r", "f", "m").agg(
        F.count("*").alias("n_users"),
        (F.round(F.avg("monetary") + F.lit(1e-9), 2) + 0.0).alias(
            "avg_monetary"
        ),
    )


def q_hll_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-algebra INTERSECTION: HLL unions compose natively but
    intersections don't — the standard workaround is inclusion-
    exclusion, |A∩B| ≈ est(A) + est(B) − est(A∪B), computed entirely
    from the per-type sketches q_hll_merge already maintains. Answers
    "users who did BOTH click and purchase" for every type pair
    without ever re-shuffling raw user ids: 10 type pairs × 3
    fixed-size sketch reads.

    Within-bound oracle stance (sketch internals differ by engine):
    emit the EXACT overlap per pair plus a deterministic boolean that
    the inclusion-exclusion estimate lands within 5% of the exact
    union-scaled error budget — inclusion-exclusion compounds three
    estimates, so its error is bounded by 3σ·|A∪B|, not σ·|A∩B|
    (the known weakness vs theta sketches, stated in the column
    name `within_union_bound`)."""
    ev = table(spark, sf_dir, "events").select("event_type", "user_id")
    sk = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"),
        F.countDistinct("user_id").alias("n_users"),
    )
    a, b = sk.alias("a"), sk.alias("b")
    pairs = a.join(
        b, F.col("a.event_type") < F.col("b.event_type")
    ).select(
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
        F.hll_sketch_estimate(F.col("a.sk")).alias("est_a"),
        F.hll_sketch_estimate(F.col("b.sk")).alias("est_b"),
        F.hll_sketch_estimate(
            F.hll_union(F.col("a.sk"), F.col("b.sk"))
        ).alias("est_u"),
    )
    exact = (
        ev.distinct()
        .alias("x")
        .join(
            ev.distinct().alias("y"),
            (F.col("x.user_id") == F.col("y.user_id"))
            & (F.col("x.event_type") < F.col("y.event_type")),
        )
        .groupBy(
            F.col("x.event_type").alias("type_a"),
            F.col("y.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("exact_both"))
    )
    return exact.join(pairs, ["type_a", "type_b"]).select(
        "type_a",
        "type_b",
        "exact_both",
        (
            F.abs(
                (F.col("est_a") + F.col("est_b") - F.col("est_u"))
                - F.col("exact_both")
            )
            <= 0.05 * F.col("est_u")
        ).alias("within_union_bound"),
    )


def q_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based quantiles per event type (approx_percentile /
    Greenwald-Khanna with relative error 0.01) — the quantile twin of
    the HLL sketch: fixed-size state through map-side combine instead
    of a full sort or shuffle of raw values.

    Oracle-checkable via the within-bound pattern (GK and DuckDB's
    quantile algorithms differ by construction, and the driver's
    hasher can't hash an array cell — CORRECTNESS_r01): emit the
    EXACT interpolated p50/p90 as scalar columns plus deterministic
    booleans asserting the GK estimate's rank lands inside a window
    around the target rank (GK accuracy=100 bounds rank error at 1%;
    the window is ±10 ranks at p50, −10/+7 at p90). The oracle
    computes quantile_cont + literal ``true``."""
    ev = table(spark, sf_dir, "events")
    a = F.percentile_approx("value", [0.5, 0.9], 100)
    lo50, hi50 = F.percentile("value", 0.40), F.percentile("value", 0.60)
    lo90, hi90 = F.percentile("value", 0.80), F.percentile("value", 0.97)
    a50 = F.element_at(a, 1)
    a90 = F.element_at(a, 2)
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.percentile("value", 0.5) + 1e-9, 4).alias("p50"),
        F.round(F.percentile("value", 0.9) + 1e-9, 4).alias("p90"),
        ((a50 >= lo50) & (a50 <= hi50)).alias("p50_in_bound"),
        ((a90 >= lo90) & (a90 <= hi90)).alias("p90_in_bound"),
    )


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch conversion attribution: every ``purchase`` event is
    a conversion; FIRST-touch credits the user's first-ever event
    type, LAST-touch credits the latest non-purchase event strictly
    before the conversion ('direct' when none exists). Emits
    (model, touch_type, n_conversions, revenue) for both models — the
    standard marketing-attribution rollup expressed as two window
    passes over one user-partitioned sort.

    Scale: both windows share the SAME (user_id; ts, event_id)
    partitioning and ordering, so Catalyst plans one Exchange + one
    Sort for the pair — attribution at 100 TB costs a single shuffle
    of the event stream, then dimension-sized aggregation."""
    ev = table(spark, sf_dir, "events")
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_prior = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    touched = ev.select(
        "event_type",
        "value",
        F.first("event_type").over(w_ord).alias("first_touch"),
        F.coalesce(
            F.last(
                F.when(F.col("event_type") != "purchase", F.col("event_type")),
                ignorenulls=True,
            ).over(w_prior),
            F.lit("direct"),
        ).alias("last_touch"),
    ).where(F.col("event_type") == "purchase")
    first = touched.groupBy(
        F.lit("first").alias("model"), F.col("first_touch").alias("touch_type")
    ).agg(
        F.count("*").alias("n_conversions"),
        F.round(F.sum("value") + F.lit(1e-9), 2).alias("revenue"),
    )
    last = touched.groupBy(
        F.lit("last").alias("model"), F.col("last_touch").alias("touch_type")
    ).agg(
        F.count("*").alias("n_conversions"),
        F.round(F.sum("value") + F.lit(1e-9), 2).alias("revenue"),
    )
    return first.unionByName(last)


AQP_MOD = 10  # 1-in-10 deterministic user sample


def q_aqp_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate query processing by deterministic hash sampling:
    aggregate only users with ``user_id % 10 == 0`` (a 10% universe
    sample — sampling USERS, not rows, keeps per-user correlation
    intact, the textbook congressional-sampling caveat) and scale
    counts/sums by 10. Emits estimate next to exact with the relative
    error, demonstrating the interactive-latency path over 100 TB:
    the sampled scan prunes 90% of rows BEFORE the shuffle, and with
    the table bucketed by user hash it prunes at file level.

    Everything is deterministic (modulus, not rand()), so the oracle
    reproduces the estimates exactly — the correctness check covers
    the sampling arithmetic, while the statistical quality shows in
    the rel_err column itself."""
    ev = table(spark, sf_dir, "events")
    exact = ev.groupBy("event_type").agg(
        F.count("*").alias("exact_n"),
        F.round(F.sum("value") + F.lit(1e-9), 2).alias("exact_sum"),
    )
    est = (
        ev.where(F.col("user_id") % AQP_MOD == 0)
        .groupBy("event_type")
        .agg(
            (F.count("*") * AQP_MOD).alias("est_n"),
            F.round(F.sum("value") * AQP_MOD + F.lit(1e-9), 2).alias("est_sum"),
        )
    )
    return exact.join(est, "event_type", "left").select(
        "event_type",
        "exact_n",
        F.coalesce("est_n", F.lit(0)).alias("est_n"),
        "exact_sum",
        F.coalesce("est_sum", F.lit(0.0)).alias("est_sum"),
        F.round(
            F.abs(F.coalesce("est_n", F.lit(0)) - F.col("exact_n"))
            / F.col("exact_n")
            + F.lit(1e-9),
            4,
        ).alias("rel_err_n"),
    )


QM_BINS = 64  # mergeable-histogram quantile sketch width
QM_RANGE = 1000.0  # events.value domain upper bound


def _qm_bin(value):
    """Shared bin expression — written with the IDENTICAL arithmetic
    the oracle SQL uses (value * 64.0 / 1000.0, floor, clamp) so both
    engines hit the same IEEE-754 doubles and the same integers."""
    raw = F.floor(value * F.lit(float(QM_BINS)) / F.lit(QM_RANGE))
    return F.least(F.greatest(raw, F.lit(0)), F.lit(QM_BINS - 1)).cast("int")


def q_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable QUANTILE sketch rollup — the quantile twin of
    q_hll_merge's union-of-states story: per-(event_type, day) 64-bin
    equi-width histograms are built once from the raw rows, then
    merged across days by ELEMENT-WISE ARRAY ADDITION (zip_with inside
    one F.aggregate fold) without re-touching raw values; p50/p90 come
    from a cumulative walk over the 64 merged counters. This is how a
    warehouse answers "monthly p99 latency" from daily histogram
    partitions: 30 fixed-size states merge in microseconds where a
    percentile over 10^11 raw rows would re-shuffle everything.

    Unlike GK/t-digest, the fixed-bin histogram is DETERMINISTIC, so
    the oracle is a full value-hash match, not a within-bound check:
    DuckDB recomputes the same binning in one shot — merge associativity
    means the two-phase engine result must equal the one-shot oracle
    result exactly, which IS the mergeability contract.

    Scale: the per-day state is 64 longs regardless of row count; the
    second phase shuffles n_days fixed-size arrays per type. Bin count
    trades accuracy for state (production: 2^12 bins or log-spaced
    HDR buckets — same algebra)."""
    ev = table(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").alias("day"),
        _qm_bin(F.col("value")).alias("bin"),
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.array(
            *[
                F.count_if(F.col("bin") == i).alias(f"b{i}")
                for i in range(QM_BINS)
            ]
        ).alias("hist")
    )
    zero = F.array(*[F.lit(0).cast("long")] * QM_BINS)
    merged = daily.groupBy("event_type").agg(
        F.aggregate(
            F.collect_list("hist"),
            zero,
            lambda acc, h: F.zip_with(acc, h, lambda a, b: a + b),
        ).alias("hist"),
        F.count("*").alias("n_days"),
    )
    cells = merged.select(
        "event_type",
        "n_days",
        F.posexplode("hist").alias("bin", "cnt"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = cells.select(
        "event_type",
        "n_days",
        "bin",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("event_type")).alias("n"),
    )
    pick = cum.groupBy("event_type", "n_days", "n").agg(
        F.min(
            F.when(F.col("cum") >= F.ceil(F.col("n") * 0.5), F.col("bin"))
        ).alias("p50_bin"),
        F.min(
            F.when(F.col("cum") >= F.ceil(F.col("n") * 0.9), F.col("bin"))
        ).alias("p90_bin"),
    )
    width = QM_RANGE / QM_BINS
    return pick.select(
        "event_type",
        F.col("n").alias("n_events"),
        "n_days",
        "p50_bin",
        "p90_bin",
        F.round((F.col("p50_bin") + 0.5) * width + 1e-9, 4).alias("p50_est"),
        F.round((F.col("p90_bin") + 0.5) * width + 1e-9, 4).alias("p90_est"),
    )


EWMA_ALPHA = 0.3
FOLD_SEGMENT = 4096  # rows per segment partial in the chunked folds


def _with_rn_segments(ev: DataFrame, seg_size: int) -> DataFrame:
    """Per-user time-order row number and its segment index — the
    chunking scaffold for ordered-fold recurrences. The window SORT
    spills to disk (sort-based aggregation), unlike a whole-history
    collect_list which must materialize one array in one task."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id", "value")
    return ev.select(
        "user_id", "value", F.row_number().over(w).alias("rn")
    ).withColumn("seg", F.floor((F.col("rn") - 1) / F.lit(seg_size)))


def ewma_segmented(ev: DataFrame, seg_size: int = FOLD_SEGMENT) -> DataFrame:
    """Bounded-memory EWMA: the recurrence acc = α·x + (1−α)·acc is an
    AFFINE map acc → s·acc + o per element, and affine maps compose —
    so each ≤`seg_size`-row segment folds to one (s, o) pair and the
    per-user state is O(n/seg_size) segment partials, never the whole
    history in one array (the round-3 watch item).

    Seeding: acc₁ = x₁ equals folding ALL elements from acc₀ = x₁
    (α·x₁ + (1−α)·x₁ = x₁), so the final value is simply
    s_total·x_first + o_total with every element treated uniformly."""
    base = _with_rn_segments(ev, seg_size)
    per_seg = base.groupBy("user_id", "seg").agg(
        F.array_sort(F.collect_list(F.struct("rn", "value"))).alias("arr"),
        F.count("*").alias("k"),
    )
    vals = F.transform(F.col("arr"), lambda s: s["value"])
    so = F.aggregate(
        vals,
        F.struct(F.lit(1.0).alias("s"), F.lit(0.0).alias("o")),
        lambda acc, x: F.struct(
            ((1 - EWMA_ALPHA) * acc["s"]).alias("s"),
            (EWMA_ALPHA * x + (1 - EWMA_ALPHA) * acc["o"]).alias("o"),
        ),
    )
    per_seg = per_seg.select(
        "user_id",
        "seg",
        "k",
        so.alias("m"),
        F.element_at(vals, 1).alias("v_first"),
    )
    per_user = per_seg.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("seg", "m", "v_first"))).alias("ms"),
        F.sum("k").alias("n_events"),
    )
    tot = F.aggregate(
        F.col("ms"),
        F.struct(F.lit(1.0).alias("s"), F.lit(0.0).alias("o")),
        lambda acc, seg: F.struct(
            (acc["s"] * seg["m"]["s"]).alias("s"),
            (acc["o"] * seg["m"]["s"] + seg["m"]["o"]).alias("o"),
        ),
    )
    x_first = F.element_at(F.col("ms"), 1)["v_first"]
    return per_user.select(
        "user_id",
        "n_events",
        F.round(tot["s"] * x_first + tot["o"] + 1e-9, 4).alias("ewma"),
    )


def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of each user's value
    stream (α=0.3) — the classic time-series smoother that plain
    window frames cannot express (every prior row contributes with a
    different weight). The recurrence acc = α·x + (1−α)·acc seeded
    with the first value matches DuckDB's
    ``list_reduce(list(value ORDER BY ...))`` oracle term for term
    (affine composition is exact in ℝ; the 4dp round absorbs the
    float-association difference).

    Scale: computed by :func:`ewma_segmented` — per-segment affine
    (scale, offset) partials + carry composition, so peak per-task
    state is O(segment), not one whole-history array per user, even
    for a user owning tens of millions of events (property-tested
    with a 100k-event user in tests/test_properties.py)."""
    ev = table(spark, sf_dir, "events")
    return ewma_segmented(ev)


PSI_SPLIT = "2024-01-15"
PSI_BINS = 10


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index between the value distributions of
    the first and second halves of the event stream — the standard
    drift monitor a production scorer runs on its input features:
    PSI = Σ (qᵢ − pᵢ)·ln(qᵢ/pᵢ) over 10 fixed-width bins, with
    add-one smoothing so empty bins stay finite AND deterministic
    (no epsilon hand-tuning to disagree over).

    Map-side binning (floor-divide, clamped), one tiny (period, bin)
    aggregate, a 20-row pivot join — the whole monitor reduces before
    anything shuffles. The observed counts are LEFT-joined onto a
    full (period × 10-bin) spine so bins present in only one period
    (appearing/vanishing mass — exactly the drift PSI exists to catch)
    enter the sum as smoothed zeros instead of being dropped by the
    pivot join. PSI < 0.1 is the conventional 'stable' gate."""
    ev = table(spark, sf_dir, "events")
    binned = ev.select(
        F.when(F.col("ts") < F.lit(PSI_SPLIT).cast("timestamp_ntz"), "ref")
        .otherwise("cur")
        .alias("period"),
        # floor() explicitly: DuckDB's double→int CAST rounds while
        # Spark's truncates — floor-then-cast agrees everywhere
        F.least(
            F.greatest(F.floor(F.col("value") / 100).cast("int"), F.lit(0)),
            F.lit(PSI_BINS - 1),
        ).alias("bin"),
    )
    counts = binned.groupBy("period", "bin").agg(F.count("*").alias("c"))
    spine = (
        spark.range(PSI_BINS)
        .select(F.col("id").cast("int").alias("bin"))
        .crossJoin(spark.createDataFrame([("ref",), ("cur",)], ["period"]))
    )
    full = spine.join(counts, ["period", "bin"], "left").select(
        "period", "bin", F.coalesce(F.col("c"), F.lit(0)).alias("c")
    )
    totals = full.groupBy("period").agg(F.sum("c").alias("n"))
    shares = full.join(totals, "period").select(
        "period",
        "bin",
        ((F.col("c") + 1) / (F.col("n") + PSI_BINS)).alias("share"),
    )
    ref = shares.where(F.col("period") == "ref").select(
        "bin", F.col("share").alias("p")
    )
    cur = shares.where(F.col("period") == "cur").select(
        "bin", F.col("share").alias("q")
    )
    joined = ref.join(cur, "bin")
    return joined.agg(
        F.count("*").alias("n_bins"),
        (
            F.round(
                F.sum((F.col("q") - F.col("p")) * F.log(F.col("q") / F.col("p")))
                + 1e-9,
                6,
            )
            + 0.0
        ).alias("psi"),
    )


def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t-test between the ref/cur stream halves'
    value means — the inference companion to the PSI/KS drift
    monitors ("is the mean shift significant?"): t and the
    Welch–Satterthwaite degrees of freedom from per-half
    (n, mean, variance), all algebraic aggregates.

    The entire test reduces to TWO rows of sufficient statistics
    before any arithmetic — the canonical 'statistics at 100 TB'
    shape: scan once, carry 3 numbers per side."""
    ev = table(spark, sf_dir, "events")
    split = F.lit(PSI_SPLIT).cast("timestamp_ntz")
    halves = ev.groupBy(
        F.when(F.col("ts") < split, "ref").otherwise("cur").alias("period")
    ).agg(
        F.count("*").alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
    )
    r = halves.where(F.col("period") == "ref").select(
        F.col("n").alias("n1"), F.col("m").alias("m1"), F.col("v").alias("v1")
    )
    c = halves.where(F.col("period") == "cur").select(
        F.col("n").alias("n2"), F.col("m").alias("m2"), F.col("v").alias("v2")
    )
    j = r.join(c)
    se1 = F.col("v1") / F.col("n1")
    se2 = F.col("v2") / F.col("n2")
    t = (F.col("m1") - F.col("m2")) / F.sqrt(se1 + se2)
    df = (se1 + se2) * (se1 + se2) / (
        se1 * se1 / (F.col("n1") - 1) + se2 * se2 / (F.col("n2") - 1)
    )
    return j.select(
        "n1",
        "n2",
        (F.round(t + 1e-9, 4) + 0.0).alias("t_stat"),
        (F.round(df + 1e-9, 2) + 0.0).alias("df"),
    )


def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test between event_type and user-id
    parity (a stand-in categorical split): χ² = Σ (O−E)²/E over the
    contingency table, expected counts from the margins — the
    categorical association screen beside the numeric drift tests.

    One (type, parity) aggregate (|types|×2 cells), margins re-derived
    from the cells with windows sharing the same tiny frame — the raw
    table is never re-scanned."""
    ev = table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", (F.col("user_id") % 2).alias("parity")
    ).agg(F.count("*").alias("o"))
    row_m = Window.partitionBy("event_type")
    col_m = Window.partitionBy("parity")
    tot = Window.partitionBy()
    e = (
        F.sum("o").over(row_m)
        * F.sum("o").over(col_m)
        / F.sum("o").over(tot)
    )
    contrib = cells.select(
        ((F.col("o") - e) * (F.col("o") - e) / e).alias("x")
    )
    return contrib.agg(
        F.count("*").alias("n_cells"),
        (F.round(F.sum("x") + 1e-9, 4) + 0.0).alias("chi2"),
    )


def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit screen: observed digit shares
    of positive event values vs the Benford expectation
    log₁₀(1 + 1/d) — the forensic data-quality test for fabricated or
    truncated numeric columns.

    First digit = floor(v / 10^floor(log₁₀ v)) — pure map-side math;
    the aggregate is 9 rows. Deviation is reported per digit (the
    judge of 'is this synthetic' reads the profile, not one scalar)."""
    ev = table(spark, sf_dir, "events").where(F.col("value") > 0)
    digit = F.floor(
        F.col("value") / F.pow(F.lit(10.0), F.floor(F.log10("value")))
    ).cast("int")
    counts = ev.select(digit.alias("digit")).groupBy("digit").agg(
        F.count("*").alias("n")
    )
    total = Window.partitionBy()
    return counts.select(
        "digit",
        "n",
        (F.round(F.col("n") / F.sum("n").over(total) + 1e-9, 4) + 0.0).alias(
            "observed"
        ),
        (
            F.round(F.log10(1 + 1 / F.col("digit").cast("double")) + 1e-9, 4)
            + 0.0
        ).alias("benford"),
    )


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit of the corpus vocabulary: OLS slope of
    ln(frequency) against ln(rank) — natural text sits near −1;
    strong deviation flags templated or synthetic corpora (the
    corpus-level cousin of the per-doc repetition gate).

    The frequency table is the reduced |vocab| aggregate; the rank is
    one ordered window over it; the fit is the algebraic regr_slope —
    nothing bigger than the vocabulary ever shuffles."""
    docs = table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(F.split("text", " ")).alias("term"))
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
    )
    ranked = freq.select(
        "cnt",
        F.row_number()
        .over(Window.orderBy(F.col("cnt").desc(), F.col("term").asc()))
        .alias("rank"),
    )
    return ranked.agg(
        F.count("*").alias("vocab"),
        (
            F.round(
                F.expr("regr_slope(ln(cnt), ln(rank))") + 1e-9, 4
            )
            + 0.0
        ).alias("zipf_slope"),
        (
            F.round(F.expr("regr_r2(ln(cnt), ln(rank))") + 1e-9, 4) + 0.0
        ).alias("r2"),
    )


def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user value concentration — the
    skew-quantification twin of the heavy-hitter sketches: how
    unequally the event value mass distributes over users
    (G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over ascending per-user
    totals).

    One groupBy to user totals, one ordered window for the rank, a
    scalar reduction — |users| rows after the first aggregate. The
    rank's tie-break on user_id is value-neutral: swapping equal
    totals never changes Σ i·xᵢ."""
    ev = table(spark, sf_dir, "events")
    totals = ev.groupBy("user_id").agg(F.sum("value").alias("x"))
    ranked = totals.select(
        "x",
        F.row_number()
        .over(Window.orderBy(F.col("x").asc(), F.col("user_id").asc()))
        .alias("i"),
    )
    return ranked.agg(
        F.count("*").alias("n_users"),
        (
            F.round(
                2 * F.sum(F.col("i") * F.col("x"))
                / (F.count("*") * F.sum("x"))
                - (F.count("*") + 1) / F.count("*")
                + 1e-9,
                6,
            )
            + 0.0
        ).alias("gini"),
    )


def q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of each user's value sequence — the
    temporal-dependence screen (is a user's next value predictable
    from the last?): Pearson corr between value and its lag over the
    time-ordered stream, users with <3 events dropped (corr of a
    2-point series is ±1 noise).

    One shuffle on user_id serves the lag window AND the corr
    aggregate (corr is algebraic: 5 map-side partials)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.select(
        "user_id", "value", F.lag("value").over(w).alias("prev")
    ).where(F.col("prev").isNotNull())
    return (
        lagged.groupBy("user_id")
        .agg(
            F.count("*").alias("n_pairs"),
            (F.round(F.corr("value", "prev") + 1e-9, 4) + 0.0).alias("ac1"),
        )
        .where(F.col("n_pairs") >= 2)
    )


def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the same stream
    halves PSI monitors: D = sup |F_ref(v) − F_cur(v)| over the
    empirical CDFs — the bin-free drift test (PSI's fixed bins can
    hide a shift that lands inside one bin).

    Shape: per-distinct-value (ref, cur) counts, ONE ordered window
    for both cumulative sums, a global max — the sort is over
    |distinct values|, not |events|. Ties handled exactly: cumulative
    counts advance per distinct value, so both CDFs are evaluated at
    the same jump points."""
    ev = table(spark, sf_dir, "events")
    split = F.lit(PSI_SPLIT).cast("timestamp_ntz")
    per_val = (
        ev.select(
            "value",
            F.when(F.col("ts") < split, 1).otherwise(0).alias("is_ref"),
        )
        .groupBy("value")
        .agg(
            F.sum("is_ref").alias("n_ref"),
            F.sum(1 - F.col("is_ref")).alias("n_cur"),
        )
    )
    totals = per_val.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    w = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cdf = per_val.select(
        "value",
        F.sum("n_ref").over(w).alias("c_ref"),
        F.sum("n_cur").over(w).alias("c_cur"),
    ).join(F.broadcast(totals))
    return cdf.agg(
        (
            F.round(
                F.max(
                    F.abs(
                        F.col("c_ref") / F.col("t_ref")
                        - F.col("c_cur") / F.col("t_cur")
                    )
                )
                + 1e-9,
                6,
            )
            + 0.0
        ).alias("ks_d"),
        F.count("*").alias("n_points"),
    )


def q_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outliers: events outside [Q1 − 1.5·IQR,
    Q3 + 1.5·IQR] of their event type — the robust (quantile-based)
    screen next to the z-score one (q_anomaly), immune to the
    outliers' own pull on the threshold.

    Two passes sharing the event_type partitioning: exact interpolated
    quartiles per (small-cardinality) group, broadcast back onto the
    scan as a filter. At 100 TB the quartile pass switches to the GK
    sketch (q_approx_quantiles) and the filter stays identical."""
    ev = table(spark, sf_dir, "events")
    q = ev.groupBy("event_type").agg(
        F.percentile("value", 0.25).alias("q1"),
        F.percentile("value", 0.75).alias("q3"),
    )
    fenced = ev.join(F.broadcast(q), "event_type").where(
        (F.col("value") < F.col("q1") - 1.5 * (F.col("q3") - F.col("q1")))
        | (F.col("value") > F.col("q3") + 1.5 * (F.col("q3") - F.col("q1")))
    )
    return fenced.groupBy("event_type").agg(
        F.count("*").alias("n_outliers"),
        (F.round(F.min("value") + 1e-9, 4) + 0.0).alias("min_out"),
        (F.round(F.max("value") + 1e-9, 4) + 0.0).alias("max_out"),
    )


def q_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-transition matrix: counts and row-normalized
    probabilities of event_type → next event_type per user stream —
    the Markov-chain estimate behind funnel diagnostics and
    session-behavior models.

    One shuffle on user_id for the lag window; the (from, to)
    aggregate reuses nothing bigger than |types|² rows, map-side
    combined. Probabilities are integer ratios → `+1e-9` before
    round, per the engine's determinism contract."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    counts = steps.groupBy("from_type", "to_type").agg(
        F.count("*").alias("n")
    )
    row_total = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        (F.round(F.col("n") / F.sum("n").over(row_total) + 1e-9, 4) + 0.0).alias(
            "p"
        ),
    )


def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duration-weighted mean value per event type: each reading is
    weighted by how long it stayed current in its user's stream
    (seconds until the user's next event; the open-ended last reading
    carries no weight) — the right average for irregularly-sampled
    series, where the plain mean over-counts bursts (the
    observability/metering standard, e.g. AWS/Prometheus TWA).

    One user_id shuffle for the lead window, then a combinable
    (Σ v·w, Σ w) aggregate per type — algebraic, two sums. Durations
    are INTEGER microseconds in both engines (unix_micros /
    epoch_us): the weight scale cancels in the ratio, so no float
    time conversion exists to disagree on (unix_timestamp would
    truncate to whole seconds and zero-weight sub-second gaps)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.expr("unix_micros(cast(ts as timestamp))")
    steps = ev.select(
        "event_type",
        "value",
        (F.lead(us).over(w) - us).alias("dur"),
    ).where(F.col("dur").isNotNull())
    return steps.groupBy("event_type").agg(
        (F.round(F.sum(F.col("value") * F.col("dur")) / F.sum("dur") + 1e-9, 4) + 0.0).alias(
            "twa_value"
        ),
        (F.round(F.avg("value") + 1e-9, 4) + 0.0).alias("plain_mean"),
        F.count("*").alias("n_weighted"),
    )


PATHS_TOP = 10


def q_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most frequent ordered 3-step user journeys
    (event_type → event_type → event_type) — the path-mining view
    behind Sankey/flow diagrams, one order up from q_transitions'
    first-order Markov matrix.

    One user_id shuffle for the double-lead window, a map-side path
    concat, then a combinable count over at most |types|³ keys and a
    TakeOrdered top-10 — nothing grows with user count after the
    window."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).where(F.col("e2").isNotNull() & F.col("e3").isNotNull())
    return (
        steps.select(
            F.concat_ws(">", "event_type", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("path").asc())
        .limit(PATHS_TOP)
    )


_SKY_BUCKET_W = 8192.0  # price pre-bucket width for the two-phase skyline


def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier) of parts — minimize retail price,
    maximize size: the multi-criteria shortlist operator (BNL/SFS
    skyline literature; SQL's missing SKYLINE OF clause).

    Exact-duplicate (price, size) cells reduce to one representative
    first (lowest partkey), then the sort-filter-skyline rule: ordered
    by (price asc, size desc), a point survives iff every preceding
    point has strictly smaller size — i.e. size > max(size) over the
    strict prefix. Computed TWO-PHASE like q_equidepth_bins: the
    prefix-max inside price pre-buckets (parallel windows), a carry
    max over the ~bucket-count summary (the only global window,
    dimension-sized), and a point survives iff it beats both its
    in-bucket prefix and the carry. Bucket boundaries guarantee every
    earlier-bucket price is strictly lower, so the split is exact —
    the oracle is the textbook NOT EXISTS dominance spec, not a
    replay of the plan."""
    part = table(spark, sf_dir, "part")
    cells = (
        part.groupBy("p_retailprice", "p_size")
        .agg(F.min("p_partkey").alias("p_partkey"))
        .select(
            F.col("p_retailprice").alias("price"),
            F.col("p_size").alias("size"),
            "p_partkey",
            F.floor(F.col("p_retailprice") / _SKY_BUCKET_W).alias("bk"),
        )
    )
    wloc = (
        Window.partitionBy("bk")
        .orderBy(F.col("price").asc(), F.col("size").desc(), F.col("p_partkey"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = cells.withColumn("prev_max", F.max("size").over(wloc))
    summary = cells.groupBy("bk").agg(F.max("size").alias("bk_max"))
    wcar = Window.orderBy("bk").rowsBetween(Window.unboundedPreceding, -1)
    carry = summary.select(
        "bk", F.max("bk_max").over(wcar).alias("carry")
    )
    return (
        local.join(F.broadcast(carry), "bk")
        .where(
            (F.col("prev_max").isNull() | (F.col("size") > F.col("prev_max")))
            & (F.col("carry").isNull() | (F.col("size") > F.col("carry")))
        )
        .select("price", "size", "p_partkey")
        .orderBy("price")
    )


def q_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group arg-max/arg-min: for each event type, which event
    carried the highest / lowest value — the `max_by`/`arg_max`
    aggregate surface, spelled as max-of-struct so ties resolve
    deterministically (lexicographic struct compare: value first,
    then event_id — `max_by` alone ties arbitrarily and would flap
    between engines).

    One combinable aggregate; the struct state is constant-size, so
    it map-side combines like any min/max."""
    ev = table(spark, sf_dir, "events")
    hi = F.max(F.struct(F.col("value"), F.col("event_id"))).alias("hi")
    lo = F.min(F.struct(F.col("value"), F.col("event_id"))).alias("lo")
    return (
        ev.groupBy("event_type")
        .agg(hi, lo)
        .select(
            "event_type",
            F.col("hi.value").alias("max_value"),
            F.col("hi.event_id").alias("max_event_id"),
            F.col("lo.value").alias("min_value"),
            F.col("lo.event_id").alias("min_event_id"),
        )
    )


HOLT_A = 0.5  # level smoothing
HOLT_B = 0.3  # trend smoothing


def q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing per user (level + trend) with
    a one-step-ahead forecast — the next rung above EWMA on the
    forecasting ladder, and like it inexpressible as a window frame
    (two COUPLED recurrences: l' = α·x + (1−α)(l+b),
    b' = β(l'−l) + (1−β)b).

    Same ordered-fold shape as q_ewma — one shuffle on user_id, the
    fold carries a {level, trend} STRUCT accumulator. DuckDB's
    list_reduce requires acc and element types to match, so the oracle
    lifts each value into a {l, b} struct and folds struct→struct —
    arithmetic identical term for term, sequential order identical.
    Seed: l₀ = x₁, b₀ = x₂ − x₁ (b₀ = 0 for single-event users).

    Scale: computed by :func:`holt_segmented` — each element's update
    is an affine map on the (l, b) vector (2×2 matrix + offset), maps
    compose per ≤FOLD_SEGMENT-row segment, so peak per-task state is
    O(segment) instead of one whole-history array per user (the
    round-3 watch item; property-tested with a 100k-event user)."""
    ev = table(spark, sf_dir, "events")
    return holt_segmented(ev)


def _mat_struct(m11, m12, m21, m22, v1, v2):
    return F.struct(
        m11.alias("m11"), m12.alias("m12"),
        m21.alias("m21"), m22.alias("m22"),
        v1.alias("v1"), v2.alias("v2"),
    )


def holt_segmented(ev: DataFrame, seg_size: int = FOLD_SEGMENT) -> DataFrame:
    """Bounded-memory Holt smoothing: one element's update of the
    (l, b) state is affine —

        [l', b'] = E·[l, b] + x·c,
        E = [[1−α, 1−α], [−αβ, 1−αβ]],  c = [α, αβ]

    — so a segment of elements folds to ONE (2×2 matrix, 2-vector)
    partial, and segments compose as (M₂·M₁, M₂·v₁ + v₂). The seed
    (l₀ = x₁, b₀ = x₂−x₁) consumes the first two elements; elements
    rn ≥ 3 enter the maps. Per-user state is O(n/seg_size) partials;
    no task ever holds a whole user history."""
    A, B = HOLT_A, HOLT_B
    base = _with_rn_segments(ev, seg_size)
    seeds = base.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.max(F.when(F.col("rn") == 1, F.col("value"))).alias("x1"),
        F.max(F.when(F.col("rn") == 2, F.col("value"))).alias("x2"),
    )
    tail = base.where(F.col("rn") >= 3)
    per_seg = tail.groupBy("user_id", "seg").agg(
        F.array_sort(F.collect_list(F.struct("rn", "value"))).alias("arr")
    )
    vals = F.transform(F.col("arr"), lambda s: s["value"])
    identity = _mat_struct(
        F.lit(1.0), F.lit(0.0), F.lit(0.0), F.lit(1.0), F.lit(0.0), F.lit(0.0)
    )

    def elem_step(acc, x):
        # (E·M, E·v + x·c) — element map applied after the accumulated map
        return _mat_struct(
            (1 - A) * (acc["m11"] + acc["m21"]),
            (1 - A) * (acc["m12"] + acc["m22"]),
            -A * B * acc["m11"] + (1 - A * B) * acc["m21"],
            -A * B * acc["m12"] + (1 - A * B) * acc["m22"],
            (1 - A) * (acc["v1"] + acc["v2"]) + A * x,
            -A * B * acc["v1"] + (1 - A * B) * acc["v2"] + A * B * x,
        )

    seg_map = F.aggregate(vals, identity, elem_step)
    per_user = (
        per_seg.select("user_id", "seg", seg_map.alias("m"))
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_list(F.struct("seg", "m"))).alias("ms"))
    )

    def compose(acc, s):
        m = s["m"]
        return _mat_struct(
            m["m11"] * acc["m11"] + m["m12"] * acc["m21"],
            m["m11"] * acc["m12"] + m["m12"] * acc["m22"],
            m["m21"] * acc["m11"] + m["m22"] * acc["m21"],
            m["m21"] * acc["m12"] + m["m22"] * acc["m22"],
            m["m11"] * acc["v1"] + m["m12"] * acc["v2"] + m["v1"],
            m["m21"] * acc["v1"] + m["m22"] * acc["v2"] + m["v2"],
        )

    joined = seeds.join(
        per_user.select("user_id", F.aggregate("ms", identity, compose).alias("t")),
        "user_id",
        "left",
    )
    # users with ≤2 events have no rn≥3 segments → identity map
    t = F.coalesce(F.col("t"), identity)
    l0 = F.col("x1")
    b0 = F.when(F.col("n_events") >= 2, F.col("x2") - F.col("x1")).otherwise(
        F.lit(0.0)
    )
    lvl = t["m11"] * l0 + t["m12"] * b0 + t["v1"]
    trd = t["m21"] * l0 + t["m22"] * b0 + t["v2"]
    return joined.select(
        "user_id",
        "n_events",
        F.round(lvl + 1e-9, 4).alias("level"),
        F.round(trd + 1e-9, 4).alias("trend"),
        F.round(lvl + trd + 1e-9, 4).alias("forecast_1"),
    )


# The accumulator is a 2-element LIST [l, b], NOT a struct: DuckDB
# 1.0's list_reduce updates a struct accumulator field-by-field, so a
# later field's expression reading acc.<earlier field> silently sees
# the NEW value (verified: the b update observed the just-computed l).
# List construction evaluates both elements against the old
# accumulator, matching Spark's struct semantics.
_HOLT_STEP = (
    f"[{HOLT_A}*x[1] + {1 - HOLT_A}*(acc[1] + acc[2]), "
    f"{HOLT_B}*(({HOLT_A}*x[1] + {1 - HOLT_A}*(acc[1] + acc[2])) - acc[1]) "
    f"+ {1 - HOLT_B}*acc[2]]"
)

_HOLT_SQL = f"""
    WITH ordered AS (
      SELECT user_id, count(*) AS n_events,
             list(value ORDER BY ts, event_id, value) AS vals
      FROM events GROUP BY user_id
    ), folded AS (
      SELECT user_id, n_events,
             list_reduce(
               list_prepend(
                 CASE WHEN len(vals) = 1
                      THEN [vals[1], 0.0]
                      ELSE [vals[1], vals[2] - vals[1]]
                 END,
                 list_transform(vals[3:], x -> [x, 0.0])
               ),
               (acc, x) -> {_HOLT_STEP}
             ) AS s
      FROM ordered
    )
    SELECT user_id, n_events,
           round(s[1] + 1e-9, 4) AS level,
           round(s[2] + 1e-9, 4) AS trend,
           round(s[1] + s[2] + 1e-9, 4) AS forecast_1
    FROM folded
"""


def q_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score outliers: events whose value is more than 2.5
    sample standard deviations from that user's mean — the
    embarrassingly parallel anomaly screen a monitoring pipeline runs
    (one shuffle on user_id, two window aggregates sharing it)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    mean = F.mean("value").over(w)
    std = F.stddev_samp("value").over(w)
    z = (F.col("value") - mean) / std
    return (
        ev.select("event_id", "user_id", "value", std.alias("std"), z.alias("z"))
        .where((F.col("std") > 0) & (F.abs("z") > 2.5))
        .select(
            "event_id",
            "user_id",
            F.round("value", 2).alias("value"),
            F.round(F.col("z") + 1e-9, 4).alias("z"),
        )
    )


def q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per event type: treating each event as a
    30-minute session, the maximum number of simultaneously open
    sessions — the sweep-line (+1 at start, −1 at end, running sum)
    that answers capacity questions without expanding any intervals.

    Half-open [ts, ts+30m): at a shared boundary instant the closing
    −1 sorts before the opening +1, so back-to-back sessions never
    double-count.

    TWO-PHASE prefix sum (the round-3 watch item was a global window
    per event_type — 5 keys → 5 sequential sorts at 100×): points are
    bucketed by DAY, phase 1 computes each (type, day)'s local running
    max and total delta in parallel across (type × day) partitions,
    phase 2 prefixes ONLY the per-bucket totals (a #days-row summary
    per type) to get each bucket's starting offset; the global running
    max is max(bucket_offset + local_max). Identical to the single
    sweep because a prefix sum splits additively at any cut point.
    Parallelism is type × days (thousands at production scale), and
    no task ever sorts more than one day of one type."""
    ev = table(spark, sf_dir, "events")
    starts = ev.select(
        "event_type", F.col("ts").alias("t"), F.lit(1).alias("delta")
    )
    ends = ev.select(
        "event_type",
        (F.col("ts") + F.expr("interval 30 minutes")).alias("t"),
        F.lit(-1).alias("delta"),
    )
    points = starts.unionByName(ends).withColumn(
        "b", F.date_trunc("day", F.col("t"))
    )
    w_local = (
        Window.partitionBy("event_type", "b")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    per_bucket = (
        points.withColumn("lp", F.sum("delta").over(w_local))
        .groupBy("event_type", "b")
        .agg(
            F.max("lp").alias("local_max"),
            F.sum("delta").alias("bucket_sum"),
        )
    )
    w_buckets = (
        Window.partitionBy("event_type")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        per_bucket.withColumn(
            "offset", F.coalesce(F.sum("bucket_sum").over(w_buckets), F.lit(0))
        )
        .groupBy("event_type")
        .agg(
            F.max(F.col("offset") + F.col("local_max"))
            .cast("long")
            .alias("max_concurrent")
        )
    )


def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 build: compress each user's
    event-type stream into validity intervals — one row per run of
    equal event_type, with [valid_from, valid_to) bounds (open-ended
    current row = NULL valid_to) and a version number. The warehouse
    twin of the reference's last-wins upsert: instead of keeping only
    the newest state, history is preserved as intervals.

    Gaps-and-islands on VALUE CHANGE (vs q_sessionize's time gaps):
    lag flags run starts, a running sum numbers runs, and the grouped
    rollup + lead for the next run's start all reuse ONE user_id
    partitioning — a single shuffle end to end."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    is_change = F.when(
        F.lag("event_type").over(w).isNull()
        | (F.lag("event_type").over(w) != F.col("event_type")),
        1,
    ).otherwise(0)
    runs = ev.withColumn(
        "version",
        F.sum(is_change).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    grouped = runs.groupBy("user_id", "version", "event_type").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("valid_from"),
    )
    wv = Window.partitionBy("user_id").orderBy("version")
    return grouped.select(
        "user_id",
        "version",
        "event_type",
        "n_events",
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
    )


def q_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup against an SCD2 dimension — the
    correctness-critical half of slowly-changing dimensions that
    q_scd2 (the build) doesn't exercise: each purchase event joins the
    user's value-TIER interval (tier = floor(value/250), runs
    SCD2-compressed into [valid_from, valid_to) with half-open bounds)
    that was valid AT the purchase timestamp, then revenue rolls up by
    the tier the user was in when they bought. Joining facts to the
    CURRENT dim row instead — the classic SCD2 bug — would silently
    misattribute history; the interval-containment join is the fix,
    and the DuckDB oracle recomputes it independently.

    Scale: the dim build and the lookup share one user_id Exchange
    (the interval join is an equi-join on user_id with a containment
    post-filter — no BroadcastNestedLoop); per-user interval counts
    are bounded by that user's change count, the SCD2 invariant."""
    ev = table(spark, sf_dir, "events")
    tiered = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        F.least(F.floor(F.col("value") / 250), F.lit(3))
        .cast("int")
        .alias("tier"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    is_change = F.when(
        F.lag("tier").over(w).isNull()
        | (F.lag("tier").over(w) != F.col("tier")),
        1,
    ).otherwise(0)
    runs = tiered.withColumn(
        "version",
        F.sum(is_change).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    dim = runs.groupBy("user_id", "version", "tier").agg(
        F.min(F.struct("ts", "event_id")).alias("_start")
    )
    wv = Window.partitionBy("user_id").orderBy("version")
    dim = dim.select(
        "user_id",
        "tier",
        F.col("_start.ts").alias("valid_from"),
        F.lead("_start.ts").over(wv).alias("valid_to"),
    )
    facts = tiered.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    hit = facts.join(dim, "user_id").where(
        (F.col("valid_from") <= F.col("ts"))
        & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to")))
    )
    return hit.groupBy("tier").agg(
        F.count("*").alias("n_purchases"),
        F.count_distinct("user_id").alias("n_users"),
        F.round(F.sum("value") + F.lit(1e-9), 2).alias("revenue"),
    )


def q_freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via the Karp-Schenker-Papadimitriou single-pass
    sketch (``df.stat.freqItems``) with the within-bound oracle
    pattern: the sketch guarantees every item with frequency above the
    support threshold appears in its candidate set (false positives
    possible, false negatives not). The query emits each EXACT heavy
    hitter (count ≥ 10% of rows) plus `in_sketch` — deterministic
    true when the guarantee holds — so the oracle (exact counts +
    literal true) hash-verifies the sketch without comparing sketch
    internals across engines.

    Scale: the sketch is one pass, map-side mergeable, constant
    memory (1/support counters); the exact side is a 5-key groupBy.
    The sketch result is ONE driver row (the legitimate collect)."""
    ev = table(spark, sf_dir, "events")
    candidates = [
        r for r in ev.stat.freqItems(["event_type"], support=0.1).head()[0]
    ]
    total = ev.count()
    return (
        ev.groupBy("event_type")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") >= 0.1 * total)
        .select(
            "event_type",
            "cnt",
            F.col("event_type").isin(candidates).alias("in_sketch"),
        )
    )


def q_window_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per event, the user's event count and value
    sum over the trailing 1 hour (inclusive) — the time-decayed
    rolling metric a rate limiter or anomaly detector keeps.

    RANGE (value-based) frames differ from ROWS frames exactly when
    timestamps tie or gap — the frame is bounded by `ts - 1h`, not by
    a row count. One shuffle on user_id; the frame scan is linear per
    partition (sliding two-pointer in Spark's window exec)."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("timestamp").cast("long"))
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("cnt_1h"),
        F.round(F.sum("value").over(w), 2).alias("sum_1h"),
    )


def q_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two per-user aggregates (buyers ⟗ erroring
    users): users appearing on either side, with zero-filled counts.
    The reconciliation shape (reference O3's union-of-runs extended to
    keyed merge).

    Scale: both sides are already aggregated (≤|users| rows) before
    the join — the full-outer shuffle moves group rows, never raw
    events; aggregate-then-join beats join-then-aggregate by the
    fan-out factor."""
    ev = table(spark, sf_dir, "events")
    buys = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_buys"))
    )
    errs = (
        ev.where(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_errs"))
    )
    return (
        buys.join(errs, "user_id", "full_outer")
        .select(
            "user_id",
            F.coalesce("n_buys", F.lit(0)).alias("n_buys"),
            F.coalesce("n_errs", F.lit(0)).alias("n_errs"),
        )
    )


def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking-function family in one pass: rank /
    dense_rank / ntile(4) / percent_rank / cume_dist per event type
    ordered by value.

    One shuffle on event_type serves all five functions (same window
    spec ⇒ one Window physical operator). The order key carries
    event_id as a unique tie-break so every rank is deterministic.
    percent_rank/cume_dist are integer ratios — `+1e-9` before
    round() keeps both engines on the same side of half-boundaries."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    return ev.select(
        "event_id",
        "event_type",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w) + 1e-9, 4).alias("pct_rank"),
        F.round(F.cume_dist().over(w) + 1e-9, 4).alias("cdist"),
    )


def q_window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-boundary value picks per user timeline: the first event's
    value (growing frame), the last (full frame — NOT the default
    frame, which would return the current row), and the second
    (nth_value over the full frame).

    last_value/nth_value over ORDER BY windows default to
    `rows unbounded preceding .. current row` in both engines; the
    full frame is spelled explicitly on both sides so the semantics
    under comparison are the interesting ones."""
    ev = table(spark, sf_dir, "events")
    base = Window.partitionBy("user_id").orderBy("ts", "event_id")
    grow = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    full = base.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.first("value").over(grow), 2).alias("first_val"),
        F.round(F.last("value").over(full), 2).alias("last_val"),
        F.round(F.nth_value("value", 2).over(full), 2).alias("second_val"),
    )


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded range self-join: count same-user event pairs that occur
    within one hour of each other.

    Spark has no native band/interval join; the naive expression is an
    equi join on user_id with a residual |Δt| predicate — correct, but
    at scale a heavy-hitter user makes the per-user cross product
    explode. The banded form used here adds the time bucket to the
    JOIN KEY: the left side fans out to its bucket ±1 (3 rows), the
    right side keeps its single bucket, so every qualifying pair meets
    in EXACTLY one bucket (no post-join dedup) and the shuffle key
    (user, bucket) bounds each task's work by the bucket population,
    not the user's history. Bucket width = band width, the standard
    choice (one fan-out step, minimal false candidates)."""
    band = 3600  # seconds
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        # ts is TIMESTAMP_NTZ (naive micros in the fixture); NTZ has no
        # direct long cast — go through LTZ (session tz is pinned UTC,
        # so the epoch seconds are the same naive-UTC instants DuckDB
        # computes with epoch(ts)).
        F.col("ts").cast("timestamp").cast("long").alias("sec"),
    )
    left = ev.select(
        F.col("event_id").alias("a_id"),
        "user_id",
        F.col("sec").alias("a_sec"),
        F.explode(
            F.array(
                (F.col("sec") / band).cast("long") - 1,
                (F.col("sec") / band).cast("long"),
                (F.col("sec") / band).cast("long") + 1,
            )
        ).alias("bucket"),
    )
    right = ev.select(
        F.col("event_id").alias("b_id"),
        F.col("user_id").alias("b_user"),
        F.col("sec").alias("b_sec"),
        (F.col("sec") / band).cast("long").alias("bucket"),
    )
    pairs = left.join(
        right,
        (left.user_id == right.b_user)
        & (left.bucket == right.bucket)
        & (left.a_id < right.b_id)
        & (F.abs(left.a_sec - right.b_sec) <= band),
    )
    return pairs.groupBy("user_id").agg(F.count("*").alias("n_pairs"))


def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshaping with the DataFrame `unpivot` (SQL `stack`)
    API: per-returnflag measure columns melted into (measure, value)
    rows — the report-export twin of q_pivot_types. Unpivot is a
    zero-shuffle projection (each input row fans to |measures| rows
    map-side)."""
    li = table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.sum("l_discount"), 2).alias("sum_disc"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "sum_disc"],
        variableColumnName="measure",
        valueColumnName="value",
    )


def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: per-user DAILY purchase counts with
    empty days materialized as zero over each user's active span —
    `sequence(min_day, max_day, interval 1 day)` exploded into a
    calendar spine, left-joined to the actual counts.

    Scale: the spine is |users| × span-days rows generated from a
    REDUCED per-user (min, max) aggregate — never a cross join with a
    global calendar; both sides of the spine⟕counts join are
    co-partitioned on user_id."""
    ev = table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", F.col("ts"))
    )
    span = ev.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = span.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d0"), F.col("d1"), F.expr("interval 1 day"))
        ).alias("day"),
    )
    counts = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "day")
        .agg(F.count("*").alias("n"))
    )
    return spine.join(counts, ["user_id", "day"], "left").select(
        "user_id", "day", F.coalesce("n", F.lit(0)).alias("n_purchases")
    )


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen day, then
    distinct active users per (cohort_day, days_since_cohort) — the
    standard growth-analytics breakdown. Two aggregations sharing the
    user_id partitioning: cohort assignment is a reduced per-user
    aggregate joined back, then one distinct-count pass."""
    ev = table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", F.col("ts"))
    )
    cohort = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ev.join(cohort, "user_id")
        .withColumn("age_days", F.datediff(F.col("day"), F.col("cohort_day")))
        .groupBy("cohort_day", "age_days")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel with a 24-hour conversion window per
    stage: signup → first click within a day of the signup → first
    purchase within a day of that click, counted at each stage
    (150 → 65 → 29 users at sf0.01 — each stage genuinely filters).
    Sequential-dependency analytics as two conditional aggregation
    passes joined on user_id (co-partitioned both times; the per-user
    stage times are reduced aggregates, never the raw event stream
    twice in one shuffle)."""
    day = F.expr("interval 24 hours")
    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    t_signup = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
            "t_signup"
        )
    )
    t_click = (
        ev.join(t_signup, "user_id")
        .groupBy("user_id", "t_signup")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("t_signup"))
                    & (F.col("ts") <= F.col("t_signup") + day),
                    F.col("ts"),
                )
            ).alias("t_click")
        )
    )
    t_buy = (
        ev.join(t_click, "user_id")
        .groupBy("user_id", "t_signup", "t_click")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t_click"))
                    & (F.col("ts") <= F.col("t_click") + day),
                    F.col("ts"),
                )
            ).alias("t_buy")
        )
    )
    return t_buy.agg(
        F.count(F.col("t_signup")).alias("n_signup"),
        F.count(F.col("t_click")).alias("n_click_after"),
        F.count(F.col("t_buy")).alias("n_purchase_after"),
    )


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot diff: two keyed table states (the last-wins
    fingerprint per (user, type, value-bucket) over each half-month)
    FULL OUTER joined and classified inserted / deleted / updated —
    the change feed a downstream MERGE consumes, computed from plain
    snapshots when no transaction log exists (the reference's Postgres
    has one; plain parquet lakes do not).

    Scale: both snapshots are reduced aggregates co-partitioned by
    the diff key, so the outer join shuffles state-sized frames, not
    the raw table; fingerprint comparison is one column, never a
    row-payload compare."""
    ev = table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    key = [
        "user_id",
        "event_type",
        F.floor(F.col("value") / 200).cast("int").alias("vb"),
    ]

    def snap(df: DataFrame) -> DataFrame:
        return df.groupBy(*key).agg(F.max("event_id").alias("fp"))

    a = snap(ev.where(F.col("ts") < cut))
    b = snap(ev.where(F.col("ts") >= cut))
    joined = a.alias("a").join(
        b.alias("b"),
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.vb") == F.col("b.vb")),
        "full_outer",
    )
    return joined.select(
        F.coalesce(F.col("a.user_id"), F.col("b.user_id")).alias("user_id"),
        F.coalesce(F.col("a.event_type"), F.col("b.event_type")).alias(
            "event_type"
        ),
        F.coalesce(F.col("a.vb"), F.col("b.vb")).alias("vb"),
        F.when(F.col("a.user_id").isNull(), "inserted")
        .when(F.col("b.user_id").isNull(), "deleted")
        .when(F.col("a.fp") != F.col("b.fp"), "updated")
        .otherwise("unchanged")
        .alias("change"),
    ).where(F.col("change") != "unchanged")


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (percentile-clipped) robust means per event type:
    clip values at the type's exact p05/p95, then compare the raw and
    clipped means — the outlier-robust aggregation every metrics
    pipeline needs before training on noisy numeric features.

    Two-pass shape: pass 1 computes exact percentiles per type (5
    groups — the percentile state is per-group-bounded, not
    corpus-bounded), the 5-row result broadcasts back onto the fact
    scan, pass 2 is one map-side-combined aggregate. At 100 TB pass 1
    would switch to ``approx_percentile`` (t-digest, mergeable,
    single pass) — exact ``percentile`` is kept here so the DuckDB
    oracle (``quantile_cont``, same linear-interpolation definition)
    matches bit-for-bit at round(4)."""
    ev = table(spark, sf_dir, "events")
    pct = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05D)").alias("p05"),
        F.expr("percentile(value, 0.95D)").alias("p95"),
    )
    clipped = ev.join(F.broadcast(pct), "event_type").withColumn(
        "wv", F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    )
    return clipped.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.avg("value") + F.lit(1e-9), 4).alias("mean_raw"),
        F.round(F.avg("wv") + F.lit(1e-9), 4).alias("mean_winsorized"),
        F.round(F.min("p05") + F.lit(1e-9), 4).alias("p05"),
        F.round(F.max("p95") + F.lit(1e-9), 4).alias("p95"),
    )


def q_cogroup_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow cogroup (`groupBy.cogroup.applyInPandas`): per user, the
    purchase→latest-prior-click as-of match done with
    `pandas.merge_asof` — the API surface for pairwise per-key
    alignment that needs imperative logic (merge_asof's galloping
    backward scan) rather than a join expression.

    Scale shape: the cogroup key is a COARSE bucket (user_id mod B),
    not user_id itself — per-key Python invocation overhead is the
    classic cogroup trap (one merge_asof call per user measured 6×
    slower than this), so each Arrow batch carries thousands of users
    and ONE vectorized `merge_asof(by="user_id")` aligns them all;
    Python calls are O(buckets). B is sized from the fixture
    (`catalog.fixture_buckets`: max(64, bytes/32MB)), so per-bucket
    pandas state is ~constant (a bucket's slice of the purchase+click
    history, ≈32 MB parquet ≈ low-hundreds MB in Arrow) while the
    task count grows with the data — a 1 TB events table gets ~32k
    buckets instead of the pre-r9 constant 64 whose per-task state
    grew linearly with the corpus. The bucket column never reaches
    the output, so the oracle is bucket-count-invariant.
    Determinism: frames sort by (ts, event_id); merge_asof
    backward picks the last row ≤ t per user, i.e. max (ts, event_id)
    — mirrored by the oracle's ORDER BY ts DESC, event_id DESC
    LIMIT 1 lateral."""
    import pandas as pd

    from ..catalog import fixture_buckets

    # Two INDEPENDENT scans on purpose: deriving both cogroup sides
    # from one DataFrame shares attribute ids across the children, and
    # Spark 4.1's FlatMapCoGroupsInPandas then mis-prunes the right
    # side's non-key columns (observed: right batches arrived with the
    # key column only at sf0.1). Fresh reads give each side its own
    # expression ids; the scan is the same parquet either way.
    n_buckets = fixture_buckets(sf_dir, "events")
    bucket = F.pmod(F.col("user_id"), F.lit(n_buckets)).alias("bucket")
    purchases = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(bucket, "user_id", "ts", "event_id")
    )
    clicks = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type") == "click")
        .select(bucket, "user_id", "ts", "event_id")
    )

    out_schema = (
        "user_id long, purchase_id long, click_id long, lag_sec double"
    )

    def match(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return pd.DataFrame(
                {
                    "user_id": pd.Series(dtype="int64"),
                    "purchase_id": pd.Series(dtype="int64"),
                    "click_id": pd.Series(dtype="Int64"),
                    "lag_sec": pd.Series(dtype="float64"),
                }
            )
        l = left.sort_values(["ts", "event_id"]).reset_index(drop=True)
        if right.empty:
            return pd.DataFrame(
                {
                    "user_id": l["user_id"],
                    "purchase_id": l["event_id"],
                    "click_id": pd.array([None] * len(l), dtype="Int64"),
                    "lag_sec": pd.array([None] * len(l), dtype="float64"),
                }
            )
        r = (
            right.sort_values(["ts", "event_id"])
            .rename(columns={"event_id": "click_id", "ts": "c_ts"})
            .reset_index(drop=True)
        )
        m = pd.merge_asof(
            l,
            r[["c_ts", "user_id", "click_id"]],
            left_on="ts",
            right_on="c_ts",
            by="user_id",
            direction="backward",
            allow_exact_matches=True,
        )
        lag = (m["ts"] - m["c_ts"]).dt.total_seconds().round(1)
        return pd.DataFrame(
            {
                "user_id": m["user_id"],
                "purchase_id": m["event_id"],
                "click_id": m["click_id"].astype("Int64"),
                "lag_sec": lag,
            }
        )

    return (
        purchases.groupBy("bucket")
        .cogroup(clicks.groupBy("bucket"))
        .applyInPandas(match, out_schema)
    )


_COGROUP_ASOF_SQL = """
    WITH c AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
    )
    SELECT p.user_id, p.event_id AS purchase_id,
           m.event_id AS click_id,
           round(epoch(p.ts - m.ts), 1) AS lag_sec
    FROM p LEFT JOIN LATERAL (
      SELECT event_id, ts FROM c
      WHERE c.user_id = p.user_id AND c.ts <= p.ts
      ORDER BY ts DESC, event_id DESC LIMIT 1
    ) m ON true
"""


# One SQL text, two engines: Spark 4 executes the recursive CTE
# natively (UNION ALL step, iterative execution under the hood) and
# DuckDB runs the identical statement as the oracle — the strongest
# form of the "a switching user keeps their SQL" claim (SURVEY §6).
# The recursion is a per-customer linked-list walk (rn → rn+1), so the
# working set never exceeds |orders in the window| and the running sum
# accumulates in a DETERMINISTIC sequential order — engine-exact
# without any quantization tricks.
_RECURSIVE_SQL = """
    WITH RECURSIVE o AS (
      SELECT o_custkey AS c, o_totalprice AS p,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
      WHERE o_orderdate >= DATE '1995-01-01'
        AND o_orderdate <  DATE '1995-04-01'
    ), walk(c, rn, acc) AS (
      SELECT c, rn, p FROM o WHERE rn = 1
      UNION ALL
      SELECT o.c, o.rn, walk.acc + o.p
      FROM o JOIN walk ON o.c = walk.c AND o.rn = walk.rn + 1
    )
    SELECT c AS custkey, max(rn) AS n_orders,
           round(max(acc), 2) AS total_spend
    FROM walk GROUP BY c
"""


def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native recursive CTE (Spark 4): walk each customer's Q1-1995
    orders as a linked list (rn → rn+1), accumulating spend step by
    step — the iterate-until-exhausted SQL surface PostgreSQL users
    had, now answered in-engine instead of via the DataFrame loop
    spellings (q_dup_clusters / q_cc_star / q_pagerank).

    Scale: each recursion step is one equi-join of the (pruned) order
    list against the previous frontier; depth is bounded by the max
    chain length in the window, and rows never exceed the input. The
    oracle runs the IDENTICAL statement.

    Row-limit sizing (r9, found by the first full sf100 run): Spark's
    ``spark.sql.cteRecursionRowLimit`` guards runaway recursion with a
    DEFAULT of 1M cumulative rows — but this recursion's cumulative
    volume is exactly the window's order count (each order appears at
    one rn step), i.e. it scales with the DATA, and sf100's ~5.6M
    Q1-1995 orders tripped the default. The guard that actually
    protects against non-termination is the DEPTH limit (default 100,
    kept: per-customer chain length is fixture-invariant because
    per-key group sizes stay constant as the corpus grows). The row
    limit is therefore sized to the fixture: orders-file bytes are a
    safe over-estimate of the window's row count."""
    from ..catalog import fixture_buckets, load
    from ..session import scoped

    # Session CLONE (VERDICT r10 wrong-item 1): the raised row limit
    # must not weaken the SHARED session's runaway-recursion guard for
    # every later query in the process. A try/finally restore can't
    # work here — the returned DataFrame is lazy and the limit is read
    # at execution time — so the override lives on a clone the plan
    # keeps a reference to, the same pattern as the optimizer-conf
    # queries (session.scoped docstring).
    spark = scoped(spark)
    load(spark, sf_dir, register_views=True)
    # ~45 bytes/row parquet → bytes/8 comfortably exceeds the row
    # count; floor keeps the default guard at small fixtures.
    row_limit = max(
        1_000_000, fixture_buckets(sf_dir, "orders", floor=1, bytes_per_bucket=8)
    )
    spark.conf.set("spark.sql.cteRecursionRowLimit", str(row_limit))
    return spark.sql(_RECURSIVE_SQL)


def q_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT: the top-2
    nations per region by customer count — the "for each row, run this
    dependent query" SQL shape. Catalyst decorrelates it into a
    ranked-window join (no per-row re-execution); DuckDB executes the
    identical text as the oracle.

    Scale: after decorrelation this is one customer→nation aggregate
    (broadcast dims) + a per-region rank — the same physics as
    q_topn_per_group, reached from the SQL surface."""
    from ..catalog import load

    load(spark, sf_dir, register_views=True)
    return spark.sql(_LATERAL_SQL)


_LATERAL_SQL = """
    SELECT r.r_name, t.n_name, t.n_customers
    FROM region r, LATERAL (
      SELECT n.n_name, count(*) AS n_customers
      FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
      WHERE n.n_regionkey = r.r_regionkey
      GROUP BY n.n_name
      ORDER BY n_customers DESC, n_name ASC
      LIMIT 2
    ) t
"""


def q_linear_regr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in least-squares family (`regr_slope` / `regr_intercept`
    / `regr_r2` / `regr_count`): per-event-type OLS fit of value
    against user_id — closed-form regression as an ALGEBRAIC aggregate
    (sums of x, y, xy, x², y²), so it map-side combines like any sum
    and needs exactly one shuffle of 5 partials per group. The
    trainable-scorer primitive a curation pipeline fits in-engine
    instead of exporting to a notebook."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        (F.round(F.expr("regr_slope(value, CAST(user_id AS DOUBLE))") + 1e-9, 6) + 0.0).alias(
            "slope"
        ),
        (F.round(F.expr("regr_intercept(value, CAST(user_id AS DOUBLE))") + 1e-9, 6) + 0.0).alias(
            "intercept"
        ),
        (F.round(F.expr("regr_r2(value, CAST(user_id AS DOUBLE))") + 1e-9, 6) + 0.0).alias("r2"),
        F.expr("regr_count(value, CAST(user_id AS DOUBLE))").alias("n"),
    )


PR_DAMP = 0.85
PR_ITERS = 3


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the trade graph (edge u→v when a
    customer in nation u bought from a supplier in nation v) — the
    second iterative graph operator next to connected components
    (q_cc_star's alternating-star rounds): importance propagation
    instead of component labeling.

    Dataflow per iteration (the shape that matters at 100 TB): ranks
    stay DISTRIBUTED — contributions are edges ⋈ ranks on src (one
    shuffle on the edge partitioning key), aggregated by dst (second
    shuffle, map-side combinable), then the rank update is a left
    join back to the node set. Nothing is collected; the edge list is
    persisted once and reused every round. A fixed iteration count +
    per-iteration round(.,10) on BOTH engines quantizes away
    summation-order ulp drift, making the trajectory engine-exact
    (same stance as k-means centroid rounding). Dangling-node mass is
    not redistributed (plain damped formula, mirrored in the
    oracle)."""
    from ..functions.hashing import _iter_session, _size_rounds_to

    spark = _iter_session(spark)
    nodes = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node")
    )
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .select(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .distinct()
        .persist(ITER_STORAGE)
    )
    # materialize the corpus-sized derivation under cluster confs,
    # then size the rank-iteration shuffles to the bounded graph
    _size_rounds_to(spark, edges.count())
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    n_nodes = nodes.count()
    base = (1.0 - PR_DAMP) / n_nodes
    ranks = nodes.select("node", F.lit(round(1.0 / n_nodes, 10)).alias("r"))
    for _ in range(PR_ITERS):
        contribs = (
            edges.join(ranks, edges.src == ranks.node)
            .join(deg, "src")
            .groupBy("dst")
            .agg(F.sum(F.col("r") / F.col("d")).alias("contrib"))
        )
        ranks = (
            nodes.join(contribs, nodes.node == contribs.dst, "left")
            .select(
                "node",
                F.round(
                    F.lit(base) + PR_DAMP * F.coalesce(F.col("contrib"), F.lit(0.0)),
                    10,
                ).alias("r"),
            )
        )
        # Materialize each round's rank frame (same iter_checkpoint
        # the CC family uses): without it the round-k broadcast
        # subquery NESTS every earlier round's joins, and on a
        # multi-executor master each broadcast build re-collects and
        # re-serializes that whole chain through the driver —
        # GATE_COMPARE_SF01_r11 measured 5.4× on local-cluster for
        # exactly this. Per-round state is node-count-bounded, so the
        # checkpoint is cheap at any scale.
        ranks = iter_checkpoint(ranks)
    return ranks.select(
        F.col("node").alias("nationkey"), (F.round(F.col("r"), 6) + 0.0).alias("rank")
    )


def _pagerank_oracle() -> str:
    ctes = [
        """e AS (SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
           FROM lineitem l
           JOIN orders o ON l.l_orderkey = o.o_orderkey
           JOIN customer c ON o.o_custkey = c.c_custkey
           JOIN supplier s ON l.l_suppkey = s.s_suppkey)""",
        "n AS (SELECT n_nationkey AS node FROM nation)",
        "deg AS (SELECT src, count(*) AS d FROM e GROUP BY src)",
        """r0 AS (SELECT node,
           round(1.0 / (SELECT count(*) FROM n), 10) AS r FROM n)""",
    ]
    for t in range(PR_ITERS):
        ctes.append(
            f"""c{t} AS (SELECT e.dst AS node, sum(r.r / deg.d) AS contrib
               FROM e JOIN r{t} r ON e.src = r.node
               JOIN deg ON e.src = deg.src GROUP BY e.dst)"""
        )
        ctes.append(
            f"""r{t + 1} AS (SELECT n.node,
               round({1.0 - PR_DAMP} / (SELECT count(*) FROM n)
                     + {PR_DAMP} * coalesce(c.contrib, 0), 10) AS r
               FROM n LEFT JOIN c{t} c USING (node))"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
        SELECT node AS nationkey, round(r, 6) + 0.0 AS rank FROM r{PR_ITERS}"""
    )


CM_W = 256  # sketch width  (ε = e/w ≈ 0.011 of stream length)
CM_D = 4  # sketch depth  (failure prob per key ≈ e^-d ≈ 0.018)


def q_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch heavy hitters: estimate per-user event counts
    from a fixed d×w counter grid (d=4 rows × w=256 buckets, seeded
    xxhash64 per row) and verify the top-10 exact heavy hitters'
    estimates against the CM guarantee (est ≥ exact, always; and
    est ≤ exact + ε·N with ε = e/w, checked deterministically).

    Scale: the sketch build is ONE aggregation over (row, bucket) —
    1024 cells regardless of stream size, fully map-side-combinable
    (this is why CM beats exact groupBy at 100 TB: the shuffle carries
    d·w partial counters per task, not |distinct keys| rows). The
    heavy-hitter probe joins 10 keys × d rows against the 1024-cell
    sketch — broadcast both ways. Oracle via the within-bound pattern
    (sketch internals aren't comparable across engines): exact counts
    + literal trues."""
    import math

    ev = table(spark, sf_dir, "events").select("user_id")
    n_total = ev.count()  # scalar stream length for the ε·N bound
    bound = math.e / CM_W * n_total

    cells = ev.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        F.pmod(F.xxhash64("user_id", F.lit(r)), F.lit(CM_W)).alias(
                            "b"
                        ),
                    )
                    for r in range(CM_D)
                ]
            )
        ).alias("rb")
    )
    sketch = cells.groupBy("rb.r", "rb.b").agg(F.count("*").alias("cnt"))

    top = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), F.col("user_id").asc())
        .limit(10)
    )
    probes = top.select(
        "user_id",
        "exact_cnt",
        F.explode(F.sequence(F.lit(0), F.lit(CM_D - 1))).alias("r"),
    ).withColumn("b", F.pmod(F.xxhash64("user_id", F.col("r")), F.lit(CM_W)))
    est = (
        probes.join(F.broadcast(sketch), ["r", "b"])
        .groupBy("user_id", "exact_cnt")
        .agg(F.min("cnt").alias("est"))
    )
    return est.select(
        "user_id",
        "exact_cnt",
        (F.col("est") >= F.col("exact_cnt")).alias("overest_ok"),
        ((F.col("est") - F.col("exact_cnt")) <= F.lit(bound)).alias("within_bound"),
    ).orderBy(F.col("exact_cnt").desc(), F.col("user_id").asc())


ORACLE: dict[str, str] = {
    "q_time_weighted_avg": """
        WITH steps AS (
          SELECT event_type, value,
                 lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                   - epoch_us(ts) AS dur
          FROM events
        )
        SELECT event_type,
               round(sum(value * dur) / sum(dur) + 1e-9, 4) + 0.0
                 AS twa_value,
               round(avg(value) + 1e-9, 4) + 0.0 AS plain_mean,
               count(*) AS n_weighted
        FROM steps WHERE dur IS NOT NULL
        GROUP BY event_type
    """,
    "q_event_paths": f"""
        WITH steps AS (
          SELECT event_type,
                 lead(event_type, 1) OVER w AS e2,
                 lead(event_type, 2) OVER w AS e3
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT event_type || '>' || e2 || '>' || e3 AS path,
               count(*) AS n
        FROM steps WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        GROUP BY 1 ORDER BY n DESC, path ASC LIMIT {PATHS_TOP}
    """,
    "q_anomaly_mad": """
        WITH ranked AS (
          SELECT event_type, value,
                 count(*) OVER (PARTITION BY event_type ORDER BY value
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS cum,
                 count(*) OVER (PARTITION BY event_type) AS n
          FROM events
        ), med AS (
          SELECT event_type, min(value) AS med
          FROM ranked WHERE cum * 2 >= n GROUP BY event_type
        ), dev AS (
          SELECT e.event_type, e.value,
                 abs(e.value - m.med) AS adev, m.med
          FROM events e JOIN med m ON e.event_type = m.event_type
        ), ranked2 AS (
          SELECT event_type, adev,
                 count(*) OVER (PARTITION BY event_type ORDER BY adev
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS cum,
                 count(*) OVER (PARTITION BY event_type) AS n
          FROM dev
        ), mad AS (
          SELECT event_type, min(adev) AS mad
          FROM ranked2 WHERE cum * 2 >= n GROUP BY event_type
        )
        SELECT d.event_type, count(*) AS n_events,
               round(max(d.med) + 1e-9, 2) + 0.0 AS median,
               round(max(md.mad) + 1e-9, 2) + 0.0 AS mad,
               count(*) FILTER (WHERE d.adev > 3 * 1.4826 * md.mad)
                 AS n_outliers
        FROM dev d JOIN mad md ON d.event_type = md.event_type
        GROUP BY d.event_type
    """,
    "q_funnel_time": """
        WITH lagged AS (
          SELECT (epoch_us(ts) - epoch_us(last_click)) // 60000000
                   AS lag_min
          FROM (
            SELECT event_type, ts,
                   last_value(CASE WHEN event_type = 'click' THEN ts END
                              IGNORE NULLS)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) AS last_click
            FROM events
          )
          WHERE event_type = 'purchase' AND last_click IS NOT NULL
        )
        SELECT count(*) AS n_conversions,
               min(lag_min) AS min_lag_min,
               round(avg(lag_min) + 1e-9, 4) + 0.0 AS mean_lag_min,
               max(lag_min) AS max_lag_min
        FROM lagged
    """,
    "q_clamped_balance": """
        WITH base AS (
          SELECT user_id,
                 row_number() OVER w_ord AS rn,
                 sum((CASE WHEN event_type IN ('purchase', 'signup')
                           THEN 1 ELSE -1 END)
                     * CAST(round(value) AS BIGINT)) OVER w AS s
          FROM events
          WINDOW w_ord AS (PARTITION BY user_id ORDER BY ts, event_id),
                 w AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW)
        ), stepped AS (
          SELECT user_id, rn,
                 s - least(CAST(0 AS BIGINT),
                           min(s) OVER (PARTITION BY user_id ORDER BY rn
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                                 AND CURRENT ROW))
                   AS balance
          FROM base
        )
        SELECT user_id,
               CAST(max_by(balance, rn) AS BIGINT) AS final_balance,
               CAST(max(balance) AS BIGINT) AS peak_balance
        FROM stepped GROUP BY user_id
    """,
    "q_growth_accounting": """
        WITH uw AS (
          SELECT DISTINCT user_id, CAST(weekofyear(ts) AS INTEGER) AS week
          FROM events
        ), flagged AS (
          SELECT week,
                 lag(week) OVER (PARTITION BY user_id ORDER BY week)
                   AS prev_week,
                 min(week) OVER (PARTITION BY user_id) AS first_week,
                 lead(week) OVER (PARTITION BY user_id ORDER BY week)
                   AS next_week
          FROM uw
        ), status AS (
          SELECT week,
                 CASE WHEN week = first_week THEN 'new'
                      WHEN prev_week = week - 1 THEN 'retained'
                      ELSE 'resurrected' END AS status,
                 (next_week IS NULL OR next_week > week + 1)
                   AS churns_after
          FROM flagged
        )
        SELECT week, count(*) AS active,
               count(*) FILTER (WHERE status = 'new') AS new_users,
               count(*) FILTER (WHERE status = 'retained') AS retained,
               count(*) FILTER (WHERE status = 'resurrected')
                 AS resurrected,
               count(*) FILTER (WHERE churns_after) AS churning_after
        FROM status GROUP BY week
    """,
    "q_cumulative_users": """
        WITH first_seen AS (
          SELECT user_id, min(CAST(ts AS DATE)) AS first_day
          FROM events GROUP BY user_id
        ), per_day AS (
          SELECT first_day, count(*) AS new_users
          FROM first_seen GROUP BY first_day
        )
        SELECT first_day AS day, new_users,
               CAST(sum(new_users) OVER (ORDER BY first_day
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                                  AND CURRENT ROW)
                    AS BIGINT) AS cumulative_users
        FROM per_day
    """,
    "q_share_of_total": """
        WITH rev AS (
          SELECT r.r_name, n.n_name,
                 sum(l.l_extendedprice * (1 - l.l_discount)) AS _rev
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN nation n ON c.c_nationkey = n.n_nationkey
          JOIN region r ON n.n_regionkey = r.r_regionkey
          GROUP BY r.r_name, n.n_name
        )
        SELECT r_name, n_name,
               round(_rev + 1e-9, 2) + 0.0 AS revenue,
               round(_rev / sum(_rev) OVER (PARTITION BY r_name) * 100
                     + 1e-9, 4) + 0.0 AS pct_of_region,
               round(_rev / sum(_rev) OVER () * 100 + 1e-9, 4) + 0.0
                 AS pct_of_total
        FROM rev
    """,
    "q_topk_others": """
        WITH per_type AS (
          SELECT event_type, sum(value) AS _rev, count(*) AS _n
          FROM events GROUP BY event_type
        ), ranked AS (
          SELECT *, row_number() OVER (ORDER BY _rev DESC,
                                       event_type ASC) AS rn
          FROM per_type
        )
        SELECT CASE WHEN rn <= 3 THEN event_type ELSE 'other' END
                 AS bucket,
               round(sum(_rev) + 1e-9, 2) + 0.0 AS revenue,
               CAST(sum(_n) AS BIGINT) AS n_events
        FROM ranked GROUP BY 1
    """,
    "q_seasonality": """
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS day, sum(value) AS revenue
          FROM events GROUP BY 1
        ), t AS (
          SELECT day, revenue,
                 avg(revenue) OVER (ORDER BY day
                                    ROWS BETWEEN 3 PRECEDING
                                             AND 3 FOLLOWING) AS trend
          FROM daily
        ), d AS (
          SELECT *, revenue - trend AS detrended FROM t
        ), s AS (
          SELECT *, avg(detrended)
                      OVER (PARTITION BY dayofweek(day)) AS seasonal
          FROM d
        )
        SELECT day,
               round(revenue + 1e-9, 2) + 0.0 AS revenue,
               round(trend + 1e-9, 4) + 0.0 AS trend,
               round(seasonal + 1e-9, 4) + 0.0 AS seasonal,
               round(detrended - seasonal + 1e-9, 4) + 0.0 AS residual
        FROM s
    """,
    "q_cuped": """
        WITH per_user AS (
          SELECT user_id,
                 coalesce(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                                   THEN value END), 0.0) AS pre,
                 coalesce(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                                   THEN value END), 0.0) AS post
          FROM events GROUP BY user_id
        ), pooled AS (
          SELECT covar_pop(pre, post) / var_pop(pre) AS theta,
                 avg(pre) AS pre_mean
          FROM per_user
        ), adj AS (
          SELECT user_id % 2 AS variant, post,
                 post - pooled.theta * (pre - pooled.pre_mean) AS adjusted
          FROM per_user, pooled
        )
        SELECT variant, count(*) AS n_users,
               round(avg(post) + 1e-9, 4) + 0.0 AS mean_post,
               round(avg(adjusted) + 1e-9, 4) + 0.0 AS mean_adjusted,
               round(1 - var_pop(adjusted) / var_pop(post) + 1e-9, 4) + 0.0
                 AS var_reduction
        FROM adj GROUP BY variant
    """,
    "q_survival_km": """
        WITH anchor AS (SELECT max(ts) AS a FROM events),
        pur AS (
          SELECT user_id, ts, event_id FROM events
          WHERE event_type = 'purchase'
        ), gaps AS (
          SELECT lead(ts) OVER w IS NOT NULL AS observed,
                 CASE WHEN lead(ts) OVER w IS NOT NULL
                      THEN date_diff('day', CAST(ts AS DATE),
                                     CAST(lead(ts) OVER w AS DATE))
                      ELSE date_diff('day', CAST(ts AS DATE),
                                     CAST(anchor.a AS DATE)) END AS duration
          FROM pur, anchor
          WINDOW w AS (PARTITION BY user_id, anchor.a
                       ORDER BY ts, event_id)
        ), hist AS (
          SELECT duration, count(*) AS m,
                 count(*) FILTER (WHERE observed) AS d
          FROM gaps GROUP BY duration
        ), at_risk AS (
          SELECT duration, d,
                 sum(m) OVER (ORDER BY duration DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS n
          FROM hist
        )
        SELECT duration AS t, CAST(n AS BIGINT) AS n_at_risk,
               CAST(d AS BIGINT) AS n_churned,
               round(CASE WHEN min(1 - d / CAST(n AS DOUBLE)) OVER w = 0
                          THEN 0.0
                          ELSE exp(sum(ln(
                            CASE WHEN 1 - d / CAST(n AS DOUBLE) > 0
                                 THEN 1 - d / CAST(n AS DOUBLE)
                                 ELSE 1 END)) OVER w) END + 1e-9, 6) + 0.0
                 AS survival
        FROM at_risk WHERE d > 0
        WINDOW w AS (ORDER BY duration
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    "q_null_semantics": _NULL_SEMANTICS_SQL,
    "q_window_dist": """
        SELECT event_id, event_type,
               round(percent_rank() OVER w + 1e-9, 6) + 0.0 AS pct_rank,
               round(cume_dist() OVER w + 1e-9, 6) + 0.0 AS cume,
               ntile(10) OVER w AS decile
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
    """,
    "q_profile": " UNION ALL ".join(
        f"""
        SELECT '{c}' AS column, count(*) AS n_rows,
               count(*) FILTER (WHERE {c} IS NULL) AS n_nulls,
               count(DISTINCT {c}) AS n_distinct,
               CAST(min({c}) AS VARCHAR) AS min_value,
               CAST(max({c}) AS VARCHAR) AS max_value,
               m.top_value, m.top_count
        FROM events CROSS JOIN (
          SELECT CAST({c} AS VARCHAR) AS top_value, count(*) AS top_count
          FROM events GROUP BY 1
          ORDER BY top_count DESC, top_value ASC LIMIT 1
        ) m
        GROUP BY m.top_value, m.top_count
        """
        for c in ["event_id", "user_id", "event_type", "value"]
    ),
    "q_dead_letter": """
        WITH wire AS (
          SELECT event_id, event_type,
                 CASE WHEN event_id % 13 = 0
                      THEN substring(props, 1, length(props) - 1)
                      ELSE props END AS props
          FROM events
        ), parsed AS (
          SELECT event_type,
                 CASE WHEN json_valid(props)
                      THEN CAST(json_extract_string(props, '$.k') AS INTEGER)
                 END AS k
          FROM wire
        )
        SELECT event_type,
               count(*) FILTER (WHERE k IS NOT NULL) AS n_clean,
               count(*) FILTER (WHERE k IS NULL) AS n_quarantined,
               round(avg(k) FILTER (WHERE k IS NOT NULL) + 1e-9, 4) + 0.0
                 AS mean_k_clean
        FROM parsed GROUP BY event_type
    """,
    "q_basket_rules": """
        WITH li AS (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), pairs AS (
          SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                 count(*) AS n_both
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= 3
        ), marg AS (
          SELECT l_partkey AS part, count(*) AS n_with
          FROM li GROUP BY 1
        ), enriched AS (
          SELECT p.part_a, p.part_b, p.n_both,
                 p.n_both / CAST(ma.n_with AS DOUBLE) AS conf_ab,
                 p.n_both / CAST(mb.n_with AS DOUBLE) AS conf_ba
          FROM pairs p
          JOIN marg ma ON ma.part = p.part_a
          JOIN marg mb ON mb.part = p.part_b
        )
        SELECT CASE WHEN conf_ab >= conf_ba THEN part_a
                    ELSE part_b END AS antecedent,
               CASE WHEN conf_ab >= conf_ba THEN part_b
                    ELSE part_a END AS consequent,
               n_both,
               round(greatest(conf_ab, conf_ba) + 1e-9, 4) + 0.0
                 AS confidence
        FROM enriched
        ORDER BY confidence DESC, n_both DESC,
                 antecedent ASC, consequent ASC
        LIMIT 20
    """,
    "q_markov_next": """
        WITH trans AS (
          SELECT src, dst, count(*) AS n FROM (
            SELECT event_type AS src,
                   lead(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS dst
            FROM events
          ) WHERE dst IS NOT NULL GROUP BY src, dst
        ), best AS (
          SELECT src, dst AS predicted, n AS n_hit FROM (
            SELECT *, row_number() OVER (PARTITION BY src
                                         ORDER BY n DESC, dst ASC) AS rn
            FROM trans
          ) WHERE rn = 1
        ), totals AS (
          SELECT src, CAST(sum(n) AS BIGINT) AS n_total
          FROM trans GROUP BY src
        )
        SELECT b.src, b.predicted, t.n_total,
               round(b.n_hit / CAST(t.n_total AS DOUBLE) + 1e-9, 4) + 0.0
                 AS accuracy
        FROM best b JOIN totals t ON b.src = t.src
    """,
    "q_item_affinity": """
        WITH li AS (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), n AS (
          SELECT count(DISTINCT o_orderkey) AS n_orders FROM orders
        ), pairs AS (
          SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                 count(*) AS n_both
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey
          GROUP BY a.l_partkey, b.l_partkey
          HAVING count(*) >= 3
        ), marg AS (
          SELECT l_partkey AS part, count(*) AS n_orders_with
          FROM li GROUP BY l_partkey
        )
        SELECT p.part_a, p.part_b, p.n_both,
               round(p.n_both * n.n_orders
                     / CAST(ma.n_orders_with * mb.n_orders_with AS DOUBLE)
                     + 1e-9, 4) + 0.0 AS lift
        FROM pairs p
        JOIN marg ma ON ma.part = p.part_a
        JOIN marg mb ON mb.part = p.part_b
        CROSS JOIN n
        ORDER BY lift DESC, n_both DESC, part_a ASC, part_b ASC
        LIMIT 20
    """,
    "q_rfm_segments": """
        WITH anchor AS (SELECT max(ts) AS now FROM events),
        per_user AS (
          SELECT user_id,
                 date_diff('day', CAST(max(ts) AS DATE),
                           CAST(anchor.now AS DATE)) AS recency_days,
                 count(*) AS frequency,
                 round(sum(value) + 1e-9, 2) AS monetary
          FROM events, anchor
          GROUP BY user_id, anchor.now
        ), scored AS (
          SELECT user_id, monetary,
                 ntile(4) OVER (ORDER BY recency_days DESC, user_id ASC) AS r,
                 ntile(4) OVER (ORDER BY frequency ASC, user_id ASC) AS f,
                 ntile(4) OVER (ORDER BY monetary ASC, user_id ASC) AS m
          FROM per_user
        )
        SELECT r, f, m, count(*) AS n_users,
               round(avg(monetary) + 1e-9, 2) + 0.0 AS avg_monetary
        FROM scored GROUP BY r, f, m
    """,
    "q_scd2_lookup": """
        WITH tiered AS (
          SELECT user_id, ts, event_id, event_type, value,
                 CAST(least(floor(value / 250), 3) AS INTEGER) AS tier
          FROM events
        ), runs AS (
          SELECT *, sum(CASE WHEN prev_tier IS NULL
                               OR prev_tier <> tier THEN 1 ELSE 0 END)
                      OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS version
          FROM (SELECT *, lag(tier) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS prev_tier
                FROM tiered)
        ), dim0 AS (
          SELECT user_id, version, tier, min(ts) AS valid_from
          FROM runs GROUP BY user_id, version, tier
        ), dim AS (
          SELECT user_id, tier, valid_from,
                 lead(valid_from) OVER (PARTITION BY user_id
                                        ORDER BY version) AS valid_to
          FROM dim0
        ), facts AS (
          SELECT user_id, ts, value FROM tiered
          WHERE event_type = 'purchase'
        )
        SELECT d.tier, count(*) AS n_purchases,
               count(DISTINCT f.user_id) AS n_users,
               round(sum(f.value) + 1e-9, 2) AS revenue
        FROM facts f JOIN dim d ON f.user_id = d.user_id
         AND d.valid_from <= f.ts
         AND (d.valid_to IS NULL OR f.ts < d.valid_to)
        GROUP BY d.tier
    """,
    "q_hll_intersect": """
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               count(*) AS exact_both, true AS within_union_bound
        FROM (SELECT DISTINCT event_type, user_id FROM events) a
        JOIN (SELECT DISTINCT event_type, user_id FROM events) b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY a.event_type, b.event_type
    """,
    "q_attribution": """
        WITH touched AS (
          SELECT event_type, value,
                 first_value(event_type) OVER w AS first_touch,
                 coalesce(last_value(CASE WHEN event_type <> 'purchase'
                                          THEN event_type END IGNORE NULLS)
                            OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND 1 PRECEDING),
                          'direct') AS last_touch
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), conv AS (
          SELECT * FROM touched WHERE event_type = 'purchase'
        )
        SELECT 'first' AS model, first_touch AS touch_type,
               count(*) AS n_conversions,
               round(sum(value) + 1e-9, 2) AS revenue
        FROM conv GROUP BY first_touch
        UNION ALL
        SELECT 'last', last_touch, count(*),
               round(sum(value) + 1e-9, 2)
        FROM conv GROUP BY last_touch
    """,
    "q_aqp_sample": """
        WITH exact AS (
          SELECT event_type, count(*) AS exact_n,
                 round(sum(value) + 1e-9, 2) AS exact_sum
          FROM events GROUP BY event_type
        ), est AS (
          SELECT event_type, count(*) * 10 AS est_n,
                 round(sum(value) * 10 + 1e-9, 2) AS est_sum
          FROM events WHERE user_id % 10 = 0 GROUP BY event_type
        )
        SELECT e.event_type, e.exact_n,
               coalesce(s.est_n, 0) AS est_n,
               e.exact_sum,
               coalesce(s.est_sum, 0.0) AS est_sum,
               round(abs(coalesce(s.est_n, 0) - e.exact_n)
                     / CAST(e.exact_n AS DOUBLE) + 1e-9, 4) AS rel_err_n
        FROM exact e LEFT JOIN est s ON e.event_type = s.event_type
    """,
    "q_quantile_merge": """
        -- one-shot recomputation of the deterministic 64-bin
        -- histogram quantile; merge associativity makes the engine's
        -- two-phase (daily partials -> array-add) result identical
        WITH b AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
                 CAST(least(greatest(floor(value * 64.0 / 1000.0), 0), 63)
                      AS INTEGER) AS bin
          FROM events
        ), cnt AS (
          SELECT event_type, bin, count(*) AS c
          FROM b GROUP BY event_type, bin
        ), days AS (
          SELECT event_type, count(DISTINCT day) AS n_days
          FROM b GROUP BY event_type
        ), cum AS (
          SELECT event_type, bin,
                 sum(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
                 sum(c) OVER (PARTITION BY event_type) AS n
          FROM cnt
        ), pick AS (
          SELECT event_type, n,
                 min(CASE WHEN cum >= ceil(n * 0.5) THEN bin END) AS p50_bin,
                 min(CASE WHEN cum >= ceil(n * 0.9) THEN bin END) AS p90_bin
          FROM cum GROUP BY event_type, n
        )
        SELECT p.event_type, CAST(p.n AS BIGINT) AS n_events,
               d.n_days,
               p.p50_bin, p.p90_bin,
               round((p.p50_bin + 0.5) * 15.625 + 1e-9, 4) AS p50_est,
               round((p.p90_bin + 0.5) * 15.625 + 1e-9, 4) AS p90_est
        FROM pick p JOIN days d ON p.event_type = d.event_type
    """,
    "q_hll_merge": """
        SELECT event_type,
               count(DISTINCT user_id) AS exact_users,
               count(DISTINCT CAST(ts AS DATE)) AS n_days,
               true AS within_bound,
               true AS dominates_days
        FROM events GROUP BY event_type
    """,
    "q_skyline": """
        WITH cells AS (
          SELECT p_retailprice AS price, p_size AS size,
                 min(p_partkey) AS p_partkey
          FROM part GROUP BY 1, 2
        )
        SELECT price, size, p_partkey FROM cells c
        WHERE NOT EXISTS (
          SELECT 1 FROM cells d
          WHERE d.price <= c.price AND d.size >= c.size
            AND (d.price < c.price OR d.size > c.size)
        )
        ORDER BY price
    """,
    "q_argmax": """
        SELECT event_type,
               (max({'v': value, 'e': event_id})).v AS max_value,
               (max({'v': value, 'e': event_id})).e AS max_event_id,
               (min({'v': value, 'e': event_id})).v AS min_value,
               (min({'v': value, 'e': event_id})).e AS min_event_id
        FROM events GROUP BY event_type
    """,
    "q_pagerank": _pagerank_oracle(),
    "q_recursive_cte": _RECURSIVE_SQL,
    "q_cogroup_asof": _COGROUP_ASOF_SQL,
    "q_holt_forecast": _HOLT_SQL,
    "q_welch_ttest": f"""
        WITH halves AS (
          SELECT CASE WHEN ts < TIMESTAMP '{PSI_SPLIT}' THEN 'ref'
                      ELSE 'cur' END AS period,
                 count(*) AS n, avg(value) AS m, var_samp(value) AS v
          FROM events GROUP BY 1
        ), r AS (SELECT n AS n1, m AS m1, v AS v1 FROM halves
                 WHERE period = 'ref'),
        c AS (SELECT n AS n2, m AS m2, v AS v2 FROM halves
              WHERE period = 'cur')
        SELECT n1, n2,
               round((m1 - m2) / sqrt(v1 / n1 + v2 / n2) + 1e-9, 4) + 0.0
                 AS t_stat,
               round(pow(v1 / n1 + v2 / n2, 2)
                     / (pow(v1 / n1, 2) / (n1 - 1)
                        + pow(v2 / n2, 2) / (n2 - 1)) + 1e-9, 2) + 0.0 AS df
        FROM r CROSS JOIN c
    """,
    "q_chi_square": """
        WITH cells AS (
          SELECT event_type, user_id % 2 AS parity, count(*) AS o
          FROM events GROUP BY event_type, user_id % 2
        ), ex AS (
          SELECT o,
                 (sum(o) OVER (PARTITION BY event_type))
                 * (sum(o) OVER (PARTITION BY parity))
                 * 1.0 / (sum(o) OVER ()) AS e
          FROM cells
        )
        SELECT count(*) AS n_cells,
               round(sum((o - e) * (o - e) / e) + 1e-9, 4) + 0.0 AS chi2
        FROM ex
    """,
    "q_benford": """
        WITH pos AS (SELECT value FROM events WHERE value > 0),
        digits AS (
          SELECT CAST(floor(value / pow(10.0, floor(log10(value)))) AS INT)
                   AS digit
          FROM pos
        ), counts AS (
          SELECT digit, count(*) AS n FROM digits GROUP BY digit
        )
        SELECT digit, n,
               round(n * 1.0 / (sum(n) OVER ()) + 1e-9, 4) + 0.0 AS observed,
               round(log10(1 + 1.0 / digit) + 1e-9, 4) + 0.0 AS benford
        FROM counts
    """,
    "q_zipf_fit": """
        WITH freq AS (
          SELECT term, count(*) AS cnt FROM (
            SELECT unnest(string_split(text, ' ')) AS term FROM documents
          ) WHERE term <> '' GROUP BY term
        ), ranked AS (
          SELECT cnt, row_number() OVER (ORDER BY cnt DESC, term ASC) AS rank
          FROM freq
        )
        SELECT count(*) AS vocab,
               round(regr_slope(ln(cnt), ln(rank)) + 1e-9, 4) + 0.0
                 AS zipf_slope,
               round(regr_r2(ln(cnt), ln(rank)) + 1e-9, 4) + 0.0 AS r2
        FROM ranked
    """,
    "q_gini": """
        WITH totals AS (
          SELECT user_id, sum(value) AS x FROM events GROUP BY user_id
        ), ranked AS (
          SELECT x, row_number() OVER (ORDER BY x ASC, user_id ASC) AS i
          FROM totals
        )
        SELECT count(*) AS n_users,
               round(2.0 * sum(i * x) / (count(*) * sum(x))
                     - (count(*) + 1.0) / count(*) + 1e-9, 6) + 0.0 AS gini
        FROM ranked
    """,
    "q_autocorr": """
        WITH lagged AS (
          SELECT user_id, value,
                 lag(value) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS prev
          FROM events
        )
        SELECT user_id, count(*) AS n_pairs,
               round(corr(value, prev) + 1e-9, 4) + 0.0 AS ac1
        FROM lagged WHERE prev IS NOT NULL
        GROUP BY user_id HAVING count(*) >= 2
    """,
    "q_ks_test": f"""
        WITH per_val AS (
          SELECT value,
                 sum(CASE WHEN ts < TIMESTAMP '{PSI_SPLIT}' THEN 1 ELSE 0 END)
                   AS n_ref,
                 sum(CASE WHEN ts < TIMESTAMP '{PSI_SPLIT}' THEN 0 ELSE 1 END)
                   AS n_cur
          FROM events GROUP BY value
        ), tot AS (
          SELECT sum(n_ref) AS t_ref, sum(n_cur) AS t_cur FROM per_val
        ), cdf AS (
          SELECT value,
                 sum(n_ref) OVER (ORDER BY value
                                  ROWS UNBOUNDED PRECEDING) AS c_ref,
                 sum(n_cur) OVER (ORDER BY value
                                  ROWS UNBOUNDED PRECEDING) AS c_cur
          FROM per_val
        )
        SELECT round(max(abs(c_ref * 1.0 / t_ref - c_cur * 1.0 / t_cur))
                     + 1e-9, 6) + 0.0 AS ks_d,
               count(*) AS n_points
        FROM cdf CROSS JOIN tot
    """,
    "q_psi_drift": f"""
        WITH binned AS (
          SELECT CASE WHEN ts < TIMESTAMP '{PSI_SPLIT}' THEN 'ref'
                      ELSE 'cur' END AS period,
                 least(greatest(CAST(floor(value / 100) AS INT), 0),
                       {PSI_BINS - 1}) AS bin
          FROM events
        ), counts AS (
          SELECT period, bin, count(*) AS c FROM binned GROUP BY period, bin
        ), spine AS (
          SELECT CAST(i AS INT) AS bin, period
          FROM range({PSI_BINS}) t(i)
          CROSS JOIN (SELECT 'ref' AS period UNION ALL SELECT 'cur') p
        ), full_counts AS (
          SELECT spine.period, spine.bin, coalesce(counts.c, 0) AS c
          FROM spine LEFT JOIN counts
            ON spine.period = counts.period AND spine.bin = counts.bin
        ), totals AS (
          SELECT period, sum(c) AS n FROM full_counts GROUP BY period
        ), shares AS (
          SELECT full_counts.period, bin,
                 (c + 1) * 1.0 / (n + {PSI_BINS}) AS share
          FROM full_counts JOIN totals
            ON full_counts.period = totals.period
        )
        SELECT count(*) AS n_bins,
               round(sum((q.share - p.share) * ln(q.share / p.share))
                     + 1e-9, 6) + 0.0 AS psi
        FROM (SELECT bin, share FROM shares WHERE period = 'ref') p
        JOIN (SELECT bin, share FROM shares WHERE period = 'cur') q
          USING (bin)
    """,
    "q_iqr_outliers": """
        WITH q AS (
          SELECT event_type,
                 quantile_cont(value, 0.25) AS q1,
                 quantile_cont(value, 0.75) AS q3
          FROM events GROUP BY event_type
        )
        SELECT e.event_type, count(*) AS n_outliers,
               round(min(e.value) + 1e-9, 4) + 0.0 AS min_out,
               round(max(e.value) + 1e-9, 4) + 0.0 AS max_out
        FROM events e JOIN q ON e.event_type = q.event_type
        WHERE e.value < q.q1 - 1.5 * (q.q3 - q.q1)
           OR e.value > q.q3 + 1.5 * (q.q3 - q.q1)
        GROUP BY e.event_type
    """,
    "q_transitions": """
        WITH steps AS (
          SELECT event_type AS from_type,
                 lead(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS to_type
          FROM events
        ), counts AS (
          SELECT from_type, to_type, count(*) AS n
          FROM steps WHERE to_type IS NOT NULL
          GROUP BY from_type, to_type
        )
        SELECT from_type, to_type, n,
               round(n / (sum(n) OVER (PARTITION BY from_type)) + 1e-9, 4)
                 + 0.0 AS p
        FROM counts
    """,
    "q_lateral_topn": _LATERAL_SQL,
    "q_linear_regr": """
        SELECT event_type,
               round(regr_slope(value, CAST(user_id AS DOUBLE)) + 1e-9, 6) + 0.0 AS slope,
               round(regr_intercept(value, CAST(user_id AS DOUBLE)) + 1e-9, 6) + 0.0 AS intercept,
               round(regr_r2(value, CAST(user_id AS DOUBLE)) + 1e-9, 6) + 0.0 AS r2,
               CAST(regr_count(value, CAST(user_id AS DOUBLE)) AS BIGINT) AS n
        FROM events GROUP BY event_type
    """,
    "q_countmin": """
        SELECT user_id, count(*) AS exact_cnt,
               true AS overest_ok, true AS within_bound
        FROM events GROUP BY user_id
        ORDER BY exact_cnt DESC, user_id ASC LIMIT 10
    """,
    "q_winsorize": """
        WITH pct AS (
          SELECT event_type,
                 quantile_cont(value, 0.05) AS p05,
                 quantile_cont(value, 0.95) AS p95
          FROM events GROUP BY event_type
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               round(avg(value) + 1e-9, 4) AS mean_raw,
               round(avg(least(greatest(value, pct.p05), pct.p95)) + 1e-9, 4)
                 AS mean_winsorized,
               round(min(pct.p05) + 1e-9, 4) AS p05,
               round(max(pct.p95) + 1e-9, 4) AS p95
        FROM events JOIN pct USING (event_type)
        GROUP BY event_type
    """,
    "q_snapshot_diff": """
        WITH a AS (
          SELECT user_id, event_type,
                 CAST(floor(value / 200) AS INT) AS vb,
                 max(event_id) AS fp
          FROM events WHERE ts < TIMESTAMP '2024-01-16'
          GROUP BY 1, 2, 3
        ), b AS (
          SELECT user_id, event_type,
                 CAST(floor(value / 200) AS INT) AS vb,
                 max(event_id) AS fp
          FROM events WHERE ts >= TIMESTAMP '2024-01-16'
          GROUP BY 1, 2, 3
        )
        SELECT coalesce(a.user_id, b.user_id) AS user_id,
               coalesce(a.event_type, b.event_type) AS event_type,
               coalesce(a.vb, b.vb) AS vb,
               CASE WHEN a.user_id IS NULL THEN 'inserted'
                    WHEN b.user_id IS NULL THEN 'deleted'
                    WHEN a.fp <> b.fp THEN 'updated'
                    ELSE 'unchanged' END AS change
        FROM a FULL OUTER JOIN b
          ON a.user_id = b.user_id AND a.event_type = b.event_type
         AND a.vb = b.vb
        WHERE CASE WHEN a.user_id IS NULL THEN 'inserted'
                   WHEN b.user_id IS NULL THEN 'deleted'
                   WHEN a.fp <> b.fp THEN 'updated'
                   ELSE 'unchanged' END <> 'unchanged'
    """,
    "q_unpivot": """
        WITH wide AS (
          SELECT l_returnflag,
                 round(sum(l_quantity), 2) AS sum_qty,
                 round(sum(l_extendedprice), 2) AS sum_price,
                 round(sum(l_discount), 2) AS sum_disc
          FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM wide
        UNION ALL
        SELECT l_returnflag, 'sum_price', sum_price FROM wide
        UNION ALL
        SELECT l_returnflag, 'sum_disc', sum_disc FROM wide
    """,
    "q_gap_fill": """
        WITH ev AS (
          SELECT user_id, event_type, date_trunc('day', ts) AS day
          FROM events
        ), span AS (
          SELECT user_id, min(day) AS d0, max(day) AS d1
          FROM ev GROUP BY user_id
        ), spine AS (
          SELECT user_id,
                 unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
          FROM span
        ), counts AS (
          SELECT user_id, day, count(*) AS n FROM ev
          WHERE event_type = 'purchase' GROUP BY user_id, day
        )
        SELECT spine.user_id, spine.day,
               coalesce(n, 0) AS n_purchases
        FROM spine LEFT JOIN counts
          ON spine.user_id = counts.user_id AND spine.day = counts.day
    """,
    "q_cohort_retention": """
        WITH ev AS (
          SELECT user_id, date_trunc('day', ts) AS day FROM events
        ), cohort AS (
          SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id
        )
        SELECT CAST(cohort_day AS TIMESTAMP) AS cohort_day,
               CAST(date_diff('day', cohort_day, day) AS INT) AS age_days,
               count(DISTINCT ev.user_id) AS n_users
        FROM ev JOIN cohort ON ev.user_id = cohort.user_id
        GROUP BY cohort.cohort_day, age_days
    """,
    "q_funnel": """
        WITH s AS (
          SELECT user_id,
                 min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup
          FROM events GROUP BY user_id
        ), c AS (
          SELECT e.user_id, t_signup,
                 min(CASE WHEN event_type = 'click' AND ts > t_signup
                          AND ts <= t_signup + INTERVAL 24 HOUR
                          THEN ts END) AS t_click
          FROM events e JOIN s ON e.user_id = s.user_id
          GROUP BY e.user_id, t_signup
        ), b AS (
          SELECT e.user_id, t_signup, t_click,
                 min(CASE WHEN event_type = 'purchase' AND ts > t_click
                          AND ts <= t_click + INTERVAL 24 HOUR
                          THEN ts END) AS t_buy
          FROM events e JOIN c ON e.user_id = c.user_id
          GROUP BY e.user_id, t_signup, t_click
        )
        SELECT count(t_signup) AS n_signup,
               count(t_click) AS n_click_after,
               count(t_buy) AS n_purchase_after
        FROM b
    """,
    "q_range_join": """
        SELECT a.user_id, count(*) AS n_pairs
        FROM events a
        JOIN events b
          ON a.user_id = b.user_id
         AND a.event_id < b.event_id
         AND abs(epoch_us(a.ts) // 1000000 - epoch_us(b.ts) // 1000000) <= 3600
        GROUP BY a.user_id
    """,
    "q_window_rank": """
        SELECT event_id, event_type,
               rank() OVER w AS rnk,
               dense_rank() OVER w AS drnk,
               ntile(4) OVER w AS quartile,
               round(percent_rank() OVER w + 1e-9, 4) AS pct_rank,
               round(cume_dist() OVER w + 1e-9, 4) AS cdist
        FROM events
        WINDOW w AS (PARTITION BY event_type
                     ORDER BY value DESC, event_id ASC)
    """,
    "q_window_first_last": """
        SELECT event_id, user_id,
               round(first_value(value) OVER grow, 2) AS first_val,
               round(last_value(value) OVER wfull, 2) AS last_val,
               round(nth_value(value, 2) OVER wfull, 2) AS second_val
        FROM events
        WINDOW grow AS (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wfull AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND UNBOUNDED FOLLOWING)
    """,
    "q_window_range": """
        SELECT event_id, user_id,
               count(*) OVER w AS cnt_1h,
               round(sum(value) OVER w, 2) AS sum_1h
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) // 1000000
                     RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
    "q_full_outer_join": """
        WITH buys AS (
          SELECT user_id, count(*) AS n_buys FROM events
          WHERE event_type = 'purchase' GROUP BY user_id
        ), errs AS (
          SELECT user_id, count(*) AS n_errs FROM events
          WHERE event_type = 'error' GROUP BY user_id
        )
        SELECT coalesce(buys.user_id, errs.user_id) AS user_id,
               coalesce(n_buys, 0) AS n_buys,
               coalesce(n_errs, 0) AS n_errs
        FROM buys FULL OUTER JOIN errs ON buys.user_id = errs.user_id
    """,
    "q_topn_per_group": """
        SELECT event_type, rnk, event_id, value FROM (
          SELECT event_type, event_id, value,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY value DESC, event_id ASC) AS rnk
          FROM events
        ) WHERE rnk <= 3
    """,
    "q_window_running": """
        SELECT event_id, user_id,
               count(*) OVER w AS run_cnt,
               round(sum(value) OVER w, 2) AS run_sum
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    "q_window_lag": """
        SELECT event_id, user_id,
               round(value - coalesce(lag(value) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id), 0.0), 2)
                 AS delta
        FROM events
    """,
    "q_percentiles": """
        SELECT event_type,
               round(quantile_cont(value, 0.5) + 1e-9, 4) AS p50,
               round(quantile_cont(value, 0.9) + 1e-9, 4) AS p90
        FROM events GROUP BY event_type
    """,
    "q_approx_distinct": """
        SELECT event_type, count(DISTINCT user_id) AS exact_users,
               count(*) AS n_events, true AS within_bound
        FROM events GROUP BY event_type
    """,
    "q_ewma": f"""
        WITH ordered AS (
          SELECT user_id, count(*) AS n_events,
                 list(value ORDER BY ts, event_id, value) AS vals
          FROM events GROUP BY user_id
        )
        SELECT user_id, n_events,
               round(list_reduce(vals,
                     (acc, x) -> {EWMA_ALPHA} * x + (1 - {EWMA_ALPHA}) * acc)
                     + 1e-9, 4) AS ewma
        FROM ordered
    """,
    "q_anomaly": """
        SELECT event_id, user_id, round(value, 2) AS value,
               round(z + 1e-9, 4) AS z
        FROM (
          SELECT event_id, user_id, value,
                 stddev_samp(value) OVER w AS std,
                 (value - avg(value) OVER w) / stddev_samp(value) OVER w AS z
          FROM events
          WINDOW w AS (PARTITION BY user_id)
        ) WHERE std > 0 AND abs(z) > 2.5
    """,
    "q_interval_overlap": """
        WITH points AS (
          SELECT event_type, ts AS t, 1 AS delta FROM events
          UNION ALL
          SELECT event_type, ts + INTERVAL 30 MINUTE AS t, -1 AS delta
          FROM events
        )
        SELECT event_type,
               CAST(max(open) AS BIGINT) AS max_concurrent
        FROM (
          SELECT event_type,
                 sum(delta) OVER (PARTITION BY event_type ORDER BY t, delta
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW) AS open
          FROM points
        )
        GROUP BY event_type
    """,
    "q_scd2": """
        WITH flagged AS (
          SELECT user_id, ts, event_id, event_type,
                 CASE WHEN lag(event_type) OVER w IS NULL
                       OR lag(event_type) OVER w <> event_type
                      THEN 1 ELSE 0 END AS is_change
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), runs AS (
          SELECT user_id, ts, event_type,
                 CAST(sum(is_change) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS version
          FROM flagged
        ), grouped AS (
          SELECT user_id, version, event_type,
                 count(*) AS n_events, min(ts) AS valid_from
          FROM runs GROUP BY 1, 2, 3
        )
        SELECT user_id, version, event_type, n_events, valid_from,
               lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
                 AS valid_to
        FROM grouped
    """,
    "q_freq_items": """
        SELECT event_type, count(*) AS cnt, true AS in_sketch
        FROM events GROUP BY event_type
        HAVING count(*) >= 0.1 * (SELECT count(*) FROM events)
    """,
    "q_approx_quantiles": """
        SELECT event_type, count(*) AS n_events,
               round(quantile_cont(value, 0.5) + 1e-9, 4) AS p50,
               round(quantile_cont(value, 0.9) + 1e-9, 4) AS p90,
               true AS p50_in_bound, true AS p90_in_bound
        FROM events GROUP BY event_type
    """,
    "q_cube": """
        SELECT lang, source, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY CUBE (lang, source)
    """,
    "q_count_distinct": """
        SELECT event_type, count(DISTINCT user_id) AS n_users,
               count(*) AS n_events
        FROM events GROUP BY event_type
    """,
    "q_grouping_sets": """
        SELECT lang, source, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY GROUPING SETS ((lang), (source))
    """,
    "q_sessionize": """
        WITH flagged AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                      THEN 1 ELSE 0 END AS is_start
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), numbered AS (
          SELECT user_id, ts,
                 CAST(sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT)
                   AS session_id
          FROM flagged
        )
        SELECT user_id, session_id, count(*) AS n_events,
               min(ts) AS session_start, max(ts) AS session_end
        FROM numbered GROUP BY user_id, session_id
    """,
    "q_asof_join": """
        SELECT event_id, user_id, ts, asof_signup_ts FROM (
          SELECT event_id, user_id, ts, event_type,
                 max(CASE WHEN event_type = 'signup' THEN ts END) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS asof_signup_ts
          FROM events
        ) WHERE event_type = 'purchase'
    """,
    "q_set_ops": """
        WITH buyers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
             err AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
        SELECT
          (SELECT count(*) FROM (SELECT user_id FROM buyers INTERSECT SELECT user_id FROM err)) AS n_both,
          (SELECT count(*) FROM (SELECT user_id FROM buyers EXCEPT SELECT user_id FROM err)) AS n_buyers_only
    """,
}
