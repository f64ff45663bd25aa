"""Window functions, time windows, rollup (SURVEY §2.6 / S6-S8 / X6-X7).

The reference's UPSERT (``INSERT ... ON CONFLICT DO UPDATE``,
``src/etl/load.rs:185-279``) has last-write-wins semantics per key;
the batch analog is a ``row_number()`` window keeping the newest row
per key (the engine's :func:`..etl.load.last_wins`) — the one window
function the engine must get exactly right (SURVEY §2.6). Time windows restate batch windowing over the slot
domain (``src/pipeline.rs:133-159``) as event-time tumbling windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..etl.load import last_wins


def q_last_wins_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPSERT-as-window: latest event per user (reference S6/S7
    ``ON CONFLICT DO UPDATE``, ``src/etl/load.rs:185-204,239-279``)."""
    ev = table(spark, sf_dir, "events")
    return last_wins(ev, ["user_id"], ["ts", "event_id"]).select(
        "user_id", "event_id", "event_type", "value"
    )


def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling window aggregate (reference ST4 batch
    windowing ``src/pipeline.rs:133-159`` restated as X7): hourly
    counts + sums via the real ``window()`` operator."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("hour"), "cnt", "sum_value")
    )


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup report (SURVEY X6 — the reference's query
    layer was Postgres, where ROLLUP was freely available): customer
    counts by (region, nation) with subtotals."""
    c = table(spark, sf_dir, "customer")
    n = F.broadcast(table(spark, sf_dir, "nation"))
    r = F.broadcast(table(spark, sf_dir, "region"))
    joined = c.join(n, c.c_nationkey == n.n_nationkey).join(
        r, n.n_regionkey == r.r_regionkey
    )
    return joined.rollup("r_name", "n_name").agg(F.count("*").alias("cnt"))


def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch `session_window` — the NATIVE dynamic-gap session operator
    (the batch twin of q_stream_session; q_sessionize is the manual
    gaps-and-islands spelling): per-user sessions close after 30
    minutes of silence, session end = last event + gap.

    Why both spellings exist: session_window is ONE grouped aggregate
    (window merge inside the agg, one shuffle on user_id) vs the
    two-window-pass island build — at 100 TB the native operator
    carries (user, session) partial states map-side instead of a full
    per-user sort + running sum. Sessions split when the inter-event
    gap is ≥ the 30-minute window (touching windows do not overlap),
    mirrored exactly in the oracle's lag predicate."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("s_start"),
            F.col("w.end").alias("s_end"),
            "n_events",
            "sum_value",
        )
    )


ORACLE: dict[str, str] = {
    "q_session_window": """
        WITH flags AS (
          SELECT user_id, event_id, ts, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS is_start
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
          SELECT user_id, ts, value,
                 sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS sid
          FROM flags
        )
        SELECT user_id,
               min(ts) AS s_start,
               max(ts) + INTERVAL 30 MINUTE AS s_end,
               count(*) AS n_events,
               round(sum(value), 2) AS sum_value
        FROM sess GROUP BY user_id, sid
    """,
    "q_last_wins_window": """
        SELECT user_id, event_id, event_type, value FROM (
          SELECT user_id, event_id, event_type, value,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events
        ) WHERE rn = 1
    """,
    "q_tumbling_window": """
        SELECT date_trunc('hour', ts) AS hour, count(*) AS cnt,
               round(sum(value), 2) AS sum_value
        FROM events GROUP BY 1
    """,
    "q_rollup": """
        SELECT r_name, n_name, count(*) AS cnt
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
    """,
}
