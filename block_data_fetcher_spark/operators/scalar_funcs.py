"""Scalar / aggregate function-family coverage: statistics, strings,
dates. The reference's query layer was full PostgreSQL (SURVEY §3
entry point 3), so a switching user expects the standard function
families beyond what the §2.10 operators already exercise.

All built-in expressions; oracle-parity notes inline where Spark and
DuckDB semantics could drift (rounding of order-dependent float
reductions, weekday conventions).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table


def q_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate family per event type: sample stddev /
    variance of value, and the value↔JSON-k correlation.

    Scale: all of these are algebraic (sum, sum-of-squares,
    cross-moments) — map-side partials, one shuffle of constant-size
    state per group. Rounded to 4 with the +1e-9 nudge on both sides:
    partial-merge order perturbs the last float bits.

    The JSON extraction is PROJECTED before the aggregate, not inlined
    in `corr(...)`: Corr's declarative update references its input
    expression in several moment updates and Spark does no
    common-subexpression elimination inside aggregate update
    expressions, so an inlined get_json_object is parsed multiple
    times per row (measured 14 s vs 3 s at 10M events — a 4.7×
    regression invisible at small scale)."""
    ev = table(spark, sf_dir, "events")
    ev = ev.select(
        "event_type",
        "value",
        F.get_json_object("props", "$.k").cast("double").alias("k"),
    )
    return ev.groupBy("event_type").agg(
        F.round(F.stddev_samp("value") + 1e-9, 4).alias("sd_value"),
        F.round(F.var_samp("value") + 1e-9, 4).alias("var_value"),
        F.round(F.corr(F.col("value"), F.col("k")) + 1e-9, 4).alias("corr_value_k"),
    )


def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function family over customer names: case mapping,
    substring, length, padding, reversal, edit distance to a fixed
    pattern. Pure per-row projections — codegen'd, shuffle-free."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").cast("long").alias("name_len"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("key_padded"),
        F.reverse(F.col("c_mktsegment")).alias("seg_rev"),
        F.levenshtein(F.col("c_mktsegment"), F.lit("BUILDING")).cast("long").alias(
            "seg_dist"
        ),
    )


def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function family over orders: parts, offsets, diffs,
    month ends — grouped by order month for a bounded result.

    dayofweek is EXCLUDED deliberately: Spark numbers Sunday=1,
    DuckDB Sunday=0 — a portability trap, not a capability gap; month
    arithmetic below is convention-free."""
    od = table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return (
        od.groupBy(
            F.year(d).cast("long").alias("o_year"),
            F.month(d).cast("long").alias("o_month"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.max(F.dayofmonth(d)).cast("long").alias("max_dom"),
            F.min(F.date_add(d.cast("date"), 30)).alias("min_due_date"),
            F.max(F.last_day(d)).alias("month_end"),
            F.max(F.datediff(F.lit("2002-01-01").cast("date"), d.cast("date")))
            .cast("long")
            .alias("max_days_to_2002"),
        )
    )


def q_regexp_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex function family over document text: group extraction,
    global replacement, and a match predicate.

    Parity note: Spark's regexp_replace is global by default; DuckDB
    replaces only the first match unless the 'g' flag is passed — the
    oracle spells the flag explicitly."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_extract("text", r"^(\w+)", 1).alias("first_word"),
        F.length(F.regexp_replace("text", r"[aeiou]", "")).cast("long").alias(
            "len_novowels"
        ),
        F.col("text").rlike(r"\bdata\b").alias("mentions_data"),
    )


def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function family over embedding vectors: slicing,
    element-wise transform, sort, and rounded extrema.

    All higher-order built-ins (transform / array_sort) — JVM-side
    expression evaluation, no Python. Elements round to 4 before any
    comparison or sort so float32→double widening can't reorder.

    Output is flattened to scalar columns (positional element_at over
    the sliced/sorted arrays): the driver's value hasher can't hash
    array cells (CORRECTNESS_r01 `unhashable type: 'list'`), and
    scalars exercise the same slice/transform/sort semantics."""
    em = table(spark, sf_dir, "embeddings")
    head3 = F.transform(
        F.slice("embedding", 1, 3), lambda x: F.round(x.cast("double"), 4)
    )
    head3_sorted = F.array_sort(head3)
    rounded = F.transform(
        F.col("embedding"), lambda x: F.round(x.cast("double"), 4)
    )
    return em.select(
        "vec_id",
        F.element_at(head3, 1).alias("h1"),
        F.element_at(head3, 2).alias("h2"),
        F.element_at(head3, 3).alias("h3"),
        F.element_at(head3_sorted, 1).alias("s1"),
        F.element_at(head3_sorted, 2).alias("s2"),
        F.element_at(head3_sorted, 3).alias("s3"),
        F.array_max(rounded).alias("vmax"),
        F.array_min(rounded).alias("vmin"),
        F.size("embedding").cast("long").alias("dim"),
    )


def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map function family: per region, build a name→key map of its
    nations, then look up, count, and enumerate keys.

    The map is assembled from an aggregated entry list
    (map_from_entries ∘ collect_list) — Spark's idiom for the
    reference's in-memory program-registry HashMap
    (src/etl/transform.rs:13-31). Output columns are scalars only
    (key list joined with '|'): map- and array-typed cells neither
    compare portably across engines nor hash in the driver."""
    na = table(spark, sf_dir, "nation")
    m = F.map_from_entries(
        F.collect_list(F.struct(F.col("n_name"), F.col("n_nationkey")))
    )
    return (
        na.groupBy("n_regionkey")
        .agg(m.alias("m"))
        .select(
            "n_regionkey",
            F.element_at(F.col("m"), "NATION_3").alias("key_of_n3"),
            F.size("m").cast("long").alias("n_entries"),
            F.array_join(F.array_sort(F.map_keys("m")), "|").alias("names_sorted"),
        )
    )


def q_conditional_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional scalar family over customers: least/greatest,
    nullif, two-branch null defaulting (nvl2), all codegen'd
    per-row projections."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.round(F.least(F.col("c_acctbal"), F.lit(5000.0)), 2).alias("bal_capped"),
        F.round(F.greatest(F.col("c_acctbal"), F.lit(0.0)), 2).alias("bal_floor"),
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg_or_null"),
        F.when(F.col("c_acctbal") > 0, F.lit("funded"))
        .otherwise(F.lit("unfunded"))
        .alias("funding"),
    )


def q_try_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe expression family (`try_divide` / `try_cast` /
    `try_add`): NULL instead of raise on divide-by-zero, bad casts,
    and overflow — the per-row guards a permissive ingest keeps in
    ANSI mode (the engine's sessions run ANSI-on, Spark 4's default,
    so un-guarded expressions would FAIL the job; these are the
    sanctioned escape hatches).

    The oracle spells the same semantics portably: x / nullif(y, 0)
    and try_cast."""
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        (
            F.round(F.try_divide(F.col("value"), F.col("user_id") % 5), 4) + 0.0
        ).alias("per_bucket"),
        F.expr(
            "try_cast(get_json_object(props, '$.retries') AS BIGINT)"
        ).alias("retries"),
        F.try_add(F.col("event_id"), F.lit(1)).alias("next_id"),
    )


ORACLE_TRY = """
    SELECT event_id,
           round(value / nullif(user_id % 5, 0), 4) + 0.0 AS per_bucket,
           try_cast(json_extract_string(props, '$.retries') AS BIGINT) AS retries,
           event_id + 1 AS next_id
    FROM events
"""


def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (SQL LISTAGG / string_agg): the
    comma-joined nation list per region plus the member count.

    Spark has no ordered string_agg aggregate; the deterministic
    spelling is collect_list → array_sort → concat_ws — the collect
    stays bounded because the grouped values are dimension-sized (the
    operator contract: string-agg output must be display-scale; an
    unbounded group would belong in an array column, not a string).
    One shuffle, map-side partial collect."""
    n = table(spark, sf_dir, "nation")
    r = F.broadcast(table(spark, sf_dir, "region"))
    return (
        n.join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("n_name"))).alias(
                "nations"
            ),
            F.count("*").alias("n_nations"),
        )
    )


def q_grouped_agg_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom AGGREGATE in Python — the GROUPED_AGG pandas_udf leg of
    the UDF taxonomy (scalar pandas_udf: similarity gemm; grouped map
    + state: streaming rollups; cogroup: merge_asof; table function:
    q_udtf_milestones): a weighted LOWER MEDIAN per event type,
    weights w = event_id % 7 + 1, defined as the smallest value whose
    cumulative weight reaches half the total — integer-exact, so the
    DuckDB oracle reproduces it with a window cumsum. The UDF receives
    each group's columns as Arrow-backed pandas Series (one vectorized
    numpy pass per group, no per-row Python), and the aggregate is
    evaluated group-at-a-time after the regular hash exchange.

    Scale honesty: unlike algebraic aggregates this holds ONE GROUP's
    rows in memory — the documented GROUPED_AGG contract. Use it for
    group-bounded statistics (a type's events fit an executor); the
    mergeable-histogram quantile (q_quantile_merge) is the unbounded
    alternative. Group-CARDINALITY floor (r8 VERDICT nit 2): the hash
    exchange parallelizes at most |groups| ways, so with the fixture's
    5 event types the stage runs ≤5 tasks regardless of cluster size —
    acceptable only because each group's work is one vectorized numpy
    pass. The operator contract is therefore two-sided: each group's
    rows fit an executor (upper bound) AND |groups| ≳ cores for the
    exchange to use the cluster at all (lower bound). A 5-group key
    over 100 TB fails the first bound long before the second matters;
    both routes lead to q_quantile_merge. Pinned by
    tests/test_plans.py::test_grouped_agg_udf_group_cardinality."""
    from pyspark.sql.functions import pandas_udf

    # Series, Series -> scalar hints make it GROUPED_AGG; pandas_udf
    # resolves the string hints against this module's `pd`
    @pandas_udf("double")
    def weighted_lower_median(v: pd.Series, w: pd.Series) -> float:
        import numpy as np

        order = np.lexsort((v.values,))
        vv, ww = v.values[order], w.values[order]
        cum = ww.cumsum()
        total = cum[-1]
        idx = int(np.searchsorted(cum * 2, total, side="left"))
        return float(vv[min(idx, len(vv) - 1)])

    ev = table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        ((F.col("event_id") % 7) + 1).cast("long").alias("w"),
    )
    # Spark forbids mixing a GROUPED_AGG pandas UDF with non-pandas
    # aggregates in one agg (INVALID_PANDAS_UDF_PLACEMENT) — the
    # builtin total rides a separate rollup joined on the 5-row key
    med = ev.groupBy("event_type").agg(
        weighted_lower_median("value", "w").alias("w_median")
    )
    tot = ev.groupBy("event_type").agg(F.sum("w").alias("total_w"))
    return med.join(tot, "event_type")


def q_udtf_milestones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 user-defined TABLE function) — the 1→N
    row-generating leg of the UDF taxonomy: for each event type's
    (count, total) summary row, emit three milestone rows (25/50/75%
    of total). The UDTF runs over the 5-row AGGREGATED summary, never
    raw data — per-row Python is only admissible at dimension scale
    (§2.8 policy); the data-scale fan-outs use mapInPandas/explode."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="event_type string, milestone int, target double")
    class Milestones:
        def eval(self, event_type: str, total: float):
            for pct in (25, 50, 75):
                yield event_type, pct, round(total * pct / 100.0 + 1e-9, 2)

    summary = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.round(F.sum("value") + F.lit(1e-9), 2).alias("total"))
    )
    spark.udtf.register("milestones_udtf", Milestones)
    summary.createOrReplaceTempView("type_summary")
    return spark.sql(
        """
        SELECT m.event_type, m.milestone, m.target
        FROM type_summary t,
             LATERAL milestones_udtf(t.event_type, t.total) m
        """
    )


ORACLE: dict[str, str] = {
    "q_grouped_agg_udf": """
        WITH w AS (
          SELECT event_type, value, event_id % 7 + 1 AS w FROM events
        ), cum AS (
          SELECT event_type, value,
                 sum(w) OVER (PARTITION BY event_type ORDER BY value
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS cw,
                 sum(w) OVER (PARTITION BY event_type) AS total
          FROM w
        )
        SELECT event_type,
               min(CASE WHEN cw * 2 >= total THEN value END) AS w_median,
               CAST(max(total) AS BIGINT) AS total_w
        FROM cum GROUP BY event_type
    """,
    "q_udtf_milestones": """
        WITH s AS (
          SELECT event_type, round(sum(value) + 1e-9, 2) AS total
          FROM events GROUP BY event_type
        )
        SELECT s.event_type, m.milestone,
               round(s.total * m.milestone / 100.0 + 1e-9, 2) AS target
        FROM s CROSS JOIN (VALUES (25), (50), (75)) AS m(milestone)
    """,
    "q_try_funcs": ORACLE_TRY,
    "q_string_agg": """
        SELECT r.r_name,
               string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
               count(*) AS n_nations
        FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
    """,
    "q_regexp_funcs": """
        SELECT doc_id,
               regexp_extract(text, '^(\\w+)', 1) AS first_word,
               CAST(length(regexp_replace(text, '[aeiou]', '', 'g')) AS BIGINT)
                 AS len_novowels,
               regexp_matches(text, '\\bdata\\b') AS mentions_data
        FROM documents
    """,
    "q_array_funcs": """
        WITH h AS (
          SELECT vec_id,
                 list_transform(embedding[1:3],
                                x -> round(CAST(x AS DOUBLE), 4)) AS head3,
                 list_sort(list_transform(embedding[1:3],
                                          x -> round(CAST(x AS DOUBLE), 4)))
                   AS head3_sorted,
                 list_max(list_transform(embedding,
                                         x -> round(CAST(x AS DOUBLE), 4))) AS vmax,
                 list_min(list_transform(embedding,
                                         x -> round(CAST(x AS DOUBLE), 4))) AS vmin,
                 CAST(len(embedding) AS BIGINT) AS dim
          FROM embeddings
        )
        SELECT vec_id,
               head3[1] AS h1, head3[2] AS h2, head3[3] AS h3,
               head3_sorted[1] AS s1, head3_sorted[2] AS s2,
               head3_sorted[3] AS s3,
               vmax, vmin, dim
        FROM h
    """,
    "q_map_funcs": """
        WITH m AS (
          SELECT n_regionkey,
                 map_from_entries(list({'k': n_name, 'v': n_nationkey})) AS m
          FROM nation GROUP BY n_regionkey
        )
        SELECT n_regionkey,
               -- DuckDB map extraction yields a LIST (empty on miss);
               -- [1] unwraps it to value-or-NULL, matching Spark's
               -- element_at(map, key)
               m['NATION_3'][1] AS key_of_n3,
               CAST(cardinality(m) AS BIGINT) AS n_entries,
               array_to_string(list_sort(map_keys(m)), '|') AS names_sorted
        FROM m
    """,
    "q_conditional_funcs": """
        SELECT c_custkey,
               round(least(c_acctbal, 5000.0), 2) AS bal_capped,
               round(greatest(c_acctbal, 0.0), 2) AS bal_floor,
               nullif(c_mktsegment, 'BUILDING') AS seg_or_null,
               CASE WHEN c_acctbal > 0 THEN 'funded'
                    ELSE 'unfunded' END AS funding
        FROM customer
    """,
    "q_stats_agg": """
        SELECT event_type,
               round(stddev_samp(value) + 1e-9, 4) AS sd_value,
               round(var_samp(value) + 1e-9, 4) AS var_value,
               round(corr(value, CAST(json_extract_string(props, '$.k') AS DOUBLE)) + 1e-9, 4)
                 AS corr_value_k
        FROM events GROUP BY event_type
    """,
    "q_string_funcs": """
        SELECT c_custkey,
               upper(c_name) AS name_upper,
               substring(c_name, 1, 8) AS name_prefix,
               CAST(length(c_name) AS BIGINT) AS name_len,
               lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_padded,
               reverse(c_mktsegment) AS seg_rev,
               CAST(levenshtein(c_mktsegment, 'BUILDING') AS BIGINT) AS seg_dist
        FROM customer
    """,
    "q_date_funcs": """
        SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
               CAST(month(o_orderdate) AS BIGINT) AS o_month,
               count(*) AS n_orders,
               CAST(max(day(o_orderdate)) AS BIGINT) AS max_dom,
               min(CAST(o_orderdate AS DATE) + 30) AS min_due_date,
               max(last_day(CAST(o_orderdate AS DATE))) AS month_end,
               CAST(max(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01')) AS BIGINT)
                 AS max_days_to_2002
        FROM orders GROUP BY 1, 2
    """,
}
