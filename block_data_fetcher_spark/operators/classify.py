"""Classification & labeling — the reference's signature transform
(SURVEY §2.5, ``src/etl/transform.rs:82-114``).

The reference classifies each transaction by a PRIORITY rule chain over
the set of programs it touches (DEX > NFT > Token > SOL-transfer >
ProgramInteraction > Unknown), resolving program ids through a 21-row
registry HashMap. Spark-first restatement:

- the registry is a broadcast dimension (the engine's
  :func:`..etl.transform.registry_df` builds it as a literal DataFrame);
- the rule chain is an ORDERED ``when().when().otherwise()`` —
  Catalyst preserves evaluation order, which encodes the precedence
  exactly (SURVEY §7 risk list: a join-based impl must not reorder);
- set-membership over the per-row program array uses
  ``exists()`` / ``arrays_overlap`` — codegen'd, no UDF.

The fixture analog classifies users by their event-type set with the
same shape: error > purchase > signup > else viewer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table


def classify_event_types(type_set: F.Column) -> F.Column:
    """Ordered priority when-chain over a collected set of event types —
    the fixture analog of ``classify_transaction``
    (``src/etl/transform.rs:82-114``). Order encodes precedence."""
    return (
        F.when(F.array_contains(type_set, "error"), "error_user")
        .when(F.array_contains(type_set, "purchase"), "buyer")
        .when(F.array_contains(type_set, "signup"), "new_user")
        .otherwise("viewer")
    )


def q_classify_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority classification per user (reference C1/C2/C5).

    Scale: one shuffle (groupBy user); the when-chain evaluates on the
    aggregated booleans — constant work per group."""
    ev = table(spark, sf_dir, "events")
    agg = ev.groupBy("user_id").agg(
        F.collect_set("event_type").alias("types")
    )
    return agg.select("user_id", classify_event_types(F.col("types")).alias("user_class"))


def q_label_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Human-readable label via dim join + concat (reference C3
    ``"{type} ({names})"``, ``src/etl/transform.rs:160-203``)."""
    c = table(spark, sf_dir, "customer")
    n = F.broadcast(table(spark, sf_dir, "nation"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .select("c_custkey", F.concat_ws(", ", "c_name", "n_name").alias("label"))
    )


ORACLE: dict[str, str] = {
    "q_classify_case": """
        SELECT user_id,
               CASE WHEN bool_or(event_type = 'error')    THEN 'error_user'
                    WHEN bool_or(event_type = 'purchase') THEN 'buyer'
                    WHEN bool_or(event_type = 'signup')   THEN 'new_user'
                    ELSE 'viewer' END AS user_class
        FROM events GROUP BY user_id
    """,
    "q_label_concat": """
        SELECT c_custkey, concat_ws(', ', c_name, n_name) AS label
        FROM customer JOIN nation ON c_nationkey = n_nationkey
    """,
}
