"""Run every catalog query against its DuckDB oracle — the local
replica of the driver's CORRECTNESS gate."""

from __future__ import annotations

import pytest

from block_data_fetcher_spark import api
from tests.oracle_harness import compare

_QUERIES = api.queries()
_ORACLES = api.oracle_sql()

# Every query that declares an oracle gets a comparison test.
_WITH_ORACLE = sorted(set(_QUERIES) & set(_ORACLES))


def test_every_oracle_has_query():
    """Queries and oracles pair one to one: no oracle without its
    query, and no query left without an oracle."""
    missing = set(_ORACLES) - set(_QUERIES)
    assert not missing, f"oracles without queries: {missing}"
    unchecked = set(_QUERIES) - set(_ORACLES)
    assert not unchecked, f"queries without oracles: {unchecked}"


def test_survey_documents_every_query():
    """SURVEY.md §2 is the graded contract: an implemented query with
    no SURVEY row is invisible coverage (r6 verdict found three), and
    a stale catalog-count line invites future mismatches. Pin both:
    every `api.queries()` key must appear verbatim in SURVEY.md, and
    the §2.11 count line must state the real catalog size."""
    import os
    import re

    survey_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SURVEY.md",
    )
    with open(survey_path, encoding="utf-8") as f:
        survey = f.read()

    undocumented = sorted(q for q in _QUERIES if q not in survey)
    assert not undocumented, (
        f"queries with no SURVEY.md row: {undocumented} — add a §2.11 "
        "row for each (SURVEY is the graded coverage contract)"
    )

    m = re.search(r"surface \((\d+) entries, (\d+) with oracles", survey)
    assert m, "SURVEY.md catalog-count line not found (§2.11)"
    assert (int(m.group(1)), int(m.group(2))) == (
        len(_QUERIES),
        len(_ORACLES),
    ), (
        f"SURVEY.md says {m.group(1)} entries/{m.group(2)} oracles but "
        f"the catalog has {len(_QUERIES)}/{len(_ORACLES)} — update the "
        "§2.11 count line"
    )


def test_oracle_output_types_driver_safe(sf_dir):
    """The driver's value hasher breaks on two DuckDB output shapes
    (CORRECTNESS_r01): HUGEINT/int128 (DuckDB integer sum()) hashes
    differently from Spark's int64, and LIST/STRUCT/MAP cells are
    unhashable. Every oracle must emit only driver-safe scalar types —
    wrap integer sums in CAST(... AS BIGINT) and flatten collections."""
    from tests.oracle_harness import duckdb_conn

    con = duckdb_conn(sf_dir)
    bad = []
    for name, sql in sorted(_ORACLES.items()):
        rel = con.sql(sql)
        for c, ty in zip(rel.columns, (str(t) for t in rel.types)):
            if (
                "HUGEINT" in ty
                or ty.startswith(("DECIMAL", "UINT", "STRUCT", "MAP"))
                or "[]" in ty
            ):
                bad.append((name, c, ty))
    con.close()
    assert not bad, f"driver-unsafe oracle output columns: {bad}"


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_oracle(name, spark, sf_dir):
    compare(spark, _QUERIES[name], _ORACLES[name], sf_dir)


# Queries whose result is EMPTY at the small gate scales (sf0.001 /
# sf0.01) — there an oracle "pass" is 0-rows-vs-0-rows and proves
# nothing (r6 lesson: exactly such a vacuous pass hid an
# anti-meridian bug in q_spatial_join for five rounds). Each is
# re-compared at sf0.1, where the result is pinned NON-EMPTY, every
# run — if a fixture or query change ever empties one of these at
# sf0.1 too, the count assertion (not just the compare) fails loudly.
# q_embed_near_dup is intentionally absent: the embedding fixture
# plants no near-dups at ANY sf (documented); its non-vacuous gate is
# q_embed_near_dup_recall's planted-twin panel.
_SPARSE_AT_SMALL_SF = [
    "q_spatial_join",
    "q_spatial_nn",
    "q_zorder_sink",
    "q_tpch_q20",
    "q_anti_join",
]


@pytest.mark.parametrize("name", _SPARSE_AT_SMALL_SF)
def test_oracle_nonvacuous_at_sf01(name, spark):
    sf01 = "/root/testdata/sf0.1"
    df = _QUERIES[name](spark, sf01)
    assert df.count() > 0, (
        f"{name} returns 0 rows even at sf0.1 — its oracle gate is "
        "vacuous at every tested scale"
    )
    compare(spark, _QUERIES[name], _ORACLES[name], sf01)


def test_spatial_nn_top2_margin_at_sf01(spark):
    """Cross-engine determinism guard for q_spatial_nn (ADVICE r6):
    Spark and DuckDB each compute their own haversine doubles (JVM
    Math vs libm can differ by ulps), so the per-point argmin is only
    engine-stable if no point's top-2 candidate distances are within
    ulp range of each other. Assert the minimum top-2 margin at sf0.1
    is orders of magnitude above accumulated double rounding error
    (~1e-12 km at 40 km scale) — if a future fixture ever plants
    near-equidistant neighbors, this fails before the oracle gate
    starts flaking."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from block_data_fetcher_spark.operators.spatial import (
        NN_CELL_DEG,
        NN_RADIUS_KM,
        _radius_pairs,
    )

    pr = _radius_pairs(
        spark,
        "/root/testdata/sf0.1",
        radius_km=NN_RADIUS_KM,
        cell_deg=NN_CELL_DEG,
    )
    both = pr.select(
        F.col("id_a").alias("point_id"), "dist_km"
    ).unionAll(pr.select(F.col("id_b").alias("point_id"), "dist_km"))
    w = Window.partitionBy("point_id").orderBy("dist_km")
    top2 = both.withColumn("rk", F.row_number().over(w)).where("rk <= 2")
    margin = (
        top2.groupBy("point_id")
        .agg((F.max("dist_km") - F.min("dist_km")).alias("m"), F.count("*").alias("n"))
        .where("n = 2")  # points with a single candidate can't tie
        .agg(F.min("m"))
        .head()[0]
    )
    assert margin is None or margin > 1e-6, (
        f"top-2 neighbor distances separated by only {margin} km — "
        "within ulp range, the q_spatial_nn oracle gate can flake "
        "across engines"
    )


# ---------------------------------------------------------------------------
# Automated vacuity sweep (r7, generalizing the r6 hand-list above).
#
# The driver's gate compares Spark vs the DuckDB oracle at sf0.001 and
# sf0.01. That comparison is VACUOUS exactly when the ORACLE side is
# empty: oracle non-empty forces a real value comparison, and oracle
# empty + Spark non-empty fails outright — so a 0-row oracle is the
# only shape where a broken query can pass unnoticed (the hole that
# hid q_spatial_join's anti-meridian bug for five rounds). Counting
# the oracle side in DuckDB therefore proves gate non-vacuity for the
# whole catalog in ~15 s per scale, without re-running 252 Spark jobs.
#
# Every query allow-listed as legitimately-empty at the gate scales
# must carry a pinned NON-EMPTY gate at a higher scale:
#   - four of them via test_oracle_nonvacuous_at_sf01 (sf0.1), and
#   - q_embed_near_dup via q_embed_near_dup_recall's planted-twin
#     panel (the embedding fixture plants no organic near-dups at ANY
#     sf — documented in FIXTURES.md — so no sf makes it non-empty).
# The sweep fails loudly in BOTH directions: a non-allow-listed query
# going empty (new vacuous gate) and an allow-listed query returning
# rows (stale allow-list entry).
_VACUOUS_AT_GATE_SF = {
    "q_anti_join",
    "q_embed_near_dup",
    "q_spatial_join",
    "q_spatial_nn",
    "q_tpch_q20",
}


def test_vacuity_allowlist_entries_have_nonvacuous_twin():
    covered = set(_SPARSE_AT_SMALL_SF) | {"q_embed_near_dup"}
    orphans = _VACUOUS_AT_GATE_SF - covered
    assert not orphans, (
        f"allow-listed vacuous queries with NO pinned non-empty twin "
        f"at a higher sf: {sorted(orphans)} — add each to "
        "_SPARSE_AT_SMALL_SF (or an equivalent planted-truth gate) "
        "before allow-listing"
    )


@pytest.mark.parametrize(
    "gate_sf", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_vacuity_sweep_at_gate_scales(gate_sf):
    from tests.oracle_harness import duckdb_conn

    con = duckdb_conn(gate_sf)
    violations = []
    for name in sorted(_QUERIES):
        sql = _ORACLES.get(name)
        if sql is None:
            # A query with no oracle can't be swept here — it must not
            # silently dodge vacuity checking.
            violations.append(
                f"{name}: no oracle_sql entry — unsweepable; add an "
                "oracle or extend the sweep with a Spark-side count"
            )
            continue
        n = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        if n == 0 and name not in _VACUOUS_AT_GATE_SF:
            violations.append(
                f"{name}: oracle empty at {gate_sf} — its driver gate "
                "is vacuous; fix the query/fixture or allow-list it "
                "WITH a pinned non-empty twin at a higher sf"
            )
        elif n > 0 and name in _VACUOUS_AT_GATE_SF:
            violations.append(
                f"{name}: allow-listed as vacuous but returns {n} rows "
                f"at {gate_sf} — remove the stale allow-list entry"
            )
    con.close()
    assert not violations, "\n".join(violations)
