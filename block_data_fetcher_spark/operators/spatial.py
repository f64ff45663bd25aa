"""Geospatial operators: grid-blocked radius join + density rollup.

The reference has no spatial surface; a complete analytics engine
needs one, and the distributed shape matters at 100 TB: a naive
radius self-join is O(n²) — the scalable plan is GRID BLOCKING
(geohash-style): bucket points into fixed-degree cells, emit each
point into its own cell plus the 3×3 neighbor stencil on ONE side of
the join, equi-join on cell id, then verify the exact haversine
distance. Every qualifying pair is guaranteed to be found as long as
the cell edge ≥ the search radius' angular extent — the same
bound-the-blocking-error argument as the LSH band/pigeonhole designs
elsewhere in this engine.

Latitude guard: longitude degrees shrink by cos(lat), so the angular
extent of a fixed-km radius diverges toward the poles. The synthetic
corpus pins |lat| ≤ 60° where 50 km ≤ 0.9° of longitude; production
would switch to a polar-cap special case or an S2/H3 cell scheme
(same join shape, different cell function).

Determinism: coordinates are integer-derived from customer keys, and
both engines evaluate the IDENTICAL haversine expression tree on IEEE
doubles, so the pair sets (raw-double compare) and rounded distances
hash-match exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table

EARTH_R_KM = 6371.0
RADIUS_KM = 50.0
CELL_DEG = 1.0  # >= 50km angular extent at |lat| <= 60


def synth_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic point-of-presence per customer: integer-derived
    lat in [-60, 60), lon in [-180, 180)."""
    c = table(spark, sf_dir, "customer").select("c_custkey")
    lat = ((F.col("c_custkey") * 7919) % 12000) / 100.0 - 60.0
    lon = ((F.col("c_custkey") * 104729) % 36000) / 100.0 - 180.0
    return c.select(
        F.col("c_custkey").alias("point_id"),
        lat.alias("lat"),
        lon.alias("lon"),
    )


def haversine_km(
    lat1: Column, lon1: Column, lat2: Column, lon2: Column
) -> Column:
    """Great-circle distance, written as the exact expression tree the
    oracle SQL mirrors (operand order preserved for IEEE equality)."""
    dphi = F.radians(lat2 - lat1) / 2
    dlmb = F.radians(lon2 - lon1) / 2
    a = F.sin(dphi) * F.sin(dphi) + F.cos(F.radians(lat1)) * F.cos(
        F.radians(lat2)
    ) * F.sin(dlmb) * F.sin(dlmb)
    return 2 * EARTH_R_KM * F.asin(F.sqrt(a))


# Half of the 3×3 neighbor stencil: exactly ONE of each ±offset pair
# (plus the home cell). Every unordered pair of Chebyshev-adjacent
# cells {c, c+off} is covered in exactly one direction, so each
# qualifying point pair is generated ONCE — the build side replicates
# 5× instead of 9×, and no post-join dedup of mirrored pairs is
# needed (the sf10 proof run measured the full-stencil variant at
# 48.8× the sf1 wall; the pair join's shuffle and candidate count
# both halve with the symmetric stencil).
_HALF_STENCIL = ((0, 0), (0, 1), (1, -1), (1, 0), (1, 1))


def _radius_pairs(
    spark: SparkSession,
    sf_dir: str,
    points: DataFrame | None = None,
    radius_km: float = RADIUS_KM,
    cell_deg: float = CELL_DEG,
    keep_coords: bool = False,
) -> DataFrame:
    """All point pairs within ``radius_km``, normalized to
    id_a < id_b, with the RAW haversine double (callers round for
    output). Grid blocking: bucket into ``cell_deg``° cells,
    replicate the build side into the half stencil, equi-join on cell
    id, bounding-box prune, exact haversine verify.
    Guaranteed-complete because the cell edge exceeds the radius'
    angular extent at |lat| ≤ 60 in both axes (callers must pick
    cell_deg ≥ radius_km / (110 · cos 60°) ≈ radius_km / 55),
    one of {c→c', c'→c} is always in the half stencil, and the
    longitude cell index WRAPS modulo 360: points at lon ±179.97° are
    ~4 km apart across the anti-meridian, so cells −180 and +179 are
    adjacent on the sphere (caught round 6: the unwrapped grid missed
    850 real pairs at sf1 — latent until a scale with pairs near the
    seam, since the driver's sf0.01 fixture has no 50 km pairs at
    all). Latitude needs no wrap (|lat| ≤ 60 keeps cells off the
    poles)."""
    import math

    pts = points if points is not None else synth_points(spark, sf_dir)
    n_lon_cells = int(round(360.0 / cell_deg))
    # cell_deg must tile the 360° circle EXACTLY: a non-divisor (e.g.
    # 0.7°) leaves a narrower seam cell at the anti-meridian whose
    # edge can undercut the radius' angular extent, silently missing
    # pairs across the seam (ADVICE r6) — fail loudly instead.
    if not math.isclose(n_lon_cells * cell_deg, 360.0, rel_tol=0, abs_tol=1e-9):
        raise ValueError(
            f"cell_deg={cell_deg} does not divide 360° evenly "
            f"({n_lon_cells} cells × {cell_deg}° = {n_lon_cells * cell_deg}°); "
            "the anti-meridian seam cell would be narrower than the "
            "radius requires — pick a divisor of 360"
        )
    half_turn = n_lon_cells // 2
    raw_cx = F.floor(F.col("lon") / cell_deg).cast("long")
    cy = F.floor(F.col("lat") / cell_deg).cast("long")
    # probe side: home cell only (lon index wrapped to [0, n_cells))
    probe = pts.select(
        F.col("point_id").alias("id_b"),
        F.col("lat").alias("lat_b"),
        F.col("lon").alias("lon_b"),
        F.pmod(raw_cx + F.lit(half_turn), F.lit(n_lon_cells)).alias("cx"),
        cy.alias("cy"),
    )
    # build side: replicate into the HALF stencil; home marks the
    # (0,0) copy, whose within-cell pairs need the id-order filter
    # (they appear in both orders; cross-cell pairs appear once)
    offs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(dx).alias("dx"),
                    F.lit(dy).alias("dy"),
                    F.lit(dx == 0 and dy == 0).alias("home"),
                )
                for dx, dy in _HALF_STENCIL
            ]
        )
    ).alias("o")
    build = pts.select(
        F.col("point_id").alias("id_a"),
        F.col("lat").alias("lat_a"),
        F.col("lon").alias("lon_a"),
        raw_cx.alias("bx"),
        cy.alias("by"),
        offs,
    ).select(
        "id_a",
        "lat_a",
        "lon_a",
        F.pmod(
            F.col("bx") + F.col("o.dx") + F.lit(half_turn), F.lit(n_lon_cells)
        ).alias("cx"),
        (F.col("by") + F.col("o.dy")).alias("cy"),
        F.col("o.home").alias("home"),
    )
    cand = build.join(probe, ["cx", "cy"]).where(
        F.when(F.col("home"), F.col("id_a") < F.col("id_b")).otherwise(
            F.col("id_a") != F.col("id_b")
        )
    )
    # Sound bounding-box prefilter before the trig: great-circle km ≥
    # 110.0 × |Δlat°| (meridian arc is ≥110.57 km/deg) and ≥ 110.0 ×
    # cos(max |lat|) × |Δlon°| (parallel arc shrinks by cos lat), so a
    # pair failing either cheap comparison can never pass the 50 km
    # haversine — candidates are pruned with 2 multiplies instead of
    # 5 trig calls. Physical-only: the emitted pair set is unchanged
    # (the sf10 proof measured ~4× fewer haversine evaluations; the
    # surviving ~quadratic growth is the OUTPUT pair count itself,
    # which grows with density² at fixed radius by definition —
    # densify the world 10× and there ARE ~100× more pairs to emit;
    # no plan outruns its own output size. The bounded-output scale
    # query is q_spatial_nn below).
    lat_gap_ok = F.abs(F.col("lat_a") - F.col("lat_b")) * 110.0 <= F.lit(
        radius_km
    )
    cos_max = F.cos(
        F.radians(F.greatest(F.abs(F.col("lat_a")), F.abs(F.col("lat_b"))))
    )
    # wrap-aware lon gap: a pair straddling the anti-meridian has
    # |Δlon| ≈ 360 but a tiny great-circle separation — the true
    # angular gap is min(|Δ|, 360 − |Δ|)
    lon_gap = F.abs(F.col("lon_a") - F.col("lon_b"))
    lon_gap_ok = (
        F.least(lon_gap, F.lit(360.0) - lon_gap) * 110.0 * cos_max
        <= F.lit(radius_km)
    )
    # Cross-cell survivors may arrive with id_a > id_b; the oracle
    # always evaluates haversine(lower-id, higher-id), and libm trig
    # is not guaranteed bit-symmetric under operand swap — so SWAP
    # FIRST, then evaluate the distance with the exact operand order
    # the oracle uses.
    lo_is_a = F.col("id_a") < F.col("id_b")
    lat1 = F.when(lo_is_a, F.col("lat_a")).otherwise(F.col("lat_b"))
    lon1 = F.when(lo_is_a, F.col("lon_a")).otherwise(F.col("lon_b"))
    lat2 = F.when(lo_is_a, F.col("lat_b")).otherwise(F.col("lat_a"))
    lon2 = F.when(lo_is_a, F.col("lon_b")).otherwise(F.col("lon_a"))
    cols = [
        F.least(F.col("id_a"), F.col("id_b")).alias("id_a"),
        F.greatest(F.col("id_a"), F.col("id_b")).alias("id_b"),
        haversine_km(lat1, lon1, lat2, lon2).alias("dist_km"),
    ]
    if keep_coords:
        # lower-id side's coords first, matching dist_km's operand
        # order; callers re-evaluating the swapped orientation get a
        # pad over the radius so boundary-straddling ulps survive to
        # their own exact per-orientation filter (an ulp at 50 km is
        # ~1e-14 km; the pad is 12 orders of magnitude safer)
        cols += [
            lat1.alias("lat_a"),
            lon1.alias("lon_a"),
            lat2.alias("lat_b"),
            lon2.alias("lon_b"),
        ]
        pad = 1e-6
    else:
        pad = 0.0
    return (
        cand.where(lat_gap_ok & lon_gap_ok)
        .select(*cols)
        .where(F.col("dist_km") <= F.lit(radius_km + pad))
    )


def _radius_pairs_collapsed(
    spark: SparkSession,
    sf_dir: str,
    points: DataFrame | None = None,
) -> DataFrame:
    """Same output as _radius_pairs — every id pair within
    ``RADIUS_KM``, normalized to id_a < id_b, raw haversine double —
    but with the geometry COLLAPSED to distinct coordinates first
    (r7): replicated corpora stack many points per position (sf10:
    1.5M points on 36k positions, ~42 deep), so the per-id-pair plan
    evaluates the same trig k_a·k_b times per position pair and its
    candidate stage dwarfs the output. Here:

    * positions = distinct (lat, lon) — the grid/stencil/bounding-box/
      haversine machinery runs over |positions| rows, evaluating each
      position pair's distance ONCE in BOTH operand orders (the
      oracle computes hav(lower-id coords first) per id pair, and a
      position pair's expansion holds id pairs of both orientations;
      swapped-slot trig is not guaranteed bit-identical, so both
      doubles ride along and the expansion picks per id pair);
    * within-position pairs are emitted by a coords-equi self-join at
      distance exactly 0.0 (bit-exact in both engines, no trig);
    * cross-position pairs expand by two coords-equi joins back to
      the point set — output-bound work, which is the irreducible
      cost of a fixed-radius pair enumeration.

    Trig/candidate work drops from Σ k_a·k_b (≈5·10⁸ bounding-box
    candidates at sf10) to one pass over position pairs (≈10⁵), and
    the remainder is the output itself."""
    pts = points if points is not None else synth_points(spark, sf_dir)
    pos = pts.groupBy("lat", "lon").agg(
        F.min("point_id").alias("point_id"), F.count("*").alias("n_at_pos")
    )
    # position-level pair machinery: reuse _radius_pairs' stencil on
    # one representative per position, but carry BOTH coordinate sets
    # through (its output drops them), so run the stencil inline here
    # via the rep-id pair set joined back to position coords.
    reps = pos.select("point_id", "lat", "lon")
    rep_pairs = _radius_pairs(spark, sf_dir, points=reps, keep_coords=True)
    # rep_pairs: (id_a, id_b, lat_a, lon_a, lat_b, lon_b, dist_km)
    # where dist_km = hav(side-of-lower-rep first) and sides are
    # normalized so (lat_a, lon_a) is the LOWER rep's position. The
    # swapped-order double for opposite-orientation id pairs:
    d_ba = haversine_km(
        F.col("lat_b"), F.col("lon_b"), F.col("lat_a"), F.col("lon_a")
    )
    ppairs = rep_pairs.select(
        "lat_a",
        "lon_a",
        "lat_b",
        "lon_b",
        F.col("dist_km").alias("d_ab"),
        d_ba.alias("d_ba"),
    ).where(
        # keep the position pair if EITHER orientation's double passes
        # (they can straddle the boundary by an ulp — _radius_pairs
        # over-collects by a pad for exactly this; the per-id-pair
        # filter below is what the oracle sees)
        (F.col("d_ab") <= F.lit(RADIUS_KM))
        | (F.col("d_ba") <= F.lit(RADIUS_KM))
    )
    # expansion: all points at side A × all points at side B.
    # |positions within radius| is output/(k_a·k_b)-sized — broadcast
    # it through the first join when small; Catalyst/AQE decides.
    x = pts.select(
        F.col("point_id").alias("xid"),
        F.col("lat").alias("lat_a"),
        F.col("lon").alias("lon_a"),
    )
    y = pts.select(
        F.col("point_id").alias("yid"),
        F.col("lat").alias("lat_b"),
        F.col("lon").alias("lon_b"),
    )
    cross = (
        ppairs.join(x, ["lat_a", "lon_a"])
        .join(y, ["lat_b", "lon_b"])
        .select(
            F.least(F.col("xid"), F.col("yid")).alias("id_a"),
            F.greatest(F.col("xid"), F.col("yid")).alias("id_b"),
            # the oracle evaluates hav(lower-id coords first): lower
            # id on side A → d_ab's operand order, else d_ba's
            F.when(F.col("xid") < F.col("yid"), F.col("d_ab"))
            .otherwise(F.col("d_ba"))
            .alias("dist_km"),
        )
        .where(F.col("dist_km") <= F.lit(RADIUS_KM))
    )
    # within-position pairs: distance exactly 0.0, no trig; the equi
    # self-join on coords only fans out on stacked positions, where
    # its product IS the output
    stacked = pts.join(
        pos.where(F.col("n_at_pos") >= 2).select("lat", "lon"),
        ["lat", "lon"],
    )
    a = stacked.select(
        F.col("point_id").alias("id_a"), "lat", "lon"
    )
    b = stacked.select(
        F.col("point_id").alias("id_b"), "lat", "lon"
    )
    within = (
        a.join(b, ["lat", "lon"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(0.0).alias("dist_km"))
    )
    return cross.unionAll(within)


def q_spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius self-join: all customer-point pairs within 50 km, found
    by 1°-cell grid blocking with a HALF 3×3 neighbor stencil (each
    unordered cell pair covered exactly once — see _radius_pairs)
    over DISTINCT positions, then expanded back to id pairs
    (_radius_pairs_collapsed: geometry once per position pair,
    within-position stacks at exact 0.0) — the standard distributed
    spatial join with duplicate-coordinate collapse. The DuckDB
    oracle runs the O(n²) all-pairs join — the blocked plan must
    return exactly the same pairs. NB the OUTPUT of a fixed-radius
    all-pairs query is itself quadratic in density (fixed fixture
    world ⇒ ~100× pairs at 10× rows); q_spatial_nn is the
    O(N)-output production shape."""
    return _radius_pairs_collapsed(spark, sf_dir).select(
        "id_a",
        "id_b",
        (F.round(F.col("dist_km") + F.lit(1e-9), 3) + 0.0).alias("dist_km"),
    )


NN_RADIUS_KM = 40.0  # tighter search radius for the per-point NN query
# (40, not 25: the congruential fixture lattice has min pair distance
# ~31 km at sf0.1 — a 25 km radius returned ZERO rows at every tested
# sf, making the oracle gate vacuous; 40 km yields ~2.4k pairs at
# sf0.1, and tests/test_oracle.py pins the non-vacuity)
NN_CELL_DEG = 0.75  # ≥ 40 km angular extent at |lat| ≤ 60 (40/55.66 ≈ 0.72°)

# Fixed-degree cell ladder for the adaptive phase-1 radius: every entry
# divides 360° evenly (the anti-meridian wrap requirement _radius_pairs
# asserts) and supports radii up to 55·cell_deg km at |lat| ≤ 60.
_NN_CELL_LADDER = (
    0.01, 0.025, 0.05, 0.1, 0.15, 0.2, 0.25, 0.3, 0.375, 0.5, 0.75,
)
# Spherical area of the fixture's lat band |lat| ≤ 60°, full longitude:
# 2πR² · (sin 60° − sin −60°) ≈ 4.417e8 km².
_WORLD_AREA_KM2 = 441_672_943.0
_NN_TARGET_PTS_PER_DISK = 3.0  # aim for ~3 candidates inside the r0 disk


def _nn_phase1(n_points: int) -> tuple[float, float] | None:
    """Pick the phase-1 (radius_km, cell_deg) for the two-phase NN
    search, or None when the corpus is sparse enough that the full
    40 km search is already cheap.

    r0 is sized so a Poisson-uniform corpus puts ~3 points inside the
    r0-disk (r0 = sqrt(k·A/(π·N))) — dense worlds get a small first
    ring, so per-point candidate work stays O(1) as density grows
    instead of scaling with the 40 km disk's occupancy. The cell comes
    from a fixed ladder of 360°-divisors with 55·cell ≥ r0 (the
    completeness bound at |lat| ≤ 60)."""
    import math

    if n_points <= 0:
        return None
    r0 = math.sqrt(
        _NN_TARGET_PTS_PER_DISK * _WORLD_AREA_KM2 / (math.pi * n_points)
    )
    if r0 >= NN_RADIUS_KM:
        return None
    for cell in _NN_CELL_LADDER:
        if 55.0 * cell >= r0:
            return (max(r0, 1e-3), cell)
    return None  # r0 > 41.25 km: ladder exhausted ⇒ single-phase


def _bipartite_nn_candidates(
    pts: DataFrame,
    probes: DataFrame,
    radius_km: float,
    cell_deg: float,
) -> DataFrame:
    """(point_id, nn_id, dist_km) candidates: for every probe point,
    all OTHER points within ``radius_km``, via the FULL 3×3 stencil on
    the (small) probe side — the bipartite analog of _radius_pairs'
    half-stencil self-join, used by q_spatial_nn's escalation phase
    where |probes| ≪ |pts|. The haversine is evaluated with the
    lower-id operands first, exactly the operand order the oracle and
    the phase-1 pair set use, so a pair's distance double is identical
    no matter which phase found it."""
    import math

    n_lon_cells = int(round(360.0 / cell_deg))
    if not math.isclose(n_lon_cells * cell_deg, 360.0, rel_tol=0, abs_tol=1e-9):
        raise ValueError(f"cell_deg={cell_deg} does not divide 360° evenly")
    half_turn = n_lon_cells // 2
    raw_cx = F.floor(F.col("lon") / cell_deg).cast("long")
    cy = F.floor(F.col("lat") / cell_deg).cast("long")
    others = pts.select(
        F.col("point_id").alias("nn_id"),
        F.col("lat").alias("lat_b"),
        F.col("lon").alias("lon_b"),
        F.pmod(raw_cx + F.lit(half_turn), F.lit(n_lon_cells)).alias("cx"),
        cy.alias("cy"),
    )
    offs = F.explode(
        F.array(
            *[
                F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
            ]
        )
    ).alias("o")
    probe_cells = probes.select(
        F.col("point_id"),
        F.col("lat").alias("lat_a"),
        F.col("lon").alias("lon_a"),
        raw_cx.alias("bx"),
        cy.alias("by"),
        offs,
    ).select(
        "point_id",
        "lat_a",
        "lon_a",
        F.pmod(
            F.col("bx") + F.col("o.dx") + F.lit(half_turn), F.lit(n_lon_cells)
        ).alias("cx"),
        (F.col("by") + F.col("o.dy")).alias("cy"),
    )
    cand = probe_cells.join(others, ["cx", "cy"]).where(
        F.col("point_id") != F.col("nn_id")
    )
    lat_gap_ok = F.abs(F.col("lat_a") - F.col("lat_b")) * 110.0 <= F.lit(
        radius_km
    )
    cos_max = F.cos(
        F.radians(F.greatest(F.abs(F.col("lat_a")), F.abs(F.col("lat_b"))))
    )
    lon_gap = F.abs(F.col("lon_a") - F.col("lon_b"))
    lon_gap_ok = (
        F.least(lon_gap, F.lit(360.0) - lon_gap) * 110.0 * cos_max
        <= F.lit(radius_km)
    )
    lo_is_a = F.col("point_id") < F.col("nn_id")
    lat1 = F.when(lo_is_a, F.col("lat_a")).otherwise(F.col("lat_b"))
    lon1 = F.when(lo_is_a, F.col("lon_a")).otherwise(F.col("lon_b"))
    lat2 = F.when(lo_is_a, F.col("lat_b")).otherwise(F.col("lat_a"))
    lon2 = F.when(lo_is_a, F.col("lon_b")).otherwise(F.col("lon_a"))
    return (
        cand.where(lat_gap_ok & lon_gap_ok)
        .select(
            "point_id",
            "nn_id",
            haversine_km(lat1, lon1, lat2, lon2).alias("dist_km"),
        )
        .where(F.col("dist_km") <= F.lit(radius_km))
    )


def _min_struct(cand: DataFrame) -> DataFrame:
    """min(dist, nn_id) per point over (point_id, nn_id, dist_km)
    candidates — a partial-aggregatable reduction, so the shuffle
    carries |points| rows, not |candidates|."""
    return cand.groupBy("point_id").agg(
        F.min(F.struct(F.col("dist_km"), F.col("nn_id"))).alias("b")
    )


def q_spatial_nn(
    spark: SparkSession,
    sf_dir: str,
    phase1: tuple[float, float] | None | str = "auto",
    points: DataFrame | None = None,
) -> DataFrame:
    """Nearest neighbor within 40 km per point — the bounded-output
    spatial query a pipeline actually runs at 100 TB (q_spatial_join's
    full pair enumeration grows with density²; this output is ≤ one
    row per point no matter how dense the world gets).

    Two structural facts drive the r7 plan (the r6 single-phase pair
    enumeration measured 22× the sf1 wall for 10× rows at sf10):

    1. EXACT CO-LOCATION FAST PATH. Replicated corpora stack many
       points on identical coordinates (the sf10 fixture holds 1.5M
       points on 36k distinct positions, ~42 deep — and production
       data has the same shape: devices sharing a cell tower, events
       geocoded to a city centroid). Every such point's NN is a
       co-located twin at distance EXACTLY 0.0 — haversine of
       identical doubles is 0.0 bit-exactly in every engine (sin(0)=0,
       asin(0)=0), so no trig and no cross-engine ulp risk — with the
       tie broken to the lowest other id at the position. One window
       over (lat, lon) resolves them all; the k²-per-position pair
       enumeration (≈60M candidates at sf10, any ring size) vanishes.
    2. DENSITY-ADAPTIVE two-phase ring search for the remaining
       singleton-position probes, bipartite against the WHOLE corpus:
       phase 1 sizes a first ring r0 from corpus density so the
       r0-disk holds ~3 points (r0 = sqrt(3·A/(π·N)), cell from a
       360°-divisor ladder with 55·cell ≥ r0). A probe with any
       phase-1 candidate is FINAL (its true NN ≤ r0 < 40 and the r0
       candidate set is complete at ≤ r0); only the rest — e^(−3) ≈ 5%
       on a Poisson-uniform corpus — escalate to the full 40 km
       search. Per-probe candidate work is therefore O(1) in density,
       the curve a 100 TB-dense world needs, while a sparse corpus
       (r0 ≥ 40 km: every gate sf) keeps the single full-radius pass.

    ``phase1``: "auto" (density-derived), None (force single-phase),
    or an explicit (radius_km, cell_deg) — tests force all paths on
    the same fixture and assert identical results. ``points``
    overrides the synthetic point set (tests inject co-located
    fixtures).

    min-struct (dist, nn_id) ties break toward the lower neighbor id.
    Cross-engine determinism caveat (ADVICE r6): each engine computes
    its OWN haversine doubles (JVM Math vs libm can differ by ulps),
    so two near-equidistant CROSS-position neighbors could in
    principle rank differently per engine; WITHIN each engine the
    ranking is consistent because a candidate's distance is evaluated
    with the lower-id operands first — in BOTH phases, matching the
    oracle's a.point_id < b.point_id evaluation — and co-located
    candidates are exact 0.0 in both engines. The fixture's
    inter-point spacing makes a cross-engine flip astronomically
    unlikely, and the sf0.1 gate additionally asserts every point's
    top-2 neighbor distances are separated by far more than
    accumulated ulp error (tests/test_oracle.py)."""
    if phase1 == "auto":
        phase1 = _nn_phase1(_count_points(sf_dir))
    if phase1 is not None and phase1[0] >= NN_RADIUS_KM:
        # a first ring ≥ the query radius would admit neighbors beyond
        # the 40 km semantics — that's just the single phase; demand
        # the caller say so explicitly
        raise ValueError(
            f"phase-1 radius {phase1[0]} must be < {NN_RADIUS_KM} km "
            "(pass phase1=None for the single-phase search)"
        )
    pts = points if points is not None else synth_points(spark, sf_dir)
    w = (
        Window.partitionBy("lat", "lon")
        .orderBy("point_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    ranked = pts.select(
        "point_id",
        "lat",
        "lon",
        F.count("*").over(w).alias("n_at_pos"),
        F.first("point_id").over(w).alias("m1"),
        F.nth_value("point_id", 2).over(w).alias("m2"),
    )
    res0 = ranked.where(F.col("n_at_pos") >= 2).select(
        "point_id",
        F.struct(
            F.lit(0.0).alias("dist_km"),
            F.when(F.col("point_id") == F.col("m1"), F.col("m2"))
            .otherwise(F.col("m1"))
            .alias("nn_id"),
        ).alias("b"),
    )
    probes = ranked.where(F.col("n_at_pos") == 1).select(
        "point_id", "lat", "lon"
    )
    if phase1 is None:
        best = _min_struct(
            _bipartite_nn_candidates(pts, probes, NN_RADIUS_KM, NN_CELL_DEG)
        )
    else:
        r0, cell0 = phase1
        best1 = _min_struct(_bipartite_nn_candidates(pts, probes, r0, cell0))
        rest = probes.join(best1.select("point_id"), "point_id", "left_anti")
        best2 = _min_struct(
            _bipartite_nn_candidates(pts, rest, NN_RADIUS_KM, NN_CELL_DEG)
        )
        best = best1.unionAll(best2)
    return res0.unionAll(best).select(
        "point_id",
        F.col("b.nn_id").alias("nn_id"),
        (F.round(F.col("b.dist_km") + F.lit(1e-9), 3) + 0.0).alias("dist_km"),
    )


def _count_points(sf_dir: str) -> int:
    """Point count for the adaptive radius, from parquet footer
    metadata (no Spark job — the number of synth points is exactly
    |customer|). Falls back to 0 (⇒ single-phase) if the file layout
    is unexpected."""
    import os

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, "customer.parquet")
    try:
        if os.path.isdir(path):
            return sum(
                pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
                for f in os.listdir(path)
                if f.endswith(".parquet")
            )
        return pq.ParquetFile(path).metadata.num_rows
    except Exception:
        return 0


def q_geo_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-density rollup (the heatmap aggregate): points per 1° grid
    cell, top-20 densest cells with their mean position. One
    map-side-combinable aggregation over cell ids — at 100 TB the
    shuffle carries |occupied cells| rows."""
    pts = synth_points(spark, sf_dir)
    binned = pts.select(
        F.floor(F.col("lon") / CELL_DEG).cast("long").alias("cx"),
        F.floor(F.col("lat") / CELL_DEG).cast("long").alias("cy"),
        "lat",
        "lon",
    )
    return (
        binned.groupBy("cx", "cy")
        .agg(
            F.count("*").alias("n_points"),
            (F.round(F.avg("lat") + F.lit(1e-9), 4) + 0.0).alias("mean_lat"),
            (F.round(F.avg("lon") + F.lit(1e-9), 4) + 0.0).alias("mean_lon"),
        )
        .orderBy(F.desc("n_points"), F.asc("cx"), F.asc("cy"))
        .limit(20)
    )


_HAVERSINE_SQL = """
    2 * 6371.0 * asin(sqrt(
      sin(radians(b.lat - a.lat) / 2) * sin(radians(b.lat - a.lat) / 2)
      + cos(radians(a.lat)) * cos(radians(b.lat))
        * sin(radians(b.lon - a.lon) / 2) * sin(radians(b.lon - a.lon) / 2)))
"""

_POINTS_SQL = """
    SELECT c_custkey AS point_id,
           (c_custkey * 7919) % 12000 / 100.0 - 60.0 AS lat,
           (c_custkey * 104729) % 36000 / 100.0 - 180.0 AS lon
    FROM customer
"""

ORACLE: dict[str, str] = {
    "q_spatial_join": f"""
        -- brute-force O(n^2) reference for the grid-blocked join
        WITH pts AS ({_POINTS_SQL})
        SELECT a.point_id AS id_a, b.point_id AS id_b,
               round({_HAVERSINE_SQL} + 1e-9, 3) + 0.0 AS dist_km
        FROM pts a JOIN pts b ON a.point_id < b.point_id
        WHERE {_HAVERSINE_SQL} <= 50.0
    """,
    "q_spatial_nn": f"""
        -- brute-force per-point nearest-neighbor-in-radius reference
        WITH pts AS ({_POINTS_SQL}),
        pr AS (
          SELECT a.point_id AS ia, b.point_id AS ib, {_HAVERSINE_SQL} AS d
          FROM pts a JOIN pts b ON a.point_id < b.point_id
          WHERE {_HAVERSINE_SQL} <= 40.0
        ),
        mirrored AS (
          SELECT ia AS point_id, ib AS nn_id, d FROM pr
          UNION ALL
          SELECT ib AS point_id, ia AS nn_id, d FROM pr
        )
        SELECT point_id, nn_id, round(d + 1e-9, 3) + 0.0 AS dist_km
        FROM (
          SELECT point_id, nn_id, d, row_number() OVER (
            PARTITION BY point_id ORDER BY d ASC, nn_id ASC) AS rn
          FROM mirrored
        ) WHERE rn = 1
    """,
    "q_geo_density": f"""
        WITH pts AS ({_POINTS_SQL})
        SELECT CAST(floor(lon / 1.0) AS BIGINT) AS cx,
               CAST(floor(lat / 1.0) AS BIGINT) AS cy,
               count(*) AS n_points,
               round(avg(lat) + 1e-9, 4) + 0.0 AS mean_lat,
               round(avg(lon) + 1e-9, 4) + 0.0 AS mean_lon
        FROM pts GROUP BY 1, 2
        ORDER BY n_points DESC, cx ASC, cy ASC
        LIMIT 20
    """,
}
