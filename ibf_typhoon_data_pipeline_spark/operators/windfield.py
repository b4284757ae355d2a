"""K1/K2 — tropical-cyclone wind field (SURVEY.md §2.9).

The reference computes, per ensemble-member track, a wind speed at
every grid centroid within a ±5.5° box of the track, using the
published Holland (1980) gradient-wind profile with the Holland (2008)
revised shape parameter b_s, plus a translation-speed component
attenuated away from the eyewall (trop_cyclone.py:515-836 — semantics
only; this is an independent implementation from the published
equations).

Two interchangeable physical strategies:

1. Column expressions — the Spark-first path: per-track-point scalars
   (translation speed from lead(), pressure tendency from lag(), b_s,
   RMW estimate) as window + scalar expressions, then the one pair
   join ``grid_prune_pairs`` (the anti-cartesian bbox guard, SURVEY §4
   X1), then the radial profile as pure `F.*` math behind an
   ``explode(array(wind))`` fence. ``windfield_expr`` (Holland),
   ``windfield_willoughby``, ``windfield_vectors`` and
   ``windfield_willoughby_blend`` — and the windfield entries in
   plans/typhoon.py — all take their pairs from it. Everything stays
   in whole-stage codegen; it is also DuckDB-expressible, so the
   correctness gate covers the physics.

2. ``windfield_kernel`` — the Holland formulas vectorized in numpy
   under ``applyInPandas`` over (ens_id) groups — the shape the
   reference's per-track process pool takes on Spark (X4: repartition
   replaces pathos). Used to cross-check the expr path and as the
   template for kernels that genuinely can't be expressions (cubic
   splines, XGBoost inference).

Scale notes: the pair space is |track points| × |centroids within the
per-point wind extent|. ``grid_prune_pairs`` equi-joins on 2°-cell
keys (track points exploded to the cells their prune box touches,
each centroid hashed to one cell) with the exact bbox AND a per-point
dynamic box — from a conservative threshold-crossing radius of the
profile: bisected for Holland (one JVM ``aggregate`` over the track
side, no Python worker), closed-form for Willoughby — as the
residual condition, so pruning is a hash probe and the profile runs
only near the storm; track sides are tiny (52 members × ~40-480
points, ≤ a few cell copies each) and always broadcast. Output is the
long skinny ``windfield(ens_id, step, centroid_id, wind_ms)`` —
relational sparsity replaces the reference's CSR matrix (rows below
the 17.5 m/s threshold are dropped, mirroring eliminate_zeros at
trop_cyclone.py:409-413).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ibf_typhoon_data_pipeline_spark.functions.geo import haversine_km

# Physical constants (published values; see Holland 2008 eq. 7-11)
RHO_AIR = 1.15          # kg/m³ surface air density
CORIOLIS_OMEGA = 7.292e-5
H_TO_S = 3600.0
DEG_BOX = 5.5           # bbox half-width, the X1 pruning radius
V_THRESHOLD_MS = 17.5   # intensity threshold (trop_cyclone.py:92)
VT_CAP_MS = 15.4        # translation-speed cap ≈ 30 kn (tc:676-714)


def estimate_rmw_km(pcen: Column) -> Column:
    """F18-style piecewise-linear pressure→radius-of-max-wind lookup
    (semantics of tc_tracks.py:1744-1777): deeper storms have tighter
    eyewalls. Knots (hPa → km): ≤920 → 15, 960 → 35, 995 → 55, else 55."""
    return (
        F.when(pcen <= 920, F.lit(15.0))
        .when(pcen <= 960, 15.0 + (pcen - 920) * (35.0 - 15.0) / 40.0)
        .when(pcen <= 995, 35.0 + (pcen - 960) * (55.0 - 35.0) / 35.0)
        .otherwise(F.lit(55.0))
    )


def holland_b_s(
    penv: Column, pcen: Column, lat: Column, v_trans_ms: Column,
    dp_dt_hpa_h: Column,
) -> Column:
    """Holland (2008) revised b_s (eq. 11): statistical fit in pressure
    drop, intensification rate, latitude, and translation speed;
    clipped to [1, 2.5] as in the reference (trop_cyclone.py:769)."""
    dp = F.greatest(penv - pcen, F.lit(1.0))
    x = 0.6 * (1.0 - dp / 215.0)
    bs = (
        -4.4e-5 * dp * dp
        + 0.01 * dp
        + 0.03 * dp_dt_hpa_h
        - 0.014 * F.abs(lat)
        + 0.15 * F.pow(v_trans_ms, x)
        + 1.0
    )
    return F.least(F.greatest(bs, F.lit(1.0)), F.lit(2.5))


def track_point_params(
    tracks: DataFrame,
    keys: list[str] | None = None,
    time_col: str = "step",
) -> DataFrame:
    """Per-track-point derived scalars, all window/scalar expressions:

    - v_trans (translation speed, m/s): haversine of the segment to the
      *next* point over its duration (W2 lead kinematics), capped at
      ~30 kn; last point inherits 0 (reference pads the final segment).
    - dp_dt (hPa/h): central-pressure tendency from lag (W1/W7).
    - rmw_km, b_s as above.
    """
    keys = keys or ["ens_id"]
    w = Window.partitionBy(*keys).orderBy(time_col)
    dt_h = (F.col(time_col) - F.lag(time_col, 1).over(w)) * 6.0  # 6-h steps
    seg_km = haversine_km(
        F.col("lat"), F.col("lon"),
        F.lead("lat", 1).over(w), F.lead("lon", 1).over(w),
    )
    seg_h = (F.lead(time_col, 1).over(w) - F.col(time_col)) * 6.0
    # try_divide: a repeated step (a drop landed twice) has zero
    # duration — NULL, then 0.0 through the coalesce, as the DuckDB
    # twin's `/` gives; ANSI `/` would fail the whole forecast
    v_trans = F.coalesce(
        F.try_divide(seg_km * 1000.0, seg_h * H_TO_S), F.lit(0.0)
    )
    v_trans = F.least(v_trans, F.lit(VT_CAP_MS))
    dp_dt = F.coalesce(
        F.try_divide(F.lag("pcen", 1).over(w) - F.col("pcen"), dt_h),
        F.lit(0.0),
    )
    out = (
        tracks.withColumn("v_trans_ms", v_trans)
        .withColumn("dp_dt", dp_dt)
        .withColumn("rmw_km", estimate_rmw_km(F.col("pcen")))
    )
    return out.withColumn(
        "b_s",
        holland_b_s(
            F.col("penv"), F.col("pcen"), F.col("lat"),
            F.col("v_trans_ms"), F.col("dp_dt"),
        ),
    )


def holland_wind_ms(
    r_km: Column, rmw_km: Column, b_s: Column,
    penv: Column, pcen: Column, lat: Column, v_trans_ms: Column,
) -> Column:
    """Holland (1980) gradient wind at radius r, plus the translation
    component attenuated by min(1, rmw/r) (trop_cyclone.py semantics:
    the moving-storm asymmetry collapses to its along-track mean).

    v_g(r) = sqrt( b/ρ · (R/r)^b · Δp · exp(1−(R/r)^b) + (rf/2)² ) − rf/2
    with Δp in Pa, r in m, f the Coriolis parameter.
    """
    dp_pa = F.greatest(penv - pcen, F.lit(1.0)) * 100.0
    r_m = F.greatest(r_km, F.lit(1.0)) * 1000.0
    ratio_b = F.pow(rmw_km / F.greatest(r_km, F.lit(1.0)), b_s)
    f_cor = F.abs(2.0 * CORIOLIS_OMEGA * F.sin(F.radians(lat)))
    rf2 = r_m * f_cor / 2.0
    v_g = (
        F.sqrt(
            b_s / RHO_AIR * ratio_b * dp_pa * F.exp(1.0 - ratio_b) + rf2 * rf2
        )
        - rf2
    )
    v_total = v_g + v_trans_ms * F.least(F.lit(1.0), rmw_km / F.greatest(r_km, F.lit(1.0)))
    return F.greatest(v_total, F.lit(0.0))


# Largest distance a ±DEG_BOX bbox can contain: √2·5.5°·111.19 km/°.
WIND_EXTENT_CAP_KM = 871.0
# km per degree LOWER bound shared by both metrics (haversine 111.127,
# equirect 111.12, minus small-angle sin slack) — dividing r_hi by it
# can only INFLATE the prune box, never shrink it below the true extent
KM_PER_DEG_LB = 111.0
GRID_CELL_DEG = 2.0     # edge of the hash-join grid cells
EXTENT_BISECT_STEPS = 40  # halvings of the Holland extent bisection


def holland_extent_km(threshold_ms: float | Column) -> Column:
    """Per-track-point prune radius of the Holland profile: the radius
    where ``holland_wind_ms`` crosses ``threshold_ms``, bisected
    between rmw and the cap in EXTENT_BISECT_STEPS halvings of one
    ``aggregate(sequence(1, n), struct(lo, hi), …)`` — a JVM
    expression over the track frame's (rmw_km, b_s, penv, pcen,
    v_trans_ms, t_lat) attributes. v_total is monotone decreasing
    beyond rmw (dv_g/dr = a'/(2s) + c'(c/s − 1) with a' ≤ 0, c ≤ s, and
    the attenuated translation term decreasing too), so every r > r_hi
    is strictly below threshold and pruning those pairs cannot change
    the output. A peak at or below the threshold gives 0; a profile
    still above it at the cap gives the cap. The +2 km margin dwarfs
    any ulp disagreement near the crossing. Applied only to
    broadcast-sized track frames: the interpreted lambda runs
    n times per track point, never per pair."""

    def v_total(r: Column) -> Column:
        return holland_wind_ms(
            r, F.col("rmw_km"), F.col("b_s"), F.col("penv"), F.col("pcen"),
            F.col("t_lat"), F.col("v_trans_ms"),
        )

    def halve(acc: Column, _step: Column) -> Column:
        mid = 0.5 * (acc["lo"] + acc["hi"])
        return F.when(
            v_total(mid) > threshold_ms,
            F.struct(mid.alias("lo"), acc["hi"].alias("hi")),
        ).otherwise(F.struct(acc["lo"].alias("lo"), mid.alias("hi")))

    cap = F.lit(WIND_EXTENT_CAP_KM)
    hi = F.aggregate(
        F.sequence(F.lit(1), F.lit(EXTENT_BISECT_STEPS)),
        F.struct(F.col("rmw_km").alias("lo"), cap.alias("hi")),
        halve,
    )["hi"]
    return (
        F.when(v_total(F.col("rmw_km")) <= threshold_ms, F.lit(0.0))
        .when(v_total(cap) > threshold_ms, cap)
        .otherwise(hi)
        + 2.0
    )


def willoughby_extent_km(vmax: Column, lat: Column, thr: float | Column) -> Column:
    """Closed-form prune radius of the Willoughby outer profile
    Vmax·((1−A)·e^{−(r−Rmax)/X1} + A·e^{−(r−Rmax)/25}). Beyond Rmax
    both exponentials are ≤ e^{−(r−Rmax)/max(X1, 25)}, so the profile
    is ≤ thr once r ≥ Rmax + max(X1, 25)·ln(Vmax/thr) — for every
    A ∈ [0, 1), the A = 0 hindcast profile included; inside Rmax it
    never exceeds Vmax. The +2 km margin dwarfs any ulp disagreement
    near the crossing. Vmax ≤ thr gives 0 (nothing crosses); X1 ≤ 0 or
    A ≥ 1 (Vmax beyond the published regression's domain) gives the
    cap, i.e. the plain ±DEG_BOX box."""
    alat = F.abs(lat)
    rmax = 46.6 * F.exp(-0.0155 * vmax + 0.0169 * alat)
    x1 = 317.1 - 2.026 * vmax + 1.915 * alat
    a = 0.0696 + 0.0049 * vmax - 0.0064 * alat
    return (
        F.when((x1 <= 0.0) | (a >= 1.0), F.lit(WIND_EXTENT_CAP_KM))
        .when(vmax <= thr, F.lit(0.0))
        .otherwise(
            rmax + F.greatest(x1, F.lit(25.0)) * F.log(vmax / thr) + 2.0
        )
    )


def grid_prune_pairs(
    t: DataFrame, centroids: DataFrame, r_hi: Column, broadcast: bool = True,
) -> DataFrame:
    """(centroid × track-point) candidate pairs — the one windfield
    pair join (SURVEY §4 X1). ``t`` carries t_lat/t_lon and the
    per-point columns its profile needs; ``centroids`` carries lat/lon
    (projected to c_lat/c_lon) plus whatever other columns the caller
    selected. Every pair keeps the bbox predicate c BETWEEN t±DEG_BOX
    (written that way, not c−t BETWEEN ±box, so the oracle SQL
    evaluates the bit-identical float comparison).

    ``r_hi`` is a conservative wind-extent radius (km): every pair
    farther apart than r_hi must be below the output threshold, so the
    dynamic box drops ONLY rows the threshold filter would drop and
    the surviving pairs are identical to the plain bbox theta-join.
    A profile without an extent bound passes WIND_EXTENT_CAP_KM, which
    gives exactly the ±DEG_BOX box.

    Geometry: dist ≥ KM_PER_DEG_LB·|Δlat| and ≥
    KM_PER_DEG_LB·cos(φ̄)·|Δlon| for both supported metrics; φ̄ is
    bounded by |t_lat|+box_lat for any pair inside the lat box, so
    box_lon is conservative too. A [t±box] interval only intersects
    cells floor((t−box)/cell)..floor((t+box)/cell) (x/cell and floor
    are monotone and exact in IEEE), so the exploded cell copies can
    never miss a box-passing centroid. Track rows stay broadcast (≤ a
    few cell copies × a few 10⁴ rows); the equi part becomes the hash
    key and the pair space is Σ per-cell products instead of |C|×|T|.

    The fence every caller puts on its profile: select the wind as
    ``F.explode(F.array(wind))`` before filtering on the threshold.
    Catalyst rewrites a filter through deterministic projects by alias
    substitution and re-derives it below via constraint propagation,
    so without a barrier the threshold lands in the JOIN CONDITION
    with the whole profile inlined and evaluated per raw candidate
    pair without common-subexpression elimination (windfield_vectors
    measured 34 s vs 4 s). A row-preserving generator is a barrier
    Catalyst cannot substitute through: the profile runs exactly once
    per surviving pair and the join condition stays the cheap box.
    """
    c = centroids.select(*[
        F.col(x).alias(f"c_{x}") if x in ("lat", "lon") else F.col(x)
        for x in centroids.columns
    ])
    t = t.withColumn("__r_hi", r_hi)
    box_lat = F.least(F.lit(DEG_BOX), F.col("__r_hi") / KM_PER_DEG_LB)
    t = t.withColumn("__box_lat", box_lat).withColumn(
        "__box_lon",
        F.least(
            F.lit(DEG_BOX),
            F.col("__r_hi")
            / (
                KM_PER_DEG_LB
                * F.cos(
                    F.radians(
                        F.least(
                            F.abs(F.col("t_lat")) + F.col("__box_lat"),
                            F.lit(89.0),
                        )
                    )
                )
            ),
        ),
    )

    def _cells(col: Column, box: Column) -> Column:
        return F.sequence(
            F.floor((col - box) / GRID_CELL_DEG),
            F.floor((col + box) / GRID_CELL_DEG),
        )

    tg = (
        t.withColumn(
            "__t_latc", F.explode(_cells(F.col("t_lat"), F.col("__box_lat")))
        )
        .withColumn(
            "__t_lonc", F.explode(_cells(F.col("t_lon"), F.col("__box_lon")))
        )
    )
    cg = c.withColumn(
        "__c_latc", F.floor(F.col("c_lat") / GRID_CELL_DEG)
    ).withColumn("__c_lonc", F.floor(F.col("c_lon") / GRID_CELL_DEG))
    bbox = F.col("c_lat").between(
        F.col("t_lat") - DEG_BOX, F.col("t_lat") + DEG_BOX
    ) & F.col("c_lon").between(
        F.col("t_lon") - DEG_BOX, F.col("t_lon") + DEG_BOX
    )
    # broadcast hint: legitimate for single-event production plans
    # (track points bounded by 52 members x 481 positions — the
    # hygiene allowlist's bounded-by-construction case). broadcast=
    # False leaves the strategy to AQE (shuffle join on the cell keys
    # once the track batch outgrows the threshold) — the path a
    # multi-event 100 TB replay takes, where a dense cell becomes a
    # skewed shuffle partition that AQE skew-splits at runtime
    # (tests/test_aqe_skew.py drives exactly that on
    # tc_windfield_skewgrid).
    return cg.join(
        F.broadcast(tg) if broadcast else tg,
        (F.col("__c_latc") == F.col("__t_latc"))
        & (F.col("__c_lonc") == F.col("__t_lonc"))
        & bbox
        & (F.abs(F.col("c_lat") - F.col("t_lat")) <= F.col("__box_lat"))
        & (F.abs(F.col("c_lon") - F.col("t_lon")) <= F.col("__box_lon")),
    )


def equirect_km(
    lat1: Column, lon1: Column, lat2: Column, lon2: Column
) -> Column:
    """F8 — the equirectangular small-angle metric, CLIMADA's DEFAULT
    distance (util/coordinates.py dist_approx, method="equirect"):
    √((Δlat·111.12)² + (Δlon·111.12·cos(lat̄))²). Cheaper than
    haversine (no asin) and accurate to <0.3% at windfield radii;
    the geosphere/haversine switch mirrors the reference's
    accuracy-vs-speed toggle (SURVEY §4 X3)."""
    km_deg = 111.12
    mid = F.radians((lat1 + lat2) / 2.0)
    dx = (lon2 - lon1) * km_deg * F.cos(mid)
    dy = (lat2 - lat1) * km_deg
    return F.sqrt(dx * dx + dy * dy)


def windfield_expr(
    tracks: DataFrame,
    centroids: DataFrame,
    threshold_ms: float = V_THRESHOLD_MS,
    keys: list[str] | None = None,
    metric: str = "geosphere",
    broadcast: bool = True,
) -> DataFrame:
    """K1 as a broadcast grid-cell hash join + codegen expressions.

    ``tracks`` must carry (ens_id, step, lat, lon, vmax, pcen, penv);
    ``centroids`` (centroid_id, lat, lon). Output: one row per
    (ens_id, step, centroid_id) with wind_ms above threshold.
    ``metric``: "geosphere" (haversine) or "equirect" — the
    reference's dist_approx switch (equirect is CLIMADA's default).
    Pairs come from ``grid_prune_pairs`` under the Holland extent: each
    track point explodes to the 2°-cells its dynamic bbox can touch
    (2–4 per axis for typical extents; worst case 7×7 ≈ 49 copies only
    when r_hi hits WIND_EXTENT_CAP_KM), each centroid hashes to exactly
    one cell, so the bbox pruning is a hash probe instead of
    |centroids|×|track points| nested-loop condition evaluations. At
    the production envelope (47k centroids × 25k interpolated
    positions = 1.18e9 raw pairs) that cuts the join from ~27 s to the
    cost of the surviving pairs alone.
    """
    keys = keys or ["ens_id"]
    tp = track_point_params(tracks, keys=keys)
    t = tp.select(
        *keys,
        F.col("step"),
        F.col("lat").alias("t_lat"),
        F.col("lon").alias("t_lon"),
        "pcen", "penv", "v_trans_ms", "rmw_km", "b_s",
    )
    pairs = grid_prune_pairs(
        t,
        centroids.select("centroid_id", "lat", "lon"),
        holland_extent_km(threshold_ms),
        broadcast=broadcast,
    )
    dist_fn = haversine_km if metric == "geosphere" else equirect_km
    r_km = dist_fn(
        F.col("c_lat"), F.col("c_lon"), F.col("t_lat"), F.col("t_lon")
    )
    wind = holland_wind_ms(
        r_km, F.col("rmw_km"), F.col("b_s"),
        F.col("penv"), F.col("pcen"), F.col("t_lat"), F.col("v_trans_ms"),
    )
    staged = pairs.select(
        *keys,
        "step",
        "centroid_id",
        F.explode(F.array(wind)).alias("wind_ms"),  # fence: grid_prune_pairs
    )
    return staged.filter(F.col("wind_ms") > threshold_ms)


def intensity_reduce(windfield: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """K2: max wind over time per (member, centroid) — the norm().max(
    axis=0) + threshold of trop_cyclone.py:408-413 as one partial-agg
    groupBy (map-side combine; no windfield-sized shuffle rows)."""
    keys = keys or ["ens_id"]
    return windfield.groupBy(*keys, "centroid_id").agg(
        F.max("wind_ms").alias("intensity_ms")
    )


def willoughby_wind_ms(
    r_km: Column, vmax: Column, lat: Column
) -> Column:
    """K5 — Willoughby, Darling & Rahn (2006) parametric radial profile
    (the reference's legacy R wind model, lib_r/prepare_typhoon_input.R
    :200-516 semantics; independent implementation from the published
    statistical fits, sectional eqs. 7a/10a-c):

      Rmax = 46.6·exp(−0.0155·Vmax + 0.0169·|lat|)
      X1   = 317.1 − 2.026·Vmax + 1.915·|lat|   (outer decay length)
      n    = 0.4067 + 0.0144·Vmax − 0.0038·|lat| (inner exponent)
      A    = max(0, 0.0696 + 0.0049·Vmax − 0.0064·|lat|)
      V(r) = Vmax·(r/Rmax)^n                      r ≤ Rmax
           = Vmax·((1−A)·e^{−(r−Rmax)/X1} + A·e^{−(r−Rmax)/25})  r > Rmax

    Simplified at the eyewall: the paper's polynomial blend zone
    (Newton-solved ξ) is replaced by the piecewise join at Rmax — the
    standard reduced form; max error is confined to the blend band.
    ``windfield_willoughby_blend`` below implements the full ramp.
    """
    alat = F.abs(lat)
    rmax = 46.6 * F.exp(-0.0155 * vmax + 0.0169 * alat)
    x1 = 317.1 - 2.026 * vmax + 1.915 * alat
    n = 0.4067 + 0.0144 * vmax - 0.0038 * alat
    a = F.greatest(0.0696 + 0.0049 * vmax - 0.0064 * alat, F.lit(0.0))
    r = F.greatest(r_km, F.lit(0.1))
    inside = vmax * F.pow(r / rmax, n)
    outside = vmax * (
        (1.0 - a) * F.exp((rmax - r) / x1) + a * F.exp((rmax - r) / 25.0)
    )
    return F.when(r <= rmax, inside).otherwise(outside)


def windfield_willoughby(
    tracks: DataFrame,
    centroids: DataFrame,
    threshold_ms: float = V_THRESHOLD_MS,
    keys: list[str] | None = None,
) -> DataFrame:
    """K5 windfield: the same grid_prune_pairs join as windfield_expr
    under the closed-form Willoughby extent, Willoughby profile instead
    of Holland — the two kernels are drop-in alternatives exactly as in
    the reference (python Holland vs R Willoughby paths)."""
    keys = keys or ["ens_id"]
    t = tracks.select(
        *keys,
        F.col("step"),
        F.col("lat").alias("t_lat"),
        F.col("lon").alias("t_lon"),
        "vmax",
    )
    pairs = grid_prune_pairs(
        t,
        centroids.select("centroid_id", "lat", "lon"),
        willoughby_extent_km(F.col("vmax"), F.col("t_lat"), threshold_ms),
    )
    r_km = haversine_km(
        F.col("c_lat"), F.col("c_lon"), F.col("t_lat"), F.col("t_lon")
    )
    wind = willoughby_wind_ms(r_km, F.col("vmax"), F.col("t_lat"))
    return pairs.select(
        *keys, "step", "centroid_id",
        F.explode(F.array(wind)).alias("wind_ms"),  # fence: grid_prune_pairs
    ).filter(F.col("wind_ms") > threshold_ms)


def windfield_vectors(
    tracks: DataFrame,
    centroids: DataFrame,
    threshold_ms: float = V_THRESHOLD_MS,
    keys: list[str] | None = None,
) -> DataFrame:
    """K1 at FULL output fidelity: (u, v) velocity components per
    (member, step, centroid), not just the speed — the reference's
    ``windfields`` vectors (trop_cyclone.py:515-639: rotational wind
    along the hemisphere-signed tangential direction plus the
    translational component attenuated by min(1, rmax/r)).

    Geometry stays pure arithmetic (no atan2): with equirect offsets
    (dx, dy) km from storm center to centroid and r = √(dx²+dy²), the
    counterclockwise tangential unit vector is (−dy/r, dx/r), flipped
    in the southern hemisphere. The translational unit vector comes
    from the lead-segment kinematics (W2) in the same equirect frame.
    Pairs from grid_prune_pairs under the Holland extent.
    """
    keys = keys or ["ens_id"]
    km_deg = 111.12
    tp = track_point_params(tracks, keys=keys)
    w = Window.partitionBy(*keys).orderBy("step")
    # unit vector toward the NEXT track point (equirect km frame);
    # last point inherits (0, 0) — its v_trans is 0 anyway.
    seg_mid = F.radians((F.col("lat") + F.lead("lat", 1).over(w)) / 2.0)
    seg_dx = (F.lead("lon", 1).over(w) - F.col("lon")) * km_deg * F.cos(seg_mid)
    seg_dy = (F.lead("lat", 1).over(w) - F.col("lat")) * km_deg
    seg_len = F.sqrt(seg_dx * seg_dx + seg_dy * seg_dy)
    t = tp.select(
        *keys,
        F.col("step"),
        F.col("lat").alias("t_lat"),
        F.col("lon").alias("t_lon"),
        "pcen", "penv", "v_trans_ms", "rmw_km", "b_s",
        # explicit > 0 guard, NOT coalesce: a stationary segment
        # (seg_len = 0) divides 0/0 — NULL under Spark's non-ANSI
        # division but NaN under DuckDB/IEEE, so coalesce would let
        # NaN through on the oracle side and on real tracks with
        # repeated positions. CASE catches both (NULL condition →
        # ELSE). Same text both engines.
        F.when(seg_len > 0.0, seg_dx / seg_len).otherwise(F.lit(0.0)).alias("hx"),
        F.when(seg_len > 0.0, seg_dy / seg_len).otherwise(F.lit(0.0)).alias("hy"),
    )
    # |u,v| ≤ v_g + min(1, rmw/r)·vt — the scalar profile
    # holland_extent_km bisects — so the per-point prune box is
    # conservative for the vector magnitude too (triangle inequality).
    pairs = (
        grid_prune_pairs(
            t,
            centroids.select("centroid_id", "lat", "lon"),
            holland_extent_km(threshold_ms),
        )
        .withColumn(
            "dx",
            (F.col("c_lon") - F.col("t_lon"))
            * km_deg
            * F.cos(F.radians((F.col("t_lat") + F.col("c_lat")) / 2.0)),
        )
        .withColumn("dy", (F.col("c_lat") - F.col("t_lat")) * km_deg)
        .withColumn(
            "r_km",
            F.greatest(
                F.sqrt(F.col("dx") * F.col("dx") + F.col("dy") * F.col("dy")),
                F.lit(0.1),
            ),
        )
    )
    v_g = (
        holland_wind_ms(
            F.col("r_km"), F.col("rmw_km"), F.col("b_s"),
            F.col("penv"), F.col("pcen"), F.col("t_lat"),
            F.lit(0.0),  # rotational part only; translation added as a vector
        )
    )
    hemi = F.when(F.col("t_lat") >= 0.0, F.lit(1.0)).otherwise(F.lit(-1.0))
    atten = F.least(
        F.lit(1.0), F.col("rmw_km") / F.col("r_km")
    ) * F.col("v_trans_ms")
    # fence (grid_prune_pairs): the gradient wind is computed exactly
    # once per pair; everything above it (u/v/speed, the threshold) is
    # cheap arithmetic over the materialized column
    staged = pairs.select(
        *keys, "step", "centroid_id", "dx", "dy", "r_km",
        "t_lat", "rmw_km", "v_trans_ms", "hx", "hy",
        F.explode(F.array(v_g)).alias("v_g"),
    )
    scored = (
        staged.withColumn(
            "u_ms",
            F.col("v_g") * hemi * (-F.col("dy") / F.col("r_km"))
            + atten * F.col("hx"),
        )
        .withColumn(
            "v_ms",
            F.col("v_g") * hemi * (F.col("dx") / F.col("r_km"))
            + atten * F.col("hy"),
        )
        .withColumn(
            "speed_ms",
            F.sqrt(
                F.col("u_ms") * F.col("u_ms") + F.col("v_ms") * F.col("v_ms")
            ),
        )
    )
    return scored.select(
        *keys, "step", "centroid_id", "u_ms", "v_ms", "speed_ms"
    ).filter(F.col("speed_ms") > threshold_ms)


# ---------------------------------------------------- Willoughby blend zone
# Full Willoughby, Darling & Rahn (2006) fidelity: the inner power law
# and outer dual-exponential are merged over a ramp zone [R1, R1+bw]
# by the 9th-order smoothstep w(ξ), with the ramp offset ξ* solved from
# the smoothness condition w(ξ*) = n((1−A)X1 + A·X2) / (n(...) + Rmax)
# (X2 = 25 km; bw = 25 km, or 15 km when Rmax < 20 km).
#
# The solve is 8 clamped Newton steps from ξ=0.5 — residual < 3e-14
# over the whole (vmax, lat) envelope — unrolled as column updates, one
# materialized column per step (never nested: the expression would grow
# exponentially). Every formula below is a SQL TEXT CONSTANT consumed
# by BOTH the Spark plan (F.expr) and the DuckDB oracle, so the float
# expression trees are token-identical by construction.

def _w_smooth(x: str) -> str:
    """w(ξ) = 126ξ⁵ − 420ξ⁶ + 540ξ⁷ − 315ξ⁸ + 70ξ⁹ (W2006 eq. 2)."""
    return (
        f"(126.0 * pow({x}, 5) - 420.0 * pow({x}, 6) + 540.0 * pow({x}, 7)"
        f" - 315.0 * pow({x}, 8) + 70.0 * pow({x}, 9))"
    )


def _wp_smooth(x: str) -> str:
    """w'(ξ) = 630·ξ⁴·(1−ξ)⁴."""
    return f"(630.0 * pow({x}, 4) * pow(1.0 - {x}, 4))"


WILL_RMAX_SQL = "46.6 * exp(-0.0155 * vmax + 0.0169 * abs(lat))"
WILL_X1_SQL = "317.1 - 2.026 * vmax + 1.915 * abs(lat)"
WILL_N_SQL = "0.4067 + 0.0144 * vmax - 0.0038 * abs(lat)"
WILL_A_SQL = "greatest(0.0696 + 0.0049 * vmax - 0.0064 * abs(lat), 0.0)"
WILL_WSTAR_SQL = (
    "(nn * ((1.0 - aa) * x1 + 25.0 * aa))"
    " / (nn * ((1.0 - aa) * x1 + 25.0 * aa) + rmax)"
)
WILL_XI_STEP_SQL = (
    f"least(greatest(xi - ({_w_smooth('xi')} - wstar) / {_wp_smooth('xi')},"
    " 0.001), 0.999)"
)
WILL_XI_STEPS = 8
# CAST literals that stand alone (not folded into double arithmetic):
# DuckDB types them DECIMAL otherwise (parity pitfall).
WILL_XI0_SQL = "CAST(0.5 AS DOUBLE)"
WILL_BW_SQL = (
    "CASE WHEN rmax < 20.0 THEN CAST(15.0 AS DOUBLE)"
    " ELSE CAST(25.0 AS DOUBLE) END"
)
WILL_R1_SQL = "rmax - xi * bw"
WILL_VI_SQL = "vmax * pow(r / rmax, nn)"
WILL_VO_SQL = (
    "vmax * ((1.0 - aa) * exp((rmax - r) / x1) + aa * exp((rmax - r) / 25.0))"
)
WILL_XIR_SQL = "(r - r1) / bw"
WILL_BLEND_SQL = (
    "CASE WHEN r <= r1 THEN vi WHEN r >= r1 + bw THEN vo"
    f" ELSE vi * (1.0 - {_w_smooth('xir')}) + vo * {_w_smooth('xir')} END"
)


def windfield_willoughby_blend(
    tracks: DataFrame,
    centroids: DataFrame,
    threshold_ms: float = V_THRESHOLD_MS,
    keys: list[str] | None = None,
) -> DataFrame:
    """K5 at full W2006 fidelity. The per-POINT Newton solve runs on
    the tiny track side before the join, so the pair space sees only
    the precomputed (rmax, x1, nn, aa, r1, bw) scalars. The blend has
    no extent bound: grid_prune_pairs gets WIND_EXTENT_CAP_KM, i.e.
    exactly the ±DEG_BOX box, as a grid-cell hash join."""
    keys = keys or ["ens_id"]
    wp = (
        tracks.select(*keys, "step", "lat", "lon", "vmax")
        .withColumn("rmax", F.expr(WILL_RMAX_SQL))
        .withColumn("x1", F.expr(WILL_X1_SQL))
        .withColumn("nn", F.expr(WILL_N_SQL))
        .withColumn("aa", F.expr(WILL_A_SQL))
        .withColumn("wstar", F.expr(WILL_WSTAR_SQL))
        .withColumn("xi", F.expr(WILL_XI0_SQL))
    )
    for _ in range(WILL_XI_STEPS):
        wp = wp.withColumn("xi", F.expr(WILL_XI_STEP_SQL))
    wp = wp.withColumn("bw", F.expr(WILL_BW_SQL)).withColumn(
        "r1", F.expr(WILL_R1_SQL)
    )
    t = wp.select(
        *keys, "step",
        F.col("lat").alias("t_lat"), F.col("lon").alias("t_lon"),
        "vmax", "rmax", "x1", "nn", "aa", "bw", "r1",
    )
    pairs = grid_prune_pairs(
        t,
        centroids.select("centroid_id", "lat", "lon"),
        F.lit(WIND_EXTENT_CAP_KM),
    ).withColumn(
        "r",
        F.greatest(
            haversine_km(
                F.col("c_lat"), F.col("c_lon"), F.col("t_lat"), F.col("t_lon")
            ),
            F.lit(0.1),
        ),
    )
    scored = (
        pairs.withColumn("vi", F.expr(WILL_VI_SQL))
        .withColumn("vo", F.expr(WILL_VO_SQL))
        .withColumn("xir", F.expr(WILL_XIR_SQL))
    )
    return scored.select(
        *keys, "step", "centroid_id",
        # fence: grid_prune_pairs
        F.explode(F.array(F.expr(WILL_BLEND_SQL))).alias("wind_ms"),
    ).filter(F.col("wind_ms") > threshold_ms)


# ------------------------------------------------------------------ kernel
def _holland_np(r_km, rmw_km, b_s, penv, pcen, lat, v_trans_ms):
    """numpy twin of holland_wind_ms — identical formula, vectorized."""
    import numpy as np

    dp_pa = np.maximum(penv - pcen, 1.0) * 100.0
    r_saf = np.maximum(r_km, 1.0)
    r_m = r_saf * 1000.0
    ratio_b = np.power(rmw_km / r_saf, b_s)
    f_cor = np.abs(2.0 * CORIOLIS_OMEGA * np.sin(np.radians(lat)))
    rf2 = r_m * f_cor / 2.0
    v_g = np.sqrt(b_s / RHO_AIR * ratio_b * dp_pa * np.exp(1.0 - ratio_b) + rf2 * rf2) - rf2
    v = v_g + v_trans_ms * np.minimum(1.0, rmw_km / r_saf)
    return np.maximum(v, 0.0)


def windfield_kernel(
    tracks: DataFrame,
    centroids: DataFrame,
    threshold_ms: float = V_THRESHOLD_MS,
    keys: list[str] | None = None,
) -> DataFrame:
    """K1 as an Arrow-batched grouped-map kernel: one pandas group per
    ensemble member (the reference's per-track loop / process pool →
    Spark task parallelism, X4). Same math as windfield_expr — the
    parity test asserts the two agree to 1e-6.

    Candidate centroids reach each group through the engine, never the
    driver: a per-member whole-track bbox (one tiny agg) broadcast-
    theta-joins against the centroid table (X1 prefilter, now inside
    the plan), and ``cogroup().applyInPandas`` hands every member its
    track points AND its in-bbox centroids as two Arrow batches. No
    toPandas of the grid, no session-lifetime broadcast — a 10× finer
    grid just means more distributed join output, not driver memory.

    Memory bound per group = p_chunk × |bbox centroids| doubles per
    intermediate (≈64×47k×8B ≈ 24 MB) independent of track length.
    """
    import numpy as np
    import pandas as pd

    keys = keys or ["ens_id"]
    tp = track_point_params(tracks, keys=keys)
    # fresh aliases on the bbox keys: cands shares lineage with tp, and
    # the cogroup below would otherwise trip Spark's ambiguous-self-join
    # check on the key attributes
    bbox = (
        tp.groupBy(*keys)
        .agg(
            F.min("lat").alias("__lat_lo"),
            F.max("lat").alias("__lat_hi"),
            F.min("lon").alias("__lon_lo"),
            F.max("lon").alias("__lon_hi"),
        )
        .select(
            *[F.col(k).alias(f"__k_{k}") for k in keys],
            "__lat_lo", "__lat_hi", "__lon_lo", "__lon_hi",
        )
    )
    cands = (
        centroids.select("centroid_id", "lat", "lon")
        .join(
            F.broadcast(bbox),
            (F.col("lat") >= F.col("__lat_lo") - DEG_BOX)
            & (F.col("lat") <= F.col("__lat_hi") + DEG_BOX)
            & (F.col("lon") >= F.col("__lon_lo") - DEG_BOX)
            & (F.col("lon") <= F.col("__lon_hi") + DEG_BOX),
        )
        .select(
            *[F.col(f"__k_{k}").alias(k) for k in keys],
            "centroid_id", "lat", "lon",
        )
    )

    out_schema = (
        ", ".join(f"{k} long" for k in keys)
        + ", step long, centroid_id long, wind_ms double"
    )

    # points-per-chunk for the 2-D (points × centroids) broadcast below;
    # bounds peak kernel memory to ~CHUNK × |bbox centroids| doubles per
    # intermediate (≈64×47k×8B ≈ 24 MB) independent of track length.
    p_chunk = 64

    def compute(pdf: pd.DataFrame, cent: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(columns=[*keys, "step", "centroid_id", "wind_ms"])
        if not len(pdf) or not len(cent):
            return empty
        la = cent["lat"].to_numpy()
        lo = cent["lon"].to_numpy()
        ci = cent["centroid_id"].to_numpy()
        p_lat = pdf["lat"].to_numpy()
        p_lon = pdf["lon"].to_numpy()
        p_step = pdf["step"].to_numpy()
        p_rmw = pdf["rmw_km"].to_numpy()
        p_bs = pdf["b_s"].to_numpy()
        p_penv = pdf["penv"].to_numpy()
        p_pcen = pdf["pcen"].to_numpy()
        p_vt = pdf["v_trans_ms"].to_numpy()
        cos_la = np.cos(np.radians(la))
        chunks = []
        for i in range(0, len(pdf), p_chunk):
            s = slice(i, i + p_chunk)
            dlat_deg = la[None, :] - p_lat[s, None]
            dlon_deg = lo[None, :] - p_lon[s, None]
            mask = (np.abs(dlat_deg) <= DEG_BOX) & (np.abs(dlon_deg) <= DEG_BOX)
            if not mask.any():
                continue
            a = (
                np.sin(np.radians(dlat_deg) / 2) ** 2
                + np.cos(np.radians(p_lat[s, None]))
                * cos_la[None, :]
                * np.sin(np.radians(dlon_deg) / 2) ** 2
            )
            r_km = 2.0 * 6367.0 * np.arcsin(np.sqrt(a))
            wind = _holland_np(
                r_km, p_rmw[s, None], p_bs[s, None], p_penv[s, None],
                p_pcen[s, None], p_lat[s, None], p_vt[s, None],
            )
            keep = mask & (wind > threshold_ms)
            pi, cj = np.nonzero(keep)
            if not pi.size:
                continue
            chunk = pd.DataFrame(
                {
                    "step": p_step[s][pi],
                    "centroid_id": ci[cj],
                    "wind_ms": wind[keep],
                }
            )
            for k in keys:
                chunk[k] = pdf[k].iloc[0]
            chunks.append(chunk[[*keys, "step", "centroid_id", "wind_ms"]])
        if not chunks:
            return empty
        return pd.concat(chunks, ignore_index=True)

    return (
        tp.groupBy(*keys)
        .cogroup(cands.groupBy(*keys))
        .applyInPandas(compute, schema=out_schema)
    )
