"""The typhoon domain pipeline (SURVEY.md §3/§7.2) as oracle-checked
Spark plans: synthetic ensemble tracks → Holland windfield (K1/K2) →
municipality hazard (J2/A1/A2/K4) → damage stub → exceedance triggers
(A7) → exposure JSON (F19), plus track interpolation (F16), landfall
classification (K7) and category binning (F10).

The track set and centroid grid are GENERATED inside each query with
pure integer/rational arithmetic (modular pseudo-noise, piecewise
polynomials — no RNG, no libm in the generator), so the identical CTE
text runs under DuckDB and the correctness gate covers the entire
domain chain, physics included. sf_dir is accepted for signature
parity but unused — the domain tables are synthesized, mirroring how
the reference builds its centroid grid in code (forecast_process.py:
73-76) rather than reading it.

Scale shape (SURVEY §6): 52 members × 41 six-hourly points × a 0.25°
grid (1,961 centroids, 27×19 municipality boxes). At production scale
the same plans take the real tables as input; every join here keys on
(ens_id | centroid_id | adm3_pcode) exactly as the 100 TB layout
partitions.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ibf_typhoon_data_pipeline_spark import pipeline as chain
from ibf_typhoon_data_pipeline_spark.operators.interpolation import (
    resample_interpolate,
)
from ibf_typhoon_data_pipeline_spark.operators.windfield import (
    WILL_A_SQL,
    WILL_BLEND_SQL,
    WILL_BW_SQL,
    WILL_N_SQL,
    WILL_R1_SQL,
    WILL_RMAX_SQL,
    WILL_VI_SQL,
    WILL_VO_SQL,
    WILL_WSTAR_SQL,
    WILL_X1_SQL,
    WILL_XI_STEP_SQL,
    WILL_XI_STEPS,
    WILL_XIR_SQL,
    windfield_expr,
    windfield_kernel,
)
from ibf_typhoon_data_pipeline_spark.plans.registry import register

N_MEMBERS = 52
N_STEPS = 41
# centroid grid: 0.25° over lat 6..19 (53 rows) × lon 118..127 (37 cols)
GRID_ROWS = 53
GRID_COLS = 37
MUNI_COLS = 19  # 0.5° municipality boxes → mj ∈ 0..18

# ---------------------------------------------------------------- SQL twins
# The DuckDB text of each generated table. The Spark builders below
# mirror these expressions token for token — parity depends on it.

TRACKS_SQL = f"""
  SELECT CAST(id // {N_STEPS} AS BIGINT) AS ens_id,
         CAST(id % {N_STEPS} AS BIGINT) AS step,
         7.0 + (id % {N_STEPS}) * 0.28
             + (((id // {N_STEPS}) * 7919) % 97 / 97.0 - 0.5) * 0.9
             + (id % {N_STEPS}) * (((id // {N_STEPS}) * 7919) % 97 / 97.0 - 0.5) * 0.02
           AS lat,
         138.0 - (id % {N_STEPS}) * 0.52
             + (((id // {N_STEPS}) * 104729) % 89 / 89.0 - 0.5) * 0.9
             + (id % {N_STEPS}) * (((id // {N_STEPS}) * 104729) % 89 / 89.0 - 0.5) * 0.02
           AS lon,
         greatest(18.0 + 42.0 * (1.0 - ((id % {N_STEPS}) - 20.0) / 16.0
                                     * (((id % {N_STEPS}) - 20.0) / 16.0))
                       + ((id // {N_STEPS}) * 6151) % 83 / 83.0 * 4.0,
                  15.0) AS vmax,
         1010.0 - greatest(18.0 + 42.0 * (1.0 - ((id % {N_STEPS}) - 20.0) / 16.0
                                              * (((id % {N_STEPS}) - 20.0) / 16.0))
                                + ((id // {N_STEPS}) * 6151) % 83 / 83.0 * 4.0,
                           15.0) AS pcen,
         CAST(1006.0 AS DOUBLE) AS penv
  FROM range({N_MEMBERS * N_STEPS}) AS t(id)
"""

CENTROIDS_SQL = f"""
  SELECT CAST(id AS BIGINT) AS centroid_id,
         6.0 + (id // {GRID_COLS}) * 0.25 AS lat,
         118.0 + (id % {GRID_COLS}) * 0.25 AS lon,
         concat('PH', lpad(CAST(((id // {GRID_COLS}) // 2) * {MUNI_COLS}
                                + ((id % {GRID_COLS}) // 2) AS VARCHAR), 9, '0'))
           AS adm3_pcode
  FROM range({GRID_ROWS * GRID_COLS}) AS c(id)
"""

# municipality spine with deterministic exposure (housing units) and a
# 0.5°-box center for the K4 degree-space distance
MUNIS_SQL = f"""
  SELECT concat('PH', lpad(CAST(id AS VARCHAR), 9, '0')) AS adm3_pcode,
         6.0 + ((id // {MUNI_COLS}) * 0.5 + 0.25) AS m_lat,
         118.0 + ((id % {MUNI_COLS}) * 0.5 + 0.25) AS m_lon,
         CAST(500 + (id * 37) % 1500 AS BIGINT) AS housing_units
  FROM range({27 * MUNI_COLS}) AS m(id)
"""

# per-track-point physics scalars (windfield.track_point_params twin)
PARAMS_SQL = """
  SELECT *,
    least(coalesce(
      2 * 6367.0 * asin(sqrt(
        pow(sin(radians(lead(lat) OVER w - lat) / 2), 2)
        + cos(radians(lat)) * cos(radians(lead(lat) OVER w))
          * pow(sin(radians(lead(lon) OVER w - lon) / 2), 2)
      )) * 1000.0 / ((lead(step) OVER w - step) * 6.0 * 3600.0),
      0.0), 15.4) AS v_trans_ms,
    coalesce((lag(pcen) OVER w - pcen) / ((step - lag(step) OVER w) * 6.0),
             0.0) AS dp_dt,
    CASE WHEN pcen <= 920 THEN 15.0
         WHEN pcen <= 960 THEN 15.0 + (pcen - 920) * (35.0 - 15.0) / 40.0
         WHEN pcen <= 995 THEN 35.0 + (pcen - 960) * (55.0 - 35.0) / 35.0
         ELSE 55.0 END AS rmw_km
  FROM tracks
  WINDOW w AS (PARTITION BY ens_id ORDER BY step)
"""

BS_SQL = """
  SELECT *,
    least(greatest(
      -4.4e-5 * greatest(penv - pcen, 1.0) * greatest(penv - pcen, 1.0)
      + 0.01 * greatest(penv - pcen, 1.0)
      + 0.03 * dp_dt
      - 0.014 * abs(lat)
      + 0.15 * pow(v_trans_ms, 0.6 * (1.0 - greatest(penv - pcen, 1.0) / 215.0))
      + 1.0, 1.0), 2.5) AS b_s
  FROM params
"""

# Holland (1980) gradient wind + attenuated translation component
# (windfield.holland_wind_ms twin); r_km references must be bound by
# the caller's SELECT via the `pairs` CTE.
WIND_EXPR_SQL = """
  greatest(
    sqrt(
      b_s / 1.15 * pow(rmw_km / greatest(r_km, 1.0), b_s)
        * (greatest(penv - pcen, 1.0) * 100.0)
        * exp(1.0 - pow(rmw_km / greatest(r_km, 1.0), b_s))
      + (greatest(r_km, 1.0) * 1000.0
         * abs(2.0 * 7.292e-5 * sin(radians(t_lat))) / 2.0)
        * (greatest(r_km, 1.0) * 1000.0
           * abs(2.0 * 7.292e-5 * sin(radians(t_lat))) / 2.0)
    )
    - greatest(r_km, 1.0) * 1000.0
      * abs(2.0 * 7.292e-5 * sin(radians(t_lat))) / 2.0
    + v_trans_ms * least(1.0, rmw_km / greatest(r_km, 1.0)),
  0.0)
"""

WINDFIELD_SQL = f"""
  WITH tracks AS ({TRACKS_SQL}),
  params AS ({PARAMS_SQL}),
  bs AS ({BS_SQL}),
  centroids AS ({CENTROIDS_SQL}),
  pairs AS (
    SELECT b.ens_id, b.step, c.centroid_id,
           b.lat AS t_lat, b.pcen, b.penv, b.v_trans_ms, b.rmw_km, b.b_s,
           2 * 6367.0 * asin(sqrt(
             pow(sin(radians(b.lat - c.lat) / 2), 2)
             + cos(radians(c.lat)) * cos(radians(b.lat))
               * pow(sin(radians(b.lon - c.lon) / 2), 2)
           )) AS r_km
    FROM bs b JOIN centroids c
      ON c.lat BETWEEN b.lat - 5.5 AND b.lat + 5.5
     AND c.lon BETWEEN b.lon - 5.5 AND b.lon + 5.5
  ),
  wf AS (
    SELECT ens_id, step, centroid_id, {WIND_EXPR_SQL} AS wind_ms
    FROM pairs
  )
"""

MUNI_HAZARD_SQL = f"""
  {WINDFIELD_SQL},
  centroid_admin AS ({CENTROIDS_SQL.replace('c(id)', 'ca(id)')}),
  hazard AS (
    SELECT ca.adm3_pcode, w.ens_id,
           count(*) AS value_count,
           max(w.wind_ms) AS v_max
    FROM wf w JOIN centroid_admin ca ON w.centroid_id = ca.centroid_id
    WHERE w.wind_ms > 17.5
    GROUP BY 1, 2
  ),
  munis AS ({MUNIS_SQL}),
  dists AS (
    SELECT m.adm3_pcode, t.ens_id,
           min(sqrt((m.m_lat - t.lat) * (m.m_lat - t.lat)
                    + (m.m_lon - t.lon) * (m.m_lon - t.lon)) * 111.0)
             AS dis_track_min
    FROM munis m CROSS JOIN tracks t
    GROUP BY 1, 2
  ),
  muni_hazard AS (
    SELECT h.adm3_pcode, h.ens_id, h.value_count, h.v_max, d.dis_track_min
    FROM hazard h JOIN dists d
      ON h.adm3_pcode = d.adm3_pcode AND h.ens_id = d.ens_id
  )
"""

DAMAGE_SQL = f"""
  {MUNI_HAZARD_SQL},
  damage AS (
    SELECT mh.adm3_pcode, mh.ens_id, mh.v_max, mh.dis_track_min,
           CASE
             WHEN mh.dis_track_min > 300.0 THEN 0.0
             WHEN mh.v_max > 25.0 THEN
               m.housing_units * least(1.0,
                 (mh.v_max - 25.0) / 40.0 * ((mh.v_max - 25.0) / 40.0)
                 * ((mh.v_max - 25.0) / 40.0))
             ELSE 0.0
           END AS damage_predicted
    FROM muni_hazard mh JOIN munis m ON mh.adm3_pcode = m.adm3_pcode
  )
"""


# ------------------------------------------------------------ Spark builders
def gen_tracks(spark: SparkSession) -> DataFrame:
    """Synthetic 52-member ensemble track set — the Spark twin of
    TRACKS_SQL (FIXTURES.md §1 scenario: NW-curving landfalling storm
    with per-member modular pseudo-noise)."""
    ids = spark.range(N_MEMBERS * N_STEPS)
    s = (F.col("id") % N_STEPS).cast("bigint")
    e = F.expr(f"id div {N_STEPS}")
    nlat = (e * 7919) % 97 / 97.0 - 0.5
    nlon = (e * 104729) % 89 / 89.0 - 0.5
    q = (s - 20.0) / 16.0
    vraw = F.greatest(
        18.0 + 42.0 * (1.0 - q * q) + (e * 6151) % 83 / 83.0 * 4.0,
        F.lit(15.0),
    )
    return ids.select(
        e.cast("bigint").alias("ens_id"),
        s.alias("step"),
        (7.0 + s * 0.28 + nlat * 0.9 + s * nlat * 0.02).alias("lat"),
        (138.0 - s * 0.52 + nlon * 0.9 + s * nlon * 0.02).alias("lon"),
        vraw.alias("vmax"),
        (1010.0 - vraw).alias("pcen"),
        F.lit(1006.0).alias("penv"),
    )


def gen_centroids(spark: SparkSession) -> DataFrame:
    """0.25° centroid grid with the precomputed J1 centroid→adm3
    mapping (the point-in-polygon substitute, SURVEY §7.4)."""
    ids = spark.range(GRID_ROWS * GRID_COLS)
    i = F.expr(f"id div {GRID_COLS}")
    j = F.col("id") % GRID_COLS
    muni_idx = F.expr(
        f"(id div {GRID_COLS}) div 2 * {MUNI_COLS} + (id % {GRID_COLS}) div 2"
    )
    return ids.select(
        F.col("id").cast("bigint").alias("centroid_id"),
        (6.0 + i * 0.25).alias("lat"),
        (118.0 + j * 0.25).alias("lon"),
        F.concat(
            F.lit("PH"), F.lpad(muni_idx.cast("string"), 9, "0")
        ).alias("adm3_pcode"),
    )


def gen_munis(spark: SparkSession) -> DataFrame:
    """Municipality spine: pcode, 0.5°-box center, deterministic
    housing-unit exposure (FIXTURES.md §5/§6 stand-in)."""
    ids = spark.range(27 * MUNI_COLS)
    mi = F.expr(f"id div {MUNI_COLS}")
    mj = F.col("id") % MUNI_COLS
    return ids.select(
        F.concat(
            F.lit("PH"), F.lpad(F.col("id").cast("string"), 9, "0")
        ).alias("adm3_pcode"),
        (6.0 + (mi * 0.5 + 0.25)).alias("m_lat"),
        (118.0 + (mj * 0.5 + 0.25)).alias("m_lon"),
        (500 + (F.col("id") * 37) % 1500).cast("bigint").alias("housing_units"),
    )


def _chain(
    spark: SparkSession, tracks: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """(muni_hazard, damage) of ``tracks`` on the generated centroid grid
    and municipalities: the pipeline's layers without its persists."""
    cents = gen_centroids(spark)
    munis = gen_munis(spark)
    mh = chain.muni_hazard(tracks, chain.windfield(tracks, cents), cents, munis)
    return mh, chain.damage(mh, munis)


def _muni_hazard(spark: SparkSession) -> DataFrame:
    return _chain(spark, gen_tracks(spark))[0]


def _damage(spark: SparkSession) -> DataFrame:
    return _chain(spark, gen_tracks(spark))[1]


# ------------------------------------------------------------------ queries
@register(
    "tc_tracks_gen",
    f"""
    WITH tracks AS ({TRACKS_SQL})
    SELECT ens_id, step, round(lat, 6) AS lat, round(lon, 6) AS lon,
           round(vmax, 6) AS vmax, round(pcen, 6) AS pcen, penv
    FROM tracks
    """,
    doc="Synthetic ECMWF-style 52-member track set (FIXTURES.md §1, "
        "tc_tracks_forecast.py:296-329 data model): the generator "
        "every domain query builds on",
)
def tc_tracks_gen(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gen_tracks(spark).select(
        "ens_id",
        "step",
        F.round("lat", 6).alias("lat"),
        F.round("lon", 6).alias("lon"),
        F.round("vmax", 6).alias("vmax"),
        F.round("pcen", 6).alias("pcen"),
        "penv",
    )


@register(
    "tc_track_params",
    f"""
    WITH tracks AS ({TRACKS_SQL}),
    params AS ({PARAMS_SQL}),
    bs AS ({BS_SQL})
    SELECT ens_id, step,
           round(v_trans_ms, 6) AS v_trans_ms,
           round(dp_dt, 6) AS dp_dt,
           round(rmw_km, 6) AS rmw_km,
           round(b_s, 6) AS b_s
    FROM bs
    """,
    doc="K1 per-point physics scalars: translation speed (W2 lead), "
        "pressure tendency (W1/W7 lag), RMW estimate (F18), Holland "
        "2008 b_s — all window + codegen expressions",
)
def tc_track_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ibf_typhoon_data_pipeline_spark.operators.windfield import (
        track_point_params,
    )

    tp = track_point_params(gen_tracks(spark))
    return tp.select(
        "ens_id",
        "step",
        F.round("v_trans_ms", 6).alias("v_trans_ms"),
        F.round("dp_dt", 6).alias("dp_dt"),
        F.round("rmw_km", 6).alias("rmw_km"),
        F.round("b_s", 6).alias("b_s"),
    )


@register(
    "tc_windfield_holland",
    f"""
    {WINDFIELD_SQL}
    SELECT ens_id, centroid_id, count(*) AS n_steps,
           round(max(wind_ms), 3) AS intensity_ms
    FROM wf WHERE wind_ms > 17.5
    GROUP BY 1, 2
    """,
    doc="K1+K2 Holland windfield → per-(member, centroid) max "
        "intensity above the 17.5 m/s threshold "
        "(trop_cyclone.py:515-639,408-413 semantics, independent "
        "implementation from the published equations); bbox predicate "
        "inside the join = X1 anti-cartesian guard",
)
def tc_windfield_holland(spark: SparkSession, sf_dir: str) -> DataFrame:
    tracks = gen_tracks(spark)
    cents = gen_centroids(spark).select("centroid_id", "lat", "lon")
    wf = windfield_expr(tracks, cents)
    # count + max in ONE partial-agg groupBy (K2 reduction; no second
    # scan of the pair space)
    return wf.groupBy("ens_id", "centroid_id").agg(
        F.count("*").alias("n_steps"),
        F.round(F.max("wind_ms"), 3).alias("intensity_ms"),
    )


# --------------------------------------- K1 on a skewed dense grid
# Durability evidence for the windfield pair join at scale (VERDICT r8
# item 6): ~84% of the centroids packed into ONE 2° grid-join cell —
# a nested high-resolution nowcast domain under the storm — so the
# cell key the grid join shuffles on is pathologically skewed. The
# plan leaves the join strategy to AQE (broadcast=False: at bench SF
# it broadcasts; on a multi-event 100 TB replay the track batch
# outgrows the threshold and the dense cell becomes a skewed shuffle
# partition that AQE must split at runtime —
# tests/test_aqe_skew.py::test_windfield_skewgrid_splits drives that
# degraded path and requires value parity; the entry also rides the
# forced-shuffle sweep in test_shuffle_path_parity).
SKEW_DENSE = 10_000  # 100 × 100 at 0.02° inside [14,16)×[120,122)

SKEW_CENTROIDS_SQL = f"""
  SELECT CAST(id AS BIGINT) AS centroid_id,
         14.0 + (id // 100) * 0.02 AS lat,
         120.0 + (id % 100) * 0.02 AS lon
  FROM range({SKEW_DENSE}) AS d(id)
  UNION ALL
  SELECT CAST(id AS BIGINT) + {SKEW_DENSE} AS centroid_id,
         6.0 + (id // {GRID_COLS}) * 0.25 AS lat,
         118.0 + (id % {GRID_COLS}) * 0.25 AS lon
  FROM range({GRID_ROWS * GRID_COLS}) AS b(id)
"""


def gen_centroids_skewed(spark: SparkSession) -> DataFrame:
    """Spark twin of SKEW_CENTROIDS_SQL — token-for-token float ops."""
    dense = spark.range(SKEW_DENSE).select(
        F.col("id").cast("bigint").alias("centroid_id"),
        (14.0 + F.expr("id div 100") * 0.02).alias("lat"),
        (120.0 + (F.col("id") % 100) * 0.02).alias("lon"),
    )
    bg = spark.range(GRID_ROWS * GRID_COLS).select(
        (F.col("id").cast("bigint") + SKEW_DENSE).alias("centroid_id"),
        (6.0 + F.expr(f"id div {GRID_COLS}") * 0.25).alias("lat"),
        (118.0 + (F.col("id") % GRID_COLS) * 0.25).alias("lon"),
    )
    return dense.unionByName(bg)


@register(
    "tc_windfield_skewgrid",
    f"""
    WITH tracks AS (SELECT * FROM ({TRACKS_SQL}) AS t WHERE ens_id < 8),
    params AS ({PARAMS_SQL}),
    bs AS ({BS_SQL}),
    centroids AS ({SKEW_CENTROIDS_SQL}),
    pairs AS (
      SELECT b.ens_id, b.step, c.centroid_id,
             b.lat AS t_lat, b.pcen, b.penv, b.v_trans_ms, b.rmw_km, b.b_s,
             2 * 6367.0 * asin(sqrt(
               pow(sin(radians(b.lat - c.lat) / 2), 2)
               + cos(radians(c.lat)) * cos(radians(b.lat))
                 * pow(sin(radians(b.lon - c.lon) / 2), 2)
             )) AS r_km
      FROM bs b JOIN centroids c
        ON c.lat BETWEEN b.lat - 5.5 AND b.lat + 5.5
       AND c.lon BETWEEN b.lon - 5.5 AND b.lon + 5.5
    ),
    wf AS (
      SELECT ens_id, step, centroid_id, {WIND_EXPR_SQL} AS wind_ms
      FROM pairs
    )
    SELECT ens_id, centroid_id, count(*) AS n_steps,
           round(max(wind_ms), 3) AS intensity_ms
    FROM wf WHERE wind_ms > 17.5
    GROUP BY 1, 2
    """,
    doc="K1 Holland windfield over a SKEWED dense-nest grid (84% of "
        "centroids in one 2° grid-join cell — a nested nowcast domain "
        "under the storm, 8-member subset): same kernel and output "
        "contract as tc_windfield_holland but the pair join is left "
        "to AQE (no broadcast hint), so the degraded shuffle path "
        "exercises runtime skew-splitting on the dense cell key "
        "(trop_cyclone.py:515-639 semantics on a realistic uneven "
        "centroid layout)",
)
def tc_windfield_skewgrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    tracks = gen_tracks(spark).filter(F.col("ens_id") < 8)
    cents = gen_centroids_skewed(spark)
    wf = windfield_expr(tracks, cents, broadcast=False)
    return wf.groupBy("ens_id", "centroid_id").agg(
        F.count("*").alias("n_steps"),
        F.round(F.max("wind_ms"), 3).alias("intensity_ms"),
    )


# v_g only: the translation term multiplied to zero (token-preserving
# replace so every other float op keeps its exact text)
_WIND_EXPR_NO_TRANS = WIND_EXPR_SQL.replace(
    "+ v_trans_ms * least(1.0, rmw_km / greatest(r_km, 1.0)),",
    "+ 0.0 * least(1.0, rmw_km / greatest(r_km, 1.0)),",
)
assert _WIND_EXPR_NO_TRANS != WIND_EXPR_SQL


@register(
    "tc_windfield_vectors",
    f"""
    WITH tracks AS ({TRACKS_SQL}),
    params AS ({PARAMS_SQL}),
    bs AS ({BS_SQL}),
    centroids AS ({CENTROIDS_SQL}),
    kin0 AS (
      SELECT *,
        (lead(lon) OVER w - lon) * 111.12
          * cos(radians((lat + lead(lat) OVER w) / 2.0)) AS seg_dx,
        (lead(lat) OVER w - lat) * 111.12 AS seg_dy
      FROM bs WINDOW w AS (PARTITION BY ens_id ORDER BY step)
    ),
    kin AS (
      SELECT *,
        CASE WHEN sqrt(seg_dx * seg_dx + seg_dy * seg_dy) > 0.0
             THEN seg_dx / sqrt(seg_dx * seg_dx + seg_dy * seg_dy)
             ELSE 0.0 END AS hx,
        CASE WHEN sqrt(seg_dx * seg_dx + seg_dy * seg_dy) > 0.0
             THEN seg_dy / sqrt(seg_dx * seg_dx + seg_dy * seg_dy)
             ELSE 0.0 END AS hy
      FROM kin0
    ),
    pairs AS (
      SELECT b.ens_id, b.step, c.centroid_id, b.lat AS t_lat,
             b.pcen, b.penv, b.v_trans_ms, b.rmw_km, b.b_s, b.hx, b.hy,
             (c.lon - b.lon) * 111.12
               * cos(radians((b.lat + c.lat) / 2.0)) AS dx,
             (c.lat - b.lat) * 111.12 AS dy
      FROM kin b JOIN centroids c
        ON c.lat BETWEEN b.lat - 5.5 AND b.lat + 5.5
       AND c.lon BETWEEN b.lon - 5.5 AND b.lon + 5.5
    ),
    geo AS (
      SELECT *, greatest(sqrt(dx * dx + dy * dy), 0.1) AS r_km FROM pairs
    ),
    vg AS (SELECT *, {_WIND_EXPR_NO_TRANS} AS v_g FROM geo),
    vec AS (
      SELECT *,
        v_g * (CASE WHEN t_lat >= 0.0 THEN 1.0 ELSE -1.0 END)
          * (-dy / r_km)
          + least(1.0, rmw_km / r_km) * v_trans_ms * hx AS u_ms,
        v_g * (CASE WHEN t_lat >= 0.0 THEN 1.0 ELSE -1.0 END)
          * (dx / r_km)
          + least(1.0, rmw_km / r_km) * v_trans_ms * hy AS v_ms
      FROM vg
    ),
    spd AS (
      SELECT *, sqrt(u_ms * u_ms + v_ms * v_ms) AS speed_ms FROM vec
    )
    SELECT ens_id, step, centroid_id,
           CAST(round(u_ms * 1000.0) AS BIGINT) AS u_mms,
           CAST(round(v_ms * 1000.0) AS BIGINT) AS v_mms,
           CAST(round(speed_ms * 1000.0) AS BIGINT) AS speed_mms
    FROM spd WHERE speed_ms > 17.5
    """,
    doc="K1 at FULL output fidelity: (u, v) velocity VECTORS — the "
        "reference's windfields arrays (trop_cyclone.py:515-639: "
        "hemisphere-signed tangential rotation + translational "
        "component attenuated by min(1, rmax/r)) — tangential unit "
        "vector (−dy, dx)/r in the equirect frame, no atan2, pure "
        "codegen arithmetic. Outputs quantized to integer milli-m/s "
        "(round→BIGINT): float doubles rounded to 3dp can land on "
        "half-ulp boundaries where Spark's BigDecimal rounding and "
        "DuckDB's mult/div rounding pick different nearest doubles, "
        "and −0.0 vs 0.0 near the tangential axis breaks value "
        "hashing — integers are exact in both engines",
)
def tc_windfield_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ibf_typhoon_data_pipeline_spark.operators.windfield import (
        windfield_vectors,
    )

    tracks = gen_tracks(spark)
    cents = gen_centroids(spark).select("centroid_id", "lat", "lon")
    wf = windfield_vectors(tracks, cents)
    return wf.select(
        "ens_id",
        "step",
        "centroid_id",
        F.round(F.col("u_ms") * 1000.0).cast("long").alias("u_mms"),
        F.round(F.col("v_ms") * 1000.0).cast("long").alias("v_mms"),
        F.round(F.col("speed_ms") * 1000.0).cast("long").alias("speed_mms"),
    )


# equirect r_km twin of the pairs CTE — (c.lat + b.lat) add order and
# the left-assoc (Δ · 111.12 · cos) products mirror equirect_km exactly
_EQUIRECT_R_SQL = """
           sqrt(
             ((b.lon - c.lon) * 111.12 * cos(radians((c.lat + b.lat) / 2.0)))
             * ((b.lon - c.lon) * 111.12 * cos(radians((c.lat + b.lat) / 2.0)))
             + ((b.lat - c.lat) * 111.12) * ((b.lat - c.lat) * 111.12)
           ) AS r_km"""

_WINDFIELD_EQUIRECT_SQL = WINDFIELD_SQL.replace(
    """           2 * 6367.0 * asin(sqrt(
             pow(sin(radians(b.lat - c.lat) / 2), 2)
             + cos(radians(c.lat)) * cos(radians(b.lat))
               * pow(sin(radians(b.lon - c.lon) / 2), 2)
           )) AS r_km""",
    _EQUIRECT_R_SQL.lstrip("\n"),
)
assert "111.12" in _WINDFIELD_EQUIRECT_SQL, "equirect substitution failed"


@register(
    "tc_windfield_equirect",
    f"""
    {_WINDFIELD_EQUIRECT_SQL}
    SELECT ens_id, centroid_id, count(*) AS n_steps,
           round(max(wind_ms), 3) AS intensity_ms
    FROM wf WHERE wind_ms > 17.5
    GROUP BY 1, 2
    """,
    doc="K1 under the EQUIRECT metric — CLIMADA's default dist_approx "
        "(util/coordinates.py:241-319, SURVEY §4 X3 accuracy-vs-speed "
        "switch): √((Δlat·111.12)² + (Δlon·111.12·cos(lat̄))²), no "
        "asin/trig per pair beyond one cos — same join shape, cheaper "
        "codegen hot loop",
)
def tc_windfield_equirect(spark: SparkSession, sf_dir: str) -> DataFrame:
    tracks = gen_tracks(spark)
    cents = gen_centroids(spark).select("centroid_id", "lat", "lon")
    wf = windfield_expr(tracks, cents, metric="equirect")
    return wf.groupBy("ens_id", "centroid_id").agg(
        F.count("*").alias("n_steps"),
        F.round(F.max("wind_ms"), 3).alias("intensity_ms"),
    )


@register(
    "tc_muni_hazard",
    f"""
    {MUNI_HAZARD_SQL}
    SELECT adm3_pcode, ens_id, value_count,
           round(v_max, 3) AS v_max,
           round(dis_track_min, 3) AS dis_track_min
    FROM muni_hazard
    """,
    doc="J2+A1+A2+K4: windfield⋈centroid_admin → per-(muni, member) "
        "cell count, max wind, min degree-space track distance "
        "(forecast_process.py:1563-1640)",
)
def tc_muni_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _muni_hazard(spark).select(
        "adm3_pcode",
        "ens_id",
        "value_count",
        F.round("v_max", 3).alias("v_max"),
        F.round("dis_track_min", 3).alias("dis_track_min"),
    )


@register(
    "tc_prob_within_50km",
    f"""
    {MUNI_HAZARD_SQL}
    SELECT adm3_pcode,
           round(avg(CASE WHEN dis_track_min < 50.0 THEN 1.0 ELSE 0.0 END), 6)
             AS prob_within_50km
    FROM muni_hazard GROUP BY adm3_pcode
    """,
    doc="A4 prob_within_50km: fraction of members passing within 50 km "
        "of each municipality (forecast_process.py:529-535,1644-1653)",
)
def tc_prob_within_50km(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chain.prob_within_50km(_muni_hazard(spark)).select(
        "adm3_pcode", F.round("prob_within_50km", 6).alias("prob_within_50km")
    )


@register(
    "tc_damage_stub",
    f"""
    {DAMAGE_SQL}
    SELECT adm3_pcode, ens_id,
           round(damage_predicted, 3) AS damage_predicted
    FROM damage WHERE damage_predicted > 0.0
    """,
    doc="K6 slot with the §7.2 stub damage model: cubic v_max ramp × "
        "housing units, wind-damage-radius override (P12, "
        "forecast_process.py:527,550-568); swap in the broadcast "
        "XGBoost booster for the full model",
)
def tc_damage_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _damage(spark)
    return d.filter(F.col("damage_predicted") > 0.0).select(
        "adm3_pcode",
        "ens_id",
        F.round("damage_predicted", 3).alias("damage_predicted"),
    )


def trigger_ladder_oracle(alias_20k: str, alias_80k: str) -> str:
    """The DREF/CERF exceedance-ladder oracle, parameterized on the
    boolean aliases — shared by tc_trigger_ladder and the orchestrated
    pipeline_triggers entry so the two cannot silently diverge. With no
    member in ``damage`` the probabilities are 0.0 and the booleans
    false, as in the pipeline's triggers layer."""
    def p(t: str) -> str:
        return f"avg(CASE WHEN total_damage > {t} THEN 1.0 ELSE 0.0 END)"

    return f"""
    {DAMAGE_SQL},
    totals AS (
      SELECT ens_id, sum(damage_predicted) AS total_damage
      FROM damage GROUP BY ens_id
    )
    SELECT round(coalesce({p("20000.0")}, CAST(0.0 AS DOUBLE)), 6) AS prob_gt_20k,
           round(coalesce({p("50000.0")}, CAST(0.0 AS DOUBLE)), 6) AS prob_gt_50k,
           round(coalesce({p("80000.0")}, CAST(0.0 AS DOUBLE)), 6) AS prob_gt_80k,
           coalesce({p("20000.0")} >= 0.5, false) AS {alias_20k},
           coalesce({p("80000.0")} >= 0.5, false) AS {alias_80k}
    FROM totals
    """


@register(
    "tc_trigger_ladder",
    trigger_ladder_oracle("dref_triggered", "cerf_triggered"),
    doc="A5+A7 ensemble trigger: per-member national damage totals → "
        "exceedance-probability ladder → DREF/CERF booleans "
        "(forecast_process.py:1262-1303, settings.py:61-145)",
)
def tc_trigger_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    probs = ("prob_gt_20k", "prob_gt_50k", "prob_gt_80k")
    return chain.triggers(_damage(spark)).select(
        *[F.round(c, 6).alias(c) for c in probs],
        F.col("triggered_20k").alias("dref_triggered"),
        F.col("triggered_80k").alias("cerf_triggered"),
    )


@register(
    "tc_exposure_json",
    f"""
    {DAMAGE_SQL},
    keep_last AS (
      SELECT adm3_pcode, damage_predicted FROM (
        SELECT adm3_pcode, damage_predicted, row_number() OVER (
          PARTITION BY adm3_pcode, ens_id
          ORDER BY damage_predicted DESC, v_max DESC
        ) AS rn FROM damage
      ) WHERE rn = 1
    ),
    per_muni AS (
      SELECT adm3_pcode,
             CAST(round(avg(damage_predicted)) AS BIGINT) AS amount
      FROM keep_last GROUP BY adm3_pcode
    )
    SELECT substr(adm3_pcode, 1, 4) AS region,
           concat('[',
             string_agg(
               concat('{{"placeCode":"', adm3_pcode,
                      '","amount":', CAST(amount AS VARCHAR), '}}'),
               ',' ORDER BY adm3_pcode),
             ']') AS exposure_json
    FROM per_muni WHERE amount > 0 GROUP BY 1
    """,
    doc="A9 dedup-keep-last (a no-op on the chain's damage layer, "
        "already one row per muni and member) + A3 ensemble mean + "
        "F19 exposure JSON document per region (forecast_process.py:"
        "544,986-995,1160-1233) — collect_list(struct)+to_json "
        "replaces iterrows",
)
def tc_exposure_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chain.exposure_docs(_damage(spark))


@register(
    "tc_track_interp_30min",
    f"""
    WITH tracks AS ({TRACKS_SQL}),
    pts AS (
      SELECT ens_id,
             TIMESTAMP '2024-06-01 00:00:00' + INTERVAL 1 HOUR * (step * 6) AS t,
             CASE WHEN (ens_id * 31 + step) % 11 = 0 THEN NULL
                  ELSE vmax END AS v
      FROM tracks
    ), bounds AS (
      SELECT ens_id, min(t) AS t0, max(t) AS t1 FROM pts GROUP BY 1
    ), grid AS (
      SELECT ens_id, unnest(generate_series(t0, t1, INTERVAL 30 MINUTE)) AS t
      FROM bounds
    ), joined AS (
      SELECT g.ens_id, g.t, p.v
      FROM grid g LEFT JOIN pts p ON g.ens_id = p.ens_id AND g.t = p.t
    ), brk AS (
      SELECT ens_id, t, v,
        last_value(v IGNORE NULLS) OVER w_prev AS v0,
        last_value(CASE WHEN v IS NOT NULL THEN epoch(t) END IGNORE NULLS)
          OVER w_prev AS t0,
        first_value(v IGNORE NULLS) OVER w_next AS v1,
        first_value(CASE WHEN v IS NOT NULL THEN epoch(t) END IGNORE NULLS)
          OVER w_next AS t1
      FROM joined
      WINDOW
        w_prev AS (PARTITION BY ens_id ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w_next AS (PARTITION BY ens_id ORDER BY t
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT ens_id, strftime(t, '%Y-%m-%d %H:%M:%S') AS t_str,
           round(CASE
             WHEN v IS NOT NULL THEN v
             WHEN v0 IS NOT NULL AND v1 IS NOT NULL AND t1 <> t0
               THEN v0 + (v1 - v0) * (epoch(t) - t0) / (t1 - t0)
             WHEN v0 IS NOT NULL THEN v0
             ELSE NULL END, 6) AS vmax_interp
    FROM brk
    """,
    doc="F16 the reference's resample('0.5H').interpolate('linear') on "
        "tracks with NaN-masked vmax (track_data_clean.py:43, "
        "tt:1417-1465): 41 points → 481 per member, zero UDFs",
)
def tc_track_interp_30min(spark: SparkSession, sf_dir: str) -> DataFrame:
    tracks = gen_tracks(spark)
    base = F.to_timestamp(F.lit("2024-06-01 00:00:00"))
    pts = tracks.select(
        "ens_id",
        F.timestamp_seconds(
            F.unix_timestamp(base) + F.col("step") * 6 * 3600
        ).alias("t"),
        F.when((F.col("ens_id") * 31 + F.col("step")) % 11 == 0, None)
        .otherwise(F.col("vmax"))
        .alias("v"),
    )
    out = resample_interpolate(pts, ["ens_id"], "t", ["v"], step_minutes=30)
    return out.select(
        "ens_id",
        F.date_format("t", "yyyy-MM-dd HH:mm:ss").alias("t_str"),
        F.round("v", 6).alias("vmax_interp"),
    )


@register(
    "tc_landfall_classify",
    f"""
    WITH tracks AS ({TRACKS_SQL}),
    flagged AS (
      SELECT *,
             lat BETWEEN 8.0 AND 16.0 AND lon BETWEEN 120.0 AND 126.0
               AS on_land,
             sqrt((lat - 12.0) * (lat - 12.0) + (lon - 123.0) * (lon - 123.0))
               * 111.0 AS dist_center_km
      FROM tracks
    ),
    summary AS (
      SELECT ens_id,
             min(CASE WHEN on_land THEN step END) AS first_landfall_step,
             round(min(dist_center_km), 3) AS closest_km
      FROM flagged GROUP BY ens_id
    )
    SELECT ens_id,
           first_landfall_step IS NOT NULL AS made_landfall,
           first_landfall_step,
           closest_km,
           CASE
             WHEN first_landfall_step IS NOT NULL THEN
               CASE WHEN greatest(first_landfall_step * 6 - 8, 0) > 168
                    THEN '168-hour-and-more'
                    ELSE concat(CAST(greatest(first_landfall_step * 6 - 8, 0)
                                     AS VARCHAR), '-hour') END
             ELSE 'no-landfall' END AS lead_label,
           CASE
             WHEN first_landfall_step IS NOT NULL
                  AND greatest(first_landfall_step * 6 - 8, 0) <= 72 THEN 1
             WHEN first_landfall_step IS NOT NULL THEN 2
             WHEN closest_km < 200.0 THEN 5
             ELSE 10 END AS landfall_code
    FROM summary
    """,
    doc="K7 landfall classification: on-land flag (J1 contains "
        "substitute), first-landfall point (W3), closest approach "
        "(W4), lead-time label with −8h latency + clamp (F5), code "
        "ladder (forecast_process.py:655-879)",
)
def tc_landfall_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    tracks = gen_tracks(spark)
    flagged = tracks.withColumn(
        "on_land",
        F.col("lat").between(8.0, 16.0) & F.col("lon").between(120.0, 126.0),
    ).withColumn(
        "dist_center_km",
        F.sqrt(
            (F.col("lat") - 12.0) * (F.col("lat") - 12.0)
            + (F.col("lon") - 123.0) * (F.col("lon") - 123.0)
        )
        * 111.0,
    )
    summary = flagged.groupBy("ens_id").agg(
        F.min(F.when(F.col("on_land"), F.col("step"))).alias(
            "first_landfall_step"
        ),
        F.round(F.min("dist_center_km"), 3).alias("closest_km"),
    )
    lead_h = F.greatest(F.col("first_landfall_step") * 6 - 8, F.lit(0))
    label = F.when(
        F.col("first_landfall_step").isNotNull(),
        F.when(lead_h > 168, F.lit("168-hour-and-more")).otherwise(
            F.concat(lead_h.cast("string"), F.lit("-hour"))
        ),
    ).otherwise(F.lit("no-landfall"))
    code = (
        F.when(
            F.col("first_landfall_step").isNotNull() & (lead_h <= 72), 1
        )
        .when(F.col("first_landfall_step").isNotNull(), 2)
        .when(F.col("closest_km") < 200.0, 5)
        .otherwise(10)
    )
    return summary.select(
        "ens_id",
        F.col("first_landfall_step").isNotNull().alias("made_landfall"),
        "first_landfall_step",
        "closest_km",
        label.alias("lead_label"),
        code.alias("landfall_code"),
    )


@register(
    "tc_category_binning",
    f"""
    WITH tracks AS ({TRACKS_SQL}),
    peak AS (SELECT ens_id, max(vmax) AS peak_ms FROM tracks GROUP BY ens_id)
    SELECT ens_id,
           round(peak_ms * 3.6, 6) AS peak_kph,
           round(peak_ms * 1.49, 6) AS gust_ms,
           CASE WHEN peak_ms * 3.6 <= 62 THEN 'TD'
                WHEN peak_ms * 3.6 <= 88 THEN 'TS'
                WHEN peak_ms * 3.6 <= 117 THEN 'STS'
                WHEN peak_ms * 3.6 <= 185 THEN 'TY'
                ELSE 'STY' END AS category
    FROM peak
    """,
    doc="F9+F10 per-member peak-wind unit conversions and PAGASA "
        "category binning (forecast_process.py:844-847)",
)
def tc_category_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ibf_typhoon_data_pipeline_spark.functions.convert import (
        GUST_FACTOR,
        MS_TO_KPH,
        wind_category_kph,
    )

    tracks = gen_tracks(spark)
    peak = tracks.groupBy("ens_id").agg(F.max("vmax").alias("peak_ms"))
    kph = F.col("peak_ms") * MS_TO_KPH
    return peak.select(
        "ens_id",
        F.round(kph, 6).alias("peak_kph"),
        F.round(F.col("peak_ms") * GUST_FACTOR, 6).alias("gust_ms"),
        wind_category_kph(kph).alias("category"),
    )


@register(
    "tc_windfield_kernel",
    f"""
    {WINDFIELD_SQL}
    SELECT ens_id, centroid_id, count(*) AS n_steps,
           CAST(round(max(wind_ms) * 1000.0) AS BIGINT) AS intensity_mms
    FROM wf WHERE wind_ms > 17.5
    GROUP BY 1, 2
    """,
    doc="K1 as the Arrow-batched applyInPandas kernel (one group per "
        "member, centroids broadcast) — the UDAF/UDTF surface of "
        "SURVEY §2.11. Oracle = the expr path's SQL with integer "
        "milli-m/s quantization: measured kernel-vs-expr deviation is "
        "2.8e-14 (numpy and codegen evaluate the same fold order) and "
        "the closest fixture value sits 5e-6 m/s from a milli rounding "
        "boundary — 8 orders of magnitude of margin, so the hash "
        "cannot flip on this data",
)
def tc_windfield_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    tracks = gen_tracks(spark)
    cents = gen_centroids(spark).select("centroid_id", "lat", "lon")
    wf = windfield_kernel(tracks, cents)
    return wf.groupBy("ens_id", "centroid_id").agg(
        F.count("*").alias("n_steps"),
        F.round(F.max("wind_ms") * 1000.0).cast("long").alias("intensity_mms"),
    )


WILLOUGHBY_SQL = f"""
  WITH tracks AS ({TRACKS_SQL}),
  centroids AS ({CENTROIDS_SQL}),
  wp AS (
    SELECT ens_id, step, lat, lon, vmax,
      46.6 * exp(-0.0155 * vmax + 0.0169 * abs(lat)) AS rmax,
      317.1 - 2.026 * vmax + 1.915 * abs(lat) AS x1,
      0.4067 + 0.0144 * vmax - 0.0038 * abs(lat) AS nn,
      greatest(0.0696 + 0.0049 * vmax - 0.0064 * abs(lat), 0.0) AS aa
    FROM tracks
  ),
  pairs AS (
    SELECT w.ens_id, c.centroid_id, w.vmax, w.rmax, w.x1, w.nn, w.aa,
      greatest(2 * 6367.0 * asin(sqrt(
        pow(sin(radians(w.lat - c.lat) / 2), 2)
        + cos(radians(c.lat)) * cos(radians(w.lat))
          * pow(sin(radians(w.lon - c.lon) / 2), 2)
      )), 0.1) AS r
    FROM wp w JOIN centroids c
      ON c.lat BETWEEN w.lat - 5.5 AND w.lat + 5.5
     AND c.lon BETWEEN w.lon - 5.5 AND w.lon + 5.5
  ),
  wf_w AS (
    SELECT ens_id, centroid_id,
      CASE WHEN r <= rmax THEN vmax * pow(r / rmax, nn)
           ELSE vmax * ((1.0 - aa) * exp((rmax - r) / x1)
                        + aa * exp((rmax - r) / 25.0)) END AS wind_ms
    FROM pairs
  )
"""


@register(
    "tc_windfield_willoughby",
    f"""
    {WILLOUGHBY_SQL}
    SELECT ens_id, centroid_id, count(*) AS n_steps,
           round(max(wind_ms), 3) AS intensity_ms
    FROM wf_w WHERE wind_ms > 17.5
    GROUP BY 1, 2
    """,
    doc="K5 Willoughby et al. (2006) parametric profile — the "
        "reference's legacy R wind model "
        "(lib_r/prepare_typhoon_input.R:200-516 semantics) as a "
        "drop-in alternative kernel to Holland, same join shape",
)
def tc_windfield_willoughby(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ibf_typhoon_data_pipeline_spark.operators.windfield import (
        windfield_willoughby,
    )

    tracks = gen_tracks(spark)
    cents = gen_centroids(spark).select("centroid_id", "lat", "lon")
    wf = windfield_willoughby(tracks, cents)
    return wf.groupBy("ens_id", "centroid_id").agg(
        F.count("*").alias("n_steps"),
        F.round(F.max("wind_ms"), 3).alias("intensity_ms"),
    )


def _willoughby_blend_oracle() -> str:
    """DuckDB twin of windfield_willoughby_blend, assembled from the
    SAME SQL text constants the Spark plan feeds to F.expr — the
    unrolled Newton steps become chained CTEs, each re-aliasing xi
    (one materialized column per step, mirroring withColumn)."""
    from ibf_typhoon_data_pipeline_spark.operators.windfield import (
        WILL_XI0_SQL,
    )

    carry = "ens_id, step, lat, lon, vmax, rmax, x1, nn, aa, wstar"
    ctes = [
        f"wq AS (SELECT ens_id, step, lat, lon, vmax,\n"
        f"  {WILL_RMAX_SQL} AS rmax,\n  {WILL_X1_SQL} AS x1,\n"
        f"  {WILL_N_SQL} AS nn,\n  {WILL_A_SQL} AS aa FROM tracks)",
        f"wq2 AS (SELECT *, {WILL_WSTAR_SQL} AS wstar FROM wq)",
        f"wb0 AS (SELECT {carry}, {WILL_XI0_SQL} AS xi FROM wq2)",
    ]
    for i in range(1, WILL_XI_STEPS + 1):
        ctes.append(
            f"wb{i} AS (SELECT {carry},\n  {WILL_XI_STEP_SQL} AS xi"
            f" FROM wb{i - 1})"
        )
    ctes.append(
        f"wsolved AS (SELECT *, {WILL_BW_SQL} AS bw FROM wb{WILL_XI_STEPS})"
    )
    ctes.append(f"wfinal AS (SELECT *, {WILL_R1_SQL} AS r1 FROM wsolved)")
    ctes.append(
        """pairs AS (
    SELECT w.ens_id, c.centroid_id, w.vmax, w.rmax, w.x1, w.nn, w.aa,
      w.bw, w.r1,
      greatest(2 * 6367.0 * asin(sqrt(
        pow(sin(radians(w.lat - c.lat) / 2), 2)
        + cos(radians(c.lat)) * cos(radians(w.lat))
          * pow(sin(radians(w.lon - c.lon) / 2), 2)
      )), 0.1) AS r
    FROM wfinal w JOIN centroids c
      ON c.lat BETWEEN w.lat - 5.5 AND w.lat + 5.5
     AND c.lon BETWEEN w.lon - 5.5 AND w.lon + 5.5
  )"""
    )
    ctes.append(
        f"scored AS (SELECT *,\n  {WILL_VI_SQL} AS vi,\n  {WILL_VO_SQL} AS vo,"
        f"\n  {WILL_XIR_SQL} AS xir FROM pairs)"
    )
    ctes.append(f"wf_b AS (SELECT *, {WILL_BLEND_SQL} AS wind_ms FROM scored)")
    body = ",\n  ".join(ctes)
    return f"""
    WITH tracks AS ({TRACKS_SQL}),
    centroids AS ({CENTROIDS_SQL}),
    {body}
    SELECT ens_id, centroid_id, count(*) AS n_steps,
           round(max(wind_ms), 3) AS intensity_ms
    FROM wf_b WHERE wind_ms > 17.5
    GROUP BY 1, 2
    """


@register(
    "tc_windfield_willoughby_blend",
    _willoughby_blend_oracle(),
    doc="K5 at full Willoughby et al. (2006) fidelity on the grid-cell "
        "hash pair join (full 5.5-degree box): 9th-order "
        "smoothstep ramp between inner power law and outer "
        "dual-exponential, ramp offset from the smoothness condition "
        "solved by 8 unrolled clamped Newton steps "
        "(lib_r/prepare_typhoon_input.R:200-516 Newton ξ semantics); "
        "per-point solve runs on the track side BEFORE the pair join",
)
def tc_windfield_willoughby_blend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ibf_typhoon_data_pipeline_spark.operators.windfield import (
        windfield_willoughby_blend,
    )

    tracks = gen_tracks(spark)
    cents = gen_centroids(spark).select("centroid_id", "lat", "lon")
    wf = windfield_willoughby_blend(tracks, cents)
    return wf.groupBy("ens_id", "centroid_id").agg(
        F.count("*").alias("n_steps"),
        F.round(F.max("wind_ms"), 3).alias("intensity_ms"),
    )


def _spline_oracle() -> str:
    """Lazy oracle for the grouped-map spline kernel, the sketch-fit
    pattern applied to F17: DuckDB evaluates TRACKS_SQL (the token-twin
    of gen_tracks, so the knots are bitwise-identical to what the Spark
    kernel receives), the SAME natural_spline_grid numpy solve runs
    driver-side, and the resulting grid is emitted as quoted-string
    double literals — exact round-trip — with the micro-unit
    quantization applied as IDENTICAL SQL text in both engines."""
    import duckdb

    import numpy as np

    from ibf_typhoon_data_pipeline_spark.operators.interpolation import (
        natural_spline_grid,
    )

    rows = duckdb.connect().execute(
        f"WITH tracks AS ({TRACKS_SQL})"
        " SELECT ens_id, CAST(step AS DOUBLE) AS x, vmax FROM tracks"
        " ORDER BY ens_id, step"
    ).fetchall()
    per: dict[int, list[tuple[float, float]]] = {}
    for e, x, y in rows:
        per.setdefault(int(e), []).append((float(x), float(y)))
    lits = []
    for e in sorted(per):
        arr = np.asarray(per[e], dtype="float64")
        grid, vals = natural_spline_grid(arr[:, 0], arr[:, 1], 0.5)
        lits.extend(
            f"({e}, CAST('{float(g)!r}' AS DOUBLE),"
            f" CAST('{float(v)!r}' AS DOUBLE))"
            for g, v in zip(grid, vals)
        )
    values = ",\n      ".join(lits)
    return f"""
    SELECT CAST(ens_id AS BIGINT) AS ens_id, x,
           CAST(round(y * 1000000.0) AS BIGINT) AS vmax_spline_micro
    FROM (VALUES {values}) AS s(ens_id, x, y)
    """


@register(
    "tc_track_spline",
    _spline_oracle,  # lazy: DuckDB knots + shared numpy solve on demand
    doc="F17 natural-cubic-spline track resampling as applyInPandas "
        "(lib_r/track_interpolation.R:41-50, tc_tracks.py:1434): whole-"
        "series fit per track, numpy tridiagonal solve, no scipy. "
        "Output quantized to integer micro-units so both engines round "
        "a bitwise-identical double with the same SQL text (round→"
        "BIGINT is exact at integer boundaries; the spline invariants "
        "— knot reproduction, collinear→linear — stay pinned in pytest)",
)
def tc_track_spline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ibf_typhoon_data_pipeline_spark.operators.interpolation import (
        cubic_spline_resample,
    )

    tracks = gen_tracks(spark).select(
        "ens_id", F.col("step").cast("double").alias("x"), F.col("vmax").alias("y")
    )
    out = cubic_spline_resample(tracks, ["ens_id"], "x", "y", step=0.5)
    return out.select(
        "ens_id",
        "x",
        F.expr("CAST(round(y * 1000000.0) AS BIGINT)").alias(
            "vmax_spline_micro"
        ),
    )


# rain raster, long form (FIXTURES.md §7): 30 GEFS members × 12
# six-hour steps × the 0.25° cell grid; storm-correlated cone + modular
# noise, exact arithmetic in both engines
N_RAIN_MEMBERS = 30
N_RAIN_STEPS = 12

RAIN_SQL = f"""
  SELECT CAST(id % {N_RAIN_MEMBERS} AS BIGINT) + 1 AS number,
         CAST((id // {N_RAIN_MEMBERS}) % {N_RAIN_STEPS} AS BIGINT) AS t,
         CAST((id // {N_RAIN_MEMBERS}) // {N_RAIN_STEPS} AS BIGINT) AS cell_id,
         greatest(0.0,
           35.0 - 7.0 * sqrt(
             (6.0 + (((id // {N_RAIN_MEMBERS}) // {N_RAIN_STEPS}) // {GRID_COLS}) * 0.25
              - (8.0 + ((id // {N_RAIN_MEMBERS}) % {N_RAIN_STEPS}) * 0.5))
             * (6.0 + (((id // {N_RAIN_MEMBERS}) // {N_RAIN_STEPS}) // {GRID_COLS}) * 0.25
                - (8.0 + ((id // {N_RAIN_MEMBERS}) % {N_RAIN_STEPS}) * 0.5))
             + (118.0 + (((id // {N_RAIN_MEMBERS}) // {N_RAIN_STEPS}) % {GRID_COLS}) * 0.25
                - (135.0 - ((id // {N_RAIN_MEMBERS}) % {N_RAIN_STEPS}) * 1.0))
             * (118.0 + (((id // {N_RAIN_MEMBERS}) // {N_RAIN_STEPS}) % {GRID_COLS}) * 0.25
                - (135.0 - ((id // {N_RAIN_MEMBERS}) % {N_RAIN_STEPS}) * 1.0))
           ))
         + ((id % {N_RAIN_MEMBERS}) * 53
            + ((id // {N_RAIN_MEMBERS}) % {N_RAIN_STEPS}) * 17
            + ((id // {N_RAIN_MEMBERS}) // {N_RAIN_STEPS}) * 29) % 101 / 101.0 * 5.0
           AS mm
  FROM range({N_RAIN_MEMBERS * N_RAIN_STEPS * GRID_ROWS * GRID_COLS}) AS r(id)
"""


def gen_rain(spark: SparkSession) -> DataFrame:
    """Spark twin of RAIN_SQL — a rain cone following the storm center
    (8+0.5t, 135−t) plus per-(member, time, cell) modular noise."""
    ids = spark.range(N_RAIN_MEMBERS * N_RAIN_STEPS * GRID_ROWS * GRID_COLS)
    m = (F.col("id") % N_RAIN_MEMBERS).cast("bigint")
    rest = F.expr(f"id div {N_RAIN_MEMBERS}")
    t = (rest % N_RAIN_STEPS).cast("bigint")
    cell = F.expr(f"(id div {N_RAIN_MEMBERS}) div {N_RAIN_STEPS}")
    lat = 6.0 + F.expr(
        f"((id div {N_RAIN_MEMBERS}) div {N_RAIN_STEPS}) div {GRID_COLS}"
    ) * 0.25
    lon = 118.0 + (cell % GRID_COLS) * 0.25
    clat = 8.0 + t * 0.5
    clon = 135.0 - t * 1.0
    cone = F.greatest(
        F.lit(0.0),
        35.0 - 7.0 * F.sqrt((lat - clat) * (lat - clat) + (lon - clon) * (lon - clon)),
    )
    noise = (m * 53 + t * 17 + cell * 29) % 101 / 101.0 * 5.0
    return ids.select(
        (m + 1).alias("number"),
        t.alias("t"),
        cell.cast("bigint").alias("cell_id"),
        (cone + noise).alias("mm"),
    )


@register(
    "tc_rain_zonal",
    f"""
    WITH rain AS ({RAIN_SQL}),
    cells AS ({CENTROIDS_SQL}),
    reduced AS (
      SELECT cell_id, t, median(mm) AS mm
      FROM rain GROUP BY cell_id, t
    ),
    zonal AS (
      SELECT c.adm3_pcode, r.t, avg(r.mm) AS zone_mean
      FROM reduced r JOIN cells c ON r.cell_id = c.centroid_id
      GROUP BY 1, 2
    )
    SELECT adm3_pcode, round(max(zone_mean), 6) AS HAZ_rainfall_max_24h
    FROM zonal GROUP BY adm3_pcode
    """,
    doc="A11+A12+S5 on the domain tables: 30-member GEFS stack → "
        "ensemble median per cell/time FIRST (the manual agg-pushdown "
        "of Rainfall_data.py:80 — 30× row cut before the zone join) → "
        "zonal mean per (muni, time) → max over time "
        "(Rainfall_data.py:105-122, rename fp:267-274)",
)
def tc_rain_zonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ibf_typhoon_data_pipeline_spark.operators.aggregates import zonal_stats

    rain = gen_rain(spark)
    cells = gen_centroids(spark).select(
        F.col("centroid_id").alias("cell_id"), "adm3_pcode"
    )
    # zonal_stats expects (lat, lon) cell keys; here the cell key is the
    # id itself — inline the same median→mean→max plan on that key
    reduced = rain.groupBy("cell_id", "t").agg(F.median("mm").alias("mm"))
    zonal = (
        reduced.join(F.broadcast(cells), "cell_id")
        .groupBy("adm3_pcode", "t")
        .agg(F.avg("mm").alias("zone_mean"))
    )
    return zonal.groupBy("adm3_pcode").agg(
        F.round(F.max("zone_mean"), 6).alias("HAZ_rainfall_max_24h")
    )


INDICATORS_SQL = f"""
  SELECT concat('PH', lpad(CAST(id AS VARCHAR), 9, '0')) AS Mun_Code,
         (id * 13) % 50 / 2.0 AS TOP_mean_slope,
         CAST((id * 23) % 2000 AS DOUBLE) AS TOP_mean_elevation_m,
         CAST((id * 7) % 80 AS DOUBLE) AS VUL_poverty_perc,
         CAST(id % 2 AS BIGINT) AS GEN_with_coast,
         CAST(500 + (id * 37) % 1500 AS BIGINT) AS VUL_Housing_Units
  FROM range({27 * MUNI_COLS}) AS i(id)
"""


def gen_indicators(spark: SparkSession) -> DataFrame:
    """Pre-disaster indicator table (FIXTURES.md §6) with the P9 rename
    prefixes already applied (TOP_/VUL_/GEN_, forecast_process.py:
    582-616)."""
    ids = spark.range(27 * MUNI_COLS)
    return ids.select(
        F.concat(
            F.lit("PH"), F.lpad(F.col("id").cast("string"), 9, "0")
        ).alias("Mun_Code"),
        ((F.col("id") * 13) % 50 / 2.0).alias("TOP_mean_slope"),
        ((F.col("id") * 23) % 2000).cast("double").alias("TOP_mean_elevation_m"),
        ((F.col("id") * 7) % 80).cast("double").alias("VUL_poverty_perc"),
        (F.col("id") % 2).cast("bigint").alias("GEN_with_coast"),
        (500 + (F.col("id") * 37) % 1500).cast("bigint").alias(
            "VUL_Housing_Units"
        ),
    )


@register(
    "tc_feature_assembly",
    f"""
    {MUNI_HAZARD_SQL},
    rain AS ({RAIN_SQL}),
    reduced AS (
      SELECT cell_id, t, median(mm) AS mm FROM rain GROUP BY cell_id, t
    ),
    centroid_zone AS ({CENTROIDS_SQL.replace('c(id)', 'cz(id)')}),
    zonal AS (
      SELECT c.adm3_pcode, r.t, avg(r.mm) AS zone_mean
      FROM reduced r JOIN centroid_zone c ON r.cell_id = c.centroid_id
      GROUP BY 1, 2
    ),
    rain_max AS (
      SELECT adm3_pcode, max(zone_mean) AS haz_rainfall
      FROM zonal GROUP BY adm3_pcode
    ),
    indicators AS ({INDICATORS_SQL})
    SELECT mh.adm3_pcode AS Mun_Code, mh.ens_id,
           round(mh.v_max, 3) AS HAZ_v_max,
           round(mh.dis_track_min, 3) AS HAZ_dis_track_min,
           round(rm.haz_rainfall, 6) AS HAZ_rainfall_max_24h,
           i.TOP_mean_slope, i.TOP_mean_elevation_m,
           i.VUL_poverty_perc, i.GEN_with_coast, i.VUL_Housing_Units
    FROM muni_hazard mh
    LEFT JOIN rain_max rm ON mh.adm3_pcode = rm.adm3_pcode
    LEFT JOIN indicators i ON mh.adm3_pcode = i.Mun_Code
    """,
    doc="J3-J9 feature assembly: hazard ⋈ rainfall ⋈ pre-disaster "
        "indicators with the P9 HAZ_/TOP_/VUL_/GEN_ rename contract — "
        "the ML input frame (forecast_process.py:909-929, "
        "run_model_V2.R:131-139, data_cleaning_forecast.R:159-317)",
)
def tc_feature_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    mh = _muni_hazard(spark)
    rain_max = tc_rain_zonal(spark, sf_dir).withColumnRenamed(
        "HAZ_rainfall_max_24h", "haz_rainfall"
    )
    ind = gen_indicators(spark)
    return (
        mh.join(
            F.broadcast(rain_max),
            mh.adm3_pcode == rain_max.adm3_pcode,
            "left",
        )
        .drop(rain_max.adm3_pcode)
        .join(F.broadcast(ind), mh.adm3_pcode == ind.Mun_Code, "left")
        .select(
            mh.adm3_pcode.alias("Mun_Code"),
            "ens_id",
            F.round("v_max", 3).alias("HAZ_v_max"),
            F.round("dis_track_min", 3).alias("HAZ_dis_track_min"),
            F.round("haz_rainfall", 6).alias("HAZ_rainfall_max_24h"),
            "TOP_mean_slope",
            "TOP_mean_elevation_m",
            "VUL_poverty_perc",
            "GEN_with_coast",
            "VUL_Housing_Units",
        )
    )


# ---------------------------------------------------------------- hindcast
# Multi-event replay (SURVEY §3.3: run_model_V2.R / hindcast notebook):
# E historical events × 52 members × 41 steps; the event index shifts
# the storm seed so each event is a different track family.
N_EVENTS = 4

TRACKS_MULTI_SQL = f"""
  SELECT CAST(id // {N_MEMBERS * N_STEPS} AS BIGINT) AS event_id,
         CAST((id % {N_MEMBERS * N_STEPS}) // {N_STEPS} AS BIGINT) AS ens_id,
         CAST(id % {N_STEPS} AS BIGINT) AS step,
         7.0 + (id % {N_STEPS}) * 0.28
             + ((id // {N_STEPS}) * 7919) % 97 / 97.0 - 0.5
             + (id // {N_MEMBERS * N_STEPS}) * 0.7 AS lat,
         138.0 - (id % {N_STEPS}) * 0.52
             + ((id // {N_STEPS}) * 104729) % 89 / 89.0 - 0.5
             - (id // {N_MEMBERS * N_STEPS}) * 1.3 AS lon,
         greatest(18.0 + (38.0 - (id // {N_MEMBERS * N_STEPS}) * 4.0)
                       * (1.0 - ((id % {N_STEPS}) - 20.0) / 16.0
                              * (((id % {N_STEPS}) - 20.0) / 16.0))
                       + ((id // {N_STEPS}) * 6151) % 83 / 83.0 * 4.0,
                  15.0) AS vmax
  FROM range({N_EVENTS * N_MEMBERS * N_STEPS}) AS h(id)
"""


def gen_tracks_multi(spark: SparkSession) -> DataFrame:
    """Spark twin of TRACKS_MULTI_SQL: per-event shifted track families
    with event-dependent peak intensity (later events weaker)."""
    ids = spark.range(N_EVENTS * N_MEMBERS * N_STEPS)
    ev = F.expr(f"id div {N_MEMBERS * N_STEPS}")
    member_row = F.expr(f"id div {N_STEPS}")
    s = (F.col("id") % N_STEPS).cast("bigint")
    q = (s - 20.0) / 16.0
    vmax = F.greatest(
        18.0 + (38.0 - ev * 4.0) * (1.0 - q * q)
        + (member_row * 6151) % 83 / 83.0 * 4.0,
        F.lit(15.0),
    )
    return ids.select(
        ev.cast("bigint").alias("event_id"),
        (F.expr(f"(id % {N_MEMBERS * N_STEPS}) div {N_STEPS}"))
        .cast("bigint")
        .alias("ens_id"),
        s.alias("step"),
        (
            7.0 + s * 0.28 + (member_row * 7919) % 97 / 97.0 - 0.5 + ev * 0.7
        ).alias("lat"),
        (
            138.0 - s * 0.52 + (member_row * 104729) % 89 / 89.0 - 0.5
            - ev * 1.3
        ).alias("lon"),
        vmax.alias("vmax"),
    )


@register(
    "tc_hindcast_triggers",
    f"""
    WITH tracks AS ({TRACKS_MULTI_SQL}),
    centroids AS ({CENTROIDS_SQL}),
    pairs AS (
      SELECT t.event_id, t.ens_id, c.centroid_id, c.adm3_pcode, t.vmax, t.lat,
        greatest(2 * 6367.0 * asin(sqrt(
          pow(sin(radians(t.lat - c.lat) / 2), 2)
          + cos(radians(c.lat)) * cos(radians(t.lat))
            * pow(sin(radians(t.lon - c.lon) / 2), 2)
        )), 0.1) AS r
      FROM tracks t JOIN centroids c
        ON c.lat BETWEEN t.lat - 5.5 AND t.lat + 5.5
       AND c.lon BETWEEN t.lon - 5.5 AND t.lon + 5.5
    ),
    wf AS (
      SELECT event_id, ens_id, adm3_pcode,
        CASE WHEN r <= 46.6 * exp(-0.0155 * vmax + 0.0169 * abs(lat))
             THEN vmax * pow(r / (46.6 * exp(-0.0155 * vmax + 0.0169 * abs(lat))),
                             0.4067 + 0.0144 * vmax - 0.0038 * abs(lat))
             ELSE vmax * exp((46.6 * exp(-0.0155 * vmax + 0.0169 * abs(lat)) - r)
                             / (317.1 - 2.026 * vmax + 1.915 * abs(lat))) END
          AS wind_ms
      FROM pairs
    ),
    hazard AS (
      SELECT event_id, ens_id, adm3_pcode, max(wind_ms) AS v_max
      FROM wf WHERE wind_ms > 17.5
      GROUP BY 1, 2, 3
    ),
    totals AS (
      SELECT event_id, ens_id,
             sum(CASE WHEN v_max > 33.0 THEN 1 ELSE 0 END) AS n_damaged
      FROM hazard GROUP BY 1, 2
    )
    SELECT event_id,
           round(avg(CASE WHEN n_damaged > 85 THEN 1.0 ELSE 0.0 END), 6)
             AS prob_dref,
           avg(CASE WHEN n_damaged > 85 THEN 1.0 ELSE 0.0 END) >= 0.5
             AS dref_triggered,
           count(*) AS n_members
    FROM totals GROUP BY event_id
    """,
    doc="§3.3 hindcast replay on the grid-pruned windfield pair join: "
        "E historical events through the same "
        "windfield→hazard→trigger chain in ONE plan, grouped by "
        "event_id — the per-event loop of the hindcast notebook "
        "becomes a partition axis (simplified Willoughby outer "
        "profile, A=0, pruned by the closed-form Willoughby extent); "
        "at 100 TB event_id is the natural partition key for archived "
        "forecast replays",
)
def tc_hindcast_triggers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ibf_typhoon_data_pipeline_spark.functions.geo import haversine_km
    from ibf_typhoon_data_pipeline_spark.operators.windfield import (
        grid_prune_pairs,
        willoughby_extent_km,
    )

    t = gen_tracks_multi(spark).select(
        "event_id",
        "ens_id",
        F.col("lat").alias("t_lat"),
        F.col("lon").alias("t_lon"),
        "vmax",
    )
    # the closed-form extent bounds the A = 0 outer profile below too
    pairs = grid_prune_pairs(
        t,
        gen_centroids(spark).select("centroid_id", "adm3_pcode", "lat", "lon"),
        willoughby_extent_km(F.col("vmax"), F.col("t_lat"), 17.5),
    )
    r = F.greatest(
        haversine_km(
            F.col("t_lat"), F.col("t_lon"), F.col("c_lat"), F.col("c_lon")
        ),
        F.lit(0.1),
    )
    alat = F.abs(F.col("t_lat"))
    rmax = 46.6 * F.exp(-0.0155 * F.col("vmax") + 0.0169 * alat)
    n = 0.4067 + 0.0144 * F.col("vmax") - 0.0038 * alat
    x1 = 317.1 - 2.026 * F.col("vmax") + 1.915 * alat
    wind = F.when(r <= rmax, F.col("vmax") * F.pow(r / rmax, n)).otherwise(
        F.col("vmax") * F.exp((rmax - r) / x1)
    )
    wf = pairs.select(
        "event_id", "ens_id", "adm3_pcode",
        F.explode(F.array(wind)).alias("wind_ms"),  # fence: grid_prune_pairs
    ).filter(F.col("wind_ms") > 17.5)
    hazard = wf.groupBy("event_id", "ens_id", "adm3_pcode").agg(
        F.max("wind_ms").alias("v_max")
    )
    totals = hazard.groupBy("event_id", "ens_id").agg(
        F.sum(F.when(F.col("v_max") > 33.0, 1).otherwise(0)).alias(
            "n_damaged"
        )
    )
    prob = F.avg(F.when(F.col("n_damaged") > 85, 1.0).otherwise(0.0))
    return totals.groupBy("event_id").agg(
        F.round(prob, 6).alias("prob_dref"),
        (prob >= 0.5).alias("dref_triggered"),
        F.count("*").alias("n_members"),
    )


# ------------------------------------ §3.1 full DAG, multi-event batch
# The reference runs its operational DAG once per active typhoon in a
# driver loop (forecast_process.py:296-334 iterates Activetyphoon);
# here THREE concurrent storms run the production chain — track
# params → Holland windfield (grid-pruned) → J2 muni hazard → K4 min
# track distance → damage stub, the layers of pipeline.py keyed on
# (event_id, ens_id) because the track table carries event_id — then
# a per-event EAP trigger, as ONE Spark plan with event_id as a
# partition axis. Unlike tc_hindcast_triggers (simplified Willoughby
# outer profile, vmax-only tracks), the entry holds no copy of the
# chain, so at 100 TB an archived multi-event replay is this exact
# plan with more event_ids — no driver loop, no per-event job
# submission.
N_EVENTS_DAG = 3

TRACKS3_SQL = f"""
  SELECT event_id, ens_id, step,
         7.0 + dlat + step * 0.28 + nlat * 0.9 + step * nlat * 0.02 AS lat,
         138.0 + dlon - step * 0.52 + nlon * 0.9 + step * nlon * 0.02
           AS lon,
         vraw AS vmax,
         1010.0 - vraw AS pcen,
         CAST(1006.0 AS DOUBLE) AS penv
  FROM (
    SELECT event_id, ens_id, step, dlat, dlon, nlat, nlon,
           greatest(18.0 + 42.0 * (1.0 - q * q) + nv * 4.0 + wob, 15.0)
             AS vraw
    FROM (
      SELECT CAST(id // {N_MEMBERS * N_STEPS} AS BIGINT) AS event_id,
             CAST((id // {N_STEPS}) % {N_MEMBERS} AS BIGINT) AS ens_id,
             CAST(id % {N_STEPS} AS BIGINT) AS step,
             ((id // {N_MEMBERS * N_STEPS}) * 2591) % 41 / 41.0 * 1.8
               - 0.9 AS dlat,
             ((id // {N_MEMBERS * N_STEPS}) * 1723) % 37 / 37.0 * 2.4
               - 1.2 AS dlon,
             ((id // {N_STEPS}) * 7919) % 97 / 97.0 - 0.5 AS nlat,
             ((id // {N_STEPS}) * 104729) % 89 / 89.0 - 0.5 AS nlon,
             ((id // {N_STEPS}) * 6151) % 83 / 83.0 AS nv,
             ((id // {N_MEMBERS * N_STEPS}) * 3571) % 61 / 61.0 * 6.0
               - 3.0 AS wob,
             ((id % {N_STEPS}) - 20.0) / 16.0 AS q
      FROM range({N_EVENTS_DAG * N_MEMBERS * N_STEPS}) AS t(id)
    ) AS seeds
  ) AS v
"""

# the per-point physics windows partition by (event, member) in the
# multi-event batch — token-preserving replace of the shared text
PARAMS3_SQL = PARAMS_SQL.replace(
    "PARTITION BY ens_id", "PARTITION BY event_id, ens_id"
)
assert PARAMS3_SQL != PARAMS_SQL


def gen_tracks_events(spark: SparkSession) -> DataFrame:
    """Spark twin of TRACKS3_SQL: three distinct storms (noise keyed
    on the global member row, per-event center shift + intensity
    wobble), full (vmax, pcen, penv) parameter set."""
    ids = spark.range(N_EVENTS_DAG * N_MEMBERS * N_STEPS)
    ev = F.expr(f"id div {N_MEMBERS * N_STEPS}")
    m = F.expr(f"id div {N_STEPS}")
    s = (F.col("id") % N_STEPS).cast("bigint")
    seeds = ids.select(
        ev.cast("bigint").alias("event_id"),
        (m % N_MEMBERS).cast("bigint").alias("ens_id"),
        s.alias("step"),
        ((ev * 2591) % 41 / 41.0 * 1.8 - 0.9).alias("dlat"),
        ((ev * 1723) % 37 / 37.0 * 2.4 - 1.2).alias("dlon"),
        ((m * 7919) % 97 / 97.0 - 0.5).alias("nlat"),
        ((m * 104729) % 89 / 89.0 - 0.5).alias("nlon"),
        ((m * 6151) % 83 / 83.0).alias("nv"),
        ((ev * 3571) % 61 / 61.0 * 6.0 - 3.0).alias("wob"),
        ((s - 20.0) / 16.0).alias("q"),
    )
    v = seeds.select(
        "event_id", "ens_id", "step", "dlat", "dlon", "nlat", "nlon",
        F.greatest(
            18.0 + 42.0 * (1.0 - F.col("q") * F.col("q"))
            + F.col("nv") * 4.0 + F.col("wob"),
            F.lit(15.0),
        ).alias("vraw"),
    )
    return v.select(
        "event_id", "ens_id", "step",
        (
            7.0 + F.col("dlat") + F.col("step") * 0.28
            + F.col("nlat") * 0.9 + F.col("step") * F.col("nlat") * 0.02
        ).alias("lat"),
        (
            138.0 + F.col("dlon") - F.col("step") * 0.52
            + F.col("nlon") * 0.9 + F.col("step") * F.col("nlon") * 0.02
        ).alias("lon"),
        F.col("vraw").alias("vmax"),
        (1010.0 - F.col("vraw")).alias("pcen"),
        F.lit(1006.0).alias("penv"),
    )


@register(
    "tc_multi_event_dag",
    f"""
    WITH tracks AS ({TRACKS3_SQL}),
    params AS ({PARAMS3_SQL}),
    bs AS ({BS_SQL}),
    centroids AS ({CENTROIDS_SQL}),
    pairs AS (
      SELECT b.event_id, b.ens_id, b.step, c.centroid_id, c.adm3_pcode,
             b.lat AS t_lat, b.pcen, b.penv, b.v_trans_ms, b.rmw_km, b.b_s,
             2 * 6367.0 * asin(sqrt(
               pow(sin(radians(b.lat - c.lat) / 2), 2)
               + cos(radians(c.lat)) * cos(radians(b.lat))
                 * pow(sin(radians(b.lon - c.lon) / 2), 2)
             )) AS r_km
      FROM bs b JOIN centroids c
        ON c.lat BETWEEN b.lat - 5.5 AND b.lat + 5.5
       AND c.lon BETWEEN b.lon - 5.5 AND b.lon + 5.5
    ),
    wf AS (
      SELECT event_id, ens_id, adm3_pcode, {WIND_EXPR_SQL} AS wind_ms
      FROM pairs
    ),
    hazard AS (
      SELECT event_id, ens_id, adm3_pcode, max(wind_ms) AS v_max
      FROM wf WHERE wind_ms > 17.5
      GROUP BY 1, 2, 3
    ),
    munis AS ({MUNIS_SQL}),
    dists AS (
      SELECT t.event_id, m.adm3_pcode, t.ens_id,
             min(sqrt((m.m_lat - t.lat) * (m.m_lat - t.lat)
                      + (m.m_lon - t.lon) * (m.m_lon - t.lon)) * 111.0)
               AS dis_track_min
      FROM munis m CROSS JOIN tracks t
      GROUP BY 1, 2, 3
    ),
    damage AS (
      SELECT h.event_id, h.ens_id, h.v_max,
             CASE
               WHEN d.dis_track_min > 300.0 THEN 0.0
               WHEN h.v_max > 25.0 THEN
                 m.housing_units * least(1.0,
                   (h.v_max - 25.0) / 40.0 * ((h.v_max - 25.0) / 40.0)
                   * ((h.v_max - 25.0) / 40.0))
               ELSE 0.0
             END AS damage_predicted
      FROM hazard h
      JOIN dists d ON h.event_id = d.event_id
                  AND h.adm3_pcode = d.adm3_pcode AND h.ens_id = d.ens_id
      JOIN munis m ON h.adm3_pcode = m.adm3_pcode
    ),
    totals AS (
      SELECT event_id, ens_id,
             CAST(sum(CAST(floor(damage_predicted + 0.5) AS BIGINT))
                  AS BIGINT) AS dam_units,
             CAST(sum(CASE WHEN v_max > 33.0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_damaged
      FROM damage GROUP BY 1, 2
    )
    SELECT event_id,
           CAST(sum(CASE WHEN dam_units > 85000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_activation_members,
           CAST(sum(CASE WHEN n_damaged > 150 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_readiness_members,
           CAST(count(*) AS BIGINT) AS n_members,
           sum(CASE WHEN dam_units > 85000 THEN 1 ELSE 0 END) * 2
             >= count(*) AS activation_triggered
    FROM totals GROUP BY event_id
    """,
    doc="§3.1 operational DAG for THREE concurrent storms in ONE plan "
        "(forecast_process.py:296-334 loops per event on the driver): "
        "pipeline.py's layers keyed on (event_id, ens_id) — track "
        "params → grid-pruned windfield → muni hazard → K4 min "
        "distance → damage stub — then per-event EAP "
        "activation/readiness member counts. event_id "
        "is a partition axis, not a job loop; damage totals are "
        "floor-quantized to integer units per row so the member "
        "trigger comparison is association-free in both engines",
)
def tc_multi_event_dag(spark: SparkSession, sf_dir: str) -> DataFrame:
    damage = _chain(spark, gen_tracks_events(spark))[1]
    totals = damage.groupBy("event_id", "ens_id").agg(
        F.sum(
            F.floor(F.col("damage_predicted") + 0.5).cast("bigint")
        ).alias("dam_units"),
        F.sum(F.when(F.col("v_max") > 33.0, 1).otherwise(0)).alias(
            "n_damaged"
        ),
    )
    n_act = F.sum(F.when(F.col("dam_units") > 85000, 1).otherwise(0))
    return totals.groupBy("event_id").agg(
        n_act.cast("bigint").alias("n_activation_members"),
        F.sum(F.when(F.col("n_damaged") > 150, 1).otherwise(0))
        .cast("bigint")
        .alias("n_readiness_members"),
        F.count("*").alias("n_members"),
        (n_act * 2 >= F.count("*")).alias("activation_triggered"),
    )


@register(
    "tc_damage_model",
    f"""
    {DAMAGE_SQL},
    stats AS (
      SELECT sum(v_max * v_max) AS s11,
             sum(v_max * dis_track_min) AS s12,
             sum(dis_track_min * dis_track_min) AS s22,
             sum(v_max * damage_predicted) AS t1,
             sum(dis_track_min * damage_predicted) AS t2
      FROM damage
    ),
    coefs AS (
      SELECT round((s22 * t1 - s12 * t2) / (s11 * s22 - s12 * s12), 4) AS b1,
             round((s11 * t2 - s12 * t1) / (s11 * s22 - s12 * s12), 4) AS b2
      FROM stats
    )
    SELECT d.adm3_pcode AS Mun_Code, d.ens_id,
           round(greatest(d.v_max * c.b1 + d.dis_track_min * c.b2, 0.0), 2)
             AS damage_ml
    FROM damage d, coefs c
    """,
    doc="K6 on the domain: fit the damage regressor on the hazard "
        "feature frame (driver-side closed-form fit from one agg "
        "pass), broadcast the model, score every (muni, member) row "
        "with the pandas UDF, clip negatives (F13 post-rule "
        "y_pred[y_pred<0]=0, forecast_process.py:521) — the XGBoost "
        "slot exercised end to end on the typhoon tables",
)
def tc_damage_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ibf_typhoon_data_pipeline_spark.operators.inference import (
        OLS2,
        fit_ols2,
        predict_udf,
    )

    d = _damage(spark)
    m = fit_ols2(d, "v_max", "dis_track_min", "damage_predicted")
    m = OLS2(b1=round(m.b1, 4), b2=round(m.b2, 4))
    score = predict_udf(spark, m)
    return d.select(
        F.col("adm3_pcode").alias("Mun_Code"),
        "ens_id",
        F.round(
            F.greatest(
                score(F.col("v_max"), F.col("dis_track_min")), F.lit(0.0)
            ),
            2,
        ).alias("damage_ml"),
    )


@register(
    "f16_antimeridian_unwrap",
    f"""
    WITH tracks AS ({TRACKS_SQL}),
    crossing AS (
      SELECT ens_id, step,
             CASE WHEN CAST(150.0 AS DOUBLE) + step * 1.7 > 180.0
                  THEN CAST(150.0 AS DOUBLE) + step * 1.7 - 360.0
                  ELSE CAST(150.0 AS DOUBLE) + step * 1.7 END AS lon
      FROM tracks WHERE ens_id < 8
    ),
    jumps AS (
      SELECT *, CASE
          WHEN lon - lag(lon) OVER w > 180.0 THEN CAST(-360.0 AS DOUBLE)
          WHEN lon - lag(lon) OVER w < -180.0 THEN CAST(360.0 AS DOUBLE)
          ELSE CAST(0.0 AS DOUBLE) END AS jump
      FROM crossing WINDOW w AS (PARTITION BY ens_id ORDER BY step)
    )
    SELECT ens_id, step, round(lon, 6) AS lon_wrapped,
           round(lon + sum(jump) OVER (
             PARTITION BY ens_id ORDER BY step ROWS UNBOUNDED PRECEDING
           ), 6) AS lon_unwrapped
    FROM jumps
    """,
    doc="F16 antimeridian unwrap (SURVEY §7.4 risk 2; tc_tracks.py:"
        "1437-1440): a dateline-crossing track's lon jumps +→− at "
        "180°; unwrap = lon + running sum of ∓360° jump corrections "
        "(lag flag + cumulative window over one sort) — the guard "
        "that keeps interpolation and segment kinematics continuous",
)
def f16_antimeridian_unwrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    tracks = gen_tracks(spark).filter(F.col("ens_id") < 8)
    raw = 150.0 + F.col("step") * 1.7
    crossing = tracks.select(
        "ens_id",
        "step",
        F.when(raw > 180.0, raw - 360.0).otherwise(raw).alias("lon"),
    )
    w = Window.partitionBy("ens_id").orderBy("step")
    dlon = F.col("lon") - F.lag("lon").over(w)
    jump = (
        F.when(dlon > 180.0, F.lit(-360.0))
        .when(dlon < -180.0, F.lit(360.0))
        .otherwise(F.lit(0.0))
    )
    run = Window.partitionBy("ens_id").orderBy("step").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return crossing.withColumn("jump", jump).select(
        "ens_id",
        "step",
        F.round("lon", 6).alias("lon_wrapped"),
        F.round(F.col("lon") + F.sum("jump").over(run), 6).alias(
            "lon_unwrapped"
        ),
    )


@register(
    "j1_point_in_polygon",
    f"""
    WITH centroids AS ({CENTROIDS_SQL}),
    munis AS ({MUNIS_SQL}),
    ks AS (SELECT unnest([0, 1, 2, 3, 4, 5]) AS k),
    edges AS (
      SELECT m.adm3_pcode, m.m_lat, m.m_lon,
        m.m_lon + 0.3 * cos(pi() * k / 3.0) AS x1,
        m.m_lat + 0.3 * sin(pi() * k / 3.0) AS y1,
        m.m_lon + 0.3 * cos(pi() * (k + 1) / 3.0) AS x2,
        m.m_lat + 0.3 * sin(pi() * (k + 1) / 3.0) AS y2
      FROM munis m CROSS JOIN ks
    ),
    cand AS (
      SELECT c.centroid_id, e.adm3_pcode,
             e.x1, e.y1, e.x2, e.y2, c.lon AS px, c.lat AS py
      FROM centroids c JOIN edges e
        ON c.lon BETWEEN e.m_lon - 0.3 AND e.m_lon + 0.3
       AND c.lat BETWEEN e.m_lat - 0.3 AND e.m_lat + 0.3
    )
    SELECT centroid_id, adm3_pcode
    FROM cand
    GROUP BY centroid_id, adm3_pcode
    HAVING min((x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)) >= 0.0
    """,
    doc="J1 point-in-polygon IN-ENGINE (upgrade of the precomputed-"
        "mapping substitute, forecast_process.py:117 sjoin): convex "
        "hexagon per municipality, membership = min over CCW edges of "
        "the cross product ≥ 0 (half-plane test) — a bbox candidate "
        "join + groupBy(min), pure relational algebra; the bbox guard "
        "keeps the pair space linear exactly as in the windfield",
)
def j1_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = gen_centroids(spark).select("centroid_id", "lat", "lon")
    munis = gen_munis(spark).select("adm3_pcode", "m_lat", "m_lon")
    ks = spark.range(6).select(F.col("id").cast("int").alias("k"))
    edges = munis.crossJoin(F.broadcast(ks)).selectExpr(
        "adm3_pcode",
        "m_lat",
        "m_lon",
        "m_lon + 0.3 * cos(pi() * k / 3.0) AS x1",
        "m_lat + 0.3 * sin(pi() * k / 3.0) AS y1",
        "m_lon + 0.3 * cos(pi() * (k + 1) / 3.0) AS x2",
        "m_lat + 0.3 * sin(pi() * (k + 1) / 3.0) AS y2",
    )
    cand = cents.join(
        F.broadcast(edges),
        F.col("lon").between(F.col("m_lon") - 0.3, F.col("m_lon") + 0.3)
        & F.col("lat").between(F.col("m_lat") - 0.3, F.col("m_lat") + 0.3),
    ).selectExpr(
        "centroid_id",
        "adm3_pcode",
        "(x2 - x1) * (lat - y1) - (y2 - y1) * (lon - x1) AS cross_e",
    )
    return (
        cand.groupBy("centroid_id", "adm3_pcode")
        .agg(F.min("cross_e").alias("__min_cross"))
        .filter(F.col("__min_cross") >= 0.0)
        .select("centroid_id", "adm3_pcode")
    )


# stump-family hyperparameters for the sketch fit: depth 1, mean-leaf
# (lambda=0), no complexity penalty, additive from 0 — the depth-1
# slice of the hist estimator, matching the original stump booster.
_GBT_STUMP_KW = dict(depth=1, n_rounds=6, eta=0.5, lam=0.0, gamma=0.0, base=0.0)

# fitted-tree memo: the fit frames are synthetic (spark.range) and
# sf-independent, so the deterministic sketch fit yields the same
# trees in every session — refitting per call only burns driver time
# (the codebook fits got the same treatment in ed15744)
_FIT_MEMO: dict[str, object] = {}


@contextmanager
def _small_shuffle(spark: SparkSession, n: str = "8"):
    """Persisted plans freeze spark.sql.shuffle.partitions at first
    materialization and AQE does not re-coalesce cached plans — under
    a plain 200-partition session every bounded-sketch fit query runs
    200 tiny tasks. Build + materialize the fit frame inside this
    scope so its cached plan (and the two fit queries) use a shuffle
    width sized to the ~14k-row frame, then restore the caller's
    conf untouched."""
    key = "spark.sql.shuffle.partitions"
    try:
        old = spark.conf.get(key)
    except Exception:
        old = None
    spark.conf.set(key, n)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def _gbt_oracle() -> str:
    """Lazy oracle: materialize the (synthetic, sf-independent) damage
    frame in DuckDB and run the SAME two-query sketch fit the Spark
    entry runs — integer sufficient statistics, not a collected frame —
    then emit the fitted stumps as a CASE-chain scoring expression.
    Both engines derive the identical model, so the SQL is a true twin
    of the broadcast-model pandas-UDF path."""
    import duckdb

    from ibf_typhoon_data_pipeline_spark.operators.gbt import (
        fit_hist_gbt_sketch,
        hist_gbt_case_sql,
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE TEMP TABLE gbt_frame AS {DAMAGE_SQL}"
        " SELECT v_max, dis_track_min, damage_predicted FROM damage"
    )
    trees = fit_hist_gbt_sketch(
        lambda s: con.execute(s).fetchall(),
        ["v_max", "dis_track_min"],
        "damage_predicted",
        frame="gbt_frame",
        **_GBT_STUMP_KW,
    )
    expr = hist_gbt_case_sql(
        trees, ["d.v_max", "d.dis_track_min"], eta=0.5, base=0.0
    )
    return f"""
    {DAMAGE_SQL}
    SELECT d.adm3_pcode AS Mun_Code, d.ens_id,
           round(greatest({expr}, CAST(0.0 AS DOUBLE)), 2) AS damage_gbt
    FROM damage d
    """


@register(
    "tc_damage_gbt",
    _gbt_oracle,  # lazy: the DuckDB refit runs only when the oracle is checked
    doc="K6 stump baseline: gradient-boosted regression stumps "
        "(xgboost's family at depth 1) fit from the integer bin-vector "
        "sketch — no frame collect, the fit input is one groupBy's "
        "bounded statistics (forecast_process.py:409-547 seeded-"
        "retrain semantics) — broadcast, scored by the Arrow-batched "
        "pandas UDF (§2.11 carrier); oracle scores the identically-"
        "refit model as generated CASE-chain SQL",
)
def tc_damage_gbt(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ibf_typhoon_data_pipeline_spark.operators.gbt import (
        fit_hist_gbt_sketch,
        hist_gbt_predict_udf,
    )

    from ibf_typhoon_data_pipeline_spark.operators.cache import persist_tracked

    # cold path: the frame feeds FOUR actions (count, fit min/max,
    # fit sketch, scoring) — tracked persist pays for itself. Warm
    # path (fit memoized): scoring is the ONLY consumer, so the
    # persist round-trip + separate count() action just double the
    # frame compute (round-7 rule: persist loses below 3 re-reads;
    # measured 4.2 -> ~3.5 s warm at sf0.1)
    with _small_shuffle(spark):
        if "stump" not in _FIT_MEMO:
            d = persist_tracked(_damage(spark))
            d.count()  # materialize at the small shuffle width
            d.createOrReplaceTempView("gbt_frame")
            _FIT_MEMO["stump"] = fit_hist_gbt_sketch(
                lambda s: [tuple(r) for r in spark.sql(s).collect()],
                ["v_max", "dis_track_min"],
                "damage_predicted",
                frame="gbt_frame",
                **_GBT_STUMP_KW,
            )
        else:
            d = _damage(spark)
    trees = _FIT_MEMO["stump"]
    score = hist_gbt_predict_udf(spark, trees, eta=0.5, base=0.0)
    return d.select(
        F.col("adm3_pcode").alias("Mun_Code"),
        "ens_id",
        F.round(
            F.greatest(
                score(F.col("v_max"), F.col("dis_track_min")), F.lit(0.0)
            ),
            2,
        ).alias("damage_gbt"),
    )


# ------------------------------------------------- K6 at reference class
# The reference trains a 20-feature XGBRegressor (tree_method="hist",
# max_depth=8, 100 trees, eta=0.025, gamma=1, base_score=0.5 —
# forecast_process.py:426-510) each run and applies four post-rules
# (y_pred<0→0; Trigger = y_pred≥10; Damage zeroed beyond the
# Wind_damage_radius=300 km, settings.py:188 — the Trigger column is
# deliberately NOT re-zeroed, a reference quirk preserved here; and a
# per-municipality prob_within_50km merge, forecast_process.py:511-544).

ECMWF_CORRECTION_SQL = "CAST(1.0 AS DOUBLE)"  # settings.py:182 factor=1

XGB_FEATURES = [
    # forecast_process.py:446-467 selected_features_xgb_regr, in order
    # (HAZ_rainfall_max_24h is commented out there — excluded here too)
    "HAZ_v_max",
    "HAZ_dis_track_min",
    "TOP_mean_slope",
    "TOP_mean_elevation_m",
    "TOP_ruggedness_stdev",
    "TOP_mean_ruggedness",
    "TOP_slope_stdev",
    "VUL_poverty_perc",
    "GEN_with_coast",
    "VUL_Housing_Units",
    "VUL_StrongRoof_StrongWall",
    "VUL_StrongRoof_LightWall",
    "VUL_StrongRoof_SalvageWall",
    "VUL_LightRoof_StrongWall",
    "VUL_LightRoof_LightWall",
    "VUL_SalvagedRoof_StrongWall",
    "VUL_SalvagedRoof_LightWall",
    "VUL_SalvagedRoof_SalvageWall",
    "VUL_vulnerable_groups",
    "VUL_pantawid_pamilya_beneficiary",
]

INDICATORS_FULL_SQL = f"""
  SELECT concat('PH', lpad(CAST(id AS VARCHAR), 9, '0')) AS Mun_Code,
         (id * 13) % 50 / 2.0 AS TOP_mean_slope,
         CAST((id * 23) % 2000 AS DOUBLE) AS TOP_mean_elevation_m,
         (id * 11) % 40 / 4.0 AS TOP_ruggedness_stdev,
         (id * 17) % 60 / 3.0 AS TOP_mean_ruggedness,
         (id * 29) % 30 / 6.0 AS TOP_slope_stdev,
         CAST((id * 7) % 80 AS DOUBLE) AS VUL_poverty_perc,
         CAST(id % 2 AS BIGINT) AS GEN_with_coast,
         CAST(500 + (id * 37) % 1500 AS BIGINT) AS VUL_Housing_Units,
         (id * 31) % 70 + 10.0 AS VUL_StrongRoof_StrongWall,
         (id * 41) % 25 / 1.0 AS VUL_StrongRoof_LightWall,
         (id * 43) % 10 / 2.0 AS VUL_StrongRoof_SalvageWall,
         (id * 47) % 15 / 3.0 AS VUL_LightRoof_StrongWall,
         (id * 53) % 30 / 2.0 AS VUL_LightRoof_LightWall,
         (id * 59) % 8 / 4.0 AS VUL_SalvagedRoof_StrongWall,
         (id * 61) % 12 / 3.0 AS VUL_SalvagedRoof_LightWall,
         (id * 67) % 6 / 2.0 AS VUL_SalvagedRoof_SalvageWall,
         (id * 71) % 20 / 2.0 AS VUL_vulnerable_groups,
         (id * 73) % 50 / 2.0 AS VUL_pantawid_pamilya_beneficiary
  FROM range({27 * MUNI_COLS}) AS ifull(id)
"""


def gen_indicators_full(spark: SparkSession) -> DataFrame:
    """The full 20-feature pre-disaster indicator table (the reference's
    data_cleaning_forecast.R frame) — deterministic small-denominator
    modular formulas, exact in float64, so no rounding is needed for
    cross-engine parity."""
    ids = spark.range(27 * MUNI_COLS)
    i = F.col("id")
    return ids.select(
        F.concat(F.lit("PH"), F.lpad(i.cast("string"), 9, "0")).alias(
            "Mun_Code"
        ),
        ((i * 13) % 50 / 2.0).alias("TOP_mean_slope"),
        ((i * 23) % 2000).cast("double").alias("TOP_mean_elevation_m"),
        ((i * 11) % 40 / 4.0).alias("TOP_ruggedness_stdev"),
        ((i * 17) % 60 / 3.0).alias("TOP_mean_ruggedness"),
        ((i * 29) % 30 / 6.0).alias("TOP_slope_stdev"),
        ((i * 7) % 80).cast("double").alias("VUL_poverty_perc"),
        (i % 2).cast("bigint").alias("GEN_with_coast"),
        (500 + (i * 37) % 1500).cast("bigint").alias("VUL_Housing_Units"),
        ((i * 31) % 70 + 10.0).alias("VUL_StrongRoof_StrongWall"),
        ((i * 41) % 25 / 1.0).alias("VUL_StrongRoof_LightWall"),
        ((i * 43) % 10 / 2.0).alias("VUL_StrongRoof_SalvageWall"),
        ((i * 47) % 15 / 3.0).alias("VUL_LightRoof_StrongWall"),
        ((i * 53) % 30 / 2.0).alias("VUL_LightRoof_LightWall"),
        ((i * 59) % 8 / 4.0).alias("VUL_SalvagedRoof_StrongWall"),
        ((i * 61) % 12 / 3.0).alias("VUL_SalvagedRoof_LightWall"),
        ((i * 67) % 6 / 2.0).alias("VUL_SalvagedRoof_SalvageWall"),
        ((i * 71) % 20 / 2.0).alias("VUL_vulnerable_groups"),
        ((i * 73) % 50 / 2.0).alias("VUL_pantawid_pamilya_beneficiary"),
    )


# DAM_perc_dmg twin: percent damage = damage / housing units × 100,
# the reference's target unit (so base_score=0.5 and the ≥10 trigger
# threshold keep their meaning). HAZ_v_max carries the ECMWF
# correction factor exactly where the reference applies it.
XGB_FRAME_SQL = f"""
  {DAMAGE_SQL},
  indicators_full AS ({INDICATORS_FULL_SQL}),
  xgb_frame AS (
    SELECT d.adm3_pcode AS Mun_Code, d.ens_id,
           CAST(round({ECMWF_CORRECTION_SQL} * d.v_max * 1000.0) AS BIGINT)
             / 1000.0 AS HAZ_v_max,
           CAST(round(d.dis_track_min * 1000.0) AS BIGINT)
             / 1000.0 AS HAZ_dis_track_min,
           i.TOP_mean_slope, i.TOP_mean_elevation_m,
           i.TOP_ruggedness_stdev, i.TOP_mean_ruggedness, i.TOP_slope_stdev,
           i.VUL_poverty_perc, i.GEN_with_coast, i.VUL_Housing_Units,
           i.VUL_StrongRoof_StrongWall, i.VUL_StrongRoof_LightWall,
           i.VUL_StrongRoof_SalvageWall, i.VUL_LightRoof_StrongWall,
           i.VUL_LightRoof_LightWall, i.VUL_SalvagedRoof_StrongWall,
           i.VUL_SalvagedRoof_LightWall, i.VUL_SalvagedRoof_SalvageWall,
           i.VUL_vulnerable_groups, i.VUL_pantawid_pamilya_beneficiary,
           CAST(round(d.damage_predicted / i.VUL_Housing_Units * 100.0
                      * 1000000.0) AS BIGINT) / 1000000.0
             AS dam_perc
    FROM damage d JOIN indicators_full i ON d.adm3_pcode = i.Mun_Code
  )
"""


def _xgb_frame(spark: SparkSession) -> DataFrame:
    """Spark twin of XGB_FRAME_SQL (token-matching expressions)."""
    d = _damage(spark)
    ind = gen_indicators_full(spark)
    return d.join(
        F.broadcast(ind), d.adm3_pcode == ind.Mun_Code
    ).select(
        F.col("adm3_pcode").alias("Mun_Code"),
        "ens_id",
        # integer milli-unit quantization (CLAUDE.md invariant): a
        # round(x, 3) double can straddle a half-ulp boundary between
        # engines and flip a histogram bin — the sketch, and therefore
        # the whole fitted model, would diverge
        F.expr(
            f"CAST(round({ECMWF_CORRECTION_SQL} * v_max * 1000.0) AS BIGINT)"
            " / 1000.0"
        ).alias("HAZ_v_max"),
        F.expr(
            "CAST(round(dis_track_min * 1000.0) AS BIGINT) / 1000.0"
        ).alias("HAZ_dis_track_min"),
        *XGB_FEATURES[2:],
        F.expr(
            "CAST(round(damage_predicted / VUL_Housing_Units * 100.0"
            " * 1000000.0) AS BIGINT) / 1000000.0"
        ).alias("dam_perc"),
    )


def _xgb_post_sql(score_sql: str) -> tuple[str, list[str]]:
    """The shared post-rule texts: a scored projection, then the final
    output expressions. Returned as (scored_select, final_exprs) so the
    Spark path feeds them to selectExpr and the oracle path inlines
    them into CTEs — identical text either way."""
    scored = (
        "SELECT Mun_Code, ens_id, HAZ_dis_track_min, "
        f"greatest(({score_sql}), CAST(0.0 AS DOUBLE)) AS y_pred "
        "FROM xgb_frame"
    )
    final = [
        "Mun_Code",
        "ens_id",
        "CASE WHEN HAZ_dis_track_min > 300.0 THEN CAST(0 AS BIGINT) "
        "ELSE CAST(round(y_pred * 1000.0) AS BIGINT) END "
        "AS damage_milli_perc",
        "CASE WHEN y_pred >= 10.0 THEN CAST(1 AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END AS trigger_flag",
        # CAST the 1.0/0.0 branches: Spark SQL types bare decimal
        # literals as DECIMAL and would return a Decimal prob column
        "round(avg(CASE WHEN HAZ_dis_track_min < 50.0"
        " THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)"
        " OVER (PARTITION BY Mun_Code), 6) AS prob_within_50km",
    ]
    return scored, final


def _xgb_oracle() -> str:
    """Lazy oracle: materialize the frame in DuckDB, run the SAME
    two-query sketch fit (operators/gbt.fit_hist_gbt_from_engine) the
    Spark entry runs — integer sufficient statistics make the fits
    bitwise identical — and inline the resulting CASE-chain scorer
    plus post-rules into standalone SQL."""
    import duckdb

    from ibf_typhoon_data_pipeline_spark.operators.gbt import (
        fit_hist_gbt_from_engine,
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE TEMP TABLE xgb_frame AS {XGB_FRAME_SQL}"
        " SELECT * FROM xgb_frame"
    )
    score = fit_hist_gbt_from_engine(
        lambda s: con.execute(s).fetchall(), XGB_FEATURES, "dam_perc"
    )
    scored, final = _xgb_post_sql(score)
    return (
        f"{XGB_FRAME_SQL}, scored AS ({scored})"
        f" SELECT {', '.join(final)} FROM scored"
    )


@register(
    "tc_damage_xgb",
    _xgb_oracle,  # lazy: DuckDB refit runs only when the oracle is checked
    doc="K6 at the reference's model class, width AND depth: depth-8 × "
        "100-round @ eta 0.025 boosted trees (forecast_process.py:"
        "426-510, settings.py:226) on the full 20-feature frame, fit "
        "via the histogram algorithm — ONE in-engine groupBy collapses "
        "rows to (bin-vector, Σ micro-target, count) integer "
        "sufficient statistics, the boosting loop runs driver-side on "
        "that bounded sketch (no toPandas of the frame). Spark scores "
        "via the broadcast-tree Arrow UDF (the Booster slot); the "
        "oracle scores the identically-refit model as generated CASE-"
        "chain SQL — bitwise twins (same comparisons, leaf doubles, "
        "add order). Post-rules: clip<0, Trigger=y_pred≥10, "
        "Wind_damage_radius=300 zeroing (Trigger deliberately not "
        "re-zeroed — reference quirk), prob_within_50km merge "
        "(forecast_process.py:511-544)",
)
def tc_damage_xgb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ibf_typhoon_data_pipeline_spark.operators.gbt import (
        XGB_BASE,
        XGB_ETA,
        fit_hist_gbt_sketch,
        hist_gbt_predict_udf,
    )

    from ibf_typhoon_data_pipeline_spark.operators.cache import persist_tracked

    # cold path: the frame feeds FOUR actions (count, fit min/max,
    # fit sketch, scoring) — tracked persist pays for itself. Warm
    # path (fit memoized): scoring is the ONLY consumer, so the
    # persist round-trip + separate count() action just double the
    # frame compute — the same r7 below-3-re-reads rule the stump
    # entry already applies (r13 paired A/B: 0.895, mins 3.43 vs
    # 2.86 s warm; the r8 number that kept the unconditional persist
    # predates the fit memo, whose hit is what makes the warm frame
    # single-reader).
    with _small_shuffle(spark):
        if "xgb" not in _FIT_MEMO:
            frame = persist_tracked(_xgb_frame(spark))
            frame.count()  # materialize at the small shuffle width
            frame.createOrReplaceTempView("xgb_frame")
            _FIT_MEMO["xgb"] = fit_hist_gbt_sketch(
                lambda s: [tuple(r) for r in spark.sql(s).collect()],
                XGB_FEATURES,
                "dam_perc",
            )
        else:
            frame = _xgb_frame(spark)
    # at reference depth the CASE chain is ~785 KB — fine for DuckDB's
    # parser (the oracle side), hostile to Spark codegen; the Arrow UDF
    # is the hist_gbt_case_sql bitwise twin (test_gbt sql-twin test)
    score = hist_gbt_predict_udf(
        spark, _FIT_MEMO["xgb"], eta=XGB_ETA, base=XGB_BASE
    )
    y_raw = score(*[F.col(f) for f in XGB_FEATURES])
    _, final_exprs = _xgb_post_sql("unused")
    scored = frame.select(
        "Mun_Code",
        "ens_id",
        "HAZ_dis_track_min",
        F.greatest(y_raw, F.expr("CAST(0.0 AS DOUBLE)")).alias("y_pred"),
    )
    return scored.selectExpr(*final_exprs)


# ---------------------------------------------------------- publish payloads
# Oracle twin of pipeline.publish_payloads: the same body text, built
# with DuckDB's ordered string_agg.
_UPLOAD_SQL = """
  SELECT adm3_pcode,
         avg(damage_predicted) AS avg_dmg,
         avg(CASE WHEN dis_track_min < 50.0 THEN CAST(1.0 AS DOUBLE)
                  ELSE CAST(0.0 AS DOUBLE) END) AS prob50,
         avg(v_max) AS avg_vmax
  FROM damage GROUP BY adm3_pcode
"""


@register(
    "pipeline_publish",
    f"""
    {DAMAGE_SQL},
    upload AS ({_UPLOAD_SQL}),
    bodies AS (SELECT
      {", ".join(
          chain.publish_body_sql(layer, amt, "string_agg({}, ',' ORDER BY adm3_pcode)")
          + f" AS body_{i}"
          for i, (layer, amt) in enumerate(chain.PUBLISH_LAYERS)
      )}
      FROM upload)
    {" UNION ALL ".join(
        f"SELECT '{layer}' AS dynamicIndicator, body_{i} AS body_json FROM bodies"
        for i, (layer, _) in enumerate(chain.PUBLISH_LAYERS)
    )}
    """,
    doc="S8 payload assembly: the per-indicator exposure documents the "
        "reference writes with iterrows loops (forecast_process.py:"
        "1150-1233) built IN-ENGINE — one municipality aggregation, "
        "then every body string in a single global-agg pass (sorted "
        "collect_list, no driver loop); sinks.publish posts the "
        "collected rows with the dynamicDataDb auth/retry contract",
)
def pipeline_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chain.publish_payloads(_damage(spark))


# ------------------------------------------------------- landfall ladder (K7)
# The reference's full landfallTimeCal case ladder (forecast_process.
# py:655-879): on-land test against real polygons, per-point distance
# to the nearest municipality, then
#   1  on track to landfall            2  already made landfall
#   10 on track to landfall but far    3  will pass next to land
#   5  already passed closest point    6  beyond the lead-time window
#   60 beyond the max coast distance
# (the docstring there also lists 30, but the code path emits 6 — the
# actual emitted domain {1,2,3,5,6,10,60} is what this reproduces).
# Constants: ECMWF_LATENCY_LEADTIME_CORRECTION=8, longtiude_limit_
# leadtime=120, maxDistanceFromCoast=2000 (settings.py:184-214).
#
# The land test runs against a CONCAVE polygon as an edge table with
# the ray-crossing (PNPOLY) parity sum — bbox-free here because the
# polygon is one broadcast row set; at production scale the same
# groupBy-parity plan takes a bbox-bounded edge join (J1 note in
# docs/SCALING.md).

# concave Philippines-ish land polygon: a rectangle with a deep
# water inlet (the bite spans lon 119..121.5, lat 9.5..19), so the
# convex half-plane test would misclassify it
LAND_POLY = [
    (117.0, 5.0), (127.0, 5.0), (127.0, 19.0), (121.5, 19.0),
    (121.5, 12.5), (124.0, 12.5), (124.0, 9.5), (119.0, 9.5),
    (119.0, 15.0), (117.0, 15.0),
]
LAND_EDGES = [
    (x1, y1, x2, y2)
    for (x1, y1), (x2, y2) in zip(LAND_POLY, LAND_POLY[1:] + LAND_POLY[:1])
]

EDGES_VALUES_SQL = "(VALUES " + ", ".join(
    f"(CAST({x1!r} AS DOUBLE), CAST({y1!r} AS DOUBLE),"
    f" CAST({x2!r} AS DOUBLE), CAST({y2!r} AS DOUBLE))"
    for x1, y1, x2, y2 in LAND_EDGES
) + ") AS e(x1, y1, x2, y2)"

# PNPOLY crossing test for one (point, edge) pair; the strict-> pair
# on the y spans makes shared vertices count exactly once, and the
# boolean inequality guarantees y2<>y1 wherever the division runs
# (horizontal edges short out on the first conjunct in both engines:
# Spark's NULL division and DuckDB's inf both land in FALSE AND)
RAY_CROSS_SQL = (
    "CASE WHEN (y1 > lat) <> (y2 > lat)"
    " AND lon < x1 + (lat - y1) * (x2 - x1) / (y2 - y1)"
    " THEN 1 ELSE 0 END"
)

# seven per-member scenarios so every emitted ladder code appears in
# the fixture: 0 lands mid-track (1); 1 recedes west of the coast
# (5); 2 is far east beyond 2000 km (60); 3 passes next to land with
# hours>168 (6); 4 lands with hours>168 (10); 5 passes north within
# the window (3); 6 starts on land west of lon 120 (2)
SCEN_SQL = """
  SELECT ens_id, step,
         lat + CASE WHEN ens_id % 7 = 5 THEN 14.0 ELSE 0.0 END AS lat,
         lon + CASE ens_id % 7 WHEN 1 THEN -22.0 WHEN 2 THEN 60.0
                               WHEN 3 THEN 16.0 WHEN 4 THEN 8.0
                               WHEN 5 THEN 5.0 WHEN 6 THEN -19.0
                               ELSE 0.0 END AS lon,
         vmax
  FROM tracks
"""

_LADDER_CODE_SQL = """CASE
  WHEN first_land_step IS NOT NULL THEN
    CASE WHEN first_land_step * 6 - 8 < 0 OR max_lon < 120.0 THEN 2
         WHEN first_land_step * 6 - 8 > 168 THEN 10
         ELSE 1 END
  WHEN min_dist_km < 2000.0 THEN
    CASE WHEN closest_step * 6 - 8 < 0 OR max_lon < 120.0 THEN 5
         WHEN closest_step * 6 - 8 > 168 THEN 6
         ELSE 3 END
  ELSE 60 END"""

_LADDER_HOURS_SQL = """CASE
  WHEN first_land_step IS NOT NULL THEN
    CASE WHEN first_land_step * 6 - 8 < 0 OR max_lon < 120.0
         THEN CAST(0 AS BIGINT) ELSE first_land_step * 6 - 8 END
  WHEN min_dist_km < 2000.0 THEN
    CASE WHEN closest_step * 6 - 8 < 0 OR max_lon < 120.0
         THEN CAST(0 AS BIGINT) ELSE closest_step * 6 - 8 END
  ELSE CAST(168 AS BIGINT) END"""

_LADDER_DIST_SQL = """2 * 6367.0 * asin(sqrt(
      pow(sin(radians(m_lat - lat) / 2), 2)
      + cos(radians(lat)) * cos(radians(m_lat))
        * pow(sin(radians(m_lon - lon) / 2), 2)))"""


@register(
    "tc_landfall_ladder",
    f"""
    WITH tracks AS ({TRACKS_SQL}),
    scen AS ({SCEN_SQL}),
    edges AS (SELECT * FROM {EDGES_VALUES_SQL}),
    munis AS ({MUNIS_SQL}),
    onland AS (
      SELECT ens_id, step, sum({RAY_CROSS_SQL}) % 2 = 1 AS on_land
      FROM scen CROSS JOIN edges
      GROUP BY ens_id, step
    ),
    dists AS (
      SELECT ens_id, step, min({_LADDER_DIST_SQL}) AS dist_land_km
      FROM scen CROSS JOIN munis
      GROUP BY ens_id, step
    ),
    pts AS (
      SELECT s.ens_id, s.step, s.lon, o.on_land, d.dist_land_km
      FROM scen s
      JOIN onland o ON s.ens_id = o.ens_id AND s.step = o.step
      JOIN dists d ON s.ens_id = d.ens_id AND s.step = d.step
    ),
    summary AS (
      SELECT ens_id,
             min(CASE WHEN on_land THEN step END) AS first_land_step,
             min(dist_land_km) AS min_dist_km,
             max(lon) AS max_lon
      FROM pts GROUP BY ens_id
    ),
    closest AS (
      SELECT p.ens_id, min(p.step) AS closest_step
      FROM pts p JOIN summary s
        ON p.ens_id = s.ens_id AND p.dist_land_km = s.min_dist_km
      GROUP BY p.ens_id
    ),
    laddered AS (
      SELECT s.ens_id, s.ens_id % 7 AS scenario,
             s.first_land_step, c.closest_step,
             round(s.min_dist_km, 4) AS closest_km,
             {_LADDER_CODE_SQL} AS landfall_code,
             {_LADDER_HOURS_SQL} AS lead_hours
      FROM summary s JOIN closest c ON s.ens_id = c.ens_id
    )
    SELECT ens_id, scenario, first_land_step, closest_step, closest_km,
           landfall_code, lead_hours,
           concat(CAST(lead_hours AS STRING), '-hour') AS lead_label
    FROM laddered
    """,
    doc="K7 at the FULL reference ladder (forecast_process.py:655-879) "
        "over a concave polygon land test: PNPOLY ray-crossing parity "
        "sum on a broadcast edge table (J1 for concave boundaries), "
        "per-point nearest-municipality haversine, then the exact "
        "emitted code domain {{1,2,3,5,6,10,60}} with the -8 h ECMWF "
        "latency correction, the lon<120 already-passed override, and "
        "the 168 h / 2000 km far limits; seven track scenarios pin "
        "every code",
)
def tc_landfall_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ibf_typhoon_data_pipeline_spark.functions.geo import haversine_km

    tracks = gen_tracks(spark)
    scen = tracks.select(
        "ens_id",
        "step",
        F.expr(
            "lat + CASE WHEN ens_id % 7 = 5 THEN 14.0 ELSE 0.0 END"
        ).alias("lat"),
        F.expr(
            "lon + CASE ens_id % 7 WHEN 1 THEN -22.0 WHEN 2 THEN 60.0"
            " WHEN 3 THEN 16.0 WHEN 4 THEN 8.0"
            " WHEN 5 THEN 5.0 WHEN 6 THEN -19.0 ELSE 0.0 END"
        ).alias("lon"),
    )
    edges = spark.createDataFrame(
        LAND_EDGES, "x1 double, y1 double, x2 double, y2 double"
    )
    munis = gen_munis(spark).select("m_lat", "m_lon")
    # r12 (guide §2 "shuffle fewer bytes / don't compute twice"): the
    # on-land parity sum and the nearest-municipality min ran as TWO
    # cross-join legs over scen, each with its own agg exchange, then
    # two joins back onto a third scen evaluation. One null-padded
    # union of the broadcast sides computes BOTH aggregates in a
    # single pass: the PNPOLY CASE is NULL→ELSE 0 on municipality rows
    # (adds nothing to the parity sum) and the haversine is NULL on
    # edge rows (min skips it), so each aggregate sees exactly the
    # rows it saw before — values identical, one exchange instead of
    # two and no join-back (lat/lon ride as group keys, functionally
    # dependent on (ens_id, step)). Persisted: summary and closest
    # both read pts, and the recompute is the full 1.1M-pair leg.
    land_side = edges.select(
        "x1", "y1", "x2", "y2",
        F.lit(None).cast("double").alias("m_lat"),
        F.lit(None).cast("double").alias("m_lon"),
    ).unionByName(
        munis.select(
            *[F.lit(None).cast("double").alias(c)
              for c in ("x1", "y1", "x2", "y2")],
            "m_lat", "m_lon",
        )
    )
    from ibf_typhoon_data_pipeline_spark.operators.cache import (
        persist_tracked,
    )

    pts = persist_tracked(
        scen.crossJoin(F.broadcast(land_side))
        .groupBy("ens_id", "step", "lon")
        .agg(
            ((F.sum(F.expr(RAY_CROSS_SQL)) % 2) == 1).alias("on_land"),
            F.min(
                haversine_km(
                    F.col("lat"), F.col("lon"), F.col("m_lat"), F.col("m_lon")
                )
            ).alias("dist_land_km"),
        )
    )
    summary = pts.groupBy("ens_id").agg(
        F.min(F.when(F.col("on_land"), F.col("step"))).alias("first_land_step"),
        F.min("dist_land_km").alias("min_dist_km"),
        F.max("lon").alias("max_lon"),
    )
    closest = (
        pts.join(summary.select("ens_id", "min_dist_km"), "ens_id")
        .filter(F.col("dist_land_km") == F.col("min_dist_km"))
        .groupBy("ens_id")
        .agg(F.min("step").alias("closest_step"))
    )
    laddered = summary.join(closest, "ens_id").select(
        "ens_id",
        (F.col("ens_id") % 7).alias("scenario"),
        "first_land_step",
        "closest_step",
        F.round("min_dist_km", 4).alias("closest_km"),
        F.expr(_LADDER_CODE_SQL).alias("landfall_code"),
        F.expr(_LADDER_HOURS_SQL).alias("lead_hours"),
    )
    return laddered.select(
        "ens_id", "scenario", "first_land_step", "closest_step",
        "closest_km", "landfall_code", "lead_hours",
        F.concat(
            F.col("lead_hours").cast("string"), F.lit("-hour")
        ).alias("lead_label"),
    )


@register(
    "j1_point_in_polygon_concave",
    f"""
    WITH centroids AS ({CENTROIDS_SQL}),
    edges AS (SELECT * FROM {EDGES_VALUES_SQL})
    SELECT centroid_id, sum({RAY_CROSS_SQL}) % 2 = 1 AS inside
    FROM centroids CROSS JOIN edges
    GROUP BY centroid_id
    """,
    doc="J1 for CONCAVE boundaries: winding/ray-crossing parity over "
        "a polygon edge table (grid points x broadcast edges -> "
        "groupBy parity sum), correct where the convex half-plane "
        "test fails — the water inlet in the fixture polygon flips "
        "roughly a third of the grid versus its convex hull",
)
def j1_point_in_polygon_concave(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = gen_centroids(spark).select("centroid_id", "lat", "lon")
    edges = spark.createDataFrame(
        LAND_EDGES, "x1 double, y1 double, x2 double, y2 double"
    )
    return (
        cents.crossJoin(F.broadcast(edges))
        .groupBy("centroid_id")
        .agg(((F.sum(F.expr(RAY_CROSS_SQL)) % 2) == 1).alias("inside"))
    )


# -------------------------------------------------- track JSON (F19 part 2)
# The reference's second upload document (forecast_process.py:818-872):
# an hourly track with per-point windspeed/category, the
# %m-%d-%Y %H:%M:%S timestampOfTrackpoint format, the 3-hourly P5
# filter (with firstLandfall/closestToLand points force-included via
# the HH='00:00' override), and the trackpointDetails envelope.
# Timestamp strings are built with pure integer day/hour arithmetic —
# identical text in both engines and independent of session timezone.

_TS_STR_SQL = (
    "concat('06-', lpad(CAST(1 + CAST(floor(h / 24.0) AS BIGINT) AS STRING),"
    " 2, '0'), '-2024 ', lpad(CAST(h % 24 AS STRING), 2, '0'), ':00:00')"
)
# VMAX/0.88 is the reference's 10-min→1-min average conversion; ×3.6
# m/s→km/h with the ECMWF correction factor (=1) in front
_KPH_SQL = (
    "CAST(1.0 AS DOUBLE) * CAST(3.6 AS DOUBLE) * (vmax / CAST(0.88 AS DOUBLE))"
)
_CAT_SQL = (
    "CASE WHEN kph <= 62 THEN 'TD' WHEN kph <= 88 THEN 'TS'"
    " WHEN kph <= 117 THEN 'STS' WHEN kph <= 185 THEN 'TY'"
    " ELSE 'STY' END"
)
_FL_SQL = (
    "CASE WHEN first_land_h IS NOT NULL AND h = first_land_h"
    " THEN 'true' ELSE 'false' END"
)
_CL_SQL = (
    "CASE WHEN first_land_h IS NULL AND h = closest_h"
    " THEN 'true' ELSE 'false' END"
)
# int() in the reference truncates; CAST(double AS BIGINT) truncates in
# Spark but ROUNDS in DuckDB — floor() first so both engines truncate
# 2dp via round(x,6) then floor(x*100+0.5)/100: round(x,2) disagrees
# across engines on half-ulp boundaries (Spark rounds the shortest
# decimal repr, DuckDB the binary value), and the raw generator
# doubles differ by ~2 ulp (DuckDB folds bare literals as DECIMAL);
# the 6dp pre-round collapses the ulp noise to one shared double,
# floor on the scaled value is then exact in both engines, and the
# /100.0 quotient is the same double -> same shortest-repr string
_TRACK_ENTRY_SQL = (
    "concat('{\"lat\":',"
    " CAST(CAST(floor(round(lat, 6) * 100.0 + 0.5) AS BIGINT) / CAST(100.0 AS DOUBLE) AS STRING),"
    " ',\"lon\":',"
    " CAST(CAST(floor(round(lon, 6) * 100.0 + 0.5) AS BIGINT) / CAST(100.0 AS DOUBLE) AS STRING),"
    " ',\"windspeed\":', CAST(CAST(floor(kph) AS BIGINT) AS STRING),"
    " ',\"category\":\"', category,"
    " '\",\"timestampOfTrackpoint\":\"', ts_str,"
    " '\",\"firstLandfall\":', fl_str,"
    " ',\"closestToLand\":', cl_str, '}')"
)
_TRACK_FILTER_SQL = (
    "h % 3 = 0 OR (first_land_h IS NOT NULL AND h = first_land_h)"
    " OR (first_land_h IS NULL AND h = closest_h)"
)
_LEAD_LABEL_SQL = (
    "concat(CAST(CASE WHEN first_land_h IS NOT NULL"
    " THEN greatest(first_land_h - 8, CAST(0 AS BIGINT))"
    " ELSE CAST(168 AS BIGINT) END AS STRING), '-hour')"
)
_TRACK_DOC_SQL = (
    "concat('{\"countryCodeISO3\":\"PHL\",\"leadTime\":\"', lead_label,"
    " '\",\"eventName\":\"synthetic-storm-', CAST(ens_id AS STRING),"
    " '\",\"trackpointDetails\":[', entries,"
    " '],\"date\":\"2024-06-01T00:00:00Z\"}')"
)


@register(
    "tc_track_json",
    f"""
    WITH tracks AS ({TRACKS_SQL}),
    scen AS ({SCEN_SQL}),
    hours AS (SELECT CAST(id AS BIGINT) AS h FROM range(241) AS hr(id)),
    grid AS (
      SELECT h, CAST(floor(h / 6.0) AS BIGINT) AS s0,
             least(CAST(floor(h / 6.0) AS BIGINT) + 1, 40) AS s1
      FROM hours
    ),
    hourly AS (
      SELECT t0.ens_id, g.h,
             t0.lat + (t1.lat - t0.lat) * (g.h - g.s0 * 6) / 6.0 AS lat,
             t0.lon + (t1.lon - t0.lon) * (g.h - g.s0 * 6) / 6.0 AS lon,
             t0.vmax + (t1.vmax - t0.vmax) * (g.h - g.s0 * 6) / 6.0 AS vmax
      FROM grid g
      JOIN scen t0 ON t0.step = g.s0
      JOIN scen t1 ON t1.ens_id = t0.ens_id AND t1.step = g.s1
    ),
    edges AS (SELECT * FROM {EDGES_VALUES_SQL}),
    onland AS (
      SELECT ens_id, h, sum({RAY_CROSS_SQL}) % 2 = 1 AS on_land
      FROM hourly CROSS JOIN edges GROUP BY ens_id, h
    ),
    munis AS ({MUNIS_SQL}),
    dists AS (
      SELECT ens_id, h, min({_LADDER_DIST_SQL}) AS dist_km
      FROM hourly CROSS JOIN munis GROUP BY ens_id, h
    ),
    pts AS (
      SELECT y.ens_id, y.h, y.lat, y.lon, y.vmax, o.on_land, d.dist_km
      FROM hourly y
      JOIN onland o ON y.ens_id = o.ens_id AND y.h = o.h
      JOIN dists d ON y.ens_id = d.ens_id AND y.h = d.h
    ),
    marks AS (
      SELECT ens_id,
             min(CASE WHEN on_land THEN h END) AS first_land_h,
             min(dist_km) AS min_dist
      FROM pts GROUP BY ens_id
    ),
    closest AS (
      SELECT p.ens_id, min(p.h) AS closest_h
      FROM pts p JOIN marks m
        ON p.ens_id = m.ens_id AND p.dist_km = m.min_dist
      GROUP BY p.ens_id
    ),
    staged AS (
      SELECT p.ens_id, p.h, p.lat, p.lon,
             {_KPH_SQL} AS kph,
             {_TS_STR_SQL} AS ts_str,
             m.first_land_h, c.closest_h
      FROM pts p
      JOIN marks m ON p.ens_id = m.ens_id
      JOIN closest c ON p.ens_id = c.ens_id
    ),
    flagged AS (
      SELECT *, {_CAT_SQL} AS category, {_FL_SQL} AS fl_str,
             {_CL_SQL} AS cl_str
      FROM staged WHERE {_TRACK_FILTER_SQL}
    ),
    entries AS (
      SELECT ens_id, {_LEAD_LABEL_SQL} AS lead_label,
             string_agg({_TRACK_ENTRY_SQL}, ',' ORDER BY h) AS entries
      FROM flagged GROUP BY ens_id, first_land_h
    )
    SELECT ens_id, lead_label, {_TRACK_DOC_SQL} AS track_json
    FROM entries
    """,
    doc="F19 second half — the track document with trackpointDetails "
        "(forecast_process.py:818-872): hourly lerped positions, "
        "KPH=3.6·VMAX/0.88 with int() truncation (floor-then-cast so "
        "both engines truncate), PAGASA category bins, the "
        "%m-%d-%Y %H:%M:%S upload format via integer date arithmetic "
        "(timezone-free), the 3-hourly P5 filter with firstLandfall/"
        "closestToLand force-included, and the document envelope with "
        "the ladder's lead-time label; entries concatenated in track "
        "order (sorted-struct transform ≡ ORDER BY h)",
)
def tc_track_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    tracks = gen_tracks(spark)
    scen = tracks.select(
        "ens_id",
        "step",
        F.expr(
            "lat + CASE WHEN ens_id % 7 = 5 THEN 14.0 ELSE 0.0 END"
        ).alias("lat"),
        F.expr(
            "lon + CASE ens_id % 7 WHEN 1 THEN -22.0 WHEN 2 THEN 60.0"
            " WHEN 3 THEN 16.0 WHEN 4 THEN 8.0"
            " WHEN 5 THEN 5.0 WHEN 6 THEN -19.0 ELSE 0.0 END"
        ).alias("lon"),
        "vmax",
    )
    grid = (
        spark.range(241)
        .select(F.col("id").cast("bigint").alias("h"))
        .selectExpr(
            "h",
            "CAST(floor(h / 6.0) AS BIGINT) AS s0",
            "least(CAST(floor(h / 6.0) AS BIGINT) + 1, 40) AS s1",
        )
    )
    t0 = scen.selectExpr(
        "ens_id", "step AS s0", "lat AS lat0", "lon AS lon0", "vmax AS vmax0"
    )
    t1 = scen.selectExpr(
        "ens_id", "step AS s1", "lat AS lat1", "lon AS lon1", "vmax AS vmax1"
    )
    hourly = (
        grid.join(t0, "s0")
        .join(t1, ["ens_id", "s1"])
        .selectExpr(
            "ens_id",
            "h",
            "lat0 + (lat1 - lat0) * (h - s0 * 6) / 6.0 AS lat",
            "lon0 + (lon1 - lon0) * (h - s0 * 6) / 6.0 AS lon",
            "vmax0 + (vmax1 - vmax0) * (h - s0 * 6) / 6.0 AS vmax",
        )
    )
    edges = spark.createDataFrame(
        LAND_EDGES, "x1 double, y1 double, x2 double, y2 double"
    )
    from ibf_typhoon_data_pipeline_spark.functions.geo import haversine_km

    munis = gen_munis(spark).select("m_lat", "m_lon")
    # r12 fusion (same construction as tc_landfall_ladder, see the
    # long note there): one null-padded union of the two broadcast
    # sides computes the on-land parity AND the nearest-municipality
    # min in a single cross-join pass — the PNPOLY CASE contributes 0
    # on municipality rows, the haversine is NULL on edge rows, so
    # both aggregates see exactly their old inputs. hourly now
    # evaluates once (was once per leg), one agg exchange (was two),
    # no join-back (lat/lon/vmax ride as group keys, functionally
    # dependent on (ens_id, h)). pts stays persisted: it feeds marks,
    # closest, AND staged, and the recompute is the 6.5M-pair leg.
    land_side = edges.select(
        "x1", "y1", "x2", "y2",
        F.lit(None).cast("double").alias("m_lat"),
        F.lit(None).cast("double").alias("m_lon"),
    ).unionByName(
        munis.select(
            *[F.lit(None).cast("double").alias(c)
              for c in ("x1", "y1", "x2", "y2")],
            "m_lat", "m_lon",
        )
    )
    from ibf_typhoon_data_pipeline_spark.operators.cache import (
        persist_tracked,
    )

    pts = persist_tracked(
        hourly.crossJoin(F.broadcast(land_side))
        .groupBy("ens_id", "h", "lat", "lon", "vmax")
        .agg(
            ((F.sum(F.expr(RAY_CROSS_SQL)) % 2) == 1).alias("on_land"),
            F.min(
                haversine_km(
                    F.col("lat"), F.col("lon"), F.col("m_lat"), F.col("m_lon")
                )
            ).alias("dist_km"),
        )
    )
    marks = pts.groupBy("ens_id").agg(
        F.min(F.when(F.col("on_land"), F.col("h"))).alias("first_land_h"),
        F.min("dist_km").alias("min_dist"),
    )
    closest = (
        pts.join(marks.select("ens_id", "min_dist"), "ens_id")
        .filter(F.col("dist_km") == F.col("min_dist"))
        .groupBy("ens_id")
        .agg(F.min("h").alias("closest_h"))
    )
    staged = (
        pts.join(marks.select("ens_id", "first_land_h"), "ens_id")
        .join(closest, "ens_id")
        .selectExpr(
            "ens_id", "h", "lat", "lon",
            f"{_KPH_SQL} AS kph",
            f"{_TS_STR_SQL} AS ts_str",
            "first_land_h", "closest_h",
        )
    )
    flagged = staged.filter(F.expr(_TRACK_FILTER_SQL)).selectExpr(
        "*",
        f"{_CAT_SQL} AS category",
        f"{_FL_SQL} AS fl_str",
        f"{_CL_SQL} AS cl_str",
    )
    entries = flagged.groupBy("ens_id", "first_land_h").agg(
        F.expr(_LEAD_LABEL_SQL).alias("lead_label"),
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(h, "
            f"{_TRACK_ENTRY_SQL} AS entry))), x -> x.entry), ',')"
        ).alias("entries"),
    )
    return entries.selectExpr("ens_id", "lead_label", f"{_TRACK_DOC_SQL} AS track_json")


# ----------------------------------------------------------- GDACS scan (S9)
# Check_for_active_typhoon.py:7-53: pull the GDACS RSS feed, keep
# gdacs_eventtype == 'TC', test each event's coordinates against the
# Tropical Cyclone Advisory Domain quadrilateral, and strip the
# '-NNNN' suffix off gdacs_eventname. The feed fetch itself stays a
# gated network adapter (sources/ingest.py); this query is the landed-
# fixture scan+filter — the same PNPOLY parity join as J1/K7.

TCAD_POLY = [(145.0, 28.0), (145.0, 2.0), (114.0, 3.0), (114.0, 28.0)]
TCAD_EDGES_SQL = "(VALUES " + ", ".join(
    f"(CAST({x1!r} AS DOUBLE), CAST({y1!r} AS DOUBLE),"
    f" CAST({x2!r} AS DOUBLE), CAST({y2!r} AS DOUBLE))"
    for (x1, y1), (x2, y2) in zip(TCAD_POLY, TCAD_POLY[1:] + TCAD_POLY[:1])
) + ") AS e(x1, y1, x2, y2)"

# landed RSS fixture: a deterministic mix of event types and positions
# straddling the TCAD boundary
GDACS_FIXTURE_SQL = """
  SELECT CAST(id AS BIGINT) AS event_id,
         CASE id % 3 WHEN 0 THEN 'TC' WHEN 1 THEN 'EQ' ELSE 'FL' END
           AS gdacs_eventtype,
         concat('STORM', CAST(id AS STRING), '-',
                CAST(2020 + id % 5 AS STRING)) AS gdacs_eventname,
         CAST(100.0 + (id * 13) % 60 AS DOUBLE) AS lon,
         CAST(-5.0 + (id * 7) % 40 AS DOUBLE) AS lat
  FROM range(120) AS g(id)
"""


@register(
    "s9_gdacs_active_typhoons",
    f"""
    WITH gdacs AS ({GDACS_FIXTURE_SQL}),
    edges AS (SELECT * FROM {TCAD_EDGES_SQL}),
    tc AS (SELECT * FROM gdacs WHERE gdacs_eventtype = 'TC'),
    tested AS (
      SELECT event_id, gdacs_eventname, lat, lon,
             sum({RAY_CROSS_SQL}) % 2 = 1 AS in_tcad
      FROM tc CROSS JOIN edges
      GROUP BY event_id, gdacs_eventname, lat, lon
    )
    SELECT event_id,
           regexp_replace(gdacs_eventname, '-[^-]*$', '') AS storm_name,
           lat, lon
    FROM tested WHERE in_tcad
    """,
    doc="S9 — GDACS RSS scan + TCAD bbox filter (Check_for_active_"
        "typhoon.py:7-53): keep TC events, point-in-TCAD-quadrilateral "
        "via the PNPOLY parity join, strip the '-NNNN' name suffix "
        "exactly as rfind('-') does",
)
def s9_gdacs_active_typhoons(spark: SparkSession, sf_dir: str) -> DataFrame:
    ids = spark.range(120)
    gdacs = ids.selectExpr(
        "CAST(id AS BIGINT) AS event_id",
        "CASE id % 3 WHEN 0 THEN 'TC' WHEN 1 THEN 'EQ' ELSE 'FL' END"
        " AS gdacs_eventtype",
        "concat('STORM', CAST(id AS STRING), '-',"
        " CAST(2020 + id % 5 AS STRING)) AS gdacs_eventname",
        "CAST(100.0 + (id * 13) % 60 AS DOUBLE) AS lon",
        "CAST(-5.0 + (id * 7) % 40 AS DOUBLE) AS lat",
    )
    edges = spark.createDataFrame(
        [
            (x1, y1, x2, y2)
            for (x1, y1), (x2, y2) in zip(
                TCAD_POLY, TCAD_POLY[1:] + TCAD_POLY[:1]
            )
        ],
        "x1 double, y1 double, x2 double, y2 double",
    )
    tested = (
        gdacs.filter(F.col("gdacs_eventtype") == "TC")
        .crossJoin(F.broadcast(edges))
        .groupBy("event_id", "gdacs_eventname", "lat", "lon")
        .agg(((F.sum(F.expr(RAY_CROSS_SQL)) % 2) == 1).alias("in_tcad"))
    )
    return tested.filter("in_tcad").select(
        "event_id",
        F.regexp_replace("gdacs_eventname", "-[^-]*$", "").alias("storm_name"),
        "lat",
        "lon",
    )


# ----------------------------------------------- polygon metrics (J1 kin)
# Shoelace area / perimeter / area-weighted centroid per municipality
# hexagon — the vector-geometry reductions every admin-boundary load
# computes (the reference reads them precomputed from the shapefile;
# here they are derived IN-ENGINE from the same edge table J1 uses).
# Every per-edge term quantizes to integer micro-units BEFORE the
# per-polygon sum, so the aggregation is order-free in both engines
# (double SUM() order is partition-dependent in Spark).
_POLY_TERM_SQLS = [
    "CAST(round(1000000.0 * (x1 * y2 - x2 * y1)) AS BIGINT)"
    " AS cr_micro",
    "CAST(round(1000000.0 * sqrt((x2 - x1) * (x2 - x1)"
    " + (y2 - y1) * (y2 - y1))) AS BIGINT) AS len_micro",
    "CAST(round(1000000.0 * (x1 + x2) * (x1 * y2 - x2 * y1))"
    " AS BIGINT) AS cx_micro",
    "CAST(round(1000000.0 * (y1 + y2) * (x1 * y2 - x2 * y1))"
    " AS BIGINT) AS cy_micro",
]
_POLY_OUT_SQLS = [
    "round(0.5 * CAST(s_cr AS DOUBLE) / 1000000.0, 6) AS area_r",
    "round(CAST(s_len AS DOUBLE) / 1000000.0, 6) AS perim_r",
    "round(CAST(s_cx AS DOUBLE) / (3.0 * CAST(s_cr AS DOUBLE)), 6)"
    " AS cx_r",
    "round(CAST(s_cy AS DOUBLE) / (3.0 * CAST(s_cr AS DOUBLE)), 6)"
    " AS cy_r",
]


@register(
    "geo_polygon_metrics",
    f"""
    WITH munis AS ({MUNIS_SQL}),
    ks AS (SELECT unnest([0, 1, 2, 3, 4, 5]) AS k),
    edges AS (
      SELECT m.adm3_pcode,
        m.m_lon + 0.3 * cos(pi() * k / 3.0) AS x1,
        m.m_lat + 0.3 * sin(pi() * k / 3.0) AS y1,
        m.m_lon + 0.3 * cos(pi() * (k + 1) / 3.0) AS x2,
        m.m_lat + 0.3 * sin(pi() * (k + 1) / 3.0) AS y2
      FROM munis m CROSS JOIN ks
    ), terms AS (
      SELECT adm3_pcode, {', '.join(_POLY_TERM_SQLS)} FROM edges
    ), sums AS (
      SELECT adm3_pcode,
             CAST(sum(cr_micro) AS BIGINT) AS s_cr,
             CAST(sum(len_micro) AS BIGINT) AS s_len,
             CAST(sum(cx_micro) AS BIGINT) AS s_cx,
             CAST(sum(cy_micro) AS BIGINT) AS s_cy
      FROM terms GROUP BY adm3_pcode
    )
    SELECT adm3_pcode, {', '.join(_POLY_OUT_SQLS)} FROM sums
    """,
    doc="Polygon reductions over the J1 edge table: shoelace area "
        "(0.5·Σ cross), perimeter (Σ edge lengths), and the exact "
        "polygon centroid (Σ (v1+v2)·cross / 6A — stated as /(3·Σcr) "
        "since Σcr = 2A). Per-edge terms quantize to integer "
        "micro-units before the per-polygon sum, making the "
        "aggregation order-free; one partial-agg groupBy on the "
        "polygon key is the whole plan.",
)
def geo_polygon_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    munis = gen_munis(spark).select("adm3_pcode", "m_lat", "m_lon")
    ks = spark.range(6).select(F.col("id").cast("int").alias("k"))
    edges = munis.crossJoin(F.broadcast(ks)).selectExpr(
        "adm3_pcode",
        "m_lon + 0.3 * cos(pi() * k / 3.0) AS x1",
        "m_lat + 0.3 * sin(pi() * k / 3.0) AS y1",
        "m_lon + 0.3 * cos(pi() * (k + 1) / 3.0) AS x2",
        "m_lat + 0.3 * sin(pi() * (k + 1) / 3.0) AS y2",
    )
    terms = edges.selectExpr("adm3_pcode", *_POLY_TERM_SQLS)
    sums = terms.groupBy("adm3_pcode").agg(
        F.sum("cr_micro").cast("long").alias("s_cr"),
        F.sum("len_micro").cast("long").alias("s_len"),
        F.sum("cx_micro").cast("long").alias("s_cx"),
        F.sum("cy_micro").cast("long").alias("s_cy"),
    )
    return sums.selectExpr("adm3_pcode", *_POLY_OUT_SQLS)


# --------------------------------------------- K6 calibration curve
# Reliability diagram for the damage model (the standard ML-eval
# companion of any deployed regressor): bin the 2dp-quantized GBT
# prediction into fixed-width bins and compare per-bin mean predicted
# vs mean actual damage. Reuses the SAME memoized stump fit (and the
# DuckDB side the SAME CASE-chain refit) as tc_damage_gbt, so this
# costs one extra partial-agg groupBy over the scored frame; means
# come from exact integer cents sums.
_CAL_BIN_SQL = "CAST(least(floor(p2 / 10.0), 9) AS INT)"
_CAL_MEAN_SQL = (
    "round(CAST(sum_cents AS DOUBLE) / (100.0 * CAST(n AS DOUBLE)), 6)"
)


def _calibration_oracle() -> str:
    import duckdb

    from ibf_typhoon_data_pipeline_spark.operators.gbt import (
        fit_hist_gbt_sketch,
        hist_gbt_case_sql,
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE TEMP TABLE gbt_frame AS {DAMAGE_SQL}"
        " SELECT v_max, dis_track_min, damage_predicted FROM damage"
    )
    trees = fit_hist_gbt_sketch(
        lambda s: con.execute(s).fetchall(),
        ["v_max", "dis_track_min"],
        "damage_predicted",
        frame="gbt_frame",
        **_GBT_STUMP_KW,
    )
    expr = hist_gbt_case_sql(
        trees, ["d.v_max", "d.dis_track_min"], eta=0.5, base=0.0
    )
    return f"""
    {DAMAGE_SQL}
    , scored AS (
      SELECT round(greatest({expr}, CAST(0.0 AS DOUBLE)), 2) AS p2,
             d.damage_predicted AS actual
      FROM damage d
    ), binned AS (
      SELECT {_CAL_BIN_SQL} AS bin,
             CAST(round(p2 * 100.0) AS BIGINT) AS pred_cents,
             CAST(round(actual * 100.0) AS BIGINT) AS act_cents
      FROM scored
    ), agg AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(pred_cents) AS BIGINT) AS pc,
             CAST(sum(act_cents) AS BIGINT) AS ac
      FROM binned GROUP BY bin
    )
    SELECT bin, n,
           {_CAL_MEAN_SQL.replace("sum_cents", "pc")} AS mean_pred,
           {_CAL_MEAN_SQL.replace("sum_cents", "ac")} AS mean_actual
    FROM agg
    """


@register(
    "tc_damage_calibration",
    _calibration_oracle,
    doc="Reliability diagram of the K6 stump model: predictions "
        "2dp-quantized, fixed-width bins (10-unit, capped at bin 9), "
        "per-bin mean predicted vs mean actual from exact integer "
        "cents sums — one partial-agg groupBy over the scored frame, "
        "same memoized fit as tc_damage_gbt both engines.",
)
def tc_damage_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ibf_typhoon_data_pipeline_spark.operators.cache import (
        persist_tracked,
    )
    from ibf_typhoon_data_pipeline_spark.operators.gbt import (
        fit_hist_gbt_sketch,
        hist_gbt_predict_udf,
    )

    # same warm-path rule as tc_damage_gbt: persist+count only while
    # fitting; with the fit memoized, scoring is the sole consumer
    with _small_shuffle(spark):
        if "stump" not in _FIT_MEMO:
            d = persist_tracked(_damage(spark))
            d.count()
            d.createOrReplaceTempView("gbt_frame")
            _FIT_MEMO["stump"] = fit_hist_gbt_sketch(
                lambda s: [tuple(r) for r in spark.sql(s).collect()],
                ["v_max", "dis_track_min"],
                "damage_predicted",
                frame="gbt_frame",
                **_GBT_STUMP_KW,
            )
        else:
            d = _damage(spark)
    trees = _FIT_MEMO["stump"]
    score = hist_gbt_predict_udf(spark, trees, eta=0.5, base=0.0)
    scored = d.select(
        F.round(
            F.greatest(
                score(F.col("v_max"), F.col("dis_track_min")), F.lit(0.0)
            ),
            2,
        ).alias("p2"),
        F.col("damage_predicted").alias("actual"),
    )
    binned = scored.selectExpr(
        f"{_CAL_BIN_SQL} AS bin",
        "CAST(round(p2 * 100.0) AS BIGINT) AS pred_cents",
        "CAST(round(actual * 100.0) AS BIGINT) AS act_cents",
    )
    agg = binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("pred_cents").cast("long").alias("pc"),
        F.sum("act_cents").cast("long").alias("ac"),
    )
    return agg.selectExpr(
        "bin",
        "n",
        f"{_CAL_MEAN_SQL.replace('sum_cents', 'pc')} AS mean_pred",
        f"{_CAL_MEAN_SQL.replace('sum_cents', 'ac')} AS mean_actual",
    )


# --------------------------------------------- CRPS forecast verification
# Continuous Ranked Probability Score for the ensemble wind forecast
# (Gneiting & Raftery 2007, eq. 21 kernel form):
#   CRPS = mean_i |x_i - y| - 1/2 mean_{i,j} |x_i - x_j|
# with the control member (ens_id 0) as the verifying analysis and the
# 51 perturbed members as the ensemble — the standard verification
# loop of an ensemble NWP pipeline. Wind speeds quantize to integer
# milli-m/s BEFORE the absolute differences, so both sums are exact
# BIGINTs; the pairwise term uses the sorted-rank identity
# sum|x_i - x_j| = 2 * sum_k (2k - n - 1) x_(k) — one per-key window
# over the 51 members, no quadratic self-join (the oracle keeps the
# textbook self-join; exact integers make them equal).
_CRPS_SQL = (
    "round((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)"
    " - CAST(s2 AS DOUBLE) / (2.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"
    " / 1000.0, 6)"
)


@register(
    "tc_crps_ensemble",
    f"""
    {DAMAGE_SQL}
    , vm AS (
      SELECT adm3_pcode, ens_id,
             CAST(round(v_max * 1000.0) AS BIGINT) AS v_milli
      FROM damage
    ), obs AS (
      SELECT adm3_pcode, v_milli AS o_milli FROM vm WHERE ens_id = 0
    ), ens AS (
      SELECT adm3_pcode, ens_id, v_milli FROM vm WHERE ens_id > 0
    ), t1 AS (
      SELECT e.adm3_pcode,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(abs(e.v_milli - o.o_milli)) AS BIGINT) AS s1
      FROM ens e JOIN obs o ON o.adm3_pcode = e.adm3_pcode
      GROUP BY e.adm3_pcode
    ), t2 AS (
      SELECT a.adm3_pcode,
             CAST(sum(abs(a.v_milli - b.v_milli)) AS BIGINT) AS s2
      FROM ens a JOIN ens b ON a.adm3_pcode = b.adm3_pcode
      GROUP BY a.adm3_pcode
    )
    SELECT t1.adm3_pcode, n, {_CRPS_SQL} AS crps
    FROM t1 JOIN t2 ON t2.adm3_pcode = t1.adm3_pcode
    """,
    doc="Per-municipality CRPS of the 51-member wind ensemble vs the "
        "control member (Gneiting & Raftery 2007 kernel form): exact "
        "integer milli-m/s sums, pairwise term bounded by ensemble "
        "size per key — forecast verification as a first-class "
        "pipeline op.",
)
def tc_crps_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ibf_typhoon_data_pipeline_spark.operators.cache import (
        persist_tracked,
    )

    vm = persist_tracked(
        _damage(spark).select(
            "adm3_pcode",
            "ens_id",
            F.round(F.col("v_max") * 1000.0).cast("long").alias("v_milli"),
        )
    )
    obs = vm.filter(F.col("ens_id") == 0).select(
        "adm3_pcode", F.col("v_milli").alias("o_milli")
    )
    ens = vm.filter(F.col("ens_id") > 0)
    t1 = (
        ens.join(F.broadcast(obs), "adm3_pcode")
        .groupBy("adm3_pcode")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.abs(F.col("v_milli") - F.col("o_milli")))
            .cast("long")
            .alias("s1"),
        )
    )
    # pairwise term WITHOUT the 51^2-per-key self-join: for sorted
    # values the double sum folds to sum_{i,j}|x_i - x_j| =
    # 2 * sum_k (2k - n - 1) * x_(k) (k = 1-based rank) — one window
    # sort of the 51 ensemble rows per key, exact integers preserved,
    # O(n log n) per key instead of O(n^2). The DuckDB oracle keeps
    # the textbook self-join; the identity makes the values equal.
    w_rank = Window.partitionBy("adm3_pcode").orderBy(
        "v_milli", "ens_id"
    )
    w_n = Window.partitionBy("adm3_pcode")
    ranked = ens.select(
        "adm3_pcode",
        "v_milli",
        F.row_number().over(w_rank).cast("long").alias("k"),
        F.count("*").over(w_n).cast("long").alias("nn"),
    )
    t2 = ranked.groupBy("adm3_pcode").agg(
        (
            2
            * F.sum(
                (2 * F.col("k") - F.col("nn") - 1) * F.col("v_milli")
            )
        )
        .cast("long")
        .alias("s2"),
    )
    return t1.join(t2, "adm3_pcode").selectExpr(
        "adm3_pcode", "n", f"{_CRPS_SQL} AS crps"
    )


# --------------------------------------------- rank histogram + Brier
# The other two standard ensemble-verification ops (Talagrand/Hamill;
# Brier 1950): where does the verifying analysis rank inside the
# ensemble (flat histogram = well-calibrated spread), and the mean
# squared error of the derived trigger PROBABILITY. Both are exact
# integer pipelines end-to-end; the only doubles are final ratios.
@register(
    "tc_rank_histogram",
    f"""
    {DAMAGE_SQL}
    , vm AS (
      SELECT adm3_pcode, ens_id,
             CAST(round(v_max * 1000.0) AS BIGINT) AS v_milli
      FROM damage
    ), obs AS (
      SELECT adm3_pcode, v_milli AS o_milli FROM vm WHERE ens_id = 0
    ), ranks AS (
      SELECT e.adm3_pcode,
             CAST(sum(CASE WHEN e.v_milli < o.o_milli THEN 1 ELSE 0 END)
                  AS INTEGER) AS rank_pos
      FROM vm e JOIN obs o ON o.adm3_pcode = e.adm3_pcode
      WHERE e.ens_id > 0
      GROUP BY e.adm3_pcode
    )
    SELECT rank_pos, CAST(count(*) AS BIGINT) AS n_munis
    FROM ranks GROUP BY rank_pos
    """,
    doc="Talagrand rank histogram: per municipality the control "
        "analysis's position among the 51 ensemble members (strict "
        "less-than on integer milli-m/s — deterministic under ties), "
        "then a 52-bucket histogram. Two partial-agg groupBys; the "
        "ensemble join is broadcast-by-obs.",
)
def tc_rank_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ibf_typhoon_data_pipeline_spark.operators.cache import (
        persist_tracked,
    )

    vm = persist_tracked(
        _damage(spark).select(
            "adm3_pcode",
            "ens_id",
            F.round(F.col("v_max") * 1000.0).cast("long").alias("v_milli"),
        )
    )
    obs = vm.filter(F.col("ens_id") == 0).select(
        "adm3_pcode", F.col("v_milli").alias("o_milli")
    )
    ranks = (
        vm.filter(F.col("ens_id") > 0)
        .join(F.broadcast(obs), "adm3_pcode")
        .groupBy("adm3_pcode")
        .agg(
            F.sum(
                F.when(F.col("v_milli") < F.col("o_milli"), 1).otherwise(0)
            )
            .cast("int")
            .alias("rank_pos")
        )
    )
    return ranks.groupBy("rank_pos").agg(
        F.count("*").cast("long").alias("n_munis")
    )


_BRIER_SQL = (
    "round(CAST(sum_term AS DOUBLE)"
    " / (1000000000000.0 * CAST(n_munis AS DOUBLE)), 6)"
)


@register(
    "tc_brier_trigger",
    f"""
    {DAMAGE_SQL}
    , vm AS (
      SELECT adm3_pcode, ens_id,
             CASE WHEN v_max > 25.0 THEN 1 ELSE 0 END AS ex
      FROM damage
    ), p AS (
      SELECT adm3_pcode,
             CAST(round(CAST(sum(CASE WHEN ens_id > 0 THEN ex ELSE 0 END)
                             AS DOUBLE) * 1000000.0
                        / nullif(sum(CASE WHEN ens_id > 0 THEN 1 ELSE 0 END), 0))
                  AS BIGINT) AS p_e6,
             CAST(sum(CASE WHEN ens_id = 0 THEN ex ELSE 0 END) AS BIGINT)
               AS o
      FROM vm GROUP BY adm3_pcode
      HAVING sum(CASE WHEN ens_id > 0 THEN 1 ELSE 0 END) > 0
         AND sum(CASE WHEN ens_id = 0 THEN 1 ELSE 0 END) > 0
    ), terms AS (
      SELECT (p_e6 - o * 1000000) * (p_e6 - o * 1000000) AS term
      FROM p
    )
    SELECT CAST(count(*) AS BIGINT) AS n_munis,
           CAST(sum(term) AS BIGINT) AS sum_term,
           {_BRIER_SQL.replace("sum_term", "sum(term)").replace(
               "n_munis", "count(*)")} AS brier
    FROM terms
    """,
    doc="Brier score of the ensemble trigger probability (v_max > 25 "
        "exceedance fraction of the 51 perturbed members) against the "
        "control member's binary outcome — probability quantized to "
        "e6, squared-error terms exact BIGINTs, one partial-agg "
        "groupBy + one 1-row reduction.",
)
def tc_brier_trigger(spark: SparkSession, sf_dir: str) -> DataFrame:
    vm = _damage(spark).select(
        "adm3_pcode",
        "ens_id",
        F.when(F.col("v_max") > 25.0, 1).otherwise(0).alias("ex"),
    )
    p = vm.groupBy("adm3_pcode").agg(
        F.expr(
            "sum(CASE WHEN ens_id > 0 THEN 1 ELSE 0 END)"
        ).alias("__n_ens"),
        F.expr(
            "sum(CASE WHEN ens_id = 0 THEN 1 ELSE 0 END)"
        ).alias("__n_obs"),
        F.expr(
            "CAST(round(CAST(sum(CASE WHEN ens_id > 0 THEN ex ELSE 0 END)"
            " AS DOUBLE) * 1000000.0"
            " / nullif(sum(CASE WHEN ens_id > 0 THEN 1 ELSE 0 END), 0)) AS BIGINT)"
        ).alias("p_e6"),
        F.expr(
            "CAST(sum(CASE WHEN ens_id = 0 THEN ex ELSE 0 END) AS BIGINT)"
        ).alias("o"),
    )
    terms = p.filter(
        (F.col("__n_ens") > 0) & (F.col("__n_obs") > 0)
    ).selectExpr(
        "(p_e6 - o * 1000000) * (p_e6 - o * 1000000) AS term"
    )
    return terms.agg(
        F.count("*").cast("long").alias("n_munis"),
        F.sum("term").cast("long").alias("sum_term"),
    ).selectExpr("n_munis", "sum_term", f"{_BRIER_SQL} AS brier")


# --------------------------------------------- trigger ROC-AUC
# The third classic classifier eval (with calibration + Brier):
# ROC-AUC of the ensemble trigger probability against the control
# outcome, computed EXACTLY via the Mann-Whitney midrank identity —
# AUC = (U - n1(n1+1)/2) / (n1 n0). The probability domain is
# bounded (k/51 -> <= 52 distinct values), so midranks come from a
# <= 52-row grouped frame: 2*midrank = 2*cnt_below + cnt_at + 1 is
# an integer, U2 = sum over positives of midrank2 is a BIGINT, and
# the only double is the final ratio. The tiny global-order window
# runs over the 52-row value frame, never the fact table.
_AUC_SQL = (
    "round(CAST(u2 - n1 * (n1 + 1) AS DOUBLE)"
    " / (2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)), 6)"
)
_P_E6_SQL = (
    "CAST(round(CAST(sum(CASE WHEN ens_id > 0 THEN ex ELSE 0 END)"
    " AS DOUBLE) * 1000000.0"
    " / nullif(sum(CASE WHEN ens_id > 0 THEN 1 ELSE 0 END), 0))"
    " AS BIGINT)"
)


@register(
    "tc_trigger_auc",
    f"""
    {DAMAGE_SQL}
    , vm AS (
      SELECT adm3_pcode, ens_id,
             CASE WHEN v_max > 25.0 THEN 1 ELSE 0 END AS ex
      FROM damage
    ), p AS (
      SELECT adm3_pcode, {_P_E6_SQL} AS p_e6,
             CAST(sum(CASE WHEN ens_id = 0 THEN ex ELSE 0 END) AS BIGINT)
               AS o
      FROM vm GROUP BY adm3_pcode
      HAVING sum(CASE WHEN ens_id > 0 THEN 1 ELSE 0 END) > 0
         AND sum(CASE WHEN ens_id = 0 THEN 1 ELSE 0 END) > 0
    ), grp AS (
      SELECT p_e6, CAST(count(*) AS BIGINT) AS n_at,
             CAST(sum(o) AS BIGINT) AS n1_at
      FROM p GROUP BY p_e6
    ), ranked AS (
      SELECT p_e6, n_at, n1_at,
             CAST(coalesce(sum(n_at) OVER (
               ORDER BY p_e6
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS n_below
      FROM grp
    ), stats AS (
      SELECT CAST(sum(n1_at * (2 * n_below + n_at + 1)) AS BIGINT) AS u2,
             CAST(sum(n1_at) AS BIGINT) AS n1,
             CAST(sum(n_at - n1_at) AS BIGINT) AS n0
      FROM ranked
    )
    SELECT n1, n0, u2, {_AUC_SQL} AS auc FROM stats
    """,
    doc="ROC-AUC of the trigger probability vs the control outcome, "
        "exact Mann-Whitney midrank form: probabilities land on <= 52 "
        "distinct e6 values, midranks come from the bounded grouped "
        "frame (2*midrank = 2*below + at + 1, all BIGINT), AUC is "
        "the single final double. Ties handled exactly; no "
        "fact-table-order window anywhere.",
)
def tc_trigger_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    vm = _damage(spark).select(
        "adm3_pcode",
        "ens_id",
        F.when(F.col("v_max") > 25.0, 1).otherwise(0).alias("ex"),
    )
    p = (
        vm.groupBy("adm3_pcode")
        .agg(
            F.expr(_P_E6_SQL).alias("p_e6"),
            F.expr(
                "CAST(sum(CASE WHEN ens_id = 0 THEN ex ELSE 0 END)"
                " AS BIGINT)"
            ).alias("o"),
            F.expr(
                "sum(CASE WHEN ens_id > 0 THEN 1 ELSE 0 END)"
            ).alias("__n_ens"),
            F.expr(
                "sum(CASE WHEN ens_id = 0 THEN 1 ELSE 0 END)"
            ).alias("__n_obs"),
        )
        .filter((F.col("__n_ens") > 0) & (F.col("__n_obs") > 0))
    )
    grp = p.groupBy("p_e6").agg(
        F.count("*").cast("long").alias("n_at"),
        F.sum("o").cast("long").alias("n1_at"),
    )
    from pyspark.sql import Window

    w = (
        Window.orderBy("p_e6")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = grp.withColumn(
        "n_below",
        F.coalesce(F.sum("n_at").over(w), F.lit(0)).cast("long"),
    )
    stats = ranked.agg(
        F.sum(
            F.col("n1_at")
            * (2 * F.col("n_below") + F.col("n_at") + 1)
        )
        .cast("long")
        .alias("u2"),
        F.sum("n1_at").cast("long").alias("n1"),
        F.sum(F.col("n_at") - F.col("n1_at")).cast("long").alias("n0"),
    )
    return stats.selectExpr("n1", "n0", "u2", f"{_AUC_SQL} AS auc")


# ------------------------------------------- ACE + rapid intensification
# Two standard climatology metrics over the ensemble track set:
# Accumulated Cyclone Energy (NOAA definition: 1e-4 * sum of squared
# 6-hourly max winds in knots, tropical-storm strength 35 kt and
# above) and 24-hour rapid-intensification flags (+30 kt over four
# 6-hour steps). Both engines evaluate vmax from the SAME generator
# text, so the knot conversion and threshold compares see identical
# doubles; each squared-wind term rounds to an integer BEFORE the
# sum (order-free), and the RI test is a lead-window compare with a
# quoted-literal threshold.
_KT = "CAST('1.943844' AS DOUBLE)"


@register(
    "tc_ace_climatology",
    f"""
    WITH tracks AS ({TRACKS_SQL}),
    kt AS (
      SELECT ens_id, step, vmax * {_KT} AS v_kt
      FROM tracks
    ), ri AS (
      SELECT ens_id, step, v_kt,
             lead(v_kt, 4) OVER (PARTITION BY ens_id ORDER BY step)
               AS v_kt_24h
      FROM kt
    )
    SELECT ens_id,
           CAST(count(CASE WHEN v_kt >= 35.0 THEN 1 END) AS BIGINT)
             AS n_active_steps,
           CAST(sum(CASE WHEN v_kt >= 35.0
                         THEN CAST(round(v_kt * v_kt) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS ace_terms,
           round(CAST(sum(CASE WHEN v_kt >= 35.0
                               THEN CAST(round(v_kt * v_kt) AS BIGINT)
                               ELSE 0 END) AS DOUBLE) / 10000.0, 4)
             AS ace,
           CAST(sum(CASE WHEN v_kt_24h - v_kt >= 30.0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_ri_onsets
    FROM ri
    GROUP BY ens_id
    ORDER BY ens_id
    """,
    doc="Accumulated Cyclone Energy and rapid-intensification "
        "climatology per ensemble member: NOAA ACE (1e-4 * sum of "
        "squared >= 35 kt six-hourly winds, each term rounded to an "
        "integer before the order-free sum) plus +30 kt/24 h RI "
        "onset counts from a 4-step lead window. One window + one "
        "partial agg over the member-keyed track frame — "
        "member-parallel at any ensemble size.",
)
def tc_ace_climatology(spark: SparkSession, sf_dir: str) -> DataFrame:
    kt = gen_tracks(spark).select(
        "ens_id",
        "step",
        (F.col("vmax") * F.expr(_KT)).alias("v_kt"),
    )
    w = Window.partitionBy("ens_id").orderBy("step")
    ri = kt.select(
        "ens_id",
        "step",
        "v_kt",
        F.lead("v_kt", 4).over(w).alias("v_kt_24h"),
    )
    active_term = F.when(
        F.col("v_kt") >= 35.0,
        F.round(F.col("v_kt") * F.col("v_kt")).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    return (
        ri.groupBy("ens_id")
        .agg(
            F.count(F.when(F.col("v_kt") >= 35.0, 1))
            .cast("long")
            .alias("n_active_steps"),
            F.sum(active_term).cast("long").alias("ace_terms"),
            F.round(
                F.sum(active_term).cast("double") / 10000.0, 4
            ).alias("ace"),
            F.sum(
                F.when(
                    F.col("v_kt_24h") - F.col("v_kt") >= 30.0, 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_ri_onsets"),
        )
        .orderBy("ens_id")
    )


# ------------------------------------------- K5 duration summary
# The reference's summarize_grid_wind (lib_r/prepare_typhoon_input.R:
# 487-501): per grid point, max gust/sustained wind AND exposure
# DURATIONS — 60 * tint * count(speed > cut) minutes with the 1.49
# gust factor, cuts at 15 m/s, tint = the 6 h step here. The pair
# space reuses the Willoughby kernel at a 10 m/s analysis threshold
# (below the 15/1.49 = 10.07 gust cut, so the dynamic-extent prune
# stays lossless for every counted sample); groups keep rows only
# where some gust exceeds the cut, which bounds the output exactly
# like the intensity entry's 17.5 filter.
@register(
    "tc_wind_duration",
    f"""
    {WILLOUGHBY_SQL}
    SELECT ens_id, centroid_id,
           round(max(wind_ms * 1.49), 3) AS vmax_gust,
           round(max(wind_ms), 3) AS vmax_sust,
           CAST(360 * sum(CASE WHEN wind_ms * 1.49 > 15.0
                               THEN 1 ELSE 0 END) AS BIGINT)
             AS gust_dur_min,
           CAST(360 * sum(CASE WHEN wind_ms > 15.0 THEN 1 ELSE 0 END)
                AS BIGINT) AS sust_dur_min
    FROM wf_w WHERE wind_ms > 10.0
    GROUP BY ens_id, centroid_id
    HAVING sum(CASE WHEN wind_ms * 1.49 > 15.0 THEN 1 ELSE 0 END) > 0
    """,
    doc="K5 per-grid-point wind-duration summary — the "
        "summarize_grid_wind twin (prepare_typhoon_input.R:487-501): "
        "vmax_gust/vmax_sust maxima plus gust/sustained exposure "
        "durations 60*tint*count(speed > 15) in minutes (gust factor "
        "1.49, tint = 6 h steps). Same broadcast grid join as the "
        "intensity entry, analysis threshold 10 m/s < the 10.07 gust "
        "cut so the extent prune drops no counted sample.",
)
def tc_wind_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ibf_typhoon_data_pipeline_spark.operators.windfield import (
        windfield_willoughby,
    )

    tracks = gen_tracks(spark)
    cents = gen_centroids(spark).select("centroid_id", "lat", "lon")
    wf = windfield_willoughby(tracks, cents, threshold_ms=10.0)
    gust_hit = F.when(F.col("wind_ms") * 1.49 > 15.0, 1).otherwise(0)
    sust_hit = F.when(F.col("wind_ms") > 15.0, 1).otherwise(0)
    return (
        wf.groupBy("ens_id", "centroid_id")
        .agg(
            F.round(F.max(F.col("wind_ms") * 1.49), 3).alias("vmax_gust"),
            F.round(F.max("wind_ms"), 3).alias("vmax_sust"),
            (360 * F.sum(gust_hit)).cast("long").alias("gust_dur_min"),
            (360 * F.sum(sust_hit)).cast("long").alias("sust_dur_min"),
            F.sum(gust_hit).alias("__g"),
        )
        .filter(F.col("__g") > 0)
        .drop("__g")
    )


# --------------------------------------- K5 asymmetric surface wind
# The remaining R-path facets (prepare_typhoon_input.R:351-473):
# gradient wind direction from a bearing, Phadke-2003 inflow angle
# (+20 deg overland), surface reduction (the reference OVERRIDES the
# 0.9/0.75 piecewise factor to 1 — quirk preserved), and the forward-
# speed asymmetry Rmax*r/(Rmax^2+r^2) correction added in (u, v)
# components. Every formula is ONE SQL text shared by both engines;
# the reference's calc_bearing(-glon) sign quirk (line 458) is kept
# verbatim. Last track step: zero storm motion (the R path yields NA
# and drops it from na.rm aggregates; a zero component keeps the row
# with pure symmetric wind instead — documented deviation).
def _mod360(x: str) -> str:
    return f"(({x}) - 360.0 * floor(({x}) / 360.0))"


def _bearing_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    return _mod360(
        f"degrees(atan2("
        f"cos(radians({lat2})) * sin(radians({lon1}) - radians({lon2})), "
        f"cos(radians({lat1})) * sin(radians({lat2}))"
        f" - sin(radians({lat1})) * cos(radians({lat2}))"
        f" * cos(radians({lon1}) - radians({lon2})))) + 90.0"
    )


_ASym_INFLOW_SQL = (
    "CASE WHEN r < rmax THEN 10.0 + (1.0 + (r / rmax)) "
    "WHEN r < 1.2 * rmax THEN 20.0 + 25.0 * ((r / rmax) - 1.0) "
    "ELSE 25.0 END"
)
_ASym_SWD_SQL = _mod360(f"gwd + ({_ASym_INFLOW_SQL}) + 20.0")
_ASym_CF_SQL = "(rmax * r) / (rmax * rmax + r * r)"
_ASym_WIND_SQL = (
    "greatest(sqrt("
    f"pow(wind_sym * cos(radians({_ASym_SWD_SQL})) + ({_ASym_CF_SQL})"
    " * tcspd_u, 2)"
    f" + pow(wind_sym * sin(radians({_ASym_SWD_SQL})) + ({_ASym_CF_SQL})"
    " * tcspd_v, 2)), 0.0)"
)
_ASym_HAV_LEAD_SQL = (
    "2 * 6367.0 * asin(sqrt("
    "pow(sin(radians(llat - lat) / 2), 2)"
    " + cos(radians(lat)) * cos(radians(llat))"
    " * pow(sin(radians(llon - lon) / 2), 2)))"
)
_ASym_PROFILE_SQL = (
    "CASE WHEN r <= rmax THEN vmax * pow(r / rmax, nn) "
    "ELSE vmax * ((1.0 - aa) * exp((rmax - r) / x1)"
    " + aa * exp((rmax - r) / 25.0)) END"
)
_ASym_CHEAD_SQL = _bearing_sql("lat", "lon", "c_lat", "(-c_lon)")


@register(
    "tc_windfield_asymmetric",
    f"""
    WITH tracks AS ({TRACKS_SQL}),
    centroids AS ({CENTROIDS_SQL}),
    wp AS (
      SELECT ens_id, step, lat, lon, vmax,
        lead(lat) OVER w AS llat, lead(lon) OVER w AS llon
      FROM tracks
      WINDOW w AS (PARTITION BY ens_id ORDER BY step)
    ), motion AS (
      SELECT ens_id, step, lat, lon, vmax,
        CASE WHEN llat IS NULL THEN 0.0
             ELSE {_ASym_HAV_LEAD_SQL} * 1000.0 / 21600.0 END AS tcspd,
        CASE WHEN llat IS NULL THEN 0.0
             ELSE {_bearing_sql('lat', 'lon', 'llat', 'llon')} END
          AS tcdir
      FROM wp
    ), gl AS (
      SELECT *, greatest(vmax - 0.5 * tcspd, 0.0) / 0.9 AS vmax_gl
      FROM motion
    ), params AS (
      SELECT *,
        46.6 * exp(-0.0155 * vmax_gl + 0.0169 * abs(lat)) AS rmax,
        317.1 - 2.026 * vmax_gl + 1.915 * abs(lat) AS x1,
        0.4067 + 0.0144 * vmax_gl - 0.0038 * abs(lat) AS nn,
        greatest(0.0696 + 0.0049 * vmax_gl - 0.0064 * abs(lat), 0.0)
          AS aa
      FROM gl
    ), motion_uv AS (
      SELECT *, tcspd * cos(radians(tcdir)) AS tcspd_u,
                tcspd * sin(radians(tcdir)) AS tcspd_v
      FROM params
    ), pairs AS (
      SELECT m.ens_id, c.centroid_id, m.vmax_gl AS vmax, m.rmax,
        m.x1, m.nn, m.aa,
        m.tcspd_u, m.tcspd_v, m.lat, m.lon, c.lat AS c_lat,
        c.lon AS c_lon,
        greatest(2 * 6367.0 * asin(sqrt(
          pow(sin(radians(m.lat - c.lat) / 2), 2)
          + cos(radians(c.lat)) * cos(radians(m.lat))
            * pow(sin(radians(m.lon - c.lon) / 2), 2)
        )), 0.1) AS r
      FROM motion_uv m JOIN centroids c
        ON c.lat BETWEEN m.lat - 5.5 AND m.lat + 5.5
       AND c.lon BETWEEN m.lon - 5.5 AND m.lon + 5.5
    ), sym AS (
      SELECT *, {_ASym_PROFILE_SQL} AS wind_sym FROM pairs
    ), dirn AS (
      SELECT *, {_ASym_CHEAD_SQL} AS chead FROM sym
    ), gw AS (
      SELECT *, {_mod360('90.0 + chead')} AS gwd FROM dirn
    ), surf AS (
      SELECT ens_id, centroid_id, {_ASym_WIND_SQL} AS wind_sfc FROM gw
    )
    SELECT ens_id, centroid_id,
           CAST(count(*) AS BIGINT) AS n_steps,
           round(max(wind_sfc), 3) AS vmax_asym_ms
    FROM surf WHERE wind_sfc > 17.5
    GROUP BY ens_id, centroid_id
    """,
    doc="K5 asymmetric surface windfield — the full R-path direction "
        "chain (prepare_typhoon_input.R:351-473): Willoughby "
        "symmetric profile, gradient wind direction (90 + bearing, "
        "with the reference's calc_bearing(-glon) sign quirk kept "
        "verbatim), Phadke 2003 inflow angle + 20 deg overland, "
        "surface reduction factor pinned to 1 exactly as the "
        "reference overrides it, and storm-motion asymmetry added in "
        "(u, v) with the Rmax*r/(Rmax^2+r^2) correction. Storm "
        "motion comes from a lead window over 6 h steps; all trig is "
        "token-identical shared SQL. Same 5.5-degree bbox join shape "
        "as the other windfield entries.",
)
def tc_windfield_asymmetric(spark: SparkSession, sf_dir: str) -> DataFrame:
    tracks = gen_tracks(spark)
    w = Window.partitionBy("ens_id").orderBy("step")
    wp = tracks.select(
        "ens_id", "step", "lat", "lon", "vmax"
    ).withColumn("llat", F.lead("lat").over(w)).withColumn(
        "llon", F.lead("lon").over(w)
    )
    motion = wp.selectExpr(
        "ens_id", "step", "lat", "lon", "vmax",
        "CASE WHEN llat IS NULL THEN 0.0"
        f" ELSE {_ASym_HAV_LEAD_SQL} * 1000.0 / 21600.0 END AS tcspd",
        "CASE WHEN llat IS NULL THEN 0.0"
        f" ELSE {_bearing_sql('lat', 'lon', 'llat', 'llon')} END AS tcdir",
    ).selectExpr(
        "*", "greatest(vmax - 0.5 * tcspd, 0.0) / 0.9 AS vmax_gl"
    ).selectExpr(
        "*",
        "46.6 * exp(-0.0155 * vmax_gl + 0.0169 * abs(lat)) AS rmax",
        "317.1 - 2.026 * vmax_gl + 1.915 * abs(lat) AS x1",
        "0.4067 + 0.0144 * vmax_gl - 0.0038 * abs(lat) AS nn",
        "greatest(0.0696 + 0.0049 * vmax_gl - 0.0064 * abs(lat), 0.0)"
        " AS aa",
        "tcspd * cos(radians(tcdir)) AS tcspd_u",
        "tcspd * sin(radians(tcdir)) AS tcspd_v",
    )
    # the Willoughby extent runs on the GRADIENT-level vmax at a 10 m/s
    # threshold, safely below any asymmetric crossing of the 17.5 m/s
    # output filter (the forward-speed addition is bounded by 0.5 *
    # tcspd, and the synthetic translation tops out ~3 m/s — 17.5 -
    # 0.5*tcspd stays far above 10). Pruning is Spark-side only: the
    # plain-bbox oracle is value-identical because only sub-threshold
    # pairs are dropped.
    from ibf_typhoon_data_pipeline_spark.operators.windfield import (
        grid_prune_pairs,
        willoughby_extent_km,
    )

    t = motion.selectExpr(
        "ens_id", "step", "lat AS t_lat", "lon AS t_lon",
        "vmax_gl AS vmax", "rmax", "x1", "nn", "aa",
        "tcspd_u", "tcspd_v",
    )
    pruned = grid_prune_pairs(
        t,
        gen_centroids(spark).select("centroid_id", "lat", "lon"),
        willoughby_extent_km(F.col("vmax"), F.col("t_lat"), 10.0),
    )
    pairs = pruned.selectExpr(
        "ens_id", "centroid_id", "vmax", "rmax", "x1", "nn", "aa",
        "tcspd_u", "tcspd_v", "t_lat AS lat", "t_lon AS lon",
        "c_lat", "c_lon",
        "greatest(2 * 6367.0 * asin(sqrt("
        "pow(sin(radians(t_lat - c_lat) / 2), 2)"
        " + cos(radians(c_lat)) * cos(radians(t_lat))"
        " * pow(sin(radians(t_lon - c_lon) / 2), 2))), 0.1) AS r",
    )
    surf = (
        pairs.selectExpr("*", f"{_ASym_PROFILE_SQL} AS wind_sym")
        .selectExpr("*", f"{_ASym_CHEAD_SQL} AS chead")
        .selectExpr("*", f"{_mod360('90.0 + chead')} AS gwd")
        .select(
            "ens_id",
            "centroid_id",
            # fence: grid_prune_pairs
            F.explode(F.array(F.expr(_ASym_WIND_SQL))).alias("wind_sfc"),
        )
    )
    return (
        surf.filter(F.col("wind_sfc") > 17.5)
        .groupBy("ens_id", "centroid_id")
        .agg(
            F.count("*").cast("long").alias("n_steps"),
            F.round(F.max("wind_sfc"), 3).alias("vmax_asym_ms"),
        )
    )


# ------------------------------------------- time of arrival
@register(
    "tc_wind_arrival_time",
    f"""
    WITH tracks AS ({TRACKS_SQL}),
    centroids AS ({CENTROIDS_SQL}),
    wp AS (
      SELECT ens_id, step, lat, lon, vmax,
        46.6 * exp(-0.0155 * vmax + 0.0169 * abs(lat)) AS rmax,
        317.1 - 2.026 * vmax + 1.915 * abs(lat) AS x1,
        0.4067 + 0.0144 * vmax - 0.0038 * abs(lat) AS nn,
        greatest(0.0696 + 0.0049 * vmax - 0.0064 * abs(lat), 0.0) AS aa
      FROM tracks
    ), pairs AS (
      SELECT w.ens_id, w.step, c.centroid_id, w.vmax, w.rmax, w.x1,
        w.nn, w.aa,
        greatest(2 * 6367.0 * asin(sqrt(
          pow(sin(radians(w.lat - c.lat) / 2), 2)
          + cos(radians(c.lat)) * cos(radians(w.lat))
            * pow(sin(radians(w.lon - c.lon) / 2), 2)
        )), 0.1) AS r
      FROM wp w JOIN centroids c
        ON c.lat BETWEEN w.lat - 5.5 AND w.lat + 5.5
       AND c.lon BETWEEN w.lon - 5.5 AND w.lon + 5.5
    ), winds AS (
      SELECT ens_id, step, centroid_id,
        CASE WHEN r <= rmax THEN vmax * pow(r / rmax, nn)
             ELSE vmax * ((1.0 - aa) * exp((rmax - r) / x1)
                          + aa * exp((rmax - r) / 25.0)) END AS wind_ms
      FROM pairs
    ), arrivals AS (
      SELECT ens_id, centroid_id,
             CAST(min(step) AS BIGINT) AS first_step
      FROM winds WHERE wind_ms > 17.5
      GROUP BY ens_id, centroid_id
    )
    SELECT centroid_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(min(first_step) AS BIGINT) AS earliest_step,
           round(CAST(percentile_cont(0.5) WITHIN GROUP
                        (ORDER BY first_step) AS DOUBLE), 1)
             AS median_step
    FROM arrivals
    GROUP BY centroid_id
    HAVING count(*) >= 26
    ORDER BY centroid_id
    """,
    doc="Time of arrival of damaging winds — the early-warning "
        "product behind the F5 lead-time ladder: per (member, grid "
        "point) the first 6 h step whose Willoughby wind exceeds "
        "17.5 m/s, then the across-ensemble earliest and median "
        "arrival for points where a majority (>= 26 of 52 members) "
        "see damaging winds at all. Steps are exact integers, so "
        "min/median cross engines bitwise (median of integers is "
        "integral or .5). Same bbox join as every windfield entry; "
        "the W3 first-qualifying shape applied to the hazard "
        "surface.",
)
def tc_wind_arrival_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ibf_typhoon_data_pipeline_spark.operators.windfield import (
        windfield_willoughby,
    )

    tracks = gen_tracks(spark)
    cents = gen_centroids(spark).select("centroid_id", "lat", "lon")
    wf = windfield_willoughby(tracks, cents, threshold_ms=17.5)
    arrivals = wf.groupBy("ens_id", "centroid_id").agg(
        F.min("step").cast("long").alias("first_step")
    )
    return (
        arrivals.groupBy("centroid_id")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.min("first_step").cast("long").alias("earliest_step"),
            F.round(
                F.expr("percentile(first_step, 0.5)"), 1
            ).alias("median_step"),
        )
        .filter(F.col("n_members") >= 26)
        .orderBy("centroid_id")
    )


# ------------------------------------------- wind radii (R34/R50/R64)
# Advisory wind radii: the radius where the reduced Willoughby OUTER
# profile crosses 34/50/64 kt. The profile is strictly decreasing in
# r (X1 > 0, A in [0,1)), so 12 unrolled bisection steps on
# [rmax, rmax + 600 km] bracket the crossing to ~0.15 km; each step
# materializes its (lo, hi) pair as real columns — the repo's
# unrolled-Newton rule, no nested expression blowup. Storms whose
# peak is already below a threshold yield NULL for that radius.
_RADII_KT = {"r34_km": 17.49, "r50_km": 25.72, "r64_km": 32.92}
_RADII_STEPS = 12


def _radii_profile(r: str) -> str:
    return (
        f"(vmax * ((1.0 - aa) * exp((rmax - ({r})) / x1)"
        f" + aa * exp((rmax - ({r})) / 25.0)))"
    )


def _radii_step_exprs(name: str, thr: float) -> list[str]:
    mid = f"(({name}_lo + {name}_hi) / 2.0)"
    f = _radii_profile(mid)
    return [
        f"CASE WHEN {f} > {thr} THEN {mid} ELSE {name}_lo END"
        f" AS {name}_lo",
        f"CASE WHEN {f} > {thr} THEN {name}_hi ELSE {mid} END"
        f" AS {name}_hi",
    ]


def _radii_oracle() -> str:
    inits = ", ".join(
        f"rmax AS {n}_lo, rmax + 600.0 AS {n}_hi" for n in _RADII_KT
    )
    ctes = [f"b0 AS (SELECT *, {inits} FROM wp)"]
    for i in range(1, _RADII_STEPS + 1):
        cols = ", ".join(
            e
            for n, thr in _RADII_KT.items()
            for e in _radii_step_exprs(n, thr)
        )
        keep = "ens_id, step, vmax, rmax, x1, aa"
        ctes.append(f"b{i} AS (SELECT {keep}, {cols} FROM b{i - 1})")
    finals = ", ".join(
        f"CASE WHEN {_radii_profile('rmax')} > {thr}"
        f" THEN round(({n}_lo + {n}_hi) / 2.0, 2) ELSE NULL END AS {n}"
        for n, thr in _RADII_KT.items()
    )
    body = ",\n    ".join(ctes)
    return f"""
    WITH tracks AS ({TRACKS_SQL}),
    wp AS (
      SELECT ens_id, step, vmax,
        46.6 * exp(-0.0155 * vmax + 0.0169 * abs(lat)) AS rmax,
        317.1 - 2.026 * vmax + 1.915 * abs(lat) AS x1,
        greatest(0.0696 + 0.0049 * vmax - 0.0064 * abs(lat), 0.0) AS aa
      FROM tracks
    ),
    {body}
    SELECT ens_id, step, round(rmax, 2) AS rmax_km, {finals}
    FROM b{_RADII_STEPS}
    ORDER BY ens_id, step
    """


@register(
    "tc_wind_radii",
    _radii_oracle,
    doc="Advisory wind radii R34/R50/R64 per track point: bisection "
        "on the monotone Willoughby outer profile, 12 unrolled steps "
        "each materialized as (lo, hi) columns (the unrolled-Newton "
        "invariant — bounded expression size, identical fold order "
        "in both engines), NULL where the peak never reaches the "
        "threshold. Pure per-row math over the track frame — no "
        "join, no shuffle beyond the final sort.",
)
def tc_wind_radii(spark: SparkSession, sf_dir: str) -> DataFrame:
    wp = gen_tracks(spark).selectExpr(
        "ens_id", "step", "vmax",
        "46.6 * exp(-0.0155 * vmax + 0.0169 * abs(lat)) AS rmax",
        "317.1 - 2.026 * vmax + 1.915 * abs(lat) AS x1",
        "greatest(0.0696 + 0.0049 * vmax - 0.0064 * abs(lat), 0.0) AS aa",
    )
    cur = wp.selectExpr(
        "*",
        *[
            e
            for n in _RADII_KT
            for e in (f"rmax AS {n}_lo", f"rmax + 600.0 AS {n}_hi")
        ],
    )
    keep = ["ens_id", "step", "vmax", "rmax", "x1", "aa"]
    for _ in range(_RADII_STEPS):
        cur = cur.selectExpr(
            *keep,
            *[
                e
                for n, thr in _RADII_KT.items()
                for e in _radii_step_exprs(n, thr)
            ],
        )
    return cur.selectExpr(
        "ens_id", "step", "round(rmax, 2) AS rmax_km",
        *[
            f"CASE WHEN {_radii_profile('rmax')} > {thr}"
            f" THEN round(({n}_lo + {n}_hi) / 2.0, 2) ELSE NULL END"
            f" AS {n}"
            for n, thr in _RADII_KT.items()
        ],
    ).orderBy("ens_id", "step")


# ------------------------------------------- spread-skill relation
# The remaining standard ensemble diagnostic (with CRPS, rank
# histogram, Brier, AUC already in the catalog): does ensemble
# SPREAD predict forecast ERROR? Pearson correlation across
# municipalities between the ensemble's wind spread (stddev over
# members) and the control-vs-mean absolute error. Spread and error
# quantize to integer milli-m/s via exact integer moment arithmetic
# (population variance from (n*sum_sq - sum^2), then one sqrt of an
# identical double), and the correlation itself is the shared
# five-moment formula over those BIGINTs.
_SS_CORR_SQL = (
    "round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
    " / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
    " * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)"
)


@register(
    "tc_spread_skill",
    f"""
    {DAMAGE_SQL}
    , vm AS (
      SELECT adm3_pcode, ens_id,
             CAST(round(v_max * 1000.0) AS BIGINT) AS v_milli
      FROM damage
    ), stats AS (
      SELECT adm3_pcode,
             CAST(count(CASE WHEN ens_id > 0 THEN 1 END) AS BIGINT)
               AS k,
             CAST(sum(CASE WHEN ens_id > 0 THEN v_milli END) AS BIGINT)
               AS s1,
             CAST(sum(CASE WHEN ens_id > 0
                           THEN v_milli * v_milli END) AS BIGINT) AS s2,
             CAST(max(CASE WHEN ens_id = 0 THEN v_milli END) AS BIGINT)
               AS obs
      FROM vm GROUP BY adm3_pcode
    ), xy AS (
      SELECT adm3_pcode,
             CAST(round(sqrt((CAST(s2 AS DOUBLE) * k
                              - CAST(s1 AS DOUBLE) * s1)
                             / (CAST(k AS DOUBLE) * k))) AS BIGINT)
               AS spread,
             CAST(abs(CAST(round(CAST(s1 AS DOUBLE) / k) AS BIGINT)
                      - obs) AS BIGINT) AS err
      FROM stats WHERE k > 1 AND obs IS NOT NULL
    ), mo AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(spread) AS BIGINT) AS sx,
             CAST(sum(err) AS BIGINT) AS sy,
             CAST(sum(spread * spread) AS BIGINT) AS sxx,
             CAST(sum(err * err) AS BIGINT) AS syy,
             CAST(sum(spread * err) AS BIGINT) AS sxy
      FROM xy
    )
    SELECT n, sx, sy, sxx, syy, sxy, {_SS_CORR_SQL} AS spread_skill_r
    FROM mo
    """,
    doc="Spread-skill correlation of the wind ensemble: per "
        "municipality the member spread (population stddev from "
        "integer milli-unit moments, rounded once back to milli) vs "
        "the |ensemble mean - control| error, then Pearson r across "
        "municipalities from six exact BIGINT moments — a "
        "well-calibrated ensemble shows positive spread-skill. "
        "Completes the verification suite alongside CRPS, rank "
        "histogram, Brier, and AUC; one groupBy over the damage "
        "frame, six-number reduce.",
)
def tc_spread_skill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ibf_typhoon_data_pipeline_spark.operators.cache import (
        persist_tracked,
    )

    vm = persist_tracked(
        _damage(spark).select(
            "adm3_pcode",
            "ens_id",
            F.round(F.col("v_max") * 1000.0).cast("long").alias("v_milli"),
        )
    )
    mem = F.col("ens_id") > 0
    stats = vm.groupBy("adm3_pcode").agg(
        F.count(F.when(mem, 1)).cast("long").alias("k"),
        F.sum(F.when(mem, F.col("v_milli"))).cast("long").alias("s1"),
        F.sum(F.when(mem, F.col("v_milli") * F.col("v_milli")))
        .cast("long")
        .alias("s2"),
        F.max(F.when(F.col("ens_id") == 0, F.col("v_milli")))
        .cast("long")
        .alias("obs"),
    )
    xy = stats.filter(
        (F.col("k") > 1) & F.col("obs").isNotNull()
    ).selectExpr(
        "adm3_pcode",
        "CAST(round(sqrt((CAST(s2 AS DOUBLE) * k"
        " - CAST(s1 AS DOUBLE) * s1)"
        " / (CAST(k AS DOUBLE) * k))) AS BIGINT) AS spread",
        "CAST(abs(CAST(round(CAST(s1 AS DOUBLE) / k) AS BIGINT)"
        " - obs) AS BIGINT) AS err",
    )
    mo = xy.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("spread").cast("long").alias("sx"),
        F.sum("err").cast("long").alias("sy"),
        F.sum(F.col("spread") * F.col("spread")).cast("long").alias("sxx"),
        F.sum(F.col("err") * F.col("err")).cast("long").alias("syy"),
        F.sum(F.col("spread") * F.col("err")).cast("long").alias("sxy"),
    )
    return mo.selectExpr(
        "n", "sx", "sy", "sxx", "syy", "sxy",
        f"{_SS_CORR_SQL} AS spread_skill_r",
    )


# ------------------------------------------- forecast cone
@register(
    "tc_forecast_cone",
    f"""
    WITH tracks AS ({TRACKS_SQL}),
    center AS (
      SELECT step,
             CAST(sum(CAST(round(lat * 1000000.0) AS BIGINT)) AS BIGINT)
               AS slat6,
             CAST(sum(CAST(round(lon * 1000000.0) AS BIGINT)) AS BIGINT)
               AS slon6,
             CAST(count(*) AS BIGINT) AS k
      FROM tracks GROUP BY step
    ), dists AS (
      SELECT t.step,
             CAST(round(111.32 * sqrt(
               pow(t.lat - CAST(c.slat6 AS DOUBLE) / (1000000.0 * c.k),
                   2)
               + pow((t.lon - CAST(c.slon6 AS DOUBLE)
                      / (1000000.0 * c.k))
                     * cos(radians(CAST(c.slat6 AS DOUBLE)
                                   / (1000000.0 * c.k))), 2)
             ) * 1000.0) AS BIGINT) AS d_milli
      FROM tracks t JOIN center c ON c.step = t.step
    )
    SELECT step,
           CAST(count(*) AS BIGINT) AS n_members,
           round(CAST(quantile_cont(d_milli, 0.66) AS DOUBLE)
                 / 1000.0, 4) AS cone_radius_km
    FROM dists
    GROUP BY step
    ORDER BY step
    """,
    doc="Forecast-cone radius per lead step (the NHC-style track "
        "uncertainty product): ensemble-mean position from exact "
        "integer micro-degree sums, each member's equirectangular "
        "distance to it quantized once to milli-km, and the 66% "
        "quantile of those integers (Spark percentile == DuckDB "
        "quantile_cont on integer inputs). Step-keyed aggs only — "
        "member-parallel at any ensemble size.",
)
def tc_forecast_cone(spark: SparkSession, sf_dir: str) -> DataFrame:
    tracks = gen_tracks(spark)
    center = tracks.groupBy("step").agg(
        F.sum(F.round(F.col("lat") * 1000000.0).cast("long"))
        .cast("long")
        .alias("slat6"),
        F.sum(F.round(F.col("lon") * 1000000.0).cast("long"))
        .cast("long")
        .alias("slon6"),
        F.count("*").cast("long").alias("k"),
    )
    dists = tracks.join(F.broadcast(center), "step").selectExpr(
        "step",
        "CAST(round(111.32 * sqrt("
        "pow(lat - CAST(slat6 AS DOUBLE) / (1000000.0 * k), 2)"
        " + pow((lon - CAST(slon6 AS DOUBLE) / (1000000.0 * k))"
        " * cos(radians(CAST(slat6 AS DOUBLE) / (1000000.0 * k))), 2)"
        ") * 1000.0) AS BIGINT) AS d_milli",
    )
    return (
        dists.groupBy("step")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.round(
                F.expr("percentile(d_milli, 0.66)") / 1000.0, 4
            ).alias("cone_radius_km"),
        )
        .orderBy("step")
    )


# ------------------------------------------- track position error
@register(
    "tc_track_dpe",
    f"""
    WITH tracks AS ({TRACKS_SQL}),
    ctrl AS (
      SELECT step, lat AS clat, lon AS clon FROM tracks WHERE ens_id = 0
    ), members AS (
      SELECT t.step,
             CAST(round(111.32 * sqrt(
               pow(t.lat - c.clat, 2)
               + pow((t.lon - c.clon) * cos(radians(c.clat)), 2)
             ) * 1000.0) AS BIGINT) AS dpe_milli
      FROM tracks t JOIN ctrl c ON c.step = t.step
      WHERE t.ens_id > 0
    )
    SELECT step,
           CAST(count(*) AS BIGINT) AS n_members,
           round(CAST(sum(dpe_milli) AS DOUBLE)
                 / (1000.0 * count(*)), 4) AS mean_dpe_km,
           round(CAST(quantile_cont(dpe_milli, 0.5) AS DOUBLE)
                 / 1000.0, 4) AS median_dpe_km
    FROM members
    GROUP BY step
    ORDER BY step
    """,
    doc="Direct positional error by lead step: each perturbed "
        "member's equirectangular distance to the control position, "
        "quantized once to integer milli-km, then exact mean and "
        "median per step — the TRACK-verification twin of the "
        "intensity metrics (CRPS/rank histogram), showing error "
        "growth with lead time. Control frame broadcasts; one "
        "step-keyed agg.",
)
def tc_track_dpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    tracks = gen_tracks(spark)
    ctrl = tracks.filter(F.col("ens_id") == 0).select(
        "step", F.col("lat").alias("clat"), F.col("lon").alias("clon")
    )
    members = (
        tracks.filter(F.col("ens_id") > 0)
        .join(F.broadcast(ctrl), "step")
        .selectExpr(
            "step",
            "CAST(round(111.32 * sqrt(pow(lat - clat, 2)"
            " + pow((lon - clon) * cos(radians(clat)), 2)) * 1000.0)"
            " AS BIGINT) AS dpe_milli",
        )
    )
    return (
        members.groupBy("step")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.round(
                F.sum("dpe_milli").cast("double")
                / (1000.0 * F.count("*")),
                4,
            ).alias("mean_dpe_km"),
            F.round(
                F.expr("percentile(dpe_milli, 0.5)") / 1000.0, 4
            ).alias("median_dpe_km"),
        )
        .orderBy("step")
    )


# ------------------------------------------- integrated kinetic energy
# Powell & Reinhold (2007) IKE — the damage-potential metric that
# replaced pure Vmax scales: 0.5 * rho * U^2 integrated over the area
# experiencing >= 18 m/s sustained wind (rho = 1.15 kg/m^3). Adapted to
# the per-member max-wind ENVELOPE on the 0.25-degree analysis grid
# (cell area 27750 m square, cos(lat) meridian convergence). Each
# cell's energy term quantizes to integer megajoules BEFORE the member
# sum, so the reduction is order-free; the TJ output divides exact
# integers. Rides the same Willoughby kernel + dynamic-extent prune as
# the duration entry — lossless for the 18 m/s cut since the analysis
# threshold sits below it.
_IKE_MJ_SQL = (
    "CAST(floor(0.5 * 1.15 * u * u"
    " * (27750.0 * 27750.0 * cos(radians(c_lat)))"
    " / 1000000.0 + 0.5) AS BIGINT)"
)


@register(
    "tc_ike_energy",
    f"""
    {WILLOUGHBY_SQL}
    , env AS (
      SELECT ens_id, centroid_id, max(wind_ms) AS u
      FROM wf_w GROUP BY ens_id, centroid_id
      HAVING max(wind_ms) >= 18.0
    ), cells AS (
      SELECT e.ens_id, e.u, c.lat AS c_lat
      FROM env e JOIN centroids c ON c.centroid_id = e.centroid_id
    )
    SELECT ens_id,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum({_IKE_MJ_SQL}) AS BIGINT) AS ike_mj,
           round(CAST(sum({_IKE_MJ_SQL}) AS DOUBLE) / 1000000.0, 6)
             AS ike_tj
    FROM cells GROUP BY ens_id ORDER BY ens_id
    """,
    doc="Integrated kinetic energy (Powell & Reinhold 2007) per "
        "ensemble member: 0.5*rho*U^2 summed over every 0.25-degree "
        "cell whose max-envelope sustained wind reaches 18 m/s, "
        "cos(lat)-corrected cell areas, rho=1.15. Cell terms quantize "
        "to integer MJ before the member sum (order-free); the "
        "centroid-latitude join is broadcast at grid cardinality. "
        "Same Willoughby kernel + grid prune as tc_wind_duration "
        "(analysis threshold 15 < the 18 cut keeps the prune "
        "lossless).",
)
def tc_ike_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ibf_typhoon_data_pipeline_spark.operators.windfield import (
        windfield_willoughby,
    )

    tracks = gen_tracks(spark)
    cents = gen_centroids(spark).select("centroid_id", "lat", "lon")
    wf = windfield_willoughby(tracks, cents, threshold_ms=15.0)
    env = (
        wf.groupBy("ens_id", "centroid_id")
        .agg(F.max("wind_ms").alias("u"))
        .filter(F.col("u") >= 18.0)
    )
    clat = cents.select("centroid_id", F.col("lat").alias("c_lat"))
    cells = env.join(F.broadcast(clat), "centroid_id")
    mj = F.expr(_IKE_MJ_SQL)
    return (
        cells.groupBy("ens_id")
        .agg(
            F.count("*").cast("long").alias("n_cells"),
            F.sum(mj).cast("long").alias("ike_mj"),
            F.round(
                F.sum(mj).cast("double") / 1000000.0, 6
            ).alias("ike_tj"),
        )
        .orderBy("ens_id")
    )


# --------------------------------------------- trigger PR curve
# Completes the classifier-eval suite (calibration, Brier, ROC-AUC):
# the precision-recall curve of the ensemble trigger probability vs
# the control outcome at 9 thresholds. Every point is a pair of exact
# integer-count ratios from ONE conditional agg over the muni frame
# crossed with the 9-row threshold list — no sorting, no windows, and
# the whole curve is one partial-agg pass at any scale.
@register(
    "tc_trigger_pr_curve",
    f"""
    {DAMAGE_SQL}
    , vm AS (
      SELECT adm3_pcode, ens_id,
             CASE WHEN v_max > 25.0 THEN 1 ELSE 0 END AS ex
      FROM damage
    ), p AS (
      SELECT adm3_pcode, {_P_E6_SQL} AS p_e6,
             CAST(sum(CASE WHEN ens_id = 0 THEN ex ELSE 0 END) AS BIGINT)
               AS o
      FROM vm GROUP BY adm3_pcode
      HAVING sum(CASE WHEN ens_id > 0 THEN 1 ELSE 0 END) > 0
         AND sum(CASE WHEN ens_id = 0 THEN 1 ELSE 0 END) > 0
    ), thr AS (
      SELECT unnest([100000, 200000, 300000, 400000, 500000,
                     600000, 700000, 800000, 900000]) AS t
    ), counts AS (
      SELECT t,
             CAST(sum(CASE WHEN p_e6 >= t THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pred_pos,
             CAST(sum(CASE WHEN p_e6 >= t AND o = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS tp,
             CAST(sum(o) AS BIGINT) AS n_pos
      FROM p CROSS JOIN thr GROUP BY t
    )
    SELECT CAST(t AS BIGINT) AS t, n_pred_pos, tp, n_pos,
           CAST(round(1000000.0 * tp / nullif(n_pred_pos, 0)) AS BIGINT)
             AS precision_e6,
           CAST(round(1000000.0 * tp / nullif(n_pos, 0)) AS BIGINT)
             AS recall_e6
    FROM counts ORDER BY t
    """,
    doc="Precision-recall curve of the trigger probability vs the "
        "control outcome at thresholds 0.1..0.9: one conditional "
        "partial agg over the muni frame crossed with the broadcast "
        "9-row threshold list; precision/recall are e6 rationals of "
        "exact BIGINT counts (NULL precision where nothing is "
        "predicted positive, identically in both engines). With "
        "calibration, Brier and AUC this closes the standard "
        "probabilistic-trigger evaluation set.",
)
def tc_trigger_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    vm = _damage(spark).select(
        "adm3_pcode",
        "ens_id",
        F.when(F.col("v_max") > 25.0, 1).otherwise(0).alias("ex"),
    )
    p = (
        vm.groupBy("adm3_pcode")
        .agg(
            F.expr(_P_E6_SQL).alias("p_e6"),
            F.expr(
                "CAST(sum(CASE WHEN ens_id = 0 THEN ex ELSE 0 END)"
                " AS BIGINT)"
            ).alias("o"),
            F.expr(
                "sum(CASE WHEN ens_id > 0 THEN 1 ELSE 0 END)"
            ).alias("__n_ens"),
            F.expr(
                "sum(CASE WHEN ens_id = 0 THEN 1 ELSE 0 END)"
            ).alias("__n_obs"),
        )
        .filter((F.col("__n_ens") > 0) & (F.col("__n_obs") > 0))
    )
    thr = spark.range(1, 10).select(
        (F.col("id") * 100000).cast("long").alias("t")
    )
    counts = (
        p.crossJoin(F.broadcast(thr))
        .groupBy("t")
        .agg(
            F.sum(F.when(F.col("p_e6") >= F.col("t"), 1).otherwise(0))
            .cast("long")
            .alias("n_pred_pos"),
            F.sum(
                F.when(
                    (F.col("p_e6") >= F.col("t")) & (F.col("o") == 1), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("tp"),
            F.sum("o").cast("long").alias("n_pos"),
        )
    )
    return counts.select(
        "t",
        "n_pred_pos",
        "tp",
        "n_pos",
        F.round(
            1000000.0 * F.col("tp") / F.expr("nullif(n_pred_pos, 0)")
        )
        .cast("long")
        .alias("precision_e6"),
        F.round(1000000.0 * F.col("tp") / F.expr("nullif(n_pos, 0)"))
        .cast("long")
        .alias("recall_e6"),
    ).orderBy("t")


# ------------------------------------------- rolling 24 h rain accum
@register(
    "tc_rain_rolling_24h",
    f"""
    WITH rain AS ({RAIN_SQL}),
    cells AS ({CENTROIDS_SQL}),
    reduced AS (
      SELECT cell_id, t,
             CAST(round(median(mm) * 1000000.0) AS BIGINT) AS mm_micro
      FROM rain GROUP BY cell_id, t
    ), rolled AS (
      SELECT cell_id, t,
             CAST(sum(mm_micro) OVER (
               PARTITION BY cell_id ORDER BY t
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS accum_micro
      FROM reduced
    ), zonal AS (
      SELECT c.adm3_pcode, r.t,
             CAST(sum(r.accum_micro) AS BIGINT) AS zsum_micro,
             CAST(count(*) AS BIGINT) AS zn
      FROM rolled r JOIN cells c ON r.cell_id = c.centroid_id
      GROUP BY 1, 2
    )
    SELECT adm3_pcode,
           CAST(max(CAST(floor(CAST(zsum_micro AS DOUBLE)
                     / CAST(zn AS DOUBLE) + 0.5) AS BIGINT)) AS BIGINT)
             AS max_accum_micro
    FROM zonal GROUP BY adm3_pcode
    """,
    doc="Peak 24-hour rainfall accumulation per municipality — the "
        "sliding-window strengthening of tc_rain_zonal's per-step "
        "max (Rainfall_data.py accumulates 6 h GEFS steps into 24 h "
        "totals before the zonal max): ensemble median per "
        "(cell, step) quantized to integer micro-mm FIRST, so the "
        "4-step ROWS-frame rolling sum is exact in any association "
        "order (Spark's sliding WindowExec and DuckDB's segment tree "
        "fold differently — integers make that irrelevant); then "
        "the zone mean re-quantizes floor(S/n+0.5) to integer "
        "micro-mm (a 6dp-rounded ratio hit an exact half boundary "
        "where the engines' round() disagree) and max runs on "
        "integers. Window "
        "partitions by cell (30 steps each), never a global order.",
)
def tc_rain_rolling_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    rain = gen_rain(spark)
    cells = gen_centroids(spark).select(
        F.col("centroid_id").alias("cell_id"), "adm3_pcode"
    )
    reduced = rain.groupBy("cell_id", "t").agg(
        F.round(F.median("mm") * 1000000.0)
        .cast("long")
        .alias("mm_micro")
    )
    w = (
        Window.partitionBy("cell_id")
        .orderBy("t")
        .rowsBetween(-3, Window.currentRow)
    )
    rolled = reduced.select(
        "cell_id",
        "t",
        F.sum("mm_micro").over(w).cast("long").alias("accum_micro"),
    )
    zonal = (
        rolled.join(F.broadcast(cells), "cell_id")
        .groupBy("adm3_pcode", "t")
        .agg(
            F.sum("accum_micro").cast("long").alias("zsum_micro"),
            F.count("*").cast("long").alias("zn"),
        )
    )
    return zonal.groupBy("adm3_pcode").agg(
        F.max(
            F.expr(
                "CAST(floor(CAST(zsum_micro AS DOUBLE)"
                " / CAST(zn AS DOUBLE) + 0.5) AS BIGINT)"
            )
        )
        .cast("long")
        .alias("max_accum_micro")
    )


# --------------------------------------------- contingency skill
# Categorical forecast-verification metrics over municipalities: the
# ensemble trigger (probability >= 0.5) against the control outcome
# builds the 2x2 contingency table (hits a, false alarms b, misses c,
# correct negatives d), then POD, FAR, CSI and the Heidke skill score
# — the WMO-standard summary a forecast office quotes alongside
# Brier/AUC. Every cell is an exact BIGINT count; each score is one
# e6 rational of integer products (HSS's expected-correct term folds
# to integers before the single division).
@register(
    "tc_skill_contingency",
    f"""
    {DAMAGE_SQL}
    , vm AS (
      SELECT adm3_pcode, ens_id,
             CASE WHEN v_max > 25.0 THEN 1 ELSE 0 END AS ex
      FROM damage
    ), p AS (
      SELECT adm3_pcode, {_P_E6_SQL} AS p_e6,
             CAST(sum(CASE WHEN ens_id = 0 THEN ex ELSE 0 END) AS BIGINT)
               AS o
      FROM vm GROUP BY adm3_pcode
      HAVING sum(CASE WHEN ens_id > 0 THEN 1 ELSE 0 END) > 0
         AND sum(CASE WHEN ens_id = 0 THEN 1 ELSE 0 END) > 0
    ), cells AS (
      SELECT
        CAST(sum(CASE WHEN p_e6 >= 500000 AND o = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS a,
        CAST(sum(CASE WHEN p_e6 >= 500000 AND o = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS b,
        CAST(sum(CASE WHEN p_e6 < 500000 AND o = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS c,
        CAST(sum(CASE WHEN p_e6 < 500000 AND o = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS d
      FROM p
    )
    SELECT a, b, c, d,
           CAST(round(1000000.0 * a / nullif(a + c, 0)) AS BIGINT)
             AS pod_e6,
           CAST(round(1000000.0 * b / nullif(a + b, 0)) AS BIGINT)
             AS far_e6,
           CAST(round(1000000.0 * a / nullif(a + b + c, 0)) AS BIGINT)
             AS csi_e6,
           CAST(round(1000000.0 * 2 * (a * d - b * c)
                / nullif((a + c) * (c + d) + (a + b) * (b + d), 0))
             AS BIGINT) AS hss_e6
    FROM cells
    """,
    doc="WMO categorical verification of the >= 0.5 ensemble trigger "
        "vs the control outcome: the 2x2 contingency table as exact "
        "BIGINT counts from ONE conditional agg over the muni frame, "
        "then POD = a/(a+c), FAR = b/(a+b), CSI = a/(a+b+c) and the "
        "Heidke skill score 2(ad-bc)/((a+c)(c+d)+(a+b)(b+d)) as e6 "
        "rationals of integer products. Completes the verification "
        "suite (calibration, Brier, AUC, PR curve, CRPS, rank "
        "histogram, spread-skill, MASE, DPE).",
)
def tc_skill_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    vm = _damage(spark).select(
        "adm3_pcode",
        "ens_id",
        F.when(F.col("v_max") > 25.0, 1).otherwise(0).alias("ex"),
    )
    p = (
        vm.groupBy("adm3_pcode")
        .agg(
            F.expr(_P_E6_SQL).alias("p_e6"),
            F.expr(
                "CAST(sum(CASE WHEN ens_id = 0 THEN ex ELSE 0 END)"
                " AS BIGINT)"
            ).alias("o"),
            F.expr(
                "sum(CASE WHEN ens_id > 0 THEN 1 ELSE 0 END)"
            ).alias("__n_ens"),
            F.expr(
                "sum(CASE WHEN ens_id = 0 THEN 1 ELSE 0 END)"
            ).alias("__n_obs"),
        )
        .filter((F.col("__n_ens") > 0) & (F.col("__n_obs") > 0))
    )
    hit = F.col("p_e6") >= 500000
    cells = p.agg(
        F.sum(F.when(hit & (F.col("o") == 1), 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when(hit & (F.col("o") == 0), 1).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when(~hit & (F.col("o") == 1), 1).otherwise(0))
        .cast("long")
        .alias("c"),
        F.sum(F.when(~hit & (F.col("o") == 0), 1).otherwise(0))
        .cast("long")
        .alias("d"),
    )
    return cells.selectExpr(
        "a",
        "b",
        "c",
        "d",
        "CAST(round(1000000.0 * a / nullif(a + c, 0)) AS BIGINT)"
        " AS pod_e6",
        "CAST(round(1000000.0 * b / nullif(a + b, 0)) AS BIGINT)"
        " AS far_e6",
        "CAST(round(1000000.0 * a / nullif(a + b + c, 0)) AS BIGINT)"
        " AS csi_e6",
        "CAST(round(1000000.0 * 2 * (a * d - b * c)"
        " / nullif((a + c) * (c + d) + (a + b) * (b + d), 0))"
        " AS BIGINT) AS hss_e6",
    )


# ------------------------------------------------------- geohash cells
def _geohash5_interleave_sql(lat: str, lon: str) -> str:
    """25-bit geohash interleave (13 lon bits, 12 lat bits, MSB
    first) as ONE integer expression — the token-for-token shared
    text both engines evaluate (`>>`/`&` agree on BIGINT in Spark
    and DuckDB; verified like the simhash entry's bit ops). The
    base-32 character mapping is applied to the MATERIALIZED column,
    never inline — repeating this expression five times would
    re-evaluate 25 shift terms per character (the nested-expression
    blowup rule)."""
    lon_q = f"CAST(floor(({lon} + 180.0) / 360.0 * 8192.0) AS BIGINT)"
    lat_q = f"CAST(floor(({lat} + 90.0) / 180.0 * 4096.0) AS BIGINT)"
    terms = []
    for k in range(25):
        if k % 2 == 0:
            b = 12 - k // 2
            terms.append(f"((({lon_q}) >> {b}) & 1) * {1 << (24 - k)}")
        else:
            b = 11 - (k - 1) // 2
            terms.append(f"((({lat_q}) >> {b}) & 1) * {1 << (24 - k)}")
    return "(" + " + ".join(terms) + ")"


_GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"
_GEOHASH_CHARS_SQL = "concat(" + ", ".join(
    f"substr('{_GEOHASH_ALPHABET}', "
    f"CAST((gh >> {20 - 5 * g}) & 31 AS INT) + 1, 1)"
    for g in range(5)
) + ")"


@register(
    "geo_geohash_cells",
    f"""
    WITH tracks AS ({TRACKS_SQL}),
    g AS (
      SELECT ens_id, vmax,
             {_geohash5_interleave_sql('lat', 'lon')} AS gh
      FROM tracks
    ), c AS (
      SELECT ens_id, vmax, {_GEOHASH_CHARS_SQL} AS cell FROM g
    )
    SELECT cell,
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(count(DISTINCT ens_id) AS BIGINT) AS n_members,
           CAST(sum(CAST(round(vmax * 1000000.0) AS BIGINT)) AS BIGINT)
             AS sum_vmax_micro
    FROM c GROUP BY cell ORDER BY cell
    """,
    doc="Geohash-5 spatial bucketing of the ensemble track cloud: "
        "standard 25-bit lat/lon interleave + base-32 encoding, "
        "built from ONE shared SQL text (the bit interleave is "
        "exact-integer in both engines, same contract as the Morton "
        "z-order entry) with the interleave materialized before the "
        "five character lookups. The cell id is the shuffle key — "
        "at 100 TB this is the standard geo-partitioning scheme "
        "(neighboring points share prefixes, so range scans prune "
        "by cell prefix like the zone-map entry). Output: per-cell "
        "point count, member spread, integer-micro intensity mass.",
)
def geo_geohash_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    tracks = gen_tracks(spark)
    g = tracks.select(
        "ens_id",
        "vmax",
        F.expr(_geohash5_interleave_sql("lat", "lon")).alias("gh"),
    )
    c = g.select(
        "ens_id", "vmax", F.expr(_GEOHASH_CHARS_SQL).alias("cell")
    )
    return (
        c.groupBy("cell")
        .agg(
            F.count("*").cast("long").alias("n_points"),
            F.countDistinct("ens_id").cast("long").alias("n_members"),
            F.sum(F.round(F.col("vmax") * 1000000.0).cast("long"))
            .cast("long")
            .alias("sum_vmax_micro"),
        )
        .orderBy("cell")
    )


# --------------------------------------------- strike probability map
@register(
    "tc_strike_probability",
    f"""
    {WINDFIELD_SQL}
    SELECT centroid_id,
           CAST(count(DISTINCT ens_id) AS BIGINT) AS n_members_hit,
           CAST(floor(count(DISTINCT ens_id) * 1000000.0 / {N_MEMBERS}.0
             + 0.5) AS BIGINT) AS strike_prob_micro
    FROM wf WHERE wind_ms > 17.5
    GROUP BY centroid_id
    """,
    doc="Per-cell strike probability map (the NHC wind-speed- "
        "probability product; A4's per-muni fraction re-expressed on "
        "the raw centroid grid): fraction of ensemble members that "
        "bring tropical-storm-force wind (> 17.5 m/s) to each grid "
        "cell at any forecast step. Rides the SAME grid-pruned "
        "windfield machinery as tc_windfield_holland (count DISTINCT "
        "member per cell is one partial-agg over the sparse "
        "above-threshold pairs); the probability quantizes as "
        "floor(n*1e6/52 + 0.5) — the integer-ratio rule, never "
        "round() on the division.",
)
def tc_strike_probability(spark: SparkSession, sf_dir: str) -> DataFrame:
    tracks = gen_tracks(spark)
    cents = gen_centroids(spark).select("centroid_id", "lat", "lon")
    wf = windfield_expr(tracks, cents)
    return wf.groupBy("centroid_id").agg(
        F.countDistinct("ens_id").cast("long").alias("n_members_hit"),
        F.floor(
            F.countDistinct("ens_id") * 1000000.0 / float(N_MEMBERS) + 0.5
        )
        .cast("long")
        .alias("strike_prob_micro"),
    )


# --------------------------------------------- cost-loss value score
# Richardson (2000) relative economic value of the trigger system:
# with hits a, false alarms b, misses c, correct negatives d,
# N = a+b+c+d, base rate s = (a+c)/N and cost-loss ratio alpha = p/10,
# V = (E_climate - E_forecast) / (E_climate - E_perfect) where
# E_climate = min(alpha, s), E_forecast = ((a+b)*alpha + c)/N,
# E_perfect = s*alpha. Multiplying through by 10*N folds everything
# into EXACT integer cross-products (the HSS trick extended), so the
# only float op is the final e6 quantization of an integer ratio.
_VALUE_E6_SQL = (
    "CAST(floor(1000000.0 * "
    "(least(pp * nn, 10 * (a + c)) - ((a + b) * pp + c * 10)) / "
    "nullif(least(pp * nn, 10 * (a + c)) - (a + c) * pp, 0) + 0.5) "
    "AS BIGINT)"
)


@register(
    "tc_value_score",
    f"""
    {DAMAGE_SQL}
    , vm AS (
      SELECT adm3_pcode, ens_id,
             CASE WHEN v_max > 25.0 THEN 1 ELSE 0 END AS ex
      FROM damage
    ), p AS (
      SELECT adm3_pcode, {_P_E6_SQL} AS p_e6,
             CAST(sum(CASE WHEN ens_id = 0 THEN ex ELSE 0 END) AS BIGINT)
               AS o
      FROM vm GROUP BY adm3_pcode
      HAVING sum(CASE WHEN ens_id > 0 THEN 1 ELSE 0 END) > 0
         AND sum(CASE WHEN ens_id = 0 THEN 1 ELSE 0 END) > 0
    ), cells AS (
      SELECT
        CAST(sum(CASE WHEN p_e6 >= 500000 AND o = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS a,
        CAST(sum(CASE WHEN p_e6 >= 500000 AND o = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS b,
        CAST(sum(CASE WHEN p_e6 < 500000 AND o = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS c,
        CAST(sum(CASE WHEN p_e6 < 500000 AND o = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS d
      FROM p
    ), v AS (
      SELECT t.pp, a, b, c, d, a + b + c + d AS nn
      FROM cells CROSS JOIN unnest([1, 3, 5, 7]) AS t(pp)
    )
    SELECT CAST(pp * 10 AS BIGINT) AS alpha_pct, a, b, c, d,
           {_VALUE_E6_SQL} AS value_e6
    FROM v ORDER BY alpha_pct
    """,
    doc="Relative economic value of the >= 0.5 ensemble trigger "
        "(Richardson 2000) — the cost-loss economics underneath "
        "anticipatory action: for cost/loss ratios 0.1/0.3/0.5/0.7, "
        "how much of the perfect-forecast saving does the trigger "
        "capture vs always/never acting on climatology? V folds to a "
        "ratio of exact BIGINT cross-products of the contingency "
        "cells (multiply E_climate/E_forecast/E_perfect through by "
        "10N), shared as ONE SQL text with the oracle; only the "
        "final e6 quantization touches floats. Completes the "
        "verification suite with the decision-theoretic score the "
        "IBF trigger design (settings.py trigger thresholds) "
        "implicitly optimizes.",
)
def tc_value_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    vm = _damage(spark).select(
        "adm3_pcode",
        "ens_id",
        F.when(F.col("v_max") > 25.0, 1).otherwise(0).alias("ex"),
    )
    p = (
        vm.groupBy("adm3_pcode")
        .agg(
            F.expr(_P_E6_SQL).alias("p_e6"),
            F.expr(
                "CAST(sum(CASE WHEN ens_id = 0 THEN ex ELSE 0 END)"
                " AS BIGINT)"
            ).alias("o"),
            F.expr(
                "sum(CASE WHEN ens_id > 0 THEN 1 ELSE 0 END)"
            ).alias("__n_ens"),
            F.expr(
                "sum(CASE WHEN ens_id = 0 THEN 1 ELSE 0 END)"
            ).alias("__n_obs"),
        )
        .filter((F.col("__n_ens") > 0) & (F.col("__n_obs") > 0))
    )
    hit = F.col("p_e6") >= 500000
    cells = p.agg(
        F.sum(F.when(hit & (F.col("o") == 1), 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when(hit & (F.col("o") == 0), 1).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when(~hit & (F.col("o") == 1), 1).otherwise(0))
        .cast("long")
        .alias("c"),
        F.sum(F.when(~hit & (F.col("o") == 0), 1).otherwise(0))
        .cast("long")
        .alias("d"),
    )
    v = cells.select(
        F.explode(F.array(F.lit(1), F.lit(3), F.lit(5), F.lit(7))).alias(
            "pp"
        ),
        "a",
        "b",
        "c",
        "d",
        (F.col("a") + F.col("b") + F.col("c") + F.col("d")).alias("nn"),
    )
    return v.selectExpr(
        "CAST(pp * 10 AS BIGINT) AS alpha_pct",
        "a",
        "b",
        "c",
        "d",
        f"{_VALUE_E6_SQL} AS value_e6",
    ).orderBy("alpha_pct")


# --------------------------------------------- IDF order statistics
@register(
    "tc_rain_idf_curves",
    f"""
    WITH rain AS ({RAIN_SQL}),
    reduced AS (
      SELECT cell_id, t,
             CAST(round(median(mm) * 1000000.0) AS BIGINT) AS mm_micro
      FROM rain GROUP BY cell_id, t
    ), sums AS (
      SELECT cell_id, mm_micro,
             sum(mm_micro) OVER (PARTITION BY cell_id ORDER BY t
               ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s2,
             sum(mm_micro) OVER (PARTITION BY cell_id ORDER BY t
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS s4
      FROM reduced
    ), rolled AS (
      SELECT cell_id,
             CAST(max(mm_micro) AS BIGINT) AS d1,
             CAST(max(s2) AS BIGINT) AS d2,
             CAST(max(s4) AS BIGINT) AS d4
      FROM sums GROUP BY cell_id
    ), up AS (
      SELECT cell_id, 1 AS duration_steps, d1 AS accum_micro FROM rolled
      UNION ALL
      SELECT cell_id, 2, d2 FROM rolled
      UNION ALL
      SELECT cell_id, 4, d4 FROM rolled
    ), ranked AS (
      SELECT duration_steps, accum_micro, cell_id,
             row_number() OVER (PARTITION BY duration_steps
               ORDER BY accum_micro DESC, cell_id) AS rn,
             count(*) OVER (PARTITION BY duration_steps) AS n_cells
      FROM up
    )
    SELECT CAST(duration_steps AS BIGINT) AS duration_steps,
           CAST(rn AS BIGINT) AS exceed_rank,
           CAST(n_cells AS BIGINT) AS n_cells,
           accum_micro, CAST(cell_id AS BIGINT) AS cell_id
    FROM ranked WHERE rn IN (1, 10, 50)
    ORDER BY duration_steps, exceed_rank
    """,
    doc="Rainfall IDF (intensity-duration-frequency) order "
        "statistics: per grid cell the maximum 6 h / 12 h / 24 h "
        "accumulation (1/2/4-step ROWS-frame rolling sums of the "
        "integer-micro ensemble median — same quantization discipline "
        "as tc_rain_rolling_24h), then per duration the 1st / 10th / "
        "50th largest cell maxima with their exceedance rank — the "
        "exact-order-statistic form of the IDF curve an infra "
        "designer reads return periods off (rank k of n cells = "
        "empirical exceedance k/n), chosen over interpolated "
        "percentiles so every output stays an exact BIGINT. Windows "
        "partition by cell; the final selection is a per-duration "
        "rank over the bounded cell set with a deterministic "
        "(value desc, cell_id) tiebreak.",
)
def tc_rain_idf_curves(spark: SparkSession, sf_dir: str) -> DataFrame:
    rain = gen_rain(spark)
    reduced = rain.groupBy("cell_id", "t").agg(
        F.round(F.expr("median(mm)") * 1000000.0)
        .cast("long")
        .alias("mm_micro")
    )
    w2 = (
        Window.partitionBy("cell_id")
        .orderBy("t")
        .rowsBetween(-1, Window.currentRow)
    )
    w4 = (
        Window.partitionBy("cell_id")
        .orderBy("t")
        .rowsBetween(-3, Window.currentRow)
    )
    rolled = (
        reduced.select(
            "cell_id",
            "mm_micro",
            F.sum("mm_micro").over(w2).alias("s2"),
            F.sum("mm_micro").over(w4).alias("s4"),
        )
        .groupBy("cell_id")
        .agg(
            F.max("mm_micro").cast("long").alias("d1"),
            F.max("s2").cast("long").alias("d2"),
            F.max("s4").cast("long").alias("d4"),
        )
    )
    # union-free duration fan-out (r13): the 3-arm unionAll evaluated
    # the unpersisted median+window+max `rolled` plan once PER ARM.
    # One row-tripling explode generator evaluates it once — same rows.
    up = rolled.select(
        "cell_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("duration_steps"),
                    F.col("d1").alias("accum_micro"),
                ),
                F.struct(
                    F.lit(2).alias("duration_steps"),
                    F.col("d2").alias("accum_micro"),
                ),
                F.struct(
                    F.lit(4).alias("duration_steps"),
                    F.col("d4").alias("accum_micro"),
                ),
            )
        ).alias("__u"),
    ).select("cell_id", "__u.duration_steps", "__u.accum_micro")
    wr = Window.partitionBy("duration_steps").orderBy(
        F.col("accum_micro").desc(), F.col("cell_id").asc()
    )
    wn = Window.partitionBy("duration_steps")
    ranked = up.select(
        "duration_steps",
        "accum_micro",
        "cell_id",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wn).alias("n_cells"),
    )
    return (
        ranked.filter(F.col("rn").isin(1, 10, 50))
        .select(
            F.col("duration_steps").cast("long").alias("duration_steps"),
            F.col("rn").cast("long").alias("exceed_rank"),
            F.col("n_cells").cast("long").alias("n_cells"),
            "accum_micro",
            F.col("cell_id").cast("long").alias("cell_id"),
        )
        .orderBy("duration_steps", "exceed_rank")
    )


# ------------------------------------------- intensity verification
@register(
    "tc_intensity_mae",
    f"""
    WITH tracks AS ({TRACKS_SQL}),
    ctrl AS (
      SELECT step, vmax AS cvm FROM tracks WHERE ens_id = 0
    ), members AS (
      SELECT t.step,
             CAST(floor(t.vmax * 1000.0 + 0.5) AS BIGINT)
               - CAST(floor(c.cvm * 1000.0 + 0.5) AS BIGINT) AS diff_milli
      FROM tracks t JOIN ctrl c ON c.step = t.step
      WHERE t.ens_id > 0
    )
    SELECT step,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST((2 * sum(abs(diff_milli)) * 1000 + count(*))
                // (2 * count(*)) AS BIGINT) AS mae_micro,
           CAST((2 * (sum(diff_milli) * 1000
                      + count(*) * 1000000000000) + count(*))
                // (2 * count(*)) - 1000000000000 AS BIGINT) AS bias_micro,
           CAST(max(abs(diff_milli)) AS BIGINT) AS max_abs_milli
    FROM members
    GROUP BY step
    ORDER BY step
    """,
    doc="Intensity-error verification by lead step — the Vmax twin of "
        "tc_track_dpe (position) completing the deterministic "
        "verification suite: per-member wind-speed error vs the "
        "control, quantized ONCE to integer milli-m/s "
        "(floor(v*1000+0.5) on token-identical doubles is exact in "
        "both engines), then exact integer MAE, mean bias (10^12 "
        "offset keeps the rounding division on positives — "
        "truncating vs flooring division cannot diverge), and "
        "worst-member absolute error per step. Control frame "
        "broadcasts; one step-keyed agg, member-parallel at any "
        "ensemble size. Reference: verification of "
        "forecast_process.py's ensemble intensity handling.",
)
def tc_intensity_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    tracks = gen_tracks(spark)
    ctrl = tracks.filter(F.col("ens_id") == 0).select(
        "step", F.col("vmax").alias("cvm")
    )
    members = (
        tracks.filter(F.col("ens_id") > 0)
        .join(F.broadcast(ctrl), "step")
        .selectExpr(
            "step",
            "CAST(floor(vmax * 1000.0 + 0.5) AS BIGINT)"
            " - CAST(floor(cvm * 1000.0 + 0.5) AS BIGINT) AS diff_milli",
        )
    )
    return (
        members.groupBy("step")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.expr(
                "CAST((2 * sum(abs(diff_milli)) * 1000 + count(*))"
                " div (2 * count(*)) AS BIGINT)"
            ).alias("mae_micro"),
            F.expr(
                "CAST((2 * (sum(diff_milli) * 1000"
                " + count(*) * 1000000000000) + count(*))"
                " div (2 * count(*)) - 1000000000000 AS BIGINT)"
            ).alias("bias_micro"),
            F.expr("CAST(max(abs(diff_milli)) AS BIGINT)").alias(
                "max_abs_milli"
            ),
        )
        .orderBy("step")
    )


# --------------------------------------- antecedent precipitation
# API_T = sum_t k^(T-t) * P_t with k = 0.9 over the 12 forecast steps
# — the classic flood-preconditioning index driven by the rain stack.
# The decay weights pre-quantize to e6 integers (the NDCG-discount
# trick), the per-(cell, step) ensemble-median rain quantizes once to
# milli-mm, so the index is an exact BIGINT weighted sum — no
# recursion, no float accumulation.
_API_W_SQL = "CASE CAST(11 - t AS INTEGER) WHEN 0 THEN 1000000 WHEN 1 THEN 900000 WHEN 2 THEN 810000 WHEN 3 THEN 729000 WHEN 4 THEN 656100 WHEN 5 THEN 590490 WHEN 6 THEN 531441 WHEN 7 THEN 478297 WHEN 8 THEN 430467 WHEN 9 THEN 387420 WHEN 10 THEN 348678 WHEN 11 THEN 313811 ELSE 0 END"


@register(
    "tc_rain_api_index",
    f"""
    WITH rain AS ({RAIN_SQL}),
    med AS (
      SELECT cell_id, t,
             (CAST(2 * median(CAST(floor(mm * 1000.0 + 0.5) AS BIGINT))
                AS BIGINT) + 1) // 2 AS p_milli
      FROM rain GROUP BY cell_id, t
    )
    SELECT cell_id,
           CAST(sum(p_milli * ({_API_W_SQL})) AS BIGINT) AS api_units,
           CAST(max(p_milli) AS BIGINT) AS peak_p_milli
    FROM med
    GROUP BY cell_id
    ORDER BY cell_id
    """,
    doc="Antecedent Precipitation Index per grid cell at the final "
        "forecast step: API_T = Σ 0.9^(T−t)·P_t over the "
        "ensemble-median rain series — the standard "
        "flood-preconditioning covariate a rainfall trigger adds on "
        "top of instantaneous exceedance (Rainfall_data.py's "
        "accumulations are the reference twin surface). Decay "
        "weights pre-quantized to e6 integers in ONE shared CASE "
        "text; rain quantized to milli-mm BEFORE the median so the "
        "even-member median is an exact half-integer and 2·median "
        "recovers the integer sum of the two middle order "
        "statistics — the whole index is exact BIGINT arithmetic. Two keyed aggs (member "
        "reduction, then the weighted time collapse), both on "
        "(cell, t)-grain keys — member- and cell-parallel at any "
        "grid size.",
)
def tc_rain_api_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    rain = gen_rain(spark)
    # Quantize mm to integer milli BEFORE the median: with an even
    # member count the median interpolates to an exact x.0/x.5 of two
    # BIGINTs in both engines, so 2*median is the exact integer a+b
    # and (a+b+1) div 2 is round-half-up — no reliance on 3dp
    # agreement of interpolated doubles (ADVICE r6).
    med = rain.groupBy("cell_id", "t").agg(
        F.expr(
            "(CAST(2 * median(CAST(floor(mm * 1000.0 + 0.5) AS BIGINT))"
            " AS BIGINT) + 1) div 2"
        ).alias("p_milli")
    )
    return (
        med.groupBy("cell_id")
        .agg(
            F.expr(
                f"CAST(sum(p_milli * ({_API_W_SQL})) AS BIGINT)"
            ).alias("api_units"),
            F.expr("CAST(max(p_milli) AS BIGINT)").alias("peak_p_milli"),
        )
        .orderBy("cell_id")
    )
