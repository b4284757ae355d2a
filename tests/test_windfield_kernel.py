"""The applyInPandas Holland kernel must agree with the oracle-checked
expression path elementwise — same formulas, two physical strategies
(SURVEY §2.9 K1; numpy vs whole-stage codegen)."""

from __future__ import annotations

from ibf_typhoon_data_pipeline_spark.plans.typhoon import (
    gen_centroids,
    gen_tracks,
)
from ibf_typhoon_data_pipeline_spark.operators.windfield import (
    windfield_expr,
    windfield_kernel,
)


def test_kernel_matches_expr(spark):
    tracks = gen_tracks(spark).filter("ens_id < 6")  # subset: speed
    cents = gen_centroids(spark).select("centroid_id", "lat", "lon")
    expr_rows = {
        (r.ens_id, r.step, r.centroid_id): r.wind_ms
        for r in windfield_expr(tracks, cents).collect()
    }
    kern_rows = {
        (r.ens_id, r.step, r.centroid_id): r.wind_ms
        for r in windfield_kernel(tracks, cents).collect()
    }
    assert set(expr_rows) == set(kern_rows)
    worst = max(
        abs(expr_rows[k] - kern_rows[k]) for k in expr_rows
    )
    assert worst < 1e-6, f"kernel diverges from expr path by {worst}"


def test_intensity_reduce_is_max_per_member_centroid(spark):
    from pyspark.sql import functions as F

    from ibf_typhoon_data_pipeline_spark.operators.windfield import (
        intensity_reduce,
    )

    tracks = gen_tracks(spark).filter("ens_id < 3")
    cents = gen_centroids(spark).select("centroid_id", "lat", "lon")
    wf = windfield_expr(tracks, cents)
    reduced = intensity_reduce(wf)
    direct = wf.groupBy("ens_id", "centroid_id").agg(
        F.max("wind_ms").alias("intensity_ms")
    )
    assert reduced.exceptAll(direct).count() == 0
    assert direct.exceptAll(reduced).count() == 0


def test_willoughby_extent_bounds_both_profiles(spark):
    """The closed-form Willoughby prune radius is conservative: past
    r_hi neither the reduced profile (A from the fit) nor the hindcast's
    A = 0 outer profile exceeds the threshold — checked at r_hi and in
    25 km steps out to the cap, and against the largest above-threshold
    radius of a 0.5 km scan. One Spark job over the whole grid."""
    from pyspark.sql import functions as F

    from ibf_typhoon_data_pipeline_spark.operators.windfield import (
        WIND_EXTENT_CAP_KM,
        willoughby_extent_km,
        willoughby_wind_ms,
    )

    def hindcast_wind(r, vmax, lat):
        # tc_hindcast_triggers' profile: the reduced form with A = 0
        alat = F.abs(lat)
        rmax = 46.6 * F.exp(-0.0155 * vmax + 0.0169 * alat)
        n = 0.4067 + 0.0144 * vmax - 0.0038 * alat
        x1 = 317.1 - 2.026 * vmax + 1.915 * alat
        r = F.greatest(r, F.lit(0.1))
        return F.when(r <= rmax, vmax * F.pow(r / rmax, n)).otherwise(
            vmax * F.exp((rmax - r) / x1)
        )

    grid = (
        spark.range(27).select((15.0 + F.col("id") * 2.5).alias("vmax"))
        .crossJoin(spark.range(17).select((-40.0 + F.col("id") * 5.0).alias("lat")))
        .crossJoin(spark.createDataFrame([(10.0,), (15.0,), (17.5,)], ["thr"]))
    )
    vmax, lat, thr = F.col("vmax"), F.col("lat"), F.col("thr")
    r_hi = F.col("r_hi")
    n_checks = F.greatest(
        F.floor((F.lit(WIND_EXTENT_CAP_KM) - r_hi) / 25.0), F.lit(0)
    )
    checks = F.transform(F.sequence(F.lit(0), n_checks), lambda j: r_hi + 25.0 * j)
    scan = F.transform(
        F.sequence(F.lit(0), F.lit(int(WIND_EXTENT_CAP_KM * 2))), lambda k: k * 0.5
    )
    out = {}
    for name, wind in (("reduced", willoughby_wind_ms), ("a0", hindcast_wind)):
        out[f"{name}_check"] = F.array_max(
            F.transform(checks, lambda r: wind(r, vmax, lat))
        )
        out[f"{name}_reach"] = F.array_max(
            F.filter(scan, lambda r: wind(r, vmax, lat) > thr)
        )
    rows = grid.withColumn("r_hi", willoughby_extent_km(vmax, lat, thr)).select(
        "vmax", "lat", "thr", "r_hi", *[c.alias(k) for k, c in out.items()]
    ).collect()

    assert len(rows) == 27 * 17 * 3
    for r in rows:
        for name in ("reduced", "a0"):
            assert r[f"{name}_check"] <= r.thr, (name, r)
            reach = r[f"{name}_reach"]
            assert reach is None or reach < r.r_hi, (name, r)
    # not vacuous: the bound prunes (below the cap) and the profiles
    # do cross the threshold somewhere
    assert any(r.r_hi < 0.5 * WIND_EXTENT_CAP_KM for r in rows)
    assert sum(r.a0_reach is not None for r in rows) > len(rows) // 2


def test_holland_extent_bounds_profile(spark):
    """The bisected Holland prune radius is conservative: past r_hi the
    profile never exceeds the threshold — checked at r_hi and in 25 km
    steps out to the cap, and against the largest above-threshold
    radius of a 0.5 km scan — over a grid of pressure, latitude,
    translation speed, b_s and threshold (one Spark job). On the
    generated tracks the JVM bisection equals the numpy one exactly."""
    import numpy as np
    from pyspark.sql import functions as F

    from ibf_typhoon_data_pipeline_spark.operators.windfield import (
        EXTENT_BISECT_STEPS,
        WIND_EXTENT_CAP_KM,
        _holland_np,
        estimate_rmw_km,
        holland_extent_km,
        holland_wind_ms,
        track_point_params,
    )

    def axis(name, lo, step, n):
        return spark.range(n).select((lo + F.col("id") * step).alias(name))

    grid = (
        axis("pcen", 900.0, 21.0, 6)
        .crossJoin(axis("t_lat", -40.0, 16.0, 6))
        .crossJoin(axis("v_trans_ms", 0.0, 7.7, 3))
        .crossJoin(axis("b_s", 1.0, 0.5, 4))
        .crossJoin(spark.createDataFrame([(10.0,), (15.0,), (17.5,)], ["thr"]))
        .withColumn("penv", F.lit(1010.0))
        .withColumn("rmw_km", estimate_rmw_km(F.col("pcen")))
    )

    def wind(r):
        return holland_wind_ms(
            r, F.col("rmw_km"), F.col("b_s"), F.col("penv"), F.col("pcen"),
            F.col("t_lat"), F.col("v_trans_ms"),
        )

    cap = F.lit(WIND_EXTENT_CAP_KM)
    r_hi = F.col("r_hi")
    n_checks = F.greatest(F.floor((cap - r_hi) / 25.0), F.lit(0))
    checks = F.transform(F.sequence(F.lit(0), n_checks), lambda j: r_hi + 25.0 * j)
    scan = F.transform(
        F.sequence(F.lit(0), F.lit(int(WIND_EXTENT_CAP_KM * 2))), lambda k: k * 0.5
    )
    rows = grid.withColumn("r_hi", holland_extent_km(F.col("thr"))).select(
        "pcen", "t_lat", "v_trans_ms", "b_s", "thr", "r_hi",
        wind(cap).alias("far"),
        F.array_max(F.transform(checks, wind)).alias("check"),
        F.array_max(F.filter(scan, lambda r: wind(r) > F.col("thr"))).alias("reach"),
    ).collect()

    assert len(rows) == 6 * 6 * 3 * 4 * 3
    for r in rows:
        if r.r_hi > WIND_EXTENT_CAP_KM:
            # the cap: the profile is still above threshold there, and
            # the prune box is the plain ±DEG_BOX box
            assert r.far > r.thr, r
            continue
        assert r.check <= r.thr, r
        assert r.reach is None or r.reach < r.r_hi, r
    # not vacuous: the bound prunes, and the profile crosses somewhere
    assert any(r.r_hi < 0.5 * WIND_EXTENT_CAP_KM for r in rows)
    assert sum(r.reach is not None for r in rows) > len(rows) // 2

    # the JVM bisection is the numpy one, to the bit, on the catalog storm
    tp = track_point_params(gen_tracks(spark)).select(
        F.col("lat").alias("t_lat"), "pcen", "penv", "v_trans_ms", "rmw_km", "b_s"
    )
    got = tp.withColumn("r_hi", holland_extent_km(17.5)).collect()
    rmw, b_s, penv, pcen, vt, lat, jvm = (
        np.array([r[c] for r in got])
        for c in ("rmw_km", "b_s", "penv", "pcen", "v_trans_ms", "t_lat", "r_hi")
    )

    def v(r):
        return _holland_np(r, rmw, b_s, penv, pcen, lat, vt)

    lo, hi = rmw.copy(), np.full(len(rmw), WIND_EXTENT_CAP_KM)
    for _ in range(EXTENT_BISECT_STEPS):
        mid = 0.5 * (lo + hi)
        above = v(mid) > 17.5
        lo, hi = np.where(above, mid, lo), np.where(above, hi, mid)
    far = np.where(v(np.full(len(rmw), WIND_EXTENT_CAP_KM)) > 17.5, WIND_EXTENT_CAP_KM, hi)
    want = np.where(v(rmw) <= 17.5, 0.0, far) + 2.0
    assert len(got) == 2132
    assert np.abs(jvm - want).max() == 0.0
