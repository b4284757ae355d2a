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
