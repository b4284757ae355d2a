"""The calibrated bench_event guard (VERDICT r6 item 4).

The guard pins the RATIO envelope/probe instead of absolute seconds,
so sandbox CPU weather cancels. These tests prove the mechanism:

1. pure-function contract of `ratio_warning`;
2. on a mini production envelope, bypassing `grid_prune_pairs` (the
   plain ±DEG_BOX broadcast theta-join monkeypatched in its place)
   inflates the in-session ratio past the 1.5×
   factor — i.e. the guard fires on a REAL pruning regression while
   staying quiet on the shipped plan, measured in the same JVM so
   machine drift cannot explain the gap.
"""

import time

from pyspark.sql import functions as F

from ibf_typhoon_data_pipeline_spark.operators.bench_probe import (
    ratio_warning,
)
from ibf_typhoon_data_pipeline_spark.operators import windfield
from ibf_typhoon_data_pipeline_spark.operators.windfield import (
    DEG_BOX,
    windfield_expr,
)
from ibf_typhoon_data_pipeline_spark.plans.typhoon import gen_tracks


def test_ratio_warning_contract():
    assert ratio_warning("x", wall_s=10.0, probe_s=5.0, pin_ratio=2.0) is None
    assert ratio_warning("x", wall_s=14.9, probe_s=5.0, pin_ratio=2.0) is None
    w = ratio_warning("x", wall_s=15.1, probe_s=5.0, pin_ratio=2.0)
    assert w is not None and "x leg" in w
    # a uniformly 2x-slower machine scales wall AND probe: still quiet
    assert ratio_warning("x", wall_s=20.0, probe_s=10.0, pin_ratio=2.0) is None


def _track_points(spark):
    from ibf_typhoon_data_pipeline_spark.operators.interpolation import (
        resample_interpolate,
    )

    base = F.to_timestamp(F.lit("2024-06-01 00:00:00"))
    pts = gen_tracks(spark).select(
        "ens_id",
        F.timestamp_seconds(
            F.unix_timestamp(base) + F.col("step") * 21600
        ).alias("t"),
        "lat",
        "lon",
        "vmax",
        "pcen",
        "penv",
    )
    from ibf_typhoon_data_pipeline_spark.operators.cache import (
        persist_tracked,
    )

    # persist (tracked, so the cache-hygiene sweep stays clean) and
    # materialize: the resample cost drops out of both timed legs
    interp = persist_tracked(
        resample_interpolate(
            pts, ["ens_id"], "t", ["lat", "lon", "vmax", "pcen", "penv"], 30
        )
        .withColumn(
            "step",
            (
                (F.unix_timestamp("t") - F.unix_timestamp(base)) / 1800
            ).cast("bigint"),
        )
        .select("ens_id", "step", "lat", "lon", "vmax", "pcen", "penv")
    )
    interp.count()
    return interp


def _nested_pairs(t, centroids, r_hi, broadcast=True):
    """The pruning bypass: the plain ±DEG_BOX broadcast theta-join
    (BroadcastNestedLoopJoin) in place of grid_prune_pairs."""
    c = centroids.select(
        "centroid_id", F.col("lat").alias("c_lat"), F.col("lon").alias("c_lon")
    )
    return c.join(
        F.broadcast(t),
        F.col("c_lat").between(F.col("t_lat") - DEG_BOX, F.col("t_lat") + DEG_BOX)
        & F.col("c_lon").between(F.col("t_lon") - DEG_BOX, F.col("t_lon") + DEG_BOX),
    )


def _envelope(monkeypatch, tracks, cents, join: str) -> tuple[float, int]:
    # threshold 50 m/s: the shared survivor work (Holland on passing
    # pairs) shrinks and the dynamic prune radius tightens, so the
    # timing gap isolates exactly what the guard watches — the raw
    # candidate-pair scan the grid join prunes and the nested loop
    # pays in full (measured 2.0 s grid vs 15.4 s nested at this
    # config; outputs identical).
    with monkeypatch.context() as m:
        if join == "nested":
            m.setattr(windfield, "grid_prune_pairs", _nested_pairs)
        wf = windfield_expr(tracks, cents, threshold_ms=50.0)
    t0 = time.perf_counter()
    n = wf.groupBy("ens_id", "centroid_id").agg(
        F.max("wind_ms").alias("i")
    ).count()
    return time.perf_counter() - t0, n


def test_guard_fires_on_pruning_bypass(spark, monkeypatch):
    # production 0.05-degree grid x 30-min resampled track: the full
    # 1.18e9 raw-pair envelope bench_event guards
    cents = spark.range(261 * 181).select(
        F.col("id").alias("centroid_id"),
        (6.0 + F.expr("id div 181") * 0.05).alias("lat"),
        (118.0 + (F.col("id") % 181) * 0.05).alias("lon"),
    )
    tracks = _track_points(spark)
    # warm both plan shapes at 1/64th grid so codegen / Python-worker
    # spin-up doesn't bias either timed leg
    mini = cents.filter(F.col("centroid_id") % 64 == 0)
    for j in ("grid", "nested"):
        _envelope(monkeypatch, tracks, mini, j)
    grid_s, n_grid = _envelope(monkeypatch, tracks, cents, "grid")
    nested_s, n_nested = _envelope(monkeypatch, tracks, cents, "nested")
    # the prune must never change the answer
    assert n_grid == n_nested
    # the grid leg IS the in-session probe: pin_ratio=1.0 says "the
    # envelope should cost about one grid-join envelope". The shipped
    # plan trivially passes; the pruning-bypassed plan must blow
    # through the same 1.5x factor the production guard uses.
    assert ratio_warning("grid", grid_s, grid_s, pin_ratio=1.0) is None
    fired = ratio_warning("nested", nested_s, grid_s, pin_ratio=1.0)
    assert fired is not None, (
        f"nested {nested_s:.2f}s vs grid {grid_s:.2f}s — pruning bypass "
        f"did not trip the guard"
    )
    from ibf_typhoon_data_pipeline_spark.operators.cache import (
        release_caches,
    )

    release_caches()


def test_latency_probe_measures_sequential_jobs(spark):
    """The scheduler-latency probe (round 8) must return positive
    wall seconds and scale roughly with the job count — it times
    SEQUENTIAL trivial jobs, so 2x the jobs can't be faster."""
    from ibf_typhoon_data_pipeline_spark.operators.bench_probe import (
        latency_probe_seconds,
    )

    spark.range(32).count()  # absorb first-job session warm-up
    short = latency_probe_seconds(spark, jobs=5)
    longer = latency_probe_seconds(spark, jobs=10)
    assert short > 0
    assert longer >= short * 0.8  # sequential: more jobs, not faster


def test_steal_sampler_contract():
    """The round-12 third weather axis: /proc/stat steal sampling must
    return a sane percentage on Linux, tolerate None operands (the
    off-Linux path), and never divide by zero on identical samples."""
    import pytest

    from bench import _steal_pct, _steal_sample

    a = _steal_sample()
    if a is None:  # documented off-Linux path (no /proc/stat)
        pytest.skip("no /proc/stat on this platform")
    assert a[1] > 0 and 0 <= a[0] <= a[1]
    import time

    time.sleep(0.2)
    b = _steal_sample()
    pct = _steal_pct(a, b)
    assert pct is not None and 0.0 <= pct <= 100.0
    assert _steal_pct(None, b) is None
    assert _steal_pct(a, None) is None
    assert _steal_pct(a, a) is None  # zero elapsed ticks -> no claim
