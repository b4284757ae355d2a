"""Orchestrated-pipeline, spline, ingest, and multimodal-stub tests —
the non-oracle surfaces (driver checks are rows-only there; invariants
are pinned here)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ibf_typhoon_data_pipeline_spark import plans
from ibf_typhoon_data_pipeline_spark.operators.interpolation import (
    cubic_spline_resample,
)
from ibf_typhoon_data_pipeline_spark.operators.multimodal import (
    HAS_PIL,
    decode_image,
    extract_features,
    fake_decode_dims,
    gen_media,
)
from ibf_typhoon_data_pipeline_spark.pipeline import run_forecast_pipeline
from ibf_typhoon_data_pipeline_spark.plans.typhoon import (
    N_MEMBERS,
    gen_tracks,
)
from ibf_typhoon_data_pipeline_spark.sources.ingest import (
    land_tracks,
    read_landed_tracks,
)


def test_pipeline_end_to_end(spark):
    res = run_forecast_pipeline(spark)
    trig = res.triggers.collect()
    assert len(trig) == 1
    row = trig[0].asDict()
    # probabilities are ensemble fractions
    for k, v in row.items():
        if k.startswith("prob_gt_"):
            assert 0.0 <= v <= 1.0
    # every (muni, member) hazard row has positive wind and count
    mh = res.muni_hazard
    assert mh.filter((F.col("v_max") <= 17.5) | (F.col("value_count") <= 0)).count() == 0
    # damage never exceeds housing stock ceiling semantics (≤ hu ≤ 2000)
    assert res.damage.filter(F.col("damage_predicted") > 2000).count() == 0
    # exposure docs: one JSON document per region, valid JSON array
    docs = res.exposure_docs.collect()
    assert docs and all(d.exposure_json.startswith("[{") for d in docs)
    res.unpersist()


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _catalog(spark, name: str) -> list[tuple]:
    return _rows(plans.QUERIES[name].fn(spark, "x"))


def test_pipeline_layers_equal_catalog_projections(spark):
    # the persisted pipeline and the catalog entries compose the same
    # layer functions; their values must be identical
    res = run_forecast_pipeline(spark)
    probs = ("prob_gt_20k", "prob_gt_50k", "prob_gt_80k")
    trig = _rows(
        res.triggers.select(
            *[F.round(c, 6) for c in probs], "triggered_20k", "triggered_80k"
        )
    )
    assert trig == _catalog(spark, "tc_trigger_ladder")
    assert trig == _catalog(spark, "pipeline_triggers")
    assert _rows(res.exposure_docs) == _catalog(spark, "tc_exposure_json")
    assert _rows(res.payloads) == _catalog(spark, "pipeline_publish")
    positive = res.damage.filter(F.col("damage_predicted") > 0.0).select(
        "adm3_pcode", "ens_id", F.round("damage_predicted", 3)
    )
    assert _rows(positive) == _catalog(spark, "tc_damage_stub")
    res.unpersist()


@pytest.mark.parametrize(
    "storm",
    [
        lambda t: t.limit(0),  # no active storm
        lambda t: t.withColumn("lon", F.col("lon") - 60.0),  # misses the grid
    ],
    ids=["empty", "off_grid"],
)
def test_no_storm_gives_zero_probability_and_no_trigger(spark, storm):
    res = run_forecast_pipeline(spark, tracks=storm(gen_tracks(spark)))
    assert res.muni_hazard.count() == 0
    assert res.exposure_docs.count() == 0
    row = res.triggers.collect()
    assert len(row) == 1
    for k, v in row[0].asDict().items():
        assert v == (0.0 if k.startswith("prob_gt_") else False), k
    res.unpersist()


def test_damage_is_unique_per_member_and_muni(spark, tmp_path):
    # the exposure layer averages damage per muni with no keep-last
    # dedup: that is only right while damage has one row per (member,
    # muni) — also for a landed drop whose track rows arrive twice
    tracks = gen_tracks(spark)
    land_tracks(tracks, str(tmp_path), "20240601000000")
    land_tracks(tracks, str(tmp_path), "20240601000001")
    landed = read_landed_tracks(spark, str(tmp_path))
    assert landed.count() == 2 * tracks.count()
    for t in (None, landed):
        res = run_forecast_pipeline(spark, tracks=t)
        dup = res.damage.groupBy("ens_id", "adm3_pcode").count()
        assert res.damage.count() > 0
        assert dup.filter(F.col("count") > 1).count() == 0
        res.unpersist()


def test_spline_reproduces_knots_and_lines(spark):
    tracks = gen_tracks(spark).filter("ens_id < 3").select(
        "ens_id",
        F.col("step").cast("double").alias("x"),
        F.col("vmax").alias("y"),
    )
    out = cubic_spline_resample(tracks, ["ens_id"], "x", "y", step=0.5)
    knots = {(r.ens_id, r.x): r.y for r in tracks.collect()}
    interp = {(r.ens_id, r.x): r.y for r in out.collect()}
    # passes through every knot
    for k, v in knots.items():
        assert abs(interp[k] - v) < 1e-9
    # collinear input → spline IS the line everywhere
    line = spark.range(2).selectExpr(
        "0 as ens_id", "cast(id * 10 as double) as x", "cast(id * 20 as double) as y"
    ).union(
        spark.range(1).selectExpr(
            "0 as ens_id", "cast(20 as double) as x", "cast(40 as double) as y"
        )
    )
    lo = cubic_spline_resample(line, ["ens_id"], "x", "y", step=2.5)
    for r in lo.collect():
        assert abs(r.y - 2.0 * r.x) < 1e-9


def test_landing_zone_roundtrip(spark, tmp_path):
    tracks = gen_tracks(spark)
    land_tracks(tracks.filter("ens_id < 2"), str(tmp_path), "20240601000000")
    land_tracks(tracks.filter("ens_id >= 2"), str(tmp_path), "20240601060000")
    back = read_landed_tracks(spark, str(tmp_path))
    assert back.count() == tracks.count()
    assert back.select("ens_id").distinct().count() == N_MEMBERS
    assert os.path.isdir(str(tmp_path / "drop=20240601000000"))


def test_multimodal_stub_contract(spark):
    media = gen_media(spark, 32)
    feats = extract_features(media).collect()
    assert len(feats) == 32
    raw = {r.media_id: r for r in media.collect()}
    for r in feats:
        w, h = fake_decode_dims(bytes(raw[r.media_id].content))
        assert (r.fake_width, r.fake_height) == (w, h)
        assert r.n_bytes == 16
    if not HAS_PIL:
        with pytest.raises(NotImplementedError):
            decode_image(b"\x00" * 16)
