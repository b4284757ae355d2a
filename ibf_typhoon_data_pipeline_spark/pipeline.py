"""The forecast chain — the engine's equivalent of the reference's
``pipeline.main()`` / ``Forecast.__init__`` eager DAG
(IBF-Typhoon-model/src/typhoonmodel/pipeline.py:56-232,
forecast_process.py:55-395), re-expressed as lazy Spark layers.

Stage map (SURVEY.md §3.1 → §7.1):

    tracks ──K1──▶ windfield ──K2/J2/A1/A2/K4──▶ muni_hazard
                                                 │
                                                 ├──K6──▶ damage
                                                 │          ├──A5/A7─▶ triggers
                                                 │          ├──F19──▶ exposure docs
                                                 │          └──S8───▶ publish payloads
                                                 └──A4──▶ prob_50km

This module is the only place the chain is written. Each layer is one
lazy function of the layer(s) before it; ``run_forecast_pipeline``
composes them with the persist boundaries, and the catalog entries in
``plans.typhoon`` compose the same functions over the generated inputs
and project, round or rename one layer.

The member key comes from the track table: ``(event_id, ens_id)`` when
it carries ``event_id`` (a multi-event batch), else ``ens_id``. Layers
that reduce over members keep the event key.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ibf_typhoon_data_pipeline_spark.operators.windfield import (
    windfield_expr,
)

DAMAGE_THRESHOLDS = (20000.0, 50000.0, 80000.0)
TRIGGER_PROBABILITY = 0.5


def _member_keys(df: DataFrame) -> list[str]:
    """The forecast member key of a track-derived frame."""
    return ["event_id", "ens_id"] if "event_id" in df.columns else ["ens_id"]


def windfield(tracks: DataFrame, centroids: DataFrame) -> DataFrame:
    """K1: per-(member, step, centroid) wind above the threshold."""
    return windfield_expr(
        tracks,
        centroids.select("centroid_id", "lat", "lon"),
        keys=_member_keys(tracks),
    )


def muni_hazard(
    tracks: DataFrame, wf: DataFrame, centroids: DataFrame, munis: DataFrame
) -> DataFrame:
    """K2/J2/A1/A2 per-(muni, member) cell count and max wind, plus K4:
    the member's min degree-space track distance (reference quirk,
    forecast_process.py:1563-1640) over the plain munis × track-points
    product, track side broadcast."""
    keys = _member_keys(tracks)
    hazard = (
        wf.join(
            F.broadcast(centroids.select("centroid_id", "adm3_pcode")),
            "centroid_id",
        )
        .groupBy("adm3_pcode", *keys)
        .agg(
            F.count("*").alias("value_count"),
            F.max("wind_ms").alias("v_max"),
        )
    )
    dists = (
        munis.select("adm3_pcode", "m_lat", "m_lon")
        .join(F.broadcast(tracks.select(*keys, "lat", "lon")))
        .groupBy("adm3_pcode", *keys)
        .agg(
            F.min(
                F.sqrt(
                    (F.col("m_lat") - F.col("lat"))
                    * (F.col("m_lat") - F.col("lat"))
                    + (F.col("m_lon") - F.col("lon"))
                    * (F.col("m_lon") - F.col("lon"))
                )
                * 111.0
            ).alias("dis_track_min")
        )
    )
    return hazard.join(dists, ["adm3_pcode", *keys])


def damage(mh: DataFrame, munis: DataFrame) -> DataFrame:
    """K6 stub: cubic ramp of v_max over 25 m/s × housing units, zeroed
    beyond the 300 km wind-damage radius (P12/F12 post-rules). One row
    per (member, muni): ``mh`` is a group-by on those keys."""
    ramp = (F.col("v_max") - 25.0) / 40.0
    return mh.join(
        F.broadcast(munis.select("adm3_pcode", "housing_units")), "adm3_pcode"
    ).select(
        "adm3_pcode",
        *_member_keys(mh),
        "v_max",
        "dis_track_min",
        F.when(F.col("dis_track_min") > 300.0, F.lit(0.0))
        .when(
            F.col("v_max") > 25.0,
            F.col("housing_units") * F.least(F.lit(1.0), ramp * ramp * ramp),
        )
        .otherwise(F.lit(0.0))
        .alias("damage_predicted"),
    )


def prob_within_50km(mh: DataFrame) -> DataFrame:
    """A4: fraction of members passing within 50 km of each muni."""
    return mh.groupBy(*_member_keys(mh)[:-1], "adm3_pcode").agg(
        F.avg(
            F.when(F.col("dis_track_min") < 50.0, 1.0).otherwise(0.0)
        ).alias("prob_within_50km")
    )


def triggers(
    dmg: DataFrame,
    thresholds: tuple[float, ...] = DAMAGE_THRESHOLDS,
    probability: float = TRIGGER_PROBABILITY,
) -> DataFrame:
    """A5/A7: per-member damage totals → exceedance probability per
    threshold and its trigger boolean. No member with damage (no storm,
    or one that misses the grid) is probability 0.0 and no trigger."""
    keys = _member_keys(dmg)
    totals = dmg.groupBy(*keys).agg(
        F.sum("damage_predicted").alias("total_damage")
    )
    cols = []
    for t in thresholds:
        p = F.avg(F.when(F.col("total_damage") > t, 1.0).otherwise(0.0))
        label = f"{int(t / 1000)}k"
        cols.append(F.coalesce(p, F.lit(0.0)).alias(f"prob_gt_{label}"))
        cols.append(
            F.coalesce(p >= probability, F.lit(False)).alias(
                f"triggered_{label}"
            )
        )
    return totals.groupBy(*keys[:-1]).agg(*cols)


def exposure_docs(dmg: DataFrame) -> DataFrame:
    """A3 ensemble mean per muni → F19 exposure JSON per region. No
    keep-last dedup: ``dmg`` is already one row per (member, muni)."""
    ev = _member_keys(dmg)[:-1]
    per_muni = dmg.groupBy(*ev, "adm3_pcode").agg(
        F.round(F.avg("damage_predicted"), 0).cast("bigint").alias("amount")
    )
    return (
        per_muni.filter(F.col("amount") > 0)
        .groupBy(*ev, F.substring("adm3_pcode", 1, 4).alias("region"))
        .agg(
            F.to_json(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("adm3_pcode").alias("placeCode"),
                            F.col("amount").alias("amount"),
                        )
                    )
                )
            ).alias("exposure_json")
        )
    )


# The upload frame the reference assembles per event
# (forecast_process.py:1150-1233): municipality aggregates of the
# ensemble, then one exposure document per indicator layer. Amount
# transforms follow the reference exactly where it has them
# (houses_affected = round(0.01·x, 2), prob round 2, int() elsewhere).
PUBLISH_LAYERS = [
    ("windspeed", "CAST(CAST(round(avg_vmax) AS BIGINT) AS STRING)"),
    ("prob_within_50km", "CAST(round(prob50, 2) AS STRING)"),
    ("houses_affected", "CAST(round(0.01 * avg_dmg, 2) AS STRING)"),
    (
        "affected_population",
        "CAST(CAST(round(avg_dmg * 4.6) AS BIGINT) AS STRING)",
    ),
    (
        "show_admin_area",
        "CAST(CASE WHEN avg_dmg > 0.0 THEN 1 ELSE 0 END AS STRING)",
    ),
    (
        "forecast_severity",
        "CAST(CASE WHEN avg_dmg >= 500.0 THEN 2 "
        "WHEN avg_dmg >= 80.0 THEN 1 ELSE 0 END AS STRING)",
    ),
    (
        "forecast_trigger",
        "CAST(CASE WHEN avg_dmg >= 80.0 AND prob50 >= 0.6 "
        "THEN 1 ELSE 0 END AS STRING)",
    ),
]

_BODY_PREFIX = '\'{"countryCodeISO3":"PHL","exposurePlaceCodes":[\''
_ENTRY = (
    "concat('{\"placeCode\":\"', adm3_pcode, '\",\"amount\":', %s, '}')"
)


def publish_body_sql(layer: str, amount_sql: str, entries_agg: str) -> str:
    """One indicator's body document as SQL. ``entries_agg`` is the
    engine's pcode-ordered, comma-joined aggregate of the entry text,
    with ``{}`` where the entry goes."""
    return (
        f"concat({_BODY_PREFIX}, "
        f"{entries_agg.format(_ENTRY % amount_sql)}, "
        "'],\"adminLevel\":3,\"leadTime\":\"72-hour\","
        f"\"dynamicIndicator\":\"{layer}\",\"disasterType\":\"typhoon\","
        "\"eventName\":\"synthetic-storm\"}')"
    )


def publish_payloads(dmg: DataFrame) -> DataFrame:
    """S8: (dynamicIndicator, body_json) per indicator layer — one
    municipality aggregation, then every body string in one more
    aggregation pass. The entry text is prefix-ordered by the
    fixed-width pcode, so array_sort orders it by pcode."""
    ev = _member_keys(dmg)[:-1]
    upload = dmg.groupBy(*ev, "adm3_pcode").agg(
        F.avg("damage_predicted").alias("avg_dmg"),
        F.expr(
            "avg(CASE WHEN dis_track_min < 50.0 THEN CAST(1.0 AS DOUBLE)"
            " ELSE CAST(0.0 AS DOUBLE) END)"
        ).alias("prob50"),
        F.avg("v_max").alias("avg_vmax"),
    )
    bodies = upload.groupBy(*ev).agg(
        *[
            F.expr(
                publish_body_sql(
                    layer, amt, "concat_ws(',', array_sort(collect_list({})))"
                )
            ).alias(f"body_{i}")
            for i, (layer, amt) in enumerate(PUBLISH_LAYERS)
        ]
    )
    stack_args = ", ".join(
        f"'{layer}', body_{i}" for i, (layer, _) in enumerate(PUBLISH_LAYERS)
    )
    return bodies.selectExpr(
        *ev,
        f"stack({len(PUBLISH_LAYERS)}, {stack_args})"
        " AS (dynamicIndicator, body_json)",
    )


@dataclass
class ForecastResult:
    """Named handles on the pipeline's layer outputs (the reference's
    per-layer upload frames, forecast_process.py:1055-1233)."""

    tracks: DataFrame
    windfield: DataFrame
    muni_hazard: DataFrame
    damage: DataFrame
    prob_within_50km: DataFrame
    triggers: DataFrame
    exposure_docs: DataFrame
    payloads: DataFrame

    def unpersist(self) -> None:
        self.tracks.unpersist()
        self.windfield.unpersist()
        self.muni_hazard.unpersist()


def run_forecast_pipeline(
    spark: SparkSession,
    tracks: DataFrame | None = None,
    centroids: DataFrame | None = None,
    munis: DataFrame | None = None,
    damage_thresholds: tuple[float, ...] = DAMAGE_THRESHOLDS,
    trigger_probability: float = TRIGGER_PROBABILITY,
) -> ForecastResult:
    """Compose the chain. Defaults to the synthetic domain tables;
    production passes real ones with the same schemas.

    Three persists: ``tracks`` feeds two branches (windfield and K4),
    so a real track table scans once; ``windfield`` is the only
    expensive join; ``muni_hazard`` feeds damage and prob_50km, and
    damage feeds three layers (SURVEY §3.1 caching note). Everything
    else stays lazy; sinks decide when to act.
    """
    from ibf_typhoon_data_pipeline_spark.plans.typhoon import (
        gen_centroids,
        gen_munis,
        gen_tracks,
    )

    tracks = tracks if tracks is not None else gen_tracks(spark)
    cents = centroids if centroids is not None else gen_centroids(spark)
    munis = munis if munis is not None else gen_munis(spark)

    tracks = tracks.persist(StorageLevel.MEMORY_AND_DISK)
    wf = windfield(tracks, cents).persist(StorageLevel.MEMORY_AND_DISK)
    mh = muni_hazard(tracks, wf, cents, munis).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    dmg = damage(mh, munis)
    return ForecastResult(
        tracks=tracks,
        windfield=wf,
        muni_hazard=mh,
        damage=dmg,
        prob_within_50km=prob_within_50km(mh),
        triggers=triggers(dmg, damage_thresholds, trigger_probability),
        exposure_docs=exposure_docs(dmg),
        payloads=publish_payloads(dmg),
    )
