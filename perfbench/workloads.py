"""The benchmark's workloads: what one repetition calls, layer by layer,
and how its outputs are checked.

A workload has ``prepare`` and ``land`` (set-up: write the static and
the per-cycle seeded inputs), ``rep`` (one repetition: a list of layer
spans plus the counts a traced one reads from the executed plans) and
``check`` (failures found in the first repetition's values). The values
returned by a layer call are compared across repetitions through
``digest``; the golden pins and the DuckDB oracle are checked once per
process, after the timed repetitions.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ibf_typhoon_data_pipeline_spark.operators.cache import release_caches
from ibf_typhoon_data_pipeline_spark.operators.interpolation import (
    resample_interpolate,
)
from ibf_typhoon_data_pipeline_spark.operators.windfield import (
    intensity_reduce,
    windfield_expr,
)
from ibf_typhoon_data_pipeline_spark.pipeline import run_forecast_pipeline
from ibf_typhoon_data_pipeline_spark.plans.corpus import _sql_shingles
from ibf_typhoon_data_pipeline_spark.plans.registry import oracle_text, query_map
from ibf_typhoon_data_pipeline_spark.plans.typhoon import (
    CENTROIDS_SQL,
    DAMAGE_SQL,
    GRID_COLS,
    GRID_ROWS,
    MUNI_HAZARD_SQL,
    N_MEMBERS,
    N_STEPS,
    TRACKS_SQL,
    WINDFIELD_SQL,
    trigger_ladder_oracle,
)
from ibf_typhoon_data_pipeline_spark.sinks.publish import (
    IbfApiClient,
    replay_mock_event,
    write_exposure_json,
    write_layer_csv,
)
from ibf_typhoon_data_pipeline_spark.sources.ingest import read_landed_tracks
from tests.oracle_util import canon

import inputs
from recorder import cross_join_rows, windfield_counts

# every layer the benchmark can trace, in the order a reader meets them
LAYERS = (
    "ingest.read",
    "interp",
    "windfield",
    "hazard",
    "damage",
    "triggers",
    "exposure_docs",
    "sinks.write",
    "publish",
    "graph.pagerank",
    "graph.dedup_clusters",
)

# seed-0 forecast_cycle outputs pinned by tests/test_golden_e2e.py and
# tests/test_publish.py
GOLDEN_HAZARD_ROWS = 14418
GOLDEN_PROBS = (1.0, 1.0, 0.5)
GOLDEN_POSTED = 7

EVENT_MEMBERS = 1
# the graph loops' tables, as a fraction of sf0.1's row counts
CATALOG_SCALE = 0.5
# the event windfield is checked against DuckDB on the centroids whose
# id is a multiple of this (about 1,300 of 47,241; prime, so the sample
# spreads over the 181-column grid)
EVENT_ORACLE_STRIDE = 37
# layer name -> catalog entry
CATALOG_LAYERS = {"graph.pagerank": "graph_pagerank", "graph.dedup_clusters": "dedup_clusters"}


def digest(value) -> str:
    return hashlib.sha1(json.dumps(value, sort_keys=True, default=str).encode()).hexdigest()


def _int_sum(col, scale: float):
    """Order-independent checksum of a double column (a name or a
    Column)."""
    col = F.col(col) if isinstance(col, str) else col
    return F.sum(F.round(col * scale).cast("bigint"))


class FakeIbfClient(IbfApiClient):
    """In-process stand-in for the IBF portal: records every POST."""

    def __init__(self):
        super().__init__("http://ibf.invalid/", "bench", "bench")
        self.posts: list[tuple[str, str]] = []

    def post(self, path: str, body: dict) -> None:
        self.posts.append((path, json.dumps(body, sort_keys=True)))


class ForecastCycle:
    """Landed 52-member drop → forecast DAG → file sinks → publish."""

    name = "forecast_cycle"
    members = N_MEMBERS

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.seed = seed
        self.landing = os.path.join(work, "landing")
        self.out = os.path.join(work, "out")
        self.raw_pairs = self.members * N_STEPS * GRID_ROWS * GRID_COLS

    def prepare(self) -> None:
        pass  # the centroid grid and municipalities are the pipeline's own

    def land(self) -> None:
        inputs.land_drop(self.spark, self.landing, self.seed, self.members)

    def rep(self, rec) -> tuple[list, dict]:
        spark = self.spark
        spans = [rec.run("ingest.read", lambda: read_landed_tracks(spark, self.landing))]
        r = run_forecast_pipeline(spark, tracks=spans[0].value)
        spans.append(rec.run("ingest.read", r.tracks.count))

        wf = r.windfield.agg(F.count("*"), _int_sum("wind_ms", 1e3))
        spans.append(rec.run("windfield", lambda: tuple(wf.collect()[0])))
        mh = r.muni_hazard.agg(
            F.count("*"),
            F.sum("value_count"),
            _int_sum("v_max", 1e3),
            _int_sum("dis_track_min", 1e3),
        )
        spans.append(rec.run("hazard", lambda: tuple(mh.collect()[0])))
        dmg = r.damage.agg(F.count("*"), _int_sum("damage_predicted", 1.0))
        p50 = r.prob_within_50km.agg(F.count("*"), _int_sum("prob_within_50km", 1e6))
        spans.append(
            rec.run("damage", lambda: (tuple(dmg.collect()[0]), tuple(p50.collect()[0])))
        )
        spans.append(rec.run("triggers", lambda: r.triggers.collect()[0].asDict()))
        spans.append(
            rec.run("exposure_docs", lambda: sorted(map(tuple, r.exposure_docs.collect())))
        )

        def sinks():
            write_exposure_json(r.exposure_docs, os.path.join(self.out, "exposure"))
            write_layer_csv(r.triggers, os.path.join(self.out, "triggers"))

        spans.append(rec.run("sinks.write", sinks))
        client = FakeIbfClient()

        def publish():
            posted = replay_mock_event(spark, self.landing, client, "2024-06-01T00:00:00")
            return posted, client.posts

        spans.append(rec.run("publish", publish))
        counts = {}
        if rec.traced:
            counts = windfield_counts(wf)
            counts["hazard.k4_pairs"] = cross_join_rows(mh)
        r.unpersist()
        return spans, counts

    @staticmethod
    def rows_out(span) -> int | None:
        """Rows the layer call returned; None for the file sinks, whose
        rows are counted from the write stages."""
        v = span.value
        if span.layer in ("windfield", "hazard"):
            return v[0]
        if span.layer == "damage":
            return v[0][0] + v[1][0]
        if span.layer == "triggers":
            return 1
        if span.layer == "exposure_docs":
            return len(v)
        if span.layer == "publish":
            return len(v[1])
        if span.layer == "ingest.read":
            return v if isinstance(v, int) else 0  # the listing span returns a frame
        return None

    def outputs(self, spans) -> dict:
        return {
            s.layer: s.value
            for s in spans
            if s.layer not in ("ingest.read", "sinks.write")
        }

    def check(self, outputs: dict) -> list[str]:
        """Every layer's values must equal the DuckDB oracle texts of the
        matching catalog entries run on the landed drop, and the canned
        publish scenario must post every indicator; seed 0 must also hit
        the golden pins."""
        fails = []
        # the rep's values in the oracle's form: trigger probabilities
        # rounded to its 6 digits, and no 50k boolean
        got = {**outputs, "triggers": {
            k: round(v, 6) if k.startswith("prob") else v
            for k, v in outputs["triggers"].items() if k != "triggered_50k"
        }}
        for layer, want in self.oracle().items():
            if got[layer] != want:
                fails.append(f"{layer}: {str(got[layer])[:200]} != DuckDB oracle {str(want)[:200]}")
        posted = len(outputs["publish"][0])
        if posted != GOLDEN_POSTED:
            fails.append(f"{posted} indicators posted != {GOLDEN_POSTED}")
        if self.seed == 0:
            rows = outputs["hazard"][0]
            t = outputs["triggers"]
            probs = (t["prob_gt_20k"], t["prob_gt_50k"], t["prob_gt_80k"])
            if rows != GOLDEN_HAZARD_ROWS:
                fails.append(f"muni_hazard rows {rows} != {GOLDEN_HAZARD_ROWS}")
            if probs != GOLDEN_PROBS:
                fails.append(f"prob_gt_20k/50k/80k {probs} != {GOLDEN_PROBS}")
        return fails

    def oracle(self) -> dict:
        """The rep's layer values computed by DuckDB from the catalog's
        oracle texts — the windfield, muni-hazard and damage CTEs behind
        ``tc_windfield_holland``, ``tc_muni_hazard``,
        ``tc_prob_within_50km`` and ``tc_damage_stub``, and
        ``tc_trigger_ladder`` and ``tc_exposure_json`` whole — with the
        generated tracks swapped for the landed drop. The windfield is
        evaluated once and shared by the other texts."""
        con = duckdb.connect()
        landed = os.path.join(self.landing, "drop=*", "*.parquet")
        con.execute(
            "CREATE TABLE wf_landed AS "
            + _swap(WINDFIELD_SQL, f"tracks AS ({TRACKS_SQL})",
                    f"tracks AS (SELECT * FROM read_parquet('{landed}'))")
            + " SELECT * FROM wf"
        )
        head = (f"WITH tracks AS (SELECT * FROM read_parquet('{landed}')), "
                "wf AS (SELECT * FROM wf_landed)")

        def one(sql: str) -> tuple:
            return tuple(con.execute(_swap(sql, WINDFIELD_SQL, head)).fetchall()[0])

        mh = MUNI_HAZARD_SQL
        trig = one(trigger_ladder_oracle("dref", "cerf"))
        out = {
            "windfield": one(
                f"{WINDFIELD_SQL} SELECT count(*), {_duck_int_sum('wind_ms', 1e3)} "
                "FROM wf WHERE wind_ms > 17.5"
            ),
            "hazard": one(
                f"{mh} SELECT count(*), sum(value_count), {_duck_int_sum('v_max', 1e3)}, "
                f"{_duck_int_sum('dis_track_min', 1e3)} FROM muni_hazard"
            ),
            "damage": (
                one(f"{DAMAGE_SQL} SELECT count(*), {_duck_int_sum('damage_predicted', 1.0)} "
                    "FROM damage"),
                one(f"{mh}, p AS (SELECT avg(CASE WHEN dis_track_min < 50.0 THEN 1.0 "
                    "ELSE 0.0 END) AS p FROM muni_hazard GROUP BY adm3_pcode) "
                    f"SELECT count(*), {_duck_int_sum('p', 1e6)} FROM p"),
            ),
            "triggers": dict(zip(
                ("prob_gt_20k", "prob_gt_50k", "prob_gt_80k", "triggered_20k",
                 "triggered_80k"), trig)),
            "exposure_docs": sorted(
                map(tuple, con.execute(_swap(oracle_text("tc_exposure_json"),
                                             WINDFIELD_SQL, head)).fetchall())
            ),
        }
        con.close()
        return out


def _swap(sql: str, old: str, new: str) -> str:
    if sql.count(old) != 1:
        raise ValueError("oracle text does not contain the expected CTE once")
    return sql.replace(old, new)


def _duck_int_sum(col: str, scale: float) -> str:
    """DuckDB twin of ``_int_sum``."""
    return f"sum(CAST(round({col} * {scale}) AS BIGINT))"


class EventAndLoops:
    """The production-resolution windfield slice of ``bench_event.py``
    followed by the catalog's two iterative graph loops."""

    name = "event_and_loops"
    members = EVENT_MEMBERS

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.seed = seed
        self.landing = os.path.join(work, "landing")
        self.grid = os.path.join(work, "grid")
        self.sf_dir = os.path.join(work, "catalog")
        self.queries = query_map()
        self.raw_pairs = None  # interpolated positions × centroids, set by rep

    def prepare(self) -> None:
        inputs.land_event_grid(self.spark, self.grid)
        inputs.write_catalog_tables(self.sf_dir, self.seed, CATALOG_SCALE)

    def land(self) -> None:
        inputs.land_drop(self.spark, self.landing, self.seed, self.members)

    def rep(self, rec) -> tuple[list, dict]:
        spark = self.spark
        tracks = read_landed_tracks(spark, self.landing).persist(StorageLevel.MEMORY_AND_DISK)
        spans = [rec.run("ingest.read", tracks.count)]

        base = F.unix_timestamp(F.to_timestamp(F.lit("2024-06-01 00:00:00")))
        pts = tracks.select(
            "ens_id",
            F.timestamp_seconds(base + F.col("step") * 21600).alias("t"),
            "lat", "lon", "vmax", "pcen", "penv",
        )
        interp = (
            resample_interpolate(pts, ["ens_id"], "t", ["lat", "lon", "vmax", "pcen", "penv"], 30)
            .select(
                "ens_id",
                ((F.unix_timestamp("t") - base) / 1800).cast("bigint").alias("step"),
                "lat", "lon", "vmax", "pcen", "penv",
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        spans.append(rec.run("interp", interp.count))
        self.raw_pairs = spans[-1].value * inputs.EVENT_GRID_ROWS * inputs.EVENT_GRID_COLS

        cents = spark.read.parquet(self.grid)
        sampled = F.col("centroid_id") % EVENT_ORACLE_STRIDE == 0
        red = intensity_reduce(windfield_expr(interp, cents)).agg(
            F.count("*"),
            _int_sum("intensity_ms", 1e3),
            F.count(F.when(sampled, 1)),
            _int_sum(F.when(sampled, F.col("intensity_ms")), 1e3),
        )
        spans.append(rec.run("windfield", lambda: tuple(red.collect()[0])))
        for layer, name in CATALOG_LAYERS.items():
            def loop(fn=self.queries[name]):
                rows = fn(spark, self.sf_dir).collect()
                release_caches()
                return rows
            spans.append(rec.run(layer, loop))
        counts = windfield_counts(red) if rec.traced else {}
        interp.unpersist()
        tracks.unpersist()
        return spans, counts

    @staticmethod
    def rows_out(span) -> int:
        v = span.value
        return v[0] if span.layer == "windfield" else (v if isinstance(v, int) else len(v))

    def outputs(self, spans) -> dict:
        out = {}
        for s in spans:
            if s.layer.startswith("graph."):
                rows = [tuple(r) for r in s.value]
                out[s.layer] = canon(rows, s.value[0].__fields__ if rows else [])
            else:
                out[s.layer] = s.value
        return out

    def check(self, outputs: dict) -> list[str]:
        """Each graph entry must hash-equal its DuckDB oracle on the
        landed tables. The dedup oracle's shingle CTE is evaluated once
        into a table (DuckDB inlines it at each of its three uses, which
        takes four times as long)."""
        con = duckdb.connect()
        for t in ("orders", "lineitem", "documents"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'"
            )
        shingles = f"SELECT doc_id, unnest({_sql_shingles(3)}) AS shingle FROM documents"
        con.execute(f"CREATE TABLE shingles AS {shingles}")
        fails = []
        for layer, name in CATALOG_LAYERS.items():
            sql = oracle_text(name)
            if name == "dedup_clusters":
                sql = _swap(sql, shingles, "SELECT * FROM shingles")
            res = con.execute(sql)
            want = canon(res.fetchall(), [d[0] for d in res.description])
            got = outputs[layer]
            if digest(got) != digest(want):
                fails.append(f"{name}: {len(got)} rows differ from the DuckDB oracle")
        con.close()
        if outputs["windfield"][0] <= 0:
            fails.append("windfield: no centroid above the threshold")
        want = self.windfield_oracle()
        if outputs["windfield"][2:] != want:
            fails.append(f"windfield on sampled centroids: {outputs['windfield'][2:]} "
                         f"!= DuckDB oracle {want}")
        return fails

    def windfield_oracle(self) -> tuple:
        """(centroids above the threshold, intensity checksum) over the
        sampled centroids, from DuckDB: the landed drop interpolated to
        30 minutes the way the ``tc_track_interp_30min`` oracle text
        does it, then the catalog's windfield CTE text on the event
        grid, reduced to the per-centroid maximum."""
        landed = os.path.join(self.landing, "drop=*", "*.parquet")
        cols = ("lat", "lon", "vmax", "pcen", "penv")
        brackets = ",\n".join(
            f"last_value({c} IGNORE NULLS) OVER w_prev AS {c}_0, "
            f"first_value({c} IGNORE NULLS) OVER w_next AS {c}_1"
            for c in cols
        )
        lerp = ",\n".join(
            f"CASE WHEN t1 <> t0 THEN {c}_0 + ({c}_1 - {c}_0) * (epoch(t) - t0) / (t1 - t0) "
            f"ELSE {c}_0 END AS {c}"
            for c in cols
        )
        interp = f"""
          WITH pts AS (
            SELECT ens_id, TIMESTAMP '2024-06-01 00:00:00' + INTERVAL 1 HOUR * (step * 6) AS t,
                   {", ".join(cols)}
            FROM read_parquet('{landed}')
          ), bounds AS (
            SELECT ens_id, min(t) AS t0, max(t) AS t1 FROM pts GROUP BY 1
          ), grid AS (
            SELECT ens_id, unnest(generate_series(t0, t1, INTERVAL 30 MINUTE)) AS t
            FROM bounds
          ), brk AS (
            SELECT g.ens_id, g.t, {brackets},
              last_value(epoch(p.t) IGNORE NULLS) OVER w_prev AS t0,
              first_value(epoch(p.t) IGNORE NULLS) OVER w_next AS t1
            FROM grid g LEFT JOIN pts p ON g.ens_id = p.ens_id AND g.t = p.t
            WINDOW
              w_prev AS (PARTITION BY g.ens_id ORDER BY g.t
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
              w_next AS (PARTITION BY g.ens_id ORDER BY g.t
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
          )
          SELECT ens_id,
                 CAST((epoch(t) - epoch(TIMESTAMP '2024-06-01 00:00:00')) / 1800 AS BIGINT)
                   AS step,
                 {lerp}
          FROM brk"""
        sql = _swap(WINDFIELD_SQL, f"tracks AS ({TRACKS_SQL})", f"tracks AS ({interp})")
        sql = _swap(
            sql,
            f"centroids AS ({CENTROIDS_SQL})",
            f"centroids AS (SELECT centroid_id, lat, lon FROM "
            f"read_parquet('{self.grid}/*.parquet') "
            f"WHERE centroid_id % {EVENT_ORACLE_STRIDE} = 0)",
        )
        con = duckdb.connect()
        row = con.execute(
            f"{sql}, intensity AS (SELECT ens_id, centroid_id, max(wind_ms) AS i FROM wf "
            "WHERE wind_ms > 17.5 GROUP BY 1, 2) "
            f"SELECT count(*), {_duck_int_sum('i', 1e3)} FROM intensity"
        ).fetchall()[0]
        con.close()
        return tuple(row)


WORKLOADS = {w.name: w for w in (ForecastCycle, EventAndLoops)}
