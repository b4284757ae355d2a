"""Seeded benchmark inputs.

Everything a workload reads is generated here from ``--seed`` and
landed as parquet under the run's work directory during set-up; the
program only ever reads what was landed.

- Forecast drops: seed 0 is ``plans.typhoon.gen_tracks`` unchanged (so
  the golden pins hold); any other seed shifts the storm centre by at
  most 0.9° lat / 1.2° lon and its intensity by at most 3 m/s — the
  same bounds ``bench_event.gen_tracks_batch`` uses to keep every
  storm landfalling over the fixed grid.
- Catalog tables for the graph loops: the columns of ``orders``,
  ``lineitem`` and ``documents`` that ``graph_pagerank`` and
  ``dedup_clusters`` read, drawn the way the sf0.1 testdata is
  (key distributions, document lengths, vocabulary, share and shape
  of near-duplicates), at a fixed fraction of its row counts.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ibf_typhoon_data_pipeline_spark.plans.typhoon import N_MEMBERS, gen_tracks
from ibf_typhoon_data_pipeline_spark.sources.ingest import land_tracks

# the reference's 0.05° centroid grid over lat 6..19, lon 118..127
EVENT_GRID_ROWS, EVENT_GRID_COLS = 261, 181

# row counts of the sf0.1 testdata the graph loops read
SF01 = {
    "orders": 150_000,
    "customers": 15_000,
    "lineitems": 600_000,
    "suppliers": 1_000,
    "documents": 5_000,
    "dup_documents": 250,
}
# the sf0.1 documents' vocabulary
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def storm_shift(seed: int) -> tuple[float, float, float]:
    """(dlat, dlon, dvmax) of one seed's storm against seed 0's."""
    rng = random.Random(seed)
    return rng.uniform(-0.9, 0.9), rng.uniform(-1.2, 1.2), rng.uniform(-3.0, 3.0)


def seeded_tracks(spark: SparkSession, seed: int, members: int) -> DataFrame:
    """The first ``members`` ensemble members of the seeded storm."""
    tracks = gen_tracks(spark)
    if members < N_MEMBERS:
        tracks = tracks.filter(F.col("ens_id") < members)
    if seed == 0:
        return tracks
    dlat, dlon, dv = storm_shift(seed)
    vmax = F.greatest(F.col("vmax") + dv, F.lit(15.0))
    return tracks.select(
        "ens_id",
        "step",
        (F.col("lat") + dlat).alias("lat"),
        (F.col("lon") + dlon).alias("lon"),
        vmax.alias("vmax"),
        (1010.0 - vmax).alias("pcen"),
        "penv",
    )


def land_drop(spark: SparkSession, landing: str, seed: int, members: int) -> str:
    """Land one forecast drop through the ingest adapter."""
    return land_tracks(seeded_tracks(spark, seed, members), landing, f"seed{seed}")


def land_event_grid(spark: SparkSession, path: str) -> None:
    ids = spark.range(EVENT_GRID_ROWS * EVENT_GRID_COLS)
    ids.select(
        F.col("id").alias("centroid_id"),
        (6.0 + F.expr(f"id div {EVENT_GRID_COLS}") * 0.05).alias("lat"),
        (118.0 + (F.col("id") % EVENT_GRID_COLS) * 0.05).alias("lon"),
    ).write.mode("overwrite").parquet(path)


def write_catalog_tables(sf_dir: str, seed: int, scale: float) -> None:
    """Write the orders/lineitem/documents parquet files that
    ``load_table`` reads from ``sf_dir``, shaped like the sf0.1 tables
    (``SF01``) with every row count multiplied by ``scale``: customer,
    order and supplier keys drawn uniformly; documents of 10-100 words
    over sf0.1's 30-word vocabulary, of which 5% are a copy of another
    document (possibly itself a copy) with " dup" appended."""
    os.makedirs(sf_dir, exist_ok=True)
    n = {k: max(1, round(v * scale)) for k, v in SF01.items()}
    rng = np.random.default_rng(seed)
    pq.write_table(
        pa.table(
            {
                "o_orderkey": np.arange(n["orders"], dtype=np.int64),
                "o_custkey": rng.integers(0, n["customers"], n["orders"], dtype=np.int64),
            }
        ),
        os.path.join(sf_dir, "orders.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "l_orderkey": rng.integers(0, n["orders"], n["lineitems"], dtype=np.int64),
                "l_suppkey": rng.integers(0, n["suppliers"], n["lineitems"], dtype=np.int64),
            }
        ),
        os.path.join(sf_dir, "lineitem.parquet"),
    )
    vocab = np.array(_WORDS)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), int(k))])
        for k in rng.integers(10, 101, n["documents"])
    ]
    for i in rng.choice(n["documents"], n["dup_documents"], replace=False):
        j = int(rng.integers(0, n["documents"] - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    pq.write_table(
        pa.table({"doc_id": np.arange(n["documents"], dtype=np.int64), "text": texts}),
        os.path.join(sf_dir, "documents.parquet"),
    )
