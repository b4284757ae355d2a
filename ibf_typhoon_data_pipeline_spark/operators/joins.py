"""Join operators (SURVEY.md §2.3): complete-pairs cross join,
semi/anti membership.

Join-strategy policy (SURVEY §2.3 note): every dimension table in the
domain is ≤~50k rows → broadcast-hash; only the fact-side joins
(windfield⋈admin) shuffle, keyed by centroid/municipality.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def complete_pairs(
    df: DataFrame,
    left_key: str,
    right_keys: Sequence[str],
    fill: dict[str, float],
) -> DataFrame:
    """J10 tidyr::complete (run_model_V2.R:196-211): ensure every
    (left_key × right_keys) combination exists, filling absent measure
    columns with defaults.

    distinct(left) × distinct(right) is the only cross join in the
    system and both sides are tiny key lists (members × municipalities)
    — the crossJoin output is |A|·|B| keys, never fact-sized. The spine
    is then left-joined back to the data (broadcast, keys are small).
    """
    left = df.select(left_key).distinct()
    right = df.select(*right_keys).distinct()
    spine = left.crossJoin(right)
    out = spine.join(df, [left_key, *right_keys], "left")
    return out.na.fill(fill)


def semi_membership(
    df: DataFrame, member_list: DataFrame, key: str, out_col: str
) -> DataFrame:
    """J12 (forecast_process.py:1081-1082): boolean membership column via
    a broadcast left join against a key list (≡ left-semi flag)."""
    marked = member_list.select(key).distinct().withColumn("__m", F.lit(1))
    return (
        df.join(F.broadcast(marked), key, "left")
        .withColumn(out_col, F.col("__m").isNotNull())
        .drop("__m")
    )
