"""Registry pairing every named query plan with its DuckDB oracle SQL.

Each entry is the unit of the correctness gate: the driver runs the
Spark plan and the oracle SQL side-by-side at sf0.01 and compares
row counts, schema, and an order-insensitive value hash
(/root/repo/__spark_entry__.py contract).

Parity rules baked into every entry:
- alias each computed column identically in Spark and SQL;
- round floating-point outputs (sums → 2dp, ratios/sims → 6dp,
  distances → 4dp) so libm/summation-order ulps can't flip the hash;
- deterministic tiebreakers on every window/top-k.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QueryDef:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    # ANSI SQL for DuckDB; a zero-arg callable defers expensive oracle
    # generation (e.g. a DuckDB model refit) to first use; None →
    # rows-only check
    oracle: str | Callable[[], str] | None
    doc: str = ""

    def oracle_text(self) -> str | None:
        """Resolve the oracle SQL, memoized — lazy oracles run their
        generator exactly once, and only when actually checked."""
        if callable(self.oracle):
            if self.name not in _RESOLVED_ORACLES:
                _RESOLVED_ORACLES[self.name] = self.oracle()
            return _RESOLVED_ORACLES[self.name]
        return self.oracle


QUERIES: dict[str, QueryDef] = {}
_RESOLVED_ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | Callable[[], str] | None, doc: str = ""):
    """Decorator: register a (spark, sf_dir) -> DataFrame plan."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = QueryDef(name, fn, oracle, doc or (fn.__doc__ or ""))
        return fn

    return deco


# Entries whose SEMANTICS changed after a green driver row was recorded:
# green rows from rounds before the listed round don't count as proof.
# (Round 3 moved the GBT/XGB fit to the reference depth-8 × 100-round
# hyperparameters after round 2's green rows; see VERDICT r3.)
_STALE_BEFORE_ROUND: dict[str, int] = {
    "tc_damage_gbt": 4,
    "tc_damage_xgb": 4,
    # Round 7 moved the median quantization to integer milli BEFORE
    # the interpolation (ADVICE r6) — edge-case values can shift 1
    # milli vs the r6-green formulation.
    "tc_rain_api_index": 7,
    # Round 8 hard-capped the probe panel at vec_id < 10000 (values
    # identical at every test SF, but the oracle text changed).
    "sim_binary_hamming_topk": 8,
    # VERDICT r7 item 2: the remaining five r6-named parity-fragile
    # never-driver-checked entries are pinned into tier (a) so a
    # sampling hiccup cannot defer them a third round — they have no
    # green rows, so the mark floats them to the sample front.
    "sim_mmr_rerank": 8,
    "ml_kmeans_lloyd": 8,
    "sim_knn_ndcg": 8,
    "sim_knn_graph": 8,
    # Round 11 rewrote the oracle's concat as NULL-propagating ||
    # (ADVICE r10 medium: DuckDB concat() skips NULL args while Spark
    # F.concat returns NULL — benign on current data, but the r10
    # green row hashed the old text) and made sim_ivf_topk's capacity
    # data-derived (oracle is now a lazy generator; same 8-cell text
    # at the driver SF, but the entry's semantics at other SFs
    # changed).
    "events_variant_write_roundtrip": 11,
    "sim_ivf_topk": 11,
    "sim_ivf_probe2_topk": 11,
    # Round 12 re-pointed the primary SemDeDup name at the capacity
    # path (VERDICT r11 item 2): the oracle moved from the
    # literal-inlined argmax-score ladder to the centroid-table HOF
    # argmin — values at sf0.01 resolve to the same k=8 fit, but the
    # assignment rounding/tie direction differs, and the r8 green row
    # hashed the old text. (It previously carried an r8 mark for the
    # same reason in the other direction.)
    "dedup_semdedup": 12,
    # Round 14 wrapped the trigger ladder's probabilities and booleans
    # in coalesce (0.0 / false with no damaged member); values on the
    # catalog storm are unchanged, but the r13 rows hashed the old text.
    "tc_trigger_ladder": 14,
    "pipeline_triggers": 14,
}


def _driver_row_status() -> tuple[set[str], set[str]]:
    """Scan CORRECTNESS_r*.json at the repo root and classify every
    catalog name by its driver history:

    - green: confirmed by a prior driver sample — a green hash row, or
      a completed rows-only check for an entry that STILL has no
      oracle. A `no_oracle` row for an entry that has since gained an
      oracle does NOT count: the new oracle has never been
      driver-hashed. Green rows recorded before an entry's
      `_STALE_BEFORE_ROUND` round don't count either.
    - red: ever produced a FAILED driver row (hash/row/schema mismatch
      or an error), or was green only before a semantics change
      (`_STALE_BEFORE_ROUND`) — i.e. the driver has concrete evidence
      of a problem with some shipped version of this entry.

    A name that later turned green leaves the red set."""
    last_green, red = _green_last_rounds()
    return set(last_green), red


def _green_last_rounds() -> tuple[dict[str, int], set[str]]:
    """Scan CORRECTNESS_r*.json and return ({green name: most recent
    round with a counting green row}, red set). The last-green round
    drives tier (c)'s rolling re-validation order (VERDICT r8 item 5):
    with coverage closed, the stalest proofs must rotate back through
    the driver's ~50-entry sample window so silent drift in
    long-untouched entries is caught within ~7 rounds."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    last_green: dict[str, int] = {}
    red: set[str] = set()
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            stale = rnd < _STALE_BEFORE_ROUND.get(name, 0)
            ok = row.get("hash_match") is True or (
                row.get("err") == "no_oracle"
                and row.get("spark_rows") is not None
                and name in QUERIES
                and QUERIES[name].oracle is None
            )
            if ok and not stale:
                last_green[name] = max(last_green.get(name, 0), rnd)
            elif not ok:
                # a stale-green row is neither proof nor failure; an
                # actual mismatch/error row is a red mark
                red.add(name)
    # entries marked stale that never re-greened carry a red mark too:
    # the driver checked an older semantics and the new one is unproven
    for name, rnd in _STALE_BEFORE_ROUND.items():
        if name in QUERIES and name not in last_green:
            red.add(name)
    return last_green, red - set(last_green)


def _ordered_names() -> list[str]:
    """Three tiers: (a) previously-RED entries — any failed driver row
    or a `_STALE_BEFORE_ROUND` mark without a post-fix green row —
    float to the very front, so a fix gets its confirming driver row
    the round after it ships; then (b) never-driver-checked entries,
    FIFO BY CATALOG AGE (`_catalog_age.FIRST_ROUND`, the round each
    entry first registered) so old backlog clears before each round's
    newcomers instead of being perpetually outranked by them (VERDICT
    r6 item 1); then (c) proven-green entries, STALEST PROOF FIRST
    (ascending last-green driver round — VERDICT r8 item 5: with
    coverage closed, the ~50-entry sample window must rotate through
    the catalog so silent drift in long-unchecked entries is caught
    within ~7 rounds, instead of re-proving the same registration-
    order head every round). Registration order breaks ties within
    each tier. The driver samples a prefix of this list under a time
    cap."""
    from ._catalog_age import FIRST_ROUND

    last_green, red = _green_last_rounds()
    names = list(QUERIES)
    reg_idx = {n: i for i, n in enumerate(names)}
    never = [n for n in names if n not in red and n not in last_green]
    never.sort(key=lambda n: (FIRST_ROUND.get(n, 10**6), reg_idx[n]))
    green = [n for n in names if n in last_green]
    green.sort(key=lambda n: (last_green[n], reg_idx[n]))
    return [n for n in names if n in red] + never + green


def _released(fn: Callable) -> Callable:
    """Driver-surface wrapper: unpersist the PREVIOUS entry's tracked
    frames before building the next plan. The driver samples ~50
    entries sequentially in one session and never calls
    release_caches() itself; without this, every persist-using plan's
    caches accumulate across the whole sample. Safe because the driver
    collects each result before asking for the next (and an early
    unpersist is a recompute, never a wrong answer)."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..operators.cache import release_caches

        release_caches()
        return fn(spark, sf_dir)

    return wrapped


def query_map() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _released(QUERIES[name].fn) for name in _ordered_names()}


def oracle_text(name: str) -> str | None:
    """Resolve ONE query's oracle SQL (memoized). Use this for subset
    checks — a lazy oracle's generator (DuckDB GBT refit, codebook
    k-means fit) runs only for the name actually asked for."""
    return QUERIES[name].oracle_text()


def oracle_sql_map() -> dict[str, str]:
    """The driver-contract surface: a plain fully-resolved dict
    (the driver compares every sampled query against it, so the
    generators run here by design). Callers wanting one entry should
    use oracle_text(name) instead of building the whole map."""
    return {
        name: QUERIES[name].oracle_text()
        for name in _ordered_names()
        if QUERIES[name].oracle is not None
    }
