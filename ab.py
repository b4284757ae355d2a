#!/usr/bin/env python
"""Paired in-session A/B over a query list.

Usage:
  python ab.py '<json_conf_b>' q1,q2,... [n_pairs]
  python ab.py variants.py q1,q2,... [n_pairs]

Arm A is the registered catalog function under the session's confs.
Arm B adds the given runtime confs, or — for a .py file defining
``VARIANTS = {catalog_name: fn}`` — swaps in the variant function.
Per query, both arms are warmed once (uncounted), then n_pairs
(default 4) back-to-back A,B runs alternate their order inside ONE
warmed JVM. Reports per-pair times, minima and the median paired ratio
B/A; arm A's confs are restored afterwards. Steal bursts hit adjacent
runs roughly equally, so the paired ratio is robust where fresh-JVM
arms are not (measured: 2x swings across sessions at idle loadavg) —
which is also why a static conf, fixed for the session, is refused.
"""

from __future__ import annotations

import importlib.util
import json
import os
import statistics
import sys
from typing import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import noop_seconds, reset, session  # noqa: E402


def load_arm_b(spec: str) -> tuple[dict[str, str], dict[str, Callable]]:
    """(runtime confs, code variants) of arm B from its CLI spec."""
    if not spec.endswith(".py"):
        return json.loads(spec), {}
    mod_spec = importlib.util.spec_from_file_location("ab_variants", spec)
    mod = importlib.util.module_from_spec(mod_spec)
    mod_spec.loader.exec_module(mod)
    return {}, dict(mod.VARIANTS)


def paired(
    spark,
    sf_dir: str,
    names: list[str],
    conf_b: dict[str, str],
    variants: dict[str, Callable],
    n_pairs: int,
) -> dict[str, dict]:
    from ibf_typhoon_data_pipeline_spark import plans

    static = [k for k in conf_b if not spark.conf.isModifiable(k)]
    if static:
        raise ValueError(
            f"not runtime-modifiable, cannot differ between arms: {static}"
        )
    unknown = [n for n in [*names, *variants] if n not in plans.QUERIES]
    if unknown:
        raise KeyError(f"names missing from plans.QUERIES: {unknown}")
    defaults = {k: spark.conf.get(k, None) for k in conf_b}

    def set_arm(arm: str) -> None:
        for k, v in conf_b.items():
            if arm == "B":
                spark.conf.set(k, v)
            elif defaults[k] is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, defaults[k])

    report: dict[str, dict] = {}
    try:
        for name in names:
            fn_a = plans.QUERIES[name].fn
            fns = {"A": fn_a, "B": variants.get(name, fn_a)}

            def run(arm: str) -> float:
                set_arm(arm)
                return noop_seconds(spark, fns[arm], sf_dir)

            run("A")
            run("B")
            times: dict[str, list[float]] = {"A": [], "B": []}
            for i in range(n_pairs):
                for arm in "AB" if i % 2 == 0 else "BA":
                    times[arm].append(run(arm))
            reset(spark)
            ratios = [b / a for a, b in zip(times["A"], times["B"])]
            report[name] = {
                **{arm: [round(t, 3) for t in ts] for arm, ts in times.items()},
                "minA": round(min(times["A"]), 3),
                "minB": round(min(times["B"]), 3),
                "median_ratio": round(statistics.median(ratios), 3),
            }
            sys.stderr.write(f"{name}: {report[name]}\n")
    finally:
        set_arm("A")
    return report


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    conf_b, variants = load_arm_b(sys.argv[1])
    names = [n for n in sys.argv[2].split(",") if n]
    n_pairs = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    spark = session("ibf-ab", sf_dir)
    try:
        report = paired(spark, sf_dir, names, conf_b, variants, n_pairs)
    finally:
        spark.stop()
    print(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
