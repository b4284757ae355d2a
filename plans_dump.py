#!/usr/bin/env python
"""Dump .explain('formatted') for headline queries into plans/r<N>/.

Usage: python plans_dump.py --round N before|after [name ...]
With no names, dumps every bench.py HEADLINE entry. Output file:
plans/r<N>/<query>_<tag>.txt (the optimization-round deliverable: plan
claims in OPTIMIZATION_r<N>.md are checked against these files).
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import HEADLINE  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("tag", nargs="?", default="before")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    names = args.names or HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from ibf_typhoon_data_pipeline_spark import plans
    from ibf_typhoon_data_pipeline_spark.operators.cache import release_caches
    from ibf_typhoon_data_pipeline_spark.session import get_spark

    spark = get_spark("ibf-plan-dump", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", f"r{args.round}")
    os.makedirs(out_dir, exist_ok=True)

    for name in names:
        qd = plans.QUERIES.get(name)
        if qd is None:
            print(f"SKIP (unknown): {name}")
            continue
        try:
            df = qd.fn(spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(out_dir, f"{name}_{args.tag}.txt")
            with open(path, "w") as f:
                f.write(buf.getvalue())
            print(f"OK {name} -> {path}")
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: {e}")
        finally:
            release_caches()
    spark.stop()


if __name__ == "__main__":
    main()
