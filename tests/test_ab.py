"""ab.py's pairing core on the session fixture: a runtime-conf arm
(restored afterwards), a VARIANTS-file arm, and a static conf refused."""

import json

import pytest

from ab import load_arm_b, paired
from .conftest import SF_SMOKE

NAME = "q1_pricing_summary"
N_PAIRS = 2

VARIANTS_PY = """
from ibf_typhoon_data_pipeline_spark import plans

CALLS = []


def q1_first_row(spark, sf_dir):
    CALLS.append(sf_dir)
    return plans.QUERIES["q1_pricing_summary"].fn(spark, sf_dir).limit(1)


VARIANTS = {"q1_pricing_summary": q1_first_row}
"""


def _run(spark, spec):
    conf_b, variants = load_arm_b(spec)
    report = paired(spark, SF_SMOKE, [NAME], conf_b, variants, N_PAIRS)
    r = report[NAME]
    assert list(report) == [NAME] and len(r["A"]) == len(r["B"]) == N_PAIRS
    assert r["minA"] == min(r["A"]) and r["minB"] == min(r["B"])
    assert r["median_ratio"] > 0
    return variants


def test_conf_arm_restores_arm_a_confs(spark):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    assert _run(spark, json.dumps({key: "3"})) == {}
    assert spark.conf.get(key) == before


def test_variants_file_arm(spark, tmp_path):
    path = tmp_path / "variants.py"
    path.write_text(VARIANTS_PY)
    variants = _run(spark, str(path))
    # one uncounted warm-up run plus one run per pair
    assert variants[NAME].__globals__["CALLS"] == [SF_SMOKE] * (1 + N_PAIRS)


def test_static_conf_refused(spark):
    with pytest.raises(ValueError, match="spark.driver.memory"):
        paired(spark, SF_SMOKE, [NAME], {"spark.driver.memory": "1g"}, {}, N_PAIRS)
