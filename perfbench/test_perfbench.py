"""Tests of the benchmark's own checks.

    python3 -m pytest perfbench -q

The Spark test starts a small local session (about 15 s).
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from oracle import digest, row_hash  # noqa: E402
from spans import metric_value  # noqa: E402

ROWS = [("doc00000001", 3, 17), ("doc00000001", 5, 2), ("doc00000042", 0, 17), ("doc00000077", 1, 399)]


def test_dropped_row_counts_as_failure():
    from workloads import tally

    expected = digest(ROWS)
    assert tally([("pip", digest(reversed(ROWS)), expected)]) == (1, [])
    assert tally([("pip", digest(ROWS[:-1]), expected)]) == (1, ["pip"])
    assert tally([("pip", digest(ROWS[1:]), expected), ("knn", expected, expected)]) == (2, ["pip"])


def test_digest_sees_an_altered_or_duplicated_row():
    assert digest(ROWS[:-1] + [("doc00000077", 1, 398)]) != digest(ROWS)
    assert digest(ROWS + ROWS[:1]) != digest(ROWS)
    assert digest([(1.5, None, "a")]) == (1, row_hash((1.5, None, "a")))


def test_metric_strings_parse_to_base_units():
    assert metric_value("41,884") == 41884
    assert metric_value("12.5 MiB") == 12.5 * 2**20
    assert metric_value("14 ms") == pytest.approx(0.014)
    assert metric_value("total (min, med, max (stageId: taskId))\n8.0 s (2.0 s, 2.0 s, 2.0 s (stage 8.0: task 10))") == 8.0
    assert metric_value("(min, med, max (stageId: taskId))\n(1, 1, 1 (stage 1.0: task 2))") == 0.0
    assert metric_value(None) == 0.0


def test_layer_map_matches_benchmark_json():
    with open(os.path.join(HERE, "layers.json")) as fh:
        layers = json.load(fh)["per_layer"]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [{k: m[k] for k in ("name", "unit", "better")} for m in layers] == bench["per_layer"]
    e2e = {m["name"] for m in bench["end_to_end"]}
    workloads = {w["name"] for w in bench["workloads"]}
    for m in layers:
        for metric, names in m["moves"].items():
            assert metric in e2e and set(names) <= workloads, m["name"]


def test_spark_row_hash_matches_python_row_hash():
    from pyspark.sql import SparkSession, functions as F

    from oracle import spark_row_hash

    spark = SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false").getOrCreate()
    try:
        df = spark.createDataFrame(ROWS, "doc_id string, offset int, zone_id long")
        got = df.agg(F.count(F.lit(1)), F.sum(spark_row_hash(["doc_id", "offset", "zone_id"]))).first()
        assert (got[0], got[1]) == digest(ROWS)
    finally:
        spark.stop()
