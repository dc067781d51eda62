import math
import random
import re

import pandas as pd
from pyspark.sql import functions as F

from etl_for_dumdums_spark.dashboard import (
    autocorrelation,
    melt,
    normalize_to_first,
    pivot_with_margins,
    value_counts,
    weighted_mean,
)


def test_pivot_with_margins(spark):
    df = spark.createDataFrame(
        [("alice", "c1", 2.0), ("alice", "c2", 3.0), ("bob", "c1", 5.0)],
        ["who", "cycle", "points"],
    )
    out = pivot_with_margins(df, "who", "cycle", "points", ["c1", "c2"]).collect()
    rows = {r["who"]: (r["c1"], r["c2"], r["row_total"]) for r in out}
    assert rows["alice"] == (2.0, 3.0, 5.0)
    assert rows["bob"] == (5.0, 0.0, 5.0)  # zero-filled
    assert rows["Total"] == (7.0, 3.0, 10.0)  # margins row


def test_melt_roundtrip(spark):
    df = spark.createDataFrame([(1, 10.0, 20.0)], ["id", "a", "b"])
    out = melt(df, ["id"], ["a", "b"]).collect()
    assert sorted((r["metric"], r["value"]) for r in out) == [("a", 10.0), ("b", 20.0)]


def test_normalize_to_first(spark):
    df = spark.createDataFrame(
        [("t", 1, 50.0), ("t", 2, 75.0), ("t", 3, 100.0)], ["k", "seq", "v"]
    )
    out = {r["seq"]: r["indexed"] for r in normalize_to_first(df, "k", "seq", "v").collect()}
    assert out == {1: 100.0, 2: 150.0, 3: 200.0}


def test_weighted_mean(spark):
    df = spark.createDataFrame(
        [("k", 1.0, 1), ("k", 0.0, 3)], ["g", "score", "n"]
    )
    row = weighted_mean(df, ["g"], "score", "n").collect()[0]
    assert row["weighted_score"] == 0.25 and row["total_weight"] == 4


def test_autocorrelation_detects_alternation(spark):
    # perfectly alternating series: ACF(1) = -1, ACF(2) = +1
    rows = [(i, float(i % 2)) for i in range(40)]
    df = spark.createDataFrame(rows, ["t", "v"])
    out = {r["lag"]: r for r in autocorrelation(df, "t", "v", max_lag=3).collect()}
    assert math.isclose(out[1]["autocorr"], -1.0, abs_tol=1e-6)
    assert math.isclose(out[2]["autocorr"], 1.0, abs_tol=1e-6)
    assert out[1]["significant"] and out[2]["significant"]


def test_value_counts(spark):
    df = spark.createDataFrame([("x",), ("x",), ("y",)], ["c"])
    out = [(r["c"], r["count"]) for r in value_counts(df, "c").collect()]
    assert out == [("x", 2), ("y", 1)]


def _pearson(pairs):
    n = len(pairs)
    mx = sum(x for x, _ in pairs) / n
    my = sum(y for _, y in pairs) / n
    sxy = sum((x - mx) * (y - my) for x, y in pairs)
    sxx = sum((x - mx) ** 2 for x, _ in pairs)
    syy = sum((y - my) ** 2 for _, y in pairs)
    return sxy / math.sqrt(sxx * syy)


def test_autocorrelation_is_one_window_and_matches_per_lag(spark):
    rng = random.Random(7)
    series = [None if rng.random() < 0.15 else rng.gauss(0.0, 1.0) for _ in range(80)]
    rows = [(t, v) for t, v in enumerate(series)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "t int, v double")
    acf = autocorrelation(df, "t", "v", max_lag=3)
    out = acf.collect()

    # the adaptive plan prints the final plan first, then the initial one
    plan = acf._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert len(re.findall(r"\bWindow \[", plan)) == 1, plan
    assert [(f.name, f.dataType.simpleString()) for f in acf.schema.fields] == [
        ("lag", "int"),
        ("autocorr", "double"),
        ("n_pairs", "bigint"),
        ("significant", "boolean"),
    ]
    assert [r["lag"] for r in out] == [1, 2, 3]
    s = pd.Series(series, dtype="float64")
    for r in out:
        k = r["lag"]
        # each lag alone: corr over the pairs with both values present, and
        # n_pairs counts exactly those pairs, as pandas' autocorr does
        lagged = list(zip(series[k:], series[:-k]))
        ref = _pearson([(x, y) for x, y in lagged if x is not None and y is not None])
        n = int((s.notna() & s.shift(k).notna()).sum())
        # the series has NULLs with a present lag, so rows with a lag only
        # would count more
        assert n < sum(y is not None for _, y in lagged)
        assert math.isclose(r["autocorr"], ref, abs_tol=5e-5 + 1e-12), (k, r, ref)
        assert math.isclose(r["autocorr"], s.autocorr(k), abs_tol=5e-5 + 1e-12), (k, r)
        assert r["n_pairs"] == n
        assert r["significant"] == (abs(r["autocorr"]) > 1.96 / math.sqrt(n))
