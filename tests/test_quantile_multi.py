"""exact_quantiles_cents (lockstep multi-probe selection) must equal Spark's
exact percentile, including the interpolated and the exact-rank cases, and
must stay exact when its driver histogram exceeds the cap."""

import math

import pytest
from pyspark.sql import functions as F

from etl_for_dumdums_spark.operators import quantile
from etl_for_dumdums_spark.operators.quantile import exact_quantiles_cents


def sorted_cents_quantiles(vals, qs):
    """The selection and interpolation formula of exact_quantiles_cents,
    over the sorted integer cents in plain Python."""
    cs = sorted(round(v * 100) for v in vals)
    n = len(cs)
    out = []
    for q in qs:
        h = (n - 1) * q + 1
        k_lo = int(math.floor(h))
        frac = h - k_lo
        v_lo = cs[k_lo - 1]
        if frac == 0.0 or k_lo >= n:
            out.append(v_lo / 100.0)
        else:
            out.append((v_lo + frac * (cs[k_lo] - v_lo)) / 100.0)
    return out


def _percentiles(df, qs):
    return list(df.agg(*[F.percentile("price", F.lit(q)) for q in qs]).collect()[0])


def test_multi_matches_percentile(spark):
    vals = [round(1.0 + 0.07 * i, 2) for i in range(101)] + [3.14, 3.14, 99.99]
    df = spark.createDataFrame([(v,) for v in vals], "price double")
    qs = (0.0, 0.25, 0.5, 0.9, 0.99, 1.0)
    multi = exact_quantiles_cents(df, "price", qs)
    for q, got, ref in zip(qs, multi, _percentiles(df, qs)):
        assert got == pytest.approx(ref, abs=1e-9), q


def test_histogram_over_cap_falls_back_to_bisection(spark, monkeypatch):
    """A histogram larger than _HIST_CAP is not collected: every order
    statistic comes from counting bisection instead, with the same values.
    Two cents of range keep each bisection to one count scan."""
    vals = [1.00] * 12 + [1.01] * 12
    df = spark.createDataFrame([(v,) for v in vals], "price double")
    qs = (0.0, 0.5)  # an exact rank and an interpolated one
    bisected = []
    kth = quantile._kth_smallest_cents

    def spy(df_, col, k, lo, hi):
        bisected.append(k)
        return kth(df_, col, k, lo, hi)

    monkeypatch.setattr(quantile, "_kth_smallest_cents", spy)
    uncapped = exact_quantiles_cents(df, "price", qs)
    assert bisected == []
    monkeypatch.setattr(quantile, "_HIST_CAP", 0)
    capped = exact_quantiles_cents(df, "price", qs)
    assert sorted(bisected) == [1, 12, 13]  # every order statistic of qs
    assert capped == uncapped == sorted_cents_quantiles(vals, qs)
    for q, got, ref in zip(qs, capped, _percentiles(df, qs)):
        assert got == pytest.approx(ref, abs=1e-9), q


def test_multi_empty(spark):
    df = spark.createDataFrame([], "price double")
    out = exact_quantiles_cents(df, "price", (0.5, 0.9))
    assert all(math.isnan(v) for v in out)
