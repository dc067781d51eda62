"""Distributed exact quantiles (counting selection) must equal Spark's
buffer-based exact percentile on 2-decimal money data."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from etl_for_dumdums_spark.operators.quantile import exact_quantiles_cents

from .conftest import SF_SMOKE


def test_exact_quantile_matches_percentile(spark):
    from etl_for_dumdums_spark.catalog import Tables

    li = Tables(spark, SF_SMOKE).lineitem
    qs = (0.05, 0.5, 0.95, 0.99)
    for q, got in zip(qs, exact_quantiles_cents(li, "l_extendedprice", qs)):
        want = li.agg(F.percentile("l_extendedprice", F.lit(q))).collect()[0][0]
        assert math.isclose(got, want, rel_tol=0, abs_tol=1e-9), (q, got, want)


def test_exact_quantile_edge_quantiles(spark):
    from etl_for_dumdums_spark.catalog import Tables

    li = Tables(spark, SF_SMOKE).lineitem
    mn, mx = li.agg(F.min("l_extendedprice"), F.max("l_extendedprice")).collect()[0]
    lo, hi = exact_quantiles_cents(li, "l_extendedprice", (0.0, 1.0))
    assert lo == mn
    assert hi == mx
