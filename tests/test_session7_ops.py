"""Tests for the session-7 catalog additions.

The DuckDB oracle is the primary gate; these pin the invariants it can't
see: the chi-square statistic against a closed-form recomputation,
RI-audit ground truth on the synthetic schema (zero orphans by
construction), BPE pair-count conservation, Benford share accounting, and
the correlation matrix against numpy.
"""

from __future__ import annotations

import math

from tests.conftest import SF_SMOKE


def test_chisq_matches_closed_form(spark):
    """Recompute chi-square from the raw contingency table in Python."""
    import duckdb

    from etl_for_dumdums_spark.catalog.stats import _BAND_WIDTH, stats_chisq_cramers

    row = stats_chisq_cramers(spark, SF_SMOKE).collect()[0]
    cells = duckdb.sql(
        f"""
        SELECT event_type,
               CAST(json_extract_string(props, '$.k') AS BIGINT) // {_BAND_WIDTH} AS band,
               count(*) AS o
        FROM '{SF_SMOKE}/events.parquet'
        WHERE json_extract_string(props, '$.k') IS NOT NULL
        GROUP BY 1, 2
        """
    ).fetchall()
    n = sum(o for _, _, o in cells)
    r = {}
    c = {}
    for et, b, o in cells:
        r[et] = r.get(et, 0) + o
        c[b] = c.get(b, 0) + o
    chi2 = 0.0
    for et, b, o in cells:
        e = r[et] * c[b] / n
        chi2 += round((o - e) ** 2 / e * 1e6) / 1e6
    assert row["n_events"] == n
    assert row["df"] == (len(r) - 1) * (len(c) - 1)
    assert abs(row["chi2"] - chi2) < 1e-3
    v = math.sqrt(chi2 / (n * min(len(r) - 1, len(c) - 1)))
    assert abs(row["cramers_v"] - v) < 1e-3
    assert 0.0 <= row["cramers_v"] <= 1.0


def test_ri_orphans_ground_truth(spark):
    """The synthetic TPC-H-ish schema is referentially intact: 0 orphans."""
    from etl_for_dumdums_spark.catalog.advanced import _FK_EDGES, ops_ri_orphans

    rows = ops_ri_orphans(spark, SF_SMOKE).collect()
    assert len(rows) == len(_FK_EDGES)
    for r in rows:
        assert r["n_orphan_rows"] == 0, r["edge"]
        assert r["n_orphan_keys"] == 0, r["edge"]
        assert 0 < r["n_distinct_fk"] <= r["n_rows"]


def test_ri_orphans_detects_planted_orphan(spark):
    """Plant an orphan FK and make sure the audit shape actually counts it."""
    from pyspark.sql import functions as F

    nation = spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
    region = spark.read.parquet(f"{SF_SMOKE}/region.parquet")
    bad = nation.withColumn(
        "n_regionkey",
        F.when(F.col("n_nationkey") == 0, F.lit(9999)).otherwise(
            F.col("n_regionkey")
        ),
    )
    keys = bad.groupBy("n_regionkey").agg(F.count("*").alias("cnt"))
    joined = keys.join(
        region.select(F.col("r_regionkey").alias("__pk")),
        F.col("n_regionkey") == F.col("__pk"),
        "left",
    )
    got = joined.agg(
        F.sum(F.when(F.col("__pk").isNull(), F.col("cnt")).otherwise(0)).alias(
            "orphans"
        )
    ).collect()[0]["orphans"]
    assert got == 1


def test_bpe_pairs_conservation(spark):
    """Top-pair counts must agree with a Python recount on the same corpus."""
    import re
    from collections import Counter

    import duckdb

    from etl_for_dumdums_spark.catalog.textops import _BPE_TOPN, text_bpe_pairs

    rows = text_bpe_pairs(spark, SF_SMOKE).collect()
    assert len(rows) == _BPE_TOPN
    docs = duckdb.sql(f"SELECT text FROM '{SF_SMOKE}/documents.parquet'").fetchall()
    counts: Counter[str] = Counter()
    total = 0
    for (text,) in docs:
        for w in re.findall(r"[a-z]+", text.lower()):
            for i in range(len(w) - 1):
                counts[w[i : i + 2]] += 1
                total += 1
    expect = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:_BPE_TOPN]
    got = [(r["pair"], r["n"]) for r in rows]
    assert got == expect
    for r in rows:
        assert r["share_ppm"] == r["n"] * 1_000_000 // total


def test_benford_shares_account_for_all_orders(spark):
    from etl_for_dumdums_spark.catalog.stats import _BENFORD_PPM, stats_benford_digits

    rows = stats_benford_digits(spark, SF_SMOKE).collect()
    n_orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").count()
    assert sum(r["n"] for r in rows) == n_orders
    for r in rows:
        assert 1 <= r["digit"] <= 9
        assert r["benford_ppm"] == _BENFORD_PPM[r["digit"]]
        assert r["dev_ppm"] == r["share_ppm"] - r["benford_ppm"]


def test_corr_matrix_matches_numpy(spark):
    import duckdb
    import numpy as np

    from etl_for_dumdums_spark.catalog.aggregations import (
        _CORR_PAIRS,
        agg_corr_matrix,
    )

    rows = agg_corr_matrix(spark, SF_SMOKE).collect()
    assert len(rows) == len(_CORR_PAIRS)
    data = duckdb.sql(
        f"SELECT l_quantity, l_extendedprice, l_discount, l_tax "
        f"FROM '{SF_SMOKE}/lineitem.parquet'"
    ).fetchnumpy()
    for r in rows:
        x = np.asarray(data[r["measure_x"]], dtype=np.float64)
        y = np.asarray(data[r["measure_y"]], dtype=np.float64)
        expect = float(np.corrcoef(x, y)[0, 1])
        assert abs(r["corr"] - expect) < 1e-3, (r["measure_x"], r["measure_y"])
        assert r["n"] == len(x)
