"""Tests for catalog/advanced.py queries that pin a property beyond the
DuckDB oracle: a serial recount over the same parquet input."""

from __future__ import annotations

from collections import defaultdict

import duckdb

from tests.conftest import SF_SMOKE


def test_rank_distributions_match_serial(spark):
    from etl_for_dumdums_spark.catalog.advanced import win_rank_distributions

    cust = duckdb.sql(
        f"""SELECT c_mktsegment, c_acctbal, c_custkey
            FROM '{SF_SMOKE}/customer.parquet'
            ORDER BY c_mktsegment, c_acctbal, c_custkey"""
    ).fetchall()
    by_seg = defaultdict(list)
    for seg, bal, key in cust:
        by_seg[seg].append((bal, key))
    rows = {r["segment"]: r for r in win_rank_distributions(spark, SF_SMOKE).collect()}
    assert set(rows) == set(by_seg)
    for seg, vals in by_seg.items():
        n = len(vals)
        bals = [b for b, _ in vals]
        med_idx = (n + 1) // 2 - 1  # row_number (n+1) DIV 2, 0-based
        med_bal = bals[med_idx]
        rnk = bals.index(med_bal) + 1  # rank = first position of the peer group
        n_le = len([b for b in bals if b <= med_bal])
        r = rows[seg]
        assert r["n_customers"] == n
        assert r["n_distinct_bal"] == len(set(bals))
        assert r["max_rank"] == bals.index(max(bals)) + 1
        assert r["median_pct_rank_ppm"] == (rnk - 1) * 1_000_000 // (n - 1)
        assert r["median_cume_ppm"] == n_le * 1_000_000 // n
