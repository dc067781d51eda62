"""Interpolation invariants for catalog/timeseries.py (values are
cross-checked against DuckDB by the oracle; these pin the semantics)."""

from __future__ import annotations

from etl_for_dumdums_spark.catalog.timeseries import ts_gapfill_interpolate
from tests.conftest import SF_SMOKE


def test_gapfill_dense_and_bounded(spark):
    rows = ts_gapfill_interpolate(spark, SF_SMOKE).collect()
    by_region: dict[str, list] = {}
    for r in rows:
        by_region.setdefault(r["region"], []).append(r)
    assert len(by_region) == 5
    for region, series in by_region.items():
        assert len(series) == 365, region  # dense spine, no missing days
        days = [r["day"] for r in series]
        assert days == sorted(days)
        assert any(r["is_gap"] == 1 for r in series), "no gaps — vacuous"
        # every interpolated value lies within [min, max] of observed values
        observed = [r["revenue_filled"] for r in series if r["is_gap"] == 0]
        lo, hi = min(observed), max(observed)
        for r in series:
            if r["is_gap"] == 1:
                assert lo <= r["revenue_filled"] <= hi, (region, r["day"])
                assert r["n_orders"] == 0


def test_gap_runs_are_monotone_between_anchors(spark):
    """Inside one gap run, linear interpolation must be monotone between
    its two anchors."""
    rows = ts_gapfill_interpolate(spark, SF_SMOKE).collect()
    series: dict[str, list] = {}
    for r in rows:
        series.setdefault(r["region"], []).append(r)
    checked = 0
    for region, rs in series.items():
        i = 0
        while i < len(rs):
            if rs[i]["is_gap"] == 1 and 0 < i:
                j = i
                while j < len(rs) and rs[j]["is_gap"] == 1:
                    j += 1
                if j < len(rs):  # interior run with both anchors
                    a, b = rs[i - 1]["revenue_filled"], rs[j]["revenue_filled"]
                    vals = [rs[k]["revenue_filled"] for k in range(i, j)]
                    for v in vals:
                        assert min(a, b) - 1e-6 <= v <= max(a, b) + 1e-6
                    if len(vals) > 1:
                        diffs = [vals[k + 1] - vals[k] for k in range(len(vals) - 1)]
                        assert all(d >= -1e-6 for d in diffs) or all(
                            d <= 1e-6 for d in diffs
                        )
                    checked += 1
                i = j
            else:
                i += 1
    assert checked > 0


def test_changepoint_cusum_empty_orders_matches_oracle(spark, tmp_path):
    """Zero orders: the day count is 0 (DuckDB's count(*)), not NULL, and
    every other column is NULL in both engines, with the same types."""
    import os

    import duckdb
    import pyarrow.parquet as pq

    from etl_for_dumdums_spark.catalog import (
        EXTRA_ORACLE,
        EXTRA_QUERIES,
        TABLE_NAMES,
        load_all,
    )

    load_all()
    sf = tmp_path / "sf_empty_orders"
    sf.mkdir()
    for name in TABLE_NAMES:
        if name != "orders":
            os.symlink(f"{SF_SMOKE}/{name}.parquet", sf / f"{name}.parquet")
    schema = pq.read_schema(f"{SF_SMOKE}/orders.parquet")
    pq.write_table(schema.empty_table(), sf / "orders.parquet")

    sdf = EXTRA_QUERIES["ts_changepoint_cusum"](spark, str(sf))
    got = [r.asDict() for r in sdf.collect()]
    spark.catalog.clearCache()

    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf}/{name}.parquet')"
        )
    res = con.execute(EXTRA_ORACLE["ts_changepoint_cusum"])
    cols = [d[0] for d in res.description]
    want = [dict(zip(cols, row)) for row in res.fetchall()]
    con.close()

    assert want == [
        {
            "n_days": 0,
            "total_cents": None,
            "max_abs_ns": None,
            "cusum_ratio": None,
            "changepoint_day": None,
            "regime": "above_mean",
        }
    ]
    assert got == want
    assert sdf.schema["n_days"].dataType.simpleString() == "bigint"
