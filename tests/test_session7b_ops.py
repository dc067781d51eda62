"""Tests for the second session-7 wave: TWAP, rolling corr.
The oracle is the cross-engine gate; these pin semantic
ground truth (serial recomputation in Python) and the scale-relevant
invariants (window exactness)."""

from __future__ import annotations

from tests.conftest import SF_SMOKE


def test_twap_differs_from_plain_avg_and_is_bounded(spark):
    from etl_for_dumdums_spark.catalog.timeseries import ts_time_weighted_avg

    rows = ts_time_weighted_avg(spark, SF_SMOKE).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["n_intervals"] > 0
        # both means must land inside the observed value range
        assert 0.0 <= r["twap"] <= 561.0
        assert 0.0 <= r["plain_avg"] <= 561.0


def test_rolling_corr_matches_numpy_window(spark):
    import numpy as np

    from etl_for_dumdums_spark.catalog.timeseries import (
        _ROLL_CORR_DAYS,
        ts_rolling_corr,
    )

    rows = ts_rolling_corr(spark, SF_SMOKE).collect()
    x = np.array([r["rev_k"] for r in rows], dtype=np.float64)
    y = np.array([r["n_orders"] for r in rows], dtype=np.float64)
    for i, r in enumerate(rows):
        if r["roll_corr"] is None:
            continue
        lo = i - _ROLL_CORR_DAYS + 1
        assert lo >= 0
        c = np.corrcoef(x[lo : i + 1], y[lo : i + 1])[0, 1]
        assert abs(r["roll_corr"] - c) < 1e-3
        assert -1.0 <= r["roll_corr"] <= 1.0
