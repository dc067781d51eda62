"""Tests for the second session-7 wave: streaks, TWAP, rolling corr.
The oracle is the cross-engine gate; these pin semantic
ground truth (serial recomputation in Python) and the scale-relevant
invariants (window exactness)."""

from __future__ import annotations

from collections import defaultdict

from tests.conftest import SF_SMOKE


def test_streaks_match_serial_recount(spark):
    import duckdb

    from etl_for_dumdums_spark.catalog.behavior import events_activity_streaks

    rows = events_activity_streaks(spark, SF_SMOKE).collect()
    days = duckdb.sql(
        f"SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM '{SF_SMOKE}/events.parquet'"
    ).fetchall()
    per_user = defaultdict(list)
    for u, d in days:
        per_user[u].append(d)
    dist: defaultdict[int, list[int]] = defaultdict(lambda: [0, set()])
    for u, ds in per_user.items():
        ds.sort()
        run = 1
        for prev, cur in zip(ds, ds[1:]):
            if (cur - prev).days == 1:
                run += 1
            else:
                dist[run][0] += 1
                dist[run][1].add(u)
                run = 1
        dist[run][0] += 1
        dist[run][1].add(u)
    got = {r["streak_len"]: (r["n_streaks"], r["n_users"]) for r in rows}
    expect = {k: (v[0], len(v[1])) for k, v in dist.items()}
    assert got == expect


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
