"""Tests for the session-9 wave: exact KS/Mann-Whitney, Gini concentration,
and CUSUM changepoint — each pinned against an independent serial-Python
reimplementation of the textbook definition (the DuckDB oracle is checked
separately by check_oracle; these guard against both engines agreeing on the
wrong formula)."""

from __future__ import annotations

import math

import duckdb

from tests.conftest import SF_SMOKE


def _orders():
    return duckdb.sql(
        f"SELECT o_custkey, o_orderpriority, o_totalprice, CAST(o_orderdate AS DATE) "
        f"FROM '{SF_SMOKE}/orders.parquet' ORDER BY o_orderkey"
    ).fetchall()


def test_ks_mannwhitney_matches_serial(spark):
    from etl_for_dumdums_spark.catalog.stats import stats_ks_mannwhitney

    s1, s2 = [], []
    for _, prio, price, _ in _orders():
        cents = round(price * 100)
        if prio == "1-URGENT":
            s1.append(cents)
        elif prio == "5-LOW":
            s2.append(cents)
    n1, n2 = len(s1), len(s2)
    values = sorted(set(s1) | set(s2))
    # serial empirical CDFs on the pooled value grid
    c1 = c2 = 0
    best_d, best_at = -1, None
    from collections import Counter

    cnt1, cnt2 = Counter(s1), Counter(s2)
    r1x2 = 0
    tie_cubes = 0
    below = 0
    for v in values:
        c1 += cnt1[v]
        c2 += cnt2[v]
        d = abs(c1 * n2 - c2 * n1)
        if d > best_d:
            best_d, best_at = d, v
        t = cnt1[v] + cnt2[v]
        r1x2 += cnt1[v] * (2 * below + t + 1)
        tie_cubes += t**3 - t
        below += t
    u1x2 = r1x2 - n1 * (n1 + 1)
    n = n1 + n2
    z = ((u1x2 - n1 * n2) / (2 * math.sqrt((n1 * n2 / 12.0) * ((n + 1) - tie_cubes / (n * (n - 1.0))))))

    row = stats_ks_mannwhitney(spark, SF_SMOKE).collect()[0]
    assert row["n1"] == n1 and row["n2"] == n2
    assert row["ks_d_num"] == best_d
    assert row["ks_ppm"] == best_d * 1_000_000 // (n1 * n2)
    assert row["ks_at_price"] == round(best_at / 100.0, 2)
    assert row["r1_x2"] == r1x2
    assert row["u1_x2"] == u1x2
    assert row["u2_x2"] == 2 * n1 * n2 - u1x2
    assert row["tie_cubes"] == tie_cubes
    assert abs(row["z_mwu"] - z) < 1e-3


def test_gini_matches_serial(spark):
    from etl_for_dumdums_spark.catalog.stats import agg_gini_concentration

    rev = {}
    for ck, _, price, _ in _orders():
        rev[ck] = rev.get(ck, 0) + round(price * 100)
    xs = sorted(rev.items(), key=lambda kv: (kv[1], kv[0]))
    n = len(xs)
    t = sum(v for _, v in xs)
    gnum = sum((2 * (i + 1) - n - 1) * v for i, (_, v) in enumerate(xs))
    s10 = sum(v for _, v in xs[n - n // 10 :])
    s1 = sum(v for _, v in xs[n - n // 100 :])

    row = agg_gini_concentration(spark, SF_SMOKE).collect()[0]
    assert row["n_customers"] == n
    assert row["total_cents"] == t
    assert row["gini"] == round(gnum / (float(n) * float(t)), 4)
    assert row["top10_share"] == round(s10 / (1.0 * t), 4)
    assert row["top1_share"] == round(s1 / (1.0 * t), 4)
    # sanity: Gini of a nonuniform positive distribution sits strictly in (0,1)
    assert 0.0 < row["gini"] < 1.0


def test_cusum_matches_serial(spark):
    from etl_for_dumdums_spark.catalog.timeseries import ts_changepoint_cusum

    daily = {}
    for _, _, price, day in _orders():
        daily[day] = daily.get(day, 0) + round(price * 100)
    days = sorted(daily)
    n, t = len(days), sum(daily.values())
    cum = 0
    best_m, best_day, best_ns = -1, None, None
    for k, d in enumerate(days, start=1):
        cum += daily[d]
        ns = n * cum - k * t
        if abs(ns) > best_m:
            best_m, best_day, best_ns = abs(ns), d, ns

    row = ts_changepoint_cusum(spark, SF_SMOKE).collect()[0]
    assert row["n_days"] == n
    assert row["total_cents"] == t
    assert row["max_abs_ns"] == best_m
    assert row["cusum_ratio"] == round(best_m / (float(n) * float(t)), 4)
    assert row["changepoint_day"] == best_day
    assert row["regime"] == ("below_mean" if best_ns < 0 else "above_mean")


def test_ranged_prefix_matches_serial_window(spark):
    """The shared rank/prefix helper must be bit-identical to the serial rule
    for an adversarial partition count (more partitions than rows included)."""
    from etl_for_dumdums_spark.operators.ranked import ranged_prefix

    rows = [(i % 7, i, (i * 37) % 100) for i in range(50)]
    df = spark.createDataFrame(rows, "k long, i long, x long")
    out, totals = ranged_prefix(spark, df, ["k", "i"], ["x"], nparts=16)
    got = {(r["k"], r["i"]): (r["_r"], r["cum_x"]) for r in out.collect()}
    srt = sorted(rows, key=lambda r: (r[0], r[1]))
    cum = 0
    for rank, (k, i, x) in enumerate(srt, start=1):
        cum += x
        assert got[(k, i)] == (rank, cum)
    assert totals["_n"] == 50 and totals["x"] == sum(r[2] for r in rows)


def test_weighted_median_matches_serial(spark):
    from etl_for_dumdums_spark.catalog.stats import agg_weighted_median

    li = duckdb.sql(
        f"SELECT CAST(round(l_extendedprice*100) AS BIGINT), CAST(l_quantity AS BIGINT) "
        f"FROM '{SF_SMOKE}/lineitem.parquet'"
    ).fetchall()
    agg = {}
    for cents, w in li:
        agg[cents] = agg.get(cents, 0) + w
    tw = sum(agg.values())

    def lower_q(num, den):
        cum = 0
        for c in sorted(agg):
            cum += agg[c]
            if cum * den >= num * tw:
                return round(c / 100.0, 2)

    row = agg_weighted_median(spark, SF_SMOKE).collect()[0]
    assert row["total_weight"] == tw
    assert row["p25_weighted"] == lower_q(1, 4)
    assert row["median_weighted"] == lower_q(1, 2)
    assert row["p75_weighted"] == lower_q(3, 4)


def test_kmeans_lloyd_matches_serial(spark):
    """Full serial replay of the exact-integer Lloyd iteration."""
    from etl_for_dumdums_spark.catalog.similarity import _KM_K, embed_kmeans_lloyd

    vecs = {
        vid: v
        for vid, v in duckdb.sql(
            f"SELECT vec_id, list_transform(embedding, "
            f"x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) "
            f"FROM '{SF_SMOKE}/embeddings.parquet'"
        ).fetchall()
    }

    def assign(cents):
        out = {}
        for vid, v in vecs.items():
            best = min(
                (sum(c * c for c in cv) - 2 * sum(a * b for a, b in zip(v, cv)), cid)
                for cid, cv in cents.items()
            )
            out[vid] = best[1]
        return out

    c0 = {cid: vecs[cid] for cid in range(_KM_K)}
    a0 = assign(c0)
    dims = len(next(iter(vecs.values())))
    c1 = {}
    for cid in range(_KM_K):
        members = [vecs[vid] for vid, c in a0.items() if c == cid]
        if members:
            # SQL div / DuckDB // truncate toward zero; Python // floors
            tdiv = lambda s, n: s // n if s >= 0 else -((-s) // n)  # noqa: E731
            c1[cid] = [
                tdiv(sum(m[j] for m in members), len(members)) for j in range(dims)
            ]
        else:
            c1[cid] = None
    a1 = assign({c: v for c, v in c1.items() if v is not None})

    rows = {r["centroid_id"]: r for r in embed_kmeans_lloyd(spark, SF_SMOKE).collect()}
    assert set(rows) == set(range(_KM_K))
    moved_total = 0
    for cid in range(_KM_K):
        n_init = sum(1 for c in a0.values() if c == cid)
        n_upd = sum(1 for c in a1.values() if c == cid)
        moved = sum(1 for vid in vecs if a0[vid] == cid and a1[vid] != cid)
        shift = (
            sum(abs(x - y) for x, y in zip(vecs[cid], c1[cid])) if c1[cid] else 0
        )
        r = rows[cid]
        assert (r["n_init"], r["n_updated"], r["n_moved_away"]) == (
            n_init,
            n_upd,
            moved,
        )
        assert r["centroid_l1_shift"] == shift
        moved_total += moved
    # the update must actually move centroids and reassign some vectors
    assert any(rows[c]["centroid_l1_shift"] > 0 for c in rows)


def test_gini_impurity_matches_serial(spark):
    from etl_for_dumdums_spark.catalog.aggregations import agg_gini_impurity

    rows = {r["column_name"]: r for r in agg_gini_impurity(spark, SF_SMOKE).collect()}
    counts = dict(
        duckdb.sql(
            f"SELECT event_type, count(*) FROM '{SF_SMOKE}/events.parquet' GROUP BY 1"
        ).fetchall()
    )
    n = sum(counts.values())
    ppm = (n * n - sum(c * c for c in counts.values())) * 1_000_000 // (n * n)
    r = rows["events.event_type"]
    assert (r["n_rows"], r["n_categories"], r["modal_n"]) == (
        n,
        len(counts),
        max(counts.values()),
    )
    assert r["gini_impurity_ppm"] == ppm
    # near-uniform 5-way split sits close to 1 - 1/5 = 800000 ppm
    assert 780000 < ppm < 800000


def test_null_safe_join_keeps_null_keys(spark):
    from etl_for_dumdums_spark.catalog.joins import join_null_safe

    rows = {r["label"]: r for r in join_null_safe(spark, SF_SMOKE).collect()}
    n_err = duckdb.sql(
        f"SELECT count(*) FROM '{SF_SMOKE}/events.parquet' WHERE event_type = 'error'"
    ).fetchone()[0]
    # NULL keys match ONLY under null-safe equality
    r = rows["unmapped-null"]
    assert r["n_rows_nullsafe"] == n_err > 0
    assert r["n_rows_regular"] == 0
    # non-null labels are identical under both semantics
    assert rows["revenue"]["n_rows_nullsafe"] == rows["revenue"]["n_rows_regular"] > 0


def test_decayed_popularity_matches_serial(spark):
    from datetime import date

    from etl_for_dumdums_spark.catalog.aggregations import (
        _DECAY_CUTOFF,
        agg_decayed_popularity,
    )

    cutoff = date.fromisoformat(_DECAY_CUTOFF)
    evs = duckdb.sql(
        f"SELECT event_type, CAST(ts AS DATE) FROM '{SF_SMOKE}/events.parquet'"
    ).fetchall()
    agg = {}
    for et, d in evs:
        age = (cutoff - d).days
        wt = 1_000_000 >> min(max(age, 0) // 7, 62)
        n, last7, dec = agg.get(et, (0, 0, 0))
        agg[et] = (n + 1, last7 + (1 if age < 7 else 0), dec + wt)
    rows = {r["event_type"]: r for r in agg_decayed_popularity(spark, SF_SMOKE).collect()}
    assert set(rows) == set(agg)
    for et, (n, last7, dec) in agg.items():
        r = rows[et]
        assert (r["n_events"], r["n_last_7d"], r["decayed_millionths"]) == (n, last7, dec)
        assert r["avg_weight_millionths"] == dec // n
    # decay must actually bite: avg weight strictly below the undecayed 1e6
    assert all(r["avg_weight_millionths"] < 1_000_000 for r in rows.values())


def test_multiprobe_recall_dominates_single_probe(spark):
    """9-probe recall must dominate single-probe recall per query (the probe
    set is a superset), and the single-probe column must equal the existing
    sim_ann_recall measurement."""
    from etl_for_dumdums_spark.catalog.similarity import (
        sim_ann_recall,
        sim_lsh_multiprobe,
    )

    mp = {r["query_id"]: r for r in sim_lsh_multiprobe(spark, SF_SMOKE).collect()}
    ar = {r["query_id"]: r for r in sim_ann_recall(spark, SF_SMOKE).collect()}
    assert set(mp) == set(ar)
    for qid, r in mp.items():
        assert r["n_cand_9"] >= r["n_cand_1"]
        assert r["recall_9probe_pct"] >= r["recall_1probe_pct"]
        assert r["recall_1probe_pct"] == ar[qid]["recall_pct"]
    # the extra probes must actually buy recall somewhere (non-vacuous)
    assert any(
        r["recall_9probe_pct"] > r["recall_1probe_pct"] for r in mp.values()
    )


def test_stl_decompose_matches_serial(spark):
    from datetime import date

    from etl_for_dumdums_spark.catalog.timeseries import (
        _STL_ANCHOR,
        ts_stl_decompose,
    )

    tdiv = lambda s, n: s // n if s >= 0 else -((-s) // n)  # noqa: E731
    daily = {}
    for _, _, price, day in _orders():
        daily[day] = daily.get(day, 0) + round(price * 100)
    days = sorted(daily)
    anchor = date.fromisoformat(_STL_ANCHOR)
    det = []  # (dow, detrended)
    for i, d in enumerate(days):
        lo, hi = i - 3, i + 3
        if lo < 0 or hi >= len(days):
            continue
        s7 = sum(daily[days[j]] for j in range(lo, hi + 1))
        det.append(((d - anchor).days % 7, daily[d] - tdiv(s7, 7)))
    seas, counts = {}, {}
    for dow, v in det:
        seas[dow] = seas.get(dow, 0) + v
        counts[dow] = counts.get(dow, 0) + 1
    seas = {dow: tdiv(s, counts[dow]) for dow, s in seas.items()}

    got = {r["dow"]: r for r in ts_stl_decompose(spark, SF_SMOKE).collect()}
    assert set(got) == set(seas)
    for dow in seas:
        rs = [v - seas[dow] for dw, v in det if dw == dow]
        ds = [v for dw, v in det if dw == dow]
        r = got[dow]
        assert r["n_days"] == counts[dow]
        assert r["seasonal_cents"] == seas[dow]
        assert r["mean_abs_resid"] == tdiv(sum(abs(x) for x in rs), counts[dow])
        assert r["max_abs_resid"] == max(abs(x) for x in rs)
        assert r["resid_energy_ppm"] == sum(x * x for x in rs) * 1_000_000 // sum(
            x * x for x in ds
        )
    # the decomposition must explain something: residual energy < total
    assert all(r["resid_energy_ppm"] < 1_000_000 for r in got.values())


def test_except_intersect_matches_serial(spark):
    from etl_for_dumdums_spark.catalog.setops import setop_except_intersect

    rows = duckdb.sql(
        f"SELECT DISTINCT o_custkey, year(o_orderdate) FROM '{SF_SMOKE}/orders.parquet' "
        f"WHERE year(o_orderdate) IN (1996, 1997)"
    ).fetchall()
    y96 = {k for k, y in rows if y == 1996}
    y97 = {k for k, y in rows if y == 1997}
    r = setop_except_intersect(spark, SF_SMOKE).collect()[0]
    assert r["n_1996"] == len(y96) and r["n_1997"] == len(y97)
    assert r["n_retained"] == len(y96 & y97)
    assert r["n_churned"] == len(y96 - y97)
    assert r["n_new"] == len(y97 - y96)
    assert r["first_churned_key"] == min(y96 - y97)
    # non-vacuous: all three partitions populated
    assert r["n_retained"] > 0 and r["n_churned"] > 0 and r["n_new"] > 0


def test_apportion_budget_exact_hamilton(spark):
    from etl_for_dumdums_spark.catalog.sampling import (
        _APPORTION_BUDGET,
        mix_apportion_budget,
    )

    counts = dict(
        duckdb.sql(
            f"SELECT lang, count(*) FROM '{SF_SMOKE}/documents.parquet' GROUP BY 1"
        ).fetchall()
    )
    W = sum(counts.values())
    B = _APPORTION_BUDGET
    base = {lg: B * n // W for lg, n in counts.items()}
    rem = {lg: B * n % W for lg, n in counts.items()}
    leftover = B - sum(base.values())
    order = sorted(counts, key=lambda lg: (-rem[lg], lg))
    extra = {lg: (1 if i < leftover else 0) for i, lg in enumerate(order)}

    rows = {r["lang"]: r for r in mix_apportion_budget(spark, SF_SMOKE).collect()}
    assert set(rows) == set(counts)
    for lg in counts:
        r = rows[lg]
        assert (r["base_quota"], r["rem"], r["extra"]) == (base[lg], rem[lg], extra[lg])
        assert r["final_quota"] == base[lg] + extra[lg]
        assert r["alloc_total"] == B  # conservation: budget exactly spent
    if leftover == 0:
        # the budget divided exactly at this SF — every extra must be 0
        assert all(r["extra"] == 0 for r in rows.values())
    else:
        assert sum(r["extra"] for r in rows.values()) == leftover
