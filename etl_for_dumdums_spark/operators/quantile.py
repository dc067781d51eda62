"""Distributed EXACT quantiles by iterative range counting.

Spark's exact ``percentile`` aggregate buffers every value of a group in one
aggregation buffer — fine at test SF, an OOM at 100 TB. The scale-true
exact algorithm is selection by counting: binary-search the value domain,
counting rows below the probe with a full scan per iteration. log2(domain)
iterations × O(n) counting, constant memory per task, no sort, no buffer.

For k-th smallest of n doubles we search on the ORDER STATISTIC directly:
probe a value, count how many rows are <= it, narrow. Terminates because
the candidate set shrinks monotonically; on 2-decimal money columns the
domain is integer cents, so the search is exact integer bisection.

``exact_quantiles_cents`` returns the same linear-interpolated quantiles
as ``F.percentile`` / DuckDB ``quantile_cont`` (pinned by test): it selects
the floor/ceil order statistics and interpolates.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Scan 4 collects its bracket histogram to the driver, at ~430 bytes of
# Python heap per (value, count) row. Its size is rank-bounded but grows
# with n: ~4*ceil(n/100000)+3 rows per order statistic, so
# agg_quantile_counting's four order statistics over the 1000x replica's
# 600M rows need at most ~96k rows (~41 MB). Past this many rows the driver
# stops collecting and each order statistic falls back to counting
# bisection, which holds O(1) on the driver.
_HIST_CAP = 100_000


def _kth_smallest_cents(df: DataFrame, col: str, k: int, lo: int, hi: int) -> int:
    """k-th smallest (1-based) of an integer-cents column via bisection.

    Each iteration is one count aggregation (a full scan — at cluster scale
    the scan is parallel and the driver sees one number). At most
    log2(hi-lo) iterations.
    """
    while lo < hi:
        mid = (lo + hi) // 2
        n_le = df.filter(F.col(col) <= mid).count()
        if n_le >= k:
            hi = mid
        else:
            lo = mid + 1
    return lo


def _approx_brackets(
    cdf: DataFrame, ks: list[int], n: int, glo: int, ghi: int, accuracy: int = 100_000
) -> dict[int, list[int]]:
    """GUARANTEED initial [lo, hi] bisection bounds per order statistic
    from ONE percentile_approx scan. The GK sketch behind
    percentile_approx is deterministic with rank error <= n/accuracy, so
    the data values returned for probe ranks k -/+ (2*ceil(n/accuracy)+1)
    have ranks <= k resp. >= k — a certain value bracket around the k-th
    order statistic. Probes clamp to [0, 1]; a clamped side keeps the
    global bound. Exactness never rests on this: the caller re-verifies
    the counting invariant after bisection and falls back to the full
    range on any violation."""
    delta = 2 * math.ceil(n / accuracy) + 1
    probes: list[float] = []
    sides: list[tuple[int, int, bool]] = []
    for k in ks:
        plo = (k - delta) / n
        phi = (k + delta) / n
        probes.append(max(0.0, plo))
        sides.append((k, 0, plo < 0.0))
        probes.append(min(1.0, phi))
        sides.append((k, 1, phi > 1.0))
    vals = (
        cdf.agg(
            F.percentile_approx(
                "c", F.array(*[F.lit(p) for p in probes]), F.lit(accuracy)
            ).alias("v")
        )
        .collect()[0]["v"]
    )
    bounds = {k: [glo, ghi] for k in ks}
    for (k, side, clamped), v in zip(sides, vals):
        if clamped or v is None:
            continue
        if side == 0:
            bounds[k][0] = max(glo, int(v))
        else:
            bounds[k][1] = min(ghi, int(v))
    return bounds


def exact_quantiles_cents(df: DataFrame, value_col: str, qs) -> list[float]:
    """Exact linear-interpolated quantiles for SEVERAL q at once, with the
    same constant-memory counting selection — but all order statistics
    bisect in LOCKSTEP: each iteration issues ONE scan whose aggregate
    carries a conditional count per still-active probe, so the scan count
    is log2(domain), not qs x order-stats x log2(domain). At 600M rows
    that turned the 1000x oracle sweep's per-q loop (~100 scans) into
    ~25 shared scans (r7; the DuckDB twin got the same single-pass
    treatment via list-argument quantile_cont).

    r9: the initial per-order-stat bounds come from ONE percentile_approx
    scan instead of the global [min, max]. The GK sketch's deterministic
    rank-error bound (<= n/accuracy) turns probes at ranks k -/+ 2*ceil(
    n/accuracy)+1 into a GUARANTEED value bracket around the k-th order
    statistic. Because a value bracket spanning at most ~4*ceil(n/accuracy)
    +3 RANKS also contains at most that many DISTINCT values (each distinct
    value occupies >= 1 rank), the whole bisection loop collapses to TWO
    scans: one conditional count(c < lo_k) per k (the base rank below the
    bracket) and one groupBy(c) histogram over the union of brackets (a
    rank-bounded, hence constant-memory, result); the k-th smallest is a
    driver-side cumulative walk. Total scans: 4 (stats, sketch, base,
    bracket histogram) instead of the ~14 the bracketed bisection needed
    and the ~26 the full-range bisection needed — the ratio carries to any
    scale. Exactness never rests on the sketch: the walk itself verifies
    the counting invariant (base_k < k and base_k + bracket total >= k and
    the cumulative crossing), and any violation — impossible unless the
    GK bound were broken — falls back to full-range counting bisection
    for that k.
    """
    qs = list(qs)
    cents = (F.round(F.col(value_col) * 100)).cast("long")
    cdf = df.select(cents.alias("c"))
    stats = cdf.agg(
        F.count("*").alias("n"), F.min("c").alias("lo"), F.max("c").alias("hi")
    ).collect()[0]
    n, glo, ghi = stats["n"], stats["lo"], stats["hi"]
    if n == 0:
        return [math.nan] * len(qs)
    # every order statistic any quantile needs: floor rank + ceil rank
    ranks: dict[float, tuple[int, float]] = {}
    ks: set[int] = set()
    for q in qs:
        h = (n - 1) * q + 1
        k_lo = int(math.floor(h))
        frac = h - k_lo
        ranks[q] = (k_lo, frac)
        ks.add(k_lo)
        if frac != 0.0 and k_lo < n:
            ks.add(k_lo + 1)
    bounds = _approx_brackets(cdf, sorted(ks), n, glo, ghi)
    sks = sorted(ks)
    # scan 3: per-k rank of the bracket floor (rows strictly below lo_k)
    base_row = cdf.agg(
        *[
            F.count(F.when(F.col("c") < bounds[k][0], 1)).alias(f"b{k}")
            for k in sks
        ]
    ).collect()[0]
    base = {k: base_row[f"b{k}"] for k in sks}
    # scan 4: distinct-value histogram over the union of brackets —
    # rank-bounded (<= ~4*ceil(n/accuracy)+3 distinct values per k) and
    # collected only up to _HIST_CAP rows
    in_any = None
    for k in sks:
        cond = (F.col("c") >= bounds[k][0]) & (F.col("c") <= bounds[k][1])
        in_any = cond if in_any is None else (in_any | cond)
    rows = (
        cdf.filter(in_any)
        .groupBy("c")
        .agg(F.count("*").alias("f"))
        .limit(_HIST_CAP + 1)
        .collect()
    )
    hist = sorted((r["c"], r["f"]) for r in rows) if len(rows) <= _HIST_CAP else []
    kth: dict[int, int] = {}
    for k in sks:
        lo_k, hi_k = bounds[k]
        cum = base[k]
        found = None
        if cum < k:  # invariant precondition: the k-th lies at/after lo_k
            for v, f in hist:
                if lo_k <= v <= hi_k:
                    cum += f
                    if cum >= k:  # counting invariant: count(<=v) >= k,
                        found = v  # count(<=prev) == cum-f < k
                        break
        if found is not None:
            kth[k] = found
        else:  # histogram over the cap, or a broken GK rank bound
            kth[k] = _kth_smallest_cents(cdf, "c", k, glo, ghi)
    out = []
    for q in qs:
        k_lo, frac = ranks[q]
        v_lo = kth[k_lo]
        if frac == 0.0 or k_lo >= n:
            out.append(v_lo / 100.0)
        else:
            out.append((v_lo + frac * (kth[k_lo + 1] - v_lo)) / 100.0)
    return out
