"""Approximate-sketch operators (beyond-reference, training-data scale).

Three classic streaming/OLAP sketches, each implemented as pure DataFrame
aggregations with a DuckDB oracle. The reference has no sketch machinery
(its distinct counts are exact `count(distinct ...)` — e.g.
fct_fda_events_by_gender.sql:33, fct_hn_weekly_stats.sql:13); at 100 TB
exact distinct over a high-cardinality key is a full shuffle of the key
space, so these are the scale substitutes.

Cross-engine determinism: all hashing is the 60-bit integer prefix of
md5 — Spark `conv(substr(md5(x),1,15),16,10)` ≡ DuckDB
`('0x' || substr(md5(x),1,15))::UBIGINT::BIGINT` — so register contents,
cell counts, and bit positions are bit-identical in both engines, and the
only floating-point steps are a constant-folded literal, one division, and
one `ln`, all IEEE-deterministic at the 4-dp rounding we compare under.

Scale design (100 TB):
  * HLL: the sketch IS the shuffle reduction — per-partition partial
    max-per-register (map-side combine on a 1024-key space) then a
    1024-row merge; network cost is O(m), not O(n_distinct). This is the
    same merge shape `approx_count_distinct` uses internally; it is spelled
    out here so the estimate is engine-portable and oracle-checkable.
  * Count-min: one groupBy over a fixed d×w = 4×256 cell space — map-side
    combine collapses every partition to ≤1024 rows regardless of corpus
    size. Heavy-hitter probes join against the tiny cell table (broadcast).
  * Bloom: the bit-set is ≤4096 distinct positions — built with one
    aggregation, broadcast to the probe side (exactly Spark's runtime
    bloom-pruning shape, spelled out and verifiable).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..session import local_frame
from . import ROUND_DP as DP
from . import Tables, register

# ---------------------------------------------------------------------------
# Shared 60-bit md5-prefix hash (identical integer in both engines).
# ---------------------------------------------------------------------------
def _h_sql(x: str) -> str:
    return f"(('0x' || substr(md5({x}), 1, 15))::UBIGINT::BIGINT)"


def _h_spark(x: str) -> str:
    return f"CAST(conv(substr(md5({x}), 1, 15), 16, 10) AS BIGINT)"


# tokens: per-document whitespace split (non-distinct for counting sketches)
_TOKS_SQL = "regexp_split_to_array(lower(trim(text)), '\\s+')"
_TOKS_SPARK = r"split(lower(trim(text)), '\\s+')"


# ---------------------------------------------------------------------------
# HyperLogLog distinct-orderkey estimate per order priority vs exact.
#
# m = 1024 registers (p = 10). h is 60 uniform bits: register = h mod m,
# payload w = h div m (50 bits), rho(w) = 51 - bit_length(w) (so
# rho ∈ [1, 51]). Register value = max rho. The harmonic sum is kept in
# EXACT integer arithmetic: sum(2^-M_j) is scaled by 2^51 so each term
# 2^(51-M_j) is an integer and the 1024-term sum fits a BIGINT (≤ 2^61) —
# no float-summation-order divergence between engines. Small-range linear
# counting (E ≤ 2.5m, V > 0) per the original paper. The per-priority
# cardinality crosses the 2.5m threshold between sf0.001 and sf0.01, so the
# driver SFs exercise BOTH estimator branches.
# ---------------------------------------------------------------------------
_HLL_M = 1024
_HLL_POW = 2**51  # integer scale for the harmonic sum
# alpha_m * m^2 * 2^51, constant-folded to the same double literal both sides
_HLL_A = repr(0.7213 / (1.0 + 1.079 / _HLL_M) * _HLL_M * _HLL_M * float(_HLL_POW))


def _hll_sql() -> str:
    h = _h_sql("CAST(o_orderkey AS VARCHAR)")
    return f"""
    WITH keys AS (
      SELECT DISTINCT o_orderpriority AS grp, o_orderkey FROM orders),
    hashed AS (
      SELECT grp,
             {h} % {_HLL_M} AS reg,
             {h} // {_HLL_M} AS payload
      FROM keys),
    regs AS (
      SELECT grp, reg,
             max(CASE WHEN payload > 0 THEN 51 - length(bin(payload)) ELSE 51 END) AS mx
      FROM hashed GROUP BY grp, reg),
    sums AS (
      SELECT grp,
             CAST(sum(CAST(power(2, 51 - mx) AS BIGINT)) AS BIGINT) AS s_ne,
             count(*) AS n_reg
      FROM regs GROUP BY grp),
    est AS (
      SELECT grp,
             {_HLL_M} - n_reg AS v,
             {_HLL_A} / (s_ne + ({_HLL_M} - n_reg) * {_HLL_POW}) AS e_raw
      FROM sums),
    finals AS (
      SELECT grp,
             CASE WHEN e_raw <= 2.5 * {_HLL_M} AND v > 0
                  THEN {_HLL_M} * ln(CAST({_HLL_M} AS DOUBLE) / v)
                  ELSE e_raw END AS e
      FROM est),
    exact AS (
      SELECT o_orderpriority AS grp, count(DISTINCT o_orderkey) AS n_exact
      FROM orders GROUP BY o_orderpriority)
    SELECT exact.grp AS grp,
           n_exact,
           round(e, {DP}) AS n_hll,
           round(100.0 * abs(e - n_exact) / n_exact, 2) AS err_pct
    FROM exact JOIN finals ON exact.grp = finals.grp
    ORDER BY grp
    """


@register("sketch_hll_distinct", extra=True, sql=_hll_sql())
def sketch_hll_distinct(spark, sf_dir):
    """HyperLogLog distinct estimate, exact-integer harmonic sum.

    Reference has only exact count(distinct …) (e.g.
    fct_hn_weekly_stats.sql:13); this is the bounded-memory scale path."""
    t = Tables(spark, sf_dir)
    h = _h_spark("CAST(o_orderkey AS STRING)")
    keys = t.orders.select(F.col("o_orderpriority").alias("grp"), "o_orderkey").distinct()
    hashed = keys.select(
        "grp",
        F.expr(f"{h} % {_HLL_M}").alias("reg"),
        F.expr(f"{h} DIV {_HLL_M}").alias("payload"),
    )
    regs = hashed.groupBy("grp", "reg").agg(
        F.max(
            F.when(F.col("payload") > 0, F.lit(51) - F.length(F.bin("payload"))).otherwise(51)
        ).alias("mx")
    )
    sums = regs.groupBy("grp").agg(
        F.sum(F.expr("CAST(power(2, 51 - mx) AS BIGINT)")).cast("bigint").alias("s_ne"),
        F.count("*").alias("n_reg"),
    )
    est = sums.select(
        "grp",
        (F.lit(_HLL_M) - F.col("n_reg")).alias("v"),
        (F.lit(float(_HLL_A)) / (F.col("s_ne") + (F.lit(_HLL_M) - F.col("n_reg")) * F.lit(_HLL_POW))).alias(
            "e_raw"
        ),
    )
    finals = est.select(
        "grp",
        F.when(
            (F.col("e_raw") <= 2.5 * _HLL_M) & (F.col("v") > 0),
            F.lit(_HLL_M) * F.log(F.lit(float(_HLL_M)) / F.col("v")),
        )
        .otherwise(F.col("e_raw"))
        .alias("e"),
    )
    exact = t.orders.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.countDistinct("o_orderkey").alias("n_exact")
    )
    return (
        exact.join(finals, "grp")
        .select(
            "grp",
            "n_exact",
            F.round("e", DP).alias("n_hll"),
            F.round(100.0 * F.abs(F.col("e") - F.col("n_exact")) / F.col("n_exact"), 2).alias(
                "err_pct"
            ),
        )
        .orderBy("grp")
    )


# ---------------------------------------------------------------------------
# Count-min sketch: d=4 rows × w=16 columns (narrower than the synthetic vocab, so collisions are real) over word OCCURRENCES; probe
# the exact top-10 words and report the (always ≥) CMS estimate.
# ---------------------------------------------------------------------------
_CMS_D = 4
_CMS_W = 16
_CMS_TOP = 10


def _cms_sql() -> str:
    cell = _h_sql("concat('cms', j, ':', w)") + f" % {_CMS_W}"
    return f"""
    WITH wc AS (
      SELECT w, count(*) AS c
      FROM (SELECT unnest({_TOKS_SQL}) AS w FROM documents)
      GROUP BY w),
    seeds AS (SELECT unnest(range({_CMS_D})) AS j),
    cells AS (
      SELECT j, {cell} AS cell, CAST(sum(c) AS BIGINT) AS cell_count
      FROM wc CROSS JOIN seeds GROUP BY j, {cell}),
    top AS (
      SELECT w, c FROM wc ORDER BY c DESC, w LIMIT {_CMS_TOP}),
    probe AS (
      SELECT top.w AS w, top.c AS c, seeds.j AS j, {_h_sql("concat('cms', seeds.j, ':', top.w)")} % {_CMS_W} AS cell
      FROM top CROSS JOIN seeds)
    SELECT probe.w AS word, min(probe.c) AS n_exact,
           min(cells.cell_count) AS n_cms,
           min(cells.cell_count) - min(probe.c) AS n_over
    FROM probe JOIN cells ON probe.j = cells.j AND probe.cell = cells.cell
    GROUP BY probe.w
    ORDER BY n_exact DESC, word
    """


@register("sketch_countmin_heavy", extra=True, sql=_cms_sql())
def sketch_countmin_heavy(spark, sf_dir):
    """Count-min heavy-hitter estimates vs exact counts (never underestimates).

    Fixed 4×16 cell space → map-side combine collapses every partition to
    ≤1024 rows; the probe joins the broadcast-size cell table."""
    t = Tables(spark, sf_dir)
    wc = (
        t.documents.select(F.explode(F.expr(_TOKS_SPARK)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    seeds = spark.range(_CMS_D).select(F.col("id").cast("int").alias("j"))
    cell = F.expr(_h_spark("concat('cms', j, ':', w)") + f" % {_CMS_W}")
    cells = (
        wc.crossJoin(F.broadcast(seeds))
        .select("j", cell.alias("cell"), "c")
        .groupBy("j", "cell")
        .agg(F.sum("c").cast("bigint").alias("cell_count"))
    )
    top = wc.orderBy(F.desc("c"), F.asc("w")).limit(_CMS_TOP)
    probe = top.crossJoin(F.broadcast(seeds)).select("w", "c", "j", cell.alias("cell"))
    return (
        probe.join(cells, ["j", "cell"])
        .groupBy(F.col("w").alias("word"))
        .agg(
            F.min("c").alias("n_exact"),
            F.min("cell_count").alias("n_cms"),
            (F.min("cell_count") - F.min("c")).alias("n_over"),
        )
        .orderBy(F.desc("n_exact"), "word")
    )


# ---------------------------------------------------------------------------
# Bloom-filter membership: build a k=5 / m=4096-bit filter over the custkeys
# of one market segment, probe it with the custkeys of URGENT orders, and
# report the false-positive accounting against the exact semi-join. This is
# Spark's runtime bloom-join-pruning pattern spelled out verifiably.
# ---------------------------------------------------------------------------
_BLOOM_K = 5
_BLOOM_M = 4096


def _bloom_sql() -> str:
    pos_b = _h_sql("concat('bloom', j, ':', CAST(c_custkey AS VARCHAR))") + f" % {_BLOOM_M}"
    pos_p = _h_sql("concat('bloom', j, ':', CAST(k AS VARCHAR))") + f" % {_BLOOM_M}"
    return f"""
    WITH build AS (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
    seeds AS (SELECT unnest(range({_BLOOM_K})) AS j),
    bits AS (
      SELECT DISTINCT {pos_b} AS pos FROM build CROSS JOIN seeds),
    probe AS (
      SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'),
    probe_hits AS (
      SELECT k, count(*) AS n_hit
      FROM (SELECT k, {pos_p} AS pos FROM probe CROSS JOIN seeds) ph
      JOIN bits USING (pos)
      GROUP BY k),
    verdicts AS (
      SELECT probe.k AS k,
             coalesce(n_hit, 0) = {_BLOOM_K} AS bloom_positive,
             probe.k IN (SELECT c_custkey FROM build) AS is_member
      FROM probe LEFT JOIN probe_hits ON probe.k = probe_hits.k)
    SELECT CAST(count(*) AS BIGINT) AS n_probe,
           CAST(count_if(is_member) AS BIGINT) AS n_true,
           CAST(count_if(bloom_positive) AS BIGINT) AS n_positive,
           CAST(count_if(bloom_positive AND NOT is_member) AS BIGINT) AS n_false_positive,
           CAST(count_if(is_member AND NOT bloom_positive) AS BIGINT) AS n_false_negative,
           (SELECT CAST(count(*) AS BIGINT) FROM bits) AS n_bits_set,
           round(100.0 * count_if(bloom_positive AND NOT is_member)
                 / greatest(count(*) - count_if(is_member), 1), 2) AS fp_rate_pct
    FROM verdicts
    """


@register("sketch_bloom_membership", extra=True, sql=_bloom_sql())
def sketch_bloom_membership(spark, sf_dir):
    """Bloom-filter membership with exact false-positive accounting.

    The ≤4096-position bit set is built with one aggregation and broadcast
    to the probe side — the join-pruning filter shape at 100 TB."""
    t = Tables(spark, sf_dir)
    build = t.customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    seeds = spark.range(_BLOOM_K).select(F.col("id").cast("int").alias("j"))
    pos_b = F.expr(
        _h_spark("concat('bloom', j, ':', CAST(c_custkey AS STRING))") + f" % {_BLOOM_M}"
    )
    bits = (
        build.crossJoin(F.broadcast(seeds)).select(pos_b.alias("pos")).distinct()
    )
    probe = (
        t.orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    pos_p = F.expr(_h_spark("concat('bloom', j, ':', CAST(k AS STRING))") + f" % {_BLOOM_M}")
    probe_hits = (
        probe.crossJoin(F.broadcast(seeds))
        .select("k", pos_p.alias("pos"))
        .join(F.broadcast(bits), "pos")
        .groupBy("k")
        .agg(F.count("*").alias("n_hit"))
    )
    members = build.select(F.col("c_custkey").alias("k")).distinct().withColumn(
        "is_member", F.lit(True)
    )
    verdicts = (
        probe.join(probe_hits, "k", "left")
        .join(F.broadcast(members), "k", "left")
        .select(
            "k",
            (F.coalesce("n_hit", F.lit(0)) == _BLOOM_K).alias("bloom_positive"),
            F.coalesce("is_member", F.lit(False)).alias("is_member"),
        )
    )
    n_bits = bits.agg(F.count("*").alias("nb"))
    agg = verdicts.agg(
        F.count("*").cast("bigint").alias("n_probe"),
        F.count_if("is_member").cast("bigint").alias("n_true"),
        F.count_if("bloom_positive").cast("bigint").alias("n_positive"),
        F.count_if(F.col("bloom_positive") & ~F.col("is_member"))
        .cast("bigint")
        .alias("n_false_positive"),
        F.count_if(F.col("is_member") & ~F.col("bloom_positive"))
        .cast("bigint")
        .alias("n_false_negative"),
        F.round(
            100.0
            * F.count_if(F.col("bloom_positive") & ~F.col("is_member"))
            / F.greatest(F.count("*") - F.count_if("is_member"), F.lit(1)),
            2,
        ).alias("fp_rate_pct"),
    )
    return agg.crossJoin(F.broadcast(n_bits)).select(
        "n_probe",
        "n_true",
        "n_positive",
        "n_false_positive",
        "n_false_negative",
        F.col("nb").alias("n_bits_set"),
        "fp_rate_pct",
    )


# ---------------------------------------------------------------------------
# Fixed-bin histogram quantile sketch: 128 equi-width bins over integer
# cents (exact integer bin math), quantile estimated at the bin midpoint,
# reported next to the exact interpolated percentile. The histogram is the
# mergeable, single-pass, bounded-state quantile structure: at 100 TB the
# bin counts are a map-side combine over a 128-key space (like count-min),
# while the exact percentile needs a full sort/selection of the column.
# The cumulative-sum window runs over ≤128 rows — bounded by construction.
# ---------------------------------------------------------------------------
_HQ_BINS = 128
_HQ_QS = (0.5, 0.9, 0.99)


def _hq_sql() -> str:
    qs_rows = ", ".join(f"(CAST({q} AS DOUBLE))" for q in _HQ_QS)
    return f"""
    WITH c AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem),
    b AS (SELECT min(c) AS mn, max(c) AS mx, count(*) AS n FROM c),
    bins AS (
      SELECT (c - mn) * {_HQ_BINS} // (mx - mn + 1) AS bin, count(*) AS cnt
      FROM c CROSS JOIN b GROUP BY 1),
    cum AS (SELECT bin, sum(cnt) OVER (ORDER BY bin) AS cum FROM bins),
    qs(q) AS (VALUES {qs_rows}),
    sel AS (
      SELECT q, min(bin) AS qbin
      FROM qs CROSS JOIN cum CROSS JOIN b
      WHERE cum >= ceil(q * n) GROUP BY q),
    est AS (
      SELECT q, (mn + (qbin + 0.5) * (mx - mn + 1) / {_HQ_BINS}) / 100.0 AS est_v
      FROM sel CROSS JOIN b),
    exact AS (
      {" UNION ALL ".join(f"SELECT CAST({q} AS DOUBLE) AS q, quantile_cont(c, {q}) / 100.0 AS exact_v FROM c" for q in _HQ_QS)})
    SELECT est.q AS q, {_HQ_BINS} AS n_bins,
           round(est_v, {DP}) AS est_value,
           round(exact_v, {DP}) AS exact_value,
           round(100.0 * abs(est_v - exact_v) / exact_v, 2) AS err_pct
    FROM est JOIN exact ON est.q = exact.q
    ORDER BY q
    """


@register("sketch_histogram_quantile", extra=True, sql=_hq_sql())
def sketch_histogram_quantile(spark, sf_dir):
    """Histogram quantiles vs exact percentiles on lineitem, all derived
    from ONE scan: the exact (cents, freq) histogram is computed once
    (map-side partial agg, domain-bounded frame) and cached; the bounds
    row, the 128-bin sketch AND the exact interpolated percentiles all
    read it. The previous form re-scanned lineitem per consumer (~8 scan
    subtrees in the unrolled plan, plus an exact `percentile` aggregate
    whose value→count map-merge is the pattern agg_global_summary shed
    this round); guide §2.4 / §1.2. The exact side replicates
    Percentile.getPercentile on the cents doubles bit-for-bit (same
    formula as aggregations._orderstat_percentiles, kept in cents-then-
    divide order to match the original `percentile("c")/100.0`)."""
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    hist = (
        t.lineitem.groupBy(
            F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("c")
        )
        .agg(F.count("*").alias("f"))
        .cache()  # |distinct cents| rows — read by bounds, bins and exact
    )
    b = hist.agg(
        F.min("c").alias("mn"), F.max("c").alias("mx"), F.sum("f").alias("n")
    )
    bins = (
        hist.crossJoin(F.broadcast(b))
        .select(F.expr(f"(c - mn) * {_HQ_BINS} DIV (mx - mn + 1)").alias("bin"), "f")
        .groupBy("bin")
        .agg(F.sum("f").alias("cnt"))
    )
    cum = bins.withColumn(
        "cum",
        F.sum("cnt").over(W.orderBy("bin").rowsBetween(W.unboundedPreceding, 0)),
    )
    qs = local_frame(spark, [(float(q),) for q in _HQ_QS], "q double")
    sel = (
        qs.crossJoin(cum)
        .crossJoin(F.broadcast(b))
        .filter(F.col("cum") >= F.ceil(F.col("q") * F.col("n")))
        .groupBy("q")
        .agg(F.min("bin").alias("qbin"))
    )
    est = sel.crossJoin(F.broadcast(b)).select(
        "q",
        (
            (F.col("mn") + (F.col("qbin") + 0.5) * (F.col("mx") - F.col("mn") + 1) / _HQ_BINS)
            / 100.0
        ).alias("est_v"),
    )
    # exact interpolated percentiles from the SAME histogram: cumulative
    # order statistics + Percentile.getPercentile's interpolation on the
    # cents doubles (pos = q*(n-1); lower==higher -> lowerKey; else
    # lowerKey*(higher-pos) + higherKey*(pos-lower)), divided by 100 LAST
    # exactly like the original percentile("c", ...)/100.0. The cumulative
    # runs range-partitioned (operators/ranked.ranged_prefix: per-partition
    # sums + literal offsets), not as a single-partition window — the
    # histogram is cents-DOMAIN-bounded but that bound is ~10M distinct
    # values at full price range, one task too many at the 1000x replica.
    from ..operators.ranked import ranged_prefix

    pref, _tot = ranged_prefix(hist, ["c"], ["f"])
    cumh = pref.select("c", "f", F.col("cum_f").alias("cum"))
    nm1 = (F.col("n") - 1).cast("double")
    meta = b.select(
        *[
            e
            for i, q in enumerate(_HQ_QS)
            for e in (
                (nm1 * F.lit(float(q))).alias(f"_pos_{i}"),
                F.floor(nm1 * F.lit(float(q))).alias(f"_lo_{i}"),
                F.ceil(nm1 * F.lit(float(q))).alias(f"_hi_{i}"),
            )
        ]
    )
    jx = cumh.crossJoin(F.broadcast(meta))
    # histogram row covers 0-based sorted positions [cum-f, cum-1]
    covers = lambda idx: (F.col("cum") - F.col("f") <= idx) & (idx < F.col("cum"))  # noqa: E731
    keep = None
    for i in range(len(_HQ_QS)):
        cond = covers(F.col(f"_lo_{i}")) | covers(F.col(f"_hi_{i}"))
        keep = cond if keep is None else (keep | cond)
    selx = jx.filter(keep).agg(
        *[
            e
            for i in range(len(_HQ_QS))
            for e in (
                F.max(F.when(covers(F.col(f"_lo_{i}")), F.col("c"))).alias(f"_vlo_{i}"),
                F.max(F.when(covers(F.col(f"_hi_{i}")), F.col("c"))).alias(f"_vhi_{i}"),
                F.max(f"_pos_{i}").alias(f"_p_{i}"),
                F.max(f"_lo_{i}").alias(f"_l_{i}"),
                F.max(f"_hi_{i}").alias(f"_h_{i}"),
            )
        ]
    )
    exact = selx.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(float(q)).alias("q"),
                        (
                            F.when(
                                F.col(f"_l_{i}") == F.col(f"_h_{i}"),
                                F.col(f"_vlo_{i}").cast("double"),
                            ).otherwise(
                                F.col(f"_vlo_{i}")
                                * (F.col(f"_h_{i}").cast("double") - F.col(f"_p_{i}"))
                                + F.col(f"_vhi_{i}")
                                * (F.col(f"_p_{i}") - F.col(f"_l_{i}").cast("double"))
                            )
                            / 100.0
                        ).alias("exact_v"),
                    )
                    for i, q in enumerate(_HQ_QS)
                ]
            )
        ).alias("e")
    ).select("e.*")
    return (
        est.join(exact, "q")
        .select(
            "q",
            F.lit(_HQ_BINS).alias("n_bins"),
            F.round("est_v", DP).alias("est_value"),
            F.round("exact_v", DP).alias("exact_value"),
            F.round(100.0 * F.abs(F.col("est_v") - F.col("exact_v")) / F.col("exact_v"), 2).alias(
                "err_pct"
            ),
        )
        .orderBy("q")
    )


# ---------------------------------------------------------------------------
# Mergeable-sketch rollup (hypertable pattern): HLL register partials are
# computed ONCE per day, then re-aggregated to coarser grains by register
# max — week = max over its days, month = max over its weeks — without
# ever rescanning raw rows. That two-hop merge is exactly how a continuous
# aggregate / rollup table serves month-level distincts from stored daily
# partials at 100 TB: the merge input is (days × 1024) register rows, not
# events. Associativity is PROVEN in-query: registers merged day→week→month
# are full-outer-joined against registers computed directly from raw rows
# at each grain, and the mismatch count (always 0) is part of the output.
# Week key = (day_of_month-1)/7, engine-neutral (ISO week rules differ
# between engines).
# ---------------------------------------------------------------------------


def _hll_est_sql(regs: str, keys: str) -> str:
    """Estimator CTE body over a register relation (same math as
    sketch_hll_distinct: exact-integer harmonic sum + linear counting)."""
    return f"""
      SELECT {keys},
             CASE WHEN {_HLL_A} / (CAST(sum(CAST(power(2, 51 - mx) AS BIGINT)) AS BIGINT)
                        + ({_HLL_M} - count(*)) * {_HLL_POW}) <= 2.5 * {_HLL_M}
                       AND {_HLL_M} - count(*) > 0
                  THEN {_HLL_M} * ln(CAST({_HLL_M} AS DOUBLE) / ({_HLL_M} - count(*)))
                  ELSE {_HLL_A} / (CAST(sum(CAST(power(2, 51 - mx) AS BIGINT)) AS BIGINT)
                        + ({_HLL_M} - count(*)) * {_HLL_POW}) END AS e
      FROM {regs} GROUP BY {keys}"""


def _hll_rollup_sql() -> str:
    h = _h_sql("CAST(user_id AS VARCHAR)")
    return f"""
    WITH hashed AS (
      SELECT strftime(ts, '%Y-%m') AS mon,
             CAST((day(ts) - 1) // 7 AS INT) AS wk,
             strftime(ts, '%Y-%m-%d') AS d,
             user_id,
             {h} % {_HLL_M} AS reg,
             CASE WHEN {h} // {_HLL_M} > 0
                  THEN 51 - length(bin({h} // {_HLL_M})) ELSE 51 END AS rho
      FROM events),
    regs_day AS (
      SELECT mon, wk, d, reg, max(rho) AS mx FROM hashed GROUP BY mon, wk, d, reg),
    regs_week AS (
      SELECT mon, wk, reg, max(mx) AS mx FROM regs_day GROUP BY mon, wk, reg),
    regs_month AS (
      SELECT mon, reg, max(mx) AS mx FROM regs_week GROUP BY mon, reg),
    direct_week AS (
      SELECT mon, wk, reg, max(rho) AS mx FROM hashed GROUP BY mon, wk, reg),
    direct_month AS (
      SELECT mon, reg, max(rho) AS mx FROM hashed GROUP BY mon, reg),
    mm_week AS (
      SELECT a.mon, a.wk, CAST(count_if(a.mx IS DISTINCT FROM b.mx) AS BIGINT) AS n_mismatch
      FROM regs_week a FULL JOIN direct_week b
        ON a.mon = b.mon AND a.wk = b.wk AND a.reg = b.reg
      GROUP BY a.mon, a.wk),
    mm_month AS (
      SELECT a.mon, CAST(count_if(a.mx IS DISTINCT FROM b.mx) AS BIGINT) AS n_mismatch
      FROM regs_month a FULL JOIN direct_month b
        ON a.mon = b.mon AND a.reg = b.reg
      GROUP BY a.mon),
    est_week AS ({_hll_est_sql("regs_week", "mon, wk")}),
    est_month AS ({_hll_est_sql("regs_month", "mon")}),
    exact_week AS (
      SELECT mon, wk, count(DISTINCT d) AS n_days, count(DISTINCT user_id) AS n_exact
      FROM hashed GROUP BY mon, wk),
    exact_month AS (
      SELECT mon, count(DISTINCT d) AS n_days, count(DISTINCT user_id) AS n_exact
      FROM hashed GROUP BY mon)
    SELECT 'week' AS grain, x.mon || '-w' || CAST(x.wk AS VARCHAR) AS period,
           x.n_days, x.n_exact, round(e.e, {DP}) AS n_hll,
           round(100.0 * abs(e.e - x.n_exact) / x.n_exact, 2) AS err_pct,
           m.n_mismatch AS n_register_mismatch
    FROM exact_week x
    JOIN est_week e ON x.mon = e.mon AND x.wk = e.wk
    JOIN mm_week m ON x.mon = m.mon AND x.wk = m.wk
    UNION ALL
    SELECT 'month' AS grain, x.mon AS period,
           x.n_days, x.n_exact, round(e.e, {DP}) AS n_hll,
           round(100.0 * abs(e.e - x.n_exact) / x.n_exact, 2) AS err_pct,
           m.n_mismatch AS n_register_mismatch
    FROM exact_month x
    JOIN est_month e ON x.mon = e.mon
    JOIN mm_month m ON x.mon = m.mon
    ORDER BY grain DESC, period
    """


def _hll_estimate(regs, keys: list[str]):
    """Spark estimator over a register frame — same math as the SQL body."""
    sums = regs.groupBy(*keys).agg(
        F.sum(F.expr("CAST(power(2, 51 - mx) AS BIGINT)")).cast("bigint").alias("s_ne"),
        F.count("*").alias("n_reg"),
    )
    est = sums.select(
        *keys,
        (F.lit(_HLL_M) - F.col("n_reg")).alias("v"),
        (
            F.lit(float(_HLL_A))
            / (F.col("s_ne") + (F.lit(_HLL_M) - F.col("n_reg")) * F.lit(_HLL_POW))
        ).alias("e_raw"),
    )
    return est.select(
        *keys,
        F.when(
            (F.col("e_raw") <= 2.5 * _HLL_M) & (F.col("v") > 0),
            F.lit(_HLL_M) * F.log(F.lit(float(_HLL_M)) / F.col("v")),
        )
        .otherwise(F.col("e_raw"))
        .alias("e"),
    )


def _mismatch_count(merged, direct, keys: list[str]):
    """Count registers whose merged value differs from the direct-from-raw
    value (full outer on keys+reg; always 0 — max is associative)."""
    a = merged.select(*keys, "reg", F.col("mx").alias("mx_a"))
    b = direct.select(*keys, "reg", F.col("mx").alias("mx_b"))
    return (
        a.join(b, [*keys, "reg"], "full_outer")
        .groupBy(*keys)
        .agg(
            F.count_if(~F.col("mx_a").eqNullSafe(F.col("mx_b"))).cast("bigint").alias("n_mismatch")
        )
    )


@register("sketch_hll_rollup", extra=True, sql=_hll_rollup_sql())
def sketch_hll_rollup(spark, sf_dir):
    """Daily HLL partials merged day→week→month (see block comment)."""
    t = Tables(spark, sf_dir)
    h = _h_spark("CAST(user_id AS STRING)")
    hashed = t.events.select(
        F.date_format("ts", "yyyy-MM").alias("mon"),
        ((F.dayofmonth("ts") - 1) / 7).cast("int").alias("wk"),
        F.date_format("ts", "yyyy-MM-dd").alias("d"),
        "user_id",
        F.expr(f"{h} % {_HLL_M}").alias("reg"),
        F.when(
            F.expr(f"{h} DIV {_HLL_M}") > 0,
            F.lit(51) - F.length(F.bin(F.expr(f"{h} DIV {_HLL_M}"))),
        )
        .otherwise(51)
        .alias("rho"),
    )
    regs_day = hashed.groupBy("mon", "wk", "d", "reg").agg(F.max("rho").alias("mx"))
    regs_week = regs_day.groupBy("mon", "wk", "reg").agg(F.max("mx").alias("mx"))
    regs_month = regs_week.groupBy("mon", "reg").agg(F.max("mx").alias("mx"))
    direct_week = hashed.groupBy("mon", "wk", "reg").agg(F.max("rho").alias("mx"))
    direct_month = hashed.groupBy("mon", "reg").agg(F.max("rho").alias("mx"))

    def grain(regs, direct, exact_keys, period_col, grain_name):
        exact = hashed.groupBy(*exact_keys).agg(
            F.countDistinct("d").alias("n_days"),
            F.countDistinct("user_id").alias("n_exact"),
        )
        return (
            exact.join(_hll_estimate(regs, exact_keys), exact_keys)
            .join(_mismatch_count(regs, direct, exact_keys), exact_keys)
            .select(
                F.lit(grain_name).alias("grain"),
                period_col.alias("period"),
                "n_days",
                "n_exact",
                F.round("e", DP).alias("n_hll"),
                F.round(
                    100.0 * F.abs(F.col("e") - F.col("n_exact")) / F.col("n_exact"), 2
                ).alias("err_pct"),
                F.col("n_mismatch").alias("n_register_mismatch"),
            )
        )

    weeks = grain(
        regs_week,
        direct_week,
        ["mon", "wk"],
        F.concat(F.col("mon"), F.lit("-w"), F.col("wk").cast("string")),
        "week",
    )
    months = grain(regs_month, direct_month, ["mon"], F.col("mon"), "month")
    return weeks.unionByName(months).orderBy(F.col("grain").desc(), "period")
