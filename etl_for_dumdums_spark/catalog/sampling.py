"""Deterministic sampling / mixture-rebalancing operators (beyond-reference).

The two downsampling primitives every large-scale training-data pipeline
needs, absent from the reference (whose only sampling is dashboard-side
`head()`): per-stratum hash sampling and exact mixture rebalancing. Both
are fully deterministic — membership is a pure function of the row key via
the shared 60-bit md5-prefix hash (catalog/sketches.py), so a re-run (or a
different engine: the DuckDB oracle) selects the identical sample. That is
the property that makes a 100 TB sample reproducible and incrementally
maintainable (new rows don't reshuffle old membership, unlike rand()).

Scale design (100 TB):
  * stratified hash sampling is a pure map-side filter — no shuffle at
    all; the stratum→rate lookup is a broadcast of a handful of rows.
  * mixture rebalancing needs an exact per-stratum top-N by hash rank:
    implemented as a per-stratum window over the hash order. At 100 TB the
    same result is produced without a global per-stratum sort by first
    applying the hash-threshold filter at rate (target/n + slack) — a
    map-side filter that keeps ~target rows — then trimming the small
    remainder exactly; membership is identical because hash rank is
    preserved under the pre-filter. The budget math is exact integer
    arithmetic (percent weights), so both engines agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..session import local_frame
from . import Tables, register
from .sketches import _h_spark, _h_sql

# per-language keep rates (percent) for the stratified sample: downsample
# the dominant language, keep the tail (the canonical training-mix move)
_STRATA_RATES = {"en": 25, "de": 80, "es": 80, "fr": 80, "zh": 80}
_DEFAULT_RATE = 50

# target mixture weights (percent, sum 100) for the rebalancer
_MIX_WEIGHTS = {"en": 40, "de": 15, "es": 15, "fr": 15, "zh": 15}


def _rates_values_sql(d: dict[str, int]) -> str:
    return ", ".join(f"('{k}', {v})" for k, v in d.items())


# ---------------------------------------------------------------------------
# Per-stratum deterministic hash sampling: keep a row iff
# hash(doc_id) mod 100 < rate(lang). Zero-shuffle at any scale.
# ---------------------------------------------------------------------------
@register(
    "sample_stratified_hash",
    sql=f"""
    WITH rates(lang, pct) AS (VALUES {_rates_values_sql(_STRATA_RATES)}),
    sampled AS (
      SELECT d.lang,
             coalesce(r.pct, {_DEFAULT_RATE}) AS target_pct,
             CASE WHEN {_h_sql("concat('samp:', CAST(doc_id AS VARCHAR))")} % 100
                       < coalesce(r.pct, {_DEFAULT_RATE})
                  THEN 1 ELSE 0 END AS kept
      FROM documents d LEFT JOIN rates r ON d.lang = r.lang)
    SELECT lang,
           min(target_pct) AS target_pct,
           count(*) AS n_total,
           CAST(sum(kept) AS BIGINT) AS n_kept,
           round(100.0 * sum(kept) / count(*), 2) AS actual_pct
    FROM sampled GROUP BY lang ORDER BY lang
    """,
    extra=True,
)
def sample_stratified_hash(spark, sf_dir):
    """Deterministic stratified sample: membership is a pure function of
    doc_id, so re-runs and both engines select the identical rows."""
    t = Tables(spark, sf_dir)
    rates = local_frame(spark, list(_STRATA_RATES.items()), "lang string, pct bigint")
    h = F.expr(_h_spark("concat('samp:', CAST(doc_id AS STRING))"))
    sampled = (
        t.documents.join(F.broadcast(rates), "lang", "left")
        .select(
            "lang",
            F.coalesce("pct", F.lit(_DEFAULT_RATE)).alias("target_pct"),
            F.when(h % 100 < F.coalesce("pct", F.lit(_DEFAULT_RATE)), 1)
            .otherwise(0)
            .alias("kept"),
        )
    )
    return (
        sampled.groupBy("lang")
        .agg(
            F.min("target_pct").alias("target_pct"),
            F.count("*").alias("n_total"),
            F.sum("kept").cast("bigint").alias("n_kept"),
            F.round(100.0 * F.sum("kept") / F.count("*"), 2).alias("actual_pct"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Exact mixture rebalancing: given integer percent weights w_l, the largest
# feasible corpus respecting the mixture without upsampling is
# budget = min_l floor(100 * n_l / w_l); each language contributes
# n_after_l = floor(w_l * budget / 100), selected as the top-n_after_l rows
# by deterministic hash rank. All budget math is exact integer arithmetic.
# ---------------------------------------------------------------------------
@register(
    "mix_rebalance_langs",
    sql=f"""
    WITH w(lang, wt) AS (VALUES {_rates_values_sql(_MIX_WEIGHTS)}),
    counts AS (
      SELECT d.lang, wt, count(*) AS n_before
      FROM documents d JOIN w ON d.lang = w.lang
      GROUP BY d.lang, wt),
    budget AS (SELECT min(100 * n_before // wt) AS b FROM counts),
    targets AS (
      SELECT lang, wt, n_before, (wt * (SELECT b FROM budget)) // 100 AS n_after
      FROM counts),
    ranked AS (
      SELECT d.lang,
             row_number() OVER (
               PARTITION BY d.lang
               ORDER BY {_h_sql("concat('mix:', CAST(doc_id AS VARCHAR))")}, doc_id
             ) AS rnk
      FROM documents d JOIN w ON d.lang = w.lang),
    kept AS (
      SELECT r.lang, count(*) AS n_kept
      FROM ranked r JOIN targets t ON r.lang = t.lang AND r.rnk <= t.n_after
      GROUP BY r.lang)
    SELECT t.lang AS lang, t.wt AS target_wt, t.n_before, t.n_after,
           k.n_kept,
           round(100.0 * k.n_kept / sum(k.n_kept) OVER (), 2) AS actual_wt
    FROM targets t JOIN kept k ON t.lang = k.lang
    ORDER BY lang
    """,
    extra=True,
)
def mix_rebalance_langs(spark, sf_dir):
    """Training-mix rebalancer: exact integer budget math + deterministic
    hash-rank selection (see module docstring for the 100 TB execution)."""
    t = Tables(spark, sf_dir)
    w = local_frame(spark, list(_MIX_WEIGHTS.items()), "lang string, wt bigint")
    docs = t.documents.join(F.broadcast(w), "lang")
    counts = docs.groupBy("lang", "wt").agg(F.count("*").alias("n_before"))
    budget = counts.agg(
        F.min(F.expr("100 * n_before DIV wt")).alias("b")
    )
    targets = counts.crossJoin(F.broadcast(budget)).select(
        "lang", "wt", "n_before", F.expr("(wt * b) DIV 100").alias("n_after")
    )
    h = F.expr(_h_spark("concat('mix:', CAST(doc_id AS STRING))"))
    ranked = docs.select(
        "lang",
        F.row_number()
        .over(W.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc()))
        .alias("rnk"),
    )
    kept = (
        ranked.join(F.broadcast(targets.select("lang", "n_after")), "lang")
        .filter(F.col("rnk") <= F.col("n_after"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_kept"))
    )
    out = targets.join(kept, "lang").select(
        "lang",
        F.col("wt").alias("target_wt"),
        "n_before",
        "n_after",
        "n_kept",
    )
    total = out.agg(F.sum("n_kept").alias("tot"))
    return (
        out.crossJoin(F.broadcast(total))
        .select(
            "lang",
            "target_wt",
            "n_before",
            "n_after",
            "n_kept",
            F.round(100.0 * F.col("n_kept") / F.col("tot"), 2).alias("actual_wt"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split assignment: split = f(hash(doc_id)),
# so membership is reproducible across runs AND engines, new rows never
# reshuffle old assignments, and all rows sharing a key land in the same
# split (the leakage-free grouping property — split on a GROUP key like
# source-document id when rows are derived fragments). Pure projection:
# zero shuffle at any scale; the report below adds the one groupBy any
# audit needs.
# ---------------------------------------------------------------------------
_SPLIT_BOUNDS = (80, 90)  # hash%100: <80 train, <90 val, else test


def assign_split(df, key_col: str, bounds: tuple[int, int] = _SPLIT_BOUNDS, salt: str = "split:"):
    """Add a deterministic `split` column ('train'/'val'/'test') keyed on
    ``key_col``. Map-side only — no shuffle."""
    h = F.expr(_h_spark(f"concat('{salt}', CAST({key_col} AS STRING))")) % 100
    return df.withColumn(
        "split",
        F.when(h < bounds[0], "train").when(h < bounds[1], "val").otherwise("test"),
    )


@register(
    "sample_train_split",
    extra=True,
    sql=f"""
    WITH assigned AS (
      SELECT lang,
             CASE WHEN {_h_sql("concat('split:', CAST(doc_id AS VARCHAR))")} % 100 < {_SPLIT_BOUNDS[0]} THEN 'train'
                  WHEN {_h_sql("concat('split:', CAST(doc_id AS VARCHAR))")} % 100 < {_SPLIT_BOUNDS[1]} THEN 'val'
                  ELSE 'test' END AS split
      FROM documents),
    counts AS (SELECT lang, split, count(*) AS n FROM assigned GROUP BY lang, split),
    tot AS (SELECT lang, sum(n) AS lang_total FROM counts GROUP BY lang)
    SELECT c.lang, c.split, c.n,
           round(100.0 * c.n / t.lang_total, 2) AS pct_of_lang
    FROM counts c JOIN tot t ON c.lang = t.lang
    ORDER BY c.lang, c.split
    """,
)
def sample_train_split(spark, sf_dir):
    t = Tables(spark, sf_dir)
    assigned = assign_split(t.documents, "doc_id")
    counts = assigned.groupBy("lang", "split").agg(F.count("*").alias("n"))
    tot = counts.groupBy("lang").agg(F.sum("n").alias("lang_total"))
    return (
        counts.join(F.broadcast(tot), "lang")
        .select(
            "lang",
            "split",
            "n",
            F.round(100.0 * F.col("n") / F.col("lang_total"), 2).alias("pct_of_lang"),
        )
        .orderBy("lang", "split")
    )


# ---------------------------------------------------------------------------
# Exact-K-per-group deterministic sample: the fixed-size eval-set draw
# (exactly K docs per language, reproducible across runs/engines — rank by
# keyed hash, not rand()). Spark side runs the salted two-stage top-K
# (local top-K per hash-salt shard, global top-K over K*SALTS survivors) so
# no single task ever sorts a whole group — the same scale shape as
# win_top_n_per_group / text_tfidf_topterms; the oracle states the plain
# one-window rule, results identical by construction.
# ---------------------------------------------------------------------------
_SAMPLE_K = 20


@register(
    "sample_k_per_group",
    extra=True,
    sql=f"""
    WITH ranked AS (
      SELECT lang, doc_id, n_chars,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY {_h_sql("concat('kpg:', CAST(doc_id AS VARCHAR))")}, doc_id
             ) AS rn
      FROM documents)
    SELECT lang, rn, doc_id, n_chars
    FROM ranked WHERE rn <= {_SAMPLE_K}
    ORDER BY lang, rn
    """,
)
def sample_k_per_group(spark, sf_dir):
    # rank filter → WindowGroupLimit(Partial): each scan task prunes to <= K
    # rows per language before the lang exchange (the engine-native bound
    # that replaced the r1-r3 hand-salted two-stage window)
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
    h = F.expr(_h_spark("concat('kpg:', CAST(doc_id AS STRING))"))
    hashed = t.documents.select("lang", "doc_id", "n_chars", h.alias("_h"))
    wglobal = W.partitionBy("lang").orderBy("_h", "doc_id")
    return (
        hashed.withColumn("rn", F.row_number().over(wglobal))
        .filter(F.col("rn") <= _SAMPLE_K)
        .select("lang", "rn", "doc_id", "n_chars")
        .orderBy("lang", "rn")
    )


# ---------------------------------------------------------------------------
# Leakage-safe split: keyed on the CONTENT fingerprint, not the row id —
# duplicate/near-identical documents must land in the SAME split or eval
# contaminates train (the grouping property assign_split's docstring names,
# demonstrated concretely). The query audits itself: the count of
# fingerprints spanning >1 split must be 0 (keying on doc_id instead gives
# a nonzero count whenever the corpus has duplicate fingerprints — this
# corpus does). Same zero-shuffle projection; the audit adds one groupBy.
# ---------------------------------------------------------------------------
_FP_SQL = "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"


@register(
    "sample_split_leakage_safe",
    extra=True,
    sql=f"""
    WITH assigned AS (
      SELECT lang, {_FP_SQL} AS fp,
             CASE WHEN {_h_sql(f"concat('split:', {_FP_SQL})")} % 100 < {_SPLIT_BOUNDS[0]} THEN 'train'
                  WHEN {_h_sql(f"concat('split:', {_FP_SQL})")} % 100 < {_SPLIT_BOUNDS[1]} THEN 'val'
                  ELSE 'test' END AS split
      FROM documents),
    counts AS (
      SELECT split, count(*) AS n_docs, count(DISTINCT fp) AS n_fingerprints
      FROM assigned GROUP BY split),
    leaks AS (
      SELECT count(*) AS n_leaky FROM (
        SELECT fp FROM assigned GROUP BY fp HAVING count(DISTINCT split) > 1))
    SELECT c.split, c.n_docs, c.n_fingerprints,
           l.n_leaky AS n_fingerprints_spanning_splits
    FROM counts c CROSS JOIN leaks l ORDER BY c.split
    """,
)
def sample_split_leakage_safe(spark, sf_dir):
    t = Tables(spark, sf_dir)
    fp = F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "))
    assigned = assign_split(
        t.documents.select("lang", fp.alias("fp")), "fp"
    ).select("lang", "fp", "split")
    counts = assigned.groupBy("split").agg(
        F.count("*").alias("n_docs"), F.count_distinct("fp").alias("n_fingerprints")
    )
    leaks = (
        assigned.groupBy("fp")
        .agg(F.count_distinct("split").alias("ns"))
        .filter(F.col("ns") > 1)
        .agg(F.count("*").alias("n_leaky"))
    )
    return (
        counts.crossJoin(F.broadcast(leaks))
        .select(
            "split",
            "n_docs",
            "n_fingerprints",
            F.col("n_leaky").alias("n_fingerprints_spanning_splits"),
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# Temperature-based mixture sampling, τ = 1/2 (the multilingual-LM mixing
# rule: sample language l with p_l ∝ n_l^τ, flattening the head so tail
# languages aren't drowned). τ = 1/2 is chosen deliberately: sqrt is
# correctly rounded in IEEE 754, so floor(sqrt(n)·1e6) is the IDENTICAL
# BIGINT weight in both engines — no libm pow anywhere (same reasoning as
# tfidf's rational idf). From there everything is the rebalancer's exact
# integer arithmetic: S = Σw, budget = min_l (S·n_l) // w_l (largest
# no-upsampling corpus), target_l = w_l·budget // S, selection by
# deterministic hash rank. Same 100 TB shape as mix_rebalance_langs: at
# scale the rank window is replaced by the hash-threshold pre-filter
# (module docstring) with identical membership.
# ---------------------------------------------------------------------------
@register(
    "mix_temperature_sample",
    extra=True,
    sql=f"""
    WITH counts AS (SELECT lang, count(*) AS n_before FROM documents GROUP BY lang),
    wts AS (
      SELECT lang, n_before,
             CAST(floor(sqrt(CAST(n_before AS DOUBLE)) * 1000000) AS BIGINT) AS w
      FROM counts),
    tot AS (SELECT CAST(sum(w) AS BIGINT) AS s FROM wts),
    budget AS (SELECT min((SELECT s FROM tot) * n_before // w) AS b FROM wts),
    targets AS (
      SELECT lang, n_before, w,
             (w * (SELECT b FROM budget)) // (SELECT s FROM tot) AS n_after
      FROM wts),
    ranked AS (
      SELECT d.lang,
             row_number() OVER (
               PARTITION BY d.lang
               ORDER BY {_h_sql("concat('temp:', CAST(doc_id AS VARCHAR))")}, doc_id
             ) AS rnk
      FROM documents d),
    kept AS (
      SELECT r.lang, count(*) AS n_kept
      FROM ranked r JOIN targets t ON r.lang = t.lang AND r.rnk <= t.n_after
      GROUP BY r.lang)
    SELECT t.lang, t.n_before, t.w AS weight_ppm, t.n_after, k.n_kept,
           round(100.0 * k.n_kept / sum(k.n_kept) OVER (), 2) AS actual_pct
    FROM targets t JOIN kept k USING (lang)
    ORDER BY lang
    """,
)
def mix_temperature_sample(spark, sf_dir):
    """τ=1/2 temperature mix: integer sqrt-weights, exact no-upsampling
    budget, deterministic hash-rank selection."""
    t = Tables(spark, sf_dir)
    counts = t.documents.groupBy("lang").agg(F.count("*").alias("n_before"))
    wts = counts.select(
        "lang",
        "n_before",
        F.floor(F.sqrt(F.col("n_before").cast("double")) * 1000000.0)
        .cast("bigint")
        .alias("w"),
    )
    tot = wts.agg(F.sum("w").cast("bigint").alias("s"))
    budget = (
        wts.crossJoin(F.broadcast(tot))
        .agg(F.min(F.expr("(s * n_before) DIV w")).alias("b"))
    )
    targets = (
        wts.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(budget))
        .select("lang", "n_before", "w", F.expr("(w * b) DIV s").alias("n_after"))
    )
    h = F.expr(_h_spark("concat('temp:', CAST(doc_id AS STRING))"))
    ranked = t.documents.select(
        "lang",
        F.row_number()
        .over(W.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc()))
        .alias("rnk"),
    )
    kept = (
        ranked.join(F.broadcast(targets.select("lang", "n_after")), "lang")
        .filter(F.col("rnk") <= F.col("n_after"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_kept"))
    )
    out = targets.join(kept, "lang")
    total = out.agg(F.sum("n_kept").alias("tot"))
    return (
        out.crossJoin(F.broadcast(total))
        .select(
            "lang",
            "n_before",
            F.col("w").alias("weight_ppm"),
            "n_after",
            "n_kept",
            F.round(100.0 * F.col("n_kept") / F.col("tot"), 2).alias("actual_pct"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Largest-remainder (Hamilton) apportionment of a sampling budget across
# languages (beyond-reference — the exact integer step that turns mixture
# WEIGHTS into per-source ROW QUOTAS for an epoch): quota_i = floor(B*w_i/W)
# plus one extra for the largest remainders until the budget is exactly
# spent. Ties on the remainder break by language ascending — fully
# deterministic, no floats anywhere. The output carries the conservation
# proof in-query (alloc_total ≡ B on every row, the self-proving-output
# pattern), so a wrong distribution cannot pass the oracle silently.
#
# Scale design (100 TB): weights come from one hash aggregate; the
# remainder rank is a window over the ≤|languages| weight frame (the
# value-domain-bounded window class) — corpus size never touches the
# apportionment math.
# ---------------------------------------------------------------------------
_APPORTION_BUDGET = 10_000


@register(
    "mix_apportion_budget",
    extra=True,
    sql=f"""
    WITH w AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
               FROM documents GROUP BY lang),
    tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS wtot,
                   CAST(count(*) AS BIGINT) AS n_langs FROM w),
    q AS (SELECT w.lang, w.n_docs,
                 CAST({_APPORTION_BUDGET} * w.n_docs // tot.wtot AS BIGINT) AS base_quota,
                 CAST({_APPORTION_BUDGET} * w.n_docs % tot.wtot AS BIGINT) AS rem
          FROM w CROSS JOIN tot),
    leftovers AS (SELECT CAST({_APPORTION_BUDGET} - sum(base_quota) AS BIGINT) AS l
                  FROM q),
    ranked AS (SELECT q.*, row_number() OVER (ORDER BY rem DESC, lang) AS rr
               FROM q),
    alloc AS (SELECT lang, n_docs, base_quota, rem,
                     CASE WHEN rr <= (SELECT l FROM leftovers) THEN 1 ELSE 0 END
                       AS extra
              FROM ranked)
    SELECT lang, n_docs, base_quota, rem,
           CAST(extra AS BIGINT) AS extra,
           CAST(base_quota + extra AS BIGINT) AS final_quota,
           (SELECT CAST(sum(base_quota + extra) AS BIGINT) FROM alloc) AS alloc_total
    FROM alloc ORDER BY lang
    """,
)
def mix_apportion_budget(spark, sf_dir):
    t = Tables(spark, sf_dir)
    B = _APPORTION_BUDGET
    w = t.documents.groupBy("lang").agg(F.count("*").cast("long").alias("n_docs"))
    tot = w.agg(F.sum("n_docs").cast("long").alias("wtot"))
    q = w.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        F.expr(f"CAST({B} * n_docs div wtot AS BIGINT)").alias("base_quota"),
        F.expr(f"CAST({B} * n_docs % wtot AS BIGINT)").alias("rem"),
    )
    leftovers = q.agg((F.lit(B) - F.sum("base_quota")).cast("long").alias("l"))
    ranked = q.withColumn(
        "rr", F.row_number().over(W.orderBy(F.col("rem").desc(), F.col("lang")))
    )
    alloc = ranked.crossJoin(F.broadcast(leftovers)).select(
        "lang",
        "n_docs",
        "base_quota",
        "rem",
        F.when(F.col("rr") <= F.col("l"), 1).otherwise(0).cast("long").alias("extra"),
    ).cache()
    alloc_total = alloc.agg(
        F.sum(F.col("base_quota") + F.col("extra")).cast("long").alias("alloc_total")
    )
    return (
        alloc.crossJoin(F.broadcast(alloc_total))
        .select(
            "lang",
            "n_docs",
            "base_quota",
            "rem",
            "extra",
            (F.col("base_quota") + F.col("extra")).cast("long").alias("final_quota"),
            "alloc_total",
        )
        .orderBy("lang")
    )
