"""Sketch-theoretic invariants for catalog/sketches.py.

Cross-engine value parity is covered by the DuckDB oracle
(tools/check_oracle.py); these tests pin the properties the sketches must
hold by construction:
  * the shared md5-prefix hash matches the reference computation bit-for-bit;
  * HLL's estimate lands within its theoretical error envelope;
  * count-min never underestimates (one-sided error);
  * the Bloom filter has zero false negatives;
  * Spark's built-in DataSketches HLL is deterministic, mergeable and
    bounded-error (no SQL engine can restate its estimate).
"""

from __future__ import annotations

import hashlib
from pathlib import Path

from pyspark.sql import functions as F

from etl_for_dumdums_spark.catalog import Tables
from etl_for_dumdums_spark.catalog.sketches import (
    _BLOOM_M,
    _CMS_D,
    _HLL_M,
    _h_spark,
    sketch_bloom_membership,
    sketch_countmin_heavy,
    sketch_hll_distinct,
)
from tests.conftest import SF_SMOKE

SF_01 = str(Path(SF_SMOKE).parent / "sf0.01")


def _py_h(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_md5_prefix_hash_matches_python(spark):
    vals = ["", "a", "abc", "hello world", "1234567890", "ü-unicode", "cms0:join"]
    df = spark.createDataFrame([(v,) for v in vals], ["s"])
    got = {
        r["s"]: r["h"]
        for r in df.select("s", F.expr(_h_spark("s")).alias("h")).collect()
    }
    for v in vals:
        assert got[v] == _py_h(v), v


def test_hll_within_error_envelope(spark):
    rows = sketch_hll_distinct(spark, SF_SMOKE).collect()
    assert rows, "no groups"
    for r in rows:
        # 1.04/sqrt(1024) ≈ 3.25% standard error; 4 sigma ≈ 13%
        assert r["err_pct"] < 13.0, (r["grp"], r["err_pct"])
        assert r["n_hll"] > 0


def test_countmin_never_underestimates(spark):
    rows = sketch_countmin_heavy(spark, SF_SMOKE).collect()
    assert len(rows) == 10
    for r in rows:
        assert r["n_cms"] >= r["n_exact"], r["word"]
        assert r["n_over"] == r["n_cms"] - r["n_exact"]
    # the 16-cell width is narrower than the vocab: collisions must be real
    assert any(r["n_over"] > 0 for r in rows)


def test_bloom_no_false_negatives(spark):
    row = sketch_bloom_membership(spark, SF_SMOKE).collect()[0]
    assert row["n_false_negative"] == 0
    assert row["n_positive"] >= row["n_true"]
    assert 0 < row["n_bits_set"] <= _BLOOM_M
    assert row["n_probe"] > 0


def test_sketch_state_is_bounded(spark):
    """The aggregation state spaces are fixed regardless of input size —
    the property that makes these the 100 TB substitutes for exact ops."""
    from etl_for_dumdums_spark.catalog.sketches import _CMS_W

    assert _HLL_M * 51 < 1 << 20  # registers × max rho
    assert _CMS_D * _CMS_W < 1 << 10
    assert _BLOOM_M < 1 << 13


def test_histogram_quantile_envelope(spark):
    from etl_for_dumdums_spark.catalog.sketches import sketch_histogram_quantile

    rows = sketch_histogram_quantile(spark, SF_SMOKE).collect()
    assert [r["q"] for r in rows] == [0.5, 0.9, 0.99]
    for r in rows:
        # bin-midpoint error is bounded by half a bin width relative to the
        # value range; these quantiles sit in well-populated territory
        assert r["err_pct"] < 10.0, (r["q"], r["err_pct"])
        assert r["est_value"] > 0 and r["exact_value"] > 0


def test_hll_rollup_merge_is_lossless(spark):
    """Two-hop register merge (day->week->month) must be byte-identical to
    direct computation at every grain (associativity of register max), and
    estimates must stay within the HLL error envelope."""
    from etl_for_dumdums_spark.catalog.sketches import sketch_hll_rollup

    rows = sketch_hll_rollup(spark, SF_SMOKE).collect()
    weeks = [r for r in rows if r["grain"] == "week"]
    months = [r for r in rows if r["grain"] == "month"]
    assert len(weeks) >= 2 and len(months) >= 1, "fixture must span several weeks"

    for r in rows:
        assert r["n_register_mismatch"] == 0, f"merge lost information at {r['period']}"
        # 3-sigma envelope: sigma = 1.04/sqrt(m); small-range linear counting
        # is tighter still, so this bound holds for both estimator branches
        assert abs(r["n_hll"] - r["n_exact"]) / r["n_exact"] <= 3 * 1.04 / (_HLL_M**0.5)

    # the month merges exactly the days its weeks carry, and distinct users
    # at month grain can never exceed the sum over weeks
    for m in months:
        mw = [w for w in weeks if w["period"].startswith(m["period"])]
        assert m["n_days"] == sum(w["n_days"] for w in mw)
        assert m["n_exact"] <= sum(w["n_exact"] for w in mw)


# ---------------------------------------------------------------------------
# DataSketches HLL: deterministic, mergeable, bounded-error — pinned here
# because no SQL engine can restate the DataSketches estimate (same policy
# as text_compression_ratio's zlib values).
# ---------------------------------------------------------------------------
def test_hll_sketch_union_equals_direct_and_bounds_error(spark):
    ev = Tables(spark, SF_01).events
    lg_k = F.lit(14)
    per_type = ev.groupBy("event_type").agg(F.hll_sketch_agg("user_id", lg_k).alias("sk"))
    union_est = per_type.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    ).collect()[0].est
    direct_est = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", lg_k)).alias("est")
    ).collect()[0].est
    exact = ev.select("user_id").distinct().count()
    # mergeability: unioning per-group sketches == sketching the whole column
    assert union_est == direct_est
    # bounded error: lgK=14 gives ~0.8% relative standard error
    assert abs(union_est - exact) <= max(2, 0.05 * exact)
    # determinism: a second run yields the identical estimate
    again = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", lg_k)).alias("est")
    ).collect()[0].est
    assert again == direct_est
