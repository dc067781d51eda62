"""Tests for the session-6 catalog additions.

Oracle rows for the SQL-expressible ones are the primary gate
(tools/check_oracle.py); these tests pin the invariants the oracle can't
see: the integer z-score identity against a float reference, compression
values against in-process zlib, and ANN-recall boundedness.
"""

from __future__ import annotations

import zlib

import pytest

from tests.conftest import SF_SMOKE


def test_anomaly_zscore_integer_flag_matches_float_z(spark):
    """The BIGINT cross-multiplied |z|>3 test must agree with the float z."""
    from etl_for_dumdums_spark.catalog.timeseries import ts_anomaly_zscore

    rows = ts_anomaly_zscore(spark, SF_SMOKE).collect()
    assert rows
    seen_scored = 0
    for r in rows:
        if r["z"] is None:
            assert r["anomaly_sign"] == 0
            continue
        seen_scored += 1
        if abs(r["z"]) > 3.001:
            assert r["anomaly_sign"] == (1 if r["z"] > 0 else -1)
        elif abs(r["z"]) < 2.999:
            assert r["anomaly_sign"] == 0
    assert seen_scored > 0, "no rows had a full enough window to score"


def test_ann_recall_bounds_and_brute_consistency(spark):
    from etl_for_dumdums_spark.catalog.similarity import _TOPK, sim_ann_recall

    rows = sim_ann_recall(spark, SF_SMOKE).collect()
    assert len(rows) == 10  # the fixed query workload
    for r in rows:
        assert 0 <= r["n_overlap"] <= _TOPK
        assert r["recall_pct"] == r["n_overlap"] * 100 // _TOPK


def test_centroid_assign_partitions_all_vectors(spark):
    from pyspark.sql import functions as F

    from etl_for_dumdums_spark.catalog.similarity import embed_centroid_assign

    rows = embed_centroid_assign(spark, SF_SMOKE).collect()
    n_vecs = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").count()
    assert sum(r["n_assigned"] for r in rows) == n_vecs
    assert {r["centroid_id"] for r in rows} <= set(range(8))
    for r in rows:
        assert 0 < r["purity_pct"] <= 100.0
        # each centroid vector is its own nearest centroid (distance 0 to
        # itself → its cluster is non-empty)
        assert r["n_assigned"] >= 1


def test_compression_ratio_matches_inprocess_zlib(spark):
    from etl_for_dumdums_spark.catalog.textops import (
        _COMPRESS_LEVEL,
        text_compression_ratio,
    )

    rows = {r["lang"]: r for r in text_compression_ratio(spark, SF_SMOKE).collect()}
    import duckdb

    docs = duckdb.sql(
        f"SELECT lang, text FROM '{SF_SMOKE}/documents.parquet'"
    ).fetchall()
    expect: dict[str, list[int]] = {}
    for lang, text in docs:
        b = text.encode("utf-8")
        e = expect.setdefault(lang, [0, 0, 0])
        e[0] += 1
        e[1] += len(b)
        e[2] += len(zlib.compress(b, _COMPRESS_LEVEL))
    assert set(rows) == set(expect)
    for lang, (n, raw, comp) in expect.items():
        r = rows[lang]
        assert (r["n_docs"], r["raw_bytes"], r["comp_bytes"]) == (n, raw, comp)
        assert r["ratio_ppm"] == comp * 1_000_000 // raw


def test_l_diversity_flags(spark):
    from etl_for_dumdums_spark.catalog.privacy import _L_THRESHOLD, privacy_l_diversity

    rows = privacy_l_diversity(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 1 <= r["l_distinct"] <= 3  # three bands exist
        assert r["is_l_diverse"] == (1 if r["l_distinct"] >= _L_THRESHOLD else 0)
        assert r["l_distinct"] <= r["k"]
        assert r["modal_share_pct"] >= 100.0 / r["l_distinct"] - 0.01


def test_star_join_revenue_positive(spark):
    from etl_for_dumdums_spark.catalog.joins import join_star_local_supplier

    rows = join_star_local_supplier(spark, SF_SMOKE).collect()
    assert rows, "ASIA nations with local-supplier revenue expected"
    revs = [r["revenue"] for r in rows]
    assert revs == sorted(revs, reverse=True)
    assert all(r["n_lineitems"] > 0 for r in rows)
