"""Properties of the text-analysis queries (catalog/textops.py) that the
value-hash oracle can't express: the Gopher repetition buckets partition the
corpus, and the TF-IDF top-k equals the plain-window reference while pruning
map-side."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_for_dumdums_spark.catalog.textops import text_repetition_gopher

from .conftest import SF_SMOKE


def test_gopher_buckets_partition_corpus(spark):
    from etl_for_dumdums_spark.catalog import Tables

    docs = Tables(spark, SF_SMOKE).documents
    out = text_repetition_gopher(spark, SF_SMOKE).collect()
    allowed = {"top_word_heavy", "top_bigram_heavy", "dup_word_heavy", "ok"}
    assert {r.repetition_bucket for r in out} <= allowed
    assert sum(r.n_docs for r in out) == docs.count()
    for r in out:
        for col in ("corpus_top_word_frac", "corpus_top_bigram_frac", "corpus_dup_word_frac"):
            v = r[col]
            assert v is None or 0.0 <= v <= 1.0


def test_tfidf_equals_reference_window_and_group_limits_map_side(spark):
    """text_tfidf_topterms must return exactly the reference plain-window
    top-k, and its rank filter must compile to a WindowGroupLimit with a
    Partial stage (map-side per-language prune before the lang exchange)."""
    from pyspark.sql import Window as W

    from etl_for_dumdums_spark.catalog import Tables
    from etl_for_dumdums_spark.catalog.textops import text_tfidf_topterms

    t = Tables(spark, SF_SMOKE)
    words = t.documents.select(
        "doc_id",
        "lang",
        F.explode(
            F.split(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " ")
        ).alias("w"),
    )
    stats = words.groupBy("lang", F.col("w").alias("term")).agg(
        F.count("*").alias("tf"), F.count_distinct("doc_id").alias("df")
    )
    sizes = t.documents.groupBy("lang").agg(F.count("*").alias("n_docs_lang"))
    scored = stats.join(sizes, "lang").withColumn(
        "score", F.col("tf") * F.col("n_docs_lang") * 1.0 / F.col("df")
    )
    wglobal = W.partitionBy("lang").orderBy(F.desc("score"), F.asc("term"))
    plain = (
        scored.withColumn("rn", F.row_number().over(wglobal))
        .filter(F.col("rn") <= 10)
        .select("lang", "term", "rn")
        .collect()
    )
    q = text_tfidf_topterms(spark, SF_SMOKE)
    got = q.select("lang", "term", "rn").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, plain))
    assert len(got) > 0
    phys = q._jdf.queryExecution().executedPlan().toString()
    assert phys.count("WindowGroupLimit") >= 2, "map-side group-limit missing"
