"""Driver-facing query for the COMPOSED corpus-cleaning pipeline.

operators/corpus.py's clean_corpus (langid gate → quality gate → exact
dedup → fingerprint near-dup → banded MinHash-LSH near-dup) was previously
pytest-only; this registers its end-to-end attrition accounting as an
oracled catalog query, so the whole composition — not just its stages in
isolation — sits inside the driver's DuckDB correctness gate.

The Spark side calls the REAL operators (no re-implementation drift); the
SQL mirrors each stage with the same primitives the per-stage queries
already prove cross-engine (textops langid/quality, dedup digests + banded
MinHash with the _MAX_BUCKET hot-bucket cap).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import Tables, register
from .dedup import _MAX_BUCKET, _mh_bands_sql, _mh_sig_select_sql
from .textops import _hits_sql

_TOK = "list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+'))"
_FP = f"md5(array_to_string(list_sort({_TOK}), ' '))"


@register(
    "corpus_clean_report",
    extra=True,  # the driver gate caps at 50 registered queries; this one
    # rides the strict local oracle tier (tools/check_oracle.py) instead
    sql=f"""
    WITH hits AS (
      SELECT doc_id, text,
             {', '.join(f"{_hits_sql(lg)} AS h_{lg}" for lg in ('en', 'de', 'fr', 'es'))},
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
             len({_TOK}) AS n_types
      FROM documents),
    -- every stage frame is MATERIALIZED: the final SELECT counts gated /
    -- exact / fp / drops independently (fp alone is referenced 4x), and
    -- DuckDB's plain-CTE inlining re-ran the whole hits->...->minhash
    -- chain per reference — blew even the 30GiB spill cap at the r8 1000x
    -- sweep. small is additionally self-joined (a x b) inside drops.
    gated AS MATERIALIZED (
      SELECT doc_id, text FROM hits
      WHERE (CASE WHEN h_en = 0 AND h_de = 0 AND h_fr = 0 AND h_es = 0 THEN 'unknown'
                  WHEN h_de > h_en AND h_de >= h_fr AND h_de >= h_es THEN 'de'
                  WHEN h_fr > h_en AND h_fr >= h_es THEN 'fr'
                  WHEN h_es > h_en THEN 'es'
                  ELSE 'en' END) = 'en'
        AND NOT (n_tokens < 20)
        AND NOT (h_en * 100 < n_tokens)
        AND NOT (n_types * 10 < n_tokens * 3)),
    exact AS MATERIALIZED (
      SELECT doc_id, text FROM gated
      QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
    fp AS MATERIALIZED (
      SELECT doc_id, text FROM exact
      QUALIFY row_number() OVER (PARTITION BY {_FP} ORDER BY doc_id) = 1),
    tok AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, unnest({_TOK}) AS w FROM fp)
      WHERE w != ''),
    sig AS (
      {_mh_sig_select_sql('tok')}),
    bands AS (
      {_mh_bands_sql()}),
    small AS MATERIALIZED (
      SELECT doc_id, band, key,
             count(*) OVER (PARTITION BY band, key) AS bucket_size
      FROM bands QUALIFY bucket_size <= {_MAX_BUCKET}),
    drops AS MATERIALIZED (
      SELECT DISTINCT b.doc_id FROM small a JOIN small b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
    SELECT (SELECT count(*) FROM documents)                        AS n_raw,
           (SELECT count(*) FROM gated)                            AS n_after_gates,
           (SELECT count(*) FROM exact)                            AS n_after_exact,
           (SELECT count(*) FROM fp)                               AS n_after_fingerprint,
           (SELECT count(*) FROM fp) - (SELECT count(*) FROM drops) AS n_kept,
           (SELECT count(*) FROM documents)
             - ((SELECT count(*) FROM fp) - (SELECT count(*) FROM drops)) AS n_dropped,
           round(100.0 * ((SELECT count(*) FROM fp) - (SELECT count(*) FROM drops))
                 / (SELECT count(*) FROM documents), 2)            AS keep_rate_pct
    """,
)
def corpus_clean_report(spark, sf_dir):
    from ..operators.corpus import (
        fingerprint_expr,
        gate_documents,
        minhash_neardup_candidates,
    )

    t = Tables(spark, sf_dir)
    docs = t.documents

    # r9 opt: ONE evaluation per stage. The old shape called clean_corpus
    # twice (with/without the MinHash stage) and locally rebuilt the
    # gate/exact prefixes for their counts, so the language-gate regexes —
    # the pipeline's expensive row-local work — ran 5x over the corpus.
    # Now each stage is built once from the SAME real operators
    # (gate_documents / fingerprint_expr / minhash_neardup_candidates —
    # the composition clean_corpus states), the two reused frames are
    # cached, and every count reads its stage frame. Stage semantics and
    # counts are byte-identical; only the evaluation count changed.
    from pyspark.sql import Window

    gated = gate_documents(docs).cache()
    w_exact = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    exact = (
        gated.withColumn("_rn", F.row_number().over(w_exact))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    w_fp = Window.partitionBy(fingerprint_expr()).orderBy("doc_id")
    deduped = (
        exact.withColumn("_rn", F.row_number().over(w_fp))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "text", "predicted_lang", "n_tokens", "quality_bucket")
        .cache()
    )
    cand = minhash_neardup_candidates(deduped)
    drops = cand.select(F.col("db").alias("doc_id")).distinct()
    cleaned = deduped.join(drops, "doc_id", "left_anti")

    counts = (
        docs.agg(F.count("*").alias("n_raw"))
        .crossJoin(F.broadcast(gated.agg(F.count("*").alias("n_after_gates"))))
        .crossJoin(F.broadcast(exact.agg(F.count("*").alias("n_after_exact"))))
        .crossJoin(
            F.broadcast(deduped.agg(F.count("*").alias("n_after_fingerprint")))
        )
        .crossJoin(F.broadcast(cleaned.agg(F.count("*").alias("n_kept"))))
    )
    return counts.select(
        "n_raw",
        "n_after_gates",
        "n_after_exact",
        "n_after_fingerprint",
        "n_kept",
        (F.col("n_raw") - F.col("n_kept")).alias("n_dropped"),
        F.round(F.lit(100.0) * F.col("n_kept") / F.col("n_raw"), 2).alias(
            "keep_rate_pct"
        ),
    )


# ---------------------------------------------------------------------------
# Shard packing under the oracle gate: operators/corpus.py's
# assign_token_shards replaces the single-task `sum() OVER (ORDER BY ...)`
# with operators/ranked.ranged_prefix's range-partitioned cumsum, claiming
# bit equality with the serial rule. The DuckDB oracle STATES the serial rule
# (one global ordered window), so a pass proves the distributed cumsum
# exact — per shard, over every document. Integer token counts only.
# ---------------------------------------------------------------------------
_PACK_BUDGET = 2_000  # tokens per shard at oracle SF (many shards → strong check)


@register(
    "pack_token_shards",
    extra=True,
    sql=f"""
    WITH toks AS (
      SELECT doc_id,
             len(regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))
               AS n_tok
      FROM documents),
    cum AS (
      SELECT doc_id, n_tok,
             sum(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS c
      FROM toks)
    SELECT CAST((c - 1) // {_PACK_BUDGET} AS BIGINT) AS shard_id,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS shard_tokens,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc
    FROM cum GROUP BY shard_id ORDER BY shard_id
    """,
)
def pack_token_shards(spark, sf_dir):
    from ..operators.corpus import assign_token_shards

    t = Tables(spark, sf_dir)
    toks = t.documents.select(
        "doc_id",
        F.size(
            F.split(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " ")
        ).alias("n_tok"),
    )
    packed = assign_token_shards(toks, "doc_id", "n_tok", _PACK_BUDGET)
    return (
        packed.groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("shard_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("shard_id")
    )
