"""Similarity search over the embeddings table (beyond-reference).

Brute-force cosine top-k is the correctness baseline; the sign-bucketed
variant is the scale path (search only within an LSH bucket).

Exact-arithmetic trick for oracle parity: embeddings are quantized to
integers (round(x*1000)) so dot products and squared norms are exact BIGINT
math in both engines — no float-summation-order divergence; only the final
cosine does one double sqrt/division, which is IEEE-deterministic.

Scale design (100 TB):
  * top-k: broadcast the (small) query set, map-side partial top-k per
    partition, single reduce — never a full n×m shuffle;
  * bucketed: bucket id = sign bits of the leading dimensions (a fixed
    random-hyperplane LSH in production); candidate pairs only join within
    a bucket, and buckets above _MAX_SIM_BUCKET are excluded from the pair
    join (sized once, both engines) so the sum(bucket²) cost is hard-bounded
    no matter how the corpus grows;
  * at 100 TB the embedding column would be stored as a fixed-size binary
    and the dot product vectorized via a Pandas UDF over Arrow batches —
    here the data fits the built-in higher-order functions.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from . import ROUND_DP as DP
from . import Tables, register

# integer quantization: exact cross-engine arithmetic (see module docstring)
# The embedding column is float32; both lambdas must promote to DOUBLE
# BEFORE the ×1000, or the engines disagree on round-half boundaries
# (DuckDB's list_transform multiplies in float32: 0.3195f × 1000 is exactly
# 319.5f → 320, while double math gives 319.4999… → 319). vector.py's
# numpy kernel uses the same float64-promote-then-half-away rule.
_IVEC_SQL = "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
_IVEC_SPARK = "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
_DOT_SQL = "list_sum(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]))"
_NORM_SQL = "list_sum(list_transform({v}, x -> x * x))"
_DOT_SPARK = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, x) -> acc + x)"
_NORM_SPARK = "aggregate(transform({v}, x -> x * x), CAST(0 AS BIGINT), (acc, x) -> acc + x)"


def _ivecs(t):
    return t.embeddings.select(
        "vec_id", "label", F.expr(_IVEC_SPARK).alias("v"), F.expr(_NORM_SPARK.format(v=_IVEC_SPARK)).alias("nrm")
    )


# ---------------------------------------------------------------------------
# Brute-force cosine top-k for a fixed query set (vec_id < 10) UNIONED with
# the IVF-bucketed ANN top-k (see sim_ivf_topk below) under a `method`
# column — one result that both exercises the exact baseline and proves the
# inverted-file scale path against the same data. Merged from r01
# sim_topk_cosine + sim_ivf_topk (the standalone IVF query stays below as an
# extra). Brute rows carry bucket = -1.
# ---------------------------------------------------------------------------
_TOPK = 5

# Fixed query workload: ANN serves a BOUNDED query set per job. The IVF
# branch's %-sample alone would grow the query count linearly with the
# corpus, making total pair work O(n²/K) — the same scale hazard as an
# uncapped LSH bucket. With the id bound the per-job cost is |queries| ×
# n/K: linear in n. The bound covers every driver SF's full id space (max
# vec_id 1999 at sf0.1), so oracle results are unchanged; it binds only on
# scaled-up corpora.
_IVF_MAX_QUERY_ID = 2000

# Above this corpus size the brute branch switches from JVM higher-order
# dot products (fine when n is small) to the Arrow/numpy matmul kernel in
# operators/vector.py — one int64 BLAS multiply per batch, bit-exact with
# the JVM path (tests/test_vector_ops.py), and the execution you'd want at
# 100 TB. The row count comes from parquet metadata (no scan).
_VECTORIZE_MIN_ROWS = 50_000


def _brute_topk(spark, sf_dir, vectorize: bool | None = None):
    t = Tables(spark, sf_dir)
    if vectorize is None:
        # footer-metadata count: the path decision costs no Spark job
        vectorize = t.row_count("embeddings") >= _VECTORIZE_MIN_ROWS
    if vectorize:
        from ..operators.vector import cosine_topk_vectorized

        return cosine_topk_vectorized(
            t.embeddings, query_ids=list(range(10)), k=_TOPK, round_dp=DP
        )
    iv = _ivecs(t)
    q = iv.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
    )
    scored = (
        F.broadcast(q)
        .join(iv, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                F.expr(_DOT_SPARK.format(a="qv", b="v"))
                / F.sqrt(F.col("qnrm") * 1.0 * F.col("nrm")),
                DP,
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOPK)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


@register(
    "sim_topk_cosine",
    sql=f"""
    WITH iv AS (
      SELECT vec_id, label, {_IVEC_SQL} AS v, {_NORM_SQL.format(v=_IVEC_SQL)} AS nrm
      FROM embeddings),
    q AS (SELECT * FROM iv WHERE vec_id < 10),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round({_DOT_SQL.format(a='q.v', b='c.v')} / sqrt(q.nrm * 1.0 * c.nrm), {DP}) AS cosine
      FROM q JOIN iv c ON c.vec_id != q.vec_id),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored),
    centroids AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM iv
                  WHERE vec_id < 8),
    assigned AS (
      SELECT vec_id, v, nrm, cid FROM (
        SELECT iv.vec_id, iv.v, iv.nrm, c.cid,
               row_number() OVER (PARTITION BY iv.vec_id
                 ORDER BY iv.nrm + c.cnrm - 2 * {_DOT_SQL.format(a='iv.v', b='c.cv')}, c.cid)
                 AS rnk
        FROM iv CROSS JOIN centroids c)
      WHERE rnk = 1),
    iqueries AS (SELECT * FROM assigned
                 WHERE vec_id % 100 = 7 AND vec_id < {_IVF_MAX_QUERY_ID}),
    iscored AS (
      SELECT q.vec_id AS query_id, q.cid AS bucket, a.vec_id AS neighbor_id,
             round({_DOT_SQL.format(a='q.v', b='a.v')} / sqrt(q.nrm * 1.0 * a.nrm), {DP})
               AS cosine
      FROM iqueries q JOIN assigned a
        ON a.cid = q.cid AND a.vec_id != q.vec_id),
    iranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM iscored)
    SELECT 'brute' AS method, query_id, CAST(-1 AS BIGINT) AS bucket,
           rank, neighbor_id, cosine
    FROM ranked WHERE rank <= {_TOPK}
    UNION ALL
    SELECT 'ivf' AS method, query_id, bucket, rank, neighbor_id, cosine
    FROM iranked WHERE rank <= 3
    ORDER BY method, query_id, rank
    """,
)
def sim_topk_cosine(spark, sf_dir):
    brute = _brute_topk(spark, sf_dir).select(
        F.lit("brute").alias("method"),
        "query_id",
        F.lit(-1).cast("long").alias("bucket"),
        "rank",
        "neighbor_id",
        "cosine",
    )
    ivf = sim_ivf_topk(spark, sf_dir).select(
        F.lit("ivf").alias("method"),
        "query_id",
        F.col("bucket").cast("long").alias("bucket"),
        "rank",
        "neighbor_id",
        "cosine",
    )
    return brute.unionByName(ivf).orderBy("method", "query_id", "rank")


# ---------------------------------------------------------------------------
# Pairwise similarity threshold within sign-LSH buckets (the scale path).
# Bucket = sign pattern of the first 8 dimensions.
#
# Hot-bucket cap (same class of fix as dedup._MAX_BUCKET / _MAX_SHINGLE_DF):
# bucket population grows linearly with corpus size, so an uncapped bucket
# self-join is O(bucket²) with no escape valve. We size every bucket once
# (256-row aggregate) and exclude buckets above _MAX_SIM_BUCKET from the
# pair join, identically in both engines. At production scale the sign-bit
# count would also grow with log(n); the cap is the hard bound either way.
# ---------------------------------------------------------------------------
_SIGN_BITS = 8
_MAX_SIM_BUCKET = 64


def _bucket_sql(v: str) -> str:
    return " + ".join(f"(CASE WHEN {v}[{i + 1}] >= 0 THEN {2**i} ELSE 0 END)" for i in range(_SIGN_BITS))


def _bucket_spark(v: str) -> str:
    return " + ".join(f"(CASE WHEN element_at({v}, {i + 1}) >= 0 THEN {2**i} ELSE 0 END)" for i in range(_SIGN_BITS))


def _bucketed_ivecs(t):
    """Embeddings quantized + sign-bucketed: (vec_id, v, nrm, bucket)."""
    return t.embeddings.select(
        "vec_id",
        F.expr(_IVEC_SPARK).alias("v"),
        F.expr(_NORM_SPARK.format(v=_IVEC_SPARK)).alias("nrm"),
        F.expr(_bucket_spark(_IVEC_SPARK)).alias("bucket"),
    )


def _cap_buckets(iv, max_bucket: int):
    """Split iv into (rows in small buckets + their size, hot-bucket sizes).

    One tiny aggregate (≤2^_SIGN_BITS rows, broadcast back) sizes every
    bucket; only rows in buckets ≤ max_bucket enter any self-join.
    """
    sizes = iv.groupBy("bucket").agg(F.count("*").alias("bucket_size"))
    small = iv.join(
        F.broadcast(sizes.filter(F.col("bucket_size") <= max_bucket)), "bucket", "inner"
    )
    hot = sizes.filter(F.col("bucket_size") > max_bucket)
    return small, hot


@register(
    "sim_lsh_bucketed",
    sql=f"""
    WITH iv AS (
      SELECT vec_id, {_IVEC_SQL} AS v, {_NORM_SQL.format(v=_IVEC_SQL)} AS nrm,
             {_bucket_sql(_IVEC_SQL)} AS bucket
      FROM embeddings),
    sizes AS (SELECT bucket, count(*) AS bucket_size FROM iv GROUP BY bucket),
    small AS (
      SELECT iv.*, s.bucket_size FROM iv JOIN sizes s USING (bucket)
      WHERE s.bucket_size <= {_MAX_SIM_BUCKET}),
    pairs AS (
      SELECT a.bucket, a.bucket_size,
             round({_DOT_SQL.format(a='a.v', b='b.v')} / sqrt(a.nrm * 1.0 * b.nrm), {DP}) AS cosine
      FROM small a JOIN small b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
    SELECT bucket, bucket_size, count(*) AS n_pairs,
           CAST(count_if(cosine >= 0.2) AS BIGINT) AS n_similar,
           round(max(cosine), {DP}) AS max_cosine
    FROM pairs GROUP BY bucket, bucket_size
    HAVING count(*) >= 5
    ORDER BY bucket
    """,
)
def sim_lsh_bucketed(spark, sf_dir, max_bucket: int = _MAX_SIM_BUCKET):
    t = Tables(spark, sf_dir)
    # quantize+bucket the corpus ONCE: sizes and both self-join sides read
    # iv (3 consumers re-ran the embeddings scan + transform before; §5)
    iv = _bucketed_ivecs(t).cache()
    small, _hot = _cap_buckets(iv, max_bucket)
    a = small.alias("a")
    b = small.alias("b")
    pairs = a.join(
        b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") < F.col("b.vec_id"))
    ).select(
        F.col("a.bucket").alias("bucket"),
        F.col("a.bucket_size").alias("bucket_size"),
        F.round(
            F.expr(_DOT_SPARK.format(a="a.v", b="b.v"))
            / F.sqrt(F.col("a.nrm") * 1.0 * F.col("b.nrm")),
            DP,
        ).alias("cosine"),
    )
    return (
        pairs.groupBy("bucket", "bucket_size")
        .agg(
            F.count("*").alias("n_pairs"),
            F.count_if(F.col("cosine") >= 0.2).alias("n_similar"),
            F.round(F.max("cosine"), DP).alias("max_cosine"),
        )
        .filter(F.col("n_pairs") >= 5)
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# IVF-style ANN: the first K vectors serve as fixed centroids (deterministic
# stand-in for trained k-means); every vector is assigned to its nearest
# centroid by exact integer squared-L2 (na + nb − 2·dot), and queries probe
# only their own centroid's bucket. This is the inverted-file scale path:
# search cost drops from O(n) to O(n/K) per query at some recall cost.
# ---------------------------------------------------------------------------
_N_CENTROIDS = 8
_IVF_TOPK = 3


@register(
    "sim_ivf_topk",
    extra=True,
    sql=f"""
    WITH iv AS (
      SELECT vec_id, {_IVEC_SQL} AS v, {_NORM_SQL.format(v=_IVEC_SQL)} AS nrm
      FROM embeddings),
    centroids AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM iv
                  WHERE vec_id < {_N_CENTROIDS}),
    assigned AS (
      SELECT vec_id, v, nrm, cid FROM (
        SELECT iv.vec_id, iv.v, iv.nrm, c.cid,
               row_number() OVER (PARTITION BY iv.vec_id
                 ORDER BY iv.nrm + c.cnrm - 2 * {_DOT_SQL.format(a='iv.v', b='c.cv')}, c.cid)
                 AS rnk
        FROM iv CROSS JOIN centroids c)
      WHERE rnk = 1),
    queries AS (SELECT * FROM assigned
                WHERE vec_id % 100 = 7 AND vec_id < {_IVF_MAX_QUERY_ID}),
    scored AS (
      SELECT q.vec_id AS query_id, q.cid AS bucket, a.vec_id AS neighbor_id,
             round({_DOT_SQL.format(a='q.v', b='a.v')} / sqrt(q.nrm * 1.0 * a.nrm), {DP})
               AS cosine
      FROM queries q JOIN assigned a
        ON a.cid = q.cid AND a.vec_id != q.vec_id),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored)
    SELECT query_id, bucket, rank, neighbor_id, cosine
    FROM ranked WHERE rank <= {_IVF_TOPK}
    ORDER BY query_id, rank
    """,
)
def sim_ivf_topk(spark, sf_dir):
    from pyspark.sql import Window as W2

    t = Tables(spark, sf_dir)
    iv = t.embeddings.select(
        "vec_id",
        F.expr(_IVEC_SPARK).alias("v"),
        F.expr(_NORM_SPARK.format(v=_IVEC_SPARK)).alias("nrm"),
    )
    centroids = iv.filter(F.col("vec_id") < _N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv"), F.col("nrm").alias("cnrm")
    )
    # Nearest centroid as a PURE PROJECTION: the K centroids (bounded,
    # _N_CENTROIDS = 8) are folded into a single-row array via collect_list
    # and crossJoin-broadcast onto every vector; array_min over
    # struct(dist, cid) picks the assignment per row. Equivalent to the old
    # crossJoin(centroids) + groupBy(vec_id).min(struct(dist, cid, ...)):
    # array_min's struct ordering is the same lexicographic (dist, cid) and
    # dist is exact integer math. What it removes (guide §2.4): the Kx row
    # blowup and the two-stage SortAggregate + Exchange that re-grouped the
    # blown-up rows back to one per vec_id — assignment now costs zero
    # shuffles, so the whole IVF branch's only exchange is the rank
    # window's (plan pinned in tests/test_plans.py).
    cent_row = centroids.agg(
        F.collect_list(F.struct("cid", "cv", "cnrm")).alias("cents")
    )
    best = F.expr(
        "array_min(transform(cents, c -> struct("
        "nrm + c.cnrm - 2 * aggregate(zip_with(v, c.cv, (x, y) -> x * y), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x) AS dist, c.cid AS cid)))"
    )
    assigned = (
        iv.crossJoin(F.broadcast(cent_row))
        .select("vec_id", "v", "nrm", best.alias("m"))
        .select("vec_id", "v", "nrm", F.col("m.cid").alias("cid"))
    )
    queries = assigned.filter(
        (F.col("vec_id") % 100 == 7) & (F.col("vec_id") < _IVF_MAX_QUERY_ID)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
        F.col("cid").alias("bucket"),
    )
    # the query workload is bounded (<= _IVF_MAX_QUERY_ID/100 rows) —
    # broadcast it so the probe join never shuffles the corpus (§3.1; was a
    # SortMergeJoin that recomputed AND shuffled both assignment subtrees)
    scored = F.broadcast(queries).join(
        assigned,
        (F.col("cid") == F.col("bucket")) & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        "bucket",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            F.expr(_DOT_SPARK.format(a="qv", b="v"))
            / F.sqrt(F.col("qnrm") * 1.0 * F.col("nrm")),
            DP,
        ).alias("cosine"),
    )
    wrank = W2.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(wrank))
        .filter(F.col("rank") <= _IVF_TOPK)
        .select("query_id", "bucket", "rank", "neighbor_id", "cosine")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup stats per label pair (dedup flavor of ANN).
# ---------------------------------------------------------------------------
@register(
    "sim_label_cohesion",
    extra=True,
    sql=f"""
    WITH iv AS (
      SELECT vec_id, label, {_IVEC_SQL} AS v, {_NORM_SQL.format(v=_IVEC_SQL)} AS nrm
      FROM embeddings WHERE vec_id < 200),
    pairs AS (
      SELECT a.label AS label_a, b.label AS label_b,
             round({_DOT_SQL.format(a='a.v', b='b.v')} / sqrt(a.nrm * 1.0 * b.nrm), {DP}) AS cosine
      FROM iv a JOIN iv b ON a.vec_id < b.vec_id)
    SELECT label_a, label_b, count(*) AS n_pairs,
           (CASE WHEN sum(CAST(round(cosine * 10000) AS BIGINT)) < 0 THEN -1 ELSE 1 END
            * ((2 * abs(sum(CAST(round(cosine * 10000) AS BIGINT))) + count(*))
               // (2 * count(*)))) / 10000.0 AS avg_cosine,
           round(max(cosine), {DP}) AS max_cosine
    FROM pairs GROUP BY label_a, label_b
    ORDER BY label_a, label_b
    """,
)
def sim_label_cohesion(spark, sf_dir):
    t = Tables(spark, sf_dir)
    iv = _ivecs(t).filter(F.col("vec_id") < 200)
    a = iv.alias("a")
    b = iv.alias("b")
    pairs = a.join(b, F.col("a.vec_id") < F.col("b.vec_id")).select(
        F.col("a.label").alias("label_a"),
        F.col("b.label").alias("label_b"),
        F.round(
            F.expr(_DOT_SPARK.format(a="a.v", b="b.v"))
            / F.sqrt(F.col("a.nrm") * 1.0 * F.col("b.nrm")),
            DP,
        ).alias("cosine"),
    )
    # avg over exact 4-dp integer cells (cosine is already rounded to DP, so
    # the cell recovers its integer form losslessly), with the final 4-dp
    # rounding done by the half-away floor-division identity — summation
    # order and engine round() boundary quirks cannot flip the last digit
    # (the raw-double avg diverged at sf0.1)
    cell = F.round(F.col("cosine") * 10000).cast("long")
    agged = pairs.groupBy("label_a", "label_b").agg(
        F.count("*").alias("n_pairs"),
        F.sum(cell).alias("_sc"),
        F.round(F.max("cosine"), DP).alias("max_cosine"),
    )
    return agged.select(
        "label_a",
        "label_b",
        "n_pairs",
        (
            F.expr("CASE WHEN _sc < 0 THEN -1 ELSE 1 END")
            * F.expr("(2 * abs(_sc) + n_pairs) div (2 * n_pairs)")
            / 10000.0
        ).alias("avg_cosine"),
        "max_cosine",
    ).orderBy("label_a", "label_b")


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup: the dedup flavor of ANN (brief's fifth dedup
# family made explicit). Candidate pairs come only from sign-LSH buckets
# (never all-pairs); pairs above the near-dup threshold form drop groups —
# keep the lowest vec_id per group, count the rest as duplicates. Union-find
# is approximated scalably as "drop every vector that has ANY smaller-id
# near-dup partner" (one aggregation over the pair list) — at 100 TB this is
# the standard single-pass dedup reduction; exact connected components would
# be an iterative join (GraphFrames/Pregel) only needed for transitive-merge
# semantics. Hot buckets are excluded from the pair join via _MAX_SIM_BUCKET
# (sized once, same cap in both engines) and reported as
# n_hot_buckets_skipped, mirroring dedup_minhash_lsh.
# ---------------------------------------------------------------------------
_NEARDUP_COS = 0.55


@register(
    "dedup_embedding_neardup",
    extra=True,
    sql=f"""
    WITH iv AS (
      SELECT vec_id, {_IVEC_SQL} AS v, {_NORM_SQL.format(v=_IVEC_SQL)} AS nrm,
             {_bucket_sql(_IVEC_SQL)} AS bucket
      FROM embeddings),
    sizes AS (SELECT bucket, count(*) AS bucket_size FROM iv GROUP BY bucket),
    small AS (
      SELECT iv.* FROM iv JOIN sizes USING (bucket)
      WHERE bucket_size <= {_MAX_SIM_BUCKET}),
    pairs AS (
      SELECT a.vec_id AS keep_id, b.vec_id AS dup_id
      FROM small a JOIN small b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE {_DOT_SQL.format(a='a.v', b='b.v')} / sqrt(a.nrm * 1.0 * b.nrm) >= {_NEARDUP_COS})
    SELECT count(DISTINCT dup_id)                    AS n_docs_dropped,
           count(DISTINCT keep_id)                   AS n_docs_with_dups,
           count(*)                                  AS n_neardup_pairs,
           (SELECT count(*) FROM iv) - count(DISTINCT dup_id) AS n_docs_kept,
           (SELECT count(*) FROM sizes WHERE bucket_size > {_MAX_SIM_BUCKET})
             AS n_hot_buckets_skipped
    FROM pairs
    """,
)
def dedup_embedding_neardup(spark, sf_dir, max_bucket: int = _MAX_SIM_BUCKET):
    t = Tables(spark, sf_dir)
    # quantize+bucket ONCE for sizes, hot and both pair-join sides (§5)
    iv = _bucketed_ivecs(t).cache()
    small, hot = _cap_buckets(iv, max_bucket)
    a, b = small.alias("a"), small.alias("b")
    pairs = a.join(
        b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") < F.col("b.vec_id"))
    ).filter(
        F.expr(_DOT_SPARK.format(a="a.v", b="b.v"))
        / F.sqrt(F.col("a.nrm") * 1.0 * F.col("b.nrm"))
        >= _NEARDUP_COS
    ).select(F.col("a.vec_id").alias("keep_id"), F.col("b.vec_id").alias("dup_id"))
    totals = t.embeddings.agg(F.count("*").alias("n_total"))
    return (
        pairs.agg(
            F.count_distinct("dup_id").alias("n_docs_dropped"),
            F.count_distinct("keep_id").alias("n_docs_with_dups"),
            F.count("*").alias("n_neardup_pairs"),
        )
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(hot.agg(F.count("*").alias("n_hot_buckets_skipped"))))
        .select(
            "n_docs_dropped",
            "n_docs_with_dups",
            "n_neardup_pairs",
            (F.col("n_total") - F.col("n_docs_dropped")).alias("n_docs_kept"),
            "n_hot_buckets_skipped",
        )
    )


# ---------------------------------------------------------------------------
# Int8 embedding quantization audit (operators/vector.py quantize/dequantize):
# the 4x storage cut embedding stores ship, verified end-to-end — per-label
# component sums of the quantized vectors (exact integers), worst
# reconstruction error as integer ppm of the per-vector scale (the symmetric
# max-abs scheme bounds it at ~0.5 * scale per component), and the average
# scale in integer ppb. Every float step (scale division, round, dequantize
# multiply, error subtraction) is the IDENTICAL IEEE expression tree in both
# engines, and every aggregate input is integerized first, so the value hash
# is exact. Pure higher-order column functions; one scan + one small groupBy.
# ---------------------------------------------------------------------------
@register(
    "embed_quantize_int8",
    extra=True,
    sql=f"""
    WITH scaled AS (
      SELECT label, embedding,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS s
      FROM embeddings),
    quant AS (
      SELECT label, embedding, s,
             list_transform(embedding, x -> CASE WHEN s > 0
                 THEN CAST(round(CAST(x AS DOUBLE) / s) AS BIGINT) ELSE 0 END) AS qv
      FROM scaled),
    per AS (
      SELECT label, s,
             len(embedding) AS n_comp,
             CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1,
             CAST(list_max(list_transform(qv, x -> abs(x))) AS BIGINT) AS max_abs_q,
             CASE WHEN s > 0 THEN CAST(floor(
                 (list_max(list_transform(list_zip(embedding, qv),
                     p -> abs(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) * s))) / s)
                 * 1000000.0) AS BIGINT)
               ELSE 0 END AS err_ppm,
             CAST(floor(s * 1000000000.0 + 0.5) AS BIGINT) AS scale_ppb
      FROM quant)
    SELECT label,
           count(*) AS n_vecs,
           CAST(sum(n_comp) AS BIGINT) AS total_components,
           CAST(sum(q_l1) AS BIGINT) AS total_q_l1,
           max(max_abs_q) AS max_abs_q,
           max(err_ppm) AS max_err_ppm,
           round((sum(scale_ppb) * 1.0) / count(*), {DP}) AS avg_scale_ppb,
           CAST(sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_scale
    FROM per GROUP BY label ORDER BY label
    """,
)
def embed_quantize_int8(spark, sf_dir):
    from ..operators.vector import dequantize_embeddings, quantize_embeddings

    t = Tables(spark, sf_dir)
    q = dequantize_embeddings(quantize_embeddings(t.embeddings))
    per = (
        q.select(
            "label",
            F.col("q_scale").alias("s"),
            F.size("embedding").alias("n_comp"),
            F.expr(
                "aggregate(q_vec, CAST(0 AS BIGINT), (a, x) -> a + abs(CAST(x AS BIGINT)))"
            ).alias("q_l1"),
            F.expr(
                "aggregate(q_vec, CAST(0 AS BIGINT), (a, x) -> greatest(a, abs(CAST(x AS BIGINT))))"
            ).alias("max_abs_q"),
            F.expr(
                "aggregate(zip_with(embedding, deq_vec, (x, y) -> abs(CAST(x AS DOUBLE) - y)),"
                " CAST(0.0 AS DOUBLE), (a, e) -> greatest(a, e))"
            ).alias("me"),
        )
        .withColumn(
            "err_ppm",
            F.when(
                F.col("s") > 0,
                F.floor((F.col("me") / F.col("s")) * 1000000.0),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        )
        .withColumn(
            "scale_ppb", F.floor(F.col("s") * 1000000000.0 + F.lit(0.5)).cast("long")
        )
    )
    return (
        per.groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum("n_comp").alias("total_components"),
            F.sum("q_l1").alias("total_q_l1"),
            F.max("max_abs_q").alias("max_abs_q"),
            F.max("err_ppm").alias("max_err_ppm"),
            F.round((F.sum("scale_ppb") * 1.0) / F.count("*"), DP).alias(
                "avg_scale_ppb"
            ),
            F.sum(F.when(F.col("s") == 0, 1).otherwise(0)).alias("n_zero_scale"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Contrastive triplet mining (beyond-reference — embedding-training data
# prep). For each anchor vector: the POSITIVE is its most-similar same-label
# neighbor, the NEGATIVE its most-similar different-label neighbor (the
# "hard negative" — looks close in embedding space but carries the wrong
# label), both restricted to the anchor's sign-LSH bucket. margin =
# pos_cos − neg_cos is the quantity a triplet loss trains on; anchors with
# margin ≤ 0 are the valuable hard cases.
#
# Scale design (100 TB): candidate generation is the SAME capped-bucket
# equi-join as sim_lsh_bucketed — bucket sizes computed once (≤256-row
# aggregate), buckets above _MAX_SIM_BUCKET excluded, so pair work is
# hard-bounded at sum(min(bucket, cap)²) no matter the corpus size. The
# per-anchor argmax is a min-struct aggregation (map-side partial combine),
# not a window over all candidate rows. Cosines are exact-integer dot/norm
# math rounded once (module docstring), so pick order is cross-engine
# deterministic.
# ---------------------------------------------------------------------------


@register(
    "sim_contrastive_triplets",
    extra=True,
    sql=f"""
    WITH iv AS (
      SELECT vec_id, label, {_IVEC_SQL} AS v, {_NORM_SQL.format(v=_IVEC_SQL)} AS nrm,
             {_bucket_sql(_IVEC_SQL)} AS bucket
      FROM embeddings),
    sizes AS (SELECT bucket, count(*) AS bucket_size FROM iv GROUP BY bucket),
    small AS (
      SELECT iv.* FROM iv JOIN sizes s USING (bucket)
      WHERE s.bucket_size <= {_MAX_SIM_BUCKET}),
    cand AS (
      SELECT a.vec_id AS anchor_id, a.label AS label,
             b.vec_id AS neighbor_id, b.label = a.label AS is_pos,
             round({_DOT_SQL.format(a='a.v', b='b.v')} / sqrt(a.nrm * 1.0 * b.nrm), {DP}) AS cosine
      FROM small a JOIN small b
        ON a.bucket = b.bucket AND a.vec_id != b.vec_id),
    best AS (
      SELECT anchor_id, label, is_pos, neighbor_id, cosine,
             row_number() OVER (PARTITION BY anchor_id, is_pos
                                ORDER BY cosine DESC, neighbor_id) AS rn
      FROM cand)
    SELECT p.anchor_id, p.label,
           p.neighbor_id AS pos_id, p.cosine AS pos_cos,
           n.neighbor_id AS neg_id, n.cosine AS neg_cos,
           round(p.cosine - n.cosine, {DP}) AS margin
    FROM (SELECT * FROM best WHERE is_pos AND rn = 1) p
    JOIN (SELECT * FROM best WHERE NOT is_pos AND rn = 1) n USING (anchor_id, label)
    ORDER BY anchor_id
    """,
)
def sim_contrastive_triplets(spark, sf_dir, max_bucket: int = _MAX_SIM_BUCKET):
    """Hard-negative triplet mining over sign-LSH buckets.

    Beyond-reference (reference has no embedding ops); candidate join shape
    shared with sim_lsh_bucketed; argmax per (anchor, is_pos) via
    min-struct aggregation (same equivalence argument as sim_ivf_topk's
    centroid assignment: struct ordering is lexicographic on the window's
    ORDER BY key, cosine is the same rounded IEEE value both engines)."""
    t = Tables(spark, sf_dir)
    iv = t.embeddings.select(
        "vec_id",
        "label",
        F.expr(_IVEC_SPARK).alias("v"),
        F.expr(_NORM_SPARK.format(v=_IVEC_SPARK)).alias("nrm"),
        F.expr(_bucket_spark(_IVEC_SPARK)).alias("bucket"),
    ).cache()  # sizes + both candidate-join sides read iv (§5)
    small, _hot = _cap_buckets(iv, max_bucket)
    a = small.alias("a")
    b = small.alias("b")
    cand = a.join(
        b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") != F.col("b.vec_id"))
    ).select(
        F.col("a.vec_id").alias("anchor_id"),
        F.col("a.label").alias("label"),
        F.col("b.vec_id").alias("neighbor_id"),
        (F.col("b.label") == F.col("a.label")).alias("is_pos"),
        F.round(
            F.expr(_DOT_SPARK.format(a="a.v", b="b.v"))
            / F.sqrt(F.col("a.nrm") * 1.0 * F.col("b.nrm")),
            DP,
        ).alias("cosine"),
    )
    # argmax by (cosine DESC, neighbor_id ASC) == max(struct(cosine, -id))
    best = (
        cand.groupBy("anchor_id", "label", "is_pos")
        .agg(F.max(F.struct(F.col("cosine"), (-F.col("neighbor_id")).alias("nid"))).alias("m"))
        .select(
            "anchor_id",
            "label",
            "is_pos",
            (-F.col("m.nid")).alias("neighbor_id"),
            F.col("m.cosine").alias("cosine"),
        )
    )
    pos = best.filter(F.col("is_pos")).select(
        "anchor_id", "label", F.col("neighbor_id").alias("pos_id"), F.col("cosine").alias("pos_cos")
    )
    neg = best.filter(~F.col("is_pos")).select(
        "anchor_id", "label", F.col("neighbor_id").alias("neg_id"), F.col("cosine").alias("neg_cos")
    )
    return (
        pos.join(neg, ["anchor_id", "label"])
        .select(
            "anchor_id",
            "label",
            "pos_id",
            "pos_cos",
            "neg_id",
            "neg_cos",
            F.round(F.col("pos_cos") - F.col("neg_cos"), DP).alias("margin"),
        )
        .orderBy("anchor_id")
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection + cosine-preservation audit
# (beyond-reference — the dimensionality-reduction step a 100 TB embedding
# pipeline runs BEFORE LSH/IVF so bucket hashing touches 16 dims instead of
# 768). The projection matrix is ±1 signs derived from md5('rp:i:j') — the
# Achlioptas construction, deterministic and engine-neutral, never
# materialized outside the query. Because inputs are the integer-quantized
# vectors (module docstring), every projected component is an exact BIGINT
# dot product — no float summation order anywhere until the final cosines,
# and those divide/sqrt identical integer operands in both engines. The
# audit compares original vs projected cosine over the bounded pair set
# (vec_id < _RP_PAIR_MAX_ID, same bound as sim_label_cohesion) and buckets
# |Δcosine| in 0.05 steps — all output columns are exact integers.
#
# Scale design (100 TB): the sign matrix is a ≤(128·16)-row broadcast; the
# projection is explode → broadcast-join → integer groupBy-sum (map-side
# partial combine), i.e. a matmul-by-join whose shuffle carries k=16 longs
# per vector. The audit's pair join is hard-bounded by the id cap; the
# production matmul path is operators/vector.py's Arrow-batch kernel.
# ---------------------------------------------------------------------------
_RP_K = 16  # projected dimensions
_RP_MAX_DIM = 128  # sign matrix covers input dims up to this (data has 64)
_RP_PAIR_MAX_ID = 200  # bounded audit pair set


def _rp_sign_sql() -> str:
    h = "(('0x' || substr(md5(concat('rp:', CAST(i AS VARCHAR), ':', CAST(j AS VARCHAR))), 1, 15))::UBIGINT::BIGINT)"
    return f"CASE WHEN {h} % 2 = 0 THEN 1 ELSE -1 END"


def _rp_sign_spark() -> str:
    h = "CAST(conv(substr(md5(concat('rp:', CAST(i AS STRING), ':', CAST(j AS STRING))), 1, 15), 16, 10) AS BIGINT)"
    return f"CASE WHEN {h} % 2 = 0 THEN 1 ELSE -1 END"


@register(
    "embed_random_projection",
    extra=True,
    sql=f"""
    WITH iv AS (
      SELECT vec_id, {_IVEC_SQL} AS v, {_NORM_SQL.format(v=_IVEC_SQL)} AS nrm
      FROM embeddings WHERE vec_id < {_RP_PAIR_MAX_ID}),
    ivp AS (SELECT * FROM iv WHERE nrm > 0),
    signs AS (
      SELECT i, j, {_rp_sign_sql()} AS s
      FROM generate_series(1, {_RP_MAX_DIM}) t(i), generate_series(1, {_RP_K}) u(j)),
    comps AS (
      SELECT vec_id, t.i, v[t.i] AS x
      FROM ivp, unnest(generate_series(1, len(v))) AS t(i)),
    proj AS (
      SELECT c.vec_id, s.j, CAST(sum(s.s * c.x) AS BIGINT) AS p
      FROM comps c JOIN signs s ON c.i = s.i
      GROUP BY c.vec_id, s.j),
    pnorm AS (
      SELECT vec_id, CAST(sum(p * p) AS BIGINT) AS pn FROM proj GROUP BY vec_id),
    pdot AS (
      SELECT a.vec_id AS va, b.vec_id AS vb, CAST(sum(a.p * b.p) AS BIGINT) AS dp
      FROM proj a JOIN proj b ON a.j = b.j AND a.vec_id < b.vec_id
      GROUP BY a.vec_id, b.vec_id),
    err AS (
      SELECT CAST(floor(abs(
               CAST({_DOT_SQL.format(a="a.v", b="b.v")} AS DOUBLE)
                 / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE))
               - CASE WHEN pa.pn = 0 OR pb.pn = 0 THEN 0.0
                      ELSE CAST(d.dp AS DOUBLE)
                             / sqrt(CAST(pa.pn AS DOUBLE) * CAST(pb.pn AS DOUBLE))
                 END) * 1000000.0) AS BIGINT) AS err_ppm
      FROM ivp a
      JOIN ivp b ON a.vec_id < b.vec_id
      JOIN pdot d ON d.va = a.vec_id AND d.vb = b.vec_id
      JOIN pnorm pa ON pa.vec_id = a.vec_id
      JOIN pnorm pb ON pb.vec_id = b.vec_id)
    SELECT err_ppm // 50000 AS err_bucket,
           count(*) AS n_pairs,
           CAST(sum(err_ppm) AS BIGINT) AS sum_err_ppm,
           max(err_ppm) AS max_err_ppm
    FROM err GROUP BY err_bucket ORDER BY err_bucket
    """,
)
def embed_random_projection(spark, sf_dir):
    """±1 JL projection to _RP_K dims over integer-quantized embeddings;
    output is a |Δcosine| histogram (0.05 buckets) over the bounded pair
    set — integer-exact in both engines."""
    t = Tables(spark, sf_dir)
    iv = (
        _ivecs(t)
        .filter(F.col("vec_id") < _RP_PAIR_MAX_ID)
        .filter(F.col("nrm") > 0)
        .select("vec_id", "v", "nrm")
    )
    signs = (
        spark.range(1, _RP_MAX_DIM + 1)
        .select(F.col("id").alias("i"))
        .crossJoin(spark.range(1, _RP_K + 1).select(F.col("id").alias("j")))
        .select("i", "j", F.expr(_rp_sign_spark()).alias("s"))
    )
    comps = iv.select(
        "vec_id", F.posexplode("v").alias("pos", "x")
    ).select("vec_id", (F.col("pos") + 1).alias("i"), "x")
    proj = (
        comps.join(F.broadcast(signs), "i")
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("s") * F.col("x")).cast("bigint").alias("p"))
    )
    pnorm = proj.groupBy("vec_id").agg(
        F.sum(F.col("p") * F.col("p")).cast("bigint").alias("pn")
    )
    pa, pb = proj.alias("pa"), proj.alias("pb")
    pdot = (
        pa.join(
            pb,
            (F.col("pa.j") == F.col("pb.j"))
            & (F.col("pa.vec_id") < F.col("pb.vec_id")),
        )
        .groupBy(F.col("pa.vec_id").alias("va"), F.col("pb.vec_id").alias("vb"))
        .agg(F.sum(F.col("pa.p") * F.col("pb.p")).cast("bigint").alias("dp"))
    )
    a, b = iv.alias("a"), iv.alias("b")
    cos_o = F.expr(_DOT_SPARK.format(a="a.v", b="b.v")).cast("double") / F.sqrt(
        F.col("a.nrm").cast("double") * F.col("b.nrm").cast("double")
    )
    cos_p = F.when((F.col("pa.pn") == 0) | (F.col("pb.pn") == 0), F.lit(0.0)).otherwise(
        F.col("dp").cast("double")
        / F.sqrt(F.col("pa.pn").cast("double") * F.col("pb.pn").cast("double"))
    )
    err = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .join(pdot, (F.col("va") == F.col("a.vec_id")) & (F.col("vb") == F.col("b.vec_id")))
        .join(pnorm.alias("pa"), F.col("pa.vec_id") == F.col("a.vec_id"))
        .join(pnorm.alias("pb"), F.col("pb.vec_id") == F.col("b.vec_id"))
        .select(
            F.floor(F.abs(cos_o - cos_p) * 1000000.0).cast("bigint").alias("err_ppm")
        )
    )
    return (
        err.groupBy(F.expr("err_ppm div 50000").alias("err_bucket"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("err_ppm").cast("bigint").alias("sum_err_ppm"),
            F.max("err_ppm").alias("max_err_ppm"),
        )
        .orderBy("err_bucket")
    )


# ---------------------------------------------------------------------------
# ANN recall audit: recall@K of the sign-LSH-bucketed search against the
# exact brute-force top-K, computed IN-QUERY for the fixed query workload
# (vec_id < 10, the same bounded set sim_topk_cosine serves). The bucketed
# candidate set is "same bucket as the query" — exactly what
# sim_lsh_bucketed's pair join sees — so the recall number measures the real
# production trade-off of that plan, per query, on THIS corpus (the same
# measured-not-assumed philosophy as dedup_minhash_audit).
#
# All comparison arithmetic is integer: neighbor sets are compared by id
# after ranking on (rounded cosine desc, neighbor_id), and recall_pct =
# overlap × 100 / K is exact integer division (K = 5 divides 100).
#
# Scale design (100 TB): brute truth is |q| × n work (the bounded-query
# broadcast shape, vectorizable via operators/vector.py); the ANN side is
# |q| × bucket_size. The intersect joins are on (query_id, neighbor_id) —
# tiny (≤ K rows per query). No all-pairs anything.
# ---------------------------------------------------------------------------
@register(
    "sim_ann_recall",
    extra=True,
    sql=f"""
    WITH iv AS (
      SELECT vec_id, {_IVEC_SQL} AS v, {_NORM_SQL.format(v=_IVEC_SQL)} AS nrm,
             {_bucket_sql(_IVEC_SQL)} AS bucket
      FROM embeddings),
    q AS (SELECT * FROM iv WHERE vec_id < 10),
    brute AS (
      SELECT query_id, neighbor_id, rnk FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round({_DOT_SQL.format(a='q.v', b='c.v')}
                                / sqrt(q.nrm * 1.0 * c.nrm), {DP}) DESC,
                          c.vec_id) AS rnk
        FROM q JOIN iv c ON c.vec_id != q.vec_id)
      WHERE rnk <= {_TOPK}),
    ann AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round({_DOT_SQL.format(a='q.v', b='c.v')}
                                / sqrt(q.nrm * 1.0 * c.nrm), {DP}) DESC,
                          c.vec_id) AS rnk
        FROM q JOIN iv c ON c.bucket = q.bucket AND c.vec_id != q.vec_id)
      WHERE rnk <= {_TOPK}),
    hits AS (
      SELECT b.query_id,
             CAST(count(a.neighbor_id) AS BIGINT) AS n_overlap
      FROM brute b LEFT JOIN ann a
        ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
      GROUP BY b.query_id)
    SELECT query_id, n_overlap,
           n_overlap * 100 // {_TOPK} AS recall_pct
    FROM hits ORDER BY query_id
    """,
)
def sim_ann_recall(spark, sf_dir):
    t = Tables(spark, sf_dir)
    iv = _bucketed_ivecs(t)
    q = iv.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
        F.col("bucket").alias("qbucket"),
    )
    cos = F.round(
        F.expr(_DOT_SPARK.format(a="qv", b="v"))
        / F.sqrt(F.col("qnrm") * 1.0 * F.col("nrm")),
        DP,
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))

    def topk(joined):
        return (
            joined.select(
                "query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine")
            )
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= _TOPK)
        )

    brute = topk(F.broadcast(q).join(iv, F.col("vec_id") != F.col("query_id")))
    ann = topk(
        F.broadcast(q).join(
            iv,
            (F.col("bucket") == F.col("qbucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
    )
    hits = (
        brute.select("query_id", "neighbor_id", "rnk")
        .join(
            ann.select("query_id", "neighbor_id").withColumn("hit", F.lit(1)),
            ["query_id", "neighbor_id"],
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("hit").cast("bigint").alias("n_overlap"))
    )
    return hits.select(
        "query_id",
        "n_overlap",
        F.expr(f"n_overlap * 100 div {_TOPK}").alias("recall_pct"),
    ).orderBy("query_id")


# ---------------------------------------------------------------------------
# Deterministic centroid assignment: every vector assigned to its nearest of
# K = 8 fixed centroids (the vectors with vec_id < 8 — a deterministic seed
# set, the same role k-means|| initialization plays in operators/ivf.py,
# which owns the TRAINED path). Nearest-by-L2 reduces to argmin over the
# exact integer quantity nrm_c − 2·dot (the ‖v‖² term is constant per row),
# so assignment is pure BIGINT math — the oracle-able twin of the float
# k-means assignment. Per-cluster stats: size, label purity (share of the
# modal label), and mean scaled distance — integer sums divided once.
#
# Scale design (100 TB): centroids broadcast (K rows); assignment is
# map-side argmin via min-struct aggregation over the K-way fan-out — one
# ×K explode, one hash shuffle on vec_id, one on centroid_id. The same
# shape operators/ivf.py uses for its assignment step.
# ---------------------------------------------------------------------------
@register(
    "embed_centroid_assign",
    extra=True,
    sql=f"""
    WITH iv AS (
      SELECT vec_id, label, {_IVEC_SQL} AS v, {_NORM_SQL.format(v=_IVEC_SQL)} AS nrm
      FROM embeddings),
    cents AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cnrm FROM iv WHERE vec_id < 8),
    scored AS (
      -- argmin with the centroid_id tie-break folded into ONE integer key
      -- (DuckDB's min_by rejects struct ordering keys): centroid_id < 8,
      -- so key = score*8 + id orders exactly like (score, id), and the
      -- winning score is recovered EXACTLY as (key - id) / 8
      SELECT iv.vec_id, iv.label,
             CAST(min_by(c.centroid_id,
                  (c.cnrm - 2 * {_DOT_SQL.format(a='iv.v', b='c.cv')}) * 8 + c.centroid_id)
               AS BIGINT) AS centroid_id,
             CAST(min((c.cnrm - 2 * {_DOT_SQL.format(a='iv.v', b='c.cv')}) * 8 + c.centroid_id)
               AS BIGINT) AS skey
      FROM iv CROSS JOIN cents c
      GROUP BY iv.vec_id, iv.label),
    by_label AS (
      SELECT centroid_id, label, count(*) AS n
      FROM scored GROUP BY centroid_id, label),
    modal AS (
      SELECT centroid_id, max(n) AS modal_n FROM by_label GROUP BY centroid_id),
    stats AS (
      SELECT centroid_id, count(*) AS n_assigned,
             CAST(sum((skey - centroid_id) // 8) AS BIGINT) AS sum_score
      FROM scored GROUP BY centroid_id)
    SELECT s.centroid_id, s.n_assigned,
           round(m.modal_n * 100.0 / s.n_assigned, {DP}) AS purity_pct,
           round(s.sum_score * 1.0 / s.n_assigned, {DP}) AS mean_score
    FROM stats s JOIN modal m ON s.centroid_id = m.centroid_id
    ORDER BY s.centroid_id
    """,
)
def embed_centroid_assign(spark, sf_dir):
    t = Tables(spark, sf_dir)
    iv = _ivecs(t)
    cents = F.broadcast(
        iv.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("centroid_id"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cnrm"),
        )
    )
    # combined integer argmin key (see oracle SQL comment): score*8 + id
    skey = (
        F.col("cnrm") - 2 * F.expr(_DOT_SPARK.format(a="v", b="cv"))
    ) * 8 + F.col("centroid_id")
    scored = (
        iv.crossJoin(cents)
        .select("vec_id", "label", "centroid_id", skey.alias("skey"))
        .groupBy("vec_id", "label")
        .agg(
            F.min_by("centroid_id", F.col("skey")).cast("bigint").alias("centroid_id"),
            F.min("skey").cast("bigint").alias("skey"),
        )
    )
    by_label = scored.groupBy("centroid_id", "label").agg(F.count("*").alias("n"))
    modal = by_label.groupBy("centroid_id").agg(F.max("n").alias("modal_n"))
    # (skey - centroid_id) is divisible by 8, so truncating div == exact div
    stats = scored.groupBy("centroid_id").agg(
        F.count("*").alias("n_assigned"),
        F.sum(F.expr("(skey - centroid_id) div 8")).cast("bigint").alias("sum_score"),
    )
    return (
        stats.join(modal, "centroid_id")
        .select(
            "centroid_id",
            "n_assigned",
            F.round(F.col("modal_n") * 100.0 / F.col("n_assigned"), DP).alias(
                "purity_pct"
            ),
            F.round(F.col("sum_score") * 1.0 / F.col("n_assigned"), DP).alias(
                "mean_score"
            ),
        )
        .orderBy("centroid_id")
    )


# ---------------------------------------------------------------------------
# One EXACT Lloyd iteration of k-means over the integer-quantized embeddings
# (beyond-reference — the iterative-ML-on-aggregates pattern, one unrolled
# step): init centroids = first K
# vectors, assign by integer squared-L2 argmin, UPDATE centroids as exact
# per-dimension truncating-division means (SQL div / DuckDB // both truncate
# toward zero on negatives — NOT Python floor; integer centroids stay integers — no
# float drift to diverge engines), reassign against the updated centroids,
# and report per-cluster movement: init/updated sizes, how many vectors left
# each cluster, and the centroid's exact L1 shift. The trained float path is
# operators/ivf.py (MLlib k-means||); this is its oracle-able integer twin.
#
# Scale design (100 TB): assignment is a K-row broadcast cross join with a
# min_by aggregation (map-side partial combine; the argmin key folds the
# tie-break id into one BIGINT: key = score*K + cid, exact because
# 0 <= cid < K). The update is posexplode -> (cid, dim) hash aggregate —
# K*64 result rows regardless of corpus size. Each Lloyd iteration is one
# pass over the data; the loop never rescans anything else.
# ---------------------------------------------------------------------------
_KM_K = 4


def _km_dot_sql(a: str, b: str) -> str:
    return _DOT_SQL.format(a=a, b=b)


@register(
    "embed_kmeans_lloyd",
    extra=True,
    # Assignment aggregates keep INT-ONLY state: the earlier form carried
    # any_value(v) — 2M per-group list states that DuckDB's memory
    # accounting badly under-counts — and inlined iv into 4 references;
    # the process was OOM-killed twice at the 1000x replica (r8 sweep).
    # Vectors are re-attached by joining the materialized iv instead.
    sql=f"""
    WITH iv AS MATERIALIZED (
      SELECT vec_id, {_IVEC_SQL} AS v FROM embeddings),
    c0 AS MATERIALIZED (
      SELECT vec_id AS cid, v AS cv, {_NORM_SQL.format(v="v")} AS cnrm
      FROM iv WHERE vec_id < {_KM_K}),
    a0c AS MATERIALIZED (
      SELECT iv.vec_id,
             CAST(min_by(c.cid,
                  (c.cnrm - 2 * {_km_dot_sql('iv.v', 'c.cv')}) * {_KM_K} + c.cid)
               AS BIGINT) AS cid0
      FROM iv CROSS JOIN c0 c GROUP BY iv.vec_id),
    comps AS (
      SELECT a0c.cid0 AS cid, t.i, iv.v[t.i] AS x
      FROM iv JOIN a0c USING (vec_id), unnest(generate_series(1, len(iv.v))) AS t(i)),
    c1 AS (
      SELECT cid, i, CAST(sum(x) // count(*) AS BIGINT) AS cx
      FROM comps GROUP BY cid, i),
    c1v AS MATERIALIZED (
      SELECT cid, list(cx ORDER BY i) AS cv FROM c1 GROUP BY cid),
    c1n AS (
      SELECT cid, cv, {_NORM_SQL.format(v="cv")} AS cnrm FROM c1v),
    a1 AS MATERIALIZED (
      SELECT iv.vec_id, any_value(a0c.cid0) AS cid0,
             CAST(min_by(c.cid,
                  (c.cnrm - 2 * {_km_dot_sql('iv.v', 'c.cv')}) * {_KM_K} + c.cid)
               AS BIGINT) AS cid1
      FROM iv JOIN a0c USING (vec_id) CROSS JOIN c1n c GROUP BY iv.vec_id),
    per0 AS (
      SELECT cid0 AS cid, CAST(count(*) AS BIGINT) AS n_init,
             CAST(count_if(cid1 <> cid0) AS BIGINT) AS n_moved_away
      FROM a1 GROUP BY cid0),
    per1 AS (
      SELECT cid1 AS cid, CAST(count(*) AS BIGINT) AS n_updated
      FROM a1 GROUP BY cid1),
    shift AS (
      SELECT c0.cid,
             CAST(list_sum(list_transform(list_zip(c0.cv, c1v.cv),
                  p -> abs(p[1] - p[2]))) AS BIGINT) AS centroid_l1_shift
      FROM c0 JOIN c1v USING (cid))
    SELECT c0.cid AS centroid_id,
           coalesce(per0.n_init, 0) AS n_init,
           coalesce(per1.n_updated, 0) AS n_updated,
           coalesce(per0.n_moved_away, 0) AS n_moved_away,
           coalesce(shift.centroid_l1_shift, 0) AS centroid_l1_shift
    FROM c0
    LEFT JOIN per0 ON per0.cid = c0.cid
    LEFT JOIN per1 ON per1.cid = c0.cid
    LEFT JOIN shift ON shift.cid = c0.cid
    ORDER BY centroid_id
    """,
)
def embed_kmeans_lloyd(spark, sf_dir):
    t = Tables(spark, sf_dir)
    iv = t.embeddings.select("vec_id", F.expr(_IVEC_SPARK).alias("v"))
    c0 = iv.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cid"),
        F.col("v").alias("cv"),
        F.expr(_NORM_SPARK.format(v="v")).alias("cnrm"),
    )

    def assign(src, cents, id_keep: str):
        key = (
            F.col("cnrm") - 2 * F.expr(_DOT_SPARK.format(a="v", b="cv"))
        ) * _KM_K + F.col("cid")
        return (
            src.crossJoin(F.broadcast(cents))
            .groupBy("vec_id")
            .agg(
                F.any_value("v").alias("v"),
                *([F.any_value(id_keep).alias(id_keep)] if id_keep else []),
                F.min_by("cid", key).cast("long").alias("_assigned"),
            )
        )

    # a0 feeds the update, the reassignment, and the reports; a1 feeds two
    # rollups — cache both or the K-way assignment cross join reruns per use
    a0 = assign(iv, c0, "").withColumnRenamed("_assigned", "cid0").cache()
    comps = a0.select(
        F.col("cid0").alias("cid"), F.posexplode("v").alias("pos", "x")
    ).select("cid", (F.col("pos") + 1).alias("i"), "x")
    c1 = comps.groupBy("cid", "i").agg(
        F.expr("CAST(sum(x) div count(*) AS BIGINT)").alias("cx")
    )
    c1v = c1.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "cx"))), lambda s: s["cx"]
        ).alias("cv")
    )
    c1n = c1v.select("cid", "cv", F.expr(_NORM_SPARK.format(v="cv")).alias("cnrm"))
    a1 = assign(a0, c1n, "cid0").withColumnRenamed("_assigned", "cid1").cache()
    per0 = a1.groupBy(F.col("cid0").alias("cid")).agg(
        F.count("*").cast("long").alias("n_init"),
        F.count_if(F.col("cid1") != F.col("cid0")).cast("long").alias("n_moved_away"),
    )
    per1 = a1.groupBy(F.col("cid1").alias("cid")).agg(
        F.count("*").cast("long").alias("n_updated")
    )
    shift = (
        c0.join(c1v.withColumnRenamed("cv", "cv1"), "cid")
        .select(
            "cid",
            F.expr(
                "CAST(aggregate(zip_with(cv, cv1, (x, y) -> abs(x - y)),"
                " CAST(0 AS BIGINT), (a, e) -> a + e) AS BIGINT)"
            ).alias("centroid_l1_shift"),
        )
    )
    return (
        c0.select("cid")
        .join(per0, "cid", "left")
        .join(per1, "cid", "left")
        .join(shift, "cid", "left")
        .select(
            F.col("cid").alias("centroid_id"),
            F.coalesce("n_init", F.lit(0)).cast("long").alias("n_init"),
            F.coalesce("n_updated", F.lit(0)).cast("long").alias("n_updated"),
            F.coalesce("n_moved_away", F.lit(0)).cast("long").alias("n_moved_away"),
            F.coalesce("centroid_l1_shift", F.lit(0))
            .cast("long")
            .alias("centroid_l1_shift"),
        )
        .orderBy("centroid_id")
    )


# ---------------------------------------------------------------------------
# Multi-probe sign-LSH (beyond-reference — the recall dial production LSH
# systems turn before adding hash tables): each query probes its own sign
# bucket PLUS the 8 buckets at Hamming distance 1 (one flipped sign bit),
# 9 probes total. The output puts the single-probe and 9-probe recall@5
# against exact brute-force truth side by side PER QUERY, with the candidate
# counts that bought it — measuring the cost/recall trade on THIS corpus
# (same philosophy as sim_ann_recall / dedup_minhash_audit).
#
# All comparisons are integer: neighbor sets match by id after ranking on
# (rounded cosine DESC, neighbor_id); recall_pct = overlap * 100 / 5 exact.
# NOTE: DuckDB's ^ is POWER — bitwise xor must be xor(a, b) there, while
# Spark SQL uses the ^ operator.
#
# Scale design (100 TB): probes are a 9-way explode of the bounded query
# set; each probe is an equi-join on the bucket key, so candidate work is
# |q| * 9 * avg_bucket. Brute truth stays |q| * n (the bounded-query
# broadcast shape). No all-pairs anything.
# ---------------------------------------------------------------------------
@register(
    "sim_lsh_multiprobe",
    extra=True,
    sql=f"""
    WITH iv AS MATERIALIZED (  -- 4 refs; inlined copies OOMed DuckDB at 2M vectors (r7 1000x sweep)
      SELECT vec_id, {_IVEC_SQL} AS v, {_NORM_SQL.format(v=_IVEC_SQL)} AS nrm,
             {_bucket_sql(_IVEC_SQL)} AS bucket
      FROM embeddings),
    q AS (SELECT * FROM iv WHERE vec_id < 10),
    probes AS (
      SELECT q.vec_id AS query_id, q.v AS qv, q.nrm AS qnrm,
             CASE WHEN t.b = -1 THEN q.bucket
                  ELSE xor(q.bucket, 1 << t.b) END AS pbucket,
             t.b = -1 AS is_exact
      FROM q, unnest(generate_series(-1, {_SIGN_BITS} - 1)) AS t(b)),
    cand AS MATERIALIZED (  -- 3 refs (top9/top1/counts): inlining re-runs the probe join
      SELECT p.query_id, p.is_exact, c.vec_id AS neighbor_id,
             round({_DOT_SQL.format(a='p.qv', b='c.v')}
                   / sqrt(p.qnrm * 1.0 * c.nrm), {DP}) AS cosine
      FROM probes p JOIN iv c
        ON c.bucket = p.pbucket AND c.vec_id != p.query_id),
    top9 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM cand) WHERE rnk <= {_TOPK}),
    top1 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM cand WHERE is_exact) WHERE rnk <= {_TOPK}),
    brute AS MATERIALIZED (  -- 2 refs (r1/r9): inlining doubles the |q|*n brute-force pass
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY round({_DOT_SQL.format(a='q.v', b='c.v')}
                                / sqrt(q.nrm * 1.0 * c.nrm), {DP}) DESC,
                          c.vec_id) AS rnk
        FROM q JOIN iv c ON c.vec_id != q.vec_id) WHERE rnk <= {_TOPK}),
    counts AS (
      SELECT query_id,
             CAST(count(*) AS BIGINT) AS n_cand_9,
             CAST(count_if(is_exact) AS BIGINT) AS n_cand_1
      FROM cand GROUP BY query_id),
    r1 AS (
      SELECT b.query_id, CAST(count(t.neighbor_id) AS BIGINT) AS o1
      FROM brute b LEFT JOIN top1 t
        ON t.query_id = b.query_id AND t.neighbor_id = b.neighbor_id
      GROUP BY b.query_id),
    r9 AS (
      SELECT b.query_id, CAST(count(t.neighbor_id) AS BIGINT) AS o9
      FROM brute b LEFT JOIN top9 t
        ON t.query_id = b.query_id AND t.neighbor_id = b.neighbor_id
      GROUP BY b.query_id)
    SELECT r1.query_id AS query_id, counts.n_cand_1, counts.n_cand_9,
           r1.o1 * 100 // {_TOPK} AS recall_1probe_pct,
           r9.o9 * 100 // {_TOPK} AS recall_9probe_pct
    FROM r1 JOIN r9 ON r1.query_id = r9.query_id
    JOIN counts ON counts.query_id = r1.query_id
    ORDER BY query_id
    """,
)
def sim_lsh_multiprobe(spark, sf_dir):
    t = Tables(spark, sf_dir)
    iv = _bucketed_ivecs(t).cache()
    q = iv.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
        F.col("bucket").alias("qbucket"),
    )
    probes = q.select(
        "query_id",
        "qv",
        "qnrm",
        F.explode(F.sequence(F.lit(-1), F.lit(_SIGN_BITS - 1))).alias("b"),
        "qbucket",
    ).select(
        "query_id",
        "qv",
        "qnrm",
        F.expr(
            "CASE WHEN b = -1 THEN qbucket ELSE qbucket ^ shiftleft(1, b) END"
        ).alias("pbucket"),
        (F.col("b") == -1).alias("is_exact"),
    )
    cand = (
        F.broadcast(probes)
        .join(iv, (F.col("bucket") == F.col("pbucket")) & (F.col("vec_id") != F.col("query_id")))
        .select(
            "query_id",
            "is_exact",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                F.expr(_DOT_SPARK.format(a="qv", b="v"))
                / F.sqrt(F.col("qnrm") * 1.0 * F.col("nrm")),
                DP,
            ).alias("cosine"),
        )
        .cache()
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    top9 = (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOPK)
        .select("query_id", "neighbor_id")
    )
    top1 = (
        cand.filter("is_exact")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOPK)
        .select("query_id", "neighbor_id")
    )
    brute = (
        F.broadcast(q)
        .join(iv, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                F.expr(_DOT_SPARK.format(a="qv", b="v"))
                / F.sqrt(F.col("qnrm") * 1.0 * F.col("nrm")),
                DP,
            ).alias("cosine"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOPK)
        .select("query_id", "neighbor_id")
    )
    counts = cand.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_cand_9"),
        F.count_if("is_exact").cast("long").alias("n_cand_1"),
    )

    def overlap(topk, alias):
        return (
            brute.join(
                topk.withColumnRenamed("neighbor_id", "nid"),
                (brute["query_id"] == topk["query_id"])
                & (F.col("neighbor_id") == F.col("nid")),
                "left",
            )
            .groupBy(brute["query_id"].alias("query_id"))
            .agg(F.count("nid").cast("long").alias(alias))
        )

    r1 = overlap(top1, "o1")
    r9 = overlap(top9, "o9")
    return (
        r1.join(r9, "query_id")
        .join(counts, "query_id")
        .select(
            "query_id",
            "n_cand_1",
            "n_cand_9",
            F.expr(f"o1 * 100 div {_TOPK}").alias("recall_1probe_pct"),
            F.expr(f"o9 * 100 div {_TOPK}").alias("recall_9probe_pct"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# sim_ivf_trained_topk — the TRAINED production ANN path (operators/ivf.py:
# KMeans|| sample-train → broadcast assign-all → centroid-ranked probe →
# bucket-join scoring) under the full value oracle. The trick that makes a
# learned index oracle-able: with nprobe = K (every bucket probed) the IVF
# result is MATHEMATICALLY the brute-force top-k — independent of which
# centroids KMeans picked — because the probed candidate set is the whole
# corpus and the scoring/tie-break (quantized-integer cosine, then
# neighbor_id) is identical to the brute path. So the oracle states the
# brute truth in pure SQL, and a hash match proves the ENTIRE trained
# pipeline end-to-end: train, assign (every vector lands in exactly one
# bucket), probe ranking (all K buckets reached), join, scoring.
#
# The approximate paths stay honest via EAGER in-query assertions (the
# driver sees a FAIL if they break): recall@k is computed for nprobe=1 and
# nprobe=2 against the same truth and must be monotone (probing a superset
# of buckets can only add brute-top-k members to the candidate pool — a
# theorem, not a tunable) and within [0, k]. Recall VALUES aren't asserted
# or output: k-means|| sampling isn't bit-stable across partitionings, so
# pinning them would make the oracle environment-dependent.
#
# Scale design (100 TB): KMeans trains on a bounded deterministic sample
# (vec_id < 2000 — sample-train/assign-all, the module's stated shape);
# assignment is one broadcast-centroids pass; the full-probe leg is the
# correctness gate only — production searches use nprobe << K, whose cost
# is |corpus|/K per probed bucket.
# ---------------------------------------------------------------------------
_IVF_TRAIN_K = 8
_IVF_TRAIN_QUERIES = 6


@register(
    "sim_ivf_trained_topk",
    extra=True,
    sql=f"""
    WITH iv AS (
      SELECT vec_id, {_IVEC_SQL} AS v, {_NORM_SQL.format(v=_IVEC_SQL)} AS nrm
      FROM embeddings),
    q AS (
      SELECT vec_id AS query_id, v AS qv, nrm AS qnrm
      FROM iv WHERE vec_id < {_IVF_TRAIN_QUERIES}),
    scored AS (
      SELECT q.query_id, iv.vec_id AS neighbor_id,
             round({_DOT_SQL.format(a='q.qv', b='iv.v')}
                   / sqrt(q.qnrm * 1.0 * iv.nrm), {DP}) AS cosine
      FROM q JOIN iv ON iv.vec_id != q.query_id),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY cosine DESC, neighbor_id) AS rn
      FROM scored)
    SELECT query_id, CAST(rn AS BIGINT) AS rank, neighbor_id, cosine
    FROM ranked WHERE rn <= {_TOPK} ORDER BY query_id, rank
    """,
)
def sim_ivf_trained_topk(spark, sf_dir):
    from ..operators.ivf import ivf_topk, train_ivf_index

    t = Tables(spark, sf_dir)
    emb = t.embeddings
    assigned, centroids = train_ivf_index(
        emb,
        k=_IVF_TRAIN_K,
        train_on=emb.filter(F.col("vec_id") < 2000),
    )
    # (vec_id, bucket) ints, one row per vector — cached because THREE
    # ivf_topk runs (full probe, nprobe=1, nprobe=2) each join against it;
    # uncached, every run re-ran the MLlib vector-conversion + centroid
    # assignment pass over the full corpus (r9 opt: 8.6s -> see
    # OPTIMIZATION_r09.md)
    assigned = assigned.cache()
    qids = list(range(_IVF_TRAIN_QUERIES))

    def run(nprobe):
        return ivf_topk(
            emb, assigned, qids, k=_TOPK, round_dp=DP,
            nprobe=nprobe, centroids=centroids,
        )

    # full probe == brute truth (returned frame; the oracle restates it).
    # Cached: collected once for the truth set here and consumed again by
    # the caller's terminal action — uncached, the whole probe pipeline
    # re-ran at that action.
    full = run(_IVF_TRAIN_K).cache()
    truth = {
        (r["query_id"], r["neighbor_id"]) for r in full.collect()
    }

    def recall(nprobe):
        got = run(nprobe).collect()
        per = {}
        for r in got:
            key = (r["query_id"], r["neighbor_id"])
            per.setdefault(r["query_id"], 0)
            if key in truth:
                per[r["query_id"]] += 1
        return per

    # the two assertion legs are independent jobs over the cached
    # assignment index — overlap them so the second back-fills the first's
    # straggler tail (guide §2.6) instead of running serially
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f1, f2 = pool.submit(recall, 1), pool.submit(recall, 2)
        r1, r2 = f1.result(), f2.result()
    for qid in r1:
        if not (0 <= r1[qid] <= _TOPK and 0 <= r2.get(qid, 0) <= _TOPK):
            raise AssertionError(f"IVF recall out of bounds for query {qid}")
        if r2.get(qid, 0) < r1[qid]:
            raise AssertionError(
                f"IVF recall not monotone in nprobe for query {qid}: "
                f"nprobe=1 {r1[qid]} > nprobe=2 {r2.get(qid, 0)}"
            )
    return full.select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        "neighbor_id",
        "cosine",
    ).orderBy("query_id", "rank")
