"""IVF ANN with TRAINED centroids (k-means), the production upgrade of
the catalog's fixed-centroid IVF demo (catalog/similarity.py sim_topk_cosine
ivf branch uses the first K vectors as deterministic stand-in centroids so
it stays oracle-checkable in SQL).

Centroid training: a bounded sample trains on the driver with
deterministic k-means++/Lloyd's in numpy; a sample above _LOCAL_TRAIN_CAP
trains with pyspark.ml.clustering.KMeans (k-means|| init, fixed seed). The
index is a plain DataFrame (vec_id, bucket) that joins against any query
batch; searches probe only their own bucket (`nprobe=1`) or the nearest
`nprobe` centroid buckets.

Scale design: training runs on a sample (KMeans cost is O(n·k·dim·iters));
assignment of the full corpus is one broadcast-centroids pass; the probe
join touches |corpus|/k rows per query bucket. All cosine scoring reuses
the integer-quantization trick so scores match the exact brute-force path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame

_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, x) -> acc + x)"
_NORM = "aggregate(transform({v}, x -> x * x), CAST(0 AS BIGINT), (acc, x) -> acc + x)"
# promote float32 components to DOUBLE before the ×1000 so quantization
# matches catalog/similarity.py and vector.py's float64 numpy kernel
_IVEC = "transform({c}, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"

# driver-side training sample bound (guide §5: the driver does no data
# work beyond this; larger samples train with MLlib). 200k rows x 64
# float64 dims ~ 100 MB — far above the intended <=2000-row deterministic
# samples, far below driver limits.
_LOCAL_TRAIN_CAP = 200_000
# rows per distance block in Lloyd's assignment step: 4096 x k=8 x d=64
# float64 is 16 MB per temporary, whatever the sample size
_LLOYD_BLOCK_ROWS = 4096


def _lloyd_numpy(x, k: int, seed: int, max_iter: int) -> list[list[float]]:
    """Deterministic k-means++ init + Lloyd's iterations on the driver.

    ``x`` must be row-sorted deterministically by the caller (we sort by
    id) so the RandomState draws are reproducible across partitionings —
    unlike k-means||, whose per-partition sampling made MLlib centroids
    partitioning-dependent. Ties in assignment go to the lowest centroid
    index (argmin), matching the Spark-side projection's array_min
    struct ordering."""
    import numpy as np

    rng = np.random.RandomState(seed)
    n = x.shape[0]
    centers = np.empty((k, x.shape[1]), dtype=np.float64)
    centers[0] = x[rng.randint(n)]
    d2 = ((x - centers[0]) ** 2).sum(axis=1)
    for j in range(1, k):
        tot = d2.sum()
        if tot <= 0.0:  # all remaining mass at existing centers (degenerate)
            centers[j:] = centers[0]
            break
        centers[j] = x[rng.choice(n, p=d2 / tot)]
        d2 = np.minimum(d2, ((x - centers[j]) ** 2).sum(axis=1))
    assign = None
    for _ in range(max_iter):
        # row blocks bound the n x k x d temporary; each row's distances are
        # the same per-row sums, so assignments do not depend on block size
        new_assign = np.empty(n, dtype=np.intp)
        for lo in range(0, n, _LLOYD_BLOCK_ROWS):
            xb = x[lo : lo + _LLOYD_BLOCK_ROWS]
            dists = ((xb[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
            new_assign[lo : lo + _LLOYD_BLOCK_ROWS] = dists.argmin(axis=1)
        if assign is not None and (new_assign == assign).all():
            break  # assignments stable -> centers are the fixpoint means
        assign = new_assign
        for j in range(k):
            pts = x[assign == j]
            if len(pts):
                centers[j] = pts.mean(axis=0)
    return [list(map(float, c)) for c in centers]


def nearest_centroid_expr(dv_col: str, centroids: list[list[float]]):
    """Nearest-centroid bucket as a PURE PROJECTION over a double-array
    column: the centroid list is folded into an array literal and
    ``array_min`` over struct(dist, cid) picks the assignment per row —
    the same zero-shuffle idiom as catalog sim_ivf_topk (guide §2.4).
    Exact double arithmetic, ties to the lowest centroid index."""
    cents = ", ".join(
        "array(" + ", ".join(f"CAST({float(v)!r} AS DOUBLE)" for v in c) + ")"
        for c in centroids
    )
    return F.expr(
        f"array_min(transform(array({cents}), (c, i) -> struct("
        f"aggregate(zip_with({dv_col}, c, (x, y) -> (x - y) * (x - y)), "
        f"0D, (acc, v) -> acc + v) AS dist, i AS cid))).cid"
    )


def train_ivf_index(
    embeddings: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    max_iter: int = 20,
    train_on: DataFrame | None = None,
) -> tuple[DataFrame, list[list[float]]]:
    """Train k-means centroids and assign every vector to its bucket.

    ``train_on`` (optional) is the training subset — the 100 TB shape is
    sample-train/assign-all: KMeans cost is O(n·k·dim·iters), so training
    runs on a bounded deterministic sample while the broadcast-centroid
    assignment pass covers the full corpus.

    A sample of at most ``_LOCAL_TRAIN_CAP`` rows is collected to the
    driver and trained with deterministic k-means++/Lloyd's in numpy; the
    full corpus is assigned with a broadcast-centroid pure projection.
    Replaces ~2 s of scheduler-bound MLlib micro-jobs (r9 profile: the #2
    cost of sim_ivf_trained_topk) with milliseconds of driver numpy and
    removes the MLlib vector-conversion pass from the assignment (guide
    §1.2). A larger sample trains with pyspark.ml KMeans instead
    (_train_mllib), the cluster-scale trainer. Downstream top-k output is
    centroid-robust by design (full-probe IVF is mathematically the brute
    top-k for ANY centroid set — see catalog sim_ivf_trained_topk), so the
    two trainers yield identical query results; pinned in
    tests/test_optimization_r10.py.

    Returns (assignments DataFrame with (id, bucket), centroid list)."""
    src = train_on if train_on is not None else embeddings
    rows = (
        src.select(F.col(id_col).alias("i"), F.col(vec_col).cast("array<double>").alias("v"))
        .limit(_LOCAL_TRAIN_CAP + 1)
        .collect()
    )
    if len(rows) > _LOCAL_TRAIN_CAP:
        del rows
        return _train_mllib(embeddings, k, id_col, vec_col, seed, max_iter, train_on)
    import numpy as np

    rows.sort(key=lambda r: r["i"])  # partitioning-independent determinism
    x = np.array([r["v"] for r in rows], dtype=np.float64)
    if x.shape[0] < k:
        raise ValueError(f"need >= k={k} training vectors, got {x.shape[0]}")
    centroids = _lloyd_numpy(x, k, seed, max_iter)
    assigned = embeddings.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("_dv"),
    ).select(
        F.col(id_col),
        nearest_centroid_expr("_dv", centroids).alias("bucket"),
    )
    return assigned, centroids


def _train_mllib(
    embeddings: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    seed: int,
    max_iter: int,
    train_on: DataFrame | None,
) -> tuple[DataFrame, list[list[float]]]:
    """train_ivf_index's trainer for samples above ``_LOCAL_TRAIN_CAP``:
    pyspark.ml KMeans (k-means|| init) on the cluster, assignment by the
    fitted model."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    def feat(df):
        return df.select(
            F.col(id_col),
            array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
        )

    feats = feat(embeddings)
    model = KMeans(k=k, seed=seed, maxIter=max_iter).fit(
        feat(train_on) if train_on is not None else feats
    )
    assigned = (
        model.transform(feats)
        .select(F.col(id_col), F.col("prediction").alias("bucket"))
    )
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    return assigned, centroids


def ivf_topk(
    embeddings: DataFrame,
    assignments: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 4,
    nprobe: int = 1,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Top-k cosine neighbors per query, probing the query's own bucket
    (``nprobe=1``) or its ``nprobe`` nearest centroid buckets (pass the
    trained ``centroids``) — the standard recall/cost dial.

    Same quantized-integer scoring and tie-breaks as the exact brute-force
    path, so results differ from it only by IVF recall (missed neighbors in
    unprobed buckets), never by scoring noise."""
    iv = embeddings.select(
        F.col(id_col),
        F.expr(_IVEC.format(c=vec_col)).alias("v"),
        F.expr(_NORM.format(v=_IVEC.format(c=vec_col))).alias("nrm"),
    ).join(assignments, id_col)
    base_queries = iv.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
        F.col("bucket").alias("qbucket"),
    )
    if nprobe > 1:
        if centroids is None:
            raise ValueError("nprobe > 1 requires the trained centroids")
        # (query, probed bucket) pairs: rank centroids by exact integer L2
        # against each query vector; tiny (|queries| x k) cross join
        spark = embeddings.sparkSession
        cent = local_frame(
            spark,
            [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
            "cbucket bigint, cvec array<double>",
        ).select(
            "cbucket",
            F.expr(_IVEC.format(c="cvec")).alias("cv"),
            F.expr(_NORM.format(v=_IVEC.format(c="cvec"))).alias("cnrm"),
        )
        ranked = base_queries.crossJoin(F.broadcast(cent)).select(
            "query_id",
            "qv",
            "qnrm",
            "cbucket",
            (
                F.col("qnrm") + F.col("cnrm") - 2 * F.expr(_DOT.format(a="qv", b="cv"))
            ).alias("dist"),
        )
        wq = Window.partitionBy("query_id").orderBy("dist", "cbucket")
        queries = (
            ranked.withColumn("probe_rank", F.row_number().over(wq))
            .filter(F.col("probe_rank") <= nprobe)
            .select("query_id", "qv", "qnrm", F.col("cbucket").alias("qbucket"))
        )
    else:
        queries = base_queries
    scored = F.broadcast(queries).join(
        iv,
        (F.col("bucket") == F.col("qbucket")) & (F.col(id_col) != F.col("query_id")),
    ).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.round(
            F.expr(_DOT.format(a="qv", b="v")) / F.sqrt(F.col("qnrm") * 1.0 * F.col("nrm")),
            round_dp,
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
        .orderBy("query_id", "rank")
    )
