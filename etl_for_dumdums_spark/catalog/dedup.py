"""Deduplication operators for training-data pipelines (beyond-reference).

Five dedup families over the ``documents`` table, each with a DuckDB oracle.
All hashing is md5-derived so both engines compute bit-identical values.
MinHash permutations use the standard universal-hash construction: ONE md5
per token parsed to a 31-bit integer h, then permutation i is
min over tokens of (a_i*h + b_i) mod p with p = 2^31-1 — arithmetic replaces
7 of the 8 md5 calls per token (measured 3.5x on the signature stage, the
dominant cost at 1000x). Both engines state the identical integer
expressions, so the oracle stays bit-strict.

Scale design (100 TB):
  * exact/fingerprint: single hash-shuffle on the digest; skew-free (digests
    are uniform).
  * MinHash+LSH: tokenize → 8 signatures (one aggregation) → 4 band keys →
    self-join per band bucket. Only bucket-mates join, so cost is
    sum(bucket²) not n²; hot buckets (boilerplate docs) above _MAX_BUCKET
    are dropped by _capped_band_pairs, the one self-join every banded
    family (MinHash, 64-bit SimHash, operators/corpus.py) shares.
  * SimHash: one aggregation per doc (16 bit-counters) then a bucket join —
    64-bit + multi-probe at scale, 16-bit here to exercise collisions at
    test SF.
  * n-gram Jaccard: inverted index join on shingles; posting lists of
    common shingles explode quadratically, so shingles with document
    frequency > _MAX_SHINGLE_DF are dropped before the self-join (the
    stopword-removal analogue), enforced identically in both engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..session import local_frame
from . import ROUND_DP as DP
from . import Tables, register

R = lambda c: F.round(c, DP)  # noqa: E731

_TOKENIZE_SQL = "list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+'))"


def _tokens(df):
    """(doc_id, token) pairs, distinct tokens per doc."""
    return df.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))).alias("w"),
    )


# ---------------------------------------------------------------------------
# Exact + fingerprint dedup in one result: both are digest-groupBy aggregates
# (raw-text md5 for exact; sorted-distinct-token-set md5 for reorder-robust
# fingerprinting), unioned under a `method` column with one stats schema.
# Single shuffle per digest — the scale-safe exact-dedup shape at 100 TB.
# ---------------------------------------------------------------------------
@register(
    "dedup_exact_fingerprint",
    sql=f"""
    WITH eg AS (
      SELECT md5(text) AS digest, count(*) AS n
      FROM documents GROUP BY md5(text)),
    fg AS (
      SELECT source, count(*) AS n
      FROM (SELECT source,
                   md5(array_to_string(list_sort({_TOKENIZE_SQL}), ' ')) AS fingerprint
            FROM documents)
      GROUP BY source, fingerprint)
    SELECT 'exact' AS method, 'ALL' AS source,
           count(*) AS n_groups,
           CAST(sum(n) AS BIGINT) AS n_docs,
           CAST(count_if(n > 1) AS BIGINT) AS n_dup_groups,
           CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT) AS n_docs_in_dup_groups,
           max(n) AS max_group_size
    FROM eg
    UNION ALL
    SELECT 'fingerprint' AS method, source,
           count(*) AS n_groups,
           CAST(sum(n) AS BIGINT) AS n_docs,
           CAST(count_if(n > 1) AS BIGINT) AS n_dup_groups,
           CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT) AS n_docs_in_dup_groups,
           max(n) AS max_group_size
    FROM fg GROUP BY source
    ORDER BY method, source
    """,
)
def dedup_exact_fingerprint(spark, sf_dir):
    # ONE scan for both digest families (r9 optimization): each document
    # row emits its two (method, source, digest) keys via a 2-element
    # explode, then a single groupBy(method, source, digest) counts both
    # branches' groups at once — the old union-of-two-branches form read
    # and decompressed the documents table TWICE and ran two separate
    # 2-stage aggregations. Group counts are identical by construction
    # (same keys, same rows), so the stats are unchanged.
    t = Tables(spark, sf_dir)
    fp = F.md5(
        F.concat_ws(
            " ",
            F.sort_array(F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))),
        )
    )
    both = t.documents.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("exact").alias("method"),
                    F.lit("ALL").alias("source"),
                    F.md5("text").alias("k"),
                ),
                F.struct(
                    F.lit("fingerprint").alias("method"),
                    F.col("source").cast("string").alias("source"),
                    fp.alias("k"),
                ),
            )
        ).alias("e")
    ).select("e.*")
    groups = both.groupBy("method", "source", "k").agg(F.count("*").alias("n"))
    return (
        groups.groupBy("method", "source")
        .agg(
            F.count("*").alias("n_groups"),
            F.sum("n").alias("n_docs"),
            F.count_if(F.col("n") > 1).alias("n_dup_groups"),
            F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(0)).alias("n_docs_in_dup_groups"),
            F.max("n").alias("max_group_size"),
        )
        .orderBy("method", "source")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH: 8 universal-hash permutations over one md5-derived 31-bit
# token hash, 4 bands × 2 rows. Bucket-mates are the candidate pairs — the
# scalable shape of near-dup detection.
# ---------------------------------------------------------------------------
_N_SIG = 8
_BANDS = [(0, 1), (2, 3), (4, 5), (6, 7)]
# universal-hash permutations s_i = (a_i*h + b_i) mod _MH_P over the 31-bit
# base hash h: p is the Mersenne prime 2^31-1, so a*h < 2^62 never overflows
# int64 in either engine; constants are fixed odd mixers < p
_MH_P = (1 << 31) - 1
_MH_A = (1103515245, 1588635695, 1117695901, 661099069,
         1031433411, 1406932606, 915220311, 824938981)
_MH_B = (12345, 390843791, 623167375, 112577317,
         134217689, 777777773, 987654321, 55555333)
# band key packs the two 31-bit row values into one BIGINT (s < 2^31, so
# s_a*2^31 + s_b < 2^62 is unique) — an integer join key, no md5-of-concat
_MH_KEY_SHIFT = 1 << 31


_MH_H31_SQL = f"(CAST('0x' || substring(md5(w), 1, 15) AS BIGINT) % {_MH_P})"


def _mh_sig_select_sql(token_src: str) -> str:
    """``SELECT doc_id, s0..s{_N_SIG-1} FROM <token_src>`` body: one md5 per
    token → 31-bit h, then the _N_SIG arithmetic permutations.
    ``token_src`` must yield (doc_id, w) rows."""
    sigs = ", ".join(
        f"min(({_MH_A[i]} * h + {_MH_B[i]}) % {_MH_P}) AS s{i}" for i in range(_N_SIG)
    )
    return f"""SELECT doc_id, {sigs}
      FROM (SELECT doc_id, {_MH_H31_SQL} AS h FROM {token_src})
      GROUP BY doc_id"""


def _mh_sig_sql(where: str = "") -> str:
    """tok + sig CTE text over the documents table. ``where`` injects an
    input predicate."""
    return f"""
    tok AS (
      SELECT doc_id, unnest({_TOKENIZE_SQL}) AS w FROM documents{where}),
    sig AS (
      {_mh_sig_select_sql('tok')})"""


def _mh_bands_sql() -> str:
    """bands CTE body over sig: one integer key per band."""
    return " UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, s{a} * {_MH_KEY_SHIFT} + s{b} AS key FROM sig"
        for bi, (a, b) in enumerate(_BANDS)
    )


def _mh_sig_from_tokens(tok):
    """(doc_id, s0..s{_N_SIG-1}) from a (doc_id, w) token frame. The base
    hash h is pre-projected so md5+conv runs once per token, not once per
    permutation."""
    h = F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("long") % _MH_P
    pre = tok.select("doc_id", h.alias("h"))
    return pre.groupBy("doc_id").agg(
        *[
            F.min((F.lit(_MH_A[i]) * F.col("h") + F.lit(_MH_B[i])) % _MH_P).alias(f"s{i}")
            for i in range(_N_SIG)
        ]
    )


def _mh_sig(documents):
    """Spark twin of _mh_sig_sql: (doc_id, s0..s7) over the documents frame."""
    return _mh_sig_from_tokens(_tokens(documents))


def _mh_bands(sig):
    """Spark twin of _mh_bands_sql: one explode pass over an array of
    (band, key) structs instead of 4 unioned re-reads of the signature agg."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                (F.col(f"s{a}") * F.lit(_MH_KEY_SHIFT) + F.col(f"s{b}")).alias("key"),
            )
            for bi, (a, b) in enumerate(_BANDS)
        ]
    )
    return sig.select("doc_id", F.explode(band_structs).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
# hot-bucket cap: buckets larger than this are boilerplate-like collisions
# (near-identical token sets); joining them is O(bucket²) for no dedup value
# beyond what any 2 representatives give. Production MinHash pipelines cap
# or sample these; we cap identically in both engines.
_MAX_BUCKET = 64


def _capped_band_pairs(bands, max_bucket: int = _MAX_BUCKET):
    """The capped band self-join over (doc_id, band, key) rows, shared by
    every MinHash/SimHash family. Returns (pairs, hot): the distinct
    candidate pairs (da < db) from buckets of at most ``max_bucket`` docs,
    and the distinct (band, key) buckets above the cap.

    Bucket sizes come from a window count over (band, key) — one shuffle,
    no aggregate-and-join-back — and the sized frame is cached so the
    caller's tokenize→signature subtree (the expensive part) runs ONCE for
    the pair and hot readers instead of once per branch. The self-join's
    equi-keys match the window partitioning, so the cached layout is reused
    without a new Exchange."""
    from pyspark.sql import Window as _W

    sized = bands.withColumn(
        "bucket_size", F.count("*").over(_W.partitionBy("band", "key"))
    ).cache()
    small = sized.filter(F.col("bucket_size") <= max_bucket).select("doc_id", "band", "key")
    a, b = small.alias("a"), small.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .distinct()
    )
    hot = sized.filter(F.col("bucket_size") > max_bucket).select("band", "key").distinct()
    return pairs, hot


def _minhash_cand_sql(where: str = "") -> str:
    """The capped band-join candidate pairs over the documents table, as
    reusable SQL CTE text (the oracle twin of _minhash_candidates).
    ``where`` injects an input predicate (the sampled 100x-oracle tier
    restricts the corpus deterministically; see catalog/sampled.py)."""
    return f"""{_mh_sig_sql(where)},
    bands AS (
      {_mh_bands_sql()}),
    small_bands AS (
      SELECT doc_id, band, key,
             count(*) OVER (PARTITION BY band, key) AS bucket_size
      FROM bands QUALIFY bucket_size <= {_MAX_BUCKET}),
    cand AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      FROM small_bands a JOIN small_bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)"""


def _minhash_candidates(documents):
    """Capped band-join candidate pairs (da < db) over ``documents`` —
    Spark twin of _minhash_cand_sql."""
    return _capped_band_pairs(_mh_bands(_mh_sig(documents)))[0]


@register(
    "dedup_minhash_lsh",
    sql=f"""
    WITH {_minhash_cand_sql()}
    SELECT (SELECT count(*) FROM cand) AS n_candidate_pairs,
           (SELECT count(DISTINCT d) FROM (SELECT da AS d FROM cand UNION SELECT db FROM cand))
             AS n_docs_flagged,
           (SELECT count(*) FROM documents) AS n_docs,
           (SELECT count(*) FROM (SELECT band, key FROM bands
                                  GROUP BY band, key HAVING count(*) > {_MAX_BUCKET}))
             AS n_hot_buckets_skipped
    """,
)
def dedup_minhash_lsh(spark, sf_dir):
    t = Tables(spark, sf_dir)
    cand, hot = _capped_band_pairs(_mh_bands(_mh_sig(t.documents)))
    # pair count + flagged-doc count from ONE pass over the candidate set:
    # explode each pair to its two members — count(*)/2 is the pair count
    # (exact: the exploded row count is even by construction) and
    # count_distinct(d) the flagged docs. The old shape read cand twice
    # (count branch + union-of-both-sides + DISTINCT branch), which cost a
    # cache and an extra 2x|cand| exchange.
    pair_stats = cand.select(F.explode(F.array("da", "db")).alias("d")).agg(
        (F.count("*") / 2).cast("long").alias("n_candidate_pairs"),
        F.count_distinct("d").alias("n_docs_flagged"),
    )
    return (
        pair_stats.crossJoin(F.broadcast(t.documents.agg(F.count("*").alias("n_docs"))))
        .crossJoin(F.broadcast(hot.agg(F.count("*").alias("n_hot_buckets_skipped"))))
        .select("n_candidate_pairs", "n_docs_flagged", "n_docs", "n_hot_buckets_skipped")
    )


# ---------------------------------------------------------------------------
# SimHash (16-bit here; 64-bit at scale): per-token md5 → bit votes → sign.
# Bucket collisions approximate Hamming-near duplicates.
# ---------------------------------------------------------------------------
def _simhash_sql() -> str:
    hexv = "strpos('0123456789abcdef', substr(md5(w), {c}, 1)) - 1"
    bits = []
    for bit in range(16):
        c, j = bit // 4 + 1, bit % 4
        v = hexv.format(c=c)
        bits.append(f"sum(CASE WHEN (({v}) // {2**j}) % 2 = 1 THEN 1 ELSE -1 END) AS b{bit}")
    val = " + ".join(f"(CASE WHEN b{bit} > 0 THEN {2**bit} ELSE 0 END)" for bit in range(16))
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKENIZE_SQL}) AS w FROM documents),
    votes AS (
      SELECT doc_id, {', '.join(bits)} FROM tok GROUP BY doc_id),
    hashed AS (SELECT doc_id, {val} AS simhash FROM votes),
    buckets AS (SELECT simhash, count(*) AS n FROM hashed GROUP BY simhash)
    SELECT count(*)                  AS n_buckets,
           CAST(count_if(n > 1) AS BIGINT) AS n_collision_buckets,
           CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT) AS n_docs_in_collisions,
           max(n)                    AS max_bucket
    FROM buckets
    """


@register("dedup_simhash", sql=_simhash_sql())
def dedup_simhash(spark, sf_dir):
    t = Tables(spark, sf_dir)
    tok = _tokens(t.documents)
    hexv = "locate(substr(md5(w), {c}, 1), '0123456789abcdef') - 1"
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.expr(f"(({hexv.format(c=bit // 4 + 1)}) div {2 ** (bit % 4)}) % 2 = 1"), 1
                ).otherwise(-1)
            ).alias(f"b{bit}")
            for bit in range(16)
        ]
    )
    simhash = sum(
        F.when(F.col(f"b{bit}") > 0, F.lit(2**bit)).otherwise(F.lit(0)) for bit in range(16)
    )
    buckets = votes.select(simhash.alias("simhash")).groupBy("simhash").agg(
        F.count("*").alias("n")
    )
    return buckets.agg(
        F.count("*").alias("n_buckets"),
        F.count_if(F.col("n") > 1).alias("n_collision_buckets"),
        F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(0)).alias("n_docs_in_collisions"),
        F.max("n").alias("max_bucket"),
    )


# ---------------------------------------------------------------------------
# Word-3-gram Jaccard histogram via shingle inverted index, with a
# high-document-frequency shingle cap: a shingle appearing in more than
# _MAX_SHINGLE_DF documents is boilerplate (the stop-word analogue) and its
# posting list would contribute O(DF²) candidate pairs at scale for no dedup
# signal — so it is dropped BEFORE the self-join, in both engines (mirrors
# the MinHash _MAX_BUCKET cap above). Jaccard is then computed over the kept
# shingle sets (sizes and intersections both post-filter, so the metric is
# internally consistent).
# ---------------------------------------------------------------------------
_MAX_SHINGLE_DF = 64


@register(
    "dedup_ngram_jaccard",
    sql=f"""
    WITH arr AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS a FROM documents),
    -- shingles are fingerprinted to the shared 60-bit md5-fold BIGINT at
    -- the explode (r9 opt, same contract as dedup_prefix_jaccard / the
    -- winnowing sketches): every downstream DISTINCT / window sort /
    -- self-join / group moves 8-byte ints instead of ~25-byte trigram
    -- strings. Both engines fold the SAME md5, so parity is exact even
    -- under a collision; equivalence to the raw-string form is pinned in
    -- tests/test_optimization_r09.py.
    sh0 AS (
      SELECT DISTINCT doc_id,
             (('0x' || substr(md5(w), 1, 15))::UBIGINT::BIGINT) AS h
      FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(a) - 1),
                                     i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS w
        FROM arr WHERE len(a) >= 3)),
    -- sh is MATERIALIZED and the DF cap is a window over ONE pass of sh0:
    -- the GROUP/HAVING + JOIN form referenced sh0 twice and sh three times,
    -- and DuckDB's plain-CTE inlining re-ran the full shingle explode +
    -- DISTINCT per reference (~5x) — disk-full at the 1000x sweep (r7).
    -- count(*) OVER (PARTITION BY h) on the post-DISTINCT rows IS the
    -- document frequency, so the kept set is identical.
    sh AS MATERIALIZED (
      SELECT doc_id, h FROM (
        SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS df
        FROM sh0)
      WHERE df <= {_MAX_SHINGLE_DF}),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT x.doc_id AS da, y.doc_id AS db, count(*) AS common
      FROM sh x JOIN sh y ON x.h = y.h AND x.doc_id < y.doc_id
      GROUP BY 1, 2)
    SELECT round(common * 1.0 / (sa.sz + sb.sz - common), 1) AS jaccard_bin,
           count(*) AS n_pairs
    FROM pairs
    JOIN sizes sa ON pairs.da = sa.doc_id
    JOIN sizes sb ON pairs.db = sb.doc_id
    GROUP BY 1 ORDER BY jaccard_bin DESC
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    t = Tables(spark, sf_dir)
    arr = t.documents.select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("a")
    ).filter(F.size("a") >= 3)
    # shingles fingerprinted to the shared 60-bit md5-fold BIGINT at the
    # explode (r9 opt — see the SQL twin's comment): DISTINCT, the DF-cap
    # window sort, the self-join and every group move 8-byte ints, not
    # trigram strings
    sh0 = arr.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(0, size(a) - 3), i -> concat_ws(' ', a[i], a[i+1], a[i+2]))")
        ).alias("w"),
    ).select(
        "doc_id",
        F.expr("CAST(conv(substr(md5(w), 1, 15), 16, 10) AS BIGINT)").alias("h"),
    ).distinct()
    # high-DF cap as a window count over ONE pass of the post-DISTINCT rows
    # (count(*) OVER (PARTITION BY h) IS the document frequency — the
    # same form the DuckDB oracle uses): replaces the old groupBy +
    # left-semi join-back, so the shingle shuffle happens once and the
    # window's (h) partitioning is exactly what the self-join below
    # needs. Cached: sizes, x and y all read sh — uncached, the explode +
    # DISTINCT + window subtree re-ran per reference (the Spark twin of the
    # oracle-side MATERIALIZED fix).
    from pyspark.sql import Window as _W

    sh = (
        sh0.withColumn("df", F.count("*").over(_W.partitionBy("h")))
        .filter(F.col("df") <= _MAX_SHINGLE_DF)
        .select("doc_id", "h")
        .cache()
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    x = sh.alias("x")
    y = sh.alias("y")
    pairs = (
        x.join(
            y,
            (F.col("x.h") == F.col("y.h")) & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .groupBy(F.col("x.doc_id").alias("da"), F.col("y.doc_id").alias("db"))
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        pairs.join(sa, F.col("da") == F.col("sa.doc_id"))
        .join(sb, F.col("db") == F.col("sb.doc_id"))
        .select(
            F.round(
                F.col("common") * 1.0 / (F.col("sa.sz") + F.col("sb.sz") - F.col("common")), 1
            ).alias("jaccard_bin")
        )
        .groupBy("jaccard_bin")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy(F.col("jaccard_bin").desc())
    )


# ---------------------------------------------------------------------------
# 64-bit SimHash with banded Hamming search — the production shape (Manku et
# al., WWW'07: Google's near-dup detection). 64 bit-votes per doc from token
# md5s; the 64-bit fingerprint is held as 4×16-bit band values; by the
# pigeonhole principle any pair within Hamming distance ≤ 3 agrees exactly on
# at least one band, so candidate pairs come from a band-bucket join (same
# capped-bucket shape as MinHash — never all-pairs), then exact Hamming
# verification via bit_count(xor) on the band values. This upgrades the
# 16-bit demo above to the at-scale design its docstring promised.
# ---------------------------------------------------------------------------
_SH64_BITS = 64
_SH64_BANDS = 4  # 16 bits per band
_SH64_HAM_MAX = 3  # banded search is exact for hamming <= bands - 1


def _sh64_vote_exprs(strpos_fn: str, intdiv: str) -> list[str]:
    out = []
    for b in range(_SH64_BITS):
        c, j = b // 4 + 1, b % 4
        hexv = f"{strpos_fn}('0123456789abcdef', substr(md5(w), {c}, 1)) - 1"
        out.append(
            f"sum(CASE WHEN (({hexv}) {intdiv} {2**j}) % 2 = 1 THEN 1 ELSE -1 END) AS v{b}"
        )
    return out


def _sh64_band_exprs() -> list[str]:
    out = []
    for band in range(_SH64_BANDS):
        bits = " + ".join(
            f"(CASE WHEN v{16 * band + l} > 0 THEN {2**l} ELSE 0 END)" for l in range(16)
        )
        out.append(f"CAST({bits} AS BIGINT) AS b{band}")
    return out


def _sh64_sql() -> str:
    votes = ", ".join(_sh64_vote_exprs("strpos", "//"))
    bandvals = ", ".join(_sh64_band_exprs())
    bands_long = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS band, b{i} AS key FROM bandvals" for i in range(_SH64_BANDS)
    )
    hamming = " + ".join(f"bit_count(xor(x.b{i}, y.b{i}))" for i in range(_SH64_BANDS))
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKENIZE_SQL}) AS w FROM documents),
    votes AS (SELECT doc_id, {votes} FROM tok GROUP BY doc_id),
    -- bandvals is the keystone: the token explode + 64-way conditional-sum
    -- GROUP BY above it is the expensive node, and bandvals is referenced
    -- 6x (4 UNION ALL band branches + both sides of the hamming verify).
    -- Plain-CTE inlining re-ran the explode per reference — disk-full at
    -- the 1000x sweep (r7). Materialized it is one row per document.
    bandvals AS MATERIALIZED (SELECT doc_id, {bandvals} FROM votes),
    bands AS MATERIALIZED ({bands_long}),
    small AS (
      SELECT doc_id, band, key,
             count(*) OVER (PARTITION BY band, key) AS bucket_size
      FROM bands QUALIFY bucket_size <= {_MAX_BUCKET}),
    cand AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      FROM small a JOIN small b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
    verified AS (
      SELECT da, db, {hamming} AS hamming
      FROM cand JOIN bandvals x ON x.doc_id = da JOIN bandvals y ON y.doc_id = db),
    confirmed AS MATERIALIZED (SELECT * FROM verified WHERE hamming <= {_SH64_HAM_MAX})
    SELECT (SELECT count(*) FROM documents) AS n_docs,
           (SELECT count(*) FROM cand) AS n_candidate_pairs,
           (SELECT count(*) FROM confirmed) AS n_confirmed_pairs,
           (SELECT count(DISTINCT d) FROM
              (SELECT da AS d FROM confirmed UNION SELECT db FROM confirmed))
             AS n_docs_flagged,
           (SELECT count(*) FROM (SELECT band, key FROM bands
                                  GROUP BY band, key HAVING count(*) > {_MAX_BUCKET}))
             AS n_hot_buckets_skipped
    """


def _sh64_int_vote_exprs() -> list[str]:
    """The 64 vote aggregates over two 32-bit integer halves of the token
    md5 (``ha`` = hex chars 1-8, ``hb`` = chars 9-16) instead of 64
    substr+instr string probes per token. Hex char at 1-based position c
    is nibble ``4*(8-c)`` of ha (c <= 8) / ``4*(16-c)`` of hb, so bit j of
    that hex digit is ``(h div 2^(nibble+j)) % 2`` — exactly the value the
    string form extracts (pinned in tests/test_optimization_r09.py).
    Per-row cost drops from 64 string ops to one conv pair + 64 integer
    shifts (guide §2.3 "narrower types" / §1.2 per-task work)."""
    out = []
    for b in range(_SH64_BITS):
        c, j = b // 4 + 1, b % 4
        src, k = ("ha", 4 * (8 - c) + j) if c <= 8 else ("hb", 4 * (16 - c) + j)
        out.append(
            f"sum(CASE WHEN ({src} div {1 << k}) % 2 = 1 THEN 1 ELSE -1 END) AS v{b}"
        )
    return out


@register("dedup_simhash64", extra=True, sql=_sh64_sql())
def dedup_simhash64(spark, sf_dir):
    t = Tables(spark, sf_dir)
    tok = _tokens(t.documents)
    tokh = tok.select(
        "doc_id",
        F.expr("CAST(conv(substr(md5(w), 1, 8), 16, 10) AS BIGINT)").alias("ha"),
        F.expr("CAST(conv(substr(md5(w), 9, 8), 16, 10) AS BIGINT)").alias("hb"),
    )
    votes = tokh.groupBy("doc_id").agg(
        *[F.expr(e) for e in _sh64_int_vote_exprs()]
    )
    # one row per doc, 5 narrow columns — cached because FOUR subtrees read
    # it (band explode, the x/y verification sides, candidate count); without
    # the cache the 64-bit-vote token aggregation runs once per reader
    bandvals = votes.selectExpr("doc_id", *_sh64_band_exprs()).cache()
    band_structs = F.array(
        *[
            F.struct(F.lit(i).alias("band"), F.col(f"b{i}").alias("key"))
            for i in range(_SH64_BANDS)
        ]
    )
    bands = bandvals.select("doc_id", F.explode(band_structs).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    # the capped self-join caches its sized frame, so the 64-bit vote
    # aggregation runs once, not once per pair/hot reader
    cand, hot = _capped_band_pairs(bands)
    cand = cand.cache()  # read by the verification join AND the candidate count
    x = bandvals.select(
        F.col("doc_id").alias("da"), *[F.col(f"b{i}").alias(f"xa{i}") for i in range(_SH64_BANDS)]
    )
    y = bandvals.select(
        F.col("doc_id").alias("db"), *[F.col(f"b{i}").alias(f"yb{i}") for i in range(_SH64_BANDS)]
    )
    hamming = sum(
        F.bit_count(F.col(f"xa{i}").bitwiseXOR(F.col(f"yb{i}"))) for i in range(_SH64_BANDS)
    )
    verified = cand.join(x, "da").join(y, "db").select("da", "db", hamming.alias("hamming"))
    confirmed = verified.filter(F.col("hamming") <= _SH64_HAM_MAX).cache()
    flagged = confirmed.select(F.col("da").alias("d")).union(
        confirmed.select("db")
    ).distinct()
    return (
        t.documents.agg(F.count("*").alias("n_docs"))
        .crossJoin(cand.agg(F.count("*").alias("n_candidate_pairs")))
        .crossJoin(confirmed.agg(F.count("*").alias("n_confirmed_pairs")))
        .crossJoin(flagged.agg(F.count("*").alias("n_docs_flagged")))
        .crossJoin(hot.agg(F.count("*").alias("n_hot_buckets_skipped")))
    )


# ---------------------------------------------------------------------------
# Transitive dedup groups: EXACT connected components over the MinHash
# candidate-pair graph — the "union-find" semantics every near-dup operator
# above approximates with the single-pass smaller-id reduction. Spark side:
# iterative large-star/small-star contraction (O(log n) rounds; lineage
# truncated per round with localCheckpoint, whose storage is released as
# soon as the next round supersedes it — the canonical iterative-algorithm
# pattern, NOT a driver-side row loop). Oracle side: the same fixpoint as a
# DuckDB recursive CTE (min reachable node id per node). Both engines
# provably converge to min-node-id-per-component, so results are
# bit-identical.
#
# The result also demonstrates WHY production dedup uses the single-pass
# smaller-id reduction instead of transitive merges: on a shared-vocabulary
# corpus the candidate graph chains into giant components (one 324-doc
# component at sf0.01), so transitive-closure dedup over-merges — the exact
# CC is the analysis tool, the capped pairwise reduction is the cleaner.
# ---------------------------------------------------------------------------
_CC_MAX_ITERS = 25  # >= graph diameter for any capped-bucket candidate graph
_DP_CC = 4


def _cc_sql(where: str = "") -> str:
    return f"""
    WITH RECURSIVE
    {_minhash_cand_sql(where)},
    nodes AS (SELECT da AS node FROM cand UNION SELECT db FROM cand),
    edges AS (SELECT da AS src, db AS dst FROM cand
              UNION ALL SELECT db, da FROM cand),
    reach(node, lbl) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
    labels AS (SELECT node, min(lbl) AS comp FROM reach GROUP BY node),
    groups AS (SELECT comp, count(*) AS group_size FROM labels GROUP BY comp)
    SELECT count(*)                         AS n_components,
           CAST(sum(group_size) AS BIGINT)  AS n_docs_in_groups,
           max(group_size)                  AS max_group_size,
           round(sum(group_size) * 1.0 / count(*), {_DP_CC}) AS avg_group_size
    FROM groups
    """


@register("dedup_cc_groups", extra=True, sql=_cc_sql())
def dedup_cc_groups(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return _cc_groups(t.documents)


class _Checkpoint:
    """``df.localCheckpoint(eager=True)`` as ``.df``, plus a handle on its
    storage. Neither ``DataFrame.unpersist`` nor
    ``spark.catalog.clearCache()`` drops a local checkpoint's blocks; this
    ``unpersist`` does, so the handle can go in a ``pins`` list next to
    cached frames (the operators/ranked.py contract)."""

    def __init__(self, df):
        self.df = df.localCheckpoint(eager=True)
        # the checkpointed frame's plan is a LogicalRDD over the RDD whose
        # blocks the checkpoint persisted
        self._rdd = self.df._jdf.queryExecution().logical().rdd()

    def unpersist(self, blocking=False):
        self._rdd.unpersist(blocking)


def _cc_labels_star(cand, pins: list, iters_out: list | None = None):
    """Connected-component labels via alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — O(log n) rounds instead of min-label propagation's
    O(diameter) rounds (r10 opt, guide §1.2: the algorithm first).

    State is a distinct edge set oriented u > v. Per round:
      * large-star: for every node u, attach each STRICTLY LARGER neighbor
        to m = min(closed neighborhood of u) — emitted from the symmetric
        view as (v, m) for rows v > u;
      * small-star: for every node u (edges now all point downward), attach
        u and each of its (smaller) neighbors to the minimum of them.
    Both steps preserve the component partition (every new edge connects
    nodes already connected; no edge between components is ever created),
    and the fixpoint is the min-rooted star forest: (node -> component
    minimum) for every non-root. Convergence is detected by set equality
    of consecutive (distinct) edge sets — equal counts plus an empty
    one-sided difference.

    Returns (node, lbl) with lbl = the component's minimum doc_id — the
    same fixpoint as min-label propagation (the reference
    ``_cc_labels_minlabel`` in tests/test_optimization_r10.py, pinned on
    real data plus synthetic chain/star graphs). The result is lazy over
    the last round's local checkpoint, which is appended to ``pins``:
    ``.unpersist()`` it after the terminal action. Each earlier round's
    checkpoint is released as soon as the next one supersedes it.
    ``iters_out`` (optional list) receives the round count — on a length-n
    chain it is ~log2(n), pinned by test."""
    from pyspark.sql import Window as _W

    wu = _W.partitionBy("u")
    # cand is already DISTINCT (da < db), so the canonical u>v orientation
    # needs no re-dedup
    cp = _Checkpoint(cand.select(F.col("db").alias("u"), F.col("da").alias("v")))
    E = cp.df
    e_cnt = E.count()
    n_iter = 0
    for _ in range(_CC_MAX_ITERS):
        n_iter += 1
        sym = E.union(E.select(F.col("v").alias("u"), F.col("u").alias("v")))
        large = (
            sym.withColumn("m", F.least(F.col("u"), F.min("v").over(wu)))
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # after large-star every edge satisfies u > v, so min(v) over u IS
        # the minimum of the closed smaller-neighborhood
        sm = large.withColumn("m", F.min("v").over(wu))
        new_cp = _Checkpoint(  # truncate per-round lineage
            sm.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(sm.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        new_e = new_cp.df
        new_cnt = new_e.count()
        done = new_cnt == e_cnt and new_e.subtract(E).isEmpty()
        cp.unpersist(blocking=True)  # superseded; new_e no longer reads it
        cp, E, e_cnt = new_cp, new_e, new_cnt
        if done:
            break
    pins.append(cp)
    if iters_out is not None:
        iters_out.append(n_iter)
    # star forest -> labels; the groupBy-min is defensive (at the fixpoint
    # each non-root has exactly one parent: its component minimum)
    return (
        E.select(F.col("u").alias("node"), F.col("v").alias("lbl"))
        .union(E.select(F.col("v").alias("node"), F.col("v").alias("lbl")))
        .groupBy("node")
        .agg(F.min("lbl").alias("lbl"))
    )


def _cc_groups(documents):
    """CC stats over the MinHash candidate graph of ``documents`` — factored
    out so the sampled 100x tier (catalog/sampled.py) can run the identical
    plan on a deterministic corpus subset. The one-row result is collected
    here so the last label checkpoint can be released before returning;
    the returned frame holds no storage."""
    pins = []
    labels = _cc_labels_star(_minhash_candidates(documents), pins)
    groups = labels.groupBy("lbl").agg(F.count("*").alias("group_size"))
    stats = groups.agg(
        F.count("*").alias("n_components"),
        F.sum("group_size").alias("n_docs_in_groups"),
        F.max("group_size").alias("max_group_size"),
        F.round(F.sum("group_size") * 1.0 / F.count("*"), _DP_CC).alias("avg_group_size"),
    )
    try:
        rows = stats.collect()
    finally:
        for p in pins:
            p.unpersist(blocking=True)
    return local_frame(documents.sparkSession, rows, stats.schema)


# ---------------------------------------------------------------------------
# EXACT Jaccard similarity join via prefix filtering (PPJoin family —
# Chaudhuri et al. ICDE'06 / Xiao et al. WWW'08): order each doc's distinct
# word-trigram shingles rarest-first, keep only the first s-ceil(0.8s)+1 as its prefix (for
# threshold 0.8, two docs with J >= t MUST share a prefix token), generate
# candidates by a prefix-token equi-join + size filter (3*min >= sa+sb),
# then verify the EXACT intersection with an integer count join. Unlike
# MinHash/SimHash this has no false negatives or positives — it's the
# deterministic alternative when the threshold is a hard guarantee. The
# rarest-first ordering keeps hot boilerplate tokens out of prefixes, which
# is what bounds the candidate join at corpus scale; all arithmetic is
# integer so both engines agree bit-for-bit. Complexity is output-bound:
# an exact threshold join must emit every qualifying pair, so at
# duplication factor D the pair list itself is O(D^2) per original doc —
# verified green at the 10x replica (249k pairs); at the 100x replica the
# OUTPUT is ~300M pairs by construction and group/count-shaped operators
# (dedup_cc_groups, dedup_minhash_lsh) are the right semantics instead.
# ---------------------------------------------------------------------------
def _prefix_jaccard_sql(where: str = "") -> str:
    # Same two scale lessons as the Spark side (_prefix_jaccard):
    # (1) identical normalized texts are collapsed to one representative
    #     BEFORE the pair machinery — the PPJoin runs on distinct texts
    #     only, and group pairs are expanded algebraically at the end;
    # (2) tokens are fingerprinted to the shared 60-bit md5-fold BIGINT
    #     so every join/group/sort moves 8-byte ints, not trigram strings.
    # Multiply-referenced CTEs are MATERIALIZED (the r8 oracle-surgery
    # lesson: DuckDB re-runs inlined CTEs per reference).
    return f"""
    WITH fp AS MATERIALIZED (
      SELECT doc_id, lower(trim(text)) AS t,
             (('0x' || substr(md5(lower(trim(text))), 1, 15))::UBIGINT::BIGINT) AS fp
      FROM documents{where}),
    grp AS MATERIALIZED (SELECT fp, min(doc_id) AS rep FROM fp GROUP BY fp),
    reps AS MATERIALIZED (
      SELECT f.fp, f.doc_id, f.t FROM fp f JOIN grp g ON g.rep = f.doc_id AND g.fp = f.fp),
    arr AS (
      SELECT doc_id, regexp_split_to_array(t, '\\s+') AS a FROM reps),
    toks AS MATERIALIZED (
      SELECT DISTINCT doc_id,
             (('0x' || substr(md5(w), 1, 15))::UBIGINT::BIGINT) AS h
      FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(a) - 1),
                                     i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS w
        FROM arr WHERE len(a) >= 3)),
    dfreq AS (SELECT h, count(*) AS df FROM toks GROUP BY h),
    sized AS MATERIALIZED (SELECT doc_id, count(*) AS s FROM toks GROUP BY doc_id),
    ranked AS (
      SELECT t.doc_id, t.h,
             row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.h) AS rk
      FROM toks t JOIN dfreq d USING (h)),
    prefix AS (
      -- carry (rk, s): the candidate join applies PPJoin's positional
      -- filter per match row, not just the prefix filter
      SELECT r.doc_id, r.h, r.rk, z.s
      FROM ranked r JOIN sized z USING (doc_id)
      WHERE r.rk <= z.s - (4 * z.s + 4) // 5 + 1),
    cand AS (
      -- size-ratio + positional filter INSIDE the join: a qualifying
      -- pair's first common token satisfies
      -- 1 + min(sa-rka, sb-rkb) >= ceil(4(sa+sb)/9) (Xiao et al., PPJoin),
      -- so dropping match rows that violate it keeps >= 1 row per true
      -- pair while cutting the hot-bucket pair volume ~4x (measured 2.6B
      -- raw match rows at the 1000x replica without it)
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      FROM prefix a JOIN prefix b
        ON a.h = b.h AND a.doc_id < b.doc_id
       AND 5 * least(a.s, b.s) >= 4 * greatest(a.s, b.s)
       AND 1 + least(a.s - a.rk, b.s - b.rk) >= (4 * (a.s + b.s) + 8) // 9),
    inter AS (
      SELECT c.da, c.db, count(*) AS n_shared
      FROM cand c
      JOIN toks ta ON ta.doc_id = c.da
      JOIN toks tb ON tb.doc_id = c.db AND tb.h = ta.h
      GROUP BY c.da, c.db),
    rep_pairs AS MATERIALIZED (
      SELECT i.da, i.db, i.n_shared, za.s AS sa, zb.s AS sb
      FROM inter i JOIN sized za ON za.doc_id = i.da
                   JOIN sized zb ON zb.doc_id = i.db
      WHERE 9 * i.n_shared >= 4 * (za.s + zb.s)),
    sized_fp AS MATERIALIZED (
      SELECT r.fp, z.s FROM reps r JOIN sized z ON z.doc_id = r.doc_id),
    within AS (
      -- identical texts: every in-group pair shares the full token set
      SELECT a.doc_id AS da, b.doc_id AS db, s.s AS n_shared, s.s AS sa, s.s AS sb
      FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
      JOIN sized_fp s ON s.fp = a.fp),
    crossg AS (
      -- a qualifying rep pair qualifies every member pair of its two
      -- groups, with the same stats (token sets are group-invariant)
      SELECT least(ma.doc_id, mb.doc_id) AS da,
             greatest(ma.doc_id, mb.doc_id) AS db,
             p.n_shared,
             CASE WHEN ma.doc_id < mb.doc_id THEN p.sa ELSE p.sb END AS sa,
             CASE WHEN ma.doc_id < mb.doc_id THEN p.sb ELSE p.sa END AS sb
      FROM rep_pairs p
      JOIN reps ra ON ra.doc_id = p.da
      JOIN reps rb ON rb.doc_id = p.db
      JOIN fp ma ON ma.fp = ra.fp
      JOIN fp mb ON mb.fp = rb.fp),
    allp AS (SELECT * FROM within UNION ALL SELECT * FROM crossg)
    SELECT da, db, n_shared, sa, sb,
           round(n_shared * 1.0 / (sa + sb - n_shared), {DP}) AS jaccard
    FROM allp
    ORDER BY da, db
    """


@register("dedup_prefix_jaccard", extra=True, sql=_prefix_jaccard_sql())
def dedup_prefix_jaccard(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return _prefix_jaccard(t.documents)


def _ppj_candidates(prefix):
    """Candidate (da < db) pairs from the PPJoin prefix index, with the
    size-ratio + positional filters INSIDE the join and a LENGTH-BUCKETED
    equi-key (r10 opt, guide §2.2/§2.5: bound hot join groups under skewed
    length distributions).

    Bucket = floor(log2(s)), computed integer-exactly as length(bin(s))-1.
    J >= 0.8 forces 5*min(sa,sb) >= 4*max(sa,sb), i.e. a size ratio
    <= 1.25 < 2, so every qualifying pair's buckets differ by at most 1.
    The LEFT side keeps its home bucket; the RIGHT side is exploded to
    {b-1, b, b+1}, so each qualifying pair meets on the equi-key
    (h, left's home bucket) EXACTLY ONCE — the match-row volume is
    identical to the unbucketed h-only join, but a hot prefix token's join
    group is split across length buckets instead of being one
    |group|^2 cell. Pairs whose buckets differ by more than 1 cannot
    satisfy the (unchanged) explicit ratio filter, so the candidate set is
    byte-identical to the unbucketed form (pinned in
    tests/test_optimization_r10.py)."""
    pb = prefix.withColumn("bkt", (F.length(F.bin("s")) - 1).cast("int"))
    left = pb.alias("a")
    right = (
        pb.withColumn(
            "bkt", F.explode(F.array(F.col("bkt") - 1, F.col("bkt"), F.col("bkt") + 1))
        )
    ).alias("b")
    return (
        left.join(
            right,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.bkt") == F.col("b.bkt"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (5 * F.least("a.s", "b.s") >= 4 * F.greatest("a.s", "b.s"))
            & (
                1 + F.least(F.col("a.s") - F.col("a.rk"), F.col("b.s") - F.col("b.rk"))
                >= F.floor((4 * (F.col("a.s") + F.col("b.s")) + 8) / 9)
            ),
        )
        .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .distinct()
    )


def _prefix_jaccard(documents):
    """Exact PPJoin over ``documents`` — factored out so the sampled
    at-scale tier (catalog/sampled.py) can bound the quadratic pair output
    by restricting the corpus deterministically.

    Scale shape (r9, root-caused by the solo 1000x adjudication — the
    direct pair-by-token form alone filled the box's disk with 46+ GB of
    shuffle spill, because a replicated corpus puts ~8 byte-identical
    copies in every near-dup group and the intersection join touches
    pairs x tokens ~ billions of rows):

    1. **Exact-dedup collapse first** (the production near-dup shape):
       identical normalized texts are fingerprinted and collapsed to one
       representative; the PPJoin machinery runs on DISTINCT texts only.
       Group pairs are then expanded algebraically — identical texts share
       the full token set (n_shared = sa = sb = s, jaccard 1.0), and a
       qualifying rep pair qualifies every member pair of its two groups
       with the same stats. The output is provably identical to the
       direct form: candidates/filters depend only on token sets, which
       are group-invariant.
    2. Tokens are fingerprinted to the shared 60-bit md5-fold BIGINT, so
       joins/groups/sorts move 8-byte ints, not trigram strings. (df, h)
       is still a consistent global token order, so the PPJoin
       prefix-filter guarantee is unchanged; counts are fingerprint-exact
       (same contract as the winnowing sketches).
    3. The rep token set is computed once and cached; verification joins
       each candidate pair to the two per-doc SORTED TOKEN ARRAYS and
       counts array_intersect — no pair-by-token explode, no (da, db)
       re-aggregation, sizes ride along (r10; see rep_pairs below).
    4. The candidate join key is length-bucketed (r10; see
       _ppj_candidates): hot prefix tokens split across floor(log2(s))
       buckets, candidate set provably unchanged."""
    from pyspark.sql import Window as W

    fp = (
        documents.select(
            "doc_id",
            F.lower(F.trim(F.col("text"))).alias("t"),
        )
        .select(
            "doc_id",
            "t",
            F.expr("CAST(conv(substr(md5(t), 1, 15), 16, 10) AS BIGINT)").alias("fp"),
        )
        # one narrow row per document, referenced 5x (grp, the reps join,
        # both `within` sides, both `crossg` member expansions) — uncached,
        # every reader re-scanned documents and re-hashed the full text
        .cache()
    )
    grp = fp.groupBy("fp").agg(F.min("doc_id").alias("rep"))
    reps = (
        fp.alias("f")
        .join(
            grp.alias("g"),
            (F.col("f.fp") == F.col("g.fp")) & (F.col("f.doc_id") == F.col("g.rep")),
        )
        .select(F.col("f.fp").alias("fp"), F.col("f.doc_id").alias("doc_id"), F.col("f.t").alias("t"))
        # one row per distinct text, referenced 3x (tokenization, sized_fp,
        # the crossg rep->group expansion) — cache so the fp⋈grp
        # representative join runs once
        .cache()
    )
    arr = reps.select(
        "doc_id", F.split(F.col("t"), r"\s+").alias("a")
    ).filter(F.size("a") >= 3)
    toks = (
        arr.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(a) - 3), i -> concat_ws(' ', a[i], a[i+1], a[i+2]))"
                )
            ).alias("w"),
        )
        .select(
            "doc_id",
            F.expr("CAST(conv(substr(md5(w), 1, 15), 16, 10) AS BIGINT)").alias("h"),
        )
        .distinct()
        # cached: dfreq / sized / ranked / both intersection sides all read
        # this frame — uncached, each re-ran the tokenize+distinct shuffle
        .cache()
    )
    dfreq = toks.groupBy("h").agg(F.count("*").alias("df"))
    # per-rep sorted token array + size in ONE groupBy over the cached toks
    # (r10 opt): the array is the verification payload (below) and `s` is
    # what prefix / the ratio filters / sized_fp read
    tokarr = toks.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("h")).alias("hs"),
        F.count("*").alias("s"),
    ).cache()
    sized = tokarr.select("doc_id", "s")
    ranked = toks.join(dfreq, "h").select(
        "doc_id",
        "h",
        F.row_number()
        .over(W.partitionBy("doc_id").orderBy("df", "h"))
        .alias("rk"),
    )
    prefix = (
        ranked.join(sized, "doc_id")
        .filter(F.col("rk") <= F.col("s") - F.floor((4 * F.col("s") + 4) / 5) + 1)
        .select("doc_id", "h", "rk", "s")
    )
    # NOTE (r10, measured): hash-repartitioning cand before the verify
    # joins — the fix that bought 5x in dedup_edit_distance — REGRESSES
    # this query (7.4 -> 9.2 s at the 10x replica, same-session A/B): the
    # array-merge verification is cheap per row, so the extra 1.3M-row
    # shuffle costs more than the parallelism it buys. Left unpartitioned
    # deliberately.
    cand = _ppj_candidates(prefix)
    # exact intersection via the per-doc sorted token arrays (r10 opt,
    # guide §2.3/§2.4): joining the two bounded arrays onto each candidate
    # pair and counting array_intersect replaces the pair-by-token explode
    # (|cand| x tokens-per-doc rows through a (db, h) join + a (da, db)
    # groupBy — the dominant stage at the 10x replica, 11 of 24 s) with
    # two size-bounded equi-joins and a per-row merge; the rep_pairs size
    # joins are absorbed (s rides along). toks rows are DISTINCT, so
    # array_intersect of the two distinct sorted arrays is the exact
    # intersection count.
    rep_pairs = (
        cand.join(
            tokarr.select(
                F.col("doc_id").alias("da"),
                F.col("hs").alias("ha"),
                F.col("s").alias("sa"),
            ),
            "da",
        )
        .join(
            tokarr.select(
                F.col("doc_id").alias("db"),
                F.col("hs").alias("hb"),
                F.col("s").alias("sb"),
            ),
            "db",
        )
        .withColumn("n_shared", F.size(F.array_intersect("ha", "hb")).cast("long"))
        .filter(9 * F.col("n_shared") >= 4 * (F.col("sa") + F.col("sb")))
        .select("da", "db", "n_shared", "sa", "sb")
    )
    # ---- expansion back to member pairs ----
    members = fp.select("doc_id", "fp")
    sized_fp = reps.select("fp", "doc_id").join(sized, "doc_id").select("fp", "s")
    ma = members.select(F.col("doc_id").alias("ida"), F.col("fp").alias("fpa"))
    mb = members.select(F.col("doc_id").alias("idb"), F.col("fp").alias("fpb"))
    within = (
        ma.join(mb, (F.col("fpa") == F.col("fpb")) & (F.col("ida") < F.col("idb")))
        .join(sized_fp.select(F.col("fp").alias("fpa"), "s"), "fpa")
        .select(
            F.col("ida").alias("da"),
            F.col("idb").alias("db"),
            F.col("s").alias("n_shared"),
            F.col("s").alias("sa"),
            F.col("s").alias("sb"),
        )
    )
    rep_fp = reps.select(F.col("doc_id").alias("rep"), "fp")
    crossg = (
        rep_pairs.join(rep_fp.select(F.col("rep").alias("da"), F.col("fp").alias("gfa")), "da")
        .join(rep_fp.select(F.col("rep").alias("db"), F.col("fp").alias("gfb")), "db")
        .join(ma.select(F.col("ida"), F.col("fpa").alias("gfa")), "gfa")
        .join(mb.select(F.col("idb"), F.col("fpb").alias("gfb")), "gfb")
        .select(
            F.least("ida", "idb").alias("da2"),
            F.greatest("ida", "idb").alias("db2"),
            "n_shared",
            F.when(F.col("ida") < F.col("idb"), F.col("sa")).otherwise(F.col("sb")).alias("sa2"),
            F.when(F.col("ida") < F.col("idb"), F.col("sb")).otherwise(F.col("sa")).alias("sb2"),
        )
        .select(
            F.col("da2").alias("da"),
            F.col("db2").alias("db"),
            "n_shared",
            F.col("sa2").alias("sa"),
            F.col("sb2").alias("sb"),
        )
    )
    allp = within.unionByName(crossg)
    return (
        allp.select(
            "da",
            "db",
            "n_shared",
            "sa",
            "sb",
            R(F.col("n_shared") * 1.0 / (F.col("sa") + F.col("sb") - F.col("n_shared"))).alias(
                "jaccard"
            ),
        )
        .orderBy("da", "db")
    )


# ---------------------------------------------------------------------------
# Edit-distance-verified near-dup pairs: MinHash-LSH candidates (the same
# banded plan as dedup_minhash_lsh, hot-bucket capped) VERIFIED by bounded
# Levenshtein on the normalized text — the classic block-then-verify fuzzy
# join. The Spark side computes levenshtein with the threshold argument
# (O(len * k) banded DP, returns -1 above the bound), so verification cost
# is bounded per pair no matter the document length; the candidate count is
# bounded by the bucket cap. A pair is kept when the distance is within the
# absolute bound AND within 20% of the longer text (integer comparison).
# DuckDB computes the full distance and applies the identical two filters.
# ---------------------------------------------------------------------------
_EDIT_MAX = 64  # absolute distance bound (the banded-DP threshold)
_EDIT_PCT = 5  # keep when edit_dist * _EDIT_PCT <= max(len) (i.e. <= 20%)


@register(
    "dedup_edit_distance",
    extra=True,
    sql=f"""
    WITH {_minhash_cand_sql()},
    norm AS (
      SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nt
      FROM documents),
    verified AS (
      SELECT c.da, c.db,
             levenshtein(na.nt, nb.nt) AS edit_dist,
             length(na.nt) AS len_a, length(nb.nt) AS len_b
      FROM cand c JOIN norm na ON na.doc_id = c.da JOIN norm nb ON nb.doc_id = c.db)
    SELECT da, db,
           CAST(edit_dist AS BIGINT) AS edit_dist,
           CAST(len_a AS BIGINT) AS len_a,
           CAST(len_b AS BIGINT) AS len_b
    FROM verified
    WHERE edit_dist <= {_EDIT_MAX}
      AND edit_dist * {_EDIT_PCT} <= greatest(len_a, len_b)
    ORDER BY da, db
    """,
)
def dedup_edit_distance(spark, sf_dir):
    t = Tables(spark, sf_dir)
    # Spread the verification (r10 opt): the candidate DISTINCT's output is
    # tiny by BYTES, so AQE's size-based coalescing packs it into ~1
    # partition — and the O(len·k) Levenshtein DP over every pair then ran
    # in ONE task (measured: 5+ s serial at the 10x replica for work 32
    # cores finish in <0.5 s). Hash-repartitioning the pair list by its
    # (deterministic) key before the verify stage sizes partitions by
    # COMPUTE, not bytes.
    cand = _minhash_candidates(t.documents).repartition(
        spark.sparkContext.defaultParallelism, "da", "db"
    )
    norm = t.documents.select(
        "doc_id",
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ").alias("nt"),
    )
    na = norm.select(F.col("doc_id").alias("da"), F.col("nt").alias("nta"))
    nb = norm.select(F.col("doc_id").alias("db"), F.col("nt").alias("ntb"))
    verified = (
        cand.join(na, "da")
        .join(nb, "db")
        # candidate-volume guard (r10): |len_a - len_b| > _EDIT_MAX already
        # implies levenshtein > _EDIT_MAX (each unmatched length unit costs
        # >= 1 edit), so these pairs can never survive the edit_dist
        # filters — dropping them BEFORE the DP bounds the verification
        # volume under skewed length distributions (equivalence pinned in
        # tests/test_optimization_r10.py)
        .withColumn("len_a", F.length("nta").cast("long"))
        .withColumn("len_b", F.length("ntb").cast("long"))
        .filter(F.abs(F.col("len_a") - F.col("len_b")) <= _EDIT_MAX)
        # threshold form: banded DP bounded at _EDIT_MAX, -1 when above.
        # The explode(array(..)) Generate is an optimizer barrier: without
        # it, PushDownPredicate substitutes the edit_dist alias into the
        # filter and the filter migrates into the nb join condition —
        # levenshtein then ran THREE times per pair (twice in the join
        # condition, once in the projection; counted in the r9/r10 before
        # plans). The barrier pins it to ONE evaluation (plan pinned).
        .select(
            "da",
            "db",
            "len_a",
            "len_b",
            F.explode(F.array(F.levenshtein("nta", "ntb", _EDIT_MAX))).alias(
                "edit_dist"
            ),
        )
    )
    return (
        verified.filter(
            (F.col("edit_dist") >= 0)
            & (F.col("edit_dist") * _EDIT_PCT <= F.greatest("len_a", "len_b"))
        )
        .select(
            "da", "db", F.col("edit_dist").cast("long").alias("edit_dist"), "len_a", "len_b"
        )
        .orderBy("da", "db")
    )


# ---------------------------------------------------------------------------
# MinHash-LSH quality audit (beyond-reference): precision/recall of the
# banded-LSH candidate generator against EXACT unigram-set Jaccard ground
# truth, on a bounded doc subset (doc_id < _AUDIT_MAX_ID — the all-pairs
# truth is O(B²) by definition, so it must be bounded; the LSH candidates
# themselves come from the full-corpus banded plan, caps and all, then are
# restricted to the subset). With 4 bands × 2 rows the s-curve predicts
# ~68% recall AT the J=0.5 threshold and higher above it — this query
# measures the reality instead of trusting the formula ("measure, don't
# guess"). All counts are integers; the two ratios divide identical
# integers once.
#
# Measured reality on this synthetic corpus (sf0.01): ~72% of ALL subset
# pairs clear J >= 1/2 (the generator is template-heavy), so nearly every
# LSH bucket exceeds _MAX_BUCKET and the hot-bucket escape valve drops
# most mates — recall ≈ 0.07 at precision ≈ 0.69. That is the designed
# trade-off under pathological duplication (the s-curve's ~68% holds only
# when buckets stay below the cap); on a real corpus where near-dups are
# the minority, bucket populations are small and recall tracks the curve.
# This query exists precisely to surface that number per-corpus.
#
# Scale design (100 TB): the audit subset is fixed-size regardless of
# corpus scale (the standard eval-sample pattern); truth pairs use
# array_intersect on the per-doc distinct-token arrays — 45k in-memory set
# intersections, no token-explosion self-join.
# ---------------------------------------------------------------------------
_AUDIT_MAX_ID = 300
_AUDIT_J_NUM, _AUDIT_J_DEN = 1, 2  # truth threshold J >= 1/2 (LSH s-curve midpoint)


@register(
    "dedup_minhash_audit",
    extra=True,
    sql=f"""
    WITH {_minhash_cand_sql()},
    csub AS (
      SELECT da, db FROM cand
      WHERE da < {_AUDIT_MAX_ID} AND db < {_AUDIT_MAX_ID}),
    ta AS (
      SELECT doc_id, {_TOKENIZE_SQL} AS vv,
             len({_TOKENIZE_SQL}) AS s
      FROM documents WHERE doc_id < {_AUDIT_MAX_ID}),
    truth AS (
      SELECT a.doc_id AS da, b.doc_id AS db
      FROM ta a JOIN ta b ON a.doc_id < b.doc_id
      WHERE ({_AUDIT_J_NUM} + {_AUDIT_J_DEN}) * len(list_intersect(a.vv, b.vv))
            >= {_AUDIT_J_NUM} * (a.s + b.s)),
    marked AS (
      SELECT (t.da IS NOT NULL) AS is_truth,
             (c.da IS NOT NULL) AS is_cand
      FROM truth t FULL OUTER JOIN csub c ON t.da = c.da AND t.db = c.db)
    SELECT CAST(count_if(is_truth) AS BIGINT) AS n_truth,
           CAST(count_if(is_cand) AS BIGINT) AS n_cand,
           CAST(count_if(is_truth AND is_cand) AS BIGINT) AS n_tp,
           CAST(count_if(is_cand AND NOT is_truth) AS BIGINT) AS n_fp,
           CAST(count_if(is_truth AND NOT is_cand) AS BIGINT) AS n_fn,
           round(count_if(is_truth AND is_cand) * 1.0
                 / nullif(count_if(is_cand), 0), {DP}) AS precision,
           round(count_if(is_truth AND is_cand) * 1.0
                 / nullif(count_if(is_truth), 0), {DP}) AS recall
    FROM marked
    """,
)
def dedup_minhash_audit(spark, sf_dir):
    """Precision/recall of the banded MinHash-LSH candidate pairs vs exact
    Jaccard >= 1/2 ground truth on the bounded audit subset."""
    t = Tables(spark, sf_dir)
    cand = (
        _minhash_candidates(t.documents)
        .filter((F.col("da") < _AUDIT_MAX_ID) & (F.col("db") < _AUDIT_MAX_ID))
        .withColumn("is_cand", F.lit(True))
    )
    vv = F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    ta = t.documents.filter(F.col("doc_id") < _AUDIT_MAX_ID).select(
        "doc_id", vv.alias("vv"), F.size(vv).alias("s")
    )
    a, b = ta.alias("a"), ta.alias("b")
    jnum, jden = _AUDIT_J_NUM, _AUDIT_J_DEN
    truth = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(
            (jnum + jden) * F.size(F.array_intersect(F.col("a.vv"), F.col("b.vv")))
            >= jnum * (F.col("a.s") + F.col("b.s"))
        )
        .select(
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
            F.lit(True).alias("is_truth"),
        )
    )
    both = truth.join(cand, ["da", "db"], "full_outer").select(
        F.coalesce("is_truth", F.lit(False)).alias("is_truth"),
        F.coalesce("is_cand", F.lit(False)).alias("is_cand"),
    )
    tp = F.count_if(F.col("is_truth") & F.col("is_cand"))
    return both.agg(
        F.count_if("is_truth").cast("bigint").alias("n_truth"),
        F.count_if("is_cand").cast("bigint").alias("n_cand"),
        tp.cast("bigint").alias("n_tp"),
        F.count_if(F.col("is_cand") & ~F.col("is_truth")).cast("bigint").alias("n_fp"),
        F.count_if(F.col("is_truth") & ~F.col("is_cand")).cast("bigint").alias("n_fn"),
        F.round(tp * 1.0 / F.nullif(F.count_if("is_cand"), F.lit(0)), DP).alias(
            "precision"
        ),
        F.round(tp * 1.0 / F.nullif(F.count_if("is_truth"), F.lit(0)), DP).alias(
            "recall"
        ),
    )
