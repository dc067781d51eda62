"""Corpus mining operators: span-level boilerplate dedup, sorted-neighborhood
blocking, collocation mining, and inverted-index build.

These close the remaining sub-document / blocking / retrieval gaps in the
training-data suite:

* ``text_span_dedup`` — C4/RefinedWeb-style *sub-document* dedup. All the
  existing dedup operators key on whole documents; real web corpora are full
  of repeated boilerplate *spans* (nav bars, footers, license blurbs) inside
  otherwise-unique pages. The driver corpus has no newlines, so the
  deterministic span rule is fixed 16-token windows; the semantics (fingerprint
  every span, count corpus-wide, drop spans repeated more than a threshold)
  are exactly the C4 paragraph rule.
* ``dedup_sorted_neighborhood`` — the classic entity-resolution blocking
  alternative to LSH: sort by a normalized key, compare each record only with
  its W successors inside a bounded block. Bounded pair work by construction
  (≤ W per record), with the same hot-block escape valve as the LSH family.
* ``text_word_pmi`` — adjacent-word collocation mining (the word2vec /
  phrase-detection preprocessing step): lift = P(xy)/(P(x)P(y)) as an exact
  integer ppm via HUGEINT/DECIMAL cross-multiplication — no libm log.
* ``text_inverted_index`` — posting-list construction (term → df, cf, first-K
  doc ids) with a two-stage bounded min-K merge so no task ever buffers a hot
  term's full posting list.

Scale notes are on each operator. Reference repo analogs: the reference's
dashboards mine top terms in pandas after SQL pulls (pages/*.py); here each
is one declarative distributed plan.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from . import ROUND_DP as DP
from . import Tables, register

R = lambda c: F.round(c, DP)  # noqa: E731

# ---------------------------------------------------------------------------
# text_span_dedup: sub-document boilerplate-span removal audit.
# Span rule: consecutive 16-token windows over the whitespace token stream.
# A span is "boilerplate" when its fingerprint occurs more than _SPAN_DUP_MAX
# times corpus-wide. Output: per-language attrition accounting (what the
# C4-style cleaner would drop), all integers / integer ppm.
#
# Scale shape: one scan → map-side span explode (fan-out n_tokens/16) →
# hash-agg on the 12-byte fingerprint (one shuffle, map-side partials) →
# fingerprint-keyed join back (same partitioning; AQE skew-join covers hot
# boilerplate digests) → per-doc then per-lang aggregation. No windows, no
# collects; every stage is a hash aggregate or equi-join.
# ---------------------------------------------------------------------------
_SPAN_W = 16
_SPAN_DUP_MAX = 2  # fingerprint count > this → boilerplate span


@register(
    "text_span_dedup",
    extra=True,
    sql=f"""
    WITH toks AS (
      SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS tk
      FROM documents),
    spans AS (
      SELECT doc_id, lang,
             unnest(list_transform(
               range(0, CAST(ceil(len(tk) / {_SPAN_W}.0) AS BIGINT)),
               i -> array_to_string(tk[(i*{_SPAN_W}+1):(i*{_SPAN_W}+{_SPAN_W})], ' ')))
               AS span
      FROM toks),
    fp AS (
      SELECT doc_id, lang, substr(md5(span), 1, 12) AS f,
             len(regexp_split_to_array(span, ' ')) AS sw
      FROM spans),
    freq AS (SELECT f, count(*) AS n FROM fp GROUP BY f),
    flagged AS (
      SELECT fp.doc_id, fp.lang, fp.sw, (freq.n > {_SPAN_DUP_MAX}) AS is_dup
      FROM fp JOIN freq ON fp.f = freq.f),
    per_doc AS (
      SELECT doc_id, lang,
             count(*) AS n_spans,
             sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS n_dup,
             CAST(sum(sw) AS BIGINT) AS tok_total,
             CAST(sum(CASE WHEN is_dup THEN sw ELSE 0 END) AS BIGINT) AS tok_drop
      FROM flagged GROUP BY doc_id, lang)
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_spans) AS BIGINT) AS n_spans,
           CAST(sum(n_dup) AS BIGINT) AS n_dup_spans,
           CAST(sum(CASE WHEN n_dup > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_affected_docs,
           CAST(sum(tok_total) AS BIGINT) AS tokens_total,
           CAST(sum(tok_drop) AS BIGINT) AS tokens_dropped,
           CAST(sum(tok_drop) * 1000000 // sum(tok_total) AS BIGINT) AS drop_ppm
    FROM per_doc GROUP BY lang ORDER BY lang
    """,
)
def text_span_dedup(spark, sf_dir):
    t = Tables(spark, sf_dir)
    w = _SPAN_W
    spans = t.documents.select(
        "doc_id",
        "lang",
        F.expr(
            f"""explode(transform(
                  sequence(0, CAST((size(split(trim(text), '\\\\s+')) - 1) DIV {w} AS INT)),
                  i -> array_join(slice(split(trim(text), '\\\\s+'), i*{w}+1, {w}), ' ')))"""
        ).alias("span"),
    )
    fp = spans.select(
        "doc_id",
        "lang",
        F.substring(F.md5("span"), 1, 12).alias("f"),
        F.size(F.split("span", " ")).alias("sw"),
    )
    freq = fp.groupBy("f").agg(F.count("*").alias("n"))
    flagged = fp.join(freq, "f").select(
        "doc_id", "lang", "sw", (F.col("n") > _SPAN_DUP_MAX).alias("is_dup")
    )
    dup_int = F.when(F.col("is_dup"), 1).otherwise(0)
    per_doc = flagged.groupBy("doc_id", "lang").agg(
        F.count("*").alias("n_spans"),
        F.sum(dup_int).alias("n_dup"),
        F.sum("sw").cast("long").alias("tok_total"),
        F.sum(F.when(F.col("is_dup"), F.col("sw")).otherwise(0)).cast("long").alias("tok_drop"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_spans").cast("long").alias("n_spans"),
            F.sum("n_dup").cast("long").alias("n_dup_spans"),
            F.sum(F.when(F.col("n_dup") > 0, 1).otherwise(0)).cast("long").alias("n_affected_docs"),
            F.sum("tok_total").cast("long").alias("tokens_total"),
            F.sum("tok_drop").cast("long").alias("tokens_dropped"),
            F.expr("CAST(sum(tok_drop) * 1000000 DIV sum(tok_total) AS BIGINT)").alias("drop_ppm"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# dedup_sorted_neighborhood: blocked sorted-neighborhood dedup blocking.
# Normalized sort key (first 40 chars of whitespace-collapsed lowercase text);
# block = first 8 chars of the key. Within each block, records are sorted by
# (key, doc_id) and each record is compared against its next _SNB_W
# successors only — candidate pairs ≤ W·n by construction. Pairs are verified
# by exact token-set Jaccard (integer cross-multiplication, ≥ 0.7).
#
# Scale shape: the sort is per-block (window PARTITION BY block), never
# global; blocks above _MAX_SNB_BLOCK rows are excluded up front (sized by
# one tiny aggregate — the same escape valve as the LSH families), so no
# window task exceeds the cap. Output is a one-row summary, sweep-safe at
# any replication factor.
# ---------------------------------------------------------------------------
_SNB_W = 3
_SNB_KEY_LEN = 40
_SNB_BLOCK_LEN = 8
_MAX_SNB_BLOCK = 256

_NORM_SQL_SNB = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
_NORM_SPARK_SNB = "regexp_replace(lower(trim(text)), '\\\\s+', ' ')"


@register(
    "dedup_sorted_neighborhood",
    extra=True,
    sql=f"""
    WITH base AS (
      SELECT doc_id,
             substr({_NORM_SQL_SNB}, 1, {_SNB_KEY_LEN}) AS nkey,
             substr({_NORM_SQL_SNB}, 1, {_SNB_BLOCK_LEN}) AS blk,
             list_distinct(regexp_split_to_array({_NORM_SQL_SNB}, ' ')) AS toks
      FROM documents),
    bsz AS (SELECT blk, count(*) AS n FROM base GROUP BY blk),
    kept AS (
      SELECT base.* FROM base JOIN bsz ON base.blk = bsz.blk
      WHERE bsz.n <= {_MAX_SNB_BLOCK}),
    nb AS (
      SELECT doc_id, toks,
             {", ".join(
                 f"lead(doc_id, {j}) OVER wlo AS d{j}, lead(toks, {j}) OVER wlo AS t{j}"
                 for j in range(1, _SNB_W + 1))}
      FROM kept
      WINDOW wlo AS (PARTITION BY blk ORDER BY nkey, doc_id)),
    pairs AS (
      {" UNION ALL ".join(
          f"SELECT doc_id AS a, d{j} AS b, "
          f"len(list_intersect(toks, t{j})) AS inter, "
          f"len(list_distinct(list_concat(toks, t{j}))) AS uni "
          f"FROM nb WHERE d{j} IS NOT NULL"
          for j in range(1, _SNB_W + 1))}),
    verified AS (
      SELECT a, b, (inter * 10 >= uni * 7) AS ok FROM pairs)
    SELECT (SELECT count(*) FROM base) AS n_docs,
           (SELECT count(*) FROM bsz) AS n_blocks,
           (SELECT count(*) FROM bsz WHERE n > {_MAX_SNB_BLOCK})
             AS n_hot_blocks_skipped,
           count(*) AS n_candidate_pairs,
           CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_verified_pairs,
           CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
             AS verified_ppm
    FROM verified
    """,
)
def dedup_sorted_neighborhood(spark, sf_dir):
    t = Tables(spark, sf_dir)
    norm = F.expr(_NORM_SPARK_SNB)
    base = t.documents.select(
        "doc_id",
        F.substring(norm, 1, _SNB_KEY_LEN).alias("nkey"),
        F.substring(norm, 1, _SNB_BLOCK_LEN).alias("blk"),
        F.array_distinct(F.split(norm, " ")).alias("toks"),
    )
    bsz = base.groupBy("blk").agg(F.count("*").alias("n"))
    kept = base.join(bsz, "blk").where(F.col("n") <= _MAX_SNB_BLOCK)
    wlo = W.partitionBy("blk").orderBy("nkey", "doc_id")
    nb = kept.select(
        "doc_id",
        "toks",
        *[
            c
            for j in range(1, _SNB_W + 1)
            for c in (
                F.lead("doc_id", j).over(wlo).alias(f"d{j}"),
                F.lead("toks", j).over(wlo).alias(f"t{j}"),
            )
        ],
    )
    pair_frames = [
        nb.where(F.col(f"d{j}").isNotNull()).select(
            F.col("doc_id").alias("a"),
            F.col(f"d{j}").alias("b"),
            F.size(F.array_intersect("toks", f"t{j}")).alias("inter"),
            F.size(F.array_distinct(F.concat("toks", F.col(f"t{j}")))).alias("uni"),
        )
        for j in range(1, _SNB_W + 1)
    ]
    pairs = pair_frames[0]
    for f_ in pair_frames[1:]:
        pairs = pairs.unionByName(f_)
    ok = F.col("inter") * 10 >= F.col("uni") * 7
    summary = pairs.agg(
        F.count("*").alias("n_candidate_pairs"),
        F.sum(F.when(ok, 1).otherwise(0)).cast("long").alias("n_verified_pairs"),
    ).withColumn(
        "verified_ppm",
        F.expr("CAST(n_verified_pairs * 1000000 DIV n_candidate_pairs AS BIGINT)"),
    )
    counts = base.agg(F.count("*").alias("n_docs"))
    blocks = bsz.agg(
        F.count("*").alias("n_blocks"),
        F.sum(F.when(F.col("n") > _MAX_SNB_BLOCK, 1).otherwise(0))
        .cast("long")
        .alias("n_hot_blocks_skipped"),
    )
    return (
        counts.crossJoin(F.broadcast(blocks))
        .crossJoin(F.broadcast(summary))
        .select(
            "n_docs",
            "n_blocks",
            "n_hot_blocks_skipped",
            "n_candidate_pairs",
            "n_verified_pairs",
            "verified_ppm",
        )
    )


# ---------------------------------------------------------------------------
# text_word_pmi: adjacent-word collocation mining. lift(x,y) =
# c_xy·N / (c_x·c_y) in exact integer ppm — the PMI ordering without libm log
# (PMI = log lift is monotone in lift, so ranking by lift ppm IS ranking by
# PMI). The 128-bit product (ppm · c_xy · N overflows int64 at 100×) is done
# in DECIMAL(38,0) on the Spark side and HUGEINT in DuckDB; the truncating
# integer division is identical (all operands positive).
#
# Scale shape: map-side pair explode (zip of the token array with its own
# tail — no self-join) → two hash aggregates (pair counts, unigram counts,
# both with map-side partials) → two shuffle joins keyed on the words →
# TakeOrdered top-K. Pair/unigram tables are vocabulary-sized, not
# corpus-sized.
# ---------------------------------------------------------------------------
_PMI_K = 20
_PMI_MIN_PAIR = 3


@register(
    "text_word_pmi",
    extra=True,
    sql=f"""
    WITH toks AS (
      SELECT regexp_split_to_array(lower(trim(text)), '\\s+') AS tk FROM documents),
    pairs AS (
      SELECT unnest(list_transform(range(0, len(tk) - 1),
                    i -> tk[i+1] || ' ' || tk[i+2])) AS pair
      FROM toks),
    uni AS (
      SELECT unnest(tk) AS w FROM toks),
    cu AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
    n_total AS (SELECT count(*) AS n FROM uni),
    cp AS (SELECT pair, count(*) AS n_ab FROM pairs GROUP BY pair
           HAVING count(*) >= {_PMI_MIN_PAIR}),
    scored AS (
      SELECT split_part(cp.pair, ' ', 1) AS w1, split_part(cp.pair, ' ', 2) AS w2,
             cp.n_ab, ca.c AS n_a, cb.c AS n_b,
             CAST((1000000::HUGEINT * cp.n_ab * t.n) // (ca.c::HUGEINT * cb.c)
               AS BIGINT) AS lift_ppm
      FROM cp
      JOIN cu ca ON ca.w = split_part(cp.pair, ' ', 1)
      JOIN cu cb ON cb.w = split_part(cp.pair, ' ', 2)
      CROSS JOIN n_total t)
    SELECT w1, w2, n_ab, n_a, n_b, lift_ppm,
           CAST(row_number() OVER (ORDER BY lift_ppm DESC, w1, w2) AS BIGINT) AS rn
    FROM scored
    QUALIFY rn <= {_PMI_K}
    ORDER BY rn
    """,
)
def text_word_pmi(spark, sf_dir):
    t = Tables(spark, sf_dir)
    tk = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    toks = t.documents.select(tk.alias("tk"))
    pairs = toks.select(
        F.explode(
            F.expr(
                "zip_with(slice(tk, 1, size(tk) - 1), slice(tk, 2, size(tk) - 1),"
                " (a, b) -> concat(a, ' ', b))"
            )
        ).alias("pair")
    )
    uni = toks.select(F.explode("tk").alias("w"))
    cu = uni.groupBy("w").agg(F.count("*").alias("c"))
    n_total = uni.agg(F.count("*").alias("n"))
    cp = (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n_ab"))
        .where(F.col("n_ab") >= _PMI_MIN_PAIR)
    )
    ca = cu.select(F.col("w").alias("w1"), F.col("c").alias("n_a"))
    cb = cu.select(F.col("w").alias("w2"), F.col("c").alias("n_b"))
    scored = (
        cp.select(
            F.expr("split_part(pair, ' ', 1)").alias("w1"),
            F.expr("split_part(pair, ' ', 2)").alias("w2"),
            "n_ab",
        )
        .join(ca, "w1")
        .join(cb, "w2")
        .crossJoin(F.broadcast(n_total))
        .withColumn(
            "lift_ppm",
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0)) * n_ab * n)"
                " DIV (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"
            ),
        )
        .drop("n")
    )
    top = scored.orderBy(F.desc("lift_ppm"), "w1", "w2").limit(_PMI_K)
    rn = F.row_number().over(W.orderBy(F.desc("lift_ppm"), "w1", "w2")).cast("long")
    return top.withColumn("rn", rn).select(
        "w1", "w2", "n_ab", "n_a", "n_b", "lift_ppm", "rn"
    ).orderBy("rn")


# ---------------------------------------------------------------------------
# text_inverted_index: posting-list construction — per term: document
# frequency, collection frequency, and the first _IDX_P posting doc ids.
# The naive collect_set-per-term buffers a hot term's ENTIRE posting list in
# one task; instead the min-K posting heads are merged in two bounded
# stages: 32 salted partials of ≤K ids each, then one ≤32·K-element merge.
# Exact: the K smallest of the union = the K smallest of the per-salt K
# smallest. cf comes from the raw token stream, df from the distinct
# (term, doc) frame — both plain hash aggregates with map-side partials.
# ---------------------------------------------------------------------------
_IDX_K = 20  # report top-K terms by cf
_IDX_P = 5  # posting-list head length
_IDX_SALT = 32


@register(
    "text_inverted_index",
    extra=True,
    sql=f"""
    WITH hits AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
      FROM documents),
    cf AS (SELECT term, count(*) AS cf FROM hits GROUP BY term),
    d AS (SELECT DISTINCT term, doc_id FROM hits),
    agg AS (
      SELECT term, count(*) AS df,
             array_to_string(list_sort(list(doc_id))[1:{_IDX_P}], ',') AS postings
      FROM d GROUP BY term)
    SELECT a.term, a.df, c.cf, a.postings,
           CAST(row_number() OVER (ORDER BY c.cf DESC, a.term) AS BIGINT) AS rn
    FROM agg a JOIN cf c ON a.term = c.term
    WHERE a.df >= 2
    QUALIFY rn <= {_IDX_K}
    ORDER BY rn
    """,
)
def text_inverted_index(spark, sf_dir):
    t = Tables(spark, sf_dir)
    hits = t.documents.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("term"),
    )
    cf = hits.groupBy("term").agg(F.count("*").alias("cf"))
    d = hits.select("term", "doc_id").distinct()
    # per-(term, salt) min-P via a window row_number: sort-based, spills to
    # disk instead of buffering a hot term's posting list in one aggregate
    # buffer; the final merge sees ≤ _IDX_SALT·_IDX_P ids per term.
    wsalt = W.partitionBy("term", (F.col("doc_id") % _IDX_SALT)).orderBy("doc_id")
    heads = d.withColumn("_rn", F.row_number().over(wsalt)).where(
        F.col("_rn") <= _IDX_P
    )
    agg = heads.groupBy("term").agg(
        F.expr(
            f"array_join(transform(slice(array_sort(collect_list(doc_id)), 1, {_IDX_P}),"
            " x -> CAST(x AS STRING)), ',')"
        ).alias("postings")
    )
    df_exact = d.groupBy("term").agg(F.count("*").alias("df"))
    joined = agg.join(df_exact, "term").join(cf, "term").where(F.col("df") >= 2)
    top = joined.orderBy(F.desc("cf"), "term").limit(_IDX_K)
    rn = F.row_number().over(W.orderBy(F.desc("cf"), "term")).cast("long")
    return top.withColumn("rn", rn).select("term", "df", "cf", "postings", "rn").orderBy(
        "rn"
    )
