"""Text analysis operators for training-data pipelines (beyond-reference).

Language-ID (stopword/marker heuristic), quality scoring, token counting
(whitespace + BPE-ish regex), and document fingerprinting — all as native
column expressions (single scan, no UDFs), so they run at corpus scale.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import ROUND_DP as DP
from . import Tables, register

R = lambda c: F.round(c, DP)  # noqa: E731

# marker word lists for the n-gram/stopword language heuristic
_LANG_MARKERS = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "los", "las", "y", "es"],
}


def _hits_sql(lang: str) -> str:
    pat = "\\b(" + "|".join(_LANG_MARKERS[lang]) + ")\\b"
    return f"len(regexp_extract_all(lower(text), '{pat}'))"


def _hits_spark(lang: str):
    # Column-form regexp_extract_all: the pattern never passes through the
    # SQL parser, so backslashes stay literal (expr('\b') would be backspace)
    pat = r"\b(" + "|".join(_LANG_MARKERS[lang]) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(pat), F.lit(0)))


_CLEAN_SQL = """trim(regexp_replace(
               replace(replace(replace(replace(replace(replace(replace(
                 regexp_replace(text, '<[^>]+>', ' ', 'g'),
                 '&amp;', '&'), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                 '&#x27;', ''''), '&#39;', ''''), '&nbsp;', ' '),
               '\\s+', ' ', 'g'))"""


# ---------------------------------------------------------------------------
# Document profile: token counting (whitespace + BPE-ish regex), quality
# bucketing + corpus ratios, normalized-text fingerprint, and the X1
# clean_html chain (reference sources/hacker_news.py:118-128) — one scan,
# all native column expressions.
# All ratio denominators are exact integer sums divided once at the edge.
# ---------------------------------------------------------------------------
@register(
    "text_profile",
    sql=f"""
    WITH scored AS (
      SELECT lang,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
             len(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+'))) AS n_types,
             {_hits_sql('en')} AS stop_hits,
             n_chars,
             len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe,
             substr(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 12)
               AS fingerprint,
             length({_CLEAN_SQL}) AS clean_len
      FROM documents),
    rated AS (
      SELECT *,
             CASE WHEN n_tokens < 20 THEN 'too_short'
                  WHEN stop_hits * 100 < n_tokens THEN 'no_stopwords'
                  WHEN n_types * 10 < n_tokens * 3 THEN 'repetitive'
                  ELSE 'ok' END AS quality_bucket
      FROM scored)
    SELECT lang, quality_bucket, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_ws_tokens,
           CAST(sum(n_bpe) AS BIGINT)    AS total_bpe_ish_tokens,
           round(sum(n_types) * 1.0 / nullif(sum(n_tokens), 0), {DP})   AS corpus_ttr,
           round(sum(stop_hits) * 1.0 / nullif(sum(n_tokens), 0), {DP}) AS corpus_stop_ratio,
           round(sum(n_chars) * 1.0 / nullif(sum(n_tokens), 0), {DP})   AS corpus_word_len,
           count(DISTINCT fingerprint) AS n_distinct_fps,
           round(sum(clean_len) * 1.0 / count(*), {DP}) AS avg_clean_len
    FROM rated GROUP BY lang, quality_bucket
    ORDER BY lang, quality_bucket
    """,
)
def text_profile(spark, sf_dir):
    from ..functions import clean_html

    t = Tables(spark, sf_dir)
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    n_types = F.size(F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), r"\s+")))
    n_bpe = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), F.lit(0))
    )
    fingerprint = F.substring(
        F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")), 1, 12
    )
    scored = t.documents.select(
        "lang",
        n_tokens.alias("n_tokens"),
        n_types.alias("n_types"),
        _hits_spark("en").alias("stop_hits"),
        "n_chars",
        n_bpe.alias("n_bpe"),
        fingerprint.alias("fingerprint"),
        F.length(clean_html(F.col("text"))).alias("clean_len"),
    )
    rated = scored.withColumn(
        "quality_bucket",
        F.when(F.col("n_tokens") < 20, "too_short")
        .when(F.col("stop_hits") * 100 < F.col("n_tokens"), "no_stopwords")
        .when(F.col("n_types") * 10 < F.col("n_tokens") * 3, "repetitive")
        .otherwise("ok"),
    )
    nt = F.nullif(F.sum("n_tokens"), F.lit(0))
    return (
        rated.groupBy("lang", "quality_bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_ws_tokens"),
            F.sum("n_bpe").alias("total_bpe_ish_tokens"),
            R(F.sum("n_types") * 1.0 / nt).alias("corpus_ttr"),
            R(F.sum("stop_hits") * 1.0 / nt).alias("corpus_stop_ratio"),
            R(F.sum("n_chars") * 1.0 / nt).alias("corpus_word_len"),
            F.count_distinct("fingerprint").alias("n_distinct_fps"),
            R(F.sum("clean_len") * 1.0 / F.count("*")).alias("avg_clean_len"),
        )
        .orderBy("lang", "quality_bucket")
    )


# ---------------------------------------------------------------------------
# Quality scoring: length, stopword ratio, type-token ratio, mean word len
# → bucket (the length/punct/stopword-ratio heuristics of data pipelines).
# ---------------------------------------------------------------------------
@register(
    "text_quality_score",
    extra=True,
    sql=f"""
    WITH scored AS (
      SELECT source,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
             len(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+'))) AS n_types,
             {_hits_sql('en')} AS stop_hits,
             n_chars
      FROM documents),
    rated AS (
      SELECT source, n_tokens, n_types, stop_hits, n_chars,
             CASE WHEN n_tokens < 20 THEN 'too_short'
                  WHEN stop_hits * 100 < n_tokens THEN 'no_stopwords'      -- ratio < 0.01, integer form
                  WHEN n_types * 10 < n_tokens * 3 THEN 'repetitive'       -- ratio < 0.3, integer form
                  ELSE 'ok' END AS quality_bucket
      FROM scored)
    SELECT source, quality_bucket, count(*) AS n_docs,
           round(sum(n_types) * 1.0 / nullif(sum(n_tokens), 0), {DP}) AS corpus_ttr,
           round(sum(stop_hits) * 1.0 / nullif(sum(n_tokens), 0), {DP}) AS corpus_stop_ratio,
           round(sum(n_chars) * 1.0 / nullif(sum(n_tokens), 0), {DP}) AS corpus_word_len
    FROM rated GROUP BY source, quality_bucket
    ORDER BY source, quality_bucket
    """,
)
def text_quality_score(spark, sf_dir):
    t = Tables(spark, sf_dir)
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    n_types = F.size(F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), r"\s+")))
    stop_hits = _hits_spark("en")
    scored = t.documents.select(
        "source",
        n_tokens.alias("n_tokens"),
        n_types.alias("n_types"),
        stop_hits.alias("stop_hits"),
        "n_chars",
    )
    # bucket thresholds in integer form: exact, no float boundary flips
    rated = scored.select(
        "source",
        "n_tokens",
        "n_types",
        "stop_hits",
        "n_chars",
        F.when(F.col("n_tokens") < 20, "too_short")
        .when(F.col("stop_hits") * 100 < F.col("n_tokens"), "no_stopwords")
        .when(F.col("n_types") * 10 < F.col("n_tokens") * 3, "repetitive")
        .otherwise("ok")
        .alias("quality_bucket"),
    )
    # corpus-level ratios: integer sums (exact in any order) ÷ once at the end
    nt = F.nullif(F.sum("n_tokens"), F.lit(0))
    return (
        rated.groupBy("source", "quality_bucket")
        .agg(
            F.count("*").alias("n_docs"),
            R(F.sum("n_types") * 1.0 / nt).alias("corpus_ttr"),
            R(F.sum("stop_hits") * 1.0 / nt).alias("corpus_stop_ratio"),
            R(F.sum("n_chars") * 1.0 / nt).alias("corpus_word_len"),
        )
        .orderBy("source", "quality_bucket")
    )


# ---------------------------------------------------------------------------
# Language-ID heuristic: argmax of marker-word hit counts vs the labeled
# lang → confusion counts (deterministic tie-break by language code).
# ---------------------------------------------------------------------------
@register(
    "text_langid_confusion",
    sql=f"""
    WITH hits AS (
      SELECT lang AS actual_lang,
             {', '.join(f'{_hits_sql(lg)} AS h_{lg}' for lg in _LANG_MARKERS)}
      FROM documents),
    pred AS (
      SELECT actual_lang,
             CASE WHEN h_en = 0 AND h_de = 0 AND h_fr = 0 AND h_es = 0 THEN 'unknown'
                  WHEN h_de > h_en AND h_de >= h_fr AND h_de >= h_es THEN 'de'
                  WHEN h_fr > h_en AND h_fr >= h_es THEN 'fr'
                  WHEN h_es > h_en THEN 'es'
                  ELSE 'en' END AS predicted_lang
      FROM hits)
    SELECT actual_lang, predicted_lang, count(*) AS n_docs
    FROM pred GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def text_langid_confusion(spark, sf_dir):
    t = Tables(spark, sf_dir)
    hits = t.documents.select(
        F.col("lang").alias("actual_lang"),
        *[_hits_spark(lg).alias(f"h_{lg}") for lg in _LANG_MARKERS],
    )
    h = {lg: F.col(f"h_{lg}") for lg in _LANG_MARKERS}
    pred = hits.select(
        "actual_lang",
        F.when(
            (h["en"] == 0) & (h["de"] == 0) & (h["fr"] == 0) & (h["es"] == 0), "unknown"
        )
        .when((h["de"] > h["en"]) & (h["de"] >= h["fr"]) & (h["de"] >= h["es"]), "de")
        .when((h["fr"] > h["en"]) & (h["fr"] >= h["es"]), "fr")
        .when(h["es"] > h["en"], "es")
        .otherwise("en")
        .alias("predicted_lang"),
    )
    return (
        pred.groupBy("actual_lang", "predicted_lang")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("actual_lang", "predicted_lang")
    )


# ---------------------------------------------------------------------------
# Character-trigram language ID (the n-gram flavor of the heuristic): score =
# how many character positions produce a trigram from the language's profile,
# argmax with the same deterministic tie-break cascade as the marker variant.
# Pure higher-order column functions in both engines — one scan, no UDFs, no
# shuffle beyond the confusion-count aggregate; at corpus scale the trigram
# array is O(doc length) per row and never materialized across rows.
# ---------------------------------------------------------------------------
_TRIGRAM_PROFILES = {
    # trigrams of each language's marker words (the synthetic corpus carries
    # markers as the language signal; real corpora would use top-k profile
    # trigrams learned from a sample)
    "en": ["the", "he ", " a ", "of ", "and"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le ", "la ", "les", "et ", "est"],
    "es": ["el ", "los", "las", " y ", " es"],
}


def _cnt3_sql(p: str) -> str:
    """Overlapping-occurrence count of a 3-char pattern that cannot overlap
    itself (p[0] != p[2]): non-overlapping replace-count IS the overlapping
    count, one vectorized string scan, no per-position lambda."""
    lit = p.replace("'", "''")
    return f"(length(lo) - length(replace(lo, '{lit}', ''))) // 3"


def _cnt_aba_sql(p: str) -> str:
    """Overlapping-occurrence count of a period-2 pattern aba (p[0] == p[2],
    e.g. ' a ' where consecutive matches share a char, so replace-count
    undercounts chains like ' a a a ').

    Identity: collapse every (non-overlapping-safe) 2-gram ab to a marker
    chr(1). A match of aba existed at a marker iff its successor char is a
    marker (the consumed 'ab' began with a) or a literal a. Per maximal
    marker run of length k with an optional trailing a: (k-1) + (1 if the a
    follows) — exactly length(match)-1 under the regex 'chr(1)+a?'."""
    # the collapse identity holds ONLY for true period-2 patterns: an
    # all-same-char trigram ('aaa') overlaps at period 1 and would be
    # silently undercounted — fail loudly if a profile edit introduces one
    assert p[0] == p[2] != p[1], f"_cnt_aba_sql requires aba with a != b: {p!r}"
    ab = p[:2].replace("'", "''")
    a = p[0]
    return (
        "coalesce(list_sum(list_transform(regexp_extract_all("
        f"replace(lo, '{ab}', chr(1)), chr(1) || '+[{a}]?'), x -> length(x) - 1)), 0)"
    )


def _tri_hits_sql(lang: str) -> str:
    # sum of per-trigram overlapping counts (profile trigrams are distinct,
    # so positions are disjoint and counts are additive). The original form
    # built a trigram string list per language per row in interpreted
    # lambdas — the slowest oracle of the whole 1000x sweep (2288 s).
    terms = [
        _cnt_aba_sql(t) if t[0] == t[2] else _cnt3_sql(t)
        for t in _TRIGRAM_PROFILES[lang]
    ]
    return " + ".join(f"({t})" for t in terms)


@register(
    "text_langid_ngram",
    extra=True,
    sql=f"""
    WITH lo AS (
      SELECT lang AS actual_lang, lower(text) AS lo FROM documents),
    hits AS (
      SELECT actual_lang,
             {', '.join(f'CAST(({_tri_hits_sql(lg)}) AS BIGINT) AS h_{lg}' for lg in _TRIGRAM_PROFILES)}
      FROM lo),
    pred AS (
      SELECT actual_lang,
             CASE WHEN h_en = 0 AND h_de = 0 AND h_fr = 0 AND h_es = 0 THEN 'unknown'
                  WHEN h_de > h_en AND h_de >= h_fr AND h_de >= h_es THEN 'de'
                  WHEN h_fr > h_en AND h_fr >= h_es THEN 'fr'
                  WHEN h_es > h_en THEN 'es'
                  ELSE 'en' END AS predicted_lang
      FROM hits)
    SELECT actual_lang, predicted_lang, count(*) AS n_docs
    FROM pred GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def text_langid_ngram(spark, sf_dir):
    t = Tables(spark, sf_dir)

    # hit count = number of character positions where a profile trigram
    # starts. Spark side: ONE lookahead regexp_count per language — a
    # single codegen'd regex pass per doc (the ?= makes matches zero-width,
    # so overlapping positions all count; profile trigrams are distinct, so
    # no position matches two alternatives). The DuckDB oracle keeps the
    # explicit position-scan formulation (_tri_hits_sql) because RE2 has no
    # lookahead — same integer per doc, proven by the value hash. (An
    # earlier higher-order-function form computed identical counts but
    # materialized the trigram array per language per row in interpreted
    # lambdas — 27x slower at the 100x replica.)
    import re as _re

    def hcol(lg: str):
        alts = "|".join(_re.escape(x) for x in _TRIGRAM_PROFILES[lg])
        return (
            F.regexp_count(F.lower(F.col("text")), F.lit(f"(?=(?:{alts}))"))
            .cast("long")
            .alias(f"h_{lg}")
        )

    hits = t.documents.select(
        F.col("lang").alias("actual_lang"), *[hcol(lg) for lg in _TRIGRAM_PROFILES]
    )
    h = {lg: F.col(f"h_{lg}") for lg in _TRIGRAM_PROFILES}
    pred = hits.select(
        "actual_lang",
        F.when(
            (h["en"] == 0) & (h["de"] == 0) & (h["fr"] == 0) & (h["es"] == 0), "unknown"
        )
        .when((h["de"] > h["en"]) & (h["de"] >= h["fr"]) & (h["de"] >= h["es"]), "de")
        .when((h["fr"] > h["en"]) & (h["fr"] >= h["es"]), "fr")
        .when(h["es"] > h["en"], "es")
        .otherwise("en")
        .alias("predicted_lang"),
    )
    return (
        pred.groupBy("actual_lang", "predicted_lang")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("actual_lang", "predicted_lang")
    )


# ---------------------------------------------------------------------------
# Rolling-hash document fingerprinting: winnowing sketches (Schleimer et al.,
# SIGMOD'03 — the MOSS algorithm). Every k-char window gets a hash; a sliding
# window of w consecutive k-gram hashes keeps its MINIMUM; the distinct kept
# values are the document's sketch. Sketches are position-robust fingerprints
# (shared substrings → shared sketch hashes), the classic near-dup/plagiarism
# signal. All higher-order column functions — per-row arrays only, one
# explode for the corpus-level aggregates; the hash is the first 15 hex chars
# of md5(k-gram) folded to BIGINT (a true rolling polynomial is a C-level
# compute optimization, not a semantic difference; hex-fold is engine-exact).
# ---------------------------------------------------------------------------
_WINNOW_K = 8  # k-gram length (chars)
_WINNOW_W = 4  # winnow window (hashes)


def _hex15_to_long_sql(x: str) -> str:
    # value = int(first 15 md5 hex digits, 16) — same 60-bit integer as the
    # shared sketches._h_sql hash; a native cast, not a per-digit reduce
    return f"(('0x' || substr(md5({x}), 1, 15))::UBIGINT::BIGINT)"


def _hex15_to_long_spark(x: str) -> str:
    # native conv() — one builtin per k-gram. The earlier 15-step
    # higher-order aggregate computed the identical value but cost 15
    # substring+instr lambda steps per character position, which dominated
    # the winnowing queries at the 100x replica.
    return f"CAST(conv(substr(md5({x}), 1, 15), 16, 10) AS BIGINT)"


def _winnow_sketch_sql(where: str = "") -> str:
    """DuckDB oracle for the winnow sketch, parameterized on a corpus
    restriction so the sampled at-scale tier (catalog/sampled.py) can state
    the identical input subset in both engines."""
    return f"""
    WITH norm AS (
      SELECT doc_id, lang, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
      FROM documents{where}),
    pos AS (
      SELECT doc_id, lang, t, unnest(generate_series(1, length(t) - {_WINNOW_K - 1})) AS i
      FROM norm WHERE length(t) >= {_WINNOW_K + _WINNOW_W - 1}),
    hashq AS (
      SELECT doc_id, lang, i, {_hex15_to_long_sql(f'substr(t, i, {_WINNOW_K})')} AS h
      FROM pos),
    winnowed AS (
      SELECT doc_id, lang,
             min(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING) AS sel,
             lead(i, {_WINNOW_W - 1}) OVER (PARTITION BY doc_id ORDER BY i) AS full_i
      FROM hashq),
    -- sketch feeds sizes, shared, AND the per-lang distinct-hash subquery:
    -- inlined, the ~1.45B-row winnow chain re-ran 3x (30GiB spill-cap
    -- death at the r8 1000x sweep) — materialize it and its derivatives
    sketch AS MATERIALIZED (
      SELECT DISTINCT doc_id, lang, sel AS h FROM winnowed WHERE full_i IS NOT NULL),
    sizes AS (SELECT doc_id, lang, count(*) AS sk FROM sketch GROUP BY doc_id, lang),
    shared AS MATERIALIZED (
      SELECT lang, h FROM sketch GROUP BY lang, h HAVING count(DISTINCT doc_id) > 1)
    SELECT z.lang,
           count(*) AS n_docs,
           CAST(sum(sk) AS BIGINT) AS total_sketch_hashes,
           round(sum(sk) * 1.0 / count(*), {DP}) AS avg_sketch_size,
           (SELECT count(DISTINCT h) FROM sketch s WHERE s.lang = z.lang)
             AS n_distinct_hashes,
           (SELECT count(*) FROM shared sh WHERE sh.lang = z.lang) AS n_shared_hashes
    FROM sizes z GROUP BY z.lang ORDER BY z.lang
    """


def _winnow_sketch(docs):
    """Winnow-sketch per-lang aggregates over an arbitrary documents frame
    (full corpus for the registered query; a deterministic doc_id subset for
    the sampled at-scale tier)."""
    from pyspark.sql import Window as W

    norm = docs.select(
        "doc_id",
        "lang",
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ").alias("t"),
    )
    # row-based pipeline (NOT per-row arrays): explode positions, hash each
    # k-gram exactly once, winnow via a bounded window. This is also the
    # shape that survives long documents at corpus scale — state per task is
    # the w-row window frame, never an O(doc length) array. (A per-row
    # higher-order-function version hashed every position w times after
    # Catalyst's projection collapse inlined the hash array into each
    # window reference — 4x the md5 work.)
    #
    # repartition BY THE WINDOW KEY **before** the explode: Generate
    # preserves its child's partitioning, so the doc_id window's exchange is
    # elided and the shuffle moves documents (~5M rows at 1000x), not the
    # ~300x-amplified position rows (~1.45B — the r8 sweep's Spark-side OOM).
    pos = (
        norm.filter(F.length("t") >= _WINNOW_K + _WINNOW_W - 1)
        .repartition("doc_id")
        .select(
            "doc_id",
            "lang",
            "t",
            F.explode(F.sequence(F.lit(1), F.length("t") - (_WINNOW_K - 1))).alias("i"),
        )
    )
    hashed = pos.select(
        "doc_id",
        "lang",
        "i",
        F.expr(_hex15_to_long_spark(f"substring(t, i, {_WINNOW_K})")).alias("h"),
    )
    wspec = W.partitionBy("doc_id").orderBy("i")
    winnowed = hashed.select(
        "doc_id",
        "lang",
        F.min("h").over(wspec.rowsBetween(0, _WINNOW_W - 1)).alias("sel"),
        F.lead("i", _WINNOW_W - 1).over(wspec).alias("full_i"),
    )
    # cached: three aggregation branches (sizes / distinct hashes / shared
    # hashes) read the sketch; without the cache each re-runs the whole
    # per-position hash pipeline — the expensive subtree
    sketch = (
        winnowed.filter(F.col("full_i").isNotNull())
        .select("doc_id", "lang", F.col("sel").alias("h"))
        .distinct()
        .cache()
    )
    # r9 opt: the five per-lang stats from TWO aggregation passes over the
    # cached sketch instead of three (sizes->per_lang, count_distinct(h),
    # shared). sketch rows are DISTINCT (doc_id, lang, h), so per (lang, h)
    # the row count IS the distinct-doc count: one (lang, h) rollup yields
    # n_distinct_hashes (count), n_shared_hashes (count_if nd > 1) AND
    # total_sketch_hashes (sum nd == total sketch rows == sum of per-doc
    # sizes); only n_docs still needs its own distinct-doc pass. Values
    # identical (pinned in tests/test_optimization_r09.py).
    by_hash = (
        sketch.groupBy("lang", "h")
        .agg(F.count("*").alias("nd"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_distinct_hashes"),
            F.sum("nd").alias("total_sketch_hashes"),
            F.count_if(F.col("nd") > 1).alias("n_shared_hashes"),
        )
    )
    by_doc = sketch.groupBy("lang").agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    return (
        by_doc.join(by_hash, "lang")
        .select(
            "lang",
            "n_docs",
            "total_sketch_hashes",
            R(F.col("total_sketch_hashes") * 1.0 / F.col("n_docs")).alias(
                "avg_sketch_size"
            ),
            "n_distinct_hashes",
            "n_shared_hashes",
        )
        .orderBy("lang")
    )


@register("text_winnow_sketch", extra=True, sql=_winnow_sketch_sql())
def text_winnow_sketch(spark, sf_dir):
    return _winnow_sketch(Tables(spark, sf_dir).documents)


# ---------------------------------------------------------------------------
# Winnow-sketch near-dup pairs — the MOSS detection step the sketch exists
# for: candidate pairs share sketch hashes, and a pair is a near-dup when
# the overlap COVERS at least half of the smaller document's sketch
# (containment — raw shared-hash counts are unselective when the corpus
# shares vocabulary). Hash buckets above the familiar _MAX-style cap are
# boilerplate collisions and skip the pair join; all arithmetic is integer
# (n_shared * 2 >= min sketch), exact in both engines.
# ---------------------------------------------------------------------------
_WINNOW_MIN_SHARED = 3
_WINNOW_MAX_HASH_BUCKET = 64


def _winnow_neardup_sql(where: str = "") -> str:
    """DuckDB oracle for winnow near-dup pairs, parameterized on a corpus
    restriction (see _winnow_sketch_sql)."""
    return f"""
    WITH norm AS (
      SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
      FROM documents{where}),
    pos AS (
      SELECT doc_id, t, unnest(generate_series(1, length(t) - {_WINNOW_K - 1})) AS i
      FROM norm WHERE length(t) >= {_WINNOW_K + _WINNOW_W - 1}),
    hashq AS (
      SELECT doc_id, i, {_hex15_to_long_sql(f'substr(t, i, {_WINNOW_K})')} AS h
      FROM pos),
    winnowed AS (
      SELECT doc_id,
             min(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING) AS sel,
             lead(i, {_WINNOW_W - 1}) OVER (PARTITION BY doc_id ORDER BY i) AS full_i
      FROM hashq),
    -- sketch is referenced twice (sizes + small) and small is self-joined:
    -- inlined, the ~1.45B-row per-char explode + double window re-ran per
    -- reference, and its ~40GB sort spill x2 filled the disk at the 1000x
    -- sweep. Materialized, the winnowing chain runs once.
    sketch AS MATERIALIZED (
      SELECT DISTINCT doc_id, sel AS h FROM winnowed WHERE full_i IS NOT NULL),
    sizes AS (SELECT doc_id, count(*) AS sk FROM sketch GROUP BY doc_id),
    small AS MATERIALIZED (
      SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS bucket_size
      FROM sketch QUALIFY bucket_size <= {_WINNOW_MAX_HASH_BUCKET}),
    ovl AS (
      SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS n_shared
      FROM small a JOIN small b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING count(*) >= {_WINNOW_MIN_SHARED})
    SELECT o.da, o.db, o.n_shared,
           sa.sk AS sketch_a, sb.sk AS sketch_b
    FROM ovl o JOIN sizes sa ON sa.doc_id = o.da JOIN sizes sb ON sb.doc_id = o.db
    WHERE o.n_shared * 2 >= least(sa.sk, sb.sk)
    ORDER BY o.da, o.db
    """


def _winnow_neardup(docs):
    """Winnow near-dup pair detection over an arbitrary documents frame
    (full corpus for the registered query; a deterministic doc_id subset for
    the sampled at-scale tier)."""
    from pyspark.sql import Window as W

    norm = docs.select(
        "doc_id",
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ").alias("t"),
    )
    # repartition by the window key before the explode (see
    # text_winnow_sketch): the doc_id window's exchange is elided, so the
    # shuffle carries documents, not position-level rows.
    pos = (
        norm.filter(F.length("t") >= _WINNOW_K + _WINNOW_W - 1)
        .repartition("doc_id")
        .select(
            "doc_id",
            "t",
            F.explode(F.sequence(F.lit(1), F.length("t") - (_WINNOW_K - 1))).alias("i"),
        )
    )
    hashed = pos.select(
        "doc_id",
        "i",
        F.expr(_hex15_to_long_spark(f"substring(t, i, {_WINNOW_K})")).alias("h"),
    )
    wspec = W.partitionBy("doc_id").orderBy("i")
    sketch = (
        hashed.select(
            "doc_id",
            F.min("h").over(wspec.rowsBetween(0, _WINNOW_W - 1)).alias("sel"),
            F.lead("i", _WINNOW_W - 1).over(wspec).alias("full_i"),
        )
        .filter(F.col("full_i").isNotNull())
        .select("doc_id", F.col("sel").alias("h"))
        .distinct()
        # cached: sketch sizes, bucket sizing, and both self-join sides all
        # read this frame — without the cache each re-runs the per-position
        # hash pipeline
        .cache()
    )
    sizes = sketch.groupBy("doc_id").agg(F.count("*").alias("sk"))
    # bucket sizes via a window count on h (the self-join key, so the
    # exchange is reused) — same shape as dedup_minhash_lsh's cap
    small = (
        sketch.withColumn("bucket_size", F.count("*").over(W.partitionBy("h")))
        .filter(F.col("bucket_size") <= _WINNOW_MAX_HASH_BUCKET)
        .select("doc_id", "h")
    )
    a, b = small.alias("a"), small.alias("b")
    overlaps = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= _WINNOW_MIN_SHARED)
    )
    return (
        overlaps.join(sizes.select(F.col("doc_id").alias("da"), F.col("sk").alias("sketch_a")), "da")
        .join(sizes.select(F.col("doc_id").alias("db"), F.col("sk").alias("sketch_b")), "db")
        .filter(F.col("n_shared") * 2 >= F.least("sketch_a", "sketch_b"))
        .select("da", "db", "n_shared", "sketch_a", "sketch_b")
        .orderBy("da", "db")
    )


@register("text_winnow_neardup", extra=True, sql=_winnow_neardup_sql())
def text_winnow_neardup(spark, sf_dir):
    return _winnow_neardup(Tables(spark, sf_dir).documents)


# ---------------------------------------------------------------------------
# Gopher-style repetition filters (Rae et al. 2021, §A1.1: "repetitious
# documents are removed" via duplicate-word and top-n-gram fractions). Per
# document: fraction of word occurrences taken by the single most frequent
# word, same for word-bigrams, and the duplicate-word-occurrence fraction;
# docs bucket by integer-exact threshold comparisons (top word > 20%, top
# bigram > 20%, duplicate occurrences > 50%). Row-based shape: one explode
# of word positions serves BOTH the unigram and bigram counts (the bigram is
# the word plus its successor via a null-safe index lookup), then doc-grained
# groupBys — no per-row quadratic arrays, keys are doc-grained, scale-safe.
# Corpus ratios are exact integer sums divided once at the edge.
# ---------------------------------------------------------------------------
@register(
    "text_repetition_gopher",
    extra=True,
    sql=f"""
    WITH arrs AS (
      SELECT doc_id, lang,
             regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')
               AS arr
      FROM documents),
    wordpos AS (
      SELECT doc_id, lang, arr, unnest(generate_series(1, len(arr))) AS i
      FROM arrs WHERE len(arr) >= 1),
    words AS (
      SELECT doc_id, lang, arr[i] AS w, arr[i + 1] AS w_next FROM wordpos),
    wcounts AS (
      SELECT doc_id, lang, w, count(*) AS cnt FROM words GROUP BY doc_id, lang, w),
    wstats AS (
      SELECT doc_id, lang, CAST(sum(cnt) AS BIGINT) AS n_words,
             count(*) AS n_distinct, max(cnt) AS top_word_cnt
      FROM wcounts GROUP BY doc_id, lang),
    bcounts AS (
      SELECT doc_id, w || ' ' || w_next AS b, count(*) AS cnt
      FROM words WHERE w_next IS NOT NULL GROUP BY doc_id, b),
    bstats AS (
      SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams, max(cnt) AS top_bigram_cnt
      FROM bcounts GROUP BY doc_id),
    rated AS (
      SELECT w.lang, w.n_words, w.n_distinct, w.top_word_cnt,
             coalesce(b.n_bigrams, 0) AS n_bigrams,
             coalesce(b.top_bigram_cnt, 0) AS top_bigram_cnt,
             CASE WHEN w.top_word_cnt * 5 > w.n_words THEN 'top_word_heavy'
                  WHEN coalesce(b.top_bigram_cnt, 0) * 5 > coalesce(b.n_bigrams, 0)
                    THEN 'top_bigram_heavy'
                  WHEN (w.n_words - w.n_distinct) * 2 > w.n_words THEN 'dup_word_heavy'
                  ELSE 'ok' END AS repetition_bucket
      FROM wstats w LEFT JOIN bstats b USING (doc_id))
    SELECT lang, repetition_bucket, count(*) AS n_docs,
           round(sum(top_word_cnt) * 1.0 / nullif(sum(n_words), 0), {DP})
             AS corpus_top_word_frac,
           round(sum(top_bigram_cnt) * 1.0 / nullif(sum(n_bigrams), 0), {DP})
             AS corpus_top_bigram_frac,
           round(sum(n_words - n_distinct) * 1.0 / nullif(sum(n_words), 0), {DP})
             AS corpus_dup_word_frac
    FROM rated GROUP BY lang, repetition_bucket
    ORDER BY lang, repetition_bucket
    """,
)
def text_repetition_gopher(spark, sf_dir):
    t = Tables(spark, sf_dir)
    # cached: the word-count and bigram-count branches below both explode
    # from this frame; caching the COMPACT pre-explode form (one array row
    # per doc) runs the regexp parse once without materializing the
    # exploded token stream
    arrs = t.documents.select(
        "doc_id",
        "lang",
        F.split(
            F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "
        ).alias("arr"),
    ).cache()
    words = arrs.filter(F.size("arr") >= 1).select(
        "doc_id",
        "lang",
        F.explode(F.sequence(F.lit(1), F.size("arr"))).alias("i"),
        "arr",
    ).select(
        "doc_id",
        "lang",
        F.expr("try_element_at(arr, i)").alias("w"),
        F.expr("try_element_at(arr, i + 1)").alias("w_next"),
    )
    wcounts = words.groupBy("doc_id", "lang", "w").agg(F.count("*").alias("cnt"))
    wstats = wcounts.groupBy("doc_id", "lang").agg(
        F.sum("cnt").alias("n_words"),
        F.count("*").alias("n_distinct"),
        F.max("cnt").alias("top_word_cnt"),
    )
    bcounts = (
        words.filter(F.col("w_next").isNotNull())
        .select("doc_id", F.concat_ws(" ", "w", "w_next").alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count("*").alias("cnt"))
    )
    bstats = bcounts.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_bigrams"), F.max("cnt").alias("top_bigram_cnt")
    )
    rated = (
        wstats.join(bstats, "doc_id", "left")
        .select(
            "lang",
            "n_words",
            "n_distinct",
            "top_word_cnt",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("top_bigram_cnt", F.lit(0)).alias("top_bigram_cnt"),
        )
        .withColumn(
            "repetition_bucket",
            F.when(F.col("top_word_cnt") * 5 > F.col("n_words"), "top_word_heavy")
            .when(F.col("top_bigram_cnt") * 5 > F.col("n_bigrams"), "top_bigram_heavy")
            .when(
                (F.col("n_words") - F.col("n_distinct")) * 2 > F.col("n_words"),
                "dup_word_heavy",
            )
            .otherwise("ok"),
        )
    )
    nw = F.nullif(F.sum("n_words"), F.lit(0))
    return (
        rated.groupBy("lang", "repetition_bucket")
        .agg(
            F.count("*").alias("n_docs"),
            R(F.sum("top_word_cnt") * 1.0 / nw).alias("corpus_top_word_frac"),
            R(
                F.sum("top_bigram_cnt") * 1.0 / F.nullif(F.sum("n_bigrams"), F.lit(0))
            ).alias("corpus_top_bigram_frac"),
            R((F.sum("n_words") - F.sum("n_distinct")) * 1.0 / nw).alias(
                "corpus_dup_word_frac"
            ),
        )
        .orderBy("lang", "repetition_bucket")
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms per language — the corpus-characterization op (what words
# define this slice?). Rational idf variant: score = tf * N / df with exact
# integer inputs and ONE IEEE division (log-based idf would hostage the
# cross-engine hash to libm differences; exactly-rounded division is
# bit-identical in both engines). Top-k per language compiles to
# WindowGroupLimit(Partial) on the (lang, term) partitioning the stats agg
# already produced — each task prunes to <= K rows per language BEFORE the
# lang exchange, so no single task ever sorts a full language's vocabulary
# AND no extra full-data shuffle happens (the r1-r3 hand-salted two-stage
# re-shuffled every scored row onto (lang, salt) first; the engine rewrite
# made that both redundant and strictly more expensive).
# ---------------------------------------------------------------------------
_TFIDF_K = 10


@register(
    "text_tfidf_topterms",
    extra=True,
    sql=f"""
    WITH words AS (
      SELECT doc_id, lang,
             unnest(regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))
               AS w
      FROM documents),
    stats AS (
      SELECT lang, w AS term, count(*) AS tf, count(DISTINCT doc_id) AS df
      FROM words GROUP BY lang, w),
    sizes AS (SELECT lang, count(*) AS n_docs_lang FROM documents GROUP BY lang),
    scored AS (
      SELECT s.lang, s.term, s.tf, s.df, z.n_docs_lang,
             s.tf * z.n_docs_lang * 1.0 / s.df AS score
      FROM stats s JOIN sizes z USING (lang)),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY lang ORDER BY score DESC, term)
               AS rn
      FROM scored)
    SELECT lang, term, tf, df, n_docs_lang, round(score, {DP}) AS tfidf, rn
    FROM ranked WHERE rn <= {_TFIDF_K}
    ORDER BY lang, rn
    """,
)
def text_tfidf_topterms(spark, sf_dir):
    from pyspark.sql import Window as W

    t = Tables(spark, sf_dir)
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
    scored = stats.join(F.broadcast(sizes), "lang").withColumn(
        "score", F.col("tf") * F.col("n_docs_lang") * 1.0 / F.col("df")
    )
    # rank filter → WindowGroupLimit(Partial): each task keeps <= K rows per
    # language on the agg's existing partitioning, then only tasks*K rows
    # per language cross the wire for the final rank
    wglobal = W.partitionBy("lang").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(wglobal))
        .filter(F.col("rn") <= _TFIDF_K)
        .select("lang", "term", "tf", "df", "n_docs_lang", R("score").alias("tfidf"), "rn")
        .orderBy("lang", "rn")
    )


# ---------------------------------------------------------------------------
# Token-window document chunking (operators/chunking.py): the shaping step
# that turns cleaned documents into overlapping context-window-sized training
# examples. One row per chunk; the chunk payload is verified by md5 so the
# oracle compares content, not just counts. Explodes only chunk STARTS
# (O(n_tokens/stride) rows/doc); chunking itself is a pure map — no shuffle.
# ---------------------------------------------------------------------------
_CHUNK_W = 32  # chunk size (tokens)
_CHUNK_S = 24  # stride (tokens) -> 8-token overlap


@register(
    "text_chunk_tokens",
    extra=True,
    sql=f"""
    WITH norm AS (
      SELECT doc_id,
             regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')
               AS arr
      FROM documents),
    base AS (SELECT doc_id, arr, len(arr) AS n FROM norm WHERE len(arr) >= 1),
    starts AS (
      SELECT doc_id, arr, n, unnest(generate_series(0, n - 1, {_CHUNK_S})) AS start_tok
      FROM base),
    chunks AS (
      SELECT doc_id, arr, start_tok, least({_CHUNK_W}, n - start_tok) AS n_tok
      FROM starts
      WHERE start_tok = 0 OR least({_CHUNK_W}, n - start_tok) > {_CHUNK_W - _CHUNK_S})
    SELECT doc_id,
           CAST(start_tok // {_CHUNK_S} AS BIGINT) AS chunk_id,
           CAST(start_tok AS BIGINT) AS start_tok,
           CAST(n_tok AS BIGINT) AS n_tok,
           substr(md5(array_to_string(arr[start_tok + 1 : start_tok + n_tok], ' ')), 1, 16)
             AS chunk_md5
    FROM chunks
    ORDER BY doc_id, chunk_id
    """,
)
def text_chunk_tokens(spark, sf_dir):
    from ..operators.chunking import chunk_by_tokens

    t = Tables(spark, sf_dir)
    chunks = chunk_by_tokens(
        t.documents, chunk_tokens=_CHUNK_W, stride=_CHUNK_S, keep_text=True
    )
    return chunks.select(
        "doc_id",
        "chunk_id",
        "start_tok",
        "n_tok",
        F.substring(F.md5("chunk_text"), 1, 16).alias("chunk_md5"),
    ).orderBy("doc_id", "chunk_id")


# ---------------------------------------------------------------------------
# Self-trained bigram coverage: an LM-fluency quality proxy (beyond-reference;
# the CCNet/Gopher pipelines use LM perplexity for this gate). Corpus bigram
# counts are trained on the corpus itself; a document's score is the fraction
# of its bigram occurrences whose corpus frequency reaches _MIN_BG_N — fluent
# text re-uses common word transitions, gibberish doesn't. Everything is
# integer arithmetic (counts, and a coverage decile via integer division), so
# both engines agree bit-for-bit with no libm log in sight (same reasoning as
# text_tfidf_topterms' rational idf).
#
# Scale design (100 TB): the bigram explode is map-side; corpus counting is
# one shuffle on the bigram key with map-side partial aggregation (hot
# bigrams like "of the" partial-combine before the exchange); the
# occurrences⋈known join is the second shuffle — at extreme scale the known
# set (corpus_count ≥ K) is the natural Bloom-filter broadcast, with this
# exact join as the correctness path. Docs under 2 tokens have no bigrams and
# are excluded (they're the length-gate's job, text_quality_score).
# ---------------------------------------------------------------------------
_MIN_BG_N = 3  # corpus occurrences for a bigram to count as "known"


@register(
    "text_bigram_coverage",
    extra=True,
    sql=f"""
    WITH toks AS (
      SELECT doc_id, lang, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws
      FROM documents
      WHERE len(regexp_split_to_array(lower(trim(text)), '\\s+')) >= 2),
    bgs AS (
      SELECT doc_id, lang,
             unnest(list_transform(generate_series(1, len(ws) - 1),
                                   i -> ws[i] || ' ' || ws[i + 1])) AS bg
      FROM toks),
    known AS (
      SELECT bg FROM bgs GROUP BY bg HAVING count(*) >= {_MIN_BG_N}),
    per_doc AS (
      SELECT b.doc_id, b.lang,
             count(*) AS n_total,
             count(k.bg) AS n_known
      FROM bgs b LEFT JOIN known k ON b.bg = k.bg
      GROUP BY b.doc_id, b.lang)
    SELECT lang,
           (10 * n_known) // n_total AS coverage_decile,
           count(*) AS n_docs,
           CAST(sum(n_total) AS BIGINT) AS n_bigrams,
           CAST(sum(n_known) AS BIGINT) AS n_known_bigrams,
           round(100.0 * sum(n_known) / sum(n_total), 2) AS pct_known
    FROM per_doc
    GROUP BY lang, coverage_decile
    ORDER BY lang, coverage_decile
    """,
)
def text_bigram_coverage(spark, sf_dir):
    """Known-bigram coverage per (lang, decile): corpus-trained bigram
    frequencies, integer-exact scoring, decile 10 = every transition known."""
    t = Tables(spark, sf_dir)
    ws = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    toks = t.documents.select("doc_id", "lang", ws.alias("ws")).filter(
        F.size("ws") >= 2
    )
    bgs = toks.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1),"
                " i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"
            )
        ).alias("bg"),
    )
    known = (
        bgs.groupBy("bg")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= _MIN_BG_N)
        .select("bg", F.lit(1).alias("k"))
    )
    per_doc = (
        bgs.join(known, "bg", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_total"),
            F.count("k").alias("n_known"),
        )
    )
    return (
        per_doc.groupBy(
            "lang", F.expr("(10 * n_known) div n_total").alias("coverage_decile")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_total").cast("bigint").alias("n_bigrams"),
            F.sum("n_known").cast("bigint").alias("n_known_bigrams"),
            F.round(100.0 * F.sum("n_known") / F.sum("n_total"), 2).alias("pct_known"),
        )
        .orderBy("lang", "coverage_decile")
    )


# ---------------------------------------------------------------------------
# Robust length-outlier gate (beyond-reference): median/MAD per language
# instead of mean/stddev, so the gate itself isn't dragged by the outliers
# it's hunting (the standard robust-quality move; 3×MAD ≈ 2σ for normal
# data). Exact cross-engine: lengths are integers, the two medians are
# percentile interpolations over identical integer multisets (at most one
# half-fraction — exactly representable), and the comparison threshold is
# the same IEEE expression in both engines.
#
# Scale design (100 TB): exact medians need a per-group sort — at corpus
# scale swap percentile for approx_percentile/t-digest (sketch_histogram_
# quantile demonstrates the bucketed alternative); the two aggregation
# passes + broadcast join-back shapes are unchanged. Groups are languages
# (bounded cardinality), so no group outgrows its executor.
# ---------------------------------------------------------------------------
_MAD_K = 3  # flag docs beyond 3 MADs from the median


@register(
    "text_length_outliers",
    extra=True,
    sql=f"""
    WITH med AS (
      SELECT lang, quantile_cont(n_chars, 0.5) AS med_len
      FROM documents GROUP BY lang),
    dev AS (
      SELECT d.lang, d.n_chars, m.med_len,
             abs(CAST(d.n_chars AS DOUBLE) - m.med_len) AS adev
      FROM documents d JOIN med m ON d.lang = m.lang),
    mad AS (
      SELECT lang, quantile_cont(adev, 0.5) AS mad_len FROM dev GROUP BY lang)
    SELECT v.lang,
           count(*) AS n_docs,
           round(any_value(v.med_len), {{dp}}) AS median_len,
           round(any_value(a.mad_len), {{dp}}) AS mad_len,
           CAST(count_if(v.adev > {_MAD_K} * a.mad_len) AS BIGINT) AS n_outliers,
           round(100.0 * count_if(v.adev > {_MAD_K} * a.mad_len) / count(*), 2)
             AS pct_outliers
    FROM dev v JOIN mad a ON v.lang = a.lang
    GROUP BY v.lang ORDER BY v.lang
    """.replace("{dp}", str(DP)),
)
def text_length_outliers(spark, sf_dir):
    """Per-language robust length gate: docs beyond 3 MADs of the median
    n_chars are outliers (truncation/concatenation artifacts)."""
    t = Tables(spark, sf_dir)
    med = t.documents.groupBy("lang").agg(
        F.percentile("n_chars", F.lit(0.5)).alias("med_len")
    )
    dev = t.documents.join(F.broadcast(med), "lang").select(
        "lang",
        "n_chars",
        "med_len",
        F.abs(F.col("n_chars").cast("double") - F.col("med_len")).alias("adev"),
    )
    mad = dev.groupBy("lang").agg(F.percentile("adev", F.lit(0.5)).alias("mad_len"))
    is_out = F.col("adev") > _MAD_K * F.col("mad_len")
    return (
        dev.join(F.broadcast(mad), "lang")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.any_value("med_len"), DP).alias("median_len"),
            F.round(F.any_value("mad_len"), DP).alias("mad_len"),
            F.count_if(is_out).cast("bigint").alias("n_outliers"),
            F.round(100.0 * F.count_if(is_out) / F.count("*"), 2).alias("pct_outliers"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Compression-ratio quality signal (rows-only oracle: DuckDB has no
# compression function, so the driver records the weaker rows+schema check;
# tests/test_session6_ops.py pins the VALUES against an in-process
# zlib computation of the same bytes). Highly compressible text (low
# compressed/raw ratio) is the classic repetitive-boilerplate signal used
# alongside the Gopher repetition gates (text_repetition_gopher); nearly
# incompressible text is often binary junk mislabeled as text.
#
# Scale design (100 TB): the compressor runs inside mapInPandas over Arrow
# batches — per-row Python cost is one zlib.compress call (C speed), no
# shuffle until the tiny per-language aggregate. Ratios are aggregated as
# exact integer byte sums and divided once (ppm via integer floor division),
# so re-partitioning cannot change the output.
# ---------------------------------------------------------------------------
_COMPRESS_LEVEL = 6
_LOW_RATIO_PPM = 400_000  # < 0.4 compressed/raw → "repetitive" flag


def compression_lengths(docs):
    """(doc frame with text, lang) -> (lang, raw_len, comp_len) via zlib."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("lang", T.StringType()),
            T.StructField("raw_len", T.LongType()),
            T.StructField("comp_len", T.LongType()),
        ]
    )

    def kernel(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            raw = [t.encode("utf-8") for t in pdf["text"].astype(str)]
            yield pd.DataFrame(
                {
                    "lang": pdf["lang"],
                    "raw_len": [len(b) for b in raw],
                    "comp_len": [
                        len(zlib.compress(b, _COMPRESS_LEVEL)) for b in raw
                    ],
                }
            )

    return docs.select("lang", "text").mapInPandas(kernel, schema)


@register("text_compression_ratio", extra=True, sql=None)
def text_compression_ratio(spark, sf_dir):
    t = Tables(spark, sf_dir)
    lens = compression_lengths(t.documents)
    low = F.col("comp_len") * 1_000_000 < F.col("raw_len") * F.lit(_LOW_RATIO_PPM)
    return (
        lens.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("raw_len").cast("bigint").alias("raw_bytes"),
            F.sum("comp_len").cast("bigint").alias("comp_bytes"),
            F.count_if(low).cast("bigint").alias("n_repetitive"),
        )
        .select(
            "lang",
            "n_docs",
            "raw_bytes",
            "comp_bytes",
            F.expr("comp_bytes * 1000000 div raw_bytes").alias("ratio_ppm"),
            "n_repetitive",
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# BPE merge statistics: the corpus-wide adjacent-character-pair counts inside
# letter words — exactly the frequency table the FIRST iteration of
# byte-pair-encoding training maximizes over (Sennrich et al. 2016). Reports
# the top-20 pairs with exact integer counts and corpus share in ppm
# (integer floor division — no float anywhere).
#
# Scale design (100 TB): the pair explode is a bounded map-side fan-out
# (≤ chars-per-doc rows) feeding a hash aggregate whose key domain is ≤ 26²
# — partial (map-side) aggregation collapses each task's output to ≤ 676
# rows before the shuffle, so the exchange is executor-count-sized, not
# data-sized. Top-k is a TakeOrdered over ≤ 676 rows.
# ---------------------------------------------------------------------------
_BPE_TOPN = 20
_PAIRS_SPARK = (
    "flatten(transform("
    "  filter(regexp_extract_all(lower(text), '[a-z]+', 0), w -> length(w) >= 2),"
    "  w -> transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))))"
)
_PAIRS_DUCK = (
    "flatten(list_transform("
    "  list_filter(regexp_extract_all(lower(text), '[a-z]+'), w -> length(w) >= 2),"
    "  w -> list_transform(range(1, length(w)), i -> substring(w, i, 2))))"
)


@register(
    "text_bpe_pairs",
    extra=True,
    sql=f"""
    WITH pairs AS (
      SELECT unnest({_PAIRS_DUCK}) AS pair FROM documents),
    counts AS (
      SELECT pair, CAST(count(*) AS BIGINT) AS n FROM pairs GROUP BY pair),
    tot AS (SELECT sum(n) AS total FROM counts)
    SELECT pair, n, CAST(n * 1000000 // tot.total AS BIGINT) AS share_ppm
    FROM counts CROSS JOIN tot
    ORDER BY n DESC, pair LIMIT {_BPE_TOPN}
    """,
)
def text_bpe_pairs(spark, sf_dir):
    t = Tables(spark, sf_dir)
    counts = (
        t.documents.select(F.explode(F.expr(_PAIRS_SPARK)).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    tot = counts.agg(F.sum("n").alias("total"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "pair",
            "n",
            F.expr("CAST(n * 1000000 div total AS BIGINT)").alias("share_ppm"),
        )
        .orderBy(F.col("n").desc(), "pair")
        .limit(_BPE_TOPN)
    )


# ---------------------------------------------------------------------------
# PII scan + redaction audit — the privacy staple of every training-data
# pipeline: find documents carrying emails / phone numbers / IPv4 addresses,
# count occurrences, and measure the redaction delta (how many characters a
# replace-all with fixed tags changes). The synthetic corpus carries no PII,
# so both engines INJECT it identically first (deterministic doc_id
# arithmetic appends an email to every 7th doc, a 555-phone to every 11th,
# an IP to every 13th) — the regex machinery then fires on real matches and
# every count is data-dependent, not trivially zero. Patterns use only the
# regex subset where Java (Spark) and RE2 (DuckDB) provably agree: literal
# classes, +/{n} quantifiers, no backrefs, no lookaround.
#
# Scale design (100 TB): pure per-row column ops (concat, regexp_count,
# regexp_replace) — map-side, codegen'd, zero joins; the only shuffle is
# the per-lang rollup. Redaction delta is exact integer length arithmetic.
# ---------------------------------------------------------------------------
_PII_EMAIL = "[a-z0-9]+@[a-z0-9]+\\.[a-z]+"
_PII_PHONE = "555-[0-9]{4}"
_PII_IP = "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+"


@register(
    "text_pii_scan",
    extra=True,
    sql=f"""
    WITH aug AS (
      SELECT lang,
             text
             || CASE WHEN doc_id % 7 = 0
                     THEN ' contact user' || doc_id || '@example.com' ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                     THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     ELSE '' END
             || CASE WHEN doc_id % 13 = 0
                     THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.'
                          || CAST((doc_id * 7) % 256 AS VARCHAR) ELSE '' END
               AS t
      FROM documents),
    scanned AS (
      SELECT lang, t,
             CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS BIGINT) AS n_email,
             CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS BIGINT) AS n_phone,
             CAST(len(regexp_extract_all(t, '{_PII_IP}')) AS BIGINT) AS n_ip,
             CAST(length(t) AS BIGINT)
               - CAST(length(regexp_replace(regexp_replace(regexp_replace(t,
                   '{_PII_EMAIL}', '<EMAIL>', 'g'),
                   '{_PII_PHONE}', '<PHONE>', 'g'),
                   '{_PII_IP}', '<IP>', 'g')) AS BIGINT) AS redact_delta
      FROM aug)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count_if(n_email > 0) AS BIGINT) AS n_email_docs,
           CAST(sum(n_email) AS BIGINT) AS total_emails,
           CAST(count_if(n_phone > 0) AS BIGINT) AS n_phone_docs,
           CAST(sum(n_phone) AS BIGINT) AS total_phones,
           CAST(count_if(n_ip > 0) AS BIGINT) AS n_ip_docs,
           CAST(sum(n_ip) AS BIGINT) AS total_ips,
           CAST(sum(redact_delta) AS BIGINT) AS total_redact_delta
    FROM scanned GROUP BY lang ORDER BY lang
    """,
)
def text_pii_scan(spark, sf_dir):
    t = Tables(spark, sf_dir)
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(
            did % 7 == 0,
            F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            did % 11 == 0,
            F.concat(F.lit(" call 555-"), F.lpad((did % 10000).cast("string"), 4, "0")),
        ).otherwise(F.lit("")),
        F.when(
            did % 13 == 0,
            F.concat(
                F.lit(" host 10.0."),
                (did % 256).cast("string"),
                F.lit("."),
                ((did * 7) % 256).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE,
            "<PHONE>",
        ),
        _PII_IP,
        "<IP>",
    )
    scanned = t.documents.select("lang", aug.alias("t")).select(
        "lang",
        F.regexp_count("t", F.lit(_PII_EMAIL)).cast("long").alias("n_email"),
        F.regexp_count("t", F.lit(_PII_PHONE)).cast("long").alias("n_phone"),
        F.regexp_count("t", F.lit(_PII_IP)).cast("long").alias("n_ip"),
        (F.length("t") - F.length(redacted)).cast("long").alias("redact_delta"),
    )
    return (
        scanned.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.count_if(F.col("n_email") > 0).cast("long").alias("n_email_docs"),
            F.sum("n_email").cast("long").alias("total_emails"),
            F.count_if(F.col("n_phone") > 0).cast("long").alias("n_phone_docs"),
            F.sum("n_phone").cast("long").alias("total_phones"),
            F.count_if(F.col("n_ip") > 0).cast("long").alias("n_ip_docs"),
            F.sum("n_ip").cast("long").alias("total_ips"),
            F.sum("redact_delta").cast("long").alias("total_redact_delta"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage / OOV-rate audit — the tokenizer-sizing staple: fix
# the vocabulary at the corpus's top-K tokens (count desc, token asc — a
# total order, so the set is deterministic), then measure per-language how
# many token OCCURRENCES fall outside it, in exact ppm. This is the
# decision input for "is a K-entry vocab enough for each language slice".
#
# Scale design (100 TB): token counts are a map-side-combined hash
# aggregate over the (bounded) vocabulary domain; the top-K cut is K rows;
# the coverage join broadcasts those K rows against the token stream —
# one data-sized shuffle (the per-lang rollup), no sort of the full
# token stream anywhere.
# ---------------------------------------------------------------------------
_OOV_VOCAB_K = 50


@register(
    "text_oov_rate",
    extra=True,
    sql=f"""
    WITH toks AS (
      SELECT lang, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
      FROM documents),
    vocab AS (
      SELECT w FROM (
        SELECT w, count(*) AS n,
               row_number() OVER (ORDER BY count(*) DESC, w) AS rk
        FROM toks GROUP BY w) WHERE rk <= {_OOV_VOCAB_K}),
    flagged AS (
      SELECT t.lang, CASE WHEN v.w IS NULL THEN 1 ELSE 0 END AS oov
      FROM toks t LEFT JOIN vocab v ON t.w = v.w)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS total_tokens,
           CAST(sum(oov) AS BIGINT) AS oov_tokens,
           CAST(sum(oov) * 1000000 // count(*) AS BIGINT) AS oov_ppm
    FROM flagged GROUP BY lang ORDER BY lang
    """,
)
def text_oov_rate(spark, sf_dir):
    t = Tables(spark, sf_dir)
    toks = t.documents.select(
        "lang",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w"),
    )
    vocab = (
        toks.groupBy("w")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "w")
        .limit(_OOV_VOCAB_K)
        .select("w", F.lit(1).alias("_in_vocab"))
    )
    flagged = toks.join(F.broadcast(vocab), "w", "left").select(
        "lang", F.when(F.col("_in_vocab").isNull(), 1).otherwise(0).alias("oov")
    )
    return (
        flagged.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("total_tokens"),
            F.sum("oov").cast("long").alias("oov_tokens"),
            F.expr("CAST(sum(oov) * 1000000 div count(*) AS BIGINT)").alias("oov_ppm"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# URL canonicalization + duplicate-URL audit — the first stage of any web
# corpus pipeline: the same page arrives under protocol/case/port/www/
# tracking-param variants, and URL-level dedup must collapse them BEFORE
# the expensive content dedup runs. The corpus carries no URLs, so both
# engines synthesize them identically from doc_id arithmetic (the
# text_pii_scan injection pattern): scheme, host case, :443, a www. prefix,
# utm_* tracking params and a #fragment all vary deterministically.
# Canonical key = lower(host) minus www./port + path + the id param only.
# Spark uses the native parse_url (JVM-side, codegen); the oracle restates
# the same extractions as regexps. Scale: pure map-side column ops + one
# per-domain rollup shuffle.
# ---------------------------------------------------------------------------
@register(
    "text_url_canonical",
    extra=True,
    sql="""
    WITH urls AS (
      SELECT doc_id,
             (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END)
             || '://'
             || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.Site' ELSE 'site' END)
             || CAST(doc_id % 20 AS VARCHAR)
             || (CASE WHEN doc_id % 3 = 0 THEN '.COM' ELSE '.com' END)
             || (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END)
             || '/p/' || CAST(doc_id % 97 AS VARCHAR)
             || (CASE WHEN doc_id % 4 = 0
                      THEN '?utm_source=x&id=' || CAST(doc_id % 50 AS VARCHAR)
                      WHEN doc_id % 4 = 1
                      THEN '?id=' || CAST(doc_id % 50 AS VARCHAR)
                      ELSE '' END)
             || (CASE WHEN doc_id % 6 = 0 THEN '#sec' ELSE '' END) AS url
      FROM documents),
    parsed AS (
      SELECT url,
             regexp_replace(
               regexp_replace(
                 lower(regexp_extract(url, '^[a-z]+://([^/?#]+)', 1)),
                 ':[0-9]+$', ''),
               '^www\\.', '') AS domain,
             regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS path,
             nullif(regexp_extract(url, '[?&]id=([0-9]+)', 1), '') AS id_param
      FROM urls),
    keyed AS (
      SELECT url, domain,
             domain || path
               || coalesce('?id=' || id_param, '') AS canonical
      FROM parsed)
    SELECT domain,
           CAST(count(*) AS BIGINT)                 AS n_urls,
           CAST(count(DISTINCT url) AS BIGINT)      AS n_raw_distinct,
           CAST(count(DISTINCT canonical) AS BIGINT) AS n_canonical,
           CAST(count(DISTINCT url) - count(DISTINCT canonical) AS BIGINT)
             AS n_variants_collapsed
    FROM keyed GROUP BY domain ORDER BY domain
    """,
)
def text_url_canonical(spark, sf_dir):
    t = Tables(spark, sf_dir)
    did = F.col("doc_id")
    url = F.concat(
        F.when(did % 2 == 0, F.lit("https")).otherwise(F.lit("http")),
        F.lit("://"),
        F.when(did % 3 == 0, F.lit("WWW.Site")).otherwise(F.lit("site")),
        (did % 20).cast("string"),
        F.when(did % 3 == 0, F.lit(".COM")).otherwise(F.lit(".com")),
        F.when(did % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/p/"),
        (did % 97).cast("string"),
        F.when(
            did % 4 == 0,
            F.concat(F.lit("?utm_source=x&id="), (did % 50).cast("string")),
        )
        .when(did % 4 == 1, F.concat(F.lit("?id="), (did % 50).cast("string")))
        .otherwise(F.lit("")),
        F.when(did % 6 == 0, F.lit("#sec")).otherwise(F.lit("")),
    )
    urls = t.documents.select(url.alias("url"))
    domain = F.regexp_replace(
        F.regexp_replace(
            F.lower(F.parse_url("url", F.lit("HOST"))), r":[0-9]+$", ""
        ),
        r"^www\.",
        "",
    )
    keyed = urls.select(
        "url",
        domain.alias("domain"),
        F.concat(
            domain,
            F.parse_url("url", F.lit("PATH")),
            F.coalesce(
                F.concat(F.lit("?id="), F.parse_url("url", F.lit("QUERY"), F.lit("id"))),
                F.lit(""),
            ),
        ).alias("canonical"),
    )
    return (
        keyed.groupBy("domain")
        .agg(
            F.count("*").alias("n_urls"),
            F.count_distinct("url").alias("n_raw_distinct"),
            F.count_distinct("canonical").alias("n_canonical"),
            (F.count_distinct("url") - F.count_distinct("canonical")).alias(
                "n_variants_collapsed"
            ),
        )
        .orderBy("domain")
    )
