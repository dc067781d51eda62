"""End-to-end corpus cleaning: the training-data pipeline the individual
operators exist for, composed as one lazy DataFrame plan.

    raw documents
      → language ID (marker-hit argmax, catalog/textops.py semantics)
      → quality gate (length / stopword / type-token heuristics)
      → exact dedup (md5 digest, keep lowest doc_id)
      → near-dup drop (sorted-token fingerprint, keep lowest doc_id)
      → [optional] banded MinHash-LSH near-dup drop
      → cleaned corpus + per-stage attrition report

Everything is native column expressions + digest group-bys — a single
pipeline whose shuffle count does not depend on corpus size (2 digest
shuffles + 1 final report aggregation by default; the optional MinHash
stage adds a signature aggregation and the hot-bucket-capped band self-join
it shares with catalog/dedup.py's dedup_minhash_lsh), so it
runs unchanged at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_LANG_MARKERS = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "los", "las", "y", "es"],
}


def _hits(lang: str):
    pat = r"\b(" + "|".join(_LANG_MARKERS[lang]) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(pat), F.lit(0)))


def minhash_neardup_candidates(docs: DataFrame, max_bucket: int | None = None) -> DataFrame:
    """Banded MinHash-LSH candidate pairs (da < db) over a (doc_id, text)
    frame — the reusable operator form of catalog/dedup.py's
    dedup_minhash_lsh plan: 8 universal-hash min-signatures over one
    md5-derived 31-bit token hash (catalog/dedup.py's shared scheme),
    4 bands × 2 rows, one band-struct explode, and buckets above
    ``max_bucket`` (default: catalog/dedup.py's _MAX_BUCKET) excluded from
    the O(bucket²) self-join by the shared _capped_band_pairs."""
    from ..catalog.dedup import _MAX_BUCKET, _capped_band_pairs, _mh_bands, _mh_sig_from_tokens

    tok = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
        ).alias("w"),
    ).filter(F.col("w") != "")
    bands = _mh_bands(_mh_sig_from_tokens(tok))
    return _capped_band_pairs(bands, _MAX_BUCKET if max_bucket is None else max_bucket)[0]


def gate_documents(
    documents: DataFrame,
    keep_langs: tuple[str, ...] = ("en",),
    min_tokens: int = 20,
) -> DataFrame:
    """Row-local gates (language ID + quality) with provenance columns —
    pure column expressions, no shuffle, so the SAME plan fragment serves
    both the batch cleaner and the streaming twin (streaming/corpus.py)."""
    hits = {lg: _hits(lg) for lg in _LANG_MARKERS}
    predicted = (
        F.when(
            (hits["en"] == 0) & (hits["de"] == 0) & (hits["fr"] == 0) & (hits["es"] == 0),
            "unknown",
        )
        .when((hits["de"] > hits["en"]) & (hits["de"] >= hits["fr"]) & (hits["de"] >= hits["es"]), "de")
        .when((hits["fr"] > hits["en"]) & (hits["fr"] >= hits["es"]), "fr")
        .when(hits["es"] > hits["en"], "es")
        .otherwise("en")
    )
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    n_types = F.size(F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), r"\s+")))
    quality = (
        F.when(n_tokens < min_tokens, "too_short")
        .when(hits["en"] * 100 < n_tokens, "no_stopwords")
        .when(n_types * 10 < n_tokens * 3, "repetitive")
        .otherwise("ok")
    )
    return (
        documents.withColumn("predicted_lang", predicted)
        .withColumn("n_tokens", n_tokens)
        .withColumn("quality_bucket", quality)
        .filter(F.col("predicted_lang").isin(*keep_langs) & (F.col("quality_bucket") == "ok"))
    )


def fingerprint_expr():
    """Reorder-robust content fingerprint: md5 of the sorted distinct token
    set. Exact duplicates always share it, so deduping on this single digest
    subsumes exact dedup — the property the streaming twin relies on to use
    ONE bounded-state dedup operator."""
    return F.md5(
        F.concat_ws(
            " ", F.sort_array(F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), r"\s+")))
        )
    )


def clean_corpus(
    documents: DataFrame,
    keep_langs: tuple[str, ...] = ("en",),
    min_tokens: int = 20,
    minhash_neardup: bool = False,
) -> DataFrame:
    """Return the cleaned corpus with per-row provenance columns:
    (doc_id, text, predicted_lang, n_tokens, quality_bucket).

    Drop order mirrors production pipelines: cheap row-local gates first
    (language, quality — pure column ops, no shuffle), content dedup last
    (the only shuffles, over already-reduced data)."""
    gated = gate_documents(documents, keep_langs, min_tokens)
    # exact dedup: keep the lowest doc_id per raw-text digest
    w_exact = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    exact = gated.withColumn("_rn", F.row_number().over(w_exact)).filter(F.col("_rn") == 1)
    # near-dup (reorder-robust): sorted distinct token-set fingerprint
    w_fp = Window.partitionBy(fingerprint_expr()).orderBy("doc_id")
    deduped = (
        exact.withColumn("_rn", F.row_number().over(w_fp))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "text", "predicted_lang", "n_tokens", "quality_bucket")
    )
    if not minhash_neardup:
        return deduped
    # optional banded-LSH stage: drop every doc with ANY smaller-id bucket
    # mate (the single-pass dedup reduction, as in dedup_embedding_neardup)
    cand = minhash_neardup_candidates(deduped)
    drops = cand.select(F.col("db").alias("doc_id")).distinct()
    return deduped.join(drops, "doc_id", "left_anti")


def attrition_report(
    documents: DataFrame, cleaned: DataFrame, **stages: DataFrame
) -> DataFrame:
    """One-row keep/drop accounting for the pipeline run. Extra keyword
    stage frames add ``n_after_<name>`` columns (e.g. the pre-MinHash frame,
    so the report counts the near-dup stage's drops explicitly)."""
    total = documents.agg(F.count("*").alias("n_raw"))
    kept = cleaned.agg(F.count("*").alias("n_kept"))
    out = total.crossJoin(F.broadcast(kept))
    for name, frame in stages.items():
        out = out.crossJoin(F.broadcast(frame.agg(F.count("*").alias(f"n_after_{name}"))))
    return out.withColumn("n_dropped", F.col("n_raw") - F.col("n_kept")).withColumn(
        "keep_rate_pct", F.round(F.lit(100.0) * F.col("n_kept") / F.col("n_raw"), 2)
    )


def assign_token_shards(
    df: DataFrame, id_col: str, token_col: str, shard_tokens: int
) -> DataFrame:
    """Add a ``shard_id`` column: contiguous-by-id greedy packing where a
    doc belongs to the shard its cumulative END position falls in (shard s
    covers cumulative tokens (s*B, (s+1)*B]) — the sequence-packing /
    shard-manifest step before writing training data. The cumulative sum is
    operators/ranked.ranged_prefix's (no single-task sort window), so the
    result equals the serial cumsum rule exactly, for any partitioning."""
    from .ranked import ranged_prefix

    pref, _ = ranged_prefix(df, [id_col], [token_col])
    cum = f"cum_{token_col}"
    return pref.withColumn(
        "shard_id", ((F.col(cum) - 1) / shard_tokens).cast("long")
    ).drop("_r", cum)


def pack_cleaned_corpus(cleaned: DataFrame, shard_tokens: int = 100_000) -> DataFrame:
    """Final pipeline stage: assign the cleaned corpus to contiguous
    ~shard_tokens shards (``assign_token_shards``) — the manifest a
    training job reads, ready for ``write_partitioned(df, path, 'shard_id')``."""
    return assign_token_shards(cleaned, "doc_id", "n_tokens", shard_tokens)


# one order key per chunk for the packing cumsum: supports ~2^20 chunks per
# document (a ~25M-token doc at the default stride) and keeps doc_id unique
# below 2^43 — both far beyond any real corpus row
_MAX_CHUNKS_PER_DOC = 1 << 20


def chunk_and_pack_corpus(
    cleaned: DataFrame,
    chunk_tokens: int = 32,
    stride: int = 24,
    shard_tokens: int = 100_000,
) -> DataFrame:
    """Alternative output stage: chunk the cleaned corpus into overlapping
    token windows (operators/chunking.py) and pack the CHUNKS — not whole
    documents — into contiguous ~``shard_tokens`` shards. This is the
    manifest shape for context-window training where the chunk is the
    example; ``pack_cleaned_corpus`` remains the whole-document variant.
    Chunking is a pure map; the shuffles are the packing cumsum's."""
    from .chunking import chunk_by_tokens

    chunks = chunk_by_tokens(
        cleaned, chunk_tokens=chunk_tokens, stride=stride, keep_text=True
    ).withColumn(
        "chunk_key",
        F.col("doc_id") * _MAX_CHUNKS_PER_DOC + F.col("chunk_id"),
    )
    return assign_token_shards(chunks, "chunk_key", "n_tok", shard_tokens)
