"""Token-window document chunking — the training-data shaping step between
corpus cleaning and shard packing (long documents become overlapping
fixed-token-budget chunks; the chunk, not the document, is the training
example).

Beyond-reference capability (the reference pipeline ships whole rows to the
warehouse; an LLM-data pipeline needs context-window-sized pieces). Pure
column expressions: tokenize once per document, explode only the chunk START
positions (O(n_tokens / stride) rows per doc, not O(n_tokens)), then slice
the cached token array per start. No UDFs, no shuffle — chunking is a map;
the downstream packing stage (operators/corpus.assign_token_shards) does
the shuffles into token-budget shards.

Semantics (fully deterministic, engine-exact):
  * tokens = whitespace split of the normalized text (lower, trim, collapse
    whitespace) — the same normalization the dedup/fingerprint family uses;
  * chunk starts at 0, stride, 2*stride, ... while start < n_tokens;
  * a chunk takes min(chunk_tokens, n_tokens - start) tokens;
  * trailing starts whose chunk would add NO new tokens vs the previous
    chunk (n_tok <= chunk_tokens - stride) are dropped — every emitted
    chunk contributes new content, and every token is covered by >= 1 chunk.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_CHUNK_TOKENS = 32
DEFAULT_STRIDE = 24


def chunk_by_tokens(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = DEFAULT_CHUNK_TOKENS,
    stride: int = DEFAULT_STRIDE,
    keep_text: bool = True,
) -> DataFrame:
    """Split each document into overlapping token-window chunks.

    Returns one row per chunk: (id_col, chunk_id, start_tok, n_tok[, chunk_text]).
    chunk_id is the 0-based window index (start_tok / stride). With
    ``keep_text=False`` the sliced text is omitted (metadata-only pass, e.g.
    for sizing/costing before materializing chunk payloads).
    """
    if not (0 < stride <= chunk_tokens):
        raise ValueError("need 0 < stride <= chunk_tokens")
    arr = F.split(
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "), " "
    )
    base = df.select(F.col(id_col), arr.alias("_toks")).filter(F.size("_toks") >= 1)
    starts = base.select(
        id_col,
        "_toks",
        F.size("_toks").alias("_n"),
        F.explode(
            F.sequence(F.lit(0), F.size("_toks") - 1, F.lit(stride))
        ).alias("start_tok"),
    )
    chunks = starts.withColumn(
        "n_tok", F.least(F.lit(chunk_tokens), F.col("_n") - F.col("start_tok"))
    ).filter(
        (F.col("start_tok") == 0) | (F.col("n_tok") > chunk_tokens - stride)
    )
    out_cols = [
        F.col(id_col),
        (F.col("start_tok") / stride).cast("long").alias("chunk_id"),
        F.col("start_tok").cast("long").alias("start_tok"),
        F.col("n_tok").cast("long").alias("n_tok"),
    ]
    if keep_text:
        out_cols.append(
            F.array_join(
                F.slice(F.col("_toks"), F.col("start_tok") + 1, F.col("n_tok")), " "
            ).alias("chunk_text")
        )
    return chunks.select(*out_cols)
