"""Property tests for the dedup canonicalization semantics.

The reorder-robust fingerprint (sorted distinct token set) must be
invariant under token permutation and duplication, while the exact digest
must not be — the defining contract separating the two dedup families.
Hypothesis generates the corpora; Spark evaluates every case in ONE job.
"""

from __future__ import annotations

import hashlib
import random

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_token = st.text(alphabet="abcdefg", min_size=1, max_size=4)
_doc = st.lists(_token, min_size=1, max_size=8)


def _spark_fingerprints(spark, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    fp = F.md5(
        F.concat_ws(
            " ",
            F.sort_array(F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))),
        )
    )
    return [r["fp"] for r in df.select(fp.alias("fp")).orderBy("doc_id").collect()]


@settings(max_examples=20, deadline=None)
@given(docs=st.lists(_doc, min_size=1, max_size=6), seed=st.integers(0, 2**16))
def test_fingerprint_invariant_under_permutation_and_duplication(spark, docs, seed):
    rng = random.Random(seed)
    originals = [" ".join(toks) for toks in docs]
    # permute tokens AND duplicate a random token: same distinct-token set
    mutated = []
    for toks in docs:
        m = list(toks) + [rng.choice(toks)]
        rng.shuffle(m)
        mutated.append(" ".join(m))

    fps = _spark_fingerprints(spark, originals + mutated)
    n = len(docs)
    assert fps[:n] == fps[n:], "fingerprint changed under permutation/duplication"

    # the canonical form matches an independent Python implementation
    for text, fp in zip(originals, fps[:n]):
        canon = " ".join(sorted(set(text.lower().strip().split())))
        assert fp == hashlib.md5(canon.encode()).hexdigest()

    # while the EXACT digest distinguishes any literal change
    for o, m in zip(originals, mutated):
        if o != m:
            assert hashlib.md5(o.encode()).hexdigest() != hashlib.md5(m.encode()).hexdigest()


def test_minhash_candidates_order_invariant(spark):
    """The corpus MinHash candidate set must not depend on row order or
    partitioning — signatures are per-doc aggregates and the band join is
    set-semantics (distinct pairs)."""
    from etl_for_dumdums_spark.operators.corpus import minhash_neardup_candidates

    from .conftest import SF_SMOKE

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("doc_id", "text")
    base = {(r["da"], r["db"]) for r in minhash_neardup_candidates(docs).collect()}
    from pyspark.sql import functions as F

    shuffled = docs.orderBy(F.rand(seed=7)).repartition(13)
    again = {(r["da"], r["db"]) for r in minhash_neardup_candidates(shuffled).collect()}
    assert base == again and base


def test_prefix_jaccard_equals_bruteforce(spark):
    """Prefix filtering is exact: the candidate pruning must lose nothing —
    the output equals the brute-force all-shared-shingle threshold join."""
    from pyspark.sql import functions as F

    from etl_for_dumdums_spark.catalog import Tables
    from etl_for_dumdums_spark.catalog.dedup import dedup_prefix_jaccard

    from .conftest import SF_SMOKE as _SF

    docs = Tables(spark, _SF).documents
    arr = docs.select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("a")
    ).filter(F.size("a") >= 3)
    sh = arr.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(a) - 3), i -> concat_ws(' ', a[i], a[i+1], a[i+2]))"
            )
        ).alias("w"),
    ).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("s"))
    x, y = sh.alias("x"), sh.alias("y")
    pairs = (
        x.join(y, (F.col("x.w") == F.col("y.w")) & (F.col("x.doc_id") < F.col("y.doc_id")))
        .groupBy(F.col("x.doc_id").alias("da"), F.col("y.doc_id").alias("db"))
        .agg(F.count("*").alias("inter"))
    )
    brute = (
        pairs.join(sizes.select(F.col("doc_id").alias("da"), F.col("s").alias("sa")), "da")
        .join(sizes.select(F.col("doc_id").alias("db"), F.col("s").alias("sb")), "db")
        .filter(9 * F.col("inter") >= 4 * (F.col("sa") + F.col("sb")))
        .select("da", "db")
        .collect()
    )
    got = dedup_prefix_jaccard(spark, _SF).select("da", "db").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, brute))
    assert len(got) > 0  # non-vacuous at the smoke SF


@settings(max_examples=15, deadline=None)
@given(
    docs=st.lists(_doc, min_size=1, max_size=5),
    w=st.integers(2, 10),
    overlap=st.integers(0, 8),
)
def test_chunking_invariants(spark, docs, w, overlap):
    """chunk_by_tokens invariants for arbitrary corpora and (W, S) configs:
    full token coverage, per-chunk size bound, stride-aligned starts,
    non-first chunks contribute new tokens, and each chunk's text equals
    the corresponding token slice (the serial reference implementation)."""
    from etl_for_dumdums_spark.operators.chunking import chunk_by_tokens

    s = max(1, w - min(overlap, w - 1))  # 1 <= stride <= w
    texts = [" ".join(toks) for toks in docs]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    out = chunk_by_tokens(df, chunk_tokens=w, stride=s).collect()

    for i, text in enumerate(texts):
        toks = " ".join(text.lower().strip().split()).split(" ")
        mine = sorted(
            (r for r in out if r.doc_id == i), key=lambda r: r.chunk_id
        )
        # serial reference: starts stepping by s, drop no-new-token tails
        expected = []
        for start in range(0, len(toks), s):
            n_tok = min(w, len(toks) - start)
            if start == 0 or n_tok > w - s:
                expected.append((start, n_tok, " ".join(toks[start : start + n_tok])))
        assert [(r.start_tok, r.n_tok, r.chunk_text) for r in mine] == expected
        covered = set()
        for r in mine:
            assert r.start_tok % s == 0 and r.chunk_id == r.start_tok // s
            covered.update(range(r.start_tok, r.start_tok + r.n_tok))
        assert covered == set(range(len(toks)))


def test_capped_band_pairs_agree_across_callers_and_drop_hot_bucket(spark):
    """One generated corpus holds a band bucket of more than _MAX_BUCKET
    identical docs plus ordinary near-duplicate pairs. The corpus operator
    and the catalog candidate builder must return the same pair set (texts
    carry no leading tabs, so both tokenizers agree), no pair may come from
    the hot bucket, and the shared self-join's hot count must equal the
    (band, key) groups above the cap counted directly."""
    from etl_for_dumdums_spark.catalog.dedup import (
        _MAX_BUCKET,
        _capped_band_pairs,
        _mh_bands,
        _mh_sig,
        _minhash_candidates,
    )
    from etl_for_dumdums_spark.operators.corpus import minhash_neardup_candidates

    rng = random.Random(11)
    n_hot = _MAX_BUCKET + 16
    # identical docs share every band key; their vocabulary is shared with
    # no other doc, so their only buckets are the hot ones
    texts = [" ".join(f"boiler{i}" for i in range(20))] * n_hot
    for _ in range(30):
        toks = [f"w{rng.randrange(10_000)}" for _ in range(20)]
        texts.append(" ".join(toks))
        toks[rng.randrange(20)] = f"x{rng.randrange(10_000)}"  # one-token edit
        texts.append(" ".join(toks))
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")

    corpus_pairs = {(r["da"], r["db"]) for r in minhash_neardup_candidates(docs).collect()}
    catalog_pairs = {(r["da"], r["db"]) for r in _minhash_candidates(docs).collect()}
    assert corpus_pairs == catalog_pairs
    assert corpus_pairs, "the near-duplicate pairs must produce candidates"
    assert not any(da < n_hot or db < n_hot for da, db in corpus_pairs)

    bands = _mh_bands(_mh_sig(docs))
    _pairs, hot = _capped_band_pairs(bands)
    direct = (
        bands.groupBy("band", "key").count().filter(F.col("count") > _MAX_BUCKET).count()
    )
    assert hot.count() == direct == 4  # the identical docs' bucket in each band
    spark.catalog.clearCache()
