import pytest
from pyspark.sql import functions as F

from etl_for_dumdums_spark.operators.enrich import (
    MAX_CHARS,
    categorize,
    score_sentiment,
    stub_scorer,
)


def test_stub_scorer_deterministic_and_bounded():
    a = stub_scorer(["hello world", "spark"])
    b = stub_scorer(["hello world", "spark"])
    assert a == b
    assert all(-1.0 <= s <= 1.0 for s in a)


def test_categorize_thresholds():
    assert categorize(0.3) == "positive"
    assert categorize(-0.3) == "negative"
    assert categorize(0.25) == "neutral"  # boundary is exclusive
    assert categorize(-0.25) == "neutral"


def test_score_sentiment_semantics(spark):
    df = spark.createDataFrame(
        [(1, "x" * 2000), (2, "short"), (3, None), (4, "a reasonably long comment text")],
        ["id", "text"],
    )
    rows = {r["id"]: r for r in score_sentiment(df).collect()}
    # short (<10 chars) and null → neutral 0.0
    assert rows[2]["sentiment_score"] == 0.0 and rows[2]["sentiment_label"] == "NEUTRAL"
    assert rows[3]["sentiment_score"] == 0.0
    # long text scored on the truncated prefix
    expected = stub_scorer(["x" * MAX_CHARS])[0]
    assert rows[1]["sentiment_score"] == pytest.approx(expected)
    assert rows[4]["sentiment_category"] in ("positive", "negative", "neutral")


def test_score_sentiment_error_path(spark):
    def broken(texts):
        raise RuntimeError("api down")

    df = spark.createDataFrame([(1, "some long enough text here")], ["id", "text"])
    row = score_sentiment(df, scorer=broken).collect()[0]
    assert row["sentiment_label"] == "ERROR"
    assert row["sentiment_score"] == 0.0
    assert row["sentiment_category"] == "neutral"


# ---------------------------------------------------------------------------
# Token-window chunking (operators/chunking.py)
# ---------------------------------------------------------------------------
def _chunk_fixture(spark):
    docs = [
        (1, "one two three"),                                  # < W tokens: 1 chunk
        (2, " ".join(f"t{i}" for i in range(32))),             # exactly W: 1 chunk
        (3, " ".join(f"t{i}" for i in range(33))),             # W+1: 2 chunks
        (4, " ".join(f"t{i}" for i in range(100))),            # several chunks
        (5, " ".join(f"t{i}" for i in range(56))),             # 56 = 24+32: 2 full
        (6, "  padded   whitespace\tand\nnewlines  "),         # normalization
    ]
    return spark.createDataFrame(docs, ["doc_id", "text"])


def test_chunk_by_tokens_shapes(spark):
    from etl_for_dumdums_spark.operators.chunking import chunk_by_tokens

    out = chunk_by_tokens(_chunk_fixture(spark), chunk_tokens=32, stride=24)
    rows = {(r.doc_id, r.chunk_id): r for r in out.collect()}
    per_doc = {}
    for (d, _c), r in rows.items():
        per_doc.setdefault(d, []).append(r)
    assert len(per_doc[1]) == 1 and per_doc[1][0].n_tok == 3
    assert len(per_doc[2]) == 1 and per_doc[2][0].n_tok == 32
    # 33 tokens: starts 0 and 24; second chunk has 9 new-ish tokens (> W-S=8)
    assert len(per_doc[3]) == 2
    assert rows[(3, 1)].start_tok == 24 and rows[(3, 1)].n_tok == 9
    # every chunk bounded by W, starts are multiples of stride
    for r in rows.values():
        assert 1 <= r.n_tok <= 32
        assert r.start_tok == r.chunk_id * 24


def test_chunk_by_tokens_full_coverage_and_new_content(spark):
    from etl_for_dumdums_spark.operators.chunking import chunk_by_tokens

    df = _chunk_fixture(spark)
    out = chunk_by_tokens(df, chunk_tokens=32, stride=24).collect()
    # rebuild each doc's token index coverage from (start, n_tok)
    import collections

    cover = collections.defaultdict(set)
    for r in out:
        cover[r.doc_id].update(range(r.start_tok, r.start_tok + r.n_tok))
    for d, text in [(r.doc_id, r.text) for r in df.collect()]:
        n = len(text.strip().split())
        assert cover[d] == set(range(n)), f"doc {d} not fully covered"
    # each non-first chunk must contribute new tokens (n_tok > W - S)
    for r in out:
        if r.chunk_id > 0:
            assert r.n_tok > 32 - 24


def test_chunk_by_tokens_text_roundtrip(spark):
    from etl_for_dumdums_spark.operators.chunking import chunk_by_tokens

    df = _chunk_fixture(spark)
    out = chunk_by_tokens(df, chunk_tokens=32, stride=24)
    toks_by_doc = {
        r.doc_id: " ".join(r.text.strip().lower().split()).split(" ")
        for r in df.collect()
    }
    for r in out.collect():
        expected = " ".join(toks_by_doc[r.doc_id][r.start_tok : r.start_tok + r.n_tok])
        assert r.chunk_text == expected
    # metadata-only mode drops the payload column
    assert "chunk_text" not in chunk_by_tokens(df, keep_text=False).columns


def test_chunk_by_tokens_validates_stride(spark):
    from etl_for_dumdums_spark.operators.chunking import chunk_by_tokens

    with pytest.raises(ValueError):
        chunk_by_tokens(_chunk_fixture(spark), chunk_tokens=16, stride=17)
    with pytest.raises(ValueError):
        chunk_by_tokens(_chunk_fixture(spark), stride=0)
