"""Tests for the session-8 mining wave: span-level dedup, sorted-neighborhood
blocking, word PMI, and inverted index.

Each operator is pinned against an independent serial-Python reimplementation
of its stated rule (not against the DuckDB oracle, which check_oracle already
runs) — the same drift-guard style as the earlier session waves.
"""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict

import duckdb

from tests.conftest import SF_SMOKE


def _docs():
    return duckdb.sql(
        f"SELECT doc_id, lang, text FROM '{SF_SMOKE}/documents.parquet' ORDER BY doc_id"
    ).fetchall()


def _md5_12(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()[:12]


def test_span_dedup_matches_serial(spark):
    """Per-lang span attrition must equal the serial 16-token-window rule."""
    from etl_for_dumdums_spark.catalog.mining import (
        _SPAN_DUP_MAX,
        _SPAN_W,
        text_span_dedup,
    )

    spans = []  # (doc_id, lang, fingerprint, n_span_tokens)
    for doc_id, lang, text in _docs():
        tk = text.strip().split()
        for i in range(0, len(tk), _SPAN_W):
            chunk = tk[i : i + _SPAN_W]
            spans.append((doc_id, lang, _md5_12(" ".join(chunk)), len(chunk)))
    freq = Counter(f for _, _, f, _ in spans)
    per_lang = defaultdict(lambda: [set(), 0, 0, set(), 0, 0])
    for doc_id, lang, f, sw in spans:
        s = per_lang[lang]
        s[0].add(doc_id)
        s[1] += 1
        s[4] += sw
        if freq[f] > _SPAN_DUP_MAX:
            s[2] += 1
            s[3].add(doc_id)
            s[5] += sw
    rows = {r["lang"]: r for r in text_span_dedup(spark, SF_SMOKE).collect()}
    assert set(rows) == set(per_lang)
    for lang, (docs, n_spans, n_dup, affected, tok_tot, tok_drop) in per_lang.items():
        r = rows[lang]
        assert r["n_docs"] == len(docs)
        assert r["n_spans"] == n_spans
        assert r["n_dup_spans"] == n_dup
        assert r["n_affected_docs"] == len(affected)
        assert r["tokens_total"] == tok_tot
        assert r["tokens_dropped"] == tok_drop
        assert r["drop_ppm"] == tok_drop * 1_000_000 // tok_tot
    # non-vacuous: the template-heavy corpus must contain boilerplate spans
    assert sum(r["n_dup_spans"] for r in rows.values()) > 0


def test_sorted_neighborhood_matches_serial(spark):
    """Candidate/verified pair counts must equal the serial blocked
    sorted-neighborhood rule (sort by nkey within block, compare next W)."""
    from etl_for_dumdums_spark.catalog.mining import (
        _MAX_SNB_BLOCK,
        _SNB_BLOCK_LEN,
        _SNB_KEY_LEN,
        _SNB_W,
        dedup_sorted_neighborhood,
    )

    base = []
    for doc_id, _, text in _docs():
        norm = " ".join(text.strip().lower().split())
        base.append((norm[:_SNB_BLOCK_LEN], norm[:_SNB_KEY_LEN], doc_id, set(norm.split(" "))))
    blocks = defaultdict(list)
    for blk, nkey, doc_id, toks in base:
        blocks[blk].append((nkey, doc_id, toks))
    n_hot = sum(1 for b in blocks.values() if len(b) > _MAX_SNB_BLOCK)
    cand = verified = 0
    for b in blocks.values():
        if len(b) > _MAX_SNB_BLOCK:
            continue
        b.sort()
        for i, (_, _, ta) in enumerate(b):
            for j in range(1, _SNB_W + 1):
                if i + j >= len(b):
                    break
                tb = b[i + j][2]
                cand += 1
                inter, uni = len(ta & tb), len(ta | tb)
                if inter * 10 >= uni * 7:
                    verified += 1
    r = dedup_sorted_neighborhood(spark, SF_SMOKE).collect()[0]
    assert r["n_docs"] == len(base)
    assert r["n_blocks"] == len(blocks)
    assert r["n_hot_blocks_skipped"] == n_hot
    assert r["n_candidate_pairs"] == cand
    assert r["n_verified_pairs"] == verified
    assert r["verified_ppm"] == verified * 1_000_000 // cand
    assert cand > 0 and verified > 0  # non-vacuous on this corpus
    # pair work is bounded by construction: ≤ W pairs per kept record
    assert cand <= _SNB_W * len(base)


def test_word_pmi_matches_serial(spark):
    """Top-K collocations must equal the serial lift ranking, with the
    128-bit-exact integer ppm."""
    from etl_for_dumdums_spark.catalog.mining import (
        _PMI_K,
        _PMI_MIN_PAIR,
        text_word_pmi,
    )

    uni: Counter = Counter()
    pairs: Counter = Counter()
    for _, _, text in _docs():
        tk = text.strip().lower().split()
        uni.update(tk)
        pairs.update(zip(tk, tk[1:]))
    n = sum(uni.values())
    scored = [
        (10**6 * c * n // (uni[a] * uni[b]), a, b, c)
        for (a, b), c in pairs.items()
        if c >= _PMI_MIN_PAIR
    ]
    scored.sort(key=lambda t: (-t[0], t[1], t[2]))
    expect = scored[:_PMI_K]
    rows = text_word_pmi(spark, SF_SMOKE).collect()
    assert len(rows) == len(expect)
    for r, (lift, a, b, c) in zip(rows, expect):
        assert (r["w1"], r["w2"]) == (a, b)
        assert r["n_ab"] == c
        assert r["n_a"] == uni[a] and r["n_b"] == uni[b]
        assert r["lift_ppm"] == lift


def test_inverted_index_matches_serial(spark):
    """df / cf / posting-list heads must equal the serial index; the salted
    two-stage min-K merge must be exact, not approximate."""
    from etl_for_dumdums_spark.catalog.mining import _IDX_K, _IDX_P, text_inverted_index

    cf: Counter = Counter()
    postings: defaultdict = defaultdict(set)
    for doc_id, _, text in _docs():
        tk = text.strip().lower().split()
        cf.update(tk)
        for w in tk:
            postings[w].add(doc_id)
    terms = sorted(
        (t for t in cf if len(postings[t]) >= 2), key=lambda t: (-cf[t], t)
    )[:_IDX_K]
    rows = text_inverted_index(spark, SF_SMOKE).collect()
    assert [r["term"] for r in rows] == terms
    for r in rows:
        t = r["term"]
        assert r["df"] == len(postings[t])
        assert r["cf"] == cf[t]
        assert r["postings"] == ",".join(str(d) for d in sorted(postings[t])[:_IDX_P])


def test_snb_window_is_block_partitioned(spark):
    """Plan pin: the sorted-neighborhood window must partition by block —
    never a single-partition global sort window."""
    from etl_for_dumdums_spark.catalog.mining import dedup_sorted_neighborhood

    plan = dedup_sorted_neighborhood(spark, SF_SMOKE)._jdf.queryExecution().toString()
    import re

    for m in re.finditer(r"Window \[lead", plan):
        window_line = plan[m.start() : plan.index("\n", m.start())]
        assert "blk" in window_line, window_line
