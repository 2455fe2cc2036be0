"""The block-max executor == brute-force top-k (property, SURVEY.md §5.2):
bit-identical floats, exact micros, and safe pruning under score ties."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from searchengine_spark.operators import codec
from searchengine_spark.operators.segments import (
    _blockmax_seg_shard,
    _exhaustive_seg_shard,
    _micros,
)

IDFS = {"alpha": 2.3, "beta": 0.7, "gamma": 4.1, "delta": 1.0, "eps": 1.9}
AVGDL = 80.0


def brute_force(term_postings, idfs, avgdl, k, micros=False):
    scores: dict[int, list[tuple[str, float]]] = {}
    for term, posts in term_postings.items():
        for doc_id, tf, dl in posts:
            c = codec.bm25_contrib(np.array([tf]), np.array([dl]), idfs[term], avgdl)[0]
            scores.setdefault(doc_id, []).append((term, _micros(c) if micros else float(c)))
    out = []
    for doc_id, contribs in scores.items():
        contribs.sort()
        s = 0 if micros else 0.0
        for _, c in contribs:
            s += c
        out.append((s, doc_id))
    out.sort(key=lambda t: (-t[0], t[1]))
    return out[:k]


def term_blocks_of(term_postings, block_size):
    """Encode each term's postings into one shard's segment blocks."""
    term_blocks = {}
    for term, posts in term_postings.items():
        posts = sorted(posts)
        ids = np.array([p[0] for p in posts], dtype=np.uint64)
        tfs = np.array([p[1] for p in posts], dtype=np.uint64)
        dls = np.array([p[2] for p in posts], dtype=np.uint64)
        blocks = codec.encode_blocks(
            ids, tfs, dls, [[] for _ in posts], idf=IDFS[term], avgdl=AVGDL,
            block_size=block_size,
        )
        for b in blocks:
            b["bucket"] = 0
            b["shard"] = 0
            b["term"] = term
        term_blocks[term] = blocks
    return term_blocks


postings_st = st.dictionaries(
    st.sampled_from(["alpha", "beta", "gamma", "delta"]),
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3000),
            st.integers(min_value=1, max_value=30),
            st.integers(min_value=5, max_value=500),
        ),
        min_size=1,
        max_size=300,
        unique_by=lambda t: t[0],
    ),
    min_size=1,
    max_size=4,
)


@given(postings_st, st.integers(min_value=1, max_value=12))
@settings(max_examples=80, deadline=None)
def test_wand_equals_bruteforce(term_postings, k):
    """Float mode: block-max returns brute force's top-k with bit-identical
    scores (same sorted-term summation). block_size=16 → ≤19 blocks/term
    (all-eager path); block_size=2 → up to 150 blocks (block-level bounds
    + mixed eager/block path)."""
    want = brute_force(term_postings, IDFS, AVGDL, k)
    for bs in (16, 2):
        got = _blockmax_seg_shard(term_blocks_of(term_postings, bs), IDFS, AVGDL, k)
        assert [(d, s) for s, d, _ in got] == [(d, s) for s, d in want], bs


@given(postings_st, st.integers(min_value=1, max_value=12))
@settings(max_examples=80, deadline=None)
def test_maxscore_equals_wand_and_bruteforce(term_postings, k):
    """The `bm25_topk_maxscore` and `bm25_topk_wand` gates both serve from
    block-max: it equals brute force in float mode (bit-identical scores)
    and in micros mode (exact integers)."""
    tb = term_blocks_of(term_postings, 16)
    got = _blockmax_seg_shard(tb, IDFS, AVGDL, k)
    want = brute_force(term_postings, IDFS, AVGDL, k)
    assert [(d, s) for s, d, _ in got] == [(d, s) for s, d in want]
    got = _blockmax_seg_shard(tb, IDFS, AVGDL, k, micros=True)
    want = brute_force(term_postings, IDFS, AVGDL, k, micros=True)
    assert [(d, s) for s, d, _ in got] == [(d, s) for s, d in want]


@given(postings_st, st.integers(min_value=1, max_value=12))
@settings(max_examples=80, deadline=None)
def test_blockmax_and_seg_exhaustive_equal_wand(term_postings, k):
    """Micros mode: block-max == decode-all exhaustive == brute force over
    block sizes — the pruning executor and its no-skipping reference agree
    exactly under the integer contract the DuckDB oracles use.
    block_size=16 → ≤19 blocks/term (all-eager path); block_size=2 → up to
    150 blocks (block-level coverage + mixed eager/block path)."""
    want = brute_force(term_postings, IDFS, AVGDL, k, micros=True)
    for bs in (16, 2):
        tb = term_blocks_of(term_postings, bs)
        bm = _blockmax_seg_shard(tb, IDFS, AVGDL, k, micros=True)
        ex = _exhaustive_seg_shard(tb, IDFS, AVGDL, k, micros=True)
        assert [(s, d) for s, d, _ in bm] == [(s, d) for s, d in want], bs
        assert [(s, d) for s, d, _ in ex] == [(s, d) for s, d in want], bs


@given(
    st.dictionaries(
        st.sampled_from(sorted(IDFS)),
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=400),
                st.integers(min_value=1, max_value=3),
                st.sampled_from([40, 80, 120]),
            ),
            min_size=1,
            max_size=200,
            unique_by=lambda t: t[0],
        ),
        min_size=1,
        max_size=5,
    ),
    st.integers(min_value=1, max_value=12),
    st.sampled_from([4, 16, 128]),
)
@settings(max_examples=400, deadline=None)
def test_blockmax_float_ties_bit_identical(term_postings, k, block_size):
    """Many exact score ties (tf ∈ 1..3, three doc lengths): float scores
    differing by one ulp would swap tied ranks, so the document sum and
    the interval upper bound must both fold in sorted-term order — and the
    float bound must never prune a top-k doc (no epsilon needed)."""
    got = _blockmax_seg_shard(term_blocks_of(term_postings, block_size), IDFS, AVGDL, k)
    want = brute_force(term_postings, IDFS, AVGDL, k)
    assert [(d, s) for s, d, _ in got] == [(d, s) for s, d in want]


def test_phrase_micros_equals_columnar(spark):
    """The segments-served scored phrase (positions decoded from blobs)
    must equal the columnar phrase_topk row-for-row in exact micros."""
    from searchengine_spark.operators import serve
    from searchengine_spark.plans.gate_index import gate_index

    idx = gate_index(spark, "/root/testdata/sf0.001")
    cols = serve.phrase_topk(spark, idx, ["hash", "join"], k=10).collect()
    wand = serve.phrase_topk_wand(spark, idx, ["hash", "join"], k=10).collect()
    assert [tuple(r) for r in cols] == [tuple(r) for r in wand] and cols
    # absent term -> unmatchable phrase, empty on both paths
    assert serve.phrase_topk_wand(spark, idx, ["hash", "zzznope"], k=10).count() == 0


def test_phrase_freq_consistent_with_phrase_match(spark):
    """phrase_freq_topk's doc set == phrase_match's (same adjacency), and
    every phrase_freq >= 1; score is monotone in pf for equal dl."""
    from searchengine_spark.operators import serve
    from searchengine_spark.plans.gate_index import gate_index

    idx = gate_index(spark, "/root/testdata/sf0.001")
    phrase = ["hash", "join"]
    match_ids = {r["doc_id"] for r in serve.phrase_match(spark, idx, phrase).collect()}
    scored = serve.phrase_freq_topk(spark, idx, phrase, k=10_000).collect()
    assert {r["doc_id"] for r in scored} == match_ids
    assert all(r["phrase_freq"] >= 1 for r in scored)


def test_span_first_topk_bounds(spark):
    """Every result's first occurrence is inside the window, and the doc
    set equals the brute positions check at gate scale."""
    from pyspark.sql import functions as F

    from searchengine_spark.operators import serve
    from searchengine_spark.plans.gate_index import gate_index

    idx = gate_index(spark, "/root/testdata/sf0.001")
    out = serve.span_first_topk(spark, idx, "spark", k=10_000, max_pos=8).collect()
    assert all(0 <= r["first_pos"] < 8 for r in out)
    brute = (
        idx["postings"]
        .filter(F.col("term") == "spark")
        .select("doc_id", F.element_at("positions", 1).alias("fp"))
        .filter(F.col("fp") < 8)
        .count()
    )
    assert len(out) == brute
