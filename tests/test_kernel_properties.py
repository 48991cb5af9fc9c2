"""Hypothesis property tests for the vector kernels (SURVEY.md §5.3).

One Spark job per property run would be minutes of overhead, so each
property materializes its generated cases as a single DataFrame and
checks all rows in one action.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from wpvectordb_spark.functions import kernels as K

finite_floats = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False, width=32
)
vectors = st.lists(finite_floats, min_size=1, max_size=96)


@st.composite
def vector_pairs(draw):
    n = draw(st.integers(min_value=1, max_value=64))
    a = draw(st.lists(finite_floats, min_size=n, max_size=n))
    b = draw(st.lists(finite_floats, min_size=n, max_size=n))
    return a, b


@settings(max_examples=20, deadline=None)
@given(st.lists(vectors, min_size=1, max_size=8))
def test_magnitude_and_normalize_properties(spark, vecs):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vecs)], "id long, v array<float>")
    rows = df.select(
        "id",
        K.magnitude("v").alias("mag"),
        K.magnitude(K.normalize("v")).alias("norm_mag"),
        F.size(K.sign_code("v")).alias("n_words"),
        F.size("v").alias("dim"),
    ).collect()
    for r, v in zip(sorted(rows, key=lambda r: r["id"]), vecs):
        expect = math.sqrt(sum(float(F32(x)) ** 2 for x in v))
        assert r["mag"] == pytest.approx(expect, rel=1e-6)
        if expect > 0:
            assert r["norm_mag"] == pytest.approx(1.0, rel=1e-6)
        else:
            assert r["norm_mag"] == 0.0
        assert r["n_words"] == (r["dim"] + 31) // 32


def F32(x: float) -> float:
    import struct

    return struct.unpack("f", struct.pack("f", x))[0]


@settings(max_examples=20, deadline=None)
@given(st.lists(vector_pairs(), min_size=1, max_size=8))
def test_hamming_cosine_properties(spark, pairs):
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        "id long, a array<float>, b array<float>",
    )
    rows = df.select(
        "id",
        K.hamming(K.sign_code("a"), K.sign_code("b")).alias("hd_ab"),
        K.hamming(K.sign_code("b"), K.sign_code("a")).alias("hd_ba"),
        K.hamming(K.sign_code("a"), K.sign_code("a")).alias("hd_aa"),
        K.cosine_similarity("a", "b").alias("cos_ab"),
        K.cosine_similarity("b", "a").alias("cos_ba"),
        F.size("a").alias("dim"),
    ).collect()
    for r in rows:
        assert r["hd_aa"] == 0
        assert r["hd_ab"] == r["hd_ba"]  # symmetry
        assert 0 <= r["hd_ab"] <= r["dim"]  # bounded by dims
        assert abs(r["cos_ab"]) <= 1.0 + 1e-9
        assert r["cos_ab"] == pytest.approx(r["cos_ba"], abs=1e-12)


@settings(max_examples=15, deadline=None)
@given(st.lists(st.text(min_size=0, max_size=40), min_size=1, max_size=10))
def test_hash_and_shingle_properties(spark, texts):
    from wpvectordb_spark.functions import text as X

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, t string")
    rows = df.select(
        "id",
        X.string_hash("t").alias("h"),
        F.size(X.tokens("t")).alias("n_tok"),
        X.shingle_hashes("t", 3).alias("sh"),
    ).collect()
    for r in rows:
        assert 0 <= r["h"] < X.HASH_MOD
        if r["n_tok"] == 0:
            assert r["sh"] is None
        else:
            assert len(r["sh"]) >= 1
            assert all(0 <= s < X.HASH_MOD for s in r["sh"])
            # n>=3 tokens -> at most n-2 distinct shingles
            if r["n_tok"] >= 3:
                assert len(r["sh"]) <= r["n_tok"] - 2


@settings(max_examples=10, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=30))
def test_minhash_monotone_under_superset(spark, hashes):
    """Adding elements can only lower (or keep) each minhash lane."""
    from wpvectordb_spark.functions import sketch_arrow as SA
    from wpvectordb_spark.functions import text as X

    extra = [(h * 7 + 1) % X.HASH_MOD for h in hashes]
    df = spark.createDataFrame(
        [(1, hashes), (2, hashes + extra)], "id long, hs array<long>"
    )
    sigs = {
        r["id"]: r["sig"]
        for r in df.select("id", SA.minhash_signature_arrow("hs", 16).alias("sig")).collect()
    }
    assert all(b <= a for a, b in zip(sigs[1], sigs[2]))


@settings(max_examples=10, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**32 - 1), min_size=0, max_size=8))
def test_hex_roundtrip_inverts(spark, words):
    """hex_to_code(code_to_hex(w)) == w for any packed 32-bit word array —
    the K4 export format loses nothing."""
    from wpvectordb_spark.functions import kernels as K

    df = spark.createDataFrame([(words,)], "code array<long>")
    back = df.select(
        K.hex_to_code(K.code_to_hex("code")).alias("back")
    ).collect()[0]["back"]
    assert back == words


@settings(max_examples=20, deadline=None)
@given(st.lists(vectors, min_size=1, max_size=8))
def test_quantization_properties(spark, vecs):
    """For ANY finite float vector: codes stay in [-127, 127], round-trip
    error is bounded by scale/2 per element, and the quantized cosine of
    a vector with itself is ~1 (unless all-zero)."""
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "id long, v array<float>"
    )
    rows = df.select(
        "id",
        "v",
        K.quantize_scale("v").alias("s"),
        K.quantize("v").alias("q"),
        K.dequantize(K.quantize("v"), K.quantize_scale("v")).alias("back"),
        K.quantized_cosine(K.quantize("v"), K.quantize("v")).alias("self_cos"),
    ).collect()
    for r, v in zip(sorted(rows, key=lambda r: r["id"]), vecs):
        assert all(-127 <= c <= 127 for c in r["q"])
        for orig, rec in zip(r["v"], r["back"]):
            assert abs(float(orig) - rec) <= r["s"] / 2 + 1e-9
        # vectors entirely below the 1e-30 scale floor quantize to zeros
        if max((abs(float(F32(x))) for x in v), default=0.0) > 1e-30:
            assert r["self_cos"] == pytest.approx(1.0, abs=1e-6)


HASH_MOD = 1_000_000_007


def _py_span_coverage(texts: list[str], k: int = 3):
    """Independent Python reference for duplicate_span_stats: same
    tokenizer (lowercase alnum runs), same char fold, same window fold,
    >= 2 distinct docs per window hash, exact union coverage."""
    import re as _re
    from collections import defaultdict

    def tokens(t):
        return [w for w in _re.split(r"[^0-9a-z]+", t.lower()) if w]

    def chash(s):
        h = 0
        for c in s:
            h = (h * 31 + ord(c)) % HASH_MOD
        return h

    docs = []
    where = defaultdict(set)
    for i, t in enumerate(texts):
        th = [chash(w) for w in tokens(t)]
        ws = []
        if len(th) >= k:
            for p in range(len(th) - k + 1):
                h = 0
                for x in th[p : p + k]:
                    h = (h * 31 + x) % HASH_MOD
                ws.append(h)
                where[h].add(i)
        docs.append(ws)
    out = {}
    for i, ws in enumerate(docs):
        dup_pos = [p for p, h in enumerate(ws) if len(where[h]) >= 2]
        covered = set()
        for p in dup_pos:
            covered.update(range(p, p + k))
        out[i] = (len(ws), len(dup_pos), len(covered))
    return out


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("aa bb cc dd ee ff".split()), min_size=0, max_size=25),
        min_size=2,
        max_size=6,
    )
)
def test_duplicate_span_coverage_matches_python_reference(spark, word_lists):
    """The BIGINT-packed interval-merge fold equals an independent
    Python union-of-intervals on random small-vocab corpora (the tiny
    vocabulary forces organic overlapping duplicate windows)."""
    from wpvectordb_spark.operators import dedup as D

    texts = [" ".join(ws) for ws in word_lists]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_windows"], r["n_dup_windows"], r["dup_tokens"])
        for r in D.duplicate_span_stats(df, k=3).collect()
    }
    assert got == _py_span_coverage(texts, k=3)
