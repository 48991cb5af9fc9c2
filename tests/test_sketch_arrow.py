"""The sketch kernels (functions.sketch_arrow) are the only Spark
implementation of MinHash, SimHash and the ExactSubstr span-window
hashes.  Their reference is the DuckDB mirror each registry oracle uses
(``sql_minhash_signature``, ``sql_srp_simhash``, ``dedup._sql_span_cte``),
so every test here compares the Spark engine with the DuckDB engine, on
the real corpus and on edge documents — any divergence breaks the
correctness gate, not just performance."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, assert_parity
from wpvectordb_spark.functions import sketch_arrow as SA
from wpvectordb_spark.functions import text as X
from wpvectordb_spark.operators import dedup as D

EDGE_ROWS = [
    (1, "one two three four five"),
    (2, ""),  # empty -> null signature in both engines
    (3, None),  # null text
    (4, "one one one one"),  # single repeated token
    (5, "ab"),  # shorter than shingle_k tokens
]
EDGE_SQL = "SELECT * FROM (VALUES {}) t(doc_id, text)".format(
    ", ".join(
        f"({i}::BIGINT, {'NULL' if t is None else repr(t)}::VARCHAR)"
        for i, t in EDGE_ROWS
    )
)
DOCS_SQL = "SELECT doc_id, text FROM documents"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def _edge_docs(spark):
    return spark.createDataFrame(EDGE_ROWS, "doc_id long, text string")


def _by_id(rows):
    return {r[0]: r[1] for r in rows}


def _spark_minhash(frame):
    sh = D.shingle_sets(frame)
    return _by_id(
        sh.select("doc_id", SA.minhash_signature_arrow(F.col("sh"), 32)).collect()
    )


def _duck_minhash(duck, corpus_sql):
    return _by_id(
        duck.sql(
            f"""
            WITH c AS ({corpus_sql}),
            t AS (SELECT doc_id, {X.sql_token_hashes('text')} AS th FROM c),
            s AS (SELECT doc_id, {X.sql_shingle_hashes('th', 3)} AS sh FROM t)
            SELECT doc_id, {X.sql_minhash_signature('sh', 32)} FROM s
            """
        ).fetchall()
    )


def _spark_srp(frame):
    return _by_id(
        frame.select(
            "doc_id", SA.simhash_signature_arrow(X.token_hashes("text"))
        ).collect()
    )


def _duck_srp(duck, corpus_sql):
    return _by_id(
        duck.sql(
            f"""
            WITH c AS ({corpus_sql}),
            t AS (SELECT doc_id, {X.sql_token_hashes('text')} AS th FROM c)
            SELECT doc_id, {X.sql_srp_simhash('th')} FROM t
            """
        ).fetchall()
    )


def _spark_windows(frame, k):
    base, _, _ = D._span_detection(
        frame.select("doc_id", "text"), k, 2, "doc_id", "text",
        carry_tokens=False, persist=False,
    )
    return _by_id(base.select("doc_id", "_ws").collect())


def _duck_windows(duck, corpus_sql, k):
    return _by_id(
        duck.sql(
            f"WITH {D._sql_span_cte(corpus_sql, k, 2, 'sp')} SELECT doc_id, ws FROM sp_w"
        ).fetchall()
    )


def test_minhash_arrow_matches_duckdb(spark, duck, docs):
    got = _spark_minhash(docs)
    assert len(got) == 500 and got == _duck_minhash(duck, DOCS_SQL)


def test_minhash_arrow_edge_cases(spark, duck):
    got = _spark_minhash(_edge_docs(spark))
    assert got == _duck_minhash(duck, EDGE_SQL)
    nulls = {i for i, s in got.items() if s is None}
    assert {2, 3} <= nulls  # empty and null text produce null signatures


def test_minhash_lanes_are_independent(spark):
    """At Jaccard J each lane agrees with probability J, so with
    independent lanes a pair's agreement count over 32 lanes is
    Binomial(32, J) — variance 3.5 at J = 7/8.  Lanes built from one base
    hash scaled per lane agree together (variance ~10.5 under the old
    ``a_i = K*(i+1)`` family), which is what made LSH miss J = 0.95
    near-duplicates in every 8x4 band."""
    rng = np.random.default_rng(404)
    rows = []
    n_pairs, size, shared = 1000, 120, 112  # |A|=|B|=120, |A&B|=112: J = 112/128
    for p in range(n_pairs):
        v = np.unique(rng.integers(0, X.HASH_MOD, 2 * size))
        v = rng.permutation(v)[: 2 * size - shared]
        rows.append((2 * p, v[:size].tolist()))
        rows.append((2 * p + 1, v[:shared].tolist() + v[size:].tolist()))
    df = spark.createDataFrame(rows, "id long, hs array<long>")
    sig = {
        r["id"]: r["sig"]
        for r in df.select(
            "id", SA.minhash_signature_arrow("hs", 32).alias("sig")
        ).collect()
    }
    agree = np.array(
        [sum(a == b for a, b in zip(sig[2 * p], sig[2 * p + 1])) for p in range(n_pairs)]
    )
    j = shared / (2 * size - shared)
    assert abs(agree.mean() / 32 - j) < 0.02
    assert agree.var() < 1.5 * 32 * j * (1 - j), agree.var()


def test_srp_simhash_arrow_matches_duckdb(spark, duck, docs):
    got = _spark_srp(docs)
    assert len(got) == 500 and got == _duck_srp(duck, DOCS_SQL)


def test_srp_simhash_range_and_nulls(spark, duck):
    vals = _spark_srp(_edge_docs(spark))
    assert vals == _duck_srp(duck, EDGE_SQL)
    assert vals[2] is None and vals[3] is None
    for v in vals.values():
        if v is not None:
            assert 0 <= v < 2**60  # positive BIGINT in every engine


def test_pipeline_pairs_identical_across_engines(spark, duck, docs):
    """minhash_lsh_dedup_pairs end to end (shingles -> signatures -> 8x4
    bands -> candidates -> exact Jaccard) against the same pipeline
    written in DuckDB over the mirrors."""
    got = D.minhash_lsh_dedup_pairs(docs, threshold=0.5)
    want = duck.sql(
        f"""
        WITH t AS (SELECT doc_id, {X.sql_token_hashes('text')} AS th FROM documents),
        s AS (SELECT doc_id, {X.sql_shingle_hashes('th', 3)} AS sh FROM t),
        g AS (SELECT doc_id, {X.sql_minhash_signature('sh', 32)} AS sig FROM s),
        b AS (
          SELECT doc_id, u.i AS band_id,
                 array_to_string(sig[u.i*4+1 : u.i*4+4], '-') AS band_key
          FROM g, unnest(range(0, 8)) u(i) WHERE sig IS NOT NULL
        ),
        c AS (
          SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
          FROM b x JOIN b y ON x.band_id = y.band_id
           AND x.band_key = y.band_key AND x.doc_id < y.doc_id
        ),
        v AS (
          SELECT c.id_a, c.id_b,
                 round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                   / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 9)
                   AS jaccard
          FROM c JOIN s sa ON sa.doc_id = c.id_a JOIN s sb ON sb.doc_id = c.id_b
        )
        SELECT * FROM v WHERE jaccard >= 0.5
        """
    )
    rows = got.collect()
    assert rows
    assert_parity(got, want, precollected=rows)


def test_simhash_pairs_identical_across_engines(spark, duck, docs):
    """simhash_near_dup_pairs (block-permutation candidates) against a
    DuckDB all-pairs Hamming scan over ``sql_srp_simhash`` — equal rows
    is the recall-1.0 guarantee checked against an independent engine."""
    got = D.simhash_near_dup_pairs(docs, max_hamming=3)
    want = duck.sql(
        f"""
        WITH t AS (SELECT doc_id, {X.sql_token_hashes('text')} AS th FROM documents),
        g AS (SELECT doc_id, {X.sql_srp_simhash('th')} AS s FROM t)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.s, b.s)) AS BIGINT) AS hamming
        FROM g a JOIN g b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.s, b.s)) <= 3
        """
    )
    rows = got.collect()
    assert rows
    assert_parity(got, want, precollected=rows)


def test_span_window_hashes_engines_identical(spark, duck, docs):
    """The span-detection window hashes on the real corpus, Spark kernel
    vs the DuckDB span CTE the span oracles are built on."""
    got = _spark_windows(docs, 8)
    assert any(got.values())
    assert got == _duck_windows(duck, DOCS_SQL, 8)


def test_span_window_hashes_arrow_edges(spark, duck):
    """NULL text, empty text, shorter-than-k, and exactly-k documents:
    the kernel must emit [] (never NULL) for short/NULL rows and match
    the DuckDB mirror element-for-element everywhere (k=4 makes doc 4 the
    exactly-one-window case)."""
    am = _spark_windows(_edge_docs(spark), 4)
    assert am == _duck_windows(duck, EDGE_SQL, 4)
    assert am[2] == [] and am[3] == [] and am[5] == []  # empty/NULL/short
    assert len(am[4]) == 1  # exactly k tokens -> one window
    assert len(am[1]) == 2


def test_span_cut_engines_identical(spark, duck, docs):
    """remove_duplicate_spans end to end: identical rows (ids, counts,
    rewritten text) from Spark and from ``sql_remove_duplicate_spans``."""
    d = docs.select("doc_id", "text").where(F.col("doc_id") < 300)
    got = D.remove_duplicate_spans(d, k=8, min_docs=2)
    want = duck.sql(
        D.sql_remove_duplicate_spans(
            "SELECT doc_id, text FROM documents WHERE doc_id < 300", k=8, min_docs=2
        )
    )
    rows = got.collect()
    assert any(r["n_kept"] < r["n_tokens"] for r in rows)
    assert_parity(got, want, precollected=rows)
