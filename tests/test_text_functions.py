"""Text primitive tests: golden values + Spark<->DuckDB fragment parity on
real documents (the property that makes every dedup oracle possible)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wpvectordb_spark.functions import sketch_arrow as SA
from wpvectordb_spark.functions import text as X
from tests.conftest import SF_DIR, assert_parity


# lane 0 of minhash_coefficients (splitmix64 of lane indexes 0 and 1)
PINNED_A0, PINNED_B0 = 60845732, 722909340


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_tokens_golden(spark):
    df = spark.createDataFrame([("Hello,  World! 42 foo-bar",)], "t string")
    got = df.select(X.tokens("t").alias("r")).collect()[0]["r"]
    assert got == ["hello", "world", "42", "foo", "bar"]


def test_string_hash_golden(spark):
    # h("ab") = (97*31 + 98) % M = 3105
    df = spark.createDataFrame([("ab",), ("",)], "t string")
    got = [r["h"] for r in df.select(X.string_hash("t").alias("h")).collect()]
    assert got[0] == 97 * 31 + 98
    assert got[1] == 0  # empty string -> fold init


def test_shingles_golden(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], "t string")
    got = [r["s"] for r in df.select(X.shingles("t", 3).alias("s")).collect()]
    assert got[0] == ["a b c", "b c d"]
    assert got[1] == ["a b"]  # shorter than k -> single short shingle


def test_minhash_is_min_of_rehashes(spark):
    df = spark.createDataFrame([("x y",)], "t string")
    row = df.select(
        X.token_hashes("t").alias("h"),
        SA.minhash_signature_arrow(X.token_hashes("t"), 4).alias("sig"),
    ).collect()[0]
    hs = row["h"]
    p = X.MINHASH_PRIME
    a, b = X.minhash_coefficients(4)
    for i, s in enumerate(row["sig"]):
        assert s == min((a[i] * x + b[i]) % p for x in hs)
    # the coefficient table is pinned (band indexes depend on it), prefix
    # stable, defined for any lane count, and in range: a in [1, p), b in [0, p)
    assert (a[0], b[0]) == (PINNED_A0, PINNED_B0)
    big_a, big_b = X.minhash_coefficients(200)
    assert big_a[:4] == a and big_b[:4] == b
    assert len(set(big_a)) == 200
    assert all(1 <= v < p for v in big_a) and all(0 <= v < p for v in big_b)


def test_minhash_similar_texts_share_values(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy cat"),
         (3, "completely different words entirely elsewhere")],
        "id long, t string",
    )
    sigs = {r["id"]: r["s"] for r in df.select("id", SA.minhash_signature_arrow(X.token_hashes("t"), 32).alias("s")).collect()}
    overlap_12 = sum(a == b for a, b in zip(sigs[1], sigs[2]))
    overlap_13 = sum(a == b for a, b in zip(sigs[1], sigs[3]))
    assert overlap_12 > overlap_13
    assert overlap_12 >= 16  # 8/9 token jaccard


def test_empty_text_null_signatures(spark):
    df = spark.createDataFrame([("!!!",)], "t string")
    row = df.select(
        SA.minhash_signature_arrow(X.token_hashes("t"), 4).alias("sig"),
        SA.simhash_signature_arrow(X.token_hashes("t")).alias("sh"),
    ).collect()[0]
    assert row["sig"] is None and row["sh"] is None


def test_simhash_properties(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy cat"),
         (3, "completely different words entirely elsewhere")],
        "id long, t string",
    )
    sh = {r["id"]: r["s"] for r in df.select("id", SA.simhash_signature_arrow(X.token_hashes("t")).alias("s")).collect()}
    assert all(0 <= v < 2**60 for v in sh.values())
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(sh[1], sh[2]) < ham(sh[1], sh[3])


def test_fragments_parity_on_documents(spark, duck, docs):
    q = docs.select(
        "doc_id",
        F.size(X.tokens("text")).alias("n_tokens"),
        X.string_hash("text").alias("fp"),
        SA.minhash_signature_arrow(X.token_hashes("text"), 8).alias("sig"),
        SA.simhash_signature_arrow(X.token_hashes("text")).alias("sh"),
        # DuckDB's list_distinct is unordered (Spark's array_distinct keeps
        # first occurrence): compare shingle SETS via sort.
        F.array_sort(X.shingles("text", 3)).alias("sh3"),
    ).where(F.col("doc_id") < 40)
    o = duck.sql(
        f"""
        SELECT doc_id,
               CAST(len({X.sql_tokens('text')}) AS INT) AS n_tokens,
               {X.sql_string_hash('text')} AS fp,
               {X.sql_minhash_signature(X.sql_token_hashes('text'), 8)} AS sig,
               {X.sql_srp_simhash(X.sql_token_hashes('text'))} AS sh,
               list_sort({X.sql_shingles('text', 3)}) AS sh3
        FROM documents WHERE doc_id < 40
        """
    )
    assert_parity(q, o)


def test_winnow_fingerprints_streaming_matches_direct(spark):
    """The one-pass fold must equal the direct formula: gram_i = fold of
    token hashes i..i+2, fingerprints = sorted distinct window-4 minima."""
    text = "the quick brown fox jumps over the lazy dog today"
    df = spark.createDataFrame([(text,)], "t string")
    got = df.select(X.winnow_fingerprints("t").alias("f")).collect()[0]["f"]

    th = [r["h"] for r in
          spark.createDataFrame([(w,) for w in text.split()], "w string")
          .select(X.string_hash("w").alias("h")).collect()]
    M = X.HASH_MOD
    grams = []
    for i in range(len(th) - 2):
        a = 0
        for t in th[i : i + 3]:
            a = (a * 31 + t) % M
        grams.append(a)
    expect = sorted({min(grams[j : j + 4]) for j in range(len(grams) - 3)})
    assert got == expect


def test_winnow_fingerprints_degenerate(spark):
    df = spark.createDataFrame(
        [("",), ("one two",), ("a b c d e",)], "t string"
    )
    rows = [r["f"] for r in df.select(X.winnow_fingerprints("t").alias("f")).collect()]
    assert rows[0] is None  # no tokens
    assert rows[1] is not None and len(rows[1]) == 1  # < k tokens -> whole fold
    assert len(rows[2]) == 1  # 3 grams < w=4 -> single min


def test_winnow_fingerprints_shared_run_overlaps(spark):
    """Docs sharing a long token run share at least one fingerprint; the
    winnowing guarantee for overlaps longer than w + k - 1 tokens."""
    common = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(1, "xx yy " + common), (2, common + " zz qq pp")], "id long, t string"
    )
    rows = {r["id"]: set(r["f"]) for r in
            df.select("id", X.winnow_fingerprints("t").alias("f")).collect()}
    assert rows[1] & rows[2]


def test_bpe_pretokens_golden(spark):
    df = spark.createDataFrame([("Don't stop, it's 42 now!",)], "t string")
    got = df.select(X.bpe_pretokens("t").alias("r")).collect()[0]["r"]
    assert got == ["don", "'t", " stop", ",", " it", "'s", " 42", " now", "!"]


def test_token_count_parity_on_docs(spark, docs):
    """Spark vs DuckDB: identical ws + bpe token counts on real documents."""
    import duckdb

    sdf = docs.select(
        "doc_id",
        X.ws_token_count("text").alias("ws"),
        F.size(X.bpe_pretokens("text")).cast("long").alias("bpe"),
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    d = con.sql(
        f"SELECT doc_id, {X.sql_ws_token_count('text')} AS ws,"
        f" CAST(len({X.sql_bpe_pretokens('text')}) AS BIGINT) AS bpe"
        " FROM documents"
    ).fetchall()
    assert sorted(map(tuple, sdf.collect())) == sorted(d)


def test_ngram_buckets_cross_engine_parity_random(spark, duck):
    """Spark ngram_buckets == DuckDB sql_ngram_buckets on generated texts
    covering the edges: empty, 1 token, exactly 2 tokens, long docs,
    mixed case/punct.  All buckets in [0, B)."""
    import random

    rng = random.Random(7)
    words = ["alpha", "beta", "Gamma", "delta-9", "x", "yz", "Epsilon"]
    rows = [(0, ""), (1, "one"), (2, "two tokens"), (3, "...")]
    rows += [
        (i, " ".join(rng.choice(words) for _ in range(rng.randint(3, 60))))
        for i in range(4, 40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["b"]
        for r in df.select(
            "doc_id",
            X.ngram_buckets(
                F.transform(X.tokens("text"), lambda t: X.string_hash(t)), 256
            ).alias("b"),
        ).collect()
    }
    duck.execute("CREATE OR REPLACE TABLE ngb AS SELECT * FROM (VALUES "
                 + ", ".join(f"({i}, '{t}')" for i, t in rows)
                 + ") t(doc_id, text)")
    th = X.sql_token_hashes("text")
    want = {
        i: b
        for i, b in duck.sql(
            f"SELECT doc_id, {X.sql_ngram_buckets('th', 256)} FROM "
            f"(SELECT doc_id, {th} AS th FROM ngb)"
        ).fetchall()
    }
    assert got == want
    for bs in got.values():
        assert all(0 <= b < 256 for b in bs)
    # unigrams + bigrams: n tokens -> 2n - 1 buckets (n >= 2)
    assert len(got[2]) == 3 and len(got[1]) == 1 and got[0] == [] and got[3] == []


def test_crlf_and_case_scrub_hardening(spark, duck):
    """CRLF blank lines don't inflate repetition; uppercase URL schemes
    are redacted; both engines agree."""
    from wpvectordb_spark.operators import text_analysis as TA

    rows = [
        (1, "para one\r\n\r\npara two\r\n\r\npara three"),
        (2, "Visit HTTP://Tracker.example.com/uid?e=bob@x.com today"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    rep = TA.repetition_features("text")
    got = {
        r["doc_id"]: (r["n"], r["d"])
        for r in df.select(
            "doc_id", rep["n_lines"].alias("n"), rep["dup_line_ratio"].alias("d")
        ).collect()
    }
    assert got[1] == (3, 0.0)  # three distinct lines, no phantom '\r' dups
    sc = TA.scrub_features("text")
    r2 = df.where(F.col("doc_id") == 2).select(
        sc["n_urls"].alias("u"), sc["n_emails"].alias("e")
    ).collect()[0]
    assert r2["u"] == 1 and r2["e"] == 0  # URL-embedded email counts as URL
    # cross-engine parity of the same features
    vals = ", ".join(
        "(%d, '%s')" % (i, t.replace("'", "''").replace("\r\n", "' || chr(13) || chr(10) || '"))
        for i, t in rows
    )
    duck.execute(f"CREATE OR REPLACE TABLE crlf AS SELECT * FROM (VALUES {vals}) t(doc_id, text)")
    srep = TA.sql_repetition_features("text")
    ssc = TA.sql_scrub_features("text")
    d = duck.sql(
        f"SELECT doc_id, {srep['n_lines']} AS n, {srep['dup_line_ratio']} AS d,"
        f" {ssc['n_urls']} AS u FROM crlf ORDER BY doc_id"
    ).fetchall()
    assert d[0][1] == 3 and d[0][2] == 0.0 and d[1][3] == 1


def test_corpus_profile_parity_and_plan(spark, duck):
    """corpus_profile: per-(lang, source) volumes/quality/PII/lang-id
    agreement — DuckDB parity via the int-scaled quality sum (double
    sums would diverge by merge order), and the deliberate TWO-pass
    plan shape: one aggregation exchange per pass (lambda features and
    the complex-regex PII probe in separate loops — PERFORMANCE.md
    item 51), merged by union + re-sum with NO joins (a join would
    drop NULL-stratum groups)."""
    from wpvectordb_spark.operators import text_analysis as TA

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = TA.corpus_profile(docs)
    assert_parity(out, duck.sql(TA.sql_corpus_profile()))
    # sanity: the profile partitions the corpus
    total = out.agg(F.sum("n_docs")).first()[0]
    assert total == docs.count()
    # AQE prints final + initial plan sections — count only the final one
    plan = (
        out._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("Initial Plan")[0]
    )
    assert "Join" not in plan
    assert plan.count("Exchange") == 2, plan


def test_analyze_full_merged_equals_fused(spark):
    """The opt-in two-pass doc-keyed merge of analyze_full (fused=False)
    must be value-identical, column-for-column, to the default fused
    single-projection form — including NULL/empty/CRLF texts (the
    lambda and regex families were only SEPARATED, never changed;
    PERFORMANCE.md item 60).  The DEFAULT stays the join-free fused
    form: duplicate ids multiply rows under the join, so the fast form
    is opt-in (ADVICE round 8)."""
    from wpvectordb_spark.operators import text_analysis as TA

    docs = spark.createDataFrame(
        [
            (1, "the cat and the dog run to the park"),
            (2, None),
            (3, ""),
            (4, "visit https://example.com or mail a@b.co\r\nline2\r\nline2"),
            (5, "der die das und ist ich"),
        ],
        "doc_id long, text string",
    )
    merged = TA.analyze_full(docs, fused=False)
    fused = TA.analyze_full(docs)
    # default == fused: one row per input row even under duplicate ids
    dup = docs.unionByName(docs.limit(1))
    assert TA.analyze_full(dup).count() == 6
    assert [f.name for f in merged.schema.fields] == [
        f.name for f in fused.schema.fields
    ]
    m = sorted(map(tuple, merged.collect()), key=repr)
    f = sorted(map(tuple, fused.collect()), key=repr)
    assert m == f and len(m) == 5
    # the merged plan's join moves only the narrow feature columns
    plan = merged._jdf.queryExecution().executedPlan().toString().split(
        "Initial Plan"
    )[0]
    assert "Join" in plan
