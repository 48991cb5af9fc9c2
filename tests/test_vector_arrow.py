"""The Arrow vector scoring kernel (functions.vector_arrow).

Parity: the kernel against the DuckDB mirrors (``sql_sign_code``,
``sql_hamming``, ``sql_cosine``) on the corpus embeddings, bit for bit;
then the four operators built on it against the Catalyst builders
(K3/K5/K6) on edge rows: NULL vector, NULL element, shorter and longer
vectors (same and other word count), NaN element, zero vector, -0.0,
equal-score ties, empty partitions, string query ids and an empty query
batch.

Plan pin: each operator plans one MapInArrow and no cross join over the
table, and the batch operators' job counts stay bounded.
"""

from __future__ import annotations

import ast

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from tests.test_cache_lifecycle import _jobs_started
from wpvectordb_spark.functions import kernels as K
from wpvectordb_spark.functions import vector_arrow as VA
from wpvectordb_spark.operators import search as S
from wpvectordb_spark.operators import similarity as SIM

DIM = 40  # two code words, the second a short 8-bit tail


def _same(a, b) -> bool:
    """Row lists equal, NaN equal to NaN."""
    return repr(a) == repr(b)


# -- kernel vs DuckDB, no Spark ------------------------------------------------------


def test_kernel_matches_duckdb_mirrors_on_corpus(duck):
    emb = pq.read_table(f"{SF_DIR}/embeddings.parquet", columns=["vec_id", "embedding"])
    emb = emb.sort_by("vec_id")
    dim = len(emb.column("embedding")[0])
    qpos = [0, 7, 11, 123, 499]
    v = VA.Lists(emb.column("embedding"))
    mat, ok = v.matrix(dim)
    assert ok.all()
    qm = mat[qpos]
    vt = np.ascontiguousarray(mat.T)
    q_mag = VA.fold_norm(np.ascontiguousarray(qm.T))
    cos = VA.cosine(VA.fold_dot(qm, vt), q_mag[:, None], VA.fold_norm(vt)[None, :])
    # the pairwise form folds the same products in the same order
    pairs = VA.fold_rows(np.repeat(qm, len(mat), axis=0), np.tile(mat, (len(qpos), 1)))
    assert (pairs.reshape(len(qpos), -1) == VA.fold_dot(qm, vt)).all()
    codes, c_ok = VA.sign_codes(v, dim)
    assert c_ok.all()
    ids = emb.column("vec_id").to_numpy()
    got = {
        (int(ids[q]), int(ids[r])): (int(VA.hamming(codes[r : r + 1], codes[q])[0]), float(cos[g, r]))
        for g, q in enumerate(qpos)
        for r in range(len(ids))
    }
    want_codes = duck.sql(
        f"SELECT vec_id, {K.sql_sign_code('embedding')} AS c FROM embeddings ORDER BY vec_id"
    ).fetchall()
    assert [list(c) for _, c in want_codes] == codes.tolist()
    qids = ", ".join(str(int(ids[q])) for q in qpos)
    rows = duck.sql(
        f"""
        WITH t AS (SELECT vec_id, embedding, {K.sql_sign_code('embedding')} AS c FROM embeddings)
        SELECT q.vec_id, v.vec_id, {K.sql_hamming('q.c', 'v.c')},
               {K.sql_cosine('q.embedding', 'v.embedding')}
        FROM t q, t v WHERE q.vec_id IN ({qids})
        """
    ).fetchall()
    want = {(a, b): (h, c) for a, b, h, c in rows}
    assert len(want) == len(got)
    assert want == got  # exact doubles: the same left folds


def test_pack_signs_tail_word_and_nan_rules():
    x = np.array([[1.0, -1.0, 0.0, -0.0, np.nan] + [1.0] * 35])
    words = VA.pack_signs(x)
    # word 0: bits 1,0,0,0,1 then 27 ones; the 8-bit tail word is all ones
    assert words.tolist() == [[int("10001" + "1" * 27, 2), 0xFF]]
    assert words.tolist() == [S._pack_code(x[0].tolist())]


def test_kernel_has_no_blas_or_pairwise_float_reduction():
    """Static guard: the scores must stay strict left folds, so the
    kernel module uses no matrix product or pairwise float reduction
    (``@``, ``dot``, ``matmul``, ``einsum``, ``inner``)."""
    import wpvectordb_spark.functions.vector_arrow as mod

    banned = {"dot", "vdot", "matmul", "einsum", "inner", "tensordot"}
    with open(mod.__file__) as fh:
        tree = ast.parse(fh.read())
    offenders = []
    for node in ast.walk(tree):
        if isinstance(node, ast.BinOp) and isinstance(node.op, ast.MatMult):
            offenders.append(f"{node.lineno}: @")
        if isinstance(node, ast.AugAssign) and isinstance(node.op, ast.MatMult):
            offenders.append(f"{node.lineno}: @=")
        if isinstance(node, ast.Attribute) and node.attr in banned:
            offenders.append(f"{node.lineno}: .{node.attr}")
    assert not offenders, offenders


# -- operators vs Catalyst on edge rows ---------------------------------------------


def _edge_rows():
    rnd = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rnd.standard_normal(DIM).astype(np.float32)]) for i in range(30)]
    base = rows[3][1]
    rows += [
        (100, None),                              # NULL vector
        (101, base[:5] + [None] + base[6:]),      # NULL element
        (102, base[:36]),                         # shorter, same word count
        (103, base[:20]),                         # shorter, fewer words
        (104, base + [0.5] * 4),                  # longer, same word count
        (105, base + [0.5] * 32),                 # longer, more words
        (106, base[:7] + [float("nan")] + base[8:]),  # NaN element
        (107, [0.0] * DIM),                       # zero vector
        (108, [-0.0] * DIM),                      # -0.0
        (109, list(base)),                        # equal-score ties with id 3
        (110, list(base)),
    ]
    return rows


@pytest.fixture(scope="module")
def edge(spark):
    # 64 partitions over 41 rows: most scan partitions are empty
    return spark.createDataFrame(_edge_rows(), "id long, vector array<float>").repartition(64)


@pytest.fixture(scope="module")
def edge_queries(spark):
    rows = _edge_rows()
    qs = [
        ("q-a", rows[3][1]),
        ("q-b", rows[17][1]),
        ("q-nan", rows[0][1][:2] + [float("nan")] + rows[0][1][3:]),
        ("q-zero", [0.0] * DIM),
        ("q-null", None),
    ]
    return spark.createDataFrame(qs, "query_id string, query_vector array<float>")


def _catalyst_pairs(table, queries):
    """Every (query, row) score through the Catalyst builders."""
    q = queries.where(F.col("query_vector").isNotNull())
    return table.crossJoin(q).select(
        "query_id",
        "id",
        K.hamming(K.sign_code("vector"), K.sign_code("query_vector")).alias("hd"),
        K.cosine_similarity("query_vector", "vector").alias("cos"),
    )


def _rows(df, *cols):
    return sorted((tuple(r[c] for c in cols) for r in df.collect()), key=repr)


def test_search_many_matches_catalyst_on_edges(spark, edge, edge_queries):
    pairs = _catalyst_pairs(edge, edge_queries)
    hord = [F.col("hd").asc_nulls_last(), F.col("id").asc()]
    cord = [F.col("cos").desc_nulls_last(), F.col("id").asc()]
    by_q = Window.partitionBy("query_id")
    for n in (2, 50):
        exact = pairs.withColumn("rank", F.row_number().over(by_q.orderBy(*cord))).where(
            F.col("rank") <= n
        )
        got = S.search_many(
            edge, edge_queries, n=n, two_phase=False, code_col=None, mag_col=None,
            expected_dim=DIM,
        )
        assert _same(_rows(got, "query_id", "id", "rank", "cosine_similarity"),
                     _rows(exact, "query_id", "id", "rank", "cos"))
        funnel = (
            pairs.withColumn("_h", F.row_number().over(by_q.orderBy(*hord)))
            .where(F.col("_h") <= 10 * n)
            .withColumn("rank", F.row_number().over(by_q.orderBy(*cord)))
            .where(F.col("rank") <= n)
        )
        got = S.search_many(edge, edge_queries, n=n, code_col=None, mag_col=None,
                            expected_dim=DIM)
        assert _same(_rows(got, "query_id", "id", "rank", "cosine_similarity"),
                     _rows(funnel, "query_id", "id", "rank", "cos"))


def test_search_with_stored_codes_matches_catalyst_on_edges(spark, edge):
    """The facade path: stored ``binary_code`` / ``magnitude`` columns
    (NULL where the vector is NULL) read by the kernel, against the old
    Catalyst funnel over the same columns."""
    table = edge.select(
        "id",
        F.col("id").alias("post_id"),
        "vector",
        K.sign_code("vector").alias("binary_code"),
        K.magnitude("vector").alias("magnitude"),
    )
    for qv in (_edge_rows()[3][1], _edge_rows()[21][1], [float("nan")] * DIM):
        for n in (1, 3, 20):
            got = S.search(table, qv, n=n).collect()
            hd = K.hamming("binary_code", F.lit(S._pack_code(qv))).alias("hamming_distance")
            cos = K.cosine_similarity(
                F.array(*[F.lit(x) for x in qv]), "vector", F.lit(float(np.sqrt(sum(x * x for x in qv)))), "magnitude"
            ).alias("cosine_similarity")
            want = (
                table.select("id", "post_id", "vector", "magnitude", hd)
                .orderBy(F.col("hamming_distance").asc_nulls_last(), F.col("id").asc())
                .limit(10 * n)
                .select("id", "post_id", "hamming_distance", cos)
                .orderBy(F.col("cosine_similarity").desc(), F.col("id").asc())
                .limit(5 * n)
                .limit(n)
                .collect()
            )
            assert _same([tuple(r) for r in got], [tuple(r) for r in want])


def test_brute_force_arrow_equals_catalyst_with_nan_row(spark, edge):
    """The NaN-element row ranks FIRST in both forms (Spark orders NaN
    above every double), the NULL row last."""
    for qv in (_edge_rows()[3][1], _edge_rows()[8][1]):
        arrow = SIM.brute_force_topk_arrow(edge, qv, n=41, id_col="id", vector_col="vector")
        cat = S.brute_force_topk(edge, qv, n=41)
        a = [tuple(r) for r in arrow.collect()]
        assert _same(a, [tuple(r) for r in cat.collect()])
        assert a[0][0] == 106 and a[-1][1] is None


def test_assign_clusters_matches_catalyst_on_edges(spark, edge):
    rows = _edge_rows()
    cents = spark.createDataFrame(
        [(7, rows[3][1]), (2, rows[9][1]), (5, rows[3][1]), (9, [0.0] * DIM)],
        "cluster_id long, centroid array<float>",
    ).withColumn("centroid_mag", K.magnitude("centroid"))
    got = SIM.assign_clusters(edge, cents, id_col="id", vector_col="vector")
    cos = K.cosine_similarity(F.col("vector"), F.col("centroid"), None, F.col("centroid_mag"))
    best = F.max_by(
        F.struct(F.col("cluster_id"), F.col("_sim")),
        F.struct(F.col("_sim").alias("s"), (-F.col("cluster_id")).alias("nc")),
    )
    want = (
        edge.crossJoin(cents)
        .withColumn("_sim", cos)
        .groupBy("id")
        .agg(best.alias("_b"))
        .select("id", "_b.cluster_id", F.round("_b._sim", 9).alias("centroid_sim"))
    )
    assert _same(_rows(got, "id", "cluster_id", "centroid_sim"),
                 _rows(want, "id", "cluster_id", "centroid_sim"))
    # ties on (sim) go to the smaller cluster id: id 3 equals centroids 5 and 7
    assert {r["id"]: r["cluster_id"] for r in got.collect()}[3] == 5
    assert got.columns == ["id", "vector", "cluster_id", "centroid_sim"]


def test_ivf_topk_many_matches_catalyst_on_edges(spark, edge, edge_queries):
    rows = _edge_rows()
    cents = spark.createDataFrame(
        [(c, rows[c][1]) for c in (1, 4, 9, 16, 25)], "cluster_id long, centroid array<float>"
    ).withColumn("centroid_mag", K.magnitude("centroid"))
    assigned = SIM.assign_clusters(edge, cents, id_col="id", vector_col="vector").localCheckpoint()
    got = SIM.ivf_topk_many(
        spark, edge_queries, assigned=assigned, centroids=cents, k=4, n_probe=2,
        id_col="id", vector_col="vector",
    )
    q = edge_queries.where(F.col("query_vector").isNotNull())
    by_q = Window.partitionBy("query_id")
    probes = (
        q.crossJoin(cents)
        .withColumn("_s", K.cosine_similarity("query_vector", "centroid", None, "centroid_mag"))
        .withColumn("_p", F.row_number().over(by_q.orderBy(F.col("_s").desc(), F.col("cluster_id"))))
        .where(F.col("_p") <= 2)
        .select("query_id", "query_vector", "cluster_id")
    )
    want = (
        assigned.join(probes, "cluster_id")
        .withColumn("cos", K.cosine_similarity("query_vector", "vector"))
        .withColumn("rank", F.row_number().over(
            by_q.orderBy(F.col("cos").desc_nulls_last(), F.col("id"))))
        .where(F.col("rank") <= 4)
        .select("query_id", "id", "cluster_id", "rank", F.round("cos", 9).alias("cos"))
    )
    assert _same(_rows(got, "query_id", "id", "cluster_id", "rank", "cosine_similarity"),
                 _rows(want, "query_id", "id", "cluster_id", "rank", "cos"))


def test_empty_query_batch_is_a_typed_frame_without_a_job(spark, edge, edge_queries):
    sc = spark.sparkContext
    none = edge_queries.where(F.col("query_vector").isNull())
    for fn in (
        lambda: S.search_many(edge, none, n=3, code_col=None, mag_col=None, expected_dim=DIM),
        lambda: SIM.ivf_topk_many(
            spark, none, assigned=edge.withColumn("cluster_id", F.lit(1)),
            centroids=spark.createDataFrame([(1, [1.0] * DIM, 1.0)],
                                            "cluster_id long, centroid array<float>, centroid_mag double"),
            id_col="id", vector_col="vector",
        ),
    ):
        out = fn()
        assert out.schema["query_id"].dataType.simpleString() == "string"
        rows, jobs = _jobs_started(sc, out.collect)
        assert rows == [] and jobs == 0


def test_mismatched_query_dims_raise_at_call_time(spark, edge):
    bad = spark.createDataFrame([("q", [1.0] * (DIM - 1))], "query_id string, query_vector array<float>")
    with pytest.raises(ValueError, match=f"search_many: query vector has {DIM - 1} dims; table has {DIM}"):
        S.search_many(edge, bad, n=3, code_col=None, mag_col=None, expected_dim=DIM)


# -- plan pins ----------------------------------------------------------------------


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def corpus(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select("vec_id", "embedding")
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    return emb, queries


def test_operators_plan_one_arrow_pass_and_no_cross_join(spark, corpus, tmp_path):
    emb, queries = corpus
    vectors = emb.select(F.col("vec_id").alias("id"), F.col("vec_id").alias("post_id"),
                         F.col("embedding").alias("vector"))
    path = str(tmp_path / "ivf")
    SIM.build_ivf_index(emb, path, n_clusters=8)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 3).first()["embedding"]]
    cents = SIM.deterministic_centroids(emb, 8)
    for df in (
        S.search(vectors, qv, n=5, code_col=None, mag_col=None),
        S.search_many(vectors, queries, n=5, code_col=None, mag_col=None, expected_dim=64),
        S.search_many(vectors, queries, n=5, two_phase=False, code_col=None, mag_col=None,
                      expected_dim=64),
        SIM.ivf_topk_many(spark, queries, path=path, k=10, n_probe=4, expected_dim=64),
        SIM.assign_clusters(emb, cents),
        SIM.brute_force_topk_arrow(emb, qv, n=10),
    ):
        plan = _plan(df)
        assert plan.count("MapInArrow") == 1, plan
        assert "CartesianProduct" not in plan and "NestedLoopJoin" not in plan, plan

    sc = spark.sparkContext
    _, jobs = _jobs_started(sc, lambda: S.search_many(
        vectors, queries, n=5, code_col=None, mag_col=None, expected_dim=64).collect())
    assert jobs <= 4, jobs
    _, jobs = _jobs_started(sc, lambda: SIM.ivf_topk_many(
        spark, queries, path=path, k=10, n_probe=4, expected_dim=64).collect())
    assert jobs <= 6, jobs


def test_ivfpq_index_stats_is_a_driver_built_frame(spark, corpus, tmp_path):
    """The per-cluster counts are one bounded collect folded into a
    driver-built frame: reading the stats never rescans the index."""
    emb, _ = corpus
    path = str(tmp_path / "ivfpq")
    SIM.build_ivfpq_index(emb, path, dim=64, n_clusters=8, m=8, n_codes=16)
    stats = SIM.ivfpq_index_stats(spark, path)
    assert "FileScan" not in _plan(stats), _plan(stats)
    assert sum(r["n_vectors"] for r in stats.collect()) == emb.count()
