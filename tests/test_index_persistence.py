"""Index persistence: the C11/DDL analog.  The vector index is a
partitioned parquet table; partition pruning must reach the scan when a
query restricts the partition key — the on-disk shape of the IVF and
bucketed-search scale paths."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from wpvectordb_spark.operators import search as S
from wpvectordb_spark.operators import similarity as SIM
from wpvectordb_spark.operators import table_ops as TO
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_bucketed_index_roundtrip_and_search(spark, emb, tmp_path_factory):
    """derive -> write partitioned by post_id bucket -> reload -> search:
    identical results to the in-memory index."""
    out = str(tmp_path_factory.mktemp("index") / "vectors")
    chunks = emb.select(
        F.col("vec_id").alias("id"),
        F.col("vec_id").alias("post_id"),
        F.lit(0).cast("int").alias("sequence_no"),
        F.col("embedding").alias("vector"),
    )
    idx = TO.derive(chunks, keep_normalized=False).withColumn(
        "bucket", F.col("post_id") % 16
    )
    idx.write.mode("overwrite").partitionBy("bucket").parquet(out)

    reloaded = spark.read.parquet(out)
    assert reloaded.count() == emb.count()

    qv = [float(x) for x in emb.where(F.col("vec_id") == 3).first()["embedding"]]
    from_disk = S.search(reloaded, qv, n=5)
    in_mem = S.search(idx, qv, n=5)
    assert [tuple(r) for r in from_disk.select("id", "post_id", "hamming_distance").collect()] == [
        tuple(r) for r in in_mem.select("id", "post_id", "hamming_distance").collect()
    ]


def test_partition_pruning_reaches_scan(spark, emb, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("index") / "vectors")
    idx = TO.derive(
        emb.select(
            F.col("vec_id").alias("id"),
            F.col("vec_id").alias("post_id"),
            F.col("embedding").alias("vector"),
        ),
        keep_normalized=False,
    ).withColumn("bucket", F.col("post_id") % 16)
    idx.write.mode("overwrite").partitionBy("bucket").parquet(out)

    pruned = spark.read.parquet(out).where(F.col("bucket") == 3)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan
    assert pruned.count() < emb.count()


def test_ivf_clustered_layout_pruning(spark, emb, tmp_path_factory):
    """IVF scale path made concrete: assignments written partitioned by
    cluster_id; a probe query scans only the probed partitions."""
    out = str(tmp_path_factory.mktemp("ivf") / "clustered")
    cents = SIM.deterministic_centroids(emb, n_clusters=8)
    assigned = SIM.assign_clusters(emb, cents)
    assigned.write.mode("overwrite").partitionBy("cluster_id").parquet(out)

    clustered = spark.read.parquet(out)
    probe = clustered.where(F.col("cluster_id").isin(1, 5))
    n_probed = probe.select("cluster_id").distinct().count()
    assert n_probed <= 2
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the probed subset is a strict subset of the corpus
    assert 0 < probe.count() < clustered.count()


def test_ivf_index_build_and_query(spark, emb, tmp_path_factory):
    """Persisted IVF index: same results as the inline ivf_topk, with the
    probe filter pruning partitions at the scan."""
    path = str(tmp_path_factory.mktemp("ivf2") / "index")
    SIM.build_ivf_index(emb, path, n_clusters=16)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    from_index = SIM.ivf_topk_from_index(spark, path, qv, k=10, n_probe=4)
    inline = SIM.ivf_topk(emb, qv, k=10, n_clusters=16, n_probe=4)
    assert [tuple(r) for r in from_index.collect()] == [tuple(r) for r in inline.collect()]
    plan = from_index._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster_id" in plan


def test_ivf_index_append_equivalent_to_rebuild_corpus(spark, emb, tmp_path_factory):
    """Appending a delta assigns it to the FROZEN centroids: the stored
    corpus equals old + delta, only the delta's partitions gain files,
    and probing ALL clusters returns exactly the brute-force top-k over
    the full corpus (an all-probe query is a full scan)."""
    path = str(tmp_path_factory.mktemp("ivf3") / "index")
    old = emb.where(F.col("vec_id") % 2 == 0)
    delta = emb.where(F.col("vec_id") % 2 == 1)
    SIM.build_ivf_index(old, path, n_clusters=8)
    SIM.append_to_ivf_index(spark, delta, path)
    stored = spark.read.parquet(f"{path}/vectors")
    assert stored.count() == emb.count()
    assert stored.select("vec_id").distinct().count() == emb.count()
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    from_index = SIM.ivf_topk_from_index(spark, path, qv, k=10, n_probe=8)
    got = [r["vec_id"] for r in from_index.collect()]
    # all clusters probed == full scan: must equal the brute-force rank
    from wpvectordb_spark.operators import search as S

    brute = S.brute_force_topk(
        emb.withColumnRenamed("vec_id", "id"), qv, n=10, vector_col="embedding"
    )
    assert got == [r["id"] for r in brute.collect()]


def test_ivf_topk_many_matches_per_query(spark, emb, tmp_path_factory):
    """Batched IVF == the per-query persisted-index loop on every query:
    one plan serves 20 queries with one partition-pruned read, and each
    query's ranked rows equal ivf_topk_from_index's."""
    path = str(tmp_path_factory.mktemp("ivf4") / "index")
    SIM.build_ivf_index(emb, path, n_clusters=16)
    queries = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vector"),
    )
    batch = SIM.ivf_topk_many(spark, queries, path=path, k=10, n_probe=4)
    got = {}
    for r in batch.collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["vec_id"], r["cluster_id"], r["cosine_similarity"])
        )
    assert set(got) == set(range(20))
    qrows = {r["query_id"]: list(r["query_vector"]) for r in queries.collect()}
    for qid in range(20):
        single = SIM.ivf_topk_from_index(
            spark, path, [float(x) for x in qrows[qid]], k=10, n_probe=4
        ).collect()
        expect = [
            (i + 1, r["vec_id"], r["cluster_id"], r["cosine_similarity"])
            for i, r in enumerate(single)
        ]
        assert sorted(got[qid]) == expect, f"query {qid} diverged"
    # the batched read is partition-pruned, not a full scan
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster_id" in plan


def test_ivf_topk_many_in_memory_assigned(spark, emb):
    """The assigned=/centroids= form (shared in-session assignment)
    matches the persisted-path form's results."""
    cents = SIM.deterministic_centroids(emb, n_clusters=16)
    assigned = SIM.assign_clusters(emb, cents).localCheckpoint()
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vector"),
    )
    got = SIM.ivf_topk_many(
        spark, queries, assigned=assigned, centroids=cents, k=10, n_probe=4
    )
    rows = sorted(map(tuple, got.collect()))
    for qid in range(5):
        qv = [
            float(x)
            for x in emb.where(F.col("vec_id") == qid).first()["embedding"]
        ]
        single = SIM.ivf_topk(
            emb, qv, k=10, n_probe=4, centroids=cents, assigned=assigned
        ).collect()
        mine = [t for t in rows if t[0] == qid]
        assert [(t[1], t[2], t[4]) for t in sorted(mine, key=lambda t: t[3])] == [
            (r["vec_id"], r["cluster_id"], r["cosine_similarity"]) for r in single
        ]
    with pytest.raises(ValueError, match="pass path="):
        SIM.ivf_topk_many(spark, queries)
    # NULL query vectors contribute no result rows (search_many's
    # contract) instead of k rows of NULL-cosine noise
    with_null = queries.unionByName(
        spark.createDataFrame(
            [(999,)], "query_id long"
        ).withColumn("query_vector", F.lit(None).cast("array<float>"))
    )
    got_null = SIM.ivf_topk_many(
        spark, with_null, assigned=assigned, centroids=cents, k=10, n_probe=4
    )
    assert got_null.where(F.col("query_id") == 999).count() == 0
    assert sorted(map(tuple, got_null.collect())) == rows
    # expected_dim= enforces the index dimension in-plan (search_many's
    # contract) instead of the truncated-fold GIGO default
    ragged = queries.unionByName(
        spark.createDataFrame([(998, [1.0] * 3)], "query_id long, query_vector array<float>")
    )
    ok = SIM.ivf_topk_many(
        spark, queries, assigned=assigned, centroids=cents, k=10, n_probe=4,
        expected_dim=len(qrows := queries.first()["query_vector"]),
    )
    assert ok.count() > 0
    with pytest.raises(Exception, match="dims; index has"):
        SIM.ivf_topk_many(
            spark, ragged, assigned=assigned, centroids=cents, k=10, n_probe=4,
            expected_dim=len(qrows),
        ).collect()


def test_ivfpq_index_build_query_and_pruning(spark, emb, tmp_path_factory):
    """IVFPQ (flat-codebook IVFADC): with every cluster probed and a
    full-coverage candidate set the funnel is lossless — results equal
    brute force exactly; at n_probe=4 the probe filter prunes partitions
    at the scan and every result row's cluster_id is a probed cluster;
    results are deterministic across two queries."""
    from wpvectordb_spark.operators.search import brute_force_topk

    path = str(tmp_path_factory.mktemp("ivfpq") / "index")
    SIM.build_ivfpq_index(emb, path, dim=64, n_clusters=16, m=8, n_codes=16)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    # lossless configuration == brute force
    full = SIM.ivfpq_topk(
        spark, path, qv, dim=64, m=8, k=10, n_probe=16, candidate_factor=50
    )
    bf = brute_force_topk(
        emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vector")),
        qv,
        n=10,
    )
    assert [(r["vec_id"], r["cosine_similarity"]) for r in full.collect()] == [
        (r["id"], r["cosine_similarity"]) for r in bf.collect()
    ]
    # pruned probes: plan-level partition filter + cluster membership
    pruned = SIM.ivfpq_topk(spark, path, qv, dim=64, m=8, k=10, n_probe=4)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster_id" in plan
    cents = spark.read.parquet(f"{path}/centroids")
    from wpvectordb_spark.functions import kernels as K
    from wpvectordb_spark.operators.search import _magnitude

    probed = {
        r["cluster_id"]
        for r in cents.withColumn(
            "_s",
            K.cosine_similarity(
                F.array(*[F.lit(x) for x in qv]),
                F.col("centroid"),
                F.lit(_magnitude(qv)),
                F.col("centroid_mag"),
            ),
        )
        .orderBy(F.col("_s").desc(), F.col("cluster_id").asc())
        .limit(4)
        .collect()
    }
    rows = pruned.collect()
    assert rows and {r["cluster_id"] for r in rows} <= probed
    assert [tuple(r) for r in rows] == [
        tuple(r)
        for r in SIM.ivfpq_topk(spark, path, qv, dim=64, m=8, k=10, n_probe=4).collect()
    ]


def test_ivfpq_topk_many_equals_per_query_and_edges(spark, emb, tmp_path_factory):
    """Batched IVFPQ serving: per-query results equal ivfpq_topk on the
    same persisted index (probe ranking, ADC funnel, and rerank all
    agree); the plan prunes partitions via the probed-cluster literal
    IN; NULL queries are dropped, the empty batch returns an empty
    typed frame, and mis-dimensioned or NaN queries raise driver-side."""
    path = str(tmp_path_factory.mktemp("ivfpqm") / "index")
    SIM.build_ivfpq_index(emb, path, dim=64, n_clusters=16, m=8, n_codes=16)
    queries = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vector"),
    )
    batched = SIM.ivfpq_topk_many(spark, path, queries, dim=64, m=8, k=10, n_probe=4)
    plan = batched._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster_id" in plan
    got = sorted(map(tuple, batched.collect()))
    want = []
    for r in queries.collect():
        qv = [float(x) for x in r["query_vector"]]
        for o in SIM.ivfpq_topk(
            spark, path, qv, dim=64, m=8, k=10, n_probe=4
        ).collect():
            want.append(
                (r["query_id"], o["vec_id"], o["cluster_id"], o["cosine_similarity"])
            )
    assert got == sorted(want) and len(got) == 8 * 10
    # NULL query dropped; remaining queries unchanged
    with_null = queries.withColumn(
        "query_vector",
        F.when(F.col("query_id") == 0, F.lit(None)).otherwise(F.col("query_vector")),
    )
    got_null = SIM.ivfpq_topk_many(spark, path, with_null, dim=64, m=8, k=10, n_probe=4)
    assert got_null.where(F.col("query_id") == 0).count() == 0
    assert sorted(map(tuple, got_null.collect())) == [t for t in got if t[0] != 0]
    # empty batch: typed empty frame, no job beyond the schema read
    empty = SIM.ivfpq_topk_many(
        spark, path, queries.where(F.col("query_id") < 0), dim=64, m=8, k=10
    )
    assert empty.count() == 0
    assert empty.columns == ["query_id", "vec_id", "cluster_id", "cosine_similarity"]
    # driver-side guards: exact dims and NaN
    with pytest.raises(ValueError, match="dims, expected 64"):
        SIM.ivfpq_topk_many(
            spark, path, queries.withColumn("query_vector", F.slice("query_vector", 1, 7)),
            dim=64, m=8,
        )
    with pytest.raises(ValueError, match="NaN"):
        SIM.ivfpq_topk_many(
            spark, path,
            queries.withColumn(
                "query_vector",
                F.when(F.col("query_id") == 1, F.array_repeat(F.lit(float("nan")), 64))
                .otherwise(F.col("query_vector")),
            ),
            dim=64, m=8,
        )


def test_ivfpq_residual_mode(spark, emb, tmp_path_factory):
    """Residual IVFPQ (build_ivfpq_index(residual=True), the canonical
    FAISS IndexIVFPQ refinement): the params sidecar records the
    geometry and the residual flag; serving validates against it;
    batched equals per-query on the same residual index; with exact
    rerank and full coverage the funnel equals brute force; and on a
    corpus with real cluster structure the residual codes beat flat
    codes at the same budget (on the near-random driver embeddings they
    LOSE — the coarse quantizer explains nothing there, which is why
    residual is a flag, not the default; PERFORMANCE.md item 41)."""
    import random

    base = tmp_path_factory.mktemp("ivfpqres")
    res = str(base / "res")
    SIM.build_ivfpq_index(
        emb, res, dim=64, n_clusters=16, m=8, n_codes=16, residual=True
    )
    params = SIM._read_ivfpq_params(spark, res)
    assert params == {
        "dim": 64, "m": 8, "n_codes": 16, "n_clusters": 16, "residual": True,
    }
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    with pytest.raises(ValueError, match="built with m=8, called with m=16"):
        SIM.ivfpq_topk(spark, res, qv, dim=64, m=16)
    queries = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vector"),
    )
    with pytest.raises(ValueError, match="built with dim=64, called with dim=32"):
        SIM.ivfpq_topk_many(
            spark, res,
            queries.withColumn("query_vector", F.slice("query_vector", 1, 32)),
            dim=32, m=8,
        )
    # batched == per-query on the residual index (pair-table ADC agrees
    # with the single-query probe-ordinal ADC)
    got = sorted(
        map(tuple, SIM.ivfpq_topk_many(spark, res, queries, dim=64, m=8, k=10).collect())
    )
    want = []
    for r in queries.collect():
        for o in SIM.ivfpq_topk(
            spark, res, [float(x) for x in r["query_vector"]], dim=64, m=8, k=10
        ).collect():
            want.append(
                (r["query_id"], o["vec_id"], o["cluster_id"], o["cosine_similarity"])
            )
    assert got == sorted(want) and len(got) == 8 * 10
    # full coverage + exact rerank == brute force, residual codes or not
    full = SIM.ivfpq_topk(
        spark, res, qv, dim=64, m=8, k=10, n_probe=16, candidate_factor=1000
    )
    brute = SIM.ann_recall(emb, [qv], k=10, topk_fn=lambda v, q, k: SIM.ivfpq_topk(
        spark, res, q, dim=64, m=8, k=k, n_probe=16, candidate_factor=1000
    ))
    assert brute == 1.0 and full.count() == 10
    # clustered corpus, coarse quantizer that works (one deterministic
    # centroid per center): residuals concentrate, residual codes win
    rnd = random.Random(7)
    dim, n_centers, per = 64, 8, 50
    centers = [
        [10.0 if (j % n_centers) == c else rnd.uniform(-0.5, 0.5) for j in range(dim)]
        for c in range(n_centers)
    ]
    rows = [
        (i, [centers[i % n_centers][j] + rnd.uniform(-0.3, 0.3) for j in range(dim)])
        for i in range(n_centers * per)
    ]
    clus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    clus = clus.localCheckpoint()
    qvs = [
        [float(x) for x in r["embedding"]]
        for r in clus.where(F.col("vec_id").isin(11, 53, 105, 207, 309)).collect()
    ]
    recalls = {}
    for name, flag in (("flat", False), ("residual", True)):
        p = str(base / f"clus_{name}")
        SIM.build_ivfpq_index(
            clus, p, dim=dim, n_clusters=8, m=8, n_codes=16, residual=flag
        )
        recalls[name] = SIM.ann_recall(
            clus, qvs, k=10,
            topk_fn=lambda v, q, k, p=p: SIM.ivfpq_topk(
                spark, p, q, dim=dim, m=8, k=k, n_probe=2, candidate_factor=4
            ),
        )
    # measured 0.96 vs 0.88 (deterministic corpus + plans); margin for drift
    assert recalls["residual"] > recalls["flat"]
    assert recalls["residual"] >= 0.9


def test_ivfpq_trained_centroids_rescue_residual(spark, tmp_path_factory):
    """centroids= on build_ivfpq_index: when the corpus's FIRST vectors
    all come from one cluster, the deterministic coarse quantizer is
    degenerate and residual codes can't help; kmeans-trained centroids
    restore the residual win.  This pins (a) the centroids= plumbing
    end-to-end (build -> sidecar n_clusters from the ACTUAL frame ->
    serve) and (b) the train-matters-more-with-residual claim in the
    build docstring."""
    import random

    rnd = random.Random(7)
    dim, n_centers, per = 64, 8, 50
    centers = [
        [10.0 if (j % n_centers) == c else rnd.uniform(-0.5, 0.5) for j in range(dim)]
        for c in range(n_centers)
    ]
    # BLOCKED ids: vecs 0..49 are all center 0, so first-8 deterministic
    # centroids are 8 near-identical points — a degenerate quantizer
    rows = [
        (c * per + i, [centers[c][j] + rnd.uniform(-0.3, 0.3) for j in range(dim)])
        for c in range(n_centers)
        for i in range(per)
    ]
    clus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    clus = clus.localCheckpoint()
    qvs = [
        [float(x) for x in r["embedding"]]
        for r in clus.where(F.col("vec_id").isin(11, 53, 105, 207, 309)).collect()
    ]
    base = tmp_path_factory.mktemp("ivfpqtrain")
    km = SIM.kmeans_centroids(clus, n_clusters=8)
    recalls = {}
    for name, cents in (("det", None), ("km", km)):
        p = str(base / name)
        SIM.build_ivfpq_index(
            clus, p, dim=dim, n_clusters=8, m=8, n_codes=16,
            residual=True, centroids=cents,
        )
        assert SIM._read_ivfpq_params(spark, p)["n_clusters"] == 8
        recalls[name] = SIM.ann_recall(
            clus, qvs, k=10,
            topk_fn=lambda v, q, k, p=p: SIM.ivfpq_topk(
                spark, p, q, dim=dim, m=8, k=k, n_probe=2, candidate_factor=4
            ),
        )
    assert recalls["km"] > recalls["det"]
    assert recalls["km"] >= 0.85


def test_ivfpq_pre_sidecar_index_still_serves(spark, emb, tmp_path_factory):
    """Backward compatibility: an index written before the params
    sidecar existed (simulated by deleting it) serves through the flat
    path with no geometry validation — same results as a sidecar'd flat
    index."""
    import shutil as _sh

    base = tmp_path_factory.mktemp("ivfpqlegacy")
    p = str(base / "idx")
    SIM.build_ivfpq_index(emb, p, dim=64, n_clusters=16, m=8, n_codes=16)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    with_sidecar = sorted(
        map(tuple, SIM.ivfpq_topk(spark, p, qv, dim=64, m=8, k=10).collect())
    )
    _sh.rmtree(f"{p}/params")
    assert SIM._read_ivfpq_params(spark, p) is None
    legacy = sorted(
        map(tuple, SIM.ivfpq_topk(spark, p, qv, dim=64, m=8, k=10).collect())
    )
    assert legacy == with_sidecar
    # and the geometry guard is simply absent (wrong m no longer refused
    # up front — it fails later or returns garbage, the pre-sidecar deal;
    # here we only pin that the happy path is unchanged)


def test_ivfpq_append_equals_rebuild(spark, emb, tmp_path_factory):
    """append_to_ivfpq_index (FAISS add-after-train for the combined
    index): assign + encode the delta against the FROZEN stored
    centroids and codebooks.  When the rebuild's deterministic training
    inputs (first n_clusters/n_codes ids) lie in the base half, the
    appended index serves IDENTICALLY to a full rebuild — flat and
    residual both; a pre-sidecar index refuses the append."""
    base_dir = tmp_path_factory.mktemp("ivfpqappend")
    # sf0.01 embeddings hold ids 0..499: split at 250 so the delta is
    # REAL (an empty delta made an earlier version of this test vacuous)
    lo = emb.where(F.col("vec_id") < 250)
    hi = emb.where(F.col("vec_id") >= 250)
    assert hi.count() > 0
    qv = [float(x) for x in emb.where(F.col("vec_id") == 3).first()["embedding"]]
    for name, flag in (("flat", False), ("res", True)):
        grown = str(base_dir / f"grown_{name}")
        full = str(base_dir / f"full_{name}")
        SIM.build_ivfpq_index(
            lo, grown, dim=64, n_clusters=16, m=8, n_codes=16, residual=flag
        )
        SIM.append_to_ivfpq_index(spark, hi, grown)
        SIM.build_ivfpq_index(
            emb, full, dim=64, n_clusters=16, m=8, n_codes=16, residual=flag
        )
        for p in (grown, full):
            assert SIM._read_ivfpq_params(spark, p)["residual"] is flag
        got = [
            sorted(
                map(
                    tuple,
                    SIM.ivfpq_topk(
                        spark, p, qv, dim=64, m=8, k=10, n_probe=16
                    ).collect(),
                )
            )
            for p in (grown, full)
        ]
        assert got[0] == got[1] and len(got[0]) == 10
        # the delta actually landed
        assert (
            spark.read.parquet(f"{grown}/vectors").count() == emb.count()
        )
    legacy = str(base_dir / "legacy")
    SIM.build_ivfpq_index(lo, legacy, dim=64, n_clusters=16, m=8, n_codes=16)
    import shutil as _sh

    _sh.rmtree(f"{legacy}/params")
    with pytest.raises(ValueError, match="no params sidecar"):
        SIM.append_to_ivfpq_index(spark, hi, legacy)


def test_ivfpq_filtered_serving(spark, emb, tmp_path_factory):
    """where= / candidates= restrict the CANDIDATE set before the ADC:
    with all clusters probed and full rerank coverage the filtered
    top-k equals brute force over the filtered subset; the predicate
    stacks with partition pruning (both visible in the plan)."""
    from wpvectordb_spark.operators.search import brute_force_topk

    path = str(tmp_path_factory.mktemp("ivfpqfilter") / "idx")
    SIM.build_ivfpq_index(emb, path, dim=64, n_clusters=16, m=8, n_codes=16)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    filtered = SIM.ivfpq_topk(
        spark, path, qv, dim=64, m=8, k=10, n_probe=16,
        candidate_factor=1000, where="vec_id % 3 = 1",
    )
    brute = brute_force_topk(
        emb.where(F.col("vec_id") % 3 == 1).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
        ),
        qv,
        n=10,
    )
    assert [r["vec_id"] for r in filtered.collect()] == [
        r["id"] for r in brute.collect()
    ]
    # candidates= (the reference's S3 semi-join restrict) matches where=
    cand = emb.where(F.col("vec_id") % 3 == 1).select("vec_id")
    via_cand = SIM.ivfpq_topk(
        spark, path, qv, dim=64, m=8, k=10, n_probe=16,
        candidate_factor=1000, candidates=cand,
    )
    assert sorted(map(tuple, via_cand.collect())) == sorted(
        map(tuple, filtered.collect())
    )
    # pruning still reaches the scan with a filter stacked on top
    pruned = SIM.ivfpq_topk(
        spark, path, qv, dim=64, m=8, k=10, n_probe=4, where="vec_id % 3 = 1"
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster_id" in plan
    assert pruned.count() == 10


def test_batched_filtered_serving_matches_single(spark, emb, tmp_path_factory):
    """where=/candidates= on the BATCHED serving paths restrict the
    whole batch identically to the single-query form: per query the
    filtered ivfpq_topk_many rows equal filtered ivfpq_topk, and
    ivf_topk_many honors the same predicate."""
    base = tmp_path_factory.mktemp("batchfilter")
    pqp = str(base / "ivfpq")
    SIM.build_ivfpq_index(emb, pqp, dim=64, n_clusters=16, m=8, n_codes=16)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vector"),
    )
    pred = "vec_id % 2 = 0"
    got = sorted(
        map(
            tuple,
            SIM.ivfpq_topk_many(
                spark, pqp, queries, dim=64, m=8, k=10, where=pred
            ).collect(),
        )
    )
    want = []
    for r in queries.collect():
        for o in SIM.ivfpq_topk(
            spark, pqp, [float(x) for x in r["query_vector"]],
            dim=64, m=8, k=10, where=pred,
        ).collect():
            want.append(
                (r["query_id"], o["vec_id"], o["cluster_id"], o["cosine_similarity"])
            )
    assert got == sorted(want) and len(got) == 5 * 10
    assert all(t[1] % 2 == 0 for t in got)
    ivfp = str(base / "ivf")
    SIM.build_ivf_index(emb, ivfp, n_clusters=16)
    cand = emb.where(F.col("vec_id") % 2 == 0).select("vec_id")
    via = SIM.ivf_topk_many(spark, queries, path=ivfp, k=10, candidates=cand)
    rows = via.collect()
    assert len(rows) == 5 * 10 and all(r["vec_id"] % 2 == 0 for r in rows)


def test_ivfpq_index_stats(spark, emb, tmp_path_factory):
    """ivfpq_index_stats: one row per cluster, shares sum to 1,
    imbalance is share x n_clusters (needs the sidecar), the scan reads
    only the partition column, and appends move the counts."""
    path = str(tmp_path_factory.mktemp("ivfpqstats") / "idx")
    lo = emb.where(F.col("vec_id") < 250)
    SIM.build_ivfpq_index(lo, path, dim=64, n_clusters=16, m=8, n_codes=16)
    stats = SIM.ivfpq_index_stats(spark, path)
    rows = stats.collect()
    assert stats.columns == ["cluster_id", "n_vectors", "share", "imbalance"]
    assert sum(r["n_vectors"] for r in rows) == 250
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert abs(r["imbalance"] - round(r["share"] * 16, 6)) < 1e-6
    # column pruning: the stats scan reads no vector/code bytes
    plan = (
        spark.read.parquet(f"{path}/vectors")
        .groupBy("cluster_id")
        .count()
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "embedding" not in plan.split("ReadSchema")[-1][:200]
    # appends shift the distribution
    SIM.append_to_ivfpq_index(spark, emb.where(F.col("vec_id") >= 250), path)
    rows2 = SIM.ivfpq_index_stats(spark, path).collect()
    assert sum(r["n_vectors"] for r in rows2) == emb.count()


def test_pq_codebooks_kmeans_contract_and_exactness(spark, emb, tmp_path_factory):
    """Trained PQ codebooks (pq_codebooks_kmeans): same frame contract as
    the deterministic builder (passes the collect validation), serving
    with full candidate coverage stays EXACT (the rerank invariant is
    codebook-independent), and build_ivfpq_index(codebooks=) records the
    ACTUAL n_codes from the supplied frame in the params sidecar."""
    cb_df = SIM.pq_codebooks_kmeans(emb, dim=64, m=8, n_codes=16)
    cb = SIM._collect_codebooks(cb_df, 8)
    assert len(cb) == 8 and len(cb[0]) == 16 and len(cb[0][0]) == 8

    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    rec = SIM.ann_recall(
        emb, [qv], k=10,
        topk_fn=lambda v, q, k: SIM.pq_topk(
            emb, q, dim=64, m=8, n_codes=16, n=k,
            codebooks=cb, candidate_factor=10_000,
        ),
    )
    assert rec == 1.0

    # supplied-codebooks build: arg says 16, frame says 8 -> sidecar 8
    p = str(tmp_path_factory.mktemp("pqkm") / "idx")
    cb8 = SIM.pq_codebooks_kmeans(emb, dim=64, m=8, n_codes=8)
    SIM.build_ivfpq_index(
        emb, p, dim=64, n_clusters=8, m=8, n_codes=16, codebooks=cb8
    )
    params = spark.read.json(f"{p}/params").first()
    assert params["n_codes"] == 8
    out = SIM.ivfpq_topk(spark, p, qv, dim=64, m=8, k=5, n_probe=8)
    assert out.count() == 5


def test_pq_kmeans_codebooks_rescue_degenerate_deterministic(spark):
    """The training-matters case for PQ codebooks: when the corpus's
    first n_codes vectors all come from ONE cluster, the deterministic
    codebooks are n_codes near-identical codewords (every vector encodes
    to the same codes — the ADC stage is blind) and a tight candidate
    budget misses; KMeans-trained codebooks spread over the real
    distribution restore recall.  Mirrors the centroid-rescue test at
    the codebook layer."""
    import random

    rnd = random.Random(11)
    dim, n_centers, per = 64, 8, 50
    centers = [
        [10.0 if (j % n_centers) == c else rnd.uniform(-0.5, 0.5) for j in range(dim)]
        for c in range(n_centers)
    ]
    # BLOCKED ids: vecs 0..49 are all center 0 -> deterministic
    # codebooks (first 16 by id) are 16 near-identical codewords
    rows = [
        (c * per + i, [centers[c][j] + rnd.uniform(-0.3, 0.3) for j in range(dim)])
        for c in range(n_centers)
        for i in range(per)
    ]
    clus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    clus = clus.localCheckpoint()
    qvs = [
        [float(x) for x in r["embedding"]]
        for r in clus.where(F.col("vec_id").isin(60, 120, 210, 330)).collect()
    ]

    def recall_with(codebooks):
        return SIM.ann_recall(
            clus, qvs, k=10,
            topk_fn=lambda v, q, k: SIM.pq_topk(
                clus, q, dim=dim, m=8, n_codes=16, n=k,
                codebooks=codebooks, candidate_factor=4,
            ),
        )

    det = recall_with(SIM.pq_codebooks(clus, dim=dim, m=8, n_codes=16))
    trained = recall_with(
        SIM._collect_codebooks(
            SIM.pq_codebooks_kmeans(clus, dim=dim, m=8, n_codes=16), 8
        )
    )
    # measured 0.925 trained vs 0.775 deterministic at candidate_factor=4
    # (cf=2: 0.6 vs 0.45; cf=8 both saturate at 1.0) — margin for drift
    assert trained > det, (trained, det)
    assert trained >= 0.85


def test_pq_codebooks_kmeans_guards(spark, emb):
    with pytest.raises(ValueError, match="not divisible"):
        SIM.pq_codebooks_kmeans(emb, dim=64, m=7)
    with pytest.raises(ValueError, match="fewer than n_codes"):
        SIM.pq_codebooks_kmeans(
            emb.where(F.col("vec_id") < 4), dim=64, m=8, n_codes=16
        )


def test_ivfpq_residual_with_trained_codebooks_end_to_end(spark, tmp_path_factory):
    """The fully-trained IVFPQ composition the build docstring describes:
    kmeans coarse quantizer + kmeans PQ codebooks trained ON RESIDUALS
    against those same centroids, supplied via centroids=/codebooks=.
    Pins that (a) the residual+codebooks= path builds and serves, (b)
    the sidecar records residual=True so serving auto-detects, and (c)
    recall at a tight budget is at least the flat-trained variant's on
    a clustered corpus (residuals concentrate -> codes resolve more)."""
    import random

    rnd = random.Random(13)
    dim, n_centers, per = 64, 8, 50
    centers = [
        [10.0 if (j % n_centers) == c else rnd.uniform(-0.5, 0.5) for j in range(dim)]
        for c in range(n_centers)
    ]
    rows = [
        (c * per + i, [centers[c][j] + rnd.uniform(-0.3, 0.3) for j in range(dim)])
        for c in range(n_centers)
        for i in range(per)
    ]
    clus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    clus = clus.localCheckpoint()
    qvs = [
        [float(x) for x in r["embedding"]]
        for r in clus.where(F.col("vec_id").isin(60, 120, 210, 330)).collect()
    ]
    base = tmp_path_factory.mktemp("ivfpq_trained")

    cents = SIM.kmeans_centroids(clus, n_clusters=8).localCheckpoint()
    assigned = SIM.assign_clusters(clus, cents)
    res_frame = SIM._with_residual(assigned, cents, "embedding")
    res_cb = SIM.pq_codebooks_kmeans(
        res_frame.select("vec_id", "_res"), dim=dim, m=8, n_codes=16,
        vector_col="_res",
    )

    p_res = str(base / "res")
    SIM.build_ivfpq_index(
        clus, p_res, dim=dim, n_clusters=8, m=8, n_codes=16,
        residual=True, centroids=cents, codebooks=res_cb,
    )
    params = spark.read.json(f"{p_res}/params").first()
    assert params["residual"] is True and params["n_codes"] == 16

    p_flat = str(base / "flat")
    SIM.build_ivfpq_index(
        clus, p_flat, dim=dim, n_clusters=8, m=8, n_codes=16,
        centroids=cents,
        codebooks=SIM.pq_codebooks_kmeans(clus, dim=dim, m=8, n_codes=16),
    )

    def recall_at(path):
        return SIM.ann_recall(
            clus, qvs, k=10,
            topk_fn=lambda v, q, k, p=path: SIM.ivfpq_topk(
                spark, p, q, dim=dim, m=8, k=k, n_probe=2, candidate_factor=4
            ),
        )

    r_res, r_flat = recall_at(p_res), recall_at(p_flat)
    assert r_res >= r_flat, (r_res, r_flat)
    assert r_res >= 0.9


def test_pq_codebooks_kmeans_pads_degenerate_subspace(spark):
    """A constant (zero-padded) subspace yields fewer KMeans centers than
    n_codes; the builder pads to a rectangular book so the collect step
    and every consumer keep working (duplicate codewords are harmless —
    first-min argmin picks the lowest code id)."""
    import random

    rnd = random.Random(3)
    rows = [
        (i, [rnd.uniform(-1, 1) for _ in range(4)] + [0.0, 0.0, 0.0, 0.0])
        for i in range(100)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cb = SIM._collect_codebooks(
        SIM.pq_codebooks_kmeans(df, dim=8, m=2, n_codes=8), 2, 4
    )
    assert len(cb) == 2 and all(len(book) == 8 for book in cb)
    qv = [float(x) for x in df.where(F.col("vec_id") == 0).first()["embedding"]]
    out = SIM.pq_topk(df, qv, dim=8, m=2, n_codes=8, n=5, codebooks=cb)
    assert out.count() == 5


def test_pq_geometry_width_guard(spark, emb):
    """Codebooks trained at a different dim/m must refuse with the
    geometry named (a NULL-padded zip would silently produce garbage
    distances — or a corrupted index on the build path)."""
    emb32 = emb.select("vec_id", F.slice("embedding", 1, 32).alias("embedding"))
    cb32 = SIM.pq_codebooks_kmeans(emb32, dim=32, m=8, n_codes=8)  # width 4
    with pytest.raises(ValueError, match="codeword width"):
        SIM.pq_topk(emb, [0.0] * 64, dim=64, m=8, n_codes=8, codebooks=cb32)
    with pytest.raises(ValueError, match="codeword width"):
        SIM.build_ivfpq_index(
            emb, "/tmp/never_written_pq_guard", dim=64, n_clusters=4,
            m=8, n_codes=8, codebooks=cb32,
        )


def test_retrain_decision_and_sql_mirror(spark, duck):
    """retrain_decision aggregates a recall report into the re-train
    verdict: rounded-mean-below-threshold flags, per-query stats ride
    along, and the DuckDB mirror matches row-for-row."""
    rep = spark.createDataFrame(
        [(0, 10, 10, 1.0), (1, 9, 10, 0.9), (2, 7, 10, 0.7)],
        "query_id long, n_hit long, n_exact long, recall double",
    )
    row = SIM.retrain_decision(rep, threshold=0.9).collect()[0]
    assert row["n_queries"] == 3
    assert row["n_below"] == 1  # only the 0.7 query is under 0.9
    assert abs(row["mean_recall"] - 0.866667) < 1e-9
    assert row["min_recall"] == 0.7
    assert row["retrain"] == 1
    # healthy batch: mean above threshold -> no flag
    ok = SIM.retrain_decision(rep, threshold=0.8).collect()[0]
    assert ok["retrain"] == 0 and ok["n_below"] == 1
    duck.execute(
        "CREATE OR REPLACE TEMP TABLE rd_in(query_id BIGINT, n_hit BIGINT,"
        " n_exact BIGINT, recall DOUBLE)"
    )
    duck.executemany(
        "INSERT INTO rd_in VALUES (?, ?, ?, ?)",
        [tuple(r) for r in rep.collect()],
    )
    d = duck.sql(
        SIM.sql_retrain_decision("SELECT * FROM rd_in", threshold=0.9)
    ).fetchall()
    s = [tuple(r) for r in SIM.retrain_decision(rep, threshold=0.9).collect()]
    assert s == d
    duck.execute("DROP TABLE rd_in")


def test_retrain_ivf_index_closes_the_loop(spark, tmp_path_factory):
    """The add-after-train contract end to end (VERDICT round 9 item
    3): a healthy index measures clean (no rebuild); appending a
    drifted region the frozen centroids can't route makes recall
    collapse for drift-region queries; retrain_ivf_index flags it,
    re-trains on the full corpus (append folded in), swaps crash-safely,
    and the SAME query's recall is restored."""
    td = str(tmp_path_factory.mktemp("retrain"))
    path = f"{td}/ivf"

    def vec(*xs):
        return [float(x) for x in xs]

    e0, e1 = vec(1, 0, 0, 0), vec(0, 1, 0, 0)
    drift_a = vec(0, 0.4, 1, 0)   # the new region: e2 tilted toward e1,
    drift_b = vec(0, 0.41, 1, 0)  # so frozen centroids route it to c1
    base = (
        [(0, e0), (1, e1)]
        + [(10 + i, e0) for i in range(20)]
        + [(30 + i, e1) for i in range(20)]
    )
    schema = "vec_id long, embedding array<double>"
    SIM.build_ivf_index(spark.createDataFrame(base, schema), path, n_clusters=2)
    # the monitoring query leans slightly toward e0, so with the TIE
    # broken it probes cluster 0 deterministically
    q = spark.createDataFrame(
        [(0, vec(0.05, 0, 1, 0))],
        "query_id long, query_vector array<double>",
    )
    healthy = SIM.retrain_ivf_index(
        spark, path, q, threshold=0.9, k=5, n_probe=1
    )
    assert healthy["mean_recall"] == 1.0
    assert healthy["retrain"] is False and healthy["rebuilt"] is False
    # drift arrives: ids 2/3 are the region exemplars (they become
    # centroid seeds on re-train), 200.. the members — all assigned to
    # cluster 1 by the FROZEN centroids while the query probes 0
    delta = [(2, drift_a), (3, drift_b)] + [
        (200 + i, drift_a) for i in range(10)
    ]
    SIM.append_to_ivf_index(spark, spark.createDataFrame(delta, schema), path)
    out = SIM.retrain_ivf_index(
        spark, path, q, threshold=0.9, k=5, n_probe=1, n_clusters=4
    )
    assert out["mean_recall"] == 0.0  # probe 0 holds none of the drifts
    assert out["retrain"] is True and out["rebuilt"] is True
    assert out["recall_after"] == 1.0  # drift region owns a centroid now
    assert not os.path.isdir(path + "__staging")
    assert not os.path.isdir(path + "__old")
    # the rebuilt index serves the drift region through its own cluster
    got = SIM.ivf_topk_from_index(spark, path, vec(0.05, 0, 1, 0), k=5, n_probe=1)
    ids = {r["vec_id"] for r in got.collect()}
    assert ids == {2, 200, 201, 202, 203}
    # measurement-only mode never rebuilds even when flagged
    SIM.append_to_ivf_index(
        spark,
        spark.createDataFrame([(500, vec(0, 1, 0, 1))], schema),
        path,
    )
    ro = SIM.retrain_ivf_index(
        spark, path, q, threshold=1.1, k=5, n_probe=1, rebuild=False
    )
    assert ro["retrain"] is True and ro["rebuilt"] is False


def test_retrain_ivfpq_index_closes_the_loop(spark, tmp_path_factory):
    """The IVFPQ form of the closed loop: same drift topology as the
    IVF test (frozen coarse quantizer routes the drift region away from
    the query's probe), flagged by the sidecar-geometry-aware loop,
    rebuilt with centroids AND codebooks re-trained on the full corpus,
    recall restored; plain-IVF layouts and the IVF entry point refuse
    each other's indexes."""
    td = str(tmp_path_factory.mktemp("retrain_pq"))
    path = f"{td}/ivfpq"

    def vec(*xs):
        return [float(x) for x in xs]

    e0, e1 = vec(1, 0, 0, 0), vec(0, 1, 0, 0)
    drift_a, drift_b = vec(0, 0.4, 1, 0), vec(0, 0.41, 1, 0)
    base = (
        [(0, e0), (1, e1)]
        + [(10 + i, e0) for i in range(20)]
        + [(30 + i, e1) for i in range(20)]
    )
    schema = "vec_id long, embedding array<double>"
    SIM.build_ivfpq_index(
        spark.createDataFrame(base, schema), path,
        dim=4, n_clusters=2, m=2, n_codes=4,
    )
    q = spark.createDataFrame(
        [(0, vec(0.05, 0, 1, 0))],
        "query_id long, query_vector array<double>",
    )
    healthy = SIM.retrain_ivfpq_index(
        spark, path, q, threshold=0.9, k=5, n_probe=1
    )
    assert healthy["mean_recall"] == 1.0 and healthy["rebuilt"] is False
    delta = [(2, drift_a), (3, drift_b)] + [
        (200 + i, drift_a) for i in range(10)
    ]
    SIM.append_to_ivfpq_index(spark, spark.createDataFrame(delta, schema), path)
    out = SIM.retrain_ivfpq_index(
        spark, path, q, threshold=0.9, k=5, n_probe=1, n_clusters=4
    )
    assert out["mean_recall"] == 0.0
    assert out["retrain"] is True and out["rebuilt"] is True
    assert out["recall_after"] == 1.0
    # geometry preserved through the rebuild (dim/m/n_codes/residual
    # are index identity; n_clusters widened as requested)
    params = SIM._read_ivfpq_params(spark, path)
    assert (params["dim"], params["m"], params["n_codes"]) == (4, 2, 4)
    assert params["n_clusters"] == 4
    got = SIM.ivfpq_topk(
        spark, path, vec(0.05, 0, 1, 0), dim=4, m=2, k=5, n_probe=1
    )
    assert {r["vec_id"] for r in got.collect()} == {2, 200, 201, 202, 203}
    # cross-family refusals: the IVF entry point refuses the sidecar'd
    # index, and the IVFPQ one refuses a plain-IVF layout
    with pytest.raises(ValueError, match="retrain_ivfpq_index"):
        SIM.retrain_ivf_index(spark, path, q, threshold=0.9, k=5, n_probe=1)
    ivf_path = f"{td}/plain_ivf"
    SIM.build_ivf_index(spark.createDataFrame(base, schema), ivf_path, n_clusters=2)
    with pytest.raises(ValueError, match="sidecar"):
        SIM.retrain_ivfpq_index(spark, ivf_path, q, threshold=0.9, k=5)


def test_fsutil_hadoop_fs_semantics(spark, tmp_path):
    """fsutil routes surgery through the Hadoop FileSystem API; on a
    local path and on a file:/ URI the semantics must match the POSIX
    calls it replaced: recursive delete, missing-path delete no-op,
    rename, and a LOUD refusal of an existing rename destination (the
    Hadoop move-INTO-directory fallback would nest the new snapshot
    inside the old one); listings and text sidecars likewise."""
    from wpvectordb_spark import fsutil

    for prefix in ("", "file:"):
        root = tmp_path / ("plain" if prefix == "" else "uri")
        (root / "a" / "sub").mkdir(parents=True)
        (root / "a" / "sub" / "f.txt").write_text("x")
        (root / "b").mkdir()
        a, b, c = (
            prefix + str(root / "a"),
            prefix + str(root / "b"),
            prefix + str(root / "c"),
        )
        assert fsutil.exists(spark, a) and fsutil.is_dir(spark, a)
        assert not fsutil.exists(spark, c)
        with pytest.raises(IOError, match="destination exists"):
            fsutil.rename(spark, a, b)
        fsutil.rename(spark, a, c)
        assert not fsutil.exists(spark, a)
        assert (root / "c" / "sub" / "f.txt").read_text() == "x"
        fsutil.delete(spark, c)  # recursive
        assert not fsutil.exists(spark, c)
        fsutil.delete(spark, c)  # missing-path no-op
        # listings: missing path is empty; names skip markers/hidden files
        assert fsutil.list_dir(spark, c) == [] and fsutil.list_files(spark, c) == []
        (root / "b" / "part-0.txt").write_text("xyz")
        (root / "b" / "_SUCCESS").write_text("")
        assert fsutil.list_dir(spark, prefix + str(root)) == [("b", True)]
        assert fsutil.list_files(spark, b, ".txt") == [
            (f"file:{root}/b/part-0.txt", 3)
        ]
        # sidecars: atomic replace of an existing file, written on the
        # raw FS (no .crc companion, no tmp left behind)
        side = prefix + str(root / "m" / "_params.json")
        assert fsutil.read_text(spark, side) is None
        fsutil.write_text(spark, side, "old")
        fsutil.write_text(spark, side, "n\u00e9w")
        assert fsutil.read_text(spark, side) == "n\u00e9w"
        assert os.listdir(root / "m") == ["_params.json"]


def test_retrain_heals_swap_debris(spark, tmp_path_factory):
    """ADVICE round 10: a kill after the promote rename but before the
    old-copy drop leaves a stale path__old beside the LIVE index; loop
    entry must drop it (it previously persisted until the next flagged
    rebuild).  The between-renames window (path absent, data in
    path__old) must still recover by renaming back."""
    import shutil

    td = str(tmp_path_factory.mktemp("heal"))
    path = f"{td}/ivf"
    base = [(i, [1.0, 0.0]) for i in range(10)] + [
        (100 + i, [0.0, 1.0]) for i in range(10)
    ]
    schema = "vec_id long, embedding array<double>"
    SIM.build_ivf_index(spark.createDataFrame(base, schema), path, n_clusters=2)
    q = spark.createDataFrame(
        [(0, [1.0, 0.0])], "query_id long, query_vector array<double>"
    )
    # stale __old beside a live index (kill-after-promote debris)
    shutil.copytree(path, path + "__old")
    out = SIM.retrain_ivf_index(spark, path, q, threshold=0.5, k=5, n_probe=1)
    assert out["mean_recall"] == 1.0
    assert not os.path.exists(path + "__old")
    # between-the-renames window: path absent, only copy at __old
    os.rename(path, path + "__old")
    out = SIM.retrain_ivf_index(spark, path, q, threshold=0.5, k=5, n_probe=1)
    assert out["mean_recall"] == 1.0
    assert os.path.isdir(path) and not os.path.exists(path + "__old")


def test_retrain_over_file_uri(spark, tmp_path_factory):
    """The closed loop end-to-end with the index addressed as a file:/
    URI — the path shape a Hadoop-backed deployment hands around.  The
    POSIX os.rename swap could never see such a path; the fsutil swap
    must flag, rebuild, promote, and restore recall identically."""
    td = str(tmp_path_factory.mktemp("uri_retrain"))
    local = f"{td}/ivf"
    path = "file:" + local

    def vec(*xs):
        return [float(x) for x in xs]

    e0, e1 = vec(1, 0, 0, 0), vec(0, 1, 0, 0)
    base = (
        [(0, e0), (1, e1)]
        + [(10 + i, e0) for i in range(20)]
        + [(30 + i, e1) for i in range(20)]
    )
    schema = "vec_id long, embedding array<double>"
    SIM.build_ivf_index(spark.createDataFrame(base, schema), path, n_clusters=2)
    q = spark.createDataFrame(
        [(0, vec(0.05, 0, 1, 0))],
        "query_id long, query_vector array<double>",
    )
    drift = [(2, vec(0, 0.4, 1, 0)), (3, vec(0, 0.41, 1, 0))] + [
        (200 + i, vec(0, 0.4, 1, 0)) for i in range(10)
    ]
    SIM.append_to_ivf_index(spark, spark.createDataFrame(drift, schema), path)
    out = SIM.retrain_ivf_index(
        spark, path, q, threshold=0.9, k=5, n_probe=1, n_clusters=4
    )
    assert out["retrain"] is True and out["rebuilt"] is True
    assert out["recall_after"] == 1.0
    assert os.path.isdir(local)
    assert not os.path.exists(local + "__old")
    assert not os.path.exists(local + "__staging")
