"""Approximate nearest-neighbour search over an embedding column.

Two paths beyond the reference's sign-bit/Hamming funnel (operators.search):

* **brute force** — exact cosine top-k; the scan-bound baseline
  (``search.brute_force_topk`` / ``search_many``).
* **IVF (inverted file)** — partition vectors by nearest centroid at
  index-build time; queries probe only the ``n_probe`` nearest centroid
  partitions.  At 100 TB: the assignment is a broadcast join against a
  tiny centroid table + one write partitioned by ``cluster_id``; a query
  then prunes (1 - n_probe/n_clusters) of the data at the parquet
  partition level before any vector math runs.

Centroid selection here is deterministic (first ``n_clusters`` vectors by
id) so results are oracle-reproducible; production would run k-means
(pyspark.ml) — the query plan is identical either way.
"""

from __future__ import annotations

import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wpvectordb_spark.functions import kernels as K
from wpvectordb_spark.functions import vector_arrow as VA


def brute_force_topk_arrow(
    vectors: DataFrame,
    query_vector: list[float],
    n: int = 10,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    round_to: int | None = 9,
) -> DataFrame:
    """Exact cosine top-k through the Arrow scoring kernel
    (``functions.vector_arrow``): one ``mapInArrow`` pass keeps each
    batch's top n, one ``TakeOrderedAndProject`` merges them.  Same
    fold, same order (NaN first, NULL last, ties to the smaller id), so
    the rows equal the Catalyst ``search.brute_force_topk``'s."""
    ranked = (
        VA.scan_topk(
            vectors,
            VA.QueryBatch.of(query_vector),
            n,
            id_col=id_col,
            vector_col=vector_col,
            query_id_col=None,
        )
        .orderBy(F.col("cosine_similarity").desc(), F.col(id_col).asc())
        .limit(n)
    )
    cos = F.col("cosine_similarity")
    return ranked.select(
        id_col, (F.round(cos, round_to) if round_to is not None else cos).alias("cosine_similarity")
    )


def quantized_topk(
    vectors: DataFrame,
    query_vector: list[float],
    n: int = 10,
    candidate_factor: int = 4,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    round_to: int | None = 9,
) -> DataFrame:
    """Two-stage top-k over int8-quantized codes: scan stage ranks by
    QUANTIZED cosine (integer-mul folds over 1/4 the bytes — at 100 TB
    the table stores only ``(id, codes int8[], scale)`` and the float
    vectors live in a separate re-fetch table), keep ``candidate_factor
    * n`` survivors, then rerank the survivors with the exact float
    cosine.  Same funnel shape as the reference's Hamming stage — both
    stages are TakeOrderedAndProject merges, no full-result shuffle.

    Quantized cosine equals the cosine of the dequantized vectors
    (scales cancel), so ranking drift comes only from int8 rounding —
    the oversampled candidate set absorbs it.
    """
    import math

    q = [float(x) for x in query_vector]
    if any(x != x for x in q):
        # a NaN would poison max_abs and crash math.floor with an opaque
        # 'cannot convert float NaN to integer' at plan-build time
        raise ValueError("quantized_topk: query_vector contains NaN")
    max_abs = max((abs(x) for x in q), default=0.0)
    q_scale = max(max_abs, 1e-30) / K.QUANT_LEVELS
    # half-AWAY-from-zero, matching Spark's F.round (HALF_UP) and SQL
    # round() — Python's builtin round() is half-even and would disagree
    # on exact .5 code boundaries
    q_codes = F.array(
        *[
            F.lit(int(math.copysign(math.floor(abs(x) / q_scale + 0.5), x)))
            for x in q
        ]
    )

    # fused fold+finish quantize: the projected-scale split is NOT
    # collapse-proof — CollapseProject inlines the single-referenced
    # scale column back into the transform lambda (verified on the
    # optimized plan), silently restoring the O(d^2)/vector fold.  The
    # finish-lambda form keeps the reduction out of reach (see
    # kernels.quantize_fused).
    quant = vectors.select(
        F.col(id_col),
        F.col(vector_col),
        K.quantize_fused(vector_col).alias("_codes"),
    )
    scan = quant.select(
        F.col(id_col),
        F.col(vector_col),
        K.quantized_cosine("_codes", q_codes).alias("_qcos"),
    )
    survivors = scan.orderBy(F.col("_qcos").desc(), F.col(id_col).asc()).limit(
        candidate_factor * n
    )
    from wpvectordb_spark.operators.search import _magnitude

    exact = K.cosine_similarity(
        F.array(*[F.lit(x) for x in q]), vector_col, F.lit(_magnitude(q)), None
    )
    out = survivors.select(
        F.col(id_col),
        (F.round(exact, round_to) if round_to is not None else exact).alias(
            "cosine_similarity"
        ),
        exact.alias("_raw"),
    )
    return (
        out.orderBy(F.col("_raw").desc(), F.col(id_col).asc())
        .limit(n)
        .drop("_raw")
    )


def kmeans_centroids(
    vectors: DataFrame,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
) -> DataFrame:
    """Production centroid training: pyspark.ml KMeans over the embedding
    column (array -> ml Vector -> fit -> centers back as array<double>).

    Returns the same (cluster_id, centroid, centroid_mag) shape as
    ``deterministic_centroids`` so the IVF build/query path is unchanged.
    Not oracle-checkable (iterative, implementation-defined); covered by
    recall tests instead.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = vectors.select(array_to_vector(F.col(vector_col)).alias("features"))
    model = KMeans(k=n_clusters, seed=seed, maxIter=max_iter).fit(feat)
    spark = vectors.sparkSession
    rows = [
        (i, [float(x) for x in center]) for i, center in enumerate(model.clusterCenters())
    ]
    cents = spark.createDataFrame(rows, f"cluster_id long, centroid array<double>")
    return cents.select(
        "cluster_id", "centroid", K.magnitude("centroid").alias("centroid_mag")
    )


def ann_recall(
    vectors: DataFrame,
    query_vectors: list[list[float]],
    k: int = 10,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    topk_fn=None,
) -> float:
    """Mean recall@k of ``topk_fn`` (defaults to brute force = 1.0)
    against exact brute-force results, over the given query vectors."""
    from wpvectordb_spark.operators.search import brute_force_topk

    renamed = vectors.select(
        F.col(id_col).alias("id"), F.col(vector_col).alias("vector")
    )
    if not query_vectors:
        raise ValueError("ann_recall: query_vectors must be non-empty")
    total = 0.0
    for qv in query_vectors:
        exact = {r["id"] for r in brute_force_topk(renamed, qv, n=k).collect()}
        if topk_fn is None:
            got = exact
        else:
            got = {r[0] for r in topk_fn(vectors, qv, k).collect()}
        # denominator = |exact|, not k: a corpus smaller than k would
        # otherwise cap even a perfect method below 1.0
        total += len(exact & got) / max(len(exact), 1)
    return total / len(query_vectors)


def pool_embeddings(
    vectors: DataFrame,
    group_col: str = "doc_id",
    vector_col: str = "embedding",
    order_col: str = "chunk_id",
) -> DataFrame:
    """Mean-pool chunk embeddings into one vector per group — the
    standard document-vector construction when the embedder works on
    chunks (``curation.chunk_documents`` splits, the model embeds each
    chunk, this pools them back so ANN indexes hold ONE entry per
    document; also the multimodal frame->clip pooling step).  NULL
    vectors are dropped before pooling (a group of only NULLs emits
    nothing); ``order_col`` must be unique within a group — it fixes
    the fold order, which is what makes the float sum reproducible.

    Scale shape: ONE hash aggregation on the group key — the map-side
    partial collects each partition's chunks, the merge concatenates;
    per-group state is (n_chunks x dim) doubles, bounded by the
    chunks-per-document contract (a 10k-token doc at 512-token chunks
    is ~20 vectors).  The fold runs JVM-side over the ORDER-SORTED
    chunk list (the dynamic-term float-sum rule: an unordered
    ``avg`` would drift ulps across engines AND across reruns as
    partial-agg merge order shifts), and the pooled cells round to
    9 dp.  Returns (group, n_chunks, pooled array<double>).
    """
    lst = F.array_sort(
        F.collect_list(
            F.struct(F.col(order_col).alias("o"), F.col(vector_col).alias("v"))
        )
    )
    # left fold in order_col order: init = first chunk cast to DOUBLE,
    # fold the rest elementwise — the exact shape DuckDB's no-init
    # list_reduce over an ORDER BY list produces
    pooled = (
        "transform("
        "  aggregate("
        "    slice(_lst, 2, size(_lst) - 1),"
        "    transform(_lst[0].v, x -> CAST(x AS DOUBLE)),"
        "    (acc, s) -> zip_with(acc, s.v, (a, b) -> a + CAST(b AS DOUBLE))),"
        "  x -> round(x / _n, 9))"
    )
    return (
        vectors.where(F.col(vector_col).isNotNull())
        .groupBy(group_col)
        .agg(lst.alias("_lst"), F.count("*").alias("_n"))
        .select(
            F.col(group_col),
            F.col("_n").cast("long").alias("n_chunks"),
            F.expr(pooled).alias(vector_col),
        )
    )


def sql_pool_embeddings(
    chunks_sql: str,
    group_col: str = "doc_id",
    vector_col: str = "embedding",
    order_col: str = "chunk_id",
) -> str:
    """DuckDB mirror of ``pool_embeddings`` over a (group, order, vector)
    relation: ``list(... ORDER BY order)`` + no-init ``list_reduce`` is
    the same left fold in the same order."""
    return f"""
        WITH pe_c AS ({chunks_sql}),
        pe_lst AS (
          SELECT {group_col}, COUNT(*) AS n,
                 list(list_transform({vector_col}, x -> CAST(x AS DOUBLE))
                      ORDER BY {order_col}) AS vs
          FROM pe_c WHERE {vector_col} IS NOT NULL
          GROUP BY {group_col}
        )
        SELECT {group_col}, CAST(n AS BIGINT) AS n_chunks,
               list_transform(
                 list_reduce(vs, (a, b) ->
                   list_transform(list_zip(a, b), p -> p[1] + p[2])),
                 x -> round(x / n, 9)) AS {vector_col}
        FROM pe_lst
    """


def deterministic_centroids(
    vectors: DataFrame,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """First ``n_clusters`` vectors by id as centroids (reproducible)."""
    return (
        vectors.orderBy(F.col(id_col).asc())
        .limit(n_clusters)
        .select(
            F.col(id_col).alias("cluster_id"),
            F.col(vector_col).alias("centroid"),
            K.magnitude(vector_col).alias("centroid_mag"),
        )
    )


def assign_clusters(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """IVF index build: nearest centroid (max cosine) per vector.

    The centroid table (<= n_clusters rows) is collected once on the
    driver and every vector is scored against all of it in ONE
    ``mapInArrow`` pass (``functions.vector_arrow.nearest_centroid``):
    no join, no sort, no shuffle of the vector payload.  The winner is
    the max of ``(sim, -cluster_id)`` in Spark's struct order — equal
    sims go to the smallest cluster_id, and a NULL-sim vector (NULL or
    wrong-length embedding) lands on the smallest cluster_id with a NULL
    ``centroid_sim``.  An empty centroid table gives an empty result.

    DUPLICATE-ID CONTRACT: ``id_col`` is assumed unique (a vector
    table's primary key, as every call site guarantees); a duplicated
    id yields one assignment row PER INPUT ROW, each deterministic for
    its own vector — deduplicate upstream if ids can repeat."""
    cents = _collect_centroids(centroids)
    if not len(cents):
        return vectors.where(F.lit(False)).select(
            F.col(id_col),
            F.col(vector_col),
            F.lit(None).cast(cents.type).alias("cluster_id"),
            F.lit(None).cast("double").alias("centroid_sim"),
        )
    assigned = VA.nearest_centroid(vectors, cents, id_col=id_col, vector_col=vector_col)
    return assigned.select(
        id_col, vector_col, "cluster_id", F.round("_sim", 9).alias("centroid_sim")
    )


def _collect_centroids(centroids: DataFrame) -> VA.Centroids:
    """The centroid table on the driver (bounded: <= n_clusters rows)."""
    cents = centroids.select("cluster_id", "centroid", "centroid_mag")
    return VA.Centroids([tuple(r) for r in cents.collect()], cents.schema["cluster_id"].dataType)


def build_ivf_index(
    vectors: DataFrame,
    path: str,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """Materialize the IVF layout: assignments written partitioned by
    ``cluster_id`` (parquet partition pruning skips unprobed clusters at
    query time), centroids written alongside for the probe step.
    Returns the centroid DataFrame (read back from the written index, so
    no cache entry outlives the build)."""
    # persist the tiny centroid frame for the build's TWO consumers:
    # without it BOTH writes re-run the full-table TakeOrdered that
    # deterministic_centroids compiles to — an extra whole-corpus scan
    # per index build.  Deliberately NOT the call_barrier convention
    # (round-12, verdict item 8): every consumer is an action INSIDE
    # this function, so try/finally releases the entry DETERMINISTICALLY
    # before returning — strictly tighter than a GC-scoped checkpoint
    # block, and the CacheManager stays empty on return
    # (test_cache_lifecycle pins it).  call_barrier exists for frames
    # whose consumers outlive the operator call; these don't.
    centroids = deterministic_centroids(vectors, n_clusters, id_col, vector_col).persist()
    try:
        assigned = assign_clusters(vectors, centroids, id_col, vector_col)
        assigned.write.mode("overwrite").partitionBy("cluster_id").parquet(
            f"{path}/vectors"
        )
        centroids.write.mode("overwrite").parquet(f"{path}/centroids")
    finally:
        centroids.unpersist()
    return vectors.sparkSession.read.parquet(f"{path}/centroids")


def _restrict_candidates(
    scan: DataFrame,
    where: str | None,
    candidates: DataFrame | None,
    id_col: str,
) -> DataFrame:
    """Filtered-ANN candidate restriction, applied to the probe-pruned
    index scan BEFORE any distance math: ``where`` is a SQL predicate
    over the stored index columns (stacks with partition pruning — a
    pushable predicate prunes row groups inside probed partitions);
    ``candidates`` is a one-column id frame semi-joined broadcast (the
    reference's S3 restrict shape).  Both bound the candidate set; the
    top-k stays exact over the survivors."""
    if where is not None:
        scan = scan.where(F.expr(where))
    if candidates is not None:
        cand_col = candidates.columns[0]
        scan = scan.join(
            F.broadcast(
                candidates.select(F.col(cand_col).alias(id_col)).distinct()
            ),
            id_col,
            "left_semi",
        )
    return scan


def append_to_ivf_index(
    spark,
    vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> None:
    """Incremental index growth — the production ingest shape: assign
    ONLY the new vectors to the EXISTING stored centroids and append
    their rows into the partitioned layout.  No rebuild, no
    re-assignment of the stored corpus; with all clusters probed the
    appended index is exactly equivalent to a full rebuild's corpus
    (test-asserted), and pruned probes keep the standard IVF recall
    contract against the frozen centroids.

    This is the standard IVF maintenance trade (FAISS ``add`` after
    ``train``): centroids slowly drift from the true cell means as the
    corpus grows; monitor recall (``ann_recall``) and re-train + rebuild
    when it degrades.  Scale shape: broadcast centroid assign over the
    DELTA only; the partitioned append touches only the delta's
    clusters' files.
    """
    centroids = spark.read.parquet(f"{path}/centroids")
    assigned = assign_clusters(vectors, centroids, id_col, vector_col)
    assigned.write.mode("append").partitionBy("cluster_id").parquet(
        f"{path}/vectors"
    )


def optimize_index(
    spark,
    path: str,
    target_file_bytes: int | None = None,
    id_col: str = "vec_id",
) -> dict:
    """Index maintenance after incremental appends: every
    ``append_to_ivf_index`` / ``append_to_ivfpq_index`` call adds one
    file set per touched ``cluster_id=`` dir, so a long-lived index's
    probe reads degrade from one file per probed partition to dozens —
    listing/open overhead the partition pruning can't save.  This folds
    the vectors table back to size-targeted files per partition dir,
    sorted by ``id_col`` WITHIN each cluster (row-group min/max pruning
    for filtered serving's ``where=`` predicates stacks on the partition
    pruning), via the crash-safe partition-preserving rewrite
    (``maintenance.compact_partitioned_table``).  Centroids, codebooks,
    and the params sidecar are untouched — OPTIMIZE changes layout only,
    never index geometry; query results are identical (test-asserted).

    The FAISS analog is rewriting the inverted lists contiguously; the
    lakehouse analog is Delta OPTIMIZE on a partitioned table.  Run it
    between serve windows the way the ingest streams' state compaction
    runs every ``compact_every`` batches.
    """
    from wpvectordb_spark.operators import maintenance as MA

    return MA.compact_partitioned_table(
        spark,
        f"{path}/vectors",
        target_file_bytes=target_file_bytes or MA.DEFAULT_TARGET_FILE_BYTES,
        sort_by=[id_col],
    )


def ivf_topk_from_index(
    spark,
    path: str,
    query_vector: list[float],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """Query a persisted IVF index: rank stored centroids, push a
    ``cluster_id IN (probed)`` filter that prunes parquet partitions, and
    rerank only the probed clusters' vectors."""
    centroids = spark.read.parquet(f"{path}/centroids")
    from wpvectordb_spark.operators.search import _magnitude as _mag_fn
    q_mag_val = _mag_fn(query_vector)
    q_vec = F.array(*[F.lit(float(x)) for x in query_vector])
    probe = [
        r["cluster_id"]
        for r in centroids.withColumn(
            "_qsim",
            K.cosine_similarity(q_vec, F.col("centroid"), F.lit(q_mag_val), F.col("centroid_mag")),
        )
        .orderBy(F.col("_qsim").desc(), F.col("cluster_id").asc())
        .limit(n_probe)
        .collect()
    ]
    clustered = spark.read.parquet(f"{path}/vectors").where(
        F.col("cluster_id").isin(probe)  # literal IN -> partition pruning
    )
    cos = K.cosine_similarity(q_vec, F.col(vector_col), F.lit(q_mag_val), None)
    ranked = (
        clustered.select(id_col, "cluster_id", cos.alias("_cos"))
        .orderBy(F.col("_cos").desc(), F.col(id_col).asc())
        .limit(k)
    )
    return ranked.select(id_col, "cluster_id", F.round("_cos", 9).alias("cosine_similarity"))


def ivf_topk(
    vectors: DataFrame,
    query_vector: list[float],
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    centroids: DataFrame | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF query: rank centroids by query similarity, keep vectors in the
    ``n_probe`` best clusters, exact cosine top-k within them.

    ``centroids`` may be pretrained (kmeans_centroids) — defaults to the
    deterministic oracle-reproducible selection.  On a partitioned-by-
    cluster table the cluster filter becomes parquet partition pruning;
    here it is a semi-join against the probed ids.

    ``assigned`` may be a precomputed ``assign_clusters`` result (or a
    persisted/bucketed assignment table): WITHOUT it every query re-runs
    the full-corpus nearest-centroid assignment — n_clusters cosine
    folds per corpus vector, which is MORE per-vector work than the
    brute-force scan this index exists to beat.  The default suits the
    one-shot oracle path only; any repeated-query use should share one
    assignment (``ivf_topk_from_index`` is the persisted form of the
    same idea).
    """
    if centroids is None:
        centroids = deterministic_centroids(vectors, n_clusters, id_col, vector_col)
    q_vec = F.array(*[F.lit(float(x)) for x in query_vector])
    from wpvectordb_spark.operators.search import _magnitude as _mag_fn
    q_mag_val = _mag_fn(query_vector)
    probe = (
        centroids.withColumn(
            "_qsim",
            K.cosine_similarity(q_vec, F.col("centroid"), F.lit(q_mag_val), F.col("centroid_mag")),
        )
        .orderBy(F.col("_qsim").desc(), F.col("cluster_id").asc())
        .limit(n_probe)
        .select("cluster_id")
    )
    if assigned is None:
        assigned = assign_clusters(vectors, centroids, id_col, vector_col)
    in_probed = assigned.join(F.broadcast(probe), "cluster_id", "left_semi")
    cos = K.cosine_similarity(q_vec, F.col(vector_col), F.lit(q_mag_val), None)
    ranked = (
        in_probed.select(id_col, "cluster_id", cos.alias("_cos"))
        .orderBy(F.col("_cos").desc(), F.col(id_col).asc())
        .limit(k)
    )
    return ranked.select(
        id_col, "cluster_id", F.round("_cos", 9).alias("cosine_similarity")
    )


def ivf_topk_many(
    spark,
    queries: DataFrame,
    path: str | None = None,
    k: int = 10,
    n_probe: int = 4,
    assigned: DataFrame | None = None,
    centroids: DataFrame | None = None,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vector",
    expected_dim: int | None = None,
    where: str | None = None,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Batched IVF: a DataFrame of query vectors served by ONE scan
    against the persisted (or precomputed) index — the 100x serving
    shape.  ``ivf_topk_from_index`` runs one driver round-trip per query
    (rank centroids, collect the probe list, read, rank); a query BATCH
    through that loop re-reads and re-plans per vector.  Here:

    1. probe ranking — the query batch and the centroid table (tiny by
       construction) are collected on the driver, and each query's
       ``n_probe`` best clusters by ``(sim DESC, cluster_id)`` are ranked
       there with the scan kernel's own fold;
    2. partition pruning — the union of probed cluster ids (<=
       n_clusters values) becomes a literal ``IN`` filter, so the
       partitioned-by-cluster_id parquet read skips every cluster no
       query probes;
    3. scoring — ONE ``mapInArrow`` pass (``functions.vector_arrow``)
       scores each row against only the queries probing its cluster and
       keeps each batch's top k per query;
    4. per-query top-k — one exchange on ``query_id`` carries <= k x
       #batches narrow rows per query into one rank window.

    ``path`` reads the ``build_ivf_index`` layout; alternatively pass
    in-memory ``assigned`` (an ``assign_clusters`` result — reusable
    across calls) + ``centroids`` frames.  Per-query results equal
    ``ivf_topk_from_index`` on the same index (test-asserted).  Pass
    ``expected_dim`` (the index's vector length) to make a mismatched
    query raise ``ValueError`` at call time — search_many's contract;
    without it a mismatched query scores NULL cosines,
    garbage-in-garbage-out, and dimension guards live at the facade
    layer (table._check_length).  NULL query vectors are dropped up
    front either way (same contract as search_many).

    ``where=`` / ``candidates=`` restrict the candidate set for the
    WHOLE batch before any distance math (``_restrict_candidates`` —
    the filtered-ANN shape shared with ivfpq_topk)."""
    from pyspark.sql import Window

    if path is not None:
        centroids = spark.read.parquet(f"{path}/centroids")
    elif assigned is None or centroids is None:
        raise ValueError("ivf_topk_many: pass path= or assigned= + centroids=")
    batch = VA.QueryBatch.collect(
        queries, query_id_col, query_vec_col, expected_dim, "ivf_topk_many", "index"
    )
    cents = _collect_centroids(centroids)
    order = cents.ranked(batch.rows, len(batch))[0]
    # each query's n_probe nearest clusters, ranked on the driver
    probes = [cents.ids.take(order[:n_probe, i]).to_pylist() for i in range(len(batch))]
    probe_ids = sorted({c for p in probes for c in p})
    if path is not None:
        clustered = spark.read.parquet(f"{path}/vectors").where(
            F.col("cluster_id").isin(probe_ids)  # literal IN -> partition pruning
        )
    else:
        clustered = assigned.where(F.col("cluster_id").isin(probe_ids))
    clustered = _restrict_candidates(clustered, where, candidates, id_col)
    scored = VA.scan_topk(
        clustered,
        batch,
        k,
        id_col=id_col,
        vector_col=vector_col,
        carry=("cluster_id",),
        query_id_col=query_id_col,
        probe_col="cluster_id",
        probes=probes,
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_similarity").desc_nulls_last(), F.col(id_col).asc()
    )
    out = (
        scored.withColumn("_crank", F.row_number().over(w))
        .where(F.col("_crank") <= k)
        .select(
            query_id_col,
            id_col,
            "cluster_id",
            F.col("_crank").alias("rank"),
            F.round("cosine_similarity", 9).alias("cosine_similarity"),
        )
    )
    # an empty batch: LIMIT 0 plans as an empty local relation, no job
    return out if len(batch) else out.limit(0)


# --- LSH-bucketed ANN (sign-code band buckets) -------------------------------

BAND_SHIFT = 1 << 32  # band-id tag stays clear of the 16-bit chunk value


def band_keys(
    vector_col,
    word_bits: int = 32,
    band_bits: int = 16,
    code: F.Column | None = None,
    dims: int | None = None,
) -> F.Column:
    """LSH band keys of a vector's sign code: each ``band_bits`` slice of
    the packed sign bits, tagged with its band index (``band_idx * 2^32 +
    chunk``).  Two vectors share a key iff they agree on all sign bits of
    that band — the classic bit-sampling LSH family for Hamming space.

    At 100 TB this column is the bucket/partition key: write the table
    bucketed by an exploded band key and a query touches only the
    ``n_bands`` matching buckets instead of the full scan.  Smaller bands
    -> more candidates / higher recall (the b,r tradeoff of banded LSH).
    ``band_bits`` must divide ``word_bits``.

    ``dims``: pass the vector length whenever it is not a multiple of
    ``word_bits``.  sign_code packs the tail word's bits into its LOW
    bits, so the bands slicing that word's empty TOP bits come out 0 for
    EVERY vector and every query — shared constant keys that make the
    ``arrays_overlap`` prune vacuously true (measured: a dims=40 /
    band_bits=8 table matched 200/200 candidates vs 11/200 at dims=64 —
    the prune silently became a full scan).  With ``dims`` those
    all-empty tail bands are dropped (a band that still covers >= 1 real
    bit keeps discriminating and is kept); dims %% word_bits == 0 is a
    no-op, and the default (None) preserves the raw slicing for callers
    that bucket on externally-defined keys.
    """
    if word_bits % band_bits != 0:
        raise ValueError("band_bits must divide word_bits")
    n_sub = word_bits // band_bits
    chunk_mask = (1 << band_bits) - 1
    if code is None:
        code = K.sign_code(vector_col, word_bits)
    keys = F.flatten(
        F.transform(
            code,
            lambda w, i: F.array(
                *[
                    (i.cast("long") * n_sub + j) * F.lit(BAND_SHIFT)
                    + F.shiftright(w, word_bits - band_bits * (j + 1)).bitwiseAND(
                        F.lit(chunk_mask)
                    )
                    for j in range(n_sub)
                ]
            ),
        )
    )
    dead = _dead_tail_band_keys(dims, word_bits, band_bits)
    if dead:
        # all-empty tail bands carry chunk 0 always, so their key VALUES
        # are fixed constants — a simple not-in filter removes them (no
        # live band can produce these values: its band index differs)
        keys = F.filter(
            keys, lambda kcol: ~kcol.isin(*[F.lit(d) for d in dead])
        )
    return keys


def _dead_tail_band_keys(
    dims: int | None, word_bits: int, band_bits: int
) -> list[int]:
    """Key values of the bands that cover ONLY unpopulated tail-word
    bits (constant 0 chunk for every vector) — [] when dims is None or a
    multiple of word_bits."""
    if not dims or dims % word_bits == 0:
        return []
    n_sub = word_bits // band_bits
    rem = dims % word_bits
    last = (dims + word_bits - 1) // word_bits - 1
    n_empty = (word_bits - rem) // band_bits
    return [(last * n_sub + j) * BAND_SHIFT for j in range(n_empty)]


def sql_band_keys(code: str, word_bits: int = 32, band_bits: int = 16) -> str:
    """DuckDB mirror of ``band_keys`` over a packed sign-code list expr."""
    if word_bits % band_bits != 0:
        raise ValueError("band_bits must divide word_bits")  # as band_keys
    n_sub = word_bits // band_bits
    chunks = ", ".join(
        f"CAST({n_sub} * (i - 1) + {j} AS BIGINT) * {BAND_SHIFT}"
        f" + (({code}[i] // {1 << (word_bits - band_bits * (j + 1))}) % {1 << band_bits})"
        for j in range(n_sub)
    )
    return f"flatten(list_transform(range(1, len({code}) + 1), i -> [{chunks}]))"


def band_keys_py(
    code_words: list[int], word_bits: int = 32, band_bits: int = 16,
    dims: int | None = None,
) -> list[int]:
    """Driver-side band keys of a literal query vector's packed code
    (mirrors ``band_keys`` exactly, dead-tail-band pruning included)."""
    n_sub = word_bits // band_bits
    chunk_mask = (1 << band_bits) - 1
    dead = set(_dead_tail_band_keys(dims, word_bits, band_bits))
    keys = []
    for i, w in enumerate(code_words):
        for j in range(n_sub):
            chunk = (w >> (word_bits - band_bits * (j + 1))) & chunk_mask
            key = (i * n_sub + j) * BAND_SHIFT + chunk
            if key not in dead:
                keys.append(key)
    return keys


def _multiprobe_keys(
    qkeys: list[int], band_bits: int, n_flip: int
) -> list[int]:
    """Multi-probe LSH (Lv et al., "Multi-Probe LSH", VLDB 2007): the
    query's band keys plus every key reachable by flipping up to
    ``n_flip`` bits of a band's chunk — probing the NEIGHBOR buckets a
    near-duplicate falls into when it disagrees with the query on a few
    sign bits in every band.  Same recall lever as adding hash tables,
    without storing any: the key set grows by a factor of
    sum(C(band_bits, r) for r <= n_flip) per band (e.g. x9 at
    band_bits=8, n_flip=1) but stays a LITERAL predicate — constant
    plan data, still zero-shuffle, still pushable to a bucketed layout.
    Perturbed bits that land in a dimension-padding position simply
    match nothing (every stored chunk has 0 there)."""
    from itertools import combinations

    out = set(qkeys)
    for key in qkeys:
        band, chunk = divmod(key, BAND_SHIFT)
        for r in range(1, n_flip + 1):
            for bits in combinations(range(band_bits), r):
                p = chunk
                for b in bits:
                    p ^= 1 << b
                out.add(band * BAND_SHIFT + p)
    return sorted(out)


def lsh_topk(
    vectors: DataFrame,
    query_vector: list[float],
    k: int = 10,
    band_bits: int = 8,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    code_col: str | None = None,
    n_flip: int = 0,
) -> DataFrame:
    """LSH-bucketed ANN: candidates are vectors sharing >= 1 sign-code
    band with the query (``arrays_overlap`` against a literal key set —
    a narrow scan, no shuffle, no index build), then exact cosine top-k.

    The scale path alternative to IVF: no training step, and candidate
    generation is pure predicate (pushable to a bucketed layout), at the
    cost of recall on vectors that differ in every band.  Pass
    ``code_col`` when the table already stores packed sign codes (the
    main search table's ``binary_code``) — otherwise every query re-runs
    the O(d) packing fold over the whole scan.

    ``n_flip`` > 0 enables MULTI-PROBE (``_multiprobe_keys``): neighbor
    buckets within ``n_flip`` sign-bit flips per band are probed too —
    the candidate set only grows, so recall is monotone in ``n_flip``
    (test-asserted with the measured gain), at the cost of a larger
    literal key set and more candidates reaching the exact rerank."""
    from wpvectordb_spark.operators.search import _magnitude, _pack_code
    from wpvectordb_spark.schemas import CODE_WORD_BITS

    # CODE_WORD_BITS (not a literal 32): the stored binary_code accepted
    # via code_col is packed with this constant — a hardcoded width here
    # would silently misalign the slicing if the packing ever changed.
    # dims= drops the all-empty tail bands of a non-multiple-of-32
    # dimension (see band_keys) — without it the prune is vacuous.
    wb = CODE_WORD_BITS
    d = len(query_vector)
    qkeys = band_keys_py(_pack_code(query_vector, wb), wb, band_bits, dims=d)
    if n_flip:
        qkeys = _multiprobe_keys(qkeys, band_bits, n_flip)
    q_vec = F.array(*[F.lit(float(x)) for x in query_vector])
    q_mag = _magnitude(query_vector)
    stored = F.col(code_col) if code_col else None
    cand = vectors.where(
        F.arrays_overlap(
            band_keys(vector_col, wb, band_bits, code=stored, dims=d),
            F.array(*[F.lit(int(x)) for x in qkeys]),
        )
    )
    cos = K.cosine_similarity(q_vec, F.col(vector_col), F.lit(q_mag), None)
    return (
        cand.select(id_col, cos.alias("_cos"))
        .orderBy(F.col("_cos").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, F.round("_cos", 9).alias("cosine_similarity"))
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — Jegou, Douze & Schmid, "Product Quantization
# for Nearest Neighbor Search", IEEE TPAMI 2011.
# ---------------------------------------------------------------------------
#
# The third leg of the ANN scale story (after IVF partition pruning and the
# LSH band predicate): compress each d-dim float vector to m small codes —
# one byte per subspace at n_codes <= 256 — and rank candidates with
# asymmetric distance computation (ADC) over the codes alone.  At 100 TB
# the scan table stores only ``(id, codes)``: m bytes/vector instead of
# 4d (a 32x shrink at d=64, m=8), and the float vectors live in a separate
# re-fetch table touched only for the top candidates — the same
# scan-then-rerank funnel as the reference's Hamming stage
# (VectorTable.php:214-260) and ``quantized_topk`` above.
#
# Codebook selection is deterministic (sub-vectors of the first ``n_codes``
# vectors by id, mirroring ``deterministic_centroids``) so results are
# oracle-reproducible; production would run per-subspace k-means — the
# encode/query plans are identical either way.


def _spark_l2_sq(a: str, b: str) -> str:
    """Spark-SQL squared L2 distance between two array expressions, both
    cast to double element-wise before subtracting (float32 inputs must
    widen BEFORE the arithmetic so the fold is bit-identical to the
    DuckDB oracle's CAST-then-subtract form).  Left fold from 0.0 — see
    kernels.py parity rules.

    Emitted as SQL TEXT, not composed Columns: the PQ expressions build
    m * n_codes of these folds, and each Python-lambda HOF costs several
    py4j round-trips — composing them as Column objects measured ~7.5 s
    of pure driver time per pq_topk call vs ~0.2 s for one F.expr parse
    of the same tree."""
    return (
        f"aggregate(zip_with({a}, {b},"
        " (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
        " * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),"
        " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def sql_l2_sq(a: str, b: str) -> str:
    """DuckDB mirror of ``_spark_l2_sq`` (same cast-then-fold order)."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform("
        f"list_zip({a}, {b}),"
        " p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
        " * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))), (acc, x) -> acc + x)"
    )


def _sql_double(w: float) -> str:
    """Exact Spark-SQL double literal: repr round-trips the IEEE value,
    the ``D`` suffix keeps the parser from minting a DECIMAL."""
    r = repr(float(w))
    if "inf" in r or "nan" in r:
        raise ValueError(f"pq: non-finite codebook/query value {r}")
    return f"{r}D"


def _sql_double_array(word) -> str:
    return "array(" + ", ".join(_sql_double(w) for w in word) + ")"


def pq_codebooks(
    vectors: DataFrame,
    dim: int,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """Deterministic PQ codebooks: the ``dim/m``-wide sub-vectors of the
    first ``n_codes`` vectors by id, one codebook per subspace.  Returns
    ``(subspace, code_id, codeword)`` where ``code_id`` is the POSITION
    (0-based, in id order) — positional ids are the PQ storage contract
    (a code must fit a byte at n_codes <= 256), unlike IVF's
    ``deterministic_centroids`` which reuses the source vector id.

    ``dim`` is required explicitly — no eager one-row probe (a ragged
    table would make a sampled dim nondeterministic; see search_many's
    ``expected_dim``).  Rows whose vector is NULL or not ``dim`` long
    are excluded from codebook duty in-plan."""
    if dim % m != 0:
        raise ValueError(f"pq: dim {dim} not divisible by m {m}")
    from pyspark.sql import Window

    sub = dim // m
    base = (
        vectors.where(
            F.col(vector_col).isNotNull() & (F.size(vector_col) == dim)
        )
        .orderBy(F.col(id_col).asc())
        .limit(n_codes)
        # bounded(<=n_codes): row_number over the limit(n_codes) frame —
        # single-partition window on a tiny input, never the full table
        .withColumn(
            "code_id",
            F.row_number().over(Window.orderBy(F.col(id_col).asc())) - 1,
        )
    )
    return base.select(
        F.col("code_id"),
        F.posexplode(
            F.array(
                *[F.slice(F.col(vector_col), j * sub + 1, sub) for j in range(m)]
            )
        ).alias("subspace", "codeword"),
    ).select("subspace", "code_id", "codeword")


def pq_codebooks_kmeans(
    vectors: DataFrame,
    dim: int,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
    sample_fraction: float | None = None,
) -> DataFrame:
    """TRAINED PQ codebooks — the FAISS ``ProductQuantizer.train``
    analog: one pyspark.ml KMeans per subspace over the corpus's
    ``dim/m``-wide sub-vectors, so each codebook sits at the centroids
    of its subspace's actual distribution instead of on ``n_codes``
    arbitrary early rows (``pq_codebooks``, the oracle-reproducible
    default).

    Returns the SAME ``(subspace, code_id, codeword array<float>)``
    contract as ``pq_codebooks`` — encode (``_pq_code_cols``), serving
    (``pq_topk``/``*_many``), and index builds
    (``build_ivfpq_index(codebooks=)``) consume it unchanged;
    ``code_id`` is the KMeans center ordinal.  Iterative and
    implementation-defined, so NOT oracle-checkable — covered by recall
    tests (the same adjudication as ``kmeans_centroids``).

    Scale shape: training needs a representative SAMPLE, not the corpus
    (FAISS guidance is tens-of-thousands of points per codebook) —
    pass ``sample_fraction`` at real scale; the sampled frame persists
    once and feeds all ``m`` sequential fits (k = n_codes each, on
    sub-width points); the driver holds m x n_codes x dim/m floats.
    For ``build_ivfpq_index(residual=True)`` train on residuals: pass
    the ``_with_residual`` frame's ``_res`` column as ``vector_col``.
    """
    if dim % m != 0:
        raise ValueError(f"pq: dim {dim} not divisible by m {m}")
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    sub = dim // m
    base = vectors.where(
        F.col(vector_col).isNotNull() & (F.size(vector_col) == dim)
    ).select(vector_col)
    if sample_fraction is not None:
        base = base.sample(fraction=float(sample_fraction), seed=seed)
    base = base.persist()
    try:
        # bounded eligibility probe (n_codes + 1 rows max, never a full
        # count): KMeans with k > |points| would fail mid-fit instead
        if base.limit(n_codes).count() < n_codes:
            raise ValueError(
                f"pq_codebooks_kmeans: fewer than n_codes={n_codes} "
                f"eligible vectors (dim={dim}, after sampling)"
            )
        rows = []
        for j in range(m):
            feat = base.select(
                array_to_vector(
                    F.slice(F.col(vector_col), j * sub + 1, sub).cast(
                        "array<double>"
                    )
                ).alias("features")
            )
            model = KMeans(k=n_codes, seed=seed + j, maxIter=max_iter).fit(feat)
            centers = [[float(x) for x in c] for c in model.clusterCenters()]
            # a subspace with fewer than n_codes distinct sub-vectors
            # (constant / zero-padded dimensions) yields fewer centers —
            # pad by repeating the last so the codebook stays rectangular
            # (the collect step refuses ragged books); duplicate
            # codewords are harmless: the encode's first-min argmin
            # always picks the lowest code id
            while len(centers) < n_codes:
                centers.append(list(centers[-1]))
            for c, center in enumerate(centers):
                rows.append((j, c, center))
    finally:
        base.unpersist()
    return vectors.sparkSession.createDataFrame(
        rows, "subspace int, code_id int, codeword array<float>"
    )


def _check_codeword_widths(
    cb: list[list[list[float]]], sub: int, where: str
) -> None:
    """Geometry guard for SUPPLIED codebooks: a codebook trained at a
    different dim/m has the wrong codeword width, and the downstream
    zip-based L2 folds would NULL-pad into garbage distances (or write a
    corrupted index) instead of failing — refuse with the geometry
    named."""
    for j, book in enumerate(cb):
        for w in book:
            if len(w) != sub:
                raise ValueError(
                    f"{where}: subspace {j} codeword width {len(w)} != "
                    f"dim/m = {sub} — codebooks trained at a different "
                    "geometry"
                )


def _collect_codebooks(
    codebooks: DataFrame, m: int, sub: int | None = None
) -> list[list[list[float]]]:
    """Materialize the codebook frame driver-side — bounded at
    m * n_codes rows (the IVF centroid-collect class, never data-sized).
    Returns ``cb[j][c] = codeword`` with c in code_id order.  Pass
    ``sub`` (= dim/m) to also validate codeword widths."""
    rows = codebooks.collect()
    cb: list[dict[int, list[float]]] = [dict() for _ in range(m)]
    for r in rows:
        j, c = int(r["subspace"]), int(r["code_id"])
        if j >= m:
            raise ValueError(f"pq: codebook subspace {j} >= m {m}")
        cb[j][c] = [float(x) for x in r["codeword"]]
    out = []
    for j in range(m):
        ids = sorted(cb[j])
        if ids != list(range(len(ids))):
            raise ValueError(f"pq: subspace {j} code_ids not contiguous: {ids}")
        out.append([cb[j][c] for c in ids])
    if any(len(b) != len(out[0]) for b in out):
        raise ValueError("pq: ragged codebook (subspaces differ in n_codes)")
    if not out[0]:
        raise ValueError("pq: empty codebook (no eligible vectors)")
    if sub is not None:
        _check_codeword_widths(out, sub, "pq")
    return out


def _pq_code_cols(
    vector_col: str, cb: list[list[list[float]]], sub: int
) -> list["F.Column"]:
    """Per-row encode, one column per subspace: distances to every
    codeword as an in-plan literal-array fold, argmin via
    ``array_position(dists, array_min(dists)) - 1`` — first-minimum
    semantics, i.e. ties break to the SMALLEST code id (the oracle's
    (dist, code_id) ordering).  Pure projection: no explode, no join, no
    shuffle — at 100 TB the encode rides inside the scan stage.  Built
    as one F.expr per subspace (see _spark_l2_sq on why not Columns)."""
    cols = []
    for j, book in enumerate(cb):
        sl = f"slice(`{vector_col}`, {j * sub + 1}, {sub})"
        dists = (
            "array("
            + ", ".join(_spark_l2_sq(sl, _sql_double_array(word)) for word in book)
            + ")"
        )
        cols.append(
            F.expr(f"array_position({dists}, array_min({dists})) - 1").alias(
                f"_c{j}"
            )
        )
    return cols


def pq_encode(
    vectors: DataFrame,
    codebooks: DataFrame,
    dim: int,
    m: int = 8,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """PQ storage artifact: ``(id, codes array<bigint>)`` with ``codes[j]``
    = nearest codeword position for subspace j.  This is the table a
    100 TB deployment scans — m byte-sized entries/vector instead of the
    float payload (32x smaller at d=64, m=8).

    Zero-shuffle: the codebook (bounded m * n_codes rows) is collected
    and inlined as literal arrays, so the encode is a single projection
    over the vector scan.  NULL / ragged vectors are excluded in-plan."""
    if dim % m != 0:
        raise ValueError(f"pq: dim {dim} not divisible by m {m}")
    cb = _collect_codebooks(codebooks, m, dim // m)
    return _pq_encode_from_cb(vectors, cb, dim, m, id_col, vector_col)


def _pq_encode_from_cb(
    vectors: DataFrame,
    cb: list[list[list[float]]],
    dim: int,
    m: int,
    id_col: str,
    vector_col: str,
) -> DataFrame:
    eligible = vectors.where(
        F.col(vector_col).isNotNull() & (F.size(vector_col) == dim)
    )
    code_cols = _pq_code_cols(vector_col, cb, dim // m)
    return eligible.select(F.col(id_col), *code_cols).select(
        F.col(id_col),
        F.array(*[F.col(f"_c{j}") for j in range(m)]).alias("codes"),
    )


def _pq_adc_expr(cb: list[list[list[float]]], q: list[float], sub: int) -> str:
    """ADC distance as SQL text over a ``codes`` column: the query's
    per-subspace distance tables qd[j][c] = l2sq(q_j, codeword_jc) are
    computed driver-side in Python with the SAME left fold order as the
    SQL form — sub/mul/add on IEEE binary64 are bit-identical across
    Python, the JVM, and DuckDB, so embedding the results as double
    literals (instead of m * n_codes constant-foldable fold expressions)
    only shrinks the plan, never the parity.  The m lookups are summed
    as a fixed-order left chain j = 0..m-1, matching the oracle's
    CASE-chain."""
    terms = []
    for j, book in enumerate(cb):
        q_j = q[j * sub : (j + 1) * sub]
        qd_j = []
        for word in book:
            acc = 0.0
            for x, y in zip(q_j, word):
                acc = acc + (x - y) * (x - y)
            qd_j.append(acc)
        terms.append(
            f"element_at({_sql_double_array(qd_j)},"
            f" CAST(codes[{j}] + 1 AS INT))"
        )
    return " + ".join(terms)


def pq_topk(
    vectors: DataFrame,
    query_vector: list[float],
    dim: int,
    m: int = 8,
    n_codes: int = 16,
    n: int = 10,
    candidate_factor: int = 4,
    codebooks: "DataFrame | list | None" = None,
    encoded: DataFrame | None = None,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    round_to: int | None = 9,
) -> DataFrame:
    """Two-stage PQ top-k: ADC scan over the codes, keep
    ``candidate_factor * n`` survivors, rerank with exact float cosine.

    The ADC stage is a ZERO-SHUFFLE projection + one
    TakeOrderedAndProject merge: the query-to-codeword distance table
    (m x n_codes doubles) is precomputed driver-side with oracle-identical
    fold order and embedded as literals, and each vector's approximate
    distance is the FIXED-ORDER chain
    ``qd_0[codes[0]] + ... + qd_{m-1}[codes[m-1]]`` (element_at
    lookups), never a hash-agg whose addition order could drift.  The
    rerank re-fetches float vectors for only the survivor set via a
    broadcast join, so the scan side never carries the float payload.

    Pass ``encoded`` (a ``pq_encode`` output, the stored codes table) to
    serve from precomputed codes — the production path; without it the
    codes are derived in the same projection (still zero-shuffle).
    ``codebooks`` accepts the DataFrame form or an already-collected
    ``_collect_codebooks`` list (repeated serving calls skip the
    per-call codebook job).  Vectors with NULL ADC distance (NULL codes)
    sort LAST, never into the survivor set."""
    q = [float(x) for x in query_vector]
    if len(q) != dim:
        raise ValueError(f"pq_topk: query has {len(q)} dims, expected {dim}")
    if any(x != x for x in q):
        raise ValueError("pq_topk: query_vector contains NaN")
    if dim % m != 0:
        raise ValueError(f"pq: dim {dim} not divisible by m {m}")
    sub = dim // m
    if codebooks is None:
        codebooks = pq_codebooks(vectors, dim, m, n_codes, id_col, vector_col)
    cb = codebooks if isinstance(codebooks, list) else _collect_codebooks(codebooks, m)
    if len(cb) != m:
        raise ValueError(f"pq_topk: collected codebook has {len(cb)} subspaces, expected {m}")
    _check_codeword_widths(cb, sub, "pq_topk")
    if encoded is None:
        encoded = _pq_encode_from_cb(vectors, cb, dim, m, id_col, vector_col)
    adc = F.expr(_pq_adc_expr(cb, q, sub))
    survivors = (
        encoded.select(F.col(id_col), adc.alias("_adc"))
        .orderBy(F.col("_adc").asc_nulls_last(), F.col(id_col).asc())
        .limit(candidate_factor * n)
    )
    from wpvectordb_spark.operators.search import _magnitude

    q_lit = F.array(*[F.lit(x) for x in q])
    refetch = vectors.join(F.broadcast(survivors.select(id_col)), id_col)
    exact = K.cosine_similarity(q_lit, F.col(vector_col), F.lit(_magnitude(q)), None)
    out = refetch.select(
        F.col(id_col),
        (F.round(exact, round_to) if round_to is not None else exact).alias(
            "cosine_similarity"
        ),
        exact.alias("_raw"),
    )
    return (
        out.orderBy(F.col("_raw").desc(), F.col(id_col).asc())
        .limit(n)
        .drop("_raw")
    )


def _pq_qd_tables(
    cb: list[list[list[float]]],
    qvecs: list[list[float]],
    sub: int,
) -> list[list[list[float]]]:
    """Per-TARGET ADC distance tables ``qd[t][j][code]`` folded
    driver-side in the same left-fold order as the engine/oracle kernels
    (IEEE binary64 sub/mul/add are bit-identical across Python, the JVM,
    and DuckDB) — the ONE place the batched serving arithmetic lives,
    whether the tables are then embedded as literals
    (:func:`_pq_qd2d_terms`) or shipped as broadcast-join DATA
    (:func:`_qd_data_terms` callers).  Non-finite distances are refused
    exactly like the literal path's ``_sql_double`` would refuse them."""
    tables: list[list[list[float]]] = []
    for v in qvecs:
        per_sub = []
        for j, book in enumerate(cb):
            q_j = v[j * sub : (j + 1) * sub]
            row = []
            for word in book:
                acc = 0.0
                for x, y in zip(q_j, word):
                    acc = acc + (x - y) * (x - y)
                row.append(acc)
                if acc != acc or acc in (float("inf"), float("-inf")):
                    raise ValueError(
                        f"pq: non-finite codebook/query value {acc!r}"
                    )
            per_sub.append(row)
        tables.append(per_sub)
    return tables


def _pq_qd2d_terms(
    cb: list[list[list[float]]],
    qvecs: list[list[float]],
    sub: int,
    ord_col: str = "_qidx",
) -> list[str]:
    """Per-subspace ADC lookup terms over 2-D CONSTANT distance tables
    ``qd2d[j][qidx][code]``: the whole batch's ADC is m nested
    ``element_at`` lookups on constant nested arrays — generated code
    size is CONSTANT in |queries| (each table is one constant-pool
    reference), only the folded literal DATA grows.  The per-query
    expression-chain form (one named_struct per query) was falsified at
    scale: Janino blew its 64KB method limit at ~200 queries
    (interpreted fallback) and OOM'd the driver heap compiling ~500 —
    see PERFORMANCE.md item 38.  Kept for the SINGLE-query serving paths
    (one m x n_codes table, a tiny literal); the BATCHED paths ship the
    same tables as broadcast-join data instead (round 12: parsing and
    analyzing |batch| x m x n_codes literal doubles cost more driver
    time per plan than the whole scan).  The emitted terms reference
    columns ``ord_col`` (the joined/exploded ordinal of the TARGET
    vector — a query for flat PQ, a (query, probed-cluster) residual
    pair for residual IVFPQ) and ``codes`` (the stored PQ code array)."""
    tables = _pq_qd_tables(cb, qvecs, sub)
    terms = []
    for j in range(len(cb)):
        qd2d = (
            "array("
            + ", ".join(_sql_double_array(t[j]) for t in tables)
            + ")"
        )
        terms.append(
            f"element_at(element_at({qd2d}, {ord_col} + 1),"
            f" CAST(codes[{j}] + 1 AS INT))"
        )
    return terms


def _qd_data_terms(m: int, qd_col: str = "_qd") -> list[str]:
    """ADC lookup terms over a per-row DATA column ``qd_col[j][code]``
    (the broadcast-join form of the tables ``_pq_qd_tables`` builds):
    same m-term fixed-order ``element_at`` chain as the literal form,
    reading the joined row's own table instead of a constant — plan size
    and analysis cost are CONSTANT in |queries| (guide §3.1: broadcast
    the small side as data, don't rebuild a wide literal plan)."""
    return [
        f"element_at(element_at({qd_col}, {j + 1}),"
        f" CAST(codes[{j}] + 1 AS INT))"
        for j in range(m)
    ]


def _collect_query_batch(
    queries: DataFrame,
    dim: int,
    query_id_col: str,
    query_vec_col: str,
    fn: str,
) -> list[tuple]:
    """Collect a bounded serving batch of query vectors driver-side
    (the PQ batched-serving contract: literal distance tables need the
    raw vectors on the driver).  NULL query vectors are dropped
    (search_many contract); mis-dimensioned or NaN queries raise."""
    qs = []
    for r in queries.select(query_id_col, query_vec_col).collect():
        v = r[query_vec_col]
        if v is None:
            continue
        v = [float(x) for x in v]
        if len(v) != dim:
            raise ValueError(
                f"{fn}: query {r[query_id_col]!r} has {len(v)} dims,"
                f" expected {dim}"
            )
        if any(x != x for x in v):
            raise ValueError(f"{fn}: query {r[query_id_col]!r} contains NaN")
        qs.append((r[query_id_col], v))
    return qs


def pq_topk_many(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    m: int = 8,
    n_codes: int = 16,
    n: int = 10,
    candidate_factor: int = 4,
    codebooks: "DataFrame | list | None" = None,
    encoded: DataFrame | None = None,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vector",
    round_to: int | None = 9,
) -> DataFrame:
    """Batched PQ serving: a DataFrame of query vectors against the
    stored codes table in ONE zero-shuffle-scan plan (the ivf_topk_many
    counterpart for the PQ index).  Per query the result equals
    ``pq_topk`` exactly (test-asserted).

    The query batch is COLLECTED driver-side — a deliberate contract
    difference from ivf_topk_many: PQ's whole serving trick is that the
    batch's distance tables are tiny and literal, so the ADC scan needs
    no join at all.  A serving batch is bounded by construction (it
    arrives from a request, not a table); for table-sized query sets,
    loop batches or use brute force.

    Plan shape: ONE pass over the codes table explodes a query INDEX
    (0..|batch|-1) per vector and computes every query's ADC distance
    with m nested lookups into per-subspace 2-D CONSTANT distance
    tables — generated code is constant-size in |queries| (the
    per-query expression-chain form blew Janino's method limit at ~200
    queries and the driver heap at ~500; PERFORMANCE.md item 38) —
    then the search_many window pattern: local per-(query,
    scan-partition) pre-top-k bounds the global rank exchange at
    4n x #partitions rows per query, and one broadcast re-fetch joins
    the float vectors for the union of survivor sets, reranked by exact
    cosine per query.  NULL query vectors are dropped up front
    (search_many contract); NaN or mis-dimensioned queries raise."""
    from pyspark.sql import Window
    from pyspark.sql import types as T

    if dim % m != 0:
        raise ValueError(f"pq: dim {dim} not divisible by m {m}")
    sub = dim // m
    spark = vectors.sparkSession
    qs = _collect_query_batch(
        queries, dim, query_id_col, query_vec_col, "pq_topk_many"
    )
    qid_type = queries.schema[query_id_col].dataType
    if not qs:
        return spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField(query_id_col, qid_type),
                    T.StructField(id_col, vectors.schema[id_col].dataType),
                    T.StructField("cosine_similarity", T.DoubleType()),
                ]
            ),
        )
    if codebooks is None:
        codebooks = pq_codebooks(vectors, dim, m, n_codes, id_col, vector_col)
    cb = codebooks if isinstance(codebooks, list) else _collect_codebooks(codebooks, m)
    if len(cb) != m:
        raise ValueError(
            f"pq_topk_many: collected codebook has {len(cb)} subspaces, expected {m}"
        )
    _check_codeword_widths(cb, dim // m, "pq_topk_many")
    if encoded is None:
        encoded = _pq_encode_from_cb(vectors, cb, dim, m, id_col, vector_col)
    # ADC tables ride a broadcast CROSS join as DATA (one _qd row per
    # query) instead of |batch| x m x n_codes folded literals: the
    # literal form cost more driver time PARSING/analyzing the constant
    # arrays per plan than the scan itself at batch 50, and the data
    # form's plan is constant-size in the batch (round 12; guide §3.1).
    # Same driver-side fold (_pq_qd_tables), same fixed-order m-term
    # chain — _adc is bit-identical, so results are unchanged.
    qd = _pq_qd_tables(cb, [v for _, v in qs], sub)
    qdf = spark.createDataFrame(
        [(i, qid, v, qd[i]) for i, (qid, v) in enumerate(qs)],
        T.StructType(
            [
                T.StructField("_qidx", T.IntegerType()),
                T.StructField(query_id_col, qid_type),
                T.StructField("_qv", T.ArrayType(T.DoubleType())),
                T.StructField(
                    "_qd", T.ArrayType(T.ArrayType(T.DoubleType()))
                ),
            ]
        ),
    )
    scored = (
        encoded.select(
            F.col(id_col),
            F.col("codes"),
            F.spark_partition_id().alias("_pid"),
        )
        .crossJoin(F.broadcast(qdf.select("_qidx", "_qd")))
        .select(
            F.col("_qidx"),
            F.col(id_col),
            F.expr(" + ".join(_qd_data_terms(m))).alias("_adc"),
            "_pid",
        )
    )
    aord = [F.col("_adc").asc_nulls_last(), F.col(id_col).asc()]
    w_local = Window.partitionBy("_qidx", "_pid").orderBy(*aord)
    w_adc = Window.partitionBy("_qidx").orderBy(*aord)
    cf = candidate_factor * n
    surv = (
        scored.withColumn("_lrank", F.row_number().over(w_local))
        .where(F.col("_lrank") <= cf)
        .withColumn("_arank", F.row_number().over(w_adc))
        .where(F.col("_arank") <= cf)
        .select("_qidx", id_col)
    )
    refetch = vectors.select(id_col, vector_col).join(F.broadcast(surv), id_col)
    joined = refetch.join(F.broadcast(qdf), "_qidx")
    exact = K.cosine_similarity(F.col("_qv"), F.col(vector_col), None, None)
    w_c = Window.partitionBy(query_id_col).orderBy(
        F.col("_raw").desc_nulls_last(), F.col(id_col).asc()
    )
    out = (
        joined.select(
            F.col(query_id_col), F.col(id_col), exact.alias("_raw")
        )
        .withColumn("_crank", F.row_number().over(w_c))
        .where(F.col("_crank") <= n)
    )
    return out.select(
        F.col(query_id_col),
        F.col(id_col),
        (
            F.round(F.col("_raw"), round_to)
            if round_to is not None
            else F.col("_raw")
        ).alias("cosine_similarity"),
    )


# ---------------------------------------------------------------------------
# IVF + PQ (IVFADC, Jegou et al. 2011 §IV): partition pruning AND code
# compression in one index — the combined 100 TB serving architecture
# (FAISS's IndexIVFPQ).  A query prunes (1 - n_probe/n_clusters) of the
# data at the parquet partition level, then ranks ONLY the probed
# partitions' m-byte codes by ADC before touching any float vector.
#
# This is the flat-codebook variant (codes encode the raw vectors with
# one global codebook); canonical IVFADC encodes RESIDUALS
# (vector - centroid) per cluster, which tightens the quantizer at the
# cost of per-cluster distance tables (m x n_codes per probed cluster
# per query).  The residual refinement changes only the encode/table
# expressions; the index layout, probe pruning, and funnel are
# identical — and the flat variant stays oracle-reproducible with the
# same deterministic codebooks as pq_topk.
# ---------------------------------------------------------------------------


_IVFPQ_PARAMS_SCHEMA = (
    "dim long, m long, n_codes long, n_clusters long, residual boolean"
)


def build_ivfpq_index(
    vectors: DataFrame,
    path: str,
    dim: int,
    n_clusters: int = 16,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    residual: bool = False,
    centroids: DataFrame | None = None,
    codebooks: DataFrame | None = None,
) -> None:
    """Materialize the IVFPQ layout: per-vector (id, vector, codes)
    written partitioned by ``cluster_id``, with the centroid table, the
    PQ codebooks, and a one-row ``params`` table (dim/m/n_codes/
    n_clusters/residual — serving validates against it, so an index
    can't silently be read with the wrong geometry) alongside.  The
    cluster assignment and the PQ encode ride in ONE projection over
    the corpus scan (broadcast centroid argmax + literal-codebook
    argmin), so the build costs one write shuffle — same as
    build_ivf_index.

    ``residual=True`` is the canonical FAISS IndexIVFPQ refinement
    (Jegou et al., PAMI 2011 §IV): codebooks are trained on and codes
    encode the RESIDUAL ``v - centroid(assigned(v))`` instead of the
    raw vector — residuals concentrate near zero, so the same code
    budget spends its precision on the part of the vector the coarse
    quantizer didn't explain.  Residuals are computed in float64
    (vectors cast up before the subtract) so the engine, the collected
    codebooks, and the DuckDB mirror see bit-identical values; the
    extra build cost is one broadcast centroid join folded into the
    same projection.

    ``centroids=`` supplies a trained coarse quantizer
    (``kmeans_centroids`` — same (cluster_id, centroid, centroid_mag)
    contract); the deterministic first-k selection stays the default.
    Residual gains hinge on the coarse quantizer explaining variance
    (PERFORMANCE.md item 41), so training matters MORE with
    ``residual=True`` (test-asserted: trained centroids rescue residual
    recall on a corpus where the deterministic pick is degenerate).

    ``codebooks=`` supplies trained PQ codebooks the same way
    (``pq_codebooks_kmeans`` — same (subspace, code_id, codeword)
    contract, geometry validated by the collect step).  With
    ``residual=True`` the supplied codebooks MUST have been trained on
    residuals against the SAME centroids (slice the ``_with_residual``
    frame) — codebooks trained on raw vectors would quantize a
    distribution the codes never see.

    The float vector is stored next to the codes for rerank convenience
    at these test scales; a 100 TB deployment stores codes-only here and
    re-fetches floats for the survivor set from the primary table
    (pq_topk's broadcast re-fetch shape)."""
    if dim % m != 0:
        raise ValueError(f"pq: dim {dim} not divisible by m {m}")
    spark = vectors.sparkSession
    # caller-supplied centroids (kmeans_centroids is the production
    # trainer — same (cluster_id, centroid, centroid_mag) contract);
    # the deterministic first-k selection stays the oracle-friendly
    # default.  Either way the sidecar records the count actually used.
    # try/finally persist, not call_barrier: all four consumers (assign,
    # residual join, centroid write, sidecar count) are actions inside
    # this call, so the entry is released deterministically on return
    # (see build_ivf_index; test_cache_lifecycle pins cache-empty).
    centroids = (
        centroids
        if centroids is not None
        else deterministic_centroids(vectors, n_clusters, id_col, vector_col)
    ).persist()
    try:
        assigned = assign_clusters(vectors, centroids, id_col, vector_col)
        if residual:
            based = _with_residual(assigned, centroids, vector_col)
            cb_df = (
                codebooks
                if codebooks is not None
                else pq_codebooks(
                    based.select(F.col(id_col), F.col("_res")),
                    dim, m, n_codes, id_col, "_res",
                )
            )
            encode_col = "_res"
        else:
            based = assigned
            cb_df = (
                codebooks
                if codebooks is not None
                else pq_codebooks(vectors, dim, m, n_codes, id_col, vector_col)
            )
            encode_col = vector_col
        cb = _collect_codebooks(cb_df, m, dim // m)
        code_cols = _pq_code_cols(encode_col, cb, dim // m)
        coded = based.select(
            F.col(id_col), F.col(vector_col), F.col("cluster_id"), *code_cols
        ).select(
            F.col(id_col),
            F.col(vector_col),
            F.col("cluster_id"),
            F.array(*[F.col(f"_c{j}") for j in range(m)]).alias("codes"),
        )
        coded.write.mode("overwrite").partitionBy("cluster_id").parquet(
            f"{path}/vectors"
        )
        centroids.write.mode("overwrite").parquet(f"{path}/centroids")
        cb_df.write.mode("overwrite").parquet(f"{path}/codebooks")
        # FS-agnostic sidecar (spark write, not a driver-local open()):
        # the geometry travels with the index.  n_clusters AND n_codes
        # are the counts ACTUALLY used (supplied centroid/codebook
        # frames win over the args; both already materialized — bounded
        # count on the persisted tiny frame, len() on the collected cb).
        # range(1).select(lit...) instead of createDataFrame([tuple]):
        # the Python-local-relation + coalesce(1) write path costs ~4 s
        # of fixed overhead per call (measured, PERFORMANCE.md item 48);
        # the JVM-literal form writes the identical JSON in ~0.2 s.
        spark.range(1).select(
            F.lit(int(dim)).cast("long").alias("dim"),
            F.lit(int(m)).cast("long").alias("m"),
            F.lit(len(cb[0])).cast("long").alias("n_codes"),
            F.lit(int(centroids.count())).cast("long").alias("n_clusters"),
            F.lit(bool(residual)).alias("residual"),
        ).coalesce(1).write.mode("overwrite").json(f"{path}/params")
    finally:
        centroids.unpersist()


def _with_residual(assigned: DataFrame, centroids: DataFrame, vector_col: str) -> DataFrame:
    """Residual column over an assigned frame: v - centroid(cluster) in
    float64 (both arrays cast up first — bit-identical across the
    engine, the collected codebooks, and the DuckDB mirror)."""
    return assigned.join(
        F.broadcast(centroids.select("cluster_id", "centroid")), "cluster_id"
    ).withColumn(
        "_res",
        F.zip_with(
            F.col(vector_col).cast("array<double>"),
            F.col("centroid").cast("array<double>"),
            lambda x, y: x - y,
        ),
    )


def append_to_ivfpq_index(
    spark,
    vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> None:
    """Incremental growth for the combined index — FAISS ``add`` after
    ``train`` (same contract as ``append_to_ivf_index``): assign and
    PQ-encode ONLY the delta against the FROZEN stored centroids and
    codebooks, then append into the partitioned layout.  Geometry and
    the residual flag come from the params sidecar (refused if absent —
    an append can't validate against a pre-sidecar index); a residual
    index encodes the delta's residuals against the same frozen
    artifacts.

    Because every training artifact is frozen, an appended index is
    EXACTLY a full rebuild whenever the rebuild's deterministic
    training inputs (the first n_clusters / n_codes ids) lie in the
    base half (test-asserted, all-probe); in general it is the standard
    add-after-train trade — monitor ``ann_recall`` and re-train +
    rebuild on drift.  Scale shape: broadcast assign + in-scan encode
    over the DELTA only; the partitioned append touches only the
    delta's clusters' files."""
    params = _read_ivfpq_params(spark, path)
    if params is None:
        raise ValueError(
            "append_to_ivfpq_index: no params sidecar at"
            f" {path!r} — pre-sidecar indexes can't validate append"
            " geometry; rebuild with build_ivfpq_index"
        )
    dim, m = int(params["dim"]), int(params["m"])
    residual = bool(params["residual"])
    centroids = spark.read.parquet(f"{path}/centroids")
    cb = _collect_codebooks(spark.read.parquet(f"{path}/codebooks"), m)
    assigned = assign_clusters(vectors, centroids, id_col, vector_col)
    if residual:
        based = _with_residual(assigned, centroids, vector_col)
        encode_col = "_res"
    else:
        based, encode_col = assigned, vector_col
    code_cols = _pq_code_cols(encode_col, cb, dim // m)
    based.select(
        F.col(id_col), F.col(vector_col), F.col("cluster_id"), *code_cols
    ).select(
        F.col(id_col),
        F.col(vector_col),
        F.col("cluster_id"),
        F.array(*[F.col(f"_c{j}") for j in range(m)]).alias("codes"),
    ).write.mode("append").partitionBy("cluster_id").parquet(f"{path}/vectors")


def _read_ivfpq_params(spark, path: str) -> dict | None:
    """The index's params sidecar, or None for a pre-sidecar index
    (read with explicit schema — the multi-writer inference trap)."""
    try:
        rows = spark.read.schema(_IVFPQ_PARAMS_SCHEMA).json(
            f"{path}/params"
        ).collect()
    except Exception:
        return None
    return rows[0].asDict() if rows else None


def _check_ivfpq_geometry(params: dict | None, dim: int, m: int, fn: str) -> bool:
    """Validate caller geometry against the sidecar; returns the
    index's residual flag (False for pre-sidecar indexes)."""
    if params is None:
        return False
    for name, got in (("dim", dim), ("m", m)):
        if int(params[name]) != int(got):
            raise ValueError(
                f"{fn}: index was built with {name}={params[name]},"
                f" called with {name}={got}"
            )
    return bool(params["residual"])


def ivfpq_topk(
    spark,
    path: str,
    query_vector: list[float],
    dim: int,
    m: int = 8,
    k: int = 10,
    n_probe: int = 4,
    candidate_factor: int = 4,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    round_to: int | None = 9,
    where: str | None = None,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Query a persisted IVFPQ index: rank stored centroids (bounded
    n_probe collect, the ivf_topk_from_index shape), push a literal
    ``cluster_id IN (probed)`` filter that prunes parquet partitions,
    ADC-rank the probed partitions' CODES (literal distance tables,
    zero-shuffle projection), keep ``candidate_factor * k`` survivors,
    and rerank them with the exact float cosine.

    Returns (id, cluster_id, cosine_similarity) — the probed-cluster
    funnel composed with the PQ funnel: at 100 TB the scan after
    pruning reads m-byte codes instead of 4d-byte floats, a combined
    (n_probe/n_clusters) x (m/4d) read-volume shrink before the first
    float op.

    A RESIDUAL index (build_ivfpq_index(residual=True), detected from
    the params sidecar) changes only the ADC tables: each probed
    cluster's table is built over the residual target ``q - centroid_c``
    (folded driver-side over the n_probe collected centroids — bounded),
    and the lookup gains a probed-cluster ordinal (``array_position`` on
    the literal probe list).  Funnel, pruning, and rerank are
    unchanged.

    FILTERED ANN (the reference's S2/S3 candidate restriction composed
    with the index; VectorTable.php search() filters candidates before
    ranking): ``where=`` is a SQL predicate over the stored index
    columns, applied to the probe-pruned scan BEFORE the ADC — it
    stacks with the partition filter, so at 100 TB a pushable predicate
    (e.g. on a stored metadata column) prunes row groups inside the
    probed partitions; ``candidates=`` is a one-column id frame
    semi-joined (broadcast) the same way.  Both restrict the CANDIDATE
    set: the top-k is exact over the surviving rows (full-coverage
    equality with the filtered brute force is test-asserted)."""
    q = [float(x) for x in query_vector]
    if len(q) != dim:
        raise ValueError(f"ivfpq_topk: query has {len(q)} dims, expected {dim}")
    if any(x != x for x in q):
        raise ValueError("ivfpq_topk: query_vector contains NaN")
    if dim % m != 0:
        raise ValueError(f"pq: dim {dim} not divisible by m {m}")
    sub = dim // m
    residual = _check_ivfpq_geometry(
        _read_ivfpq_params(spark, path), dim, m, "ivfpq_topk"
    )
    centroids = spark.read.parquet(f"{path}/centroids")
    cb = _collect_codebooks(spark.read.parquet(f"{path}/codebooks"), m)
    from wpvectordb_spark.operators.search import _magnitude as _mag_fn

    q_mag_val = _mag_fn(q)
    q_vec = F.array(*[F.lit(x) for x in q])
    probe_rows = (
        centroids.withColumn(
            "_qsim",
            K.cosine_similarity(
                q_vec, F.col("centroid"), F.lit(q_mag_val), F.col("centroid_mag")
            ),
        )
        .orderBy(F.col("_qsim").desc(), F.col("cluster_id").asc())
        .limit(n_probe)
        .collect()
    )
    probe = [r["cluster_id"] for r in probe_rows]
    clustered = spark.read.parquet(f"{path}/vectors").where(
        F.col("cluster_id").isin(probe)  # literal IN -> partition pruning
    )
    clustered = _restrict_candidates(clustered, where, candidates, id_col)
    if residual:
        # per-probed-cluster residual targets, folded driver-side in the
        # oracle's fold order (float64 throughout — the build casts up
        # before subtracting, so these literals are bit-identical)
        targets = [
            [x - float(c) for x, c in zip(q, r["centroid"])] for r in probe_rows
        ]
        ids = ", ".join(str(int(c)) for c in probe)
        # CAST: array_position is BIGINT, element_at wants an INT index
        pidx = f"CAST(array_position(array({ids}), cluster_id) - 1 AS INT)"
        adc = " + ".join(_pq_qd2d_terms(cb, targets, sub, ord_col=pidx))
    else:
        adc = _pq_adc_expr(cb, q, sub)
    survivors = (
        clustered.select(
            id_col,
            "cluster_id",
            vector_col,
            F.expr(adc).alias("_adc"),
        )
        .orderBy(F.col("_adc").asc_nulls_last(), F.col(id_col).asc())
        .limit(candidate_factor * k)
    )
    exact = K.cosine_similarity(q_vec, F.col(vector_col), F.lit(q_mag_val), None)
    out = survivors.select(
        F.col(id_col),
        F.col("cluster_id"),
        (F.round(exact, round_to) if round_to is not None else exact).alias(
            "cosine_similarity"
        ),
        exact.alias("_raw"),
    )
    return (
        out.orderBy(F.col("_raw").desc(), F.col(id_col).asc())
        .limit(k)
        .drop("_raw")
    )


def ivfpq_topk_many(
    spark,
    path: str,
    queries: DataFrame,
    dim: int,
    m: int = 8,
    k: int = 10,
    n_probe: int = 4,
    candidate_factor: int = 4,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vector",
    round_to: int | None = 9,
    where: str | None = None,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Batched IVFPQ serving: a DataFrame of query vectors against the
    persisted ``build_ivfpq_index`` layout in ONE plan — the combined
    form of ``ivf_topk_many`` (per-query partition-pruned probes) and
    ``pq_topk_many`` (constant-distance-table ADC).  Per query the
    result equals ``ivfpq_topk`` on the same index (test-asserted).

    The batch is COLLECTED driver-side (``pq_topk_many`` contract: the
    ADC distance tables are literal, so the scan needs no per-row join
    against query vectors); a serving batch is bounded by construction.
    Plan shape:

    1. probe ranking — the query frame cross-joins the broadcast stored
       centroids (tiny by construction) and a per-query ``row_number``
       keeps ``n_probe`` clusters; the (query-ordinal, cluster_id)
       pairs are collected once (Q x n_probe rows);
    2. partition pruning — the UNION of probed cluster ids (bounded by
       n_clusters DISTINCT values) becomes a literal ``IN`` filter on
       the partitionBy(cluster_id) read, so unprobed partitions are
       never scanned;
    3. candidate fan-out — pruned code rows equi-join the broadcast
       probe pairs on cluster_id: each m-byte code row fans out ONLY to
       the queries probing its cluster (never |queries| copies);
    4. ADC — m nested lookups into per-subspace 2-D CONSTANT distance
       tables indexed by the joined query ordinal (generated code
       constant-size in |queries|; PERFORMANCE.md item 38);
    5. per-query funnel — local per-(query, scan-partition) pre-top-k
       bounds the global rank exchange at ``candidate_factor * k`` x
       #partitions narrow rows per query, then one broadcast re-fetch
       of the survivors' float vectors from the pruned read, reranked
       by the exact cosine per query.

    NULL query vectors are dropped up front; NaN or mis-dimensioned
    queries raise (the batch is driver-side, so the guard is exact —
    no ``expected_dim`` parameter needed).

    A RESIDUAL index (params sidecar) swaps stage 3/4's probe frame for
    a (query, probed-cluster) PAIR frame and builds one constant
    distance table per pair over the target ``q - centroid_c`` —
    generated code is still constant-size in the batch; only table DATA
    grows by the n_probe factor.

    ``where=`` / ``candidates=`` restrict the candidate set for the
    WHOLE batch before the ADC (``_restrict_candidates``)."""
    from pyspark.sql import Window
    from pyspark.sql import types as T

    if dim % m != 0:
        raise ValueError(f"pq: dim {dim} not divisible by m {m}")
    sub = dim // m
    residual = _check_ivfpq_geometry(
        _read_ivfpq_params(spark, path), dim, m, "ivfpq_topk_many"
    )
    qs = _collect_query_batch(
        queries, dim, query_id_col, query_vec_col, "ivfpq_topk_many"
    )
    qid_type = queries.schema[query_id_col].dataType
    vectors_idx = spark.read.parquet(f"{path}/vectors")
    if not qs:
        return spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField(query_id_col, qid_type),
                    T.StructField(id_col, vectors_idx.schema[id_col].dataType),
                    T.StructField(
                        "cluster_id", vectors_idx.schema["cluster_id"].dataType
                    ),
                    T.StructField("cosine_similarity", T.DoubleType()),
                ]
            ),
        )
    centroids = spark.read.parquet(f"{path}/centroids")
    cb = _collect_codebooks(spark.read.parquet(f"{path}/codebooks"), m)
    qdf = spark.createDataFrame(
        [(i, qid, v) for i, (qid, v) in enumerate(qs)],
        T.StructType(
            [
                T.StructField("_qidx", T.IntegerType()),
                T.StructField(query_id_col, qid_type),
                T.StructField("_qv", T.ArrayType(T.DoubleType())),
            ]
        ),
    )
    qm = qdf.withColumn("_q_mag", K.magnitude("_qv"))
    qsim = K.cosine_similarity(
        F.col("_qv"), F.col("centroid"), F.col("_q_mag"), F.col("centroid_mag")
    )
    w_probe = Window.partitionBy("_qidx").orderBy(
        F.col("_qsim").desc(), F.col("cluster_id").asc()
    )
    probes = (
        qm.crossJoin(F.broadcast(centroids))
        .select("_qidx", "cluster_id", qsim.alias("_qsim"))
        .withColumn("_prank", F.row_number().over(w_probe))
        .where(F.col("_prank") <= n_probe)
        .select("_qidx", "cluster_id")
    )
    # ONE bounded collect (Q x n_probe rows) replaces the round-11
    # eager localCheckpoint + distinct-collect pair: the probe pairs are
    # driver-sized by construction, and the fan-out frame is rebuilt
    # driver-side below WITH its ADC tables attached, so probe ranking
    # costs one job instead of two and the downstream join broadcasts a
    # local relation instead of a checkpointed distributed one.
    pair_rows = sorted(
        (int(r["_qidx"]), int(r["cluster_id"])) for r in probes.collect()
    )
    probe_ids = sorted({cid for _, cid in pair_rows})
    clustered = vectors_idx.where(
        F.col("cluster_id").isin(probe_ids)  # literal IN -> partition pruning
    )
    clustered = _restrict_candidates(clustered, where, candidates, id_col)
    # ADC tables ride the (already required) fan-out join as DATA — a
    # ``_qd`` table column per (query[, probed-cluster]) row — instead
    # of |batch| x m x n_codes folded literals (round 12: parsing and
    # analyzing the literal arrays cost more driver time per plan than
    # the probed scan; guide §3.1).  Same driver-side fold
    # (_pq_qd_tables), same fixed-order m-term chain — _adc is
    # bit-identical, so results are unchanged.
    if residual:
        # residual ADC: one distance table per (query, probed-cluster)
        # PAIR over the target q - centroid_c (both bounded collects).
        cent_map = {
            int(r["cluster_id"]): [float(x) for x in r["centroid"]]
            for r in centroids.where(
                F.col("cluster_id").isin(probe_ids)
            ).collect()
        }
        targets = [
            [x - c for x, c in zip(qs[qi][1], cent_map[cid])]
            for qi, cid in pair_rows
        ]
        qd = _pq_qd_tables(cb, targets, sub)
    else:
        qd_per_query = _pq_qd_tables(cb, [v for _, v in qs], sub)
        qd = [qd_per_query[qi] for qi, _ in pair_rows]
    fanout_df = spark.createDataFrame(
        [(qi, cid, qd[p]) for p, (qi, cid) in enumerate(pair_rows)],
        T.StructType(
            [
                T.StructField("_qidx", T.IntegerType()),
                T.StructField("cluster_id", T.LongType()),
                T.StructField(
                    "_qd", T.ArrayType(T.ArrayType(T.DoubleType()))
                ),
            ]
        ),
    )
    scored = (
        clustered.select(id_col, "cluster_id", "codes")
        .join(F.broadcast(fanout_df), "cluster_id")
        .select(
            F.col("_qidx"),
            F.col(id_col),
            F.col("cluster_id"),
            F.expr(" + ".join(_qd_data_terms(m))).alias("_adc"),
            F.spark_partition_id().alias("_pid"),
        )
    )
    aord = [F.col("_adc").asc_nulls_last(), F.col(id_col).asc()]
    w_local = Window.partitionBy("_qidx", "_pid").orderBy(*aord)
    w_adc = Window.partitionBy("_qidx").orderBy(*aord)
    cf = candidate_factor * k
    surv = (
        scored.withColumn("_lrank", F.row_number().over(w_local))
        .where(F.col("_lrank") <= cf)
        .withColumn("_arank", F.row_number().over(w_adc))
        .where(F.col("_arank") <= cf)
        .select("_qidx", id_col, "cluster_id")
    )
    refetch = clustered.select(id_col, vector_col).join(F.broadcast(surv), id_col)
    joined = refetch.join(F.broadcast(qdf), "_qidx")
    exact = K.cosine_similarity(F.col("_qv"), F.col(vector_col), None, None)
    w_c = Window.partitionBy(query_id_col).orderBy(
        F.col("_raw").desc_nulls_last(), F.col(id_col).asc()
    )
    out = (
        joined.select(
            F.col(query_id_col),
            F.col(id_col),
            F.col("cluster_id"),
            exact.alias("_raw"),
        )
        .withColumn("_crank", F.row_number().over(w_c))
        .where(F.col("_crank") <= k)
    )
    return out.select(
        F.col(query_id_col),
        F.col(id_col),
        F.col("cluster_id"),
        (
            F.round(F.col("_raw"), round_to)
            if round_to is not None
            else F.col("_raw")
        ).alias("cosine_similarity"),
    )


def ivfpq_index_stats(spark, path: str) -> DataFrame:
    """Index health surface — the monitoring half of the add-after-train
    contract (append_to_ivfpq_index keeps centroids/codebooks frozen;
    THIS is what tells you when to re-train): one row per cluster with
    its row count, share of the corpus, and imbalance ratio vs the ideal
    uniform share.  Reading only the partition column compiles to a
    metadata-cheap scan (column pruning: no vector or code bytes move),
    so the stats are safe to run on a 100 TB index.

    Interpretation: max(imbalance) drifting upward across appends means
    new data no longer matches the trained partition — hot clusters
    serve more candidates per probe (latency skew) and recall decays
    for queries near cold ones.  Standard response (FAISS practice):
    re-train centroids on a sample, rebuild, verify with ``ann_recall``.
    Pair with the params sidecar for the index's geometry."""
    counts = (
        spark.read.parquet(f"{path}/vectors")
        .groupBy("cluster_id")
        .agg(F.count("*").alias("n_vectors"))
        .toArrow()  # bounded: <= n_clusters rows
    )
    params = _read_ivfpq_params(spark, path)
    n_clusters = (
        int(params["n_clusters"]) if params is not None else None
    )
    total = pc.sum(counts.column("n_vectors")).as_py() or 0
    stats = spark.createDataFrame(counts).select(
        "cluster_id",
        "n_vectors",
        F.round(F.col("n_vectors") / F.lit(total), 6).alias("share"),
    )
    if n_clusters:
        stats = stats.withColumn(
            "imbalance", F.round(F.col("share") * n_clusters, 6)
        )
    return stats.orderBy(F.col("n_vectors").desc(), F.col("cluster_id").asc())


def recall_report(
    approx: DataFrame,
    exact: DataFrame,
    query_col: str = "query_id",
    id_col: str = "vec_id",
    round_to: int = 6,
) -> DataFrame:
    """Per-query recall of an ANN result set against its exact
    baseline — the index-health measurement the add-after-train
    contract runs on a schedule: serve a sampled query batch through
    BOTH the approximate path (``ivf_topk_many`` / ``ivfpq_topk_many``)
    and the exact one (``search_many(two_phase=False)``), and
    ``recall = |approx ∩ exact| / |exact|`` per query decides whether
    the index needs a re-train (drifting data shifts mass away from the
    frozen centroids and recall decays — FAISS's own re-train trigger).

    Both inputs are result lists (query, id); extra columns are
    ignored.  Queries present only in ``exact`` report recall 0.0 (an
    approximate path that returned NOTHING for a query is the worst
    finding, not a missing row); queries present only in ``approx``
    are dropped (no baseline to score against).

    Returns ``(query_id, n_hit, n_exact, recall)``.

    Scale shape: two result-list-sized aggregations and one semi join —
    inputs are #queries x k rows regardless of corpus size, so the
    report costs nothing next to the serves that produced it.
    """
    a = approx.select(F.col(query_col), F.col(id_col))
    e = exact.select(F.col(query_col), F.col(id_col))
    ex_n = e.groupBy(query_col).agg(F.count("*").alias("n_exact"))
    hit_n = (
        e.join(a, [query_col, id_col], "semi")
        .groupBy(query_col)
        .agg(F.count("*").alias("n_hit"))
    )
    return ex_n.join(hit_n, query_col, "left").select(
        query_col,
        F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
        F.col("n_exact").cast("long").alias("n_exact"),
        F.round(
            F.coalesce("n_hit", F.lit(0)) / F.col("n_exact").cast("double"),
            round_to,
        ).alias("recall"),
    )


def retrain_decision(
    report: DataFrame,
    threshold: float = 0.9,
    recall_col: str = "recall",
    round_to: int = 6,
) -> DataFrame:
    """Turn a :func:`recall_report` into the documented re-train ACTION
    — the step round 9 left open (the report measured decay; nothing
    consumed it): one row summarizing the serve batch with the verdict
    the scheduler acts on.  ``retrain = 1`` when the ROUNDED mean
    recall@k falls below ``threshold`` (the FAISS-practice trigger:
    drifting data shifts mass away from the frozen centroids and the
    whole batch's recall sags — a single unlucky query should not force
    a rebuild, hence mean, with ``n_below``/``min_recall`` exposed for
    operators who want a stricter per-query policy).

    Returns ``(n_queries, n_below, mean_recall, min_recall, retrain)``.
    The mean is rounded to ``round_to`` BEFORE the comparison so the
    decision is engine-portable (an ulp under an exact threshold must
    not flip the verdict across engines).

    Scale shape: one aggregation over a #queries-row frame — free next
    to the serves that produced the report.  Consume with
    :func:`retrain_ivf_index` for the fully closed loop.
    """
    thr = float(threshold)
    mean_r = F.round(F.avg(recall_col), round_to)
    # empty-report coalesces mirror the SQL form's COALESCE/CASE-ELSE
    # exactly (a zero-query report verdicts n_below=0, retrain=0 in
    # BOTH engines — no evidence is not a re-train trigger; mean/min
    # stay NULL as the honest "nothing measured")
    return report.agg(
        F.count("*").cast("long").alias("n_queries"),
        F.coalesce(
            F.sum((F.col(recall_col) < thr).cast("long")), F.lit(0)
        )
        .cast("long")
        .alias("n_below"),
        mean_r.alias("mean_recall"),
        F.min(recall_col).alias("min_recall"),
        F.coalesce((mean_r < F.lit(thr)).cast("long"), F.lit(0)).alias(
            "retrain"
        ),
    )


def sql_retrain_decision(
    report_sql: str,
    threshold: float = 0.9,
    recall_col: str = "recall",
    round_to: int = 6,
) -> str:
    """DuckDB mirror of ``retrain_decision`` over a recall-report
    relation (same rounded-mean-then-compare order)."""
    thr = float(threshold)
    return f"""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
               CAST(COALESCE(SUM(CASE WHEN {recall_col} < {thr!r}
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
                 AS n_below,
               round(AVG({recall_col}), {round_to}) AS mean_recall,
               MIN({recall_col}) AS min_recall,
               CAST(CASE WHEN round(AVG({recall_col}), {round_to}) < {thr!r}
                    THEN 1 ELSE 0 END AS BIGINT) AS retrain
        FROM ({report_sql})
    """


def retrain_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    threshold: float = 0.9,
    k: int = 10,
    n_probe: int = 4,
    n_clusters: int | None = None,
    rebuild: bool = True,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vector",
    expected_dim: int | None = None,
) -> dict:
    """The CLOSED add-after-train loop (FAISS ``train`` -> ``add`` ->
    monitor -> re-``train``): serve ``queries`` through the persisted
    IVF index's probe-pruned path AND the exact brute-force baseline
    over the SAME stored vectors, score recall@k per query
    (:func:`recall_report`), aggregate to the verdict
    (:func:`retrain_decision`), and — when flagged and ``rebuild`` —
    re-train the centroids on the CURRENT corpus (base + every appended
    delta, exactly "rebuild with the append set folded in") and swap
    the new index in crash-safely.

    The swap is the facades' ``fsutil.replace_dir`` (build into
    ``path__staging``, move the live index aside, promote, drop the old
    copy), so a kill mid-rebuild leaves the old or the new index, never
    zero copies; the rebuild READS the old layout while WRITING the
    staging one, so there is no overwrite-while-reading window at all.

    Returns ``{n_queries, n_below, mean_recall, min_recall, retrain,
    rebuilt, recall_after}`` — ``recall_after`` (the post-rebuild
    rounded mean over the same queries, all-probe-free, same n_probe)
    only when a rebuild ran; the caller's alerting hook.

    Scale shape: the exact baseline is ONE full scan of the index
    vectors per monitoring run (brute-force cosine top-k via
    ``search_many``'s pre-top-k window pattern) — the price of a
    trustworthy recall number, run on a schedule against a SAMPLED
    query batch, never per serve.  The decision collect is one row; the
    rebuild is the same two jobs as ``build_ivf_index``.
    """
    from wpvectordb_spark import fsutil

    # heal a swap orphaned between the two renames of a previous
    # retrain, and drop a stale __old from a kill after the promote,
    # before the sidecar check and the measurement read the index
    fsutil.recover_snapshot(spark, path)
    if _read_ivfpq_params(spark, path) is not None:
        raise ValueError(
            "retrain_ivf_index: this index has an IVFPQ params sidecar — "
            "rebuilding it as plain IVF would silently drop the codes and "
            "geometry; use retrain_ivfpq_index"
        )

    def _measure() -> DataFrame:
        approx = ivf_topk_many(
            spark,
            queries,
            path=path,
            k=k,
            n_probe=n_probe,
            id_col=id_col,
            vector_col=vector_col,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
            expected_dim=expected_dim,
        )
        return _exact_recall_of(
            spark, path, approx, queries, k, id_col, vector_col,
            query_id_col, query_vec_col, expected_dim,
        )

    def _build_staging(staging: str) -> None:
        nc = n_clusters
        if nc is None:
            # preserve the index's geometry: re-train the SAME number
            # of centroids on the grown corpus (bounded read — the
            # centroid table is n_clusters rows)
            nc = spark.read.parquet(f"{path}/centroids").count()
        build_ivf_index(
            spark.read.parquet(f"{path}/vectors").select(id_col, vector_col),
            staging,
            n_clusters=int(nc),
            id_col=id_col,
            vector_col=vector_col,
        )

    return _closed_retrain_loop(
        path, _measure, _build_staging, threshold, rebuild
    )


def _exact_recall_of(
    spark,
    path: str,
    approx: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vector_col: str,
    query_id_col: str,
    query_vec_col: str,
    expected_dim: int | None,
) -> DataFrame:
    """Recall report of ``approx`` against the brute-force cosine top-k
    over the index's OWN stored vectors (both persisted layouts store
    the float vector next to the derived columns) — the shared
    measurement half of the retrain loops."""
    from wpvectordb_spark.operators import search as S

    vectors = spark.read.parquet(f"{path}/vectors")
    exact = S.search_many(
        vectors.select(
            F.col(id_col).alias("id"), F.col(vector_col).alias("vector")
        ),
        queries,
        n=k,
        two_phase=False,
        code_col=None,
        mag_col=None,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
        expected_dim=expected_dim,
    )
    return recall_report(
        approx.select(query_id_col, id_col),
        exact.select(query_id_col, F.col("id").alias(id_col)),
        query_col=query_id_col,
        id_col=id_col,
    )


def _closed_retrain_loop(
    path: str,
    measure,
    build_staging,
    threshold: float,
    rebuild: bool,
) -> dict:
    """Shared measure -> decide -> rebuild-and-swap skeleton of the two
    retrain loops.  The rebuild goes through the facades' one swap
    (``fsutil.replace_dir``: build into ``path__staging``, live aside,
    promote, drop old), so a kill anywhere leaves the old or the new
    index; the callers heal swap debris on their next invocation via
    ``fsutil.recover_snapshot`` before measuring (readers racing the
    window between the renames see no live dir, the documented
    single-writer trade).  Hadoop FS throughout, so the loop works
    unchanged when the index lives on HDFS/S3."""
    from wpvectordb_spark import fsutil

    measured = measure()
    spark = measured.sparkSession
    dec = retrain_decision(measured, threshold=threshold).collect()[0]
    out = {
        "n_queries": dec["n_queries"],
        "n_below": dec["n_below"],
        "mean_recall": dec["mean_recall"],
        "min_recall": dec["min_recall"],
        "retrain": bool(dec["retrain"]),
        "rebuilt": False,
        "recall_after": None,
    }
    if not (rebuild and out["retrain"]):
        return out
    fsutil.replace_dir(spark, path, build_staging)
    out["rebuilt"] = True
    after = retrain_decision(measure(), threshold=threshold).collect()[0]
    out["recall_after"] = after["mean_recall"]
    return out


def retrain_ivfpq_index(
    spark,
    path: str,
    queries: DataFrame,
    threshold: float = 0.9,
    k: int = 10,
    n_probe: int = 4,
    n_clusters: int | None = None,
    rebuild: bool = True,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vector",
) -> dict:
    """:func:`retrain_ivf_index` for the IVFPQ family — the same closed
    measure -> flag -> re-train -> swap loop, serving the monitoring
    batch through ``ivfpq_topk_many`` (probe-pruned + ADC + exact
    rerank) and rebuilding through ``build_ivfpq_index`` with the
    geometry read from the params sidecar (dim/m/n_codes/residual are
    index identity and are preserved; ``n_clusters`` may be widened —
    the standard response when appended mass deserves its own cells).
    Centroids AND codebooks re-train on the full corpus, codes
    re-encode — exactly what FAISS means by re-training an IndexIVFPQ.
    Pre-sidecar indexes refuse (no recorded geometry to preserve);
    returns the same report dict as the IVF form."""
    from wpvectordb_spark import fsutil

    fsutil.recover_snapshot(spark, path)
    params = _read_ivfpq_params(spark, path)
    if params is None:
        raise ValueError(
            "retrain_ivfpq_index: no params sidecar under "
            f"{path!r} — pre-sidecar indexes carry no geometry to "
            "rebuild with (use retrain_ivf_index for plain-IVF layouts)"
        )
    dim, m = int(params["dim"]), int(params["m"])

    def _measure() -> DataFrame:
        approx = ivfpq_topk_many(
            spark,
            path,
            queries,
            dim=dim,
            m=m,
            k=k,
            n_probe=n_probe,
            id_col=id_col,
            vector_col=vector_col,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
        )
        return _exact_recall_of(
            spark, path, approx, queries, k, id_col, vector_col,
            query_id_col, query_vec_col, dim,
        )

    def _build_staging(staging: str) -> None:
        build_ivfpq_index(
            spark.read.parquet(f"{path}/vectors").select(id_col, vector_col),
            staging,
            dim=dim,
            n_clusters=int(n_clusters or params["n_clusters"]),
            m=m,
            n_codes=int(params["n_codes"]),
            residual=bool(params["residual"]),
            id_col=id_col,
            vector_col=vector_col,
        )

    return _closed_retrain_loop(
        path, _measure, _build_staging, threshold, rebuild
    )
