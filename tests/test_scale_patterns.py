"""Scale-pattern demos that only show up in plans: bucketed co-located
joins (no shuffle) and salted aggregation for hot keys."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wpvectordb_spark.operators.skew import salted_agg
from wpvectordb_spark.sources.loaders import load_events
from tests.conftest import SF_DIR


def test_salted_agg_equals_plain_agg(spark):
    ev = load_events(spark, SF_DIR)
    got = salted_agg(
        ev,
        ["event_type"],
        {
            "n": ("event_id", "count"),
            "total": ("value", "sum"),
            "first_id": ("event_id", "min"),
            "last_id": ("event_id", "max"),
        },
        salt_buckets=8,
    )
    want = ev.groupBy("event_type").agg(
        F.count("event_id").alias("n"),
        F.sum("value").alias("total"),
        F.min("event_id").alias("first_id"),
        F.max("event_id").alias("last_id"),
    )
    g = {r["event_type"]: (r["n"], round(r["total"], 6), r["first_id"], r["last_id"]) for r in got.collect()}
    w = {r["event_type"]: (r["n"], round(r["total"], 6), r["first_id"], r["last_id"]) for r in want.collect()}
    assert g == w


def test_salted_agg_rejects_non_decomposable(spark):
    ev = load_events(spark, SF_DIR)
    with pytest.raises(ValueError):
        salted_agg(ev, ["event_type"], {"m": ("value", "median")})


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key: the sort-merge join reads
    bucket-aligned files and the plan has NO Exchange — the co-located
    join layout for repeated large-large joins at scale."""
    import uuid

    # spark.sql.warehouse.dir is static; managed tables land in
    # ./spark-warehouse (gitignored) and are dropped on exit
    suffix = uuid.uuid4().hex[:8]
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    (emb.write.mode("overwrite").bucketBy(8, "vec_id").sortBy("vec_id")
        .saveAsTable(f"emb_b_{suffix}"))
    (docs.withColumnRenamed("doc_id", "vec_id").write.mode("overwrite")
        .bucketBy(8, "vec_id").sortBy("vec_id").saveAsTable(f"docs_b_{suffix}"))

    a = spark.table(f"emb_b_{suffix}")
    b = spark.table(f"docs_b_{suffix}")
    # disable auto-broadcast so the join would otherwise shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = a.join(b, "vec_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == emb.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql(f"DROP TABLE IF EXISTS emb_b_{suffix}")
        spark.sql(f"DROP TABLE IF EXISTS docs_b_{suffix}")


def test_grouped_agg_pandas_udaf(spark):
    """UDAF extension surface: weighted mean via grouped-agg pandas_udf
    equals the exact expression form; trimmed mean drops outliers."""
    from wpvectordb_spark.functions.udafs import weighted_mean, trimmed_mean

    ev = load_events(spark, SF_DIR).withColumn(
        "w", (F.col("event_id") % 5 + 1).cast("double")
    )
    got = ev.groupBy("event_type").agg(
        weighted_mean()(F.col("value"), F.col("w")).alias("wm"),
        trimmed_mean()(F.col("value")).alias("tm"),
    )
    exact = ev.groupBy("event_type").agg(
        (F.sum(F.col("value") * F.col("w")) / F.sum("w")).alias("wm_exact"),
        F.avg("value").alias("plain_mean"),
    )
    j = {r["event_type"]: r for r in got.join(exact, "event_type").collect()}
    for r in j.values():
        assert r["wm"] == pytest.approx(r["wm_exact"], rel=1e-9)
        assert r["tm"] == pytest.approx(r["plain_mean"], rel=0.2)  # robust, same ballpark


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_lsh_topk_plan_is_shuffle_free(spark):
    """Band-bucket ANN must stay a narrow scan: literal-key overlap filter
    + TakeOrderedAndProject, NO Exchange (the property that lets it ride a
    bucketed layout at scale)."""
    from wpvectordb_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    plan = _plan(SIM.lsh_topk(emb, qv, k=10))
    assert "Exchange" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_stratified_sample_plan_is_pure_filter(spark):
    """The sampler must compile to scan+filter only — no shuffle, no
    aggregation pass (zero-coordination sampling at 100 TB)."""
    from wpvectordb_spark.operators import curation as CU

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(CU.stratified_sample(docs, {"en": 0.5}, 0.1))
    assert "Exchange" not in plan, plan
    assert "Aggregate" not in plan, plan


def test_pack_sequences_two_pass_prefix_sum(spark):
    """Packing must use the distributed two-pass prefix sum: a RANGE
    exchange fans the corpus across partitions, every data-sized window
    partitions by (_pid, stratum) — parallelism scales with partitions —
    and NO window partitions by the stratum alone (which would serialize
    each language through one task at 100 TB)."""
    from wpvectordb_spark.operators import curation as CU

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # persist=False: the round-11 lazy-localCheckpoint barrier truncates
    # the visible plan at the shared projection (the range exchange
    # still executes inside the checkpointed subtree); the unbarriered
    # form exposes the full two-pass shape this test pins
    plan = _plan(CU.pack_sequences(docs, seq_len=512, persist=False))
    assert "Exchange rangepartitioning" in plan, plan
    # the per-row cumsum window must include the partition id in its keys
    assert "Window [sum(n_tokens" in plan, plan
    win = [ln for ln in plan.splitlines() if "Window [sum(n_tokens" in ln]
    assert all("_pid" in ln for ln in win), plan
    # results identical to the one-window form
    out = CU.pack_sequences(docs, seq_len=512)
    n = out.count()
    assert n > 0
    # spot-check monotone contiguity per stratum: seq ranges never regress
    rows = sorted(
        out.where(F.col("lang") == "en").collect(), key=lambda r: r["doc_id"]
    )
    for prev, cur in zip(rows, rows[1:]):
        assert cur["seq_start"] >= prev["seq_start"]
        assert cur["seq_start"] in (prev["seq_end"], prev["seq_end"] + 1)


def test_assign_clusters_plan_is_shuffle_free_projection(spark):
    """IVF centroid assignment must be ONE narrow pass over the scan: the
    centroids ride in the ``mapInArrow`` closure, so there is no join,
    no Sort, no Window, no aggregation of exploded candidates and NO
    exchange of the vector side at all — the shape of the old max_by
    form was Sort(|vectors| x k) -> SortAggregate -> Exchange(|vectors|
    rows with embeddings) -> Sort -> SortAggregate."""
    from wpvectordb_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = SIM.deterministic_centroids(emb, 16)
    plan = _plan(SIM.assign_clusters(emb, cents))
    assert "Window" not in plan, plan
    assert plan.count("MapInArrow") == 1, plan
    assert "Join" not in plan and "CartesianProduct" not in plan, plan
    assert "SortAggregate" not in plan, plan
    assert "Exchange" not in plan, plan


def test_assign_clusters_fold_matches_maxby_reference(spark):
    """The round-11 fold rewrite must reproduce the old cross-join +
    max_by assignment EXACTLY — same winners, same 9-dp sims — including
    the NULL / ragged-dim / empty-centroid edges.  The reference here is
    the old formulation rebuilt inline (cross join + max_by over the
    (sim, -cluster_id) struct key)."""
    from pyspark.sql import functions as F

    from wpvectordb_spark.functions import kernels as K
    from wpvectordb_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    # corpus + a NULL-embedding row and a ragged (wrong-dim) row
    dim_probe = emb.select(F.size("embedding").alias("d")).first()["d"]
    edges = spark.createDataFrame(
        [(900001, None), (900002, [0.5] * (dim_probe // 2))],
        f"vec_id long, embedding array<float>",
    )
    vectors = emb.unionByName(edges)
    cents = SIM.deterministic_centroids(emb, 16)

    got = SIM.assign_clusters(vectors, cents)

    joined = vectors.crossJoin(F.broadcast(cents))
    cos = K.cosine_similarity(
        F.col("embedding"), F.col("centroid"), None, F.col("centroid_mag")
    )
    best = F.max_by(
        F.struct(F.col("cluster_id"), F.col("_sim")),
        F.struct(F.col("_sim").alias("s"), (-F.col("cluster_id")).alias("nc")),
    )
    want = (
        joined.withColumn("_sim", cos)
        .groupBy("vec_id")
        .agg(F.first(F.col("embedding")).alias("embedding"), best.alias("_b"))
        .select(
            "vec_id",
            F.col("_b.cluster_id").alias("cluster_id"),
            F.round(F.col("_b._sim"), 9).alias("centroid_sim"),
        )
    )
    g = {r["vec_id"]: (r["cluster_id"], r["centroid_sim"]) for r in got.collect()}
    w = {r["vec_id"]: (r["cluster_id"], r["centroid_sim"]) for r in want.collect()}
    assert g == w
    # empty centroid table -> empty assignment (the old join semantics)
    empty_c = cents.where("cluster_id < 0")
    assert SIM.assign_clusters(vectors, empty_c).count() == 0


def test_semantic_dedup_plan_broadcasts_centroids(spark):
    """SemDeDup's cluster assignment must broadcast the centroid table —
    no shuffle of the vectors for the assignment step."""
    from wpvectordb_spark.operators import dedup as D

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _plan(D.semantic_dedup(emb, threshold=0.3, n_clusters=16))
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_cap_per_domain_prefilter_below_rank_window(spark):
    """The hash-threshold prefilter must sit BELOW the rank window in the
    plan (children print after parents), so the window only ever sorts
    the ~N surviving rows per domain, never a whole mega-domain."""
    from wpvectordb_spark.operators import curation as CU

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(CU.cap_per_domain(docs, max_docs=10))
    lines = plan.splitlines()
    win = next(i for i, ln in enumerate(lines) if "Window [" in ln)
    # (10 + margin 38) * 2^32 = the integer threshold numerator for N=10
    thr = next(i for i, ln in enumerate(lines) if "206158430208" in ln)
    assert win < thr, plan


def test_duplicate_span_plan_shape(spark):
    """ExactSubstr span stats: no Sort/Window operators (coverage is an
    in-row fold over collect_list, not a sort window), no cartesian
    product, and the dup-window mark is a LEFT SEMI join — the text
    column never appears past the window-hash projection."""
    from wpvectordb_spark.operators import dedup as D

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(D.duplicate_span_stats(docs, k=8))
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "LeftSemi" in plan, plan
    # distinct-doc counting is the two-level partial aggregate, not a
    # global distinct: every HashAggregate keeps the 8-byte hash key
    assert "HashAggregate" in plan, plan


def test_remove_duplicate_spans_plan_shape(spark):
    """The cut step stays join/agg-shaped: no Window, no cartesian
    product; the dup-window mark is LEFT SEMI and the kept-token filter
    is LEFT ANTI (position-keyed, output-bound covered set)."""
    from wpvectordb_spark.operators import dedup as D

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(D.remove_duplicate_spans(docs, k=8))
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan


def test_dsir_plan_shape(spark):
    """DSIR: the model join must be broadcast (<= n_buckets rows), the
    top-k a TakeOrdered merge; no Window, no cartesian product."""
    from wpvectordb_spark.operators import curation as CU

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    tgt = docs.where(F.col("doc_id") < 100)
    plan = _plan(CU.dsir_topk(docs, tgt, k=50))
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_retention_and_funnel_plan_shapes(spark):
    """Retention cohorts: agg/join-shaped, no Window, no cartesian.
    Sequence funnel: ONE user-keyed aggregate regardless of step count
    (no per-step join chain)."""
    from wpvectordb_spark.operators import events as E
    from wpvectordb_spark.sources.loaders import load_events

    ev = load_events(spark, SF_DIR)
    plan = _plan(E.retention_cohorts(ev))
    assert "Window" not in plan and "CartesianProduct" not in plan, plan

    plan = _plan(E.sequence_funnel(ev, ["signup", "click", "purchase", "error"]))
    assert "Window" not in plan and "CartesianProduct" not in plan, plan
    import re

    joins = len(re.findall(r"Join", plan))
    assert joins == 0, plan  # collect + in-row mins: no joins at all


def test_round7_session3_plan_shapes(spark):
    """Plan shapes of the session-3 operators: the domain gate and
    epoch expansion broadcast their tiny per-stratum frames (corpus
    never shuffle-joins); pooling is ONE aggregation exchange; span
    decontamination's holdout membership join broadcasts by default and
    pins the shuffle form on request (same contract as decontaminate)."""
    import re

    from wpvectordb_spark.operators import curation as CU
    from wpvectordb_spark.operators import similarity as SIM

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    scored = docs.select(
        "doc_id", F.col("source").alias("domain"), F.lit(0.5).alias("quality")
    )
    plan = _plan(CU.domain_quality_filter(scored, 0.5))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan

    plan = _plan(CU.expand_budgets(docs.select("doc_id", "lang"), {"en": 10}))
    # the broadcast of the counts frame is FORCED in code (F.broadcast)
    # and since round 11 lives inside the lazy-localCheckpoint fan-out
    # barrier, so it no longer shows in the downstream plan (the barrier
    # leaf does); the only join the visible plan may contain is the
    # remainder-sized extras left join on (id, stratum)
    assert "Scan ExistingRDD" in plan, plan
    assert plan.count("SortMergeJoin") <= 1, plan
    assert "CartesianProduct" not in plan, plan

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    chunks = emb.select(
        (F.col("vec_id") / 5).cast("long").alias("doc_id"),
        F.col("vec_id").alias("chunk_id"),
        "embedding",
    )
    plan = _plan(SIM.pool_embeddings(chunks))
    assert len(re.findall(r"Exchange", plan.split("Initial Plan")[0])) == 1, plan
    assert "Join" not in plan, plan

    corpus, hold = docs.where(F.col("doc_id") >= 20), docs.where(F.col("doc_id") < 20)
    plan = _plan(CU.decontaminate_spans(corpus, hold, k=4))
    assert "BroadcastHashJoin" in plan, plan
    plan = _plan(CU.decontaminate_spans(corpus, hold, k=4, broadcast_holdout=False))
    h_joins = [ln for ln in plan.splitlines() if "LeftSemi" in ln]
    assert h_joins and all("Broadcast" not in ln for ln in h_joins), h_joins


def test_round8_plan_shapes(spark):
    """Round-8 operators: soft dedup's size frame broadcasts back to the
    component list (the corpus side of the completion moves only ids,
    anti-joined); media exact dedup is the Arrow feature pass + ONE hash
    aggregation — payloads never reach an exchange; the decontaminate
    hash form broadcasts its precomputed holdout set."""
    import re

    from wpvectordb_spark.functions import text as X
    from wpvectordb_spark.operators import curation as CU
    from wpvectordb_spark.operators import dedup as D
    from wpvectordb_spark.operators import multimodal as M

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    comp = docs.select(
        "doc_id", (F.col("doc_id") % 7).alias("component_id")
    )
    plan = _plan(D.soft_dedup_weights(comp, docs.select("doc_id")))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan

    plan = _plan(M.media_exact_dedup(M.media_from_documents(docs)))
    final = plan.split("Initial Plan")[0]
    # one aggregation exchange over the 16-byte feature key; the payload
    # column exists only below the mapInPandas stage
    assert len(re.findall(r"Exchange", final)) == 1, plan
    assert "Join" not in plan, plan

    hold = (
        docs.where(F.col("doc_id") < 20)
        .select(F.explode(X.shingle_hashes("text", 3)).alias("h"))
        .distinct()
    )
    plan = _plan(
        CU.decontaminate_against_hashes(docs.where(F.col("doc_id") >= 20), hold)
    )
    assert "BroadcastHashJoin" in plan, plan


def test_round9_plan_shapes(spark):
    """Round-9 operators: weighted_budget_sample's stats frame BROADCASTS
    back (one stratum-agg exchange + one window exchange, never a
    shuffled join of the doc side against #strata rows); the densified
    anomaly monitor's spine join stays window-count-sized with no
    cartesian; byte_verify dedup keeps the single-aggregation shape —
    payloads still never reach an exchange."""
    import re

    from wpvectordb_spark.operators import curation as CU
    from wpvectordb_spark.operators import events as E
    from wpvectordb_spark.operators import multimodal as M

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    weighted = docs.select(
        "doc_id", "lang", F.lit(1.0).alias("weight")
    )
    plan = _plan(CU.weighted_budget_sample(weighted, {"en": 10.0}))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    final = plan.split("Initial Plan")[0]
    # stats agg + the cumsum window partitioning; the broadcast side is
    # a BroadcastExchange, not a hash shuffle
    assert len(re.findall(r"Exchange hashpartitioning", final)) <= 2, plan

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    plan = _plan(E.windowed_anomaly_scores(ev, densify=True))
    assert "CartesianProduct" not in plan, plan

    plan = _plan(
        M.media_exact_dedup(M.media_from_documents(docs), byte_verify=True)
    )
    final = plan.split("Initial Plan")[0]
    assert len(re.findall(r"Exchange", final)) == 1, plan
    assert "Join" not in plan, plan


def test_round10_plan_shapes(spark):
    """Round-10 operators: hll_registers is ONE map-side-combinable
    aggregation (a single hash exchange, no join — events collapse to
    register rows before anything shuffles); the full rollup adds only
    the #registers-row estimate agg; retrain_decision is one global
    aggregation with no window or join."""
    import re

    from wpvectordb_spark.operators import events as E
    from wpvectordb_spark.operators import similarity as SIM

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    day = ev.select(
        F.date_trunc("day", F.col("ts").cast("timestamp")).alias("ws"),
        "event_type",
        "user_id",
    )
    plan = _plan(E.hll_registers(day, ["ws", "event_type"]))
    final = plan.split("Initial Plan")[0]
    assert len(re.findall(r"Exchange hashpartitioning", final)) == 1, plan
    assert "Join" not in plan and "CartesianProduct" not in plan, plan

    plan = _plan(E.approx_distinct_rollup(ev))
    final = plan.split("Initial Plan")[0]
    assert len(re.findall(r"Exchange hashpartitioning", final)) <= 2, plan
    assert "Join" not in plan and "CartesianProduct" not in plan, plan

    rep = spark.createDataFrame(
        [(0, 10, 10, 1.0)], "query_id long, n_hit long, n_exact long,"
        " recall double"
    )
    plan = _plan(SIM.retrain_decision(rep))
    assert "Window" not in plan and "Join" not in plan, plan


def test_operators_keep_one_barrier_and_one_sketch_engine():
    """Static guard over wpvectordb_spark/operators/*.py (no Spark
    session).  Shared intermediates go through ``barrier.call_barrier``,
    and a driver-sized intermediate is collected: any
    ``.localCheckpoint(...)`` call — bare, ``eager=True`` or otherwise —
    ignores ``spark.wpvectordb.barrier``, and the eager forms start a job
    at call time.  It is allowed only in ``connected_components``, whose
    per-round checkpoint exists to truncate lineage.  And the text sketches have one engine: an
    ``engine`` parameter is allowed only where both forms are registry
    arms (``embedding_near_dup_pairs`` and its ``semantic_dedup``
    pass-through)."""
    import ast
    import glob
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    offenders = []

    def visit(node, path, scope):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            scope = scope + [node.name]
            args = node.args.posonlyargs + node.args.args + node.args.kwonlyargs
            if any(a.arg == "engine" for a in args) and node.name not in (
                "embedding_near_dup_pairs",
                "semantic_dedup",
            ):
                offenders.append(f"{path}:{node.lineno} {node.name}(engine=)")
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "localCheckpoint"
            and "connected_components" not in scope
        ):
            offenders.append(f"{path}:{node.lineno} .localCheckpoint(...)")
        for child in ast.iter_child_nodes(node):
            visit(child, path, scope)

    paths = sorted(glob.glob(os.path.join(root, "wpvectordb_spark", "operators", "*.py")))
    assert paths
    for path in paths:
        with open(path) as fh:
            visit(ast.parse(fh.read()), os.path.relpath(path, root), [])
    assert not offenders, offenders


def test_filesystem_calls_go_through_fsutil():
    """Static guard over wpvectordb_spark/ (no Spark session): fsutil.py
    is the package's one storage layer, so no other module may touch
    the filesystem with ``os``/``shutil``/builtin ``open`` — those calls
    see a Hadoop URI as a relative local path and resolve nothing
    through the session's Hadoop conf.  Path-string helpers
    (``os.path.join``), ``os.environ`` and ``tempfile`` defaults for
    throwaway directories are not filesystem surgery and stay
    allowed."""
    import ast
    import glob
    import os

    banned = {
        "os." + n
        for n in (
            "rename", "renames", "replace", "listdir", "scandir", "walk",
            "makedirs", "mkdir", "remove", "unlink", "rmdir", "removedirs",
        )
    } | {"os.path." + n for n in ("exists", "isdir", "isfile", "getsize", "getmtime")}

    def dotted(node):
        parts = []
        while isinstance(node, ast.Attribute):
            parts.append(node.attr)
            node = node.value
        if isinstance(node, ast.Name):
            return ".".join([node.id] + parts[::-1])
        return None

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = sorted(
        glob.glob(os.path.join(root, "wpvectordb_spark", "**", "*.py"), recursive=True)
    )
    assert paths
    offenders = []
    for path in paths:
        rel = os.path.relpath(path, root)
        if rel == os.path.join("wpvectordb_spark", "fsutil.py"):
            continue
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                mods = [node.module or ""]
                if node.module in ("os", "os.path"):
                    mods += [f"{node.module}.{a.name}" for a in node.names]
            elif isinstance(node, ast.Call):
                name = dotted(node.func)
                mods = [name] if name else []
            else:
                continue
            for m in mods:
                if m in banned or m.split(".")[0] == "shutil" or m == "open":
                    offenders.append(f"{rel}:{node.lineno} {m}")
    assert not offenders, offenders


def test_global_windows_carry_bounded_annotation():
    """Every Window.orderBy WITHOUT a partitionBy is a single-partition
    sort — a scale-killer unless its input is provably bounded.  The
    convention (round-10 verdict item 7): each such site carries a
    `# bounded(<=N): why` comment within the five preceding lines, so
    the next unbounded one cannot hide among the known-benign
    WindowExec warnings."""
    import glob
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sources = glob.glob(os.path.join(root, "wpvectordb_spark", "**", "*.py"),
                        recursive=True)
    sources.append(os.path.join(root, "__spark_entry__.py"))
    offenders = []
    for path in sources:
        lines = open(path).read().splitlines()
        for i, line in enumerate(lines):
            if not re.search(r"\bWindow\.orderBy\(", line):
                continue
            ctx = "\n".join(lines[max(0, i - 5): i + 1])
            if "# bounded(" not in ctx:
                offenders.append(f"{os.path.relpath(path, root)}:{i + 1}")
    assert not offenders, (
        "global Window.orderBy without a `# bounded(<=N): why` "
        f"annotation: {offenders}"
    )
