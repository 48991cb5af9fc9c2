"""Compaction / clustering maintenance (operators/maintenance.py): row
preservation under the crash-safe swap, file-count bin-packing, and the
measured data-skipping payoff of sort and Z-order clustering (parquet
footer min/max via pyarrow — the same stats a reader prunes with)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from wpvectordb_spark.operators import maintenance as M


def _events(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))


def _write_fragmented(spark, path: str, n_files: int = 32):
    """A deliberately shuffled, over-fragmented copy of events: every file
    spans the whole user_id/value domain (the no-data-skipping worst
    case) and the file count is writer-parallelism-sized."""
    (
        _events(spark)
        .orderBy(F.xxhash64("event_id"))  # deterministic shuffle of the order
        .repartition(n_files)
        .write.mode("overwrite")
        .parquet(path)
    )


def test_compact_preserves_rows_and_bin_packs(spark, tmp_path):
    path = str(tmp_path / "t")
    _write_fragmented(spark, path, 32)
    before = M.table_file_stats(spark, path)
    assert before["n_files"] >= 32

    report = M.compact_table(spark, path, target_file_bytes=1 << 40)
    assert report["skipped"] is False
    assert report["after"]["n_files"] == 1  # everything fits one target file

    got = spark.read.parquet(path)
    want = _events(spark)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # crash-swap debris cleaned up, snapshot committed
    assert not os.path.exists(path + "__staging")
    assert not os.path.exists(path + "__old")
    assert os.path.exists(os.path.join(path, "_SUCCESS"))


def test_compact_targets_file_count(spark, tmp_path):
    path = str(tmp_path / "t")
    _write_fragmented(spark, path, 32)
    total = M.table_file_stats(spark, path)["total_bytes"]
    report = M.compact_table(spark, path, target_file_bytes=max(1, total // 8))
    # range partitioner lands on the requested count (+/- sampling slack)
    assert 6 <= report["after"]["n_files"] <= 10
    assert report["after"]["n_files"] < report["before"]["n_files"]


def test_compact_skips_already_packed_table(spark, tmp_path):
    path = str(tmp_path / "t")
    _events(spark).coalesce(1).write.parquet(path)
    report = M.compact_table(spark, path, target_file_bytes=1 << 40)
    assert report["skipped"] is True
    # ... but an explicit clustering request always rewrites
    report = M.compact_table(
        spark, path, target_file_bytes=1 << 40, sort_by=["user_id"]
    )
    assert report["skipped"] is False


def test_sorted_compaction_enables_point_pruning(spark, tmp_path):
    path = str(tmp_path / "t")
    _write_fragmented(spark, path, 16)

    probe = _events(spark).agg(F.expr("percentile(user_id, 0.5)")).first()[0]
    probe = int(probe)

    unsorted = M.data_skipping_stats(path, "user_id")
    assert M.scan_fraction(unsorted, probe) >= 0.9  # every file overlaps

    total = M.table_file_stats(spark, path)["total_bytes"]
    M.compact_table(
        spark, path, target_file_bytes=max(1, total // 8), sort_by=["user_id"]
    )
    stats = M.data_skipping_stats(path, "user_id")
    assert len(stats) >= 4
    # disjoint ranges: a point predicate touches at most 2 files (the
    # probe value can straddle one boundary)
    assert M.scan_fraction(stats, probe) <= 2 / len(stats) + 1e-9
    # rows survive the clustered rewrite too
    assert spark.read.parquet(path).count() == _events(spark).count()


def test_zorder_compaction_prunes_on_both_columns(spark, tmp_path):
    path = str(tmp_path / "t")
    _write_fragmented(spark, path, 16)

    mid = (
        _events(spark)
        .agg(
            F.expr("percentile(user_id, 0.5)").alias("u"),
            F.expr("percentile(value, 0.5)").alias("v"),
        )
        .first()
    )
    probe_u, probe_v = int(mid["u"]), float(mid["v"])

    for col, probe in (("user_id", probe_u), ("value", probe_v)):
        assert M.scan_fraction(M.data_skipping_stats(path, col), probe) >= 0.9

    total = M.table_file_stats(spark, path)["total_bytes"]
    report = M.compact_table(
        spark,
        path,
        target_file_bytes=max(1, total // 64),
        zorder_by=["user_id", "value"],
    )
    n = report["after"]["n_files"]
    assert n >= 32
    # the Morton interleave gives EVERY listed column locality: ~64 files
    # = 6 z-bits = 3 bits/dimension, so each file spans ~1/8 of each
    # domain and a MEDIAN point probe (the worst case — it sits on the
    # top-level curve boundary) still prunes over half the files on BOTH
    # columns (measured 0.33 / 0.05 here; an ordinary sort prunes only
    # its leading column — see the contrast test below)
    for col, probe in (("user_id", probe_u), ("value", probe_v)):
        frac = M.scan_fraction(M.data_skipping_stats(path, col), probe)
        assert frac <= 0.5, (col, frac)

    got = spark.read.parquet(path)
    want = _events(spark)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_plain_sort_does_not_prune_trailing_column(spark, tmp_path):
    """The motivating contrast for Z-order: sort_by=[user_id, value]
    clusters user_id perfectly but leaves value unpruned (each file still
    spans value's whole domain), while the zorder test above prunes
    both."""
    path = str(tmp_path / "t")
    _write_fragmented(spark, path, 16)
    total = M.table_file_stats(spark, path)["total_bytes"]
    M.compact_table(
        spark,
        path,
        target_file_bytes=max(1, total // 16),
        sort_by=["user_id", "value"],
    )
    probe_v = float(
        _events(spark).agg(F.expr("percentile(value, 0.5)")).first()[0]
    )
    frac = M.scan_fraction(M.data_skipping_stats(path, "value"), probe_v)
    assert frac >= 0.9


def test_zorder_key_guards():
    with pytest.raises(ValueError, match="62"):
        M.zorder_key(None, ["a", "b"], bits=32)
    with pytest.raises(ValueError, match="at least one"):
        M.zorder_key(None, [], bits=8)


def test_zorder_key_handles_constant_and_null_columns(spark, tmp_path):
    """Degenerate dimensions must not break the key: a constant column
    contributes zero bits; NULLs cluster at the curve origin."""
    df = spark.createDataFrame(
        [(i, 7.0, None if i % 3 == 0 else float(i)) for i in range(100)],
        "id long, const double, sparse double",
    )
    key = M.zorder_key(df, ["const", "sparse"], bits=4)
    rows = df.select("id", key.alias("z")).collect()
    assert all(r["z"] is not None and r["z"] >= 0 for r in rows)
    # NULL sparse values all land on one key (bucket 0 in both dims)
    null_keys = {r["z"] for r in rows if r["id"] % 3 == 0}
    assert len(null_keys) == 1


def test_zorder_key_refuses_string_and_accepts_temporal(spark):
    """A string clustering column would NULL-cast into one bucket and
    silently produce a random layout that claims to be clustered —
    refuse.  Date and timestamp columns go through numeric views."""
    df = spark.sql(
        "SELECT id, CAST(id AS STRING) s, DATE'2024-01-01' + CAST(id AS INT) d, "
        "TIMESTAMP'2024-01-01' + make_interval(0,0,0,0,0,0,id) t "
        "FROM range(200)"
    )
    with pytest.raises(ValueError, match="non-numeric"):
        M.zorder_key(df, ["s"], bits=4)
    rows = df.select("id", M.zorder_key(df, ["d", "t"], bits=4).alias("z")).collect()
    assert all(r["z"] is not None for r in rows)
    # both temporal columns increase with id, so the z key must too
    ordered = sorted(rows, key=lambda r: r["id"])
    zs = [r["z"] for r in ordered]
    assert zs == sorted(zs)


def test_compact_refuses_missing_table(spark, tmp_path):
    with pytest.raises(ValueError, match="no parquet files"):
        M.compact_table(spark, str(tmp_path / "nope"))


def _emb(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))


def test_compact_refuses_partitioned_layout(spark, tmp_path):
    """Flat compaction of a Hive-partitioned table would silently destroy
    partition pruning for every reader — it must refuse and point at the
    partition-preserving form."""
    path = str(tmp_path / "t")
    _events(spark).withColumn("b", F.col("user_id") % 4).write.partitionBy(
        "b"
    ).parquet(path)
    assert M.partition_columns(spark, path) == ["b"]
    with pytest.raises(ValueError, match="compact_partitioned_table"):
        M.compact_table(spark, path)


def test_compact_refuses_pending_delta_log(spark, tmp_path):
    """Both rewrites read only a table's base; over a VectorTable with
    pending log entries their swap would also delete the deltas and the
    tombstones.  They must refuse and leave the table as it was."""
    import json

    from wpvectordb_spark import fsutil
    from wpvectordb_spark.table import VectorTable

    vt = VectorTable(spark, str(tmp_path / "vt"), vector_length=2)
    vt.init()
    vt.insert_all(1, [[1.0, 0.0], [0.0, 1.0]])
    vt.delete(1)
    with pytest.raises(ValueError, match="pending delta-log"):
        M.compact_table(spark, vt.path, sort_by=["post_id"])
    assert [(r["id"], r["sequence_no"]) for r in vt.get_all().collect()] == [(2, 1)]
    assert vt.compact()["skipped"] is False  # the facade folds instead
    M.compact_table(spark, vt.path, sort_by=["post_id"])  # empty log: allowed

    path = str(tmp_path / "p")
    spark.range(8).withColumn("b", F.col("id") % 2).write.partitionBy("b").parquet(path)
    entry = {"seq": 1, "data": False, "post_ids": [], "ids": [3]}
    fsutil.write_text(spark, f"{path}/_log", json.dumps({"entries": [entry]}))
    with pytest.raises(ValueError, match="pending delta-log"):
        M.compact_partitioned_table(spark, path)
    assert spark.read.parquet(path).count() == 8


def test_compact_partitioned_preserves_layout_and_rows(spark, tmp_path):
    path = str(tmp_path / "t")
    ev = _events(spark).withColumn("b", (F.col("user_id") % 4).cast("int"))
    # three appends fragment every partition dir
    for i in range(3):
        ev.where(F.col("event_id") % 3 == i).repartition(8).write.mode(
            "append"
        ).partitionBy("b").parquet(path)
    one_dir = os.path.join(path, "b=0")
    frag = len([f for f in os.listdir(one_dir) if f.endswith(".parquet")])
    assert frag >= 3

    report = M.compact_partitioned_table(spark, path, target_file_bytes=1 << 40)
    assert report["partition_columns"] == ["b"]
    # hash-on-partition-cols: exactly one file per partition dir
    for d in os.listdir(path):
        if d.startswith("b="):
            files = [
                f
                for f in os.listdir(os.path.join(path, d))
                if f.endswith(".parquet")
            ]
            assert len(files) == 1, (d, files)
    got = spark.read.parquet(path)
    assert got.count() == ev.count()
    assert got.exceptAll(ev).count() == 0
    # partition pruning still works after the rewrite
    plan = (
        got.where(F.col("b") == 1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "b" in plan


def test_optimize_index_defragments_without_changing_results(
    spark, tmp_path
):
    """Build + two appends fragment the cluster dirs; optimize_index folds
    them back to one file per cluster, results and partition pruning
    identical."""
    from wpvectordb_spark.operators import similarity as SIM

    emb = _emb(spark)
    path = str(tmp_path / "index")
    SIM.build_ivf_index(emb.where(F.col("vec_id") % 3 == 0), path, n_clusters=8)
    SIM.append_to_ivf_index(spark, emb.where(F.col("vec_id") % 3 == 1), path)
    SIM.append_to_ivf_index(spark, emb.where(F.col("vec_id") % 3 == 2), path)

    vec_dir = os.path.join(path, "vectors")
    frag = M.table_file_stats(spark, vec_dir)["n_files"]
    n_dirs = len([d for d in os.listdir(vec_dir) if d.startswith("cluster_id=")])
    assert frag > n_dirs  # appends left >1 file in at least one dir

    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    before = [tuple(r) for r in SIM.ivf_topk_from_index(spark, path, qv, k=10, n_probe=4).collect()]

    report = SIM.optimize_index(spark, path)
    assert M.table_file_stats(spark, vec_dir)["n_files"] <= n_dirs

    res = SIM.ivf_topk_from_index(spark, path, qv, k=10, n_probe=4)
    assert [tuple(r) for r in res.collect()] == before
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster_id" in plan
    assert report["after"]["n_files"] < report["before"]["n_files"]


def test_optimize_index_on_ivfpq_keeps_serving_identical(spark, tmp_path):
    """Same maintenance over the combined IVFPQ layout: codes table
    defragments, the params sidecar and codebooks are untouched, and
    serving (including a filtered query) returns identical rows."""
    from wpvectordb_spark.operators import similarity as SIM

    emb = _emb(spark)
    path = str(tmp_path / "index")
    SIM.build_ivfpq_index(
        emb.where(F.col("vec_id") % 2 == 0), path, dim=64, n_clusters=8,
        m=8, n_codes=16,
    )
    SIM.append_to_ivfpq_index(spark, emb.where(F.col("vec_id") % 2 == 1), path)

    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    kw = dict(dim=64, m=8, k=5, n_probe=4)
    before = [tuple(r) for r in SIM.ivfpq_topk(spark, path, qv, **kw).collect()]
    before_f = [
        tuple(r)
        for r in SIM.ivfpq_topk(spark, path, qv, where="vec_id >= 10", **kw).collect()
    ]

    SIM.optimize_index(spark, path)
    assert [tuple(r) for r in SIM.ivfpq_topk(spark, path, qv, **kw).collect()] == before
    assert [
        tuple(r)
        for r in SIM.ivfpq_topk(spark, path, qv, where="vec_id >= 10", **kw).collect()
    ] == before_f


def test_compaction_crash_window_recovers(spark, tmp_path):
    """Simulate the kill between _write_snapshot's renames (table present
    only as __old): recover_table renames it back, a re-run compaction
    over the recovered table succeeds, rows intact.  vacuum refuses to
    delete ANYTHING while the live dir is missing — __old is the only
    copy, and __staging may hold a completed rewrite from a crash
    between the swap's renames (it only becomes debris once the live
    copy exists again)."""
    path = str(tmp_path / "t")
    _write_fragmented(spark, path, 8)
    n = spark.read.parquet(path).count()
    os.rename(path, path + "__old")
    os.makedirs(path + "__staging")  # staging left by the dying swap

    assert M.vacuum(spark, path) == []  # both survive: live dir missing
    assert os.path.isdir(path + "__old")
    assert os.path.isdir(path + "__staging")

    assert M.recover_table(spark, path) is True
    assert M.recover_table(spark, path) is False  # idempotent
    # live copy restored -> the stale staging is now removable debris
    assert M.vacuum(spark, path) == [path + "__staging"]
    report = M.compact_table(spark, path, target_file_bytes=1 << 40)
    assert report["after"]["n_files"] == 1
    assert spark.read.parquet(path).count() == n
    assert M.vacuum(spark, path) == []  # nothing left to clean


def test_queue_facade_compact(spark, tmp_path):
    from wpvectordb_spark.table import VectorTableQueue

    q = VectorTableQueue(spark, str(tmp_path / "q"))
    q.init()
    for batch in ([1, 2, 3], [4, 5], [6]):
        q.add_posts(batch)  # each write = one snapshot rewrite
    before = sorted(r["job_id"] for r in q.df().collect())
    report = q.compact()
    assert report["skipped"] is False
    assert sorted(r["job_id"] for r in q.df().collect()) == before


def test_corpus_profile_and_temperature_edges(spark):
    """Edge sweep for the new ops: empty frames and NULL text must not
    crash (typed results, NULL-aware aggregates)."""
    from wpvectordb_spark.operators import curation as CU
    from wpvectordb_spark.operators import text_analysis as TA

    empty = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string"
    )
    assert TA.corpus_profile(empty).collect() == []
    assert CU.temperature_budgets(empty, total_budget=1000) == {}

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox and the lazy dog", "en", "web"),
            (2, None, "en", "web"),
            (3, None, "xx", "web"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    rows = {(r["lang"], r["source"]): r for r in TA.corpus_profile(docs).collect()}
    en = rows[("en", "web")]
    assert en["n_docs"] == 2  # NULL text still counts as a document
    assert en["avg_quality"] is not None
    xx = rows[("xx", "web")]
    assert xx["n_docs"] == 1
    # NULL text scores the degenerate-text floor (0.39: no stopwords, no
    # tokens, no punctuation) in BOTH engines — deterministic, not NULL
    assert xx["avg_quality"] == 0.39
    assert xx["total_tokens"] is None or xx["total_tokens"] == 0


def test_facade_compact_roundtrip(spark, tmp_path):
    """VectorTable.compact(): snapshot-swap rewrite clustered on the
    read-path key (post_id, sequence_no); contents identical after."""
    from wpvectordb_spark.table import VectorTable

    t = VectorTable(spark, str(tmp_path / "vt"), vector_length=4)
    t.init()
    t.insert_all(1, [[0.1, 0.2, 0.3, 0.4], [0.5, 0.6, 0.7, 0.8]])
    t.insert_all(2, [[1.0, 1.0, 1.0, 1.0]])
    before = [tuple(r) for r in t.get_all().select("post_id", "sequence_no").collect()]
    report = t.compact()
    assert report["skipped"] is False
    after = [tuple(r) for r in t.get_all().select("post_id", "sequence_no").collect()]
    assert sorted(before) == sorted(after)
