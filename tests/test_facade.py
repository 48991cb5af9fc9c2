"""End-to-end facade tests: the reference's class API driven through a
full lifecycle over parquet-backed state."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from wpvectordb_spark.table import VectorTable, VectorTableQueue


def _as_uri(path: str) -> str:
    """The single-slash ``file:`` URI form Hadoop and Spark print for a
    local path — state must behave identically under both spellings."""
    return "file:" + path


def _check_vector_table_lifecycle(spark, path: str) -> None:
    vt = VectorTable(spark, path, vector_length=4)
    vt.init()
    assert vt.table_exists()
    assert vt.get_vector_count() == 0

    # insert_all: document with 2 chunks
    vt.insert_all(100, [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]])
    assert vt.get_vector_count() == 2
    chunks = vt.get_all_for_post(100).orderBy("sequence_no").collect()
    assert [c["sequence_no"] for c in chunks] == [0, 1]
    assert chunks[0]["magnitude"] == pytest.approx(1.0)
    assert chunks[0]["binary_code"] == [8]  # bits 1000 -> 8

    # upsert replaces one chunk, derived columns refresh
    vt.upsert(100, 0, [3.0, 4.0, 0.0, 0.0])
    got = vt.get(100, 0).collect()[0]
    assert got["magnitude"] == pytest.approx(5.0)
    assert vt.get_vector_count() == 2

    # point reads
    some_id = vt.get_all().collect()[0]["id"]
    assert vt.id(some_id).count() == 1
    assert vt.ids([some_id]).count() == 1
    assert vt.get_latest_updated(100).count() == 1

    # search end-to-end over stored index
    top = vt.search([3.0, 4.0, 0.0, 0.0], n=1).collect()
    assert top[0]["post_id"] == 100
    assert top[0]["cosine_similarity"] == pytest.approx(1.0, abs=1e-9)

    # delete + drop
    vt.delete(some_id)
    assert vt.get_vector_count() == 1
    vt.drop_table()
    assert not vt.table_exists()


def test_vector_table_lifecycle(spark, tmp_path):
    _check_vector_table_lifecycle(spark, str(tmp_path / "vectors"))


def test_vector_table_lifecycle_file_uri(spark, tmp_path):
    _check_vector_table_lifecycle(spark, _as_uri(str(tmp_path / "vectors")))


def test_vector_table_replacement_semantics(spark, tmp_path):
    vt = VectorTable(spark, str(tmp_path / "v2"), vector_length=2)
    vt.init()
    vt.insert_all(7, [[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]])
    assert vt.get_all_for_post(7).count() == 3
    vt.insert_all(7, [[9.0, 9.0]])  # document replacement (C8)
    assert vt.get_all_for_post(7).count() == 1


def _check_queue_lifecycle(spark, path: str) -> None:
    q = VectorTableQueue(spark, path)
    q.init()
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    q.add_posts([10, 20, 30], now=t0)
    q.add_post(20, now=t0)  # duplicate -> dropped
    assert q.get_total_records() == 3
    assert q.get_stats() == {"completed": 0, "failed": 0, "pending": 3, "processing": 0}

    batch = q.get_next_batch(2, now=t0 + dt.timedelta(minutes=1))
    assert batch.count() == 2
    assert q.get_stats() == {"completed": 0, "failed": 0, "pending": 1, "processing": 2}

    claimed_ids = [r["job_id"] for r in batch.collect()]
    q.update_status([claimed_ids[0]], "completed", now=t0 + dt.timedelta(minutes=2))
    q.update_status([claimed_ids[1]], "failed", "boom", now=t0 + dt.timedelta(minutes=2))
    st = q.get_stats()
    assert st["completed"] == 1 and st["failed"] == 1

    retry = q.get_posts_to_retry().collect()
    assert [r["job_id"] for r in retry] == [claimed_ids[1]]

    q.reset_post(30)
    q.delete_record(claimed_ids[0])
    assert q.get_total_records() == 2
    page = q.get_page_of_records(1, per_page=10)
    assert page.count() == 2


def test_queue_lifecycle(spark, tmp_path):
    _check_queue_lifecycle(spark, str(tmp_path / "queue"))


def test_queue_lifecycle_file_uri(spark, tmp_path):
    _check_queue_lifecycle(spark, _as_uri(str(tmp_path / "queue")))


class _Killed(Exception):
    """The simulated process death at a swap boundary."""


# each boundary of fsutil.replace_dir -> (the fsutil call that dies,
# which of its path arguments marks the boundary)
_KILL_POINTS = {
    # the live copy is about to be moved aside: staging is built, live intact
    "before_aside": ("rename", lambda src, dst: dst.endswith("__old")),
    # live moved aside, staging not yet promoted: the only copy is __old
    "between_renames": ("rename", lambda src, dst: src.endswith("__staging")),
    # promoted, the old copy not yet dropped: live + stale __old
    "before_drop": ("delete", lambda p: p.endswith("__old")),
}


def _facade_site(spark, path):
    from wpvectordb_spark.table import _read_log

    vt = VectorTable(spark, path, vector_length=2)
    vt.init()
    vt.insert_all(1, [[1.0, 0.0]])
    vt.insert_all(2, [[0.0, 1.0]])

    def read():  # a facade read recovers first
        rows = sorted((r["post_id"], r["sequence_no"]) for r in vt.get_all().collect())
        return len(_read_log(spark, path)), rows

    # the fold keeps the rows and empties the log
    return vt.compact, read, (0, [(1, 0), (2, 0)])


def _compact_site(partitioned):
    def site(spark, path):
        from wpvectordb_spark.operators import maintenance as M

        df = spark.range(40).withColumn("b", (F.col("id") % 2).cast("int"))
        writer = df.repartition(4).write
        (writer.partitionBy("b") if partitioned else writer).parquet(path)
        rows = sorted(r["id"] for r in df.collect())
        compact = M.compact_partitioned_table if partitioned else M.compact_table

        def read():  # the standalone-table recovery entry point
            M.recover_table(spark, path)
            got = sorted(r["id"] for r in spark.read.parquet(path).collect())
            return M.table_file_stats(spark, path)["n_files"], got

        # the rewrite packs one file per partition dir (or one in total)
        new = (2 if partitioned else 1), rows
        return lambda: compact(spark, path, target_file_bytes=1 << 40), read, new

    return site


def _retrain_site(spark, path):
    from wpvectordb_spark.operators import similarity as SIM

    base = [(i, [1.0, 0.0]) for i in range(6)] + [
        (10 + i, [0.0, 1.0]) for i in range(6)
    ] + [(20 + i, [0.6, 0.8]) for i in range(4)]
    SIM.build_ivf_index(
        spark.createDataFrame(base, "vec_id long, embedding array<double>"),
        path,
        n_clusters=2,
    )
    q = spark.createDataFrame(
        [(0, [1.0, 0.0])], "query_id long, query_vector array<double>"
    )

    def read():  # a measurement-only loop run recovers first
        SIM.retrain_ivf_index(spark, path, q, threshold=0.0, k=3, n_probe=1, rebuild=False)
        ids = sorted(r["vec_id"] for r in spark.read.parquet(f"{path}/vectors").collect())
        return spark.read.parquet(f"{path}/centroids").count(), ids

    def crash():  # threshold above any recall: always flags, rebuilds 3 cells
        SIM.retrain_ivf_index(
            spark, path, q, threshold=1.1, k=3, n_probe=1, n_clusters=3
        )

    return crash, read, (3, sorted(i for i, _ in base))


_KILL_SITES = {
    "facade": _facade_site,
    "compact_table": _compact_site(partitioned=False),
    "compact_partitioned_table": _compact_site(partitioned=True),
    "retrain_ivf_index": _retrain_site,
}


@pytest.mark.parametrize("form", ["plain", "file_uri"])
@pytest.mark.parametrize("boundary", sorted(_KILL_POINTS))
@pytest.mark.parametrize("site", sorted(_KILL_SITES))
def test_replace_dir_kill_points(spark, tmp_path, monkeypatch, site, boundary, form):
    """Kill-point matrix over the one swap (fsutil.replace_dir): a
    process death at each rename boundary, at every call site, on a
    plain path and a file: URI, must leave data the NEXT call recovers
    to exactly one live copy — the old one if the promote never
    happened, the new one after it — with no __old left behind.  The
    unpromoted staging copy stays until the next swap clears it."""
    from wpvectordb_spark import fsutil

    local = str(tmp_path / "t")
    path = local if form == "plain" else _as_uri(local)
    crash, read, new = _KILL_SITES[site](spark, path)
    old = read()
    assert old != new

    fn, at_boundary = _KILL_POINTS[boundary]
    real = getattr(fsutil, fn)

    def dying(spark_, *paths):
        if at_boundary(*paths):
            raise _Killed(boundary)
        return real(spark_, *paths)

    monkeypatch.setattr(fsutil, fn, dying)
    with pytest.raises(_Killed):
        crash()
    monkeypatch.undo()

    assert read() == (new if boundary == "before_drop" else old)
    assert fsutil.is_dir(spark, path)
    assert not fsutil.exists(spark, path + "__old")
    assert fsutil.exists(spark, path + "__staging") == (boundary != "before_drop")


@pytest.mark.parametrize("form", ["plain", "file_uri"])
@pytest.mark.parametrize("boundary", ["before_head_rename", "after_head_rename"])
def test_log_commit_kill_points(spark, tmp_path, monkeypatch, boundary, form):
    """A write's commit point is the atomic ``_log`` head rename.  A kill
    before it leaves the old rows (the written delta is debris, and the
    next write reuses its number and overwrites it); a kill after it
    leaves the new rows."""
    from wpvectordb_spark import fsutil

    local = str(tmp_path / "t")
    path = local if form == "plain" else _as_uri(local)
    vt = VectorTable(spark, path, vector_length=2)
    vt.init()
    vt.insert_all(1, [[1.0, 0.0]])

    def rows():
        return sorted((r["id"], r["post_id"], r["sequence_no"]) for r in vt.get_all().collect())

    real = fsutil.write_text

    def dying(spark_, p, text):
        # before: only the tmp copy lands (write_text's own tmp name)
        real(spark_, p + "__tmp" if boundary == "before_head_rename" else p, text)
        raise _Killed(boundary)

    monkeypatch.setattr(fsutil, "write_text", dying)
    with pytest.raises(_Killed):
        vt.insert_all(2, [[0.0, 1.0], [1.0, 1.0]])
    monkeypatch.undo()

    debris = f"{local}/_delta-2"
    if boundary == "before_head_rename":
        assert rows() == [(1, 1, 0)]
        assert spark.read.parquet(debris).count() == 2  # uncommitted delta
        vt.insert_all(3, [[0.5, 0.5]])
        assert rows() == [(1, 1, 0), (2, 3, 0)]
        # the debris dir was overwritten, not appended to
        assert [r["post_id"] for r in spark.read.parquet(debris).collect()] == [3]
    else:
        assert rows() == [(1, 1, 0), (2, 2, 0), (3, 2, 1)]
        vt.insert_all(3, [[0.5, 0.5]])
        assert rows() == [(1, 1, 0), (2, 2, 0), (3, 2, 1), (4, 3, 0)]


def _check_log_against_model(spark, path: str, seed: int) -> None:
    """A random sequence of insert_all / upsert / delete / compact against
    a Python model of the table.  The model's rules: insert_all replaces
    the post's chunks, and new ids number on from the largest id left
    (in sequence order); upsert keeps a replaced row's id and
    created_at, and a NULL vector_type keeps the stored one; delete
    drops one id."""
    import math
    import random

    rng = random.Random(seed)
    vt = VectorTable(spark, path, vector_length=2)
    vt.init()
    # (post_id, sequence_no) -> [id, vector, vector_type, created_at]
    model: dict[tuple[int, int], list] = {}

    def top() -> int:
        return max((row[0] for row in model.values()), default=0)

    def vec():
        return [float(rng.randint(-4, 4)) / 2, float(rng.randint(1, 4)) / 2]

    for step in range(20):
        op = rng.choice(["insert_all"] * 4 + ["upsert"] * 3 + ["delete"] * 2 + ["compact"])
        if op == "insert_all":
            post, vectors = rng.randint(1, 4), [vec() for _ in range(rng.randint(0, 3))]
            vt.insert_all(post, vectors)
            model = {k: v for k, v in model.items() if k[0] != post}
            start = top()
            for i, v in enumerate(vectors):
                model[(post, i)] = [start + 1 + i, v, None, None]
        elif op == "upsert":
            # an existing key half the time: the replace path
            key = rng.choice(sorted(model)) if model and rng.random() < 0.5 else (
                rng.randint(1, 4), rng.randint(0, 3))
            v, vtype = vec(), rng.choice([None, "a", "b"])
            vt.upsert(key[0], key[1], v, vtype)
            if key in model:
                row = model[key]
                model[key] = [row[0], v, row[2] if vtype is None else vtype, row[3]]
            else:
                model[key] = [top() + 1, v, vtype, None]
        elif op == "delete":
            ids = [row[0] for row in model.values()]
            id_ = rng.choice(ids + [top() + 5])
            vt.delete(id_)
            model = {k: v for k, v in model.items() if v[0] != id_}
        else:
            vt.compact()
        rows = vt.get_all().collect()
        got = {(r["post_id"], r["sequence_no"]): r for r in rows}
        assert len(rows) == len(got) and sorted(got) == sorted(model), (step, op)
        for key, row in model.items():
            r = got[key]
            assert [r["id"], r["vector"], r["vector_type"]] == row[:3], (step, op, key)
            assert r["magnitude"] == pytest.approx(math.hypot(*row[1]))
            if row[3] is None:
                row[3] = r["created_at"]  # first sighting of a new row
            assert r["created_at"] == row[3], (step, op, key)


@pytest.mark.parametrize("form", ["plain", "file_uri"])
def test_delta_log_matches_model(spark, tmp_path, monkeypatch, form):
    from wpvectordb_spark import table

    # a short log, so the sequence also takes the fold-first path
    monkeypatch.setattr(table, "MAX_LOG_ENTRIES", 4)
    local = str(tmp_path / "t")
    # seed 17 runs every case: 3 folds, 5 replacing upserts (one with a
    # NULL vector_type), new-key upserts, empty and non-empty insert_all,
    # deletes that hit and miss, an explicit compact
    _check_log_against_model(spark, local if form == "plain" else _as_uri(local), seed=17)


def test_delta_log_reads_are_one_scan(spark, tmp_path):
    """With deltas pending, ``df()`` is ONE parquet scan and no Union,
    and the filtered search starts as many Spark jobs as after the fold;
    ``delete`` starts none."""
    import functools

    import pyarrow as pa

    from tests.test_cache_lifecycle import _jobs_started
    from wpvectordb_spark.plans.query_builder import Filter, QueryBuilder

    jobs = functools.partial(_jobs_started, spark.sparkContext)
    vt = VectorTable(spark, str(tmp_path / "t"), vector_length=4)
    vt.init()
    for post in range(1, 7):
        vt.insert_all(post, [[float(post), 1.0, -1.0, 0.5], [0.5, float(-post), 1.0, 1.0]])
    vt.compact()
    vt.insert_all(2, [[1.0, 1.0, 1.0, 1.0]])
    vt.upsert(5, 0, [2.0, -1.0, 0.0, 1.0])
    assert jobs(lambda: vt.delete(3))[1] == 0

    plan = vt.df()._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1
    assert "Union" not in plan

    # LocalRelation inputs (sized at planning) keep the candidate side's
    # adaptive plan, and so its job count, the same run to run
    posts = list(range(1, 7))
    documents = spark.createDataFrame(pa.table({"post_id": posts}))
    doc_meta = spark.createDataFrame(pa.table({
        "post_id": posts,
        "meta_key": ["lang"] * len(posts),
        "meta_value": ["en" if p % 2 else "de" for p in posts],
    }))
    builder = QueryBuilder().add_filter("lang", Filter("lang", "=", "en", is_meta=True))

    def search():
        return vt.search([1.0, 1.0, -1.0, 0.5], n=3, builder=builder,
                         documents=documents, doc_meta=doc_meta).collect()

    pending, pending_jobs = jobs(search)
    vt.compact()
    folded, folded_jobs = jobs(search)
    assert pending == folded
    assert [r["post_id"] % 2 for r in pending] == [1, 1, 1]
    assert pending_jobs == folded_jobs


def test_facades_build_driver_rows_through_arrow(spark, tmp_path, monkeypatch):
    """Every frame the facades build from driver data is a LocalRelation
    (Arrow), never the Python-RDD list path's LogicalRDD."""
    session_cls = type(spark)
    real = session_cls.createDataFrame
    built = []

    def spy(self, *args, **kwargs):
        df = real(self, *args, **kwargs)
        built.append(df)
        return df

    monkeypatch.setattr(session_cls, "createDataFrame", spy)
    vt = VectorTable(spark, str(tmp_path / "v"), vector_length=2)
    vt.init()
    vt.insert_all(1, [[1.0, 0.0], [0.0, 1.0]])
    vt.upsert(1, 0, [2.0, 0.0])
    q = VectorTableQueue(spark, str(tmp_path / "q"))
    q.init()
    q.add_posts([1, 2, 3])
    batch = q.get_next_batch(2)
    assert q.get_stats()["processing"] == 2
    monkeypatch.undo()

    assert len(built) >= 7
    frames = built + [batch, vt.df(), q.df()]
    plans = [df._jdf.queryExecution().logical().toString() for df in frames]
    assert not [p for p in plans if "LogicalRDD" in p]
    assert sorted(r["job_id"] for r in batch.collect()) == [1, 2]
    assert {r["status"] for r in batch.collect()} == {"pending"}


def test_facade_guards(spark, tmp_path):
    """Remote URIs are accepted (the storage layer resolves the
    filesystem from the path — nothing is touched at construction), the
    dimension guard still refuses, and a pre-created bare directory
    still gets the schema'd empty snapshot."""
    import pytest as _pytest

    from wpvectordb_spark.table import VectorTable, VectorTableQueue

    assert VectorTable(spark, "s3a://bucket/vectors").path == "s3a://bucket/vectors"
    assert VectorTableQueue(spark, "hdfs://nn/queue").path == "hdfs://nn/queue"
    vt = VectorTable(spark, str(tmp_path / "v"), vector_length=4)
    vt.init()
    with _pytest.raises(ValueError):
        vt.search([0.1] * 3)  # dimension mismatch rejected, not NULL-ranked
    # queue init seeds a schema'd snapshot even into a pre-created bare dir
    qdir = tmp_path / "q"
    qdir.mkdir()
    q = VectorTableQueue(spark, str(qdir))
    q.init()
    assert q.get_total_records() == 0


def test_file_uri_normalized_to_local_path(spark, tmp_path):
    """Every spelling of a local table — plain path, ``file:/x``,
    ``file:///x`` — addresses the SAME snapshot: a table written through
    one is seen through the others, and init() through any of them is a
    no-op, never an overwrite."""
    plain = str(tmp_path / "vectors")
    vt_uri = VectorTable(spark, f"file://{plain}", vector_length=4)
    vt_uri.init()
    vt_uri.insert_all(1, [[1.0, 0.0, 0.0, 0.0]])
    assert vt_uri.table_exists()
    for spelling in (plain, _as_uri(plain), f"file://{plain}"):
        vt2 = VectorTable(spark, spelling, vector_length=4)
        assert vt2.table_exists()
        vt2.init()  # must be a no-op, not an overwrite
        assert vt2.get_vector_count() == 1
    # the queue's init is the same no-op over an existing snapshot
    q = VectorTableQueue(spark, _as_uri(str(tmp_path / "queue")))
    q.init()
    q.add_post(7)
    VectorTableQueue(spark, str(tmp_path / "queue")).init()
    assert q.get_total_records() == 1


def _check_old_copy_recovered(spark, path: str, local: str) -> None:
    """``path`` addresses the local directory ``local``; the crash is
    simulated on the local directory."""
    import os

    vt = VectorTable(spark, path, vector_length=4)
    vt.init()
    vt.insert_all(7, [[1.0, 0.0, 0.0, 0.0]])
    # simulate the crash window: snapshot renamed aside, new never landed
    os.rename(local, local + "__old")
    assert vt.table_exists()  # recovery happened
    assert not os.path.exists(local + "__old")
    assert vt.get_vector_count() == 1
    vt.init()  # still a no-op after recovery
    assert vt.get_vector_count() == 1
    # same for the queue facade
    qlocal = local + "_queue"
    q = VectorTableQueue(spark, path + "_queue")
    q.init()
    q.add_post(42)
    os.rename(qlocal, qlocal + "__old")
    assert q.get_total_records() == 1
    # and a write-first sequence (no read between crash and write)
    os.rename(qlocal, qlocal + "__old")
    q.add_post(43)
    assert q.get_total_records() == 2


def test_snapshot_old_copy_recovered_after_crash(spark, tmp_path):
    """A kill between 'rename old aside' and 'rename staging in' leaves
    only path__old: every facade entry point must rename it back instead
    of recreating the table empty (and then gc'ing the only copy)."""
    local = str(tmp_path / "vectors")
    _check_old_copy_recovered(spark, local, local)


def test_snapshot_old_copy_recovered_after_crash_file_uri(spark, tmp_path):
    local = str(tmp_path / "vectors")
    _check_old_copy_recovered(spark, _as_uri(local), local)
