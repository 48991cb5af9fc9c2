"""Streaming + multimodal plumbing tests."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from wpvectordb_spark.operators import events as E
from wpvectordb_spark.operators import multimodal as M
from wpvectordb_spark.operators import queue_ops as Q
from wpvectordb_spark.schemas import QUEUE_SCHEMA
from wpvectordb_spark.sources.loaders import load_events
from wpvectordb_spark.streaming import streams as ST
from tests.conftest import SF_DIR


def test_stream_tumbling_equals_batch(spark):
    """The streaming windowed agg over the static file source must produce
    exactly the batch operator's rows (same column logic, same data)."""
    stream = ST.stream_events(spark, SF_DIR)
    agg = ST.stream_tumbling_counts(stream, "1 hour", watermark="0 seconds")
    # complete mode: append would hold back windows the watermark hasn't
    # passed when the (finite) stream drains — the final window never emits
    got = ST.run_stream_to_completion(spark, agg, output_mode="complete").select(
        "window_start", "event_type", "n_events", "sum_value"
    )  # n_users_approx is HLL (engine-specific) — compare the exact columns
    batch = E.tumbling_window_agg(load_events(spark, SF_DIR), "1 hour").select(
        "window_start", "event_type", "n_events", "sum_value"
    )
    g = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert g == b and len(g) > 0


def _small_count_stream(spark, src: str):
    """A stateful streaming count over a small static parquet source."""
    spark.range(200).select((F.col("id") % 7).alias("k")).repartition(2).write.mode(
        "overwrite"
    ).parquet(src)
    return spark.readStream.schema("k long").parquet(src).groupBy("k").count()


def test_run_stream_to_completion_leaves_no_sink_view(spark, tmp_path):
    """Each call's memory sink registers a sink_* view holding its rows
    in driver memory: the result must be materialized and the view
    dropped, so no sink_* table survives the calls."""
    stream = _small_count_stream(spark, str(tmp_path / "src"))
    results = [
        ST.run_stream_to_completion(spark, stream, output_mode="complete")
        for _ in range(3)
    ]
    left = [
        r["tableName"] for r in spark.sql("SHOW TABLES").collect()
        if r["tableName"].startswith("sink_")
    ]
    assert left == []
    want = [(k, len(range(k, 200, 7))) for k in range(7)]
    for res in results:  # still readable after the view is gone
        assert sorted(map(tuple, res.collect())) == want


def test_run_stream_to_completion_conf_is_race_free(spark, tmp_path, monkeypatch):
    """Two threads with different state_partitions: each query must START
    under its own partition count, the session value must end where it
    began, and each result must equal its single-threaded rows.  start()
    is slowed so the second call begins while the first is starting —
    the interleaving in which unsynchronized set/restore pairs swap
    values."""
    import threading
    import time

    from pyspark.sql.streaming.readwriter import DataStreamWriter

    stream = _small_count_stream(spark, str(tmp_path / "src"))
    key = "spark.sql.shuffle.partitions"
    original = spark.conf.get(key)
    single = {
        parts: sorted(map(tuple, ST.run_stream_to_completion(
            spark, stream, output_mode="complete", state_partitions=parts
        ).collect()))
        for parts in (3, 5)
    }
    real_start = DataStreamWriter.start
    started_with = {}

    def slow_start(self, *a, **kw):
        time.sleep(1.0)
        started_with[threading.current_thread().name] = spark.conf.get(key)
        return real_start(self, *a, **kw)

    monkeypatch.setattr(DataStreamWriter, "start", slow_start)
    got, errors = {}, []

    def call(parts):
        try:
            got[parts] = sorted(map(tuple, ST.run_stream_to_completion(
                spark, stream, output_mode="complete", state_partitions=parts
            ).collect()))
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=call, args=(p,), name=f"p{p}") for p in (3, 5)]
    threads[0].start()
    time.sleep(0.3)
    threads[1].start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert started_with == {"p3": "3", "p5": "5"}
    assert spark.conf.get(key) == original
    assert got == single


def test_stream_queue_ingest(spark):
    empty = spark.createDataFrame([], QUEUE_SCHEMA)
    ids = ST.stream_events(spark, SF_DIR).select(
        F.col("event_id").alias("job_id"), F.col("user_id").alias("post_id")
    )
    get_state, query = ST.stream_queue_ingest(
        spark, ids, empty, dt.datetime(2024, 1, 1)
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    state = get_state()
    n_users = load_events(spark, SF_DIR).select("user_id").distinct().count()
    # one pending job per distinct post_id (duplicates anti-joined away)
    assert state.count() == n_users
    assert state.where(F.col("status") != "pending").count() == 0


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    return M.media_from_documents(docs)


def test_media_schema_and_features(spark, media):
    assert [f.name for f in media.schema.fields] == [
        "media_id", "media_type", "payload", "meta",
    ]
    feats = M.media_features(media)
    rows = {r["media_id"]: r for r in feats.collect()}
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    }
    assert len(rows) == len(docs)
    probe = docs[0].encode("utf-8")
    assert rows[0]["byte_len"] == len(probe)
    assert rows[0]["first_byte"] == probe[0]
    assert rows[0]["checksum"] == M._checksum(probe)


def test_media_checksum_matches_text_hash(spark, media, duck):
    """For ASCII payloads the byte checksum equals the portable string
    hash — ties the multimodal path into the oracle-checkable hash."""
    from wpvectordb_spark.functions import text as X

    feats = M.media_features(media).select("media_id", "checksum")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    want = docs.select(
        F.col("doc_id").alias("media_id"), X.string_hash("text").alias("checksum")
    )
    assert {tuple(r) for r in feats.collect()} == {tuple(r) for r in want.collect()}


def test_decode_requires_codec(media):
    with pytest.raises(NotImplementedError):
        M.decode_media(media)


def test_decode_with_fake_codec(media):
    out = M.decode_media(media.limit(10), codec=M.fake_codec)
    rows = out.collect()
    assert len(rows) == 10
    for r in rows:
        assert 1 <= r["width"] <= 640 and 1 <= r["height"] <= 480
        assert r["n_frames"] == 1  # text/plain


def test_stream_dedup_drops_duplicates(spark):
    # duplicate every event id by streaming the same file logic twice via
    # a union-shaped source is not possible with one file; instead dedup on
    # a coarse key (user_id): first event per user survives
    stream = ST.stream_events(spark, SF_DIR)
    dd = ST.stream_dedup(stream, key="user_id")
    got = ST.run_stream_to_completion(spark, dd, output_mode="append")
    n_users = load_events(spark, SF_DIR).select("user_id").distinct().count()
    assert got.count() == n_users
    assert got.select("user_id").distinct().count() == n_users


def test_stream_stateful_user_counts(spark):
    stream = ST.stream_events(spark, SF_DIR)
    counts = ST.stream_running_user_counts(stream)
    got = ST.run_stream_to_completion(spark, counts, output_mode="update")
    # final state per user equals the batch groupBy count
    batch = {
        r["user_id"]: r["n"]
        for r in load_events(spark, SF_DIR).groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    # update mode may emit one row per user per batch; take the last emission
    import collections
    last = {}
    for r in got.collect():
        last[r["user_id"]] = r["n_events"]
    assert last == batch


def test_streaming_index_ingest_lifecycle(spark, tmp_path):
    """End-to-end ingest: stream document batches -> derive vector index
    columns per micro-batch -> append to the parquet index -> search sees
    the new vectors.  The streaming form of the write path (C7/C8)."""
    import os
    from pyspark.sql import types as T
    from wpvectordb_spark.operators import table_ops as TO
    from wpvectordb_spark.operators import search as S

    src = str(tmp_path / "incoming")
    idx = str(tmp_path / "index")
    os.makedirs(src)

    schema = T.StructType(
        [
            T.StructField("post_id", T.LongType()),
            T.StructField("sequence_no", T.IntegerType()),
            T.StructField("vector", T.ArrayType(T.FloatType())),
        ]
    )
    # two "arriving" files
    batch1 = [(1, 0, [1.0, 0.0, 0.0, 0.0]), (2, 0, [0.0, 1.0, 0.0, 0.0])]
    batch2 = [(3, 0, [0.9, 0.1, 0.0, 0.0])]
    spark.createDataFrame(batch1, schema).write.parquet(src + "/b1")
    spark.createDataFrame(batch2, schema).write.parquet(src + "/b2")

    stream = spark.readStream.schema(schema).option("recursiveFileLookup", "true").parquet(src)

    def ingest(batch_df, batch_id):
        derived = TO.derive(batch_df, keep_normalized=False).withColumn(
            "id", F.col("post_id")
        )
        derived.write.mode("append").parquet(idx)

    ckpt = str(tmp_path / "ckpt")
    q = stream.writeStream.foreachBatch(ingest).option("checkpointLocation", ckpt).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    table = spark.read.parquet(idx)
    assert table.count() == 3
    top = S.search(table, [1.0, 0.0, 0.0, 0.0], n=2).collect()
    assert [r["post_id"] for r in top] == [1, 3]  # exact match then near


def test_stream_session_window_equals_batch_sessionize(spark):
    """Native session_window streaming sessionization must reproduce the
    batch lag/cumsum sessionizer: same (user, session_start, n, sum)."""
    stream = ST.stream_events(spark, SF_DIR)
    sw = ST.stream_session_counts(stream, gap="30 minutes", watermark="0 seconds")
    got = ST.run_stream_to_completion(spark, sw, output_mode="complete")
    batch = E.sessionize(load_events(spark, SF_DIR), gap_minutes=30).select(
        "user_id",
        "session_start",
        "n_events",
        F.round("sum_value", 6).alias("sum_value"),
    )
    g = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert g == b and len(g) > 0


def test_sample_frames_uniform_and_deterministic(spark):
    from wpvectordb_spark.operators import multimodal as MM

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(40)
    media = MM.media_from_documents(docs).withColumn(
        "media_type", F.lit("video/mp4")
    )
    frames = MM.sample_frames(
        media, k=3, codec=MM.fake_codec, frame_extractor=MM.fake_frame_extractor
    )
    rows = frames.collect()
    per = {}
    for r in rows:
        per.setdefault(r["media_id"], []).append(r)
    n_by_id = {
        r["media_id"]: MM.fake_codec("video/mp4", bytes(r["payload"]))["n_frames"]
        for r in media.collect()
    }
    assert set(per) <= set(n_by_id)
    for mid, rs in per.items():
        assert len(rs) == min(3, n_by_id[mid])
        assert all(x["frame_checksum"] >= 0 and x["frame_bytes"] <= 16 for x in rs)
    again = sorted(map(tuple, frames.collect()))
    assert again == sorted(map(tuple, rows))


def test_sample_frames_requires_codec(spark):
    from wpvectordb_spark.operators import multimodal as MM

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(1)
    with pytest.raises(NotImplementedError):
        MM.sample_frames(MM.media_from_documents(docs))


def test_batch_checksums_empty_segment_patterns():
    """Regression: a trailing/interleaved EMPTY payload must not corrupt
    its neighbors' checksums (reduceat boundary handling)."""
    import itertools

    from wpvectordb_spark.operators.multimodal import _batch_checksums, _checksum

    for n in range(6):
        for bits in itertools.product([0, 1], repeat=n):
            ps = [b"payload%d" % i if b else b"" for i, b in enumerate(bits)]
            assert list(_batch_checksums(ps)) == [_checksum(p) for p in ps], ps


def test_stream_dedup_ingest_matches_batch_pipeline(spark, tmp_path):
    """Telescoping: streaming the corpus through incremental dedup in
    arbitrary micro-batches accumulates EXACTLY the batch pipeline's
    pair set — within-batch pairs from the self pipeline, cross-batch
    pairs from the band join against the growing persisted index."""
    from wpvectordb_spark.operators import dedup as D

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").where(
        F.col("doc_id") < 200
    )
    copies = docs.where(F.col("doc_id") < 30).withColumn(
        "doc_id", F.col("doc_id") + 10000
    )
    corpus = docs.unionByName(copies).select("doc_id", "text")
    src = str(tmp_path / "docs_src")
    corpus.repartition(4).write.parquet(src)  # 4 files -> 4 micro-batches
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    get_pairs, get_index, query = ST.stream_dedup_ingest(spark, stream, threshold=0.5)
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    streamed = {tuple(r) for r in get_pairs().distinct().collect()}
    batch = {tuple(r) for r in D.minhash_lsh_dedup_pairs(corpus, threshold=0.5).collect()}
    assert streamed == batch
    assert len(batch) >= 30  # the exact copies guarantee a non-vacuous set
    assert get_index().count() == corpus.count()  # every doc indexed once


def test_stream_dedup_ingest_replay_is_exactly_once(spark, tmp_path):
    """foreachBatch is at-least-once: a batch that fails mid-write is
    replayed.  The per-batch overwrite layout must make a replay land on
    its first attempt — identical state, no double-appended index rows,
    no self-pairs from reading its own partial output."""
    import os

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .where(F.col("doc_id") < 60)
        .select("doc_id", "text")
    )
    copies = docs.where(F.col("doc_id") < 20).withColumn(
        "doc_id", F.col("doc_id") + 10000
    )
    dirs = [str(tmp_path / d) for d in ("sh", "bands", "pairs")]
    for d in dirs:
        os.makedirs(d)
    ST._dedup_ingest_apply(spark, *dirs, 0.5, docs, 0)
    ST._dedup_ingest_apply(spark, *dirs, 0.5, copies, 1)
    pairs_once = sorted(
        map(tuple, ST._read_state(spark, dirs[2], ST._DEDUP_PAIRS_SCHEMA).collect())
    )
    n_idx_once = ST._read_state(spark, dirs[0], ST._DEDUP_SH_SCHEMA).count()
    assert n_idx_once == 80
    assert len(pairs_once) >= 20  # the cross-batch exact copies
    # replay batch 1 (same deterministic subdir, overwrite)
    ST._dedup_ingest_apply(spark, *dirs, 0.5, copies, 1)
    pairs_replayed = sorted(
        map(tuple, ST._read_state(spark, dirs[2], ST._DEDUP_PAIRS_SCHEMA).collect())
    )
    assert pairs_replayed == pairs_once
    assert ST._read_state(spark, dirs[0], ST._DEDUP_SH_SCHEMA).count() == n_idx_once
    assert not any(a == b for a, b, _ in pairs_replayed)  # no self-pairs


def test_resize_media_plumbing(spark):
    """Resize: 1-to-1 Arrow-batch mapInPandas, deterministic payload and
    audit columns; raises without a resizer (no codecs bundled)."""
    import pytest as _pytest

    from wpvectordb_spark.operators import multimodal as M

    media = M.media_from_documents(
        spark.read.parquet(f"{SF_DIR}/documents.parquet").where(F.col("doc_id") < 40)
    )
    with _pytest.raises(NotImplementedError):
        M.resize_media(media, 64, 64)
    out = M.resize_media(media, 64, 64, resizer=M.fake_resizer)
    rows = out.collect()
    assert len(rows) == 40
    assert all(r["n_bytes"] == (64 * 64) // 256 == len(r["payload"]) for r in rows)
    assert all(r["width"] == 64 and r["height"] == 64 for r in rows)
    again = {r["media_id"]: r["checksum"] for r in
             M.resize_media(media, 64, 64, resizer=M.fake_resizer).collect()}
    assert again == {r["media_id"]: r["checksum"] for r in rows}
    # checksum audit matches the shared checksum kernel on the new payload
    for r in rows[:5]:
        assert r["checksum"] == M._checksum(bytes(r["payload"]))


def test_sample_frames_k1_and_null_payload(spark):
    """k=1 must not divide by zero; NULL payloads reach the user codec
    as b'' (real codecs take bytes); k<1 is refused."""
    import pytest as _pytest

    from wpvectordb_spark.operators import multimodal as M

    media = spark.createDataFrame(
        [(1, "video/fake", b"0123456789abcdef" * 4, None),
         (2, "video/fake", None, None)],
        M.MEDIA_SCHEMA,
    )
    rows = M.sample_frames(
        media, k=1, codec=M.fake_codec, frame_extractor=M.fake_frame_extractor
    ).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["media_id"], []).append(r["frame_no"])
    assert by_id[1] == [0]  # k=1: first frame, no ZeroDivisionError
    with _pytest.raises(ValueError):
        M.sample_frames(media, k=0, codec=M.fake_codec, frame_extractor=M.fake_frame_extractor)
    # NULL payload flows as b'' through decode and resize too
    assert M.decode_media(media, codec=M.fake_codec).count() == 2
    out = {r["media_id"]: r["n_bytes"] for r in
           M.resize_media(media, 16, 16, resizer=M.fake_resizer).collect()}
    assert out[2] == 1  # (16*16)//256 from the b'' zero-fill path


def test_null_media_type_reaches_codec_as_empty_string(spark):
    """A NULL media_type row must not crash the worker with the codec's
    AttributeError ('NoneType' has no startswith) — the plumbing hands
    the codec '' (its dispatch input; rejecting an empty type is the
    codec's typed decision), same rule as the NULL-payload b'' sanitize,
    across all three codec-calling kernels."""
    from wpvectordb_spark.operators import multimodal as M

    # NOT MEDIA_SCHEMA: the facade schema declares media_type non-null,
    # but the operators accept any user frame with these columns, where
    # the column is typically nullable
    media = spark.createDataFrame(
        [(1, None, b"0123456789abcdef"), (2, "image/png", None)],
        "media_id long, media_type string, payload binary",
    )
    assert M.decode_media(media, codec=M.fake_codec).count() == 2
    frames = M.sample_frames(
        media, k=2, codec=M.fake_codec, frame_extractor=M.fake_frame_extractor
    ).collect()
    assert {r["media_id"] for r in frames} == {1, 2}
    assert M.resize_media(media, 16, 16, resizer=M.fake_resizer).count() == 2


def test_stream_dedup_ingest_compaction_bounds_state_dirs(spark, tmp_path):
    """A long-running stream must not accumulate one state dir per
    micro-batch: with compact_every=2, 20 micro-batches end with <= 3
    dirs per table (one snapshot + the uncompacted tail) — and the
    accumulated pair set still telescopes to the batch pipeline's."""
    import os

    from wpvectordb_spark.operators import dedup as D

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .where(F.col("doc_id") < 100)
        .select("doc_id", "text")
    )
    copies = docs.where(F.col("doc_id") < 30).withColumn(
        "doc_id", F.col("doc_id") + 10000
    )
    corpus = docs.unionByName(copies)
    src = str(tmp_path / "src")
    corpus.repartition(20).write.parquet(src)  # 20 files -> 20 micro-batches
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    state = str(tmp_path / "state")
    get_pairs, get_index, query = ST.stream_dedup_ingest(
        spark, stream, threshold=0.5, state_path=state, compact_every=2
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    for sub in ("sh", "bands", "pairs"):
        entries = [
            d for d in os.listdir(os.path.join(state, sub)) if not d.endswith("__tmp")
        ]
        assert len(entries) <= 3, f"{sub}: {sorted(entries)}"
        assert any(d.startswith("s") and d[1:].isdigit() for d in entries), sub
    streamed = {tuple(r) for r in get_pairs().distinct().collect()}
    batch = {
        tuple(r) for r in D.minhash_lsh_dedup_pairs(corpus, threshold=0.5).collect()
    }
    assert streamed == batch and len(batch) >= 30
    assert get_index().count() == corpus.count()


def _as_uri(path: str) -> str:
    """The single-slash ``file:`` URI Hadoop and Spark print for a local
    path — stream state must behave identically under both spellings."""
    return "file:" + path


def _check_dedup_ingest_resume(spark, tmp_path, to_path) -> None:
    from wpvectordb_spark.operators import dedup as D

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .where(F.col("doc_id") < 80)
        .select("doc_id", "text")
    )
    first = docs.where(F.col("doc_id") < 40)
    second = docs.where(F.col("doc_id") >= 40).unionByName(
        first.where(F.col("doc_id") < 15).withColumn(
            "doc_id", F.col("doc_id") + 10000
        )  # near-dups of run-1 docs: cross-RUN pairs prove the resume
    )
    src = str(tmp_path / "src")
    state = to_path(str(tmp_path / "state"))
    ckpt = to_path(str(tmp_path / "ckpt"))
    first.repartition(2).write.mode("append").parquet(src)

    def run_once():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        gp, gi, q = ST.stream_dedup_ingest(
            spark, stream, threshold=0.5, state_path=state, checkpoint_path=ckpt
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return gp, gi

    run_once()
    second.repartition(2).write.mode("append").parquet(src)
    get_pairs, get_index = run_once()
    full = first.unionByName(second)
    streamed = {tuple(r) for r in get_pairs().distinct().collect()}
    batch = {
        tuple(r) for r in D.minhash_lsh_dedup_pairs(full, threshold=0.5).collect()
    }
    assert streamed == batch
    cross_run = {(a, b) for a, b, _ in streamed if a < 40 and b >= 10000}
    assert len(cross_run) >= 15  # run-2 copies matched against run-1 index
    assert get_index().count() == full.count()  # each doc indexed exactly once


def test_stream_dedup_ingest_resumes_from_state_path(spark, tmp_path):
    """The persisted-index reuse story: a SECOND start() over the same
    source + state_path + checkpoint_path picks up where the first
    stopped — new files dedup against the first run's corpus, old docs
    are never re-indexed, and batch ids continue (no b0 collision)."""
    _check_dedup_ingest_resume(spark, tmp_path, str)


def test_stream_dedup_ingest_resumes_from_file_uri_state_path(spark, tmp_path):
    _check_dedup_ingest_resume(spark, tmp_path, _as_uri)


def test_read_state_stable_retries_once(spark, tmp_path, monkeypatch):
    """The external accessors retry the list+materialize once when a
    concurrent compaction/replay swap raises mid-materialization."""
    import os

    root = str(tmp_path / "pairs")
    os.makedirs(root)
    spark.createDataFrame(
        [(1, 2, 0.9)], ST._DEDUP_PAIRS_SCHEMA
    ).write.parquet(os.path.join(root, "b0"))
    calls = {"n": 0}
    real = ST._read_state

    def flaky(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise Exception("FileNotFoundException: simulated gc'd delta")
        return real(*a, **kw)

    monkeypatch.setattr(ST, "_read_state", flaky)
    got = ST._read_state_stable(spark, root, ST._DEDUP_PAIRS_SCHEMA)
    assert calls["n"] == 2
    assert [tuple(r) for r in got.collect()] == [(1, 2, 0.9)]


def test_read_state_stable_refusals_raise_once(spark, tmp_path, monkeypatch):
    """The deliberate RuntimeError refusals (shared state dir, batch-id
    restart) and non-race errors propagate on the FIRST attempt — only
    the file-vanished class retries."""
    root = str(tmp_path / "pairs")
    os.makedirs(root)
    for exc in (RuntimeError("state dir shared by two streams?"),
                ValueError("schema drift, not a race")):
        calls = {"n": 0}

        def boom(*a, _exc=exc, **kw):
            calls["n"] += 1
            raise _exc

        monkeypatch.setattr(ST, "_read_state", boom)
        with pytest.raises(type(exc)):
            ST._read_state_stable(spark, root, ST._DEDUP_PAIRS_SCHEMA)
        assert calls["n"] == 1, f"{type(exc).__name__} was retried"


def test_read_state_stable_gives_up_after_bounded_retries(spark, tmp_path, monkeypatch):
    """A persistent file-vanished error propagates after the bounded
    retry budget instead of looping."""
    root = str(tmp_path / "pairs")
    os.makedirs(root)
    calls = {"n": 0}

    def always_vanished(*a, **kw):
        calls["n"] += 1
        raise Exception("FileNotFoundException: never stabilizes")

    monkeypatch.setattr(ST, "_read_state", always_vanished)
    with pytest.raises(Exception, match="never stabilizes"):
        ST._read_state_stable(spark, root, ST._DEDUP_PAIRS_SCHEMA)
    assert calls["n"] == 3


def _check_queue_ingest_resume(spark, tmp_path, to_path) -> None:
    now = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    empty = spark.createDataFrame([], QUEUE_SCHEMA)
    src = str(tmp_path / "src")
    state = to_path(str(tmp_path / "state"))
    ckpt = to_path(str(tmp_path / "ckpt"))

    def run_once(lo, hi):
        spark.range(lo, hi).select(
            F.col("id").alias("job_id"), F.col("id").alias("post_id")
        ).repartition(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema("job_id long, post_id long").parquet(src)
        get_state, q = ST.stream_queue_ingest(
            spark, stream, empty, now, state_path=state, checkpoint_path=ckpt
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return get_state

    run_once(0, 10)
    get_state = run_once(10, 25)
    queue = get_state()
    assert queue.count() == 25  # 10 from run 1 + 15 from run 2, no resets
    assert queue.where(F.col("status") == "pending").count() == 25


def test_stream_queue_ingest_resumes_from_state_path(spark, tmp_path):
    """stream_queue_ingest adopts an existing versioned state dir: the
    second run appends to the first run's queue, not a fresh copy of
    initial_queue."""
    _check_queue_ingest_resume(spark, tmp_path, str)


def test_stream_queue_ingest_resumes_from_file_uri_state_path(spark, tmp_path):
    _check_queue_ingest_resume(spark, tmp_path, _as_uri)


def test_state_listing_ignores_uncommitted_dirs(spark, tmp_path):
    """A batch write killed mid-way leaves a delta/version dir without
    the _SUCCESS marker: state listings must skip it (the in-flight
    batch overwrites it on replay; an accessor reading it meanwhile
    would surface partial rows as committed state)."""
    import os

    root = str(tmp_path / "pairs")
    os.makedirs(root)
    spark.createDataFrame([(1, 2, 0.9)], ST._DEDUP_PAIRS_SCHEMA).write.parquet(
        os.path.join(root, "b0")
    )
    # simulate the crashed write: data file present, no _SUCCESS
    partial = os.path.join(root, "b1")
    spark.createDataFrame([(3, 4, 0.8)], ST._DEDUP_PAIRS_SCHEMA).write.parquet(partial)
    os.remove(os.path.join(partial, "_SUCCESS"))
    got = sorted(
        map(tuple, ST._read_state(spark, root, ST._DEDUP_PAIRS_SCHEMA).collect())
    )
    assert got == [(1, 2, 0.9)]
    # same rule for queue version adoption: a partial newest version is
    # skipped in favor of the last committed one
    qroot = str(tmp_path / "queue")
    os.makedirs(qroot)
    empty = spark.createDataFrame([], QUEUE_SCHEMA)
    empty.write.parquet(os.path.join(qroot, "v0"))
    spark.createDataFrame([], QUEUE_SCHEMA).write.parquet(os.path.join(qroot, "v1"))
    os.remove(os.path.join(qroot, "v1", "_SUCCESS"))
    now = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    src = str(tmp_path / "src")
    spark.range(0, 3).select(
        F.col("id").alias("job_id"), F.col("id").alias("post_id")
    ).write.parquet(src)
    stream = spark.readStream.schema("job_id long, post_id long").parquet(src)
    get_state, q = ST.stream_queue_ingest(
        spark, stream, empty, now, state_path=qroot
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert get_state().count() == 3  # resumed from committed v0, not partial v1


def test_dedup_state_restart_without_checkpoint_is_refused(spark, tmp_path):
    """Reusing a state_path with a fresh checkpoint restarts batch ids at
    0 over existing later-batch deltas: the batch must refuse loudly
    (silently proceeding would skip the old corpus for cross-batch dedup
    and serve accessors a blend of two streams)."""
    import os

    import pytest as _pytest

    dirs = [str(tmp_path / d) for d in ("sh", "bands", "pairs")]
    for d in dirs:
        os.makedirs(d)
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .where(F.col("doc_id") < 20)
        .select("doc_id", "text")
    )
    ST._dedup_ingest_apply(spark, *dirs, 0.5, docs, 0)
    ST._dedup_ingest_apply(spark, *dirs, 0.5, docs.limit(5), 1)
    # batch id 0 again over state holding batch 1 = restarted checkpoint
    with _pytest.raises(Exception, match="ORIGINAL checkpoint_path"):
        ST._dedup_ingest_apply(spark, *dirs, 0.5, docs, 0)
    # replaying the LATEST batch id stays legal (its own earlier attempt)
    ST._dedup_ingest_apply(spark, *dirs, 0.5, docs.limit(5), 1)


def test_queue_state_restart_without_checkpoint_is_refused(spark, tmp_path):
    """stream_queue_ingest mirrors the dedup stream's restart refusal: a
    start() reusing state_path with a FRESH checkpoint restarts batch ids
    at 0 over adopted state and must fail loudly instead of silently
    replaying the source over the adopted queue (that replay is value-safe
    only because add_posts happens to be anti-join idempotent)."""
    now = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    empty = spark.createDataFrame([], QUEUE_SCHEMA)
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def run_once(lo, hi, checkpoint):
        spark.range(lo, hi).select(
            F.col("id").alias("job_id"), F.col("id").alias("post_id")
        ).repartition(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema("job_id long, post_id long").parquet(src)
        get_state, q = ST.stream_queue_ingest(
            spark, stream, empty, now, state_path=state, checkpoint_path=checkpoint
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return get_state

    run_once(0, 10, ckpt)
    run_once(10, 20, ckpt)  # marker now records batch id 1
    # same state, FRESH checkpoint -> batch ids restart at 0 < marker
    stream = spark.readStream.schema("job_id long, post_id long").parquet(src)
    get_state, q = ST.stream_queue_ingest(
        spark, stream, empty, now,
        state_path=state, checkpoint_path=str(tmp_path / "ckpt2"),
    )
    with pytest.raises(Exception, match="ORIGINAL checkpoint_path"):
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    # the adopted state survives untouched and readable
    assert get_state().count() == 20


def test_queue_ingest_apply_crash_replay_is_idempotent(spark, tmp_path):
    """The module-level kernel (round 6 extraction): replaying the SAME
    batch id — the crash-recovery case where the marker was written but
    the stream restarts the batch — discovers the newest committed
    version from disk and reapplies add_posts over it; the anti-join
    makes the replay a no-op on values, and a later batch id continues
    normally."""
    now = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    root = str(tmp_path / "qstate")
    os.makedirs(root)
    spark.createDataFrame([], QUEUE_SCHEMA).write.parquet(f"{root}/v0")
    jobs = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").alias("job_id"), F.col("id").alias("post_id")
    )
    ST._queue_ingest_apply(spark, root, jobs(0, 10), 0, now)
    before = sorted(map(tuple, spark.read.parquet(
        f"{root}/v{ST._queue_state_versions(spark, root)[-1]}").collect()))
    assert len(before) == 10
    # crash-recovery replay of batch 0 (marker == bid): allowed, no-op
    ST._queue_ingest_apply(spark, root, jobs(0, 10), 0, now)
    after = sorted(map(tuple, spark.read.parquet(
        f"{root}/v{ST._queue_state_versions(spark, root)[-1]}").collect()))
    assert after == before
    # the stream continues
    ST._queue_ingest_apply(spark, root, jobs(10, 15), 1, now)
    assert spark.read.parquet(
        f"{root}/v{ST._queue_state_versions(spark, root)[-1]}").count() == 15
    # retention: at most the current + one superseded version on disk
    assert len(ST._queue_state_versions(spark, root)) <= 2


def test_stream_ann_serve_matches_batch_serve(spark, tmp_path):
    """Streaming ANN serving telescopes: the index is frozen during a
    serve run, so micro-batches are independent and the accumulated
    results over ANY split of a query set equal the batched serve over
    the whole set — for both the IVF and IVFPQ kinds.  The per-batch
    apply runs the batched plans, so partition pruning and constant-size
    ADC codegen are inherited, not re-proven here."""
    from wpvectordb_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    ivf_dir = str(tmp_path / "ivf")
    SIM.build_ivf_index(emb, ivf_dir, n_clusters=16)
    queries = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    src = str(tmp_path / "queries_src")
    queries.repartition(4).write.parquet(src)  # 4 files -> 4 micro-batches
    qschema = "query_id long, query_vector array<float>"
    stream = (
        spark.readStream.schema(qschema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    get_results, query = ST.stream_ann_serve(
        spark, ivf_dir, stream, kind="ivf", k=10, n_probe=4
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    streamed = sorted(map(tuple, get_results().collect()))
    batch = sorted(
        (r["query_id"], r["vec_id"], r["cluster_id"], r["cosine_similarity"])
        for r in SIM.ivf_topk_many(
            spark, queries, path=ivf_dir, k=10, n_probe=4
        ).collect()
    )
    assert streamed == batch and len(streamed) == 20 * 10
    # IVFPQ kind over the same stream source
    pq_dir = str(tmp_path / "ivfpq")
    SIM.build_ivfpq_index(emb, pq_dir, dim=64, n_clusters=16, m=8, n_codes=16)
    stream2 = (
        spark.readStream.schema(qschema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    get2, q2 = ST.stream_ann_serve(
        spark, pq_dir, stream2, kind="ivfpq", dim=64, m=8, k=10, n_probe=4
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    streamed2 = sorted(map(tuple, get2().collect()))
    batch2 = sorted(
        map(
            tuple,
            SIM.ivfpq_topk_many(
                spark, pq_dir, queries, dim=64, m=8, k=10, n_probe=4
            ).collect(),
        )
    )
    assert streamed2 == batch2 and len(streamed2) == 20 * 10


def test_stream_ann_serve_replay_compaction_and_refusals(spark, tmp_path):
    """The serve stream shares the ingest streams' state contract:
    a replayed batch overwrites its own subdir (exactly-once results),
    compaction folds old result deltas without changing the accumulated
    set, a batch-id restart over existing results refuses loudly, and
    bad configs raise before any job."""
    import os

    from wpvectordb_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    ivf_dir = str(tmp_path / "ivf")
    SIM.build_ivf_index(emb, ivf_dir, n_clusters=16)
    res_dir = str(tmp_path / "results")
    os.makedirs(res_dir)

    def qbatch(lo, hi):
        return emb.where((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vector"),
        )

    for bid in range(4):
        ST._ann_serve_apply(
            spark, ivf_dir, res_dir, qbatch(bid * 3, bid * 3 + 3), bid,
            kind="ivf", k=5, n_probe=4, compact_every=2,
        )
    once = sorted(
        map(tuple, ST._read_state(spark, res_dir, ST._ANN_RESULTS_SCHEMA).collect())
    )
    assert len(once) == 12 * 5
    # compaction folded old deltas: listing stays bounded (snapshot + the
    # batches newer than its coverage), never 4 loose delta dirs
    upto, spath, deltas = ST._list_state(spark, res_dir)
    assert spath is not None and len(deltas) < 4
    # replay the LATEST batch (the only legitimate replay) -> identical
    ST._ann_serve_apply(
        spark, ivf_dir, res_dir, qbatch(9, 12), 3,
        kind="ivf", k=5, n_probe=4, compact_every=2,
    )
    assert (
        sorted(
            map(
                tuple, ST._read_state(spark, res_dir, ST._ANN_RESULTS_SCHEMA).collect()
            )
        )
        == once
    )
    # batch-id restart over newer results = two streams blending — refuse
    # (whichever guard fires first: the snapshot already covers batch 0
    # after compaction, or uncompacted newer deltas trip the restart check)
    with pytest.raises(
        RuntimeError, match="shared by two streams|requires the ORIGINAL checkpoint"
    ):
        ST._ann_serve_apply(
            spark, ivf_dir, res_dir, qbatch(0, 3), 0, kind="ivf", k=5
        )
    # config refusals, before any job
    with pytest.raises(ValueError, match="unknown kind"):
        ST._ann_serve_apply(
            spark, ivf_dir, str(tmp_path / "r2"), qbatch(0, 3), 0, kind="hnsw"
        )
    with pytest.raises(ValueError, match="requires dim="):
        ST._ann_serve_apply(
            spark, ivf_dir, str(tmp_path / "r3"), qbatch(0, 3), 0, kind="ivfpq"
        )


def test_stream_corpus_profile_matches_batch_profile(spark, tmp_path):
    """Exact batch-equivalence: the merged streaming profile after N
    micro-batches equals corpus_profile over the whole corpus — every
    state column is an integer sum, so partials re-sum exactly and the
    ratio columns derive from identical integers."""
    from wpvectordb_spark.operators import text_analysis as TA

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    )
    src = str(tmp_path / "docs_src")
    docs.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string, lang string, source string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    get_profile, get_timeseries, query = ST.stream_corpus_profile(
        spark, stream, compact_every=2  # force a snapshot fold mid-run
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    streamed = sorted(map(tuple, get_profile().collect()))
    batch = sorted(map(tuple, TA.corpus_profile(docs).collect()))
    assert streamed == batch
    assert len(streamed) >= 2  # multiple strata, non-vacuous
    # drift view: one profile row per (batch, stratum); per-stratum doc
    # counts across batches re-sum to the merged profile's
    ts = get_timeseries().collect()
    assert len({r["_batch_id"] for r in ts}) == 4  # one per input file
    by_stratum: dict[tuple, int] = {}
    for r in ts:
        by_stratum[(r["lang"], r["source"])] = (
            by_stratum.get((r["lang"], r["source"]), 0) + r["n_docs"]
        )
    merged = {(r["lang"], r["source"]): r["n_docs"] for r in get_profile().collect()}
    assert by_stratum == merged


def test_stream_corpus_profile_replay_is_exactly_once(spark, tmp_path):
    """A replayed micro-batch overwrites its own delta: applying the
    same batch twice leaves state identical (no double-counted sums)."""
    import os

    from wpvectordb_spark.operators import text_analysis as TA

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    )
    sums_dir = str(tmp_path / "sums")
    os.makedirs(sums_dir)
    b0 = docs.where(F.col("doc_id") % 2 == 0)
    b1 = docs.where(F.col("doc_id") % 2 == 1)
    ST._profile_ingest_apply(spark, sums_dir, b0, 0)
    ST._profile_ingest_apply(spark, sums_dir, b1, 1)
    ST._profile_ingest_apply(spark, sums_dir, b1, 1)  # replay of batch 1
    raw = ST._read_state_stable(
        spark, sums_dir, ST._profile_state_schema(("lang", "source"))
    )
    merged = raw.groupBy("lang", "source").agg(
        *[F.sum(c).alias(c) for c in TA.PROFILE_SUM_COLS]
    )
    got = sorted(map(tuple, TA._profile_from_sums(merged, ("lang", "source")).collect()))
    want = sorted(map(tuple, TA.corpus_profile(docs).collect()))
    assert got == want


def test_stream_corpus_profile_refuses_batch_id_restart(spark, tmp_path):
    import os

    import pytest

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    )
    sums_dir = str(tmp_path / "sums")
    os.makedirs(sums_dir)
    ST._profile_ingest_apply(spark, sums_dir, docs, 5)
    with pytest.raises(RuntimeError, match="batch"):
        ST._profile_ingest_apply(spark, sums_dir, docs, 2)


def test_stream_corpus_profile_restores_stratum_types(spark, tmp_path):
    """State stores strata as strings; get_profile must cast back to the
    INPUT type so equality joins against batch profiles work for
    non-string strata (integer shard ids)."""
    from wpvectordb_spark.operators import text_analysis as TA

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select(
            "doc_id",
            "text",
            "lang",
            (F.col("doc_id") % 3).cast("long").alias("shard_id"),
        )
    )
    src = str(tmp_path / "src")
    docs.repartition(2).write.parquet(src)
    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, shard_id long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    get_profile, _ts, query = ST.stream_corpus_profile(
        spark, stream, stratum_cols=("shard_id",)
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    prof = get_profile()
    assert dict(prof.dtypes)["shard_id"] == "bigint"
    streamed = sorted(map(tuple, prof.collect()))
    batch = sorted(
        map(tuple, TA.corpus_profile(docs, stratum_cols=("shard_id",)).collect())
    )
    assert streamed == batch


def test_stream_corpus_profile_empty_state_reads_empty(spark, tmp_path):
    """Accessors over a not-yet-started monitor return empty typed frames
    (no listing crash, no NULL rows)."""
    import os

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string"
    ).write.parquet(src)
    docs_stream = (
        spark.readStream.schema("doc_id long, text string, lang string, source string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    # state dir exists but holds no committed batches yet
    get_profile, get_timeseries, query = ST.stream_corpus_profile(
        spark, docs_stream, state_path=str(tmp_path / "state")
    )
    try:
        assert get_profile().collect() == []
        assert get_timeseries().collect() == []
    finally:
        query.stop()


def test_stream_decontaminate_matches_batch(spark, tmp_path):
    """Streaming decontamination through arbitrary micro-batches
    accumulates EXACTLY the batch decontaminate verdicts — each
    document's row depends only on itself and the frozen holdout hash
    set, so any batch split telescopes."""
    from wpvectordb_spark.operators import curation as CU

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .where(F.col("doc_id") < 200)
        .select("doc_id", "text")
    )
    corpus = docs.where(F.col("doc_id") >= 20)
    holdout = docs.where(F.col("doc_id") < 20)
    src = str(tmp_path / "decon_src")
    corpus.repartition(4).write.parquet(src)  # 4 files -> 4 micro-batches
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    get_results, query = ST.stream_decontaminate_ingest(
        spark, stream, holdout, threshold=5
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    streamed = sorted(map(tuple, get_results().collect()))
    batch = sorted(
        map(tuple, CU.decontaminate(corpus, holdout, threshold=5).collect())
    )
    assert streamed == batch
    # non-vacuous: both verdicts fire on this corpus
    flags = {r[3] for r in streamed}
    assert flags == {0, 1}


def test_decon_ingest_replay_exactly_once_and_restart_refused(
    spark, tmp_path
):
    """A replayed batch lands on its own previous attempt (identical
    state); a batch id BELOW already-committed deltas — the fresh-
    checkpoint-over-adopted-state restart — is refused loudly."""
    import os

    import pytest
    from wpvectordb_spark.functions import text as X

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .where(F.col("doc_id") < 60)
        .select("doc_id", "text")
    )
    hold = (
        docs.where(F.col("doc_id") < 10)
        .select(F.explode(X.shingle_hashes("text", 3)).alias("h"))
        .distinct()
        .localCheckpoint()
    )
    results_d = str(tmp_path / "results")
    os.makedirs(results_d)
    b0 = docs.where((F.col("doc_id") >= 10) & (F.col("doc_id") < 30))
    b1 = docs.where(F.col("doc_id") >= 30)
    ST._decon_ingest_apply(spark, results_d, hold, 5, b0, 0)
    ST._decon_ingest_apply(spark, results_d, hold, 5, b1, 1)
    once = sorted(
        map(
            tuple,
            ST._read_state(spark, results_d, ST._DECON_RESULTS_SCHEMA).collect(),
        )
    )
    assert len(once) == 50
    # replay of the LATEST batch: legitimate, idempotent
    ST._decon_ingest_apply(spark, results_d, hold, 5, b1, 1)
    replayed = sorted(
        map(
            tuple,
            ST._read_state(spark, results_d, ST._DECON_RESULTS_SCHEMA).collect(),
        )
    )
    assert replayed == once
    # batch id 0 arriving AFTER batch 1 committed = restarted id
    # sequence over adopted state -> refuse
    with pytest.raises(RuntimeError, match="already holds batch"):
        ST._decon_ingest_apply(spark, results_d, hold, 5, b0, 0)


def test_decon_ingest_threads_shingle_k(spark, tmp_path):
    """shingle_k must reach BOTH sides: holdout hashes at k=4 joined
    against k=3 corpus shingles would match nothing and silently clear
    every document (the round-8 review catch)."""
    import os

    from wpvectordb_spark.functions import text as X
    from wpvectordb_spark.operators import curation as CU

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .where(F.col("doc_id") < 40)
        .select("doc_id", "text")
    )
    holdout = docs.where(F.col("doc_id") < 10)
    # corpus includes verbatim holdout copies so k=4 overlaps exist —
    # the non-vacuity half of the check
    corpus = docs.where(F.col("doc_id") >= 10).unionByName(
        holdout.withColumn("doc_id", F.col("doc_id") + 1000)
    )
    hold4 = (
        holdout.select(F.explode(X.shingle_hashes("text", 4)).alias("h"))
        .distinct()
        .localCheckpoint()
    )
    results_d = str(tmp_path / "res4")
    os.makedirs(results_d)
    ST._decon_ingest_apply(spark, results_d, hold4, 5, corpus, 0, shingle_k=4)
    streamed = sorted(
        map(
            tuple,
            ST._read_state(spark, results_d, ST._DECON_RESULTS_SCHEMA).collect(),
        )
    )
    batch = sorted(
        map(
            tuple,
            CU.decontaminate(corpus, holdout, threshold=5, shingle_k=4).collect(),
        )
    )
    assert streamed == batch
    assert any(r[2] > 0 for r in streamed)  # k=4 overlaps actually matched


def test_media_exact_dedup_golden(spark):
    """Byte-identical payloads collapse to the min-id winner with the
    right dup_count; distinct payloads stay singletons; the checksum
    matches the surviving copy's feature row."""
    from wpvectordb_spark.operators import multimodal as M

    docs = spark.createDataFrame(
        [
            (1, "same payload", "a"),
            (7, "same payload", "a"),
            (3, "same payload", "b"),
            (5, "different", "a"),
        ],
        "doc_id long, text string, source string",
    )
    media = M.media_from_documents(docs)
    rows = {r["media_id"]: r for r in M.media_exact_dedup(media).collect()}
    assert set(rows) == {1, 5}
    assert rows[1]["dup_count"] == 3 and rows[5]["dup_count"] == 1
    feats = {
        r["media_id"]: r["checksum"]
        for r in M.media_features(media).collect()
    }
    assert rows[1]["checksum"] == feats[1] == feats[7]
    assert rows[5]["checksum"] == feats[5]


def test_media_exact_dedup_byte_verify_splits_checksum_collisions(spark):
    """'zAa' and 'zBB' collide on the full feature triple by construction
    (base-31 fold: 65*31+97 == 66*31+66 == 2112, identical under ANY
    modulus; same length, same first byte) — the false-merge case the
    docstring's collision math warns about.  byte_verify=False merges
    them (documented ~30-bit trust); byte_verify=True keeps them
    DISTINCT via the independent blake2b channel, while byte-identical
    payloads still merge and the output schema is unchanged."""
    from wpvectordb_spark.operators import multimodal as M

    docs = spark.createDataFrame(
        [
            (1, "zAa", "s"),   # collides with doc 2 on (len, first, checksum)
            (2, "zBB", "s"),
            (4, "zAa", "s"),   # byte-identical to doc 1
            (9, "other", "s"),
        ],
        "doc_id long, text string, source string",
    )
    media = M.media_from_documents(docs)

    merged = {r["media_id"]: r for r in M.media_exact_dedup(media).collect()}
    # without verify the collision falsely merges 1, 2, 4 into one group
    assert set(merged) == {1, 9}
    assert merged[1]["dup_count"] == 3

    verified = M.media_exact_dedup(media, byte_verify=True)
    assert verified.columns == [
        "media_id", "byte_len", "first_byte", "checksum", "dup_count"
    ]
    vrows = {r["media_id"]: r for r in verified.collect()}
    assert set(vrows) == {1, 2, 9}
    assert vrows[1]["dup_count"] == 2  # the true duplicate pair (1, 4)
    assert vrows[2]["dup_count"] == 1  # the collision stays distinct
    # the split rows share the colliding triple — visible in the output
    assert (
        vrows[1]["byte_len"], vrows[1]["first_byte"], vrows[1]["checksum"]
    ) == (
        vrows[2]["byte_len"], vrows[2]["first_byte"], vrows[2]["checksum"]
    )


def test_segment_media_golden(spark):
    """Chunks tile the payload exactly (reassembly == original), the
    last chunk carries the remainder, chunk_no/n_chunks agree, and
    empty/NULL payloads emit nothing (and never a DESCENDING sequence)."""
    from wpvectordb_spark.operators import multimodal as M

    docs = spark.createDataFrame(
        [
            (1, "abcdefghij", "s"),   # 10 bytes -> 3 chunks at 4
            (2, "abcd", "s"),         # exactly one chunk
            (3, "", "s"),             # empty -> no chunks
            (4, None, "s"),           # NULL -> no chunks
        ],
        "doc_id long, text string, source string",
    )
    media = M.media_from_documents(docs)
    rows = M.segment_media(media, chunk_bytes=4).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["media_id"], []).append(r)
    assert set(by_id) == {1, 2}
    ones = sorted(by_id[1], key=lambda r: r["chunk_no"])
    assert [r["chunk_no"] for r in ones] == [0, 1, 2]
    assert all(r["n_chunks"] == 3 for r in ones)
    assert b"".join(bytes(r["chunk"]) for r in ones) == b"abcdefghij"
    assert len(bytes(ones[-1]["chunk"])) == 2  # remainder chunk
    assert by_id[2][0]["n_chunks"] == 1 and bytes(by_id[2][0]["chunk"]) == b"abcd"
    import pytest

    with pytest.raises(ValueError):
        M.segment_media(media, chunk_bytes=0)


def test_stream_anomaly_monitor_matches_batch(spark, tmp_path):
    """Exact batch-equivalence for the streaming anomaly monitor: the
    merged state after N micro-batches scores identically to
    windowed_anomaly_scores over the whole corpus — window assignment is
    a per-event pure function and the counts are integer sums, so they
    telescope across any split; densify applies at read time too."""
    from wpvectordb_spark.operators import events as E

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    src = str(tmp_path / "ev_src")
    ev.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, ts timestamp,"
            " event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    get_scores, query = ST.stream_anomaly_monitor(
        spark, stream, compact_every=2  # force a snapshot fold mid-run
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    streamed = sorted(map(tuple, get_scores().collect()), key=repr)
    batch = sorted(
        map(tuple, E.windowed_anomaly_scores(ev).collect()), key=repr
    )
    assert streamed == batch and len(streamed) > 10
    sdense = sorted(map(tuple, get_scores(densify=True).collect()), key=repr)
    bdense = sorted(
        map(tuple, E.windowed_anomaly_scores(ev, densify=True).collect()),
        key=repr,
    )
    assert sdense == bdense and len(sdense) > len(streamed)


def test_stream_anomaly_replay_exactly_once_and_restart_refused(
    spark, tmp_path
):
    """A replayed micro-batch overwrites its own delta (no double
    counts); a batch-id restart over existing state refuses loudly."""
    import os

    import pytest

    from wpvectordb_spark.operators import events as E

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    counts_dir = str(tmp_path / "counts")
    os.makedirs(counts_dir)
    b0 = ev.where(F.col("event_id") % 2 == 0)
    b1 = ev.where(F.col("event_id") % 2 == 1)
    ST._anomaly_ingest_apply(spark, counts_dir, b0, 0)
    ST._anomaly_ingest_apply(spark, counts_dir, b1, 1)
    ST._anomaly_ingest_apply(spark, counts_dir, b1, 1)  # replay of batch 1
    raw = ST._read_state_stable(spark, counts_dir, ST._ANOMALY_STATE_SCHEMA)
    merged = raw.groupBy("window_start", "event_type").agg(
        F.sum("n_events").cast("long").alias("n_events")
    )
    got = sorted(
        map(tuple, E._anomaly_scores_from_counts(merged).collect()), key=repr
    )
    want = sorted(
        map(tuple, E.windowed_anomaly_scores(ev).collect()), key=repr
    )
    assert got == want
    with pytest.raises(RuntimeError, match="batch"):
        ST._anomaly_ingest_apply(spark, counts_dir, ev, 0)


def test_stream_distinct_monitor_matches_batch(spark, tmp_path):
    """Exact batch-equivalence for the streaming distinct monitor:
    per-batch HLL registers max-merge to EXACTLY the one-shot registers
    for any split (max is associative), so the read-time estimates
    equal approx_distinct_rollup over the whole corpus."""
    from wpvectordb_spark.operators import events as E

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    src = str(tmp_path / "ev_src_d")
    ev.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, ts timestamp,"
            " event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    get_estimates, query = ST.stream_distinct_monitor(
        spark, stream, compact_every=2  # force a snapshot fold mid-run
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    streamed = sorted(map(tuple, get_estimates().collect()), key=repr)
    batch = sorted(
        map(tuple, E.approx_distinct_rollup(ev).collect()), key=repr
    )
    assert streamed == batch and len(streamed) > 3


def test_stream_distinct_replay_exactly_once_and_restart_refused(
    spark, tmp_path
):
    """A replayed micro-batch overwrites its own register delta (a
    re-max of identical rows — no inflation); a batch-id restart over
    existing state refuses loudly."""
    import os

    import pytest

    from wpvectordb_spark.operators import events as E

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    regs_dir = str(tmp_path / "regs")
    os.makedirs(regs_dir)
    b0 = ev.where(F.col("event_id") % 2 == 0)
    b1 = ev.where(F.col("event_id") % 2 == 1)
    ST._distinct_ingest_apply(spark, regs_dir, b0, 0)
    ST._distinct_ingest_apply(spark, regs_dir, b1, 1)
    ST._distinct_ingest_apply(spark, regs_dir, b1, 1)  # replay of batch 1
    raw = ST._read_state_stable(spark, regs_dir, ST._DISTINCT_STATE_SCHEMA)
    merged = E.hll_merge(raw, ["window_start", "event_type"])
    got = sorted(
        map(
            tuple,
            E.hll_estimate(merged, ["window_start", "event_type"]).collect(),
        ),
        key=repr,
    )
    want = sorted(
        map(tuple, E.approx_distinct_rollup(ev).collect()), key=repr
    )
    assert got == want
    with pytest.raises(RuntimeError, match="batch"):
        ST._distinct_ingest_apply(spark, regs_dir, ev, 0)
