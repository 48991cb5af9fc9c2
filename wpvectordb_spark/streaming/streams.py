"""Structured Streaming forms of the engine's operators.

The reference's queue is poll-based batch (VectorTableQueue.php); its
streaming analog — and the natural shape of a 100 TB ingest pipeline — is
a file/queue source streamed through the SAME column logic the batch
operators use (events.tumbling_window_agg etc.), with watermarks bounding
state.  The batch/stream split is only at the source/sink boundary:

* ``stream_events`` — file-source stream over the events table (schema
  pinned, nanos handled as in the batch loader);
* ``stream_tumbling_counts`` — windowed aggregation with a watermark;
  results land in an in-memory sink for tests/demo, a Delta/Kafka sink in
  production;
* ``stream_queue_ingest`` — ``foreachBatch`` applying the batch queue
  transform (queue_ops.add_posts) per micro-batch: exactly-once appends of
  newly-seen post ids, demonstrating the queue as a streaming state table;
* ``run_stream_to_completion`` — drives any of the above over the static
  testdata files and returns the final result as a batch DataFrame (used
  by the driver queries so streaming output is oracle-checkable).
"""

from __future__ import annotations

import os
import tempfile
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wpvectordb_spark import fsutil

def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (one file = one
    micro-batch here; a directory of arriving files in production).

    Streaming sources need a pinned schema, but the events testdata has
    shipped with two physical ``ts`` encodings (int64-read NANOS vs native
    MICROS — see sources/loaders.load_events); probe the file's batch
    schema once (metadata-only, no data scan) and normalize ``ts`` the
    same way the batch loader does."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    probed = (
        spark.read.option("pathGlobFilter", "events.parquet").parquet(sf_dir).schema
    )
    raw = (
        spark.readStream.schema(probed)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    from wpvectordb_spark.sources.loaders import _events_ts

    return raw.withColumn("ts", _events_ts(probed["ts"].dataType))


def stream_tumbling_counts(
    events: DataFrame, width: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming windowed aggregation: same columns as the batch
    ``events.tumbling_window_agg``, with exact count_distinct replaced by
    ``approx_count_distinct`` (HLL — bounded state per window, the only
    distinct-count shape streaming state can afford)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.approx_count_distinct("user_id").alias("n_users_approx"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
            "n_users_approx",
        )
    )


#: default state-store partition count for BOUNDED-cardinality stateful
#: aggregations (tumbling counts: state rows = #windows x #event_types,
#: fixed by the time range and type vocabulary — NOT by data volume or
#: cluster size).  Each state partition costs a store init + a delta
#: file write per micro-batch, so sizing stores to the session core
#: count pays pure overhead: measured at sf0.1/local[32], the tumbling
#: key is 1.63 s with 32 stores vs 0.94 s with 8 vs 0.83 s with 1 —
#: ~45% of the key is store count.  8 keeps per-store state in the low
#: hundreds of rows for any realistic window/type product; this is a
#: STATE-size policy, not a core-count tune (on a 2048-core cluster 8
#: is still right for hundreds of groups, while 2048 stores each
#: holding <1 row would be strictly worse).  Unbounded-cardinality
#: state (per-user sessionization) must NOT use this — size those to
#: #keys / target-rows-per-store via state_partitions= explicitly.
BOUNDED_STATE_PARTITIONS = int(
    os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "8")
)


#: serializes every set / start / restore of the session-wide shuffle
#: partition conf in ``run_stream_to_completion``: two concurrent calls
#: would otherwise each restore the OTHER's value (the session ends on
#: the wrong count) and start with the other's state-store count
_STREAM_CONF_LOCK = threading.Lock()


def run_stream_to_completion(
    spark: SparkSession,
    streaming_df: DataFrame,
    output_mode: str = "append",
    state_partitions: int | None = None,
) -> DataFrame:
    """Run a streaming query over its (static) file source until all
    available data is processed; return the result as a batch
    DataFrame.  Nothing the call creates outlives it: the memory-sink
    rows are materialized (eager ``localCheckpoint``) and the sink's
    ``sink_*`` view is dropped — each view would otherwise pin its rows
    in driver memory for the session — and the throwaway checkpoint
    directory is deleted (``fsutil``) once the query stops.

    ``state_partitions`` pins ``spark.sql.shuffle.partitions`` for the
    query START only (restored immediately after, under a module-level
    lock so concurrent calls never see or restore each other's value):
    Structured Streaming freezes the stateful-operator partition count
    into the checkpoint at first batch, so this is the one knob that
    decides how many state stores the query maintains forever.  Pass
    ``BOUNDED_STATE_PARTITIONS`` for aggregations whose state
    cardinality is bounded (see its docstring); leave ``None`` (the
    session default) for key-cardinality state."""
    name = f"sink_{uuid.uuid4().hex[:12]}"
    ckpt = os.path.join(tempfile.gettempdir(), f"ckpt_{name}")
    writer = (
        streaming_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
    )
    with _STREAM_CONF_LOCK:
        old_parts = spark.conf.get("spark.sql.shuffle.partitions")
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", str(int(state_partitions)))
        try:
            q = writer.start()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    try:
        q.processAllAvailable()
        return spark.table(name).localCheckpoint(eager=True)
    finally:
        q.stop()
        spark.catalog.dropTempView(name)
        fsutil.delete(spark, ckpt)


def stream_session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 day"
) -> DataFrame:
    """Streaming sessionization via native ``session_window`` (dynamic-gap
    merging windows, state bounded by the watermark) — the streaming form
    of ``events.sessionize``: same 30-minute-gap session semantics, same
    per-session aggregates.  ``session_start`` equals the batch operator's
    (min event ts per session); the window END differs by construction
    (last ts + gap) so it is not emitted."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


def stream_dedup(
    events: DataFrame,
    key: str | list[str],
    watermark_col: str = "ts",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming exact dedup: keep the first record per key, with the
    watermark bounding how long keys stay in state — the streaming form of
    ``dedup.exact_dedup``.  At 100 TB ingest this is how already-seen
    documents are dropped without a static join against the full corpus.

    WHICH row survives per key depends on micro-batch arrival order;
    downstream logic that must be deterministic should aggregate per-key
    facts (counts, distinct counts), not survivor attributes."""
    keys = [key] if isinstance(key, str) else list(key)
    return events.withWatermark(watermark_col, watermark).dropDuplicates(keys)


def stream_running_user_counts(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: a per-user
    running event counter maintained in explicit state across
    micro-batches (the applyInPandasWithState pattern for stateful logic
    that windowed aggregation cannot express)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
        ]
    )
    state_schema = T.StructType([T.StructField("n", T.LongType())])

    def update(key, pdfs, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stream_queue_ingest(
    spark: SparkSession,
    post_ids_stream: DataFrame,
    initial_queue: DataFrame,
    now,
    state_path: str | None = None,
    checkpoint_path: str | None = None,
) -> tuple[DataFrame, object]:
    """Queue ingestion as a stream: each micro-batch of post ids is
    appended as pending jobs via the batch queue transform (anti-join
    dedup), accumulating into an in-memory state table.

    Returns ``(get_state, query)`` where ``get_state()`` yields the queue
    after processed batches.  Production: the state table is Delta and
    ``add_posts`` becomes a MERGE — the transform logic is unchanged.

    State lives in a versioned parquet directory: each micro-batch reads
    the previous version, applies the batch transform, writes the next
    version, repoints, and DELETES the superseded version — executors
    carry the data, the driver only repoints a path.  No ``collect()``
    anywhere, so state size is bounded by cluster storage, not driver
    memory; lineage resets at every version boundary; disk holds at most
    THREE versions at any instant (the Delta/iceberg form of this is a
    MERGE with table history doing the same job).

    Retention keeps one superseded version: a ``get_state()`` DataFrame
    handed out between batches stays readable across the NEXT batch
    landing (only version n-2 is deleted) — consume it within one batch
    of obtaining it.

    ``state_path`` / ``checkpoint_path`` pin the versioned state table
    and the streaming checkpoint to caller-supplied directories (local
    paths or Hadoop URIs — listing and gc go through ``fsutil``) so a
    later ``start()`` over the same source resumes where this one
    stopped: existing ``v<N>`` dirs are adopted (``initial_queue`` is
    only written on a fresh state dir) and the checkpoint carries the
    batch-id sequence forward.  Defaults stay throwaway temp dirs.

    Mirroring the dedup stream's restart refusal: a ``_last_batch``
    marker records the newest applied batch id, and a micro-batch whose
    id is LOWER than the marker (a ``start()`` reusing ``state_path``
    with a fresh/missing ``checkpoint_path``, so the batch-id sequence
    restarted over adopted state) raises instead of silently replaying
    the whole source over the adopted queue.  That replay happens to be
    VALUE-safe today only because ``add_posts`` is anti-join idempotent
    — the guard keeps that property from being silently load-bearing.
    A replay of the SAME batch id (marker == id, crash-recovery) stays
    allowed.
    """
    root = state_path or tempfile.mkdtemp(prefix="stream_queue_state_")
    if not _queue_state_versions(spark, root):
        initial_queue.write.mode("overwrite").parquet(os.path.join(root, "v0"))

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        _queue_ingest_apply(spark, root, batch_df, batch_id, now)

    ckpt = checkpoint_path or os.path.join(
        tempfile.gettempdir(), f"ckpt_q_{uuid.uuid4().hex[:8]}"
    )
    query = (
        post_ids_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", ckpt)
        .start()
    )

    def get_state() -> DataFrame:
        return spark.read.parquet(
            os.path.join(root, f"v{_queue_state_versions(spark, root)[-1]}")
        )

    return get_state, query


def _queue_state_versions(spark: SparkSession, root: str) -> list[int]:
    """COMMITTED (_SUCCESS-marked) version numbers of a queue state dir,
    ascending.  A crashed mid-write leaves a partial v<N> dir, and
    resuming from partial state would silently drop the missing rows
    forward forever — partials are invisible here and overwritten by
    the next write."""
    return sorted(
        int(d[1:])
        for d, _ in fsutil.list_dir(spark, root)
        if d.startswith("v")
        and d[1:].isdigit()
        and fsutil.exists(spark, os.path.join(root, d, "_SUCCESS"))
    )


def _queue_ingest_apply(
    spark: SparkSession, root: str, batch_df: DataFrame, batch_id: int, now
) -> None:
    """One micro-batch of the queue ingest — module-level (like the
    dedup/profile kernels) so the exactly-once replay contract and the
    batch-vs-stream telescoping are directly drivable: the latest
    committed version is discovered from DISK each call, so a
    crash-recovery replay of the same batch id reapplies over the same
    predecessor state (``add_posts`` is anti-join idempotent on top).
    With batches whose post/job ids are disjoint — the normal crawl
    shape — sequential application telescopes to ONE ``add_posts`` of
    the union, which is the oracle the stream arm is checked against."""
    from wpvectordb_spark.operators import queue_ops as Q

    bid = int(batch_id)
    marker = os.path.join(root, "_last_batch")
    text = fsutil.read_text(spark, marker)
    if text is not None:
        last = int(text.strip() or -1)
        if bid < last:
            raise RuntimeError(
                f"queue state dir {root} already holds batch {last} but "
                f"the stream is processing batch {bid} — resuming a "
                "state_path requires the ORIGINAL checkpoint_path so "
                "batch ids continue (or a fresh state_path for a new "
                "stream)"
            )
    versions = _queue_state_versions(spark, root)
    if not versions:
        raise RuntimeError(
            f"queue state dir {root} has no committed v<N> state — "
            "stream_queue_ingest seeds v0 from initial_queue before the "
            "first batch"
        )
    cur = versions[-1]
    jobs = batch_df.select(F.col("job_id"), F.col("post_id"))
    prev = spark.read.parquet(os.path.join(root, f"v{cur}"))
    new_state = Q.add_posts(prev, jobs, now)
    new_state.write.mode("overwrite").parquet(os.path.join(root, f"v{cur + 1}"))
    # retention keeps ONE superseded version: a get_state() frame handed
    # out between batches stays readable across the next batch landing
    fsutil.delete(spark, os.path.join(root, f"v{cur - 1}"))
    # marker last (atomic replace): a crash between the state write and
    # the marker leaves marker == bid-1, and the replay of bid passes
    # the < check — never a false refusal
    fsutil.write_text(spark, marker, str(bid))


def stream_dedup_ingest(
    spark: SparkSession,
    docs_stream: DataFrame,
    threshold: float = 0.5,
    state_path: str | None = None,
    checkpoint_path: str | None = None,
    compact_every: int = 16,
):
    """Streaming near-dedup ingest — the production crawl pipeline: each
    micro-batch of documents is (a) self-deduped with the full MinHash
    pipeline, (b) deduped AGAINST the accumulated corpus via the
    cross-side band join (``incremental_dedup_pairs``) over the persisted
    index, and (c) appended to that index.  The corpus is never
    re-compared to itself, and — because the persisted index carries BOTH
    halves of the production layout, (doc_id, sh) shingles AND
    (doc_id, band_id, band_key) band keys — the corpus side is never
    re-HASHED either: per batch, minhash/banding runs over the batch's
    own documents only, and corpus cost is pure I/O (band equi-join +
    verify-join scans).  Writes are append-only batch deltas, so write
    volume is O(|batch|) per batch too (the earlier versioned-rewrite
    design rewrote the whole index every batch).

    Telescoping guarantee (test-asserted): for ANY split of a corpus
    into micro-batches, the accumulated pair set equals
    ``minhash_lsh_dedup_pairs`` over the whole corpus — every pair is
    either within one batch (a) or across two batches, in which case the
    earlier doc is in the index when the later one arrives (b).  Pairs
    are normalized to id_a < id_b so batch arrival order is irrelevant.
    The guarantee holds only if every band key in the state came from the
    current ``text.minhash_coefficients`` family: state written before
    that family replaced the correlated one must be rebuilt.

    State writes are EXACTLY-ONCE under foreachBatch's replay semantics
    (test-asserted): every table writes its batch delta to a
    deterministic per-batch subdirectory (``b<batch_id>``) with
    ``overwrite``, so a batch replayed after a mid-write failure lands on
    its own previous attempt instead of double-appending — the canonical
    idempotent-foreachBatch pattern.  Reads inside a batch list only
    subdirectories of EARLIER batches, so a replay also re-reads exactly
    the state its first attempt saw (never its own partial output, which
    would emit self-pairs).  Schemas are passed explicitly on every read:
    inference over a multi-writer dir samples an arbitrary file and the
    inferred type then depends on file-listing order (observed once with
    a drifted seed schema: band_key inferred long, ANSI cast of the
    string band keys threw mid-stream under some orderings only).

    Batch intermediates are persisted for the batch's two jobs and
    explicitly unpersisted before the next trigger — no cache
    accumulation across a long-running stream.

    STATE COMPACTION: per-batch delta dirs accumulate one per
    micro-batch, so a long-running stream's per-batch listing (and its
    small-file count) would grow O(N) — O(N^2) cumulative over the
    stream's life.  Once a table holds ``compact_every`` delta dirs
    older than the in-flight batch, they are folded into ONE snapshot
    dir (``s<upto>`` = all batches <= upto), written through the table
    facades' swap (``fsutil.replace_dir``) and then gc'd: a kill at
    any point leaves either the old layout or the new one readable,
    never neither (readers take the max-upto snapshot and ignore delta
    dirs it covers, so pre-gc debris double-counts nothing).  Folding
    only batches STRICTLY BEFORE the in-flight one preserves the
    exactly-once replay contract — a replayed batch still reads exactly
    the state its first attempt saw.  Listing cost per batch is bounded
    by ``compact_every``; rewrite cost is the classic size-tiered trade
    (full-state rewrite every ``compact_every`` batches — Delta/Iceberg
    OPTIMIZE is the managed form of the same fold).

    ``state_path`` / ``checkpoint_path`` pin the persisted index and
    the streaming checkpoint so a later ``start()`` resumes this
    stream's corpus (existing deltas/snapshots are adopted; the
    checkpoint continues the batch-id sequence — both must be supplied
    together for a resume).  Either may be a local path or a Hadoop
    URI.  Defaults stay throwaway temp dirs.

    Returns ``(get_pairs, get_index, query)``.  The accessors
    re-snapshot the directory layout on EVERY call and return an
    eagerly ``localCheckpoint``-ed frame, retrying once if a concurrent
    compaction (or batch replay) swaps files between the listing and
    the materialization — so the handed-out DataFrame can be consumed
    at leisure without hitting FileNotFound on gc'd deltas.
    """
    root = state_path or tempfile.mkdtemp(prefix="stream_dedup_state_")
    sh_dir = os.path.join(root, "sh")
    bands_dir = os.path.join(root, "bands")
    pairs_dir = os.path.join(root, "pairs")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        _dedup_ingest_apply(
            spark,
            sh_dir,
            bands_dir,
            pairs_dir,
            threshold,
            batch_df,
            batch_id,
            compact_every=compact_every,
        )

    ckpt = checkpoint_path or os.path.join(
        tempfile.gettempdir(), f"ckpt_dd_{uuid.uuid4().hex[:8]}"
    )
    query = (
        docs_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", ckpt)
        .start()
    )
    return (
        lambda: _read_state_stable(spark, pairs_dir, _DEDUP_PAIRS_SCHEMA),
        lambda: _read_state_stable(spark, sh_dir, _DEDUP_SH_SCHEMA),
        query,
    )


_DEDUP_SH_SCHEMA = "doc_id long, sh array<long>"
_DEDUP_BANDS_SCHEMA = "doc_id long, band_id int, band_key string"
_DEDUP_PAIRS_SCHEMA = "id_a long, id_b long, jaccard double"


def _list_state(
    spark: SparkSession, root: str
) -> tuple[int | None, str | None, list[tuple[int, str]]]:
    """One directory listing -> (snapshot coverage, snapshot path, delta
    dirs as (batch_id, path)).  Crash debris is excluded two ways: by
    NAME (a compaction killed before its promote leaves
    ``s<u>__staging`` — not all-digits after the prefix; a kill after the
    rename but before gc leaves older snapshots and covered deltas,
    which the max-upto rule and the caller's coverage filter ignore),
    and by the ``_SUCCESS`` commit marker (a batch write killed mid-way
    leaves a partial delta dir; the in-flight batch will overwrite it on
    replay, but an external accessor listing it meanwhile would read
    partial rows as if they were committed state).  A missing ``root``
    lists as empty (nothing written yet)."""
    snaps, deltas = [], []
    for d, _ in fsutil.list_dir(spark, root):
        if not fsutil.exists(spark, os.path.join(root, d, "_SUCCESS")):
            continue
        if d.startswith("b") and d[1:].isdigit():
            deltas.append((int(d[1:]), os.path.join(root, d)))
        elif d.startswith("s") and d[1:].isdigit():
            snaps.append((int(d[1:]), os.path.join(root, d)))
    upto, spath = max(snaps) if snaps else (None, None)
    return upto, spath, sorted(deltas)


def _read_state(
    spark: SparkSession, root: str, schema: str, before_batch: int | None = None
) -> DataFrame:
    """Read a snapshot + per-batch-delta state table; ``before_batch``
    limits to batches strictly earlier (the in-batch view).  An empty or
    not-yet-written table reads as an empty frame of the right schema."""
    upto, spath, deltas = _list_state(spark, root)
    if upto is not None and before_batch is not None and upto >= before_batch:
        # compaction only ever folds batches < the in-flight one, so a
        # snapshot covering the requesting batch means the state dir was
        # shared across two live streams — refuse rather than double-read
        raise RuntimeError(
            f"state snapshot covers batch {upto} but batch {before_batch} "
            f"asked for its pre-state — is {root} shared by two streams?"
        )
    if before_batch is not None and any(b > before_batch for b, _ in deltas):
        # A delta from a LATER batch than the in-flight one means the
        # batch-id sequence restarted over existing state: a start()
        # reusing state_path with a fresh/missing checkpoint_path.
        # Silently proceeding would ignore the old corpus for cross-batch
        # dedup, overwrite its deltas batch by batch, and serve accessors
        # a blend of two streams — refuse loudly instead.  (A delta
        # EQUAL to before_batch is the batch's own earlier attempt: a
        # legitimate replay, overwritten idempotently.)
        newest = max(b for b, _ in deltas)
        raise RuntimeError(
            f"state dir {root} already holds batch {newest} but the stream "
            f"is processing batch {before_batch} — resuming a state_path "
            "requires the ORIGINAL checkpoint_path so batch ids continue "
            "(or a fresh state_path for a new stream)"
        )
    paths = [spath] if spath else []
    paths += [
        p
        for b, p in deltas
        if (upto is None or b > upto)
        and (before_batch is None or b < before_batch)
    ]
    if not paths:
        return spark.createDataFrame([], schema)
    # Deliberately NOT ignoreMissingFiles: the scan only knows the file
    # names it listed, so skipping vanished files would silently return
    # state MISSING those rows rather than surfacing a retryable error.
    # The transactional fix is a table format with snapshot isolation
    # (Delta/Iceberg) — the layout maps 1:1.
    return spark.read.schema(schema).parquet(*paths)


def _read_state_stable(spark: SparkSession, root: str, schema: str) -> DataFrame:
    """External-accessor form of ``_read_state``: the file listing binds
    at plan time but executes at the CALLER's action, so a concurrent
    compaction gc (or batch replay overwrite) between the two raises
    FileNotFound mid-action.  Materialize eagerly (``localCheckpoint``
    detaches the frame from the source files) and retry the whole
    list+materialize once — after a compaction swap the re-listing sees
    the snapshot that replaced the vanished deltas, so the second
    attempt reads the SAME logical state.  The returned frame is then
    immune to later state churn.  (In-batch reads use the raw
    ``_read_state``: foreachBatch is the single writer, nothing swaps
    underneath it mid-batch.)

    Only the FILE-VANISHED failure class retries (and only twice more):
    the deliberate RuntimeError refusals (shared state dir, batch-id
    restart) and real errors (schema, permissions) must stay single-shot
    — an earlier bare ``except Exception`` re-executed the refusal path
    before propagating, doubling side-effect-free but confusing work and
    masking which attempt actually failed."""
    attempts = 3
    for i in range(attempts):
        try:
            return _read_state(spark, root, schema).localCheckpoint(eager=True)
        except RuntimeError:
            raise  # deliberate refusal — never a race, never retried
        except Exception as e:
            if i == attempts - 1 or not _is_file_vanished(e):
                raise


def _is_file_vanished(e: Exception) -> bool:
    """True iff the error is the listed-file-disappeared race (a
    concurrent compaction gc or batch-replay overwrite swapped files
    between the plan's listing and its execution).  Matched on the JVM
    exception text: Spark surfaces it as FileNotFoundException /
    PATH_NOT_FOUND / FILE_NOT_EXIST depending on where in the scan the
    vanish is noticed."""
    msg = str(e)
    return any(
        marker in msg
        for marker in (
            "FileNotFoundException",
            "PATH_NOT_FOUND",
            "FILE_NOT_EXIST",
            "does not exist",
        )
    )


def _norm_pairs(pairs: DataFrame) -> DataFrame:
    return pairs.select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
        "jaccard",
    )


def _compact_state(
    spark: SparkSession, root: str, schema: str, before_batch: int, compact_every: int
) -> None:
    """Fold the delta dirs of batches strictly before ``before_batch``
    into one snapshot dir once ``compact_every`` of them have
    accumulated.  The new ``s<upto>`` is written through the one swap
    (``fsutil.replace_dir``: build in ``s<upto>__staging``, promote),
    THEN the superseded snapshot and the folded deltas are gc'd — a
    kill in any gap leaves a readable layout because readers take the
    max-coverage snapshot and skip deltas it covers.  Idempotent under
    batch replay: the folded deltas are gone, so the re-run sees fewer
    than ``compact_every`` and skips."""
    upto, spath, deltas = _list_state(spark, root)
    foldable = [
        (b, p) for b, p in deltas if b < before_batch and (upto is None or b > upto)
    ]
    if len(foldable) < compact_every:
        return
    # gc debris from any previously crashed fold: swap leftovers (a
    # ``__staging``/``__old`` suffix, or the ``__tmp`` of older state
    # layouts), plus superseded snapshots and covered deltas (kill
    # AFTER the promote but before that fold's own gc — readers ignore
    # them via the max-upto rule, but nothing else would ever delete
    # them and each such crash leaks a full state copy)
    for d, _ in fsutil.list_dir(spark, root):
        digits = d[1:].isdigit()
        if (
            "__" in d
            or (d.startswith("s") and digits and int(d[1:]) < (upto or 0))
            or (upto is not None and d.startswith("b") and digits and int(d[1:]) <= upto)
        ):
            fsutil.delete(spark, os.path.join(root, d))
    new_upto = max(b for b, _ in foldable)
    folded = ([spath] if spath else []) + [p for _, p in foldable]
    merged = spark.read.schema(schema).parquet(*folded)
    fsutil.replace_dir(
        spark, os.path.join(root, f"s{new_upto}"), merged.write.mode("overwrite").parquet
    )
    for p in folded:
        fsutil.delete(spark, p)


def _dedup_ingest_apply(
    spark: SparkSession,
    sh_dir: str,
    bands_dir: str,
    pairs_dir: str,
    threshold: float,
    batch_df: DataFrame,
    batch_id: int,
    compact_every: int = 16,
) -> None:
    """One micro-batch of the dedup ingest — module-level so the
    exactly-once replay contract is directly testable (apply the same
    batch twice, assert identical state)."""
    from wpvectordb_spark.operators import dedup as D

    bid = int(batch_id)
    batch_sh = D.shingle_sets(batch_df.select("doc_id", "text")).persist()
    prev_sh = _read_state(spark, sh_dir, _DEDUP_SH_SCHEMA, before_batch=bid)
    prev_bands = _read_state(spark, bands_dir, _DEDUP_BANDS_SCHEMA, before_batch=bid)
    within = D.minhash_lsh_dedup_pairs(batch_sh, threshold=threshold)
    cross = D.incremental_dedup_pairs(
        prev_sh, batch_sh, threshold=threshold, corpus_bands=prev_bands
    )
    _norm_pairs(within).unionByName(_norm_pairs(cross)).write.mode(
        "overwrite"
    ).parquet(os.path.join(pairs_dir, f"b{bid}"))
    batch_sh.write.mode("overwrite").parquet(os.path.join(sh_dir, f"b{bid}"))
    D.lsh_band_index(batch_sh).write.mode("overwrite").parquet(
        os.path.join(bands_dir, f"b{bid}")
    )
    batch_sh.unpersist()
    # Compaction AFTER the batch's own writes, folding only batches < bid:
    # a replay of bid still reads its exact pre-state (snapshot + uncovered
    # deltas < bid) and re-overwrites its own delta dirs.
    for d, sch in (
        (sh_dir, _DEDUP_SH_SCHEMA),
        (bands_dir, _DEDUP_BANDS_SCHEMA),
        (pairs_dir, _DEDUP_PAIRS_SCHEMA),
    ):
        _compact_state(spark, d, sch, before_batch=bid, compact_every=compact_every)


# --- streaming ANN serving ----------------------------------------------------

_ANN_RESULTS_SCHEMA = (
    "query_id long, vec_id long, cluster_id long, cosine_similarity double"
)


def _ann_serve_apply(
    spark: SparkSession,
    index_path: str,
    results_dir: str,
    batch_df: DataFrame,
    batch_id: int,
    *,
    kind: str = "ivf",
    k: int = 10,
    n_probe: int = 4,
    dim: int | None = None,
    m: int = 8,
    expected_dim: int | None = None,
    compact_every: int = 16,
    where: str | None = None,
    candidates: DataFrame | None = None,
) -> None:
    """One micro-batch of streaming ANN serving — module-level so the
    exactly-once replay contract is directly testable (apply the same
    batch twice, assert identical results).  The batch's query vectors
    run through the BATCHED serving plan (``ivf_topk_many`` /
    ``ivfpq_topk_many``) against the frozen persisted index, and the
    top-k rows land in the deterministic per-batch subdir ``b<bid>``
    with ``overwrite`` (the idempotent-foreachBatch pattern shared with
    the ingest streams).  Unlike the ingest streams the batches are
    INDEPENDENT — serving never reads earlier results — but the
    pre-state read still runs for its refusal guards: a results dir
    shared by two live streams or a batch-id restart over old results
    would silently blend two streams' outputs."""
    from wpvectordb_spark.operators import similarity as SIM

    bid = int(batch_id)
    if kind not in ("ivf", "ivfpq"):
        raise ValueError(f"stream_ann_serve: unknown kind {kind!r}")
    if kind == "ivfpq" and dim is None:
        raise ValueError("stream_ann_serve: kind='ivfpq' requires dim=")
    # refusal guards only (shared dir / batch-id restart); the frame is
    # lazy and never consumed — no job runs
    _read_state(spark, results_dir, _ANN_RESULTS_SCHEMA, before_batch=bid)
    if kind == "ivf":
        res = SIM.ivf_topk_many(
            spark,
            batch_df,
            path=index_path,
            k=k,
            n_probe=n_probe,
            expected_dim=expected_dim,
            where=where,
            candidates=candidates,
        )
    else:
        res = SIM.ivfpq_topk_many(
            spark, index_path, batch_df, dim=dim, m=m, k=k, n_probe=n_probe,
            where=where, candidates=candidates,
        )
    res.select(
        F.col("query_id").cast("long"),
        F.col("vec_id").cast("long"),
        F.col("cluster_id").cast("long"),
        F.col("cosine_similarity").cast("double"),
    ).write.mode("overwrite").parquet(os.path.join(results_dir, f"b{bid}"))
    _compact_state(
        spark,
        results_dir,
        _ANN_RESULTS_SCHEMA,
        before_batch=bid,
        compact_every=compact_every,
    )


def stream_ann_serve(
    spark: SparkSession,
    index_path: str,
    queries_stream: DataFrame,
    *,
    kind: str = "ivf",
    k: int = 10,
    n_probe: int = 4,
    dim: int | None = None,
    m: int = 8,
    expected_dim: int | None = None,
    state_path: str | None = None,
    checkpoint_path: str | None = None,
    compact_every: int = 16,
    where: str | None = None,
    candidates: DataFrame | None = None,
):
    """Streaming ANN serving — the online form of the batched query
    paths: query vectors ARRIVE as a stream (a Kafka topic of search
    requests in production; a file source here) and each micro-batch is
    served in ONE plan against the frozen persisted index via
    ``ivf_topk_many`` (``kind='ivf'``) or ``ivfpq_topk_many``
    (``kind='ivfpq'``).  This is the production serving loop the
    reference runs one HTTP request at a time (reference src/VectorTable.php
    search(): binarize -> candidates -> rank per call): micro-batching
    amortizes probe ranking, partition-pruned reads, and plan
    construction across the whole batch — measured 10-16x over the
    per-query loop at 50 queries (PERFORMANCE.md items 33/39).

    Because the index is FROZEN during serving, micro-batches are
    independent and the accumulated results table after any split of a
    query set equals the batched serve over the whole set (the serving
    analog of the ingest streams' telescoping guarantee; test- and
    oracle-asserted).  Results are written exactly-once: each batch
    overwrites its own ``b<batch_id>`` subdir, so a replayed batch lands
    on its previous attempt; ``compact_every`` folds old result deltas
    into one snapshot with the same crash-safe swap as the ingest
    streams, bounding the listing cost of a long-running serve stream.
    Index updates compose as in FAISS practice: appends go through
    ``append_to_ivf_index`` between (not during) serve runs; re-train +
    rebuild when monitored recall (``ann_recall``) degrades.

    ``state_path`` / ``checkpoint_path`` pin results + checkpoint so a
    later ``start()`` resumes the batch-id sequence (both together, as
    with the ingest streams — a fresh checkpoint over old results
    refuses loudly).  Returns ``(get_results, query)``: ``get_results``
    re-lists on every call and returns an eagerly materialized frame
    (query_id, vec_id, cluster_id, cosine_similarity as longs/double),
    immune to concurrent compaction swaps.  ``where=`` / ``candidates=``
    apply the batched paths' standing candidate restriction to every
    micro-batch (e.g. serve only a tenant's rows)."""
    root = state_path or tempfile.mkdtemp(prefix="stream_ann_results_")
    results_dir = os.path.join(root, "results")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        _ann_serve_apply(
            spark,
            index_path,
            results_dir,
            batch_df,
            batch_id,
            kind=kind,
            k=k,
            n_probe=n_probe,
            dim=dim,
            m=m,
            expected_dim=expected_dim,
            compact_every=compact_every,
            where=where,
            candidates=candidates,
        )

    ckpt = checkpoint_path or os.path.join(
        tempfile.gettempdir(), f"ckpt_ann_{uuid.uuid4().hex[:8]}"
    )
    query = (
        queries_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", ckpt)
        .start()
    )
    return (
        lambda: _read_state_stable(spark, results_dir, _ANN_RESULTS_SCHEMA),
        query,
    )


# --- streaming corpus profile --------------------------------------------------

def _profile_state_schema(stratum_cols: tuple[str, ...]) -> str:
    """Derived from text_analysis.PROFILE_SUM_COLS — hand-duplicating the
    column list here would let the two modules drift (an explicit parquet
    schema silently DROPS columns it doesn't name).  ``_batch_id`` stamps
    every state row with its micro-batch: the merged profile ignores it,
    and the time-series accessor groups on it — compaction only UNIONS
    delta rows (never re-aggregates), so per-batch granularity survives
    snapshot folds."""
    from wpvectordb_spark.operators import text_analysis as TA

    return (
        "_batch_id long, "
        + ", ".join(f"{c} string" for c in stratum_cols)
        + ", "
        + ", ".join(f"{c} long" for c in TA.PROFILE_SUM_COLS)
    )


def _profile_ingest_apply(
    spark: SparkSession,
    sums_dir: str,
    batch_df: DataFrame,
    batch_id: int,
    stratum_cols: tuple[str, ...] = ("lang", "source"),
    text_col: str = "text",
    lang_col: str = "lang",
    compact_every: int = 16,
) -> None:
    """One micro-batch of the profile monitor — module-level so the
    exactly-once replay contract is directly testable.  The batch
    reduces to its per-stratum INTEGER sums (text_analysis._profile_sums)
    and writes them as the batch's delta; nothing data-sized is ever
    stored.  The pre-state read runs for its refusal guards only
    (shared state dir / batch-id restart — same contract as the other
    ingest streams)."""
    from wpvectordb_spark.operators import text_analysis as TA
    from pyspark.sql import functions as F

    bid = int(batch_id)
    schema = _profile_state_schema(stratum_cols)
    _read_state(spark, sums_dir, schema, before_batch=bid)  # guards only
    sums = TA._profile_sums(batch_df, stratum_cols, text_col, lang_col).select(
        F.lit(bid).cast("long").alias("_batch_id"),
        *[F.col(c).cast("string").alias(c) for c in stratum_cols],
        *[F.col(c) for c in TA.PROFILE_SUM_COLS],
    )
    sums.write.mode("overwrite").parquet(os.path.join(sums_dir, f"b{bid}"))
    _compact_state(
        spark, sums_dir, schema, before_batch=bid, compact_every=compact_every
    )


def stream_corpus_profile(
    spark: SparkSession,
    docs_stream: DataFrame,
    stratum_cols: tuple[str, ...] = ("lang", "source"),
    text_col: str = "text",
    lang_col: str = "lang",
    state_path: str | None = None,
    checkpoint_path: str | None = None,
    compact_every: int = 16,
):
    """Streaming data-quality monitor: the per-stratum corpus profile
    (volumes, int-scaled mean quality, PII incidence, langid-label
    agreement — ``text_analysis.corpus_profile``) maintained
    incrementally over an ingest stream.  The monitoring story a 100 TB
    crawl pipeline runs NEXT TO the dedup ingest: drift in per-source
    quality or PII rates is visible per micro-batch instead of at the
    next full-corpus profile job.

    EXACT batch-equivalence (the profile analog of the dedup stream's
    telescoping guarantee, test-asserted): because every state column is
    an integer SUM, re-summing per-batch partials equals the one-shot
    profile over the union for ANY split — no floating merge order
    anywhere; the ratio columns are derived from the merged integers at
    READ time by the same division the batch form uses.

    State is O(#strata) rows per batch (never data-sized), written
    exactly-once to ``b<batch_id>`` overwrite subdirs and folded every
    ``compact_every`` batches with the ingest streams' crash-safe
    snapshot swap; ``state_path``/``checkpoint_path`` pin it for
    cross-run resume under the same refusal guards.  Stratum columns are
    stored as strings (explicit schema on every read — the multi-writer
    inference trap).

    Returns ``(get_profile, get_timeseries, query)``:
    ``get_profile(round_to=6)`` re-lists state and returns the merged
    profile frame with the same columns as ``corpus_profile``;
    ``get_timeseries(round_to=6)`` returns the per-(micro-batch,
    stratum) drift view (one profile row per batch a stratum appeared
    in, ``_batch_id`` leading)."""
    from wpvectordb_spark.operators import text_analysis as TA
    from pyspark.sql import functions as F

    # state stores strata as strings; remember the INPUT types so
    # get_profile can cast back — otherwise an integer stratum (shard id)
    # would come back string-typed and equality joins against batch
    # profiles would silently miss
    stratum_types = {c: docs_stream.schema[c].dataType for c in stratum_cols}
    root = state_path or tempfile.mkdtemp(prefix="stream_profile_")
    sums_dir = os.path.join(root, "sums")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        _profile_ingest_apply(
            spark,
            sums_dir,
            batch_df,
            batch_id,
            stratum_cols=stratum_cols,
            text_col=text_col,
            lang_col=lang_col,
            compact_every=compact_every,
        )

    ckpt = checkpoint_path or os.path.join(
        tempfile.gettempdir(), f"ckpt_profile_{uuid.uuid4().hex[:8]}"
    )
    query = (
        docs_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", ckpt)
        .start()
    )

    def _restore_types(prof: DataFrame) -> DataFrame:
        other = [c for c in prof.columns if c not in stratum_cols]
        return prof.select(
            *[c for c in other if c == "_batch_id"],
            *[F.col(c).cast(stratum_types[c]).alias(c) for c in stratum_cols],
            *[c for c in other if c != "_batch_id"],
        )

    def get_profile(round_to: int = 6) -> DataFrame:
        raw = _read_state_stable(
            spark, sums_dir, _profile_state_schema(stratum_cols)
        )
        merged = raw.groupBy(*stratum_cols).agg(
            *[F.sum(c).alias(c) for c in TA.PROFILE_SUM_COLS]
        )
        return _restore_types(TA._profile_from_sums(merged, stratum_cols, round_to))

    def get_timeseries(round_to: int = 6) -> DataFrame:
        """Per-(micro-batch, stratum) profile rows — the DRIFT view: a
        stratum's quality/PII rate over stream time, one row per batch it
        appeared in.  Exactly-once per cell (a replay overwrites its
        batch's delta), compaction-proof (folds union rows, never
        re-aggregate)."""
        raw = _read_state_stable(
            spark, sums_dir, _profile_state_schema(stratum_cols)
        )
        return _restore_types(
            TA._profile_from_sums(
                raw, ("_batch_id",) + tuple(stratum_cols), round_to
            )
        )

    return get_profile, get_timeseries, query


# --- streaming anomaly monitor --------------------------------------------------

_ANOMALY_STATE_SCHEMA = (
    "_batch_id long, window_start timestamp, event_type string,"
    " n_events long"
)


def _anomaly_ingest_apply(
    spark: SparkSession,
    counts_dir: str,
    batch_df: DataFrame,
    batch_id: int,
    width: str = "1 hour",
    ts_col: str = "ts",
    compact_every: int = 16,
) -> None:
    """One micro-batch of the anomaly monitor — module-level so the
    exactly-once replay contract is directly testable.  The batch
    reduces to its per-(window, type) INTEGER counts and writes them as
    the batch's delta; nothing event-sized is ever stored.  The
    pre-state read runs for its refusal guards only (shared state dir /
    batch-id restart — the ingest streams' contract)."""
    bid = int(batch_id)
    _read_state(spark, counts_dir, _ANOMALY_STATE_SCHEMA, before_batch=bid)
    counts = (
        batch_df.groupBy(F.window(ts_col, width).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.lit(bid).cast("long").alias("_batch_id"),
            F.col("w.start").alias("window_start"),
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
        )
    )
    counts.write.mode("overwrite").parquet(os.path.join(counts_dir, f"b{bid}"))
    _compact_state(
        spark,
        counts_dir,
        _ANOMALY_STATE_SCHEMA,
        before_batch=bid,
        compact_every=compact_every,
    )


def stream_anomaly_monitor(
    spark: SparkSession,
    events_stream: DataFrame,
    width: str = "1 hour",
    trailing: int = 24,
    min_trailing: int = 3,
    ts_col: str = "ts",
    round_to: int = 6,
    state_path: str | None = None,
    checkpoint_path: str | None = None,
    compact_every: int = 16,
):
    """Streaming volume-anomaly monitor: the per-(event_type, window)
    z-scores of ``events.windowed_anomaly_scores`` maintained
    incrementally over a live event stream — the incident monitor runs
    AS EVENTS ARRIVE instead of in an hourly batch job.

    EXACT batch-equivalence (the counts analog of the profile stream's
    integer-sum telescoping, test-asserted): window assignment is a
    per-event pure function and the per-(window, type) counts are
    integer SUMS, so re-summing per-batch partials equals the one-shot
    windowed count over the union for ANY split; the trailing-window
    score arithmetic runs at READ time over the merged counts — the
    identical ``_anomaly_scores_from_counts`` stage the batch operator
    uses.  (Late events are handled by ADDITIVITY, not watermarks: a
    straggler's window count simply gains its increment on the batch it
    arrives in, and the next read re-scores — no state is ever closed.)

    State is O(#windows x #types) rows per batch — never event-sized —
    written exactly-once to ``b<batch_id>`` overwrite subdirs and folded
    every ``compact_every`` batches with the ingest streams' crash-safe
    snapshot swap and restart-refusal guards.

    Returns ``(get_scores, query)``: ``get_scores(densify=False)``
    re-lists state and returns the merged score frame with the same
    columns as the batch operator (``densify=True`` applies the
    calendar-spine treatment to the merged counts)."""
    from wpvectordb_spark.operators import events as E

    root = state_path or tempfile.mkdtemp(prefix="stream_anomaly_")
    counts_dir = os.path.join(root, "counts")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        _anomaly_ingest_apply(
            spark,
            counts_dir,
            batch_df,
            batch_id,
            width=width,
            ts_col=ts_col,
            compact_every=compact_every,
        )

    ckpt = checkpoint_path or os.path.join(
        tempfile.gettempdir(), f"ckpt_anom_{uuid.uuid4().hex[:8]}"
    )
    query = (
        events_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", ckpt)
        .start()
    )

    def get_scores(densify: bool = False) -> DataFrame:
        raw = _read_state_stable(spark, counts_dir, _ANOMALY_STATE_SCHEMA)
        merged = raw.groupBy("window_start", "event_type").agg(
            F.sum("n_events").cast("long").alias("n_events")
        )
        return E._anomaly_scores_from_counts(
            merged,
            width=width,
            trailing=trailing,
            min_trailing=min_trailing,
            round_to=round_to,
            densify=densify,
        )

    return get_scores, query


# --- streaming distinct-count monitor ------------------------------------------

_DISTINCT_STATE_SCHEMA = (
    "_batch_id long, window_start timestamp, event_type string,"
    " bucket long, rho int"
)


def _distinct_ingest_apply(
    spark: SparkSession,
    regs_dir: str,
    batch_df: DataFrame,
    batch_id: int,
    level: str = "day",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "user_id",
    compact_every: int = 16,
) -> None:
    """One micro-batch of the distinct monitor — module-level so the
    exactly-once replay contract is directly testable.  The batch
    reduces to its per-(window, type) PORTABLE-HLL registers
    (``events.hll_registers`` — at most #groups x 2^p rows, never
    event- or user-sized) written as the batch's delta; the pre-state
    read runs for the refusal guards only (the ingest streams'
    contract)."""
    from wpvectordb_spark.operators import events as E

    bid = int(batch_id)
    _read_state(spark, regs_dir, _DISTINCT_STATE_SCHEMA, before_batch=bid)
    base = batch_df.select(
        F.date_trunc(level, F.col(ts_col).cast("timestamp")).alias(
            "window_start"
        ),
        F.col(type_col).alias("event_type"),
        F.col(value_col),
    )
    regs = E.hll_registers(
        base, ["window_start", "event_type"], value_col
    ).select(
        F.lit(bid).cast("long").alias("_batch_id"),
        "window_start",
        "event_type",
        "bucket",
        "rho",
    )
    regs.write.mode("overwrite").parquet(os.path.join(regs_dir, f"b{bid}"))
    _compact_state(
        spark,
        regs_dir,
        _DISTINCT_STATE_SCHEMA,
        before_batch=bid,
        compact_every=compact_every,
    )


def stream_distinct_monitor(
    spark: SparkSession,
    events_stream: DataFrame,
    level: str = "day",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "user_id",
    state_path: str | None = None,
    checkpoint_path: str | None = None,
    compact_every: int = 16,
):
    """Streaming distinct-count monitor: ``approx_distinct_rollup``
    maintained incrementally over a live event stream through the
    PORTABLE HLL sketch — per-day unique users per type, updated as
    events arrive, without ever storing user ids.

    EXACT batch-equivalence for ANY split (the register analog of the
    anomaly monitor's integer-sum telescoping, test-asserted): a
    register is a per-(window, type, bucket) MAX of a per-event pure
    function, and max is associative/commutative — so max-merging
    per-batch registers equals the one-shot registers over the union,
    and the estimate stage (``hll_estimate``, run at READ time) sees
    identical input.  Late events are handled by the same property: a
    straggler can only raise its register, exactly as it would have in
    batch.  Compaction UNIONS state rows and the read-time merge
    re-maxes, so snapshot folds never lose or double anything.

    State is O(#windows x #types x 2^p) rows per batch; ``b<batch_id>``
    overwrite subdirs + snapshot compaction + batch-id restart refusal
    — the ingest streams' exactly-once contract.

    Returns ``(get_estimates, query)``; ``get_estimates()`` re-lists
    state and returns (window_start, event_type, n_registers,
    approx_distinct) — the ``approx_distinct_rollup`` columns."""
    from wpvectordb_spark.operators import events as E

    root = state_path or tempfile.mkdtemp(prefix="stream_distinct_")
    regs_dir = os.path.join(root, "registers")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        _distinct_ingest_apply(
            spark,
            regs_dir,
            batch_df,
            batch_id,
            level=level,
            ts_col=ts_col,
            type_col=type_col,
            value_col=value_col,
            compact_every=compact_every,
        )

    ckpt = checkpoint_path or os.path.join(
        tempfile.gettempdir(), f"ckpt_dist_{uuid.uuid4().hex[:8]}"
    )
    query = (
        events_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", ckpt)
        .start()
    )

    def get_estimates() -> DataFrame:
        raw = _read_state_stable(spark, regs_dir, _DISTINCT_STATE_SCHEMA)
        merged = E.hll_merge(raw, ["window_start", "event_type"])
        return E.hll_estimate(merged, ["window_start", "event_type"])

    return get_estimates, query


# --- streaming decontamination -------------------------------------------------

_DECON_RESULTS_SCHEMA = (
    "doc_id long, n_shingles long, n_matched long, contaminated int"
)


def _decon_ingest_apply(
    spark: SparkSession,
    results_dir: str,
    hold_hashes: DataFrame,
    threshold: int,
    batch_df: DataFrame,
    batch_id: int,
    compact_every: int = 16,
    shingle_k: int = 3,
) -> None:
    """One micro-batch of streaming decontamination — module-level so the
    exactly-once replay and restart-refusal contracts are directly
    testable.  The per-document decision reads only the document and the
    frozen holdout hash set, so there is no cross-batch state to merge:
    the batch's delta IS its result rows, written exactly-once to the
    deterministic ``b<batch_id>`` subdir.  The pre-state read is purely
    the REFUSAL GUARD (same rule as the dedup ingest): a delta from a
    later batch id means the id sequence restarted over adopted state —
    a start() reusing state_path with a fresh checkpoint — and silently
    proceeding would overwrite one stream's verdicts with another's."""
    from wpvectordb_spark.operators import curation as CU

    bid = int(batch_id)
    _read_state(spark, results_dir, _DECON_RESULTS_SCHEMA, before_batch=bid)
    # shingle_k MUST match the k the holdout hashes were built with — a
    # mismatch joins k-shingles against k'-shingles and silently clears
    # every document, so the caller threads ONE k through both sides
    out = CU.decontaminate_against_hashes(
        batch_df.select("doc_id", "text"),
        hold_hashes,
        threshold=threshold,
        shingle_k=shingle_k,
    )
    out.write.mode("overwrite").parquet(os.path.join(results_dir, f"b{bid}"))
    _compact_state(
        spark,
        results_dir,
        _DECON_RESULTS_SCHEMA,
        before_batch=bid,
        compact_every=compact_every,
    )


def stream_decontaminate_ingest(
    spark: SparkSession,
    docs_stream: DataFrame,
    holdout: DataFrame,
    threshold: int = 5,
    shingle_k: int = 3,
    state_path: str | None = None,
    checkpoint_path: str | None = None,
    compact_every: int = 16,
):
    """Streaming decontamination ingest — production crawls arrive
    incrementally, and every page should be checked against the frozen
    holdout/eval suite AS IT ARRIVES, not in a nightly batch over the
    accumulated corpus.  The holdout reduces to its distinct shingle-hash
    set ONCE at stream start (localCheckpoint freezes it — eval
    benchmarks don't change mid-stream) and broadcasts into each
    micro-batch's join, which then telescopes trivially: the accumulated
    results equal ``curation.decontaminate`` over the whole corpus for
    ANY batch split, because each document's verdict depends only on
    itself and the hash set (oracle-checked as the ``stream`` arm of
    ``curate_decontaminate``).

    Same state discipline as ``stream_dedup_ingest``: exactly-once
    per-batch overwrite subdirs, ``compact_every`` snapshot folding, and
    the restart-refusal guard against reusing a ``state_path`` with a
    fresh checkpoint.  Returns ``(get_results, query)``."""
    from wpvectordb_spark.functions import text as X

    root = state_path or tempfile.mkdtemp(prefix="stream_decon_state_")
    results_dir = os.path.join(root, "results")
    hold_hashes = (
        holdout.select(
            F.explode(X.shingle_hashes("text", shingle_k)).alias("h")
        )
        .distinct()
        .localCheckpoint()
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        _decon_ingest_apply(
            spark,
            results_dir,
            hold_hashes,
            threshold,
            batch_df,
            batch_id,
            compact_every=compact_every,
            shingle_k=shingle_k,
        )

    ckpt = checkpoint_path or os.path.join(
        tempfile.gettempdir(), f"ckpt_dc_{uuid.uuid4().hex[:8]}"
    )
    query = (
        docs_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", ckpt)
        .start()
    )
    return (
        lambda: _read_state_stable(spark, results_dir, _DECON_RESULTS_SCHEMA),
        query,
    )
