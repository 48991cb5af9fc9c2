"""Batch job-queue state machine (SURVEY.md §2.5, VectorTableQueue.php).

The reference drives a MySQL table through status transitions
(pending -> processing -> completed|failed, with bounded retries and a
cleanup cron).  Here the queue is a **state DataFrame** and every operator
is a pure transform ``(state, now) -> state'`` — ``now`` is an explicit
timestamp parameter so each step is deterministic and testable (the
reference bakes ``NOW()`` into its SQL).

Constants preserved: batch size 25 (:184), ``error_count < 3`` retryable
(:194), 15-minute stuck-job timeout (:321), 3-day completed retention
(:329), ``error_count > 3`` purge (:330), retry-fetch cap 25,000 (:347),
page size 25 (:403).  The reference's ``delete_record`` bug (targets a
nonexistent ``id`` column, quirk §4.4.6) is fixed to ``job_id``.

Single-writer assumption documented as in the reference (its two-statement
claim isn't transactional either, :189-223).  At scale the state table is a
compacted Delta/Iceberg table and these transforms are MERGE sources.
"""

from __future__ import annotations

import datetime as _dt

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BATCH_SIZE = 25  # VectorTableQueue.php:184
MAX_RETRIES = 3  # :194 (error_count < 3 is retryable)
STUCK_TIMEOUT_MINUTES = 15  # :321
COMPLETED_RETENTION_DAYS = 3  # :329
RETRY_FETCH_CAP = 25_000  # :347
PAGE_SIZE = 25  # :403

from wpvectordb_spark.schemas import QUEUE_STATUSES as STATUSES

_TERMINAL = ("completed", "failed")


def _now_lit(now: _dt.datetime) -> F.Column:
    return F.lit(now).cast("timestamp")


def add_posts(
    queue: DataFrame, new_jobs: DataFrame, now: _dt.datetime
) -> DataFrame:
    """J1/J2 (:101-176): enqueue posts as ``pending``; duplicates (post_id
    already queued) are dropped via anti-join — the reference throws on a
    duplicate single add; set semantics are the batch equivalent.  Within
    the incoming batch the lowest job_id per post wins (the reference's
    sequential adds would likewise reject repeats).

    ``job_id`` uniqueness is enforced STRUCTURALLY (in-batch min-post
    per job + anti-join against ids already queued): the reference gets
    it free from AUTO_INCREMENT, but here callers supply ids (the
    streaming ingest feeds stream-provided ones), and a colliding id
    would silently fan every id-keyed update/delete out to all its
    rows."""
    # lowest job_id per post is a plain min — map-side combinable, no
    # sort window over the incoming batch; then lowest post per job
    # closes the two-posts-one-job corruption path
    deduped = (
        new_jobs.select("job_id", "post_id")
        .groupBy("post_id")
        .agg(F.min("job_id").alias("job_id"))
        .groupBy("job_id")
        .agg(F.min("post_id").alias("post_id"))
    )
    fresh = (
        deduped.join(queue.select("post_id"), "post_id", "left_anti")
        .join(queue.select("job_id"), "job_id", "left_anti")
        .withColumn("chunk_count", F.lit(0))
        .withColumn("status", F.lit("pending"))
        .withColumn("queued_time", _now_lit(now))
        .withColumn("start_time", F.lit(None).cast("timestamp"))
        .withColumn("end_time", F.lit(None).cast("timestamp"))
        .withColumn("error_count", F.lit(0))
        .withColumn("error_message", F.lit(None).cast("string"))
    )
    return queue.unionByName(fresh)


def dequeue_priority(queue: DataFrame, batch_size: int = BATCH_SIZE) -> DataFrame:
    """The J3 selection (:191-204): pending first, then retryable failed
    (error_count < 3), oldest queued_time first; deterministic job_id
    tie-break."""
    eligible = queue.where(
        (F.col("status") == "pending")
        | ((F.col("status") == "failed") & (F.col("error_count") < MAX_RETRIES))
    )
    prio = F.when(F.col("status") == "pending", 0).otherwise(1)
    return (
        eligible.withColumn("prio", prio)
        .orderBy("prio", "queued_time", "job_id")
        .limit(batch_size)
        .drop("prio")
    )


def claim_batch(
    queue: DataFrame, now: _dt.datetime, batch_size: int = BATCH_SIZE
) -> tuple[DataFrame, DataFrame]:
    """J3 claim-and-mark (:184-226): returns ``(claimed, new_state)`` —
    claimed rows flip to ``processing`` with ``start_time = now`` and a
    CLEARED ``end_time``.

    The end_time clear FIXES a reference bug (quirk register): the PHP
    claim UPDATE (:216-223) leaves a re-claimed failed job's old
    end_time in place, and cleanup's stuck predicate (:322) requires
    ``end_time IS NULL`` — so a worker crash after a re-claim left the
    job 'processing' forever (never timed out, never retried, never
    purged).  Clearing it on claim restores the invariant "processing
    rows have no end_time" that the stuck sweep assumes."""
    claimed = dequeue_priority(queue, batch_size)
    claimed_ids = claimed.select("job_id")
    is_claimed = F.col("_c").isNotNull()
    new_state = (
        queue.join(claimed_ids.withColumn("_c", F.lit(1)), "job_id", "left")
        .withColumn("status", F.when(is_claimed, "processing").otherwise(F.col("status")))
        .withColumn(
            "start_time", F.when(is_claimed, _now_lit(now)).otherwise(F.col("start_time"))
        )
        .withColumn(
            "end_time",
            F.when(is_claimed, F.lit(None).cast("timestamp")).otherwise(F.col("end_time")),
        )
        .drop("_c")
    )
    return claimed, new_state


def mark_processing(
    queue: DataFrame, job_ids: list[int], now: _dt.datetime
) -> DataFrame:
    """The claim UPDATE half over already-materialized ids — the
    facade's SELECT-then-UPDATE shape: ``get_next_batch`` collects the
    batch anyway, so rebuilding the state from the collected ids avoids
    re-running the whole-queue priority sort a second time inside the
    state rewrite (ids are bounded by batch_size, a literal isin)."""
    hit = F.col("job_id").isin([int(j) for j in job_ids])
    return (
        queue.withColumn("status", F.when(hit, "processing").otherwise(F.col("status")))
        .withColumn("start_time", F.when(hit, _now_lit(now)).otherwise(F.col("start_time")))
        .withColumn(
            "end_time",
            F.when(hit, F.lit(None).cast("timestamp")).otherwise(F.col("end_time")),
        )
    )


def update_status(
    queue: DataFrame,
    job_ids: list[int] | DataFrame,
    status: str,
    now: _dt.datetime,
    error_message: str | None = None,
) -> DataFrame:
    """J4 (:236-268): whitelist completed/failed; failure bumps
    ``error_count``; BOTH statuses set ``end_time`` and OVERWRITE
    ``error_message`` — the reference writes the message column
    unconditionally (default ``''``, :241-246), so a success after a
    failed attempt clears the stale error rather than leaving a
    completed row that still reads 'boom'."""
    if status not in _TERMINAL:
        raise ValueError(f"invalid status {status!r}; allowed: {_TERMINAL}")
    if isinstance(job_ids, DataFrame):
        # distinct: set semantics like the list path's isin() — a duplicate
        # id in the frame would otherwise MULTIPLY its queue row via the join
        ids_df = job_ids.select("job_id").distinct().withColumn("_u", F.lit(1))
    else:
        ids_df = None
    if ids_df is not None:
        q = queue.join(ids_df, "job_id", "left")
        hit = F.col("_u").isNotNull()
    else:
        q = queue
        hit = F.col("job_id").isin([int(j) for j in job_ids])
    out = (
        q.withColumn("status", F.when(hit, status).otherwise(F.col("status")))
        .withColumn("end_time", F.when(hit, _now_lit(now)).otherwise(F.col("end_time")))
        .withColumn(
            "error_count",
            F.when(hit & F.lit(status == "failed"), F.col("error_count") + 1).otherwise(
                F.col("error_count")
            ),
        )
        .withColumn(
            "error_message",
            F.when(hit, F.lit(error_message)).otherwise(F.col("error_message")),
        )
    )
    return out.drop("_u") if ids_df is not None else out


def stats(queue: DataFrame) -> DataFrame:
    """J5 (:293-303): per-status counts — one aggregation instead of the
    reference's five COUNT(*) round trips.  ZERO-PRESERVING like the
    reference: its five separate COUNTs report every status even when
    empty, so a bare groupBy (which drops absent statuses) would make
    ``get_stats()['pending']`` a KeyError on an empty queue."""
    # the status list through Arrow: a LocalRelation, not a Python RDD
    statuses = queue.sparkSession.createDataFrame(
        pa.table({"status": sorted(STATUSES)})
    )
    counts = queue.groupBy("status").agg(F.count("*").alias("n"))
    return statuses.join(counts, "status", "left").select(
        "status", F.coalesce("n", F.lit(0)).alias("n")
    )


def cleanup(queue: DataFrame, now: _dt.datetime) -> DataFrame:
    """J6 (:310-332): (a) ``processing`` older than 15 min with no end_time
    -> ``failed`` (+1 error); (b) drop completed older than 3 days and
    failed with error_count > 3."""
    now_c = _now_lit(now)
    stuck = (
        (F.col("status") == "processing")
        & F.col("end_time").isNull()
        & (F.col("start_time") < now_c - F.expr(f"INTERVAL {STUCK_TIMEOUT_MINUTES} MINUTES"))
    )
    timed_out = (
        queue.withColumn("error_count", F.when(stuck, F.col("error_count") + 1).otherwise(F.col("error_count")))
        .withColumn(
            "error_message",
            F.when(stuck, F.lit("Job timed out")).otherwise(F.col("error_message")),
        )
        .withColumn("status", F.when(stuck, "failed").otherwise(F.col("status")))
    )
    # end_time IS NOT NULL mirrors the reference (VectorTableQueue.php:329):
    # a completed row with NULL end_time is RETAINED.  Without the guard,
    # NULL < cutoff is NULL, NOT(NULL) is NULL, and where() would drop it.
    keep = ~(
        (
            (F.col("status") == "completed")
            & F.col("end_time").isNotNull()
            & (F.col("end_time") < now_c - F.expr(f"INTERVAL {COMPLETED_RETENTION_DAYS} DAYS"))
        )
        | ((F.col("status") == "failed") & (F.col("error_count") > MAX_RETRIES))
    )
    return timed_out.where(keep)


def posts_to_retry(queue: DataFrame, cap: int = RETRY_FETCH_CAP) -> DataFrame:
    """J7 (:339-350)."""
    return (
        queue.where((F.col("status") == "failed") & (F.col("error_count") < MAX_RETRIES))
        .orderBy("queued_time", "job_id")
        .limit(cap)
    )


def reset_post(queue: DataFrame, post_id: int) -> DataFrame:
    """J8 (:358-372): back to pending, null times."""
    hit = F.col("post_id") == post_id
    return (
        queue.withColumn("status", F.when(hit, "pending").otherwise(F.col("status")))
        .withColumn("start_time", F.when(hit, F.lit(None).cast("timestamp")).otherwise(F.col("start_time")))
        .withColumn("end_time", F.when(hit, F.lit(None).cast("timestamp")).otherwise(F.col("end_time")))
    )


def delete_post(queue: DataFrame, post_id: int) -> DataFrame:
    """J9a (:380-387)."""
    return queue.where(F.col("post_id") != post_id)


def delete_record(queue: DataFrame, job_id: int) -> DataFrame:
    """J9b (:391-394) — fixed to target ``job_id`` (the reference targets a
    nonexistent ``id`` column, quirk §4.4.6)."""
    return queue.where(F.col("job_id") != job_id)


def page_of_records(
    queue: DataFrame,
    page: int,
    per_page: int = PAGE_SIZE,
    documents: DataFrame | None = None,
) -> DataFrame:
    """J10 (:403-437): LIMIT/OFFSET pagination (Spark >= 3.4 ``offset``);
    optional join to the documents dimension for display columns, as the
    reference joins wp_posts for titles.

    Ordering preserves the reference's QUIRK verbatim (:417-425): ``status
    DESC`` sorts FIRST, which makes the status-priority CASE that follows
    dead code (it only breaks ties within one status, where it is
    constant) — so pages come out processing > pending > failed >
    completed, lexicographic.  Then ``queued_time ASC`` as the reference
    writes, plus a ``job_id`` tie-break for determinism (queued_time
    collides in real queues; MySQL's page split would be arbitrary)."""
    prio = (
        F.when(F.col("status") == "pending", 0)
        .when(F.col("status") == "completed", 1)
        .when(F.col("status") == "failed", 2)
        .otherwise(3)
    )
    out = queue
    if documents is not None:
        out = out.join(documents, out.post_id == documents.doc_id, "left").drop("doc_id")
    return (
        out.withColumn("status_prio", prio)
        .orderBy(
            F.col("status").desc(),
            F.col("status_prio").asc(),
            F.col("queued_time").asc(),
            F.col("job_id").asc(),
        )
        .offset((page - 1) * per_page)
        .limit(per_page)
        .drop("status_prio")
    )


def total_records(queue: DataFrame) -> int:
    """J11 (:444-447)."""
    return queue.count()
