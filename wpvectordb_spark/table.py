"""User-facing facades mirroring the reference's two classes 1:1.

``VectorTable`` (src/VectorTable.php) and ``VectorTableQueue``
(src/VectorTableQueue.php) re-expressed over parquet-backed state: every
method name and argument shape matches the reference so a caller can
switch engines without relearning the API, while the implementations
delegate to the operator modules (all lazy DataFrame plans).

Storage model: each table is a parquet directory, single-writer like
the reference's un-transactional MySQL usage
(VectorTableQueue.php:189-223).  The queue's mutating calls rewrite
its (small) snapshot.  The vector table is a base snapshot plus a
delta log: ``insert_all`` and ``upsert`` append one ``_delta-<n>/``
dir of new rows under the base, ``delete`` appends a tombstone only,
and one atomic ``_log`` head lists the committed deltas and the
``post_id`` / ``id`` tombstones each one carries.  Reads scan base +
deltas in one parquet scan and drop tombstoned rows with one literal
predicate; ``compact()`` (or a write that finds the log full) folds
them back into a new base.  The path may be a local path or any
Hadoop URI (``file:/``, ``hdfs://``, ``s3a://``): every swap,
recovery, listing and log write goes through ``fsutil``.  At
production scale the same facade sits over Delta/Iceberg, whose commit
log this layout mirrors; the operator layer is unchanged.
"""

from __future__ import annotations

import datetime as _dt
import json

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from wpvectordb_spark import fsutil
from wpvectordb_spark.operators import queue_ops as Q
from wpvectordb_spark.operators import search as S
from wpvectordb_spark.operators import table_ops as TO
from wpvectordb_spark.schemas import QUEUE_SCHEMA, VECTOR_TABLE_SCHEMA


def _utcnow() -> _dt.datetime:
    """Timezone-aware UTC now.  A NAIVE utcnow() literal would be
    interpreted in the Spark session timezone — queue timestamps would
    skew by the UTC offset on non-UTC sessions and the 15-minute stuck
    timeout would misfire (utcnow() is also deprecated in 3.12+)."""
    return _dt.datetime.now(_dt.timezone.utc)


def _write_snapshot(
    path: str, df: DataFrame, partition_by: list[str] | None = None
) -> None:
    """Snapshot rewrite through ``fsutil.replace_dir`` — the ONE swap
    shared by both facades and both compactions (parquet cannot
    overwrite in place while reading, so the new copy is staged first).
    A kill at any point leaves the old or the new snapshot, never zero
    copies; Delta/Iceberg replace this with MERGE/commit.

    ``partition_by`` writes the staging copy Hive-partitioned (used by
    partition-preserving compaction — operators/maintenance.py); the
    swap itself is layout-agnostic."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    fsutil.replace_dir(df.sparkSession, path, writer.parquet)


def _local_frame(
    spark: SparkSession, schema: T.StructType, columns: dict | None = None
) -> DataFrame:
    """Driver-built rows as a ``LocalRelation``: built through Arrow,
    never the Python-RDD list path, whose ``LogicalRDD`` pickles every
    row through a Python worker (PERFORMANCE.md item 48).  The rows are
    few by construction, so they stay ONE partition: a per-key dedup
    over them (``TO.replacement_rows``, ``Q.add_posts``) then needs no
    shuffle, and no extra Spark job.  ``columns`` maps each field of
    ``schema`` to its values; no ``columns`` is the empty table."""
    arrow = to_arrow_schema(schema)
    if not columns:
        return spark.createDataFrame(arrow.empty_table())
    return spark.createDataFrame(
        pa.table([pa.array(columns[f.name], f.type) for f in arrow], schema=arrow)
    ).coalesce(1)


# -- the vector table's delta log -------------------------------------------
_LOG = "_log"
# A write that finds this many log entries folds them into the base
# first: reads pay one tombstone term per entry and one scan root per
# delta, so the log stays short.
MAX_LOG_ENTRIES = 16
_SCAN_SCHEMA = T.StructType(
    VECTOR_TABLE_SCHEMA.fields + [T.StructField("_seq", T.IntegerType(), True)]
)


def _read_log(spark: SparkSession, path: str) -> list[dict]:
    """The committed log entries of the table at ``path``, oldest first:
    ``{"seq", "data", "post_ids", "ids"}`` — ``data`` says whether
    ``_delta-<seq>/`` holds rows; the tombstones drop rows of an earlier
    ``seq`` (the base is seq 0).  No head, no entries."""
    text = fsutil.read_text(spark, f"{path}/{_LOG}")
    return json.loads(text)["entries"] if text else []


def _has_snapshot(spark: SparkSession, path: str) -> bool:
    """Heal swap debris, then: does ``path`` hold a snapshot?  A commit
    marker or any parquet file counts; a bare pre-created directory
    (deployment mkdir, crash debris) does not, so ``init`` still seeds
    it with the schema'd empty snapshot."""
    fsutil.recover_snapshot(spark, path)
    return any(
        name == "_SUCCESS" or name.endswith(".parquet")
        for name, _ in fsutil.list_dir(spark, path)
    )


# the driver-built incoming rows of insert_all / upsert
_CHUNK_SCHEMA = T.StructType(
    [VECTOR_TABLE_SCHEMA[c] for c in ("post_id", "sequence_no", "vector")]
)
_UPSERT_SCHEMA = T.StructType(_CHUNK_SCHEMA.fields + [VECTOR_TABLE_SCHEMA["vector_type"]])
_JOB_SCHEMA = T.StructType([QUEUE_SCHEMA["job_id"], QUEUE_SCHEMA["post_id"]])


class VectorTable:
    """Parquet-backed vector table with the reference's method surface
    (VectorTable.php:30-633).

    Read methods return LAZY DataFrames over the table as it stands:
    a write only adds a delta and a new log head, so a pending plan keeps
    reading the table as it was when built — until a compaction (which a
    write runs itself once the log is full) swaps its files out, so
    consume reads before compacting."""

    def __init__(self, spark: SparkSession, path: str, vector_length: int = 1024):
        self.spark = spark
        self.path = path
        self.vector_length = vector_length  # VectorTable.php:37 default 1024

    # -- DDL (C11, VectorTable.php:464-513) ---------------------------------
    def init(self) -> None:
        if not self.table_exists():
            self.create_table()

    def create_table(self) -> None:
        # overwrite drops any earlier log and deltas with the base
        _local_frame(self.spark, VECTOR_TABLE_SCHEMA).write.mode("overwrite").parquet(self.path)

    def drop_table(self) -> None:
        # a crashed write's staging/old copies would otherwise be
        # orphaned full-table snapshots
        for p in (self.path, self.path + "__staging", self.path + "__old"):
            fsutil.delete(self.spark, p)

    def table_exists(self) -> bool:
        return _has_snapshot(self.spark, self.path)

    # -- state --------------------------------------------------------------
    def df(self) -> DataFrame:
        fsutil.recover_snapshot(self.spark, self.path)
        return self._read(_read_log(self.spark, self.path))

    def _delta(self, seq: int) -> str:
        return f"{self.path}/_delta-{seq}"

    def _read(self, log: list[dict]) -> DataFrame:
        """Base + every delta of ``log`` in ONE parquet scan (the Spark
        listing skips the ``_``-named deltas under the base, so each is
        its own root), minus the rows a later entry tombstoned.  One
        scan, not a ``Union`` of base and deltas: Catalyst pushes a
        search's candidate semi-join into every branch of a union,
        doubling its jobs."""
        if not log:
            return self.spark.read.schema(VECTOR_TABLE_SCHEMA).parquet(self.path)
        roots = [self._delta(e["seq"]) for e in log if e["data"]]
        scan = self.spark.read.schema(_SCAN_SCHEMA).parquet(self.path, *roots)
        seq = F.coalesce(F.col("_seq"), F.lit(0))
        dropped = F.lit(False)
        for e in log:
            for col, key in (("post_id", "post_ids"), ("id", "ids")):
                if e[key]:
                    # NULL keys are never tombstoned (MySQL DELETE semantics)
                    hit = F.coalesce(F.col(col).isin(e[key]), F.lit(False))
                    dropped = dropped | ((seq < e["seq"]) & hit)
        return scan.where(~dropped).drop("_seq")

    def _open_log(self) -> tuple[list[dict], int]:
        """Recover, then (log, next seq) for one write; a full log is
        folded into the base first.  The next seq reuses the number of
        an uncommitted delta a killed write left behind, and the write
        overwrites that debris."""
        fsutil.recover_snapshot(self.spark, self.path)
        log = _read_log(self.spark, self.path)
        if len(log) >= MAX_LOG_ENTRIES:
            self.compact()
            log = []
        return log, (log[-1]["seq"] if log else 0) + 1

    def _append(
        self, log: list[dict], entry: dict, rows: DataFrame | None = None
    ) -> None:
        """Write ``rows`` (table columns, ``id`` numbered) as the entry's
        delta, then commit: one atomic rewrite of the ``_log`` head.  A
        kill before the head lands leaves the old table; the delta dir
        is debris the next write overwrites."""
        if rows is not None:
            rows.select(
                *[
                    (F.col(f.name) if f.name in rows.columns else F.lit(None))
                    .cast(f.dataType)
                    .alias(f.name)
                    for f in VECTOR_TABLE_SCHEMA
                ],
                F.lit(entry["seq"]).alias("_seq"),
            ).write.mode("overwrite").parquet(self._delta(entry["seq"]))
        fsutil.write_text(
            self.spark, f"{self.path}/{_LOG}", json.dumps({"entries": log + [entry]})
        )

    def _max_id(self, log: list[dict]) -> int:
        """The largest id left in the table ``log`` describes — a
        column-pruned aggregate, one job."""
        return self._read(log).agg(F.max("id")).first()[0] or 0

    # -- reads (C1-C6) ------------------------------------------------------
    def id(self, id_: int) -> DataFrame:
        return TO.by_id(self.df(), id_)

    def ids(self, ids_: list[int]) -> DataFrame:
        return TO.by_ids(self.df(), ids_)

    def get(self, post_id: int, sequence_no: int) -> DataFrame:
        return TO.get(self.df(), post_id, sequence_no)

    def get_all_for_post(self, post_id: int) -> DataFrame:
        return TO.get_all_for_post(self.df(), post_id)

    def get_latest_updated(self, post_id: int) -> DataFrame:
        return TO.get_latest_updated(self.df(), post_id)

    def get_all(self) -> DataFrame:
        return TO.get_all(self.df())

    def get_vector_count(self) -> int:
        return TO.vector_count(self.df())

    # -- writes (C7-C9) ------------------------------------------------------
    def _check_length(self, vector: list[float]) -> None:
        """``vector_length`` is load-bearing in the reference (it iterates
        exactly that many bits — VectorTable.php:128); accepting a
        mismatched vector here would pack a different word count and its
        NULL Hamming distance would rank FIRST in search.  Reject early."""
        if self.vector_length and len(vector) != self.vector_length:
            raise ValueError(
                f"vector has {len(vector)} dims; table is declared "
                f"vector_length={self.vector_length}"
            )

    def upsert(
        self,
        post_id: int,
        sequence_no: int,
        vector: list[float],
        vector_type: str = "",
    ) -> None:
        """C7: ``TO.upsert`` over the key's current row only; the delta
        holds the one merged row (its id and created_at kept, or the next
        id for a new key) and the entry tombstones the replaced id."""
        self._check_length(vector)
        log, seq = self._open_log()
        table = self._read(log)
        key = (F.col("post_id") == int(post_id)) & (F.col("sequence_no") == int(sequence_no))
        top, old_ids = table.agg(
            F.max("id"), F.collect_list(F.when(key, F.col("id")))
        ).first()
        new = _local_frame(self.spark, _UPSERT_SCHEMA, {
            "post_id": [int(post_id)],
            "sequence_no": [int(sequence_no)],
            "vector": [[float(x) for x in vector]],
            "vector_type": [vector_type],
        })
        rows = TO.upsert(table.where(key), new).withColumn(
            "id", F.coalesce(F.col("id"), F.lit((top or 0) + 1))
        )
        entry = {"seq": seq, "data": True, "post_ids": [], "ids": sorted(old_ids)}
        self._append(log, entry, rows)

    def insert_all(self, post_id: int, vectors: list[list[float]]) -> None:
        """C8: the entry tombstones every earlier chunk of ``post_id``;
        the delta holds ``TO.replacement_rows`` numbered on from the
        largest id left, in sequence order."""
        for v in vectors:
            self._check_length(v)
        post_id = int(post_id)
        log, seq = self._open_log()
        entry = {"seq": seq, "data": bool(vectors), "post_ids": [post_id], "ids": []}
        rows = None
        if vectors:
            top = self._max_id(log + [dict(entry, data=False)])
            chunks = _local_frame(self.spark, _CHUNK_SCHEMA, {
                "post_id": [post_id] * len(vectors),
                "sequence_no": list(range(len(vectors))),
                "vector": [[float(x) for x in v] for v in vectors],
            })
            rows = TO.replacement_rows(post_id, chunks).withColumn(
                "id", F.col("sequence_no") + F.lit(top + 1)
            )
        self._append(log, entry, rows)

    def delete(self, id_: int) -> None:
        """C9: a tombstone entry only — no data dir, no Spark job."""
        log, seq = self._open_log()
        self._append(log, {"seq": seq, "data": False, "post_ids": [], "ids": [int(id_)]})

    # -- maintenance ----------------------------------------------------------
    def compact(
        self,
        target_file_bytes: int | None = None,
        sort_by: tuple[str, ...] = ("post_id", "sequence_no"),
    ) -> dict:
        """OPTIMIZE: fold base + deltas into a new base, bin-packed and
        clustered on the read-path key so C1-C5 point/post lookups prune
        files by parquet min/max stats (operators/maintenance.py).  The
        MySQL reference gets this from InnoDB's clustered primary key for
        free (VectorTable.php:472 PRIMARY KEY (id)); a parquet table has
        to re-establish it after enough incremental writes.  The staging
        copy holds no ``_log``, so the one crash-safe swap replaces data
        and log together."""
        from wpvectordb_spark.operators import maintenance as M

        return M.rewrite_table(
            self.spark,
            self.path,
            self.df(),  # recovers first
            target_file_bytes=target_file_bytes or M.DEFAULT_TARGET_FILE_BYTES,
            sort_by=list(sort_by),
        )

    # -- search (S1-S8) ------------------------------------------------------
    def search(
        self,
        vector: list[float],
        n: int = S.DEFAULT_N,
        builder=None,
        documents: DataFrame | None = None,
        doc_meta: DataFrame | None = None,
    ) -> DataFrame:
        # a mismatched query dimension packs a different word count,
        # nulls every Hamming distance, and silently returns arbitrary
        # rows — the same reject-early rule as the write path
        self._check_length(vector)
        return S.search(
            self.df(),
            [float(x) for x in vector],
            n=n,
            builder=builder,
            documents=documents,
            doc_meta=doc_meta,
        )


class VectorTableQueue:
    """Parquet-backed job queue with the reference's method surface
    (VectorTableQueue.php:20-447)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def init(self) -> None:
        if not _has_snapshot(self.spark, self.path):
            _local_frame(self.spark, QUEUE_SCHEMA).write.mode("overwrite").parquet(self.path)

    def df(self) -> DataFrame:
        fsutil.recover_snapshot(self.spark, self.path)
        return self.spark.read.schema(QUEUE_SCHEMA).parquet(self.path)

    def _write(self, df: DataFrame) -> None:
        _write_snapshot(self.path, df)

    def _next_job_id(self) -> int:
        return ((self.df().agg(F.max("job_id")).collect()[0][0]) or 0) + 1

    def add_post(self, post_id: int, now: _dt.datetime | None = None) -> None:
        self.add_posts([post_id], now)

    def add_posts(self, post_ids: list[int], now: _dt.datetime | None = None) -> None:
        now = now or _utcnow()
        base = self._next_job_id()
        jobs = _local_frame(self.spark, _JOB_SCHEMA, {
            "job_id": [base + i for i in range(len(post_ids))],
            "post_id": [int(p) for p in post_ids],
        })
        self._write(Q.add_posts(self.df(), jobs, now))

    def get_next_batch(
        self, batch_size: int = Q.BATCH_SIZE, now: _dt.datetime | None = None
    ) -> DataFrame:
        """Returns the PRE-claim snapshot of the batch rows (status still
        pending/failed, start_time NULL) while the persisted state flips
        them to processing — reference parity: the PHP SELECT-then-UPDATE
        returns the selected rows as they were
        (VectorTableQueue.php:186-223).  Re-read the table for the
        post-claim view."""
        now = now or _utcnow()
        claimed = Q.dequeue_priority(self.df(), batch_size).toArrow()
        if claimed.num_rows:
            # rebuild the state from the ALREADY-collected ids — embedding
            # dequeue_priority in the rewrite would run the whole-queue
            # priority sort a second time.  Nothing claimed = no rewrite:
            # an idle polling worker must not pay (or crash-risk) a full
            # snapshot swap per empty poll.
            self._write(
                Q.mark_processing(self.df(), claimed["job_id"].to_pylist(), now)
            )
        # back through Arrow: a LocalRelation, not a pickled row list
        return self.spark.createDataFrame(claimed)

    def update_status(
        self,
        job_ids: list[int],
        status: str,
        error_message: str | None = None,
        now: _dt.datetime | None = None,
    ) -> None:
        now = now or _utcnow()
        self._write(Q.update_status(self.df(), job_ids, status, now, error_message))

    def get_stats(self) -> dict[str, int]:
        return {r["status"]: r["n"] for r in Q.stats(self.df()).collect()}

    def cleanup(self, now: _dt.datetime | None = None) -> None:
        now = now or _utcnow()
        self._write(Q.cleanup(self.df(), now))

    def get_posts_to_retry(self) -> DataFrame:
        return Q.posts_to_retry(self.df())

    def reset_post(self, post_id: int) -> None:
        self._write(Q.reset_post(self.df(), post_id))

    def delete_post(self, post_id: int) -> None:
        self._write(Q.delete_post(self.df(), post_id))

    def delete_record(self, job_id: int) -> None:
        self._write(Q.delete_record(self.df(), job_id))

    def compact(self, target_file_bytes: int | None = None) -> dict:
        """OPTIMIZE the queue snapshot, clustered on job_id (the claim /
        update / delete key).  Long-lived queues accumulate one rewrite's
        worth of files per mutation; scheduled compaction keeps listing
        and scan cost flat (operators/maintenance.py)."""
        from wpvectordb_spark.operators import maintenance as M

        return M.compact_table(
            self.spark,
            self.path,
            target_file_bytes=target_file_bytes or M.DEFAULT_TARGET_FILE_BYTES,
            sort_by=["job_id"],
        )

    def get_page_of_records(
        self, page: int, per_page: int = Q.PAGE_SIZE, documents: DataFrame | None = None
    ) -> DataFrame:
        return Q.page_of_records(self.df(), page, per_page, documents)

    def get_total_records(self) -> int:
        return Q.total_records(self.df())
