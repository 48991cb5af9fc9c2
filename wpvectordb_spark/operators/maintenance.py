"""Table maintenance: small-file compaction and sort / Z-order clustering.

The reference's MySQL storage engine handles page organization invisibly
(src/VectorTable.php:464-513 just issues DDL); a parquet-backed table on a
100 TB cluster does NOT — every incremental write (upsert snapshots,
streaming ingest deltas, queue state versions, crawl appends) leaves files
sized by the WRITER's parallelism, not by what readers want.  Two failure
modes at scale:

* **Small files**: a table touched by 10k micro-batches becomes millions
  of KB-sized files; listing and task-scheduling overhead dwarfs the scan
  (the classic HDFS/S3 small-file problem).  Fix: bin-pack rewrites to a
  target file size — Delta ``OPTIMIZE`` / Iceberg ``rewrite_data_files``.
* **No data skipping**: parquet readers prune row groups by min/max
  stats, but stats only help if values are CLUSTERED — a randomly-ordered
  table has every file spanning the whole value domain, so every
  predicate scans every file.  Fix: sort-cluster on the hot filter column
  (``sort_by=``), or interleave several via a Z-order curve
  (``zorder_by=``) so multi-dimensional predicates each prune — Delta
  ``OPTIMIZE ZORDER BY``, the technique from Morton (1966) popularized
  for analytic layouts by "Small Materialized Aggregates" (Moerkotte,
  VLDB 1998) and Delta Lake's OPTIMIZE.

Everything here is a REWRITE job, not a query-path operator: run it
between query windows (or against a snapshot) the way a production
lakehouse schedules OPTIMIZE.  The swap reuses the facades' crash-safe
staging/rename protocol so a kill mid-compaction never loses the table.

Z-order shape (all Catalyst, zero UDFs, zero driver state beyond the
``2**bits - 1`` quantile boundaries per column):

1. per column: ``approxQuantile`` boundaries -> rank-bucket each row by
   counting boundaries <= value (one bounded HOF fold over a literal
   array — NULLs land in bucket 0);
2. interleave the bucket bits into one BIGINT Morton key (static
   shift/mask expression, ``bits * n_cols <= 62``);
3. ``repartitionByRange`` on the key to ``ceil(bytes / target)``
   partitions, ``sortWithinPartitions`` — one range shuffle total,
   file count and clustering both set by the same pass.

``data_skipping_stats`` then MEASURES the result from the parquet footers
(pyarrow, driver-side, metadata-only): per-file min/max for a column and
the fraction of files a point/range predicate would actually scan — the
honest check that clustering bought pruning, not just an ordered write.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wpvectordb_spark import fsutil

DEFAULT_TARGET_FILE_BYTES = 128 << 20  # the HDFS-block-sized lakehouse default


def partition_columns(spark: SparkSession, path: str) -> list[str]:
    """Hive-style partition columns detected from the directory layout
    (``key=value`` subdirs, outermost first).  Empty list for a flat
    table.  Mixed layouts (two different keys at one level) refuse —
    that is not a layout Spark wrote."""
    cols: list[str] = []
    cur = path
    while True:
        subs = [
            d
            for d, is_dir in fsutil.list_dir(spark, cur)
            if is_dir and "=" in d and not d.startswith(("_", "."))
        ]
        if not subs:
            return cols
        names = {d.split("=", 1)[0] for d in subs}
        if len(names) != 1:
            raise ValueError(
                f"partition_columns: mixed partition keys {sorted(names)} "
                f"under {cur!r}"
            )
        cols.append(names.pop())
        cur = f"{cur}/{subs[0]}"


def table_file_stats(spark: SparkSession, path: str, suffix: str = ".parquet") -> dict:
    """File-level shape of a table: the numbers OPTIMIZE decisions are
    made from.  One driver-side ``fsutil.list_files`` listing — at
    production scale the same figures come from the table format's
    manifest (Delta/Iceberg); a maintenance job reads them once.
    ``suffix`` covers other Spark output formats (the training-shard
    sink's .orc/.json/.csv reports)."""
    sizes = [size for _, size in fsutil.list_files(spark, path, suffix)]
    return {
        "n_files": len(sizes),
        "total_bytes": sum(sizes),
        "min_file_bytes": min(sizes) if sizes else 0,
        "max_file_bytes": max(sizes) if sizes else 0,
        "avg_file_bytes": (sum(sizes) // len(sizes)) if sizes else 0,
    }


def _as_double(df: DataFrame, col: str):
    """Numeric view of a clustering column.  Dates go through
    ``unix_date`` (no direct double cast exists); timestamps/booleans/
    numerics cast directly.  Strings REFUSE: a silent NULL-cast would
    collapse every row into bucket 0 and the "clustered" table would be
    randomly ordered while reporting success."""
    from pyspark.sql import types as T

    dt = df.schema[col].dataType
    if isinstance(dt, T.DateType):
        return F.unix_date(F.col(col)).cast("double")
    if isinstance(dt, (T.NumericType, T.TimestampType, T.BooleanType)):
        return F.col(col).cast("double")
    raise ValueError(
        f"zorder_key: column {col!r} has non-numeric type "
        f"{dt.simpleString()} — Z-order needs numeric/timestamp/date "
        "columns (hash or dictionary-encode strings first)"
    )


def _rank_bucket(value, boundaries: list[float]):
    """Rank-bucket a numeric expression against precomputed quantile
    boundaries: bucket = #boundaries <= value, a bounded fold over a
    literal array (|boundaries| = 2**bits - 1 comparisons/row, vectorized
    by codegen).  Quantile (rank) buckets, not uniform-width ones: equal
    row mass per bucket is what balances the range partitions regardless
    of the column's distribution — ``width_bucket`` would collapse a
    skewed column into one bucket.  NULLs never satisfy >= so they land
    in bucket 0 (clustered together at the curve's origin)."""
    barr = F.array(*[F.lit(float(b)) for b in boundaries])
    return F.aggregate(
        barr,
        F.lit(0),
        lambda acc, b: acc + F.when(value >= b, F.lit(1)).otherwise(F.lit(0)),
    )


def zorder_key(
    df: DataFrame, columns: list[str], bits: int = 8
) -> "F.Column":
    """Morton (Z-order) key over ``columns``: per-column rank buckets with
    their bits interleaved into one BIGINT, so sorting by the key keeps
    rows close in EVERY dimension at once — each column's per-file
    min/max range shrinks to ~(1/2**bits)**(1/n_cols) of the domain and
    predicates on ANY of the columns prune files.

    Bucket boundaries come from one ``approxQuantile`` pass per column
    (driver holds 2**bits - 1 floats each; relativeError 1e-3 keeps the
    sketch bounded).  The interleave is a static shift/or expression —
    ``bits * len(columns)`` terms, no UDF, no extra shuffle.
    """
    if not columns:
        raise ValueError("zorder_key: need at least one column")
    k = len(columns)
    if bits * k > 62:
        raise ValueError(
            f"zorder_key: {bits} bits x {k} columns = {bits * k} exceeds "
            "the 62 usable BIGINT bits — lower bits or drop columns"
        )
    probs = [i / (1 << bits) for i in range(1, 1 << bits)]
    as_double = {c: _as_double(df, c) for c in columns}
    numeric = df.select(*[as_double[c].alias(c) for c in columns])
    # ONE sketch pass for every column (the list form shares the scan) —
    # per-column calls would re-scan the table len(columns) times, real
    # I/O at the scale this module exists for
    all_bounds = numeric.approxQuantile(list(columns), probs, 1e-3)
    buckets = []
    for c, bounds in zip(columns, all_bounds):
        # degenerate column (constant / all-NULL): one bucket, zero bits
        bounds = sorted(set(b for b in bounds if b == b))  # drop NaN
        buckets.append(
            _rank_bucket(as_double[c], bounds).cast("long") if bounds else F.lit(0).cast("long")
        )
    key = F.lit(0).cast("long")
    for i in range(bits):
        for j, b in enumerate(buckets):
            key = key + F.shiftleft(
                F.shiftright(b, i).bitwiseAND(F.lit(1)), i * k + j
            )
    return key


def compact_plan(
    df: DataFrame,
    n_files: int,
    sort_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
    zorder_bits: int = 8,
) -> DataFrame:
    """The lazy rewrite plan OPTIMIZE executes: bin-pack ``df`` into
    ``n_files`` output files, optionally clustered.

    * no clustering: a plain ``repartition(n)`` round-robins rows — even
      file sizes, one shuffle, no ordering promise;
    * ``sort_by``: ``repartitionByRange`` + ``sortWithinPartitions`` —
      files carry DISJOINT ranges of the sort key (range partitioner
      samples the data), min/max stats prune point and range predicates;
    * ``zorder_by``: same shape over the Morton key, pruning on EVERY
      listed column instead of only the leading sort column.

    One range (or round-robin) shuffle total; the sort is within
    partitions only (never a global sort's single-pass merge).
    """
    if sort_by and zorder_by:
        raise ValueError("compact_plan: sort_by and zorder_by are exclusive")
    n_files = max(1, int(n_files))
    if zorder_by:
        z = zorder_key(df, list(zorder_by), bits=zorder_bits)
        return (
            df.withColumn("__zkey", z)
            .repartitionByRange(n_files, "__zkey")
            .sortWithinPartitions("__zkey")
            .drop("__zkey")  # projection after the sort keeps the order
        )
    if sort_by:
        cols = [F.col(c) for c in sort_by]
        return df.repartitionByRange(n_files, *cols).sortWithinPartitions(*cols)
    return df.repartition(n_files)


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    sort_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
    zorder_bits: int = 8,
    min_files: int = 2,
) -> dict:
    """OPTIMIZE for a parquet-snapshot table: rewrite ``path`` bin-packed
    to ``target_file_bytes`` (sizing from the CURRENT on-disk bytes — the
    output compresses about the same, and clustering usually improves it)
    and optionally clustered.  Returns a before/after report.

    Crash-safe: the rewrite lands in a staging dir and swaps in with the
    facades' rename protocol (old aside -> staging in -> old dropped), so
    a kill at any point leaves the old or the new snapshot, never zero
    copies (``table._write_snapshot``).  Reads against the old listing
    race exactly as they do with any snapshot write — same single-writer
    contract as the facades; Delta/Iceberg replace this with a commit.

    No-op (returns ``skipped=True``) when the table already has fewer
    than ``min_files`` files AND no clustering was requested — pure
    bin-packing a single file is a wasted rewrite, but an explicit
    ``sort_by``/``zorder_by`` always rewrites (the point is the order,
    not the count).  A ``VectorTable`` dir with pending delta-log entries
    is refused: this reads only the base (``VectorTable.compact`` folds
    the log).
    """
    pcols = partition_columns(spark, path)
    if pcols:
        # reading a partitioned table and rewriting it flat would
        # silently DESTROY partition pruning for every reader (the IVF /
        # IVFPQ indexes prune on cluster_id dirs) — refuse, never flatten
        raise ValueError(
            f"compact_table: {path!r} is Hive-partitioned by {pcols} — "
            "use compact_partitioned_table, which preserves the layout"
        )
    _refuse_pending_log(spark, path, "compact_table")
    before = table_file_stats(spark, path)
    if before["n_files"] == 0:
        raise ValueError(f"compact_table: no parquet files under {path!r}")
    if before["n_files"] < min_files and not (sort_by or zorder_by):
        return {"before": before, "after": before, "skipped": True}
    return rewrite_table(
        spark,
        path,
        spark.read.parquet(path),
        target_file_bytes,
        sort_by=sort_by,
        zorder_by=zorder_by,
        zorder_bits=zorder_bits,
    )


def rewrite_table(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    sort_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
    zorder_bits: int = 8,
) -> dict:
    """The rewrite half of ``compact_table``: swap ``df`` — the rows
    ``path`` holds, read the way its layout needs (``VectorTable.compact``
    passes its base + delta-log view) — in as the new flat snapshot,
    bin-packed to ``target_file_bytes`` of the current on-disk bytes and
    optionally clustered.  Returns the before/after report."""
    # import here: table.py is facade-layer (imports operators); the
    # one-way dep operators -> table stays acyclic but keep it local so
    # module import order never matters
    from wpvectordb_spark.table import _write_snapshot

    before = table_file_stats(spark, path)
    n_out = max(1, math.ceil(before["total_bytes"] / target_file_bytes))
    plan = compact_plan(
        df, n_out, sort_by=sort_by, zorder_by=zorder_by, zorder_bits=zorder_bits
    )
    # the plan reads `path` while the swap rewrites it — _write_snapshot
    # stages first, so the read finishes against the old files before any
    # rename touches them
    _write_snapshot(path, plan)
    return {
        "before": before,
        "after": table_file_stats(spark, path),
        "skipped": False,
        "n_output_files_target": n_out,
    }


def _refuse_pending_log(spark: SparkSession, path: str, op: str) -> None:
    """A ``VectorTable`` dir with log entries holds rows (and tombstones)
    outside its base: a rewrite that reads only the base would drop them,
    and its swap would delete the deltas.  Refuse; the facade's
    ``compact()`` folds them."""
    from wpvectordb_spark.table import _read_log

    pending = _read_log(spark, path)
    if pending:
        raise ValueError(
            f"{op}: {path!r} has {len(pending)} pending delta-log entries — "
            "fold them with VectorTable.compact()"
        )


def compact_partitioned_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    sort_by: list[str] | None = None,
) -> dict:
    """OPTIMIZE for a Hive-partitioned table, PRESERVING the partition
    layout (and therefore partition pruning).  The incremental-append
    paths — ``append_to_ivf_index`` / ``append_to_ivfpq_index``, and any
    ``mode("append")`` writer — add one file set per call to each touched
    ``key=value`` dir; after enough appends a probe that prunes to 2 of
    16 partitions still opens dozens of files inside each.  This rewrite
    folds every partition dir back to size-targeted files.

    Shape: without ``sort_by``, one hash ``repartition`` on the partition
    columns — every partition value lands in exactly ONE task, so each
    dir gets exactly one file (right when partitions are target-sized or
    smaller, the IVF case).  With ``sort_by``, ``repartitionByRange`` on
    (partition cols + sort cols): an oversized partition value spans
    several consecutive range tasks (several target-sized files), and
    rows inside each file are sorted — min/max row-group pruning for
    filtered serving (``where=`` id/metadata predicates) stacks on top
    of the partition pruning.

    Same crash-safe staging/rename swap as ``compact_table``; the swap
    replaces the WHOLE table dir atomically, so readers never see a
    half-rewritten partition set.
    """
    from wpvectordb_spark.table import _write_snapshot

    pcols = partition_columns(spark, path)
    if not pcols:
        raise ValueError(
            f"compact_partitioned_table: {path!r} has no key=value "
            "partition dirs — use compact_table"
        )
    _refuse_pending_log(spark, path, "compact_partitioned_table")
    before = table_file_stats(spark, path)
    if before["n_files"] == 0:
        raise ValueError(
            f"compact_partitioned_table: no parquet files under {path!r}"
        )
    n_out = max(1, math.ceil(before["total_bytes"] / target_file_bytes))
    df = spark.read.parquet(path)
    if sort_by:
        keys = [F.col(c) for c in (pcols + list(sort_by))]
        plan = df.repartitionByRange(n_out, *keys).sortWithinPartitions(*keys)
    else:
        plan = df.repartition(n_out, *[F.col(c) for c in pcols])
    _write_snapshot(path, plan, partition_by=pcols)
    return {
        "before": before,
        "after": table_file_stats(spark, path),
        "skipped": False,
        "partition_columns": pcols,
        "n_output_files_target": n_out,
    }


def recover_table(spark: SparkSession, path: str) -> bool:
    """Close the compaction crash window for STANDALONE tables: a kill
    between the swap's two renames leaves ``path`` absent with the data
    intact in ``path__old``.  The facades recover on every read; a
    standalone compacted table (an ANN index's vectors dir, a manifest)
    recovers on its next maintenance call — or explicitly here
    (``fsutil.recover_snapshot``, which also drops a stale ``__old``
    beside a live copy).  Returns True if an orphan was renamed back."""
    existed = fsutil.exists(spark, path)
    fsutil.recover_snapshot(spark, path)
    return not existed and fsutil.exists(spark, path)


def vacuum(spark: SparkSession, path: str) -> list[str]:
    """Remove crash debris around a snapshot table: a ``__staging`` dir
    from a write that died mid-job and a ``__old`` dir from one that died
    after the swap completed are both safe to drop once the live copy
    exists (Delta VACUUM's little sibling).  REFUSES to touch EITHER
    dir when the live dir is missing: that directory set describes a
    crashed swap and belongs to ``recover_table`` — ``__old`` is the
    only recoverable copy (recovery adopts ``__old`` exclusively;
    ``__staging`` contents are never promoted, a completed rewrite is
    simply re-run after recovery), and a cleanup that mutates a crashed
    table's directory set before recovery has adjudicated it invites
    operator error.  Returns the paths removed."""
    if not fsutil.is_dir(spark, path):
        return []
    removed = []
    for debris in (path + "__staging", path + "__old"):
        if fsutil.is_dir(spark, debris):
            fsutil.delete(spark, debris)
            removed.append(debris)
    return removed


def data_skipping_stats(path: str, column: str) -> list[dict]:
    """Per-file min/max footer stats for ``column`` — the metadata a
    parquet reader prunes with.  pyarrow, driver-side, METADATA-ONLY (no
    data pages read); pyarrow's dataset discovery lists the files (local
    path or URI, recursing into partition dirs, skipping ``_``/``.``
    names) the way a parquet reader would.  Production equivalents read
    the same numbers from the table-format manifest.  Returns one dict
    per file with row-group aggregated min/max; files without stats
    report None."""
    import pyarrow.dataset as pads

    out = []
    frags = pads.dataset(path, format="parquet").get_fragments()
    for frag in sorted(frags, key=lambda f: f.path):
        md = frag.metadata
        f = frag.path
        names = {md.schema.column(i).name: i for i in range(md.num_columns)}
        if column not in names:
            raise KeyError(f"{column!r} not in {f}: {sorted(names)}")
        ci = names[column]
        lo, hi, rows = None, None, 0
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(ci).statistics
            rows += md.row_group(g).num_rows
            if st is None or not st.has_min_max:
                continue
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        out.append({"file": f, "min": lo, "max": hi, "rows": rows})
    return out


def scan_fraction(stats: list[dict], value) -> float:
    """Fraction of files a point-equality predicate on the stats column
    must scan (files whose [min, max] contains ``value``; files without
    stats count as scanned — the reader cannot prune them).  1.0 means
    clustering bought nothing; a well-sorted table approaches
    1/n_files."""
    if not stats:
        return 1.0
    hit = sum(
        1
        for s in stats
        if s["min"] is None or s["max"] is None or (s["min"] <= value <= s["max"])
    )
    return hit / len(stats)
