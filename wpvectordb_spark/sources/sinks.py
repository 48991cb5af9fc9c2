"""Training-shard sink: size- and layout-controlled corpus writes.

The last stage of a curation run (``pipelines.curate_training_corpus`` →
``shuffle_shard``) hands the training loop a frame; HOW it lands on disk
decides the loader's throughput: shard files must be big enough to
amortize open/seek but small enough to stream and retry, reader-relevant
columns must be clustered for skipping, and the layout must be
partitionable by the dimensions the loop selects on (shard, epoch,
domain).  ``write_corpus`` packages the Spark-native levers for that in
one call instead of leaving each caller to rediscover
``maxRecordsPerFile`` + ``repartitionByRange`` + ``partitionBy``.

Scale shape: at most ONE shuffle (the explicit ``repartition``/
range-partition when sharding or sorting is requested — none for a plain
write); the per-file row cap is enforced by the WRITER
(``maxRecordsPerFile`` splits oversized tasks at write time, no extra
stage).  Formats are the engines Spark ships in-box: parquet (default),
ORC, JSON lines, CSV — CSV refuses complex columns up front (the writer
would throw an AnalysisException naming nothing useful mid-job).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_FORMATS = ("parquet", "orc", "json", "csv")


def write_corpus(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_by: list[str] | None = None,
    max_records_per_file: int | None = None,
    sort_by: list[str] | None = None,
    n_files: int | None = None,
    mode: str = "overwrite",
) -> dict:
    """Write ``df`` as a training-ready dataset and report the layout.

    * ``partition_by``: Hive ``key=value`` dirs (shard, lang, split) —
      the loader prunes whole directories.
    * ``n_files``: explicit output-task count; with ``sort_by`` it is a
      ``repartitionByRange`` on the sort key (files carry disjoint
      ranges — parquet/ORC min-max skipping), otherwise a round-robin
      ``repartition``.  Omitted = keep the incoming partitioning.
    * ``max_records_per_file``: hard per-file row cap, enforced by the
      writer (oversized tasks split their output; no extra shuffle) —
      the lever that keeps shard files streamable no matter how skewed
      the upstream partitioning was.
    * CSV with array/struct/map columns refuses early with the column
      named; JSON/parquet/ORC take any schema.

    Returns {path, format, n_files, total_bytes} from a post-write
    listing (driver-side; the manifest-read at production scale).
    The report describes the WHOLE dataset after the write — with
    ``mode='append'`` it includes files from earlier writes, not just
    this call's output (the manifest semantics: what a reader of
    ``path`` sees now, not a per-commit delta).
    """
    if fmt not in _FORMATS:
        raise ValueError(f"write_corpus: format {fmt!r} not in {_FORMATS}")
    if fmt == "csv":
        complex_cols = [
            f.name
            for f in df.schema.fields
            if isinstance(
                f.dataType,
                (T.ArrayType, T.StructType, T.MapType, T.BinaryType, T.NullType),
            )
        ]
        if complex_cols:
            raise ValueError(
                f"write_corpus: csv cannot hold complex/binary columns "
                f"{complex_cols} — drop/serialize them or use parquet/orc/json"
            )
    out = df
    # the dynamic-partition writer REQUIRES an ordering by the partition
    # columns and inserts its own (spill-unstable) sort when the incoming
    # order doesn't satisfy it — which would scramble sort_by inside each
    # task and silently break the disjoint-range/footer-skipping
    # contract.  Prefixing partition_by makes our sort satisfy the
    # requirement, so the writer adds nothing and sort_by truly reaches
    # the files.
    sort_cols = list(partition_by or []) + list(sort_by or [])
    if n_files is not None:
        n = max(1, int(n_files))
        if sort_by:
            out = out.repartitionByRange(
                n, *[F.col(c) for c in sort_by]
            ).sortWithinPartitions(*[F.col(c) for c in sort_cols])
        else:
            out = out.repartition(n)
    elif sort_by:
        out = out.sortWithinPartitions(*[F.col(c) for c in sort_cols])
    writer = out.write.mode(mode)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    getattr(writer, fmt)(path)
    from wpvectordb_spark.operators.maintenance import table_file_stats

    ext = {"parquet": ".parquet", "orc": ".orc", "json": ".json", "csv": ".csv"}[fmt]
    stats = table_file_stats(df.sparkSession, path, suffix=ext)
    return {
        "path": path,
        "format": fmt,
        "n_files": stats["n_files"],
        "total_bytes": stats["total_bytes"],
    }


def read_corpus(spark, path: str, fmt: str = "parquet", schema=None) -> DataFrame:
    """Read back a ``write_corpus`` dataset.  Pass ``schema`` for
    JSON/CSV (inference samples files — the multi-writer type-drift trap
    in the verify notes); parquet/ORC carry their own."""
    if fmt not in _FORMATS:
        raise ValueError(f"read_corpus: format {fmt!r} not in {_FORMATS}")
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        return reader.option("header", "false").csv(path)
    return getattr(reader, fmt)(path)
