"""The package's one storage layer: every driver-side filesystem call —
snapshot swaps, crash recovery, directory listings, text sidecars —
goes through the Hadoop FileSystem API here, never ``os``/``shutil``.

Every helper resolves the filesystem FROM THE PATH
(``Path.getFileSystem``), so a plain local path, a ``file:/`` URI, an
``hdfs://`` or an ``s3a://`` URI all take the same code with the same
crash contract.  Callers (the table facades, OPTIMIZE, the curation
manifests, the streaming state tables, the ANN retrain loops) pass the
path they were given; nothing is refused or rewritten by scheme.

The one swap is :func:`replace_dir`: heal debris from an earlier crash,
build the new copy into ``path__staging``, move the live copy aside to
``path__old``, promote the staging copy, drop the old one.  A kill at
any point leaves at least one full copy, and :func:`recover_snapshot`
(run by every reader and by the next swap) brings the directory set
back to exactly one.

Semantics pinned deliberately:

- ``rename`` REFUSES an existing destination.  Hadoop's ``rename(src,
  dst)`` silently moves ``src`` INTO ``dst`` when ``dst`` is an
  existing directory (HDFS semantics) — the one behavioral difference
  from ``os.rename`` that would corrupt the swap (promote would nest
  the new snapshot inside a half-deleted old one).  The swap never
  renames onto an existing path, so an existing dst here is always a
  bug; fail loudly instead of nesting.
- ``rename``/``delete`` raise on a ``False`` return (Hadoop reports
  some failures as a boolean, not an exception) — a swap step that
  silently did nothing is exactly the kind of failure the two-rename
  contract cannot absorb.
- Text sidecars (``_params.json``, ``_last_batch``) are written to a
  tmp file and moved over the target with ``FileContext.rename(...,
  OVERWRITE)`` — an atomic replace of a single file.  They go through
  the RAW filesystem under a ``ChecksumFileSystem`` (the local FS):
  no ``.crc`` companion is written, so a sidecar edited by hand still
  reads back instead of failing a checksum.
- Object-store caveat, documented not hidden: S3 has no atomic
  directory rename (S3A emulates it as copy+delete).  The two-rename
  contract then degrades from "atomic step" to "bounded window";
  production state on S3 belongs in a transactional table format
  (Delta/Iceberg), while HDFS/ABFS renames stay atomic.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import SparkSession


def _jpath(spark: SparkSession, path: str):
    return spark._jvm.org.apache.hadoop.fs.Path(path)


def _fs(spark: SparkSession, path: str):
    """FileSystem instance resolved from the path's scheme (local path ->
    LocalFileSystem, hdfs:// -> DFS, ...) under the session's Hadoop
    conf.  Hadoop caches FileSystem instances per (scheme, authority,
    ugi), so this is a map lookup after the first call, not a
    connection per call."""
    return _jpath(spark, path).getFileSystem(spark._jsc.hadoopConfiguration())


def _raw_fs(spark: SparkSession, path: str):
    """The filesystem under any checksum layer (see module docstring)."""
    fs = _fs(spark, path)
    checksummed = spark._jvm.org.apache.hadoop.fs.ChecksumFileSystem
    if checksummed._java_lang_class.isInstance(fs):
        return fs.getRawFileSystem()
    return fs


def exists(spark: SparkSession, path: str) -> bool:
    return _fs(spark, path).exists(_jpath(spark, path))


def is_dir(spark: SparkSession, path: str) -> bool:
    fs = _fs(spark, path)
    p = _jpath(spark, path)
    return fs.exists(p) and fs.getFileStatus(p).isDirectory()


def delete(spark: SparkSession, path: str) -> None:
    """Recursive delete; missing path is a no-op."""
    fs = _fs(spark, path)
    p = _jpath(spark, path)
    if not fs.exists(p):
        return
    if not fs.delete(p, True):
        raise IOError(f"hadoop delete returned false for {path!r}")


def rename(spark: SparkSession, src: str, dst: str) -> None:
    """os.rename-shaped move: refuses an existing destination (see module
    docstring — Hadoop would nest src inside an existing dst dir) and
    raises on Hadoop's boolean-false failure mode."""
    fs = _fs(spark, src)
    jsrc, jdst = _jpath(spark, src), _jpath(spark, dst)
    if fs.exists(jdst):
        raise IOError(
            f"rename destination exists: {dst!r} — the swap protocol "
            "deletes destinations before renaming; refusing the Hadoop "
            "move-into-directory fallback"
        )
    if not fs.rename(jsrc, jdst):
        raise IOError(f"hadoop rename returned false: {src!r} -> {dst!r}")


def recover_snapshot(spark: SparkSession, path: str) -> None:
    """Heal :func:`replace_dir`'s crash debris at ``path``:

    - ``path`` absent + ``path__old`` present: a kill landed between the
      two renames — rename the old copy back (the data's only copy).
    - ``path`` present + ``path__old`` present: a kill landed after the
      promote but before the drop — the stale ``__old`` is a disposable
      full copy that would otherwise persist; drop it now.

    A leftover ``path__staging`` is not touched here: it is never
    promoted, and the next :func:`replace_dir` (or
    ``maintenance.vacuum``) removes it."""
    old = path + "__old"
    if not exists(spark, old):
        return
    if exists(spark, path):
        delete(spark, old)
    else:
        rename(spark, old, path)


def replace_dir(spark: SparkSession, path: str, build: Callable[[str], None]) -> None:
    """The one crash-safe directory swap: recover, clear staging,
    ``build(staging)``, move live aside, promote, drop old.

    ``build`` writes the complete new copy into the staging path it is
    handed (it may read ``path`` meanwhile — the live copy is untouched
    until the build returns).  A kill before the promote leaves the live
    copy in place (staging is debris); between the two renames leaves
    only ``path__old``; after the promote leaves a stale ``path__old`` —
    :func:`recover_snapshot` heals the last two on the next read or
    swap."""
    recover_snapshot(spark, path)
    staging, old = path + "__staging", path + "__old"
    delete(spark, staging)
    build(staging)
    if exists(spark, path):
        rename(spark, path, old)
    rename(spark, staging, path)
    delete(spark, old)


def list_dir(spark: SparkSession, path: str) -> list[tuple[str, bool]]:
    """(name, is_dir) of the direct children of ``path``, sorted by name;
    empty when ``path`` is missing or not a directory."""
    if not is_dir(spark, path):
        return []
    return sorted(
        (s.getPath().getName(), bool(s.isDirectory()))
        for s in _fs(spark, path).listStatus(_jpath(spark, path))
    )


def list_files(spark: SparkSession, path: str, suffix: str = "") -> list[tuple[str, int]]:
    """(qualified path, size in bytes) of every file under ``path``,
    recursively (partitioned tables nest ``key=value`` dirs), whose name
    ends with ``suffix`` and does not start with ``_`` or ``.`` (commit
    markers, checksums, hidden debris); sorted, empty when ``path`` is
    missing."""
    if not exists(spark, path):
        return []
    out = []
    it = _fs(spark, path).listFiles(_jpath(spark, path), True)
    while it.hasNext():
        s = it.next()
        name = s.getPath().getName()
        if name.endswith(suffix) and not name.startswith(("_", ".")):
            out.append((s.getPath().toString(), int(s.getLen())))
    return sorted(out)


def read_text(spark: SparkSession, path: str) -> str | None:
    """UTF-8 contents of a sidecar file, or None when it does not exist."""
    fs = _raw_fs(spark, path)
    p = _jpath(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        data = spark._jvm.org.apache.hadoop.io.IOUtils.readFullyToByteArray(stream)
    finally:
        stream.close()
    return bytes(data).decode("utf-8")


def write_text(spark: SparkSession, path: str, text: str) -> None:
    """Atomically replace a sidecar file: write ``path__tmp``, then
    ``FileContext.rename(..., OVERWRITE)`` it over ``path`` — a reader
    sees the old contents or the new, never a torn write.  Parent
    directories are created as needed."""
    jvm = spark._jvm
    fs = _raw_fs(spark, path)
    # qualified: FileContext resolves relative paths against its own
    # working directory, the FileSystem against the process's
    tmp = fs.makeQualified(_jpath(spark, path + "__tmp"))
    dst = fs.makeQualified(_jpath(spark, path))
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    opts = spark.sparkContext._gateway.new_array(jvm.org.apache.hadoop.fs.Options.Rename, 1)
    opts[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        fs.getUri(), spark._jsc.hadoopConfiguration()
    )
    fc.rename(tmp, dst, opts)
