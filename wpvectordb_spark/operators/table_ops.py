"""Vector-table write path + point-access operators (SURVEY.md §2.4).

Write path (C7 ``upsert`` / C8 ``insert_all``, VectorTable.php:346-425):
the reference runs an N+1 probe/update/insert loop; here it is one batch
plan — derive columns (magnitude K1, normalized vector K2, sign code K3),
then latest-wins dedup per ``(post_id, sequence_no)`` via a window.  The
reference's stale-magnitude-on-update bug (quirk §4.4.4) is fixed: derived
columns are always recomputed from the incoming vector.

Read path (C1-C6, C9-C11): thin, deliberately mirroring the reference's
semantics including the caller-order-preserving multi-get (C2,
``ORDER BY FIELD(id, ...)`` -> ``array_position``) and the ``get_all`` scan
cap of 100,000 rows (VectorTable.php:333).

Scale notes: ``derive`` is a narrow map (no shuffle); ``upsert`` shuffles
once on ``(post_id, sequence_no)``; ``insert_all`` is a partition-overwrite
pattern.  The ``VectorTable`` facade never rewrites the table for them: it
runs ``upsert`` over the touched key's current row only and
``replacement_rows`` over the incoming chunks, and appends the result as
one delta of its log (table.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from wpvectordb_spark.functions import kernels as K

GET_ALL_CAP = 100_000  # VectorTable.php:333


def derive(
    chunks: DataFrame,
    vector_col: str = "vector",
    keep_normalized: bool = True,
) -> DataFrame:
    """Write-time derivation (VectorTable.php:353-356,383): magnitude,
    normalized vector, packed sign code — two stacked narrow projections
    (Catalyst collapses them; the split makes ``magnitude`` a BOUND
    column when ``normalize`` divides by it, so the fold runs once per
    vector instead of once per element — see kernels.normalize)."""
    out = (
        chunks.withColumn("magnitude", K.magnitude(vector_col))
        .withColumn("binary_code", K.sign_code(vector_col))
    )
    if keep_normalized:
        out = out.withColumn(
            "normalized_vector", K.normalize(vector_col, mag=F.col("magnitude"))
        )
    return out


def upsert(
    table: DataFrame,
    new_chunks: DataFrame,
    vector_col: str = "vector",
) -> DataFrame:
    """C7 as a batch MERGE: latest-wins per ``(post_id, sequence_no)``.

    ``new_chunks`` needs (post_id, sequence_no, vector[, vector_type]).
    Matches the reference's UPDATE path (VectorTable.php:361-374): a
    replaced row KEEPS the existing row's ``id`` and ``created_at``
    (including a stored NULL created_at — the carry distinguishes
    row-absent from field-NULL via a struct) and only refreshes
    ``updated_at`` + derived columns (recomputed — fixing quirk §4.4.4's
    stale magnitude); an incoming NULL ``vector_type`` keeps the stored
    one; a brand-new key gets created_at = now and a NULL id for the
    caller's AUTO_INCREMENT numbering (the facade numbers on from the
    largest id left).  Duplicate keys WITHIN ``new_chunks`` resolve
    deterministically (xxhash64 of the vector + vector_type breaks the
    tie) — a DataFrame batch has no "last write", unlike the
    reference's sequential upsert loop.

    Rows whose key is NOT in the batch pass through VERBATIM (anti-join
    split): the reference upsert only touches the given key, so the
    merge must not regroup — or repair, or corrupt — unrelated rows.

    ONE ``max_by`` hash aggregate per touched key: partial aggregation
    keeps a single candidate row per key per input partition, so the
    exchange carries ~|touched keys| rows.  The (_src, ~xxhash64) order
    key reproduces the window's (_src desc, hash asc) winner (bitwise
    NOT reverses long order without Long.MIN_VALUE negation overflow).
    """
    keys = ["post_id", "sequence_no"]
    now = F.current_timestamp()
    incoming = derive(new_chunks, vector_col).withColumn(
        "updated_at", now
    ).withColumn("created_at", now).withColumn("_src", F.lit(1))
    batch_keys = incoming.select(*keys).distinct()
    untouched = table.join(batch_keys, keys, "left_anti")
    touched = table.join(batch_keys, keys, "left_semi").withColumn("_src", F.lit(0))
    merged = touched.unionByName(incoming, allowMissingColumns=True)
    has_id = "id" in merged.columns
    has_vt = "vector_type" in merged.columns
    row = F.struct(*[F.col(c) for c in merged.columns])
    hash_cols = [F.col(vector_col)] + ([F.col("vector_type")] if has_vt else [])
    order = F.struct(
        F.col("_src").alias("s"),
        F.bitwise_not(F.xxhash64(*hash_cols)).alias("h"),
    )
    old_fields = [F.col("created_at").alias("c")] + (
        [F.col("id").alias("i")] if has_id else []
    ) + ([F.col("vector_type").alias("t")] if has_vt else [])
    g = merged.groupBy(*keys).agg(
        F.max_by(row, order).alias("_w"),
        F.max(F.when(F.col("_src") == 0, F.struct(*old_fields))).alias("_old"),
    )
    # the winner is always an incoming row (_src=1 sorts above 0 and
    # every merged key has one); carry the old row's fields off the
    # struct so a stored NULL created_at stays NULL (a bare coalesce
    # could not tell row-absent from field-NULL)
    out = g.select("_w.*", "_old").withColumn(
        "created_at",
        F.when(F.col("_old").isNotNull(), F.col("_old.c")).otherwise(F.col("created_at")),
    )
    if has_id:
        out = out.withColumn(
            "id", F.when(F.col("_old").isNotNull(), F.col("_old.i")).otherwise(F.col("id"))
        )
    if has_vt:
        out = out.withColumn(
            "vector_type",
            F.coalesce(F.col("vector_type"), F.col("_old.t")),
        )
    merged_out = out.drop("_src", "_old")
    # allowMissingColumns: a raw (underived) table gains NULL derived
    # columns on its untouched rows, same as the previous single-union
    # shape did
    return untouched.unionByName(merged_out, allowMissingColumns=True)


def replacement_rows(
    post_id: int,
    new_chunks: DataFrame,
    vector_col: str = "vector",
) -> DataFrame:
    """The incoming half of C8 ``insert_all``: ``new_chunks`` checked to
    belong to ``post_id``, one row per ``sequence_no``, derived and
    timestamped — the rows that replace the post's chunks, without the
    table they replace them in (``insert_all`` adds the anti-filter; the
    facade's delta log records the same delete as a ``post_id``
    tombstone).

    The (post_id, sequence_no) unique-key invariant is enforced on the
    way in: rows for a DIFFERENT post are REFUSED — in-plan via
    ``raise_error`` (no extra validation job), so a mixed-post batch
    fails loudly at action time instead of silently losing those chunks
    (they would bypass the delete filter and coexist with that post's
    old chunks if admitted; dropping them hid caller bugs).  Duplicate
    sequence numbers within the batch collapse to one deterministic
    winner (same xxhash64 tie-break as ``upsert``) — the reference's
    per-chunk upsert loop collapses them by construction."""
    now = F.current_timestamp()
    own = new_chunks.withColumn(
        "post_id",
        F.when(
            F.col("post_id").eqNullSafe(F.lit(post_id)), F.col("post_id")
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("insert_all: batch for post "),
                    F.lit(str(post_id)),
                    F.lit(" contains a chunk for post_id="),
                    F.coalesce(F.col("post_id").cast("string"), F.lit("NULL")),
                )
            ).cast("long")
        ),
    )
    row_cols = own.columns
    winner = own.groupBy("sequence_no").agg(
        F.max_by(
            F.struct(*[F.col(c) for c in row_cols]),
            F.bitwise_not(F.xxhash64(F.col(vector_col))),
        ).alias("_w")
    ).select("_w.*")
    return derive(winner, vector_col).withColumn("created_at", now).withColumn(
        "updated_at", now
    )


def insert_all(
    table: DataFrame,
    post_id: int,
    new_chunks: DataFrame,
    vector_col: str = "vector",
) -> DataFrame:
    """C8 document replacement (VectorTable.php:401-425): delete every
    chunk of ``post_id``, append the new derived chunks
    (``replacement_rows``) — expressed as an anti-filter + union
    (partition-overwrite semantics on disk).  The filter is null-safe:
    MySQL's ``DELETE WHERE post_id = x`` never touches NULL-key rows,
    while a plain ``!=`` predicate would silently drop them."""
    incoming = replacement_rows(post_id, new_chunks, vector_col)
    return table.where(~F.col("post_id").eqNullSafe(F.lit(post_id))).unionByName(
        incoming, allowMissingColumns=True
    )


# --- point access ----------------------------------------------------------

def by_id(table: DataFrame, id_: int, id_col: str = "id") -> DataFrame:
    """C1 (VectorTable.php:241-248)."""
    return table.where(F.col(id_col) == id_)


def by_ids(table: DataFrame, ids: list[int], id_col: str = "id") -> DataFrame:
    """C2 (VectorTable.php:256-271): multi-get preserving the caller's id
    order (the reference's ``ORDER BY FIELD(id, ...)``)."""
    if not ids:
        return table.where(F.lit(False))
    ids_arr = F.array(*[F.lit(int(i)) for i in ids])
    return (
        table.where(F.col(id_col).isin(ids))
        .orderBy(F.array_position(ids_arr, F.col(id_col)))
    )


def get(table: DataFrame, post_id: int, sequence_no: int) -> DataFrame:
    """C3 composite-key lookup (VectorTable.php:281-289)."""
    return table.where(
        (F.col("post_id") == post_id) & (F.col("sequence_no") == sequence_no)
    )


def get_all_for_post(table: DataFrame, post_id: int) -> DataFrame:
    """C4 (VectorTable.php:297-304)."""
    return table.where(F.col("post_id") == post_id)


def get_latest_updated(table: DataFrame, post_id: int) -> DataFrame:
    """C5 (VectorTable.php:313-320): newest row for a document; expressed
    with a window so it generalizes to all-documents-at-once."""
    w = Window.partitionBy("post_id").orderBy(
        F.col("updated_at").desc(), F.col("id").desc()
    )
    return (
        table.where(F.col("post_id") == post_id)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def latest_per_post(table: DataFrame) -> DataFrame:
    """C5 generalized (the Spark-native form): latest chunk per document in
    one pass — what the reference would need a loop for.

    ``max_by`` hash aggregate, not a row_number window: partial
    aggregation keeps one candidate row per post per input partition, so
    the exchange carries ~|posts| rows instead of sorting and shuffling
    the whole table.  The (updated_at, id) struct order key reproduces
    the window's desc/desc ordering (struct comparison puts null fields
    first, so a null updated_at loses to any real timestamp — same as
    the window's NULLS LAST under desc)."""
    row = F.struct(*[F.col(c) for c in table.columns])
    order = F.struct(F.col("updated_at").alias("t"), F.col("id").alias("i"))
    return (
        table.groupBy("post_id")
        .agg(F.max_by(row, order).alias("_w"))
        .select("_w.*")
    )


def get_all(table: DataFrame, cap: int = GET_ALL_CAP) -> DataFrame:
    """C6 (VectorTable.php:327-335) with the reference's hard cap."""
    return table.limit(cap)


def delete(table: DataFrame, id_: int, id_col: str = "id") -> DataFrame:
    """C9 (VectorTable.php:433-445) as an anti-filter rewrite — null-safe
    so rows with a NULL id (not yet numbered) survive unrelated deletes,
    matching MySQL's ``DELETE WHERE id = x`` NULL semantics."""
    return table.where(~F.col(id_col).eqNullSafe(F.lit(id_)))


def vector_count(table: DataFrame) -> int:
    """C10 (VectorTable.php:452-456)."""
    return table.count()
