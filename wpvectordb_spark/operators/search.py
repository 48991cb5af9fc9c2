"""The flagship operator: three-stage top-k vector similarity search.

Re-expresses ``VectorTable::search()`` (VectorTable.php:73-233, SURVEY.md
§2.2) as ONE lazy DataFrame DAG instead of four PHP<->MySQL round trips:

    candidate filter (S2)            documents x doc_meta, QueryBuilder preds
      -> semi-join restrict (S3)     left_semi onto the vector table
      -> Hamming top-(10n) (S4)      packed sign codes, popcount(xor)
      -> cosine rerank top-(5n) (S6) exact double-precision cosine
      -> optional metadata sort (S7) EAV pivot + orderBy
      -> top-n projection (S8)

Spark-first physical notes:

* S4 and S6 are ONE ``mapInArrow`` pass over the scan
  (``functions.vector_arrow``, a numpy-over-Arrow Python kernel): each
  batch keeps its top 10n rows by ``(hamming, id)`` and scores their
  exact cosines in the same pass.  The query vector, its code and
  magnitude ride in the task closure — no literal array column, no join,
  no shuffle (S1);
* ``orderBy(...).limit(k)`` over those narrow survivors compiles to
  ``TakeOrderedAndProject`` — the same per-partition-heap + merge the
  reference hand-rolls with SplMinHeap (VectorTable.php:10-22), but
  distributed;
* the only exchanges in the plan are the two top-k merges (and the
  candidate ``distinct`` when a filter is present) — at 1000 executors the
  heavy work (Hamming over the full table) is embarrassingly parallel inside
  the scan stage, with only 10n rows per batch ever crossing the wire;
* tie-breaks are total orders (``hd ASC, id ASC`` / ``cos DESC, id ASC``) —
  the reference's heap order is insertion-dependent (quirk §4.4.5); we pick
  determinism so results are reproducible across partitionings.

Funnel constants match the reference: stage-1 scan cap 1,000,000
(VectorTable.php:81), Hamming survivors 10n (:82), cosine survivors 5n (:83).

Batch mode (``search_many``) generalizes to a DataFrame of query vectors —
the same scan pass scores every query, and the per-query top-k becomes one
window ``row_number() <= k`` per query id over the survivors; the
reference (single query per call) cannot express this.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from wpvectordb_spark.functions import kernels as K
from wpvectordb_spark.functions import vector_arrow as VA
from wpvectordb_spark.schemas import CODE_WORD_BITS

STAGE1_LIMIT = 1_000_000  # VectorTable.php:81
STAGE2_FACTOR = 10  # VectorTable.php:82
STAGE3_FACTOR = 5  # VectorTable.php:83
DEFAULT_N = 5  # VectorTable.php:73


def _pack_code(vector: list[float], word_bits: int = CODE_WORD_BITS) -> list[int]:
    """Driver-side sign-code packing of a literal query vector (mirrors
    kernels.sign_code exactly; bits are strictly ``x > 0``).  The word
    width defaults to the SAME schemas.CODE_WORD_BITS the stored codes
    use — a mismatch null-pads the zip_with and turns every Hamming
    distance NULL.  NaN packs as bit 1: Spark SQL orders NaN above every
    numeric (so ``NaN > 0`` is true engine-side), while Python's
    ``nan > 0`` is False — without the explicit check the driver-side
    query code would disagree with stored/engine-side codes on NaN
    dimensions."""
    bits = [1 if (x > 0 or x != x) else 0 for x in vector]
    words = []
    for w in range(0, len(bits), word_bits):
        acc = 0
        for b in bits[w : w + word_bits]:
            acc = acc * 2 + b
        words.append(acc)
    return words


def _magnitude(vector: list[float]) -> float:
    acc = 0.0
    for x in vector:
        acc += float(x) * float(x)
    return acc**0.5


def search(
    vectors: DataFrame,
    query_vector: list[float],
    n: int = DEFAULT_N,
    builder=None,
    documents: DataFrame | None = None,
    doc_meta: DataFrame | None = None,
    candidates: DataFrame | None = None,
    sorts: list[tuple[Column, bool]] | None = None,
    id_col: str = "id",
    post_id_col: str = "post_id",
    vector_col: str = "vector",
    code_col: str | None = "binary_code",
    mag_col: str | None = "magnitude",
    stage1_limit: int | None = None,
) -> DataFrame:
    """Three-stage top-n similarity search over a vector table.

    Signature mirrors the reference's ``search(vector, n, builder)``: pass a
    ``plans.QueryBuilder`` (plus the ``documents`` / ``doc_meta`` frames its
    filters and sorts reference) and its compiled candidate set restricts
    the scan (S2) while its sort keys order the final survivors (S7 — the
    reference sorts the 5n stage-3 survivors, then takes n).  Lower-level
    ``candidates`` / ``sorts`` remain for pre-compiled inputs.
    Returns ``(id, post_id, hamming_distance, cosine_similarity)`` rows,
    top-n.  The reference returns bare embedding ids (quirk §4.4.1); we keep
    the id as the key but also expose post_id and both scores.
    """
    if builder is not None and candidates is None and builder.has_filters():
        if documents is None:
            raise ValueError(
                "builder has filters: pass the documents DataFrame they "
                "reference (and doc_meta for meta predicates)"
            )
        candidates = builder.candidates(documents, doc_meta, id_col=post_id_col)
    df = vectors
    # S2+S3: restrict scan to filtered candidate documents (left-semi join;
    # Catalyst broadcasts the candidate set when small).
    if candidates is not None:
        # no distinct: builder.candidates() already dedupes, and a
        # left-semi join is insensitive to right-side duplicates anyway
        df = df.join(candidates.select(post_id_col), post_id_col, "left_semi")
    # The reference caps the stage-1 scan at 1e6 rows (VectorTable.php:81) —
    # a MySQL safety valve.  In Spark a limit here compiles to
    # LocalLimit -> Exchange(SinglePartition) -> GlobalLimit: it funnels the
    # WHOLE candidate table through one partition before the Hamming top-k,
    # destroying scan parallelism.  Default is therefore no cap (the
    # distributed top-k needs none); pass stage1_limit=STAGE1_LIMIT only for
    # strict reference parity on over-1e6-row candidate sets.
    if stage1_limit is not None:
        df = df.limit(stage1_limit)

    # S4+S6 in one scan pass: each batch keeps its top 10n by Hamming and
    # scores their exact cosines (no re-fetch, S5 obsolete); the merges
    # below see only those narrow rows.
    scored = VA.scan_topk(
        df,
        VA.QueryBatch.of(query_vector),
        STAGE2_FACTOR * n,
        id_col=id_col,
        vector_col=vector_col,
        mag_col=mag_col,
        by_hamming=True,
        code_col=code_col,
        carry=(post_id_col,),
        query_id_col=None,
    )
    stage2 = (
        # asc_nulls_last: Spark ascending puts NULLs FIRST by default, so
        # a NULL Hamming row (null code / mismatched word count) would
        # crowd real candidates out of the 10n pool
        scored.orderBy(F.col("hamming_distance").asc_nulls_last(), F.col(id_col).asc())
        .limit(STAGE2_FACTOR * n)
    )
    stage3 = stage2.orderBy(
        F.col("cosine_similarity").desc(), F.col(id_col).asc()
    ).limit(STAGE3_FACTOR * n)

    # S7: optional metadata sort over the 5n survivors, else keep
    # similarity order.  S8: top-n.
    if builder is not None and builder.has_sorts():
        sorted_df = builder.apply_sorts(
            stage3,
            documents=documents,
            doc_meta=doc_meta,
            id_col=post_id_col,
            tie_break=id_col,
        )
        return sorted_df.limit(n)
    if sorts:
        order = [c.asc() if asc else c.desc() for c, asc in sorts] + [F.col(id_col).asc()]
        return stage3.orderBy(*order).limit(n)
    return stage3.limit(n)


def brute_force_topk(
    vectors: DataFrame,
    query_vector: list[float],
    n: int = DEFAULT_N,
    id_col: str = "id",
    vector_col: str = "vector",
    round_to: int | None = 9,
) -> DataFrame:
    """Exact cosine top-n over the full table — the oracle/baseline ANN path.

    One scan, one TakeOrderedAndProject: at 100 TB this is the scan-bound
    lower bound every approximate variant must beat.
    """
    q_vec = F.array(*[F.lit(float(x)) for x in query_vector])
    q_mag = F.lit(_magnitude(query_vector))
    cos = K.cosine_similarity(q_vec, F.col(vector_col), q_mag, None)
    # Order on the exact double; round only the projected output so the
    # ordering is identical to any oracle computing the same fold.
    ranked = (
        vectors.select(id_col, cos.alias("_cos_raw"))
        .orderBy(F.col("_cos_raw").desc(), F.col(id_col).asc())
        .limit(n)
    )
    out_cos = F.round("_cos_raw", round_to) if round_to is not None else F.col("_cos_raw")
    return ranked.select(id_col, out_cos.alias("cosine_similarity"))


def search_many(
    vectors: DataFrame,
    queries: DataFrame,
    n: int = DEFAULT_N,
    two_phase: bool = True,
    id_col: str = "id",
    vector_col: str = "vector",
    code_col: str | None = "binary_code",
    mag_col: str | None = "magnitude",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vector",
    expected_dim: int | None = None,
) -> DataFrame:
    """Batch top-n search: a DataFrame of query vectors against the
    table, ``(query_id, id, rank, cosine_similarity)`` per query.

    The query batch is collected on the driver (one Arrow job; a serving
    batch is bounded by construction, as in ``pq_topk_many``) and the
    table is scored in ONE ``mapInArrow`` pass (functions.vector_arrow):
    each batch keeps, per query, its top 10n rows by ``(hamming, id)``
    and scores their exact cosines.  One exchange on ``query_id`` then
    carries <= 10n x #batches narrow rows per query into the two rank
    windows (global top 10n by Hamming, then top n by cosine).  No cross
    join, no refetch join, and the per-(query, row) scores are never
    materialized.

    With ``two_phase=False`` each batch keeps its top n by cosine over
    every row (the exact batched baseline).

    Query dimensions are guarded like the single-query facade path
    (table._check_length): a query vector whose length differs from the
    table's packs a different word count, and the misaligned Hamming
    comparison silently returns plausible-looking WRONG rows (or ranks
    all-NULL distances).  Pass ``expected_dim`` (the facade's declared
    ``vector_length``) to enforce that dimension with NO extra work;
    without it the table's dimension is probed from ONE ARBITRARY row —
    an eager metadata-cheap Spark job, and on a ragged-dimension table
    the enforced dim is whichever row the probe happened to read (ragged
    tables should always pass ``expected_dim``).  A mismatched query
    raises ``ValueError`` at call time; a NULL query vector is NOT a
    mismatch — it is dropped and contributes no result rows.
    """
    if expected_dim is not None:
        table_dim = int(expected_dim)
    else:
        dim_row = vectors.select(F.size(vector_col).alias("d")).first()
        table_dim = (
            int(dim_row["d"])
            if dim_row is not None and dim_row["d"] is not None
            else None
        )
    batch = VA.QueryBatch.collect(
        queries, query_id_col, query_vec_col, table_dim, "search_many", "table"
    )
    keep = STAGE2_FACTOR * n if two_phase else n
    scored = VA.scan_topk(
        vectors,
        batch,
        keep,
        id_col=id_col,
        vector_col=vector_col,
        mag_col=mag_col,
        by_hamming=two_phase,
        code_col=code_col,
        query_id_col=query_id_col,
    )
    if two_phase:
        w_h = Window.partitionBy(query_id_col).orderBy(
            F.col("hamming_distance").asc_nulls_last(), F.col(id_col).asc()
        )
        scored = scored.withColumn("_hrank", F.row_number().over(w_h)).where(
            F.col("_hrank") <= keep
        )
    w_c = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_similarity").desc_nulls_last(), F.col(id_col).asc()
    )
    out = (
        scored.withColumn("_crank", F.row_number().over(w_c))
        .where(F.col("_crank") <= n)
        .select(query_id_col, id_col, F.col("_crank").alias("rank"), "cosine_similarity")
    )
    # an empty batch: LIMIT 0 plans as an empty local relation, no job
    return out if len(batch) else out.limit(0)
