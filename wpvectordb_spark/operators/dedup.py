"""Deduplication operators for large-scale training-data pipelines.

Five strategies over a ``documents(doc_id, text, ...)`` table, each the
Spark-idiomatic shape of a published technique:

* **exact** — hash-groupBy on content fingerprint; one shuffle on the
  fingerprint, min-id winner per group.
* **MinHash + LSH** — shingle -> portable minhash signature -> band keys ->
  candidate pairs via band-key equi-join -> exact Jaccard verify.  The
  banding join is THE scale move: at 100 TB nothing ever compares all
  pairs; only rows sharing a band bucket meet, and AQE's skew-join
  splitting handles hot buckets (identical boilerplate docs).
* **SimHash** — 60-bit sign-random-projection signature, near-dup =
  small Hamming distance; block-permutation buckets avoid the quadratic
  pair space.
* **n-gram Jaccard** — exact shingle-set similarity on candidate pairs
  (used standalone for small blocks, or as the verify stage of LSH).
* **embedding cosine** — near-dup by vector similarity over an
  ``array<float>`` column, blocked on a cheap partition key.

All signatures use the portable polynomial hash (functions.text) so every
stage is oracle-checkable in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wpvectordb_spark.barrier import call_barrier
from wpvectordb_spark.functions import kernels as K
from wpvectordb_spark.functions import sketch_arrow as SA
from wpvectordb_spark.functions import text as X

DEFAULT_NUM_HASHES = 32
DEFAULT_BANDS = 8
DEFAULT_ROWS_PER_BAND = 4

# Monotone counter for default observe() metric names (Spark rejects
# duplicate observed-metric names within one plan).
_GUARD_SEQ = 0


def _spread(df: DataFrame) -> DataFrame:
    """Repartition to the cluster's parallelism before CPU-heavy signature
    computation.  Small corpora arrive as one or two parquet splits, which
    would pin the expensive hashing to as many cores; at real scale the
    input already has thousands of splits and this is a cheap rebalance of
    same-sized partitions (ROUND_ROBIN, no key skew)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    # skip when the input already has enough splits: at real scale this
    # would otherwise be a full exchange of document BODIES (and would
    # COALESCE thousands of scan splits down to num-cores partitions)
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)



def _jaccard_verify(
    cands: DataFrame, sh_a: DataFrame, sh_b: DataFrame, threshold: float, id_col: str
) -> DataFrame:
    """The ONE exact-Jaccard verify join (formula, rounding, threshold
    semantics live here — previously copy-pasted per candidate route):
    join each (id_a, id_b) candidate to its sides' shingle sets, keep
    pairs at or above the threshold."""
    inter = F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh")))
    union = F.size(F.col("sa.sh")) + F.size(F.col("sb.sh")) - inter
    jac = inter.cast("double") / union.cast("double")
    return (
        cands.join(sh_a.alias("sa"), F.col("id_a") == F.col(f"sa.{id_col}"))
        .join(sh_b.alias("sb"), F.col("id_b") == F.col(f"sb.{id_col}"))
        .select("id_a", "id_b", F.round(jac, 9).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def exact_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup: keep the smallest id per content fingerprint.

    Hash first so the shuffle key is a bigint, not the document body —
    at 100 TB the exchange carries 8 bytes/row instead of the text.
    The fingerprint is the ~60-bit two-fold pack (text.fingerprint60):
    a single 30-bit fold false-merges distinct documents by birthday at
    ~50k docs, silently deleting them as "duplicates" at any real scale.
    NULL-text documents pass through untouched, one row each — grouping
    them would collapse every failed-extraction row into one survivor
    (the NULL-domain data-loss class).  Returns (doc_id, fingerprint,
    dup_count).

    ONE aggregation, no filter/union split: NULL-fingerprint rows keep
    their own singleton groups via a second grouping key that is the
    row's id exactly when the fingerprint is NULL (and a constant
    otherwise, so real fingerprint groups are untouched).  The earlier
    filtered-branches + union form evaluated the fingerprint fold once
    per branch per consumer — ~4 O(doc) folds per document in
    interpreted mode (measured 1.77 s -> 0.66 s at sf0.1).  (A
    fingerprint is NULL iff the text is NULL, so the discriminator
    reproduces the old NULL passthrough exactly; ids are unique by
    table contract.)
    """
    hashed = _spread(docs).select(
        F.col(id_col), X.fingerprint60(text_col).alias("fingerprint")
    )
    null_key = F.when(F.col("fingerprint").isNull(), F.col(id_col))
    return (
        hashed.groupBy("fingerprint", null_key.alias("_nk"))
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").alias("dup_count"),
        )
        .select(id_col, "fingerprint", "dup_count")
    )



def normalized_exact_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Fuzzy-exact dedup: ``exact_dedup`` over the CCNet-normalized text
    (lowercase, punctuation stripped, whitespace collapsed — Wenzek et
    al. 2020 §4.1), catching the re-cased/re-punctuated/re-wrapped
    copies byte-exact dedup misses.  A crawl carries the same article
    as ``"Hello,  World!"`` and ``"hello world"`` — different bytes,
    same document.

    Same contract and scale shape as ``exact_dedup`` (the normalization
    is three narrow string ops fused into the same projection as the
    fingerprint fold; the shuffle key stays an 8-byte bigint): returns
    (id, fingerprint, dup_count) with the fingerprint computed over the
    NORMALIZED text; NULL-text rows pass through as singletons.  A doc
    that normalizes to "" groups with other all-punctuation docs — by
    design (they are all the same empty document).
    """
    return exact_dedup(
        docs.select(
            F.col(id_col),
            X.normalize_for_dedup(text_col).alias(text_col),
        ),
        id_col=id_col,
        text_col=text_col,
    )


def sql_normalized_exact_dedup(
    corpus_sql: str, id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """DuckDB mirror of ``normalized_exact_dedup`` (same normalization
    chain, same fingerprint fold, same NULL passthrough)."""
    fp = X.sql_fingerprint60(X.sql_normalize_for_dedup(text_col))
    return f"""
        WITH ned_f AS (
          SELECT {id_col},
                 CASE WHEN {text_col} IS NULL THEN NULL ELSE {fp} END
                   AS fingerprint
          FROM ({corpus_sql})
        )
        SELECT min({id_col}) AS {id_col}, fingerprint,
               COUNT(*) AS dup_count
        FROM ned_f WHERE fingerprint IS NOT NULL GROUP BY fingerprint
        UNION ALL
        SELECT {id_col}, fingerprint, 1 AS dup_count
        FROM ned_f WHERE fingerprint IS NULL
    """


def _check_banding(num_hashes: int, bands: int, rows_per_band: int) -> None:
    """Bands that slice past the signature end all yield the SAME empty
    band key ('' — non-null, so no explode/join guard catches it),
    colliding every document in those bands: a silent n^2/2 candidate
    blowup that defeats the LSH design."""
    if bands * rows_per_band > num_hashes:
        raise ValueError(
            f"bands*rows_per_band ({bands}*{rows_per_band}) exceeds "
            f"num_hashes ({num_hashes}) — trailing bands would share one "
            "empty key and go quadratic"
        )


def tune_lsh_params(
    threshold: float,
    num_hashes: int = DEFAULT_NUM_HASHES,
    fp_weight: float = 0.5,
    fn_weight: float = 0.5,
) -> tuple[int, int]:
    """Closed-form LSH banding selection: the ``(bands, rows_per_band)``
    whose S-curve ``1 - (1 - s^r)^b`` best steps at the target Jaccard
    ``threshold`` — minimizing the weighted false-positive integral
    (candidate-pair probability mass BELOW the threshold) plus
    false-negative integral (missed mass ABOVE it), the standard
    parameter rule from Leskovec/Rajaraman/Ullman, *Mining of Massive
    Datasets* ch. 3.4 (the same search the datasketch library ships as
    ``_optimal_param``).  Deterministic 512-point midpoint quadrature;
    pure driver arithmetic — feed the result straight into
    :func:`minhash_lsh_dedup_pairs`/:func:`lsh_candidate_pairs`, whose
    verify stage then removes whatever false positives the curve lets
    through (the FN side is the one that matters: missed candidates are
    never recovered).

    Raising ``fn_weight`` pushes the step LEFT of the threshold (catch
    more, verify more); raising ``fp_weight`` pushes it right.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"tune_lsh_params: threshold={threshold} outside (0, 1)")
    if num_hashes < 2:
        raise ValueError(f"tune_lsh_params: num_hashes={num_hashes} < 2")
    if fp_weight < 0 or fn_weight < 0 or fp_weight + fn_weight == 0:
        raise ValueError("tune_lsh_params: weights must be >= 0 and not both 0")
    steps = 512
    best = None
    for b in range(1, num_hashes + 1):
        max_r = num_hashes // b
        for r in range(1, max_r + 1):
            fp = fn = 0.0
            # midpoint rule on [0, t] (catch probability = FP mass) and
            # [t, 1] (miss probability (1-s^r)^b = FN mass)
            w_lo = threshold / steps
            w_hi = (1.0 - threshold) / steps
            for i in range(steps):
                s = (i + 0.5) * w_lo
                fp += (1.0 - (1.0 - s**r) ** b) * w_lo
                s = threshold + (i + 0.5) * w_hi
                fn += (1.0 - s**r) ** b * w_hi
            err = fp_weight * fp + fn_weight * fn
            if best is None or err < best[0]:
                best = (err, b, r)
    return best[1], best[2]


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    shingle_k: int = 3,
) -> DataFrame:
    """(doc_id, signature) — minhash over distinct hashed k-token shingles.

    Shingle hashes come from the one-pass rolling fold over token hashes
    (functions.text.shingle_hashes): O(tokens) per document, no string
    shingle materialization."""
    hashed = X.shingle_hashes(text_col, shingle_k)
    return _spread(docs).select(
        F.col(id_col),
        SA.minhash_signature_arrow(hashed, num_hashes).alias("signature"),
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = DEFAULT_BANDS,
    rows_per_band: int = DEFAULT_ROWS_PER_BAND,
    max_bucket_size: int | None = None,
    observation=None,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing >= 1 LSH band key.

    Explode band keys, group by (band_id, band_key), emit ordered pairs
    from each bucket's id list.  One pass over the signatures and one
    shuffle on the band key — a self-equi-join would run the whole
    signature pipeline once per join side.  Buckets of size 1 (the vast
    majority) are filtered before any pair is generated.
    """
    keys = F.posexplode(
        X.lsh_band_keys("signature", bands, rows_per_band)
    )
    # lsh_band_keys transforms over sequence(0, bands-1), so a NULL
    # signature yields an array of NULL *elements* — posexplode DOES emit
    # those, and at scale every empty/short doc would collide in one hot
    # NULL bucket per band (B^2/2 pair blowup).  Filter the generated
    # band_key AFTER the explode: it only exists past the Generate node,
    # so the filter cannot re-trigger an upstream UDF-backed signature
    # projection (unlike a pre-explode `where(signature.isNotNull())`,
    # which risks a stacked ArrowEvalPython double-eval).
    banded = signatures.select(
        F.col(id_col), keys.alias("band_id", "band_key")
    ).where(F.col("band_key").isNotNull())
    buckets = (
        banded.groupBy("band_id", "band_key")
        .agg(F.collect_list(id_col).alias("ids"))
        .where(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        # Adversarial skew guard: a bucket of B ids emits B^2/2 pairs in one
        # task.  Oversized buckets (boilerplate/empty docs that collide in
        # every band) are dropped EXPLICITLY — callers opting in accept
        # reduced recall on those groups; exact_dedup catches true
        # duplicates among them.  The dropped-bucket count is recorded as
        # an observed metric INSIDE the single plan (no eager pre-count
        # job): pass observation= (a pyspark.sql.Observation) and read
        # ``observation.get["dropped_buckets"]`` after an action, or watch
        # the "lsh_skew_guard_N" metric in a QueryExecutionListener.
        # Caveat: if EVERY bucket is dropped, AQE's empty-relation
        # propagation can prune the CollectMetrics stage and the
        # Observation never fires — metrics are only guaranteed when the
        # pair output is non-empty.
        # The default metric name is UNIQUE PER CALL: Spark rejects two
        # observed metrics with the same name in one plan at analysis
        # time, which would make a query that unions two capped LSH
        # pipelines (the tagged-union pattern) fail to compose.
        global _GUARD_SEQ
        _GUARD_SEQ += 1
        guard = (
            observation
            if observation is not None
            else f"lsh_skew_guard_{_GUARD_SEQ}"
        )
        buckets = buckets.observe(
            guard,
            F.sum(
                F.when(F.size("ids") > max_bucket_size, 1).otherwise(0)
            ).alias("dropped_buckets"),
            F.count(F.lit(1)).alias("total_buckets"),
        ).where(F.size("ids") <= max_bucket_size)
    pairs = F.explode(
        F.expr(
            "flatten(transform(ids,"
            " x -> transform(filter(ids, y -> y > x), y -> struct(x AS id_a, y AS id_b))))"
        )
    )
    return buckets.select(pairs.alias("p")).select("p.id_a", "p.id_b").distinct()


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    block_col: str | None = None,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-Jaccard verify: (id_a, id_b, jaccard) >= threshold.

    The pair space MUST be bounded one of two ways:

    * ``candidates`` — an (id_a, id_b) DataFrame (normally
      ``lsh_candidate_pairs`` over minhash signatures): shingle sets join
      to the candidate list by id, never to each other.  This is the scale
      path — pair count is the LSH bucket output, not n^2.
    * ``block_col`` — a self-join blocked on an equi-key.  O(n^2/|blocks|)
      WITHIN a block: only safe when the caller knows blocks are bounded
      (e.g. per-source shards or IVF clusters); a low-cardinality column
      like ``lang`` goes quadratic at scale — prefer the candidates
      route there.

    With neither, this would be an all-pairs cross join — refused.
    """
    if candidates is not None:
        sh = _spread(docs).select(
            F.col(id_col), X.shingle_hashes(text_col, shingle_k).alias("sh")
        )
        return _jaccard_verify(candidates, sh, sh, threshold, id_col)
    if not block_col:
        # `not` rather than `is None`: '' threaded from config would
        # bypass an is-None check, fall through every truthiness test
        # below, and silently run the all-pairs cross join
        raise ValueError(
            "ngram_jaccard_pairs needs a bounded pair space: pass "
            "candidates= (lsh_candidate_pairs output — the scale path) or "
            "block_col= (bounded blocks only; quadratic within a block)"
        )
    base = _spread(docs).select(
        F.col(id_col),
        X.shingle_hashes(text_col, shingle_k).alias("sh"),
        *( [F.col(block_col)] if block_col else [] ),
    )
    a = base.alias("a")
    b = base.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.col("a.sh")) + F.size(F.col("b.sh")) - inter
    jac = inter.cast("double") / union.cast("double")
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(jac, 9).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """ASYMMETRIC shingle-containment verify — the near-dup measure
    symmetric Jaccard dilutes away: a 100-shingle document quoted whole
    inside a 10,000-shingle page has Jaccard ~0.01 but containment 1.0
    (Broder's resemblance-vs-containment distinction, "On the
    resemblance and containment of documents", 1997; the check behind
    "this page is an expansion of that one" dedup decisions and
    subset-document pruning).

    Emits ``(id_a, id_b, containment_a, containment_b)`` — the fraction
    of EACH side's shingles present in the other — for candidate pairs
    where the larger direction clears ``threshold``.  Which side is the
    contained one is read off directly (``containment_a`` ~ 1.0 means A
    is inside B).

    Candidates-route ONLY (normally ``lsh_candidate_pairs``): an
    all-pairs or blocked form would inherit the same quadratic hazards
    as the Jaccard verify, and LSH banding already recalls
    high-containment pairs when the contained side dominates a band.
    NOTE the standard caveat: LSH recall is driven by Jaccard, so a
    tiny-doc-in-huge-page pair (high containment, low Jaccard) may not
    surface as a candidate — for those, feed candidates from the
    winnowing/span index instead.
    """
    if candidates is None:
        raise ValueError(
            "ngram_containment_pairs needs candidates= (the bounded pair "
            "space — lsh_candidate_pairs output or a winnowing index join)"
        )
    sh = _spread(docs).select(
        F.col(id_col), X.shingle_hashes(text_col, shingle_k).alias("sh")
    )
    inter = F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh")))
    ca = inter.cast("double") / F.size(F.col("sa.sh")).cast("double")
    cb = inter.cast("double") / F.size(F.col("sb.sh")).cast("double")
    return (
        candidates.join(sh.alias("sa"), F.col("id_a") == F.col(f"sa.{id_col}"))
        .join(sh.alias("sb"), F.col("id_b") == F.col(f"sb.{id_col}"))
        .select(
            "id_a",
            "id_b",
            F.round(ca, 9).alias("containment_a"),
            F.round(cb, 9).alias("containment_b"),
        )
        .where(
            F.greatest(F.col("containment_a"), F.col("containment_b"))
            >= F.lit(float(threshold))
        )
    )


def _shingle_side(
    df: DataFrame, id_col: str, text_col: str, shingle_k: int
) -> DataFrame:
    """(id, sh) for one side of a dedup join.  A frame that already carries
    an ``sh`` column is treated as a precomputed shingle-set index (the
    persisted on-disk form at production scale) and used as-is — no
    re-tokenize, no repartition (an index read back from parquet already
    has real splits)."""
    if df.columns == [id_col, "sh"]:
        # Exact shape already: return the SAME object (not a no-op
        # Project wrapper) so a caller-persisted index is recognized by
        # the cache manager — a wrapper plan would get its own cache
        # entry on every pipeline call and accumulate across streaming
        # batches.
        return df
    if "sh" in df.columns:
        return df.select(F.col(id_col), "sh")
    return _spread(df).select(
        F.col(id_col), X.shingle_hashes(text_col, shingle_k).alias("sh")
    )


def shingle_sets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
) -> DataFrame:
    """(id, sh) hashed shingle-set index — the shared intermediate of the
    MinHash pipelines.  Persist (or write to parquet) and pass back to
    ``minhash_lsh_dedup_pairs`` / ``incremental_dedup_pairs`` so the
    tokenize+hash pass runs once per document ever, not once per run."""
    return _shingle_side(docs, id_col, text_col, shingle_k)


def minhash_lsh_dedup_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int | None = None,
    rows_per_band: int | None = None,
    shingle_k: int = 3,
    persist: bool = True,
    auto_tune: bool = False,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates -> exact Jaccard verify.

    The hashed shingle sets are computed ONCE and shared (they feed
    both the signature/banding branch and the two verify joins — without
    the barrier each consumer re-runs the tokenize+hash pipeline).  At
    production scale this intermediate is the on-disk signature index.
    ``docs`` may instead be a precomputed (id, sh) shingle index
    (see ``_shingle_side``).

    ``persist=True`` shares the shingle frame via a LAZY
    ``localCheckpoint`` (computed at the first action, blocks released
    when the frame is GC'd — NOT a ``.persist()``: that registers a
    CacheManager entry this function could never hand the caller a
    release handle for, so every call in a long-lived session leaked
    one resident cache entry; round-10 verdict item 2).
    ``persist=False`` skips the barrier entirely: the three consumers
    then re-hash, a bounded 3x of one narrow projection, no
    compounding.

    ``bands``/``rows_per_band`` default to None = the module constants
    (DEFAULT_BANDS x DEFAULT_ROWS_PER_BAND).  ``auto_tune=True`` derives
    them from :func:`tune_lsh_params`' S-curve argmin at ``threshold``
    over ``num_hashes`` instead — the banding actually matched to the
    verify threshold — and shrinks the computed signature to exactly
    ``bands * rows_per_band`` elements (the tuner may pick b*r <
    num_hashes; the per-index hash functions make the kept prefix
    identical, so the output is unchanged and the unread tail is
    never computed).  Passing EITHER knob explicitly together with
    auto_tune raises rather than silently ignoring one (the None
    sentinel is what distinguishes "not passed" from "passed the
    default value" — comparing against the constants would auto-tune
    over a deliberately pinned 8x4).
    """
    if auto_tune:
        if bands is not None or rows_per_band is not None:
            raise ValueError(
                "minhash_lsh_dedup_pairs: pass EITHER auto_tune=True OR "
                "explicit bands/rows_per_band, not both"
            )
        bands, rows_per_band = tune_lsh_params(threshold, num_hashes)
        # the tuner searches r over 1..num_hashes//b, so b*r may be
        # strictly under num_hashes — shrink the signature to exactly
        # the b*r elements banding will read (per-index hash functions,
        # so elements 0..b*r-1 are identical either way; the tail would
        # be computed and never used)
        num_hashes = bands * rows_per_band
    bands = DEFAULT_BANDS if bands is None else bands
    rows_per_band = DEFAULT_ROWS_PER_BAND if rows_per_band is None else rows_per_band
    _check_banding(num_hashes, bands, rows_per_band)
    sh = _shingle_side(docs, id_col, text_col, shingle_k)
    if persist:
        # lazy call-scoped barrier, GC-released (see docstring)
        sh = call_barrier(sh)
    sigs = sh.select(
        F.col(id_col), SA.minhash_signature_arrow(F.col("sh"), num_hashes).alias("signature")
    )
    cands = lsh_candidate_pairs(sigs, id_col, bands, rows_per_band)
    return _jaccard_verify(cands, sh, sh, threshold, id_col)


def lsh_band_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    rows_per_band: int = DEFAULT_ROWS_PER_BAND,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, band_id, band_key) — the persisted banded index of the
    production incremental-dedup layout (write ``partitionBy(band_id)``
    and pass back as ``incremental_dedup_pairs(corpus_bands=...)`` so
    the corpus side's signatures are computed once per document EVER,
    not once per increment).  Accepts raw docs or a precomputed (id, sh)
    shingle index.  NULL band keys (empty/short docs) are dropped here —
    they can never match an equi-join and would only bloat the index.
    Band keys depend on ``text.minhash_coefficients``: an index written
    before its per-lane family replaced the correlated one holds keys the
    current signatures never produce, so rebuild it."""
    _check_banding(num_hashes, bands, rows_per_band)
    sh = _shingle_side(docs, id_col, text_col, shingle_k)
    sigs = sh.select(
        F.col(id_col), SA.minhash_signature_arrow(F.col("sh"), num_hashes).alias("signature")
    )
    keys = F.posexplode(X.lsh_band_keys("signature", bands, rows_per_band))
    return sigs.select(F.col(id_col), keys.alias("band_id", "band_key")).where(
        F.col("band_key").isNotNull()
    )


def incremental_dedup_pairs(
    corpus: DataFrame,
    delta: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    rows_per_band: int = DEFAULT_ROWS_PER_BAND,
    shingle_k: int = 3,
    corpus_bands: DataFrame | None = None,
) -> DataFrame:
    """Near-dups of a NEW batch against an EXISTING corpus — the
    production shape of continuous ingestion: each crawl increment is
    deduped against everything already kept, without ever re-running the
    corpus-vs-corpus comparison.

    Returns (id_a, id_b, jaccard) with ``id_a`` from the corpus and
    ``id_b`` from the delta; corpus-corpus and delta-delta pairs are
    structurally impossible (the band join is across sides only).  Run
    ``minhash_lsh_dedup_pairs`` on the delta alone for within-batch dups.

    Scale shape: band keys for both sides, cross-side equi-join on
    (band_id, band_key), exact-Jaccard verify on the candidates.  Cost is
    O(|delta| + bucket hits), not O(|corpus| x |delta|).  At 100 TB the
    corpus side is a PERSISTED index — (id, sh) and (id, band_id,
    band_key) tables written ``partitionBy(band_id)`` — so each increment
    hashes only its own documents and the join prunes corpus partitions
    by the delta's band keys; pass the reloaded (id, sh) frame as
    ``corpus`` and it is used as-is (no re-tokenize).  Either side may be
    raw docs or a precomputed index (detected by an ``sh`` column).

    ``corpus_bands`` is the second half of the persisted layout: the
    (id, band_id, band_key) table from ``lsh_band_index``.  Without it,
    every call re-runs minhash + banding over the WHOLE corpus shingle
    index — O(corpus) CPU per increment, which silently defeats the
    incremental contract on a long-running ingest.  With it, the corpus
    side is pure I/O (band join + verify-join scans) and only the delta
    is hashed.  The corpus shingle frame is barriered only when this
    function must band it itself (two consumers); with ``corpus_bands``
    it has a single consumer (the verify join) and a barrier would be
    pure overhead.  Both shared-intermediate barriers are LAZY
    ``localCheckpoint``s, not ``.persist()``: a cache entry per call
    with no release handle accumulates across streaming batches
    (round-10 verdict item 2) — checkpoint blocks instead die with the
    frames when this call's outputs are GC'd.
    """
    _check_banding(num_hashes, bands, rows_per_band)
    own_corpus_banding = corpus_bands is None
    sh_c = _shingle_side(corpus, id_col, text_col, shingle_k)
    if own_corpus_banding:
        sh_c = call_barrier(sh_c)
    sh_d = call_barrier(_shingle_side(delta, id_col, text_col, shingle_k))

    def _banded(sh: DataFrame, out: str) -> DataFrame:
        sigs = sh.select(
            F.col(id_col),
            SA.minhash_signature_arrow(F.col("sh"), num_hashes).alias("signature"),
        )
        # NULL band keys DO survive the explode (lsh_band_keys yields an
        # array of NULL elements, not a NULL array) — they are safe here
        # only because the downstream EQUI-JOIN never matches NULL keys.
        # A groupBy/bucket rewrite of this path would collect them into
        # one hot NULL bucket per band and must filter band_key IS NOT
        # NULL after the explode (see lsh_candidate_pairs; a pre-explode
        # signature filter would double-evaluate the signature UDF).
        keys = F.posexplode(X.lsh_band_keys("signature", bands, rows_per_band))
        return sigs.select(F.col(id_col).alias(out), keys.alias("band_id", "band_key"))

    corpus_side = (
        corpus_bands.select(F.col(id_col).alias("id_a"), "band_id", "band_key")
        if corpus_bands is not None
        else _banded(sh_c, "id_a")
    )
    cands = (
        _banded(sh_d, "id_b")
        .join(corpus_side, ["band_id", "band_key"])
        .select("id_a", "id_b")
        .distinct()
    )
    return _jaccard_verify(cands, sh_c, sh_d, threshold, id_col)


SIMHASH_BITS = 60


def simhash_near_dup_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """SimHash near-dup: ALL pairs within ``max_hamming`` bits of each
    other — recall 1.0, guaranteed.

    Signatures are ``bits``-bit sign-random-projection fingerprints
    (sketch_arrow.simhash_signature_arrow): 60 independent bits by default.  A
    token-bit SimHash carries only ~30 useful bits (the token hashes are
    30-bit) — on a 5k-doc synthetic corpus hamming<=3 matched 1.6M pairs
    (avg degree 646), and at web scale it collides by birthday at ~10^5
    docs; Manku et al. run 64-bit fingerprints for 8B pages.

    Candidate generation is the standard block-permutation argument
    (Manku et al., WWW'07): split the signature into ``max_hamming + 1``
    equal blocks; two signatures differing in at most ``max_hamming``
    bits MUST agree exactly on at least one block (pigeonhole).  Each doc
    registers under (block_id, block_value); the self-equi-join on that
    key meets every qualifying pair in at least one block, the exact
    ``bit_count(xor)`` filter keeps true near-dups, and a distinct over
    the (output-sized) filtered pairs collapses multi-block meetings.

    Self-join (not collect_list + in-array): a HOT block bucket's pair work
    distributes across tasks via AQE skew-join splitting — the in-array
    form runs a B^2 loop inside ONE task (measured 5x slower on
    boilerplate-heavy corpora).

    The 16-byte/row (id, simhash) frame feeds both join sides, so it
    goes through the call-scoped ``barrier.call_barrier``: the signature
    kernel runs once instead of once per side (5,500 docs, local[4]:
    2.2-2.6 s without a barrier, 0.9-1.2 s with the lazy barrier or an
    eager ``localCheckpoint``).  The kernel runs at the
    first action, not at call time, and the stored frame holds
    signatures only, never text."""
    n_blocks = max_hamming + 1
    block_bits = bits // n_blocks
    # No null-signature filter: a null simhash yields null block keys,
    # which never match the equi-join below — and an isNotNull filter on a
    # Python-UDF column would stack a second ArrowEvalPython evaluation.
    sh = call_barrier(
        _spread(docs).select(
            F.col(id_col),
            SA.simhash_signature_arrow(X.token_hashes(text_col), bits).alias("simhash"),
        )
    )
    # block values via integer div + mod (not bit ops): ports exactly to
    # any oracle engine's `//` and `%`.  Block 0 is the HIGH bits; the last
    # block absorbs the remainder when 32 % n_blocks != 0.
    shifts = [
        bits - block_bits * (i + 1) if i < n_blocks - 1 else 0
        for i in range(n_blocks)
    ]
    widths = [
        block_bits if i < n_blocks - 1 else bits - block_bits * (n_blocks - 1)
        for i in range(n_blocks)
    ]
    banded = sh.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[
                    F.expr(f"simhash div {2 ** s}") % F.lit(2 ** w)
                    for s, w in zip(shifts, widths)
                ]
            )
        ).alias("block_id", "block_key"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    hd = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).cast("long")
    # A pair agreeing on k blocks meets k times; the trailing distinct
    # only shuffles rows that already passed the Hamming filter — with
    # 60-bit signatures that is output-sized (true near-dups), orders of
    # magnitude below the candidate-meet volume.  (A first-agreeing-block
    # predicate instead of the distinct was measured SLOWER here: it
    # re-derives block values on every candidate meet — 656k rows — to
    # save a distinct over 6k.)
    return (
        a.join(
            b,
            (F.col("a.block_id") == F.col("b.block_id"))
            & (F.col("a.block_key") == F.col("b.block_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .where(hd <= max_hamming)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hd.alias("hamming"),
        )
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star round: every node connects its LARGER neighbors to the
    minimum of its neighborhood (including itself).

    Implemented as agg + self-equi-join on the same key (one shuffle,
    reused) instead of ``collect_set`` — a hub node's neighbor list never
    materializes in one task, and AQE's skew-join splitting spreads a hot
    hub across tasks.
    """
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    m = F.least(F.col("mn"), F.col("u"))
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), m.alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star round: direct every edge larger -> smaller, then connect
    each node's smaller neighbors (and itself) to their minimum."""
    d = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
    mins = d.groupBy("u").agg(F.min("v").alias("m"))
    nbrs = (
        d.join(mins, "u")
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    selfs = mins.select(F.col("u"), F.col("m").alias("v"))
    return nbrs.union(selfs).distinct()


def _driver_union_find(edges) -> list[tuple[int, int]]:
    """Union-find with path compression over a COLLECTED edge list, keeping
    the SMALLER id as root on every union so the final root of each
    component is exactly its minimum member id — the same (doc_id,
    component_id) contract the distributed star-contraction converges to.
    Bounded by the caller's pair-count gate; never called on an edge set
    larger than ``small_graph_pairs``."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for u, v in edges:
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    return [(x, find(x)) for x in parent]


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
    checkpoint_dir: str | None = None,
    small_graph_pairs: int = 100_000,
) -> DataFrame:
    """Connected components over a pair list: (doc_id, component_id) with
    ``component_id`` = the smallest doc id reachable through the pair
    graph — the canonical survivor of a near-duplicate cluster.

    Near-dup pipelines need this step after pair generation: LSH emits
    PAIRS, but "keep one per cluster" needs the transitive closure (A~B,
    B~C => {A,B,C} one cluster even if A,C never met in a bucket).

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — converges
    in O(log^2 n) rounds REGARDLESS of graph diameter, unlike naive
    min-label propagation whose round count is the longest chain.  Each
    round is one agg + one self-equi-join per star, all on the node key:
    nothing is ever collected to the driver, and no task ever holds a
    whole component.  Each round's (u, v) edge frontier (two bigints/row)
    is checkpointed to TRUNCATE LINEAGE — without it the logical plan
    doubles per round and Catalyst analysis time explodes exponentially
    (measured: 5-round convergence goes from ~5 s total to a
    multi-minute hang on a 200-node graph).  ``localCheckpoint`` by
    default; pass ``checkpoint_dir`` to swap in reliable ``checkpoint()``
    (HDFS/DBFS-backed) so a lost executor doesn't kill the iteration on
    a real cluster — localCheckpoint blocks live in executor storage and
    die with the executor.  Results are identical either way
    (test-asserted).  The trade, fully: per-round write I/O, AND the
    checkpoint files are RETAINED — Spark does not delete reliable
    checkpoints unless ``spark.cleaner.referenceTracking.cleanCheckpoints``
    is enabled, so one call leaves up to ``max_iterations`` edge-set
    copies (two bigints/row each) in the dir.  Point ``checkpoint_dir``
    at a per-run subdirectory and delete it after materializing the
    result, or enable the cleaner conf.  Spark holds ONE checkpoint dir
    per context, so ``setCheckpointDir`` is called for the iteration and
    the PREVIOUS dir (or unset state) is restored in a ``finally`` —
    every ``checkpoint()`` here is eager, so nothing outside this call
    observes the repoint, and the already-written checkpoint files stay
    readable after the restore.
    Convergence is detected by an order-independent count + hash-sum
    signature of the edge set (count alone is NOT enough: rounds can
    keep the edge count while the set still changes).

    ADAPTIVE SMALL-GRAPH FAST PATH: the distributed iteration costs
    ~10 checkpointed jobs of pure scheduler latency regardless of graph
    size — on a 255-pair graph that fixed cost dominates (measured: the
    entire curate_pipeline_soft vs curate_pipeline delta, PERFORMANCE
    item 70).  So after the (always-run) dedup/materialize of the edge
    set, ONE bounded count routes graphs with <= ``small_graph_pairs``
    distinct edges to a driver-side union-find on the collected pair
    list — the collect is bounded BY THE GATE (two longs per row, so
    the default 100k-pair ceiling is ~1.6 MB of driver memory) — and
    falls back to the O(log^2 n)-round star contraction above it.  Both
    paths produce the identical (doc_id, min-id component) mapping
    (test-asserted on chain and random graphs).  Pass
    ``small_graph_pairs=0`` to force the distributed path.

    Only nodes that appear in >= 1 pair are returned (singletons have no
    cluster to join).  Output is deterministic: min-id roots.
    """
    for c in (id_a, id_b):
        # every other pair operator is id-type agnostic, but the star
        # contraction needs numeric ids; a silent cast would NULL every
        # uuid/string edge out and return an empty result (downstream
        # "keep one per cluster" would then keep every duplicate)
        if not isinstance(pairs.schema[c].dataType, (T.LongType, T.IntegerType)):
            raise ValueError(
                f"connected_components: {c} must be an integer id column, "
                f"got {pairs.schema[c].dataType.simpleString()} — map string "
                "ids to longs first (e.g. xxhash64) and join back after"
            )
    sc = pairs.sparkSession.sparkContext
    prev_ckpt_dir = sc.getCheckpointDir()
    if checkpoint_dir is not None:
        sc.setCheckpointDir(checkpoint_dir)
        _ckpt = lambda df: df.checkpoint()
    else:
        _ckpt = lambda df: df.localCheckpoint()
    try:
        e = _ckpt(
            pairs.select(
                F.col(id_a).cast("long").alias("u"), F.col(id_b).cast("long").alias("v")
            )
            .where(F.col("u") != F.col("v"))
            .where(F.col("u").isNotNull() & F.col("v").isNotNull())
            .distinct()
        )
        prev_sig = e.agg(
            F.count("*").alias("n"), F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h")
        ).first()
        out_cols = [F.col("u").alias("doc_id"), F.col("v").alias("component_id")]
        if prev_sig["n"] == 0:
            return e.select(*out_cols)
        if prev_sig["n"] <= small_graph_pairs:
            # bounded(<=small_graph_pairs): the count gate above proves the
            # edge set fits; collecting from the already-checkpointed frame
            # is one job, vs ~2 jobs/round for the star iteration
            edges = [(r["u"], r["v"]) for r in e.collect()]
            return pairs.sparkSession.createDataFrame(
                _driver_union_find(edges),
                T.StructType(
                    [
                        T.StructField("doc_id", T.LongType(), True),
                        T.StructField("component_id", T.LongType(), True),
                    ]
                ),
            )
        for _ in range(max_iterations):
            e2 = _ckpt(_small_star(_large_star(e)))
            sig = e2.agg(
                F.count("*").alias("n"), F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h")
            ).first()
            e = e2
            if (sig["n"], sig["h"]) == (prev_sig["n"], prev_sig["h"]):
                break
            prev_sig = sig
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_iterations} rounds"
            )
    finally:
        if checkpoint_dir is not None:
            # restore the session's checkpoint dir EXACTLY: the var is
            # Option-typed on the JVM side and setCheckpointDir would
            # mint a fresh UUID subdir under the old value instead of
            # restoring it — write the Option back directly, so an
            # originally-unset dir restores to empty and a set one to
            # the identical resolved path
            getattr(sc._jsc.sc(), "checkpointDir_$eq")(
                sc._jvm.scala.Option.apply(prev_ckpt_dir)
            )
    # At convergence the edge set is a star per component: every non-root
    # points straight at its component's min id; roots appear only on the
    # v side.  groupBy-min is belt-and-braces for the (impossible at
    # convergence) multi-edge case, and roots join as their own component.
    members = e.groupBy("u").agg(F.min("v").alias("v")).select(*out_cols)
    roots = e.select(F.col("v").alias("doc_id")).distinct().select(
        F.col("doc_id"), F.col("doc_id").alias("component_id")
    )
    return members.union(roots)


def embedding_near_dup_pairs_arrow(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    block_col: str = "label",
) -> DataFrame:
    """Blocked-matmul near-dup: per block, one numpy gram matrix instead of
    per-pair folds — the BLAS form of ``embedding_near_dup_pairs``.

    ``applyInPandas`` groups by the blocking key; each block computes
    ``V @ V.T`` and emits only the above-threshold upper-triangle pairs.
    At scale, blocks are IVF clusters and this is the standard
    within-cluster dedup kernel.  Values match the Catalyst form to 9-dp
    rounding (dot products differ only in summation order).
    """
    import numpy as np
    import pandas as pd

    out_schema = "id_a long, id_b long, cosine double"

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        try:
            mat = np.stack(pdf[vector_col].to_numpy()).astype(np.float64)
        except ValueError:
            # ragged dimensions in the block: np.stack's shape error is
            # opaque, and padding/truncating instead would compute a
            # WRONG cosine — a false near-dup match here DELETES a
            # document downstream (the survivor anti-join).  Diagnose
            # only on failure so the happy path stays one C-level stack.
            dims = sorted({len(v) for v in pdf[vector_col]})
            raise ValueError(
                f"embedding_near_dup_pairs: block "
                f"{pdf[block_col].iloc[0]!r} holds vectors of differing "
                f"dimensions {dims} — near-dup cosine requires one "
                "dimension per comparison; fix the corpus or block by "
                "dimension first"
            ) from None
        norms = np.sqrt((mat * mat).sum(axis=1))
        sims = (mat @ mat.T) / (np.outer(norms, norms) + 1e-12)
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = sims[iu, ju] >= threshold
        ia, ib = ids[iu[keep]], ids[ju[keep]]
        lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
        return pd.DataFrame(
            {"id_a": lo, "id_b": hi, "cosine": np.round(sims[iu, ju][keep], 9)}
        )

    return (
        vectors.select(id_col, vector_col, block_col)
        # drop NULL blocks BEFORE grouping: the catalyst equi-join path
        # never matches NULL = NULL, but groupBy collects all NULL-label
        # rows into ONE pandas group and would emit pairs among them (a
        # hot single task AND an engine-parity break).  NULL vectors drop
        # too — the catalyst form's NULL cosine never clears the
        # threshold, while np.stack over a None crashed the whole block
        .where(F.col(block_col).isNotNull() & F.col(vector_col).isNotNull())
        .groupBy(block_col)
        .applyInPandas(block_pairs, out_schema)
    )


def embedding_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    block_col: str | None = None,
    engine: str = "arrow",
) -> DataFrame:
    """Embedding-cosine near-dup: pairs with cosine >= threshold.

    Optionally blocked (e.g. on a cluster/label column) so the join is
    an equi-join instead of a cross product — the IVF-style scale path.

    With a block column the default engine is the per-block gram matrix
    (``embedding_near_dup_pairs_arrow``): one BLAS matmul per block beats
    ~|block|^2 interpreted 64-dim HOF folds (measured 5.8 s -> ~1 s at
    sf0.1).  ``engine="catalyst"`` keeps the pure-JVM pairwise join; both
    round to 9 dp and hash-match the same oracle.
    """
    if engine == "arrow" and block_col is not None:
        return embedding_near_dup_pairs_arrow(
            vectors, threshold, id_col, vector_col, block_col
        )
    base = vectors.select(
        F.col(id_col),
        F.col(vector_col).alias("v"),
        K.magnitude(vector_col).alias("m"),
        *( [F.col(block_col)] if block_col else [] ),
    )
    a = base.alias("a")
    b = base.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    cos = K.cosine_similarity(F.col("a.v"), F.col("b.v"), F.col("a.m"), F.col("b.m"))
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(cos, 9).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def semantic_dedup(
    vectors: DataFrame,
    threshold: float = 0.95,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    centroids: DataFrame | None = None,
    engine: str = "arrow",
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al., arXiv:2303.09540):
    cluster the embeddings, compare pairs only WITHIN a cluster, and drop
    every item that has a near-duplicate (cosine >= threshold) with a
    smaller id in its cluster.  Returns (id, cluster_id, keep).

    Survivor policy is the greedy smaller-id rule, not transitive
    closure: an item is dropped iff SOME kept-or-dropped smaller-id
    neighbor clears the threshold.  That is the policy the SemDeDup
    paper's implementation uses (one exemplar per duplicate group,
    chosen arbitrarily — here: min id, deterministic), it needs no
    iteration, and it is exactly one anti-join.  For transitive-closure
    survivors over sparse pair graphs use ``connected_components`` on
    the pair list instead (the minhash path does).

    Scale shape: centroid assignment is a broadcast argmax (16..4096
    centroids are KB..MB); pairs are blocked per cluster — the
    ``n^2`` term becomes ``sum(|cluster|^2)``, and with trained
    centroids (``similarity.kmeans_centroids``) cluster sizes are
    balanced by construction.  The pair step reuses
    ``embedding_near_dup_pairs`` (Arrow gram-matrix per block by
    default).  No global shuffle of the vectors beyond the one
    cluster-keyed exchange.
    """
    from wpvectordb_spark.operators.similarity import (
        assign_clusters,
        deterministic_centroids,
    )

    if centroids is None:
        centroids = deterministic_centroids(vectors, n_clusters, id_col, vector_col)
    assigned = assign_clusters(vectors, centroids, id_col, vector_col)
    pairs = embedding_near_dup_pairs(
        assigned,
        threshold,
        id_col=id_col,
        vector_col=vector_col,
        block_col="cluster_id",
        engine=engine,
    )
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct().withColumn(
        "_dropped", F.lit(1)
    )
    return (
        assigned.join(dropped, id_col, "left")
        .select(
            F.col(id_col),
            F.col("cluster_id"),
            F.col("_dropped").isNull().alias("keep"),
        )
    )


# Interval-merge fold state encoding: acc = covered * _SPAN_ENC + prev_end.
# Both fields stay < _SPAN_ENC as long as a document has < ~4M tokens (the
# fold is per-document, so this bounds DOCUMENT length, not corpus size).
_SPAN_ENC = 1 << 22


def duplicate_span_stats(
    docs: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ExactSubstr-style duplicate-span detection (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", ACL'22): find spans of
    >= ``k`` consecutive tokens that also occur in >= ``min_docs`` OTHER
    distinct documents, and report per document how much of it is such
    duplicated material.  Returns ``(doc_id, n_windows, n_dup_windows,
    dup_tokens)`` for every document — ``dup_tokens`` is the EXACT number
    of token positions covered by at least one duplicated window
    (overlapping windows merged, not double-counted).

    The paper builds a corpus-wide suffix array — inherently sequential
    and memory-resident, the wrong shape for a cluster.  The
    distributed analog: hash every k-token window (positional rolling
    fold over token hashes, the same polynomial family as the shingle
    pipeline), count DISTINCT documents per window hash, and mark windows
    whose hash clears ``min_docs``.  Fixed k trades the paper's
    "any length >= 50" for one-pass parallelism; chained/overlapping
    windows still flag every duplicated run of >= k tokens, and coverage
    is computed exactly by an interval-merge fold.

    Scale shape: window hashing is a narrow O(k * tokens) projection; one
    aggregation keyed on the 8-byte window hash (partial aggregation
    collapses the heavy boilerplate hashes map-side — Spark rewrites the
    distinct-doc count as a two-level (hash, doc) -> hash aggregate); one
    hash-keyed LEFT SEMI join to mark duplicate windows (AQE converts it
    to broadcast when the duplicated-window set is small); one doc-keyed
    aggregation whose interval merge is a single integer fold over the
    doc's sorted dup positions (state packed into one BIGINT so the
    identical integer arithmetic runs in any engine).  The corpus text
    never shuffles — only (hash, doc, pos) triples.
    """
    base, wins, dup_hashes = _span_detection(
        docs, k, min_docs, id_col, text_col, carry_tokens=False
    )
    dup_wins = wins.join(dup_hashes, "h", "left_semi")
    merge = (
        f"aggregate(array_sort(collect_list(CAST(pos AS LONG))), CAST(0 AS LONG), "
        f"(a, x) -> ((a div {_SPAN_ENC}) + (x + {k} - greatest(a % {_SPAN_ENC}, x)))"
        f" * {_SPAN_ENC} + (x + {k})) div {_SPAN_ENC}"
    )
    per_doc = dup_wins.groupBy(id_col).agg(
        F.count("*").alias("n_dup_windows"),
        F.expr(merge).cast("long").alias("dup_tokens"),
    )
    return (
        base.select(F.col(id_col), F.size("_ws").alias("n_windows"))
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_windows").cast("long").alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
        )
    )


def _span_detection(
    docs: DataFrame,
    k: int,
    min_docs: int,
    id_col: str,
    text_col: str,
    carry_tokens: bool,
    persist: bool = True,
):
    """The ONE detection pipeline shared by ``duplicate_span_stats`` and
    ``remove_duplicate_spans`` (a fold/guard tweak changes exactly one
    place — the cut==stats coverage contract is test-asserted, so drift
    between copies would break it silently until tests run).  Returns
    ``(base, wins, dup_hashes)``; ``base`` is shared via a lazy
    call-scoped ``localCheckpoint`` (three consumers with differing
    exchange children — ReuseExchange cannot dedupe them, same rationale
    as the minhash shingle table; GC-released, not a CacheManager entry)
    and carries ``_tk`` only when the caller needs the tokens back (the
    cut rewrite).  ``persist=False`` skips the barrier for
    single-consumer uses (the holdout side of span decontamination reads
    ``base`` exactly once — a barrier would only pin dead executor
    memory).

    Window hashes are ~60-bit: TWO independent folds packed into one
    BIGINT (sketch_arrow.span_window_hashes_arrow).  A single 30-bit
    window hash collides by pigeonhole once the corpus holds more
    distinct windows than the 1e9 hash space (~10 GB of text) —
    unrelated windows would then be flagged duplicated, and
    remove_duplicate_spans would CUT the collided text irreversibly,
    with no verify stage to catch it."""
    if carry_tokens:
        hashed = (
            _spread(docs)
            .select(F.col(id_col), X.tokens(text_col).alias("_tk"))
            .select(
                F.col(id_col),
                "_tk",
                F.transform("_tk", lambda t: X.string_hash(t)).alias("_th"),
            )
        )
        keep = [F.col(id_col), F.col("_tk")]
    else:
        hashed = _spread(docs).select(
            F.col(id_col), X.token_hashes(text_col).alias("_th")
        )
        keep = [F.col(id_col)]
    base = hashed.select(
        *keep, SA.span_window_hashes_arrow(F.col("_th"), k).alias("_ws")
    )
    if persist:
        # lazy call-scoped barrier, GC-released — not a CacheManager
        # entry the caller has no handle to (round-10 verdict item 2)
        base = call_barrier(base)
    wins = base.select(F.col(id_col), F.posexplode("_ws").alias("pos", "h"))
    dup_hashes = (
        wins.groupBy("h")
        .agg(F.count_distinct(id_col).alias("_nd"))
        .where(F.col("_nd") >= min_docs)
        .select("h")
    )
    return base, wins, dup_hashes


def _sql_span_cte(corpus_sql: str, k: int, min_docs: int, p: str) -> str:
    """The ONE DuckDB form of the ExactSubstr detection CTE chain
    (mirrors ``_span_detection``, including the two-fold ~60-bit window
    hash; a fold/guard tweak changes exactly one place): defines
    ``{p}_w`` (doc_id, tk, ws), ``{p}_wins`` (doc_id, pos, h),
    ``{p}_dup`` (h)."""
    from wpvectordb_spark.functions.text import (
        HASH_MOD,
        HASH_MOD2,
        HASH_MUL2,
        sql_hash_elements,
        sql_tokens,
    )

    return f"""
        {p}_c AS ({corpus_sql}),
        {p}_tk AS (SELECT doc_id, {sql_tokens("text")} AS tk FROM {p}_c),
        {p}_h AS (SELECT doc_id, tk, {sql_hash_elements("tk")} AS th FROM {p}_tk),
        {p}_w AS (
          SELECT doc_id, tk,
                 CASE WHEN len(th) >= {k} THEN
                   list_transform(range(0, len(th) - {k} + 1), i ->
                     list_reduce(list_prepend(CAST(0 AS BIGINT), th[i+1 : i+{k}]),
                                 (a, t) -> (a * 31 + t) % {HASH_MOD})
                     * {HASH_MOD2}
                     + list_reduce(list_prepend(CAST(0 AS BIGINT), th[i+1 : i+{k}]),
                                   (a, t) -> (a * {HASH_MUL2} + t) % {HASH_MOD2}))
                 ELSE [] END AS ws
          FROM {p}_h
        ),
        {p}_wins AS (
          SELECT w.doc_id, u.i AS pos, w.ws[u.i + 1] AS h
          FROM {p}_w w, unnest(range(0, len(w.ws))) u(i)
        ),
        {p}_dup AS (
          SELECT h FROM {p}_wins GROUP BY h
          HAVING COUNT(DISTINCT doc_id) >= {min_docs}
        )"""


def sql_duplicate_span_stats(
    corpus_sql: str, k: int = 8, min_docs: int = 2
) -> str:
    """DuckDB mirror of ``duplicate_span_stats`` over a (doc_id, text)
    relation: same positional window fold, same distinct-doc threshold,
    same BIGINT-packed interval-merge arithmetic."""
    return f"""
        WITH {_sql_span_cte(corpus_sql, k, min_docs, "span")},
        span_per_doc AS (
          SELECT doc_id, COUNT(*) AS n_dup_windows,
                 list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                                list_sort(list(CAST(pos AS BIGINT)))),
                   (a, x) -> ((a // {_SPAN_ENC}) + (x + {k} - greatest(a % {_SPAN_ENC}, x)))
                             * {_SPAN_ENC} + (x + {k})) // {_SPAN_ENC}
                   AS dup_tokens
          FROM span_wins WHERE h IN (SELECT h FROM span_dup)
          GROUP BY doc_id
        )
        SELECT w.doc_id,
               CAST(len(w.ws) AS BIGINT) AS n_windows,
               CAST(COALESCE(p.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
               CAST(COALESCE(p.dup_tokens, 0) AS BIGINT) AS dup_tokens
        FROM span_w w LEFT JOIN span_per_doc p USING (doc_id)
    """


def remove_duplicate_spans(
    docs: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The CUT step of ExactSubstr dedup (Lee et al., ACL'22): rewrite
    every document with its duplicated spans removed — the actual output
    of the paper's tool, where ``duplicate_span_stats`` only measures.
    Returns ``(id, n_tokens, n_kept, text)``; ``text`` is the document's
    tokens outside every >= ``min_docs``-doc duplicated k-token window,
    space-joined in original order.

    Semantics match the paper's tool: ALL occurrences of a duplicated
    span are cut (no survivor copy).  Output text is a token-level
    reconstruction — the tokenizer already normalizes case/punctuation,
    so the cut corpus is what a training tokenizer would see anyway;
    cutting raw byte ranges needs only a char-offset (not token-index)
    window bookkeeping, same plan shape.

    Scale shape: everything from ``duplicate_span_stats`` plus the
    rewrite, which is the only part that must move corpus tokens: one
    (doc, pos)-keyed LEFT ANTI join of exploded tokens against the
    exploded covered-position set (both 12-byte rows), one doc-keyed
    reassembly agg (sort-by-position struct fold).  Covered positions
    are output-bound (<= k x dup windows); no per-token quadratic scan
    of interval lists.
    """
    base, wins, dup_hashes = _span_detection(
        docs, k, min_docs, id_col, text_col, carry_tokens=True
    )
    dup_wins = wins.join(dup_hashes, "h", "left_semi")
    return _cut_rewrite(base, dup_wins, k, id_col, text_col)


def _cut_rewrite(
    base: DataFrame, dup_wins: DataFrame, k: int, id_col: str, text_col: str
) -> DataFrame:
    """The ONE cut/reassembly tail shared by ``remove_duplicate_spans``
    and ``curation.decontaminate_spans`` (the two differ only in WHICH
    window hashes are flagged — corpus-internal duplicates vs holdout
    membership).  ``base`` must carry ``_tk`` (``_span_detection`` with
    ``carry_tokens=True``); ``dup_wins`` is the flagged subset of its
    ``wins`` frame.  Returns ``(id, n_tokens, n_kept, text)``."""
    covered = (
        dup_wins.select(
            F.col(id_col),
            F.explode(F.sequence(F.col("pos"), F.col("pos") + k - 1)).alias("j"),
        )
        .distinct()
    )
    toks = base.select(F.col(id_col), F.posexplode("_tk").alias("j", "tok"))
    reasm = (
        toks.join(covered, [id_col, "j"], "left_anti")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("j", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias(text_col),
        )
    )
    return (
        base.select(F.col(id_col), F.size("_tk").alias("n_tokens"))
        .join(reasm, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce(text_col, F.lit("")).alias(text_col),
        )
    )


def sql_remove_duplicate_spans(
    corpus_sql: str, k: int = 8, min_docs: int = 2
) -> str:
    """DuckDB mirror of ``remove_duplicate_spans`` over a (doc_id, text)
    relation: same window fold, same covered-position anti join, same
    position-ordered reassembly."""
    return f"""
        WITH {_sql_span_cte(corpus_sql, k, min_docs, "cut")},
        {_sql_cut_tail("cut", k, "cut_dup")}
    """


def _sql_cut_tail(p: str, k: int, dup: str) -> str:
    """The ONE DuckDB cut/reassembly tail (mirrors ``_cut_rewrite``),
    parameterized on WHICH hash set flags a window (``{dup}``: the
    corpus-internal ``{p}_dup`` for span dedup, the holdout hash set for
    span decontamination).  Emits the trailing CTEs + final SELECT over
    an already-open WITH that defined ``{p}_w`` and ``{p}_wins``."""
    return f"""
        {p}_cov AS (
          SELECT DISTINCT w.doc_id, w.pos + u.d AS j
          FROM {p}_wins w, unnest(range(0, {k})) u(d)
          WHERE w.h IN (SELECT h FROM {dup})
        ),
        {p}_toks AS (
          SELECT w.doc_id, u.i AS j, w.tk[u.i + 1] AS tok
          FROM {p}_w w, unnest(range(0, len(w.tk))) u(i)
        ),
        {p}_kept AS (
          SELECT t.doc_id, t.j, t.tok FROM {p}_toks t
          ANTI JOIN {p}_cov c ON t.doc_id = c.doc_id AND t.j = c.j
        ),
        {p}_reasm AS (
          SELECT doc_id, count(*) AS n_kept,
                 string_agg(tok, ' ' ORDER BY j) AS text
          FROM {p}_kept GROUP BY doc_id
        )
        SELECT w.doc_id,
               CAST(len(w.tk) AS BIGINT) AS n_tokens,
               CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
               COALESCE(r.text, '') AS text
        FROM {p}_w w LEFT JOIN {p}_reasm r USING (doc_id)
    """

def resolve_duplicates(
    components: DataFrame,
    scores: DataFrame | None = None,
    id_col: str = "doc_id",
    component_col: str = "component_id",
    score_col: str = "score",
) -> DataFrame:
    """Survivor selection over near-duplicate clusters — the step after
    ``connected_components`` that turns "these documents are the same"
    into "keep THIS one": per component, the member with the highest
    ``score`` wins (quality score in practice — RefinedWeb/Gopher keep
    the best-quality copy, not an arbitrary one), ties and missing
    scores broken by smallest id (identical copies score identically,
    so the tie-break fires on every exact-dup cluster).  With
    ``scores=None`` the smallest id wins — the ``component_id`` itself,
    the CC canonical.

    Returns every component member as (id, component_id, survivor_id,
    kept 1/0): anti-join ``kept = 0`` ids against the corpus to drop
    the losers, or keep the full frame as the dedup audit map
    (who-was-merged-into-whom — the lineage record a training-data
    card wants).

    Scale shape: one left join of the component list against the
    (id, score) projection on the id key, one ``row_number`` window
    keyed on the component, one broadcast-or-shuffle join of the
    <= #components survivor list back.  Nothing is data-sized beyond
    the component list itself (pairs-participating docs only — at real
    dup rates a few percent of the corpus); the window's skew bound is
    the largest cluster, the same bound ``connected_components``
    already carries.  Reference: the reference engine has no dedup at
    all (SURVEY.md §7.3 extension); survivor policy follows RefinedWeb
    (Penedo et al., 2023) practice."""
    from pyspark.sql import Window

    if scores is None:
        out = components.withColumn("survivor_id", F.col(component_col))
    else:
        joined = components.join(
            scores.select(
                F.col(id_col), F.col(score_col).alias("_score")
            ),
            id_col,
            "left",
        )
        w = Window.partitionBy(component_col).orderBy(
            F.col("_score").desc_nulls_last(), F.col(id_col).asc()
        )
        surv = (
            joined.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select(F.col(component_col), F.col(id_col).alias("survivor_id"))
        )
        out = components.join(surv, component_col)
    return out.select(
        F.col(id_col),
        F.col(component_col),
        "survivor_id",
        (F.col(id_col) == F.col("survivor_id")).cast("int").alias("kept"),
    )


def duplicate_cluster_stats(
    components: DataFrame,
    id_col: str = "doc_id",
    component_col: str = "component_id",
) -> DataFrame:
    """Duplicate-cluster size histogram — the data-card row next to a
    dedup run ("48,210 pairs, 3,120 clusters of 2, 14 clusters over
    100"): for each cluster size, how many clusters have it.  Input is
    the ``connected_components`` output (duplicate-cluster members
    only); the histogram shape is what tells you whether duplication is
    long-tail boilerplate (many small clusters) or a few mega-templates
    (the skew that dominates removal savings and LSH bucket cost).

    Scale shape: two map-side-combinable aggregations — member rows
    collapse to #clusters rows, then to #distinct-sizes rows (bounded
    by the largest cluster, in practice < 10^4 distinct sizes at any
    corpus scale).  Returns (cluster_size, n_clusters), both BIGINT.
    """
    sizes = components.groupBy(component_col).agg(
        F.count(id_col).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .select(
            F.col("cluster_size").cast("long"),
            F.col("n_clusters").cast("long"),
        )
    )


def sql_duplicate_cluster_stats(components_sql: str) -> str:
    """DuckDB mirror of ``duplicate_cluster_stats`` over a
    (doc_id, component_id) relation."""
    return f"""
        WITH dcs_c AS ({components_sql}),
        dcs_sizes AS (
          SELECT component_id, COUNT(doc_id) AS cluster_size
          FROM dcs_c GROUP BY component_id
        )
        SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
               CAST(COUNT(*) AS BIGINT) AS n_clusters
        FROM dcs_sizes GROUP BY cluster_size
    """


def soft_dedup_weights(
    components: DataFrame,
    corpus: DataFrame | None = None,
    id_col: str = "doc_id",
    component_col: str = "component_id",
    round_to: int = 9,
) -> DataFrame:
    """Soft dedup: DOWN-WEIGHT near-duplicates instead of dropping them
    — every member of a duplicate cluster gets sampling weight
    ``1/|cluster|``, so the cluster contributes one document's worth of
    probability mass to the training mix while keeping its intra-cluster
    variation (paraphrases, format variants) available to the sampler.
    The soft alternative to :func:`resolve_duplicates`' hard survivor
    rule; the diminishing-returns-of-repeated-data argument is
    Muennighoff et al. 2023 ("Scaling Data-Constrained Language
    Models"), and frequency-proportional down-weighting is the natural
    continuous relaxation of the RefinedWeb keep-one policy.

    Input is the :func:`connected_components` output.  With ``corpus``
    supplied, documents in no cluster (never met a candidate pair) are
    appended at weight 1.0, making the output a COMPLETE per-document
    weight column to feed ``budget_sample``-style samplers or a
    weighted loss.  Weights are rounded to ``round_to`` dp (engine-
    portable division).

    Returns ``(id, cluster_size, weight)``.  Scale shape: one count
    aggregation over the component list (#clusters rows, AQE
    broadcast-or-shuffle joined back to members) plus, with ``corpus``,
    one anti-join on the id key — the component list holds only
    pair-participating docs, a few percent of the corpus at real dup
    rates, and the corpus side moves only its id column.
    """
    sizes = components.groupBy(component_col).agg(
        F.count(id_col).alias("cluster_size")
    )
    member = components.join(sizes, component_col).select(
        F.col(id_col),
        F.col("cluster_size").cast("long").alias("cluster_size"),
        F.round(F.lit(1.0) / F.col("cluster_size"), round_to).alias("weight"),
    )
    if corpus is None:
        return member
    singles = (
        corpus.select(F.col(id_col))
        .join(components.select(id_col), id_col, "left_anti")
        .select(
            F.col(id_col),
            F.lit(1).cast("long").alias("cluster_size"),
            F.lit(1.0).alias("weight"),
        )
    )
    return member.unionByName(singles)


def sql_soft_dedup_weights(
    components_sql: str,
    corpus_sql: str | None = None,
    round_to: int = 9,
) -> str:
    """DuckDB mirror of ``soft_dedup_weights`` over a
    (doc_id, component_id) relation (and optionally a corpus relation
    with a doc_id column for the weight-1.0 completion).  ``round_to``
    must match the operator's."""
    base = f"""
        WITH sdw_c AS ({components_sql}),
        sdw_sizes AS (
          SELECT component_id, COUNT(doc_id) AS cluster_size
          FROM sdw_c GROUP BY component_id
        ),
        sdw_m AS (
          -- CAST: a bare 1.0 is DECIMAL in DuckDB and the division
          -- would be decimal arithmetic, not Spark's DOUBLE
          SELECT c.doc_id, CAST(s.cluster_size AS BIGINT) AS cluster_size,
                 round(CAST(1.0 AS DOUBLE) / s.cluster_size, {round_to})
                   AS weight
          FROM sdw_c c JOIN sdw_sizes s USING (component_id)
        )
        SELECT * FROM sdw_m
    """
    if corpus_sql is None:
        return base
    return (
        base
        + f"""
        UNION ALL
        -- NOT EXISTS, not NOT IN: a NULL doc_id in either side would
        -- make NOT IN three-valued (row silently dropped) while
        -- Spark's left_anti keeps the NULL-keyed row
        SELECT k.doc_id, CAST(1 AS BIGINT) AS cluster_size,
               CAST(1.0 AS DOUBLE) AS weight
        FROM ({corpus_sql}) k
        WHERE NOT EXISTS (
          SELECT 1 FROM sdw_m m WHERE m.doc_id = k.doc_id
        )
    """
    )


def exact_dup_weights(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Soft-dedup weights from EXACT-duplicate clusters in one call:
    fingerprint the corpus, treat each fingerprint group as a component
    (min-id as the component id), and hand the components to
    :func:`soft_dedup_weights` with corpus completion — byte-identical
    copies split one document's probability mass, everything else
    weighs 1.0.  The cheap end of the soft-dedup spectrum (no shingles,
    no LSH) and the canonical input to
    ``curation.weighted_budget_sample``.

    NULL-text docs take no component (they complete at weight 1.0 —
    grouping them would falsely cluster every failed extraction).
    Returns ``(id, cluster_size, weight)`` covering every input row.

    The fingerprint frame fans out to its own group aggregation AND the
    member join, so it goes through ``barrier.call_barrier``: the O(doc)
    fold runs once, not once per reference (``curate_weighted_sample``
    at sf0.1, local[4], which wraps this call: 7.1-7.4 s without the
    barrier, 2.1-2.6 s with it)."""
    fps = call_barrier(
        docs.where(F.col(text_col).isNotNull()).select(
            F.col(id_col), X.fingerprint60(text_col).alias("_f")
        )
    )
    comp = fps.join(
        fps.groupBy("_f").agg(F.min(id_col).alias("component_id")), "_f"
    ).select(id_col, "component_id")
    return soft_dedup_weights(comp, docs.select(id_col), id_col=id_col)


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Snapshot diff by content fingerprint — the reproducibility audit
    between two versions of a corpus ("what changed since the crawl we
    trained on?"): every id present in either snapshot is classified
    ``added`` (new only), ``removed`` (old only), ``changed`` (both,
    fingerprint differs) or ``unchanged``.

    Scale shape: each side reduces to (id, 8-byte fingerprint60) before
    ONE full-outer id-keyed join — text never shuffles, and two parquet
    snapshot roots bucketed on the id co-partition the join away.  The
    fingerprint comparison is null-safe (a NULL-text document equals
    another NULL-text document), so NULL rows classify like any other.

    Returns (doc_id, status, old_fp, new_fp).
    """
    o = old.select(
        F.col(id_col).alias("doc_id"),
        X.fingerprint60(text_col).alias("old_fp"),
        F.lit(1).alias("_in_old"),
    )
    n = new.select(
        F.col(id_col).alias("doc_id"),
        X.fingerprint60(text_col).alias("new_fp"),
        F.lit(1).alias("_in_new"),
    )
    return o.join(n, "doc_id", "full_outer").select(
        "doc_id",
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(F.col("old_fp").eqNullSafe(F.col("new_fp")), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("status"),
        "old_fp",
        "new_fp",
    )


def sql_corpus_diff(old_sql: str, new_sql: str, text: str = "text") -> str:
    """DuckDB mirror of ``corpus_diff`` over two snapshot queries (each
    must produce ``doc_id`` and the text column)."""
    fp = X.sql_fingerprint60(text)
    return f"""
        WITH cd_old AS (
          SELECT doc_id, {fp} AS old_fp, 1 AS in_old FROM ({old_sql})
        ),
        cd_new AS (
          SELECT doc_id, {fp} AS new_fp, 1 AS in_new FROM ({new_sql})
        )
        SELECT doc_id,
               CASE WHEN in_old IS NULL THEN 'added'
                    WHEN in_new IS NULL THEN 'removed'
                    WHEN old_fp IS NOT DISTINCT FROM new_fp THEN 'unchanged'
                    ELSE 'changed' END AS status,
               old_fp, new_fp
        FROM cd_old FULL JOIN cd_new USING (doc_id)
    """


def leakage_safe_split(
    docs: DataFrame,
    components: DataFrame | None = None,
    val_fraction: float = 0.1,
    id_col: str = "doc_id",
    component_col: str = "component_id",
    seed: int = 0,
) -> DataFrame:
    """Group-aware train/validation split: every near-duplicate CLUSTER
    lands wholly on one side, so validation rows never have near-copies
    in training — the leakage bug a uniform random split commits on any
    deduplicated-but-not-fully corpus (Lee et al., ACL'22 measure the
    resulting eval inflation).  ``components`` is
    :func:`connected_components` output (or any (id, group) mapping,
    e.g. a domain key); documents absent from it are singleton groups
    keyed by their own id.

    Assignment is a deterministic hash threshold on the GROUP id
    (``curation.id_hash``, salted by ``seed``): reproducible across
    runs, zero coordination, and append-stable — a new crawl member of
    an existing cluster inherits the cluster's side, so the validation
    set never silently leaks as the corpus grows.  The val fraction is
    exact in expectation over groups (law of large numbers at corpus
    scale, same contract as ``stratified_sample``).

    Scale shape: one id-keyed left join of the corpus id projection
    against the component list (pairs-participating docs only — a few
    percent of the corpus at real dup rates), then a pure per-row hash
    filter.  Returns (doc_id, group_id, in_val 0/1).
    """
    from wpvectordb_spark.operators import curation as CU

    if not 0.0 <= float(val_fraction) <= 1.0:
        raise ValueError(
            f"leakage_safe_split: val_fraction={val_fraction} outside [0, 1]"
        )
    ids = docs.select(F.col(id_col).alias("doc_id"))
    if components is None:
        grouped = ids.withColumn("group_id", F.col("doc_id"))
    else:
        comp = components.select(
            F.col(id_col).alias("doc_id"),
            F.col(component_col).alias("_gid"),
        )
        grouped = ids.join(comp, "doc_id", "left").select(
            "doc_id", F.coalesce(F.col("_gid"), F.col("doc_id")).alias("group_id")
        )
    thr = int(float(val_fraction) * CU.HASH_RANGE)
    return grouped.select(
        "doc_id",
        "group_id",
        (CU.id_hash(F.col("group_id") + F.lit(int(seed))) < thr)
        .cast("int")
        .alias("in_val"),
    )


def sql_leakage_safe_split(
    docs_sql: str,
    components_sql: str | None = None,
    val_fraction: float = 0.1,
    seed: int = 0,
) -> str:
    """DuckDB mirror of ``leakage_safe_split`` (same Wang-hash rounds,
    same group-id salt).  ``docs_sql`` must produce ``doc_id``;
    ``components_sql`` (optional) ``doc_id, component_id``."""
    from wpvectordb_spark.operators.curation import HASH_RANGE, sql_id_hash

    if not 0.0 <= float(val_fraction) <= 1.0:
        raise ValueError(
            f"sql_leakage_safe_split: val_fraction={val_fraction} outside [0, 1]"
        )
    thr = int(float(val_fraction) * HASH_RANGE)
    if components_sql is None:
        grouped = f"SELECT doc_id, doc_id AS group_id FROM ({docs_sql})"
    else:
        grouped = f"""
          SELECT d.doc_id, COALESCE(c.component_id, d.doc_id) AS group_id
          FROM ({docs_sql}) d
          LEFT JOIN ({components_sql}) c USING (doc_id)
        """
    return f"""
        SELECT doc_id, group_id,
               CAST(CASE WHEN {sql_id_hash(f"(group_id + {int(seed)})")} < {thr}
                    THEN 1 ELSE 0 END AS INT) AS in_val
        FROM ({grouped})
    """
