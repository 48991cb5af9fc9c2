"""End-to-end training-data curation: the engine's operators composed
into the standard corpus pipeline, as one lazy DataFrame program.

Order follows production practice (CCNet / Gopher / RefinedWeb
pipelines): exact dedup first (cheapest, biggest volume win), then
near-dedup, then the per-document quality gates, then corpus-level
mixing, and finally the training-layout passes (packing + sharding).
Every stage is one of the engine's tested operators — this module only
composes; it adds no new semantics.  All survivor rules are
deterministic (min-id / seeded-hash), so the whole pipeline is
re-runnable and backfill-stable end to end.

At 100 TB each stage keeps its documented scale shape (docs/SCALE.md).
Composition adds a materialization barrier after EVERY filter stage, not
just at the fan-out points: each stage consumes its input more than once
(the pair generator AND the survivor semi/anti-join both reference the
previous survivor set; Spark does not deduplicate common subtrees across
joins), so an unbarriered chain re-evaluates earlier stages
MULTIPLICATIVELY — ~3x per stage compounds to two orders of magnitude
over five stages (measured: 470 s -> ~10 s at sf0.01 when the per-stage
barriers landed).  Every barrier is an EAGER ``localCheckpoint`` — it
both dedupes the multi-scans and truncates the logical plan, and the
truncation matters as much as the dedup: with full lineage preserved
(lazy ``persist()``) Catalyst re-analyzes every earlier stage's plan per
consumer and the DRIVER becomes the bottleneck once wide expression
trees (DSIR's hashed n-grams) join the chain (measured: 27 s -> ~7 s at
sf0.01 when the barriers switched to localCheckpoint).  Stage blocks are
GC'd with their frames, so nothing accumulates for the session;
``persist=True`` additionally registers the FINAL survivor set in the
cache manager so long-lived callers keep an explicit ``.unpersist()``
handle for the downstream fan-out.
``manifest_dir=`` is the production form of the same checkpoints: each
survivor set lands as a parquet manifest and reruns resume from the
last completed stage (the in-session barriers are the ephemeral form).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wpvectordb_spark import fsutil
from wpvectordb_spark.operators import curation as CU
from wpvectordb_spark.operators import dedup as D
from wpvectordb_spark.operators import text_analysis as TA


def _guard_manifest_params(
    spark: SparkSession, manifest_dir: str, params: dict
) -> None:
    """Pin the stage-affecting parameters of a manifest directory: a
    rerun with different parameters would ADOPT manifests computed under
    the old configuration and silently emit a mixed-config corpus — the
    exact class of quiet wrongness the loud-refusal guards elsewhere in
    the package exist to prevent.  First run writes ``_params.json``;
    later runs must match it byte-for-byte (sorted-key JSON)."""
    blob = json.dumps(params, sort_keys=True)
    path = os.path.join(manifest_dir, "_params.json")
    existing = fsutil.read_text(spark, path)
    if existing is not None:
        # compare as dicts with defaults for keys ADDED since the dir
        # was written: a pre-soft-dedup manifest dir was implicitly
        # written under soft_dedup=False, and refusing it on a
        # byte-compare would force a full recompute after every
        # parameter-surface upgrade (only additions with a backward-
        # equivalent default may be listed here)
        try:
            old = json.loads(existing)
            if not isinstance(old, dict):
                # valid-but-non-object JSON ('null', '[]', '"x"') parses
                # fine and would crash at old.setdefault with a bare
                # AttributeError (ADVICE round 11) — same refusal path
                raise ValueError("non-object params JSON")
        except ValueError:
            # corrupted/truncated params file: raise the SAME explanatory
            # refusal the mismatch path produces (with the raw contents),
            # not a bare JSONDecodeError (ADVICE round 10)
            raise ValueError(
                f"manifest_dir {manifest_dir!r} has an unreadable "
                f"_params.json ({existing!r}) — it cannot be proven to "
                f"match this call's parameters ({blob}); reruns must use "
                "the original configuration, or a fresh manifest_dir"
            )
        for key, legacy_default in (("soft_dedup", False),):
            old.setdefault(key, legacy_default)
        if old != params:
            raise ValueError(
                f"manifest_dir {manifest_dir!r} was written with different "
                f"parameters ({existing}) than this call ({blob}) — reruns "
                "must use the original configuration, or a fresh "
                "manifest_dir"
            )
        return
    fsutil.write_text(spark, path, blob)


def curate_training_corpus(
    docs: DataFrame,
    holdout: DataFrame | None = None,
    budgets: dict[str, int] | None = None,
    quality_quantile: float = 0.25,
    near_dup_threshold: float = 0.85,
    decontam_shingles: int = 5,
    dsir_target: DataFrame | None = None,
    dsir_keep: int = 1000,
    seq_len: int = 2048,
    num_shards: int = 64,
    seed: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
    stratum_col: str = "lang",
    soft_dedup: bool = False,
    persist: bool = True,
    manifest_dir: str | None = None,
) -> DataFrame:
    """documents -> packed, sharded training corpus in one composed plan.

    Stages (each optional input skips its stage):

    1. exact dedup — keep the min-id document per content fingerprint;
    2. MinHash near-dedup — drop every doc with a >= threshold Jaccard
       near-duplicate of smaller id (greedy min-id survivors, the same
       rule ``semantic_dedup`` uses);
    3. quality gate — drop each stratum's worst ``quality_quantile`` by
       the composite quality score;
    4. decontamination — drop docs sharing >= ``decontam_shingles``
       shingles with the ``holdout`` eval set;
    5. DSIR selection — keep the ``dsir_keep`` docs whose hashed-n-gram
       distribution best matches ``dsir_target`` (runs on the cleaned
       pool, as in the paper's setup);
    6. token-budget domain mixing over ``budgets``;
    7. sequence packing + deterministic shuffle-sharding.

    Returns (id, stratum, n_tokens, seq_start, seq_end, shard, pos) —
    the manifest a training loader consumes.

    ``soft_dedup=True`` is the Muennighoff-style DOWN-WEIGHT variant of
    stage 2 (Scaling Data-Constrained LMs, 2023 — repeated data has
    diminishing returns, so a duplicate cluster should contribute one
    document's worth of sampling mass, not zero): instead of dropping
    near-duplicates, the SAME MinHash pair generation feeds
    ``connected_components`` -> ``soft_dedup_weights``, every document
    survives with a ``weight`` column (1/|cluster| for near-dup cluster
    members, 1.0 for singletons), and the weight rides the id
    semi-joins through the quality / decontamination / DSIR stages
    (those stages judge each document on its own text, so a duplicate's
    copies pass or fail together and the surviving cluster mass stays
    <= 1 doc).  Stage 6 then fills ``budgets`` as FRACTIONAL DOCUMENT
    MASS through ``curation.weighted_budget_sample`` (a 4-member
    cluster costs ~one document while all four variants stay eligible)
    instead of ``budget_sample``'s token budgets — so in soft mode the
    ``budgets`` values are documents' worth of probability mass, not
    token counts.  The returned manifest gains the ``weight`` column
    (feed it to a weighted loss or a downstream sampler).  Input docs
    must not already carry a ``weight`` column (refused — the stage
    would silently shadow it).

    In-session, every stage barrier is an EAGER ``localCheckpoint``
    (see ``_stage`` for why plan truncation, not just scan dedup, is
    what the barrier must buy); intermediate blocks die with their
    frames, so neither mode accumulates session state.  ``persist=True``
    additionally registers the final survivor set in the cache manager,
    giving long-lived callers an explicit ``.unpersist()`` handle for
    the downstream fan-out; ``persist=False`` skips that — the one-shot
    mode for driver arms, bench, and many-corpora sessions.  The trade
    either way: the filter chain executes at CALL time (one job per
    stage), and a lost executor invalidates checkpoint blocks (rerun
    the call) — the standard localCheckpoint contract.

    ``manifest_dir`` is the PRODUCTION form of the same barriers: each
    stage's survivor set is written to parquet under the directory
    (``stage01_exact_dedup`` ... ``stage06_budget_mix``) instead of
    cached, and a RERUN over the same directory ADOPTS every completed
    stage manifest — the stage's computation (and everything upstream
    of it) is skipped entirely, so a run killed at stage 4 resumes at
    stage 4, and the packed output can be regenerated from the final
    manifest without re-running any filter.  Completion is the parquet
    ``_SUCCESS`` marker (a killed mid-write leaves no marker; the rerun
    overwrites the partial dir).  ``_params.json`` pins the
    stage-affecting parameters — a rerun with different parameters over
    the same directory is REFUSED, since adopted manifests would
    silently reflect the old configuration (the input ``docs`` frame
    itself is the caller's half of that contract: one manifest_dir per
    (corpus, config) run).  ``persist`` is ignored in this mode — there
    are no session caches to manage, and results are identical to both
    in-session modes (test-asserted).  ``manifest_dir`` may be a local
    path or any Hadoop URI (completion checks and ``_params.json`` go
    through ``fsutil``); at 100 TB the same layout maps 1:1 onto
    Delta/Iceberg tables with the job-level idempotence handled by the
    table format.
    """
    spark = docs.sparkSession
    if soft_dedup and "weight" in docs.columns:
        raise ValueError(
            "curate_training_corpus(soft_dedup=True): input already has a "
            "'weight' column — the soft-dedup stage would shadow it; "
            "rename or drop it first"
        )
    stage_no = [0]
    if manifest_dir is not None:
        _guard_manifest_params(
            spark,
            manifest_dir,
            {
                "quality_quantile": quality_quantile,
                "near_dup_threshold": near_dup_threshold,
                "soft_dedup": soft_dedup,
                "decontam_shingles": decontam_shingles,
                "dsir_keep": dsir_keep if dsir_target is not None else None,
                "budgets": budgets,
                "has_holdout": holdout is not None,
                "has_dsir_target": dsir_target is not None,
                "id_col": id_col,
                "text_col": text_col,
                "stratum_col": stratum_col,
            },
        )

    def _stage(name: str, compute) -> DataFrame:
        """Barrier after every stage that the NEXT stage consumes more
        than once (see module docstring): without it each stage
        re-evaluates its whole upstream chain per reference and the cost
        compounds multiplicatively.  In-session the barrier is an EAGER
        ``localCheckpoint``, which does two jobs at once: dedupes the
        downstream multi-scans AND truncates the logical plan.  The
        truncation is load-bearing, not hygiene — a lazy ``persist()``
        keeps the full lineage, so every stage's plan embeds every
        earlier stage's plan and Catalyst re-analyzes the whole prefix
        per consumer; with DSIR's wide hashed-n-gram expression trees in
        the chain that driver-side cost went superlinear (measured at
        sf0.01: 27 s warm with lazy persists, 66 s with eagerly-counted
        persists — the count adds yet another optimizer pass per prefix
        — vs ~7 s with localCheckpoint barriers, identical rows).  In
        manifest mode the barrier is a durable parquet write (inherently
        eager AND lineage-truncating), and an already-committed manifest
        is adopted WITHOUT invoking ``compute`` — that skip is what
        makes reruns resume."""
        stage_no[0] += 1
        if manifest_dir is None:
            return compute().localCheckpoint(eager=True)
        path = os.path.join(manifest_dir, f"stage{stage_no[0]:02d}_{name}")
        if not fsutil.exists(spark, os.path.join(path, "_SUCCESS")):
            compute().write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    kept = docs
    # 1. exact dedup
    def _exact(k: DataFrame) -> DataFrame:
        winners = D.exact_dedup(k, id_col=id_col, text_col=text_col).select(id_col)
        return k.join(winners, id_col, "left_semi")

    kept = _stage("exact_dedup", lambda k=kept: _exact(k))
    # 2. near-dedup (greedy min-id survivors).  The shingle index is
    # computed ONCE behind its own barrier and handed to the pair
    # pipeline precomputed (minhash's internal persist is then off: its
    # three consumers read the barrier, so one-shot mode leaves no
    # shingle cache AND never re-tokenizes — re-hashing the whole corpus
    # per consumer is real money at 100 TB).
    def _near_dup_pairs(k: DataFrame) -> DataFrame:
        # call-scoped barrier: blocks are GC'd with the frame once the
        # stage barrier (or manifest write) has consumed the pairs
        sh = D.shingle_sets(
            k.select(id_col, text_col), id_col=id_col, text_col=text_col
        ).localCheckpoint(eager=True)
        return D.minhash_lsh_dedup_pairs(
            sh,
            threshold=near_dup_threshold,
            id_col=id_col,
            text_col=text_col,
            persist=False,
        )

    def _near_dedup(k: DataFrame) -> DataFrame:
        dropped = _near_dup_pairs(k).select(
            F.col("id_b").alias(id_col)
        ).distinct()
        return k.join(dropped, id_col, "left_anti")

    def _soft_dedup(k: DataFrame) -> DataFrame:
        # the SAME pair generation, resolved to weights instead of
        # drops: transitive closure -> 1/|cluster| per member, corpus
        # completion puts every other doc at weight 1.0, and the inner
        # id join (weights cover every input id exactly once) attaches
        # the column the later stages carry through their semi-joins.
        comp = D.connected_components(_near_dup_pairs(k))
        weights = D.soft_dedup_weights(comp, k.select(id_col), id_col=id_col)
        return k.join(weights.select(id_col, "weight"), id_col)

    kept = _stage(
        "soft_dedup" if soft_dedup else "near_dedup",
        lambda k=kept: _soft_dedup(k) if soft_dedup else _near_dedup(k),
    )
    # 3. per-stratum quality gate (the filter projects survivors' ids;
    # semi-join them back so text flows on to the later stages)
    def _quality_ids(k: DataFrame) -> DataFrame:
        scored = k.withColumn("quality", TA.quality_score(text_col))
        return CU.quality_quantile_filter(
            scored, quantile=quality_quantile, stratum_col=stratum_col, id_col=id_col
        ).select(id_col)

    def _clean_ids(k: DataFrame) -> DataFrame:
        flags = CU.decontaminate(
            k, holdout, threshold=decontam_shingles, id_col=id_col, text_col=text_col
        )
        return flags.where(F.col("contaminated") == 0).select(id_col)

    if manifest_dir is None and holdout is not None:
        # 3+4 FUSED behind one in-session barrier (round 12): the
        # quality gate's quantile is computed over the SAME input pool
        # either way, and decontamination judges each document against
        # the holdout alone — the two survivor sets commute, so
        # k ⋉ good ⋉ clean equals the sequential result row-for-row
        # while paying ONE stage barrier (one full-corpus
        # materialization + one scheduling round) instead of two.  The
        # trade: the decontamination fold runs over the pre-quality
        # pool, ~1/(1-quantile) more rows — bounded, and cheaper than
        # materializing an extra full-text checkpoint at any scale.
        # Manifest mode keeps the two separate stage manifests below:
        # resume/adoption semantics are a durability contract, and the
        # sequential form is what the stage layout pins.
        kept = _stage(
            "quality_gate",
            lambda k=kept: k.join(_quality_ids(k), id_col, "left_semi").join(
                _clean_ids(k), id_col, "left_semi"
            ),
        )
        stage_no[0] += 1  # keep downstream stage numbering identical
    else:
        kept = _stage(
            "quality_gate",
            lambda k=kept: k.join(_quality_ids(k), id_col, "left_semi"),
        )
        # 4. decontamination
        if holdout is not None:
            kept = _stage(
                "decontaminate",
                lambda k=kept: k.join(_clean_ids(k), id_col, "left_semi"),
            )
    # 5. DSIR selection toward the target distribution
    if dsir_target is not None:
        def _dsir(k: DataFrame) -> DataFrame:
            picked = CU.dsir_topk(
                k,
                dsir_target,
                k=dsir_keep,
                id_col=id_col,
                text_col=text_col,
                persist=False,  # k is a barrier: the 2x feature re-explode is
                # bounded, and dsir's internal cache has no release handle here
            ).select(id_col)
            return k.join(picked, id_col, "left_semi")

        kept = _stage("dsir_select", lambda k=kept: _dsir(k))
    # 6. budget mixing: token budgets via the hash-threshold sampler, or
    # (soft mode) fractional document-mass budgets via the weighted
    # sampler consuming the stage-2 weights
    if budgets is not None:
        def _budget(k: DataFrame) -> DataFrame:
            if soft_dedup:
                picked = CU.weighted_budget_sample(
                    k.select(id_col, stratum_col, "weight"),
                    budgets,
                    stratum_col=stratum_col,
                    id_col=id_col,
                )
            else:
                picked = CU.budget_sample(
                    k, budgets, stratum_col=stratum_col, id_col=id_col,
                    text_col=text_col,
                )
            return k.join(picked.select(id_col), id_col, "left_semi")

        kept = _stage("budget_mix", lambda k=kept: _budget(k))
    # Final survivor set: the last stage barrier already materialized
    # and lineage-truncated it, and intermediate stage blocks are GC'd
    # with their frames — nothing accumulates for the session either
    # way.  persist=True additionally registers the final set in the
    # cache manager so the caller keeps an explicit handle
    # (.unpersist()) for long-lived downstream fan-out, the documented
    # contract; persist=False leaves it as the call-scoped checkpoint.
    # Manifest mode has nothing to manage: kept is a durable parquet
    # read, already barriered.
    if manifest_dir is None and persist:
        kept = kept.persist()
        kept.count()
    # 7. packing + sharding
    packed = CU.pack_sequences(
        kept,
        seq_len=seq_len,
        stratum_col=stratum_col,
        id_col=id_col,
        text_col=text_col,
        persist=False,  # kept is already a barrier: the double scan is cheap,
        # and pack's internal cache would have no release handle here
    )
    shards = CU.shuffle_shard(kept, num_shards=num_shards, seed=seed, id_col=id_col)
    out = packed.join(shards, id_col)
    if soft_dedup:
        # the training loader's weighted-loss / sampler column: joined
        # from the final survivor set, so it reflects the ORIGINAL
        # cluster sizes (a cluster whose other members were filtered
        # keeps its down-weight — its mass never exceeds one doc's)
        out = out.join(kept.select(id_col, "weight"), id_col)
    return out
