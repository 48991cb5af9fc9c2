"""End-to-end composition test: the curation pipeline drops exact dups,
near-dups, low-quality docs, and contaminated docs, and emits a
deterministic packed/sharded manifest."""

from __future__ import annotations

from pyspark.sql import functions as F

from wpvectordb_spark.pipelines import curate_training_corpus
from tests.conftest import SF_DIR


def test_curate_training_corpus_end_to_end(spark):
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .where(F.col("doc_id") < 150)
        .select("doc_id", "lang", "text")
    )
    # plant an exact duplicate of doc 0 with a larger id
    dup = docs.where(F.col("doc_id") == 0).withColumn("doc_id", F.lit(90001))
    corpus = docs.unionByName(dup)
    # holdout = 10 real docs -> those exact docs must be decontaminated away
    holdout = docs.where(F.col("doc_id") < 10)
    out = curate_training_corpus(
        corpus,
        holdout=holdout,
        quality_quantile=0.25,
        near_dup_threshold=0.85,
        num_shards=4,
        seq_len=256,
    )
    rows = out.collect()
    assert rows
    assert set(out.columns) == {
        "doc_id", "lang", "n_tokens", "seq_start", "seq_end", "shard", "pos"
    }
    ids = {r["doc_id"] for r in rows}
    assert 90001 not in ids  # exact dup lost to the min-id winner
    assert ids.isdisjoint(set(range(10)))  # holdout copies decontaminated
    # per-shard positions are 1..n with no gaps (loader contract)
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    # quality gate actually dropped something beyond dedup/decontam
    assert len(ids) < corpus.count() - 11
    # deterministic end to end
    again = {tuple(r) for r in curate_training_corpus(
        corpus, holdout=holdout, quality_quantile=0.25,
        near_dup_threshold=0.85, num_shards=4, seq_len=256,
    ).collect()}
    assert again == {tuple(r) for r in rows}


def test_curate_training_corpus_dsir_stage(spark):
    """With a target distribution, the pipeline keeps exactly the
    requested count and skews the kept set toward the target."""
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .where(F.col("doc_id") < 300)
        .select("doc_id", "lang", "text")
    )
    target = docs.where(F.col("lang") == "en").select("doc_id", "text")
    out = curate_training_corpus(
        docs,
        dsir_target=target,
        dsir_keep=40,
        quality_quantile=0.0,
        near_dup_threshold=0.95,
        num_shards=4,
        seq_len=256,
    )
    rows = out.collect()
    assert len({r["doc_id"] for r in rows}) <= 40
    langs = [r["lang"] for r in rows]
    assert langs.count("en") / len(langs) > 0.6  # enrichment over 44% base


def test_driver_pipeline_arm_every_stage_drops(spark):
    """The curate_sample_pack 'pipeline' arm stays a REAL end-to-end
    exercise: every stage of the driver-arm configuration must actually
    drop documents at sf0.01.  (Testdata regenerations have silently
    vacuated corpus-dependent arms before — this pins each stage's
    effect, not just the final hash match.)"""
    import __spark_entry__ as entry
    from wpvectordb_spark.operators import curation as CU
    from wpvectordb_spark.operators import dedup as D
    from wpvectordb_spark.operators import text_analysis as TA
    from tests.conftest import SF_DIR

    docs = entry._pipe_corpus(spark, SF_DIR)
    n0 = docs.count()
    # stage 1: exact dedup must remove the 50 constructed copies
    k1 = docs.join(
        D.exact_dedup(docs).select("doc_id"), "doc_id", "left_semi"
    ).localCheckpoint()
    n1 = k1.count()
    assert n1 == n0 - 50
    # stage 2: near-dedup must find pairs among the remaining originals
    pairs = D.minhash_lsh_dedup_pairs(
        k1, threshold=entry.PIPE_NEAR_DUP_THRESHOLD, persist=False
    )
    dropped = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    k2 = k1.join(dropped, "doc_id", "left_anti").localCheckpoint()
    n2 = k2.count()
    assert n2 < n1
    # stage 3: the per-language quantile gate must cut every stratum
    scored = k2.withColumn("quality", TA.quality_score("text"))
    k3 = k2.join(
        CU.quality_quantile_filter(
            scored, quantile=entry.PIPE_QUALITY_QUANTILE
        ).select("doc_id"),
        "doc_id",
        "left_semi",
    ).localCheckpoint()
    n3 = k3.count()
    assert n3 < n2
    # stage 4: decontamination vs the doc_id<20 holdout must flag docs
    holdout = entry._docs(spark, SF_DIR).where(F.col("doc_id") < 20).select(
        "doc_id", "text"
    )
    flags = CU.decontaminate(
        k3, holdout, threshold=entry.PIPE_DECONTAM_SHINGLES
    )
    n_contaminated = flags.where(F.col("contaminated") == 1).count()
    assert n_contaminated > 0
    k4 = k3.join(
        flags.where(F.col("contaminated") == 0).select("doc_id"),
        "doc_id",
        "left_semi",
    ).localCheckpoint()
    n4 = k4.count()
    assert n4 == n3 - n_contaminated
    # stage 5: DSIR selection toward the en-language target must keep
    # EXACTLY PIPE_DSIR_KEEP docs — strictly fewer than the decontam
    # survivors, or the stage is vacuous at this SF
    target = entry._docs(spark, SF_DIR).where(F.col("lang") == "en").select(
        "doc_id", "text"
    )
    picked = CU.dsir_topk(k4, target, k=entry.PIPE_DSIR_KEEP, persist=False)
    k5 = k4.join(picked.select("doc_id"), "doc_id", "left_semi").localCheckpoint()
    n5 = k5.count()
    assert n5 == entry.PIPE_DSIR_KEEP < n4
    # stage 6: the budget mix must cut tokens (budgets are set below each
    # language's corpus total at sf0.01) and drop unbudgeted strata
    k6 = k5.join(
        CU.budget_sample(k5, entry.CURATE_BUDGETS).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    n6 = k6.count()
    assert 0 < n6 < n5
    assert k6.where(~F.col("lang").isin(*entry.CURATE_BUDGETS)).count() == 0


def test_curate_training_corpus_manifest_mode(spark, tmp_path):
    """manifest_dir= is the production/resumable form: identical results
    to the in-session mode, stage manifests on disk, and a rerun ADOPTS
    completed manifests instead of recomputing (proved by handing the
    rerun a corpus that would give a different answer — the adopted
    manifests win because no stage recomputes)."""
    import os

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .where(F.col("doc_id") < 150)
        .select("doc_id", "lang", "text")
    )
    dup = docs.where(F.col("doc_id") == 0).withColumn("doc_id", F.lit(90001))
    corpus = docs.unionByName(dup)
    holdout = docs.where(F.col("doc_id") < 10)
    kwargs = dict(
        holdout=holdout, quality_quantile=0.25, near_dup_threshold=0.85,
        num_shards=4, seq_len=256,
    )
    mdir = str(tmp_path / "manifests")
    out1 = {
        tuple(r)
        for r in curate_training_corpus(
            corpus, manifest_dir=mdir, **kwargs
        ).collect()
    }
    in_session = {
        tuple(r) for r in curate_training_corpus(corpus, **kwargs).collect()
    }
    assert out1 == in_session
    stages = sorted(d for d in os.listdir(mdir) if d.startswith("stage"))
    assert stages == [
        "stage01_exact_dedup", "stage02_near_dedup",
        "stage03_quality_gate", "stage04_decontaminate",
    ]
    # rerun with a corpus that would produce a DIFFERENT answer: adopted
    # manifests mean no stage recomputes, so the output is unchanged
    decoy = docs.where(F.col("doc_id") < 5)
    out2 = {
        tuple(r)
        for r in curate_training_corpus(
            decoy, manifest_dir=mdir, **kwargs
        ).collect()
    }
    assert out2 == out1
    # a changed configuration over the same directory is refused, not
    # silently blended with the old manifests
    import pytest as _pytest

    with _pytest.raises(ValueError, match="different"):
        curate_training_corpus(
            corpus, manifest_dir=mdir, holdout=holdout,
            quality_quantile=0.5, near_dup_threshold=0.85,
            num_shards=4, seq_len=256,
        )


def _as_uri(path: str) -> str:
    """The single-slash ``file:`` URI Hadoop and Spark print for a local
    path — manifests must behave identically under both spellings."""
    return "file:" + path


def _check_manifest_resume_mid_run(spark, tmp_path, to_path) -> None:
    """``to_path`` turns a local directory into the manifest_dir
    spelling under test; the crash is simulated on the local dir."""
    import os
    import shutil

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .where(F.col("doc_id") < 150)
        .select("doc_id", "lang", "text")
    )
    holdout = docs.where(F.col("doc_id") < 10)
    kwargs = dict(
        holdout=holdout, quality_quantile=0.25, near_dup_threshold=0.85,
        num_shards=4, seq_len=256,
    )
    mdir = str(tmp_path / "manifests")
    out1 = {
        tuple(r)
        for r in curate_training_corpus(
            docs, manifest_dir=to_path(mdir), **kwargs
        ).collect()
    }
    # simulate the crash: stage 4 never committed (partial, no _SUCCESS)
    shutil.rmtree(os.path.join(mdir, "stage04_decontaminate"))
    mtime_before = os.path.getmtime(
        os.path.join(mdir, "stage02_near_dedup", "_SUCCESS")
    )
    out2 = {
        tuple(r)
        for r in curate_training_corpus(
            docs, manifest_dir=to_path(mdir), **kwargs
        ).collect()
    }
    assert out2 == out1
    assert os.path.exists(os.path.join(mdir, "stage04_decontaminate", "_SUCCESS"))
    # the surviving prefix was adopted, not rewritten
    assert os.path.getmtime(
        os.path.join(mdir, "stage02_near_dedup", "_SUCCESS")
    ) == mtime_before


def test_curate_training_corpus_manifest_resume_mid_run(spark, tmp_path):
    """A run killed mid-pipeline resumes at the first incomplete stage:
    deleting a later stage's manifest (and the _SUCCESS of a partial one)
    recomputes exactly the missing suffix from the surviving prefix."""
    _check_manifest_resume_mid_run(spark, tmp_path, str)


def test_curate_training_corpus_manifest_resume_mid_run_file_uri(spark, tmp_path):
    _check_manifest_resume_mid_run(spark, tmp_path, _as_uri)


def test_curate_training_corpus_soft_dedup(spark):
    """soft_dedup=True keeps near-duplicates at 1/|cluster| weight
    instead of dropping them, fills budgets as fractional document mass,
    and the manifest gains the weight column (VERDICT round 9 item 1 —
    the round-9 capabilities composed into the production entry point)."""
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .where(F.col("doc_id") < 150)
        .select("doc_id", "lang", "text")
    )
    # plant a 3-member near-dup cluster: two tweaked copies of doc 3
    # (suffix tokens keep Jaccard high without exact-dup collapse);
    # transitive closure must see one cluster of 3 -> weight 1/3 each
    base = docs.where(F.col("doc_id") == 3)
    near = base.select(
        F.lit(90001).alias("doc_id"),
        "lang",
        F.concat(F.col("text"), F.lit(" v2")).alias("text"),
    ).unionByName(
        base.select(
            F.lit(90002).alias("doc_id"),
            "lang",
            F.concat(F.col("text"), F.lit(" v3")).alias("text"),
        )
    )
    corpus = docs.unionByName(near)
    budgets = {"en": 12.0, "de": 6.5, "fr": 6.0, "es": 6.0, "zh": 6.0}
    out = curate_training_corpus(
        corpus,
        budgets=budgets,
        quality_quantile=0.0,  # keep every doc: the cluster must survive
        near_dup_threshold=0.5,
        num_shards=4,
        seq_len=256,
        soft_dedup=True,
    )
    rows = out.collect()
    assert set(out.columns) == {
        "doc_id", "lang", "n_tokens", "seq_start", "seq_end", "shard",
        "pos", "weight",
    }
    w = {r["doc_id"]: r["weight"] for r in rows}
    # every weight in (0, 1]; the planted cluster members that survived
    # the mass budget carry the ORIGINAL 1/3 (weights are assigned
    # before budget mixing, so a member dropped by the sampler doesn't
    # inflate its siblings)
    assert all(0.0 < v <= 1.0 for v in w.values())
    cluster = [w[d] for d in (3, 90001, 90002) if d in w]
    assert cluster and all(abs(v - round(1 / 3, 9)) < 1e-12 for v in cluster)
    # per-stratum kept MASS never exceeds the budget
    mass: dict[str, float] = {}
    for r in rows:
        mass[r["lang"]] = mass.get(r["lang"], 0.0) + r["weight"]
    for lang, m in mass.items():
        assert m <= budgets[lang] + 1e-9, (lang, m)
    # at least one stratum's budget actually binds (en: 150-doc corpus,
    # budget 12 docs' mass)
    assert mass["en"] > budgets["en"] - 1.0
    # hard mode over the same corpus DROPS near-dup losers and has no
    # weight column
    hard = curate_training_corpus(
        corpus,
        quality_quantile=0.0,
        near_dup_threshold=0.5,
        num_shards=4,
        seq_len=256,
    )
    assert "weight" not in hard.columns
    hard_ids = {r["doc_id"] for r in hard.collect()}
    assert not {90001, 90002} <= hard_ids  # greedy min-id survivor rule
    # an input already carrying a weight column is refused, not shadowed
    import pytest as _pytest

    with _pytest.raises(ValueError, match="weight"):
        curate_training_corpus(
            corpus.withColumn("weight", F.lit(1.0)), soft_dedup=True
        )


def test_curate_training_corpus_soft_dedup_manifest_mode(spark, tmp_path):
    """Soft mode under manifest_dir: same results as in-session, the
    stage-2 manifest lands as stage02_soft_dedup (weight column
    included), and a rerun with soft_dedup flipped over the same
    directory is refused — adopted manifests must never silently mix
    drop-mode and weight-mode survivor sets."""
    import os

    import pytest as _pytest

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .where(F.col("doc_id") < 120)
        .select("doc_id", "lang", "text")
    )
    kwargs = dict(
        budgets={"en": 10.0, "de": 5.0, "fr": 5.0, "es": 5.0, "zh": 5.0},
        quality_quantile=0.25,
        near_dup_threshold=0.5,
        num_shards=4,
        seq_len=256,
        soft_dedup=True,
    )
    mdir = str(tmp_path / "soft_manifests")
    out1 = {
        tuple(r)
        for r in curate_training_corpus(
            docs, manifest_dir=mdir, **kwargs
        ).collect()
    }
    in_session = {
        tuple(r) for r in curate_training_corpus(docs, **kwargs).collect()
    }
    assert out1 == in_session
    stages = sorted(d for d in os.listdir(mdir) if d.startswith("stage"))
    assert stages == [
        "stage01_exact_dedup", "stage02_soft_dedup",
        "stage03_quality_gate", "stage04_budget_mix",
    ]
    stage2 = spark.read.parquet(os.path.join(mdir, "stage02_soft_dedup"))
    assert "weight" in stage2.columns
    # flipping soft_dedup over the same directory is refused
    with _pytest.raises(ValueError, match="different"):
        curate_training_corpus(
            docs, manifest_dir=mdir, **{**kwargs, "soft_dedup": False}
        )


def _check_params_accept_pre_soft_dedup_dirs(spark, tmp_path, to_path) -> None:
    import json
    import os

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .where(F.col("doc_id") < 60)
        .select("doc_id", "lang", "text")
    )
    kwargs = dict(quality_quantile=0.25, near_dup_threshold=0.5,
                  num_shards=4, seq_len=256)
    mdir = str(tmp_path / "legacy")
    out1 = {
        tuple(r)
        for r in curate_training_corpus(
            docs, manifest_dir=to_path(mdir), **kwargs
        ).collect()
    }
    # simulate the pre-upgrade sidecar, rewritten by hand: drop the
    # soft_dedup key
    pfile = os.path.join(mdir, "_params.json")
    params = json.loads(open(pfile).read())
    assert params.pop("soft_dedup") is False
    with open(pfile, "w") as fh:
        fh.write(json.dumps(params, sort_keys=True))
    out2 = {
        tuple(r)
        for r in curate_training_corpus(
            docs, manifest_dir=to_path(mdir), **kwargs
        ).collect()
    }
    assert out2 == out1  # adopted, not refused
    # but a soft_dedup=True rerun over the legacy dir still refuses
    import pytest as _pytest

    with _pytest.raises(ValueError, match="different"):
        curate_training_corpus(
            docs, manifest_dir=to_path(mdir), soft_dedup=True, **kwargs
        )


def test_manifest_params_accept_pre_soft_dedup_dirs(spark, tmp_path):
    """A manifest dir written BEFORE the soft_dedup parameter existed
    (its _params.json lacks the key) must still resume under the same
    configuration — parameter-surface upgrades must not force full
    recomputes (code-review round 10)."""
    _check_params_accept_pre_soft_dedup_dirs(spark, tmp_path, str)


def test_manifest_params_accept_pre_soft_dedup_dirs_file_uri(spark, tmp_path):
    _check_params_accept_pre_soft_dedup_dirs(spark, tmp_path, _as_uri)


def test_manifest_params_corrupted_file_refuses_loudly(spark, tmp_path):
    """A truncated/corrupted _params.json must raise the explanatory
    ValueError (with the raw contents in the message), not a bare
    JSONDecodeError (ADVICE round 10) — under either path spelling."""
    import os

    import pytest as _pytest

    from wpvectordb_spark.pipelines import _guard_manifest_params

    mdir = str(tmp_path / "corrupt")
    os.makedirs(mdir)
    with open(os.path.join(mdir, "_params.json"), "w") as fh:
        fh.write('{"quality_quantile": 0.2')  # truncated write
    for spelling in (mdir, _as_uri(mdir)):
        with _pytest.raises(ValueError, match="unreadable"):
            _guard_manifest_params(spark, spelling, {"quality_quantile": 0.25})
