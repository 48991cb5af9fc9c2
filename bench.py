#!/usr/bin/env python3
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

The FINAL stdout line is ONE compact JSON object: {"metric", "value"
(total seconds), "unit", "queries" (per-query seconds), "sf", "window",
"canary_best", ...} — kept under ~1.8 KB because the driver captures
only the last ~2,000 chars of stdout (round 8's 5.4 KB line with raw
attempts embedded truncated the minima out of BENCH_r08.json).  Full
per-pass detail (every raw attempt, the extras minima, canary pairs)
is emitted as a SEPARATE earlier stdout line {"artifact":
"bench_attempts", ...} and mirrored to a bench_attempts.json sidecar
next to this file, so nothing is hidden.  Each query
materializes fully through the noop datasource sink (every output
column forced — count() lets Catalyst prune computed columns and is
not a benchmark; "forcing": "noop_write" in the JSON marks the round-7
semantics change) so the measured time covers the whole plan execution.

Per-query numbers within one pass are MEDIANS of $SPARK_GRAFT_BENCH_RUNS
runs (default 3): identical-plan queries on this host vary by several
seconds run-to-run (PERFORMANCE.md documents 1.7 -> 5.9 s on one plan),
and round 2 spent a manual re-run adjudicating six phantom "regressions"
that were all host noise.

The artifact is SELF-CORRECTING, not merely self-flagging (round 8): a
fixed pure-CPU canary runs before and after every full key-set pass; if
the pair drifts more than CANARY_DRIFT_MAX (15%) — the signature of
roaming host co-tenancy the loadavg gate cannot see (PERFORMANCE.md
items 58-59) — the ENTIRE key set re-runs, up to
$SPARK_GRAFT_BENCH_ATTEMPTS passes (default 3).  The headline
"queries"/"extras" are per-key MINIMA across passes (items 58-59
measured per-key minima as the statistic that is stable across noisy
windows while one-shot totals swung 24.6 -> 41.2 s on identical code);
every raw pass ships under "attempts" on the detail line; at least
$SPARK_GRAFT_BENCH_MIN_ATTEMPTS passes (default 2) run even when the
canary holds, because contention ROAMS between keys within
stable-canary windows and only min-across-passes removes it.  "window"
is quiet only when BOTH the pre-launch 1-min and 5-min loadavg were
< 1 AND some pass held a stable canary AND the canary's best ABSOLUTE
time sits on its quiet floor ($SPARK_GRAFT_BENCH_CANARY_QUIET, default
0.5 s — round 11: loadavg cannot see cgroup/VM neighbors; a
steady-but-slow canary pair is a contaminated window that drift alone
cannot flag).

$SPARK_GRAFT_BENCH_QUIET_WAIT=<seconds> additionally GATES the launch:
poll up to that long for both loadavg readings to drop under 1 before
starting, then proceed regardless with the honest label — gives the
artifact of record the best chance of being the quiet one
("quiet_wait_sec" records the actual wait).  The DEFAULT is
load-conditional (round-10 verdict item 5): 0 when BOTH the pre-launch
1-min and 5-min loadavg are already quiet (< 1), 180 s of bounded
polling when either is not (a calm 1-min with a decaying 5-min average
is exactly the residual-load case the wait exists for) — so an
unattended launch into a busy window waits for quiet without anyone
setting an env var, while quiet launches never stall.  Set the env var
to override either way (0 disables).

$SPARK_GRAFT_BENCH_KEYS=<comma list> restricts the run to the named
headline/extras keys (unknown names raise) — the targeted-measurement
mode ab_bench.py uses for interleaved same-window A/Bs.  UNSET for any
artifact of record: a filtered run's totals are not comparable and the
final line marks itself "keys_filtered": true.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
ATTEMPTS_MAX = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_ATTEMPTS", "3")))
# At least 2 passes by default even when the canary holds: item 59's
# sweep showed contention ROAMS between keys within stable-canary
# windows, so single-pass medians still carry per-key inflation that
# min-across-passes removes.  1 restores the old stop-on-first-stable.
ATTEMPTS_MIN = max(
    1, int(os.environ.get("SPARK_GRAFT_BENCH_MIN_ATTEMPTS", "2"))
)
CANARY_DRIFT_MAX = 0.15
# retry budget: don't START another pass if one wouldn't fit — a bench
# that outlives its caller's timeout records nothing at all.  900 s
# fits setup + two sf0.1 passes (~9 min measured) with headroom under
# any plausible caller timeout; raise it for deliberate long sweeps.
BUDGET_SEC = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_SEC", "900"))
# Optional key filter for TARGETED measurement runs (ab_bench.py's
# interleaved A/Bs re-measure 1-3 keys per JVM; a full 48-key pass per
# alternation would make same-window pairs impossible).  Unset = the
# full frozen key set — the only artifact-of-record configuration.
_keys_env = os.environ.get("SPARK_GRAFT_BENCH_KEYS", "").strip()
KEYS_FILTER: set[str] | None = (
    {k.strip() for k in _keys_env.split(",") if k.strip()}
    if _keys_env
    else None
)


def _want(name: str) -> bool:
    return KEYS_FILTER is None or name in KEYS_FILTER


def main() -> None:
    # budget clock starts at process start — the shared setup (JVM
    # launch, warmups, index builds) counts against the caller's
    # timeout just like the passes do
    t_start = time.monotonic()
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from wpvectordb_spark.operators import search as S
    from wpvectordb_spark.session import get_spark

    # Optional bounded wait-for-quiet (round-9 verdict item 6): three
    # rounds running, every DRIVER-committed artifact launched into a
    # contaminated window while quiet judge/builder runs existed — the
    # bench only ever MEASURED the window it got.  With
    # SPARK_GRAFT_BENCH_QUIET_WAIT=<seconds> set, poll until BOTH the
    # 1-min and 5-min loadavg drop under 1 (the quiet-window rule
    # below), then proceed; on timeout proceed anyway with the honest
    # label.  The wait burns budget-clock time deliberately (a
    # stalled-then-killed bench records nothing, so BUDGET_SEC still
    # governs).
    # Default is LOAD-CONDITIONAL (round-10 verdict item 5): rounds 7-10
    # shipped only contaminated driver artifacts because the gate was
    # opt-in and the driver never opted in.  When the pre-launch 1-min
    # loadavg is already < 1 the default stays 0 (interactive runs never
    # stall); when it is >= 1 the default becomes 180 s of bounded
    # polling.  The env var still overrides in both directions (0
    # disables entirely).
    # (both averages gate the default, matching the quiet rule below —
    # a decaying 5-min average with a calm 1-min reading is exactly the
    # residual-load case the rule exists for)
    _la0 = os.getloadavg()
    _quiet_default = "180" if (_la0[0] >= 1.0 or _la0[1] >= 1.0) else "0"
    quiet_wait = float(
        os.environ.get("SPARK_GRAFT_BENCH_QUIET_WAIT", _quiet_default)
    )
    waited_for_quiet = 0.0
    while waited_for_quiet < quiet_wait:
        la = os.getloadavg()  # one read per poll: both averages from
        # the same instant
        if la[0] < 1.0 and la[1] < 1.0:
            break
        tick = min(5.0, quiet_wait - waited_for_quiet)  # never overshoot
        # the configured budget by a partial tick
        time.sleep(tick)
        waited_for_quiet += tick
    if waited_for_quiet:
        print(
            f"# waited {waited_for_quiet:.0f}s of {quiet_wait:.0f}s for a "
            f"quiet window (loadavg now {[round(x, 2) for x in os.getloadavg()]})",
            file=sys.stderr,
        )
    # Capture load BEFORE the JVM launches: the end-of-run loadavg is
    # self-inflated by the benchmark itself, so it cannot adjudicate
    # whether the window was quiet.  Rounds 5 and 6 both shipped
    # artifacts ~50% above quiet-window truth because the recorded
    # number couldn't prove contamination (PERFORMANCE.md items 47/49).
    # BOTH the 1-min AND 5-min averages must be quiet (item 58's
    # sharpened rule): a decaying 5-min average means the early keys
    # still run against residual co-tenant load even when the 1-min
    # reading has already dropped under 1 (observed: prelaunch
    # [0.37, 4.73, 7.11] produced a stable-canary pass with half the
    # keys 1.5-2.3x over their documented floors).
    loadavg_prelaunch = [round(x, 2) for x in os.getloadavg()]
    prelaunch_quiet = (
        loadavg_prelaunch[0] < 1.0 and loadavg_prelaunch[1] < 1.0
    )
    if not prelaunch_quiet:
        print(
            f"# WARNING: pre-launch loadavg {loadavg_prelaunch} not quiet "
            "(need 1-min AND 5-min < 1) — numbers not comparable across "
            "rounds",
            file=sys.stderr,
        )

    spark = get_spark("wpvectordb-bench")
    # Codegen mode: the Spark default (FALLBACK, whole-stage codegen with
    # interpreted fallback).  Round 2 measured interpreted mode faster and
    # pinned NO_CODEGEN — but that measurement was dominated by COLD
    # Janino compiles on single-shot plans.  With per-key warm runs and
    # medians (identical plan text -> codegen cache hit on re-runs), the
    # production default ties or wins on 21 of 23 keys (rel_* and window
    # keys by 1.4-1.7x; only dedup_simhash/search_two_phase are ~5% better
    # interpreted — noise range).  Re-measured 2026-08-14; see
    # PERFORMANCE.md item 29.
    spark.conf.set(
        "spark.sql.codegen.factoryMode",
        os.environ.get("SPARK_GRAFT_CODEGEN", "FALLBACK"),
    )

    # Frozen headline set (same keys every round for clean BENCH_rN diffs).
    # Keys map to the single-operator callables directly — the driver
    # registry (entry.queries()) merges some of them into tagged unions,
    # but the bench surface stays key-stable.
    qmap = {
        "search_two_phase": entry._q_search_two_phase,
        "search_brute_force": entry._q_search_brute_force,
        "ann_ivf": entry._q_ann_ivf,
        "index_build": entry._q_index_build,
        "dedup_exact": entry._q_dedup_exact,
        "dedup_minhash_lsh": entry._q_dedup_minhash_lsh,
        "dedup_simhash": entry._q_dedup_simhash,
        "dedup_embedding_cosine": entry._q_dedup_embedding_cosine,
        "text_analyze": entry._q_text_analyze,
        "events_tumbling": entry._q_events_tumbling,
        "events_sessionize": entry._q_events_sessionize,
        "events_user_activity": entry._q_events_user_activity,
        "rel_pricing_summary": entry._q_rel_pricing_summary,
        "rel_top_customers": entry._q_rel_top_customers,
        "rel_revenue_by_nation": entry._q_rel_revenue_by_nation,
        "queue_claim_state": entry._q_queue_claim_state,
        "stream_tumbling": entry._q_stream_tumbling,
        "multimodal_features": entry._q_multimodal_features,
        "ann_lsh": entry._q_ann_lsh,
        "text_fingerprint": entry._q_text_fingerprint,
        "curate_pack_sequences": entry._q_curate_pack_sequences,
    }
    headline = [k for k in qmap if _want(k)]

    # warm the JVM/codegen once with a trivial action, and the Python
    # worker pool with a trivial mapInPandas (so the first Pandas-UDF
    # query measures the operator, not 32 interpreter forks + imports)
    spark.read.parquet(os.path.join(SF_DIR, "region.parquet")).count()
    warm = spark.range(64).repartition(32)
    warm.mapInPandas(lambda it: it, "id long").count()
    # ... and the interpreted HOF expression evaluators: C2 compilation of
    # the fold/zip_with paths costs several seconds the first time they
    # run (measured 6.8 s cold -> 1.7 s warm for the same MinHash pipeline
    # at sf0.1).  A 200-doc pass through the two near-dup pipelines warms
    # those paths so the timed queries measure operator throughput, not
    # JIT state.  On a long-running cluster this state is always warm.
    from wpvectordb_spark.operators import dedup as _D

    _tiny = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).limit(200)
    _D.minhash_lsh_dedup_pairs(_tiny, threshold=0.5).count()
    _D.simhash_near_dup_pairs(_tiny, max_hamming=3).count()
    spark.catalog.clearCache()

    def canary() -> float:
        """Fixed pure-CPU reference job (shuffle + agg over generated
        rows, no IO, no Python): its wall time depends ONLY on host
        conditions, so the pre/post pair quantifies contention the
        loadavg gate cannot see — one session measured identical code at
        24.6 and 41.2 s total with BOTH pre-launch averages < 1
        (PERFORMANCE.md items 58-59); roaming host co-tenancy was
        visible only as per-key spread.  A drifting pair now RE-RUNS
        the key set instead of just flagging the artifact."""
        t0 = time.monotonic()
        (
            spark.range(0, 50_000_000, 1, 32)
            .selectExpr("id % 97 AS k", "id * 2654435761 % 1000003 AS v")
            .groupBy("k")
            .agg({"v": "sum"})
            .write.format("noop").mode("overwrite").save()
        )
        return round(time.monotonic() - t0, 3)

    canary()  # warm the canary's own plan once

    def force(df) -> None:
        """Materialize EVERY output column JVM-side (noop datasource).
        count() is NOT a benchmark: Catalyst prunes computed columns and
        unused aggregate expressions a count doesn't need — measured
        text_analyze 0.44 s pruned vs 1.54 s real, rel_pricing_summary
        0.40 vs 0.97 at sf0.1; the other 18 headline keys are equal or
        ~0.1 s CHEAPER under noop (no second counting agg).  Rounds 1-6
        used count(); see PERFORMANCE.md item 52 for the per-key bridge."""
        df.write.format("noop").mode("overwrite").save()

    def timed(fn) -> float:
        """Median wall time of RUNS full materializations (fresh plan each
        run — the query callables rebuild their lineage, so no cache
        reuse inflates the later runs)."""
        samples = []
        for _ in range(RUNS):
            t0 = time.monotonic()
            fn()
            samples.append(time.monotonic() - t0)
        return round(statistics.median(samples), 3)

    # ---- shared (attempt-invariant) setup: query frames, persisted
    # indexes, codebooks, the ingest drop.  Build cost is excluded from
    # every serving key by design, so sharing across passes is sound. ---
    from wpvectordb_spark.operators import curation as CU
    from wpvectordb_spark.operators import dedup as D
    from wpvectordb_spark.operators import events as EV
    from wpvectordb_spark.operators import maintenance as MA
    from wpvectordb_spark.operators import multimodal as MM
    from wpvectordb_spark.operators import similarity as SIM
    from wpvectordb_spark.operators import text_analysis as TA
    from wpvectordb_spark.sources.loaders import ingest_documents, load_events

    import shutil
    import tempfile

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    vectors = emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    qs = emb.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
        "doc_id", "text", "lang"
    )
    events = load_events(spark, SF_DIR)

    # product-quantization serving: zero-shuffle ADC scan over the STORED
    # 8-entry codes + exact rerank (the 32x-memory-shrink scan path).
    # Codebook + encode are index-build-time costs, excluded like the IVF
    # index build; localCheckpoint materializes the codes once.
    # (Every shared-setup block below is skipped when a KEYS_FILTER run
    # requests none of its consumer keys — setup is untimed, but A/B
    # alternations pay its wall clock per JVM.)
    pq_cb = pq_codes = None
    if _want("ann_pq_serve") or _want("ann_pq_batch_50"):
        pq_cb = SIM._collect_codebooks(
            SIM.pq_codebooks(emb, dim=entry.PQ_DIM, m=entry.PQ_M, n_codes=entry.PQ_CODES),
            entry.PQ_M,
        )
        pq_codes = SIM._pq_encode_from_cb(
            emb, pq_cb, entry.PQ_DIM, entry.PQ_M, "vec_id", "embedding"
        ).localCheckpoint()
    ivf_dir = ivfpq_dir = ivfpqres_dir = ingest_root = None
    if _want("ann_ivf_batch_50"):
        ivf_dir = tempfile.mkdtemp(prefix="bench_ivf_")
        SIM.build_ivf_index(emb, ivf_dir, n_clusters=16)
    if _want("ann_ivfpq") or _want("ann_ivfpq_batch_50"):
        ivfpq_dir = tempfile.mkdtemp(prefix="bench_ivfpq_")
        SIM.build_ivfpq_index(
            emb, ivfpq_dir, dim=entry.PQ_DIM,
            n_clusters=16, m=entry.PQ_M, n_codes=entry.PQ_CODES,
        )
    if _want("ann_ivfpq_res"):
        ivfpqres_dir = tempfile.mkdtemp(prefix="bench_ivfpqres_")
        SIM.build_ivfpq_index(
            emb, ivfpqres_dir, dim=entry.PQ_DIM,
            n_clusters=16, m=entry.PQ_M, n_codes=entry.PQ_CODES, residual=True,
        )
    # raw-corpus ingestion: the JSONL drop is pre-written once (setup
    # excluded, like the index builds); timed = splittable text scan +
    # full-schema from_json parse + quarantine split, both frames forced
    if _want("ingest_jsonl"):
        ingest_root = tempfile.mkdtemp(prefix="bench_ingest_")
        spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).write.mode(
            "overwrite"
        ).json(os.path.join(ingest_root, "drop"))
    # epoch expansion: ~2.6x budgets over per-lang counts (computed once
    # outside the timed region — the budgets are the operator's INPUT)
    _eb_budgets = {}
    if _want("epoch_expand"):
        _eb_counts = {
            r["lang"]: r["cnt"]
            for r in docs.where(F.col("lang").isNotNull())
            .groupBy("lang").agg(F.count("*").alias("cnt")).collect()
        }
        _eb_budgets = {k: int(v * 2.6) for k, v in _eb_counts.items()}
    maint_root = tempfile.mkdtemp(prefix="bench_maint_")

    def _wsample_weighted():
        """Soft-dedup weights from exact-duplicate clusters joined with
        lang — the weighted sampler's input, rebuilt per timed run so
        the whole wiring is measured (weights are part of the
        operator's cost story, unlike the excluded index builds).  The
        same dedup.exact_dup_weights call the entry arm verifies (its
        internal fingerprint barrier is the measured 7.4 -> ~2 s fix)."""
        return D.exact_dup_weights(docs).join(
            docs.select("doc_id", "lang"), "doc_id"
        )

    def _ingest() -> None:
        good, quar = ingest_documents(
            spark, os.path.join(ingest_root, "drop"), format="jsonl"
        )
        force(good)
        force(quar)

    def run_pass(attempt: int) -> tuple[dict[str, float], dict[str, float]]:
        """One full key-set pass: headline keys, then extras, all as
        RUNS-medians.  Per-attempt setup (the fragmented OPTIMIZE inputs
        each rewrite run consumes) happens here, OUTSIDE the timers."""
        timings: dict[str, float] = {}
        for name in headline:
            timings[name] = timed(lambda: force(qmap[name](spark, SF_DIR)))
            print(
                f"# [{attempt}] {name}: {timings[name]}s (median of {RUNS})",
                file=sys.stderr,
            )

        # batch search: 50 query vectors against the whole table in one
        # plan — the Spark-native generalization (not in queries(): no
        # single-query oracle)
        if _want("search_batch_50"):
            timings["search_batch_50"] = timed(
                lambda: force(S.search_many(vectors, qs, n=5, code_col=None, mag_col=None))
            )
        # Arrow/numpy cosine fast path vs the Catalyst expression form
        if _want("search_brute_force_arrow"):
            timings["search_brute_force_arrow"] = timed(
                lambda: force(SIM.brute_force_topk_arrow(emb, qv, n=10))
            )

        # table maintenance: the OPTIMIZE rewrite itself — a deliberately
        # fragmented events copy (32 writer files, shuffled order)
        # bin-packed and Z-order clustered on (user_id, value).  One
        # pre-written fragmented input per run so the timer sees only the
        # rewrite (the clustered read-side payoff is test-asserted via
        # footer stats, not timed here).
        _maint_dirs = []
        if _want("maint_compact_zorder"):
            for i in range(RUNS):
                d = os.path.join(maint_root, f"a{attempt}_t{i}")
                (
                    spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
                    .orderBy(F.xxhash64("event_id"))
                    .repartition(32)
                    .write.mode("overwrite").parquet(d)
                )
                _maint_dirs.append(d)
        _maint_iter = iter(_maint_dirs)

        # --- extras: round-3+ operators, PRINTED but NOT part of the
        # frozen headline total (BENCH_rN "value"/"queries" diff cleanly
        # across rounds; extras give newer operators bench visibility) ---
        extra_map = {
            "dedup_span_cut": lambda: force(D.remove_duplicate_spans(
                docs.select("doc_id", "text"), k=8, min_docs=2
            )),
            # persist=False: dsir's internal feature cache would otherwise
            # be CacheManager-deduped across the median runs — runs 2..N
            # would measure warm-cache scans, not the operator
            "curate_dsir": lambda: force(CU.dsir_topk(
                docs.select("doc_id", "text"),
                docs.where(F.col("lang") == "en").select("doc_id", "text"),
                k=100,
                persist=False,
            )),
            "events_retention_cohorts": lambda: force(EV.retention_cohorts(events)),
            "events_sequence_funnel": lambda: force(EV.sequence_funnel(
                events, ["view", "click", "purchase"]
            )),
            "multimodal_resize": lambda: force(MM.resize_media(
                MM.media_from_documents(
                    spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
                ),
                64,
                64,
                resizer=MM.fake_resizer,
            )),
            "curate_pipeline": lambda: force(entry._pipeline_manifest(spark, SF_DIR)),
            # corpus quality profile: two narrow aggregation passes to
            # #strata rows — the daily "know your data" monitor pass.
            # force(), NOT count(): count() of an Aggregate lets Catalyst
            # prune the unused metric expressions, so round 6's 0.47 s
            # measured only the group-count shuffle, not the per-doc
            # feature computation (the actual cost; round-7 scale sweep)
            "corpus_profile": lambda: force(TA.corpus_profile(
                spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
            )),
            "ann_pq_serve": lambda: force(SIM.pq_topk(
                emb, qv, dim=entry.PQ_DIM, m=entry.PQ_M, n_codes=entry.PQ_CODES,
                n=10, codebooks=pq_cb, encoded=pq_codes,
            )),
            # batched PQ serving: the same 50-query frame as
            # ann_ivf_batch_50 through ONE zero-shuffle ADC plan
            "ann_pq_batch_50": lambda: force(SIM.pq_topk_many(
                emb, qs, dim=entry.PQ_DIM, m=entry.PQ_M, n_codes=entry.PQ_CODES,
                n=10, codebooks=pq_cb, encoded=pq_codes,
            )),
            # batched IVF serving: 50 queries through ONE partition-pruned
            # plan against a persisted index (build cost excluded — it's
            # the serving path being measured; index_build covers
            # construction)
            "ann_ivf_batch_50": lambda: force(SIM.ivf_topk_many(
                spark, qs, path=ivf_dir, k=10, n_probe=4
            )),
            # IVFPQ serving: probe-pruned partitions + code-ADC + exact
            # rerank against the combined persisted index
            "ann_ivfpq": lambda: force(SIM.ivfpq_topk(
                spark, ivfpq_dir, qv, dim=entry.PQ_DIM, m=entry.PQ_M,
                k=10, n_probe=4
            )),
            "ann_ivfpq_batch_50": lambda: force(SIM.ivfpq_topk_many(
                spark, ivfpq_dir, qs, dim=entry.PQ_DIM, m=entry.PQ_M,
                k=10, n_probe=4
            )),
            # residual IVFPQ serving (codes over v - centroid,
            # per-probed-cluster query tables)
            "ann_ivfpq_res": lambda: force(SIM.ivfpq_topk(
                spark, ivfpqres_dir, qv, dim=entry.PQ_DIM, m=entry.PQ_M,
                k=10, n_probe=4
            )),
            "maint_compact_zorder": lambda: MA.compact_table(
                spark,
                next(_maint_iter),
                target_file_bytes=1 << 19,
                zorder_by=["user_id", "value"],
            )["after"]["n_files"],
            "ingest_jsonl": _ingest,
            # C4 line/page cleaning rules: pure per-row projection
            "c4_page_filter": lambda: force(CU.c4_page_filter(
                spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
            )),
            # span-level decontamination: the ExactSubstr fold over the
            # corpus side + broadcast holdout hash set + the cut rewrite
            "decontaminate_spans": lambda: force(CU.decontaminate_spans(
                docs.where(F.col("doc_id") >= 20).select("doc_id", "text"),
                docs.where(F.col("doc_id") < 20).select("doc_id", "text"),
                k=4,
            )),
            "epoch_expand": lambda: force(
                CU.expand_budgets(docs.select("doc_id", "lang"), _eb_budgets)
            ),
            # chunk->document mean pooling (vec_id div 5 = synthetic doc)
            "pool_embeddings": lambda: force(SIM.pool_embeddings(
                emb.select(
                    (F.col("vec_id") / 5).cast("long").alias("doc_id"),
                    F.col("vec_id").alias("chunk_id"),
                    "embedding",
                )
            )),
            # round-9 operators: CCNet-normalized fuzzy-exact dedup
            # (three narrow string ops fused into the fingerprint
            # projection), the densified anomaly monitor (calendar
            # spine + trailing frame window), and the weighted mass
            # sampler end-to-end from exact-dup cluster weights
            "dedup_normalized": lambda: force(D.normalized_exact_dedup(
                docs.select("doc_id", "text")
            )),
            "events_anomaly_dense": lambda: force(
                EV.windowed_anomaly_scores(events, densify=True)
            ),
            # round 10: portable-HLL daily distinct rollup (registers +
            # estimate — the shuffle carries <= #groups x 1024 register
            # rows, never events)
            "events_hll_rollup": lambda: force(
                EV.approx_distinct_rollup(events)
            ),
            "events_hdr_quantiles": lambda: force(
                EV.hdr_quantiles(
                    EV.hdr_histogram(events, ["event_type"]), ["event_type"]
                )
            ),
            "curate_weighted_sample": lambda: force(
                CU.weighted_budget_sample(
                    _wsample_weighted(), entry.WSAMPLE_BUDGETS
                )
            ),
            # round 10: the soft-dedup composition of the pipeline
            # (weights instead of near-dup drops, mass budgets instead
            # of token budgets) — measured next to curate_pipeline so
            # the weight plumbing's overhead is directly readable
            "curate_pipeline_soft": lambda: force(
                entry._softpipe_manifest(spark, SF_DIR)
            ),
        }
        if KEYS_FILTER is not None:
            unknown = KEYS_FILTER - (
                set(qmap)
                | {"search_batch_50", "search_brute_force_arrow"}
                | set(extra_map)
            )
            if unknown:
                raise ValueError(
                    f"SPARK_GRAFT_BENCH_KEYS names unknown keys: {sorted(unknown)}"
                )
            extra_map = {k: v for k, v in extra_map.items() if _want(k)}
        extras: dict[str, float] = {}
        for name, fn in extra_map.items():
            extras[name] = timed(fn)
            print(
                f"# [{attempt}] extra {name}: {extras[name]}s (median of {RUNS})",
                file=sys.stderr,
            )
        return timings, extras

    # ---- canary-gated passes: re-run the whole key set while the
    # canary pair drifts (roaming co-tenancy), up to ATTEMPTS_MAX ------
    attempts: list[dict] = []
    try:
        for a in range(ATTEMPTS_MAX):
            if attempts and (
                time.monotonic() - t_start + 1.2 * attempts[-1]["wall_sec"]
                > BUDGET_SEC
            ):
                print(
                    f"# retry budget exhausted — keeping {len(attempts)} "
                    "pass(es)",
                    file=sys.stderr,
                )
                break
            load_pre = [round(x, 2) for x in os.getloadavg()]
            t_pass = time.monotonic()
            c_pre = canary()
            timings, extras = run_pass(a)
            c_post = canary()
            drift = round(abs(c_post - c_pre) / max(min(c_pre, c_post), 1e-9), 3)
            stable = drift <= CANARY_DRIFT_MAX
            attempts.append(
                {
                    "queries": timings,
                    "extras": extras,
                    "canary_sec": [c_pre, c_post],
                    "canary_drift": drift,
                    "stable": stable,
                    "loadavg_at_start": load_pre,
                    "wall_sec": round(time.monotonic() - t_pass, 3),
                }
            )
            print(
                f"# attempt {a}: canary {c_pre} -> {c_post} "
                f"(drift {drift:.1%}, {'stable' if stable else 'DRIFTING'})",
                file=sys.stderr,
            )
            if stable and len(attempts) >= ATTEMPTS_MIN:
                break
            if a + 1 < ATTEMPTS_MAX and not stable:
                print(
                    "# canary pair drifted past "
                    f"{CANARY_DRIFT_MAX:.0%} — re-running the full key set",
                    file=sys.stderr,
                )
    finally:
        for d in (ivf_dir, ivfpq_dir, ivfpqres_dir, maint_root, ingest_root):
            if d is not None:
                shutil.rmtree(d, ignore_errors=True)

    # headline statistic: per-key MINIMA across passes — items 58-59's
    # five-window sweep showed minima sit on the per-key floors while
    # medians/totals absorb whichever keys the co-tenant happened to
    # land on.  At least ATTEMPTS_MIN passes contribute (a stable
    # canary alone doesn't short-circuit: contention roams WITHIN
    # stable windows), so the headline is a min over >= 2 passes
    # unless the budget truncated the run (then window=contaminated).
    timings = {
        k: min(att["queries"][k] for att in attempts)
        for k in attempts[0]["queries"]
    }
    extras = {
        k: min(att["extras"][k] for att in attempts)
        for k in attempts[0]["extras"]
    }
    any_stable = any(att["stable"] for att in attempts)
    # quiet ALSO requires the pass minimum: a budget-truncated single
    # stable pass is exactly the roaming-contention configuration the
    # minima exist to strip (item 64) — don't label it comparable
    min_attempts_met = len(attempts) >= min(ATTEMPTS_MIN, ATTEMPTS_MAX)
    canary_best = min(c for att in attempts for c in att["canary_sec"])
    # ... and the canary's ABSOLUTE level must sit on its documented
    # floor (round 11): loadavg is blind to cgroup/VM NEIGHBORS — one
    # run this round launched at loadavg [0.13, 0.31] with a stable
    # 13.8%-drift pass and still measured every key ~40-60% over its
    # floor, visible ONLY as canary_best 0.588 vs the 0.36-0.45 quiet
    # floor (PERFORMANCE.md).  The pure-CPU canary's wall time on a
    # quiet 32-core host of this class is ~0.36-0.45 s; above
    # $SPARK_GRAFT_BENCH_CANARY_QUIET (default 0.5) the window is
    # labeled contaminated no matter what loadavg said.  Labeling only —
    # timings, keys, and aggregation are unchanged.
    canary_quiet_max = float(
        os.environ.get("SPARK_GRAFT_BENCH_CANARY_QUIET", "0.5")
    )
    window = (
        "quiet"
        if prelaunch_quiet
        and any_stable
        and min_attempts_met
        and canary_best <= canary_quiet_max
        else "contaminated"
    )

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    total = round(sum(timings.values()), 3)
    # Self-describing run context: round 4's 16.0s-vs-20.0s adjudication
    # had to be reconstructed from PERFORMANCE.md — the numbers should
    # carry their own measurement conditions.
    try:
        import subprocess

        git_sha = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            capture_output=True,
            text=True,
            cwd=os.path.dirname(os.path.abspath(__file__)),
            timeout=10,
        ).stdout.strip() or None
    except Exception:
        git_sha = None
    # The driver captures only the LAST ~2,000 chars of stdout, so the
    # FINAL line must stay compact (round 8's 5.4 KB line with attempts
    # embedded truncated the minima out of BENCH_r08.json — parsed:null).
    # Full per-pass detail goes to an EARLIER stdout line plus a sidecar
    # file; the last line carries only the headline minima + window
    # labels (~1.3 KB for 23 keys).
    detail = {
        "artifact": "bench_attempts",
        "extras": extras,
        "attempts": attempts,
        "median_of": RUNS,
        "aggregation": "min_across_attempts_of_per_key_medians",
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "canary_sec": attempts[-1]["canary_sec"],
        "codegen_mode": spark.conf.get("spark.sql.codegen.factoryMode"),
        "forcing": "noop_write",
    }
    print(json.dumps(detail))
    try:
        sidecar = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "bench_attempts.json"
        )
        with open(sidecar, "w") as f:
            json.dump(detail, f, indent=1)
    except Exception as exc:  # sidecar is best-effort; stdout line is canonical
        print(f"# sidecar write failed: {exc}", file=sys.stderr)
    final = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "extras_total_sec": round(sum(extras.values()), 3),
        "sf": float(sf),
        "n_attempts": len(attempts),
        "min_attempts_met": min_attempts_met,
        "quiet_wait_sec": round(waited_for_quiet),
        "loadavg_prelaunch": loadavg_prelaunch,
        "window": window,
        "canary_best": canary_best,
        # the SESSION's core count, not the machine's: the driver benches
        # at reduced core counts (local[$SPARK_GRAFT_CPUS]) to measure
        # scaling, and round 11's 8-core artifact internally claimed
        # "cpus": 32 because this recorded os.cpu_count() (verdict item 2)
        "cpus": (
            int(os.environ["SPARK_GRAFT_CPUS"])
            if os.environ.get("SPARK_GRAFT_CPUS", "").isdigit()
            else os.cpu_count()
        ),
        "git_sha": git_sha,
    }
    if KEYS_FILTER is not None:
        final["keys_filtered"] = True
    # never let the canonical line outgrow the driver's ~2,000-char tail
    # capture (round 8's failure mode): shed optional fields first, then
    # coarsen the per-key precision (3dp -> 2dp costs nothing a minima
    # comparison needs), and if it STILL doesn't fit, scream on stderr —
    # a visible warning beats a silently truncated artifact
    line = json.dumps(final)
    for victim in (
        "extras_total_sec",
        "quiet_wait_sec",
        "loadavg_prelaunch",
        "min_attempts_met",
    ):
        if len(line) <= 1800:
            break
        final.pop(victim, None)
        line = json.dumps(final)
    if len(line) > 1800:
        final["queries"] = {k: round(v, 2) for k, v in final["queries"].items()}
        line = json.dumps(final)
    if len(line) > 1800:
        print(
            f"# WARNING: final JSON line is {len(line)} chars and may be "
            "truncated by the driver's tail capture — shrink the headline "
            "key set or key names",
            file=sys.stderr,
        )
    print(line)


if __name__ == "__main__":
    main()
