#!/usr/bin/env python3
"""Capture .explain("formatted") for the bench surface into
plans/r11/<query>_<tag>.txt (tag = before/after, argv[1]).

Query callables rebuild their lineage per call, so the captured plan is
exactly what bench.py times.  The two curate_pipeline extras are
excluded: their stages execute eagerly at call time (localCheckpoint
barriers), so "the plan" is a truncated leaf — their evidence is the
staged timing attribution in OPTIMIZATION_r11.md instead.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, "/root/repo")

TAG = sys.argv[1] if len(sys.argv) > 1 else "before"
OUT = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from wpvectordb_spark.operators import search as S
    from wpvectordb_spark.operators import similarity as SIM
    from wpvectordb_spark.operators import text_analysis as TA
    from wpvectordb_spark.operators import events as EV
    from wpvectordb_spark.operators import dedup as D
    from wpvectordb_spark.operators import curation as CU
    from wpvectordb_spark.session import get_spark

    spark = get_spark("plan-capture")

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
    from wpvectordb_spark.sources.loaders import load_events

    events = load_events(spark, SF_DIR)

    qmap = {
        "search_two_phase": lambda: entry._q_search_two_phase(spark, SF_DIR),
        "search_brute_force": lambda: entry._q_search_brute_force(spark, SF_DIR),
        "ann_ivf": lambda: entry._q_ann_ivf(spark, SF_DIR),
        "index_build": lambda: entry._q_index_build(spark, SF_DIR),
        "dedup_exact": lambda: entry._q_dedup_exact(spark, SF_DIR),
        "dedup_minhash_lsh": lambda: entry._q_dedup_minhash_lsh(spark, SF_DIR),
        "dedup_simhash": lambda: entry._q_dedup_simhash(spark, SF_DIR),
        "dedup_embedding_cosine": lambda: entry._q_dedup_embedding_cosine(spark, SF_DIR),
        "text_analyze": lambda: entry._q_text_analyze(spark, SF_DIR),
        "events_tumbling": lambda: entry._q_events_tumbling(spark, SF_DIR),
        "events_sessionize": lambda: entry._q_events_sessionize(spark, SF_DIR),
        "events_user_activity": lambda: entry._q_events_user_activity(spark, SF_DIR),
        "rel_pricing_summary": lambda: entry._q_rel_pricing_summary(spark, SF_DIR),
        "rel_top_customers": lambda: entry._q_rel_top_customers(spark, SF_DIR),
        "rel_revenue_by_nation": lambda: entry._q_rel_revenue_by_nation(spark, SF_DIR),
        "queue_claim_state": lambda: entry._q_queue_claim_state(spark, SF_DIR),
        "multimodal_features": lambda: entry._q_multimodal_features(spark, SF_DIR),
        "ann_lsh": lambda: entry._q_ann_lsh(spark, SF_DIR),
        "text_fingerprint": lambda: entry._q_text_fingerprint(spark, SF_DIR),
        "curate_pack_sequences": lambda: entry._q_curate_pack_sequences(spark, SF_DIR),
        "search_batch_50": lambda: S.search_many(
            vectors, qs, n=5, code_col=None, mag_col=None
        ),
        "search_brute_force_arrow": lambda: SIM.brute_force_topk_arrow(
            emb, qv, n=10
        ),
        # expensive extras worth plan records
        "corpus_profile": lambda: TA.corpus_profile(
            spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        ),
        "dedup_span_cut": lambda: D.remove_duplicate_spans(
            docs.select("doc_id", "text"), k=8, min_docs=2
        ),
        "decontaminate_spans": lambda: CU.decontaminate_spans(
            docs.where(F.col("doc_id") >= 20).select("doc_id", "text"),
            docs.where(F.col("doc_id") < 20).select("doc_id", "text"),
            k=4,
        ),
        "curate_dsir": lambda: CU.dsir_topk(
            docs.select("doc_id", "text"),
            docs.where(F.col("lang") == "en").select("doc_id", "text"),
            k=100,
            persist=False,
        ),
        "dedup_normalized": lambda: D.normalized_exact_dedup(
            docs.select("doc_id", "text")
        ),
        "events_hll_rollup": lambda: EV.approx_distinct_rollup(events),
        "curate_weighted_sample": lambda: CU.weighted_budget_sample(
            D.exact_dup_weights(docs).join(
                docs.select("doc_id", "lang"), "doc_id"
            ),
            entry.WSAMPLE_BUDGETS,
        ),
    }
    # stream_tumbling: plan is the micro-batch engine's, not capturable
    # via explain on the returned static frame — timing evidence only.
    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
    for name, fn in qmap.items():
        if only is not None and name not in only:
            continue
        try:
            df = fn()
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # capture what we can, note the rest
            txt = f"<explain failed: {exc}>"
        with open(os.path.join(OUT, f"{name}_{TAG}.txt"), "w") as fh:
            fh.write(txt)
        print(f"captured {name}_{TAG}.txt")


if __name__ == "__main__":
    main()
