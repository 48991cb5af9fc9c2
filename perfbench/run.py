"""Benchmark entry point.

    python3 perfbench/run.py --workload vectors|corpus \
        --seed N --seconds S --trace 0|1

Run from the repository root.  One Python process with one local Spark
session (``local[<cores>]``) drives the package through its public
functions on inputs generated from ``--seed``.  After set-up and an
untimed warm-up round it runs whole rounds of the workload until
``--seconds`` have passed, checks every output against references
computed apart from the program, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics instead and writes the spans to
``.perfbench/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import functools
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness as H  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "write_s": "s",
    "read_s": "s",
    "recall": "ratio",
}

LAYER_CALLS = (
    "table_ops.derive",
    "similarity.build_ivf_index",
    "search.search_many",
    "similarity.ivf_topk_many",
    "dedup.shingle_sets",
    "dedup.minhash_signatures",
    "dedup.lsh_candidate_pairs",
    "dedup.minhash_lsh_dedup_pairs",
    "text_analysis.analyze",
    "curation.decontaminate",
    "curation.dsir_topk",
    "curation.pack_sequences",
    "pipelines.curate_training_corpus",
    "table.VectorTableQueue.get_next_batch",
    "table.VectorTable.insert_all",
    "table.VectorTableQueue.update_status",
    "table.VectorTable.compact",
    "table.VectorTable.search",
)
LAYER_EXTRA = {
    "session.get_spark.wall_s": "s",
    "dedup.lsh_candidate_pairs.pairs": "count",
    "dedup.minhash_lsh_dedup_pairs.pairs": "count",
    "dedup.verify_yield": "ratio",
    "search.search_many.recall_at_10": "ratio",
    "similarity.ivf_topk_many.recall_at_10": "ratio",
    "similarity.ivf_topk_many.rows_scanned_per_query": "rows",
    "table.VectorTable.insert_all.bytes_written_per_row": "bytes",
    "table.VectorTable.compact.bytes_per_row": "bytes",
}
QUANTITY_UNITS = {"wall_s": "s", "jobs": "count", "tasks": "count",
                  "executor_cpu_s": "s", "shuffle_bytes": "bytes"}


def per_layer_units() -> dict[str, str]:
    units = {f"{c}.{q}": u for c in LAYER_CALLS for q, u in QUANTITY_UNITS.items()}
    units.update(LAYER_EXTRA)
    return units


def workload_parts(name: str) -> list:
    """The parts a workload's rounds run, in order.  A part is built from
    the ``Run`` and has ``generate()`` (inputs from the seed), ``load()``
    (write them where the program reads them; repeated in set-up),
    ``references()`` (optional: what its checks compare against),
    ``warm_up()`` and ``round(k) -> Round``."""
    if name == "vectors":
        from vectors import BatchVectors
        from worker import WorkerTraffic
        return [BatchVectors, WorkerTraffic]
    from corpus import Curation
    return [Curation]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("vectors", "corpus"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if importlib.util.find_spec("pyspark") is None or not os.path.isdir(
            os.path.join(H.ROOT, "wpvectordb_spark")):
        print("perfbench: run from a checkout of the repository (wpvectordb_spark/ "
              "and pyspark must be importable)", file=sys.stderr)
        return 2
    sys.path.insert(0, H.ROOT)

    run_dir = H.fresh_dir(os.path.join(H.WORK, f"run-{os.getpid()}"))
    H.configure_environment(run_dir)
    run = H.Run(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    try:
        with H.RssSampler() as rss:
            result = measure(run, workload_parts(args.workload))
    finally:
        stop_jvm(run)
        shutil.rmtree(run_dir, ignore_errors=True)
    result["metrics"]["peak_rss_mb"] = rss.peak_bytes / 2**20
    print(f"perfbench: peak RSS by process (MB) {rss.peak_by_process}", file=sys.stderr)
    if args.trace:
        trace_path = os.path.join(H.WORK, f"trace-{args.workload}-{args.seed}.json")
        run.write_trace(trace_path)
        print(f"perfbench: spans in {trace_path}; tracing bookkeeping "
              f"{run.trace_overhead_s:.3f} s", file=sys.stderr)
        units = per_layer_units()
        metrics = run.layer_metrics(list(units))
    else:
        units = END_TO_END
        metrics = result["metrics"]
    print(json.dumps({
        "correct": not run.mismatches,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


SETUP_REPEATS = 3


def stop_jvm(run: H.Run) -> None:
    """Stop the session, then the JVM it ran in, and wait for it to end
    (the Python workers end with it)."""
    if run.spark is None:
        return
    from pyspark import SparkContext

    run.spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(run: H.Run, part_classes: list) -> dict:
    """Set-up, one untimed warm-up round, then whole rounds until the
    run's seconds are spent.

    ``setup_s`` = JVM launch and first session + input generation + the
    median of ``SETUP_REPEATS`` loads (a fresh session in the same JVM,
    then the inputs written where the program reads them) + the warm-up
    round.  The references the checks compare against are computed
    outside it."""
    cold = run.start_session()
    run.record_layer("session.get_spark", {"wall_s": cold})
    parts = [cls(run) for cls in part_classes]
    t0 = time.perf_counter()
    for p in parts:
        p.generate()
    gen = time.perf_counter() - t0
    loads = []
    for _ in range(SETUP_REPEATS):
        t = run.start_session()
        t0 = time.perf_counter()
        for p in parts:
            p.load()
        loads.append(t + time.perf_counter() - t0)
    for p in parts:
        if hasattr(p, "references"):
            p.references()
    t0 = time.perf_counter()
    for p in parts:
        p.warm_up()
    warm = time.perf_counter() - t0
    setup_s = cold + gen + H.median(loads) + warm

    run.recording = True
    rounds, t0 = [], time.perf_counter()
    while not rounds or time.perf_counter() - t0 < run.seconds:
        k = len(rounds) + 1
        run.begin(f"round-{k}")
        rounds.append(functools.reduce(H.Round.merge, (p.round(k) for p in parts), H.Round()))
        run.end()
    run.recording = False
    whole = [r for r in rounds if r.whole]
    print(f"perfbench: session {cold:.2f} s, inputs {gen:.2f} s, loads "
          f"{[round(x, 2) for x in loads]} s, warm-up {warm:.2f} s {run.warm_walls}, "
          f"rounds {[(round(r.write_s, 3), round(r.read_s, 3), r.recalls) for r in rounds]} "
          f"calls {run.call_walls}",
          file=sys.stderr)
    return {"metrics": {
        "setup_s": setup_s,
        "write_s": H.median([r.write_s for r in whole]),
        "read_s": H.median([r.read_s for r in whole]),
        "recall": H.median([sum(r.recalls) / len(r.recalls) for r in whole if r.recalls]),
    }}


if __name__ == "__main__":
    sys.exit(main())
