"""The worker half of the ``vectors`` workload: the reference's own
traffic, through the two facades.

Each round one closed-loop worker claims a batch of embedding jobs
(``VectorTableQueue.get_next_batch``), writes each post's chunks with
``VectorTable.insert_all`` (replacing a re-embedded post's old chunks),
marks the jobs completed (``update_status``), serves one ``lang = en``
meta-filtered ``VectorTable.search`` against the same growing table and
compacts the table.  Every mutating call rewrites a parquet snapshot, so
the storage layer dominates this part.
"""

from __future__ import annotations

import numpy as np

import oracles as O
from harness import Round, dir_bytes, write_parquet
from inputs import WORKER, worker_inputs

N = WORKER["n"]
HAMMING_KEEP = 10 * N  # the facade search keeps 10n Hamming survivors


class WorkerTraffic:
    """A workload part; ``run.workload_parts`` lists the methods a part has."""

    def __init__(self, run):
        self.run = run

    def generate(self) -> None:
        self.inp = worker_inputs(self.run.seed, **WORKER)

    def load(self) -> None:
        """The existing table and the queue holding every job arrive as
        parquet snapshots in the facades' schemas (written with pyarrow,
        derived columns computed by the references); the documents and
        their meta rows the search filter reads are in-session frames."""
        import datetime as dt

        import pyarrow as pa

        from wpvectordb_spark.table import VectorTable, VectorTableQueue

        run, inp, spark = self.run, self.inp, self.run.spark
        rows = [(p, s, v) for p, chunks in inp.base.items() for s, v in enumerate(chunks)]
        vecs = np.stack([r[2] for r in rows])
        mag = O.fold_norms(vecs)
        now = pa.array([dt.datetime.now(dt.timezone.utc)] * len(rows), pa.timestamp("us", tz="UTC"))
        table_path = write_parquet(
            run.path("worker", "table"), 2,
            id=np.arange(1, len(rows) + 1, dtype=np.int64),
            post_id=np.array([r[0] for r in rows], dtype=np.int64),
            sequence_no=np.array([r[1] for r in rows], dtype=np.int32),
            vector=vecs, normalized_vector=vecs.astype(np.float64) / mag[:, None],
            vector_type=pa.nulls(len(rows), pa.string()), binary_code=O.sign_codes(vecs),
            magnitude=mag, created_at=now, updated_at=now)
        self.table = VectorTable(spark, table_path)  # the facade's default vector length
        assert self.table.vector_length == inp.dim
        jobs = len(inp.queued)
        no_time = pa.nulls(jobs, pa.timestamp("us", tz="UTC"))
        queue_path = write_parquet(
            run.path("worker", "queue"), 1,
            job_id=np.arange(1, jobs + 1, dtype=np.int64),
            post_id=np.array(inp.queued, dtype=np.int64),
            chunk_count=np.zeros(jobs, dtype=np.int32), status=np.array(["pending"] * jobs),
            queued_time=pa.array([dt.datetime.now(dt.timezone.utc)] * jobs, pa.timestamp("us", tz="UTC")),
            start_time=no_time, end_time=no_time, error_count=np.zeros(jobs, dtype=np.int32),
            error_message=pa.nulls(jobs, pa.string()))
        self.queue = VectorTableQueue(spark, queue_path)
        self.documents = spark.createDataFrame([(p,) for p in inp.lang], "post_id long")
        self.doc_meta = spark.createDataFrame([(p, "lang", l) for p, l in inp.lang.items()],
                                              "post_id long, meta_key string, meta_value string")
        # the Python model of both tables, reset with every load
        self.model = {(p, s): (i + 1, v) for i, (p, s, v) in enumerate(rows)}
        self.jobs = {j + 1: p for j, p in enumerate(inp.queued)}  # job ids in queue order
        self.status = {j: "pending" for j in self.jobs}
        self.next_query = 0

    def builder(self):
        from wpvectordb_spark.plans.query_builder import Filter, QueryBuilder

        return QueryBuilder().add_filter("lang", Filter("lang", "=", "en", is_meta=True))

    def warm_up(self) -> None:
        """Every call once: a one-job batch."""
        self.round(0, batch_size=1)

    # -- one round ------------------------------------------------------------------
    def round(self, k: int, batch_size: int = WORKER["batch"]) -> Round:
        """Claim a batch, write each post, complete the jobs, serve one
        filtered search, compact the table."""
        run, inp = self.run, self.inp
        r, checking = Round(), run.recording

        batch, wall = run.call("table.VectorTableQueue.get_next_batch",
                               lambda: self.queue.get_next_batch(batch_size=batch_size).collect())
        if batch is None:
            r.add("write", wall, False)
            return r
        job_ids = [row["job_id"] for row in batch]
        want = sorted(j for j, s in self.status.items() if s == "pending")[:batch_size]
        r.add("write", wall, not checking or run.check("get_next_batch", job_ids == want and all(
            row["status"] == "pending" and row["post_id"] == self.jobs[row["job_id"]] for row in batch)))
        for j in job_ids:
            self.status[j] = "processing"

        for j in job_ids:
            post = self.jobs[j]
            vectors = [[float(x) for x in v] for v in inp.updates[post]]
            ok, wall = run.call("table.VectorTable.insert_all",
                                lambda: self.table.insert_all(post, vectors) or True)
            if ok:
                self.model_insert(post, inp.updates[post])
            r.add("write", wall, ok and (not checking or run.check("insert_all", self.check_table())))
            if ok and checking:
                run.record_layer("table.VectorTable.insert_all", {
                    "bytes_written_per_row": dir_bytes(self.table.path) / len(inp.updates[post])})

        ok, wall = run.call("table.VectorTableQueue.update_status",
                            lambda: self.queue.update_status(job_ids, "completed") or True)
        if ok:
            for j in job_ids:
                self.status[j] = "completed"
        r.add("write", wall, ok and (not checking or run.check("update_status", self.check_queue())))

        q = inp.queries[self.next_query % len(inp.queries)]
        self.next_query += 1
        hits, wall = run.call("table.VectorTable.search", lambda: self.table.search(
            [float(x) for x in q], n=N, builder=self.builder(), documents=self.documents,
            doc_meta=self.doc_meta).collect())
        r.add("read", wall, hits is not None and (not checking or run.check(
            "search", self.check_search(q, hits))))

        ok, wall = run.call("table.VectorTable.compact", lambda: self.table.compact())
        r.add("write", wall, ok is not None and (not checking or run.check("compact", self.check_table())))
        if ok is not None and checking:
            run.record_layer("table.VectorTable.compact",
                             {"bytes_per_row": dir_bytes(self.table.path) / len(self.model)})
        return r

    # -- the model ----------------------------------------------------------------------
    def model_insert(self, post: int, vectors) -> None:
        """insert_all replaces every chunk of the post; the new chunks get
        ids numbered on from the largest id left, in sequence order."""
        self.model = {key: val for key, val in self.model.items() if key[0] != post}
        top = max((i for i, _ in self.model.values()), default=0)
        for s, v in enumerate(vectors):
            self.model[(post, s)] = (top + 1 + s, v)

    def check_table(self) -> bool:
        import pyarrow.compute as pc

        t = self.table.df().select("id", "post_id", "sequence_no", "vector",
                                   "magnitude", "binary_code").toArrow()
        if t.num_rows != len(self.model):
            return False
        want = [self.model.get(key) for key in zip(t["post_id"].to_pylist(),
                                                   t["sequence_no"].to_pylist())]
        if any(w is None for w in want) or [w[0] for w in want] != t["id"].to_pylist():
            return False
        v = pc.list_flatten(t["vector"]).to_numpy().reshape(t.num_rows, -1)
        codes = pc.list_flatten(t["binary_code"]).to_numpy().reshape(t.num_rows, -1)
        return (np.array_equal(v, np.stack([w[1] for w in want]))
                and np.array_equal(t["magnitude"].to_numpy(), O.fold_norms(v))
                and np.array_equal(codes, O.sign_codes(v)))

    def check_queue(self) -> bool:
        rows = self.queue.df().select("job_id", "status", "end_time").collect()
        return (len(rows) == len(self.status)
                and all(self.status[r["job_id"]] == r["status"] for r in rows)
                and all(r["end_time"] is not None for r in rows if r["status"] == "completed"))

    def table_arrays(self, lang: str):
        keys = sorted(k for k in self.model if self.inp.lang[k[0]] == lang)
        ids = np.array([self.model[k][0] for k in keys], dtype=np.int64)
        vecs = np.stack([self.model[k][1] for k in keys])
        return ids, vecs, {self.model[k][0]: k[0] for k in keys}

    def check_search(self, q: np.ndarray, hits) -> bool:
        """Only en posts, and exactly the numpy funnel over the en rows of
        the table as it stands."""
        ids, vecs, post_of = self.table_arrays("en")
        want = O.funnel(q, ids, vecs, O.fold_norms(vecs), N, HAMMING_KEEP)
        return [r["id"] for r in hits] == want and all(post_of.get(r["id"]) == r["post_id"] for r in hits)
