"""The batch half of the ``vectors`` workload.

Each round derives the raw embeddings into a vector table (magnitude,
sign code, normalized vector) and writes it, builds an IVF index over it,
then serves one query batch through the two-phase Hamming -> cosine
funnel and one through IVF.  No text or facade code runs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

import oracles as O
from harness import Round, write_parquet
from inputs import VECTORS, clustered_vectors

N = 10            # top-n per query
N_CLUSTERS = 32
N_PROBE = 4
HAMMING_KEEP = 10 * N  # search_many keeps 10n Hamming survivors per query


class BatchVectors:
    """A workload part; ``run.workload_parts`` lists the methods a part has."""

    def __init__(self, run):
        self.run = run

    def generate(self) -> None:
        self.inp = clustered_vectors(self.run.seed, **VECTORS)

    def load(self) -> None:
        """The raw embeddings arrive as parquet files (written with
        pyarrow, not through the program), the query batch as a small
        in-session frame."""
        run, inp = self.run, self.inp
        self.raw_path = write_parquet(run.path("vectors", "raw"), 4, id=inp.ids, post_id=inp.ids,
                                      vector=inp.vectors)
        qdf = pd.DataFrame({"query_id": inp.query_ids, "query_vector": list(inp.queries)})
        self.queries = run.spark.createDataFrame(qdf, "query_id long, query_vector array<float>")

    def references(self) -> None:
        inp = self.inp
        self.norms = O.fold_norms(inp.vectors)
        self.codes = O.sign_codes(inp.vectors)
        self.truth = O.exact_topk(inp.queries, inp.vectors, inp.ids, N)
        self.cids, self.cents, self.c_mag, self.assign = O.ivf_layout(inp.ids, inp.vectors, N_CLUSTERS)
        self.row_of = {int(i): r for r, i in enumerate(inp.ids)}
        self.rows = len(inp.ids)
        self.sorted_ids = np.sort(inp.ids)
        self.order = np.argsort(inp.ids)

    def rows_of(self, ids: np.ndarray) -> np.ndarray:
        """Input row positions of ``ids`` (all present)."""
        return self.order[np.searchsorted(self.sorted_ids, ids)]

    def warm_up(self) -> None:
        self.round(0)

    # -- one round ----------------------------------------------------------------
    def round(self, k: int) -> Round:
        from wpvectordb_spark.operators import search as S
        from wpvectordb_spark.operators import similarity as SIM
        from wpvectordb_spark.operators import table_ops as TO

        run, spark, dim = self.run, self.run.spark, self.inp.vectors.shape[1]
        table = run.path("vectors", f"table{k}")
        index = run.path("vectors", f"ivf{k}")

        def ingest():
            TO.derive(spark.read.parquet(self.raw_path)).write.mode("overwrite").parquet(table)
            return True

        def build():
            SIM.build_ivf_index(spark.read.parquet(table), index, n_clusters=N_CLUSTERS,
                                id_col="id", vector_col="vector")
            return True

        def search():
            return S.search_many(spark.read.parquet(table), self.queries, n=N,
                                 expected_dim=dim).collect()

        def ann():
            return SIM.ivf_topk_many(spark, self.queries, path=index, k=N, n_probe=N_PROBE,
                                     id_col="id", vector_col="vector", expected_dim=dim).collect()

        r, checking = Round(), run.recording
        ok, wall = run.call("table_ops.derive", ingest)
        r.add("write", wall, ok and (not checking or run.check(
            "derive", self.check_table(spark.read.parquet(table)))))
        ok, wall = run.call("similarity.build_ivf_index", build)
        r.add("write", wall, ok and (not checking or run.check(
            "build_ivf_index", self.check_index(spark, index))))
        hits, wall = run.call("search.search_many", search)
        if hits is not None and checking:
            good, recall = self.check_search(hits)
            if r.add("read", wall, run.check("search_many", good)):
                r.recalls.append(recall)
                run.record_layer("search.search_many", {"recall_at_10": recall})
        else:
            r.add("read", wall, hits is not None)
        hits, wall = run.call("similarity.ivf_topk_many", ann)
        if hits is not None and checking:
            good, recall, scanned = self.check_ann(hits)
            if r.add("read", wall, run.check("ivf_topk_many", good)):
                r.recalls.append(recall)
                run.record_layer("similarity.ivf_topk_many", {"recall_at_10": recall,
                                                              "rows_scanned_per_query": scanned})
        else:
            r.add("read", wall, hits is not None)
        return r

    # -- checks ---------------------------------------------------------------------
    def check_table(self, df) -> bool:
        pdf = df.select("id", "magnitude", "binary_code", "normalized_vector").toPandas()
        if len(pdf) != self.rows or not np.array_equal(np.sort(pdf["id"]), self.sorted_ids):
            return False
        rows = self.rows_of(pdf["id"].to_numpy())
        mag = pdf["magnitude"].to_numpy()
        code = np.stack(pdf["binary_code"].to_numpy())
        norm = np.stack(pdf["normalized_vector"].to_numpy())
        want_norm = self.inp.vectors[rows].astype(np.float64) / np.where(
            self.norms[rows] == 0, 1e-10, self.norms[rows])[:, None]
        return (np.array_equal(mag, self.norms[rows]) and np.array_equal(code, self.codes[rows])
                and np.array_equal(norm, want_norm))

    def check_index(self, spark, index) -> bool:
        cents = spark.read.parquet(f"{index}/centroids").select("cluster_id").toPandas()
        assigned = spark.read.parquet(f"{index}/vectors").select("id", "cluster_id").toPandas()
        if sorted(cents["cluster_id"]) != [int(c) for c in self.cids]:
            return False
        if len(assigned) != self.rows or not np.array_equal(np.sort(assigned["id"]), self.sorted_ids):
            return False
        rows = self.rows_of(assigned["id"].to_numpy())
        return np.array_equal(assigned["cluster_id"].to_numpy(), self.assign[rows])

    def check_search(self, hits) -> tuple[bool, float]:
        """Ids must equal the numpy funnel's, in rank order."""
        by_q: dict[int, list[tuple[int, int]]] = {}
        for r in hits:
            by_q.setdefault(r["query_id"], []).append((r["rank"], r["id"]))
        inp, good, found = self.inp, True, 0
        for qi, q in zip(inp.query_ids, inp.queries):
            got = [i for _, i in sorted(by_q.get(int(qi), []))]
            want = O.funnel(q, inp.ids, inp.vectors, self.norms, N, HAMMING_KEEP)
            good &= got == want
            found += len(set(got) & self.truth[int(qi)])
        return good, found / (N * len(inp.query_ids))

    def check_ann(self, hits) -> tuple[bool, float, float]:
        """Every hit lies in one of its query's n_probe nearest clusters,
        and the hits are the exact top-n over those clusters' vectors."""
        by_q: dict[int, list] = {}
        for r in hits:
            by_q.setdefault(r["query_id"], []).append(r)
        inp, good, found, scanned = self.inp, True, 0, 0
        for qi, q in zip(inp.query_ids, inp.queries):
            rows = sorted(by_q.get(int(qi), []), key=lambda r: r["rank"])
            probes = O.ivf_probes(q, self.cids, self.cents, self.c_mag, N_PROBE)
            good &= all(r["cluster_id"] in probes and
                        self.assign[self.row_of[r["id"]]] == r["cluster_id"] for r in rows)
            pool = np.flatnonzero(np.isin(self.assign, probes))
            scanned += len(pool)
            cos = O.fold_cosines(q, O.fold_norms(q[None, :])[0], inp.vectors[pool], self.norms[pool])
            order = np.lexsort((inp.ids[pool], -cos))[:N]
            good &= [r["id"] for r in rows] == [int(i) for i in inp.ids[pool][order]]
            found += len({r["id"] for r in rows} & self.truth[int(qi)])
        n_q = len(inp.query_ids)
        return good, found / (N * n_q), scanned / n_q
