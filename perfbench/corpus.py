"""``corpus``: the LLM-curation path.

Each round runs the seven-stage ``curate_training_corpus`` pipeline
(in-session mode) over a generated corpus with planted exact copies,
near-duplicates, low-quality documents and holdout contamination, then the
standalone MinHash-LSH near-duplicate search and the per-document
analysis.  The traced run also times the dedup sub-steps and three
curation stages on their own.  No vector code runs.
"""

from __future__ import annotations

from collections import Counter

import oracles as O
from harness import Round, write_parquet
from inputs import (CORPUS, DECONTAM_SHINGLES, NEAR_DUP_THRESHOLD, curation_corpus)

SEQ_LEN = 512
NUM_SHARDS = 8
READ_PASSES = 5


class Curation:
    """A workload part; ``run.workload_parts`` lists the methods a part has."""

    def __init__(self, run):
        self.run = run

    def generate(self) -> None:
        self.corpus = curation_corpus(self.run.seed, **CORPUS)

    def load(self) -> None:
        """The corpus arrives as parquet files (written with pyarrow), the
        holdout and the DSIR target as small in-session frames."""
        import numpy as np

        run, c = self.run, self.corpus
        self.docs_path = write_parquet(run.path("corpus", "docs"), 4,
                                       doc_id=np.array(c.doc_ids, dtype=np.int64),
                                       lang=np.array(c.langs), text=np.array(c.texts))
        spark = run.spark
        self.holdout = spark.createDataFrame(list(enumerate(c.holdout)), "doc_id long, text string")
        self.target = spark.createDataFrame(list(enumerate(c.target)), "doc_id long, text string")

    def references(self) -> None:
        c = self.corpus
        self.text = dict(zip(c.doc_ids, c.texts))
        self.lang = dict(zip(c.doc_ids, c.langs))
        self.shingles = {i: O.shingle_set(t) for i, t in self.text.items()}
        self.pretokens = {i: O.pretoken_count(t) for i, t in self.text.items()}
        self.contaminated = O.contaminated(self.text, c.holdout, DECONTAM_SHINGLES)
        self.planted = c.planted_pairs()
        self.group_of = {}
        for g, ids in enumerate(c.exact_groups):
            self.group_of.update({i: ("exact", g) for i in ids})
        for g, ids in enumerate(c.near_pairs):
            self.group_of.update({i: ("near", g) for i in ids})

    def warm_up(self) -> None:
        self.round(0, passes=1)
        if self.run.trace:
            self.standalone(None)

    def docs(self):
        return self.run.spark.read.parquet(self.docs_path)

    # -- one round -------------------------------------------------------------------
    def round(self, k: int, passes: int = READ_PASSES) -> Round:
        from wpvectordb_spark import pipelines as P
        from wpvectordb_spark.operators import dedup as D
        from wpvectordb_spark.operators import text_analysis as TA

        run, c = self.run, self.corpus
        checking = run.recording
        r = Round()

        def curate():
            return P.curate_training_corpus(
                self.docs(), holdout=self.holdout, budgets=c.budgets,
                near_dup_threshold=NEAR_DUP_THRESHOLD, decontam_shingles=DECONTAM_SHINGLES,
                dsir_target=self.target, dsir_keep=c.dsir_keep, seq_len=SEQ_LEN,
                num_shards=NUM_SHARDS, seed=k, persist=False).collect()

        rows, curate_wall = run.call("pipelines.curate_training_corpus", curate)

        # the reads are short (about 1 s each): each runs READ_PASSES times
        # and counts at its median, so one slow job swings the read time less
        dedup_walls, analyze_walls, ok, found = [], [], True, None
        for _ in range(passes):
            pairs, wall = run.call("dedup.minhash_lsh_dedup_pairs", lambda: D.minhash_lsh_dedup_pairs(
                self.docs(), threshold=NEAR_DUP_THRESHOLD).collect())
            dedup_walls.append(wall)
            if pairs is not None and checking:
                found = {(p["id_a"], p["id_b"]) for p in pairs}
                good, recall = self.check_pairs(pairs)
                ok &= run.check("minhash_lsh_dedup_pairs", good)
                run.record_layer("dedup.minhash_lsh_dedup_pairs", {"pairs": len(pairs)})
            else:
                ok &= pairs is not None
            feats, wall = run.call("text_analysis.analyze", lambda: TA.analyze(self.docs()).collect())
            analyze_walls.append(wall)
            ok &= feats is not None and (not checking or run.check("analyze", self.check_analysis(feats)))
        r.add_median("read", dedup_walls, ok)
        r.add_median("read", analyze_walls, ok)
        if ok and checking:
            r.recalls.append(recall)
        # checked after the near-dup search, whose pairs it needs
        r.add("write", curate_wall, rows is not None and (not checking or run.check(
            "curate_training_corpus", found is not None and self.check_curated(rows, found))))

        if run.trace and checking:
            self.standalone(pairs if ok else None)
        return r

    def standalone(self, verified) -> None:
        """Traced run only: the dedup sub-steps and three pipeline stages,
        each timed on its own over the whole corpus."""
        from wpvectordb_spark.operators import curation as CU
        from wpvectordb_spark.operators import dedup as D

        run, c = self.run, self.corpus
        sh = D.shingle_sets(self.docs())
        run.call("dedup.shingle_sets", lambda: noop(sh))
        sigs = D.minhash_signatures(self.docs())
        run.call("dedup.minhash_signatures", lambda: noop(sigs))
        cands, _ = run.call("dedup.lsh_candidate_pairs",
                            lambda: D.lsh_candidate_pairs(D.minhash_signatures(self.docs())).collect())
        if cands is not None and verified is not None and run.recording:
            got = {(r["id_a"], r["id_b"]) for r in cands}
            run.check("lsh_candidate_pairs", {(r["id_a"], r["id_b"]) for r in verified} <= got)
            run.record_layer("dedup.lsh_candidate_pairs", {"pairs": len(got)})
            run.record_layer("dedup", {"verify_yield": len(verified) / max(1, len(got))})

        flags, _ = run.call("curation.decontaminate", lambda: CU.decontaminate(
            self.docs(), self.holdout, threshold=DECONTAM_SHINGLES).collect())
        if flags is not None:
            flagged = {r["doc_id"] for r in flags if r["contaminated"] == 1}
            run.check("decontaminate", len(flags) == len(c.doc_ids) and flagged == self.contaminated)

        picked, _ = run.call("curation.dsir_topk", lambda: CU.dsir_topk(
            self.docs(), self.target, k=c.dsir_keep).collect())
        if picked is not None:
            ids = [r["doc_id"] for r in picked]
            run.check("dsir_topk", len(ids) == c.dsir_keep == len(set(ids)) and set(ids) <= self.text.keys())

        packed, _ = run.call("curation.pack_sequences", lambda: CU.pack_sequences(
            self.docs(), seq_len=SEQ_LEN).collect())
        if packed is not None:
            run.check("pack_sequences", self.check_packing(
                [(r["doc_id"], r["lang"], r["n_tokens"], r["seq_start"], r["seq_end"]) for r in packed],
                expect_all=True))

    # -- checks -----------------------------------------------------------------------
    def check_curated(self, rows, found: set[tuple[int, int]]) -> bool:
        """``found``: the pairs the standalone near-dup search reported.
        MinHash-LSH is approximate, so a planted near pair it never
        proposed may keep both documents; its candidates depend only on
        each pair's own signatures, so the pipeline's near-dedup stage
        proposes exactly the pairs the standalone search does."""
        c = self.corpus
        ids = [r["doc_id"] for r in rows]
        if not ids or len(ids) >= len(c.doc_ids) or len(set(ids)) != len(ids):
            return False
        if not set(ids) <= self.text.keys():
            return False
        groups = Counter(self.group_of[i] for i in ids if i in self.group_of)
        for (kind, g), n in groups.items():
            # two survivors of one planted duplicate group
            if n > 1 and (kind == "exact" or tuple(c.near_pairs[g]) in found):
                return False
        if set(ids) & (self.contaminated | c.low_quality):
            return False
        if any(r["lang"] != self.lang[r["doc_id"]] for r in rows):
            return False
        shard_pos = {(r["shard"], r["pos"]) for r in rows}
        if len(shard_pos) != len(rows) or not all(0 <= s < NUM_SHARDS and p >= 1 for s, p in shard_pos):
            return False
        return self.check_packing(
            [(r["doc_id"], r["lang"], r["n_tokens"], r["seq_start"], r["seq_end"]) for r in rows])

    def check_packing(self, rows, expect_all: bool = False) -> bool:
        """n_tokens recounted, and seq ranges from the recomputed token
        prefix sums (documents in id order within each stratum)."""
        if any(n != self.pretokens[i] for i, _, n, _, _ in rows):
            return False
        if expect_all and len(rows) != sum(1 for n in self.pretokens.values() if n > 0):
            return False
        want = O.pack_ranges([(i, s, n) for i, s, n, _, _ in rows], SEQ_LEN)
        return all(want[i] == (a, b) for i, _, _, a, b in rows)

    def check_pairs(self, pairs) -> tuple[bool, float]:
        """Every reported pair clears the threshold under the documented
        shingling (the verify step is exact, so precision must be 1)."""
        good = True
        for r in pairs:
            a, b = r["id_a"], r["id_b"]
            j = O.jaccard(self.shingles[a], self.shingles[b])
            good &= a < b and j >= NEAR_DUP_THRESHOLD - 1e-9 and abs(r["jaccard"] - j) < 1e-8
        found = {(r["id_a"], r["id_b"]) for r in pairs}
        return good, len(found & self.planted) / len(self.planted)

    def check_analysis(self, feats) -> bool:
        if len(feats) != len(self.text):
            return False
        for r in feats:
            toks = O.tokens(self.text[r["doc_id"]])
            if (r["n_tokens"] != len(toks) or r["n_unique_tokens"] != len(set(toks))
                    or r["fingerprint"] != O.string_hash(self.text[r["doc_id"]])):
                return False
        return True


def noop(df) -> bool:
    """Force every column of ``df`` (a count could prune them away)."""
    df.write.format("noop").mode("overwrite").save()
    return True
