"""The generators plant what the checks rely on.  Pure Python, no Spark:

    python3 -m pytest perfbench/test_inputs.py
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import oracles as O  # noqa: E402
from inputs import (CONTAM_PASSAGE, CORPUS, DECONTAM_SHINGLES, LANGS, MIN_TOKENS,  # noqa: E402
                    NEAR_DUP_THRESHOLD, VECTORS, WORKER, clustered_vectors, curation_corpus,
                    worker_inputs)

SEEDS = (0, 1, 7)


@pytest.fixture(scope="module", params=SEEDS)
def corpus(request):
    return curation_corpus(request.param, **CORPUS)


def test_same_seed_same_inputs():
    a, b = curation_corpus(3, **CORPUS), curation_corpus(3, **CORPUS)
    assert a.texts == b.texts and a.doc_ids == b.doc_ids
    assert curation_corpus(4, **CORPUS).texts != a.texts
    va, vb = clustered_vectors(3, **VECTORS), clustered_vectors(3, **VECTORS)
    assert np.array_equal(va.vectors, vb.vectors) and np.array_equal(va.ids, vb.ids)


def test_planted_pairs_clear_the_threshold(corpus):
    text = dict(zip(corpus.doc_ids, corpus.texts))
    for a, b in corpus.near_pairs:
        j = O.jaccard(O.shingle_set(text[a]), O.shingle_set(text[b]))
        assert NEAR_DUP_THRESHOLD + 0.02 <= j < 1.0
    for group in corpus.exact_groups:
        assert len(group) >= 2 and len({text[i] for i in group}) == 1
    assert all(O.jaccard(O.shingle_set(text[a]), O.shingle_set(text[b])) >= NEAR_DUP_THRESHOLD
               for a, b in corpus.planted_pairs())


def test_contamination_is_planted_and_only_planted(corpus):
    text = dict(zip(corpus.doc_ids, corpus.texts))
    flagged = O.contaminated(text, corpus.holdout, DECONTAM_SHINGLES)
    assert corpus.contaminated and corpus.contaminated <= flagged
    # a copied passage of CONTAM_PASSAGE tokens shares CONTAM_PASSAGE - 2
    # shingles, far above the threshold; prose shares almost none by chance
    assert CONTAM_PASSAGE - 2 >= 2 * DECONTAM_SHINGLES
    assert len(flagged - corpus.contaminated) <= 2


def test_every_stage_drops_a_nonzero_share(corpus):
    n = len(corpus.doc_ids)
    exact_drops = sum(len(g) - 1 for g in corpus.exact_groups)
    near_drops = len(corpus.near_pairs)
    assert 0 < exact_drops < n and 0 < near_drops < n
    # the quality gate cuts each stratum's worst quarter: the junk must
    # fit inside it, and prose must remain
    for lang in LANGS:
        ids = [i for i, lg in zip(corpus.doc_ids, corpus.langs) if lg == lang]
        junk = sum(1 for i in ids if i in corpus.low_quality)
        assert 0 < junk < 0.25 * len(ids)
    for i in corpus.low_quality:
        toks = O.tokens(dict(zip(corpus.doc_ids, corpus.texts))[i])
        assert toks and sum(len(t) for t in toks) / len(toks) < 3
    assert 0 < len(corpus.contaminated) < n
    # DSIR keeps fewer documents than can survive stages 1-4
    worst_case_pool = n - exact_drops - near_drops - len(corpus.contaminated) - (n // 4 + len(LANGS))
    assert 0 < corpus.dsir_keep < worst_case_pool
    # the stratum holding the most DSIR picks always exceeds its budget
    fair_share_tokens = corpus.dsir_keep / len(LANGS) * MIN_TOKENS
    assert all(0 < b < fair_share_tokens for b in corpus.budgets.values())
    tokens = [O.pretoken_count(t) for i, t in zip(corpus.doc_ids, corpus.texts)
              if i not in corpus.low_quality]
    assert min(tokens) >= MIN_TOKENS


def test_shingles_follow_the_documented_hash():
    h = [O.string_hash(t) for t in ("a", "b", "c", "d")]
    assert h == [97, 98, 99, 100]
    want = {((h[i] * 31 + h[i + 1]) * 31 + h[i + 2]) % O.HASH_MOD for i in range(2)}
    assert O.shingle_set("A b, c-d") == want
    assert O.shingle_set("a b") == {(97 * 31 + 98) % O.HASH_MOD}
    assert O.shingle_set("!!") is None


def test_funnel_breaks_ties_by_id():
    v = np.array([[1, 1], [1, 1], [-1, 1], [1, 1]], dtype=np.float32)
    ids = np.array([5, 2, 9, 7])
    q = np.array([1, 1], dtype=np.float32)
    assert O.funnel(q, ids, v, O.fold_norms(v), n=2, hamming_keep=3) == [2, 5]


def test_sign_codes_pack_most_significant_first():
    v = np.zeros((1, 35), dtype=np.float32)
    v[0, 0] = 1.0   # top bit of word 0
    v[0, 34] = 2.0  # last bit of the 3-bit tail word
    codes = O.sign_codes(v)
    assert codes.tolist() == [[1 << 31, 1]]


def test_worker_queue_mixes_new_and_re_embedded_posts():
    inp = worker_inputs(1, **WORKER)
    new = [p for p in inp.queued if p not in inp.base]
    assert 0 < len(new) < len(inp.queued) == len(set(inp.queued))
    assert {inp.lang[p] for p in inp.queued} == {"en", "de"}
