"""Seeded input generators.  The same seed gives the same inputs; nothing
here imports Spark, so the generators and their planted structure can be
tested on their own (``test_inputs.py``).

Sizes are fixed per workload (``VECTORS``, ``CORPUS``, ``WORKER``): only
the seed changes between runs, so every run does the same amount of work.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from oracles import jaccard, shingle_set, tokens

# -- vectors --------------------------------------------------------------------

VECTORS = {"rows": 10_000, "dim": 64, "centres": 128, "queries": 50,
           "spread": 0.35, "query_spread": 0.1}


@dataclass
class VectorInputs:
    ids: np.ndarray        # int64, a permutation: cluster membership is not id order
    vectors: np.ndarray    # float32 (rows, dim)
    query_ids: np.ndarray  # int64
    queries: np.ndarray    # float32 (queries, dim)


def clustered_vectors(seed: int, rows: int, dim: int, centres: int, queries: int,
                      spread: float, query_spread: float) -> VectorInputs:
    """Gaussian clusters around unit-variance centres; query i sits close
    to centre i (mod ``centres``), so the queries spread evenly over them."""
    rng = np.random.default_rng([seed, 1])
    c = rng.standard_normal((centres, dim))
    member = rng.integers(0, centres, rows)
    vecs = (c[member] + spread * rng.standard_normal((rows, dim))).astype(np.float32)
    ids = rng.permutation(rows).astype(np.int64)
    qc = np.arange(queries) % centres
    qv = (c[qc] + query_spread * rng.standard_normal((queries, dim))).astype(np.float32)
    return VectorInputs(ids, vecs, np.arange(queries, dtype=np.int64), qv)


# -- corpus -------------------------------------------------------------------------

CORPUS = {"docs": 1500, "holdout": 30, "exact_groups": 30, "near_pairs": 45,
          "low_quality_share": 0.08, "contaminated": 24}
LANGS = ("en", "de", "fr", "es")
# function words per stratum: they make text read like prose to the
# quality score (which counts English ones) and keep strata apart
FUNCTION_WORDS = {
    "en": ("the", "of", "and", "to", "in", "is", "that", "it", "for", "was"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "mit", "den", "ein", "zu"),
    "fr": ("le", "la", "les", "et", "un", "une", "est", "pas", "pour", "que"),
    "es": ("el", "los", "las", "y", "una", "es", "no", "por", "con", "del"),
}
TOPIC_WORDS = 300   # the DSIR target draws only from the first TOPIC_WORDS content words
NEAR_DUP_THRESHOLD = 0.85
DECONTAM_SHINGLES = 5
CONTAM_PASSAGE = 12  # copied holdout tokens -> 10 shared 3-shingles
MIN_TOKENS = 60      # words in the shortest prose document


@dataclass
class Corpus:
    doc_ids: list[int]
    langs: list[str]
    texts: list[str]
    holdout: list[str]
    target: list[str]                       # DSIR target sample
    exact_groups: list[list[int]] = field(default_factory=list)
    near_pairs: list[tuple[int, int]] = field(default_factory=list)
    low_quality: set[int] = field(default_factory=set)
    contaminated: set[int] = field(default_factory=set)
    dsir_keep: int = 0
    budgets: dict[str, int] = field(default_factory=dict)

    def planted_pairs(self) -> set[tuple[int, int]]:
        """Every (smaller id, larger id) pair the near-dup search must
        find: all pairs inside an exact-copy group, and each near pair."""
        out = {tuple(sorted(p)) for p in self.near_pairs}
        for g in self.exact_groups:
            out.update((a, b) for a in g for b in g if a < b)
        return out


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters, rng.integers(4, 10))))
    return sorted(words)


def _prose(rng, vocab, lang, n_tokens, topic_share):
    """Word salad with the stratum's function words at a third of the
    positions and a sentence stop every ~12 words."""
    fw = FUNCTION_WORDS[lang]
    out = []
    for i in range(n_tokens):
        if rng.random() < 0.33:
            w = fw[rng.integers(len(fw))]
        elif rng.random() < topic_share:
            w = vocab[rng.integers(TOPIC_WORDS)]
        else:
            w = vocab[rng.integers(TOPIC_WORDS, len(vocab))]
        out.append(w + ("." if i % 12 == 11 else ""))
    return out


def _junk(rng, n_tokens):
    """Low-quality text: short non-words, dense punctuation, no function words."""
    letters = "qxzjkvw0123456789"
    return [
        "".join(rng.choice(list(letters), rng.integers(1, 3))) + rng.choice(["!!", ";;", "##", "%%"])
        for _ in range(n_tokens)
    ]


def curation_corpus(seed: int, docs: int, holdout: int, exact_groups: int, near_pairs: int,
                    low_quality_share: float, contaminated: int) -> Corpus:
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng, 3000)
    hold = [" ".join(_prose(rng, vocab, "en", int(rng.integers(80, 120)), 0.3)) for _ in range(holdout)]
    hold_tokens = [tokens(h) for h in hold]
    target = [" ".join(_prose(rng, vocab, "en", 100, 0.9)) for _ in range(200)]

    texts: list[str] = []
    langs: list[str] = []
    kind: list[tuple] = []  # ("plain",) | ("exact", group) | ("near", pair) | ("junk",) | ("contam",)

    def plain(lang):
        return _prose(rng, vocab, lang, int(rng.integers(MIN_TOKENS, 120)), float(rng.uniform(0.05, 0.6)))

    for g in range(exact_groups):
        lang = LANGS[g % len(LANGS)]
        text = " ".join(plain(lang))
        for _ in range(int(rng.integers(2, 5))):
            texts.append(text); langs.append(lang); kind.append(("exact", g))
    for p in range(near_pairs):
        lang = LANGS[p % len(LANGS)]
        while True:
            base = plain(lang)
            variant = list(base)
            pos = int(rng.integers(len(base) // 3, 2 * len(base) // 3))
            variant[pos] = vocab[rng.integers(len(vocab))]
            j = jaccard(shingle_set(" ".join(base)), shingle_set(" ".join(variant)))
            if NEAR_DUP_THRESHOLD + 0.02 <= j < 1.0:
                break
        for t in (base, variant):
            texts.append(" ".join(t)); langs.append(lang); kind.append(("near", p))
    for c in range(contaminated):
        lang = LANGS[c % len(LANGS)]
        words = plain(lang)
        src = hold_tokens[int(rng.integers(len(hold_tokens)))]
        at = int(rng.integers(0, len(src) - CONTAM_PASSAGE))
        cut = int(rng.integers(5, len(words) - 5))
        words[cut:cut] = src[at:at + CONTAM_PASSAGE]
        texts.append(" ".join(words)); langs.append(lang); kind.append(("contam",))
    rest = docs - len(texts)
    n_junk = int(rest * low_quality_share)
    for i in range(rest):
        lang = LANGS[i % len(LANGS)]
        if i < n_junk:
            texts.append(" ".join(_junk(rng, int(rng.integers(30, 60))))); kind.append(("junk",))
        else:
            texts.append(" ".join(plain(lang))); kind.append(("plain",))
        langs.append(lang)

    ids = [int(x) for x in rng.permutation(len(texts)) + 1]
    corpus = Corpus(ids, langs, texts, hold, target)
    groups: dict[int, list[int]] = {}
    pairs: dict[int, list[int]] = {}
    for doc_id, k in zip(ids, kind):
        if k[0] == "exact":
            groups.setdefault(k[1], []).append(doc_id)
        elif k[0] == "near":
            pairs.setdefault(k[1], []).append(doc_id)
        elif k[0] == "junk":
            corpus.low_quality.add(doc_id)
        elif k[0] == "contam":
            corpus.contaminated.add(doc_id)
    corpus.exact_groups = [sorted(g) for g in groups.values()]
    corpus.near_pairs = [tuple(sorted(p)) for p in pairs.values()]
    # DSIR keeps a third of the corpus.  Each stratum's token budget is
    # half of what an even share of the picks holds at the least: the
    # stratum holding the most picks (at least an even share) is always
    # cut, and every budget is positive.
    corpus.dsir_keep = docs // 3
    corpus.budgets = {lang: int(0.5 * corpus.dsir_keep / len(LANGS) * MIN_TOKENS) for lang in LANGS}
    return corpus


# -- worker -----------------------------------------------------------------------

# Where the reference fixes a size, the worker uses it:
# - ``dim`` 1,024: the ``VectorTable`` default vector length
#   (VectorTable.php:37); the facade is built with its default;
# - ``n`` 5 hits per filtered search: ``search.DEFAULT_N`` (VectorTable.php:73).
# Two sizes are below the reference's traffic so that a run fits its time
# budget (measured on 4 vCPUs, README "Worker sizes"):
# - ``batch`` 2 jobs per claim, not ``queue_ops.BATCH_SIZE`` = 25
#   (VectorTableQueue.php:184): every claimed post costs one ``insert_all``
#   of 2.2-3.8 s, so a batch of 25 would take about a minute per round;
# - ``posts`` 300, about 1,500 rows or 19 MB of snapshot at 12.6 KB a row,
#   not a 20,000-row table (about 250 MB): ``insert_all`` rewrites the
#   whole snapshot, 2.2 s at 1,500 rows and 3.3 s at 6,000, so every
#   insert at 20,000 rows would take several seconds more.
# The rest are the benchmark's own: 2-8 chunks per post; ``lang`` en or de,
# half each, so the meta filter keeps about half the rows; 16 centres, so
# the filtered funnel ranks clustered rows; 80 queued jobs, half new posts
# and half re-embedded ones, more than one reference batch pending.
WORKER = {"posts": 300, "dim": 1024, "centres": 16, "queued": 80, "batch": 2, "n": 5}


@dataclass
class WorkerInputs:
    dim: int
    base: dict[int, list[np.ndarray]]       # post_id -> chunk vectors already in the table
    lang: dict[int, str]                    # post_id -> doc_meta 'lang'
    queued: list[int]                       # post ids in queue order
    updates: dict[int, list[np.ndarray]]    # post_id -> chunk vectors its job writes
    queries: list[np.ndarray]               # one filtered search per round, in order


def worker_inputs(seed: int, posts: int, dim: int, centres: int, queued: int,
                  batch: int, n: int) -> WorkerInputs:
    """An existing table of ``posts`` posts, and a queue of ``queued``
    jobs: half re-embed existing posts (their old chunks are replaced),
    half add new posts."""
    rng = np.random.default_rng([seed, 3])
    c = rng.standard_normal((centres, dim))

    def chunks():
        k = int(rng.integers(2, 9))
        at = c[rng.integers(centres)]
        return [(at + 0.5 * rng.standard_normal(dim)).astype(np.float32) for _ in range(k)]

    base = {p: chunks() for p in range(1, posts + 1)}
    new_posts = list(range(posts + 1, posts + 1 + queued // 2))
    redo = [int(p) for p in rng.choice(np.arange(1, posts + 1), queued - len(new_posts), replace=False)]
    queue = [int(p) for p in rng.permutation(new_posts + redo)]
    lang = {p: ("en" if rng.random() < 0.5 else "de") for p in list(base) + new_posts}
    updates = {p: chunks() for p in queue}
    queries = [(c[rng.integers(centres)] + 0.3 * rng.standard_normal(dim)).astype(np.float32)
               for _ in range(queued // batch)]
    return WorkerInputs(dim, base, lang, queue, updates, queries)
