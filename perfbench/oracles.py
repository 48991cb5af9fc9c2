"""Reference computations made apart from the program: numpy for vectors,
plain Python for text.  They follow the program's documented definitions
(sign-bit codes packed 32 to a word, left-to-right float64 sums, the
polynomial token and shingle hashes), never its code.

Float sums use ``np.cumsum``, which adds strictly left to right: with
float32 inputs every product is exact in float64, so these dot products
and norms are bit-identical to a sequential fold and ties break the same
way on both sides.
"""

from __future__ import annotations

import re

import numpy as np

HASH_MOD = 1_000_000_007
WORD_BITS = 32
COSINE_EPS = 1e-12
TOKEN_RE = re.compile(r"[^a-z0-9]+")
PRETOKEN_RE = re.compile(r"'[a-z]+| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s']+|\s+")


# -- vectors --------------------------------------------------------------------

def fold_norms(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.float64)
    return np.sqrt(np.cumsum(v * v, axis=1)[:, -1])


def fold_dots(q: np.ndarray, v: np.ndarray) -> np.ndarray:
    """Row-wise dot products of equal-shaped (k, dim) arrays."""
    return np.cumsum(q.astype(np.float64) * v.astype(np.float64), axis=1)[:, -1]


def fold_cosines(q: np.ndarray, q_mag: float, v: np.ndarray, v_mag: np.ndarray) -> np.ndarray:
    """Cosine of one query against each row of ``v``: dot / (|q||v| + eps)."""
    qq = np.broadcast_to(q, v.shape)
    return fold_dots(qq, v) / (q_mag * v_mag + COSINE_EPS)


def sign_codes(v: np.ndarray) -> np.ndarray:
    """Bit ``x > 0`` per dimension, packed most-significant first into
    32-bit words (the last word holds the tail)."""
    bits = (v > 0).astype(np.int64)
    words = []
    for w in range(0, v.shape[1], WORD_BITS):
        acc = np.zeros(v.shape[0], dtype=np.int64)
        for j in range(w, min(w + WORD_BITS, v.shape[1])):
            acc = acc * 2 + bits[:, j]
        words.append(acc)
    return np.stack(words, axis=1)


def hamming(q: np.ndarray, v: np.ndarray) -> np.ndarray:
    """(queries, rows) sign-bit Hamming distances, exact in integers."""
    bq = (q > 0).astype(np.float64)
    bv = (v > 0).astype(np.float64)
    both = bq @ bv.T
    return (bq.sum(1)[:, None] + bv.sum(1)[None, :] - 2 * both).round().astype(np.int64)


def funnel(q: np.ndarray, ids: np.ndarray, v: np.ndarray, v_mag: np.ndarray, n: int,
           hamming_keep: int) -> list[int]:
    """The two-phase search: the ``hamming_keep`` rows nearest by sign-bit
    Hamming distance (ties to the smaller id), re-ranked by exact cosine
    (ties to the smaller id); returns the top ``n`` ids."""
    hd = hamming(q[None, :], v)[0]
    keep = np.lexsort((ids, hd))[:hamming_keep]
    cos = fold_cosines(q, fold_norms(q[None, :])[0], v[keep], v_mag[keep])
    order = np.lexsort((ids[keep], -cos))[:n]
    return [int(i) for i in ids[keep][order]]


def exact_topk(q: np.ndarray, v: np.ndarray, ids: np.ndarray, k: int) -> list[set[int]]:
    """Exact top-k ids per query by float64 cosine (the recall truth)."""
    qn = q.astype(np.float64) / np.linalg.norm(q.astype(np.float64), axis=1, keepdims=True)
    vn = v.astype(np.float64) / np.linalg.norm(v.astype(np.float64), axis=1, keepdims=True)
    sims = qn @ vn.T
    top = np.argpartition(-sims, k, axis=1)[:, :k]
    return [set(int(i) for i in ids[row]) for row in top]


def ivf_layout(ids: np.ndarray, v: np.ndarray, n_clusters: int):
    """Centroids are the ``n_clusters`` smallest-id vectors (cluster id =
    vector id); every vector goes to its max-cosine centroid, ties to the
    smaller cluster id.  Returns (cluster ids, centroids, centroid norms,
    assignment per row)."""
    first = np.argsort(ids)[:n_clusters]
    cids, cents = ids[first], v[first]
    order = np.argsort(cids)
    cids, cents = cids[order], cents[order]
    c_mag = fold_norms(cents)
    v_mag = fold_norms(v)
    assign = np.empty(len(ids), dtype=np.int64)
    for lo in range(0, len(ids), 2048):
        hi = min(lo + 2048, len(ids))
        vv = np.repeat(v[lo:hi], len(cids), axis=0)
        cc = np.tile(cents, (hi - lo, 1))
        sims = (fold_dots(vv, cc) / (np.repeat(v_mag[lo:hi], len(cids)) * np.tile(c_mag, hi - lo)
                                     + COSINE_EPS)).reshape(hi - lo, len(cids))
        # argmax returns the first maximum: cluster ids are ascending
        assign[lo:hi] = cids[np.argmax(sims, axis=1)]
    return cids, cents, c_mag, assign


def ivf_probes(q: np.ndarray, cids, cents, c_mag, n_probe: int) -> list[int]:
    q_mag = fold_norms(q[None, :])[0]
    sims = fold_cosines(q, q_mag, cents, c_mag)
    return [int(c) for c in cids[np.lexsort((cids, -sims))[:n_probe]]]


# -- text -------------------------------------------------------------------------

def tokens(text: str) -> list[str]:
    return [t for t in TOKEN_RE.split(text.lower()) if t]


def string_hash(s: str) -> int:
    h = 0
    for ch in s:
        h = (h * 31 + ord(ch)) % HASH_MOD
    return h


def shingle_set(text: str) -> set[int] | None:
    """Distinct hashes of the 3-token shingles: each shingle hashes its
    three token hashes with the same polynomial step; a document of one or
    two tokens is one shingle of all of them; no tokens gives None."""
    th = [string_hash(t) for t in tokens(text)]
    if not th:
        return None
    if len(th) < 3:
        h = 0
        for t in th:
            h = (h * 31 + t) % HASH_MOD
        return {h}
    return {((th[i] * 31 + th[i + 1]) % HASH_MOD * 31 + th[i + 2]) % HASH_MOD
            for i in range(len(th) - 2)}


def jaccard(a: set[int] | None, b: set[int] | None) -> float:
    if not a or not b:
        return 0.0
    return len(a & b) / len(a | b)


def pretoken_count(text: str) -> int:
    return sum(1 for m in PRETOKEN_RE.findall(text.lower()) if m.strip(" "))


def pack_ranges(rows: list[tuple[int, str, int]], seq_len: int) -> dict[int, tuple[int, int]]:
    """(id, stratum, n_tokens) -> {id: (seq_start, seq_end)}: documents
    concatenated in id order within each stratum, cut every ``seq_len``
    tokens."""
    out, cum = {}, {}
    for doc_id, stratum, n in sorted(rows, key=lambda r: (r[1], r[0])):
        c = cum.get(stratum, 0) + n
        cum[stratum] = c
        out[doc_id] = ((c - n) // seq_len, (c - 1) // seq_len)
    return out


def contaminated(texts: dict[int, str], holdout: list[str], threshold: int) -> set[int]:
    """Ids sharing at least ``threshold`` distinct shingles with the holdout."""
    hold: set[int] = set()
    for h in holdout:
        hold |= shingle_set(h) or set()
    return {i for i, t in texts.items() if len((shingle_set(t) or set()) & hold) >= threshold}
