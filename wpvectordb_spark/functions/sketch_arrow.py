"""The sketch kernels: numpy over Arrow batches.

MinHash signatures, sign-random-projection SimHash and the ExactSubstr
span-window hashes each have exactly one Spark implementation, here.  The
inner arithmetic is one vectorized pass per batch (one
``np.minimum.reduceat`` per permutation / one ``np.add.reduceat`` per
bit chunk / k fold steps over the concatenated token hashes), fast from
the first run — a Catalyst fold building a 32-lane array accumulator per
element is the shape the JVM takes longest to warm (measured 6.8 s cold
-> 1.7 s JIT-warm for the same MinHash pipeline at sf0.1).

The reference for every kernel is its DuckDB mirror in functions.text
(``sql_minhash_signature``, ``sql_srp_simhash``) or dedup
(``_sql_span_cte``): same constants, same modular arithmetic, same
null/empty semantics — asserted by tests/test_sketch_arrow.py and by the
registry's DuckDB oracles.

All int64 arithmetic stays in range: operands are < 2^31, so
a * h + b < 2^62 < int64 max.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wpvectordb_spark.functions.text import (
    HASH_MOD,
    HASH_MOD2,
    HASH_MUL2,
    MINHASH_PRIME,
    SRP_A,
    SRP_B,
    minhash_coefficients,
)


def _segments(
    values: pd.Series, min_size: int = 1
) -> tuple[np.ndarray, np.ndarray, list[int]]:
    """Concatenate the non-null array elements of an Arrow list column
    batch that hold at least ``min_size`` elements.  Returns (concat,
    segment_start_offsets, source_rows)."""
    arrs: list[np.ndarray] = []
    rows: list[int] = []
    for j, v in enumerate(values):
        if v is None:
            continue
        a = np.asarray(v, dtype=np.int64)
        if a.size < min_size:
            continue
        arrs.append(a)
        rows.append(j)
    if not arrs:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64), rows
    concat = np.concatenate(arrs)
    offsets = np.zeros(len(arrs), dtype=np.int64)
    np.cumsum([a.size for a in arrs[:-1]], out=offsets[1:])
    return concat, offsets, rows


def minhash_signature_arrow(hashes: Column | str, num_hashes: int = 32) -> Column:
    """MinHash signature over a hash-array column:
    ``sig[i] = min over h of (a[i] * h + b[i]) % P`` with the
    ``functions.text.minhash_coefficients`` family, vectorized as one
    rehash + segmented min per permutation.  NULL for empty or NULL
    arrays."""
    a, b = (np.array(c, dtype=np.int64) for c in minhash_coefficients(num_hashes))

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _sig(hs: pd.Series) -> pd.Series:
        out: list[list[int] | None] = [None] * len(hs)
        concat, offsets, rows = _segments(hs)
        if not rows:
            return pd.Series(out)
        mins = np.empty((num_hashes, len(rows)), dtype=np.int64)
        for k in range(num_hashes):
            mins[k] = np.minimum.reduceat((a[k] * concat + b[k]) % MINHASH_PRIME, offsets)
        for col, j in enumerate(rows):
            out[j] = mins[:, col].tolist()
        return pd.Series(out)

    return _sig(hashes if isinstance(hashes, Column) else F.col(hashes))


def simhash_signature_arrow(hashes: Column | str, bits: int = 60) -> Column:
    """Sign-random-projection SimHash (see ``functions.text.sql_srp_simhash``
    for the definition): ``bits`` rehash-parity sign votes per token,
    vectorized as one (tokens x bits) parity matrix + segmented sum per
    batch.  NULL for empty or NULL arrays.  Lane arithmetic: a*h < 2^62
    stays in int64."""
    i = np.arange(1, bits + 1, dtype=np.int64)
    a = (SRP_A * i) % MINHASH_PRIME
    b = (SRP_B * i + 54321) % MINHASH_PRIME
    exps = np.arange(bits, dtype=np.int64)

    @F.pandas_udf(T.LongType())
    def _sh(hs: pd.Series) -> pd.Series:
        out: list[int | None] = [None] * len(hs)
        concat, offsets, rows = _segments(hs)
        if not rows:
            return pd.Series(out, dtype=object)
        # parity matrix lane-chunked to bound peak memory at ~tokens x 15
        sums = np.empty((len(rows), bits), dtype=np.int64)
        for lo in range(0, bits, 15):
            hi = min(lo + 15, bits)
            par = ((a[lo:hi] * concat[:, None] + b[lo:hi]) % MINHASH_PRIME) % 2
            sums[:, lo:hi] = np.add.reduceat(par * 2 - 1, offsets, axis=0)
        packed = ((sums > 0).astype(np.int64) << exps).sum(axis=1)
        for col, j in enumerate(rows):
            out[j] = int(packed[col])
        return pd.Series(out, dtype=object)

    return _sh(hashes if isinstance(hashes, Column) else F.col(hashes))


def span_window_hashes_arrow(token_hashes: Column | str, k: int) -> Column:
    """The ExactSubstr window hashes of ``dedup._span_detection``: for
    every k-token window of a document's token-hash array, the packed
    ~60-bit hash

        h1 * HASH_MOD2 + h2
        h1 = fold over the window of (a * 31 + t) % HASH_MOD
        h2 = fold over the window of (a * HASH_MUL2 + t) % HASH_MOD2

    ``[]`` (never NULL) for NULL rows and rows with fewer than k tokens;
    exactly one window for a k-token row.  The k fold steps are k
    vectorized passes over the batch's concatenated token hashes (a
    per-window slice-and-fold would cost O(k) interpreted steps per
    token).  Mirrored by ``dedup._sql_span_cte``.

    Range: token hashes are < HASH_MOD < 2^30, so
    h1 * 31 + t < 2^35 and h2 * 131 + t < 2^38 stay exact in int64;
    the packed hash is < 1.1e18 < 2^63.  Windows spanning row
    boundaries in the concatenation are computed and discarded
    (k - 1 waste rows per document — negligible).
    """
    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _ws(ths: pd.Series) -> pd.Series:
        # [] (never NULL) for NULL/short rows
        out: list[list[int]] = [[] for _ in range(len(ths))]
        concat, offsets, rows = _segments(ths, min_size=k)
        if not rows:
            return pd.Series(out)
        nw = concat.size - k + 1
        h1 = np.zeros(nw, dtype=np.int64)
        h2 = np.zeros(nw, dtype=np.int64)
        for j in range(k):
            seg = concat[j : j + nw]
            h1 = (h1 * 31 + seg) % HASH_MOD
            h2 = (h2 * HASH_MUL2 + seg) % HASH_MOD2
        ws = h1 * HASH_MOD2 + h2
        ends = np.append(offsets[1:], concat.size) - k + 1
        for row, lo, hi in zip(rows, offsets, ends):
            out[row] = ws[lo:hi].tolist()
        return pd.Series(out)

    return _ws(
        token_hashes if isinstance(token_hashes, Column) else F.col(token_hashes)
    )
