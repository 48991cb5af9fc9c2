"""The vector scoring kernel: numpy over Arrow batches.

Hamming distance, cosine similarity and the per-partition top-k of the
read path (``search.search`` / ``search_many``,
``similarity.ivf_topk_many``, ``similarity.brute_force_topk_arrow``) and
the IVF build's nearest-centroid assignment
(``similarity.assign_clusters``) each run as ONE ``mapInArrow`` over the
scan.  Every (query, row) score and every local top-k is computed inside
that pass, so no cross join, no per-(query, row) intermediate and no
refetch join is planned: only each batch's survivors, at most ``keep``
rows per query, leave the Python worker.  The Catalyst form of these
scores (``ZipWith`` / ``ArrayAggregate``) is ``CodegenFallback`` and is
interpreted element by element.

The references are the Catalyst builders in ``functions.kernels`` (K3
``sign_code``, K5 ``hamming``, K6 ``cosine_similarity``, which ``derive``,
the SQL twin and the other ANN paths still use) and their DuckDB mirrors
``sql_hamming`` / ``sql_cosine``; tests/test_vector_arrow.py asserts
identical results.  The rules that make them identical:

* Hamming is a byte popcount of the xor of the packed int64 words:
  integers, so any summation order is exact;
* every float sum (a dot product, a squared magnitude) is a strictly
  left-to-right float64 fold seeded with 0.0, one vectorized
  ``acc += a_j * b_j`` per dimension across all rows at once.  Never a
  BLAS or pairwise reduction (``@``, ``np.dot``, ``np.einsum``, a float
  ``.sum()``): those reassociate the sum and drift in the last ulp;
* cosine is ``dot / (|q| * |v| + 1e-12)`` with ``|x| = sqrt(fold x*x)``;
* order is Spark's: NULL scores last, NaN above every number, ties to
  the smaller id;
* a NULL vector, a NULL element or a length other than the query's
  scores a NULL cosine, and a NULL code or a word count other than the
  query's a NULL Hamming distance, as ``zip_with``'s padding makes them.
  A NULL element packs as sign bit 0 (``when(x > 0)`` is NULL, so the
  otherwise branch) and NaN as 1 (NaN is above 0 in Spark).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from wpvectordb_spark.functions.kernels import COSINE_EPS
from wpvectordb_spark.schemas import CODE_WORD_BITS

_POPCOUNT8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.int64)
# rows x dims doubles per scoring chunk (8 MiB a matrix): a Python
# worker's memory stays bounded whatever the Arrow batch size
_CHUNK_CELLS = 1 << 20


# -- Arrow -> numpy ----------------------------------------------------------------


class Lists:
    """An Arrow list column as flat numpy values plus row offsets.
    ``lens`` is -1 for a NULL row; NULL elements read as 0 and mark
    their row in ``has_null``."""

    def __init__(self, col: pa.Array | pa.ChunkedArray):
        if isinstance(col, pa.ChunkedArray):
            col = col.combine_chunks()
        lens = pc.list_value_length(col).fill_null(-1)
        self.lens = lens.to_numpy(zero_copy_only=False).astype(np.int64)
        size = np.maximum(self.lens, 0)
        self.starts = np.cumsum(size) - size
        flat = pc.list_flatten(col)
        self.vals = flat.fill_null(0).to_numpy(zero_copy_only=False)
        self.has_null = np.zeros(len(self.lens), dtype=bool)
        if flat.null_count:
            seen = np.concatenate(
                [[0], np.cumsum(flat.is_null().to_numpy(zero_copy_only=False))]
            )
            self.has_null = seen[self.starts + size] > seen[self.starts]

    def matrix(self, width: int, dtype=np.float64) -> tuple[np.ndarray, np.ndarray]:
        """(mat, ok): the rows holding exactly ``width`` non-NULL
        elements as a (rows, width) matrix; other rows are zeros."""
        ok = (self.lens == width) & ~self.has_null
        if ok.all():
            return self.vals.reshape(len(ok), width).astype(dtype, copy=False), ok
        mat = np.zeros((len(ok), width), dtype=dtype)
        mat[ok] = self.vals[self.starts[ok][:, None] + np.arange(width)]
        return mat, ok


def id_keys(ids: pa.Array) -> np.ndarray:
    """One int64 per row whose order is Spark's ascending order of the
    ids, NULLs first (strings compare as UTF-8 bytes in both)."""
    if pa.types.is_integer(ids.type) and ids.null_count == 0:
        return ids.to_numpy().astype(np.int64, copy=False)
    ranks = pc.rank(ids, sort_keys="ascending", null_placement="at_start", tie_breaker="min")
    return ranks.to_numpy().astype(np.int64)


# -- the kernels -------------------------------------------------------------------


def pack_signs(x: np.ndarray) -> np.ndarray:
    """K3's packing of a (rows, dims) value matrix: bit ``x > 0`` (NaN
    counts as above 0), CODE_WORD_BITS bits per int64 word folded as
    ``acc * 2 + bit``; a short tail word packs its t bits the same way,
    so its value is below 2^t."""
    bits = (x > 0) | (x != x)
    rows, dims = bits.shape
    n_words = -(-dims // CODE_WORD_BITS)
    pad = n_words * CODE_WORD_BITS - dims
    if pad:
        bits = np.concatenate([bits, np.zeros((rows, pad), dtype=bool)], axis=1)
    octets = np.packbits(bits, axis=1).reshape(rows, n_words, CODE_WORD_BITS // 8).astype(np.int64)
    words = octets[..., 0]
    for i in range(1, CODE_WORD_BITS // 8):
        words = (words << 8) | octets[..., i]
    if pad:
        words[:, -1] >>= pad
    return words


def sign_codes(v: Lists, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """(codes, ok): K3 codes of a float list column for comparison with
    a ``dim``-long query.  NULL rows and rows whose word count differs
    from the query's are not ok."""
    n_words = -(-dim // CODE_WORD_BITS)
    codes = np.zeros((len(v.lens), n_words), dtype=np.int64)
    ok = (v.lens >= 0) & (-(-v.lens // CODE_WORD_BITS) == n_words)
    same = v.lens == dim
    if same.any():
        codes[same] = pack_signs(v.vals[v.starts[same][:, None] + np.arange(dim)])
    for r in np.flatnonzero(ok & ~same):  # ragged, but the query's word count
        codes[r] = pack_signs(v.vals[None, v.starts[r] : v.starts[r] + v.lens[r]])[0]
    return codes, ok


def hamming(codes: np.ndarray, q: np.ndarray) -> np.ndarray:
    """K5 per row: the popcount of ``codes[r] xor q`` over all words."""
    x = np.ascontiguousarray(np.bitwise_xor(codes, q))
    return _POPCOUNT8[x.view(np.uint8)].sum(axis=1)


def fold_dot(q: np.ndarray, vt: np.ndarray) -> np.ndarray:
    """(queries, rows) dot products of ``q`` (queries, dims) with the
    columns of ``vt`` (dims, rows), each the left fold
    ``((0.0 + q0*v0) + q1*v1) + ...`` of Catalyst's
    ``aggregate(zip_with(...), 0.0D, ...)``."""
    acc = np.zeros((q.shape[0], vt.shape[1]))
    step = np.empty_like(acc)
    for j in range(vt.shape[0]):
        np.multiply(q[:, j, None], vt[j], out=step)
        acc += step
    return acc


def fold_rows(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise dot products of two (rows, dims) matrices, each the same
    left fold as ``fold_dot``."""
    at, bt = np.ascontiguousarray(a.T), np.ascontiguousarray(b.T)
    acc = np.zeros(a.shape[0])
    for j in range(at.shape[0]):
        acc += at[j] * bt[j]
    return acc


def fold_norm(vt: np.ndarray) -> np.ndarray:
    """K1 per column of ``vt`` (dims, rows): ``sqrt`` of the left fold
    of squares."""
    acc = np.zeros(vt.shape[1])
    for j in range(vt.shape[0]):
        acc += vt[j] * vt[j]
    return np.sqrt(acc)


def cosine(dots: np.ndarray, q_mag: np.ndarray, v_mag: np.ndarray) -> np.ndarray:
    """K6 from its parts: ``dot / (|q| * |v| + 1e-12)``; the magnitudes
    broadcast against ``dots``."""
    with np.errstate(all="ignore"):
        return dots / (q_mag * v_mag + COSINE_EPS)


def order_asc(score: np.ndarray, null: np.ndarray, ids: np.ndarray) -> np.ndarray:
    """Positions in Spark's ``score ASC NULLS LAST, id ASC`` order
    (integer scores)."""
    return np.lexsort((ids, np.where(null, 0, score), null))


def order_desc(score: np.ndarray, null: np.ndarray, ids: np.ndarray, axis: int = -1) -> np.ndarray:
    """Positions in Spark's ``score DESC NULLS LAST, id ASC`` order
    along ``axis``: NaN first, then numbers, then NULLs."""
    nan = (score != score) & ~null
    with np.errstate(invalid="ignore"):
        return np.lexsort((ids, np.where(nan | null, 0.0, -score), ~nan, null), axis=axis)


# -- the query side, collected on the driver ---------------------------------------


class QueryBatch:
    """Query vectors on the driver: ``vecs[i]`` float64 (NULL elements
    read as 0 and set ``has_null[i]``, which makes every cosine of that
    query NULL), ``ids`` the query ids as an Arrow array."""

    def __init__(self, ids: pa.Array, id_type: T.DataType, vecs: list[np.ndarray], has_null):
        self.ids = ids
        self.id_type = id_type
        self.vecs = vecs
        self.has_null = np.asarray(has_null, dtype=bool)

    @classmethod
    def of(cls, vector: list[float]) -> QueryBatch:
        """One literal query (no id)."""
        vec = np.array([0.0 if x is None else float(x) for x in vector])
        return cls(pa.nulls(1, pa.int64()), T.LongType(), [vec], [None in vector])

    @classmethod
    def collect(
        cls,
        queries: DataFrame,
        query_id_col: str,
        query_vec_col: str,
        dim: int | None,
        fn: str,
        side: str,
    ) -> QueryBatch:
        """Collect a query frame in one Arrow job.  NULL query vectors
        drop; with ``dim`` a query of another length raises
        ``<fn>: query vector has <d> dims; <side> has <dim>``."""
        id_type = queries.schema[query_id_col].dataType
        tbl = queries.where(F.col(query_vec_col).isNotNull()).select(query_id_col, query_vec_col).toArrow()
        ids = tbl.column(0).combine_chunks().cast(to_arrow_type(id_type))
        v = Lists(tbl.column(1))
        if dim is not None:
            bad = np.flatnonzero(v.lens != dim)
            if len(bad):
                raise ValueError(
                    f"{fn}: query vector has {v.lens[bad[0]]} dims; {side} has {dim}"
                )
        vecs = [v.vals[s : s + n].astype(np.float64) for s, n in zip(v.starts, v.lens)]
        return cls(ids, id_type, vecs, v.has_null)

    def __len__(self) -> int:
        return len(self.vecs)

    def by_dim(self) -> dict[int, np.ndarray]:
        """Query positions grouped by vector length."""
        groups: dict[int, list[int]] = {}
        for i, v in enumerate(self.vecs):
            groups.setdefault(len(v), []).append(i)
        return {d: np.array(ix) for d, ix in groups.items()}

    def matrix(self, ix: np.ndarray) -> np.ndarray:
        return np.stack([self.vecs[i] for i in ix])

    def rows(self, dim: int) -> tuple[np.ndarray, np.ndarray]:
        """(mat, ok) over all queries, as ``Lists.matrix``: queries of
        another length or with a NULL element are zeros, not ok."""
        ok = np.array([len(v) == dim for v in self.vecs], dtype=bool) & ~self.has_null
        mat = np.zeros((len(self), dim))
        for i in np.flatnonzero(ok):
            mat[i] = self.vecs[i]
        return mat, ok


def _chunks(batches, width: int):
    rows = max(1, _CHUNK_CELLS // max(width, 1))
    for batch in batches:
        for lo in range(0, batch.num_rows, rows):
            yield batch.slice(lo, rows)


# -- the operators' scan passes ----------------------------------------------------


def scan_topk(
    df: DataFrame,
    queries: QueryBatch,
    keep: int,
    *,
    id_col: str,
    vector_col: str,
    mag_col: str | None = None,
    by_hamming: bool = False,
    code_col: str | None = None,
    carry: tuple[str, ...] = (),
    query_id_col: str | None = "query_id",
    probe_col: str | None = None,
    probes: list[list[int]] | None = None,
) -> DataFrame:
    """One ``mapInArrow`` over ``df``: per Arrow batch and query, the
    ``keep`` best rows with their exact cosine.

    ``by_hamming`` ranks by ``(hamming ASC NULLS LAST, id)`` and scores
    the cosine of the survivors only (the two-phase funnel's stage 2 and
    3 in one pass; ``code_col`` None derives the codes from the
    vectors); otherwise rows rank by ``(cosine DESC NULLS LAST, id)``.
    With ``probes`` query i scores only rows whose ``probe_col`` is in
    ``probes[i]`` (IVF).  Per batch survivors are a superset of every
    query's global top-``keep``, so one exact merge over the output
    finishes the ranking.  Output: ``[query_id_col] id *carry
    [hamming_distance] cosine_similarity``."""
    schema = df.schema
    fields = []
    if query_id_col is not None:
        fields.append(T.StructField(query_id_col, queries.id_type))
    fields += [T.StructField(c, schema[c].dataType) for c in (id_col, *carry)]
    if by_hamming:
        fields.append(T.StructField("hamming_distance", T.LongType()))
    fields.append(T.StructField("cosine_similarity", T.DoubleType()))
    out_schema = T.StructType(fields)
    if not len(queries):
        return df.sparkSession.createDataFrame([], out_schema)

    groups = {}
    for dim, ix in queries.by_dim().items():
        qm = queries.matrix(ix)
        groups[dim] = (
            ix,
            qm,
            fold_norm(np.ascontiguousarray(qm.T)),
            pack_signs(qm) if by_hamming else None,
        )
    q_null, q_ids = queries.has_null, queries.ids
    probers: dict[int, list[int]] = {}
    for i, probed in enumerate(probes or []):
        for c in probed:
            probers.setdefault(int(c), []).append(i)
    cols = list(dict.fromkeys(
        [id_col, vector_col, *carry]
        + ([mag_col] if mag_col else [])
        + ([code_col] if by_hamming and code_col else [])
    ))

    def score(b: pa.RecordBatch) -> pa.RecordBatch | None:
        n = b.num_rows
        v = Lists(b.column(vector_col))
        ids = id_keys(b.column(id_col))
        if mag_col:
            m = b.column(mag_col)
            v_mag = m.fill_null(0.0).to_numpy(zero_copy_only=False).astype(np.float64)
            mag_null = m.is_null().to_numpy(zero_copy_only=False)
        if probes is not None:
            cl = b.column(probe_col)
            cl_ok = ~cl.is_null().to_numpy(zero_copy_only=False)
            cl_val = cl.fill_null(0).to_numpy(zero_copy_only=False)
        out_q, out_r, out_h, out_hn, out_c, out_cn = [], [], [], [], [], []

        for dim, (ix, qm, q_mag, q_code) in groups.items():
            mat, ok = v.matrix(dim)
            v_null = ~ok | mag_null if mag_col else ~ok

            def v_norm(rows: np.ndarray, vt: np.ndarray | None = None) -> np.ndarray:
                if mag_col:
                    return v_mag[rows]
                return fold_norm(np.ascontiguousarray(mat[rows].T) if vt is None else vt)

            if by_hamming:
                if code_col:
                    codes, c_ok = Lists(b.column(code_col)).matrix(q_code.shape[1], np.int64)
                else:
                    codes, c_ok = sign_codes(v, dim)
                gs, rows = [], []
                for g in range(len(ix)):
                    hd = hamming(codes, q_code[g])
                    sel = order_asc(hd, ~c_ok, ids)[:keep]
                    gs.append(np.full(len(sel), g))
                    rows.append(sel)
                    out_h.append(hd[sel])
                    out_hn.append(~c_ok[sel])
                # the survivors' cosines, every (query, row) pair in one fold
                gs, rows = np.concatenate(gs), np.concatenate(rows)
                out_q.append(ix[gs])
                out_r.append(rows)
                out_c.append(cosine(fold_rows(qm[gs], mat[rows]), q_mag[gs], v_norm(rows)))
                out_cn.append(q_null[ix[gs]] | v_null[rows])
                continue

            sims = np.zeros((len(ix), n))
            nulls = np.ones((len(ix), n), dtype=bool)
            cand = np.ones((len(ix), n), dtype=bool)
            if probes is None:
                blocks = [(np.arange(len(ix)), np.arange(n))]
            else:
                local = {int(i): g for g, i in enumerate(ix)}
                blocks = []
                for c in np.unique(cl_val[cl_ok]):
                    gs = [local[i] for i in probers.get(int(c), ()) if i in local]
                    if gs:
                        blocks.append((np.array(gs), np.flatnonzero(cl_ok & (cl_val == c))))
                cand[:] = False
            for gs, rows in blocks:
                vt = np.ascontiguousarray(mat[rows].T)
                block = np.ix_(gs, rows)
                sims[block] = cosine(fold_dot(qm[gs], vt), q_mag[gs, None], v_norm(rows, vt)[None, :])
                nulls[block] = q_null[ix[gs]][:, None] | v_null[rows][None, :]
                cand[block] = True
            for g in range(len(ix)):
                rows = np.flatnonzero(cand[g])
                sel = rows[order_desc(sims[g, rows], nulls[g, rows], ids[rows])[:keep]]
                out_q.append(np.full(len(sel), ix[g]))
                out_r.append(sel)
                out_c.append(sims[g, sel])
                out_cn.append(nulls[g, sel])

        rows = np.concatenate(out_r)
        if not len(rows):
            return None
        rows = pa.array(rows)
        arrays = []
        if query_id_col is not None:
            arrays.append(q_ids.take(pa.array(np.concatenate(out_q))))
        arrays += [b.column(c).take(rows) for c in (id_col, *carry)]
        if by_hamming:
            arrays.append(pa.array(np.concatenate(out_h), pa.int64(), mask=np.concatenate(out_hn)))
        arrays.append(pa.array(np.concatenate(out_c), pa.float64(), mask=np.concatenate(out_cn)))
        return pa.RecordBatch.from_arrays(arrays, names=out_schema.names)

    width = max(groups)

    def run(batches):
        for b in _chunks(batches, width):
            out = score(b)
            if out is not None:
                yield out

    return df.select(*cols).mapInArrow(run, out_schema)


class Centroids:
    """A driver-side centroid table, ``(cluster_id, centroid,
    centroid_mag)`` rows (<= n_clusters), ranked per vector by
    ``(sim DESC NULLS LAST, cluster_id ASC)`` — NaN first, as Spark
    orders it.  That one order serves the IVF build's nearest centroid
    (its first entry: the max of ``(sim, -cluster_id)`` in Spark's struct
    order) and the serving probes (its first n_probe entries)."""

    def __init__(self, rows: list[tuple], cluster_type: T.DataType):
        self.type = cluster_type
        self.ids = pa.array([r[0] for r in rows], to_arrow_type(cluster_type))
        self.keys = id_keys(self.ids)
        self.mag = np.array([0.0 if r[2] is None else float(r[2]) for r in rows])
        self.null = np.array([r[1] is None or r[2] is None or None in r[1] for r in rows], dtype=bool)
        by_dim: dict[int, list[int]] = {}
        for k, r in enumerate(rows):
            by_dim.setdefault(len(r[1] or ()), []).append(k)
        self.by_dim = {}
        for d, ks in by_dim.items():
            vecs = [[0.0 if x is None else float(x) for x in rows[k][1] or ()] for k in ks]
            self.by_dim[d] = (np.array(ks), np.array(vecs).reshape(len(ks), d))

    def __len__(self) -> int:
        return len(self.keys)

    def ranked(self, rows, n: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(order, sims, nulls) for ``n`` vectors, where ``rows(dim)``
        gives their (n, dim) matrix and its ok mask: ``order[:, r]`` lists
        the centroid positions best first for vector r, ``sims`` /
        ``nulls`` are (centroids, n).  A centroid of another length than
        the vector scores NULL."""
        sims = np.zeros((len(self), n))
        nulls = np.ones((len(self), n), dtype=bool)
        for dim, (ks, cm) in self.by_dim.items():
            mat, ok = rows(dim)
            vt = np.ascontiguousarray(mat.T)
            sims[ks] = cosine(fold_dot(cm, vt), self.mag[ks, None], fold_norm(vt)[None, :])
            nulls[ks] = self.null[ks, None] | ~ok[None, :]
        keys = np.broadcast_to(self.keys[:, None], sims.shape)
        return order_desc(sims, nulls, keys, axis=0), sims, nulls


def nearest_centroid(
    df: DataFrame,
    centroids: Centroids,
    *,
    id_col: str,
    vector_col: str,
) -> DataFrame:
    """One ``mapInArrow`` assigning every row its nearest centroid
    (``Centroids.ranked``' first): ``(id, vector, cluster_id, _sim)``
    with the raw cosine.  A row whose every sim is NULL lands on the
    smallest cluster_id with a NULL sim."""
    schema = df.schema
    out_schema = T.StructType([
        T.StructField(id_col, schema[id_col].dataType),
        T.StructField(vector_col, schema[vector_col].dataType),
        T.StructField("cluster_id", centroids.type),
        T.StructField("_sim", T.DoubleType()),
    ])

    def assign(b: pa.RecordBatch) -> pa.RecordBatch:
        n = b.num_rows
        order, sims, nulls = centroids.ranked(Lists(b.column(vector_col)).matrix, n)
        best, r = order[0], np.arange(n)
        return pa.RecordBatch.from_arrays(
            [
                b.column(id_col),
                b.column(vector_col),
                centroids.ids.take(pa.array(best)),
                pa.array(sims[best, r], pa.float64(), mask=nulls[best, r]),
            ],
            names=out_schema.names,
        )

    width = max(centroids.by_dim)

    def run(batches):
        for b in _chunks(batches, width):
            yield assign(b)

    return df.select(id_col, vector_col).mapInArrow(run, out_schema)
