"""Vector kernels K1-K7 (SURVEY.md §2.1) as pure Catalyst Column builders.

Every kernel is a composition of built-in higher-order functions
(``transform`` / ``aggregate`` / ``zip_with`` / ``bit_count``) — JVM-side,
inside the scan stage with zero extra shuffles.  Spark does not
code-generate these functions (``ArrayAggregate``, ``ZipWith`` and
``ArrayTransform`` are ``CodegenFallback``), so they are interpreted per
element.  They serve the write path (``derive``), the SQL twin and the
other ANN paths.  The read path's scoring — search, batch search, IVF
serving and IVF assignment — is NOT built from them: it runs the same
arithmetic in one Arrow pass per scan partition
(``functions.vector_arrow``), bit-identical to the folds here.

Numeric-parity rules (shared with the DuckDB oracles, SURVEY.md §7.4.1):

* all float math is IEEE double with **left folds** — Spark
  ``aggregate(arr, 0.0D, (a,x) -> a + f(x))`` and DuckDB
  ``list_reduce(list_transform(arr, f), (a,b) -> a+b)`` produce bit-identical
  doubles because ``0.0 + x == x`` exactly;
* reference epsilons preserved exactly: zero-magnitude guard ``1e-10``
  (VectorTable.php:586 — ``mag == 0 ? 1e-10 : mag``, *not* a clamp) and
  cosine denominator ``+1e-12`` (VectorTable.php:173);
* sign rule is strictly ``x > 0`` — 0.0 maps to bit 0 (VectorTable.php:543).

Binary codes are ``array<bigint>`` packed CODE_WORD_BITS (=32) sign bits per
word via an arithmetic left fold (``acc*2 + bit``): portable (no signed-64
overflow in any engine), and Hamming distance stays native
``bit_count(xor(word_a, word_b))``.  Dimensions not divisible by 32 pack the
short tail with the same fold (both engines slice short tails identically).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from wpvectordb_spark.schemas import CODE_WORD_BITS

ZERO_MAG_EPS = 1e-10  # VectorTable.php:586
COSINE_EPS = 1e-12  # VectorTable.php:173


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _d(x: Column) -> Column:
    return x.cast("double")


def magnitude(v: Column | str) -> Column:
    """K1 — L2 norm ``sqrt(sum v_i^2)`` (VectorTable.php:626-632)."""
    v = _col(v)
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + _d(x) * _d(x)))


def normalize(v: Column | str, mag: Column | None = None) -> Column:
    """K2 — unit-L2 scale with the reference's exact zero guard
    (VectorTable.php:584-590): ``mag == 0 -> 1e-10``, not ``max(mag, eps)``.

    Pass ``mag`` (a BOUND magnitude column) when it is already computed:
    the guard + division reference the magnitude expression inside the
    per-element ``transform`` lambda, and lambda-captured subtrees are
    re-evaluated per element (no CSE) — an inlined fold makes this
    O(d^2) per vector, ~700x wasted multiply-adds at 1024 dims on the
    write path (same trap as sign_code's slice-per-word shape).
    """
    v = _col(v)
    if mag is None:
        mag = magnitude(v)
    safe = F.when(mag == 0.0, F.lit(ZERO_MAG_EPS)).otherwise(mag)
    return F.transform(v, lambda x: _d(x) / safe)


def sign_bits(v: Column | str) -> Column:
    """Sign binarization bit vector: ``v_i > 0 -> 1 else 0``
    (VectorTable.php:541-543; strictly >, so 0.0 -> 0)."""
    v = _col(v)
    return F.transform(v, lambda x: F.when(_d(x) > 0.0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long")))


def sign_code(v: Column | str, word_bits: int = CODE_WORD_BITS) -> Column:
    """K3 — sign-quantized binary code packed ``word_bits`` bits per bigint
    word (replaces the reference's hex-string codec, VectorTable.php:537-547).

    One fold over the vector with a (words, acc, cnt) accumulator: the
    slice-per-word shape re-evaluates the bit array once per word (32x
    upstream recompute at 1024 dims — lambda-captured subtrees are not
    CSE'd).  Any dimension works; a short tail packs with the same fold.
    """
    vec = _col(v)
    init = F.struct(
        F.array().cast("array<long>").alias("words"),
        F.lit(0).cast("long").alias("acc"),
        F.lit(0).cast("long").alias("cnt"),
    )

    def merge(s, x):
        bit = F.when(_d(x) > 0.0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        acc2 = s["acc"] * 2 + bit
        cnt2 = s["cnt"] + 1
        full = cnt2 % word_bits == 0
        return F.struct(
            F.when(full, F.array_append(s["words"], acc2)).otherwise(s["words"]).alias("words"),
            F.when(full, F.lit(0).cast("long")).otherwise(acc2).alias("acc"),
            cnt2.alias("cnt"),
        )

    def finish(s):
        return F.when(
            (s["cnt"] % word_bits == 0), s["words"]
        ).otherwise(F.array_append(s["words"], s["acc"]))

    return F.aggregate(vec, init, merge, finish)


def hamming(a: Column | str, b: Column | str) -> Column:
    """K5 — Hamming distance between two packed codes
    (VectorTable.php:124-139): ``sum(bit_count(xor(word_a, word_b)))``."""
    return F.aggregate(
        F.zip_with(_col(a), _col(b), lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long")),
        F.lit(0).cast("long"),
        lambda s, c: s + c,
    )


def dot(a: Column | str, b: Column | str) -> Column:
    """Left-fold dot product in double precision."""
    return F.aggregate(
        F.zip_with(_col(a), _col(b), lambda x, y: _d(x) * _d(y)),
        F.lit(0.0),
        lambda s, p: s + p,
    )


def cosine_similarity(
    q: Column | str,
    v: Column | str,
    q_mag: Column | str | None = None,
    v_mag: Column | str | None = None,
) -> Column:
    """K6 — ``dot(q,v) / (|q|*|v| + 1e-12)`` (VectorTable.php:164-181).

    Magnitudes may be passed precomputed (the reference stores them
    write-time); otherwise they are derived inline.
    """
    qm = magnitude(q) if q_mag is None else _d(_col(q_mag))
    vm = magnitude(v) if v_mag is None else _d(_col(v_mag))
    return dot(q, v) / (qm * vm + F.lit(COSINE_EPS))


def code_to_hex(code: Column | str, word_bits: int = CODE_WORD_BITS) -> Column:
    """K4 — format-compat export of a packed code as the reference's hex
    string (VectorTable.php:555-575; 4 bits per hex char, zero-padded
    words, UPPERCASE per the reference's strtoupper at :572 so exports are
    byte-identical to PHP-produced binary_code strings).
    Representation detail only — never used in the query path.
    """
    width = word_bits // 4
    return F.upper(
        F.array_join(
            F.transform(_col(code), lambda w: F.lpad(F.hex(w), width, "0")),
            "",
        )
    )


def hex_to_code(hex_col: Column | str, word_bits: int = CODE_WORD_BITS) -> Column:
    """K4 inverse — parse the reference's hex string back into packed
    words (``array<long>``), for importing reference-format exports.
    Chunk the string into ``word_bits/4`` hex chars and base-16 decode
    each (``conv``); strict inverse of ``code_to_hex`` for codes produced
    by ``sign_code``.

    Import supports only dims divisible by ``word_bits`` — a reference-
    produced code for any other dimension has a SHORT TAIL (ceil(bits/4)
    hex chars) whose fixed-width parse would silently mis-align, so a
    length not divisible by ``word_bits/4`` raises instead of importing
    wrong words."""
    width = word_bits // 4
    h = _col(hex_col)
    n_words = F.ceil(F.length(h) / width).cast("int")
    words = F.transform(
        F.sequence(F.lit(0), n_words - 1),
        lambda i: F.conv(h.substr(i * width + 1, F.lit(width)), 16, 10).cast("long"),
    )
    ok = F.assert_true(
        F.length(h) % width == 0,
        F.concat(
            F.lit(f"hex_to_code: length must be a multiple of {width} "
                  "hex chars (dims not divisible by "
                  f"{word_bits} have a short-tail code this parser would "
                  "mis-align); got length "),
            F.length(h).cast("string"),
        ),
    )
    words = F.when(ok.isNull(), words)
    # sequence(0, -1) would count DOWN for empty input — guard explicitly
    return F.when(F.length(h) > 0, words).otherwise(
        F.array().cast("array<long>")
    )


# ---------------------------------------------------------------------------
# int8 scalar quantization — the storage/IO lever for embedding columns at
# scale: a 1024-dim float32 vector (4 KiB) stores as 1 KiB of int8 + one
# double scale.  Symmetric per-vector quantization (scale = max|x| / 127),
# pure HOF expressions, no UDF.  Approximate by design (no oracle row);
# tests bound the round-trip error and the quantized-cosine drift.
# ---------------------------------------------------------------------------

QUANT_LEVELS = 127


def quantize_scale(v: Column | str) -> Column:
    """Per-vector symmetric scale ``max|x| / 127`` (1e-30 floor so an
    all-zero vector quantizes to zeros instead of dividing by zero)."""
    v = _col(v)
    max_abs = F.aggregate(v, F.lit(0.0), lambda a, x: F.greatest(a, F.abs(_d(x))))
    return F.greatest(max_abs, F.lit(1e-30)) / F.lit(float(QUANT_LEVELS))


def quantize(v: Column | str, scale: Column | None = None) -> Column:
    """int8-range codes ``round(x / scale)`` as ``array<int>`` (stored as
    byte-packed parquet; values always in [-127, 127]).

    PASS ``scale`` (projected as its own column first) in any hot path:
    a lambda-captured ``quantize_scale`` fold re-evaluates PER ELEMENT
    (no CSE inside transform) — O(d^2) per vector instead of O(d)."""
    v = _col(v)
    s = quantize_scale(v) if scale is None else _d(_col(scale))
    return F.transform(v, lambda x: F.round(_d(x) / s).cast("int"))


def quantize_fused(v: Column | str) -> Column:
    """One-pass quantize for hot scans: the max|x| reduction runs as the
    fold and the per-element transform runs in the aggregate's FINISH
    lambda against the already-reduced value.

    This exists because the 'project the scale first' pattern
    (``quantize(v, scale=col)``) is NOT collapse-proof: Catalyst's
    CollapseProject inlines a single-referenced scale column back into
    the transform lambda (verified on the optimized plan), restoring the
    O(d^2)-per-vector fold the split was meant to avoid.  Inside finish,
    the scale is the ACCUMULATOR VALUE — already reduced, impossible to
    re-inline — so the whole expression is O(d) wherever it lands.
    Downstream multi-references (quantized_cosine reads the codes three
    times) re-evaluate at most the O(d) whole, never O(d^2)."""
    v = _col(v)
    return F.aggregate(
        v,
        F.lit(0.0),
        lambda a, x: F.greatest(a, F.abs(_d(x))),
        lambda m: F.transform(
            v,
            lambda x: F.round(
                _d(x) / (F.greatest(m, F.lit(1e-30)) / F.lit(float(QUANT_LEVELS)))
            ).cast("int"),
        ),
    )


def dequantize(q: Column | str, scale: Column | str) -> Column:
    """Reconstruct doubles ``q_i * scale``."""
    s = _d(_col(scale))
    return F.transform(_col(q), lambda x: _d(x) * s)


def quantized_cosine(qa: Column | str, qb: Column | str) -> Column:
    """Cosine directly on quantized codes — no scales needed: the per-
    vector scales multiply both the dot product and the magnitudes, so
    they CANCEL and this equals the cosine of the dequantized vectors
    exactly.  Integer muls inside the fold keep it cheap on the scan."""
    da = F.aggregate(
        F.zip_with(_col(qa), _col(qb), lambda x, y: _d(x) * _d(y)),
        F.lit(0.0), lambda s, p: s + p,
    )
    ma = F.sqrt(F.aggregate(_col(qa), F.lit(0.0), lambda a, x: a + _d(x) * _d(x)))
    mb = F.sqrt(F.aggregate(_col(qb), F.lit(0.0), lambda a, x: a + _d(x) * _d(x)))
    return da / (ma * mb + F.lit(COSINE_EPS))


# ---------------------------------------------------------------------------
# DuckDB oracle fragments — kept adjacent to the Spark expressions so the
# engine and the correctness oracle stay in lockstep.  `{v}` is the vector
# column; all produce the same doubles as the builders above.
# ---------------------------------------------------------------------------

def sql_magnitude(v: str) -> str:
    return (
        f"sqrt(list_reduce(list_transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
        " (a, b) -> a + b))"
    )


def sql_normalize(v: str) -> str:
    mag = sql_magnitude(v)
    safe = f"(CASE WHEN {mag} = 0 THEN 1e-10 ELSE {mag} END)"
    return f"list_transform({v}, x -> CAST(x AS DOUBLE) / {safe})"


def sql_sign_code(v: str, word_bits: int = CODE_WORD_BITS) -> str:
    return (
        f"list_transform(range(0, CAST(ceil(len({v}) / {word_bits}.0) AS INT)),"
        f" w -> list_reduce(list_transform({v}[w*{word_bits}+1 : w*{word_bits}+{word_bits}],"
        " x -> CASE WHEN CAST(x AS DOUBLE) > 0 THEN 1 ELSE 0 END::BIGINT),"
        " (acc, b) -> acc * 2 + b))"
    )


def sql_hamming(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}),"
        " p -> CAST(bit_count(xor(p[1], p[2])) AS BIGINT)), (s, c) -> s + c)"
    )


def sql_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}),"
        " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (s, c) -> s + c)"
    )


def sql_cosine(q: str, v: str, q_mag: str | None = None, v_mag: str | None = None) -> str:
    qm = q_mag or sql_magnitude(q)
    vm = v_mag or sql_magnitude(v)
    return f"({sql_dot(q, v)} / ({qm} * {vm} + 1e-12))"
