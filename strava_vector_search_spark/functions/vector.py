"""Vector scalar functions — the Spark equivalent of Snowflake's
``VECTOR_COSINE_SIMILARITY`` (reference ``02_method2_manual_vector_embedding.sql:212``)
and the vector hygiene the reference gets implicitly from ``VECTOR(FLOAT, 768)``.

Two implementations, one contract:

* :func:`cosine_similarity` — a pure Catalyst column expression
  (``zip_with`` + ``aggregate``). Stays entirely JVM-side inside
  whole-stage codegen, never blocks predicate pushdown, and is the default.
* :func:`cosine_similarity_pandas` — a vectorized Arrow/NumPy Pandas UDF.
  Kept as a benchmark alternative; at very high dimensionality NumPy's SIMD
  dot can win despite the JVM↔Python Arrow hop. ``bench.py`` compares them.

Scale notes (100 TB): cosine over a scan is embarrassingly parallel — no
shuffle. The win that matters is (a) L2-normalizing embeddings **at write
time** so query-time cosine degrades to a dot product (:func:`l2_normalize`,
:func:`dot_product`), and (b) keeping embeddings in a narrow (id, vector)
table so the scan moves ``4*D`` bytes/row and nothing else.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal
from functools import lru_cache

import numpy as np
from pyspark import SparkContext
from pyspark.sql import Column
from pyspark.sql import functions as F


@lru_cache(maxsize=1)
def _array_literal_jvm(jvm) -> tuple:
    """(UnsafeArrayData, Platform.BYTE_ARRAY_OFFSET, catalyst Literal,
    ``array<double>`` with containsNull = false, ExpressionUtils) of
    ``jvm``, looked up once per gateway: each package step of a py4j
    class path is its own round trip."""
    cat = jvm.org.apache.spark.sql.catalyst.expressions
    types = jvm.org.apache.spark.sql.types.DataTypes
    return (
        cat.UnsafeArrayData,
        jvm.org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
        cat.Literal,
        types.createArrayType(types.DoubleType, False),
        jvm.org.apache.spark.sql.classic.ExpressionUtils,
    )


def lit_double_array(values) -> Column:
    """Literal ``array<double>`` column: ONE typed catalyst literal.

    The vector's raw IEEE-754 bytes (native order: the driver JVM runs on
    the Python driver's host) cross py4j as one ``byte[]`` and are copied
    into an ``UnsafeArrayData`` of doubles, so every element keeps its
    exact bits — no decimal round trip, and NaN, ±inf, -0.0 and
    subnormals need no special case. Three py4j calls build it, and the
    plan holds one foldable ``Literal`` rather than a ``CreateArray`` of
    one child per element, which Catalyst re-analyses at every DataFrame
    step (building a 768-d top-k DataFrame: ~3× faster). The analysed
    type is ``array<double>`` with ``containsNull = false``, as an array
    of non-null double literals types; the empty list is an empty
    ``array<double>``.
    """
    buf = np.ascontiguousarray(values, dtype=np.float64)
    unsafe, offset, literal, dtype, exprs = _array_literal_jvm(
        SparkContext._active_spark_context._jvm
    )
    data = unsafe.fromPrimitiveArray(buf.tobytes(), offset, len(buf), 8)
    return Column(exprs.column(literal(data, dtype)))


def lit_long_array(values) -> Column:
    """Literal ``array<bigint>`` in one py4j round-trip: one SQL
    snippet, where the unrolled ``F.array(*[F.lit(x) ...])`` costs one
    round-trip per element.

    ``-2**63`` (LONG_MIN) has no SQL literal spelling — the lexer reads
    ``-9223372036854775808L`` as unary minus applied to an out-of-range
    bigint literal and raises a ParseException — so any value at LONG_MIN
    falls back to the unrolled ``F.lit`` form. Values outside the
    signed-64-bit range are refused up front: the unrolled form would
    otherwise fail deep inside py4j with an opaque overflow."""
    vals = [int(x) for x in values]
    if not vals:
        return F.array().cast("array<bigint>")
    if any(not (-(1 << 63) <= v < (1 << 63)) for v in vals):
        raise ValueError(
            "lit_long_array: value outside signed 64-bit range: "
            f"{next(v for v in vals if not (-(1 << 63) <= v < (1 << 63)))}"
        )
    if any(v == -(1 << 63) for v in vals):
        return F.array(*[F.lit(v) for v in vals])
    return F.expr("array(" + ",".join(f"{v}L" for v in vals) + ")")


def lit_string_array(values) -> Column:
    """Literal ``array<string>`` in one py4j round-trip. Escapes
    backslashes and single quotes (the two active characters in Spark's
    default string-literal lexer); falls back to the unrolled form for
    the empty list."""
    vals = [str(v) for v in values]
    if not vals:
        return F.array(*[])
    def esc(s: str) -> str:
        return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return F.expr("array(" + ",".join(esc(v) for v in vals) + ")")


def dot_product(a: Column, b: Column) -> Column:
    """Sum_i a[i]*b[i] as a fold — deterministic left-to-right accumulation.

    Cast inputs to array<double> upstream for cross-engine reproducibility.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot_product(a, a))


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two equal-length vectors, computed in float64.

    Mirrors ``VECTOR_COSINE_SIMILARITY(v1, v2)`` (reference ``02:212``).
    NULL if either vector is NULL; NaN only if a norm is zero (the reference
    guards with ``EMBEDDING IS NOT NULL``; we additionally never store
    zero vectors — see :func:`l2_normalize`).
    """
    ad = a.cast("array<double>")
    bd = b.cast("array<double>")
    return dot_product(ad, bd) / (l2_norm(ad) * l2_norm(bd))


def cosine_similarity_rounded(a: Column, b: Column, scale: int = 6) -> Column:
    """Cosine rounded for deterministic cross-engine comparison (oracle parity)."""
    return F.round(cosine_similarity(a, b), scale)


_SIX_DP = Decimal("0.000001")


def _round6(x: float) -> float:
    """Spark's ``round(x, 6)`` on a double: HALF_UP on the double's
    decimal string (Python's ``round`` is half-even on the binary value
    and diverges on ties)."""
    return float(Decimal(repr(x)).quantize(_SIX_DP, ROUND_HALF_UP))


def _round6_array(x: np.ndarray) -> np.ndarray:
    """:func:`_round6` over an array of values of magnitude below 1e3.
    ``np.round`` picks the same 6-dp neighbour unless ``x * 1e6`` lies
    within rounding error of a half-way point, where it rounds half-even
    on the binary product; those entries (and any of magnitude 1e3 or
    more) go through :func:`_round6` itself."""
    y = x * 1e6
    out = np.round(x, 6)
    exact = (np.abs(y - np.floor(y) - 0.5) < 1e-6) | ~(np.abs(x) < 1e3)
    for i in np.flatnonzero(exact):
        out.flat[i] = _round6(float(x.flat[i]))
    return out


# float64 values one block of cosine_similarity_local holds (32 MiB)
_BLOCK_ELEMS = 1 << 22


def _fold_sum(p: np.ndarray) -> np.ndarray:
    """Left fold over the last axis from 0.0, as Spark's ``aggregate``
    runs it (``np.sum`` adds pairwise and rounds differently). The
    trailing ``+ 0.0`` turns an all-negative-zero fold into the +0.0
    that folding from 0.0 yields."""
    return np.cumsum(p, axis=-1)[..., -1] + 0.0


def l2_norm_local(m: np.ndarray) -> np.ndarray:
    """Row norms of a (n, d) float64 matrix, bit-identical to
    :func:`l2_norm` on each row."""
    return np.sqrt(_fold_sum(m * m))


def cosine_similarity_local(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Driver-side twin of :func:`cosine_similarity` for every (row of
    ``a``, row of ``b``) pair: an (n, m) float64 matrix equal bit for
    bit to what the column expression returns for the same float64
    vectors. Same steps: products and squared norms are left folds,
    each norm is a ``sqrt`` and the cosine is ``dot / (|a| * |b|)``.
    Products are formed in blocks of at most ``_BLOCK_ELEMS`` values. A
    zero norm raises, as the column expression's division does under
    ANSI."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    na, nb = l2_norm_local(a), l2_norm_local(b)
    for name, n in (("a", na), ("b", nb)):
        if (n == 0).any():
            raise ValueError(
                f"cosine_similarity_local: row "
                f"{int(np.flatnonzero(n == 0)[0])} of {name} has norm 0"
            )
    d = max(a.shape[1], 1)
    rb = max(1, min(len(b), _BLOCK_ELEMS // d))
    ra = max(1, _BLOCK_ELEMS // (rb * d))
    out = np.empty((len(a), len(b)))
    for i in range(0, len(a), ra):
        for j in range(0, len(b), rb):
            dot = _fold_sum(a[i : i + ra, None, :] * b[None, j : j + rb, :])
            out[i : i + ra, j : j + rb] = dot / (
                na[i : i + ra, None] * nb[None, j : j + rb]
            )
    return out


def cosine_similarity_rounded_local(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Driver-side twin of :func:`cosine_similarity_rounded`:
    :func:`cosine_similarity_local` rounded HALF_UP to 6 dp."""
    return _round6_array(cosine_similarity_local(a, b))


def similarity(
    a: Column, b: Column, assume_normalized: bool = False, scale: int = 6
) -> Column:
    """The engine's scoring function: cosine, or — when both vectors are
    known L2-normalized — the plain dot product, which IS the cosine then
    and skips both norm computations (measured ~2× faster at dim 64).

    This is the optimization the reference prescribes by materializing
    embeddings once (02:404) and we enact by normalizing at write time
    (embed.hash_embedding_table, vector.l2_normalize): query-time scoring
    degrades to one fused multiply-add pass per vector.
    """
    if assume_normalized:
        return F.round(
            dot_product(a.cast("array<double>"), b.cast("array<double>")), scale
        )
    return F.round(cosine_similarity(a, b), scale)


def l2_normalize(a: Column) -> Column:
    """Unit-normalize; NULL for zero vectors (so downstream dot == cosine)."""
    ad = a.cast("array<double>")
    n = l2_norm(ad)
    return F.when(n > 0, F.transform(ad, lambda x: x / n))


def cosine_similarity_pandas():
    """Factory for the Pandas-UDF cosine: returns a callable(a, b) -> Column.

    Arrow-batched, NumPy-vectorized. Benchmark alternative to the expression
    form; prefer the expression unless profiling says otherwise (a UDF is a
    codegen barrier and can fence off later filter pushdown).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    def _cos(a, b):
        am = np.stack(a.to_numpy()).astype("float64")
        bm = np.stack(b.to_numpy()).astype("float64")
        num = (am * bm).sum(axis=1)
        den = np.linalg.norm(am, axis=1) * np.linalg.norm(bm, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            return pd.Series(num / den)

    # real type objects (not strings) so Spark's hint inference works even
    # under `from __future__ import annotations`
    _cos.__annotations__ = {"a": pd.Series, "b": pd.Series, "return": pd.Series}
    return pandas_udf(_cos, "double")


def quantize_int8(a: Column, scale: int = 127) -> Column:
    """Symmetric int8 quantization of a unit-normalized vector:
    q[i] = round(v[i] * scale) as tinyint. 1 byte/dim at rest — 4x less
    scan/shuffle volume than float32 at 100 TB; cosine error on unit
    vectors is ~1-2% at scale 127 (measured on dim-64 testdata)."""
    return F.transform(
        a.cast("array<double>"),
        lambda x: F.round(x * scale, 0).cast("tinyint"),
    )


def dequantize_int8(q: Column, scale: int = 127) -> Column:
    return F.transform(q, lambda x: x.cast("double") / scale)


def quantized_dot(qa: Column, qb: Column, scale: int = 127) -> Column:
    """Integer dot product of two int8-quantized vectors, rescaled back to
    the unit range: sum(qa[i]*qb[i]) / scale^2. All-integer accumulation
    (exact, order-insensitive) — cross-engine deterministic by construction."""
    acc = F.aggregate(
        F.zip_with(qa, qb, lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return acc.cast("double") / (scale * scale)
