"""Text → dense-vector embedding, the Spark equivalent of
``SNOWFLAKE.CORTEX.EMBED_TEXT_768('e5-base-v2', txt)`` (reference
``02_method2_manual_vector_embedding.sql:170-172`` for the corpus batch,
``02:207`` et al. per-query).

Two embedders behind one contract (a ``Column -> Column`` of
``array<float>``):

* :func:`hash_embedding` — a **deterministic feature-hashing embedder**
  built from pure Catalyst expressions (tokenize → xxhash64 bucket/weight →
  per-bucket sum → L2 normalize). No model download, bit-reproducible,
  entirely JVM-side: this is what tests and oracles use, and it doubles as a
  perfectly scalable "embedding" for pipeline plumbing at 100 TB (it is a
  shuffle-on-doc-id aggregation, nothing more). Its driver-side twin
  :func:`hash_embed_text_local` embeds request text bit-identically with
  no Spark job (the md5 lane's twin is :func:`md5_embed_text_local`).
* :func:`model_embedder` — an Arrow-batched Pandas-UDF wrapper around a real
  sentence-transformer model (gated behind an import-try; this container has
  no model libs, so tests use the deterministic fake). At scale this is the
  pattern anyway: `mapInPandas`/pandas_udf with the model broadcast once per
  executor, batch size tuned to GPU/CPU memory.
"""

from __future__ import annotations

import hashlib
import math
import re

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from strava_vector_search_spark.functions.vector import _round6

DEFAULT_DIM = 64  # testdata dimensionality; production reference uses 768 (02:88)


def _tokens(text: Column) -> Column:
    """Lowercase, split on non-alphanumerics, drop empties."""
    return F.filter(F.split(F.lower(text), "[^a-z0-9]+"), lambda t: t != "")


def hash_embedding_table(
    df: DataFrame, id_col: str, text_col: str, dim: int = DEFAULT_DIM
) -> DataFrame:
    """Distributed feature-hash embedding: (id, text) → (id, embedding).

    Pipeline: explode tokens → bucket = pmod(xxhash64(token), dim), weight
    derived from higher hash bits → groupBy(id, bucket) partial-sum (map-side
    combine) → assemble dense array → L2 normalize. One shuffle on id;
    partial aggregation keeps the shuffle narrow. Weights rounded to 6 dp
    pre- and post-normalization for reproducibility.

    ZERO vectors are dropped at build: a doc whose every token hashes to
    weight 0 has no L2 direction — storing it would poison every
    full-cosine consumer with a DIVIDE_BY_ZERO at query time (ANSI mode),
    far from the build that caused it. Dropped docs behave exactly like
    token-less docs (which the explode already drops): no embedding row,
    so index-build stats can surface the count as
    ``n_tokenizable - n_rows`` and incremental refresh simply re-skips
    them each batch.
    """
    tok = df.select(
        F.col(id_col).alias("_id"), F.explode(_tokens(F.col(text_col))).alias("tok")
    )
    h = F.xxhash64("tok")
    weighted = tok.select(
        "_id",
        F.pmod(h, F.lit(dim)).cast("int").alias("bucket"),
        (F.pmod(F.shiftright(h, 8), F.lit(1000)).cast("double") / 1000.0).alias("w"),
    )
    per_bucket = weighted.groupBy("_id", "bucket").agg(
        F.round(F.sum("w"), 6).alias("val")
    )
    # Zero-vector drop on the SPARSE rows: weights are non-negative, so a
    # zero total <=> the all-zero vector. Checked here — at the aggregate,
    # before densification — because a filter on the post-densify norm
    # gets predicate-pushed through the staged projections, re-inlining
    # the dim-wide array into the filter and the norm fold into every
    # normalized element: the exact O(dim^2) CollapseProject regression
    # the staging exists to prevent (the plan-shape test caught it).
    dense = per_bucket.groupBy("_id").agg(
        F.map_from_entries(F.collect_list(F.struct("bucket", "val"))).alias("m"),
        F.sum("val").alias("_tot"),
    ).filter(F.col("_tot") > 0)
    # Same AQE over-coalescing hazard as md5_embedding_table: the
    # post-agg densification is ~10x wider than the sparse rows AQE
    # sizes by, so without this the dim-wide projection can land on one
    # task (measured as part of a 96 s dim-768 build).
    dense = dense.repartition(
        df.sparkSession.sparkContext.defaultParallelism, "_id"
    )
    arr = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.element_at(F.col("m"), i), F.lit(0.0)),
    )
    # STAGED projections, not one nested expression: inlining `arr`
    # into the norm fold and `norm` into every normalized element made
    # the single-projection form O(dim^2) map lookups per row — ~4K at
    # dim 64 (tolerable, invisible) but ~590K at dim 768 (measured
    # 96 s for 500 docs). Each alias is referenced more than once
    # downstream, so CollapseProject keeps the stages and each computes
    # ONCE per row. Values are bit-identical to the nested form — same
    # folds, same order, same rounding.
    staged = dense.select("_id", arr.alias("_arr"))
    normed = staged.select(
        "_id",
        "_arr",
        F.sqrt(
            F.aggregate(F.col("_arr"), F.lit(0.0), lambda a, x: a + x * x)
        ).alias("_n"),
    )
    # `_n` stays DOUBLY referenced (condition + divide) so CollapseProject
    # keeps the staged aliases; the otherwise-branch is unreachable now
    # that zero-total docs are dropped at the aggregate above.
    unit = F.when(
        F.col("_n") > 0,
        F.transform(F.col("_arr"), lambda x: F.round(x / F.col("_n"), 6)),
    ).otherwise(F.col("_arr"))
    return normed.select(
        F.col("_id").alias(id_col), unit.cast("array<float>").alias("embedding")
    )


def md5_embedding_table(
    df: DataFrame, id_col: str, text_col: str, dim: int = 768
) -> DataFrame:
    """Cross-engine-replayable embedding at the reference's REAL width
    (``VECTOR(FLOAT, 768)``, ``02_method2_manual_vector_embedding
    .sql:88``): same pipeline shape as :func:`hash_embedding_table`
    (explode tokens → bucket → per-bucket sum → dense array), but bucket
    and weight come from the portable 60-bit md5 hash (identical in
    DuckDB: ``('0x' || substr(md5(x),1,15))::BIGINT``) and bucket sums
    stay exact INTEGERS — weights are 0..999 ints, so every downstream
    dot/norm term is an exact integer below 2^53 and the full 768-wide
    cosine is bit-reproducible in BOTH engines under any summation
    order. This is the parity lane that lets a full value-hash oracle
    pin F11 at width 768 (gate ``vs_topk_filtered_768``); the xxhash64
    embedder remains the production lane (JVM hash, no per-token md5
    hex-string materialization).

    Output values fit float32 exactly (≤ ~10^5 per bucket), so the
    returned ``array<float>`` column loses nothing and exercises the
    same physical layout as the production embedding columns.

    Zero vectors (every token weight ≡ 0 mod 1000 — cannot occur in the
    shipped testdata, but a real corpus offers no such promise) are
    DROPPED at build like token-less docs, and the DuckDB oracle CTEs
    replay the same drop — see hash_embedding_table's contract note.
    """
    from strava_vector_search_spark.operators.dedup import md5_int

    tok = df.select(
        F.col(id_col).alias("_id"),
        F.explode(_tokens(F.col(text_col))).alias("tok"),
    )
    weighted = tok.select(
        "_id",
        F.pmod(md5_int(F.col("tok")), F.lit(dim)).cast("int").alias("bucket"),
        F.pmod(
            md5_int(F.concat(F.lit("w"), F.col("tok"))), F.lit(1000)
        ).alias("w"),
    )
    per_bucket = weighted.groupBy("_id", "bucket").agg(
        F.sum("w").alias("val")
    )
    # Zero vectors dropped at build, same contract as hash_embedding_table:
    # weights are non-negative ints, so a zero total <=> the all-zero
    # vector, checked on the SPARSE rows before densification. Stored zero
    # vectors would raise DIVIDE_BY_ZERO in every full-cosine consumer
    # under ANSI mode at query time; dropping here makes the failure a
    # countable build-time statistic instead (n_tokenizable - n_rows).
    dense = per_bucket.groupBy("_id").agg(
        F.map_from_entries(F.collect_list(F.struct("bucket", "val"))).alias(
            "m"
        ),
        F.sum("val").alias("_tot"),
    ).filter(F.col("_tot") > 0)
    # Densification inflates each row ~10x (a ~60-entry sparse map
    # becomes a dim-wide array built with dim linear map lookups), but
    # AQE sizes the post-agg coalescing by the PRE-projection bytes — at
    # any scale it over-coalesces and the expensive projection lands on
    # too few tasks (measured: ONE task and ~1.6 s of the sf0.1 flagship
    # gate before this). Explicit repartition by id keeps the
    # densification at cluster width; the shuffled payload is the small
    # sparse form.
    dense = dense.repartition(
        df.sparkSession.sparkContext.defaultParallelism, "_id"
    )
    arr = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.element_at(F.col("m"), i), F.lit(0)).cast(
            "double"
        ),
    )
    return dense.select(
        F.col("_id").alias(id_col),
        arr.cast("array<float>").alias("embedding"),
    )


def _bucket_sums(text: str, dim: int, hash_pair) -> dict[int, float]:
    """Driver-side replay of the table kernels' explode → (bucket, weight)
    → per-bucket sum for ONE string. ``hash_pair(token) -> (h, w)`` gives
    the bucket hash (bucket = ``h % dim``, Python's ``%`` with a positive
    modulus is Spark's ``pmod``) and the weight. Each bucket's sum is a
    left fold in token order starting from its first weight — the order
    Spark's partial aggregate sums one row's exploded tokens in."""
    sums: dict[int, float] = {}
    for tok in re.split(r"[^a-z0-9]+", text.lower()):
        if tok:
            h, w = hash_pair(tok)
            b = h % dim
            sums[b] = sums[b] + w if b in sums else w
    return sums


def _md5i(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _md5_pair(tok: str) -> tuple[int, int]:
    return _md5i(tok), _md5i("w" + tok) % 1000


def md5_embed_text_local(text: str, dim: int = 768) -> list[float]:
    """Driver-side pure-Python twin of :func:`md5_embedding_table` for
    ONE query string — what a production client does with the query text
    (embed at the client, ship the vector) instead of running the
    two-shuffle 1-row Spark pipeline. Bit-identical to the table kernel
    on the same text: same tokenizer (lower → split on non-[a-z0-9]),
    same 60-bit md5 bucket/weight idiom, and every bucket sum is an exact
    integer ≤ ~1e5 so the float round trip loses nothing (parity pinned
    in tests/test_embed.py against the table kernel)."""
    vec = [0.0] * dim
    for b, v in _bucket_sums(text, dim, _md5_pair).items():
        vec[b] = float(v)
    return vec


_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh_round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M64, 31) * _P1) & _M64


def _xxh64(data: bytes) -> int:
    """XXH64 of ``data`` as a SIGNED 64-bit int — Spark's ``xxhash64``
    (seed 42) on a string's UTF-8 bytes."""
    seed, n, i = 42, len(data), 0
    if n >= 32:
        v = [
            (seed + _P1 + _P2) & _M64,
            (seed + _P2) & _M64,
            seed,
            (seed - _P1) & _M64,
        ]
        while i + 32 <= n:
            for j in range(4):
                lane = int.from_bytes(data[i + 8 * j : i + 8 * j + 8], "little")
                v[j] = _xxh_round(v[j], lane)
            i += 32
        h = (
            _rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)
        ) & _M64
        for x in v:
            h = ((h ^ _xxh_round(0, x)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        lane = int.from_bytes(data[i : i + 8], "little")
        h = (_rotl(h ^ _xxh_round(0, lane), 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        lane = int.from_bytes(data[i : i + 4], "little")
        h = (_rotl(h ^ ((lane * _P1) & _M64), 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M64), 11) * _P1) & _M64
        i += 1
    h = ((h ^ (h >> 33)) * _P2) & _M64
    h = ((h ^ (h >> 29)) * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def _xxh_pair(tok: str) -> tuple[int, float]:
    # `>>` on a negative int is arithmetic, like Spark's shiftright
    h = _xxh64(tok.encode())
    return h, float((h >> 8) % 1000) / 1000.0


def hash_embed_text_local(
    text: str, dim: int = DEFAULT_DIM
) -> list[float] | None:
    """Driver-side pure-Python twin of :func:`hash_embedding_table` for
    ONE string: bit-identical to the row the kernel would produce for it
    (parity pinned in tests/test_embed.py over a corpus and edge
    strings), with no Spark job. Same steps as the kernel: bucket sums
    rounded to 6 dp; the norm is the left fold of squares in ascending
    bucket order (zero buckets add exactly nothing, so they are
    skipped); each element is ``round(x / norm, 6)`` cast to float32,
    as collecting the ``array<float>`` column returns it. Returns None
    where the kernel drops the row: no tokens, or every token weight 0."""
    sums = {
        b: _round6(v) for b, v in _bucket_sums(text, dim, _xxh_pair).items()
    }
    n2 = 0.0
    for b in sorted(sums):
        n2 += sums[b] * sums[b]
    if n2 == 0.0:
        return None
    norm = math.sqrt(n2)
    vec = [0.0] * dim
    for b, v in sums.items():
        vec[b] = float(np.float32(_round6(v / norm)))
    return vec


def hash_embed_text(spark, text: str, dim: int = DEFAULT_DIM) -> list[float]:
    """Embed one query string with the corpus's hash embedder.

    The reference embeds the query text inside a 1-row CTE (``02:206-208``)
    with the same model as the corpus. Here the client embeds it
    (:func:`hash_embed_text_local`, bit-identical to
    :func:`hash_embedding_table`) and ships the vector: one string is
    sub-millisecond in Python, where a 1-row Spark pipeline costs four
    jobs, most of a lookup's latency. ``spark`` is unused; it stays for
    callers that pass it.
    """
    if not isinstance(text, str):
        raise ValueError(
            f"query text must be a str, got {type(text).__name__}"
        )
    vec = hash_embed_text_local(text, dim)
    if vec is None:
        # the kernel drops zero-norm rows (no [a-z0-9] tokens, or every
        # token weight hashed to 0): fail with intent — mirrors
        # _md5_query_vec_768's guard on the 768 lane.
        raise ValueError(
            "query text embeds to an empty/zero vector (no [a-z0-9] tokens "
            "or all token weights are 0); cannot rank by cosine similarity"
        )
    return vec


def model_embedder(
    model_name: str = "intfloat/e5-base-v2",
    dim: int = 768,
    model_factory=None,
):
    """Pandas-UDF embedder backed by a real model.

    Returns a callable(text_col) -> Column<array<float>>. ``model_factory``
    is a zero-arg picklable callable returning an object with
    ``encode(list[str], normalize_embeddings=True) -> 2-D array``; it
    defaults to loading a sentence-transformers model (raises ImportError
    when the library is absent, as in this container — callers fall back to
    the hash embedder). Injecting a factory lets tests pin the Arrow
    plumbing (batch → fillna('') → encode → one list[float] per row) with
    a deterministic fake and no network.

    Production wiring: the model is constructed lazily ONCE per Python
    worker process (cached in the closure's state dict), so executors pay
    one model load, not one per batch — the standard Arrow-batched
    inference pattern.
    """
    if model_factory is None:
        try:
            from sentence_transformers import SentenceTransformer  # noqa: F401
        except ImportError as e:  # pragma: no cover - lib not in container
            raise ImportError(
                "sentence-transformers not installed; use hash_embedding_table "
                "(deterministic), or pass model_factory, or install the library"
            ) from e

        def model_factory():  # pragma: no cover - lib not in container
            from sentence_transformers import SentenceTransformer

            return SentenceTransformer(model_name)

    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    state: dict = {}

    def _embed_fn(texts):
        import pandas as pd  # local for the worker process

        if "model" not in state:
            state["model"] = model_factory()
        vecs = state["model"].encode(
            texts.fillna("").tolist(), normalize_embeddings=True
        )
        return pd.Series([[float(x) for x in v] for v in vecs])

    # `from __future__ import annotations` stringifies hints and Spark
    # cannot resolve a factory-local `pd.Series` string — attach the real
    # type objects instead (the pandas-UDF schema-inference contract).
    _embed_fn.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf(_embed_fn, "array<float>")
