"""DSIR-style data selection — importance reweighting of a proposal
corpus toward a target distribution (Xie et al., "Data Selection for
Language Models via Importance Resampling", NeurIPS 2023 — public
method), in the hashed bag-of-words form that actually runs at corpus
scale:

1. **Feature hashing**: tokens → ``md5 % B`` buckets (the same portable
   60-bit hash the MinHash/sampling operators use, so the DuckDB oracle
   reproduces it bit-for-bit).
2. **Two bounded aggregates** estimate the target and proposal unigram
   bucket distributions (add-1 smoothed).  Output: B rows each — constant,
   whatever the corpus size.
3. **Scoring is map-only**: the per-bucket log ratios
   ``ln p_target(b) − ln p_proposal(b)`` are baked into a literal array
   (B doubles — the ``tx_hash_classifier`` trick), and each document's
   log importance weight is an in-expression fold over its token array
   with a DECIMAL accumulator (order-exact, no join, no shuffle).
4. **Resampling without replacement** via the Gumbel top-k trick with
   hash-derived Gumbel noise (``g = −ln(−ln u)``, u from the portable
   hash): reproducible across engines, partitionings and retries, and the
   selection is a ``TakeOrderedAndProject`` — no global sort.

At 100 TB: two scans (distribution estimate + scoring) and a top-k; the
only data-dependent state is the 2×B bucket tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from strava_vector_search_spark.operators.dedup import md5_int, tokens

DEFAULT_BUCKETS = 512
_U_MOD = 1_000_000


def hashed_bucket_counts(
    docs: DataFrame, text_col: str = "text", buckets: int = DEFAULT_BUCKETS
) -> DataFrame:
    """(bucket, cnt) unigram feature-hash counts — one map-side-combined
    aggregate over exploded tokens; at most ``buckets`` rows come out."""
    return (
        docs.select(F.explode(tokens(F.col(text_col))).alias("t"))
        .select((md5_int(F.col("t")) % buckets).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def importance_log_ratios(
    target: DataFrame,
    proposal: DataFrame,
    text_col: str = "text",
    buckets: int = DEFAULT_BUCKETS,
) -> list[float]:
    """Per-bucket ``ln p_target − ln p_proposal`` with add-1 smoothing,
    as a dense B-length list (driver-side: 2×B rows collected)."""
    t_cnt = {r["bucket"]: r["cnt"] for r in hashed_bucket_counts(target, text_col, buckets).collect()}
    p_cnt = {r["bucket"]: r["cnt"] for r in hashed_bucket_counts(proposal, text_col, buckets).collect()}
    t_tot = sum(t_cnt.values()) + buckets
    p_tot = sum(p_cnt.values()) + buckets
    import math

    return [
        math.log((t_cnt.get(b, 0) + 1) / t_tot)
        - math.log((p_cnt.get(b, 0) + 1) / p_tot)
        for b in range(buckets)
    ]


def score_log_weights(
    docs: DataFrame,
    ratios: list[float],
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """(id_col, n_tokens, log_w): per-document log importance weight —
    an in-expression fold over the token array against the literal ratio
    table; DECIMAL(28,12) accumulator so evaluation order cannot move the
    double sum. Map-only: no join, no shuffle."""
    # one py4j round-trip for the whole 512-entry literal table (the
    # unrolled F.array(*[F.lit(...).cast(...)]) form paid ~2 socket
    # round-trips per bucket — see functions.vector.lit_long_array).
    # repr(round(r, 9)) is the shortest round-tripping decimal of the
    # rounded double; parsing it (exact decimal or double literal) and
    # rescaling to (28,12) HALF_UP yields the identical decimal the
    # double→decimal cast produced. A non-finite ratio has no SQL
    # spelling (CAST(inf AS DECIMAL) is a construction-time
    # ParseException) — refuse it here with the offending bucket named;
    # bucket_log_ratios smooths every count so its output is always
    # finite, making a non-finite entry caller error, not data.
    import math

    for i, r in enumerate(ratios):
        if not math.isfinite(r):
            raise ValueError(
                f"score_log_weights: ratios[{i}] = {r!r} is not finite; "
                "log-ratio tables must be smoothed (see bucket_log_ratios)"
            )
    table = F.expr(
        "array("
        + ",".join(
            f"CAST({round(r, 9)!r} AS DECIMAL(28,12))" for r in ratios
        )
        + ")"
    )
    ts = tokens(F.col(text_col))
    log_w = F.aggregate(
        ts,
        F.lit(0).cast("decimal(28,12)"),
        # re-cast: decimal addition widens to (29,12), but the fold's merge
        # type must equal the accumulator type; magnitudes here are far
        # below the precision cap so the cast is lossless
        lambda acc, t: (
            acc + F.element_at(table, (md5_int(t) % buckets + 1).cast("int"))
        ).cast("decimal(28,12)"),
    )
    return docs.select(
        id_col,
        F.size(ts).alias("n_tokens"),
        F.round(log_w.cast("double"), 6).alias("log_w"),
    )


def dsir_select(
    docs: DataFrame,
    ratios: list[float],
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Gumbel top-k importance resampling: rank by log_w + Gumbel(0,1)
    with hash-derived noise; deterministic, engine-portable, and the
    selection is a TakeOrderedAndProject."""
    scored = score_log_weights(docs, ratios, id_col, text_col, buckets)
    u = (
        (md5_int(F.concat(F.col(id_col).cast("string"), F.lit("|dsir"))) % _U_MOD)
        + 0.5
    ) / _U_MOD
    gumbel = -F.log(-F.log(u))
    return (
        scored.withColumn("score", F.round(F.col("log_w") + gumbel, 6))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )
