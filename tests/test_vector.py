from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from strava_vector_search_spark.functions.vector import (
    cosine_similarity,
    cosine_similarity_pandas,
    dot_product,
    l2_normalize,
)


@pytest.fixture(scope="module")
def vec_df(spark):
    return spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0], [1.0, 0.0, 0.0]),
            (2, [1.0, 0.0, 0.0], [0.0, 1.0, 0.0]),
            (3, [1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),
            (4, [1.0, 1.0, 1.0], [-1.0, -1.0, -1.0]),
            (5, None, [1.0, 0.0, 0.0]),
        ],
        "id int, a array<double>, b array<double>",
    )


def test_cosine_identity_orthogonal_opposite(vec_df):
    rows = {
        r["id"]: r["c"]
        for r in vec_df.select(
            "id", cosine_similarity(F.col("a"), F.col("b")).alias("c")
        ).collect()
    }
    assert rows[1] == pytest.approx(1.0)
    assert rows[2] == pytest.approx(0.0)
    expected = 32.0 / (math.sqrt(14) * math.sqrt(77))
    assert rows[3] == pytest.approx(expected)
    assert rows[4] == pytest.approx(-1.0)
    assert rows[5] is None  # null vector -> null similarity


def test_pandas_cosine_matches_expression(vec_df):
    cos_pd = cosine_similarity_pandas()
    rows = (
        vec_df.filter(F.col("a").isNotNull())
        .select(
            "id",
            F.round(cosine_similarity(F.col("a"), F.col("b")), 9).alias("expr"),
            F.round(cos_pd(F.col("a"), F.col("b")), 9).alias("pd"),
        )
        .collect()
    )
    for r in rows:
        assert r["expr"] == pytest.approx(r["pd"], abs=1e-9)


def test_l2_normalize_unit_norm(vec_df):
    out = vec_df.filter(F.col("a").isNotNull()).select(
        dot_product(l2_normalize(F.col("a")), l2_normalize(F.col("a"))).alias("n2")
    )
    for r in out.collect():
        assert r["n2"] == pytest.approx(1.0)


def test_l2_normalize_zero_vector_is_null(spark):
    df = spark.createDataFrame([([0.0, 0.0],)], "a array<double>")
    assert df.select(l2_normalize(F.col("a")).alias("n")).head()["n"] is None


def test_real_embeddings_are_unit_norm(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    stats = emb.select(
        dot_product(
            F.col("embedding").cast("array<double>"),
            F.col("embedding").cast("array<double>"),
        ).alias("n2")
    ).agg(F.min("n2").alias("mn"), F.max("n2").alias("mx"))
    r = stats.head()
    assert r["mn"] == pytest.approx(1.0, abs=1e-5)
    assert r["mx"] == pytest.approx(1.0, abs=1e-5)


def test_quantize_roundtrip_accuracy(spark, sf_dir):
    from strava_vector_search_spark.functions.vector import (
        dequantize_int8,
        quantize_int8,
        quantized_dot,
        similarity,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(100)
    q = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        quantize_int8(F.col("embedding")).alias("q8"),
    )
    # quantized self-dot approximates the true unit norm within 1%
    rows = q.select(
        quantized_dot(F.col("q8"), F.col("q8")).alias("qn"),
        similarity(F.col("v"), F.col("v"), assume_normalized=True).alias("n"),
    ).collect()
    for r in rows:
        assert abs(r["qn"] - r["n"]) < 0.02
    # dequantize returns to the unit sphere within quantization error
    back = q.select(
        similarity(
            dequantize_int8(F.col("q8")), F.col("v"), assume_normalized=False
        ).alias("c")
    ).collect()
    for r in back:
        assert r["c"] > 0.995


def test_round6_array_matches_round6():
    """The vectorised HALF_UP rounding equals the decimal-string rule on
    values at and next to 6-dp half-way points, where ``np.round``
    alone rounds half-even on the binary product."""
    import numpy as np

    from strava_vector_search_spark.functions.vector import (
        _round6,
        _round6_array,
    )

    ties = [0.1234565, -0.1234565, 0.0000005, -0.0000005, 0.9999995,
            0.0000015, 0.0000025, 2.5e-6, 1e-7, 0.0, -0.0, 1.0]
    x = np.array(ties + [np.nextafter(t, 1) for t in ties]
                 + [np.nextafter(t, -1) for t in ties]
                 + list(np.random.default_rng(0).uniform(-1, 1, 2000)))
    got = _round6_array(x)
    want = [_round6(float(v)) for v in x]
    assert [repr(float(g)) for g in got] == [repr(w) for w in want]
    assert float(_round6_array(np.array([0.0000025]))[0]) == 0.000003
