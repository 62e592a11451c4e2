"""Streaming IVF+PQ maintenance at production width (768): an appended
vector gets codes from the FROZEN codebooks through a live foreachBatch
stream (TARGET_LAG applied to the compressed index), the appended codes
are bit-identical to a direct batch encode against the same artifact
(encode-only — nothing retrains in-stream), replays are idempotent, and
the appended doc is searchable through the loaded artifact."""

from __future__ import annotations

import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from strava_vector_search_spark.operators import pq as PQ
from strava_vector_search_spark.operators.ann import collect_centroids
from strava_vector_search_spark.streaming.pq_stream import (
    init_pq_stream_index,
    process_pq_batch,
    start_pq_stream,
)

DIM = 768


def _vec(kind: int, salt: int) -> list[float]:
    """Deterministic integer-valued 768-vectors (as floats) in two
    well-separated families: family 0 lives on the first half of the
    dims, family 1 on the second; ``salt`` rotates the value pattern so
    every vector is distinct."""
    v = [0.0] * DIM
    base = 0 if kind == 0 else DIM // 2
    for i in range(DIM // 2):
        v[base + i] = float(10 + ((i + salt) % 7))
    # unique spike per salt: the mod-7 cycle alone repeats every 7 salts
    # (two same-family vectors with salt ≡ salt' mod 7 would be equal)
    v[base + (salt * 13) % (DIM // 2)] += 50.0
    return v


@pytest.fixture(scope="module")
def artifact(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pqstream") / "idx")
    base = spark.createDataFrame(
        [(i, _vec(i % 2, i)) for i in range(24)],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [float(x) for x in _vec(0, 3)]),
         (1, [float(x) for x in _vec(1, 3)])],
        "cluster int, centroid array<double>",
    )
    books = PQ.train_codebooks(base, m=96, id_col="vec_id")
    init_pq_stream_index(
        base, books, cents, path, id_col="vec_id", cluster_col="cluster"
    )
    return path, books, cents


def test_stream_appends_codes_from_frozen_codebooks(
    spark, artifact, tmp_path
):
    path, books, cents = artifact
    incoming = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    ).write.parquet(incoming)

    q = start_pq_stream(
        spark,
        incoming,
        path,
        ckpt,
        schema="vec_id long, embedding array<double>",
        trigger_seconds=1,
    )
    try:
        new_rows = [(100, _vec(0, 11)), (101, _vec(1, 12))]
        spark.createDataFrame(
            new_rows, "vec_id long, embedding array<double>"
        ).write.mode("append").parquet(incoming)
        deadline = time.time() + 60
        got = {}
        while time.time() < deadline:
            _b, codes, _c, _m = PQ.load_pq_index(spark, path)
            got = {
                int(r["vec_id"]): (r["code"], int(r["cluster"]))
                for r in codes.filter(
                    F.col("vec_id").isin(100, 101)
                ).collect()
            }
            if len(got) == 2:
                break
            time.sleep(1)
        assert len(got) == 2, "appended vectors never reached the index"
    finally:
        q.stop()

    # encode-only parity: the streamed codes equal a direct batch encode
    # against the SAME frozen artifact (no in-stream retrain could have
    # happened, or these would differ)
    loaded_books, codes, loaded_cents, meta = PQ.load_pq_index(spark, path)
    assert meta["stream_batch_col"] == "_sb"
    assert np.array_equal(loaded_books, books)
    from strava_vector_search_spark.operators.ann import assign_to_centroids

    direct = spark.createDataFrame(
        [(100, _vec(0, 11)), (101, _vec(1, 12))],
        "vec_id long, embedding array<double>",
    )
    assigned = assign_to_centroids(direct, cents, "embedding", "cluster")
    want = {
        int(r["vec_id"]): (r["code"], int(r["cluster"]))
        for r in PQ.encode_pq(
            assigned, books, id_col="vec_id", keep_cols=("cluster",)
        ).collect()
    }
    assert got == want
    # families land in their own clusters
    assert got[100][1] == 0 and got[101][1] == 1

    # the appended doc is SEARCHABLE through the loaded artifact: its own
    # vector retrieves it at similarity 1.0
    emb_all = spark.createDataFrame(
        [(i, _vec(i % 2, i)) for i in range(24)]
        + [(100, _vec(0, 11)), (101, _vec(1, 12))],
        "vec_id long, embedding array<double>",
    )
    qv = [float(x) for x in _vec(1, 12)]
    top = PQ.ivfpq_topk(
        emb_all, codes, loaded_books, qv, k=1, nprobe=1, n_cand=5,
        cluster_col="cluster", centroids=collect_centroids(loaded_cents),
    ).collect()
    # note: emb_all lacks cluster, but ivfpq_topk prunes via the CODE
    # table's cluster column and rescores by id semi-join — the fat
    # table needs no cluster column. Rescore is assume_normalized (dot):
    # all family-1 vectors share one value multiset, so the self-dot
    # (sum of squares) is the strict argmax (rearrangement inequality)
    assert top and top[0]["vec_id"] == 101
    assert top[0]["similarity"] == round(sum(x * x for x in qv), 6)


def test_replayed_batch_is_idempotent(spark, artifact):
    path, books, cents = artifact
    batch = spark.createDataFrame(
        [(200, _vec(1, 5))], "vec_id long, embedding array<double>"
    )
    process_pq_batch(batch, 7, path, books, cents)
    _b, codes, _c, _m = PQ.load_pq_index(spark, path)
    n1 = codes.count()
    one = codes.filter(F.col("vec_id") == 200).collect()
    process_pq_batch(batch, 7, path, books, cents)  # at-least-once replay
    _b, codes2, _c, _m = PQ.load_pq_index(spark, path)
    assert codes2.count() == n1
    two = codes2.filter(F.col("vec_id") == 200).collect()
    assert [(r["code"], r["cluster"]) for r in one] == [
        (r["code"], r["cluster"]) for r in two
    ]


def test_start_refuses_plain_layout(spark, tmp_path):
    base = spark.createDataFrame(
        [(i, _vec(i % 2, i)) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    books = PQ.train_codebooks(base, m=96, id_col="vec_id")
    codes = PQ.encode_pq(base, books, id_col="vec_id")
    plain = str(tmp_path / "plain_idx")
    PQ.write_pq_index(codes, books, plain, id_col="vec_id")
    with pytest.raises(ValueError, match="not" + " stream-managed"):
        start_pq_stream(
            spark, str(tmp_path / "in"), plain, str(tmp_path / "ck"),
            schema="vec_id long, embedding array<double>",
        )
