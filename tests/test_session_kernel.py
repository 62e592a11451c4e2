"""The session-kernel memo in queries.py: one entry per (kernel, session,
sf_dir, args), served as the identical object while the sf_dir's parquet
files are unchanged, rebuilt when they are rewritten."""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from strava_vector_search_spark.queries import _query_vec, _token_arrays


def _copy_sf(src: str, dst) -> str:
    # file by file: the source tree may be read-only, and copytree would
    # carry that mode over to the copy
    os.makedirs(dst)
    for name in os.listdir(src):
        shutil.copyfile(os.path.join(src, name), os.path.join(dst, name))
    return str(dst)


def _set_text(sf_dir: str, doc_id: int, text: str) -> None:
    path = os.path.join(sf_dir, "documents.parquet")
    df = pd.read_parquet(path)
    df.loc[df["doc_id"] == doc_id, "text"] = text
    df.to_parquet(path, index=False)


def _scale_vec(sf_dir: str, vec_id: int, factor: float) -> None:
    path = os.path.join(sf_dir, "embeddings.parquet")
    df = pd.read_parquet(path)
    df["embedding"] = [
        e * factor if v == vec_id else e
        for v, e in zip(df["vec_id"], df["embedding"])
    ]
    df.to_parquet(path, index=False)


def _tokens_of(spark, sf_dir: str, doc_id: int) -> list[str]:
    (row,) = (
        _token_arrays(spark, sf_dir)
        .filter(F.col("doc_id") == doc_id)
        .select("_ts")
        .collect()
    )
    return list(row["_ts"])


def test_regenerated_sf_dir_rebuilds_kernels(spark, sf_dir, tmp_path):
    sf = _copy_sf(sf_dir, tmp_path / "sf")
    before_tokens = _tokens_of(spark, sf, 1)
    before_vec = _query_vec(spark, sf, 1)
    assert before_tokens != ["zzfresh", "tokens"]

    _set_text(sf, 1, "zzfresh tokens")
    _scale_vec(sf, 1, 2.0)

    assert _tokens_of(spark, sf, 1) == ["zzfresh", "tokens"]
    after_vec = _query_vec(spark, sf, 1)
    assert after_vec == pytest.approx([2.0 * x for x in before_vec])


def test_repeat_call_returns_identical_object(spark, sf_dir, tmp_path):
    sf = _copy_sf(sf_dir, tmp_path / "sf")
    toks = _token_arrays(spark, sf)
    assert _token_arrays(spark, sf) is toks
    assert _token_arrays(spark, sf + "/") is toks
    qv = _query_vec(spark, sf, 0)
    assert _query_vec(spark, sf) is qv
    assert _query_vec(spark, sf, vec_id=0) is qv
    assert _query_vec(spark, sf, 1) is not qv


def test_two_sf_dirs_never_share_an_entry(spark, sf_dir, tmp_path):
    a = _copy_sf(sf_dir, tmp_path / "a")
    b = _copy_sf(sf_dir, tmp_path / "b")
    _set_text(b, 1, "zzother")
    _scale_vec(b, 1, 3.0)

    assert _token_arrays(spark, a) is not _token_arrays(spark, b)
    assert _tokens_of(spark, a, 1) != _tokens_of(spark, b, 1)
    assert _tokens_of(spark, b, 1) == ["zzother"]
    qa, qb = _query_vec(spark, a, 1), _query_vec(spark, b, 1)
    assert qb == pytest.approx([3.0 * x for x in qa])


def test_other_sessions_entries_are_evicted(spark, sf_dir, tmp_path):
    from strava_vector_search_spark.queries import _SESSION_KERNELS

    sf = _copy_sf(sf_dir, tmp_path / "sf")
    stale = ("_query_vec", "app-of-a-stopped-session", sf, 0)
    _SESSION_KERNELS[stale] = ("fingerprint", [0.0])
    _query_vec(spark, sf, 0)
    assert stale not in _SESSION_KERNELS
    app_id = spark.sparkContext.applicationId
    assert {k[1] for k in _SESSION_KERNELS} == {app_id}
