"""Product quantization: deterministic training, code width, recall vs
brute force, and id-type genericity of the kernels."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from strava_vector_search_spark.io.tables import load_table
from strava_vector_search_spark.operators import pq as PQ
from strava_vector_search_spark.operators.ann import collect_centroids
from strava_vector_search_spark.operators.search import brute_force_topk

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings")


@pytest.fixture(scope="module")
def books(emb):
    return PQ.train_codebooks(emb)


def _probed_ref(spark, cents, qv, nprobe):
    """(cluster) of the query's probed cells by the distributed reference
    probe, ``rank_probed_clusters``: the lanes probe on the driver, so
    the reference is a rule they do not share code with."""
    from strava_vector_search_spark.operators.ann import rank_probed_clusters

    queries = spark.createDataFrame(
        [(0, qv)], "query_id bigint, query_vec array<double>"
    )
    return rank_probed_clusters(cents, queries, nprobe).select("cluster")


def test_training_is_deterministic(emb, books):
    # the memo would make a same-plan retrain vacuously identical — call
    # the uncached trainer so Lloyd's determinism itself stays pinned
    again = PQ._train_codebooks_uncached(
        emb, 8, 256, "embedding", "vec_id", 4096, 15
    )
    assert books.shape == (8, 256, 8)
    assert np.array_equal(books, again)


def test_codebook_memo_keys_on_plan(emb):
    """Same plan -> cache hit (identity); a FILTERED input must retrain,
    never reuse another plan's codebooks. Cached arrays are frozen, so a
    consumer mutating its result raises instead of poisoning later hits."""
    a = PQ.train_codebooks(emb)
    assert PQ.train_codebooks(emb) is a
    with pytest.raises(ValueError):
        a[0, 0, 0] = 0.0
    b = PQ.train_codebooks(emb.filter("vec_id % 2 = 0"))
    assert not np.array_equal(a, b)


def test_codes_are_m_bytes(emb, books):
    codes = PQ.encode_pq(emb, books)
    rows = codes.limit(5).collect()
    assert all(len(r["code"]) == 8 for r in rows)
    assert codes.count() == emb.count()


def test_refined_topk_recall_and_exact_sims(spark, emb, books):
    codes = PQ.encode_pq(emb, books).localCheckpoint()
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 7).head()["embedding"]
    ]
    exact = {
        r["vec_id"]: r["similarity"]
        for r in brute_force_topk(
            emb, qv, k=10, id_col="vec_id", assume_normalized=True
        ).collect()
    }
    approx = {
        r["vec_id"]: r["similarity"]
        for r in PQ.pq_topk_refined(
            emb, codes, books, qv, k=10, n_cand=200
        ).collect()
    }
    common = set(exact) & set(approx)
    assert len(common) >= 8  # recall >= 0.8 (measured 1.0)
    # refine uses the exact scorer: shared hits carry identical values
    assert all(exact[i] == approx[i] for i in common)


def test_string_ids_roundtrip(spark, emb, books):
    sed = emb.select(
        F.concat(F.lit("doc-"), F.col("vec_id")).alias("sid"), "embedding"
    )
    codes = PQ.encode_pq(sed, books, id_col="sid")
    assert codes.schema["sid"].dataType.simpleString() == "string"
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 3).head()["embedding"]
    ]
    cand = PQ.pq_candidates_batch(
        codes, books, [(0, qv)], None, n_cand=5, id_col="sid"
    )
    rows = cand.collect()
    assert len(rows) == 5 and all(r["sid"].startswith("doc-") for r in rows)


def test_encode_keep_cols_carries_metadata(emb, books):
    codes = PQ.encode_pq(emb, books, keep_cols=("label",))
    assert set(codes.columns) == {"vec_id", "label", "code"}
    # the carried label matches the source row's label
    src = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    for r in codes.collect():
        assert r["label"] == src[r["vec_id"]]


def test_ivfpq_equals_pq_within_probed_clusters(spark, emb, books):
    """With the candidate budget covering the probed clusters entirely,
    IVF+PQ must equal exact brute force restricted to those clusters —
    the composition adds pruning, not new approximation."""
    from strava_vector_search_spark.operators.ann import compute_centroids

    codes = PQ.encode_pq(emb, books, keep_cols=("label",)).localCheckpoint()
    cents = compute_centroids(emb, "label").localCheckpoint()
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 3).head()["embedding"]]
    nprobe = 3
    probed = _probed_ref(spark, cents, qv, nprobe)
    in_probe = emb.join(
        F.broadcast(probed), emb["label"] == probed["cluster"], "left_semi"
    )
    n_in_probe = in_probe.count()
    exact = brute_force_topk(
        in_probe, qv, k=10, id_col="vec_id", assume_normalized=True
    ).collect()
    approx = PQ.ivfpq_topk(
        emb, codes, books, qv, k=10, nprobe=nprobe,
        n_cand=n_in_probe,  # full-coverage budget -> zero candidate loss
        centroids=collect_centroids(cents),
    ).collect()
    assert [(r["vec_id"], r["similarity"]) for r in approx] == [
        (r["vec_id"], r["similarity"]) for r in exact
    ]


def test_ivfpq_kernel_runs_at_cluster_width(spark):
    """ivfpq_topk checks the ADC kernel's width on the code scan, before
    the probe's cell filter: a one-partition code table of >= 2048 rows is
    spread round-robin ahead of the kernel."""
    import numpy as np

    rng = np.random.default_rng(3)
    n, m = 2100, 2
    books = rng.normal(size=(m, 4, 2))
    codes = spark.createDataFrame(
        [
            (i, i % 4, bytes(rng.integers(0, 4, m, dtype=np.uint8)))
            for i in range(n)
        ],
        "vec_id long, label int, code binary",
    ).coalesce(1)
    cents = spark.createDataFrame(
        [(c, rng.normal(size=m * 2).tolist()) for c in range(4)],
        "cluster int, centroid array<double>",
    )
    emb = spark.createDataFrame([(0, [1.0] * (m * 2))], "vec_id long, embedding array<double>")
    out = PQ.ivfpq_topk(
        emb, codes, books, [1.0, 0.5, -0.5, 0.25], nprobe=2,
        centroids=collect_centroids(cents),
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    width = spark.sparkContext.defaultParallelism
    assert f"RoundRobinPartitioning({width})" in plan, plan


def test_ivfpq_never_returns_unprobed_cluster(spark, emb, books):
    codes = PQ.encode_pq(emb, books, keep_cols=("label",)).localCheckpoint()
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 7).head()["embedding"]]
    out = PQ.ivfpq_topk(emb, codes, books, qv, k=10, nprobe=2, n_cand=50)
    labels = {
        r["label"]
        for r in out.join(emb.select("vec_id", "label"), "vec_id").collect()
    }
    assert len(labels) <= 2


def test_plan_digest_distinguishes_truncated_wide_plans(spark, emb):
    """Two wide plans whose toString() renders COLLIDE under
    spark.sql.debug.maxToStringFields truncation ('... N more fields')
    must still get distinct cache identities: _plan_digest raises the
    conf for the render (restoring it after) and keys on
    (semanticHash, sha256(full string)) — the silent-collision class the
    canonicalized-string key was meant to eliminate (ADVICE r10)."""
    pad = [F.lit(i).alias(f"c{i}") for i in range(39)]
    wide_a = emb.select("vec_id", "embedding", *pad, F.lit(39).alias("c39"))
    wide_b = emb.select("vec_id", "embedding", *pad, F.lit(-1).alias("c39"))
    key = "spark.sql.debug.maxToStringFields"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "5")
    try:
        ra = wide_a._jdf.queryExecution().analyzed().canonicalized().toString()
        rb = wide_b._jdf.queryExecution().analyzed().canonicalized().toString()
        assert ra == rb, "precondition: raw renders collide under truncation"
        da, db = PQ._plan_digest(wide_a), PQ._plan_digest(wide_b)
        assert da is not None and db is not None
        assert da != db
        assert PQ._plan_digest(wide_a) == da  # deterministic per plan
        # the render-time raise is restored, not leaked
        assert spark.conf.get(key) == "5"
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_pq_index_roundtrip_identity(spark, emb, books, tmp_path):
    """Persisted index == trained index, value for value: codebooks
    (parquet doubles round-trip bit-for-bit), codes (binary), centroids,
    and the SEARCH RESULTS of the loaded path — the build-once/load-many
    contract production serving relies on. Plus load-time validation of
    a corrupt artifact."""
    from strava_vector_search_spark.operators.ann import compute_centroids

    codes = PQ.encode_pq(emb, books, keep_cols=("label",))
    cents = compute_centroids(emb, "label")
    path = str(tmp_path / "pqidx")
    PQ.write_pq_index(
        codes, books, path, id_col="vec_id", cluster_col="label",
        centroids=cents,
    )
    books2, codes2, cents2, meta = PQ.load_pq_index(spark, path)
    assert np.array_equal(books, books2)
    assert not books2.flags.writeable
    assert meta == {
        "m": 8, "k": 256, "sub": 8, "id_col": "vec_id",
        "cluster_col": "label", "stream_batch_col": None,
        "residual": False,
    }
    want = sorted(
        (r["vec_id"], int(r["label"]), r["code"]) for r in codes.collect()
    )
    got = sorted(
        (r["vec_id"], int(r["label"]), r["code"]) for r in codes2.collect()
    )
    assert got == want
    assert sorted(
        (int(r["cluster"]), tuple(r["centroid"])) for r in cents2.collect()
    ) == sorted(
        (int(r["cluster"]), tuple(r["centroid"])) for r in cents.collect()
    )
    qv = [
        float(x) for x in emb.filter(F.col("vec_id") == 7).head()["embedding"]
    ]
    trained = PQ.ivfpq_topk(
        emb, codes, books, qv, k=10, cluster_col="label",
        centroids=collect_centroids(cents),
    ).collect()
    loaded = PQ.ivfpq_topk(
        emb, codes2, books2, qv, k=10, cluster_col="label",
        centroids=collect_centroids(cents2),
    ).collect()
    assert [(r["vec_id"], r["similarity"]) for r in trained] == [
        (r["vec_id"], r["similarity"]) for r in loaded
    ]
    # a truncated codebook table fails loudly at load
    import json
    import os

    with open(os.path.join(path, "_pq_meta"), encoding="ascii") as f:
        bad = json.load(f)
    bad["k"] = 512
    with open(os.path.join(path, "_pq_meta"), "w", encoding="ascii") as f:
        json.dump(bad, f)
    with pytest.raises(ValueError, match="corrupt or foreign"):
        PQ.load_pq_index(spark, path)


# --- residual encoding (IVFADC) --------------------------------------------


def _planted_small(spark, n=640, n_topics=64, dim=16, eps=0.05):
    """Deterministic clustered corpus: vec = center(topic) + eps-noise,
    both md5-derived (the planted-geometry idiom of the 768-d gates,
    shrunk to unit-test size). cluster = the TRUE topic — the coarse
    assignment is exact, so the test isolates the ENCODING comparison
    (raw vs residual PQ) from coarse-quantizer quality."""
    import hashlib

    def u01(prefix, key, i):
        h = hashlib.md5(f"{prefix}_{key}_{i}".encode()).hexdigest()[:6]
        return int(h, 16) / float(16**6) - 0.5

    rows = []
    for doc in range(1, n + 1):
        t = doc % n_topics
        v = [
            u01("c", t, i) + eps * u01("n", doc, i)
            for i in range(1, dim + 1)
        ]
        rows.append((doc, t, v))
    return spark.createDataFrame(
        rows, "vec_id int, cluster int, embedding array<double>"
    )


@pytest.fixture(scope="module")
def planted(spark):
    from strava_vector_search_spark.operators.ann import compute_centroids

    corpus = _planted_small(spark).localCheckpoint()
    cents = compute_centroids(corpus, "cluster").localCheckpoint()
    return corpus, cents


def test_residualize_is_exact_subtract(spark, planted):
    corpus, cents = planted
    res = PQ.residualize(corpus, cents, cluster_col="cluster")
    cent_map = {
        r["cluster"]: np.asarray(r["centroid"]) for r in cents.collect()
    }
    for r in res.limit(20).collect():
        want = np.asarray(r["embedding"], dtype=np.float64) - cent_map[
            r["cluster"]
        ]
        assert np.array_equal(
            np.asarray(r["residual"], dtype=np.float64), want
        )


def test_residual_adc_is_exact_when_residuals_vanish(spark):
    """Corpus where every vector EQUALS its cell centroid: residuals are
    all-zero, the residual codebooks collapse to zero, and residual ADC
    reduces to the per-cell q·centroid constant — i.e. the EXACT inner
    product. The identity that makes the decomposition trustworthy."""
    from strava_vector_search_spark.operators.ann import compute_centroids

    dim, m = 8, 4
    centers = {t: [float(t + 1)] * dim for t in range(4)}
    corpus = spark.createDataFrame(
        [(i, i % 4, centers[i % 4]) for i in range(1, 41)],
        "vec_id int, cluster int, embedding array<double>",
    ).localCheckpoint()
    cents = compute_centroids(corpus, "cluster").localCheckpoint()
    res = PQ.residualize(corpus, cents, cluster_col="cluster")
    books = PQ.train_codebooks(
        res, m=m, vector_col="residual", id_col="vec_id"
    )
    codes = PQ.encode_pq(
        res, books, vector_col="residual", keep_cols=("cluster",)
    ).localCheckpoint()
    qv = [1.0] * dim
    centroid_vecs = {
        r["cluster"]: r["centroid"] for r in cents.collect()
    }
    got = {
        r["vec_id"]: r["adc_score"]
        for r in PQ.pq_candidates_batch(
            codes, books, [(0, qv)], None, n_cand=40,
            centroid_vecs=centroid_vecs,
        ).collect()
    }
    for r in corpus.collect():
        want = round(float(np.dot(qv, r["embedding"])), 6)
        assert got[r["vec_id"]] == want


def test_residual_beats_raw_on_clustered_geometry(spark, planted):
    """The IVFADC claim, measured: over a clustered corpus with identical
    m/k/n_cand budgets, residual encoding yields (a) strictly smaller
    mean |ADC − exact| score error and (b) >= candidate recall at a
    no-slack budget (n_cand == k), for every probed query."""
    corpus, cents = planted
    # kk=16 codebook centroids per 2-d subspace vs 64 planted topic
    # centers: the raw lane CANNOT represent every center (the regime
    # where residual encoding pays); both lanes get the identical budget
    m, kk, k, nprobe = 8, 16, 10, 3
    raw_books = PQ.train_codebooks(corpus, m=m, k=kk, id_col="vec_id")
    raw_codes = PQ.encode_pq(
        corpus, raw_books, keep_cols=("cluster",)
    ).localCheckpoint()
    res = PQ.residualize(corpus, cents, cluster_col="cluster")
    res_books = PQ.train_codebooks(
        res, m=m, k=kk, vector_col="residual", id_col="vec_id"
    )
    res_codes = PQ.encode_pq(
        res, res_books, vector_col="residual", keep_cols=("cluster",)
    ).localCheckpoint()
    err_raw, err_res, rec_raw, rec_res = [], [], 0, 0
    for qid in (3, 7, 11):
        qv = [
            float(x)
            for x in corpus.filter(F.col("vec_id") == qid).head()[
                "embedding"
            ]
        ]
        probed = _probed_ref(spark, cents, qv, nprobe)
        in_probe = corpus.join(
            F.broadcast(probed), "cluster", "left_semi"
        ).localCheckpoint()
        exact = {
            r["vec_id"]: float(np.dot(qv, r["embedding"]))
            for r in in_probe.collect()
        }
        centroid_vecs = {
            r["cluster"]: r["centroid"]
            for r in cents.join(
                F.broadcast(probed), "cluster", "left_semi"
            ).collect()
        }
        raw_adc = {
            r["vec_id"]: r["adc_score"]
            for r in PQ.pq_candidates_batch(
                raw_codes.join(F.broadcast(probed), "cluster", "left_semi"),
                raw_books,
                [(0, qv)],
                None,
                n_cand=len(exact),
                id_col="vec_id",
            ).collect()
        }
        res_adc = {
            r["vec_id"]: r["adc_score"]
            for r in PQ.pq_candidates_batch(
                res_codes.join(F.broadcast(probed), "cluster", "left_semi"),
                res_books,
                [(0, qv)],
                None,
                n_cand=len(exact),
                id_col="vec_id",
                centroid_vecs=centroid_vecs,
            ).collect()
        }
        err_raw += [abs(raw_adc[i] - exact[i]) for i in exact]
        err_res += [abs(res_adc[i] - exact[i]) for i in exact]
        top_exact = set(
            sorted(exact, key=lambda i: (-exact[i], i))[:k]
        )
        rec_raw += len(
            top_exact
            & set(sorted(raw_adc, key=lambda i: (-raw_adc[i], i))[:k])
        )
        rec_res += len(
            top_exact
            & set(sorted(res_adc, key=lambda i: (-res_adc[i], i))[:k])
        )
    assert float(np.mean(err_res)) < 0.5 * float(np.mean(err_raw))
    assert rec_res >= rec_raw


def test_residual_artifact_roundtrip_and_service(spark, planted, tmp_path):
    """residual=True stamps the artifact; attach_pq_index + search_approx
    honor it (the offsets are applied, so a zero-loss candidate budget
    reproduces exact brute force within the probed cells); the batch
    path equals sequential calls. Writing residual codes WITHOUT a
    coarse quantizer is refused."""
    from strava_vector_search_spark.service import SearchService

    corpus, cents = planted
    m = 8
    res = PQ.residualize(corpus, cents, cluster_col="cluster")
    books = PQ.train_codebooks(
        res, m=m, vector_col="residual", id_col="vec_id"
    )
    codes = PQ.encode_pq(
        res, books, vector_col="residual", keep_cols=("cluster",)
    )
    with pytest.raises(ValueError, match="coarse quantizer"):
        PQ.write_pq_index(
            codes, books, str(tmp_path / "bad"), id_col="vec_id",
            residual=True,
        )
    path = str(tmp_path / "residual_ivfpq")
    PQ.write_pq_index(
        codes, books, path, id_col="vec_id", cluster_col="cluster",
        centroids=cents, residual=True,
    )
    _b, _c, _ce, meta = PQ.load_pq_index(spark, path)
    assert meta["residual"] is True
    docs = corpus.select(
        "vec_id", F.concat(F.lit("doc "), F.col("vec_id")).alias("text")
    )
    svc = (
        SearchService(
            spark, docs, id_col="vec_id", search_col="text", dim=16,
            assume_normalized=True,
        )
        .attach_embeddings(
            corpus.select("vec_id", "embedding"), vec_id_col="vec_id"
        )
        .attach_pq_index(path)
    )
    qv = [
        float(x)
        for x in corpus.filter(F.col("vec_id") == 7).head()["embedding"]
    ]
    req = {"query_vec": qv, "limit": 5}
    got = [
        (r["vec_id"], r["similarity"], r["rank"])
        for r in svc.search_approx(req, nprobe=3, n_cand=240).collect()
    ]
    probed = _probed_ref(spark, cents, qv, 3)
    in_probe = corpus.join(F.broadcast(probed), "cluster", "left_semi")
    want = [
        (r["vec_id"], r["similarity"], i + 1)
        for i, r in enumerate(
            brute_force_topk(
                in_probe, qv, k=5, id_col="vec_id",
                assume_normalized=True,
            ).collect()
        )
    ]
    assert got == want
    # TIGHT budget (n_cand == k): now ADC quality decides who survives —
    # with the offsets applied the candidates track the exact top-10
    # closely; a lane that dropped the q·centroid term would pick
    # near-arbitrary rows across the probed cells (residual-only scores
    # carry no topic signal) and fail this overlap floor
    tight = {
        r["vec_id"]
        for r in svc.search_approx(
            {"query_vec": qv, "limit": 10}, nprobe=3, n_cand=10
        ).collect()
    }
    exact10 = {
        r["vec_id"]
        for r in brute_force_topk(
            in_probe, qv, k=10, id_col="vec_id", assume_normalized=True
        ).collect()
    }
    assert len(tight & exact10) >= 8
    # batch == sequential at the tight budget: the batch offset MATRIX
    # and the sequential scalar offsets must encode the same constants
    reqs = [
        {"query_vec": qv, "limit": 10},
        {"query_vec": qv, "limit": 3},
    ]
    batch = svc.search_approx_batch(reqs, nprobe=3, n_cand=10).collect()
    for i, r0 in enumerate(reqs):
        got_i = sorted(
            (r["vec_id"], r["similarity"], r["rank"])
            for r in batch
            if r["request_id"] == i
        )
        want_i = sorted(
            (r["vec_id"], r["similarity"], r["rank"])
            for r in svc.search_approx(r0, nprobe=3, n_cand=10).collect()
        )
        assert got_i == want_i
