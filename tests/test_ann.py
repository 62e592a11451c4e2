from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from strava_vector_search_spark.operators import ann as A
from strava_vector_search_spark.operators.search import brute_force_topk


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def qvec(emb):
    return [float(x) for x in emb.filter(F.col("vec_id") == 11).head()["embedding"]]


def test_centroids_shape_and_determinism(emb):
    c1 = {r["cluster"]: list(r["centroid"]) for r in A.compute_centroids(emb).collect()}
    c2 = {r["cluster"]: list(r["centroid"]) for r in A.compute_centroids(emb).collect()}
    assert c1 == c2
    assert len(c1) == 10  # labels 0..9
    assert all(len(v) == 64 for v in c1.values())


def test_ivf_equals_brute_force_on_probed_clusters(emb, qvec):
    # labels are random (not similarity clusters), so IVF's guarantee here is
    # functional: its result == brute force restricted to the probed clusters
    cents = A.compute_centroids(emb)
    out = A.ivf_topk(
        emb, qvec, k=10, nprobe=3, centroids=A.collect_centroids(cents)
    ).collect()
    assert len(out) == 10
    from strava_vector_search_spark.functions.vector import cosine_similarity_rounded

    qcol = F.array(*[F.lit(float(x)) for x in qvec])
    probed = [
        r["cluster"]
        for r in cents.withColumn(
            "cd", cosine_similarity_rounded(F.col("centroid"), qcol)
        )
        .orderBy(F.desc("cd"), F.asc("cluster"))
        .limit(3)
        .collect()
    ]
    restricted = brute_force_topk(
        emb.filter(F.col("label").isin(probed)), qvec, k=10, id_col="vec_id"
    ).collect()
    assert [r["vec_id"] for r in out] == [r["vec_id"] for r in restricted]


def test_ivf_batch_topk_matches_per_query_ivf(spark, emb):
    """The batched probe must equal looping ivf_topk query-by-query —
    same probing rule, same scorer, same tie-breaks — while costing one
    pruned corpus pass for the whole batch."""
    cents = A.compute_centroids(emb).localCheckpoint(eager=False)
    qids = (3, 11, 19)
    qvecs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id").isin(*qids)).collect()
    }
    queries = spark.createDataFrame(
        [(q, qvecs[q]) for q in qids],
        "query_id bigint, query_vec array<double>",
    )
    batch = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["similarity"])
        for r in A.ivf_batch_topk(
            emb, queries, k=5, nprobe=3, centroids=cents
        ).collect()
    }
    for q in qids:
        single = A.ivf_topk(
            emb, qvecs[q], k=5, nprobe=3,
            centroids=A.collect_centroids(cents),
        ).collect()
        for rank, r in enumerate(single, start=1):
            assert batch[(q, rank)] == (r["vec_id"], r["similarity"])
    assert len(batch) == 5 * len(qids)


def test_ivf_batch_topk_randomized_parity(spark):
    """Seeded randomized corpora (ties, duplicate vectors, skewed
    clusters) — the batch probe must equal the per-query loop on every
    draw, including rank order and similarities. Catches tie-break or
    probe-rule drift a single fixed corpus can miss."""
    import numpy as np

    rng = np.random.default_rng(1234)
    for draw in range(3):
        n, dim, n_clusters = 120, 8, 5
        base = rng.integers(-3, 4, size=(n, dim)).astype(float)
        # duplicate a block of vectors to force exact similarity ties
        base[40:60] = base[0:20]
        rows = [
            (i, [float(x) for x in base[i]], int(i % n_clusters))
            for i in range(n)
            if any(base[i])  # avoid zero vectors (ANSI 0/0)
        ]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label int"
        )
        cents = A.compute_centroids(emb).localCheckpoint(eager=False)
        qids = [int(q) for q in rng.choice(n, size=2, replace=False)]
        qvecs = {q: [float(x) for x in base[q]] for q in qids}
        queries = spark.createDataFrame(
            [(q, qvecs[q]) for q in qids if any(qvecs[q])],
            "query_id bigint, query_vec array<double>",
        )
        batch = {}
        for r in A.ivf_batch_topk(
            emb, queries, k=7, nprobe=2, centroids=cents
        ).collect():
            batch[(r["query_id"], r["rank"])] = (r["vec_id"], r["similarity"])
        n_expected = 0
        for r in queries.collect():
            q = r["query_id"]
            single = A.ivf_topk(
                emb, list(r["query_vec"]), k=7, nprobe=2,
                centroids=A.collect_centroids(cents),
            ).collect()
            n_expected += len(single)
            for rank, s in enumerate(single, start=1):
                assert batch[(q, rank)] == (s["vec_id"], s["similarity"]), (
                    draw, q, rank,
                )
        assert len(batch) == n_expected


def test_ivf_batch_topk_skips_null_vectors(spark):
    """A probed cluster holding a NULL-embedding row must not pad the
    batch result with a null-similarity hit when candidates < k — the
    single-query path (brute_force_topk) filters nulls, and the batch
    path must match it row-for-row."""
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.9, 0.1], 0),
        (99, None, 0),
        (2, [0.0, 1.0], 1),
        (3, [0.1, 0.9], 1),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    queries = spark.createDataFrame(
        [(7, [1.0, 0.0])], "query_id bigint, query_vec array<double>"
    )
    out = A.ivf_batch_topk(emb, queries, k=10, nprobe=1).collect()
    ids = [r["vec_id"] for r in out]
    assert 99 not in ids
    assert sorted(ids) == [0, 1]  # only cluster 0's scorable rows
    single = A.ivf_topk(emb, [1.0, 0.0], k=10, nprobe=1).collect()
    assert ids == [r["vec_id"] for r in single]


def test_rank_probed_clusters_matches_single_query_probe(emb, qvec, spark):
    cents = A.compute_centroids(emb).localCheckpoint(eager=False)
    from strava_vector_search_spark.functions.vector import (
        cosine_similarity_rounded,
    )

    qcol = F.array(*[F.lit(float(x)) for x in qvec])
    expected = [
        r["cluster"]
        for r in cents.withColumn(
            "cd", cosine_similarity_rounded(F.col("centroid"), qcol)
        )
        .orderBy(F.desc("cd"), F.asc("cluster"))
        .limit(3)
        .collect()
    ]
    queries = spark.createDataFrame(
        [(0, qvec)], "query_id bigint, query_vec array<double>"
    )
    got = [
        r["cluster"]
        for r in A.rank_probed_clusters(cents, queries, 3)
        .orderBy(F.desc("cdist"), F.asc("cluster"))
        .collect()
    ]
    assert got == expected


@pytest.mark.parametrize("dim", [64, 768])
def test_probe_local_matches_rank_probed_clusters(spark, dim):
    """The driver probe is the distributed probe: at every nprobe from 1
    to all cells, each query's probed cells (in rank order) and their
    rounded cosines are identical, and so are the cosines before
    rounding. The inputs carry exact ties: cells 5 and 2 share one
    centroid and several queries equal a centroid, so a tie broken
    towards the higher id, or a cosine one ulp off (a pairwise instead
    of a left-fold sum), fails here. Cells are listed out of id order."""
    import numpy as np

    from strava_vector_search_spark.functions.vector import (
        cosine_similarity,
        cosine_similarity_local,
        cosine_similarity_rounded_local,
    )

    rng = np.random.default_rng(dim)
    ids = [7, 5, 0, 2, 9, 3]
    vecs = rng.normal(size=(len(ids), dim))
    vecs[3] = vecs[1]  # cell 2 duplicates cell 5
    cents = spark.createDataFrame(
        [(c, v.tolist()) for c, v in zip(ids, vecs)],
        "cluster int, centroid array<double>",
    )
    qv = [v.tolist() for v in rng.normal(size=(12, dim))]
    qv += [vecs[j].tolist() for j in (1, 3, 0)]
    qv += [(vecs[1] + 1e-3 * rng.normal(size=dim)).tolist()]
    queries = spark.createDataFrame(
        list(enumerate(qv)), "query_id bigint, query_vec array<double>"
    )
    ranked: dict[int, list] = {}
    for r in (
        A.rank_probed_clusters(cents, queries, len(ids))
        .orderBy("query_id", F.desc("cdist"), F.asc("cluster"))
        .collect()
    ):
        ranked.setdefault(r["query_id"], []).append((r["cluster"], r["cdist"]))
    local = A.collect_centroids(cents)
    assert local.clusters == sorted(ids)
    pos = {c: j for j, c in enumerate(local.clusters)}
    raw = cosine_similarity_local(np.asarray(qv), local.vectors)
    for r in (
        cents.crossJoin(F.broadcast(queries))
        .select("query_id", "cluster",
                cosine_similarity(F.col("centroid"), F.col("query_vec")).alias("c"))
        .collect()
    ):
        assert raw[r["query_id"], pos[r["cluster"]]] == r["c"], r
    cd = cosine_similarity_rounded_local(np.asarray(qv), local.vectors)
    for q, want in ranked.items():
        assert [cd[q, pos[c]] for c, _ in want] == [d for _, d in want], q
    # the duplicated cell ties on every query; the lower id, 2, leads
    for q in range(len(qv)):
        order = [c for c, _ in ranked[q]]
        assert order.index(2) + 1 == order.index(5), (q, order)
    for nprobe in range(1, len(ids) + 1):
        got = A.probe_local(local, qv, nprobe)
        want = [[c for c, _ in ranked[q][:nprobe]] for q in range(len(qv))]
        assert got == want, nprobe


def test_probe_local_refuses_what_cannot_be_ranked():
    import numpy as np

    with pytest.raises(ValueError, match="cluster 4"):
        A._local_centroids([1, 4], np.array([[1.0, 0.0], [0.0, 0.0]]))
    with pytest.raises(ValueError, match="repeats clusters \\[1\\]"):
        A._local_centroids([1, 1], np.eye(2))
    cents = A._local_centroids([1, 4], np.eye(2))
    with pytest.raises(ValueError, match="query 1 .* norm 0"):
        A.probe_local(cents, [[1.0, 0.0], [0.0, 0.0]], 1)
    with pytest.raises(ValueError, match="3 values"):
        A.probe_local(cents, [[1.0, 0.0, 0.0]], 1)
    assert A.probe_local(cents, [[0.0, 2.0], [1.0, 1.0]], 1) == [[4], [1]]


def test_read_centroids_local_runs_no_job(spark, tmp_path):
    """The pyarrow loader returns what Spark wrote, sorted by cluster,
    and starts no Spark job doing it."""
    import numpy as np

    path = str(tmp_path / "cents")
    spark.createDataFrame(
        [(3, [0.5, -1.25]), (1, [2.0, 0.125])],
        "cluster int, centroid array<double>",
    ).write.parquet(path)
    sc = spark.sparkContext
    group = "test_read_centroids_local_runs_no_job"
    sc.setJobGroup(group, "driver-side centroid load")
    try:
        got = A.read_centroids_local(path)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert got.clusters == [1, 3]
    assert np.array_equal(got.vectors, [[2.0, 0.125], [0.5, -1.25]])


def test_per_query_ivf_lanes_plan_without_jobs(spark, emb, qvec):
    """ivf_topk and ivfpq_topk probe against centroids the caller holds:
    building either result DataFrame starts no Spark job, so a gate that
    collects its centroids once pays no collect per query."""
    from strava_vector_search_spark.operators import pq as PQ

    local = A.collect_centroids(A.compute_centroids(emb))
    books = PQ.train_codebooks(emb)
    # spread before the group, as an attached index is: the kernel's width
    # check then needs no count
    codes = (
        PQ.encode_pq(emb, books, keep_cols=("label",))
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint()
    )
    sc = spark.sparkContext
    group = "test_per_query_ivf_lanes_plan_without_jobs"
    sc.setJobGroup(group, "per-query IVF planning")
    try:
        ivf = A.ivf_topk(emb, qvec, k=10, nprobe=3, centroids=local)
        ivfpq = PQ.ivfpq_topk(
            emb, codes, books, qvec, k=10, nprobe=3, n_cand=50,
            centroids=local,
        )
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        assert len(ivf.collect()) == 10
        assert len(ivfpq.collect()) == 10
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_ivf_batch_topk_indexed_prunes_and_matches(spark, emb, tmp_path):
    """The indexed batch probe must (a) equal the in-memory batch probe
    row-for-row and (b) push the probed-cluster union into the scan as
    PartitionFilters — unprobed clusters are never read."""
    path = str(tmp_path / "bivf")
    A.write_ivf_index(emb, path, "label")
    cents = A.compute_centroids(emb).localCheckpoint(eager=False)
    A.write_ivf_centroids(cents, path)
    qids = (3, 19)
    qvecs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id").isin(*qids)).collect()
    }
    rows = [(q, qvecs[q]) for q in qids]
    queries = spark.createDataFrame(
        rows, "query_id bigint, query_vec array<double>"
    )
    out = A.ivf_batch_topk_indexed(spark, path, rows, k=5, nprobe=2)
    got = sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["similarity"])
        for r in out.collect()
    )
    mem = sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["similarity"])
        for r in A.ivf_batch_topk(
            emb, queries, k=5, nprobe=2, centroids=cents
        ).collect()
    )
    assert got == mem and len(got) == 10
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    assert re.search(r"PartitionFilters: \[.*label.* IN ", plan), plan[:2000]


def test_ivf_partition_pruned_layout(spark, emb, tmp_path):
    path = str(tmp_path / "ivf")
    A.write_ivf_index(emb, path, "label")
    back = spark.read.parquet(path)
    plan = (
        back.filter(F.col("label") == 3)._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan  # cluster filter prunes files, not rows
    assert back.count() == emb.count()


def test_kmeans_assign_improves_ivf_recall(spark, emb, qvec):
    clustered = A.kmeans_assign(emb, num_clusters=8, seed=42).cache()
    assert clustered.select("cluster").distinct().count() <= 8
    exact = [r["vec_id"] for r in brute_force_topk(
        emb, qvec, k=10, id_col="vec_id", assume_normalized=True
    ).collect()]
    approx = [
        r["vec_id"]
        for r in A.ivf_topk(
            clustered, qvec, k=10, nprobe=3, cluster_col="cluster"
        ).collect()
    ]
    assert approx[0] == 11  # with geometric clusters the self-hit survives
    recall = len(set(exact) & set(approx)) / 10
    # KMeans quantization groups similar vectors: probing 3/8 clusters must
    # recover a solid share of the true top-10
    assert recall >= 0.5


def test_lsh_near_dup_agrees_with_exact(spark, emb):
    from strava_vector_search_spark.operators.dedup import embedding_near_dup_blocked

    exact = {
        (r["id1"], r["id2"])
        for r in embedding_near_dup_blocked(emb, threshold=0.4).collect()
    }
    approx = {
        (r["id1"], r["id2"])
        for r in A.lsh_near_dup_pairs(
            emb, max_distance=1.1, num_hash_tables=4, bucket_length=0.7
        ).filter(F.col("cosine") >= 0.4).collect()
    }
    assert approx <= exact or len(approx - exact) == 0
    if exact:
        recall = len(approx & exact) / len(exact)
        assert recall >= 0.6


def test_srp_band_rows_blas_matches_expression(emb):
    expr = {tuple(r) for r in A.srp_band_rows(emb).collect()}
    blas = {tuple(r) for r in A.srp_band_rows_blas(emb).collect()}
    assert expr == blas  # integer arithmetic both sides: bit-identical


def test_srp_near_dup_is_verified_subset_with_high_recall(emb):
    from strava_vector_search_spark.operators.dedup import embedding_near_dup_blocked

    exact = {
        (r["id1"], r["id2"]): r["cosine"]
        for r in embedding_near_dup_blocked(emb, threshold=0.4).collect()
    }
    srp = {
        (r["id1"], r["id2"]): r["cosine"]
        for r in A.srp_near_dup_pairs(emb, threshold=0.4, bits=64, bands=16).collect()
    }
    # every emitted pair is exactly verified: subset of exact, same cosines
    assert set(srp) <= set(exact)
    assert all(abs(srp[p] - exact[p]) < 1e-9 for p in srp)
    assert len(srp) / len(exact) >= 0.9  # r=4 x 16 bands: high-recall regime


def test_srp_signatures_are_map_only(emb):
    plan = (
        A.srp_band_rows(emb)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan  # signatures never shuffle


def test_srp_query_keys_match_executor_band_rows(emb, qvec):
    # driver-side Python integer pipeline == executor expression pipeline
    py_keys = A.srp_query_keys(qvec, bits=64, bands=16)
    spark_keys = {
        r["band"]: r["key"]
        for r in A.srp_band_rows(emb.filter(F.col("vec_id") == 11)).collect()
    }
    assert [spark_keys[b] for b in range(16)] == py_keys


def test_srp_topk_exact_scores_and_recall(emb, qvec):
    from strava_vector_search_spark.operators.search import brute_force_topk

    exact = {
        r["vec_id"]: r["similarity"]
        for r in brute_force_topk(
            emb, qvec, k=500, id_col="vec_id", assume_normalized=True,
            predicate=F.col("vec_id") != 11,
        ).collect()
    }
    top10 = sorted(exact, key=lambda i: (-exact[i], i))[:10]
    srp = A.srp_topk(emb, qvec, k=10, bands=16, predicate=F.col("vec_id") != 11).collect()
    assert len(srp) == 10
    # approximate in recall only: every returned score is the exact cosine
    assert all(abs(r["similarity"] - exact[r["vec_id"]]) < 1e-9 for r in srp)
    assert len(set(top10) & {r["vec_id"] for r in srp}) >= 6
    # and the bucket filter actually prunes (not a full scan in disguise)
    n_cand = A.srp_topk(emb, qvec, k=10**6, bands=16, predicate=F.col("vec_id") != 11).count()
    assert n_cand < len(exact)


def test_srp_topk_kernels_agree(emb, qvec):
    blas = [tuple(r) for r in A.srp_topk(emb, qvec, k=10, bands=16, predicate=F.col("vec_id") != 11, kernel="blas").collect()]
    expr = [tuple(r) for r in A.srp_topk(emb, qvec, k=10, bands=16, predicate=F.col("vec_id") != 11, kernel="expr").collect()]
    assert blas == expr


def test_srp_index_pushdown_and_parity(spark, emb, qvec, tmp_path):
    path = str(tmp_path / "srp_idx")
    A.write_srp_index(emb, path)
    out = A.srp_topk_indexed(spark, path, qvec, k=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the collide predicate must reach the parquet scan
    assert "PushedFilters: [Or(" in plan or "PushedFilters: [EqualTo(k0" in plan
    # same rows as the computed-signature path (self-hit included here)
    live = A.srp_topk(emb, qvec, k=10, bands=16)
    assert [tuple(r) for r in out.collect()] == [tuple(r) for r in live.collect()]


def test_srp_kernels_agree_on_adversarial_boundary_vectors(spark):
    # vectors engineered to put x*127 at .5 rounding boundaries and the
    # per-bit dots near 0 — the exact places where a half-even/half-up or
    # last-ulp mismatch between Python, Spark codegen, and numpy would flip
    # a bit and silently desync the three implementations
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    for i in range(64):
        if i % 3 == 0:
            v = ((rng.integers(-100, 100, 64) + 0.5) / 127.0).tolist()  # q at k+.5
        elif i % 3 == 1:
            v = (rng.standard_normal(64) * 1e-3).tolist()  # dots hover near 0
        else:
            v = rng.standard_normal(64).tolist()
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    expr = {}
    for r in A.srp_band_rows(df).collect():
        expr.setdefault(r["_id"], {})[r["band"]] = r["key"]
    blas = {}
    for r in A.srp_band_rows_blas(df).collect():
        blas.setdefault(r["_id"], {})[r["band"]] = r["key"]
    assert expr == blas
    for i, v in rows:
        py = A.srp_query_keys(v)
        assert [expr[i][b] for b in range(16)] == py, f"vec {i} desync"


def test_split_oversized_cells_balances_skewed_layout(spark):
    """The balance guard: a corpus where one learned cell swallows ~75%
    of rows gets re-split so every cell's fraction lands under (or
    near) the cap, well-sized cells keep their ids, no rows are lost,
    and new ids never collide with survivors."""
    import numpy as np

    from strava_vector_search_spark.operators import ann as A

    rng = np.random.default_rng(7)
    rows = []
    # 300 rows in one loose blob at the origin; 100 spread far away
    for i in range(300):
        rows.append((i, (rng.standard_normal(16) * 0.5).tolist()))
    for i in range(300, 400):
        c = rng.standard_normal(16) * 20
        rows.append((i, (c + rng.standard_normal(16) * 0.1).tolist()))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>",
    )
    clustered = A.kmeans_assign(df, num_clusters=4, seed=1)
    fracs = {
        r["cluster"]: r["n"] / 400
        for r in clustered.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert max(fracs.values()) > 0.5, "fixture should start skewed"
    split = A.split_oversized_cells(clustered, max_frac=0.3)
    out_fracs = {
        r["cluster"]: r["n"] / 400
        for r in split.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # KMeans children of a uniform blob are roughly spatial halves, not
    # exact thirds — allow modest overshoot of the cap
    assert max(out_fracs.values()) <= 0.4, out_fracs
    assert split.count() == 400
    # rows of well-sized cells keep their assignment verbatim
    keep_ids = [c for c, f in fracs.items() if f <= 0.3]
    before = {
        (r["vec_id"], r["cluster"])
        for r in clustered.filter(
            F.col("cluster").isin(keep_ids)
        ).collect()
    }
    after = {
        (r["vec_id"], r["cluster"])
        for r in split.filter(F.col("cluster").isin(keep_ids)).collect()
    }
    assert before == after
    # new sub-cell ids start past the old max
    old_max = max(fracs)
    new_ids = set(out_fracs) - set(fracs)
    assert new_ids and all(i > old_max for i in new_ids)


def test_split_oversized_cells_noop_when_balanced(spark):
    import numpy as np

    from strava_vector_search_spark.operators import ann as A

    rng = np.random.default_rng(3)
    df = spark.createDataFrame(
        [
            (i, [float(x) for x in rng.standard_normal(8)])
            for i in range(200)
        ],
        "vec_id long, embedding array<double>",
    )
    clustered = A.kmeans_assign(df, num_clusters=8, seed=2)
    split = A.split_oversized_cells(clustered, max_frac=0.5)
    assert sorted(split.collect()) == sorted(clustered.collect())
