"""Lean bench-path variants of the heaviest gates.

The property gates in ``queries.py`` for the composed ANN recipes
(``ann_pq_topk``, ``ann_kmeans_ivf_topk``, ``ann_ivfpq_topk``) and for
incremental connected components (``dd_cc_incremental``) intentionally run
an exhaustive verification harness: 5 probe queries, each computing the
brute-force exact answer NEXT TO the approximate path, with per-query
collects. That is the right shape for a correctness gate and the wrong
shape for a benchmark — the benched number ends up measuring the
verification harness (~25 s of the r02 bench total), not the operator.

This module holds the operator-path-only twins: ONE query / ONE
incremental batch through exactly the same operator code, no exact-answer
replay. ``bench.py`` substitutes these for the gate callables of the same
name; the driver's correctness check still runs the full gates from
``queries()``, so the exhaustive comparison stays in the correctness path
(VERDICT r02 item 2).

Reference scope anchor: the composed recipes are the scale path the
reference prescribes for "1M+ documents: consider approximate search"
(``02_method2_manual_vector_embedding.sql:438-442``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from strava_vector_search_spark.io.tables import load_table
from strava_vector_search_spark.queries import _query_vec


def ann_pq_topk_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ operator path once: train, encode, ADC-scan + exact rescore, one
    query. Same code path as the ``ann_pq_topk`` gate minus the 5-query
    brute-force comparison."""
    from strava_vector_search_spark.operators import pq as PQ

    emb = load_table(spark, sf_dir, "embeddings")
    books = PQ.train_codebooks(emb)
    codes = PQ.encode_pq(emb, books)
    qv = _query_vec(spark, sf_dir, 3)
    return PQ.pq_topk_refined(emb, codes, books, qv, k=10, n_cand=200)


def ann_kmeans_ivf_topk_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMeans-coarse-quantizer IVF operator path once: assign, centroids,
    one probed top-k. No all-cluster brute-force baseline replay."""
    from strava_vector_search_spark.operators.ann import (
        collect_centroids,
        compute_centroids,
        ivf_topk,
        kmeans_assign,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    clustered = kmeans_assign(emb, num_clusters=8, seed=42)
    cents = collect_centroids(compute_centroids(clustered, "cluster"))
    qv = _query_vec(spark, sf_dir, 3)
    return ivf_topk(
        clustered,
        qv,
        k=10,
        nprobe=5,
        cluster_col="cluster",
        id_col="vec_id",
        centroids=cents,
    )


def ann_kmeans_ivf_topk_768_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned-centroid 768-d IVF operator path once: the prebuilt
    session-kernel index (_kmeans_ivf_768) + ONE batched pruned pass for
    the 5 query vectors via ivf_batch_topk. No unpruned brute-force
    baseline replay, no scan-fraction accounting — that harness stays in
    the correctness gate."""
    from strava_vector_search_spark.operators.ann import ivf_batch_topk
    from strava_vector_search_spark.queries import _kmeans_ivf_768

    clustered, cents = _kmeans_ivf_768(spark, sf_dir)
    qids = (3, 7, 11, 19, 23)
    qrows = (
        clustered.filter(F.col("doc_id").isin(*qids))
        .select("doc_id", "embedding")
        .collect()
    )
    queries = spark.createDataFrame(
        [(int(r["doc_id"]), [float(x) for x in r["embedding"]]) for r in qrows],
        "query_id bigint, query_vec array<double>",
    )
    return ivf_batch_topk(
        clustered,
        queries,
        k=10,
        nprobe=4,
        cluster_col="cluster",
        id_col="doc_id",
        centroids=cents,
    )


def _loaded_pq768(spark: SparkSession, sf_dir: str):
    """(books, codes, cents, emb) — the PERSISTED IVF+PQ-768 artifact
    (centroids read to the driver with pyarrow, no job)
    (built once per corpus generation under the fingerprinted /tmp
    layout, then LOADED — the production session shape the
    ann_ivfpq_persisted_768 gate pins) plus the in-session fat vector
    table for exact rescoring. Shared by the PQ-768 lean twins so the
    bench measures load-and-serve, not per-session retraining."""
    from strava_vector_search_spark.operators import pq as PQ
    from strava_vector_search_spark.queries import (
        _md5_emb_768_unit_stored,
        _pq768_path,
    )

    path = _pq768_path(spark, sf_dir)
    import os

    from strava_vector_search_spark.operators.ann import read_centroids_local

    books, codes, _cents, _meta = PQ.load_pq_index(spark, path)
    cents = read_centroids_local(os.path.join(path, "centroids"))
    # fat vectors for the exact rescore come off disk too — a serving
    # session loads the stored corpus table, it never re-embeds
    return books, codes, cents, _md5_emb_768_unit_stored(spark, sf_dir)


def svc_search_approx_768_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate service serve path once: attach the persisted IVF+PQ
    artifact, one filtered search_approx. The exact-path comparison
    harness stays in the correctness gate."""
    from strava_vector_search_spark.queries import _pq768_path, _svc_768

    svc = _svc_768(spark, sf_dir, unit=True).attach_pq_index(
        _pq768_path(spark, sf_dir)
    )
    qrow = svc.embeddings.filter(F.col("doc_id") == 3).head()
    qv = [float(x) for x in qrow["embedding"]]
    return svc.search_approx(
        {
            "query_vec": qv,
            "columns": ["lang", "n_chars"],
            "filter": {"@gte": {"n_chars": 150}},
            "limit": 10,
        },
        nprobe=4,
        n_cand=200,
    )


def svc_search_approx_batch_768_bench(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Batched approximate serve path once: attach the persisted IVF+PQ
    artifact, ONE search_approx_batch over 3 requests (two sharing a
    filter body -> one shared ADC pass). The sequential-parity harness
    stays in the correctness gate."""
    from strava_vector_search_spark.queries import _pq768_path, _svc_768

    svc = _svc_768(spark, sf_dir, unit=True).attach_pq_index(
        _pq768_path(spark, sf_dir)
    )
    qrows = {
        r["doc_id"]: [float(x) for x in r["embedding"]]
        for r in svc.embeddings.filter(F.col("doc_id").isin(3, 7)).collect()
    }
    return svc.search_approx_batch(
        [
            {"query_vec": qrows[3], "limit": 10},
            {
                "query_vec": qrows[7],
                "filter": {"@gte": {"n_chars": 150}},
                "limit": 8,
            },
            {
                "query_vec": qrows[3],
                "filter": {"@gte": {"n_chars": 150}},
                "limit": 5,
            },
        ],
        nprobe=4,
        n_cand=200,
    )


def ann_pq_topk_768_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-768 query path once from the LOADED artifact: no per-session
    train (codebooks come off disk), one full ADC scan + exact rescore.
    The 5-query brute-force comparison stays in the correctness gate."""
    from pyspark.sql import functions as F

    from strava_vector_search_spark.operators import pq as PQ

    books, codes, _cents, emb = _loaded_pq768(spark, sf_dir)
    qrow = emb.filter(F.col("doc_id") == 3).head()
    qv = [float(x) for x in qrow["embedding"]]
    return PQ.pq_topk_refined(
        emb, codes, books, qv, k=10, n_cand=200, id_col="doc_id"
    )


def ann_ivfpq_topk_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ operator path once: encode-with-cluster, probe, ADC scan of
    the probed codes, exact rescore — one query, no exact-within-probe
    comparison."""
    from strava_vector_search_spark.operators import pq as PQ
    from strava_vector_search_spark.operators.ann import (
        collect_centroids,
        compute_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    books = PQ.train_codebooks(emb)
    codes = PQ.encode_pq(emb, books, keep_cols=("label",))
    cents = collect_centroids(compute_centroids(emb, "label"))
    qv = _query_vec(spark, sf_dir, 3)
    return PQ.ivfpq_topk(
        emb, codes, books, qv, k=10, nprobe=4, n_cand=200, centroids=cents
    )


def ann_ivfpq_topk_768_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ-768 query path once from the LOADED artifact (no per-session
    KMeans/Lloyd): probe the loaded centroids, ADC-scan the probed
    cluster partitions of the loaded code table, exact rescore. The
    5-query exact-within-probe harness stays in the correctness gate."""
    from pyspark.sql import functions as F

    from strava_vector_search_spark.operators import pq as PQ

    books, codes, cents, emb = _loaded_pq768(spark, sf_dir)
    qrow = emb.filter(F.col("doc_id") == 3).head()
    qv = [float(x) for x in qrow["embedding"]]
    return PQ.ivfpq_topk(
        emb,
        codes,
        books,
        qv,
        k=10,
        nprobe=4,
        n_cand=200,
        cluster_col="cluster",
        id_col="doc_id",
        centroids=cents,
    )


def ann_ivfpq_persisted_768_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-IVFPQ query path once — identical serve path to
    ann_ivfpq_topk_768_bench (both load the artifact); kept as its own
    twin so the persisted GATE's bench entry measures load-and-serve
    rather than its 5-query verification harness."""
    return ann_ivfpq_topk_768_bench(spark, sf_dir)


def dd_cc_incremental_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-CC operator path once: label the base edge set, apply ONE
    SMALL batch (the bridge edges only — the O(touched) regime the
    operator exists for), return a 1-row checksum instead of the full
    label table (the gate's full-table orderBy+collect is a correctness
    artifact, not operator cost)."""
    from strava_vector_search_spark.operators.dedup import (
        cc_incremental,
        connected_components,
    )

    orders = load_table(spark, sf_dir, "orders")
    C = 2_000_000_000
    ok, ck = F.col("o_orderkey"), F.col("o_custkey")
    base = orders.select(ok.alias("a"), (ck + C).cast("long").alias("b"))
    bridges = (
        orders.select(ck.alias("c"))
        .distinct()
        .filter(F.col("c") % 97 == 1)
        .select(
            (F.col("c") + C).cast("long").alias("a"),
            (F.col("c") + 3 + C).cast("long").alias("b"),
        )
    )
    labels_old = connected_components(base, "a", "b", driver_threshold=250_000)
    out = cc_incremental(labels_old, bridges, "a", "b", driver_threshold=250_000)
    return out.agg(
        F.count(F.lit(1)).alias("n_labels"),
        F.countDistinct("comp").alias("n_components"),
        # decimal accumulator: a long sum of 64-bit hashes overflows (ANSI
        # Spark raises); decimal(38,0) holds ~1e19 rows' worth exactly
        F.sum(F.xxhash64("id", "comp").cast("decimal(38,0)")).alias("checksum"),
    )




def dd_semantic_dedup_768_kmeans_bench(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Learned-cell SemDeDup operator path once: ONE pair-kernel run over
    the KMeans-768 cells + connected components + keep-best. The gate's
    verification harness (second kernel run at another block size,
    expression-lane re-score of every pair, within-lang retention
    cross-check) stays in the correctness gate."""
    from strava_vector_search_spark.operators.dedup import (
        dedup_keep_best,
        semantic_pairs_blas,
    )
    from strava_vector_search_spark.queries import _kmeans_ivf_768

    clustered, _cents = _kmeans_ivf_768(spark, sf_dir)
    pairs = semantic_pairs_blas(
        clustered, "cluster", "doc_id", "embedding", 0.9
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    base = clustered.join(docs, "doc_id")
    return dedup_keep_best(
        base,
        pairs,
        "doc_id",
        quality=(
            F.coalesce(F.col("n_chars"), F.lit(0)).cast("bigint")
            * F.lit(10_000_000)
            + F.col("doc_id")
        ),
    )




def svc_search_batch_kmeans_768_bench(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Learned-quantizer service batch serve path once: one 3-request
    search_batch over the materialized KMeans layout. The
    batch-vs-singletons / filter-leak / scan-fraction harness stays in
    the correctness gate."""
    from strava_vector_search_spark.queries import (
        _cached_layout,
        _md5_emb_768,
        _svc_768,
    )

    svc = _svc_768(spark, sf_dir)

    def _build(tmp: str) -> None:
        svc.build_ivf(tmp, cluster_col=None, n_clusters=16, seed=42)

    path = _cached_layout(sf_dir, "documents", "svcivf768_km16_v1", _build)
    svc.ivf_path, svc.ivf_cluster_col = path, "cluster"
    qvecs = {
        int(r["doc_id"]): [float(x) for x in r["embedding"]]
        for r in _md5_emb_768(spark, sf_dir)
        .filter(F.col("doc_id").isin(3, 7, 11))
        .collect()
    }
    return svc.search_batch(
        [
            {
                "query_vec": qvecs[3],
                "filter": {"@gte": {"n_chars": 200}},
                "limit": 5,
            },
            {
                "query_vec": qvecs[7],
                "filter": {
                    "@or": [
                        {"@eq": {"source": "src5"}},
                        {"@gte": {"n_chars": 300}},
                    ]
                },
                "limit": 5,
            },
            {"query_vec": qvecs[11], "limit": 3},
        ],
        nprobe=4,
    )


def ann_ivf_cells_scaling_768_bench(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hi-k IVF operator path once: the prebuilt sqrt-N-cell session
    index (_kmeans_ivf_768_hi) + ONE batched pruned pass for 5 query
    vectors. The dual-layout comparison harness (full-scan baseline,
    scan accounting at both k) stays in the correctness gate."""
    from strava_vector_search_spark.operators.ann import ivf_batch_topk
    from strava_vector_search_spark.queries import _kmeans_ivf_768_hi

    clustered, cents, _k_hi = _kmeans_ivf_768_hi(spark, sf_dir)
    qids = (3, 7, 11, 19, 23)
    qrows = (
        clustered.filter(F.col("doc_id").isin(*qids))
        .select("doc_id", "embedding")
        .collect()
    )
    queries = spark.createDataFrame(
        [(int(r["doc_id"]), [float(x) for x in r["embedding"]]) for r in qrows],
        "query_id bigint, query_vec array<double>",
    )
    return ivf_batch_topk(
        clustered,
        queries,
        k=10,
        nprobe=4,
        cluster_col="cluster",
        id_col="doc_id",
        centroids=cents,
    )


def ann_ivf_clustered_recall_768_bench(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Planted-geometry IVF operator path once: prebuilt 96-cell index
    (_planted_ivf_768) + ONE batched pruned pass; the recall/scan
    accounting harness stays in the correctness gate."""
    from strava_vector_search_spark.operators.ann import ivf_batch_topk
    from strava_vector_search_spark.queries import _planted_ivf_768

    clustered, cents = _planted_ivf_768(spark, sf_dir)
    qids = (3, 7, 11, 19, 23)
    qrows = (
        clustered.filter(F.col("doc_id").isin(*qids))
        .select("doc_id", "embedding")
        .collect()
    )
    queries = spark.createDataFrame(
        [(int(r["doc_id"]), [float(x) for x in r["embedding"]]) for r in qrows],
        "query_id bigint, query_vec array<double>",
    )
    return ivf_batch_topk(
        clustered,
        queries,
        k=5,
        nprobe=4,
        cluster_col="cluster",
        id_col="doc_id",
        centroids=cents,
    )


def ann_ivfpq_residual_768_bench(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Residual-ADC (IVFADC) serve path once: probe the coarse
    centroids, offset-ADC over the probed residual codes, exact
    rescore. The gate's raw-lane comparison and 5-query error sweep
    stay in correctness; this times what a query actually costs —
    identical scan shape to the raw lane plus one gather-add."""
    from strava_vector_search_spark.operators import pq as PQ
    from strava_vector_search_spark.operators.ann import collect_centroids
    from strava_vector_search_spark.queries import (
        _planted_residual_ivfpq_768,
    )

    clustered, cents, _rb, _rc, res_books, res_codes = (
        _planted_residual_ivfpq_768(spark, sf_dir)
    )
    qv = [
        float(x)
        for x in clustered.filter(F.col("doc_id") == 3).head()[
            "embedding"
        ]
    ]
    return PQ.ivfpq_topk(
        clustered,
        res_codes,
        res_books,
        qv,
        k=10,
        nprobe=4,
        n_cand=100,
        cluster_col="cluster",
        id_col="doc_id",
        centroids=collect_centroids(cents),
        residual=True,
    )


# bench.py substitutes these for the same-named gates; correctness still
# runs the full gates (queries.py) with their exhaustive comparisons.
LEAN_BENCH = {
    "ann_pq_topk": ann_pq_topk_bench,
    "ann_kmeans_ivf_topk": ann_kmeans_ivf_topk_bench,
    "ann_kmeans_ivf_topk_768": ann_kmeans_ivf_topk_768_bench,
    "ann_pq_topk_768": ann_pq_topk_768_bench,
    "ann_ivfpq_topk_768": ann_ivfpq_topk_768_bench,
    "ann_ivfpq_persisted_768": ann_ivfpq_persisted_768_bench,
    "ann_ivfpq_topk": ann_ivfpq_topk_bench,
    "dd_cc_incremental": dd_cc_incremental_bench,
    "dd_semantic_dedup_768_kmeans": dd_semantic_dedup_768_kmeans_bench,
    "svc_search_approx_768": svc_search_approx_768_bench,
    "svc_search_batch_kmeans_768": svc_search_batch_kmeans_768_bench,
    "ann_ivf_cells_scaling_768": ann_ivf_cells_scaling_768_bench,
    "ann_ivfpq_residual_768": ann_ivfpq_residual_768_bench,
    "svc_search_approx_batch_768": svc_search_approx_batch_768_bench,
    "ann_ivf_clustered_recall_768": ann_ivf_clustered_recall_768_bench,
}
