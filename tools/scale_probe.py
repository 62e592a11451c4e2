"""Scale probe: amplify the testdata to ~1M vectors / ~50K documents and
measure the engine's scaling-relevant operators, writing SCALE.md.

This is the local stand-in for the 100 TB question: does each operator's
cost move the way the design says it should (linear scans, near-linear LSH,
cluster-pruned IVF), and where do the crossovers sit (brute force vs IVF,
exact near-dup vs LSH)?

Usage: python tools/scale_probe.py   (~3-5 min on local[32])
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from strava_vector_search_spark.operators import ann as A
from strava_vector_search_spark.operators import dedup as D
from strava_vector_search_spark.operators.search import batch_topk, brute_force_topk
from strava_vector_search_spark.session import get_spark

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.1")


def t(fn):
    best, n = None, None
    for _ in range(2):  # best-of-2: first run pays worker startup / codegen
        t0 = time.time()
        n = fn()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    return best, n


def main() -> None:
    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    results: list[tuple[str, str, float, str]] = []

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    # ---- 1M vectors: replicate 2K embeddings x 500 with distinct ids
    reps = 500
    big_emb = (
        emb.crossJoin(spark.range(reps).select(F.col("id").alias("rep")))
        .select(
            (F.col("vec_id") * reps + F.col("rep")).alias("vec_id"),
            "embedding",
            F.pmod(F.col("vec_id") * reps + F.col("rep"), F.lit(16)).cast("int").alias("label"),
        )
        .repartition(64)
        .cache()
    )
    n_vec = big_emb.count()
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]

    sec, _ = t(lambda: brute_force_topk(
        big_emb, qv, k=10, id_col="vec_id", assume_normalized=True
    ).collect())
    results.append(("brute_force_topk (expr)", f"{n_vec:,} vecs x 64d", sec,
                    "full scan; linear in N, embarrassingly parallel"))

    from strava_vector_search_spark.operators.search import brute_force_topk_blas

    sec, _ = t(lambda: brute_force_topk_blas(
        big_emb, qv, k=10, id_col="vec_id", assume_normalized=True
    ).collect())
    results.append(("brute_force_topk (BLAS)", f"{n_vec:,} vecs x 64d", sec,
                    "same scan and same math as the expr row (both "
                    "assume_normalized=True: dot only), numpy matvec + "
                    "per-batch argpartition inside mapInPandas — the "
                    "dim>=64 large-corpus kernel"))

    from strava_vector_search_spark.operators.search import matryoshka_topk

    cents = A.collect_centroids(A.compute_centroids(big_emb, "label"))
    sec, _ = t(lambda: A.ivf_topk(
        big_emb, qv, k=10, nprobe=2, id_col="vec_id", centroids=cents
    ).collect())
    results.append(("ivf_topk nprobe=2/16", f"{n_vec:,} vecs", sec,
                    "scores ~1/8 of the corpus; with cluster-partitioned "
                    "parquet the skipped 7/8 are never read"))

    # nprobe recall/latency tradeoff on a REAL IVF layout (KMeans-assigned
    # clusters — the synthetic `label` column is arbitrary, so it measures
    # cost but not recall)
    t0 = time.time()
    big_ivf = (
        A.kmeans_assign(big_emb, num_clusters=16)
        .select("vec_id", "embedding", F.col("cluster").alias("label"))
        .cache()
    )
    big_ivf.count()
    build_sec = time.time() - t0
    results.append(("ivf build (KMeans k=16)", f"{n_vec:,} vecs",
                    round(build_sec, 1),
                    "one-off batch index build (MLlib); amortized across "
                    "every query"))
    ivf_cents = A.compute_centroids(big_ivf, "label").cache()
    ivf_local = A.collect_centroids(ivf_cents)
    exact_ids = {
        r["vec_id"]
        for r in brute_force_topk(big_emb, qv, k=10, id_col="vec_id").collect()
    }
    for nprobe in (1, 2, 4):
        sec, _ = t(lambda np=nprobe: A.ivf_topk(
            big_ivf, qv, k=10, nprobe=np, id_col="vec_id",
            centroids=ivf_local,
        ).collect())
        got = {
            r["vec_id"]
            for r in A.ivf_topk(
                big_ivf, qv, k=10, nprobe=nprobe, id_col="vec_id",
                centroids=ivf_local,
            ).collect()
        }
        rec = len(got & exact_ids) / 10
        results.append((f"ivf nprobe={nprobe} recall", f"{n_vec:,} vecs", sec,
                        f"recall@10 = {rec:.2f} vs exact; scans ~nprobe/16 "
                        "of the corpus"))

    # ---- round 10: batched IVF — 32 queries in ONE pruned pass
    # (ivf_batch_topk) vs one ivf_topk scan per query: the per-query
    # fixed cost (probe ranking + pruned-scan job) amortizes
    q32 = (
        emb.limit(32)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("query_vec"),
        )
        .localCheckpoint(eager=False)
    )
    q32.count()
    sec_batch, n_bt = t(lambda: A.ivf_batch_topk(
        big_ivf, q32, k=10, nprobe=2, id_col="vec_id", centroids=ivf_cents,
    ).count())
    t0 = time.time()
    for qrow in q32.collect()[:8]:  # 8 sequential probes, extrapolated
        A.ivf_topk(
            big_ivf, [float(x) for x in qrow["query_vec"]], k=10,
            nprobe=2, id_col="vec_id", centroids=ivf_local,
        ).count()
    sec_loop8 = time.time() - t0
    results.append((
        "ivf_batch_topk 32 queries nprobe=2",
        f"{n_vec:,} vecs", sec_batch,
        f"one pruned pass + WindowGroupLimit for all 32 queries vs "
        f"looping single-query ivf_topk ({sec_loop8:.1f}s for just 8 "
        f"queries = ~{sec_loop8 * 4:.0f}s for 32): per-query job/probe "
        "fixed costs amortize, and the scan reads the UNION of probed "
        "partitions once"))

    # ---- round 8: incremental IVF maintenance — append a 1% delta vs
    # rebuilding the whole 1M-vector layout (the freshness trade
    # maintain_ivf_index automates)
    import shutil as _sh
    import tempfile as _tf

    _ivf_dir = _tf.mkdtemp(prefix="svs_scale_ivf_")
    _idx = _ivf_dir + "/idx"
    base_ivf = big_ivf.filter(F.col("vec_id") % 100 != 0)
    delta_ivf = big_ivf.filter(F.col("vec_id") % 100 == 0).drop("label")
    sec_rb, _ = t(lambda: A.write_ivf_index(base_ivf, _idx))
    # append timed ONCE (t()'s best-of-2 would append the delta twice);
    # the delta's assignment kernel is already warm from the rebuild run
    _t0 = time.time()
    A.append_to_ivf_index(delta_ivf, _idx, ivf_cents)
    sec_ap = time.time() - _t0
    n_after = spark.read.parquet(_idx).count()
    _sh.rmtree(_ivf_dir, ignore_errors=True)
    results.append((
        "ivf append 1% delta vs rebuild",
        f"{n_vec:,} vecs, {n_vec // 100:,}-row delta",
        sec_ap,
        f"rebuild (full write_ivf_index) {sec_rb:.1f}s vs append "
        f"{sec_ap:.1f}s (index holds {n_after:,} rows after); the append "
        "assigns ONLY the delta to the existing centroids (broadcast "
        "|k|-row cross join, map-side) and appends files under the "
        "matching cluster partitions — queries keep partition pruning "
        "with zero rebuild, the TARGET_LAG freshness pattern on the ANN "
        "path"))

    queries = emb.limit(32).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    sec, _ = t(lambda: batch_topk(
        big_emb, queries, k=5, id_col="vec_id", assume_normalized=True
    ).count())
    results.append(("batch_topk 32 queries", f"{n_vec:,} vecs", sec,
                    "one corpus scan amortized over 32 queries"))

    from strava_vector_search_spark.operators.search import batch_topk_blas

    sec, _ = t(lambda: batch_topk_blas(
        big_emb, queries, k=5, id_col="vec_id"
    ).count())
    results.append(("batch_topk 32 queries (BLAS)", f"{n_vec:,} vecs", sec,
                    "same scan, one Q@V.T matmul per Arrow batch, nq*k rows "
                    "into the global rank instead of nq*|batch|"))

    # ---- reference dimensionality: 768-dim (e5-base-v2) at 200K vectors
    emb768 = (
        emb.crossJoin(spark.range(100).select(F.col("id").alias("rep")))
        .select(
            (F.col("vec_id") * 100 + F.col("rep")).alias("vec_id"),
            F.flatten(F.array_repeat(F.col("embedding"), 12)).alias("embedding"),
        )
        .repartition(64)
        .cache()
    )
    n_768 = emb768.count()
    qv768 = qv * 12
    # expr vs BLAS at 768d, LIKE-FOR-LIKE: each comparison runs BOTH
    # lanes under the SAME assume_normalized flag (True = dot only,
    # False = full cosine with per-row norms + zero-norm guard), and the
    # caption is DERIVED from the measurement — r9 committed an
    # expr-dot-vs-BLAS-cosine mismatch under a hard-coded "BLAS earns
    # its keep" caption that its own numbers contradicted.
    for normed, tag in ((True, "dot"), (False, "full cosine")):
        sec_expr, _ = t(lambda nm=normed: brute_force_topk(
            emb768, qv768, k=10, id_col="vec_id", assume_normalized=nm
        ).collect())
        sec_blas, _ = t(lambda nm=normed: brute_force_topk_blas(
            emb768, qv768, k=10, id_col="vec_id", assume_normalized=nm
        ).collect())
        faster = "BLAS" if sec_blas < sec_expr else "expr"
        ratio = max(sec_expr, sec_blas) / max(min(sec_expr, sec_blas), 1e-9)
        results.append((
            f"brute_force_topk expr vs BLAS (768d, {tag})",
            f"{n_768:,} vecs x 768d",
            min(sec_expr, sec_blas),
            f"expr {sec_expr:.1f}s vs BLAS {sec_blas:.1f}s, SAME math "
            f"(assume_normalized={normed}) — {faster} lane {ratio:.1f}x "
            "faster on this container at this width. The flagship-gate "
            "win (vs_topk_filtered_768, 4.63->1.81 s) is measured at the "
            "gate level in the bench snapshots; this row is the isolated "
            "kernel comparison",
        ))

    exact768 = {
        r["vec_id"]
        for r in brute_force_topk(
            emb768, qv768, k=10, id_col="vec_id", assume_normalized=True
        ).collect()
    }
    pre768 = emb768.withColumn(
        "pref32", F.slice(F.col("embedding").cast("array<double>"), 1, 32)
    ).cache()
    pre768.count()
    sec, rows = t(lambda: matryoshka_topk(
        pre768, qv768, prefix_dims=32, candidates=200, k=10, id_col="vec_id",
        prefix_col="pref32",
    ).collect())
    mat_rec = len({r["vec_id"] for r in rows} & exact768) / 10
    results.append(("matryoshka 32/768d cand=200", f"{n_768:,} vecs x 768d", sec,
                    f"recall@10 = {mat_rec:.2f} vs exact; coarse pass reads and "
                    "folds ONLY the materialized 32-dim prefix column (24x "
                    "less arithmetic and I/O than the full vector; measured "
                    "3.5x vs brute force), exact rerank reads 200 full "
                    "vectors. Slice-at-query-time instead of a prefix column "
                    "loses the win (array copy per row) — materialize at "
                    "index build"))
    # binary signatures at 768d: 96 B/row signature vs 3 KB float32 — the
    # regime the 1-bit index exists for; recall vs exact reported inline
    from strava_vector_search_spark.operators.search import (
        binary_topk as _btk,
        binary_topk_indexed as _btki,
        write_binary_index as _wbi,
    )
    import tempfile as _tf

    sec, rows = t(lambda: _btk(
        emb768, qv768, candidates=200, k=10, id_col="vec_id"
    ).collect())
    bin_rec = len({r["vec_id"] for r in rows} & exact768) / 10
    results.append(("binary_topk (inline, 768d)", f"{n_768:,} vecs x 768d", sec,
                    f"recall@10 = {bin_rec:.2f} vs exact; 768 sign bits "
                    "pack to 24 BIGINT words, popcount scan + exact rerank"))
    b768 = _tf.mkdtemp(prefix="svs_bidx768_") + "/idx"
    _wbi(emb768, b768, dim=768, id_col="vec_id")
    sec, _ = t(lambda: _btki(
        spark, b768, qv768, candidates=200, k=10, id_col="vec_id"
    ).collect())
    results.append(("binary_topk (indexed, 768d)", f"{n_768:,} vecs x 768d", sec,
                    "candidate scan reads 192 B/row (id + 24 words) instead "
                    "of 3 KB float32 — 16x scan-volume cut at this width"))
    pre768.unpersist()
    emb768.unpersist()

    # ---- round 10: learned-centroid IVF at 1M x 768d — the production
    # quantizer at production width (ann_kmeans_ivf_topk_768's regime),
    # with MEASURED scan fraction + recall@10, batched probe
    big768 = (
        emb.crossJoin(spark.range(500).select(F.col("id").alias("rep")))
        .select(
            (F.col("vec_id") * 500 + F.col("rep")).alias("vec_id"),
            F.flatten(F.array_repeat(F.col("embedding"), 12)).alias("embedding"),
        )
        .repartition(64)
        .persist()
    )
    n_b768 = big768.count()
    t0 = time.time()
    ivf768 = (
        A.kmeans_assign(big768, num_clusters=16, max_iter=5)
        .persist()
    )
    ivf768.count()
    build768_sec = time.time() - t0
    cents768 = A.compute_centroids(ivf768, "cluster").cache()
    sizes768 = {
        r["cluster"]: r["n"]
        for r in ivf768.groupBy("cluster").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    results.append((
        "ivf build (KMeans k=16, 5 iters)", f"{n_b768:,} vecs x 768d",
        round(build768_sec, 1),
        "one-off batch index build at production width; iteration-capped "
        "(assignment quality, not correctness, is what more passes buy)"))
    exact768_1m = {
        r["vec_id"]
        for r in brute_force_topk_blas(
            big768, qv768, k=10, id_col="vec_id", assume_normalized=True
        ).collect()
    }
    q768 = spark.createDataFrame(
        [(0, qv768)], "query_id bigint, query_vec array<double>"
    )
    for nprobe in (2, 4):
        probed = [
            r["cluster"]
            for r in A.rank_probed_clusters(cents768, q768, nprobe).collect()
        ]
        frac = sum(sizes768[c] for c in probed) / n_b768
        sec, rows = t(lambda np_=nprobe: A.ivf_batch_topk(
            ivf768, q768, k=10, nprobe=np_, cluster_col="cluster",
            id_col="vec_id", centroids=cents768,
        ).collect())
        rec = len({r["vec_id"] for r in A.ivf_batch_topk(
            ivf768, q768, k=10, nprobe=nprobe, cluster_col="cluster",
            id_col="vec_id", centroids=cents768,
        ).collect()} & exact768_1m) / 10
        results.append((
            f"ivf kmeans nprobe={nprobe}/16 (768d)",
            f"{n_b768:,} vecs x 768d", sec,
            f"recall@10 = {rec:.2f} vs exact; probed clusters hold "
            f"{frac:.1%} of the corpus — with cluster-partitioned parquet "
            "that fraction IS the bytes read per query batch"))
    # ---- round 11: PQ at production parameters (m=96) over 1M x 768 —
    # the one-off artifact build (train + encode + persist) vs the
    # per-session load, and the composed IVFPQ probe (VERDICT r10 #2/#3)
    from strava_vector_search_spark.operators import pq as PQ

    t0 = time.time()
    books768 = PQ.train_codebooks(big768, m=96, id_col="vec_id")
    train768_sec = time.time() - t0
    results.append((
        "pq train m=96 (Lloyd, 4096-row sample)", f"sample of {n_b768:,} x 768d",
        round(train768_sec, 1),
        "one-off build cost; driver-side, independent of corpus size "
        "past the bounded sample"))
    t0 = time.time()
    codes768 = PQ.encode_pq(
        ivf768, books768, id_col="vec_id", keep_cols=("cluster",)
    ).persist()
    n_codes = codes768.count()
    encode768_sec = time.time() - t0
    results.append((
        "pq encode m=96", f"{n_codes:,} vecs x 768d -> 96 B codes",
        round(encode768_sec, 1),
        "map-only Arrow pass; 3 KB float32/row becomes 96 B (32x) — the "
        "table that fits cluster RAM at 100 TB raw"))
    sec, rows = t(lambda: PQ.ivfpq_topk(
        big768, codes768, books768, qv768, k=10, nprobe=4, n_cand=200,
        cluster_col="cluster", id_col="vec_id",
        centroids=A.collect_centroids(cents768),
    ).collect())
    ivfpq_rec = len({r["vec_id"] for r in rows} & exact768_1m) / 10
    results.append((
        "ivfpq nprobe=4/16 m=96 (768d)", f"{n_codes:,} vecs x 768d", sec,
        f"recall@10 = {ivfpq_rec:.2f} vs exact; ADC scan of the probed "
        "clusters' 96 B codes + exact rescore of 200 candidates"))
    # persisted artifact: build once (write), then the serving-session
    # shape — load codebooks + probe, no retrain
    pq_dir = _tf.mkdtemp(prefix="svs_pqidx768_") + "/idx"
    t0 = time.time()
    PQ.write_pq_index(
        codes768, books768, pq_dir, id_col="vec_id",
        cluster_col="cluster", centroids=cents768,
    )
    write_sec = time.time() - t0
    t0 = time.time()
    lb, lcodes, lcents, _meta = PQ.load_pq_index(spark, pq_dir)
    lcents = A.collect_centroids(lcents)
    sec, _ = t(lambda: PQ.ivfpq_topk(
        big768, lcodes, lb, qv768, k=10, nprobe=4, n_cand=200,
        cluster_col="cluster", id_col="vec_id", centroids=lcents,
    ).collect())
    load_probe_sec = time.time() - t0
    results.append((
        "ivfpq persisted: load + probe", f"{n_codes:,} vecs x 768d",
        round(load_probe_sec, 1),
        f"artifact write {write_sec:.1f}s one-off; a fresh session loads "
        f"the 24K-row codebook table and serves (probe {sec:.1f}s of "
        f"that) — replaces the {train768_sec:.0f}s train + "
        f"{encode768_sec:.0f}s encode every session paid without the "
        "artifact"))
    codes768.unpersist()

    # ---- round 11: SemDeDup pair kernel — LEARNED KMeans-16 cells vs a
    # skewed low-cardinality cell key at 100K x 768 (VERDICT r10 #1): the
    # quadratic bound is the largest cell, so the cell key IS the scale
    # knob. threshold=0.999: replicas are exact dups, so pair volume
    # stays bounded by the replication structure, not noise.
    from strava_vector_search_spark.operators.dedup import (
        semantic_pairs_blas as _spb,
    )

    sem = (
        big768.filter(F.col("vec_id") % 10 == 0)  # 100K slice
        .join(
            ivf768.select("vec_id", "cluster"), "vec_id"
        )
        .withColumn(
            # skewed 5-value stand-in for `lang`: ~44% in one cell, like
            # the corpus the gates measured
            "skew_cell",
            F.when(F.pmod(F.col("vec_id"), 100) < 44, F.lit(0))
            .otherwise(F.pmod(F.col("vec_id"), 4) + 1)
            .cast("int"),
        )
        .persist()
    )
    n_sem = sem.count()
    for cell, tag in (("cluster", "kmeans-16 cells"), ("skew_cell", "5 skewed cells")):
        csizes = [
            r["n"]
            for r in sem.groupBy(cell).agg(F.count(F.lit(1)).alias("n")).collect()
        ]
        frac = max(csizes) / n_sem
        sec, n = t(lambda c=cell: _spb(
            sem, c, "vec_id", "embedding", 0.999
        ).count())
        results.append((
            f"semantic_pairs_blas ({tag})", f"{n_sem:,} vecs x 768d", sec,
            f"{n:,} pairs >= 0.999; largest cell = {frac:.1%} of corpus — "
            "the quadratic term is (largest cell)^2, which is why the "
            "learned-cell gate (dd_semantic_dedup_768_kmeans) replaces "
            "the lang cell for production"))
    sem.unpersist()

    # ---- round 12: coarse-quantizer k-scaling at 1M x 768 (VERDICT r11
    # item 1). k in {64, 256} via the production TWO-PHASE build (5-iter
    # Lloyd's on a 10% hash sample — nobody runs full Lloyd's over
    # 100 TB — then one map-side assignment of the full corpus), probed
    # with the same rule as the k=16 rows above: scan fraction should
    # fall ~linearly in 1/k at fixed nprobe while recall holds.
    for k_cells in (64, 256):
        fit_sample = big768.filter(F.pmod(F.col("vec_id"), 10) == 0)
        t0 = time.time()
        fitted = A.kmeans_assign(
            fit_sample, num_clusters=k_cells, max_iter=5
        )
        centsk = A.compute_centroids(fitted, "cluster").localCheckpoint()
        fit_sec = time.time() - t0
        t0 = time.time()
        ivfk = A.assign_to_centroids(
            big768, centsk, cluster_col="cluster", id_col="vec_id"
        ).persist()
        nk = ivfk.count()
        assign_sec = time.time() - t0
        sizesk = {
            r["cluster"]: r["n"]
            for r in ivfk.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        maxcellk = max(sizesk.values()) / nk
        results.append((
            f"ivf build k={k_cells} (sample fit + assign)",
            f"{nk:,} vecs x 768d",
            round(fit_sec + assign_sec, 1),
            f"two-phase production build: 5-iter fit on a 100K hash "
            f"sample ({fit_sec:.1f}s — bounded by sample, not corpus) + "
            f"one map-side full assignment ({assign_sec:.1f}s, O(N*k*d), "
            f"zero shuffle of the embedding table); largest cell "
            f"{maxcellk:.1%} of corpus"))
        for nprobe in (2, 4, 8):
            probed = [
                r["cluster"]
                for r in A.rank_probed_clusters(
                    centsk, q768, nprobe
                ).collect()
            ]
            frac = sum(sizesk[c] for c in probed) / nk
            sec, _rows = t(lambda np_=nprobe: A.ivf_batch_topk(
                ivfk, q768, k=10, nprobe=np_, cluster_col="cluster",
                id_col="vec_id", centroids=centsk,
            ).collect())
            rec = len({r["vec_id"] for r in A.ivf_batch_topk(
                ivfk, q768, k=10, nprobe=nprobe, cluster_col="cluster",
                id_col="vec_id", centroids=centsk,
            ).collect()} & exact768_1m) / 10
            results.append((
                f"ivf kmeans nprobe={nprobe}/{k_cells} (768d)",
                f"{nk:,} vecs x 768d", sec,
                f"recall@10 = {rec:.2f} vs exact; probed clusters hold "
                f"{frac:.1%} of the corpus — vs {100 * min(1.0, nprobe / 16):.0f}%-class "
                "reads at the old fixed k=16"))
        ivfk.unpersist()

    # ---- round 12: re-split cost (VERDICT r11 item 4) — enforce a 5%
    # cell cap on the k=16 layout (whose largest cell is necessarily
    # >= 6.25%) and measure the maintenance wall + the achieved balance.
    t0 = time.time()
    resplit = A.split_oversized_cells(
        ivf768, max_frac=0.05, cluster_col="cluster",
        vector_col="embedding",
    )
    rs_sizes = [
        r["n"]
        for r in resplit.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    rs_sec = time.time() - t0
    results.append((
        "split_oversized_cells cap=5% (k=16)",
        f"{n_b768:,} vecs x 768d",
        round(rs_sec, 1),
        f"largest cell {max(sizes768.values()) / n_b768:.1%} -> "
        f"{max(rs_sizes) / n_b768:.1%} across {len(rs_sizes)} cells; "
        "projection-quantile cut per oversized cell (distributed "
        "percentile_approx + map-side bucketing, no global sort) — the "
        "balance guard for SemDeDup's quadratic term and worst-case "
        "probe cost"))

    # ---- round 12: END-TO-END serve-pipeline rehearsal at 1M x 768
    # (VERDICT r11 item 8): the COMPOSED walls a 100 TB capacity plan
    # scales from — dedup census -> build_ivf(k=256, two-phase fit) ->
    # persisted PQ artifact -> search_batch(256 requests) ->
    # search_approx — all through the real service entry points.
    import tempfile as _tf12

    from strava_vector_search_spark.service import SearchService as _Svc

    stage_walls: list[tuple[str, float, str]] = []
    svc12 = _Svc(
        spark,
        big768.select("vec_id"),
        id_col="vec_id",
        search_col="vec_id",
        dim=768,
        assume_normalized=False,
    ).attach_embeddings(big768, vec_id_col="vec_id")
    t0 = time.time()
    dup_groups = (
        big768.groupBy(
            F.hash(F.col("embedding").cast("array<double>")).alias("h")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    stage_walls.append((
        "dedup census", time.time() - t0,
        f"{dup_groups:,} exact-dup groups (hash groupBy, one shuffle of "
        "8-byte keys)"))
    ivf12_dir = _tf12.mkdtemp(prefix="svs_rehearse768_") + "/idx"
    t0 = time.time()
    svc12.build_ivf(
        ivf12_dir, n_clusters=256, seed=42, fit_fraction=0.1, max_iter=5
    )
    stage_walls.append((
        "build_ivf k=256 (two-phase) + write", time.time() - t0,
        "5-iter fit on the 10% hash sample, map-side full assignment, "
        "cluster-partitioned parquet write, _centroids inside"))
    part12 = spark.read.parquet(ivf12_dir)
    cents12 = spark.read.parquet(ivf12_dir + "/_centroids")
    t0 = time.time()
    books12 = PQ.train_codebooks(big768, m=96, id_col="vec_id")
    codes12 = PQ.encode_pq(
        part12, books12, id_col="vec_id", keep_cols=("cluster",)
    )
    pq12_dir = _tf12.mkdtemp(prefix="svs_rehearse_pq768_") + "/idx"
    PQ.write_pq_index(
        codes12, books12, pq12_dir, id_col="vec_id",
        cluster_col="cluster", centroids=cents12,
    )
    stage_walls.append((
        "pq artifact (train+encode+write)", time.time() - t0,
        "m=96 codebooks (session-memoized if already trained this "
        "session), 96 B/row codes encoded over the written layout, "
        "artifact persisted"))
    qrows256 = emb.orderBy("vec_id").limit(256).collect()
    reqs256 = [
        {
            "query_vec": [float(x) for x in r["embedding"]] * 12,
            "limit": 10,
        }
        for r in qrows256
    ]
    t0 = time.time()
    nres = svc12.search_batch(reqs256, nprobe=8).count()
    stage_walls.append((
        "search_batch 256 reqs nprobe=8/256", time.time() - t0,
        f"{nres:,} result rows in ONE pruned pass; a diverse 256-query "
        "batch's probed-cell union approaches the full corpus, but each "
        "request still ranks only its own 8 cells via the broadcast "
        "probe join"))
    t0 = time.time()
    svc12.attach_pq_index(pq12_dir)
    n1 = svc12.search_approx(
        {"query_vec": reqs256[0]["query_vec"], "limit": 10}, nprobe=8
    ).count()
    stage_walls.append((
        "attach_pq_index + search_approx", time.time() - t0,
        f"{n1} rows; fresh-session shape: load codebooks + ADC probe + "
        "exact rescore, no retrain"))
    total12 = sum(w for _nm, w, _note in stage_walls)
    for nm, w, note in stage_walls:
        results.append((
            f"rehearsal: {nm}", f"{n_b768:,} vecs x 768d",
            round(w, 1), note))
    results.append((
        "rehearsal TOTAL (ingest->serve)", f"{n_b768:,} vecs x 768d",
        round(total12, 1),
        "composed wall of the full production-width pipeline — the "
        "number a 100 TB capacity plan scales from (per-stage rows "
        "above)"))

    big768.unpersist()
    ivf768.unpersist()
    cents768.unpersist()

    # ---- round 11: the staged-normalize service-build embedder at scale
    # (the r10 96s->1.2s CollapseProject fix, measured at corpus size
    # instead of 500 docs; also exercises the zero-drop aggregate)
    from strava_vector_search_spark.functions.embed import (
        hash_embedding_table as _het,
    )

    docs50k = (
        docs.crossJoin(spark.range(100).select(F.col("id").alias("rep")))
        .select(
            (F.col("doc_id") * 100 + F.col("rep")).alias("doc_id"), "text"
        )
        .repartition(64)
        .cache()
    )
    n_d50 = docs50k.count()
    sec, n = t(lambda: _het(docs50k, "doc_id", "text", dim=768).count())
    results.append((
        "service build embed (hash, 768d)", f"{n_d50:,} docs", sec,
        f"{n:,} embeddings; staged-normalize projections keep the "
        "normalize O(dim) per row (the un-staged form was O(dim^2): 96 s "
        "for 500 docs), zero-norm docs dropped+countable at the sparse "
        "aggregate"))
    docs50k.unpersist()

    # ---- near-dup: exact blocked BLAS vs LSH at 30K vectors
    mid_emb = (
        emb.crossJoin(spark.range(15).select(F.col("id").alias("rep")))
        .select((F.col("vec_id") * 15 + F.col("rep")).alias("vec_id"), "embedding")
        .cache()
    )
    n_mid = mid_emb.count()
    sec, n = t(lambda: D.embedding_near_dup_blocked(
        mid_emb, threshold=0.95, block_size=4096
    ).count())
    results.append(("near_dup blocked BLAS", f"{n_mid:,} vecs ({n_mid*(n_mid-1)//2:,} pairs)", sec,
                    f"{n:,} pairs >= 0.95; O(N^2) flops at BLAS speed — the "
                    "<=100K regime"))
    sec, n = t(lambda: A.lsh_near_dup_pairs(
        mid_emb, max_distance=0.35, num_hash_tables=3, bucket_length=0.5
    ).count())
    results.append(("near_dup MLlib LSH", f"{n_mid:,} vecs", sec,
                    f"{n:,} candidate pairs; MLlib approxSimilarityJoin constant costs dominate at this N — exact blocked BLAS wins below ~100K (matching the reference's brute-force guidance); LSH's near-linear growth only pays past the quadratic crossover"))
    sec, n = t(lambda: A.srp_near_dup_pairs(
        mid_emb, threshold=0.95, bits=64, bands=4
    ).count())
    results.append(("near_dup SRP-LSH (native)", f"{n_mid:,} vecs", sec,
                    f"{n:,} verified pairs >= 0.95; map-only integer signatures, "
                    "one band-key shuffle (r=16: selective buckets), "
                    "candidate-driven exact verify — the oracle-checkable "
                    "native LSH that replaces MLlib approxSimilarityJoin"))

    # ---- text dedup at ~50K docs
    big_docs = (
        docs.crossJoin(spark.range(10).select(F.col("id").alias("rep")))
        .select((F.col("doc_id") * 10 + F.col("rep")).alias("doc_id"), "text")
        .cache()
    )
    n_docs = big_docs.count()
    sec, n = t(lambda: D.minhash_dedup_verified(
        big_docs, "doc_id", "text", threshold=0.5
    ).count())
    results.append(("minhash_lsh_verified", f"{n_docs:,} docs", sec,
                    f"{n:,} verified pairs; signatures linear, band join "
                    "near-linear, verification candidate-driven"))
    sec, n = t(lambda: D.simhash(big_docs, "doc_id", "text", bits=48).count())
    results.append(("simhash fingerprints", f"{n_docs:,} docs", sec,
                    "one explode + one groupBy; linear"))
    sec, n = t(lambda: D.paragraph_dedup(
        big_docs, "doc_id", "text", span_tokens=10
    ).count())
    results.append(("paragraph_dedup spans=10", f"{n_docs:,} docs", sec,
                    "span-keyed keep-first window + ordered group-back; "
                    "two shuffles of (span|id)-keyed rows"))
    eval_docs = docs.filter(F.col("doc_id") % 41 == 0)
    sec, n = t(lambda: D.decontaminate(
        big_docs, eval_docs, "doc_id", "text", n=3, threshold=0.1
    ).count())
    results.append(("decontaminate 3-gram", f"{n_docs:,} docs", sec,
                    "broadcast eval shingles; corpus side map-only scan + "
                    "partial-agg, no corpus shuffle"))

    # ---- round 9: span-level dedup shape (dd_duplicate_spans) — the
    # honesty probe for the 8192-window/doc cap: report the windows/doc
    # distribution and the DROPPED-coverage fraction, so "capped" can
    # never silently mean "sampled dedup" on long-doc corpora.
    K = 10
    tl = big_docs.select(
        "doc_id", D.tokens(F.col("text")).alias("_ts")
    ).filter(F.size("_ts") >= K)

    def _spans():
        wins = tl.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(0), F.least(F.size("_ts") - K, F.lit(8191))
                    ),
                    lambda i: F.array_join(F.slice(F.col("_ts"), i + 1, K), " "),
                )
            ).alias("w"),
        ).select("doc_id", D.md5_int(F.col("w")).alias("h"))
        st = wins.groupBy("h").agg(F.countDistinct("doc_id").alias("nd"))
        return (
            wins.join(st, "h")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_win"),
                F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0)).alias("n_dup"),
            )
            .count()
        )

    sec, n = t(_spans)
    nw = F.size("_ts") - K + 1
    cov = tl.select(
        F.sum(F.least(nw, F.lit(8192))).alias("kept"),
        F.sum(nw).alias("total"),
        F.max(nw).alias("max_win"),
        F.avg(nw).alias("avg_win"),
        F.sum((nw > 8192).cast("int")).alias("n_capped"),
    ).head()
    dropped = 1.0 - cov["kept"] / cov["total"]
    results.append((
        "duplicate_spans 10-tok stride-1",
        f"{n_docs:,} docs",
        sec,
        f"{n:,} docs scored, {cov['total']:,} windows (avg "
        f"{cov['avg_win']:.0f}/doc, max {cov['max_win']:,}); 8192 cap hit "
        f"by {cov['n_capped']:,} docs = {dropped:.2%} of windows dropped "
        "(the cap is inert below ~8.2K-token docs; on long-doc corpora "
        "this fraction IS the un-deduped tail — raise the cap or chunk "
        "docs first). One explode + one hash-keyed aggregate + join "
        "back: the window table moves once, never doc x doc",
    ))

    # ---- BM25 + vocab encode at ~50K docs (text is ~10x the corpus)
    from strava_vector_search_spark.operators.fulltext import (
        BM25_TERMS, bm25_corpus_stats, bm25_topk,
    )

    stats = bm25_corpus_stats(big_docs, "text", BM25_TERMS)
    sec, _ = t(lambda: bm25_topk(
        big_docs, BM25_TERMS, k=10, stats=stats
    ).count())
    results.append(("bm25_topk (stats reused)", f"{n_docs:,} docs", sec,
                    "map-only scored scan + TakeOrderedAndProject; stats pass "
                    "amortizes across queries"))

    from strava_vector_search_spark.operators.vocab import (
        build_vocab, encode_documents,
    )

    vocab = build_vocab(big_docs, "text", vocab_size=1024)
    sec, _ = t(lambda: encode_documents(big_docs, vocab).count())
    results.append(("encode_documents V=1024", f"{n_docs:,} docs", sec,
                    "broadcast dict + one Arrow pass; no token-occurrence "
                    "shuffle at any corpus size"))

    # ---- CDC merge against a 3M-row snapshot, ~430K-row change feed
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    snap = (
        orders.crossJoin(spark.range(20).select(F.col("id").alias("rep")))
        .select(
            (F.col("o_orderkey") * 20 + F.col("rep")).alias("k"),
            F.col("o_totalprice").alias("v"),
        )
        .repartition(64)
        .cache()
    )
    n_snap = snap.count()
    from strava_vector_search_spark.operators.cdc import apply_changelog

    feed = snap.filter(F.col("k") % 7 == 0).select(
        "k", (F.col("v") * 1.1).alias("v"),
        F.lit(1).alias("seq"), F.lit("U").alias("op"),
    )
    sec, n = t(lambda: apply_changelog(snap, feed, keys=["k"]).count())
    results.append(("cdc apply_changelog", f"{n_snap:,}-row snapshot, {n_snap//7:,}-row feed", sec,
                    "change side broadcasts; the snapshot is scanned once and "
                    "never shuffled"))

    sec, n = t(lambda: __import__(
        "strava_vector_search_spark.operators.sampling", fromlist=["weighted_sample_topk"]
    ).weighted_sample_topk(snap, "k", "v", k=100).count())
    results.append(("weighted_sample_topk", f"{n_snap:,} rows", sec,
                    "map-only hash draw + u^(1/w) + top-k; no shuffle, no agg"))
    snap.unpersist()

    # ---- fuzzy join: kernel cost bounded by DISTINCT values, not rows
    from strava_vector_search_spark.queries import QUERIES

    part = spark.read.parquet(f"{SF_DIR}/part.parquet")
    big_part = (
        part.crossJoin(spark.range(10).select(F.col("id").alias("rep")))
        .select(
            (F.col("p_partkey") * 10 + F.col("rep")).alias("p_partkey"),
            "p_brand", "p_name",
        )
        .repartition(32)
        .cache()
    )
    n_part = big_part.count()

    def _fuzzy_distinct():
        import tempfile

        d = tempfile.mkdtemp(prefix="svs_fuzzy_")
        big_part.write.mode("overwrite").parquet(f"{d}/part.parquet")
        return QUERIES["dd_fuzzy_name_pairs"](spark, d).collect()

    sec, rows = t(_fuzzy_distinct)
    results.append(("fuzzy name pairs (dedup-before-join)", f"{n_part:,} parts",
                    sec,
                    "levenshtein kernel runs on distinct (brand, name) only "
                    "(~50K calls regardless of row count); pair multiplicities "
                    "re-expanded arithmetically — 10x rows, same kernel cost"))
    big_part.unpersist()

    # ---- binary sign-bit retrieval: inline vs materialized narrow index
    from strava_vector_search_spark.operators.search import (
        binary_topk,
        binary_topk_indexed,
        write_binary_index,
    )

    sec, _ = t(lambda: binary_topk(
        big_emb, qv, candidates=200, k=10, id_col="vec_id"
    ).collect())
    results.append(("binary_topk (inline)", f"{n_vec:,} vecs", sec,
                    "sign-bit pack + popcount(xor) per row, top-200 Hamming "
                    "candidates, exact rerank of survivors"))
    import tempfile

    bidx = tempfile.mkdtemp(prefix="svs_bidx_") + "/idx"
    t0 = time.time()
    write_binary_index(big_emb, bidx, dim=64, id_col="vec_id")
    build_sec = time.time() - t0
    results.append(("binary index build", f"{n_vec:,} vecs",
                    round(build_sec, 1),
                    "one-off map-only signature materialization (8 B/vec at "
                    "64d; 24 B/vec at 768d vs 3 KB float32 = 128x)"))
    sec, _ = t(lambda: binary_topk_indexed(
        spark, bidx, qv, candidates=200, k=10, id_col="vec_id"
    ).collect())
    results.append(("binary_topk (indexed)", f"{n_vec:,} vecs", sec,
                    "candidate scan reads ONLY (id, words) columns — column "
                    "pruning cuts scan bytes; rerank decodes survivors only"))

    # ---- SemDeDup pair kernel: 200K vectors in 128 hash clusters
    # (real SemDeDup runs ~100K k-means cells over web corpora — cluster
    # population, not corpus size, bounds the quadratic term; the probe
    # uses hash cells of ~1.6K vectors so one BLAS tile covers a cell.
    # Replicated test vectors make component SIZES degenerate, so the
    # probe measures the pair KERNEL; CC scaling is dd_connected_components'
    # own probe.)
    sem = big_emb.filter(F.col("vec_id") % 5 == 0).select(
        "vec_id", "embedding",
        F.pmod(F.hash("vec_id"), F.lit(128)).alias("cell"),
    )
    n_sem = sem.count()
    sec, n = t(lambda: D.semantic_pairs_blas(
        sem, "cell", "vec_id", "embedding", threshold=0.95
    ).count())
    results.append(("semantic_dedup pair kernel", f"{n_sem:,} vecs / 128 cells",
                    sec,
                    "within-cell BLAS tiles; quadratic term bounded by the "
                    "largest cell (~1.6K here), never the corpus"))

    # ---- CDC chunking + hashed classifier at 50K docs (map-only scans)
    sec, n = t(lambda: D.cdc_repeated_chunks(
        big_docs, "doc_id", "text"
    ).count())
    results.append(("cdc_repeated_chunks", f"{n_docs:,} docs", sec,
                    "rolling-hash boundary scan map-only; one 8-byte "
                    "chunk-hash shuffle for the doc-frequency aggregate"))
    from strava_vector_search_spark.functions.text import hashed_linear_score

    sec, n = t(lambda: big_docs.select(
        "doc_id", hashed_linear_score(F.col("text")).alias("s")
    ).count())
    results.append(("hashed_linear_classifier", f"{n_docs:,} docs", sec,
                    "one codegen fold per row, no vocab join — classifier "
                    "at scan speed (the fastText hashing trick)"))

    # ---- heavy hitters over ~50K docs' token stream: sketch-pass shuffle
    # is bounded by partitions x capacity, vs the naive full-key shuffle
    from strava_vector_search_spark.functions.text import tokens as _toks
    from strava_vector_search_spark.operators.heavy import heavy_hitters_exact

    tok_stream = big_docs.select(F.explode(_toks(F.col("text"))).alias("token"))
    n_tok = tok_stream.count()
    sec, n = t(lambda: heavy_hitters_exact(tok_stream, "token", k=200).count())
    results.append(("heavy_hitters MG k=200", f"{n_tok:,} token rows", sec,
                    f"{n} items > N/200; pass 1 ships <=partitions*400 "
                    "candidate rows, pass 2 recounts only the broadcast "
                    "candidates — the distinct-key space never shuffles"))

    def _naive_hh():
        nt = tok_stream.count()
        return (tok_stream.groupBy("token").count()
                .filter(F.col("count") * 200 > nt).count())

    sec, _ = t(_naive_hh)
    results.append(("heavy_hitters naive groupBy", f"{n_tok:,} token rows", sec,
                    "full distinct-key shuffle for comparison — similar here "
                    "(small vocab), but its shuffle grows with distinct keys "
                    "while the sketch's stays constant"))

    # ---- BPE trainer: after the one corpus scan, per-round cost is bound
    # by the DISTINCT-word char state, not corpus bytes
    from strava_vector_search_spark.operators.bpe import (
        char_state, train_bpe, word_vocab,
    )

    n_state = char_state(word_vocab(big_docs, "text")).count()
    sec, _ = t(lambda: train_bpe(big_docs, "text", num_merges=4).count())
    results.append(("bpe_train 4 merges", f"{n_tok:,} token occurrences", sec,
                    f"word-vocab decomposition: rounds run on the "
                    f"{n_state:,}-row distinct-word char state — 10x more "
                    "corpus only changes the initial scan, not the rounds"))

    # ---- storage layout: sorted+zstd vs unsorted snappy on amplified docs
    import pathlib
    import shutil
    import tempfile

    from strava_vector_search_spark.plans.layout import write_sorted_compressed

    tmpd = tempfile.mkdtemp(prefix="layoutprobe_")
    try:
        scrambled = big_docs.withColumn(
            "lang", F.concat(F.lit("l"), (F.col("doc_id") % 7).cast("string"))
        ).orderBy(F.md5(F.col("doc_id").cast("string")))
        scrambled.write.mode("overwrite").option("compression", "snappy").parquet(
            f"{tmpd}/base"
        )
        write_sorted_compressed(scrambled, f"{tmpd}/opt", ["lang", "doc_id"])

        def _sz(p):
            return sum(
                f.stat().st_size for f in pathlib.Path(p).rglob("*.parquet")
            )

        ratio = _sz(f"{tmpd}/opt") / _sz(f"{tmpd}/base")
        results.append(("parquet sorted+zstd vs unsorted snappy",
                        f"{n_docs:,} docs", round(ratio, 3),
                        "footprint RATIO (not seconds): sortWithinPartitions "
                        "on the cluster key + zstd — same rows, smaller scan; "
                        "at 100 TB the scan is I/O-bound so smaller is faster"))
    finally:
        shutil.rmtree(tmpd, ignore_errors=True)

    # ---- fixed-point PageRank: 1M edges / 100K nodes, 5 iterations
    # (per iteration one join + one partial-combined aggregate; integer
    # arithmetic so the probe's result is bit-identical at any parallelism)
    from strava_vector_search_spark.operators.graph import pagerank_fixedpoint

    n_nodes = 100_000
    pr_edges = (
        spark.range(1_000_000)
        .select(
            F.pmod(F.col("id") * 2654435761, F.lit(n_nodes)).alias("src"),
            F.pmod(F.col("id") * 40503 + 7, F.lit(n_nodes)).alias("dst"),
        )
        .repartition(64)
        .cache()
    )
    n_edges = pr_edges.count()
    sec, _ = t(lambda: pagerank_fixedpoint(pr_edges, iterations=5).count())
    results.append(("pagerank 5 iters", f"{n_edges:,} edges / {n_nodes:,} nodes",
                    sec,
                    "per iteration one src-join + one dst partial-agg; "
                    "shuffles 8-byte keys+longs only; localCheckpoint keeps "
                    "the plan flat — cost is linear in edges x iterations"))
    pr_edges.unpersist()

    # ---- incremental CC at 1M accumulated edges + a small batch: prove the
    # O(touched) claim at the scale where a full rebuild is visibly worse.
    # Edge space: 250K disjoint 8-node blocks (4 edges each) so components
    # stay small and a 500-edge batch touches ~1K of 250K components.
    blk = (F.col("id") / 4).cast("long") * 8
    cc_base = (
        spark.range(1_000_000)
        .select(
            (blk + F.pmod(F.col("id") * 2654435761, F.lit(8))).alias("a"),
            (blk + F.pmod(F.col("id") * 40503 + 7, F.lit(8))).alias("b"),
        )
        .repartition(64)
        .cache()
    )
    n_cc_edges = cc_base.count()
    # prior labeling = the state an incremental pipeline would already have;
    # materialize it OUTSIDE both timed regions
    cc_labels = D.connected_components(cc_base, "a", "b").cache()
    n_cc_nodes = cc_labels.count()
    cc_batch = (
        spark.range(500)
        .select(
            (F.col("id") * 4000).alias("a"),  # block 500*id, node 0
            (F.col("id") * 4000 + 8).alias("b"),  # first node of next block
        )
        .cache()
    )
    cc_batch.count()
    sec_inc, _ = t(
        lambda: D.cc_incremental(cc_labels, cc_batch, "a", "b").count()
    )
    sec_full, _ = t(
        lambda: D.connected_components(
            cc_base.unionByName(cc_batch), "a", "b"
        ).count()
    )
    results.append((
        "cc_incremental (500-edge batch)",
        f"{n_cc_edges:,} base edges / {n_cc_nodes:,} nodes",
        sec_inc,
        "anti-join reuses every untouched label; only components incident "
        "to the batch are rebuilt from their star edges — O(touched), "
        f"vs full rebuild {sec_full:.1f}s on the same accumulated edge set "
        "(gap widens linearly with corpus/batch ratio)"))
    cc_base.unpersist(); cc_labels.unpersist(); cc_batch.unpersist()

    # ---- closed-form linear probe + 2-iteration IRLS logreg at 1M rows:
    # training folds to moment aggregates, so cost ~= a scan per pass
    from strava_vector_search_spark.operators import linear as L

    feats = L.feature_frame(
        big_emb,
        F.col("embedding")[0],
        F.col("embedding")[1],
        (F.col("label") == 0).cast("int"),
    )
    sec, _ = t(lambda: L.fit_and_score(feats).count())
    results.append(("linear_probe train+score", f"{n_vec:,} rows", sec,
                    "normal equations: ONE moment aggregate trains, one "
                    "broadcast-coefficient scan scores — no iterations, no "
                    "parameter server"))
    sec, _ = t(lambda: L.logreg_irls(feats, iterations=2).count())
    results.append(("logreg IRLS 2 iters", f"{n_vec:,} rows", sec,
                    "one gradient/Hessian aggregate per Newton step; "
                    "model state is 3 numbers — scales as iterations x scan"))

    # ---- trigram substring index at 50K docs: build once, query many
    from pyspark.sql import functions as _F

    with tempfile.TemporaryDirectory() as tmpd:
        tg_path = f"{tmpd}/trigram_idx"
        postings = big_docs.select(
            "doc_id",
            _F.explode(
                _F.array_distinct(
                    _F.expr(
                        "transform(sequence(1, greatest(length(text) - 2, 1)),"
                        " i -> substring(text, i, 3))"
                    )
                )
            ).alias("tg"),
        )
        t0 = time.time()
        (
            postings.repartitionByRange(16, "tg")
            .sortWithinPartitions("tg", "doc_id")
            .write.mode("overwrite")
            .parquet(tg_path)
        )
        sec_build = time.time() - t0
        q = "vector table fast"
        qgrams = sorted({q[i : i + 3] for i in range(len(q) - 2)})

        def _tg_query():
            cand = (
                spark.read.parquet(tg_path)
                .filter(_F.col("tg").isin(qgrams))
                .groupBy("doc_id")
                .agg(_F.count(_F.lit(1)).alias("hits"))
                .filter(_F.col("hits") == len(qgrams))
            )
            return big_docs.join(cand, "doc_id", "left_semi").filter(
                _F.col("text").contains(q)
            ).count()

        sec, n = t(_tg_query)
        results.append((
            "trigram index build", f"{n_docs:,} docs", sec_build,
            "one scan + one range shuffle of (doc_id, trigram); amortized "
            "over every subsequent substring query"))
        results.append((
            "trigram substring query", f"{n_docs:,} docs", sec,
            f"{n} matches; literal IN pushed into the trigram-sorted "
            "posting scan (row-group min/max prune), exact contains on "
            "candidates only — the full-text scan never runs"))

    # ---- PCA: one decimal Gram aggregate at 1M vectors + driver eigensolve
    from strava_vector_search_spark.operators import pca as _P

    def _cols(texts):
        return [
            _F.expr(tx.rsplit(" AS ", 1)[0]).alias(tx.rsplit(" AS ", 1)[1])
            for tx in texts
        ]

    feats8 = big_emb.select(*_cols(_P.feat_exprs(one_based=False)))
    sec, _ = t(lambda: feats8.agg(*_cols(_P.gram_exprs())).collect())
    row = feats8.agg(*_cols(_P.gram_exprs())).first()
    lam, _v = _P.top_component_dense(row)
    results.append((
        "pca gram aggregate (8d)", f"{n_vec:,} vecs", sec,
        "ONE map-side-combined decimal aggregate is the entire distributed "
        f"cost; dense driver eigensolve on the 1-row result (lambda={lam:.4f}) "
        "is O(d^2) — at 768d the same shape with array outer-product sums"))

    # ---- Poisson bootstrap: B=100 resamples over 50K docs (5M weight rows)
    from strava_vector_search_spark.operators import als as _A
    from strava_vector_search_spark.operators import bootstrap as _BS

    big_docs.createOrReplaceTempView("svs_probe_docs")
    sec, _ = t(lambda: spark.sql(_BS.bootstrap_ci_sql(
        _A.spark_md5i,
        f"SELECT explode(sequence(1, {_BS.B})) AS b",
        "svs_probe_docs",
    )).collect())
    results.append((
        "poisson bootstrap CI B=100", f"{n_docs:,} docs", sec,
        "weights are a map-only projection over the crossed grid (no RNG, "
        "no global multinomial); per-resample integer sums partial-combine "
        "— extra work scales with B, and partitions never coordinate"))

    # ---- zone-map data skipping at 3M rows / 32 range-clustered files:
    # a ~2%-of-range predicate should read ~1/32 of the table
    from strava_vector_search_spark.plans import zonemap as Z

    import tempfile

    with tempfile.TemporaryDirectory() as tmpd:
        zpath = f"{tmpd}/orders_big"
        big_orders = (
            orders.crossJoin(spark.range(20).select(F.col("id").alias("rep")))
            .select(
                (F.col("o_orderkey") * 20 + F.col("rep")).alias("k"),
                (F.col("o_totalprice") + F.col("rep")).alias("price"),
            )
        )
        (
            big_orders.repartitionByRange(32, "price")
            .sortWithinPartitions("price")
            .write.mode("overwrite")
            .parquet(zpath)
        )
        n_big = spark.read.parquet(zpath).count()
        lo, hi = 200000.0, 210000.0
        sec_full, n_match = t(
            lambda: spark.read.parquet(zpath)
            .filter(F.col("price").between(lo, hi))
            .agg(F.count(F.lit(1)), F.sum("k"))
            .collect()
        )
        sec_build, _ = t(lambda: Z.build_zonemap(spark, zpath, ["price"]).count())
        zm = Z.build_zonemap(spark, zpath, ["price"]).cache()
        n_files = zm.count()
        n_kept = len(Z.prune_files(zm, "price", lo, hi))
        sec_pruned, _ = t(
            lambda: Z.read_pruned(spark, zm, "price", lo, hi)
            .agg(F.count(F.lit(1)), F.sum("k"))
            .collect()
        )
        zm.unpersist()
        results.append((
            "zonemap build", f"{n_big:,} rows / {n_files} files", sec_build,
            "ONE column-pruned scan; stats table is one narrow row per file "
            "(~tens of MB for a 100 TB lake), broadcastable"))
        results.append((
            "zonemap pruned scan", f"{n_kept}/{n_files} files read",
            sec_pruned,
            f"same answer as the full-scan filter ({sec_full:.2f}s); "
            f"{100 * (1 - n_kept / n_files):.0f}% of file I/O avoided. "
            "Wall is FLAT here (page-cache-hot local data, the prune adds "
            "a stats-table job) — the metric that transfers to 100 TB is "
            "bytes-not-read: a cold object-store scan pays per byte, and "
            "the planner also skips per-file footer opens"))

    # ---- round 5: two-level sweep line vs naive global window ----------
    from strava_vector_search_spark.io.tables import load_events

    ev = load_events(spark, os.path.normpath(SF_DIR))
    reps_e = 30
    big_b = (
        ev.select(F.unix_micros(F.col("ts")).alias("t0"))
        .crossJoin(spark.range(reps_e).select(F.col("id").alias("rep")))
        .select((F.col("t0") + F.col("rep") * F.lit(2592000000000)).alias("t"))
        .repartition(64)
        .cache()
    )
    n_b = big_b.count()
    starts = big_b.select("t", F.lit(1).alias("delta"))
    ends = big_b.select((F.col("t") + 1800000000).alias("t"), F.lit(-1).alias("delta"))
    bb = starts.unionAll(ends).withColumn("day", F.expr("t DIV 86400000000"))

    def _two_level():
        from pyspark.sql import Window as W

        wday = (
            W.partitionBy("day")
            .orderBy("t", "delta")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        loc = bb.withColumn("run", F.sum("delta").over(wday))
        days = bb.groupBy("day").agg(F.sum("delta").alias("ds"))
        wc = W.orderBy("day").rowsBetween(W.unboundedPreceding, -1)
        carry = days.select(
            "day", F.coalesce(F.sum("ds").over(wc), F.lit(0)).alias("c")
        )
        return (
            loc.join(F.broadcast(carry), "day")
            .groupBy("day")
            .agg(F.max(F.col("c") + F.col("run")))
            .count()
        )

    def _naive():
        from pyspark.sql import Window as W

        w = W.orderBy("t", "delta").rowsBetween(W.unboundedPreceding, W.currentRow)
        return (
            bb.withColumn("run", F.sum("delta").over(w))
            .groupBy("day")
            .agg(F.max("run"))
            .count()
        )

    sec_two, n_days = t(_two_level)
    sec_naive, _ = t(_naive)
    results.append((
        "sweep line two-level", f"{2 * n_b:,} boundaries / {n_days} days",
        sec_two,
        f"day-partitioned running sums + bounded carry join; the naive "
        f"single-partition global window ({sec_naive:.1f}s) is still FASTER "
        "here — a one-task sort of in-memory longs is cheap on one box. "
        "The metric that transfers is the per-task bound: the global window "
        "forces ONE task to hold and sort ALL boundaries (impossible at "
        "100 TB), while the two-level caps any task at one day's worth and "
        "the carry at |days| rows"))

    # ---- round 5: IVM delta maintenance vs view recompute --------------
    # (orders already bound above from the same path)
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    nation = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    reps_o = 20
    big_o = (
        orders.crossJoin(spark.range(reps_o).select(F.col("id").alias("rep")))
        .select(
            (F.col("o_orderkey") * reps_o + F.col("rep")).alias("o_orderkey"),
            "o_custkey",
            "o_totalprice",
        )
        .repartition(64)
        .cache()
    )
    n_o = big_o.count()

    def _view(o):
        return (
            o.join(F.broadcast(cust.select("c_custkey", "c_nationkey")),
                   o["o_custkey"] == F.col("c_custkey"))
            .join(F.broadcast(nation.select("n_nationkey", "n_name")),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("n_name")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("rev"))
        )

    # the realistic layout: the accumulated base and the arriving delta
    # batch are SEPARATE disk-resident directories (a delta never requires
    # filtering the base), and the base STATE (|nations| rows) is what the
    # refresh holds — never the base facts
    import shutil as _sh

    base_dir, delta_dir = "/tmp/svs_ivm_base", "/tmp/svs_ivm_delta"
    _sh.rmtree(base_dir, ignore_errors=True)
    _sh.rmtree(delta_dir, ignore_errors=True)
    big_o.filter(F.expr("o_orderkey % 100 <> 7")).write.parquet(base_dir)
    big_o.filter(F.expr("o_orderkey % 100 = 7")).write.parquet(delta_dir)
    big_o.unpersist()
    base_state = _view(spark.read.parquet(base_dir)).cache()
    base_state.count()

    def _ivm_refresh():
        d = _view(spark.read.parquet(delta_dir))
        return (
            base_state.alias("b")
            .join(d.alias("d"), "n_name", "full_outer")
            .select(
                "n_name",
                (F.coalesce(F.col("b.cnt"), F.lit(0))
                 + F.coalesce(F.col("d.cnt"), F.lit(0))).alias("cnt"),
            )
            .count()
        )

    def _ivm_recompute():
        allrows = spark.read.parquet(base_dir).unionByName(
            spark.read.parquet(delta_dir)
        )
        return _view(allrows).count()

    sec_delta, _ = t(_ivm_refresh)
    sec_recompute, _ = t(_ivm_recompute)
    results.append((
        "IVM join-view delta refresh", f"{n_o:,} orders / 1% delta",
        sec_delta,
        f"delta batch |><| broadcast dims + |nations|-row monoid merge, "
        f"reading ONLY the delta directory, vs full recompute over "
        f"base+delta ({sec_recompute:.1f}s): refresh I/O tracks the delta "
        "while the recompute rescans the accumulated facts — the gap IS "
        "the base/delta size ratio once the base leaves the page cache"))
    base_state.unpersist()

    # ---- round 5: Count-Min sketch build at scale ----------------------
    from strava_vector_search_spark.operators.cms import cms_cells

    big_keys = big_b.select((F.col("t") % 100000).alias("user_id"))
    sec_cms, n_cells = t(lambda: cms_cells(big_keys, "user_id").count())
    results.append((
        "count-min sketch build", f"{n_b:,} rows -> {n_cells} cells",
        sec_cms,
        "ONE map-side-combined (hash row, bucket) aggregate; partial "
        "sketches merge by cell addition, so the distinct-key space "
        "(100K here) never shuffles and the summary stays 512 cells at "
        "any cardinality"))
    # ---- round 5b: skyline, interval union, rank-test kernel at ~3M ----
    from strava_vector_search_spark.operators.skyline import skyline_2d

    part = spark.read.parquet(f"{SF_DIR}/part.parquet")
    reps_p = 150
    big_part = (
        part.select("p_retailprice", "p_size")
        .crossJoin(spark.range(reps_p).select(F.col("id").alias("rep")))
        .select(
            # jitter price per replica so the level table grows 100x too
            # (identical replicas would leave the bounded kernel unchanged
            # and under-state the work)
            F.expr(
                "ROUND(p_retailprice + (rep % 100) * 0.01, 2)"
            ).alias("price"),
            "p_size",
        )
        .repartition(64)
        .cache()
    )
    n_p = big_part.count()
    n_lvl = big_part.select("price").distinct().count()
    sec_sky, n_sky = t(
        lambda: skyline_2d(big_part, "price", "p_size").count()
    )
    results.append((
        "2-D skyline (window form)",
        f"{n_p:,} pts / {n_lvl:,} levels -> {n_sky} frontier",
        sec_sky,
        "per-level max partial-combines map-side; the only global state "
        "is the |levels|-bounded table the cumulative window walks — no "
        "dominance self-join at any N, and the frontier is mergeable "
        "for per-partition pre-pruning"))
    big_part.unpersist()

    ev_iu = big_b.select(
        (F.col("t") % 100000).alias("user_id"), F.col("t").alias("t_us")
    )

    def _interval_union():
        from pyspark.sql import Window as W

        w = W.partitionBy("user_id").orderBy("t_us")
        tt = ev_iu.withColumn("nxt", F.lead("t_us").over(w))
        return (
            tt.select(
                "user_id",
                F.expr(
                    "LEAST(COALESCE(nxt - t_us, 1800000000),"
                    " CAST(1800000000 AS BIGINT))"
                ).alias("contrib"),
            )
            .groupBy("user_id")
            .agg(F.sum("contrib").alias("covered_us"))
            .count()
        )

    sec_iu, n_users = t(_interval_union)
    results.append((
        "interval-union coverage",
        f"{n_b:,} leases / {n_users:,} users",
        sec_iu,
        "one partitioned lead/lag window + partial-agg: a per-key sort, "
        "never a global one; exact BIGINT arithmetic, zero driver state"))

    mw = big_b.select(
        (F.col("t") % 2).alias("arm"),
        F.expr("CAST(t % 50000 AS DOUBLE) / 100.0").alias("v"),
    )

    def _mann_whitney():
        from pyspark.sql import Window as W

        kern = mw.groupBy("v").agg(
            F.expr("COUNT(CASE WHEN arm = 0 THEN 1 END)").alias("ca"),
            F.expr("COUNT(CASE WHEN arm = 1 THEN 1 END)").alias("cb"),
        )
        wpre = W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
        per = kern.withColumn(
            "cumb", F.coalesce(F.sum("cb").over(wpre), F.lit(0))
        )
        return per.groupBy().agg(
            F.sum(F.expr("ca * (2 * cumb + cb)")).alias("u1x2")
        ).count()

    sec_mw, _ = t(_mann_whitney)
    results.append((
        "Mann-Whitney distinct kernel",
        f"{n_b:,} rows / 50,000 distinct values",
        sec_mw,
        "rank statistics WITHOUT ranking rows: the corpus folds to the "
        "distinct-value kernel in one partial-combined pass; the window "
        "walks only the bounded kernel (50K rows however large N gets)"))

    # ---- round 5b: nearest as-of join at 3M left x 300K right ---------
    from strava_vector_search_spark.operators.temporal import asof_join

    left_asof = big_b.select(
        (F.col("t") % 100000).alias("k"),
        F.timestamp_micros(F.col("t")).alias("ts"),
    )
    right_asof = (
        big_b.limit(300000)
        .select(
            (F.col("t") % 100000).alias("k"),
            F.timestamp_micros(F.col("t") + 7_000_000).alias("ts"),
            (F.col("t") % 97).alias("val"),
        )
    ).localCheckpoint(eager=False)
    n_r = right_asof.count()
    sec_asof, n_l = t(lambda: asof_join(
        left_asof, right_asof, ["k"], value_cols=["val"],
        direction="nearest",
    ).count())
    results.append((
        "as-of join (nearest)",
        f"{n_b:,} left x {n_r:,} right / 100K keys",
        sec_asof,
        "the union trick at its worst case (nearest = both window "
        "passes): ONE shuffle on the key, two in-partition sorts, no "
        "range predicate and no row explosion at any N"))
    big_b.unpersist()

    # ---- round 6: two-level global rank/running-sum at 3M docs ---------
    # the dm_curriculum_order / dm_budget_select / dm_interleave_sources
    # kernel (operators/order.py): range-partitioned per-partition
    # row_number + driver-side |partitions|-row offsets vs the naive
    # single-task global window
    from strava_vector_search_spark.operators.order import (
        attach_global_order,
    )

    pool = (
        spark.range(3_000_000)
        .select(
            F.col("id").alias("doc_id"),
            F.expr("CAST(pmod(hash(id), 10000) AS DOUBLE) / 100.0").alias(
                "quality"
            ),
            (F.pmod(F.hash(F.col("id")), F.lit(900)) + 100).alias("n_tok"),
        )
        .repartition(64)
        .cache()
    )
    n_pool = pool.count()
    go_order = [F.desc("quality"), F.asc("doc_id")]

    sec_go, _ = t(lambda: attach_global_order(
        pool, go_order, rank_col="rk", running_sums={"cum": "n_tok"}
    ).filter(F.col("cum") <= 150_000_000).count())

    def _naive_go():
        from pyspark.sql import Window as W

        w = W.orderBy(*go_order)
        wrun = w.rowsBetween(W.unboundedPreceding, W.currentRow)
        return (
            pool.withColumn("rk", F.row_number().over(w))
            .withColumn("cum", F.sum(F.col("n_tok").cast("bigint")).over(wrun))
            .filter(F.col("cum") <= 150_000_000)
            .count()
        )

    sec_ngo, _ = t(_naive_go)
    results.append((
        "global rank two-level",
        f"{n_pool:,} docs ranked + running sum",
        sec_go,
        f"range exchange + pid-partitioned windows + broadcast offsets: "
        f"every task holds ~1/64 of the pool; the naive unpartitioned "
        f"window ({sec_ngo:.1f}s here) needs ONE task to hold and sort "
        "all 3M rows — fine on one box, impossible at 100 TB. Plan "
        "contains zero Exchange SinglePartition (PLANS.md asserts it "
        "for all three dm_* global-order gates)"))
    pool.unpersist()

    # ---- round 6: Spearman over distinct kernels + two-level ranks
    xh = F.pmod(F.hash(F.col("id")), F.lit(50))
    sp_pool = (
        spark.range(3_000_000)
        .select(
            xh.cast("double").alias("x"),
            (
                xh * 1000 + F.pmod(F.hash(F.col("id") * 31 + 7), F.lit(997))
            ).cast("double").alias("y"),
        )
        .repartition(64)
        .cache()
    )
    n_sp = sp_pool.count()

    def _spearman():
        from strava_vector_search_spark.operators.order import (
            attach_global_order as ago,
        )

        def _rk(col):
            kern = sp_pool.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
            n_tot = kern.agg(F.sum("c").alias("n_tot"))
            ranked = ago(
                kern, [F.col(col)], rank_col=None, running_sums={"cum": "c"}
            )
            return ranked.crossJoin(F.broadcast(n_tot)).select(
                col,
                (
                    F.lit(2) * F.col("cum") - F.col("c") - F.col("n_tot")
                ).alias(f"d2{col}"),
            )

        joint = sp_pool.groupBy("x", "y").agg(F.count(F.lit(1)).alias("cj"))
        j = joint.join(_rk("x"), "x").join(_rk("y"), "y")
        cj = F.col("cj").cast("decimal(12,0)")
        d2x = F.col("d2x").cast("decimal(13,0)")
        d2y = F.col("d2y").cast("decimal(13,0)")
        return (
            j.agg(
                F.sum(cj * d2x * d2y).cast("double").alias("sxy"),
                F.sum(cj * d2x * d2x).cast("double").alias("sxx"),
                F.sum(cj * d2y * d2y).cast("double").alias("syy"),
            )
            .select(F.expr("ROUND(sxy / SQRT(sxx * syy), 6)"))
            .count()
        )

    sec_sp, _ = t(_spearman)
    results.append((
        "spearman two-level kernel",
        f"{n_sp:,} rows / ~50K distinct y",
        sec_sp,
        "rank statistics WITHOUT ranking rows: each column folds once "
        "into its distinct-value kernel (partial-combined), kernel ranks "
        "ride the two-level range-partitioned order (zero Exchange "
        "SinglePartition), rho's moments are exact DECIMAL integers over "
        "the joint kernel — corpus cost is two scans at any N; kernel "
        "cost tracks distinct values, not rows"))
    sp_pool.unpersist()

    # ---- round 6: Bloom membership vs exact broadcast semi-join
    from strava_vector_search_spark.operators import bloom as B

    ref_keys = (
        spark.range(1_000_000)
        .select(F.concat(F.lit("k"), F.col("id")).alias("s"))
        .repartition(64)
        .cache()
    )
    n_ref = ref_keys.count()
    probe_keys = (
        spark.range(3_000_000)
        .select(
            F.col("id"),
            F.concat(
                F.lit("k"), F.pmod(F.hash(F.col("id")), F.lit(4_000_000))
            ).alias("s"),
        )
        .repartition(64)
        .cache()
    )
    n_probe = probe_keys.count()
    m_bits = 16_777_216  # 2 MB of filter for 1M keys -> ~0.2% FP at k=4

    def _bloom():
        filt = B.build_filter(ref_keys, "s", m_bits=m_bits)
        return (
            B.probe_membership(probe_keys, "s", filt, m_bits=m_bits)
            .filter(F.col("maybe_member"))
            .count()
        )

    sec_bl, hits_bl = t(_bloom)

    def _exact_semi():
        return probe_keys.join(
            F.broadcast(ref_keys.distinct()), "s", "left_semi"
        ).count()

    sec_exs, hits_ex = t(_exact_semi)
    results.append((
        "bloom membership 1M-key filter",
        f"{n_probe:,} probes vs {n_ref:,}-key reference",
        sec_bl,
        f"{hits_bl:,} maybe-hits vs {hits_ex:,} exact "
        f"(semi-join {sec_exs:.1f}s): the reference folds to a 2 MB "
        "bit array (one bit_or aggregate — a monoid, so partial filters "
        "merge exactly) however large the reference grows, while the "
        "broadcast semi-join ships every distinct key; at a multi-billion"
        "-key blocklist the semi-join stops fitting and the filter does "
        "not. Probe side stays map-only in both designs; FPs are "
        "deterministic and bounded by the m/k sizing"))

    # ---- round 8: m_bits_for sizing honesty at 1M keys — the filter the
    # formula prescribes must deliver the DESIGNED false-positive rate
    design_fpr = 0.01
    m_sized = B.m_bits_for(n_ref, design_fpr)

    def _bloom_sized():
        filt = B.build_filter(ref_keys, "s", m_bits=m_sized)
        return (
            B.probe_membership(probe_keys, "s", filt, m_bits=m_sized)
            .filter(F.col("maybe_member"))
            .count()
        )

    sec_sz, maybe_sz = t(_bloom_sized)
    n_true = hits_ex  # exact members among the probes (semi-join above)
    fp_rate = (maybe_sz - n_true) / max(n_probe - n_true, 1)
    results.append((
        "bloom m_bits_for sizing at 1M keys",
        f"m_bits_for({n_ref:,}, {design_fpr}) = {m_sized:,} bits "
        f"({m_sized // 8 // 1024} KiB)",
        sec_sz,
        f"measured FP rate {fp_rate:.4%} vs designed {design_fpr:.2%} "
        f"({maybe_sz - n_true:,} false positives over "
        f"{n_probe - n_true:,} non-member probes) — within the 2x "
        "honesty band the pytest pins (tests/test_bloom_sizing.py); the "
        "k-pinned inversion m = k*n / -ln(1 - p^(1/k)) sizes the filter "
        "the gates actually build (k=4 portable md5 hashes), not the "
        "textbook optimal-k filter. Dense-probe ceiling: 64M words "
        "(512 MiB row) enforced in probe_membership; past it, shard the "
        "key space into independent filters"))
    ref_keys.unpersist()
    probe_keys.unpersist()

    # ---- write SCALE.md
    lines = [
        "# SCALE — measured behavior on amplified data (local[32])",
        "",
        f"Generated by `tools/scale_probe.py` from `{SF_DIR}` (embeddings",
        f"replicated to {n_vec:,} vectors, documents to {n_docs:,} rows).",
        "Numbers are single-run wall clock on this container; the point is",
        "the SHAPE of the scaling, matching the design notes in each",
        "operator's docstring.",
        "",
        "| operator | input | wall (s) | scaling story |",
        "|---|---|---|---|",
    ]
    for name, inp, sec, note in results:
        lines.append(f"| {name} | {inp} | {sec:.1f} | {note} |")
    lines += [
        "",
        "## Extrapolation to the 100 TB regime",
        "",
        "- **Scan-shaped ops** (brute-force top-k, histograms, text stats):",
        "  linear in bytes scanned, no shuffle. On a 1000-executor cluster the",
        "  same plans parallelize by file split; the narrow embeddings table",
        "  (4·dim+8 bytes/row) keeps bytes/vector minimal.",
        "- **IVF**: cluster-partitioned parquet turns the probe into partition",
        "  pruning — cost is nprobe/k of the corpus regardless of N.",
        "- **Exact near-dup** is quadratic and capped to the ≤100K regime by",
        "  design (reference's own threshold); past that the LSH/MinHash paths",
        "  are near-linear: signature build is one explode + partial-agg, the",
        "  band join shuffles 8-byte keys with bounded bucket sizes.",
        "- **Native SRP-LSH beats both by >20x** already at 30K (see table):",
        "  map-only fused-kernel signatures + one band-key shuffle, with r as",
        "  the selectivity knob (r=16 for the ≥0.9 regime). MLlib's",
        "  approxSimilarityJoin is kept only as the API-parity entry.",
        "- **PQ is a stored artifact**: codebooks train once on a bounded",
        "  sample (size-independent), encode is one map-only Arrow pass, and",
        "  serving sessions LOAD the persisted codebooks+codes (see the",
        "  'ivfpq persisted' row) — per-session retraining is a shape bug the",
        "  artifact removes. Streamed appends encode against the FROZEN",
        "  codebooks (streaming/pq_stream), never retrain.",
        "- **SemDeDup's quadratic bound is the largest CELL**: the table's",
        "  kmeans-16 vs 5-skewed-cells rows measure the same kernel at the",
        "  same N with only the cell key changed — the learned quantizer is",
        "  what keeps (largest cell)^2 sub-corpus at 100 TB.",
        "- **CDC merge** broadcasts the change feed: a 3M-row snapshot merges a",
        "  428K-row feed in ~3 s with the snapshot scanned once and never",
        "  shuffled — the property that holds when the snapshot is 100 TB and",
        "  the feed is a few GB.",
        "- **BM25 / vocab encode** are one-scan text ops: corpus stats and the",
        "  vocabulary are driver-side constants (broadcast), scoring/encoding",
        "  is map-only, top-k never sorts globally.",
        "- **Weighted sampling** is a hash draw + top-k: 3M rows in 0.3 s,",
        "  zero shuffle, bit-reproducible under retries and repartitioning.",
        "- **Shuffle-bearing ops** (groupBy, dedup, sessionize) all aggregate",
        "  partially map-side and shuffle hashed 8-byte keys, not payloads;",
        "  AQE re-plans partition counts and splits skewed keys at runtime.",
    ]
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALE.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}")
    for name, inp, sec, _ in results:
        print(f"{name:28s} {inp:34s} {sec:7.1f}s")
    spark.stop()


if __name__ == "__main__":
    main()
