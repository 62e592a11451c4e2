"""``refresh``: batch cache refresh over the IVF and IVF+PQ indexes.

Set-up writes the generated corpus as parquet (the CSV ingest path is
measured and checked by ``serve``), embeds it, builds a
learned IVF layout (``SearchService.build_ivf``) and a persisted IVF+PQ
artifact over the same coarse cells (``operators.pq``), and attaches it.
A round then serves one batch of text requests through ``search_batch``
and again through ``search_approx_batch``; the requests share a handful
of filter bodies.  After the timed region every returned row is checked
against an exact numpy reference, and each lane's mean recall@10 must
stay above its floor.
"""

from __future__ import annotations

import statistics

import numpy as np

import gen
import oracle
import serve
from strava_vector_search_spark.functions.embed import hash_embedding_table
from strava_vector_search_spark.operators import pq as PQ

CORPUS_DOCS = 1000
CELLS, FIT_FRACTION, MAX_ITER = 8, 1.0, 2
PQ_M, PQ_K, PQ_SAMPLE, PQ_ITERS = 16, 32, 512, 4
BATCH, NPROBE, N_CAND, LIMIT = 32, 2, 100, 10
# mean recall@10 per lane must reach these; the lowest of ten seeds was
# 0.58 (ivf) and 0.57 (pq), and a lane that drops rows or probes the
# wrong cells falls far below
RECALL_FLOOR = {"search_batch": 0.40, "search_approx_batch": 0.40}


def _build(bench, corpus: gen.Corpus):
    spark = bench.spark
    d = bench.scratch + "/refresh"
    corpus.write_parquet(d + "/corpus.parquet")
    svc = serve.build_service(bench, spark.read.parquet(d + "/corpus.parquet"), d + "/index")
    ivf = d + "/ivf"
    with bench.span("ann.build_ivf"):
        svc.build_ivf(ivf, n_clusters=CELLS, seed=42, fit_fraction=FIT_FRACTION,
                      max_iter=MAX_ITER)
    layout = spark.read.parquet(ivf)
    with bench.span("pq.train"):
        books = PQ.train_codebooks(layout, m=PQ_M, k=PQ_K, id_col="id",
                                   sample_rows=PQ_SAMPLE, iters=PQ_ITERS)
    with bench.span("pq.encode_write"):
        codes = PQ.encode_pq(layout, books, id_col="id", keep_cols=("cluster",))
        PQ.write_pq_index(codes, books, d + "/ivfpq", id_col="id", cluster_col="cluster",
                          centroids=spark.read.parquet(ivf + "/_centroids"))
    with bench.span("pq.attach"):
        svc.attach_pq_index(d + "/ivfpq")
    return svc


def _query_vectors(spark, batch: list[dict]) -> list[np.ndarray]:
    """The batch's query embeddings, computed the way the service computes
    them, for the exact reference."""
    df = spark.createDataFrame([(i, r["query"]) for i, r in enumerate(batch)], "rid int, t string")
    got = {r["rid"]: r["embedding"] for r in hash_embedding_table(df, "rid", "t", serve.DIM).collect()}
    return [np.asarray(got[i], dtype=np.float64) for i in range(len(batch))]


def _check(bench, lane: str, rows, batch, qvs, store, rowattrs) -> list[float]:
    """Per-request recall@10 of one lane.  A request fails when it returns
    no rows or more than its limit, when its ranks do not run 1..n with
    non-increasing similarity, or when a row breaks its filter or carries
    a similarity other than the exact one."""
    by_req: dict[int, list] = {}
    for r in rows:
        by_req.setdefault(r["request_id"], []).append(r)
    pos = {doc_id: i for i, doc_id in enumerate(store.ids)}
    recalls = []
    for i, req in enumerate(batch):
        sims = store.matrix @ qvs[i]
        allowed = np.array([oracle.matches(req["filter"], a) is True for a in rowattrs])
        want = sorted(np.flatnonzero(allowed), key=lambda j: (-sims[j], store.ids[j]))[:LIMIT]
        got = sorted(by_req.get(i, []), key=lambda r: r["rank"])
        err = None
        if not got or len(got) > req["limit"]:
            err = f"{len(got)} rows for limit {req['limit']}"
        elif [r["rank"] for r in got] != list(range(1, len(got) + 1)):
            err = f"ranks {[r['rank'] for r in got]}"
        elif any(a["similarity"] < b["similarity"] for a, b in zip(got, got[1:])):
            err = "similarity increases with rank"
        for r in got:
            j = pos.get(r["id"])
            if err is None and (j is None or not allowed[j]
                                or abs(r["similarity"] - sims[j]) > oracle.TOL):
                err = f"row {r['id']} fails its filter or similarity"
        if err:
            bench.fail(f"{lane} request {i}: {err}")
        recalls.append(oracle.recall({r["id"] for r in got}, [store.ids[j] for j in want]))
    mean = statistics.mean(recalls)
    if mean < RECALL_FLOOR[lane]:
        bench.fail(f"{lane}: mean recall@10 {mean:.3f} below {RECALL_FLOOR[lane]}")
    return recalls


def run(bench) -> float:
    spark = bench.spark
    corpus = gen.Corpus(bench.seed, CORPUS_DOCS)
    setup_s, svc = bench.timed_setups(1, lambda rep: _build(bench, corpus))
    served, rounds, results = 0, [], []
    for r, batch in enumerate(gen.refresh_batches(bench.seed, corpus, BATCH, LIMIT)):
        # a round takes seconds; stop before one would overrun the window
        if rounds and sum(rounds) + statistics.median(rounds) > bench.seconds:
            break
        bench.attempted += 2 * len(batch)
        with bench.span("refresh.round", r) as whole:
            with bench.span("service.batch_plan", r):
                df = svc.search_batch(batch, nprobe=NPROBE)
            with bench.span("service.batch_exec", r) as ex:
                exact = df.collect()
                ex.rows = len(exact)
            with bench.span("service.approx_plan", r):
                df = svc.search_approx_batch(batch, nprobe=NPROBE, n_cand=N_CAND)
            with bench.span("service.approx_exec", r) as ex:
                approx = df.collect()
                ex.rows = len(approx)
        rounds.append(whole.seconds)
        served += 2 * len(batch)
        results.append((batch, exact, approx))

    # checks, outside the timed region
    store = oracle.VectorStore(svc.index_path, "id")
    attrs = {d["id"]: d for d in corpus.docs}
    rowattrs = [attrs[i] for i in store.ids]
    ivf_recall, pq_recall = [], []
    for batch, exact, approx in results:
        qvs = _query_vectors(spark, batch)
        ivf_recall += _check(bench, "search_batch", exact, batch, qvs, store, rowattrs)
        pq_recall += _check(bench, "search_approx_batch", approx, batch, qvs, store, rowattrs)

    wall = sum(rounds)
    bench.layer_values.update({"ann.recall_at_10": statistics.mean(ivf_recall),
                               "pq.recall_at_10": statistics.mean(pq_recall)})
    bench.e2e.update(
        latency_p50_ms=statistics.median(rounds) * 1e3,
        throughput_rps=served / wall,
    )
    bench.report.update(
        cold_round_ms=(rounds[0] * 1e3, "ms"),
        refresh_qps=(served / wall, "requests/s"),
        rounds=(len(rounds), "count"),
        ivf_recall_at_10=(statistics.mean(ivf_recall), "ratio"),
        pq_recall_at_10=(statistics.mean(pq_recall), "ratio"),
    )
    return setup_s
