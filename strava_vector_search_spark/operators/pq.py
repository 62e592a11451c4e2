"""Product quantization (PQ) — compressed-domain ANN, the memory-side scale
path the reference's "1M+ documents: consider approximate search"
(``02_method2_manual_vector_embedding.sql:438-442``) implies but never
builds. Complements IVF/SRP (operators/ann.py), which prune WHICH vectors
are scored; PQ shrinks WHAT is scored:

* a d-dim float vector (d·4 bytes) becomes ``m`` uint8 codes (m bytes) —
  64-dim float32 → 8 bytes is a 32× cut, 768-dim → 96 bytes the same. At
  100 TB of raw embeddings the code table is ~3 TB and fits cluster RAM,
  so candidate generation never touches the fat table.
* scoring is asymmetric-distance (ADC, Jégou et al. 2011): per query, one
  (m × k) lookup table of query-subvector · centroid inner products; a
  vector's approximate score is m table lookups + adds, no float math on
  the corpus side.

Spark mapping — every stage is map-only except the final top-k:
* **train** — driver-side Lloyd's on a BOUNDED id-ordered sample
  (``sample_rows`` ≤ 4096 rows — same bounded-collect contract as the IVF
  centroid probe); deterministic: fixed init (evenly spaced rows of the
  id-sorted sample), fixed iteration count, argmin ties to the lowest
  centroid index. Codebooks are m·k·(d/m) doubles — a few KB, shipped in
  the task closure.
* **encode** — Arrow-batched ``mapInPandas``; one pass, no shuffle; codes
  stored as an 8-byte BINARY column next to the id.
* **search** — mapInPandas ADC scan over the code table with the
  deterministic local-top-k tie rule (operators/search._local_topk_ties),
  global candidate rank, then EXACT rescoring of the candidate set against
  the full vectors (refine), so the only approximation is candidate
  recall — identical in contract to the IVF gate.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from strava_vector_search_spark.operators.ann import (
    LocalCentroids,
    collect_centroids,
    compute_centroids,
    probe_local,
)
from strava_vector_search_spark.operators.search import (
    _local_topk_ties,
    brute_force_topk,
)


_CODEBOOK_CACHE: dict[tuple, np.ndarray] = {}

# _plan_digest temporarily raises the session-wide
# spark.sql.debug.maxToStringFields for its render; serialize the
# set/render/restore window so concurrent threads sharing the
# SparkSession can't observe or clobber the raised value. The cache the
# digest feeds is process-local, so a process-local lock suffices.
_PLAN_DIGEST_LOCK = __import__("threading").Lock()


def _plan_digest(df: DataFrame) -> tuple[int, str] | None:
    """Collision-proof cache identity for a DataFrame's analyzed plan:
    ``(semanticHash, sha256(full canonicalized string))``. Neither half
    alone is safe: semanticHash is 32 bits (not an equality check), and
    ``toString()`` elides attributes past ``spark.sql.debug
    .maxToStringFields`` ("... N more fields"), so two DIFFERENT wide
    plans — e.g. dim-768 staged embed pipelines, which differ exactly in
    the elided field lists — can render to the SAME string. The conf is
    raised for the render and restored, and only the 64-char digest is
    retained (the raw multi-KB plan text of every cached input would
    otherwise live for the session as a dict key). None when the JVM
    plan is unreachable (callers then skip caching)."""
    import hashlib

    conf = df.sparkSession.conf
    key = "spark.sql.debug.maxToStringFields"
    try:
        canon = df._jdf.queryExecution().analyzed().canonicalized()
        with _PLAN_DIGEST_LOCK:
            old = conf.get(key, None)
            conf.set(key, str(1 << 30))
            try:
                rendered = canon.toString()
            finally:
                if old is None:
                    conf.unset(key)
                else:
                    conf.set(key, old)
        return (
            int(canon.semanticHash()),
            hashlib.sha256(rendered.encode("utf-8")).hexdigest(),
        )
    except Exception:
        return None


def train_codebooks(
    emb: DataFrame,
    m: int = 8,
    k: int = 256,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    sample_rows: int = 4096,
    iters: int = 15,
) -> np.ndarray:
    """(m, k, d/m) float64 codebooks via deterministic per-subspace Lloyd's
    on the ``sample_rows`` lowest-id vectors. Empty clusters keep their
    previous centroid (stable under re-runs).

    Memoized per (session, input plan, params): training is a pure
    deterministic function of its inputs (ordered sample + Lloyd's), and
    the PQ and IVF+PQ gates train over the SAME table — one ~1 s driver
    loop serves every caller instead of re-running per gate and per bench
    rep. Keyed by :func:`_plan_digest` — (semanticHash, sha256 of the
    UNTRUNCATED canonicalized plan) — so a FILTERED input never hits
    another input's entry and two wide plans that truncate to the same
    rendered string stay distinct; entries of other applicationIds are
    evicted on lookup (as in queries._session_kernel). Cached arrays are
    frozen read-only before caching, so a consumer mutating its result
    raises instead of poisoning every later hit."""
    spark = emb.sparkSession
    app_id = spark.sparkContext.applicationId
    plan_key = _plan_digest(emb)
    key = (app_id, plan_key, m, k, vector_col, id_col, sample_rows, iters)
    if plan_key is not None:
        for stale in [c for c in _CODEBOOK_CACHE if c[0] != app_id]:
            del _CODEBOOK_CACHE[stale]
        if key in _CODEBOOK_CACHE:
            return _CODEBOOK_CACHE[key]
    books = _train_codebooks_uncached(
        emb, m, k, vector_col, id_col, sample_rows, iters
    )
    if plan_key is not None:
        books.flags.writeable = False
        _CODEBOOK_CACHE[key] = books
    return books


def _train_codebooks_uncached(
    emb: DataFrame,
    m: int,
    k: int,
    vector_col: str,
    id_col: str,
    sample_rows: int,
    iters: int,
) -> np.ndarray:
    # Two-phase sample fetch: ids first (8-byte rows), then the vectors
    # of ONLY those ids. A direct orderBy(id).limit(n).collect() of the
    # fat vectors executes as TakeOrderedAndProject, whose driver-side
    # merge receives up to n rows PER PARTITION — at 1M x 768d on 64
    # partitions that is ~1.6 GB of serialized partials and blows
    # spark.driver.maxResultSize (found by the sf-amplified scale probe;
    # invisible at dim 64). The id-list pass ships 8-byte rows through
    # the same merge; the second pass semi-joins down to <= n rows TOTAL
    # before any collect. Same ids, same order -> identical codebooks.
    ids = emb.select(id_col).orderBy(id_col).limit(sample_rows)
    rows = (
        emb.select(id_col, F.col(vector_col).cast("array<double>"))
        .join(F.broadcast(ids), id_col, "left_semi")
        .orderBy(id_col)
        .collect()
    )
    # Precondition: id_col is unique. With duplicate ids the semi-join
    # returns MORE than sample_rows rows (the old direct limit capped
    # exactly), silently changing the trained codebooks and re-opening
    # the driver-result-size exposure the two-phase fetch closed.
    if len(rows) > sample_rows:
        raise ValueError(
            f"{id_col} is not unique: two-phase sample fetched {len(rows)} "
            f"rows for a {sample_rows}-row sample; dedupe ids before "
            "training codebooks"
        )
    X = np.array([r[1] for r in rows], dtype=np.float64)
    n, d = X.shape
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    books = np.empty((m, k, sub), dtype=np.float64)
    init_idx = np.linspace(0, n - 1, k).astype(int)
    sums = np.empty((k, sub))
    for j in range(m):
        Xj = np.ascontiguousarray(X[:, j * sub : (j + 1) * sub])
        C = Xj[init_idx].copy()
        # argmin over c of ||x-c||^2 == argmin of (||c||^2 - 2 x·c) — the
        # per-row ||x||^2 term is constant under the argmin and DROPPED,
        # and the score is assembled IN PLACE on the matmul output: the
        # (n, k) temporaries the naive d2 expression allocates were the
        # dominant cost (measured ~6 s of a 7 s m=96 train), not the
        # matmul. Mathematically the same argmin (float low-bits may
        # differ from encode_pq's naive form on exact ties), ties to the
        # lowest centroid index, empty clusters keep their previous
        # centroid — all unchanged. m=96 (dim 768) trains in ~2 s at the
        # 4096-row sample ceiling where the temporary-heavy form took
        # ~26 s. Encoding is a fresh assignment either way, so a
        # near-tie flipping between train and encode costs at most a
        # marginally worse code, never correctness (the gates check
        # candidate recall, not assignments).
        for _ in range(iters):
            G = Xj @ C.T
            G *= -2.0
            G += (C * C).sum(1)[None, :]
            assign = G.argmin(1)
            for t in range(sub):
                sums[:, t] = np.bincount(
                    assign, weights=Xj[:, t], minlength=k
                )
            counts = np.bincount(assign, minlength=k)
            nonempty = counts > 0
            C[nonempty] = sums[nonempty] / counts[nonempty, None]
        books[j] = C
    return books


def encode_pq(
    emb: DataFrame,
    books: np.ndarray,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id[, keep_cols...], code BINARY) — m uint8 centroid ids packed per
    vector. Map-only; the fat vector column is dropped before any
    downstream shuffle. ``keep_cols`` carries narrow metadata (e.g. the
    IVF cluster id) into the code table so candidate scans can prune on
    it without joining the fat corpus back."""
    import pandas as pd

    m, _, sub = books.shape
    id_type = emb.schema[id_col].dataType.simpleString()
    keep_types = {
        c: emb.schema[c].dataType.simpleString() for c in keep_cols
    }
    B = books

    # per-subspace ||c||^2 hoisted once: the argmin over c of ||x-c||^2
    # equals argmin of (||c||^2 - 2 x·c) — the per-row ||x||^2 term is
    # constant under the argmin and DROPPED, and the score assembles IN
    # PLACE on the matmul output. Same allocation-lean form the trainer
    # uses (the naive (n, k, sub) broadcast-subtract temporaries made the
    # 1M x 768 m=96 encode 131 s; this form measures ~4x less). Argmin
    # ties can differ from the naive form in float low bits — encoding
    # is a fresh deterministic assignment either way, and a near-tie
    # flipping costs at most a marginally worse code, never correctness
    # (gates check candidate recall + exact rescoring, not code bytes).
    _c2 = (B * B).sum(-1)  # (m, k)

    def _enc(batches):
        for pdf in batches:
            X = np.stack(pdf[vector_col].to_numpy()).astype(np.float64)
            codes = np.empty((len(pdf), m), dtype=np.uint8)
            for j in range(m):
                Xj = X[:, j * sub : (j + 1) * sub]
                G = Xj @ B[j].T
                G *= -2.0
                G += _c2[j][None, :]
                codes[:, j] = G.argmin(1)
            out = {id_col: pdf[id_col]}
            for c in keep_cols:
                out[c] = pdf[c]
            out["code"] = [c.tobytes() for c in codes]
            yield pd.DataFrame(out)

    from strava_vector_search_spark.operators.util import rebalance_for_kernel

    schema = ", ".join(
        [f"{id_col} {id_type}"]
        + [f"{c} {t}" for c, t in keep_types.items()]
        + ["code binary"]
    )
    return rebalance_for_kernel(
        emb.select(id_col, *keep_cols, vector_col)
    ).mapInPandas(_enc, schema)


def residualize(
    clustered: DataFrame,
    centroids: DataFrame,
    vector_col: str = "embedding",
    cluster_col: str = "cluster",
    out_col: str = "residual",
) -> DataFrame:
    """Append ``out_col`` = vector − assigned coarse centroid — the
    residual the IVFADC recipe (Jégou et al. 2011 §III) quantizes
    instead of the raw vector: once the coarse quantizer has absorbed
    the between-cell structure, the residual is the small within-cell
    remainder, so the SAME m bytes of PQ budget quantize a much tighter
    distribution (on clustered corpora — exactly the regime where the
    production sqrt-N coarse sizing lives — the ADC error drops by the
    cell radius / corpus radius ratio). JVM-side only: a broadcast join
    against the ≤65536-row centroid table plus one ``zip_with``
    subtract — no Python in the pass, the fat column count grows by
    one, and the plan stays whole-stage-codegen around the join."""
    cent = centroids.select(
        F.col("cluster").alias(cluster_col),
        F.col("centroid").alias("_cent"),
    )
    return (
        clustered.join(F.broadcast(cent), cluster_col)
        .withColumn(
            out_col,
            F.zip_with(
                F.col(vector_col).cast("array<double>"),
                F.col("_cent"),
                lambda a, b: a - b,
            ),
        )
        .drop("_cent")
    )


def pq_topk_refined(
    emb: DataFrame,
    codes: DataFrame,
    books: np.ndarray,
    query_vec: list[float],
    k: int = 10,
    n_cand: int = 100,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC candidate generation over the code table, exact cosine rescoring
    of the (tiny) candidate set against the full vectors
    (:func:`rescore_candidates`). Returns (id, similarity), exact values,
    approximate recall."""
    from strava_vector_search_spark.operators.util import rebalance_for_kernel

    cand = pq_candidates_batch(
        rebalance_for_kernel(codes), books, [(0, query_vec)], None, n_cand,
        id_col,
    )
    return rescore_candidates(
        emb, cand, query_vec, k, vector_col, id_col, assume_normalized=True
    )


def rescore_candidates(
    emb: DataFrame,
    cand: DataFrame,
    query_vec: list[float],
    k: int,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    assume_normalized: bool = True,
) -> DataFrame:
    """The refine stage of every single-query PQ lane: exact top-``k``
    (:func:`brute_force_topk`, a heap) over the vectors of ``cand``'s
    ids. The candidate-id join is a broadcast semi-join — the
    ``n_cand``-row side never shuffles the corpus."""
    pruned = emb.join(
        F.broadcast(cand.select(id_col)), on=id_col, how="left_semi"
    )
    return brute_force_topk(
        pruned,
        query_vec,
        k=k,
        vector_col=vector_col,
        id_col=id_col,
        assume_normalized=assume_normalized,
    )


# --- index persistence ------------------------------------------------------
# A production PQ index is a STORED artifact (FAISS writes one file;
# Spark-side the natural shape is parquet tables): codebooks + codes are
# built once, loaded by every serving session, never retrained per
# session. Without this the session memo in train_codebooks only
# amortizes WITHIN a session — a fresh session paid the full m=96 Lloyd
# train (measured 23-38 s cold at 1M-scale parameters) before the first
# query.

_PQ_META = "_pq_meta"


def write_pq_index(
    codes: DataFrame,
    books: np.ndarray,
    path: str,
    id_col: str = "vec_id",
    cluster_col: str | None = None,
    centroids: DataFrame | None = None,
    stream_batch_col: str | None = None,
    residual: bool = False,
) -> None:
    """Persist a PQ (or IVF+PQ) index under ``path``:

    * ``codebooks/`` — (j, c, centroid) rows, m·k of them (~1.5 MB at
      m=96, k=256, sub=8 — one file);
    * ``codes/`` — the m-byte code table, partitioned by ``cluster_col``
      when given so the IVFPQ probe's cluster filter prunes PARTITIONS
      (unprobed codes are never read, the write_ivf_index story applied
      to the compressed table);
    * ``centroids/`` — the coarse-quantizer table (IVF+PQ only);
    * ``_pq_meta`` — (m, k, sub, id_col, cluster_col) stamped for
      load-time validation, like the IVF layout marker.

    Parquet doubles round-trip bit-for-bit, so the loaded index is
    value-identical to the trained one (pinned in test_pq).

    ``stream_batch_col``: stream-managed variant — the code table is
    partitioned (batch, cluster) so micro-batch appends can
    dynamic-partition-overwrite exactly their own batch partitions
    (idempotent replay — the ivf_stream recipe applied to codes;
    ``codes`` must already carry the column, e.g. lit(-1) for the base).
    The two code layouts must not mix under one path; the meta stamp
    records which one this artifact is.

    ``residual=True`` stamps the artifact as residual-encoded (codes
    built over :func:`residualize` output): a loader then knows ADC
    needs the per-cell q·centroid offsets — mixing the two encodings
    silently degrades recall, so the stamp travels with the codes.
    Requires the coarse quantizer (``cluster_col`` + ``centroids``)."""
    if residual and (cluster_col is None or centroids is None):
        raise ValueError(
            "write_pq_index: residual=True needs cluster_col AND "
            "centroids — residual codes are meaningless without their "
            "coarse quantizer"
        )
    import json
    import os

    m, kk, sub = books.shape
    os.makedirs(path, exist_ok=True)
    spark = codes.sparkSession
    spark.createDataFrame(
        [
            (j, c, [float(x) for x in books[j, c]])
            for j in range(m)
            for c in range(kk)
        ],
        "j int, c int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "codebooks")
    )
    part_cols = [
        c for c in (stream_batch_col, cluster_col) if c is not None
    ]
    w = codes.write.mode("overwrite")
    if part_cols:
        w = w.partitionBy(*part_cols)
    w.parquet(os.path.join(path, "codes"))
    if centroids is not None:
        centroids.select("cluster", "centroid").write.mode(
            "overwrite"
        ).parquet(os.path.join(path, "centroids"))
    with open(os.path.join(path, _PQ_META), "w", encoding="ascii") as f:
        json.dump(
            {
                "m": int(m),
                "k": int(kk),
                "sub": int(sub),
                "id_col": id_col,
                "cluster_col": cluster_col,
                "stream_batch_col": stream_batch_col,
                # absent in pre-residual artifacts -> loaders default to
                # False (raw encoding), so old indexes keep serving
                "residual": bool(residual),
            },
            f,
        )


def load_pq_index(
    spark, path: str
) -> tuple[np.ndarray, DataFrame, DataFrame | None, dict]:
    """(books, codes, centroids | None, meta) — the artifact written by
    :func:`write_pq_index`. Codebooks are a BOUNDED m·k-row collect
    reassembled into the frozen (m, k, sub) array; codes and centroids
    stay lazy DataFrame scans (the code table is the thing one must NOT
    collect). Validates the meta stamp against the codebook table so a
    half-written or foreign directory fails loudly at load, not as a
    garbled scan later."""
    import json
    import os

    with open(os.path.join(path, _PQ_META), encoding="ascii") as f:
        meta = json.load(f)
    m, kk, sub = meta["m"], meta["k"], meta["sub"]
    rows = spark.read.parquet(os.path.join(path, "codebooks")).collect()
    if len(rows) != m * kk:
        raise ValueError(
            f"load_pq_index: {path!r} codebook table has {len(rows)} rows, "
            f"meta says m*k = {m * kk} — artifact is corrupt or foreign"
        )
    books = np.empty((m, kk, sub), dtype=np.float64)
    for r in rows:
        if len(r["centroid"]) != sub:
            raise ValueError(
                f"load_pq_index: codebook ({r['j']},{r['c']}) has width "
                f"{len(r['centroid'])}, meta says sub = {sub}"
            )
        books[r["j"], r["c"]] = r["centroid"]
    books.flags.writeable = False
    codes = spark.read.parquet(os.path.join(path, "codes"))
    cents_path = os.path.join(path, "centroids")
    cents = (
        spark.read.parquet(cents_path)
        if os.path.isdir(cents_path)
        else None
    )
    return books, codes, cents, meta


def ivfpq_topk(
    emb: DataFrame,
    codes: DataFrame,
    books: np.ndarray,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    n_cand: int = 100,
    cluster_col: str = "label",
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: LocalCentroids | None = None,
    residual: bool = False,
    assume_normalized: bool = True,
) -> DataFrame:
    """IVF + PQ composed — the standard billion-scale ANN recipe (FAISS
    IVFPQ): IVF prunes WHICH codes are scanned (a literal ``IN`` on the
    cluster column → partition pruning on a cluster-partitioned code
    table), PQ shrinks WHAT the scan reads (m-byte codes, ADC lookups).
    The fat vector table is touched only to exact-rescore the ``n_cand``
    surviving candidates (:func:`rescore_candidates`).

    ``codes`` must carry ``cluster_col`` (encode with
    ``encode_pq(..., keep_cols=(cluster_col,))``). ``centroids`` are held
    on the driver (None: ``compute_centroids`` of ``emb``, collected
    here), and the candidates come from :func:`ivfpq_candidates`, the
    stage the service lanes share.

    ``residual=True``: the codes were encoded over
    :func:`residualize` output (true IVFADC) — ADC adds each probed
    cell's q·centroid scalar.

    ``assume_normalized`` is passed to the exact rescore
    (:func:`brute_force_topk`): False scores full cosine, for stored
    vectors that are not unit length.

    The ADC kernel's width is checked on ``codes`` as passed, before the
    probe's filter.
    """
    from strava_vector_search_spark.operators.util import rebalance_for_kernel

    if centroids is None:
        centroids = collect_centroids(
            compute_centroids(emb, cluster_col, vector_col)
        )
    cand = ivfpq_candidates(
        rebalance_for_kernel(codes),
        books,
        [(0, query_vec)],
        centroids,
        nprobe,
        n_cand,
        id_col,
        cluster_col,
        residual,
    )
    return rescore_candidates(
        emb, cand, query_vec, k, vector_col, id_col, assume_normalized
    )


def pq_candidates_batch(
    codes: DataFrame,
    books: np.ndarray,
    queries: list[tuple[int, list[float]]],
    probed: dict[int, set] | None = None,
    n_cand: int = 100,
    id_col: str = "vec_id",
    cluster_col: str = "cluster",
    centroid_vecs: dict | None = None,
) -> DataFrame:
    """(query_id, id, adc_score) — the ADC kernel: global top-``n_cand``
    ids per query by asymmetric inner-product score, for every query in
    ONE pass over the code table. Per query, one (m × k) lookup table of
    query-subvector · codebook-centroid products; a row's score is m
    table lookups added in subspace order, rounded to 6 dp.

    ``probed`` maps each query id to its probed cells: the per-query
    cell mask is applied INSIDE the Arrow kernel, so each query's
    candidates come only from ITS probed cells (a query never picks up
    a candidate from a cell it did not probe). ``codes`` then carries
    ``cluster_col``; rows outside every query's cells are skipped.
    ``probed=None`` applies no mask: plain PQ (:func:`pq_topk_refined`),
    where ``codes`` needs no cell column.

    ``centroid_vecs`` (residual-encoded codes only): coarse centroid
    vectors covering every probed cell (every cell of the scan when
    ``probed`` is None). With inner-product scoring the residual
    decomposition is exact and cheap: q·x = q·(c + r) = q·c + q·r, so
    the residual LUT is CELL-INDEPENDENT (one (m × k) table per query,
    as in the raw lane) and the cell enters only through the scalar
    q·c — unlike L2 residual ADC, which needs a fresh LUT per probed
    cell. The (Q × cells) matrix of those scalars is added through the
    same fancy index as the mask. Cells are keyed by their id, so
    string cell ids work as integer ones do; a probed cell with no
    centroid fails at matrix build, before any executor work.

    Per batch: one (Q, B) score matrix assembled by m gather-adds from
    the stacked (Q, m, k) LUTs, masked by probe membership (no per-row
    Python), then the deterministic local top-``n_cand`` per query
    (ties to the lower id); only batch-local winners reach the global
    per-query rank, so the shuffle carries n_batches * Q * n_cand tiny
    rows. The global cut is a per-query ranking window —
    WindowGroupLimit keeps map tasks bounded.

    The kernel runs at the width ``codes`` arrives with: spread the code
    scan (``operators/util.rebalance_for_kernel``) before filtering it.
    Checking the width here, after a semi-join, would run the join's
    broadcast once for the check and again for the result."""
    import pandas as pd

    from pyspark.sql import Window

    m, _, sub = books.shape
    q_ids = [int(q) for q, _v in queries]
    luts = np.stack(
        [
            np.einsum(
                "mkd,md->mk",
                books,
                np.asarray(v, dtype=np.float64).reshape(m, sub),
            )
            for _q, v in queries
        ]
    )
    if probed is None and centroid_vecs is not None:
        probed = {q: set(centroid_vecs) for q in q_ids}
    cells = None
    if probed is not None:
        cells = sorted({c for cs in probed.values() for c in cs})
        cl_index = {c: j for j, c in enumerate(cells)}
        probe_mat = np.zeros((len(q_ids), len(cells)), dtype=bool)
        for qi, q in enumerate(q_ids):
            for c in probed.get(q, ()):
                probe_mat[qi, cl_index[c]] = True
    offset_mat = None
    if centroid_vecs is not None:
        missing = [c for c in cells if c not in centroid_vecs]
        if missing:
            raise ValueError(
                "pq_candidates_batch: probed clusters "
                f"{missing} have no centroid vector — residual ADC "
                "needs every probed cell's q·centroid offset"
            )
        cent_mat = np.stack(
            [
                np.asarray(centroid_vecs[c], dtype=np.float64)
                for c in cells
            ]
        )  # (cells, d)
        q_mat = np.stack(
            [np.asarray(v, dtype=np.float64) for _q, v in queries]
        )  # (Q, d)
        offset_mat = q_mat @ cent_mat.T  # (Q, cells): q·centroid
    id_type = codes.schema[id_col].dataType.simpleString()

    def _scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.frombuffer(b"".join(pdf["code"]), dtype=np.uint8).reshape(
                len(pdf), m
            )
            if cells is not None:
                cl = pdf[cluster_col].map(cl_index).to_numpy()
                known = cl == cl  # rows outside the cells map to NaN
                if not known.all():
                    pdf = pdf[known]
                    C = C[known]
                    cl = cl[known]
                    if not len(pdf):
                        continue
                cl = cl.astype(np.int64)
            S = np.zeros((len(q_ids), len(pdf)))
            for j in range(m):
                S += luts[:, j, C[:, j]]
            if offset_mat is not None:
                S += offset_mat[:, cl]
            S = S.round(6)
            ids = pdf[id_col].to_numpy()
            outs = []
            for qi, q in enumerate(q_ids):
                if cells is None:
                    s_q, ids_q = S[qi], ids
                else:
                    sel = np.flatnonzero(probe_mat[qi, cl])
                    if not len(sel):
                        continue
                    s_q, ids_q = S[qi, sel], ids[sel]
                keep = _local_topk_ties(s_q, ids_q, n_cand)
                outs.append(
                    pd.DataFrame(
                        {
                            "query_id": q,
                            id_col: ids_q[keep],
                            "adc_score": s_q[keep],
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    local = codes.mapInPandas(
        _scan, f"query_id bigint, {id_col} {id_type}, adc_score double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("adc_score"), F.asc(id_col)
    )
    return (
        local.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= n_cand)
        .drop("_r")
    )


def ivfpq_candidates(
    codes: DataFrame,
    books: np.ndarray,
    queries: list[tuple[int, list[float]]],
    centroids: LocalCentroids,
    nprobe: int,
    n_cand: int = 100,
    id_col: str = "vec_id",
    cluster_col: str = "cluster",
    residual: bool = False,
) -> DataFrame:
    """(query_id, id, adc_score) — the one IVF+PQ candidate stage, shared
    by :func:`ivfpq_topk` and both compressed service lanes. Each query
    is probed on the driver against the held ``centroids`` with
    ``operators/ann.probe_local``, so no Spark job ranks a centroid; the
    union of the probed cells prunes the code scan as a literal ``IN`` on
    ``cluster_col`` (a static partition filter on a cluster-partitioned
    code table); and
    :func:`pq_candidates_batch` scores every query in one pass, each
    masked to its own cells. ``residual=True`` (codes encoded over
    :func:`residualize` output) adds each row's q·centroid offset, taken
    from the same held vectors. Building the result runs no job."""
    probes = probe_local(centroids, [v for _q, v in queries], nprobe)
    union = sorted({c for cs in probes for c in cs})
    cent_vecs = (
        dict(zip(centroids.clusters, centroids.vectors)) if residual else None
    )
    return pq_candidates_batch(
        codes.filter(F.col(cluster_col).isin(union)),
        books,
        queries,
        {int(q): set(cs) for (q, _v), cs in zip(queries, probes)},
        n_cand,
        id_col,
        cluster_col,
        cent_vecs,
    )
