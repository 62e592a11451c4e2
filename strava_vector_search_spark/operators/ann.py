"""Approximate nearest-neighbor search — the reference's prescribed scale
path ("1M+ documents: consider approximate search or dedicated vector db",
``02_method2_manual_vector_embedding.sql:438-442``; BASELINE.json: "MLlib
for batch indexing").

Three regimes, mirroring the reference's own thresholds:
* ≤10K docs — brute force (operators/search.py), exact;
* ~100K — partition pruning on a metadata column (write-layout decision);
* 1M+ — IVF coarse quantization or LSH bucketing, both here.

IVF (inverted-file) design, Spark-first:
* **build**: assign every vector to a coarse cluster (MLlib KMeans at scale;
  any precomputed assignment column works), compute centroids as elementwise
  means — one partial-agg shuffle — and write the embeddings table
  partitioned by cluster id. Centroid table is tiny (k × dim).
* **search**: score query↔centroids (k rows — driver-trivial), pick the
  top-``nprobe`` clusters, then brute-force only those partitions. With the
  table partitioned by cluster, Catalyst partition-prunes the scan: at 100 TB
  a nprobe/k fraction of the data is read, everything else untouched.

Determinism: centroid means route through DECIMAL so the IVF pipeline is
oracle-checkable end-to-end when cluster assignments are deterministic (the
testdata's ``label`` column; KMeans builds get pytest-only checks).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from strava_vector_search_spark.functions.vector import (
    _BLOCK_ELEMS,
    cosine_similarity_rounded,
    cosine_similarity_rounded_local,
    l2_norm_local,
    lit_double_array,
)
from strava_vector_search_spark.operators.search import brute_force_topk


def compute_centroids(
    emb: DataFrame,
    cluster_col: str = "label",
    vector_col: str = "embedding",
    scale: int = 6,
) -> DataFrame:
    """(cluster, centroid array<double>) — elementwise mean per cluster.

    posexplode → partial-agg per (cluster, dim) → reassemble ordered array.
    Sums run in DECIMAL(28,10) so the result is independent of partition
    order (and matches the SQL oracle bit-for-bit after rounding).
    """
    exploded = emb.select(
        F.col(cluster_col).alias("cluster"),
        F.posexplode(F.col(vector_col).cast("array<double>")).alias("pos", "v"),
    )
    per_dim = exploded.groupBy("cluster", "pos").agg(
        F.round(
            F.sum(F.col("v").cast("decimal(28,10)")).cast("double")
            / F.count(F.lit(1)),
            scale,
        ).alias("c")
    )
    return per_dim.groupBy("cluster").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("centroid")
    )


def ivf_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
    cluster_col: str = "label",
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: LocalCentroids | None = None,
) -> DataFrame:
    """IVF search: probe the nprobe nearest clusters, brute-force inside.

    The query is probed on the driver (:func:`probe_local`) against the
    held ``centroids`` (None: :func:`compute_centroids` of ``emb``,
    collected here); the candidate scan is a literal ``IN`` on the
    cluster column — a static partition filter when the table is
    written partitioned by it. Building the result from held centroids
    runs no job. Ties in centroid distance break by cluster id; final
    top-k ties break by vector id.
    """
    if centroids is None:
        centroids = collect_centroids(
            compute_centroids(emb, cluster_col, vector_col)
        )
    (probed,) = probe_local(centroids, [query_vec], nprobe)
    return brute_force_topk(
        emb.filter(F.col(cluster_col).isin(probed)),
        query_vec,
        k=k,
        vector_col=vector_col,
        id_col=id_col,
    )


def rank_probed_clusters(
    centroids: DataFrame,
    queries: DataFrame,
    nprobe: int,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """(query_id, cluster, cdist) — each query's ``nprobe`` nearest coarse
    clusters by rounded centroid cosine, ties to the lower cluster id. A
    |queries| x |clusters| cross of two broadcast-tiny tables. It is the
    probe of the in-memory :func:`ivf_batch_topk`, and the distributed
    reference that :func:`probe_local`, the driver-side probe of every
    other lane, is pinned to bit for bit (tests/test_ann.py)."""
    from pyspark.sql import Window

    wprobe = Window.partitionBy(query_id_col).orderBy(
        F.desc("cdist"), F.asc("cluster")
    )
    return (
        centroids.crossJoin(F.broadcast(queries))
        .withColumn(
            "cdist",
            cosine_similarity_rounded(
                F.col("centroid"), F.col(query_vec_col)
            ),
        )
        .withColumn("_pr", F.row_number().over(wprobe))
        .filter(F.col("_pr") <= nprobe)
        .select(query_id_col, "cluster", "cdist")
    )


class LocalCentroids(NamedTuple):
    """A coarse centroid table held on the driver: cluster ids in
    ascending order and their centroids as the rows of one (cells, dim)
    float64 matrix."""

    clusters: list
    vectors: np.ndarray


def _local_centroids(clusters: list, vectors: np.ndarray) -> LocalCentroids:
    """Sort by cluster id and refuse what the distributed probe could not
    rank: repeated ids, and non-finite or all-zero centroids (the
    zero one divides by zero, which fails the query under ANSI)."""
    from collections import Counter

    dup = sorted(c for c, n in Counter(clusters).items() if n > 1)
    if dup:
        raise ValueError(f"centroid table repeats clusters {dup}")
    if not clusters:
        return LocalCentroids([], np.empty((0, 0)))
    order = sorted(range(len(clusters)), key=clusters.__getitem__)
    clusters = [clusters[i] for i in order]
    vectors = np.asarray(vectors, dtype=np.float64)[order]
    bad = ~np.isfinite(vectors).all(axis=1) | (l2_norm_local(vectors) == 0)
    if bad.any():
        raise ValueError(
            f"centroid of cluster {clusters[int(np.flatnonzero(bad)[0])]!r} "
            "is non-finite or has norm 0: no query can be probed against it"
        )
    return LocalCentroids(clusters, vectors)


def collect_centroids(centroids: DataFrame) -> LocalCentroids:
    """A (cluster, centroid) DataFrame collected to the driver (one job)."""
    rows = centroids.select("cluster", "centroid").collect()
    return _local_centroids(
        [r["cluster"] for r in rows], [list(r["centroid"]) for r in rows]
    )


def read_centroids_local(path: str) -> LocalCentroids:
    """Load a (cluster, centroid) parquet directory straight into driver
    memory with pyarrow: no Spark job, not even a schema-inference one.
    The table has one row per cell, so it is read whole at every call
    (a layout rebuilt under the same path is picked up)."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["cluster", "centroid"])
    col = t.column("centroid").combine_chunks()
    widths = set(col.value_lengths().to_pylist())
    flat = col.flatten()
    if col.null_count or flat.null_count or len(widths) > 1:
        raise ValueError(
            f"centroid table {path!r} has null centroids or elements, or "
            f"mixed widths {sorted(w for w in widths if w is not None)}"
        )
    return _local_centroids(
        t.column("cluster").to_pylist(),
        flat.to_numpy(zero_copy_only=False).reshape(len(t), max(widths, default=0)),
    )


def probe_local(
    centroids: LocalCentroids, query_vecs: list, nprobe: int
) -> list[list]:
    """Each query's ``nprobe`` probed clusters, nearest first: the rule of
    :func:`rank_probed_clusters` (rounded centroid cosine descending,
    ties to the lower cluster id) run on the driver with no Spark job.
    This is the probe of every per-query lane: :func:`ivf_topk`,
    :func:`ivf_batch_topk_indexed` and ``operators/pq.ivfpq_candidates``
    (so ``ivfpq_topk`` and both compressed service lanes).
    The cosine is :func:`cosine_similarity_rounded_local`, bit-identical
    to the distributed one, and the stable sort over the id-ordered
    cells keeps tied cells in ascending id order. Queries are ranked in
    chunks that keep the (queries x cells) score block bounded."""
    cells = centroids.clusters
    if not cells or nprobe < 1 or not len(query_vecs):
        return [[] for _ in query_vecs]
    q = np.asarray(query_vecs, dtype=np.float64).reshape(len(query_vecs), -1)
    if q.shape[1] != centroids.vectors.shape[1]:
        raise ValueError(
            f"query vectors have {q.shape[1]} values, the centroids "
            f"{centroids.vectors.shape[1]}"
        )
    bad = ~np.isfinite(q).all(axis=1) | (l2_norm_local(q) == 0)
    if bad.any():
        raise ValueError(
            f"query {int(np.flatnonzero(bad)[0])} is non-finite or has "
            "norm 0: it has no cosine to any centroid"
        )
    step = max(1, _BLOCK_ELEMS // len(cells))
    out: list[list] = []
    for i in range(0, len(q), step):
        cd = cosine_similarity_rounded_local(q[i : i + step], centroids.vectors)
        for row in np.argsort(-cd, axis=1, kind="stable")[:, :nprobe]:
            out.append([cells[j] for j in row])
    return out


def ivf_batch_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    cluster_col: str = "label",
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: DataFrame | None = None,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    pre_rank_filter: Column | None = None,
) -> DataFrame:
    """Many IVF queries in ONE corpus pass: rank centroids per query (one
    |queries| x |clusters| cross of two tiny broadcast tables), attach each
    query to ONLY its probed clusters via a broadcast equi-join on the
    cluster column, score the candidates with the same rounded cosine as
    :func:`ivf_topk`, and take top-k per query with a ranking window —
    which Spark runs as a WindowGroupLimit, so each map task keeps at most
    k rows per query before the shuffle. Ties break (cdist desc, cluster
    asc) for probing and (similarity desc, id asc) for the final rank,
    matching the single-query path bit-for-bit.

    vs looping :func:`ivf_topk`: N queries cost ONE pruned scan instead of
    N, and with the table partitioned by the cluster column the union of
    all queries' probed partitions is the only data read. Returns
    (query_id, id, cluster, similarity, rank); input columns other than
    the vector pass through.

    ``pre_rank_filter`` (optional) is applied to the scored stream —
    (query_id, corpus columns) are in scope — BEFORE the rank window:
    per-query metadata predicates in filter-then-rank order (a
    filtered-out row must not consume a rank slot), the service layer's
    batch-DSL hook. It does not change what is SCANNED (cluster pruning
    does that); it changes what is ranked.
    """
    if centroids is None:
        centroids = compute_centroids(emb, cluster_col, vector_col)
    probed = rank_probed_clusters(
        centroids, queries, nprobe, query_id_col, query_vec_col
    ).select(F.col(query_id_col), F.col("cluster").alias("_ivf_pc"))
    return _topk_in_probed(
        emb, queries, probed, k, cluster_col, vector_col, id_col,
        query_id_col, query_vec_col, pre_rank_filter,
    )


def _topk_in_probed(
    emb: DataFrame,
    queries: DataFrame,
    probed: DataFrame,
    k: int,
    cluster_col: str,
    vector_col: str,
    id_col: str,
    query_id_col: str,
    query_vec_col: str,
    pre_rank_filter: Column | None,
) -> DataFrame:
    """The scoring half of :func:`ivf_batch_topk`: ``probed`` holds the
    (query id, ``_ivf_pc``) pairs of each query's probed clusters."""
    from pyspark.sql import Window

    cand = (
        # null-vector filter FIRST, matching brute_force_topk (the
        # single-query path): without it, a probed cluster with fewer
        # than k scorable vectors would pad the batch result with
        # null-similarity rows the per-query path never returns
        emb.filter(F.col(vector_col).isNotNull())
        .join(
            F.broadcast(probed),
            F.col(cluster_col) == F.col("_ivf_pc"),
            "inner",
        )
        .drop("_ivf_pc")
    )
    scored = cand.join(F.broadcast(queries), query_id_col).withColumn(
        "similarity",
        cosine_similarity_rounded(F.col(vector_col), F.col(query_vec_col)),
    )
    if pre_rank_filter is not None:
        scored = scored.filter(pre_rank_filter)
    wrank = Window.partitionBy(query_id_col).orderBy(
        F.desc("similarity"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(wrank).cast("bigint"))
        .filter(F.col("rank") <= k)
        .drop(query_vec_col, vector_col)
    )


# --- IVF layout marker ------------------------------------------------------
# Two physical layouts exist for an IVF index: PLAIN (<cluster>=… dirs,
# write_ivf_index) and STREAM (_sb=<batch>/<cluster>=… dirs,
# streaming/ivf_stream.init_stream_index). Each has its own maintainer;
# pointing one at the other's layout writes partition dirs at the wrong
# nesting level and Spark partition discovery rejects — or worse, silently
# mis-prunes — the mix. Creation stamps the layout into an
# underscore-prefixed marker file (parquet scans ignore it) and every
# layout-writing maintenance entry point asserts it.

IVF_LAYOUT_PLAIN = "plain"
IVF_LAYOUT_STREAM = "stream"
_LAYOUT_MARKER = "_ivf_layout"


def _marker_file(path: str) -> str:
    import os

    return os.path.join(path.rstrip("/"), _LAYOUT_MARKER)


def write_ivf_layout_marker(path: str, layout: str) -> None:
    """Stamp an index directory with its physical layout. Local-FS file
    I/O, like the atomic-rename swap in maintain_ivf_index — on an object
    store both become the FileSystem API's create/rename calls."""
    with open(_marker_file(path), "w", encoding="ascii") as f:
        f.write(layout)


def read_ivf_layout(path: str) -> str | None:
    """The index's layout: the marker if present, else INFERRED from the
    first-level partition directories (pre-marker indexes): ``_sb=…``
    means stream, any other ``<col>=…`` dir means plain, neither means
    unknown (None — a new or empty path)."""
    import os

    mf = _marker_file(path)
    if os.path.exists(mf):
        with open(mf, encoding="ascii") as f:
            return f.read().strip()
    if not os.path.isdir(path):
        return None
    names = os.listdir(path)
    if any(n.startswith(_BATCH_PREFIX) for n in names):
        return IVF_LAYOUT_STREAM
    if any(
        "=" in n for n in names if not n.startswith(("_", "."))
    ):
        return IVF_LAYOUT_PLAIN
    return None


_BATCH_PREFIX = "_sb="  # first partition level of the stream layout


def assert_ivf_layout(path: str, expected: str, op: str) -> None:
    """Fail LOUDLY when a maintainer targets the other layout — the mixed
    layout would otherwise break partition discovery at the NEXT read,
    far from the write that caused it. Unknown layouts pass (new paths)."""
    actual = read_ivf_layout(path)
    if actual is not None and actual != expected:
        raise ValueError(
            f"{op}: index at {path!r} has the {actual!r} layout, not the "
            f"{expected!r} layout this maintainer manages — use "
            "operators.ann (write_ivf_index/append_to_ivf_index/"
            "maintain_ivf_index) for 'plain' and streaming.ivf_stream "
            "(init_stream_index/process_ivf_batch/maintain_stream_index) "
            "for 'stream'; mixing the two under one path breaks partition "
            "discovery."
        )


def ivf_batch_topk_indexed(
    spark,
    index_path: str,
    queries: list[tuple],
    k: int = 10,
    nprobe: int = 2,
    cluster_col: str = "label",
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: LocalCentroids | None = None,
    query_schema: str = "query_id bigint, query_vec array<double>",
    pre_rank_filter: Column | None = None,
) -> DataFrame:
    """:func:`ivf_batch_topk` against the MATERIALIZED index layout
    (:func:`write_ivf_index`'s cluster-partitioned parquet). ``queries``
    are driver rows typed by ``query_schema``, whose first two fields
    are the query id and the query vector; any further fields pass
    through to the result. Each query is probed on the driver with
    :func:`probe_local` (the :func:`rank_probed_clusters` rule, no Spark
    job); the union of the probed clusters is pushed as a LITERAL ``IN``
    filter, so it lands in the scan as PartitionFilters and the
    unprobed clusters are never READ, not merely filtered. The
    per-query (query id, cluster) pairs travel as a small local table
    into the same broadcast join + WindowGroupLimit as the in-memory
    batch path — results are identical (pinned in test_ann). Centroids
    default to the table persisted by :func:`write_ivf_centroids`, read
    at call time by :func:`read_centroids_local`. Reading the layout's
    schema is the only job run before the result is collected."""
    from pyspark.sql.types import StructField, StructType

    part = spark.read.parquet(index_path)
    cents = (
        centroids
        if centroids is not None
        else read_centroids_local(index_path.rstrip("/") + "_centroids")
    )
    qdf = spark.createDataFrame(queries, query_schema)
    query_id_col, query_vec_col = qdf.columns[:2]
    probes = probe_local(cents, [q[1] for q in queries], nprobe)
    pairs = [(q[0], c) for q, cs in zip(queries, probes) for c in cs]
    probed = spark.createDataFrame(
        pairs,
        StructType(
            [
                qdf.schema[0],
                StructField("_ivf_pc", part.schema[cluster_col].dataType),
            ]
        ),
    )
    union = sorted({c for _q, c in pairs})
    return _topk_in_probed(
        part.filter(F.col(cluster_col).isin(union)),
        qdf,
        probed,
        k,
        cluster_col,
        vector_col,
        id_col,
        query_id_col,
        query_vec_col,
        pre_rank_filter,
    )


def write_ivf_index(
    emb: DataFrame, path: str, cluster_col: str = "label"
) -> None:
    """Persist the embeddings partitioned by cluster — the physical layout
    that turns ivf_topk's candidate filter into partition pruning. Stamps
    the PLAIN layout marker (see assert_ivf_layout)."""
    emb.write.mode("overwrite").partitionBy(cluster_col).parquet(path)
    write_ivf_layout_marker(path, IVF_LAYOUT_PLAIN)


def write_ivf_centroids(centroids: DataFrame, index_path: str) -> None:
    """Persist the centroid table next to its index (``<path>_centroids``)
    so the (layout, clustering) pair travels together — the table
    maintain_ivf_index tells callers to persist, as an API instead of a
    docstring instruction."""
    centroids.select("cluster", "centroid").write.mode("overwrite").parquet(
        index_path.rstrip("/") + "_centroids"
    )


def read_ivf_centroids(spark, index_path: str) -> DataFrame:
    """Load the centroid table persisted by :func:`write_ivf_centroids`."""
    return spark.read.parquet(index_path.rstrip("/") + "_centroids")


# Literal-lane ceiling for assign_to_centroids: above this many inlined
# floats (k × dim) the centroid table travels as broadcast DATA instead of
# Catalyst literals. 32768 ≈ 512 centroids at dim 64 / 42 at dim 768 —
# well under where expression-tree size starts to hurt codegen.
_ASSIGN_LITERAL_MAX_ELEMS = 32768


def assign_to_centroids(
    emb: DataFrame,
    centroids: DataFrame,
    vector_col: str = "embedding",
    cluster_col: str = "label",
    id_col: str = "vec_id",
) -> DataFrame:
    """Nearest-centroid assignment as a PURE MAP-SIDE computation: each
    row evaluates k cosine folds and takes the argmax via
    ``element_at(sort_array(...), 1)`` over (−sim, cluster) structs —
    6-dp cosine, cluster-id tie-break, zero shuffle. This is the pure
    per-row function incremental IVF maintenance appends with — the same
    vector against the same centroids always lands in the same cluster,
    which is what makes append == rebuild exact. NULL vectors are
    dropped (there is no nearest centroid for nothing; keeping them
    would tie-break into cluster min — a junk assignment). ``id_col``
    is accepted for signature stability but unused (no per-id
    regrouping exists anymore).

    Two lanes, same semantics, chosen by k×dim:
    * small (≤ ``_ASSIGN_LITERAL_MAX_ELEMS`` literal floats): centroids
      compile into LITERAL arrays — nothing but a projection in the
      plan, zero join. Past that bound the expression tree itself
      becomes the problem (thousands of 768-d centroids = millions of
      Catalyst nodes → codegen/plan-size limits), so
    * large: centroids travel as DATA — one broadcast row holding an
      array<struct<c,v>> (k×dim×8 bytes; ~6 MB at k=1000, dim=768),
      attached by a 1-row broadcast nested-loop crossJoin, argmax over
      a ``transform`` of that array. Still zero shuffle of the
      embedding table; the plan gains one broadcast exchange.
    Both lanes sort (−sim, cluster) structs, so the argmax is
    order-independent and the two lanes are assignment-identical
    (pinned by tests/test_index_maintenance.py)."""
    del id_col  # assignment is per-row; no id-keyed stage remains
    # Lane decision from ONE aggregate job (count + max dim): the packed
    # lane exists precisely because k x dim is too big to ship through
    # the driver, so it must never collect the full centroid table — and
    # the literal lane's collect below is then the second (and last)
    # evaluation of the centroid lineage. Callers with expensive
    # centroid lineage should localCheckpoint it (recluster_assignments
    # and the gates do).
    stats = centroids.agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.size(F.col("centroid"))).alias("d"),
    ).head()
    n_cents = int(stats["n"])
    if n_cents == 0:
        raise ValueError("assign_to_centroids: empty centroid table")
    emb = emb.filter(F.col(vector_col).isNotNull())
    dim = int(stats["d"] or 0)
    if n_cents * max(dim, 1) > _ASSIGN_LITERAL_MAX_ELEMS:
        packed = centroids.select(
            F.struct(
                F.col("cluster").alias("c"),
                F.col("centroid").cast("array<double>").alias("v"),
            ).alias("s")
        ).agg(F.collect_list("s").alias("_bf_cents"))
        scored = F.transform(
            F.col("_bf_cents"),
            lambda s: F.struct(
                (
                    -cosine_similarity_rounded(F.col(vector_col), s["v"])
                ).alias("ns"),
                s["c"].alias("c"),
            ),
        )
        best = F.element_at(F.sort_array(scored), 1)
        return (
            emb.crossJoin(F.broadcast(packed))
            .withColumn(cluster_col, best["c"])
            .drop("_bf_cents")
        )
    cents = centroids.select("cluster", "centroid").collect()
    scored = F.array(
        *[
            F.struct(
                (
                    -cosine_similarity_rounded(
                        F.col(vector_col),
                        lit_double_array(r["centroid"]),
                    )
                ).alias("ns"),
                F.lit(r["cluster"]).alias("c"),
            )
            for r in cents
        ]
    )
    best = F.element_at(F.sort_array(scored), 1)
    # withColumn AFTER computing best from the original columns, so a
    # pre-existing column named cluster_col is simply replaced — including
    # the cluster_col == "cluster" configuration (kmeans_assign output)
    return emb.withColumn(cluster_col, best["c"])


def append_to_ivf_index(
    new_emb: DataFrame,
    path: str,
    centroids: DataFrame,
    cluster_col: str = "label",
    vector_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Incremental maintenance of a write_ivf_index layout: assign ONLY the
    new vectors to the EXISTING centroids (O(delta·k) map-side work) and
    append their files under the matching cluster partitions — queries see
    old + new rows with the same partition pruning, no rebuild, no
    read-modify-write. The TARGET_LAG freshness pattern
    (streaming/refresh.py) applied to the ANN layout, like
    append_to_srp_index for the SRP bands. Centroids DRIFT as the corpus
    grows — ivf_centroid_drift measures it and maintain_ivf_index
    re-clusters past a threshold."""
    assert_ivf_layout(path, IVF_LAYOUT_PLAIN, "append_to_ivf_index")
    assigned = assign_to_centroids(
        new_emb.drop(cluster_col), centroids, vector_col, cluster_col, id_col
    )
    assigned.write.mode("append").partitionBy(cluster_col).parquet(path)


def ivf_centroid_drift(
    spark,
    path: str,
    centroids: DataFrame,
    cluster_col: str = "label",
    vector_col: str = "embedding",
) -> DataFrame:
    """Per-cluster staleness readout: 6-dp cosine DISTANCE between the
    index's stored centroid and the mean of the cluster's CURRENT members
    (one partial-combined aggregate over the index scan), plus the member
    count. Appends pull the true mean away from the centroid the
    assignments were made with; past a drift threshold, recall decays and
    a re-cluster pays for itself.

    LEFT join from the stored centroid table: a cluster whose members
    were all reassigned/removed still shows up — with ``n_members = 0``
    and maximal drift 1.0 — so maintain_ivf_index's max-drift trigger
    sees emptied clusters instead of silently skipping them. The member
    count is a column-pruned scan of just the partition column (file
    metadata at parquet, no row data)."""
    rows = spark.read.parquet(path)
    current = compute_centroids(
        rows, cluster_col, vector_col
    ).withColumnRenamed("centroid", "current_mean")
    counts = rows.groupBy(F.col(cluster_col).alias("cluster")).agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return (
        centroids.select("cluster", "centroid")
        .join(current, "cluster", "left")
        .join(counts, "cluster", "left")
        .select(
            "cluster",
            F.coalesce("n_members", F.lit(0).cast("bigint")).alias(
                "n_members"
            ),
            F.when(F.col("current_mean").isNull(), F.lit(1.0))
            .otherwise(
                F.round(
                    F.lit(1.0)
                    - cosine_similarity_rounded(
                        F.col("centroid"), F.col("current_mean")
                    ),
                    6,
                )
            )
            .alias("drift"),
        )
    )


def maintain_ivf_index(
    spark,
    new_emb: DataFrame,
    path: str,
    centroids: DataFrame,
    drift_threshold: float = 0.05,
    cluster_col: str = "label",
    vector_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[str, DataFrame]:
    """One maintenance step for a live IVF index: append the delta against
    the current centroids (O(delta)), then measure drift; if any cluster's
    mean has moved past ``drift_threshold`` (cosine distance), re-cluster —
    recompute centroids from the full current membership, re-assign every
    row to the NEW centroids, and atomically swap the layout (the
    compact_index rename dance). Returns ("appended", centroids) on the
    cheap path or ("reclustered", new_centroids) after a rebuild; the
    caller persists the returned centroid table alongside the index.
    This is the standard IVF freshness trade: appends keep the index
    fresh at delta cost, periodic re-clusters restore assignment quality
    — the ANN-path twin of TARGET_LAG's refresh cadence.

    Coordination contract: this is a MAINTENANCE-WINDOW operation for
    the PLAIN write_ivf_index layout only (ASSERTED against the layout
    marker — the stream-managed ``_sb``-keyed layout has its own twin,
    streaming/ivf_stream.maintain_stream_index, and pointing this
    function at that layout would append bare ``<cluster>=…`` dirs next
    to the ``_sb=…`` levels and break partition discovery). Either way,
    stop any live writer first: the atomic rename swap would race a
    concurrent append, and a stream still assigning with the OLD
    centroids after a re-cluster would land vectors in partitions the
    new probes never select. Restart with the returned centroid table."""
    import os
    import shutil

    assert_ivf_layout(path, IVF_LAYOUT_PLAIN, "maintain_ivf_index")
    append_to_ivf_index(
        new_emb, path, centroids, cluster_col, vector_col, id_col
    )
    if max_drift(spark, path, centroids, cluster_col, vector_col) <= (
        drift_threshold
    ):
        return "appended", centroids
    rows = spark.read.parquet(path).localCheckpoint(eager=False)
    new_centroids, reassigned = recluster_assignments(
        rows, cluster_col, vector_col
    )
    tmp = path.rstrip("/") + "__reclustering"
    reassigned.write.mode("overwrite").partitionBy(cluster_col).parquet(tmp)
    old = path.rstrip("/") + "__old"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    write_ivf_layout_marker(path, IVF_LAYOUT_PLAIN)
    return "reclustered", new_centroids


def max_drift(
    spark,
    path: str,
    centroids: DataFrame,
    cluster_col: str = "label",
    vector_col: str = "embedding",
) -> float:
    """Worst per-cluster drift of an index vs its assignment centroids —
    the shared trigger readout of both maintainers (plain + stream). An
    index with no stored centroids reads as 0.0 (nothing to drift from)."""
    drift = ivf_centroid_drift(
        spark, path, centroids, cluster_col, vector_col
    )
    worst = drift.agg(F.max("drift")).collect()[0][0]
    return 0.0 if worst is None else float(worst)


def recluster_assignments(
    rows: DataFrame,
    cluster_col: str = "label",
    vector_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Shared re-cluster core of both maintainers: recompute centroids
    from the full current membership and re-assign every row to them.
    Returns (new_centroids, reassigned rows); the caller owns the layout
    rewrite (atomic rename swap for plain, init_stream_index for stream).
    The centroid table is lazily checkpointed — it feeds both the
    reassignment and the caller's return value, and without the
    checkpoint each consumer would recompute the full centroid pass."""
    new_centroids = compute_centroids(
        rows, cluster_col, vector_col
    ).localCheckpoint(eager=False)
    reassigned = assign_to_centroids(
        rows.drop(cluster_col), new_centroids, vector_col, cluster_col
    )
    return new_centroids, reassigned


# ---------------------------------------------------------------------------
# Signed-random-projection (SRP) LSH — the native cosine-LSH banded join.
#
# Replaces MLlib's euclidean approxSimilarityJoin for the 1M+ near-dup
# regime: SCALE.md measures this operator at ~2 s for 30K vectors vs ~80 s
# for MLlib and 15-60 s for the exact blocked-BLAS join — MLlib's constant
# costs put its crossover far past where an LSH should win. Structure:
#
# * signatures are MAP-ONLY — per-row integer dot products against literal
#   +/-1 hyperplanes (no fit step, no shuffle, no Python);
# * the only shuffle is the band-bucket self-join on (band, key) — an
#   8-byte key, bounded buckets;
# * verification is candidate-driven exact cosine (join back to vectors).
#
# Bits come from int8-QUANTIZED vectors so the signature arithmetic is
# all-integer: exact, order-insensitive, and bit-identical in DuckDB — the
# whole pipeline is oracle-checkable, which MLlib's RNG-seeded hyperplanes
# are not. P(bit agrees) = 1 - theta/pi; a band of r bits collides with
# p^r, so r tunes selectivity: r=4 for the 0.4-cosine regime (high recall),
# r=8..16 at 1M+ where only >=0.9 pairs matter and buckets must stay tiny.


def srp_sign_matrix(bits: int, dim: int) -> list[list[int]]:
    """Deterministic +/-1 hyperplane matrix from md5 parity — the single
    source of truth shared by the Spark expressions and the generated
    oracle SQL (same contract as dedup.minhash_coeffs)."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"srp_{b}_{d}".encode()).hexdigest()[:15], 16) % 2 == 0
            else -1
            for d in range(dim)
        ]
        for b in range(bits)
    ]


def _srp_key_cols(
    bits: int, bands: int, dim: int, qcol: Column, total: Column
) -> list[Column]:
    """Band-key expressions over a quantized-vector column and its element
    sum. Each sign bit is ``2 * sum(plus-set dims) - total >= 0`` — plain
    ``element_at`` additions instead of a per-bit ``zip_with``/``aggregate``
    fold (higher-order functions are evaluated INTERPRETED in Spark), and
    half the dimension touches. Caveat found while benchmarking: at
    bits x dim = 64 x 64 the combined projection exceeds janino's method
    limits, codegen fails, and evaluation falls back to interpreted — so
    the hot operators default to the BLAS kernel (bit-identical, see
    srp_band_rows_blas) and this expression form remains the dependency-free
    reference implementation the oracle SQL mirrors."""
    r = bits // bands
    signs = srp_sign_matrix(bits, dim)

    def bit(b: int) -> Column:
        plus = [d for d in range(dim) if signs[b][d] == 1]
        if plus:
            psum = sum(
                (F.element_at(qcol, d + 1) for d in plus[1:]),
                start=F.element_at(qcol, plus[0] + 1),
            )
            dot = F.lit(2) * psum - total
        else:
            dot = -total
        return F.when(dot >= 0, F.lit(1)).otherwise(F.lit(0))

    return [
        sum(
            (bit(k * r + j) * F.lit(1 << j) for j in range(1, r)),
            start=bit(k * r) * F.lit(1),
        ).alias(f"k{k}")
        for k in range(bands)
    ]


def srp_band_rows(
    emb: DataFrame,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    bits: int = 64,
    bands: int = 16,
    dim: int = 64,
    quant_scale: int = 127,
    include_sig: bool = False,
) -> DataFrame:
    """(_id, band, key[, sig]) — one row per (vector, band); key packs the
    band's sign bits into an integer (``sig`` packs ALL bands, shift+OR).
    Map-only: quantize → integer dot per hyperplane → sign bit → shift-add
    per band → explode bands.

    The quantized vector and its total are materialized in their own
    projection so codegen evaluates them once, not once per referencing bit
    (the expression-recompute gotcha measured 8x on shingles).
    """
    assert bits % bands == 0
    r = bits // bands
    q = emb.select(
        F.col(id_col).alias("_id"),
        F.transform(
            F.col(vector_col).cast("array<double>"),
            lambda x: F.round(x * quant_scale, 0).cast("bigint"),
        ).alias("_q"),
    )
    q = q.withColumn(
        "_t",
        F.aggregate(F.col("_q"), F.lit(0).cast("bigint"), lambda a, x: a + x),
    )
    keys = _srp_key_cols(bits, bands, dim, F.col("_q"), F.col("_t"))
    wide = q.select("_id", *keys)
    extra = []
    if include_sig:
        sig_col = F.shiftleft(F.col("k0"), 0)
        for k in range(1, bands):
            sig_col = sig_col.bitwiseOR(F.shiftleft(F.col(f"k{k}"), k * r))
        extra = [sig_col.alias("sig")]
    wide = wide.select("_id", *[f"k{k}" for k in range(bands)], *extra)
    return wide.select(
        "_id",
        *(["sig"] if include_sig else []),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(k).alias("band"), F.col(f"k{k}").alias("key"))
                    for k in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(
        "_id",
        F.col("bk.band").alias("band"),
        F.col("bk.key").alias("key"),
        *(["sig"] if include_sig else []),
    )


def srp_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    threshold: float = 0.4,
    bits: int = 64,
    bands: int = 16,
    dim: int = 64,
    max_bucket_size: int = 10_000,
    assume_normalized: bool = True,
    kernel: str = "blas",
    broadcast_verify_elems: int = 8_000_000,
) -> DataFrame:
    """Near-dup pairs (cosine >= threshold) via SRP-LSH banding + exact
    verification. One band-key shuffle + two id equi-joins — near-linear vs
    the quadratic exact join; approximate only in RECALL (every emitted pair
    is exactly verified). ``max_bucket_size`` drops degenerate buckets
    (e.g. a zero-vector pile-up) exactly like the MinHash guard.
    ``kernel='blas'`` (default) computes signatures via the NumPy matmul
    kernel; ``'expr'`` uses the pure-expression form (same bits, no pandas
    dependency).

    Verification runs as a vectorized NumPy row-wise dot over Arrow batches
    (one fused pass per ~10K candidate pairs) — the interpreted per-pair
    expression fold was the sf0.1 bottleneck once candidates number in the
    millions. Scores round to 6 dp like every similarity in the engine
    (cross-engine-stable at these magnitudes — same contract vs_topk_blas
    pins against the oracle).

    Shuffle economics: the band rows are localCheckpoint'd before the
    self-join (the Python signature stage would otherwise recompute per
    join side — same rationale as dedup.simhash_pairs), and the candidate
    ``distinct()`` is replaced by a first-agreeing-band filter computed
    from the packed signatures carried in the joined row: a pair that
    collides on several bands is emitted only where every earlier band's
    signature slice differs. One narrow shuffle for the join, no wide
    dedup shuffle. (Under the degenerate-bucket guard this can drop a pair
    whose first agreeing band sat in an oversized bucket — a bounded
    recall note, not a correctness one: every emitted pair is still
    exactly verified.)

    Below ``broadcast_verify_elems`` total vector elements (count x dim,
    default 8M ≈ 64 MB float64), verification looks vectors up in a
    broadcast matrix instead of running two id equi-joins — candidate
    pairs then shuffle as bare id pairs. Above it, the join path keeps the
    operator shuffle-bound but unbounded in corpus size.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    band_rows_fn = srp_band_rows_blas if kernel == "blas" else srp_band_rows
    r = bits // bands
    mask = (1 << r) - 1
    rows = band_rows_fn(
        emb, id_col, vector_col, bits, bands, dim, include_sig=True
    ).localCheckpoint()
    sized = rows.withColumn(
        "bucket_n", F.count(F.lit(1)).over(Window.partitionBy("band", "key"))
    ).filter(F.col("bucket_n") <= max_bucket_size)
    a = sized.select(
        "band", "key", F.col("_id").alias("id1"), F.col("sig").alias("sig1")
    )
    b = sized.select(
        "band", "key", F.col("_id").alias("id2"), F.col("sig").alias("sig2")
    )
    x = F.col("sig1").bitwiseXOR(F.col("sig2"))
    first_agreeing = F.lit(True)
    for c in range(bands - 1):
        first_agreeing = first_agreeing & (
            (F.col("band") <= c)
            | (F.shiftright(x, c * r).bitwiseAND(F.lit(mask)) != 0)
        )
    cands = (
        a.join(b, ["band", "key"])
        .filter((F.col("id1") < F.col("id2")) & first_agreeing)
        .select("id1", "id2")
    )

    if not assume_normalized:
        # full cosine falls back to the expression form (rare path: the
        # write layer guarantees unit vectors)
        from strava_vector_search_spark.functions.vector import similarity

        v1 = emb.select(
            F.col(id_col).alias("id1"),
            F.col(vector_col).cast("array<double>").alias("v1"),
        )
        v2 = emb.select(
            F.col(id_col).alias("id2"),
            F.col(vector_col).cast("array<double>").alias("v2"),
        )
        paired = cands.join(v1, "id1").join(v2, "id2")
        return (
            paired.withColumn("cosine", similarity(F.col("v1"), F.col("v2"), False))
            .filter(F.col("cosine") >= threshold)
            .select("id1", "id2", "cosine")
        )

    id_type = emb.schema[id_col].dataType.simpleString()
    n_vecs = emb.count()  # parquet sources: metadata-only job

    if n_vecs * dim <= broadcast_verify_elems:
        pdf_all = emb.select(
            F.col(id_col).alias("_id"),
            F.col(vector_col).cast("array<double>").alias("_v"),
        ).toPandas()
        vmat = np.stack(pdf_all["_v"].to_numpy()).astype("float64")
        idx = pd.Series(
            np.arange(len(pdf_all)), index=pdf_all["_id"].to_numpy()
        )
        bc = emb.sparkSession.sparkContext.broadcast((vmat, idx))

        def _verify_bc(batches):
            m, ix = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                m1 = m[ix[pdf["id1"].to_numpy()].to_numpy()]
                m2 = m[ix[pdf["id2"].to_numpy()].to_numpy()]
                cos = np.round(np.einsum("ij,ij->i", m1, m2), 6)
                keep = cos >= threshold
                yield pd.DataFrame(
                    {
                        "id1": pdf["id1"].to_numpy()[keep],
                        "id2": pdf["id2"].to_numpy()[keep],
                        "cosine": cos[keep],
                    }
                )

        return cands.mapInPandas(
            _verify_bc, f"id1 {id_type}, id2 {id_type}, cosine double"
        )

    v1 = emb.select(
        F.col(id_col).alias("id1"),
        F.col(vector_col).cast("array<double>").alias("v1"),
    )
    v2 = emb.select(
        F.col(id_col).alias("id2"),
        F.col(vector_col).cast("array<double>").alias("v2"),
    )
    paired = cands.join(v1, "id1").join(v2, "id2")

    def _verify(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m1 = np.stack(pdf["v1"].to_numpy()).astype("float64")
            m2 = np.stack(pdf["v2"].to_numpy()).astype("float64")
            cos = np.round(np.einsum("ij,ij->i", m1, m2), 6)
            keep = cos >= threshold
            yield pd.DataFrame(
                {
                    "id1": pdf["id1"].to_numpy()[keep],
                    "id2": pdf["id2"].to_numpy()[keep],
                    "cosine": cos[keep],
                }
            )

    return paired.mapInPandas(
        _verify, f"id1 {id_type}, id2 {id_type}, cosine double"
    )


def srp_query_keys(
    query_vec: list[float],
    bits: int = 64,
    bands: int = 16,
    quant_scale: int = 127,
) -> list[int]:
    """The query vector's band keys, computed driver-side in exact integer
    arithmetic (same quantize→sign→pack pipeline as srp_band_rows). Python
    ints, HALF_UP rounding — bit-identical to the executor expressions."""
    import math

    dim = len(query_vec)
    signs = srp_sign_matrix(bits, dim)
    q = [
        int(math.copysign(math.floor(abs(x * quant_scale) + 0.5), x * quant_scale))
        for x in query_vec
    ]
    bitvals = [
        1 if sum(s * v for s, v in zip(signs[b], q)) >= 0 else 0
        for b in range(bits)
    ]
    r = bits // bands
    return [
        sum(bitvals[k * r + j] << j for j in range(r)) for k in range(bands)
    ]


def srp_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    bits: int = 64,
    bands: int = 16,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    quant_scale: int = 127,
    assume_normalized: bool = True,
    predicate: Column | None = None,
    kernel: str = "blas",
) -> DataFrame:
    """LSH-bucketed approximate top-k: keep only corpus rows that share >= 1
    band bucket with the query, then exact-rank the candidates.

    The query's band keys are LITERALS (computed driver-side), so candidate
    selection is a map-only pass — no join, no shuffle, no index build;
    the only ordering work is TakeOrderedAndProject over the survivors.
    At 100 TB this scans once and scores only the ~p^r * bands fraction
    that collides; with band keys materialized as columns at write time the
    filter pushes down to parquet row-group stats. Approximate in RECALL
    only — returned scores are exact cosine/dot. Returns (id, similarity).

    ``kernel='blas'`` (default) fuses quantize→bits→collide→score into one
    NumPy pass per Arrow batch; ``'expr'`` is the pure-expression twin
    (same bits, same scores — see _srp_key_cols on why it's not the hot
    path)."""
    dim = len(query_vec)
    assert bits % bands == 0
    r = bits // bands
    qkeys = srp_query_keys(query_vec, bits, bands, quant_scale)

    base = emb
    if predicate is not None:
        base = base.filter(predicate)

    if kernel == "blas":
        import numpy as np
        import pandas as pd

        smat = np.array(srp_sign_matrix(bits, dim), dtype="int64")
        pack = 1 << np.arange(r, dtype="int64")
        qk = np.array(qkeys, dtype="int64")
        qv = np.array(query_vec, dtype="float64")
        qnorm = float(np.linalg.norm(qv))
        id_type = emb.schema[id_col].dataType.simpleString()

        def _cand(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                ids = pdf["_id"].to_numpy()
                v = np.stack(pdf["_v"].to_numpy()).astype("float64")
                s = v * quant_scale
                q = (np.sign(s) * np.floor(np.abs(s) + 0.5)).astype("int64")
                keys = ((q @ smat.T >= 0).astype("int64")).reshape(
                    len(ids), bands, r
                ) @ pack
                mask = (keys == qk).any(axis=1)
                hits = v[mask]
                sim = hits @ qv
                if not assume_normalized:
                    sim = sim / (np.linalg.norm(hits, axis=1) * qnorm)
                yield pd.DataFrame(
                    {"_id": ids[mask], "similarity": np.round(sim, 6)}
                )

        scored = base.select(
            F.col(id_col).alias("_id"),
            F.col(vector_col).cast("array<double>").alias("_v"),
        ).mapInPandas(_cand, f"_id {id_type}, similarity double")
        return (
            scored.select(F.col("_id").alias(id_col), "similarity")
            .orderBy(F.desc("similarity"), F.asc(id_col))
            .limit(k)
        )

    from strava_vector_search_spark.functions.vector import similarity

    qarr = lit_double_array(query_vec)
    withq = base.withColumn(
        "_q",
        F.transform(
            F.col(vector_col).cast("array<double>"),
            lambda x: F.round(x * quant_scale, 0).cast("bigint"),
        ),
    ).withColumn(
        "_t",
        F.aggregate(F.col("_q"), F.lit(0).cast("bigint"), lambda a, x: a + x),
    )
    keys = _srp_key_cols(bits, bands, dim, F.col("_q"), F.col("_t"))
    collide = None
    for band, key in enumerate(keys):
        c = key == F.lit(qkeys[band])
        collide = c if collide is None else (collide | c)

    return (
        withq.filter(collide)
        .withColumn("similarity", similarity(F.col(vector_col), qarr, assume_normalized))
        .orderBy(F.desc("similarity"), F.asc(id_col))
        .limit(k)
        .select(id_col, "similarity")
    )


def srp_band_rows_blas(
    emb: DataFrame,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    bits: int = 64,
    bands: int = 16,
    dim: int = 64,
    quant_scale: int = 127,
    include_sig: bool = False,
) -> DataFrame:
    """BLAS kernel for srp_band_rows: one int64 matmul per Arrow batch
    inside mapInPandas. Bit-identical output (integer arithmetic in both
    paths — asserted in tests); use when the expression form's per-bit fold
    shows up in profiles (wide corpora, high bit counts)."""
    import numpy as np
    import pandas as pd

    assert bits % bands == 0
    r = bits // bands
    smat = np.array(srp_sign_matrix(bits, dim), dtype="int64")  # bits x dim
    pack = (1 << np.arange(r, dtype="int64"))  # r-bit little-endian weights

    def _sig(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["_id"].to_numpy()
            v = np.stack(pdf["_v"].to_numpy()).astype("float64")
            # HALF_UP (away from zero) to match Spark's F.round — np.round
            # is half-to-even and would flip bits on exact .5 products
            s = v * quant_scale
            q = (np.sign(s) * np.floor(np.abs(s) + 0.5)).astype("int64")
            bits_m = (q @ smat.T >= 0).astype("int64")  # n x bits
            keys = bits_m.reshape(len(ids), bands, r) @ pack  # n x bands
            out = {
                "_id": np.repeat(ids, bands),
                "band": np.tile(np.arange(bands, dtype="int32"), len(ids)),
                "key": keys.reshape(-1),
            }
            if include_sig:
                # all band keys packed little-endian into one int64 via
                # shift+OR (may set the sign bit at r*bands == 64 — bitwise
                # ops wrap identically everywhere, unlike multiply-add which
                # would trip ANSI overflow in Spark; downstream slice checks
                # must mask after shifting, never compare shifted values raw)
                sig = np.bitwise_or.reduce(
                    keys << (np.arange(bands, dtype="int64") * r), axis=1
                )
                out["sig"] = np.repeat(sig, bands)
            yield pd.DataFrame(out)

    from strava_vector_search_spark.operators.util import rebalance_for_kernel

    packed = rebalance_for_kernel(
        emb.select(
            F.col(id_col).alias("_id"),
            F.col(vector_col).cast("array<double>").alias("_v"),
        )
    )
    schema = f"_id {packed.schema['_id'].dataType.simpleString()}, band int, key long"
    if include_sig:
        schema += ", sig long"
    return packed.mapInPandas(_sig, schema)


def write_srp_index(
    emb: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    bits: int = 64,
    bands: int = 16,
    dim: int = 64,
    sort_band: int = 0,
) -> None:
    """Materialize SRP band keys as plain columns (k0..k{bands-1}) next to
    the vectors — the write-time layout that turns srp_topk's candidate
    filter into PARQUET PUSHDOWN: the OR-of-equalities on key columns
    reaches the scan as PushedFilters, and sorting within partitions by one
    band's key gives that band real row-group min/max selectivity (the
    other bands still prune via dictionary filters). One-off build cost,
    every query after it skips non-colliding row groups instead of reading
    them."""
    keys = (
        srp_band_rows_blas(emb, id_col, vector_col, bits, bands, dim)
        .groupBy("_id")
        .pivot("band", list(range(bands)))
        .agg(F.first("key"))
    )
    wide = emb.join(
        keys.select(
            F.col("_id").alias(id_col),
            *[F.col(str(b)).alias(f"k{b}") for b in range(bands)],
        ),
        id_col,
    )
    wide.sortWithinPartitions(f"k{sort_band}").write.mode("overwrite").parquet(path)


def srp_topk_indexed(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    bits: int = 64,
    bands: int = 16,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    assume_normalized: bool = True,
) -> DataFrame:
    """srp_topk over a write_srp_index layout: the band-key collide filter
    references STORED columns, so no signature computation happens at query
    time at all — the predicate pushes into the parquet scan and only
    colliding row groups are decoded. Exact-rank of survivors as usual."""
    from strava_vector_search_spark.functions.vector import similarity

    qkeys = srp_query_keys(query_vec, bits, bands)
    df = spark.read.parquet(path)
    collide = None
    for b, qk in enumerate(qkeys):
        c = F.col(f"k{b}") == F.lit(qk)
        collide = c if collide is None else (collide | c)
    qarr = lit_double_array(query_vec)
    return (
        df.filter(collide)
        .withColumn(
            "similarity", similarity(F.col(vector_col), qarr, assume_normalized)
        )
        .orderBy(F.desc("similarity"), F.asc(id_col))
        .limit(k)
        .select(id_col, "similarity")
    )


# ---------------------------------------------------------------------------
# KMeans coarse quantizer + MLlib LSH (the 1M+ regime builders)


def default_ivf_cells(n_rows: int, floor: int = 16, cap: int = 65536) -> int:
    """Production IVF cell count for an ``n_rows`` corpus: ~sqrt(N)
    (the standard IVF sizing — per-cell size and cell count grow
    together, so scan fraction at fixed nprobe falls as 1/sqrt(N)),
    floored so tiny gate corpora keep the historical k=16 layout and
    capped so the centroid table stays a driver-trivial broadcast
    (65536 x 768 doubles = 400 MB is already generous; real deployments
    shard beyond that). A FIXED small k is the scale-killer this
    replaces: at k=16 partition pruning bottoms out at nprobe/16 of the
    corpus no matter how large N grows."""
    import math

    return max(floor, min(cap, int(math.isqrt(max(1, int(n_rows))))))


def split_oversized_cells(
    clustered: DataFrame,
    max_frac: float = 0.10,
    cluster_col: str = "cluster",
    vector_col: str = "embedding",
    max_rounds: int = 3,
) -> DataFrame:
    """Re-split learned cells whose population exceeds ``max_frac`` of
    the corpus — the balance guard for every plan whose cost is bounded
    by the LARGEST cell (SemDeDup's quadratic within-cell term, IVF scan
    fraction when a probed cell is huge). Skew in real embedding spaces
    is the rule, not the exception: one dominant language/domain can
    swallow half the corpus into one cell, and then the learned layout
    is no better than the skewed categorical key it replaced.

    Each oversized cell c is sub-split into ``ceil(n_c / (max_frac*N))``
    children by a PROJECTION-QUANTILE cut, not another KMeans: rows are
    scored by their dot product with the cell's longest axis (centroid →
    farthest member, deterministic tie-break by the first column) and
    bucketed at the score's approximate quantiles. Quantile cuts are
    balanced BY CONSTRUCTION — an SSE-minimizing sub-KMeans is not: on
    the common skew geometry (a dense blob plus scattered outliers) it
    peels a handful of outliers per fit and leaves the dominant mass
    whole, so a cap enforced by KMeans never converges. The cut is one
    distributed aggregate (percentile_approx) plus a map-side bucket
    assignment — no global sort, no single-partition window. Children
    are numbered from ``max_id + 1`` upward; rows of well-sized cells
    keep their ids, so downstream artifacts keyed by those ids stay
    valid. approx quantiles can overshoot the cap slightly, so the
    split repeats up to ``max_rounds`` times on cells that remain
    oversized; a cell of near-identical vectors (zero-length axis, or
    every score at one value) is left as-is — splitting identical
    points by anything but an arbitrary hash would be a lie about the
    geometry; callers needing a hard cap can shard such a cell by id
    hash themselves.

    Driver work is bounded: the per-round cell census is |cells| rows
    and the fit loop runs over at most 1/max_frac oversized cells.
    Centroids are NOT recomputed here — run :func:`compute_centroids`
    on the result (sub-cells need their own centroids for probing).
    Cluster ids must be integers (the learned kmeans lanes' shape);
    categorical quantizers re-split by re-keying, not by this function.
    """
    import math

    if not (0 < max_frac < 1):
        raise ValueError(f"max_frac must be in (0,1), got {max_frac}")
    out = clustered
    for rnd in range(max_rounds):
        counts = (
            out.groupBy(cluster_col)
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        total = sum(r["n"] for r in counts)
        cap = max_frac * total
        oversized = sorted(
            (r[cluster_col], r["n"]) for r in counts if r["n"] > cap
        )
        if not oversized:
            break
        next_id = max(r[cluster_col] for r in counts) + 1
        oversized_ids = [c for c, _ in oversized]
        parts = [out.filter(~F.col(cluster_col).isin(oversized_ids))]
        progressed = False
        for c, n_c in oversized:
            sub_k = max(2, math.ceil(n_c / cap))
            cell = out.filter(F.col(cluster_col) == c)
            first_col = cell.columns[0]
            vec = F.col(vector_col).cast("array<double>")
            dim = len(cell.select(vec.alias("v")).first()["v"])
            # cut axis = cell centroid → farthest member (ties → lowest
            # first_col). Two bounded collects: one dim-wide avg row,
            # one 1-row argmax.
            cent_row = cell.select(
                *[
                    F.avg(F.element_at(vec, i + 1)).alias(f"c{i}")
                    for i in range(dim)
                ]
            ).first()
            cent = [float(x) for x in cent_row]
            cent_lit = lit_double_array(cent)
            dist2 = F.aggregate(
                F.zip_with(vec, cent_lit, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            far = (
                cell.select(
                    F.col(first_col), vec.alias("v"), dist2.alias("d2")
                )
                .orderBy(F.desc("d2"), F.asc(first_col))
                .first()
            )
            axis = [float(a) - b for a, b in zip(far["v"], cent)]
            if not any(axis):
                continue  # identical vectors: no spatial split exists
            axis_lit = lit_double_array(axis)
            score = F.aggregate(
                F.zip_with(vec, axis_lit, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            scored = cell.withColumn("_split_score", score)
            qs = [i / sub_k for i in range(1, sub_k)]
            cuts = [
                float(q)
                for q in scored.select(
                    F.percentile_approx("_split_score", qs, 10000).alias(
                        "q"
                    )
                ).first()["q"]
            ]
            child = F.lit(0)
            for cut in cuts:
                child = child + F.when(
                    F.col("_split_score") > cut, 1
                ).otherwise(0)
            sub = scored.withColumn(
                cluster_col, (child + F.lit(next_id)).cast("int")
            ).drop("_split_score")
            progressed = True
            parts.append(sub)
            next_id += sub_k
        from functools import reduce as _reduce

        out = _reduce(lambda a, b: a.unionByName(b), parts)
        if not progressed:
            break
    return out


def kmeans_assign(
    emb: DataFrame,
    num_clusters: int = 16,
    vector_col: str = "embedding",
    seed: int = 42,
    max_iter: int | None = None,
) -> DataFrame:
    """Add a KMeans 'cluster' column (MLlib batch indexing). Deterministic
    given the seed, but not oracle-SQL-expressible — validated in pytest by
    recall against brute force. ``max_iter`` caps Lloyd's iterations (None
    = MLlib's default 20) — index builds at very large N trade a few
    refinement passes for build time; assignment quality degrades
    gracefully (IVF correctness never depends on it, only scan fraction
    and recall do)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array  # noqa: F401

    with_vec = emb.withColumn(
        "_features", array_to_vector(F.col(vector_col).cast("array<double>"))
    )
    km = KMeans(
        k=num_clusters, seed=seed, featuresCol="_features", predictionCol="cluster"
    )
    if max_iter is not None:
        km = km.setMaxIter(max_iter)
    model = km.fit(with_vec)
    return model.transform(with_vec).drop("_features")


def lsh_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    bucket_length: float = 0.5,
    num_hash_tables: int = 3,
    max_distance: float = 1.1,
    seed: int = 42,
) -> DataFrame:
    """Approximate near-dup pairs via MLlib BucketedRandomProjectionLSH.

    Unit-normalized vectors make euclidean distance monotone in cosine
    (d² = 2 - 2cos), so a euclidean LSH join at distance d equals a cosine
    threshold join at cos = 1 - d²/2. Returns (id1, id2, cosine).
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    with_vec = emb.select(
        F.col(id_col).alias("_id"),
        array_to_vector(F.col(vector_col).cast("array<double>")).alias("_features"),
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="_features",
        outputCol="_hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(with_vec)
    joined = model.approxSimilarityJoin(
        with_vec, with_vec, max_distance, distCol="_dist"
    )
    return (
        joined.select(
            F.col("datasetA._id").alias("id1"),
            F.col("datasetB._id").alias("id2"),
            F.round(1.0 - (F.col("_dist") * F.col("_dist")) / 2.0, 6).alias("cosine"),
        )
        .filter(F.col("id1") < F.col("id2"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# Index maintenance: append-only freshness + small-file compaction


def append_to_srp_index(
    new_emb: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    bits: int = 64,
    bands: int = 16,
    dim: int = 64,
    sort_band: int = 0,
) -> None:
    """Incremental maintenance of a write_srp_index layout: band-key the NEW
    rows only (map-only signature kernel over the delta) and append their
    files. Because the index is plain columns in plain parquet, a query
    after the append sees old + new rows in one scan with the same pushdown
    — no rebuild, no read-modify-write of existing data. This is the
    TARGET_LAG freshness pattern (streaming/refresh.py) applied to the
    persisted index: cost is O(delta), not O(corpus)."""
    keys = (
        srp_band_rows_blas(new_emb, id_col, vector_col, bits, bands, dim)
        .groupBy("_id")
        .pivot("band", list(range(bands)))
        .agg(F.first("key"))
    )
    wide = new_emb.join(
        keys.select(
            F.col("_id").alias(id_col),
            *[F.col(str(b)).alias(f"k{b}") for b in range(bands)],
        ),
        id_col,
    )
    wide.sortWithinPartitions(f"k{sort_band}").write.mode("append").parquet(path)


def compact_ivf_index(
    spark,
    path: str,
    cluster_col: str = "cluster",
    id_col: str = "vec_id",
) -> None:
    """Compact an append-fragmented PLAIN IVF layout back to ONE file per
    cluster partition, preserving everything :func:`compact_index` (the
    SRP compactor) would destroy on this layout: the ``<cluster>=…``
    partition directories (pruning!), the ``_centroids`` table the
    service stores INSIDE the index dir (service.build_ivf — the
    sibling-dir seam SELFREVIEW r11 bug #3 warned about), and the
    ``_ivf_layout`` marker. Streaming appends
    (:func:`append_to_ivf_index`, streaming/ivf_stream) write one file
    per micro-batch per touched cluster; at 100 TB this is the nightly
    job that restores scan efficiency — ``repartition(cluster_col)``
    routes each cluster to exactly one task, so each partition dir
    comes back as one file, re-sorted by ``id_col`` within the file so
    row-group min/max selectivity on the id survives.

    Same local-FS swap protocol as compact_index (write new tree,
    rename old away, rename new in, delete old); on an object store the
    two renames become a manifest flip. Underscore-prefixed artifacts
    are MOVED from the old tree into the new one before the swap, so a
    crash between the renames loses no artifact — the old tree still
    exists under ``__old`` until the delete."""
    import os
    import shutil

    assert_ivf_layout(path, IVF_LAYOUT_PLAIN, "compact_ivf_index")
    tmp = path.rstrip("/") + "__compacting"
    (
        spark.read.parquet(path)
        .repartition(F.col(cluster_col))
        .sortWithinPartitions(id_col)
        .write.mode("overwrite")
        .partitionBy(cluster_col)
        .parquet(tmp)
    )
    # carry the non-data artifacts (centroids table, layout marker, …)
    # into the compacted tree; _SUCCESS already belongs to the new write
    for name in os.listdir(path):
        if name.startswith("_") and name != "_SUCCESS":
            dst = os.path.join(tmp, name)
            if os.path.exists(dst):
                shutil.rmtree(dst) if os.path.isdir(dst) else os.remove(
                    dst
                )
            os.rename(os.path.join(path, name), dst)
    old = path.rstrip("/") + "__old"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    if read_ivf_layout(path) is None:
        write_ivf_layout_marker(path, IVF_LAYOUT_PLAIN)


def compact_index(
    spark,
    path: str,
    num_files: int,
    sort_band: int = 0,
) -> None:
    """Rewrite an (append-fragmented) index into ``num_files`` files, each
    re-sorted by the primary band key so row-group min/max selectivity is
    restored after many small appends. At 100 TB this is the nightly
    maintenance job: streaming appends make files, compaction makes them
    scan-efficient again.

    Local-filesystem swap via rename; on an object store the same op writes
    a new versioned prefix and flips a manifest pointer instead (documented
    trade: rename is not atomic on S3)."""
    import os
    import shutil

    tmp = path.rstrip("/") + "__compacting"
    (
        spark.read.parquet(path)
        .repartition(num_files)
        .sortWithinPartitions(f"k{sort_band}")
        .write.mode("overwrite")
        .parquet(tmp)
    )
    old = path.rstrip("/") + "__old"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
