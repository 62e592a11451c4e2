"""Search-service layer: the Spark-first equivalent of Snowflake Cortex
Search (reference ``01_method1_cortex_search.sql:163-219``).

The reference declares a managed service over a table (searchable column +
filterable ATTRIBUTES + freshness lag) and queries it with a JSON request
``{query, columns, filter, limit}`` whose ``filter`` is a mini-DSL
(``@eq/@gte/@lte/@and/@or``; notebook Q2/Q3 nest them). Here:

* :func:`compile_filter` — recursive descent DSL → a Catalyst ``Column``
  predicate. Declarative output means Catalyst pushes the compiled filter
  all the way into the parquet scan (attribute filters prune row groups at
  100 TB exactly like the reference's "use metadata filters first" advice,
  02:406).
* :class:`SearchService` — ``build()`` materializes the index (select the
  declared columns, embed the search column, write a narrow embeddings
  parquet partitioned for pruning). Every lane reads its requests through
  ONE front end (:meth:`SearchService._parse_requests`: JSON load,
  driver-side query embedding with no Spark job, limit, one compiled
  predicate per distinct filter body, query/dimension/limit checks) and
  serves them four ways:

  ========================  =================================================
  ``search``                single request, exact: filter → cosine → top-k
                            over the service's pinned corpus ⋈ embeddings
                            table (one job per lookup)
  ``search_batch``          many requests, one pruned scan of the IVF layout
  ``search_approx``         single request, compressed: filter semi-join of
                            the code table, ``operators/pq.ivfpq_candidates``
                            (driver probe + ADC kernel), exact rescore
  ``search_approx_batch``   many requests, one ``ivfpq_candidates`` pass per
                            distinct filter
  ========================  =================================================

  The single-request lanes return rows shaped like the reference's
  flattened JSON results (one row per hit + similarity + rank), so the
  reference's post-processing SQL has a 1:1 target.

Freshness (TARGET_LAG, 01:173) is handled by streaming.refresh.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from functools import reduce
from operator import and_, or_

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from strava_vector_search_spark.functions.embed import (
    DEFAULT_DIM,
    hash_embed_text_local,
    hash_embedding_table,
)
from strava_vector_search_spark.operators.ann import default_ivf_cells
from strava_vector_search_spark.operators.search import brute_force_topk


class FilterDSLError(ValueError):
    pass


_COMPARISONS = {
    "@eq": lambda c, v: c == F.lit(v),
    "@ne": lambda c, v: c != F.lit(v),
    "@gte": lambda c, v: c >= F.lit(v),
    "@lte": lambda c, v: c <= F.lit(v),
    "@gt": lambda c, v: c > F.lit(v),
    "@lt": lambda c, v: c < F.lit(v),
    "@contains": lambda c, v: c.contains(v),
    "@in": lambda c, v: c.isin(*v),
}


def compile_filter(node: dict, attributes: set[str] | None = None) -> Column:
    """Compile one DSL node to a Column predicate.

    Grammar (reference 01:214, nb Q1-Q3 + @ne/@gt/@lt/@contains/@in as the
    natural completions Cortex also documents):
      node := {"@and": [node…]} | {"@or": [node…]} | {"@not": node}
            | {op: {attr: value}}           op ∈ _COMPARISONS
    Only declared ``attributes`` are filterable (01:170-171); anything else
    raises — mirroring the service rejecting non-ATTRIBUTE filters.
    """
    if not isinstance(node, dict) or len(node) != 1:
        raise FilterDSLError(f"filter node must be a single-key object: {node!r}")
    op, body = next(iter(node.items()))
    if op == "@and" or op == "@or":
        if not isinstance(body, list) or not body:
            raise FilterDSLError(f"{op} expects a non-empty list")
        parts = [compile_filter(n, attributes) for n in body]
        return reduce(and_ if op == "@and" else or_, parts)
    if op == "@not":
        return ~compile_filter(body, attributes)
    if op in _COMPARISONS:
        if not isinstance(body, dict) or len(body) != 1:
            raise FilterDSLError(f"{op} expects {{attribute: value}}")
        attr, value = next(iter(body.items()))
        if attributes is not None and attr not in attributes:
            raise FilterDSLError(f"attribute {attr!r} is not filterable (declared: {sorted(attributes)})")
        return _COMPARISONS[op](F.col(attr), value)
    raise FilterDSLError(f"unknown operator {op!r}")


@dataclass
class SearchService:
    """A declared search service over a corpus (reference 01:168-186).

    Parameters mirror the CREATE SERVICE clauses: ``search_col`` ↔ ON,
    ``attributes`` ↔ ATTRIBUTES, ``columns`` ↔ the defining query's
    projection, ``index_path`` ↔ the service's managed index storage.
    """

    spark: SparkSession
    corpus: DataFrame
    id_col: str = "doc_id"
    search_col: str = "text"
    attributes: tuple[str, ...] = ()
    columns: tuple[str, ...] = ()
    dim: int = DEFAULT_DIM
    index_path: str | None = None
    # the index is L2-normalized at write (build() uses the normalizing
    # embedder), so query scoring uses the dot-product fast path; set False
    # when attaching un-normalized external embeddings
    assume_normalized: bool = True
    embeddings: DataFrame | None = field(default=None, repr=False)
    # materialized IVF serving layout (build_ivf / search_batch)
    ivf_path: str | None = field(default=None, repr=False)
    ivf_cluster_col: str = "cluster"
    # persisted IVF+PQ artifact (attach_pq_index / search_approx)
    pq_index: tuple | None = field(default=None, repr=False)
    # search()'s pinned serving table: (corpus, embeddings, table)
    _serving: tuple | None = field(
        default=None, init=False, repr=False, compare=False
    )

    def build(self) -> "SearchService":
        """Materialize the index: embed the search column into a narrow
        (id, embedding) table. With ``index_path`` set, persists as parquet
        (the 100 TB layout: embeddings separate from payloads; re-read with
        only 4*dim+8 bytes per row scanned at query time)."""
        emb = hash_embedding_table(self.corpus, self.id_col, self.search_col, self.dim)
        if self.index_path:
            emb.write.mode("overwrite").parquet(self.index_path)
            emb = self.spark.read.parquet(self.index_path)
        self.embeddings = emb
        return self

    def attach_embeddings(self, emb: DataFrame, vec_id_col: str = "vec_id") -> "SearchService":
        """Use precomputed embeddings (e.g. the testdata embeddings table or
        a model-embedded corpus) instead of building."""
        if vec_id_col != self.id_col:
            emb = emb.withColumnRenamed(vec_id_col, self.id_col)
        self.embeddings = emb
        return self

    # -- materialized IVF serving layout -------------------------------

    def build_ivf(
        self,
        ivf_path: str,
        cluster_col: str | None = None,
        n_clusters: int | None = None,
        seed: int = 42,
        fit_fraction: float = 1.0,
        max_iter: int | None = None,
    ) -> "SearchService":
        """Materialize the cluster-partitioned IVF serving layout for
        :meth:`search_batch`: the built/attached embeddings joined with
        the declared ATTRIBUTES (so batch filters evaluate on the pruned
        scan without a corpus join-back), coarse-quantized either by an
        existing ``cluster_col`` attribute (deterministic — the
        oracle-replayable lane) or by a seeded KMeans fit (the learned
        production quantizer; the fit input is repartitioned to a FIXED
        literal width so the kmeans|| init sees the same partitioning on
        any machine — defaultParallelism varies by core count and MLlib's
        init is partitioning-sensitive), written via
        operators/ann.write_ivf_index + write_ivf_centroids. One build
        serves every later batch; incremental freshness is
        ann.append_to_ivf_index / streaming.ivf_stream territory.

        ``n_clusters=None`` derives the cell count from corpus size via
        :func:`default_ivf_cells` (~sqrt(N), the production IVF sizing) —
        a fixed small k caps partition pruning at nprobe/k of the corpus
        regardless of N, which is the 100 TB scale-killer.

        ``fit_fraction < 1`` is the production TWO-PHASE build: Lloyd's
        iterations run over a deterministic hash sample (xxhash64 of the
        id — same rows on any cluster), then the FULL corpus is assigned
        to the fitted centroids in one map-side pass
        (operators/ann.assign_to_centroids — zero shuffle of the
        embedding table). Nobody runs 20 Lloyd's passes over 100 TB;
        the coarse quantizer trains on a sample and only the O(N·k·d)
        assignment touches everything. ``max_iter`` caps the fit's
        iterations (None = MLlib's 20) — at high k the refinement
        passes buy assignment quality, never correctness."""
        import os

        from strava_vector_search_spark.operators.ann import (
            compute_centroids,
            kmeans_assign,
            write_ivf_index,
        )

        if self.embeddings is None:
            raise RuntimeError(
                "service not built: call build() or attach_embeddings()"
            )
        emb = self.embeddings
        if self.attributes:
            emb = emb.join(
                self.corpus.select(self.id_col, *self.attributes),
                self.id_col,
            )
        if cluster_col is None:
            if "cluster" in emb.columns:
                raise ValueError(
                    "build_ivf: the corpus already has a 'cluster' column "
                    "— pass cluster_col='cluster' to use it as the coarse "
                    "quantizer, or rename it (kmeans_assign would collide)"
                )
            if n_clusters is None:
                n_clusters = default_ivf_cells(emb.count())
            if not (0 < fit_fraction <= 1):
                raise ValueError(
                    f"build_ivf: fit_fraction must be in (0, 1], got "
                    f"{fit_fraction}"
                )
            fit_in = emb
            if fit_fraction < 1.0:
                fit_in = emb.filter(
                    F.pmod(F.xxhash64(F.col(self.id_col)), F.lit(10000))
                    < int(fit_fraction * 10000)
                )
            fitted = kmeans_assign(
                fit_in.repartition(32, self.id_col).sortWithinPartitions(
                    self.id_col
                ),
                num_clusters=n_clusters,
                seed=seed,
                max_iter=max_iter,
            )
            if fit_fraction < 1.0:
                from strava_vector_search_spark.operators.ann import (
                    assign_to_centroids,
                )

                fit_cents = compute_centroids(
                    fitted, "cluster"
                ).localCheckpoint(eager=False)
                emb = assign_to_centroids(
                    emb,
                    fit_cents,
                    vector_col="embedding",
                    cluster_col="cluster",
                    id_col=self.id_col,
                )
            else:
                emb = fitted
            cluster_col = "cluster"
        elif n_clusters is not None:
            raise ValueError(
                "build_ivf: n_clusters only applies to the learned "
                "(cluster_col=None) lane — an existing cluster column "
                "fixes the cell count"
            )
        write_ivf_index(emb, ivf_path, cluster_col=cluster_col)
        # centroids INSIDE the index dir (underscore-prefixed — parquet
        # partition discovery ignores it), not ann.write_ivf_centroids'
        # sibling `<path>_centroids`: the service layout is one
        # self-contained directory, so atomic-rename generation protocols
        # (_cached_layout) move the whole artifact in one rename
        compute_centroids(emb, cluster_col).select(
            "cluster", "centroid"
        ).write.mode("overwrite").parquet(
            os.path.join(ivf_path, "_centroids")
        )
        self.ivf_path = ivf_path
        self.ivf_cluster_col = cluster_col
        return self

    def _parse_requests(
        self, requests: list[dict | str], k_default: int = 10
    ) -> tuple[list[tuple], list[Column], list[list[str] | None]]:
        """The one request front end of every serving lane: returns
        (rows, compiled, columns) where rows is [(request_id, query_vec,
        limit, filter_id)], compiled holds one predicate per DISTINCT
        filter body (requests sharing a filter share an id — expression
        growth is bounded by distinct filters, not batch size; filter_id
        -1 marks unfiltered requests), and columns is each request's
        requested projection (None = the service default). Text queries
        embed on the driver through ``hash_embed_text_local``,
        bit-identical to the corpus's ``hash_embedding_table``, so the
        front end runs no Spark job (well under 1 ms per text, where one
        table job costs more than a 1,000-text batch). A ``query`` that is not
        a string, a ``query_vec`` whose length is not the service dim,
        or a limit below 1, is refused here: scoring zips the query
        against the stored vectors, so a short vector would otherwise
        rank on NULL similarities. So is a ``columns`` value that is not
        a list of strings or names a column the corpus lacks, in every
        lane (the batch lanes return the service's columns whatever a
        request names, but a bad name is still a bad request)."""
        attrs = set(self.attributes) if self.attributes else None
        corpus_cols = None
        parsed: list[tuple[list[float] | None, int, dict]] = []
        missing: list[int] = []
        for i, req in enumerate(requests):
            if isinstance(req, str):
                req = json.loads(req)
            if "query_vec" in req:
                qv = [float(x) for x in req["query_vec"]]
                if len(qv) != self.dim:
                    raise ValueError(
                        f"request {i}: query_vec has {len(qv)} values, "
                        f"the service dim is {self.dim}"
                    )
            elif "query" in req:
                text = req["query"]
                if not isinstance(text, str):
                    raise ValueError(
                        f"request {i}: query must be a str, got "
                        f"{type(text).__name__}"
                    )
                qv = hash_embed_text_local(text, self.dim)
                if qv is None:
                    missing.append(i)
            else:
                raise FilterDSLError(
                    "request needs 'query' or 'query_vec'"
                )
            limit = int(req.get("limit", k_default))
            if limit < 1:
                raise ValueError(
                    f"request {i}: limit {limit} must be >= 1 (service "
                    f"dim {self.dim})"
                )
            cols = req.get("columns")
            if cols is not None:
                if not isinstance(cols, (list, tuple)) or not all(
                    isinstance(c, str) for c in cols
                ):
                    raise ValueError(
                        f"request {i}: columns must be a list of column "
                        f"names, got {cols!r}"
                    )
                if corpus_cols is None:
                    corpus_cols = self.corpus.columns
                unknown = [c for c in cols if c not in corpus_cols]
                if unknown:
                    raise ValueError(
                        f"request {i}: columns {unknown} are not corpus "
                        f"columns {corpus_cols}"
                    )
            parsed.append((qv, limit, req))
        if missing:
            raise ValueError(
                f"requests {missing} embed to empty/zero vectors "
                "(no [a-z0-9] tokens or all token weights are 0); "
                "cannot rank by cosine similarity"
            )
        rows = []
        filter_ids: dict[str, int] = {}
        compiled: list[Column] = []
        for i, (qv, limit, req) in enumerate(parsed):
            flt = req.get("filter")
            if flt:
                key = json.dumps(flt, sort_keys=True)
                fid = filter_ids.get(key)
                if fid is None:
                    fid = len(compiled)
                    filter_ids[key] = fid
                    compiled.append(compile_filter(flt, attrs))
            else:
                fid = -1
            rows.append((i, qv, limit, fid))
        return rows, compiled, [req.get("columns") for *_, req in parsed]

    def _parse_one(
        self, request: dict | str
    ) -> tuple[list[float], int, Column | None, list[str] | None]:
        """(query_vec, limit, predicate | None, columns | None) of one
        request, through :meth:`_parse_requests`."""
        rows, compiled, columns = self._parse_requests([request])
        ((_i, qv, limit, fid),) = rows
        return qv, limit, compiled[fid] if fid >= 0 else None, columns[0]

    def _wire_shape(
        self, hits: DataFrame, columns: list[str] | None
    ) -> DataFrame:
        """The single-request wire shape: id + requested columns +
        similarity + rank (ties on the lower id)."""
        cols = list(
            self.columns or self.corpus.columns
            if columns is None
            else columns
        )
        rank_w = F.row_number().over(
            Window.orderBy(F.desc("similarity"), F.asc(self.id_col))
        ).cast("bigint")
        out_cols = [self.id_col] if self.id_col not in cols else []
        return hits.select(*out_cols, *cols, "similarity").withColumn(
            "rank", rank_w
        )

    def search_batch(
        self,
        requests: list[dict],
        nprobe: int = 2,
        k_default: int = 10,
    ) -> DataFrame:
        """Serve MANY JSON requests in ONE pruned scan of the
        MATERIALIZED IVF layout — the production cache-refresh shape
        (the reference's "batch multiple user queries together",
        02:421): the union of all requests' probed clusters lands in the
        scan as PartitionFilters (unprobed clusters never READ), each
        request's DSL filter compiles into the scored stream BEFORE its
        rank window (filter-then-rank, same evaluation order as
        :meth:`search`), and per-request limits cut the ranked stream.
        Returns (request_id, id, attribute columns, cluster, similarity,
        rank), the same columns for every request whatever a request's
        ``columns`` names. It reads only the probed fraction of the
        index — the scale path once the corpus dwarfs the query batch;
        at full probe it equals sequential :meth:`search` calls. The
        layout's centroid table is read at call time with no Spark job (a
        layout rebuilt under the same path is picked up) and every
        request is probed on the driver (``operators/ann.probe_local``),
        so building the result runs one job: the layout's schema read."""
        import os

        from strava_vector_search_spark.operators.ann import (
            ivf_batch_topk_indexed,
            read_centroids_local,
        )

        if self.ivf_path is None:
            raise RuntimeError(
                "no IVF layout: call build_ivf() before search_batch()"
            )
        if not requests:
            raise ValueError("search_batch: empty request list")
        cents = read_centroids_local(
            os.path.join(self.ivf_path, "_centroids")
        )
        # Per-request limit and filter identity ride the broadcast
        # queries table as DATA columns instead of compiling into the
        # expression tree: the old shape OR-reduced one predicate per
        # request for the DSL filters AND one per request for the limit
        # cut, so a production cache-refresh batch of 10^4 requests grew
        # a 10^4-term expression and blew up Catalyst analysis time.
        # Now the limit cut is ONE column comparison (rank <= _limit,
        # _limit joined in with the query vector) and the filter union
        # is bounded by the number of DISTINCT filter bodies in the
        # batch — requests sharing a filter share one compiled branch
        # (batch workloads repeat a handful of filter shapes; a batch
        # of thousands of all-distinct filters is thousands of
        # independent queries, not a batch).
        rows, compiled, _columns = self._parse_requests(
            requests, k_default
        )
        pre = None
        if compiled:
            preds = [
                (F.col("_filter_id") == F.lit(j)) & c
                for j, c in enumerate(compiled)
            ]
            if any(r[3] < 0 for r in rows):
                preds.insert(0, F.col("_filter_id") == F.lit(-1))
            pre = reduce(or_, preds)
        ranked = ivf_batch_topk_indexed(
            self.spark,
            self.ivf_path,
            rows,
            k=max(r[2] for r in rows),
            nprobe=nprobe,
            cluster_col=self.ivf_cluster_col,
            id_col=self.id_col,
            centroids=cents,
            query_schema="request_id int, query_vec array<double>, "
            "_limit int, _filter_id int",
            pre_rank_filter=pre,
        )
        return ranked.filter(F.col("rank") <= F.col("_limit")).drop(
            "_limit", "_filter_id"
        )

    # -- compressed (IVF+PQ) approximate serving ------------------------

    def attach_pq_index(self, path: str) -> "SearchService":
        """Attach a persisted IVF+PQ artifact (operators/pq
        .write_pq_index) as the service's APPROXIMATE serving index —
        the reference's "1M+ documents: consider approximate search"
        (02:438-442) at the service layer: a fresh serving session
        LOADS codebooks + the 96-byte code table, it never retrains.
        The artifact's id column must match the service's; the coarse
        centroid table must be present. It is held on the driver
        (``operators/ann.read_centroids_local``, no Spark job), where both
        compressed lanes probe it and take residual offsets from it; the
        code table is spread to cluster width here, once, so no query
        pays a job to check its width. ``pq_index`` is (codebooks, code
        table, driver-side centroids, meta)."""
        import os

        from strava_vector_search_spark.operators import pq as PQ
        from strava_vector_search_spark.operators.ann import (
            read_centroids_local,
        )
        from strava_vector_search_spark.operators.util import (
            rebalance_for_kernel,
        )

        books, codes, cents, meta = PQ.load_pq_index(self.spark, path)
        if meta["id_col"] != self.id_col:
            raise ValueError(
                f"attach_pq_index: artifact id_col {meta['id_col']!r} != "
                f"service id_col {self.id_col!r}"
            )
        if cents is None or meta["cluster_col"] is None:
            raise ValueError(
                "attach_pq_index: artifact has no coarse quantizer "
                "(centroids/cluster_col) — search_approx needs IVF+PQ, "
                "not plain PQ"
            )
        if meta["m"] * meta["sub"] != self.dim:
            raise ValueError(
                f"attach_pq_index: artifact encodes dim "
                f"{meta['m'] * meta['sub']} (m={meta['m']} x sub="
                f"{meta['sub']}) but the service dim is {self.dim} — "
                "the artifact must be built over the same (and "
                "identically normalized) embedding table it will serve"
            )
        self.pq_index = (
            books,
            rebalance_for_kernel(codes).localCheckpoint(eager=False),
            read_centroids_local(os.path.join(path, "centroids")),
            meta,
        )
        return self

    def _attached_pq(self, lane: str) -> tuple:
        """(books, codes, driver-side centroids, meta) of the attached
        artifact, once the approximate lanes' preconditions hold."""
        if self.pq_index is None:
            raise RuntimeError(
                f"no PQ index: call attach_pq_index() before {lane}()"
            )
        if self.embeddings is None:
            raise RuntimeError(
                "service not built: call build() or attach_embeddings()"
            )
        return self.pq_index

    def search_approx(
        self, request: dict | str, nprobe: int = 4, n_cand: int = 200
    ) -> DataFrame:
        """Serve one JSON request through the COMPRESSED index: metadata
        filters first (02:406 — the DSL predicate runs on the narrow
        corpus scan and semi-joins the code table, so filtered-out rows
        never enter ADC and never consume candidate slots), then the
        candidate stage every compressed lane shares
        (:func:`operators.pq.ivfpq_candidates`: the request probed on the
        driver against the held centroids, the probed cells' codes
        ADC-scanned), then an exact rescore of the ``n_cand`` candidates
        against the stored embeddings (a top-k heap), returned in
        :meth:`search`'s wire shape. Building the result runs no Spark
        job. The approximation is candidate recall only — shared hits
        carry similarities identical to :meth:`search`'s (same scorer on
        the same stored vectors)."""
        from strava_vector_search_spark.operators import pq as PQ

        books, codes, cents, meta = self._attached_pq("search_approx")
        qv, limit, pred, columns = self._parse_one(request)
        if pred is not None:
            keep_ids = self.corpus.filter(pred).select(self.id_col)
            # semi-join, planner-chosen strategy: the qualifying-id side
            # can be any size, so no forced broadcast
            codes = codes.join(keep_ids, self.id_col, "left_semi")
        cand = PQ.ivfpq_candidates(
            codes,
            books,
            [(0, qv)],
            cents,
            nprobe,
            n_cand,
            self.id_col,
            meta["cluster_col"],
            bool(meta.get("residual")),
        )
        top = PQ.rescore_candidates(
            self.embeddings,
            cand,
            qv,
            limit,
            id_col=self.id_col,
            assume_normalized=self.assume_normalized,
        )
        return self._wire_shape(top.join(self.corpus, self.id_col), columns)

    def search_approx_batch(
        self,
        requests: list[dict],
        nprobe: int = 4,
        n_cand: int = 200,
        k_default: int = 10,
    ) -> DataFrame:
        """Serve MANY JSON requests through the COMPRESSED index in one
        ADC pass per DISTINCT filter — the batched twin of
        :meth:`search_approx`, completing the serving matrix
        (search = single exact, search_batch = batch pruned-exact,
        search_approx = single compressed, this = batch compressed: the
        cache-refresh shape once the corpus outgrows even the pruned
        full-vector scan). Request-for-request it returns EXACTLY what
        sequential :meth:`search_approx` calls return (pinned in
        pytest): both take their candidates from
        :func:`operators.pq.ivfpq_candidates`; per-request filters run on
        the narrow corpus scan and semi-join the code table BEFORE ADC,
        so filtered-out rows never consume candidate slots; each
        request's candidates come only from ITS probed clusters (the
        mask rides inside the Arrow kernel); the exact rescore scores
        only (request, candidate) pairs, never another request's finds.

        One ADC scan serves every request that shares a filter body —
        expression and job growth are bounded by DISTINCT filters (the
        :meth:`search_batch` contract), and requests are grouped, so a
        10^4-request refresh with a handful of filter shapes costs a
        handful of passes over the 96 B/row code table. Returns
        (request_id, id, corpus columns, similarity, rank): the
        service's columns for every request, whatever a request's
        ``columns`` names. Every request is probed on the driver, so
        building the result runs no Spark job."""
        from strava_vector_search_spark.functions.vector import (
            similarity,
        )
        from strava_vector_search_spark.operators import pq as PQ

        books, codes, cents, meta = self._attached_pq("search_approx_batch")
        if not requests:
            raise ValueError("search_approx_batch: empty request list")
        rows, compiled, _columns = self._parse_requests(
            requests, k_default
        )
        cand_parts = []
        for fid in sorted({r[3] for r in rows}):
            gcodes = codes
            if fid >= 0:
                keep_ids = self.corpus.filter(compiled[fid]).select(
                    self.id_col
                )
                gcodes = codes.join(keep_ids, self.id_col, "left_semi")
            cand_parts.append(
                PQ.ivfpq_candidates(
                    gcodes,
                    books,
                    [(i, qv) for i, qv, _l, f in rows if f == fid],
                    cents,
                    nprobe,
                    n_cand,
                    self.id_col,
                    meta["cluster_col"],
                    bool(meta.get("residual")),
                )
            )
        cand = reduce(lambda a, b: a.unionByName(b), cand_parts).select(
            F.col("query_id").cast("int").alias("request_id"),
            self.id_col,
        )
        limits_df = self.spark.createDataFrame(
            [(i, l) for i, _qv, l, _f in rows],
            "request_id int, _limit int",
        )
        qvec_df = self.spark.createDataFrame(
            [(i, qv) for i, qv, _l, _f in rows],
            "request_id int, _qv array<double>",
        )
        scored = (
            self.embeddings.join(F.broadcast(cand), self.id_col)
            .join(F.broadcast(qvec_df), "request_id")
            .withColumn(
                "similarity",
                similarity(
                    F.col("embedding"),
                    F.col("_qv"),
                    self.assume_normalized,
                ),
            )
        )
        w = Window.partitionBy("request_id").orderBy(
            F.desc("similarity"), F.asc(self.id_col)
        )
        ranked = (
            scored.withColumn(
                "rank", F.row_number().over(w).cast("bigint")
            )
            .join(F.broadcast(limits_df), "request_id")
            .filter(F.col("rank") <= F.col("_limit"))
            .drop("_qv", "_limit", "embedding")
        )
        cols = list(self.columns or self.corpus.columns)
        out_cols = [self.id_col] if self.id_col not in cols else []
        return ranked.join(self.corpus, self.id_col).select(
            "request_id", *out_cols, *cols, "similarity", "rank"
        )

    # -- query serve ---------------------------------------------------

    def search_json(self, request: dict | str) -> str:
        """The reference's wire shape verbatim: ``{"results": [...]}`` JSON
        (what SEARCH_PREVIEW returns and the caller FLATTENs, 01:207-219).
        Timestamps/bytes are stringified; floats kept as numbers."""
        rows = [r.asDict(recursive=True) for r in self.search(request).collect()]
        return json.dumps({"results": rows}, default=str)

    def _serving_table(self) -> DataFrame:
        """``corpus ⋈ embeddings``, pinned: a ``localCheckpoint`` of the
        join, so a lookup scans memory-resident rows in one job instead
        of re-reading both tables and broadcasting the corpus. Built once
        per (``corpus``, ``embeddings``) pair, checked by identity on
        every call: assigning ``svc.corpus`` or attaching embeddings
        rebuilds it (materialised by the first lookup that reads it) and
        releases the replaced table's blocks. A checkpoint, not
        ``cache()``: Spark's cache manager matches a parquet scan by its
        root paths, so a cached plan would serve the old rows to a new
        DataFrame over files rewritten outside Spark."""
        if self.embeddings is None:
            raise RuntimeError(
                "service not built: call build() or attach_embeddings()"
            )
        pinned = self._serving
        if (
            pinned is None
            or pinned[0] is not self.corpus
            or pinned[1] is not self.embeddings
        ):
            if pinned is not None:
                # the LogicalRDD under the checkpointed plan holds the
                # blocks
                pinned[2]._jdf.queryExecution().logical().rdd().unpersist(
                    False
                )
            table = self.corpus.join(self.embeddings, self.id_col)
            pinned = (
                self.corpus,
                self.embeddings,
                table.localCheckpoint(eager=False),
            )
            self._serving = pinned
        return pinned[2]

    def search(self, request: dict | str) -> DataFrame:
        """Serve one JSON request {query|query_vec, columns, filter, limit}.

        Returns one row per hit: requested columns + similarity + rank —
        the flattened shape the reference builds with
        PARSE_JSON → ['results'] → FLATTEN (01:200-219).

        Scores the service's pinned serving table (:meth:`_serving_table`)
        with the query vector as one typed literal, so once the table is
        materialised a lookup is one Spark job: filter, score and top-k
        over memory-resident rows. The lookup after ``corpus`` or
        ``embeddings`` is replaced pays the rebuild (the corpus broadcast
        and a full scan). The table is memory-bound by design: the
        interactive lookup's working set, not the 100 TB batch lanes'.
        """
        if self.embeddings is None:
            raise RuntimeError("service not built: call build() or attach_embeddings()")
        qv, limit, pred, columns = self._parse_one(request)
        top = brute_force_topk(
            self._serving_table(),
            qv,
            k=limit,
            id_col=self.id_col,
            predicate=pred,
            assume_normalized=self.assume_normalized,
        )
        return self._wire_shape(top, columns)


# ---------------------------------------------------------------------------
# Catalog / introspection — SHOW/DESC CORTEX SEARCH SERVICES parity
# (01:190-193, 04:26,65-67). Spark tables go through spark.catalog; declared
# search services live in this process-level registry.

_REGISTRY: dict[str, SearchService] = {}


def register_service(name: str, svc: SearchService) -> SearchService:
    _REGISTRY[name] = svc
    return svc


def drop_service(name: str) -> bool:
    """DROP CORTEX SEARCH SERVICE equivalent (04:22-26)."""
    return _REGISTRY.pop(name, None) is not None


def show_services() -> list[dict]:
    """SHOW CORTEX SEARCH SERVICES (01:190)."""
    return [
        {"name": name, "search_col": s.search_col, "built": s.embeddings is not None}
        for name, s in sorted(_REGISTRY.items())
    ]


def describe_service(name: str) -> dict:
    """DESC CORTEX SEARCH SERVICE (01:193)."""
    s = _REGISTRY[name]
    return {
        "name": name,
        "id_col": s.id_col,
        "search_col": s.search_col,
        "attributes": list(s.attributes),
        "columns": list(s.columns),
        "dim": s.dim,
        "index_path": s.index_path,
        "built": s.embeddings is not None,
        "indexed_rows": s.embeddings.count() if s.embeddings is not None else 0,
    }


def build_request(
    query: str,
    columns: list[str] | None = None,
    filter_dsl: dict | None = None,
    limit: int = 10,
) -> str:
    """Compose the JSON request string the service consumes — the notebook's
    CONCAT-of-session-variables pattern (nb:156-161, F4/F15) done safely
    with json.dumps instead of string splicing."""
    req: dict = {"query": query, "limit": limit}
    if columns:
        req["columns"] = columns
    if filter_dsl:
        req["filter"] = filter_dsl
    return json.dumps(req)


# ---------------------------------------------------------------------------
# App-layer result caching + pre-warm — the reference's serving-side advice
# ("cache frequent query results app-side, TTL 5-10 min" 02:416-417, 02:435;
# "pre-warm" 02:424). Spark serves batch/interactive; these cover the
# interactive path.


class ResultCache:
    """TTL + LRU cache of COLLECTED search results, keyed by the canonical
    JSON of the request. Collected rows (not DataFrames) are cached — a
    cached lazy plan would re-execute on every use."""

    def __init__(self, max_entries: int = 256, ttl_seconds: float = 300.0, clock=None):
        import time as _time

        self.max_entries = max_entries
        self.ttl_seconds = ttl_seconds
        self._clock = clock or _time.monotonic
        self._data: dict[str, tuple[float, list]] = {}
        self.hits = 0
        self.misses = 0

    @staticmethod
    def key(request: dict | str) -> str:
        if isinstance(request, str):
            request = json.loads(request)
        return json.dumps(request, sort_keys=True)

    def get(self, request: dict | str):
        k = self.key(request)
        entry = self._data.get(k)
        if entry is None or self._clock() - entry[0] > self.ttl_seconds:
            if entry is not None:
                del self._data[k]
            self.misses += 1
            return None
        # LRU touch: move to the end
        self._data[k] = self._data.pop(k)
        self.hits += 1
        return entry[1]

    def put(self, request: dict | str, rows: list) -> None:
        k = self.key(request)
        self._data.pop(k, None)
        self._data[k] = (self._clock(), rows)
        while len(self._data) > self.max_entries:
            self._data.pop(next(iter(self._data)))  # evict oldest-used


def warm(svc: SearchService) -> SearchService:
    """Pre-warm (02:424): materialise the service's pinned serving table
    now, so the first lookup excludes the cold scan and the corpus
    broadcast. Nothing is ``cache()``-d: a cached parquet plan would
    also serve any later DataFrame over the same paths, stale rows
    included, once the files are rewritten outside Spark."""
    svc._serving_table().count()
    return svc


def cached_search(
    svc: SearchService, request: dict | str, cache: ResultCache
) -> list:
    """search() with the app-layer cache in front: returns collected rows."""
    got = cache.get(request)
    if got is not None:
        return got
    rows = svc.search(request).collect()
    cache.put(request, rows)
    return rows
