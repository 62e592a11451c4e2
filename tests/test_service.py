from __future__ import annotations

from functools import reduce

import pytest
from pyspark.sql import functions as F

from strava_vector_search_spark.service import (
    FilterDSLError,
    SearchService,
    compile_filter,
    warm,
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "interval run workout speed training", "run", "hard", 5000),
            (2, "easy recovery jog gentle pace", "run", "easy", 4000),
            (3, "endurance ride moderate cycling", "ride", "moderate", 40000),
            (4, "hill repeats very hard climbing ride", "ride", "very hard", 30000),
            (5, "hill repeats very hard climbing ride", "ride", "very_hard", 30000),
            (6, "swimming technique drills", "swim", "easy", 1500),
        ],
        "doc_id int, text string, sport_type string, difficulty string, distance_meters int",
    )


@pytest.fixture(scope="module")
def svc(spark, docs):
    return SearchService(
        spark,
        docs,
        id_col="doc_id",
        search_col="text",
        attributes=("sport_type", "difficulty", "distance_meters"),
        dim=32,
    ).build()


class TestFilterDSL:
    def test_eq(self, docs):
        got = docs.filter(compile_filter({"@eq": {"sport_type": "run"}})).count()
        assert got == 2

    def test_range_and(self, docs):
        f = {
            "@and": [
                {"@gte": {"distance_meters": 4500}},
                {"@lte": {"distance_meters": 30000}},
            ]
        }
        rows = docs.filter(compile_filter(f)).collect()
        assert sorted(r["doc_id"] for r in rows) == [1, 4, 5]

    def test_nested_and_or_spelling_wrinkle(self, docs):
        # the reference's 'very hard'/'very_hard' inconsistency (SURVEY §1.3):
        # queries must OR both spellings to survive it (nb:513-515)
        f = {
            "@and": [
                {"@eq": {"sport_type": "ride"}},
                {
                    "@or": [
                        {"@eq": {"difficulty": "very hard"}},
                        {"@eq": {"difficulty": "very_hard"}},
                    ]
                },
            ]
        }
        rows = docs.filter(compile_filter(f)).collect()
        assert sorted(r["doc_id"] for r in rows) == [4, 5]

    def test_not_and_in(self, docs):
        f = {"@not": {"@in": {"sport_type": ["run", "ride"]}}}
        rows = docs.filter(compile_filter(f)).collect()
        assert [r["doc_id"] for r in rows] == [6]

    def test_undeclared_attribute_rejected(self):
        with pytest.raises(FilterDSLError, match="not filterable"):
            compile_filter({"@eq": {"text": "x"}}, attributes={"sport_type"})

    def test_malformed_nodes_rejected(self):
        for bad in (
            {"@unknown": {"a": 1}},
            {"@and": []},
            {"@eq": {"a": 1, "b": 2}},
            {},
            "not a dict",
        ):
            with pytest.raises(FilterDSLError):
                compile_filter(bad)  # type: ignore[arg-type]


class TestSearchService:
    def test_text_query_returns_ranked_hits(self, svc):
        out = svc.search(
            {"query": "interval run workout speed training", "limit": 3}
        ).collect()
        assert len(out) == 3
        assert out[0]["doc_id"] == 1  # exact text match ranks first
        assert [r["rank"] for r in out] == [1, 2, 3]
        assert out[0]["similarity"] == pytest.approx(1.0, abs=1e-4)

    def test_filtered_search_excludes_nonmatching(self, svc):
        out = svc.search(
            {
                "query": "hard workout",
                "filter": {"@eq": {"sport_type": "ride"}},
                "columns": ["sport_type", "difficulty"],
                "limit": 10,
            }
        ).collect()
        assert 0 < len(out) <= 3
        assert all(r["sport_type"] == "ride" for r in out)

    def test_json_string_request(self, svc):
        out = svc.search(
            '{"query": "swimming drills", "limit": 1, "columns": ["sport_type"]}'
        ).collect()
        assert len(out) == 1
        assert out[0]["sport_type"] == "swim"

    def test_unbuilt_service_raises(self, spark, docs):
        s = SearchService(spark, docs, id_col="doc_id", search_col="text")
        with pytest.raises(RuntimeError, match="not built"):
            s.search({"query": "x"})

    def test_index_persistence(self, spark, docs, tmp_path):
        path = str(tmp_path / "emb_index")
        s = SearchService(
            spark, docs, id_col="doc_id", search_col="text", dim=16, index_path=path
        ).build()
        assert s.embeddings is not None
        reread = spark.read.parquet(path)
        assert reread.count() == docs.count()
        assert dict(reread.dtypes)["embedding"] == "array<float>"


def test_search_json_wire_shape(svc):
    import json

    out = json.loads(
        svc.search_json({"query": "swimming technique drills", "limit": 2,
                         "columns": ["sport_type"]})
    )
    assert set(out) == {"results"}
    assert len(out["results"]) == 2
    hit = out["results"][0]
    assert hit["sport_type"] == "swim"
    assert hit["rank"] == 1 and isinstance(hit["similarity"], float)


def test_bad_query_vec_dim_and_limit_rejected(svc):
    """The scorer zips the query against each stored vector, so a
    query_vec of the wrong width would rank on NULL similarities; the
    request front end refuses it, and a limit below 1, naming the
    request, the bad value and the service dim."""
    with pytest.raises(
        ValueError, match=r"request 0: query_vec has 5 values, the service dim is 32"
    ):
        svc.search({"query_vec": [1.0] * 5, "limit": 3})
    for bad in (0, -1):
        with pytest.raises(
            ValueError, match=rf"request 0: limit {bad} must be >= 1 \(service dim 32\)"
        ):
            svc.search({"query_vec": [1.0] * 32, "limit": bad})


def test_non_string_query_rejected(spark, svc):
    """A ``query`` that is not a string is refused by the front end and
    the client embedder, naming the request index and the value's type
    (a Spark string column would coerce ``["run"]`` or ``123`` into text
    and rank it)."""
    from strava_vector_search_spark.functions.embed import hash_embed_text

    for bad, tname in ((["run"], "list"), (123, "int"), (None, "NoneType")):
        with pytest.raises(
            ValueError, match=rf"request 0: query must be a str, got {tname}"
        ):
            svc.search({"query": bad, "limit": 2})
        with pytest.raises(
            ValueError, match=rf"query text must be a str, got {tname}"
        ):
            hash_embed_text(spark, bad, 32)
    with pytest.raises(ValueError, match=r"request 1: query must be a str"):
        svc._parse_requests([{"query": "run"}, {"query": 7}])


def test_text_front_end_runs_no_spark_job(spark, svc):
    """Request text embeds on the driver: neither the client embedder
    nor the service front end may start a Spark job (a 1-row
    hash_embedding_table pipeline costs 4 jobs, most of a lookup's
    latency). The same job group does record a job when one runs, so an
    empty list is not a tracking artefact."""
    from strava_vector_search_spark.functions.embed import (
        hash_embed_text,
        hash_embedding_table,
    )

    sc = spark.sparkContext
    group = "test_text_front_end_runs_no_spark_job"
    sc.setJobGroup(group, "zero-job request front end")
    try:
        hash_embed_text(spark, "interval run workout", 32)
        rows, _compiled, _columns = svc._parse_requests(
            [
                {"query": "easy recovery jog", "limit": 2},
                {"query": "hill repeats", "filter": {"@eq": {"sport_type": "ride"}}},
                {"query": "swimming drills", "limit": 1},
            ]
        )
        assert len(rows) == 3
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        one = spark.createDataFrame([(0, "run")], "id int, t string")
        hash_embedding_table(one, "id", "t", 32).collect()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_search_approx_equals_search_at_full_probe(spark, docs, svc, tmp_path):
    """With every cell probed and n_cand >= the corpus, the compressed
    lane loses no candidate: search_approx returns exactly search's
    (id, similarity, rank), filtered or not. Every candidate is rescored
    exactly, so any codebook will do (no training); the IVF cells are
    the sport_type values (no KMeans). The embeddings are collected once
    so no request re-embeds the corpus."""
    import numpy as np

    from strava_vector_search_spark.operators import pq as PQ

    rows = svc.embeddings.join(docs.select("doc_id", "sport_type"), "doc_id").collect()
    emb = spark.createDataFrame(rows, "doc_id int, embedding array<float>, sport_type string")
    cells: dict[str, list] = {}
    for r in rows:
        cells.setdefault(r["sport_type"], []).append(r["embedding"])
    cents = spark.createDataFrame(
        [(c, np.mean(v, axis=0).tolist()) for c, v in cells.items()],
        "cluster string, centroid array<double>",
    )
    books = np.random.default_rng(0).normal(size=(4, 4, 8))
    codes = PQ.encode_pq(emb, books, id_col="doc_id", keep_cols=("sport_type",))
    path = str(tmp_path / "pq")
    PQ.write_pq_index(
        codes, books, path, id_col="doc_id", cluster_col="sport_type", centroids=cents
    )
    approx = (
        SearchService(
            spark, docs, id_col="doc_id", search_col="text",
            attributes=svc.attributes, dim=32,
        )
        .attach_embeddings(emb.drop("sport_type"), vec_id_col="doc_id")
        .attach_pq_index(path)
    )
    vec = {r["doc_id"]: [float(x) for x in r["embedding"]] for r in rows}
    for req in (
        {"query_vec": vec[4], "limit": 4},
        # run docs outrank every ride unfiltered
        {"query_vec": vec[1], "filter": {"@eq": {"sport_type": "ride"}}, "limit": 3},
    ):
        got, want = (
            [(r["doc_id"], r["similarity"], r["rank"])
             for r in df.orderBy("rank").collect()]
            for df in (approx.search_approx(req, nprobe=3, n_cand=6), approx.search(req))
        )
        assert got == want, req
        assert len(got) == req["limit"]
    # the batch lanes share the front end: the bad request is named
    with pytest.raises(ValueError, match="request 1: query_vec has 31 values"):
        approx.search_approx_batch([{"query": "ride"}, {"query_vec": [0.0] * 31}])


class TestSearchBatchIVF:
    """search_batch over the materialized IVF layout: with nprobe covering
    EVERY cluster the IVF batch path loses nothing, so each request's
    slice must equal the brute-force search() result value-for-value
    (batch == N sequential searches); smaller nprobe stays
    batch-invariant (one batch == singleton batches unioned)."""

    @pytest.fixture(scope="class")
    def ivf_svc(self, spark, docs, tmp_path_factory):
        svc = SearchService(
            spark,
            docs,
            id_col="doc_id",
            search_col="text",
            attributes=("sport_type", "difficulty", "distance_meters"),
            dim=32,
            # hash embeddings are unit vectors, but route BOTH paths
            # through full cosine so search() and the IVF scorer share
            # one similarity expression exactly
            assume_normalized=False,
        ).build()
        path = str(tmp_path_factory.mktemp("svcivf") / "idx")
        return svc.build_ivf(path, cluster_col="sport_type")

    REQUESTS = [
        {"query": "hard workout", "limit": 3},
        {
            "query": "recovery ride",
            "filter": {"@gte": {"distance_meters": 4000}},
            "limit": 2,
        },
        {
            "query": "drills",
            "filter": {"@eq": {"sport_type": "swim"}},
            "limit": 5,
        },
        # run docs outrank every ride unfiltered: the filtered request
        # must still fill its limit from rides (filter-then-rank)
        {
            "query": "interval run workout speed training",
            "filter": {"@eq": {"sport_type": "ride"}},
            "limit": 3,
        },
    ]

    @staticmethod
    def _rows(df):
        return [
            (r["doc_id"], r["similarity"], r["rank"])
            for r in df.orderBy("rank").collect()
        ]

    def test_batch_equals_sequential_search_at_full_probe(self, ivf_svc):
        batch = ivf_svc.search_batch(self.REQUESTS, nprobe=3)
        for i, req in enumerate(self.REQUESTS):
            got = self._rows(batch.filter(F.col("request_id") == i))
            want = self._rows(ivf_svc.search(req))
            assert got == want, f"request {i}"
        rides = batch.filter(F.col("request_id") == 3).collect()
        assert sorted(r["rank"] for r in rides) == [1, 2, 3]
        assert all(r["sport_type"] == "ride" for r in rides)

    def test_batch_invariance_under_pruning(self, ivf_svc):
        batch = ivf_svc.search_batch(self.REQUESTS, nprobe=1)
        for i, req in enumerate(self.REQUESTS):
            got = self._rows(batch.filter(F.col("request_id") == i))
            want = self._rows(ivf_svc.search_batch([req], nprobe=1))
            assert got == want, f"request {i}"

    def test_search_batch_without_layout_raises(self, spark, docs):
        svc = SearchService(
            spark, docs, id_col="doc_id", search_col="text", dim=32
        ).build()
        with pytest.raises(RuntimeError, match="build_ivf"):
            svc.search_batch([{"query": "x"}])

    def test_build_ivf_two_phase_fit_matches_full_probe_search(
        self, spark, tmp_path
    ):
        """fit_fraction < 1 (the production sample-fit + map-side
        assign build): every row lands in a fitted cell, the centroid
        artifact matches the cell set, and full-probe search_batch
        equals the brute-force search() on the same corpus."""
        import os

        docs = spark.createDataFrame(
            [
                (i, f"alpha{i % 13} beta{i % 5} gamma{i % 3}", "x")
                for i in range(1, 500)
            ],
            "doc_id int, text string, kind string",
        )
        svc = SearchService(
            spark,
            docs,
            id_col="doc_id",
            search_col="text",
            dim=32,
            assume_normalized=False,
        ).build()
        path = str(tmp_path / "idx2p")
        svc.build_ivf(
            path, n_clusters=8, seed=5, fit_fraction=0.3, max_iter=5
        )
        part = spark.read.parquet(path)
        cents = spark.read.parquet(os.path.join(path, "_centroids"))
        cell_set = {r["cluster"] for r in cents.select("cluster").collect()}
        assert part.count() == svc.embeddings.count()
        assert {
            r["cluster"] for r in part.select("cluster").distinct().collect()
        } <= cell_set
        assert len(cell_set) <= 8
        req = {"query": "alpha3 beta2", "limit": 5}
        got = [
            (r["doc_id"], r["similarity"], r["rank"])
            for r in svc.search_batch([req], nprobe=len(cell_set))
            .orderBy("rank")
            .collect()
        ]
        want = [
            (r["doc_id"], r["similarity"], r["rank"])
            for r in svc.search(req).orderBy("rank").collect()
        ]
        assert got == want

    def test_production_batch_size_bounded_plan(self, ivf_svc):
        """1,000 requests through one search_batch: the expression tree
        must grow with DISTINCT filter bodies (3 here), not requests —
        the old shape OR-reduced one predicate per request for both the
        DSL filters and the limit cut, so Catalyst analysis time blew up
        linearly in batch size. Pins (a) no per-request predicate in the
        optimized plan, (b) value parity with sequential search() on a
        sample, (c) per-request limits still honored."""
        import time

        from strava_vector_search_spark.functions.embed import (
            hash_embed_text,
        )

        filters = [
            None,
            {"@eq": {"sport_type": "run"}},
            {"@gte": {"distance_meters": 4000}},
            {"@and": [
                {"@eq": {"sport_type": "ride"}},
                {"@lte": {"distance_meters": 35000}},
            ]},
        ]
        texts = ["hard workout", "recovery ride", "drills", "hill climb"]
        vecs = [hash_embed_text(ivf_svc.spark, t, dim=32) for t in texts]
        reqs = []
        for i in range(1000):
            req = {"query_vec": vecs[i % 4], "limit": 1 + i % 4}
            if filters[i % 4]:
                req["filter"] = filters[i % 4]
            reqs.append(req)
        t0 = time.monotonic()
        batch = ivf_svc.search_batch(reqs, nprobe=3)
        plan = batch._jdf.queryExecution().optimizedPlan().toString()
        analysis_sec = time.monotonic() - t0
        # structural: the limit cut and filter routing are data-joined,
        # not compiled per request — the old shape mentioned request_id
        # in >=2000 predicate terms ((request_id = i) per filter and per
        # limit cut); now it appears only as join/window attribute refs
        # (a handful), and the filter union has one branch per DISTINCT
        # filter body (3 + the unfiltered branch), not per request
        assert plan.count("request_id") < 100, plan.count("request_id")
        assert plan.count("_filter_id") < 40, plan.count("_filter_id")
        # and analysis stays interactive (the per-request OR chain took
        # minutes at this size; generous bound for loaded CI machines)
        assert analysis_sec < 60, f"plan analysis took {analysis_sec:.1f}s"
        out = batch.collect()
        by_req = {}
        for r in out:
            by_req.setdefault(r["request_id"], []).append(r)
        # per-request limits honored
        for i, rows in by_req.items():
            assert len(rows) <= 1 + i % 4
        # value parity with the sequential path on a sample (nprobe=3
        # covers every cluster, so the batch path loses nothing)
        for i in (0, 1, 2, 3, 997, 998, 999):
            got = sorted(
                (r["doc_id"], r["similarity"], r["rank"])
                for r in by_req.get(i, [])
            )
            want = sorted(
                (r["doc_id"], r["similarity"], r["rank"])
                for r in ivf_svc.search(reqs[i]).collect()
            )
            assert got == want, f"request {i}"


class TestSearchApproxPQ:
    def test_requires_attached_index_and_build(self, spark, docs):
        svc = SearchService(
            spark, docs, id_col="doc_id", search_col="text", dim=32
        ).build()
        with pytest.raises(RuntimeError, match="attach_pq_index"):
            svc.search_approx({"query": "x"})

    def test_refuses_plain_pq_artifact(self, spark, docs, tmp_path):
        """search_approx needs the coarse quantizer — a plain PQ artifact
        (no centroids/cluster) is refused at attach, not at query time."""
        from strava_vector_search_spark.functions.embed import (
            hash_embedding_table,
        )
        from strava_vector_search_spark.operators import pq as PQ

        emb = hash_embedding_table(docs, "doc_id", "text", dim=32)
        books = PQ.train_codebooks(emb, m=8, id_col="doc_id")
        codes = PQ.encode_pq(emb, books, id_col="doc_id")
        path = str(tmp_path / "plainpq")
        PQ.write_pq_index(codes, books, path, id_col="doc_id")
        svc = SearchService(
            spark, docs, id_col="doc_id", search_col="text", dim=32
        ).build()
        with pytest.raises(ValueError, match="coarse quantizer"):
            svc.attach_pq_index(path)

    @pytest.fixture(scope="class")
    def pq_svc(self, spark, tmp_path_factory):
        """Service with a working IVF+PQ artifact attached: 200 docs,
        4 learned coarse cells, m=8 codes over dim-32 hash embeddings."""
        from strava_vector_search_spark.operators import pq as PQ
        from strava_vector_search_spark.operators.ann import (
            compute_centroids,
            kmeans_assign,
        )

        corpus = spark.createDataFrame(
            [
                (
                    i,
                    f"theta{i % 19} iota{i % 7} kappa{i % 4}",
                    "run" if i % 2 else "ride",
                    1000 * (i % 9),
                )
                for i in range(1, 201)
            ],
            "doc_id int, text string, sport_type string, "
            "distance_meters int",
        )
        svc = SearchService(
            spark,
            corpus,
            id_col="doc_id",
            search_col="text",
            attributes=("sport_type", "distance_meters"),
            dim=32,
            assume_normalized=False,
        ).build()
        emb = kmeans_assign(svc.embeddings, num_clusters=4, seed=3)
        books = PQ.train_codebooks(emb, m=8, id_col="doc_id")
        codes = PQ.encode_pq(
            emb, books, id_col="doc_id", keep_cols=("cluster",)
        )
        path = str(tmp_path_factory.mktemp("pq") / "idx")
        PQ.write_pq_index(
            codes, books, path, id_col="doc_id", cluster_col="cluster",
            centroids=compute_centroids(emb, "cluster"),
        )
        return svc.attach_pq_index(path)

    APPROX_REQS = [
        {"query": "theta3 iota2", "limit": 4},
        {
            "query": "kappa1",
            "filter": {"@eq": {"sport_type": "run"}},
            "limit": 3,
        },
        {
            "query": "iota5 kappa2",
            "filter": {"@gte": {"distance_meters": 4000}},
            "limit": 5,
        },
        # shares request 1's filter body — must reuse its ADC pass
        {
            "query": "theta7",
            "filter": {"@eq": {"sport_type": "run"}},
            "limit": 2,
        },
    ]

    def test_approx_batch_equals_sequential_approx(self, pq_svc):
        """Request-for-request parity: one search_approx_batch call ==
        N sequential search_approx calls (same probe rule, same ADC
        candidates, same exact rescore) across filtered, unfiltered,
        and filter-sharing requests."""
        batch = pq_svc.search_approx_batch(
            self.APPROX_REQS, nprobe=2, n_cand=20
        ).collect()
        by_req = {}
        for r in batch:
            by_req.setdefault(r["request_id"], []).append(
                (r["doc_id"], r["similarity"], r["rank"])
            )
        for i, req in enumerate(self.APPROX_REQS):
            got = sorted(by_req.get(i, []))
            want = sorted(
                (r["doc_id"], r["similarity"], r["rank"])
                for r in pq_svc.search_approx(
                    req, nprobe=2, n_cand=20
                ).collect()
            )
            assert got == want, f"request {i}"

    def test_approx_batch_requires_artifact(self, spark, docs):
        svc = SearchService(
            spark, docs, id_col="doc_id", search_col="text", dim=32
        ).build()
        with pytest.raises(RuntimeError, match="attach_pq_index"):
            svc.search_approx_batch([{"query": "x"}])

    def test_id_col_mismatch_refused(self, spark, docs, tmp_path):
        from strava_vector_search_spark.functions.embed import (
            hash_embedding_table,
        )
        from strava_vector_search_spark.operators import pq as PQ
        from strava_vector_search_spark.operators.ann import (
            compute_centroids,
            kmeans_assign,
        )

        emb = kmeans_assign(
            hash_embedding_table(docs, "doc_id", "text", dim=32),
            num_clusters=2,
            seed=1,
        )
        books = PQ.train_codebooks(emb, m=8, id_col="doc_id")
        codes = PQ.encode_pq(
            emb, books, id_col="doc_id", keep_cols=("cluster",)
        )
        path = str(tmp_path / "pqidx")
        PQ.write_pq_index(
            codes, books, path, id_col="doc_id", cluster_col="cluster",
            centroids=compute_centroids(emb, "cluster"),
        )
        svc = SearchService(
            spark,
            docs.withColumnRenamed("doc_id", "item_id"),
            id_col="item_id",
            search_col="text",
            dim=32,
        ).build()
        with pytest.raises(ValueError, match="id_col"):
            svc.attach_pq_index(path)


class TestDriverProbe:
    """Every IVF serving lane probes on the driver; these pin the lanes to
    the distributed probe (``rank_probed_clusters``) at nprobe < cells.
    The IVF cells are an attribute (no KMeans) and cells 1 and 2 hold the
    same texts, so their centroids are equal and tie on every query: at
    nprobe 1 a run query must probe cell 1, and probing cell 2 returns
    other doc ids."""

    TEXTS = {
        0: ["endurance ride", "gravel ride climbs", "criterium race ride"],
        1: ["tempo run intervals", "long easy run", "hill sprint repeats"],
        2: ["tempo run intervals", "long easy run", "hill sprint repeats"],
        3: ["pool swim drills", "open water swim", "swim sprint sets"],
    }
    REQUESTS = [
        {"query": "run intervals", "limit": 3},
        {"query": "easy run", "filter": {"@gte": {"dist": 5000}}, "limit": 2},
        {"query": "swim drills ride", "limit": 4},
    ]

    @pytest.fixture(scope="class")
    def cell_svc(self, spark, tmp_path_factory):
        rows, i = [], 0
        for cell, texts in self.TEXTS.items():
            for t in texts:
                i += 1
                rows.append((i, t, cell, 1000 * (i % 9)))
        corpus = spark.createDataFrame(
            rows, "doc_id int, text string, cell int, dist int"
        )
        svc = SearchService(
            spark, corpus, id_col="doc_id", search_col="text",
            attributes=("cell", "dist"), dim=32,
            # full cosine on both sides, as in TestSearchBatchIVF
            assume_normalized=False,
        )
        # embedded once and held as rows, so no request re-embeds
        emb = spark.createDataFrame(
            svc.build().embeddings.collect(),
            "doc_id int, embedding array<float>",
        )
        svc.attach_embeddings(emb, vec_id_col="doc_id")
        root = tmp_path_factory.mktemp("driverprobe")
        return svc.build_ivf(str(root / "ivf"), cluster_col="cell"), root

    def _cell_order(self, svc):
        """Each request's cells in the distributed probe's order, over
        the layout's own centroid table: its first n are what nprobe n
        probes."""
        import os

        from strava_vector_search_spark.operators.ann import (
            rank_probed_clusters,
        )

        queries = svc.spark.createDataFrame(
            [(i, svc._parse_one(r)[0]) for i, r in enumerate(self.REQUESTS)],
            "query_id bigint, query_vec array<double>",
        )
        cents = svc.spark.read.parquet(
            os.path.join(svc.ivf_path, "_centroids")
        )
        out: dict[int, list] = {}
        for r in (
            rank_probed_clusters(cents, queries, len(self.TEXTS))
            .orderBy("query_id", F.desc("cdist"), F.asc("cluster"))
            .collect()
        ):
            out.setdefault(r["query_id"], []).append(r["cluster"])
        return out

    @staticmethod
    def _by_request(frames) -> dict[int, list]:
        """{request: sorted (doc_id, similarity, rank)} of a batch result
        (a DataFrame) or of one single-request result per request (a
        list of DataFrames, run as one union so the test stays fast)."""
        if isinstance(frames, list):
            frames = reduce(
                lambda a, b: a.unionByName(b),
                [
                    f.select(
                        F.lit(i).alias("request_id"), "doc_id", "similarity", "rank"
                    )
                    for i, f in enumerate(frames)
                ],
            )
        out: dict[int, list] = {}
        for r in frames.collect():
            out.setdefault(r["request_id"], []).append(
                (r["doc_id"], r["similarity"], r["rank"])
            )
        return {i: sorted(v) for i, v in out.items()}

    def test_search_batch_equals_search_within_probed_cells(self, cell_svc):
        """At nprobe 1 the run queries tie cells 1 and 2 at the top; at
        nprobe 3 the swim query's cut falls between them."""
        svc, _root = cell_svc
        order = self._cell_order(svc)
        assert order[0][:2] == [1, 2] and order[2][2:] == [1, 2], order
        for nprobe in (1, 3):
            want = []
            for i, req in enumerate(self.REQUESTS):
                cells = {"@in": {"cell": order[i][:nprobe]}}
                flt = req.get("filter")
                want.append(svc.search(
                    {**req, "filter": {"@and": [flt, cells]} if flt else cells}
                ))
            got = self._by_request(
                svc.search_batch(self.REQUESTS, nprobe=nprobe)
            )
            assert got == self._by_request(want), nprobe
            assert len(got) == len(self.REQUESTS)

    @pytest.fixture(scope="class")
    def pq_services(self, spark, cell_svc):
        """The cell corpus behind a raw and a residual-stamped IVF+PQ
        artifact over the same cells. Every candidate is rescored
        exactly, so any codebook will do (no training)."""
        import numpy as np

        from strava_vector_search_spark.operators import pq as PQ
        from strava_vector_search_spark.operators.ann import compute_centroids

        svc, root = cell_svc
        emb = svc.embeddings.join(
            svc.corpus.select("doc_id", "cell"), "doc_id"
        )
        cents = compute_centroids(emb, "cell")
        books = np.random.default_rng(0).normal(size=(4, 4, 8))
        out = {}
        for residual in (False, True):
            src, col = emb, "embedding"
            if residual:
                src = PQ.residualize(emb, cents, cluster_col="cell")
                col = "residual"
            codes = PQ.encode_pq(
                src, books, vector_col=col, id_col="doc_id", keep_cols=("cell",)
            )
            path = str(root / f"pq_{residual}")
            PQ.write_pq_index(
                codes, books, path, id_col="doc_id", cluster_col="cell",
                centroids=cents, residual=residual,
            )
            out[residual] = (
                SearchService(
                    spark, svc.corpus, id_col="doc_id", search_col="text",
                    attributes=svc.attributes, dim=32, assume_normalized=False,
                )
                .attach_embeddings(svc.embeddings, vec_id_col="doc_id")
                .attach_pq_index(path)
            )
        return out

    @pytest.mark.parametrize("residual", [False, True])
    def test_approx_batch_equals_sequential_approx_below_full_probe(
        self, pq_services, residual
    ):
        """Both compressed lanes share one candidate stage; the batch
        lane must return the rows of sequential search_approx calls (the
        probe itself is pinned to an independent reference below)."""
        svc = pq_services[residual]
        assert svc.pq_index[3]["residual"] is residual
        got = self._by_request(
            svc.search_approx_batch(self.REQUESTS, nprobe=1, n_cand=20)
        )
        assert {d for d, _s, _r in got[0]} <= {4, 5, 6}  # cell 1, not 2
        assert len(got) == len(self.REQUESTS)
        assert got == self._by_request(
            [svc.search_approx(r, nprobe=1, n_cand=20) for r in self.REQUESTS]
        )

    @pytest.mark.parametrize("residual", [False, True])
    def test_search_approx_equals_exact_search_within_probed_cells(
        self, cell_svc, pq_services, residual
    ):
        """With n_cand above the rows of the probed cells, search_approx
        loses no candidate, so it must equal exact search restricted to
        the cells the distributed probe picks (``_cell_order``): a check
        on the driver probe and the ADC stage that shares no code with
        them."""
        svc, _root = cell_svc
        approx = pq_services[residual]
        order = self._cell_order(svc)
        for nprobe in (1, 3):
            want, got = [], []
            for i, req in enumerate(self.REQUESTS):
                cells = {"@in": {"cell": order[i][:nprobe]}}
                flt = req.get("filter")
                want.append(svc.search(
                    {**req, "filter": {"@and": [flt, cells]} if flt else cells}
                ))
                got.append(approx.search_approx(req, nprobe=nprobe, n_cand=20))
            assert self._by_request(got) == self._by_request(want), nprobe

    def test_bad_columns_fail_in_the_front_end(self, cell_svc, pq_services):
        """Every lane refuses a ``columns`` value that is not a list of
        strings, or that names a column the corpus lacks, before any plan
        is built, naming the request and the offending value."""
        svc, _root = cell_svc
        approx = pq_services[False]
        good = self.REQUESTS[0]
        lanes = (
            (0, svc.search),
            (0, approx.search_approx),
            (1, lambda r: svc.search_batch([good, r])),
            (1, lambda r: approx.search_approx_batch([good, r])),
        )
        for columns, name in (
            (["text", "nope"], "nope"),
            ("text", "text"),
            (["text", 3], "3"),
        ):
            for i, lane in lanes:
                with pytest.raises(ValueError, match=f"request {i}: .*{name}"):
                    lane({**good, "columns": columns})
        # valid names pass every lane
        for _i, lane in lanes:
            lane({**good, "columns": ["text", "cell"]})

    def test_batch_lanes_plan_without_probe_jobs(
        self, spark, cell_svc, pq_services
    ):
        """Building each batch lane's result runs no probe job: at most
        the layout's schema read for search_batch, nothing for
        search_approx_batch. The same job group does record a job when
        one runs, so an empty list is not a tracking artefact."""
        sc = spark.sparkContext
        svc, _root = cell_svc
        approx = pq_services[True]
        lanes = (
            ("plan_search_batch", 1,
             lambda: svc.search_batch(self.REQUESTS, nprobe=2)),
            ("plan_search_approx_batch", 0,
             lambda: approx.search_approx_batch(self.REQUESTS, nprobe=2)),
        )
        try:
            for group, most, plan in lanes:
                sc.setJobGroup(group, "batch lane planning")
                df = plan()
                jobs = list(sc.statusTracker().getJobIdsForGroup(group))
                assert len(jobs) <= most, (group, jobs)
                df.collect()
                assert list(sc.statusTracker().getJobIdsForGroup(group)) != []
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def test_search_approx_plans_without_jobs(self, spark, pq_services):
        """Building a search_approx result runs no job, on a raw and a
        residual artifact, unfiltered and filtered: the request is probed
        on the driver, the offsets come from the held centroids, and the
        kernel's width is checked on the attached code table (spread at
        attach), not on the filter's semi-join."""
        sc = spark.sparkContext
        try:
            for residual in (False, True):
                for req in self.REQUESTS[:2]:
                    group = f"search_approx_plan_{residual}_{'filter' in req}"
                    sc.setJobGroup(group, "search_approx planning")
                    df = pq_services[residual].search_approx(req, nprobe=2)
                    jobs = sc.statusTracker().getJobIdsForGroup
                    assert list(jobs(group)) == [], (group, list(jobs(group)))
                    assert len(df.collect()) == req["limit"]
                    assert list(jobs(group)) != []
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)


class TestPinnedServingTable:
    """search() scores a pinned corpus ⋈ embeddings table the service
    owns: rebuilt when either side is replaced, never stale, one job
    per lookup once built, one table held at a time."""

    REQ = {"query": "hill repeats climbing", "limit": 2}

    @staticmethod
    def _ids(svc, req):
        return [r["doc_id"] for r in svc.search(req).orderBy("rank").collect()]

    def test_search_reads_its_writes(self, spark, tmp_path):
        """A doc appended through refresh_batch, with corpus and
        embeddings re-read and reassigned, is found at rank 1."""
        from strava_vector_search_spark.streaming.refresh import (
            default_embedder,
            refresh_batch,
        )

        corpus = str(tmp_path / "corpus")
        spark.createDataFrame(
            [
                (1, "interval run workout", "run"),
                (2, "easy recovery jog", "run"),
                (3, "endurance ride cycling", "ride"),
                (4, "hill repeats climbing ride", "ride"),
            ],
            "doc_id int, text string, sport_type string",
        ).write.parquet(corpus)
        svc = SearchService(
            spark, spark.read.parquet(corpus), search_col="text",
            attributes=("sport_type",), dim=32,
            index_path=str(tmp_path / "index"),
        ).build()
        req = {"query": "open water swim sprint", "limit": 2}
        assert 9 not in self._ids(svc, req)
        new = spark.createDataFrame(
            [(9, "open water swim sprint", "swim")],
            "doc_id int, text string, sport_type string",
        )
        new.write.mode("append").parquet(corpus)
        refresh_batch(
            new, svc.embeddings, default_embedder("doc_id", "text", 32)
        ).write.mode("append").parquet(svc.index_path)
        svc.corpus = spark.read.parquet(corpus)
        svc.attach_embeddings(spark.read.parquet(svc.index_path), "doc_id")
        assert self._ids(svc, req)[0] == 9

    def test_rewritten_corpus_is_not_served_stale(self, spark, tmp_path):
        """Files rewritten outside Spark: a new service over a fresh read
        of the same path serves the new rows (a cache()-d plan over the
        same path would be matched and serve the old ones)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        corpus = tmp_path / "corpus"
        corpus.mkdir()
        texts = ["interval run workout", "hill repeats climbing ride"]

        def write(name, sports):
            for f in corpus.iterdir():
                f.unlink()
            pq.write_table(
                pa.table({
                    "doc_id": pa.array([1, 2], pa.int32()),
                    "text": texts,
                    "sport_type": sports,
                }),
                str(corpus / name),
            )

        write("a.parquet", ["run", "ride"])
        emb = SearchService(
            spark, spark.read.parquet(str(corpus)), search_col="text", dim=32
        ).build().embeddings
        emb = spark.createDataFrame(emb.collect(), emb.schema)

        def sports():
            svc = SearchService(
                spark, spark.read.parquet(str(corpus)), search_col="text",
                attributes=("sport_type",), dim=32,
            ).attach_embeddings(emb, "doc_id")
            warm(svc)
            return {
                r["doc_id"]: r["sport_type"]
                for r in svc.search({**self.REQ, "limit": 5}).collect()
            }

        assert sports() == {1: "run", 2: "ride"}
        write("b.parquet", ["swim", "swim"])
        assert sports() == {1: "swim", 2: "swim"}

    def test_second_search_runs_one_job(self, spark, docs, svc):
        """Once the table is pinned, building and collecting a filtered
        lookup runs exactly one Spark job."""
        fresh = SearchService(
            spark, docs, id_col="doc_id", search_col="text",
            attributes=svc.attributes, dim=32,
        ).attach_embeddings(svc.embeddings, "doc_id")
        req = {**self.REQ, "filter": {"@eq": {"sport_type": "ride"}}}
        want = self._ids(fresh, req)
        sc = spark.sparkContext
        group = "test_second_search_runs_one_job"
        sc.setJobGroup(group, "pinned lookup")
        try:
            assert self._ids(fresh, req) == want == [4, 5]
            assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def test_replaced_tables_release_their_blocks(self, spark, docs, svc):
        """Five reassign + search cycles leave one pinned table
        registered, not five."""
        sc = spark.sparkContext
        before = set(sc._jsc.getPersistentRDDs().keySet())
        fresh = SearchService(
            spark, docs, id_col="doc_id", search_col="text", dim=32
        ).attach_embeddings(svc.embeddings, "doc_id")
        for _ in range(5):
            fresh.corpus = docs.select("*")
            fresh.attach_embeddings(svc.embeddings.select("*"), "doc_id")
            assert self._ids(fresh, self.REQ)[0] in (4, 5)
        pinned = set(sc._jsc.getPersistentRDDs().keySet()) - before
        assert len(pinned) == 1, pinned


def test_string_cell_residual_approx_equals_batch(spark, docs, svc, tmp_path):
    """A residual IVF+PQ artifact whose cells are sport_type strings: the
    single-request lane keys its centroid offsets by the cell id, as the
    batch lane does, and returns exactly the batch lane's rows."""
    import numpy as np

    from strava_vector_search_spark.operators import pq as PQ
    from strava_vector_search_spark.operators.ann import compute_centroids

    emb = svc.embeddings.join(docs.select("doc_id", "sport_type"), "doc_id")
    emb = spark.createDataFrame(emb.collect(), emb.schema)
    cents = compute_centroids(emb, "sport_type")
    books = np.random.default_rng(0).normal(size=(4, 4, 8))
    codes = PQ.encode_pq(
        PQ.residualize(emb, cents, cluster_col="sport_type"), books,
        vector_col="residual", id_col="doc_id", keep_cols=("sport_type",),
    )
    path = str(tmp_path / "pq")
    PQ.write_pq_index(
        codes, books, path, id_col="doc_id", cluster_col="sport_type",
        centroids=cents, residual=True,
    )
    approx = (
        SearchService(
            spark, docs, id_col="doc_id", search_col="text",
            attributes=svc.attributes, dim=32,
        )
        .attach_embeddings(emb.drop("sport_type"), "doc_id")
        .attach_pq_index(path)
    )
    req = {"query": "easy jog", "filter": {"@ne": {"difficulty": "hard"}}, "limit": 3}
    got, want = (
        [(r["doc_id"], r["similarity"], r["rank"]) for r in df.orderBy("rank").collect()]
        for df in (
            approx.search_approx(req, nprobe=2, n_cand=6),
            approx.search_approx_batch([req], nprobe=2, n_cand=6),
        )
    )
    assert got == want and len(got) == 3
