"""Append-only SRP-index maintenance: incremental append must be
query-identical to a full rebuild, and compaction must shrink files while
preserving results and pushdown."""

import glob

import pytest
from pyspark.sql import functions as F

from strava_vector_search_spark.io.tables import load_table
from strava_vector_search_spark.operators.ann import (
    append_to_srp_index,
    collect_centroids,
    compact_index,
    srp_topk_indexed,
    write_srp_index,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings")


@pytest.fixture(scope="module")
def qv(emb):
    return [
        float(x)
        for x in emb.filter(F.col("vec_id") == 7).head()["embedding"]
    ]


def _results(spark, path, qv):
    return [
        (r["vec_id"], r["similarity"])
        for r in srp_topk_indexed(spark, path, qv, k=10).collect()
    ]


def test_incremental_append_equals_rebuild(spark, emb, qv, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("idx") / "incremental")
    full = str(tmp_path_factory.mktemp("idx") / "rebuild")
    cut = 400
    write_srp_index(emb.filter(F.col("vec_id") < cut), base)
    append_to_srp_index(emb.filter(F.col("vec_id") >= cut), base)
    write_srp_index(emb, full)
    assert _results(spark, base, qv) == _results(spark, full, qv)


def test_compaction_preserves_results_and_pushdown(
    spark, emb, qv, tmp_path_factory
):
    path = str(tmp_path_factory.mktemp("idx") / "frag")
    write_srp_index(emb.filter(F.col("vec_id") < 300), path)
    for lo, hi in ((300, 350), (350, 420), (420, 500)):
        append_to_srp_index(
            emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)), path
        )
    before = _results(spark, path, qv)
    n_before = len(glob.glob(f"{path}/*.parquet"))
    compact_index(spark, path, num_files=2)
    n_after = len(glob.glob(f"{path}/*.parquet"))
    assert n_after < n_before and n_after == 2
    assert _results(spark, path, qv) == before
    plan = (
        spark.read.parquet(path)
        .filter(F.col("k0") == 12345)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "k0" in plan


def test_binary_index_append_equals_rebuild(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from strava_vector_search_spark.operators.search import (
        append_to_binary_index,
        binary_topk_indexed,
        write_binary_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 2).head()["embedding"]]
    old = emb.filter(F.col("vec_id") < 400)
    new = emb.filter(F.col("vec_id") >= 400)

    inc = str(tmp_path / "inc")
    write_binary_index(old, inc, dim=64, id_col="vec_id")
    append_to_binary_index(new, inc, dim=64, id_col="vec_id")

    full = str(tmp_path / "full")
    write_binary_index(emb, full, dim=64, id_col="vec_id")

    a = binary_topk_indexed(spark, inc, qv, candidates=60, k=10, id_col="vec_id").collect()
    b = binary_topk_indexed(spark, full, qv, candidates=60, k=10, id_col="vec_id").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_streaming_binary_index_refresh(spark, sf_dir, tmp_path):
    """Live freshness for the binary signature index: a file stream of new
    embedding rows lands via foreachBatch(append_to_binary_index); the
    indexed search sees them without a rebuild — TARGET_LAG applied to
    the binary layout."""
    import time

    from pyspark.sql import functions as F

    from strava_vector_search_spark.operators.search import (
        append_to_binary_index,
        binary_topk_indexed,
        write_binary_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 2).head()["embedding"]]
    old = emb.filter(F.col("vec_id") < 400)
    new = emb.filter(F.col("vec_id") >= 400)

    feed = str(tmp_path / "feed")
    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    old.limit(0).write.parquet(feed)  # schema-establishing empty dir
    write_binary_index(old, idx, dim=64, id_col="vec_id")

    q = (
        spark.readStream.schema(emb.schema)
        .parquet(feed)
        .writeStream.foreachBatch(
            lambda bdf, _bid: append_to_binary_index(
                bdf, idx, dim=64, id_col="vec_id"
            )
        )
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        new.write.mode("append").parquet(feed)
        deadline = time.time() + 60
        while time.time() < deadline:
            n = spark.read.parquet(idx).count()
            if n == emb.count():
                break
            time.sleep(1)
        assert spark.read.parquet(idx).count() == emb.count()
        got = binary_topk_indexed(
            spark, idx, qv, candidates=60, k=10, id_col="vec_id"
        ).collect()
        full = str(tmp_path / "full")
        write_binary_index(emb, full, dim=64, id_col="vec_id")
        want = binary_topk_indexed(
            spark, full, qv, candidates=60, k=10, id_col="vec_id"
        ).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want]
    finally:
        q.stop()


# --------------------------------------------------------------------------
# Incremental IVF maintenance (round 8): append == rebuild against the same
# centroids, drift-triggered re-cluster, live foreachBatch freshness.


def _ivf_rows(spark, path):
    return sorted(
        (r["vec_id"], r["label"])
        for r in spark.read.parquet(path).select("vec_id", "label").collect()
    )


def test_ivf_append_equals_rebuild(spark, emb, qv, tmp_path):
    from strava_vector_search_spark.operators.ann import (
        append_to_ivf_index,
        assign_to_centroids,
        compute_centroids,
        ivf_topk,
        write_ivf_index,
    )

    base = emb.filter(F.col("vec_id") < 400)
    delta = emb.filter(F.col("vec_id") >= 400)
    cents = compute_centroids(base).localCheckpoint(eager=False)

    inc = str(tmp_path / "inc")
    write_ivf_index(base, inc)
    append_to_ivf_index(delta, inc, cents)

    full = str(tmp_path / "full")
    write_ivf_index(
        base.unionByName(assign_to_centroids(delta.drop("label"), cents)),
        full,
    )
    assert _ivf_rows(spark, inc) == _ivf_rows(spark, full)
    got = ivf_topk(
        spark.read.parquet(inc), qv, k=10,
        centroids=collect_centroids(cents),
    )
    want = ivf_topk(
        spark.read.parquet(full), qv, k=10,
        centroids=collect_centroids(cents),
    )
    assert [tuple(r) for r in got.select("vec_id", "similarity").collect()] \
        == [tuple(r) for r in want.select("vec_id", "similarity").collect()]


def test_ivf_maintain_appends_below_threshold(spark, emb, tmp_path):
    from strava_vector_search_spark.operators.ann import (
        compute_centroids,
        maintain_ivf_index,
        write_ivf_index,
    )

    base = emb.filter(F.col("vec_id") < 400)
    delta = emb.filter(F.col("vec_id") >= 400)
    cents = compute_centroids(base).localCheckpoint(eager=False)
    idx = str(tmp_path / "idx")
    write_ivf_index(base, idx)
    status, out_cents = maintain_ivf_index(
        spark, delta, idx, cents, drift_threshold=1.0
    )
    assert status == "appended"
    assert out_cents is cents
    assert spark.read.parquet(idx).count() == emb.count()


def test_ivf_maintain_reclusters_past_threshold(spark, emb, tmp_path):
    import glob

    from strava_vector_search_spark.operators.ann import (
        assign_to_centroids,
        compute_centroids,
        maintain_ivf_index,
        write_ivf_index,
    )

    base = emb.filter(F.col("vec_id") < 400)
    delta = emb.filter(F.col("vec_id") >= 400)
    cents = compute_centroids(base).localCheckpoint(eager=False)
    idx = str(tmp_path / "idx")
    write_ivf_index(base, idx)
    # threshold 0: ANY drift triggers the rebuild path
    status, new_cents = maintain_ivf_index(
        spark, delta, idx, cents, drift_threshold=0.0
    )
    assert status == "reclustered"
    # layout swapped atomically: no leftovers, all rows present
    assert not glob.glob(idx + "__*")
    assert spark.read.parquet(idx).count() == emb.count()
    # every row's label is the nearest NEW centroid (assignment-parity of
    # the rebuilt layout with a fresh assignment of the same rows)
    want = sorted(
        (r["vec_id"], r["label"])
        for r in assign_to_centroids(
            spark.read.parquet(idx).drop("label"), new_cents
        )
        .select("vec_id", "label")
        .collect()
    )
    assert _ivf_rows(spark, idx) == want


def test_streaming_ivf_index_refresh(spark, emb, qv, tmp_path):
    """Live freshness for the IVF layout: a file stream of new embedding
    rows lands via foreachBatch(append_to_ivf_index); the probed search
    sees them without a rebuild — TARGET_LAG applied to the ANN path."""
    import time

    from strava_vector_search_spark.operators.ann import (
        append_to_ivf_index,
        compute_centroids,
        ivf_topk,
        write_ivf_index,
    )

    old = emb.filter(F.col("vec_id") < 400)
    new = emb.filter(F.col("vec_id") >= 400)
    cents = compute_centroids(old).localCheckpoint(eager=False)

    feed = str(tmp_path / "feed")
    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    old.limit(0).write.parquet(feed)  # schema-establishing empty dir
    write_ivf_index(old, idx)

    q = (
        spark.readStream.schema(emb.schema)
        .parquet(feed)
        .writeStream.foreachBatch(
            lambda bdf, _bid: append_to_ivf_index(bdf, idx, cents)
        )
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        new.write.mode("append").parquet(feed)
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.read.parquet(idx).count() == emb.count():
                break
            time.sleep(1)
        assert spark.read.parquet(idx).count() == emb.count()
        got = ivf_topk(
            spark.read.parquet(idx), qv, k=10,
            centroids=collect_centroids(cents),
        )
        assert [tuple(r) for r in got.select("vec_id", "similarity").collect()] \
            == _ivf_rebuild_topk(spark, emb, qv, cents, tmp_path)
    finally:
        q.stop()


def _ivf_rebuild_topk(spark, emb, qv, cents, tmp_path, name="full"):
    """Shared oracle for the two streaming tests: a from-scratch layout of
    old rows + freshly assigned new rows, searched with the same probes."""
    from strava_vector_search_spark.operators.ann import (
        assign_to_centroids,
        ivf_topk,
        write_ivf_index,
    )

    old = emb.filter(F.col("vec_id") < 400)
    new = emb.filter(F.col("vec_id") >= 400)
    full = str(tmp_path / name)
    write_ivf_index(
        old.unionByName(assign_to_centroids(new.drop("label"), cents)), full
    )
    want = ivf_topk(
        spark.read.parquet(full), qv, k=10,
        centroids=collect_centroids(cents),
    )
    return [tuple(r) for r in want.select("vec_id", "similarity").collect()]


def test_ivf_stream_module_refresh_drift_and_replay(spark, emb, qv, tmp_path):
    """The streaming/ivf_stream.py module end-to-end on its batch-keyed
    layout: start_ivf_stream appends live batches; the index converges to
    the full corpus, drift is readable mid-stream, search equals a
    from-scratch assignment, and a deliberately REPLAYED batch rewrites
    its own _sb partitions instead of duplicating rows (idempotence)."""
    import time

    from strava_vector_search_spark.operators.ann import (
        compute_centroids,
        ivf_topk,
    )
    from strava_vector_search_spark.streaming.ivf_stream import (
        drift_report,
        init_stream_index,
        process_ivf_batch,
        start_ivf_stream,
    )

    old = emb.filter(F.col("vec_id") < 400)
    new = emb.filter(F.col("vec_id") >= 400)
    cents = compute_centroids(old).localCheckpoint(eager=False)

    feed = str(tmp_path / "feed")
    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    old.limit(0).write.parquet(feed)
    init_stream_index(old, idx)

    q = start_ivf_stream(
        spark, feed, idx, ckpt, emb.schema, cents, trigger_seconds=1
    )
    try:
        new.write.mode("append").parquet(feed)
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.read.parquet(idx).count() == emb.count():
                break
            time.sleep(1)
        assert spark.read.parquet(idx).count() == emb.count()
        dr = drift_report(spark, idx, cents)
        assert dr.count() > 0
        assert dr.filter(F.col("drift") < 0).count() == 0
        got = ivf_topk(
            spark.read.parquet(idx), qv, k=10,
            centroids=collect_centroids(cents),
        )
        assert [tuple(r) for r in got.select("vec_id", "similarity").collect()] \
            == _ivf_rebuild_topk(spark, emb, qv, cents, tmp_path)
    finally:
        q.stop()
    # at-least-once replay: re-running the LAST batch by hand must rewrite
    # its own _sb partitions with identical rows, not append duplicates
    n_before = spark.read.parquet(idx).count()
    last_sb = (
        spark.read.parquet(idx).agg(F.max("_sb")).collect()[0][0]
    )
    # localCheckpoint cuts the file-source lineage so the dynamic
    # overwrite isn't rejected as writing a path it also reads
    replay = (
        spark.read.parquet(idx)
        .filter(F.col("_sb") == last_sb)
        .select(*emb.columns)
        .localCheckpoint()
    )
    process_ivf_batch(replay, int(last_sb), idx, cents)
    assert spark.read.parquet(idx).count() == n_before


def test_ivf_full_maintenance_cycle_with_stream(spark, emb, qv, tmp_path):
    """The documented stop -> maintain -> re-init -> restart contract as a
    pinned integration flow: stream batches in against C0, stop, run the
    drift-triggered re-cluster (maintain_ivf_index), re-init the stream
    layout from the rewritten table, restart against the NEW centroids,
    stream more rows — the final index is complete, every row's label is
    the nearest NEW centroid, and the persisted centroid table round-trips."""
    import time

    from strava_vector_search_spark.operators.ann import (
        assign_to_centroids,
        compute_centroids,
        read_ivf_centroids,
        write_ivf_centroids,
    )
    from strava_vector_search_spark.streaming.ivf_stream import (
        init_stream_index,
        maintain_stream_index,
        start_ivf_stream,
    )

    base = emb.filter(F.col("vec_id") < 300)
    wave1 = emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400))
    wave2 = emb.filter(F.col("vec_id") >= 400)
    c0 = compute_centroids(base).localCheckpoint(eager=False)

    feed = str(tmp_path / "feed")
    idx = str(tmp_path / "idx")
    q = None

    def _stream(ckpt_name, cents):
        return start_ivf_stream(
            spark, feed, idx, str(tmp_path / ckpt_name), emb.schema, cents,
            trigger_seconds=1,
        )

    def _await(n):
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.read.parquet(idx).count() == n:
                return
            time.sleep(1)
        assert spark.read.parquet(idx).count() == n

    base.limit(0).write.parquet(feed)
    init_stream_index(base, idx)
    write_ivf_centroids(c0, idx)
    q = _stream("ckpt1", c0)
    try:
        wave1.write.mode("append").parquet(feed)
        _await(400)
    finally:
        q.stop()  # STOP before the maintenance window

    # maintenance window (stream stopped): any drift triggers the
    # layout-aware re-cluster + re-init, returning the new centroids
    status, c1 = maintain_stream_index(
        spark, idx, read_ivf_centroids(spark, idx), drift_threshold=0.0
    )
    assert status == "reclustered"
    c1 = c1.localCheckpoint(eager=False)
    write_ivf_centroids(c1, idx)

    q = _stream("ckpt2", c1)  # RESTART with the new centroids
    try:
        wave2.write.mode("append").parquet(feed)
        _await(emb.count())
    finally:
        q.stop()

    # every row's label must be the nearest C1 centroid
    final = spark.read.parquet(idx)
    want = sorted(
        (r["vec_id"], r["label"])
        for r in assign_to_centroids(final.drop("label"), c1)
        .select("vec_id", "label")
        .collect()
    )
    got = sorted(
        (r["vec_id"], r["label"])
        for r in final.select("vec_id", "label").collect()
    )
    assert got == want
    # persisted centroid table round-trips bit-identically
    rt = {
        r["cluster"]: list(r["centroid"])
        for r in read_ivf_centroids(spark, idx).collect()
    }
    for r in c1.collect():
        assert rt[r["cluster"]] == list(r["centroid"])


def test_ivf_layout_guard_rejects_cross_maintenance(spark, emb, tmp_path):
    """The r8 footgun, now an error instead of silent mis-pruning: each
    maintainer pointed at the OTHER layout must raise immediately, and
    the marker survives both creation paths + the re-cluster rename swap."""
    from strava_vector_search_spark.operators.ann import (
        append_to_ivf_index,
        compute_centroids,
        maintain_ivf_index,
        read_ivf_layout,
        write_ivf_index,
    )
    from strava_vector_search_spark.streaming.ivf_stream import (
        init_stream_index,
        maintain_stream_index,
        process_ivf_batch,
    )

    base = emb.filter(F.col("vec_id") < 300)
    delta = emb.filter(F.col("vec_id") >= 300).localCheckpoint(eager=False)
    cents = compute_centroids(base).localCheckpoint(eager=False)

    plain = str(tmp_path / "plain")
    write_ivf_index(base, plain)
    assert read_ivf_layout(plain) == "plain"

    stream = str(tmp_path / "stream")
    init_stream_index(base, stream)
    assert read_ivf_layout(stream) == "stream"

    # plain-layout maintainers pointed at the stream layout: LOUD failure
    with pytest.raises(ValueError, match="'stream' layout"):
        append_to_ivf_index(delta, stream, cents)
    with pytest.raises(ValueError, match="'stream' layout"):
        maintain_ivf_index(spark, delta, stream, cents)
    # stream-layout maintainers pointed at the plain layout: LOUD failure
    with pytest.raises(ValueError, match="'plain' layout"):
        process_ivf_batch(delta, 0, plain, cents)
    with pytest.raises(ValueError, match="'plain' layout"):
        maintain_stream_index(spark, plain, cents)
    # neither failed write corrupted the layouts
    assert spark.read.parquet(plain).count() == base.count()
    assert spark.read.parquet(stream).count() == base.count()

    # the marker survives the plain re-cluster's atomic rename swap
    status, _ = maintain_ivf_index(
        spark, delta, plain, cents, drift_threshold=0.0
    )
    assert status == "reclustered"
    assert read_ivf_layout(plain) == "plain"


def test_ivf_layout_inferred_for_premarker_indexes(spark, emb, tmp_path):
    """Indexes written before the marker existed still guard correctly:
    layout is inferred from the first-level partition dirs."""
    import os

    from strava_vector_search_spark.operators.ann import (
        read_ivf_layout,
        write_ivf_index,
    )
    from strava_vector_search_spark.streaming.ivf_stream import (
        init_stream_index,
    )

    plain = str(tmp_path / "plain")
    write_ivf_index(emb.filter(F.col("vec_id") < 100), plain)
    os.remove(os.path.join(plain, "_ivf_layout"))
    assert read_ivf_layout(plain) == "plain"

    stream = str(tmp_path / "stream")
    init_stream_index(emb.filter(F.col("vec_id") < 100), stream)
    os.remove(os.path.join(stream, "_ivf_layout"))
    assert read_ivf_layout(stream) == "stream"

    assert read_ivf_layout(str(tmp_path / "nonexistent")) is None


def test_assign_packed_lane_matches_literal_lane(spark, emb, monkeypatch):
    """Past the literal-expression ceiling the centroid table travels as
    one broadcast DATA row; assignments must be identical to the literal
    lane (same 6-dp cosine, same (−sim, cluster) tie-break)."""
    import strava_vector_search_spark.operators.ann as A

    base = emb.filter(F.col("vec_id") < 500)
    cents = A.compute_centroids(base).localCheckpoint(eager=False)
    want = sorted(
        (r["vec_id"], r["label"])
        for r in A.assign_to_centroids(base.drop("label"), cents)
        .select("vec_id", "label")
        .collect()
    )
    # force the packed lane regardless of k x dim
    monkeypatch.setattr(A, "_ASSIGN_LITERAL_MAX_ELEMS", 0)
    got_df = A.assign_to_centroids(base.drop("label"), cents)
    got = sorted(
        (r["vec_id"], r["label"])
        for r in got_df.select("vec_id", "label").collect()
    )
    assert got == want
    # the embedding side is not shuffled: broadcast attach only
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ivf_drift_reports_emptied_clusters(spark, emb, tmp_path):
    """A stored centroid whose cluster has no current members must still
    appear in the drift readout (n_members = 0, drift = 1.0) so the
    maintenance trigger can see it — the r8 inner join dropped it."""
    from strava_vector_search_spark.operators.ann import (
        compute_centroids,
        ivf_centroid_drift,
        write_ivf_index,
    )

    base = emb.filter(F.col("vec_id") < 300)
    cents = compute_centroids(base).localCheckpoint(eager=False)
    labels = [r["cluster"] for r in cents.select("cluster").collect()]
    gone = max(labels)
    idx = str(tmp_path / "idx")
    write_ivf_index(base.filter(F.col("label") != gone), idx)
    dr = {
        r["cluster"]: (r["n_members"], r["drift"])
        for r in ivf_centroid_drift(spark, idx, cents).collect()
    }
    assert set(dr) == set(labels)
    assert dr[gone] == (0, 1.0)
    for c in labels:
        if c != gone:
            assert dr[c][0] > 0 and dr[c][1] == 0.0


def test_service_ivf_compaction_after_appends(spark, tmp_path):
    """VERDICT r11 item 5: N streaming-style appends fragment the
    service's materialized IVF layout into one file per (batch,
    cluster); compact_ivf_index must restore one file per cluster
    WITHOUT changing search_batch results, losing the _centroids table
    build_ivf stores inside the index dir, or dropping the layout
    marker (the sibling-dir seam the SRP compactor would destroy:
    compact_index rewrites unpartitioned and deletes underscore
    artifacts with the old tree)."""
    import os

    from strava_vector_search_spark.functions.embed import (
        hash_embedding_table,
    )
    from strava_vector_search_spark.operators.ann import (
        append_to_ivf_index,
        compact_ivf_index,
        read_ivf_layout,
    )
    from strava_vector_search_spark.service import SearchService

    def mk_docs(lo, hi):
        return spark.createDataFrame(
            [
                (
                    i,
                    f"word{i % 23} tok{i % 7} item{i % 11}",
                    "run" if i % 2 else "ride",
                )
                for i in range(lo, hi)
            ],
            "doc_id int, text string, sport_type string",
        )

    base = mk_docs(0, 240)
    svc = SearchService(
        spark,
        base,
        id_col="doc_id",
        search_col="text",
        attributes=("sport_type",),
        dim=32,
        assume_normalized=False,
    ).build()
    path = str(tmp_path / "svcidx")
    svc.build_ivf(path, n_clusters=6, seed=7)
    cents = spark.read.parquet(os.path.join(path, "_centroids"))
    for lo, hi in ((240, 280), (280, 330), (330, 400)):
        delta = mk_docs(lo, hi)
        emb_delta = hash_embedding_table(
            delta, "doc_id", "text", 32
        ).join(delta.select("doc_id", "sport_type"), "doc_id")
        append_to_ivf_index(
            emb_delta,
            path,
            cents,
            cluster_col="cluster",
            vector_col="embedding",
            id_col="doc_id",
        )

    def data_files():
        return [
            os.path.join(root, f)
            for root, _dirs, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
            and "_centroids" not in root
        ]

    reqs = [
        {"query": "word3 tok2", "limit": 5},
        {
            "query": "item4",
            "filter": {"@eq": {"sport_type": "run"}},
            "limit": 4,
        },
    ]

    def rows():
        return sorted(
            (r["request_id"], r["doc_id"], r["similarity"], r["rank"])
            for r in svc.search_batch(reqs, nprobe=6).collect()
        )

    files_before = len(data_files())
    assert files_before > 6, "appends should fragment the layout"
    before = rows()
    assert before, "queries should hit the appended layout"
    compact_ivf_index(spark, path, cluster_col="cluster", id_col="doc_id")
    assert rows() == before
    files_after = len(data_files())
    assert files_after <= 6, data_files()
    assert files_after < files_before
    # artifacts survived the swap
    after_cents = spark.read.parquet(os.path.join(path, "_centroids"))
    assert sorted(
        (r["cluster"],) for r in after_cents.select("cluster").collect()
    ) == sorted((r["cluster"],) for r in cents.select("cluster").collect())
    assert read_ivf_layout(path) == "plain"
