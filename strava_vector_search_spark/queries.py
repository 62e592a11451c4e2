"""The engine's query registry: every operator from SURVEY §2 as a named
(spark, sf_dir) -> DataFrame callable, each with a DuckDB oracle twin in
:mod:`strava_vector_search_spark.oracles`.

Determinism contract with the oracle (SURVEY §7 risk register):
* all float arithmetic in float64 (cast arrays/doubles explicitly),
* similarities rounded to 6 dp, derived metrics to fixed scales,
* sums over float columns routed through DECIMAL(18,6) so partial-aggregation
  order (Spark) vs single-node order (DuckDB) cannot change the result,
* every top-k tie-broken by id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from strava_vector_search_spark.io.tables import (
    corpus_with_vectors,
    load_events,
    load_table,
)
from strava_vector_search_spark.functions.vector import (
    lit_double_array,
    lit_long_array,
)
from strava_vector_search_spark.operators import search as S

# ---------------------------------------------------------------------------
# helpers


def _dsum(col, scale: int = 2):
    """Order-insensitive float sum: exact decimal accumulation, then double."""
    return F.round(F.sum(F.col(col).cast("decimal(18,6)")).cast("double"), scale)


def _src_fingerprint(sf_dir: str, table: str | None = None) -> str:
    """Cheap fingerprint of a source parquet (mtime+size of every file), or
    of every parquet file under ``sf_dir`` when ``table`` is None: derived
    layouts under /tmp and the session kernels embed it, so a REGENERATED
    testdata directory (same path, new contents) invalidates them instead
    of silently serving stale data."""
    import hashlib
    import os

    root = sf_dir if table is None else os.path.join(sf_dir, f"{table}.parquet")
    parts = []
    if os.path.isfile(root):
        st = os.stat(root)
        parts.append(f"{st.st_mtime_ns}:{st.st_size}")
    else:
        for dirp, _, names in sorted(os.walk(root)):
            for n in sorted(names):
                if n.endswith(".parquet"):
                    st = os.stat(os.path.join(dirp, n))
                    parts.append(f"{n}:{st.st_mtime_ns}:{st.st_size}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:16]


# (kernel, applicationId, sf_dir, *args) -> (sf_dir fingerprint, value)
_SESSION_KERNELS: dict[tuple, tuple[str, object]] = {}


def _session_kernel(build=None, *, widen: bool = False):
    """Decorator: build a shared kernel once per (SparkSession, sf_dir,
    remaining args) and hand every later caller the IDENTICAL object —
    consumers that memoize on plan identity (PQ codebook training) depend
    on that. The one validity rule: an entry serves only its own
    applicationId, and only while :func:`_src_fingerprint` of the sf_dir
    is unchanged. Entries of other applicationIds are evicted on every
    call (a checkpointed DataFrame is only valid inside its session, and
    stale entries would pin dead lineage for the process lifetime); a
    regenerated sf_dir rebuilds.

    A DataFrame result is stored as ``localCheckpoint(eager=False)``;
    tuple, list and dict results are stored as returned (their bodies
    checkpoint their own DataFrames). ``widen=True`` repartitions a
    DataFrame to cluster width before checkpointing: a single-file
    parquet scan arrives as ONE partition and a checkpoint FREEZES that
    width, so every consumer's first map stage would run on one core —
    the md5_embedding_table densification lesson. On a real multi-file
    scan the source already arrives at cluster width and the repartition
    is a near-no-op."""
    import functools
    import inspect

    def decorate(fn):
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def kernel(spark: SparkSession, sf_dir: str, *args, **kwargs):
            bound = sig.bind(spark, sf_dir, *args, **kwargs)
            bound.apply_defaults()
            app_id = spark.sparkContext.applicationId
            for old in [k for k in _SESSION_KERNELS if k[1] != app_id]:
                del _SESSION_KERNELS[old]
            key = (
                fn.__name__,
                app_id,
                sf_dir.rstrip("/"),
                *list(bound.arguments.values())[2:],
            )
            fingerprint = _src_fingerprint(sf_dir)
            hit = _SESSION_KERNELS.get(key)
            if hit is not None and hit[0] == fingerprint:
                return hit[1]
            value = fn(*bound.args, **bound.kwargs)
            if isinstance(value, DataFrame):
                if widen:
                    value = value.repartition(
                        spark.sparkContext.defaultParallelism
                    )
                value = value.localCheckpoint(eager=False)
            _SESSION_KERNELS[key] = (fingerprint, value)
            return value

        return kernel

    return decorate if build is None else decorate(build)


@_session_kernel
def _query_vec(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    """Fetch one stored embedding to serve as the query vector (the testdata
    analogue of embedding the query text driver-side, reference 02:206-208).
    A session kernel per vec_id, so repeated queries skip the lookup job."""
    emb = load_table(spark, sf_dir, "embeddings")
    row = emb.filter(F.col("vec_id") == vec_id).select("embedding").head()
    return [float(x) for x in row["embedding"]]


def _cached_layout(sf_dir: str, table: str, kind: str, build_fn) -> str:
    """Materialize a derived layout (zone-mapped files, posting index,
    z-ordered files) under /tmp, keyed by BOTH the sf token and the
    source fingerprint: the fingerprint is in the PATH, so a regenerated
    source simply maps to a fresh directory (no stale-marker protocol),
    and concurrent builders (bench + check_correctness on the same sf)
    each write a private tmp dir with one atomic os.rename winner --
    readers only ever see a complete directory. Older-generation dirs
    for the same (kind, token) are swept best-effort."""
    import os
    import shutil

    token = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    prefix = f"/tmp/svs_{kind}_{token}_"
    path = prefix + _src_fingerprint(sf_dir, table)
    if os.path.isdir(path):
        # touch on every HIT so the age gate below measures last USE,
        # not last write — a reader mid-scan on a >30-min-old generation
        # must not see it reclaimed under it (ADVICE r06)
        try:
            os.utime(path, None)
        except OSError:
            pass
        return path
    import re as _re

    tmp = f"{path}.tmp{os.getpid()}"
    try:
        build_fn(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            # a concurrent builder won the rename; its output is identical
            shutil.rmtree(tmp, ignore_errors=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)  # reclaim on failure too
    # sweep ONLY finished sibling generations of this exact (kind, token):
    # name must be prefix + a bare 16-hex fingerprint, so a token that
    # happens to extend ours (or any in-flight .tmp dir) is never touched.
    # AGE-GATED (ADVICE r05): a concurrent process (bench overlapping
    # check_correctness) that resolved the older fingerprint may be
    # mid-scan on that directory — only generations quiet for >30 min are
    # reclaimed, long past any single job's scan window.
    import time as _time

    gen = _re.compile(_re.escape(prefix) + r"[0-9a-f]{16}$")
    cutoff = _time.time() - 1800
    for name in os.listdir("/tmp"):
        full = os.path.join("/tmp", name)
        try:
            old = os.path.getmtime(full) < cutoff
        except OSError:
            continue
        if gen.fullmatch(full) and full != path and old and os.path.isdir(full):
            shutil.rmtree(full, ignore_errors=True)
    return path


def _davg(col, scale: int = 4):
    # exact decimal sum → double BEFORE the division, so both engines do the
    # same IEEE double divide (decimal-division scale rules differ)
    return F.round(
        F.sum(F.col(col).cast("decimal(18,6)")).cast("double")
        / F.count(F.col(col)),
        scale,
    )


# ---------------------------------------------------------------------------
# Vector search — reference method 2 (02:206-227 and variants)


def vs_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE flagship query: metadata filters → cosine → top-k (02:206-227).

    Filters (lang equality, n_chars closed range, embedding not null) mirror
    P3/P4/P5/P7; projection with derived rounded column mirrors P1/P2/F2.
    """
    corpus = corpus_with_vectors(spark, sf_dir)
    qv = _query_vec(spark, sf_dir, 0)
    pred = (
        F.col("lang").isin("en", "de")
        & F.col("n_chars").between(100, 450)
        & (F.col("doc_id") != 0)
    )
    top = S.brute_force_topk(corpus, qv, k=10, predicate=pred, assume_normalized=True)
    return top.select(
        "doc_id",
        "lang",
        "source",
        F.round(F.col("n_chars") / 1000.0, 3).alias("kchars"),
        F.left(F.col("text"), F.lit(80)).alias("text_preview"),
        "similarity",
    )


def vs_topk_threshold_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k + threshold filter over computed similarity (P8, 02:315) +
    cache-decision CASE labels (F10, 02:309-313)."""
    corpus = corpus_with_vectors(spark, sf_dir)
    qv = _query_vec(spark, sf_dir, 1)
    scored = S.brute_force_topk(
        corpus, qv, k=25, predicate=F.col("doc_id") != 1, assume_normalized=True
    ).filter(F.col("similarity") > 0.0)
    return S.with_cache_decision(scored).select(
        "doc_id", "lang", "similarity", "cache_decision"
    )


def vs_similarity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity histogram via CASE bucketing + GROUP BY (A5, 02:373-389)."""
    corpus = corpus_with_vectors(spark, sf_dir)
    qv = _query_vec(spark, sf_dir, 2)
    return S.similarity_histogram(corpus, qv, assume_normalized=True)


def vs_topk_join_back(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k inside a CTE, then equi-join back on id to fetch the heavy text
    payload (T2+J2, 02:324-348)."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = corpus_with_vectors(spark, sf_dir).select("doc_id", "embedding")
    qv = _query_vec(spark, sf_dir, 3)
    top = S.brute_force_topk(
        corpus, qv, k=3, predicate=F.col("doc_id") != 3, assume_normalized=True
    )
    joined = S.topk_join_back(docs, top, payload_cols=["text", "lang", "n_chars"])
    return joined.select(
        "doc_id", "lang", "n_chars", F.left(F.col("text"), F.lit(120)).alias("text_preview"), "similarity"
    )


def vs_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch multi-query search: 5 query vectors × corpus in ONE job,
    per-query top-3 via ranking window (02:421; SURVEY §2.5 W-note)."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = corpus_with_vectors(spark, sf_dir).select("doc_id", "lang", "embedding")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    out = S.batch_topk(corpus, queries, k=3, assume_normalized=True)
    return out.select("query_id", "doc_id", "lang", "similarity", "rank")


# ---------------------------------------------------------------------------
# Aggregations (A1-A5) on documents / lineitem


def a1_distribution_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key GROUP BY + COUNT/AVG/ROUND distribution report
    (A1+T3, 01:145-153) over the corpus metadata."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 0).alias("avg_chars"),
        )
        .orderBy("lang", "source")
    )


def a2_global_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global COUNT(*) (A2, 01:155)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.agg(F.count(F.lit(1)).alias("n_rows"))


def a3_count_col_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(col) null-skipping vs COUNT(*) (A3, 02:354-359): nulls
    manufactured via NULLIF (P9) on an event attribute."""
    ev = load_events(spark, sf_dir)
    nul = F.nullif(F.col("event_type"), F.lit("click"))
    return ev.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(nul).alias("n_nonclick"),
        F.round(100.0 * F.count(nul) / F.count(F.lit(1)), 1).alias("pct_nonclick"),
    )


def a4_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUM(CASE WHEN)-style conditional aggregate + ratio of aggregates
    (A4, 02:186-190) on lineitem returnflag."""
    li = load_table(spark, sf_dir, "lineitem")
    is_r = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(is_r).alias("n_returned"),
        F.round(100.0 * F.sum(is_r) / F.count(F.lit(1)), 1).alias("pct_returned"),
    )


def a5_histogram_case_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE bucketing of a numeric column + GROUP BY on the alias
    (A5, 02:373-389) — doc length histogram."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.col("n_chars")
    bucket = (
        F.when(n >= 450, "450+")
        .when(n >= 300, "300-449")
        .when(n >= 150, "150-299")
        .otherwise("< 150")
    )
    return (
        docs.select(bucket.alias("length_range"))
        .groupBy("length_range")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("length_range"))
    )


# ---------------------------------------------------------------------------
# Projections / predicates / scalars (P1-P10, F1-F10, T3/T4)


def p_predicates_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One query exercising P1-P7, P9, P10, F1-F3, F8-F9, T3: equality,
    IN-list, closed range, NULLIF, TRY_CAST, LEFT previews, ROUND derived
    columns, multi-key sort."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(
            (F.col("lang") == "en")
            | (
                F.col("source").isin("src1", "src2", "src3")
                & F.col("n_chars").between(150, 400)
            )
        )
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            "lang",
            "source",
            F.left(F.col("text"), F.lit(50)).alias("preview"),
            F.round(F.col("n_chars") / 100.0, 2).alias("hecto_chars"),
            F.nullif(F.col("lang"), F.lit("en")).alias("lang_non_en"),
            F.substring(F.col("source"), 4, 5).try_cast("int").alias("source_num"),
            F.col("n_chars").cast("long").alias("n_chars_long"),
        )
        .orderBy("lang", "source", "doc_id")
    )


def j3_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL FLATTEN equivalent (J3/F7): explode text into tokens, then
    re-aggregate token frequencies — exercising array→rows like the
    reference's JSON-results flatten (01:207-219)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda t: t != "")
        ).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


def f_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction + defensive cast (F5/F6/F8/P10) over the events
    ``props`` JSON column — the VARIANT-handling analogue (01:201-206)."""
    ev = load_events(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").try_cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .filter(F.col("k").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


def f_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 native VARIANT path — the direct mapping of the reference's
    ``VARIANT`` column (``01_method1_cortex_search.sql:91``) and its path
    extraction (``01:125,201-206``), closing SURVEY §1.2's "VariantType
    (Spark 4.x)" branch (the portable StringType+from_json branch is
    ``f_json_extract``). A nested raw-JSON string is assembled per event,
    loaded with ``parse_json`` into a real VariantType column, and fields
    come back out with typed ``variant_get`` / ``try_variant_get`` over
    object AND array paths ($.meta.et, $.meta.k, $.tags[1]). The binary
    variant encoding never leaves the JVM (whole-stage codegen expressions
    throughout); the oracle replays the same construction with DuckDB
    ``json_extract_string``."""
    ev = load_events(spark, sf_dir)
    raw = F.concat(
        F.lit('{"meta":{"et":"'),
        F.col("event_type"),
        F.lit('","k":'),
        F.coalesce(F.get_json_object("props", "$.k"), F.lit("null")),
        F.lit('},"tags":["lo","hi"]}'),
    )
    v = F.parse_json(raw)
    picked = ev.select(
        F.variant_get(v, "$.meta.et", "string").alias("et"),
        F.try_variant_get(v, "$.meta.k", "int").alias("k"),
        F.variant_get(
            v, F.when(F.col("value") >= 0.5, "$.tags[1]").otherwise("$.tags[0]"),
            "string",
        ).alias("tag"),
    )
    return (
        picked.groupBy("et")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum((F.col("tag") == "hi").cast("int")).cast("bigint").alias("n_hi"),
        )
        .orderBy("et")
    )


# ---------------------------------------------------------------------------
# Relational spine on TPC-H tables (scale-bearing joins/aggs for bench)


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: the canonical scan+hash-agg with
    partial aggregation; float sums via exact decimal (oracle parity)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = (
        F.col("l_extendedprice").cast("decimal(18,6)")
        * (F.lit(1).cast("decimal(18,6)") - F.col("l_discount").cast("decimal(18,6)"))
    )
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum("l_quantity").alias("sum_qty"),
            _dsum("l_extendedprice").alias("sum_base_price"),
            F.round(F.sum(disc_price).cast("double"), 2).alias("sum_disc_price"),
            _davg("l_quantity").alias("avg_qty"),
            _davg("l_extendedprice").alias("avg_price"),
            _davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped 3-way join + agg + top-k: customer ⋈ orders ⋈
    lineitem with filter pushdown on both join sides, group on orderkey,
    TakeOrderedAndProject top-10."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = (
        F.col("l_extendedprice").cast("decimal(18,6)")
        * (F.lit(1).cast("decimal(18,6)") - F.col("l_discount").cast("decimal(18,6)"))
    )
    return (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(
            (F.col("o_orderdate") < F.lit("1995-03-15"))
            & (F.col("l_shipdate") > F.lit("1995-03-15"))
        )
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.round(F.sum(revenue).cast("double"), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def q5_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped star join: small dims (region, nation) broadcast
    against the fact chain — the broadcast-join pattern that matters at
    100 TB (dims stay tiny, fact never shuffles for them)."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    revenue = (
        F.col("l_extendedprice").cast("decimal(18,6)")
        * (F.lit(1).cast("decimal(18,6)") - F.col("l_discount").cast("decimal(18,6)"))
    )
    dims = F.broadcast(
        nation.join(region.filter(F.col("r_name") == "ASIA"),
                    F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(sup, (F.col("l_suppkey") == F.col("s_suppkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(dims, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.round(F.sum(revenue).cast("double"), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


# ---------------------------------------------------------------------------
# registry

QUERIES = {
    "vs_topk_filtered": vs_topk_filtered,
    "vs_topk_threshold_decision": vs_topk_threshold_decision,
    "vs_similarity_histogram": vs_similarity_histogram,
    "vs_topk_join_back": vs_topk_join_back,
    "vs_batch_topk": vs_batch_topk,
    "a1_distribution_report": a1_distribution_report,
    "a2_global_count": a2_global_count,
    "a3_count_col_nulls": a3_count_col_nulls,
    "a4_conditional_agg": a4_conditional_agg,
    "a5_histogram_case_bucketing": a5_histogram_case_bucketing,
    "p_predicates_projection": p_predicates_projection,
    "j3_explode_tokens": j3_explode_tokens,
    "f_json_extract": f_json_extract,
    "f_variant_extract": f_variant_extract,
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_broadcast_dims": q5_broadcast_dims,
}


# ---------------------------------------------------------------------------
# Deduplication suite (SURVEY §7 phase 5; BASELINE.json north star)


def dd_exact_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by key (hash-groupBy keep-min-id) over (lang, n_chars)."""
    from strava_vector_search_spark.operators.dedup import exact_dedup

    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs, ["lang", "n_chars"], "doc_id").select(
        "doc_id", "lang", "n_chars"
    )


def dd_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-group report: key -> copies + surviving id."""
    from strava_vector_search_spark.operators.dedup import exact_dup_groups

    docs = load_table(spark, sf_dir, "documents")
    return exact_dup_groups(docs, ["lang", "n_chars"], "doc_id")


def dd_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard near-dup pairs >= 0.5 via inverted-index
    self-join."""
    from strava_vector_search_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)


def dd_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-permutation MinHash signatures over 3-gram shingles (md5-based,
    bit-reproducible across engines).

    The gate output serializes the signature array to a CSV string so the
    driver's canonicalizer (pandas sort_values) can hash it — lists are
    unhashable there. Values are int64, so the serialization is exact.
    """
    from strava_vector_search_spark.operators.dedup import minhash_signatures

    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, "doc_id", "text", num_hashes=16)
    return sigs.select(
        "doc_id",
        F.array_join(F.col("sig").cast("array<string>"), ",").alias("sig_csv"),
    )


def dd_minhash_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH (4 bands x 4 rows) candidates -> exact-Jaccard-verified
    near-dup pairs >= 0.5 — the near-linear scale path."""
    from strava_vector_search_spark.operators.dedup import minhash_dedup_verified

    docs = load_table(spark, sf_dir, "documents")
    return minhash_dedup_verified(docs, "doc_id", "text", threshold=0.5)


def dd_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """48-bit token-frequency SimHash fingerprint per document."""
    from strava_vector_search_spark.operators.dedup import simhash

    docs = load_table(spark, sf_dir, "documents")
    return simhash(docs, "doc_id", "text", bits=48)


def dd_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (>= 0.4) via exact self-join —
    the brute-force regime; LSH/IVF variants cover 1M+ (operators/ann.py)."""
    from strava_vector_search_spark.operators.dedup import embedding_near_dup_blocked

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_blocked(emb, threshold=0.4)


# ---------------------------------------------------------------------------
# Text analysis


def tx_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus quality report: token counts, punctuation ratio,
    heuristic quality score."""
    from strava_vector_search_spark.functions import text as T

    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        T.token_count(F.col("text")).alias("n_tok"),
        T.punct_ratio(F.col("text")).alias("pr"),
        T.quality_score(F.col("text")).alias("qs"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum(F.col("n_tok").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_tokens"),
            F.round(
                F.sum(F.col("pr").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_punct_ratio"),
            F.round(
                F.sum(F.col("qs").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_quality"),
        )
        .orderBy("lang")
    )


def tx_fingerprint_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fingerprint + token counts (whitespace and BPE-ish)."""
    from strava_vector_search_spark.functions import text as T

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("doc_id") < 30)
        .select(
            "doc_id",
            T.token_count(F.col("text")).cast("bigint").alias("n_tokens"),
            T.fingerprint(F.col("text")).alias("fingerprint"),
        )
        .orderBy("doc_id")
    )


def tx_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic vs labeled lang: confusion-matrix counts."""
    from strava_vector_search_spark.functions import text as T

    docs = load_table(spark, sf_dir, "documents")
    guessed = T.lang_id_table(docs, ["doc_id", "lang"], "text", mode="token")
    return (
        guessed.groupBy("lang", "guessed")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "guessed")
    )


# ---------------------------------------------------------------------------
# Search service (method-1 parity: JSON request + filter DSL)


def svc_search_nested_dsl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Service search with nested @and/@or filter DSL + limit — notebook
    Q2/Q3 shape (nb:219-224, nb:285-299)."""
    from strava_vector_search_spark.service import SearchService

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    svc = SearchService(
        spark,
        docs,
        id_col="doc_id",
        search_col="text",
        attributes=("lang", "source", "n_chars"),
    ).attach_embeddings(emb)
    qv = _query_vec(spark, sf_dir, 7)
    request = {
        "query_vec": qv,
        "columns": ["lang", "source", "n_chars"],
        "filter": {
            "@and": [
                {"@eq": {"lang": "es"}},
                {
                    "@or": [
                        {"@gte": {"n_chars": 300}},
                        {"@eq": {"source": "src5"}},
                    ]
                },
            ]
        },
        "limit": 5,
    }
    return svc.search(request)


QUERIES.update(
    {
        "dd_exact_dedup_keep_first": dd_exact_dedup_keep_first,
        "dd_exact_dup_groups": dd_exact_dup_groups,
        "dd_ngram_jaccard_pairs": dd_ngram_jaccard_pairs,
        "dd_minhash_signatures": dd_minhash_signatures,
        "dd_minhash_lsh_verified": dd_minhash_lsh_verified,
        "dd_simhash": dd_simhash,
        "dd_embedding_near_dup": dd_embedding_near_dup,
        "tx_quality_stats": tx_quality_stats,
        "tx_fingerprint_tokens": tx_fingerprint_tokens,
        "tx_lang_id_confusion": tx_lang_id_confusion,
        "svc_search_nested_dsl": svc_search_nested_dsl,
    }
)


# ---------------------------------------------------------------------------
# ANN (IVF) — the 1M+ regime (02:438-442), oracle-checkable variant


def ann_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF build step: per-cluster elementwise-mean centroids (decimal-exact,
    one partial-agg shuffle).

    Gate output serializes the centroid array to a CSV of DECIMAL(18,6)
    strings (values are already rounded to 6 dp, so this is exact) — the
    driver's canonicalizer can't hash list-typed cells.
    """
    from strava_vector_search_spark.operators.ann import compute_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    cents = compute_centroids(emb, "label", "embedding")
    return cents.select(
        F.col("cluster").cast("int").alias("cluster"),
        F.array_join(
            F.transform(
                F.col("centroid"),
                lambda x: x.cast("decimal(18,6)").cast("string"),
            ),
            ",",
        ).alias("centroid_csv"),
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search: rank centroids, probe top-2 clusters, brute-force inside
    — reads nprobe/k of the data (partition pruning at scale)."""
    from strava_vector_search_spark.operators.ann import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir, 11)
    out = ivf_topk(emb, qv, k=10, nprobe=2, id_col="vec_id")
    return out.select("vec_id", F.col("label").cast("int").alias("label"), "similarity")


QUERIES.update(
    {
        "ann_centroids": ann_centroids,
        "ann_ivf_topk": ann_ivf_topk,
    }
)


# ---------------------------------------------------------------------------
# CSV typed ingest (S1/S2), event-time windows, window functions, multimodal


def s1_csv_typed_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COPY INTO semantics end-to-end: export the corpus to quoted multiline
    CSV (with empty strings standing in for NULL ints), re-ingest with
    positional casts + NULLIF + PERMISSIVE, and return the typed rows —
    byte-identical to the parquet source (oracle reads parquet directly)."""
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from strava_vector_search_spark.io.csv_ingest import read_csv_typed, valid_rows

    docs = load_table(spark, sf_dir, "documents")
    export = docs.select(
        "doc_id",
        "text",
        "lang",
        "source",
        F.when(F.col("n_chars") % 7 == 0, "")
        .otherwise(F.col("n_chars").cast("string"))
        .alias("maybe_chars"),
    )
    token = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = f"/tmp/svs_csv_cache_{token}"
    (
        export.coalesce(1)
        .write.mode("overwrite")
        .option("header", True)
        .option("quote", '"')
        .option("escape", '"')
        .csv(path)
    )
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("maybe_chars", IntegerType()),
        ]
    )
    return valid_rows(read_csv_typed(spark, path, schema))


def ev_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling window (1 day) per event type — the batch
    equivalent of the streaming windowed aggregation; decimal-exact sums."""
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy(
            "event_type", F.date_trunc("day", F.col("ts")).alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 2
            ).alias("sum_value"),
        )
        .orderBy("event_type", "day")
    )


def ev_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via window functions: a >30-min silence per user
    starts a new session (lag + running sum — the batch twin of streaming
    session windows). Per-session event counts and bounds."""
    ev = load_events(spark, sf_dir)
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 30 * 60 * 1_000_000
    with_flag = ev.withColumn(
        "new_sess",
        F.when(
            F.lag(us).over(w).isNull() | ((us - F.lag(us).over(w)) > gap_us), 1
        ).otherwise(0),
    )
    with_id = with_flag.withColumn(
        "session_seq",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        with_id.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .orderBy("user_id", "session_seq")
    )


def w_rank_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window: top-2 longest documents per language in ONE pass —
    the idiomatic improvement over the reference's one-query-per-filter
    pattern (SURVEY §2.5)."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        docs.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 2)
        .select("lang", "doc_id", "n_chars", "rn")
        .orderBy("lang", "rn")
    )


def mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata pass: opaque binary payloads → typed metadata
    (byte length + magic-bytes prefix), pure expressions."""
    from strava_vector_search_spark.operators.multimodal import extract_metadata

    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("text/plain").alias("media_type"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
    )
    return extract_metadata(media)


def mm_decode_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode fan-out via mapInPandas (1 payload → N frames) with
    the deterministic fake codec — Arrow batch plumbing under test."""
    from strava_vector_search_spark.operators.multimodal import decode_frames

    docs = load_table(spark, sf_dir, "documents")
    media = docs.filter(F.col("doc_id") < 40).select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
    )
    frames = decode_frames(media)
    # Serialize the float-feature array (integral values < 251) to an exact
    # int CSV — the driver's canonicalizer can't hash list-typed cells.
    return frames.select(
        "media_id",
        "frame_idx",
        "width",
        "height",
        F.array_join(
            F.transform(
                F.col("feature"), lambda x: x.cast("int").cast("string")
            ),
            ",",
        ).alias("feature_csv"),
    )


QUERIES.update(
    {
        "s1_csv_typed_load": s1_csv_typed_load,
        "ev_windowed_agg": ev_windowed_agg,
        "ev_sessionize": ev_sessionize,
        "w_rank_per_group": w_rank_per_group,
        "mm_binary_meta": mm_binary_meta,
        "mm_decode_frames": mm_decode_frames,
    }
)


# ---------------------------------------------------------------------------
# Parameterized SQL (F15 session variables) + string scalar surface (F1-F4)


def sql_param_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-variable parity: spark.sql with named parameters instead of
    the notebook's SET var + string splicing (nb:151-161, F15/F16)."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents_v")
    return spark.sql(
        """
        SELECT doc_id, lang, n_chars,
               left(text, :preview_len) AS preview
        FROM documents_v
        WHERE lang = :lang AND n_chars >= :min_chars
        ORDER BY doc_id
        """,
        args={"lang": "fr", "min_chars": 200, "preview_len": 40},
    )


def f_string_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalar-function surface in one projection: CONCAT, LEFT, ROUND,
    substring, upper/lower, coalesce (F1-F4, F9)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("doc_id") < 25)
        .select(
            "doc_id",
            F.concat(F.col("lang"), F.lit(":"), F.col("source")).alias("lang_source"),
            F.upper(F.col("lang")).alias("lang_uc"),
            F.left(F.col("text"), F.lit(30)).alias("head30"),
            F.substring(F.col("text"), 11, 10).alias("mid10"),
            F.round(F.col("n_chars") / 7.0, 3).alias("sevenths"),
            F.coalesce(F.nullif(F.col("lang"), F.lit("en")), F.lit("english")).alias(
                "lang_or_english"
            ),
        )
        .orderBy("doc_id")
    )


QUERIES.update(
    {
        "sql_param_query": sql_param_query,
        "f_string_scalars": f_string_scalars,
    }
)


# ---------------------------------------------------------------------------
# Semi/anti joins + HAVING-subquery top-k (relational completion)


def j_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI / LEFT ANTI joins + UNION ALL: customers with vs without
    orders. Semi/anti are the existence joins dedup and refresh build on."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    on = cust["c_custkey"] == orders["o_custkey"]
    semi = (
        cust.join(orders, on, "left_semi")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("with_orders").alias("kind"), "n")
    )
    anti = (
        cust.join(orders, on, "left_anti")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("without_orders").alias("kind"), "n")
    )
    return semi.unionByName(anti)


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped: aggregate subquery with HAVING, joined back to the
    fact chain, top-10 — group-filter-join-rank in one declarative plan."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double"), 2
            ).alias("sum_qty")
        )
        .filter(F.col("sum_qty") > 250)
    )
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round(F.col("o_totalprice").cast("decimal(18,6)").cast("double"), 2).alias(
                "total_price"
            ),
            "sum_qty",
        )
        .orderBy(F.desc("sum_qty"), F.asc("o_orderkey"))
        .limit(10)
    )


QUERIES.update(
    {
        "j_semi_anti": j_semi_anti,
        "q18_large_orders": q18_large_orders,
    }
)


# ---------------------------------------------------------------------------
# MLlib batch indexing (BASELINE.json: "MLlib for batch indexing").
# KMeans / random-hyperplane LSH internals are not ANSI-SQL-expressible, so
# these gate entries check PROPERTIES instead of values: exactness of the
# IVF mechanics within the probed clusters, and recall/precision bounds vs
# the brute-force result — all reduced to oracle-checkable booleans.


def ann_kmeans_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with an MLlib KMeans coarse quantizer (seeded), as a property
    gate: (a) the IVF result must EXACTLY equal brute force restricted to
    the probed clusters (the approximation is cluster pruning, nothing
    else), and (b) mean recall vs unrestricted brute-force top-10 over 5
    query vectors must clear 0.6 (measured 0.76-0.92 at sf0.001-0.1 with
    nprobe=5 of 8 clusters). Probing all 8 clusters doubles as the
    brute-force baseline so both sides share one scorer."""
    from strava_vector_search_spark.operators.ann import (
        collect_centroids,
        compute_centroids,
        ivf_topk,
        kmeans_assign,
    )
    from strava_vector_search_spark.functions.vector import (
        cosine_similarity_rounded,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    clustered = kmeans_assign(emb, num_clusters=8, seed=42).localCheckpoint(
        eager=False
    )
    cents = compute_centroids(clustered, "cluster").localCheckpoint(eager=False)
    local = collect_centroids(cents)
    k, nprobe, qids = 10, 5, (3, 7, 11, 19, 23)
    hits = 0
    subset_exact = True
    for qid in qids:
        qv = _query_vec(spark, sf_dir, qid)
        qcol = lit_double_array(qv)

        def run(df, probe_n):
            return [
                (r["vec_id"], r["similarity"])
                for r in ivf_topk(
                    df, qv, k=k, nprobe=probe_n, cluster_col="cluster",
                    id_col="vec_id", centroids=local,
                ).select("vec_id", "similarity").collect()
            ]

        ivf = run(clustered, nprobe)
        full = run(clustered, 8)  # all clusters == brute force
        hits += len({i for i, _ in ivf} & {i for i, _ in full})
        probed = [
            r["cluster"]
            for r in cents.withColumn(
                "cdist", cosine_similarity_rounded(F.col("centroid"), qcol)
            )
            .orderBy(F.desc("cdist"), F.asc("cluster"))
            .limit(nprobe)
            .collect()
        ]
        sub = run(clustered.filter(F.col("cluster").isin(probed)), nprobe)
        subset_exact = subset_exact and (ivf == sub)
    mean_recall = hits / (k * len(qids))
    return spark.createDataFrame(
        [(k, len(qids), bool(subset_exact), bool(mean_recall >= 0.6))],
        "k int, n_queries int, subset_exact boolean, mean_recall_ge_060 boolean",
    )


def ann_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib BucketedRandomProjectionLSH approxSimilarityJoin as a property
    gate: recall >= 0.9 vs the exact all-pairs cosine>=0.4 set (measured
    0.97-0.98 at sf0.001-0.1) and exact-subset precision (every returned
    pair is a true pair — both sides threshold the same rounded cosine).
    n_exact_pairs is DuckDB-computable, anchoring the row to real data."""
    from strava_vector_search_spark.operators.ann import lsh_near_dup_pairs
    from strava_vector_search_spark.operators.dedup import (
        embedding_near_dup_blocked,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r["id1"], r["id2"])
        for r in embedding_near_dup_blocked(emb, threshold=0.4)
        .select("id1", "id2")
        .collect()
    }
    approx = {
        (r["id1"], r["id2"])
        for r in lsh_near_dup_pairs(
            emb, max_distance=1.1, num_hash_tables=4, bucket_length=0.7
        )
        .filter(F.col("cosine") >= 0.4)
        .select("id1", "id2")
        .collect()
    }
    recall = len(exact & approx) / max(len(exact), 1)
    return spark.createDataFrame(
        [(len(exact), bool(recall >= 0.9), bool(approx <= exact))],
        "n_exact_pairs bigint, recall_ge_090 boolean, precision_exact boolean",
    )


QUERIES.update(
    {
        "ann_kmeans_ivf_topk": ann_kmeans_ivf_topk,
        "ann_lsh_near_dup": ann_lsh_near_dup,
    }
)


# ---------------------------------------------------------------------------
# char-n-gram language ID + JSON-array FLATTEN (J3/F5/F7 exact shape)


def tx_lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram-profile language ID vs labeled lang (the n-gram
    heuristic variant of tx_lang_id_confusion)."""
    from strava_vector_search_spark.functions import text as T

    docs = load_table(spark, sf_dir, "documents")
    guessed = T.lang_id_table(docs, ["doc_id", "lang"], "text", mode="trigram")
    return (
        guessed.groupBy("lang", "guessed")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "guessed")
    )


def j3_json_array_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's FLATTEN lifecycle end-to-end (01:207-219): build a
    JSON array string per user, PARSE_JSON it, explode to one row per
    element, extract + aggregate the field. The engine-side build step makes
    the parse/flatten observable; the oracle aggregates the source rows
    directly (same semantics)."""
    ev = load_events(spark, sf_dir)
    arr = (
        ev.filter(F.col("user_id") < 20)
        .groupBy("user_id")
        .agg(
            F.concat(
                F.lit("["), F.array_join(F.collect_list("props"), ","), F.lit("]")
            ).alias("props_json")
        )
    )
    flat = arr.select(
        "user_id",
        F.explode(F.from_json("props_json", "array<struct<k:int>>")).alias("p"),
    )
    return (
        flat.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_props"),
            F.sum(F.col("p.k")).alias("sum_k"),
        )
        .orderBy("user_id")
    )


QUERIES.update(
    {
        "tx_lang_id_ngram": tx_lang_id_ngram,
        "j3_json_array_flatten": j3_json_array_flatten,
    }
)


# ---------------------------------------------------------------------------
# Q6/Q10-shaped relational queries + index-build gate entry


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped: tight scan-filter-aggregate — the pure pushdown +
    vectorized-scan benchmark (no join, no group key)."""
    li = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice").cast("decimal(18,6)") * F.col(
        "l_discount"
    ).cast("decimal(18,6)")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(revenue).cast("double"), 2).alias("revenue"))
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped: who returned the most revenue — 4-table join,
    group by customer, top-20."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    revenue = (
        F.col("l_extendedprice").cast("decimal(18,6)")
        * (F.lit(1).cast("decimal(18,6)") - F.col("l_discount").cast("decimal(18,6)"))
    )
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-10-01"))
            & (F.col("o_orderdate") < F.lit("1997-01-01"))
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(revenue).cast("double"), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


def vs_index_build_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index build through the service path (S6): hash-embed the documents
    corpus and report invariants. The embedder internals are xxhash64-based
    (not SQL-portable) but the CONTRACT is oracle-checkable: one embedding
    per tokenizable doc, declared dim on every row, unit L2 norm at 3 dp,
    and ``n_zero_vectors`` — tokenizable docs the build DROPPED because
    every token hashed to weight 0 (the build-time counter that replaced
    per-gate zero-vector guards; expected 0 on this corpus, surfaced as a
    metric instead of a latent query-time DIVIDE_BY_ZERO)."""
    from strava_vector_search_spark.functions.embed import (
        _tokens,
        hash_embedding_table,
    )
    from strava_vector_search_spark.functions.vector import dot_product

    docs = load_table(spark, sf_dir, "documents")
    emb = hash_embedding_table(docs, "doc_id", "text", dim=64)
    n2 = dot_product(
        F.col("embedding").cast("array<double>"),
        F.col("embedding").cast("array<double>"),
    )
    n_tokenizable = docs.agg(
        F.sum(
            (F.size(_tokens(F.col("text"))) > 0).cast("bigint")
        ).alias("_n_tokenizable")
    )
    return (
        emb.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(F.size("embedding")).alias("min_dim"),
            F.max(F.size("embedding")).alias("max_dim"),
            F.round(F.min(n2), 3).alias("min_norm2"),
            F.round(F.max(n2), 3).alias("max_norm2"),
        )
        .crossJoin(F.broadcast(n_tokenizable))
        .select(
            "n_rows",
            "min_dim",
            "max_dim",
            "min_norm2",
            "max_norm2",
            (F.col("_n_tokenizable") - F.col("n_rows")).alias(
                "n_zero_vectors"
            ),
        )
    )


QUERIES.update(
    {
        "q6_forecast_revenue": q6_forecast_revenue,
        "q10_returned_items": q10_returned_items,
        "vs_index_build_stats": vs_index_build_stats,
    }
)


# ---------------------------------------------------------------------------
# Distinct aggregates, rollup, time functions, null semantics, DSL extras


def a6_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) per group (beyond the reference's surface — Spark
    plans it as a two-phase expand+agg)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.countDistinct("source").alias("n_sources"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .orderBy("lang")
    )


def a7_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(lang, source): subtotals + grand total in one pass."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.rollup("lang", "source")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.asc_nulls_first("lang"), F.asc_nulls_first("source"))
    )


def f_time_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar surface: extraction, truncation, interval
    arithmetic. (dayofweek normalized to ISO Monday=1 in both engines.)"""
    ev = load_events(spark, sf_dir)
    return (
        ev.filter(F.col("event_id") < 40)
        .select(
            "event_id",
            F.year("ts").alias("y"),
            F.month("ts").alias("m"),
            F.dayofmonth("ts").alias("d"),
            F.hour("ts").alias("hr"),
            F.weekday("ts").cast("int").alias("dow0"),  # Monday=0
            F.date_trunc("hour", F.col("ts")).alias("hour_start"),
            (F.col("ts") + F.expr("INTERVAL 1 DAY")).alias("next_day"),
        )
        .orderBy("event_id")
    )


def p_null_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL semantics made visible: explicit NULLS LAST ordering observed
    through row_number, plus null-safe equality (<=> / IS NOT DISTINCT
    FROM). Spark's bare ASC is NULLS FIRST while most engines default NULLS
    LAST — the explicit spec removes the divergence."""
    docs = load_table(spark, sf_dir, "documents")
    nullable = F.nullif(F.col("lang"), F.lit("en"))
    w = Window.orderBy(nullable.asc_nulls_last(), F.col("doc_id").asc())
    return (
        docs.filter(F.col("doc_id") < 40)
        .select(
            "doc_id",
            nullable.alias("lang_nullable"),
            F.row_number().over(w).cast("bigint").alias("rn_nulls_last"),
            nullable.eqNullSafe(F.lit(None).cast("string")).alias("is_null_safe_eq"),
        )
        .orderBy("doc_id")
    )


def svc_search_contains_not(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Service DSL with @contains and @not — the remaining DSL operators
    through the full service path."""
    from strava_vector_search_spark.service import SearchService

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    svc = SearchService(
        spark,
        docs,
        id_col="doc_id",
        search_col="text",
        attributes=("lang", "source"),
    ).attach_embeddings(emb)
    qv = _query_vec(spark, sf_dir, 9)
    return svc.search(
        {
            "query_vec": qv,
            "columns": ["lang", "source"],
            "filter": {
                "@and": [
                    {"@contains": {"source": "1"}},
                    {"@not": {"@eq": {"lang": "en"}}},
                ]
            },
            "limit": 5,
        }
    )


QUERIES.update(
    {
        "a6_distinct_agg": a6_distinct_agg,
        "a7_rollup": a7_rollup,
        "f_time_funcs": f_time_funcs,
        "p_null_ordering": p_null_ordering,
        "svc_search_contains_not": svc_search_contains_not,
    }
)


# ---------------------------------------------------------------------------
# Percentiles + array/string aggregation


def a8_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile` ==
    SQL-standard continuous quantile; bit-equal to DuckDB quantile_cont)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.percentile("n_chars", F.lit(0.25)).alias("p25"),
            F.percentile("n_chars", F.lit(0.5)).alias("p50"),
            F.percentile("n_chars", F.lit(0.9)).alias("p90"),
        )
        .orderBy("lang")
    )


def f_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/string aggregation surface: sorted distinct collect, array
    length, membership, and deterministic string_agg.

    The array itself is consumed by size/contains/array_join but NOT
    returned raw: the gate output keeps only scalar columns (the driver's
    canonicalizer cannot sort list-typed cells — the round-1 `err` mode on
    dd_minhash_signatures/ann_centroids/mm_decode_frames); ``sources_csv``
    carries the full array content as a deterministic string.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(F.array_sort(F.collect_set("source")).alias("sources"))
        .select(
            "lang",
            F.size("sources").cast("bigint").alias("n_sources"),
            F.array_contains("sources", "src3").alias("has_src3"),
            F.array_join("sources", ",").alias("sources_csv"),
        )
        .orderBy("lang")
    )


QUERIES.update(
    {
        "a8_percentiles": a8_percentiles,
        "f_array_funcs": f_array_funcs,
    }
)


# ---------------------------------------------------------------------------
# SQL-text flagship (the spark.sql surface, incl. SQL lambda functions)


def sql_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship query expressed as ONE SQL string — higher-order SQL
    functions (zip_with/aggregate lambdas) compute the dot product, proving
    the DataFrame and SQL surfaces are the same engine. Parameterized via
    named args (no string splicing)."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents_v")
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings_v")
    return spark.sql(
        """
        WITH q AS (
          SELECT CAST(embedding AS array<double>) AS qv
          FROM embeddings_v WHERE vec_id = :qid
        ),
        corpus AS (
          SELECT d.doc_id, d.lang, d.n_chars,
                 CAST(e.embedding AS array<double>) AS emb
          FROM documents_v d JOIN embeddings_v e ON d.doc_id = e.vec_id
          WHERE d.lang = :lang AND d.doc_id <> :qid
        )
        SELECT c.doc_id, c.lang, c.n_chars,
               ROUND(aggregate(zip_with(c.emb, q.qv, (x, y) -> x * y),
                               0D, (acc, x) -> acc + x), 6) AS similarity
        FROM corpus c CROSS JOIN q
        ORDER BY similarity DESC, doc_id ASC
        LIMIT :k
        """,
        args={"qid": 4, "lang": "fr", "k": 8},
    )


QUERIES.update({"sql_topk_filtered": sql_topk_filtered})


# ---------------------------------------------------------------------------
# Statistical aggregates + regexp functions


def a9_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample stddev/variance and Pearson correlation per group (rounded to
    4 dp — both engines compute stable single-pass moments in float64)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.round(F.stddev_samp("n_chars"), 4).alias("sd_chars"),
            F.round(F.var_samp("n_chars"), 4).alias("var_chars"),
            F.round(F.corr("n_chars", "doc_id"), 4).alias("corr_chars_id"),
        )
        .orderBy("lang")
    )


def f_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp scalar surface: extract (with group), replace, and an RLIKE
    row filter."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("source").rlike("^src1[0-9]$"))
        .select(
            "doc_id",
            "source",
            F.regexp_extract("source", r"src(\d+)", 1).cast("int").alias("src_num"),
            F.regexp_replace("source", r"\d+", "#").alias("masked"),
        )
        .orderBy("doc_id")
    )


QUERIES.update({"a9_stats_agg": a9_stats_agg, "f_regexp": f_regexp})


# ---------------------------------------------------------------------------
# Set operations + argmax aggregates


def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION ALL over id sets (§2.7 completion):
    English docs vs teen-numbered sources, with a label per branch."""
    docs = load_table(spark, sf_dir, "documents")
    en = docs.filter(F.col("lang") == "en").select("doc_id")
    teen = docs.filter(F.col("source").rlike("^src1[0-9]$")).select("doc_id")
    both = en.intersect(teen).select(F.lit("en_and_teen").alias("kind"), "doc_id")
    only_en = en.exceptAll(teen).select(F.lit("en_only").alias("kind"), "doc_id")
    return both.unionByName(only_en).orderBy("kind", "doc_id")


def a10_argminmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (argmax/argmin) per group with a deterministic
    composite ordering key (value then id — no tie ambiguity)."""
    docs = load_table(spark, sf_dir, "documents")
    key = F.col("n_chars") * 1_000_000 + F.col("doc_id")
    return (
        docs.groupBy("lang")
        .agg(
            F.max_by("doc_id", key).alias("longest_doc"),
            F.min_by("doc_id", key).alias("shortest_doc"),
            F.max("n_chars").alias("max_chars"),
            F.min("n_chars").alias("min_chars"),
        )
        .orderBy("lang")
    )


QUERIES.update({"set_ops": set_ops, "a10_argminmax": a10_argminmax})


def dd_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus-dedup action: MinHash-LSH verified pairs -> connected
    components (iterative min-label propagation) -> every document labeled
    with its canonical group id (comp == doc_id for survivors/singletons).
    Pairs come from the shared _minhash_pairs kernel (r13: one LSH+verify
    build per session serves the five downstream dedup gates)."""
    from strava_vector_search_spark.operators.dedup import (
        dedup_by_near_dup_groups,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = _minhash_pairs(spark, sf_dir)
    out = dedup_by_near_dup_groups(docs, pairs, "doc_id")
    return out.select("doc_id", "comp").orderBy("doc_id")


QUERIES.update({"dd_connected_components": dd_connected_components})


def tx_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling polynomial hash per document (incrementally
    maintainable content fingerprint)."""
    from strava_vector_search_spark.functions.text import rolling_fingerprint

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("doc_id") < 50)
        .select("doc_id", rolling_fingerprint(F.col("text")).alias("rhash"))
        .orderBy("doc_id")
    )


QUERIES.update({"tx_rolling_fingerprint": tx_rolling_fingerprint})


# ---------------------------------------------------------------------------
# int8-quantized vector search + deterministic hash sampling


def vs_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k over int8-QUANTIZED embeddings: 1 byte/dim at rest (4x less
    scan volume), integer dot products (exact accumulation). The ranking
    approximates full-precision cosine within ~1%; this entry pins the
    quantized arithmetic itself against the oracle."""
    from strava_vector_search_spark.functions.vector import (
        quantize_int8,
        quantized_dot,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q8 = emb.select(
        "vec_id", quantize_int8(F.col("embedding")).alias("q8")
    )
    qv = _query_vec(spark, sf_dir, 6)
    qcol = quantize_int8(lit_double_array(qv))
    return (
        q8.withColumn("qsim", F.round(quantized_dot(F.col("q8"), qcol), 6))
        .filter(F.col("vec_id") != 6)
        .orderBy(F.desc("qsim"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", "qsim")
    )


def tx_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 20% sample: keep rows whose md5-bucket of the id falls
    under the rate — the reproducible train/eval split trick (same rows
    selected on every engine, every run; no RNG state)."""
    from strava_vector_search_spark.operators.dedup import md5_int

    docs = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(md5_int(F.col("doc_id").cast("string")), F.lit(100))
    return (
        docs.filter(bucket < 20)
        .select("doc_id", "lang", bucket.alias("sample_bucket"))
        .orderBy("doc_id")
    )


QUERIES.update(
    {"vs_quantized_topk": vs_quantized_topk, "tx_hash_sample": tx_hash_sample}
)


def vs_topk_blas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BLAS-kernel exact top-k (numpy matvec + per-batch argpartition in
    mapInPandas) — same contract as the expression top-k, checked against
    the same dot-product oracle."""
    from strava_vector_search_spark.operators.search import brute_force_topk_blas

    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir, 13)
    out = brute_force_topk_blas(
        emb,
        qv,
        k=10,
        id_col="vec_id",
        predicate=F.col("vec_id") != 13,
        # dot-product scoring on the pre-normalized testdata vectors —
        # the same contract (and oracle) as the expression gate
        assume_normalized=True,
    )
    return out.select("vec_id", "similarity")


QUERIES.update({"vs_topk_blas": vs_topk_blas})


def tx_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical curation pipeline: language allowlist + quality-score
    threshold + dedup-hash sample — what actually gates documents into a
    training set."""
    from strava_vector_search_spark.functions import text as T

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("lang").isin("en", "de", "fr"))
        .withColumn("quality", T.quality_score(F.col("text")))
        .filter(F.col("quality") >= 0.66)
        .select("doc_id", "lang", "quality", T.token_count(F.col("text")).cast("bigint").alias("n_tokens"))
        .orderBy("doc_id")
    )


QUERIES.update({"tx_quality_filter": tx_quality_filter})


def vs_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid keyword+vector retrieval: term-overlap score fused with the
    semantic dot product (0.6 vector / 0.4 keyword), top-10."""
    corpus = corpus_with_vectors(spark, sf_dir)
    qv = _query_vec(spark, sf_dir, 8)
    out = S.hybrid_topk(
        corpus,
        qv,
        query_terms=["fast", "join", "window", "stream"],
        k=10,
        vector_weight=0.6,
        assume_normalized=True,
    )
    return out.select(
        "doc_id", "lang", "keyword_score", "vector_score", "score"
    )


QUERIES.update({"vs_hybrid_topk": vs_hybrid_topk})


def ann_srp_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native signed-random-projection LSH near-dup join (cosine >= 0.4):
    map-only integer-exact signatures -> band-bucket join -> exact verify.
    The oracle-checkable replacement for MLlib approxSimilarityJoin
    (ann_lsh_near_dup), which is rows-only-checkable and 3x slower than even
    the exact BLAS join at 30K vectors (SCALE.md)."""
    from strava_vector_search_spark.operators.ann import srp_near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return srp_near_dup_pairs(emb, threshold=0.4, bits=64, bands=16)


QUERIES.update({"ann_srp_near_dup": ann_srp_near_dup})


def dd_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at hamming <= 3 via the chunked candidate join
    (48 bits, 4 x 12-bit slices). Pigeonhole: any pair within hamming 3 must
    agree exactly on >= 1 slice, so the equi-join candidates are provably
    complete — the oracle checks against the brute-force hamming join."""
    from strava_vector_search_spark.operators.dedup import simhash, simhash_pairs

    docs = load_table(spark, sf_dir, "documents")
    sig = simhash(docs, "doc_id", "text", bits=48)
    out = simhash_pairs(sig, "doc_id", max_hamming=3, bits=48, chunks=4)
    return out.withColumn("hamming", F.col("hamming").cast("bigint"))


QUERIES.update({"dd_simhash_pairs": dd_simhash_pairs})


def ann_srp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k: the query's SRP band keys are computed
    driver-side and pushed as literal filters, so candidate selection is a
    map-only scan (no join, no index build) and ranking is exact dot over
    the colliding fraction — the similarity-search scale path alongside IVF."""
    from strava_vector_search_spark.operators.ann import srp_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir, 11)
    out = srp_topk(
        emb, qv, k=10, bits=64, bands=16, predicate=F.col("vec_id") != 11
    )
    return out.select("vec_id", "similarity")


QUERIES.update({"ann_srp_topk": ann_srp_topk})


def tx_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget report per document: whitespace tokens vs the BPE-ish
    regex count and the chars-per-token ratio — the two counters the brief's
    text-analysis suite names, side by side."""
    from strava_vector_search_spark.functions import text as T

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            T.token_count(F.col("text")).cast("bigint").alias("n_ws_tokens"),
            T.bpe_ish_token_count(F.col("text")).cast("bigint").alias("n_bpe_tokens"),
            F.round(
                F.length("text")
                / F.greatest(T.bpe_ish_token_count(F.col("text")), F.lit(1)),
                4,
            ).alias("chars_per_token"),
        )
        .orderBy("doc_id")
    )


QUERIES.update({"tx_token_budget": tx_token_budget})


def vs_batch_topk_blas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch multi-query search through the fused Q@V.T kernel — same
    contract (and same oracle) as vs_batch_topk, one matmul per Arrow batch
    instead of nq interpreted dots per row."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = corpus_with_vectors(spark, sf_dir).select("doc_id", "lang", "embedding")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    out = S.batch_topk_blas(corpus, queries, k=3, meta_cols=["lang"])
    return out.select("query_id", "doc_id", "lang", "similarity", "rank")


QUERIES.update({"vs_batch_topk_blas": vs_batch_topk_blas})


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped: date-quarter scan + EXISTS (left-semi join on the
    fact table) + priority counts — the semi-join pushdown shape (adapted:
    this lineitem has no commitdate/receiptdate, so the EXISTS condition is
    a returned-lineitem flag)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    returned = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
        )
        .join(returned, orders["o_orderkey"] == returned["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped: promo revenue share — conditional aggregate over a
    fact⋈dim join in one month window; ratio of DECIMAL-routed sums."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast("decimal(18,6)") * (
        F.lit(1).cast("decimal(18,6)") - F.col("l_discount").cast("decimal(18,6)")
    )
    j = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(18,6)")).alias("promo_rev"),
            rev.alias("rev"),
        )
    )
    return j.agg(
        F.round(
            F.lit(100.0)
            * F.sum("promo_rev").cast("double")
            / F.sum("rev").cast("double"),
            4,
        ).alias("promo_pct"),
        F.round(F.sum("rev").cast("double"), 2).alias("total_revenue"),
    )


QUERIES.update(
    {"q4_order_priority": q4_order_priority, "q14_promo_revenue": q14_promo_revenue}
)


def j_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant equi-join demonstrated end-to-end: the fact side is
    salted, the dim side replicated across salt values, result aggregated —
    value-identical to the plain join (the oracle IS the plain join), which
    is exactly the property salting must preserve while spreading one hot
    key over `salt` reducers."""
    from strava_vector_search_spark.plans.layout import salted_join

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    big = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("okey"), "l_quantity"
    )
    small = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_orderkey").alias("okey"), "o_orderpriority"
    )
    joined = salted_join(big, small, "okey", salt=8)
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double"), 2).alias("sum_qty"),
        )
        .orderBy("o_orderpriority")
    )


QUERIES.update({"j_salted_skew": j_salted_skew})


# ---------------------------------------------------------------------------
# Temporal joins (engine completion: as-of + range join, operators/temporal.py)


def ev_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event attaches the latest view event
    at-or-before it for the same user, within a 2-hour tolerance — the
    attribution query every event pipeline needs. One shuffle on user_id
    (union + window), no range predicate in the plan. Views are pre-deduped
    per (user, ts) so tie resolution is engine-independent."""
    from strava_vector_search_spark.operators.temporal import asof_join

    ev = load_events(spark, sf_dir)
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_id"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    out = asof_join(
        purchases,
        views,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        value_cols=["view_id"],
        tolerance_seconds=7200,
    )
    return out.select(
        "purchase_id",
        "user_id",
        F.col("view_id_right").alias("view_id"),
        (
            (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("ts_right")))
            / F.lit(1_000_000)
        )
        .cast("bigint")
        .alias("secs_since_view"),
    )


def ev_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: count/aggregate all events inside ±30-minute incident
    windows around a subset of error events — executed as a time-bucket
    equi-join + residual filter (operators/temporal.range_join_binned),
    never a cross join; value-identical to the BETWEEN join the oracle runs."""
    from strava_vector_search_spark.operators.temporal import range_join_binned

    ev = load_events(spark, sf_dir)
    incidents = ev.filter(
        (F.col("event_type") == "error") & (F.col("event_id") % 20 == 0)
    ).select(
        F.col("event_id").alias("incident_id"),
        (F.col("ts") - F.expr("INTERVAL 30 MINUTE")).alias("t0"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTE")).alias("t1"),
    )
    pts = ev.select("event_id", "ts", "value")
    joined = range_join_binned(pts, incidents, bin_seconds=1800)
    return joined.groupBy("incident_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        _dsum("value", 2).alias("sum_value"),
    )


QUERIES.update({"ev_asof_join": ev_asof_join, "ev_range_join": ev_range_join})


# ---------------------------------------------------------------------------
# Relational depth (engine completion): outer joins, disjunctive pushdown,
# correlated-subquery shapes, EXISTS/NOT-EXISTS chains, window frames. The
# reference exercises none of these directly (SURVEY §2.3 "not present"), but
# a complete engine a reference user switches to needs the full join/subquery
# matrix; each entry is the canonical TPC-H shape adapted to the testdata
# schema (no partsupp/shipmode/comment columns).


def _rev_expr():
    """extendedprice * (1 - discount) routed through DECIMAL so partial-agg
    order cannot change the sum (same contract as q14)."""
    return F.col("l_extendedprice").cast("decimal(18,6)") * (
        F.lit(1).cast("decimal(18,6)") - F.col("l_discount").cast("decimal(18,6)")
    )


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped: LEFT OUTER join with an extra join-side predicate
    (kept in the ON clause — moving it to WHERE would silently turn the join
    inner), orders-per-customer, then a histogram of those counts. The outer
    join preserves zero-order customers; COUNT(o_orderkey) null-skips them
    to 0."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders,
            (cust["c_custkey"] == orders["o_custkey"])
            & (orders["o_orderpriority"] != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def q19_disjunctive_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped: revenue under an OR of three AND-blocks spanning
    both join sides. Catalyst extracts the common l_quantity bounds and
    pushes brand/size predicates into the part scan; the disjunction itself
    evaluates post-join without falling back to a cross product."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    block = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(qlo, qhi)
    )
    return j.filter(
        block("Brand#12", 5, 1, 11)
        | block("Brand#23", 10, 10, 20)
        | block("Brand#3", 15, 20, 30)
    ).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum(_rev_expr()).cast("double"), 2).alias("revenue"),
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped: quarterly revenue per supplier, keep the one(s)
    equal to the scalar MAX — the max is a 1-row aggregate broadcast back,
    not a window over a single partition (which would serialize the whole
    table through one task)."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
        )
        .groupBy("l_suppkey")
        .agg(F.round(F.sum(_rev_expr()).cast("double"), 2).alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    return (
        rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("_mx"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped: correlated AVG subquery decorrelated into a
    per-part aggregate joined back to the fact rows — lines whose quantity
    is below 20% of their part's average. The per-part threshold table is
    tiny (one row per qualifying part) and broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    pk = part.filter(
        (F.col("p_brand") == "Brand#3") & (F.col("p_type") == "SMALL")
    ).select("p_partkey")
    li_p = li.join(F.broadcast(pk), F.col("l_partkey") == F.col("p_partkey"))
    thresh = li_p.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (
            F.lit(0.2)
            * (
                F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            )
        ).alias("qty_cut")
    )
    return (
        li_p.join(F.broadcast(thresh), F.col("l_partkey") == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast("double")
                / 7.0,
                2,
            ).alias("avg_yearly")
        )
    )


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped: five-table join (fact → supplier-nation, fact →
    order → customer-nation) with a symmetric nation-pair predicate,
    revenue per (supp_nation, cust_nation, ship-year). Nation dims are
    broadcast; the two fact-side joins shuffle on their own keys and AQE
    picks the strategy for the mid-size dims."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    j = (
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return (
        j.groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.round(F.sum(_rev_expr()).cast("double"), 2).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped: suppliers-per-part-profile with a NOT IN
    exclusion subquery (negative-balance suppliers) compiled to a left-anti
    join, COUNT(DISTINCT) per (brand, type, size) over the lineitem
    association (this schema has no partsupp)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    bad = supp.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    pf = part.filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        li.join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(pf), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped: per-supplier count of 'sole-blame' lineitems —
    returned lines in finalized orders where EXISTS another supplier's line
    in the same order (left-semi) and NOT EXISTS another supplier's
    returned line (left-anti). Both existence probes stay on the narrow
    (orderkey, suppkey) projection, so the two extra shuffles move 16-byte
    rows, not fact payloads."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    l1 = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey")
    fin = orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    l2 = li.select(F.col("l_orderkey").alias("ok2"), F.col("l_suppkey").alias("sk2"))
    l3 = (
        li.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("ok3"), F.col("l_suppkey").alias("sk3"))
    )
    blamed = (
        l1.join(fin, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .join(
            l2,
            (F.col("ok2") == F.col("l_orderkey")) & (F.col("sk2") != F.col("l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("ok3") == F.col("l_orderkey")) & (F.col("sk3") != F.col("l_suppkey")),
            "left_anti",
        )
    )
    return (
        blamed.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
        .limit(10)
    )


def q22_acctbal_prospects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped: customers in selected 'country codes' (last two
    name digits) with above-average positive balance and no urgent orders —
    a scalar AVG subquery (1-row broadcast) plus NOT EXISTS (left-anti on
    the filtered orders side). Adapted: every synthetic customer has
    orders, so the existence probe is against URGENT orders to keep the
    anti-join non-degenerate."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    cc = cust.withColumn("cntrycode", F.right(F.col("c_name"), F.lit(2)))
    codes = ["01", "12", "23", "34", "45", "56", "67"]
    sel = cc.filter(F.col("cntrycode").isin(codes))
    avg_bal = sel.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("_avg")
    )
    return (
        sel.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg"))
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(18,6)")).cast("double"), 2).alias(
                "totacctbal"
            ),
        )
        .orderBy("cntrycode")
    )


def j_outer_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join with COALESCE'd keys: per-nation counts of top-tier
    customers vs top-tier suppliers (acctbal > 9000). The high-balance
    filters make each side sparse, so some nations appear on only one side
    — the rows an inner join would silently drop."""
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    c = (
        cust.filter(F.col("c_acctbal") > 9000)
        .groupBy(F.col("c_nationkey").alias("ck"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        supp.filter(F.col("s_acctbal") > 9000)
        .groupBy(F.col("s_nationkey").alias("sk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return (
        c.join(s, F.col("ck") == F.col("sk"), "full_outer")
        .select(
            F.coalesce(F.col("ck"), F.col("sk")).alias("nationkey"),
            F.coalesce(F.col("n_cust"), F.lit(0)).alias("n_cust"),
            F.coalesce(F.col("n_supp"), F.lit(0)).alias("n_supp"),
        )
        .orderBy("nationkey")
    )


def w_lag_lead_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-frame surface in one pass per user-ordered event stream:
    LAG/LEAD, seconds-since-previous, running SUM (UNBOUNDED PRECEDING)
    and a 3-row moving average — one shuffle on user_id serves all four
    (same window spec ⇒ one Window physical node). Frame sums route
    through DECIMAL so segment-tree (DuckDB) vs streaming (Spark)
    accumulation order cannot differ."""
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    mov = w.rowsBetween(-2, Window.currentRow)
    return (
        ev.filter(F.col("user_id") < 20)
        .select(
            "user_id",
            "event_id",
            "ts",
            F.lag("value").over(w).alias("prev_value"),
            F.lead("value").over(w).alias("next_value"),
            (
                (F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w)))
                / F.lit(1_000_000)
            )
            .cast("bigint")
            .alias("secs_since_prev"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).over(run).cast("double"), 2
            ).alias("running_sum"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).over(mov).cast("double")
                / F.count(F.lit(1)).over(mov),
                4,
            ).alias("moving_avg3"),
        )
        .orderBy("user_id", "ts", "event_id")
    )


def a11_approx_distinct_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) checked as a PROPERTY: the
    sketch's estimate must land within 5% of the exact distinct count
    (rsd is set to 2%). The oracle computes the exact count and asserts
    the bound as a literal — the same pattern the MLlib entries use for
    non-SQL-expressible internals."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.countDistinct("l_partkey").alias("exact_distinct"),
        F.approx_count_distinct("l_partkey", 0.02).alias("_approx"),
    )
    return agg.select(
        "exact_distinct",
        (
            F.abs(F.col("_approx") - F.col("exact_distinct"))
            / F.col("exact_distinct")
            <= 0.05
        ).alias("within_5pct"),
    )


QUERIES.update(
    {
        "q13_customer_distribution": q13_customer_distribution,
        "q19_disjunctive_pushdown": q19_disjunctive_pushdown,
        "q15_top_supplier": q15_top_supplier,
        "q17_small_quantity_revenue": q17_small_quantity_revenue,
        "q7_volume_shipping": q7_volume_shipping,
        "q16_supplier_cnt": q16_supplier_cnt,
        "q21_waiting_supplier": q21_waiting_supplier,
        "q22_acctbal_prospects": q22_acctbal_prospects,
        "j_outer_full": j_outer_full,
        "w_lag_lead_frames": w_lag_lead_frames,
        "a11_approx_distinct_bounds": a11_approx_distinct_bounds,
    }
)


# ---------------------------------------------------------------------------
# Training-data pipeline: deterministic splits / sampling / mixture / packing
# (operators/sampling.py) and PII scrubbing (functions/text.py). All hash-
# driven (no RNG state): identical membership on every engine and re-run.


def smp_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test split by hash of doc_id — map-only CASE over
    the md5 bucket, verified via per-split counts and exact char sums."""
    from strava_vector_search_spark.operators.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents")
    return (
        hash_split(docs, "doc_id", [("train", 0.8), ("val", 0.1), ("test", 0.1)])
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("split")
    )


def smp_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic sampling (en 50%, de 25%, fr 10%, rest
    dropped) — the per-stratum threshold compiles to one CASE + hash
    compare, a single map-side Filter."""
    from strava_vector_search_spark.operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    return (
        stratified_sample(
            docs, "doc_id", "lang", {"en": 0.5, "de": 0.25, "fr": 0.10}
        )
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


def dm_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample sources toward a 50/30/20 target mixture: the scarcest
    domain bounds the feasible size, per-domain hash thresholds shed the
    surplus. Checked via per-source admitted counts + thresholds."""
    from strava_vector_search_spark.operators.sampling import weighted_mix

    docs = load_table(spark, sf_dir, "documents")
    mixed = weighted_mix(
        docs, "doc_id", "source", {"src0": 0.5, "src1": 0.3, "src2": 0.2}
    )
    return (
        mixed.groupBy("source", "mix_threshold")
        .agg(F.count(F.lit(1)).alias("n_admitted"))
        .orderBy("source")
    )


def pk_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing: per-language doc streams in
    doc_id order, 2048-token context bins by running-offset — one window
    shuffle, no sequential state. Reports per-bin doc count and tokens."""
    from strava_vector_search_spark.functions import text as T
    from strava_vector_search_spark.operators.sampling import pack_sequences

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", T.token_count(F.col("text")).cast("bigint").alias("n_tok")
    )
    packed = pack_sequences(
        docs, "doc_id", "n_tok", budget=2048, partition_cols=["lang"]
    )
    return (
        packed.groupBy("lang", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("bin_tokens"),
        )
        .orderBy("lang", "bin")
    )


def tx_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over a corpus with synthetically injected emails and
    phone numbers (the testdata is clean, so every 7th doc gets a
    deterministic contact line prepended): scrub_pii must replace them with
    typed placeholders; match counts audit the pass. Two regexp_replace
    expressions — map-only codegen at any scale."""
    from strava_vector_search_spark.functions.text import pii_counts, scrub_pii

    docs = load_table(spark, sf_dir, "documents")
    injected = docs.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id",
        F.concat(
            F.lit("reach user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com tel +44 20 7946 0"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            F.lit(" "),
            F.col("text"),
        ).alias("dirty"),
    )
    n_em, n_ph = pii_counts(F.col("dirty"))
    return (
        injected.select(
            "doc_id",
            n_em.alias("n_emails"),
            n_ph.alias("n_phones"),
            F.left(scrub_pii(F.col("dirty")), F.lit(60)).alias("scrubbed_head"),
        )
        .orderBy("doc_id")
        .limit(30)
    )


QUERIES.update(
    {
        "smp_hash_split": smp_hash_split,
        "smp_stratified_sample": smp_stratified_sample,
        "dm_domain_mix": dm_domain_mix,
        "pk_sequence_packing": pk_sequence_packing,
        "tx_pii_scrub": tx_pii_scrub,
    }
)


# ---------------------------------------------------------------------------
# Relational spine completion: the remaining canonical TPC-H shapes (Q2 min-
# cost correlated subquery, Q8 market share, Q9 product profit, Q11 HAVING
# over a scalar subquery, Q12 two-class priority counts, Q20 nested semi-join
# chain), adapted to this schema (no partsupp/shipmode: the lineitem
# association stands in for partsupp, cost proxies noted per query).


def q2_min_cost_supp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped: per part, the supplier(s) achieving the minimum
    cost — the correlated MIN subquery, decorrelated into a per-part
    aggregate equi-joined back. Adapted: (part, supplier) cost =
    MIN(l_extendedprice) over the lineitem association. Both the part
    slice and the per-part minimum table are small → broadcast; the only
    fact shuffle is the (partkey, suppkey) partial agg."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    pf = part.filter((F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")).select(
        "p_partkey"
    )
    ps = (
        li.join(F.broadcast(pf), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("l_extendedprice").alias("cost"))
    )
    mn = ps.groupBy(F.col("l_partkey").alias("mk")).agg(
        F.min("cost").alias("min_cost")
    )
    return (
        ps.join(
            F.broadcast(mn),
            (F.col("l_partkey") == F.col("mk")) & (F.col("cost") == F.col("min_cost")),
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "s_acctbal",
            "s_name",
            F.col("n_name").alias("nation"),
            F.col("l_partkey").alias("partkey"),
            "cost",
        )
        .orderBy(F.desc("s_acctbal"), "s_name", "partkey")
        .limit(20)
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped: NATION_1 suppliers' share of revenue per order-year
    among EUROPE-region customers — a ratio of conditional DECIMAL sums per
    group over a six-table join. Nation/region dims broadcast; the two
    fact joins (lineitem→orders→customer) shuffle on their keys."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.join(
        F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select(F.col("n_nationkey").alias("n2_key"))
    rev = _rev_expr()
    j = (
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
    )
    zero = F.lit(0).cast("decimal(18,6)")
    return (
        j.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_1", rev).otherwise(zero)
                ).cast("double")
                / F.sum(rev).cast("double"),
                6,
            ).alias("mkt_share"),
            F.round(F.sum(rev).cast("double"), 2).alias("total_revenue"),
        )
        .orderBy("o_year")
    )


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped: profit by supplier nation and order year over a
    name-sliced part set. Adapted: cost = p_retailprice * l_quantity (no
    ps_supplycost); profit routed through DECIMAL so partial-agg order
    cannot change the sum."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    pf = part.filter(F.col("p_name").like("%bolt%")).select(
        "p_partkey", "p_retailprice"
    )
    profit = _rev_expr() - F.col("p_retailprice").cast("decimal(18,6)") * F.col(
        "l_quantity"
    ).cast("decimal(18,6)")
    return (
        li.join(F.broadcast(pf), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        # round the EXACT decimal, then cast: both engines round decimals
        # half-away-from-zero identically, whereas rounding after the
        # double cast diverges when the exact sum lands on a half-cent
        # boundary (observed at sf0.001: 529029.065)
        .agg(F.round(F.sum(profit), 2).cast("double").alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped: per-part inventory value for one nation's
    suppliers, keeping parts above a fraction of the TOTAL value — the
    HAVING-over-scalar-subquery shape: the total is a 1-row aggregate
    broadcast back, never a single-partition window. Adapted: value =
    SUM(l_extendedprice * l_quantity) over the lineitem association."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    s3 = supp.join(
        F.broadcast(nation.filter(F.col("n_name") == "NATION_3")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey")
    val = F.col("l_extendedprice").cast("decimal(18,6)") * F.col("l_quantity").cast(
        "decimal(18,6)"
    )
    per_part = (
        li.join(F.broadcast(s3), F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .groupBy("l_partkey")
        .agg(F.sum(val).alias("_v"))
    )
    total = per_part.agg(F.sum("_v").alias("_tot"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("_v").cast("double") > F.lit(0.001) * F.col("_tot").cast("double"))
        .select(
            F.col("l_partkey").alias("partkey"),
            F.round(F.col("_v").cast("double"), 2).alias("part_value"),
        )
        .orderBy(F.desc("part_value"), "partkey")
    )


def q12_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped: per line-status counts of critical- vs normal-
    priority orders in a ship-date year — the SUM(CASE) two-class rollup
    after a fact-fact equi-join (no shipmode column; l_linestatus is the
    grouping axis)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(crit, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(crit, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped: suppliers in one nation holding an above-average
    share of some red part's volume — the nested IN/EXISTS chain compiled
    to two semi-join hops over narrow aggregates. Per-part average
    supplier quantity = SUM(dec)/COUNT (exact, engine-independent); the
    0.55x threshold keeps the probe selective."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    red = part.filter(F.col("p_name").like("red%")).select("p_partkey")
    pq = (
        li.join(F.broadcast(red), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("_spq"))
    )
    pa = pq.groupBy(F.col("l_partkey").alias("pk2")).agg(
        (F.sum("_spq").cast("double") / F.count(F.lit(1))).alias("_apq")
    )
    excess = (
        pq.join(F.broadcast(pa), F.col("l_partkey") == F.col("pk2"))
        .filter(F.col("_spq").cast("double") > F.lit(0.55) * F.col("_apq"))
        .select("l_suppkey")
    )
    return (
        supp.join(excess, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(
            F.broadcast(nation.filter(F.col("n_name") == "NATION_2")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


QUERIES.update(
    {
        "q2_min_cost_supp": q2_min_cost_supp,
        "q8_market_share": q8_market_share,
        "q9_product_profit": q9_product_profit,
        "q11_important_stock": q11_important_stock,
        "q12_priority_class": q12_priority_class,
        "q20_excess_suppliers": q20_excess_suppliers,
    }
)


def ev_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream interval join
    (streaming/stream_join.interval_join): views within the 30 minutes
    preceding each purchase, per user — counted per purchase. Same code
    path the live stream runs (watermarks only attach on streaming
    frames), so the oracle pins the join semantics and the stream test
    covers state/eviction."""
    from strava_vector_search_spark.streaming.stream_join import interval_join

    ev = load_events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id"
    )
    out = interval_join(
        purchases, views, key="user_id", before_seconds=1800, after_seconds=0
    )
    return (
        out.groupBy(F.col("event_id").alias("purchase_id"))
        .agg(F.count(F.lit(1)).alias("n_views"))
        .orderBy("purchase_id")
    )


QUERIES.update({"ev_interval_join": ev_interval_join})


# ---------------------------------------------------------------------------
# Repetition / quality filtering (Gopher-style signals)


def tx_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition report + keep/drop decision, the filter pass a
    pretraining pipeline runs before tokenization (Gopher table A1): type-
    token ratio, adjacent-duplicate fraction, top-bigram coverage. Pure
    higher-order-function codegen over one documents scan — map-only, zero
    shuffles at any corpus size (the ORDER BY is presentation-only)."""
    from strava_vector_search_spark.functions import text as T

    tok = (
        _token_arrays(spark, sf_dir)
        .select("doc_id", F.col("_ts").alias("t"))
        .withColumn("n", F.size("t"))
        .filter(F.col("n") >= 2)
    )
    stats = T.repetition_stats(F.col("t"), F.col("n"))
    staged = tok.select(
        "doc_id",
        "n",
        stats["ttr"].alias("ttr"),
        stats["adj_dup_frac"].alias("adj_dup_frac"),
        stats["bigrams"].alias("bg"),
    )
    scored = staged.select(
        "doc_id",
        "ttr",
        "adj_dup_frac",
        T.top_bigram_count(F.col("bg")).alias("top_bigram_n"),
        F.round(F.lit(2.0) * T.top_bigram_count(F.col("bg")) / F.col("n"), 6).alias(
            "top_bigram_cover"
        ),
    )
    return scored.select(
        "*",
        (
            (F.col("ttr") >= 0.3)
            & (F.col("adj_dup_frac") < 0.3)
            & (F.col("top_bigram_cover") < 0.5)
        ).alias("keep"),
    ).orderBy("doc_id")


QUERIES.update({"tx_repetition_stats": tx_repetition_stats})


# ---------------------------------------------------------------------------
# Interchange-format sources (io/formats): JSONL and ORC roundtrips


def _docs_export_roundtrip(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    """Shared body: export documents to ``fmt``, re-read schema-first, return
    the typed rows. The oracle reads the parquet view directly, so the gate
    asserts LOSSLESS roundtrip (values, types, NULLs) through the format."""
    from strava_vector_search_spark.io import formats as FMT

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    token = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = f"/tmp/svs_{fmt}_cache_{token}"
    if fmt == "jsonl":
        FMT.write_jsonl(docs, path, compression="gzip")
        out = FMT.read_jsonl(spark, path, docs.schema, mode="PERMISSIVE")
        return out.filter(F.col(FMT.CORRUPT_COL).isNull()).drop(FMT.CORRUPT_COL)
    FMT.write_orc(docs, path)
    return FMT.read_orc(spark, path)


def s2_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL sink -> schema-first PERMISSIVE source; lossless vs parquet."""
    return _docs_export_roundtrip(spark, sf_dir, "jsonl")


def s3_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink -> source (zlib, stride-indexed); lossless vs parquet."""
    return _docs_export_roundtrip(spark, sf_dir, "orc")


QUERIES.update(
    {"s2_jsonl_roundtrip": s2_jsonl_roundtrip, "s3_orc_roundtrip": s3_orc_roundtrip}
)


# ---------------------------------------------------------------------------
# Product quantization (operators/pq): compressed-domain ANN


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ property gate, same contract as the IVF/LSH gates: encode the
    corpus to 8-byte codes (32x smaller than the float vectors), ADC-scan
    for 200 candidates per query, exact-rescore, and check (a) mean
    recall@10 vs brute force >= 0.8 over 5 queries (measured 0.98-1.0 at
    sf0.001-0.1 with m=8, k=256) and (b) every hit shared with the exact
    top-10 carries the IDENTICAL similarity (the refine stage uses the same
    scorer, so approximation lives only in candidate recall). n_encoded
    anchors the row to the data (one code per embedding row)."""
    from strava_vector_search_spark.operators import pq as PQ

    emb = load_table(spark, sf_dir, "embeddings")
    books = PQ.train_codebooks(emb)
    codes = PQ.encode_pq(emb, books).localCheckpoint(eager=False)
    n_encoded = codes.count()
    k, qids = 10, (3, 7, 11, 19, 23)
    hits, sims_exact = 0, True
    for qid in qids:
        qv = _query_vec(spark, sf_dir, qid)
        exact = {
            r["vec_id"]: r["similarity"]
            for r in S.brute_force_topk(
                emb, qv, k=k, id_col="vec_id", assume_normalized=True
            ).collect()
        }
        approx = {
            r["vec_id"]: r["similarity"]
            for r in PQ.pq_topk_refined(
                emb, codes, books, qv, k=k, n_cand=200
            ).collect()
        }
        common = set(exact) & set(approx)
        hits += len(common)
        sims_exact = sims_exact and all(exact[i] == approx[i] for i in common)
    return spark.createDataFrame(
        [
            (
                n_encoded,
                int(books.shape[0]),
                k,
                bool(hits / (k * len(qids)) >= 0.8),
                bool(sims_exact),
            )
        ],
        "n_encoded bigint, code_bytes int, k int,"
        " mean_recall_ge_080 boolean, refined_sims_exact boolean",
    )


QUERIES.update({"ann_pq_topk": ann_pq_topk})


# ---------------------------------------------------------------------------
# MMR diversity rerank (operators/rerank): exact oracle via recursive CTE


def vs_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified top-10 from the brute-force top-20 candidate set, lam=0.5.
    EXACT gate: the DuckDB twin replays the greedy selection with a
    recursive CTE (same 6-dp rounding, same id tie-break), so every pick,
    every rel and every running mmr score must match bit-for-bit."""
    from strava_vector_search_spark.operators.rerank import mmr_rerank

    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir, 0)
    cand = S.brute_force_topk(
        emb, qv, k=20, id_col="vec_id", assume_normalized=True
    ).withColumn("query_id", F.lit(0))
    out = mmr_rerank(cand, k=10, lam=0.5)
    return out.select("step", "vec_id", "rel", "mmr").orderBy("step")


QUERIES.update({"vs_mmr_rerank": vs_mmr_rerank})


def a12_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed quantile sketch (Greenwald-Khanna approx_percentile,
    accuracy 10000 => rank error <= 1e-4) checked against the exact
    interpolated percentile, which Spark and DuckDB compute identically:
    per quantile, the exact value matches bit-for-bit and the sketch lands
    within 0.2% relative error (measured <= 0.02%). The sketch is the
    100 TB path — one pass, mergeable partials, no sort; exact percentile
    requires a global sort."""
    li = load_table(spark, sf_dir, "lineitem")
    qs = [0.5, 0.9, 0.99]
    row = li.select(
        *[
            F.round(
                F.expr(f"percentile(l_extendedprice, {q})"), 4
            ).alias(f"e{i}")
            for i, q in enumerate(qs)
        ],
        *[
            F.expr(f"approx_percentile(l_extendedprice, {q}, 10000)").alias(
                f"a{i}"
            )
            for i, q in enumerate(qs)
        ],
    ).head()
    out = [
        (
            q,
            float(row[f"e{i}"]),
            bool(
                abs(row[f"a{i}"] - row[f"e{i}"]) / row[f"e{i}"] <= 0.002
            ),
        )
        for i, q in enumerate(qs)
    ]
    return spark.createDataFrame(
        out, "q double, exact double, sketch_within_02pct boolean"
    )


QUERIES.update({"a12_approx_quantiles": a12_approx_quantiles})


# ---------------------------------------------------------------------------
# BM25 full-text retrieval (operators/fulltext.py)


@_session_kernel
def _bm25_stats(spark: SparkSession, sf_dir: str, table: str) -> dict:
    """BM25 corpus stats per source table, a session kernel so repeated
    queries skip the stats pass — the same batch-retrieval amortization
    ``bm25_topk(stats=...)`` gives users."""
    from strava_vector_search_spark.operators.fulltext import (
        BM25_TERMS,
        bm25_corpus_stats,
    )

    src = (
        load_table(spark, sf_dir, "documents")
        if table == "documents"
        else corpus_with_vectors(spark, sf_dir)
    )
    return bm25_corpus_stats(src, "text", BM25_TERMS)


def tx_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 over documents for a 4-term query — the keyword
    retrieval half of a search engine (two shuffle-free scans: stats
    aggregate, then map-only score + TakeOrderedAndProject)."""
    from strava_vector_search_spark.operators.fulltext import (
        BM25_TERMS,
        bm25_topk,
    )

    docs = load_table(spark, sf_dir, "documents")
    stats = _bm25_stats(spark, sf_dir, "documents")
    return bm25_topk(
        docs, BM25_TERMS, k=10, payload_cols=("lang",), stats=stats
    ).select("doc_id", "lang", "bm25")


def vs_hybrid_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with a real lexical ranker: BM25 (saturated to
    [0,1) via s/(s+1)) fused 0.4/0.6 with the semantic dot product.
    Upgrades vs_hybrid_topk's term-overlap score to the standard ranking
    function; one corpus scan computes both signals."""
    from strava_vector_search_spark.functions.vector import dot_product
    from strava_vector_search_spark.operators.fulltext import (
        BM25_TERMS,
        bm25_score,
    )
    from strava_vector_search_spark.functions.text import tokens as _toks

    corpus = corpus_with_vectors(spark, sf_dir)
    stats = _bm25_stats(spark, sf_dir, "corpus")
    qv = _query_vec(spark, sf_dir, 8)
    qcol = lit_double_array(qv)
    scored = corpus.filter(F.col("doc_id") != 8).select(
        "doc_id",
        "lang",
        F.round(
            dot_product(F.col("embedding").cast("array<double>"), qcol), 6
        ).alias("vector_score"),
        bm25_score(_toks(F.col("text")), stats, BM25_TERMS).alias("bm25"),
    )
    out = scored.withColumn(
        "score",
        F.round(
            F.lit(0.6) * F.col("vector_score")
            + F.lit(0.4) * (F.col("bm25") / (F.col("bm25") + F.lit(1.0))),
            6,
        ),
    )
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)


QUERIES.update(
    {"tx_bm25_topk": tx_bm25_topk, "vs_hybrid_bm25_topk": vs_hybrid_bm25_topk}
)


# ---------------------------------------------------------------------------
# data-quality expectation suite (operators/quality.py)


def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint-check report over the warehouse: uniqueness, referential
    integrity, accepted values, ranges, regex shape, null checks — each a
    SUM(CASE) in one aggregate per table (row-level), a distinct-key
    groupBy (unique), or a left-anti join (foreign key)."""
    from strava_vector_search_spark.operators import quality as Q

    tables = {
        t: load_table(spark, sf_dir, t)
        for t in ("orders", "lineitem", "customer", "documents")
    }
    suite = {
        "orders": [
            Q.unique("o_orderkey"),
            Q.accepted_values("o_orderstatus", ["O", "F", "P"]),
            Q.foreign_key("o_custkey", "customer", "c_custkey"),
        ],
        "lineitem": [
            Q.foreign_key("l_orderkey", "orders", "o_orderkey"),
            Q.in_range("l_discount", 0.0, 0.05),
            Q.not_null("l_shipdate"),
        ],
        "customer": [
            Q.not_null("c_name"),
            Q.matches("c_name", "^Customer#[0-9]+$"),
            Q.in_range("c_acctbal", -500.0, 10000.0),
        ],
        "documents": [Q.not_null("text")],
    }
    return Q.expectation_report(tables, suite)


QUERIES.update({"dq_expectations": dq_expectations})


# ---------------------------------------------------------------------------
# CDC changelog application (operators/cdc.py)


def cdc_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO equivalent: apply a derived I/U/D change feed to the
    orders snapshot (latest-per-key window + anti-join union; the change
    side broadcasts, the snapshot never shuffles). The feed is built
    deterministically from orders itself so the oracle can replay it:
    %7 keys get a +10% reprice (seq 1), %21 keys a second +20% reprice
    (seq 2, must win), %11 keys a delete (seq 3, beats reprices on
    7∩11 keys), %13 keys re-inserted under key+10_000_000 (seq 1).
    Prices are integer cents with exact integer division — bit-exact
    across engines, no double-rounding hazard."""
    from strava_vector_search_spark.operators.cdc import apply_changelog

    orders = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    base = orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("price_cents"),
        "o_orderdate",
        "o_orderpriority",
    )

    def change(filt, seq, op, key=k, cents=F.col("price_cents")):
        return base.filter(filt).select(
            key.alias("o_orderkey"),
            "o_custkey",
            "o_orderstatus",
            cents.alias("price_cents"),
            "o_orderdate",
            "o_orderpriority",
            F.lit(seq).alias("seq"),
            F.lit(op).alias("op"),
        )

    changes = (
        change(k % 7 == 0, 1, "U", cents=F.expr("price_cents * 110 div 100"))
        .unionByName(
            change(k % 21 == 0, 2, "U", cents=F.expr("price_cents * 120 div 100"))
        )
        .unionByName(change(k % 11 == 0, 3, "D"))
        .unionByName(change(k % 13 == 0, 1, "I", key=k + 10_000_000))
    )
    merged = apply_changelog(base, changes, keys=["o_orderkey"])
    return merged.select(
        "o_orderkey", "o_orderstatus", "price_cents"
    ).orderBy("o_orderkey")


QUERIES.update({"cdc_apply_changelog": cdc_apply_changelog})


# ---------------------------------------------------------------------------
# vocabulary build + corpus encoding (operators/vocab.py)


def tx_vocab_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-64 token vocabulary (cnt DESC, token ASC; id = rank). Map-side
    combined count + TakeOrderedAndProject."""
    from strava_vector_search_spark.operators.vocab import build_vocab

    docs = load_table(spark, sf_dir, "documents")
    return build_vocab(docs, "text", vocab_size=64)


def tx_encode_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer encode: docs -> integer id arrays through the broadcast
    top-64 vocab (OOV -> 0), map-only Arrow kernel, no shuffle. Array
    serialized to CSV for the driver canonicalizer."""
    from strava_vector_search_spark.operators.vocab import (
        build_vocab,
        encode_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    vocab = build_vocab(docs, "text", vocab_size=64)
    out = encode_documents(docs.filter(F.col("doc_id") < 30), vocab)
    return out.select(
        "doc_id",
        "n_tokens",
        F.array_join(F.col("ids").cast("array<string>"), ",").alias("ids_csv"),
    ).orderBy("doc_id")


QUERIES.update(
    {"tx_vocab_top": tx_vocab_top, "tx_encode_documents": tx_encode_documents}
)


def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 versioned history from a deterministic order changelog:
    %5 keys inserted (seq 1), %15 repriced +10% (seq 2), %45 deleted
    (seq 3). One window computes every validity interval; deleted keys
    end with no current version."""
    from strava_vector_search_spark.operators.cdc import scd2_history

    orders = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    base = orders.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("price_cents"),
    )

    def change(filt, seq, op, cents=F.col("price_cents")):
        return base.filter(filt).select(
            "o_orderkey",
            cents.alias("price_cents"),
            F.lit(seq).alias("seq"),
            F.lit(op).alias("op"),
        )

    changes = (
        change(k % 5 == 0, 1, "I")
        .unionByName(change(k % 15 == 0, 2, "U", cents=F.expr("price_cents * 110 div 100")))
        .unionByName(change(k % 45 == 0, 3, "D"))
    )
    out = scd2_history(changes, keys=["o_orderkey"])
    return out.select(
        "o_orderkey", "valid_from_seq", "valid_to_seq", "price_cents", "is_current"
    ).orderBy("o_orderkey", "valid_from_seq")


QUERIES.update({"cdc_scd2_history": cdc_scd2_history})


# ---------------------------------------------------------------------------
# pivot / unpivot (relational surface completion)


def a8_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts and decimal-summed revenue per priority,
    one column pair per status (engine completion; Spark groupBy().pivot()
    with explicit values so the plan is a single aggregate, no
    distinct-values pre-scan)."""
    orders = load_table(spark, sf_dir, "orders")
    out = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("rev"),
        )
        .orderBy("o_orderpriority")
    )
    return out.select(
        "o_orderpriority",
        *[
            F.round(F.col(f"{s}_{m}"), 2).alias(f"{s.lower()}_{m}")
            if m == "rev"
            else F.coalesce(F.col(f"{s}_{m}"), F.lit(0)).alias(f"{s.lower()}_{m}")
            for s in ("O", "F", "P")
            for m in ("n", "rev")
        ],
    )


def a9_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): lineitem charge components to (measure, value) rows
    via the native unpivot operator — map-only, no shuffle before the
    aggregate."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 200)
    melted = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_extendedprice").alias("extendedprice"),
        F.col("l_discount").alias("discount"),
        F.col("l_tax").alias("tax"),
    ).unpivot(
        ["l_orderkey", "l_linenumber"],
        ["extendedprice", "discount", "tax"],
        "measure",
        "value",
    )
    return (
        melted.groupBy("measure")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4
            ).alias("total"),
        )
        .orderBy("measure")
    )


QUERIES.update({"a8_pivot": a8_pivot, "a9_unpivot": a9_unpivot})


# ---------------------------------------------------------------------------
# incremental aggregate maintenance (operators/incremental.py)


def agg_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-aggregate refresh: the orders revenue report split into
    a base state (orderdate < 1997-01-01) and a late-arriving delta batch,
    merged state-to-state. count/sum are monoids over DECIMAL(18,6), so
    the merge equals the full recompute BIT-EXACTLY -- which is what the
    oracle computes."""
    from strava_vector_search_spark.operators.incremental import (
        agg_state,
        finalize,
        merge_agg_state,
    )

    orders = load_table(spark, sf_dir, "orders")
    split = F.col("o_orderdate") < F.lit("1997-01-01").cast("date")
    keys = ["o_orderstatus", "o_orderpriority"]
    base = agg_state(orders.filter(split), keys, ["o_totalprice"])
    delta = agg_state(orders.filter(~split), keys, ["o_totalprice"])
    merged = finalize(merge_agg_state(base, delta, keys))
    return merged.select(
        "o_orderstatus",
        "o_orderpriority",
        "cnt",
        F.col("sum_o_totalprice").alias("revenue"),
        F.col("avg_o_totalprice").alias("avg_price"),
    ).orderBy("o_orderstatus", "o_orderpriority")


QUERIES.update({"agg_incremental_merge": agg_incremental_merge})


def smp_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample (Efraimidis-Spirakis A-Res) of 50
    documents with weight = n_chars: hash-derived uniforms, u^(1/w) sort
    keys, global top-k -- reproducible on any engine or partitioning."""
    from strava_vector_search_spark.operators.sampling import (
        weighted_sample_topk,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = weighted_sample_topk(docs, "doc_id", "n_chars", k=50)
    return out.select("doc_id", "n_chars", "ws_key")


QUERIES.update({"smp_weighted_sample": smp_weighted_sample})


# ---------------------------------------------------------------------------
# event analytics: funnel + retention cohorts


def ev_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view -> click -> purchase: each stage is a
    per-user conditional min-timestamp aggregate joined to the previous
    stage (strictly-after semantics). Three user-keyed shuffles of
    already-aggregated per-user rows -- the canonical distributed funnel."""
    ev = load_events(spark, sf_dir)
    u = "user_id"
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy(u)
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, u)
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy(u)
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, u)
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy(u)
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_click")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase")))
        .select(
            "n_view",
            "n_click",
            "n_purchase",
            F.round(F.col("n_click") / F.col("n_view"), 4).alias("conv_click"),
            F.round(F.col("n_purchase") / F.col("n_click"), 4).alias(
                "conv_purchase"
            ),
        )
    )


def ev_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: cohort = ISO week of the user's first
    event; cell = distinct users from that cohort active N weeks later.
    One per-user first-event aggregate broadcast back onto the events
    scan, then a (cohort, offset) distinct-count."""
    ev = load_events(spark, sf_dir)
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    cells = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.expr(
                "datediff(cast(date_trunc('week', ts) as date), cohort_week) div 7"
            ).alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("active_users"))
    )
    return cells.orderBy("cohort_week", "week_offset")


QUERIES.update(
    {"ev_funnel": ev_funnel, "ev_retention_cohorts": ev_retention_cohorts}
)


# ---------------------------------------------------------------------------
# time-RANGE window frames + grouping sets (relational surface completion)


def w_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour per-user event aggregate via a RANGE window frame
    over epoch seconds (RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) --
    the time-window analytic ROWS frames can't express when event spacing
    is irregular. One shuffle on user_id."""
    ev = load_events(spark, sf_dir).filter(F.col("user_id") < 20)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    out = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_trailing_1h"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double"),
            4,
        ).alias("sum_trailing_1h"),
    )
    return out.orderBy("user_id", "ts", "event_id")


def a13_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS ((status, priority), (status), ()) with grouping_id to
    label subtotal levels -- one Expand + one aggregate, not three scans."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               grouping(o_orderstatus) AS g_status,
               grouping(o_orderpriority) AS g_priority,
               COUNT(*) AS cnt,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority
        """
    )


QUERIES.update(
    {
        "w_time_range_frame": w_time_range_frame,
        "a13_grouping_sets": a13_grouping_sets,
    }
)


def j_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys match
    each other instead of vanishing — the semantics dimension-matching
    pipelines need for 'unknown' buckets. NULLs derived via NULLIF so the
    oracle replays them."""
    cust = load_table(spark, sf_dir, "customer")
    a = cust.select(
        "c_custkey",
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg"),
    )
    dims = (
        cust.select(
            F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg")
        )
        .distinct()
        .withColumn("seg_label", F.coalesce(F.col("seg"), F.lit("UNKNOWN")))
    )
    out = (
        a.join(dims, a["seg"].eqNullSafe(dims["seg"]), "inner")
        .groupBy("seg_label")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    return out.orderBy("seg_label")


def dd_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy-match: part-name pairs within the same brand at
    Levenshtein distance <= 3. The brand block key bounds the candidate
    explosion (the fuzzy-join pattern: domain blocking key + exact edit
    distance on survivors); never an all-pairs cross join."""
    part = load_table(spark, sf_dir, "part")
    # dedup-before-join: the O(block²) levenshtein kernel runs over DISTINCT
    # (brand, name) values only — text corpora and catalog tables repeat
    # values heavily (sf0.1: 20K parts but 64 distinct names → ~50K kernel
    # calls instead of ~8M) — and the row-level pair counts are re-expanded
    # arithmetically afterward: a cross name-pair with multiplicities
    # (c1, c2) stands for c1*c2 key pairs, an identical name for C(c, 2).
    # Exact (the key-level pair set is recovered, not approximated) and the
    # quadratic term now scales with distinct values per block, not rows.
    names = part.groupBy(
        F.col("p_brand").alias("brand"), F.col("p_name").alias("name")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    a = names.select(
        "brand", F.col("name").alias("n1"), F.col("cnt").alias("c1")
    )
    b = names.select(
        "brand", F.col("name").alias("n2"), F.col("cnt").alias("c2")
    )
    cross = (
        a.join(b, "brand")
        .filter(F.col("n1") < F.col("n2"))
        # thresholded levenshtein (Spark 3.5+) early-exits at distance > 3
        # (returns -1), turning the kernel O(threshold * len)
        .withColumn("dist", F.levenshtein(F.col("n1"), F.col("n2"), 3))
        .filter(F.col("dist") >= 0)
        .select("brand", "dist", (F.col("c1") * F.col("c2")).alias("mult"))
    )
    same = names.filter(F.col("cnt") > 1).select(
        "brand",
        F.lit(0).alias("dist"),
        (F.col("cnt") * (F.col("cnt") - 1) / 2).cast("bigint").alias("mult"),
    )
    pairs = cross.unionByName(same)
    return (
        pairs.groupBy("brand")
        .agg(
            F.sum("mult").cast("bigint").alias("n_pairs"),
            F.min("dist").alias("min_dist"),
            F.round(
                F.sum(F.col("dist") * F.col("mult")) / F.sum("mult"), 6
            ).alias("avg_dist"),
            F.sum(F.when(F.col("dist") == 0, F.col("mult")).otherwise(0))
            .cast("bigint")
            .alias("n_identical"),
        )
        .orderBy("brand")
    )


QUERIES.update(
    {"j_null_safe": j_null_safe, "dd_fuzzy_name_pairs": dd_fuzzy_name_pairs}
)


def a14_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Pearson correlation + covariance of lineitem price vs
    quantity from EXACT decimal moment sums (n, Σx, Σy, Σxy, Σx², Σy²) --
    the order-insensitive formulation; built-in corr()/covar_samp()
    accumulate doubles whose partial order differs per engine. One
    map-side-combined aggregate, moments -> doubles -> one IEEE evaluation
    per statistic."""
    li = load_table(spark, sf_dir, "lineitem")
    # the 19-digit width pushes both engines onto the 128-bit decimal path
    # for the products (DuckDB's 12,6 x 12,6 multiply overflows int64)
    x = F.col("l_extendedprice").cast("decimal(19,6)")
    y = F.col("l_quantity").cast("decimal(19,6)")
    m = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum((x * y).cast("decimal(38,12)")).alias("sxy"),
        F.sum((x * x).cast("decimal(38,12)")).alias("sxx"),
        F.sum((y * y).cast("decimal(38,12)")).alias("syy"),
    ).select(
        F.col("n"),
        F.col("sx").cast("double").alias("sx"),
        F.col("sy").cast("double").alias("sy"),
        F.col("sxy").cast("double").alias("sxy"),
        F.col("sxx").cast("double").alias("sxx"),
        F.col("syy").cast("double").alias("syy"),
    )
    n = F.col("n").cast("double")
    cov = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / (n - F.lit(1.0))
    corr = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select(
        "n",
        F.round(cov, 4).alias("covar_price_qty"),
        F.round(corr, 6).alias("corr_price_qty"),
    )


QUERIES.update({"a14_stats_moments": a14_stats_moments})


def ev_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session path analysis: top event-type transitions (bigrams) WITHIN
    sessions -- sessionize (lag + running sum, one user-keyed shuffle),
    lag the event type inside each session, count transitions. The
    navigation-flow query of product analytics."""
    ev = load_events(spark, sf_dir)
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 30 * 60 * 1_000_000
    with_id = ev.withColumn(
        "new_sess",
        F.when(
            F.lag(us).over(w).isNull() | ((us - F.lag(us).over(w)) > gap_us), 1
        ).otherwise(0),
    ).withColumn(
        "session_seq",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    ws = Window.partitionBy("user_id", "session_seq").orderBy("ts", "event_id")
    paths = with_id.withColumn(
        "prev_type", F.lag("event_type").over(ws)
    ).filter(F.col("prev_type").isNotNull())
    return (
        paths.groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_transitions"))
        .orderBy(F.desc("n_transitions"), "from_type", "to_type")
        .limit(15)
    )


QUERIES.update({"ev_session_paths": ev_session_paths})


def dd_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style span-level exact dedup: every 10-token span kept only at its
    first corpus-global occurrence, documents rebuilt from surviving spans.
    One window shuffle keyed by the raw span text + one group-back."""
    from strava_vector_search_spark.operators.dedup import paragraph_dedup

    docs = load_table(spark, sf_dir, "documents")
    return paragraph_dedup(docs, "doc_id", "text", span_tokens=10).orderBy(
        "doc_id"
    )


def dd_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: distinct 3-gram overlap of each training
    doc against a held-out eval set (doc_id % 41 == 0), broadcast eval-side
    probe, flag at 10% contaminated fraction."""
    from strava_vector_search_spark.operators.dedup import decontaminate

    docs = load_table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 41 == 0)
    corpus = docs.filter(F.col("doc_id") % 41 != 0)
    return decontaminate(
        corpus, eval_df, "doc_id", "text", n=3, threshold=0.1
    ).orderBy("doc_id")


def dd_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution keeping the BEST member: MinHash-LSH
    verified pairs -> connected components -> per-cluster argmax on
    (n_chars, -doc_id) — the keep-longest policy of real training
    pipelines, vs the keep-first policy of dd_exact_dedup_keep_first."""
    from strava_vector_search_spark.operators.dedup import dedup_keep_best

    docs = load_table(spark, sf_dir, "documents")
    pairs = _minhash_pairs(spark, sf_dir)
    quality = F.col("n_chars").cast("bigint") * 1_000_000 - F.col("doc_id")
    out = dedup_keep_best(docs, pairs, "doc_id", quality)
    return out.select(
        "comp",
        "keep_id",
        "n_members",
        (
            (F.col("best_quality") + F.col("keep_id")) / 1_000_000
        ).cast("bigint").alias("best_chars"),
    ).orderBy("comp")


def tx_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms: two map-side-combined aggregates,
    one AQE-broadcast vocabulary join, one ranking window."""
    from strava_vector_search_spark.operators.fulltext import tfidf_top_terms

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, "doc_id", "text", k=3).orderBy(
        "doc_id", "rank"
    )


def w_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution windows: NTILE(4) quartile, PERCENT_RANK and CUME_DIST
    of customer balances within each market segment (deterministic
    (acctbal, custkey) ordering), sampled to every 50th customer AFTER the
    window so the full-partition semantics are exercised."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    out = cust.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )
    return out.filter(F.col("c_custkey") % 50 == 0).orderBy("c_custkey")


QUERIES.update(
    {
        "dd_paragraph_dedup": dd_paragraph_dedup,
        "dd_decontaminate": dd_decontaminate,
        "dd_cluster_keep_best": dd_cluster_keep_best,
        "tx_tfidf_top_terms": tx_tfidf_top_terms,
        "w_ntile_quartiles": w_ntile_quartiles,
    }
)


def sql_recursive_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE): generate the complete month
    series spanning the orders table, then LEFT JOIN monthly order counts
    and revenue — the calendar-densification query reporting pipelines need
    (months with zero orders still get a row). The max month rides along in
    the anchor row so the recursion needs no correlated subquery; revenue
    sums route through DECIMAL(18,2) so partial-aggregation order cannot
    change the result. The ~N-row series side broadcasts."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_recur"
    )
    return spark.sql(
        """
        WITH RECURSIVE m(month, maxm) AS (
          SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE),
                 CAST(date_trunc('month', MAX(o_orderdate)) AS DATE)
          FROM orders_recur
          UNION ALL
          SELECT CAST(month + INTERVAL 1 MONTH AS DATE), maxm
          FROM m WHERE month < maxm
        )
        SELECT m.month,
               COUNT(o.o_orderkey) AS n_orders,
               CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 0)
                    AS DECIMAL(18,2)) AS revenue
        FROM m LEFT JOIN orders_recur o
          ON CAST(date_trunc('month', o.o_orderdate) AS DATE) = m.month
        GROUP BY m.month
        ORDER BY m.month
        """
    )


def a15_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches: per-(event_type, day) HLL sketches
    of user_id are UNIONED up to per-event_type estimates — the incremental
    maintenance pattern for 100 TB distinct counts (persist daily sketch
    states, merge instead of recount; a recount scans everything, a merge
    touches |days| kilobyte-sized states). Property oracle like
    a11_approx_distinct_bounds: the merged estimate must land within 5% of
    the exact distinct (HLL lgk=12 standard error is ~1.6%)."""
    ev = load_events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return (
        exact.join(merged, "event_type")
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("est") - F.col("exact_users"))
                / F.col("exact_users")
                <= 0.05
            ).alias("within_5pct"),
        )
        .orderBy("event_type")
    )


def tx_clean_markup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup cleaning for crawled corpora: deterministic HTML wrapping of
    the document text (tags + a comment), then the standard strip chain —
    drop comments (non-greedy), drop tags, collapse whitespace, trim — and
    a roundtrip check against the whitespace-normalized original. Map-only
    regexp expressions, whole-stage codegen, no Python."""
    docs = load_table(spark, sf_dir, "documents")
    marked = F.concat(
        F.lit("<html><body><p>"),
        F.regexp_replace(F.col("text"), " the ", " </p><p>the "),
        F.lit("</p><!-- generated --></body></html>"),
    )
    no_comment = F.regexp_replace(marked, "<!--.*?-->", " ")
    no_tags = F.regexp_replace(no_comment, "<[^>]+>", " ")
    cleaned = F.trim(F.regexp_replace(no_tags, "\\s+", " "))
    base = F.trim(F.regexp_replace(F.col("text"), "\\s+", " "))
    return docs.select(
        "doc_id",
        F.length(cleaned).cast("bigint").alias("clean_chars"),
        (cleaned == base).alias("roundtrip_ok"),
    ).orderBy("doc_id")


QUERIES.update(
    {
        "sql_recursive_series": sql_recursive_series,
        "a15_hll_union": a15_hll_union,
        "tx_clean_markup": tx_clean_markup,
    }
)


def tx_stopword_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword removal as pure array expressions: filter the token array
    against a literal stopword set (map-only, codegen; the list rides in
    the expression tree — no join, no UDF), emit content-token counts, the
    stopword fraction, and a 5-token content preview. Token array and
    filtered array are each materialized in their own projection so the
    regex tokenization runs once per row."""
    stop = F.array(
        *[
            F.lit(w)
            for w in (
                "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
            )
        ]
    )
    tok = _token_arrays(spark, sf_dir)
    staged = tok.select(
        "doc_id",
        F.size("_ts").cast("bigint").alias("n_tokens"),
        F.filter(
            F.col("_ts"), lambda t: ~F.array_contains(stop, t)
        ).alias("_ct"),
    )
    return staged.select(
        "doc_id",
        "n_tokens",
        F.size("_ct").cast("bigint").alias("n_content"),
        F.round(
            (F.col("n_tokens") - F.size("_ct")) / F.col("n_tokens"), 6
        ).alias("stop_frac"),
        F.array_join(F.slice("_ct", 1, 5), " ").alias("content_preview"),
    ).orderBy("doc_id")


def f_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed analytics: per-document token-frequency map built with
    map_from_entries over the distinct tokens, probed with element_at
    (missing key → NULL) and map_keys — the map-column surface of the
    engine. The map is materialized in its own projection so it is built
    once per row, not once per output column."""
    tok = _token_arrays(spark, sf_dir)
    ts = F.col("_ts")
    freq_map = F.map_from_entries(
        F.transform(
            F.array_distinct(ts),
            lambda t: F.struct(
                t.alias("k"),
                F.size(F.filter(ts, lambda x: x == t))
                .cast("bigint")
                .alias("v"),
            ),
        )
    )
    staged = tok.select("doc_id", freq_map.alias("_m"))
    m = F.col("_m")
    return staged.select(
        "doc_id",
        F.size(F.map_keys(m)).cast("bigint").alias("n_distinct_tokens"),
        F.element_at(m, "value").alias("cnt_value"),
        F.element_at(m, "table").alias("cnt_table"),
        F.array_contains(F.map_keys(m), "spark").alias("has_spark"),
    ).orderBy("doc_id")


QUERIES.update(
    {
        "tx_stopword_filter": tx_stopword_filter,
        "f_map_funcs": f_map_funcs,
    }
)


def ev_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (F.session_window, the same operator the
    streaming engine uses): 30-minute-gap sessions per user in ONE
    groupBy — no lag/running-sum window pair. Note the boundary semantics
    differ from ev_sessionize's lag formulation: a gap of exactly 30:00
    starts a NEW session here (windows merge only on strict overlap)."""
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("sw")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("ts").alias("last_event"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end_padded"),
            "n_events",
            "last_event",
        )
        .orderBy("user_id", "session_start")
    )


def ev_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (2 h window, 1 h slide): every event lands
    in two overlapping windows — the moving-aggregate view streaming and
    batch share. One Expand (2 rows per event) + one partial-combined
    aggregate."""
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy(
            "event_type", F.window("ts", "2 hours", "1 hour").alias("w")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 2
            ).alias("sum_value"),
        )
        .select(
            "event_type",
            F.col("w.start").alias("wstart"),
            "n",
            "sum_value",
        )
        .orderBy("event_type", "wstart")
    )


def w_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST_VALUE / LAST_VALUE / NTH_VALUE over full-partition frames:
    per customer (every 100th), the first order date, the price of the
    latest order (unbounded-following frame — the part naive LAST_VALUE
    gets wrong), and the 2nd order's key."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    wn = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    out = orders.select(
        "o_custkey",
        F.first_value("o_orderdate").over(w).alias("first_date"),
        F.last_value("o_totalprice").over(w).alias("last_price"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_key"),
        F.row_number().over(wn).alias("_rn"),
    )
    return (
        out.filter((F.col("_rn") == 1) & (F.col("o_custkey") % 100 == 0))
        .drop("_rn")
        .orderBy("o_custkey")
    )


QUERIES.update(
    {
        "ev_session_window_native": ev_session_window_native,
        "ev_sliding_window": ev_sliding_window,
        "w_first_last_nth": w_first_last_nth,
    }
)


def tx_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-prep chunking: overlapping 30-token windows at stride 20 (10
    tokens of overlap), one row per chunk with its position and text — the
    inverse of pk_sequence_packing. Map-only: tokens and the chunk array
    each materialize in their own projection, the per-chunk text/size are
    computed on the exploded (small) array column."""
    window, stride = 30, 20
    tok = _token_arrays(spark, sf_dir)
    ts = F.col("_ts")
    n_chunks = F.ceil(F.size(ts) / F.lit(stride)).cast("int")
    chunks = F.when(
        F.size(ts) > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.slice(ts, i * stride + 1, window),
        ),
    ).otherwise(F.array().cast("array<array<string>>"))
    ex = tok.select("doc_id", chunks.alias("_chunks")).select(
        "doc_id", F.posexplode_outer("_chunks").alias("chunk_idx", "arr")
    )
    return (
        ex.filter(F.col("arr").isNotNull())
        .select(
            "doc_id",
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            F.size("arr").cast("bigint").alias("n_chunk_tokens"),
            F.array_join("arr", " ").alias("chunk_text"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


def tx_quality_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection for curation: per-language median + MAD
    (median absolute deviation) of document length, flag |x − med| >
    1.5·MAD (the synthetic length distribution is tight; 1.5 keeps the
    flag exercised at every scale factor). Exact interpolated percentiles (bit-equal to quantile_cont);
    the per-language stats are a handful of rows and broadcast back."""
    docs = load_table(spark, sf_dir, "documents")
    med = docs.groupBy("lang").agg(
        F.percentile("n_chars", F.lit(0.5)).alias("med")
    )
    with_med = docs.join(F.broadcast(med), "lang")
    mad = with_med.groupBy("lang").agg(
        F.percentile(F.abs(F.col("n_chars") - F.col("med")), F.lit(0.5)).alias(
            "mad"
        )
    )
    flagged = with_med.join(F.broadcast(mad), "lang").filter(
        F.abs(F.col("n_chars") - F.col("med")) > 1.5 * F.col("mad")
    )
    return flagged.select("doc_id", "lang", "n_chars", "med", "mad").orderBy(
        "doc_id"
    )


def a16_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus profile: doc/lang/source counts, mean length, and the
    language-distribution entropy (−Σ p·ln p) — the balance diagnostic of a
    multilingual training mix. Two tiny aggregates (per-lang counts, then
    the entropy fold) plus one global aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    lc = docs.groupBy("lang").count()
    tot = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )
    ent = lc.crossJoin(tot.select("n_docs")).agg(
        F.round(
            -F.sum(
                (F.col("count") / F.col("n_docs"))
                * F.log(F.col("count") / F.col("n_docs"))
            ),
            6,
        ).alias("lang_entropy")
    )
    return tot.crossJoin(ent)


QUERIES.update(
    {
        "tx_chunk_documents": tx_chunk_documents,
        "tx_quality_outliers": tx_quality_outliers,
        "a16_corpus_profile": a16_corpus_profile,
    }
)


def s4_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: generation 1 files lack the n_chars
    column, generation 2 adds it; mergeSchema unions the footers and
    backfills NULL for the old files — the append-only lakehouse pattern
    for adding columns without rewriting history."""
    docs = load_table(spark, sf_dir, "documents")
    token = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = f"/tmp/svs_evo_{token}"
    docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "lang", "source"
    ).write.mode("overwrite").parquet(path)
    docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", "source", "n_chars"
    ).write.mode("append").parquet(path)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(path)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


def j_dpp_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is directory-partitioned
    on o_orderpriority; the dim side's filter is only known at run time
    (broadcast result), and Spark injects it as a partition filter on the
    fact scan (dynamicpruningexpression in the plan — asserted by the plan
    audit), so 4 of 5 partitions are never read. The 100 TB pattern for
    star-schema date/dimension filters."""
    orders = load_table(spark, sf_dir, "orders")
    token = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = f"/tmp/svs_dpp_{token}"
    orders.write.mode("overwrite").partitionBy("o_orderpriority").parquet(
        path
    )
    fact = spark.read.parquet(path)
    dim = (
        orders.select("o_orderpriority")
        .distinct()
        .withColumn("cls", F.substring("o_orderpriority", 1, 1))
    )
    return (
        fact.join(F.broadcast(dim.filter(F.col("cls") == "1")), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


QUERIES.update(
    {
        "s4_schema_evolution": s4_schema_evolution,
        "j_dpp_partition_pruned": j_dpp_partition_pruned,
    }
)


def dd_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-substring mining (the diagnostic behind exact-substring
    dedup, Lee et al.): 10-token shingles at stride 1 occurring in MORE
    THAN ONE document, ranked by document frequency. Per-doc-distinct
    shingles → one map-side-combined count, top-50 via
    TakeOrderedAndProject; the inverted-index shape of the n-gram dedup
    family, never all-pairs."""
    from strava_vector_search_spark.operators.dedup import shingle_rows

    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_rows(docs, "doc_id", "text", n=10)
    return (
        sh.groupBy("s")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy(F.desc("n_docs"), F.asc("s"))
        .limit(50)
    )


def smp_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training negative mining: each anchor document draws
    K=2 pseudo-random negatives via the portable md5 hash (deterministic
    across engines, partitionings, and retries — no RNG), joined back for
    the negative's payload. Map-only draw + one equi-join; self-pairs
    filtered."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    drawn = docs.select(
        "doc_id", F.explode(F.array(F.lit(0), F.lit(1))).alias("k")
    ).withColumn(
        "neg_id",
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("neg:"),
                            F.col("doc_id").cast("string"),
                            F.lit(":"),
                            F.col("k").cast("string"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("bigint"),
            F.lit(n),
        ),
    )
    neg = docs.select(
        F.col("doc_id").alias("neg_id"), F.col("source").alias("neg_source")
    )
    return (
        drawn.join(neg, "neg_id")
        .filter(F.col("neg_id") != F.col("doc_id"))
        .select("doc_id", "k", "neg_id", "neg_source")
        .orderBy("doc_id", "k")
    )


QUERIES.update(
    {
        "dd_repeated_spans": dd_repeated_spans,
        "smp_negative_pairs": smp_negative_pairs,
    }
)


def j_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: per-nation top-2 customers by balance,
    expressed as the SQL-standard lateral join (the per-group-top-N shape
    w_rank_per_group writes with window functions). Catalyst decorrelates
    it into a ranked window, so there is no nested re-execution per outer
    row."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation_lat")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer_lat"
    )
    return spark.sql(
        """
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM nation_lat n, LATERAL (
          SELECT c_name, c_acctbal FROM customer_lat c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_name LIMIT 2) t
        ORDER BY n.n_name, t.c_acctbal DESC, t.c_name
        """
    )


def t_offset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless pagination: global ORDER BY + LIMIT/OFFSET (page 3 of 20).
    OFFSET after a global sort is inherently driver-side skip — fine for
    UI pages, wrong for data export (use keyset pagination on the sort key
    instead); kept as the SQL-surface parity entry."""
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.select("c_custkey", "c_name", "c_acctbal")
        .orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
        .offset(40)
        .limit(20)
    )


QUERIES.update(
    {"j_lateral_topn": j_lateral_topn, "t_offset_page": t_offset_page}
)


def ann_ivf_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED approximate search — the production vector-search shape
    (metadata predicate + ANN): centroids from the FULL corpus rank the
    probe clusters, then the candidate scan applies BOTH the cluster
    semi-join and the metadata filter before exact scoring. On the
    cluster-partitioned + lang-bucketed layout both predicates prune at
    the parquet reader. Exact oracle (IVF here is deterministic)."""
    from strava_vector_search_spark.operators.ann import (
        collect_centroids,
        compute_centroids,
        ivf_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    cents = collect_centroids(compute_centroids(emb, "label", "embedding"))
    corpus = emb.join(
        docs.select("doc_id", "lang"),
        emb["vec_id"] == F.col("doc_id"),
        "inner",
    ).filter(F.col("lang") == "en")
    qv = _query_vec(spark, sf_dir, 11)
    out = ivf_topk(corpus, qv, k=10, nprobe=3, centroids=cents)
    return out.select("vec_id", "lang", "similarity")


QUERIES.update({"ann_ivf_topk_filtered": ann_ivf_topk_filtered})


def tx_unigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality scoring (the SQL-expressible stand-in for
    CCNet/KenLM perplexity filtering): a unigram LM trained on the corpus
    itself — per-token -ln p(t), per-document mean NLL and perplexity.
    One vocab aggregate (map-side combined), one AQE-broadcast join of the
    vocab, one per-doc aggregate; NLL sums route through DECIMAL(28,12) so
    partial-aggregation order cannot move the result."""
    tok = _token_arrays(spark, sf_dir).select(
        "doc_id", F.explode_outer("_ts").alias("t")
    )
    # cnt stays gate-local (not _unigram_counts): explode_OUTER means a
    # token-less doc contributes a NULL-token group to the vocab and to
    # the total, the semantics the oracle mirrors
    cnt = tok.groupBy("t").agg(F.count(F.lit(1)).alias("cnt"))
    total = int(cnt.agg(F.sum("cnt")).head()[0])
    terms = tok.join(cnt, "t").select(
        "doc_id",
        F.log(F.lit(float(total)) / F.col("cnt")).alias("nll"),
    )
    agg = terms.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(
            F.sum(F.col("nll").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_nll"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "avg_nll",
        F.round(F.exp(F.col("avg_nll")), 4).alias("ppl"),
    ).orderBy("doc_id")


QUERIES.update({"tx_unigram_perplexity": tx_unigram_perplexity})


def ev_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per day — the rolling-DISTINCT pattern
    window frames can't express (a user active on 3 days must count once):
    distinct (user, day) → each activity day contributes to itself and the
    next 6 days (one sequence explode) → distinct again → count per day.
    Days without a full trailing week are naturally included. Two
    distinct-shuffles of 16-byte pairs, never raw events."""
    ev = load_events(spark, sf_dir)
    ud = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"), F.date_add(F.col("day"), 6), F.expr("interval 1 day")
            )
        ).alias("wday"),
    ).distinct()
    # clip to days that actually have activity so the tail is comparable
    days = ud.select("day").distinct()
    return (
        contrib.join(days, contrib["wday"] == days["day"], "inner")
        .groupBy("wday")
        .agg(F.count(F.lit(1)).alias("wau"))
        .orderBy("wday")
    )


def f_url_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing surface (crawl metadata normalization): synthesize a URL
    from row fields, extract host / path / one query parameter with
    parse_url — map-only codegen; oracle uses the equivalent anchored
    regexes (RE2-portable)."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("lang"),
        F.lit("?id="),
        F.col("doc_id").cast("string"),
        F.lit("&v=1"),
    )
    staged = docs.select("doc_id", url.alias("_u"))
    return staged.select(
        "doc_id",
        F.parse_url("_u", F.lit("HOST")).alias("host"),
        F.parse_url("_u", F.lit("PATH")).alias("path"),
        F.parse_url("_u", F.lit("QUERY"), F.lit("id")).alias("id_param"),
    ).orderBy("doc_id")


QUERIES.update(
    {"ev_rolling_wau": ev_rolling_wau, "f_url_funcs": f_url_funcs}
)


def ev_value_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type anomaly counts via exact z-scores: mean/stddev from
    DECIMAL moment sums (order-insensitive, the a14_stats_moments
    machinery), broadcast back, count |z| > 3 per event type. The
    monitoring query that pairs with the streaming running totals."""
    ev = load_events(spark, sf_dir)
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(19,6)")).alias("s1"),
        F.sum(
            (
                F.col("value").cast("decimal(19,6)")
                * F.col("value").cast("decimal(19,6)")
            ).cast("decimal(38,12)")
        ).alias("s2"),
    )
    stats = stats.select(
        "event_type",
        "n",
        (F.col("s1").cast("double") / F.col("n")).alias("mean"),
        F.sqrt(
            (F.col("s2").cast("double") / F.col("n"))
            - (F.col("s1").cast("double") / F.col("n"))
            * (F.col("s1").cast("double") / F.col("n"))
        ).alias("sd"),
    )
    joined = ev.join(F.broadcast(stats), "event_type")
    return (
        joined.groupBy("event_type")
        .agg(
            F.max("n").alias("n_events"),
            F.round(F.max("mean"), 6).alias("mean_value"),
            F.round(F.max("sd"), 6).alias("sd_value"),
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("mean")) > 3 * F.col("sd"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .orderBy("event_type")
    )


def s5_dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dynamic partition overwrite: rewrite ONLY the partitions present in
    the incoming batch ('en' gets an uppercased text), other partitions'
    files untouched — partition-granular CDC, the lakehouse idiom for
    backfills that must not rewrite the world."""
    docs = load_table(spark, sf_dir, "documents")
    token = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = f"/tmp/svs_dpo_{token}"
    docs.select("doc_id", "text", "n_chars", "lang").write.mode(
        "overwrite"
    ).partitionBy("lang").parquet(path)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        docs.filter(F.col("lang") == "en").select(
            "doc_id", F.upper("text").alias("text"), "n_chars", "lang"
        ).write.mode("overwrite").partitionBy("lang").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    out = spark.read.parquet(path)
    return out.select(
        "doc_id", "lang", F.length("text").cast("bigint").alias("text_chars"),
        (F.col("text") == F.upper("text")).alias("is_upper"),
    ).orderBy("doc_id")


QUERIES.update(
    {
        "ev_value_zscore": ev_value_zscore,
        "s5_dynamic_partition_overwrite": s5_dynamic_partition_overwrite,
    }
)


# ---------------------------------------------------------------------------
# Training-mixture + batching completion: temperature resampling, bucketed
# batching, containment dedup, cumulative-distribution windows.


def dm_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed domain mixture (q_d ∝ n_d^0.6): the scarcest
    source keeps everything, abundant ones shed toward the smoothed share —
    the multilingual-pretraining upweighting recipe. Map-only admission
    over a broadcast 3-row rate table; audited per-source."""
    from strava_vector_search_spark.operators.sampling import temperature_resample

    docs = load_table(spark, sf_dir, "documents")
    mixed = temperature_resample(docs, "doc_id", "source", alpha=0.6)
    return (
        mixed.groupBy("source", "mix_threshold")
        .agg(F.count(F.lit(1)).alias("n_admitted"))
        .orderBy("source")
    )


def pk_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two length-bucketed batching (batch_size=32): per (bucket,
    batch) doc count, max length, and padding waste — the layout that
    bounds pad overhead to <2x when batching variable-length sequences.
    Bucket id via binary digit count so platform log() rounding can't move
    the power-of-two boundaries. One window shuffle on the bucket key."""
    from strava_vector_search_spark.functions import text as T
    from strava_vector_search_spark.operators.sampling import (
        length_bucketed_batches,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", T.token_count(F.col("text")).cast("bigint").alias("n_tok")
    )
    batched = length_bucketed_batches(docs, "doc_id", "n_tok", batch_size=32)
    return (
        batched.groupBy("bucket", "batch")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("n_tok").alias("batch_max_tok"),
            F.sum("n_tok").alias("batch_tokens"),
            (F.count(F.lit(1)) * F.max("n_tok") - F.sum("n_tok")).alias(
                "padding_waste"
            ),
        )
        .orderBy("bucket", "batch")
    )


def dd_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup: excerpts (first ~40% of every 11th
    doc, id+100000) are planted in the corpus; containment |A∩B|/min(|A|,
    |B|) ≥ 0.8 must recover them even though their Jaccard vs the parent is
    far below any symmetric threshold. Inverted-index join — shuffles
    shingle keys, never documents."""
    from strava_vector_search_spark.operators.dedup import containment_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    excerpts = docs.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.substring(
            F.col("text"), 1, (F.length("text") * 0.4).cast("int")
        ).alias("text"),
    )
    corpus = docs.unionByName(excerpts)
    return containment_pairs(
        corpus, "doc_id", "text", n=3, threshold=0.8
    ).orderBy("id1", "id2")


def w_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-distribution windows: percent_rank and cume_dist of event
    values within each event type, sampled at every 97th event — the
    rank-normalization primitive for per-group score calibration."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        ev.select(
            "event_id",
            "event_type",
            F.round("value", 6).alias("value"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
        )
        .filter(F.col("event_id") % 97 == 0)
        .orderBy("event_id")
    )


QUERIES.update(
    {
        "dm_temperature_mix": dm_temperature_mix,
        "pk_length_buckets": pk_length_buckets,
        "dd_containment_pairs": dd_containment_pairs,
        "w_cume_dist": w_cume_dist,
    }
)


def vs_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse-to-fine (matryoshka) retrieval: renormalized 16-dim prefix
    scores the whole corpus (24x less arithmetic at 768 dims), top-50
    survivors reranked exactly with the full vector. Both stages are
    TakeOrderedAndProject — no shuffle of losers."""
    from strava_vector_search_spark.operators.search import matryoshka_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir, 3)
    out = matryoshka_topk(
        emb,
        qv,
        prefix_dims=16,
        candidates=50,
        k=10,
        id_col="vec_id",
        predicate=F.col("vec_id") != 3,
    )
    return out.select("vec_id", "label", "coarse", "similarity")


def mm_patch_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style patch tokenization over decoded frames: 8x8 tiles with
    pixel offsets via sequence+explode — decode kernel and patch fan-out
    compose in one stage, no Python past the codec."""
    from strava_vector_search_spark.operators.multimodal import (
        decode_frames,
        patch_grid,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = docs.filter(F.col("doc_id") < 40).select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
    )
    return patch_grid(decode_frames(media), patch=8).orderBy(
        "media_id", "frame_idx", "patch_idx"
    )


QUERIES.update(
    {
        "vs_matryoshka_topk": vs_matryoshka_topk,
        "mm_patch_grid": mm_patch_grid,
    }
)


def dd_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup (the crawl-frontier screen): four messy
    variants per logical page (case, www + default port, trailing slash +
    utm tracking, fragment) must collapse to one canonical form; keep-first
    per canonical URL with variant counts. Map-only regexp chain + one
    hash aggregate on the canonical key."""
    from strava_vector_search_spark.functions.text import canonical_url

    docs = load_table(spark, sf_dir, "documents")
    b = (F.col("doc_id") % 50).cast("string")
    base_host = F.concat(F.col("source"), F.lit(".example.com"))
    base_path = F.concat(F.lit("/a/doc"), b)
    v = F.col("doc_id") % 4
    url = (
        F.when(v == 0, F.concat(F.lit("https://"), base_host, base_path))
        .when(
            v == 1,
            F.concat(
                F.upper(
                    F.concat(F.lit("https://www."), base_host, F.lit(":443"))
                ),
                base_path,
            ),
        )
        .when(
            v == 2,
            F.concat(
                F.lit("https://"), base_host, base_path,
                F.lit("/?utm_source=feed"),
            ),
        )
        .otherwise(
            F.concat(F.lit("https://"), base_host, base_path, F.lit("#frag"))
        )
    )
    staged = docs.select("doc_id", url.alias("raw_url"))
    canon = staged.select(
        "doc_id", "raw_url", canonical_url(F.col("raw_url")).alias("curl")
    )
    return (
        canon.groupBy(F.col("curl").alias("canonical_url"))
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct("raw_url").alias("n_variants"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .orderBy("canonical_url")
    )


QUERIES.update({"dd_url_dedup": dd_url_dedup})


def j_runtime_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join pruning: the selective dimension side
    (urgent orders) builds a bloom filter at runtime that is pushed into
    the fact-side scan as a might_contain predicate — rows that cannot
    join are dropped BEFORE the shuffle. At 100 TB this is the difference
    between shuffling the whole fact table and shuffling the ~20% that
    survives; semantically invisible (the oracle is the plain join).

    Thresholds are scoped to this query and restored after the physical
    plan is forced (a Dataset's QueryExecution is planned once), so the
    session keeps its defaults; broadcast is disabled here because the
    bloom path targets shuffle joins — the regime where the dim side is
    too big to broadcast but its key set still fits a few MB of bloom bits.
    PLANS.md asserts might_contain + bloom_filter_agg in the plan."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    prev = {}
    for k, v in confs.items():
        try:
            prev[k] = spark.conf.get(k)
        except Exception:
            prev[k] = None
        spark.conf.set(k, v)
    try:
        urgent = orders.filter(
            F.col("o_orderpriority") == "1-URGENT"
        ).select("o_orderkey")
        out = (
            li.join(urgent, li["l_orderkey"] == urgent["o_orderkey"])
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                _dsum("l_quantity").alias("sum_qty"),
                _dsum("l_extendedprice").alias("sum_price"),
            )
            .orderBy("l_returnflag")
        )
        # force physical planning NOW, while the scoped confs are active —
        # the cached QueryExecution keeps the bloom plan after restore
        out._jdf.queryExecution().executedPlan()
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return out


QUERIES.update({"j_runtime_bloom": j_runtime_bloom})


def tx_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM perplexity (one step closer to CCNet/KenLM
    than tx_unigram_perplexity): p(w2|w1) = 0.7·c12/c1 + 0.3·c2/N, trained
    on the corpus itself. Bigram extraction is a map-only index transform
    over the token array (no positional self-join); two vocab-sized
    aggregates (bigram + unigram counts) come back via AQE-broadcast
    joins; NLL sums route through DECIMAL(28,12). Context count c1 is the
    unigram count (counts doc-final tokens as context mass — a mild,
    deterministic smoothing; documented, mirrored in the oracle). Token
    arrays, vocab, and bigram counts all come from the shared LM kernels
    (_token_arrays/_unigram_counts/_bigram_counts)."""
    tok = _token_arrays(spark, sf_dir)
    uni = _unigram_counts(spark, sf_dir)
    total = int(uni.agg(F.sum("cnt")).head()[0])
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("_ts") - 1),
        lambda i: F.struct(
            F.element_at("_ts", i).alias("w1"),
            F.element_at("_ts", i + 1).alias("w2"),
        ),
    )
    big = (
        tok.filter(F.size("_ts") >= 2)
        .select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    bc = _bigram_counts(spark, sf_dir)
    u1 = uni.select(F.col("t").alias("w1"), F.col("cnt").alias("c1"))
    u2 = uni.select(F.col("t").alias("w2"), F.col("cnt").alias("c2"))
    terms = (
        big.join(bc, ["w1", "w2"])
        .join(u1, "w1")
        .join(u2, "w2")
        .select(
            "doc_id",
            (
                -F.log(
                    F.lit(0.7) * (F.col("c12") / F.col("c1"))
                    + F.lit(0.3) * (F.col("c2") / F.lit(float(total)))
                )
            ).alias("nll"),
        )
    )
    agg = terms.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_transitions"),
        F.round(
            F.sum(F.col("nll").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_nll"),
    )
    return agg.select(
        "doc_id",
        "n_transitions",
        "avg_nll",
        F.round(F.exp(F.col("avg_nll")), 4).alias("ppl"),
    ).orderBy("doc_id")


QUERIES.update({"tx_bigram_perplexity": tx_bigram_perplexity})


def vs_binary_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantization retrieval: sign-bit signatures (1 bit/dim, 32x
    less scan than float32 once materialized), popcount(xor) Hamming
    candidate scan, exact cosine rerank of the top-50 — both stages
    TakeOrderedAndProject, candidates broadcast back for the rerank."""
    from strava_vector_search_spark.operators.search import binary_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir, 21)
    return binary_topk(
        emb,
        qv,
        candidates=50,
        k=10,
        id_col="vec_id",
        predicate=F.col("vec_id") != 21,
    )


QUERIES.update({"vs_binary_topk": vs_binary_topk})


def dd_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: within-cluster cosine pairs (cluster = the label column,
    standing in for a k-means assignment) -> connected components -> one
    surviving representative per semantic group. Quadratic cost bounded by
    the largest cluster, not the corpus."""
    from strava_vector_search_spark.operators.dedup import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    out = semantic_dedup(
        emb, cluster_col="label", id_col="vec_id", threshold=0.3
    )
    return out.select(
        "vec_id", F.col("label").cast("int").alias("label"), "comp", "keep"
    ).orderBy("vec_id")


QUERIES.update({"dd_semantic_dedup": dd_semantic_dedup})


def tx_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup: rolling-hash boundaries (boundary
    after token i when the 4-token context hash % 16 == 0 -- robust to
    insertions, unlike fixed-stride spans), cross-document repeated chunks
    ranked by document frequency."""
    from strava_vector_search_spark.operators.dedup import cdc_repeated_chunks

    docs = load_table(spark, sf_dir, "documents")
    return cdc_repeated_chunks(
        docs, "doc_id", "text", window=4, divisor=16, top=30
    )


QUERIES.update({"tx_cdc_chunks": tx_cdc_chunks})


def tx_hash_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed linear text classifier (the fastText hashing trick): token ->
    weight-slot hash -> mean-weight logit -> sigmoid, all in one codegen
    fold per row. No vocab join, no UDF -- classifier at scan speed."""
    from strava_vector_search_spark.functions.text import (
        hashed_linear_score_tokens,
    )

    # tokenize ONCE into a column: three sibling references (count, fold,
    # size guard) would otherwise each inline the regex split
    tok = _token_arrays(spark, sf_dir)
    return (
        tok.select(
            "doc_id",
            F.size("_ts").alias("n_tokens"),
            hashed_linear_score_tokens(F.col("_ts")).alias("score"),
        )
        .withColumn("keep", F.col("score") >= 0.5)
        .orderBy("doc_id")
    )


QUERIES.update({"tx_hash_classifier": tx_hash_classifier})


def er_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end: a deterministic dirty-duplicate layer
    (every 5th part re-entered with its name's first char dropped and a
    1-cent-lower price) is planted over the part catalog, then blocking
    (brand) + fuzzy match (levenshtein <= 2 over distinct names) +
    connected components + survivorship must reconstruct one golden record
    per entity -- the argmax-(price, -id) member."""
    from strava_vector_search_spark.operators.er import er_resolve

    part = load_table(spark, sf_dir, "part")
    base = part.select(
        F.col("p_partkey").alias("rec_id"),
        F.col("p_brand").alias("block"),
        F.col("p_name").alias("name"),
        F.col("p_retailprice").alias("quality"),
    )
    dirty = part.filter(F.col("p_partkey") % 5 == 0).select(
        (F.col("p_partkey") + 10_000_000).alias("rec_id"),
        F.col("p_brand").alias("block"),
        F.expr("substr(p_name, 2)").alias("name"),
        (F.col("p_retailprice") - 0.01).alias("quality"),
    )
    contacts = base.unionByName(dirty)
    resolved = er_resolve(contacts, "rec_id", "block", "name", max_dist=2)
    qkey = (
        F.round(F.col("quality") * 100).cast("bigint") * 100_000_000
        - F.col("rec_id")
    )
    return (
        resolved.withColumn("__q", qkey)
        .groupBy("comp")
        .agg(
            F.expr("max_by(rec_id, __q)").alias("keep_id"),
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.max("quality"), 2).alias("best_price"),
        )
        .orderBy("comp")
    )


QUERIES.update({"er_golden_record": er_golden_record})


def ev_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each user's LONGEST consecutive-active-day streak
    (ties -> earliest). Island id = day - row_number() day-arithmetic; one
    user-keyed shuffle shared by the distinct, both windows, and the
    island aggregate."""
    from strava_vector_search_spark.io.tables import load_events

    ev = load_events(spark, sf_dir)
    days = ev.select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.withColumn(
        "grp", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    streaks = isl.groupBy("user_id", "grp").agg(
        F.min("d").alias("streak_start"),
        F.max("d").alias("streak_end"),
        F.count(F.lit(1)).alias("streak_days"),
    )
    rank_w = Window.partitionBy("user_id").orderBy(
        F.desc("streak_days"), F.asc("streak_start")
    )
    return (
        streaks.withColumn("rk", F.row_number().over(rank_w))
        .filter(F.col("rk") == 1)
        .select("user_id", "streak_start", "streak_end", "streak_days")
        .orderBy("user_id")
    )


QUERIES.update({"ev_streaks": ev_streaks})


def mm_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio modality plumbing: PCM decode stub (mapInPandas, Python only
    at the codec boundary) -> overlapping 32-sample windows at hop 16 with
    exact integer-accumulated RMS energy + peak, all JVM array
    expressions."""
    from strava_vector_search_spark.operators.multimodal import (
        audio_windows,
        decode_pcm,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = docs.filter(F.col("doc_id") < 30).select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
    )
    return audio_windows(decode_pcm(media)).orderBy("media_id", "win_idx")


QUERIES.update({"mm_audio_windows": mm_audio_windows})


def s6_binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media landing-zone ingest end-to-end: 20 payload files (bytes
    derived from the documents table) land on disk, the binaryFile source
    scans them -- one row per file, never split -- and the typed output
    (name, byte length, content md5) must reproduce the table they came
    from. Oracle computes the same profile from the table directly."""
    import os
    import tempfile

    from strava_vector_search_spark.io.formats import read_binary_files

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 20)
        .select("doc_id", "text")
        .collect()
    )
    d = os.path.join(
        tempfile.gettempdir(),
        f"svs_blobs_{abs(hash(sf_dir)) % 10**8}",
    )
    os.makedirs(d, exist_ok=True)
    for r in docs:
        with open(os.path.join(d, f"doc_{r['doc_id']:04d}.bin"), "wb") as f:
            f.write(r["text"].encode("utf-8"))
    out = read_binary_files(spark, d, pattern="*.bin")
    return (
        out.select(
            F.element_at(F.split(F.col("path"), "/"), -1).alias("fname"),
            F.col("length").alias("n_bytes"),
            F.md5(F.col("content")).alias("content_md5"),
        )
        .orderBy("fname")
    )


QUERIES.update({"s6_binaryfile_scan": s6_binaryfile_scan})


def j_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both sides written bucketBy(custkey) so
    the join AND the follow-on per-custkey aggregate run with ZERO hash
    exchanges (bucket distribution satisfies both) -- the layout that
    turns the hottest recurring join at 100 TB into a scan-only plan.
    Broadcast is disabled for the probe (at real scale neither side
    broadcasts -- exactly when bucketing pays). Oracle is the PLAIN join:
    bucketing must be value-invisible."""
    from strava_vector_search_spark.plans.layout import write_bucketed

    tag = abs(hash(sf_dir)) % 10**8
    to_name, tc_name = f"svs_bkt_orders_{tag}", f"svs_bkt_customer_{tag}"
    if not spark.catalog.tableExists(to_name):
        write_bucketed(
            load_table(spark, sf_dir, "orders"), to_name,
            ["o_custkey"], num_buckets=8,
        )
        write_bucketed(
            load_table(spark, sf_dir, "customer"), tc_name,
            ["c_custkey"], num_buckets=8,
        )
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    prev = {}
    for key, v in confs.items():
        try:
            prev[key] = spark.conf.get(key)
        except Exception:
            prev[key] = None
        spark.conf.set(key, v)
    try:
        o = spark.table(to_name)
        c = spark.table(tc_name)
        out = (
            o.join(c, o["o_custkey"] == c["c_custkey"])
            .groupBy("c_custkey", "c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("total_spend"),
            )
            .orderBy("c_custkey")
            .limit(50)
        )
        # force physical planning NOW, while the scoped confs are active —
        # the cached QueryExecution keeps the bucket-join plan after restore
        out._jdf.queryExecution().executedPlan()
    finally:
        for key, v in prev.items():
            if v is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, v)
    return out


QUERIES.update({"j_bucketed_join": j_bucketed_join})


def ev_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user over irregular samples
    (trapezoidal: each interval weighted by its duration) -- the correct
    mean for unevenly-sampled telemetry, where the row-mean over-weights
    bursts. One user-keyed window (lead) + one aggregate."""
    from strava_vector_search_spark.io.tables import load_events

    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = (
        ev.select("user_id", "event_id", "ts", "value")
        .withColumn("nxt_ts", F.lead("ts").over(w))
        .withColumn("nxt_v", F.lead("value").over(w))
        .filter(F.col("nxt_ts").isNotNull())
        .select(
            "user_id",
            (
                F.unix_micros(F.col("nxt_ts")) - F.unix_micros(F.col("ts"))
            ).alias("dt_us"),
            ((F.col("value") + F.col("nxt_v")) / 2.0).alias("mid"),
        )
    )
    return (
        seg.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.round(
                F.sum(
                    (F.col("mid") * F.col("dt_us")).cast("decimal(28,6)")
                ).cast("double")
                / F.sum(F.col("dt_us")),
                6,
            ).alias("twavg"),
        )
        .orderBy("user_id")
    )


def ev_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase is credited to the most
    recent PRECEDING non-purchase event type for that user (NULL when the
    purchase is the user's first event) -- one user-keyed window pass
    (last_value over preceding frame), then a small credit rollup."""
    from strava_vector_search_spark.io.tables import load_events

    ev = load_events(spark, sf_dir).select(
        "user_id", "event_id", "ts", "event_type"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touched = ev.withColumn(
        "last_touch",
        F.last_value(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignoreNulls=True,
        ).over(w),
    )
    return (
        touched.filter(F.col("event_type") == "purchase")
        .groupBy("last_touch")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
        .orderBy(F.asc_nulls_first("last_touch"))
    )


QUERIES.update(
    {
        "ev_time_weighted_avg": ev_time_weighted_avg,
        "ev_attribution_last_touch": ev_attribution_last_touch,
    }
)


def vs_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion -- the standard hybrid-search merge: vector
    top-50 and BM25 top-50 are ranked independently (each a
    TakeOrderedAndProject scan), then fused by sum of 1/(60+rank) over a
    full-outer join of the two 50-row candidate lists. Rank windows run
    over the candidate lists only, never the corpus."""
    from strava_vector_search_spark.functions.vector import dot_product
    from strava_vector_search_spark.operators.fulltext import (
        BM25_TERMS,
        bm25_score,
    )
    from strava_vector_search_spark.functions.text import tokens as _toks

    corpus = corpus_with_vectors(spark, sf_dir)
    stats = _bm25_stats(spark, sf_dir, "corpus")
    qv = _query_vec(spark, sf_dir, 9)
    qcol = lit_double_array(qv)
    base = corpus.filter(F.col("doc_id") != 9).select(
        "doc_id",
        F.round(
            dot_product(F.col("embedding").cast("array<double>"), qcol), 6
        ).alias("vscore"),
        bm25_score(_toks(F.col("text")), stats, BM25_TERMS).alias("bm25"),
    )
    vec_top = base.select("doc_id", "vscore").orderBy(
        F.desc("vscore"), F.asc("doc_id")
    ).limit(50)
    lex_top = (
        base.select("doc_id", "bm25")
        .filter(F.col("bm25") > 0)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(50)
    )
    wv = Window.orderBy(F.desc("vscore"), F.asc("doc_id"))
    wl = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    v = vec_top.withColumn("vrank", F.row_number().over(wv).cast("bigint")).select(
        "doc_id", "vrank"
    )
    lx = lex_top.withColumn("lrank", F.row_number().over(wl).cast("bigint")).select(
        F.col("doc_id").alias("l_doc_id"), "lrank"
    )
    fused = (
        v.join(lx, v["doc_id"] == lx["l_doc_id"], "full_outer")
        .select(
            F.coalesce(F.col("doc_id"), F.col("l_doc_id")).alias("doc_id"),
            "vrank",
            "lrank",
            F.round(
                F.coalesce(1.0 / (F.lit(60) + F.col("vrank")), F.lit(0.0))
                + F.coalesce(1.0 / (F.lit(60) + F.col("lrank")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(10)
    )
    return fused


QUERIES.update({"vs_rrf_fusion": vs_rrf_fusion})


def cdc_diff_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (the inverse of apply_changelog): derive the I/U/D
    feed that turns the orders snapshot into a deterministically-perturbed
    successor (every 97th key deleted, every 89th repriced, every 83rd
    re-inserted under key+10M). One full-outer join on the key; unchanged
    rows never materialize."""
    from strava_vector_search_spark.operators.cdc import diff_snapshots

    orders = load_table(spark, sf_dir, "orders")
    old = orders.select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    new = (
        old.filter(F.col("o_orderkey") % 97 != 0)
        .withColumn(
            "cents",
            F.when(
                F.col("o_orderkey") % 89 == 0, F.col("cents") + 100
            ).otherwise(F.col("cents")),
        )
        .unionByName(
            old.filter(F.col("o_orderkey") % 83 == 0).select(
                (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
                "o_custkey", "o_orderstatus", "cents",
            )
        )
    )
    return diff_snapshots(
        old, new, keys=["o_orderkey"],
        compare_cols=["o_custkey", "o_orderstatus", "cents"],
    ).orderBy("op", "o_orderkey")


def dq_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive table fingerprints: SUM over rows of the 60-bit
    md5 of a canonical row serialization (ints/cents/ISO dates only — no
    float formatting ambiguity). One map-side-combined aggregate per
    table; replicas/engines compare one number per table instead of
    shipping rows -- the anti-entropy check for replicated corpora."""
    from strava_vector_search_spark.operators.dedup import md5_int

    def cks(df, cols, name):
        row = F.concat_ws("|", *[c.cast("string") for c in cols])
        return df.select(
            F.lit(name).alias("tbl"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(md5_int(row).cast("decimal(38,0)")).alias("checksum"),
        )

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    docs = load_table(spark, sf_dir, "documents")
    o = cks(
        orders,
        [
            F.col("o_orderkey"),
            F.col("o_custkey"),
            F.col("o_orderstatus"),
            F.round(F.col("o_totalprice") * 100).cast("bigint"),
            F.date_format("o_orderdate", "yyyy-MM-dd"),
        ],
        "orders",
    )
    c = cks(
        cust,
        [F.col("c_custkey"), F.col("c_name"), F.col("c_mktsegment")],
        "customer",
    )
    d = cks(docs, [F.col("doc_id"), F.col("lang"), F.col("text")], "documents")
    return o.unionByName(c).unionByName(d).orderBy("tbl")


QUERIES.update(
    {
        "cdc_diff_snapshots": cdc_diff_snapshots,
        "dq_table_checksum": dq_table_checksum,
    }
)


def smp_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/test split: the hash split is taken on the
    near-dup COMPONENT id, not the document id, so every near-duplicate
    lands whole on one side -- the split that prevents eval contamination
    from paraphrase pairs. Components from the MinHash-LSH pipeline; the
    split stays hash-deterministic and insert-stable."""
    from strava_vector_search_spark.operators.dedup import (
        dedup_by_near_dup_groups,
        md5_int,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = _minhash_pairs(spark, sf_dir)
    labeled = dedup_by_near_dup_groups(docs, pairs, "doc_id")
    bucket = F.pmod(md5_int(F.col("comp").cast("string")), F.lit(100))
    return (
        labeled.select(
            "doc_id",
            "comp",
            bucket.alias("bucket"),
            F.when(bucket < 80, "train").otherwise("test").alias("split"),
        )
        .orderBy("doc_id")
    )


QUERIES.update({"smp_leakage_safe_split": smp_leakage_safe_split})


def vs_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The measurement loop for approximate retrieval: recall@10 / MRR@10
    / NDCG@10 of the binary sign-bit retriever (50 candidates) against
    exact brute-force truth, per query. Eval cost is O(k * queries) -- it
    never rescans the corpus beyond the two retrievers themselves."""
    from strava_vector_search_spark.operators.evalmetrics import rank_metrics
    from strava_vector_search_spark.operators.search import (
        binary_topk,
        brute_force_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    res_frames, tru_frames = [], []
    for qid in (3, 11, 21):
        qv = _query_vec(spark, sf_dir, qid)
        pred = F.col("vec_id") != qid
        res_frames.append(
            binary_topk(
                emb, qv, candidates=50, k=10, id_col="vec_id", predicate=pred
            ).select(F.lit(qid).alias("query_id"), "vec_id", "similarity")
        )
        tru_frames.append(
            brute_force_topk(
                emb, qv, k=10, id_col="vec_id", predicate=pred
            ).select(F.lit(qid).alias("query_id"), "vec_id")
        )
    res = res_frames[0]
    for fr in res_frames[1:]:
        res = res.unionByName(fr)
    tru = tru_frames[0]
    for fr in tru_frames[1:]:
        tru = tru.unionByName(fr)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("similarity"), F.asc("vec_id")
    )
    ranked = res.withColumn("rank", F.row_number().over(w))
    return rank_metrics(
        ranked, tru, query_id_col="query_id", id_col="vec_id", k=10
    ).orderBy("query_id")


QUERIES.update({"vs_retrieval_eval": vs_retrieval_eval})


def dm_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering for training: documents ranked easy-to-hard in
    4 length bands (NTILE over n_chars), DETERMINISTICALLY shuffled within
    each band by a hash draw -- reproducible global sample order with no
    RNG state, the thing epoch shuffling needs at 100 TB (a total order a
    writer can range-partition on). Both global orders (the NTILE banding
    and the final position) run through the two-level range-partitioned
    rank (operators/order.py): per-partition row_number after
    repartitionByRange + driver-side |partitions|-row offsets -- no
    single-partition WindowExec anywhere in the executed plan (PLANS.md
    asserts this)."""
    from strava_vector_search_spark.operators.dedup import md5_int
    from strava_vector_search_spark.operators.order import (
        attach_global_order,
        global_ntile,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    banded = global_ntile(
        docs, [F.asc("n_chars"), F.asc("doc_id")], 4, tile_col="band"
    )
    draw = F.pmod(md5_int(F.col("doc_id").cast("string")), F.lit(1_000_003))
    staged = banded.select("doc_id", "band", draw.alias("draw"))
    return (
        attach_global_order(
            staged,
            [F.asc("band"), F.asc("draw"), F.asc("doc_id")],
            rank_col="pos",
        )
        .select("doc_id", "band", "draw", "pos")
        .orderBy("pos")
    )


QUERIES.update({"dm_curriculum_order": dm_curriculum_order})


def vs_binary_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered binary retrieval: the metadata predicate (label IN (1,3,5))
    applies INSIDE the Hamming candidate scan -- pre-filtering, so all 50
    candidates satisfy the predicate (post-filtering an unfiltered top-50
    would return fewer than k eligible survivors). Same two-stage shape as
    vs_binary_topk."""
    from strava_vector_search_spark.operators.search import binary_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir, 14)
    return binary_topk(
        emb,
        qv,
        candidates=50,
        k=10,
        id_col="vec_id",
        predicate=(F.col("vec_id") != 14) & F.col("label").isin(1, 3, 5),
    )


QUERIES.update({"vs_binary_topk_filtered": vs_binary_topk_filtered})


def tx_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline as ONE plan: exact dedup -> language filter ->
    min-length -> word-shape screen, reported as a survivor funnel (one
    row per stage). Single corpus pass: one keep-first window + per-row
    stage flags folded into one aggregate -- the shape that audits a
    100 TB curation run without re-scanning per stage."""
    from strava_vector_search_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "text").orderBy(F.asc("doc_id"))
    flagged = (
        docs.select("doc_id", "lang", "text")
        .withColumn("keep_dedup", F.row_number().over(w) == 1)
        .withColumn("_ts", tokens(F.col("text")))
        .withColumn("n_tok", F.size("_ts"))
        .withColumn(
            "mean_wl",
            F.when(
                F.col("n_tok") > 0,
                F.length(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", ""))
                / F.col("n_tok"),
            ).otherwise(F.lit(0.0)),
        )
    )
    s1 = F.col("keep_dedup")
    s2 = s1 & F.col("lang").isin("en", "fr", "de")
    s3 = s2 & (F.col("n_tok") >= 10)
    s4 = s3 & (F.col("mean_wl") <= 12.0)
    agg = flagged.agg(
        F.count(F.lit(1)).alias("raw"),
        F.sum(s1.cast("long")).alias("after_dedup"),
        F.sum(s2.cast("long")).alias("after_lang"),
        F.sum(s3.cast("long")).alias("after_minlen"),
        F.sum(s4.cast("long")).alias("after_shape"),
    )
    return agg.select(
        F.expr(
            "stack(5, 1, 'raw', raw, 2, 'exact_dedup', after_dedup, "
            "3, 'lang_en_fr_de', after_lang, 4, 'min_10_tokens', after_minlen, "
            "5, 'word_shape', after_shape) AS (stage, name, n_surviving)"
        )
    ).orderBy("stage")


QUERIES.update({"tx_curation_funnel": tx_curation_funnel})


def dm_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy selection under a global token budget: rank documents by
    quality (ties by id), admit in rank order while the RUNNING token
    total stays within budget -- how a fixed-size high-quality training
    mix is actually cut from a larger pool. One global rank window + one
    running-sum frame; at scale the same two windows range-partition."""
    from strava_vector_search_spark.functions import text as T

    from strava_vector_search_spark.operators.order import (
        attach_global_order,
    )

    budget = 20_000
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        T.quality_score(F.col("text")).alias("quality"),
        T.token_count(F.col("text")).alias("n_tok"),
    )
    # two-level range-partitioned rank + running sum (operators/order.py):
    # the global quality order and the running token total both compose
    # from per-partition windows + driver-side offsets, so no partition
    # ever holds more than 1/P of the pool (PLANS.md asserts no
    # single-partition exchange in the executed plan).
    ranked = attach_global_order(
        docs,
        [F.desc("quality"), F.asc("doc_id")],
        rank_col="rk",
        running_sums={"cum_tok": "n_tok"},
    )
    return (
        ranked.filter(F.col("cum_tok") <= budget)
        .select("doc_id", "quality", "n_tok", "rk", "cum_tok")
        .orderBy("rk")
    )


QUERIES.update({"dm_budget_select": dm_budget_select})


def dd_component_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup audit: the size distribution of near-dup components (size ->
    how many components, plus how many docs that bucket removes). The
    number a curation run reports before committing a dedup pass; rides
    the same MinHash pipeline as the other dd_* gates."""
    from strava_vector_search_spark.operators.dedup import (
        dedup_by_near_dup_groups,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = _minhash_pairs(spark, sf_dir)
    labeled = dedup_by_near_dup_groups(docs, pairs, "doc_id")
    sizes = labeled.groupBy("comp").agg(F.count(F.lit(1)).alias("size"))
    return (
        sizes.groupBy("size")
        .agg(
            F.count(F.lit(1)).alias("n_components"),
            (F.count(F.lit(1)) * (F.col("size") - 1)).alias("docs_removed"),
        )
        .orderBy("size")
    )


QUERIES.update({"dd_component_stats": dd_component_stats})


def tx_code_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose screen (the pretraining code-filter heuristic):
    symbol density, indented-line fraction, and programming-keyword hits
    fold into a [0,1] code score -- pure map-only expressions, thresholded
    keep flag. Tuned for recall on obvious code; the model-based filter
    runs downstream on the survivors."""
    docs = load_table(spark, sf_dir, "documents")
    # ONE pass per array: symbols via regexp_count (no replaced-string
    # allocation), token+keyword counts fused into a single HOF aggregate
    # over one split. The raw counts are materialized behind a lineage cut
    # before the ratio math -- otherwise Catalyst's project-collapsing
    # re-inlines the split/aggregate into every derived ratio and the
    # text is re-tokenized ~4x per row (measured 3.0s -> 0.8s at sf0.1).
    kws = "'def','return','import','class','void','int','function','var','const','public','if','else'"
    counts = docs.select(
        "doc_id",
        F.length("text").alias("n"),
        F.expr("regexp_count(text, '[{}()\\\\[\\\\];=<>]')").alias("sym"),
        F.expr("size(split(text, '\\n'))").alias("n_lines"),
        F.expr(
            "size(filter(split(text, '\\n'), l -> l rlike '^(    |\\t)'))"
        ).alias("indented"),
        F.expr(
            "aggregate(split(lower(text), '[^a-z0-9_]+'),"
            " named_struct('ntok', 0, 'kw', 0),"
            " (acc, t) -> named_struct("
            "   'ntok', acc.ntok + IF(t != '', 1, 0),"
            f"  'kw', acc.kw + IF(t IN ({kws}), 1, 0)))"
        ).alias("p"),
    ).localCheckpoint(eager=False)
    sym_d = F.when(F.col("n") > 0, F.col("sym") / F.col("n")).otherwise(0.0)
    ind_f = F.when(
        F.col("n_lines") > 0, F.col("indented") / F.col("n_lines")
    ).otherwise(0.0)
    kw_f = F.when(F.col("p.ntok") > 0, F.col("p.kw") / F.col("p.ntok")).otherwise(
        0.0
    )
    score = F.round(
        F.least(
            F.lit(1.0),
            F.lit(4.0) * sym_d + F.lit(1.5) * ind_f + F.lit(2.0) * kw_f,
        ),
        6,
    )
    return counts.select(
        "doc_id",
        F.round(sym_d, 6).alias("symbol_density"),
        F.round(ind_f, 6).alias("indent_fraction"),
        F.round(kw_f, 6).alias("keyword_fraction"),
        score.alias("code_score"),
        (score >= 0.25).alias("looks_like_code"),
    ).orderBy("doc_id")


def tx_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-line removal (crawl cleaning): lines repeated across
    >= 5% of documents are headers/footers/nav chrome; rebuild every
    document from its surviving lines in order. One line-level explode
    with positions, one doc-frequency aggregate on the 8-byte line hash,
    one group-back -- the C4 recipe at line granularity."""
    from strava_vector_search_spark.operators.dedup import md5_int

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    total = docs.count()
    thresh = max(2, int(total * 0.05))
    lines = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), "\n")).alias("pos", "line"),
    ).withColumn("lh", md5_int(F.col("line")))
    df_counts = lines.groupBy("lh").agg(
        F.countDistinct("doc_id").alias("df")
    )
    keep = lines.join(
        df_counts.filter(F.col("df") >= thresh).select("lh").withColumn(
            "_drop", F.lit(True)
        ),
        "lh",
        "left",
    ).filter(F.col("_drop").isNull())
    rebuilt = (
        keep.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "line"))
                    ),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("n_lines_kept"),
        )
    )
    return (
        docs.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_lines_kept"), F.lit(0)).alias("n_lines_kept"),
            (F.size(F.split(F.col("text"), "\n"))
             - F.coalesce(F.col("n_lines_kept"), F.lit(0))).alias("n_removed"),
            F.md5(F.coalesce(F.col("clean_text"), F.lit(""))).alias("clean_md5"),
        )
        .orderBy("doc_id")
    )


QUERIES.update(
    {
        "tx_code_detection": tx_code_detection,
        "tx_boilerplate_lines": tx_boilerplate_lines,
    }
)


def ev_bot_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral bot screen: per-user event rate and inter-arrival
    regularity (population stddev of gaps from exact DECIMAL moment sums,
    so partial-aggregation order cannot move the result). Flags users
    whose cadence is too fast or too metronomic -- one lag window + one
    aggregate over the same user-keyed shuffle."""
    from strava_vector_search_spark.io.tables import load_events

    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.select("user_id", "ts", "event_id")
        .withColumn("prev_ts", F.lag("ts").over(w))
        .filter(F.col("prev_ts").isNotNull())
        .select(
            "user_id",
            (
                (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("prev_ts")))
                / 1_000_000.0
            ).alias("gap_s"),
        )
    )
    agg = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum(F.col("gap_s").cast("decimal(28,6)")).alias("_s1"),
        F.sum(
            (F.col("gap_s") * F.col("gap_s")).cast("decimal(28,6)")
        ).alias("_s2"),
    )
    mean = F.col("_s1").cast("double") / F.col("n_gaps")
    var = F.col("_s2").cast("double") / F.col("n_gaps") - mean * mean
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))
    out = agg.select(
        "user_id",
        "n_gaps",
        F.round(mean, 6).alias("mean_gap_s"),
        F.round(sd, 6).alias("sd_gap_s"),
        F.round(
            F.when(mean > 0, sd / mean).otherwise(F.lit(0.0)), 6
        ).alias("cv"),
    )
    return out.withColumn(
        "bot_suspect",
        (F.col("mean_gap_s") < 30.0)
        | ((F.col("cv") < 0.3) & (F.col("n_gaps") >= 20)),
    ).orderBy("user_id")


QUERIES.update({"ev_bot_detection": ev_bot_detection})


def a17_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period reporting: monthly order revenue with
    month-over-month absolute and percent change (lag window over the
    monthly rollup; DECIMAL-routed sums)."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = (
        orders.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2
            ).cast("double").alias("revenue"),
        )
    )
    w = Window.orderBy("month")
    return (
        monthly.withColumn("prev_rev", F.lag("revenue").over(w))
        .select(
            "month",
            "n_orders",
            "revenue",
            F.round(F.col("revenue") - F.col("prev_rev"), 2).alias("mom_abs"),
            F.round(
                F.when(
                    F.col("prev_rev") > 0,
                    (F.col("revenue") - F.col("prev_rev"))
                    / F.col("prev_rev") * 100.0,
                ),
                4,
            ).alias("mom_pct"),
        )
        .orderBy("month")
    )


def dm_interleave_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture schedule: round-robin interleave across
    sources (rank docs within source by hash draw, then emit in (rank,
    source) order) -- the order a trainer streams a multi-source mix so no
    source clumps. Two windows on one source-keyed shuffle + one global
    rank."""
    from strava_vector_search_spark.operators.dedup import md5_int
    from strava_vector_search_spark.operators.order import (
        attach_global_order,
    )

    docs = load_table(spark, sf_dir, "documents")
    draw = F.pmod(md5_int(F.col("doc_id").cast("string")), F.lit(1_000_003))
    ws = Window.partitionBy("source").orderBy(draw.asc(), F.asc("doc_id"))
    ranked = docs.select("doc_id", "source").withColumn(
        "src_rank", F.row_number().over(ws).cast("bigint")
    )
    # pos <= 100 implies src_rank <= 100 (a row's own source alone
    # contributes src_rank-1 earlier rows), so the prefilter is EXACT and
    # bounds the global-rank input to 100 x |sources| rows before the
    # two-level rank runs -- the corpus-scale stage stays the per-source
    # window; the global order never sees the full table.
    head = ranked.filter(F.col("src_rank") <= 100)
    return (
        attach_global_order(
            head,
            [F.asc("src_rank"), F.asc("source"), F.asc("doc_id")],
            rank_col="pos",
        )
        .filter(F.col("pos") <= 100)
        .select("doc_id", "source", "src_rank", "pos")
        .orderBy("pos")
    )


QUERIES.update(
    {
        "a17_mom_growth": a17_mom_growth,
        "dm_interleave_sources": dm_interleave_sources,
    }
)


def svc_cache_hit_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's raison d'etre as ONE batch job: for a batch of
    incoming queries, find each query's best cache hit (top-1 cosine),
    apply the 0.80/0.70 decision rubric (02:309-315), and report the
    hit/miss mix with similarity stats per decision -- the cache-economics
    dashboard row. One corpus scan serves the whole batch (broadcast query
    table + per-query rank window)."""
    from strava_vector_search_spark.operators.search import batch_topk_blas

    emb = load_table(spark, sf_dir, "embeddings")
    # embedding is nullable by contract (FIXTURES.md); a NULL query vector
    # would crash the BLAS np.stack, so the query batch keeps only rows
    # that actually have a vector (mirrored in the oracle's q CTE).
    queries = emb.filter(
        (F.col("vec_id") % 17 == 0) & F.col("embedding").isNotNull()
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    corpus = emb.select(F.col("vec_id").alias("doc_id"), "embedding").join(
        queries.select(F.col("query_id").alias("doc_id")), "doc_id", "left_anti"
    )
    # BLAS kernel (vs_batch_topk_blas-proven 6-dp contract): one Q@V.T per
    # Arrow batch instead of nq*|corpus| expression cosines -- the batch
    # cache lookup is the hot path of the reference's whole design, so it
    # gets the fast kernel (2.6s -> ~0.7s at sf0.1, values identical)
    top1 = batch_topk_blas(
        corpus, queries, k=1, id_col="doc_id"
    ).select("query_id", F.col("doc_id").alias("hit_id"), "similarity")
    decided = top1.withColumn(
        "decision",
        F.when(F.col("similarity") > 0.80, "CACHE HIT - Excellent Match")
        .when(F.col("similarity") > 0.70, "CACHE HIT - Good Match")
        .otherwise("CACHE MISS - Generate New"),
    )
    return (
        decided.groupBy("decision")
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.round(F.min("similarity"), 6).alias("min_sim"),
            F.round(F.max("similarity"), 6).alias("max_sim"),
        )
        .orderBy("decision")
    )


QUERIES.update({"svc_cache_hit_report": svc_cache_hit_report})


def diag_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew diagnosis: per-key row counts for the hottest join key
    (lineitem.l_orderkey), reported as the top-10 heaviest keys plus each
    key's multiple of the mean -- the report that decides whether a join
    needs salting (plans/layout.salted_join) or AQE skew splitting before
    it runs at 100 TB. One partial-combined count + TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_rows"))
    stats = counts.agg(
        F.count(F.lit(1)).alias("n_keys"), F.sum("n_rows").alias("n_total")
    )
    return (
        counts.crossJoin(F.broadcast(stats))
        .select(
            "l_orderkey",
            "n_rows",
            F.round(
                F.col("n_rows") / (F.col("n_total") / F.col("n_keys")), 4
            ).alias("x_mean"),
        )
        .orderBy(F.desc("n_rows"), F.asc("l_orderkey"))
        .limit(10)
    )


QUERIES.update({"diag_key_skew": diag_key_skew})


def tx_sft_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT/chat formatting: render (system, user, assistant) turns into
    the training string with role sentinels, and account tokens per
    segment -- the last hop before tokenization in an instruction-tuning
    pipeline. Pure map-only string assembly; the rendered text is md5'd
    for the oracle so the gate pins exact bytes."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    system = F.lit("You are a helpful assistant.")
    user = F.concat(F.lit("Summarize: "), F.substring(F.col("text"), 1, 120))
    assistant = F.substring(F.col("text"), 1, 60)
    rendered = F.concat(
        F.lit("<|system|>\n"), system,
        F.lit("\n<|user|>\n"), user,
        F.lit("\n<|assistant|>\n"), assistant, F.lit("<|end|>"),
    )
    from strava_vector_search_spark.functions.text import token_count

    return docs.select(
        "doc_id",
        token_count(user).alias("user_tokens"),
        token_count(assistant).alias("assistant_tokens"),
        F.length(rendered).alias("n_chars"),
        F.md5(rendered).alias("rendered_md5"),
    ).orderBy("doc_id")


QUERIES.update({"tx_sft_format": tx_sft_format})


def pk_packing_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing manifest: per context bin, the ordered member spans
    ("doc:offset:len") a loader needs to build attention masks that stop
    cross-document attention -- the artifact concat-then-chunk packing
    must ship with. Same single window shuffle as pk_sequence_packing,
    plus one ordered group-back."""
    from strava_vector_search_spark.functions import text as T

    budget = 2048
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        T.token_count(F.col("text")).cast("bigint").alias("n_tok"),
    )
    w = Window.partitionBy("lang").orderBy("doc_id")
    laid = docs.withColumn(
        "start",
        F.coalesce(
            F.sum("n_tok").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    ).withColumn("bin", F.floor(F.col("start") / budget).cast("bigint"))
    spans = laid.withColumn(
        "span",
        F.concat_ws(
            ":",
            F.col("doc_id").cast("string"),
            (F.col("start") - F.col("bin") * budget).cast("string"),
            F.col("n_tok").cast("string"),
        ),
    )
    return (
        spans.groupBy("lang", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("bin_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("doc_id", "span"))
                    ),
                    lambda s: s["span"],
                ),
                " ",
            ).alias("manifest"),
        )
        .orderBy("lang", "bin")
    )


QUERIES.update({"pk_packing_manifest": pk_packing_manifest})


def mm_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive (CLIP-style) training-pair construction: each decoded
    media item pairs with its own caption (label 1) and 2 deterministic
    hash-drawn negative captions (label 0), carrying the frame-0 feature
    from the decode kernel and the caption length -- the joined
    media-text table a contrastive trainer consumes. Decode runs once;
    negatives are md5 draws (no RNG), self-draws dropped."""
    from strava_vector_search_spark.operators.dedup import md5_int
    from strava_vector_search_spark.operators.multimodal import decode_frames

    docs = load_table(spark, sf_dir, "documents")
    pool = docs.filter(F.col("doc_id") < 40)
    media = pool.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
    )
    f0 = (
        decode_frames(media)
        .filter(F.col("frame_idx") == 0)
        .select(
            "media_id",
            F.array_join(
                F.transform(
                    F.col("feature"), lambda x: x.cast("int").cast("string")
                ),
                ",",
            ).alias("feature_csv"),
        )
    )
    pos = f0.select(
        "media_id", F.col("media_id").alias("text_doc_id"), F.lit(1).alias("label")
    )
    negs = None
    for j in (0, 1):
        n = f0.select(
            "media_id",
            F.pmod(
                md5_int(
                    F.concat(
                        F.col("media_id").cast("string"), F.lit(f"#neg{j}")
                    )
                ),
                F.lit(40),
            ).alias("text_doc_id"),
            F.lit(0).alias("label"),
        )
        negs = n if negs is None else negs.unionByName(n)
    pairs = pos.unionByName(negs).filter(
        (F.col("label") == 1) | (F.col("text_doc_id") != F.col("media_id"))
    )
    cap = pool.select(
        F.col("doc_id").alias("text_doc_id"),
        F.col("n_chars").alias("caption_chars"),
    )
    return (
        pairs.join(f0, "media_id")
        .join(cap, "text_doc_id")
        .select(
            "media_id", "text_doc_id", "label", "feature_csv", "caption_chars"
        )
        .orderBy("media_id", "label", "text_doc_id")
    )


QUERIES.update({"mm_contrastive_pairs": mm_contrastive_pairs})


def vs_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction (ColBERT-style MaxSim) retrieval over multi-vector
    documents: each label group is a document represented by ALL its
    member vectors; score = sum over the 3 query vectors of the maximum
    member cosine. One corpus scan computes every (query, member) cosine;
    one partial-combined aggregate takes the per-query max per document --
    no per-pair shuffle, the group key carries everything."""
    emb = load_table(spark, sf_dir, "embeddings")
    qids = (1, 2, 4)
    qcols = []
    for qid in qids:
        qv = _query_vec(spark, sf_dir, qid)
        qcols.append(lit_double_array(qv))
    from strava_vector_search_spark.functions.vector import dot_product

    scored = emb.filter(F.col("embedding").isNotNull()).select(
        F.col("label").cast("int").alias("label"),
        *[
            F.round(
                dot_product(F.col("embedding").cast("array<double>"), qc), 6
            ).alias(f"c{i}")
            for i, qc in enumerate(qcols)
        ],
    )
    agg = scored.groupBy("label").agg(
        *[F.max(f"c{i}").alias(f"m{i}") for i in range(len(qids))]
    )
    return (
        agg.select(
            "label",
            *[F.col(f"m{i}") for i in range(len(qids))],
            F.round(
                F.col("m0") + F.col("m1") + F.col("m2"), 6
            ).alias("maxsim"),
        )
        .orderBy(F.desc("maxsim"), F.asc("label"))
    )


QUERIES.update({"vs_maxsim_topk": vs_maxsim_topk})


@_session_kernel
def _markov_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(from_type, to_type, n) in-session transition counts — the shared
    corpus kernel of ev_markov_transition_matrix (row-normalized matrix)
    and ev_markov_stationary (power iteration): both gates fold the
    events table through the IDENTICAL sessionize + lag + count pipeline
    (two user-keyed window shuffles + one aggregate) before their own
    tiny-kernel math. A session kernel — the r12
    prepare_pagerank_graph precedent (share the seed-independent prep,
    keep each gate's own computation); ev_session_paths keeps computing
    the sessionize pipeline raw, so the corpus pipeline's cost stays an
    honestly benched number there."""
    ev = load_events(spark, sf_dir)
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 30 * 60 * 1_000_000
    with_id = ev.withColumn(
        "new_sess",
        F.when(
            F.lag(us).over(w).isNull() | ((us - F.lag(us).over(w)) > gap_us),
            1,
        ).otherwise(0),
    ).withColumn(
        "session_seq",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    ws = Window.partitionBy("user_id", "session_seq").orderBy("ts", "event_id")
    paths = with_id.withColumn(
        "prev_type", F.lag("event_type").over(ws)
    ).filter(F.col("prev_type").isNotNull())
    return paths.groupBy(
        F.col("prev_type").alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("n"))


def ev_markov_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov model of in-session navigation: the session-path
    transition counts normalized per source state (rows sum to 1) plus
    each source's exit mass -- the probability matrix behind next-event
    prediction and funnel simulation. One extra window over the counts of
    ev_session_paths; everything stays on the same user-keyed shuffle.
    Counts come from the shared _markov_transition_counts kernel (r13)."""
    counts = _markov_transition_counts(spark, sf_dir)
    wrow = Window.partitionBy("from_type")
    return (
        counts.withColumn("row_total", F.sum("n").over(wrow))
        .select(
            "from_type",
            "to_type",
            "n",
            F.round(F.col("n") / F.col("row_total"), 6).alias("p"),
        )
        .orderBy("from_type", "to_type")
    )


QUERIES.update({"ev_markov_transition_matrix": ev_markov_transition_matrix})


def dd_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximation audit for the MinHash pipeline: for every
    LSH-candidate pair, the signature-agreement Jaccard ESTIMATE (what the
    streaming gate trusts) vs the exact shingle Jaccard, bucketed by
    absolute error -- the calibration table that justifies num_hashes=16.
    Both sides are deterministic, so the error distribution is
    oracle-exact."""
    from strava_vector_search_spark.operators.dedup import (
        minhash_dedup_verified,
        minhash_signatures,
    )

    docs = load_table(spark, sf_dir, "documents")
    exact = minhash_dedup_verified(docs, "doc_id", "text", threshold=0.0)
    sigs = minhash_signatures(docs, "doc_id", "text", num_hashes=16)
    s1 = sigs.select(F.col("doc_id").alias("id1"), F.col("sig").alias("sig1"))
    s2 = sigs.select(F.col("doc_id").alias("id2"), F.col("sig").alias("sig2"))
    est = (
        exact.join(s1, "id1")
        .join(s2, "id2")
        .withColumn(
            "est",
            F.round(
                F.size(
                    F.filter(
                        F.zip_with(
                            F.col("sig1"), F.col("sig2"), lambda a, b: a == b
                        ),
                        lambda x: x,
                    )
                )
                / 16.0,
                6,
            ),
        )
        .withColumn("abs_err", F.round(F.abs(F.col("est") - F.col("jaccard")), 6))
    )
    bucket = F.least(F.floor(F.col("abs_err") / 0.0625), F.lit(7)).cast("int")
    return (
        est.groupBy(bucket.alias("err_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(
                F.sum(F.col("abs_err").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_abs_err"),
            F.round(F.max("abs_err"), 6).alias("max_abs_err"),
        )
        .orderBy("err_bucket")
    )


QUERIES.update({"dd_minhash_estimate_error": dd_minhash_estimate_error})


def a18_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy-hitter tokens (count > N/k, k=200) over the document
    corpus via two-pass Misra-Gries: a bounded-memory map-only candidate
    sketch (<= partitions x capacity rows leave each partition; the full
    distinct-token key space never shuffles) followed by an exact recount
    restricted to the broadcast candidate set. Output is identical to the
    naive GROUP BY token HAVING cnt*k > N - which is the oracle."""
    from strava_vector_search_spark.operators.heavy import heavy_hitters_exact

    toks = _token_arrays(spark, sf_dir).select(
        F.explode("_ts").alias("token")
    )
    return heavy_hitters_exact(toks, "token", k=200).orderBy(
        F.desc("cnt"), F.asc("token")
    )


QUERIES.update({"a18_heavy_hitters": a18_heavy_hitters})


def tx_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training: 6 merges learned over the
    document corpus (word-vocab decomposition: one corpus scan, then
    every round is one weighted pair aggregate + one greedy-leftmost
    window merge over the bounded distinct-word char state). Oracle
    replays the identical algorithm as 6 unrolled CTE stages in DuckDB."""
    merges, _ = _bpe6(spark, sf_dir)
    return spark.createDataFrame(
        merges, "step int, lhs string, rhs string, pair_count bigint"
    ).orderBy("step")


QUERIES.update({"tx_bpe_merges": tx_bpe_merges})


def tx_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus compression achieved by the 6 learned BPE merges: symbols
    per corpus token occurrence before (= characters) vs after encoding,
    weighted by word frequency. One row; the oracle recomputes the final
    segmentation with the same unrolled merge rounds."""
    _, state = _bpe6(spark, sf_dir)
    return state.agg(
        F.count_distinct("word").alias("n_words"),
        F.sum(F.length("sym").cast("bigint") * F.col("wcnt")).alias("chars_total"),
        F.sum("wcnt").alias("symbols_after"),
        F.round(
            F.sum(F.length("sym").cast("decimal(18,0)") * F.col("wcnt"))
            .cast("double")
            / F.sum("wcnt"),
            6,
        ).alias("chars_per_symbol"),
    )


QUERIES.update({"tx_bpe_encode_stats": tx_bpe_encode_stats})


def dd_cc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental connected-components maintenance: a deterministic
    bipartite order<->customer edge feed is split into an already-labeled
    base (2/3 of orders) and an incoming batch (the remaining orders plus
    customer-customer bridge edges that MERGE existing components); only
    components incident to the batch are recomputed. The oracle runs a
    full recursive-CTE recompute over the accumulated edge set —
    incremental must equal rebuild bit-for-bit."""
    from strava_vector_search_spark.operators.dedup import (
        cc_incremental,
        connected_components,
    )

    orders = load_table(spark, sf_dir, "orders")
    C = 2_000_000_000
    ok, ck = F.col("o_orderkey"), F.col("o_custkey")
    edges = orders.select(
        ok.alias("a"), (ck + C).cast("long").alias("b"), (ok % 3).alias("m")
    )
    old_e = edges.filter(F.col("m") != 0).drop("m")
    new_orders = edges.filter(F.col("m") == 0).drop("m")
    bridges = (
        orders.select(ck.alias("c"))
        .distinct()
        .filter(F.col("c") % 97 == 1)
        .select(
            (F.col("c") + C).cast("long").alias("a"),
            (F.col("c") + 3 + C).cast("long").alias("b"),
        )
    )
    # adaptive driver-path threshold raised to cover this feed at bench
    # scale (sf0.1: ~100K base edges): labeling star graphs is exactly the
    # sub-broadcast-size regime the union-find switch exists for, and the
    # distributed label-propagation path stays exercised by test_dedup
    labels_old = connected_components(old_e, "a", "b", driver_threshold=250_000)
    out = cc_incremental(
        labels_old,
        new_orders.unionByName(bridges),
        "a",
        "b",
        driver_threshold=250_000,
    )
    return out.orderBy("id")


QUERIES.update({"dd_cc_incremental": dd_cc_incremental})


def dm_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection: hashed-unigram importance weights
    toward a target slice (source='src1') over the whole-corpus proposal,
    Gumbel top-50 resampling with hash-derived noise. Distribution
    estimate = two bounded 512-bucket aggregates; scoring = map-only
    in-expression fold against the literal log-ratio table (DECIMAL
    accumulator, order-exact); selection = TakeOrderedAndProject."""
    from strava_vector_search_spark.operators.dsir import (
        dsir_select,
        importance_log_ratios,
    )

    docs = load_table(spark, sf_dir, "documents")
    target = docs.filter(F.col("source") == "src1")
    ratios = importance_log_ratios(target, docs, "text", buckets=512)
    return dsir_select(docs, ratios, k=50, buckets=512)


QUERIES.update({"dm_dsir_select": dm_dsir_select})


def tx_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram co-occurrence PMI mining (the count side of word2vec /
    GloVe prep): token pairs within a +-2 window, unordered-canonical
    (least, greatest), PMI = ln((c_xy/P) / ((c_x/N)(c_y/N))). Pair
    extraction is MAP-ONLY (offset slices zipped per row - no position
    self-join, no explode-before-pair); the only shuffles are the two
    count aggregates, both map-side combined, and the unigram table joins
    back via AQE broadcast (a vocab is always broadcastable after the
    min-count cut). Top-40 by (pmi DESC, pair ASC), c_xy >= 5. Token
    arrays and the vocab come from the shared LM kernels."""
    docs = _token_arrays(spark, sf_dir)
    ts = F.col("_ts")
    pair_arrays = [
        F.zip_with(
            F.slice(ts, 1, F.greatest(F.size(ts) - off, F.lit(0))),
            F.slice(ts, 1 + off, F.greatest(F.size(ts) - off, F.lit(0))),
            lambda a, b: F.struct(
                F.least(a, b).alias("x"), F.greatest(a, b).alias("y")
            ),
        )
        for off in (1, 2)
    ]
    pairs = docs.select(
        F.explode(F.concat(*pair_arrays)).alias("p")
    ).select("p.x", "p.y")
    cxy = pairs.groupBy("x", "y").agg(F.count(F.lit(1)).alias("c_xy"))
    uni = _unigram_counts(spark, sf_dir).select("t", F.col("cnt").alias("c"))
    n_tok = int(uni.agg(F.sum("c")).head()[0])
    n_pair = int(cxy.agg(F.sum("c_xy")).head()[0])
    ux = uni.select(F.col("t").alias("x"), F.col("c").alias("c_x"))
    uy = uni.select(F.col("t").alias("y"), F.col("c").alias("c_y"))
    return (
        cxy.filter(F.col("c_xy") >= 5)
        .join(ux, "x")
        .join(uy, "y")
        .select(
            "x",
            "y",
            "c_xy",
            "c_x",
            "c_y",
            F.round(
                F.log(
                    (F.col("c_xy") / F.lit(float(n_pair)))
                    / (
                        (F.col("c_x") / F.lit(float(n_tok)))
                        * (F.col("c_y") / F.lit(float(n_tok)))
                    )
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("x"), F.asc("y"))
        .limit(40)
    )


QUERIES.update({"tx_pmi_pairs": tx_pmi_pairs})


def tx_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption pair generation (masked-span pretraining
    prep): documents tiled into 3-token spans, ~1/5 of tiles selected by
    the portable hash (deterministic across engines/retries/partitions -
    no RNG), masked tiles replaced by <extra_id_k> sentinels in the input
    and emitted after their sentinel in the target.

    Fully relational: posexplode tokens (the regex split runs exactly
    once - the HOF tile builder re-ran it per span after projection
    collapse, measured ~9x slower) -> tile rows via one (doc, tile)
    aggregate -> window prefix-sum for sentinel numbering -> ordered
    group-back (the tx_boilerplate_lines idiom). Three doc-keyed
    shuffles of token/tile rows, every expression codegen-friendly."""
    from pyspark.sql import Window

    from strava_vector_search_spark.operators.dedup import md5_int

    tokrows = _token_arrays(spark, sf_dir).select(
        "doc_id", F.posexplode("_ts").alias("p", "t")
    )
    tiles = (
        tokrows.groupBy("doc_id", F.floor(F.col("p") / 3).alias("i"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "t"))),
                    lambda x: x["t"],
                ),
                " ",
            ).alias("tile")
        )
    )
    t = tiles.withColumn(
        "masked",
        md5_int(
            F.concat(
                F.col("doc_id").cast("string"),
                F.lit("|"),
                F.col("i").cast("string"),
            )
        )
        % 5
        == 0,
    )
    before = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t = t.withColumn(
        "sid",
        F.coalesce(F.sum(F.col("masked").cast("int")).over(before), F.lit(0)),
    )
    piece_in = F.when(
        F.col("masked"),
        F.concat(F.lit("<extra_id_"), F.col("sid").cast("string"), F.lit(">")),
    ).otherwise(F.col("tile"))
    piece_tg = F.when(
        F.col("masked"),
        F.concat(
            F.lit("<extra_id_"),
            F.col("sid").cast("string"),
            F.lit("> "),
            F.col("tile"),
        ),
    )
    return (
        t.withColumn("p_in", piece_in)
        .withColumn("p_tg", piece_tg)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tiles"),
            F.sum(F.col("masked").cast("bigint")).alias("n_masked"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "p_in"))),
                    lambda x: x["p_in"],
                ),
                " ",
            ).alias("input_text"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("masked"),
                                F.struct("i", F.col("p_tg").alias("p_in")),
                            )
                        )
                    ),
                    lambda x: x["p_in"],
                ),
                " ",
            ).alias("target_text"),
        )
        .select("doc_id", "n_tiles", "n_masked", "input_text", "target_text")
        .orderBy("doc_id")
    )


QUERIES.update({"tx_span_corruption": tx_span_corruption})


def tx_stupid_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram Stupid Backoff LM scoring (Brants et al. 2007 - the
    distributed-LM recipe that skips normalized smoothing precisely so it
    scales): S(w3|w1w2) = c123/c12, backing off to 0.4*c23/c2, then to
    0.4^2*c3/N (operators/lm.py). Three map-side-combined count
    aggregates; map-only trigram extraction; AQE-broadcast joins;
    DECIMAL-routed mean. Trained and scored on the corpus itself here
    (n_oov = 0 by construction); the backoff chain on held-out text is
    pinned by test_lm."""
    from strava_vector_search_spark.operators.lm import stupid_backoff_scores

    tok = _token_arrays(spark, sf_dir)
    return stupid_backoff_scores(tok, tok, pretokenized=True)


QUERIES.update({"tx_stupid_backoff": tx_stupid_backoff})


def dq_luhn_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn-checksum audit (the payment-card detector of the PII family,
    functions/text.luhn_valid): order keys are zero-padded into 16-digit
    card-shaped strings - a deterministic digit corpus - and the checksum
    pass rate (~1 in 10 by construction) is reported per order priority.
    Pure expression fold, scan-speed; the free-text scan path
    (pan_candidates + luhn_pan_count) is pinned by test_text on crafted
    PANs."""
    from strava_vector_search_spark.functions.text import luhn_valid

    orders = load_table(spark, sf_dir, "orders")
    pan = F.lpad(
        (F.col("o_custkey").cast("bigint") * 100000000 + F.col("o_orderkey"))
        .cast("string"),
        16,
        "0",
    )
    return (
        orders.select("o_orderpriority", luhn_valid(pan).alias("ok"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("ok").cast("bigint")).alias("n_luhn_valid"),
            F.round(
                F.sum(F.col("ok").cast("int")) / F.count(F.lit(1)), 6
            ).alias("valid_rate"),
        )
        .orderBy("o_orderpriority")
    )


QUERIES.update({"dq_luhn_audit": dq_luhn_audit})


def smp_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: anchors (vec_id % 100 == 0) get
    their 3 hardest non-duplicate negatives from their own SRP-LSH
    buckets - semantically close by construction - with near-dups
    (cosine >= 0.95) excluded so positives never leak into negatives.
    Map-only signatures + anchor-restricted band join + exact scoring of
    candidates only + per-anchor rank window. Exact DuckDB oracle via the
    shared SRP band-key SQL fragment."""
    from strava_vector_search_spark.operators.sampling import (
        hard_negative_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    anchors = emb.filter(F.col("vec_id") % 100 == 0)
    return hard_negative_pairs(emb, anchors, per_anchor=3).orderBy(
        "anchor_id", "rn"
    )


QUERIES.update({"smp_hard_negatives": smp_hard_negatives})


def smp_rerank_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reranker training-triple assembly - the end product the retrieval
    + mining operators exist for: for each anchor query (vec_id % 100 ==
    0), label-1 rows are its exact top-3 nearest neighbors (brute-force
    cosine, the quality ceiling) and label-0 rows its 3 hardest LSH-bucket
    negatives below the near-dup ceiling; rank is kept per side so a
    pairwise/listwise trainer can weight by position. One corpus scan per
    side at heart: exact side is a per-anchor WindowGroupLimit over the
    broadcast anchor set, negative side reuses smp_hard_negatives'
    kernel."""
    from pyspark.sql import Window

    from strava_vector_search_spark.operators.sampling import (
        hard_negative_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    anchors = emb.filter(F.col("vec_id") % 100 == 0)
    va = anchors.select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").cast("array<double>").alias("_va"),
    )
    vb = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").cast("array<double>").alias("_vb"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("_va"), F.col("_vb"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        va.join(vb, F.col("anchor_id") != F.col("cand_id"))
        .select("anchor_id", "cand_id", F.round(dot, 6).alias("cosine"))
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cosine"), F.asc("cand_id")
    )
    pos = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "anchor_id",
            F.col("cand_id"),
            "cosine",
            "rn",
            F.lit(1).alias("label"),
        )
    )
    neg = hard_negative_pairs(emb, anchors, per_anchor=3).select(
        "anchor_id",
        F.col("neg_id").alias("cand_id"),
        "cosine",
        "rn",
        F.lit(0).alias("label"),
    )
    return pos.unionByName(neg).orderBy(
        "anchor_id", F.desc("label"), "rn"
    )


QUERIES.update({"smp_rerank_triples": smp_rerank_triples})


@_session_kernel
def _trade_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct customer<->supplier trade pairs (columns ``c``, ``s``) from
    orders |><| lineitem — the shared edge kernel of g_pagerank / g_ppr /
    g_hits: the three fixed-point gates consume the SAME kernel, so one
    distinct-pairs build serves all of them instead of re-running the
    o|><|li join + distinct per gate."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("c"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("s"),
        )
        .distinct()
    )


@_session_kernel
def _co_order_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparsified part co-order edge list (columns ``u`` < ``v``): per-order
    part pairs (bounded by lines-per-order, never all-pairs) aggregated to
    co-occurrence weights and kept at w >= 2 — the shared kernel of
    g_kcore / g_triangle_count / g_label_propagation: one edge build
    serves all three graph gates instead of re-running the o|><|o
    self-join per gate."""
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a, b = op.alias("a"), op.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("u"),
            F.col("b.l_partkey").alias("v"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("u", "v")
    )


@_session_kernel(widen=True)
def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, _sh: distinct 3-gram shingle array) over documents — the
    shared shingle table of the Bloom decontamination trio and the
    novelty pair: the shingling scan (tokenize + 3-gram + distinct over
    the whole corpus) dominates each consumer's cost, and five gates
    consume the identical table — one build serves them all."""
    from strava_vector_search_spark.operators.dedup import shingles

    return load_table(spark, sf_dir, "documents").select(
        "doc_id", shingles(F.col("text")).alias("_sh")
    )


@_session_kernel
def _minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified near-dup pairs over documents (MinHash LSH 16 hashes /
    4 bands, exact-Jaccard >= 0.5) — the shared pair kernel of the FIVE
    downstream dedup gates (dd_connected_components, dd_cluster_keep_best,
    dd_component_stats, dd_soft_dedup_weights, smp_leakage_safe_split),
    each of which previously re-ran the whole LSH + verify pipeline per
    construction per bench rep (the r12 prepare_pagerank_graph
    precedent: share the seed-independent prep, keep each gate's own
    computation per gate). dd_minhash_lsh_verified — the gate that
    MEASURES the pair pipeline — deliberately does NOT consume the
    kernel, so the pipeline's own cost stays an honestly benched number."""
    from strava_vector_search_spark.operators.dedup import (
        minhash_dedup_verified,
    )

    return minhash_dedup_verified(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        threshold=0.5,
    )


@_session_kernel
def _bloom_eval_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct eval-set (doc_id % 41 == 0) shingles — the reference key
    set every dd_bloom_* gate folds into a filter and
    dd_bloom_prefilter_exact additionally semi-joins for the exact
    verify. One explode+distinct per session instead of one per gate per
    rep (guide §2.4)."""
    return (
        _doc_shingles(spark, sf_dir)
        .filter(F.col("doc_id") % 41 == 0)
        .select(F.explode("_sh").alias("s"))
        .distinct()
    )


@_session_kernel
def _bloom_eval_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 16384-bit / k=4 Bloom filter over _bloom_eval_keys — byte-for-
    byte the filter dd_bloom_decontaminate and dd_bloom_prefilter_exact
    each rebuilt per construction (VERDICT r12 item 5: one filter build
    shared across the trio). The checkpointed word rows are <= 513 tiny
    rows; the probe side of every consumer is untouched."""
    from strava_vector_search_spark.operators.bloom import build_filter

    return build_filter(_bloom_eval_keys(spark, sf_dir), "s")


@_session_kernel
def _bloom_eval_sharded_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded twin of :func:`_bloom_eval_filter` (4 shards x 4096 bits,
    dd_bloom_sharded_decontaminate's exact build parameters)."""
    from strava_vector_search_spark.operators.bloom import (
        build_sharded_filter,
    )

    return build_sharded_filter(
        _bloom_eval_keys(spark, sf_dir), "s", n_shards=4, m_bits=4096
    )


@_session_kernel(widen=True)
def _token_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, _ts: token array) over documents — the shared tokenized
    corpus of the LM ladder (unigram/bigram perplexity, Kneser-Ney, PMI),
    the span/chunk/index gates, and the token-statistics family. The
    _doc_shingles amortization applied one level down: ~15 gates tokenize
    the identical corpus with the identical `tokens` expression, so one
    scan+split materializes once per session and every consumer reads
    the checkpointed token table instead of re-reading and re-splitting
    the parquet text column."""
    from strava_vector_search_spark.operators.dedup import tokens

    return load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("_ts")
    )


@_session_kernel
def _unigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(t, cnt) corpus unigram counts — the vocab table of the LM family,
    built from :func:`_token_arrays` (one explode + one map-side-combined
    aggregate, shared by perplexity / PMI / Zipf consumers)."""
    return (
        _token_arrays(spark, sf_dir)
        .select(F.explode("_ts").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@_session_kernel
def _bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(w1, w2, c12) corpus bigram counts from the map-only
    index-transform zip over :func:`_token_arrays` — shared by
    tx_bigram_perplexity and tx_kneser_ney (whose marginals all derive
    from this table, never a second corpus pass)."""
    tok = _token_arrays(spark, sf_dir).filter(F.size("_ts") >= 2)
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("_ts") - 1),
        lambda i: F.struct(
            F.element_at("_ts", i).alias("w1"),
            F.element_at("_ts", i + 1).alias("w2"),
        ),
    )
    return (
        tok.select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )


@_session_kernel
def _md5_emb_768(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, embedding: 768-d md5 vectors) over the corpus (doc 0 — the
    gates' query doc — excluded) — the materialized embedding table the
    reference itself maintains (WORKOUTS_WITH_VECTORS,
    02_method2_manual_vector_embedding.sql:88): search gates read stored
    vectors, they don't re-embed the corpus per query. Already
    cluster-wide (md5_embedding_table repartitions before densification).
    vs_topk_filtered_768 deliberately does NOT use it — that gate pins
    the embed kernel itself under the oracle, with metadata filters
    pushed BEFORE embedding."""
    from strava_vector_search_spark.functions.embed import md5_embedding_table

    return md5_embedding_table(
        load_table(spark, sf_dir, "documents").filter(F.col("doc_id") != 0),
        "doc_id",
        "text",
        dim=768,
    )


@_session_kernel
def _md5_emb_768_unit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`_md5_emb_768` L2-normalized at index time (the reference's
    normalize-at-write pattern, 02:404 — dot == cosine downstream), zero
    vectors dropped. ONE stable checkpointed plan per session —
    consumers that memoize on plan identity (PQ codebook training) hit
    their cache across bench reps and across the gate/lean-twin pair,
    instead of retraining against a fresh localCheckpoint plan every
    call (the round-10 bench found the m=96 Lloyd loop re-running warm
    at ~26 s/rep for exactly that reason)."""
    from strava_vector_search_spark.functions.vector import l2_normalize

    return (
        _md5_emb_768(spark, sf_dir)
        .select("doc_id", l2_normalize(F.col("embedding")).alias("embedding"))
        .filter(F.col("embedding").isNotNull())
    )


@_session_kernel(widen=True)
def _md5_emb_768_unit_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`_md5_emb_768_unit` as a STORED artifact read back from
    parquet — the production corpus shape (the reference maintains
    WORKOUTS_WITH_VECTORS as a table, 02:88,404): serving sessions LOAD
    the vector table, they never re-embed the corpus (the in-session
    build cost ~9 s of the cold persisted-IVFPQ serve path). Parquet
    round-trips the float arrays bit-for-bit, so every value is
    identical to the in-session kernel's; lives under the fingerprinted
    /tmp layout protocol, so regenerated testdata rebuilds it."""

    def _build(tmp: str) -> None:
        _md5_emb_768_unit(spark, sf_dir).write.mode("overwrite").parquet(
            tmp
        )

    path = _cached_layout(sf_dir, "documents", "md5u768_v1", _build)
    return spark.read.parquet(path)


@_session_kernel
def _ivfpq_768_index(spark: SparkSession, sf_dir: str):
    """(emb, cents, books, codes) — the composed IVF+PQ index at width
    768: the unit-normalized corpus carrying its KMeans cluster id
    (clusters from the :func:`_kmeans_ivf_768` fit, shared — one KMeans
    per session), per-cluster centroids over the UNIT vectors (probe
    ranking and scoring share one geometry), m=96 codebooks trained on
    the stable checkpointed plan (the memo hits across calls), and the
    96-byte code table encoded once. Everything a query touches is
    prebuilt — the FAISS-IVFPQ build/search split, session-scoped."""
    from strava_vector_search_spark.operators import pq as PQ
    from strava_vector_search_spark.operators.ann import compute_centroids

    clustered_raw, _ = _kmeans_ivf_768(spark, sf_dir)
    emb = (
        _md5_emb_768_unit(spark, sf_dir)
        .join(clustered_raw.select("doc_id", "cluster"), "doc_id")
        .localCheckpoint(eager=False)
    )
    cents = compute_centroids(emb, "cluster").localCheckpoint(eager=False)
    books = PQ.train_codebooks(emb, m=96, id_col="doc_id")
    codes = PQ.encode_pq(
        emb, books, id_col="doc_id", keep_cols=("cluster",)
    ).localCheckpoint(eager=False)
    return emb, cents, books, codes


def _pq768_path(spark: SparkSession, sf_dir: str) -> str:
    """Path of the persisted IVF+PQ-768 artifact (:func:`_ivfpq_768_index`
    written by operators/pq.write_pq_index) under the fingerprinted /tmp
    layout protocol, built once per corpus generation on a miss — the one
    build-or-locate step every load-and-serve gate and twin shares."""
    from strava_vector_search_spark.operators import pq as PQ

    def _build(tmp: str) -> None:
        _emb, cents, books, codes = _ivfpq_768_index(spark, sf_dir)
        PQ.write_pq_index(
            codes,
            books,
            tmp,
            id_col="doc_id",
            cluster_col="cluster",
            centroids=cents,
        )

    return _cached_layout(sf_dir, "documents", "pq768_m96c16v1", _build)


def _svc_768(spark: SparkSession, sf_dir: str, unit: bool = False):
    """The 768-d SearchService the svc_*_768 gates serve from: documents
    with the (lang, source, n_chars) ATTRIBUTES and the md5-768
    embeddings attached — the raw :func:`_md5_emb_768` table scored by
    full cosine, or with ``unit`` the stored unit table
    (:func:`_md5_emb_768_unit_stored`, the PQ artifact's encoding)
    scored by dot product."""
    from strava_vector_search_spark.service import SearchService

    docs = load_table(spark, sf_dir, "documents")
    emb = (
        _md5_emb_768_unit_stored(spark, sf_dir)
        if unit
        else _md5_emb_768(spark, sf_dir)
    )
    return SearchService(
        spark,
        docs,
        id_col="doc_id",
        search_col="text",
        attributes=("lang", "source", "n_chars"),
        dim=768,
        assume_normalized=unit,
    ).attach_embeddings(emb, vec_id_col="doc_id")


@_session_kernel
def _kmeans_ivf_768(spark: SparkSession, sf_dir: str):
    """(clustered, centroids) — the learned-centroid IVF index at width
    768: seeded 16-cluster MLlib KMeans over :func:`_md5_emb_768`, plus
    its 6-dp DECIMAL-routed centroid table. The fit input is fixed-width
    hash-partitioned and sorted within partitions, so the seeded solution
    doesn't drift with session parallelism. A session kernel like
    _md5_emb_768 — the fit is an INDEX BUILD (the reference maintains its
    vector table once, 02:404); search gates read the built index, they
    don't re-train per query."""
    from strava_vector_search_spark.operators.ann import (
        compute_centroids,
        kmeans_assign,
    )

    clustered = kmeans_assign(
        _md5_emb_768(spark, sf_dir)
        .repartition(32, "doc_id")
        .sortWithinPartitions("doc_id"),
        num_clusters=16,
        seed=42,
    ).localCheckpoint(eager=False)
    cents = compute_centroids(clustered, "cluster").localCheckpoint(
        eager=False
    )
    return clustered, cents


@_session_kernel
def _semantic_pairs_768_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-``lang`` SemDeDup pairs (cosine >= 0.9) over the 768-d md5
    corpus — the kernel output, unordered. Shared by
    ``dd_semantic_pairs_768`` (the full value-hash oracle pin: ``lang``
    is deterministic, so DuckDB replays the exact cell assignment) and
    ``dd_semantic_dedup_768_kmeans`` (which uses these independently
    oracle-verified pairs as the retention reference for the LEARNED
    cells) — one kernel run per session instead of one per gate."""
    from strava_vector_search_spark.operators.dedup import (
        semantic_pairs_blas,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = _md5_emb_768(spark, sf_dir).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    return semantic_pairs_blas(
        emb,
        cluster_col="lang",
        id_col="doc_id",
        vector_col="embedding",
        threshold=0.9,
    )


@_session_kernel
def _bpe6(spark: SparkSession, sf_dir: str):
    """The 6-merge BPE training artifact pair (merge list, final symbol
    state) over documents — tx_bpe_merges ships the merges,
    tx_bpe_encode_stats reads the final state; both ran the IDENTICAL
    6-round driver loop (each round one pair aggregate + one greedy
    merge window + a collect), so one training serves both. The state
    DataFrame is already checkpointed per round by the trainer."""
    from strava_vector_search_spark.operators.bpe import train_bpe_with_state

    docs = load_table(spark, sf_dir, "documents")
    return train_bpe_with_state(docs, "text", num_merges=6)


@_session_kernel
def _trade_graph_prep(spark: SparkSession, sf_dir: str) -> tuple:
    """Seed-independent PageRank prep over the SYMMETRIC trade graph —
    ``(edeg, base_nodes, n_nodes)`` from
    :func:`operators.graph.prepare_pagerank_graph`. g_pagerank and g_ppr
    iterate over the identical edge set; without the kernel each gate
    re-paid the prep's three checkpoint plannings plus the node-count
    job at every construction (once per bench rep)."""
    from strava_vector_search_spark.operators.graph import (
        prepare_pagerank_graph,
    )

    pairs = _trade_pairs(spark, sf_dir)
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).union(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    return prepare_pagerank_graph(edges)


def g_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank over the customer<->supplier trade graph
    (distinct trading pairs from orders |><| lineitem, both directions so
    no node dangles). 5 damped iterations of exact integer arithmetic --
    bit-reproducible under any partitioning/retry order and replayed
    bit-for-bit by the unrolled-CTE DuckDB oracle; see operators/graph.py
    for why floating-point PageRank cannot promise that. Top-20 nodes.
    The seed-independent graph prep is the :func:`_trade_graph_prep`
    session kernel, shared with g_ppr."""
    from strava_vector_search_spark.operators.graph import (
        pagerank_fixedpoint,
        top_ranked,
    )

    prep = _trade_graph_prep(spark, sf_dir)
    return top_ranked(
        pagerank_fixedpoint(None, iterations=5, prepared=prep), k=20
    )


QUERIES.update({"g_pagerank": g_pagerank})


def ml_linear_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form linear-probe training over the embeddings table: least
    squares of a one-vs-rest 0/1 target (label == 0) on the first two
    embedding dims + intercept, solved from EXACT decimal normal-equation
    moments (one map-side-combined aggregate) via a 3x3 Cramer solve whose
    expression text is byte-identical in the DuckDB oracle. Second scan
    scores the train set with the broadcast 1-row coefficient table.
    Returns (n_train, b0, b1, b2, train_acc, r2)."""
    from strava_vector_search_spark.operators import linear as L

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    feats = L.feature_frame(
        emb,
        F.col("embedding")[0],
        F.col("embedding")[1],
        # coalesce pins NULL labels to 0, matching the oracle's
        # CASE WHEN label = 0 THEN 1 ELSE 0 END (a bare boolean cast
        # would yield NULL) — same contract at every probe-gate site
        F.coalesce((F.col("label") == 0).cast("int"), F.lit(0)),
    )
    return L.fit_and_score(feats)


QUERIES.update({"ml_linear_probe": ml_linear_probe})


def ml_logreg_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic-regression training (IRLS / Newton, 2
    unrolled iterations from beta=0) on the same probe features as
    ml_linear_probe: per iteration ONE map-side-combined aggregate folds
    the dataset into the 3-gradient + 3x3-Hessian moments (per-row terms
    10-dp-rounded then DECIMAL-accumulated -- exact under any partition
    order), and the Newton step is a Cramer solve whose expression text the
    DuckDB oracle shares byte-for-byte. Returns
    (n_train, b0, b1, b2, train_acc, log_loss)."""
    from strava_vector_search_spark.operators import linear as L

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    feats = L.feature_frame(
        emb,
        F.col("embedding")[0],
        F.col("embedding")[1],
        F.coalesce((F.col("label") == 0).cast("int"), F.lit(0)),
    )
    return L.logreg_irls(feats, iterations=2)


QUERIES.update({"ml_logreg_irls": ml_logreg_irls})


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composed ANN property gate (the FAISS-IVFPQ recipe): encode
    the corpus once WITH its cluster id (keep_cols), then per query probe
    nprobe=4 of the 10 label clusters, ADC-scan only the probed codes, and
    exact-rescore 200 candidates. Checked properties, same contract as the
    other ANN gates: (a) mean recall@10 >= 0.8 vs the EXACT top-10 within
    the probed clusters (isolates PQ candidate loss from IVF pruning,
    which is deterministic and already exact-oracled by ann_ivf_topk);
    (b) every shared hit carries the identical similarity (the refine
    stage uses the same scorer)."""
    from strava_vector_search_spark.operators import pq as PQ
    from strava_vector_search_spark.operators.ann import (
        collect_centroids,
        compute_centroids,
        probe_local,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    books = PQ.train_codebooks(emb)
    codes = PQ.encode_pq(emb, books, keep_cols=("label",)).localCheckpoint(
        eager=False
    )
    n_encoded = codes.count()
    cents = compute_centroids(emb, "label").localCheckpoint(eager=False)
    local = collect_centroids(cents)
    k, nprobe, qids = 10, 4, (3, 7, 11, 19, 23)
    hits, sims_exact = 0, True
    for qid in qids:
        qv = _query_vec(spark, sf_dir, qid)
        # the SAME probe the operator uses internally — agreement is what
        # makes "recall vs exact-within-probe" valid
        (probed,) = probe_local(local, [qv], nprobe)
        in_probe = emb.filter(F.col("label").isin(probed))
        exact = {
            r["vec_id"]: r["similarity"]
            for r in S.brute_force_topk(
                in_probe, qv, k=k, id_col="vec_id", assume_normalized=True
            ).collect()
        }
        approx = {
            r["vec_id"]: r["similarity"]
            for r in PQ.ivfpq_topk(
                emb, codes, books, qv, k=k, nprobe=nprobe, n_cand=200,
                centroids=local,
            ).collect()
        }
        common = set(exact) & set(approx)
        hits += len(common)
        sims_exact = sims_exact and all(exact[i] == approx[i] for i in common)
    return spark.createDataFrame(
        [
            (
                n_encoded,
                nprobe,
                k,
                bool(hits / (k * len(qids)) >= 0.8),
                bool(sims_exact),
            )
        ],
        "n_encoded bigint, nprobe int, k int,"
        " recall_vs_probed_exact_ge_080 boolean, refined_sims_exact boolean",
    )


QUERIES.update({"ann_ivfpq_topk": ann_ivfpq_topk})


def ml_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed ROC-AUC of the linear probe's scores over the
    embeddings table, via the tie-aware pair-counting identity

        AUC = [ Σ_s n_pos(s)·(2·n_neg(<s) + n_neg(s)) ] / (2·n_pos·n_neg)

    -- every term is an integer count, so the sum is exact and
    order-insensitive; the one double division happens at the end. The
    cumulative window runs over the per-DISTINCT-SCORE aggregate (scores
    are 6-dp-rounded model outputs over a bounded range, so its
    cardinality is bounded regardless of corpus size -- the global-order
    window never sees raw rows). Returns (n, n_pos, n_neg, auc)."""
    from strava_vector_search_spark.operators import linear as L

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    feats = L.feature_frame(
        emb,
        F.col("embedding")[0],
        F.col("embedding")[1],
        F.coalesce((F.col("label") == 0).cast("int"), F.lit(0)),
    )
    coef = L.solve_coefficients(L.moment_sums(feats))
    scored = feats.crossJoin(F.broadcast(coef)).select(
        F.round(F.expr("b0 + b1 * x1 + b2 * x2"), 6).alias("s"),
        F.col("y").cast("long").alias("yl"),
    )
    by_score = scored.groupBy("s").agg(
        F.sum("yl").alias("np_s"),
        (F.count(F.lit(1)) - F.sum("yl")).alias("nn_s"),
    )
    w = (
        Window.orderBy(F.asc("s"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    terms = by_score.select(
        "np_s",
        "nn_s",
        F.coalesce(F.sum("nn_s").over(w), F.lit(0)).alias("nn_below"),
    )
    return terms.agg(
        F.sum(F.col("np_s") + F.col("nn_s")).alias("n"),
        F.sum("np_s").alias("n_pos"),
        F.sum("nn_s").alias("n_neg"),
        # the pair-count numerator is ~2·AUC·n_pos·n_neg — past ~2e9 rows
        # per class it overflows a long, so promote an OPERAND to
        # DECIMAL(38,0) BEFORE the multiply (casting the finished product
        # would wrap in BIGINT first under non-ANSI Spark); the DuckDB
        # oracle promotes to HUGEINT pre-multiplication for the same reason
        F.sum(
            F.col("np_s").cast("decimal(38,0)")
            * (
                F.lit(2) * F.col("nn_below").cast("decimal(38,0)")
                + F.col("nn_s")
            )
        ).alias("numer2"),
    ).select(
        "n",
        "n_pos",
        "n_neg",
        F.round(
            F.col("numer2").cast("double")
            / (F.lit(2.0) * F.col("n_pos") * F.col("n_neg")),
            6,
        ).alias("auc"),
    )


QUERIES.update({"ml_roc_auc": ml_roc_auc})


def ml_kfold_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validation of the LS probe by MOMENT SUBTRACTION: the
    Gram moments are a monoid, so each leave-one-fold-out model trains
    from (total - fold) moments -- k models from ONE grouped aggregate
    over the data, no per-fold passes. Folds are portable md5-hash buckets
    of vec_id (the smp_hash_split contract), the subtraction is exact
    decimal arithmetic, and the oracle replays the whole thing including
    the shared-text Cramer solve. One row per fold:
    (fold, n_train, n_val, val_acc)."""
    from strava_vector_search_spark.operators import linear as L
    from strava_vector_search_spark.operators.dedup import md5_int

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    feats = emb.select(
        F.pmod(md5_int(F.col("vec_id").cast("string")), F.lit(5)).alias(
            "fold"
        ),
        F.round(F.col("embedding")[0].cast("double"), 6).alias("x1"),
        F.round(F.col("embedding")[1].cast("double"), 6).alias("x2"),
        F.coalesce((F.col("label") == 0).cast("int"), F.lit(0))
        .cast("double")
        .alias("y"),
    )
    return L.kfold_cv(feats)


QUERIES.update({"ml_kfold_cv": ml_kfold_cv})


def ml_multiclass_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiclass (one-vs-rest) linear probe over ALL 10 labels from ONE
    grouped aggregate: because the OVR target of class c is an indicator,
    its cross moments are just the class's own (count, Σx1, Σx2), and the
    shared Gram matrix is the monoid fold of the per-class rows -- so 10
    models cost one groupBy(label) aggregate, one 10-row solve (det is
    identical across classes: same A, different right-hand side), and one
    argmax scoring scan against the broadcast 10-row model table. Output:
    (label, n_pos, b0, b1, b2, argmax_acc) per class; argmax_acc is the
    overall multiclass train accuracy (score desc, label asc tie-break),
    identical in every row."""
    from strava_vector_search_spark.operators.linear import DET_EXPRS

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    feats = emb.select(
        "vec_id",
        "label",
        F.round(F.col("embedding")[0].cast("double"), 6).alias("x1"),
        F.round(F.col("embedding")[1].cast("double"), 6).alias("x2"),
    )

    def dsum(expr, name):
        return F.sum(expr.cast("decimal(38,12)")).alias(name)

    x1, x2 = F.col("x1"), F.col("x2")
    per_class = feats.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_c"),
        dsum(x1, "s1_c"),
        dsum(x2, "s2_c"),
        dsum(x1 * x1, "s11_c"),
        dsum(x1 * x2, "s12_c"),
        dsum(x2 * x2, "s22_c"),
    )
    shared = per_class.agg(
        F.sum("n_c").cast("bigint").alias("tn"),
        *[
            F.sum(f"{c}_c").alias(f"t{c}")
            for c in ("s1", "s2", "s11", "s12", "s22")
        ],
    )
    m = per_class.crossJoin(F.broadcast(shared)).select(
        "label",
        F.col("n_c").cast("bigint").alias("n_pos"),
        F.col("tn").cast("double").alias("n_d"),
        *[
            F.col(f"t{c}").cast("double").alias(c)
            for c in ("s1", "s2", "s11", "s12", "s22")
        ],
        F.col("n_c").cast("double").alias("sy"),
        F.col("s1_c").cast("double").alias("s1y"),
        F.col("s2_c").cast("double").alias("s2y"),
    )
    for name, text in DET_EXPRS.items():
        m = m.withColumn(name, F.expr(text))
    models = m.select(
        "label",
        "n_pos",
        F.round(F.expr("det0 / det"), 6).alias("b0"),
        F.round(F.expr("det1 / det"), 6).alias("b1"),
        F.round(F.expr("det2 / det"), 6).alias("b2"),
    ).localCheckpoint(eager=False)
    scored = feats.crossJoin(
        F.broadcast(
            models.select(
                F.col("label").alias("cls"), "b0", "b1", "b2"
            )
        )
    ).select(
        "vec_id",
        "label",
        "cls",
        F.round(F.expr("b0 + b1 * x1 + b2 * x2"), 6).alias("score"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("score"), F.asc("cls")
    )
    pred = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", F.col("cls").alias("pred_label"))
    )
    acc = pred.agg(
        F.round(
            F.sum(
                F.when(F.col("label") == F.col("pred_label"), 1).otherwise(0)
            ).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("argmax_acc")
    )
    return (
        models.crossJoin(F.broadcast(acc))
        .select("label", "n_pos", "b0", "b1", "b2", "argmax_acc")
        .orderBy("label")
    )


QUERIES.update({"ml_multiclass_probe": ml_multiclass_probe})


def vs_mean_pool_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level embedding aggregation: mean-pool each label group's
    member vectors into ONE document vector (per-dim exact DECIMAL means,
    the compute_centroids kernel) and rank documents by pooled cosine --
    the standard sentence->document pooling step of an embedding pipeline,
    as one posexplode + partial-combined aggregate; the query scores 10
    pooled vectors, not the corpus."""
    from strava_vector_search_spark.functions.vector import (
        cosine_similarity_rounded,
    )
    from strava_vector_search_spark.operators.ann import compute_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir, 5)
    qcol = lit_double_array(qv)
    pooled = compute_centroids(emb, "label")
    return (
        pooled.select(
            F.col("cluster").cast("int").alias("label"),
            cosine_similarity_rounded(F.col("centroid"), qcol).alias(
                "pooled_sim"
            ),
        )
        .orderBy(F.desc("pooled_sim"), F.asc("label"))
    )


QUERIES.update({"vs_mean_pool_topk": vs_mean_pool_topk})


def dq_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-snapshot drift monitor -- the ops check a re-embedding run
    needs before an index swap: split the table into two deterministic
    cohorts (stand-ins for old/new snapshots), compute each cohort's exact
    per-dimension DECIMAL mean vector, and report how far the two centers
    moved: mean/max absolute per-dim shift and the cosine of the two mean
    vectors. One posexplode + one partial-combined aggregate per cohort;
    the comparison runs over 64 per-dim rows, never the corpus. Output:
    (n_a, n_b, mean_abs_drift, max_abs_drift, mean_cosine)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    ex = emb.select(
        F.pmod(F.col("vec_id"), F.lit(2)).alias("cohort"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "v"
        ),
    )
    per = ex.groupBy("cohort", "pos").agg(
        F.round(
            F.sum(F.col("v").cast("decimal(28,10)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mu"),
        (F.count(F.lit(1))).alias("n_rows"),
    )
    a = per.filter(F.col("cohort") == 0).select(
        "pos", F.col("mu").alias("mu_a"), F.col("n_rows").alias("na")
    )
    b = per.filter(F.col("cohort") == 1).select(
        "pos", F.col("mu").alias("mu_b"), F.col("n_rows").alias("nb")
    )
    j = a.join(b, "pos")

    # the 6-dp means make |diff| exact at 6 dp and products exact at 12 dp,
    # so DECIMAL accumulation keeps the 64-element sums order-insensitive
    def dsum(expr):
        return F.sum(expr.cast("decimal(38,12)")).cast("double")

    return j.agg(
        F.max("na").cast("bigint").alias("n_a"),
        F.max("nb").cast("bigint").alias("n_b"),
        F.round(
            dsum(F.abs(F.col("mu_a") - F.col("mu_b"))) / F.count(F.lit(1)),
            6,
        ).alias("mean_abs_drift"),
        F.round(
            F.max(F.abs(F.col("mu_a") - F.col("mu_b"))), 6
        ).alias("max_abs_drift"),
        F.round(
            dsum(F.col("mu_a") * F.col("mu_b"))
            / (
                F.sqrt(dsum(F.col("mu_a") * F.col("mu_a")))
                * F.sqrt(dsum(F.col("mu_b") * F.col("mu_b")))
            ),
            6,
        ).alias("mean_cosine"),
    )


QUERIES.update({"dq_embedding_drift": dq_embedding_drift})


def g_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collaborative-filtering item similarity over the trade graph: top
    supplier pairs by Jaccard overlap of their customer sets, via the
    inverted-index join (customers emit their supplier pairs -- bounded by
    per-customer degree, never all supplier pairs; a max-degree guard
    drops promiscuous customers the way text dedup drops stop-shingles).
    Exact integer counts, one 6-dp division at the end."""
    from strava_vector_search_spark.operators.graph import (
        neighborhood_jaccard_pairs,
    )

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    edges = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst")
    )
    pairs = neighborhood_jaccard_pairs(edges, max_src_degree=50)
    return pairs.orderBy(
        F.desc("jaccard"), F.asc("i1"), F.asc("i2")
    ).limit(20)


QUERIES.update({"g_item_similarity": g_item_similarity})


def ml_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe leave-one-out target encoding -- the standard
    categorical feature for tabular training: each event's category
    (event_type) is encoded as the mean target of ALL OTHER rows in that
    category, (sum_y - y_i) / (n - 1). One grouped DECIMAL-exact aggregate
    broadcast back onto the scan; categories with a single row encode
    NULL. First 20 rows by event_id, value as the 0/1 target proxy."""
    ev = load_events(spark, sf_dir).filter(F.col("value").isNotNull())
    y = (F.col("value") > 5.0).cast("int").cast("double")
    base = ev.select("event_id", "event_type", y.alias("y"))
    stats = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_cat"),
        F.sum(F.col("y").cast("decimal(38,12)")).alias("sum_y"),
    )
    return (
        base.join(F.broadcast(stats), "event_type")
        .select(
            "event_id",
            "event_type",
            F.col("y").cast("bigint").alias("y"),
            F.when(
                F.col("n_cat") > 1,
                F.round(
                    (F.col("sum_y").cast("double") - F.col("y"))
                    / (F.col("n_cat") - 1).cast("double"),
                    6,
                ),
            ).alias("loo_encoding"),
        )
        .orderBy("event_id")
        .limit(20)
    )


QUERIES.update({"ml_target_encode_loo": ml_target_encode_loo})


def ml_calibration_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the linear probe: predictions bucketed into
    ten 0.1-wide bins (clamped to [0,1]), each reporting its row count,
    mean prediction, and empirical positive rate -- the calibration check
    a score must pass before thresholding at 0.80/0.70 like the
    reference's cache rubric. Means are DECIMAL-routed, one scan + one
    aggregate after the broadcast-coefficient scoring."""
    from strava_vector_search_spark.operators import linear as L

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    feats = L.feature_frame(
        emb,
        F.col("embedding")[0],
        F.col("embedding")[1],
        F.coalesce((F.col("label") == 0).cast("int"), F.lit(0)),
    )
    coef = L.solve_coefficients(L.moment_sums(feats))
    scored = feats.crossJoin(F.broadcast(coef)).select(
        F.round(F.expr("b0 + b1 * x1 + b2 * x2"), 6).alias("pred"),
        F.col("y"),
    )
    binned = scored.withColumn(
        "bin",
        F.least(
            F.lit(9),
            F.greatest(F.lit(0), F.floor(F.col("pred") * 10).cast("int")),
        ),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("pred").cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_pred"),
            F.round(
                F.sum(F.col("y").cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("pos_rate"),
        )
        .orderBy("bin")
    )


QUERIES.update({"ml_calibration_table": ml_calibration_table})


def dd_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SoftDeDup-style duplicate DOWN-WEIGHTING: instead of dropping
    near-dup copies, every document gets training weight 1/|component|
    (singletons weigh 1.0), so duplicated content contributes once in
    expectation while no document is lost -- the soft alternative the
    dedup literature recommends when near-dups carry distinct metadata. Same
    MinHash-LSH -> verified pairs -> connected components labeling as
    dd_connected_components, plus one component-size aggregate broadcast
    back. Output: (doc_id, comp, comp_size, weight)."""
    from strava_vector_search_spark.operators.dedup import (
        dedup_by_near_dup_groups,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = _minhash_pairs(spark, sf_dir)
    # the labeling feeds BOTH the size aggregate and the weight join —
    # checkpoint so the MinHash+CC pipeline upstream runs once, not twice
    labeled = dedup_by_near_dup_groups(docs, pairs, "doc_id").localCheckpoint(
        eager=False
    )
    sizes = labeled.groupBy("comp").agg(
        F.count(F.lit(1)).alias("comp_size")
    )
    return (
        labeled.join(F.broadcast(sizes), "comp")
        .select(
            "doc_id",
            "comp",
            "comp_size",
            F.round(
                F.lit(1.0) / F.col("comp_size").cast("double"), 6
            ).alias("weight"),
        )
        .orderBy("doc_id")
    )


QUERIES.update({"dd_soft_dedup_weights": dd_soft_dedup_weights})


def dm_epoch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-epoch mixture schedule: given a global training-token budget
    and target mixture weights, compute each source's repetition factor
    (epochs = tokens the schedule wants / tokens the source has) -- the
    "how many times does each domain repeat" table of a pretraining run
    (up-sampled low-resource sources repeat, abundant ones are sampled
    below one epoch). One |sources|-row aggregate; all arithmetic on the
    tiny table. Output per source: available and scheduled token counts,
    the repetition factor, and a flag when a source repeats more than the
    4-epoch soundness ceiling the data-mixing literature warns about."""
    docs = load_table(spark, sf_dir, "documents")
    from strava_vector_search_spark.functions.text import token_count

    weights = {"src0": 0.2, "src1": 0.5, "src2": 0.3}
    budget_tokens = 40_000
    avail = (
        docs.filter(F.col("source").isin(*weights))
        .groupBy("source")
        .agg(F.sum(token_count(F.col("text"))).alias("avail_tokens"))
    )
    w_expr = F.when(F.col("source") == "src0", F.lit(0.2)).when(
        F.col("source") == "src1", F.lit(0.5)
    ).otherwise(F.lit(0.3))
    return (
        avail.select(
            "source",
            "avail_tokens",
            w_expr.alias("target_weight"),
            # explicit round before the integral cast: Spark truncates
            # double->bigint while DuckDB rounds, so an unrounded product
            # like 7999.999... would diverge by 1
            F.round(w_expr * F.lit(float(budget_tokens)), 0)
            .cast("bigint")
            .alias("scheduled_tokens"),
        )
        .select(
            "source",
            "avail_tokens",
            "target_weight",
            "scheduled_tokens",
            F.round(
                F.col("scheduled_tokens").cast("double")
                / F.col("avail_tokens").cast("double"),
                6,
            ).alias("epochs"),
            (
                F.col("scheduled_tokens").cast("double")
                > F.lit(4.0) * F.col("avail_tokens").cast("double")
            ).alias("over_repetition"),
        )
        .orderBy("source")
    )


QUERIES.update({"dm_epoch_schedule": dm_epoch_schedule})


def a19_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group MODE (most frequent value) with deterministic
    tie-break -- the one descriptive statistic percentiles can't express:
    per event type, the most common rounded value, its count, and the
    distinct-value count. Two partial-combined aggregates (value counts,
    then argmax via max_by on (count, -value)); no window, no sort of the
    raw rows."""
    ev = load_events(spark, sf_dir).filter(F.col("value").isNotNull())
    counts = ev.select(
        "event_type", F.round(F.col("value"), 0).cast("bigint").alias("v")
    ).groupBy("event_type", "v").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        counts.groupBy("event_type")
        .agg(
            F.expr("max_by(v, struct(cnt, -v))").alias("mode_value"),
            F.max("cnt").alias("mode_count"),
            F.count(F.lit(1)).alias("n_distinct_values"),
        )
        .orderBy("event_type")
    )


QUERIES.update({"a19_mode_per_group": a19_mode_per_group})


def lay_zonemap_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map data skipping (plans/zonemap.py): orders is laid out
    range-clustered on o_totalprice (repartitionByRange + sort within
    files), a one-row-per-file min/max stats table is built in one
    column-pruned scan, and a selective range predicate is answered by
    scanning ONLY the files whose envelope can intersect it (6 of 8 files
    never opened -- asserted in test_zonemap), with the exact predicate
    re-applied after the pruned read (zone maps are conservative, never a
    filter). The Delta/Iceberg data-skipping design over plain parquet;
    at 100 TB the stats table is one narrow row per file, broadcastable,
    and turns footer-storm scan planning into a metadata filter.
    Reference scale ladder analogue: 02_method2:438-442."""
    from strava_vector_search_spark.plans import zonemap as Z

    orders = load_table(spark, sf_dir, "orders")

    # the layout is a pure function of the source table: built once per
    # source fingerprint (path-keyed), so repeated calls measure the READ path
    def _build(tmp_path: str) -> None:
        (
            orders.repartitionByRange(8, "o_totalprice")
            .sortWithinPartitions("o_totalprice")
            .write.mode("overwrite")
            .parquet(tmp_path)
        )

    path = _cached_layout(sf_dir, "orders", "zonemap", _build)
    zm = Z.build_zonemap(spark, path, ["o_totalprice"])
    pruned = Z.read_pruned(spark, zm, "o_totalprice", 100000.0, 150000.0)
    # round the exact DECIMAL before the double cast (the q9 half-boundary
    # lesson: rounding after the cast diverges cross-engine on exact halves)
    return (
        pruned.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


QUERIES.update({"lay_zonemap_prune": lay_zonemap_prune})


def f_udtf_char_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (Spark 4 `@udtf` + SQL LATERAL correlation):
    sliding character windows (size 40, stride 30 -- the overlapping-chunk
    shape retrieval pipelines feed to embedders) emitted as rows by a
    user-defined TABLE function, correlated per document. Arrow-batched
    via @udtf(useArrow=True) -- the session conf is read at DECORATION
    time, so it must be baked into the decorator; input bounded to 40
    docs because a row-Python TVF is the engine's SLOW path by contract --
    the set-oriented twin of this op is tx_chunk_documents (pure
    expressions); this gate exists to pin the UDTF API surface itself."""
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="win_idx: int, start: int, win_len: int, preview: string",
        useArrow=True,
    )
    class CharWindows:
        def eval(self, text: str, size: int, stride: int):
            if text is None:
                return
            n = len(text)
            i = 0
            w = 0
            while i < n:
                win = text[i : i + size]
                yield (w, i, len(win), win[:20])
                w += 1
                i += stride

    spark.udtf.register("svs_char_windows", CharWindows)
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 40
    )
    docs.createOrReplaceTempView("svs_udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, w.win_idx, w.start, w.win_len, w.preview
        FROM svs_udtf_docs d,
             LATERAL svs_char_windows(d.text, 40, 30) w
        ORDER BY d.doc_id, w.win_idx
        """
    )


QUERIES.update({"f_udtf_char_windows": f_udtf_char_windows})


def ml_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus (first 8 dims):
    ONE map-side-combined decimal Gram aggregate (the d(d+1)/2 moment
    monoid -- operators/pca.py), then a fixed 6-iteration power method
    unrolled in expression text shared verbatim with the DuckDB oracle
    (the PageRank/IRLS bit-exact pattern). Returns 1 row: corpus size,
    Rayleigh eigenvalue, explained-variance share, and the sign-fixed
    6-dp component vector. The only distributed work is the aggregate;
    everything after is O(d^2) on one row -- at 768d the same design
    swaps the unrolled text for a driver eigensolve on the aggregate."""
    from strava_vector_search_spark.operators import pca as P

    def cols(texts):
        out = []
        for t in texts:
            expr_text, alias = t.rsplit(" AS ", 1)
            out.append(F.expr(expr_text).alias(alias))
        return out

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    feats = emb.select(*cols(P.feat_exprs(one_based=False)))
    m = feats.agg(*cols(P.gram_exprs()))
    m = m.select("n", *cols(P.double_exprs()))
    m = m.select("n", *cols(P.cov_exprs()))
    # carry only (n, C, previous stage) forward: keeps the codegen row
    # narrow instead of accumulating every intermediate column
    keep = ["n"] + [f"c{i}_{j}" for i, j in P._PAIRS]
    prev2: list[str] = []
    prev1: list[str] = []
    for stage in P.power_stages():
        # the v-stage reads both w (two stages back) and nrm (one back)
        m = m.select(*keep, *prev2, *prev1, *cols(stage))
        prev2, prev1 = prev1, [t.rsplit(" AS ", 1)[1] for t in stage]
        if prev1[0].startswith("v"):
            # cut lineage at each iteration boundary: otherwise Catalyst's
            # project-collapsing inlines w->nrm->v across iterations and
            # the expression tree grows exponentially (1-row data, so the
            # checkpoint itself is free)
            m = m.localCheckpoint(eager=False)
    return m.select(*cols(P.final_exprs()))


QUERIES.update({"ml_pca_power": ml_pca_power})


def ml_judge_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-judge agreement (Cohen's kappa) between two deterministic
    document labelers -- the acceptance statistic for LLM-judge / rater
    pipelines (is judge B adding signal over chance agreement with judge
    A?). Labels are pure expressions (length rule vs word-count rule), the
    contingency table is ONE map-side-combined aggregate, kappa is
    arithmetic on the 1-row result. Scales as a single scan; no shuffle
    wider than 4 counters."""
    docs = load_table(spark, sf_dir, "documents")
    lab = docs.select(
        F.when(F.length("text") >= 250, 1).otherwise(0).alias("a"),
        F.when(
            F.length("text")
            - F.length(F.regexp_replace("text", " ", ""))
            + F.lit(1)
            >= 45,
            1,
        )
        .otherwise(0)
        .alias("b"),
    )
    m = lab.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END")).alias("n11"),
        F.sum(F.expr("CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END")).alias("n10"),
        F.sum(F.expr("CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END")).alias("n01"),
        F.sum(F.expr("CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END")).alias("n00"),
    )
    po = "(CAST(n11 AS DOUBLE) + n00) / n"
    pe = (
        "((CAST(n11 AS DOUBLE) + n10) / n) * ((CAST(n11 AS DOUBLE) + n01) / n)"
        " + ((CAST(n01 AS DOUBLE) + n00) / n) * ((CAST(n10 AS DOUBLE) + n00) / n)"
    )
    return m.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.expr(f"ROUND({po}, 6)").alias("p_observed"),
        F.expr(f"ROUND({pe}, 6)").alias("p_expected"),
        F.expr(f"ROUND((({po}) - ({pe})) / (1.0 - ({pe})), 6)").alias("kappa"),
    )


QUERIES.update({"ml_judge_agreement": ml_judge_agreement})


def idx_trigram_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram-index-accelerated substring search: the engine answer to
    selective LIKE '%phrase%' at 100 TB, where a full text scan per query
    is unaffordable. A character-trigram posting table (doc_id, trigram --
    per-doc distinct, built in one scan) is
    filtered to the query's trigrams (literal IN -- pushed), candidates
    are docs matching ALL query trigrams (one partial-combined count),
    and the exact `contains` predicate runs on candidates ONLY
    (conservative index, exact verify -- same contract as the zone map).
    The posting table is PERSISTED trigram-clustered (build once, query
    many -- the index economics at 100 TB), so the query's literal IN
    reaches the posting scan as a pushed filter and row-group min/max
    stats prune posting lists outside the query's trigrams.
    Oracle: the plain LIKE scan, so acceleration must be value-invisible."""
    q = "vector table fast"
    qgrams = sorted({q[i : i + 3] for i in range(len(q) - 2)})
    docs = load_table(spark, sf_dir, "documents")

    def _build(tmp_path: str) -> None:
        postings = docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.when(
                        F.length("text") >= 3,
                        F.expr(
                            "transform(sequence(1, length(text) - 2),"
                            " i -> substring(text, i, 3))"
                        ),
                    ).otherwise(F.expr("array()"))
                )
            ).alias("tg"),
        )
        (
            postings.repartitionByRange(8, "tg")
            .sortWithinPartitions("tg", "doc_id")
            .write.mode("overwrite")
            .parquet(tmp_path)
        )

    idx_path = _cached_layout(sf_dir, "documents", "trigram", _build)
    candidates = (
        spark.read.parquet(idx_path)
        .filter(F.col("tg").isin(qgrams))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("hits"))
        .filter(F.col("hits") == len(qgrams))
        .select("doc_id")
    )
    return (
        docs.join(candidates, "doc_id", "left_semi")
        .filter(F.col("text").contains(q))
        .select("doc_id", F.length("text").alias("n_chars"))
        .orderBy("doc_id")
    )


QUERIES.update({"idx_trigram_substring": idx_trigram_substring})


def dd_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination (complement of the n-gram
    `dd_decontaminate`: paraphrased leakage shares no n-grams but lands
    close in embedding space): corpus vectors whose best cosine against
    any eval vector >= 0.35, with the nearest eval item attached. Eval
    matrix broadcasts (small by definition); ONE map-only V @ E.T pass
    over the corpus, 6-dp-in-kernel rounding with min-eval-id tie-break
    (operators/dedup.cross_set_contamination)."""
    from strava_vector_search_spark.operators.dedup import (
        cross_set_contamination,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    evalset = emb.filter(F.col("vec_id") % 41 == 0).select(
        F.col("vec_id").alias("eval_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") % 41 != 0)
    return cross_set_contamination(corpus, evalset, threshold=0.35)


QUERIES.update({"dd_decontaminate_semantic": dd_decontaminate_semantic})


def ml_als_user_factors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One closed-form ALS user-step over the purchase matrix
    (operators/als.py): hash-initialized rank-2 item factors join onto
    the (custkey, partkey, qty) ratings, five DECIMAL sufficient
    statistics per user in ONE map-side-combined aggregate, and the 2x2
    ridge solve (Y'Y + lambda I)^-1 Y'r as expression math -- the same
    moments-then-broadcast-solve shape as the linear probe, so iterating
    alternates two such steps with roles swapped and factors never
    become driver state. Algebra text shared verbatim with the DuckDB
    oracle; only the md5->bigint idiom differs per engine."""
    from strava_vector_search_spark.operators import als as A

    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "svs_als_lineitem"
    )
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "svs_als_orders"
    )
    return spark.sql(
        A.als_user_step_sql(A.spark_md5i, "svs_als_lineitem", "svs_als_orders")
    )


QUERIES.update({"ml_als_user_factors": ml_als_user_factors})


def lay_zorder_2d_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order + multi-column zone maps composed: orders laid out on the
    Morton curve of (o_totalprice, o_custkey) (plans/layout.write_zordered
    -- one repartitionByRange shuffle, sorted files), a two-column
    zone map built in one scan, and a CONJUNCTIVE range predicate
    answered by intersecting the per-column file survivors before any
    data I/O -- the multi-dimensional data-skipping property that
    single-column sorting cannot give (sorting by price alone leaves
    every file spanning all custkeys). Exact predicate re-applied after
    the pruned read; oracle is the plain two-predicate aggregate."""
    from strava_vector_search_spark.plans import zonemap as Z
    from strava_vector_search_spark.plans.layout import write_zordered

    orders = load_table(spark, sf_dir, "orders")

    def _build(tmp_path: str) -> None:
        lo_p, hi_p = 1000.0, 510000.0
        hi_c = orders.agg(F.max("o_custkey")).first()[0] or 1
        write_zordered(
            orders,
            tmp_path,
            ["o_totalprice", "o_custkey"],
            {"o_totalprice": (lo_p, hi_p), "o_custkey": (0.0, float(hi_c))},
            num_files=16,
        )

    path = _cached_layout(sf_dir, "orders", "zorder2d", _build)
    zm = Z.build_zonemap(spark, path, ["o_totalprice", "o_custkey"])
    pruned = Z.read_pruned_multi(
        spark,
        zm,
        [("o_totalprice", 100000.0, 200000.0), ("o_custkey", None, 400)],
    )
    return pruned.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2)
        .cast("double")
        .alias("revenue"),
    ).orderBy("o_orderstatus")


QUERIES.update({"lay_zorder_2d_prune": lay_zorder_2d_prune})


def ev_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling with linear interpolation: per user, the
    hourly mean of `value` over the first 48 hours is projected onto a
    DENSE hour grid; missing hours are linearly interpolated between the
    previous and next observed hour (forward-/back-fill at the edges).
    The regular-grid densification every metrics store needs before
    windowed models. Shape: one partial-combined hourly aggregate, a
    generated grid (no data scan), one left join, and two
    IGNORE-NULLS window passes (prev/next observation) -- no self-join,
    no per-gap explode; scales as O(grid + observations)."""
    from pyspark.sql import Window

    HBASE = 473352  # floor(epoch('2024-01-01')/3600)
    HOURS = 48
    ev = load_events(spark, sf_dir).filter(
        (F.col("user_id") < 5) & F.col("value").isNotNull()
    )
    obs = (
        ev.withColumn(
            "h",
            F.expr("CAST(FLOOR(unix_timestamp(ts) / 3600) AS BIGINT)")
            - F.lit(HBASE),
        )
        .filter((F.col("h") >= 0) & (F.col("h") < HOURS))
        .groupBy("user_id", "h")
        .agg(
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                / F.count("value"),
                6,
            ).alias("obs_v")
        )
    )
    users = obs.select("user_id").distinct()
    grid = users.crossJoin(
        spark.range(HOURS).select(F.col("id").alias("h"))
    )
    j = grid.join(obs, ["user_id", "h"], "left")
    wp = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    j = (
        j.withColumn("prev_v", F.last("obs_v", ignorenulls=True).over(wp))
        .withColumn(
            "prev_h",
            F.last(
                F.when(F.col("obs_v").isNotNull(), F.col("h")),
                ignorenulls=True,
            ).over(wp),
        )
        .withColumn("next_v", F.first("obs_v", ignorenulls=True).over(wn))
        .withColumn(
            "next_h",
            F.first(
                F.when(F.col("obs_v").isNotNull(), F.col("h")),
                ignorenulls=True,
            ).over(wn),
        )
    )
    filled = (
        F.when(F.col("obs_v").isNotNull(), F.col("obs_v"))
        .when(
            F.col("prev_v").isNotNull() & F.col("next_v").isNotNull(),
            F.col("prev_v")
            + (F.col("next_v") - F.col("prev_v"))
            * (F.col("h") - F.col("prev_h"))
            / (F.col("next_h") - F.col("prev_h")),
        )
        .when(F.col("prev_v").isNotNull(), F.col("prev_v"))
        .otherwise(F.col("next_v"))
    )
    return j.select(
        "user_id",
        "h",
        "obs_v",
        F.round(filled, 6).alias("filled_v"),
        F.col("obs_v").isNull().alias("was_gap"),
    ).orderBy("user_id", "h")


QUERIES.update({"ev_gap_fill": ev_gap_fill})


def ml_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% Poisson-bootstrap confidence interval for the mean document
    length (operators/bootstrap.py): per-(doc, resample) Poisson(1)
    weights from the portable hash (no RNG, no global multinomial -- the
    only bootstrap that distributes), B=100 resamples as a crossed
    column, integer-exact weighted sums, CI from the order statistics of
    the resample means. One map-only weight pass + one partial-combined
    aggregate; resample count, not corpus size, bounds the extra work."""
    from strava_vector_search_spark.operators import als as A
    from strava_vector_search_spark.operators import bootstrap as BS

    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "svs_bs_documents"
    )
    return spark.sql(
        BS.bootstrap_ci_sql(
            A.spark_md5i,
            f"SELECT explode(sequence(1, {BS.B})) AS b",
            "svs_bs_documents",
        )
    )


QUERIES.update({"ml_bootstrap_ci": ml_bootstrap_ci})


def ml_probe_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature attribution for the trained linear probe -- for a LINEAR
    model the exact Shapley value of feature i on a prediction is
    b_i*(x_i - mean_i), so global importance is |b_i| * mean|x_i - mean_i|
    (mean absolute deviation), computable in ONE extra scan with the
     1-row (means, coefficients) table broadcast. Returns the per-feature
    mean absolute contribution and x1's share. The explanation pass is
    the same moments-then-broadcast shape as training itself."""
    from strava_vector_search_spark.operators import linear as L

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    feats = L.feature_frame(
        emb,
        F.col("embedding")[0],
        F.col("embedding")[1],
        F.coalesce((F.col("label") == 0).cast("int"), F.lit(0)),
    )
    m = L.moment_sums(feats)
    coef = L.solve_coefficients(m).select("b1", "b2")
    means = m.select(
        "n",
        F.expr("s1 / CAST(n AS DOUBLE)").alias("mean1"),
        F.expr("s2 / CAST(n AS DOUBLE)").alias("mean2"),
    )
    dev = (
        feats.crossJoin(F.broadcast(means))
        .crossJoin(F.broadcast(coef))
        .groupBy("n", "b1", "b2")
        .agg(
            F.expr(
                "CAST(SUM(CAST(ROUND(ABS(x1 - mean1), 10) AS DECIMAL(38,12)))"
                " AS DOUBLE)"
            ).alias("d1"),
            F.expr(
                "CAST(SUM(CAST(ROUND(ABS(x2 - mean2), 10) AS DECIMAL(38,12)))"
                " AS DOUBLE)"
            ).alias("d2"),
        )
    )
    return dev.select(
        F.col("n").alias("n_train"),
        "b1",
        "b2",
        F.expr("ROUND(ABS(b1) * (d1 / n), 6)").alias("contrib_x1"),
        F.expr("ROUND(ABS(b2) * (d2 / n), 6)").alias("contrib_x2"),
        F.expr(
            "ROUND(ABS(b1) * (d1 / n) / (ABS(b1) * (d1 / n)"
            " + ABS(b2) * (d2 / n)), 6)"
        ).alias("share_x1"),
    )


QUERIES.update({"ml_probe_attribution": ml_probe_attribution})


# ---------------------------------------------------------------------------
# Round 5: corpus statistics, LM smoothing, NB classifier, forensics


def tx_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM (absolute discount D=0.75) --
    the smoothing real pretraining LMs (KenLM) use, completing the LM
    ladder above tx_bigram_perplexity/tx_stupid_backoff: continuation
    probability Pcont(w2) = N1+(.w2)/|bigram types| fixes the
    "San Francisco" problem raw counts have. Bigram extraction is the
    map-only index-transform zip; EVERY statistic (context mass c1,
    distinct continuations N1+(w1.), distinct left contexts N1+(.w2),
    global type count) derives from the bigram-count table bc -- vocab^2-
    bounded, never a second corpus pass; marginals come back via
    AQE-broadcast joins. pkn expression text is shared verbatim with the
    DuckDB oracle (operators/stats.KN_PKN_EXPR), so parity is bit-exact.
    Returns the top-20 bigrams by count with their KN probabilities."""
    from strava_vector_search_spark.operators.stats import KN_PKN_EXPR

    # bc feeds four consumers (itself + three marginals) — the shared
    # checkpointed _bigram_counts kernel, so the corpus explode+aggregate
    # runs once per session, not per consumer or per gate
    bc = _bigram_counts(spark, sf_dir)
    left = bc.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n_follow")
    )
    right = bc.groupBy("w2").agg(F.count(F.lit(1)).alias("n_precede"))
    btypes = bc.agg(F.count(F.lit(1)).alias("n_bigram_types"))
    return (
        bc.join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(btypes))
        .select(
            "w1",
            "w2",
            "c12",
            "c1",
            "n_follow",
            "n_precede",
            F.expr(KN_PKN_EXPR).alias("pkn"),
        )
        .orderBy(F.desc("c12"), "w1", "w2")
        .limit(20)
    )


QUERIES.update({"tx_kneser_ney": tx_kneser_ney})


def _nb_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared NB train+score pipeline: (doc_id, lang_true, lang_pred) --
    consumed by ml_naive_bayes (confusion matrix) and
    ml_confusion_metrics (per-class precision/recall/F1)."""
    from strava_vector_search_spark.operators.dedup import tokens
    from strava_vector_search_spark.operators.stats import (
        DEC_SUM,
        NB_PRIOR_EXPR,
        NB_TERM_EXPR,
    )

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.col("lang").alias("lang_true"), tokens(F.col("text")).alias("_ts")
    )
    # occ feeds training (tokc) AND scoring; tokc feeds three marginals
    # plus the scoring join -- checkpoint both so the tokenizing scan and
    # the count aggregate each run exactly once
    occ = (
        tok.select("doc_id", "lang_true", F.explode("_ts").alias("t"))
        .groupBy("doc_id", "lang_true", "t")
        .agg(F.count(F.lit(1)).alias("occ"))
        .localCheckpoint(eager=False)
    )
    tokc = (
        occ.groupBy(F.col("lang_true").alias("lang"), "t")
        .agg(F.sum("occ").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    mass = tokc.groupBy("lang").agg(F.sum("cnt").alias("tot"))
    vocab = tokc.select("t").distinct().agg(F.count(F.lit(1)).alias("v"))
    pri = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs_c"))
    ndocs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    classes = (
        mass.join(pri, "lang")
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(ndocs))
        .select(
            "lang", "tot", "v", F.expr(NB_PRIOR_EXPR).alias("prior_ln")
        )
    )
    scored = (
        occ.crossJoin(F.broadcast(classes))
        .join(
            tokc.select(F.col("lang"), F.col("t"), F.col("cnt")),
            ["lang", "t"],
            "left",
        )
        .groupBy("doc_id", "lang_true", "lang", "prior_ln")
        .agg(F.expr(DEC_SUM.format(t=NB_TERM_EXPR)).alias("ll_sum"))
        .select(
            "doc_id",
            "lang_true",
            "lang",
            F.expr("ROUND(prior_ln + ll_sum, 6)").alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("lang"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang_true", F.col("lang").alias("lang_pred"))
    )


def ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes trained AND scored distributed -- the
    classic scalable text classifier (predicting `lang` from tokens, the
    fastText-langid shape): training is ONE (class, token) count
    aggregate plus two tiny marginals (class token mass, class doc
    priors); scoring is the per-doc occurrence table crossed with the
    5-row class table (linear in corpus x |classes|, never quadratic)
    left-joined to the count table (AQE broadcast), each Laplace-smoothed
    log term rounded to 10 dp before DECIMAL accumulation so the
    log-likelihood sum is order-insensitive. Output: the train confusion
    matrix (true lang x predicted lang). Term/prior expression text is
    shared with the oracle (operators/stats); pipeline shared with
    ml_confusion_metrics via _nb_predictions."""
    return (
        _nb_predictions(spark, sf_dir)
        .groupBy("lang_true", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang_true", "lang_pred")
    )


QUERIES.update({"ml_naive_bayes": ml_naive_bayes})


def dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of o_totalprice -- the forensic
    data-quality screen for fabricated or truncated numeric feeds (a
    synthetic uniform-ish price book deviates, which is exactly what the
    report shows). First significant digit via FLOOR -> BIGINT -> first
    character (no float log10 on data values, so no boundary hazard);
    one map-only digit extraction + one 9-row aggregate; expected
    share log10(1+1/d) rounded at 10 dp (shared text) before the
    chi-square terms so both engines agree bit-for-bit."""
    from strava_vector_search_spark.operators.stats import BENFORD_P_EXPR

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") >= 1.0
    )
    # FLOOR, not a double->bigint cast: Spark's cast truncates while
    # DuckDB's rounds -- floor is identical in both engines
    digits = orders.select(
        F.substring(F.floor(F.col("o_totalprice")).cast("string"), 1, 1)
        .cast("int")
        .alias("digit")
    )
    per = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs"))
    tot = per.agg(F.sum("n_obs").alias("n_total"))
    scored = per.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n_obs",
        F.expr("ROUND(CAST(n_obs AS DOUBLE) / CAST(n_total AS DOUBLE), 6)").alias(
            "obs_share"
        ),
        F.expr(BENFORD_P_EXPR).alias("p_benford"),
        F.col("n_total"),
    )
    chi = scored.select(
        "digit",
        "n_obs",
        "obs_share",
        F.expr("ROUND(p_benford, 6)").alias("benford_share"),
        F.expr(
            "ROUND((CAST(n_obs AS DOUBLE) - CAST(n_total AS DOUBLE) * p_benford)"
            " * (CAST(n_obs AS DOUBLE) - CAST(n_total AS DOUBLE) * p_benford)"
            " / (CAST(n_total AS DOUBLE) * p_benford), 6)"
        ).alias("chi2_term"),
    )
    return chi.withColumn(
        "chi2_total",
        F.expr(
            "ROUND(CAST(SUM(CAST(chi2_term AS DECIMAL(38,12))) OVER ()"
            " AS DOUBLE), 6)"
        ),
    ).orderBy("digit")


QUERIES.update({"dq_benford": dq_benford})


def tx_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus token-frequency distribution: the
    one-row corpus-health statistic (natural text slopes near -1;
    boilerplate-heavy or synthetic corpora drift). Vocabulary counts are
    one map-side-combined aggregate; only the top-100 ranks survive
    (TakeOrderedAndProject) into the log-log OLS, whose moment sums are
    10 dp-rounded DECIMAL folds and whose closed-form solve is shared
    expression text (operators/stats.ZIPF_*) -- the moments-then-solve
    shape of the linear probe applied to corpus statistics."""
    from strava_vector_search_spark.operators.stats import (
        DEC_SUM,
        ZIPF_INTERCEPT_EXPR,
        ZIPF_R2_EXPR,
        ZIPF_SLOPE_EXPR,
    )

    vocab = (
        _unigram_counts(spark, sf_dir)
        .orderBy(F.desc("cnt"), "t")
        .limit(100)
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("t"))
    xy = vocab.withColumn("r", F.row_number().over(w)).select(
        F.expr("ROUND(LN(CAST(r AS DOUBLE)), 10)").alias("x"),
        F.expr("ROUND(LN(CAST(cnt AS DOUBLE)), 10)").alias("y"),
    )
    m = xy.agg(
        F.expr("CAST(COUNT(*) AS DOUBLE)").alias("np_"),
        F.expr(DEC_SUM.format(t="x")).alias("sx"),
        F.expr(DEC_SUM.format(t="y")).alias("sy"),
        F.expr(DEC_SUM.format(t="ROUND(x * y, 10)")).alias("sxy"),
        F.expr(DEC_SUM.format(t="ROUND(x * x, 10)")).alias("sxx"),
        F.expr(DEC_SUM.format(t="ROUND(y * y, 10)")).alias("syy"),
    )
    return m.select(
        F.expr("CAST(np_ AS BIGINT)").alias("n_points"),
        F.expr(f"ROUND({ZIPF_SLOPE_EXPR}, 6)").alias("zipf_slope"),
        F.expr(f"ROUND({ZIPF_INTERCEPT_EXPR}, 6)").alias("intercept"),
        F.expr(f"ROUND({ZIPF_R2_EXPR}, 6)").alias("r2"),
    )


QUERIES.update({"tx_zipf_fit": tx_zipf_fit})


def ev_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per day via the DISTRIBUTED sweep line: each
    event opens a half-open [ts, ts+30min) interval; +1/-1 boundary rows
    are bucketed by day, the running sum is computed per-day (parallel
    windows), and a per-day carry (cumulative sum of prior days' deltas
    -- a |days|-row window, never the event table) lifts each local run
    to the global level. This is the two-level prefix-sum recipe: the
    single-partition global ORDER BY that kills sweep lines at 100 TB
    is replaced by day-partitioned windows + a bounded carry join. Ties
    at one timestamp order -1 before +1 (half-open semantics); per-day
    MAX is invariant to intra-tie order because run endpoints are.
    Oracle computes the same two-level plan in SQL."""
    ev = load_events(spark, sf_dir)
    us = F.unix_micros(F.col("ts"))
    starts = ev.select(us.alias("t"), F.lit(1).alias("delta"))
    ends = ev.select((us + 1800000000).alias("t"), F.lit(-1).alias("delta"))
    b = starts.unionAll(ends).withColumn(
        "day", F.expr("t DIV 86400000000")
    )
    wday = (
        Window.partitionBy("day")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    loc = b.withColumn("local_run", F.sum("delta").over(wday))
    days = b.groupBy("day").agg(F.sum("delta").alias("day_sum"))
    wcarry = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry = days.select(
        "day", F.coalesce(F.sum("day_sum").over(wcarry), F.lit(0)).alias("c")
    )
    lifted = loc.join(F.broadcast(carry), "day")
    return (
        lifted.groupBy("day")
        .agg(
            F.sum(F.when(F.col("delta") == 1, 1).otherwise(0)).alias(
                "n_starts"
            ),
            F.max(F.col("c") + F.col("local_run")).alias("max_concurrency"),
        )
        .orderBy("day")
    )


QUERIES.update({"ev_max_concurrency": ev_max_concurrency})


def ev_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier retention curve over time-to-churn: per-user
    (first, last) event span in ONE corpus aggregate; churn observed if
    the user went quiet >= 7 days before the corpus horizon, else
    censored. Every KM quantity (at-risk n_t via prior-leavers window,
    survival as the running product of (1 - d/n)) is computed over the
    per-DURATION aggregate -- |distinct durations| rows, never users.
    The product distributes as exp of a DECIMAL sum of 10 dp-rounded
    LN terms; a d==n terminal factor short-circuits to 0 explicitly
    (Spark LN(0) is NULL while DuckDB's is -inf, so the guard is also
    the cross-engine contract). Columns: duration day, at-risk count,
    deaths, censored, survival estimate."""
    ev = load_events(spark, sf_dir)
    us = F.unix_micros(F.col("ts"))
    per_user = ev.groupBy("user_id").agg(
        F.min(us).alias("first_us"), F.max(us).alias("last_us")
    )
    horizon = ev.agg(F.max(us).alias("max_us"))
    subj = per_user.crossJoin(F.broadcast(horizon)).select(
        F.expr("(last_us - first_us) DIV 86400000000").alias("t"),
        F.expr(
            "CASE WHEN last_us < max_us - 604800000000 THEN 1 ELSE 0 END"
        ).alias("event"),
    )
    per_t = subj.groupBy("t").agg(
        F.sum("event").alias("d"),
        F.sum(F.expr("1 - event")).alias("c"),
        F.count(F.lit(1)).alias("leaving"),
    )
    n_total = subj.agg(F.count(F.lit(1)).alias("n_users"))
    wprior = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    wrun = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = (
        per_t.crossJoin(F.broadcast(n_total))
        .withColumn(
            "n_risk",
            F.col("n_users")
            - F.coalesce(F.sum("leaving").over(wprior), F.lit(0)),
        )
        .withColumn(
            "ln_term",
            F.expr(
                "CASE WHEN d = 0 OR d >= n_risk THEN CAST(0 AS DOUBLE)"
                " ELSE ROUND(LN(1.0 - CAST(d AS DOUBLE)"
                " / CAST(n_risk AS DOUBLE)), 10) END"
            ),
        )
        .withColumn(
            "dead_end",
            F.max(F.expr("CASE WHEN d >= n_risk THEN 1 ELSE 0 END")).over(
                wrun
            ),
        )
        .withColumn(
            "ln_cum",
            F.sum(F.col("ln_term").cast("decimal(38,12)")).over(wrun),
        )
    )
    return risk.select(
        "t",
        "n_risk",
        "d",
        "c",
        F.expr(
            "CASE WHEN dead_end = 1 THEN CAST(0 AS DOUBLE)"
            " ELSE ROUND(EXP(CAST(ln_cum AS DOUBLE)), 6) END"
        ).alias("survival"),
    ).orderBy("t")


QUERIES.update({"ev_kaplan_meier": ev_kaplan_meier})


def _ab_arm_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared A/B experiment state: per-user high-value-purchase
    conversion (value > 180 -- any-purchase is degenerate at p=1),
    id-parity arms, folded to the ONE row (n_a, conv_a, n_b, conv_b)
    that both ab_proportion_ztest and ev_power_analysis consume."""
    ev = load_events(spark, sf_dir)
    per_user = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 180.0),
                1,
            ).otherwise(0)
        ).alias("converted")
    )
    return per_user.select(
        F.expr("user_id % 2").alias("arm"), "converted"
    ).groupBy().agg(
        F.sum(F.expr("CASE WHEN arm = 0 THEN 1 ELSE 0 END")).alias("n_a"),
        F.sum(F.expr("CASE WHEN arm = 0 THEN converted ELSE 0 END")).alias(
            "conv_a"
        ),
        F.sum(F.expr("CASE WHEN arm = 1 THEN 1 ELSE 0 END")).alias("n_b"),
        F.sum(F.expr("CASE WHEN arm = 1 THEN converted ELSE 0 END")).alias(
            "conv_b"
        ),
    )


def ab_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample proportion z-test -- the experimentation readout every
    large platform computes at warehouse scale: users split into arms by
    id parity (hash-deterministic), conversion = any 'purchase' event;
    arm sizes, conversion rates, and the pooled z statistic all fold out
    of ONE per-user aggregate + one 2-row pivot (the decision threshold
    |z| > 1.96 is a literal comparison). Everything after the per-user
    pass is 1-row arithmetic with expression text identical in the
    oracle."""
    agg = _ab_arm_aggregate(spark, sf_dir)
    return agg.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.expr("ROUND(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6)").alias(
            "rate_a"
        ),
        F.expr("ROUND(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6)").alias(
            "rate_b"
        ),
        F.expr(
            "ROUND((CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)"
            " - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))"
            " / SQRT((CAST(conv_a + conv_b AS DOUBLE)"
            " / CAST(n_a + n_b AS DOUBLE))"
            " * (1.0 - CAST(conv_a + conv_b AS DOUBLE)"
            " / CAST(n_a + n_b AS DOUBLE))"
            " * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 6)"
        ).alias("z_stat"),
    )


QUERIES.update({"ab_proportion_ztest": ab_proportion_ztest})


def w_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of parts by revenue -- the 80/15/5
    inventory-curation split (same shape as coverage-based corpus
    pruning by source). The corpus-scale work is ONE partial-combined
    revenue aggregate per part (DECIMAL-routed); the cumulative share
    comes from the two-level range-partitioned running sum
    (operators/order.attach_global_order, exact DECIMAL lane) -- the
    per-part table grows with the corpus, so a single-task cumulative
    window over it is the dm_* scale-killer; here no partition ever
    holds more than 1/P of the parts (PLANS.md asserts no
    single-partition exchange). Class A = first 80% of revenue, B to
    95%, C the tail; deterministic (revenue DESC, partkey ASC) order."""
    from strava_vector_search_spark.operators.order import (
        attach_global_order,
    )

    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(
            F.expr(
                "CAST(l_extendedprice * (1.0 - l_discount)"
                " AS DECIMAL(18,6))"
            )
        ).alias("rev_dec")
    )
    # tot_dec rides in as a driver-known literal (the grand total is the
    # sum of the per-partition sums already collected for the offsets) —
    # a separate scalar aggregate would RE-SCAN lineitem through the
    # per-part aggregate and add an Exchange SinglePartition stage
    ranked = (
        attach_global_order(
            per_part,
            [F.desc("rev_dec"), F.asc("l_partkey")],
            rank_col=None,
            running_sums={"cum_dec": ("rev_dec", "decimal(38,6)")},
            grand_total_sums={"tot_dec": ("rev_dec", "decimal(38,6)")},
        )
        .withColumn(
            "cum_share",
            F.expr("CAST(cum_dec AS DOUBLE) / CAST(tot_dec AS DOUBLE)"),
        )
        .withColumn(
            "abc",
            F.expr(
                "CASE WHEN cum_share <= 0.80 THEN 'A'"
                " WHEN cum_share <= 0.95 THEN 'B' ELSE 'C' END"
            ),
        )
    )
    return (
        ranked.groupBy("abc")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.expr(
                "ROUND(CAST(SUM(rev_dec) AS DOUBLE)"
                " / CAST(MAX(tot_dec) AS DOUBLE), 6)"
            ).alias("revenue_share"),
        )
        .orderBy("abc")
    )


QUERIES.update({"w_pareto_abc": w_pareto_abc})


def ivm_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of an aggregated JOIN view (per-nation
    order count + revenue over orders |><| customer |><| nation) under an
    appending order feed -- the delta rule Delta(V) = Delta(orders) |><|
    dims, applied as a monoid merge: the base state (per-nation counts +
    DECIMAL revenue sums) is NEVER rescanned; the refresh joins ONLY the
    delta batch (10% of orders here) against the broadcast dims and
    full-outer-merges |nations| state rows. agg_incremental_merge's
    pattern lifted to a JOIN view. The oracle recomputes the view from
    scratch over base+delta -- equality IS the IVM correctness claim."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")

    def view_state(o: DataFrame) -> DataFrame:
        return (
            o.join(
                F.broadcast(
                    cust.select("c_custkey", "c_nationkey")
                ),
                o["o_custkey"] == F.col("c_custkey"),
            )
            .join(
                F.broadcast(nation.select("n_nationkey", "n_name")),
                F.col("c_nationkey") == F.col("n_nationkey"),
            )
            .groupBy("n_name")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum(
                    F.col("o_totalprice").cast("decimal(18,6)")
                ).alias("rev"),
            )
        )

    base_state = view_state(orders.filter(F.expr("o_orderkey % 10 <> 7")))
    delta_state = view_state(orders.filter(F.expr("o_orderkey % 10 = 7")))
    merged = base_state.alias("b").join(
        delta_state.alias("d"), "n_name", "full_outer"
    )
    return merged.select(
        "n_name",
        (
            F.coalesce(F.col("b.cnt"), F.lit(0))
            + F.coalesce(F.col("d.cnt"), F.lit(0))
        ).alias("n_orders"),
        F.round(
            (
                F.coalesce(F.col("b.rev"), F.lit(0).cast("decimal(18,6)"))
                + F.coalesce(F.col("d.rev"), F.lit(0).cast("decimal(18,6)"))
            ).cast("double"),
            2,
        ).alias("revenue"),
    ).orderBy("n_name")


QUERIES.update({"ivm_join_delta": ivm_join_delta})


def idx_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PHRASE query over a positional inverted index -- the Lucene
    phrase-search recipe as dataflow: token postings with positions
    (doc_id, token, pos) built in one posexplode scan (partitioned by
    token when persisted), the query's tokens selected by literal IN
    (pushed to the scan on a persisted index), and adjacency resolved by
    the positional self-join pos2 = pos1 + 1 -- candidate cost is bounded
    by the query terms' posting lists, never the corpus. Returns matching
    docs with occurrence counts and first match position. Oracle replays
    phrase containment with a per-doc token-pair scan."""
    w1, w2 = "fast", "hash"
    post = _token_arrays(spark, sf_dir).select(
        "doc_id", F.posexplode("_ts").alias("pos", "tok")
    ).filter(F.col("tok").isin(w1, w2))
    p1 = post.filter(F.col("tok") == w1).select(
        "doc_id", F.col("pos").alias("pos1")
    )
    p2 = post.filter(F.col("tok") == w2).select(
        "doc_id", F.col("pos").alias("pos2")
    )
    hits = p1.join(
        p2,
        (p1["doc_id"] == p2["doc_id"])
        & (p2["pos2"] == p1["pos1"] + 1),
    ).select(p1["doc_id"], "pos1")
    return (
        hits.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("pos1").alias("first_pos"),
        )
        .orderBy("doc_id")
    )


QUERIES.update({"idx_phrase_search": idx_phrase_search})


def ml_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) calibration of the linear probe's reliability
    bins: the monotone score->probability map model serving uses when
    Platt's sigmoid is too rigid. The corpus-scale work is EXACTLY
    ml_calibration_table's one scored scan + a bounded bin
    aggregate (0.01-wide bins here, so the probe's narrow score range
    still yields a non-trivial monotone fit); the PAV
    fit then uses the minimax identity iso(i) = max_{j<=i} min_{k>=i}
    avg(y over bins j..k) evaluated over |bins|^3-bounded interval rows
    (integer cumulative sums -> exact double interval means), so the
    whole regression is post-aggregate expression work -- no iteration,
    no driver state, and bit-identical in the SQL oracle. Output adds
    the fitted monotone rate to each reliability bin."""
    from strava_vector_search_spark.operators import linear as L

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    feats = L.feature_frame(
        emb,
        F.col("embedding")[0],
        F.col("embedding")[1],
        F.coalesce((F.col("label") == 0).cast("int"), F.lit(0)),
    )
    coef = L.solve_coefficients(L.moment_sums(feats))
    scored = feats.crossJoin(F.broadcast(coef)).select(
        F.round(F.expr("b0 + b1 * x1 + b2 * x2"), 6).alias("pred"),
        F.col("y"),
    )
    bins = (
        scored.withColumn(
            "bin",
            F.least(
                F.lit(99),
                F.greatest(
                    F.lit(0), F.floor(F.col("pred") * 100).cast("int")
                ),
            ),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("y").cast("bigint")).alias("pos"),
        )
    )
    r = Window.orderBy("bin")
    wcum = r.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cums = (
        bins.withColumn("ri", F.row_number().over(r))
        .withColumn("cn", F.sum("n").over(wcum))
        .withColumn("cy", F.sum("pos").over(wcum))
    )
    lo = cums.select(
        (F.col("ri") + 1).alias("j"),
        F.col("cn").alias("cn_lo"),
        F.col("cy").alias("cy_lo"),
    ).unionAll(
        spark.range(1).select(
            F.lit(1).alias("j"),
            F.lit(0).cast("bigint").alias("cn_lo"),
            F.lit(0).cast("bigint").alias("cy_lo"),
        )
    )
    hi = cums.select(
        F.col("ri").alias("k"),
        F.col("cn").alias("cn_hi"),
        F.col("cy").alias("cy_hi"),
    )
    intervals = (
        lo.join(hi, F.col("j") <= F.col("k"))
        .select(
            "j",
            "k",
            F.expr(
                "CAST(cy_hi - cy_lo AS DOUBLE)"
                " / CAST(cn_hi - cn_lo AS DOUBLE)"
            ).alias("iavg"),
        )
    )
    anchors = cums.select("bin", "n", "pos", F.col("ri").alias("i"))
    inner = (
        anchors.join(
            intervals,
            (F.col("j") <= F.col("i")) & (F.col("i") <= F.col("k")),
        )
        .groupBy("bin", "n", "pos", "i", "j")
        .agg(F.min("iavg").alias("mn"))
    )
    fit = inner.groupBy("bin", "n", "pos").agg(F.max("mn").alias("iso"))
    return fit.select(
        "bin",
        "n",
        F.expr(
            "ROUND(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE), 6)"
        ).alias("pos_rate"),
        F.expr("ROUND(iso, 6)").alias("iso_rate"),
    ).orderBy("bin")


QUERIES.update({"ml_isotonic_calibration": ml_isotonic_calibration})


def g_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-ordered triangle counting over the part co-order graph --
    the standard distributed triangle recipe (orient every edge from its
    (degree, id)-smaller endpoint, join wedges at the low node, probe the
    closing edge) whose wedge work is bounded by oriented out-degree
    <= sqrt(E) instead of the max raw degree. Edge building is itself
    scale-shaped: per-order part pairs (bounded by lines-per-order, never
    all-pairs) aggregated to weights, sparsified at co-occurrence >= 2.
    Returns one row: nodes, edges, wedges, triangles, and the global
    clustering coefficient 3*tri/wedges. The oracle counts each triangle
    once via the id-ordered u<v<w join -- orientation must be
    count-invisible."""
    e = _co_order_edges(spark, sf_dir)
    und = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    # orient every edge from the (deg, id)-smaller endpoint
    du = deg.select(F.col("u").alias("x"), F.col("deg").alias("deg_x"))
    ed = (
        und.join(du, und["u"] == du["x"])
        .drop("x")
        .withColumnRenamed("deg_x", "deg_u")
        .join(
            du.withColumnRenamed("deg_x", "deg_v"),
            und["v"] == F.col("x"),
        )
        .drop("x")
        .filter(
            (F.col("deg_u") < F.col("deg_v"))
            | ((F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v")))
        )
        .select("u", "v", "deg_v")
        .localCheckpoint(eager=False)
    )
    w1 = ed.select(
        F.col("u").alias("a"),
        F.col("v").alias("b"),
        F.col("deg_v").alias("deg_b"),
    )
    w2 = ed.select(
        F.col("u").alias("a"),
        F.col("v").alias("c"),
        F.col("deg_v").alias("deg_c"),
    )
    wedges = w1.join(w2, "a").filter(
        (F.col("deg_b") < F.col("deg_c"))
        | ((F.col("deg_b") == F.col("deg_c")) & (F.col("b") < F.col("c")))
    )
    tri = wedges.join(
        ed.select(F.col("u").alias("b"), F.col("v").alias("c")),
        ["b", "c"],
        "left_semi",
    ).agg(F.count(F.lit(1)).alias("n_triangles"))
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum("deg") / 2).cast("bigint").alias("n_edges"),
        F.sum(
            (F.col("deg") * (F.col("deg") - 1) / 2).cast("bigint")
        ).alias("n_wedges"),
    )
    return stats.crossJoin(F.broadcast(tri)).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.expr(
            "ROUND(3.0 * CAST(n_triangles AS DOUBLE)"
            " / CAST(n_wedges AS DOUBLE), 6)"
        ).alias("clustering"),
    )


QUERIES.update({"g_triangle_count": g_triangle_count})


def a20_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimation (operators/cms.py): the
    bounded-memory mergeable frequency summary (d=4 hash rows x w=128
    counters = 512 cells, whatever the key cardinality). The sketch IS
    one map-side-combined aggregate over (hash row, bucket) -- partial
    sketches merge by cell addition, so the full distinct-key space
    never shuffles; the SAME cell table is the unit of streaming
    maintenance (streaming/cms_stream, merge == from-scratch exactly).
    Probe keys are estimated with min over their d counters; exact
    counts join in for the audit (estimate >= exact always). Portable
    md5 hashing makes the whole construction deterministic, so the
    oracle replays it exactly."""
    from strava_vector_search_spark.operators.cms import (
        cms_cells,
        cms_estimates,
    )

    ev = load_events(spark, sf_dir)
    cells = cms_cells(ev, "user_id").localCheckpoint(eager=False)
    probes = ev.select("user_id").filter(F.expr("user_id % 37 = 0"))
    est = cms_estimates(cells, probes, "user_id")
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    return (
        est.join(exact, "user_id")
        .select(
            "user_id",
            "exact_cnt",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_cnt")).alias("overcount"),
        )
        .orderBy("user_id")
    )


QUERIES.update({"a20_countmin_sketch": a20_countmin_sketch})


def ev_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift monitor between the first and
    last 7-day event windows -- the standard pre-retrain input-drift
    check. Cells = event_type x literal value band (edges 0/50/100/150);
    both window distributions are one partial-combined aggregate each
    over the FULL literal grid (types x 4 bands, built by explode so
    zero cells exist on both sides), add-1 smoothed, and the PSI fold
    (q-p)*ln(q/p) uses 10 dp-rounded LN terms so the total is
    order-insensitive and bit-matched by the oracle."""
    ev = load_events(spark, sf_dir)
    us = F.unix_micros(F.col("ts"))
    day = F.expr("day_us DIV 86400000000")
    bounds = ev.select(us.alias("day_us")).agg(
        F.min(day).alias("min_day"), F.max(day).alias("max_day")
    )
    binned = (
        ev.select("event_type", F.col("value"), us.alias("day_us"))
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.expr(
                "CASE WHEN value < 50 THEN '0-50'"
                " WHEN value < 100 THEN '50-100'"
                " WHEN value < 150 THEN '100-150'"
                " ELSE '150+' END"
            ).alias("band"),
            F.expr(
                "CASE WHEN day_us DIV 86400000000 < min_day + 7 THEN 'base'"
                " WHEN day_us DIV 86400000000 > max_day - 7 THEN 'cur'"
                " ELSE NULL END"
            ).alias("win"),
        )
        .filter(F.col("win").isNotNull())
    )
    counts = binned.groupBy("event_type", "band", "win").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    grid = (
        ev.select("event_type")
        .distinct()
        .crossJoin(
            spark.createDataFrame(
                [("0-50",), ("50-100",), ("100-150",), ("150+",)],
                "band string",
            )
        )
    )
    base = counts.filter(F.col("win") == "base").select(
        "event_type", "band", F.col("cnt").alias("cnt_p")
    )
    cur = counts.filter(F.col("win") == "cur").select(
        "event_type", "band", F.col("cnt").alias("cnt_q")
    )
    cells = (
        grid.join(base, ["event_type", "band"], "left")
        .join(cur, ["event_type", "band"], "left")
        .select(
            "event_type",
            "band",
            F.coalesce("cnt_p", F.lit(0)).alias("cnt_p"),
            F.coalesce("cnt_q", F.lit(0)).alias("cnt_q"),
        )
    )
    tots = cells.agg(
        F.sum("cnt_p").alias("tot_p"),
        F.sum("cnt_q").alias("tot_q"),
        F.count(F.lit(1)).alias("n_cells"),
    )
    psi = cells.crossJoin(F.broadcast(tots)).select(
        "event_type",
        "band",
        "cnt_p",
        "cnt_q",
        F.expr(
            "ROUND((CAST(cnt_q + 1 AS DOUBLE) / CAST(tot_q + n_cells AS DOUBLE)"
            " - CAST(cnt_p + 1 AS DOUBLE) / CAST(tot_p + n_cells AS DOUBLE))"
            " * ROUND(LN((CAST(cnt_q + 1 AS DOUBLE)"
            " / CAST(tot_q + n_cells AS DOUBLE))"
            " / (CAST(cnt_p + 1 AS DOUBLE)"
            " / CAST(tot_p + n_cells AS DOUBLE))), 10), 10)"
        ).alias("psi_term"),
    )
    return psi.select(
        "event_type",
        "band",
        "cnt_p",
        "cnt_q",
        F.expr("ROUND(psi_term, 6)").alias("psi_contrib"),
        F.expr(
            "ROUND(CAST(SUM(CAST(psi_term AS DECIMAL(38,12))) OVER ()"
            " AS DOUBLE), 6)"
        ).alias("psi_total"),
    ).orderBy("event_type", "band")


QUERIES.update({"ev_psi_drift": ev_psi_drift})


def ml_ridge_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge regularization PATH from ONE Gram aggregate: the normal
    equations are sufficient statistics, so sweeping lambda in
    {0.01, 0.1, 1.0} (slope diagonal + lambda*n, intercept unpenalized)
    re-solves a 3x3 Cramer system per lambda WITHOUT rescanning the data
    -- the hyperparameter-sweep economics that make moment-based
    training the 100 TB recipe. One more scan scores all three models
    at once (3-row coefficient table broadcast, groupBy lambda).
    Determinant text comes from operators/linear.ridge_dets (textual
    diagonal substitution into the probe's shared Cramer text)."""
    from strava_vector_search_spark.operators import linear as L

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    feats = L.feature_frame(
        emb,
        F.col("embedding")[0],
        F.col("embedding")[1],
        F.coalesce((F.col("label") == 0).cast("int"), F.lit(0)),
    )
    m = L.moment_sums(feats).withColumn("n_d", F.expr("CAST(n AS DOUBLE)"))
    m = m.localCheckpoint(eager=False)
    lams = ["0.01", "0.1", "1.0"]
    coef = None
    for lam in lams:
        d = L.ridge_dets(lam)
        one = m.select(
            F.lit(float(lam)).alias("lam"),
            F.col("n"),
            F.expr(f"ROUND(({d['det0']}) / ({d['det']}), 6)").alias("b0"),
            F.expr(f"ROUND(({d['det1']}) / ({d['det']}), 6)").alias("b1"),
            F.expr(f"ROUND(({d['det2']}) / ({d['det']}), 6)").alias("b2"),
        )
        coef = one if coef is None else coef.unionAll(one)
    scored = feats.crossJoin(F.broadcast(coef)).withColumn(
        "pred", F.expr("b0 + b1 * x1 + b2 * x2")
    )
    return (
        scored.groupBy("lam", "n", "b0", "b1", "b2")
        .agg(
            F.expr(
                "ROUND(CAST(SUM(CAST(ROUND((y - pred) * (y - pred), 10)"
                " AS DECIMAL(38,12))) AS DOUBLE) / n, 6)"
            ).alias("train_mse"),
            F.expr(
                "ROUND(CAST(SUM(CASE WHEN (pred >= 0.5) = (y >= 0.5)"
                " THEN 1 ELSE 0 END) AS DOUBLE) / n, 6)"
            ).alias("train_acc"),
        )
        .select("lam", "n", "b0", "b1", "b2", "train_mse", "train_acc")
        .orderBy("lam")
    )


QUERIES.update({"ml_ridge_path": ml_ridge_path})


def ml_confusion_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision / recall / F1 (+ shared macro-F1) for the NB
    language classifier -- the eval table every classifier pipeline
    publishes next to its confusion matrix. All metrics derive from the
    |classes|^2-cell confusion matrix (one aggregate over the shared
    _nb_predictions pipeline); the marginal sums and the zero-guarded
    ratios are bounded-row arithmetic. F1 guard: a class never predicted
    (or never true) reports 0.0, matching the SQL CASE in the oracle."""
    pred = _nb_predictions(spark, sf_dir)
    cm = pred.groupBy("lang_true", "lang_pred").agg(
        F.count(F.lit(1)).alias("n")
    )
    # ONE pass over the |classes|^2 matrix instead of three marginal
    # scans + two full_outer joins (r13, guide §2.4): each cell (t, p, n)
    # contributes n to t's row marginal (and to t's tp when t == p) and
    # n to p's column marginal; grouping the two exploded contribution
    # rows by class reproduces exactly the coalesced full_outer result —
    # every class seen as true or pred gets a row, absent marginals sum
    # to 0. With cm consumed once, its lineage-cut checkpoint (an eager
    # Catalyst planning per construction) is gone too.
    zero = F.lit(0).cast("bigint")
    contrib = cm.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("lang_true").alias("cls"),
                    F.col("n").alias("n_true"),
                    zero.alias("n_pred"),
                    F.when(
                        F.col("lang_true") == F.col("lang_pred"), F.col("n")
                    )
                    .otherwise(zero)
                    .alias("tp"),
                ),
                F.struct(
                    F.col("lang_pred").alias("cls"),
                    zero.alias("n_true"),
                    F.col("n").alias("n_pred"),
                    zero.alias("tp"),
                ),
            )
        ).alias("_c")
    ).select("_c.*")
    per = (
        contrib.groupBy("cls")
        .agg(
            F.sum("n_true").alias("n_true"),
            F.sum("n_pred").alias("n_pred"),
            F.sum("tp").alias("tp"),
        )
        .select(
            "cls",
            "n_true",
            "n_pred",
            "tp",
            F.expr(
                "CASE WHEN n_pred = 0 THEN CAST(0 AS DOUBLE)"
                " ELSE ROUND(CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE), 6)"
                " END"
            ).alias("precision"),
            F.expr(
                "CASE WHEN n_true = 0 THEN CAST(0 AS DOUBLE)"
                " ELSE ROUND(CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE), 6)"
                " END"
            ).alias("recall"),
        )
        .withColumn(
            "f1",
            F.expr(
                "CASE WHEN precision + recall = 0 THEN CAST(0 AS DOUBLE)"
                " ELSE ROUND(2.0 * precision * recall"
                " / (precision + recall), 6) END"
            ),
        )
    )
    return per.withColumn(
        "macro_f1",
        F.expr(
            "ROUND(CAST(SUM(CAST(f1 AS DECIMAL(38,12))) OVER () AS DOUBLE)"
            " / CAST(COUNT(*) OVER () AS DOUBLE), 6)"
        ),
    ).orderBy("cls")


QUERIES.update({"ml_confusion_metrics": ml_confusion_metrics})


def ev_exp_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple exponential smoothing (alpha = 0.5) of each event type's
    hourly mean over the trailing 48 hours -- the streaming-metrics
    forecast primitive, computed WITHOUT recursion: the SES recurrence
    unrolls to weights alpha*(1-alpha)^(T-i), and with alpha = 1/2 every
    weight is an EXACT power of two built by integer bit-shift, so the
    closed form is a map-only weighted fold over the (bounded) per-type
    hourly aggregate with zero libm-pow cross-engine risk. One corpus
    aggregate -> |types x 48| rows -> one 10 dp-rounded DECIMAL fold."""
    ev = load_events(spark, sf_dir)
    us = F.unix_micros(F.col("ts"))
    hourly = (
        ev.select("event_type", us.alias("t_us"), "value")
        .withColumn("hour", F.expr("t_us DIV 3600000000"))
        .groupBy("event_type", "hour")
        .agg(
            F.expr(
                "ROUND(CAST(SUM(CAST(value AS DECIMAL(28,12))) AS DOUBLE)"
                " / COUNT(*), 6)"
            ).alias("y")
        )
    )
    hmax = hourly.agg(F.max("hour").alias("max_hour"))
    recent = hourly.crossJoin(F.broadcast(hmax)).filter(
        F.col("hour") > F.col("max_hour") - 48
    )
    wt = Window.partitionBy("event_type")
    wo = Window.partitionBy("event_type").orderBy("hour")
    pos = (
        recent.withColumn("idx", F.row_number().over(wo))
        .withColumn("t_n", F.count(F.lit(1)).over(wt))
        .withColumn(
            "term",
            F.expr(
                "ROUND(y / CAST(SHIFTLEFT(CAST(1 AS BIGINT),"
                " CAST(CASE WHEN idx = 1 THEN t_n - 1"
                " ELSE t_n - idx + 1 END AS INT)) AS DOUBLE), 10)"
            ),
        )
    )
    return (
        pos.groupBy("event_type", "t_n")
        .agg(
            F.expr(
                "ROUND(CAST(SUM(CAST(term AS DECIMAL(38,12))) AS DOUBLE), 6)"
            ).alias("ses_level"),
            F.expr("MAX(CASE WHEN idx = t_n THEN y END)").alias("last_obs"),
        )
        .select(
            "event_type",
            F.col("t_n").alias("n_hours"),
            "last_obs",
            "ses_level",
        )
        .orderBy("event_type")
    )


QUERIES.update({"ev_exp_smoothing": ev_exp_smoothing})


def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact best-split decision stump (depth-1 regression tree on the
    probe's x1 -> y): the building block of boosted trees, trained the
    distributed-exact way -- ONE aggregate folds the corpus to per-
    distinct-value moments (n, sum y, sum y^2 as DECIMALs), cumulative
    windows over that bounded table give every candidate split's
    left/right SSE in closed form, and the argmin is a deterministic
    (sse, threshold) sort. No per-split scan, no sampling: candidate
    evaluation is O(|distinct values|), the XGBoost-style exact greedy
    split finder. Output: the chosen threshold, child means, SSE and
    variance gain vs the constant predictor."""
    from strava_vector_search_spark.operators import linear as L

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    feats = L.feature_frame(
        emb,
        F.col("embedding")[0],
        F.col("embedding")[1],
        F.coalesce((F.col("label") == 0).cast("int"), F.lit(0)),
    )
    # one split kernel, two consumers: _stump_candidates (shared with
    # ml_gbt_rounds) scores every candidate; this gate adds the
    # variance-gain readout from the carried totals
    cand = _stump_candidates(
        feats.select(F.col("x1").alias("v"), F.col("y").alias("r"))
    )
    w = Window.orderBy("sse", "thr")
    best = cand.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return best.select(
        F.col("thr").alias("threshold"),
        F.col("nl").alias("n_left"),
        F.col("nr").alias("n_right"),
        F.expr("ROUND(sld / CAST(nl AS DOUBLE), 6)").alias("mean_left"),
        F.expr("ROUND(srd / CAST(nr AS DOUBLE), 6)").alias("mean_right"),
        F.expr("ROUND(sse, 6)").alias("sse"),
        F.expr(
            "ROUND((srrtd - tsum * tsum / CAST(nt AS DOUBLE)) - sse, 6)"
        ).alias("gain"),
    )


QUERIES.update({"ml_decision_stump": ml_decision_stump})


def ev_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on the daily event-volume series: the
    classic mean-shift locator (argmax |cumulative deviation from the
    global mean|) every pipeline-health monitor runs. The corpus-scale
    work is ONE per-day count aggregate; the cusum walk, the argmax and
    the before/after means are windows over the |days|-bounded series.
    Deviations stay exact: cusum_i = cum_count_i - i*mean with mean the
    one double division both engines share. Output: the flagged day,
    its cusum, and the mean daily volume on each side of the break."""
    ev = load_events(spark, sf_dir)
    us = F.unix_micros(F.col("ts"))
    daily = (
        ev.select(us.alias("t_us"))
        .withColumn("day", F.expr("t_us DIV 86400000000"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    tot = daily.agg(
        F.sum("x").alias("n_total"), F.count(F.lit(1)).alias("n_days")
    )
    wcum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    walk = (
        daily.crossJoin(F.broadcast(tot))
        .withColumn("i", F.row_number().over(Window.orderBy("day")))
        .withColumn("cum", F.sum("x").over(wcum))
        .withColumn(
            "cusum",
            F.expr(
                "ROUND(CAST(cum AS DOUBLE) - CAST(i AS DOUBLE)"
                " * (CAST(n_total AS DOUBLE) / CAST(n_days AS DOUBLE)), 6)"
            ),
        )
        .localCheckpoint(eager=False)
    )
    wbest = Window.orderBy(F.desc(F.abs(F.col("cusum"))), F.asc("day"))
    cp = (
        walk.withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .select(F.col("day").alias("cp_day"), F.col("cusum").alias("cp_cusum"))
    )
    sides = walk.crossJoin(F.broadcast(cp)).groupBy("cp_day", "cp_cusum").agg(
        F.expr(
            "ROUND(CAST(SUM(CASE WHEN day <= cp_day THEN x END) AS DOUBLE)"
            " / COUNT(CASE WHEN day <= cp_day THEN 1 END), 6)"
        ).alias("mean_before"),
        F.expr(
            "ROUND(CAST(SUM(CASE WHEN day > cp_day THEN x END) AS DOUBLE)"
            " / COUNT(CASE WHEN day > cp_day THEN 1 END), 6)"
        ).alias("mean_after"),
        F.count(F.lit(1)).alias("n_days"),
    )
    return sides.select(
        "cp_day", "cp_cusum", "mean_before", "mean_after", "n_days"
    )


QUERIES.update({"ev_cusum_changepoint": ev_cusum_changepoint})


def diag_join_explosion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality diagnosis BEFORE the join runs: |R |><| S| on a
    key equals sum_k cR(k)*cS(k), computable from two per-key count
    aggregates joined on the key -- counts-sized work instead of
    materializing the join. The report every planner consults before an
    orders |><| lineitem at 100 TB: exact predicted output rows, the
    heaviest contributing key (the skew candidate), and the multiplier
    over the probe side. The oracle runs the identity in SQL -- and the
    prediction being EXACT (not an estimate) is the point of the
    histogram method. Companion to diag_key_skew."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    co = orders.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("c_r")
    )
    cl = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("c_s")
    )
    contrib = co.join(cl, "k").select(
        "k", (F.col("c_r") * F.col("c_s")).alias("rows_out")
    )
    top = contrib.orderBy(F.desc("rows_out"), "k").limit(1)
    agg = contrib.agg(
        F.sum("rows_out").alias("predicted_rows"),
        F.count(F.lit(1)).alias("n_join_keys"),
    )
    probe = li.agg(F.count(F.lit(1)).alias("probe_rows"))
    return (
        agg.crossJoin(F.broadcast(top))
        .crossJoin(F.broadcast(probe))
        .select(
            "predicted_rows",
            "n_join_keys",
            F.col("k").alias("heaviest_key"),
            F.col("rows_out").alias("heaviest_key_rows"),
            F.expr(
                "ROUND(CAST(predicted_rows AS DOUBLE)"
                " / CAST(probe_rows AS DOUBLE), 6)"
            ).alias("fanout_vs_probe"),
        )
    )


QUERIES.update({"diag_join_explosion": diag_join_explosion})


def ev_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment power analysis next to ab_proportion_ztest: from the
    same one per-user aggregate, the minimum detectable effect at
    80% power / 5% two-sided alpha (z constants 1.96, 0.8416 as shared
    literals) and the per-arm sample size the OBSERVED effect would
    need -- the two numbers that decide whether an experiment is worth
    running at all. Pure 1-row arithmetic after the aggregate; the
    rate gap is zero-guarded to NULL in both engines."""
    agg = _ab_arm_aggregate(spark, sf_dir)
    return agg.select(
        "n_a",
        "n_b",
        F.expr(
            "ROUND(CAST(conv_a + conv_b AS DOUBLE)"
            " / CAST(n_a + n_b AS DOUBLE), 6)"
        ).alias("pooled_rate"),
        F.expr(
            "ROUND((1.96 + 0.8416) * SQRT(2.0"
            " * (CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))"
            " * (1.0 - CAST(conv_a + conv_b AS DOUBLE)"
            " / CAST(n_a + n_b AS DOUBLE))"
            " / (CAST(n_a + n_b AS DOUBLE) / 2.0)), 6)"
        ).alias("mde_80pct"),
        F.expr(
            "CASE WHEN CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)"
            " = CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) THEN NULL"
            " ELSE CAST(CEIL(2.0"
            " * (CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))"
            " * (1.0 - CAST(conv_a + conv_b AS DOUBLE)"
            " / CAST(n_a + n_b AS DOUBLE))"
            " * ((1.96 + 0.8416) / (CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)"
            " - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)))"
            " * ((1.96 + 0.8416) / (CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)"
            " - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)))) AS BIGINT) END"
        ).alias("n_per_arm_for_observed"),
    )


QUERIES.update({"ev_power_analysis": ev_power_analysis})


def a21_histogram_quantile_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile maintenance via fixed-width histograms: each
    day keeps a bounded (bin, cnt) histogram of `value` (the per-
    partition/per-batch summary; NULL values excluded by contract);
    histograms MERGE by cell addition (the CMS property applied to
    quantiles), and any quantile reads off the merged cumulative walk
    via the SAME helper the live stream uses
    (streaming/hist_stream.quantiles_from_histogram — one quantile rule,
    batch and streaming) -- estimate error is bounded by the bin width
    by construction (pinned vs the exact percentile in tests). This is
    how percentile dashboards stay incrementally maintainable at
    100 TB: the raw value stream never re-shuffles, only |days| x
    |bins| cells do."""
    from strava_vector_search_spark.streaming.hist_stream import (
        quantiles_from_histogram,
    )

    ev = load_events(spark, sf_dir)
    us = F.unix_micros(F.col("ts"))
    daily_hist = (
        ev.filter(F.col("value").isNotNull())
        .select(us.alias("t_us"), "value")
        .select(
            F.expr("t_us DIV 86400000000").alias("day"),
            F.expr(
                "LEAST(799, GREATEST(0, CAST(FLOOR(value) AS INT)))"
            ).alias("bin"),
        )
        .groupBy("day", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    merged = (
        daily_hist.groupBy("bin")
        .agg(F.sum("cnt").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    return quantiles_from_histogram(merged, [0.5, 0.9, 0.99]).select(
        "q",
        "n_total",
        "est_bin",
        F.expr("ROUND(est_value, 6)").alias("est_value"),
    )


QUERIES.update({"a21_histogram_quantile_union": a21_histogram_quantile_union})


def ml_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One EXACT Lloyd's iteration, native (no MLlib, fully oracle-
    checkable): hash-deterministic seeds (the first 8 vec_ids), every
    vector assigned to its max-cosine centroid (6 dp-rounded score,
    centroid-id tie-break) via an 8-row broadcast join + rank window,
    new centroids as per-cluster exact DECIMAL dimension means. The
    distributed cost is one scored scan + one partial-combined
    aggregate per iteration -- the moments-then-update shape that makes
    k-means a batch-refreshable index build (ann_kmeans_ivf_topk uses
    the MLlib twin; this gate pins the arithmetic bit-for-bit).
    Output: per-cluster sizes and the first 4 dims of the new mean."""
    from strava_vector_search_spark.functions.vector import similarity

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    cents = (
        emb.filter(F.col("vec_id") < 8)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("centroid"),
        )
    )
    scored = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "embedding",
        "cid",
        # stored vectors are L2-normalized, so the proven cross-engine
        # score is the plain dot (list_dot_product twin), not the
        # norm-dividing cosine
        similarity(
            F.col("embedding"), F.col("centroid"), assume_normalized=True
        ).alias("sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("cid"))
    assigned = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "embedding", F.col("cid").alias("cluster"))
    )
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            *[
                F.expr(
                    f"ROUND(CAST(SUM(CAST(ROUND(CAST(embedding[{i}] AS"
                    f" DOUBLE), 6) AS DECIMAL(38,12))) AS DOUBLE)"
                    f" / COUNT(*), 6)"
                ).alias(f"m{i}")
                for i in range(4)
            ],
        )
        .orderBy("cluster")
    )


QUERIES.update({"ml_kmeans_step": ml_kmeans_step})


def _events_with_half(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared pre/post split for the causal gates: every event tagged
    with half = 0 (before the exact midpoint of the observed day range)
    or 1 -- ev_did_estimator and ml_cuped_adjustment must cut the
    timeline identically or DiD and CUPED silently diverge (the
    _ab_arm_aggregate sharing pattern applied to the period axis).
    Oracle twin: _EV_HALF_CTES in oracles.py."""
    ev = load_events(spark, sf_dir)
    us = F.unix_micros(F.col("ts"))
    days = ev.select(us.alias("t_us")).agg(
        F.expr("MIN(t_us DIV 86400000000)").alias("d_min"),
        F.expr("MAX(t_us DIV 86400000000)").alias("d_max"),
    )
    return (
        ev.select("user_id", "value", us.alias("t_us"))
        .crossJoin(F.broadcast(days))
        .select(
            "user_id",
            "value",
            F.expr(
                "CASE WHEN t_us DIV 86400000000 < (d_min + d_max) DIV 2"
                " THEN 0 ELSE 1 END"
            ).alias("half"),
        )
    )


def ev_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimate over the A/B arms around the
    series midpoint -- the causal-inference workhorse for staged
    rollouts: DiD = (treat_post - treat_pre) - (ctrl_post - ctrl_pre)
    cancels both the arm-level and the period-level confounds. The
    corpus-scale work is ONE (arm, period) aggregate with DECIMAL-exact
    cell means; the estimator is 4-cell arithmetic. Arms share
    _ab_arm_aggregate's id-parity split; the period cut is the exact
    midpoint of the observed day range."""
    cells = (
        _events_with_half(spark, sf_dir)
        .select(
            F.expr("user_id % 2").alias("arm"),
            F.expr("CASE WHEN half = 0 THEN 'pre' ELSE 'post' END").alias(
                "period"
            ),
            "value",
        )
        .groupBy("arm", "period")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "ROUND(CAST(SUM(CAST(value AS DECIMAL(28,12))) AS DOUBLE)"
                " / COUNT(*), 6)"
            ).alias("mean_value"),
        )
    )
    piv = cells.groupBy().agg(
        *[
            F.expr(
                f"MAX(CASE WHEN arm = {a} AND period = '{p}'"
                f" THEN mean_value END)"
            ).alias(f"{'ctrl' if a == 0 else 'treat'}_{p}")
            for a in (0, 1)
            for p in ("pre", "post")
        ],
        F.expr("SUM(n)").alias("n_events"),
    )
    return piv.select(
        "n_events",
        "ctrl_pre",
        "ctrl_post",
        "treat_pre",
        "treat_post",
        F.expr(
            "ROUND((treat_post - treat_pre) - (ctrl_post - ctrl_pre), 6)"
        ).alias("did_estimate"),
    )


QUERIES.update({"ev_did_estimator": ev_did_estimator})


def ml_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for experiment metrics: per-user
    pre-period covariate x (mean value, first half) against post-period
    metric y (second half); theta = cov(x,y)/var(x) from exact
    10 dp-rounded DECIMAL moments, and the adjusted metric
    y - theta*(x - mean_x) has variance var_y - cov^2/var_x -- the
    reduction every experimentation platform banks before running
    z-tests. Two bounded aggregates (per-user halves -> one moment
    fold); the whole estimator is 1-row closed-form arithmetic, the
    moments-then-solve recipe applied to experiment analytics."""
    halves = (
        _events_with_half(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.expr(
                "ROUND(CAST(SUM(CASE WHEN half = 0 THEN"
                " CAST(value AS DECIMAL(28,12)) END) AS DOUBLE)"
                " / COUNT(CASE WHEN half = 0 THEN 1 END), 10)"
            ).alias("x"),
            F.expr(
                "ROUND(CAST(SUM(CASE WHEN half = 1 THEN"
                " CAST(value AS DECIMAL(28,12)) END) AS DOUBLE)"
                " / COUNT(CASE WHEN half = 1 THEN 1 END), 10)"
            ).alias("y"),
        )
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    )
    m = halves.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            "CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE)"
        ).alias("sx"),
        F.expr(
            "CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE)"
        ).alias("sy"),
        F.expr(
            "CAST(SUM(CAST(ROUND(x * x, 10) AS DECIMAL(38,12))) AS DOUBLE)"
        ).alias("sxx"),
        F.expr(
            "CAST(SUM(CAST(ROUND(x * y, 10) AS DECIMAL(38,12))) AS DOUBLE)"
        ).alias("sxy"),
        F.expr(
            "CAST(SUM(CAST(ROUND(y * y, 10) AS DECIMAL(38,12))) AS DOUBLE)"
        ).alias("syy"),
    )
    return m.select(
        F.col("n").alias("n_users"),
        F.expr(
            "ROUND((sxy - sx * sy / CAST(n AS DOUBLE))"
            " / (sxx - sx * sx / CAST(n AS DOUBLE)), 6)"
        ).alias("theta"),
        F.expr(
            "ROUND((syy - sy * sy / CAST(n AS DOUBLE))"
            " / CAST(n AS DOUBLE), 6)"
        ).alias("var_y"),
        F.expr(
            "ROUND(((syy - sy * sy / CAST(n AS DOUBLE))"
            " - (sxy - sx * sy / CAST(n AS DOUBLE))"
            " * (sxy - sx * sy / CAST(n AS DOUBLE))"
            " / (sxx - sx * sx / CAST(n AS DOUBLE)))"
            " / CAST(n AS DOUBLE), 6)"
        ).alias("var_adjusted"),
        F.expr(
            "ROUND((sxy - sx * sy / CAST(n AS DOUBLE))"
            " * (sxy - sx * sy / CAST(n AS DOUBLE))"
            " / ((sxx - sx * sx / CAST(n AS DOUBLE))"
            " * (syy - sy * sy / CAST(n AS DOUBLE))), 6)"
        ).alias("variance_reduction"),
    )


QUERIES.update({"ml_cuped_adjustment": ml_cuped_adjustment})


def g_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peeling (k=3, 4 rounds) of the part co-order
    graph: each round computes degrees (one partial-combined aggregate),
    drops nodes below k, and restricts edges to survivors (two
    semi-joins) -- unrolled with localCheckpoint lineage truncation (the
    PageRank/CC iterative pattern). Four rounds are the BOUNDED prefix
    of the decomposition (production iterates to fixpoint; rounds is
    the knob -- this data still sheds nodes at round 4, visible in the
    output, and the sf0.1 graph's 3-core is EMPTY by round 2, which the
    gate reports as zeros rather than hiding). Oracle replays the same
    4 rounds as unrolled MATERIALIZED CTEs -- bit-exact because peeling
    is pure integer set algebra; a Python replay pins it in tests.
    Output: per-round surviving node counts + the round-4 subgraph's
    node/edge totals."""
    e = _co_order_edges(spark, sf_dir)
    k = 3
    counts = []
    cur = e
    for _ in range(4):
        und = cur.unionAll(
            cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        keep = (
            und.groupBy("u")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select("u")
            .localCheckpoint(eager=False)
        )
        cur = (
            cur.join(keep, "u", "left_semi")
            .join(keep.select(F.col("u").alias("v")), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
        counts.append(keep.count())
    core_nodes = (
        cur.select("u")
        .unionAll(cur.select(F.col("v").alias("u")))
        .distinct()
        .count()
    )
    core_edges = cur.count()
    return spark.createDataFrame(
        [
            (
                counts[0],
                counts[1],
                counts[2],
                counts[3],
                core_nodes,
                core_edges,
            )
        ],
        "r1_nodes bigint, r2_nodes bigint, r3_nodes bigint,"
        " r4_nodes bigint, core_nodes bigint, core_edges bigint",
    )


QUERIES.update({"g_kcore": g_kcore})


# ---------------------------------------------------------------------------
# round-5 continued: statistical inference, robust trend, concentration
# ---------------------------------------------------------------------------


def ev_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily event-volume series at lags 1..7 --
    the seasonality probe behind every pipeline-health dashboard (a
    weekly cycle shows up as a lag-7 peak). Corpus-scale work is ONE
    per-day count aggregate; centering, the lag pairing (a bounded
    self-join against a 7-row lag table) and the normalized products
    are all |days|-bounded. Products are rounded to 10 dp and folded
    through DECIMAL so partial-agg order never shifts the sum; ACF is
    positional over the observed-day sequence (gaps collapse)."""
    ev = load_events(spark, sf_dir)
    us = F.unix_micros(F.col("ts"))
    daily = (
        ev.select(us.alias("t_us"))
        .withColumn("day", F.expr("t_us DIV 86400000000"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    tot = daily.agg(
        F.sum("x").alias("n_total"), F.count(F.lit(1)).alias("n_days")
    )
    ser = (
        daily.crossJoin(F.broadcast(tot))
        .withColumn("i", F.row_number().over(Window.orderBy("day")))
        .select(
            "i",
            "n_days",
            F.expr(
                "ROUND(CAST(x AS DOUBLE) - CAST(n_total AS DOUBLE)"
                " / CAST(n_days AS DOUBLE), 6)"
            ).alias("d"),
        )
        .localCheckpoint(eager=False)
    )
    den = ser.agg(
        F.expr(
            "CAST(SUM(CAST(ROUND(d * d, 10) AS DECIMAL(38,12))) AS DOUBLE)"
        ).alias("den")
    )
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("lag"))
    a, b = ser.alias("a"), ser.alias("b")
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("b.i") == F.col("a.i") - F.col("lag"))
        .groupBy("lag")
        .agg(
            F.max(F.col("a.n_days")).alias("n_days"),
            F.expr(
                "CAST(SUM(CAST(ROUND(a.d * b.d, 10) AS DECIMAL(38,12)))"
                " AS DOUBLE)"
            ).alias("num"),
        )
    )
    return (
        num.crossJoin(F.broadcast(den))
        .select("lag", "n_days", F.expr("ROUND(num / den, 6)").alias("acf"))
        .orderBy("lag")
    )


QUERIES.update({"ev_acf_lags": ev_acf_lags})


def ev_trend_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust trend readout on the daily event-volume series: the
    Mann-Kendall S statistic / tau-a (pairwise sign counts -- exact
    integers) and the Theil-Sen slope (median of pairwise per-day
    slopes) -- the outlier-proof alternative to OLS every monitoring
    stack wants. The corpus folds to |days| rows in ONE aggregate; the
    |days|^2/2 pair table is bounded and never touches raw events.
    Slopes are rounded to 10 dp BEFORE the (slope, day_i, day_j) sort
    so near-ties rank identically in both engines; the median is the
    deterministic lower median (rn == (cnt+1) DIV 2)."""
    ev = load_events(spark, sf_dir)
    us = F.unix_micros(F.col("ts"))
    daily = (
        ev.select(us.alias("t_us"))
        .withColumn("day", F.expr("t_us DIV 86400000000"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("x"))
        .localCheckpoint(eager=False)
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(b, F.col("b.day") > F.col("a.day")).select(
        F.col("a.day").alias("da"),
        F.col("b.day").alias("db"),
        F.expr(
            "ROUND(CAST(b.x - a.x AS DOUBLE)"
            " / CAST(b.day - a.day AS DOUBLE), 10)"
        ).alias("slope"),
        F.expr(
            "CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1"
            " ELSE 0 END"
        ).alias("sgn"),
    )
    wrn = Window.orderBy("slope", "da", "db")
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    med = (
        pairs.withColumn("rn", F.row_number().over(wrn))
        .withColumn("cnt", F.count(F.lit(1)).over(wall))
        .withColumn("s_stat", F.sum("sgn").over(wall))
        .filter(F.expr("rn = (cnt + 1) DIV 2"))
        .select(
            F.col("cnt").alias("n_pairs"),
            "s_stat",
            F.col("slope").alias("sen_slope"),
        )
    )
    n_days = daily.agg(F.count(F.lit(1)).alias("n_days"))
    return med.crossJoin(F.broadcast(n_days)).select(
        "n_days",
        "n_pairs",
        "s_stat",
        F.expr(
            "ROUND(CAST(s_stat AS DOUBLE) / CAST(n_pairs AS DOUBLE), 6)"
        ).alias("tau_a"),
        "sen_slope",
    )


QUERIES.update({"ev_trend_robust": ev_trend_robust})


def ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test on purchase value between the
    id-parity experiment arms -- the continuous-metric companion to
    ab_proportion_ztest (revenue-per-purchase readouts never satisfy
    equal-variance, so Welch is the default every experimentation
    platform ships). ONE map-side-combined pass folds the corpus to six
    DECIMAL moments; means/variances are rounded closed forms and the
    t statistic + Welch-Satterthwaite df are shared expression text
    (operators/stats.WELCH_*), so both engines evaluate byte-identical
    IEEE trees."""
    from strava_vector_search_spark.operators import stats as S

    ev = load_events(spark, sf_dir)
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.expr("user_id % 2").alias("arm"), "value"
    )
    agg = purch.groupBy().agg(
        F.expr("COUNT(CASE WHEN arm = 0 THEN 1 END)").alias("n_a"),
        F.expr(
            "SUM(CASE WHEN arm = 0"
            " THEN CAST(value AS DECIMAL(28,12)) END)"
        ).alias("sy_a"),
        F.expr(
            "SUM(CASE WHEN arm = 0"
            " THEN CAST(value * value AS DECIMAL(28,12)) END)"
        ).alias("syy_a"),
        F.expr("COUNT(CASE WHEN arm = 1 THEN 1 END)").alias("n_b"),
        F.expr(
            "SUM(CASE WHEN arm = 1"
            " THEN CAST(value AS DECIMAL(28,12)) END)"
        ).alias("sy_b"),
        F.expr(
            "SUM(CASE WHEN arm = 1"
            " THEN CAST(value * value AS DECIMAL(28,12)) END)"
        ).alias("syy_b"),
    )
    mom = agg.select(
        "n_a",
        "n_b",
        F.expr(S.MOMENT_MEAN.format(a="a")).alias("m_a"),
        F.expr(S.MOMENT_VAR.format(a="a")).alias("v_a"),
        F.expr(S.MOMENT_MEAN.format(a="b")).alias("m_b"),
        F.expr(S.MOMENT_VAR.format(a="b")).alias("v_b"),
    )
    return mom.select(
        "n_a",
        "n_b",
        "m_a",
        "m_b",
        "v_a",
        "v_b",
        F.expr(S.WELCH_T_EXPR).alias("t_stat"),
        F.expr(S.WELCH_DF_EXPR).alias("df_welch"),
    )


QUERIES.update({"ab_welch_ttest": ab_welch_ttest})


def ab_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney rank-sum test on purchase value between the
    id-parity arms -- the nonparametric A/B readout for skewed revenue
    distributions. Computed the distributed-exact way: values bin to
    cents (the gate's documented granularity contract, which also
    exercises the tie-corrected variance), ONE groupBy folds the corpus
    to per-distinct-value arm counts, and U1 comes off a single
    cumulative window over that bounded kernel --
    2*U1 = sum cA(v) * (2*cumB(<v) + cB(v)), exact BIGINT throughout.
    Normal approximation with tie correction, no continuity correction
    (operators/stats.MW_*)."""
    from strava_vector_search_spark.operators import stats as S

    ev = load_events(spark, sf_dir)
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.expr("user_id % 2").alias("arm"),
        F.expr("ROUND(value, 2)").alias("v"),
    )
    kern = purch.groupBy("v").agg(
        F.expr("COUNT(CASE WHEN arm = 0 THEN 1 END)").alias("ca"),
        F.expr("COUNT(CASE WHEN arm = 1 THEN 1 END)").alias("cb"),
    )
    wpre = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    per = kern.withColumn(
        "cumb", F.coalesce(F.sum("cb").over(wpre), F.lit(0))
    ).select(
        "ca",
        "cb",
        F.expr("ca * (2 * cumb + cb)").alias("u1x2_term"),
        F.expr(
            "(ca + cb) * (ca + cb) * (ca + cb) - (ca + cb)"
        ).alias("t3_term"),
    )
    agg = per.groupBy().agg(
        F.sum("ca").alias("n_a"),
        F.sum("cb").alias("n_b"),
        F.sum("u1x2_term").alias("u1x2"),
        F.sum("t3_term").alias("st3"),
    ).withColumn("n_tot", F.expr("n_a + n_b"))
    return agg.select(
        "n_a",
        "n_b",
        F.expr(S.MW_U1_EXPR).alias("u1"),
        F.expr(S.MW_Z_EXPR).alias("z_stat"),
    )


QUERIES.update({"ab_mann_whitney_u": ab_mann_whitney_u})


def a23_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence over the documents lang x source
    contingency table (+ Cramer's V effect size) -- the categorical-
    association audit a corpus curator runs before stratifying by
    source. ONE groupBy folds the corpus to |langs x sources| observed
    cells; margins are two aggregates of THAT table, and the full grid
    (including zero-observed cells, which proper chi-square must count)
    is a bounded margin x margin cross join with the observed cells
    left-joined in. Cell terms round to 10 dp then fold through DECIMAL
    (operators/stats.CHI2_*)."""
    from strava_vector_search_spark.operators import stats as S

    docs = load_table(spark, sf_dir, "documents")
    obs = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n")
    ).localCheckpoint(eager=False)  # 4 consumers: one corpus scan, not 4
    rowt = obs.groupBy("lang").agg(F.sum("n").alias("row_t"))
    colt = obs.groupBy("source").agg(F.sum("n").alias("col_t"))
    tot = obs.agg(F.sum("n").alias("n_tot"))
    grid = (
        rowt.crossJoin(F.broadcast(colt))
        .crossJoin(F.broadcast(tot))
        .join(obs, ["lang", "source"], "left")
        .withColumn("n_obs", F.coalesce(F.col("n"), F.lit(0)))
    )
    cells = grid.select(
        "lang",
        "source",
        "n_tot",
        F.expr(S.CHI2_TERM_EXPR).alias("term"),
    )
    out = cells.groupBy().agg(
        F.countDistinct("lang").alias("r_levels"),
        F.countDistinct("source").alias("c_levels"),
        F.max("n_tot").alias("n_tot"),
        F.expr(
            "CAST(ROUND(SUM(CAST(term AS DECIMAL(38,12))), 6) AS DOUBLE)"
        ).alias("chi2"),
    )
    return out.select(
        "n_tot",
        "r_levels",
        "c_levels",
        "chi2",
        F.expr("(r_levels - 1) * (c_levels - 1)").alias("dof"),
        F.expr(
            "ROUND(SQRT(chi2 / (CAST(n_tot AS DOUBLE)"
            " * CAST(LEAST(r_levels - 1, c_levels - 1) AS DOUBLE))), 6)"
        ).alias("cramers_v"),
    )


QUERIES.update({"a23_chi_square": a23_chi_square})


def a24_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer revenue concentration: the Gini coefficient via the
    sorted-rank identity plus two Lorenz-curve checkpoints (bottom-half
    and top-decile revenue share) -- the inequality readout behind
    corpus/source-concentration audits (same math as token-count
    concentration over sources). ONE DECIMAL aggregate per customer;
    the global rank i and the total count n_c come from the two-level
    range-partitioned rank (operators/order.attach_global_order) -- the
    per-customer table grows with the corpus, so the naive
    Window.orderBy rank would sort it in one task at scale; here the
    rank composes from per-partition windows + |partitions|-row driver
    offsets and n_c rides in as a driver-known literal (PLANS.md
    asserts no single-partition exchange). Rank-weighted sums stay
    exact DECIMAL until the single closing division
    (operators/stats.GINI_EXPR)."""
    from strava_vector_search_spark.operators import stats as S
    from strava_vector_search_spark.operators.order import (
        attach_global_order,
    )

    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.expr(
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(28,12)))"
            " AS DECIMAL(28,6))"
        ).alias("rev")
    )
    r = attach_global_order(
        rev,
        [F.asc("rev"), F.asc("o_custkey")],
        rank_col="i",
        total_count_col="n_c",
    )
    agg = r.groupBy("n_c").agg(
        F.sum("rev").alias("sx"),
        F.sum(
            F.expr("CAST(CAST(i AS DECIMAL(18,0)) * rev AS DECIMAL(38,6))")
        ).alias("swx"),
        F.sum(F.expr("CASE WHEN i <= n_c DIV 2 THEN rev END")).alias(
            "s_bot50"
        ),
        F.sum(
            F.expr("CASE WHEN i > n_c - n_c DIV 10 THEN rev END")
        ).alias("s_top10"),
    )
    return agg.select(
        F.col("n_c").alias("n_customers"),
        F.expr(S.GINI_EXPR).alias("gini"),
        F.expr(
            "ROUND(CAST(s_bot50 AS DOUBLE) / CAST(sx AS DOUBLE), 6)"
        ).alias("bot50_share"),
        F.expr(
            "ROUND(CAST(s_top10 AS DOUBLE) / CAST(sx AS DOUBLE), 6)"
        ).alias("top10_share"),
    )


QUERIES.update({"a24_gini_revenue": a24_gini_revenue})


def w_skyline_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier) of parts: minimize p_retailprice,
    maximize p_size -- the dominance query behind best-tradeoff
    curation (cheapest doc per quality level, smallest model per
    accuracy...). Computed WITHOUT the quadratic dominance join: fold
    to per-price levels (max size per distinct price), one cumulative
    window over that bounded level table gives the best size among all
    strictly-cheaper levels, and a point survives iff it is its level's
    max and beats every cheaper level. Two aggregates + one bounded
    window = linear; skyline is also MERGEABLE (skyline of partition
    skylines == global skyline), the 1000-executor path. The oracle is
    the INDEPENDENT brute-force NOT EXISTS dominance definition, so
    parity proves the window formulation correct."""
    from strava_vector_search_spark.operators.skyline import skyline_2d

    part = load_table(spark, sf_dir, "part")
    sky = skyline_2d(part, "p_retailprice", "p_size").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    return sky.orderBy("p_retailprice", "p_partkey")


QUERIES.update({"w_skyline_2d": w_skyline_2d})


def ev_interval_union_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-of-intervals coverage per user: each event opens a 30-min
    activity lease [ts, ts+30min); overlapping leases merge and the
    gate reports each user's total covered time and merged-interval
    count -- the uptime/SLA primitive (and the time-on-site metric)
    expressed as a per-key sweep. ONE lead/lag window partitioned by
    user does everything: covered_us = sum min(next_ts - ts, L) with
    the last event contributing L (exact BIGINT microseconds, zero
    float risk); an event starts a new interval iff no predecessor
    within L (touching leases do NOT merge: diff == L starts a new
    interval, the documented boundary rule). Scales as a partitioned
    sort, no global state."""
    ev = load_events(spark, sf_dir)
    lease = 1800_000_000  # 30 min in microseconds
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("t_us")
    t = (
        ev.select("user_id", us.alias("t_us"))
        .withColumn("nxt", F.lead("t_us").over(w))
        .withColumn("prv", F.lag("t_us").over(w))
    )
    per = t.select(
        "user_id",
        F.expr(
            f"LEAST(COALESCE(nxt - t_us, {lease}),"
            f" CAST({lease} AS BIGINT))"
        ).alias("contrib"),
        F.expr(
            f"CASE WHEN prv IS NULL OR t_us - prv >= {lease}"
            " THEN 1 ELSE 0 END"
        ).alias("starts"),
    )
    return (
        per.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("starts").alias("n_intervals"),
            F.sum("contrib").alias("covered_us"),
        )
        .orderBy("user_id")
    )


QUERIES.update({"ev_interval_union_time": ev_interval_union_time})


def diag_distinct_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planner NDV estimation from a 5% deterministic hash sample: the
    Chao1 abundance estimator (d + f1*(f1-1)/(2*(f2+1)), the
    bias-corrected form that is defined even when no value repeats
    twice) predicts the distinct l_partkey count of the FULL table from
    singleton/doubleton counts in the sample -- what a query planner
    does when a full NDV pass is too expensive at 100 TB. The sample
    predicate is the portable 60-bit md5 bucket (admission is map-only
    and re-runnable); f1/f2 fold out of one per-value count aggregate
    over the sample. The exact NDV and the estimate/actual ratio are
    reported side by side, so the gate pins BOTH the estimator
    arithmetic and the sampling determinism."""
    from strava_vector_search_spark.operators.dedup import md5_int

    li = load_table(spark, sf_dir, "lineitem")
    rid = F.concat_ws(
        ":",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
    )
    samp = li.withColumn("h", F.pmod(md5_int(rid), F.lit(20))).filter(
        F.col("h") == 0
    )
    per_v = samp.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    sagg = per_v.agg(
        F.sum("c").alias("sample_rows"),
        F.count(F.lit(1)).alias("d_sample"),
        F.expr("COUNT(CASE WHEN c = 1 THEN 1 END)").alias("f1"),
        F.expr("COUNT(CASE WHEN c = 2 THEN 1 END)").alias("f2"),
    )
    exact = li.agg(F.countDistinct("l_partkey").alias("exact_ndv"))
    est = sagg.crossJoin(F.broadcast(exact)).withColumn(
        "chao1_est",
        F.expr(
            "ROUND(CAST(d_sample AS DOUBLE)"
            " + CAST(f1 AS DOUBLE) * CAST(f1 - 1 AS DOUBLE)"
            " / (2.0 * CAST(f2 + 1 AS DOUBLE)), 6)"
        ),
    )
    return est.select(
        "sample_rows",
        "d_sample",
        "f1",
        "f2",
        "chao1_est",
        "exact_ndv",
        F.expr(
            "ROUND(chao1_est / CAST(exact_ndv AS DOUBLE), 6)"
        ).alias("est_ratio"),
    )


QUERIES.update({"diag_distinct_estimate": diag_distinct_estimate})


def lay_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction planning (the OPTIMIZE/bin-packing step
    of every lakehouse maintenance loop): estimate each source
    partition's output bytes from its content, then pack partitions
    into target-sized output files with Spark's own scan-packing rule
    -- concatenate in order, charge an open-cost per input, cut a bin
    every `target` cost units (FilePartition's maxPartitionBytes +
    openCostInBytes). ONE per-source aggregate; the cumulative window
    runs over the |sources|-bounded table; bin id = floor(start_offset
    / target) is pure integer arithmetic, so the plan is deterministic
    and identical across engines. Output: one row per planned output
    file with its input count and estimated bytes."""
    target, open_cost = 32768, 1024
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("est_bytes"),
    )
    wcum = Window.orderBy("source").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    planned = (
        per_src.withColumn("cost", F.expr(f"est_bytes + {open_cost}"))
        .withColumn("cum", F.sum("cost").over(wcum))
        .withColumn("bin", F.expr(f"(cum - cost) DIV {target}"))
    )
    return (
        planned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_sources"),
            F.sum("n_docs").alias("n_docs"),
            F.sum("est_bytes").alias("est_bytes"),
            F.sum("cost").alias("total_cost"),
        )
        .orderBy("bin")
    )


QUERIES.update({"lay_compaction_plan": lay_compaction_plan})


def tx_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution shift between two corpus halves as unigram KL
    divergence (both directions) + Jensen-Shannon -- the drift readout
    a curation pipeline runs between crawl snapshots or source groups
    (PSI's token-level sibling). Groups = even/odd source id; ONE
    tokenize+aggregate pass folds the corpus to per-token counts for
    both groups; add-1 smoothing over the shared vocab keeps every
    term finite; p*ln(p/q) terms round to 10 dp and fold through
    DECIMAL so the sum is order-insensitive. Work after the scan is
    |vocab|-bounded."""
    from strava_vector_search_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.expr("CAST(SUBSTRING(source, 4) AS INT) % 2").alias("grp"),
        F.explode(tokens(F.col("text"))).alias("token"),
    )
    cnt = tok.groupBy("token").agg(
        F.expr("COUNT(CASE WHEN grp = 0 THEN 1 END)").alias("ca"),
        F.expr("COUNT(CASE WHEN grp = 1 THEN 1 END)").alias("cb"),
        # two consumers (tot + terms): checkpoint or the corpus
        # tokenize+explode runs twice (the KN/NB lesson)
    ).localCheckpoint(eager=False)
    tot = cnt.agg(
        F.count(F.lit(1)).alias("v"),
        F.sum("ca").alias("na"),
        F.sum("cb").alias("nb"),
    )
    terms = cnt.crossJoin(F.broadcast(tot)).select(
        "v",
        "na",
        "nb",
        F.expr(
            "CAST(ca + 1 AS DOUBLE) / CAST(na + v AS DOUBLE)"
        ).alias("p"),
        F.expr(
            "CAST(cb + 1 AS DOUBLE) / CAST(nb + v AS DOUBLE)"
        ).alias("q"),
    )
    folded = terms.groupBy("v", "na", "nb").agg(
        F.expr(
            "CAST(ROUND(SUM(CAST(ROUND(p * LN(p / q), 10)"
            " AS DECIMAL(38,12))), 6) AS DOUBLE)"
        ).alias("kl_ab"),
        F.expr(
            "CAST(ROUND(SUM(CAST(ROUND(q * LN(q / p), 10)"
            " AS DECIMAL(38,12))), 6) AS DOUBLE)"
        ).alias("kl_ba"),
        F.expr(
            "CAST(ROUND(SUM(CAST(ROUND("
            "0.5 * p * LN(p / ((p + q) / 2.0))"
            " + 0.5 * q * LN(q / ((p + q) / 2.0)), 10)"
            " AS DECIMAL(38,12))), 6) AS DOUBLE)"
        ).alias("jsd"),
    )
    return folded.select(
        F.col("v").alias("vocab_size"),
        F.col("na").alias("tokens_a"),
        F.col("nb").alias("tokens_b"),
        "kl_ab",
        "kl_ba",
        "jsd",
    )


QUERIES.update({"tx_kl_divergence": tx_kl_divergence})


def _seasonal_detrended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared trend kernel for ev_seasonal_decompose / ev_seasonal_anomaly
    (round-6 self-review finding #5 — the pipeline was duplicated
    verbatim in both gates and both oracles): per-day counts, centered
    7-day MA over the |days|-bounded table, interior days only (n7 == 7),
    detrended values rounded to 6 dp. Columns (day, x, dow, detr);
    checkpointed because the anomaly gate consumes it twice. The oracle
    twin is oracles._SEASONAL_DETR_CTES — change BOTH together."""
    ev = load_events(spark, sf_dir)
    us = F.unix_micros(F.col("ts"))
    daily = (
        ev.select(us.alias("t_us"))
        .withColumn("day", F.expr("t_us DIV 86400000000"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    wma = Window.orderBy("day").rowsBetween(-3, 3)
    return (
        daily.withColumn("n7", F.count(F.lit(1)).over(wma))
        .withColumn("s7", F.sum("x").over(wma))
        .filter(F.col("n7") == 7)
        .select(
            "day",
            "x",
            F.expr("day % 7").alias("dow"),
            F.expr(
                "ROUND(CAST(x AS DOUBLE)"
                " - CAST(s7 AS DOUBLE) / 7.0, 6)"
            ).alias("detr"),
        )
        .localCheckpoint(eager=False)
    )


def ev_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the daily volume
    series: trend = centered 7-day moving average (full windows only),
    day-of-week seasonal index = mean of the detrended series per
    epoch-relative weekday (day % 7), centered so indices sum to ~0 --
    the decomposition every capacity-planning dashboard applies before
    anomaly thresholds. ONE per-day aggregate; the MA window, the
    per-dow index and the centering all run over |days|- and 7-bounded
    tables. Detrended values round to 6 dp, index means fold through
    DECIMAL."""
    detr = _seasonal_detrended(spark, sf_dir)
    raw = detr.groupBy("dow").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.expr(
            "ROUND(CAST(SUM(CAST(detr AS DECIMAL(38,12))) AS DOUBLE)"
            " / COUNT(*), 6)"
        ).alias("seasonal_raw"),
    )
    centered = raw.withColumn(
        "mean_raw",
        F.expr(
            "ROUND(CAST(SUM(CAST(seasonal_raw AS DECIMAL(38,12)))"
            " OVER (ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED"
            " FOLLOWING) AS DOUBLE)"
            " / COUNT(*) OVER (ROWS BETWEEN UNBOUNDED PRECEDING AND"
            " UNBOUNDED FOLLOWING), 6)"
        ),
    )
    return centered.select(
        "dow",
        "n_obs",
        "seasonal_raw",
        F.expr("ROUND(seasonal_raw - mean_raw, 6)").alias(
            "seasonal_centered"
        ),
    ).orderBy("dow")


QUERIES.update({"ev_seasonal_decompose": ev_seasonal_decompose})


def t_keyset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (seek) pagination: page 3 of the balance-ranked customer
    list fetched by CURSOR PREDICATE instead of OFFSET -- the export-
    scale pagination pattern t_offset_page's docstring prescribes.
    The cursor (last row of page 2) is derived by the SAME top-k
    pattern the page uses — orderBy().limit(40) compiles to a
    TakeOrderedAndProject (per-partition heap + driver merge of 40-row
    locals, never a global sort) and the 40th row folds to ONE
    broadcast row; the page itself is filter + TakeOrderedAndProject,
    so at 100 TB the scan prunes with the predicate and never
    materializes-and-skips 40 rows per executor the way a global
    OFFSET must, and no step ever single-task-sorts the full customer
    table. Returns the same 20 rows as the OFFSET formulation (pinned
    in tests)."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    cursor = (
        cust.orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
        .limit(40)
        .orderBy(F.asc("c_acctbal"), F.desc("c_custkey"))
        .limit(1)
        .select(
            F.col("c_acctbal").alias("kb"), F.col("c_custkey").alias("kk")
        )
    )
    page = cust.crossJoin(F.broadcast(cursor)).filter(
        (F.col("c_acctbal") < F.col("kb"))
        | (
            (F.col("c_acctbal") == F.col("kb"))
            & (F.col("c_custkey") > F.col("kk"))
        )
    )
    return (
        page.select("c_custkey", "c_name", "c_acctbal")
        .orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
        .limit(20)
    )


QUERIES.update({"t_keyset_page": t_keyset_page})


def ev_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-residual anomaly scoring: remove the 7-day MA trend and
    the weekday index from the daily series (the ev_seasonal_decompose
    pipeline), then score residuals with the robust z-score
    (resid - median) / (1.4826 * MAD) -- the outlier rule monitoring
    stacks prefer because one bad day cannot inflate its own
    threshold. Medians are the deterministic lower median over the
    |days|-bounded residual table (the repo's one-quantile rule).
    Reports the top-5 most anomalous days with their scores and the
    |score| > 3 flag, so the output is non-empty whether or not the
    series contains a true anomaly."""
    detr = _seasonal_detrended(spark, sf_dir)
    seas = detr.groupBy("dow").agg(
        F.expr(
            "ROUND(CAST(SUM(CAST(detr AS DECIMAL(38,12))) AS DOUBLE)"
            " / COUNT(*), 6)"
        ).alias("seasonal_raw")
    )
    resid = detr.join(F.broadcast(seas), "dow").select(
        "day",
        "x",
        F.expr("ROUND(detr - seasonal_raw, 6)").alias("resid"),
    ).localCheckpoint(eager=False)
    wmed = Window.orderBy("resid", "day")
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    med = (
        resid.withColumn("rn", F.row_number().over(wmed))
        .withColumn("cnt", F.count(F.lit(1)).over(wall))
        .filter(F.expr("rn = (cnt + 1) DIV 2"))
        .select(F.col("resid").alias("med"))
    )
    dev = resid.crossJoin(F.broadcast(med)).withColumn(
        "adev", F.expr("ROUND(ABS(resid - med), 6)")
    )
    wmad = Window.orderBy("adev", "day")
    mad = (
        dev.withColumn("rn", F.row_number().over(wmad))
        .withColumn("cnt", F.count(F.lit(1)).over(wall))
        .filter(F.expr("rn = (cnt + 1) DIV 2"))
        .select(F.col("adev").alias("mad"))
    )
    scored = dev.crossJoin(F.broadcast(mad)).select(
        "day",
        "x",
        "resid",
        F.expr(
            "ROUND((resid - med) / NULLIF(1.4826 * mad, 0.0), 6)"
        ).alias("score"),
    )
    wtop = Window.orderBy(F.desc(F.abs(F.col("score"))), F.asc("day"))
    return (
        scored.withColumn("rk", F.row_number().over(wtop))
        .filter(F.col("rk") <= 5)
        .select(
            "day",
            "x",
            "resid",
            "score",
            F.expr(
                "CASE WHEN ABS(score) > 3.0 THEN 1 ELSE 0 END"
            ).alias("is_anomaly"),
        )
        .orderBy("day")
    )


QUERIES.update({"ev_seasonal_anomaly": ev_seasonal_anomaly})


def ev_asof_directions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward and nearest as-of joins -- the two merge_asof directions
    the backward-only ev_asof_join gate leaves out (kdb wj / pandas
    direction='forward'/'nearest'). For every purchase event, attach
    the next error event of the same user (forward-inclusive) and the
    closest error event either way (ties resolved backward, pandas'
    rule). Both run as operators/temporal.asof_join's union trick: ONE
    shuffle on user_id; nearest adds only a second in-partition window
    sort. The oracle is the INDEPENDENT correlated-lateral argmin
    formulation, so parity proves the window machinery implements the
    direction semantics."""
    from strava_vector_search_spark.operators.temporal import asof_join

    ev = load_events(spark, sf_dir)
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "value"
    )
    fwd = asof_join(
        left, right, ["user_id"], value_cols=["value"],
        direction="forward",
    ).select(
        "event_id",
        F.unix_micros(F.col("ts_right").cast("timestamp")).alias(
            "fwd_us"
        ),
        F.col("value_right").alias("fwd_value"),
    )
    near = asof_join(
        left, right, ["user_id"], value_cols=["value"],
        direction="nearest",
    ).select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
        F.unix_micros(F.col("ts_right").cast("timestamp")).alias(
            "near_us"
        ),
        F.col("value_right").alias("near_value"),
    )
    return (
        near.join(fwd, "event_id")
        .select(
            "event_id",
            "user_id",
            "t_us",
            "fwd_us",
            "fwd_value",
            "near_us",
            "near_value",
        )
        .orderBy("event_id")
    )


QUERIES.update({"ev_asof_directions": ev_asof_directions})


def _stump_candidates(
    df: DataFrame, by: list[str] | None = None
) -> DataFrame:
    """Every candidate split of target column ``r`` on feature ``v``,
    scored in closed form: ONE per-distinct-value moment aggregate +
    cumulative windows (the exact greedy split kernel shared by
    ml_decision_stump, ml_gbt_rounds and ml_tree_depth2 — one copy,
    three consumers). With ``by`` the kernel runs independently per
    group (windows partition on it), which is how the depth-2 tree
    trains both children from ONE aggregate.
    Columns: (*by), thr, nl, nr, child sums, 10 dp sse, plus the totals
    (tsum, srrtd, nt) a consumer needs for the variance-gain readout."""
    by = by or []
    per_v = df.groupBy(*by, "v").agg(
        F.count(F.lit(1)).alias("n_v"),
        F.sum(F.col("r").cast("decimal(38,12)")).alias("sr_v"),
        F.sum(F.expr("CAST(r * r AS DECIMAL(38,12))")).alias("srr_v"),
    )
    wcum = (
        Window.partitionBy(*by)
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy(*by).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        per_v.withColumn("nl", F.sum("n_v").over(wcum))
        .withColumn("sl", F.sum("sr_v").over(wcum))
        .withColumn("srrl", F.sum("srr_v").over(wcum))
        .withColumn("nt", F.sum("n_v").over(wtot))
        .withColumn("st", F.sum("sr_v").over(wtot))
        .withColumn("srrt", F.sum("srr_v").over(wtot))
        .filter(F.col("nl") < F.col("nt"))
        .select(
            *by,
            F.col("v").alias("thr"),
            "nl",
            F.expr("nt - nl").alias("nr"),
            F.expr("CAST(sl AS DOUBLE)").alias("sld"),
            F.expr("CAST(st - sl AS DOUBLE)").alias("srd"),
            F.expr("CAST(srrl AS DOUBLE)").alias("srrld"),
            F.expr("CAST(srrt - srrl AS DOUBLE)").alias("srrrd"),
            F.expr("CAST(st AS DOUBLE)").alias("tsum"),
            F.expr("CAST(srrt AS DOUBLE)").alias("srrtd"),
            F.col("nt"),
        )
        .withColumn(
            "sse",
            F.expr(
                "ROUND((srrld - sld * sld / CAST(nl AS DOUBLE))"
                " + (srrrd - srd * srd / CAST(nr AS DOUBLE)), 10)"
            ),
        )
    )


def _best_stump(df: DataFrame) -> DataFrame:
    """Argmin over :func:`_stump_candidates` — 1 row (thr, wl, wr, sse);
    child means are the squared-loss optimal leaf weights."""
    w = Window.orderBy("sse", "thr")
    return (
        _stump_candidates(df)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "thr",
            F.expr("ROUND(sld / CAST(nl AS DOUBLE), 6)").alias("wl"),
            F.expr("ROUND(srd / CAST(nr AS DOUBLE), 6)").alias("wr"),
            F.expr("ROUND(sse, 6)").alias("sse"),
        )
    )


def ml_gbt_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two rounds of squared-loss gradient boosting with stump base
    learners -- the distributed-exact core of the GBT/XGBoost training
    loop: F0 = global mean, each round fits the EXACT best split on the
    current residuals (one moment aggregate + cumulative windows, the
    ml_decision_stump kernel via _best_stump) and the new residuals are
    a map-only broadcast-model subtraction. Per round the corpus is
    scanned once and the candidate evaluation is O(|distinct feature
    values|); residuals round to 6 dp at each handoff so both engines
    chain bit-identically. Output: F0, both stumps' (threshold, leaf
    weights, post-round SSE) -- SSE must be non-increasing across
    rounds (pinned in tests along with a two-round numpy replay)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    feats = emb.select(
        F.expr("ROUND(CAST(embedding[0] AS DOUBLE), 6)").alias("v"),
        F.expr(
            "CAST(CASE WHEN label = 0 THEN 1 ELSE 0 END AS DOUBLE)"
        ).alias("y"),
    ).localCheckpoint(eager=False)
    f0row = feats.agg(
        F.expr(
            "ROUND(CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE)"
            " / COUNT(*), 6)"
        ).alias("f0")
    )
    d1 = feats.crossJoin(F.broadcast(f0row)).select(
        "v", F.expr("ROUND(y - f0, 6)").alias("r")
    )
    # both s1 consumers (round-2 residuals AND the final output row) and
    # both d1 consumers reuse the same subtree — truncate lineage so the
    # stump kernel and residual projection run once, not twice
    d1 = d1.localCheckpoint(eager=False)
    s1 = _best_stump(d1).localCheckpoint(eager=False)
    d2 = d1.crossJoin(
        F.broadcast(
            s1.select(
                F.col("thr").alias("t1"),
                F.col("wl").alias("l1"),
                F.col("wr").alias("r1"),
            )
        )
    ).select(
        "v",
        F.expr(
            "ROUND(r - CASE WHEN v <= t1 THEN l1 ELSE r1 END, 6)"
        ).alias("r"),
    )
    s2 = _best_stump(d2)
    return (
        f0row.crossJoin(
            s1.select(
                F.col("thr").alias("thr_1"),
                F.col("wl").alias("wl_1"),
                F.col("wr").alias("wr_1"),
                F.col("sse").alias("sse_1"),
            )
        )
        .crossJoin(
            s2.select(
                F.col("thr").alias("thr_2"),
                F.col("wl").alias("wl_2"),
                F.col("wr").alias("wr_2"),
                F.col("sse").alias("sse_2"),
            )
        )
    )


QUERIES.update({"ml_gbt_rounds": ml_gbt_rounds})


def er_fs_match_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record-linkage scoring (the Splink
    model) over the ER candidate pairs: per-field binary agreement
    (name within edit distance 1, price within 5 cents, size equal)
    turns into log-likelihood-ratio weights ln(m/u) vs ln((1-m)/(1-u))
    with pinned (m, u) per field, and the summed weight classifies the
    pair link / possible / nonlink -- the decision layer between
    er-blocking and er_golden_record's transitive closure. Candidates
    come from the same bounded kernel as er_resolve: one representative
    per DISTINCT (brand, name), pairs within block at edit distance
    <= 3, never all-pairs. Weight terms are ROUND(LN(const), 10) --
    identical literal text in both engines."""
    part = load_table(spark, sf_dir, "part")
    base = part.select(
        F.col("p_partkey").alias("rec_id"),
        F.col("p_brand").alias("block"),
        F.col("p_name").alias("name"),
        F.col("p_retailprice").alias("q"),
        F.col("p_size").alias("s"),
    )
    dirty = part.filter(F.col("p_partkey") % 5 == 0).select(
        (F.col("p_partkey") + 10_000_000).alias("rec_id"),
        F.col("p_brand").alias("block"),
        F.expr("substr(p_name, 2)").alias("name"),
        (F.col("p_retailprice") - 0.01).alias("q"),
        F.col("p_size").alias("s"),
    )
    contacts = base.unionByName(dirty)
    reps = contacts.groupBy("block", "name").agg(
        F.min("rec_id").alias("rep")
    )
    attrs = reps.join(
        contacts.select(F.col("rec_id").alias("rep"), "q", "s"), "rep"
    )
    a = attrs.select(
        "block",
        F.col("name").alias("n1"),
        F.col("rep").alias("r1"),
        F.col("q").alias("q1"),
        F.col("s").alias("s1"),
    )
    b = attrs.select(
        "block",
        F.col("name").alias("n2"),
        F.col("rep").alias("r2"),
        F.col("q").alias("q2"),
        F.col("s").alias("s2"),
    )
    cand = (
        a.join(b, "block")
        .filter(F.col("r1") < F.col("r2"))
        .withColumn(
            "dist", F.levenshtein(F.col("n1"), F.col("n2"), 3)
        )
        .filter(F.col("dist") >= 0)
    )
    scored = cand.select(
        "r1",
        "r2",
        F.expr("CASE WHEN dist <= 1 THEN 1 ELSE 0 END").alias(
            "agree_name"
        ),
        F.expr(
            "CASE WHEN ABS(q1 - q2) <= 0.05 THEN 1 ELSE 0 END"
        ).alias("agree_price"),
        F.expr("CASE WHEN s1 = s2 THEN 1 ELSE 0 END").alias(
            "agree_size"
        ),
    ).withColumn(
        "weight",
        F.expr(
            "ROUND("
            "(CASE WHEN agree_name = 1 THEN ROUND(LN(CAST(0.95 AS DOUBLE) / CAST(0.05 AS DOUBLE)), 10)"
            " ELSE ROUND(LN(CAST(0.05 AS DOUBLE) / CAST(0.95 AS DOUBLE)), 10) END)"
            " + (CASE WHEN agree_price = 1 THEN ROUND(LN(CAST(0.9 AS DOUBLE) / CAST(0.1 AS DOUBLE)), 10)"
            " ELSE ROUND(LN(CAST(0.1 AS DOUBLE) / CAST(0.9 AS DOUBLE)), 10) END)"
            " + (CASE WHEN agree_size = 1 THEN ROUND(LN(CAST(0.85 AS DOUBLE) / CAST(0.15 AS DOUBLE)), 10)"
            " ELSE ROUND(LN(CAST(0.15 AS DOUBLE) / CAST(0.85 AS DOUBLE)), 10) END), 6)"
        ),
    )
    return scored.select(
        "r1",
        "r2",
        "agree_name",
        "agree_price",
        "agree_size",
        "weight",
        F.expr(
            "CASE WHEN weight >= 4.0 THEN 'link'"
            " WHEN weight >= 0.0 THEN 'possible'"
            " ELSE 'nonlink' END"
        ).alias("decision"),
    ).orderBy("r1", "r2")


QUERIES.update({"er_fs_match_weights": er_fs_match_weights})


def g_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded BFS (3 hops) over the part co-order graph from its
    minimum-id node -- the shortest-path primitive the graph family
    (CC, PageRank, k-core, triangles) still lacked. Per hop: ONE
    equi-join of the current frontier against the edge list + an
    anti-join against already-reached nodes, lineage truncated with
    localCheckpoint (the iterative pattern shared with PageRank/CC).
    Three hops are the BOUNDED prefix (production iterates to fixpoint;
    hops is the knob). Output: nodes reached at each distance plus the
    still-unreached count (dist = -1) -- pure integer set algebra, so
    the unrolled MATERIALIZED-CTE oracle is bit-exact."""
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a, b = op.alias("a"), op.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("u"),
            F.col("b.l_partkey").alias("v"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("u", "v")
    )
    und = (
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .localCheckpoint(eager=False)
    )
    nodes = und.select(F.col("u").alias("node")).distinct()
    # one distinct pass serves both the seed and the final total (the
    # two consumers otherwise re-run the distinct over the edge list)
    stats = nodes.agg(
        F.min("node").alias("node"), F.count("node").alias("n_total")
    ).localCheckpoint(eager=False)
    src = stats.select("node")
    dist = F.broadcast(src).withColumn("dist", F.lit(0))
    for h in (1, 2, 3):
        frontier = dist.filter(F.col("dist") == h - 1)
        nxt = (
            frontier.join(und, frontier["node"] == und["u"])
            .select(F.col("v").alias("node"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti")
            .withColumn("dist", F.lit(h))
        )
        dist = dist.unionByName(nxt).localCheckpoint(eager=False)
    reached = dist.groupBy("dist").agg(F.count(F.lit(1)).alias("n_nodes"))
    totals = stats.select("n_total").crossJoin(
        F.broadcast(dist.agg(F.count(F.lit(1)).alias("n_reached")))
    )
    unreached = totals.select(
        F.lit(-1).alias("dist"),
        F.expr("n_total - n_reached").alias("n_nodes"),
    )
    return reached.unionByName(unreached).orderBy("dist")


QUERIES.update({"g_bfs_hops": g_bfs_hops})


def ev_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching (the MATCH_RECOGNIZE / CEP surface) per
    user: events collapse to an initials string in (ts, event_id) order
    -- v(iew) c(lick) p(urchase) s(ignup) e(rror) -- and a regex over
    THAT string answers ordered-with-exclusion questions no plain
    aggregate can: did the user convert view -> click -> purchase with
    no error anywhere between? One groupBy builds the per-user sequence
    (map-side partial via collect_list, sorted deterministically inside
    the aggregate); the regex evaluates map-only on |users| bounded
    rows. Existence flags only (engine regex dialects agree on WHETHER
    a match exists; span extraction would pin one backtracking
    strategy)."""
    ev = load_events(spark, sf_dir)
    coded = ev.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("t_us"),
        "event_id",
        F.expr("SUBSTRING(event_type, 1, 1)").alias("code"),
    )
    seqs = coded.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr(
            "concat_ws('', transform("
            "array_sort(collect_list(struct(t_us, event_id, code))),"
            " x -> x.code))"
        ).alias("seq"),
    )
    return seqs.select(
        "user_id",
        "n_events",
        F.expr("LENGTH(seq)").alias("seq_len"),
        F.expr(
            "CASE WHEN seq RLIKE 'v[^e]*c[^e]*p' THEN 1 ELSE 0 END"
        ).alias("converted_clean"),
        F.expr(
            "CASE WHEN seq RLIKE 'v.*c.*p' THEN 1 ELSE 0 END"
        ).alias("converted_any"),
        F.expr(
            "CASE WHEN seq RLIKE 'ee' THEN 1 ELSE 0 END"
        ).alias("double_error"),
    ).orderBy("user_id")


QUERIES.update({"ev_sequence_pattern": ev_sequence_pattern})


def ml_tree_depth2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-2 regression tree, trained distributed-exact: the root is
    the greedy best split (_best_stump), then BOTH children train from
    ONE grouped aggregate -- _stump_candidates(by=['side']) runs the
    split kernel per child with windows partitioned on the side, so
    adding a tree level costs one more scan + one bounded kernel, not
    a per-node pass (the level-synchronous layout XGBoost's exact mode
    uses). Leaf weights are child means; depth-2 SSE = sum of the two
    children's best SSEs; a side with fewer than two distinct feature
    values yields NULL split columns (documented). Pinned by a Python
    replay and sse_depth2 <= root sse in tests."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    feats = emb.select(
        F.expr("ROUND(CAST(embedding[0] AS DOUBLE), 6)").alias("v"),
        F.expr(
            "CAST(CASE WHEN label = 0 THEN 1 ELSE 0 END AS DOUBLE)"
        ).alias("r"),
    ).localCheckpoint(eager=False)
    root = _best_stump(feats).localCheckpoint(eager=False)
    sided = feats.crossJoin(
        F.broadcast(root.select(F.col("thr").alias("t0")))
    ).select(
        F.expr("CASE WHEN v <= t0 THEN 'L' ELSE 'R' END").alias("side"),
        "v",
        "r",
    )
    cand2 = _stump_candidates(sided, by=["side"])
    w2 = Window.partitionBy("side").orderBy("sse", "thr")
    best2 = (
        cand2.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == 1)
        .select(
            "side",
            "thr",
            F.expr("ROUND(sld / CAST(nl AS DOUBLE), 6)").alias("wl"),
            F.expr("ROUND(srd / CAST(nr AS DOUBLE), 6)").alias("wr"),
            F.expr("ROUND(sse, 6)").alias("sse"),
        )
    )
    wide = best2.groupBy().agg(
        F.expr("MAX(CASE WHEN side = 'L' THEN thr END)").alias(
            "left_thr"
        ),
        F.expr("MAX(CASE WHEN side = 'L' THEN wl END)").alias("left_wl"),
        F.expr("MAX(CASE WHEN side = 'L' THEN wr END)").alias("left_wr"),
        F.expr("MAX(CASE WHEN side = 'R' THEN thr END)").alias(
            "right_thr"
        ),
        F.expr("MAX(CASE WHEN side = 'R' THEN wl END)").alias(
            "right_wl"
        ),
        F.expr("MAX(CASE WHEN side = 'R' THEN wr END)").alias(
            "right_wr"
        ),
        F.expr(
            "CAST(ROUND(SUM(CAST(sse AS DECIMAL(38,12))), 6) AS DOUBLE)"
        ).alias("sse_depth2"),
    )
    return root.select(
        F.col("thr").alias("root_thr"),
        F.col("sse").alias("root_sse"),
    ).crossJoin(F.broadcast(wide))


QUERIES.update({"ml_tree_depth2": ml_tree_depth2})


def dq_fd_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency profiling (the Deequ/metanome-style schema
    audit): for each candidate FD lhs -> rhs, ONE groupBy(lhs) counts
    distinct rhs values, and the FD report (distinct lhs, violating lhs,
    worst fan-out, holds flag) folds out of an aggregate of THAT bounded
    table -- how a curator discovers which columns are safe dedup /
    partition keys. Five candidates across the star schema: two true
    FDs (key -> attribute) and three expected violations. Linear scans,
    map-side combined, no joins."""
    def fd(df: DataFrame, name: str, lhs: str, rhs: str) -> DataFrame:
        per = df.groupBy(lhs).agg(
            F.countDistinct(rhs).alias("n_rhs")
        )
        return per.groupBy().agg(
            F.lit(name).alias("fd"),
            F.count(F.lit(1)).alias("n_lhs"),
            F.expr("COUNT(CASE WHEN n_rhs > 1 THEN 1 END)").alias(
                "n_violating"
            ),
            F.max("n_rhs").alias("max_fanout"),
            F.expr(
                "CAST(MAX(n_rhs) = 1 AS INT)"
            ).alias("holds"),
        )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    docs = load_table(spark, sf_dir, "documents")
    out = (
        fd(cust, "c_custkey->c_nationkey", "c_custkey", "c_nationkey")
        .unionByName(
            fd(nation, "n_nationkey->n_regionkey", "n_nationkey",
               "n_regionkey")
        )
        .unionByName(
            fd(orders, "o_custkey->o_orderpriority", "o_custkey",
               "o_orderpriority")
        )
        .unionByName(fd(li, "l_partkey->l_suppkey", "l_partkey",
                        "l_suppkey"))
        .unionByName(fd(docs, "lang->source", "lang", "source"))
    )
    return out.orderBy("fd")


QUERIES.update({"dq_fd_violations": dq_fd_violations})


def a25_hdr_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HdrHistogram-style log2-bucketed percentiles of event value (in
    cents): the latency-metrics pattern where the summary is
    O(log range) buckets whatever the cardinality, buckets merge by
    addition (the a21 mergeability story at logarithmic size), and the
    estimate's RELATIVE error is bounded by the bucket ratio (midpoint
    estimate -> <= 50%; pinned vs the exact percentile computed from
    the distinct-cents kernel in the same query). Bucket = binary digit
    count (length(bin(cents)) - 1) so no libm log2 can move a boundary;
    ranks use ceil(q*n), quantile = first bucket/cent whose cumulative
    count reaches the rank. ONE corpus pass: totals, ranks AND the
    bucket walk all fold from the bounded distinct-cents kernel."""
    ev = load_events(spark, sf_dir)
    vals = ev.select(
        F.expr("CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)").alias("vc")
    ).filter(F.col("vc") >= 1)
    wv = Window.orderBy("vc").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    kern = (
        vals.groupBy("vc")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("cum", F.sum("c").over(wv))
        .localCheckpoint(eager=False)
    )
    tq = kern.agg(
        F.sum("c").alias("n_values"),
        F.expr(
            "GREATEST(CAST(1 AS BIGINT),"
            " CAST(CEIL(SUM(c) * 0.5) AS BIGINT))"
        ).alias("k50"),
        F.expr(
            "GREATEST(CAST(1 AS BIGINT),"
            " CAST(CEIL(SUM(c) * 0.9) AS BIGINT))"
        ).alias("k90"),
        F.expr(
            "GREATEST(CAST(1 AS BIGINT),"
            " CAST(CEIL(SUM(c) * 0.99) AS BIGINT))"
        ).alias("k99"),
    )
    wb = Window.orderBy("b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    buck = (
        kern.withColumn(
            "b", F.expr("CAST(LENGTH(BIN(vc)) - 1 AS BIGINT)")
        )
        .groupBy("b")
        .agg(F.sum("c").alias("c"))
        .withColumn("cum", F.sum("c").over(wb))
    )
    bq = buck.crossJoin(F.broadcast(tq)).groupBy(
        "n_values", "k50", "k90", "k99"
    ).agg(
        F.expr("MIN(CASE WHEN cum >= k50 THEN b END)").alias("b50"),
        F.expr("MIN(CASE WHEN cum >= k90 THEN b END)").alias("b90"),
        F.expr("MIN(CASE WHEN cum >= k99 THEN b END)").alias("b99"),
    )
    eq = kern.crossJoin(F.broadcast(tq)).groupBy("n_values").agg(
        F.expr("MIN(CASE WHEN cum >= k50 THEN vc END)").alias("x50"),
        F.expr("MIN(CASE WHEN cum >= k90 THEN vc END)").alias("x90"),
        F.expr("MIN(CASE WHEN cum >= k99 THEN vc END)").alias("x99"),
    )
    out = bq.join(eq, "n_values")
    cols = [F.col("n_values")]
    for q in ("50", "90", "99"):
        est = (
            f"CAST(3 * SHIFTLEFT(CAST(1 AS BIGINT), CAST(b{q} AS INT))"
            " AS DOUBLE) / 2.0"
        )
        cols += [
            F.col(f"b{q}"),
            F.expr(est).alias(f"est{q}_cents"),
            F.col(f"x{q}").alias(f"exact{q}_cents"),
            F.expr(
                f"ROUND(ABS({est} - CAST(x{q} AS DOUBLE))"
                f" / CAST(x{q} AS DOUBLE), 6)"
            ).alias(f"relerr{q}"),
        ]
    return out.select(*cols)


QUERIES.update({"a25_hdr_histogram": a25_hdr_histogram})


def ev_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation -- the CRM workhorse: per customer
    Recency (days since last order, against the corpus max date),
    Frequency (order count) and Monetary (DECIMAL revenue) fold out of
    ONE orders aggregate; each dimension maps to a 1..5 NTILE score
    (ties broken by customer id so both engines rank identically), and
    customers roll up by the 3-digit segment. Each NTILE runs as the
    two-level range-partitioned global_ntile (operators/order.py:
    range exchange + per-partition rank + driver offsets + map-only
    tile expression) -- the per-customer table grows with the corpus,
    so the naive unpartitioned NTILE window would sort it in one task
    at 100x; PLANS.md asserts no single-partition exchange. Output:
    one row per observed segment with population and money share."""
    from strava_vector_search_spark.operators.order import global_ntile

    orders = load_table(spark, sf_dir, "orders")
    per_c = orders.groupBy("o_custkey").agg(
        F.max(F.expr("CAST(o_orderdate AS DATE)")).alias("last_d"),
        F.count(F.lit(1)).alias("freq"),
        F.expr(
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(28,12)))"
            " AS DECIMAL(28,6))"
        ).alias("money"),
    ).localCheckpoint(eager=False)  # two consumers (mx + base): one scan
    mx = per_c.agg(F.max("last_d").alias("max_d"))
    base = per_c.crossJoin(F.broadcast(mx)).select(
        "o_custkey",
        F.expr("DATEDIFF(max_d, last_d)").alias("rec_days"),
        "freq",
        "money",
    )
    # recency: smaller is better -> score 5 for the most recent quintile
    scored = global_ntile(
        base, [F.desc("rec_days"), F.asc("o_custkey")], 5, "r_score"
    )
    scored = global_ntile(
        scored, [F.asc("freq"), F.asc("o_custkey")], 5, "f_score"
    )
    # tot_money = grand total of money, driver-known from the m_score
    # pass's per-partition sums (== SUM(seg_money): DECIMAL sums are
    # exact under any grouping) — replaces a scalar aggregate over segs
    # and its Exchange SinglePartition stage
    scored = global_ntile(
        scored,
        [F.asc("money"), F.asc("o_custkey")],
        5,
        "m_score",
        grand_total_sums={"tot_money": ("money", "decimal(38,6)")},
    )
    segs = scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("money").alias("seg_money"),
        F.max("tot_money").alias("tot_money"),
    )
    return (
        segs
        .select(
            F.expr(
                "CONCAT(CAST(r_score AS STRING), CAST(f_score AS STRING),"
                " CAST(m_score AS STRING))"
            ).alias("segment"),
            "n_customers",
            F.expr(
                "ROUND(CAST(seg_money AS DOUBLE)"
                " / CAST(tot_money AS DOUBLE), 6)"
            ).alias("money_share"),
        )
        .orderBy("segment")
    )


QUERIES.update({"ev_rfm_segments": ev_rfm_segments})


def smp_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sampling allocation -- the survey-
    sampling rule (n_h proportional to N_h * S_h) that beats proportional
    allocation whenever strata differ in variance: high-variance language
    strata earn more of the 200-doc labeling budget. ONE moment aggregate
    per stratum gives (N_h, S_h); the allocation arithmetic runs on the
    |strata|-bounded table (floor + largest-remainder integerization,
    remainders rounded to 10 dp BEFORE the tie-ranked distribution of
    leftovers); admission is the deterministic per-stratum md5 rank, so
    membership is stable under repartitioning and replay. Output per
    stratum: population, stddev, integer allocation, and the sampled
    mean as the readout."""
    from strava_vector_search_spark.operators.dedup import md5_int

    budget = 200
    docs = load_table(spark, sf_dir, "documents")
    strata = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_pop"),
        F.expr(
            "SUM(CAST(n_chars AS DECIMAL(28,12)))"
        ).alias("sy"),
        F.expr(
            "SUM(CAST(n_chars * n_chars AS DECIMAL(38,12)))"
        ).alias("syy"),
    ).withColumn(
        # GREATEST(...,0): an all-equal stratum's true variance is 0 but
        # the cancellation-prone double expression can land at ~-1e-9 —
        # DuckDB aborts on SQRT(negative) while Spark yields NaN, a
        # crash-vs-value divergence (round-6 self-review finding #2)
        "s_h",
        F.expr(
            "ROUND(SQRT(GREATEST((CAST(syy AS DOUBLE)"
            " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)"
            " / CAST(n_pop AS DOUBLE))"
            " / CAST(n_pop - 1 AS DOUBLE), CAST(0 AS DOUBLE))), 6)"
        ),
    ).withColumn(
        "w_h", F.expr("ROUND(CAST(n_pop AS DOUBLE) * s_h, 6)")
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    alloc = (
        strata.withColumn(
            "w_tot",
            F.expr(
                "CAST(SUM(CAST(w_h AS DECIMAL(38,12))) OVER"
                " (ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED"
                " FOLLOWING) AS DOUBLE)"
            ),
        )
        .withColumn(
            "exact_h", F.expr(f"{budget} * w_h / w_tot")
        )
        .withColumn(
            "floor_h", F.expr("CAST(FLOOR(exact_h) AS BIGINT)")
        )
        .withColumn(
            "rem_h", F.expr("ROUND(exact_h - FLOOR(exact_h), 10)")
        )
        .withColumn("sum_floor", F.sum("floor_h").over(wall))
        .withColumn(
            "rem_rank",
            F.row_number().over(
                Window.orderBy(F.desc("rem_h"), F.asc("lang"))
            ),
        )
        .withColumn(
            "n_alloc",
            F.expr(
                f"floor_h + CASE WHEN rem_rank <= {budget} - sum_floor"
                " THEN 1 ELSE 0 END"
            ),
        )
        .withColumn("n_take", F.expr("LEAST(n_alloc, n_pop)"))
        .select("lang", "n_pop", "s_h", "n_alloc", "n_take")
        .localCheckpoint(eager=False)
    )
    ranked = docs.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("lang").orderBy(
                md5_int(F.col("doc_id").cast("string")), F.col("doc_id")
            )
        ),
    )
    sampled = ranked.join(F.broadcast(alloc), "lang").filter(
        F.col("rn") <= F.col("n_take")
    )
    means = sampled.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.expr(
            "ROUND(CAST(SUM(CAST(n_chars AS DECIMAL(28,12)))"
            " AS DOUBLE) / COUNT(*), 6)"
        ).alias("sample_mean_chars"),
    )
    return (
        alloc.join(means, "lang", "left")
        .select(
            "lang",
            "n_pop",
            "s_h",
            "n_alloc",
            F.coalesce(F.col("n_sampled"), F.lit(0)).alias("n_sampled"),
            "sample_mean_chars",
        )
        .orderBy("lang")
    )


QUERIES.update({"smp_neyman_allocation": smp_neyman_allocation})


def ab_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the id-parity
    arms' purchase values -- the distribution-shape companion to
    ab_mann_whitney_u (U shifts in location; KS sees ANY divergence).
    Identical distributed shape: values bin to cents, ONE groupBy folds
    the corpus to per-distinct-value arm counts, and D = max |F_A - F_B|
    comes off a single cumulative window over that bounded kernel --
    the empirical CDFs are exact integer ratios, rounded to 10 dp
    before the max so both engines pick the same supremum. Also
    reports the scaled statistic D * sqrt(nA*nB/(nA+nB)) that the KS
    tables threshold."""
    ev = load_events(spark, sf_dir)
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.expr("user_id % 2").alias("arm"),
        F.expr("ROUND(value, 2)").alias("v"),
    )
    kern = purch.groupBy("v").agg(
        F.expr("COUNT(CASE WHEN arm = 0 THEN 1 END)").alias("ca"),
        F.expr("COUNT(CASE WHEN arm = 1 THEN 1 END)").alias("cb"),
    )
    wcum = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    steps = (
        kern.withColumn("cuma", F.sum("ca").over(wcum))
        .withColumn("cumb", F.sum("cb").over(wcum))
        .withColumn("n_a", F.sum("ca").over(wall))
        .withColumn("n_b", F.sum("cb").over(wall))
        .withColumn(
            "gap",
            F.expr(
                "ROUND(ABS(CAST(cuma AS DOUBLE) / CAST(n_a AS DOUBLE)"
                " - CAST(cumb AS DOUBLE) / CAST(n_b AS DOUBLE)), 10)"
            ),
        )
    )
    out = steps.groupBy("n_a", "n_b").agg(
        F.expr("ROUND(MAX(gap), 6)").alias("d_stat"),
        F.max("gap").alias("_d_raw"),
    )
    return out.select(
        "n_a",
        "n_b",
        "d_stat",
        F.expr(
            "ROUND(_d_raw * SQRT(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)"
            " / CAST(n_a + n_b AS DOUBLE)), 6)"
        ).alias("d_scaled"),
    )


QUERIES.update({"ab_ks_test": ab_ks_test})


def s7_model_embed_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EMBED_TEXT_768 model lane (02:168-171) executed DISTRIBUTED
    with real tensor math: model_embedder's Arrow-batched pandas UDF runs
    the numpy transformer encoder (functions/minilm.py -- multi-head
    attention, GELU FFN, masked mean pooling; deterministic weights, 768
    dims like e5-base-v2) over a corpus slice, one model construction per
    worker process. The oracle pins the lane's execution contract: row
    coverage per language, exact 768-dim output, unit L2 norm for every
    document. (Semantic quality needs trained weights -- the opt-in
    tests/test_embed_model_real.py lane; SERVING.md documents why the
    real model cannot load in this container.)"""
    from strava_vector_search_spark.functions.embed import model_embedder
    from strava_vector_search_spark.functions.minilm import (
        numpy_model_factory,
    )

    # bounded slice (<=200 docs at any sf): this gate evidences the
    # distributed model lane's CONTRACT — full-corpus embedding throughput
    # belongs to the refresh pipeline (streaming/refresh.py), not a
    # per-round bench where 15 ms/doc of honest attention math would
    # drown every other query's signal
    # repartition AFTER the filter: the sliced rows otherwise inherit the
    # source's single parquet split and one task pays every encode
    # (~180 ms/doc of attention math) serially — measured 44 s -> ~5 s.
    # At real scale the corpus arrives in many splits and this shuffle of
    # a few hundred rows is noise.
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(
            (F.col("doc_id") % 20 == 0)
            & (F.col("doc_id") < 4000)
            & F.col("text").isNotNull()
        )
        .repartition(32)
    )
    embed = model_embedder(model_factory=numpy_model_factory)
    emb = docs.select("lang", embed(F.col("text")).alias("e"))
    per = emb.select(
        "lang",
        F.size("e").alias("dim"),
        F.round(
            F.sqrt(
                F.aggregate(
                    "e",
                    F.lit(0.0),
                    lambda a, x: a + x.cast("double") * x.cast("double"),
                )
            ),
            4,
        ).alias("norm"),
    )
    return (
        per.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("dim").alias("min_dim"),
            F.max("dim").alias("max_dim"),
            F.min("norm").alias("min_norm"),
            F.max("norm").alias("max_norm"),
        )
        .orderBy("lang")
    )


QUERIES.update({"s7_model_embed_contract": s7_model_embed_contract})


def dm_curriculum_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last inch of curriculum ordering (VERDICT r05 stretch): the
    schedule is actually WRITTEN as trainer-consumable parquet and read
    back. Layout: bucket = (pos-1) DIV 100 as a partition directory,
    rows sorted by pos within each bucket's single file -- a trainer
    streams bucket 0, 1, 2, ... and sees the exact global order without
    ever issuing a global sort (the read plan per bucket is one file
    scan). The gate reads the ARTIFACT back and reports per-bucket
    coverage: row count, pos range, and a contiguity flag; the oracle
    recomputes the same rollup from the schedule definition, so any
    write/read corruption (lost rows, split buckets, duplicated pos)
    reds the gate. Physical within-file ordering is pinned separately in
    tests/test_curriculum_write.py (parquet row order vs pos)."""
    chunk = 100

    def _build(tmp: str) -> None:
        sched = dm_curriculum_order(spark, sf_dir).withColumn(
            "bucket", F.expr(f"CAST((pos - 1) DIV {chunk} AS INT)")
        )
        (
            sched.repartition("bucket")
            .sortWithinPartitions("bucket", "pos")
            .write.partitionBy("bucket")
            .parquet(tmp)
        )

    path = _cached_layout(sf_dir, "documents", "curric", _build)
    back = spark.read.parquet(path)
    return (
        back.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("pos").alias("min_pos"),
            F.max("pos").alias("max_pos"),
            F.expr(
                "CAST(CASE WHEN MAX(pos) - MIN(pos) + 1 = COUNT(*)"
                " THEN 1 ELSE 0 END AS INTEGER)"
            ).alias("contiguous"),
        )
        .withColumn("bucket", F.col("bucket").cast("int"))
        .orderBy("bucket")
    )


QUERIES.update({"dm_curriculum_write": dm_curriculum_write})


# shared integer constants for the SPRT gate (python round(ln(...)*1e10) —
# one source of truth injected as literals into BOTH engines, so no
# cross-engine libm/decimal-literal risk ever enters the running sum)
_SPRT_LA = 3364722366       # ln(0.35/0.25) * 1e10  (outcome = 1)
_SPRT_LB = -1431008436      # ln(0.65/0.75) * 1e10  (outcome = 0)
_SPRT_UPPER = 27725887222   # ln((1-beta)/alpha) = ln(0.8/0.05)
_SPRT_LOWER = -15581446180  # ln(beta/(1-alpha)) = ln(0.2/0.95)


def ab_sequential_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential probability ratio test over the event stream -- the
    always-valid A/B monitor that stops the moment the evidence crosses
    a Wald boundary instead of waiting for a fixed horizon. Outcomes
    (value > 50) stream in (ts, event_id) order; the running
    log-likelihood ratio is an EXACT scaled-BIGINT sum of two
    pre-computed integer constants (module literals, same in the
    oracle), accumulated with the two-level range-partitioned running
    sum (operators/order.py) -- the same no-single-partition plan as the
    dm_* global-order gates, because a sequential test at 100 TB is
    exactly a global running sum. Output: the FIRST boundary crossing
    (n, llr, decision), or the final state with decision 'continue' if
    the stream never crosses. Headroom: |term| < 3.4e9, so bigint holds
    ~2.7e9 observations -- partition the test per experiment key beyond
    that."""
    from strava_vector_search_spark.operators.order import (
        attach_global_order,
    )

    ev = load_events(spark, sf_dir)
    us = F.unix_micros(F.col("ts"))
    obs = ev.select(
        us.alias("t_us"),
        "event_id",
        F.expr(
            f"CASE WHEN value > 50 THEN CAST({_SPRT_LA} AS BIGINT)"
            f" ELSE CAST({_SPRT_LB} AS BIGINT) END"
        ).alias("term_s"),
    )
    ranked = attach_global_order(
        obs,
        [F.asc("t_us"), F.asc("event_id")],
        rank_col="n",
        running_sums={"cum": "term_s"},
    )
    flagged = ranked.select(
        "n",
        "cum",
        F.expr(
            f"CASE WHEN cum >= {_SPRT_UPPER} OR cum <= {_SPRT_LOWER}"
            " THEN 1 ELSE 0 END"
        ).alias("is_cross"),
    )
    return (
        flagged.orderBy(
            F.desc("is_cross"),
            F.expr("CASE WHEN is_cross = 1 THEN n ELSE -n END"),
        )
        .limit(1)
        .select(
            "n",
            F.expr(
                "ROUND(CAST(cum AS DOUBLE)"
                " / CAST(10000000000 AS DOUBLE), 6)"
            ).alias("llr"),
            F.expr(
                f"CASE WHEN cum >= {_SPRT_UPPER} THEN 'accept_h1'"
                f" WHEN cum <= {_SPRT_LOWER} THEN 'accept_h0'"
                " ELSE 'continue' END"
            ).alias("decision"),
        )
    )


QUERIES.update({"ab_sequential_sprt": ab_sequential_sprt})


def a26_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median without ranking rows: the Mann-Whitney
    distinct-value recipe applied to an aggregate -- lineitem quantity
    weighted by revenue folds to the |distinct quantities|-bounded
    kernel (one partial-combined aggregate), the cumulative-weight walk
    runs over that bounded table, and the weighted median is the
    smallest value whose cumulative weight reaches half the total.
    All comparisons in exact DECIMAL; no doubles until the readout."""
    li = load_table(spark, sf_dir, "lineitem")
    kern = li.groupBy(
        F.col("l_quantity").cast("bigint").alias("qty")
    ).agg(
        F.expr(
            "SUM(CAST(l_extendedprice AS DECIMAL(28,2)))"
        ).alias("w")
    )
    wcum = Window.orderBy("qty").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    walk = kern.withColumn("cumw", F.sum("w").over(wcum)).withColumn(
        "totw", F.sum("w").over(wall)
    )
    hit = walk.filter(
        F.expr("cumw * 2 >= totw")
    )
    return (
        hit.orderBy("qty")
        .limit(1)
        .select(
            F.col("qty").alias("weighted_median_qty"),
            F.expr("CAST(totw AS DOUBLE)").alias("total_weight"),
            F.expr(
                "ROUND(CAST(cumw AS DOUBLE) / CAST(totw AS DOUBLE), 6)"
            ).alias("cum_share_at_median"),
        )
    )


QUERIES.update({"a26_weighted_median": a26_weighted_median})


def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the TPC-H spine: orphaned
    children per FK edge (lineitem->orders, orders->customer) via
    LEFT ANTI joins -- at scale each is one broadcast- or
    shuffle-hash anti join that AQE picks by parent size, and the
    child table is scanned once per edge with only the key column
    read. Output one row per relation: child rows, orphans, orphan
    ppm (exact integer arithmetic until the readout)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")

    def _edge(name, child, key, parent, pkey):
        n = child.select(F.col(key)).count()
        orphans = (
            child.select(F.col(key).alias("_k"))
            .join(
                parent.select(F.col(pkey).alias("_k")),
                "_k",
                "left_anti",
            )
            .count()
        )
        return spark.createDataFrame(
            [(name, n, orphans)],
            "relation string, n_child bigint, n_orphans bigint",
        )
    a = _edge("lineitem->orders", li, "l_orderkey", orders, "o_orderkey")
    b = _edge("orders->customer", orders, "o_custkey", cust, "c_custkey")
    return (
        a.unionByName(b)
        .select(
            "relation",
            "n_child",
            "n_orphans",
            F.expr(
                "CAST(ROUND(CAST(n_orphans AS DOUBLE)"
                " / CAST(n_child AS DOUBLE) * 1000000, 0) AS BIGINT)"
            ).alias("orphan_ppm"),
        )
        .orderBy("relation")
    )


QUERIES.update({"dq_referential_integrity": dq_referential_integrity})


def dm_source_token_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token budgeting: within each source, documents are
    admitted best-quality-first while that source's running token total
    stays under a 5000-token cap -- the per-domain mixing cap a
    pretraining pipeline applies before the global mix. All windows are
    PARTITIONED by source (never global), so the plan scales as one
    source-keyed shuffle however many sources exist; contrast
    dm_budget_select, whose single global budget needs the two-level
    rank. Output per source: admitted docs, tokens used, utilization."""
    from strava_vector_search_spark.functions import text as T

    cap = 5000
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        T.quality_score(F.col("text")).alias("quality"),
        T.token_count(F.col("text")).alias("n_tok"),
    )
    wrun = (
        Window.partitionBy("source")
        .orderBy(F.desc("quality"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    admitted = docs.withColumn(
        "cum_tok", F.sum(F.col("n_tok").cast("bigint")).over(wrun)
    ).filter(F.col("cum_tok") <= cap)
    return (
        admitted.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_admitted"),
            F.max("cum_tok").alias("tokens_used"),
        )
        .select(
            "source",
            "n_admitted",
            "tokens_used",
            F.expr(
                f"ROUND(CAST(tokens_used AS DOUBLE)"
                f" / CAST({cap} AS DOUBLE), 6)"
            ).alias("utilization"),
        )
        .orderBy("source")
    )


QUERIES.update({"dm_source_token_caps": dm_source_token_caps})


def dq_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-profile drift between two corpus halves (doc_id parity
    standing in for crawl snapshots): per-column profile metrics --
    row count, null rate, exact DECIMAL-routed mean, min/max, distinct
    count -- computed for both halves in ONE conditional aggregate over
    one corpus scan (no per-half scan, no join), then unpivoted to one
    row per metric with the absolute drift. The shape monitoring stacks
    run nightly: columnar profile deltas, not row diffs."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "par", F.expr("CAST(doc_id % 2 AS INT)")
    )
    prof = docs.agg(
        F.expr("CAST(COUNT(CASE WHEN par = 0 THEN 1 END) AS DOUBLE)").alias(
            "rows_a"
        ),
        F.expr("CAST(COUNT(CASE WHEN par = 1 THEN 1 END) AS DOUBLE)").alias(
            "rows_b"
        ),
        F.expr(
            "ROUND(CAST(COUNT(CASE WHEN par = 0 AND n_chars IS NULL"
            " THEN 1 END) AS DOUBLE)"
            " / CAST(COUNT(CASE WHEN par = 0 THEN 1 END) AS DOUBLE), 6)"
        ).alias("null_a"),
        F.expr(
            "ROUND(CAST(COUNT(CASE WHEN par = 1 AND n_chars IS NULL"
            " THEN 1 END) AS DOUBLE)"
            " / CAST(COUNT(CASE WHEN par = 1 THEN 1 END) AS DOUBLE), 6)"
        ).alias("null_b"),
        F.expr(
            "ROUND(CAST(SUM(CASE WHEN par = 0 THEN"
            " CAST(n_chars AS DECIMAL(28,6)) END) AS DOUBLE)"
            " / COUNT(CASE WHEN par = 0 THEN n_chars END), 6)"
        ).alias("mean_a"),
        F.expr(
            "ROUND(CAST(SUM(CASE WHEN par = 1 THEN"
            " CAST(n_chars AS DECIMAL(28,6)) END) AS DOUBLE)"
            " / COUNT(CASE WHEN par = 1 THEN n_chars END), 6)"
        ).alias("mean_b"),
        F.expr(
            "CAST(MIN(CASE WHEN par = 0 THEN n_chars END) AS DOUBLE)"
        ).alias("min_a"),
        F.expr(
            "CAST(MIN(CASE WHEN par = 1 THEN n_chars END) AS DOUBLE)"
        ).alias("min_b"),
        F.expr(
            "CAST(MAX(CASE WHEN par = 0 THEN n_chars END) AS DOUBLE)"
        ).alias("max_a"),
        F.expr(
            "CAST(MAX(CASE WHEN par = 1 THEN n_chars END) AS DOUBLE)"
        ).alias("max_b"),
        F.expr(
            "CAST(COUNT(DISTINCT CASE WHEN par = 0 THEN lang END)"
            " AS DOUBLE)"
        ).alias("ndv_a"),
        F.expr(
            "CAST(COUNT(DISTINCT CASE WHEN par = 1 THEN lang END)"
            " AS DOUBLE)"
        ).alias("ndv_b"),
    )
    unp = prof.select(
        F.expr(
            "stack(6,"
            " 'rows', rows_a, rows_b,"
            " 'n_chars_null_rate', null_a, null_b,"
            " 'n_chars_mean', mean_a, mean_b,"
            " 'n_chars_min', min_a, min_b,"
            " 'n_chars_max', max_a, max_b,"
            " 'lang_ndv', ndv_a, ndv_b"
            ") AS (metric, val_a, val_b)"
        )
    )
    return unp.select(
        "metric",
        "val_a",
        "val_b",
        F.expr("ROUND(ABS(val_a - val_b), 6)").alias("abs_drift"),
    ).orderBy("metric")


QUERIES.update({"dq_profile_drift": dq_profile_drift})


def g_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous majority-vote label propagation
    (3 unrolled rounds) over the part co-order graph (the g_kcore /
    g_triangle_count edge kernel, w>=2). Every round is ONE edge-labels
    join + ONE (node, label) vote count + a per-node rank window --
    deterministic because ties break (votes DESC, label ASC), so both
    engines converge identically. Iterative-Spark hygiene: labels are
    localCheckpoint'ed per round (the PageRank/CC lineage rule). Unlike
    dd_connected_components (min-label fixpoint = exact components), LPA
    finds DENSE communities inside a component; the oracle replays the
    same 3 rounds as unrolled MATERIALIZED CTEs. Output: top-20
    communities by size. Edge kernel shared via :func:`_co_order_edges`
    (one build serves kcore/triangle/LPA)."""
    e = _co_order_edges(spark, sf_dir)
    und = e.unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=False)
    labels = und.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    ).localCheckpoint(eager=False)
    wpick = Window.partitionBy("node").orderBy(
        F.desc("votes"), F.asc("lbl")
    )
    for _ in range(3):
        votes = (
            und.join(labels, und["v"] == labels["node"])
            .select(F.col("u").alias("node2"), "lbl")
            .groupBy(F.col("node2").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).alias("votes"))
        )
        labels = (
            votes.withColumn("rk", F.row_number().over(wpick))
            .filter(F.col("rk") == 1)
            .select("node", "lbl")
            .localCheckpoint(eager=False)
        )
    return (
        labels.groupBy("lbl")
        .agg(F.count(F.lit(1)).alias("community_size"))
        .orderBy(F.desc("community_size"), F.asc("lbl"))
        .limit(20)
        .select(F.col("lbl").alias("community_label"), "community_size")
    )


QUERIES.update({"g_label_propagation": g_label_propagation})


def a27_group_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group nearest-rank percentiles (p50/p90/p99 of event
    value per event type) WITHOUT ranking rows: the corpus folds to the
    per-(type, distinct value) kernel in one partial-combined aggregate;
    the cumulative walk and the percentile picks run over that bounded
    kernel with windows PARTITIONED by type. The rank condition is pure
    integer arithmetic (100*cum >= p*n, exact for integer cum -- no
    ceil-of-double), so the result is bit-deterministic at any scale."""
    ev = load_events(spark, sf_dir)
    kern = (
        ev.filter(F.col("value").isNotNull())
        .groupBy("event_type", F.col("value").cast("double").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    walk = kern.withColumn("cum", F.sum("c").over(wcum)).withColumn(
        "n", F.sum("c").over(wall)
    )
    percs = spark.createDataFrame([(50,), (90,), (99,)], "pct int")
    return (
        walk.crossJoin(F.broadcast(percs))
        .filter(F.expr("100 * cum >= pct * n"))
        .groupBy("event_type", "pct")
        .agg(
            F.max("n").alias("n_values"),
            F.round(F.min("v"), 6).alias("value_at_pct"),
        )
        .orderBy("event_type", "pct")
    )


QUERIES.update({"a27_group_percentiles": a27_group_percentiles})


def g_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (random walk with restart) over the
    customer<->supplier trade graph: the restart mass is pinned to a seed
    cohort (customers with custkey % 100 == 0), so rank measures
    PROXIMITY to the cohort rather than global authority (g_pagerank) --
    the recommendation / local-community kernel. 4 iterations of the
    exact fixed-point integer recurrence (operators/graph.py: one join +
    one partial-combined aggregate per iteration, scaled-BIGINT
    arithmetic, bit-reproducible under any partitioning; the DuckDB
    oracle unrolls it bit-for-bit). Output: top-20 NON-seed nodes --
    'which suppliers/customers sit closest to this cohort'."""
    from strava_vector_search_spark.operators.graph import (
        personalized_pagerank_fixedpoint,
    )

    prep = _trade_graph_prep(spark, sf_dir)
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    seeds = (
        o.filter(F.col("o_custkey") % 100 == 0)
        .select(F.concat(F.lit("c"), F.col("o_custkey")).alias("node"))
        .distinct()
    )
    ranks = personalized_pagerank_fixedpoint(
        None, seeds, iterations=4, prepared=prep
    )
    return (
        ranks.filter(F.col("is_seed") == 0)
        .select(
            "node",
            F.round(
                F.col("rank_fp").cast("double") / F.lit(1000000.0), 6
            ).alias("rank"),
        )
        .orderBy(F.col("rank").desc(), F.col("node").asc())
        .limit(20)
    )


QUERIES.update({"g_ppr": g_ppr})


def ab_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-corrected Spearman rank correlation of line-item quantity
    vs extended price WITHOUT ranking rows and WITHOUT a single-partition
    window: each column folds to its distinct-value kernel (one
    partial-combined aggregate -- the Mann-Whitney/KS kernel trick), the
    kernel's cumulative counts come from the two-level range-partitioned
    global order (operators/order.attach_global_order -- zero Exchange
    SinglePartition), and the Pearson-on-ranks moments accumulate over the
    JOINT distinct kernel in exact DECIMAL. Doubled centered average
    ranks are exact integers: avg ranks are half-integers whose mean is
    exactly (N+1)/2, so d2 = 2*cum - c - N and rho's numerator/denominator
    sums are order-insensitive integers; the only floating point is the
    final rho expression, whose text the DuckDB oracle shares."""
    from strava_vector_search_spark.operators.order import (
        attach_global_order,
    )

    rows = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_quantity").cast("double").alias("x"),
            F.col("l_extendedprice").cast("double").alias("y"),
        )
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
        .localCheckpoint(eager=False)
    )

    def _rank_kernel(col: str) -> DataFrame:
        kern = rows.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        # N is the CORPUS row count (sum of kernel counts), not the kernel
        # row count — a 1-row broadcast over the bounded kernel, never a
        # corpus-side scan
        n_tot = kern.agg(F.sum("c").alias("n_tot"))
        ranked = attach_global_order(
            kern,
            [F.col(col)],
            rank_col=None,
            running_sums={"cum": "c"},
        )
        return ranked.crossJoin(F.broadcast(n_tot)).select(
            col,
            (
                F.lit(2) * F.col("cum") - F.col("c") - F.col("n_tot")
            ).alias(f"d2{col}"),
        )

    joint = rows.groupBy("x", "y").agg(F.count(F.lit(1)).alias("cj"))
    j = joint.join(_rank_kernel("x"), "x").join(_rank_kernel("y"), "y")
    cj = F.col("cj").cast("decimal(12,0)")
    d2x = F.col("d2x").cast("decimal(13,0)")
    d2y = F.col("d2y").cast("decimal(13,0)")
    m = j.agg(
        F.sum("cj").alias("n_rows"),
        F.sum(cj * d2x * d2y).cast("double").alias("sxy"),
        F.sum(cj * d2x * d2x).cast("double").alias("sxx"),
        F.sum(cj * d2y * d2y).cast("double").alias("syy"),
    )
    return m.select(
        "n_rows",
        F.expr("ROUND(sxy / SQRT(sxx * syy), 6)").alias("spearman_rho"),
    )


QUERIES.update({"ab_spearman_corr": ab_spearman_corr})


def ml_uplift_tlearner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-model (T-learner) uplift estimation at normal-equations cost:
    a deterministic hash split assigns pseudo-treatment, ONE grouped
    moment aggregate fits BOTH arms' linear probes (the per-arm Gram rows
    share the scan; operators/linear.py), the two 6-dp coefficient sets
    pivot into a single broadcast row, and one scoring pass emits
    tau(x) = f1(x) - f0(x) averaged per true-label segment (exact: per-row
    uplift rounded to 10 dp then DECIMAL-accumulated -- the repo's
    order-insensitive double-sum contract). Same Cramer expression text
    as every probe gate, evaluated once per arm."""
    from strava_vector_search_spark.operators import linear as L
    from strava_vector_search_spark.operators.dedup import md5_int

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    feats = emb.select(
        F.round(F.col("embedding")[0].cast("double"), 6).alias("x1"),
        F.round(F.col("embedding")[1].cast("double"), 6).alias("x2"),
        F.coalesce((F.col("label") == 0).cast("int"), F.lit(0))
        .cast("double")
        .alias("y"),
        F.pmod(md5_int(F.col("vec_id").cast("string")), F.lit(2)).alias(
            "treat"
        ),
        F.coalesce(F.col("label"), F.lit(-1)).alias("label_segment"),
    ).localCheckpoint(eager=False)

    mom = feats.groupBy("treat").agg(*L._moment_agg_cols())
    md = mom.select(
        "treat",
        "n",
        *[F.col(c).cast("double").alias(c) for c in L.MOMENT_COLS],
    ).withColumn("n_d", F.col("n").cast("double"))
    for name, text in L.DET_EXPRS.items():
        md = md.withColumn(name, F.expr(text))
    coef = md.select(
        "treat",
        F.round(F.expr("det0 / det"), 6).alias("b0"),
        F.round(F.expr("det1 / det"), 6).alias("b1"),
        F.round(F.expr("det2 / det"), 6).alias("b2"),
    )
    piv = coef.agg(
        *[
            F.max(F.when(F.col("treat") == t, F.col(b))).alias(f"{p}{b}")
            for t, p in ((1, "t"), (0, "c"))
            for b in ("b0", "b1", "b2")
        ]
    )
    scored = feats.crossJoin(F.broadcast(piv)).withColumn(
        "uplift",
        F.expr("(tb0 + tb1 * x1 + tb2 * x2) - (cb0 + cb1 * x1 + cb2 * x2)"),
    )
    return (
        scored.groupBy("label_segment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("treat")).cast("double") / F.count(F.lit(1)), 6
            ).alias("treated_frac"),
            F.round(
                F.sum(
                    F.expr("cast(round(uplift, 10) as decimal(38,12))")
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_uplift"),
        )
        .orderBy("label_segment")
    )


QUERIES.update({"ml_uplift_tlearner": ml_uplift_tlearner})


def dd_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination via a Bloom-filter membership probe instead of the
    broadcast semi-join (dd_decontaminate): the eval set's distinct
    3-gram shingles fold into a FIXED 16384-bit filter (512 32-bit words,
    one map-side-combined bit_or aggregate -- constant size however large
    the reference set grows), and the corpus side is a map-only probe
    against the broadcast words. Zero false negatives by construction;
    false positives are deterministic (portable md5 bit positions), so
    the DuckDB oracle reproduces the verdicts bit-for-bit, FPs included.
    operators/bloom.py documents when to prefer this over the exact
    semi-join at 100 TB."""
    from strava_vector_search_spark.operators.bloom import probe_membership

    sh = _doc_shingles(spark, sf_dir)
    # one filter build per session serves the whole dd_bloom_* trio
    # (VERDICT r12 item 5); the probe below is untouched
    filt = _bloom_eval_filter(spark, sf_dir)
    corpus = sh.filter(F.col("doc_id") % 41 != 0).select(
        "doc_id",
        F.size("_sh").alias("n_sh"),
        F.explode("_sh").alias("s"),
    )
    flags = probe_membership(corpus, "s", filt)
    frac = F.round(
        F.col("n_bloom_hits").cast("double") / F.col("n_sh"), 6
    )
    return (
        flags.groupBy("doc_id")
        .agg(
            F.max("n_sh").alias("n_sh"),
            F.sum(F.col("maybe_member").cast("int"))
            .cast("bigint")
            .alias("n_bloom_hits"),
        )
        .select(
            "doc_id",
            "n_sh",
            "n_bloom_hits",
            frac.alias("bloom_frac"),
            (frac >= 0.1).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


QUERIES.update({"dd_bloom_decontaminate": dd_bloom_decontaminate})


def ml_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over order baskets with the Apriori
    frequency prune: item supports aggregate first (one pass), only
    frequent items (support >= max(5, |baskets|/500)) enter the
    within-basket self-join, so candidate pairs are bounded by frequent
    per-basket degree squared -- never the item-pair cross product -- and
    the pair aggregate shuffles only surviving (a, b) keys. Rules emit in
    both directions with confidence and lift from the SAME division text
    both engines compile. Top-20 by lift."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint(eager=False)
    )
    stats = li.agg(F.countDistinct("l_orderkey").alias("n_baskets"))
    item = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("s_i"))
    freq = (
        item.crossJoin(F.broadcast(stats))
        .filter(F.expr("s_i >= greatest(5, n_baskets DIV 500)"))
        .select("l_partkey", "s_i")
        .localCheckpoint(eager=False)
    )
    fi = li.join(freq, "l_partkey").select(
        "l_orderkey", "l_partkey", "s_i"
    )
    a, b = fi.alias("a"), fi.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"),
            F.col("b.l_partkey").alias("pb"),
            F.col("a.s_i").alias("sa"),
            F.col("b.s_i").alias("sb"),
        )
        .agg(F.count(F.lit(1)).alias("s_ab"))
    )
    rules = pair.select(
        F.col("pa").alias("antecedent"),
        F.col("pb").alias("consequent"),
        "s_ab",
        F.col("sa").alias("s_ante"),
        F.col("sb").alias("s_cons"),
    ).unionAll(
        pair.select(
            F.col("pb").alias("antecedent"),
            F.col("pa").alias("consequent"),
            "s_ab",
            F.col("sb").alias("s_ante"),
            F.col("sa").alias("s_cons"),
        )
    )
    return (
        rules.crossJoin(F.broadcast(stats))
        .select(
            "antecedent",
            "consequent",
            F.col("s_ab").alias("support_pair"),
            F.col("s_ante").alias("support_ante"),
            F.col("s_cons").alias("support_cons"),
            F.expr(
                "ROUND(CAST(s_ab AS DOUBLE) / CAST(s_ante AS DOUBLE), 6)"
            ).alias("confidence"),
            # factors cast to DOUBLE before multiplying: BIGINT
            # products of corpus-scale supports would wrap silently in
            # Spark (and error in DuckDB) past 2^63
            F.expr(
                "ROUND((CAST(s_ab AS DOUBLE) * CAST(n_baskets AS DOUBLE))"
                " / (CAST(s_ante AS DOUBLE) * CAST(s_cons AS DOUBLE)), 6)"
            ).alias("lift"),
        )
        .orderBy(
            F.desc("lift"),
            F.desc("confidence"),
            F.asc("antecedent"),
            F.asc("consequent"),
        )
        .limit(20)
    )


QUERIES.update({"ml_assoc_rules": ml_assoc_rules})


def mm_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection for multimodal payloads:
    a 64-position average-hash grid sampled evenly across the payload
    (value > mean -> bit set), the 64 bits split into 4 x 16-bit BAND
    keys, candidates found by band-bucket equality join (the LSH-banding
    shape -- never all pairs), exact 64-bit Hamming verify on candidates
    only. Everything up to the band explode is ONE codegen expression
    per row (no Python). The 'pixel' sampler reads characters of the
    text payload because this container ships no image codecs
    (operators/multimodal.py documents the real_decoder seam); a real
    deployment swaps the sampler for decoded grayscale pixels and keeps
    the banding + verify stages unchanged."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .select("doc_id", "text", F.length("text").alias("n"))
    )
    vals = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        # 64-bit position arithmetic: INT i*n wraps for >34M-char docs
        lambda i: F.ascii(
            F.col("text").substr(
                (
                    (i.cast("bigint") * F.col("n").cast("bigint"))
                    / F.lit(64)
                ).cast("int")
                + 1,
                F.lit(1),
            )
        ),
    )
    g = docs.select("doc_id", vals.alias("vals")).withColumn(
        "total",
        F.aggregate(
            F.col("vals"), F.lit(0).cast("bigint"), lambda a, x: a + x
        ),
    )
    bits = F.transform(
        F.col("vals"),
        lambda v: (v.cast("bigint") * 64 > F.col("total")).cast("int"),
    )
    gb = g.select("doc_id", bits.alias("bits")).localCheckpoint(
        eager=False
    )
    pow2 = lit_long_array([1 << j for j in range(16)])
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(3)),
        lambda b: F.aggregate(
            F.sequence(F.lit(0), F.lit(15)),
            F.lit(0).cast("bigint"),
            lambda acc, j: acc
            + F.element_at(F.col("bits"), (b * 16 + j + 1).cast("int")).cast(
                "bigint"
            )
            * F.element_at(pow2, (j + 1).cast("int")),
        ),
    )
    br = gb.select(
        "doc_id", F.posexplode(bands).alias("band", "bval")
    )
    x, yb = br.alias("x"), br.alias("y")
    cand = (
        x.join(
            yb,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bval") == F.col("y.bval"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    ba = gb.select(
        F.col("doc_id").alias("doc_a"), F.col("bits").alias("bits_a")
    )
    bb = gb.select(
        F.col("doc_id").alias("doc_b"), F.col("bits").alias("bits_b")
    )
    ham = F.aggregate(
        F.zip_with(
            F.col("bits_a"),
            F.col("bits_b"),
            lambda p, q: (p != q).cast("int"),
        ),
        F.lit(0),
        lambda acc, d: acc + d,
    )
    return (
        cand.join(ba, "doc_a")
        .join(bb, "doc_b")
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= 16)
        .orderBy("hamming", "doc_a", "doc_b")
        .limit(50)
    )


QUERIES.update({"mm_phash_near_dup": mm_phash_near_dup})


def ab_bayesian_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Bayesian A/B readout P(rate_B > rate_A) under Beta(1+conv,
    1+n-conv) posteriors, computed WITHOUT any incomplete-beta library:
    for integer parameters the closed-form series
    P = sum_i exp(lnB(aA+i, bA+bB) - ln(bB+i) - lnB(1+i, bB) - lnB(aA, bA))
    needs only log-factorials, and ln(k!) comes from ONE running sum of
    ln(k) over an ordered integer series -- both engines fold the
    identical sequence in the identical order, so every lgamma value is
    bit-equal. Series terms are rounded to 12 dp then DECIMAL-accumulated
    (the order-insensitive double-sum contract). Scope note: the exact
    series is the SMALL-SAMPLE tool (this corpus's full user population
    IS small-sample, the regime where z-tests misbehave); at huge n the
    z-test gate (ab_proportion_ztest) is the right readout and this
    one's series length (conv_b terms) would be the wrong shape. The
    lgamma table is |users|-bounded, carried as ONE array row,
    broadcast."""
    ev = load_events(spark, sf_dir)
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("value") > 180.0),
                    1,
                ).otherwise(0)
            ).alias("converted")
        )
    )
    agg = (
        per_user.select(F.expr("user_id % 2").alias("arm"), "converted")
        .groupBy()
        .agg(
            F.sum(F.expr("CASE WHEN arm = 0 THEN 1 ELSE 0 END")).alias("n_a"),
            F.sum(
                F.expr("CASE WHEN arm = 0 THEN converted ELSE 0 END")
            ).alias("conv_a"),
            F.sum(F.expr("CASE WHEN arm = 1 THEN 1 ELSE 0 END")).alias("n_b"),
            F.sum(
                F.expr("CASE WHEN arm = 1 THEN converted ELSE 0 END")
            ).alias("conv_b"),
        )
    )
    pars = agg.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        (F.col("conv_a") + 1).alias("aa"),
        (F.col("n_a") - F.col("conv_a") + 1).alias("ba"),
        (F.col("conv_b") + 1).alias("ab_"),
        (F.col("n_b") - F.col("conv_b") + 1).alias("bb"),
    ).localCheckpoint(eager=False)
    # ln(k!) for k = 0..maxn as ONE ordered running sum; the series table
    # is cohort-bounded (documented), so the single-partition window walks
    # thousands of rows, never the corpus
    kser = pars.select(
        F.explode(
            F.sequence(
                F.lit(0), F.col("aa") + F.col("ba") + F.col("ab_") + F.col("bb")
            )
        ).alias("k")
    )
    wk = Window.orderBy("k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    lfact = kser.withColumn(
        "lf",
        F.sum(
            F.when(F.col("k") >= 2, F.log(F.col("k").cast("double")))
            .otherwise(F.lit(0.0))
        ).over(wk),
    )
    arr_row = lfact.groupBy().agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("k"), F.col("lf")))
            ),
            lambda s: s["lf"],
        ).alias("arr")
    )
    series = pars.crossJoin(F.broadcast(arr_row)).select(
        "*", F.explode(F.sequence(F.lit(0), F.col("ab_") - 1)).alias("i")
    )
    # element_at is 1-based and arr[pos] = ln((pos-1)!), so
    # lnB(x, y) = arr[x] + arr[y] - arr[x + y]   with x,y >= 1
    ln_term = (
        "(element_at(arr, cast(aa + i as int))"
        " + element_at(arr, cast(ba + bb as int))"
        " - element_at(arr, cast(aa + i + ba + bb as int)))"
        " - LN(CAST(bb + i AS DOUBLE))"
        " - (element_at(arr, cast(1 + i as int))"
        " + element_at(arr, cast(bb as int))"
        " - element_at(arr, cast(1 + i + bb as int)))"
        " - (element_at(arr, cast(aa as int))"
        " + element_at(arr, cast(ba as int))"
        " - element_at(arr, cast(aa + ba as int)))"
    )
    return (
        series.withColumn("term", F.expr(f"EXP({ln_term})"))
        .groupBy("n_a", "conv_a", "n_b", "conv_b")
        .agg(
            F.round(
                F.sum(
                    F.expr("cast(round(term, 12) as decimal(38,18))")
                ).cast("double"),
                6,
            ).alias("prob_b_beats_a")
        )
    )


QUERIES.update({"ab_bayesian_beta": ab_bayesian_beta})


def g_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities over the bipartite customer->supplier
    trade graph (customers = hubs, suppliers = authorities), 2 unrolled
    iterations of the exact fixed-point integer recurrence: each half-step
    is ONE join + ONE partial-combined aggregate (the g_pagerank shape),
    and normalization is integer sum-scaling
    (x * ~scale/total via x DIV greatest(total DIV scale, 1)) so every
    score stays a bounded BIGINT and the DuckDB oracle replays the run
    bit-for-bit -- floating-point HITS cannot promise that (Kleinberg
    1999 is the public method). Output: top-10 authorities and top-10
    hubs, role-labelled."""
    e = _trade_pairs(spark, sf_dir).select(
        F.col("c").alias("hub"), F.col("s").alias("auth")
    )
    scale = 1_000_000
    h = e.select("hub").distinct().withColumn(
        "hs", F.lit(scale).cast("bigint")
    )

    def _norm(df: DataFrame, col: str) -> DataFrame:
        tot = df.agg(
            F.expr(f"greatest(sum({col}) DIV {scale}, 1L)").alias("_d")
        )
        return df.crossJoin(F.broadcast(tot)).select(
            *[c for c in df.columns if c != col],
            F.expr(f"{col} DIV _d").alias(col),
        )

    for _ in range(2):
        a = _norm(
            e.join(h, "hub")
            .groupBy("auth")
            .agg(F.sum("hs").alias("as_")),
            "as_",
        ).localCheckpoint(eager=False)
        h = _norm(
            e.join(a, "auth")
            .groupBy("hub")
            .agg(F.sum("as_").alias("hs")),
            "hs",
        ).localCheckpoint(eager=False)
    top_a = (
        a.select(
            F.lit("authority").alias("role"),
            F.col("auth").alias("node"),
            F.round(F.col("as_").cast("double") / scale, 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("node"))
        .limit(10)
    )
    top_h = (
        h.select(
            F.lit("hub").alias("role"),
            F.col("hub").alias("node"),
            F.round(F.col("hs").cast("double") / scale, 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("node"))
        .limit(10)
    )
    return top_a.unionAll(top_h).orderBy(
        "role", F.desc("score"), F.asc("node")
    )


QUERIES.update({"g_hits": g_hits})


def ann_ivf_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with the physical index layout MATERIALIZED: embeddings
    written cluster-partitioned (operators/ann.write_ivf_index -- the
    layout ann_ivf_topk's docstring and SCALE.md promise), so the probe
    filter lands in the scan as PartitionFilters and the skipped
    k - nprobe clusters are never READ, not merely filtered (PLANS.md
    asserts the executed scan). The probe list is a |clusters|-bounded
    driver computation (the centroid-table class); ranking contract and
    oracle are identical to ann_ivf_topk. Layout cached under the
    fingerprinted /tmp generation protocol (_cached_layout)."""
    from strava_vector_search_spark.operators.ann import (
        compute_centroids,
        write_ivf_index,
    )
    from strava_vector_search_spark.functions.vector import (
        cosine_similarity_rounded,
    )
    from strava_vector_search_spark.operators.search import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")

    def _build(tmp: str) -> None:
        write_ivf_index(emb, tmp)

    path = _cached_layout(sf_dir, "embeddings", "ivfpart", _build)
    part = spark.read.parquet(path)
    qv = _query_vec(spark, sf_dir, 11)
    qcol = lit_double_array(qv)
    probes = [
        r["cluster"]
        for r in compute_centroids(emb)
        .withColumn("cdist", cosine_similarity_rounded(F.col("centroid"), qcol))
        .orderBy(F.desc("cdist"), F.asc("cluster"))
        .limit(2)
        .collect()
    ]
    cand = part.filter(F.col("label").isin(probes))
    out = brute_force_topk(cand, qv, k=10, id_col="vec_id")
    return out.select(
        "vec_id", F.col("label").cast("int").alias("label"), "similarity"
    )


QUERIES.update({"ann_ivf_partition_pruned": ann_ivf_partition_pruned})


def tx_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-corpus novelty scoring -- for each document, the fraction
    of its distinct 3-gram shingles appearing for the FIRST time in the
    corpus order (min doc_id owns the shingle). The curation signal
    behind dedup-aware data valuation: a low-novelty doc restates earlier
    data. Two aggregates and one doc-keyed left join -- the shingle
    strings shuffle ONCE for the global min and never join back (novel
    counts come from grouping the firsts table by its owner doc), so the
    expensive key space moves exactly one time at any corpus size."""
    sh = _doc_shingles(spark, sf_dir)
    sz = sh.select("doc_id", F.size("_sh").alias("n_sh"))
    rows = sh.select("doc_id", F.explode("_sh").alias("s"))
    firsts = rows.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    nov = firsts.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_novel")
    )
    return (
        sz.join(nov, "doc_id", "left")
        .select(
            "doc_id",
            "n_sh",
            F.coalesce(F.col("n_novel"), F.lit(0)).alias("n_novel"),
            F.round(
                F.coalesce(F.col("n_novel"), F.lit(0)) / F.col("n_sh"), 6
            ).alias("novelty_frac"),
        )
        .orderBy("doc_id")
    )


QUERIES.update({"tx_ngram_novelty": tx_ngram_novelty})


def ev_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves: users grouped by first-seen week, cumulative
    purchase value per cohort member as the cohort ages -- the
    retention-economics readout (and the curation shape for 'value of
    data by acquisition wave'). Corpus work is two partial-combined
    aggregates (per-user first event; per (user-week) purchase value);
    the cumulative walk runs over the bounded (cohort x age) grid with a
    window PARTITIONED by cohort. Value sums are DECIMAL-routed
    (order-insensitive), divided once per grid row."""
    ev = load_events(spark, sf_dir)
    first = ev.groupBy("user_id").agg(
        F.expr("MIN(unix_micros(ts) DIV 604800000000)").alias("cw")
    )
    n_users = first.groupBy("cw").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    pur = (
        ev.filter(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        )
        .groupBy(
            "user_id",
            F.expr("unix_micros(ts) DIV 604800000000").alias("w"),
        )
        .agg(
            F.sum(
                F.expr("cast(round(value, 2) as decimal(18,2))")
            ).alias("rev")
        )
    )
    grid = (
        pur.join(first, "user_id")
        .groupBy("cw", (F.col("w") - F.col("cw")).alias("age_weeks"))
        .agg(F.sum("rev").alias("rev"))
    )
    wcum = (
        Window.partitionBy("cw")
        .orderBy("age_weeks")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.withColumn("cum_rev", F.sum("rev").over(wcum))
        .join(n_users, "cw")
        .select(
            F.col("cw").alias("cohort_week"),
            "age_weeks",
            "n_users",
            F.round(
                F.col("cum_rev").cast("double") / F.col("n_users"), 6
            ).alias("avg_cum_ltv"),
        )
        .orderBy("cohort_week", "age_weeks")
    )


QUERIES.update({"ev_cohort_ltv": ev_cohort_ltv})


def dd_bloom_prefilter_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-stage admission design the Bloom module promises: the
    map-only Bloom probe PREFILTERS corpus shingles (definite non-members
    never reach a join — at a 1% eval-overlap corpus that is ~99% of the
    join input gone), and only maybe-hits enter the exact broadcast
    semi-join verify. Zero false negatives means the output is IDENTICAL
    to the pure-exact dd_decontaminate (the oracle is literally reused);
    what changes is the plan: the expensive stage's input is cut by the
    true-negative fraction. Per-doc hit counts then need the maybe rows
    only -- non-members contribute 0 by construction."""
    from strava_vector_search_spark.operators.bloom import probe_membership

    sh = _doc_shingles(spark, sf_dir)
    # shared session kernels: the checkpointed eval key set (this gate's
    # exact-verify side) and the filter built over it (VERDICT r12 item 5)
    ev_keys = _bloom_eval_keys(spark, sf_dir)
    filt = _bloom_eval_filter(spark, sf_dir)
    corpus = sh.filter(F.col("doc_id") % 41 != 0).select(
        "doc_id", F.explode("_sh").alias("s")
    )
    maybes = probe_membership(corpus, "s", filt).filter(
        F.col("maybe_member")
    )
    verified = maybes.join(F.broadcast(ev_keys), "s", "left_semi")
    hits = verified.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    sz = sh.filter(F.col("doc_id") % 41 != 0).select(
        "doc_id", F.size("_sh").alias("n_sh")
    )
    frac = F.round(
        F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_sh"), 6
    )
    return (
        sz.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_sh",
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("bigint").alias(
                "n_hit"
            ),
            frac.alias("contaminated_frac"),
            (frac >= 0.1).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


QUERIES.update({"dd_bloom_prefilter_exact": dd_bloom_prefilter_exact})


def tx_novelty_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of the novelty scoring (tx_ngram_novelty)
    under an appending corpus: the base's firsts table (shingle ->
    earliest owner) is IMMUTABLE when corpus order is the append order --
    new docs can never displace an earlier owner -- so a delta commits in
    O(delta): delta shingle rows take their own within-delta min, one
    anti-join against base firsts discards already-owned shingles, and
    base novel counts are reused untouched (only delta docs gain rows).
    Final output == the from-scratch tx_ngram_novelty over base+delta
    (the oracle is literally that gate's); the incremental-vs-rebuild
    equality is the dd_cc_incremental pin applied to text curation."""
    docs = load_table(spark, sf_dir, "documents")
    sh = _doc_shingles(spark, sf_dir)
    sz = sh.select("doc_id", F.size("_sh").alias("n_sh"))
    cut = docs.agg(
        F.expr("percentile_approx(doc_id, 0.8, 100000)").alias("c")
    ).head()[0]
    rows = sh.select("doc_id", F.explode("_sh").alias("s"))
    base_firsts = (
        rows.filter(F.col("doc_id") <= cut)
        .groupBy("s")
        .agg(F.min("doc_id").alias("first_doc"))
        .localCheckpoint(eager=False)
    )
    delta_firsts = (
        rows.filter(F.col("doc_id") > cut)
        .groupBy("s")
        .agg(F.min("doc_id").alias("first_doc"))
        .join(base_firsts.select("s"), "s", "left_anti")
    )
    nov = (
        base_firsts.select("first_doc")
        .unionAll(delta_firsts.select("first_doc"))
        .groupBy(F.col("first_doc").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    return (
        sz.join(nov, "doc_id", "left")
        .select(
            "doc_id",
            "n_sh",
            F.coalesce(F.col("n_novel"), F.lit(0)).alias("n_novel"),
            F.round(
                F.coalesce(F.col("n_novel"), F.lit(0)) / F.col("n_sh"), 6
            ).alias("novelty_frac"),
        )
        .orderBy("doc_id")
    )


QUERIES.update({"tx_novelty_incremental": tx_novelty_incremental})


def vs_ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN tuning table operators ship with: recall@10 of IVF vs the
    exact scan as nprobe sweeps 1/2/4 -- one deterministic query instead
    of a notebook experiment. The exact top-10 and each probe arm are
    ordinary engine queries (label-cluster IVF, so the whole curve is
    oracle-replayable); recall joins each arm to the exact ids with a
    broadcast semi-join. At scale each arm reads nprobe/k of the corpus
    (partition-pruned under the ann_ivf_partition_pruned layout) and the
    exact arm is the one full scan."""
    from strava_vector_search_spark.operators.ann import (
        collect_centroids,
        compute_centroids,
        ivf_topk,
    )
    from strava_vector_search_spark.operators.search import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir, 7)
    exact_ids = brute_force_topk(
        emb.filter(F.col("embedding").isNotNull()), qv, k=10, id_col="vec_id"
    ).select("vec_id").localCheckpoint(eager=False)
    cents = collect_centroids(compute_centroids(emb))
    arms = []
    for nprobe in (1, 2, 4):
        hits = (
            ivf_topk(emb, qv, k=10, nprobe=nprobe, centroids=cents)
            .select("vec_id")
            .join(F.broadcast(exact_ids), "vec_id", "left_semi")
            .agg(F.count(F.lit(1)).alias("n_hit"))
            .select(
                F.lit(nprobe).alias("nprobe"),
                "n_hit",
                F.round(F.col("n_hit") / 10.0, 6).alias("recall_at_10"),
            )
        )
        arms.append(hits)
    out = arms[0]
    for a in arms[1:]:
        out = out.unionAll(a)
    return out.orderBy("nprobe")


QUERIES.update({"vs_ivf_recall_curve": vs_ivf_recall_curve})


def smp_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection over the embedding corpus -- the
    classic 2-approximation diversity sampler (Gonzalez 1985, public
    method) behind 'pick k maximally spread exemplars' in curation and
    eval-set construction. Each of the k rounds is ONE distributed scan
    (update running min-distance against the newest center, a pure
    expression) + ONE TakeOrdered(1) argmax; the only driver state is the
    k chosen vectors (the centroid-table class). Distances are 6-dp
    cosine distance with vec_id tie-breaks, so the greedy trajectory is
    bit-deterministic and the DuckDB oracle replays all k rounds.
    Output: (round, center_id, radius) -- radius is the covering radius
    the selection witnessed (max-min distance before adding the pick)."""
    from strava_vector_search_spark.functions.vector import (
        cosine_similarity_rounded,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )

    def _dist_to(vec: list[float]) -> F.Column:
        lit = lit_double_array(vec)
        return F.round(
            F.lit(1.0)
            - cosine_similarity_rounded(F.col("embedding"), lit),
            6,
        )

    seed_vec = _query_vec(spark, sf_dir, 0)
    df = emb.select(
        "vec_id", "embedding", _dist_to(seed_vec).alias("mind")
    ).localCheckpoint(eager=False)
    centers = [0]
    picks = []
    for rnd in range(1, 6):
        pick = (
            df.filter(~F.col("vec_id").isin(centers))
            .orderBy(F.desc("mind"), F.asc("vec_id"))
            .limit(1)
            .select("vec_id", "mind", "embedding")
            .collect()[0]
        )
        picks.append((rnd, int(pick["vec_id"]), float(pick["mind"])))
        centers.append(int(pick["vec_id"]))
        df = df.select(
            "vec_id",
            "embedding",
            F.least(
                F.col("mind"), _dist_to([float(x) for x in pick["embedding"]])
            ).alias("mind"),
        ).localCheckpoint(eager=False)
    return spark.createDataFrame(
        picks, "round int, center_id bigint, radius double"
    ).orderBy("round")


QUERIES.update({"smp_kcenter_coreset": smp_kcenter_coreset})


def ev_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the in-session navigation Markov chain
    (the long-run share of attention per event type): the corpus folds
    ONCE into the |states|^2-bounded transition-count kernel (the
    ev_markov_transition_matrix shuffle), terminal-only states get a
    self-loop so no mass escapes, and 4 unrolled power-iteration steps of
    exact fixed-point integers (pi*n DIV rowsum) run over the tiny kernel
    -- bit-replayed by the DuckDB oracle, corpus cost unchanged at any
    scale. Counts come from the shared _markov_transition_counts kernel
    (r13 — one sessionize+count build per session serves both markov
    gates)."""
    counts = _markov_transition_counts(spark, sf_dir).select(
        F.col("from_type").alias("f"), F.col("to_type").alias("t"), "n"
    )
    states = (
        counts.select(F.col("f").alias("s"))
        .union(counts.select(F.col("t").alias("s")))
        .distinct()
    )
    loops = states.join(
        counts.select(F.col("f").alias("s")).distinct(), "s", "left_anti"
    ).select(
        F.col("s").alias("f"), F.col("s").alias("t"), F.lit(1).alias("n")
    )
    kern = (
        counts.unionAll(loops)
        .join(
            counts.unionAll(loops)
            .groupBy("f")
            .agg(F.sum("n").alias("rowsum")),
            "f",
        )
        .localCheckpoint(eager=False)
    )
    scale = 1_000_000
    pi = states.select("s", F.lit(scale).cast("bigint").alias("pi"))
    for _ in range(4):
        pi = (
            kern.join(pi, kern["f"] == pi["s"])
            .select(
                F.col("t"),
                F.expr("(pi * n) div rowsum").alias("c"),
            )
            .groupBy(F.col("t").alias("s2"))
            .agg(F.sum("c").alias("pi2"))
            .join(states, F.col("s2") == F.col("s"), "right")
            .select(
                "s",
                F.coalesce(F.col("pi2"), F.lit(0)).cast("bigint").alias("pi"),
            )
        )
    tot = pi.agg(F.sum("pi").alias("tot"))
    return (
        pi.crossJoin(F.broadcast(tot))
        .select(
            F.col("s").alias("state"),
            F.col("pi").alias("pi_fp"),
            F.round(F.col("pi").cast("double") / F.col("tot"), 6).alias(
                "stationary_share"
            ),
        )
        .orderBy(F.desc("stationary_share"), F.asc("state"))
    )


QUERIES.update({"ev_markov_stationary": ev_markov_stationary})


@_session_kernel
def _md5_query_vec_768(
    spark: SparkSession, sf_dir: str, doc_id: int = 0
) -> list[float]:
    """Doc ``doc_id``'s text embedded DRIVER-SIDE through the md5 kernel
    twin (md5_embed_text_local — the production client pattern: embed the
    query at the client, ship the vector, skip the 1-row two-shuffle
    pipeline). The ONE guard for the failure modes every 768-d gate used
    to re-check inline: missing doc, text-less doc, and the zero-vector
    embed. Corpus-side zero vectors are dropped and counted at index
    build now (functions/embed), but the QUERY vector never passes
    through a build, so its zero check lives here — full-cosine scoring
    against a zero query would raise DIVIDE_BY_ZERO under ANSI with no
    hint of the cause.

    A session kernel per doc_id like :func:`_query_vec`, shared by every
    768-d gate: unshared, it re-paid a 1-row scan job plus the 768-d
    local embed at every gate construction."""
    from strava_vector_search_spark.functions.embed import (
        md5_embed_text_local,
    )

    qrow = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") == doc_id)
        .select("text")
        .head()
    )
    if qrow is None or not qrow["text"]:
        raise ValueError(
            f"doc_id {doc_id} missing or text-less in {sf_dir} — the 768-d "
            "gates embed its text as the query vector"
        )
    qv = md5_embed_text_local(qrow["text"], dim=768)
    if not any(qv):
        raise ValueError(
            f"doc_id {doc_id}'s text has no [a-z0-9] tokens with "
            f"non-zero weight in {sf_dir} — its embedding is the zero "
            "vector (full-cosine scoring would divide by zero under ANSI)"
        )
    return qv


def vs_topk_filtered_768(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 pinned at the reference's REAL width — ``VECTOR(FLOAT, 768)``
    (02_method2_manual_vector_embedding.sql:88): embed the corpus AND the
    query through the cross-engine md5 kernel
    (:func:`functions.embed.md5_embedding_table`), score full cosine
    (dot / (norm_doc * norm_query)) on the 768-wide ``array<float>``
    column, and take the filtered top-10 — the flagship filter→score→top-k
    shape (02:206-227) at production dimensionality.

    Parity: every bucket value is an exact integer (≤ ~10^5, exact in
    float32), so dot and squared norms are exact in BOTH engines under any
    summation order; sqrt/mul/div are correctly-rounded IEEE ops, so the
    6-dp cosine is bit-reproducible vs the DuckDB twin that replays the
    same tokenize→md5-bucket→integer-sum pipeline in SQL.

    Scoring rides the BLAS lane (brute_force_topk_blas,
    assume_normalized=False): one float64 matvec + einsum row norms per
    Arrow batch instead of three 768-step codegen folds per row — and
    the query embeds DRIVER-SIDE through the pure-Python twin
    (md5_embed_text_local — what a production client does with query
    text), dropping the 1-row two-shuffle pipeline. Both are
    bit-identical to the expression path by the exact-integer argument
    above (lane- and twin-parity pytests pin them; the oracle hash is
    unchanged). Measured ~3x on the warm gate at sf0.1.
    """
    from strava_vector_search_spark.functions.embed import (
        md5_embedding_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = md5_embedding_table(
        docs.filter(
            F.col("lang").isin("en", "de")
            & F.col("n_chars").between(100, 450)
            & (F.col("doc_id") != 0)
        ),
        "doc_id",
        "text",
        dim=768,
    )
    # query = doc 0's text through the SAME md5 kernel, embedded at the
    # driver (the testdata analogue of embedding the query string,
    # 02:206-208, done client-side); exact-integer buckets make the
    # local twin bit-identical to the table kernel
    qv = _md5_query_vec_768(spark, sf_dir)
    top = S.brute_force_topk_blas(
        corpus, qv, k=10, assume_normalized=False, payload=False
    )
    meta = docs.select("doc_id", "lang", "n_chars")
    return top.join(meta, "doc_id").select(
        "doc_id", "lang", "n_chars", "similarity"
    )


QUERIES.update({"vs_topk_filtered_768": vs_topk_filtered_768})


def ann_ivf_topk_768(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF MECHANICS at the reference's production width, under a
    full value-level oracle: corpus md5-embedded at 768 (the cross-engine
    kernel of ``vs_topk_filtered_768``), coarse-quantized by ``lang`` —
    the deterministic cluster column whose centroids both engines can
    replay — per-cluster centroids as 6-dp DECIMAL-routed elementwise
    means (operators/ann.compute_centroids), the query probing the
    nprobe=2 nearest centroids, and exact cosine only inside the probed
    clusters. The plan SHAPE is the scale path (centroid build is one
    partial-combined aggregate; the candidate scan is an equi-filter on
    the cluster column — partition pruning when the table is written
    partitioned by it), but the ``lang`` quantizer itself is NOT a
    production coarse quantizer: cardinality 5 with ~44% of the corpus in
    one value, so nprobe=2 of 5 reads ~50-60% of a skewed corpus — it is
    chosen here because DuckDB can replay it exactly, making this the
    value-hash parity pin for the IVF pipeline at width 768. The
    production-quantizer twin is ``ann_kmeans_ivf_topk_768`` (learned
    16-centroid KMeans, measured ~30-35% scanned at nprobe=4 with
    recall@10 0.70-0.86), whose seeded-KMeans internals take the
    invariants oracle instead (02_method2_manual_vector_embedding
    .sql:88,438-442)."""
    from strava_vector_search_spark.operators.ann import ivf_topk

    docs = load_table(spark, sf_dir, "documents")
    # the stored-vector table (memoized — search reads the index, it does
    # not re-embed the corpus per query); the lang join is checkpointed
    # because the result feeds TWO consumers (centroid aggregate +
    # candidate scan)
    emb = (
        _md5_emb_768(spark, sf_dir)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .localCheckpoint(eager=False)
    )
    qv = _md5_query_vec_768(spark, sf_dir)
    out = ivf_topk(
        emb, qv, k=10, nprobe=2, cluster_col="lang", id_col="doc_id"
    )
    return out.select("doc_id", "lang", "similarity")


QUERIES.update({"ann_ivf_topk_768": ann_ivf_topk_768})


def ann_kmeans_ivf_topk_768(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned-centroid IVF at the reference's production width — the
    100 TB ANN plan, end to end: 768-d md5 corpus embeddings (the stored
    WORKOUTS_WITH_VECTORS table, 02_method2_manual_vector_embedding
    .sql:88), a 16-cluster seeded MLlib KMeans coarse quantizer, 6-dp
    DECIMAL-routed centroids, and a BATCHED probe — all 5 query vectors
    ride ONE pruned corpus pass (operators/ann.ivf_batch_topk: centroid
    ranking on a 16x5 broadcast cross, candidates via broadcast
    equi-join on the cluster column, per-query top-k as a
    WindowGroupLimit so map tasks keep <=k rows per query). Property
    gate (seeded KMeans isn't ANSI-SQL-expressible — same treatment as
    ``ann_kmeans_ivf_topk`` at 64-d):

    * ``pruning_only_loss`` — inside the probed clusters the batch IVF
      result is EXACT: every full-scan top-10 hit whose cluster was
      probed appears in the IVF result with the identical 6-dp rounded
      cosine (the approximation is cluster pruning, nothing else);
    * ``mean_recall_ge_060`` — recall@10 vs the unpruned batch scan over
      the 5 queries (measured 0.70 / 0.78 / 0.86 at sf0.001/0.01/0.1);
    * ``scan_frac_le_045`` — the probed clusters' population is at most
      45% of the corpus averaged over queries (measured 0.29-0.35 —
      nprobe=4 of 16 learned clusters, vs ~50-60% for the 5-value
      ``lang`` quantizer of ``ann_ivf_topk_768``). With the table
      written partitioned by cluster id this fraction IS the fraction
      of a 100 TB corpus read per query batch.

    ``n_corpus`` (docs with >=1 token, doc 0 excluded) anchors the row
    to the data for the DuckDB oracle. The index build (KMeans fit +
    centroid table) is the :func:`_kmeans_ivf_768` session kernel —
    built once per (session, sf), as the reference maintains its vector
    table (02:404)."""
    from strava_vector_search_spark.operators.ann import (
        ivf_batch_topk,
        rank_probed_clusters,
    )
    from strava_vector_search_spark.operators.search import batch_topk

    clustered, cents = _kmeans_ivf_768(spark, sf_dir)
    k, nprobe, qids = 10, 4, (3, 7, 11, 19, 23)
    sizes = {
        r["cluster"]: r["n"]
        for r in clustered.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_corpus = sum(sizes.values())
    qrows = (
        clustered.filter(F.col("doc_id").isin(*qids))
        .select("doc_id", "embedding")
        .collect()
    )
    if len(qrows) != len(qids):
        raise ValueError(
            f"ann_kmeans_ivf_topk_768: query docs {qids} not all "
            f"embeddable in {sf_dir} (got {len(qrows)})"
        )
    queries = spark.createDataFrame(
        [
            (int(r["doc_id"]), [float(x) for x in r["embedding"]])
            for r in qrows
        ],
        "query_id bigint, query_vec array<double>",
    )
    probed = {qid: set() for qid in qids}
    for r in rank_probed_clusters(cents, queries, nprobe).collect():
        probed[r["query_id"]].add(r["cluster"])
    ivf = {
        (r["query_id"], r["doc_id"]): r["similarity"]
        for r in ivf_batch_topk(
            clustered,
            queries,
            k=k,
            nprobe=nprobe,
            cluster_col="cluster",
            id_col="doc_id",
            centroids=cents,
        )
        .select("query_id", "doc_id", "similarity")
        .collect()
    }
    full = [
        (r["query_id"], r["doc_id"], r["cluster"], r["similarity"])
        for r in batch_topk(clustered, queries, k=k, id_col="doc_id")
        .select("query_id", "doc_id", "cluster", "similarity")
        .collect()
    ]
    hits = sum(1 for (q, d, _c, _s) in full if (q, d) in ivf)
    pruning_only_loss = all(
        (q, d) in ivf and ivf[(q, d)] == s
        for (q, d, c, s) in full
        if c in probed[q]
    )
    mean_recall = hits / (k * len(qids))
    scan_frac = sum(
        sizes[c] for q in qids for c in probed[q]
    ) / (n_corpus * len(qids))
    return spark.createDataFrame(
        [
            (
                n_corpus,
                16,
                k,
                nprobe,
                len(qids),
                bool(pruning_only_loss),
                bool(mean_recall >= 0.6),
                bool(scan_frac <= 0.45),
            )
        ],
        "n_corpus bigint, n_clusters int, k int, nprobe int, "
        "n_queries int, pruning_only_loss boolean, "
        "mean_recall_ge_060 boolean, scan_frac_le_045 boolean",
    )


QUERIES.update({"ann_kmeans_ivf_topk_768": ann_kmeans_ivf_topk_768})


def svc_search_dsl_768(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Method-1 SERVICE path at the reference's production width —
    SearchService with ATTACHED 768-d md5 embeddings (external,
    unnormalized -> full-cosine scoring), serving the notebook's nested
    @and/@or JSON filter DSL + limit (03:219-224,285-299) with the query
    text embedded client-side (md5_embed_text_local — bit-identical to
    the corpus kernel). Pins the END-TO-END service contract at width
    768 under a full value-level DuckDB oracle: DSL compilation, filter
    pushed below the top-k, rank attachment, SEARCH_PREVIEW column shape
    — previously the service gate (svc_search_nested_dsl) only ran at
    the 64-d test width while the 768-d pins were all Method-2 SQL-path
    gates (02:88; VERDICT r9 stretch item)."""
    svc = _svc_768(spark, sf_dir)
    qv = _md5_query_vec_768(spark, sf_dir)
    request = {
        "query_vec": qv,
        "columns": ["lang", "source", "n_chars"],
        "filter": {
            "@and": [
                {"@eq": {"lang": "es"}},
                {
                    "@or": [
                        {"@gte": {"n_chars": 300}},
                        {"@eq": {"source": "src5"}},
                    ]
                },
            ]
        },
        "limit": 5,
    }
    return svc.search(request)


QUERIES.update({"svc_search_dsl_768": svc_search_dsl_768})


def svc_search_batch_ivf_768(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVICE batch path over the MATERIALIZED IVF layout at
    production width, under a FULL value-level oracle — the production
    cache-refresh shape (reference 02:421 "batch multiple user
    queries"): SearchService.build_ivf materializes the md5-768
    embeddings + declared attributes cluster-partitioned by ``lang``
    (the deterministic coarse quantizer DuckDB can replay — the learned
    twin is ann_kmeans_ivf_topk_768) with its 6-dp DECIMAL-routed
    centroid table; SearchService.search_batch serves THREE JSON
    requests (distinct filters and limits) in ONE pruned scan: the
    union of probed clusters lands as PartitionFilters, each request's
    DSL filter compiles into the scored stream before its rank window
    (filter-then-rank), per-request limits cut the ranked stream. The
    oracle replays per-request probe → filter → top-k independently and
    unions — pinning batch == N sequential searches value-for-value.
    Layout built once per corpus generation (_cached_layout)."""
    svc = _svc_768(spark, sf_dir)

    def _build(tmp: str) -> None:
        svc.build_ivf(tmp, cluster_col="lang")

    path = _cached_layout(sf_dir, "documents", "svcivf768_lang_v1", _build)
    svc.ivf_path, svc.ivf_cluster_col = path, "lang"
    qids = (3, 7, 11)
    qvecs = {
        int(r["doc_id"]): [float(x) for x in r["embedding"]]
        for r in _md5_emb_768(spark, sf_dir)
        .filter(F.col("doc_id").isin(*qids))
        .collect()
    }
    if len(qvecs) != len(qids):
        raise ValueError(
            f"svc_search_batch_ivf_768: query docs {qids} not all "
            f"embeddable in {sf_dir}"
        )
    requests = [
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
    ]
    out = svc.search_batch(requests, nprobe=2)
    return out.select(
        "request_id",
        "doc_id",
        "lang",
        "source",
        "n_chars",
        "similarity",
        "rank",
    ).orderBy("request_id", "rank")


QUERIES.update({"svc_search_batch_ivf_768": svc_search_batch_ivf_768})


def svc_search_batch_kmeans_768(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The service batch path over the LEARNED coarse quantizer — the
    production twin of ``svc_search_batch_ivf_768`` (whose ``lang``
    cells exist so DuckDB can replay values; 5 skewed values are not a
    production quantizer — the twinning pattern of the IVF family):
    SearchService.build_ivf with a seeded 16-cluster KMeans fit
    materializes the cluster-partitioned layout + attributes +
    centroids, and search_batch serves the SAME three requests as the
    lang gate in one pruned scan. Invariants (seeded KMeans is not
    ANSI-SQL-expressible):

    * ``batch_equals_singletons`` — the 3-request batch is
      value-identical (doc_id, similarity, rank per request) to three
      singleton search_batch calls: batching changes cost, never
      results;
    * ``filters_respected`` — every returned row satisfies its own
      request's DSL predicate (the disjunction cannot leak rows across
      requests);
    * ``scan_frac_le_045`` — the probed clusters hold at most 45% of
      the corpus averaged over requests (measured 0.23-0.33 mean,
      0.42 worst single request at nprobe=4/16); with the
      cluster-partitioned layout this IS the fraction of a 100 TB
      index read per batch.

    ``n_corpus`` anchors to the data. Layout built once per corpus
    generation (_cached_layout, versioned kind)."""
    from strava_vector_search_spark.operators.ann import (
        rank_probed_clusters,
    )

    svc = _svc_768(spark, sf_dir)

    def _build(tmp: str) -> None:
        svc.build_ivf(tmp, cluster_col=None, n_clusters=16, seed=42)

    path = _cached_layout(sf_dir, "documents", "svcivf768_km16_v1", _build)
    svc.ivf_path, svc.ivf_cluster_col = path, "cluster"
    part = spark.read.parquet(path)
    sizes = {
        r["cluster"]: r["n"]
        for r in part.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_corpus = sum(sizes.values())
    qids = (3, 7, 11)
    qvecs = {
        int(r["doc_id"]): [float(x) for x in r["embedding"]]
        for r in _md5_emb_768(spark, sf_dir)
        .filter(F.col("doc_id").isin(*qids))
        .collect()
    }
    if len(qvecs) != len(qids):
        raise ValueError(
            f"svc_search_batch_kmeans_768: query docs {qids} not all "
            f"embeddable in {sf_dir}"
        )
    nprobe = 4
    cents = spark.read.parquet(path + "/_centroids")
    queries = spark.createDataFrame(
        [(i, qvecs[d]) for i, d in enumerate(qids)],
        "query_id int, query_vec array<double>",
    )
    probed: dict[int, set] = {}
    for r in rank_probed_clusters(cents, queries, nprobe).collect():
        probed.setdefault(r["query_id"], set()).add(r["cluster"])
    scan_frac = sum(
        sizes[c] for i in range(len(qids)) for c in probed[i]
    ) / (n_corpus * len(qids))
    requests = [
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
    ]
    batch_rows = svc.search_batch(requests, nprobe=nprobe).collect()
    got: dict[int, list] = {i: [] for i in range(len(requests))}
    for r in batch_rows:
        got[r["request_id"]].append(
            (r["doc_id"], r["similarity"], r["rank"])
        )
    batch_equals_singletons = all(
        sorted(
            (r["doc_id"], r["similarity"], r["rank"])
            for r in svc.search_batch([req], nprobe=nprobe).collect()
        )
        == sorted(got[i])
        for i, req in enumerate(requests)
    )
    preds = [
        lambda r: r["n_chars"] >= 200,
        lambda r: r["source"] == "src5" or r["n_chars"] >= 300,
        lambda r: True,
    ]
    filters_respected = all(
        preds[r["request_id"]](r) for r in batch_rows
    )
    return spark.createDataFrame(
        [
            (
                n_corpus,
                16,
                len(requests),
                bool(batch_equals_singletons),
                bool(filters_respected),
                bool(scan_frac <= 0.45),
            )
        ],
        "n_corpus bigint, n_clusters int, n_requests int,"
        " batch_equals_singletons boolean, filters_respected boolean,"
        " scan_frac_le_045 boolean",
    )


QUERIES.update({"svc_search_batch_kmeans_768": svc_search_batch_kmeans_768})


def svc_search_approx_768(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVICE serving the reference's own scale prescription —
    "1M+ documents: consider approximate search" (02:438-442) — through
    the PERSISTED IVF+PQ artifact: SearchService.attach_pq_index loads
    the codebooks + 96-byte code table + coarse centroids built once
    per corpus generation (the ann_ivfpq_persisted_768 artifact,
    shared), and search_approx serves a JSON request with metadata
    filters FIRST (02:406 — the DSL predicate runs on the narrow corpus
    scan and semi-joins the code table, so filtered-out rows never
    enter ADC or consume candidate slots), nprobe=4 coarse probe, ADC
    candidate scan, exact rescore on the stored unit vectors.

    Invariants oracle (codebooks/KMeans aren't ANSI-SQL-expressible):

    * ``recall_ge_060`` — recall@10 vs the EXACT service path
      (:meth:`search`, same request, same filter) — measured
      0.6/1.0/0.7 at sf0.001/0.01/0.1, deterministic;
    * ``sims_exact`` — every shared hit carries the IDENTICAL
      similarity (both paths rescore with the same dot scorer on the
      same stored vectors — the approximation is candidate recall
      only);
    * ``filter_respected`` — every approximate hit satisfies the DSL
      predicate (pre-filtering cannot leak a filtered row);
    * ``code_bytes`` = 96, ``n_corpus`` data-anchored."""
    svc = _svc_768(spark, sf_dir, unit=True).attach_pq_index(
        _pq768_path(spark, sf_dir)
    )
    n_corpus = svc.embeddings.count()
    qrow = svc.embeddings.filter(F.col("doc_id") == 3).head()
    if qrow is None:
        raise ValueError(
            f"svc_search_approx_768: query doc 3 not embeddable in {sf_dir}"
        )
    qv = [float(x) for x in qrow["embedding"]]
    request = {
        "query_vec": qv,
        "columns": ["lang", "n_chars"],
        "filter": {"@gte": {"n_chars": 150}},
        "limit": 10,
    }
    approx_rows = svc.search_approx(request, nprobe=4, n_cand=200).collect()
    approx = {r["doc_id"]: r["similarity"] for r in approx_rows}
    exact = {
        r["doc_id"]: r["similarity"] for r in svc.search(request).collect()
    }
    common = set(approx) & set(exact)
    recall = len(common) / max(len(exact), 1)
    sims_exact = all(approx[i] == exact[i] for i in common)
    filter_respected = all(r["n_chars"] >= 150 for r in approx_rows)
    return spark.createDataFrame(
        [
            (
                n_corpus,
                int(svc.pq_index[0].shape[0]),
                bool(recall >= 0.6),
                bool(sims_exact),
                bool(filter_respected),
            )
        ],
        "n_corpus bigint, code_bytes int, recall_ge_060 boolean,"
        " sims_exact boolean, filter_respected boolean",
    )


QUERIES.update({"svc_search_approx_768": svc_search_approx_768})


def ann_ivf_batch_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BATCHED probe against the materialized IVF layout
    (operators/ann.ivf_batch_topk_indexed): two query vectors ride ONE
    pruned scan of the cluster-partitioned index — they are probed on
    the driver and the union of their probed clusters is pushed as a
    literal IN, so it lands as PartitionFilters (unprobed clusters
    never READ; pinned in test_ann and PLANS.md), and per-query cluster
    assignment + per-query top-k ride the broadcast join +
    WindowGroupLimit of the in-memory batch path. Completes the
    amortization story ``ann_ivf_partition_pruned`` pins for one query:
    N queries cost one pruned scan, not N (SCALE.md measures 32 queries
    at 1M vecs).
    Exact value-level oracle — same probing rule and tie-breaks per
    query as ``ann_ivf_topk``."""
    from strava_vector_search_spark.operators.ann import (
        collect_centroids,
        compute_centroids,
        ivf_batch_topk_indexed,
        write_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")

    def _build(tmp: str) -> None:
        write_ivf_index(emb, tmp)

    path = _cached_layout(sf_dir, "embeddings", "ivfpart", _build)
    cents = compute_centroids(emb)
    qids = (3, 19)
    qvecs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id").isin(*qids))
        .select("vec_id", "embedding")
        .collect()
    }
    if len(qvecs) != len(qids):
        raise ValueError(
            f"ann_ivf_batch_partition_pruned: query vecs {qids} not all "
            f"present in {sf_dir}"
        )
    out = ivf_batch_topk_indexed(
        spark,
        path,
        [(q, qvecs[q]) for q in qids],
        k=10,
        nprobe=2,
        centroids=collect_centroids(cents),
    )
    return out.select(
        "query_id",
        "vec_id",
        F.col("label").cast("int").alias("label"),
        "similarity",
        "rank",
    )


QUERIES.update(
    {"ann_ivf_batch_partition_pruned": ann_ivf_batch_partition_pruned}
)


def ann_pq_topk_768(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization at the reference's production width — the
    memory-side scale claim of operators/pq.py ("768-dim float32 (3 KB)
    -> 96 uint8 codes, a 32x cut") pinned by a gate instead of a
    docstring: the 768-d md5 corpus is L2-normalized at index time (the
    reference's normalize-at-write pattern, 02:404 — dot == cosine, so
    the dot-product ADC lookup tables legitimately approximate the
    cosine ranking), encoded to m=96 one-byte codes (sub=8 dims per
    codebook, k=256 centroids each), ADC-scanned for 200 candidates per
    query, exact-rescored. Property oracle (driver-side Lloyd's isn't
    ANSI-SQL): mean recall@10 >= 0.8 over 5 queries vs brute force
    (measured 1.00 at sf0.001-0.1 — the candidate set is generous at
    these corpus sizes; the 32x memory cut is the point at 1M+), and
    shared hits carry IDENTICAL similarities (refine uses the same
    scorer — approximation lives only in candidate recall).
    ``n_encoded`` (one 96-byte code per embeddable doc) anchors the row
    to the data."""
    from strava_vector_search_spark.operators import pq as PQ

    emb = _md5_emb_768_unit(spark, sf_dir)
    books = PQ.train_codebooks(emb, m=96, id_col="doc_id")
    codes = PQ.encode_pq(emb, books, id_col="doc_id").localCheckpoint(
        eager=False
    )
    n_encoded = codes.count()
    k, qids = 10, (3, 7, 11, 19, 23)
    qvecs = {
        int(r["doc_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("doc_id").isin(*qids)).collect()
    }
    if len(qvecs) != len(qids):
        raise ValueError(
            f"ann_pq_topk_768: query docs {qids} not all embeddable in "
            f"{sf_dir}"
        )
    hits, sims_exact = 0, True
    for qid in qids:
        qv = qvecs[qid]
        exact = {
            r["doc_id"]: r["similarity"]
            for r in S.brute_force_topk(
                emb, qv, k=k, id_col="doc_id", assume_normalized=True
            ).collect()
        }
        approx = {
            r["doc_id"]: r["similarity"]
            for r in PQ.pq_topk_refined(
                emb, codes, books, qv, k=k, n_cand=200, id_col="doc_id"
            ).collect()
        }
        common = set(exact) & set(approx)
        hits += len(common)
        sims_exact = sims_exact and all(
            exact[i] == approx[i] for i in common
        )
    return spark.createDataFrame(
        [
            (
                n_encoded,
                int(books.shape[0]),
                k,
                bool(hits / (k * len(qids)) >= 0.8),
                bool(sims_exact),
            )
        ],
        "n_encoded bigint, code_bytes int, k int,"
        " mean_recall_ge_080 boolean, refined_sims_exact boolean",
    )


QUERIES.update({"ann_pq_topk_768": ann_pq_topk_768})


def vs_batch_topk_768(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's prescribed batching optimization (02:421) at
    production width, under a full value-level oracle: three stored
    768-d query vectors ride ONE corpus scan via operators/search
    .batch_topk_blas (collected Q matrix, one float64 matmul + einsum
    row norms per Arrow batch, per-batch per-query top-k survivors into
    the global rank window), full-cosine scoring on the unnormalized md5
    corpus. The BLAS lane is bit-identical to the expression form here
    because the md5 embeddings are integer-valued (exact dots/norms
    below 2^53 — the brute_force_topk_blas argument, lane-parity-pinned
    in tests/test_search.py), so the gate keeps its value-hash oracle;
    it replaced the expression batch_topk (three 768-step codegen folds
    per corpus row per query — measured ~9.5 s exec at sf0.1 vs ~2 s on
    this lane, optimization guide §4.2). The 64-d twin is
    ``vs_batch_topk``; this pins the batch path's per-query tie-breaks
    and rank attachment at VECTOR(FLOAT, 768) (02:88)."""
    from strava_vector_search_spark.operators.search import batch_topk_blas

    emb = _md5_emb_768(spark, sf_dir)
    qids = (3, 7, 11)
    queries = (
        emb.filter(F.col("doc_id").isin(*qids))
        .select(
            F.col("doc_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("query_vec"),
        )
        .localCheckpoint(eager=False)
    )
    if queries.count() != len(qids):
        raise ValueError(
            f"vs_batch_topk_768: query docs {qids} not all embeddable "
            f"in {sf_dir}"
        )
    return batch_topk_blas(
        emb, queries, k=5, id_col="doc_id", assume_normalized=False
    )


QUERIES.update({"vs_batch_topk_768": vs_batch_topk_768})


def dd_semantic_pairs_768(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SemDeDup pair kernel at the reference's production width,
    under a FULL value-level oracle: within-cell cosine pairs >= 0.9
    over the 768-d md5 corpus (cell = ``lang`` — deterministic, so
    DuckDB can replay the exact cell assignment), scored by the dense
    BLAS block kernel (operators/dedup.semantic_pairs_blas: one shuffle
    to pack (cell, rank-range) blocks, one float64 matmul per block
    pair — the quadratic term is bounded by the largest cell, never the
    corpus). The md5 embeddings are integer-valued, so every dot/norm
    term is exact in float64 and the numpy kernel's 6-dp cosines match
    list_cosine_similarity bit-for-bit — the 64-d twin
    (dd_semantic_dedup) pins the cluster->CC->keep pipeline; this pins
    the SCORING kernel itself at width 768. The pair table is the
    :func:`_semantic_pairs_768_lang` session kernel — the learned-cell
    gate reads the same table as its retention reference."""
    pairs = _semantic_pairs_768_lang(spark, sf_dir)
    return pairs.select("id1", "id2", "cosine").orderBy("id1", "id2")


QUERIES.update({"dd_semantic_pairs_768": dd_semantic_pairs_768})


def dd_semantic_dedup_768_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over LEARNED cells at production width — the 100 TB shape
    of the pipeline (SemDeDup, Abbas et al. 2023: k-means the embeddings,
    pay the quadratic only inside cells): the 768-d md5 corpus carries
    its seeded 16-centroid KMeans assignment (:func:`_kmeans_ivf_768`,
    the same fit the ANN gates probe), within-cell cosine pairs >= 0.9
    come from the dense BLAS block kernel
    (operators/dedup.semantic_pairs_blas), pairs collapse to connected
    components, and each component keeps its BEST member (longest text,
    doc-id tiebreak — dedup_keep_best).

    Why this gate exists: the value-hash twins cell on ``lang``
    (dd_semantic_pairs_768) / ``label`` (dd_semantic_dedup) because
    DuckDB can replay those assignments — but 5 skewed values put ~44%
    of the corpus in one cell, so their largest-cell quadratic bound is
    ~(0.44N)^2 at 100x scale. The learned cells measure 0.17-0.25 here
    (bound asserted at 0.30), and tighten further with k — this is the
    production quantizer, pinned by invariants since seeded KMeans is
    not ANSI-SQL-expressible (same treatment as ann_kmeans_ivf_topk_768):

    * ``pairs_sound`` — every emitted pair re-scored on the EXPRESSION
      lane: same cell, id1 < id2, kernel cosine == 6-dp expression
      cosine, >= threshold (within probed cells, exact — the
      pruning-only-loss analog);
    * ``blocking_invariant`` — the kernel re-run at a different block
      size (193 vs 2048) emits the IDENTICAL pair set (completeness
      w.r.t. the (cell, rank-range) packing);
    * ``lang_pairs_retained`` — every pair of the independently
      DuckDB-verified within-lang table whose docs share a learned cell
      appears here with the identical cosine (cross-check against the
      value-hash-oracled reference);
    * ``largest_cell_frac_le_030`` — the measured quadratic bound;
    * ``keep_partition_valid`` — keep-best is a partition: component
      member counts sum to the corpus, one distinct keeper per
      component.

    ``n_corpus`` anchors the row to the data for the DuckDB oracle.
    Scale: one KMeans fit per session (index build), one shuffle per
    kernel run, matmul per block pair; the verification joins touch only
    the |pairs|-bounded tables."""
    from strava_vector_search_spark.functions.vector import (
        cosine_similarity_rounded,
    )
    from strava_vector_search_spark.operators.dedup import (
        dedup_keep_best,
        semantic_pairs_blas,
    )

    threshold = 0.9
    clustered, _cents = _kmeans_ivf_768(spark, sf_dir)
    sizes = (
        clustered.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    n_corpus = sum(r["n"] for r in sizes)
    largest_frac = max(r["n"] for r in sizes) / n_corpus
    pairs = semantic_pairs_blas(
        clustered, "cluster", "doc_id", "embedding", threshold
    ).localCheckpoint(eager=False)
    alt = semantic_pairs_blas(
        clustered, "cluster", "doc_id", "embedding", threshold,
        block_size=193,
    )
    blocking_invariant = (
        pairs.exceptAll(alt).unionAll(alt.exceptAll(pairs)).isEmpty()
    )
    lhs = clustered.select(
        F.col("doc_id").alias("id1"),
        F.col("embedding").cast("array<double>").alias("_v1"),
        F.col("cluster").alias("_c1"),
    )
    rhs = clustered.select(
        F.col("doc_id").alias("id2"),
        F.col("embedding").cast("array<double>").alias("_v2"),
        F.col("cluster").alias("_c2"),
    )
    pairs_sound = (
        pairs.join(lhs, "id1")
        .join(rhs, "id2")
        .filter(
            (F.col("_c1") != F.col("_c2"))
            | (F.col("id1") >= F.col("id2"))
            | (F.col("cosine") < threshold)
            | (
                cosine_similarity_rounded(F.col("_v1"), F.col("_v2"))
                != F.col("cosine")
            )
        )
        .isEmpty()
    )
    cells = clustered.select("doc_id", "cluster")
    lang_pairs = _semantic_pairs_768_lang(spark, sf_dir)
    co_cell = (
        lang_pairs.join(
            cells.select(
                F.col("doc_id").alias("id1"), F.col("cluster").alias("_k1")
            ),
            "id1",
        )
        .join(
            cells.select(
                F.col("doc_id").alias("id2"), F.col("cluster").alias("_k2")
            ),
            "id2",
        )
        .filter(F.col("_k1") == F.col("_k2"))
        .select("id1", "id2", "cosine")
    )
    lang_pairs_retained = co_cell.exceptAll(
        pairs.select("id1", "id2", "cosine")
    ).isEmpty()
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    base = clustered.join(docs, "doc_id")
    best = dedup_keep_best(
        base,
        pairs,
        "doc_id",
        quality=(
            F.coalesce(F.col("n_chars"), F.lit(0)).cast("bigint")
            * F.lit(10_000_000)
            + F.col("doc_id")
        ),
    )
    agg = best.agg(
        F.sum("n_members").alias("nm"),
        F.count(F.lit(1)).alias("ncomp"),
        F.countDistinct("keep_id").alias("nkeep"),
    ).head()
    keep_partition_valid = (
        int(agg["nm"]) == n_corpus and int(agg["ncomp"]) == int(agg["nkeep"])
    )
    return spark.createDataFrame(
        [
            (
                n_corpus,
                16,
                bool(largest_frac <= 0.30),
                bool(pairs_sound),
                bool(blocking_invariant),
                bool(lang_pairs_retained),
                bool(keep_partition_valid),
            )
        ],
        "n_corpus bigint, n_cells int, largest_cell_frac_le_030 boolean,"
        " pairs_sound boolean, blocking_invariant boolean,"
        " lang_pairs_retained boolean, keep_partition_valid boolean",
    )


QUERIES.update({"dd_semantic_dedup_768_kmeans": dd_semantic_dedup_768_kmeans})


def svc_index_build_stats_768(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVICE index build at production width: SearchService.build()
    with dim=768 — the managed path the reference's CREATE SERVICE runs
    (01:163-186), not an attached external table — then the same
    invariants contract as the 64-d ``vs_index_build_stats``: one
    embedding per tokenizable doc, 768 on every row, unit L2 norm at
    3 dp (the build embeds with the normalizing production embedder, so
    query-time scoring is one fused dot pass), and ``n_zero_vectors`` —
    the build-time drop counter for docs whose every token hashed to
    weight 0 (expected 0 here; at width 768 a stored zero vector was the
    one input that could still raise DIVIDE_BY_ZERO in full-cosine gates
    under ANSI — now dropped and COUNTED at build instead of guarded per
    gate). Pins that the build path is width-clean end-to-end — dims
    flow from the service declaration into the index rows."""
    from strava_vector_search_spark.functions.embed import _tokens
    from strava_vector_search_spark.functions.vector import dot_product
    from strava_vector_search_spark.service import SearchService

    docs = load_table(spark, sf_dir, "documents")
    svc = SearchService(
        spark, docs, id_col="doc_id", search_col="text", dim=768
    ).build()
    n2 = dot_product(
        F.col("embedding").cast("array<double>"),
        F.col("embedding").cast("array<double>"),
    )
    n_tokenizable = docs.agg(
        F.sum(
            (F.size(_tokens(F.col("text"))) > 0).cast("bigint")
        ).alias("_n_tokenizable")
    )
    return (
        svc.embeddings.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(F.size("embedding")).alias("min_dim"),
            F.max(F.size("embedding")).alias("max_dim"),
            F.round(F.min(n2), 3).alias("min_norm2"),
            F.round(F.max(n2), 3).alias("max_norm2"),
        )
        .crossJoin(F.broadcast(n_tokenizable))
        .select(
            "n_rows",
            "min_dim",
            "max_dim",
            "min_norm2",
            "max_norm2",
            (F.col("_n_tokenizable") - F.col("n_rows")).alias(
                "n_zero_vectors"
            ),
        )
    )


QUERIES.update({"svc_index_build_stats_768": svc_index_build_stats_768})


def ann_ivfpq_topk_768(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composed at the reference's production width — the
    billion-scale recipe (FAISS IVFPQ) with BOTH production parameters:
    a learned 16-cluster KMeans coarse quantizer pruning WHICH codes
    are scanned, and m=96 one-byte codes shrinking WHAT the scan reads
    (96 B vs 3 KB float32/row). Index = the :func:`_ivfpq_768_index`
    session kernel (unit corpus + cluster ids + centroids + codebooks +
    code table, all prebuilt). Same contract as the 64-d
    ``ann_ivfpq_topk``: (a) mean recall@10 >= 0.8 vs the EXACT top-10
    WITHIN the probed clusters (isolates PQ candidate loss from IVF
    pruning, which ``ann_kmeans_ivf_topk_768`` already bounds); (b)
    every shared hit carries the identical similarity (the refine stage
    is the same scorer). ``n_encoded`` anchors to the data."""
    from strava_vector_search_spark.operators import pq as PQ
    from strava_vector_search_spark.operators.ann import (
        collect_centroids,
        probe_local,
    )

    emb, cents, books, codes = _ivfpq_768_index(spark, sf_dir)
    n_encoded = codes.count()
    local = collect_centroids(cents)
    k, nprobe, qids = 10, 4, (3, 7, 11, 19, 23)
    qvecs = {
        int(r["doc_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("doc_id").isin(*qids)).collect()
    }
    if len(qvecs) != len(qids):
        raise ValueError(
            f"ann_ivfpq_topk_768: query docs {qids} not all embeddable "
            f"in {sf_dir}"
        )
    hits, sims_exact = 0, True
    for qid in qids:
        qv = qvecs[qid]
        (probed,) = probe_local(local, [qv], nprobe)
        in_probe = emb.filter(F.col("cluster").isin(probed))
        exact = {
            r["doc_id"]: r["similarity"]
            for r in S.brute_force_topk(
                in_probe, qv, k=k, id_col="doc_id", assume_normalized=True
            ).collect()
        }
        approx = {
            r["doc_id"]: r["similarity"]
            for r in PQ.ivfpq_topk(
                emb,
                codes,
                books,
                qv,
                k=k,
                nprobe=nprobe,
                n_cand=200,
                cluster_col="cluster",
                id_col="doc_id",
                centroids=local,
            ).collect()
        }
        common = set(exact) & set(approx)
        hits += len(common)
        sims_exact = sims_exact and all(
            exact[i] == approx[i] for i in common
        )
    return spark.createDataFrame(
        [
            (
                n_encoded,
                nprobe,
                int(books.shape[0]),
                bool(hits / (k * len(qids)) >= 0.8),
                bool(sims_exact),
            )
        ],
        "n_encoded bigint, nprobe int, code_bytes int,"
        " mean_recall_ge_080 boolean, probe_sims_exact boolean",
    )


QUERIES.update({"ann_ivfpq_topk_768": ann_ivfpq_topk_768})


def ann_ivfpq_persisted_768(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ served from the PERSISTED index artifact — the production
    session shape: a PQ index is a stored artifact (codebooks + codes +
    coarse centroids on disk, operators/pq.write_pq_index), built ONCE
    per corpus generation and LOADED by every serving session, never
    retrained (a fresh session's in-memory path paid the full m=96 Lloyd
    train — 23-38 s measured — before its first query; the load is a
    24K-row codebook read). The artifact lives under the fingerprinted
    /tmp layout protocol (_cached_layout — regenerated testdata maps to
    a fresh directory), with the code table PARTITIONED by cluster so
    the probe's cluster filter prunes partitions of the compressed
    table.

    Every query-path input is the LOADED artifact (codebooks, codes,
    centroids); only the exact-rescore stage touches the fat in-session
    vector table, as the in-memory twin ``ann_ivfpq_topk_768`` does.
    Same invariants contract as that twin — recall@10 >= 0.8 vs the
    exact top-10 WITHIN the probed clusters, identical similarities on
    shared hits — plus ``code_bytes``/``n_encoded`` anchored from the
    LOADED artifact, so a corrupt or stale artifact fails the gate, not
    just the build. Trained-vs-loaded value identity (parquet doubles
    round-trip exactly) is pinned in tests/test_pq.py."""
    import os

    from strava_vector_search_spark.operators import pq as PQ
    from strava_vector_search_spark.operators.ann import (
        probe_local,
        read_centroids_local,
    )

    path = _pq768_path(spark, sf_dir)
    books, codes, _cents, meta = PQ.load_pq_index(spark, path)
    local = read_centroids_local(os.path.join(path, "centroids"))
    if meta["cluster_col"] != "cluster" or meta["id_col"] != "doc_id":
        raise ValueError(
            f"ann_ivfpq_persisted_768: foreign artifact at {path!r}: {meta}"
        )
    codes = codes.localCheckpoint(eager=False)
    n_encoded = codes.count()
    # the fat vector table is ALSO loaded, not re-embedded — the full
    # production session shape (rescore reads the stored corpus table)
    emb = _md5_emb_768_unit_stored(spark, sf_dir)
    # cluster ids ride the loaded code table (narrow), not a re-fit
    embc = emb.join(
        codes.select("doc_id", "cluster"), "doc_id"
    ).localCheckpoint(eager=False)
    k, nprobe, qids = 10, 4, (3, 7, 11, 19, 23)
    qvecs = {
        int(r["doc_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("doc_id").isin(*qids)).collect()
    }
    if len(qvecs) != len(qids):
        raise ValueError(
            f"ann_ivfpq_persisted_768: query docs {qids} not all "
            f"embeddable in {sf_dir}"
        )
    hits, sims_exact = 0, True
    for qid in qids:
        qv = qvecs[qid]
        (probed,) = probe_local(local, [qv], nprobe)
        in_probe = embc.filter(F.col("cluster").isin(probed))
        exact = {
            r["doc_id"]: r["similarity"]
            for r in S.brute_force_topk(
                in_probe, qv, k=k, id_col="doc_id", assume_normalized=True
            ).collect()
        }
        approx = {
            r["doc_id"]: r["similarity"]
            for r in PQ.ivfpq_topk(
                emb,
                codes,
                books,
                qv,
                k=k,
                nprobe=nprobe,
                n_cand=200,
                cluster_col="cluster",
                id_col="doc_id",
                centroids=local,
            ).collect()
        }
        common = set(exact) & set(approx)
        hits += len(common)
        sims_exact = sims_exact and all(
            exact[i] == approx[i] for i in common
        )
    return spark.createDataFrame(
        [
            (
                n_encoded,
                nprobe,
                int(books.shape[0]),
                bool(hits / (k * len(qids)) >= 0.8),
                bool(sims_exact),
            )
        ],
        "n_encoded bigint, nprobe int, code_bytes int,"
        " mean_recall_ge_080 boolean, probe_sims_exact boolean",
    )


QUERIES.update({"ann_ivfpq_persisted_768": ann_ivfpq_persisted_768})


def ann_ivf_append_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-IVF maintenance kernel as an oracle-backed readout:
    centroids come from the BASE corpus (vec_id % 5 != 0, existing label
    clusters — the index as last built), the DELTA (vec_id % 5 == 0) is
    assigned to those FIXED centroids exactly as append_to_ivf_index
    appends it (operators/ann.assign_to_centroids: the collected |k|-row
    centroid table compiled into a literal struct array, argmax via
    element_at(sort_array((−6-dp-cosine, cluster)), 1) — cluster
    tie-break), and the gate reports the per-cluster delta intake
    (count + mean similarity). Assignment is a pure per-row function of
    (vector, centroids), which is why the append path equals a rebuild
    against the same centroids — the parity
    tests/test_index_maintenance.py pins on the real layout. Scale: the
    centroid build is one partial-combined aggregate over the base; the
    assignment never shuffles the delta — at this gate's k×dim it is a
    pure projection (zero join, zero shuffle; the dump_plans
    expectations pin no Window / no CartesianProduct), and past the
    literal ceiling assign_to_centroids switches to its one-broadcast-
    row packed lane, still shuffle-free."""
    from strava_vector_search_spark.operators.ann import (
        assign_to_centroids,
        compute_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    base = emb.filter(F.col("vec_id") % 5 != 0)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    # checkpointed: the centroid table feeds three consumers (the lane-
    # decision aggregate, the literal-lane collect, the payload join) —
    # without it each one re-runs the full base-corpus aggregation
    cents = compute_centroids(base).localCheckpoint(eager=False)
    from strava_vector_search_spark.functions.vector import (
        cosine_similarity_rounded,
    )

    assigned = assign_to_centroids(delta, cents).join(
        F.broadcast(cents),
        F.col("label") == F.col("cluster"),
    )
    return (
        assigned.withColumn(
            "sim",
            cosine_similarity_rounded(
                F.col("embedding"), F.col("centroid")
            ),
        )
        .groupBy(F.col("label").alias("cluster"))
        .agg(
            F.count(F.lit(1)).alias("n_assigned"),
            F.round(
                F.sum(F.col("sim").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_sim"),
        )
        .orderBy("cluster")
    )


QUERIES.update({"ann_ivf_append_assign": ann_ivf_append_assign})


def dd_bloom_sharded_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd_bloom_decontaminate through the SHARDED Bloom lane
    (operators/bloom.build_sharded_filter / probe_sharded_membership):
    shard = md5(key) % 4, each shard an independent 4096-bit filter —
    same total state as the unsharded gate's 16384 bits, but the probe's
    dense array is one row PER SHARD, the layout that scales past the
    single-broadcast-row ceiling (MAX_DENSE_WORDS) at multi-billion-key
    blocklists. Verdicts stay bit-deterministic (portable md5 shard ids
    and bit positions), so the DuckDB twin replays them FPs included."""
    from strava_vector_search_spark.operators.bloom import (
        probe_sharded_membership,
    )

    sh = _doc_shingles(spark, sf_dir)
    # shared sharded filter build (one per session — VERDICT r12 item 5)
    filt = _bloom_eval_sharded_filter(spark, sf_dir)
    corpus = sh.filter(F.col("doc_id") % 41 != 0).select(
        "doc_id",
        F.size("_sh").alias("n_sh"),
        F.explode("_sh").alias("s"),
    )
    flags = probe_sharded_membership(corpus, "s", filt, n_shards=4, m_bits=4096)
    frac = F.round(F.col("n_hits").cast("double") / F.col("n_sh"), 6)
    return (
        flags.groupBy("doc_id")
        .agg(
            F.max("n_sh").alias("n_sh"),
            F.sum(F.col("maybe_member").cast("int"))
            .cast("bigint")
            .alias("n_hits"),
        )
        .select(
            "doc_id",
            "n_sh",
            "n_hits",
            frac.alias("hit_frac"),
            (frac >= 0.1).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


QUERIES.update({"dd_bloom_sharded_decontaminate": dd_bloom_sharded_decontaminate})


def dd_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level (span) dedup readout — the training-data hygiene
    operator behind 'remove repeated passages, not just repeated docs'
    (the public exact-substring-dedup recipe applied Spark-shaped):
    every document emits overlapping 10-TOKEN windows at stride 1 (a
    pure per-row explode, ~n_tokens rows per doc, linear), windows hash
    through the portable md5 idiom, and a span is DUPLICATED when its
    hash appears in >= 2 distinct documents. Token windows at stride 1
    are ALIGNMENT-FREE: a shared passage of >= 10 tokens matches no
    matter where it sits in each document (the r8 stride-10 char-window
    form only caught passages whose char offsets agreed mod 10 — a ~90%
    recall hole on arbitrary placement). Per-doc readout: window count,
    duplicated-window count, duplicated fraction. The only shuffle is
    the window-hash aggregate (same key-space-moves-once shape as
    tx_ngram_novelty); at 100 TB the span table is the cost and it is
    one map + one combine-heavy aggregate, never doc x doc."""
    K = 10
    from strava_vector_search_spark.operators.dedup import md5_int

    docs = _token_arrays(spark, sf_dir).filter(F.size("_ts") >= K)
    # window count per doc is capped at 8192 (docs to ~8.2K tokens scan
    # fully; longer docs sample their first 8192 windows) — the SAME
    # bound the oracle's cross-join series carries, so the two engines
    # stay identical by construction at any document length
    wins = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.least(F.size("_ts") - K, F.lit(8191)),
                ),
                lambda i: F.array_join(
                    F.slice(F.col("_ts"), i + 1, K), " "
                ),
            )
        ).alias("w"),
    ).select("doc_id", md5_int(F.col("w")).alias("h"))
    stats = wins.groupBy("h").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    return (
        wins.join(stats, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_win"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup"),
        )
        .select(
            "doc_id",
            "n_win",
            "n_dup",
            F.round(F.col("n_dup") / F.col("n_win"), 6).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


QUERIES.update({"dd_duplicate_spans": dd_duplicate_spans})


def ev_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort retention triangle: users grouped by first-seen
    week, and for each cohort age k the share of the cohort active in
    week first+k — the companion readout to ev_cohort_ltv (economics)
    for engagement. Corpus work is two partial-combined aggregates
    (per-user first week; distinct user-week activity); the retention
    division runs over the bounded (cohort x age) grid. countDistinct
    keys are (cohort, age, user) — one shuffle of the distinct activity
    table, never raw events twice."""
    ev = load_events(spark, sf_dir)
    wk = F.expr("unix_micros(ts) DIV 604800000000")
    first = ev.groupBy("user_id").agg(F.min(wk).alias("cw"))
    sizes = first.groupBy("cw").agg(F.count(F.lit(1)).alias("n_users"))
    active = ev.select("user_id", wk.alias("w")).distinct()
    # (user_id, w) is already distinct and cw is a function of user_id, so
    # each user contributes exactly one row per (cw, age): a plain COUNT is
    # value-identical to COUNT(DISTINCT user) without the dedup expand pass
    grid = (
        active.join(first, "user_id")
        .groupBy("cw", (F.col("w") - F.col("cw")).alias("age_weeks"))
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return (
        grid.join(sizes, "cw")
        .select(
            F.col("cw").alias("cohort_week"),
            "age_weeks",
            "n_users",
            "n_active",
            F.round(F.col("n_active") / F.col("n_users"), 6).alias(
                "retention"
            ),
        )
        .orderBy("cohort_week", "age_weeks")
    )


QUERIES.update({"ev_retention_matrix": ev_retention_matrix})


@_session_kernel
def _kmeans_ivf_768_hi(spark: SparkSession, sf_dir: str):
    """(clustered, centroids, k_hi) — the PRODUCTION-SIZED coarse
    quantizer over the md5-768 corpus: ``k_hi = max(64,
    default_ivf_cells(N))`` cells (~sqrt(N), the standard IVF sizing)
    instead of the fixed k=16 the original gates inherited. A fixed
    small k caps partition pruning at nprobe/16 of the corpus forever;
    sqrt-N cells let the scanned fraction FALL as the corpus grows —
    the property that keeps the ANN serve path viable at 100 TB
    (reference regime "1M+ documents: consider approximate search",
    02_method2_manual_vector_embedding.sql:438-442). Same fixed-width fit
    partitioning as :func:`_kmeans_ivf_768`."""
    from strava_vector_search_spark.operators.ann import (
        compute_centroids,
        default_ivf_cells,
        kmeans_assign,
    )

    emb = _md5_emb_768(spark, sf_dir)
    k_hi = max(64, default_ivf_cells(emb.count()))
    clustered = kmeans_assign(
        emb.repartition(32, "doc_id").sortWithinPartitions("doc_id"),
        num_clusters=k_hi,
        seed=42,
    ).localCheckpoint(eager=False)
    cents = compute_centroids(clustered, "cluster").localCheckpoint(
        eager=False
    )
    return clustered, cents, k_hi


def _ivf_quality(spark, clustered, cents, queries, qids, k, nprobe, full):
    """(recall, scan_frac, maxcell_frac, n_corpus) for one IVF layout —
    shared accounting of the cells-scaling gates: probed-cluster
    population over corpus size is exactly the fraction of a
    cluster-partitioned 100 TB table READ per query batch."""
    from strava_vector_search_spark.operators.ann import (
        ivf_batch_topk,
        rank_probed_clusters,
    )

    sizes = {
        r["cluster"]: r["n"]
        for r in clustered.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n = sum(sizes.values())
    probed = {q: set() for q in qids}
    for r in rank_probed_clusters(cents, queries, nprobe).collect():
        probed[r["query_id"]].add(r["cluster"])
    ivf = {
        (r["query_id"], r["doc_id"])
        for r in ivf_batch_topk(
            clustered,
            queries,
            k=k,
            nprobe=nprobe,
            cluster_col="cluster",
            id_col="doc_id",
            centroids=cents,
        )
        .select("query_id", "doc_id")
        .collect()
    }
    recall = sum(1 for p in full if p in ivf) / len(full)
    scan = sum(sizes[c] for q in qids for c in probed[q]) / (
        n * len(qids)
    )
    return recall, scan, max(sizes.values()) / n, n


def ann_ivf_cells_scaling_768(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse-quantizer SCALING property (VERDICT r11 item 1): the same
    md5-768 corpus indexed at k=16 (the historical layout) and at
    ``k_hi = max(64, ~sqrt(N))`` (the production sizing), probed with
    the identical rule at nprobe=4, and compared on the two numbers a
    100 TB capacity plan turns on — scanned fraction and recall per
    unit scanned:

    * ``scan_ratio_le_040`` — the hi-k layout reads at most 40% of what
      k=16 reads per query batch (measured 0.21-0.27: scan fraction
      falls ~linearly in 1/k at fixed nprobe);
    * ``efficiency_ratio_ge_150`` — recall per scanned fraction is at
      least 1.5x the k=16 layout's (measured 2.5-3.1x: pruning buys
      MORE recall per byte read as cells shrink);
    * ``scan_hi_le_012`` — absolute scanned fraction at k_hi is <= 12%
      (measured 6-10.5%; k=16 bottoms out at 29-35%);
    * ``maxcell_lo_le_030`` / ``maxcell_hi_le_012`` — the largest-cell
      fraction (the balance guard of VERDICT r11 item 4; the quadratic
      bound of SemDeDup and the worst-case probe cost) at both k;
    * ``recall_hi_ge_040`` — recall@10 stays usable at k_hi on this
      WORST-CASE corpus: md5 embeddings are near-random, the geometry
      with the least cluster structure an IVF can face (real model
      embedding spaces cluster — see ann_ivf_clustered_recall_768 for
      the structured-corpus twin where recall stays ~1.0 at <=5%
      scanned).

    Seeded fits on fixed-width partitions → deterministic per corpus;
    the booleans are the contract, the measured values live in this
    docstring and SCALE.md (1M x 768 rows). Not ANSI-SQL-expressible
    (seeded MLlib KMeans) — the oracle pins the data-anchored corpus
    count, the DERIVED k_hi (GREATEST(64, FLOOR(SQRT(n)))), and the
    contract booleans, like ann_kmeans_ivf_topk_768."""
    from strava_vector_search_spark.operators.search import batch_topk

    lo_clustered, lo_cents = _kmeans_ivf_768(spark, sf_dir)
    hi_clustered, hi_cents, k_hi = _kmeans_ivf_768_hi(spark, sf_dir)
    k, nprobe, qids = 10, 4, (3, 7, 11, 19, 23)
    qrows = (
        lo_clustered.filter(F.col("doc_id").isin(*qids))
        .select("doc_id", "embedding")
        .collect()
    )
    if len(qrows) != len(qids):
        raise ValueError(
            f"ann_ivf_cells_scaling_768: query docs {qids} not all "
            f"embeddable in {sf_dir} (got {len(qrows)})"
        )
    queries = spark.createDataFrame(
        [
            (int(r["doc_id"]), [float(x) for x in r["embedding"]])
            for r in qrows
        ],
        "query_id bigint, query_vec array<double>",
    )
    # ground truth is clustering-agnostic: one full-scan batch top-k
    full = {
        (r["query_id"], r["doc_id"])
        for r in batch_topk(lo_clustered, queries, k=k, id_col="doc_id")
        .select("query_id", "doc_id")
        .collect()
    }
    r_lo, s_lo, m_lo, n_corpus = _ivf_quality(
        spark, lo_clustered, lo_cents, queries, qids, k, nprobe, full
    )
    r_hi, s_hi, m_hi, _ = _ivf_quality(
        spark, hi_clustered, hi_cents, queries, qids, k, nprobe, full
    )
    return spark.createDataFrame(
        [
            (
                n_corpus,
                16,
                int(k_hi),
                nprobe,
                k,
                bool(s_hi / s_lo <= 0.40),
                bool((r_hi / s_hi) / (r_lo / s_lo) >= 1.5),
                bool(s_hi <= 0.12),
                bool(m_lo <= 0.30),
                bool(m_hi <= 0.12),
                bool(r_hi >= 0.40),
            )
        ],
        "n_corpus bigint, k_lo int, k_hi int, nprobe int, k int, "
        "scan_ratio_le_040 boolean, efficiency_ratio_ge_150 boolean, "
        "scan_hi_le_012 boolean, maxcell_lo_le_030 boolean, "
        "maxcell_hi_le_012 boolean, recall_hi_ge_040 boolean",
    )


QUERIES.update({"ann_ivf_cells_scaling_768": ann_ivf_cells_scaling_768})


@_session_kernel
def _planted_ivf_768(spark: SparkSession, sf_dir: str):
    """(clustered, centroids) — a 96-cell learned IVF over a corpus with
    PLANTED cluster structure: doc ``topic = doc_id % 96``, embedding =
    topic-center + 0.3x per-doc noise, both md5-derived elementwise
    (deterministic, no RNG state). Real model embedding spaces cluster
    by topic/language/domain; the md5 corpus used by the other ANN
    gates is near-random — the IVF worst case — so this kernel supplies
    the structured-geometry twin: the regime the production sqrt-N
    sizing is designed for. Within-topic cosine ~0.96, cross-topic ~0;
    the seeded KMeans recovers cells aligned with planted topics."""
    from strava_vector_search_spark.operators.ann import (
        compute_centroids,
        kmeans_assign,
    )

    n_topics, eps = 96, 0.3
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    idx = F.sequence(F.lit(1), F.lit(768))

    def u01(prefix, key_col, i):
        # md5-driven uniform in [-0.5, 0.5): the same
        # hash-as-deterministic-randomness idiom as the md5 embedder
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "_",
                            F.lit(prefix),
                            key_col.cast("string"),
                            i.cast("string"),
                        )
                    ),
                    1,
                    6,
                ),
                16,
                10,
            ).cast("double")
            / F.lit(float(16**6))
            - 0.5
        )

    emb = docs.withColumn("topic", F.col("doc_id") % n_topics).select(
        "doc_id",
        F.transform(
            idx,
            lambda i: u01("c", F.col("topic"), i)
            + F.lit(eps) * u01("n", F.col("doc_id"), i),
        ).alias("embedding"),
    )
    clustered = kmeans_assign(
        emb.repartition(32, "doc_id").sortWithinPartitions("doc_id"),
        num_clusters=n_topics,
        seed=42,
    ).localCheckpoint(eager=False)
    cents = compute_centroids(clustered, "cluster").localCheckpoint(
        eager=False
    )
    return clustered, cents


def ann_ivf_clustered_recall_768(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The production IVF claim on CLUSTERABLE geometry (the regime of
    real model embeddings, which the near-random md5 corpus cannot
    exhibit): 96 learned cells over the planted-structure 768-d corpus
    (:func:`_planted_ivf_768`), nprobe=4, top-5 — and the three numbers
    that justify sqrt-N cells at 100 TB:

    * ``recall_ge_060`` — recall@5 vs the full scan (measured 1.000 at
      every SF: planted neighbors live in the probed cells);
    * ``scan_frac_le_005`` — <=5% of the corpus read per query batch
      (measured 3.8-4.4%: nprobe/k_cells of a balanced layout);
    * ``maxcell_le_005`` — largest cell <=5% of the corpus (measured
      ~2.2%: learned cells track planted topics, nothing swallows the
      corpus — the balance property split_oversized_cells enforces when
      geometry is skewed).

    Together with ann_ivf_cells_scaling_768 (worst-case geometry) this
    brackets the ANN serve path: random data → pruning still wins per
    byte scanned; structured data → ~perfect recall at 1/20th the
    read. Seeded fit, fixed-width partitions → deterministic. Oracle
    pins the corpus count + contract booleans (KMeans not
    SQL-expressible)."""
    from strava_vector_search_spark.operators.search import batch_topk

    clustered, cents = _planted_ivf_768(spark, sf_dir)
    k, nprobe, qids = 5, 4, (3, 7, 11, 19, 23)
    qrows = (
        clustered.filter(F.col("doc_id").isin(*qids))
        .select("doc_id", "embedding")
        .collect()
    )
    queries = spark.createDataFrame(
        [
            (int(r["doc_id"]), [float(x) for x in r["embedding"]])
            for r in qrows
        ],
        "query_id bigint, query_vec array<double>",
    )
    full = {
        (r["query_id"], r["doc_id"])
        for r in batch_topk(clustered, queries, k=k, id_col="doc_id")
        .select("query_id", "doc_id")
        .collect()
    }
    recall, scan, maxcell, n_corpus = _ivf_quality(
        spark, clustered, cents, queries, qids, k, nprobe, full
    )
    return spark.createDataFrame(
        [
            (
                n_corpus,
                96,
                nprobe,
                k,
                bool(recall >= 0.60),
                bool(scan <= 0.05),
                bool(maxcell <= 0.05),
            )
        ],
        "n_corpus bigint, n_cells int, nprobe int, k int, "
        "recall_ge_060 boolean, scan_frac_le_005 boolean, "
        "maxcell_le_005 boolean",
    )


QUERIES.update(
    {"ann_ivf_clustered_recall_768": ann_ivf_clustered_recall_768}
)


def svc_search_approx_batch_768(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BATCHED approximate serving through the persisted IVF+PQ artifact
    — the compressed-lane twin of ``svc_search_batch_*`` and the last
    cell of the serving matrix (single exact / batch pruned-exact /
    single compressed / batch compressed): one
    :meth:`SearchService.search_approx_batch` call serves several JSON
    requests with ONE ADC pass per DISTINCT filter body over the
    96-byte code table (requests sharing a filter share the pass; each
    request's candidates come only from ITS probed clusters — the mask
    rides inside the Arrow kernel). The production cache-refresh shape
    once the corpus outgrows even the pruned full-vector scan
    (reference regime 02:438-442 + the batching prescription 02:421).

    Invariants oracle (codebooks/KMeans not ANSI-SQL-expressible):

    * ``batch_equals_sequential`` — request-for-request identity with
      :meth:`search_approx` on (doc_id, similarity, rank): same probe
      rule, same ADC candidates, same exact rescore — batching is an
      execution change, never a semantic one;
    * ``filter_respected`` — no filtered request leaks a row its DSL
      predicate rejects (pre-ADC semi-join, slots never consumed);
    * ``code_bytes`` = 96, ``n_requests`` = 3, ``n_corpus``
      data-anchored."""
    svc = _svc_768(spark, sf_dir, unit=True).attach_pq_index(
        _pq768_path(spark, sf_dir)
    )
    n_corpus = svc.embeddings.count()
    qrows = {
        r["doc_id"]: [float(x) for x in r["embedding"]]
        for r in svc.embeddings.filter(
            F.col("doc_id").isin(3, 7)
        ).collect()
    }
    if set(qrows) != {3, 7}:
        raise ValueError(
            f"svc_search_approx_batch_768: query docs 3/7 not "
            f"embeddable in {sf_dir}"
        )
    reqs = [
        {"query_vec": qrows[3], "limit": 10},
        {
            "query_vec": qrows[7],
            "filter": {"@gte": {"n_chars": 150}},
            "limit": 8,
        },
        # shares request 1's filter body: must reuse its ADC pass
        {
            "query_vec": qrows[3],
            "filter": {"@gte": {"n_chars": 150}},
            "limit": 5,
        },
    ]
    batch_rows = svc.search_approx_batch(
        reqs, nprobe=4, n_cand=200
    ).collect()
    by_req: dict[int, list] = {}
    for r in batch_rows:
        by_req.setdefault(r["request_id"], []).append(r)
    equal = True
    for i, req in enumerate(reqs):
        got = sorted(
            (r["doc_id"], r["similarity"], r["rank"])
            for r in by_req.get(i, [])
        )
        want = sorted(
            (r["doc_id"], r["similarity"], r["rank"])
            for r in svc.search_approx(req, nprobe=4, n_cand=200).collect()
        )
        if got != want:
            equal = False
    filter_respected = all(
        r["n_chars"] >= 150
        for i in (1, 2)
        for r in by_req.get(i, [])
    )
    return spark.createDataFrame(
        [
            (
                n_corpus,
                len(reqs),
                int(svc.pq_index[0].shape[0]),
                bool(equal),
                bool(filter_respected),
            )
        ],
        "n_corpus bigint, n_requests int, code_bytes int, "
        "batch_equals_sequential boolean, filter_respected boolean",
    )


QUERIES.update(
    {"svc_search_approx_batch_768": svc_search_approx_batch_768}
)


@_session_kernel
def _planted_residual_ivfpq_768(spark: SparkSession, sf_dir: str):
    """(clustered, cents, raw_books, raw_codes, res_books, res_codes) —
    the raw-vs-residual PQ pair over the planted-structure 768-d corpus
    (:func:`_planted_ivf_768`'s 96 learned cells), BUDGET-MATCHED: both
    lanes get m=96 subspaces and kk=16 codebook centroids per subspace
    (identical 96 B/row codes, identical codebook bytes), differing only
    in WHAT they quantize — the raw vector vs the vector minus its
    coarse centroid (operators/pq.residualize, the IVFADC recipe). kk is
    held at 16 (not the production 256) so the comparison stays
    discriminative at gate corpus size: with more codebook centroids
    than sample rows the raw lane memorizes the corpus and both errors
    vanish."""
    from strava_vector_search_spark.operators import pq as PQ

    m, kk = 96, 16
    clustered, cents = _planted_ivf_768(spark, sf_dir)
    raw_books = PQ.train_codebooks(clustered, m=m, k=kk, id_col="doc_id")
    raw_codes = PQ.encode_pq(
        clustered, raw_books, id_col="doc_id", keep_cols=("cluster",)
    ).localCheckpoint(eager=False)
    res = PQ.residualize(clustered, cents)
    res_books = PQ.train_codebooks(
        res, m=m, k=kk, vector_col="residual", id_col="doc_id"
    )
    res_codes = PQ.encode_pq(
        res, res_books, vector_col="residual", id_col="doc_id",
        keep_cols=("cluster",),
    ).localCheckpoint(eager=False)
    return clustered, cents, raw_books, raw_codes, res_books, res_codes


def ann_ivfpq_residual_768(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESIDUAL product quantization (IVFADC, Jégou et al. 2011 §III) vs
    raw-vector PQ at production width — the encoding the billion-scale
    recipe actually ships: codes quantize x − centroid(cell), so the PQ
    budget spends itself on the small within-cell remainder instead of
    re-describing the between-cell structure the coarse quantizer
    already captured. With inner-product scoring the decomposition is
    exact and the residual LUT stays cell-independent — ADC adds one
    scalar q·centroid per probed cell (operators/pq.pq_candidates_batch),
    so the scan cost is unchanged: same 96 B/row, same one-LUT-per-query,
    plus one gather-add. Both lanes run the one candidate stage
    (operators/pq.ivfpq_candidates) for all 5 queries in one pass, with
    a budget covering every probed row.

    Budget-matched on the planted clustered corpus (m=96, kk=16 both
    lanes — :func:`_planted_residual_ivfpq_768`), nprobe=4, measured on
    5 planted queries against the EXACT scores within the probed cells:

    * ``err_ratio_le_050`` — mean |ADC − exact| of the residual lane is
      at most half the raw lane's (measured 0.199x — 1.47 vs 7.42 mean
      absolute score error: the residual distribution is the eps-ball
      around the centroid, ~4x tighter per dim than the raw spread);
    * ``recall_res_ge_080`` / ``recall_res_ge_raw`` — candidate
      recall@10 at the NO-SLACK budget (n_cand == k, no exact-rescore
      safety net) stays >= 0.8 and never drops below the raw lane's
      (measured 0.86 vs 0.84).

    Not ANSI-SQL-expressible (seeded KMeans + Lloyd codebooks) — the
    oracle pins the anchored corpus count and the contract constants,
    like the sibling ann_ivfpq gates."""
    from strava_vector_search_spark.operators import pq as PQ
    from strava_vector_search_spark.operators.ann import (
        collect_centroids,
        probe_local,
    )

    (
        clustered, cents, raw_books, raw_codes, res_books, res_codes,
    ) = _planted_residual_ivfpq_768(spark, sf_dir)
    from strava_vector_search_spark.operators.util import rebalance_for_kernel

    # the ADC kernel runs at the width its codes arrive with: spread the
    # code scans once, before the probe's cell filter
    raw_codes, res_codes = map(rebalance_for_kernel, (raw_codes, res_codes))
    n_corpus = clustered.count()
    local = collect_centroids(cents)
    k, nprobe, qids = 10, 4, (3, 7, 11, 19, 23)
    qrows = (
        clustered.filter(F.col("doc_id").isin(*qids))
        .select("doc_id", "embedding")
        .collect()
    )
    if len(qrows) != len(qids):
        raise ValueError(
            f"ann_ivfpq_residual_768: query docs {qids} not all "
            f"present in {sf_dir}"
        )
    import numpy as np

    queries = [
        (int(r["doc_id"]), [float(x) for x in r["embedding"]]) for r in qrows
    ]
    exact = {}
    for (q, qv), probed in zip(
        queries, probe_local(local, [v for _q, v in queries], nprobe)
    ):
        exact[q] = {
            r["doc_id"]: float(np.dot(qv, r["embedding"]))
            for r in clustered.filter(F.col("cluster").isin(probed))
            .select("doc_id", "embedding")
            .collect()
        }
    # n_cand covers every probed row, so each lane scores all of them
    n_cand = max(len(e) for e in exact.values())

    def adc(codes, books, residual):
        out = {q: {} for q in exact}
        for r in PQ.ivfpq_candidates(
            codes, books, queries, local, nprobe, n_cand, "doc_id",
            "cluster", residual,
        ).collect():
            out[r["query_id"]][r["doc_id"]] = r["adc_score"]
        return out

    raw_all = adc(raw_codes, raw_books, False)
    res_all = adc(res_codes, res_books, True)
    err_raw, err_res, hit_raw, hit_res = [], [], 0, 0
    for q, ex in exact.items():
        raw_adc, res_adc = raw_all[q], res_all[q]
        err_raw += [abs(raw_adc[i] - ex[i]) for i in ex]
        err_res += [abs(res_adc[i] - ex[i]) for i in ex]
        top_exact = set(sorted(ex, key=lambda i: (-ex[i], i))[:k])
        hit_raw += len(
            top_exact
            & set(sorted(raw_adc, key=lambda i: (-raw_adc[i], i))[:k])
        )
        hit_res += len(
            top_exact
            & set(sorted(res_adc, key=lambda i: (-res_adc[i], i))[:k])
        )
    n_q = len(qids)
    return spark.createDataFrame(
        [
            (
                n_corpus,
                96,
                nprobe,
                k,
                bool(
                    float(np.mean(err_res))
                    <= 0.5 * float(np.mean(err_raw))
                ),
                bool(hit_res / (k * n_q) >= 0.8),
                bool(hit_res >= hit_raw),
            )
        ],
        "n_corpus bigint, code_bytes int, nprobe int, k int, "
        "err_ratio_le_050 boolean, recall_res_ge_080 boolean, "
        "recall_res_ge_raw boolean",
    )


QUERIES.update({"ann_ivfpq_residual_768": ann_ivfpq_residual_768})
