from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from strava_vector_search_spark.functions.embed import (
    hash_embed_text,
    hash_embedding_table,
)
from strava_vector_search_spark.functions.vector import dot_product


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "interval run workout with speed training"),
            (2, "easy recovery jog gentle pace"),
            (3, "interval run workout with speed training"),  # dup of 1
            (4, "swimming technique drills"),
        ],
        "id int, text string",
    )


def test_embedding_deterministic_and_dup_equal(docs):
    out1 = {r["id"]: list(r["embedding"]) for r in hash_embedding_table(docs, "id", "text", dim=16).collect()}
    out2 = {r["id"]: list(r["embedding"]) for r in hash_embedding_table(docs, "id", "text", dim=16).collect()}
    assert out1 == out2  # bit-reproducible
    assert out1[1] == out1[3]  # identical text -> identical vector
    assert out1[1] != out1[2]


def test_embedding_unit_norm(spark, docs):
    emb = hash_embedding_table(docs, "id", "text", dim=16)
    rows = emb.select(
        dot_product(
            F.col("embedding").cast("array<double>"),
            F.col("embedding").cast("array<double>"),
        ).alias("n2")
    ).collect()
    for r in rows:
        assert r["n2"] == pytest.approx(1.0, abs=1e-4)


# texts the driver-side twin must embed exactly as the table kernel does,
# or drop exactly where it drops: empty / punctuation-only, non-ASCII
# and mixed case (incl. non-ASCII capitals that lowercase to ASCII),
# single tokens of 1, 4, 8, 31, 32, 33 and 70 bytes (every XXH64 branch:
# byte tail, 4-byte tail, 8-byte lanes, 32-byte stripes) and tokens of
# weight 0 ("d3", "q7", "8o" hash to (h >> 8) % 1000 == 0)
EDGE_TEXTS = [
    "",
    "  ... --- !!! ",
    "Grüße aus München — naïve café crème",
    "İstanbul KELVIN run; Run, RUN!",
    "a",
    "abcd",
    "abcdefgh",
    "x" * 31,
    "y" * 32,
    "z" * 33,
    "0123456789abcdefghij" * 3 + "klmnopqrst",
    "a abcd abcdefgh " + "q" * 31 + " " + "r" * 33 + " a a a",
    "d3",
    "D3 q7, 8o!",
    "d3 run",
]
# the ones the kernel drops (no tokens, or every token weight 0)
DROPPED_TEXTS = {"", "  ... --- !!! ", "d3", "D3 q7, 8o!"}


def test_query_embedding_matches_corpus_path(spark, docs):
    """The driver-side query embedder (hash_embed_text_local, behind
    hash_embed_text and the service front end) equals the distributed
    kernel element for element, compared as float32, on every document
    of the sf0.001 corpus (a small vocabulary: heavy bucket collisions)
    plus the edge texts, at dims 768 and 64; texts the kernel drops
    embed to None and make hash_embed_text raise."""
    import numpy as np

    from strava_vector_search_spark.functions.embed import (
        hash_embed_text_local,
    )
    from strava_vector_search_spark.io.tables import load_table

    corpus = load_table(spark, "/root/testdata/sf0.001", "documents")
    texts = dict(corpus.select("doc_id", "text").collect())
    assert len(texts) == 500
    base = 1 + max(texts)
    texts.update({base + i: t for i, t in enumerate(EDGE_TEXTS)})
    texts.update({r["id"] + 2 * base: r["text"] for r in docs.collect()})
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    for dim in (768, 64):
        expected = {
            r["doc_id"]: np.array(r["embedding"], dtype=np.float32)
            for r in hash_embedding_table(df, "doc_id", "text", dim).collect()
        }
        actual = {
            i: hash_embed_text_local(t, dim) for i, t in texts.items()
        }
        kept = {i for i, v in actual.items() if v is not None}
        assert kept == set(expected)
        assert {texts[i] for i in texts.keys() - kept} == DROPPED_TEXTS
        for i, want in expected.items():
            got = np.array(actual[i], dtype=np.float32)
            assert np.array_equal(got, want), (dim, texts[i])
    for t in DROPPED_TEXTS:
        with pytest.raises(ValueError, match="empty/zero vector"):
            hash_embed_text(spark, t, 64)
    qv = hash_embed_text(spark, "easy recovery jog gentle pace", dim=16)
    assert qv == hash_embed_text_local("easy recovery jog gentle pace", 16)
    assert all(type(x) is float for x in qv)


def test_tokenization_case_and_punct_insensitive(spark):
    df = spark.createDataFrame(
        [(1, "Run, Fast!  RUN fast."), (2, "run fast run fast")],
        "id int, text string",
    )
    out = {r["id"]: list(r["embedding"]) for r in hash_embedding_table(df, "id", "text", dim=8).collect()}
    assert out[1] == out[2]


def test_md5_embedding_matches_pure_python_replay(spark):
    """md5_embedding_table replayed token-for-token with hashlib: bucket =
    md5 60-bit % dim, weight = md5('w'+tok) 60-bit % 1000, bucket sums are
    exact integers that survive the array<float> round trip unchanged."""
    import hashlib
    import re

    from strava_vector_search_spark.functions.embed import md5_embedding_table

    texts = {
        1: "Interval run workout, with speed training & interval pacing!",
        2: "easy recovery jog",
        3: "",  # no tokens -> no output row
    }
    df = spark.createDataFrame(list(texts.items()), "id int, text string")
    out = {
        r["id"]: [float(x) for x in r["embedding"]]
        for r in md5_embedding_table(df, "id", "text", dim=768).collect()
    }
    assert set(out) == {1, 2}  # token-less doc drops out entirely

    def md5i(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    for doc_id in (1, 2):
        expected = [0.0] * 768
        for tok in re.split("[^a-z0-9]+", texts[doc_id].lower()):
            if tok:
                expected[md5i(tok) % 768] += md5i("w" + tok) % 1000
        assert out[doc_id] == expected
        assert all(v == int(v) for v in out[doc_id])  # exact integers


def test_md5_embed_text_local_matches_table_kernel(spark):
    """The driver-side query-embedding twin must be bit-identical to the
    distributed md5 kernel on the same text — including unicode, mixed
    separators, and leading/trailing separators."""
    from strava_vector_search_spark.functions.embed import (
        md5_embed_text_local,
        md5_embedding_table,
    )

    texts = [
        "The quick brown fox; jumps over 42 lazy dogs!",
        "  --leading and trailing--  ",
        "Grüße aus München — naïve café crème",
        "a",
        "repeated repeated repeated tokens tokens",
    ]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    table = {
        r["doc_id"]: [float(x) for x in r["embedding"]]
        for r in md5_embedding_table(df, "doc_id", "text", dim=768).collect()
    }
    for i, t in enumerate(texts):
        assert table[i] == md5_embed_text_local(t, dim=768), f"text {i!r}"


def test_hash_embed_normalize_stays_staged_in_optimized_plan(spark):
    """Regression guard for the O(dim^2) inlining fix: the dense array
    (`_arr`) and the norm (`_n`) must survive optimization as STAGED
    aliases — if CollapseProject ever re-inlines them (each normalized
    element would then rebuild the dim-wide array and recompute the
    dim-wide norm fold), a dim-768 build goes from ~1 s back to ~96 s
    for 500 docs. Plan-shape pin, not a timing pin."""
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f")], "doc_id long, text string"
    )
    emb = hash_embedding_table(docs, "doc_id", "text", dim=768)
    plan = emb._jdf.queryExecution().optimizedPlan().toString()
    assert "_arr#" in plan and "_n#" in plan


def test_zero_vector_docs_dropped_and_counted_at_build(spark):
    """A doc whose every token hashes to weight 0 embeds to the zero
    vector — no L2 direction; stored, it would raise DIVIDE_BY_ZERO in
    every full-cosine consumer under ANSI mode at query time. Both
    embedding builds now DROP it (like token-less docs), making the
    failure a countable build statistic (n_tokenizable - n_rows) instead
    of a per-gate guard. Cannot occur in the shipped testdata; this
    plants one synthetically in each hash lane."""
    import hashlib

    from strava_vector_search_spark.functions.embed import (
        md5_embedding_table,
    )

    def md5i(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    # md5 lane: brute-force a token whose weight hash is 0 mod 1000
    ztok_md5 = next(
        t
        for t in (f"z{i}" for i in range(100_000))
        if md5i("w" + t) % 1000 == 0
    )
    docs_md5 = spark.createDataFrame(
        [(1, "real text here"), (2, f"{ztok_md5} {ztok_md5}"), (3, "...")],
        "doc_id bigint, text string",
    )
    emb_md5 = md5_embedding_table(docs_md5, "doc_id", "text", dim=768)
    assert {r["doc_id"] for r in emb_md5.select("doc_id").collect()} == {1}

    # xxhash64 lane: find a zero-weight token with a Spark probe (the
    # hash is JVM-side); ~1/1000 of candidates qualify
    h = F.xxhash64("tok")
    zrow = (
        spark.range(50_000)
        .select(F.concat(F.lit("t"), F.col("id")).alias("tok"))
        .filter(F.pmod(F.shiftright(h, 8), F.lit(1000)) == 0)
        .head()
    )
    assert zrow is not None, "no zero-weight token among 50k candidates"
    docs_xx = spark.createDataFrame(
        [(1, "real text here"), (2, zrow["tok"])],
        "doc_id bigint, text string",
    )
    emb_xx = hash_embedding_table(docs_xx, "doc_id", "text", dim=64)
    assert {r["doc_id"] for r in emb_xx.select("doc_id").collect()} == {1}
    # the count the build-stats gates surface: tokenizable minus stored
    from strava_vector_search_spark.functions.embed import _tokens

    n_tokenizable = docs_xx.filter(
        F.size(_tokens(F.col("text"))) > 0
    ).count()
    assert n_tokenizable - emb_xx.count() == 1
