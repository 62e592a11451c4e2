"""Seeded input generator for the workout-cache benchmark.

Everything the engine sees comes from here, as a pure function of the
seed: the raw workout CSV (FIXTURES.md Table 1), the request streams of
the ``serve`` and ``refresh`` workloads, and the tables the
``gates`` workload reads.  The engine receives only the written files and
request dicts; it never sees the seed.
"""

from __future__ import annotations

import itertools
import json
import os
import random

SPORTS = (
    ("run", 0.50), ("ride", 0.245), ("swim", 0.113), ("alpineski", 0.042),
    ("hike", 0.036), ("workout", 0.033), ("yoga", 0.031),
)
DIFFICULTIES = (("easy", 0.28), ("moderate", 0.28), ("hard", 0.31), ("very hard", 0.13))
# (low, high) distance in metres per sport; FIXTURES: swim ~1-4 km, run
# ~4-25 km, ride ~20-100 km
DISTANCE = {
    "run": (4000, 25000), "ride": (20000, 100000), "swim": (1000, 4000),
    "alpineski": (5000, 40000), "hike": (3000, 30000), "workout": (1000, 8000),
    "yoga": (1000, 3000),
}
ZONES = ("<PACE_ZONE_2_LOW>", "<PACE_ZONE_4_HIGH>", "<POWER_ZONE_3_MID>", "<POWER_ZONE_5_MAX>")
CSV_HEADER = (
    "id,embed_str,sport_type,difficulty,moving_time_seconds,distance_meters,"
    "generation_model,workout_source,store_version,raw_json_str,created_at"
)
SYLLABLES = "ka lo mi ra ve zu tor pen dix qua rel sto wim bex nor fal gri hup jad yel".split()


def _pick(rng: random.Random, weighted) -> str:
    names, weights = zip(*weighted)
    return rng.choices(names, weights)[0]


def _word(rng: random.Random, n: int = 3) -> str:
    return "".join(rng.choice(SYLLABLES) for _ in range(n))


class Vocabulary:
    """Per-seed drill vocabulary, grouped into topics.  A workout draws
    most of its drills from one topic's pool, so the corpus clusters the
    way workouts of one kind do, while two workouts still share too little
    for their hash embeddings to pass the 0.70 cut-off.  Novel (miss)
    requests draw from a disjoint pool."""

    TOPICS, TOPIC_SIZE = 16, 150

    def __init__(self, rng: random.Random):
        size = self.TOPICS * self.TOPIC_SIZE
        self.drills = [_word(rng) + str(i) for i in range(size)]
        self.topics = [self.drills[t::self.TOPICS] for t in range(self.TOPICS)]
        self.novel = [_word(rng, 4) + "x" + str(i) for i in range(size)]


def workout(rng: random.Random, vocab: Vocabulary, i: int) -> dict:
    """One WORKOUTS row (FIXTURES.md Table 1) as a dict of Python values."""
    sport = _pick(rng, SPORTS)
    diff = _pick(rng, DIFFICULTIES)
    if diff == "very hard" and rng.random() < 0.25:
        diff = "very_hard"  # the reference's inconsistent spelling
    n = rng.randint(14, 40)
    drills = rng.sample(rng.choice(vocab.topics), n - n // 5) + rng.sample(vocab.drills, n // 5)
    third = max(1, len(drills) // 3)
    title = f"{sport} {diff} session {i}: {' '.join(drills[:2])}"
    text = (
        f"# {title}\n## Warm-up\n• {rng.randint(5, 20)} min easy, {rng.choice(ZONES)}\n"
        f"• {' '.join(drills[2:third])}\n"
        f"## Main Set\n• {rng.randint(2, 8)} x {' '.join(drills[third:2 * third])}, "
        f"{rng.choice(ZONES)}\n"
        f"## Cool-down\n• {' '.join(drills[2 * third:])}\n"
        f"**Tips:** keep it \"smooth\", hydrate, {rng.choice(ZONES)}"
    )
    lo, hi = DISTANCE[sport]
    doc_id = "SLAM_" + "".join(rng.choice("0123456789abcdef") for _ in range(16))
    raw = {
        "workout_title": title,
        "workout_instructions": text,
        "workout_difficulty": diff,
        "sport_specs": [{"sport_type": sport}],
        "structured_workout_source_info": {
            "source": "slam", "source_uid": doc_id, "generation_model": "bedrock-sonnet4.0",
        },
    }
    return {
        "id": doc_id,
        "embed_str": text,
        "sport_type": sport,
        "difficulty": diff,
        "moving_time_seconds": None if rng.random() < 0.05 else rng.randint(900, 14400),
        "distance_meters": None if rng.random() < 0.064 else rng.randint(lo, hi),
        "raw_json_str": json.dumps(raw),
        "created_at": (
            f"2025-{rng.randint(9, 11):02d}-{rng.randint(1, 28):02d} "
            f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:"
            f"{rng.randint(0, 59):02d}.{rng.randint(0, 999):03d}"
        ),
    }


def _q(s: str) -> str:
    return '"' + s.replace('"', '""') + '"'


def _csv_row(w: dict) -> str:
    def num(v):
        return "" if v is None else str(v)  # '' for null ints

    return ",".join([
        w["id"], _q(w["embed_str"]), w["sport_type"], w["difficulty"],
        num(w["moving_time_seconds"]), num(w["distance_meters"]),
        "bedrock-sonnet4.0", "slam", "v1", _q(w["raw_json_str"]), w["created_at"],
    ])


class Corpus:
    """``n`` workouts plus the raw CSV that carries them, with one
    structurally malformed row (an extra field) that ingest must
    quarantine in ``corrupt_rows``."""

    def __init__(self, seed: int, n: int):
        rng = random.Random(f"corpus-{seed}")
        self.vocab = Vocabulary(rng)
        self.docs = [workout(rng, self.vocab, i) for i in range(n)]
        self.bad_id = "SLAM_malformed" + str(seed)

    def write_csv(self, path: str) -> None:
        rows = [CSV_HEADER] + [_csv_row(w) for w in self.docs]
        bad = _csv_row(workout(random.Random(0), self.vocab, -1)).split(",", 1)[1]
        rows.insert(len(rows) // 2, f"{self.bad_id},{bad},extra_field")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("\n".join(rows) + "\n")

    def write_parquet(self, path: str) -> None:
        """The corpus columns the service reads, as one parquet file."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        cols = {c: [d[c] for d in self.docs]
                for c in ("id", "embed_str", "sport_type", "difficulty")}
        cols["distance_meters"] = pa.array([d["distance_meters"] for d in self.docs], pa.int32())
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(pa.table(cols), path)


# -- request streams ---------------------------------------------------------


def _filter_for(rng: random.Random, doc: dict, shape: int) -> dict | None:
    """Filter shape ``shape`` of the four FIXTURES.md Table 3 lists (none;
    ``@eq``; ``@and`` of ``@eq``, ``@gte``, ``@lte``; ``@and`` with a
    nested ``@or`` over difficulty), filled in so that ``doc`` passes it."""
    sport, diff, dist = doc["sport_type"], doc["difficulty"], doc["distance_meters"]
    if shape == 0:
        return None
    if shape == 1 or (shape == 2 and dist is None):
        return {"@eq": {"sport_type": sport}}
    if shape == 2:
        return {"@and": [
            {"@eq": {"sport_type": sport}},
            {"@gte": {"distance_meters": dist - rng.randint(0, 3000)}},
            {"@lte": {"distance_meters": dist + rng.randint(0, 3000)}},
        ]}
    # the reference spells the hardest level both ways; the filter names both
    other = "very hard" if diff == "very_hard" else "very_hard"
    return {"@and": [
        {"@eq": {"sport_type": sport}},
        {"@or": [{"@eq": {"difficulty": diff}}, {"@eq": {"difficulty": other}}]},
    ]}


def perturb(rng: random.Random, text: str) -> str:
    """A near-copy of a stored workout: drop and swap a few tokens."""
    toks = text.split()
    keep = [t for t in toks if rng.random() > 0.08]
    for _ in range(2):
        i, j = rng.randrange(len(keep)), rng.randrange(len(keep))
        keep[i], keep[j] = keep[j], keep[i]
    return " ".join(keep)


def novel_text(rng: random.Random, vocab: Vocabulary) -> str:
    return "workout request " + " ".join(rng.sample(vocab.novel, rng.randint(6, 14)))


# One cycle of the serve mix.  The reference gives no hit rate, so this is
# an assumption (README.md, "Request mix"): three near-copies of stored
# workouts (hits), one novel text (a miss, stored) and one re-issue of a
# workout stored earlier in the run (read-your-writes).
SERVE_CYCLE = ("hit", "hit", "miss", "hit", "reissue")
LIMITS = (1, 3, 5)  # FIXTURES.md Table 3


def serve_stream(seed: int, corpus: Corpus):
    """The serve workload's requests, in order, without end.  ``kind`` is
    ``hit`` (a perturbed stored workout), ``miss`` (novel text) or
    ``reissue`` (the text of the ``ref``-th workout stored earlier in the
    run, resolved by the client because the engine generates it).  Kinds,
    limits and filter shapes each take their values in turn, so every seed
    sends the same sequence of query plans; the seed picks texts and
    values."""
    rng = random.Random(f"serve-{seed}")
    hits = 0
    for i in itertools.count():
        kind = SERVE_CYCLE[i % len(SERVE_CYCLE)]
        k = LIMITS[i % len(LIMITS)]
        if kind == "hit":
            doc = rng.choice(corpus.docs)
            yield {"kind": kind, "text": perturb(rng, doc["embed_str"]),
                   "filter": _filter_for(rng, doc, hits % 4), "limit": k}
            hits += 1
        elif kind == "miss":
            sport = _pick(rng, SPORTS)
            yield {"kind": kind, "text": novel_text(rng, corpus.vocab),
                   "filter": {"@eq": {"sport_type": sport}}, "limit": k, "sport": sport}
        else:
            yield {"kind": kind, "ref": rng.randrange(1 << 30), "limit": k}


# the filter_json bodies FIXTURES.md Table 3 lists, in turn: a refresh
# batch repeats a handful of filter bodies
REFRESH_FILTERS = (
    {"@eq": {"sport_type": "run"}},
    {"@and": [{"@eq": {"sport_type": "run"}},
              {"@gte": {"distance_meters": 4500}}, {"@lte": {"distance_meters": 6000}}]},
    {"@and": [{"@eq": {"sport_type": "ride"}},
              {"@or": [{"@eq": {"difficulty": "hard"}},
                       {"@eq": {"difficulty": "very_hard"}}]}]},
)


def refresh_batches(seed: int, corpus: Corpus, batch: int, limit: int):
    """Batches of text requests for the refresh workload, without end: the
    cache is refreshed for near-copies of stored workouts, so every request
    has true neighbours and recall measures the index, not the text."""
    rng = random.Random(f"refresh-{seed}")
    while True:
        reqs = []
        for i in range(batch):
            reqs.append({"query": perturb(rng, rng.choice(corpus.docs)["embed_str"]),
                         "limit": limit, "filter": REFRESH_FILTERS[i % len(REFRESH_FILTERS)]})
        yield reqs


# -- tables for the gates workload -------------------------------------------


def write_tables(seed: int, out_dir: str, scale: float = 0.001) -> None:
    """The tables the query gates read (``lineitem``, ``events``,
    ``documents``, ``embeddings``), shaped like the tables they are written
    against (column names, types and value domains), at ``scale`` (0.001 ~
    6,000 lineitems)."""
    import datetime as dt

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_supp, n_part = max(10, int(10_000 * scale)), int(200_000 * scale)
    n_ord, n_line = int(1_500_000 * scale), int(6_000_000 * scale)
    n_ev, n_doc = max(1000, int(1_000_000 * scale)), max(500, int(500_000 * scale))

    def ts(start: dt.datetime, days: np.ndarray) -> pa.Array:
        base = np.datetime64(start, "us")
        return pa.array(base + (days * 86_400_000_000).astype("timedelta64[us]"))

    def choice(options, n, p=None):
        return pa.array(np.asarray(options, dtype=object)[rng.choice(len(options), n, p=p)])

    words = np.array("fast column small filter query the window scan vector merge hash stream "
                     "join table data row big slow agg batch group order value sort key part "
                     "line customer spark a dup".split())
    tables = {}
    odays = rng.integers(0, 2400, n_ord)  # each order's date, which its lines ship after
    l_ord = np.sort(rng.integers(0, n_ord, n_line)).astype(np.int64)
    linenum = np.ones(n_line, dtype=np.int32)
    for i in range(1, n_line):
        if l_ord[i] == l_ord[i - 1]:
            linenum[i] = linenum[i - 1] + 1
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = {
        "l_orderkey": pa.array(l_ord),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(linenum),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": choice(["N", "R", "A"], n_line, p=[0.5, 0.25, 0.25]),
        "l_linestatus": choice(["F", "O"], n_line),
        "l_shipdate": ts(dt.datetime(1995, 1, 2), odays[l_ord] + rng.integers(1, 122, n_line)),
    }
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    tables["events"] = {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(15, n_ev // 66), n_ev, dtype=np.int64)),
        "event_type": choice(["click", "purchase", "error", "signup", "view"], n_ev),
        "value": pa.array(np.round(rng.exponential(60.0, n_ev) + 0.01, 2)),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]),
    }
    texts = [" ".join(rng.choice(words, rng.integers(8, 90))) for _ in range(n_doc)]
    tables["documents"] = {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": choice(["en", "fr", "es", "zh", "de"], n_doc),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }
    emb = rng.normal(size=(n_doc, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_doc, dtype=np.int32)),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
