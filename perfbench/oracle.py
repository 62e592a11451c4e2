"""Exact references the benchmark checks the engine against: a numpy
filtered cosine top-k over the stored vectors, the filter DSL evaluated on
plain Python rows, and the 0.80/0.70 cache-decision rubric."""

from __future__ import annotations

import glob
import os

import numpy as np

EXCELLENT, GOOD = 0.80, 0.70  # reference rubric (operators/search.py)
TOL = 2e-6  # the engine rounds similarities to 6 decimals


def decision(sim: float) -> str:
    if sim > EXCELLENT:
        return "CACHE HIT - Excellent Match"
    if sim > GOOD:
        return "CACHE HIT - Good Match"
    return "CACHE MISS - Generate New"


def _cmp(op, a, b):
    if a is None:
        return None  # SQL: a comparison with NULL is unknown
    return {"@eq": a == b, "@gte": a >= b, "@lte": a <= b}[op]


def matches(node: dict | None, row: dict):
    """Three-valued evaluation of the DSL subset the workloads send."""
    if node is None:
        return True
    op, body = next(iter(node.items()))
    if op in ("@and", "@or"):
        vals = [matches(n, row) for n in body]
        if op == "@and":
            return False if False in vals else (None if None in vals else True)
        return True if True in vals else (None if None in vals else False)
    attr, value = next(iter(body.items()))
    return _cmp(op, row[attr], value)


class VectorStore:
    """The stored vectors, read straight from the index parquet files;
    :meth:`update` picks up files appended since the last read."""

    def __init__(self, index_path: str, id_col: str):
        self.index_path, self.id_col = index_path, id_col
        self.files: set[str] = set()
        self.ids: list = []
        self.matrix = np.empty((0, 0))
        self.update()

    def update(self) -> None:
        import pyarrow.parquet as pq

        found = set(glob.glob(os.path.join(self.index_path, "**", "*.parquet"), recursive=True))
        for f in sorted(found - self.files):
            t = pq.read_table(f, columns=[self.id_col, "embedding"])
            if not t.num_rows:
                continue
            m = np.asarray(t.column("embedding").combine_chunks().flatten(), dtype=np.float64)
            m = m.reshape(t.num_rows, -1)
            self.ids += t.column(self.id_col).to_pylist()
            self.matrix = np.vstack([self.matrix, m]) if self.matrix.size else m
        self.files = found


def check_topk(got: list[tuple], sims: np.ndarray, ids: list, allowed: np.ndarray, k: int) -> str | None:
    """Tie-aware comparison of ``got`` = [(id, similarity), ...] in rank
    order against the exact top-k over the rows in ``allowed``.  Returns
    a description of the first mismatch, or None."""
    cand = np.flatnonzero(allowed)
    want = sorted(cand, key=lambda i: (-sims[i], ids[i]))[:k]
    if len(got) != len(want):
        return f"{len(got)} rows, exact top-k has {len(want)}"
    pos = {ids[i]: i for i in cand}
    kth = sims[want[-1]] if len(want) else 0.0
    for rank, ((gid, gsim), w) in enumerate(zip(got, want), 1):
        if gid not in pos:
            return f"rank {rank}: {gid} fails the filter or is not stored"
        if abs(gsim - sims[pos[gid]]) > TOL or abs(gsim - sims[w]) > TOL:
            return f"rank {rank}: similarity {gsim} vs exact {sims[w]}"
    got_ids = {g for g, _ in got}
    for w in want:
        if sims[w] > kth + TOL and ids[w] not in got_ids:
            return f"missing {ids[w]} (similarity {sims[w]})"
    return None


def recall(got_ids: set, want_ids: list) -> float:
    return len(got_ids & set(want_ids)) / len(want_ids) if want_ids else 1.0
