"""Fold of a traced run's spans into the per-layer metrics.

:func:`per_layer` computes every per-layer figure the benchmark knows; a
layer the workload never calls reports 0 (no time, no jobs).  Names,
units and directions live in ``BENCHMARK.json`` only; ``run.py`` reports
the ones listed there.
"""

from __future__ import annotations

import statistics

from gates import GATES


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class _Spans:
    def __init__(self, spans):
        self.spans = spans
        self.by_name: dict[str, list] = {}
        for s in spans:
            self.by_name.setdefault(s.name, []).append(s)
        self._index = {id(s): i for i, s in enumerate(spans)}
        self._kids: dict[int, list[int]] = {}
        for i, s in enumerate(spans):
            if s.parent is not None:
                self._kids.setdefault(s.parent, []).append(i)

    def named(self, name: str) -> list:
        return self.by_name.get(name, [])

    def subtree(self, top) -> list:
        """``top`` and every span under it."""
        out, todo = [], [self._index[id(top)]]
        while todo:
            i = todo.pop()
            out.append(self.spans[i])
            todo += self._kids.get(i, [])
        return out

    def total(self, top, key: str) -> float:
        """A folded event-log metric summed over ``top``'s subtree."""
        return sum(s.metrics.get(key, 0) for s in self.subtree(top))

    def count(self, top, key: str) -> int:
        return sum(getattr(s, key) for s in self.subtree(top))

    def med(self, name: str, scale: float = 1.0) -> float:
        return _median([s.seconds * scale for s in self.named(name)])

    def med_count(self, name: str, key: str = "jobs") -> float:
        return _median([self.count(s, key) for s in self.named(name)])

    def per_request(self, names: tuple[str, ...], key: str) -> float:
        """Median over requests of ``key`` summed across the named spans."""
        acc: dict[int, int] = {}
        for n in names:
            for s in self.named(n):
                acc[s.request] = acc.get(s.request, 0) + self.count(s, key)
        return _median(list(acc.values()))

    def read_per_row(self, name: str) -> float:
        spans = self.named(name)
        rows = sum(s.rows for s in spans)
        return sum(self.total(s, "records_read") for s in spans) / rows if rows else 0.0

    def task_fraction(self, name: str, cpus: int) -> float:
        tops = self.named(name)
        wall = sum(s.seconds for s in tops)
        run_ms = sum(self.total(s, "run_ms") for s in tops)
        return run_ms / 1e3 / (wall * cpus) if wall else 0.0


def per_layer(bench, session_s: float) -> dict[str, float]:
    sp = _Spans(bench.tracer.spans)
    lookup = ("service.plan", "service.exec")
    store = ("io.corpus_append", "refresh.embed_append", "service.reattach")
    rounds = sp.named("refresh.round")
    out = {
        "session.start_s": session_s,
        "io.ingest_s": sp.med("io.ingest"),
        "embed.corpus_s": sp.med("embed.corpus"),
        "embed.query_ms": sp.med("embed.query", 1e3),
        "embed.query_jobs": sp.med_count("embed.query"),
        "service.plan_ms": sp.med("service.plan", 1e3),
        "service.exec_ms": sp.med("service.exec", 1e3),
        "service.lookup_jobs": sp.per_request(lookup, "jobs"),
        "service.lookup_stages": sp.per_request(lookup, "stages"),
        "service.lookup_tasks": sp.per_request(lookup, "tasks"),
        "service.rows_read_per_hit": sp.read_per_row("service.exec"),
        "io.corpus_append_ms": sp.med("io.corpus_append", 1e3),
        "refresh.embed_append_ms": sp.med("refresh.embed_append", 1e3),
        "refresh.write_jobs": sp.per_request(store, "jobs"),
        "service.reattach_ms": sp.med("service.reattach", 1e3),
        "ann.build_ivf_s": sp.med("ann.build_ivf"),
        "ann.build_ivf_jobs": sp.med_count("ann.build_ivf"),
        "pq.train_s": sp.med("pq.train"),
        "pq.encode_write_s": sp.med("pq.encode_write"),
        "pq.attach_s": sp.med("pq.attach"),
        "service.batch_plan_s": sp.med("service.batch_plan"),
        "service.batch_exec_s": sp.med("service.batch_exec"),
        "service.batch_jobs": sp.per_request(("service.batch_plan", "service.batch_exec"), "jobs"),
        "service.approx_plan_s": sp.med("service.approx_plan"),
        "service.approx_exec_s": sp.med("service.approx_exec"),
        "service.approx_jobs": sp.per_request(
            ("service.approx_plan", "service.approx_exec"), "jobs"),
        "ann.rows_read_per_result": sp.read_per_row("service.batch_exec"),
        "pq.rows_read_per_result": sp.read_per_row("service.approx_exec"),
        "serve.task_fraction": sp.task_fraction("serve.request", bench.cpus),
        "refresh.task_fraction": sp.task_fraction("refresh.round", bench.cpus),
        "refresh.shuffle_bytes": _median([
            sp.total(r, "shuffle_read_bytes") + sp.total(r, "shuffle_write_bytes")
            for r in rounds]),
        "trace.bookkeeping_ms": bench.tracer.bookkeeping_s * 1e3,
    }
    # figures the workloads read off their outputs, 0 where not measured
    out.update({"io.index_files": 0, "ann.recall_at_10": 0.0, "pq.recall_at_10": 0.0})
    out.update(bench.layer_values)
    out["gates.task_fraction"] = sp.task_fraction("gates.pass", bench.cpus)
    for g in GATES:
        warm = sp.named(f"gates.{g}.warm")
        out[f"gates.{g}.cold_s"] = sp.med(f"gates.{g}.cold")
        out[f"gates.{g}.warm_s"] = sp.med(f"gates.{g}.warm")
        out[f"gates.{g}.jobs"] = _median([s.jobs for s in warm])
        out[f"gates.{g}.stages"] = _median([s.stages for s in warm])
    return out
