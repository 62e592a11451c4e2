"""``gates``: a fixed set of analytics gates from ``queries.py``, each run
through the callable ``bench.py`` uses (its lean twin when one exists),
first cold in the fresh session, then warm in repeated passes.

Outputs are compared with each gate's DuckDB oracle twin after the timed
region, with the comparison ``tools/check_correctness.py`` applies (row
count, column names, order-insensitive normalized values).  A lean twin
returns a different relation from the full gate, so lean gates are listed
as unchecked.
"""

from __future__ import annotations

import math
import os
import statistics

import gen

SETUP_REPS = 2
# grouped by the part of the engine each covers (see README.md)
GATES = (
    # reference search paths
    "vs_topk_filtered", "svc_search_dsl_768",
    # shared session kernel
    "ev_markov_transition_matrix",
    # job floor
    "ml_decision_stump",
    # plain-SQL control
    "q1_pricing_summary",
)
# the tables the gates above read
TABLES = ("embeddings", "documents", "events", "lineitem")


# the comparison tools/check_correctness.py makes, restated so the
# benchmark's checks do not move when the tools change
def _norm(v):
    import decimal

    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _as_set(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(repr(_norm(r[i])) for i in idx) for r in rows)


def compare(oracle_sql: str, sf_dir: str, cols, rows) -> str | None:
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        rel = con.sql(oracle_sql)
        d_cols, d_rows = rel.columns, rel.fetchall()
    finally:
        con.close()
    if len(rows) != len(d_rows):
        return f"rowcount spark={len(rows)} duckdb={len(d_rows)}"
    if sorted(cols) != sorted(d_cols):
        return f"columns spark={sorted(cols)} duckdb={sorted(d_cols)}"
    if _as_set(cols, rows) != _as_set(d_cols, d_rows):
        return "values differ"
    return None


def run(bench) -> float:
    from strava_vector_search_spark.benchmarks import LEAN_BENCH
    from strava_vector_search_spark.io.tables import load_table
    from strava_vector_search_spark.oracles import ORACLES
    from strava_vector_search_spark.queries import QUERIES

    spark = bench.spark

    def setup(rep):
        sf_dir = os.path.join(bench.scratch, f"sf{rep}")
        gen.write_tables(bench.seed, sf_dir)
        with bench.span("io.load_tables"):
            for t in TABLES:
                load_table(spark, sf_dir, t).count()
        return sf_dir

    setup_s, sf_dir = bench.timed_setups(SETUP_REPS, setup)
    fns = {g: LEAN_BENCH.get(g) or QUERIES[g] for g in GATES}
    results, cold, warm = {}, {}, {g: [] for g in GATES}

    def call(g, phase):
        bench.attempted += 1
        try:
            with bench.span(f"gates.{g}.{phase}") as s:
                df = fns[g](spark, sf_dir)
                rows = df.collect()
                s.rows = len(rows)
        except Exception as e:  # noqa: BLE001 - a failing gate is counted, the run goes on
            bench.fail(f"{g} ({phase}): {type(e).__name__}: {str(e)[:200]}")
            return None
        return s.seconds, df.columns, rows

    with bench.span("gates.pass") as cold_pass:
        for g in GATES:
            out = call(g, "cold")
            if out:
                cold[g], results[g] = out[0], out[1:]
    passes, measured = [], 0.0
    while measured < bench.seconds:
        with bench.span("gates.pass") as p:
            for g in GATES:
                out = call(g, "warm")
                if out:
                    warm[g].append(out[0])
        passes.append(p.seconds)
        measured += p.seconds

    unchecked = []
    for g in GATES:
        if g in LEAN_BENCH or g not in ORACLES or g not in results:
            unchecked.append(g)
            continue
        err = compare(ORACLES[g], sf_dir, *results[g])
        if err:
            bench.fail(f"{g}: oracle mismatch: {err}")

    calls = [t for ts in warm.values() for t in ts]
    bench.e2e.update(
        latency_p50_ms=statistics.median(calls) * 1e3,
        throughput_rps=len(calls) / measured,
    )
    bench.report.update(
        gates_cold_s=(sum(cold.values()), "s"),
        gates_warm_s=(sum(statistics.median(ts) for ts in warm.values() if ts), "s"),
        warm_passes=(len(passes), "count"),
        oracle_checked=(len(GATES) - len(unchecked), "count"),
    )
    print("# gates without an oracle check: " + (", ".join(unchecked) or "none"))
    return setup_s
