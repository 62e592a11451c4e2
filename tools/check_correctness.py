"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at sf0.01 (or $SF_DIR), compares row count, column-name set, and
order-insensitive values (exact after the queries' own rounding).

Usage: python tools/check_correctness.py [name ...]

If the Spark JVM goes away mid-sweep, the sweep stops at the first gate
that finds the gateway unreachable, prints the last gate that ran and
the command that re-runs the rest by name, and counts every gate not
run as a failure (exit status 1).

Besides the per-gate stdout lines, every full (no-subset) run writes a
machine-readable artifact in the driver's CORRECTNESS_r{N}.json shape to
tools/correctness_snapshots/full_run_<sf>.json, named after the sf dir
(``full_run_sf001.json`` for sf0.01, ``full_run_sf0001.json`` for
sf0.001; override: $CHECK_JSON_OUT), so a complete-gate run at one SF
never overwrites another SF's committed evidence (ADVICE r03 item 3).
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from strava_vector_search_spark.session import get_spark

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")


def artifact_path(sf_dir: str) -> str:
    """Default artifact of a full sweep over ``sf_dir``: one file per sf
    dir, named after its basename without dots."""
    name = os.path.basename(sf_dir.rstrip("/")).replace(".", "")
    return os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "correctness_snapshots",
        f"full_run_{name}.json",
    )


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return float(v)
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return float(v)
    except ImportError:
        pass
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _jvm_lost(e: BaseException) -> bool:
    """True when ``e`` (or an exception it was raised from) says the
    py4j gateway is unreachable: the Spark JVM has exited, so every
    later gate would fail the same way."""
    from py4j.protocol import Py4JNetworkError

    seen = set()
    while e is not None and id(e) not in seen:
        if isinstance(e, (ConnectionRefusedError, Py4JNetworkError)):
            return True
        seen.add(id(e))
        e = e.__cause__ or e.__context__
    return False


def _rows_to_set(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(repr(_norm(r[i])) for i in idx) for r in rows)


def main() -> int:
    only = set(sys.argv[1:])
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    spark = get_spark("correctness-check", master="local[8]", shuffle_partitions=8)

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    failures = []
    results: dict[str, dict] = {}

    def record(name, *, rows_match=False, schema_match=False, hash_match=False,
               spark_rows=None, oracle_rows=None, err=None):
        results[name] = {
            "rows_match": rows_match, "schema_match": schema_match,
            "hash_match": hash_match, "spark_rows": spark_rows,
            "oracle_rows": oracle_rows, "err": err,
        }

    todo = [n for n in queries if not only or n in only]
    last_done = None
    jvm_lost = False
    for pos, name in enumerate(todo):
        fn = queries[name]
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            if _jvm_lost(e):
                # one lost JVM, not a cascade of gate failures: stop and
                # count the gate it hit and every later one as not run
                jvm_lost = True
                unrun = todo[pos:]
                for n in unrun:
                    failures.append(n)
                    record(n, err=f"not run: Spark JVM lost ({e})")
                print(
                    f"JVM LOST at {name}: {e}\n"
                    f"last gate run: {last_done or '(none)'}\n"
                    f"{len(unrun)} gates not run; re-run them with:\n"
                    f"  python tools/check_correctness.py {' '.join(unrun)}"
                )
                break
            failures.append(name)
            record(name, err=f"spark error: {e}")
            print(f"FAIL {name}: spark error: {e}")
            last_done = name
            continue
        last_done = name
        if name not in oracles:
            record(name, rows_match=len(s_rows) >= 0, spark_rows=len(s_rows),
                   err="rows-only (no oracle)")
            print(f"SKIP-ORACLE {name}: rows={len(s_rows)} ({time.time()-t0:.1f}s)")
            continue
        try:
            rel = con.sql(oracles[name])
            d_cols = rel.columns
            d_rows = rel.fetchall()
        except Exception as e:
            failures.append(name)
            record(name, spark_rows=len(s_rows), err=f"duckdb error: {e}")
            print(f"FAIL {name}: duckdb error: {e}")
            continue

        problems = []
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"columns spark={sorted(s_cols)} duck={sorted(d_cols)}")
        if not problems:
            sset, dset = _rows_to_set(s_cols, s_rows), _rows_to_set(d_cols, d_rows)
            if sset != dset:
                diff_s = [r for r in sset if r not in dset][:3]
                diff_d = [r for r in dset if r not in sset][:3]
                problems.append(f"values spark-only={diff_s} duck-only={diff_d}")
        rows_ok = len(s_rows) == len(d_rows)
        schema_ok = sorted(s_cols) == sorted(d_cols)
        record(name, rows_match=rows_ok, schema_match=schema_ok,
               hash_match=not problems, spark_rows=len(s_rows),
               oracle_rows=len(d_rows),
               err="; ".join(problems) if problems else None)
        if problems:
            failures.append(name)
            print(f"FAIL {name}: " + "; ".join(problems))
        else:
            print(f"OK   {name}: rows={len(s_rows)} ({time.time()-t0:.1f}s)")

    if not jvm_lost:
        spark.stop()
    if not only:
        import json

        out_path = os.environ.get("CHECK_JSON_OUT", artifact_path(SF_DIR))
        try:
            os.makedirs(os.path.dirname(out_path), exist_ok=True)
            # context: free-form provenance for the snapshot (e.g. "full
            # sweep at final HEAD" vs "gate X's entry appended after an
            # additive change") — VERDICT r11 item 6 asked that
            # incremental amendments be visible in the artifact itself.
            with open(out_path, "w") as fh:
                json.dump({"sf_dir": SF_DIR, "n_gates": len(results),
                           "n_failures": len(failures),
                           "context": os.environ.get(
                               "CHECK_CONTEXT", "full sweep, one run"),
                           "results": results},
                          fh, indent=1, sort_keys=True)
            print(f"artifact: {out_path}")
        except OSError as e:
            print(f"artifact write failed: {e}")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
