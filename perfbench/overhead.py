"""Tracing overhead and count repeatability for one workload and seed.

    python3 perfbench/overhead.py --workload serve --seed 1 --seconds 20

Runs the workload once untraced and twice traced (from the root of a
checkout), then prints, for each end-to-end metric, the traced value minus
the untraced one: the cost of tracing.  It also checks that the job, stage
and task counts of every span the two traced runs share are identical; the
counts are the noise-free part of a trace.  Exits 1 if they differ.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys


def _run(args, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def _counts(path: str) -> dict:
    """{(name, request, occurrence): (jobs, stages, tasks)} of a trace."""
    with open(path, encoding="utf-8") as fh:
        spans = json.load(fh)["spans"]
    seen: dict = {}
    out = {}
    for s in spans:
        key = (s["name"], s["request"])
        seen[key] = seen.get(key, 0) + 1
        out[(*key, seen[key])] = (s["jobs"], s["stages"], s["tasks"])
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()
    trace_path = os.path.join(".bench_out", f"trace-{args.workload}-{args.seed}.json")

    untraced = _run(args, 0)["metrics"]
    traces = []
    for n in range(2):
        _run(args, 1)
        kept = f"{trace_path[:-5]}.{n}.json"
        shutil.move(trace_path, kept)
        traces.append(kept)
    with open(traces[0], encoding="utf-8") as fh:
        traced = json.load(fh)["end_to_end"]
    for name, m in untraced.items():
        diff = traced[name] - m["value"]
        print(f"{name}: untraced {m['value']:.6g} traced {traced[name]:.6g} "
              f"overhead {diff:+.6g} {m['unit']} ({diff / m['value']:+.1%})")

    a, b = (_counts(p) for p in traces)
    shared = sorted(set(a) & set(b), key=str)
    differ = [k for k in shared if a[k] != b[k]]
    for k in differ:
        print(f"counts differ for span {k}: {a[k]} vs {b[k]}")
    print(f"{len(shared) - len(differ)} of {len(shared)} shared spans have identical "
          "job, stage and task counts")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
