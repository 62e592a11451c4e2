"""Workout-cache benchmark: one seeded workload, timed end to end, or per
layer with ``--trace 1``.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 8 --trace 0

Run from the root of a checkout of the repository.  The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics untraced, the per-layer metrics
traced).  Lines before it are a readable report.  Everything the run
writes goes under ``.bench_tmp/`` (scratch, removed at exit) and
``.bench_out/`` (traces) in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
DRIVER_MEM = "4g"


def _pin_environment(root: str, scratch: str) -> int:
    """Fix everything the engine reads from the environment, so a run
    measures the same configuration wherever it starts."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Python workers import the engine (pandas UDFs, cloudpickled closures)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(scratch, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    sys.path.insert(0, root)
    return cpus


def _spark_conf(scratch: str, event_dir: str | None) -> dict[str, str]:
    from spans import event_log_conf

    conf = {
        "spark.local.dir": os.path.join(scratch, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={scratch}/derby -Djava.io.tmpdir={scratch}/tmp "
            "-XX:-UsePerfData"),
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(event_log_conf(event_dir))
    return conf


def _children() -> dict[int, int]:
    """{pid: parent pid} for every process visible in /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                    out[int(name)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    return out


def _descendants(pid: int) -> set[int]:
    parents = _children()
    found, frontier = set(), {pid}
    while frontier:
        frontier = {p for p, pp in parents.items() if pp in frontier} - found
        found |= frontier
    return found


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stop_spark(spark) -> None:
    """Stop Spark, end the JVM and wait until every process this run
    started (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    procs = _descendants(os.getpid())
    gateway = SparkContext._gateway
    if spark is not None:
        try:
            spark.stop()
        except Exception:  # noqa: BLE001 - a broken gateway must not stop the shutdown
            traceback.print_exc()
    if gateway is not None:
        gateway.shutdown()
        jvm = getattr(gateway, "proc", None)
        if jvm is not None:
            jvm.stdin.close()  # the gateway server exits when stdin closes
            try:
                jvm.wait(timeout=30)
            except Exception:  # noqa: BLE001 - escalate, then wait again
                jvm.kill()
                jvm.wait()
    deadline = time.monotonic() + 30
    while True:
        alive = procs & set(_children())
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


class Bench:
    """What a workload gets: the session, the tracer, its scratch dir,
    the seed, the measuring window, and a report it fills."""

    def __init__(self, spark, tracer, scratch: str, seed: int, seconds: float, cpus: int):
        self.spark, self.tracer, self.scratch = spark, tracer, scratch
        self.seed, self.seconds, self.cpus = seed, seconds, cpus
        self.attempted = 0
        self.failures: list[str] = []
        self.report: dict[str, tuple] = {}  # name -> (value, unit)
        self.e2e: dict[str, float] = {}
        self.layer_values: dict[str, float] = {}  # per-layer figures not read off spans

    def span(self, name: str, request: int | None = None):
        return self.tracer.span(name, request)

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def timed_setups(self, reps: int, fn):
        """Run the set-up ``fn(rep)`` ``reps`` times, each in fresh
        directories; return the median time and the last set-up's state."""
        times = []
        for rep in range(reps):
            with self.span("setup") as s:
                state = fn(rep)
            times.append(s.seconds)
        return statistics.median(times), state


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("serve", "refresh", "gates"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "strava_vector_search_spark", "session.py")):
        print("perfbench: run from the root of a repository checkout "
              "(strava_vector_search_spark/ not found)", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    scratch = os.path.join(root, ".bench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    # on SIGTERM, still stop Spark and remove the scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return _measure(args, spec, root, scratch)
    finally:
        # .bench_out keeps the traces; everything else the run wrote goes
        shutil.rmtree(scratch, ignore_errors=True)


def _measure(args, spec: dict, root: str, scratch: str) -> int:
    cpus = _pin_environment(root, scratch)
    sys.path.insert(0, HERE)
    import importlib

    import layers
    import spans

    from strava_vector_search_spark.session import get_spark

    event_dir = os.path.join(scratch, "eventlog") if args.trace else None
    spark = None
    try:
        start = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=_spark_conf(scratch, event_dir))
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - start
        tracer = spans.Tracer(spark) if args.trace else spans.NullTracer()
        bench = Bench(spark, tracer, scratch, args.seed, args.seconds, cpus)
        setup_s = importlib.import_module(args.workload).run(bench)
        jvm_pid = spark.sparkContext._gateway.proc.pid
        rss_mb = _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)
    finally:
        _stop_spark(spark)
    if args.trace:
        tracer.fold_event_log(event_dir)

    bench.e2e["setup_s"] = session_s + setup_s
    bench.layer_values["process.peak_rss_mb"] = rss_mb
    bench.report["setup_s"] = (bench.e2e["setup_s"], "s")
    bench.report["peak_rss_mb"] = (rss_mb, "MB")
    bench.report["failed_share"] = (len(bench.failures) / max(1, bench.attempted), "ratio")
    for what in bench.failures[:20]:
        print(f"# FAILED: {what}")
    for name, (value, unit) in bench.report.items():
        print(f"# {args.workload} {name} = {value:.6g} {unit}")
    if args.trace:
        values = layers.per_layer(bench, session_s)
        out = os.path.join(root, ".bench_out", f"trace-{args.workload}-{args.seed}.json")
        tracer.dump(out, {"workload": args.workload, "seed": args.seed,
                          "seconds": args.seconds, "cpus": cpus, "metrics": values,
                          "end_to_end": bench.e2e})
        print(f"# trace written to {os.path.relpath(out, root)}")
    else:
        values = bench.e2e
    listed = spec["per_layer" if args.trace else "end_to_end"]
    print(json.dumps({
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed},
    }))
    return 0

if __name__ == "__main__":
    sys.exit(main())
