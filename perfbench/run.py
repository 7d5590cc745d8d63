"""Layered benchmark of the engine: one workload per run.

    python3 perfbench/run.py --workload batch_headline --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its input tables under
``.perfbench_work/`` (once per checkout; they do not depend on the seed),
starts from an empty ``.scratch/``, sets the system up three times (the
median is ``setup_s``), checks every output it gets, measures for
``--seconds`` and prints two JSON lines: a report (host, per-op detail,
failures) and, last, the result::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {name: {"value", "unit"}}}

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``,
``--trace 1`` the per-layer ones (see perfbench/README.md). The exit code
is 1 when any output check fails and 2 when the engine cannot be imported.
``--smoke`` shrinks the inputs to sf0.001 for the self-test.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

#: the generated fixture does not depend on --seed: every seed measures the
#: same tables, and the seed varies query order and stream payloads
TABLE_SEED = 42
#: bump when datagen.py changes, so cached tables are regenerated
TABLE_VERSION = 1
SCALE = {"batch": 0.1, "stream": 0.01}

#: bench.py's session: 4 local cores, 16 shuffle partitions, AQE off
MASTER = "local[4]"
SESSION_CONFS = {
    "spark.sql.adaptive.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class Bench:
    """Run arguments plus the services every workload uses."""

    def __init__(self, args, spans) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.smoke = args.smoke
        self.work = os.path.join(ROOT, ".perfbench_work")
        self.spans = spans
        self.mem = None  # the PeakMem sampler of the run

    def sf_dir(self, kind: str) -> str:
        import datagen

        sf = 0.001 if self.smoke else SCALE[kind]
        d = os.path.join(self.work, "data", f"v{TABLE_VERSION}-seed{TABLE_SEED}", f"sf{sf}")
        if not os.path.exists(os.path.join(d, "_DONE")):
            shutil.rmtree(d, ignore_errors=True)
            datagen.write(d, sf, TABLE_SEED)
            open(os.path.join(d, "_DONE"), "w").close()
        return d

    def new_session(self):
        from python_kinesis_streaming_spark.session import build_session

        spark = build_session(
            app_name="perfbench", master=MASTER, shuffle_partitions=16,
            extra_confs=SESSION_CONFS,
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def clear_scratch(self) -> None:
        """Same start state for every set-up: no replay chunks, checkpoints
        or op side-tables left by an earlier run or set-up."""
        from python_kinesis_streaming_spark.streaming.replay import SCRATCH

        shutil.rmtree(SCRATCH, ignore_errors=True)
        shutil.rmtree(os.path.join(self.work, "ckpt"), ignore_errors=True)


def tree_sha() -> str:
    """Content hash of the engine sources: the version being measured (a
    checkout need not be a git repository)."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "python_kinesis_streaming_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                p = os.path.join(d, name)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def host_info() -> dict:
    import duckdb
    import pyspark
    from pyspark import SparkContext

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    cpu = ""
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                cpu = line.split(":", 1)[1].strip()
                break
    jvm = SparkContext._jvm
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_gb": round(mem_kb / 2**20),
        "cpu": cpu,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version") if jvm else None,
        "duckdb": duckdb.__version__,
    }


def stop_jvm() -> None:
    """Stop the Spark context and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def main(argv=None) -> int:
    import tracing as tr
    import workloads

    bench_spec = spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=bench_spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    try:
        import python_kinesis_streaming_spark  # noqa: F401  the system under test
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2

    bench = Bench(args, tr.Spans(enabled=bool(args.trace)))
    os.makedirs(bench.work, exist_ok=True)
    t_run = time.perf_counter()
    try:
        with tr.PeakMem() as bench.mem:
            outcome = workloads.WORKLOADS[args.workload](bench)
        host = host_info()
    finally:
        stop_jvm()
    outcome.metrics["peak_mem_mb"] = bench.mem.peak_mb

    wanted = bench_spec["per_layer" if args.trace else "end_to_end"]
    values = outcome.layers if args.trace else outcome.metrics
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    result = {
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": metrics,
    }
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host, "tree_sha": tree_sha(),
        "failed_ratio": outcome.failed / outcome.attempted,
        "failures": outcome.failures[:20], "run_s": time.perf_counter() - t_run,
        **outcome.report,
        **({"layers": outcome.layers} if args.trace else {}),
    }
    results = os.path.join(bench.work, "results")
    os.makedirs(results, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(results, stem + ".json"), "w") as f:
        json.dump({"report": report, "result": result}, f, indent=1)
    if args.trace:
        bench.spans.dump(os.path.join(results, stem + "-spans.json"))
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
