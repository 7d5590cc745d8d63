"""Self-test of the benchmark: every workload, traced and untraced, on sf0.001.

    python3 perfbench/smoke.py

Runs ``run.py --smoke`` for each workload ``run.py`` knows with
``--trace 0`` and ``--trace 1`` and asserts that the last line of each run
is a result that prints every metric ``BENCHMARK.json`` names, with its
unit, and reports no failed check. Exits non-zero on the first miss.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check(spec: dict, workload: str, trace: int) -> None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "2", "--trace", str(trace), "--smoke"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} trace={trace}: exit code {proc.returncode}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        raise SystemExit(f"{workload} trace={trace}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        raise SystemExit(f"{workload} trace={trace}: checks failed: {result}")
    wanted = spec["per_layer" if trace else "end_to_end"]
    for m in wanted:
        got = result["metrics"].get(m["name"])
        if got is None or got.get("unit") != m["unit"] or not isinstance(got.get("value"), float):
            raise SystemExit(f"{workload} trace={trace}: metric {m['name']} printed as {got}")
    extra = set(result["metrics"]) - {m["name"] for m in wanted}
    if extra:
        raise SystemExit(f"{workload} trace={trace}: metrics not in BENCHMARK.json: {sorted(extra)}")
    if not trace:
        zero = [k for k, v in result["metrics"].items() if not v["value"] > 0]
        if zero:
            raise SystemExit(f"{workload}: end-to-end metrics not above 0: {zero}")
    print(f"ok {workload} trace={trace}: {len(wanted)} metrics", flush=True)


def main() -> None:
    sys.path.insert(0, HERE)
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for name in workloads.WORKLOADS:  # the on-demand batch_headline too
        for trace in (0, 1):
            check(spec, name, trace)


if __name__ == "__main__":
    main()
