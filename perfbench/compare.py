"""Compare two sets of benchmark results, refusing results from different hosts.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds the ``<workload>-seed<n>-trace0.json`` files that
``run.py`` writes under ``.perfbench_work/results/``. For every workload and
end-to-end metric this prints both medians, each side's spread (distance
between the quartiles over the median) and the change, and marks a change
worse than the metric's bound in ``BENCHMARK.json``. Results whose host
(cores, memory, CPU model, Python/PySpark/Java/DuckDB versions) differ are
not compared. Exits 1 when a metric regressed beyond its bound.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d: str) -> tuple[dict, dict]:
    """({workload: {metric: [values]}}, host) of the untraced results in ``d``."""
    out: dict[str, dict[str, list[float]]] = {}
    hosts = set()
    for path in sorted(glob.glob(os.path.join(d, "*-trace0.json"))):
        with open(path) as f:
            doc = json.load(f)
        hosts.add(json.dumps(doc["report"]["host"], sort_keys=True))
        w = doc["report"]["workload"]
        for name, m in doc["result"]["metrics"].items():
            out.setdefault(w, {}).setdefault(name, []).append(m["value"])
    if len(hosts) != 1:
        raise SystemExit(f"{d}: results from {len(hosts)} hosts; compare one host at a time")
    return out, json.loads(hosts.pop())


def spread(values: list[float]) -> float:
    if len(values) < 2:
        return float("nan")
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def main(base_dir: str, new_dir: str) -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        metrics = {m["name"]: m for m in json.load(f)["end_to_end"]}
    base, base_host = load(base_dir)
    new, new_host = load(new_dir)
    if base_host != new_host:
        print(f"refusing to compare across hosts:\n  {base_host}\n  {new_host}", file=sys.stderr)
        return 2
    worse = 0
    for w in sorted(set(base) & set(new)):
        for name, m in metrics.items():
            a, b = base[w].get(name), new[w].get(name)
            if not a or not b:
                continue
            ma, mb = statistics.median(a), statistics.median(b)
            change = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            flag = "WORSE" if change > m["bound"] else ""
            worse += bool(flag)
            print(f"{w:16s} {name:18s} base={ma:10.2f} (spread {spread(a):.3f}, n={len(a)}) "
                  f"new={mb:10.2f} (spread {spread(b):.3f}, n={len(b)}) "
                  f"worse_by={change:+.3f} bound={m['bound']} {flag}")
    return 1 if worse else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
