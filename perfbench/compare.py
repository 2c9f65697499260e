"""Compare two sets of benchmark records, metric by metric.

    python3 perfbench/compare.py .perfbench/records/a-*.json -- .perfbench/records/b-*.json

Prints, per workload and metric, each side's median and the change. Records
made with different cpu counts (``nproc`` or ``SPARK_GRAFT_CPUS``) are never
compared: the command refuses and exits 2.
"""

from __future__ import annotations

import json
import statistics
import sys


def cpus(rec: dict) -> tuple:
    return rec["env"]["nproc"], rec["env"]["SPARK_GRAFT_CPUS"]


def medians(records: list[dict]) -> dict:
    vals: dict = {}
    for r in records:
        for k, m in r["metrics"].items():
            vals.setdefault((r["workload"], r["trace"], k), []).append(m["value"])
    return {k: statistics.median(v) for k, v in vals.items()}


def compare(base: list[dict], new: list[dict]) -> list[tuple]:
    """(workload, trace, metric, base median, new median, new/base) rows;
    raises ValueError when the two sides ran on different cpu counts."""
    counts = {cpus(r) for r in base + new}
    if len(counts) != 1:
        raise ValueError(f"records come from different cpu counts {sorted(counts, key=str)}")
    a, b = medians(base), medians(new)
    return [(*k, a[k], b[k], b[k] / a[k] if a[k] else None) for k in sorted(a) if k in b]


def main(argv: list[str]) -> int:
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    i = argv.index("--")
    load = lambda paths: [json.load(open(p)) for p in paths]  # noqa: E731
    try:
        rows = compare(load(argv[:i]), load(argv[i + 1:]))
    except ValueError as e:
        print(f"compare: refused: {e}", file=sys.stderr)
        return 2
    for w, t, k, x, y, ratio in rows:
        print(f"{w:14} trace={t} {k:60} {x:12.4f} {y:12.4f} {'' if ratio is None else f'{ratio:.3f}x'}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
