"""Compare two sets of benchmark records, refusing records from other hosts.

    python3 perfbench/run.py --workload pipeline_cold --seed 1 --seconds 10 --out a.jsonl
    python3 perfbench/compare.py a.jsonl b.jsonl

Each file holds records written by ``run.py --out`` (one JSON object per
line). Prints, per workload and metric, the median and quartiles of each
side and the change of the median from the first side to the second.
"""

from __future__ import annotations

import json
import sys
from collections import defaultdict

import measure


def load(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def compare(path_a: str, path_b: str) -> list[tuple]:
    """Rows (workload, metric, quartiles of a, quartiles of b, change).
    Raises measure.HostMismatch when any two records' host tags differ."""
    a, b = load(path_a), load(path_b)
    if not a or not b:
        raise ValueError("nothing to compare: a file holds no records")
    for rec in a[1:] + b:
        measure.check_same_host(a[0]["host"], rec["host"])
    sides = [defaultdict(lambda: defaultdict(list)) for _ in range(2)]
    for side, recs in zip(sides, (a, b)):
        for rec in recs:
            for name, value in rec["metrics"].items():
                side[rec["workload"]][name].append(value)
    rows = []
    for wl in sorted(set(sides[0]) & set(sides[1])):
        for name in sorted(set(sides[0][wl]) & set(sides[1][wl])):
            qa = measure.quartiles(sides[0][wl][name])
            qb = measure.quartiles(sides[1][wl][name])
            change = qb["median"] / qa["median"] - 1 if qa["median"] else 0.0
            rows.append((wl, name, qa, qb, change))
    return rows


def main(argv=None) -> int:
    args = sys.argv[1:] if argv is None else argv
    if len(args) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    try:
        rows = compare(*args)
    except (measure.HostMismatch, ValueError) as e:
        print(f"compare: {e}", file=sys.stderr)
        return 1
    for wl, name, qa, qb, change in rows:
        print(
            f"{wl:16s} {name:32s} n={qa['n']}/{qb['n']}"
            f" {qa['median']:.6g} [{qa['q1']:.6g}, {qa['q3']:.6g}]"
            f" -> {qb['median']:.6g} [{qb['q1']:.6g}, {qb['q3']:.6g}]"
            f" {change:+.1%}"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
