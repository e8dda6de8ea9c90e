"""Compare two benchmark result records (``.perfbench/results/*.json``).

    python3 perfbench/compare.py BASE.json NEW.json

Prints each metric's base value, new value and change, and refuses (exit 2)
when the records were taken at different core counts or on different
workloads: such numbers are not comparable.
"""

from __future__ import annotations

import json
import sys


def compare(base: dict, new: dict) -> list[tuple[str, float, float, float]]:
    if base["machine"]["nproc"] != new["machine"]["nproc"]:
        raise ValueError(
            f"refusing to compare: nproc {base['machine']['nproc']} vs {new['machine']['nproc']}"
        )
    if base["workload"] != new["workload"]:
        raise ValueError(f"refusing to compare workloads {base['workload']} and {new['workload']}")
    section = "per_layer" if "per_layer" in base and "per_layer" in new else "end_to_end"
    rows = []
    for name, b in base[section].items():
        n = new[section].get(name)
        if n is not None:
            rows.append((name, b, n, (n - b) / b if b else 0.0))
    return rows


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = (json.loads(open(p).read()) for p in argv)
    try:
        rows = compare(base, new)
    except ValueError as e:
        print(e, file=sys.stderr)
        return 2
    for name, b, n, change in rows:
        print(f"{name:45s} {b:14.4f} {n:14.4f} {change:+8.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
