"""Compare two benchmark records (files under .bench_build/perfbench/results/).

    python3 perfbench/compare.py BASE.json NEW.json

Prints, per metric both records carry, the base value, the new value and
new/base. Records taken on hosts with different core counts, or with the
session on a different number of cores, are not comparable: the script
refuses (exit 2) instead of reporting.
"""

from __future__ import annotations

import json
import sys

CORE_FACTS = ("nproc", "spark_cores")


def compare(base: dict, new: dict) -> list[tuple[str, float, float, float | None]]:
    for fact in CORE_FACTS:
        if base["host"][fact] != new["host"][fact]:
            raise ValueError(
                f"refusing to compare: {fact} is {base['host'][fact]} in the base and "
                f"{new['host'][fact]} in the new record"
            )
    if base["workload"] != new["workload"]:
        raise ValueError(f"refusing to compare workload {base['workload']} with {new['workload']}")
    rows = []
    for section in ("end_to_end", "per_layer"):
        a, b = base.get(section, {}), new.get(section, {})
        for name in a.keys() & b.keys():
            rows.append((name, a[name], b[name], b[name] / a[name] if a[name] else None))
    return sorted(rows)


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(argv[0]) as f:
        base = json.load(f)
    with open(argv[1]) as f:
        new = json.load(f)
    try:
        rows = compare(base, new)
    except ValueError as e:
        print(e, file=sys.stderr)
        return 2
    print(f"{'metric':32} {'base':>14} {'new':>14} {'new/base':>9}")
    for name, a, b, ratio in rows:
        print(f"{name:32} {a:14.6g} {b:14.6g} {'-' if ratio is None else f'{ratio:9.3f}':>9}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
