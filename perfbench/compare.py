#!/usr/bin/env python3
"""Compare two sets of benchmark records, refusing mismatched inputs.

    python3 perfbench/compare.py BASE_DIR HEAD_DIR

Each directory holds the records ``run.py`` writes to
.perfbench_work/results/ (one JSON file per workload, seed and trace mode).
Records are paired by file name. A pair whose world fingerprints differ was
measured on different inputs, for instance after a change to the fixture
generator, and the comparison is refused with exit code 1. Otherwise each
metric's median over the base and head records is printed per workload.
"""

from __future__ import annotations

import json
import sys
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from perfbench import stats  # noqa: E402


def load(directory: Path) -> dict[str, dict]:
    return {
        p.name: json.loads(p.read_text())
        for p in sorted(directory.glob("*.json"))
        if not p.name.endswith("-spans.json")
    }


def mismatches(base: dict[str, dict], head: dict[str, dict]) -> list[str]:
    """Why the two sets cannot be compared; empty if they can."""
    problems = [f"{name}: only in one set" for name in sorted(set(base) ^ set(head))]
    for name in sorted(set(base) & set(head)):
        if base[name]["fingerprint"] != head[name]["fingerprint"]:
            problems.append(f"{name}: world fingerprints differ")
    return problems


def medians(records: dict[str, dict]) -> dict[tuple[str, int], dict[str, float]]:
    """(workload, trace) -> metric -> median over the records' values."""
    values: dict = defaultdict(lambda: defaultdict(list))
    for record in records.values():
        for metric, value in record["metrics"].items():
            values[(record["workload"], record["trace"])][metric].append(value)
    return {k: {m: stats.median(v) for m, v in ms.items()} for k, ms in values.items()}


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, head = load(Path(argv[0])), load(Path(argv[1]))
    problems = mismatches(base, head)
    if not base or problems:
        print("refusing to compare:", *problems or ["no records"], sep="\n  ", file=sys.stderr)
        return 1
    base_m, head_m = medians(base), medians(head)
    for key in sorted(base_m):
        print(f"== {key[0]} (trace {key[1]})")
        for metric, b in base_m[key].items():
            h = head_m[key][metric]
            change = f"{100 * (h / b - 1):+.1f}%" if b else "n/a"
            print(f"  {metric:48s} {b:14.4f} {h:14.4f} {change:>8s}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
