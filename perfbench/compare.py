"""Compare two result files written by ``run.py`` under ``.perfbench/results/``.

    python3 perfbench/compare.py BASE.json NEW.json

Refuses (exit 2) to compare results measured with a different core count,
scale factor or workload: figures from different machine shapes are
not comparable, and mixing them has passed off one as the other before.
"""

from __future__ import annotations

import json
import sys

MUST_MATCH = ("cpus", "sf", "workload", "trace")


def compare(base: dict, new: dict) -> list[str]:
    mb, mn = base["summary"]["meta"], new["summary"]["meta"]
    bad = [k for k in MUST_MATCH if mb.get(k) != mn.get(k)]
    if bad:
        raise ValueError("not comparable: " + ", ".join(f"{k} {mb.get(k)!r} vs {mn.get(k)!r}" for k in bad))
    lines = []
    for name, b in base["result"]["metrics"].items():
        n = new["result"]["metrics"].get(name)
        if n is None:
            continue
        ratio = n["value"] / b["value"] if b["value"] else float("nan")
        lines.append(f"{name:40s} {b['value']:14.4f} {n['value']:14.4f} {ratio:8.3f}x {b['unit']}")
    return lines


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(argv[0]) as f:
        base = json.load(f)
    with open(argv[1]) as f:
        new = json.load(f)
    try:
        lines = compare(base, new)
    except ValueError as e:
        print(f"compare: {e}", file=sys.stderr)
        return 2
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
