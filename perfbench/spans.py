"""Spark-free helpers: spans and self time, percentiles, result hashing.

Kept apart from the Spark-facing code so ``test_perfbench.py`` can check
them without starting a session.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import statistics
import time
from collections.abc import Iterable, Iterator, Sequence
from contextlib import contextmanager

TAIL_BEYOND = 10


def tail_percentile(values: Sequence[float], beyond: int = TAIL_BEYOND) -> tuple[float, float]:
    """``(percentile, value)`` of the highest percentile that leaves at
    least ``beyond`` samples above it: the ``n - beyond``-th smallest of
    ``n`` values, i.e. percentile ``100 * (n - beyond) / n``. With
    ``beyond`` or fewer samples no such percentile exists and the maximum
    is returned as percentile 100."""
    xs = sorted(values)
    if not xs:
        raise ValueError("tail_percentile of no samples")
    k = len(xs) - beyond
    if k < 1:
        return 100.0, xs[-1]
    return 100.0 * k / len(xs), xs[k - 1]


def median(values: Iterable[float]) -> float:
    return statistics.median(list(values))


def _canon(v):
    """JSON-able canonical form of one result cell. Floats keep 6
    significant digits, so partition-order summation noise in the last
    bits does not change the hash."""
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        return float(f"{v:.6g}") + 0.0
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (dt.datetime, dt.date, dt.time)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return sorted(([_canon(k), _canon(x)] for k, x in v.items()), key=repr)
    if hasattr(v, "asDict"):
        return [_canon(x) for x in v]
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    return repr(v)


def result_hash(rows: Iterable[Sequence]) -> str:
    """Order-insensitive hash of a result set: each row is hashed from
    its canonical JSON form and the sorted row digests are hashed
    together, so any permutation of the same rows gives the same hash
    while duplicates still count."""
    digests = sorted(
        hashlib.sha256(json.dumps(_canon(list(r)), separators=(",", ":")).encode()).digest()
        for r in rows
    )
    h = hashlib.sha256()
    for d in digests:
        h.update(d)
    return h.hexdigest()[:16]


class Tracer:
    """In-memory spans: name, start, end, parent and run id, plus labels
    (``attrs``) and the counts measured at the span's boundary.
    Single-threaded: the innermost open span is the parent of the next
    one opened."""

    def __init__(self, run_id: str, clock=time.perf_counter) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[int] = []
        self._clock = clock

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict]:
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "run_id": self.run_id,
            "start": self._clock(),
            "end": None,
            "attrs": dict(attrs),
            "counts": {},
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            self._open.pop()
            rec["end"] = self._clock()

    def self_time(self, span: dict) -> float:
        """The span's duration minus the part of it its children cover."""
        kids = sorted(
            (max(c["start"], span["start"]), min(c["end"], span["end"]))
            for c in self.spans
            if c["parent"] == span["id"] and c["end"] is not None
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"]) - covered

    def totals(self, spans: Iterable[dict] | None = None) -> dict[str, dict]:
        """Per span name: call count, total and self seconds, summed counts."""
        out: dict[str, dict] = {}
        for s in self.spans if spans is None else spans:
            if s["end"] is None:
                continue
            t = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0, "counts": {}})
            t["calls"] += 1
            t["total_s"] += s["end"] - s["start"]
            t["self_s"] += self.self_time(s)
            for k, v in s["counts"].items():
                t["counts"][k] = t["counts"].get(k, 0) + v
        return out

    def descendants(self, root: dict) -> list[dict]:
        """``root`` and every span opened under it."""
        ids, out = {root["id"]}, [root]
        for s in self.spans[root["id"] + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)
