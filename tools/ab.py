"""Interleaved A/B of the layered benchmark between two commits.

    python tools/ab.py BASE NEW --workload batch_head --seeds 1-10
    python tools/ab.py BASE NEW --workload stream_replay --seeds 1-4 --out ab.json

Exports each commit with ``git archive`` into its own directory, then
runs ``perfbench/run.py --trace 0`` once per seed on each side, for the
``run_seconds`` that ``BENCHMARK.json`` sets. The side that runs first
alternates from seed to seed (BASE on the first), so a drift in the
machine's load falls on both sides alike. For every
end-to-end metric that ``BENCHMARK.json`` gates, it prints each side's
median and interquartile range over the seeds and the number of seed
pairs in which NEW is better, then whether NEW is better on at least 9
pairs in 10 and in the median by more than BASE's interquartile range.
``--out`` also writes the raw per-seed metrics as JSON.

A commit with uncommitted changes can be measured as the commit that
``git stash create`` prints. Each run is one process on ``local[4]``
(~40-60 s); run nothing else on the machine meanwhile.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(spec: str) -> list[int]:
    """``"1-10"`` or ``"1,3,5"`` (or a mix) as a list of seeds."""
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def _iqr(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q3 - q1


def fold(pairs: list[tuple[dict, dict]], better: dict[str, str]) -> dict[str, dict]:
    """Fold per-seed ``(base, new)`` metric maps into one row per metric:
    each side's median and IQR, ``wins`` (pairs where NEW is strictly
    better), ``n`` (pairs where both sides report the metric) and
    ``gain`` (wins on at least 9 pairs in 10 and the median better by
    more than BASE's IQR)."""
    rows = {}
    for name, direction in better.items():
        both = [(b[name], n[name]) for b, n in pairs if name in b and name in n]
        if not both:
            continue
        base, new = [b for b, _ in both], [n for _, n in both]
        sign = 1.0 if direction == "lower" else -1.0
        wins = sum(sign * (b - n) > 0 for b, n in both)
        mb, mn = statistics.median(base), statistics.median(new)
        rows[name] = {
            "base_median": mb, "base_iqr": _iqr(base),
            "new_median": mn, "new_iqr": _iqr(new),
            "wins": wins, "n": len(both),
            "gain": 10 * wins >= 9 * len(both) and sign * (mb - mn) > _iqr(base),
        }
    return rows


def export(commit: str, dest: str) -> str:
    """Extract ``commit``'s tracked files into ``dest`` with git archive."""
    tar = subprocess.run(
        ["git", "archive", "--format=tar", commit], cwd=ROOT,
        capture_output=True, check=True,
    ).stdout
    os.makedirs(dest, exist_ok=True)
    with tarfile.open(fileobj=io.BytesIO(tar)) as t:
        t.extractall(dest, filter="data")
    return dest


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict | None:
    """One perfbench run in ``checkout``: its metrics as name -> value,
    or None when it failed or returned wrong rows."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True, timeout=1800,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode or not lines:
        print(f"ab: {checkout} seed {seed} failed:\n{p.stderr[-2000:]}", file=sys.stderr)
        return None
    result = json.loads(lines[-1])
    if not result["correct"]:
        print(f"ab: {checkout} seed {seed} returned wrong rows", file=sys.stderr)
        return None
    return {k: m["value"] for k, m in result["metrics"].items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workdir", help="where the two checkouts go (default: a temp dir)")
    ap.add_argument("--out", help="write the per-seed metrics here as JSON")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    work = args.workdir or tempfile.mkdtemp(prefix="ab-")
    sides = {
        "base": export(args.base, os.path.join(work, "base")),
        "new": export(args.new, os.path.join(work, "new")),
    }
    pairs, raw = [], []
    for i, seed in enumerate(parse_seeds(args.seeds)):
        order = ("base", "new") if i % 2 == 0 else ("new", "base")
        got = {s: run_once(sides[s], args.workload, seed, bench["run_seconds"]) for s in order}
        raw.append({"seed": seed, "first": order[0], **got})
        print(f"seed {seed} ({order[0]} first): base {got['base']} new {got['new']}", flush=True)
        if got["base"] is not None and got["new"] is not None:
            pairs.append((got["base"], got["new"]))
    rows = fold(pairs, {m["name"]: m["better"] for m in bench["end_to_end"]})
    print(f"{args.workload}: {len(pairs)} pairs, {args.base} -> {args.new}")
    print(f"{'metric':14s} {'base median':>12s} {'IQR':>9s} {'new median':>12s} {'IQR':>9s}  wins  gain")
    for name, r in rows.items():
        print(f"{name:14s} {r['base_median']:12.3f} {r['base_iqr']:9.3f} "
              f"{r['new_median']:12.3f} {r['new_iqr']:9.3f} {r['wins']:3d}/{r['n']:<2d} {r['gain']}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "base": args.base, "new": args.new,
                       "runs": raw, "fold": rows}, f, indent=1)
    return 0 if len(pairs) == len(raw) else 1


if __name__ == "__main__":
    sys.exit(main())
