"""Layered benchmark of the flink_examples_spark engine.

    python3 perfbench/run.py --workload batch_head --seed 1 --seconds 10 --trace 0

Runs one workload in one process on ``local[4]`` with one client thread,
from the root of a checkout. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` alternates untraced and traced passes and prints the
per-layer metrics, with the tracing overhead between the two. The last
line of stdout is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``. The line before it is a human summary with the run's
metadata, and the full result is also written under ``.perfbench/``.

Workloads, metrics and the layer each metric should move are described
in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

from spans import Tracer, median, tail_percentile  # noqa: E402

WORKLOADS = ("batch_head", "stream_replay")
SF = 0.01
# the sf0.01 events table of the repository's test data (TESTDATA.md),
# copied unchanged: the one table both workloads read
SF_DIR = os.path.join(HERE, "data", f"sf{SF}")
STREAM_FILES = 2
SETUPS = 3
# CPU time falls from one execution to the next while the JVM compiles
# hot code, so it is taken from the same executions in every run: each
# query's first two in the loop (the median of the two), or the first
# replay, however many more the time allows.
CPU_SAMPLES = 2
EXPECTED = os.path.join(HERE, "expected.json")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def source_fingerprint() -> dict:
    """Identify the code measured: the git commit when the checkout is a
    repository, and always a hash of the package sources."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "flink_examples_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    commit = None
    if os.path.exists(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    return {"git_commit": commit, "source_sha256": h.hexdigest()[:16]}


def timed_boots(engine, sf_dir: str) -> list[float]:
    """Boot the session and run its first job ``SETUPS`` times; the first
    boot also launches the JVM, the later ones restart the context in it.
    ``setup_s`` takes their median, so one boot slowed by the machine's
    other tenants does not move it."""
    from flink_examples_spark.catalog import load_table

    out = []
    for k in range(SETUPS):
        if k:
            engine.stop_session()
        t0 = time.perf_counter()
        load_table(engine.start(), "events", sf_dir).count()
        out.append(time.perf_counter() - t0)
    return out


def op_stats(samples: list[float]) -> dict:
    pct, tail = tail_percentile(samples)
    return {"p50": median(samples), "tail": tail, "tail_pct": round(pct, 1), "n": len(samples)}


def run_batch(engine, workload: str, seed: int, seconds: float, trace: bool, sf_dir: str) -> dict:
    """Warm pass, then the closed loop for ``seconds`` (and until every
    query has two samples). Untraced: one query after another in the
    seeded order. Traced: untraced and traced passes alternate."""
    from batch import BatchRun, layer_metrics, query_jobs

    with open(EXPECTED) as f:
        expected = json.load(f)[workload]
    run = BatchRun(engine, workload, seed, sf_dir, expected)
    t0 = time.perf_counter()
    run.run_pass()  # code generation, first scans, Python worker start-up
    out = {"run": run, "warm_pass_s": time.perf_counter() - t0}
    deadline = time.perf_counter() + seconds
    if trace:
        tr = Tracer(f"{workload}.s{seed}")
        out.update(tracer=tr, layers=[], plain_walls=[], traced_walls=[])
        while time.perf_counter() < deadline or not out["layers"]:
            out["plain_walls"].append(sum(run.run_pass()["queries"].values()))
            p = run.run_pass(tr)
            out["traced_walls"].append(sum(p["queries"].values()))
            out["layers"].append(layer_metrics(tr, p["root"]))
            out["per_query_jobs"] = query_jobs(tr, p["root"])
        return out
    per_query: dict[str, list[dict]] = {n: [] for n in run.names}
    i = 0
    while time.perf_counter() < deadline or min(len(v) for v in per_query.values()) < 2:
        r = run.run_query(i)
        if r is not None:
            per_query[run.names[i % len(run.names)]].append(r)
        elif run.failed > 3 * len(run.names):
            break
        i += 1
    if min(len(v) for v in per_query.values()) == 0:
        return out
    for key in ("wall", "jobs", "tasks"):
        out[f"pass_{key}"] = sum(median(r[key] for r in v) for v in per_query.values())
    out["pass_cpu"] = sum(median(r["cpu"] for r in v[:CPU_SAMPLES]) for v in per_query.values())
    out["ops"] = [r["wall"] for v in per_query.values() for r in v]
    out["per_op_s"] = {k: median(r["wall"] for r in v) for k, v in per_query.items()}
    out["samples"] = per_query
    return out


def run_stream(engine, seed: int, seconds: float, trace: bool, sf_dir: str) -> dict:
    """Warm replay of a one-file tape, then replays of the measured tape
    for ``seconds`` (at least one). Traced: untraced and traced replays
    alternate."""
    from stream import StreamRun

    with open(EXPECTED) as f:
        expected = json.load(f)["stream_replay"]
    run = StreamRun(engine, seed, sf_dir, expected)
    tr = Tracer(f"stream_replay.s{seed}")
    warm_tape = run.make_tape("warm_tape", 1)
    tape = run.make_tape("tape", STREAM_FILES)
    t0 = time.perf_counter()
    run.replay(warm_tape, check=False)  # code generation, worker start-up, first state-store use
    out = {"run": run, "warm_pass_s": time.perf_counter() - t0}
    deadline = time.perf_counter() + seconds
    if trace:
        out.update(tracer=tr, layers=[], plain_walls=[], traced_walls=[])
        while (time.perf_counter() < deadline or not out["layers"]) and run.failed <= 3:
            r = run.replay(tape)
            if r["wall"] is not None:
                out["plain_walls"].append(r["wall"])
            r = run.replay(tape, tr)
            if r["wall"] is not None:
                out["traced_walls"].append(r["wall"])
                out["layers"].append(r["layers"])
        return out
    replays, per_query = [], {}
    while (time.perf_counter() < deadline or not replays) and run.failed <= 3:
        r = run.replay(tape)
        if r["wall"] is not None:
            replays.append(r)
            for (q, _), ms in r["batches"].items():
                per_query.setdefault(q, []).append(ms / 1000.0)
    if not replays:
        return out
    for key in ("wall", "jobs", "tasks"):
        out[f"pass_{key}"] = median(r[key] for r in replays)
    out["pass_cpu"] = replays[0]["cpu"]
    out["ops"] = [w for v in per_query.values() for w in v]
    out["per_op_s"] = {k: median(v) for k, v in per_query.items()}
    out["stream_rows_per_s"] = run.tape_rows * len(per_query) / out["pass_wall"]
    out["samples"] = {"replay": [{k: r[k] for k in ("wall", "cpu", "jobs", "tasks")} for r in replays]}
    return out


def layer_report(out: dict) -> dict[str, float]:
    from batch import LAYER_KEYS as BATCH_KEYS
    from stream import LAYER_KEYS as STREAM_KEYS

    metrics = {k: 0.0 for k in BATCH_KEYS + STREAM_KEYS}
    for k in out["layers"][0] if out["layers"] else ():
        metrics[k] = median(float(d[k]) for d in out["layers"])
    plain, traced = out["plain_walls"], out["traced_walls"]
    metrics["trace.overhead_pct"] = (
        100.0 * (median(traced) / median(plain) - 1.0) if plain and traced else 0.0
    )
    return metrics


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "flink_examples_spark", "queries.py")):
        print(f"perfbench: no flink_examples_spark package under {ROOT}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(SF_DIR, "events.parquet")):
        print(f"perfbench: no events table under {SF_DIR}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from engine import Engine, cpu_ticks, rss_by_process, run_metadata, steal_share

    base = os.path.join(ROOT, ".perfbench")
    sf_dir = SF_DIR
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    ticks0 = cpu_ticks()
    meta = run_metadata(args.seed, SF)
    meta.update(source_fingerprint(), workload=args.workload, seconds=args.seconds, trace=args.trace)
    engine = Engine(ROOT, work)
    try:
        boots = timed_boots(engine, sf_dir)
        if args.workload == "stream_replay":
            out = run_stream(engine, args.seed, args.seconds, bool(args.trace), sf_dir)
        else:
            out = run_batch(engine, args.workload, args.seed, args.seconds, bool(args.trace), sf_dir)
        run = out["run"]
        rss = rss_by_process()
        peak = max(run.peak_rss_mb, sum(rss.values()))
    finally:
        engine.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    meta["loadavg_end"] = list(os.getloadavg())
    meta["cpu_steal_share"] = steal_share(ticks0, cpu_ticks())

    setup_s = median(boots) + out["warm_pass_s"]
    summary = {
        "meta": meta,
        "boots_s": boots,
        "warm_pass_s": out["warm_pass_s"],
        "setup_s": setup_s,
        "peak_rss_mb": peak,
        "rss_mb_by_process": rss,
        "error_rate": run.failed / max(run.attempted, 1),
        "wrong_results": len(run.wrong),
        "wrong": run.wrong[:20],
        "errors": run.errors[:20],
    }
    if args.trace:
        tr = out.get("tracer")
        if tr is not None:
            path = os.path.join(base, f"spans-{args.workload}-seed{args.seed}.json")
            tr.dump(path)
            summary["spans_file"] = os.path.relpath(path, ROOT)
        metrics = layer_report(out)
        if "per_query_jobs" in out:
            summary["per_query_jobs"] = out["per_query_jobs"]
    else:
        if "pass_wall" not in out:
            print("summary " + json.dumps(summary))
            print("perfbench: no operation completed", file=sys.stderr)
            return 1
        ops = op_stats(out["ops"])
        prefix = "stream_batch_ms" if args.workload == "stream_replay" else "query_ms"
        summary.update({
            "batch_wall_s": out["pass_wall"],
            "pass_cpu_s": out["pass_cpu"],
            f"{prefix}_p50": 1000.0 * ops["p50"],
            f"{prefix}_tail": 1000.0 * ops["tail"],
            f"{prefix}_tail_pct": ops["tail_pct"],
            f"{prefix}_samples": ops["n"],
            "per_op_median_s": out["per_op_s"],
            "samples": out["samples"],
        })
        if "stream_rows_per_s" in out:
            summary["stream_rows_per_s"] = out["stream_rows_per_s"]
        summary["units"] = {
            k: unit_of(k) for k, v in summary.items() if isinstance(v, (int, float)) and not isinstance(v, bool)
        }
        metrics = {
            "setup_s": setup_s,
            "pass_jobs": out["pass_jobs"],
            "pass_tasks": out["pass_tasks"],
            "peak_rss_mb": peak,
        }
    result = {
        "correct": not run.wrong,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }
    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(base, "results", name), "w") as f:
        json.dump({"summary": summary, "result": result}, f, indent=1)
    print("summary " + json.dumps(summary))
    print(json.dumps(result))
    return 0


def unit_of(metric: str) -> str:
    if metric.endswith("_rate"):
        return "ratio"
    if metric.endswith("_pct"):
        return "%"
    if metric.endswith("_samples"):
        return "count"
    if metric.endswith("_per_s"):
        return "1/s"
    if metric.endswith("_ms") or "_ms_" in metric:
        return "ms"
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_bytes") or metric.endswith("bytes_written"):
        return "bytes"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
