"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is timed end-to-end: a rep's timer covers exactly
`spark_fn` + `collect()` (`run_query`, the one place a registry query
is timed and counted). A warm-up pass on sf-independent metadata
(session boot, JIT) is excluded from per-query timings by timing only
after the session is live.

Counts: every rep of a query, stall retries included, runs under one
job group. After the timed reps, `counts` gets per query `jobs`,
`stages` and `tasks` per rep (stages that ran and completed tasks, the
rule of perfbench's `Engine.group_counts`), `build_jobs` per rep (the
jobs submitted inside `spark_fn`), plus the executed plan's shuffle
`exchanges` and `python_nodes` (`flink_examples_spark.plans`). None of
it is read inside a timer. `SPARK_GRAFT_BENCH_ONLY=a,b` runs a
named subset and writes no artifact; `plans.formatted_plan(df)` gives
a query's plan text on demand.

Depth: every query runs $SPARK_GRAFT_BENCH_REPS times (default 3);
`queries` reports the per-query MIN (the stable "how fast can this plan
go" on a box with ±20% noise), `spread` reports (max-min)/min per query
so noisy queries are visible, and `movers` flags queries whose min moved
>1.3x in either direction against the committed BENCH_r*.json with the
highest round number — regressions self-report round-over-round.

Output survives the round driver's tail capture (last ~2000 chars of
stdout): the FULL result line puts `queries` last so a front-truncated
tail still ends with per-query timings, and a final COMPACT line
({"metric","value","unit","sf","reps","movers","shape":"compact"})
always fits inside the tail so the driver's `parsed` field is never
null.

Load attestation (since r11): every session draft carries start/end
load snapshots — 1-min loadavg, a concurrent-JVM /proc scan, and a
fixed ~100 ms calibration probe (same tiny plan every session) — so a
run inflated by box contention is identifiable from the artifact
alone; tools/fold_bench.py tags (never excludes) sessions whose
calibration deviates >1.3x from the round median.

Artifact ownership (since r9): every full run writes a session draft
BENCH_session_r{N}_s{K}.json; the canonical BENCH_local_r{N}.json is
created only if absent and NEVER overwritten — `tools/fold_bench.py`
owns it, folding session drafts elementwise-min and regenerating the
mover ledger. A full bench.py run on a tree with a committed fold
leaves that fold byte-identical.
"""

from __future__ import annotations

import glob
import json
import math
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

_HERE = os.path.dirname(os.path.abspath(__file__))


def _latest_round(pattern: str) -> tuple[int, str | None]:
    """Highest round number + path among files matching ``pattern``
    (a glob with a BENCH_*r(\\d+).json shape)."""
    best, best_n = None, -1
    for path in glob.glob(os.path.join(_HERE, pattern)):
        m = re.search(r"r(\d+)\.json$", path)
        if m and int(m.group(1)) > best_n:
            best, best_n = path, int(m.group(1))
    return best_n, best


def _same_sf(doc: dict, sf: str | None) -> bool:
    """True when the artifact's scale factor matches this run's (or no
    sf to compare) — cross-sf movers are meaningless."""
    if sf is None or "sf" not in doc:
        return True
    try:
        return abs(float(doc["sf"]) - float(sf)) < 1e-9
    except (TypeError, ValueError):
        return True


def _previous_round_timings(
    sf: str | None = None, baseline_round: int | None = None
) -> dict[str, float]:
    """Per-query seconds from the previous round's committed artifacts.

    Prefers this script's own full BENCH_local_r{N}.json (complete, never
    truncated); falls back to the driver file's `parsed` dict. Artifacts
    from a different scale factor are skipped (movers must compare like
    with like).

    ``baseline_round`` pins WHICH round counts as previous — fold_bench
    passes the folded round minus one. The default infers it from the
    newest driver BENCH_r{N}.json, which is the prior round while a
    round is in progress but would SELF-compare on a refold after this
    round's own driver artifact lands (every ratio ~1.0, the genuine
    mover ledger silently erased — r9 s5 review).
    """
    if baseline_round is None:
        driver_n, driver_path = _latest_round("BENCH_r*.json")
        if driver_path is None:
            return {}
    else:
        driver_n = baseline_round
        driver_path = os.path.join(_HERE, f"BENCH_r{driver_n:02d}.json")
        if not os.path.exists(driver_path):
            driver_path = None
    local_path = os.path.join(_HERE, f"BENCH_local_r{driver_n:02d}.json")
    if os.path.exists(local_path):
        try:
            with open(local_path) as f:
                doc = json.load(f)
            # prefer steady-state (min of post-compile reps) when the
            # artifact carries it — round-over-round movers must not
            # cross the fresh-session whole-stage-compile artifact
            # (rep0 was measured at ~5 s vs 0.4-0.7 s warm for the
            # same plan; VERDICT r5 'Next round' #6)
            for key in ("steady", "queries"):
                if _same_sf(doc, sf) and isinstance(doc.get(key), dict):
                    return {k: float(v) for k, v in doc[key].items()}
        except (OSError, json.JSONDecodeError, TypeError, ValueError):
            pass
    if driver_path is None:
        return {}
    try:
        with open(driver_path) as f:
            doc = json.load(f)
    except (OSError, json.JSONDecodeError):
        return {}
    if not _same_sf(doc, sf):
        return {}
    parsed = doc.get("parsed")
    if isinstance(parsed, dict) and isinstance(parsed.get("queries"), dict):
        return {k: float(v) for k, v in parsed["queries"].items()}
    if isinstance(doc.get("queries"), dict):  # bare self-shaped artifact
        return {k: float(v) for k, v in doc["queries"].items()}
    return {}


def _compute_movers(
    timings: dict[str, float], prev: dict[str, float]
) -> dict[str, dict[str, float]]:
    return {
        name: {"prev": prev[name], "now": t,
               "ratio": round(t / prev[name], 3)}
        for name, t in timings.items()
        if name in prev and prev[name] > 0
        and (t / prev[name] > 1.3 or t / prev[name] < 1 / 1.3)
    }


# volatile plan tokens, all session-history-dependent: expression ids
# (#123), plan/RDD ids, higher-order-function lambda variable names
# (lambda x_7 — the counter advances with every lambda ANALYZED earlier
# in the session, so warm-ups shift it), and the grouping-id literals
# the distinct-aggregate rewrite emits (gid = 2 vs gid = 4 for the
# same query, also counter-driven). Verified registry-wide: with these
# stripped, two sessions with different warm-up/ordering histories
# produce identical normalized plans for every registered query.
_PLAN_VOLATILE_RE = re.compile(
    r"#\d+|plan_id=\d+|\bid=\d+|\bgid = \d+"
)
# identifier counters keep their TEXT, lose only the digits: deleting
# the whole `word_<digits>` token (the pre-r11 rule) normalized
# 'Project [p_50, top_10]' to 'Project [, ]' — a source change that
# only renames/adds such a column kept an identical fingerprint, so
# the staleness guard could silently pass stale minima, and distinct
# plans could collide (ADVICE r10). `x_7` still folds to `x_` so the
# lambda counter stays invisible.
#
# Residual collision class (ADVICE r11, accepted tradeoff): ALL digit
# suffixes fold, so a source edit that changes ONLY a numeric suffix
# (`p_50` -> `p_51`, a literal-in-name constant bump) keeps the same
# fingerprint and that query's stale minima survive the guard. The
# rule can't be scoped to known volatile prefixes: the lambda counter
# (`x_7`) shares its shape with ordinary snake_case columns, and a
# prefix allowlist would go stale the first time codegen picks a new
# name. In practice a suffix-only rename that changes BEHAVIOR also
# changes the surrounding expression (the new constant appears as a
# literal elsewhere in the plan), which re-fingerprints; the truly
# invisible case is a rename with no semantic content, where stale
# minima are still measured on the identical physical plan.
_PLAN_IDENT_COUNTER_RE = re.compile(r"\b([a-z]+_)\d+\b")


def _normalize_plan_text(s: str) -> str:
    """Strip the session-volatile tokens from a plan string, to a
    FIXPOINT: stripping an expression id can EXPOSE a volatile token
    the same pass already skipped ("gid#123 = 0" -> "gid = 0", which
    only a second pass removes)."""
    while True:
        s2 = _PLAN_IDENT_COUNTER_RE.sub(
            r"\1", _PLAN_VOLATILE_RE.sub("", s)
        )
        if s2 == s:
            return s
        s = s2


def _plan_fingerprint(df) -> str | None:
    """Stable 12-hex fingerprint of a DataFrame's ANALYZED logical
    plan, with the per-session volatile tokens (expression ids,
    plan/RDD ids, lambda variable counters) stripped: the same source
    at the same sf produces the same fingerprint in any session
    (verified registry-wide across sessions with divergent warm-up and
    ordering histories, incl. localCheckpoint- and mapInPandas-backed
    plans). The ANALYZED plan — not the optimized one — because two
    optimizer rewrites print session-history-dependent text that no
    token-level normalization fixes (the distinct-aggregate rewrite
    orders grouping keys by expression-id hash; FileScan metadata
    truncates DataFilters at a fixed width, so shifted lambda names
    move the cut); every SOURCE change to a query still lands in its
    analyzed plan, which is what staleness means. Session drafts carry
    one per query so tools/fold_bench.py can refuse to fold minima
    measured on plans that no longer exist — the r9 stale-minimum hole
    (VERDICT r9 'What's wrong' #1: two crawl-cap queries changed shape
    mid-round and the committed fold kept pre-change minima no shipped
    plan could reproduce)."""
    try:
        import hashlib

        s = _normalize_plan_text(
            df._jdf.queryExecution().analyzed().toString()
        )
        return hashlib.sha1(s.encode()).hexdigest()[:12]
    except Exception:
        return None


def _count_java_procs() -> int | None:
    """Number of `java` processes on the box (via /proc comm) — a
    concurrent-JVM scan for the load attestation. None when /proc is
    unreadable (non-Linux)."""
    try:
        pids = [p for p in os.listdir("/proc") if p.isdigit()]
    except OSError:
        return None
    n = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    n += 1
        except OSError:
            continue  # process exited mid-scan
    return n


def _calibration_probe(spark, reps: int = 3) -> float | None:
    """Fixed ~100 ms probe (same tiny plan every time): min-of-reps
    seconds for a range-sum that never touches disk. Run at session
    start AND end, it turns 'was the box loaded during this session?'
    into a number the fold can compare across sessions — the same
    plan on the same box deviates from the round median only under
    contention (VERDICT r10 'What's wrong' #1: the driver's finalize
    bench came in ×1.47 uniformly inflated and only a statistical
    per-query ratio analysis could adjudicate loaded-box vs
    regression)."""
    try:
        best = None
        for _ in range(reps):
            t0 = time.perf_counter()
            spark.range(0, 32_000_000, 1, 8).selectExpr(
                "sum(id * 7) AS s"
            ).collect()
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        return round(best, 4)
    except Exception:
        return None


def _load_attestation(spark) -> dict:
    """One load snapshot: 1-min loadavg, concurrent java-process count,
    and the fixed calibration probe. Stamped into every session draft
    at start and end so an inflated session is identifiable from the
    artifact alone (fold_bench tags sessions whose calibration
    deviates >1.3x from the round median — tag, not exclude: minima
    from a loaded box are still valid lower-bound evidence when they
    win)."""
    try:
        load1 = round(os.getloadavg()[0], 2)
    except OSError:
        load1 = None
    return {
        "loadavg_1m": load1,
        "java_procs": _count_java_procs(),
        "calib_s": _calibration_probe(spark),
    }


def _stall_rep_count(runs: dict[str, list[float]]) -> int:
    """Reps that exceeded 5x their query's own final steady. ts[0] is
    the compile rep (reported separately in "compile") — a codegen-heavy
    first rep is not a stall, so only post-compile reps count
    (ADVICE r7)."""
    return sum(
        1
        for ts in runs.values()
        if len(ts) > 1 and min(ts[1:]) > 0
        for t in ts[1:]
        if t > 5 * min(ts[1:])
    )


def _write_mover_ledger(
    this_round: int,
    movers: dict[str, dict[str, float]],
    stall_retries: dict[str, int],
    stall_rep_count: int,
) -> None:
    """Mechanical mover ledger (VERDICT r6 #2): every steady mover
    >=1.5x in either direction gets a GENERATED line — a mover can't be
    omitted by hand-transcription. Adjudications go in the hand-written
    section below the marker; the table is rewritten every bench run."""
    path = os.path.join(_HERE, "docs",
                        f"PERF_NOTES_r{this_round}_movers.md")
    big = {
        n: m for n, m in sorted(movers.items())
        if m["ratio"] >= 1.5 or m["ratio"] <= 1 / 1.5
    }
    marker = "<!-- hand-written adjudications below; table above is generated -->"
    hand = ""
    try:
        with open(path) as f:
            old = f.read()
        if marker in old:
            hand = old.split(marker, 1)[1]
    except OSError:
        pass
    # fold_bench annotates canonical movers with plan-identity and
    # box-vs-code attribution (VERDICT r11 #3/#4); per-session drafts
    # carry neither — the ledger grows the columns only when present
    annotated = any(
        "plan" in m or "attribution" in m for m in big.values()
    )
    lines = [
        f"# Mover ledger — round {this_round} (GENERATED by bench.py)",
        "",
        "Rule: every committed steady mover >=1.5x (either direction)",
        "appears here mechanically. Adjudicate each (solo A/B with",
        "`SPARK_GRAFT_BENCH_ONLY=<name> python bench.py` on an idle box)",
        "below the marker.",
        "",
        "| query | prev steady (s) | now steady (s) | ratio | stall retries |"
        + (" plan | box-adjusted |" if annotated else ""),
        "|---|---|---|---|---|" + ("---|---|" if annotated else ""),
    ]
    for n, m in big.items():
        row = (
            f"| {n} | {m['prev']} | {m['now']} | {m['ratio']} "
            f"| {stall_retries.get(n, 0)} |"
        )
        if annotated:
            adj = m.get("calib_adjusted")
            attr = m.get("attribution")
            row += (
                f" {m.get('plan', '-')} | "
                + (f"x{adj} ({attr})" if adj is not None else "-")
                + " |"
            )
        lines.append(row)
    if not big:
        lines.append("| (none >=1.5x) | | | | |"
                     + (" | |" if annotated else ""))
    lines += [
        "",
        f"Stall reps >5x steady across the whole run: {stall_rep_count}; "
        f"stall-retried queries: {sorted(stall_retries) or 'none'}.",
        "",
        marker,
    ]
    try:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write("\n".join(lines) + (hand or "\n"))
    except OSError:
        pass


def _exclusive_write_json(path: str, doc: dict) -> str:
    """Atomically create ``path`` holding ``doc`` as one JSON line.

    Returns ``"created"``, ``"exists"`` (path already there — left
    untouched), or ``"error"`` (unwritable dir / ENOSPC). The content
    is fully written to a temp file first and hard-linked into place:
    a ``json.dump`` that dies partway (ENOSPC) after a bare
    ``open(path, "x")`` would leave a TRUNCATED canonical that every
    later session refuses to replace — the round's fold then silently
    never bootstraps (ADVICE r9). ``os.link`` keeps the exclusive-
    create semantics (fails if the target exists) while making the
    content all-or-nothing."""
    tmp = f"{path}.tmp.{os.getpid()}"
    try:
        with open(tmp, "w") as f:
            json.dump(doc, f)
            f.write("\n")
    except OSError:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        return "error"
    try:
        os.link(tmp, path)
        return "created"
    except FileExistsError:
        return "exists"
    except OSError:
        # filesystem without hard links (exFAT, some overlay/network
        # mounts): fall back to the plain exclusive create that always
        # worked there — atomicity is lost but the run is not (r10
        # review: silently dropping a full session's minima is worse
        # than the torn-write hazard on such mounts)
        try:
            with open(path, "x") as f, open(tmp) as src:
                f.write(src.read())
            return "created"
        except FileExistsError:
            return "exists"
        except OSError:
            # the fallback write died partway (ENOSPC after the
            # exclusive create succeeded): remove the torn file, or it
            # re-opens the exact hole this function closes — later
            # sessions get 'exists' and refuse to replace a TRUNCATED
            # artifact, and fold_bench crashes loading a torn draft.
            # Only this process can reach here for `path` (a race loser
            # returns 'exists' above), so the unlink removes our own
            # torn write, never another session's artifact (ADVICE r10).
            try:
                os.unlink(path)
            except OSError:
                pass
            print(
                f"bench: could not persist {os.path.basename(path)} "
                f"(hard link and exclusive create both failed) — this "
                f"run's timings are lost to the fold",
                file=sys.stderr,
            )
            return "error"
    finally:
        try:
            os.unlink(tmp)
        except OSError:
            pass


def _persist_full_result(
    full: dict,
    movers: dict[str, dict[str, float]],
    stall_retries: dict[str, int],
    stall_rep_count: int,
) -> str:
    """Persist a full bench result; returns the session-draft path.

    Ownership split (VERDICT r8 #1: three rounds running, a later full
    run — the round driver's finalize, or a second builder session —
    silently clobbered the committed min-of-N fold):
      - every full run writes a SESSION DRAFT BENCH_session_r{N}_s{K}
      - the canonical BENCH_local_r{N}.json is written here only when it
        does not exist yet (bootstrap: one run beats no artifact); an
        existing canonical is NEVER overwritten — fold session drafts
        into it with `python tools/fold_bench.py`
      - the mover ledger is written by whoever writes the canonical
    """
    driver_n, _ = _latest_round("BENCH_r*.json")
    this_round = max(driver_n + 1, 1)
    # exclusive-create with retry: a check-then-write loop would let two
    # concurrent sessions pick the same draft slot and silently clobber
    # one run's minima — the exact scenario the ownership split exists
    # to protect (r9 s5 review)
    session_path = None
    seq = 1
    while session_path is None:
        candidate = os.path.join(
            _HERE, f"BENCH_session_r{this_round:02d}_s{seq}.json"
        )
        wrote = _exclusive_write_json(candidate, full)
        if wrote == "exists":
            seq += 1
        else:
            # created — or unwritable dir: keep prior give-up behavior
            session_path = candidate
    local = os.path.join(_HERE, f"BENCH_local_r{this_round:02d}.json")
    # same exclusive-create: bootstrap the canonical only if we WIN
    # the creation race; a loser leaves it untouched — and atomically,
    # so a torn write can never persist a truncated canonical
    wrote = _exclusive_write_json(local, full)
    if wrote == "created":
        _write_mover_ledger(this_round, movers, stall_retries,
                            stall_rep_count)
    elif wrote == "exists":
        print(
            f"bench: canonical {os.path.basename(local)} exists — left "
            f"untouched; this run saved as {os.path.basename(session_path)} "
            f"(fold with tools/fold_bench.py)",
            file=sys.stderr,
        )
    return session_path


def _group_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages that ran and completed tasks of every job submitted
    under ``group`` — the rule perfbench's ``Engine.group_counts`` uses,
    so these figures mean what its ``pass_tasks`` means."""
    tracker = sc.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0}
    for jid in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else []:
            si = tracker.getStageInfo(sid)
            if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                continue
            out["stages"] += 1
            out["tasks"] += si.numCompletedTasks
    return out


def run_query(
    spark,
    name: str,
    q,
    sf_dir: str,
    reps: int,
    prev_steady: float | None = None,
    max_stall_retries: int = 0,
) -> dict:
    """Time registry query ``q`` and count what it ran.

    Each rep's timer covers exactly ``q.spark_fn`` + ``collect()``.
    Every rep, stall retries included, runs under the one job group
    ``bench:<name>``; after the reps the record gains jobs, stages and
    tasks per rep (from that group), build jobs per rep (the job ids
    ``spark_fn`` consumed, read off the DAG scheduler between the two
    halves of the timer), the plan's shuffle exchanges and
    Python nodes (``plans.inspect``, read off the last rep's executed
    plan) and the analyzed-plan fingerprint. Returns
    ``{"runs", "stall_retries", "plan", "counts"}``."""
    from flink_examples_spark.plans import exchange_count, python_eval_nodes

    sc = spark.sparkContext
    group = f"bench:{name}"
    sched = sc._jsc.sc().dagScheduler()
    ts: list[float] = []
    retries = build_jobs = 0
    df = None

    def one_rep() -> None:
        nonlocal df, build_jobs
        first = sched.nextJobId()
        t0 = time.perf_counter()
        df = q.spark_fn(spark, sf_dir)
        built = time.perf_counter()
        build_jobs += sched.nextJobId() - first
        t1 = time.perf_counter()
        # force full materialization (not just count pushdown)
        n = df.collect()
        ts.append(time.perf_counter() - t1 + built - t0)
        del n

    sc.setJobGroup(group, name)
    try:
        # reps are CONSECUTIVE per query, not interleaved across the
        # registry: interleaving put ~160 other queries between a
        # query's reps, evicting its generated code from the JVM code
        # cache so every rep re-paid whole-stage compilation — min-of-3
        # then measured compile time, not the plan (docs/PERF_NOTES_r5.md).
        for _ in range(reps):
            one_rep()
        # stall self-heal (VERDICT r6 #3): this box produces rare
        # multi-second one-off stalls (×14.9 observed between idle
        # sessions) that can swallow EVERY rep of one query. When the
        # steady min lands >=5x the previous round's committed steady
        # — far outside the ±20% noise band and the 1.5x mover bar —
        # re-measure up to ``max_stall_retries`` extra reps and let
        # min-of-all paper over the stall; the artifact records how
        # often this fired so stalls stay visible, not hidden.
        while (
            prev_steady
            and len(ts) > 1
            and min(ts[1:]) > 5 * prev_steady
            and retries < max_stall_retries
        ):
            retries += 1
            one_rep()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    counts = {
        k: round(v / len(ts), 1) for k, v in _group_counts(sc, group).items()
    }
    counts["build_jobs"] = round(build_jobs / len(ts), 1)
    counts["exchanges"] = exchange_count(df)
    counts["python_nodes"] = python_eval_nodes(df)
    rec = {
        "runs": ts,
        "stall_retries": retries,
        # ANALYZED-plan fingerprint (see _plan_fingerprint for why
        # analyzed, NOT optimized): fold_bench excludes minima measured
        # on plans that no longer exist
        "plan": _plan_fingerprint(df),
        "counts": counts,
    }
    # drop RDD blocks the query pinned (localCheckpoint in the
    # iterative/range-partitioned operators): left in place they
    # accumulate across the ~180-query session and push LATER queries'
    # reps into memory pressure — measured 3x on dedup_levenshtein_verify
    # in-session vs solo (r6). Outside the timer: eviction cost is
    # session hygiene, not the plan.
    try:
        for jrdd in sc._jsc.getPersistentRDDs().values():
            jrdd.unpersist()
    except Exception:
        pass  # py4j surface moved: stale blocks only skew, not break
    return rec


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from flink_examples_spark.queries import registry
    from flink_examples_spark.session import get_spark, local_cpus

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footers with a trivial action
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    # warm the Python/Arrow worker pool so the alphabetically-first
    # pandas-UDF query isn't billed for executor-python startup
    spark.range(spark.sparkContext.defaultParallelism).mapInPandas(
        lambda it: it, "id long"
    ).count()
    # warm higher-order-function eval and the broadcast-join machinery —
    # ann_cosine_topk is alphabetically first and was paying both
    # first-use costs as measurement noise (its spread was 2.5x)
    from pyspark.sql import functions as F

    r = spark.range(64)
    r.select(
        F.aggregate(
            F.sequence(F.lit(0), F.lit(63)),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double"),
        ).alias("s")
    ).count()
    r.join(F.broadcast(spark.range(8)), "id", "left").count()

    # load attestation (VERDICT r10 #1): snapshot AFTER the warm-ups so
    # the calibration probe measures box contention, not JVM cold-start
    attest_start = _load_attestation(spark)

    # min-of-N repetitions: this box shows ±20% run-to-run noise on a
    # few queries, so a single rep can't distinguish a real regression
    # from jitter; the min is the stable "how fast can this plan go".
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "")
    names = sorted(registry().keys())
    if only:
        wanted = {n.strip() for n in only.split(",") if n.strip()}
        names = [n for n in names if n in wanted]
    reg = registry()
    prev = _previous_round_timings(sf)
    max_stall_retries = int(os.environ.get("SPARK_GRAFT_STALL_RETRIES", "2"))
    records = {
        name: run_query(spark, name, reg[name], sf_dir, reps,
                        prev.get(name), max_stall_retries)
        for name in names
    }
    runs = {name: rec["runs"] for name, rec in records.items()}
    stall_retries = {
        name: rec["stall_retries"] for name, rec in records.items()
        if rec["stall_retries"]
    }
    plan_fps = {
        name: rec["plan"] for name, rec in records.items() if rec["plan"]
    }
    counts = {name: rec["counts"] for name, rec in records.items()}

    timings = {name: round(min(ts), 3) for name, ts in runs.items()}
    # rep0 = plan analysis + whole-stage codegen compile + execute in a
    # fresh code-cache state; steady = min of the post-compile reps —
    # "how fast the compiled plan goes". Reported SEPARATELY so
    # round-over-round comparisons never cross the compile artifact
    # (VERDICT r5 #6: rep0 4.97 s vs 0.43-0.65 s warm, same plan).
    compile_cost = {name: round(ts[0], 3) for name, ts in runs.items()}
    steady = {
        name: round(min(ts[1:]) if len(ts) > 1 else ts[0], 3)
        for name, ts in runs.items()
    }
    spread = {
        name: round((max(ts) - min(ts)) / min(ts), 3) if min(ts) > 0 else 0.0
        for name, ts in runs.items()
    }
    movers = _compute_movers(steady, prev)
    # stall visibility: reps that exceeded 5x their query's own final
    # steady (the one-off box stalls min-of-N papers over)
    stall_rep_count = _stall_rep_count(runs)

    total = round(sum(timings.values()), 3)
    full = {
        "metric": "total_query_seconds",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "reps": reps,
        # core count the session ran with (r14): the r13 driver's 8-cpu
        # scaling run bootstrapped a round-14 canonical from 8-cpu
        # minima — recording cpus lets fold_bench separate cross-core
        # drafts instead of inferring from calibration probes; the
        # effective value, so an unset env records get_spark's default
        "cpus": local_cpus(),
        "prev_queries_recovered": len(prev),
        "stalls": {
            "reps_over_5x_steady": stall_rep_count,
            "retries": stall_retries,
        },
        # start/end load snapshots: loadavg, concurrent-JVM count, and
        # the fixed calibration probe — fold_bench tags sessions whose
        # probe deviates >1.3x from the round median, so "loaded box"
        # is provable from the artifact alone (VERDICT r10 #1)
        "attest": {"start": attest_start, "end": _load_attestation(spark)},
        "spread": spread,
        "movers": movers,
        # per-query ANALYZED-plan fingerprints: fold_bench's staleness
        # key. Placed BEFORE the queries dict — the driver's 2000-char
        # tail always ends inside `queries` (it alone is ~5k chars), so
        # hex fingerprints can never be misread as timings by the tail
        # recovery parser
        "plans": plan_fps,
        "counts": counts,
        "compile": compile_cost,
        "steady": steady,
        # queries LAST: a front-truncated tail still ends with timings
        "queries": timings,
    }
    print(json.dumps(full))

    # persist the full result so next round's movers never depend on the
    # driver's truncated tail (skip for filtered sub-benchmark runs).
    # Ownership split (VERDICT r8 #1: three rounds running, a later
    # full run — the round driver's finalize, or a second builder
    # session — silently clobbered the committed min-of-N fold):
    #   - every full run writes a SESSION DRAFT BENCH_session_r{N}_s{K}
    #   - the canonical BENCH_local_r{N}.json is written here only when
    #     it does not exist yet (bootstrap: one run is better than no
    #     artifact); an existing canonical is NEVER overwritten — fold
    #     sessions into it with `python tools/fold_bench.py`
    #   - the mover ledger is written by whoever writes the canonical
    if not only:
        _persist_full_result(full, movers, stall_retries, stall_rep_count)

    # compact FINAL line: always inside the driver's 2000-char tail so
    # `parsed` is never null; movers capped so the line stays short
    top_movers = dict(
        sorted(
            movers.items(),
            key=lambda kv: abs(math.log(kv[1]["ratio"])) if kv[1]["ratio"] > 0 else 0,
            reverse=True,
        )[:12]
    )
    # per-query deltas vs prev committed steady (VERDICT r13 #1): the
    # driver's 2000-char tail only ever sees THIS line, so it must
    # carry per-query signal — counts at the >10% threshold, the worst
    # regressions and best improvements as {query: {prev, now}}, and
    # the start calibration probe so a loaded-box run is
    # machine-readable from the compact line alone. Additions-only:
    # every pre-r14 field keeps its name and shape.
    common = {
        n: (prev[n], steady[n]) for n in steady if n in prev and prev[n] > 0
    }
    regressed = sorted(
        ((n, p, s) for n, (p, s) in common.items() if s > 1.1 * p),
        key=lambda x: x[2] / x[1],
        reverse=True,
    )
    improved = sorted(
        ((n, p, s) for n, (p, s) in common.items() if s < p / 1.1),
        key=lambda x: x[2] / x[1],
    )
    compact = {
        "metric": "total_query_seconds",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "reps": reps,
        "n_queries": len(timings),
        "n_common": len(common),
        "n_regressed": len(regressed),
        "n_improved": len(improved),
        "attest_start_calib_s": attest_start.get("calib_s"),
        "movers": top_movers,
        "regressed": {},
        "improved": {},
        "shape": "compact",
    }
    # budget (VERDICT r13 #1): <=1800 chars so the 2000-char tail
    # always captures the WHOLE line; shrink the three capped maps
    # together until it fits (counts above stay uncapped)
    cap = 12
    while True:
        compact["movers"] = dict(list(top_movers.items())[:cap])
        compact["regressed"] = {
            n: {"prev": p, "now": s} for n, p, s in regressed[:cap]
        }
        compact["improved"] = {
            n: {"prev": p, "now": s} for n, p, s in improved[:cap]
        }
        line = json.dumps(compact)
        if len(line) <= 1800 or cap == 0:
            break
        cap -= 1
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
