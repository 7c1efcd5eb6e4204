"""bench.py result-recovery hardening (VERDICT r3 'What's wrong #1').

The round driver captures only the LAST ~2000 chars of bench stdout; in
round 3 the single giant JSON line outgrew that window, the front (with
the headline value and the `queries` dict) was cut, and the committed
artifact became unrecoverable (`parsed: null`). These tests pin the
fixed behavior: a compact final line always survives the tail window,
so the driver artifact's `parsed` dict carries the timings the next
round's movers read.
"""

from __future__ import annotations

import json

import bench


def test_compact_line_fits_driver_tail():
    movers = {
        f"query_name_{i}": {"prev": 1.2345, "now": 2.3456, "ratio": 1.9}
        for i in range(12)
    }
    line = json.dumps(
        {"metric": "total_query_seconds", "value": 123.456, "unit": "sec",
         "sf": "0.1", "reps": 3, "n_queries": 150, "movers": movers,
         "shape": "compact"}
    )
    assert len(line) < 1500  # well inside the 2000-char tail window


def test_compute_movers_flags_both_directions():
    prev = {"a": 1.0, "b": 1.0, "c": 1.0, "zero": 0.0}
    now = {"a": 1.5, "b": 0.5, "c": 1.1, "zero": 1.0, "new": 9.9}
    movers = bench._compute_movers(now, prev)
    assert set(movers) == {"a", "b"}
    assert movers["a"]["ratio"] == 1.5
    assert movers["b"]["ratio"] == 0.5


def test_mover_ledger_generated_and_preserves_adjudications(tmp_path, monkeypatch):
    """r7 (VERDICT #2): the >=1.5x mover ledger is GENERATED — every
    qualifying mover gets a line mechanically, sub-threshold movers are
    excluded, and hand-written adjudications below the marker survive a
    regeneration."""
    import bench

    monkeypatch.setattr(bench, "_HERE", str(tmp_path))
    movers = {
        "q_up": {"prev": 0.2, "now": 0.9, "ratio": 4.5},
        "q_noise": {"prev": 0.2, "now": 0.25, "ratio": 1.25},
        "q_down": {"prev": 1.0, "now": 0.5, "ratio": 0.5},
    }
    bench._write_mover_ledger(7, movers, {"q_up": 2}, 3)
    path = tmp_path / "docs" / "PERF_NOTES_r7_movers.md"
    txt = path.read_text()
    assert "| q_up | 0.2 | 0.9 | 4.5 | 2 |" in txt
    assert "q_down" in txt and "q_noise" not in txt
    assert "reps >5x steady" in txt

    with open(path, "a") as f:
        f.write("\nq_up: solo A/B flat — box stall.\n")
    bench._write_mover_ledger(7, {"q_up": movers["q_up"]}, {}, 0)
    txt2 = path.read_text()
    assert "box stall" in txt2 and "q_down" not in txt2


def test_stall_rep_count_excludes_compile_rep():
    """ADVICE r7: ts[0] is the compile rep, reported separately — a
    codegen-heavy first rep must not be tallied as a box stall."""
    # compile rep 10x steady, post-compile reps clean -> 0 stalls
    assert bench._stall_rep_count({"q": [5.0, 0.5, 0.5, 0.5]}) == 0
    # one genuine post-compile stall -> 1
    assert bench._stall_rep_count({"q": [5.0, 0.5, 3.0, 0.5]}) == 1
    # both queries contribute; single-rep and zero-steady rows skipped
    runs = {
        "a": [9.9, 1.0, 6.0, 1.0],   # 1 stall
        "b": [0.4, 0.1, 0.1, 0.9],   # 1 stall
        "c": [4.0],                  # no post-compile reps
        "d": [1.0, 0.0, 0.0],        # zero steady guarded
    }
    assert bench._stall_rep_count(runs) == 2


def test_gen_correctness_failing_names_union():
    """ADVICE r7: the headline n_fail counts the UNION of failing query
    names across warm + fresh runs, not the sum."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "gen_correctness",
        os.path.join(os.path.dirname(__file__), "..", "tools",
                     "gen_correctness.py"),
    )
    gc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gc)

    ok = {"rows_match": True, "schema_match": True, "hash_match": True,
          "spark_rows": 1, "oracle_rows": 1, "err": None}
    bad_hash = dict(ok, hash_match=False)
    err = {"err": "Boom"}
    rows_only = {"rows_only": True, "spark_rows": 3, "err": None}
    warm = {"q1": ok, "q2": bad_hash, "q3": err, "q4": rows_only}
    fresh = {"q2": bad_hash, "q4": rows_only, "q5": err}
    # pre-r9 rows (no persisted ok bit) — predicate re-derived
    assert gc.failing_names(warm) == {"q2", "q3"}
    assert gc.failing_names(fresh) == {"q2", "q5"}
    # union: q2 failing in both runs is ONE failure
    assert len(gc.failing_names(warm) | gc.failing_names(fresh)) == 3
    # r9+ rows persist `ok` from run_queries' single decision point
    # (ADVICE r8) and failing_names reads it verbatim
    with_ok = {
        "q1": dict(ok, ok=True),
        "q2": dict(bad_hash, ok=False),
        "q6": {"rows_only": True, "spark_rows": 3, "err": None, "ok": False},
    }
    assert gc.failing_names(with_ok) == {"q2", "q6"}
