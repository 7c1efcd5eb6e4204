"""Golden-output CEP tests, ported from the reference's deterministic
fixtures (SURVEY.md §5.1).

1. MATCH_RECOGNIZE ticker V-pattern — flink-sql/sql/dml/CEP.md:44-67
   input (11 ACME rows), golden output CEP.md:107-111: exactly one
   match with start 10:00:04, bottom 10:00:07, end 10:00:08.
2. Pattern-API fixture — cep/FlinkCEP.java:36-46 events, pattern
   start → followedByAny SubEvent middle → followedByAny end
   (FlinkCEP.java:48-79); expected match id triples drawn from
   {2} x {6} x {8} relaxed-all semantics.
"""

import datetime as dt

import pandas as pd

from flink_examples_spark.operators.cep import Pat, match_recognize


def _ticker_df(spark):
    base = dt.datetime(2020, 1, 1, 10, 0, 0)
    prices = [12, 17, 19, 21, 25, 18, 15, 14, 24, 25, 19]
    rows = [
        ("ACME", base + dt.timedelta(seconds=i), p, 1)
        for i, p in enumerate(prices)
    ]
    return spark.createDataFrame(rows, "symbol string, rowtime timestamp, price long, tax long")


def test_match_recognize_v_pattern_golden(spark):
    # PATTERN (START_ROW PRICE_DOWN+ PRICE_UP), DEFINE per CEP.md:83-90,
    # AFTER MATCH SKIP TO LAST PRICE_UP (== past-last here).
    def down(row, ctx):
        prev = ctx.last(1)
        return prev is not None and row["price"] < prev["price"]

    def up(row, ctx):
        prev = ctx.last(1)
        return prev is not None and row["price"] > prev["price"]

    pattern = [
        Pat("START_ROW"),
        Pat("PRICE_DOWN", where=down, quantifier="plus"),
        Pat("PRICE_UP", where=up),
    ]

    def measures(vars_map, pdf):
        return {
            "start_tstamp": vars_map["START_ROW"].iloc[0]["rowtime"],
            "bottom_tstamp": vars_map["PRICE_DOWN"].iloc[-1]["rowtime"],
            "end_tstamp": vars_map["PRICE_UP"].iloc[-1]["rowtime"],
        }

    out = match_recognize(
        _ticker_df(spark),
        partition_by=["symbol"],
        order_by=["rowtime"],
        pattern=pattern,
        measures=measures,
        output_schema="symbol string, start_tstamp timestamp, "
        "bottom_tstamp timestamp, end_tstamp timestamp",
        after_match="skip_past_last",
    ).collect()

    base = dt.datetime(2020, 1, 1, 10, 0, 0)
    assert len(out) == 1, [tuple(r) for r in out]
    r = out[0]
    assert r.symbol == "ACME"
    assert r.start_tstamp == base + dt.timedelta(seconds=4)
    assert r.bottom_tstamp == base + dt.timedelta(seconds=7)
    assert r.end_tstamp == base + dt.timedelta(seconds=8)


def test_pattern_api_followed_by_any_golden(spark):
    import pyspark.sql.functions as F

    rows = [
        (i, *r)
        for i, r in enumerate(
            [
                (1, "barfoo", 1.0, None),
                (2, "start", 2.0, None),
                (3, "foobar", 3.0, None),
                (4, "foo", 4.0, 1.0),
                (5, "middle", 5.0, None),
                (6, "middle", 6.0, 2.0),
                (7, "bar", 3.0, 3.0),
                (42, "42", 42.0, None),
                (8, "end", 1.0, None),
            ]
        )
    ]
    df = spark.createDataFrame(
        rows, "seq int, id int, name string, price double, volume double"
    ).withColumn("part", F.lit(1))

    pattern = [
        Pat("start", where=lambda r, c: r["name"] == "start"),
        Pat(
            "middle",
            where=lambda r, c: pd.notna(r["volume"]) and r["name"] == "middle",
            contiguity="relaxedAll",  # followedByAny + subtype(SubEvent)
        ),
        Pat("end", where=lambda r, c: r["name"] == "end", contiguity="relaxedAll"),
    ]

    def measures(vars_map, pdf):
        return {
            "start_id": int(vars_map["start"].iloc[0]["id"]),
            "middle_id": int(vars_map["middle"].iloc[0]["id"]),
            "end_id": int(vars_map["end"].iloc[0]["id"]),
        }

    out = match_recognize(
        df,
        partition_by=["part"],
        order_by=["seq"],
        pattern=pattern,
        measures=measures,
        output_schema="part int, start_id int, middle_id int, end_id int",
        all_matches=True,
    ).collect()

    triples = sorted((r.start_id, r.middle_id, r.end_id) for r in out)
    # FlinkCEP.java expected output: the single SubEvent 'middle' (id 6)
    # between 'start' (2) and 'end' (8) — relaxed-all finds exactly {2,6,8}
    assert triples == [(2, 6, 8)], triples


def test_within_timeout_partial_match_side_output(spark):
    """C4 (cep/CEPTimeout.java:53-103): create->pay within 10 min; paid
    orders emit a match, unpaid orders' partial matches time out into a
    side output (discriminator column + filter = OutputTag)."""
    import pandas as pd

    rows = [
        ("order_1", "create", "2020-01-01 00:00:00"),
        ("order_1", "pay",    "2020-01-01 00:05:00"),
        ("order_2", "create", "2020-01-01 00:00:00"),   # never paid
        ("order_3", "create", "2020-01-01 00:00:00"),
        ("order_3", "pay",    "2020-01-01 00:20:00"),   # pay too late
    ]
    df = spark.createDataFrame(rows, "order_id string, action string, ts string") \
        .selectExpr("order_id", "action", "cast(ts as timestamp) as ts")

    pattern = [
        Pat("create", where=lambda r, c: r["action"] == "create",
            contiguity="strict"),
        Pat("pay", where=lambda r, c: r["action"] == "pay",
            contiguity="relaxed"),
    ]

    def measures(vars_map, pdf):
        return {"order_id": vars_map["create"].iloc[0]["order_id"],
                "timed_out": False}

    def timeout_measures(vars_map, pdf):
        return {"order_id": vars_map["create"].iloc[0]["order_id"],
                "timed_out": True}

    out = match_recognize(
        df,
        partition_by=["order_id"],
        order_by=["ts"],
        pattern=pattern,
        measures=measures,
        output_schema="order_id string, timed_out boolean",
        within="10 minutes",
        ts_col="ts",
        timeout_measures=timeout_measures,
    ).toPandas()

    matched = set(out[~out["timed_out"]]["order_id"])
    timed_out = set(out[out["timed_out"]]["order_id"])
    assert matched == {"order_1"}
    assert timed_out == {"order_2", "order_3"}


def test_match_recognize_sql_front_end_golden(spark):
    """The SQL-surface front-end reproduces CEP.md:70-111 verbatim:
    PATTERN/DEFINE/MEASURES/AFTER MATCH as strings, golden output row
    (ACME, 10:00:04 / 10:00:07 / 10:00:08 shifted to the test base)."""
    from flink_examples_spark.operators.cep import match_recognize_sql

    out = match_recognize_sql(
        _ticker_df(spark),
        partition_by=["symbol"],
        order_by=["rowtime"],
        measures={
            "start_tstamp": "FIRST(START_ROW.rowtime)",
            "bottom_tstamp": "LAST(PRICE_DOWN.rowtime)",
            "end_tstamp": "LAST(PRICE_UP.rowtime)",
        },
        pattern="(START_ROW PRICE_DOWN+ PRICE_UP)",
        define={
            "PRICE_DOWN":
                "(LAST(PRICE_DOWN.price, 1) IS NULL AND "
                "PRICE_DOWN.price < START_ROW.price) OR "
                "PRICE_DOWN.price < LAST(PRICE_DOWN.price, 1)",
            "PRICE_UP": "PRICE_UP.price > LAST(PRICE_DOWN.price, 1)",
        },
        output_schema="symbol string, start_tstamp timestamp, "
        "bottom_tstamp timestamp, end_tstamp timestamp",
        after_match="SKIP TO LAST PRICE_UP",
    ).collect()

    base = dt.datetime(2020, 1, 1, 10, 0, 0)
    assert len(out) == 1, [tuple(r) for r in out]
    r = out[0]
    assert r.symbol == "ACME"
    assert r.start_tstamp == base + dt.timedelta(seconds=4)
    assert r.bottom_tstamp == base + dt.timedelta(seconds=7)
    assert r.end_tstamp == base + dt.timedelta(seconds=8)


def test_after_match_skip_to_last_var_resumes_AT_the_row(spark):
    """VERDICT r4 #5: general AFTER MATCH SKIP TO LAST <var> — Flink
    resumes AT the last row mapped to the variable, so in a W-shaped
    price series the row that ended downturn #1 (the first rebound)
    also STARTS downturn #2. SKIP PAST LAST ROW would start the second
    match one row later; the start_tstamp pins the difference."""
    from flink_examples_spark.operators.cep import match_recognize_sql

    pdf = pd.DataFrame({
        "symbol": ["W"] * 7,
        "rowtime": list(range(7)),
        "price": [12, 10, 8, 9, 7, 6, 11],   # W: down, up@3, down, up@6
    })
    out = match_recognize_sql(
        spark.createDataFrame(pdf),
        partition_by=["symbol"],
        order_by=["rowtime"],
        measures={
            "start_t": "FIRST(START_ROW.rowtime)",
            "bottom_t": "LAST(PRICE_DOWN.rowtime)",
            "end_t": "LAST(PRICE_UP.rowtime)",
        },
        pattern="(START_ROW PRICE_DOWN+ PRICE_UP)",
        define={
            "PRICE_DOWN":
                "(LAST(PRICE_DOWN.price, 1) IS NULL AND "
                "PRICE_DOWN.price < START_ROW.price) OR "
                "PRICE_DOWN.price < LAST(PRICE_DOWN.price, 1)",
            "PRICE_UP": "PRICE_UP.price > LAST(PRICE_DOWN.price, 1)",
        },
        output_schema="symbol string, start_t long, bottom_t long, "
                      "end_t long",
        after_match="SKIP TO LAST PRICE_UP",
    ).collect()
    got = sorted((r.start_t, r.bottom_t, r.end_t) for r in out)
    # second match STARTS at row 3 — the first match's PRICE_UP row
    assert got == [(0, 2, 3), (3, 5, 6)]


def test_after_match_skip_to_first_var_and_error_cases(spark):
    """SKIP TO FIRST <var> resumes at the FIRST row of the variable's
    mapping (here: re-scanning the first B of each B-run); SKIP TO
    FIRST of the leading variable and unknown targets raise like
    Flink."""
    from flink_examples_spark.operators.cep import match_recognize_sql

    def run(kinds, after):
        return match_recognize_sql(
            _kinds_df(spark, kinds),
            partition_by=["pk"],
            order_by=["ts"],
            measures={"a_ts": "FIRST(A.ts)", "b_first": "FIRST(B.ts)",
                      "c_ts": "LAST(C.ts)"},
            pattern="(A B+ C)",
            define={"A": "A.kind = 'a'", "B": "B.kind = 'b'",
                    "C": "C.kind = 'c'"},
            output_schema="pk string, a_ts long, b_first long, c_ts long",
            after_match=after,
        ).collect()

    # abbc then the FIRST B (ts=1) is rescanned: no second match grows
    # from it (b at 1 can't be an A), so one match — but crucially the
    # scan resumed at ts=1, which a-b-c starting at ts=4 proves: the
    # resumed scan still finds the later segment
    rows = run(list("abbcabc"), "SKIP TO FIRST B")
    got = sorted((r.a_ts, r.b_first, r.c_ts) for r in rows)
    assert got == [(0, 1, 3), (4, 5, 6)]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="infinite loop"):
        run(list("abc"), "SKIP TO FIRST A")
    with _pytest.raises(ValueError, match="not a pattern variable"):
        run(list("abc"), "SKIP TO LAST Z")


def test_row_number_col_clash_with_input_column_raises(spark):
    """``row_number_col`` naming an input column must raise before any
    job runs instead of silently overwriting that column; a fresh name
    exposes the per-key 1-based position to MEASURES."""
    import pytest as _pytest

    from flink_examples_spark.operators.cep import match_recognize_sql

    def run(rn_col):
        return match_recognize_sql(
            _kinds_df(spark, list("xabxab")),
            partition_by=["pk"],
            order_by=["ts"],
            measures={"a_ts": "A.ts", "b_rn": f"B.{rn_col}"},
            pattern="(A B)",
            define={"A": "A.kind = 'a'", "B": "B.kind = 'b'"},
            output_schema="pk string, a_ts long, b_rn long",
            row_number_col=rn_col,
        ).collect()

    got = sorted((r.a_ts, r.b_rn) for r in run("rn"))
    assert got == [(1, 3), (4, 6)]
    for taken in ("ts", "kind"):
        with _pytest.raises(ValueError, match="already an input column"):
            run(taken)


def test_match_recognize_sql_float_and_string_literals(spark):
    """Decimal literals must not be rewritten as VAR.field refs
    (10.5 -> _ref("10","5") silently falsified every predicate, ADVICE
    r1 cep.py:315), and quoted literals containing keywords survive
    substitution untouched."""
    from flink_examples_spark.operators.cep import match_recognize_sql

    pdf = pd.DataFrame(
        {
            "sym": ["X"] * 4,
            "seq": [1, 2, 3, 4],
            "price": [10.4, 10.6, 10.4, 12.0],
        }
    )
    out = match_recognize_sql(
        spark.createDataFrame(pdf),
        partition_by=["sym"],
        order_by=["seq"],
        measures={"hi_seq": "LAST(HI.seq)", "tag": "'UP AND AWAY'"},
        pattern="(HI)",
        define={"HI": "HI.price > 10.5 AND HI.sym = 'X'"},
        output_schema="sym string, hi_seq long, tag string",
    ).toPandas()
    assert sorted(out["hi_seq"]) == [2, 4]
    assert set(out["tag"]) == {"UP AND AWAY"}


def test_all_matches_plus_no_duplicate_and_partial_keeps_repetition():
    """Review regressions: (a) a PLUS element must not emit the same
    complete match twice in all_matches mode (the in_plus tail already
    covers the stop-extending branch); (b) timed-out greedy partials
    must include every greedily-consumed PLUS repetition row."""
    from flink_examples_spark.operators.cep import (
        Pat,
        _find_matches,
        _greedy_partial,
    )

    records = [{"t": "A"}, {"t": "B"}, {"t": "B"}, {"t": "C"}]
    pat = [
        Pat("A", lambda r, c: r["t"] == "A", "one", "strict"),
        Pat("B", lambda r, c: r["t"] == "B", "plus", "strict"),
        Pat("C", lambda r, c: r["t"] == "C", "one", "strict"),
    ]
    out: list = []
    _find_matches(records, pat, 0, None, True, out)
    assert out == [[("A", 0), ("B", 1), ("B", 2), ("C", 3)]]
    assert _greedy_partial(records[:3], pat, 0, None) == [
        ("A", 0), ("B", 1), ("B", 2),
    ]


def test_internal_contiguity_relaxed_flink_looping_default():
    """ADVICE r4 / D18: Flink's Pattern API defaults looping patterns
    to RELAXED internal contiguity — B+ may skip non-matching rows
    between repetitions. Opt in via internal_contiguity='relaxed' and
    the matcher must consume b, skip x, consume b; the default
    ('strict') keeps this repo's historical adjacent-only behavior."""
    from flink_examples_spark.operators.cep import Pat, _find_matches

    records = [{"t": "A"}, {"t": "B"}, {"t": "X"}, {"t": "B"}, {"t": "C"}]

    def mk(internal):
        return [
            Pat("A", lambda r, c: r["t"] == "A", "one", "strict"),
            Pat("B", lambda r, c: r["t"] == "B", "plus", "relaxed",
                internal_contiguity=internal),
            Pat("C", lambda r, c: r["t"] == "C", "one", "relaxed"),
        ]

    # Flink looping default: both Bs consumed across the X gap
    out: list = []
    _find_matches(records, mk("relaxed"), 0, None, False, out)
    assert out == [[("A", 0), ("B", 1), ("B", 3), ("C", 4)]]

    # repo default (strict internal): repetition stops at the gap
    out = []
    _find_matches(records, mk("strict"), 0, None, False, out)
    assert out == [[("A", 0), ("B", 1), ("C", 4)]]

    # relaxedAll internal (allowCombinations): in all-matches mode the
    # repetition branches on every later B. The FIRST repetition still
    # follows the between-elements followedBy (first hit = B@1), so the
    # combination set is every subset of later Bs extending B@1 —
    # exactly Flink's oneOrMore().allowCombinations() enumeration.
    recs2 = [{"t": "A"}, {"t": "B"}, {"t": "B"}, {"t": "B"}, {"t": "C"}]
    out = []
    _find_matches(recs2, mk("relaxedAll"), 0, None, True, out)
    b_sets = sorted(
        tuple(i for v, i in m if v == "B") for m in out
    )
    assert b_sets == [(1,), (1, 2), (1, 2, 3), (1, 3)]


def _kinds_df(spark, kinds):
    return spark.createDataFrame(
        [("k", i, kind) for i, kind in enumerate(kinds)],
        "pk string, ts long, kind string",
    )


def _run_quant(spark, kinds, pattern):
    out = match_recognize_sql_import()(
        _kinds_df(spark, kinds),
        partition_by=["pk"],
        order_by=["ts"],
        measures={
            "a_ts": "FIRST(A.ts)",
            "b_first": "FIRST(B.ts)",
            "b_last": "LAST(B.ts)",
            "c_ts": "LAST(C.ts)",
        },
        pattern=pattern,
        define={
            "A": "A.kind = 'a'",
            "B": "B.kind = 'b'",
            "C": "C.kind = 'c'",
        },
        output_schema="pk string, a_ts long, b_first long, b_last long, "
                      "c_ts long",
        after_match="SKIP PAST LAST ROW",
    ).collect()
    return sorted((r.a_ts, r.b_first, r.b_last, r.c_ts) for r in out)


def match_recognize_sql_import():
    from flink_examples_spark.operators.cep import match_recognize_sql

    return match_recognize_sql


def test_match_recognize_star_quantifier_golden(spark):
    """PATTERN (A B* C): greedy zero-or-more. Segment abbc matches with
    two Bs; segment ac matches with ZERO Bs (b_first/b_last NULL); the
    trailing abbb never completes (no C) and emits nothing."""
    got = _run_quant(
        spark, ["a", "b", "b", "c", "a", "c", "a", "b", "b", "b"],
        "(A B* C)",
    )
    assert got == [(0, 1, 2, 3), (4, None, None, 5)]


def test_match_recognize_bounded_quantifier_golden(spark):
    """PATTERN (A B{2,3} C): greedy up to 3, min 2 enforced, and the
    engine BACKTRACKS from the greedy maximum when C needs a row the
    repetition would swallow."""
    kinds = ["a", "b", "b", "b", "c",   # 3 Bs: greedy max
             "a", "b", "c",             # 1 B: below min -> no match
             "a", "b", "b", "c"]        # 2 Bs: backtrack-free min fit
    got = _run_quant(spark, kinds, "(A B{2,3} C)")
    assert got == [(0, 1, 3, 4), (8, 9, 10, 11)]
    # {2}: exact — the 3-B segment must now backtrack... and FAIL
    # (strict adjacency leaves a stray B between repetition and C),
    # while the 2-B segment still matches
    got = _run_quant(spark, kinds, "(A B{2} C)")
    assert got == [(8, 9, 10, 11)]


def test_match_recognize_question_quantifier_golden(spark):
    """PATTERN (A B? C): at most one B — abc and ac match, abbc can't
    (the second b separates the optional B from C)."""
    got = _run_quant(
        spark, ["a", "b", "c", "a", "c", "a", "b", "b", "c"], "(A B? C)"
    )
    assert got == [(0, 1, 1, 2), (3, None, None, 4)]


def test_match_recognize_open_upper_bound_golden(spark):
    """PATTERN (A B{2,} C): unbounded greedy above an enforced min."""
    got = _run_quant(
        spark, ["a", "b", "b", "b", "b", "c", "a", "b", "c"], "(A B{2,} C)"
    )
    assert got == [(0, 1, 4, 5)]


def test_match_recognize_quantifier_guardrails(spark):
    """Empty-matchable patterns, reluctant pattern-ends, and
    degenerate bounds raise loudly (Flink MATCH_RECOGNIZE parity);
    mid-pattern reluctant quantifiers parse (r5: implemented)."""
    import pytest as _pytest

    from flink_examples_spark.operators.cep import _parse_pattern

    assert _parse_pattern("A B+? C", {})[1].reluctant
    assert _parse_pattern("A B*? C", {})[1].reluctant
    assert not _parse_pattern("A B+ C", {})[1].reluctant
    with _pytest.raises(ValueError, match="reluctant"):
        _parse_pattern("A B+?", {})
    with _pytest.raises(ValueError, match="empty matches"):
        _parse_pattern("A* B?", {})
    with _pytest.raises(ValueError, match="degenerate"):
        _parse_pattern("A B{3,2} C", {})
    with _pytest.raises(ValueError, match="unparseable"):
        _parse_pattern("A B{x} C", {})
    # whitespace inside braces parses fine
    pats = _parse_pattern("A B{2, 4} C", {})
    assert (pats[1].min_times, pats[1].max_times) == (2, 4)


def test_reluctant_vs_greedy_plus(spark):
    """B+? consumes the FEWEST rows that let C match; B+ the most.
    Values 1,2,3,4,9 with C: price >= 4 — greedy runs B through 4 and
    takes C=9; reluctant stops B at 3 and takes C=4."""
    import pandas as pd
    from flink_examples_spark.operators.cep import match_recognize_sql

    pdf = pd.DataFrame(
        {"sym": ["X"] * 5, "seq": [1, 2, 3, 4, 5],
         "price": [1.0, 2.0, 3.0, 4.0, 9.0]}
    )
    def run(pattern):
        return match_recognize_sql(
            spark.createDataFrame(pdf),
            partition_by=["sym"], order_by=["seq"],
            measures={"b_last": "LAST(B.seq)", "c_price": "LAST(C.price)"},
            pattern=pattern,
            define={"A": "A.price = 1", "C": "C.price >= 4"},
            output_schema="sym string, b_last long, c_price double",
        ).toPandas().iloc[0]

    greedy = run("(A B+ C)")
    assert (greedy.b_last, greedy.c_price) == (4, 9.0)
    lazy = run("(A B+? C)")
    assert (lazy.b_last, lazy.c_price) == (3, 4.0)


def test_reluctant_bounded_range(spark):
    """B{2,4}? stops at its minimum 2 when C can then match."""
    import pandas as pd
    from flink_examples_spark.operators.cep import match_recognize_sql

    pdf = pd.DataFrame(
        {"sym": ["X"] * 6, "seq": [1, 2, 3, 4, 5, 6],
         "price": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]}
    )
    out = match_recognize_sql(
        spark.createDataFrame(pdf),
        partition_by=["sym"], order_by=["seq"],
        measures={"b_last": "LAST(B.seq)", "c_price": "LAST(C.price)"},
        pattern="(A B{2,4}? C)",
        define={"A": "A.price = 1", "C": "C.price >= 4"},
        output_schema="sym string, b_last long, c_price double",
    ).toPandas().iloc[0]
    assert (out.b_last, out.c_price) == (3, 4.0)


def test_reluctant_pattern_end_rejected(spark):
    import pandas as pd
    import pytest
    from flink_examples_spark.operators.cep import match_recognize_sql

    pdf = pd.DataFrame({"sym": ["X"], "seq": [1], "price": [1.0]})
    with pytest.raises(ValueError, match="reluctant"):
        match_recognize_sql(
            spark.createDataFrame(pdf),
            partition_by=["sym"], order_by=["seq"],
            measures={"n": "LAST(B.seq)"},
            pattern="(A B+?)",
            define={"A": "A.price = 1"},
            output_schema="sym string, n long",
        ).toPandas()


def test_cep_timeout_java_golden_matches_and_single_timeout(spark):
    """CEPTimeout.java:40-67 verbatim: ``begin('start').next('end'
    where name = error).within(2s)`` over the nine-event stream.
    Flink's output: matches (1,2) (5,6) (42,8); processTimedOutMatch
    fires exactly ONCE, for event 8's partial (end of stream = final
    watermark). Every other start is followed in-horizon by a
    non-error, which KILLS the computation (strict ``next``) — death
    emits nothing, only horizon expiry does (D9 closure)."""
    base = pd.Timestamp("2020-01-01 00:00:00")
    ids = [1, 2, 3, 4, 5, 6, 7, 42, 8]
    names = ["foo", "error", "critical", "bar", "33", "error", "bar",
             "55", "error"]
    df = spark.createDataFrame(pd.DataFrame({
        "k": ["s"] * len(ids),
        "id": ids,
        "name": names,
        "ts": [base + pd.Timedelta(milliseconds=100 * k)
               for k in range(len(ids))],
    }))

    pattern = [
        Pat("start", None, contiguity="strict"),
        Pat("end", where=lambda r, c: r["name"] == "error",
            contiguity="strict"),
    ]

    def measures(v, pdf):
        return {"start_id": v["start"].iloc[0]["id"],
                "end_id": v["end"].iloc[0]["id"], "timed_out": False}

    def timeout_measures(v, pdf):
        return {"start_id": v["start"].iloc[0]["id"],
                "end_id": None, "timed_out": True}

    out = match_recognize(
        df, partition_by=["k"], order_by=["ts"], pattern=pattern,
        measures=measures,
        output_schema="k string, start_id long, end_id long, "
                      "timed_out boolean",
        within="2 seconds", ts_col="ts",
        timeout_measures=timeout_measures,
    ).toPandas()

    matches = sorted(zip(out[~out.timed_out].start_id,
                         out[~out.timed_out].end_id))
    assert matches == [(1, 2), (5, 6), (42, 8)]
    assert list(out[out.timed_out].start_id) == [8]


def test_two_concurrent_partials_each_time_out_individually(spark):
    """D9 closure golden: a row satisfying BOTH the looping element and
    its successor forks two NFA computations (Flink's TAKE-into-loop vs
    PROCEED-TAKE); when the horizon passes, processTimedOutMatch fires
    for EACH — [A, B=b, B=bc] at C-wait and [A, B=b, C=bc] at D-wait.
    The old greedy collapse emitted only the first."""
    base = pd.Timestamp("2020-01-01 00:00:00")
    m = pd.Timedelta(minutes=1)
    df = spark.createDataFrame(pd.DataFrame({
        "k": ["k"] * 3,
        "action": ["a", "b", "bc"],
        "ts": [base, base + m, base + 2 * m],
    }))

    pattern = [
        Pat("A", lambda r, c: r["action"] == "a", contiguity="strict"),
        Pat("B", lambda r, c: r["action"] in ("b", "bc"),
            quantifier="plus", contiguity="strict"),
        Pat("C", lambda r, c: r["action"] in ("bc", "c"),
            contiguity="strict"),
        Pat("D", lambda r, c: r["action"] == "d", contiguity="strict"),
    ]

    def timeout_measures(v, pdf):
        return {"n_b": len(v.get("B", [])),
                "c_action": (v["C"].iloc[0]["action"]
                             if "C" in v else None)}

    out = match_recognize(
        df, partition_by=["k"], order_by=["ts"], pattern=pattern,
        measures=lambda v, p: {"n_b": -1, "c_action": "MATCH"},
        output_schema="k string, n_b int, c_action string",
        within="10 minutes", ts_col="ts",
        timeout_measures=timeout_measures,
    ).toPandas()

    got = sorted(zip(out.n_b, out.c_action),
                 key=lambda t: (t[0], t[1] or ""))
    assert got == [(1, "bc"), (2, None)], got


def test_live_partials_relaxed_all_keeps_perpetual_ignore_branch():
    """followedByAny (relaxedAll): a matching row is taken AND ignored.
    Rows a,b1,b2 with pattern A followedByAny B next C: [A,b1] died
    when b2 arrived without matching C (strict next kills); [A,b2]
    survives to end-of-input at C-wait; the branch that ignored every B
    is still waiting at B — Flink times out BOTH, individually."""
    from flink_examples_spark.operators.cep import _live_partials

    records = [{"t": "a"}, {"t": "b"}, {"t": "b"}]
    pat = [
        Pat("A", lambda r, c: r["t"] == "a", contiguity="strict"),
        Pat("B", lambda r, c: r["t"] == "b", contiguity="relaxedAll"),
        Pat("C", lambda r, c: r["t"] == "c", contiguity="strict"),
    ]
    out = _live_partials(records, pat, 0, None)
    assert [("A", 0), ("B", 2)] in out      # survived to end at C-wait
    assert [("A", 0)] in out                # perpetual-ignore branch
    assert [("A", 0), ("B", 1)] not in out  # killed by b2 (not C)


def test_live_partials_cap_keeps_greedy_first():
    """The branch cap sheds later branches and always retains the
    greedy-longest partial as element 0. Note only TWO computations are
    live at end-of-input here: the all-B loop branch and the branch
    that took C on the LAST row — every earlier proceed-branch reached
    D-wait with rows remaining and was killed by the strict non-D row
    (death, not timeout), exactly Flink's pruning."""
    from flink_examples_spark.operators.cep import _live_partials

    records = [{"t": "a"}] + [{"t": "bc"}] * 6
    pat = [
        Pat("A", lambda r, c: r["t"] == "a", contiguity="strict"),
        Pat("B", lambda r, c: r["t"] == "bc", quantifier="plus",
            contiguity="strict"),
        Pat("C", lambda r, c: r["t"] == "bc", contiguity="strict"),
        Pat("D", lambda r, c: r["t"] == "d", contiguity="strict"),
    ]
    full = _live_partials(records, pat, 0, None)
    capped = _live_partials(records, pat, 0, None, cap=1)
    assert full == [
        [("A", 0)] + [("B", i) for i in range(1, 7)],
        [("A", 0)] + [("B", i) for i in range(1, 6)] + [("C", 6)],
    ]
    assert capped == full[:1]


def test_live_partials_differential_vs_global_event_simulation():
    """Differential fuzz for the D9 semantics: an INDEPENDENT
    event-driven simulator (every row spawns a start-state
    computation; computations branch on take/proceed, survive by their
    resident element's ignore rule, die on strict in-horizon
    mismatches, and time out at horizon/end-of-input) must produce the
    same multiset of timed-out partials as the anchored-DFS sweep the
    batch loop performs (_live_partials per anchor, advancing past each
    anchor). Patterns end in a never-matching element so no complete
    match exists and the comparison is pure timeout enumeration."""
    import random

    from flink_examples_spark.operators.cep import (
        Pat,
        _bounds,
        _find_matches,
        _live_partials,
    )

    def mk_pred(ch):
        return lambda r, c, ch=ch: ch in r["t"]

    def simulate(records, pattern, within):
        def pred(j, r, consumed):
            e = pattern[j]
            if e.where is None:
                return True
            from flink_examples_spark.operators.cep import MatchCtx
            return bool(e.where(records[r], MatchCtx(list(consumed),
                                                     records)))

        def chain_of(ei, reps):
            ch, j, rj = [], ei, reps
            while True:
                ch.append((j, rj))
                lo_j, _ = _bounds(pattern[j])
                if rj >= lo_j and j + 1 < len(pattern):
                    j, rj = j + 1, 0
                    continue
                return ch

        comps: list[tuple[int, int, tuple]] = []
        out = []
        n = len(records)
        for r in range(n + 1):  # n = end-of-input tick
            survivors: list[tuple[int, int, tuple]] = []
            for ei, reps, consumed in comps + [(0, 0, ())]:
                if not consumed and r >= n:
                    continue
                if consumed and (
                    r >= n or (within and not within(consumed[0][1], r))
                ):
                    out.append(list(consumed))
                    continue
                if r >= n:
                    continue
                chain = chain_of(ei, reps)
                res = next(
                    ((j, rj) for j, rj in chain
                     if _bounds(pattern[j])[1] is None
                     or rj < _bounds(pattern[j])[1]),
                    chain[0],
                )
                res_hit = False
                base = consumed[-1][1] + 1 if consumed else r
                for j, rj in chain:
                    lo_j, hi_j = _bounds(pattern[j])
                    if hi_j is not None and rj >= hi_j:
                        continue
                    e = pattern[j]
                    eff = e.internal_contiguity if rj > 0 else e.contiguity
                    if eff == "strict" and r != base:
                        continue
                    if pred(j, r, consumed):
                        survivors.append(
                            (j, rj + 1, consumed + ((e.name, r),))
                        )
                        if (j, rj) == res:
                            res_hit = True
                if not consumed:
                    continue  # each row gets its own fresh start
                re_ = pattern[res[0]]
                eff_r = (re_.internal_contiguity if res[1] > 0
                         else re_.contiguity)
                if eff_r == "relaxedAll" or (
                    eff_r == "relaxed" and not res_hit
                ):
                    survivors.append((ei, reps, consumed))
            comps = survivors
        return sorted(out)

    rng = random.Random(20260815)
    alphabet = ["a", "b", "c", "ab", "bc"]
    checked = 0
    for _ in range(300):
        n_elems = rng.randint(2, 4)
        pats = []
        for k in range(n_elems):
            last = k == n_elems - 1
            q = rng.choice(["one", "plus", "range"])
            lo, hi = {"one": (1, 1), "plus": (1, None),
                      "range": (rng.randint(0, 2), rng.randint(2, 3))}[q]
            if lo == 0 and k in (0, n_elems - 1):
                lo = 1  # anchors well-defined; 'z' tail never optional
            pats.append(Pat(
                f"V{k}",
                mk_pred("z") if last else mk_pred(rng.choice("abc")),
                contiguity=rng.choice(["strict", "relaxed", "relaxedAll"]),
                min_times=lo, max_times=hi,
                internal_contiguity=rng.choice(["strict", "relaxed"]),
            ))
        records = [{"t": rng.choice(alphabet)}
                   for _ in range(rng.randint(1, 8))]

        # sweep exactly like the batch timeout loop
        swept, start = [], 0
        while start < len(records):
            found: list = []
            _find_matches(records, pats, start, None, False, found)
            assert not found  # 'z' tail: no completion possible
            live = _live_partials(records, pats, start, None, cap=10_000)
            if live:
                swept.extend(live)
                start = live[0][0][1] + 1
            else:
                start += 1
        assert sorted(swept) == simulate(records, pats, None), (
            pats, records)
        checked += 1
    assert checked == 300


def test_match_could_extend_counts_only_trailing_run():
    """r7 (ADVICE): when a pattern reuses a variable name in
    non-adjacent elements, only the TRAILING contiguous run counts
    against the last element's max — counting every occurrence would
    declare an extendable boundary match saturated and emit it eagerly,
    regressing the D10 hold."""
    from flink_examples_spark.operators.cep import _match_could_extend

    pattern = [Pat("B"), Pat("A"), Pat("B", min_times=1, max_times=2)]
    # trailing B run is 1 of max 2 -> still extendable, despite two
    # B-labelled rows existing in the match overall
    assert _match_could_extend(pattern, [("B", 0), ("A", 1), ("B", 2)])
    # trailing run saturated at max 2 and no trailing optional element
    assert not _match_could_extend(
        pattern, [("B", 0), ("A", 1), ("B", 2), ("B", 3)]
    )
