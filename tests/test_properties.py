"""Property-based randomized tests (SURVEY.md §5.2.4).

The reference's generator sources (state/generator/EventsGenerator.java:
58-104 — DFA walk with an error-rate knob; StudentGenerator) become
seeded hypothesis generators; invariants replace golden outputs:

- alert count == number of injected invalid transitions
- windowed counts partition the input (sum == row count)
- binary int-pair codec round-trips (EventDeSerializer.java:21-39)
"""

from __future__ import annotations

import random
import struct

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from flink_examples_spark.queries import _DFA_TRANSITIONS

SYMBOLS = sorted(_DFA_TRANSITIONS)


def _walk_with_errors(rng: random.Random, n: int, error_rate: float):
    """Seeded DFA walk emitting (symbol, is_injected_error) — the
    EventsGenerator error-knob pattern."""
    seq = []
    state = None
    errors = 0
    for _ in range(n):
        legal = sorted(_DFA_TRANSITIONS[state]) if state else SYMBOLS
        if state is not None and rng.random() < error_rate:
            illegal = sorted(set(SYMBOLS) - _DFA_TRANSITIONS[state])
            if illegal:
                sym = rng.choice(illegal)
                errors += 1
            else:
                sym = rng.choice(legal)
        else:
            sym = rng.choice(legal)
        seq.append(sym)
        state = sym
    return seq, errors


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(seed=st.integers(0, 2**31), error_rate=st.floats(0.0, 0.5))
def test_dfa_alert_count_equals_injected_errors(spark, seed, error_rate):
    from flink_examples_spark.operators.stateful import dfa_alerts

    rng = random.Random(seed)
    rows, expected = [], {}
    for user in range(5):
        seq, errors = _walk_with_errors(rng, 40, error_rate)
        expected[user] = errors
        rows.extend((user, i, sym) for i, sym in enumerate(seq))
    df = spark.createDataFrame(rows, "user_id long, pos long, sym string")
    out = {
        r["user_id"]: r["n_alerts"]
        for r in dfa_alerts(
            df, key="user_id", order_cols=["pos"], symbol_col="sym",
            transitions=_DFA_TRANSITIONS,
        ).collect()
    }
    assert out == expected


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(seed=st.integers(0, 2**31))
def test_tumbling_windows_partition_the_input(spark, seed):
    rng = random.Random(seed)
    n = rng.randint(1, 200)
    rows = [
        (i, "2024-01-01 %02d:%02d:00" % (rng.randint(0, 23), rng.randint(0, 59)))
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "id long, ts string").select(
        "id", F.col("ts").cast("timestamp").alias("ts")
    )
    total = (
        df.groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum("n").alias("s"))
        .first()["s"]
    )
    assert total == n


def test_binary_int_pair_codec_roundtrip(spark):
    """EventDeSerializer.java:21-39: 2x little-endian int32 payloads
    decode via pure expressions (no UDF)."""
    from flink_examples_spark.streaming.sources import decode_int_pair_binary

    pairs = [(167772161, 3), (0, 0), (2130706433, 6), (16909060, 1)]
    payloads = [(struct.pack("<ii", a, b),) for a, b in pairs]
    df = spark.createDataFrame(payloads, "value binary")
    got = [
        (r["source_address"], r["event_type_ordinal"])
        for r in decode_int_pair_binary(df).collect()
    ]
    assert got == pairs


def test_winnow_fingerprint_guarantee_and_density(spark):
    """Winnowing invariants: any shared substring of length >= k+w-1
    (= 8) yields a shared fingerprint; fingerprint count is a fraction
    of the gram count; short docs fingerprint to empty."""
    from flink_examples_spark.functions.text import winnow_fingerprints

    shared = "zqxwvutsrqponm"  # 14 chars > 8, appears in both docs
    rows = [
        (1, "aaaa " + shared + " bbbb"),
        (2, "cccc dddd " + shared),
        (3, "no overlap here at all!!"),
        (4, "tiny"),  # < k+w-1: no complete window
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: set(r.fps) for r in df.select(
        "doc_id", winnow_fingerprints("text", 5, 4).alias("fps")
    ).collect()}
    assert out[1] & out[2]          # shared substring -> shared fp
    assert not (out[1] & out[3])    # no shared substring -> disjoint
    assert not (out[2] & out[3])
    assert out[4] == set()
    n_grams = len(rows[0][1]) - 4
    assert len(out[1]) < n_grams    # winnowing compresses the gram set


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.integers(min_value=1, max_value=40), min_size=1,
                max_size=30),
       st.integers(min_value=2, max_value=64))
def test_packing_conserves_tokens_and_orders_bins(spark, doc_lens, target):
    """sequence_pack invariants over random corpora: token totals are
    conserved across bins, pack ids start at 0 and are contiguous per
    partition, and bin contents follow id order (a doc's pack id never
    decreases as doc_id grows)."""
    from flink_examples_spark.operators.packing import (
        pack_stats,
        sequence_pack,
    )

    rows = [(i, "s", " ".join(["w"] * n)) for i, n in enumerate(doc_lens)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    packed = sequence_pack(df, "doc_id", "text", target, "source").collect()
    by_id = sorted(packed, key=lambda r: r["doc_id"])
    ids = [r["pack_id"] for r in by_id]
    assert ids[0] == 0
    assert all(a <= b for a, b in zip(ids, ids[1:]))          # monotone
    stats = pack_stats(
        sequence_pack(df, "doc_id", "text", target, "source"), "source"
    ).collect()
    assert sum(r["pack_tokens"] for r in stats) == sum(doc_lens)  # conserved
    # pack ids need NOT be contiguous (an oversized doc spans bins and
    # later docs skip past the consumed range — doc_lens=[4,1], target=2
    # packs to ids {0, 2}); the bound that must hold: no bin exceeds
    # target + (its largest doc) - 1 tokens
    max_doc = max(doc_lens)
    assert all(r["pack_tokens"] <= target + max_doc - 1 for r in stats)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.integers(min_value=1, max_value=50), min_size=1,
                max_size=20),
       st.integers(min_value=1, max_value=16))
def test_chunking_partitions_every_token_exactly_once(spark, doc_lens, c):
    """chunk_documents invariants: per doc, chunk sizes sum to the token
    count, all chunks except the last are exactly c tokens, and chunk
    indexes are 0..k-1 contiguous."""
    from flink_examples_spark.operators.packing import chunk_documents

    rows = [(i, " ".join(f"t{j}" for j in range(n)))
            for i, n in enumerate(doc_lens)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, "doc_id", "text", c).collect()
    per_doc: dict = {}
    for r in sorted(out, key=lambda r: (r["doc_id"], r["chunk_idx"])):
        per_doc.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["n_chunk_tokens"])
        )
    for i, n in enumerate(doc_lens):
        chunks = per_doc[i]
        assert [ci for ci, _ in chunks] == list(range(len(chunks)))
        sizes = [s for _, s in chunks]
        assert sum(sizes) == n
        assert all(s == c for s in sizes[:-1])
        assert 1 <= sizes[-1] <= c


def test_bpe_pretokens_losslessly_partition_any_text(spark):
    """BPE_SPLIT_REGEX must PARTITION every string: concatenating the
    matches reproduces the input byte-for-byte (no char falls between
    matches, none is double-counted), and Spark and DuckDB agree on the
    token lists. 200 adversarial strings — random mixes of letters,
    digits, punctuation, contractions, unicode and whitespace runs —
    checked in one job."""
    import random
    import duckdb

    from pyspark.sql import functions as F

    from flink_examples_spark.functions.text import BPE_SPLIT_REGEX, bpe_tokens

    rng = random.Random(42)
    alphabets = [
        "abc XYZ 012",
        "'stsre 've'll'd n''t",
        ".,;:!?-()[]#@/\\\"",
        " \t\n\r  ",
        "café über 中文 10①",
        "a1b2 3.14 1,000,000 --flag",
    ]
    samples = []
    for i in range(200):
        parts = []
        for _ in range(rng.randint(0, 12)):
            a = rng.choice(alphabets)
            k = rng.randint(1, 6)
            parts.append("".join(rng.choice(a) for _ in range(k)))
        samples.append("".join(parts))
    df = spark.createDataFrame(
        list(enumerate(samples)), "i long, text string"
    )
    got = {r.i: r.toks for r in
           df.select("i", bpe_tokens("text").alias("toks")).collect()}
    con = duckdb.connect()
    for i, s in enumerate(samples):
        assert "".join(got[i]) == s, (i, repr(s), got[i])
        want = con.execute(
            "select regexp_extract_all(?, ?)", [s, BPE_SPLIT_REGEX]
        ).fetchone()[0]
        assert got[i] == want, (i, repr(s))


# ---------------------------------------------------------------------------
# BPE tokenizer primitives (operators/tokenizer.py) — pure-Python core
# ---------------------------------------------------------------------------

@given(
    word=st.text(alphabet="abc ", min_size=1, max_size=24),
    pair_idx=st.lists(
        st.tuples(st.sampled_from("abc "), st.sampled_from("abc ")),
        max_size=12,
    ),
)
@settings(deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_bpe_encode_conserves_any_word_under_any_merge_table(word, pair_idx):
    """For ANY word and ANY merge sequence (including pairs that merge
    previously-merged symbols), encoding never creates or destroys
    characters, and yields at least one token for a non-empty word."""
    from flink_examples_spark.operators.tokenizer import (
        _encode_word,
        _merge_word,
    )

    # grow a rank table the way training does: later merges may fuse
    # earlier merge outputs
    symbols = [a + b for a, b in pair_idx]
    ranks = {}
    for i, (a, b) in enumerate(pair_idx):
        ranks[(a, b)] = len(ranks)
        for s in symbols[:i]:
            ranks.setdefault((s, a), len(ranks))
    parts = _encode_word(word, ranks)
    assert "".join(parts) == word
    assert len(parts) >= 1
    # idempotence: re-merging any learned pair over the result changes
    # nothing the encoder would have left mergeable
    again = _encode_word("".join(parts), ranks)
    assert "".join(again) == word
    # _merge_word merges every occurrence
    merged = _merge_word(list(word), ("a", "b"))
    assert "".join(merged) == word
    assert all(
        not (x == "a" and y == "b")
        for x, y in zip(merged, merged[1:])
    )


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(st.tuples(st.integers(1, 3), st.integers(0, 20)),
             min_size=1, max_size=15),
    st.lists(st.tuples(st.integers(1, 3), st.integers(0, 20)),
             min_size=0, max_size=15),
)
def test_asof_join_matches_bruteforce(spark, lefts, rights):
    """asof_join invariants over random keyed streams: exactly one
    output row per left row, and each picks the max-(ts, ord) right row
    with right_ts <= left_ts on its key — verified against a plain
    Python scan."""
    from flink_examples_spark.operators.joins import asof_join

    lrows = [(k, t, i) for i, (k, t) in enumerate(lefts)]
    rrows = [(k, t, 100 + i) for i, (k, t) in enumerate(rights)]
    ldf = spark.createDataFrame(
        lrows, "k int, lt long, lid int"
    ).withColumn("lts", F.timestamp_seconds("lt"))
    rdf = spark.createDataFrame(
        rrows or [(0, -1, -1)], "k int, rt long, rid int"
    ).withColumn("rts", F.timestamp_seconds("rt"))
    out = asof_join(ldf, rdf, "k", "lts", "rts", ["rid"],
                    right_order="rid").collect()
    got = {r["lid"]: r["rid"] for r in out}
    want = {}
    for k, t, lid in lrows:
        elig = [(rt, rid) for rk, rt, rid in (rrows or [(0, -1, -1)])
                if rk == k and rt <= t]
        want[lid] = max(elig)[1] if elig else None
    assert got == want
    assert len(out) == len(lrows)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 30),
                  st.sampled_from(["a", "b", "c"])),
        min_size=1, max_size=25,
    )
)
def test_funnel_matches_bruteforce(spark, events):
    """Ordered-funnel invariants over random event streams: per-user
    first-times equal the sequential-min definition (t_k = min ts of a
    step-k event strictly after t_{k-1}), and stage counts are
    monotonically non-increasing."""
    from flink_examples_spark.operators.journey import (
        funnel_first_times,
        funnel_stage_counts,
    )

    steps = ["a", "b", "c"]
    df = spark.createDataFrame(
        events, "user_id int, t long, event_type string"
    ).withColumn("ts", F.timestamp_seconds("t"))
    ft = funnel_first_times(df, "user_id", "ts", "event_type", steps)
    got = {
        r["user_key"]: [
            None if r[f"t_{s}"] is None
            else int(r[f"t_{s}"].timestamp())
            for s in steps
        ]
        for r in ft.collect()
    }
    want = {}
    for u in {e[0] for e in events}:
        ue = [(t, tp) for uu, t, tp in events if uu == u]
        prev = None
        slots = []
        for i, s in enumerate(steps):
            cand = [
                t for t, tp in ue
                if tp == s and (i == 0 or (prev is not None and t > prev))
            ]
            cur = min(cand) if cand else None
            slots.append(cur)
            prev = cur
        want[u] = slots
    assert got == want
    counts = [
        r["n_users"]
        for r in funnel_stage_counts(df, "user_id", "ts", "event_type", steps)
        .orderBy("step_idx")
        .collect()
    ]
    assert all(a >= b for a, b in zip(counts, counts[1:]))


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.integers(1, 120), st.integers(1, 16), st.integers(1, 16))
def test_strided_chunking_covers_minimally(spark, n_tokens, c, s):
    """chunk_documents_strided invariants for any (len, chunk, stride<=
    chunk): windows start every stride tokens, every token falls in at
    least one window, interior windows are full-size, and the cover is
    MINIMAL — dropping the last window would leave the tail uncovered."""
    from flink_examples_spark.operators.packing import (
        chunk_documents_strided,
    )

    s = min(s, c)
    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(n_tokens)))],
        "doc_id long, text string",
    )
    rows = sorted(
        chunk_documents_strided(df, "doc_id", "text", c, s).collect(),
        key=lambda r: r["chunk_idx"],
    )
    assert [r["start_tok"] for r in rows] == [i * s for i in range(len(rows))]
    covered = set()
    for r in rows:
        covered |= set(range(r["start_tok"], r["start_tok"] + r["n_chunk_tokens"]))
    assert covered == set(range(n_tokens))                 # full cover
    assert all(r["n_chunk_tokens"] == c for r in rows[:-1])  # interior full
    if len(rows) > 1:  # minimal: second-to-last window misses the tail
        assert rows[-2]["start_tok"] + c < n_tokens


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(st.one_of(st.none(), st.integers(-30, 30)),
             min_size=1, max_size=20),
    st.lists(
        st.tuples(st.one_of(st.none(), st.integers(-30, 30)),
                  st.integers(0, 40)),
        min_size=1, max_size=12,
    ),
    st.sampled_from([1.0, 7.0, 100.0]),
)
def test_banded_range_join_matches_bruteforce(spark, pts, ivs, width):
    """banded_range_join invariants over random points/intervals and
    bucket widths (including width far larger and far smaller than
    interval spans): exactly the BETWEEN-predicate pair set, no
    duplicates from multi-cell intervals, NULL points/bounds never
    match, inverted intervals (hi < lo after construction) excluded."""
    from flink_examples_spark.operators.joins import banded_range_join

    prow = [(i, float(p) if p is not None else None)
            for i, p in enumerate(pts)]
    irow = [
        (100 + i,
         float(lo) if lo is not None else None,
         float(lo + span) if lo is not None else None)
        for i, (lo, span) in enumerate(ivs)
    ]
    pdf = spark.createDataFrame(prow, "pid int, v double")
    idf = spark.createDataFrame(irow, "iid int, lo double, hi double")
    got = sorted(
        (r.pid, r.iid)
        for r in banded_range_join(pdf, idf, "v", "lo", "hi", width)
        .collect()
    )
    want = sorted(
        (pid, iid)
        for pid, v in prow
        for iid, lo, hi in irow
        if v is not None and lo is not None and hi is not None
        and lo <= v <= hi
    )
    assert got == want


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.tuples(st.one_of(st.none(), st.integers(-25, 25)),
                  st.integers(0, 30)),
        min_size=1, max_size=12,
    ),
    st.lists(
        st.tuples(st.one_of(st.none(), st.integers(-25, 25)),
                  st.integers(0, 30)),
        min_size=1, max_size=12,
    ),
    st.sampled_from([1.0, 9.0, 80.0]),
)
def test_banded_overlap_join_matches_bruteforce(spark, ls, rs, width):
    """banded_overlap_join invariants: exactly the closed-bound overlap
    pair set, each pair emitted ONCE despite multi-cell co-coverage
    (the responsible-cell rule), NULL bounds never match."""
    from flink_examples_spark.operators.joins import banded_overlap_join

    lrow = [
        (i,
         float(lo) if lo is not None else None,
         float(lo + span) if lo is not None else None)
        for i, (lo, span) in enumerate(ls)
    ]
    rrow = [
        (100 + i,
         float(lo) if lo is not None else None,
         float(lo + span) if lo is not None else None)
        for i, (lo, span) in enumerate(rs)
    ]
    ldf = spark.createDataFrame(lrow, "lid int, llo double, lhi double")
    rdf = spark.createDataFrame(rrow, "rid int, rlo double, rhi double")
    got = sorted(
        (r.lid, r.rid)
        for r in banded_overlap_join(
            ldf, rdf, "llo", "lhi", "rlo", "rhi", width
        ).collect()
    )
    want = sorted(
        (lid, rid)
        for lid, llo, lhi in lrow
        for rid, rlo, rhi in rrow
        if llo is not None and rlo is not None
        and llo <= rhi and rlo <= lhi
    )
    assert got == want
    assert len(got) == len(set(got))  # responsible-cell rule: no dups


def test_banded_joins_reject_degenerate_bucket_width(spark):
    """A zero/negative bucket width would floor-divide every value to
    Infinity/NaN cells and silently match nothing — both banded joins
    must refuse it loudly."""
    import pytest

    from flink_examples_spark.operators.joins import (
        banded_overlap_join,
        banded_range_join,
    )

    pts = spark.createDataFrame([(1, 1.0)], "pid int, v double")
    ivs = spark.createDataFrame(
        [(2, 0.0, 2.0)], "iid int, lo double, hi double"
    )
    with pytest.raises(ValueError, match="bucket_width"):
        banded_range_join(pts, ivs, "v", "lo", "hi", 0.0)
    with pytest.raises(ValueError, match="bucket_width"):
        banded_overlap_join(ivs, ivs, "lo", "hi", "lo", "hi", -1.0)


@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdefg"), min_size=0, max_size=12),
        min_size=1, max_size=10,
    )
)
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_containment_matches_bruteforce(spark, docs):
    """Containment pairs == brute-force distinct-3-gram set arithmetic
    for ANY corpus (threshold 0.5, no frequency cap)."""
    from flink_examples_spark.operators.dedup import ngram_containment_pairs

    texts = {i: " ".join(d) for i, d in enumerate(docs)}
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {
        (r.doc_a, r.doc_b): (r.n_common, r.n_a)
        for r in ngram_containment_pairs(
            df, "doc_id", "text", n=3, threshold=0.5
        ).collect()
    }

    def sh(t):
        w = [x for x in t.split(" ") if x]
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    want = {}
    for a, ta in texts.items():
        for b, tb in texts.items():
            if a == b or not sh(ta):
                continue
            inter = len(sh(ta) & sh(tb))
            if inter / len(sh(ta)) >= 0.5:
                want[(a, b)] = (inter, len(sh(ta)))
    assert got == want


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 6),
                  st.integers(1, 9)),
        min_size=1, max_size=20,
    ),
    iters=st.integers(0, 5),
)
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_walk_mass_conserves_and_matches_bruteforce(spark, edges, iters):
    """Integer walk mass == a literal python simulation of the same
    recurrence, and total mass is conserved exactly, for ANY weighted
    multigraph (parallel edges collapse by weight-sum first)."""
    from collections import defaultdict

    from flink_examples_spark.operators.graph import walk_mass

    w = defaultdict(int)
    for s, d, x in edges:
        w[(s, d)] += x
    rows = [(s, d, x) for (s, d), x in w.items()]
    df = spark.createDataFrame(rows, "src long, dst long, w long")
    got = {r.node: r.mass for r in
           walk_mass(df, iterations=iters).collect()}

    nodes = {s for s, _ in w} | {d for _, d in w}
    out_w = defaultdict(int)
    for (s, _), x in w.items():
        out_w[s] += x
    mass = {v: 1_000_000 for v in nodes}
    for _ in range(iters):
        nxt = dict(mass)
        for (s, d), x in w.items():
            c = (mass[s] * 85 * x) // (100 * out_w[s])
            nxt[s] -= c
            nxt[d] += c
        mass = nxt
    assert got == mass
    assert sum(got.values()) == len(nodes) * 1_000_000


@given(
    keys=st.lists(st.integers(0, 40), min_size=1, max_size=60),
    split=st.integers(1, 59),
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_kmv_fold_equals_whole_under_any_split(spark, keys, split):
    """Mergeability is exact for ANY batch split: min-k of the union
    == min-k over folded partials, so the streaming profile's distinct
    estimate can never depend on batch boundaries."""
    from flink_examples_spark.operators.sketches import kmv_estimates

    split = min(split, len(keys))
    rows = [("g", k) for k in keys]
    whole = kmv_estimates(
        spark.createDataFrame(rows, "g string, user long"),
        "user", ["g"], k=8,
    ).collect()[0]
    a = spark.createDataFrame(rows[:split] or [("g", keys[0])],
                              "g string, user long")
    b = spark.createDataFrame(rows[split:] or [("g", keys[-1])],
                              "g string, user long")
    via_union = kmv_estimates(
        a.unionByName(b), "user", ["g"], k=8
    ).collect()[0]
    assert (whole.n_kept, whole.kmv_est) \
        == (via_union.n_kept, via_union.kmv_est)
