"""Record the row count and order-insensitive hash of every batch query,
and of the batch formulations of the streaming queries, on the
benchmark's copy of the sf0.01 events table into ``expected.json``.

    python3 perfbench/record_expected.py

Each query runs twice and must give the same hash both times. Where the
registry has DuckDB oracle SQL, the result is also checked against it
with ``tests/oracle.py`` (run from a repository checkout, which has the
``tests`` package); a query that disagrees with its oracle is refused.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run
from batch import QUERIES
from engine import Engine
from spans import result_hash
from stream import DEDUP_KEYS, SKETCH_DEPTH, outputs


def stream_expected(spark, sf_dir: str) -> dict:
    """The batch formulations of ``stream_replay``'s two queries over the
    same events: ``operators.topn.hot_items``, and the Count-Min sketch of
    the distinct dedup keys."""
    from flink_examples_spark.catalog import load_table
    from flink_examples_spark.operators.sketches import countmin_table
    from flink_examples_spark.operators.topn import hot_items

    events = load_table(spark, "events", sf_dir)
    keys = events.select(*DEDUP_KEYS).distinct()
    want = outputs(
        [tuple(r) for r in hot_items(events).collect()],
        countmin_table(keys, "user_id", depth=SKETCH_DEPTH).collect(),
    )
    if want["dedup_keys"] != keys.count():
        raise RuntimeError("sketch row 0 does not count every key once")
    return want


def main() -> int:
    sys.path.insert(0, run.ROOT)
    from flink_examples_spark.queries import registry

    try:
        from tests.oracle import compare
    except ImportError:
        compare = None
    base = os.path.join(run.ROOT, ".perfbench")
    sf_dir = run.SF_DIR
    work = os.path.join(base, f"record-{os.getpid()}")
    engine = Engine(run.ROOT, work)
    reg = registry()
    out: dict[str, dict] = {}
    problems = []
    try:
        spark = engine.start()
        for workload, names in QUERIES.items():
            out[workload] = {}
            for name in sorted(names):
                got = []
                for _ in range(2):
                    rows = reg[name].spark_fn(spark, sf_dir).collect()
                    got.append({"rows": len(rows), "hash": result_hash(rows)})
                    engine.unpersist_all()
                if got[0] != got[1]:
                    problems.append(f"{name}: not deterministic: {got}")
                    continue
                oracle = "no oracle"
                if compare is not None and reg[name].oracle:
                    res = compare(name, reg[name].spark_fn(spark, sf_dir), reg[name].oracle, sf_dir)
                    engine.unpersist_all()
                    if not (res.ok and res.exact_hash_match):
                        problems.append(f"{name}: disagrees with its oracle: {res.detail}")
                        continue
                    oracle = "oracle ok"
                out[workload][name] = got[0]
                print(f"{workload} {name} {got[0]} {oracle}", flush=True)
        out["stream_replay"] = stream_expected(spark, sf_dir)
        print(f"stream_replay {out['stream_replay']}", flush=True)
    finally:
        engine.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    if problems:
        print("\n".join(problems), file=sys.stderr)
        return 1
    with open(run.EXPECTED, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
