"""Ratchet on the package's public options: an option no caller sets is
a code path nothing runs.

The staged store, the table writers and the file stream are parquet
only; the rolling file sink (K2/K3) is the one place a file format is
chosen. The minhash and
inverted-index operators tokenize their own input (only the Jaccard
verify stage reads a shared shingle index), and the delta / eval sides
of the incremental LSH, merge and decontamination joins are always
broadcast. Compact-every-N hooks ride only the staged faces a caller
schedules compaction on. The CEP NFA scans every key to its end (no
per-key match cap), and its timed-out partial enumeration keeps
``_live_partials``' own cap.

The same ratchet counts hand-written pins: every ``localCheckpoint``
call per module, and how many of them are eager; and every defaulted
parameter of a public function per module — an option only enters the
package through an edit to ``DEFAULTED``, in review.
"""

from __future__ import annotations

import ast
import importlib
import inspect
import pathlib
import pkgutil

import flink_examples_spark

ALLOWED = {
    "fmt": {"rolling_file_sink"},
    "shingles_df": {"verify_jaccard_on_candidates"},
    "broadcast_delta": set(),
    "broadcast_eval": set(),
    "max_concurrent_partials": set(),
    "max_matches_per_key": set(),
    "compact_every_n_batches": {
        "cdc_merge_foreach_batch",
        "paragraph_dedup_ingest_foreach_batch",
        "span_dedup_ingest_foreach_batch",
        "bitmap_ingest_foreach_batch",
        "_staged_fp_ingest_foreach_batch",
    },
}

# module -> (localCheckpoint calls, eager ones)
PINS = {
    "operators/classify.py": (1, 0),
    "operators/dedup.py": (5, 1),
    "operators/diff.py": (1, 1),
    "operators/drift.py": (1, 0),
    "operators/graph.py": (2, 2),
    "operators/multimodal.py": (1, 1),
    "operators/sampling.py": (1, 0),
    "operators/similarity.py": (1, 0),
    "operators/skew.py": (2, 2),
    "queries.py": (10, 0),
    "streaming/sinks.py": (5, 5),
}


# module -> defaulted parameters of its public functions
DEFAULTED = {
    "catalog.py": 2,
    "functions/scalar.py": 1,
    "functions/text.py": 2,
    "operators/cep.py": 8,
    "operators/classify.py": 4,
    "operators/crawl.py": 10,
    "operators/decontam.py": 5,
    "operators/dedup.py": 42,
    "operators/diff.py": 1,
    "operators/enrich.py": 3,
    "operators/graph.py": 1,
    "operators/integrity.py": 2,
    "operators/iteration.py": 2,
    "operators/joins.py": 2,
    "operators/journey.py": 1,
    "operators/multimodal.py": 7,
    "operators/packing.py": 2,
    "operators/quality.py": 7,
    "operators/sampling.py": 7,
    "operators/search.py": 1,
    "operators/similarity.py": 42,
    "operators/sketches.py": 8,
    "operators/skew.py": 7,
    "operators/stateful.py": 1,
    "operators/tokenizer.py": 5,
    "operators/topn.py": 3,
    "operators/util.py": 1,
    "queries.py": 1,
    "session.py": 4,
    "sources/readers.py": 5,
    "sources/schemas.py": 1,
    "streaming/finalize.py": 7,
    "streaming/sinks.py": 25,
    "streaming/sources.py": 7,
    "streaming/stateful.py": 11,
    "streaming/watermarks.py": 3,
}


def _package_functions():
    """``(module, name, function)`` for every function defined in the
    package, private ones included."""
    for info in pkgutil.walk_packages(
        flink_examples_spark.__path__, flink_examples_spark.__name__ + "."
    ):
        mod = importlib.import_module(info.name)
        for name, obj in vars(mod).items():
            if inspect.isfunction(obj) and obj.__module__ == mod.__name__:
                yield mod.__name__, name, obj


def test_retired_options_appear_only_where_allowed():
    takers = {opt: set() for opt in ALLOWED}
    for _, name, fn in _package_functions():
        for opt in inspect.signature(fn).parameters.keys() & ALLOWED.keys():
            takers[opt].add(name)
    assert takers == ALLOWED


def test_minhash_signatures_is_gone():
    names = {name for _, name, _ in _package_functions()}
    assert "minhash_signatures" not in names
    assert "minhash_band_keys" in names  # the walk sees the dedup module


def test_pin_census():
    """A pin is eager when it passes ``eager=True`` or nothing (Spark's
    default); an ``eager`` that is not a literal fails the scan."""
    root = pathlib.Path(flink_examples_spark.__file__).parent
    census = {}
    for path in sorted(root.rglob("*.py")):
        calls = [
            node for node in ast.walk(ast.parse(path.read_text()))
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "localCheckpoint"
        ]
        eager = sum(
            ast.literal_eval(
                call.args[0] if call.args else next(
                    (k.value for k in call.keywords if k.arg == "eager"),
                    ast.Constant(True),
                )
            )
            for call in calls
        )
        if calls:
            census[path.relative_to(root).as_posix()] = (len(calls), eager)
    assert census == PINS


def test_defaulted_census():
    """Every defaulted parameter of a public package function, counted
    with ``inspect.signature`` per module: a new option fails here until
    ``DEFAULTED`` records it."""
    root = pathlib.Path(flink_examples_spark.__file__).parent
    census = {}
    for mod, name, fn in _package_functions():
        if name.startswith("_"):
            continue
        n = sum(
            p.default is not inspect.Parameter.empty
            for p in inspect.signature(fn).parameters.values()
        )
        if n:
            path = pathlib.Path(importlib.import_module(mod).__file__)
            key = path.relative_to(root).as_posix()
            census[key] = census.get(key, 0) + n
    assert census == DEFAULTED
