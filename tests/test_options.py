"""Ratchet on the package's public options: an option no caller sets is
a code path nothing runs.

The staged store, the table writers and the file stream are parquet
only; the rolling file sink (K2/K3) is the one place a file format is
chosen, and ``ts_display``'s ``fmt`` is a date pattern. The minhash and
inverted-index operators tokenize their own input (only the Jaccard
verify stage reads a shared shingle index), and the delta / eval sides
of the incremental LSH, merge and decontamination joins are always
broadcast. Compact-every-N hooks ride only the staged faces a caller
schedules compaction on. The CEP NFA scans every key to its end (no
per-key match cap), and its timed-out partial enumeration keeps
``_live_partials``' own cap.
"""

from __future__ import annotations

import importlib
import inspect
import pkgutil

import flink_examples_spark

ALLOWED = {
    "fmt": {"rolling_file_sink", "ts_display"},
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
