"""Batch workloads: a closed loop of registry queries, one client.

Each query runs ``spark_fn`` (the build, which fires the operators' eager
jobs), then ``collect``; the next query starts only after the previous
one's rows are back. A pass runs every query of the list once, in an
order drawn from the seed.

Traced passes wrap each layer from outside:

- ``catalog``: ``catalog.load_table``, patched in every module of the
  package that binds it (``queries`` is the one the registry calls);
- ``queries``: the ``Query.spark_fn`` call (self time excludes catalog);
- ``plan``: ``queryExecution().executedPlan()``;
- ``exec``: the ``collect()`` call.

Each layer's jobs run under their own job group, so ``statusTracker``
attributes jobs, stages and tasks to the layer that submitted them.
"""

from __future__ import annotations

import random
import time
from contextlib import nullcontext

from engine import Engine, catalog_probe, cpu_seconds, plan_shape, rss_high_water_mb
from spans import Tracer, result_hash

# Driver-heavy: many eager build jobs (walk rounds over pinned
# intermediates). Exec-heavy: two jobs with the executor work (CEP
# pattern matching) inside them.
HEAD_DRIVER = ("event_graph_walk_mass",)
HEAD_EXEC = ("cep_ascending_purchase",)

QUERIES = {"batch_head": HEAD_DRIVER + HEAD_EXEC}

LAYER_KEYS = (
    "catalog.load_table_s", "catalog.load_table_calls", "catalog.jobs",
    "queries.build_s", "queries.build_jobs", "queries.build_tasks", "queries.pins",
    "plan.plan_s", "plan.exchanges", "plan.python_nodes",
    "exec.exec_s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_failures",
    "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.result_rows",
)


def query_order(workload: str, seed: int) -> list[str]:
    names = list(QUERIES[workload])
    random.Random(seed).shuffle(names)
    return names


class BatchRun:
    """One run of a batch workload on a started ``Engine``."""

    def __init__(self, engine: Engine, workload: str, seed: int, sf_dir: str,
                 expected: dict[str, dict]) -> None:
        from flink_examples_spark.queries import registry

        self.engine = engine
        self.registry = registry()
        self.names = query_order(workload, seed)
        self.sf_dir = sf_dir
        self.expected = expected
        self.attempted = 0
        self.failed = 0
        self.wrong: list[str] = []
        self.errors: list[str] = []
        self.peak_rss_mb = 0.0

    # --- one query ----------------------------------------------------

    def _check(self, name: str, rows: list) -> None:
        want = self.expected.get(name)
        got = {"rows": len(rows), "hash": result_hash(rows)}
        if got != want:
            self.wrong.append(f"{name}: expected {want}, got {got}")

    def _plain(self, name: str) -> tuple[float, list]:
        spark = self.engine.spark
        t0 = time.perf_counter()
        rows = self.registry[name].spark_fn(spark, self.sf_dir).collect()
        return time.perf_counter() - t0, rows

    def _traced(self, name: str, tr: Tracer, tag: str) -> tuple[float, list]:
        eng, spark = self.engine, self.engine.spark
        g_build, g_exec = f"{tag}.build", f"{tag}.exec"
        pins0 = eng.pinned_rdds()
        t0 = time.perf_counter()
        with tr.span("query", query=name):
            eng.set_group(g_build)
            with tr.span("queries.build") as bspan:
                df = self.registry[name].spark_fn(spark, self.sf_dir)
            eng.set_group(None)
            with tr.span("plan") as pspan:
                plan = df._jdf.queryExecution().executedPlan().toString()
            eng.set_group(g_exec)
            with tr.span("exec") as espan:
                rows = df.collect()
            eng.set_group(None)
        wall = time.perf_counter() - t0
        bspan["counts"].update(eng.group_counts(g_build), pins=eng.pinned_rdds() - pins0)
        pspan["counts"].update(plan_shape(plan))
        espan["counts"].update(eng.group_counts(g_exec), result_rows=len(rows))
        return wall, rows

    # --- passes -------------------------------------------------------

    def run_query(self, i: int, tr: Tracer | None = None) -> dict | None:
        """Run query ``i`` of the seeded order; returns its wall and CPU
        seconds and the jobs and tasks it ran, or None when it raised
        (counted in ``failed``)."""
        name = self.names[i % len(self.names)]
        self.attempted += 1
        job0, cpu0 = self.engine.jobs_submitted(), cpu_seconds()
        try:
            if tr is None:
                wall, rows = self._plain(name)
            else:
                wall, rows = self._traced(name, tr, f"{tr.run_id}.{self.attempted}")
        except Exception as e:  # a failed query is counted; the loop goes on
            self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            self.engine.set_group(None)
            return None
        finally:
            self.engine.unpersist_all()
        cpu = cpu_seconds() - cpu0
        jobs, tasks = self.engine.work_since(job0)
        self._check(name, rows)
        self.peak_rss_mb = max(self.peak_rss_mb, rss_high_water_mb())
        return {"wall": wall, "cpu": cpu, "jobs": jobs, "tasks": tasks}

    def run_pass(self, tr: Tracer | None = None) -> dict:
        """Run every query once. Returns each query's wall time and, when
        traced, the pass's root span."""
        walls: dict[str, float] = {}
        probe = catalog_probe(self.engine, tr) if tr is not None else nullcontext()
        with probe, tr.span("pass") if tr is not None else nullcontext() as root:
            for i, name in enumerate(self.names):
                r = self.run_query(i, tr)
                if r is not None:
                    walls[name] = r["wall"]
        return {"queries": walls, "root": root}


def layer_metrics(tr: Tracer, root: dict) -> dict[str, float]:
    """Per-layer figures of one traced pass."""
    spans = tr.descendants(root)
    tot = tr.totals(spans)

    def t(name, key="total_s"):
        return tot.get(name, {}).get(key, 0.0)

    def c(name, key):
        return tot.get(name, {}).get("counts", {}).get(key, 0)

    return {
        "catalog.load_table_s": t("catalog.load_table"),
        "catalog.load_table_calls": tot.get("catalog.load_table", {}).get("calls", 0),
        "catalog.jobs": c("catalog.load_table", "jobs"),
        "queries.build_s": t("queries.build", "self_s"),
        "queries.build_jobs": c("queries.build", "jobs"),
        "queries.build_tasks": c("queries.build", "tasks"),
        "queries.pins": c("queries.build", "pins"),
        "plan.plan_s": t("plan"),
        "plan.exchanges": c("plan", "exchanges"),
        "plan.python_nodes": c("plan", "python_nodes"),
        "exec.exec_s": t("exec"),
        "exec.jobs": c("exec", "jobs"),
        "exec.stages": c("exec", "stages"),
        "exec.tasks": c("exec", "tasks"),
        "exec.task_failures": c("exec", "task_failures"),
        "exec.shuffle_write_bytes": c("exec", "shuffle_write_bytes"),
        "exec.spill_bytes": c("exec", "spill_bytes"),
        "exec.result_rows": c("exec", "result_rows"),
    }


def query_jobs(tr: Tracer, root: dict) -> dict[str, dict[str, int]]:
    """Per query of one traced pass: catalog calls and jobs, build jobs
    and exec jobs."""
    out = {}
    for q in tr.spans[root["id"]:]:
        if q["name"] != "query" or q["parent"] != root["id"]:
            continue
        tot = tr.totals(tr.descendants(q))
        out[q["attrs"]["query"]] = {
            "catalog_calls": tot.get("catalog.load_table", {}).get("calls", 0),
            "catalog_jobs": tot.get("catalog.load_table", {}).get("counts", {}).get("jobs", 0),
            "build_jobs": tot["queries.build"]["counts"].get("jobs", 0),
            "exec_jobs": tot["exec"]["counts"].get("jobs", 0),
        }
    return out
