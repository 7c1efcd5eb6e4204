"""Session lifecycle and the outside-in probes the workloads share:
job/stage/task counts per job group, plan shape, pinned RDDs and the
resident-memory high-water mark of every process the run owns."""

from __future__ import annotations

import itertools
import os
import re
import signal
import subprocess
import sys
import time
from collections.abc import Iterator
from contextlib import contextmanager

CORES = 4
SHUFFLE_PARTITIONS = 8
DRIVER_MEM = "2g"
# A fixed heap and young generation: the collector then reuses the same
# young regions instead of resizing them to its pause-time goal, so the
# JVM's resident memory follows what the program keeps, not the timing of
# its collections.
YOUNG_GEN = "256m"

_PYTHON_NODE = re.compile(r"(Python|Pandas|InArrow)")


class Engine:
    """Owns the SparkSession of one run and every directory it writes.

    ``work`` is the run's private scratch directory; Spark's local dirs,
    the JVM temp dir and the warehouse all live under it, so a run
    writes nothing outside its checkout."""

    def __init__(self, root: str, work: str) -> None:
        self.root = root
        self.work = work
        self.spark = None
        for sub in ("tmp", "local", "warehouse"):
            os.makedirs(os.path.join(work, sub), exist_ok=True)
        # Python workers are separate processes started by the JVM: they
        # import the package from PYTHONPATH, not from this process's
        # sys.path, whatever the current directory is.
        paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
        os.environ["TMPDIR"] = os.path.join(work, "tmp")
        os.environ["SPARK_GRAFT_CPUS"] = str(CORES)

    def start(self):
        from flink_examples_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        self.spark = get_spark(
            "perfbench",
            master=f"local[{CORES}]",
            shuffle_partitions=SHUFFLE_PARTITIONS,
            extra_conf={
                "spark.driver.memory": DRIVER_MEM,
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -Xmn{YOUNG_GEN}",
                "spark.local.dir": os.path.join(self.work, "local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, then the JVM, then any process left under
        this one, waiting for each to end."""
        self.stop_session()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 30
        while descendants(os.getpid()) and time.monotonic() < deadline:
            try:
                os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pass
            time.sleep(0.05)

    # --- job groups -------------------------------------------------

    def set_group(self, group: str | None) -> None:
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(group, group)

    def group_counts(self, group: str) -> dict[str, int]:
        """Jobs, stages run, tasks run, failed tasks, shuffle-write and
        spill bytes of every job submitted under ``group``."""
        sc = self.spark.sparkContext
        st = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        out = dict(jobs=0, stages=0, tasks=0, task_failures=0, shuffle_write_bytes=0, spill_bytes=0)
        for jid in st.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = st.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                si = st.getStageInfo(sid)
                if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                    continue
                out["stages"] += 1
                out["tasks"] += si.numCompletedTasks
                out["task_failures"] += si.numFailedTasks
                sd = store.lastStageAttempt(sid)
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    def jobs_submitted(self) -> int:
        """Jobs submitted so far in this context (job ids are sequential)."""
        return self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    def work_since(self, first_job: int) -> tuple[int, int]:
        """Jobs submitted since ``first_job`` was the next job id, and the
        tasks their stages ran (stages skipped on reused shuffle output
        run none)."""
        st = self.spark.sparkContext.statusTracker()
        last = self.jobs_submitted()
        tasks = 0
        for jid in range(first_job, last):
            info = st.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                si = st.getStageInfo(sid)
                tasks += si.numCompletedTasks if si else 0
        return last - first_job, tasks

    def pinned_rdds(self) -> int:
        return len(self.spark.sparkContext._jsc.getPersistentRDDs())

    def unpersist_all(self) -> None:
        """Drop RDD blocks a query pinned, so they do not build up
        memory pressure for the queries after it."""
        for jrdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            jrdd.unpersist()


_CATALOG_GROUPS = itertools.count()


@contextmanager
def catalog_probe(engine: Engine, tr) -> Iterator[None]:
    """For the block's duration, route every call of
    ``catalog.load_table`` into a ``catalog.load_table`` span of ``tr``
    under a job group of its own, and count the jobs that group ran into
    the span. Every loaded module of the package that binds the function
    by name is patched (``queries`` is the one the registry calls it
    through), so a count of 0 is measured, not assumed."""
    from flink_examples_spark import catalog

    orig = catalog.load_table
    sc = engine.spark.sparkContext

    def load_table(spark, name, *args, **kwargs):
        group = f"{tr.run_id}.catalog.{next(_CATALOG_GROUPS)}"
        prev = sc.getLocalProperty("spark.jobGroup.id")
        engine.set_group(group)
        with tr.span("catalog.load_table", table=name) as s:
            try:
                return orig(spark, name, *args, **kwargs)
            finally:
                engine.set_group(prev)
                s["counts"]["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))

    bound = [
        m for name, m in list(sys.modules.items())
        if name.split(".")[0] == "flink_examples_spark" and getattr(m, "load_table", None) is orig
    ]
    for m in bound:
        m.load_table = load_table
    try:
        yield
    finally:
        for m in bound:
            m.load_table = orig


def plan_shape(plan_text: str) -> dict[str, int]:
    """Exchange and Python-evaluation operators in a physical plan."""
    ex = py = 0
    for line in plan_text.splitlines():
        op = line.lstrip(" :+-*(0123456789)").split(" ", 1)[0].split("(", 1)[0]
        if "Exchange" in op:
            ex += 1
        elif _PYTHON_NODE.search(op):
            py += 1
    return {"exchanges": ex, "python_nodes": py}


def descendants(pid: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpu_seconds() -> float:
    """User plus system CPU time of this process and all its descendants,
    with that of their reaped children: the CPU the run has used so far.
    Time the hypervisor steals from the machine is not in it."""
    ticks = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / _CLK_TCK


def rss_by_process() -> dict[str, float]:
    """``VmHWM`` in MB of this process and each of its descendants, keyed
    ``<pid>:<command name>``: the driver, the JVM and the Python workers."""
    out = {}
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
            out[f"{pid}:{fields['Name'].strip()}"] = int(fields["VmHWM"].split()[0]) / 1024.0
        except (OSError, KeyError, ValueError):
            continue
    return out


def rss_high_water_mb() -> float:
    """Sum of ``VmHWM`` over this process and all its descendants."""
    return sum(rss_by_process().values())


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(start: list[int], end: list[int]) -> float:
    """Share of the machine's CPU time the hypervisor took between two
    ``cpu_ticks`` readings."""
    d = [b - a for a, b in zip(start, end)]
    return d[7] / sum(d) if sum(d) else 0.0


def run_metadata(seed: int, sf: float) -> dict:
    import pyarrow
    import pyspark

    return {
        "cpus": CORES,
        "nproc": os.cpu_count(),
        "sf": sf,
        "seed": seed,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "loadavg_start": list(os.getloadavg()),
    }

