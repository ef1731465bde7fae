"""What every workload shares: environment, session, clocks, samplers.

``Run`` owns the run's work directory (inside the checkout), the
SparkSession and the tracer; ``MemorySampler`` tracks the process
tree's memory during the timed section. Operations are timed
with ``time.perf_counter``; ``Run.phase`` times one call into a layer,
labels the Spark jobs it launches with a job group, and records a
span when tracing is on.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import subprocess
import sys
import threading
import time

from .spans import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# The timed section runs on this many of the host's CPUs, with Spark on
# as many cores. On a 4-vCPU guest of a shared host, runs on all four
# spread by up to 50% as other guests' load came and went (the
# hypervisor's steal share moving between 1% and 19%); pinned to two,
# three runs in a row agreed within 3% in the same hour.
TIMED_CPUS = 2
DRIVER_MEM = "3g"


def configure_env(work: str) -> dict[str, str]:
    """Environment for this process, the JVM and Spark's Python workers.

    Spark's Python workers import the package by name, and they do not
    inherit this process's ``sys.path``; the checkout root goes on
    ``PYTHONPATH`` so the xlsx data source and Python UDFs load from
    any working directory."""
    nproc = len(os.sched_getaffinity(0))
    pythonpath = os.environ.get("PYTHONPATH", "")
    env = {
        "PYTHONPATH": ROOT + (os.pathsep + pythonpath if pythonpath else ""),
        "SPARK_GRAFT_CPUS": str(min(TIMED_CPUS, nproc)),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
    }
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return env


def source_digest() -> str:
    """sha256 over the package and benchmark sources, for runs made
    outside a git checkout."""
    h = hashlib.sha256()
    for top in ("etl_xlsx_potgres_spark", "perfbench"):
        for dirpath, dirnames, filenames in sorted(os.walk(os.path.join(ROOT, top))):
            dirnames.sort()
            for name in sorted(filenames):
                if name.endswith(".py"):
                    path = os.path.join(dirpath, name)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


def cpu_counters() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_counters`` readings: the host-level load this guest cannot see."""
    return (end[0] - start[0]) / max(end[1] - start[1], 1)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int, exclude: set[int]) -> list[int]:
    """``root`` and its descendants, skipping the subtrees rooted at ``exclude``."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid not in exclude:
            out.append(pid)
            todo.extend(kids.get(pid, ()))
    return out


def pss_bytes(pids) -> int:
    """Proportional set size summed over ``pids``: a page shared by n of
    them (the Python workers forked from one daemon, the libraries they
    all map) counts 1/n in each, so the sum is the tree's own memory."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue  # exited since the tree was listed
    return total


def timed_cpus() -> set[int]:
    """The CPUs the timed section runs on: the first ``TIMED_CPUS`` this
    process may use."""
    return set(sorted(os.sched_getaffinity(0))[:TIMED_CPUS])


def pin_tree(cpus: set[int]) -> None:
    """Restrict every thread of this process and its descendants (the
    JVM, Spark's Python workers, the Postgres server) to ``cpus``;
    threads and processes they start later inherit it."""
    for pid in tree_pids(os.getpid(), set()):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue  # exited since the tree was listed
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), cpus)
            except OSError:
                continue  # exited, or not ours to move


SAMPLE_INTERVAL_S = 0.1
RELIST_EVERY = 5  # samples between re-listings of the process tree


class MemorySampler:
    """Samples the memory (PSS) of the benchmark's process tree every
    ``SAMPLE_INTERVAL_S`` while running, re-listing the tree every
    ``RELIST_EVERY`` samples; ``peak_mb`` is the largest sample."""

    def __init__(self, exclude: set[int]) -> None:
        self.exclude = exclude
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        n, pids = 0, []
        while not self._stop.is_set():
            if n % RELIST_EVERY == 0:
                pids = tree_pids(os.getpid(), self.exclude)
            self.peak = max(self.peak, pss_bytes(pids))
            n += 1
            self._stop.wait(SAMPLE_INTERVAL_S)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


class Run:
    def __init__(self, workload: str, seed: int, traced: bool, work: str) -> None:
        self.workload = workload
        self.seed = seed
        self.work = work
        self.tracer = Tracer(traced)
        self.spark = None
        self.eventlog_dir = os.path.join(work, "eventlog")
        # epoch seconds minus perf_counter seconds: maps event-log times
        # onto the span clock
        self.clock_offset = time.time() - time.perf_counter()
        self.setup_steps: dict[str, float] = {}

    @contextlib.contextmanager
    def step(self, name: str):
        """Time one set-up step into ``setup_steps`` (always on)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.setup_steps[name] = time.perf_counter() - t0

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def start_session(self):
        from etl_xlsx_potgres_spark.session import get_spark

        # The heap is committed and touched at JVM start: a long session's
        # heap ends up resident anyway, and a heap caught mid-growth makes
        # peak memory depend on when the collector last ran.
        # The JIT stops at C1: with C2 on, the mix's timed passes kept
        # getting faster (by 30%) for a minute after set-up, so a run's
        # figures told how far the warm-up had got; with C1 alone the
        # passes are steady once set-up ends, at the same warm speed.
        # The JVM sizes its GC and compiler threads for the CPUs the timed
        # section runs on.
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Dderby.system.home={os.path.join(self.work, 'derby')} "
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1 "
                f"-XX:ActiveProcessorCount={os.environ['SPARK_GRAFT_CPUS']}",
        }
        if self.traced:
            os.makedirs(self.eventlog_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.eventlog_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        with self.step("session"), self.tracer.span("get_spark", "session"):
            self.spark = get_spark(app_name=f"perfbench-{self.workload}", extra_conf=conf)
            self.spark.range(1).count()
        return self.spark

    @contextlib.contextmanager
    def phase(self, group: str, name: str, layer: str, **attrs):
        """Time one call into a layer; Spark jobs it launches carry the
        job group ``group``."""
        self.spark.sparkContext.setJobGroup(group, name)
        with self.tracer.span(name, layer, group=group, **attrs) as span:
            yield span

    def job_counts(self, group: str) -> tuple[int, int]:
        """(jobs, executed stages) Spark's status tracker holds for ``group``."""
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = set()
        for jid in jobs:
            info = st.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                sinfo = st.getStageInfo(sid)
                if sinfo is not None and sinfo.numCompletedTasks > 0:
                    stages.add(sid)
        return len(jobs), len(stages)

    def stop_session(self) -> None:
        """Stop Spark and wait for its JVM (and the Python workers it
        launched) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        try:
            self.spark.stop()
        finally:
            self.spark = None
            if gateway is not None:
                proc = getattr(gateway, "proc", None)
                gateway.shutdown()
                if proc is not None:
                    if proc.stdin:
                        proc.stdin.close()
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
                SparkContext._gateway = None
                SparkContext._jvm = None

    def eventlog_path(self) -> str | None:
        if not os.path.isdir(self.eventlog_dir):
            return None
        logs = [os.path.join(self.eventlog_dir, n) for n in os.listdir(self.eventlog_dir)
                if not n.endswith(".inprogress")]
        return max(logs, key=os.path.getmtime) if logs else None
