"""Observation from outside the program: host facts, process RSS,
spans around public calls, and Spark's own status store.

The status store is read through the JVM gateway. It works with the
web UI disabled, and every job carries the job group the caller set,
so counters can be scoped to one entry-point call.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# ----------------------------------------------------------------- host


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


def steal_pct(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    return 100.0 * (t1[1] - t0[1]) / max(t1[0] - t0[0], 1)


def fs_type(path: str) -> str:
    """File-system type of the mount that holds ``path``."""
    path = os.path.realpath(path)
    best, kind = "", "unknown"
    with open("/proc/mounts") as fh:
        for line in fh:
            parts = line.split()
            mnt = parts[1].replace("\\040", " ")
            inside = path == mnt or path.startswith(mnt.rstrip("/") + "/")
            if inside and len(mnt) >= len(best):
                best, kind = mnt, parts[2]
    return kind


def host_facts(work_dir: str) -> dict:
    return {
        "cores": len(os.sched_getaffinity(0)),
        "mem_gb": round(os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / 2**30, 1),
        "media": fs_type(work_dir),
    }


def process_start_time() -> float:
    """Epoch time at which this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/stat") as fh:
        btime = next(int(ln.split()[1]) for ln in fh if ln.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------------ RSS


def _tree_rss_kb(root: int) -> int:
    """RSS of ``root`` plus its Python descendants. Other children of
    the JVM are short-lived helper forks (Hadoop shell commands); until
    they exec they report the JVM's whole RSS, which is shared."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                comm, rest = fh.read().split(" (", 1)[1].rsplit(")", 1)
        except OSError:
            continue
        fields = rest.split()
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        if pid == root or comm.startswith("python"):
            rss[pid] = int(fields[21]) * os.sysconf("SC_PAGE_SIZE") // 1024
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total


def _stat_cpu_ticks(path: str) -> int:
    """utime + stime of the process or thread whose stat is ``path``."""
    with open(path) as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])


# thread names (truncated to 15 characters) of HotSpot's JIT compilers
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_ticks(pid: int) -> int:
    """utime + stime of the JIT compiler threads of JVM ``pid``. They
    must live as long as the JVM (see run.spark_env): the ticks of a
    thread that exited would stay in the process's total."""
    ticks = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        path = f"/proc/{pid}/task/{tid}/stat"
        try:
            with open(path) as fh:
                name = fh.read().split(" (", 1)[1]
            if name.startswith(JIT_THREADS):
                ticks += _stat_cpu_ticks(path)
        except OSError:
            continue
    return ticks


class ProgramCpu:
    """CPU seconds the program has used so far: the driver JVM, the
    Python workers under it, and this process (which runs the library's
    Python side, foreachBatch callbacks included), less the threads of
    this process that only observe (the RSS sampler) and less the JVM's
    JIT compiler threads. Exited processes are not counted.

    The JIT is left out because on inputs of benchmark size it is still
    compiling after many calls: on a warm ``run_to_sinks`` call it took
    about half of the CPU, and how much of it lands in one call depends
    on timing, not on the call's work."""

    def __init__(self, jvm_pid: int):
        self.jvm = jvm_pid
        self.observers: list[int] = []

    def __call__(self, without: tuple[int, ...] = ()) -> float:
        """CPU seconds so far; ``without`` names more threads of this
        process to leave out."""
        ticks = _stat_cpu_ticks("/proc/self/stat")
        for tid in [*self.observers, *without]:
            try:
                ticks -= _stat_cpu_ticks(f"/proc/self/task/{tid}/stat")
            except OSError:
                pass
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                try:
                    with open(f"/proc/{name}/stat") as fh:
                        ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
                except OSError:
                    continue
                children.setdefault(ppid, []).append(int(name))
        todo = [self.jvm]
        while todo:
            pid = todo.pop()
            try:
                ticks += _stat_cpu_ticks(f"/proc/{pid}/stat")
            except OSError:
                pass
            todo.extend(children.get(pid, []))
        ticks -= _jit_ticks(self.jvm)
        return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Samples the summed RSS of the driver JVM and the Python workers
    under it on a thread."""

    def __init__(self, root_pid: int, interval_s: float = 0.05):
        self.root, self.interval = root_pid, interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(self.root))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    @property
    def tid(self) -> int:
        return self._thread.native_id

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str


@dataclass
class Tracer:
    """Spans around calls into the program, kept in memory and written
    out once at the end of the run."""

    run_id: str
    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    _stack: list[str] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(Span(name, t0, time.perf_counter(), parent, self.run_id))

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


# --------------------------------------------------------- status store


@contextmanager
def job_group(sc, group: str | None):
    """Tag the jobs started inside the block with ``group`` (no-op for
    None), so the status store can scope counters to them."""
    if group is None:
        yield
        return
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_SIZE_RX = re.compile(r"([\d,.]+)\s*(B|KiB|MiB|GiB|TiB)\b")


def parse_size(text: str) -> float:
    """Bytes from a formatted SQL size metric. Task-aggregated values
    read ``total (min, med, max ...)\\n<total> (...)``; the total is
    the first size after the header line."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _SIZE_RX.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)]


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _opt(o):
    return o.get() if o.isDefined() else None


@dataclass
class Execution:
    id: int
    start_s: float
    end_s: float
    plan: str
    scans: list[tuple[str, float]]  # (location description, bytes read)

    @property
    def duration_s(self) -> float:
        return self.end_s - self.start_s


@dataclass
class CallStats:
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    executions: list[Execution] = field(default_factory=list)

    def __add__(self, other: "CallStats") -> "CallStats":
        return CallStats(
            self.jobs + other.jobs, self.tasks + other.tasks,
            self.failed_tasks + other.failed_tasks, self.cpu_s + other.cpu_s,
            self.gc_s + other.gc_s, self.shuffle_write_bytes + other.shuffle_write_bytes,
            self.spill_bytes + other.spill_bytes, self.executions + other.executions)


class StatusStore:
    """Counters of the jobs and SQL executions of one job group."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.app = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def call_stats(self, group: str, with_plans: bool = True,
                   description: str | None = None) -> CallStats:
        """Counters of the jobs in ``group``, and the SQL executions
        that ran them or whose description holds ``description`` (a
        foreachBatch micro-batch scans in an execution with no jobs of
        its own, described by the query's run id)."""
        jobs = [j for j in _seq(self.app.jobsList(None)) if _opt(j.jobGroup()) == group]
        job_ids = {j.jobId() for j in jobs}
        stage_ids = {sid for j in jobs for sid in _seq(j.stageIds())}
        st = CallStats(jobs=len(jobs))
        for sid in stage_ids:
            try:
                s = self.app.lastStageAttempt(sid)
            except Exception:  # a skipped stage has no attempt
                continue
            st.tasks += s.numCompleteTasks() + s.numFailedTasks()
            st.failed_tasks += s.numFailedTasks()
            st.cpu_s += s.executorCpuTime() / 1e9
            st.gc_s += s.jvmGcTime() / 1e3
            st.shuffle_write_bytes += s.shuffleWriteBytes()
            st.spill_bytes += s.diskBytesSpilled()
        if with_plans:
            for e in _seq(self.sql.executionsList()):
                jids = {int(k) for k in _seq(e.jobs().keys().toSeq())}
                if jids & job_ids or (description and description in e.description()):
                    st.executions.append(self._execution(e))
            st.executions.sort(key=lambda e: e.id)
        return st

    def _execution(self, e) -> Execution:
        eid = e.executionId()
        values = self.sql.executionMetrics(eid)
        scans = []
        for node in _seq(self.sql.planGraph(eid).allNodes()):
            if not node.name().startswith("Scan"):
                continue
            for m in _seq(node.metrics()):
                if m.name() == "size of files read":
                    v = _opt(values.get(m.accumulatorId()))
                    scans.append((node.desc(), parse_size(v) if v else 0.0))
        done = _opt(e.completionTime())
        end = done.getTime() / 1e3 if done is not None else time.time()
        return Execution(eid, e.submissionTime() / 1e3, end,
                         e.physicalPlanDescription(), scans)


def scan_bytes(executions: list[Execution], location: str) -> float:
    """Bytes read by the Scan nodes whose file index lies under
    ``location``."""
    needle = "file:" + os.path.realpath(location)
    return sum(b for e in executions for desc, b in e.scans if needle in desc)
