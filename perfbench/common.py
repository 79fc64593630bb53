"""Shared plumbing of the benchmark: environment pinning, session start,
process-tree memory sampling, quantiles and Spark job counts.

Everything the benchmark writes goes under ``.perfbench/`` in the
checkout root, the directory it is run from.
"""

from __future__ import annotations

import ctypes
import os
import shutil
import signal
import subprocess
import threading
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def physical_mb() -> int:
    return os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // (1 << 20)


def pin_environment(run_dir: str) -> None:
    """Pin the session to this machine through the variables the program
    reads (its defaults assume 32 cores and 24 GB), make the program
    importable by Python workers, and keep temporary files in the run
    directory. Must run before pyspark starts its JVM."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    mem_mb = min(2048, physical_mb() // 4)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{mem_mb}m"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["TZ"] = "UTC"  # collected timestamps render in the session zone
    time.tzset()


def new_run_dir(workload: str, seed: int) -> str:
    path = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def start_session():
    """Start the program's SparkSession; returns (spark, seconds)."""
    t = time.perf_counter()
    from ntripmonitor_spark.session import get_spark

    spark = get_spark("perfbench")
    return spark, time.perf_counter() - t


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to end. The
    JVM exits when its stdin closes; closing it here, rather than at
    interpreter exit, lets its shutdown (temporary file deletion
    included) finish before the benchmark does."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def settle(spark) -> None:
    """A full JVM garbage collection at a fixed point of the set-up, so
    that every timed window starts from a like heap state; it also lets
    Spark's ContextCleaner release the set-up's shuffle and broadcast
    state, which Python-side collection never triggers."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no values")
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return quantile(values, 0.5)


# ---------------------------------------------------------------------------
# Process tree memory
# ---------------------------------------------------------------------------


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command line) for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{name}/cmdline", "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        out[int(name)] = (int(stat[stat.rindex(")") + 2:].split()[1]), cmd)
    return out


def _resident_bytes(pid: int, cmd: str) -> int:
    """Resident memory of one process. Python workers forked from the
    PySpark daemon share its pages, so theirs is the proportional set
    size (each shared page divided among its sharers); for the rest,
    RSS, which costs nothing to read (PSS of the JVM takes tens of ms
    and holds its memory-map lock)."""
    try:
        if "pyspark.daemon" in cmd:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
            return 0
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def descendants(root: int, table: dict, skip: tuple[str, ...] = ()) -> list[int]:
    """root and its descendants, leaving out the subtrees of processes
    whose command line contains one of ``skip``."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        if any(m in table.get(pid, (0, ""))[1] for m in skip):
            continue
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def python_workers() -> int:
    """PySpark Python workers under this process: the Python processes
    forked by a ``pyspark.daemon`` or started for a data source."""
    table = _proc_table()
    mine = descendants(os.getpid(), table)
    return sum(1 for pid in mine
               if "pyspark" in table[pid][1]
               and "pyspark" in table.get(table[pid][0], (0, ""))[1])


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    PR_SET_CHILD_SUBREAPER), so that ``stop_descendants`` still finds a
    process whose parent ended before it."""
    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return True
    return stat[stat.rindex(")") + 2] == "Z"


def stop_descendants(grace: float = 10.0) -> None:
    """Terminate every process still running under this one and wait
    until each has ended: SIGTERM, then SIGKILL after ``grace`` seconds."""
    me = os.getpid()
    deadline = time.monotonic() + grace
    signalled: set[int] = set()
    while True:
        while True:  # reap ended children, orphans adopted included
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    break
            except ChildProcessError:
                break
        alive = [p for p in descendants(me, _proc_table()) if p != me and not _zombie(p)]
        if not alive:
            return
        late = time.monotonic() > deadline
        for pid in alive:
            if late or pid not in signalled:
                try:
                    os.kill(pid, signal.SIGKILL if late else signal.SIGTERM)
                except ProcessLookupError:
                    pass
                signalled.add(pid)
        time.sleep(0.05)


class RssSampler:
    """Peak resident memory summed over this process and its descendants
    (the driver JVM and its Python workers), sampled from /proc every
    ``period`` seconds. The benchmark's own helpers are left out: the load
    generator (caster.py) and the oracle checker (oracle.py)."""

    NOT_MEASURED = ("caster.py", "oracle.py")

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        table = _proc_table()
        total = sum(_resident_bytes(p, table[p][1])
                    for p in descendants(os.getpid(), table, self.NOT_MEASURED))
        self.peak_bytes = max(self.peak_bytes, total)

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def __enter__(self) -> RssSampler:
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1 << 20)


# ---------------------------------------------------------------------------
# Spark job accounting
# ---------------------------------------------------------------------------


def job_counts(spark, group: str) -> tuple[int, int]:
    """(jobs, tasks) run under a job group set with setJobGroup."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in (info.stageIds if info else ()):
            stage = st.getStageInfo(s)
            tasks += stage.numTasks if stage else 0
    return len(jobs), tasks


def traced(spark, group: str, fn):
    """Run ``fn()`` in its own Spark job group: the tracing of a traced
    operation. Returns (seconds including the job accounting, fn's
    result, jobs, tasks)."""
    sc = spark.sparkContext
    t = time.perf_counter()
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs, tasks = job_counts(spark, group)
    return time.perf_counter() - t, out, jobs, tasks
