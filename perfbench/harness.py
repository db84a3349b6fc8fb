"""Process plumbing for the benchmark: the Spark environment, job and
stage accounting through ``statusTracker``, host CPU and memory
sampling from ``/proc``, child-process shutdown, and the percentile
rule the report uses.

Nothing here imports pyspark at module import time, so the helpers are
testable without a JVM.
"""

from __future__ import annotations

import bisect
import math
import os
import re
import resource
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path
from typing import Dict, Iterable, List, Optional, Sequence

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def check_metric(name: str, unit: str) -> None:
    """Raise ValueError unless ``name``/``unit`` fit the report format."""
    if not METRIC_NAME.fullmatch(name):
        raise ValueError(f"bad metric name {name!r}")
    if not UNIT.fullmatch(unit):
        raise ValueError(f"bad unit {unit!r} for {name}")


# ------------------------------------------------------------------ #
# statistics                                                          #
# ------------------------------------------------------------------ #


def tail_percentile(
    values: Sequence[float], q: float, min_beyond: int = 10
) -> Optional[float]:
    """Nearest-rank q-quantile of ``values``, or None when fewer than
    ``min_beyond`` samples lie strictly beyond its rank (a p90 over 50
    samples rests on 5 points and is not reported)."""
    n = len(values)
    if n == 0:
        return None
    rank = max(1, math.ceil(q * n))  # 1-based
    if n - rank < min_beyond:
        return None
    return float(sorted(values)[rank - 1])


# ------------------------------------------------------------------ #
# host speed                                                          #
# ------------------------------------------------------------------ #

# CPU ms of one reference unit on the host the bounds were set on, about
# its fastest; ``HostSampler.slowness`` is relative to it
REF_UNIT_MS = 2.5
REF_BUF_BYTES = 32 << 20  # larger than the CPU caches


def ref_unit(buf: bytearray) -> int:
    """One fixed single-thread pure-Python work unit: integer
    arithmetic, dict stores and reads at scattered offsets of ``buf``,
    so both a slower core and a busier memory system slow it down."""
    acc, d = 0, {}
    mask = len(buf) - 1
    for j in range(8_000):
        acc += j * j + buf[(j * 2654435761) & mask]
        d[j & 511] = acc
    return acc


def trimmed_mean(values: Sequence[float], trim: float = 0.1) -> float:
    """Mean without the lowest and highest ``trim`` share of values."""
    xs = sorted(values)
    k = int(len(xs) * trim)
    xs = xs[k:len(xs) - k] or xs
    return sum(xs) / len(xs)


class HostSampler:
    """How fast the host runs, measured all through a run.

    The benchmark's VM shares its CPUs and memory with other tenants.
    Each CPU flips between a fast and a slow state within seconds, and
    the share of slow time differs from minute to minute, so the same
    step can take 1.5x longer in one run than in the next. A background
    thread times ``ref_unit`` every ``period_s`` on each usable CPU in
    turn, in its own THREAD CPU time: waiting for a CPU that the run's
    threads hold is not counted, a slower CPU or memory system is. The
    unit takes 2.5-7 ms, at most 2% of the machine at the default
    period.
    ``slowness(t0, t1)`` says how much slower than the reference host
    the host ran while a step ran."""

    def __init__(self, period_s: float = 0.1, min_samples: int = 8):
        self.period_s = period_s
        self.min_samples = min_samples
        self.samples: List[tuple] = []  # (perf_counter at start, ms)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        cpus = sorted(os.sched_getaffinity(0))
        buf = bytearray(REF_BUF_BYTES)
        i = 0
        while not self._stop.wait(self.period_s):
            # pid 0: this thread only; the client and the processes it
            # starts keep every CPU
            os.sched_setaffinity(0, {cpus[i % len(cpus)]})
            i += 1
            t = time.perf_counter()
            c = time.thread_time()
            ref_unit(buf)
            self.samples.append((t, (time.thread_time() - c) * 1e3))

    def window(self, t0: float, t1: float) -> List[float]:
        """Sample times taken in [t0, t1], widened to the nearest
        ``min_samples`` when fewer fell inside (a 30 ms step)."""
        samples = list(self.samples)
        starts = [t for t, _ in samples]
        lo = bisect.bisect_left(starts, t0)
        hi = bisect.bisect_right(starts, t1)
        while hi - lo < self.min_samples and (lo > 0 or hi < len(samples)):
            if lo > 0:
                lo -= 1
            if hi < len(samples) and hi - lo < self.min_samples:
                hi += 1
        return [ms for _, ms in samples[lo:hi]]

    def slowness(self, t0: float, t1: float) -> float:
        return trimmed_mean(self.window(t0, t1)) / REF_UNIT_MS

    def mean_ms(self) -> float:
        return trimmed_mean([ms for _, ms in self.samples])


# ------------------------------------------------------------------ #
# environment                                                         #
# ------------------------------------------------------------------ #


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(root: Path, work: Path) -> None:
    """Point Spark's JVM, its Python workers and every temp file at
    ``work``, and put ``root`` on the workers' PYTHONPATH (a driver
    that only edits ``sys.path`` fails every UDF task with
    ModuleNotFoundError). Must run before pyspark starts its JVM."""
    tmp = work / "tmp"
    local = work / "spark-local"
    tmp.mkdir(parents=True, exist_ok=True)
    local.mkdir(parents=True, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(root) + (os.pathsep + old if old else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    # -XX:-UsePerfData: no hsperfdata file under /tmp, neither from the
    # driver JVM nor from spark-class's command-building launcher JVM
    os.environ["SPARK_SUBMIT_OPTS"] = (
        f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
    )
    launcher = os.environ.get("SPARK_LAUNCHER_OPTS", "")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"{launcher} -XX:-UsePerfData".strip()
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


# ------------------------------------------------------------------ #
# Spark accounting                                                    #
# ------------------------------------------------------------------ #


class SparkCounter:
    """Jobs, stages and failed tasks launched between two marks.

    Jobs are counted as the change in the highest job id, never as the
    length of the tracker's job list: the tracker keeps only the last
    ``spark.ui.retainedJobs`` (1000) jobs, so a length saturates on a
    long run while ids keep rising."""

    def __init__(self, sc):
        self.tracker = sc.statusTracker()

    def last_job_id(self) -> int:
        ids = self.tracker.getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def stages_and_failures(self, first_job: int, last_job: int):
        """(stages, failed tasks) of jobs first_job..last_job that the
        tracker still retains."""
        stages = failed = 0
        for jid in range(first_job, last_job + 1):
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            stages += len(info.stageIds)
            for sid in info.stageIds:
                si = self.tracker.getStageInfo(sid)
                if si is not None:
                    failed += si.numFailedTasks
        return stages, failed


# ------------------------------------------------------------------ #
# /proc sampling                                                      #
# ------------------------------------------------------------------ #

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(text: str) -> List[str]:
    # the comm field may hold spaces and parentheses: split after the
    # LAST ')'; fields[0] is then field 3 (state) of proc(5)
    return text[text.rindex(")") + 2:].split()


def descendants(root_pid: int, proc: Path = Path("/proc")) -> List[int]:
    """``root_pid`` and every live process below it."""
    children: Dict[int, List[int]] = {}
    for d in proc.iterdir():
        if not d.name.isdigit():
            continue
        try:
            ppid = int(_stat_fields((d / "stat").read_text())[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while we scanned
        children.setdefault(ppid, []).append(int(d.name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_seconds(root_pid: int, proc: Path = Path("/proc")) -> float:
    """User+system CPU of ``root_pid`` and its live descendants,
    including what each has already collected from reaped children
    (cutime/cstime), in seconds."""
    ticks = 0
    for pid in descendants(root_pid, proc):
        try:
            f = _stat_fields((proc / str(pid) / "stat").read_text())
        except (OSError, ValueError):
            continue
        ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / _CLK_TCK


def _status_kb(pid: int, key: str, proc: Path = Path("/proc")) -> int:
    try:
        for line in (proc / str(pid) / "status").read_text().splitlines():
            if line.startswith(key + ":"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_peak_rss_mb(root_pid: int, proc: Path = Path("/proc")) -> float:
    """VmHWM of the java process under ``root_pid`` (0 if none)."""
    for pid in descendants(root_pid, proc):
        try:
            comm = (proc / str(pid) / "comm").read_text().strip()
        except OSError:
            continue
        if comm == "java":
            return _status_kb(pid, "VmHWM", proc) / 1024.0
    return 0.0


def driver_peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


# ------------------------------------------------------------------ #
# shutdown                                                            #
# ------------------------------------------------------------------ #


def _alive(pid: int) -> bool:
    try:
        state = _stat_fields(Path(f"/proc/{pid}/stat").read_text())[0]
    except (OSError, ValueError):
        return False
    return state not in ("Z", "X")


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, end the py4j gateway JVM, and wait until every
    process this run started (JVM, Python worker daemons and workers)
    has exited; whatever is still alive after ``timeout`` is killed."""
    from pyspark import SparkContext

    started = [p for p in descendants(os.getpid()) if p != os.getpid()]
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    wait_gone(started, timeout)


def wait_gone(pids: Iterable[int], timeout: float) -> None:
    pids = list(pids)
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        pids = [p for p in pids if _alive(p)]
        if not pids:
            return
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline and any(_alive(p) for p in pids):
        time.sleep(0.1)
