"""Shared plumbing for the benchmark: paths, the pinned child environment,
the host record, percentiles and in-memory spans.

Everything the benchmark writes lives under ``<checkout>/.perfbench_out``;
nothing is read or written outside the checkout.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import math
import os
import platform
import shutil
import signal
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench_out")
PACKAGE = "dataflow_ordered_processing_spark"
PIPELINE = os.path.join(ROOT, "jobs", "run_pipeline.py")

# Driver heap pinned to fit a small host; the package's 24g default is
# larger than the RAM of a 4-core, 15 GiB machine.
DRIVER_MEMORY = "4g"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def require_program() -> None:
    """The benchmark measures the program in its own checkout; refuse to run
    (non-zero exit, no result line) when the program is not there."""
    missing = [
        p
        for p in (os.path.join(ROOT, PACKAGE, "__init__.py"), PIPELINE)
        if not os.path.isfile(p)
    ]
    if missing:
        print(f"perfbench: program files missing: {missing}", file=sys.stderr)
        raise SystemExit(2)


STARTED = time.time()
# a run must exit within 180 s; children are killed at this mark
RUN_LIMIT_S = 170.0


def child_timeout(expected_s: float) -> float:
    """Seconds a child may run: ``expected_s`` (its own run length plus
    set-up and teardown allowances), cut to what is left of the run limit."""
    return max(1.0, min(expected_s, STARTED + RUN_LIMIT_S - time.time()))


def become_subreaper() -> None:
    """Adopt the orphans of this process's descendants: the JVM a Spark child
    leaves behind when it exits is re-parented here, so it can be waited for."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


# session ids of the children started so far; each child leads a session of
# its own, which its JVM and Python workers inherit
SESSIONS: set[int] = set()


def spawn(cmd: list[str], work: str, log, warm: bool = False) -> subprocess.Popen:
    """Start ``cmd`` in a new session, output to the open file ``log``."""
    proc = subprocess.Popen(cmd, cwd=work, env=child_env(work, warm), stdout=log,
                            stderr=subprocess.STDOUT, start_new_session=True)
    SESSIONS.add(proc.pid)
    return proc


def wait_child(proc: subprocess.Popen, timeout: float) -> int:
    """Wait for ``proc`` (killed at ``timeout``); return its exit code, -9
    when it was killed. What it started may still be running: stop_session."""
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        return -9


def _session_pids(sid: int) -> tuple[list[int], list[int]]:
    """Processes of session ``sid``: the live ones and the zombies."""
    live, zombies = [], []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                continue
            if len(fields) > 3 and int(fields[3]) == sid:
                (zombies if fields[0] == "Z" else live).append(int(d))
    return live, zombies


def _reap(pid: int) -> None:
    """Collect ``pid``'s exit status if it is a child of this process."""
    with contextlib.suppress(ChildProcessError):
        os.waitpid(pid, os.WNOHANG)


def stop_session(sid: int, limit_s: float = 30.0) -> None:
    """Kill every process left in session ``sid`` and wait until each has
    ended and been reaped (the ones re-parented here are reaped here). A
    killed JVM shows as a zombie while its other threads are still being
    torn down, so a zombie counts as ended only once it is gone."""
    deadline = time.time() + limit_s
    while True:
        live, zombies = _session_pids(sid)
        for pid in zombies:
            _reap(pid)
        for pid in live:
            with contextlib.suppress(ProcessLookupError, PermissionError):
                os.kill(pid, signal.SIGKILL)
        if not live and not zombies:
            SESSIONS.discard(sid)
            return
        if time.time() > deadline:
            print(f"perfbench: processes {live + zombies} of session {sid} did not end",
                  file=sys.stderr)
            return
        time.sleep(0.05)


def stop_all() -> None:
    for sid in list(SESSIONS):
        stop_session(sid)


def run_child(cmd: list[str], work: str, log_path: str, timeout: float, warm: bool = False):
    """Run ``cmd`` to completion (killed at ``timeout``) and stop everything it
    started; return its exit code, -9 when it was killed."""
    with open(log_path, "w") as log:
        proc = spawn(cmd, work, log, warm)
        try:
            return wait_child(proc, timeout)
        finally:
            stop_session(proc.pid)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def child_env(work: str, warm: bool = False) -> dict:
    """Environment for every Spark process: all scratch, temp and JVM files
    inside ``work``; core count, heap and session warm-up pinned.

    The session warm-up moves ~45 s into get_spark on 4 cores, more than a
    whole timed run, so timed runs keep it off; the traced hotkey_batch run
    measures it in a process of its own (``warm=True``, warm_probe.py)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus()),
            "SPARK_GRAFT_WARM": "1" if warm else "0",
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_GRAFT_SCRATCH": os.path.join(work, "scratch"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "scratch", "local"),
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "PYTHONDONTWRITEBYTECODE": "1",
            "PYTHONPATH": ROOT,
        }
    )
    env.pop("OMP_NUM_THREADS", None)
    return env


def _scratch_fs(path: str) -> str:
    """Filesystem type of the mount holding ``path`` (tmpfs or a disk fs)."""
    best, fstype = "", "unknown"
    path = os.path.realpath(path)
    try:
        with open("/proc/mounts") as f:
            for line in f:
                parts = line.split()
                mnt = parts[1]
                if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(
                    mnt
                ) >= len(best):
                    best, fstype = mnt, parts[2]
    except OSError:
        pass
    return fstype


def _java_version() -> str:
    try:
        r = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30,
            env=dict(os.environ, JAVA_TOOL_OPTIONS="-XX:-UsePerfData"),
        )
        return (r.stderr or r.stdout).splitlines()[0].strip()
    except (OSError, subprocess.SubprocessError, IndexError):
        return "unknown"


def _pyspark_version() -> str:
    from importlib import metadata

    try:
        return metadata.version("pyspark")
    except metadata.PackageNotFoundError:
        return "unknown"


def cpu_times() -> list[int]:
    """Aggregate CPU tick counters (user ... steal) from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return [0] * 8


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between: a
    result measured under a large share is not comparable."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) > 0 else 0.0


def _mem_gib() -> int:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return round(int(line.split()[1]) / 1024**2)
    except OSError:
        pass
    return 0


def _cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.machine()


def host_record(work: str) -> dict:
    """What a result is only comparable under. ``host_key`` groups results
    so numbers are never compared across hosts."""
    model = _cpu_model()
    rec = {
        "nproc": cpus(),
        "SPARK_GRAFT_CPUS": cpus(),
        "driver_memory": DRIVER_MEMORY,
        "mem_gib": _mem_gib(),
        "cpu_model": model,
        "java": _java_version(),
        "pyspark": _pyspark_version(),
        "python": platform.python_version(),
        "loadavg_before": list(os.getloadavg()),
        "scratch_fs": _scratch_fs(work),
    }
    digest = hashlib.sha1(model.encode()).hexdigest()[:8]
    rec["host_key"] = f"{rec['nproc']}cpu-{rec['mem_gib']}gib-{digest}"
    return rec


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile; +inf values sort last."""
    v = sorted(values)
    if not v:
        return float("nan")
    pos = q * (len(v) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(v) - 1)
    if v[hi] == math.inf or v[lo] == math.inf:
        return v[hi] if pos > lo else v[lo]
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def tail_quantile(n: int) -> float:
    """Highest of p50/p90/p99/p99.9 with at least ten samples beyond it."""
    best = 0.5
    for q in (0.9, 0.99, 0.999):
        if n * (1 - q) >= 10:
            best = q
    return best


def median(values) -> float:
    return quantile(values, 0.5)


class Spans:
    """In-memory spans (name, start, end, parent); written out once at the
    end of a run."""

    def __init__(self):
        self.items: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, start: float | None = None, **attrs):
        with self._lock:
            sid = len(self.items)
            parent = self._stack[-1] if self._stack else None
            self.items.append(
                {"id": sid, "parent": parent, "name": name,
                 "start": time.time() if start is None else start, "end": None, **attrs}
            )
            self._stack.append(sid)
        try:
            yield self.items[sid]
        finally:
            with self._lock:
                self.items[sid]["end"] = time.time()
                self._stack.pop()

    def add(self, name: str, start: float, end: float, parent=None, **attrs) -> int:
        with self._lock:
            sid = len(self.items)
            self.items.append(
                {"id": sid, "parent": parent, "name": name, "start": start,
                 "end": end, **attrs}
            )
            return sid

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.items if s["name"] == name)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.items if s["name"] == name]


class RssSampler(threading.Thread):
    """Peak resident memory of a process and all its descendants (the JVM
    and the Python workers), sampled from /proc every quarter second."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.peak_mb = pid, 0.0
        self.done = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, ValueError, IndexError):
                    continue
                children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [self.pid]
        while todo:
            p = todo.pop()
            todo.extend(children.get(p, []))
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, ValueError, IndexError):
                pass
        return total

    def run(self) -> None:
        while not self.done.wait(0.25):
            self.peak_mb = max(self.peak_mb, self._tree_rss() / 2**20)

    def stop(self) -> float:
        self.done.set()
        self.join()
        return self.peak_mb


def write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, default=str)
    os.replace(tmp, path)
