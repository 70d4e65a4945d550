"""Host context, session sizing and a /proc sampler for memory and steal."""

from __future__ import annotations

import ctypes
import os
import platform
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def session_conf(work_dir: str, trace_dir: str | None) -> dict:
    """Spark settings sized from this host instead of bench.py's 32-core,
    48 GB defaults: one task thread per core and a quarter of RAM for the
    driver heap. Every scratch path stays inside ``work_dir``."""
    heap_mb = max(1024, min(8192, mem_total_mb() // 4))
    local = os.path.join(work_dir, "spark-local")
    tmp = os.path.join(work_dir, "tmp")
    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": tmp,
        "spark.ui.showConsoleProgress": "false",
    }
    if trace_dir is not None:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(trace_dir),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def _cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    vals = [int(v) for v in fields[:8]]
    return sum(vals), vals[7]


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


def _rss_and_kind(pid: int) -> tuple[int, str]:
    try:
        with open(f"/proc/{pid}/statm") as f:
            rss = int(f.read().split()[1]) * _PAGE
        with open(f"/proc/{pid}/comm") as f:
            comm = f.read().strip()
    except OSError:
        return 0, ""
    if comm == "java":
        return rss, "jvm"
    if comm.startswith("python"):
        return rss, "python"
    return rss, "other"


def adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts
    (Linux ``PR_SET_CHILD_SUBREAPER``): a descendant whose parent exits
    first is re-parented here rather than to init, so ``stop_descendants``
    still finds it."""
    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def descendants() -> list[int]:
    kids = _children_map()
    found: list[int] = []
    todo = list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(kids.get(pid, []))
    return found


def _ended(pid: int) -> bool:
    """True once ``pid`` has ended; reaps it if it is this process's child."""
    try:
        if os.waitpid(pid, os.WNOHANG)[0]:
            return True
    except ChildProcessError:
        pass  # not a child: its own parent reaps it
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return True
    return stat[stat.rindex(")") + 2] == "Z"


def stop_descendants(grace: float = 10.0) -> list[str]:
    """Stop every process below this one and wait until each has ended:
    SIGTERM, then SIGKILL for what outlives ``grace`` seconds. Returns the
    command names of the processes that were still running."""
    names: list[str] = []
    termed: set[int] = set()
    deadline = time.monotonic() + grace
    while True:
        pids = [p for p in descendants() if not _ended(p)]
        if not pids:
            break
        late = time.monotonic() > deadline
        for pid in pids:
            if pid in termed and not late:
                continue
            try:
                if pid not in termed:
                    with open(f"/proc/{pid}/comm") as f:
                        names.append(f.read().strip())
                os.kill(pid, signal.SIGKILL if late else signal.SIGTERM)
            except OSError:
                pass
            termed.add(pid)
        time.sleep(0.05)
    # zombies adopted when their parent ended above
    while True:
        try:
            if not os.waitpid(-1, os.WNOHANG)[0]:
                break
        except ChildProcessError:
            break
    return names


class Sampler:
    """Samples, every ``period`` seconds, the RSS of every process this one
    started (the driver JVM and the Python workers under it) and the CPU
    steal share of the host. Peaks and means are read after ``stop``."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_total = 0
        self.peak_jvm = 0
        self.peak_python = 0
        self.max_workers = 0
        self.steal: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _sample_rss(self) -> None:
        kids = _children_map()
        todo = list(kids.get(os.getpid(), []))
        jvm = python = workers = 0
        while todo:
            pid = todo.pop()
            todo.extend(kids.get(pid, []))
            rss, kind = _rss_and_kind(pid)
            if kind == "jvm":
                jvm += rss
            elif kind == "python":
                python += rss
                workers += 1
        self.peak_jvm = max(self.peak_jvm, jvm)
        self.peak_python = max(self.peak_python, python)
        self.peak_total = max(self.peak_total, jvm + python)
        self.max_workers = max(self.max_workers, workers)

    def _loop(self) -> None:
        last = _cpu_times()
        last_t = time.monotonic()
        while not self._stop.wait(self.period):
            self._sample_rss()
            if time.monotonic() - last_t >= 1.0:
                now = _cpu_times()
                d_total = now[0] - last[0]
                if d_total > 0:
                    self.steal.append((now[1] - last[1]) / d_total)
                last, last_t = now, time.monotonic()


def context(sampler: Sampler, java_version: str) -> dict:
    """What a reader needs beside a number to judge it."""
    import pyspark

    steal = sampler.steal or [0.0]
    return {
        "nproc": nproc(),
        "mem_total_mb": mem_total_mb(),
        "cpu_steal_mean": round(sum(steal) / len(steal), 4),
        "cpu_steal_max": round(max(steal), 4),
        "loadavg": [round(v, 2) for v in os.getloadavg()],
        "pyspark": pyspark.__version__,
        "java": java_version,
        "python": platform.python_version(),
    }
