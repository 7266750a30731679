"""CPU time and resident memory of this process and everything it started
(the Spark JVM and its Python workers), read from ``/proc``.

CPU is summed as ``utime + stime + cutime + cstime`` over the live process
tree: a live child counts in its own ``utime``, and a child that exited and
was reaped has moved into its parent's ``cutime``, so nothing is counted
twice and a short-lived Python worker is not lost.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is in parentheses and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def process_tree(root: int | None = None) -> dict[int, list[str]]:
    """pid → stat fields (after the command name) of ``root`` and all its
    descendants."""
    root = os.getpid() if root is None else root
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is None:
            continue
        stats[int(name)] = st
        children.setdefault(int(st[1]), []).append(int(name))
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return tree


def _is_python_worker(pid: int) -> bool:
    cmd = _cmdline(pid)
    return "pyspark.daemon" in cmd or "pyspark.worker" in cmd


class Snapshot:
    """CPU seconds of the whole tree and of the Spark Python workers, and
    resident memory at one instant.

    Memory counts this process, its direct children (the JVM) and the
    Python workers. A short-lived child the JVM forks for a shell command
    shares the JVM's pages until it execs, and would count them twice."""

    __slots__ = ("cpu_s", "worker_cpu_s", "rss_mb", "box")

    def __init__(self, tree: dict[int, list[str]], workers: set[int], root: int):
        cpu = wcpu = rss = 0
        for pid, st in tree.items():
            # fields after the name: state=0 ppid=1 ... utime=11 stime=12
            # cutime=13 cstime=14 ... rss=21
            ticks = int(st[11]) + int(st[12]) + int(st[13]) + int(st[14])
            cpu += ticks
            if pid in workers:
                wcpu += ticks
            if pid == root or int(st[1]) == root or pid in workers:
                rss += int(st[21])
        self.cpu_s = cpu / _TICK
        self.worker_cpu_s = wcpu / _TICK
        self.rss_mb = rss * _PAGE / 2**20
        self.box = box_ticks()


class Sampler:
    """Samples the process tree every ``interval`` seconds on a daemon
    thread and keeps the peak resident memory of the whole tree. Use as a
    context manager; :meth:`snapshot` reads CPU at a window boundary."""

    def __init__(self, interval: float = 0.2):
        self._interval = interval
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._workers: set[int] = set()
        self._not_workers: set[int] = set()
        self.peak_rss_mb = 0.0
        self._thread = threading.Thread(target=self._run, name="perfbench-sampler",
                                        daemon=True)

    def __enter__(self) -> "Sampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def snapshot(self) -> Snapshot:
        tree = process_tree()
        with self._lock:
            for pid in tree.keys() - self._workers - self._not_workers:
                (self._workers if _is_python_worker(pid) else self._not_workers).add(pid)
            snap = Snapshot(tree, self._workers, os.getpid())
            self.peak_rss_mb = max(self.peak_rss_mb, snap.rss_mb)
        return snap

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self.snapshot()


def _running(pid: int, started: str) -> bool:
    """Whether ``pid`` is still the process that started at ``started``
    (stat field 22) and has not ended. A zombie of this process has not
    ended until it is reaped; another's is left to its parent."""
    st = _stat(pid)
    if st is None or st[19] != started:
        return False
    return st[0] != "Z" or int(st[1]) == os.getpid()


def _reap_children() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_tree(close_stdin=(), grace_s: float = 20, step_s: float = 5) -> list[int]:
    """End every process this one started, and wait until each has ended.

    ``close_stdin`` holds ``subprocess.Popen`` children that exit on their
    own when their standard input closes: the Spark JVM does, and its Python
    workers then follow it. They get ``grace_s`` to do so; whatever of the
    process tree still runs then gets SIGTERM, and ``step_s`` later SIGKILL.
    Returns the pids that had to be signalled."""
    me = os.getpid()
    tree = {pid: st[19] for pid, st in process_tree(me).items() if pid != me}
    for proc in close_stdin:
        if proc.stdin is not None and not proc.stdin.closed:
            try:
                proc.stdin.close()
            except OSError:
                pass

    def wait(seconds: float) -> dict[int, str]:
        deadline = time.monotonic() + seconds
        while True:
            _reap_children()
            left = {p: s for p, s in tree.items() if _running(p, s)}
            if not left or time.monotonic() > deadline:
                return left
            time.sleep(0.02)

    signalled: list[int] = []
    left = wait(grace_s if close_stdin else 0)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not left:
            break
        for pid in left:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        signalled += [p for p in left if p not in signalled]
        left = wait(step_s)
    return signalled


def jvm_gc_s(spark) -> float:
    """Seconds the driver JVM has spent in garbage collection so far."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000


def jvm_jit_s(spark) -> float:
    """Seconds the driver JVM's JIT compilers have spent compiling so far."""
    return spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getCompilationMXBean().getTotalCompilationTime() / 1000


def box_ticks() -> tuple[int, int, int]:
    """(busy, steal, total) clock ticks of the whole machine since boot."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    idle = v[3] + v[4]
    return sum(v) - idle - v[7], v[7], sum(v)


def box_share(a: Snapshot, b: Snapshot) -> dict:
    """How busy the machine was between two snapshots: CPU used by this
    run, by everything else, and stolen by the hypervisor, as shares of
    all CPU time."""
    total = (b.box[2] - a.box[2]) or 1
    ours = (b.cpu_s - a.cpu_s) * _TICK
    return {
        "ours_pct": 100 * ours / total,
        "others_pct": 100 * max(0.0, b.box[0] - a.box[0] - ours) / total,
        "steal_pct": 100 * (b.box[1] - a.box[1]) / total,
    }


def load_average() -> float:
    return os.getloadavg()[0]


def box_facts(local_cores: int) -> dict:
    """Facts about the machine a result was measured on, so a later
    comparison can tell box drift from a code change."""
    import platform
    import subprocess

    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    try:
        java = subprocess.run(["java", "-version"], capture_output=True, text=True,
                              timeout=30).stderr.splitlines()[0]
    except (OSError, subprocess.SubprocessError, IndexError):
        java = None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_gb": round(mem_kb / 2**20, 1),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "java": java,
        "master": f"local[{local_cores}]",
        "loadavg_1m": load_average(),
        "time_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
