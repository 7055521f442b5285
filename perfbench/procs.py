"""Host facts and process bookkeeping read from /proc: core count, a CPU
probe, stray Spark JVMs, summed PSS of this process tree, and teardown
of every process the benchmark started."""

from __future__ import annotations

import hashlib
import os
import signal
import threading
import time


def cores() -> int:
    return len(os.sched_getaffinity(0))


def cpu_probe_s() -> float:
    """Median wall of a fixed single-core hashing loop (host speed check)."""
    block = bytes(range(256)) * 4096  # 1 MiB
    walls = []
    for _ in range(5):
        t0 = time.perf_counter()
        h = hashlib.sha256()
        for _ in range(32):
            h.update(block)
        h.digest()
        walls.append(time.perf_counter() - t0)
    return sorted(walls)[2]


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(pid: int) -> list[int]:
    ppid = _ppid_map()
    kids: dict[int, list[int]] = {}
    for p, pp in ppid.items():
        kids.setdefault(pp, []).append(p)
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def spark_jvms(exclude=()) -> list[int]:
    """PIDs of running Spark JVMs, other than `exclude`."""
    skip = set(exclude)
    return [
        p
        for p in _ppid_map()
        if p not in skip and "org.apache.spark" in _cmdline(p) and "java" in _cmdline(p)
    ]


def wait_no_stray_jvm(timeout_s: float = 30.0) -> list[int]:
    """Wait for other Spark JVMs to exit; returns the ones still alive."""
    deadline = time.monotonic() + timeout_s
    mine = set(descendants(os.getpid()))
    while True:
        stray = spark_jvms(mine)
        if not stray or time.monotonic() > deadline:
            return stray
        time.sleep(0.5)


def pss_mb(pids) -> float:
    """Summed proportional set size: each page shared by n processes (the
    forked Python workers share most of theirs) counts 1/n per process."""
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class MemSampler:
    """Background sampler of summed PSS over this process and all of its
    descendants, split into the JVM and the Python processes (driver and
    workers). take() returns each side's peak since the previous take()."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self._peak = {"python": 0.0, "jvm": 0.0}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            pids = [me, *descendants(me)]
            jvm = [p for p in pids if "java" in _cmdline(p)]
            now = {"python": pss_mb(p for p in pids if p not in jvm), "jvm": pss_mb(jvm)}
            with self._lock:
                self._peak = {k: max(v, now[k]) for k, v in self._peak.items()}
            self._stop.wait(self.period_s)

    def take(self) -> dict[str, float]:
        with self._lock:
            peak, self._peak = self._peak, {"python": 0.0, "jvm": 0.0}
        return peak

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def reap_descendants(grace_s: float = 15.0) -> list[int]:
    """Wait for every descendant to exit, then escalate to SIGTERM and
    SIGKILL; returns any that survived. The set is taken up front, since
    a killed JVM's workers are re-parented away from this process."""
    pids = set(descendants(os.getpid()))
    live = []
    for sig, wait_s in ((None, grace_s), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        live = [p for p in pids if _alive(p)]
        for p in live if sig is not None else ():
            try:
                os.kill(p, sig)
            except OSError:
                pass
        deadline = time.monotonic() + wait_s
        while live and time.monotonic() < deadline:
            time.sleep(0.2)
            _reap_zombies()
            live = [p for p in pids if _alive(p)]
        if not live:
            return []
    return live


def _reap_zombies():
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return
