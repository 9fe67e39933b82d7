"""Process accounting and teardown for one benchmark run.

Every process the run starts (the Spark JVM, the ``pyspark.daemon`` and its
workers, the oracle pool) inherits ``TOKEN_ENV`` from the run's process, so the
run can find them through ``/proc`` even after a parent died and they were
re-parented. CPU time and memory are read from ``/proc`` for the run's process
tree.
"""

from __future__ import annotations

import os
import signal
import threading
import time

TOKEN_ENV = "PERFBENCH_RUN_TOKEN"
_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm (field 2) may hold spaces; everything after the last ')' is fixed
    return raw[raw.rindex(")") + 2 :].split()


def _all_pids() -> list[int]:
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def tree(root: int) -> dict[int, list[str]]:
    """pid -> stat fields (from field 3 on) of ``root`` and its descendants."""
    stats = {pid: st for pid in _all_pids() if (st := _stat(pid)) is not None}
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(int(st[1]), []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """utime+stime+cutime+cstime summed over the live tree. A process that
    exits and is reaped inside the tree moves its time into its parent's
    cutime/cstime, so the delta over an interval keeps it."""
    return sum(
        sum(int(x) for x in st[11:15]) for st in tree(root).values()
    ) / _CLK_TCK


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_pss_bytes(root: int) -> int:
    """Summed proportional set size of the tree: RSS with each shared page
    split among the processes mapping it, so the copy-on-write pages the
    forked Python workers share with ``pyspark.daemon`` and the mmap'd
    media blob count once, not once per worker."""
    return sum(_pss_bytes(pid) for pid in tree(root))


class MemorySampler:
    """Samples ``tree_pss_bytes`` on a background thread; ``peak`` is the
    highest sum seen since the last ``reset``."""

    def __init__(self, root: int, interval_s: float = 0.5):
        self._root = root
        self._interval = interval_s
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._peak = 0
        self._thread = threading.Thread(target=self._loop, name="memory", daemon=True)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            pss = tree_pss_bytes(self._root)
            with self._lock:
                self._peak = max(self._peak, pss)

    def reset(self) -> None:
        with self._lock:
            self._peak = tree_pss_bytes(self._root)

    @property
    def peak(self) -> int:
        with self._lock:
            return self._peak


def tagged_pids(token: str) -> list[int]:
    """Every live process other than this one whose environment carries
    ``token`` (zombies excluded: they hold no resources and vanish once
    reaped)."""
    needle = f"{TOKEN_ENV}={token}".encode()
    me = os.getpid()
    out = []
    for pid in _all_pids():
        if pid == me:
            continue
        try:
            with open(f"/proc/{pid}/environ", "rb") as f:
                env = f.read()
        except OSError:
            continue
        st = _stat(pid)
        if needle in env.split(b"\0") and st is not None and st[0] != "Z":
            out.append(pid)
    return out


def stop_spark(spark, timeout_s: float = 30.0) -> None:
    """``spark.stop()``, then close the gateway's stdin (the JVM exits on
    EOF) and wait for the JVM process to end; kill it if it does not."""
    from pyspark import SparkContext

    if spark is not None:
        t = threading.Thread(target=spark.stop, name="spark-stop", daemon=True)
        t.start()
        t.join(timeout_s)
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    try:
        proc.stdin.close()
    except (OSError, ValueError):
        pass
    try:
        proc.wait(timeout=15)
    except Exception:  # subprocess.TimeoutExpired: fall through to kill
        proc.kill()
        proc.wait(timeout=15)


def kill_tagged(token: str, grace_s: float = 1.0, wait_s: float = 20.0) -> None:
    """SIGTERM every process tagged with ``token``, SIGKILL the survivors
    after ``grace_s``, and wait until none is left."""
    for sig, pause in ((signal.SIGTERM, grace_s), (signal.SIGKILL, wait_s)):
        left = tagged_pids(token)
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + pause
        while left and time.monotonic() < deadline:
            try:
                os.waitpid(-1, os.WNOHANG)  # reap our own children
            except ChildProcessError:
                pass
            time.sleep(0.05)
            left = tagged_pids(token)
        if not left:
            return
    raise RuntimeError(f"processes still alive after SIGKILL: {left}")
