"""Process-tree memory sampling and the environment record, from /proc.

``RssSampler`` sums the resident set of the benchmark's own process and
every descendant (the Spark JVM and its Python workers) every
``interval`` seconds while it is running, and keeps the samples.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


_TCK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows its closing paren
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> int:
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, own and reaped children) summed over
    the live process tree under ``root``."""
    kids = _children_map()
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(b")") + 2 :].split()
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TCK


def steal_s() -> float:
    """CPU time the hypervisor gave to others, summed over this
    machine's CPUs since boot (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TCK


class RssSampler:
    """Background sampler of the process tree's summed RSS."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.samples: list[tuple[float, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.samples.append((time.time(), tree_rss_bytes(me)))
            self._stop.wait(self.interval)

    def peak(self, start: float, end: float) -> int:
        return max((b for t, b in self.samples if start <= t <= end), default=0)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def java_version() -> str:
    out = subprocess.run(
        ["java", "-version"], capture_output=True, text=True, timeout=60
    )
    lines = (out.stderr + out.stdout).splitlines()
    return next((ln.strip() for ln in lines if " version " in ln), "unknown")


def source_digest(root: str) -> str:
    """sha256 over the program's Python sources: the checkout the
    benchmark runs in is not a git repository, so this stands in for
    the commit sha."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "textcleaning_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def git_sha(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=30,
        )
    except OSError:
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def environment(root: str, cores: int) -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": f"local[{cores}]",
        "git_sha": git_sha(root),
        "source_digest": source_digest(root),
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "java": java_version(),
    }
