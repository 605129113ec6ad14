"""Host-noise metadata and the process-tree RSS sampler."""

from __future__ import annotations

import hashlib
import os
import subprocess
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def loadavg_1m() -> float | None:
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError, IndexError):
        return None


def cpu_ticks() -> dict | None:
    """Aggregate CPU jiffies from /proc/stat: total and steal."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
    except OSError:
        return None
    if not fields or fields[0] != "cpu":
        return None
    vals = [int(x) for x in fields[1:]]
    return {"total": sum(vals), "steal": vals[7] if len(vals) > 7 else 0}


def steal_share(start: dict | None, end: dict | None) -> float | None:
    """Share of CPU time stolen by the hypervisor between two
    ``cpu_ticks`` readings."""
    if not start or not end or end["total"] <= start["total"]:
        return None
    return (end["steal"] - start["steal"]) / (end["total"] - start["total"])


def source_version(root: str) -> dict:
    """The git commit when the checkout is a repository, and always a
    digest of the program's source files (checkouts may carry no
    ``.git``)."""
    commit = None
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", root, "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10, check=True,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            commit = None
    h = hashlib.sha256()
    pkg = os.path.join(root, "ziggurat_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                p = os.path.join(dirpath, fn)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return {"git_commit": commit, "source_sha256": h.hexdigest()[:16]}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def tree_rss_bytes(root_pid: int) -> int:
    """RSS summed over ``root_pid`` and its descendants.

    A child of the JVM that still runs the JVM's own binary is one the
    JVM is spawning (posix_spawn's vfork, before exec): it shares the
    JVM's pages, so counting it would count the JVM twice. The JVM
    starts processes only through exec, so no real child of it looks
    like that."""
    kids = _children()
    total, todo = 0, [(root_pid, None)]
    while todo:
        pid, parent_exe = todo.pop()
        exe = _exe(pid)
        if exe is not None and exe == parent_exe and os.path.basename(exe) == "java":
            continue
        todo.extend((k, exe) for k in kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, ValueError, IndexError):
            pass
    return total


class RssSampler:
    """Samples the RSS of this process and all its descendants (the
    JVM and the Python workers) on a daemon thread; ``peak`` is the
    largest sum seen."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True, name="rss")

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid))
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        """Stop sampling and return the peak; later calls return the
        same peak."""
        if self._stop.is_set():
            return self.peak
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        return self.peak
