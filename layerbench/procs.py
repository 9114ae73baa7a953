"""Process-group control for benchmark runs.

Each workload runs as a child in its own session and process group, with
a marker variable in its environment. The JVM and the PySpark Python
workers inherit both, so the run's processes can be found, measured and
killed as one set, and a survivor can be detected after the run.
"""

from __future__ import annotations

import os
import signal
import time

MARKER = "LAYERBENCH_RUN_ID"
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _environ(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/environ", "rb") as fh:
            return fh.read()
    except OSError:
        return b""


def marked_pids(run_id: str, pgid: int | None = None, seen: dict[int, bool] | None = None) -> set[int]:
    """Live processes of a run: those in process group ``pgid`` or whose
    environment carries ``MARKER=run_id``. Zombies are not counted.
    ``seen`` caches each pid's marker test across calls (an environment
    does not change after exec)."""
    tag = f"{MARKER}={run_id}".encode()
    out = set()
    me = os.getpid()
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == me:
            continue
        pid = int(name)
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] == "Z":
            continue
        if pgid is not None and int(fields[2]) == pgid:
            out.add(pid)
            continue
        if seen is None or pid not in seen:
            marked = tag in _environ(pid).split(b"\0")
            if seen is None:
                if marked:
                    out.add(pid)
                continue
            seen[pid] = marked
        if seen[pid]:
            out.add(pid)
    return out


def rss_bytes(pids: set[int]) -> int:
    """Sum of resident set sizes of ``pids`` (vanished ones count 0)."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


def _ppid_vsize(pid: int) -> tuple[int, int] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        return int(fields[1]), int(fields[20])
    except (OSError, IndexError, ValueError):
        return None


def sharing_parent_memory(pids: set[int], parents: set[int]) -> set[int]:
    """Those of ``pids`` whose parent is in ``parents`` and which still
    have the parent's address space. A JVM starts a process (a Python
    worker, a shell command) with a vfork-style spawn: until the child
    execs, its RSS is the JVM's own, and summing both counts the JVM
    twice. Such a child is told by an address-space size equal to its
    parent's; an exec'd child maps far less than a JVM reserves."""
    size = {p: _ppid_vsize(p) for p in parents}
    out = set()
    for pid in pids:
        st = _ppid_vsize(pid)
        if st is not None and size.get(st[0]) is not None and st[1] == size[st[0]][1]:
            out.add(pid)
    return out


def kill_group(pgid: int, run_id: str, grace_s: float = 5.0) -> None:
    """SIGTERM the group and every marked process, then SIGKILL what is
    left after ``grace_s``; returns once none is alive or the kill was sent."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            pass
        for pid in marked_pids(run_id, pgid):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + grace_s
        while time.time() < deadline and marked_pids(run_id, pgid):
            time.sleep(0.1)
        if not marked_pids(run_id, pgid):
            return


def survivors(run_id: str, pgid: int, wait_s: float = 10.0) -> set[int]:
    """Processes of the run still alive after waiting up to ``wait_s``."""
    deadline = time.time() + wait_s
    while True:
        left = marked_pids(run_id, pgid)
        if not left or time.time() >= deadline:
            return left
        time.sleep(0.1)


def is_java(pid: int) -> bool:
    """Whether ``pid`` runs a JVM (its executable is named ``java``)."""
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe")) == "java"
    except OSError:
        return False
