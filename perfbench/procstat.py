"""Process-tree readings from ``/proc``: membership, CPU time and PSS.

The benchmark measures the program from outside, so everything here
reads the kernel's public per-process files and nothing else.
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if the
    process is gone. Field 0 here is the state (stat field 3)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except OSError:
        return ""


def session_members(sid: int) -> list[int]:
    """Live pids whose session id is ``sid``. The launcher starts the
    driver process in a new session, so this is the driver, the JVM it
    spawns and every Python worker below the JVM."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None and int(fields[3]) == sid and fields[0] != "Z":
            out.append(int(name))
    return out


def pss_kb(pid: int) -> int:
    """Proportional set size of one process in KiB (0 if it is gone)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def tree_pss_parts_mb(sid: int) -> dict[str, float]:
    """PSS in MB of the session's processes, by kind: the JVM, the
    driver (the session leader) and the Python workers. A child that
    runs its parent's executable is skipped: the JVM starts processes
    through vfork, and until that child execs it shares (and /proc
    reports) the JVM's whole memory."""
    members = session_members(sid)
    parent = {}
    for p in members:
        fields = _stat_fields(p)
        if fields is not None:
            parent[p] = int(fields[1])
    out: dict[str, float] = {}
    for p in members:
        exe = _exe(p)
        if os.path.basename(exe) == "java" and _exe(parent.get(p, 0)) == exe:
            continue
        key = "jvm" if os.path.basename(exe) == "java" else ("driver" if p == sid else "pyworkers")
        out[key] = out.get(key, 0.0) + pss_kb(p) / 1024.0
    return out


def cpu_s(pid: int, with_children: bool = False) -> float:
    """User+system CPU seconds of ``pid``; with_children adds the CPU of
    children it has reaped (a forking worker daemon's exited workers)."""
    fields = _stat_fields(pid)
    if fields is None:
        return 0.0
    ticks = int(fields[11]) + int(fields[12])  # utime, stime
    if with_children:
        ticks += int(fields[13]) + int(fields[14])  # cutime, cstime
    return ticks / CLK_TCK


class SparkProcesses:
    """CPU readings for the two sides of a local-mode Spark run: the JVM
    (driver and executor threads) and the Python processes it forks
    (the worker daemon, its workers, data-source runners)."""

    def __init__(self, driver_pid: int):
        self.driver_pid = driver_pid
        self.jvm_pid = self._find_jvm()

    def _find_jvm(self) -> int:
        sid = os.getsid(self.driver_pid)
        for pid in session_members(sid):
            if os.path.basename(_exe(pid)) == "java" and (
                "org.apache.spark.deploy.SparkSubmit" in _cmdline(pid)
            ):
                return pid
        raise RuntimeError("no Spark JVM found in the driver's session")

    def _python_children(self) -> list[int]:
        """Python processes whose ancestry reaches the JVM."""
        parent: dict[int, int] = {}
        for pid in session_members(os.getsid(self.driver_pid)):
            fields = _stat_fields(pid)
            if fields is not None:
                parent[pid] = int(fields[1])
        out = []
        for pid in parent:
            p = parent.get(pid)
            while p is not None and p != self.jvm_pid:
                p = parent.get(p)
            if p == self.jvm_pid:
                out.append(pid)
        return out

    def snapshot(self) -> tuple[float, float]:
        """(JVM CPU s, Python-worker CPU s) consumed so far. Workers that
        have exited stay counted: the JVM's reaped-children time holds
        them."""
        jvm_own = cpu_s(self.jvm_pid)
        reaped = cpu_s(self.jvm_pid, with_children=True) - jvm_own
        live = sum(cpu_s(p, with_children=True) for p in self._python_children())
        return jvm_own, reaped + live
