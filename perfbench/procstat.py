"""CPU time and peak memory of a process tree, read from Linux ``/proc``."""

from __future__ import annotations

import os
import signal
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, utime + stime + cutime + cstime in clock ticks)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                raw = fh.read()
        except OSError:  # the process ended while the table was read
            continue
        fields = raw[raw.rindex(b")") + 2 :].split()
        out[int(name)] = (int(fields[1]), sum(int(v) for v in fields[11:15]))
    return out


def descendants(root: int, table: dict[int, tuple[int, int]] | None = None) -> list[int]:
    table = _table() if table is None else table
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and its live descendants, including the
    children each of them has already reaped."""
    table = _table()
    pids = [root, *descendants(root, table)]
    return sum(table[p][1] for p in pids if p in table) / _CLK_TCK


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests while this machine's
    CPUs had work (``steal`` in ``/proc/stat``, summed over CPUs)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _CLK_TCK


def peak_rss_mb(pid: int) -> float:
    """Peak resident set size (``VmHWM``) of one process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / 1e6
    raise ValueError(f"no VmHWM for pid {pid}")


def reap_descendants(root: int, timeout_s: float = 10.0) -> None:
    """Terminate whatever ``root`` left running and wait for it to end."""
    pids = descendants(root)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
            if not pids:
                return
            for pid in pids:
                try:  # reap our own children; others are reaped by init
                    os.waitpid(pid, os.WNOHANG)
                except ChildProcessError:
                    pass
            time.sleep(0.05)
