"""CPU time and peak memory of a process tree, read from ``/proc``.

The tree is the Spark driver JVM and everything below it: in local mode the
executors are JVM threads and the Python UDF workers are children of the
``pyspark.daemon`` process the JVM starts.
"""

from __future__ import annotations

import os
import signal
import time

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process exited while the tree was walked
        return None
    # comm (field 2) may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree(root: int) -> list[int]:
    """``root`` and all of its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(root: int) -> float:
    """User + system CPU of the tree, including children already reaped by a
    process in it (a Python worker that exits moves into its parent's
    ``cutime``/``cstime``, so a difference of two readings keeps it)."""
    ticks = 0
    for pid in tree(root):
        fields = _stat_fields(pid)
        if fields is not None:
            ticks += sum(int(f) for f in fields[11:15])
    return ticks / _CLK


def peak_rss_by_process(root: int) -> dict[str, float]:
    """'<pid> <name>' -> that process's peak resident set (``VmHWM``), MB."""
    out = {}
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                status = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        if "VmHWM" in status:
            out[f"{pid} {status['Name'].strip()}"] = int(status["VmHWM"].split()[0]) / 1024
    return out


def alive(pid: int) -> bool:
    """Whether ``pid`` has not ended yet (a zombie has ended)."""
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def wait_ended(pids, timeout: float) -> list[int]:
    """Wait until each of ``pids`` has ended, reaping those that are children
    of this process; kill whatever is left after ``timeout`` seconds and wait
    for that too. Returns the pids that had to be killed."""
    deadline = time.monotonic() + timeout
    killed: list[int] = []
    while True:
        for pid in pids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:  # not a child of this process
                pass
        left = [pid for pid in pids if alive(pid)]
        if not left:
            return killed
        if not killed and time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = left
        time.sleep(0.05)
