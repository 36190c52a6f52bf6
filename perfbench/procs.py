"""Process-tree memory and clean-up from ``/proc`` (no psutil here)."""

from __future__ import annotations

import os
import signal
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(proc: str, pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name: state,
    ppid, pgrp, ... (None once the process is gone)."""
    try:
        with open(f"{proc}/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses: split after the last ')'
    return stat.rsplit(")", 1)[1].split()


def _ppid(proc: str, pid: int) -> int | None:
    fields = _stat(proc, pid)
    return int(fields[1]) if fields else None


def session_pids(sid: int, proc: str = "/proc") -> list[int]:
    """Running (not zombie) processes of session ``sid``. A worker started
    with ``start_new_session`` leads its own session, which every process
    below it stays in: the JVM, and the Python daemon that moves itself
    to a new process group."""
    out = []
    for name in os.listdir(proc):
        if name.isdigit():
            fields = _stat(proc, int(name))
            if fields and fields[0] not in "ZX" and int(fields[3]) == sid:
                out.append(int(name))
    return out


def _exe(proc: str, pid: int) -> str | None:
    try:
        return os.readlink(f"{proc}/{pid}/exe")
    except OSError:
        return None


def tree_rss_bytes(sid: int, proc: str = "/proc") -> int:
    """Resident bytes summed over session ``sid``, read from each
    process's ``statm`` (virtual and resident pages are its first two
    fields).

    A child that runs its parent's executable with its parent's virtual
    size (within 1%) is a fork or vfork that has not exec'd or diverged:
    it shares, or maps copy-on-write, its parent's pages, and is skipped.
    Without this the JVM's 12 GB heap reads twice for the instant of
    each process the JVM starts. A Python worker forked by the pyspark
    daemon grows past that band as soon as it imports, and counts."""
    mem = {}
    for pid in session_pids(sid, proc):
        # the executable first: a child that execs between the two reads
        # then shows its new, small statm, never its parent's next to a
        # new executable
        exe = _exe(proc, pid)
        try:
            with open(f"{proc}/{pid}/statm") as f:
                size, resident = map(int, f.read().split()[:2])
        except (OSError, ValueError):
            continue  # the process ended between listing and reading
        mem[pid] = (exe, size, resident, _ppid(proc, pid))

    def is_copy(pid: int) -> bool:
        exe, size, _, ppid = mem[pid]
        return (
            ppid in mem
            and exe == mem[ppid][0]
            and abs(size - mem[ppid][1]) <= 0.01 * mem[ppid][1]
        )

    return PAGE * sum(mem[pid][2] for pid in mem if not is_copy(pid))


class PeakSampler:
    """Polls a session's RSS on a thread and keeps the maximum."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root, self.interval, self.peak = root, interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def kill_session(sid: int, timeout: float = 30.0) -> None:
    """SIGKILL every process of session ``sid`` and wait until none runs."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        pids = session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)
    raise RuntimeError(f"session {sid} still has processes after SIGKILL")
