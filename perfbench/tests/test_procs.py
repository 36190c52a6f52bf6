"""The /proc reading behind peak_rss_mb, on a fake /proc tree."""

import os

from procs import PAGE, session_pids, tree_rss_bytes


def _proc(root, pid, state, ppid, pgrp, sid, statm, comm="java"):
    d = root / str(pid)
    d.mkdir()
    (d / "exe").symlink_to("/usr/bin/" + comm.split(")")[0])
    # a command name with spaces and a ')' must not shift the fields
    (d / "stat").write_text(f"{pid} ({comm}) {state} {ppid} {pgrp} {sid} 0 -1\n")
    (d / "statm").write_text(statm)


def test_rss_sums_one_session_and_counts_shared_memory_once(tmp_path):
    _proc(tmp_path, 100, "S", 1, 100, 100, "900 300 10 1 0 50 0\n", "python3")
    _proc(tmp_path, 101, "S", 100, 100, 100, "5000 4000 20 1 0 90 0\n")
    # vforked child of the JVM before its exec: the JVM's memory, read a
    # moment later (a thread stack more, a few pages touched)
    _proc(tmp_path, 102, "R", 101, 100, 100, "5010 4010 20 1 0 90 0\n", "java)x (y")
    # a Python daemon in a process group of its own stays in the session
    _proc(tmp_path, 103, "S", 101, 103, 100, "700 200 5 1 0 40 0\n", "python3")
    _proc(tmp_path, 104, "Z", 103, 103, 100, "0 0 0 0 0 0 0\n", "python3")
    # a forked Python worker: a copy of the daemon until it grows
    _proc(tmp_path, 105, "S", 103, 103, 100, "702 200 5 1 0 40 0\n", "python3")
    _proc(tmp_path, 106, "S", 103, 103, 100, "2000 900 5 1 0 40 0\n", "python3")
    _proc(tmp_path, 200, "S", 1, 200, 200, "9000 8000 1 1 0 1 0\n", "other")
    (tmp_path / "self").mkdir()  # non-numeric entries are skipped
    assert sorted(session_pids(100, str(tmp_path))) == [100, 101, 102, 103, 105, 106]
    assert tree_rss_bytes(100, str(tmp_path)) == (300 + 4000 + 200 + 900) * PAGE


def test_rss_of_this_process_is_positive():
    assert tree_rss_bytes(os.getsid(0)) > 0
