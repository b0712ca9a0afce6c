"""Benchmark of the compression engine: one command, one workload per run.

    python3 perfbench/run.py --workload roundtrip --seed 1 --seconds 15 \\
        --trace 0

Run from the root of a checkout. The arguments go unchanged to
``worker.py``, which runs the workload and prints the result line (see
README.md beside this file). This process only supervises it: the worker
runs in a session of its own, and this process is the subreaper of
everything the worker starts (the Spark JVM, its Python workers, input
generators). When the worker ends, for any reason, every process left in
its session is killed and every descendant is reaped before this process
exits with the worker's exit code. No process of a run outlives it, and
the worker's scratch tables go too, even when it was killed.
"""

from __future__ import annotations

import ctypes
import os
import shutil
import signal
import subprocess
import sys
import time

from harness import run_dir

HERE = os.path.dirname(os.path.abspath(__file__))
PR_SET_CHILD_SUBREAPER = 36
DEADLINE_S = 870  # backstop for a hung worker; a cold first run builds inputs
GRACE_S = 5  # SIGTERM to SIGKILL
GIVE_UP_S = 60  # stop waiting for processes that even SIGKILL did not end


class _Stop(Exception):
    pass


def main() -> int:
    _become_subreaper()

    def stop(signum, _frame):
        raise _Stop(signum)

    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, stop)
    proc = None
    code = 1
    try:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *sys.argv[1:]],
            start_new_session=True)
        code = proc.wait(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: worker still running after {DEADLINE_S} s",
              file=sys.stderr)
        code = 124
    except _Stop as e:
        code = 128 + e.args[0]
    finally:
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, signal.SIG_IGN)
        if proc is not None:
            _end_session(proc)
            shutil.rmtree(run_dir(proc.pid), ignore_errors=True)
    return code if code >= 0 else 128 - code


def _become_subreaper() -> None:
    """Orphaned descendants (a JVM's Python daemon, a pool's resource
    tracker) are reparented here instead of to init, so they can be
    reaped."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _end_session(proc: subprocess.Popen) -> None:
    """Kill what is left of the worker's session and of this process's
    children, SIGTERM first, and reap until none of them remains."""
    me, sid = os.getpid(), proc.pid
    if proc.poll() is None:
        _signal_all({proc.pid}, signal.SIGTERM)
    t0 = time.monotonic()
    while True:
        _reap()
        # a zombie counts too: a multithreaded process whose main thread
        # has ended shows as one while its other threads still run
        left = _pids(lambda ppid, session: session == sid or ppid == me)
        waited = time.monotonic() - t0
        if not left or waited > GIVE_UP_S:
            return
        _signal_all(left, signal.SIGKILL if waited > GRACE_S
                    else signal.SIGTERM)
        time.sleep(0.05)


def _pids(match) -> set[int]:
    """Pids of the processes whose (ppid, session) match."""
    pids = set()
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # after the command name: state, ppid, pgrp, session, ...
        if match(int(fields[1]), int(fields[3])):
            pids.add(int(name))
    return pids


def _signal_all(pids, sig) -> None:
    for pid in pids:
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


if __name__ == "__main__":
    sys.exit(main())
