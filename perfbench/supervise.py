"""Run a command so that no process it starts outlives it.

The command runs as a child in a session of its own. When it exits, or
when this process is interrupted or terminated, every process still in
that session (the Spark JVM, its Python worker daemon and the daemon's
forks, the stream generator) is sent SIGTERM, then SIGKILL after a grace
period, and this process waits until each has ended. It is also the
child subreaper of its descendants (Linux ``PR_SET_CHILD_SUBREAPER``), so a
descendant whose parent exits is reparented here, ended and reaped even if
it left the session.

    python3 perfbench/supervise.py <command> [<arg> ...]
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import sys
import time

PR_SET_CHILD_SUBREAPER = 36
GRACE_S = 10.0  # SIGTERM to SIGKILL
POLL_S = 0.05


def _become_subreaper() -> None:
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass  # not Linux: the session sweep still ends the session


def _stat(pid: str) -> tuple[str, int, int] | None:
    """(state, ppid, session id) of a process, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses; fields follow the last ')'
    fields = stat[stat.rfind(")") + 2 :].split()
    return fields[0], int(fields[1]), int(fields[3])


def leftovers(sid: int) -> list[int]:
    """Processes in session ``sid`` and children of this process, including
    those that show as exited: a process whose main thread has exited shows
    so while its other threads still run (the JVM does, as it shuts down),
    and an exited process stays until its parent reaps it (Spark's launcher
    leaves one under the JVM, which comes here when the JVM ends)."""
    me, out = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == me:
            continue
        st = _stat(name)
        if st is not None and (st[1] == me or st[2] == sid):
            out.append(int(name))
    return out


def _reap() -> None:
    """Collect every child of this process that has exited."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_session(sid: int, grace_s: float = GRACE_S) -> None:
    """SIGTERM every leftover of session ``sid``, SIGKILL those still there
    after ``grace_s``, and return once none is left (or, should an exited
    process have a parent out of reach, after twice ``grace_s`` more)."""
    t0 = time.monotonic()
    sig, deadline, signalled = signal.SIGTERM, t0 + grace_s, set()
    while True:
        _reap()
        pids = leftovers(sid)
        if not pids or time.monotonic() > t0 + 3 * grace_s:
            return
        if sig == signal.SIGTERM and time.monotonic() > deadline:
            sig, signalled = signal.SIGKILL, set()
        for pid in pids:
            if pid not in signalled:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
                signalled.add(pid)
        time.sleep(POLL_S)


def _raise_exit(signum, _frame):
    raise SystemExit(128 + signum)


def run(cmd: list[str], env: dict | None = None) -> int:
    """Run ``cmd`` to its end, end everything it left behind, and return
    its exit code."""
    _become_subreaper()
    for s in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(s, _raise_exit)
    child = subprocess.Popen(cmd, env=env, start_new_session=True)
    try:
        return child.wait()
    finally:
        for s in (signal.SIGTERM, signal.SIGHUP):
            signal.signal(s, signal.SIG_IGN)  # finish the sweep once begun
        end_session(child.pid)
        child.wait()


if __name__ == "__main__":
    sys.exit(run(sys.argv[1:]))
