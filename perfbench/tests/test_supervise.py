"""The supervisor leaves no process behind: not a background child, not one
in a process group of its own (as Spark's Python worker daemon makes), not
one that left the session after its parent exited, and not one shaped like
a JVM that is shutting down (main thread exited, another thread still
running, an exited child it never reaped, as Spark's launcher leaves)."""

from __future__ import annotations

import os
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ESCAPER = """
import os, time
if os.fork():
    os._exit(0)
os.setsid()
print(os.getpid(), flush=True)
time.sleep(60)
"""

JVM_LIKE = """
import ctypes, os, threading, time
child = os.fork()
if child == 0:
    os._exit(0)
print(os.getpid(), child, flush=True)
threading.Thread(target=lambda: (time.sleep(1.5), os._exit(0))).start()
ctypes.CDLL(None).pthread_exit(None)  # the main thread ends, the process lives on
"""

LEAKY = """
import subprocess, sys
pids = [subprocess.Popen(["sleep", "60"]).pid,
        subprocess.Popen(["sleep", "60"], process_group=0).pid]
for script in sys.argv[2:]:
    p = subprocess.Popen([sys.executable, "-c", script], stdout=subprocess.PIPE, text=True)
    pids += p.stdout.readline().split()
with open(sys.argv[1], "w") as fh:
    fh.write(" ".join(map(str, pids)))
print("result line")
sys.exit(3)
"""


def test_nothing_outlives_the_command(tmp_path):
    pids_file = str(tmp_path / "pids")
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "supervise.py"),
         sys.executable, "-c", LEAKY, pids_file, ESCAPER, JVM_LIKE],
        capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 3, out.stderr
    assert out.stdout.splitlines()[-1] == "result line"
    with open(pids_file) as fh:
        pids = [int(p) for p in fh.read().split()]
    assert len(pids) == 5
    # gone, and reaped rather than left to init
    assert not [p for p in pids if os.path.exists(f"/proc/{p}")]
