"""run.py's process teardown: a grandchild orphaned by its parent's exit
is adopted and waited for, so no process outlives a run."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent

SCRIPT = """
import os, subprocess, sys
sys.path.insert(0, sys.argv[1])
import run
run.adopt_orphans()
# the shell exits at once and leaves its background sleep orphaned
out = subprocess.run(["sh", "-c", "sleep 60 >/dev/null 2>&1 & echo $!"], capture_output=True, text=True)
orphan = int(out.stdout)
assert run.children() == [orphan], run.children()
run.reap_children(grace_s=0.2)
assert run.children() == []
assert not os.path.exists(f"/proc/{orphan}")
print("ok")
"""


def test_orphaned_grandchild_is_reaped():
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT, str(HERE)], capture_output=True, text=True, timeout=30
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"
