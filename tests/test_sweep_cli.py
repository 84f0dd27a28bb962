"""tools/sweep.py's targeted mode checks its query names against the
registry before it starts a Spark session."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_sweep_rejects_unknown_names_before_spark(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "sweep.py"),
         "no_such_query", "recommend"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode == 2
    assert "unknown queries: ['no_such_query']" in proc.stderr
    valid = proc.stderr.split("valid: ", 1)[1]
    assert "'recommend'" in valid and "'no_such_query'" not in valid
    assert "entry:" not in proc.stdout          # no session, no smoke
