"""bench.py's teardown watchdog: a teardown that outlives it ends the
process nonzero with a stderr marker, never as a clean exit."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(code: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-c", f"import bench, time; {code}"],
        capture_output=True, text=True, timeout=25, cwd=REPO,
    )


def test_teardown_watchdog_exits_nonzero_with_marker():
    p = _run("bench.teardown_watchdog(0.2); time.sleep(30)")
    assert p.returncode == 3
    assert "bench: FORCED_EXIT" in p.stderr


def test_teardown_watchdog_leaves_clean_exit_alone():
    p = _run("bench.teardown_watchdog(30.0); print('done')")
    assert p.returncode == 0 and p.stdout.strip() == "done"
    assert "FORCED_EXIT" not in p.stderr
