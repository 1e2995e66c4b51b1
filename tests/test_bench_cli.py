"""``bench.py``'s command line: it takes no options, so ``--help`` prints
the usage and an unknown flag is an error — both before Spark starts.

The subprocesses run with ``JAVA_HOME`` pointing nowhere: starting a JVM
would fail, so an exit code of 0 from ``--help`` shows that none was
started.
"""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parents[1] / "bench.py"


def _run(*args: str) -> subprocess.CompletedProcess:
    env = dict(os.environ, JAVA_HOME="/nonexistent-java-home")
    return subprocess.run(
        [sys.executable, str(BENCH), *args],
        capture_output=True,
        text=True,
        timeout=60,
        env=env,
    )


def test_help_prints_usage_without_starting_spark():
    out = _run("--help")
    assert out.returncode == 0, out.stderr
    assert out.stdout.startswith("usage: bench.py")
    assert "Benchmark harness: runs EVERY registered gate query" in out.stdout
    assert "jdi-spark-bench" not in out.stdout + out.stderr


def test_unknown_flag_is_an_error():
    out = _run("--bogus")
    assert out.returncode == 2
    assert "unrecognized arguments: --bogus" in out.stderr
