"""tools/check_parity.py parses its arguments before it starts Spark:
``--help`` prints usage and an unknown query name is rejected, both
without a session. The subprocesses run with JAVA_HOME pointing
nowhere, so any attempt to start the JVM would fail the run."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOL = os.path.join(REPO, "tools", "check_parity.py")


def _run(*args: str) -> subprocess.CompletedProcess:
    env = {**os.environ, "JAVA_HOME": "/nonexistent-java-home"}
    return subprocess.run(
        [sys.executable, TOOL, *args], capture_output=True, text=True, env=env, timeout=120
    )


def test_help_prints_usage_without_a_session():
    r = _run("--help")
    assert r.returncode == 0, r.stderr
    assert r.stdout.startswith("usage: check_parity.py")
    assert "--sf DIR" in r.stdout and "--all" in r.stdout


def test_unknown_names_are_rejected_before_a_session():
    r = _run("--sf", "/nonexistent-sf-dir", "dsir_importance_weights", "no_such_query")
    assert r.returncode == 2
    assert "unknown queries: no_such_query" in r.stderr
    assert "dsir_importance_weights" not in r.stderr.split("unknown queries:")[1]


def test_names_and_all_are_exclusive_and_one_is_required():
    assert _run("--all", "dsir_importance_weights").returncode == 2
    r = _run()
    assert r.returncode == 2
    assert "name at least one query" in r.stderr
