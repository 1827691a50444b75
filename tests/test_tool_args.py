"""The checking tools fail on a query name that is not registered: a
misspelt name must not turn a filtered check into a green no-op."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("tool", ["check_oracle.py", "plan_audit.py"])
def test_unknown_query_name_fails_before_spark_starts(tool, sf_dir):
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", tool),
            sf_dir,
            "dedup_minhash_lsh",
            "no_such_query_xyz",
        ],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 2
    assert "no_such_query_xyz" in proc.stderr
    assert "dedup_minhash_lsh" not in proc.stderr
    # the check runs before any Spark session starts: nothing was checked
    assert "log4j" not in proc.stderr
    assert "all checks passed" not in proc.stdout
    assert "plan audit clean" not in proc.stdout
