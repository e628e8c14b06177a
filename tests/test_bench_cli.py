"""bench.py's CLI contracts that need no Spark session."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parents[1] / "bench.py"


def test_headline_names_are_registered():
    import bench
    from gfwspark import queries

    assert set(bench.HEADLINE) <= set(queries.all_queries())


def test_scaling_refuses_fewer_than_four_cpus():
    env = dict(os.environ, SPARK_GRAFT_CPUS="2")
    out = subprocess.run(
        [sys.executable, str(BENCH), "--scaling"],
        capture_output=True, text=True, env=env, timeout=60,
    )
    assert out.returncode != 0
    assert "at least 4 CPUs" in out.stderr
