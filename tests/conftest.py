from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from gfwspark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("gfwspark-tests", master="local[8]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture
def jobs_started(spark):
    """``jobs_started(build)`` -> (build()'s result, the number of Spark
    jobs it started), counted by a job group of its own once the
    listener bus has drained."""
    import uuid

    sc = spark.sparkContext

    def run(build):
        group = f"jobprobe-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "jobs started by one call")
        try:
            out = build()
        finally:
            for prop in ("spark.jobGroup.id", "spark.job.description",
                         "spark.job.interruptOnCancel"):
                sc.setLocalProperty(prop, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


def cut_short(monkeypatch, name, when, call):
    """Run ``call`` with ``os.<name>`` raising on the first target that
    ``when`` accepts (os.replace's destination, os.remove's path): a
    table commit cut short at that step."""
    import os

    real = getattr(os, name)

    def fake(p, *a, **kw):
        if when(str(a[0] if name == "replace" else p)):
            raise OSError(f"crash at os.{name}")
        return real(p, *a, **kw)

    monkeypatch.setattr(os, name, fake)
    with pytest.raises(OSError, match="crash"):
        call()
    monkeypatch.undo()


def file_stamps(path, suffix=""):
    """{file under path whose name ends with ``suffix``: (inode,
    mtime_ns)}: a file rewritten or replaced changes its stamp."""
    import os

    out = {}
    for d, _, files in os.walk(path):
        for name in files:
            if name.endswith(suffix):
                st = os.stat(os.path.join(d, name))
                out[os.path.join(d, name)] = (st.st_ino, st.st_mtime_ns)
    return out


def is_journal(target):
    """The commit journal's os.replace: a crash there is a crash before
    the journal."""
    return target.endswith("_journal.json")


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_MED}/{t}.parquet'"
        )
    yield con
    con.close()
