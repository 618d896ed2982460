"""Shared pytest fixtures: one SparkSession per test run."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from ciff_spark import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ciff-spark-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def no_leaked_spark_state(request):
    """Fail a Spark test that leaves new persisted RDDs, an active streaming
    query or a changed session SQL conf behind: a leak slows and skews every
    later test in the session. Materialized local checkpoints are exempt:
    the dedup operators return frames backed by one
    (``dedup._materialize_unpersist``), so the caller owns it. The leftovers
    are released and the conf restored, so one leak fails one test."""
    if "spark" not in request.fixturenames:
        yield
        return
    s = request.getfixturevalue("spark")

    def persisted():
        return set(s.sparkContext._jsc.getPersistentRDDs().keySet())

    before, conf = persisted(), dict(s.conf.getAll)
    yield
    problems = []
    now = dict(s.conf.getAll)
    for k in sorted(set(conf) | set(now)):
        if conf.get(k) != now.get(k):
            problems.append(f"SQL conf {k}: {conf.get(k)} -> {now.get(k)}")
            if k in conf:
                s.conf.set(k, conf[k])
            else:
                s.conf.unset(k)
    rdds = s.sparkContext._jsc.getPersistentRDDs()
    for i in sorted(persisted() - before):
        rdd = rdds.get(i)
        if rdd is not None and not rdd.rdd().isCheckpointed():
            problems.append(f"persisted RDD {i}: {rdd.toDebugString().splitlines()[0]}")
            rdd.unpersist(False)
    for q in s.streams.active:
        problems.append(f"active streaming query {q.name or q.id}")
        q.stop()
    if problems:
        pytest.fail("test left Spark state behind:\n" + "\n".join(problems))
