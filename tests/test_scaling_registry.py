"""Smoke test for the scaling harness's job registry (tools/scaling.py).

Every registry job runs in this session on a tiny synthesized input at 1
and at 4 shuffle partitions and must give the same checksum: the
parallelism invariance the harness asserts between N and 4N executors at
full size."""

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import scaling  # noqa: E402

TINY = 5000
# kNN widens its ring until every query has k neighbours, so a denser
# table needs fewer rounds; a document costs more than a point
TINY_N = {"knn": 100_000, "join": 2000, "extract": 2000}


@pytest.fixture(scope="module")
def cache(tmp_path_factory):
    return str(tmp_path_factory.mktemp("scaling_inputs"))


@pytest.mark.parametrize("name", list(scaling.JOBS))
def test_job_checksum_is_parallelism_invariant(spark, cache, name):
    job = scaling.JOBS[name]
    inputs = job.synth(spark, TINY_N.get(name, TINY), cache)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    got = []
    try:
        for parts in (1, 4):
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            got.append(job.checksum(job.run(*inputs)))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert got[0] == got[1]
    assert got[0] and all(isinstance(v, int) for v in got[0])


def test_floors_are_registry_jobs():
    for name, job in scaling.JOBS.items():
        assert job.floor is None or scaling.JOBS[job.floor].floor is None, name
