from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from bucketizers_spark.plans.session import get_spark

    s = get_spark("bucketizers-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture()
def jobs_of(spark):
    """``jobs_of(fn)`` runs ``fn`` in a fresh job group and returns its
    result with the number of Spark jobs it started."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"t_jobs_{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
