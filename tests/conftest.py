from __future__ import annotations

import datetime as dt
import sys
import uuid
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from realtime_banking_cdc_pipeline_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    return get_spark("tests", shuffle_partitions=8)


@pytest.fixture
def jobs_run_by(spark):
    """``jobs_run_by(fn)`` calls ``fn()`` and returns its result with the
    number of Spark jobs it ran."""

    def run(fn):
        sc = spark.sparkContext
        group = f"count-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(autouse=True)
def _release_tracked_caches():
    """The host contract (bench.py, tools/driver_sim.py): bulk-release
    operator-persisted frames BETWEEN queries. Without this, frames a
    property test persisted leak into later tests through the
    CacheManager's canonical-plan matching and reshape the physical
    plans the plan-shape tests pin (observed: x_curation_plan's spine
    exchange count 4 -> 21 purely from stale caches)."""
    yield
    from realtime_banking_cdc_pipeline_spark.caching import release_caches

    release_caches()


@pytest.fixture(scope="session")
def banking_fixture():
    from realtime_banking_cdc_pipeline_spark.sources import fixtures

    return fixtures.generate()


@pytest.fixture(scope="session")
def fixture_frames(spark, banking_fixture):
    """Kafka-framed banking CDC fixture as a DataFrame."""
    from realtime_banking_cdc_pipeline_spark.schemas import KAFKA_FIXTURE_SCHEMA
    from realtime_banking_cdc_pipeline_spark.sources import fixtures

    rows = [
        (t, k, v, dt.datetime.fromtimestamp(ms / 1000, dt.timezone.utc).replace(tzinfo=None))
        for t, k, v, ms in fixtures.to_kafka_rows(banking_fixture)
    ]
    return spark.createDataFrame(rows, schema=KAFKA_FIXTURE_SCHEMA)
