"""Building a query's plan runs no more Spark jobs than ``build_jobs.json``
records for it at sf0.001.

A build that runs jobs (an eager checkpoint, a driver collect, a schema
inference) does work before the query's first action, outside the time a
caller measures as execution. The committed counts are a ceiling: a
change that adds a build job fails here, one that removes jobs lowers the
ceiling by rewriting the file:

    python -m tests.test_build_jobs      # from the repository root

The sweep over the whole registry takes about three minutes on 4 cores.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

from cupertino_nvr_spark.plans import REGISTRY
from tests.conftest import SF_SMOKE
from tests.job_count import jobs_run

BUILD_JOBS = Path(__file__).with_name("build_jobs.json")


def build_jobs(spark, name: str) -> int:
    """Spark jobs run while ``name``'s DataFrame is built at sf0.001."""
    return jobs_run(spark, lambda: REGISTRY[name].spark(spark, SF_SMOKE))[1]


def _recorded() -> dict[str, int]:
    return json.loads(BUILD_JOBS.read_text())


def test_every_query_has_a_recorded_count():
    assert set(_recorded()) == set(REGISTRY)


@pytest.mark.parametrize("name", list(REGISTRY))
def test_build_runs_no_more_jobs_than_recorded(spark, name):
    assert build_jobs(spark, name) <= _recorded()[name]


if __name__ == "__main__":
    from cupertino_nvr_spark.session import get_spark

    spark = get_spark("build_jobs")
    spark.sparkContext.setLogLevel("ERROR")
    counts = {name: build_jobs(spark, name) for name in REGISTRY}
    BUILD_JOBS.write_text(json.dumps(counts, indent=1) + "\n")
    print(f"{len(counts)} queries, {sum(counts.values())} build jobs", file=sys.stderr)
