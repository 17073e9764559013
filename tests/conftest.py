"""Shared fixtures: one SparkSession for the whole test run."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _test_cpus() -> int:
    """Local cores for the test session: SPARK_GRAFT_CPUS when set (the
    tier-1 command exports the box's nproc), else the CPUs this process
    may run on, so the session never asks for more cores than exist."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


@pytest.fixture(scope="session")
def spark():
    from timefusion_spark.session import get_spark

    s = get_spark("tf-tests", cpus=_test_cpus())
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
