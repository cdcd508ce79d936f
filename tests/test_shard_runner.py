"""The sharded test run (``tests/conftest.py``) fails whenever any
shard failed, including a shard killed by a signal (negative return
code) beside green ones; it and ``get_spark`` size local Spark from the
machine's cores unless ``SPARK_GRAFT_CPUS`` says otherwise."""

from __future__ import annotations

import os

import pytest

from hive_2_3_2_spark.session import default_parallelism
from tests.conftest import _shard_exit_code


@pytest.mark.parametrize(
    "rcs, code",
    [
        ({1: 0, 2: 0}, 0),
        ({1: 0, 2: -9}, 1),
        ({1: -15}, 1),
        ({1: 0, 2: 1, 3: -9}, 1),
        ({1: 2, 2: -9}, 2),
        ({1: 0, 2: 5}, 5),
        ({}, 1),
    ],
    ids=["green", "killed", "terminated", "failed", "interrupted",
         "no_tests", "no_shards"],
)
def test_shard_exit_code(rcs, code):
    assert _shard_exit_code(rcs) == code


def test_default_parallelism_is_the_machines_cores(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_parallelism() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_parallelism() == 3
