"""The sharded test run (``tests/conftest.py``) fails whenever any
shard failed, including a shard killed by a signal (negative return
code) beside green ones."""

from __future__ import annotations

import pytest

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
