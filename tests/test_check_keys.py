"""scripts/check_keys.py compares result frames by column names taken
case-insensitively and rows as stringified values in one column order."""

from __future__ import annotations

import importlib.util
import os

import pandas as pd

_SPEC = importlib.util.spec_from_file_location(
    "check_keys",
    os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts", "check_keys.py"),
)
check_keys = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(check_keys)


def test_canonical_aligns_columns_that_differ_only_in_case():
    # Case-sensitive sorting orders these as (B, a) and (A, b): equal rows
    # would be compared column-swapped.
    spark_side = pd.DataFrame({"a": [1, 2], "B": ["x", "y"]})
    oracle_side = pd.DataFrame({"A": [2, 1], "b": ["y", "x"]})
    assert check_keys.canonical(spark_side) == check_keys.canonical(oracle_side)
    assert check_keys.canonical(spark_side) == (["a", "b"], ["['1', 'x']", "['2', 'y']"])


def test_canonical_still_tells_different_rows_apart():
    left = pd.DataFrame({"a": [1], "B": ["x"]})
    right = pd.DataFrame({"A": [1], "b": ["z"]})
    assert check_keys.canonical(left) != check_keys.canonical(right)
