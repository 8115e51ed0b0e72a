"""Tests of the benchmark's output check (no Spark needed):

    python3 -m pytest perfbench/test_check.py -q
"""

import decimal
import os
import sys

import pyarrow as pa
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from workloads import canonical, same  # noqa: E402

EXPECTED = canonical(pa.table({
    "k": pa.array([1, 2, 3], pa.int64()),
    "spend": [1234.5, 100.0, 366455.44],   # a round-2 column
    "s": ["a", "b", "c"]}))
BASE = {"k": pa.array([1, 2, 3], pa.int32()), "spend": [1234.5, 100.0, 366455.44],
        "s": ["a", "b", "c"]}


@pytest.mark.parametrize("change, ok", [
    ({}, True),                                              # int32 vs int64: one class
    ({"spend": [1234.5, 100.0, 366455.45]}, True),           # exact-half rounding
    ({"spend": [1234.5, 100.09, 366455.44]}, False),
    ({"spend": [1234.6, 100.0, 366455.44]}, False),          # 0.1 off a round-2 value
    ({"spend": [1234.5, 100.0, 366455.46]}, False),
    ({"spend": [1234.5, 100.0, 366455.445]}, False),         # not rounded
    ({"k": [1.0, 2.0, 3.0]}, False),                         # integer became double
    ({"k": pa.array([decimal.Decimal(i) for i in (1, 2, 3)], pa.decimal128(38, 0))}, False),
    ({"s": ["a", "b", "d"]}, False),
])
def test_same(change, ok):
    assert same(pa.table({**BASE, **change}), EXPECTED) is ok


def test_row_order_is_ignored():
    shuffled = pa.table({"k": pa.array([3, 1, 2], pa.int64()),
                         "spend": [366455.44, 1234.5, 100.0], "s": ["c", "a", "b"]})
    assert same(shuffled, EXPECTED)


def test_unrounded_doubles_agree_to_nine_decimals():
    expected = canonical(pa.table({"x": [0.1 + 0.2]}))
    assert same(pa.table({"x": [0.3]}), expected)
    assert not same(pa.table({"x": [0.3 + 1e-7]}), expected)


def test_decimal_and_string_are_different_classes():
    def dec(precision):
        return pa.table({"d": pa.array([decimal.Decimal("1.50")], pa.decimal128(precision, 2))})

    expected = canonical(dec(10))
    assert same(dec(12), expected)
    assert not same(pa.table({"d": ["1.50"]}), expected)
