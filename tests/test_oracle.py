"""The oracle comparator is the driver's exact hash compare: no
rounding, no float folding, order-insensitive over rows and columns."""

from __future__ import annotations

import hashlib

import pytest

from .oracle import canonical_rows, diff


@pytest.mark.parametrize("a, b", [(0.30000000000000004, 0.3), (-0.0, 0.0)])
def test_float_noise_and_signed_zero_are_mismatches(a, b):
    d = diff(["x"], [(a,)], ["x"], [(b,)])
    assert d.startswith("canonical row 0"), d
    assert repr(a) in d and repr(b) in d


def test_row_and_column_order_do_not_matter():
    a_rows = [(1, "p", 2.5), (2, "q", None)]
    b_rows = [(None, 2, "q"), (2.5, 1, "p")]
    assert diff(["k", "s", "v"], a_rows, ["v", "k", "s"], b_rows) == ""


@pytest.mark.parametrize(
    "a, b, same",
    [
        (float("nan"), float("nan"), True),
        (None, None, True),
        (float("nan"), None, False),
        (None, "None", False),
        (float("nan"), "nan", False),
    ],
)
def test_nan_and_none_follow_repr(a, b, same):
    assert (diff(["x"], [(a,)], ["x"], [(b,)]) == "") is same


def test_column_set_and_row_count_are_reported():
    assert "only in a=['y']" in diff(["x", "y"], [], ["x", "z"], [])
    assert "row count a=2 b=1" in diff(["x"], [(1,), (1,)], ["x"], [(1,)])


def test_canonical_rows_hash_is_the_driver_hash():
    cols = ["b", "a", "c"]
    rows = [(2.5, "x", None), (-0.0, "y", float("nan")), (1, "x", 7)]

    # the driver's formula, verbatim
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    driver = hashlib.md5(
        repr(sorted(tuple(repr(r[i]) for i in order) for r in rows)).encode()
    ).hexdigest()

    ours = hashlib.md5(repr(canonical_rows(cols, rows)).encode()).hexdigest()
    assert ours == driver
