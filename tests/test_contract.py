"""Structural gates on the driver contract registry — no Spark session.

The driver verifies only the FIRST 50 ``queries()`` entries; round 3
silently dropped four previously hash-green queries past that window
(VERDICT r3 "What's wrong" #5).  These tests make that class of
regression impossible to ship quietly.
"""

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from tools.check_contract import (  # noqa: E402
    DRIVER_WINDOW,
    check_registry,
    norm_cell,
)


def test_every_oracle_backed_query_inside_driver_window():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert check_registry(qs, oracles) == []


def test_oracles_reference_registered_queries_only():
    qs = entrymod.queries()
    missing = [o for o in entrymod.oracle_sql() if o not in qs]
    assert missing == []


def test_registry_is_oracle_prefix_then_rows_only():
    qs = list(entrymod.queries())
    oracles = entrymod.oracle_sql()
    flags = [n in oracles for n in qs]
    # monotone: once rows-only starts, no oracle-backed follows
    assert flags == sorted(flags, reverse=True)
    assert sum(flags) <= DRIVER_WINDOW


def test_norm_cell_distinguishes_int_from_float():
    # the three-rounds-red doc_token_stats root cause: HUGEINT ->
    # pandas float64 must NOT hash equal to int64
    assert norm_cell(3549) != norm_cell(3549.0)


def test_norm_cell_nan_is_not_null():
    # ADVICE r4: a genuine NaN metric must not hash equal to SQL NULL
    # in object columns; float columns conflate the two identically on
    # both fetch paths, so the distinct token is strictly safer
    assert norm_cell(float("nan")) == "NaN"
    assert norm_cell(None) == "NULL"


def test_norm_cell_rejects_non_scalars():
    import pytest

    with pytest.raises(TypeError):
        norm_cell([1, 2, 3])
