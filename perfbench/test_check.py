"""The output check must catch a single wrong cell.

Run with ``python -m pytest perfbench/test_check.py`` from the repository
root; needs no Spark session.
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.check import compare, digest, sql_hash, usable_digests  # noqa: E402

COLS = ["k", "amount", "label"]
ROWS = [(1, 10.5, "a"), (2, 0.1 + 0.2, "b"), (3, None, "c")]


def test_identical_rows_in_any_order_pass():
    assert compare("q01", COLS, ROWS, COLS[::-1], [r[::-1] for r in ROWS[::-1]]) is None


def test_one_cell_perturbation_fails():
    for i, row in enumerate(ROWS):
        for j in range(len(row)):
            bad = list(ROWS)
            cell = row[j]
            if isinstance(cell, float):
                cell = math.nextafter(cell, math.inf)  # one ulp off
            elif cell is None:
                cell = 0
            else:
                cell = f"{cell}x"
            bad[i] = row[:j] + (cell,) + row[j + 1:]
            assert compare("q01", COLS, bad, COLS, ROWS) is not None, (i, j)


def test_missing_row_and_renamed_column_fail():
    assert compare("q01", COLS, ROWS[:2], COLS, ROWS) is not None
    assert compare("q01", ["k", "amount", "name"], ROWS, COLS, ROWS) is not None


def test_q60_tolerance_is_two_ulps_only():
    key = "q60_grouped_correlation"
    x = 0.123456789
    two = math.nextafter(math.nextafter(x, 1), 1)
    three = math.nextafter(two, 1)
    assert compare(key, ["r"], [(two,)], ["r"], [(x,)]) is None
    assert compare(key, ["r"], [(three,)], ["r"], [(x,)]) is not None
    assert compare("q01", ["r"], [(two,)], ["r"], [(x,)]) is not None


def test_digest_is_order_insensitive_and_catches_one_cell():
    base = digest(COLS, ROWS)
    assert digest(COLS[::-1], [r[::-1] for r in ROWS[::-1]]) == base
    bad = [ROWS[0], (2, math.nextafter(ROWS[1][1], math.inf), "b"), ROWS[2]]
    assert digest(COLS, bad) != base


def test_digest_is_dropped_when_inputs_or_twin_sql_change():
    sql = {"qd37": "SELECT 1", "qd66": "SELECT 2"}
    doc = {"inputs_sha256": "abc", "twins": {
        k: {"rows": 1, "sha256": "x", "sql_sha256": sql_hash(v)} for k, v in sql.items()}}
    assert set(usable_digests(doc, "abc", sql)) == {"qd37", "qd66"}
    assert usable_digests(doc, "other inputs", sql) == {}
    edited = {**sql, "qd66": "SELECT 2 + 0"}
    assert set(usable_digests(doc, "abc", edited)) == {"qd37"}
