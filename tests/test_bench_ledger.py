"""bench.py's scaling-ledger admission rule: one predicate, shared by
the ledger median and the BENCH.md summary, that never admits a row
without a measured capacity."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def test_admitted_predicate():
    assert bench._admitted(bench.CAPACITY_MIN)
    assert not bench._admitted(bench.CAPACITY_MIN - 0.1)
    assert not bench._admitted(None)


def test_ledger_admitted_skips_null_capacity(monkeypatch):
    pair = ["local[2]", "local[8]"]
    base = {"pair": pair, "efficiency": 0.9, "scale_docs": bench.SCALE_DOCS}
    rows = [{**base, "capacity": None},
            {**base, "capacity": bench.CAPACITY_MIN},
            {**base, "capacity": bench.CAPACITY_MIN - 1}]
    monkeypatch.setattr(bench, "_ledger_rows", lambda: rows)
    assert bench._ledger_admitted(pair) == [rows[1]]
