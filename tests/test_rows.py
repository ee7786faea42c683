"""The shared per-row stage (operators/_rows.py): its batch function on
hand-built pandas batches under each error policy (no Spark needed),
its on_error validation, and a source guard that keeps the per-row walk
in that one helper."""

from __future__ import annotations

import pathlib

import pandas as pd
import pytest
from pyspark.sql import types as T

from org_dharts_dia_tesseract_spark.operators import _rows

SCHEMA = T.StructType([
    T.StructField("ref", T.StringType(), False),
    T.StructField("part", T.IntegerType(), False),
    T.StructField("blob", T.BinaryType(), False),
])

BATCHES = [pd.DataFrame({"ref": ["a", "bad", "c"], "n": [2, 2, 1]}),
           pd.DataFrame({"ref": [], "n": []}),
           pd.DataFrame({"ref": ["d"], "n": [1]})]


def per_row(r):
    """1:N rows; 'bad' fails after its first row was produced."""
    for i in range(r.n):
        if r.ref == "bad" and i == 1:
            raise ValueError("corrupt payload")
        yield r.ref, i, r.ref.encode()


def error_rows(r, e):
    yield r.ref, -1, f"{type(e).__name__}: {e}".encode()


def run(on_error, errors=None):
    return list(_rows.batch_fn(SCHEMA, per_row, on_error, errors)(
        iter(BATCHES)))


def test_fail_reraises():
    with pytest.raises(ValueError, match="corrupt payload"):
        run("fail")


def test_dead_letter_replaces_the_rows_whole_output():
    frames = run("dead-letter", error_rows)
    assert len(frames) == len(BATCHES)         # one frame per batch
    assert list(frames[0].itertuples(index=False, name=None)) == [
        ("a", 0, b"a"), ("a", 1, b"a"),
        ("bad", -1, b"ValueError: corrupt payload"),   # no partial row
        ("c", 0, b"c")]
    assert list(frames[1].columns) == ["ref", "part", "blob"]
    assert frames[1].empty
    assert frames[2].values.tolist() == [["d", 0, b"d"]]


def test_drop_marks_failed_rows_with_typed_blanks():
    frames = run("drop")
    assert list(frames[0].columns) == ["ref", "part", "blob", "__err"]
    assert list(frames[0].itertuples(index=False, name=None)) == [
        ("a", 0, b"a", 0), ("a", 1, b"a", 0),
        ("", 0, b"", 1),
        ("c", 0, b"c", 0)]
    assert frames[1].empty and len(frames[1].columns) == 4
    assert frames[2].values.tolist() == [["d", 0, b"d", 0]]


@pytest.mark.parametrize("on_error, errors", [
    ("dead-letter", None),       # no error_rows: the vocabulary is fail|drop
    ("drop", error_rows),        # error_rows: the vocabulary is fail|dead-letter
    ("ignore", None)])
def test_map_rows_rejects_policies_outside_the_vocabulary(on_error, errors):
    with pytest.raises(ValueError, match="on_error must be one of"):
        _rows.map_rows(None, SCHEMA, per_row, on_error, errors)


def test_per_row_walk_lives_only_in_the_helper():
    """Operators supply per_row generators; none grows its own batch
    loop back."""
    ops = pathlib.Path(_rows.__file__).parent
    hits = {p.name: p.read_text().count("itertuples")
            for p in sorted(ops.glob("*.py"))}
    assert {k: v for k, v in hits.items() if v} == {"_rows.py": 1}
