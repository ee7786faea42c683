"""Committed gate expectations that are shared by construction
(tests/expected/): every span-over-media gate must reproduce the raw
run's spans, and each drop-policy / indexed gate its clean / unindexed
sibling. scripts/gen_expected.py writes one table for each group, so
these pins catch a regeneration or hand edit that splits them.
Spark-free: the parquets are read with pyarrow only."""

from __future__ import annotations

import os
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402


def _expected(name: str):
    return pq.read_table(os.path.join(entry._EXPECTED_DIR, f"{name}.parquet"))


@pytest.mark.parametrize("name", sorted(entry._MEDIA_SPAN_GATES))
def test_media_span_gate_is_raw_run_slice(name):
    raw = _expected("ocr_extract_spans")
    cut = f"doc-{entry._MEDIA_DOC_CAP:08d}"
    assert _expected(name).equals(raw.filter(pc.less(raw["doc_id"], cut)))


@pytest.mark.parametrize("clean, alias", [
    ("audio_features", "audio_features_drop_policy"),
    ("video_frame_features", "video_frame_features_drop_policy"),
    ("semdedup_kept", "semdedup_indexed"),
])
def test_shared_expectation(clean, alias):
    assert _expected(alias).equals(_expected(clean))
