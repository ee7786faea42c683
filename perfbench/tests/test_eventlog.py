"""Event-log reader and stage classifier, on a small canned log.

The canned log is a trimmed real event log of one flagship run
(`extract_spans` over 40 documents, `local[4]`): two actions, job groups
`pass-1` (a noop write) and `pass-2` (a collect), plus two ungrouped
set-up jobs. Run with `python3 -m pytest perfbench/tests`.
"""

from __future__ import annotations

import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

from perfbench import eventlog  # noqa: E402

CANNED = os.path.join(HERE, "canned", "flagship_eventlog.jsonl")


def _lines():
    with open(CANNED, encoding="utf-8") as f:
        return f.readlines()


def _shift_stage_ids(lines, by: int) -> list[str]:
    """The same log with every stage id moved by `by`."""
    out = []
    for line in lines:
        ev = json.loads(line)
        if "Stage IDs" in ev:
            ev["Stage IDs"] = [s + by for s in ev["Stage IDs"]]
        if "Stage ID" in ev:
            ev["Stage ID"] += by
        if "Stage Info" in ev:
            ev["Stage Info"]["Stage ID"] += by
        out.append(json.dumps(ev))
    return out


class ClassifyTest(unittest.TestCase):
    def test_python_stage_wins_over_scan_and_exchange(self):
        self.assertEqual(eventlog.classify(
            {"Scan parquet ", "MapInPandas", "Exchange", "Union"}), "udf")

    def test_window_stage_reads_a_shuffle(self):
        self.assertEqual(eventlog.classify(
            {"AQEShuffleRead", "Window", "WholeStageCodegen (5)"}), "window")

    def test_broadcast_build_wins_over_its_scan(self):
        self.assertEqual(eventlog.classify(
            {"BroadcastExchange", "Scan parquet "}), "broadcast")

    def test_scan_exchange_and_other(self):
        self.assertEqual(eventlog.classify(
            {"Scan parquet ", "WholeStageCodegen (1)"}), "scan")
        self.assertEqual(eventlog.classify(
            {"Exchange", "WholeStageCodegen (2)"}), "exchange")
        self.assertEqual(eventlog.classify({"parallelize"}), "other")

    def test_window_in_pandas_is_a_udf_stage(self):
        self.assertEqual(eventlog.classify({"WindowInPandas"}), "udf")


class ParseTest(unittest.TestCase):
    def setUp(self):
        self.log = eventlog.parse(_lines())

    def test_jobs_carry_group_and_execution(self):
        groups = [j.group for j in sorted(self.log.jobs.values(),
                                          key=lambda j: j.job_id)]
        self.assertEqual(groups, [None, None] + ["pass-1"] * 3
                         + ["pass-2"] * 3)
        self.assertEqual({j.execution_id for j in self.log.jobs.values()
                          if j.group == "pass-1"}, {0})

    def test_each_action_has_one_stage_of_each_kind(self):
        for group in ("pass-1", "pass-2"):
            kinds = sorted(st.kind for st in self.log.stages.values()
                           if st.group == group)
            self.assertEqual(kinds, ["broadcast", "udf", "window"])

    def test_udf_stage_task_sums(self):
        udf = [st for st in self.log.stages.values()
               if st.group == "pass-1" and st.kind == "udf"][0]
        self.assertEqual(len(udf.task_run_ms), 5)
        self.assertEqual(sum(udf.task_run_ms), 16345)
        self.assertEqual(udf.shuffle_write_bytes, 19683)
        self.assertEqual(udf.python["python_start_ms"], 7305)
        self.assertEqual(udf.python["python_run_ms"], 13536)

    def test_blank_lines_are_skipped(self):
        log = eventlog.parse(["\n"] + _lines() + ["   \n"])
        self.assertEqual(len(log.stages), len(self.log.stages))


class SummaryTest(unittest.TestCase):
    START, END = 1792206335554.123, 1792206343508.54   # pass-1 call

    def summary(self, lines):
        return eventlog.action_summary(eventlog.parse(lines), "pass-1",
                                       self.START, self.END)

    def test_driver_timing(self):
        s = self.summary(_lines())
        self.assertEqual((s["jobs"], s["stages"]), (3, 3))
        # first job submitted at ...36972, last job ended at ...43460
        self.assertAlmostEqual(s["plan_s"], 1.417877, places=5)
        self.assertAlmostEqual(s["tail_s"], 0.04854, places=4)
        # job span 6488 ms minus stage-busy 712 + 4283 + 551 ms
        self.assertAlmostEqual(s["gap_s"], 0.942, places=6)

    def test_kind_totals(self):
        s = self.summary(_lines())
        udf, window = s["kinds"]["udf"], s["kinds"]["window"]
        self.assertAlmostEqual(udf["task_s"], 16.345)
        self.assertEqual(udf["tasks"], 5.0)
        self.assertGreaterEqual(udf["task_skew"], 1.0)
        self.assertAlmostEqual(window["task_s"], 0.423)
        self.assertEqual(s["all"]["shuffle_write_bytes"], 19683.0)

    def test_scan_bytes_come_from_the_driver_metric(self):
        s = self.summary(_lines())
        self.assertEqual(s["files_read_bytes"], 833321)

    def test_stage_ids_do_not_matter(self):
        a = self.summary(_lines())
        b = self.summary(_shift_stage_ids(_lines(), 100))
        self.assertEqual(a, b)

    def test_unknown_group_is_empty(self):
        s = eventlog.action_summary(eventlog.parse(_lines()), "nope",
                                    self.START, self.END)
        self.assertEqual((s["jobs"], s["stages"], s["kinds"]), (0, 0, {}))


if __name__ == "__main__":
    unittest.main()
