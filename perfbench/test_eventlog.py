"""Tests of the event-log parser and span arithmetic on a small recorded log.

    python3 -m pytest perfbench/test_eventlog.py -q
    python3 perfbench/test_eventlog.py

``testdata/`` comes from ``record_fixture.py``: spans ``op`` > ``agg``
(a groupBy count, so a shuffle) and ``op`` > ``udf`` (a pandas UDF over
2,000 rows), in a rolling log of two parts.
"""

from __future__ import annotations

import json
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import eventlog  # noqa: E402

LOG = HERE / "testdata" / "eventlog"
SPANS = json.loads((HERE / "testdata" / "spans.json").read_text())


def _raw_task_ends():
    for part in sorted((LOG / "eventlog_v2_local-0").iterdir()):
        for line in part.read_text().splitlines():
            e = json.loads(line)
            if e["Event"] == "SparkListenerTaskEnd":
                yield e


class EventFiles(unittest.TestCase):
    def test_rolling_parts_in_numeric_order(self):
        with tempfile.TemporaryDirectory() as d:
            app = Path(d) / "eventlog_v2_app"
            app.mkdir()
            for n in (10, 2, 1):
                (app / f"events_{n}_app").write_text("")
            (app / "appstatus_app").write_text("")
            names = [p.name for p in eventlog.event_files(Path(d))]
        self.assertEqual(names, ["events_1_app", "events_2_app", "events_10_app"])

    def test_reads_both_parts(self):
        files = eventlog.event_files(LOG)
        self.assertEqual([f.name for f in files], ["events_1_local-0", "events_2_local-0"])
        n = sum(1 for _ in eventlog.read_events(LOG))
        lines = sum(len(f.read_text().splitlines()) for f in files)
        self.assertEqual(n, lines)


class Attribution(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.log = eventlog.load(LOG)
        cls.sums = eventlog.span_sums(cls.log, SPANS)
        cls.by_name = {s["name"]: s["id"] for s in SPANS}

    def test_every_task_in_a_span(self):
        groups = {t.group for t in self.log.tasks}
        spans = {eventlog.span_of_group(g) for g in groups}
        self.assertEqual(spans, {self.by_name["agg"], self.by_name["udf"]})
        self.assertTrue(all(t.job is not None for t in self.log.tasks))

    def test_inclusive_sums_match_raw_task_metrics(self):
        raw = list(_raw_task_ends())
        op = self.sums[self.by_name["op"]]
        self.assertEqual(op["tasks"], len(raw))
        run = sum(e["Task Metrics"]["Executor Run Time"] for e in raw) / 1e3
        self.assertAlmostEqual(op["executor_run_s"], run)
        agg, udf = self.sums[self.by_name["agg"]], self.sums[self.by_name["udf"]]
        self.assertAlmostEqual(agg["executor_run_s"] + udf["executor_run_s"], run)
        self.assertEqual(sorted(agg["jobs"] + udf["jobs"]), op["jobs"])
        self.assertEqual(agg["stages"] + udf["stages"], op["stages"])

    def test_layer_signatures(self):
        agg, udf = self.sums[self.by_name["agg"]], self.sums[self.by_name["udf"]]
        self.assertGreater(agg["shuffle_write_bytes"], 0)
        self.assertEqual(agg["python_bytes_sent"], 0)
        self.assertGreater(udf["python_bytes_sent"], 0)
        self.assertGreater(udf["python_worker_s"], 0)

    def test_call_sites_kept(self):
        sites = {j.call_site for j in self.log.jobs.values()}
        self.assertTrue(all(s and s.startswith("collect at ") for s in sites), sites)

    def test_udf_rows_through_plan_metrics(self):
        ids = self.log.plan_metrics["ArrowEvalPython"]["number of output rows"]
        udf = self.by_name["udf"]
        tasks = [t for t in self.log.tasks if eventlog.span_of_group(t.group) == udf]
        self.assertEqual(eventlog.accum_sum(tasks, ids), 2000)


class SpanTime(unittest.TestCase):
    SPANS = [
        {"id": 0, "name": "op", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "a", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "b", "parent": 0, "start": 3.0, "end": 5.0},
        {"id": 3, "name": "c", "parent": 1, "start": 1.5, "end": 2.0},
        {"id": 4, "name": "d", "parent": 0, "start": 9.0, "end": 12.0},
    ]

    def test_self_time_subtracts_union_of_children(self):
        # children cover [1, 5] and [9, 10] of [0, 10]
        self.assertAlmostEqual(eventlog.self_time(self.SPANS, 0), 5.0)
        self.assertAlmostEqual(eventlog.self_time(self.SPANS, 1), 2.5)
        self.assertAlmostEqual(eventlog.self_time(self.SPANS, 3), 0.5)

    def test_descendants(self):
        d = eventlog.descendants(self.SPANS)
        self.assertEqual(d[0], {0, 1, 2, 3, 4})
        self.assertEqual(d[1], {1, 3})

    def test_uncovered(self):
        self.assertAlmostEqual(eventlog.uncovered_s(0, 10, []), 10)
        self.assertAlmostEqual(eventlog.uncovered_s(0, 10, [(2, 3), (2.5, 4), (-1, 1)]), 7)


if __name__ == "__main__":
    unittest.main()
