import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "eventlog")


class EventLogTest(unittest.TestCase):
    """The committed fixture is a hand-written Spark event log with one
    10-block micro-batch (two merge jobs), one read and three cached-block
    updates, so every number below is known."""

    @classmethod
    def setUpClass(cls):
        cls.apps = eventlog.load(FIXTURE)

    def test_batch_progress_and_counters(self):
        [b] = eventlog.streaming_batches(self.apps)
        self.assertEqual((b["start_offset"], b["end_offset"], b["blocks"]), (None, "1009", 10))
        self.assertEqual(b["trigger_ms"], 1500)
        self.assertEqual(b["planning_ms"], 20)
        self.assertEqual(b["offsets_ms"], 5 + 7 + 30 + 40)
        self.assertEqual(b["add_batch_ms"], 1300)
        self.assertEqual((b["jobs"], b["tasks"]), (2, 4))
        # addBatch minus the union of the two jobs' spans (300 + 500 ms).
        self.assertEqual(b["driver_gap_ms"], 500)
        self.assertEqual(b["shuffle_bytes"], 400)
        self.assertEqual(b["spill_bytes"], 50)

    def test_writes_attributed_by_sink_path(self):
        [b] = eventlog.streaming_batches(self.apps)
        self.assertEqual(b["bytes_written_by_table"], {"blocks": 1000, "transactions": 5000})
        self.assertEqual(b["bytes_written"], 6000)

    def test_job_groups_and_scan_counters(self):
        groups = eventlog.job_groups(self.apps, "read:")
        self.assertEqual(list(groups), ["read:point_lookup:sig1"])
        g = groups["read:point_lookup:sig1"]
        self.assertEqual((g["jobs"], g["tasks"], g["files_read"]), (1, 1, 3))
        self.assertEqual((g["in_bytes"], g["in_records"]), (4096, 1200))
        self.assertEqual(eventlog.job_groups(self.apps, "query:"), {})

    def test_job_groups_sum_a_description_repeated_across_apps(self):
        # Two JVMs run reads with the same descriptions: their counters add.
        apps = eventlog.load(FIXTURE) + eventlog.load(FIXTURE)
        g = eventlog.job_groups(apps, "read:")["read:point_lookup:sig1"]
        self.assertEqual((g["jobs"], g["tasks"], g["files_read"]), (2, 2, 6))
        self.assertEqual((g["in_bytes"], g["in_records"]), (8192, 2400))

    def test_cached_bytes_peak(self):
        self.assertEqual(eventlog.cached_peak(self.apps), 1000)


if __name__ == "__main__":
    unittest.main()
