import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402


def span(id, parent, name, start, end):
    return {"id": id, "parent": parent, "name": name, "start_ms": start, "end_ms": end}


class PreMergeTest(unittest.TestCase):

    def test_time_before_the_first_merge_of_each_upsert(self):
        spans = [
            span(2, 1, "etl.merge.blocks", 130.0, 150.0),
            span(3, 1, "etl.merge.transactions", 150.0, 190.0),
            span(1, 0, "etl.upsert_batch", 100.0, 190.0),
            span(4, 0, "etl.parse_classify", 200.0, 240.0),
            span(6, 5, "etl.merge.blocks", 300.0, 320.0),
            span(5, 0, "etl.upsert_batch", 250.0, 330.0),
        ]
        self.assertEqual(run.pre_merge_ms(spans), (30.0 + 50.0) / 2)

    def test_no_upsert_gives_zero(self):
        self.assertEqual(run.pre_merge_ms([]), 0.0)


if __name__ == "__main__":
    unittest.main()
