import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
# Scratch files stay inside the checkout.
TMP = os.path.join(os.path.dirname(HERE), ".bench_build", "perfbench", "tmp")
os.makedirs(TMP, exist_ok=True)

import checks  # noqa: E402
import gen_blocks  # noqa: E402

FIRST, N = 1000, 40


def land(tables, slots, txs):
    """Write blocks/transactions the way the engine lays them out."""
    for name, cols in (("blocks", slots), ("transactions", txs)):
        d = os.path.join(tables, name, "slot_bucket=0")
        os.makedirs(d)
        pq.write_table(pa.table(cols), os.path.join(d, "part-00000.parquet"))


class ChecksTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory(dir=TMP)
        cls.truth = gen_blocks.generate(5, os.path.join(cls.tmp.name, "blocks"), FIRST, N)
        cls.landed = set(range(FIRST, FIRST + N))
        cls.slots, cls.txs = checks.expected(cls.truth, cls.landed)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def table(self, name, slots=None, txs=None):
        slots = sorted(self.slots.items()) if slots is None else slots
        txs = self.txs if txs is None else txs
        tables = os.path.join(self.tmp.name, name)
        land(tables,
             {"slot": [s for s, _ in slots], "blockhash": [v["blockhash"] for _, v in slots],
              "parent_slot": [v["parent"] if v["parent"] in self.slots else None
                              for _, v in slots]},
             {"signature": [t[0] for t in txs], "block_slot": [t[1] for t in txs],
              "transaction_index": pa.array([t[2] for t in txs], pa.int32()),
              "transaction_type": [t[3] for t in txs], "success": [t[4] for t in txs],
              "fee": [t[5] for t in txs]})
        return checks.check_landed(tables, self.truth, self.landed)

    def test_a_correct_table_passes(self):
        self.assertEqual(self.table("ok"), [])

    def test_a_missing_transaction_is_rejected(self):
        self.assertTrue(self.table("missing", txs=self.txs[1:]))

    def test_a_duplicate_signature_is_rejected(self):
        self.assertTrue(self.table("dup", txs=self.txs + self.txs[:1]))

    def test_a_misclassified_transaction_is_rejected(self):
        t = self.txs[0]
        wrong = "Unknown" if t[3] != "Unknown" else "SOL Transfer"
        problems = self.table("class", txs=[t[:3] + (wrong,) + t[4:]] + self.txs[1:])
        self.assertTrue(any("histogram" in p for p in problems))

    def test_a_kept_parent_of_an_absent_block_is_rejected(self):
        slots = sorted(self.slots.items())
        first = dict(slots[0][1])
        self.assertNotIn(first["parent"], self.slots)  # parent lies before the range
        slots[0] = (slots[0][0], dict(first, parent=slots[0][0] - 1))
        # The table stores the parent as if it had been landed.
        tables = os.path.join(self.tmp.name, "parent")
        land(tables,
             {"slot": [s for s, _ in slots], "blockhash": [v["blockhash"] for _, v in slots],
              "parent_slot": [v["parent"] for _, v in slots[:1]]
              + [v["parent"] if v["parent"] in self.slots else None for _, v in slots[1:]]},
             {"signature": [t[0] for t in self.txs], "block_slot": [t[1] for t in self.txs],
              "transaction_index": pa.array([t[2] for t in self.txs], pa.int32()),
              "transaction_type": [t[3] for t in self.txs], "success": [t[4] for t in self.txs],
              "fee": [t[5] for t in self.txs]})
        problems = checks.check_landed(tables, self.truth, self.landed)
        self.assertTrue(any("blocks" in p for p in problems))

    def test_a_wrong_read_is_rejected(self):
        sig = self.txs[0]
        read = {"kind": "point_lookup", "arg": sig[0], "result": [list(sig[1:])]}
        self.assertEqual(checks.check_read(read, self.txs), [])
        bad = dict(read, result=[[sig[1], sig[2], sig[3], sig[4], sig[5] + 1]])
        self.assertTrue(checks.check_read(bad, self.txs))


if __name__ == "__main__":
    unittest.main()
