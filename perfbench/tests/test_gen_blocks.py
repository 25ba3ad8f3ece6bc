import filecmp
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
# Scratch files stay inside the checkout.
TMP = os.path.join(os.path.dirname(HERE), ".bench_build", "perfbench", "tmp")
os.makedirs(TMP, exist_ok=True)

import gen_blocks  # noqa: E402


def read(path):
    with open(path) as f:
        return f.read()


class GenBlocksTest(unittest.TestCase):

    def test_byte_identical_per_seed(self):
        with tempfile.TemporaryDirectory(dir=TMP) as d:
            a, b, c = (os.path.join(d, x) for x in "abc")
            ta = gen_blocks.generate(7, a, 1000, 12)
            tb = gen_blocks.generate(7, b, 1000, 12)
            gen_blocks.generate(8, c, 1000, 12)
            self.assertEqual(ta, tb)
            names = sorted(os.listdir(a))
            self.assertEqual(names, sorted(os.listdir(b)))
            _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            self.assertNotEqual(read(os.path.join(a, "1000.json")),
                                read(os.path.join(c, "1000.json")))

    def test_inputs_vary_what_the_pipeline_depends_on(self):
        with tempfile.TemporaryDirectory(dir=TMP) as d:
            truth = gen_blocks.generate(3, d, 1000, 150)
            text = "".join(read(os.path.join(d, f)) for f in os.listdir(d))
        slots = truth["slots"]
        self.assertLess(len(slots), 150)  # skipped slots have no file
        self.assertTrue(any(not s["well_formed"] for s in slots.values()))
        for encoding in ('"programId"', '"program":"system","parsed"', '"programIdIndex"'):
            self.assertIn(encoding, text)
        self.assertIn(gen_blocks.VOTE, text)
        classes = {t[3] for t in truth["txs"]}
        self.assertEqual(classes, set(gen_blocks.CLASSES))
        self.assertTrue(any(not t[4] for t in truth["txs"]))

    def test_classification_follows_the_priority_rules(self):
        c = gen_blocks.classify
        self.assertEqual(c([gen_blocks.COMPUTE_BUDGET, gen_blocks.DEXES[0], gen_blocks.TOKEN]),
                         "DEX Swap")
        self.assertEqual(c([gen_blocks.SYSTEM]), "SOL Transfer")
        self.assertEqual(c([gen_blocks.COMPUTE_BUDGET, gen_blocks.TOKEN]), "SPL Token Transfer")
        self.assertEqual(c([gen_blocks.SYSTEM, gen_blocks.MEMO]), "Program Interaction")
        self.assertEqual(c(["system"]), "Unknown")  # a name-only id is not in the registry
        self.assertEqual(c([gen_blocks.VOTE]), "Unknown")


if __name__ == "__main__":
    unittest.main()
