"""Tests of the day generator: `python3 perfbench/test_gen.py`.

Reads the generated files back and checks that every input spends an
output created in an earlier block (or a pre-history output) that nothing
spent before, that each block has exactly one coinbase, and that one seed
gives byte-identical files.
"""
import csv
import gzip
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402


def rows(path):
    with gzip.open(path, "rt") as f:
        return list(csv.DictReader(f, delimiter="\t", quoting=csv.QUOTE_NONE))


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory(dir=os.path.dirname(__file__))
        cls.dir = os.path.join(cls.tmp.name, "a")
        cls.led = gen.generate(cls.dir, seed=11, days=3, tx_per_day=300)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def read(self, kind, day):
        return rows(os.path.join(self.dir,
                                 gen.file_name(kind, gen.day_date(day))))

    def test_inputs_spend_earlier_unspent_outputs(self):
        created = {}  # (tx, index) -> creation block time
        for day in range(3):
            for r in self.read("outputs", day):
                if r["transaction_hash"]:
                    created[(r["transaction_hash"], int(r["index"]))] = \
                        r["time"]
        spent = set()
        n_inputs = 0
        for day in range(3):
            for r in self.read("inputs", day):
                if not r["transaction_hash"] or r["type"] == "coinbase":
                    continue
                ref = (r["spending_transaction_hash"],
                       int(r["spending_index"]))
                self.assertNotIn(ref, spent, "output spent twice")
                spent.add(ref)
                if ref in created:  # block times strictly increase
                    self.assertLess(created[ref], r["time"],
                                    "input spends a later output")
                else:
                    self.assertIn(ref, self.led.prehistory,
                                  "input spends an unknown output")
                n_inputs += 1
        self.assertGreater(n_inputs, 500)
        self.assertTrue(any(ref in created for ref in spent),
                        "no input spends a dumped output")

    def test_one_coinbase_per_block(self):
        for day in range(3):
            blocks = {r["id"] for r in self.read("blocks", day) if r["id"]}
            coinbase = [r["block_id"] for r in self.read("transactions", day)
                        if r["hash"] and r["is_coinbase"] == "1"]
            self.assertEqual(sorted(coinbase), sorted(blocks))

    def test_ledger_counts_and_large_totals(self):
        for day in range(3):
            for kind in gen.ALL_TYPES:
                rs = self.read(kind, day)
                self.assertEqual(len(rs), self.led.rows[kind][day])
                nulls = sum(1 for r in rs if not r[gen.KEY_COL[kind]])
                self.assertEqual(nulls, self.led.nulls[kind][day])
        totals = [int(r["output_total"]) for r in self.read("blocks", 0)
                  if r["id"]]
        self.assertTrue(any(t > 2 ** 31 for t in totals))

    def test_same_seed_same_bytes(self):
        other = os.path.join(self.tmp.name, "b")
        gen.generate(other, seed=11, days=3, tx_per_day=300)
        for name in sorted(os.listdir(self.dir)):
            with open(os.path.join(self.dir, name), "rb") as a, \
                    open(os.path.join(other, name), "rb") as b:
                self.assertEqual(a.read(), b.read(), name)
        third = os.path.join(self.tmp.name, "c")
        gen.generate(third, seed=12, days=1, tx_per_day=300)
        name = gen.file_name("inputs", gen.day_date(0))
        with open(os.path.join(self.dir, name), "rb") as a, \
                open(os.path.join(third, name), "rb") as b:
            self.assertNotEqual(a.read(), b.read())


if __name__ == "__main__":
    unittest.main()
