"""Tests for the benchmark's input generator.

    python3 perfbench/test_gen.py
"""
import csv
import io
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402


class CashbackBatchesTest(unittest.TestCase):

    def batches(self, seed):
        return gen.cashback_batches(seed, n_batches=3, rewards_per_batch=300,
                                    tx_per_batch=500)

    def test_same_seed_gives_identical_bytes(self):
        self.assertEqual(self.batches(7), self.batches(7))

    def test_different_seed_gives_different_batches(self):
        a, b = self.batches(7), self.batches(8)
        for (ra, ta, _, _), (rb, tb, _, _) in zip(a, b):
            self.assertNotEqual(ra, rb)
            self.assertNotEqual(ta, tb)

    def test_redelivered_rewards_are_earlier_ids(self):
        seen = set()
        for i, (rewards, _, n, new) in enumerate(self.batches(3)):
            ids = [r["id"] for r in csv.DictReader(io.StringIO(rewards.decode()))]
            self.assertEqual(len(ids), n)
            self.assertEqual(len(set(ids)), n)
            fresh = set(ids) - seen
            self.assertEqual(len(fresh), new)
            self.assertEqual(new, 300 if i == 0 else 240)
            seen |= set(ids)

    def test_reference_shapes(self):
        rewards, transactions, _, _ = self.batches(5)[1]
        rows = list(csv.DictReader(io.StringIO(rewards.decode())))
        self.assertEqual(list(rows[0]), gen.REWARD_COLS)
        self.assertTrue(any(r["reference_id"] == "" for r in rows)
                        or any(r["reason"] == "" for r in rows))
        self.assertTrue(any(r["contis_transaction"].startswith("{'") for r in rows))
        txs = list(csv.DictReader(io.StringIO(transactions.decode())))
        self.assertEqual(list(txs[0]), gen.TRANSACTION_COLS)
        types = {t["type"] for t in txs}
        self.assertTrue(types & {"31", "29", "35", "45", "5", "0"})
        self.assertTrue(types & {"CARD_SETTLEMENT", "CARD_REFUND"})
        self.assertTrue(all(int(t["amount"]) != 0 for t in txs))


class StarSchemaTest(unittest.TestCase):

    def files(self, seed):
        with tempfile.TemporaryDirectory() as d:
            gen.write_star_schema(d, seed, sf=0.001, n_docs=100, n_vecs=50)
            return {f: open(os.path.join(d, f), "rb").read()
                    for f in sorted(os.listdir(d))}

    def test_same_seed_gives_identical_files(self):
        self.assertEqual(self.files(11), self.files(11))

    def test_different_seed_gives_different_files(self):
        a, b = self.files(11), self.files(12)
        self.assertEqual(sorted(a), sorted(b))
        self.assertNotEqual(a["documents.parquet"], b["documents.parquet"])
        self.assertNotEqual(a["lineitem.parquet"], b["lineitem.parquet"])


if __name__ == "__main__":
    unittest.main()
