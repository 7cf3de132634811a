"""Tests for the benchmark's own helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import tempfile
import unittest

import numpy as np
import pyarrow.parquet as pq

import gen
import run


class TailRule(unittest.TestCase):
    def test_ten_samples_lie_beyond_the_reported_percentile(self):
        for n in range(20, 400):
            p, idx = run.tail_rank(n)
            self.assertGreaterEqual(n - 1 - idx, 10, n)
            # the next percentile up would leave fewer than ten beyond it
            nxt = p + 1
            if nxt < 100:
                self.assertLess(n - np.ceil(nxt * n / 100), 10, n)

    def test_known_ranks(self):
        self.assertEqual(run.tail_rank(40), (75, 29))
        self.assertEqual(run.tail_rank(100), (90, 89))
        self.assertEqual(run.tail_rank(20), (50, 9))

    def test_too_few_samples_fall_back_to_the_maximum(self):
        self.assertIsNone(run.tail_rank(10))
        self.assertIsNone(run.tail_rank(19))
        self.assertEqual(run.tail([3.0, 1.0, 2.0]), (3.0, 100))
        values = list(range(40))
        self.assertEqual(run.tail(values), (29, 75))


class Generators(unittest.TestCase):
    def _tables(self, workload, seed):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(workload, d, seed)
            out = {}
            for root, _, files in os.walk(d):
                for f in files:
                    if f.endswith(".parquet"):
                        out[os.path.relpath(os.path.join(root, f), d)] = \
                            pq.read_table(os.path.join(root, f))
            return out

    def test_same_seed_same_inputs(self):
        for workload in ("ingest", "cdc"):
            a, b = self._tables(workload, 11), self._tables(workload, 11)
            self.assertEqual(sorted(a), sorted(b))
            for k in a:
                self.assertTrue(a[k].equals(b[k]), f"{workload} {k}")

    def test_other_seed_other_inputs(self):
        for workload in ("ingest", "cdc"):
            a, b = self._tables(workload, 11), self._tables(workload, 12)
            self.assertTrue(any(not a[k].equals(b[k]) for k in a if k in b), workload)

    def test_board_tables_do_not_depend_on_the_seed(self):
        a, b = self._tables("board", 1), self._tables("board", 2)
        self.assertTrue(all(a[k].equals(b[k]) for k in a))

    def test_ingest_backlog_holds_every_event_once(self):
        t = self._tables("ingest", 3)
        ids = np.concatenate([v.column("event_id").to_numpy() for v in t.values()])
        self.assertEqual(len(t), 400)
        self.assertEqual(sorted(ids.tolist()), list(range(100_000)))

    def test_cdc_changes_at_most_one_per_key_and_only_live_keys(self):
        rng = np.random.default_rng(5)
        live = set(range(15_000))
        for ch in gen.cdc_rounds(rng, np.arange(15_000), 15_000, 40):
            keys = ch.column("c_custkey").to_pylist()
            kinds = ch.column("_change_type").to_pylist()
            self.assertEqual(len(keys), len(set(keys)))
            for k, kind in zip(keys, kinds):
                if kind == "insert":
                    self.assertNotIn(k, live)
                    live.add(k)
                else:
                    self.assertIn(k, live)
                    if kind == "delete":
                        live.discard(k)


if __name__ == "__main__":
    unittest.main()
