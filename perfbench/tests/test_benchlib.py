"""Unit tests of the benchmark's own arithmetic and contract checks.

    python3 -m unittest discover -s perfbench/tests
"""

import copy
import json
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
import benchlib  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(benchlib.tail_percentile(1000), 99)
        self.assertEqual(benchlib.tail_percentile(999), 95)
        self.assertEqual(benchlib.tail_percentile(200), 95)
        self.assertEqual(benchlib.tail_percentile(199), 90)
        self.assertEqual(benchlib.tail_percentile(100), 90)
        self.assertEqual(benchlib.tail_percentile(99), 75)
        self.assertEqual(benchlib.tail_percentile(20), 50)
        self.assertIsNone(benchlib.tail_percentile(19))

    def test_interpolated_percentile(self):
        xs = list(range(1, 101))  # 1..100
        self.assertAlmostEqual(benchlib.percentile(xs, 50), 50.5)
        self.assertAlmostEqual(benchlib.percentile(xs, 90), 90.1)
        self.assertEqual(benchlib.percentile([7], 90), 7)
        with self.assertRaises(ValueError):
            benchlib.percentile([], 50)

    def test_iqr_spread_matches_statistics_quantiles(self):
        # quantiles(n=4) of 1..10 (exclusive method): 2.75, 5.5, 8.25
        self.assertAlmostEqual(benchlib.iqr_spread(list(range(1, 11))), (8.25 - 2.75) / 5.5)


def span(i, parent, kind, start, end, batch=-1):
    return {"id": i, "parent": parent, "kind": kind, "name": str(i),
            "start_ms": start, "end_ms": end, "batch": batch}


class SelfTime(unittest.TestCase):
    def test_union_of_children_is_subtracted_once(self):
        spans = [span(1, 0, "cli", 0, 100),
                 span(2, 1, "job", 10, 30),
                 span(3, 1, "job", 20, 40),   # overlaps job 2
                 span(4, 1, "job", 90, 120)]  # runs past the parent's end
        st = benchlib.self_times(spans)
        self.assertAlmostEqual(st[1], 100 - (30 + 10))
        self.assertAlmostEqual(st[2], 20)

    def test_streaming_jobs_belong_to_their_epoch(self):
        spans = [span(1, 0, "cli", 0, 1000),
                 span(2, 0, "epoch", 100, 300, batch=0),
                 span(3, 0, "epoch", 400, 500, batch=1),
                 span(4, 1, "job", 120, 180, batch=0),
                 span(5, 1, "job", 410, 450, batch=1),
                 span(6, 1, "job", 600, 700)]  # outside any micro-batch
        st = benchlib.self_times(spans)
        self.assertAlmostEqual(st[2], 200 - 60)
        self.assertAlmostEqual(st[3], 100 - 40)
        self.assertAlmostEqual(st[1], 1000 - (200 + 100 + 100))

    def test_covered_disjoint_and_nested(self):
        self.assertEqual(benchlib.covered([(0, 1), (2, 3)], 0, 10), 2)
        self.assertEqual(benchlib.covered([(0, 10), (2, 3)], 0, 10), 10)
        self.assertEqual(benchlib.covered([], 0, 10), 0)


class WireClosedForm(unittest.TestCase):
    def brute(self, start, n):
        """The wire formula evaluated by walking every transaction."""
        entries = 0
        created = set()
        for b in range(start, start + n):
            entries += 2  # full block + hash list
            for i in range(b % 3):
                entries += 1  # receipt
                if (b + i) % 7 == 0:
                    created.add(b % 5)
                if b % 5 == 0:
                    entries += 1  # tokenURI probe of the minted token
        return entries + 6 * len(created)

    def test_matches_transaction_walk(self):
        for start, n in ((0, 40), (105, 1000), (20, 30), (7, 13)):
            self.assertEqual(benchlib.sim_window(start, n)["wire_entries"], self.brute(start, n))

    def test_crawl_throughput_spec_window(self):
        # [0, 5000): 5000 blocks, 4999 txs, 5 created contracts, 999 minted
        w = benchlib.sim_window(0, 5000)
        self.assertEqual((w["total_tx"], w["created"], w["mint_tokens"]), (4999, 5, 999))
        self.assertEqual(w["wire_entries"], 2 * 5000 + 4999 + 30 + 999)

    def test_shape_repeats_every_105_blocks(self):
        a = benchlib.sim_window(105, 1000)
        b = benchlib.sim_window(105 * 5, 1000)
        self.assertEqual(a["wire_entries"], b["wire_entries"])
        self.assertEqual(a["tables"], b["tables"])
        self.assertEqual(b["enumeration"][0] - a["enumeration"][0], 4 * 21)


class TailLag(unittest.TestCase):
    def test_lag_is_commit_of_holding_epoch_minus_due_time(self):
        raw = {"ramp_blocks": 1,
               "epochs": [{"from": 10, "to": 12, "commit_ms": 2000},
                          {"from": 0, "to": 10, "commit_ms": 1000},
                          {"from": 12, "to": 13, "commit_ms": 3500}],
               # (block, due ms, published ms); block 10 is ramp, 13 never committed
               "wire": {"schedule": [[10, 100, 101], [11, 900, 901], [12, 2100, 2101],
                                     [13, 3000, 3001]]}}
        self.assertEqual(benchlib.lags(raw), [2000 - 900, 3500 - 2100])


class BenchmarkJson(unittest.TestCase):
    def setUp(self):
        self.b = json.loads((HERE.parent.parent / "BENCHMARK.json").read_text())

    def test_repo_file_is_valid(self):
        self.assertEqual(benchlib.validate_benchmark(self.b), [])

    def test_every_workload_is_runnable(self):
        import run
        self.assertEqual({w["name"] for w in self.b["workloads"]}, set(run.WORKLOADS))

    def broken(self, mutate):
        b = copy.deepcopy(self.b)
        mutate(b)
        return benchlib.validate_benchmark(b)

    def test_rejects_contract_violations(self):
        self.assertTrue(self.broken(lambda b: b["end_to_end"][0].update(bound=0.3)))
        self.assertTrue(self.broken(lambda b: b["end_to_end"].pop(0)))  # setup_s missing
        self.assertTrue(self.broken(lambda b: b.update(run_seconds=61)))
        self.assertTrue(self.broken(lambda b: b.update(paths=["../elsewhere"])))
        self.assertTrue(self.broken(lambda b: b["command"].append("/abs/path")))
        self.assertTrue(self.broken(lambda b: b["workloads"].append(dict(b["workloads"][0]))))
        self.assertTrue(self.broken(lambda b: b["per_layer"][0].update(unit="way too long a unit")))
        self.assertTrue(self.broken(lambda b: b.update(extra=1)))
        self.assertTrue(self.broken(lambda b: b.update(workloads=b["workloads"][:1])))


if __name__ == "__main__":
    unittest.main()
