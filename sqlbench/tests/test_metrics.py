"""Tests of the benchmark's own metric code.

    python3 -m unittest discover -s sqlbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "lib"))

import numpy as np  # noqa: E402

import check  # noqa: E402
import metrics as M  # noqa: E402
from datagen import PLANE_MOD, Txn  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_nearest_rank(self):
        v = list(range(1, 11))
        self.assertEqual(M.percentile(v, 50), 5)
        self.assertEqual(M.percentile(v, 90), 9)
        self.assertEqual(M.percentile(v, 100), 10)
        self.assertEqual(M.percentile([7], 99), 7)

    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(M.tail_percentile(1000), 99)
        self.assertEqual(M.tail_percentile(200), 95)
        self.assertEqual(M.tail_percentile(199), 90)
        self.assertEqual(M.tail_percentile(60), 80)
        self.assertEqual(M.tail_percentile(33), 67)
        self.assertEqual(M.tail_percentile(26), 60)

    def test_ten_samples_really_lie_beyond(self):
        for n in range(20, 400):
            p = M.tail_percentile(n)
            values = list(range(n))
            beyond = sum(x > M.percentile(values, p) for x in values)
            self.assertGreaterEqual(beyond, 10, (n, p))
            self.assertEqual(beyond, M.samples_beyond(n, p))
            higher = [q for q in M.TAIL_LADDER if q > p]
            if higher:  # the next rung up would leave fewer than ten
                self.assertLess(M.samples_beyond(n, min(higher)), 10, (n, p))

    def test_too_few_samples_fall_back_to_median(self):
        self.assertEqual(M.tail_percentile(12), 50)


class Median(unittest.TestCase):
    def test_even_count_takes_the_mean_of_the_middle_two(self):
        self.assertEqual(M.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(M.median([5, 1, 3]), 3)
        self.assertEqual(M.median([]), 0.0)

    def test_a_tail_that_fell_back_to_the_median_is_the_median(self):
        self.assertEqual(M.tail([4, 1, 3, 2], 50), 2.5)
        self.assertEqual(M.tail(list(range(1, 11)), 90), 9)


class ReferenceSpeed(unittest.TestCase):
    RAW = {"read_p50_ms": 200.0, "setup_s": 12.0, "throughput_ops": 2.0}

    def test_slow_machine_scales_times_down_and_rates_up(self):
        # the reference job took 200 ms where the reference speed takes 160
        out = M.at_reference_speed(self.RAW, 200.0, 160.0, rates=("throughput_ops",))
        self.assertAlmostEqual(out["read_p50_ms"], 160.0)
        self.assertAlmostEqual(out["setup_s"], 9.6)
        self.assertAlmostEqual(out["throughput_ops"], 2.5)

    def test_at_reference_speed_nothing_changes(self):
        out = M.at_reference_speed(self.RAW, 160.0, 160.0, rates=("throughput_ops",))
        self.assertEqual(out, self.RAW)

    def test_same_work_on_a_slower_machine_reports_the_same(self):
        # every time 30% longer, the reference job included
        slow = {k: v / 1.3 if k == "throughput_ops" else v * 1.3 for k, v in self.RAW.items()}
        a = M.at_reference_speed(self.RAW, 150.0, 160.0, rates=("throughput_ops",))
        b = M.at_reference_speed(slow, 150.0 * 1.3, 160.0, rates=("throughput_ops",))
        for k in self.RAW:
            self.assertAlmostEqual(a[k], b[k])


class ProcStat(unittest.TestCase):
    LINE0 = "cpu  1000 0 200 5000 10 0 30 40 0 0"
    LINE1 = "cpu  1400 0 260 5460 10 0 40 70 7 0"

    def test_parse_aggregate_line(self):
        f = M.parse_cpu_line(self.LINE0)
        self.assertEqual(f["user"], 1000)
        self.assertEqual(f["idle"], 5000)
        self.assertEqual(f["steal"], 40)
        # guest ticks are already inside user; they must not count twice
        self.assertEqual(sum(M.parse_cpu_line(self.LINE1).values()), 1400 + 260 + 5460 + 10 + 40 + 70)

    def test_rejects_per_cpu_line(self):
        with self.assertRaises(ValueError):
            M.parse_cpu_line("cpu0 1 2 3 4 5 6 7 8")

    def test_steal_and_other_cpu(self):
        # deltas: user 400, system 60, idle 460, softirq 10, steal 30 -> total 960
        steal, other = M.host_cpu(self.LINE0, self.LINE1, own_cpu_ms=3000, hz=100)
        self.assertAlmostEqual(steal, 100 * 30 / 960)
        # busy 470 ticks, 300 of them ours
        self.assertAlmostEqual(other, 100 * 170 / 960)

    def test_own_cpu_above_busy_is_not_negative(self):
        _, other = M.host_cpu(self.LINE0, self.LINE1, own_cpu_ms=10_000)
        self.assertEqual(other, 0.0)


class SpaceAmp(unittest.TestCase):
    def test_counts_every_byte_over_head_bytes(self):
        with tempfile.TemporaryDirectory() as root:
            def put(rel, n):
                path = os.path.join(root, rel)
                os.makedirs(os.path.dirname(path), exist_ok=True)
                with open(path, "wb") as f:
                    f.write(b"x" * n)
            put("planes/bal/gen-1/part-0.parquet", 100)
            put("planes/bal/gen-2/part-0.parquet", 120)
            put("planes/bal/gen-2/.part-0.parquet.crc", 8)
            put("planes/stock/gen-1/part-0.parquet", 50)
            put("planes/stock/gen-2/part-0.parquet", 60)
            put("planes/stock/gen-x-1/part-0.parquet", 30)  # a CAS loser's orphan
            put("log/commit-000001", 10)
            put("log/commit-000002", 12)
            head = {"bal": os.path.join(root, "planes/bal/gen-2"),
                    "stock": os.path.join(root, "planes/stock/gen-2")}
            amp = M.space_amp(os.path.join(root, "planes"), os.path.join(root, "log"), head)
            self.assertAlmostEqual(amp, (100 + 128 + 50 + 60 + 30 + 22) / (128 + 60))

    def test_only_the_head_is_one(self):
        with tempfile.TemporaryDirectory() as root:
            os.makedirs(os.path.join(root, "planes/bal/gen-1"))
            os.makedirs(os.path.join(root, "log"))
            with open(os.path.join(root, "planes/bal/gen-1/p"), "wb") as f:
                f.write(b"x" * 64)
            amp = M.space_amp(os.path.join(root, "planes"), os.path.join(root, "log"),
                              {"bal": os.path.join(root, "planes/bal/gen-1")})
            self.assertEqual(amp, 1.0)


class ReplayCheck(unittest.TestCase):
    def setUp(self):
        self.initial = {"bal": np.arange(40, dtype=np.int64) * 7 % PLANE_MOD,
                        "stock": np.arange(50, dtype=np.int64) * 11 % PLANE_MOD}
        self.txns = {
            "t1": Txn("t1", {"bal": (5, 1, 3, 17), "stock": (7, 2, 2, 5)}),
            "t2": Txn("t2", {"bal": (5, 1, 4, 9), "stock": (6, 0, 9, 1)}),
            "t3": Txn("t3", {"bal": (3, 0, 2, 100), "stock": (7, 2, 5, 3)}),
        }
        self.commits = [(1, "t1"), (2, "t2"), (3, "t3")]
        state = self.initial
        self.states = [state]
        for _, t in self.commits:
            state = check.apply_txn(state, self.txns[t])
            self.states.append(state)
        self.head = state

    def test_serial_replay_matches_head(self):
        problems, bad = check.replay_check(self.initial, self.txns, self.commits, 3, self.head)
        self.assertEqual(problems, [])
        self.assertEqual(bad, set())

    def test_dropped_commit_fails(self):
        dropped = [(1, "t1"), (2, "t3")]
        problems, _ = check.replay_check(self.initial, self.txns, dropped, 2, self.head)
        self.assertTrue(any("differs" in p for p in problems), problems)

    def test_gap_in_generations_fails(self):
        problems, _ = check.replay_check(self.initial, self.txns, [(1, "t1"), (3, "t3")], 3,
                                         self.head)
        self.assertTrue(any("not 1..3" in p for p in problems), problems)

    def test_commit_order_matters(self):
        swapped = [(1, "t2"), (2, "t1"), (3, "t3")]
        problems, _ = check.replay_check(self.initial, self.txns, swapped, 3, self.head)
        self.assertTrue(problems)

    def test_reads_checked_at_their_generation(self):
        spec = ["mod", "bal", 5, 1]
        good = check.plane_answer(self.states[1], spec)
        reads = [("r-ok", 1, 1, good, spec),
                 ("r-wrong-gen", 2, 1, good, spec),        # answer of gen 1 claimed at gen 2
                 ("r-stale", 1, 2, good, spec)]            # older than the client's own commit
        _, bad = check.replay_check(self.initial, self.txns, self.commits, 3, self.head, reads)
        self.assertEqual(bad, {"r-wrong-gen", "r-stale"})


if __name__ == "__main__":
    unittest.main()
