"""Tests of the benchmark's plans and percentile rule.

Run from the repository root: python3 lakebench/test_lakebench.py
"""

import collections
import unittest

import plans

ORDERS = 1000


def all_plans(seed):
    return {
        "medallion": plans.medallion(seed, 5),
        "lake_oltp": plans.lake_oltp(seed, 40, ORDERS),
        "lake_scan": plans.lake_scan(seed, 36, 1),
    }


def kinds(plan):
    return collections.Counter(line.split("\t")[0] for line in plan)


class PlanTest(unittest.TestCase):

    def test_one_seed_gives_one_sequence(self):
        self.assertEqual(all_plans(7), all_plans(7))

    def test_another_seed_gives_another_sequence(self):
        a, b = all_plans(7), all_plans(8)
        for workload in a:
            self.assertNotEqual(a[workload], b[workload], workload)

    def test_every_seed_issues_each_kind_equally_often(self):
        for workload in all_plans(1):
            counts = {kinds(all_plans(s)[workload]) == kinds(all_plans(1)[workload])
                      for s in range(2, 12)}
            self.assertEqual(counts, {True}, workload)

    def test_oltp_mix_is_sixty_percent_reads_on_each_copy(self):
        plan = [line.split("\t") for line in plans.lake_oltp(3, 40, ORDERS)]
        for copy in ("0", "1"):
            ops = [f[0] for f in plan if f[1] == copy]
            reads = sum(1 for k in ops if k in plans.OLTP_READS)
            self.assertEqual((len(ops), reads), (20, 12))

    def test_oltp_touches_only_live_keys(self):
        live = [set(range(1, ORDERS + 1)), set(range(1, ORDERS + 1))]
        for line in plans.lake_oltp(5, 400, ORDERS):
            kind, copy, *args = line.split("\t")
            keys = live[int(copy)]
            if kind in ("point", "delete"):
                self.assertIn(int(args[0]), keys)
                if kind == "delete":
                    keys.remove(int(args[0]))
            elif kind in ("update", "append", "merge"):
                pairs = [int(p.split(":")[0]) for p in args[0].split(",")]
                if kind == "update":
                    self.assertTrue(set(pairs) <= keys)
                elif kind == "append":
                    self.assertFalse(set(pairs) & keys)
                else:
                    self.assertEqual(len(set(pairs) & keys), len(pairs) // 2)
                keys.update(pairs)


class PercentileTest(unittest.TestCase):

    def test_thirty_samples_give_no_p90(self):
        self.assertIsNone(plans.percentile(list(range(30)), 0.9))

    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(plans.percentile(list(range(99)), 0.9))
        self.assertEqual(plans.percentile(list(range(100)), 0.9), 89)

    def test_median_needs_ten_samples_beyond_it(self):
        self.assertIsNone(plans.percentile(list(range(19)), 0.5))
        self.assertEqual(plans.percentile(list(range(20, 0, -1)), 0.5), 10)


if __name__ == "__main__":
    unittest.main()
