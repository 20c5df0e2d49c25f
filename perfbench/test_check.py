"""Self-test of the benchmark's output checks: each perturbation of a
correct output must be reported as a failure.

    python3 perfbench/test_check.py
"""

from __future__ import annotations

import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for p in (HERE, os.path.join(ROOT, "tests"), ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)

import check  # noqa: E402
import datagen  # noqa: E402


def _exact_drain_outputs(sim):
    batch_ids = sorted({r["batch_id"] for r in sim.fetched} | {r["batch_id"] for r in sim.dead})
    fetched = [(r["batch_id"], r["url_canon"]) for r in sim.fetched]
    dead = [(r["url_canon"], r["reason"], r["batch_id"]) for r in sim.dead]
    seen = list(sim.seen.items())
    return batch_ids, fetched, dead, seen


class DrainCheck(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        from govuk_crawler_worker_spark.plans.sim import simulate
        from govuk_crawler_worker_spark.sources.world import build_world

        world = build_world(n_pages=30, images_per_page=1, branching=6, crawl_delay_hot_host=0.3, seed=5)
        cls.sim = simulate(world.content, world.seeds, world.config)

    def test_reference_itself_passes(self):
        ops, failed = check.drain_failures(*_exact_drain_outputs(self.sim), self.sim)
        self.assertEqual(failed, [])
        self.assertEqual(ops[-1], "seen")
        self.assertGreater(len(ops), 3)

    def test_dropped_fetched_row_fails_its_batch(self):
        batch_ids, fetched, dead, seen = _exact_drain_outputs(self.sim)
        dropped = fetched.pop(len(fetched) // 2)
        _ops, failed = check.drain_failures(batch_ids, fetched, dead, seen, self.sim)
        self.assertEqual(failed, [f"batch {dropped[0]}"])

    def test_moved_fetched_row_fails_both_batches(self):
        batch_ids, fetched, dead, seen = _exact_drain_outputs(self.sim)
        b, u = fetched[-1]
        fetched[-1] = (b + 1, u)
        _ops, failed = check.drain_failures(batch_ids, fetched, dead, seen, self.sim)
        self.assertIn(f"batch {b}", failed)
        self.assertIn(f"batch {b + 1}", failed)

    def test_changed_seen_state_fails_seen(self):
        batch_ids, fetched, dead, seen = _exact_drain_outputs(self.sim)
        url, state = seen[0]
        seen[0] = (url, state + 1)
        _ops, failed = check.drain_failures(batch_ids, fetched, dead, seen, self.sim)
        self.assertEqual(failed, ["seen"])

    def test_dead_reason_changed_fails(self):
        batch_ids, fetched, dead, seen = _exact_drain_outputs(self.sim)
        self.assertTrue(dead, "world must exercise the dead path")
        u, _reason, b = dead[0]
        dead[0] = (u, "not_found" if _reason != "not_found" else "retries_exhausted", b)
        _ops, failed = check.drain_failures(batch_ids, fetched, dead, seen, self.sim)
        self.assertEqual(failed, [f"batch {b}"])


class QueryCheck(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        import __spark_entry__ as entry
        import oracle_compare

        cls.oracle = oracle_compare
        cls.tmp = tempfile.TemporaryDirectory()
        datagen.generate(cls.tmp.name, seed=11)
        cls.name = "agg_pricing_summary"
        cls.sql = entry.oracle_sql()[cls.name]
        cls.cols, cls.rows = oracle_compare.duck_run(cls.sql, cls.tmp.name)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def mismatches(self, rows):
        return check.query_mismatches(self.oracle, self.name, self.cols, rows, self.sql, self.tmp.name)

    def test_reference_itself_passes(self):
        self.assertEqual(self.mismatches(list(self.rows)), [])

    def test_altered_row_fails(self):
        rows = [list(r) for r in self.rows]
        i = next(i for i, v in enumerate(rows[0]) if isinstance(v, float))
        rows[0][i] = rows[0][i] * 1.01 + 1
        self.assertNotEqual(self.mismatches([tuple(r) for r in rows]), [])

    def test_missing_row_fails(self):
        self.assertNotEqual(self.mismatches(list(self.rows)[1:]), [])


if __name__ == "__main__":
    unittest.main()
