"""r5: parameterized state-table bucket geometry + compaction cadence.

The r4 VERDICT's one remaining scale weakness: SEEN_BUCKETS /
FRONTIER_HOST_BUCKETS / BLOOM_SEGMENTS were module constants while the
docstrings promised O(1000)-bucket production catalogs.  These tests pin the
r5 design:

* constructor counts apply to NEW catalogs and are stamped into the seed
  commit meta as ``bucket_scheme``;
* a drain at NON-DEFAULT counts (128/4/8) equals the simulator;
* on resume the STORED stamp wins over a conflicting requested count
  (geometry is a physical property of the rows on disk);
* migrate_buckets() rewrites both state tables to a new geometry in one
  atomic commit and restamps — pruning re-engages at the new counts;
* a catalog in an older format (no geometry stamp or frontier counts in
  its commit meta, robots rows without ``rules`` / ``unreachable``) is
  refused by the DrainLoop constructor, naming the missing piece;
* the drain's periodic compaction cadence fires and leaves results unchanged.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest

from govuk_crawler_worker_spark.plans.pipeline import DrainLoop
from govuk_crawler_worker_spark.plans.robots import RULES_TYPE, robots_bucket_of
from govuk_crawler_worker_spark.plans.sim import simulate
from govuk_crawler_worker_spark.sources import catalog as catalog_module
from govuk_crawler_worker_spark.sources.catalog import Catalog
from govuk_crawler_worker_spark.sources.world import build_world, world_to_spark


def _fetched_key(rows):
    return sorted((r["batch_id"], r["url_canon"]) for r in rows)


def _drain_world(spark, seed, prefix, **loop_kw):
    world = build_world(n_pages=42, seed=seed)
    payload, content, seeds = world_to_spark(spark, world)
    catalog = Catalog(spark, tempfile.mkdtemp(prefix=prefix))
    loop = DrainLoop(
        spark, catalog, world.config, content.cache(), payload.cache(), **loop_kw
    )
    return world, catalog, loop, seeds


class TestBucketSchemeParam:
    def test_drain_at_nondefault_counts_matches_sim(self, spark):
        world, catalog, loop, seeds = _drain_world(
            spark,
            seed=7,
            prefix="bkt128_",
            bloom_min_batch=0,  # bloom + bucketed reads + MOR from batch 0
            seen_buckets=128,
            frontier_host_buckets=4,
            bloom_segments=8,
        )
        assert (loop.seen_buckets, loop.frontier_host_buckets, loop.bloom_segments) == (
            128, 4, 8,
        )
        loop.seed(seeds)
        assert catalog.latest()["meta"]["bucket_scheme"] == {
            "seen": 128, "frontier_host": 4, "bloom_segments": 8,
        }
        loop.drain(max_batches=60)
        meta = catalog.latest()["meta"]
        assert meta["bloom"]["segments"] == 8  # rebuild adopted the config
        sim = simulate(world.content, world.seeds, world.config)
        assert _fetched_key(catalog.read("fetched").collect()) == _fetched_key(sim.fetched)

    def test_resume_across_count_change_uses_stored_stamp(self, spark):
        world, catalog, loop, seeds = _drain_world(
            spark, seed=9, prefix="bktres_", bloom_min_batch=0, seen_buckets=16
        )
        loop.seed(seeds)
        loop.drain(max_batches=3)  # partial: state persisted at 16 buckets
        # resume REQUESTING a different geometry: the stored stamp must win —
        # honoring the request silently would read the wrong buckets
        payload2, content2, _ = world_to_spark(spark, world)
        loop2 = DrainLoop(
            spark, catalog, world.config, content2.cache(), payload2.cache(),
            bloom_min_batch=0, seen_buckets=64,
        )
        assert loop2.seen_buckets == 16
        loop2.drain(max_batches=60)
        sim = simulate(world.content, world.seeds, world.config)
        assert _fetched_key(catalog.read("fetched").collect()) == _fetched_key(sim.fetched)

    def test_migrate_buckets_rewrites_and_restamps(self, spark):
        world, catalog, loop, seeds = _drain_world(
            spark, seed=13, prefix="bktmig_", bloom_min_batch=0
        )
        loop.seed(seeds)
        loop.drain(max_batches=3)  # partial at the 32/8/16 defaults
        payload2, content2, _ = world_to_spark(spark, world)
        loop2 = DrainLoop(
            spark, catalog, world.config, content2.cache(), payload2.cache(),
            bloom_min_batch=0, seen_buckets=64, frontier_host_buckets=2,
        )
        assert loop2.seen_buckets == 32  # stored 32/8 won at init
        loop2.migrate_buckets()  # adopt the REQUESTED counts, O(table) once
        assert (loop2.seen_buckets, loop2.frontier_host_buckets) == (64, 2)
        meta = catalog.latest()["meta"]
        assert meta["bucket_scheme"]["seen"] == 64
        assert meta["bucket_scheme"]["frontier_host"] == 2
        assert "bloom" not in meta  # dropped: rebuilt on demand at new count
        # physical layout actually moved: some seen bucket id ≥ the old count
        seen_parts = catalog.latest()["parts"].get("seen", {})
        assert seen_parts and max(int(b) for b in seen_parts) < 64
        loop2.drain(max_batches=60)
        sim = simulate(world.content, world.seeds, world.config)
        assert _fetched_key(catalog.read("fetched").collect()) == _fetched_key(sim.fetched)


class TestCatalogFormatCheck:
    """The one place that decides which catalogs this engine reads: the
    DrainLoop constructor refuses an older format, naming what is missing,
    instead of draining it on a fallback path."""

    @pytest.fixture(scope="class")
    def drained(self, spark):
        world, catalog, loop, seeds = _drain_world(
            spark, seed=17, prefix="fmtchk_", bloom_min_batch=0
        )
        loop.seed(seeds)
        loop.drain(max_batches=2)  # partial: seen + frontier state on disk
        return world, catalog.root

    @pytest.mark.parametrize(
        "piece",
        ["bucket_scheme", "frontier_size", "frontier_pb_counts", "rules", "unreachable"],
    )
    def test_refuses_pre_r7_catalog(self, spark, drained, piece):
        world, root = drained
        copy = tempfile.mkdtemp(prefix="fmtchk_copy_")
        shutil.copytree(root, copy, dirs_exist_ok=True)
        catalog = Catalog(spark, copy)
        payload, content, _ = world_to_spark(spark, world)

        def loop():
            return DrainLoop(spark, catalog, world.config, content, payload)

        loop()  # the catalog as written is accepted
        if piece in ("rules", "unreachable"):
            # a robots leaf in an older schema: r5 had literal prefixes and
            # no rules, r6 had rules but no unreachable flag
            cols = "host string, scheme string, prefixes array<string>"
            row = ("www.gov.uk", "https", ["/old"])
            if piece == "unreachable":
                cols += f", rules {RULES_TYPE}"
                row += ([{"rx": "^/old", "n": 4, "allow": False}],)
            leaf = spark.createDataFrame([row + (0,)], cols + ", fetched_batch long")
            catalog.commit(
                merges={
                    "robots": dict(delta=leaf, key="host", bucket_of=robots_bucket_of)
                }
            )
        else:
            meta = dict(catalog.latest()["meta"])
            meta.pop(piece)
            catalog.commit(meta=meta)
        with pytest.raises(ValueError, match=piece):
            loop()


class TestCompactionCadence:
    def test_drain_compacts_on_cadence_and_results_unchanged(self, spark):
        world, catalog, loop, seeds = _drain_world(
            spark, seed=21, prefix="cadence_",
            bloom_min_batch=0,  # MOR chains grow from batch 0
            compact_batches=2,
        )
        calls = []
        orig = loop.compact_seen

        def spy():
            calls.append(int(catalog.latest()["meta"].get("next_batch", -1)))
            orig()
            # right after compaction every seen chain is a single base leaf
            parts = catalog.latest()["parts"].get("seen", {})
            assert all(
                not isinstance(c, list) or len(c) == 1 for c in parts.values()
            )

        loop.compact_seen = spy
        loop.seed(seeds)
        loop.drain(max_batches=60)
        assert calls, "compaction cadence never fired"
        sim = simulate(world.content, world.seeds, world.config)
        assert _fetched_key(catalog.read("fetched").collect()) == _fetched_key(sim.fetched)


class TestMorMaxChainKnob:
    def test_drain_forwards_chain_cap_and_results_unchanged(self, spark, monkeypatch):
        """r4 VERDICT #8: MOR_MAX_CHAIN is the read-fold-cost vs
        write-amplification trade-off.  The catalog's cap must govern the
        drain's state tables — a drain at cap=2 (compaction off so chains
        only shrink via inline folds) ends with every state chain ≤ 2
        leaves, at least one chain having actually hit the cap, and
        sim-equal results."""
        monkeypatch.setattr(catalog_module, "MOR_MAX_CHAIN", 2)
        world, catalog, loop, seeds = _drain_world(
            spark, seed=29, prefix="morcap_",
            bloom_min_batch=0,   # MOR state tables from batch 0
            compact_batches=0,   # no cadence folds — the cap does the work
        )
        loop.seed(seeds)
        loop.drain(max_batches=60)
        parts = catalog.latest()["parts"]
        lens = [
            (len(c) if isinstance(c, list) else 1)
            for t in ("seen", "frontier")
            for c in parts.get(t, {}).values()
        ]
        assert lens and max(lens) <= 2, f"chain cap 2 violated: {max(lens)}"
        assert 2 in lens, "cap never exercised"
        sim = simulate(world.content, world.seeds, world.config)
        assert _fetched_key(catalog.read("fetched").collect()) == _fetched_key(sim.fetched)


class TestMaintenanceCrashAtomicity:
    """A crash DURING a maintenance rewrite (compaction or geometry
    migration) must be invisible: both publish through the catalog's single
    atomic manifest rename, so dying after the snapshot files are written
    but before the rename leaves the catalog on the previous commit with
    identical reads, and the operation simply retries.  (The generic torn-
    commit reader behavior is pinned in test_catalog_and_seen.py; these pin
    the two maintenance ENTRY POINTS added in r5.)"""

    @staticmethod
    def _arm_crash(monkeypatch, root):
        import os as _os

        real_rename = _os.rename
        state = {"armed": True}

        def exploding(src, dst):
            if (
                state["armed"]
                and "_commits" in str(dst)
                and str(dst).endswith(".json")
                and str(dst).startswith(str(root))
            ):
                state["armed"] = False
                raise RuntimeError("injected crash before manifest publish")
            return real_rename(src, dst)

        monkeypatch.setattr("os.rename", exploding)
        return state

    @staticmethod
    def _seen_key(rows):
        return sorted((r["url_canon"], r["state"], r["updated_batch"]) for r in rows)

    def test_crash_mid_compaction_then_retry(self, spark, monkeypatch):
        world, catalog, loop, seeds = _drain_world(
            spark, seed=33, prefix="crashcmp_",
            bloom_min_batch=0, compact_batches=0,
        )
        loop.seed(seeds)
        loop.drain(max_batches=60)
        before_commit = catalog.latest()["commit_id"]
        before_seen = self._seen_key(catalog.read("seen").collect())
        before_fetched = _fetched_key(catalog.read("fetched").collect())

        state = self._arm_crash(monkeypatch, catalog.root)
        try:
            loop.compact_seen()
            raise AssertionError("injected crash did not fire")
        except RuntimeError as e:
            assert "injected" in str(e)
        assert not state["armed"]

        # the torn compaction is invisible — same commit, same reads
        assert catalog.latest()["commit_id"] == before_commit
        assert self._seen_key(catalog.read("seen").collect()) == before_seen
        # retry succeeds and changes no read result (compaction only folds)
        loop.compact_seen()
        assert catalog.latest()["commit_id"] > before_commit
        assert self._seen_key(catalog.read("seen").collect()) == before_seen
        assert _fetched_key(catalog.read("fetched").collect()) == before_fetched
        parts = catalog.latest()["parts"].get("seen", {})
        assert all(not isinstance(c, list) or len(c) == 1 for c in parts.values())

    def test_crash_mid_migration_then_retry(self, spark, monkeypatch):
        world, catalog, loop, seeds = _drain_world(
            spark, seed=35, prefix="crashmig_", bloom_min_batch=0,
        )
        loop.seed(seeds)
        loop.drain(max_batches=3)  # partial: live frontier + seen state
        before_scheme = dict(catalog.latest()["meta"]["bucket_scheme"])
        before_seen = self._seen_key(catalog.read("seen").collect())

        state = self._arm_crash(monkeypatch, catalog.root)
        try:
            loop.migrate_buckets(seen_buckets=64, frontier_host_buckets=16)
            raise AssertionError("injected crash did not fire")
        except RuntimeError as e:
            assert "injected" in str(e)
        assert not state["armed"]

        # stamp and state untouched; the loop object did not adopt the new
        # geometry either (fields mutate only after the commit publishes)
        assert catalog.latest()["meta"]["bucket_scheme"] == before_scheme
        assert self._seen_key(catalog.read("seen").collect()) == before_seen
        assert loop.bucket_scheme == before_scheme

        # retry migrates for real; the resumed drain still equals the sim
        loop.migrate_buckets(seen_buckets=64, frontier_host_buckets=16)
        assert catalog.latest()["meta"]["bucket_scheme"]["seen"] == 64
        assert self._seen_key(catalog.read("seen").collect()) == before_seen
        loop.drain(max_batches=60)
        sim = simulate(world.content, world.seeds, world.config)
        assert _fetched_key(catalog.read("fetched").collect()) == _fetched_key(sim.fetched)
