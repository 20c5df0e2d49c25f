"""The deployable entrypoint (python -m govuk_crawler_worker_spark): env
config → HttpFetcher crawl with mirror export + healthcheck HTTP, resumable
catalog — the reference's main.go wiring end-to-end against a local server."""

from __future__ import annotations

import json
import os
import tempfile
import urllib.request

from govuk_crawler_worker_spark.__main__ import _build_loop, main, maintain
from govuk_crawler_worker_spark.sources.catalog import Catalog
from govuk_crawler_worker_spark.sources.world import build_world
from tests.test_pipeline_e2e import TestHttpDrainMatchesSimulator as H


def test_main_env_wiring_end_to_end(spark):
    world = build_world(n_pages=16, seed=13)
    content = H._statelessize(world.content)
    srv, base = H._serve(content)
    ckpt = tempfile.mkdtemp(prefix="main_ckpt_")
    mirror = tempfile.mkdtemp(prefix="main_mirror_")
    env = {
        "ROOT_URLS": ",".join(f"https://{h}/" for h in ("www.gov.uk", "assets.example.gov.uk", "service.example.gov.uk:8443")),
        "BLACKLIST_PATHS": "/search,/government/uploads",
        "CHECKPOINT_DIR": ckpt,
        "MIRROR_ROOT": mirror,
        "HEALTHCHECK_PORT": "0",
        "MAX_BATCHES": "25",
    }
    try:
        catalog, stats, health = main(env=env, spark=spark, opener=H._proxy_opener(base))
        fetched = catalog.read("fetched").count()
        # stats.fetched counts fetch ROUTES; the fetched table excludes
        # has-params URLs (crawled but never written — workflow.go:164-165)
        assert fetched > 5 and sum(s.fetched for s in stats) >= fetched
        # mirror written by the executors
        assert os.path.isfile(os.path.join(mirror, "www.gov.uk/index.html"))
        # healthcheck serves over real HTTP
        with urllib.request.urlopen(
            f"http://127.0.0.1:{health.port}/healthcheck", timeout=10
        ) as resp:
            body = json.loads(resp.read())
        assert body["status"] in ("ok", "warning", "critical")
        health.close()

        # resume: a second invocation on the same CHECKPOINT_DIR is a no-op
        # (frontier drained; nothing re-fetched)
        catalog2, stats2, _ = main(env=env, spark=spark, opener=H._proxy_opener(base))
        assert sum(s.fetched for s in stats2) == 0
        assert catalog2.read("fetched").count() == fetched
    finally:
        srv.shutdown()


def test_maintain_rejects_unknown_command(spark):
    import pytest

    with pytest.raises(SystemExit, match="unknown command"):
        maintain(
            "definitely-not-a-command",
            env={"CHECKPOINT_DIR": tempfile.mkdtemp(prefix="cli_bad_")},
            spark=spark,
        )


def test_cli_migration_on_legacy_catalog_then_pruned_drain(spark, monkeypatch):
    """r5 VERDICT #5/#6: the deployable entrypoint can now run the migration
    its env knobs imply, and BLOOM_MIN_SEEN reaches the strategy switch.
    Flow: partial drain (stamped at 32 seen buckets) → `migrate-buckets` via
    the CLI veneer at SEEN_BUCKETS=64 → the resumed drain issues bucketed
    (pruned) seen reads at the NEW geometry and the final crawl equals a
    fresh single-run control."""
    world = build_world(n_pages=16, seed=13)
    content = H._statelessize(world.content)
    srv, base = H._serve(content)
    ckpt = tempfile.mkdtemp(prefix="mig_ckpt_")
    env = {
        "ROOT_URLS": "https://www.gov.uk/",
        "CHECKPOINT_DIR": ckpt,
        # force the at-scale regime from batch one: bloom + bucketed reads +
        # MOR state tables (the knob under test — constructor-only in r5)
        "BLOOM_MIN_SEEN": "0",
        "MAX_BATCHES": "3",
    }
    op = H._proxy_opener(base)
    try:
        # the env knob reaches the DrainLoop constructor
        _cfg, _cat, probe = _build_loop(env, spark, op)
        assert probe.bloom_min_seen == 0

        main(env=env, spark=spark, opener=op)  # partial drain, default stamp
        cat = Catalog(spark, ckpt)
        assert cat.latest()["meta"]["bucket_scheme"]["seen"] == 32

        # operator-side migration: same env the drain uses + the new count
        migrated = maintain(
            "migrate-buckets", env={**env, "SEEN_BUCKETS": "64"}, spark=spark, opener=op
        )
        mmeta = migrated.latest()["meta"]
        assert mmeta["bucket_scheme"]["seen"] == 64
        seen_parts = migrated.latest()["parts"].get("seen", {})
        assert seen_parts and max(int(b) for b in seen_parts) < 64

        # the resumed drain (entrypoint, same env) must use PRUNED seen
        # reads at the migrated geometry
        calls: list[list[int]] = []
        orig_rb = Catalog.read_buckets

        def spy(self, name, buckets, schema=None):
            if name == "seen":
                calls.append(sorted(int(b) for b in buckets))
            return orig_rb(self, name, buckets, schema)

        monkeypatch.setattr(Catalog, "read_buckets", spy)
        catalog, _stats, _ = main(
            env={**env, "SEEN_BUCKETS": "64", "MAX_BATCHES": "60"},
            spark=spark,
            opener=op,
        )
        monkeypatch.setattr(Catalog, "read_buckets", orig_rb)
        assert calls, "no bucketed seen read — pruning did not re-engage"
        assert all(b < 64 for c in calls for b in c)
        got = {r["url_canon"] for r in catalog.read("fetched").collect()}

        # control: one fresh uninterrupted run, default geometry
        ctl_env = {
            "ROOT_URLS": "https://www.gov.uk/",
            "CHECKPOINT_DIR": tempfile.mkdtemp(prefix="mig_ctl_"),
            "BLOOM_MIN_SEEN": "0",
            "MAX_BATCHES": "60",
        }
        control, _s, _ = main(env=ctl_env, spark=spark, opener=op)
        want = {r["url_canon"] for r in control.read("fetched").collect()}
        assert got == want
        # the forced-threshold regime actually engaged at-scale machinery
        assert "bloom" in control.latest()["meta"]

        # maintenance smoke: compact + reconcile advance the catalog without
        # changing crawl results
        n0 = control.latest()["commit_id"]
        maintain("compact", env=ctl_env, spark=spark, opener=op)
        maintain("reconcile", env=ctl_env, spark=spark, opener=op)
        after = Catalog(spark, ctl_env["CHECKPOINT_DIR"])
        assert after.latest()["commit_id"] > n0
        assert {r["url_canon"] for r in after.read("fetched").collect()} == want
    finally:
        srv.shutdown()
