"""Healthcheck roll-up (A8) + in-drain per-batch payload validation."""

from __future__ import annotations

import json
import tempfile

from pyspark.sql import functions as F

from govuk_crawler_worker_spark.plans import schemas as S
from govuk_crawler_worker_spark.plans.healthcheck import (
    STATUS_CRITICAL,
    STATUS_OK,
    batch_status,
    healthcheck,
    healthcheck_json,
)
from govuk_crawler_worker_spark.plans.pipeline import DrainLoop
from govuk_crawler_worker_spark.sources.catalog import Catalog
from govuk_crawler_worker_spark.sources.world import build_world, world_to_spark


class TestHealthcheck:
    def test_max_status_rollup(self, spark):
        rows = [
            (0, "crawl_url", 100.0, 10, STATUS_OK),
            (0, "publish_urls", 50.0, 10, STATUS_CRITICAL),
            (1, "crawl_url", 10.0, 5, STATUS_OK),
        ]
        m = spark.createDataFrame(rows, S.METRICS_SCHEMA)
        out = {r["batch_id"]: r["status"] for r in batch_status(m).collect()}
        # overall = max of check statuses (healthcheck.go:143-150)
        assert out == {0: STATUS_CRITICAL, 1: STATUS_OK}

    def test_slow_stage_derives_warning(self, spark):
        m = spark.createDataFrame(
            [(0, "crawl_url", 90_000.0, 10, STATUS_OK)], S.METRICS_SCHEMA
        )
        assert batch_status(m).collect()[0]["status"] == 1

    def test_healthcheck_over_drained_catalog(self, spark):
        world = build_world(n_pages=12, seed=5)
        payload, content, seeds = world_to_spark(spark, world)
        catalog = Catalog(spark, tempfile.mkdtemp(prefix="hc_"))
        loop = DrainLoop(spark, catalog, world.config, content.cache(), payload.cache())
        loop.seed(seeds)
        loop.drain(max_batches=30)
        status = healthcheck(catalog)
        assert status["status"] == "ok"
        assert status["checks"]["latest_batch"]["total_ms"] > 0
        parsed = json.loads(healthcheck_json(catalog))
        assert parsed["status"] == "ok"


class TestInDrainValidation:
    def test_validation_table_appended_per_batch(self, spark):
        world = build_world(n_pages=16, seed=6)
        payload, content, seeds = world_to_spark(spark, world)
        origin = spark.createDataFrame(world.origin)
        catalog = Catalog(spark, tempfile.mkdtemp(prefix="val_"))
        loop = DrainLoop(
            spark,
            catalog,
            world.config,
            content.cache(),
            payload.cache(),
            origin=origin,
        )
        loop.seed(seeds)
        loop.drain(max_batches=30)
        report = catalog.read("validation")
        rows = report.collect()
        assert len(rows) > 3
        assert all(
            r["pixels_ok"] and r["caption_ok"] and r["phash_ok"] and r["dims_ok"]
            for r in rows
        )
        # lossy rows carry finite PSNR ≥ 40
        lossy = [r["psnr"] for r in rows if r["psnr"] < 1e9]
        assert lossy and min(lossy) >= 40.0
        # validation rows are batch-tagged and align with fetched image rows
        n_images = (
            catalog.read("fetched").where(F.col("image_id").isNotNull()).count()
        )
        assert len(rows) == n_images
