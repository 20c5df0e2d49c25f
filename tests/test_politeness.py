"""Salted politeness pacing: per-host cadence never violated, buckets
interleave, the schedule's salt is the claim's, live Crawl-delay paces,
robots user-agent groups selected."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from govuk_crawler_worker_spark.config import CrawlConfig
from govuk_crawler_worker_spark.operators.politeness import pace_claim
from govuk_crawler_worker_spark.plans import schemas as S


def _claim(spark, n_hot=40, n_cold=6):
    rows = []
    for i in range(n_hot):
        url = f"https://hot.gov.uk/p{i:03d}"
        rows.append((url, url, hash(url), "hot.gov.uk", 0, 0, 0, 0, 0, "seed"))
    for i in range(n_cold):
        url = f"https://cold.gov.uk/p{i:03d}"
        rows.append((url, url, hash(url), "cold.gov.uk", 0, 0, 0, 0, 0, "seed"))
    return spark.createDataFrame(rows, S.FRONTIER_SCHEMA)


def test_pacing_respects_per_host_delay(spark):
    cfg = CrawlConfig(crawl_delay_by_host={"hot.gov.uk": 2.0}, host_salt_buckets=4)
    paced = pace_claim(_claim(spark), cfg).collect()
    hot = sorted(r["fetch_offset_s"] for r in paced if r["host"] == "hot.gov.uk")
    # global cadence: offsets must be ≥ delay apart (interleaved buckets)
    diffs = [b - a for a, b in zip(hot, hot[1:])]
    assert all(d >= 2.0 - 1e-9 for d in diffs), diffs[:5]
    # cold host has no delay → all immediate
    assert all(r["fetch_offset_s"] == 0.0 for r in paced if r["host"] == "cold.gov.uk")


def test_hot_host_split_across_buckets(spark):
    cfg = CrawlConfig(crawl_delay_by_host={"hot.gov.uk": 1.0}, host_salt_buckets=4)
    paced = pace_claim(_claim(spark), cfg).collect()
    salts = {r["salt"] for r in paced if r["host"] == "hot.gov.uk"}
    assert len(salts) >= 3  # skew actually spread over buckets


def test_pacing_deterministic(spark):
    cfg = CrawlConfig(crawl_delay_by_host={"hot.gov.uk": 2.0}, host_salt_buckets=4)
    a = sorted(map(tuple, pace_claim(_claim(spark), cfg).collect()))
    b = sorted(map(tuple, pace_claim(_claim(spark), cfg).collect()))
    assert a == b


def _frontier(spark, n):
    rows = [
        (u, u, 0, "www.gov.uk", 0, 0, 0, 0, 0, "seed")
        for u in (f"https://www.gov.uk/p{i:03d}" for i in range(n))
    ]
    # url_hash as the drain computes it
    return spark.createDataFrame(rows, S.FRONTIER_SCHEMA).withColumn(
        "url_hash", F.xxhash64("url_canon")
    )


def _claim_stage(spark, tmp_path, cfg, frontier, live_delays=None, b=0):
    from govuk_crawler_worker_spark.plans.fetch import HttpFetcher
    from govuk_crawler_worker_spark.plans.pipeline import DrainLoop
    from govuk_crawler_worker_spark.sources.catalog import Catalog

    loop = DrainLoop(
        spark, Catalog(spark, str(tmp_path / "cat")), cfg, fetcher=HttpFetcher(cfg)
    )
    return loop._claim_stage(frontier, b, frontier.count(), live_delays)


def test_host_salt_matches_simulator(spark):
    import zlib

    from govuk_crawler_worker_spark.operators.politeness import host_salt_col

    urls = [f"https://www.gov.uk/guidance/doc-{i}?page={i % 7}" for i in range(300)]
    df = spark.createDataFrame([(u,) for u in urls], "url_canon string")
    for k in (8, 3):
        got = dict(df.select("url_canon", host_salt_col(k).alias("s")).collect())
        assert got == {u: zlib.crc32(u.encode("utf-8")) % k for u in urls}


def test_budget_full_claim_schedule_fits_batch_period(spark, tmp_path):
    # B = P/d = 8 over k = 8 salts: the claim takes one row per salt, so
    # pacing on the claim's salt puts the last fetch at 7 s; a different
    # salt stacks rows in one bucket and runs past the batch period
    cfg = CrawlConfig(
        root_urls=("https://www.gov.uk/",),
        crawl_delay_by_host={"www.gov.uk": 1.0},
        batch_period_s=8.0,
        host_salt_buckets=8,
    )
    claimed = _claim_stage(spark, tmp_path, cfg, _frontier(spark, 40))
    offs = sorted(r["fetch_offset_s"] for r in pace_claim(claimed, cfg).collect())
    assert len(offs) == cfg.host_budget("www.gov.uk")
    assert max(offs) < cfg.batch_period_s, offs
    assert offs == [float(s) for s in range(8)]


@pytest.mark.parametrize("b", [1, 5])
def test_budget_remainder_schedule_fits_batch_period(spark, tmp_path, b):
    # B = 9 over k = 8: the extra row rotates to salt (k - b) % k, which
    # takes the schedule's first slot in batch b, not the slot of its salt
    cfg = CrawlConfig(
        root_urls=("https://www.gov.uk/",),
        crawl_delay_by_host={"www.gov.uk": 1.0},
        batch_period_s=9.0,
        host_salt_buckets=8,
    )
    claimed = _claim_stage(spark, tmp_path, cfg, _frontier(spark, 60), b=b)
    offs = sorted(r["fetch_offset_s"] for r in pace_claim(claimed, cfg).collect())
    assert offs == [float(s) for s in range(9)]


def test_live_crawl_delay_spaces_the_schedule(spark, tmp_path):
    # no configured delay: only the live robots.txt Crawl-delay of 2 s
    cfg = CrawlConfig(root_urls=("https://www.gov.uk/",), host_salt_buckets=4)
    live = spark.createDataFrame([("www.gov.uk", 2.0)], "host string, crawl_delay double")
    claimed = _claim_stage(spark, tmp_path, cfg, _frontier(spark, 40), live)
    offs = sorted(r["fetch_offset_s"] for r in pace_claim(claimed, cfg).collect())
    assert len(offs) == int(cfg.batch_period_s / 2.0)  # the live budget
    diffs = [b - a for a, b in zip(offs, offs[1:])]
    assert all(d >= 2.0 - 1e-9 for d in diffs), offs


class TestRobotsParser:
    """User-agent group selection of the one robots.txt parser
    (``plans.robots.parse_robots_policy``)."""

    @staticmethod
    def _dis(txt, agent):
        from govuk_crawler_worker_spark.plans.robots import parse_robots_policy

        return tuple(p for p, allow in parse_robots_policy(txt, agent)[0] if not allow)

    def test_groups_and_agent_specificity(self):
        txt = """
# site rules
User-agent: *
Disallow: /search
Disallow: /admin

User-agent: govuk_crawler_worker_spark
User-agent: govuk_crawler
Disallow: /private

User-agent: otherbot
Disallow: /
"""
        assert self._dis(txt, "randombot") == ("/search", "/admin")
        # exact agent beats *
        assert self._dis(txt, "govuk_crawler") == ("/private",)
        # substring match: UA string contains the token
        assert self._dis(txt, "govuk_crawler_worker_spark/0.1.0 on host 'x'") == ("/private",)
        assert self._dis(txt, "otherbot") == ("/",)

    def test_empty_disallow_allows_all(self):
        assert self._dis("User-agent: *\nDisallow:\n", "x") == ()
        assert self._dis("", "x") == ()
