"""Salted politeness pacing: per-host cadence never violated, buckets
interleave, robots user-agent groups selected."""

from __future__ import annotations

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


class TestRobotsParser:
    """User-agent group selection of the one robots.txt parser
    (``plans.robots.parse_robots``)."""

    @staticmethod
    def _dis(txt, agent):
        from govuk_crawler_worker_spark.plans.robots import parse_robots

        return tuple(p for p, allow in parse_robots(txt, agent) if not allow)

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
