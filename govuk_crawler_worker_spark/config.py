"""Crawl configuration.

Mirrors the reference's flat env-var config surface (``main.go:22-38``):
ROOT_URLS, BLACKLIST_PATHS (default ``/search,/government/uploads``),
MAX_CRAWL_RETRIES (4), TTL_EXPIRE_TIME (12h), CRAWLER_THREADS (4), AMQP
prefetch Qos(5) — re-expressed as batch-engine knobs.  The config object is
small and is broadcast implicitly by closure capture into UDFs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


def _split_paths(raw: str) -> list[str]:
    """Comma-split of the blacklist config (reference ``main.go:154-167``)."""
    return [p for p in (s.strip() for s in raw.split(",")) if p]


@dataclass(frozen=True)
class CrawlConfig:
    # Allowed-domain whitelist (reference ROOT_URLS, main.go:23-24). Stored as
    # full root URL strings; host matching has TWO semantics (see urlnorm):
    # extraction compares host WITH port (crawler_message_item.go:170-172),
    # the fetch gate compares WITHOUT port (crawler.go:154-169).
    root_urls: tuple[str, ...] = ("https://www.gov.uk/",)

    # Path-prefix blacklist (main.go:25).
    blacklist_paths: tuple[str, ...] = ("/search", "/government/uploads")

    # Retry budget: a URL whose seen-state exceeds this is reject-dropped
    # before fetch (workflow.go:93-98; default main.go:29).
    max_crawl_retries: int = 4

    # Seen-set TTL in seconds (reference TTL_EXPIRE_TIME=12h, main.go:35).
    ttl_expire_s: float = 12 * 3600.0

    # 429 back-off (workflow.go:109) — becomes a not_before_ts column, never
    # an executor sleep.
    backoff_429_s: float = 5.0

    # Per-micro-batch claim limit — the batch analogue of AMQP prefetch
    # Qos(5) (queue_connection.go:30) scaled to set-at-a-time execution.
    claim_limit: int = 10_000

    # Politeness: default per-host crawl delay (seconds between requests to
    # one host) and the micro-batch period used to turn the delay into a
    # per-host per-batch fetch budget.  New per the north rule (the reference
    # serializes per-host implicitly via its 4 fetch goroutines).
    default_crawl_delay_s: float = 0.0
    crawl_delay_by_host: dict[str, float] = field(default_factory=dict)
    batch_period_s: float = 30.0

    # robots.txt-style per-host path-prefix disallow rules (north rule).
    robots_disallow: dict[str, tuple[str, ...]] = field(default_factory=dict)
    # refresh horizon for LIVE-fetched robots.txt rules (DrainLoop
    # fetch_robots=True; seconds → batches via batch_period_s, like the TTL)
    robots_ttl_s: float = 24 * 3600.0

    # Skew: number of salt buckets a hot host is split into for the
    # politeness budget and the fetch schedule.
    host_salt_buckets: int = 8

    def __post_init__(self):
        # the reference panics on a non-positive thread count
        # (workflow.go NewCrawlerWorkflow guard, workflow_test.go:235-245);
        # our batch-engine analogues get the same fail-fast treatment
        if self.claim_limit < 1:
            raise ValueError("claim_limit must be >= 1 (the Qos/prefetch analogue)")
        if self.host_salt_buckets < 1:
            raise ValueError("host_salt_buckets must be >= 1")
        if self.batch_period_s <= 0:
            raise ValueError("batch_period_s must be > 0")
        if self.max_crawl_retries < 0:
            raise ValueError("max_crawl_retries must be >= 0")
        if not self.root_urls:
            raise ValueError("at least one root URL is required")

    @property
    def root_hosts_with_port(self) -> tuple[str, ...]:
        from govuk_crawler_worker_spark.functions.urlnorm import host_with_port

        return tuple(dict.fromkeys(host_with_port(u) for u in self.root_urls))

    @property
    def root_hosts_no_port(self) -> tuple[str, ...]:
        from govuk_crawler_worker_spark.functions.urlnorm import host_only, host_with_port

        return tuple(dict.fromkeys(host_only(host_with_port(u)) for u in self.root_urls))

    def host_budget(self, host: str) -> int:
        """Max fetches for one host in one micro-batch.

        delay=0 → unbounded (use claim_limit).  Else floor(period/delay),
        min 1, so a politeness budget is never violated by a single batch.
        """
        delay = self.crawl_delay_by_host.get(host, self.default_crawl_delay_s)
        if delay <= 0:
            return self.claim_limit
        return max(1, int(self.batch_period_s / delay))

    @classmethod
    def from_env(cls, env: dict[str, str] | None = None) -> "CrawlConfig":
        """Build from env vars with reference-compatible names/defaults
        (util.GetEnvDefault, ``util/util.go:17-24``; defaults ``main.go:22-38``).
        """
        e = os.environ if env is None else env
        return cls(
            root_urls=tuple(_split_paths(e.get("ROOT_URLS", "https://www.gov.uk/"))),
            blacklist_paths=tuple(
                _split_paths(e.get("BLACKLIST_PATHS", "/search,/government/uploads"))
            ),
            max_crawl_retries=int(e.get("MAX_CRAWL_RETRIES", "4")),
            ttl_expire_s=float(e.get("TTL_EXPIRE_TIME_S", str(12 * 3600))),
            claim_limit=int(e.get("CLAIM_LIMIT", "10000")),
        )
