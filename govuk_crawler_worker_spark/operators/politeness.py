"""Per-host politeness: the claim's salted host buckets and their fetch
schedule.

Two layers enforce politeness (north rule: robots rules + crawl-delay budgets
at 10^10-URL frontier scale, replacing the reference's implicit per-URL
serialization across 4 fetch goroutines, workflow.go:146-148):

1. **Claim budget** (plans/pipeline.py): at most ``batch_period/delay`` URLs
   per host enter a batch, split over the k = ``host_salt_buckets`` salts of
   :func:`host_salt_col` — a window rank, fully JVM-side.  This bounds the
   work; it is what the sim-equality tests pin.

2. **In-batch pacing** (:func:`pace_claim`): the fetcher must also SPACE
   requests inside the batch.  A JVM window over the same (host, salt)
   buckets assigns each row a ``fetch_offset_s``: bucket ``s`` of ``k``
   fetches at ``s·delay, s·delay + k·delay, s·delay + 2k·delay, …`` — the k
   buckets interleave into a per-host cadence of exactly ``delay`` seconds
   while each bucket can run on its own executor.  Hot hosts are thereby
   split across the cluster (skew kill) WITHOUT violating the per-host
   delay.  The HTTP fetcher (plans/fetch.py) sleeps to these offsets; the
   table fetcher does not pace.

robots.txt: path-prefix disallow rules per host (config.robots_disallow),
applied as a vectorized filter at claim time — same plan shape as the
blacklist (crawler_message_item.go:239-247).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def host_salt_col(k: int, b: int = 0):
    """A row's salt ``(crc32(url_canon) + b) % k``; at ``b = 0`` the
    simulator's ``zlib.crc32(url_canon) % k``.  The claim splits each host's
    budget over these k buckets.  Rotated by the batch id it is the bucket's
    slot in that batch's schedule: the budget's remainder goes to the lowest
    slots, so a claim of B rows per host fills slots ``0 … B-1``."""
    return F.pmod(F.crc32(F.col("url_canon").cast("binary")) + F.lit(b), F.lit(k))


def pace_claim(claimed: DataFrame, config) -> DataFrame:
    """Claimed rows + ``salt`` and ``fetch_offset_s``, hash-partitioned on
    (host, salt) into root hosts × ``host_salt_buckets`` partitions.

    ``salt`` is the claim's batch slot when the claim tagged one, else the
    batch-0 salt.  Slot s fetches at ``s·d, s·d + k·d, …``, so a claim
    within its budget B ends before ``B·d``, inside the batch period.  The
    rank window runs on the (host, salt) exchange (no second shuffle).  A
    host's delay ``d`` is its configured one, raised to the live robots.txt
    ``Crawl-delay`` when the claim carries a ``crawl_delay`` column."""
    k = config.host_salt_buckets
    delay = F.lit(float(config.default_crawl_delay_s))
    for host, d in config.crawl_delay_by_host.items():
        delay = F.when(F.col("host") == host, F.lit(float(d))).otherwise(delay)
    if "crawl_delay" in claimed.columns:
        delay = F.greatest(delay, F.col("crawl_delay"))  # NULL-skipping
    if "salt" not in claimed.columns:
        claimed = claimed.withColumn("salt", host_salt_col(k))
    w = Window.partitionBy("host", "salt").orderBy(
        F.col("priority").desc(), F.col("url_canon").asc()
    )
    rank = F.row_number().over(w) - 1
    return claimed.repartition(
        len(config.root_hosts_no_port) * k, "host", "salt"
    ).withColumn("fetch_offset_s", (F.col("salt") + rank * k) * delay)


def robots_disallowed_col(config, url_col: str = "url", host_col: str = "host"):
    """Columnar predicate: URL disallowed by per-host robots rules — an
    OR-fold of (host == h AND startswith(path, prefix)).  Pure expressions,
    whole-stage codegen'd; used by the claim route (robots_drop)."""
    if not config.robots_disallow:
        return F.lit(False)
    path = F.parse_url(F.col(url_col), F.lit("PATH"))
    disallowed = F.lit(False)
    for host, prefixes in config.robots_disallow.items():
        for p in prefixes:
            disallowed = disallowed | (
                (F.col(host_col) == host) & path.startswith(p)
            )
    return disallowed


def robots_disallowed_py(config, url: str, host: str) -> bool:
    """Pure-Python twin of ``robots_disallowed_col`` for the simulator."""
    prefixes = config.robots_disallow.get(host)
    if not prefixes:
        return False
    from urllib.parse import urlsplit

    try:
        path = urlsplit(url).path
    except ValueError:
        return False
    return any(path.startswith(p) for p in prefixes)
