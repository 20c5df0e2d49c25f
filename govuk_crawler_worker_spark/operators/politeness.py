"""Per-host politeness: salted groupBy-applyInPandas pacing buckets.

Two layers enforce politeness (north rule: robots rules + crawl-delay budgets
at 10^10-URL frontier scale, replacing the reference's implicit per-URL
serialization across 4 fetch goroutines, workflow.go:146-148):

1. **Claim budget** (plans/pipeline.py): at most ``batch_period/delay`` URLs
   per host enter a batch — a window rank, fully JVM-side.  This bounds the
   work; it is what the sim-equality tests pin.

2. **In-batch pacing** (this module): the fetcher must also SPACE requests
   inside the batch.  One pandas group per (host, salt) assigns each row a
   ``fetch_offset_s`` schedule: bucket ``s`` of ``k`` fetches at times
   ``s·delay, s·delay + k·delay, s·delay + 2k·delay, …`` — the k buckets
   interleave into a global per-host cadence of exactly ``delay`` seconds
   while each bucket runs independently on its own executor.  Hot hosts are
   thereby split across the cluster (skew kill) WITHOUT violating the
   per-host delay.  An HTTP fetcher sleeps to its offsets; the synthetic
   table fetcher records them so tests can assert the cadence.

robots.txt: path-prefix disallow rules per host (config.robots_disallow),
applied as a vectorized filter at claim time — same plan shape as the
blacklist (crawler_message_item.go:239-247).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PACED_EXTRA_COLS = "salt int, fetch_seq int, fetch_offset_s double"


def with_host_salt(df: DataFrame, n_salts: int, url_hash_col: str = "url_hash") -> DataFrame:
    return df.withColumn("salt", F.pmod(F.col(url_hash_col), F.lit(n_salts)).cast("int"))


def pace_claim(
    claimed: DataFrame,
    config,
    order_cols: tuple[str, ...] = ("priority", "url_canon"),
) -> DataFrame:
    """Assign deterministic fetch schedules per (host, salt) bucket.

    Shuffle key = (host, salt): a hot host with 10^7 eligible rows spreads
    over ``host_salt_buckets`` groups instead of one straggler task.  Offsets
    interleave so the HOST sees one request per ``delay`` regardless of how
    many buckets run in parallel.
    """
    n_salts = config.host_salt_buckets
    delays = dict(config.crawl_delay_by_host)
    default_delay = config.default_crawl_delay_s

    df = with_host_salt(claimed, n_salts)
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in claimed.schema.fields
    ) + ", " + PACED_EXTRA_COLS

    def pace(key, pdf: pd.DataFrame) -> pd.DataFrame:
        host, salt = key
        delay = delays.get(host, default_delay)
        pdf = pdf.sort_values(["priority", "url_canon"], ascending=[False, True]).copy()
        pdf["fetch_seq"] = range(len(pdf))
        if delay <= 0:
            pdf["fetch_offset_s"] = 0.0
        else:
            stride = delay * n_salts
            pdf["fetch_offset_s"] = salt * delay + pdf["fetch_seq"] * stride
        pdf["salt"] = salt
        return pdf

    return df.groupBy("host", "salt").applyInPandas(pace, out_schema)


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
