"""Fetchers: how a claimed batch becomes fetch results.

Reference: ``http_crawler/crawler.go:50-127`` — GET with basic auth,
``Rate-Limit-Token`` header, versioned User-Agent; status routing 429/5XX/
404/redirect; host gate.

Two implementations behind ONE contract — ``fetch(claimed, epoch)`` maps
claim rows (which carry ``crawl_count``, the seen state) to the same rows +
``status int, content_type, body_html, redirect_to`` — and the pipeline's
route chain is driven purely by the returned ``status``, so both fetchers
exercise the identical downstream plan:

* **TableFetcher** — joins a content table (the synthetic web).  The join IS
  the fetch; transient faults are emulated by deriving an EFFECTIVE status
  (429 while ``busy_429_n > attempt_count``, 503 while ``fail_5xx_n`` not yet
  consumed) from the world's fault counters.  Hermetic test/bench path.
* **HttpFetcher** — the production path: the politeness schedule
  (operators/politeness.py:pace_claim) is computed JVM-side over the claim's
  (host, salt) buckets, each task's rows are sorted by their offset, and one
  ``mapInPandas`` pass fetches them in that order, sleeping to each row's
  shared-epoch offset — the host sees one request per crawl-delay across
  the whole cluster.

HttpFetcher is exercised through the FULL drain against a local HTTP server
(tests/test_http_fetcher.py, tests/test_pipeline_e2e.py) — the sandbox only
blocks OUTBOUND network.
"""

from __future__ import annotations

import time
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame

from govuk_crawler_worker_spark.config import CrawlConfig
from govuk_crawler_worker_spark.operators.politeness import pace_claim

FETCH_RESULT_COLS = (
    "status int, content_type string, body_html string, redirect_to string"
)

USER_AGENT_TEMPLATE = "govuk_crawler_worker_spark/{version} on host '{host}'"


class _NoRedirect:
    """Redirect handler that surfaces 3xx as-is instead of following it —
    the reference deliberately uses http.DefaultTransport.RoundTrip
    (crawler.go:84-90) so 301/302/303/307 reach the status router and the
    meta-refresh trick; auto-following would fetch cross-host without the
    host gate or pacing."""

    def __init__(self):
        import urllib.request

        class _Handler(urllib.request.HTTPRedirectHandler):
            # redirect_request returning None is the documented 'cannot
            # redirect' signal: urllib raises HTTPError carrying the 3xx
            # code + headers, which default_opener converts back into a
            # plain status result.
            def redirect_request(self, req, fp, code, msg, headers, newurl):
                return None

        self.handler = _Handler()


def default_opener(url: str, headers: dict[str, str], timeout_s: float):
    """stdlib GET → (status, content_type, body_bytes, final_url).

    Does NOT follow redirects (3xx surfaces as the status, final_url = the
    resolved Location target) and surfaces 4xx/5xx/429 as REAL statuses via
    HTTPError handling — so transient failures route to requeue/backoff, not
    a permanent 404-class drop.  Only genuine transport errors
    (URLError/OSError/timeout) propagate to the caller's error path."""
    import urllib.error
    import urllib.parse
    import urllib.request

    opener = urllib.request.build_opener(_NoRedirect().handler)
    req = urllib.request.Request(url, headers=headers)
    try:
        with opener.open(req, timeout=timeout_s) as resp:  # noqa: S310
            return (
                resp.status,
                resp.headers.get("Content-Type", ""),
                resp.read(),
                resp.geturl(),
            )
    except urllib.error.HTTPError as e:
        # a real HTTP response (3xx/4xx/5xx): use its code + headers
        status = int(e.code)
        ctype = e.headers.get("Content-Type", "") if e.headers else ""
        try:
            body = e.read()
        except Exception:  # noqa: BLE001 — body unavailable on some 3xx
            body = b""
        final_url = url
        if status in (301, 302, 303, 307, 308) and e.headers:
            loc = e.headers.get("Location")
            if loc:
                final_url = urllib.parse.urljoin(url, loc)
        e.close()
        return status, ctype, body, final_url


class TableFetcher:
    """Hermetic fetcher over a synthetic content table (the join IS the
    fetch).  Emulates the reference's transient-fault behavior
    (workflow_test.go:165-233) statelessly from the world's fault counters:

    * ``busy_429_n > attempt_count``              → effective status 429
    * ``fail_5xx_n > max(crawl_count-1, 0)``      → effective status 503
      (each 5XX increments seen, so the counter is consumed by crawl_count)
    * missing content row                         → status NULL (→ not_found)
    """

    # re-executable without side effects (a join) — lets the drain cache the
    # routed batch with persist() instead of a localCheckpoint job
    pure = True

    def __init__(self, content: DataFrame):
        self.content = content

    def fetch(self, claimed: DataFrame, epoch: float | None = None) -> DataFrame:
        from pyspark.sql import functions as F

        joined = claimed.join(self.content, "url", "left")
        eff = (
            F.when(F.col("status").isNull(), F.lit(None).cast("int"))
            .when(F.col("busy_429_n") > F.col("attempt_count"), F.lit(429))
            .when(
                F.col("fail_5xx_n") > F.greatest(F.col("crawl_count") - 1, F.lit(0)),
                F.lit(503),
            )
            .otherwise(F.col("status"))
        )
        return joined.withColumn("status", eff).drop("busy_429_n", "fail_5xx_n")


class HttpFetcher:
    # SIDE-EFFECTING (real GETs): the drain must materialize the routed
    # batch with an EAGER checkpoint before any multi-branch job so a
    # partition is never computed (= fetched) twice.  This is the default
    # for any fetcher that does not declare ``pure = True``.
    pure = False

    def __init__(
        self,
        config: CrawlConfig,
        opener: Callable | None = None,
        rate_limit_token: str | None = None,
        basic_auth: tuple[str, str] | None = None,
        timeout_s: float = 10.0,
        version: str = "0.1.0",
        sleep: Callable[[float], None] = time.sleep,
        now: Callable[[], float] = time.time,
    ):
        self.config = config
        self.opener = opener or default_opener
        self.rate_limit_token = rate_limit_token
        self.basic_auth = basic_auth
        self.timeout_s = timeout_s
        self.version = version
        self.sleep = sleep
        self.now = now

    def _headers(self, host: str) -> dict[str, str]:
        # crawler.go:64-75: basic auth, Rate-Limit-Token, versioned UA
        headers = {"User-Agent": USER_AGENT_TEMPLATE.format(version=self.version, host=host)}
        if self.rate_limit_token:
            headers["Rate-Limit-Token"] = self.rate_limit_token
        if self.basic_auth:
            import base64

            cred = base64.b64encode(":".join(self.basic_auth).encode()).decode()
            headers["Authorization"] = f"Basic {cred}"
        return headers

    def fetch(self, claimed: DataFrame, epoch: float | None = None) -> DataFrame:
        """claimed frontier rows → rows + fetch-result columns, fetched in
        schedule order: one (host, salt) exchange, a rank window on it, a
        per-task sort by ``fetch_offset_s`` and one ``mapInPandas`` pass.

        Every task anchors its schedule to a SHARED ``epoch`` (batch start
        wall-clock, captured on the driver) and sleeps until ``epoch +
        fetch_offset_s`` before each request, so the interleaved offsets
        hold across executors regardless of when each task starts (clock
        skew between executors is the residual error; the claim budget
        remains the hard per-batch bound).  A task holding several buckets
        of one host walks them merged in offset order, so packing buckets
        into one task keeps the crawl-delay spacing.

        The exchange has root hosts × ``host_salt_buckets`` partitions,
        whatever the session's shuffle width, so a drain that narrows its
        shuffles for a small batch does not narrow the fetch."""
        allowed = set(self.config.root_hosts_no_port)
        max_retries = self.config.max_crawl_retries
        opener = self.opener
        headers_for = self._headers
        timeout_s = self.timeout_s
        sleeper = self.sleep
        now_fn = self.now
        if epoch is None:
            epoch = self.now()

        paced = pace_claim(claimed, self.config).sortWithinPartitions("fetch_offset_s")
        out_schema = (
            ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in paced.schema.fields)
            + ", "
            + FETCH_RESULT_COLS
        )

        def fetch_row(row) -> tuple:
            # blacklist drop + retry gate (workflow.go:40-44, 93-98) checked
            # BEFORE the request — such rows must not consume the host's
            # politeness budget with a wasted fetch; the route chain
            # drops/deads them regardless of status
            if (
                getattr(row, "blacklisted", False)
                or getattr(row, "robots_blocked", False)
                or getattr(row, "crawl_count", 0) > max_retries
            ):
                return None, None, None, None
            # host gate WITHOUT port (crawler.go:154-169): not under a root
            # host → ErrCannotCrawlURL → reject-drop
            if row.host.split(":", 1)[0] not in allowed:
                return 490, None, None, None  # engine-internal: host-gate reject
            wait = (epoch + row.fetch_offset_s) - now_fn()
            if wait > 0:
                sleeper(wait)  # the shared-epoch politeness schedule
            try:
                status, ctype, body, final_url = opener(
                    row.url, headers_for(row.host), timeout_s
                )
                if status in (301, 302, 303, 307):
                    # meta-refresh trick (crawler.go:91-109): surface the
                    # target as the sole outlink
                    return int(status), ctype, None, final_url
                body = body.decode("utf-8", "replace") if body is not None else None
                return int(status), ctype, body, None
            except Exception:  # noqa: BLE001 — any transport error → 404-class drop
                return 404, None, None, None

        def fetch_task(batches):
            # rows arrive in offset order (sortWithinPartitions above)
            for pdf in batches:
                res = [fetch_row(row) for row in pdf.itertuples(index=False)]
                status, ctype, body, redirect = list(zip(*res)) or [()] * 4
                pdf["status"] = pd.array(status, dtype="Int32")  # nullable
                pdf["content_type"] = list(ctype)
                pdf["body_html"] = list(body)
                pdf["redirect_to"] = list(redirect)
                yield pdf

        return paced.mapInPandas(fetch_task, out_schema)
