"""HttpFetcher: the paced mapInPandas fetch with an injected opener —
headers, pacing, plan shape, status routing, host gate (no outbound
network; the opener is faked or points at a local server)."""

from __future__ import annotations

import re
import zlib

import pytest
from pyspark.sql import functions as F

from govuk_crawler_worker_spark.config import CrawlConfig
from govuk_crawler_worker_spark.plans import schemas as S
from govuk_crawler_worker_spark.plans.fetch import HttpFetcher


def _claim(spark, urls):
    rows = [
        (u, u, hash(u), u.split("/")[2].split(":")[0], 0, 0, 0, 0, 0, "seed")
        for u in urls
    ]
    return spark.createDataFrame(rows, S.FRONTIER_SCHEMA)


def make_fake_opener():
    # defined as a closure so cloudpickle ships it BY VALUE to executors
    # (a module-level function in a test module is pickled by reference and
    # is unimportable in the Python workers)
    def fake_opener(url, headers, timeout_s):
        assert headers["User-Agent"].startswith("govuk_crawler_worker_spark/")
        assert headers["Rate-Limit-Token"] == "tok123"
        if url.endswith("/moved"):
            return 301, "text/html", b"", "https://www.gov.uk/target"
        if url.endswith("/busy"):
            return 429, "text/html", b"", url
        if url.endswith("/missing"):
            raise OSError("connection refused")
        return 200, "text/html; charset=utf-8", b'<a href="/next">n</a>', url

    return fake_opener


def test_http_fetcher_routing_and_headers(spark):
    cfg = CrawlConfig(root_urls=("https://www.gov.uk/",))
    fetcher = HttpFetcher(cfg, opener=make_fake_opener(), rate_limit_token="tok123")
    claimed = _claim(
        spark,
        [
            "https://www.gov.uk/ok",
            "https://www.gov.uk/moved",
            "https://www.gov.uk/busy",
            "https://www.gov.uk/missing",
            "https://evil.example.com/x",
        ],
    )
    out = {r["url"]: r.asDict() for r in fetcher.fetch(claimed).collect()}
    assert out["https://www.gov.uk/ok"]["status"] == 200
    assert out["https://www.gov.uk/ok"]["body_html"] == '<a href="/next">n</a>'
    assert out["https://www.gov.uk/moved"]["status"] == 301
    assert out["https://www.gov.uk/moved"]["redirect_to"] == "https://www.gov.uk/target"
    assert out["https://www.gov.uk/busy"]["status"] == 429
    assert out["https://www.gov.uk/missing"]["status"] == 404  # transport error → drop
    assert out["https://evil.example.com/x"]["status"] == 490  # host gate (no-port)


def test_http_fetcher_paces_within_bucket(spark):
    # crawl delay 0.05s on the host; record sleeps instead of sleeping
    cfg = CrawlConfig(
        root_urls=("https://www.gov.uk/",),
        crawl_delay_by_host={"www.gov.uk": 0.05},
        host_salt_buckets=2,
    )
    fetcher = HttpFetcher(cfg, opener=make_fake_opener(), rate_limit_token="tok123", sleep=lambda s: None)
    claimed = _claim(spark, [f"https://www.gov.uk/p{i}" for i in range(8)])
    out = fetcher.fetch(claimed)
    rows = out.collect()
    assert len(rows) == 8
    # offsets interleave across 2 buckets with global cadence ≥ delay
    offs = sorted(r["fetch_offset_s"] for r in rows)
    diffs = [b - a for a, b in zip(offs, offs[1:])]
    assert all(d >= 0.05 - 1e-9 for d in diffs)


def _paced_config():
    return CrawlConfig(
        root_urls=("https://www.gov.uk/",),
        crawl_delay_by_host={"www.gov.uk": 1.0},
        host_salt_buckets=8,
    )


def _frontier(spark, n):
    # url_hash as the drain computes it
    claimed = _claim(spark, [f"https://www.gov.uk/p{i:03d}" for i in range(n)])
    return claimed.withColumn("url_hash", F.xxhash64("url_canon"))


def test_http_fetcher_plans_one_exchange_and_one_python_stage(spark):
    fetcher = HttpFetcher(
        _paced_config(), opener=make_fake_opener(), rate_limit_token="tok123",
        sleep=lambda s: None,
    )
    out = fetcher.fetch(_frontier(spark, 16), epoch=0.0)
    assert len(out.collect()) == 16
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE prints both
    assert final.count("Exchange hashpartitioning") == 1, final
    assert len(re.findall(r"\w+(?:InPandas|EvalPython|InArrow)\b", final)) == 1, final


def test_http_fetcher_spaces_requests_within_each_task(spark, tmp_path):
    """Whatever (host, salt) buckets one task holds, its requests to the
    host are at least one crawl-delay apart on the task's own clock."""
    log = str(tmp_path / "requests")

    class TaskClock:
        # defined in the test: cloudpickle ships it by value, and each task
        # unpickles its own instance — a virtual clock per task
        def __init__(self):
            self.t = 0.0

        def sleep(self, s):
            self.t += s

        def now(self):
            return self.t

        def opener(self, url, headers, timeout_s):
            from pyspark import TaskContext

            with open(log, "a") as fh:
                fh.write(f"{TaskContext.get().partitionId()} {self.t} {url}\n")
            return 200, "text/html", b"<p>leaf</p>", url

    clock = TaskClock()
    cfg = _paced_config()
    fetcher = HttpFetcher(cfg, opener=clock.opener, sleep=clock.sleep, now=clock.now)
    assert fetcher.fetch(_frontier(spark, 32), epoch=0.0).count() == 32
    by_task: dict[int, list[float]] = {}
    salts: dict[int, set[int]] = {}
    with open(log) as fh:
        for line in fh:
            pid, t, url = line.split()
            by_task.setdefault(int(pid), []).append(float(t))
            salts.setdefault(int(pid), set()).add(zlib.crc32(url.encode()) % 8)
    assert sum(map(len, by_task.values())) == 32
    assert max(map(len, salts.values())) > 1  # some task holds 2+ buckets
    delay = cfg.crawl_delay_by_host["www.gov.uk"]
    gaps = [b - a for ts in by_task.values() for a, b in zip(ts, ts[1:])]
    assert min(gaps) >= delay - 1e-9, by_task


class TestDefaultOpener:
    """The production opener against a real local HTTP server: redirects
    must surface as 3xx statuses (NOT be followed), 429/5xx must surface as
    real statuses (NOT collapse into the transport-error path), and only
    genuine transport errors raise."""

    @staticmethod
    def _server():
        import threading
        from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

        class H(BaseHTTPRequestHandler):
            def do_GET(self):
                route = self.path
                if route == "/moved":
                    self.send_response(301)
                    self.send_header("Location", "/target")
                    self.end_headers()
                elif route == "/busy":
                    self.send_response(429)
                    self.send_header("Content-Type", "text/html")
                    self.end_headers()
                    self.wfile.write(b"slow down")
                elif route == "/boom":
                    self.send_response(503)
                    self.end_headers()
                elif route == "/gone":
                    self.send_response(404)
                    self.end_headers()
                else:
                    self.send_response(200)
                    self.send_header("Content-Type", "text/html; charset=utf-8")
                    self.end_headers()
                    self.wfile.write(b'<a href="/next">n</a>')

            def log_message(self, *a):  # quiet
                pass

        srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        return srv, f"http://127.0.0.1:{srv.server_address[1]}"

    def test_statuses_surface_and_redirects_not_followed(self):
        from govuk_crawler_worker_spark.plans.fetch import default_opener

        srv, base = self._server()
        try:
            status, ctype, body, final = default_opener(base + "/ok", {}, 5.0)
            assert (status, body) == (200, b'<a href="/next">n</a>')
            assert ctype.startswith("text/html")

            status, _, _, final = default_opener(base + "/moved", {}, 5.0)
            assert status == 301
            assert final == base + "/target"  # resolved, NOT fetched

            assert default_opener(base + "/busy", {}, 5.0)[0] == 429
            assert default_opener(base + "/boom", {}, 5.0)[0] == 503
            assert default_opener(base + "/gone", {}, 5.0)[0] == 404
        finally:
            srv.shutdown()

    def test_transport_error_raises(self):
        import pytest

        from govuk_crawler_worker_spark.plans.fetch import default_opener

        # unroutable port on localhost → URLError/OSError path
        with pytest.raises(Exception):
            default_opener("http://127.0.0.1:9/x", {}, 0.5)


@pytest.mark.parametrize("session_parts", ["8", "32"])
def test_drain_batch_keeps_fetch_width(spark, tmp_path, session_parts):
    """A small drain batch narrows its shuffles to the rows it moves, but
    the paced fetch keeps root hosts × salts partitions, whatever the
    session width, so the host's salt buckets can fetch in parallel."""
    from govuk_crawler_worker_spark.plans.pipeline import DrainLoop, scoped_confs
    from govuk_crawler_worker_spark.sources.catalog import Catalog
    from govuk_crawler_worker_spark.sources.world import build_world, world_to_spark

    world = build_world(n_pages=18, seed=42)
    payload, _, seeds = world_to_spark(spark, world)
    stage_log = str(tmp_path / "fetch_stages")

    def opener(url, headers, timeout_s):  # closure: shipped by value
        from pyspark import TaskContext

        with open(stage_log, "a") as fh:
            fh.write(f"{TaskContext.get().stageId()}\n")
        return 200, "text/html", b"<p>leaf</p>", url

    fetcher = HttpFetcher(world.config, opener=opener, sleep=lambda s: None)
    loop = DrainLoop(
        spark, Catalog(spark, str(tmp_path / "cat")), world.config, payload=payload,
        fetcher=fetcher,
    )
    loop.seed(seeds)
    key = "spark.sql.shuffle.partitions"
    with scoped_confs(spark, [key]):
        spark.conf.set(key, session_parts)
        n = loop.frontier_size()
        assert 0 < n < 2000  # a wave the sizing rule narrows to 1 partition
        assert loop.run_batch(0, eligible_hint=n).fetched > 0
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    with open(stage_log) as fh:
        stages = {int(line) for line in fh}
    groups = len(world.config.root_hosts_no_port) * world.config.host_salt_buckets
    assert [sc.statusTracker().getStageInfo(s).numTasks for s in stages] == [groups]
