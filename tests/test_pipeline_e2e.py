"""End-to-end: the Spark drain loop must reproduce the reference simulator
exactly — crawl set AND order (batch granularity), seen membership+states,
dead set, retry/requeue behavior — mirroring workflow_test.go scenarios
set-at-a-time (SURVEY.md §5)."""

from __future__ import annotations

import tempfile

import pytest

from govuk_crawler_worker_spark.plans import schemas as S
from govuk_crawler_worker_spark.plans.pipeline import DrainLoop
from govuk_crawler_worker_spark.plans.sim import simulate
from govuk_crawler_worker_spark.plans.validate import validate_fetched_images
from govuk_crawler_worker_spark.sources.catalog import Catalog
from govuk_crawler_worker_spark.sources.world import build_world, world_to_spark


def batch_tasks(spark, job_ids) -> int:
    """Tasks run by the stages of ``job_ids`` (a stage shared by two jobs
    counts once; a skipped stage, whose shuffle output was reused, runs 0)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # status store is async
    tracker = sc.statusTracker()
    stage_ids = {s for j in job_ids for s in tracker.getJobInfo(j).stageIds}
    return sum(tracker.getStageInfo(s).numCompletedTasks for s in stage_ids)


def count_batch_jobs(spark, loop):
    """Wrap ``loop.run_batch`` so each batch's Spark job count (the change
    in the scheduler's total) lands in ``loop.run_batch.jobs`` and the tasks
    those jobs ran in ``loop.run_batch.tasks``.  Job ids are sequential, so
    the batch's jobs are the ids between the two totals."""
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    run_batch = loop.run_batch

    def counted(b, eligible_hint=None):
        n0 = scheduler.numTotalJobs()
        try:
            return run_batch(b, eligible_hint)
        finally:
            n1 = scheduler.numTotalJobs()
            counted.jobs.append(n1 - n0)
            counted.tasks.append(batch_tasks(spark, range(n0, n1)))

    counted.jobs, counted.tasks = [], []
    loop.run_batch = counted


def run_drain(spark, world, tmp, **kw):
    payload, content, seeds = world_to_spark(spark, world)
    catalog = Catalog(spark, tmp)
    loop = DrainLoop(
        spark, catalog, world.config, content.cache(), payload.cache(), **kw
    )
    loop.seed(seeds)
    count_batch_jobs(spark, loop)
    stats = loop.drain(max_batches=60)
    return catalog, loop, stats


# per-batch Spark job counts of the two pinned drains below (local[4], AQE
# on, 8 shuffle partitions), and the task counts each batch may not exceed
# (recorded in the same setting; the exact figures also move with the Spark
# version and AQE's coalescing)
SMALL_SEEN_JOBS = [12, 12, 12, 13, 12, 12, 12, 9]
FORCED_BLOOM_JOBS = [18, 17, 17, 19, 17, 17, 17, 9]
SMALL_SEEN_TASKS = [85, 94, 96, 96, 65, 63, 61, 47]
FORCED_BLOOM_TASKS = [114, 105, 110, 144, 81, 79, 75, 49]


def assert_tasks_within(tasks, pinned):
    """Each batch ran at most its pinned task count."""
    assert len(tasks) == len(pinned)
    assert all(t <= p for t, p in zip(tasks, pinned)), (tasks, pinned)


def fetched_key(rows):
    return sorted((r["batch_id"], r["url_canon"]) for r in rows)


@pytest.fixture(scope="module")
def small_world():
    return build_world(n_pages=42, seed=42)


@pytest.fixture(scope="module")
def drained_loop(spark, small_world):
    return run_drain(spark, small_world, tempfile.mkdtemp(prefix="drain_"))


@pytest.fixture(scope="module")
def drained(drained_loop, small_world):
    catalog, _, stats = drained_loop
    sim = simulate(small_world.content, small_world.seeds, small_world.config)
    return catalog, stats, sim, small_world


class TestDrainMatchesSimulator:
    def test_crawl_order_identical(self, drained):
        catalog, stats, sim, _ = drained
        engine = [
            r.asDict() for r in catalog.read("fetched").select("batch_id", "url_canon").collect()
        ]
        assert fetched_key(engine) == fetched_key(sim.fetched)
        assert len(engine) > 20

    def test_fetched_metadata_matches(self, drained):
        catalog, _, sim, _ = drained
        engine = {
            r["url_canon"]: r.asDict()
            for r in catalog.read("fetched")
            .select("url_canon", "content_type", "rel_path", "image_id")
            .collect()
        }
        for s in sim.fetched:
            e = engine[s["url_canon"]]
            assert e["content_type"] == s["content_type"], s["url"]
            assert e["rel_path"] == s["rel_path"], s["url"]
            assert e["image_id"] == s["image_id"], s["url"]

    def test_seen_membership_and_states(self, drained):
        catalog, _, sim, _ = drained
        engine = {
            r["url_canon"]: r["state"]
            for r in catalog.read("seen").select("url_canon", "state").collect()
        }
        assert engine == sim.seen

    def test_dead_set_matches(self, drained):
        catalog, _, sim, _ = drained
        engine = sorted(
            (r["url_canon"], r["reason"], r["batch_id"])
            for r in catalog.read("dead").collect()
        )
        expected = sorted((d["url_canon"], d["reason"], d["batch_id"]) for d in sim.dead)
        assert engine == expected

    def test_faults_exercised(self, drained):
        # the world must actually cover the retry/dead/reset branches
        _, _, sim, world = drained
        reasons = {d["reason"] for d in sim.dead}
        assert "not_found" in reasons
        assert "retries_exhausted" in reasons or (world.content["fail_5xx_n"] < 5).all()
        assert any(s > 1 for s in sim.seen.values())  # 5XX increments happened
        assert any(s == 0 for s in sim.seen.values())  # non-accepted reset happened

    def test_payload_invariants(self, drained):
        catalog, _, _, world = drained
        origin = catalog.spark.createDataFrame(world.origin)
        report = validate_fetched_images(catalog.read("fetched"), origin)
        rows = report.collect()
        assert len(rows) > 5
        bad = [r.asDict() for r in rows if not (r["pixels_ok"] and r["caption_ok"] and r["phash_ok"] and r["dims_ok"])]
        assert bad == []
        lossy = [r["psnr"] for r in rows if r["psnr"] < 1e9]
        assert lossy and min(lossy) >= 40.0

    def test_spark_jobs_per_batch_pinned(self, drained_loop):
        # small-seen regime (broadcast anti-join, no bloom): a change in any
        # batch's job count is a plan change, not a refactor
        _, loop, _ = drained_loop
        assert loop.run_batch.jobs == SMALL_SEEN_JOBS
        assert_tasks_within(loop.run_batch.tasks, SMALL_SEEN_TASKS)


class TestPoliteness:
    def test_host_budget_respected_and_matches_sim(self, spark):
        world = build_world(n_pages=36, seed=7, crawl_delay_hot_host=5.0)
        # budget = 30s period / 5s delay = 6 fetches per batch on the hot host
        tmp = tempfile.mkdtemp(prefix="drain_pol_")
        catalog, _, _ = run_drain(spark, world, tmp)
        sim = simulate(world.content, world.seeds, world.config)
        engine = [
            r.asDict()
            for r in catalog.read("fetched").select("batch_id", "url_canon", "host").collect()
        ]
        assert fetched_key(engine) == fetched_key(sim.fetched)
        from collections import Counter

        per_batch_host = Counter((r["batch_id"], r["host"]) for r in engine)
        budget = world.config.host_budget("www.gov.uk")
        for (b, host), n in per_batch_host.items():
            if host == "www.gov.uk":
                assert n <= budget, (b, host, n)


class TestResume:
    def test_kill_and_resume_no_refetch(self, spark, small_world):
        tmp = tempfile.mkdtemp(prefix="drain_resume_")
        payload, content, seeds = world_to_spark(spark, small_world)
        catalog = Catalog(spark, tmp)
        loop = DrainLoop(spark, catalog, small_world.config, content, payload)
        loop.seed(seeds)
        loop.drain(max_batches=2)  # "crash" after two committed batches

        # resume with a FRESH loop (bloom rebuilt from the seen table)
        loop2 = DrainLoop(spark, catalog, small_world.config, content, payload)
        loop2.drain(max_batches=60)

        sim = simulate(small_world.content, small_world.seeds, small_world.config)
        engine = [
            r.asDict() for r in catalog.read("fetched").select("batch_id", "url_canon").collect()
        ]
        assert fetched_key(engine) == fetched_key(sim.fetched)  # no refetch, no gap
        seen = {
            r["url_canon"]: r["state"]
            for r in catalog.read("seen").select("url_canon", "state").collect()
        }
        assert seen == sim.seen


class TestTTL:
    def test_ttl_expiry_allows_recrawl_enqueue(self, spark):
        # with a tiny TTL the seen generation expires; both engine and sim
        # must agree on the resulting (re-)publish behavior
        world = build_world(n_pages=12, seed=3)
        tmp = tempfile.mkdtemp(prefix="drain_ttl_")
        catalog, _, _ = run_drain(spark, world, tmp, ttl_batches=2)
        sim = simulate(world.content, world.seeds, world.config, ttl_batches=2)
        engine = [
            r.asDict() for r in catalog.read("fetched").select("batch_id", "url_canon").collect()
        ]
        assert fetched_key(engine) == fetched_key(sim.fetched)


class TestHttpDrainMatchesSimulator:
    """The PRODUCTION fetch path through the FULL drain: DrainLoop +
    HttpFetcher + the real ``default_opener`` (urllib) against a local HTTP
    server serving the synthetic world (workflow_test.go:148-233 analogue).
    Host-space URLs are mapped to localhost by encoding the authority as the
    first path segment — default_opener's redirect/4xx/5xx handling is fully
    exercised.  Transient faults are stateless-ized (the server has no
    per-URL memory): permanent 5XX stays, 429/recovering-5XX are cleared."""

    @staticmethod
    def _statelessize(content):
        c = content.copy()
        c.loc[c.busy_429_n > 0, "busy_429_n"] = 0
        c.loc[(c.fail_5xx_n > 0) & (c.fail_5xx_n < 99), "fail_5xx_n"] = 0
        return c

    @staticmethod
    def _serve(content, counts=None):
        import threading
        from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
        from urllib.parse import urlsplit

        rows = {}
        for r in content.itertuples(index=False):
            u = urlsplit(r.url)
            key = "/" + u.netloc + u.path + (("?" + u.query) if u.query else "")
            rows[key] = r

        class H(BaseHTTPRequestHandler):
            def do_GET(self):
                if counts is not None:
                    counts[self.path] += 1
                r = rows.get(self.path)
                if r is None:
                    self.send_response(404)
                    self.end_headers()
                    return
                if r.fail_5xx_n >= 99:
                    self.send_response(503)
                    self.end_headers()
                    return
                if r.status in (301, 302, 303, 307):
                    t = urlsplit(r.redirect_to)
                    self.send_response(r.status)
                    self.send_header("Location", "/" + t.netloc + t.path)
                    self.end_headers()
                    return
                self.send_response(int(r.status))
                if isinstance(r.content_type, str):
                    self.send_header("Content-Type", r.content_type)
                body = r.body_html.encode() if isinstance(r.body_html, str) else b""
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *a):
                pass

        srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        return srv, f"http://127.0.0.1:{srv.server_address[1]}"

    @staticmethod
    def _proxy_opener(base):
        # closure → cloudpickle ships it by value to executor workers
        def op(url, headers, timeout_s):
            from urllib.parse import urlsplit

            from govuk_crawler_worker_spark.plans.fetch import default_opener

            u = urlsplit(url)
            local = (
                base + "/" + u.netloc + u.path + (("?" + u.query) if u.query else "")
            )
            status, ctype, body, final = default_opener(local, headers, timeout_s)
            if final.startswith(base + "/"):
                rest = final[len(base) + 1 :]
                netloc, _, path = rest.partition("/")
                final = f"https://{netloc}/{path}"
            return status, ctype, body, final

        return op

    def test_http_drain_reproduces_simulator(self, spark):
        from govuk_crawler_worker_spark.plans.fetch import HttpFetcher

        world = build_world(n_pages=24, seed=11)
        content = self._statelessize(world.content)
        srv, base = self._serve(content)
        try:
            payload, _, seeds = world_to_spark(spark, world)
            tmp = tempfile.mkdtemp(prefix="drain_http_")
            catalog = Catalog(spark, tmp)
            fetcher = HttpFetcher(world.config, opener=self._proxy_opener(base))
            loop = DrainLoop(
                spark, catalog, world.config, payload=payload, fetcher=fetcher
            )
            loop.seed(seeds)
            loop.drain(max_batches=40)
        finally:
            srv.shutdown()

        sim = simulate(content, world.seeds, world.config)
        engine = [
            r.asDict()
            for r in catalog.read("fetched").select("batch_id", "url_canon").collect()
        ]
        assert fetched_key(engine) == fetched_key(sim.fetched)
        assert len(engine) > 15
        seen = {
            r["url_canon"]: r["state"]
            for r in catalog.read("seen").select("url_canon", "state").collect()
        }
        assert seen == sim.seen
        dead = sorted(
            (r["url_canon"], r["reason"]) for r in catalog.read("dead").collect()
        )
        assert dead == sorted((d["url_canon"], d["reason"]) for d in sim.dead)


class TestHttpFetchExactlyOnce(TestHttpDrainMatchesSimulator):
    def test_side_effecting_fetch_runs_exactly_once(self, spark):
        """ADVICE r3 (medium): with a side-effecting fetcher the routed
        batch must checkpoint EAGERLY — Spark schedules the independent
        branches of a multi-branch job concurrently, and cached-block
        getOrCompute is not exactly-once, so a lazy checkpoint could compute
        a routed partition twice, i.e. re-run real HTTP GETs.  Serve a
        fault-free 16-page tree and count every GET server-side: each URL
        must be requested exactly once across the whole drain."""
        import collections

        import pandas as pd

        from govuk_crawler_worker_spark.config import CrawlConfig
        from govuk_crawler_worker_spark.plans.fetch import HttpFetcher

        n = 16
        urls = [f"https://www.gov.uk/p{i}" for i in range(n)]

        def body(i):
            kids = [2 * i + 1, 2 * i + 2]
            links = "".join(f'<a href="{urls[k]}">x</a>' for k in kids if k < n)
            return f"<html><body>{links}</body></html>"

        content = pd.DataFrame(
            [
                dict(
                    url=u,
                    status=200,
                    content_type="text/html",
                    image_id=None,
                    body_html=body(i),
                    redirect_to=None,
                    fail_5xx_n=0,
                    busy_429_n=0,
                )
                for i, u in enumerate(urls)
            ]
        )
        counts = collections.Counter()
        srv, base = self._serve(content, counts)
        cfg = CrawlConfig()
        try:
            catalog = Catalog(spark, tempfile.mkdtemp(prefix="once_"))
            fetcher = HttpFetcher(cfg, opener=self._proxy_opener(base))
            # the contract that forces the eager checkpoint:
            assert not getattr(fetcher, "pure", False)
            loop = DrainLoop(spark, catalog, cfg, fetcher=fetcher)
            loop.seed(
                spark.createDataFrame(
                    pd.DataFrame({"url": [urls[0]], "priority": [0]}),
                    "url string, priority int",
                )
            )
            loop.drain(max_batches=30)
        finally:
            srv.shutdown()
        assert catalog.read("fetched").count() == n
        assert len(counts) == n
        dups = {p: c for p, c in counts.items() if c != 1}
        assert not dups, f"duplicate HTTP GETs: {dups}"


class TestSegmentedBloom:
    """Force the segmented-bloom path on every batch (bloom_min_batch=0):
    the probe runs cogrouped per segment with bitmaps maintained as a
    catalog table — results must stay identical to the simulator (the
    filter is a pre-filter only; exactness never depends on it), and no
    bitmap ever lives on the driver."""

    def test_drain_with_bloom_forced_matches_sim(self, spark, small_world):
        tmp = tempfile.mkdtemp(prefix="drain_bloom_")
        catalog, loop, _ = run_drain(spark, small_world, tmp, bloom_min_batch=0)
        sim = simulate(small_world.content, small_world.seeds, small_world.config)
        engine = [
            r.asDict()
            for r in catalog.read("fetched").select("batch_id", "url_canon").collect()
        ]
        assert fetched_key(engine) == fetched_key(sim.fetched)
        seen = {
            r["url_canon"]: r["state"]
            for r in catalog.read("seen").select("url_canon", "state").collect()
        }
        assert seen == sim.seen
        # the reset path (non-accepted content type → state 0) ran under the
        # bloom: its bits stay set, and the exact anti-join settles the
        # stale positive — no deletable filter is needed
        assert S.STATE_READY_TO_ENQUEUE in seen.values()
        # the bloom table exists, is segmented, and its meta is committed
        bloom = catalog.read("bloom")
        assert 0 < bloom.count()
        meta = catalog.latest()["meta"]["bloom"]
        assert meta["n_bits"] > 0 and meta["wm"] > 0
        # forced-bloom regime: pinned per-batch Spark job counts
        assert loop.run_batch.jobs == FORCED_BLOOM_JOBS
        assert_tasks_within(loop.run_batch.tasks, FORCED_BLOOM_TASKS)


class TestBatchConfsRestored:
    """run_batch sizes shuffle partitions, AQE and whole-stage codegen to
    each wave; a caller must get the session back as it was — after a
    normal return and after a fetcher error, not only via drain()."""

    CONFS = {  # None = not set in the session
        "spark.sql.shuffle.partitions": "32",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.codegen.wholeStage": None,
    }

    @staticmethod
    def _apply(spark, confs):
        for k, v in confs.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    def _confs_after_batch(self, spark, fetcher=None):
        world = build_world(n_pages=18, seed=42)
        payload, content, seeds = world_to_spark(spark, world)
        catalog = Catalog(spark, tempfile.mkdtemp(prefix="confs_"))
        loop = DrainLoop(
            spark, catalog, world.config, content, payload, fetcher=fetcher
        )
        loop.seed(seeds)
        old = {k: spark.conf.get(k, None) for k in self.CONFS}
        error = None
        try:
            self._apply(spark, self.CONFS)
            try:
                loop.run_batch(0, eligible_hint=3)
            except RuntimeError as e:
                error = str(e)
            return {k: spark.conf.get(k, None) for k in self.CONFS}, error
        finally:
            self._apply(spark, old)

    def test_restored_after_batch(self, spark):
        after, error = self._confs_after_batch(spark)
        assert error is None
        assert after == self.CONFS

    def test_restored_after_fetcher_error(self, spark):
        class Broken:
            def fetch(self, claimed, epoch=None):
                raise RuntimeError("fetch failed")

        after, error = self._confs_after_batch(spark, fetcher=Broken())
        assert error == "fetch failed"
        assert after == self.CONFS


class TestRobotsInDrain:
    def test_robots_disallowed_never_fetched_and_matches_sim(self, spark):
        import dataclasses

        world = build_world(n_pages=24, seed=9)
        # disallow one section prefix on the hot host via robots rules
        world = dataclasses.replace(
            world,
            config=dataclasses.replace(
                world.config, robots_disallow={"www.gov.uk": ("/s1",)}
            ),
        )
        tmp = tempfile.mkdtemp(prefix="drain_robots_")
        catalog, _, _ = run_drain(spark, world, tmp)
        sim = simulate(world.content, world.seeds, world.config)
        engine = [
            r.asDict()
            for r in catalog.read("fetched").select("batch_id", "url_canon", "url").collect()
        ]
        assert fetched_key(engine) == fetched_key(sim.fetched)
        assert all(not r["url"].startswith("https://www.gov.uk/s1") for r in engine)
        # the rule actually bit: sim without robots fetches /s1 pages
        free = simulate(
            world.content,
            world.seeds,
            dataclasses.replace(world.config, robots_disallow={}),
        )
        assert len(free.fetched) > len(sim.fetched)
