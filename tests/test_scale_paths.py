"""Round-3 scale-path guarantees:

* publish dedup past the broadcast threshold runs as a BUCKETED anti-join —
  physical plan contains NO BroadcastExchange of the seen table (VERDICT r2
  'what's wrong #1'); below the threshold the broadcast hint is still there
* the claim-gate state lookup reads ONLY the claimed rows' seen buckets —
  never the full seen table (VERDICT r2 #2)
* the claim scan reads priority buckets top-down, covering claim_limit, with
  an exact full-scan fallback when back-off thins the prefix (VERDICT r2 #3)
* the salted politeness budget can claim ZERO eligible rows in a batch; the
  drain must advance the batch clock (rotating the winning salt rank), not
  exit early leaving URLs uncrawled (ADVICE r2, high)
* a bloom REBUILD (geometry change) replaces the whole bloom table, so no
  stale old-geometry segment survives; a stale bitmap fails safe to
  maybe_seen=True (ADVICE r2, medium)
"""

from __future__ import annotations

import tempfile
import zlib

import pandas as pd
import pytest

from govuk_crawler_worker_spark.config import CrawlConfig
from govuk_crawler_worker_spark.functions.urlnorm import canonicalize
from govuk_crawler_worker_spark.plans import schemas as S
from govuk_crawler_worker_spark.plans.pipeline import (
    DrainLoop,
    FRONTIER_HOST_BUCKETS,
    N_PRIORITY_BUCKETS,
    SEEN_BUCKETS,
)
from govuk_crawler_worker_spark.plans.sim import simulate
from govuk_crawler_worker_spark.sources.catalog import Catalog
from govuk_crawler_worker_spark.sources.world import build_world, world_to_spark


def _content_row(url, status=200, ctype="text/html", body="<p>x</p>", **kw):
    row = dict(
        url=url,
        status=status,
        content_type=ctype,
        image_id=None,
        body_html=body,
        redirect_to=None,
        fail_5xx_n=0,
        busy_429_n=0,
    )
    row.update(kw)
    return row


def _mk_loop(spark, content_pdf, seeds_pdf, config, tmp, **kw):
    content = spark.createDataFrame(content_pdf, S.CONTENT_SCHEMA)
    catalog = Catalog(spark, tmp)
    loop = DrainLoop(spark, catalog, config, content.cache(), **kw)
    loop.seed(spark.createDataFrame(seeds_pdf, "url string, priority int"))
    return catalog, loop


def fetched_key(rows):
    return sorted((r["batch_id"], r["url_canon"]) for r in rows)


def _broadcast_subtrees(plan: str) -> list[str]:
    """The subtree under each BroadcastExchange in a physical-plan tree
    string (indentation = the ':-'/'+-' marker column)."""
    import re

    lines = plan.splitlines()

    def depth(ln):
        m = re.search(r"[:+]- ", ln)
        return m.start() if m else None

    subs = []
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        d = depth(ln)
        d = -1 if d is None else d
        sub = []
        for j in range(i + 1, len(lines)):
            dj = depth(lines[j])
            if dj is not None and dj <= d:
                break
            sub.append(lines[j])
        subs.append("\n".join(sub))
    return subs


class TestPolitenessStarvation:
    def test_drain_advances_when_salted_budget_claims_zero(self, spark):
        """budget=1 over k=8 salt ranks claims only the rank with
        (salt+b)%8==0; seeds whose salts all miss at b=0 must still be
        crawled on later batches (the rotating remainder), exactly like the
        simulator — not abandoned by an early drain exit."""
        cfg = CrawlConfig(
            default_crawl_delay_s=30.0,
            batch_period_s=30.0,
            host_salt_buckets=8,
            claim_limit=100,
        )
        urls = []
        i = 0
        while len(urls) < 3:
            u = f"https://www.gov.uk/starve{i}"
            salt = zlib.crc32(canonicalize(u).encode()) % 8
            if salt != 0:  # no winning salt at batch 0
                urls.append(u)
            i += 1
        content = pd.DataFrame([_content_row(u) for u in urls])
        seeds = pd.DataFrame({"url": urls, "priority": 0})
        sim = simulate(content, seeds, cfg)
        assert len(sim.fetched) == 3  # the sim crawls everything

        catalog, loop = _mk_loop(
            spark, content, seeds, cfg, tempfile.mkdtemp(prefix="starve_")
        )
        loop.drain(max_batches=20)
        engine = catalog.read("fetched").collect()
        assert fetched_key(engine) == fetched_key(sim.fetched)


class TestStreamingStarvation:
    def test_streaming_tick_rotates_past_starved_salts(self, spark):
        """Same scenario as TestPolitenessStarvation but driven by the
        Structured Streaming front-end: every tick's run_batch commits
        next_batch = b+1 even when the salted budget claims zero rows, so
        the rotating salt remainder reaches the starved URLs — no tick may
        stall the clock."""
        from govuk_crawler_worker_spark.streaming.drain import StreamingDrain

        cfg = CrawlConfig(
            default_crawl_delay_s=30.0,
            batch_period_s=30.0,
            host_salt_buckets=8,
            claim_limit=100,
        )
        urls = []
        i = 0
        while len(urls) < 3:
            u = f"https://www.gov.uk/sstarve{i}"
            if zlib.crc32(canonicalize(u).encode()) % 8 != 0:
                urls.append(u)
            i += 1
        content = pd.DataFrame([_content_row(u) for u in urls])
        seeds = pd.DataFrame({"url": urls, "priority": 0})
        sim = simulate(content, seeds, cfg)
        assert len(sim.fetched) == 3

        catalog, loop = _mk_loop(
            spark, content, seeds, cfg, tempfile.mkdtemp(prefix="sstarve_")
        )
        sd = StreamingDrain(loop, ticks_per_second=5.0)
        query = sd.start(spark)
        try:
            sd.process_available(timeout_s=180.0)
        finally:
            sd.stop()
            query.awaitTermination(10)
        engine = catalog.read("fetched").collect()
        assert fetched_key(engine) == fetched_key(sim.fetched)


class TestBucketedPublishDedup:
    def test_no_broadcast_of_seen_past_threshold(self, spark):
        """Past bloom_min_seen the publish anti-join must NOT force-broadcast
        the seen side: with auto-broadcast disabled the captured physical
        plan contains no BroadcastExchange at all (the bucketed shuffled
        anti-join of PLANS.md §2), and the drain still matches the sim."""
        world = build_world(n_pages=42, seed=42)
        payload, content, seeds = world_to_spark(spark, world)
        catalog = Catalog(spark, tempfile.mkdtemp(prefix="bktpub_"))
        loop = DrainLoop(
            spark,
            catalog,
            world.config,
            content.cache(),
            payload.cache(),
            bloom_min_batch=0,  # engage bloom + bucketed confirm from batch 0
            debug_capture_plans=True,
        )
        loop.seed(seeds)
        old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        old_athr = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        try:
            loop.drain(max_batches=60)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
            if old_athr is not None:
                spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old_athr)
        plan = loop.debug_plans["publish_dedup"]
        # the batch-sized claim delta may broadcast (explicit F.broadcast in
        # seen_merge — it is claim_limit-bounded); the SEEN TABLE (a parquet
        # scan) must never sit under a BroadcastExchange, and the anti-join
        # itself must be a shuffled join
        for sub in _broadcast_subtrees(plan):
            assert "Scan parquet" not in sub, sub
        import re

        assert re.search(r"(SortMergeJoin|ShuffledHashJoin) .*LeftAnti", plan), plan
        # and the captured batch really read seen buckets (parquet scan
        # OUTSIDE any broadcast subtree)
        assert "Scan parquet" in plan, plan

        sim = simulate(world.content, world.seeds, world.config)
        engine = catalog.read("fetched").collect()
        assert fetched_key(engine) == fetched_key(sim.fetched)

    def test_broadcast_hint_kept_below_threshold(self, spark):
        """Below the switch the build side ships once by design — the hint
        must survive (forced broadcast even with auto-broadcast off)."""
        world = build_world(n_pages=18, seed=42)
        payload, content, seeds = world_to_spark(spark, world)
        catalog = Catalog(spark, tempfile.mkdtemp(prefix="bcpub_"))
        loop = DrainLoop(
            spark, catalog, world.config, content.cache(), payload.cache(),
            debug_capture_plans=True,
        )
        loop.seed(seeds)
        old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            loop.run_batch(0, eligible_hint=3)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
        assert "BroadcastExchange" in loop.debug_plans["publish_dedup"]


class TestClaimGateBucketPruning:
    def test_seen_reads_are_bucket_pruned_end_to_end(self, spark):
        """bloom_min_batch=0 forces the bucketed regime from batch 0: the
        only full seen-table read is the bloom's first build, in the first
        batch's _bloom_for_batch — claim gate, publish dedup and commit all
        go through read_buckets with proper subsets of the bucket space —
        and the whole drain still equals the simulator."""
        world = build_world(n_pages=42, seed=42)
        payload, content, seeds = world_to_spark(spark, world)
        catalog = Catalog(spark, tempfile.mkdtemp(prefix="clgate_"))
        loop = DrainLoop(
            spark, catalog, world.config, content.cache(), payload.cache(),
            bloom_min_batch=0,
        )
        loop.seed(seeds)

        where = {"batch": None, "bloom": False}
        full_seen_reads = []
        bucket_reads = []
        orig_read, orig_rb = catalog.read, catalog.read_buckets
        orig_batch, orig_bloom = loop.run_batch, loop._bloom_for_batch

        def spy_read(name, schema=None):
            if name == "seen":
                full_seen_reads.append((where["batch"], where["bloom"]))
            return orig_read(name, schema)

        def spy_rb(name, buckets, schema=None):
            bucket_reads.append((name, tuple(buckets)))
            return orig_rb(name, buckets, schema)

        def spy_batch(b, eligible_hint=None):
            where["batch"] = b
            return orig_batch(b, eligible_hint)

        def spy_bloom(b, prev_meta):
            where["bloom"] = True
            try:
                return orig_bloom(b, prev_meta)
            finally:
                where["bloom"] = False

        catalog.read, catalog.read_buckets = spy_read, spy_rb
        loop.run_batch, loop._bloom_for_batch = spy_batch, spy_bloom
        try:
            out = loop.drain(max_batches=60)
        finally:
            catalog.read, catalog.read_buckets = orig_read, orig_rb

        assert len(out) > 3  # multi-batch drain: steady-state batches exist
        # one full seen read: the bloom rebuild of the first batch
        assert full_seen_reads == [(out[0].batch_id, True)], full_seen_reads
        seen_reads = [bs for name, bs in bucket_reads if name == "seen"]
        assert seen_reads
        # batch 1 claims the 3 seeds → its claim-gate read asks for ≤ 3 of
        # the 32 seen buckets; later publishes stay proper subsets too
        assert min(len(set(bs)) for bs in seen_reads) <= 3
        assert all(len(set(bs)) < SEEN_BUCKETS for bs in seen_reads)

        sim = simulate(world.content, world.seeds, world.config)
        engine = catalog.read("fetched").collect()
        assert fetched_key(engine) == fetched_key(sim.fetched)


class TestPriorityBucketPruning:
    def _world(self):
        """20 URLs: 8 high-priority (clamped bucket 3), 12 priority 0; no
        outlinks so the claim behavior is fully visible from the seeds."""
        urls_hi = [f"https://www.gov.uk/hi{i}" for i in range(8)]
        urls_lo = [f"https://www.gov.uk/lo{i}" for i in range(12)]
        content = pd.DataFrame([_content_row(u) for u in urls_hi + urls_lo])
        seeds = pd.DataFrame(
            {
                "url": urls_hi + urls_lo,
                "priority": [5] * len(urls_hi) + [0] * len(urls_lo),
            }
        )
        return content, seeds

    def test_claim_reads_only_top_priority_buckets(self, spark):
        cfg = CrawlConfig(claim_limit=4)
        content, seeds = self._world()
        catalog, loop = _mk_loop(
            spark, content, seeds, cfg, tempfile.mkdtemp(prefix="prio_")
        )
        frontier_bucket_reads = []
        orig_rb = catalog.read_buckets

        def spy_rb(name, buckets, schema=None):
            if name == "frontier":
                frontier_bucket_reads.append(tuple(buckets))
            return orig_rb(name, buckets, schema)

        catalog.read_buckets = spy_rb
        try:
            stats = loop.run_batch(0, eligible_hint=20)
        finally:
            catalog.read_buckets = orig_rb
        assert stats.claimed == 4
        # the claim scan asked ONLY for priority-bucket 3's host buckets
        top = set(range(3 * FRONTIER_HOST_BUCKETS, 4 * FRONTIER_HOST_BUCKETS))
        claim_scans = [bs for bs in frontier_bucket_reads if set(bs) <= top]
        assert claim_scans, frontier_bucket_reads
        # and the claimed URLs are the global top-4: all high-priority
        fetched = catalog.read("fetched").collect()
        assert all("/hi" in r["url"] for r in fetched)
        # sim equality for the whole drain
        sim = simulate(content, seeds, cfg)
        loop.drain(max_batches=30)
        engine = catalog.read("fetched").collect()
        assert fetched_key(engine) == fetched_key(sim.fetched)

    def test_backoff_thinned_prefix_falls_back_to_full_scan(self, spark):
        """Every high-priority URL 429s once with an 8-batch back-off: by
        batch 2 the whole top bucket is backed off, so the pruned prefix
        (whose meta count is still 8) claims ZERO rows and the claim must
        fall back to the full scan so low-priority URLs are crawled — end
        state identical to the simulator, including the eventual
        high-priority fetches after the back-off expires."""
        cfg = CrawlConfig(claim_limit=4, max_crawl_retries=1)
        content, seeds = self._world()
        content.loc[content.url.str.contains("/hi"), "busy_429_n"] = 1
        sim = simulate(content, seeds, cfg, backoff_batches=8)
        catalog, loop = _mk_loop(
            spark,
            content,
            seeds,
            cfg,
            tempfile.mkdtemp(prefix="priofb_"),
            backoff_batches=8,
        )
        loop.drain(max_batches=30)
        engine = catalog.read("fetched").collect()
        assert fetched_key(engine) == fetched_key(sim.fetched)
        # every URL got fetched: the 12 low-priority ones despite the
        # backed-off prefix, the 8 high-priority ones after the back-off
        assert sum("/lo" in r["url"] for r in engine) == 12
        assert sum("/hi" in r["url"] for r in engine) == 8


class TestStreamingDriftReconcile:
    def test_tick_over_empty_frontier_trues_up_drifted_meta(self, spark):
        """ADVICE r3 (medium): frontier_size meta only ever OVER-counts, and
        a drifted value > 0 over a truly empty frontier made every streaming
        tick run a full empty batch forever (process_available busy-waiting
        to its timeout).  A tick that claims 0 with an empty frontier must
        reconcile the meta to 0."""
        urls = [f"https://www.gov.uk/d{i}" for i in range(3)]
        content = pd.DataFrame([_content_row(u) for u in urls])
        seeds = pd.DataFrame({"url": urls, "priority": 0})
        catalog, loop = _mk_loop(
            spark, content, seeds, CrawlConfig(), tempfile.mkdtemp(prefix="drift_")
        )
        loop.drain(max_batches=10)
        meta0 = dict(catalog.latest()["meta"])
        assert int(meta0["frontier_size"]) == 0
        # inject the drift an over-counting bug would leave behind
        catalog.commit(meta={**meta0, "frontier_size": 7})

        from govuk_crawler_worker_spark.streaming.drain import StreamingDrain

        sd = StreamingDrain(loop)
        t0 = __import__("time").monotonic()
        sd._on_tick(None, 0)  # one tick, driven directly
        assert int(catalog.latest()["meta"]["frontier_size"]) == 0
        # and process_available now exits immediately off the trued-up meta
        sd.process_available(timeout_s=30.0)
        assert __import__("time").monotonic() - t0 < 25.0
        # the batch drain trues up the same drift: its empty batch
        # reconciles, so a second drain has no work left
        catalog.commit(meta={**catalog.latest()["meta"], "frontier_size": 7})
        loop.drain()
        assert int(catalog.latest()["meta"]["frontier_size"]) == 0
        assert loop.drain() == []


class TestBloomDeltaFold:
    def test_no_seen_scan_in_steady_bloom_regime(self, spark):
        """r3 VERDICT 'what's wrong #3': bloom maintenance must be O(delta),
        not O(seen).  With the delta-fold-at-commit design the ONLY full
        seen-table reads across a whole forced-bloom drain are rebuilds (the
        first engagement here); every subsequent batch maintains the filter
        from its own in-hand delta and probes the stored table directly —
        provably independent of seen size, no parquet-stats pruning
        assumptions — and the drain still equals the simulator."""
        world = build_world(n_pages=42, seed=42)
        payload, content, seeds = world_to_spark(spark, world)
        catalog = Catalog(spark, tempfile.mkdtemp(prefix="bloomfold_"))
        loop = DrainLoop(
            spark, catalog, world.config, content.cache(), payload.cache(),
            bloom_min_batch=0,  # bloom regime from batch 0
        )
        loop.seed(seeds)

        full_seen_reads = []
        orig_read = catalog.read

        def spy_read(name, schema=None):
            if name == "seen":
                full_seen_reads.append(name)
            return orig_read(name, schema)

        catalog.read = spy_read
        try:
            out = loop.drain(max_batches=60)
        finally:
            catalog.read = orig_read

        assert len(out) > 3  # multi-batch drain: steady-state batches exist
        # one rebuild (first engagement) is the only permitted O(seen) read
        assert len(full_seen_reads) <= 1, full_seen_reads
        sim = simulate(world.content, world.seeds, world.config)
        engine = catalog.read("fetched").collect()
        assert fetched_key(engine) == fetched_key(sim.fetched)
        # and the committed watermark is caught up: covers every batch run
        meta = catalog.latest()["meta"]
        assert int(meta["bloom"]["wm"]) == int(meta["next_batch"])


class TestMarginalStatsCollect:
    def test_stats_collect_is_marginal_not_cross_product(self, spark):
        """The fused per-batch stats collect must be bounded by
        O(routes × (seen buckets + frontier buckets)) — the r3 VERDICT's
        remaining scale note: the old (route, sb, fb) aggregate grew as the
        sb×fb CROSS PRODUCT, which at production bucket counts (O(1000)
        buckets, 10^6-row claims) approaches a 10^6-row driver collect per
        batch.  A 2000-row single-route batch populates all 32 seen buckets
        and all 8 of priority-0's frontier buckets, so the old collect
        returns ~sb×fb = 256 rows; the marginal grouping-sets collect stays
        under routes×(flags + sb + fb)."""
        n = 2000
        urls = [f"https://www.gov.uk/p{i:05d}" for i in range(n)]
        content = pd.DataFrame([_content_row(u) for u in urls])
        seeds = pd.DataFrame({"url": urls, "priority": [0] * n})
        cfg = CrawlConfig(claim_limit=n)
        catalog, loop = _mk_loop(
            spark, content, seeds, cfg, tempfile.mkdtemp(prefix="marg_")
        )
        stats = loop.run_batch(0, eligible_hint=n)
        assert stats.claimed == n
        # every seen bucket is hit (2000 hashes over 32 buckets) → the old
        # cross-product collect would return ≥ SEEN_BUCKETS×FRONTIER_HOST_
        # BUCKETS rows for this single-route batch
        marginal_bound = (
            1 * (4 + SEEN_BUCKETS + N_PRIORITY_BUCKETS * FRONTIER_HOST_BUCKETS)
            + SEEN_BUCKETS
            + N_PRIORITY_BUCKETS * FRONTIER_HOST_BUCKETS
        )
        assert 0 < stats.stats_rows <= marginal_bound
        assert stats.stats_rows < SEEN_BUCKETS * FRONTIER_HOST_BUCKETS


class TestBloomRebuild:
    def test_rebuild_drops_stale_segments(self, spark):
        """Empty some seen buckets (compaction), force a geometry rebuild:
        the new bloom table must contain ONLY segments with current seen
        rows, every bitmap decodable under the NEW geometry."""
        from govuk_crawler_worker_spark.operators.seen import BloomFilter
        from govuk_crawler_worker_spark.plans.pipeline import seen_bucket_of

        world = build_world(n_pages=42, seed=42)
        payload, content, seeds = world_to_spark(spark, world)
        catalog = Catalog(spark, tempfile.mkdtemp(prefix="bloomrb_"))
        loop = DrainLoop(
            spark, catalog, world.config, content.cache(), payload.cache(),
            bloom_min_batch=0,
        )
        loop.seed(seeds)
        loop.drain(max_batches=60)
        pre_segments = {
            r["segment"] for r in catalog.read("bloom", "segment int, bits binary").collect()
        }
        assert len(pre_segments) > 4

        # keep only a handful of canons → most seen buckets (and therefore
        # most bloom segments) empty out
        from pyspark.sql import functions as F

        keep_canons = [
            r["url_canon"]
            for r in catalog.read("seen", S.SEEN_SCHEMA).limit(3).collect()
        ]
        catalog.compact(
            "seen", seen_bucket_of, lambda df: F.col("url_canon").isin(keep_canons)
        )
        # force a rebuild: shrink the recorded capacity below seen_size
        meta = dict(catalog.latest()["meta"])
        meta["bloom"] = dict(meta["bloom"], capacity=0)
        catalog.commit(meta=meta)

        loop.run_batch(int(meta["next_batch"]))  # empty frontier batch is fine

        new_meta = catalog.latest()["meta"]["bloom"]
        rows = catalog.read("bloom", "segment int, bits binary").collect()
        live_segments = {
            r["sg"]
            for r in catalog.read("seen", S.SEEN_SCHEMA)
            .select(F.pmod(F.col("url_hash"), F.lit(new_meta["segments"])).alias("sg"))
            .distinct()
            .collect()
        }
        assert {r["segment"] for r in rows} == {int(s) for s in live_segments}
        for r in rows:  # every surviving bitmap decodes under the NEW geometry
            BloomFilter.from_bytes(bytes(r["bits"]), new_meta["n_bits"], new_meta["k"])

    def test_rebuild_exchange_follows_seen_rows(self, spark):
        """The rebuild shuffles every seen hash by segment: that exchange is
        sized to the seen rows (~2k per partition), not to a one-row wave,
        and the batch's width is given back afterwards."""
        from govuk_crawler_worker_spark.plans.pipeline import scoped_confs

        n = 5000
        seeds = pd.DataFrame(
            {"url": [f"https://www.gov.uk/p{i}" for i in range(n)], "priority": 1}
        )
        content = pd.DataFrame([_content_row("https://www.gov.uk/p0")])
        catalog, loop = _mk_loop(
            spark, content, seeds, CrawlConfig(),
            tempfile.mkdtemp(prefix="bloomw_"), bloom_min_batch=0,
        )
        sc = spark.sparkContext
        scheduler = sc._jsc.sc().dagScheduler()
        keys = ["spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled"]
        with scoped_confs(spark, keys):
            spark.conf.set(keys[0], "1")  # the width of a one-row wave
            spark.conf.set(keys[1], "false")  # as run_batch sets it there
            j0 = scheduler.numTotalJobs()
            *_, rebuilt = loop._bloom_for_batch(0, catalog.latest()["meta"])
            jobs = range(j0, scheduler.numTotalJobs())
            assert rebuilt and spark.conf.get(keys[0]) == "1"
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        (job,) = jobs
        result_stage = max(tracker.getJobInfo(job).stageIds)
        assert tracker.getStageInfo(result_stage).numTasks == 3  # ceil(5000/2000)

    def test_stale_bitmap_fails_safe_to_maybe_seen(self, spark):
        """A geometry-mismatched bitmap must flag maybe_seen=True (exact join
        decides) — never a silent garbage decode."""
        import pandas as pd

        from govuk_crawler_worker_spark.operators.seen import (
            BloomFilter,
            bloom_probe_join,
        )

        with pytest.raises(ValueError):
            BloomFilter.from_bytes(b"\x00" * 7, n_bits=1024, k=3)

        cands = spark.createDataFrame(
            pd.DataFrame({"url_hash": [11, 27, 43]}), "url_hash long"
        )
        stale = spark.createDataFrame(
            pd.DataFrame({"segment": list(range(16)), "bits": [b"\x00" * 7] * 16}),
            "segment int, bits binary",
        )
        out = bloom_probe_join(cands, stale, "url_hash", 16, 1024, 3).collect()
        assert all(r["maybe_seen"] for r in out)
