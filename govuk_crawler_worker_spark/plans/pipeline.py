"""The micro-batch drain loop — the whole crawl as one Catalyst plan per batch.

Replaces the reference's hand-wired goroutine pipeline (main.go:139-145):

    deliveries → ReadFromQueue → CrawlURL×4 → WriteItemToDisk → ExtractURLs
               → {PublishURLs → (feeds back), AcknowledgeItem}

with one stage method per reference stage, called in order by run_batch:

    _claim        scan frontier, partition-prunable filters, per-host politeness
                  budget (window), priority order + claim limit, then the
                  claimed rows' seen states for the retry gate        (A1)
    _fetch_route  fetch (a content-table join in tests/bench, paced HTTP GETs
                  in mapInPandas in production) and one `when` route chain:
                  retry-gate dead / 404 dead / 429 requeue / 5XX incr+requeue /
                  redirect-as-HTML / non-accepted reset / HTML / other ack;
                  the extraction UDF runs in the same pass            (A2)
    _fetched_rows fetched-table rows (+ optional disk mirror)         (A3)
    _extract      explode the extracted outlinks (+ sitemap URLs)     (A4)
    _publish      param gate → canonicalize → bloom pre-filter → exact
                  left-anti join vs seen → frontier inserts, then ONE
                  fused stats collect                                 (A5)
    _fold_bloom   OR the batch's seen delta into the segmented bloom
    _commit       ONE atomic multi-table commit: fetched, dead, metrics
                  appends, frontier & seen merges, checkpoint meta
                  (ack/reject/publish all-at-once — A6 + exactly-once)

Live robots.txt (opt-in) runs between claim and fetch (plans/robots.py:
live_robots).  ``step`` is the per-batch drain policy (maintenance cadence,
zero-claim handling) shared by ``drain`` and streaming/drain.py.

Scale notes (10^10-URL frontier, 1000 executors):
* claim: the per-host window shuffles by host; the hot-host partition is the
  skew point — at scale, pre-aggregate per-host counts (salted) and claim per
  (host, salt) bucket, or let the politeness budget itself cap the partition:
  budget rows per host survive regardless of host size, so the window's
  output (not input) is bounded.  The frontier is written partitioned by
  priority_bucket so the claim scan prunes partitions.
* every join against a per-batch side (claimed, delta, candidate inserts) is
  explicitly broadcast — the big tables (seen, content/web, payload) never
  shuffle for a batch.
* the bloom pre-filter cuts the candidate→seen anti-join input by the
  definitely-new fraction; it is maintained incrementally across batches and
  rebuilt from the seen table on resume.
* no executor ever sleeps: 429/5XX back-off is a not_before_batch column
  (workflow.go:108-114 sleeps 5s in-line — that dies at scale).
* nothing here collects row data to the driver except bounded count() metrics
  and the bloom partial bitmaps.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

from govuk_crawler_worker_spark.config import CrawlConfig
from govuk_crawler_worker_spark.functions import content_types as ct
from govuk_crawler_worker_spark.functions.extract import make_extract_udf
from govuk_crawler_worker_spark.functions.urlnorm import make_udfs
from govuk_crawler_worker_spark.operators.politeness import (
    host_salt_col,
    robots_disallowed_col,
)
from govuk_crawler_worker_spark.operators.seen import (
    bloom_or_merge,
    bloom_partials,
    bloom_probe_join,
    bloom_sizing,
    expire_seen,
    seen_merge,
)
from govuk_crawler_worker_spark.plans import schemas as S
from govuk_crawler_worker_spark.plans.robots import (
    LiveRobots,
    crawl_delay_budget_col,
    live_robots,
    robots_blocked_col,
)
from govuk_crawler_worker_spark.sources.catalog import Catalog

REDIRECT_STATUSES = (301, 302, 303, 307)
REQUEUE_ROUTES = ("requeue_429", "requeue_5xx", "requeue_robots")

N_PRIORITY_BUCKETS = 4  # frontier partition key: priority_bucket = clamp(priority)

# state-table bucketing DEFAULTS (sandbox-sized; a production catalog runs
# O(1000) buckets).  These are only defaults: the effective counts are
# constructor/config values stamped into the commit meta as
# ``bucket_scheme`` at seed time — the STORED stamp always wins on resume,
# because bucket geometry is a physical property of the data already on
# disk.
SEEN_BUCKETS = 32  # seen bucketed by pmod(url_hash, N)
FRONTIER_HOST_BUCKETS = 8  # frontier by (priority_bucket, pmod(hash(host), M))
BLOOM_SEGMENTS = 16  # segmented bloom table rows
DEFAULT_BUCKET_SCHEME = {
    "seen": SEEN_BUCKETS,
    "frontier_host": FRONTIER_HOST_BUCKETS,
    "bloom_segments": BLOOM_SEGMENTS,
}


def _bucket_scheme(base: dict, seen, frontier_host, bloom_segments) -> dict[str, int]:
    """``base`` with each requested (truthy) count overriding its entry."""
    asked = dict(seen=seen, frontier_host=frontier_host, bloom_segments=bloom_segments)
    return {k: int(asked[k] or v) for k, v in base.items()}


# commit-meta keys every catalog with seen or frontier state carries (the
# bucket geometry and the frontier counts the claim pruning reads), and the
# columns the robots table's recorded schema must hold
REQUIRED_META = ("bucket_scheme", "frontier_size", "frontier_pb_counts")
REQUIRED_ROBOTS_COLS = ("rules", "unreachable")


def check_catalog_format(manifest: dict) -> None:
    """Raise ValueError, naming the missing piece, for a catalog written in
    a format this engine does not read (before r7: no geometry stamp or
    frontier counts in the commit meta, or robots rows without ``rules`` /
    ``unreachable``).  A fresh catalog passes."""
    parts = manifest.get("parts", {}) or {}
    if any(manifest["tables"].get(t) or parts.get(t) for t in ("seen", "frontier")):
        meta = manifest.get("meta") or {}
        for key in REQUIRED_META:
            if key not in meta:
                raise ValueError(
                    f"catalog written before r7: commit meta lacks {key!r}"
                )
    robots = manifest.get("schemas", {}).get("robots")
    if robots is not None:
        cols = StructType.fromJson(json.loads(robots)).fieldNames()
        for col in REQUIRED_ROBOTS_COLS:
            if col not in cols:
                raise ValueError(
                    f"catalog written before r7: robots table lacks {col!r}"
                )


# StatsD-style metrics are observability, not crawl state (the reference
# fires them async over UDP, util/util.go:97-111): buffer them driver-side
# and append every N commits (+ a drain-end flush) so the small-batch BFS
# regime doesn't pay a parquet write job per batch for a 5-row table.  At
# most N batches of timings are lost on a crash — never any crawl state.
METRICS_FLUSH_BATCHES = 8

# session confs run_batch resizes per wave
BATCH_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.codegen.wholeStage",
)


@contextmanager
def scoped_confs(spark: SparkSession, keys):
    """Yield the session's values of ``keys`` (None = not set) and restore
    exactly those on exit, also when the body raises — a caller never sees a
    session conf changed by the work inside."""
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        yield saved
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def priority_bucket_col(priority):
    """ORDERED (clamped) priority bucket: bucket i holds exactly priority i,
    except the top bucket which absorbs everything ≥ N-1.  Ordering (not a
    mod) is what makes the claim scan prunable: every row in a higher bucket
    outranks every row in a lower one under the claim order
    (priority DESC), so the claim can read buckets top-down and stop once
    the cumulative count covers claim_limit — claim-scan I/O O(claim), not
    O(frontier)."""
    return F.least(
        F.greatest(priority, F.lit(0)), F.lit(N_PRIORITY_BUCKETS - 1)
    ).cast("int")


def pb_counts_of(frontier: DataFrame) -> dict[str, int]:
    """Rows per priority bucket, keyed as the commit meta stores them (one
    bounded aggregate: at most N_PRIORITY_BUCKETS rows reach the driver)."""
    rows = frontier.groupBy("priority_bucket").agg(F.count(F.lit(1)).alias("n"))
    return {str(int(r["priority_bucket"])): int(r["n"]) for r in rows.collect()}


def seen_rows(df: DataFrame, state, b: int) -> DataFrame:
    """``df``'s URLs as seen-table rows in ``state`` as of batch ``b``."""
    return df.select(
        "url_hash",
        "url_canon",
        state.alias("state"),
        F.lit(b).cast("long").alias("updated_batch"),
    )


def dead_rows(df: DataFrame, reason, b: int) -> DataFrame:
    """``df``'s URLs as dead-table rows for ``reason`` in batch ``b``."""
    return df.select(
        "url",
        "url_canon",
        reason.alias("reason"),
        F.lit(b).cast("long").alias("batch_id"),
    )


def seen_bucket_of(df, n_buckets: int = SEEN_BUCKETS):
    return F.pmod(F.col("url_hash"), F.lit(n_buckets))


def frontier_bucket_of(df, host_buckets: int = FRONTIER_HOST_BUCKETS):
    return F.col("priority_bucket") * host_buckets + F.pmod(
        F.xxhash64(F.col("host")), F.lit(host_buckets)
    )


@dataclass
class BatchStats:
    batch_id: int
    claimed: int = 0
    fetched: int = 0
    published: int = 0
    requeued: int = 0
    dead: int = 0
    frontier_size: int = 0
    duration_s: float = 0.0
    stage_ms: dict = field(default_factory=dict)
    # rows returned by the fused per-batch stats collect — instrumentation
    # for the O(routes × buckets) marginal-collect bound (never row data)
    stats_rows: int = 0


@dataclass
class Batch:
    """One batch's clock, eligible-row hint, previous commit meta and stats."""

    b: int
    eligible_hint: int | None
    prev_meta: dict
    stats: BatchStats


@dataclass
class Claim:
    """A1 output: the claimed rows, the seen rows their retry gate reads (the
    whole table unless ``prune_seen``: past broadcast size)."""

    claimed: DataFrame
    seen: DataFrame
    prune_seen: bool


@dataclass
class BloomState:
    """One batch's segmented bloom (DrainLoop._bloom_for_batch) and fold."""

    probe: DataFrame
    rows: DataFrame | None
    meta: dict
    rebuilt: bool
    touched: list[int] | None = None

    @property
    def geometry(self) -> tuple[int, int, int]:
        """(segments, n_bits, k) of the stored filter."""
        meta = self.meta
        return int(meta.get("segments", BLOOM_SEGMENTS)), meta["n_bits"], meta["k"]


@dataclass
class Published:
    """A5 output: inserts, seen upserts, bloom and the stats-collect facts."""

    inserts: DataFrame
    seen_delta: DataFrame
    bloom: BloomState | None
    routes: dict[str, int] = field(default_factory=dict)  # claimed rows per route
    extract_errors: int = 0
    fetch_rows: int = 0  # fetched rows without query params (the fetched append)
    pb_delta: dict[int, int] = field(default_factory=dict)  # frontier rows per pb
    frontier_touched: set[int] = field(default_factory=set)
    seen_touched: set[int] = field(default_factory=set)


class DrainLoop:
    """Driver-controlled micro-batch loop; all state lives in catalog tables,
    so a killed job resumes from the last commit without re-fetching
    (the reconnect/ack machinery of the reference — queue_connection.go:43-54,
    ttl_hash_set.go:154-200 — collapses into snapshot-isolation resume)."""

    def __init__(
        self,
        spark: SparkSession,
        catalog: Catalog,
        config: CrawlConfig,
        content: DataFrame | None = None,
        payload: DataFrame | None = None,
        ttl_batches: int | str | None = "auto",
        backoff_batches: int | None = None,
        origin: DataFrame | None = None,
        fetcher=None,
        bloom_min_batch: int | None = None,
        mirror_root: str | None = None,
        debug_capture_plans: bool = False,
        seen_buckets: int | None = None,
        frontier_host_buckets: int | None = None,
        bloom_segments: int | None = None,
        compact_batches: int = 1024,
        fetch_robots: bool = False,
    ):
        from govuk_crawler_worker_spark.plans.fetch import TableFetcher

        self.spark = spark
        self.catalog = catalog
        self.config = config
        self.payload = payload
        if fetcher is None:
            if content is None:
                raise ValueError("need a content table or an explicit fetcher")
            fetcher = TableFetcher(content)
        self.fetcher = fetcher
        # seconds → batches conversion for the reference's wall-clock knobs:
        # TTL_EXPIRE_TIME (12h default, main.go:35) and the 429 back-off
        # sleep (5s, workflow.go:109) both become batch-count horizons via
        # the micro-batch period — no executor ever sleeps for back-off.
        import math

        def batches(seconds: float) -> int:
            return max(1, math.ceil(seconds / config.batch_period_s))

        if ttl_batches == "auto":
            ttl_batches = batches(config.ttl_expire_s)
        if backoff_batches is None:
            backoff_batches = batches(config.backoff_429_s)
        self.ttl_batches, self.backoff_batches = ttl_batches, backoff_batches
        # north rule: each micro-batch validates decoded pixels against the
        # origin (PSNR ≥ 40 dB lossy / exact lossless, caption equality);
        # enabled when the ground-truth origin table is available.
        self.origin = origin
        self.udfs = make_udfs(config)
        self.extract_udf = make_extract_udf(config)
        # strategy switch for the publish dedup, Catalyst-style: while the
        # seen table is broadcast-sized, the exact anti-join alone is cheapest
        # (the build side ships once per executor); past this row count the
        # segmented-bloom pre-filter takes over so the anti-join's input —
        # and the bitmaps — only ever move by bucketed shuffle.  Forced small
        # in tests (bloom_min_batch=0) to pin the bloom path's correctness.
        self.bloom_min_seen = 2_000_000 if bloom_min_batch is None else bloom_min_batch
        # optional disk-mirror export (workflow.go:173-189): executors write
        # MIRROR_ROOT/<rel_path> during the batch via pass-through stages
        self.mirror_root = mirror_root
        # buffered metrics rows, flushed every METRICS_FLUSH_BATCHES commits
        self._pending_metrics: list[tuple] = []
        # test hook: capture key physical plans (publish dedup join strategy)
        self.debug_capture_plans = debug_capture_plans
        self.debug_plans: dict[str, str] = {}
        # MOR-chain + physical-TTL compaction cadence (batches between
        # compact_seen() calls inside step(); 0/None disables)
        self.compact_batches = int(compact_batches or 0)
        # live robots.txt enforcement (plans/robots.py — beyond-reference
        # production surface): requires a fetcher exposing the opener
        # contract (HttpFetcher); the config-only static rules always apply
        self.fetch_robots = bool(fetch_robots and getattr(fetcher, "opener", None))
        self.robots_ttl_batches = batches(config.robots_ttl_s)
        # unreachable robots.txt (5xx/redirect/transport) is retried after
        # this window instead of a full TTL — RFC 9309 requires the
        # complete-disallow only WHILE unreachable (r6 ADVICE)
        self.robots_retry_batches = max(1, self.robots_ttl_batches // 8)

        # ---- state-table bucket geometry (r5: config + catalog-meta stamp) --
        # Requested counts (constructor/config) apply to NEW catalogs and are
        # stamped into the seed commit's meta as ``bucket_scheme``.  On a
        # stamped catalog the STORED counts always win — geometry is a
        # physical property of the rows already on disk; a requested change
        # takes effect only via migrate_buckets() (O(table), once).  A
        # catalog in an older format is refused here, before any batch.
        self.requested_bucket_scheme = _bucket_scheme(
            DEFAULT_BUCKET_SCHEME, seen_buckets, frontier_host_buckets, bloom_segments
        )
        manifest0 = catalog.latest()
        check_catalog_format(manifest0)
        stamp = manifest0["meta"].get("bucket_scheme")
        self._use_bucket_scheme(stamp or self.requested_bucket_scheme)

    def _use_bucket_scheme(self, scheme: dict[str, int]) -> None:
        self.bucket_scheme = dict(scheme)
        self.seen_buckets = scheme["seen"]
        self.frontier_host_buckets = scheme["frontier_host"]
        self.bloom_segments = scheme["bloom_segments"]

    # effective-geometry bucket columns (close over the resolved counts)
    def _seen_bucket_of(self, df):
        return seen_bucket_of(df, self.seen_buckets)

    def _frontier_bucket_of(self, df):
        return frontier_bucket_of(df, self.frontier_host_buckets)

    # -- bootstrap -----------------------------------------------------------

    def seed(self, seeds: DataFrame) -> None:
        """Initial publish of the seed list (the reference's external seeder
        feeding the exchange).  Seeds enter with state=Enqueued.

        Canonically-equal seeds are deduplicated (one-row-per-canon invariant
        of the seen table holds from bootstrap): representative URL = min(url),
        priority = max(priority) — same rule as the simulator."""
        u = self.udfs
        rows = (
            seeds.withColumn("url_canon", u["canonicalize"]("url"))
            .where(F.col("url_canon").isNotNull())
            .groupBy("url_canon")
            .agg(
                F.min("url").alias("url"),
                F.max("priority").alias("priority"),
            )
            .withColumn("url_hash", F.xxhash64("url_canon"))
            .withColumn("host", u["host"]("url"))
            .withColumn("priority", F.col("priority").cast("int"))
            .withColumn("priority_bucket", priority_bucket_col(F.col("priority")))
            .withColumn("attempt_count", F.lit(0))
            .withColumn("not_before_batch", F.lit(0).cast("long"))
            .withColumn("enqueued_batch", F.lit(0).cast("long"))
            .withColumn("lineage", F.lit("seed"))
            .select([f.name for f in S.FRONTIER_SCHEMA.fields])
        )
        rows = rows.localCheckpoint(eager=True)
        # one bounded aggregate gives the seed count AND the per-priority-
        # bucket counts the claim-scan pruning needs (no extra job vs count())
        pb_counts = pb_counts_of(rows)
        n_seeds = sum(pb_counts.values())
        seen = seen_rows(rows, F.lit(S.STATE_ENQUEUED), 0)
        self.catalog.commit(
            merges={
                "frontier": dict(
                    delta=rows, key="url_canon", bucket_of=self._frontier_bucket_of
                ),
                "seen": dict(delta=seen, key="url_canon", bucket_of=self._seen_bucket_of),
            },
            meta={
                "next_batch": 0,
                "frontier_size": n_seeds,
                "seen_size": n_seeds,
                "frontier_pb_counts": pb_counts,
                # physical bucket geometry of the state tables — resumers
                # MUST use these counts regardless of their own config
                "bucket_scheme": dict(self.bucket_scheme),
            },
        )

    # -- segmented bloom lifecycle (catalog-table state, no driver bitmaps) ---

    def _bloom_for_batch(self, b: int, prev_meta: dict):
        """Returns (probe_view, rebuild_rows, bloom_meta, rebuilt).

        Delta-fold-at-commit maintenance (r3 VERDICT 'what's wrong #3'): each
        batch in the bloom regime ORs ITS OWN seen delta — already in hand,
        O(delta) — into the stored segments as part of the atomic commit, and
        stamps ``wm = b + 1`` (the filter covers every seen row committed
        through batch b).  The probe side therefore reads the stored bloom
        table DIRECTLY: zero scans of the seen table, ever, outside rebuilds
        — the fold's I/O provably cannot grow with seen size because its only
        input is the batch's own delta (the old design re-scanned
        ``seen WHERE updated_batch >= wm`` per probing batch and relied on
        parquet row-group stats to prune, which nothing enforced).

        Rebuild from the full raw seen table — the only O(seen) path, and
        amortized: capacity is sized 8× ahead — when items outgrow capacity,
        when no filter exists yet (the regime just engaged), or when the
        watermark trails the batch clock (a ``bloom_min_seen`` raised and
        then lowered between runs leaves the batches in [wm, b) unfolded).
        Over-inclusion is always safe (reset/TTL rows stay in the filter; the
        exact join decides) — what matters is NO false negatives, guaranteed
        because batch b's commit atomically covers batch b's delta before
        batch b+1 probes."""
        meta = prev_meta.get("bloom")
        seen_size = int(prev_meta.get("seen_size", 0))
        if (
            meta is not None
            and seen_size <= meta["capacity"]
            and int(meta.get("wm", -1)) >= b
        ):
            probe_view = self.catalog.read("bloom", "segment int, bits binary")
            return probe_view, None, dict(meta), False
        # (re)build: size for 8× the current seen set, per segment.
        # The rebuild changes n_bits/k, so it must REPLACE the whole
        # bloom table: a segment with no current seen rows (e.g. emptied
        # by compact_seen) would otherwise keep a stale old-geometry
        # bitmap row that the next probe decodes with the new n_bits/k
        # — garbage bits, and a bloom false negative breaks the dedup
        # exactness invariant.  The caller commits this with _full=True
        # (touches every existing bucket → stale rows dropped).
        seen_raw = self.catalog.read("seen", S.SEEN_SCHEMA)
        capacity = max(seen_size * 8, 1 << 14)
        # the REBUILD adopts the configured segment count; probes and folds
        # always use the STORED filter's own geometry (bloom_meta["segments"])
        # so a segment-count change simply takes effect at the next rebuild
        segs = self.bloom_segments
        nb, k = bloom_sizing(capacity // segs + 1)
        # the rebuild shuffles every seen hash by segment: size that exchange
        # to the seen rows (~2k per partition, one per segment at most), not
        # to the batch's wave, which follows the frontier
        with scoped_confs(self.spark, ["spark.sql.shuffle.partitions"]):
            self.spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(min(segs, max(1, -(-seen_size // 2000)))),
            )
            merged = bloom_partials(
                seen_raw, "url_hash", segs, nb, k
            ).localCheckpoint(eager=True)
        new_meta = {
            "n_bits": nb,
            "k": k,
            "wm": b,  # covers rows through b-1; this batch's delta folds at commit
            "capacity": capacity,
            "segments": segs,
        }
        return merged, merged, new_meta, True

    # -- claim plumbing --------------------------------------------------------

    def _politeness_on(self) -> bool:
        cfg = self.config
        return bool(cfg.crawl_delay_by_host) or cfg.default_crawl_delay_s > 0

    def _read_claim_frontier(self, prev_meta: dict, eligible_hint: int | None):
        """Priority-ordered frontier bucket pruning (the queue-consume
        analogue: the reference's claim is O(prefetch), queue_connection.go:
        30,68-77 — ours must be O(claim), not O(frontier)).

        Buckets are CLAMPED priorities (see priority_bucket_col), so reading
        them top-down until the cumulative per-bucket counts (carried in
        commit meta) cover claim_limit bounds the claim-scan I/O by the
        claim size.  Counts may over-estimate (a TTL-expired republish
        upserts an existing frontier row) and back-off thins eligibility —
        both are safe: over-read costs a little I/O, under-claim triggers
        the exact full-scan fallback in _claim.  Returns (frontier_df,
        pruned: bool)."""
        cfg = self.config
        pb_counts = prev_meta.get("frontier_pb_counts")
        if pb_counts and eligible_hint is not None and eligible_hint > cfg.claim_limit:
            counts = {int(k): int(v) for k, v in pb_counts.items() if int(v) > 0}
            prefix, cum = [], 0
            for pb in sorted(counts, reverse=True):
                prefix.append(pb)
                cum += counts[pb]
                if cum >= cfg.claim_limit:
                    break
            if any(pb not in prefix for pb in counts):
                bucket_ids = [
                    pb * self.frontier_host_buckets + j
                    for pb in prefix
                    for j in range(self.frontier_host_buckets)
                ]
                return (
                    self.catalog.read_buckets(
                        "frontier", bucket_ids, S.FRONTIER_SCHEMA
                    ),
                    True,
                )
        return self.catalog.read("frontier", S.FRONTIER_SCHEMA), False

    def _claim_stage(
        self,
        frontier: DataFrame,
        b: int,
        eligible_hint: int | None,
        live_delays: DataFrame | None = None,
    ):
        """Eligibility filter + salted politeness budget + global top-K,
        rebalanced by url_hash.  Returns a LAZY plan — _claim
        materializes it (localCheckpoint) only when something must be
        collected off it before the fetch (priority-pruning fallback count,
        claim-gate bucket footprint past the seen broadcast threshold).

        ``live_delays`` (r6): (host, crawl_delay) rows from live robots.txt
        ``Crawl-delay`` directives — the tiny ``robots_delays`` catalog
        table, broadcast-joined here so the per-host budget becomes
        min(config budget, accumulated-fairness live budget).  A delay
        longer than the batch period legitimately yields budget 0 on some
        batches (the host is claimed every ⌈d/P⌉-th batch).  The claimed
        rows keep ``crawl_delay`` so the fetch schedule paces with it too."""
        cfg = self.config
        eligible = frontier.where(F.col("not_before_batch") <= F.lit(b))

        budget = F.lit(cfg.host_budget("__default__"))
        for host, _delay in cfg.crawl_delay_by_host.items():
            budget = F.when(
                F.col("host") == host, F.lit(cfg.host_budget(host))
            ).otherwise(budget)
        if live_delays is not None:
            eligible = eligible.join(F.broadcast(live_delays), "host", "left")
            live_budget = crawl_delay_budget_col(
                F.col("crawl_delay"), b, cfg.batch_period_s
            )
            budget = F.when(
                F.col("crawl_delay").isNotNull(), F.least(budget, live_budget)
            ).otherwise(budget)

        order = [F.col("priority").desc(), F.col("url_canon").asc()]
        if not (self._politeness_on() or live_delays is not None):
            # no politeness delay configured → every host budget equals the
            # claim limit and the per-host rank filter is a tautology.  Skip
            # the window: it shuffles into one partition PER HOST, so a hot
            # host serializes into a single straggler task at any cluster
            # size — the worst possible claim-stage skew.
            budgeted = eligible
        else:
            # SALTED politeness window: partitioning the rank window by host
            # alone would put a hot host's entire eligible set in ONE task.
            # Split each host's budget across k salt ranks (host_salt_col,
            # reproducible in the simulator); the remainder rotates with the
            # batch id so no salt rank starves a URL forever.  Σ_s budget_s =
            # budget exactly, so the per-batch politeness bound is unchanged.
            # Rows carry their rotated salt: the fetch schedule's slot.
            k = cfg.host_salt_buckets
            slot = host_salt_col(k, b)
            salt_budget = F.floor(budget / k) + F.when(
                slot < budget % k, 1
            ).otherwise(0)
            w_host = Window.partitionBy("host", host_salt_col(k)).orderBy(*order)
            budgeted = (
                eligible.withColumn("host_rank", F.row_number().over(w_host))
                .where(F.col("host_rank") <= salt_budget)
                .drop("host_rank")
                .withColumn("salt", slot)
            )
        # The global top-K claim (orderBy+limit) leaves the batch in ONE
        # partition — poison for every downstream stage.  Skip the sort when
        # the limit cannot bind (frontier smaller than claim_limit — the
        # common steady state), and ALWAYS rebalance the claim across the
        # cluster by url_hash so fetch/extract/publish parallelize.
        if eligible_hint is not None and eligible_hint <= cfg.claim_limit:
            claimed = budgeted
            if eligible_hint <= 2000:
                # small wave: the bucketed frontier scan (and the politeness
                # window's (host, salt) hash when it ran) already spread the
                # rows; an extra rebalance shuffle costs a whole stage of
                # fixed latency for nothing at this row count
                return claimed
        else:
            claimed = budgeted.orderBy(*order).limit(cfg.claim_limit)
        n_parts = int(self.spark.conf.get("spark.sql.shuffle.partitions", "32"))
        # the global top-K leaves ONE partition (and tiny scans few):
        # rebalance by url_hash so fetch/extract/publish parallelize
        return claimed.repartition(n_parts, "url_hash")

    def _expired_seen(self, b: int, rows: DataFrame | None = None):
        """Seen rows after TTL expiry: ``rows``' seen buckets, or the full
        table when not pruning (``rows`` None).  Returns (seen, the bucket
        ids read; None = full scan)."""
        # ``rows`` must be materialized: its bucket footprint is a bounded
        # collect of bucket ids, never row data.
        buckets = None
        if rows is not None:
            buckets = sorted(
                int(r["sb"])
                for r in rows.select(self._seen_bucket_of(rows).alias("sb"))
                .distinct()
                .collect()
            )
            seen = self.catalog.read_buckets("seen", buckets, S.SEEN_SCHEMA)
        else:
            seen = self.catalog.read("seen", S.SEEN_SCHEMA)
        return expire_seen(seen, b, self.ttl_batches), buckets

    def _anti_join_seen(
        self, cand: DataFrame, b: int, claim_delta: DataFrame, small_seen=None
    ) -> DataFrame:
        """Exact publish dedup: drop the candidates Enqueued in seen, with
        the claim delta merged in.  ``small_seen`` (the claim's
        broadcast-sized seen read) joins with a broadcast hint; otherwise
        only the candidates' seen buckets are read, joined with no hint."""
        # The claim delta (5XX incr / reset, one batch, tiny) preserves the
        # happens-before of claim-phase seen writes over the publish Get.
        # Past broadcast scale this is PLANS.md §2's bucketed plan: at 10^10
        # seen URLs the build side must move by bucketed shuffle, never ship
        # whole to every executor; same-canon rows share a bucket, so bucket
        # pruning cannot lose a membership row.
        seen, buckets = small_seen, None
        if small_seen is None:
            seen, buckets = self._expired_seen(b, cand)
        enq = (
            seen_merge(seen, claim_delta)
            .where(F.col("state") >= S.STATE_ENQUEUED)
            .select("url_canon")
        )
        if small_seen is not None:
            enq = enq.hint("broadcast")
        out = cand.join(enq, "url_canon", "left_anti")
        if self.debug_capture_plans and buckets != []:
            # only keep a plan that actually reads seen buckets (a batch
            # with zero bloom-positive candidates proves nothing)
            self.debug_plans["publish_dedup"] = (
                out._jdf.queryExecution().executedPlan().toString()
            )
        return out

    # -- one micro-batch -------------------------------------------------------

    def run_batch(self, b: int, eligible_hint: int | None = None) -> BatchStats:
        """One micro-batch.  ``eligible_hint`` = frontier row count if the
        caller already knows it (lets the claim skip the global sort when the
        claim limit cannot bind).  The batch sizes the BATCH_CONFS to its
        wave; they are restored on return and on error."""
        with scoped_confs(self.spark, BATCH_CONFS) as confs0:
            stats = BatchStats(batch_id=b)
            marks = [time.monotonic()]

            def lap(label: str) -> None:
                marks.append(time.monotonic())
                stats.stage_ms[label] = (marks[-1] - marks[-2]) * 1000

            self._size_confs(confs0, eligible_hint)
            bt = Batch(b, eligible_hint, dict(self.catalog.latest()["meta"]), stats)
            claim = self._claim(bt)
            robots = LiveRobots()
            if self.fetch_robots:
                robots = live_robots(
                    self.catalog,
                    claim.claimed,
                    self.fetcher,
                    b,
                    self.robots_ttl_batches,
                    self.robots_retry_batches,
                )
            routed = self._fetch_route(b, claim, robots.lookup)
            lap("crawl_url")
            fetched_new = self._fetched_rows(b, routed)
            lap("write_to_disk")
            candidates = self._extract(routed, robots.sitemap_candidates)
            lap("extract_urls")
            pub = self._publish(bt, claim, routed, candidates)
            lap("publish_urls")
            self._fold_bloom(b, pub)
            self._commit(bt, claim, routed, fetched_new, pub, robots)
            stats.duration_s = time.monotonic() - marks[0]
            return stats

    def _size_confs(self, confs0: dict[str, str | None], eligible_hint) -> None:
        """Size the BATCH_CONFS to the eligible wave (run_batch restores them)."""
        if eligible_hint is None:
            return
        # Shuffle partitions follow the eligible wave, ~2k rows per
        # partition, capped at the session's configured value so big
        # batches are untouched:
        #     wave_parts = min(shuffle0, max(1, ceil(eligible_hint / 2000)))
        # There is no floor: the small-batch floor is set by Python-worker
        # tasks, and every exchange fans out to wave_parts of them (the
        # routed pass runs the blacklist and extract UDFs).  On a 4-vCPU
        # host each task that evaluates a pandas UDF costs ~0.14 s of CPU,
        # ~78% of it pyspark's per-task setup_spark_files →
        # importlib.invalidate_caches(), which on Python 3.11 re-reads
        # pyspark.zip's directory for every zipimporter.  A trivial pandas
        # UDF over 12 rows took 0.19 s at 1 partition and 0.54 s at 8; the
        # old floor of 8 gave a 12-URL BFS batch 383 tasks.  The cost is CPU,
        # so a floor at the slot count does not hide it.
        # The seen table does not enter the count: past broadcast size the
        # claim gate and the publish dedup read only the seen buckets of
        # the rows in hand, and the bloom rebuild, the one O(seen) shuffle,
        # sizes its own exchange (_bloom_for_batch).  HttpFetcher sizes its
        # fetch exchange itself.
        shuffle0 = int(confs0["spark.sql.shuffle.partitions"] or 32)
        wave_parts = min(shuffle0, max(1, -(-eligible_hint // 2000)))
        self.spark.conf.set("spark.sql.shuffle.partitions", str(wave_parts))
        # AQE re-plans stage-by-stage — a driver round trip per shuffle.  On
        # a small wave (the BFS feedback regime, ~30 stages of a few hundred
        # rows) that latency IS the batch floor, and the partitions are
        # already wave-sized above, so AQE has nothing left to optimize:
        # turn it off for the batch.  Big batches and real clusters keep it —
        # its skew-join splitting is exactly what hot-host shuffles need at
        # 100 TB.
        aqe0 = (confs0["spark.sql.adaptive.enabled"] or "true").lower()
        if eligible_hint <= 5000 and aqe0 == "true":
            self.spark.conf.set("spark.sql.adaptive.enabled", "false")
        if eligible_hint <= 2000:
            # whole-stage codegen compiles the (big) batch plan anew per
            # batch — at a few hundred rows the Janino compile costs more
            # than interpreted evaluation ever saves
            self.spark.conf.set("spark.sql.codegen.wholeStage", "false")

    def _claim(self, bt: Batch) -> Claim:
        """A1: priority-bucket-pruned claim with its exact fallback, then the
        claimed rows' seen states for the retry gate."""
        # The claim is materialized (localCheckpoint) only when something
        # must be collected off it before the fetch: the pruning fallback
        # count, or the claim-gate bucket footprint past the seen broadcast
        # threshold.  In the small-seen regime the lazy plan flows straight
        # into the routed pass (one materialization per batch, the BFS
        # floor's dominant cost).
        cfg, b, eligible_hint = self.config, bt.b, bt.eligible_hint
        prune_seen = int(bt.prev_meta.get("seen_size", 0)) >= self.bloom_min_seen
        frontier, pruned = self._read_claim_frontier(bt.prev_meta, eligible_hint)
        # live robots Crawl-delay budgets: a TINY side table (only hosts
        # whose robots.txt declares a delay — maintained by the robots
        # merge), broadcast into the claim's politeness window.  Existence
        # is one manifest lookup; absent table = no live delays anywhere.
        live_delays = None
        if self.fetch_robots and self.catalog.exists("robots_delays"):
            live_delays = self.catalog.read(
                "robots_delays", "host string, crawl_delay double"
            )
        def claim_from(frontier: DataFrame, checkpoint: bool) -> DataFrame:
            claimed = self._claim_stage(frontier, b, eligible_hint, live_delays)
            # lazy: the fallback count / bucket-footprint collect below is
            # the first action and materializes it
            return claimed.localCheckpoint(eager=False) if checkpoint else claimed

        claimed = claim_from(frontier, pruned or prune_seen)
        if pruned and claimed.count() < cfg.claim_limit:
            # the pruned prefix under-delivered (back-off/politeness thinned
            # its eligible rows) — redo against the full frontier, so pruning
            # can only ever change how much is READ, never what is claimed.
            # When the prefix fills the limit the pruned result provably
            # equals the full scan: clamped buckets are priority-ordered, so
            # every prefix row outranks every skipped row under the claim
            # order, and the politeness window's per-(host, salt) ranks are
            # unchanged by dropping lower-ranked rows.  Nothing was fetched
            # yet — the fetch runs strictly after the claim is final.
            frontier = self.catalog.read("frontier", S.FRONTIER_SCHEMA)
            claimed = claim_from(frontier, prune_seen)
        # The retry-gate lookup needs the claimed rows' seen states BEFORE
        # the fetch.  Strategy switch like the publish dedup: below
        # bloom_min_seen the seen table is broadcast-sized — one small scan,
        # shared with the publish path.  Past it, claimed ≤ claim_limit rows
        # → read ONLY their seen buckets (O(claim) I/O, not O(seen)).
        seen, _ = self._expired_seen(b, claimed if prune_seen else None)
        return Claim(claimed, seen, prune_seen)

    def _fetch_route(
        self, b: int, claim: Claim, robots_lookup: DataFrame | None
    ) -> DataFrame:
        """A2 (+A3's body writes): claim-time drops, the pluggable fetch, the
        status-driven route chain and the extraction UDF, materialized once."""
        # The fetcher is pluggable behind one contract (plans/fetch.py):
        # TableFetcher joins the synthetic web (tests/bench), HttpFetcher
        # does real paced GETs inside mapInPandas — the route chain is
        # driven purely by the returned status, so both paths exercise the
        # identical downstream plan (crawler.go:84-109 status routing).
        cfg, u = self.config, self.udfs
        state_lkp = claim.seen.select(
            "url_canon", F.col("state").alias("crawl_count")
        )
        # NB: transformation chains here are batched into few select() calls
        # — every withColumn re-analyzes the whole growing plan through
        # py4j, and at the BFS floor that driver-side chatter is ~0.4s/batch.
        pre_enriched = claim.claimed.join(state_lkp, "url_canon", "left").fillna(
            {"crawl_count": 0}
        )
        robots_col = robots_disallowed_col(cfg)
        # a block backed only by an UNREACHABLE robots fetch (assumed
        # disallow-all, no real rules) is retryable, not a drop
        unreachable_col = F.lit(False)
        if robots_lookup is not None:
            # no forced broadcast: the lookup is already bucket-pruned to the
            # claim's hosts' buckets, and AQE picks broadcast when it is small
            pre_enriched = pre_enriched.join(robots_lookup, "host", "left")
            robots_col = robots_col | robots_blocked_col(F.col("rules"))
            unreachable_col = F.coalesce(F.col("unreachable"), F.lit(False))
        enriched = pre_enriched.select(
            "*",
            # claim-time blacklist re-check (ReadFromQueue drops
            # blacklisted URLs already IN the queue — workflow.go:40-44 —
            # so a blacklisted seed is acked away, never fetched)
            u["is_blacklisted"]("url").alias("blacklisted"),
            # robots.txt disallow rules (north-rule politeness; columnar
            # prefix predicate, no UDF) — dropped like blacklist, pre-fetch
            robots_col.alias("robots_blocked"),
            unreachable_col.alias("robots_unreachable"),
        )
        if robots_lookup is not None:
            enriched = enriched.drop("rules", "unreachable")
        fetched_raw = self.fetcher.fetch(enriched, epoch=time.time())
        if "image_id" not in fetched_raw.columns:
            fetched_raw = fetched_raw.withColumn("image_id", F.lit(None).cast("string"))
        # the fetch schedule's inputs and outputs (the live Crawl-delay rides
        # the claim so the HTTP fetcher paces with it)
        pacing_cols = [
            c for c in ("salt", "fetch_offset_s", "crawl_delay") if c in fetched_raw.columns
        ]
        redirect = F.col("status").isin(*REDIRECT_STATUSES)
        route_col = (
            # blacklist drop FIRST (ReadFromQueue runs before CrawlURL):
            # acked away — no fetch, no dead record, no seen write
            F.when(F.col("blacklisted"), "blacklist_drop")
            # blocked only by an unreachable-robots ASSUMED disallow-all:
            # requeue for the robots retry window instead of acking away —
            # RFC 9309 §2.3.1.4 requires the disallow only WHILE unreachable,
            # and a transient 5xx on first contact must not silently discard
            # the host's whole claimed frontier (never fetched either way)
            .when(
                F.col("robots_blocked") & F.col("robots_unreachable"),
                "requeue_robots",
            )
            .when(F.col("robots_blocked"), "robots_drop")
            .when(F.col("crawl_count") > cfg.max_crawl_retries, "gate_dead")
            .when(F.col("status").isNull(), "not_found")
            .when(F.col("status") == 429, "requeue_429")
            .when((F.col("status") >= 500) & (F.col("status") < 600), "requeue_5xx")
            .when(redirect, "fetch_html")
            .when(F.col("status") >= 400, "not_found")
            # null-safe: a 2xx with NULL/unparsable Content-Type is NOT
            # accepted (sim: accepted_content_type(None) → False → reset;
            # three-valued ~NULL would otherwise skip this branch)
            .when(
                ~F.coalesce(ct.is_accepted_col(F.col("content_type")), F.lit(False)),
                "reset",
            )
            .when(ct.is_html_col(F.col("content_type")), "fetch_html")
            .otherwise("fetch_other")
        )
        body_col = F.when(
            redirect,
            F.concat(F.lit('<a href="'), F.col("redirect_to"), F.lit('">moved</a>')),
        ).otherwise(F.col("body_html"))
        eff_ct_col = F.when(redirect, F.lit(ct.HTML)).otherwise(F.col("content_type"))
        routed = fetched_raw.drop(*pacing_cols).select(
            "*",
            route_col.alias("route"),
            body_col.alias("body"),
            eff_ct_col.alias("eff_content_type"),
        )
        # Single materialization pass: every vectorized UDF (extraction,
        # mirror path, param gate) runs here, in ONE scan over the fetch
        # results, and the bulky body columns are dropped BEFORE the
        # checkpoint — the checkpointed batch carries outlink arrays, not
        # page bodies.  (Fusing extraction into the routed pass instead of
        # a second checkpoint halved bulk-drain wall time.)
        routed = routed.select(
            "*",
            self.extract_udf(
                F.when(F.col("route") == "fetch_html", F.col("body")), F.col("url")
            ).alias("ex"),
            u["rel_file_path"]("url", "eff_content_type").alias("rel_path"),
            u["has_params"]("url").alias("has_params"),
            ct.mime_col(F.col("eff_content_type")).alias("mime"),
        )
        if self.mirror_root:
            from govuk_crawler_worker_spark.plans.mirror import make_body_writer

            routed = routed.mapInPandas(
                make_body_writer(self.mirror_root), routed.schema
            )
        return (
            routed.drop("body", "body_html")
            # Materialize the batch once (reused 6×).  localCheckpoint beats
            # persist() here (measured ~20% on the BFS floor: every one of
            # the six consumers pays InMemoryRelation scan setup, while a
            # checkpoint is a plain local RDD).  Eagerness depends on the
            # fetcher contract: a PURE fetcher (TableFetcher — the fetch is
            # a join) may be re-executed, so the checkpoint stays LAZY and
            # the first action (the combined stats collect, or the bloom
            # probe's candidate checkpoint) materializes it — no dedicated
            # checkpoint job pays this host's ~0.2s fixed job round trip.
            # A SIDE-EFFECTING fetcher (HttpFetcher, or any fetcher not
            # declaring ``pure = True``) must checkpoint EAGERLY: the first
            # materializing action can be a single job whose DAG reaches
            # routed through two independent branches (e.g. the fused stats
            # collect reads routed directly AND via the lazily-checkpointed
            # inserts), and Spark schedules independent stages concurrently
            # with no exactly-once guarantee on un-materialized cached
            # blocks — a lazy checkpoint could compute a routed partition
            # twice, i.e. duplicate HTTP GETs.
            .localCheckpoint(eager=not getattr(self.fetcher, "pure", False))
        )

    def _fetched_rows(self, b: int, routed: DataFrame) -> DataFrame:
        """A3: the fetched-table rows (mirror sink) of this batch."""
        fetch_rows = routed.where(F.col("route").isin("fetch_html", "fetch_other"))
        fetched_new = fetch_rows.where(~F.col("has_params")).select(
            "url",
            "url_canon",
            "host",
            F.lit(b).cast("long").alias("batch_id"),
            F.col("mime").alias("content_type"),
            "rel_path",
            "image_id",
        )
        if self.payload is not None:
            fetched_new = fetched_new.join(self.payload, "image_id", "left")
        else:
            # pure-HTTP deployment: no payload lookup table — the schema's
            # payload columns ride as nulls
            for f in S.FETCHED_SCHEMA.fields:
                if f.name not in fetched_new.columns:
                    fetched_new = fetched_new.withColumn(
                        f.name, F.lit(None).cast(f.dataType)
                    )
        fetched_new = fetched_new.select([f.name for f in S.FETCHED_SCHEMA.fields])
        if self.mirror_root:
            from govuk_crawler_worker_spark.plans.mirror import make_payload_writer

            fetched_new = fetched_new.mapInPandas(
                make_payload_writer(self.mirror_root), fetched_new.schema
            )
        return fetched_new

    def _extract(
        self, routed: DataFrame, sitemap_candidates: DataFrame | None
    ) -> DataFrame:
        """A4: the (src, url) outlinks extracted in the routed pass + sitemaps."""
        u = self.udfs
        candidates = (
            routed.where(F.col("route") == "fetch_html")
            .where(~F.col("ex.error"))
            .select(F.col("url").alias("src"), F.explode("ex.urls").alias("url"))
        )
        if sitemap_candidates is not None:
            # sitemap-discovered URLs enter the SAME publish gates as
            # extracted links; the extract UDF's host/blacklist filters
            # (which sitemap URLs bypass) are applied here explicitly
            candidates = candidates.unionByName(
                sitemap_candidates.where(
                    u["allowed_host"]("url") & ~u["is_blacklisted"]("url")
                )
            )
        return candidates

    def _publish(
        self, bt: Batch, claim: Claim, routed: DataFrame, candidates: DataFrame
    ) -> Published:
        """A5: param gate → canonicalize → bloom pre-filter → exact anti-join
        vs seen → frontier inserts, then the fused stats collect."""
        u, b = self.udfs, bt.b
        cands = (
            candidates.where(u["publish_param_gate"]("url"))
            .withColumn("url_canon", u["canonicalize"]("url"))
            .where(F.col("url_canon").isNotNull())
            .groupBy("url_canon")
            .agg(F.min(F.struct("url", "src")).alias("rep"))
            .select(
                "url_canon",
                F.col("rep.url").alias("url"),
                F.col("rep.src").alias("lineage"),
            )
            .withColumn("url_hash", F.xxhash64("url_canon"))
        )
        # Claim-phase seen writes (5XX Incr, non-accepted reset) happen-before
        # the publish-phase Get in the reference's per-message timeline; our
        # batch semantics preserve that: apply the claim delta BEFORE the
        # publish dedup check (so a reset-to-0 URL republishes same-batch).
        claim_delta = seen_rows(
            routed.where(F.col("route") == "requeue_5xx"),
            (F.col("crawl_count") + 1).cast("int"),
            b,
        ).unionByName(
            seen_rows(
                routed.where(F.col("route") == "reset"),
                F.lit(S.STATE_READY_TO_ENQUEUE),
                b,
            )
        )
        # Publish-dedup strategy switch, Catalyst-style (PLANS.md §2):
        #   seen < bloom_min_seen          → broadcast-hint exact anti-join
        #                                    (build side ships once, cheapest
        #                                    while the seen table is small)
        #   seen ≥ bloom_min_seen          → segmented-bloom pre-filter cuts
        #                                    the probe side; the bloom-POSITIVE
        #                                    survivors confirm via a BUCKETED
        #                                    anti-join against only their seen
        #                                    buckets — no broadcast, both
        #                                    sides move by bucketed shuffle
        # NOTHING is collected on any path except bounded bucket-id lists.
        bloom = None
        if claim.prune_seen:
            bloom = BloomState(*self._bloom_for_batch(b, bt.prev_meta))
            cands = bloom_probe_join(
                cands, bloom.probe, "url_hash", *bloom.geometry
            ).localCheckpoint(eager=False)  # materialized by the bucket collect
            # bloom-negative → certainly new (no false negatives: the filter
            # covers every committed seen row): skip the join entirely
            certainly_new = cands.where(~F.col("maybe_seen")).drop("maybe_seen")
            maybe = cands.where(F.col("maybe_seen")).drop("maybe_seen")
            new_urls = certainly_new.unionByName(
                self._anti_join_seen(maybe, b, claim_delta)
            )
        else:
            # the same broadcast-sized seen scan the claim gate used
            new_urls = self._anti_join_seen(cands, b, claim_delta, claim.seen)
        inserts = (
            new_urls.select(
                "url",
                "url_canon",
                "url_hash",
                u["host"]("url").alias("host"),
                # published priority 0 (queue_connection.go:129); its clamped
                # priority bucket is the constant 0
                F.lit(0).alias("priority"),
                F.lit(0).cast("int").alias("priority_bucket"),
                F.lit(0).alias("attempt_count"),
                F.lit(b + 1).cast("long").alias("not_before_batch"),
                F.lit(b).cast("long").alias("enqueued_batch"),
                "lineage",
            )
            # lazy like routed: the combined collect below materializes it
            .localCheckpoint(eager=False)
        )
        publish_delta = seen_rows(inserts, F.lit(S.STATE_ENQUEUED), b)
        # one upsert set for the bucketed seen commit: publish wins over
        # claim on the same canon (a reset row republished same-batch ends
        # Enqueued)
        seen_delta = claim_delta.join(
            publish_delta.select("url_canon").hint("broadcast"),
            "url_canon",
            "left_anti",
        ).unionByName(publish_delta)
        pub = Published(inserts, seen_delta, bloom)
        self._collect_counts(bt.stats, routed, pub)
        return pub

    def _collect_counts(self, stats: BatchStats, routed: DataFrame, pub: Published):
        """The fused stats collect: fills ``stats`` and ``pub``'s facts."""
        # ONE bounded aggregation job covers all per-route stats, every
        # bucket footprint the commit needs (frontier deletes/requeues per
        # bucket, claim-delta seen buckets, per-priority-bucket claim counts)
        # AND the published inserts' counts+footprints — two collect jobs
        # fused into one driver round trip (the BFS floor is fixed per-job
        # latency, ~0.1-0.3 s each on this host).
        # Every consumer below uses only MARGINALS (per-route flags,
        # per-route fb, per-route sb — never an sb×fb pairing), so each input
        # aggregates by GROUPING SETS: one scan per input, Expand fans each
        # row into its 2-3 marginal groups with map-side partial aggregation,
        # and the collect is bounded by O(routes × (sb_buckets + fb_buckets))
        # ints — NOT the O(routes × sb × fb) cross product, which at a
        # production deployment (O(1000)-bucket tables, 10^6-row claims)
        # would approach a 10^6-row driver collect per batch.  Never row
        # data.  Both inputs are checkpointed, so this re-scans materialized
        # rows only.
        # grouping_id values: bit i set ⟺ grouping column i aggregated away
        # (column order below), so (route,exerr,hp) → 0b00011 = 3,
        # (route,fb) → 0b01101 = 13, (route,sb) → 0b01110 = 14; for the
        # insert side's (sb, fb): (sb) → 1, (fb) → 2.
        GID_R_FLAGS, GID_R_FB, GID_R_SB = 3, 13, 14
        GID_I_SB = 1
        rc_agg = (
            routed.select(
                "route",
                F.coalesce(F.col("ex.error"), F.lit(False)).alias("exerr"),
                F.coalesce(F.col("has_params"), F.lit(True)).alias("hp"),
                self._frontier_bucket_of(routed).alias("fb"),
                self._seen_bucket_of(routed).alias("sb"),
            )
            .groupingSets(
                [["route", "exerr", "hp"], ["route", "fb"], ["route", "sb"]],
                "route",
                "exerr",
                "hp",
                "fb",
                "sb",
            )
            .agg(F.count(F.lit(1)).alias("n"), F.grouping_id().alias("gid"))
        )
        ins_agg = (
            pub.inserts.select(
                self._seen_bucket_of(pub.inserts).alias("sb"),
                self._frontier_bucket_of(pub.inserts).alias("fb"),
            )
            .groupingSets([["sb"], ["fb"]], "sb", "fb")
            .agg(F.count(F.lit(1)).alias("n"), F.grouping_id().alias("gid"))
            .select(
                F.lit(None).cast("string").alias("route"),
                F.lit(False).alias("exerr"),
                F.lit(False).alias("hp"),
                "fb",
                "sb",
                "n",
                "gid",
            )
        )
        counts = rc_agg.withColumn("tag", F.lit("r")).unionByName(
            ins_agg.withColumn("tag", F.lit("i"))
        ).collect()
        stats.stats_rows = len(counts)
        routes = pub.routes
        for r in counts:
            n = int(r["n"])
            gid = int(r["gid"])
            if r["tag"] == "i":
                if gid == GID_I_SB:
                    stats.published += n
                    pub.seen_touched.add(int(r["sb"]))
                else:  # (fb)
                    pub.frontier_touched.add(int(r["fb"]))
                continue
            route = r["route"]
            if gid == GID_R_FLAGS:
                routes[route] = routes.get(route, 0) + n
                if route == "fetch_html" and r["exerr"]:
                    pub.extract_errors += n
                if route in ("fetch_html", "fetch_other") and not r["hp"]:
                    pub.fetch_rows += n
            elif gid == GID_R_FB:
                fb = int(r["fb"])
                pb = fb // self.frontier_host_buckets
                pub.frontier_touched.add(fb)
                # a claimed row leaves its bucket; a requeue keeps its
                # priority and host → same frontier bucket
                if route not in REQUEUE_ROUTES:
                    pub.pb_delta[pb] = pub.pb_delta.get(pb, 0) - n
            elif gid == GID_R_SB and route in ("requeue_5xx", "reset"):
                pub.seen_touched.add(int(r["sb"]))
        stats.claimed = sum(routes.values())
        stats.requeued = sum(routes.get(r, 0) for r in REQUEUE_ROUTES)
        stats.dead = routes.get("gate_dead", 0) + routes.get("not_found", 0)
        stats.fetched = routes.get("fetch_html", 0) + routes.get("fetch_other", 0)

    def _fold_bloom(self, b: int, pub: Published) -> None:
        """Bloom delta fold (O(delta), commit-side): OR this batch's seen
        delta into the filter as part of the atomic commit."""
        # See _bloom_for_batch: the fold's only input is the delta itself —
        # never a scan of the seen table — so filter maintenance I/O is
        # bounded by the batch, not by history.  Counts are already known
        # from the marginal stats collect, so an empty delta skips every
        # bloom job (the watermark still advances: nothing new to cover).
        bloom = pub.bloom
        if bloom is None:
            return
        if pub.seen_touched:  # the seen delta has rows
            partials = bloom_partials(pub.seen_delta, "url_hash", *bloom.geometry)
            if bloom.rebuilt:
                # the rebuild rows (full replace) cover history through b-1:
                # OR the delta in, carrying untouched segments
                folded = bloom_or_merge(bloom.rows, partials)
                bloom.rows = (
                    bloom.rows.join(folded.select("segment"), "segment", "left_anti")
                    .unionByName(folded)
                    .localCheckpoint(eager=True)
                )
            else:
                # steady state: merge rows for exactly the delta's segments
                # against the stored table (the probe view IS the stored
                # table here)
                bloom.rows = bloom_or_merge(bloom.probe, partials).localCheckpoint(
                    eager=True
                )
                # bounded: ≤ BLOOM_SEGMENTS ints off a checkpointed df —
                # lets the commit skip its touched-bucket discovery job
                bloom.touched = sorted(
                    int(r["segment"]) for r in bloom.rows.select("segment").collect()
                )
        elif not bloom.rebuilt:
            bloom.rows = None  # nothing to write; meta still advances
        bloom.meta = dict(bloom.meta, wm=b + 1)

    def _commit(
        self, bt: Batch, claim: Claim, routed, fetched_new, pub: Published, robots
    ) -> None:
        """A6 + exactly-once: assemble the batch's deltas and write them in
        ONE atomic commit (ack/reject/publish all-at-once)."""
        b, stats, prev_meta = bt.b, bt.stats, bt.prev_meta
        dead_new = dead_rows(
            routed.where(F.col("route").isin("gate_dead", "not_found")),
            F.when(F.col("route") == "gate_dead", "retries_exhausted").otherwise(
                "not_found"
            ),
            b,
        ).unionByName(
            dead_rows(
                routed.where(F.col("route") == "fetch_html").where(F.col("ex.error")),
                F.lit("extract_error"),
                b,
            )
        )
        requeues = routed.where(F.col("route").isin(*REQUEUE_ROUTES)).select(
            "url",
            "url_canon",
            "url_hash",
            "host",
            "priority",
            "priority_bucket",
            (F.col("attempt_count") + 1).cast("int").alias("attempt_count"),
            F.when(F.col("route") == "requeue_429", F.lit(b + self.backoff_batches))
            # robots-unreachable blocks sleep until the robots refetch
            # window lapses — claiming earlier would just requeue again
            .when(
                F.col("route") == "requeue_robots",
                F.lit(b + self.robots_retry_batches),
            )
            .otherwise(F.lit(b + 1))
            .cast("long")
            .alias("not_before_batch"),
            "enqueued_batch",
            "lineage",
        )

        # metrics (B30 StatsD labels): buffered driver-side, flushed every
        # METRICS_FLUSH_BATCHES commits (+ drain-end flush)
        stats.stage_ms["read_from_queue"] = 0.0  # folded into claim/crawl_url
        self._pending_metrics.extend(
            (b, stage, float(ms), int(stats.claimed), 0)
            for stage, ms in stats.stage_ms.items()
        )
        # skip appends that would write empty tables (counts already known —
        # saves 1-2 write jobs per batch in the BFS tail)
        appends = {}
        if (b + 1) % METRICS_FLUSH_BATCHES == 0 and self._pending_metrics:
            appends["metrics"] = self.spark.createDataFrame(
                self._pending_metrics, S.METRICS_SCHEMA
            )
            self._pending_metrics = []
        if pub.fetch_rows > 0:
            appends["fetched"] = fetched_new
        if stats.dead + pub.extract_errors > 0:
            appends["dead"] = dead_new
        if self.origin is not None and pub.fetch_rows > 0:
            # per-batch payload validation (north rule)
            from govuk_crawler_worker_spark.plans.validate import (
                validate_fetched_images,
            )

            appends["validation"] = validate_fetched_images(
                fetched_new, self.origin
            ).withColumn("batch_id", F.lit(b).cast("long"))

        # frontier + seen + bloom are bucketed MERGES (per-bucket rewrite,
        # untouched bucket files carried forward as pointers); fetched / dead /
        # metrics are appends — every table's I/O is delta-proportional.
        # touched-bucket sets are already known driver-side (from the route
        # and insert aggregates) — passing them lets the commit skip its
        # touched-bucket discovery job entirely.
        # State tables switch to MERGE-ON-READ past the big-state threshold
        # (the same switch that governs the bloom/bucketed-join strategies):
        # a copy-on-write bucket rewrite is O(table)/commit once a
        # uniform-hash delta touches every bucket — any delta ≳ bucket count
        # does, so at production claim sizes every commit would rewrite the
        # whole seen/frontier table (the r4 1M-page soak measured ~90 % of
        # catalog bytes as rewrite garbage).  MOR commits append O(delta)
        # leaves (frontier deletes travel as tombstones), reads fold the
        # bounded per-bucket chains latest-wins, and over-long chains are
        # folded inline by the committing batch.  Below the threshold the
        # tables are broadcast-small and COW rewrites are cheapest.
        mor_frontier = int(prev_meta.get("frontier_size") or 0) >= self.bloom_min_seen
        merges = {
            # the frontier merge deletes every claimed row (carrying the
            # bucket inputs) and upserts requeues ∪ inserts — commit I/O
            # touches only those rows' buckets
            "frontier": dict(
                delta=requeues.unionByName(pub.inserts),
                key="url_canon",
                bucket_of=self._frontier_bucket_of,
                deletes=routed.select("url_canon", "priority_bucket", "host"),
                touched=sorted(pub.frontier_touched),
                mor=mor_frontier,
            ),
            "seen": dict(
                delta=pub.seen_delta,
                key="url_canon",
                bucket_of=self._seen_bucket_of,
                touched=sorted(pub.seen_touched),
                mor=claim.prune_seen,
            ),
        }
        # freshly fetched robots.txt rules ride the same atomic commit
        merges.update(robots.merges)
        bloom = pub.bloom
        if bloom is not None and bloom.rows is not None:
            merges["bloom"] = dict(
                delta=bloom.rows,
                key="segment",
                bucket_of=lambda df: F.col("segment"),
            )
            if bloom.rebuilt:
                # geometry changed (n_bits/k): replace the WHOLE bloom table
                # so no stale old-geometry segment row survives (a stale row
                # decoded with the new geometry is garbage bits — and a bloom
                # false negative would break dedup exactness)
                merges["bloom"]["_full"] = True
            else:
                merges["bloom"]["touched"] = bloom.touched
        new_meta = self._next_meta(bt, pub)
        self.catalog.commit(appends=appends, merges=merges, meta=new_meta)
        stats.frontier_size = new_meta["frontier_size"]

    def _next_meta(self, bt: Batch, pub: Published) -> dict:
        """Commit meta after the batch: clock, sizes, pb counts, bloom meta."""
        prev_meta, stats = bt.prev_meta, bt.stats
        new_meta = dict(prev_meta)
        new_meta["next_batch"] = bt.b + 1
        new_meta["frontier_size"] = (
            self.frontier_size(prev_meta)
            - stats.claimed
            + stats.requeued
            + stats.published
        )
        new_meta["seen_size"] = int(prev_meta.get("seen_size", 0)) + stats.published
        # per-priority-bucket counts for the claim-scan pruning: exact
        # delta arithmetic except published (which may upsert a row the
        # frontier already holds — over-count only, the safe direction:
        # meta ≥ actual always, so meta==0 still implies actually empty and
        # pruning only ever over-reads; reconcile_frontier() trues it up
        # periodically)
        pbc = {
            int(k2): int(v)
            for k2, v in prev_meta.get("frontier_pb_counts", {}).items()
        }
        for pb, d in pub.pb_delta.items():
            pbc[pb] = pbc.get(pb, 0) + d
        if stats.published:
            pbc[0] = pbc.get(0, 0) + stats.published  # published → priority 0
        new_meta["frontier_pb_counts"] = {
            str(pb): n2 for pb, n2 in pbc.items() if n2 > 0
        }
        if pub.bloom is not None:
            new_meta["bloom"] = pub.bloom.meta
        return new_meta

    # -- maintenance ------------------------------------------------------------

    def flush_metrics(self) -> None:
        """Append any buffered metrics rows (their own tiny commit)."""
        if not self._pending_metrics:
            return
        df = self.spark.createDataFrame(self._pending_metrics, S.METRICS_SCHEMA)
        self.catalog.commit(appends={"metrics": df})
        self._pending_metrics = []

    def reconcile_frontier(self) -> None:
        """True up the meta frontier counts against the actual table (one
        bounded groupBy job).  The per-batch arithmetic can only OVER-count
        (a TTL-expired republish upserts an existing frontier row), which is
        safe for both termination (meta==0 ⇒ empty) and pruning (over-read);
        this periodic reconciliation stops the drift growing without bound
        on long crawls."""
        frontier = self.catalog.read("frontier", S.FRONTIER_SCHEMA)
        self.catalog.commit(meta=self._counted_meta(frontier))

    def _counted_meta(self, frontier: DataFrame) -> dict:
        """The latest commit meta with ``frontier``'s exact row counts."""
        pb_counts = pb_counts_of(frontier)
        return dict(
            self.catalog.latest()["meta"],
            frontier_size=sum(pb_counts.values()),
            frontier_pb_counts=pb_counts,
        )

    def migrate_buckets(
        self,
        seen_buckets: int | None = None,
        frontier_host_buckets: int | None = None,
        bloom_segments: int | None = None,
    ) -> None:
        """One-time rewrite of the state tables into a NEW bucket geometry:
        full `_full` merge of seen + frontier in ONE atomic commit with the
        new bucket functions, ``bucket_scheme`` stamped, and the bloom
        filter meta dropped (the next bloom batch rebuilds at the new
        segment count — over-inclusion-safe).  O(table) once; afterwards
        every bucketed read/write path runs at the new counts.  Defaults:
        the counts the constructor REQUESTED (so `DrainLoop(...,
        seen_buckets=128)` on a 32-bucket catalog migrates to 128 with a
        bare `migrate_buckets()`)."""
        req = self.requested_bucket_scheme
        new_scheme = _bucket_scheme(
            req, seen_buckets, frontier_host_buckets, bloom_segments
        )
        frontier = self.catalog.read("frontier", S.FRONTIER_SCHEMA).localCheckpoint(
            eager=True
        )
        seen = self.catalog.read("seen", S.SEEN_SCHEMA).localCheckpoint(eager=True)
        new_meta = self._counted_meta(frontier)
        new_meta["bucket_scheme"] = dict(new_scheme)
        new_meta.pop("bloom", None)  # geometry changes → rebuild on demand
        self.catalog.commit(
            merges={
                "frontier": dict(
                    delta=frontier,
                    key="url_canon",
                    bucket_of=lambda df: frontier_bucket_of(
                        df, new_scheme["frontier_host"]
                    ),
                    _full=True,
                ),
                "seen": dict(
                    delta=seen,
                    key="url_canon",
                    bucket_of=lambda df: seen_bucket_of(df, new_scheme["seen"]),
                    _full=True,
                ),
            },
            meta=new_meta,
        )
        self._use_bucket_scheme(new_scheme)

    def compact_seen(self) -> None:
        """Physically reclaim TTL-expired seen rows (the Redis analogue is
        automatic key eviction; here it is a periodic compaction commit —
        per-batch merges deliberately leave expired rows in untouched
        buckets so commit I/O stays delta-proportional).  Read results are
        unchanged: every read already applies the generation filter."""
        b = int(self.catalog.latest()["meta"].get("next_batch", 0))
        keep = None
        if self.ttl_batches is not None:
            horizon = b - self.ttl_batches
            keep = lambda df: F.col("updated_batch") >= F.lit(horizon)  # noqa: E731
        self.catalog.compact("seen", self._seen_bucket_of, keep)
        # compaction is the periodic maintenance entry point — piggy-back the
        # frontier count reconciliation here
        self.reconcile_frontier()

    # -- the loop ---------------------------------------------------------------

    def frontier_size(self, meta: dict | None = None) -> int:
        """Frontier rows per the commit meta (the latest unless given) — an
        over-count at worst, trued up by reconcile_frontier(); 0 before the
        catalog is seeded."""
        if meta is None:
            meta = self.catalog.latest()["meta"]
        return int(meta.get("frontier_size", 0))

    def drain(self, max_batches: int = 1000, progress=None) -> list[BatchStats]:
        """Iterate batches until the frontier is empty (termination = the
        publish→consume feedback loop has no more work) or the budget runs
        out.  Resumes from the last committed ``next_batch``."""
        out: list[BatchStats] = []
        b = int(self.catalog.latest()["meta"].get("next_batch", 0))
        end = b + max_batches
        try:
            while b is not None and b < end:
                stats, b = self.step(b)
                if stats is not None:
                    out.append(stats)
                    if progress:
                        progress(stats)
            return out
        finally:
            self.flush_metrics()

    def step(self, b: int) -> tuple[BatchStats | None, int | None]:
        """One drain step, shared by the batch and the streaming drain: batch
        ``b`` if the frontier holds work, the maintenance cadence, then the
        zero-claim policy.  Returns (stats, the next batch to run); stats is
        None when the frontier is empty, the next batch None when the drain
        is done."""
        n = self.frontier_size()
        if n == 0:
            return None, None
        stats = self.run_batch(b, eligible_hint=n)
        if self.compact_batches and (b + 1) % self.compact_batches == 0:
            # periodic MOR-chain + physical-TTL compaction (r4 VERDICT
            # 'missing #3'): folds every seen chain back to a single base
            # leaf and physically reclaims TTL-expired rows — read results
            # unchanged (reads already fold + filter), write amplification
            # bounded between compactions by the inline chain cap.
            # compact_seen piggy-backs reconcile_frontier.
            self.compact_seen()
        elif (b + 1) % 256 == 0:
            # bound the (over-count-only) frontier meta drift on long
            # crawls — one bounded groupBy job every 256 batches
            self.reconcile_frontier()
        if (b + 1) % 64 == 0:
            # reclaim unreachable snapshot files (Iceberg's
            # expire_snapshots): long drains must not grow disk per batch;
            # driver-side file ops only, resume unaffected
            self.catalog.expire_snapshots(keep_last=8)
        if stats.claimed > 0:
            return stats, b + 1
        # nothing claimed despite a non-empty frontier: either every row is
        # backed off past b, or (with politeness on) the salted budget's
        # rotating remainder gave no eligible URL a winning salt rank THIS
        # batch — e.g. budget=1 over k salt buckets only claims rank
        # (k - b) % k.  Distinguish via the earliest not_before (bounded
        # agg, only on this rare path).
        min_nb = (
            self.catalog.read("frontier", S.FRONTIER_SCHEMA)
            .agg(F.min("not_before_batch"))
            .collect()[0][0]
        )
        if min_nb is None:
            # frontier actually empty: the meta over-counted (a TTL-expired
            # republish upserts an existing row).  True it up to 0, or every
            # later drain or streaming tick runs one more empty batch.
            self.reconcile_frontier()
            return stats, None
        if int(min_nb) > b:
            return stats, int(min_nb)  # all backed off — jump the clock
        if self._politeness_on() or (
            self.fetch_robots and self.catalog.exists("robots_delays")
        ):
            # eligible rows exist but no salt rank won this batch (or a live
            # Crawl-delay budget was 0 for every eligible host this batch):
            # advance ONE batch so the rotating remainder / fairness floor
            # can reach the starved URLs — the simulator does exactly this
            # (sim.py batch loop never stalls)
            return stats, b + 1
        return stats, None  # no politeness and nothing claimable: done
