"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``   — flagship: run the full micro-batch crawl drain on a
deterministic synthetic world and return the fetched table (image+caption
payload rows).

``queries()``      — one entry per operator slice from SURVEY.md §2 plus the
training-data-pipeline operators (dedup family, similarity search, text
analysis), each runnable on the driver's parquet tables at any sf dir.

``oracle_sql()``   — matching ANSI SQL for DuckDB cross-checks.  37 of 39
queries are value-checked, including FULL value oracles for MinHash-LSH
(band parameters make recall provably 1.0 on this data, so LSH output equals
the exhaustive shingle-jaccard pair set), duplicate-CLUSTER formation over
that pair set (connected components — DuckDB recomputes them with a
recursive CTE), SimHash near-dup pairs (DuckDB re-derives XXH64(seed 42)
itself from the public spec in HUGEINT arithmetic — ``functions/
xxh64_sql.py`` — then the majority-vote signatures and the exhaustive
hamming-≤3 pair set), sign-LSH ANN top-k (the hyperplanes are integer
splitmix64 draws and the sign decision is exact int64 arithmetic over
floor-scaled vectors, so DuckDB re-derives the identical bucket ids,
candidate set, and re-ranked top-k — ``_ann_lsh_oracle_sql``), and the
polynomial document fingerprint (HUGEINT Horner recomputation);
driver-checked recall floors for BOTH ANN paths (sign-LSH and IVF); a
driver-checked completeness proof for the simhash Manku banding (pigeonhole
⇒ zero missed pairs vs the exhaustive hamming self-join); and analytic
truth-table oracles for the audio/image features (REAL RIFF/WAVE PCM + PNG
codecs; sine clips and solid/gradient images with closed-form features).
The single rows-only entry (IVF ANN top-k — candidates depend on float
k-means centroids no external engine reproduces bit-for-bit) is genuinely
quantizer-dependent BY DESIGN; it carries a pytest plus THREE value-checked
companions here (exhaustive-covering, fixed-quantizer pruned replay, and a
recall floor) pinning its semantics.  Image features over world payloads
gained a full value oracle in r7: the deterministic codecs make the
expected features a driver-computable VALUES literal.
"""

from __future__ import annotations

import sys
import os
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship: the crawl drain end-to-end
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Seed → claim → fetch → route → extract → dedup → atomic commit, until
    the frontier drains; returns the fetched image+caption table."""
    import tempfile

    from govuk_crawler_worker_spark.plans.pipeline import DrainLoop
    from govuk_crawler_worker_spark.sources.catalog import Catalog
    from govuk_crawler_worker_spark.sources.world import build_world, world_to_spark

    world = build_world(n_pages=18, seed=42)
    payload, content, seeds = world_to_spark(spark, world)
    catalog = Catalog(spark, tempfile.mkdtemp(prefix="entry_drain_"))
    loop = DrainLoop(spark, catalog, world.config, content.cache(), payload.cache())
    loop.seed(seeds)
    loop.drain(max_batches=20)
    return catalog.read("fetched").orderBy("batch_id", "url_canon")


# ---------------------------------------------------------------------------
# operator queries (spark side)
# ---------------------------------------------------------------------------


def _claim_topk(spark, sf):
    # A1: priority claim = orderBy + limit with deterministic tiebreak
    return (
        _t(spark, sf, "orders")
        .orderBy(F.col("o_orderpriority").asc(), F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .limit(100)
        .select("o_orderkey", "o_orderpriority", "o_custkey")
    )


def _blacklist_filter(spark, sf):
    # B4/B5: path-prefix blacklist as startswith filters
    d = _t(spark, sf, "documents")
    keep = ~(F.col("source").startswith("src1") | F.col("source").startswith("src2"))
    return d.where(keep).groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))


def _host_whitelist(spark, sf):
    # B11/B18: host whitelist = isin semi-filter
    return (
        _t(spark, sf, "events")
        .where(F.col("event_type").isin("view", "click"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _dedup_antijoin(spark, sf):
    # A5: publish dedup = candidates LEFT ANTI seen
    li = _t(spark, sf, "lineitem")
    part = _t(spark, sf, "part")
    cands = li.where(F.col("l_quantity") > 45).select("l_partkey").distinct()
    seen = part.where(F.col("p_size") <= 10).select(F.col("p_partkey").alias("l_partkey"))
    return cands.join(seen, "l_partkey", "left_anti")


def _content_type_route(spark, sf):
    # A2: when-chain status routing
    li = _t(spark, sf, "lineitem")
    route = (
        F.when(F.col("l_returnflag") == "R", "dead")
        .when(F.col("l_discount") > 0.08, "requeue")
        .when(F.col("l_tax") > 0.05, "extract")
        .otherwise("ack")
    )
    return li.groupBy(route.alias("route")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


def _retry_gate(spark, sf):
    # A2: retry budget gate (crawlCount > maxCrawlRetries → dead)
    li = _t(spark, sf, "lineitem")
    return li.groupBy(
        F.when(F.col("l_linenumber") > 4, "dead").otherwise("crawl").alias("route")
    ).agg(F.count(F.lit(1)).alias("n"))


def _per_host_counts(spark, sf):
    # politeness: per-host frontier pressure = top-k groupBy counts
    return (
        _t(spark, sf, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("user_id").asc())
        .limit(50)
    )


def _host_budget_window(spark, sf):
    # politeness budget: row_number over host partition ≤ budget.
    # r8: project to the three live columns, then spread a too-small scan
    # over the executor's cores on a DETERMINISTIC derived key (guide §2.5:
    # hash-repartition on pmod(xxhash64(id)) — round-robin would pay a local
    # sort and is retry-unsafe at scale).  Spark's WindowGroupLimit then
    # runs the rank ≤ 5 partial on every partition in parallel, so the
    # window exchange — 5 priority keys, the skew that single-threaded the
    # old plan — carries only partitions × 5 × 5 rows.  At production scale
    # the scan already has ≥ parallelism partitions and this is a no-op.
    o = _t(spark, sf, "orders").select("o_orderkey", "o_orderpriority", "o_orderdate")
    par = spark.sparkContext.defaultParallelism
    if o.rdd.getNumPartitions() < par:
        o = o.repartition(par, F.pmod(F.xxhash64("o_orderkey"), F.lit(par * 37)))
    w = Window.partitionBy("o_orderpriority").orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("o_orderkey", "o_orderpriority", "rn")
    )


def _seen_get_coalesce(spark, sf):
    # B23: Get on absent key → 0 (left join + coalesce)
    s = _t(spark, sf, "supplier")
    li = _t(spark, sf, "lineitem")
    cnt = li.groupBy(F.col("l_suppkey").alias("s_suppkey")).agg(F.count(F.lit(1)).alias("cnt"))
    return s.join(cnt, "s_suppkey", "left").select(
        "s_suppkey", F.coalesce("cnt", F.lit(0)).alias("n")
    )


def _max_status_health(spark, sf):
    # A8: healthcheck = max-aggregate roll-up
    return (
        _t(spark, sf, "events")
        .groupBy("event_type")
        .agg(F.round(F.max("value"), 4).alias("max_value"), F.count(F.lit(1)).alias("n"))
    )


def _json_props(spark, sf):
    # B33: JSON surface
    e = _t(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"), F.count(F.lit(1)).alias("n")
    )


def _events_windowed(spark, sf):
    # streaming semantics: tumbling 1h window aggregation
    e = _t(spark, sf, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def _url_parse(spark, sf):
    # B2/B18 string surface: scheme/host/path split over synthesized URLs
    d = _t(spark, sf, "documents")
    url = F.concat(F.lit("https://"), F.col("source"), F.lit(".gov.uk/doc/"), F.col("doc_id"))
    return d.select(
        "doc_id",
        F.regexp_extract(url, r"^https://([^/]+)/", 1).alias("host"),
        F.regexp_extract(url, r"^https://[^/]+(/.*)$", 1).alias("path"),
    )


def _agg_pricing_summary(spark, sf):
    # TPC-H Q1 flavor: partial+final aggregation shape
    li = _t(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# ---- training-data pipeline operators -------------------------------------


def _dedup_exact(spark, sf):
    from govuk_crawler_worker_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf, "documents"))


def _dedup_jaccard_words(spark, sf):
    from govuk_crawler_worker_spark.operators.dedup import jaccard_word_pairs

    return jaccard_word_pairs(_t(spark, sf, "documents"), threshold=0.8, max_word_df=1000)


# The minhash pair stage is the expensive shared prefix of three queries
# (pairs themselves, clusters, curated corpus) — the production composition
# computes it ONCE and feeds all three consumers (dedup_clusters(pairs=…) /
# drop_near_dups(clusters=…)); likewise the simhash signature feeds
# dedup_simhash and simhash_banding_complete.  Each query runs separately,
# so a memo keyed by (kind, session, sf_dir) recreates those compositions
# across calls.  Entries are tiny (a persisted DataFrame
# handle), keyed by applicationId, not id(spark): CPython reuses object ids
# after GC, which could silently serve a dead session's frame.  A new key
# evicts only other sessions' entries, so alternating sf dirs in one session
# reuse their frames instead of recomputing on every call.
_MEMO: dict = {}


def _unpersist(frame) -> None:
    try:
        frame.unpersist()
    except Exception:  # noqa: BLE001 — session already stopped
        pass


def _memo(kind, spark, sf, build):
    app = spark.sparkContext.applicationId
    key = (kind, app, sf)
    if key not in _MEMO:
        for stale in [k for k in _MEMO if k[1] != app]:
            _unpersist(_MEMO.pop(stale))
        _MEMO[key] = build()
    return _MEMO[key]


def reset_memos() -> None:
    """Drop (and unpersist) the cross-query memoized frames — bench harness
    hook so a repeat timing of the memo-backed dedup family pays the FULL
    pipeline again instead of replaying a cache."""
    for frame in _MEMO.values():
        _unpersist(frame)
    _MEMO.clear()


def _shared_pairs(spark, sf):
    from govuk_crawler_worker_spark.operators.dedup import minhash_lsh_pairs

    return _memo(
        "pairs",
        spark,
        sf,
        lambda: minhash_lsh_pairs(
            _t(spark, sf, "documents"), num_perm=32, bands=16, jaccard_threshold=0.5
        ).persist(),
    )


def _dedup_minhash_lsh(spark, sf):
    """16 bands × 2 rows over 32 perms: per-pair miss probability at the
    data's minimum ground-truth jaccard (0.8) is (1-0.8²)^16 ≈ 8e-8, so the
    exact-verified LSH output EQUALS the exhaustive shingle-jaccard pair set
    — which is what the DuckDB oracle computes (a full value oracle, not a
    rows-only check; verified identical at sf0.01 and sf0.1)."""
    return _shared_pairs(spark, sf)


def _dedup_clusters(spark, sf):
    """Near-dup pairs → duplicate CLUSTERS (connected components via
    alternating large-star/small-star contraction; keeper = min doc_id).
    Fully value-oracled: the pair set provably equals the exhaustive
    jaccard pairs (see _dedup_minhash_lsh), and DuckDB recomputes the same
    components with a recursive CTE.  Memoized like the pair stage —
    drop_near_dups composes on the SAME clusters frame instead of re-running
    the contraction rounds."""
    from govuk_crawler_worker_spark.operators.dedup import dedup_clusters

    return _memo(
        "clusters",
        spark,
        sf,
        lambda: dedup_clusters(
            _t(spark, sf, "documents"), pairs=_shared_pairs(spark, sf)
        ).localCheckpoint(eager=False),
    )


def _drop_near_dups(spark, sf):
    """Corpus curation end-state: documents minus near-dup non-keepers (one
    representative per cluster).  Value-oracled by composing the cluster
    recursive CTE with an anti-join."""
    from govuk_crawler_worker_spark.operators.dedup import drop_near_dups

    return drop_near_dups(
        _t(spark, sf, "documents"), clusters=_dedup_clusters(spark, sf)
    ).select("doc_id", "source")


def _shared_simhash_sig(spark, sf):
    """The memoized persisted simhash64 signature table: the signature pass
    is the shared prefix of ``dedup_simhash`` (pairs) and
    ``simhash_banding_complete`` (completeness audit), computed once and fed
    to both.  ``reset_memos()`` drops it, so a bench rerun pays the full
    Arrow pass again (r8)."""
    from govuk_crawler_worker_spark.operators.dedup import simhash64

    return _memo(
        "sig", spark, sf, lambda: simhash64(_t(spark, sf, "documents")).persist()
    )


def _dedup_simhash(spark, sf):
    from govuk_crawler_worker_spark.operators.dedup import simhash_pairs

    return simhash_pairs(
        _t(spark, sf, "documents"),
        max_hamming=3,
        sig=_shared_simhash_sig(spark, sf),
    )


def _embedding_near_dups(spark, sf):
    from govuk_crawler_worker_spark.operators.dedup import embedding_near_dups

    return embedding_near_dups(_t(spark, sf, "embeddings"), threshold=0.35)


def _cosine_topk(spark, sf):
    from govuk_crawler_worker_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    return brute_force_topk(emb, queries, k=5)


def _ann_lsh_topk(spark, sf):
    """Multi-table sign-LSH ANN — FULL value oracle: integer splitmix64
    hyperplanes + exact int64 sign arithmetic make the bucket ids (hence the
    candidate set and the re-ranked top-k) reproducible bit-for-bit in
    DuckDB (``_ann_lsh_oracle_sql``)."""
    from govuk_crawler_worker_spark.operators.similarity import lsh_topk

    emb = _t(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    return lsh_topk(emb, queries, k=5)


def _text_quality(spark, sf):
    from govuk_crawler_worker_spark.operators.text import quality_features

    return quality_features(_t(spark, sf, "documents"))


def _token_counts(spark, sf):
    from govuk_crawler_worker_spark.operators.text import token_counts

    return token_counts(_t(spark, sf, "documents"))


def _language_id(spark, sf):
    from govuk_crawler_worker_spark.operators.text import language_id

    return language_id(_t(spark, sf, "documents"))


def _doc_fingerprints(spark, sf):
    from govuk_crawler_worker_spark.operators.text import doc_fingerprints

    return doc_fingerprints(_t(spark, sf, "documents"))


def _doc_fingerprints_sanity(spark, sf):
    """Planted-duplicate truth table for the rolling-hash fingerprint (the
    audio/image sanity pattern): 12 docs in 4 groups — two groups exact
    duplicates of each other's members, two groups near-identical texts
    differing by ONE character.  For every ordered pair,
    fingerprint(a) == fingerprint(b) ⟺ group(a) == group(b), which DuckDB
    states as pure id arithmetic ((a%4)=(b%4)) with no knowledge of the
    hash — a full VALUE oracle over equality structure (the hash VALUES are
    additionally oracled in `doc_fingerprints` via DuckDB's independent
    HUGEINT recomputation of the public Horner/Mersenne-61 spec)."""
    core = (
        "lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
        "eiusmod tempor incididunt ut labore et dolore magna aliqua"
    )
    bases = {
        0: core + " alpha",
        1: core + " beta",
        2: core + " gamma x",
        3: core + " gamma y",  # near-identical to group 2: one char differs
    }
    # pandas input (Arrow → JVM LocalRelation, like the audio/image sanity
    # queries) + eager checkpoint before the self-join: a row-list
    # createDataFrame is a python-RDD scan parallelized over
    # defaultParallelism partitions, and the non-equi join below is a
    # CartesianProduct — 16×16 python-eval tasks of fixed latency dominated
    # (measured ~8 s for this 66-row result; ~1 s this way)
    import pandas as pd

    docs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": list(range(12)), "text": [bases[i % 4] for i in range(12)]}
        )
    )
    from govuk_crawler_worker_spark.operators.text import doc_fingerprints

    fp = doc_fingerprints(docs).localCheckpoint(eager=True)
    return (
        fp.alias("l")
        .join(fp.alias("r"), F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("a"),
            F.col("r.doc_id").alias("b"),
            (F.col("l.fingerprint") == F.col("r.fingerprint")).alias("same_fp"),
        )
        .orderBy("a", "b")
    )


def _ann_ivf_topk(spark, sf):
    """IVF ANN (distributed k-means coarse quantizer + inverted-list probe);
    rows-only by design — candidates depend on the seeded quantizer."""
    from govuk_crawler_worker_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    return ivf_topk(emb, queries, k=5, nlist=16, nprobe=4)


def _ann_ivf_exhaustive(spark, sf):
    """Covering-mode IVF — nprobe == nlist, so every inverted list is probed
    and the candidate set is the whole corpus (each vector lives in exactly
    one list).  The result must therefore equal the exact cosine top-k
    REGARDLESS of where the seeded quantizer put the list boundaries, which
    turns the IVF machinery (coarse assignment, per-list probe join, re-rank
    merge) into a fully value-checked path: the DuckDB oracle is the same
    exact top-k SQL as ``cosine_topk``.  The pruned configuration
    (``ann_ivf_topk``) stays rows-only because its candidates depend on the
    quantizer; this query proves the plumbing is lossless when coverage is
    total."""
    from govuk_crawler_worker_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    return ivf_topk(emb, queries, k=5, nlist=8, nprobe=8, iters=1)


def _ann_ivf_pruned(spark, sf):
    """Pruned IVF with a FIXED axis-aligned coarse quantizer — the full
    value oracle for the pruning path itself.  ``centroids = eye(nlist,
    dim)``: every centroid has unit norm, so coarse assignment
    ``argmax_i cos(v, e_i)`` reduces to ``argmax_i v[i]`` over the first
    ``nlist`` components, and the probe order is the top-``nprobe``
    components by value — BOTH are comparisons of raw float32 values that
    DuckDB reproduces exactly (no dot-product summation whose rounding
    order could differ between engines).  The oracle replays assignment,
    probing, and the exact re-rank in SQL, so the inverted-list pruning
    machinery is value-checked end-to-end with real pruning in effect
    (nprobe < nlist), complementing ``ann_ivf_exhaustive`` (covering mode)
    and ``ann_ivf_recall_floor`` (seeded-kmeans quality).  Tie-break: numpy
    argmax takes the first index; the SQL mirrors with ``dim ASC`` (exact
    float ties between components do not occur in this data)."""
    import numpy as np

    from govuk_crawler_worker_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    centroids = np.eye(16, 64)
    return ivf_topk(emb, queries, k=5, nlist=16, nprobe=4, centroids=centroids)


def _ann_recall_floor(spark, sf):
    """Property oracle for the ANN path: every query's top-5 recall vs the
    exact baseline must clear a floor (deterministic given data + seeded
    hyperplanes) — the driver-checked form of the recall pytest."""
    from govuk_crawler_worker_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
    )

    emb = _t(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    exact = brute_force_topk(emb, queries, k=5).select(
        "qid", F.col("neighbor").alias("n")
    )
    ann = lsh_topk(emb, queries, k=5).select("qid", F.col("neighbor").alias("n"))
    hits = exact.join(ann, ["qid", "n"], "left_semi").groupBy("qid").agg(
        F.count(F.lit(1)).alias("hits")
    )
    return (
        exact.select("qid")
        .distinct()
        .join(hits, "qid", "left")
        .select("qid", (F.coalesce("hits", F.lit(0)) / 5 >= 0.3).alias("recall_ok"))
    )


def _ann_ivf_recall_floor(spark, sf):
    """Property oracle for the IVF ANN path (same shape as
    _ann_recall_floor): per-query top-5 recall of the seeded-quantizer IVF
    probe vs the exact baseline must clear a floor — deterministic given the
    data + seeded k-means init, so the DuckDB side can assert it as a
    constant truth table."""
    from govuk_crawler_worker_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    emb = _t(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    exact = brute_force_topk(emb, queries, k=5).select(
        "qid", F.col("neighbor").alias("n")
    )
    ann = ivf_topk(emb, queries, k=5, nlist=16, nprobe=4).select(
        "qid", F.col("neighbor").alias("n")
    )
    hits = exact.join(ann, ["qid", "n"], "left_semi").groupBy("qid").agg(
        F.count(F.lit(1)).alias("hits")
    )
    return (
        exact.select("qid")
        .distinct()
        .join(hits, "qid", "left")
        .select("qid", (F.coalesce("hits", F.lit(0)) / 5 >= 0.2).alias("recall_ok"))
    )


def _simhash_banding_complete(spark, sf):
    """Driver-checked completeness of the Manku combo banding (VERDICT r2
    next #8): pigeonhole guarantees any pair with hamming ≤ h shares ≥ B−h
    exactly-equal blocks, hence ≥ 1 of the C(B, B−h) combo keys — so the
    banded candidate set must miss ZERO pairs of the exhaustive 64-bit
    hamming self-join.  The miss count is a provable constant the SQL oracle
    can state, upgrading the simhash family from rows-only to value-checked
    without the oracle having to reproduce engine hashes."""
    from govuk_crawler_worker_spark.operators.dedup import (
        posting_list_aggs,
        simhash_candidates,
    )

    # cache once: the signature table feeds the banded candidates AND both
    # sides of the exhaustive self-join — 3 recomputes of the Arrow
    # aggregation otherwise.  The result is ONE aggregate row, so it is
    # computed eagerly and the cache released DETERMINISTICALLY before
    # returning: plain persist/unpersist, because DataFrame.unpersist() is
    # a no-op on a localCheckpoint's underlying RDD (it lives outside the
    # cache manager and waits on dual-GC ContextCleaner timing — the r5
    # eager-checkpoint job AND the r6 block-accretion flake both trace back
    # to that).  No lazy frame escapes, so nothing can accrete (r4/r5
    # VERDICT items; pinned by the zero-delta regression test).
    sig = _shared_simhash_sig(spark, sf)
    # r8: the anti-join only ever MATCHES candidate rows whose hamming is
    # ≤ 3 (every exact-side pair has hamming ≤ 3 by construction), so
    # pre-filtering the candidates by the same popcount predicate — and
    # skipping their multi-combo distinct, redundant under an anti-join —
    # provably preserves n_missed while shrinking the anti-join's build
    # side from the full candidate set (~1.4M rows at sf1.0) to the few
    # verified pairs (guide §2.3/§3.2: reduce the joined side first)
    cand = (
        simhash_candidates(sig, max_hamming=3, dedup=False)
        .where(F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))) <= 3)
        .select("a", "b")
    )
    exact = (
        sig.alias("l")
        .join(sig.alias("r"), F.col("l.doc_id") < F.col("r.doc_id"))
        .where(F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))) <= 3)
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
    )
    with posting_list_aggs(spark):
        n_missed = exact.join(cand, ["a", "b"], "left_anti").count()
    # sig is the memoized shared signature (r8) — its lifecycle belongs to
    # _memo / reset_memos, not this query
    return spark.createDataFrame(
        [(int(n_missed), n_missed == 0)],
        "n_missed long, banding_complete boolean",
    )


def _ttl_semantics(spark, sf):
    """seen_ttl over a seen-shaped projection of the documents table —
    Redis TTLForKey sign semantics (alive ≥0 / absent|elapsed -2) with a
    plain-SQL oracle."""
    from govuk_crawler_worker_spark.operators.seen import seen_ttl

    d = _t(spark, sf, "documents")
    seen = d.select(
        F.col("doc_id").cast("long").alias("url_hash"),
        F.col("doc_id").cast("string").alias("url_canon"),
        F.lit(1).alias("state"),
        (F.length("text") % 50).cast("long").alias("updated_batch"),
    )
    keys = d.select(F.col("doc_id").cast("string").alias("url_canon")).union(
        spark.range(5).select(F.concat(F.lit("missing-"), F.col("id")).alias("url_canon"))
    )
    return seen_ttl(seen, keys, batch_id=40, ttl_batches=20)


def _sessionize(spark, sf):
    """Gap-based sessionization (lag + cumulative-sum window construction)
    over the events stream — classic session windows, fully SQL-oracled."""
    from govuk_crawler_worker_spark.operators.sessions import sessionize

    return sessionize(_t(spark, sf, "events"), gap_s=1800)


def _curate_corpus(spark, sf):
    """Composed training-data curation: quality gates + language gate +
    exact dedup keep-first — the first mile of a corpus pipeline."""
    from govuk_crawler_worker_spark.operators.text import curate_corpus

    return curate_corpus(_t(spark, sf, "documents"), min_words=20, max_punct_ratio=0.2)


def _image_features(spark, sf):
    # multimodal plumbing over a deterministic generated payload (the driver
    # tables carry no binary column); FULL value oracle since r7 — see
    # _image_features_oracle_sql
    from govuk_crawler_worker_spark.operators.multimodal import image_features
    from govuk_crawler_worker_spark.sources.world import build_world
    from govuk_crawler_worker_spark.plans.schemas import PAYLOAD_SCHEMA

    world = build_world(n_pages=24, seed=42)
    payload = spark.createDataFrame(world.payload, schema=PAYLOAD_SCHEMA)
    return image_features(payload).orderBy("image_id")


def _image_features_oracle_sql() -> str:
    """Full value oracle for ``image_features`` (r6 VERDICT next-round #2):
    the world generator and BOTH codecs (PNG, and since r6 the byte-exact
    pure-numpy T.81 JPEG encoder) are deterministic, so the expected
    features of the seed-42 world can be recomputed on the driver — inline
    numpy channel means/brightness over the decoded pixels, NOT the
    operator's code path — and stated to DuckDB as a VALUES literal.  The
    comparison then proves the DISTRIBUTED path (Arrow-batched mapInPandas
    decode across executor Python workers, mixed PNG/JPEG, varied sizes)
    reproduces the driver-reference values bit-exactly; the feature MATH
    itself is independently pinned by the closed-form
    ``image_features_sanity`` truth table."""
    import numpy as np

    from govuk_crawler_worker_spark.sources import images as img
    from govuk_crawler_worker_spark.sources.world import build_world

    world = build_world(n_pages=24, seed=42)
    vals = []
    for r in world.payload.itertuples(index=False):
        px = img.decode_image(bytes(r.bytes), r.fmt).astype(np.float64)
        mr, mg, mb = (round(float(m), 4) for m in px.mean(axis=(0, 1)))
        br = round(float(px.mean()), 4)
        ph = img.phash64(px.astype(np.uint8))
        vals.append(
            f"('{r.image_id}', {int(r.w)}, {int(r.h)}, '{r.fmt}', "
            f"{mr!r}, {mg!r}, {mb!r}, {br!r}, {ph})"
        )
    return (
        # DOUBLE casts: DuckDB types bare decimal literals as DECIMAL, whose
        # string form keeps trailing zeros and defeats the %.6g float compare
        "SELECT image_id, w, h, fmt, CAST(mean_r AS DOUBLE) AS mean_r, "
        "CAST(mean_g AS DOUBLE) AS mean_g, CAST(mean_b AS DOUBLE) AS mean_b, "
        "CAST(brightness AS DOUBLE) AS brightness, phash FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(image_id, w, h, fmt, mean_r, mean_g, mean_b, brightness, phash)"
        + " ORDER BY image_id"
    )


def _phash_corpus_rows() -> list:
    """Deterministic 24-image corpus for the phash near-dup query: 12
    block-pattern bases (random 8×8 pattern upscaled — mean-hash bits ≈ the
    pattern, so unrelated images sit ≥22 bits apart), each with a lightly
    brightness-nudged variant encoded in the OTHER format (PNG base ↔ JPEG
    variant: the pairs prove recompression-robust image dedup, the actual
    100 TB use case).  Variant hamming ≤1 bit, cross-base ≥22."""
    import numpy as np

    from govuk_crawler_worker_spark.sources import images as img

    rows = []
    for i in range(12):
        r = np.random.default_rng(1000 + i)
        side = 24 + (i % 5) * 8
        pat = r.integers(0, 2, (8, 8)).astype(np.uint8)
        rep = side // 8 + 1
        up = np.kron(pat, np.ones((rep, rep), np.uint8))[:side, :side]
        px = (60 + up.astype(np.int16) * 140) + r.integers(-8, 9, (side, side))
        base = np.clip(np.stack([px] * 3, axis=-1), 0, 255).astype(np.uint8)
        var = base.astype(np.int16).copy()
        y, x = (i * 3) % (side - 6), (i * 5) % (side - 6)
        var[y : y + 6, x : x + 6] += 10
        var = np.clip(var, 0, 255).astype(np.uint8)
        fmt_b = "png" if i % 2 == 0 else "jpeg"
        fmt_v = "jpeg" if i % 2 == 0 else "png"
        for tag, pix, fmt in (("base", base, fmt_b), ("var", var, fmt_v)):
            data = img.encode_png(pix) if fmt == "png" else img.encode_lossy(pix)
            rows.append(
                {
                    "image_id": f"img-{i:02d}-{tag}",
                    "bytes": data,
                    "w": side,
                    "h": side,
                    "fmt": fmt,
                }
            )
    return rows


def _image_phash_near_dups(spark, sf):
    """Image near-duplicate pairs: distributed decode+phash (the
    image_features mapInPandas stage) → Manku pigeonhole banding on the
    64-bit phash → exact bit_count verify (operators/dedup.phash_near_dups).
    The DuckDB oracle recomputes the phashes driver-side and finds pairs
    with the EXHAUSTIVE O(n²) hamming join — independent pair-generation
    logic value-checking the banded plan."""
    import pandas as pd

    from govuk_crawler_worker_spark.operators.dedup import phash_near_dups
    from govuk_crawler_worker_spark.operators.multimodal import image_features

    payload = spark.createDataFrame(
        pd.DataFrame(_phash_corpus_rows()),
        "image_id string, bytes binary, w int, h int, fmt string",
    )
    feats = image_features(payload)
    return phash_near_dups(
        feats.select("image_id", "phash"), max_hamming=5
    ).orderBy("a", "b")


def _image_phash_near_dups_oracle_sql() -> str:
    from govuk_crawler_worker_spark.sources import images as img

    vals = []
    for r in _phash_corpus_rows():
        ph = img.phash64(img.decode_image(r["bytes"], r["fmt"]))
        vals.append(f"('{r['image_id']}', {ph})")
    t = "(VALUES " + ", ".join(vals) + ")"
    return f"""
        SELECT l.image_id AS a, r.image_id AS b,
               bit_count(xor(l.phash, r.phash)) AS hamming
        FROM {t} AS l(image_id, phash)
        JOIN {t} AS r(image_id, phash) ON l.image_id < r.image_id
        WHERE bit_count(xor(l.phash, r.phash)) <= 5
        ORDER BY a, b
    """


def _audio_features_sanity(spark, sf):
    """Audio member of the multimodal family — REAL RIFF/WAVE PCM codec
    (sources/audio.py), features via mapInPandas.  Value-checked property
    oracle: deterministic sine clips have analytically-known RMS (amp/√2),
    zero-crossing rate (2f/rate) and duration, so the booleans are a
    constant truth table DuckDB can state."""
    import math

    import pandas as pd

    from govuk_crawler_worker_spark.operators.audio import audio_features
    from govuk_crawler_worker_spark.sources.audio import encode_wav, make_sine

    rate, dur = 8000, 0.5
    rows = []
    for i in range(8):
        f_hz, amp = 100.0 * (i + 1), 0.05 * (i + 1)
        rows.append(
            {
                "clip_id": f"clip-{i}",
                "bytes": encode_wav(make_sine(f_hz, amp, rate, dur), rate),
                "freq": f_hz,
                "amp": amp,
            }
        )
    clips = spark.createDataFrame(
        pd.DataFrame(rows), "clip_id string, bytes binary, freq double, amp double"
    )
    feats = audio_features(clips).join(
        clips.select("clip_id", "freq", "amp"), "clip_id"
    )

    def rel(a, b):
        return F.abs(a - b) / b

    return feats.select(
        "clip_id",
        (rel(F.col("rms"), F.col("amp") / math.sqrt(2.0)) < 0.01).alias("rms_ok"),
        (rel(F.col("zcr"), 2.0 * F.col("freq") / rate) < 0.05).alias("zcr_ok"),
        (F.col("duration_s") == dur).alias("duration_ok"),
    ).orderBy("clip_id")


def _image_features_sanity(spark, sf):
    """Image member of the multimodal family, value-checked the same way
    audio is: the PNG codec (sources/images.py) is REAL, so planted
    solid-color and gradient images have closed-form channel means and
    brightness — the booleans are a constant truth table DuckDB can state.
    (The untyped `image_features` query stays rows-only: it runs over the
    synthetic world payload whose features have no closed form.)"""
    import numpy as np
    import pandas as pd

    from govuk_crawler_worker_spark.operators.multimodal import image_features
    from govuk_crawler_worker_spark.sources.images import encode_png

    rows = []
    for i in range(8):
        w, h = 16 + 4 * i, 8 + 2 * i
        r, g, b = 10 * i + 5, 20 * i + 3, 25 * i + 1
        px = np.zeros((h, w, 3), dtype=np.uint8)
        px[..., 0], px[..., 1], px[..., 2] = r, g, b
        rows.append(
            {
                "image_id": f"img-{i}",
                "bytes": encode_png(px),
                "w": w,
                "h": h,
                "fmt": "png",
                "er": float(r),
                "eg": float(g),
                "eb": float(b),
            }
        )
    # horizontal gradient, column j = 4j+1 over w=64 → exact mean 127
    w, h = 64, 32
    grad = np.tile(np.arange(w, dtype=np.uint8) * 4 + 1, (h, 1))
    px = np.stack([grad] * 3, axis=-1)
    rows.append(
        {
            "image_id": "img-grad",
            "bytes": encode_png(px),
            "w": w,
            "h": h,
            "fmt": "png",
            "er": 127.0,
            "eg": 127.0,
            "eb": 127.0,
        }
    )
    imgs = spark.createDataFrame(
        pd.DataFrame(rows),
        "image_id string, bytes binary, w int, h int, fmt string, "
        "er double, eg double, eb double",
    )
    feats = image_features(imgs).join(
        imgs.select("image_id", "er", "eg", "eb"), "image_id"
    )
    eps = 1e-3  # features are rounded to 4dp inside the op
    return feats.select(
        "image_id",
        (F.abs(F.col("mean_r") - F.col("er")) < eps).alias("mean_r_ok"),
        (F.abs(F.col("mean_g") - F.col("eg")) < eps).alias("mean_g_ok"),
        (F.abs(F.col("mean_b") - F.col("eb")) < eps).alias("mean_b_ok"),
        (
            F.abs(
                F.col("brightness") - (F.col("er") + F.col("eg") + F.col("eb")) / 3.0
            )
            < eps
        ).alias("brightness_ok"),
    ).orderBy("image_id")


def _image_resize_sanity(spark, sf):
    """Value oracle for the resize_images operator (r7): block-mean
    downsampling a SOLID image by any factor keeps every channel mean
    exactly (and a solid image round-trips both codecs exactly — flat
    blocks quantize to their own DC), so halved dimensions + unchanged
    means form a constant truth table DuckDB can state."""
    import numpy as np
    import pandas as pd

    from govuk_crawler_worker_spark.operators.multimodal import (
        image_features,
        resize_images,
    )
    from govuk_crawler_worker_spark.sources.images import encode_lossy, encode_png

    rows = []
    for i in range(8):
        w, h = 32 + 8 * (i % 4), 16 + 8 * (i % 3)
        r, g, b = 15 * i + 8, 10 * i + 40, 25 * i + 2
        px = np.zeros((h, w, 3), dtype=np.uint8)
        px[..., 0], px[..., 1], px[..., 2] = r, g, b
        fmt = "png" if i % 2 == 0 else "jpeg"
        rows.append(
            {
                "image_id": f"img-{i}",
                "bytes": encode_png(px) if fmt == "png" else encode_lossy(px),
                "w": w,
                "h": h,
                "fmt": fmt,
                "er": float(r),
                "eg": float(g),
                "eb": float(b),
                "ew": w // 2,
                "eh": h // 2,
            }
        )
    imgs = spark.createDataFrame(
        pd.DataFrame(rows),
        "image_id string, bytes binary, w int, h int, fmt string, "
        "er double, eg double, eb double, ew int, eh int",
    )
    feats = image_features(resize_images(imgs, factor=2)).join(
        imgs.select("image_id", "er", "eg", "eb", "ew", "eh"), "image_id"
    )
    eps = 1e-3
    return feats.select(
        "image_id",
        (F.col("w") == F.col("ew")).alias("w_ok"),
        (F.col("h") == F.col("eh")).alias("h_ok"),
        (
            (F.abs(F.col("mean_r") - F.col("er")) < eps)
            & (F.abs(F.col("mean_g") - F.col("eg")) < eps)
            & (F.abs(F.col("mean_b") - F.col("eb")) < eps)
        ).alias("means_ok"),
    ).orderBy("image_id")


def _audio_chunks_sanity(spark, sf):
    """chunk_audio's 1→many fan-out + resample_audio's length semantics,
    both analytic: a 0.5 s clip at 8 kHz carries 4000 samples → 0.2 s
    chunking yields exactly (1600, 1600, 800) with the last chunk starting
    at 0.4 s; linear resample to 4 kHz yields round(4000·4000/8000) = 2000
    samples.  Constant truth-table oracle."""
    import pandas as pd

    from govuk_crawler_worker_spark.operators.audio import chunk_audio, resample_audio
    from govuk_crawler_worker_spark.sources.audio import encode_wav, make_sine

    rate, dur = 8000, 0.5
    rows = [
        {
            "clip_id": f"clip-{i}",
            "bytes": encode_wav(make_sine(100.0 * (i + 1), 0.05 * (i + 1), rate, dur), rate),
        }
        for i in range(8)
    ]
    clips = spark.createDataFrame(
        pd.DataFrame(rows), "clip_id string, bytes binary"
    )
    agg = chunk_audio(clips, chunk_s=0.2).groupBy("clip_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_samples").alias("total_samples"),
        F.round(F.max("start_s"), 6).alias("last_start_s"),
    )
    rs = resample_audio(clips, target_rate=4000).select(
        "clip_id", F.col("n_samples").alias("resampled_n")
    )
    return agg.join(rs, "clip_id").select(
        "clip_id",
        (F.col("n_chunks") == 3).alias("chunks_ok"),
        (F.col("total_samples") == 4000).alias("samples_ok"),
        (F.col("last_start_s") == 0.4).alias("start_ok"),
        (F.col("resampled_n") == 2000).alias("resample_ok"),
    ).orderBy("clip_id")


def _scrub_pii(spark, sf):
    """PII redaction (r6): the documents text is synthetic words, so the
    query PLANTS deterministic PII derived from doc_id (an email for every
    doc, an IPv4 for every doc, a phone for every third) with the same
    concat formula the SQL oracle uses — DuckDB then replays the staged
    count+replace chain (emails → IPs → phones, counts taken on the stage
    inputs) value-for-value, including the scrubbed text itself."""
    from govuk_crawler_worker_spark.operators.text import scrub_pii

    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7"),
            F.when(
                F.col("doc_id") % 3 == 0, F.lit(" call +44 20 79460958")
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return scrub_pii(d)


def _video_frame_index(spark, sf):
    """frame_sample over REAL Motion-JPEG AVI containers (r6): six videos
    with formula-fixed frame counts (3 + vid%4) sampled every 2nd frame, so
    the (video_id, frame_idx, w, h) output is a closed-form truth table the
    SQL oracle states directly — value-checking the RIFF walk, the
    pure-numpy baseline-JPEG frame decode (sources/jpeg.py), the 1→many
    mapInPandas fan-out, and the sampling stride.  Pixel content is
    JPEG-lossy so the frame bytes are excluded here; frame fidelity is
    pinned by tests/test_images.py + tests/test_jpeg.py PSNR assertions."""
    import numpy as np
    import pandas as pd

    from govuk_crawler_worker_spark.operators.multimodal import frame_sample
    from govuk_crawler_worker_spark.sources import images as img

    rows = []
    for vid in range(6):
        n = 3 + (vid % 4)
        frames = [
            img.make_pixels(np.random.default_rng(vid * 100 + i), 16, 8)
            for i in range(n)
        ]
        rows.append((f"v{vid}", img.encode_avi_mjpeg(frames, fps=10, quality=90)))
    vids = spark.createDataFrame(
        pd.DataFrame(rows, columns=["video_id", "bytes"]),
        "video_id string, bytes binary",
    )
    return frame_sample(vids, every_n=2).select("video_id", "frame_idx", "w", "h")


def _frame_dedup_videos() -> list:
    """Deterministic MJPEG videos for frame-level dedup: each of 3 videos
    holds a block-pattern scene for 3 lightly-jittered frames, then CUTS to
    a second scene for 3 more — static-segment frames are near-dups
    (phash ≤3 bits apart through the JPEG round-trip), scene cuts and other
    videos sit ≥23 bits away."""
    import numpy as np

    from govuk_crawler_worker_spark.sources import images as img

    def scene(seed, side=24):
        r = np.random.default_rng(seed)
        pat = r.integers(0, 2, (8, 8)).astype(np.uint8)
        rep = side // 8 + 1
        up = np.kron(pat, np.ones((rep, rep), np.uint8))[:side, :side]
        px = 60 + up.astype(np.int16) * 140
        return np.clip(np.stack([px] * 3, axis=-1), 0, 255).astype(np.uint8), r

    rows = []
    for vid in range(3):
        frames = []
        for sc_seed in (vid * 10 + 1, vid * 10 + 2):
            base, r = scene(7000 + sc_seed)
            for _f in range(3):
                jit = base.astype(np.int16) + r.integers(-4, 5, base.shape)
                frames.append(np.clip(jit, 0, 255).astype(np.uint8))
        rows.append(
            {
                "video_id": f"v{vid}",
                "bytes": img.encode_avi_mjpeg(frames, fps=10, quality=90),
            }
        )
    return rows


def _video_frame_near_dups(spark, sf):
    """Frame-level video dedup (r7): the composition a 100 TB video corpus
    pipeline runs to drop static segments — frame_sample explodes MJPEG-AVI
    containers into PNG frame rows (distributed RIFF walk + JPEG decode),
    image_features rehashes them, phash_near_dups finds near-identical
    frames via the banded hamming plan.  The DuckDB oracle replays the
    decode driver-side and takes the EXHAUSTIVE O(n²) hamming join —
    independent pair-generation logic."""
    import pandas as pd

    from govuk_crawler_worker_spark.operators.dedup import phash_near_dups
    from govuk_crawler_worker_spark.operators.multimodal import (
        frame_sample,
        image_features,
    )

    vids = spark.createDataFrame(
        pd.DataFrame(_frame_dedup_videos()), "video_id string, bytes binary"
    )
    frames = frame_sample(vids, every_n=1).select(
        F.concat_ws("-", "video_id", F.format_string("f%02d", "frame_idx")).alias(
            "image_id"
        ),
        F.col("frame_bytes").alias("bytes"),
        "w",
        "h",
        F.lit("png").alias("fmt"),
    )
    feats = image_features(frames)
    return phash_near_dups(
        feats.select("image_id", "phash"), max_hamming=5
    ).orderBy("a", "b")


def _video_frame_near_dups_oracle_sql() -> str:
    from govuk_crawler_worker_spark.sources import images as img

    vals = []
    for r in _frame_dedup_videos():
        for i, fr in enumerate(img.decode_video(r["bytes"])):
            vals.append(f"('{r['video_id']}-f{i:02d}', {img.phash64(fr)})")
    t = "(VALUES " + ", ".join(vals) + ")"
    return f"""
        SELECT l.image_id AS a, r.image_id AS b,
               bit_count(xor(l.phash, r.phash)) AS hamming
        FROM {t} AS l(image_id, phash)
        JOIN {t} AS r(image_id, phash) ON l.image_id < r.image_id
        WHERE bit_count(xor(l.phash, r.phash)) <= 5
        ORDER BY a, b
    """


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "claim_topk": _claim_topk,
        "blacklist_filter": _blacklist_filter,
        "host_whitelist": _host_whitelist,
        "dedup_antijoin": _dedup_antijoin,
        "content_type_route": _content_type_route,
        "retry_gate": _retry_gate,
        "per_host_counts": _per_host_counts,
        "host_budget_window": _host_budget_window,
        "seen_get_coalesce": _seen_get_coalesce,
        "max_status_health": _max_status_health,
        "json_props": _json_props,
        "events_windowed": _events_windowed,
        "url_parse": _url_parse,
        "agg_pricing_summary": _agg_pricing_summary,
        "dedup_exact": _dedup_exact,
        "dedup_jaccard_words": _dedup_jaccard_words,
        "dedup_minhash_lsh": _dedup_minhash_lsh,
        "dedup_clusters": _dedup_clusters,
        "drop_near_dups": _drop_near_dups,
        "dedup_simhash": _dedup_simhash,
        "embedding_near_dups": _embedding_near_dups,
        "cosine_topk": _cosine_topk,
        "ann_lsh_topk": _ann_lsh_topk,
        "ann_ivf_topk": _ann_ivf_topk,
        "ann_ivf_exhaustive": _ann_ivf_exhaustive,
        "ann_ivf_pruned": _ann_ivf_pruned,
        "ann_recall_floor": _ann_recall_floor,
        "ann_ivf_recall_floor": _ann_ivf_recall_floor,
        "simhash_banding_complete": _simhash_banding_complete,
        "ttl_semantics": _ttl_semantics,
        "text_quality": _text_quality,
        "token_counts": _token_counts,
        "language_id": _language_id,
        "doc_fingerprints": _doc_fingerprints,
        "doc_fingerprints_sanity": _doc_fingerprints_sanity,
        "sessionize": _sessionize,
        "curate_corpus": _curate_corpus,
        "image_features": _image_features,
        "image_phash_near_dups": _image_phash_near_dups,
        "image_resize_sanity": _image_resize_sanity,
        "audio_features_sanity": _audio_features_sanity,
        "image_features_sanity": _image_features_sanity,
        "audio_chunks_sanity": _audio_chunks_sanity,
        "video_frame_index": _video_frame_index,
        "video_frame_near_dups": _video_frame_near_dups,
        "scrub_pii": _scrub_pii,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------


def _simhash_oracle_sql(max_hamming: int = 3) -> str:
    """Full value oracle for ``dedup_simhash``: DuckDB independently
    recomputes the ENTIRE pipeline from public specs — XXH64(seed 42) over
    each token's UTF-8 bytes (exact mod-2^64 arithmetic in HUGEINT, see
    ``functions/xxh64_sql.py``), the 64-plane majority vote (votes > 0 →
    bit 1), and the exhaustive hamming-≤h pair set.  The engine's Manku
    banding is provably complete (pigeonhole; also pinned by the
    ``simhash_banding_complete`` query), so the banded output must equal
    the exhaustive set — checked value-by-value, including the hamming
    distances.  Tokens are hashed once per DISTINCT token and weighted by
    multiplicity, matching ``simhash64``'s per-occurrence vote."""
    from govuk_crawler_worker_spark.functions.xxh64_sql import (
        to_int64_sql,
        utf8_bytes_sql,
        xxh64_sql,
    )

    uh = xxh64_sql(utf8_bytes_sql("tok"))  # unsigned 0..2^64-1
    votes = ",\n                   ".join(
        f"SUM(c.cnt * (2 * ((h.uh // {1 << i}::HUGEINT) % 2) - 1)) AS v{i}"
        for i in range(64)
    )
    sig_u = " + ".join(
        f"CASE WHEN v{i} > 0 THEN {1 << i}::HUGEINT ELSE 0::HUGEINT END"
        for i in range(64)
    )
    return f"""
            WITH toks AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
            ),
            counts AS (
              SELECT doc_id, tok, count(*)::HUGEINT AS cnt
              FROM toks GROUP BY doc_id, tok
            ),
            hashes AS (
              SELECT tok, {uh} AS uh
              FROM (SELECT DISTINCT tok FROM counts)
            ),
            votes AS (
              SELECT c.doc_id,
                   {votes}
              FROM counts c JOIN hashes h USING (tok)
              GROUP BY c.doc_id
            ),
            sigs AS (
              SELECT doc_id, {to_int64_sql(f"({sig_u})")} AS sh FROM votes
            )
            SELECT l.doc_id AS a, r.doc_id AS b,
                   bit_count(xor(l.sh, r.sh)) AS hamming
            FROM sigs l JOIN sigs r ON l.doc_id < r.doc_id
            WHERE bit_count(xor(l.sh, r.sh)) <= {max_hamming}
        """


def _ann_lsh_oracle_sql(
    dim: int = 64, n_planes: int = 4, n_tables: int = 8, seed: int = 42, k: int = 5
) -> str:
    """Full value oracle for ``ann_lsh_topk``: DuckDB independently
    recomputes the ENTIRE multi-table sign-LSH pipeline from public specs.
    The engine's hyperplanes are integer-valued draws from a splitmix64
    counter stream and the sign decision is exact int64 arithmetic over
    floor-scaled vectors (``operators/similarity.py``), so the oracle
    re-derives identical bucket ids — plane weights via the same public
    mixer (HUGEINT, ``functions/xxh64_sql.py:splitmix64_sql``), quantization
    via the same exact ``floor(v·2^20)`` — then forms the same candidate set
    (any shared (table, bucket)), exact-cosine re-ranks, and emits top-k.
    No float-summation ambiguity anywhere in candidate generation; the
    re-rank's 4-dp rounded cosine is the formulation already hash-proven by
    the ``cosine_topk`` oracle over the full pair universe."""
    from govuk_crawler_worker_spark.functions.xxh64_sql import splitmix64_sql

    total = n_planes * n_tables
    sm = splitmix64_sql(f"CAST({seed} AS HUGEINT) * 4294967296 + i")
    return f"""
            WITH plane_ix AS (
              SELECT CAST(r AS HUGEINT) AS i FROM range({total * dim}) t(r)
            ),
            planes AS (
              SELECT CAST(i AS BIGINT) // {dim} AS p, CAST(i AS BIGINT) % {dim} AS j,
                     CAST(({sm}) % {2 * (1 << 20)} AS BIGINT) - {1 << 20} AS w
              FROM plane_ix
            ),
            vecq AS (
              SELECT vec_id, j,
                     CAST(floor(CAST(embedding[j + 1] AS DOUBLE) * {1 << 20})
                          AS BIGINT) AS q
              FROM embeddings, range({dim}) t(j)
            ),
            signs AS (
              SELECT v.vec_id, pl.p, (sum(v.q * pl.w) > 0) AS bit
              FROM vecq v JOIN planes pl USING (j)
              GROUP BY v.vec_id, pl.p
            ),
            bucks AS (
              SELECT vec_id, p // {n_planes} AS tbl,
                     sum(CASE WHEN bit THEN (1 << (p % {n_planes})) ELSE 0 END)
                       AS bucket
              FROM signs GROUP BY vec_id, p // {n_planes}
            ),
            cand AS (
              SELECT DISTINCT qb.vec_id AS qid, cb.vec_id AS neighbor
              FROM bucks qb JOIN bucks cb
                ON qb.tbl = cb.tbl AND qb.bucket = cb.bucket
              WHERE qb.vec_id % 100 = 0 AND cb.vec_id != qb.vec_id
            ),
            scored AS (
              SELECT c.qid, c.neighbor,
                     round(list_cosine_similarity(qe.embedding, ne.embedding), 4)
                       AS cosine
              FROM cand c
              JOIN embeddings qe ON qe.vec_id = c.qid
              JOIN embeddings ne ON ne.vec_id = c.neighbor
            )
            SELECT qid, rank, neighbor, cosine FROM (
              SELECT *, row_number() OVER (
                       PARTITION BY qid ORDER BY cosine DESC, neighbor) AS rank
              FROM scored
            ) WHERE rank <= {k}
        """


def oracle_sql() -> dict[str, str]:
    return {
        "claim_topk": """
            SELECT o_orderkey, o_orderpriority, o_custkey
            FROM orders ORDER BY o_orderpriority, o_orderdate, o_orderkey LIMIT 100
        """,
        "blacklist_filter": """
            SELECT source, count(*) AS n_docs FROM documents
            WHERE NOT (source LIKE 'src1%' OR source LIKE 'src2%')
            GROUP BY source
        """,
        "host_whitelist": """
            SELECT event_type, count(*) AS n FROM events
            WHERE event_type IN ('view', 'click') GROUP BY event_type
        """,
        "dedup_antijoin": """
            SELECT DISTINCT l_partkey FROM lineitem
            WHERE l_quantity > 45
              AND l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_size <= 10)
        """,
        "content_type_route": """
            SELECT CASE WHEN l_returnflag = 'R' THEN 'dead'
                        WHEN l_discount > 0.08 THEN 'requeue'
                        WHEN l_tax > 0.05 THEN 'extract'
                        ELSE 'ack' END AS route,
                   count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem GROUP BY 1
        """,
        "retry_gate": """
            SELECT CASE WHEN l_linenumber > 4 THEN 'dead' ELSE 'crawl' END AS route,
                   count(*) AS n
            FROM lineitem GROUP BY 1
        """,
        "per_host_counts": """
            SELECT user_id, count(*) AS n FROM events
            GROUP BY user_id ORDER BY n DESC, user_id LIMIT 50
        """,
        "host_budget_window": """
            SELECT o_orderkey, o_orderpriority, rn FROM (
              SELECT o_orderkey, o_orderpriority,
                     row_number() OVER (PARTITION BY o_orderpriority
                                        ORDER BY o_orderdate, o_orderkey) AS rn
              FROM orders
            ) WHERE rn <= 5
        """,
        "seen_get_coalesce": """
            SELECT s.s_suppkey, CAST(coalesce(c.cnt, 0) AS BIGINT) AS n
            FROM supplier s LEFT JOIN (
              SELECT l_suppkey AS s_suppkey, count(*) AS cnt FROM lineitem GROUP BY 1
            ) c USING (s_suppkey)
        """,
        "max_status_health": """
            SELECT event_type, round(max(value), 4) AS max_value, count(*) AS n
            FROM events GROUP BY event_type
        """,
        "json_props": """
            SELECT event_type,
                   CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
                   count(*) AS n
            FROM events GROUP BY event_type
        """,
        "events_windowed": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
                   event_type, count(*) AS n, round(sum(value), 2) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "url_parse": """
            SELECT doc_id,
                   regexp_extract('https://' || source || '.gov.uk/doc/' || doc_id,
                                  '^https://([^/]+)/', 1) AS host,
                   regexp_extract('https://' || source || '.gov.uk/doc/' || doc_id,
                                  '^https://[^/]+(/.*)$', 1) AS path
            FROM documents
        """,
        "agg_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_price,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS n
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "dedup_exact": """
            SELECT md5(text) AS text_md5, min(doc_id) AS keeper_id,
                   count(*) AS dup_count
            FROM documents GROUP BY 1
        """,
        "dedup_jaccard_words": """
            WITH ws AS (
              SELECT doc_id, source,
                     list_distinct(string_split(text, ' ')) AS words
              FROM documents
            ),
            ex0 AS (SELECT doc_id, source, unnest(words) AS word FROM ws),
            hot AS (
              SELECT source, word FROM ex0 GROUP BY source, word
              HAVING count(*) > 1000
            ),
            ex AS (
              SELECT e.doc_id, e.source, e.word FROM ex0 e
              ANTI JOIN hot h ON e.source = h.source AND e.word = h.word
            ),
            sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id),
            inter AS (
              SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS i
              FROM ex l JOIN ex r
                ON l.source = r.source AND l.word = r.word AND l.doc_id < r.doc_id
              GROUP BY 1, 2
            )
            SELECT a, b,
                   round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
            WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) >= 0.8
        """,
        "embedding_near_dups": """
            SELECT l.vec_id AS a, r.vec_id AS b,
                   round(list_cosine_similarity(l.embedding, r.embedding), 4) AS cosine
            FROM embeddings l JOIN embeddings r
              ON l.label = r.label AND l.vec_id < r.vec_id
            WHERE round(list_cosine_similarity(l.embedding, r.embedding), 4) >= 0.35
        """,
        "dedup_minhash_lsh": """
            WITH sh0 AS (
              SELECT doc_id,
                     unnest(list_distinct([
                       string_split(text,' ')[i] || ' ' ||
                       string_split(text,' ')[i+1] || ' ' ||
                       string_split(text,' ')[i+2]
                       for i in range(1, greatest(len(string_split(text,' '))-2,0)+1)
                     ])) AS shingle
              FROM documents
            ),
            hot AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > 1000),
            sh AS (SELECT s.doc_id, s.shingle FROM sh0 s ANTI JOIN hot h USING (shingle)),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS i
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT a, b, round(CAST(i AS DOUBLE)/(sa.n+sb.n-i), 4) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
            WHERE round(CAST(i AS DOUBLE)/(sa.n+sb.n-i), 4) >= 0.5
        """,
        "dedup_clusters": """
            WITH RECURSIVE sh0 AS (
              SELECT doc_id,
                     unnest(list_distinct([
                       string_split(text,' ')[i] || ' ' ||
                       string_split(text,' ')[i+1] || ' ' ||
                       string_split(text,' ')[i+2]
                       for i in range(1, greatest(len(string_split(text,' '))-2,0)+1)
                     ])) AS shingle
              FROM documents
            ),
            hot AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > 1000),
            sh AS (SELECT s.doc_id, s.shingle FROM sh0 s ANTI JOIN hot h USING (shingle)),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS i
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ),
            pairs AS (
              SELECT a, b FROM inter
              JOIN sizes sa ON sa.doc_id = a
              JOIN sizes sb ON sb.doc_id = b
              WHERE round(CAST(i AS DOUBLE)/(sa.n+sb.n-i), 4) >= 0.5
            ),
            edges AS (
              SELECT a AS src, b AS dst FROM pairs
              UNION SELECT b, a FROM pairs
            ),
            reach(node, label) AS (
              SELECT src, src FROM edges
              UNION
              SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
            ),
            cc AS (SELECT node, min(label) AS cluster_id FROM reach GROUP BY node),
            szs AS (SELECT cluster_id, count(*) AS cluster_size FROM cc GROUP BY cluster_id)
            SELECT cc.node AS doc_id, cc.cluster_id, szs.cluster_size
            FROM cc JOIN szs USING (cluster_id)
        """,
        "drop_near_dups": """
            WITH RECURSIVE sh0 AS (
              SELECT doc_id,
                     unnest(list_distinct([
                       string_split(text,' ')[i] || ' ' ||
                       string_split(text,' ')[i+1] || ' ' ||
                       string_split(text,' ')[i+2]
                       for i in range(1, greatest(len(string_split(text,' '))-2,0)+1)
                     ])) AS shingle
              FROM documents
            ),
            hot AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > 1000),
            sh AS (SELECT s.doc_id, s.shingle FROM sh0 s ANTI JOIN hot h USING (shingle)),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS i
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ),
            pairs AS (
              SELECT a, b FROM inter
              JOIN sizes sa ON sa.doc_id = a
              JOIN sizes sb ON sb.doc_id = b
              WHERE round(CAST(i AS DOUBLE)/(sa.n+sb.n-i), 4) >= 0.5
            ),
            edges AS (
              SELECT a AS src, b AS dst FROM pairs
              UNION SELECT b, a FROM pairs
            ),
            reach(node, label) AS (
              SELECT src, src FROM edges
              UNION
              SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
            ),
            cc AS (SELECT node, min(label) AS cluster_id FROM reach GROUP BY node),
            losers AS (SELECT node AS doc_id FROM cc WHERE node != cluster_id)
            SELECT d.doc_id, d.source
            FROM documents d ANTI JOIN losers l USING (doc_id)
        """,
        "ann_lsh_topk": _ann_lsh_oracle_sql(),
        "ann_recall_floor": """
            SELECT DISTINCT vec_id AS qid, true AS recall_ok
            FROM embeddings WHERE vec_id % 100 = 0
        """,
        "ann_ivf_recall_floor": """
            SELECT DISTINCT vec_id AS qid, true AS recall_ok
            FROM embeddings WHERE vec_id % 100 = 0
        """,
        "dedup_simhash": _simhash_oracle_sql(max_hamming=3),
        "simhash_banding_complete": """
            SELECT CAST(0 AS BIGINT) AS n_missed, true AS banding_complete
        """,
        "doc_fingerprints_sanity": """
            SELECT l.r AS a, b.r AS b, (l.r % 4) = (b.r % 4) AS same_fp
            FROM range(12) l(r) JOIN range(12) b(r) ON l.r < b.r
            ORDER BY a, b
        """,
        # full value oracle: DuckDB recomputes the SAME public hash spec
        # (Horner over codepoints, base 1000003, mod Mersenne 2^61-1)
        # independently — HUGEINT keeps acc*B+c exact (< 2^81), so this
        # checks every fingerprint VALUE, not just equality structure
        "doc_fingerprints": """
            SELECT doc_id,
                   CASE WHEN text IS NULL OR length(text) = 0 THEN 0
                        ELSE CAST(list_reduce(
                            list_transform(string_split(text, ''),
                                           c -> CAST(unicode(c) AS HUGEINT)),
                            (acc, c) -> (acc * 1000003 + c)
                                        % CAST(2305843009213693951 AS HUGEINT)
                        ) AS BIGINT)
                   END AS fingerprint
            FROM documents
        """,
        "audio_features_sanity": """
            SELECT 'clip-' || CAST(r AS VARCHAR) AS clip_id,
                   true AS rms_ok, true AS zcr_ok, true AS duration_ok
            FROM range(8) t(r) ORDER BY clip_id
        """,
        # deterministic world + deterministic codecs ⇒ expected features are
        # recomputable on the driver and stated as a literal (r7; the helper
        # decodes with the shared codec but computes the features inline)
        "image_features": _image_features_oracle_sql(),
        # exhaustive O(n²) hamming join in SQL vs the banded Spark plan —
        # independent pair-generation logic (r7)
        "image_phash_near_dups": _image_phash_near_dups_oracle_sql(),
        "image_features_sanity": """
            SELECT 'img-' || CAST(r AS VARCHAR) AS image_id,
                   true AS mean_r_ok, true AS mean_g_ok,
                   true AS mean_b_ok, true AS brightness_ok
            FROM range(8) t(r)
            UNION ALL
            SELECT 'img-grad', true, true, true, true
            ORDER BY image_id
        """,
        "image_resize_sanity": """
            SELECT 'img-' || CAST(r AS VARCHAR) AS image_id,
                   true AS w_ok, true AS h_ok, true AS means_ok
            FROM range(8) t(r) ORDER BY image_id
        """,
        "audio_chunks_sanity": """
            SELECT 'clip-' || CAST(r AS VARCHAR) AS clip_id,
                   true AS chunks_ok, true AS samples_ok,
                   true AS start_ok, true AS resample_ok
            FROM range(8) t(r) ORDER BY clip_id
        """,
        # staged PII count+replace replay: counts are taken on each stage's
        # INPUT (emails on raw, IPs after email replace, phones after IP
        # replace), mirroring operators/text.scrub_pii exactly; the patterns
        # are written to mean the same thing in Java regex and RE2
        "scrub_pii": """
            WITH planted AS (
              SELECT doc_id,
                     text || ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@example.com from 10.0.'
                          || CAST(doc_id % 256 AS VARCHAR) || '.7'
                          || CASE WHEN doc_id % 3 = 0
                                  THEN ' call +44 20 79460958' ELSE '' END AS t0
              FROM documents
            ),
            s1 AS (
              SELECT doc_id, t0,
                     len(regexp_extract_all(t0,
                         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                       AS n_emails,
                     regexp_replace(t0,
                         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                         '<EMAIL>', 'g') AS t1
              FROM planted
            ),
            s2 AS (
              SELECT doc_id, n_emails,
                     len(regexp_extract_all(t1,
                         '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))
                       AS n_ips,
                     regexp_replace(t1,
                         '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
                         '<IP>', 'g') AS t2
              FROM s1
            )
            SELECT doc_id,
                   regexp_replace(t2, '\\+?\\d[\\d()\\- ]{6,}\\d\\b',
                                  '<PHONE>', 'g') AS text,
                   CAST(n_emails AS BIGINT) AS n_emails,
                   CAST(n_ips AS BIGINT) AS n_ips,
                   CAST(len(regexp_extract_all(t2, '\\+?\\d[\\d()\\- ]{6,}\\d\\b'))
                        AS BIGINT) AS n_phones,
                   CAST(n_emails + n_ips
                        + len(regexp_extract_all(t2, '\\+?\\d[\\d()\\- ]{6,}\\d\\b'))
                        AS BIGINT) AS pii_total
            FROM s2
        """,
        # the AVI frame-count formula (n = 3 + vid%4, stride 2) restated:
        # sampled indices per video are range(0, n, 2) at constant 16×8
        "video_frame_near_dups": _video_frame_near_dups_oracle_sql(),
        "video_frame_index": """
            SELECT 'v' || CAST(v AS VARCHAR) AS video_id,
                   CAST(i AS INT) AS frame_idx,
                   CAST(16 AS INT) AS w, CAST(8 AS INT) AS h
            FROM range(6) t(v), range(0, 6, 2) s(i)
            WHERE i < 3 + (v % 4)
        """,
        "ttl_semantics": """
            WITH seen AS (
              SELECT CAST(doc_id AS VARCHAR) AS url_canon,
                     CAST(length(text) % 50 AS BIGINT) AS updated_batch
              FROM documents
            ),
            keys AS (
              SELECT CAST(doc_id AS VARCHAR) AS url_canon FROM documents
              UNION ALL
              SELECT 'missing-' || CAST(r AS VARCHAR) FROM range(5) t(r)
            )
            SELECT k.url_canon,
                   CAST(CASE WHEN s.updated_batch IS NULL THEN -2
                             WHEN s.updated_batch + 20 - 40 < 0 THEN -2
                             ELSE s.updated_batch + 20 - 40 END AS BIGINT)
                     AS ttl_batches
            FROM keys k LEFT JOIN seen s USING (url_canon)
        """,
        "sessionize": """
            WITH g AS (
              SELECT user_id, ts, value,
                     CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                            PARTITION BY user_id ORDER BY ts)
                          > 1800 * 1000000 THEN 1 ELSE 0 END AS ns
              FROM events
            ),
            s AS (
              SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_seq
              FROM g
            )
            SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
                   count(*) AS n_events, round(sum(value), 2) AS sum_value,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                   strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end
            FROM s GROUP BY 1, 2
        """,
        "curate_corpus": """
            WITH feats AS (
              SELECT doc_id, text,
                     len(string_split(text, ' ')) AS n_words,
                     round(CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z ]', '', 'g'))
                           AS DOUBLE) / length(text), 4) AS punct_ratio,
                     len(list_filter(string_split(text, ' '),
                         x -> x IN ('the','a','and','of','to','in','is','for','on','with'))) AS en_hits,
                     len(list_filter(string_split(text, ' '),
                         x -> x IN ('le','la','et','de','un','une','est','pour','dans','avec'))) AS fr_hits
              FROM documents
            ),
            kept AS (
              SELECT doc_id, text FROM feats
              WHERE n_words >= 20 AND punct_ratio <= 0.2 AND en_hits >= fr_hits
            )
            SELECT min(doc_id) AS doc_id, md5(text) AS text_md5,
                   count(*) AS dup_count
            FROM kept GROUP BY md5(text)
        """,
        # pruned IVF with the fixed axis-aligned quantizer (eye(16, 64)):
        # assignment = argmax of the first 16 components, probes = the
        # top-4 components by value (first-index tie-break, matching numpy
        # argmax), then the exact rounded-cosine re-rank over probed lists
        "ann_ivf_pruned": """
            WITH dims AS (
              SELECT vec_id, gs.i AS dim, embedding[gs.i] AS val
              FROM embeddings, generate_series(1, 16) gs(i)
            ),
            ranked AS (
              SELECT vec_id, dim - 1 AS list_id,
                     row_number() OVER (
                       PARTITION BY vec_id ORDER BY val DESC, dim ASC
                     ) AS rn
              FROM dims
            ),
            corpus AS (
              SELECT e.vec_id, e.embedding, r.list_id
              FROM embeddings e
              JOIN ranked r ON r.vec_id = e.vec_id AND r.rn = 1
            ),
            qprobes AS (
              SELECT vec_id AS qid, list_id
              FROM ranked WHERE rn <= 4 AND vec_id % 100 = 0
            )
            SELECT qid, rank, neighbor, cosine FROM (
              SELECT qp.qid, c.vec_id AS neighbor,
                     round(list_cosine_similarity(q.embedding, c.embedding), 4) AS cosine,
                     row_number() OVER (
                       PARTITION BY qp.qid
                       ORDER BY round(list_cosine_similarity(q.embedding, c.embedding), 4) DESC,
                                c.vec_id
                     ) AS rank
              FROM qprobes qp
              JOIN embeddings q ON q.vec_id = qp.qid
              JOIN corpus c ON c.list_id = qp.list_id AND c.vec_id != qp.qid
            ) WHERE rank <= 5
        """,
        # covering-mode IVF (nprobe == nlist ⇒ candidates = whole corpus):
        # must equal the exact top-k, so the oracle is the same SQL as
        # cosine_topk — a full value check of the IVF plumbing
        "ann_ivf_exhaustive": """
            SELECT qid, rank, neighbor, cosine FROM (
              SELECT q.vec_id AS qid, e.vec_id AS neighbor,
                     round(list_cosine_similarity(q.embedding, e.embedding), 4) AS cosine,
                     row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round(list_cosine_similarity(q.embedding, e.embedding), 4) DESC,
                                e.vec_id
                     ) AS rank
              FROM embeddings q JOIN embeddings e ON e.vec_id != q.vec_id
              WHERE q.vec_id % 100 = 0
            ) WHERE rank <= 5
        """,
        "cosine_topk": """
            SELECT qid, rank, neighbor, cosine FROM (
              SELECT q.vec_id AS qid, e.vec_id AS neighbor,
                     round(list_cosine_similarity(q.embedding, e.embedding), 4) AS cosine,
                     row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round(list_cosine_similarity(q.embedding, e.embedding), 4) DESC,
                                e.vec_id
                     ) AS rank
              FROM embeddings q JOIN embeddings e ON e.vec_id != q.vec_id
              WHERE q.vec_id % 100 = 0
            ) WHERE rank <= 5
        """,
        "text_quality": """
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_words,
                   length(text) AS n_chars_calc,
                   round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                         / len(string_split(text, ' ')), 4) AS avg_word_len,
                   round(CAST(len(list_filter(string_split(text, ' '),
                         x -> x IN ('the','a','and','of','to','in','is','for','on','with')))
                         AS DOUBLE) / len(string_split(text, ' ')), 4) AS stopword_ratio,
                   round(CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z ]', '', 'g'))
                         AS DOUBLE) / length(text), 4) AS punct_ratio
            FROM documents
        """,
        "token_counts": """
            SELECT doc_id,
                   len(string_split(text, ' ')) AS ws_tokens,
                   len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+')) AS word_tokens
            FROM documents
        """,
        "language_id": """
            SELECT doc_id,
                   len(list_filter(string_split(text, ' '),
                       x -> x IN ('the','a','and','of','to','in','is','for','on','with'))) AS en_hits,
                   len(list_filter(string_split(text, ' '),
                       x -> x IN ('le','la','et','de','un','une','est','pour','dans','avec'))) AS fr_hits,
                   CASE WHEN len(list_filter(string_split(text, ' '),
                       x -> x IN ('the','a','and','of','to','in','is','for','on','with')))
                       >= len(list_filter(string_split(text, ' '),
                       x -> x IN ('le','la','et','de','un','une','est','pour','dans','avec')))
                       THEN 'en' ELSE 'fr' END AS lang_pred
            FROM documents
        """,
    }


if __name__ == "__main__":
    spark = (
        SparkSession.builder.master("local[*]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    df = entry(spark)
    df.show(10, truncate=40)
    print("entry rows:", df.count())
