"""Unit tests: snapshot catalog atomicity + bloom filter + seen merge.

Mirrors the reference's ttl_hash_set suite semantics (absent→0, sequential
Incr, reset/delete — ttl_hash_set_test.go:15-177) at the table level.
"""

from __future__ import annotations

import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from govuk_crawler_worker_spark.operators.seen import (
    BloomFilter,
    expire_seen,
    seen_merge,
)
from govuk_crawler_worker_spark.plans import schemas as S
from govuk_crawler_worker_spark.sources import catalog as catalog_module
from govuk_crawler_worker_spark.sources.catalog import Catalog


class TestCatalog:
    def test_commit_replace_append_and_carry_forward(self, spark):
        cat = Catalog(spark, tempfile.mkdtemp(prefix="cat_"))
        a = spark.range(5).withColumnRenamed("id", "x")
        cat.commit(appends={"t": a})
        cat.commit(appends={"log": spark.range(3).withColumnRenamed("id", "x")})
        # t carried forward, log appended twice
        cat.commit(appends={"log": spark.range(2).withColumnRenamed("id", "x")})
        assert cat.read("t").count() == 5
        assert cat.read("log").count() == 5
        assert cat.latest()["commit_id"] == 2

    def test_read_absent_with_schema(self, spark):
        cat = Catalog(spark, tempfile.mkdtemp(prefix="cat_"))
        df = cat.read("frontier", S.FRONTIER_SCHEMA)
        assert df.count() == 0
        assert df.schema == S.FRONTIER_SCHEMA

    def test_snapshot_isolation(self, spark):
        cat = Catalog(spark, tempfile.mkdtemp(prefix="cat_"))
        cat.commit(appends={"t": spark.range(5).withColumnRenamed("id", "x")})
        old = cat.read("t")
        cat.commit(appends={"t": spark.range(5, 99).withColumnRenamed("id", "x")})
        assert old.count() == 5  # reader pinned to its snapshot
        assert cat.read("t").count() == 99

    def test_expire_snapshots_keeps_live(self, spark):
        cat = Catalog(spark, tempfile.mkdtemp(prefix="cat_"))
        for i in range(5):
            cat.commit(appends={"t": spark.range(i, i + 1).withColumnRenamed("id", "x")})
        # every segment is still live in the latest manifest: none expires
        cat.expire_snapshots(keep_last=2)
        assert cat.read("t").count() == 5


class TestBloom:
    def test_no_false_negatives(self):
        rng = np.random.default_rng(1)
        items = rng.integers(-(2**62), 2**62, 5000)
        bf = BloomFilter.sized_for(5000, fpp=0.01)
        bf.add_many(items)
        assert bf.contains_many(items).all()

    def test_fpp_reasonable(self):
        rng = np.random.default_rng(2)
        items = rng.integers(-(2**62), 2**62, 5000)
        others = rng.integers(-(2**62), 2**62, 20000)
        bf = BloomFilter.sized_for(5000, fpp=0.01)
        bf.add_many(items)
        fp = bf.contains_many(others).mean()
        assert fp < 0.05


class TestSeenTable:
    def _seen(self, spark, rows):
        return spark.createDataFrame(rows, S.SEEN_SCHEMA)

    def test_merge_upsert_wins(self, spark):
        seen = self._seen(spark, [(1, "a", 1, 0), (2, "b", 1, 0)])
        delta = self._seen(spark, [(2, "b", 2, 1), (3, "c", 1, 1)])
        out = {r["url_canon"]: r["state"] for r in seen_merge(seen, delta).collect()}
        assert out == {"a": 1, "b": 2, "c": 1}

    def test_absent_is_zero_semantics(self, spark):
        # Get on absent key → 0 (ttl_hash_set.go:112-116): left join + coalesce
        seen = self._seen(spark, [(1, "a", 3, 0)])
        probe = spark.createDataFrame([("a",), ("zz",)], "url_canon string")
        out = {
            r["url_canon"]: r["state"]
            for r in probe.join(seen, "url_canon", "left")
            .select("url_canon", F.coalesce("state", F.lit(0)).alias("state"))
            .collect()
        }
        assert out == {"a": 3, "zz": 0}

    def test_ttl_expiry(self, spark):
        seen = self._seen(spark, [(1, "old", 1, 0), (2, "new", 1, 9)])
        out = expire_seen(seen, batch_id=10, ttl_batches=5)
        assert [r["url_canon"] for r in out.collect()] == ["new"]
        assert expire_seen(seen, 10, None).count() == 2


class TestBucketedMerge:
    """The catalog's MERGE path: per-bucket rewrite with untouched buckets
    carried forward as pointers — commit I/O proportional to the delta."""

    @staticmethod
    def _bucket_of(df):
        return F.pmod(F.col("k"), F.lit(8))

    def _mk(self, spark, rows):
        return spark.createDataFrame(rows, "k long, v string")

    def test_upsert_delete_semantics(self, spark):
        import tempfile as tf

        cat = Catalog(spark, tf.mkdtemp(prefix="catm_"))
        base = self._mk(spark, [(i, f"v{i}") for i in range(32)])
        cat.commit(merges={"t": dict(delta=base, key="k", bucket_of=self._bucket_of)})
        assert cat.read("t").count() == 32
        # upsert k=3, delete k=4
        cat.commit(
            merges={
                "t": dict(
                    delta=self._mk(spark, [(3, "NEW")]),
                    key="k",
                    bucket_of=self._bucket_of,
                    deletes=self._mk(spark, [(4, "")]),
                )
            }
        )
        got = {r["k"]: r["v"] for r in cat.read("t").collect()}
        assert got[3] == "NEW" and 4 not in got and len(got) == 31

    def test_untouched_bucket_files_identical_across_commits(self, spark):
        """The scale property: a commit whose delta touches buckets {3} must
        leave every other bucket's files untouched on disk (same paths, same
        bytes — they are literally the same files, carried by pointer)."""
        import os
        import tempfile as tf

        root = tf.mkdtemp(prefix="catm_")
        cat = Catalog(spark, root)
        base = self._mk(spark, [(i, f"v{i}") for i in range(64)])
        cat.commit(merges={"t": dict(delta=base, key="k", bucket_of=self._bucket_of)})

        def bucket_files():
            parts = cat.latest()["parts"]["t"]
            out = {}
            for b, rel in parts.items():
                d = os.path.join(root, rel)
                out[b] = {
                    f: (os.path.getmtime(os.path.join(d, f)), os.path.getsize(os.path.join(d, f)))
                    for f in sorted(os.listdir(d))
                    if f.endswith(".parquet")
                }
            return parts, out

        parts0, files0 = bucket_files()
        # delta touches only bucket 3 (k=3, 11, 19 → all pmod 8 = 3)
        cat.commit(
            merges={
                "t": dict(
                    delta=self._mk(spark, [(11, "x")]),
                    key="k",
                    bucket_of=self._bucket_of,
                )
            }
        )
        parts1, files1 = bucket_files()
        assert parts1["3"] != parts0["3"]  # touched bucket repointed
        for b in parts0:
            if b == "3":
                continue
            assert parts1[b] == parts0[b], b  # same directory pointer
            assert files1[b] == files0[b], b  # same files, same mtimes/sizes
        # and the data still reads correctly
        got = {r["k"]: r["v"] for r in cat.read("t").collect()}
        assert got[11] == "x" and got[3] == "v3" and len(got) == 64

    def test_bucket_fully_drained_drops_pointer(self, spark):
        import tempfile as tf

        cat = Catalog(spark, tf.mkdtemp(prefix="catm_"))
        base = self._mk(spark, [(0, "a"), (8, "b"), (1, "c")])  # buckets 0,0,1
        cat.commit(merges={"t": dict(delta=base, key="k", bucket_of=self._bucket_of)})
        empty = self._mk(spark, []).limit(0)
        cat.commit(
            merges={
                "t": dict(
                    delta=empty,
                    key="k",
                    bucket_of=self._bucket_of,
                    deletes=self._mk(spark, [(0, ""), (8, "")]),
                )
            }
        )
        assert "0" not in cat.latest()["parts"]["t"]
        assert {r["k"] for r in cat.read("t").collect()} == {1}

    def test_merge_expire_snapshots_keeps_carried_buckets(self, spark):
        import tempfile as tf

        cat = Catalog(spark, tf.mkdtemp(prefix="catm_"))
        base = self._mk(spark, [(i, f"v{i}") for i in range(64)])
        cat.commit(merges={"t": dict(delta=base, key="k", bucket_of=self._bucket_of)})
        for i in range(4):
            cat.commit(
                merges={
                    "t": dict(
                        delta=self._mk(spark, [(3, f"u{i}")]),
                        key="k",
                        bucket_of=self._bucket_of,
                    )
                }
            )
        cat.expire_snapshots(keep_last=1)
        got = {r["k"]: r["v"] for r in cat.read("t").collect()}
        assert got[3] == "u3" and len(got) == 64


class TestMergeOnRead:
    """Merge-on-read commits (r4): O(delta) writes via per-bucket chain
    appends, latest-wins fold on read, tombstoned deletes, bounded chains
    (inline fold past the cap), compaction reset — the fix for the O(table)
    write amplification the 1M-page soak measured under copy-on-write once
    a uniform-hash delta touches every bucket."""

    def _cat(self, spark):
        import tempfile as tf

        from pyspark.sql import functions as F

        cat = Catalog(spark, tf.mkdtemp(prefix="morcat_"))
        bucket_of = lambda df: F.pmod(F.col("k").cast("long"), F.lit(4))  # noqa: E731
        mk = lambda rows: spark.createDataFrame(rows, "k int, v string")  # noqa: E731
        return cat, bucket_of, mk

    def test_upsert_delete_reinsert_fold(self, spark):
        cat, bucket_of, mk = self._cat(spark)
        cat.commit(merges={"t": dict(delta=mk([(1, "a"), (2, "b"), (5, "c")]), key="k", bucket_of=bucket_of)})
        # MOR: upsert k=1, insert k=9, tombstone k=2 — no old-bucket read
        cat.commit(
            merges={
                "t": dict(
                    delta=mk([(1, "A"), (9, "z")]),
                    key="k",
                    bucket_of=bucket_of,
                    deletes=spark.createDataFrame([(2,)], "k int"),
                    mor=True,
                )
            }
        )
        assert sorted((r.k, r.v) for r in cat.read("t").collect()) == [
            (1, "A"), (5, "c"), (9, "z"),
        ]
        # bucket read folds too
        assert sorted((r.k, r.v) for r in cat.read_buckets("t", [1]).collect()) == [
            (1, "A"), (5, "c"), (9, "z"),
        ]
        # a later re-insert beats the earlier tombstone (commit order wins)
        cat.commit(merges={"t": dict(delta=mk([(2, "B2")]), key="k", bucket_of=bucket_of, mor=True)})
        assert (2, "B2") in {(r.k, r.v) for r in cat.read("t").collect()}

    def test_chain_cap_inline_fold_and_compaction(self, spark, monkeypatch):
        monkeypatch.setattr(catalog_module, "MOR_MAX_CHAIN", 2)
        cat, bucket_of, mk = self._cat(spark)
        cat.commit(merges={"t": dict(delta=mk([(1, "a"), (5, "c")]), key="k", bucket_of=bucket_of)})
        for i in range(5):
            cat.commit(
                merges={
                    "t": dict(
                        delta=mk([(1, f"v{i}")]), key="k", bucket_of=bucket_of,
                        mor=True,
                    )
                }
            )
        chains = cat.latest()["parts"]["t"]
        lens = {b: (len(c) if isinstance(c, list) else 1) for b, c in chains.items()}
        assert max(lens.values()) <= 2  # cap held by inline folds
        rows = sorted((r.k, r.v) for r in cat.read("t").collect())
        assert rows == [(1, "v4"), (5, "c")]
        # compaction folds every chain back to a single base; values intact
        cat.compact("t", bucket_of)
        chains2 = cat.latest()["parts"]["t"]
        assert all(not isinstance(c, list) or len(c) == 1 for c in chains2.values())
        assert sorted((r.k, r.v) for r in cat.read("t").collect()) == rows
        # expire keeps every live chain leaf
        cat.expire_snapshots(keep_last=1)
        assert sorted((r.k, r.v) for r in cat.read("t").collect()) == rows

    def test_inline_fold_stamps_live_delta_seq(self, spark, monkeypatch):
        """A MOR delta whose LINEAGE still scans catalog parquet must not
        inherit the scanned file's older commit seq during an inline chain
        fold (r5 fix, r4 ADVICE): pre-fix, input_file_name() stamped such
        rows with the OLD snap id and newer chain rows silently won."""
        import os

        from pyspark.sql import functions as F

        monkeypatch.setattr(catalog_module, "MOR_MAX_CHAIN", 2)
        cat, bucket_of, mk = self._cat(spark)
        cat.commit(merges={"t": dict(delta=mk([(1, "a")]), key="k", bucket_of=bucket_of)})
        cat.commit(
            merges={"t": dict(delta=mk([(1, "b")]), key="k", bucket_of=bucket_of,
                              mor=True)}
        )
        # un-checkpointed delta derived from the BASE snapshot's files:
        # input_file_name() on its rows still says snap-00000000
        stale_lineage = spark.read.parquet(
            os.path.join(cat.root, "tables/t/snap-00000000")
        ).select("k", F.upper(F.col("v")).alias("v"))
        # chain is at the cap → this commit folds inline; the committing
        # delta must win over the seq-1 chain row despite its stale lineage
        cat.commit(
            merges={"t": dict(delta=stale_lineage, key="k", bucket_of=bucket_of,
                              mor=True)}
        )
        assert [(r.k, r.v) for r in cat.read("t").collect()] == [(1, "A")]

    def test_mor_write_is_delta_sized(self, spark):
        """The point of MOR: a commit's write I/O must not grow with table
        size.  Build a 20k-row table, then commit a 10-row MOR delta — the
        new snapshot dir's bytes must be a tiny fraction of the base's."""
        import os

        from pyspark.sql import functions as F

        cat, bucket_of, mk = self._cat(spark)
        base = spark.range(20_000).select(
            F.col("id").cast("int").alias("k"),
            F.concat(F.lit("v"), F.col("id")).alias("v"),
        )
        cat.commit(merges={"t": dict(delta=base, key="k", bucket_of=bucket_of)})

        def snap_bytes(rel):
            tot = 0
            for root, _d, files in os.walk(os.path.join(cat.root, rel)):
                tot += sum(os.path.getsize(os.path.join(root, f)) for f in files)
            return tot

        base_rel = f"tables/t/snap-{0:08d}"
        delta = mk([(i, "d") for i in range(10)])
        cat.commit(merges={"t": dict(delta=delta, key="k", bucket_of=bucket_of, mor=True)})
        delta_rel = f"tables/t/snap-{1:08d}-mor"
        assert snap_bytes(delta_rel) < snap_bytes(base_rel) / 4
        # and the folded read still sees exactly one live row per key
        assert cat.read("t").count() == 20_000
        assert {r.v for r in cat.read_buckets("t", [0]).collect() if r.k < 10} == {"d"}


class TestCompaction:
    @staticmethod
    def _bucket8(df):
        return F.pmod(F.col("k"), F.lit(8))

    def test_compact_drops_rows_and_empty_buckets_keeps_meta(self, spark):
        import tempfile as tf

        cat = Catalog(spark, tf.mkdtemp(prefix="catc_"))
        base = spark.createDataFrame(
            [(i, i % 3) for i in range(32)], "k long, gen long"
        )
        cat.commit(
            merges={"t": dict(delta=base, key="k", bucket_of=self._bucket8)},
            meta={"next_batch": 7},
        )
        # drop gen 0 rows (the "expired generation")
        cat.compact("t", self._bucket8, keep=lambda df: F.col("gen") > 0)
        got = {r["k"] for r in cat.read("t").collect()}
        assert got == {i for i in range(32) if i % 3 != 0}
        # checkpoint meta survived the maintenance commit
        assert cat.latest()["meta"]["next_batch"] == 7

    def test_compact_to_empty_drops_all_pointers(self, spark):
        import tempfile as tf

        cat = Catalog(spark, tf.mkdtemp(prefix="catc_"))
        base = spark.createDataFrame([(1, 0), (9, 0)], "k long, gen long")
        cat.commit(merges={"t": dict(delta=base, key="k", bucket_of=self._bucket8)})
        cat.compact("t", self._bucket8, keep=lambda df: F.lit(False))
        assert cat.latest()["parts"]["t"] == {}
        assert cat.read("t", "k long, gen long").count() == 0


class TestCrashAtomicity:
    def test_orphan_snapshot_files_and_torn_manifest_ignored(self, spark):
        """Crash mid-commit = snapshot files written but the manifest rename
        never happened.  Readers and the next committer must see only the
        last published manifest (B26/ProxyTCP-chaos analogue)."""
        import json
        import os
        import tempfile as tf

        root = tf.mkdtemp(prefix="catx_")
        cat = Catalog(spark, root)
        cat.commit(appends={"t": spark.range(5).withColumnRenamed("id", "x")})

        # simulate the torn commit: orphan snapshot dir + .tmp manifest
        orphan = os.path.join(root, "tables", "t", "snap-99999999")
        spark.range(999).withColumnRenamed("id", "x").write.parquet(orphan)
        with open(os.path.join(root, "_commits", "00000001.json.tmp"), "w") as fh:
            json.dump({"commit_id": 1, "tables": {"t": ["bogus"]}}, fh)

        assert cat.latest()["commit_id"] == 0
        assert cat.read("t").count() == 5
        # next commit proceeds normally on top of the last GOOD manifest
        cat.commit(appends={"log": spark.range(2).withColumnRenamed("id", "x")})
        assert cat.latest()["commit_id"] == 1
        assert cat.read("t").count() == 5


class TestBloomLifecycle:
    """Segmented-bloom maintenance: delta-fold-at-commit keeps the stored
    table authoritative (probe reads it directly, zero seen scans); full
    rebuild (with larger sizing) once the seen set outgrows capacity, or
    when the watermark trails the batch clock."""

    def _loop(self, spark, tmpdir):
        from govuk_crawler_worker_spark.config import CrawlConfig
        from govuk_crawler_worker_spark.plans.pipeline import (
            DrainLoop,
            seen_bucket_of,
        )

        cat = Catalog(spark, tmpdir)
        cfg = CrawlConfig()
        loop = DrainLoop(
            spark, cat, cfg, content=spark.createDataFrame([], S.CONTENT_SCHEMA),
            payload=spark.createDataFrame([], S.PAYLOAD_SCHEMA),
        )
        return cat, loop, seen_bucket_of

    def _seen_rows(self, spark, n, batch):
        return spark.range(n).selectExpr(
            "xxhash64(cast(id as string)) AS url_hash",
            "cast(id as string) AS url_canon",
            "1 AS state",
            f"cast({batch} as long) AS updated_batch",
        )

    def test_fold_then_rebuild_on_overflow(self, spark):
        import tempfile as tf

        cat, loop, bucket_of = self._loop(spark, tf.mkdtemp(prefix="bloomlc_"))
        seen0 = self._seen_rows(spark, 200, 0)
        cat.commit(
            merges={"seen": dict(delta=seen0, key="url_canon", bucket_of=bucket_of)},
            meta={"next_batch": 1, "seen_size": 200},
        )
        # first call: no bloom meta → build, wm = b (this batch's delta
        # would fold at commit, advancing wm to b+1)
        view1, rows1, meta1, rb1 = loop._bloom_for_batch(1, cat.latest()["meta"])
        assert rb1  # first build is a (re)build — committed _full
        assert meta1["wm"] == 1 and meta1["capacity"] >= 200 * 8
        cat.commit(
            merges={"bloom": dict(delta=rows1, key="segment", bucket_of=lambda df: F.col("segment"))},
            # as run_batch's commit does: wm advances past the batch it covers
            meta={**cat.latest()["meta"], "bloom": dict(meta1, wm=2)},
        )

        # steady state (wm caught up, within capacity): probe reads the
        # STORED table directly — no rebuild, no rows to write, and
        # crucially no seen-table scan (pinned end-to-end by
        # TestBloomDeltaFold in test_scale_paths.py)
        view2, rows2, meta2, rb2 = loop._bloom_for_batch(2, cat.latest()["meta"])
        assert not rb2 and rows2 is None
        assert meta2["n_bits"] == meta1["n_bits"]
        assert meta2["capacity"] == meta1["capacity"]
        assert {r["segment"] for r in view2.collect()} == {
            r["segment"] for r in view1.collect()
        }

        # a TRAILING watermark (bloom_min_seen raised then lowered between
        # runs: rows committed in [wm, b) were never folded) must force a
        # rebuild — probing the stale
        # filter could yield false negatives
        view2b, rows2b, _meta2b, rb2b = loop._bloom_for_batch(5, cat.latest()["meta"])
        assert rb2b

        # grow seen past capacity → REBUILD with larger sizing
        big = self._seen_rows(spark, 40_000, 6)
        cat.commit(
            merges={"seen": dict(delta=big, key="url_canon", bucket_of=bucket_of)},
            meta={**cat.latest()["meta"], "seen_size": 40_000},
        )
        view3, rows3, meta3, rb3 = loop._bloom_for_batch(7, cat.latest()["meta"])
        assert rb3  # overflow → geometry rebuild, committed _full
        assert meta3["capacity"] >= 40_000 * 8
        assert meta3["n_bits"] > meta1["n_bits"]
        seen_raw2 = cat.read("seen", S.SEEN_SCHEMA)
        # the rebuilt filter must cover the whole seen set (no false negatives)
        from govuk_crawler_worker_spark.operators.seen import bloom_probe_join
        from govuk_crawler_worker_spark.plans.pipeline import BLOOM_SEGMENTS

        probed = bloom_probe_join(
            seen_raw2.select("url_hash", "url_canon"),
            view3,
            "url_hash",
            BLOOM_SEGMENTS,
            meta3["n_bits"],
            meta3["k"],
        )
        assert probed.where(~F.col("maybe_seen")).count() == 0
