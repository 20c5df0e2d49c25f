"""Snapshot-table catalog: atomic multi-table commits over parquet.

Role in the architecture: the reference relies on RabbitMQ acks + Redis for
durable state transitions (ack/reject = ``workflow.go:40-44,116-121``,
``queue_connection.go:117-131``); we replace that with **one atomic commit per
micro-batch** spanning every state table (frontier, seen, fetched, dead,
metrics, checkpoint) — the batch analogue of exactly-once queue semantics.

This module is an Iceberg-shaped stand-in: the sandbox has no Iceberg
runtime jar, so we implement the same contract — immutable parquet snapshots
+ an atomically-published commit manifest — directly.  On a real cluster the
``Catalog`` API maps 1:1 onto an Iceberg catalog (`MERGE INTO`/
`overwritePartitions` inside one transaction); only this file changes.

Scale notes (100 TB / 10^10-URL frontier):
* **bucketed merge tables** (``merges=``): a table is hash-bucketed on its
  key; a commit rewrites ONLY the buckets its delta touches and carries the
  other buckets forward as manifest pointers — commit I/O is proportional to
  the delta's bucket footprint, never the table (the Iceberg
  ``MERGE INTO`` / bucket-partition-overwrite analogue).  Bucket count is a
  sandbox-sized parameter; a production catalog uses O(1000) buckets +
  periodic compaction.
* **merge-on-read mode** (``mor=True`` in a merge spec): copy-on-write
  bucket rewrites amplify to O(table)/commit once a uniform-hash delta
  touches every bucket (any delta ≳ bucket count does) — the r4 1M-page
  soak measured ~90 % of catalog bytes as rewrite garbage.  MOR commits
  instead APPEND the delta as a new leaf on each touched bucket's chain
  (write = O(delta), the Iceberg v2 MOR / LSM-tier analogue); reads fold
  chains with latest-wins per key (ordered by the spec's ``order`` column,
  commit id as tie-break), deletes travel as tombstone rows, and a bucket
  whose chain exceeds ``MOR_MAX_CHAIN`` (16) is folded inline by that same
  commit — read fan-in stays bounded without global pauses.  Compaction
  folds chains back to a single base.
* the commit manifest is O(#tables × #buckets) JSON — no scaling concern.
* readers are never blocked: a commit is a single ``os.rename`` of the
  manifest; concurrent readers see the previous snapshot (snapshot isolation,
  same guarantee Iceberg gives).
* time travel / resume: every manifest is retained; ``latest()`` resumes from
  the last published batch (checkpoint state lives in the manifest meta),
  which is what makes kill/resume re-fetch-free.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Any

from pyspark.sql import DataFrame, SparkSession

# merge-on-read plumbing: tombstone marker column and the per-bucket delta
# chain cap (a bucket whose chain would exceed this is folded inline by the
# committing batch — bounded read fan-in, amortized O(chain) fold cost)
_TOMB = "_tomb"
_SEQ = "_mor_seq"  # explicit commit-seq stamp on a live MOR delta (fold input only)
MOR_MAX_CHAIN = 16


def _chain(v) -> list[str]:
    """parts-map values are a single leaf (copy-on-write) or a chain of
    leaves, base first (merge-on-read)."""
    if v is None:
        return []
    return list(v) if isinstance(v, list) else [v]


def _fold_latest_wins(df: DataFrame, key: str, order: str | None, cur_seq: int):
    """Collapse a MOR chain to one live row per key: winner = max over
    (order column, commit seq from the leaf filename, upsert-beats-tombstone)
    — one groupBy with map-side partial aggregation, proportional to the
    rows actually read.  Tombstone winners are dropped (the delete took
    effect); the marker column never leaves the catalog."""
    from pyspark.sql import functions as F

    data_cols = [c for c in df.columns if c not in (_TOMB, _SEQ)]
    # seq/tomb are projected BEFORE the aggregate: input_file_name() is
    # non-deterministic and must be evaluated at the scan, not inside the
    # aggregate's arguments.
    # Precedence for a row's commit sequence:
    #   1. an explicit _SEQ column (write_merge_mor stamps the live delta
    #      with the committing sequence — load-bearing: a delta whose
    #      LINEAGE still scans catalog parquet would otherwise pick up the
    #      scanned file's OLDER seq from input_file_name() and lose to
    #      stale chain rows, r4 ADVICE)
    #   2. the leaf filename's snap-<seq> (rows read back from the chain)
    #   3. cur_seq (file-less rows with no explicit stamp)
    seq_sources = []
    if _SEQ in df.columns:
        seq_sources.append(F.col(_SEQ).cast("long"))
    seq_sources += [
        F.expr(
            r"try_cast(regexp_extract(input_file_name(), 'snap-(\\d+)', 1) as long)"
        ),
        F.lit(cur_seq),
    ]
    staged = df.select(
        *data_cols,
        F.coalesce(F.col(_TOMB), F.lit(False)).alias(_TOMB),
        F.coalesce(*seq_sources).alias("_seq"),
    )
    ordc = F.col(order) if order else F.lit(0)
    won = staged.groupBy(F.col(key).alias("_k")).agg(
        F.max_by(
            F.struct(*[F.col(c) for c in data_cols], F.col(_TOMB)),
            F.struct(
                ordc.alias("_o"),
                F.col("_seq").alias("_s"),
                (~F.col(_TOMB)).cast("int").alias("_nt"),
            ),
        ).alias("_w")
    )
    return won.select("_w.*").where(~F.col(_TOMB)).drop(_TOMB)


class Catalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(os.path.join(root, "_commits"), exist_ok=True)
        os.makedirs(os.path.join(root, "tables"), exist_ok=True)

    # -- manifest plumbing ---------------------------------------------------

    def _commit_path(self, n: int) -> str:
        return os.path.join(self.root, "_commits", f"{n:08d}.json")

    def latest_commit_id(self) -> int:
        files = [
            f
            for f in os.listdir(os.path.join(self.root, "_commits"))
            if f.endswith(".json")
        ]
        return max((int(f[:-5]) for f in files), default=-1)

    def latest(self) -> dict[str, Any]:
        n = self.latest_commit_id()
        if n < 0:
            return {"commit_id": -1, "tables": {}, "meta": {}}
        with open(self._commit_path(n)) as fh:
            return json.load(fh)

    # -- reads ----------------------------------------------------------------

    def _reader_for(self, manifest, name, with_tomb: bool = False, schema=None):
        from pyspark.sql.types import BooleanType, StructField, StructType

        st = None
        if schema is not None:
            # caller-declared schema WINS over the stored record: this is
            # schema-evolution-on-read — leaves written before a column was
            # added are null-filled (e.g. robots ``unreachable``) and columns
            # since dropped are skipped (robots ``prefixes``), so old and new
            # leaves read as one table instead of failing the union
            st = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
        else:
            stored = manifest.get("schemas", {}).get(name)
            if stored is not None:
                st = StructType.fromJson(json.loads(stored))
        reader = self.spark.read
        if st is not None:
            if with_tomb and _TOMB not in st.fieldNames():
                # MOR delta leaves carry the tombstone marker; base leaves
                # don't — an explicit schema makes the reader null-fill it
                st = StructType(list(st.fields) + [StructField(_TOMB, BooleanType())])
            reader = reader.schema(st)
        return reader

    def _assemble(self, manifest, name, segs: list[str], schema=None) -> DataFrame:
        """Read the given leaves; if any is a MOR delta leaf, fold the chain
        (latest-wins per key, tombstones applied) so callers always see one
        live row per key — the Iceberg-v2 merge-on-read contract."""
        mor = manifest.get("mor", {}).get(name)
        need_fold = mor is not None and any("-mor/" in s or s.endswith("-mor") for s in segs)
        df = self._reader_for(manifest, name, with_tomb=need_fold, schema=schema).parquet(
            *(os.path.join(self.root, s) for s in segs)
        )
        if need_fold:
            df = _fold_latest_wins(
                df, mor["key"], mor.get("order"), int(manifest["commit_id"])
            )
        return df

    def read(self, name: str, schema=None) -> DataFrame:
        """Latest snapshot of ``name``; empty DataFrame with ``schema`` if the
        table has never been committed (create-if-absent semantics, the
        analogue of queue/exchange declaration, queue_manager.go:64-78).

        The manifest carries each table's schema (like Iceberg metadata), so
        snapshots written from empty DataFrames — which produce no parquet
        part files — read back correctly."""
        manifest = self.latest()
        segs = list(manifest["tables"].get(name) or [])
        for v in (manifest.get("parts", {}).get(name) or {}).values():
            segs += _chain(v)
        if not segs:
            if schema is None:
                raise KeyError(f"table {name!r} absent and no schema given")
            return self.spark.createDataFrame([], schema)
        return self._assemble(manifest, name, segs, schema=schema)

    def read_buckets(self, name: str, buckets, schema=None) -> DataFrame:
        """Read ONLY the given buckets of a merge table — I/O proportional to
        the bucket list (file-level pruning via the manifest's bucket→dir
        map, the partition-pruning analogue)."""
        manifest = self.latest()
        parts = manifest.get("parts", {}).get(name) or {}
        segs = [s for b in buckets if str(b) in parts for s in _chain(parts[str(b)])]
        if not segs:
            if schema is None:
                raise KeyError(f"no buckets of {name!r} and no schema given")
            return self.spark.createDataFrame([], schema)
        return self._assemble(manifest, name, segs, schema=schema)

    def exists(self, name: str) -> bool:
        m = self.latest()
        return bool(m["tables"].get(name)) or bool(m.get("parts", {}).get(name))

    # -- atomic multi-table commit --------------------------------------------

    def commit(
        self,
        appends: dict[str, DataFrame] | None = None,
        merges: dict[str, dict] | None = None,
        meta: dict[str, Any] | None = None,
    ) -> int:
        """Write new snapshot segments then publish them plus carried-forward
        pointers for untouched tables in ONE rename — all-or-nothing.

        ``appends`` adds a segment to grow-only tables (fetched, dead,
        metrics); ``merges`` upserts/deletes into a hash-bucketed table,
        rewriting ONLY touched buckets (the Iceberg MERGE INTO analogue):

            merges={"seen": {
                "delta":   <upsert rows, full schema>,
                "key":     "url_canon",          # upsert/delete identity
                "bucket_of": lambda df: <int Column computed from row cols>,
                "deletes": <rows to delete, carrying key + bucket inputs>,
                "touched": [bucket ids],  # optional: caller-known footprint
            }}

        ``touched`` (optional) is the delta∪deletes bucket footprint when the
        caller already knows it (e.g. from an aggregate it ran anyway) — the
        commit then skips its own touched-bucket discovery job.  It must be a
        SUPERSET of the real footprint; extra buckets are rewritten verbatim
        (wasteful, never wrong).

        Untouched buckets keep pointing at their previous snapshot files
        (byte-identical across commits); touched buckets are rewritten as
        old∖keys ∪ delta.  A crash before the rename leaves orphan snapshot
        files (harmless, same as uncommitted Iceberg data files) and the
        previous commit intact: resume never sees a torn batch.
        """
        from pyspark.sql import functions as F

        prev = self.latest()
        n = prev["commit_id"] + 1
        tables: dict[str, list[str]] = {k: list(v) for k, v in prev["tables"].items()}
        parts: dict[str, dict[str, str]] = {
            k: dict(v) for k, v in prev.get("parts", {}).items()
        }
        schemas: dict[str, str] = dict(prev.get("schemas", {}))

        def write(name: str, df: DataFrame) -> str:
            rel = os.path.join("tables", name, f"snap-{n:08d}")
            df.write.mode("overwrite").parquet(os.path.join(self.root, rel))
            return rel

        def merge_keyed(spec: dict) -> DataFrame:
            delta, key = spec["delta"], spec["key"]
            bucket_of = spec["bucket_of"]
            deletes = spec.get("deletes")
            if spec.get("_full"):
                # full rewrite (compaction): only bucket ids matter
                return delta.select(bucket_of(delta).cast("int").alias("_pb"))
            keyed = delta.select(
                F.col(key).alias("_k"), bucket_of(delta).cast("int").alias("_pb")
            )
            if deletes is not None:
                keyed = keyed.unionByName(
                    deletes.select(
                        F.col(key).alias("_k"),
                        bucket_of(deletes).cast("int").alias("_pb"),
                    )
                )
            return keyed

        def _write_bucketed(df: DataFrame, bucket_of, rel: str, n_parts: int):
            (
                df.withColumn("_pb", bucket_of(df).cast("int"))
                # co-locate each bucket into one task before partitionBy —
                # otherwise every task writes a file per bucket and the
                # snapshot explodes into tasks×buckets tiny files (file
                # listing then dominates the next batch's read)
                .repartition(max(n_parts, 1), F.col("_pb"))
                .write.mode("overwrite")
                .partitionBy("_pb")
                .parquet(os.path.join(self.root, rel))
            )

        def write_merge(
            name: str, spec: dict, touched: list[int]
        ) -> tuple[str, list[str], str, dict | None]:
            delta, key = spec["delta"], spec["key"]
            bucket_of = spec["bucket_of"]
            schema_json = json.dumps(delta.schema.jsonValue())
            if not touched:
                return name, [], schema_json, None
            if spec.get("mor") and not spec.get("_full"):
                return write_merge_mor(name, spec, touched)
            if spec.get("_full"):
                merged = delta  # compaction: delta IS the new full content
            else:
                keyed = merge_keyed(spec)
                old = self.read_buckets(name, touched, schema=delta.schema)
                kept = old.join(
                    keyed.select(F.col("_k").alias(key)).distinct().hint("broadcast"),
                    key,
                    "left_anti",
                )
                merged = kept.unionByName(delta)
            rel = os.path.join("tables", name, f"snap-{n:08d}")
            _write_bucketed(merged, bucket_of, rel, len(touched))
            return name, touched, schema_json, None

        def write_merge_mor(
            name: str, spec: dict, touched: list[int]
        ) -> tuple[str, list[str], str, dict]:
            """Merge-on-read commit: append the delta (+ tombstoned deletes)
            as one new leaf per touched bucket — NO read of the old buckets,
            write I/O = O(delta) regardless of table size.  Buckets whose
            chain would exceed the cap are folded inline instead (old chain
            + this delta → one fresh base leaf), so read fan-in stays ≤ cap
            while the fold cost amortizes to O(bucket)/cap commits."""
            delta, key = spec["delta"], spec["key"]
            bucket_of = spec["bucket_of"]
            order = spec.get("order")
            schema_json = json.dumps(delta.schema.jsonValue())
            rows = delta.withColumn(_TOMB, F.lit(False))
            deletes = spec.get("deletes")
            if deletes is not None:
                tomb = deletes
                for f in delta.schema.fields:
                    if f.name not in tomb.columns:
                        tomb = tomb.withColumn(f.name, F.lit(None).cast(f.dataType))
                rows = rows.unionByName(
                    tomb.select(delta.columns).withColumn(_TOMB, F.lit(True))
                )
            prev_chains = {
                b: _chain((prev.get("parts", {}).get(name) or {}).get(str(b)))
                for b in touched
            }
            long_b = sorted(
                b for b in touched if len(prev_chains[b]) + 1 > MOR_MAX_CHAIN
            )
            short_b = sorted(set(touched) - set(long_b))
            bcol = bucket_of(rows).cast("int")
            chain_updates: dict[int, list[str]] = {}
            if short_b:
                rel_mor = os.path.join("tables", name, f"snap-{n:08d}-mor")
                _write_bucketed(
                    rows.where(bcol.isin([int(b) for b in short_b])),
                    bucket_of,
                    rel_mor,
                    len(short_b),
                )
                for b in short_b:
                    leaf = os.path.join(rel_mor, f"_pb={b}")
                    if os.path.isdir(os.path.join(self.root, leaf)):
                        chain_updates[b] = prev_chains[b] + [leaf]
            if long_b:
                old_leaves = [leaf for b in long_b for leaf in prev_chains[b]]
                old = self._reader_for(prev, name, with_tomb=True).parquet(
                    *(os.path.join(self.root, s) for s in old_leaves)
                ).withColumn(_SEQ, F.lit(None).cast("long"))
                # the live delta is stamped with THIS commit's seq explicitly:
                # a delta whose lineage scans catalog parquet would otherwise
                # inherit the scanned file's older seq via input_file_name()
                # and lose the fold to stale chain rows (r4 ADVICE)
                live = rows.withColumn(_SEQ, F.lit(n).cast("long"))
                live_b = bucket_of(live).cast("int")
                folded = _fold_latest_wins(
                    old.unionByName(live.where(live_b.isin([int(b) for b in long_b]))),
                    key,
                    order,
                    n,
                )
                rel_fold = os.path.join("tables", name, f"snap-{n:08d}-fold")
                _write_bucketed(folded, bucket_of, rel_fold, len(long_b))
                for b in long_b:
                    leaf = os.path.join(rel_fold, f"_pb={b}")
                    chain_updates[b] = (
                        [leaf]
                        if os.path.isdir(os.path.join(self.root, leaf))
                        else []  # bucket fully drained by tombstones
                    )
            return name, touched, schema_json, {
                "chains": chain_updates,
                "mor": {"key": key, "order": order},
            }

        # The snapshot writes are independent Spark jobs — submit them
        # concurrently so per-commit latency is max(write) not sum(write)
        # (matters in the small-wave BFS regime where commit latency is the
        # throughput floor).  Atomicity is unaffected: nothing is visible
        # until the manifest rename below.
        from concurrent.futures import ThreadPoolExecutor

        work = list((appends or {}).items())
        merge_work = list((merges or {}).items())
        for name, df in work:
            schemas[name] = json.dumps(df.schema.jsonValue())

        # ONE job computes every merge table's touched-bucket set (tagged
        # union) — commit latency matters in the small-batch BFS regime.
        # Specs that carry a caller-provided "touched" footprint skip the
        # job entirely (zero discovery jobs when every spec provides one).
        touched_by: dict[str, list[int]] = {
            name: sorted(int(x) for x in spec["touched"])
            for name, spec in merge_work
            if spec.get("touched") is not None
        }
        discover = [
            (name, spec) for name, spec in merge_work if name not in touched_by
        ]
        for name, _spec in discover:
            touched_by[name] = []
        if discover:
            tagged = None
            for name, spec in discover:
                t = merge_keyed(spec).select(F.lit(name).alias("_t"), "_pb").distinct()
                tagged = t if tagged is None else tagged.unionByName(t)
            for r in tagged.distinct().collect():
                touched_by[r["_t"]].append(int(r["_pb"]))
        for mname, spec in merge_work:
            if spec.get("_full"):
                # a full rewrite also touches every EXISTING bucket (a
                # bucket whose rows were all dropped must lose its
                # pointer)
                existing = (prev.get("parts", {}).get(mname) or {}).keys()
                touched_by[mname] = sorted(
                    set(touched_by[mname]) | {int(k) for k in existing}
                )

        def run(unit):
            kind, payload = unit
            if kind == "plain":
                name, df = payload
                return kind, (name, write(name, df))
            name, spec = payload
            return kind, write_merge(name, spec, touched_by[name])

        units = [("plain", w) for w in work] + [("merge", mw) for mw in merge_work]
        if len(units) > 1:
            with ThreadPoolExecutor(max_workers=len(units)) as pool:
                results = list(pool.map(run, units))
        else:
            results = [run(u) for u in units]

        mor_registry: dict[str, dict] = dict(prev.get("mor", {}))
        for kind, res in results:
            if kind == "plain":
                name, rel = res
                tables.setdefault(name, []).append(rel)
            else:
                name, touched, schema_json, mor_res = res
                schemas[name] = schema_json
                if mor_res is not None:
                    tmap = parts.setdefault(name, {})
                    for b, chain in mor_res["chains"].items():
                        if chain:
                            tmap[str(b)] = chain
                        else:
                            tmap.pop(str(b), None)
                    mor_registry[name] = mor_res["mor"]
                elif touched:
                    tmap = parts.setdefault(name, {})
                    rel = os.path.join("tables", name, f"snap-{n:08d}")
                    for b in touched:
                        leaf = os.path.join(rel, f"_pb={b}")
                        if os.path.isdir(os.path.join(self.root, leaf)):
                            tmap[str(b)] = leaf
                        else:
                            # bucket fully drained by deletes → drop pointer
                            tmap.pop(str(b), None)

        manifest = {
            "commit_id": n,
            "tables": tables,
            "parts": parts,
            "schemas": schemas,
            "mor": mor_registry,
            # meta carries forward when not explicitly replaced (a
            # maintenance commit must not wipe checkpoint state)
            "meta": meta if meta is not None else prev.get("meta", {}),
        }
        tmp = self._commit_path(n) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.rename(tmp, self._commit_path(n))  # the atomic publish
        return n

    # -- maintenance -----------------------------------------------------------

    def compact(self, name: str, bucket_of, keep=None) -> int:
        """Rewrite a merge table's buckets in one pass, optionally dropping
        rows (``keep`` = a DataFrame→Column predicate) — the
        rewrite_data_files + physical-TTL-cleanup maintenance job.

        Per-batch merges keep dead rows (e.g. TTL-expired seen entries) in
        untouched buckets because rewriting them every batch would defeat
        delta-proportional commits; a periodic compaction reclaims them
        without changing any read result (readers already filter expired
        generations).  Runs as its own commit — atomic like any other."""
        df = self.read(name)
        if keep is not None:
            df = df.where(keep(df))
        return self.commit(
            merges={
                name: dict(
                    delta=df,
                    key=None,  # full rewrite: every bucket touched
                    bucket_of=bucket_of,
                    _full=True,
                )
            }
        )

    def expire_snapshots(self, keep_last: int = 3) -> None:
        """Drop snapshot files unreachable from the last ``keep_last`` commits
        (Iceberg's expire_snapshots).  Keeps the drain loop's disk footprint
        bounded during long benchmarks."""
        commits = sorted(
            int(f[:-5])
            for f in os.listdir(os.path.join(self.root, "_commits"))
            if f.endswith(".json")
        )
        keep = set(commits[-keep_last:])
        live: set[str] = set()
        for c in keep:
            with open(self._commit_path(c)) as fh:
                m = json.load(fh)
            for segs in m["tables"].values():
                live.update(segs)
            for tmap in m.get("parts", {}).values():
                # a bucket leaf (or any leaf of a MOR chain) keeps its whole
                # snapshot dir alive
                for v in tmap.values():
                    live.update(os.path.dirname(leaf) for leaf in _chain(v))
        tables_dir = os.path.join(self.root, "tables")
        for tname in os.listdir(tables_dir):
            tdir = os.path.join(tables_dir, tname)
            for snap in os.listdir(tdir):
                rel = os.path.join("tables", tname, snap)
                if rel not in live:
                    shutil.rmtree(os.path.join(tdir, snap), ignore_errors=True)
