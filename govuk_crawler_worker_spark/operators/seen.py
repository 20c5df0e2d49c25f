"""URL-seen membership: segmented Bloom pre-filter + exact seen table.

Replaces the reference's Redis TTL hash set (ttl_hash_set/ttl_hash_set.go:
57-189, keys ``prefix:md5(url)`` :202-204) with, per the north rule:

* identity  = ``xxhash64(canonicalize(url))`` — computed JVM-side
  (``F.xxhash64``), never in Python;
* a **Bloom pre-filter** over the enqueued seen set, probed by a vectorized
  pandas UDF, that cheaply drops the (vast at 10^10-URL scale) majority of
  already-seen outlink candidates BEFORE the exact anti-join — cutting the
  shuffle volume of the dedup join;
* **exactness guaranteed by construction**: the filter only PRE-filters.
  Bloom false positives would wrongly drop frontier candidates, so every
  candidate flagged by the pre-filter is confirmed with an exact left-anti
  join against the seen table.  The filter is a pure bandwidth
  optimization; correctness never depends on it.
* **resets need no deletable filter**: the ``Set(url, ReadyToEnqueue)``
  reset on non-accepted content types (workflow.go:136) is a ``state=0``
  row in the seen table.  Its bloom bits stay set, so a later rediscovery
  is a bloom positive, and the exact anti-join decides it: that join drops
  only rows with ``state >= Enqueued``, so the reset URL is published
  again.  A filter that supports deletes would only matter if the filter
  itself were the membership authority; here it never is.

Scale design — the filter NEVER lives on the driver and no row data is ever
collected: it is a **segmented bloom table** ``(segment int, bits binary)``
stored in the catalog, segment = ``pmod(url_hash, n_segments)``.

* build/maintain: per-segment partial bitmaps via ``groupBy(segment).
  applyInPandas`` (``bloom_partials``), OR-merged against the stored rows
  (``bloom_or_merge``) and committed through the catalog's bucketed merge —
  maintenance I/O per batch is proportional to the delta's segments.
* probe: candidates are cogrouped with their segment's bitmap
  (``bloom_probe_join``) — the bitmap rides the shuffle once per segment,
  never by closure, never through the driver.
* at 10^10 URLs / 1% fpp the filter is ~12 GB total; with 1024 segments each
  bitmap row is ~12 MB — shuffle-safe.  Sandbox uses smaller segment counts.

The ``BloomFilter`` class is the per-segment compute kernel (and the
unit-test surface).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _positions(hashes: np.ndarray, k: int, n_bits: int) -> np.ndarray:
    """k probe positions per hash via splitmix64-style remixing (vectorized).

    Double hashing g_i = h1 + i*h2 over uint64, mod n_bits.
    """
    h = hashes.astype(np.uint64)
    z = (h + np.uint64(0x9E3779B97F4A7C15)) * np.uint64(0xBF58476D1CE4E5B9)
    z ^= z >> np.uint64(27)
    h2 = z * np.uint64(0x94D049BB133111EB) | np.uint64(1)
    idx = np.arange(k, dtype=np.uint64)[:, None]
    return ((h[None, :] + idx * h2[None, :]) % np.uint64(n_bits)).astype(np.int64)


class BloomFilter:
    def __init__(self, n_bits: int, k: int, bits: np.ndarray | None = None):
        self.n_bits = n_bits
        self.k = k
        self.bits = bits if bits is not None else np.zeros(n_bits // 8 + 1, dtype=np.uint8)

    @classmethod
    def sized_for(cls, n_items: int, fpp: float = 0.01) -> "BloomFilter":
        n_items = max(n_items, 1)
        n_bits = max(64, int(-n_items * math.log(fpp) / (math.log(2) ** 2)))
        k = max(1, round(n_bits / n_items * math.log(2)))
        return cls(n_bits, k)

    def add_many(self, hashes: np.ndarray) -> None:
        if len(hashes) == 0:
            return
        pos = _positions(np.asarray(hashes, dtype=np.int64), self.k, self.n_bits)
        np.bitwise_or.at(self.bits, pos.ravel() // 8, (1 << (pos.ravel() % 8)).astype(np.uint8))

    def contains_many(self, hashes: np.ndarray) -> np.ndarray:
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        pos = _positions(np.asarray(hashes, dtype=np.int64), self.k, self.n_bits)
        hit = (self.bits[pos // 8] >> (pos % 8)) & 1
        return hit.all(axis=0).astype(bool)

    def to_bytes(self) -> bytes:
        return self.bits.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes, n_bits: int, k: int) -> "BloomFilter":
        """Decode a stored bitmap; REJECTS a geometry mismatch.  A bitmap
        written under a different n_bits silently decoded with this one
        yields garbage membership bits — and a bloom false negative breaks
        the publish-dedup exactness invariant (the bloom-negative path skips
        the exact join).  Callers on the probe path catch this and fail safe
        to maybe_seen=True (the exact join then decides)."""
        expected = n_bits // 8 + 1
        if len(data) != expected:
            raise ValueError(
                f"bloom bitmap is {len(data)} bytes, geometry n_bits={n_bits} "
                f"expects {expected} — stale segment from an old build?"
            )
        return cls(n_bits, k, np.frombuffer(data, dtype=np.uint8).copy())


# -- segmented bloom (catalog-table form; nothing driver-resident) -----------

BLOOM_TABLE_SCHEMA = "segment int, bits binary"


def bloom_segment_col(hash_col: str, n_segments: int):
    return F.pmod(F.col(hash_col), F.lit(n_segments)).cast("int")


def bloom_partials(
    df: DataFrame, hash_col: str, n_segments: int, n_bits: int, k: int
) -> DataFrame:
    """(segment, bits) partial bitmaps from a hash column — one shuffle by
    segment, one fixed-size bitmap per segment, fully distributed."""

    def build(key, pdf: pd.DataFrame) -> pd.DataFrame:
        bf = BloomFilter(n_bits, k)
        bf.add_many(pdf[hash_col].to_numpy(dtype=np.int64))
        return pd.DataFrame({"segment": [key[0]], "bits": [bf.to_bytes()]})

    return (
        df.select(hash_col)
        .withColumn("segment", bloom_segment_col(hash_col, n_segments))
        .groupBy("segment")
        .applyInPandas(build, BLOOM_TABLE_SCHEMA)
    )


def bloom_or_merge(old: DataFrame, delta: DataFrame) -> DataFrame:
    """OR the delta's partial bitmaps into the stored rows (left join on
    segment; missing old row → delta wins).  Output covers exactly the
    delta's segments — the caller commits it as a bucketed merge."""
    from pyspark.sql.types import BinaryType

    o = old.select("segment", F.col("bits").alias("old_bits"))

    @F.pandas_udf(BinaryType())
    def or_bits(a: pd.Series, b: pd.Series) -> pd.Series:
        out = []
        for x, y in zip(a, b):
            if y is None:
                out.append(bytes(x))
            else:
                out.append(
                    np.bitwise_or(
                        np.frombuffer(x, dtype=np.uint8),
                        np.frombuffer(y, dtype=np.uint8),
                    ).tobytes()
                )
        return pd.Series(out)

    return delta.join(o, "segment", "left").select(
        "segment", or_bits("bits", "old_bits").alias("bits")
    )


def bloom_probe_join(
    cands: DataFrame,
    bloom: DataFrame,
    hash_col: str,
    n_segments: int,
    n_bits: int,
    k: int,
) -> DataFrame:
    """cands + ``maybe_seen`` via a cogrouped per-segment probe.

    Shuffle key = segment (uniform by hash); each group sees its candidate
    rows plus its ONE bitmap row — the bitmap never fans out per candidate
    row and never touches the driver.  A segment with no bitmap row has no
    members → certainly new."""
    c = cands.withColumn("segment", bloom_segment_col(hash_col, n_segments))
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in cands.schema.fields
    ) + ", maybe_seen boolean"

    def probe(key, cpdf: pd.DataFrame, bpdf: pd.DataFrame) -> pd.DataFrame:
        if len(bpdf):
            try:
                bf = BloomFilter.from_bytes(bytes(bpdf["bits"].iloc[0]), n_bits, k)
                hit = bf.contains_many(cpdf[hash_col].to_numpy(dtype=np.int64))
            except ValueError:
                # geometry mismatch (stale segment): fail SAFE — flag every
                # candidate maybe_seen so the exact anti-join decides; a
                # false negative here would skip the join and re-enqueue
                hit = np.ones(len(cpdf), dtype=bool)
        else:
            hit = np.zeros(len(cpdf), dtype=bool)
        cpdf = cpdf.drop(columns=["segment"]).copy()
        cpdf["maybe_seen"] = hit
        return cpdf

    return (
        c.groupBy("segment")
        .cogroup(bloom.groupBy("segment"))
        .applyInPandas(probe, out_schema)
    )


def bloom_sizing(n_items: int, fpp: float = 0.01) -> tuple[int, int]:
    """(n_bits, k) for a capacity — shared by build and probe sides."""
    bf = BloomFilter.sized_for(max(n_items, 1), fpp)
    return bf.n_bits, bf.k


def seen_merge(seen: DataFrame, delta: DataFrame) -> DataFrame:
    """MERGE INTO seen: delta rows win on url_canon (the batch analogue of
    SETEX/INCR upserts, ttl_hash_set.go:57-95).  Both sides keyed by
    (url_hash, url_canon); the anti-join side is the big table, the delta is
    one batch — broadcast it."""
    return seen.join(
        F.broadcast(delta.select("url_canon").distinct()), "url_canon", "left_anti"
    ).unionByName(delta)


def seen_ttl(
    seen: DataFrame, keys: DataFrame, batch_id: int, ttl_batches: int | None
) -> DataFrame:
    """Per-key remaining TTL with Redis sign semantics (TTLForKey,
    ttl_hash_set.go:177-189; sign cases ttl_hash_set_test.go:156-175):

    * present with expiry  → remaining batches (≥ 0 while alive; a key whose
      window elapsed reads as absent → -2, matching the expire-at-read model)
    * present, no TTL configured → -1
    * absent               → -2

    ``keys`` is a DataFrame with a ``url_canon`` column (the introspection
    batch); the lookup is one left join."""
    lkp = seen.select("url_canon", "updated_batch")
    joined = keys.select("url_canon").join(lkp, "url_canon", "left")
    if ttl_batches is None:
        ttl = F.when(F.col("updated_batch").isNotNull(), F.lit(-1)).otherwise(
            F.lit(-2)
        )
    else:
        remaining = F.col("updated_batch") + F.lit(ttl_batches) - F.lit(batch_id)
        ttl = (
            F.when(F.col("updated_batch").isNull(), F.lit(-2))
            .when(remaining < 0, F.lit(-2))  # elapsed ≡ gone (expire-at-read)
            .otherwise(remaining)
        )
    return joined.select("url_canon", ttl.cast("long").alias("ttl_batches"))


def expire_seen(seen: DataFrame, batch_id: int, ttl_batches: int | None) -> DataFrame:
    """Generation expiry: every write refreshed updated_batch (as every Redis
    write refreshed the TTL, ttl_hash_set.go:64-65,87); rows older than the
    TTL window drop out at batch start."""
    if ttl_batches is None:
        return seen
    return seen.where(F.col("updated_batch") >= F.lit(batch_id - ttl_batches))
