"""govuk_crawler_worker_spark — a PySpark-native URL-frontier + fetch scheduler.

A from-scratch, set-at-a-time reimplementation of the query/data-processing
capabilities of ``alphagov/govuk_crawler_worker`` (a message-at-a-time Go
worker built on RabbitMQ + Redis; reference read-only at ``/root/reference``).

Architecture (Spark-first, not a port):

* RabbitMQ queue            → partitioned snapshot-table **frontier** drained in
  micro-batches (priority claim = window/orderBy+limit with partition pruning).
* Redis TTL hash set        → **seen** state table + distributed Bloom filter
  pre-filter (cuckoo-filter fallback for the delete/reset path), exactness via
  anti-join; TTL = generation bucketing.
* goroutine pipeline        → one Catalyst plan per micro-batch (claim → fetch →
  route → extract → dedup → commit), all deltas in ONE atomic commit.
* goquery link extraction   → Arrow-vectorized pandas UDF returning
  array<string> + ``explode``.
* per-URL fetch goroutines  → salted (host, salt) politeness buckets: a JVM
  window schedule, fetched in offset order by one ``mapInPandas`` pass
  (hot-host skew handled explicitly).

Subpackages
-----------
functions/  scalar/vectorized column functions (urlnorm, content types, html)
operators/  seen-set (bloom/cuckoo), dedup family, similarity, text analysis
sources/    snapshot-table catalog (Iceberg-style atomic commits) + synthetic
            deterministic world generator (images, link graph, seeds)
plans/      frontier claim/commit, fetch routing, micro-batch drain pipeline
streaming/  Structured Streaming drain (rate-tick + foreachBatch)
"""

__version__ = "0.1.0"
