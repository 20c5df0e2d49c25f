"""Structured Streaming front-end for the drain loop.

The reference worker is an unbounded AMQP consumer (workflow.go:21-55) — its
"stream" is the queue itself.  Our batch engine drives the same feedback loop
from a driver while-loop (plans/pipeline.py); this module wraps that loop in
Structured Streaming so deployments that standardize on streaming jobs get:

* a rate-source tick as the trigger (one drain batch per tick, at most),
* foreachBatch as the exactly-once boundary — the drain batch's atomic
  catalog commit IS the idempotence mechanism, so replayed ticks are no-ops
  (next_batch in the commit meta does not advance without new work),
* graceful shutdown via query.stop() with resume from the catalog.

Watermark/late-data semantics are N/A by construction (the frontier is the
state, not an event-time stream) — the reference has no event-time either;
its only time dimension is the TTL, which we carry as generation expiry.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from govuk_crawler_worker_spark.plans.pipeline import DrainLoop


class StreamingDrain:
    def __init__(self, loop: DrainLoop, ticks_per_second: float = 1.0):
        self.loop = loop
        self.ticks_per_second = ticks_per_second
        self.batches_run: list[int] = []
        self._query = None

    def _on_tick(self, _tick_df, _tick_id: int) -> None:
        """One drain step per trigger (DrainLoop.step: a batch if the
        frontier has work, maintenance, zero-claim policy).  Runs on the
        driver (foreachBatch) — the drain plan itself is fully distributed;
        the tick only sequences commits."""
        catalog = self.loop.catalog
        b = int(catalog.latest()["meta"].get("next_batch", 0))
        stats, nxt = self.loop.step(b)
        if stats is None:
            return
        if nxt is not None and nxt > b + 1:
            # everything backed off: fast-forward the checkpoint clock in
            # the catalog meta (run_batch's commit wrote next_batch = b + 1)
            catalog.commit(meta={**catalog.latest()["meta"], "next_batch": nxt})
        self.batches_run.append(stats.batch_id)

    def start(self, spark: SparkSession):
        ticks = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", str(max(1, int(self.ticks_per_second))))
            .load()
        )
        self._query = (
            ticks.writeStream.foreachBatch(self._on_tick)
            .option("checkpointLocation", self.loop.catalog.root + "/_stream_ckpt")
            .start()
        )
        return self._query

    def process_available(self, timeout_s: float = 120.0) -> None:
        """Test helper: let the stream drain everything currently claimable
        (polls the frontier size like ``_on_tick`` does)."""
        import time

        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            if self.loop.frontier_size() == 0:
                break
            time.sleep(0.5)

    def stop(self) -> None:
        if self._query is not None:
            self._query.stop()
            self._query = None
        # drain-exit parity: append any buffered metrics rows
        self.loop.flush_metrics()
