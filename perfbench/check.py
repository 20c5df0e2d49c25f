"""Output checks against the repository's own independent references.

* Drains are compared with ``plans.sim.simulate`` on the same world: per
  batch, the multiset of catalog ``fetched`` (batch_id, url_canon) rows and
  of ``dead`` (url_canon, reason, batch_id) rows; then the final ``seen``
  map as one more op.  ``BatchStats.fetched`` is a throughput count and is
  not checked: it also counts ``?page=N`` URLs, which are fetched but never
  mirrored into the ``fetched`` table.
* Queries are compared with their DuckDB ``oracle_sql()`` through
  ``tests/oracle_compare.compare`` and its normalization.

These functions take plain rows so the self-test can feed them perturbed
outputs without Spark.
"""

from __future__ import annotations

from collections import Counter, defaultdict


def drain_failures(batch_ids, fetched_rows, dead_rows, seen_rows, sim):
    """Return (ops, failed_ops) for one drain.

    ``batch_ids``: batch ids the engine ran; ``fetched_rows``: (batch_id,
    url_canon) pairs; ``dead_rows``: (url_canon, reason, batch_id) triples;
    ``seen_rows``: (url_canon, state) pairs; ``sim``: a ``SimResult``.
    """
    eng_f, eng_d = defaultdict(Counter), defaultdict(Counter)
    for b, u in fetched_rows:
        eng_f[int(b)][u] += 1
    for u, reason, b in dead_rows:
        eng_d[int(b)][(u, reason)] += 1
    ref_f, ref_d = defaultdict(Counter), defaultdict(Counter)
    for r in sim.fetched:
        ref_f[int(r["batch_id"])][r["url_canon"]] += 1
    for r in sim.dead:
        ref_d[int(r["batch_id"])][(r["url_canon"], r["reason"])] += 1

    batches = sorted(set(int(b) for b in batch_ids) | set(ref_f) | set(ref_d) | set(eng_f) | set(eng_d))
    ops = [f"batch {b}" for b in batches] + ["seen"]
    failed = [
        f"batch {b}"
        for b in batches
        if eng_f.get(b, Counter()) != ref_f.get(b, Counter())
        or eng_d.get(b, Counter()) != ref_d.get(b, Counter())
    ]
    if dict((u, int(s)) for u, s in seen_rows) != sim.seen:
        failed.append("seen")
    return ops, failed


class Collected:
    """The two members of a DataFrame that ``oracle_compare.compare`` reads,
    over rows the benchmark already collected (so the timed collect is not
    repeated for the check)."""

    def __init__(self, columns, rows):
        self.columns = list(columns)
        self._rows = rows

    def collect(self):
        return self._rows


def query_mismatches(oracle_compare, name, columns, rows, sql, sf_dir) -> list[str]:
    """Mismatches of one collected query result against its DuckDB oracle."""
    mismatches, _n = oracle_compare.compare(
        name, None, sf_dir, lambda _spark, _sf: Collected(columns, rows), sql
    )
    return mismatches
