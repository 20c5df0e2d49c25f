"""Similarity search over embedding columns (array<float>).

* brute_force_topk — exact cosine top-k: the correctness baseline.  The
  (bounded) query set rides in the scorer's closure; one fanned-out corpus
  scan, batch-vectorized numpy scoring, margin-pruned partial top-k.
* lsh_topk        — multi-table sign-random-projection LSH: candidates =
  pairs sharing any table's bucket (exact-integer plane arithmetic, so an
  external oracle re-derives identical ids), scored in the same pass.
* ivf_topk        — the other classic scale path: a coarse quantizer
  (distributed k-means, Lloyd iterations expressed as DataFrame ops — the
  per-cluster mean is a posexplode + groupBy(cluster, pos) aggregate, so
  only the k×dim centroid matrix ever reaches the driver) partitions the
  corpus into inverted lists; queries probe the ``nprobe`` nearest lists
  and re-rank exactly.  Recall/latency knob = nprobe/nlist.

Determinism: similarity rounded to 4 dp; rank ties broken by neighbor id;
k-means init is seeded.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from govuk_crawler_worker_spark.operators import fan_out


# -- r8 shared scorer machinery ----------------------------------------------
#
# All three top-k paths used to score candidates with a per-pair JVM
# zip_with/aggregate fold (~6-9 µs per pair — the dominant cost once the
# corpus side was fanned out).  They now share ONE shape: collect the
# (bounded, already-broadcast-by-design) query set to the driver, and score
# whole corpus batches against the query matrix inside a mapInPandas scorer
# whose float64 accumulation runs in DIMENSION ORDER — reproducing the JVM
# fold's left-to-right addition bit-for-bit (the contract proven for the
# embedding pair stage: IEEE ops are deterministic, numpy ufuncs don't fuse
# multiply-add, np.sqrt is correctly rounded like Math.sqrt).  Each scorer
# emits only its batch's per-query top-k plus a 1.5e-4 margin — every pair
# whose ROUNDED cosine could still reach the global top-k (4-dp rounding
# moves a value by < 5e-5 + ulp, and two values that round equal differ by
# < 1e-4) — so the rank exchange moves O(partitions × queries × k) rows and
# the final round/row_number stay in Spark, exactly as before.

_MARGIN = 1.5e-4


def _dims_norm(mat: "np.ndarray") -> "np.ndarray":
    """sqrt of the left-to-right fold of v*v over dims — bit-equal to the
    JVM ``sqrt(aggregate(v, 0.0, (a, x) -> a + x*x))``."""
    nsq = np.zeros(len(mat))
    for i in range(mat.shape[1]):
        nsq += mat[:, i] * mat[:, i]
    return np.sqrt(nsq)


def _collect_queries(queries: DataFrame, id_col: str, vec_col: str):
    """Driver-side query matrix — the same bounded set every prior shape
    collected for its broadcast side.  A query with a null vector has no
    neighbours and is dropped (as the scorer drops null corpus rows)."""
    rows = queries.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("vid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    ).collect()
    qids = np.array([r["vid"] for r in rows])
    qmat = (
        np.array([r["v"] for r in rows], dtype=np.float64)
        if rows
        else np.zeros((0, 1))
    )
    return qids, qmat


def _dim_order_cosines(qmat, qnorm, mat, nrm):
    """(queries × batch) raw cosines with dim-order accumulation."""
    acc = np.zeros((len(qmat), len(mat)))
    for i in range(mat.shape[1]):
        acc += np.outer(qmat[:, i], mat[:, i])
    with np.errstate(divide="ignore", invalid="ignore"):
        return acc / np.outer(qnorm, nrm)


def _topk_margin_emit(n_q, cos, mask, k):
    """Per-(batch, query) margin top-k: indices/values of every masked pair
    within _MARGIN of the query's k-th best raw cosine in this batch."""
    out_q, out_n, out_c = [], [], []
    for qi in range(n_q):
        idx = np.flatnonzero(mask[qi])
        if len(idx) == 0:
            continue
        vals = cos[qi][idx]
        if len(idx) > k:
            kth = np.partition(vals, len(vals) - k)[len(vals) - k]
            keep = vals >= kth - _MARGIN
            idx, vals = idx[keep], vals[keep]
        out_q.append(np.full(len(idx), qi, dtype=np.int64))
        out_n.append(idx)
        out_c.append(vals)
    if not out_q:
        return None
    return np.concatenate(out_q), np.concatenate(out_n), np.concatenate(out_c)


def _scored_topk(emb, id_col, vec_col, k, make_mask, qids, qmat):
    """Corpus scan → mapInPandas scorer → Spark-side round + rank ≤ k.

    ``make_mask(bvids, mat) -> (queries × batch) bool`` selects the
    candidate pairs of each batch (self-matches are always excluded)."""
    qnorm = _dims_norm(qmat) if len(qids) else np.zeros(0)
    vid_t = dict(emb.dtypes)[id_col]
    # a null vector has no cosine: such rows are not candidates
    corpus = fan_out(emb.where(F.col(vec_col).isNotNull())).select(
        F.col(id_col).alias("vid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0 or len(qids) == 0:
                continue
            all_vids = pdf["vid"].to_numpy()
            all_mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            # slice the batch so the (queries × rows) cosine matrix stays a
            # few MB regardless of |Q| or batch size (guide §5: bound
            # per-task state) — per-pair values and the margin-top-k
            # guarantee are slice-independent, so results are unchanged
            step = max(1, 4_000_000 // max(len(qids), 1))
            for c0 in range(0, len(all_mat), step):
                bvids = all_vids[c0 : c0 + step]
                mat = all_mat[c0 : c0 + step]
                mask = make_mask(bvids, mat)
                mask &= qids[:, None] != bvids[None, :]
                if not mask.any():
                    continue
                cos = _dim_order_cosines(qmat, qnorm, mat, _dims_norm(mat))
                got = _topk_margin_emit(len(qids), cos, mask, k)
                if got is None:
                    continue
                q, n, c = got
                yield pd.DataFrame({"qid": qids[q], "neighbor": bvids[n], "c": c})

    scored = corpus.mapInPandas(score, f"qid {vid_t}, neighbor {vid_t}, c double")
    scored = scored.select("qid", "neighbor", F.round("c", 4).alias("cosine"))
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("neighbor").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "rank", "neighbor", "cosine")
    )


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of each query against the corpus (self excluded).

    r8 shape: one fanned-out corpus scan through the shared mapInPandas
    scorer (see above) — the query set is the closure, so the corpus is
    never joined, shuffled, or replicated; the only exchange after the scan
    carries the margin-pruned per-partition top-k rows into the final
    row_number.  Values are bit-identical to the former broadcast
    nested-loop + JVM-fold plan (verified row-exact at sf0.1 and sf1.0)."""
    qids, qmat = _collect_queries(queries, id_col, vec_col)

    def all_pairs(bvids, mat):
        return np.ones((len(qids), len(bvids)), dtype=bool)

    return _scored_topk(emb, id_col, vec_col, k, all_pairs, qids, qmat)


#: fixed-point scale for the sign decision: vectors are floor-scaled by 2^20
#: and planes are integers in [-2^20, 2^20), so every dot product is EXACT
#: int64 arithmetic provided |q_i| < 2^43/dim (i.e. |v_i| < 2^(23-log2 dim)
#: ≈ 1.3e5 per component at dim 64 — r5 ADVICE corrected the earlier 2^22
#: claim); ``_quantize`` enforces the bound so an overflow fails loudly
#: instead of numpy wrapping and silently flipping LSH signs.  The bucket
#: ids are reproducible bit-for-bit by any engine, which is what lets
#: DuckDB recompute them as a full value oracle (``ann_lsh_topk``).
_QSCALE = 1 << 20


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (Steele/Lea/Flood, public domain
    reference constants) over uint64 — same mixer family as the minhash
    permutations (``operators/dedup.py``)."""
    z = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
    z ^= z >> np.uint64(30)
    z *= np.uint64(0xBF58476D1CE4E5B9)
    z ^= z >> np.uint64(27)
    z *= np.uint64(0x94D049BB133111EB)
    z ^= z >> np.uint64(31)
    return z


def _planes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    """Integer-valued random hyperplanes from a splitmix64 counter stream.

    Sign-LSH needs only directions symmetric about the origin; uniform
    integer weights in [-2^20, 2^20) serve that in 64-dim while making the
    sign computation exact integer arithmetic — no float summation-order
    ambiguity between numpy's matmul and a SQL ``sum()``, so an external
    oracle (DuckDB) re-derives identical bucket ids from the same public
    mixer."""
    with np.errstate(over="ignore"):
        h = _splitmix64(
            np.uint64(seed) * np.uint64(1 << 32)
            + np.arange(n_planes * dim, dtype=np.uint64)
        )
    w = (h % np.uint64(2 * _QSCALE)).astype(np.int64) - _QSCALE
    return w.reshape(n_planes, dim)


def _quantize(m: np.ndarray) -> np.ndarray:
    """floor(v·2^20) as int64 — exact for double input (2^20 scaling is a
    power of two, floor is exact), identically computable in SQL.

    Input contract (enforced): |floor(v_i·2^20)| < 2^43/dim, so the plane
    dot product Σ_dim q_i·w_i with |w_i| ≤ 2^20 stays inside int64.  Beyond
    it numpy's matmul would WRAP silently — flipping LSH signs and
    desynchronizing the DuckDB oracle — hence the loud ValueError (r5
    ADVICE: the wrap begins at |v_i| ≈ 1.3e5 for dim 64, not ~4e6)."""
    q = np.floor(m * float(_QSCALE)).astype(np.int64)
    dim = m.shape[-1] if m.ndim else 1
    limit = (1 << 43) // max(int(dim), 1)
    worst = int(np.abs(q).max(initial=0))
    if worst >= limit:
        raise ValueError(
            f"embedding component too large for exact sign-LSH arithmetic: "
            f"|floor(v*2^20)| = {worst} >= 2^43/dim = {limit} (dim {dim}); "
            "normalize or scale the vectors"
        )
    return q


def lsh_buckets_udf(dim: int | None, n_planes: int, n_tables: int, seed: int = 42):
    """One bucket id PER TABLE (independent hyperplane sets) — the classic
    multi-table LSH construction: recall = 1-(1-p^b)^L instead of p^b.
    Vectorized: one (batch, L·b) matmul per Arrow batch.  ``dim=None``
    derives the dimension from each Arrow batch's vectors (the seeded
    generator makes the planes identical across batches/executors for a
    given dimension)."""
    planes = None if dim is None else _planes(dim, n_planes * n_tables, seed)
    weights = 1 << np.arange(n_planes)

    @F.pandas_udf("array<long>")
    def buckets(vecs: pd.Series) -> pd.Series:
        m = _quantize(np.stack(vecs.to_numpy()))  # (batch, dim) int64
        p = planes if planes is not None else _planes(
            m.shape[1], n_planes * n_tables, seed
        )
        signs = (m @ p.T) > 0  # (batch, L·b)
        per_table = signs.reshape(len(m), -1, n_planes)  # (batch, L, b)
        ids = per_table.dot(weights).astype(np.int64)  # (batch, L)
        return pd.Series(list(ids))

    return buckets


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via multi-table sign-LSH + exact re-rank.

    L independent tables of b hyperplanes each; a candidate is any corpus
    vector sharing ANY table's bucket with the query, exact-cosine re-ranked.
    Per-neighbor recall = 1-(1-(1-θ/π)^b)^L — tune (b, L) to the similarity
    regime: near-dup retrieval (cos ≥ 0.9) takes b=16, L=8 at corpus scale;
    the defaults here target the weak-neighbor regime (cos ≈ 0.3-0.45) of
    the synthetic test embeddings.

    r8 shape: the shared mapInPandas scorer computes each corpus batch's
    bucket ids with the SAME exact-integer plane arithmetic the bucket UDF
    used (seeded generator → identical ids) and masks to pairs sharing ANY
    table's bucket, so the candidate set is unchanged while the bucket
    explode, the (table, bucket) join and the per-pair dedup aggregate all
    disappear — each (query, vector) pair is evaluated at most once per
    batch by construction.  Row-exact equal to the former plan at sf0.1 and
    sf1.0."""
    qids, qmat = _collect_queries(queries, id_col, vec_col)
    weights = 1 << np.arange(n_planes)

    def buckets_of(mat):
        p = _planes(mat.shape[1], n_planes * n_tables, 42)
        signs = (_quantize(mat) @ p.T) > 0
        return signs.reshape(len(mat), n_tables, n_planes).dot(weights).astype(np.int64)

    qb = (
        buckets_of(qmat)
        if len(qids)
        else np.zeros((0, n_tables), dtype=np.int64)
    )

    def shares_bucket(bvids, mat):
        cb = buckets_of(mat)
        return (qb[:, None, :] == cb[None, :, :]).any(axis=2)

    return _scored_topk(emb, id_col, vec_col, k, shares_bucket, qids, qmat)


# -- IVF (inverted-file) ANN --------------------------------------------------


def _assign_udf(centroids: np.ndarray):
    """cluster id = argmax cosine against the (broadcast-by-closure, k×dim)
    centroid matrix — one matmul per Arrow batch."""
    norm = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
    )

    @F.pandas_udf("int")
    def assign(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        return pd.Series((m @ norm.T).argmax(axis=1).astype(np.int32))

    return assign


def _best_cosine_udf(centroids: np.ndarray):
    """Per-vector max cosine against ANY centroid — the fit quality of the
    point's best assignment; the empty-cluster reseed picks the points this
    is smallest for (the worst-served directions)."""
    norm = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
    )

    @F.pandas_udf("double")
    def best(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        return pd.Series((m @ norm.T).max(axis=1))

    return best


def kmeans_fit(
    emb: DataFrame,
    k: int = 16,
    iters: int = 3,
    dim: int = 64,
    seed: int = 42,
    vec_col: str = "embedding",
) -> np.ndarray:
    """Distributed Lloyd k-means over an embedding column.

    Assignment = vectorized matmul UDF; update = per-cluster per-dimension
    mean via ``posexplode + groupBy(cluster, pos).avg`` — a plain shuffled
    aggregate, so the only driver-side data is the k×dim centroid matrix
    (collect of k·dim rows).  An EMPTY cluster is reseeded to the
    worst-served point (globally smallest max-cosine to any centroid,
    deterministic tie-break on the vector itself) — keep-previous left dead
    centroids dead forever and cost IVF recall on clustered data (r5
    VERDICT stretch #8); the reseed job runs only on iterations that
    actually have empties and collects ≤ k rows.  Seeded random-normal
    init → deterministic."""
    v = emb.select(F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"))
    centroids = np.random.default_rng(seed).standard_normal((k, dim))
    for _ in range(iters):
        assign = _assign_udf(centroids)
        means = (
            v.withColumn("c", assign("v"))
            .select("c", F.posexplode("v").alias("pos", "val"))
            .groupBy("c", "pos")
            .agg(F.avg("val").alias("m"))
            .collect()
        )
        nxt = centroids.copy()
        filled: set[int] = set()
        for r in means:
            nxt[r["c"], r["pos"]] = r["m"]
            filled.add(int(r["c"]))
        empty = sorted(set(range(k)) - filled)
        if empty:
            far = (
                v.select("v", _best_cosine_udf(centroids)("v").alias("bc"))
                .orderBy(F.col("bc").asc(), F.col("v").asc())
                .limit(len(empty))
                .collect()
            )
            for c, r in zip(empty, far):
                nxt[c] = np.asarray(r["v"], dtype=float)
        centroids = nxt
    return centroids


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF ANN: corpus sharded into ``nlist`` inverted lists by the coarse
    quantizer; each query probes its ``nprobe`` nearest lists and re-ranks
    exactly.

    r8 shape: the shared mapInPandas scorer assigns each corpus batch to
    its inverted list with the SAME numpy ops the assignment UDF used
    (normalize → argmax over the closure-broadcast centroid matrix) and
    masks to pairs whose list is among the query's ``nprobe`` probes — the
    identical candidate set, with the probe explode and the list_id join
    gone.  The seeded quantizer itself (``kmeans_fit``) is untouched: its
    aggregation order pins the last-ulp centroid values run-to-run.
    Row-exact equal to the former plan at sf0.1 and sf1.0 across the
    seeded, covering, and fixed-quantizer configurations."""
    if centroids is None:
        centroids = kmeans_fit(emb, k=nlist, iters=iters, dim=dim, vec_col=vec_col)
    cnorm = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
    )
    qids, qmat = _collect_queries(queries, id_col, vec_col)
    if len(qids):
        qn = qmat / np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-12)
        order = np.argsort(-(qn @ cnorm.T), axis=1)[:, :nprobe]
        probe_mask = np.zeros((len(qids), len(centroids)), dtype=bool)
        probe_mask[np.arange(len(qids))[:, None], order] = True
    else:
        probe_mask = np.zeros((0, len(centroids)), dtype=bool)

    def probed(bvids, mat):
        mn = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        return probe_mask[:, (mn @ cnorm.T).argmax(axis=1)]

    return _scored_topk(emb, id_col, vec_col, k, probed, qids, qmat)
