"""Exact brute-force k-NN, pairwise distances, and recall evaluation.

Reference behavior:
- J1 exact k-NN: ``get_exact`` double loop over queries × centroids
  keeping the argmin L2 (``src/algorithms/sharding/clustering/
  recall.py:34-46`` — the author notes it "should be vectorized").
- W1 top-k per query, k=10, ordered by distance
  (``src/util/utils.py:307-312``).
- J4 pairwise distances: ``pdist(sample)`` condensed all-pairs
  (``shard_by_distance.py:68``).
- A1 median pairwise distance → KANNDI threshold ``d``
  (``shard_by_distance.py:39-78``).
- J6/A12 recall: positional compare of predicted vs exact neighbors
  (``recall.py:73-83``).

Spark-first design
------------------
``exact_knn`` is one ``mapInArrow`` partial top-k: each scan task
scores its Arrow batches against the broadcast query matrix and folds
them into its own top-k (at most Q×k rows per task), and the driver
merges the tasks' partials with one ``lexsort`` (``merge_partials``,
the merge the IVF pools share). The driver reads O(tasks × Q × k) rows
instead of O(N × Q) — this is the 100 TB path, and it fixes the
reference's O(Q×S) pure-Python loop.

Every emitted distance is the left-to-right float64 fold
``Σ (q_i − b_i)²`` (then ``sqrt``) — the arithmetic of
``functions.vector.l2_distance`` and DuckDB's ``list_sum`` — so results
are bit-equal to the SQL oracles, ties broken by neighbor id. A BLAS
GEMM only nominates candidates (``fold_l2_topk``): filter-then-verify
with a band wide enough, by an a-priori floating-point error bound, to
hold every row the fold can rank into the top k.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, LongType, StructField, StructType

from big_ann_spark.functions.vector import cosine_similarity, l2_distance, sq_l2_distance

# what a partial top-k scan emits per (query, neighbor), and a merged
# top-k: types, not DDL strings, which the JVM would parse on every call
_POOL_SCHEMA = StructType(
    [
        StructField("qid", LongType()),
        StructField("neighbor_id", LongType()),
        StructField("dist", DoubleType()),
    ]
)
_RANKED_POOL_SCHEMA = StructType(_POOL_SCHEMA.fields + [StructField("rank", IntegerType())])


def _dist_expr(metric: str, a: str | Column, b: str | Column, dim: int | None = None) -> Column:
    if metric == "l2":
        return l2_distance(a, b, dim)
    if metric == "sq_l2":
        return sq_l2_distance(a, b, dim)
    if metric == "cosine":
        # distance = 1 - similarity so that orderBy asc == most similar first
        return 1.0 - cosine_similarity(a, b, dim)
    raise ValueError(f"unknown metric {metric!r}")


def fold_l2(Q: np.ndarray, X: np.ndarray) -> np.ndarray:
    """L2 distance of each row pair ``(Q[i], X[i])`` (leading axes
    broadcast) as the left-to-right fold ``acc += (q_j − x_j)²`` over
    the last axis: every accumulator sees the addition sequence of the
    scalar ``F.aggregate`` fold and DuckDB's ``list_sum`` (numpy's
    pairwise ``.sum()`` would not)."""
    acc = np.zeros(np.broadcast_shapes(Q.shape[:-1], X.shape[:-1]))
    for j in range(Q.shape[-1]):
        dv = Q[..., j] - X[..., j]
        acc += dv * dv
    return np.sqrt(acc)


def band_select(est, ids, kk, slack, exact):
    """Filter-then-verify top-``kk`` per row of ``est`` (queries ×
    candidates), an estimate of the true distance that
    ``exact(qidx, cidx)`` computes.

    ``slack(kth)`` maps each query's kk-th smallest estimate to its band
    width: twice a bound on |estimate − exact|. Keeps the candidates
    with ``est ≤ kth + slack``, scores only those with ``exact`` and
    returns ``(qidx, ids, dist)``: the first ``kk`` per query by
    (dist, id), sorted by (qidx, dist, id). Every row the exact
    distance ranks into the top ``kk`` lies inside the band: ``kk`` rows
    have an exact distance of at most kth + slack/2, and a row's
    estimate exceeds its exact distance by at most slack/2."""
    kk = min(kk, est.shape[1])
    kth = est.min(axis=1) if kk == 1 else np.partition(est, kk - 1, axis=1)[:, kk - 1]
    qi, ci = np.nonzero(est <= (kth + slack(kth))[:, None])
    dist = exact(qi, ci)
    order = np.lexsort((ids[ci], dist, qi))
    qi, ci, dist = qi[order], ci[order], dist[order]
    keep = np.arange(len(qi)) - np.searchsorted(qi, qi) < kk
    return qi[keep], ids[ci[keep]], dist[keep]


def fold_l2_topk(Q: np.ndarray, X: np.ndarray, ids: np.ndarray, kk: int):
    """Exact top-``kk`` rows of ``X`` per query row of ``Q`` by
    (``fold_l2`` distance, id): ``band_select`` over the GEMM distances
    ``√(|q|² + |x|² − 2 q·x)``. The band is 2δ wide, δ an a-priori
    bound on |GEMM − fold|: both squared-distance accumulations carry
    at most ``4·d·eps·(‖q‖+‖x‖)²`` of error, ``|√a − √b| ≤ √|a−b|``, and
    ``8·eps·kth`` covers the rounding of the square roots."""
    qsq = (Q * Q).sum(axis=1)
    xsq = (X * X).sum(axis=1)
    d2 = qsq[:, None] + xsq[None, :] - 2.0 * (Q @ X.T)
    np.maximum(d2, 0.0, out=d2)
    eps = np.finfo(np.float64).eps
    sum_bound = np.sqrt(4.0 * X.shape[1] * eps) * (np.sqrt(qsq) + np.sqrt(xsq.max()))
    return band_select(
        np.sqrt(d2), ids, kk,
        lambda kth: 2.0 * (sum_bound + 8.0 * eps * kth),
        lambda qi, ci: fold_l2(Q[qi], X[ci]),
    )


# rows of X that one ``nearest_centroids`` block scores at once
_CENTROID_BLOCK = 1024


def nearest_centroids(
    X: np.ndarray, cids: np.ndarray, cmat: np.ndarray, n: int
) -> tuple[np.ndarray, np.ndarray]:
    """Row indices into ``cids`` of the first ``n`` centroids of each
    row of ``X`` by (distance, shard id), and those distances:
    ``fold_l2_topk`` over blocks of ``_CENTROID_BLOCK`` rows. The
    distance is the ``l2_distance`` fold bit for bit, and the order is
    that of ``array_min``/``array_sort`` over ``struct(dist, shard_id)``
    in a Spark expression (ties go to the lower shard id). Every
    centroid pick in the package goes
    through here: the build's ``assign_to_centroids``, upserts, search
    routing and the graph build's cell probes, so a vector lands in the
    shard a search for it probes first.

    A row of ``X`` or ``cmat`` that is not finite raises ``ValueError``:
    it has no nearest centroid, and a NaN row would otherwise be dropped
    or land anywhere."""
    k = min(max(n, 0), len(cids))
    if not len(X) or not k:
        return np.empty((len(X), k), np.int64), np.empty((len(X), k))
    for what, M in (("vector", X), ("centroid", cmat)):
        bad = np.flatnonzero(~np.isfinite(M).all(axis=1))
        if len(bad):
            raise ValueError(
                f"{what} row {bad[0]} is not finite (NaN or Inf): it has no nearest centroid"
            )
    # positions in shard-id order: band_select breaks ties on them
    perm = np.argsort(cids, kind="stable")
    C, pos = cmat[perm], np.arange(len(cids))
    top, dist = [], []
    for s in range(0, len(X), _CENTROID_BLOCK):
        blk = X[s : s + _CENTROID_BLOCK]
        _, p, d = fold_l2_topk(blk, C, pos, k)
        if len(p) != len(blk) * k:
            raise ValueError("a vector's distance to the centroids overflows to a non-finite value")
        top.append(perm[p].reshape(-1, k))
        dist.append(d.reshape(-1, k))
    return np.concatenate(top), np.concatenate(dist)


def _first_k(q, n, d, k):
    """The first ``k`` rows of each query id ``q`` by (dist ``d``, id
    ``n``), the order of a ``row_number`` window over (dist, id):
    (q, n, d, 1-based rank), sorted by (q, d, n)."""
    order = np.lexsort((n, d, q))
    q, n, d = q[order], n[order], d[order]
    rank = np.arange(len(q)) - np.searchsorted(q, q)
    keep = rank < k
    return q[keep], n[keep], d[keep], rank[keep] + 1


def _collect_partials(scan: DataFrame, n_queries: int, k: int):
    """The per-task partials of a top-k scan over ``n_queries``
    queries, as an Arrow table read in one job. A task emits at most
    ``k`` rows per query, so a batch of at most ``ann.DRIVER_ROWS``
    queries bounds the collect at ``DRIVER_ROWS · k`` rows per task; a
    larger batch fails loudly before the scan runs, and nothing is ever
    truncated."""
    from big_ann_spark.operators import ann

    if n_queries > ann.DRIVER_ROWS:
        raise ValueError(
            f"the candidate scan's query batch has more than {ann.DRIVER_ROWS:,} "
            f"rows, and their top-{k} of every scan task is collected to "
            "the driver: split the batch into smaller calls"
        )
    return scan.toArrow()


def merge_partials(scan: DataFrame, n_queries: int, k: int) -> DataFrame:
    """The one top-k merge of the exact and IVF scans: the partials
    (``_POOL_SCHEMA``) each task of ``scan`` emits are collected
    (``_collect_partials``) and merged with one ``lexsort`` into the
    first ``k`` rows of each query by (dist, id) (``_first_k``).
    Returns (qid, neighbor_id, dist, rank) as a local, Arrow-built
    frame: its ``collect()`` starts no Spark job."""
    import pyarrow as pa

    from big_ann_spark.functions.arrowio import int_col

    t = _collect_partials(scan, n_queries, k)
    q, n, d, rank = _first_k(
        int_col(t, "qid"),
        int_col(t, "neighbor_id"),
        t.column("dist").to_numpy().astype(np.float64, copy=False),
        k,
    )
    merged = pa.table({"qid": q, "neighbor_id": n, "dist": d, "rank": rank.astype(np.int32)})
    return scan.sparkSession.createDataFrame(merged, schema=_RANKED_POOL_SCHEMA)


def exact_knn(
    queries: DataFrame,
    base: DataFrame,
    k: int = 10,
    *,
    query_id: str = "qid",
    query_vec: str = "qvec",
    base_id: str = "id",
    base_vec: str = "vec",
) -> DataFrame:
    """Exact L2 k-NN of every query against the base table.

    Returns ``(qid, neighbor_id, dist, rank)`` with rank 1..k ordered by
    (distance, neighbor_id); ``dist`` is the left-to-right fold (module
    docstring). The queries are the small side by contract: they are
    collected once (``ann.collect_to_driver``: a batch of more than
    ``ann.DRIVER_ROWS`` rows fails loudly before the base is scanned)
    and shipped as one ``sc.broadcast`` variable — torrent-distributed
    once per executor, not re-pickled into every task closure. The base
    streams through at most ``defaultParallelism`` tasks exactly once;
    each task folds its Arrow batches' exact top-k (``fold_l2_topk``)
    into its own running top-k, so the driver reads at most
    ``defaultParallelism`` × Q × k partial rows and ``merge_partials``
    is exact. Both jobs run at call time: the result is a local frame."""
    from big_ann_spark.functions.arrowio import int_col, list_col_matrix
    from big_ann_spark.operators.ann import collect_to_driver

    q = collect_to_driver(
        queries.select(F.col(query_id).alias("qid"), F.col(query_vec).alias("qvec")),
        "query batch of an exact k-NN",
    )
    qids, qmat = int_col(q, "qid"), list_col_matrix(q, "qvec")
    sc = queries.sparkSession.sparkContext
    bc = broadcast_matrix(sc, qids, qmat)

    def part_topk(batches):
        import pyarrow as pa

        from big_ann_spark.functions.arrowio import int_col, list_col_matrix

        qids, qmat = bc.value
        top = None  # this task's (qid, id, dist) top-k per query so far
        for rb in batches:
            if rb.num_rows == 0 or len(qids) == 0:
                continue
            qi, nbr, dist = fold_l2_topk(qmat, list_col_matrix(rb, base_vec), int_col(rb, base_id), k)
            cand = (qids[qi], nbr, dist)
            if top is not None:
                cand = [np.concatenate(c) for c in zip(top, cand)]
            top = _first_k(*cand, k)[:3]
        if top is not None:
            yield pa.RecordBatch.from_arrays(
                [pa.array(c) for c in top], names=["qid", "neighbor_id", "dist"]
            )

    scan = (
        base.select(base_id, base_vec)
        .coalesce(sc.defaultParallelism)
        .mapInArrow(part_topk, schema=_POOL_SCHEMA)
    )
    return merge_partials(scan, len(qids), k)


# the broadcast_matrix LRU: at most this many (ids, matrix) pairs, and
# at most this many bytes of them summed (the newest pair always stays)
BROADCAST_CACHE_ENTRIES = 4
BROADCAST_CACHE_BYTES = 64 << 20


def broadcast_matrix(sc, ids, mat):
    """Session-cached ``sc.broadcast`` of an (ids, matrix) pair — a
    query batch, or a centroid table: repeated calls with the same
    pair (bench loops, recall A/Bs, long-lived sessions) reuse one
    broadcast instead of accumulating blocks on executors. A small LRU,
    bounded by ``BROADCAST_CACHE_ENTRIES`` pairs and by
    ``BROADCAST_CACHE_BYTES`` of their summed sizes, evicts with
    ``unpersist()`` — safe even if a stale plan re-reads an evicted
    broadcast, Spark re-ships it on demand."""
    import hashlib

    h = hashlib.sha1()
    h.update(str(mat.shape).encode())
    h.update(ids.tobytes())
    h.update(mat.tobytes())
    key = h.digest()
    cache = getattr(sc, "_big_ann_matrix_bc", None)
    if cache is None:
        cache = {}
        sc._big_ann_matrix_bc = cache
    bc, nbytes = cache.pop(key, (None, ids.nbytes + mat.nbytes))
    if bc is None:
        bc = sc.broadcast((ids, mat))
    cache[key] = bc, nbytes  # re-insert refreshes LRU position
    while len(cache) > 1 and (
        len(cache) > BROADCAST_CACHE_ENTRIES
        or sum(n for _, n in cache.values()) > BROADCAST_CACHE_BYTES
    ):
        cache.pop(next(iter(cache)))[0].unpersist()
    return bc


def distance_threshold_join(
    left: DataFrame,
    right: DataFrame,
    threshold: float,
    *,
    metric: str = "l2",
    left_id: str = "lid",
    left_vec: str = "lvec",
    right_id: str = "rid",
    right_vec: str = "rvec",
    dim: int | None = None,
) -> DataFrame:
    """All (left, right) pairs with distance <= threshold — the KANNDI
    admission predicate P4 (``shard_by_distance.py:228-241``) as a
    theta-join. Small side should be broadcast by the caller ordering
    (right is broadcast here)."""
    l = left.select(F.col(left_id).alias("lid"), F.col(left_vec).alias("_lvec"))
    r = right.select(F.col(right_id).alias("rid"), F.col(right_vec).alias("_rvec"))
    return (
        l.crossJoin(F.broadcast(r))
        .select("lid", "rid", _dist_expr(metric, "_lvec", "_rvec", dim).alias("dist"))
        .filter(F.col("dist") <= threshold)
    )


def build_tag_postings(
    base: DataFrame,
    *,
    base_id: str = "id",
    tags_col: str = "tags",
) -> DataFrame:
    """The inverted tag index ``(neighbor_id, _tag)`` that
    ``filtered_knn``'s tag mode probes — exposed so repeated query
    batches against one base stop paying a full base scan per call
    (at 100 TB the tag index is a precomputable artifact like the IVF
    shard layout). Persist it (parquet, ideally
    partitioned by a tag hash bucket) and pass it back via
    ``filtered_knn(postings=...)``; rebuild on base changes — index
    freshness is the caller's contract, exactly as for the IVF layout.

    ``distinct``: a repeated tag value inside one doc's array must not
    produce duplicate postings (they would survive the candidate join
    as duplicate (qid, neighbor) rows and occupy two ranks)."""
    return (
        base.select(
            F.col(base_id).alias("neighbor_id"), F.explode(tags_col).alias("_tag")
        ).distinct()
    )


def filtered_knn(
    queries: DataFrame,
    base: DataFrame,
    k: int = 10,
    *,
    metric: str = "l2",
    query_id: str = "qid",
    query_vec: str = "qvec",
    base_id: str = "id",
    base_vec: str = "vec",
    label_col: str | None = None,
    query_label: str | None = None,
    tags_col: str | None = None,
    query_tags: str | None = None,
    dim: int | None = None,
    exclude_self: bool = False,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Attribute-constrained exact k-NN — the public big-ann-benchmarks
    "filtered" track shape (each query carries a predicate the neighbor
    must satisfy; the reference repo targets the unfiltered tracks only,
    so this is an extension of the same benchmark family).

    Two constraint modes, both EXACT (the filter is applied before
    ranking, so the result equals post-filtering a full kNN):

    - ``label_col`` + ``query_label``: the neighbor's scalar label must
      equal the query's. Expressed as crossJoin(broadcast(q)) + an
      equality filter, which Catalyst rewrites into a **BroadcastHashJoin
      keyed on the label** — the base side streams once and only
      same-label pairs are ever scored. At 100 TB with a
      label-partitioned base table this prunes scan partitions too.
    - ``tags_col`` + ``query_tags``: set containment (neighbor's tag
      array ⊇ query's tag array). Candidate generation goes through an
      inverted index on the query batch's RAREST tag: any qualifying
      neighbor contains every query tag, hence the rarest one, so
      joining base postings on that single tag yields a complete
      candidate set (exactness preserved); full containment + distance
      are then verified on candidates only. Posting-list length of the
      rarest tag bounds the scored volume — the standard
      selective-predicate strategy, vs. scoring the whole base.

    Returns ``(qid, neighbor_id, dist, rank)``, rank 1..k by
    (dist, neighbor_id), as a lazy frame ranked by a ``row_number``
    window: the query batch is never collected here."""
    from big_ann_spark.operators.topk import top_k_per_group

    q_cols = [F.col(query_id).alias("qid"), F.col(query_vec).alias("_qvec")]
    b_cols = [F.col(base_id).alias("neighbor_id"), F.col(base_vec).alias("_bvec")]
    order = [F.col("dist").asc(), F.col("neighbor_id").asc()]
    if label_col is not None:
        q = queries.select(*q_cols, F.col(query_label or label_col).alias("_qlab"))
        b = base.select(*b_cols, F.col(label_col).alias("_blab"))
        joined = b.crossJoin(F.broadcast(q)).filter(F.col("_blab") == F.col("_qlab"))
    elif tags_col is not None:
        q = queries.select(*q_cols, F.col(query_tags or tags_col).alias("_qtags"))
        # an empty/null tag set means "no constraint" (⊇ ∅ holds for
        # every neighbor) — but such a query has no rarest tag to probe,
        # so the posting-list plan would silently drop it. The query
        # batch is the contractual small side (exact_knn collects it
        # outright), so an eager emptiness probe is cheap;
        # routing those queries through the unconstrained dense plan
        # would double-scan the base for everyone else, so reject loudly
        # instead and point at exact_knn.
        n_empty = (
            q.filter(F.size(F.coalesce("_qtags", F.array())) == 0).limit(1).count()
        )
        if n_empty:
            raise ValueError(
                "filtered_knn(tags_col=...): query with an empty tag set "
                "is unconstrained — use exact_knn for those queries"
            )
        b = base.select(*b_cols, F.col(tags_col).alias("_btags"))
        # df per tag over the base; each query probes the postings of
        # its least-frequent tag (ties: smallest tag id). The inverted
        # index is rebuilt here only when the caller did not pass a
        # prebuilt one (build_tag_postings) — repeated query batches
        # should precompute it once per base epoch.
        if postings is None:
            postings = build_tag_postings(b, base_id="neighbor_id", tags_col="_btags")
        else:
            postings = postings.select("neighbor_id", "_tag")
        # df only for the tags the query batch actually carries: the
        # full-vocabulary groupBy aggregated the
        # ENTIRE posting index to rank each query's 1-2 tags — pruning
        # the aggregate with a broadcast semi-join on the batch's
        # distinct tags makes its input the probed posting lists only,
        # and the resulting df table is ≤ |batch tags| rows, so the
        # rarest-tag selection becomes a broadcast join instead of a
        # SortMergeJoin (the query batch is the contractual small side
        # throughout this operator). Tags missing from the index still
        # resolve to df 0 via the left join, exactly as before.
        q_tags = q.select("qid", F.explode("_qtags").alias("_tag"))
        tag_df = (
            postings.join(F.broadcast(q_tags.select("_tag").distinct()), "_tag")
            .groupBy("_tag")
            .agg(F.count("*").alias("_df"))
        )
        q_rare = (
            q_tags.join(F.broadcast(tag_df), "_tag", "left")
            .groupBy("qid")
            .agg(
                F.min(
                    F.struct(F.coalesce("_df", F.lit(0)).alias("_df"), "_tag")
                )["_tag"].alias("_tag")
            )
        )
        cand = postings.join(
            F.broadcast(q_rare), "_tag"
        ).select("qid", "neighbor_id")
        joined = (
            cand.join(b, "neighbor_id")
            .join(F.broadcast(q), "qid")
            .filter(
                F.size(F.array_except(F.col("_qtags"), F.col("_btags"))) == 0
            )
        )
    else:
        raise ValueError("provide label_col or tags_col")
    if exclude_self:
        joined = joined.filter(F.col("neighbor_id") != F.col("qid"))
    scored = joined.select(
        "qid", "neighbor_id", _dist_expr(metric, "_qvec", "_bvec", dim).alias("dist")
    )
    return top_k_per_group(scored, ["qid"], order, k)


def pairwise_distances(
    df: DataFrame,
    *,
    id_col: str = "id",
    vec_col: str = "vec",
    metric: str = "l2",
    dim: int | None = None,
) -> DataFrame:
    """Condensed all-pairs distances (i < j) — reference J4
    ``pdist(points)`` (``shard_by_distance.py:68``). O(n²/2) rows; use
    on samples, like the reference does (SAMPLE_SIZE=10000)."""
    a = df.select(F.col(id_col).alias("a_id"), F.col(vec_col).alias("_avec"))
    b = df.select(F.col(id_col).alias("b_id"), F.col(vec_col).alias("_bvec"))
    return (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", _dist_expr(metric, "_avec", "_bvec", dim).alias("dist"))
    )


def median_pairwise_distance(
    df: DataFrame,
    *,
    id_col: str = "id",
    vec_col: str = "vec",
    dim: int | None = None,
) -> DataFrame:
    """KANNDI threshold ``d`` = median of sample pairwise L2 distances —
    reference A1 ``compute_median_dist`` (``shard_by_distance.py:39-78``:
    ``median(pdist(sample))``). Exact interpolated percentile to match
    ``np.median``."""
    return pairwise_distances(df, id_col=id_col, vec_col=vec_col, dim=dim).agg(
        F.percentile(F.col("dist"), F.lit(0.5)).alias("median_dist")
    )


def recall_at_k(predicted: DataFrame, exact: DataFrame, k: int) -> DataFrame:
    """Set-overlap recall@k: |pred ∩ exact| / k averaged over queries.

    Both inputs are (qid, neighbor_id, rank<=k) tables. Generalizes the
    reference's positional routing recall (``recall.py:73-83``) to k>1.
    """
    hits = predicted.alias("p").join(
        exact.alias("e"),
        (F.col("p.qid") == F.col("e.qid"))
        & (F.col("p.neighbor_id") == F.col("e.neighbor_id")),
        "inner",
    ).groupBy(F.col("p.qid").alias("qid")).agg(F.count("*").alias("n_hits"))
    universe = exact.select("qid").distinct()
    return (
        universe.join(hits, "qid", "left")
        .select("qid", (F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(k)).alias("recall"))
        .agg(F.avg("recall").alias("recall_at_k"))
    )


def routing_recall(predicted: DataFrame, exact: DataFrame) -> DataFrame:
    """Positional k=1 recall, the reference's exact metric
    (``recall.py:73-83``): fraction of queries whose predicted nearest
    id equals the exact nearest id. Inputs: (qid, neighbor_id) with one
    row per query."""
    return (
        exact.alias("e")
        .join(predicted.alias("p"), "qid", "inner")
        .agg(
            F.avg(
                (F.col("e.neighbor_id") == F.col("p.neighbor_id")).cast("double")
            ).alias("recall")
        )
    )
