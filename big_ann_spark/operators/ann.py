"""Batch ANN search — the Spark-shaped replacement for per-shard HNSW
(BASELINE.json ``spark_approach``: "DataFrame batch index build +
broadcast join for search").

Reference search lifecycle (SURVEY §3.3, ``kanndi_search.py:28-66``):
centroid index → top-MAX_CENTROIDS=3 routing → search top-1 shard's
HNSW → top-10 by distance. Its cliffs: sequential queries, and the
shard index re-loaded from disk per query (``utils.py:308-310``).

Spark-first replacement (§7.4): IVF-style, one path for a table in
memory (``ivf_search``) and for a persisted layout
(``ivf_search_from_disk``) —
1. routing: the query batch and the tiny centroid table are collected
   once and routed on the driver (``_route_on_driver``:
   ``knn.nearest_centroids``, the ``l2_distance`` fold with ties to the
   lower shard id);
2. candidate scan: one ``shard_id IN`` filter keeps the probed shards
   (static partition pruning on a ``partitionBy("shard_id")`` table),
   and ONE ``mapInArrow`` pass (``_arrow_nominating_pool``) scores each
   (query, shard) group against the broadcast queries — the
   fold-exact ``knn.fold_l2_topk`` for raw vectors, quantized scorers
   for the refine tiers — and drops rows the mutation ledger made dead
   (``_drop_dead``);
3. top-k per query: each scan task keeps its own top-k and the driver
   merges them by (dist, id) (the refine tiers re-rank their pool
   exactly first).

Recall loss vs exact is a *property of the routing* (the reference
searches only the top-1 shard); ``nprobe`` trades IO for recall.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_ann_spark.functions.vector import l2_distance
from big_ann_spark.operators import oplayout
from big_ann_spark.operators.knn import (
    _POOL_SCHEMA,
    _first_k,
    band_select,
    fold_l2,
    fold_l2_topk,
    merge_partials,
    nearest_centroids,
)
from big_ann_spark.operators.topk import top_k_per_group


def _isin_ids(col: str, ids: list) -> F.Column:
    """``col IN (ids)`` for an integer id list, built as ONE parsed SQL
    expression: ``Column.isin`` costs one py4j round trip per element
    (0.4-0.5 s of driver wall for a 400-id rerank pool). Non-integer or
    empty lists fall back to ``isin``."""
    if ids and all(type(i) is int for i in ids):
        id_list = ",".join(str(i) for i in ids)
        return F.expr(f"`{col}` IN ({id_list})")
    return F.col(col).isin(ids)


# One shared worker for the PQ/OPQ sidecar prefetch in
# ivf_search_from_disk (threads start lazily on the first submit).
_SIDECAR_PREFETCH = ThreadPoolExecutor(1, thread_name_prefix="pq-sidecars")


def open_probed_shards(
    spark,
    path: str,
    shard_ids: list[int] | None,
) -> DataFrame:
    """Open ONLY the probed shard directories of a ``write_sharded``
    layout, by explicit path: ``spark.read.parquet(f"{path}/shards")``
    walks every partition directory first (measured ~60 s at m = 10⁴
    and 20M vectors), while the probed set is min(Q·nprobe, m) — O(T)
    listing work instead of O(m). ``basePath`` keeps ``shard_id`` a
    partition column. Shards with zero points never got a directory,
    so each is existence-checked through the Hadoop FS API, which works
    on object stores too. ``shard_ids=None`` opens every shard (one
    listing walk, for compaction)."""
    base = f"{path}/shards"
    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path  # one class lookup
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    jpath = Path(base)
    fs = jpath.getFileSystem(hconf)
    if shard_ids is None:
        shard_dirs = fs.exists(jpath) and any(st.isDirectory() for st in fs.listStatus(jpath))
        dirs = [base] if shard_dirs else []
    else:
        dirs = [d for s in shard_ids if fs.exists(Path(d := f"{base}/shard_id={s}"))]
    if not dirs:
        # preserve an empty-but-typed result. An ALL-DELETED compacted
        # layout has zero shard dirs (a partitioned write of no rows
        # lands no files), so prefer the schema sidecar write_sharded
        # leaves for exactly this case; fall back to inferring from
        # the (non-empty) shards dir for layouts predating it.
        sidecar = Path(f"{path}/schema.parquet")
        if fs.exists(sidecar):
            sc = spark.read.parquet(f"{path}/schema.parquet").schema
            return spark.createDataFrame([], sc)
        return spark.read.option("basePath", base).parquet(base).limit(0)
    # a footer-inference job on the serving path would be one serial
    # job per search. The shard schema is fixed at build time
    # (mutations append files, never columns), so the layout memo
    # keeps it per state of the shards directory: a NEW shard
    # directory bumps its mtime, while file appends inside existing
    # shard dirs keep the identical schema.
    return oplayout.read_parquet(
        spark.read.option("basePath", base), base,
        int(fs.getFileStatus(jpath).getModificationTime()), *dirs,
    )


def detect_refine_codec(spark, path: str, vec_col: str = "embedding") -> str:
    """SCHEMA-ONLY refine-tier detection for a ``write_sharded``
    layout (zero jobs): code columns can only come from the build, so
    presence of codes/pq_codes/bcodes NEXT TO the raw column selects
    the sq8/pq/binary candidate scan; anything else serves raw. Reads
    the schema sidecar when present (works on empty layouts), else one
    footer of the shards dir."""
    from big_ann_spark.operators import oplayout

    if oplayout.path_exists(spark, f"{path}/schema.parquet"):
        cols = set(spark.read.parquet(f"{path}/schema.parquet").columns)
    else:
        cols = set(spark.read.parquet(f"{path}/shards").columns)
    if vec_col in cols:
        if "codes" in cols:
            return "sq8"
        if "pq_codes" in cols:
            # OPQ layouts are PQ layouts whose codes live in a learned
            # rotated space — one sidecar existence check (metadata)
            # distinguishes them so serving reports the real tier
            if oplayout.path_exists(spark, f"{path}/opq_rotation.parquet"):
                return "opq"
            return "pq"
        if "bcodes" in cols:
            return "binary"
        return "raw"
    if "codes" in cols:
        # --sq8 codes-only layout: no raw column exists — callers that
        # need exact distances must refuse rather than scan a column
        # that is not there
        return "codes_only"
    return "raw"


# Rows a serving call collects to the driver at most: the default
# ``max_id_pushdown`` of a rerank pool, and the bound on the query batch
# a from-disk search routes on the driver.
DRIVER_ROWS = 100_000

# Cells of a (query × row) distance matrix that one numpy scoring block
# holds at once.
_SCORE_BLOCK = 1 << 20

# popcount of every byte value: the binary pool's Hamming kernel
_POPCOUNT8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


class Routing(NamedTuple):
    """One search's routing, on the driver."""

    qids: np.ndarray  # sorted distinct query ids
    qmat: np.ndarray  # float64 query vectors; row i is query qids[i]
    shard_to_q: dict  # probed shard id -> sorted row indices into qids
    dead: np.ndarray  # sorted ids whose base rows the candidate scan drops


def _routing(qids, qmat, qrow, shards) -> Routing:
    """Routing of (query row, shard) pairs; a repeated id keeps its first vector."""
    uq, first, inv = np.unique(qids, return_index=True, return_inverse=True)
    qpos = inv[qrow]
    order = np.lexsort((qpos, shards))
    groups = np.split(order, np.flatnonzero(np.diff(shards[order])) + 1)
    shard_to_q = {int(shards[g[0]]): np.unique(qpos[g]) for g in groups if len(g)}
    return Routing(uq, qmat[first], shard_to_q, np.empty(0, dtype=np.int64))


def collect_to_driver(df: DataFrame, what: str):
    """``df`` as an Arrow table, read in one job of at most
    ``DRIVER_ROWS + 1`` rows; a larger ``df`` fails loudly, it is never
    truncated."""
    t = df.limit(DRIVER_ROWS + 1).toArrow()
    if t.num_rows > DRIVER_ROWS:
        raise ValueError(
            f"the {what} has more than {DRIVER_ROWS:,} rows, and it is "
            "collected to the driver: split the batch into smaller calls"
        )
    return t


def centroid_matrix(spark, centroids: DataFrame | str) -> tuple[np.ndarray, np.ndarray]:
    """(shard ids, float64 centroid rows) of a centroid table: a
    DataFrame, or the path of a ``centroids.parquet``. Memoized by the
    table's data files (``oplayout.memo_by_files``) — from the frame's
    ``inputFiles()`` plus one stat per file, or one directory listing
    for a path; neither starts a Spark job. A frame that is not a bare
    file scan is collected on every call."""
    from big_ann_spark.functions.arrowio import int_col, list_col_matrix
    from big_ann_spark.operators import oplayout

    if isinstance(centroids, str):
        fs, jp = oplayout.fs_path(spark, centroids)
        sts = fs.listStatus(jp)
        frame = lambda: spark.read.parquet(centroids)  # noqa: E731
    else:
        plan = centroids._jdf.queryExecution().analyzed()
        bare = plan.getClass().getSimpleName() == "LogicalRelation" and (
            plan.relation().getClass().getSimpleName() == "HadoopFsRelation"
        )
        sts = []
        if bare:
            try:
                for f in centroids.inputFiles():
                    fs, jp = oplayout.fs_path(spark, f)
                    sts.append(fs.getFileStatus(jp))
            except Exception:  # a file is gone: the collect reports it
                sts = []
        frame = lambda: centroids  # noqa: E731

    def read():
        c = frame().select("shard_id", "centroid").toArrow()
        return int_col(c, "shard_id"), list_col_matrix(c, "centroid")

    return oplayout.memo_by_files("centroids", oplayout.file_stamps(sts), read)


def _route_on_driver(
    queries: DataFrame, centroids: DataFrame, nprobe: int, *, query_id: str, query_vec: str
) -> Routing:
    """The routing of every IVF search: the query batch is collected
    once (``collect_to_driver``), the centroid matrix comes from
    ``centroid_matrix``, and every query keeps its first ``nprobe``
    shards by (distance, shard id) (``nearest_centroids``)."""
    from big_ann_spark.functions.arrowio import int_col, list_col_matrix

    q = collect_to_driver(
        queries.select(F.col(query_id).alias("qid"), F.col(query_vec).alias("qvec")),
        "query batch of a from-disk search",
    )
    cids, cmat = centroid_matrix(queries.sparkSession, centroids)
    qids, qmat = int_col(q, "qid"), list_col_matrix(q, "qvec")
    top, _ = nearest_centroids(qmat, cids, cmat, nprobe)
    return _routing(qids, qmat, np.repeat(np.arange(len(qids)), top.shape[1]), cids[top].ravel())


def _probed(frame: DataFrame, routing: Routing) -> DataFrame:
    """``frame`` kept to the probed shards of ``routing`` by one parsed
    ``shard_id IN`` predicate (``_isin_ids``): static partition pruning
    on a ``partitionBy("shard_id")`` table."""
    return frame.filter(_isin_ids("shard_id", sorted(routing.shard_to_q)))


def ivf_search(
    queries: DataFrame,
    sharded_vectors: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    *,
    query_id: str = "qid",
    query_vec: str = "qvec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k over a table of (``id_col``, ``vec_col``, shard_id):
    route on the driver (``_route_on_driver``), keep the probed shards
    (``_probed``: a ``partitionBy("shard_id")`` parquet table reads only
    the probed shard directories), then one candidate scan
    (``_fold_pool``) scores them by the ``l2_distance`` fold and ranks
    by (dist, id) — the union of per-shard candidates re-sorted,
    ``kanndi/README.md:46-47``.

    Runs at call time: the query collect and the candidate scan (plus
    the centroid read, memoized for a bare-file centroid table). Returns
    a local frame (qid, neighbor_id, dist, rank) whose ``collect()``
    starts no Spark job."""
    routing = _route_on_driver(
        queries, centroids, nprobe, query_id=query_id, query_vec=query_vec
    )
    return _fold_pool(
        routing, _probed(sharded_vectors, routing), k, vec_col, lambda X: X, id_col=id_col
    )


def ivf_search_from_disk(
    queries: DataFrame,
    path: str,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    *,
    query_id: str = "qid",
    query_vec: str = "qvec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codec: str = "raw",
    rerank_factor: int = 4,
    max_id_pushdown: int = DRIVER_ROWS,
    as_of: int | None = None,
    _sq8_ranges: tuple[list[float], list[float]] | None = None,
) -> DataFrame:
    """``ivf_search`` straight off a ``write_sharded`` layout path: a
    global index on the driver picks the shards, then one local scan.

    1. Route on the driver (``_route_on_driver``); a query batch over
       ``DRIVER_ROWS`` fails.
    2. Take the layout's live frame (``vector_ops.live_frame``: every
       base shard plus the resolved mutation winners, memoized per
       layout state, so an unchanged layout costs no Spark job and no
       listing) and keep the probed shards (``_probed``).
    3. One ``mapInArrow`` candidate scan (``_arrow_nominating_pool``)
       drops dead base rows and scores each (query, shard) group against
       the broadcast queries; each task keeps its top-k per query and
       the driver merges those partials.

    The candidate scan runs at call time. ``codec="raw"`` scores raw
    vectors by ``_fold_pool``, so results equal ``ivf_search`` over the
    live rows bit for bit, and the frame returned is local: two Spark
    jobs in all once the layout state is resolved (the query collect
    and the candidate scan), and its ``collect()`` starts none.
    ``codec="codes_only"`` serves a ``--sq8`` layout, which holds codes
    and no raw column, the same way: ``sq8_pool`` at ``k`` with no
    rerank, distances the fold over the decoded codes.

    ``codec="sq8"``/``"pq"``/``"opq"``/``"binary"`` (refine layouts)
    scan ONLY the code column of the probed shards — parquet column
    pruning keeps the raw vectors out of the dominant phase — through
    ``sq8_pool``/``pq_pool``/``binary_pool``; the
    top-``k·rerank_factor`` candidates are then re-ranked exactly
    (``_exact_rerank``, lazy). While the pool holds at most
    ``max_id_pushdown`` rows (the BM25 MAX_PUSHDOWN_TERMS lesson) their
    ids are In-pushed and fetch raw vectors from the id-sorted shard
    files with row-group/page skipping; a larger pool is joined to the
    probed shards without the In list.

    ``as_of``: SNAPSHOT search — the layout as of committed mutation op
    ``as_of`` (``operators.vector_ops``; −1 = the base build, ``None`` =
    head). A layout with no ``ops/`` directory resolves nothing."""
    from big_ann_spark.operators.vector_ops import live_frame

    if codec not in ("raw", "codes_only", "sq8", "pq", "opq", "binary"):
        raise ValueError(
            f"unknown codec {codec!r}; use 'raw', 'codes_only', 'sq8', 'pq', "
            "'opq' or 'binary'"
        )
    spark = queries.sparkSession
    # sidecar prefetch: the codebooks (+ optional OPQ rotation) live in
    # layout sidecars with NO data dependency on routing, so their read
    # jobs run on a background thread while routing runs; the values
    # are identical, only the wall-clock interleaving changes.
    sidecar_fut = sidecars = None
    if codec in ("pq", "opq"):
        from big_ann_spark.operators.pq import load_pq_codebooks, load_rotation

        def _load_pq_sidecars():
            cb = load_pq_codebooks(spark, f"{path}/pq_codebooks.parquet")
            rot = None
            if oplayout.path_exists(spark, f"{path}/opq_rotation.parquet"):
                rot = load_rotation(spark, f"{path}/opq_rotation.parquet")
            return cb, rot

        sidecar_fut = _SIDECAR_PREFETCH.submit(_load_pq_sidecars)
    try:
        routing = _route_on_driver(
            queries, centroids, nprobe, query_id=query_id, query_vec=query_vec
        )
        frame, dead = live_frame(spark, path, as_of=as_of, id_col=id_col, vec_col=vec_col)
        oplayout.refuse_contested_above_bound(len(dead), path)
        if sidecar_fut is not None:
            sidecars = sidecar_fut.result()
    finally:
        # never leave the prefetch behind: when routing raised, cancel
        # it or wait for it and drop its outcome (the routing error is
        # the one that propagates)
        if sidecar_fut is not None and not sidecar_fut.cancel():
            sidecar_fut.exception()
    live = _probed(frame, routing)
    routing = routing._replace(dead=dead)
    if codec == "raw":
        return _fold_pool(routing, live, k, vec_col, lambda X: X, id_col=id_col)
    if codec == "codes_only":
        return sq8_pool(routing, live, path, k, id_col=id_col, ranges=_sq8_ranges)
    if codec == "sq8":
        pool = sq8_pool(
            routing, live, path, k * rerank_factor, id_col=id_col, ranges=_sq8_ranges
        )
    elif codec in ("pq", "opq"):
        # OPQ is PQ with codes in a learned rotated space: pq_pool
        # rotates the queries whenever the rotation sidecar exists, and
        # the exact rerank is rotation-free (an orthogonal R preserves
        # L2). codec="opq" REFUSES a layout without the rotation, which
        # would otherwise silently serve as plain PQ.
        if codec == "opq" and sidecars[1] is None:
            raise ValueError(
                f"codec='opq' but {path} has no opq_rotation.parquet — "
                "build with --opq-refine (write_sharded(opq_rotation=…)), "
                "or serve as codec='pq'"
            )
        pool = pq_pool(
            routing, live, path, k * rerank_factor, id_col=id_col, _sidecars=sidecars
        )
    else:
        pool = binary_pool(routing, live, path, k * rerank_factor, id_col=id_col)
    # the pool is local: up to max_id_pushdown of its ids are In-pushed
    # to the raw scan beside a broadcast of its pairs; a larger pool is
    # joined to the probed shards without the In list
    pairs = pool.select("qid", "neighbor_id")
    pool_rows = pairs.limit(max_id_pushdown + 1).collect()
    raw = live
    if len(pool_rows) <= max_id_pushdown:
        cand = np.unique(np.array([r["neighbor_id"] for r in pool_rows], dtype=np.int64))
        raw, pairs = live.filter(_isin_ids(id_col, cand.tolist())), F.broadcast(pairs)
    return _exact_rerank(raw, pairs, routing, k, id_col=id_col, vec_col=vec_col)


def _exact_rerank(
    raw: DataFrame,
    pairs: DataFrame,
    routing: Routing,
    k: int,
    *,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The exact top-``k`` of each query among its pool ``pairs`` (qid,
    neighbor_id): the rows of ``raw``, a probed live frame, joined to the
    pairs and scored in one ``mapInArrow`` by ``knn.fold_l2`` against the
    routed query vectors — ``l2_distance``'s fold bit for bit — dropping
    dead base rows as the candidate scan does; one window ranks by
    (dist, id)."""
    bc = raw.sparkSession.sparkContext.broadcast((routing.qids, routing.qmat, routing.dead))

    def score(batches):
        import pyarrow as pa

        from big_ann_spark.functions.arrowio import int_col, list_col_matrix

        qids, qmat, dead = bc.value
        for rb in batches:
            rb, ids = _drop_dead(rb, int_col(rb, "neighbor_id"), dead)
            if rb.num_rows == 0:
                continue
            q = int_col(rb, "qid")
            Q, X = qmat[np.searchsorted(qids, q)], list_col_matrix(rb, vec_col)
            yield pa.RecordBatch.from_arrays(
                [pa.array(q), pa.array(ids), pa.array(fold_l2(Q, X))],
                names=["qid", "neighbor_id", "dist"],
            )

    scored = (
        raw.select(F.col(id_col).alias("neighbor_id"), vec_col, "_resolved")
        .join(pairs, "neighbor_id")
        .mapInArrow(score, schema=_POOL_SCHEMA)
    )
    return top_k_per_group(
        scored, ["qid"], [F.col("dist").asc(), F.col("neighbor_id").asc()], k
    )


def sq8_pool(
    routing: Routing,
    shards: DataFrame,
    path: str,
    k_pool: int,
    *,
    id_col: str = "vec_id",
    ranges: tuple[list[float], list[float]] | None = None,
) -> DataFrame:
    """Quantized candidate pool of an SQ8 layout: reads ONLY the
    ``codes`` column (plan-pinned in tests), decodes each Arrow batch
    with the arithmetic of ``sq8_decode_col``,
    ``mn + ((c + 0.5) * (mx − mn)) / 255``, and keeps the top-``k_pool``
    per query by (``_fold_pool`` distance, id) for the exact rerank —
    the fold ``l2_distance(qvec, sq8_decode_col(codes))`` bit for bit,
    ~6× the expression fold on 2M×64 (SCALE.md).

    ``ranges``: the layout's (mins, maxs) sidecar values when the
    caller already holds them; otherwise they are read once per state
    of the sidecar (``pq.load_sq8_ranges``)."""
    from big_ann_spark.operators.pq import load_sq8_ranges

    if ranges is None:
        ranges = load_sq8_ranges(shards.sparkSession, f"{path}/sq8_ranges.parquet")
    mn = np.array(ranges[0], dtype=np.float64)
    mx = np.array(ranges[1], dtype=np.float64)
    return _fold_pool(
        routing, shards, k_pool, "codes",
        lambda c: mn + ((c + 0.5) * (mx - mn)) / 255.0,
        id_col=id_col,
    )


def _fold_pool(routing, shards, k_pool, payload_col, decode, *, id_col) -> DataFrame:
    """``_arrow_nominating_pool`` scoring ``decode(payload)`` by
    ``knn.fold_l2_topk``: a GEMM nominates an error-bound band and the
    left-to-right fold ranks inside it, so distances are the fold of
    ``l2_distance`` bit for bit however many near-ties a batch holds."""

    def score_shard(qmat, qidx, rows, id_rows):
        qi, sel_ids, dists = fold_l2_topk(qmat[qidx], decode(rows), id_rows, k_pool)
        return qidx[qi], sel_ids, dists

    return _arrow_nominating_pool(
        routing, shards, k_pool, id_col=id_col, payload_col=payload_col,
        payload_dtype=np.float64, make_state=lambda qids, qmat: qmat,
        score_shard=score_shard,
    )


def _drop_dead(rb, ids, dead):
    """An Arrow batch of a ``vector_ops.live_frame`` and its ``ids``
    without the dead base rows: ids in ``dead`` (sorted contested ids)
    whose row is not a resolved winner (``_resolved``)."""
    import pyarrow as pa

    if not len(dead):
        return rb, ids
    keep = ~np.isin(ids, dead)
    keep |= rb.column("_resolved").to_numpy(zero_copy_only=False)
    return rb.filter(pa.array(keep)), ids[keep]


def drop_dead_rows(live: DataFrame, dead: np.ndarray, id_col: str) -> DataFrame:
    """The rows of ``live``, a (filtered, projected) ``vector_ops.live_frame``
    that keeps its ``_resolved`` column, without the dead base rows, by
    ``_drop_dead`` in one ``mapInArrow``; ``_resolved`` is dropped. The
    dead ids ride a broadcast variable, which starts no Spark job."""
    from big_ann_spark.functions.arrowio import int_col

    if len(dead):
        bc = live.sparkSession.sparkContext.broadcast(dead)
        live = live.mapInArrow(
            lambda batches: (_drop_dead(rb, int_col(rb, id_col), bc.value)[0] for rb in batches),
            schema=live.schema,
        )
    return live.drop("_resolved")


def _arrow_nominating_pool(
    routing: Routing,
    shards: DataFrame,
    k_pool: int,
    *,
    id_col: str,
    payload_col: str,
    payload_dtype,
    make_state,
    score_shard,
) -> DataFrame:
    """The one candidate scan of every IVF search, run at call time:
    ONE broadcast carries the routing (sorted query ids, per-query state
    ``make_state(qids, qmat)``, shard → query rows, dead ids). Each
    Arrow batch drops its dead base rows (``_drop_dead``), extracts the
    payload matrix once, and per (probed shard ∩ batch) group and block
    of queries ``score_shard(state, qidx, payload_rows, id_rows)``
    returns aligned (query row, neighbor id, dist) arrays. Each of the
    at most ``defaultParallelism`` tasks keeps its own top-``k_pool``
    per query; the driver collects those partials, bounded through the
    batch size, and merges them with one ``lexsort`` by (qid, dist, id)
    (``knn.merge_partials``). Returns the merged pool (qid, neighbor_id,
    dist, rank) as a local, Arrow-built frame: its ``collect()`` starts
    no Spark job.

    With one file per shard a query's partials come only from the tasks
    that scan its probed shards, so they stay within a small multiple of
    the pool itself."""
    state = make_state(routing.qids, routing.qmat)
    spark = shards.sparkSession
    bc = spark.sparkContext.broadcast(
        (routing.qids, state, routing.shard_to_q, routing.dead)
    )
    # dead ids come with a live_frame and its _resolved column
    cols = [id_col, payload_col, "shard_id"] + (["_resolved"] if len(routing.dead) else [])

    def part(batches):
        import pyarrow as pa

        from big_ann_spark.functions.arrowio import int_col, list_col_matrix

        qids, state, shard_to_q, dead = bc.value
        top = None  # this task's (qid, id, dist) top-k_pool per query so far
        for rb in batches:
            rb, ids = _drop_dead(rb, int_col(rb, id_col), dead)
            if rb.num_rows == 0:
                continue
            sh = int_col(rb, "shard_id")
            payload = list_col_matrix(rb, payload_col, payload_dtype)
            out_q, out_n, out_d = [], [], []
            for s in np.unique(sh):
                qidx = shard_to_q.get(int(s))
                if qidx is None:
                    continue
                rows = np.flatnonzero(sh == s)
                step = max(1, _SCORE_BLOCK // len(rows))
                for b in range(0, len(qidx), step):
                    qi, sel_ids, dists = score_shard(
                        state, qidx[b : b + step], payload[rows], ids[rows]
                    )
                    out_q.append(qids[qi])
                    out_n.append(sel_ids)
                    out_d.append(dists)
            if not out_q:
                continue
            cand = [np.concatenate(c) for c in (out_q, out_n, out_d)]
            if top is not None:
                cand = [np.concatenate(c) for c in zip(top, cand)]
            top = _first_k(*cand, k_pool)[:3]
        if top is not None:
            yield pa.RecordBatch.from_arrays(
                [pa.array(c) for c in top], names=["qid", "neighbor_id", "dist"]
            )

    # at most one task per core: the resolved winners' checkpoint
    # partition would otherwise start a second wave of Python tasks;
    # Arrow batches stream, so a task's memory stays flat
    scan = (
        shards.select(*cols)
        .coalesce(spark.sparkContext.defaultParallelism)
        .mapInArrow(part, schema=_POOL_SCHEMA)
    )
    return merge_partials(scan, len(routing.qids), k_pool)


def pq_pool(
    routing: Routing,
    shards: DataFrame,
    path: str,
    k_pool: int,
    *,
    id_col: str = "vec_id",
    _sidecars: tuple | None = None,
) -> DataFrame:
    """Quantized candidate pool of an IVF-PQ (IVFADC) layout: scans ONLY
    the ``pq_codes`` column of the probed shards (m sub-codes per row,
    ~16× less column IO than raw at m=8 over 64-d) and scores each row
    as ``Σ_j lut[q][j][code_j]`` against per-query ADC lookup tables
    built on the driver from the persisted codebooks: a numpy gather
    accumulated left-to-right over j, selected by ``knn.band_select``
    with a zero-width band (the sum is already the exact score).
    top-``k_pool`` per query by (adc dist, id); the exact rerank above
    fixes ranks and distances.

    ``_sidecars``: (codebooks, rotation) the caller already loaded —
    ivf_search_from_disk prefetches them while routing."""
    from big_ann_spark.operators import oplayout
    from big_ann_spark.operators.pq import load_pq_codebooks, load_rotation, pq_lut_rows

    spark = shards.sparkSession
    if _sidecars is not None:
        codebooks, rotation = _sidecars
    else:
        codebooks = load_pq_codebooks(spark, f"{path}/pq_codebooks.parquet")
        # OPQ layout: codes live in the rotated space, so the per-query
        # LUTs are built from the ROTATED queries (the only place the
        # rotation touches serving — the exact rerank compares raw
        # vectors with raw queries, and an orthogonal R preserves L2
        # exactly)
        rotation = None
        if oplayout.path_exists(spark, f"{path}/opq_rotation.parquet"):
            rotation = load_rotation(spark, f"{path}/opq_rotation.parquet")

    def make_state(qids, qmat):
        if rotation is not None:
            R = np.asarray(rotation, dtype=np.float64)
            qmat = [v @ R for v in qmat]
        rows = pq_lut_rows(zip(qids.tolist(), qmat), codebooks)
        return np.array([l for _, l in rows], dtype=np.float64)

    def score_shard(luts, qidx, codes_rows, id_rows):
        L = luts[qidx]
        acc = np.zeros((len(qidx), len(id_rows)))
        for j in range(L.shape[1]):
            acc = acc + L[:, j, codes_rows[:, j]]
        qi, sel_ids, dists = band_select(
            acc, id_rows, k_pool, np.zeros_like, lambda qi, ci: acc[qi, ci]
        )
        return qidx[qi], sel_ids, dists

    return _arrow_nominating_pool(
        routing, shards, k_pool,
        id_col=id_col, payload_col="pq_codes", payload_dtype=np.int64,
        make_state=make_state, score_shard=score_shard,
    )


def binary_pool(
    routing: Routing,
    shards: DataFrame,
    path: str,
    k_pool: int,
    *,
    id_col: str = "vec_id",
) -> DataFrame:
    """Candidate pool of a binary (sign-bit) layout — the 32× tier: scans
    ONLY the packed ``bcodes`` words of the probed shards and scores the
    Hamming distance ``Σ_w popcount(q_w XOR b_w)`` of ``pq.hamming_distance``
    against query codes packed on the driver as ``pq.binarize_col`` packs
    rows. Integer-exact, so ``knn.band_select`` selects with a zero-width
    band: top-``k_pool`` per query by (hamming, id), for the exact rerank."""
    from big_ann_spark.operators.pq import BINARY_WORD_BITS, load_binary_thresholds

    thr = np.array(
        load_binary_thresholds(shards.sparkSession, f"{path}/binary_thresholds.parquet"),
        dtype=np.float64,
    )

    def make_state(qids, qmat):
        # bit j of word w is set iff dim w·BINARY_WORD_BITS + j exceeds
        # its threshold; dims past the vector or the thresholds read 0
        n_words = -(-len(thr) // BINARY_WORD_BITS)
        d = min(len(thr), qmat.shape[1])
        bits = np.zeros((len(qmat), n_words * BINARY_WORD_BITS), dtype=np.int64)
        bits[:, :d] = qmat[:, :d] > thr[:d]
        weights = np.left_shift(1, np.arange(BINARY_WORD_BITS, dtype=np.int64))
        return (bits.reshape(len(qmat), n_words, BINARY_WORD_BITS) * weights).sum(axis=2)

    def score_shard(qcodes, qidx, codes_rows, id_rows):
        x = qcodes[qidx][:, None, :] ^ codes_rows[None, :, :]
        ham = _POPCOUNT8[x.view(np.uint8)].sum(axis=2, dtype=np.float64)
        qi, sel_ids, dists = band_select(
            ham, id_rows, k_pool, np.zeros_like, lambda qi, ci: ham[qi, ci]
        )
        return qidx[qi], sel_ids, dists

    return _arrow_nominating_pool(
        routing, shards, k_pool,
        id_col=id_col, payload_col="bcodes", payload_dtype=np.int64,
        make_state=make_state, score_shard=score_shard,
    )


def write_tag_postings_layout(
    tagged: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    tags_col: str = "tags",
    vec_col: str = "embedding",
    n_tag_buckets: int = 64,
    carry_payload: bool = True,
) -> None:
    """Persist the filtered-track serving artifacts next to a
    ``write_sharded`` layout (big-ann "filtered" track, from disk):

    - ``{path}/tag_postings.parquet`` — the inverted tag index
      ``(neighbor_id, shard_id, _tag)`` partitioned by
      ``_tb = pmod(xxhash64(_tag), n_tag_buckets)``: a query batch
      prunes to its rarest-tags' buckets, and the carried ``shard_id``
      lets the vector fetch open only the shards holding candidates;
    - ``{path}/tag_df.parquet`` — per-tag document frequencies
      (vocabulary-sized), so rarest-tag selection never rescans
      postings;
    - ``{path}/tags.parquet`` — the id-sorted ``(neighbor_id, tags)``
      side table the containment verify point-fetches (bounded id In,
      row-group skipping — the refine-rerank pattern applied to tags).

    ``carry_payload=True`` (the DEFAULT — it is the only mode whose
    serving cost is measured corpus-independent) additionally stores
    each posting row's FULL payload — ``_bvec`` (the vector) and
    ``_btags`` (the tag set) — making the query entirely
    POSTING-LOCAL: distance and containment are computed on the rows
    the rarest-tag scan already read, no candidate point-fetch at all.
    This is the space-time trade of Filtered-DiskANN's label-carrying
    records / a search engine's doc values: storage ≈ (avg tags per
    doc) × corpus vector bytes, query IO = the rarest tag's posting
    list ALONE — measured corpus-INDEPENDENT across three decades
    (tools/measure_filtered_mut.py / SCALE.md: 1.07→1.43→2.7 s at
    200k→2M→20M), where the point-fetch plan degrades into a
    corpus-wide embedding-column scan once candidates scatter across
    shards (5.3 s → 22.6 s over one decade on the same query).
    Mutations on a payload layout require vectors and tags in the SAME
    op (``upsert_vectors(..., tags_col=...)``) — enforced, because a
    vector change without its postings would leave stale payloads
    serving wrong distances. Pass ``carry_payload=False`` only when
    that coupling is unacceptable and the corpus is small or the tags
    shard-clustered (the point-fetch caveats in
    :func:`filtered_search_from_disk`).

    ``tagged``: ``(id_col, tags_col)`` rows for every vector in the
    layout; shard ids (and payload vectors) come from the layout
    itself, so the caller never re-derives assignment."""
    from big_ann_spark.operators.knn import build_tag_postings

    spark = tagged.sparkSession
    shard_cols = [F.col(id_col).alias("neighbor_id"), F.col("shard_id")]
    if carry_payload:
        shard_cols.append(F.col(vec_col).alias("_bvec"))
    shard_of = spark.read.parquet(f"{path}/shards").select(*shard_cols)
    posts = build_tag_postings(
        tagged.select(F.col(id_col).alias("neighbor_id"), F.col(tags_col)),
        base_id="neighbor_id",
        tags_col=tags_col,
    ).join(shard_of, "neighbor_id")
    if carry_payload:
        posts = posts.join(
            tagged.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(tags_col).alias("_btags"),
            ),
            "neighbor_id",
        )
    posts = posts.withColumn(
        "_tb", F.pmod(F.xxhash64("_tag"), F.lit(n_tag_buckets))
    )
    # the base build lands at _mb = BASE_EPOCH, the op-ledger epoch
    # convention (oplayout) — tag mutations (operators/tag_ops.py)
    # land their deltas as _mb=<op id> siblings
    from big_ann_spark.operators import oplayout

    base_mb = F.lit(oplayout.BASE_EPOCH)
    (
        posts.withColumn("_mb", base_mb)
        .write.partitionBy("_tb", "_mb")
        .mode("overwrite")
        .parquet(f"{path}/tag_postings.parquet")
    )
    (
        posts.groupBy("_tag")
        .agg(F.count("*").alias("_df"))
        .withColumn("_mb", base_mb)
        .write.partitionBy("_mb")
        .mode("overwrite")
        .parquet(f"{path}/tag_df.parquet")
    )
    (
        tagged.select(F.col(id_col).alias("neighbor_id"), F.col(tags_col).alias("_btags"))
        .sort("neighbor_id")
        .write.mode("overwrite")
        .parquet(f"{path}/tags.parquet")
    )
    # the bucket count is a LAYOUT CONSTANT the query side must hash
    # with — inferring it from observed _tb values would break the
    # moment a trailing bucket happens to be empty
    (
        spark.createDataFrame(
            [(int(n_tag_buckets), bool(carry_payload))],
            "n_tag_buckets int, carry_payload boolean",
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/tag_meta.parquet")
    )


def _filtered_candidates(
    spark,
    q: DataFrame,
    path: str,
    *,
    as_of: int | None = None,
    uncommitted: list[int] | None = None,
    payload: bool = False,
) -> DataFrame:
    """Rarest-tag candidate generation off the persisted artifacts —
    LAZY (the caller checkpoints; the plan-pin test inspects this):
    per-query rarest tag via the vocabulary-sized df table, then a
    static ``_tb`` partition filter (bounded by the query count, no
    matter how wide the tag vocabulary) over the bucketed postings.
    Tag-op visibility (tag_ops.visible_postings) adds only ``_mb``
    partition-column predicates — the ``_tb`` pruning survives.
    ``payload``: also project the carried ``_bvec``/``_btags`` (+
    ``_mb`` for latest-op resolution) on a carry layout."""
    from big_ann_spark.operators import tag_ops

    uncommitted = list(uncommitted or [])
    tag_df = tag_ops.tag_df_view(spark, path, as_of=as_of, uncommitted=uncommitted)
    # explode_OUTER: an empty/null query tag set keeps a row with
    # a NULL rarest tag, so the caller's empty-tag contract guard folds
    # into the bucket collect below — one serial job per search where
    # the guard used to run its own limit-1 count first. For every
    # valid query (non-empty tags) the produced rows are identical to
    # plain explode.
    q_rare = (
        q.select("qid", F.explode_outer("_qtags").alias("_tag"))
        .join(tag_df, "_tag", "left")
        .groupBy("qid")
        .agg(
            F.min(
                F.struct(F.coalesce("_df", F.lit(0)).alias("_df"), "_tag")
            )["_tag"].alias("_tag")
        )
        # lazy: the bucket collect just below materializes it
        .localCheckpoint(eager=False)
    )
    n_buckets = tag_ops.n_tag_buckets(spark, path)
    rare_rows = q_rare.select(
        "_tag", F.pmod(F.xxhash64("_tag"), F.lit(n_buckets)).alias("_tb")
    ).distinct().collect()
    if any(r["_tag"] is None for r in rare_rows):
        raise ValueError(
            "filtered search: query with an empty tag set is "
            "unconstrained — use ivf_search_from_disk for those queries"
        )
    tbs = {r["_tb"] for r in rare_rows}
    posts = tag_ops.visible_postings(
        spark, path, as_of=as_of, uncommitted=uncommitted
    ).filter(F.col("_tb").isin([int(b) for b in tbs]))
    cols = ["qid", "neighbor_id", "shard_id"]
    if payload:
        cols += ["_mb", "_bvec", "_btags"]
    return posts.join(F.broadcast(q_rare), "_tag").select(*cols)


def filtered_search_from_disk(
    queries: DataFrame,
    path: str,
    k: int = 10,
    *,
    query_id: str = "qid",
    query_vec: str = "qvec",
    query_tags: str = "qtags",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    max_id_pushdown: int = 1024,
    as_of: int | None = None,
) -> DataFrame:
    """Tag-containment filtered kNN SERVED from a persisted layout
    (``write_tag_postings_layout`` artifacts): per query, candidates
    come off the RAREST query tag's posting list (exactness preserved
    — a qualifying neighbor contains every query tag, hence the
    rarest), read with ``_tb`` partition pruning.

    Two serving modes, auto-detected from the layout meta:

    - ``carry_payload`` layouts (the 100 TB mode): the verify is
      POSTING-LOCAL — distance + containment run on the payload the
      pruned scan already read, so query IO is the rarest tag's
      posting list alone. Measured corpus-INDEPENDENT
      (tools/measure_filtered_mut.py: 1.1 s at 200k, 1.4 s at 2M).
    - point-fetch layouts (opt-in via ``carry_payload=False``):
      candidate vectors and tag sets are fetched by id from the shard
      layout and the id-sorted tags table. The candidate-id set is
      COUNT-GATED before anything reaches the driver: only when the
      distinct count is ≤ ``max_id_pushdown`` (default at the measured
      ~1k ``isin`` threshold, SCALE.md) are the ids collected and
      pushed as literal filters for row-group skipping; a wider set is
      verified purely by the distributed joins — no driver collect of
      candidate ids ever happens above the cap. HONEST caveat, by
      measurement: when candidates scatter across shards (uniformly
      distributed tags do), the fetch degrades into a corpus-wide
      embedding-column scan — 5.3 s at 200k but 22.6 s at 2M on the
      same query. Fine for small/medium layouts or shard-clustered
      tags; build with ``carry_payload=True`` (the default) when the
      corpus outgrows it.

    MUTATED layouts (vector_ops/tag_ops) are served exactly: the
    vector fetch reads the layout's live frame (``vector_ops.live_frame``)
    and drops its dead rows (``drop_dead_rows``), the containment verify
    uses the live tags view, and postings visibility excludes in-flight
    ops — a stale posting of a re-tagged or deleted id is a candidate
    the verify drops. ``as_of``: snapshot search at that op id (one
    time axis — vector and tag ops share the layout's ledger)."""
    from big_ann_spark.operators import oplayout, tag_ops, vector_ops

    spark = queries.sparkSession
    q = queries.select(
        F.col(query_id).alias("qid"),
        F.col(query_vec).alias("_qvec"),
        F.col(query_tags).alias("_qtags"),
    ).localCheckpoint(eager=False)
    # empty-tag contract guard: folded into _filtered_candidates'
    # rarest-tag collect (explode_outer keeps a NULL-tag row per
    # empty-tag query), so no dedicated guard job runs here
    uncommitted = sorted(
        vector_ops._ops_on_disk(spark, path)
        - oplayout.committed_ops(spark, path)
    ) if (vector_ops.has_vector_ops(spark, path) or tag_ops.has_tag_ops(spark, path)) else []
    if tag_ops.tag_meta(spark, path)[1]:
        # PAYLOAD layout: the query never leaves the posting rows —
        # scan cost is the rarest tags' posting lists alone, corpus-
        # independent (see write_tag_postings_layout). Mutation
        # resolution is one op-sized broadcast: a posting is live iff
        # its id is untouched or its _mb IS the id's latest op
        # (tombstones match nothing, re-tags/re-upserts match only
        # their newest payload rows).
        cand = _filtered_candidates(
            spark, q, path, as_of=as_of, uncommitted=uncommitted, payload=True
        )
        latest = tag_ops.latest_op_of_contested(
            spark, path, as_of=as_of, uncommitted=uncommitted
        )
        if latest is not None:
            cand = cand.join(F.broadcast(latest), "neighbor_id", "left").filter(
                F.col("_latest").isNull() | (F.col("_mb") == F.col("_latest"))
            )
        verified = (
            cand.join(F.broadcast(q), "qid")
            .filter(F.size(F.array_except(F.col("_qtags"), F.col("_btags"))) == 0)
            .select(
                "qid",
                "neighbor_id",
                l2_distance("_qvec", "_bvec", dim).alias("dist"),
            )
        )
        return top_k_per_group(
            verified, ["qid"], [F.col("dist").asc(), F.col("neighbor_id").asc()], k
        )
    cand = _filtered_candidates(
        spark, q, path, as_of=as_of, uncommitted=uncommitted
    ).localCheckpoint(eager=False)  # lazy: the gate job materializes it
    # COUNT-GATE before any id set reaches the driver — ONE job whose
    # payload is bounded by the cap itself (limit cap+1): only a
    # ≤ max_id_pushdown set is kept (for literal In pushdown /
    # row-group skipping on the id-sorted tags table); a wider
    # candidate set — df_rarest can be 10⁶–10⁸ at 100 TB — is verified
    # entirely by the distributed joins below, never a driver collect.
    gate_rows = (
        cand.select("neighbor_id")
        .distinct()
        .limit(int(max_id_pushdown) + 1)
        .collect()
    )
    bounded = (
        [r["neighbor_id"] for r in gate_rows]
        if len(gate_rows) <= max_id_pushdown
        else None
    )
    # shard ids: bounded by the layout's shard count m, always tiny
    shard_ids = [
        r["shard_id"] for r in cand.select("shard_id").distinct().collect()
    ]
    # the base rows stay pruned to the posting shards (exact: an id
    # whose live row is still in the base has accurate posting shards
    # by construction), but the op-sized RESOLVED rows must not be
    # shard-filtered: a vector-only upsert (legal on point-fetch
    # layouts) may have MOVED an id to a shard its stale posting
    # doesn't name, and filtering resolved rows by the posting-derived
    # shards would silently drop that live qualifying neighbor from
    # the verify.
    frame, dead = vector_ops.live_frame(spark, path, as_of=as_of, id_col=id_col, vec_col=vec_col)
    oplayout.refuse_contested_above_bound(len(dead), path)
    live = frame.filter(_isin_ids("shard_id", sorted(shard_ids)) | F.col("_resolved"))
    if bounded is not None:
        live = live.filter(_isin_ids(id_col, bounded))
    vecs = drop_dead_rows(live.select(id_col, vec_col, "_resolved"), dead, id_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_bvec")
    )
    btags = tag_ops.live_tags_view(
        spark, path, as_of=as_of, uncommitted=uncommitted, bounded_ids=bounded
    )
    verified = (
        # distinct: a re-tagged id carries postings for the SAME tag
        # under two _mb partitions — without dedup the pair would be
        # verified twice and occupy two ranks (candidate-sized, cheap)
        cand.select("qid", "neighbor_id")
        .distinct()
        .join(vecs, "neighbor_id")
        .join(btags, "neighbor_id")
        .join(F.broadcast(q), "qid")
        .filter(F.size(F.array_except(F.col("_qtags"), F.col("_btags"))) == 0)
        .select(
            "qid",
            "neighbor_id",
            l2_distance("_qvec", "_bvec", dim).alias("dist"),
        )
    )
    return top_k_per_group(
        verified, ["qid"], [F.col("dist").asc(), F.col("neighbor_id").asc()], k
    )


def lsh_bucket_search(
    queries: DataFrame,
    base: DataFrame,
    k: int = 10,
    *,
    n_planes: int = 8,
    seed_planes: list[list[float]] | None = None,
    query_id: str = "qid",
    query_vec: str = "qvec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    multiprobe: bool = False,
) -> DataFrame:
    """Random-hyperplane LSH bucketed cosine search: sign-bit signature
    over ``n_planes`` fixed hyperplanes → equi-join on bucket →
    exact re-rank inside the bucket. The equi-join makes candidate
    generation a hash join (no cross product); recall depends on bucket
    granularity. Deterministic planes (seeded LCG) so results are
    reproducible."""
    if seed_planes is None:
        from big_ann_spark.functions.vector import lcg_planes

        planes = lcg_planes(n_planes, dim)
    else:
        planes = seed_planes

    def bucket_expr(vec):
        bits = []
        for i, plane in enumerate(planes):
            dot = F.aggregate(
                F.zip_with(
                    F.col(vec).cast("array<double>"),
                    F.array(*[F.lit(x) for x in plane]),
                    lambda a, b: a * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            bits.append(F.when(dot > 0, F.lit(1 << i)).otherwise(F.lit(0)))
        out = bits[0]
        for b in bits[1:]:
            out = out + b
        return out

    qb = queries.select(
        F.col(query_id).alias("qid"), F.col(query_vec).alias("qvec")
    ).withColumn("bucket", bucket_expr("qvec"))
    if multiprobe:
        # probe the query's bucket plus every bucket at Hamming
        # distance 1 (one flipped hyperplane sign): n_planes+1 probes
        # per query — the standard multi-probe LSH recall lift without
        # touching the base side's layout
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)],
        )
        qb = qb.withColumn("bucket", F.explode(probes))
    bb = base.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_bvec")
    ).withColumn("bucket", bucket_expr("_bvec"))
    cands = qb.join(bb, "bucket").select(
        "qid", "neighbor_id", l2_distance("qvec", "_bvec").alias("dist")
    )
    if multiprobe:
        cands = cands.distinct()
    return top_k_per_group(
        cands, ["qid"], [F.col("dist").asc(), F.col("neighbor_id").asc()], k
    )


def nn_descent_knn_graph(
    vectors: DataFrame,
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 3,
    dim: int | None = None,
    build_k: int | None = None,
    reverse_cap: int | None = None,
    init_memberships: int = 2,
    seed: int = 1,
    merge_strategy: str = "window",
    sample_rate: float = 1.0,
    local_join: str = "full",
    converge_churn: float | None = None,
    init_graph: DataFrame | None = None,
    local_join_cap: int | None = None,
    local_join_schedule: list[int] | None = None,
) -> DataFrame:
    """Approximate kNN-graph construction by NN-Descent (Dong, Moses &
    Li, WWW 2011) — the build stage behind graph-ANN indexes
    (HNSW/NSG/kNN-graph pipelines), expressed entirely as joins +
    per-node top-k:

    1. **Init**: each node hashes into ``init_memberships``
       pseudo-random buckets sized ~k (deterministic ``xxhash64``, no
       RNG state); all within-bucket pairs seed the graph.
    2. **Iterate**: "a neighbor of my neighbor is likely my neighbor" —
       per pivot node, its (bounded) forward ∪ reverse neighbor set is
       locally joined with itself; fresh pairs are scored exactly and
       merged into the per-node top-k (ties break on (dist, id) so the
       whole build is deterministic).

    Scale shape: per-iteration candidate volume is Σ_v deg(v)² ≤
    n·(k + reverse_cap)² — LINEAR in n for fixed k (vs the O(n²)
    all-pairs graph build); every stage is an equi-join on node/pair
    keys or a WindowGroupLimit top-k, the graph state is exactly n·k
    rows, and ``localCheckpoint`` truncates per-round lineage (the
    min_label_components pattern). The default is the simple
    bounded-degree full-local-join variant; ``local_join="new_old"``
    enables the paper's new/old-flag trim (see below).

    ``build_k`` (default 2·k) is the internal graph degree — the
    standard search-amplification trick: descending on a 2× wider graph
    then truncating to k lifts recall from ~0.79 to ~0.99 on the 64-d
    gaussian fixtures (measured at n=300) because the wider frontier
    escapes local optima that a k-degree descent converges into.

    ``converge_churn`` (requires ``local_join="new_old"``): stop as
    soon as a round changes ≤ that fraction of the n·build_k graph
    edges — the paper's delta stopping rule; ``iterations`` then acts
    as the safety cap. Pair it with the new/old trim: converged rounds
    are exactly the ones where the trim makes candidates ~10% of the
    full join (SCALE.md).

    ``init_graph``: a pre-seeded ``(src, dst[, dist])`` edge set that
    REPLACES the hash-bucket init (re-scored with the canonical
    distance expression — see the inline invariant — and truncated to
    build_k per src) — the
    scale path: the hash init's early rounds are
    all-churn and their candidate volume is what killed the 2M build
    (>80 GB spill / OOM); an IVF-seeded start
    (:func:`ivf_seeded_knn_graph`) begins at high recall so the
    iterations are REFINEMENT, not discovery. The orphan backfill is
    the seeder's responsibility (every node needs ≥1 src row).

    ``local_join_cap`` (J): bound each pivot's local-join membership
    to its J NEAREST forward and J nearest reverse neighbors
    ((dist, dst) order), capping per-round candidate volume at
    n·(2J)² regardless of build_k — the knob that keeps a refinement
    round's shuffle linear-in-n small at 2M+ (SCALE.md). The
    merge still unions the FULL previous graph, so no edge is ever
    dropped from the graph state; only pair GENERATION is trimmed
    (like ``sample_rate``, but deterministic and biased to the
    current-best neighborhood — the right bias when the seed is
    already high-recall; on a cold hash init it slows discovery).

    ``local_join_schedule``: a per-round J list (e.g. ``[8, 12, 16]``)
    replacing the single ``local_join_cap`` — ``iterations`` becomes
    ``len(schedule)``. Rationale: early rounds on a
    high-recall seed only need small-J cheap passes to fix easy
    edges; on near-equidistant (clusterless) data the REMAINING
    misses need a wider candidate neighborhood, so spending J where
    the graph has already partially converged buys more recall per
    candidate than a flat J at every round. Total volume is
    n·Σ(2Jᵢ)² — still linear in n. Mutually exclusive with
    ``local_join_cap``.

    Returns ``(src, dst, dist, rank)``, rank 1..k by (dist, dst).
    """
    kb = build_k if build_k is not None else 2 * k
    # validate BEFORE any Spark job (the init checkpoint is the
    # build's most expensive stage — a knob typo must not cost it).
    # `is not None`, not truthiness: a falsy 0 must not silently run
    # the UNCAPPED join (the exact spill/OOM regime the cap prevents)
    jcap = int(local_join_cap) if local_join_cap is not None else None
    if jcap is not None and jcap < 1:
        raise ValueError(f"local_join_cap must be >= 1, got {jcap}")
    if local_join_schedule is not None:
        if local_join_cap is not None:
            raise ValueError(
                "local_join_schedule and local_join_cap are mutually "
                "exclusive — the schedule IS the per-round cap"
            )
        schedule = [int(j) for j in local_join_schedule]
        if not schedule or any(j < 1 for j in schedule):
            raise ValueError(
                f"local_join_schedule needs >=1 rounds of J >= 1, "
                f"got {local_join_schedule!r}"
            )
        iterations = len(schedule)
    else:
        schedule = None
    vt = vectors.select(F.col(id_col).alias("_nid"), F.col(vec_col).alias("_nvec"))
    # n feeds only the hash init's bucket count and the churn stop
    # rule — a seeded build without converge_churn must not pay a
    # full-scan count job (the seeder counted already)
    n = (
        vt.count()
        if init_graph is None or converge_churn is not None
        else 0
    )
    n_buckets = max(1, (n * init_memberships) // max(kb, 1))
    member = vt.select(
        "_nid",
        F.explode(
            F.array(
                *[
                    (
                        F.xxhash64(F.col("_nid"), F.lit(seed), F.lit(j)) % n_buckets
                        + n_buckets
                    )
                    % n_buckets
                    for j in range(init_memberships)
                ]
            )
        ).alias("_bkt"),
    ).distinct()
    init_pairs = (
        member.alias("a")
        .join(member.alias("b"), "_bkt")
        .select(F.col("a._nid").alias("u"), F.col("b._nid").alias("v"))
        .filter(F.col("u") < F.col("v"))
        .distinct()
    )
    # Orphan backfill: a node whose init buckets are ALL
    # singletons gets no init pair, and a node absent from the seed
    # graph can never be rediscovered by later iterations — it would be
    # silently missing from the returned graph. Detect orphans from the
    # BUCKET SIZES (a node is orphaned iff its largest bucket has one
    # member — n·m rows aggregated twice, never touching the much
    # larger init_pairs stream) and pair each with the two globally
    # smallest ids (two, so the min node itself can orphan) — a
    # broadcastable 2-row anchor table, exact scoring, and the descent
    # iterations then pull the node toward its true neighborhood.
    # Orphan pairs are disjoint from init_pairs by construction (an
    # orphan appears in NO init pair), so the union needs no distinct.
    # Every node is thereby guaranteed ≥1 src row in the output; an
    # orphan's competitiveness as an INCOMING edge of its anchor
    # remains heuristic, as for every edge in NN-Descent.
    bkt_sizes = member.groupBy("_bkt").agg(F.count("*").alias("_bn"))
    orphans = (
        member.join(bkt_sizes, "_bkt")
        .groupBy("_nid")
        .agg(F.max("_bn").alias("_mx"))
        .filter(F.col("_mx") == 1)
        .select("_nid")
    )
    anchors = vt.select(F.col("_nid").alias("_aid")).orderBy("_aid").limit(2)
    orphan_pairs = (
        orphans.crossJoin(F.broadcast(anchors))
        .filter(F.col("_nid") != F.col("_aid"))
        .select(
            F.least("_nid", "_aid").alias("u"),
            F.greatest("_nid", "_aid").alias("v"),
        )
        .distinct()
    )
    init_pairs = init_pairs.unionByName(orphan_pairs)

    def _score(cand: DataFrame) -> DataFrame:
        s = (
            cand.join(vt.alias("va"), F.col("u") == F.col("va._nid"))
            .join(vt.alias("vb"), F.col("v") == F.col("vb._nid"))
            .select(
                "u", "v", l2_distance("va._nvec", "vb._nvec", dim).alias("dist")
            )
        )
        return s.select(
            F.col("u").alias("src"), F.col("v").alias("dst"), "dist"
        ).union(s.select(F.col("v").alias("src"), F.col("u").alias("dst"), "dist"))

    order = [F.col("dist").asc(), F.col("dst").asc()]
    if init_graph is not None:
        # the seed replaces the hash init (which stays lazy above —
        # zero jobs). RE-SCORE the seed pairs with the one l2_distance
        # expression every iteration uses: the merge's dedup invariant
        # is "a duplicate (src,dst) always carries the identical dist",
        # and a seed scored elsewhere (numpy gemm) differs in the last
        # ulp, so the same edge would survive twice and a node's top-k
        # could hold duplicate dsts. Any provided dist is ignored.
        ig = (
            init_graph.select("src", "dst")
            .distinct()
            .join(
                vt.select(
                    F.col("_nid").alias("src"), F.col("_nvec").alias("_sv")
                ),
                "src",
            )
            .join(
                vt.select(
                    F.col("_nid").alias("dst"), F.col("_nvec").alias("_dv")
                ),
                "dst",
            )
            .select("src", "dst", l2_distance("_sv", "_dv", dim).alias("dist"))
        )
        graph = (
            top_k_per_group(ig, ["src"], order, kb)
            .drop("rank")
            .localCheckpoint()
        )
    else:
        graph = (
            top_k_per_group(_score(init_pairs), ["src"], order, kb)
            .drop("rank")
            .localCheckpoint()
        )
    rcap = reverse_cap if reverse_cap is not None else kb
    # new/old flags (Dong et al. §2.2, the paper's actual candidate
    # trim): a co-neighbor pair needs scoring only in a round where at
    # least one endpoint is NEWLY arrived in the shared pivot's
    # adjacency — a both-old pair was generated in the round the later
    # endpoint arrived, and re-scoring it is pure waste (the duplicate
    # collapses in the merge anyway). After round 1 most adjacency is
    # old, so candidate volume per round drops toward the churn rate
    # instead of staying at Σdeg². NOT guaranteed bit-identical to the
    # full local join when reverse_cap truncates: an edge can persist
    # in the graph while bouncing in and out of the capped reverse
    # list, re-surfacing as "old" in a round the full join would have
    # paired it — equality holds on the test fixtures, and recall is
    # pinned either way. flags_new holds last round's graph additions
    # (round 0: everything is new).
    flags_new = None
    if sample_rate < 1.0 and local_join == "new_old":
        # an edge Bernoulli-sampled out of its ONLY "new" round becomes
        # old forever, so its co-neighbor pairs are never generated in
        # any later round — the combination silently loses recall far
        # beyond either knob's documented cost. The knobs also serve
        # opposite regimes (volume-capped early rounds vs converged
        # late rounds), so combining them is rejected, not repaired.
        raise ValueError(
            'sample_rate < 1.0 cannot combine with local_join="new_old"'
        )
    if converge_churn is not None and local_join != "new_old":
        # churn is a by-product of the flags machinery; requiring the
        # flag mode also means a convergence-driven build automatically
        # runs the candidate trim that makes its late rounds ~10% cost
        # (SCALE.md) — the regime the stop rule exists for
        raise ValueError('converge_churn requires local_join="new_old"')
    if local_join == "new_old":
        flags_new = graph.select("src", "dst")
    for it in range(iterations):
        jcap_it = schedule[it] if schedule is not None else jcap
        if local_join == "new_old":
            g_ann = graph.join(
                flags_new.withColumn("_new", F.lit(True)), ["src", "dst"], "left"
            ).withColumn("_new", F.coalesce("_new", F.lit(False)))
        else:
            g_ann = graph.withColumn("_new", F.lit(True))
        # local_join_cap: only a pivot's J nearest forward neighbors
        # enter its self-join (the reverse side is capped to J below
        # too) — per-round candidate volume ≤ n·(2J)² whatever kb is.
        # Pair generation only; the merge still unions the full graph.
        g_join = (
            top_k_per_group(g_ann, ["src"], order, jcap_it).drop("rank")
            if jcap_it is not None and jcap_it < kb
            else g_ann
        )
        rev = g_ann.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "dist", "_new"
        )
        rev = top_k_per_group(
            rev, ["src"], order, rcap if jcap_it is None else min(rcap, jcap_it)
        ).drop("rank")
        both = (
            g_join.select("src", "dst", "_new")
            .union(rev.select("src", "dst", "_new"))
            .groupBy("src", "dst")
            .agg(F.max("_new").alias("_new"))
        )
        if jcap_it is not None and jcap_it < kb:
            # materialize the trimmed adjacency (n·2J id rows, tiny):
            # the two window lineages otherwise reach the self-join as
            # a PartitioningCollection whose members AQE coalesced to
            # different partition counts — the planner rejects that
            # ("requirement failed") — and the checkpoint also stops
            # the double recompute through the a/b aliases below
            both = both.localCheckpoint()
        if sample_rate < 1.0:
            # the paper's ρ-sampling (Dong et al. §2.3), coarse form:
            # thin each adjacency list to an expected ρ fraction
            # BEFORE the pivot self-join, cutting candidate volume by
            # ρ² per iteration. Deterministic Bernoulli via an edge
            # hash keyed on the iteration index (different edges each
            # round, reproducible across runs) — a pure filter, no
            # extra shuffle, unlike exact per-list ρ·K sampling which
            # would cost another per-src window. The merge below still
            # unions the FULL previous graph, so sampling only skips
            # pivots this round — no edge is ever dropped from the
            # graph state, matching the paper (sampling affects
            # candidate generation only). Measured honestly in
            # SCALE.md: on a single node this coarse row-level variant
            # slows convergence faster than it cuts cost (a pair needs
            # both endpoints to survive on a shared pivot, ρ²/round);
            # the new/old-flag refinement (local_join="new_old") is the
            # principled alternative — mutually exclusive with this
            # knob, see the guard above.
            both = both.filter(
                F.pmod(
                    F.xxhash64("src", "dst", F.lit(seed), F.lit(1000 + it)),
                    F.lit(1_000_000),
                )
                < int(sample_rate * 1_000_000)
            )
        # carry each neighbor's VECTOR through one self-join on the
        # pivot: the candidate pairs (the biggest stream by far,
        # n·deg² rows) materialize with both vectors already in-task,
        # so they are scored and projected down to (src, dst, dist)
        # inside the join stage — never shuffled, never re-joined to
        # the vector table (the previous form shuffled the candidate
        # id-pair stream three more times: distinct + two vector
        # joins). Duplicate pairs from shared pivots are rescored
        # (cheap codegen) and collapse in the dropDuplicates below.
        both_v = both.join(vt, both["dst"] == vt["_nid"]).select(
            "src", "dst", "_new", F.col("_nvec").alias("_dv")
        )
        pair_pred = F.col("a.dst") < F.col("b.dst")
        if local_join == "new_old":
            pair_pred = pair_pred & (F.col("a._new") | F.col("b._new"))
        pairs = (
            both_v.alias("a")
            .join(both_v.alias("b"), "src")
            .filter(pair_pred)
            .select(
                F.col("a.dst").alias("u"),
                F.col("b.dst").alias("v"),
                l2_distance("a._dv", "b._dv", dim).alias("dist"),
            )
        )
        edges = pairs.select(
            F.col("u").alias("src"), F.col("v").alias("dst"), "dist"
        ).union(pairs.select(F.col("v").alias("src"), F.col("u").alias("dst"), "dist"))
        merged = graph.union(edges)
        if merge_strategy == "agg":
            # ONE exchange per round: groupBy(src) collecting each
            # node's (dist, dst) structs, sort + adjacent-dup removal +
            # slice(kb) inside the aggregate. The window form below
            # shuffles the edge stream twice (dropDuplicates clusters
            # on (src,dst), the top-k window re-clusters on src);
            # identical output because a duplicate (src,dst) always
            # carries the identical dist (deterministic expression), so
            # struct-identity dedup == pair dedup, and (dist, dst)
            # struct order == the window's order. Per-group state is
            # bounded by the node's per-round candidate degree (~deg²),
            # not by n. A/B-measured in SCALE.md.
            agg = merged.groupBy("src").agg(
                F.slice(
                    F.array_distinct(
                        F.array_sort(F.collect_list(F.struct("dist", "dst")))
                    ),
                    1,
                    kb,
                ).alias("_nn")
            )
            graph_next = (
                agg.select("src", F.explode("_nn").alias("_e"))
                .select("src", F.col("_e.dst").alias("dst"), F.col("_e.dist").alias("dist"))
                .localCheckpoint()
            )
        else:
            merged = merged.dropDuplicates(["src", "dst"])
            graph_next = (
                top_k_per_group(merged, ["src"], order, kb)
                .drop("rank")
                .localCheckpoint()
            )
        last_round = it == iterations - 1
        if local_join == "new_old" and (converge_churn is not None or not last_round):
            # next round's "new" set = edges the merge just added (on
            # the final round the flags are only read by the churn
            # stopping rule — skip the job entirely otherwise)
            flags_new = (
                graph_next.select("src", "dst")
                .join(graph.select("src", "dst"), ["src", "dst"], "left_anti")
                .localCheckpoint()
            )
        graph = graph_next
        if converge_churn is not None:
            # stop when the merge changed ≤ converge_churn of the n·kb
            # graph edges — run-to-convergence is NN-Descent's natural
            # stopping rule (the paper's delta parameter), and
            # `iterations` becomes the safety CAP, not the schedule.
            # The count is on the already-checkpointed flags (no extra
            # lineage), one tiny job per round.
            if flags_new.count() <= converge_churn * n * kb:
                break
    return top_k_per_group(graph, ["src"], order, k)


def _assign_top_probes(
    points: DataFrame,
    centroids: list[tuple[int, list[float]]],
    probes: int,
    *,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Each point duplicated onto its ``probes`` nearest centroids —
    ``(id, vec, _sid)``, one mapInArrow pass that picks them with
    ``knn.nearest_centroids`` (exact fold distances, ties to the lower
    shard id) against the centroid matrix shipped in the closure."""

    sids = np.array([c[0] for c in centroids], dtype=np.int64)
    C = np.array([c[1] for c in centroids], dtype=np.float64)
    p = max(1, min(int(probes), len(sids)))
    idt = points.schema[id_col].dataType.simpleString()
    vct = points.schema[vec_col].dataType.simpleString()
    out_schema = f"{id_col} {idt}, {vec_col} {vct}, _sid int"

    def run(batches):
        import pyarrow as pa

        from big_ann_spark.functions.arrowio import list_col_matrix

        for rb in batches:
            n = rb.num_rows
            if not n:
                continue
            top, _ = nearest_centroids(list_col_matrix(rb, vec_col), sids, C, p)
            idx = pa.array(np.repeat(np.arange(n, dtype=np.int64), p))
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(id_col).take(idx),
                    rb.column(vec_col).take(idx),
                    pa.array(sids[top].ravel().astype(np.int32), type=pa.int32()),
                ],
                names=[id_col, vec_col, "_sid"],
            )

    return points.select(id_col, vec_col).mapInArrow(run, schema=out_schema)


# ``seeding="auto"`` switches the cell fit to the two-level path above
# this many cells: flat MLlib Lloyd cost is sample·k·d per iteration,
# and the 2M-validated build (977 cells) is the last decade where one
# flat fit is clearly fine — at 20M the build needs ~9.8k cells and at
# 200M ~98k (n_shards grows linearly with n).
TWO_LEVEL_SEEDING_ABOVE = 4096


def _seed_cell_centroids(
    samp: DataFrame,
    n_cells: int,
    *,
    seed: int,
    max_iter: int,
    mode: str = "auto",
) -> list[tuple[int, list[float]]]:
    """The cell-centroid fit behind :func:`ivf_seeded_knn_graph`'s
    seeding pass — ``[(cell_id, centroid)]`` over the (already
    sample-capped) vector table ``samp`` with columns
    ``(_nid, _nvec)``.

    ``mode="flat"``: one MLlib KMeans with k = ``n_cells``, fine
    through ~4k cells.

    ``mode="two_level"``: hierarchical seeding that removes the flat
    fit's k-scaling ceiling (cells grow LINEARLY
    with n at fixed ``target_shard_rows``, so one flat Lloyd is
    sample·n_cells·d per iteration and its k×d centroid broadcast
    grows with n): first a SMALL MLlib fit to ``ceil(sqrt(n_cells))``
    super-cells, then ONE ``applyInPandas`` pass sub-clustering each
    super-cell's sample rows with a local numpy Lloyd into its
    apportioned share of the cells (largest-remainder split of
    ``n_cells`` by super-cell sample mass, each share capped by the
    super-cell's row count). Total Lloyd work drops from
    sample·n_cells·d to sample·(sqrt + n_cells/sqrt)·d per iteration,
    the driver never broadcasts more than the super-cell table, and
    the sub-fits parallelize across the cluster. Cells out =
    ``n_cells`` up to apportionment caps (a super-cell cannot host
    more centers than sample rows — the deficit is documented, not
    silently re-spread, so cell counts stay reproducible).

    ``mode="auto"``: flat at or under ``TWO_LEVEL_SEEDING_ABOVE``
    cells (bit-identical to a flat build), two-level above.

    The downstream contract is unchanged either way: the centroids
    seed a multi-probe assignment, so seeding quality shifts WHERE
    the within-cell kNN work lands, never correctness — the
    NN-Descent refinement closes seams regardless."""
    import pandas as pd

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if mode not in ("auto", "flat", "two_level"):
        raise ValueError(
            f"seeding={mode!r}: expected auto | flat | two_level"
        )
    n_cells = int(n_cells)

    def _mllib_fit(df: DataFrame, k: int) -> list[list[float]]:
        feat = df.select(
            array_to_vector(F.col("_nvec").cast("array<double>")).alias(
                "features"
            )
        )
        model = KMeans(k=k, seed=seed, maxIter=int(max_iter)).fit(feat)
        return [[float(x) for x in c] for c in model.clusterCenters()]

    if mode == "flat" or (
        mode == "auto" and n_cells <= TWO_LEVEL_SEEDING_ABOVE
    ):
        return list(enumerate(_mllib_fit(samp, n_cells)))

    # ---- two-level path ----
    # materialize the sample once: it feeds the super fit, the
    # assignment AND the sub-fits (re-evaluating a Bernoulli sample
    # lineage three times is wasted scans, not a correctness risk)
    samp = samp.localCheckpoint()
    n_super = max(2, int(np.ceil(np.sqrt(n_cells))))
    super_cents = list(enumerate(_mllib_fit(samp, n_super)))
    sa = _assign_top_probes(
        samp, super_cents, 1, id_col="_nid", vec_col="_nvec"
    ).localCheckpoint()  # consumed twice: counts + sub-fits
    counts = {
        int(r["_sid"]): int(r["cnt"])
        for r in sa.groupBy("_sid").agg(F.count("*").alias("cnt")).collect()
    }
    n_samp = sum(counts.values())
    # largest-remainder apportionment of n_cells by sample mass;
    # every non-empty super-cell holds >= 1 center, none more centers
    # than rows
    quotas = {s: n_cells * c / n_samp for s, c in counts.items()}
    k_map = {
        s: max(1, min(counts[s], int(quotas[s]))) for s in counts
    }
    deficit = n_cells - sum(k_map.values())
    if deficit > 0:
        by_frac = sorted(
            counts,
            key=lambda s: (quotas[s] - int(quotas[s]), s),
            reverse=True,
        )
        for s in by_frac:
            if deficit <= 0:
                break
            if k_map[s] < counts[s]:
                k_map[s] += 1
                deficit -= 1
    iters = int(max_iter)

    def sub_fit(key, pdf):
        k_i = min(int(k_map.get(int(key[0]), 1)), len(pdf))
        ids = pdf["_nid"].to_numpy(dtype=np.int64)
        V = np.asarray(np.stack(pdf["_nvec"].to_numpy()), dtype=np.float64)
        # deterministic hash-spread init (id order carries no geometry;
        # the golden-ratio hash spreads picks across the cell)
        h = ids.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
        C = V[np.sort(np.argsort(h, kind="stable")[:k_i])].copy()
        for _ in range(iters):
            a = nearest_centroids(V, np.arange(k_i), C, 1)[0][:, 0]
            S = np.zeros_like(C)
            np.add.at(S, a, V)
            cnt = np.bincount(a, minlength=k_i).astype(np.float64)
            nz = cnt > 0
            C[nz] = S[nz] / cnt[nz, None]  # empty centers keep position
        return pd.DataFrame(
            {
                "_ssid": np.full(k_i, int(key[0]), dtype=np.int64),
                "_idx": np.arange(k_i, dtype=np.int64),
                "centroid": [c.tolist() for c in C],
            }
        )

    rows = (
        sa.groupBy("_sid")
        .applyInPandas(
            sub_fit, schema="_ssid long, _idx long, centroid array<double>"
        )
        .collect()
    )
    # stable global ids: collect order is partition-arbitrary, so sort
    # by (super-cell, local index) before numbering
    rows.sort(key=lambda r: (r["_ssid"], r["_idx"]))
    return [(i, list(r["centroid"])) for i, r in enumerate(rows)]


def ivf_seeded_knn_graph(
    vectors: DataFrame,
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    build_k: int | None = None,
    probes: int = 2,
    target_shard_rows: int = 4096,
    max_shard_rows: int = 65536,
    refine_iterations: int = 1,
    local_join_cap: int | None = 8,
    refine_schedule: list[int] | None = None,
    seed: int = 1,
    kmeans_sample_cap: int = 200_000,
    kmeans_max_iter: int = 10,
    merge_strategy: str = "agg",
    seeding: str = "auto",
) -> DataFrame:
    """kNN-graph build that SURVIVES a scale-up —
    IVF-seeded init + capped NN-Descent refinement, replacing the
    hash-bucket init whose all-churn early rounds killed the 2M build
    (>80 GB shuffle spill, then OOM):

    1. **Partition**: a cell-centroid fit on a seeded Bernoulli
       sample (cap ``kmeans_sample_cap`` — spread across partitions,
       never a ``limit`` slice, which covers only the clusters the
       first partitions hold) into
       ``ceil(n·probes / target_shard_rows)`` cells. ``seeding=``
       picks the fit: one flat MLlib KMeans, or the two-level
       hierarchical fit past ``TWO_LEVEL_SEEDING_ABOVE`` cells
       (``"auto"``, the default — see
       :func:`_seed_cell_centroids`; cells grow linearly with n, so
       the flat fit's sample·k·d Lloyd cost is the build's only
       super-linear-in-n term).
    2. **Multi-assign**: every vector rides to its ``probes`` nearest
       cells (one broadcast-matrix Arrow pass) — the 2nd+ probe is
       what covers Voronoi-boundary neighbors, the recall hole of
       single-cell seeding.
    3. **Within-cell exact kNN**: one ``applyInPandas`` per cell —
       blocked f64 BLAS, candidates hash-subsampled past
       ``max_shard_rows`` (skew guard: all rows stay sources; the
       QUADRATIC distance work and the candidate matrix are bounded,
       so a runaway cell degrades recall rather than exploding
       compute — note ``applyInPandas`` still materializes the whole
       group's rows once, an O(n_cell·d) linear term the cap cannot
       remove; a cell would need ~10⁸ rows before THAT is the task
       killer). Per-cell cost is n_cell², bounded by the shard
       target — TOTAL work ~n·target_shard_rows·probes², linear in n.
    4. **Merge + refine**: per-src union across probes (min-dist dedup
       — the same pair scored in two cells can differ in the last ulp
       across gemm shapes), then ``refine_iterations`` NN-Descent
       rounds with ``init_graph=`` the seed and ``local_join_cap=`` J
       (candidate volume n·(2J)² per round) to close the remaining
       cross-cell edges. ``refine_schedule=[J₁, J₂, …]`` replaces
       that flat pair with per-round growing caps (spend J where the graph has already partially converged; see
       :func:`nn_descent_knn_graph`'s ``local_join_schedule``).

    The reference's analog is its per-shard hnswlib build
    (``src/util/utils.py:286-296``) — shard-local index construction;
    this distributes the sharding AND the within-shard build, with the
    descent rounds recovering the cross-shard edges the reference
    simply forgoes. Scale shape at 100 TB: every stage is a bounded
    shuffle linear in n (n·probes assignment rows, n·probes·build_k
    seed edges, n·(2J)² refinement candidates); nothing is quadratic
    in n and no stage collects to the driver beyond the centroid
    table. Returns ``(src, dst, dist, rank)`` like
    :func:`nn_descent_knn_graph`."""
    import pandas as pd

    kb = build_k if build_k is not None else 2 * k
    order = [F.col("dist").asc(), F.col("dst").asc()]
    vt = vectors.select(
        F.col(id_col).alias("_nid"), F.col(vec_col).alias("_nvec")
    )
    n = vt.count()
    if n == 0:
        raise ValueError("ivf_seeded_knn_graph: empty vector table")
    p = max(1, int(probes))
    n_shards = int(max(p, min(n, -(-(n * p) // int(target_shard_rows)))))

    frac = min(1.0, kmeans_sample_cap / n)
    samp = vt.sample(fraction=frac, seed=seed) if frac < 1.0 else vt
    cents = _seed_cell_centroids(
        samp,
        n_shards,
        seed=seed,
        max_iter=int(kmeans_max_iter),
        mode=seeding,
    )

    assigned = _assign_top_probes(
        vt, cents, p, id_col="_nid", vec_col="_nvec"
    )

    kb_ = int(kb)
    cap_ = int(max_shard_rows)

    def shard_knn(pdf):
        n_s = len(pdf)
        if n_s < 2:
            return pd.DataFrame(
                {
                    "src": pd.array([], dtype="int64"),
                    "dst": pd.array([], dtype="int64"),
                    "dist": pd.array([], dtype="float64"),
                }
            )
        ids = pdf["_nid"].to_numpy(dtype=np.int64)
        V = np.asarray(np.stack(pdf["_nvec"].to_numpy()), dtype=np.float64)
        if n_s > cap_:
            # skew guard: hash-spread candidate subset, all rows stay
            # sources — bounds the quadratic work and the candidate
            # matrix (the group's own rows are already materialized by
            # applyInPandas; see the operator docstring)
            h = ids.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
            keep = np.sort(np.argsort(h, kind="stable")[:cap_])
            Cm, cids = V[keep], ids[keep]
        else:
            Cm, cids = V, ids
        c_sq = (Cm * Cm).sum(axis=1)
        srcs, dsts, dists = [], [], []
        for lo in range(0, n_s, 512):
            hi = min(lo + 512, n_s)
            blk = V[lo:hi]
            d2 = (
                (blk * blk).sum(axis=1)[:, None]
                - 2.0 * (blk @ Cm.T)
                + c_sq[None, :]
            )
            np.maximum(d2, 0.0, out=d2)
            d2[cids[None, :] == ids[lo:hi, None]] = np.inf  # no self edge
            m = d2.shape[1]
            kk = min(kb_, m)
            if kk < m:
                part = np.argpartition(d2, kk - 1, axis=1)[:, :kk]
            else:
                part = np.tile(np.arange(m), (hi - lo, 1))
            rows = np.repeat(np.arange(hi - lo), part.shape[1])
            dd = d2[rows, part.ravel()]
            fin = np.isfinite(dd)
            srcs.append(np.repeat(ids[lo:hi], part.shape[1])[fin])
            dsts.append(cids[part.ravel()][fin])
            dists.append(np.sqrt(dd[fin]))
        return pd.DataFrame(
            {
                "src": np.concatenate(srcs),
                "dst": np.concatenate(dsts),
                "dist": np.concatenate(dists),
            }
        )

    seed_edges = assigned.groupBy("_sid").applyInPandas(
        shard_knn, schema="src long, dst long, dist double"
    )
    # cross-probe dedup by MIN dist (ulp-level gemm drift across cell
    # shapes means the same pair's two scores need not be bit-equal),
    # then the per-src truncation to the internal degree
    seed_pairs = seed_edges.groupBy("src", "dst").agg(F.min("dist").alias("dist"))
    # materialize: consumed twice below (output + the orphan anti-join)
    # — never recompute the per-cell kNN pass
    seed_graph = (
        top_k_per_group(seed_pairs, ["src"], order, kb_)
        .drop("rank")
        .localCheckpoint()
    )

    # orphan backfill (every node needs ≥1 src row — the init contract
    # nn_descent's hash path guarantees and init_graph delegates): a
    # node whose every probe cell is a singleton emits no edges; pair
    # it with the two smallest ids, both directions, exactly scored
    anchors = vt.orderBy("_nid").limit(2).select(
        F.col("_nid").alias("_aid"), F.col("_nvec").alias("_avec")
    )
    orphans = vt.join(
        seed_graph.select(F.col("src").alias("_nid")).distinct(),
        "_nid",
        "left_anti",
    )
    opairs = (
        orphans.crossJoin(F.broadcast(anchors))
        .filter(F.col("_nid") != F.col("_aid"))
        .select(
            F.col("_nid").alias("src"),
            F.col("_aid").alias("dst"),
            l2_distance("_nvec", "_avec", dim).alias("dist"),
        )
    )
    # checkpoint the union: a lazy union of an RDD-backed side with a
    # join lineage reports a PartitioningCollection whose members
    # disagree on numPartitions, and the refinement round's planner
    # rejects it (Spark EnsureRequirements `requirement failed`) —
    # materializing flattens it to one scan (and the orphan anti-join
    # is one tiny job)
    seed_graph = seed_graph.unionByName(
        opairs.unionByName(
            opairs.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "dist"
            )
        )
    ).localCheckpoint()

    if refine_schedule is not None or refine_iterations > 0:
        # refine_schedule (growing-J rounds) replaces
        # the flat (refine_iterations × local_join_cap) pair when given
        return nn_descent_knn_graph(
            vectors,
            k,
            id_col=id_col,
            vec_col=vec_col,
            iterations=int(refine_iterations),
            dim=dim,
            build_k=kb_,
            seed=seed,
            merge_strategy=merge_strategy,
            init_graph=seed_graph,
            local_join_cap=None if refine_schedule is not None else local_join_cap,
            local_join_schedule=refine_schedule,
        )
    return top_k_per_group(
        seed_graph.dropDuplicates(["src", "dst"]), ["src"], order, k
    )


def knn_graph_search(
    queries: DataFrame,
    graph: DataFrame,
    vectors: DataFrame,
    k: int = 10,
    *,
    beam: int = 24,
    hops: int = 6,
    n_entry: int = 64,
    query_id: str = "qid",
    query_vec: str = "qvec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Batch beam search over a kNN graph (the search half of the
    graph-ANN pair whose build half is ``nn_descent_knn_graph``) —
    HNSW/NSG-style greedy navigation re-expressed as per-hop joins:

    1. every query scores ``n_entry`` fixed entry nodes (min-id — the
       same deterministic entries for all queries, like an HNSW entry
       point);
    2. per hop, BEST-FIRST: the ``beam`` best scored-but-unexpanded
       nodes per query join the graph's UNDIRECTED edge closure on
       node id (hash join) and freshly discovered nodes are scored —
       expanding only newly-found nodes instead stalls in dead ends,
       and directed kNN edges alone are near-untraversable backwards;
    3. after ``hops`` rounds, top-k per query over everything scored.

    Tuning (measured on 64-d gaussians): ENTRY COUNT is the lever that
    scales with n, not hop depth — a flat kNN graph has no long-range
    edges (the thing HNSW's hierarchy adds), so from 4 entries a 20k-
    node graph needs 10+ hops for recall 0.8, while 64 entries reach
    recall 1.0 in 6 hops at both 2k and 20k. Scoring entries is one
    tiny broadcast join, so err high.

    Scale shape: per hop the frontier is Q·beam rows and the expansion
    Q·beam·degree — independent of n; the vector table is touched only
    through equi-joins on candidate node ids (at a partitioned layout:
    shard-pruned point lookups), and the accumulated state is bounded
    by Q·(n_entry + hops·beam·degree). Queries ride along the frontier
    rows; nothing is O(n) per query, which is what makes graph search
    the lowest-IO ANN tier. Wholly deterministic ((dist, id)
    tie-breaks), so recall is a stable, testable number.

    Returns (qid, neighbor_id, dist, rank), rank 1..k by (dist, id).
    """
    vt = vectors.select(F.col(id_col).alias("_nid"), F.col(vec_col).alias("_nvec"))
    q = queries.select(F.col(query_id).alias("qid"), F.col(query_vec).alias("_qv"))
    # navigate the UNDIRECTED closure: a directed kNN graph is hard to
    # traverse backwards (b in kNN(a) rarely implies a in kNN(b) in
    # high dim); the reverse edges double the usable degree for free
    edges = (
        graph.select("src", "dst")
        .union(graph.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    entries = vt.orderBy("_nid").limit(n_entry).select("_nid")

    def _score(cand: DataFrame) -> DataFrame:
        # (qid, node) -> (qid, node, dist)
        return (
            cand.join(vt, cand["node"] == vt["_nid"])
            .join(q, "qid")
            .select("qid", "node", l2_distance("_qv", "_nvec", dim).alias("dist"))
        )

    order = [F.col("dist").asc(), F.col("node").asc()]
    scored = _score(
        q.select("qid").crossJoin(
            F.broadcast(entries).select(F.col("_nid").alias("node"))
        )
    ).localCheckpoint()
    expanded = scored.select("qid", "node").filter(F.lit(False)).localCheckpoint()
    for _ in range(hops):
        # BEST-FIRST: expand the beam best scored-but-unexpanded nodes
        # (not merely the newest) — a frontier of fresh-only nodes
        # cannot back up out of a dead end and stalls on larger graphs
        frontier = top_k_per_group(
            scored.join(expanded, ["qid", "node"], "left_anti"),
            ["qid"], order, beam,
        ).drop("rank")
        expanded = expanded.union(frontier.select("qid", "node")).localCheckpoint()
        nbrs = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .select("qid", F.col("dst").alias("node"))
            .distinct()
        )
        fresh = nbrs.join(scored.select("qid", "node"), ["qid", "node"], "left_anti")
        scored = scored.union(_score(fresh)).localCheckpoint()
    return top_k_per_group(
        scored.withColumnRenamed("node", "neighbor_id"),
        ["qid"],
        [F.col("dist").asc(), F.col("neighbor_id").asc()],
        k,
    )


GRAPH_MAX_ENTRIES = 256


def write_knn_graph_layout(
    graph: DataFrame,
    vectors: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_graph_buckets: int = 64,
    n_entries: int = GRAPH_MAX_ENTRIES,
    discard_ops: bool = False,
) -> None:
    """Persist a kNN graph (``nn_descent_knn_graph`` edges) as the
    GRAPH SERVING TIER — the Spark analog of the reference's one
    serving artifact, an on-disk HNSW per shard
    (``src/util/utils.py:286-296``: hnswlib save/load,
    ef_construction=200, M=16). Three artifacts under ``path``:

    - ``graph.parquet`` — ONE ROW PER NODE: ``(node, _nvec,
      neighbors array<long>)`` over the UNDIRECTED edge closure
      (reverse edges folded in at build so the search never recomputes
      them), partitioned by ``_gb = pmod(xxhash64(node),
      n_graph_buckets)`` and id-sorted within each bucket — a hop's
      record fetch prunes to its node ids' buckets and row-group-skips
      inside them. The node's vector rides ON the adjacency row
      (DiskANN's record layout): one fetch serves both expansion and
      scoring, so per-hop IO is O(frontier · degree) records, corpus-
      independent.
    - ``graph_entries.parquet`` — the ``n_entries`` min-id nodes WITH
      vectors (entry scoring is one tiny broadcast, no graph scan;
      default ``GRAPH_MAX_ENTRIES``, a build knob — size it to the
      largest ``n_entry`` searches will ask for).
    - ``graph_meta.parquet`` — the bucket count and the stored entry
      count (layout constants the query side must respect; readers of
      pre-knob layouts fall back to ``GRAPH_MAX_ENTRIES``).

    The TRAVERSAL structure is rebuild-only, like the reference's HNSW
    artifacts — but the tier takes exactly-once mutations through the
    op ledger (``operators/graph_ops``): ops land beside the layout,
    searches serve the live view (contested suppression + brute-force
    side), and compaction rebuilds. The graph tier is the low-IO
    read-optimized serving shape."""
    spark = graph.sparkSession
    # a fresh layout must be PRISTINE: writing into a dir that carried
    # an op ledger (a compaction target reused across generations, or
    # a rebuild over a mutated layout) would otherwise leave the stale
    # ops visible and silently applied to the NEW base at search time.
    # The purge+write runs UNDER the layout's writer lock:
    # COMMITTED ops are refused unless the caller says discard_ops
    # (a direct rebuild over a live mutated layout would silently drop
    # committed mutations — fold them with graph_ops.compact_graph_
    # layout / compact_graph_in_place, which pass the flag after
    # resolving the live view), and a mutator racing this write can no
    # longer land an op between the purge and the new base (both sides
    # contend on the same lock; the lock's compact-marker check also
    # refuses a dst that is mid-swap). Purge-FIRST by design: a crash
    # mid-write then leaves a dst that is OBVIOUSLY inconsistent
    # (ledger gone, base partial) rather than a readable layout
    # silently serving new-base+old-ops. A reused LIVE dst is not
    # crash-atomic either way (the overwrite itself is not) — compact
    # to a fresh dir, or use the swap-guarded
    # graph_ops.compact_graph_in_place for same-path folds.
    from big_ann_spark.operators import oplayout as _ol

    with _ol.writer_lock(spark, path, owner="write_knn_graph_layout"):
        committed = _ol.committed_ops(spark, path)
        if committed and not discard_ops:
            raise ValueError(
                f"write_knn_graph_layout: {path} carries {len(committed)} "
                "committed op(s) — overwriting would silently discard "
                "them. Fold them with graph_ops.compact_graph_layout / "
                "compact_graph_in_place, or pass discard_ops=True to "
                "drop them deliberately."
            )
        _purge_graph_ledger(spark, path)
        _write_graph_artifacts(
            graph, vectors, path,
            id_col=id_col, vec_col=vec_col,
            n_graph_buckets=n_graph_buckets, n_entries=n_entries,
        )


def _purge_graph_ledger(spark, path: str) -> None:
    """Delete the op ledger under ``path`` — ``ops/`` wholesale, and
    ``_ops/`` CONTENTS except the held writer lock (the caller holds
    it; deleting the dir out from under the lock would re-open the
    purge/land race the lock exists to close)."""
    from big_ann_spark.operators import oplayout as _ol

    fs, jp = _ol.fs_path(spark, f"{path}/ops")
    if fs.exists(jp):
        fs.delete(jp, True)
    fs, jp = _ol.fs_path(spark, f"{path}/_ops")
    if fs.exists(jp):
        for st in fs.listStatus(jp):
            if st.getPath().getName() != _ol.WRITER_LOCK:
                fs.delete(st.getPath(), True)
    _ol.forget(path)


def _write_graph_artifacts(
    graph: DataFrame,
    vectors: DataFrame,
    path: str,
    *,
    id_col: str,
    vec_col: str,
    n_graph_buckets: int,
    n_entries: int,
) -> None:
    spark = graph.sparkSession
    vt = vectors.select(
        F.col(id_col).alias("node"), F.col(vec_col).alias("_nvec")
    )
    edges = graph.select("src", "dst").union(
        graph.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    adj = edges.groupBy(F.col("src").alias("node")).agg(
        F.sort_array(F.collect_list("dst")).alias("neighbors")
    )
    records = (
        # LEFT join from the vector table: an edgeless node (possible
        # only on degenerate graphs) still gets a scorable record
        vt.join(adj, "node", "left")
        .withColumn(
            "neighbors",
            F.coalesce("neighbors", F.array().cast("array<long>")),
        )
        .withColumn(
            "_gb", F.pmod(F.xxhash64("node"), F.lit(int(n_graph_buckets)))
        )
    )
    (
        records.repartition(int(n_graph_buckets), "_gb")
        .sortWithinPartitions("node")
        .write.partitionBy("_gb")
        .mode("overwrite")
        .parquet(f"{path}/graph.parquet")
    )
    (
        vt.orderBy("node")
        .limit(int(n_entries))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/graph_entries.parquet")
    )
    (
        spark.createDataFrame(
            [(int(n_graph_buckets), int(n_entries))],
            "n_graph_buckets int, n_entries int",
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/graph_meta.parquet")
    )


def _collect_ids_and_buckets(
    ids_df: DataFrame, n_buckets: int, cap: int
) -> tuple[list[int] | None, list[int] | None]:
    """Count-gate a point-fetch id set (SCALE.md isin rule) in ONE
    job: collect at most ``cap``+1 rows (``limit`` bounds the driver
    payload — no unbounded collect even before the gate decides) WITH
    their ``_gb`` buckets (computed by the same Spark xxhash64 the
    layout hashed with — no driver-side hash mirror to drift). More
    than ``cap`` distinct ids → (None, None), the caller joins
    distributively."""
    rows = (
        ids_df.select(
            "node", F.pmod(F.xxhash64("node"), F.lit(int(n_buckets))).alias("_gb")
        )
        .limit(int(cap) + 1)
        .collect()
    )
    if len(rows) > cap:
        return None, None
    return [r["node"] for r in rows], sorted({r["_gb"] for r in rows})


def _fetch_graph_records(
    spark,
    path: str,
    ids: list[int] | None,
    tbs: list[int] | None,
    cols: list[str],
) -> DataFrame:
    """Point-fetch node records. Bounded ids (the point-lookup
    regime): static ``_gb`` partition filter + literal id ``In`` —
    reads only the ids' buckets, row-group-skips on the sorted node
    column. ``ids=None`` (the big-batch regime, where the bucket set
    saturates at the layout constant anyway): one column-pruned scan
    the caller joins against — amortized over the whole query batch."""
    scan = spark.read.parquet(f"{path}/graph.parquet")
    if ids is not None:
        scan = scan.filter(F.col("_gb").isin([int(b) for b in tbs])).filter(
            F.col("node").isin([int(i) for i in ids])
        )
    return scan.select(*cols)


def knn_graph_search_from_disk(
    queries: DataFrame,
    path: str,
    k: int = 10,
    *,
    beam: int = 24,
    hops: int = 6,
    n_entry: int = 64,
    query_id: str = "qid",
    query_vec: str = "qvec",
    dim: int | None = None,
    max_id_pushdown: int = 1024,
    as_of: int | None = None,
) -> DataFrame:
    """``knn_graph_search`` served off a :func:`write_knn_graph_layout`
    — identical hop algebra, identical results (equality-tested), but
    every adjacency AND vector access is a pruned point-fetch of the
    node-record table instead of an in-memory join: per hop the
    frontier's records (vector + neighbor list in one row) are read
    with ``_gb`` partition pruning and id row-group skipping, so a hop
    costs O(frontier·degree) record reads no matter the corpus size —
    the cold-start story the in-memory operator lacked (its adjacency
    had to be rebuilt per session).

    The frontier id set is COUNT-GATED like every point-fetch in the
    repo (SCALE.md isin rule): ≤ ``max_id_pushdown`` ids push literal
    filters; a wider frontier (large query batches — the bucket set
    saturates at the layout constant anyway) switches to one
    column-pruned scan per hop joined distributively, amortized over
    the batch.

    MUTATIONS (``graph_ops``): a layout carrying
    committed ops serves the LIVE view — the beam walks the base graph
    unchanged (tombstoned records still route, the FreshDiskANN rule),
    then contested node ids are suppressed from the surfaced results
    and the latest-op live vectors are scored exactly as an op-sized
    brute-force side beside the beam, so a fresh upsert that belongs
    in the top-k always surfaces. ``as_of`` snapshots the ledger
    (``None`` = head; same contract as the IVF tiers)."""
    spark = queries.sparkSession
    meta = spark.read.parquet(f"{path}/graph_meta.parquet").collect()[0]
    n_buckets = int(meta["n_graph_buckets"])
    # pre-knob layouts stored only the bucket count; they were all
    # written with the then-constant entry table size
    stored_entries = int(
        meta["n_entries"]
        if "n_entries" in meta.__fields__
        else GRAPH_MAX_ENTRIES
    )
    if n_entry > stored_entries:
        raise ValueError(
            f"n_entry={n_entry} exceeds the layout's stored entry table "
            f"({stored_entries}) — rebuild with write_knn_graph_layout("
            "n_entries=...) sized to it, or lower n_entry"
        )
    q = queries.select(
        F.col(query_id).alias("qid"), F.col(query_vec).alias("_qv")
    ).localCheckpoint()
    entries = (
        spark.read.parquet(f"{path}/graph_entries.parquet")
        .orderBy("node")
        .limit(n_entry)
    )
    order = [F.col("dist").asc(), F.col("node").asc()]

    def _score_against(cand_with_vec: DataFrame) -> DataFrame:
        return cand_with_vec.join(F.broadcast(q), "qid").select(
            "qid", "node", l2_distance("_qv", "_nvec", dim).alias("dist")
        )

    scored = _score_against(
        q.select("qid").crossJoin(F.broadcast(entries.select("node", "_nvec")))
    ).localCheckpoint()
    expanded = scored.select("qid", "node").filter(F.lit(False)).localCheckpoint()
    for _ in range(hops):
        frontier = top_k_per_group(
            scored.join(expanded, ["qid", "node"], "left_anti"),
            ["qid"], order, beam,
        ).drop("rank").localCheckpoint()
        # expanded = union of checkpointed frontiers: the lineage is a
        # union of materialized nodes, no re-checkpoint needed
        expanded = expanded.union(frontier.select("qid", "node"))
        f_ids_df = frontier.select("node").distinct()
        f_ids, f_tbs = _collect_ids_and_buckets(
            f_ids_df, n_buckets, max_id_pushdown
        )
        if f_ids is not None and not f_ids:
            # every scored node of every query is expanded — the search
            # space is exhausted; remaining hops would be no-op jobs
            break
        recs = _fetch_graph_records(
            spark, path, f_ids, f_tbs, ["node", "neighbors"]
        )
        if f_ids is None:
            # over-cap regime: the id set EXCEEDS max_id_pushdown and
            # grows with Q·beam·degree — never force a broadcast of an
            # unbounded set; AQE picks the strategy from
            # the runtime size (small batches still get a broadcast)
            recs = recs.join(f_ids_df, "node", "left_semi")
        nbrs = (
            frontier.select("qid", "node")
            .join(recs, "node")
            .select("qid", F.explode("neighbors").alias("node"))
            .distinct()
        )
        fresh = nbrs.join(
            scored.select("qid", "node"), ["qid", "node"], "left_anti"
        ).localCheckpoint()
        c_ids_df = fresh.select("node").distinct()
        c_ids, c_tbs = _collect_ids_and_buckets(
            c_ids_df, n_buckets, max_id_pushdown
        )
        if c_ids is not None and not c_ids:
            continue  # frontier fully explored — nothing new to score
        cvecs = _fetch_graph_records(
            spark, path, c_ids, c_tbs, ["node", "_nvec"]
        )
        if c_ids is None:
            # same unbounded-set rule as the frontier fetch above
            cvecs = cvecs.join(c_ids_df, "node", "left_semi")
        scored = scored.union(
            _score_against(fresh.join(cvecs, "node"))
        ).localCheckpoint()
    from big_ann_spark.operators import vector_ops as VO

    state = VO.mutation_state(spark, path, as_of)
    if state is not None:
        # suppress contested ids from the BASE results (deletes vanish,
        # re-upserts must not surface their stale vector)...
        scored = scored.join(
            F.broadcast(state.contested.select(F.col("vec_id").alias("node"))),
            "node",
            "left_anti",
        )
        # ...and score the live winners exactly beside the beam —
        # op-sized × query-batch, the IVF contested-side contract
        live = q.crossJoin(
            F.broadcast(
                state.resolved.select(
                    F.col("vec_id").alias("node"),
                    F.col("embedding").alias("_lv"),
                )
            )
        )
        scored = scored.select("qid", "node", "dist").union(
            live.select("qid", "node", l2_distance("_qv", "_lv", dim).alias("dist"))
        )
    return top_k_per_group(
        scored.withColumnRenamed("node", "neighbor_id"),
        ["qid"],
        [F.col("dist").asc(), F.col("neighbor_id").asc()],
        k,
    )
