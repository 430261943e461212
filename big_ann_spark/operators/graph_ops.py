"""Graph-tier freshness — exactly-once mutations on
the persisted kNN-graph layout, the FreshDiskANN serving pattern on
the repo's op-ledger protocol.

A ``write_knn_graph_layout`` dir is rebuild-only in its TRAVERSAL
structure: edges never mutate in place (same as the reference's HNSW
artifacts, ``src/util/utils.py:286-296`` — this tier is parity-plus).
Freshness instead rides the op ledger every other mutable tier uses
(``oplayout``): upserts/deletes land as committed ``ops/_mb=<id>``
partitions beside the layout, and at search time

- the op-sized contested set is resolved latest-op-wins — the SAME
  resolution the IVF tiers run (``vector_ops.mutation_state``);
- deleted / re-upserted nodes are SUPPRESSED from the base results but
  still ROUTE (a tombstoned node's record keeps guiding the beam — the
  FreshDiskANN rule: stale edges navigate, they don't surface);
- live upserted vectors are scored EXACTLY as a brute-force side
  beside the beam (op-sized × query-batch broadcast, the IVF contested
  contract), so a fresh upsert that belongs in the top-k ALWAYS
  surfaces — no waiting for a rebuild to make new data findable.

Compaction folds everything back into a pristine REBUILT layout —
copy-on-write (:func:`compact_graph_layout`) or write-new-then-swap at
the same path (:func:`compact_graph_in_place`, reusing the vector
tier's lock + marker + crash-recovery machinery verbatim).

100 TB shape: mutation resolution is O(ops), the brute-force side is
O(ops × query batch) — both op-sized broadcasts, independent of corpus
size; the contested-size warning and ``compact_if_needed`` policy
apply unchanged (the memoized count keys on the layout path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_ann_spark.operators import oplayout
from big_ann_spark.operators import vector_ops as VO


def _graph_ops_on_disk(spark, path: str) -> set[int]:
    return oplayout.glob_op_ids(spark, f"{path}/ops/_mb=*")


def _vec_type(spark, path: str) -> str:
    """The layout's vector column type — ops across _mb partitions
    must agree on the embedding schema (a delete's NULL vector and an
    upsert's payload read as one table)."""
    sch = spark.read.parquet(f"{path}/graph.parquet").schema
    return sch["_nvec"].dataType.simpleString()


def _land_graph_op(spark, path: str, rows: DataFrame, op_id: int | None) -> int:
    """Purge-first landing of one op's rows under ``ops/_mb=<id>`` +
    commit marker, under the writer lock + claim-first allocation —
    the ``vector_ops._land_vector_op`` contract minus shard routing
    (graph ops have no frozen centroid table; suppression/brute-force
    at query time needs no placement)."""
    with oplayout.writer_lock(spark, path, owner="graph_ops"):
        op_id = oplayout.claim_op_id(
            spark,
            path,
            _graph_ops_on_disk(spark, path),
            oplayout.committed_ops(spark, path),
            op_id=op_id,
        )
        if int(op_id) not in oplayout.committed_ops(spark, path):
            oplayout.purge_op_dirs(spark, [f"{path}/ops/_mb={int(op_id)}"])
        oplayout.write_op_partitions(
            rows.withColumn("_mb", F.lit(int(op_id))), f"{path}/ops", ["_mb"]
        )
        oplayout.mark_committed(spark, path, op_id)
    return int(op_id)


def upsert_graph_vectors(
    spark,
    path: str,
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    op_id: int | None = None,
) -> int:
    """Insert-or-replace ``vectors`` into the graph layout as ONE
    exactly-once op. The new/updated vectors become searchable
    immediately via the brute-force contested side; the traversal
    graph itself is refreshed at the next compaction-rebuild."""
    rows = (
        vectors.select(
            F.col(id_col).cast("long").alias("vec_id"),
            F.col(vec_col).cast(_vec_type(spark, path)).alias("embedding"),
        )
        # one row per id WITHIN a batch (the vector tier's contract):
        # duplicate ids under one op id would tie in latest-op-wins
        # and resolve nondeterministically
        .dropDuplicates(["vec_id"])
        .withColumn("op", F.lit(VO.OP_INSERT))
    )
    return _land_graph_op(spark, path, rows, op_id)


def delete_graph_nodes(
    spark, path: str, ids, *, op_id: int | None = None
) -> int:
    """Tombstone the given node ids (a list, or a DataFrame whose
    FIRST column is the id — the vector_ops CLI convention) as ONE
    exactly-once op. Deleted nodes stop SURFACING at the next search;
    their base records keep routing the beam until a compaction
    rebuilds without them."""
    if isinstance(ids, DataFrame):
        spark_ids = ids.select(
            F.col(ids.columns[0]).cast("long").alias("vec_id")
        ).distinct()
    else:
        spark_ids = spark.createDataFrame(
            [(int(i),) for i in ids], "vec_id long"
        )
    rows = spark_ids.select(
        "vec_id",
        F.lit(None).cast(_vec_type(spark, path)).alias("embedding"),
    ).withColumn("op", F.lit(VO.OP_DELETE))
    return _land_graph_op(spark, path, rows, op_id)


def compact_graph_layout(
    spark,
    src_path: str,
    dst_path: str,
    *,
    k: int = 10,
    dim: int | None = None,
    build: str = "ivf",
    n_graph_buckets: int | None = None,
    n_entries: int | None = None,
    **build_kwargs,
) -> int:
    """Copy-on-write fold: resolve the live view (base nodes minus
    contested, plus latest-op winners), REBUILD the graph over it
    (``build="ivf"`` → :func:`ann.ivf_seeded_knn_graph`, the scale
    path; ``"hash"`` → plain NN-Descent), and write a pristine layout
    at ``dst_path`` carrying the source's bucket/entry constants
    unless overridden. The live layout at ``src_path`` is untouched
    while this runs (crash-safe). Returns ops folded."""
    from big_ann_spark.operators import ann as ANN

    meta = spark.read.parquet(f"{src_path}/graph_meta.parquet").collect()[0]
    if dim is None:
        # the layout knows its dimensionality — rebuilding with the
        # generic aggregate-lambda distance instead of the unrolled
        # codegen form would multiply the rebuild wall for nothing
        first = (
            spark.read.parquet(f"{src_path}/graph.parquet")
            .select("_nvec")
            .head(1)
        )
        if first:
            dim = len(first[0]["_nvec"])
    nb = int(n_graph_buckets or meta["n_graph_buckets"])
    ne = int(
        n_entries
        or (
            meta["n_entries"]
            if "n_entries" in meta.__fields__
            else ANN.GRAPH_MAX_ENTRIES
        )
    )
    base = spark.read.parquet(f"{src_path}/graph.parquet").select(
        F.col("node").alias("vec_id"), F.col("_nvec").alias("embedding")
    )
    state = VO.mutation_state(spark, src_path)
    live = base
    if state is not None:
        live = base.join(
            F.broadcast(state.contested), "vec_id", "left_anti"
        ).unionByName(state.resolved.select("vec_id", "embedding"))
    live = live.localCheckpoint()  # consumed by the build AND the writer
    if build == "ivf":
        edges = ANN.ivf_seeded_knn_graph(live, k, dim=dim, **build_kwargs)
    elif build == "hash":
        edges = ANN.nn_descent_knn_graph(live, k, dim=dim, **build_kwargs)
    else:
        raise ValueError(f"unknown build {build!r} (ivf|hash)")
    ANN.write_knn_graph_layout(
        # discard_ops: the dst's own prior-generation ledger (if any)
        # is deliberately dropped — THIS source's ops are already
        # folded into `live` above, and a reused compaction target's
        # stale ops must not survive the rebuild (regression-tested)
        edges, live, dst_path, n_graph_buckets=nb, n_entries=ne,
        discard_ops=True,
    )
    return len(oplayout.committed_ops(spark, src_path))


def compact_graph_in_place(
    spark,
    path: str,
    *,
    k: int = 10,
    dim: int | None = None,
    build: str = "ivf",
    **build_kwargs,
) -> int:
    """Write-new-then-swap rebuild at the SAME path — the graph tier's
    ``--compact-above`` executor, sharing the vector tier's swap
    machinery verbatim (sibling ``.compact.lock`` marker + in-tree
    writer lock + ``.compacting``/``.precompact`` crash recovery —
    see ``vector_ops.compact_in_place``). Returns ops folded."""
    return VO.compact_in_place(
        spark,
        path,
        compact_fn=lambda s, b, t: compact_graph_layout(
            s, b, t, k=k, dim=dim, build=build, **build_kwargs
        ),
    )
