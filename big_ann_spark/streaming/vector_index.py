"""Streaming vector-index maintenance — the public big-ann-benchmarks
"streaming" track shape (a runbook of insert / delete / search steps
against one evolving index), re-expressed on Structured Streaming.

Reference context: the reference repo builds its KANNDI/IVF shard
layout once, offline (``shard_by_distance.py``); the streaming track is
the companion benchmark the same family defines for indexes that must
absorb updates. The stream has no mutation model of its own: each
micro-batch lands as ONE op of a ``write_sharded`` layout's op ledger
(``operators/vector_ops``), exactly-once through the op-ledger sink
(``streaming/sink.run_op_ledger_sink``, the protocol the graph stream
uses too). So the streamed layout is an ordinary layout:

- **search** is ``ann.ivf_search_from_disk`` (CLI ``search``), and
  ``as_of`` snapshots are op ids;
- **compaction** is ``vector_ops.compact_in_place`` /
  ``compact_if_needed`` (CLI ``index-compact``, ``--compact-above``),
  which carries the stream checkpoint into the compacted tree;
- every reader of live rows takes ``vector_ops.live_frame`` and drops
  the dead base rows by ``ann.drop_dead_rows``.

A batch's inserts are routed and encoded as ``upsert_vectors`` does
them (nearest centroid of the layout's frozen ``centroids.parquet``,
float32 vectors, code columns under the layout's sidecars, the first
row of a duplicated id kept); its deletes are ``TOMBSTONE_SHARD`` rows
as ``delete_vectors`` makes them. Both land under one commit marker,
so an id inserted and deleted in one batch resolves DELETED (same op,
delete beats insert). Every id a batch touches is contested until the
next compaction.

The batch is collected to the driver, at most ``ann.DRIVER_ROWS``
rows: a larger micro-batch fails loudly before anything lands — cap it
at the source (``maxFilesPerTrigger``; the CLI ``vindex-ingest`` reads
one file per micro-batch).

A path holding an index of the former stream layout (``data/``
partitioned by ``_batch_id``, its own checkpoint) is refused: its
checkpoint would skip every source file it had read, so the new layout
would read empty. Re-ingest its source into a new path."""

from __future__ import annotations

from pyspark.sql import DataFrame

from big_ann_spark.operators import oplayout
from big_ann_spark.operators import vector_ops as VO
from big_ann_spark.streaming.sink import run_op_ledger_sink


def _seed_layout(spark, path: str, centroids: DataFrame) -> None:
    """An empty ``write_shards`` layout at ``path`` routed by
    ``centroids``; ``centroids.parquet`` lands last, so a crash leaves
    a path that the next ingest seeds again."""
    from big_ann_spark.operators.sharding import write_shards

    empty = spark.createDataFrame(
        [], "vec_id long, shard_id int, dist double, embedding array<float>"
    )
    write_shards(empty, empty, path)
    (
        centroids.select("shard_id", "centroid")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/centroids.parquet")
    )


def stream_vector_index_ingest(
    stream_df: DataFrame,
    path: str,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    op_col: str | None = None,
    _fault_point=None,
) -> None:
    """Drive a vector stream into the layout at ``path`` (availableNow):
    every micro-batch lands as one committed op of its op ledger, with
    the stream checkpoint at ``{path}/checkpoint``.

    ``stream_df`` carries ``(id_col, vec_col[, op_col])``; without
    ``op_col`` every row is an insert, else each ``op_col`` value is
    ``'insert'`` or ``'delete'`` and any other value fails the batch
    loudly (an exactly-once sink must not be silently lossy).
    ``centroids`` is the ``(shard_id, centroid)`` routing table that
    seeds a path holding no layout yet (train it once with
    ``operators/sharding.kmeans_shard``); a path that already holds one
    — seeded earlier or built by ``write_sharded`` — routes by its own
    frozen ``centroids.parquet``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from big_ann_spark.functions.arrowio import int_col
    from big_ann_spark.operators import ann as ANN

    spark = stream_df.sparkSession
    if not oplayout.path_exists(spark, f"{path}/centroids.parquet"):
        if oplayout.path_exists(spark, f"{path}/data"):
            raise ValueError(
                f"{path} holds a streaming index of the former data/_batch_id= "
                "layout, which the op ledger does not read (its checkpoint "
                "would skip every source file it had read): re-ingest the "
                "source into a new path"
            )
        _seed_layout(spark, path, centroids)
    cols = [id_col, vec_col] + ([op_col] if op_col is not None else [])

    def prepare(batch: DataFrame, batch_id: int):
        b = batch.select(*cols).limit(ANN.DRIVER_ROWS + 1).toArrow()
        if b.num_rows > ANN.DRIVER_ROWS:
            raise ValueError(
                f"micro-batch {batch_id} has more than {ANN.DRIVER_ROWS:,} "
                "rows, and it is collected to the driver: cap the rows per "
                "micro-batch at the stream source (maxFilesPerTrigger; "
                "vindex-ingest reads one file per micro-batch, so split "
                "larger files)"
            )
        schema = VO.op_schema(spark, path)
        if op_col is None:
            ins, dels = b, b.slice(0, 0)
        else:
            ops = b.column(op_col)
            bad = set(pc.unique(ops).to_pylist()) - {VO.OP_INSERT, VO.OP_DELETE}
            if bad:
                raise ValueError(
                    f"batch {batch_id}: unknown op {sorted(bad, key=str)[0]!r} "
                    f"(expected {VO.OP_INSERT!r} or {VO.OP_DELETE!r})"
                )
            ins = b.filter(pc.equal(ops, VO.OP_INSERT))
            dels = b.filter(pc.equal(ops, VO.OP_DELETE))
        rows = pa.concat_tables([
            VO._insert_rows(
                spark, path, VO._first_row_per_id(ins, id_col), schema,
                id_col=id_col, vec_col=vec_col,
            ),
            VO._tombstone_rows(int_col(dels, id_col), schema),
        ])
        return rows, schema

    def land(prepared, op_id: int) -> None:
        rows, schema = prepared
        VO._land_vector_op(spark, path, rows, op_id, schema)

    run_op_ledger_sink(
        stream_df,
        path,
        prepare,
        land,
        checkpoint_dir=f"{path}/checkpoint",
        _fault_point=_fault_point,
    )
