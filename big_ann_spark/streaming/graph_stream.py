"""Streaming ingest into the GRAPH serving tier: drives a vector
stream into the graph layout's op ledger so micro-batches become
committed graph ops, exactly-once.

One micro-batch = ONE graph op. The landing reuses
``graph_ops._land_graph_op`` verbatim (claim-first id, writer lock,
dynamic-overwrite partitions, commit marker), so a streamed op is
indistinguishable from a batch ``graph-upsert``/``graph-delete`` op at
search/compaction/as-of time — equality with the same mutations landed
batch-wise is a test, not a hope. Exactly-once across crash and replay
is the op-ledger sink's batch-id → op-id marker protocol
(``streaming/sink.run_op_ledger_sink``), the one the IVF stream
(``streaming/vector_index``) lands through too.

Rebuilding the BASE layout (``write_knn_graph_layout``) purges the op
ledger — delete the stream checkpoint with it, or replayed batches
would re-land ops against the new base.

Within one batch the ledger's tie rules apply: duplicate upsert ids
are deduped (arbitrary row, the ``upsert_graph_vectors`` contract) and
an id both upserted and deleted in the same batch resolves to DELETED
(same ``_mb``, delete-beats-insert rank — deterministic).

100 TB shape: per batch the work is op-sized (one shuffle onto the
op's partition, one FS listing walk) — corpus size never appears; the
search-side cost model is the graph tier's existing contested-set
story, bounded by ``compact_if_needed``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_ann_spark.operators import graph_ops as GO
from big_ann_spark.operators import vector_ops as VO
from big_ann_spark.streaming.sink import run_op_ledger_sink


def stream_graph_ingest(
    stream_df: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    op_col: str | None = None,
    checkpoint_dir: str | None = None,
    _fault_point=None,
) -> None:
    """Drive a vector stream into the graph layout at ``path``
    (availableNow): every micro-batch lands as one committed graph op.

    ``stream_df`` carries ``(id_col, vec_col[, op_col])``; without
    ``op_col`` every row is an upsert. ``op_col`` values are
    ``'insert'`` / ``'delete'`` (the streaming vector-index
    contract); unknown values fail the batch loudly — an exactly-once
    sink must never be silently lossy. ``checkpoint_dir`` defaults to
    ``{path}/checkpoint``."""
    spark = stream_df.sparkSession

    def prepare(batch: DataFrame, batch_id: int) -> DataFrame:
        vt = GO._vec_type(spark, path)
        b = batch.select(
            F.col(id_col).cast("long").alias("vec_id"),
            F.col(vec_col).cast(vt).alias("embedding"),
            (
                F.col(op_col) if op_col is not None else F.lit(VO.OP_INSERT)
            ).alias("op"),
        )
        bad = (
            b.filter(~F.col("op").isin(VO.OP_INSERT, VO.OP_DELETE))
            .limit(1)
            .collect()
        )
        if bad:
            raise ValueError(
                f"batch {batch_id}: unknown op {bad[0].op!r} "
                f"(expected {VO.OP_INSERT!r} or {VO.OP_DELETE!r})"
            )
        ins = b.filter(F.col("op") == VO.OP_INSERT).dropDuplicates(["vec_id"])
        dels = (
            b.filter(F.col("op") == VO.OP_DELETE)
            .select(
                "vec_id",
                F.lit(None).cast(vt).alias("embedding"),
                "op",
            )
            .distinct()
        )
        return ins.unionByName(dels)

    run_op_ledger_sink(
        stream_df,
        path,
        prepare,
        lambda rows, op_id: GO._land_graph_op(spark, path, rows, op_id),
        checkpoint_dir=checkpoint_dir or f"{path}/checkpoint",
        _fault_point=_fault_point,
    )
