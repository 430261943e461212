"""The two exactly-once foreachBatch landing protocols of the engine,
each implemented once so a protocol fix can never diverge between
sinks.

**Partitioned file sinks** (events landing zone, corpus ingest, BM25
stream) — ``run_exactly_once_sink``:

- **batch-scoped dynamic overwrite**: each batch's rows land under
  partitions that include ``_batch_id`` with
  ``partitionOverwriteMode=dynamic`` + ``mode("overwrite")`` — a
  REPLAYED batch (crash after the data write, before the checkpoint
  commit) overwrites exactly its own partitions, touching no other
  batch's data. Plain ``append`` is the classic duplicate-on-replay
  bug.
- **batch-id commit markers**: an empty ``<checkpoint>/_committed/
  <batch_id>`` file lands after the write; a replay that finds its
  marker skips the write entirely (the cheap path when the crash hit
  between marker and checkpoint commit). Readers that must not observe
  un-landed batches filter partitions to marked ids
  (``committed_batch_ids``). Markers live INSIDE the checkpoint
  directory so their lifecycle is the checkpoint's: deleting the
  checkpoint to reprocess (batch ids restart at 0) deletes the markers
  with it — bare-id markers that outlived the checkpoint would make
  every restarted batch silently skip its write.

**Op-ledger sinks** (the IVF and graph layouts' streams) —
``run_op_ledger_sink``: each micro-batch lands as ONE op of the
layout's op ledger (``operators/oplayout``), so a streamed op is an
ordinary op at search, compaction and as-of time. foreachBatch may
replay a batch after any crash, so before landing, the batch RESERVES
an op id in the ledger (``oplayout.reserve_op_id``: no other writer
allocates or reclaims a reserved id) and records it in a batch-id →
op-id MARKER, ``<checkpoint>/_batch_ops/<batch>`` (the op id and the
reservation's owner token, written atomically: tmp + rename):

- a replay whose marker's reservation still stands (crash before or
  inside the landing) re-lands under the SAME op id, which the ledger
  makes a pure self-overwrite — no duplicate op and no duplicate
  rows; a batch upsert or delete that ran while the stream was down
  took a later id, so the batch is not lost (it orders before that
  op, by the id it reserved first);
- a replay whose reservation is gone skips: the op committed (the
  commit drops the reservation), whether it is still in the ledger
  or an in-place compaction has folded it since — a folded batch is
  never applied twice;
- the batch is prepared (collected, validated) before its id is
  reserved, so a batch that fails validation leaves nothing behind.

Markers live inside the stream checkpoint, so deleting the checkpoint
to reprocess deletes them with it (a reservation whose batch never
landed is then left as an unused id); an in-place compaction carries
the checkpoint and the reservations into the compacted tree
(``vector_ops.compact_in_place``).

``_fault_point`` is the crash-injection hook the restart tests use:
called at "skip" / "pre-marker" / "post-marker" by the file sinks and
at "skip" / "pre-marker" / "pre-land" / "post-land" by the op-ledger
sinks.
"""

from __future__ import annotations

import os
import uuid
from typing import Callable

from pyspark.sql import DataFrame

from big_ann_spark.operators import oplayout


def run_exactly_once_sink(
    stream_df: DataFrame,
    path: str,
    prepare: Callable[[DataFrame, int], DataFrame],
    partition_cols: list[str],
    *,
    _fault_point=None,
) -> None:
    """Drive ``stream_df`` to completion (availableNow) through the
    exactly-once protocol. ``prepare(batch_df, batch_id)`` returns the
    rows to land — it must include every ``partition_cols`` column
    (``_batch_id`` among them) and MAY consult ``path`` (e.g. the
    corpus sink's dedup-vs-history anti-join; any such read must
    exclude the current batch's own partition — replay safety is the
    caller's contract there)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        marker_dir = f"{path}/checkpoint/_committed"
        os.makedirs(marker_dir, exist_ok=True)
        marker = f"{marker_dir}/{batch_id}"
        if os.path.exists(marker):
            if _fault_point is not None:
                _fault_point("skip", batch_id)
            return
        out = prepare(batch_df, batch_id)
        # per-WRITER option, not the session conf: mutating the global
        # conf races concurrent writers in the same session (a restore
        # to 'static' mid-flight turns another sink's dynamic overwrite
        # into a delete-everything static overwrite)
        (
            out.write.partitionBy(*partition_cols)
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(f"{path}/data")
        )
        if _fault_point is not None:
            _fault_point("pre-marker", batch_id)
        open(marker, "w").close()
        if _fault_point is not None:
            _fault_point("post-marker", batch_id)

    q = (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", f"{path}/checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def committed_batch_ids(path: str) -> list[int]:
    """Batch ids whose commit marker landed — the set a
    protocol-honoring reader restricts its partitions to."""
    marker_dir = f"{path}/checkpoint/_committed"
    if not os.path.isdir(marker_dir):
        return []
    return [int(b) for b in os.listdir(marker_dir)]


def uncommitted_batch_ids(path: str, partition_col: str = "_batch_id") -> list[int]:
    """Batch ids with data partitions on disk but NO commit marker —
    exactly the crashed/in-flight writes a reader must exclude. Pure
    directory listing (partition dirs are ``{col}=value``), no Spark
    job. This set is O(in-flight batches) — tiny by the protocol
    (markers land right after each write) — so a reader can exclude it
    with one small NOT-IN predicate instead of an ``isin(committed)``
    whose literal list grows one entry per batch forever (thousands of
    ids make an unwieldy expression tree and defeat partition-range
    pruning)."""
    data_dir = f"{path}/data"
    if not os.path.isdir(data_dir):
        return []
    landed: set[int] = set()
    prefix = f"{partition_col}="

    def walk(d: str) -> None:
        for name in os.listdir(d):
            p = os.path.join(d, name)
            if not os.path.isdir(p):
                continue
            if name.startswith(prefix):
                landed.add(int(name[len(prefix):]))
            elif "=" in name:  # another partition level above _batch_id
                walk(p)

    walk(data_dir)
    return sorted(landed - set(committed_batch_ids(path)))


BATCH_OPS = "_batch_ops"


def run_op_ledger_sink(
    stream_df: DataFrame,
    path: str,
    prepare: Callable[[DataFrame, int], object],
    land: Callable[[object, int], object],
    *,
    checkpoint_dir: str,
    _fault_point=None,
) -> None:
    """Drive ``stream_df`` to completion (availableNow), landing each
    micro-batch as one op of the op ledger at ``path`` under the
    reserve-then-record protocol (module docstring).
    ``prepare(batch_df, batch_id)`` builds the batch's op rows and may
    fail loudly; nothing is written before it returns.
    ``land(rows, op_id)`` lands them as op ``op_id`` and commits it."""
    spark = stream_df.sparkSession
    marker_dir = f"{checkpoint_dir}/{BATCH_OPS}"

    def fault(point: str, batch_id: int) -> None:
        if _fault_point is not None:
            _fault_point(point, batch_id)

    def handle(batch: DataFrame, batch_id: int) -> None:
        marker = f"{marker_dir}/{batch_id}"
        op_id = None
        if os.path.exists(marker):
            with open(marker) as fh:
                op_s, owner = fh.read().split()
            op_id = int(op_s)
            if not oplayout.holds_reservation(spark, path, op_id, owner):
                fault("skip", batch_id)  # landed before the crash
                return
        rows = prepare(batch, batch_id)
        if op_id is None:
            fault("pre-marker", batch_id)
            owner = uuid.uuid4().hex
            op_id = oplayout.reserve_op_id(spark, path, owner)
            os.makedirs(marker_dir, exist_ok=True)
            with open(marker + ".tmp", "w") as fh:
                fh.write(f"{op_id} {owner}")
            os.replace(marker + ".tmp", marker)  # whole or absent
        fault("pre-land", batch_id)
        land(rows, op_id)
        fault("post-land", batch_id)

    q = (
        stream_df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
