"""Exactly-once mutations for the persisted sharded vector layout
(``sharding.write_sharded``) — tombstone deletes, upserts, snapshot
(as-of) reads, and compaction, under the same op-ledger protocol as
the persisted BM25 index (``operators.oplayout``).

Reference context: the reference engine's shard layout
(``shard_by_distance.py``) is build-once — removing or replacing a
vector means rebuilding the shard. An LLM-serving index needs
retraction (takedowns, dedup-after-index, corpus refreshes) without a
full rebuild, so every mutation is an op and readers resolve
latest-op-wins. This ledger is the layout's one mutation model: the
batch calls land one op each, and the vector stream
(``streaming/vector_index.py``) lands one op per micro-batch through
the same ``_land_vector_op``.

Layout extension (backward compatible — a pristine layout has no
``ops/`` directory and every reader short-circuits to the base):

- ``{path}/shards/shard_id=S/…``  — the base build (epoch −1);
- ``{path}/ops/_mb=<op>/`` — one dir per committed mutation holding
  one file, ``shard_id`` a data column: upserts
  land rows ``(vec_id, dist, embedding[, codes], op='insert',
  shard_id)`` with their assigned shard (routed on the driver);
  deletes land tombstones ``op='delete'`` with the RESERVED shard −1
  kept as a value (query routing can never probe it, so a bare
  tombstone can never surface as a candidate). Ledgers written before
  ``shard_id`` became a column hold ``_mb=<op>/shard_id=S/`` dirs:
  they are read and compacted as before, and a new op on them is
  refused until they are compacted (Spark cannot infer one table over
  both layouts);
- ``{path}/ops/_staging/_mb=<op>/`` — an op file being landed, hidden
  from readers until one rename moves it into ``ops/_mb=<op>/``;
- ``{path}/_ops/<op>`` — commit markers (oplayout protocol: a landing
  that replaces what the id held + marker = idempotent replay,
  crash-invisible half-writes, O(in-flight) NOT-IN for readers).

Read side: the ops table — op-count-sized, not corpus-sized, read
with the op rows' explicit schema — resolves per-id winners with one
``max_by``, memoized per ledger state (``mutation_state``), and the
CONTESTED set (ids touched by any committed op, reset by compaction;
a search refuses past ``oplayout.CONTESTED_SEARCH_MAX``) marks the
stale base rows. Every reader of live rows takes one ``live_frame``
per layout state — every base shard opened once, unioned with the
resolved winners — and drops the stale base rows by one rule,
``ann._drop_dead``: the search's candidate scan inside its own
``mapInArrow``, compaction, the filtered search's vector fetch and the
streaming registry query through ``ann.drop_dead_rows``. A search keeps only its
probed shards with a partition filter; uncontested vectors never
shuffle.

Each mutation lands as one file. An upsert (whose batch is collected
in one job), a delete of listed ids and a streamed micro-batch write
it from the driver with no Spark job (``oplayout.write_table_dir``);
a DataFrame of ids to delete is deduplicated distributed and lands in
one write job. Compaction rewrites the base as one file per shard.

At 100 TB: ops cost O(batch) writes; search cost gains an O(contested)
id filter in the probed scan plus an O(ops-size) side scan —
independent of corpus size — and compaction folds everything back to
a pristine base when the contested set grows past taste.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, ShortType,
    StringType, StructField, StructType,
)

from big_ann_spark.operators import oplayout

OP_INSERT = "insert"
OP_DELETE = "delete"
TOMBSTONE_SHARD = -1


def _ops_on_disk(spark, path: str) -> set[int]:
    """Every op id with ANY bytes on disk (committed or in-flight) —
    O(ops) directory globs, no Spark job. The ledger is SHARED with
    the tag-index ops (operators/tag_ops.py): a tag-only op's presence
    is its tags_delta partition, and both families allocate from one
    id sequence so ``as_of`` is a single time axis."""
    return oplayout.glob_op_ids(spark, f"{path}/ops/_mb=*") | oplayout.glob_op_ids(
        spark, f"{path}/tags_delta.parquet/_mb=*"
    )


def _all_op_dirs(path: str, op_id: int) -> list[str]:
    """Every partition glob ANY op family may have written at this id
    — the purge list. A writer reclaiming a crashed id must clear ALL
    families: the crashed attempt may have been a vector op while the
    reclaimer is a tag op (or vice versa) — leaving the other family's
    partitions behind would make them VISIBLE when the reclaimer's
    commit marker lands."""
    from big_ann_spark.operators import tag_ops

    op_dir = f"{path}/ops/_mb={op_id}"
    return [op_dir, oplayout.staging_dir(op_dir)] + tag_ops.tag_op_dirs(path, op_id)


def uncommitted_vector_ops(spark, path: str) -> list[int]:
    """Op ids with bytes on disk but no commit marker — crashed or
    in-flight writes, invisible to every reader."""
    return sorted(_ops_on_disk(spark, path) - oplayout.committed_ops(spark, path))


def has_vector_ops(spark, path: str) -> bool:
    return oplayout.path_exists(spark, f"{path}/ops")


def _has_sq8(spark, path: str) -> bool:
    return oplayout.path_exists(spark, f"{path}/sq8_ranges.parquet")


# the code column each codec sidecar calls for, and its type in op rows
_CODE_COLUMNS = (
    ("sq8_ranges", "codes", ArrayType(ShortType())),
    ("pq_codebooks", "pq_codes", ArrayType(ShortType())),
    ("binary_thresholds", "bcodes", ArrayType(LongType())),
)


def _op_code_columns(spark, path: str) -> list[tuple[str, DataType]]:
    """(name, type) of the code columns the layout's op rows carry: one
    per codec sidecar present, as the build wrote them."""
    return [
        (col, typ)
        for sidecar, col, typ in _CODE_COLUMNS
        if oplayout.path_exists(spark, f"{path}/{sidecar}.parquet")
    ]


def op_schema(spark, path: str) -> StructType:
    """The schema of the layout's op rows: how ``upsert_vectors`` and
    ``delete_vectors`` write them and ``committed_op_scan`` reads them
    (plus the ``_mb`` partition column)."""
    return StructType(
        [
            StructField("vec_id", LongType()),
            StructField("dist", DoubleType()),
            StructField("embedding", ArrayType(FloatType())),
            *[StructField(col, typ) for col, typ in _op_code_columns(spark, path)],
            StructField("op", StringType()),
            StructField("shard_id", IntegerType()),
        ]
    )


def has_per_shard_ops(spark, path: str) -> bool:
    """True when the ledger holds ops in the layout written before
    ``shard_id`` became a column: ``ops/_mb=<op>/shard_id=S/``."""
    fs, jp = oplayout.fs_path(spark, f"{path}/ops/_mb=*/shard_id=*")
    return bool(fs.globStatus(jp))


def _land_vector_op(
    spark,
    path: str,
    rows,
    op_id: int | None,
    schema: StructType,
    tag_batch: DataFrame | None = None,
) -> int:
    """Purge-first landing of one op's rows as ``ops/_mb=<id>/`` +
    commit marker, ``shard_id`` a data column (−1 for tombstones).
    ``rows`` carry (vec_id, dist, embedding[, codes], op, shard_id): an
    Arrow table the driver holds lands as one staged file with no Spark
    job (``oplayout.write_table_dir``, cast to ``schema``, the layout's
    ``op_schema``); a DataFrame lands as one file in one write job
    (``oplayout.write_op_partitions``). Either replaces what the id
    held. ``tag_batch`` (with an Arrow ``rows`` only): optional
    (neighbor_id, _btags) landed as the SAME op (one marker — the
    vectors and their tags become visible atomically).

    A ledger that still holds ops in the per-shard layout
    (``has_per_shard_ops``) is refused before anything is written:
    Spark cannot infer one table over both layouts, so it must be
    compacted first.

    SINGLE-WRITER: one mutator per layout at a time (see
    oplayout's module docstring) — id allocation + purge + write +
    commit run under the layout's best-effort ``writer_lock``, so a
    concurrent upsert/delete against the same path raises
    ``ConcurrentWriterError`` instead of purging this op's in-flight
    partitions."""
    if has_per_shard_ops(spark, path):
        raise ValueError(
            f"{path}/ops holds ops written as _mb=<op>/shard_id=S/ "
            "directories, which cannot be read together with ops that "
            "carry shard_id as a column: compact first (compact_in_place, "
            "CLI index-compact), then mutate"
        )
    with oplayout.writer_lock(spark, path, owner="vector_ops"):
        # create-marker-first: the id claim is atomic and happens
        # BEFORE any purge — a same-id allocation race loses here,
        # having touched nothing (oplayout.claim_op_id)
        op_id = oplayout.claim_op_id(
            spark, path,
            _ops_on_disk(spark, path), oplayout.committed_ops(spark, path),
            op_id=op_id,
        )
        if int(op_id) not in oplayout.committed_ops(spark, path):
            oplayout.purge_op_dirs(spark, _all_op_dirs(path, int(op_id)))
        if isinstance(rows, DataFrame):
            oplayout.write_op_partitions(
                rows.withColumn("_mb", F.lit(int(op_id))), f"{path}/ops", ["_mb"]
            )
        else:
            oplayout.write_table_dir(spark, rows, f"{path}/ops/_mb={int(op_id)}", schema)
        if tag_batch is not None:
            import pyarrow as pa

            from big_ann_spark.operators import tag_ops

            cols = {"neighbor_id": rows["vec_id"], "shard_id": rows["shard_id"]}
            if tag_ops.tag_meta(spark, path)[1]:
                # payload layout: the op's postings carry the NEW vector
                cols["_bvec"] = rows["embedding"]
            shard_of = spark.createDataFrame(pa.table(cols))
            tag_ops.land_tag_partitions(
                spark, path, tag_batch, int(op_id), shard_of
            )
        oplayout.mark_committed(spark, path, op_id)
    return int(op_id)


def _code_columns(spark, path: str, E: np.ndarray, schema: StructType) -> dict:
    """The code columns of the layout's op rows (``schema``, its
    ``op_schema``), encoded on the driver from the stored float32
    vectors ``E`` (widened to float64) with the numpy kernels bit-equal
    to the build's encoders. Each sidecar is read once per state of its
    files (the ``pq.load_*`` readers)."""
    from big_ann_spark.functions.arrowio import matrix_list_col
    from big_ann_spark.operators import pq as PQ

    X = E.astype(np.float64)
    present = set(schema.names)
    out = {}
    if "codes" in present:
        ranges = PQ.load_sq8_ranges(spark, f"{path}/sq8_ranges.parquet")
        out["codes"] = PQ.sq8_encode_matrix(X, *ranges)
    if "pq_codes" in present:
        books = PQ.load_pq_codebooks(spark, f"{path}/pq_codebooks.parquet")
        rot = None
        if oplayout.path_exists(spark, f"{path}/opq_rotation.parquet"):
            rot = np.asarray(
                PQ.load_rotation(spark, f"{path}/opq_rotation.parquet"), dtype=np.float64
            )
        books = [np.asarray(b, dtype=np.float64) for b in books]
        out["pq_codes"] = PQ.pq_encode_matrix(X, books, rot)
    if "bcodes" in present:
        thr = PQ.load_binary_thresholds(spark, f"{path}/binary_thresholds.parquet")
        out["bcodes"] = PQ.binarize_matrix(X, thr)
    return {c: matrix_list_col(M) for c, M in out.items()}


def _first_row_per_id(batch, id_col: str):
    """The Arrow ``batch`` with each id's first row only, in batch order."""
    from big_ann_spark.functions.arrowio import int_col

    _, first = np.unique(int_col(batch, id_col), return_index=True)
    return batch.take(np.sort(first))


def _insert_rows(spark, path: str, batch, schema: StructType, *, id_col: str, vec_col: str):
    """The op rows (Arrow, typed by ``schema``, the layout's
    ``op_schema``) inserting the Arrow ``batch`` of distinct ids: each
    vector routed to its nearest centroid of the layout's
    ``centroids.parquet`` (``knn.nearest_centroids``, read once per
    state of its files by ``ann.centroid_matrix``), stored as float32,
    with its code columns encoded on the driver (``_code_columns``). A
    vector that is not finite fails here, before anything is written."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from big_ann_spark.functions.arrowio import int_col, list_col_matrix, matrix_list_col
    from big_ann_spark.operators.ann import centroid_matrix
    from big_ann_spark.operators.knn import nearest_centroids

    ids = int_col(batch, id_col)
    cids, cmat = centroid_matrix(spark, f"{path}/centroids.parquet")
    V = list_col_matrix(batch, vec_col) if len(ids) else np.empty((0, cmat.shape[1]))
    near, dist = nearest_centroids(V, cids, cmat, 1)
    E = V.astype(np.float32)  # the stored embedding is array<float>
    return pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "dist": pa.array(dist[:, 0], pa.float64()),
            "embedding": matrix_list_col(E),
            **_code_columns(spark, path, E, schema),
            "op": pa.array([OP_INSERT] * len(ids), pa.string()),
            "shard_id": pa.array(cids[near[:, 0]], pa.int32()),
        }
    ).cast(to_arrow_schema(schema))


def _tombstone_rows(ids, schema: StructType):
    """The op rows (Arrow, typed by ``schema``) deleting the distinct
    ids among ``ids``: shard ``TOMBSTONE_SHARD``, every data column null."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    uniq = np.unique(np.asarray(ids, dtype=np.int64))
    n = len(uniq)
    fixed = {
        "vec_id": pa.array(uniq, pa.int64()),
        "op": pa.array([OP_DELETE] * n, pa.string()),
        "shard_id": pa.array(np.full(n, TOMBSTONE_SHARD, np.int32)),
    }
    return pa.table(
        {f.name: fixed.get(f.name, pa.nulls(n, f.type)) for f in to_arrow_schema(schema)}
    )


def upsert_vectors(
    spark,
    path: str,
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    op_id: int | None = None,
    tags_col: str | None = None,
) -> int:
    """Insert-or-replace ``vectors`` (``(id_col, vec_col)``) into the
    layout as ONE exactly-once op. The batch is collected to the driver
    (at most ``ann.DRIVER_ROWS`` rows; a larger batch fails loudly and
    must be split into several upserts) and each vector is assigned to
    its nearest centroid under the layout's FROZEN routing (the
    ``centroids.parquet`` written at build — upserts never move the
    centroids, exactly like adding to a trained IVF index; recall for
    upserted points is a property of that frozen routing), by
    ``knn.nearest_centroids``, the kernel of ``assign_to_centroids`` and
    of search routing: the upsert lands in the shard a search for the
    vector probes first (``_insert_rows``). A vector that is not finite
    fails the upsert before anything is written. Code columns
    (SQ8/PQ/OPQ/binary) are encoded on the driver under the frozen
    sidecars, bit-equal to the build's encoders. The op lands from the
    driver as one file, with no Spark job beyond the batch collect.
    Duplicate ids WITHIN one batch collapse to their first row —
    between batches, the higher op id wins.

    ``tags_col``: when the layout carries filtered-track tag artifacts
    (``write_tag_postings_layout``), the batch's tag arrays land as
    the SAME op under the same commit marker — the vectors and their
    tags become visible atomically (operators/tag_ops.py).
    Returns the committed op id."""
    import pyarrow as pa

    from big_ann_spark.operators import tag_ops
    from big_ann_spark.operators.ann import collect_to_driver

    if tags_col is not None:
        if not tag_ops.has_tag_artifacts(spark, path):
            raise ValueError(
                f"{path} has no tag artifacts — run write_tag_postings_layout "
                "(CLI: index-tags) before upserting tagged vectors"
            )
    elif tag_ops.has_tag_artifacts(spark, path) and tag_ops.tag_meta(spark, path)[1]:
        raise ValueError(
            "this layout's tag postings CARRY payload vectors — a "
            "vector upsert must land its tags in the same op "
            "(tags_col=...), or the id's postings would serve a "
            "stale embedding"
        )
    cols = [id_col, vec_col] + ([tags_col] if tags_col is not None else [])
    batch = _first_row_per_id(collect_to_driver(vectors.select(*cols), "upsert batch"), id_col)
    schema = op_schema(spark, path)
    table = _insert_rows(spark, path, batch, schema, id_col=id_col, vec_col=vec_col)
    tag_batch = None
    if tags_col is not None:
        tag_batch = spark.createDataFrame(
            pa.table({"neighbor_id": table["vec_id"], "_btags": batch.column(tags_col)})
        )
    return _land_vector_op(spark, path, table, op_id, schema, tag_batch=tag_batch)


def delete_vectors(
    spark,
    path: str,
    ids,
    *,
    op_id: int | None = None,
) -> int:
    """Tombstone the given vector ids (a DataFrame whose first column
    is the id, or any iterable of ints) as ONE exactly-once op.
    Tombstones are 8-byte rows with shard id −1 — routing never probes
    it, so a tombstone can never surface as a candidate; it only KILLS
    base/earlier-op rows via latest-op-wins resolution. Deleting an id
    that was never inserted is a legal no-op row. An iterable lands
    from the driver as one file with no Spark job; a DataFrame (which
    may hold more ids than the driver should) is deduplicated
    distributed and lands in one write job. Returns the committed op
    id."""
    schema = op_schema(spark, path)
    if isinstance(ids, DataFrame):
        id_df = ids.select(F.col(ids.columns[0]).cast("long").alias("vec_id")).distinct()
        fill = {
            "vec_id": F.col("vec_id"), "op": F.lit(OP_DELETE), "shard_id": F.lit(TOMBSTONE_SHARD)
        }
        rows = id_df.select(
            *[fill.get(f.name, F.lit(None)).cast(f.dataType).alias(f.name) for f in schema.fields]
        )
        return _land_vector_op(spark, path, rows, op_id, schema)
    rows = _tombstone_rows(np.fromiter((int(i) for i in ids), dtype=np.int64), schema)
    return _land_vector_op(spark, path, rows, op_id, schema)


def committed_op_scan(
    spark, path: str, as_of: int | None = None
) -> DataFrame | None:
    """Scan of every committed op row, or None when the layout has no
    ``ops/`` directory at all (pristine layout — readers short-circuit
    with ZERO Spark jobs). Read with the op rows' schema as
    ``upsert_vectors``/``delete_vectors`` write them, so no
    footer-inference job runs; a ledger of ``_mb=<op>/shard_id=S/``
    directories reads ``shard_id`` from its partition values.
    ``as_of``: a RANGE predicate on the ``_mb`` partition column
    (snapshots cost the same as the head); in-flight ids excluded by a
    NOT-IN over the tiny uncommitted set."""
    if not has_vector_ops(spark, path):
        return None
    if not oplayout.glob_op_ids(spark, f"{path}/ops/_mb=*"):
        # ops/ exists but holds no completed _mb partition — the very
        # FIRST op crashed mid-write (only _temporary or _staging
        # inside), or a reclaiming TAG op purged the crashed vector
        # partitions (_ops_on_disk unions the tag-delta ledger, so it
        # must NOT be the emptiness probe here). There is nothing
        # readable and nothing visible; reading the dir would throw
        # schema-inference errors instead of ignoring the crashed op
        # like every other crash window does.
        return None
    schema = op_schema(spark, path).add("_mb", IntegerType())
    raw = spark.read.schema(schema).parquet(f"{path}/ops")
    uncommitted = uncommitted_vector_ops(spark, path)
    if as_of is not None:
        raw = raw.filter(F.col("_mb") <= int(as_of))
        uncommitted = [b for b in uncommitted if b <= as_of]
    if uncommitted:
        raw = raw.filter(~F.col("_mb").isin([int(b) for b in uncommitted]))
    return raw


class MutationState(NamedTuple):
    """The resolved mutation state of one ledger state of a layout."""

    contested: DataFrame  # (vec_id): ids touched by any visible op
    resolved: DataFrame  # the live winner row of each contested id
    contested_ids: np.ndarray  # sorted int64, the ids of ``contested``


def mutation_state(
    spark, path: str, as_of: int | None = None
) -> MutationState | None:
    """The search state of the ledger, or None for a pristine layout
    (or an ``as_of`` behind every op). ``contested``: the ids touched by
    any visible op since the last compaction — also on the driver as
    ``contested_ids``; a search refuses a set past
    ``oplayout.CONTESTED_SEARCH_MAX``, while compaction, which resets
    it, reads it at any size.
    ``resolved``: the LIVE row of each contested id under latest-op-wins
    (one ``max_by`` keyed on (op id, delete-beats-insert) over the
    op-count-sized ops table, never the corpus): (vec_id, dist,
    embedding[, codes], shard_id).

    Memoized per ledger state (``oplayout.ledger_entry``): the first
    call checkpoints the winners and collects their ids, every later
    call on that state runs no Spark job."""
    if not has_vector_ops(spark, path):
        return None

    def build():
        raw = committed_op_scan(spark, path, as_of)
        if raw is None:
            return 0, None, None
        data_cols = [c for c in raw.columns if c not in ("op", "_mb", "vec_id")]
        rank = F.when(F.col("op") == OP_DELETE, F.lit(1)).otherwise(F.lit(0))
        # ONE materialization of the per-id winners, by the id collect
        # below; contested and resolved are projections of it
        latest = raw.groupBy("vec_id").agg(
            F.max_by(
                F.struct("op", *data_cols),
                F.struct(F.col("_mb"), rank.alias("_r")),
            ).alias("_w")
        ).localCheckpoint(eager=False)
        ids = np.sort(
            latest.select("vec_id").toArrow().column(0).to_numpy().astype(np.int64)
        )
        if not len(ids):
            return 0, None, latest
        resolved = latest.filter(F.col("_w.op") == OP_INSERT).select(
            "vec_id", *[F.col(f"_w.{c}").alias(c) for c in data_cols]
        )
        return len(ids), MutationState(latest.select("vec_id"), resolved, ids), latest

    entry = oplayout.ledger_entry(spark, path, "mutation_state", build, as_of=as_of)
    oplayout.warn_contested_size(entry.count, path.rstrip("/"), "mutation_state")
    return entry.state


def _live_winners(state: MutationState, base: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """The resolved winners of every live shard, renamed and typed like
    ``base``: the ops table stores the canonical (vec_id,
    embedding[, codes…]) names, and an upsert batch may have arrived as
    array<double>."""
    alive = state.resolved
    for old, new in {"vec_id": id_col, "embedding": vec_col}.items():
        if old != new and old in alive.columns:
            alive = alive.withColumnRenamed(old, new)
    alive = alive.filter(F.col("shard_id") != TOMBSTONE_SHARD)
    return alive.select(
        [F.col(c).cast(base.schema[c].dataType).alias(c) for c in base.columns]
    )


def live_frame(
    spark,
    path: str,
    *,
    as_of: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, np.ndarray]:
    """The live frame of a layout state, the one reader of live rows:
    every base shard, opened once with the memoized schema in one
    listing (``ann.open_probed_shards``) plus a false ``_resolved`` column,
    unioned with the resolved winners of every live shard (``_resolved``
    true), typed like the base; and the sorted contested ids. A base row
    is live iff its id is not contested: a reader drops the others by
    ``ann._drop_dead`` (in its own Arrow pass, or through
    ``ann.drop_dead_rows``) and keeps its shards with one ``shard_id``
    partition filter.

    Memoized in ``oplayout.ledger_entry`` per (layout, ``as_of``): valid
    while the ``mutation_state`` it unions (one per ledger token) and
    the state of the ``shards/`` directory are, so a commit, a
    compaction or a rebuild of the layout — in this process or another
    — is seen by the next call."""
    from big_ann_spark.operators.ann import open_probed_shards

    state = mutation_state(spark, path, as_of)
    fs, jp = oplayout.fs_path(spark, f"{path}/shards")
    shards = int(fs.getFileStatus(jp).getModificationTime()) if fs.exists(jp) else None

    def build():
        base = open_probed_shards(spark, path, None)
        live = base.withColumn("_resolved", F.lit(False))
        if state is None:
            return 0, (live, np.empty(0, dtype=np.int64), None), None
        winners = _live_winners(state, base, id_col, vec_col)
        live = live.unionByName(winners.withColumn("_resolved", F.lit(True)))
        # holding ``state`` keeps its id, part of the token, unique
        return len(state.contested_ids), (live, state.contested_ids, state), None

    entry = oplayout.ledger_entry(
        spark, path, f"live_frame:{id_col}:{vec_col}", build,
        as_of=as_of, derived_from=(shards, id(state)),
    )
    return entry.state[:2]


def compact_vector_layout(
    spark,
    src_path: str,
    dst_path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Fold every committed op into a fresh pristine base at
    ``dst_path`` (write-new-then-swap orchestration, like
    ``compact_bm25_index``): resolved live rows are re-written as the
    shards of a ``write_sharded`` layout (``write_shards``) with the
    SAME frozen centroids and quantization sidecars — search results
    are identical before and after, and the contested set resets to
    empty. The build's ``distribution/`` histogram is not rewritten:
    the compacted layout has none. Returns the number
    of ops folded. A crash mid-compact leaves ``src_path`` untouched
    and ``dst_path`` an obviously incomplete re-runnable write.

    Works on refine layouts (raw vectors present → code columns are
    re-encoded under the frozen sidecars) AND codes-only ``--sq8``
    layouts (no raw column → the stored codes are carried as the
    payload and the ranges sidecar is copied verbatim)."""
    from big_ann_spark.operators import pq as PQ
    from big_ann_spark.operators.ann import drop_dead_rows
    from big_ann_spark.operators.sharding import write_shards

    frame, dead = live_frame(spark, src_path, id_col=id_col, vec_col=vec_col)
    n_ops = len(
        oplayout.committed_ops(spark, src_path) & _ops_on_disk(spark, src_path)
    )
    has_raw = vec_col in frame.columns
    payload = vec_col if has_raw else "codes"
    assignments = drop_dead_rows(
        frame.select(id_col, "shard_id", "dist", payload, "_resolved"), dead, id_col
    )
    ranges = None
    books = None
    thr = None
    if has_raw:
        # refine layouts: re-encode code columns from the raw vectors
        # under the frozen sidecars (deterministic — codes identical),
        # each read once per state of its files
        present = {col for col, _ in _op_code_columns(spark, src_path)}
        if "codes" in present:
            ranges = PQ.load_sq8_ranges(spark, f"{src_path}/sq8_ranges.parquet")
        if "pq_codes" in present:
            books = PQ.load_pq_codebooks(spark, f"{src_path}/pq_codebooks.parquet")
        if "bcodes" in present:
            thr = PQ.load_binary_thresholds(spark, f"{src_path}/binary_thresholds.parquet")
    rot = None
    if has_raw and oplayout.path_exists(spark, f"{src_path}/opq_rotation.parquet"):
        rot = PQ.load_rotation(spark, f"{src_path}/opq_rotation.parquet")
    write_shards(
        assignments, assignments, dst_path,
        id_col=id_col, vec_col=payload,
        sq8_ranges=ranges, pq_codebooks=books, binary_thresholds=thr,
        opq_rotation=rot,
    )
    if not has_raw and _has_sq8(spark, src_path):
        # codes-only layout: the codes ARE the payload; carry the
        # ranges sidecar so decode keeps working on the new base
        oplayout.copy_dir(
            spark, f"{src_path}/sq8_ranges.parquet", f"{dst_path}/sq8_ranges.parquet"
        )
    oplayout.copy_dir(
        spark, f"{src_path}/centroids.parquet", f"{dst_path}/centroids.parquet"
    )
    if oplayout.path_exists(spark, f"{src_path}/tag_postings.parquet"):
        # filtered-track artifacts: resolve the live tag sets (base ∪
        # latest deltas), drop ids the compacted base no longer holds
        # (vector tombstones), and rebuild a pristine tag layout at
        # dst — dead postings and per-op delta tables disappear
        from big_ann_spark.operators import tag_ops
        from big_ann_spark.operators.ann import write_tag_postings_layout

        live_tagged = tag_ops.resolve_live_tags(spark, src_path).join(
            assignments.select(F.col(id_col).alias("vec_id")), "vec_id", "left_semi"
        )
        n_buckets, carry = tag_ops.tag_meta(spark, src_path)
        if carry and not has_raw:
            # payload postings carry the vectors the filtered verify
            # computes L2 against — on a codes-only base that would
            # silently store quantized codes as _bvec and every
            # filtered ranking would be garbage (arrays zip fine, no
            # type error). Refuse loudly instead.
            raise ValueError(
                "compact: carry_payload tag artifacts need raw vectors, "
                "but the source layout is codes-only — rebuild the tag "
                "index without carry_payload or use a refine layout"
            )
        write_tag_postings_layout(
            live_tagged, dst_path,
            vec_col=vec_col,
            n_tag_buckets=n_buckets,
            carry_payload=carry,
        )
    return n_ops


def contested_count(spark, path: str) -> int:
    """Number of DISTINCT ids carrying uncompacted mutation state
    across BOTH op families (vector ops ∪ tag deltas), the number the
    contested-set warning and ``--compact-above`` act on; 0 for a
    pristine layout. Without tag ops it is ``mutation_state``'s memoized
    id count: no Spark job on a resolved ledger state."""
    from big_ann_spark.operators import tag_ops

    if not tag_ops.has_tag_ops(spark, path):
        state = mutation_state(spark, path)
        return 0 if state is None else len(state.contested_ids)
    unc = sorted(_ops_on_disk(spark, path) - oplayout.committed_ops(spark, path))
    latest = tag_ops.latest_op_of_contested(spark, path, uncommitted=unc)
    return 0 if latest is None else latest.count()


def compact_if_needed(
    spark,
    path: str,
    *,
    max_contested: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[int, int | None]:
    """Library-level auto-compaction policy (the CLI ``--compact-above``
    delegates here): fold the layout in place when its contested-id
    count — the per-search resolution broadcast's row count, measured
    +6.5 s/search at 1.58M uncompacted ids (SCALE.md) — exceeds
    ``max_contested``. Returns ``(n_contested, ops_folded | None)`` —
    the count is the signal an operator tunes the threshold WITH, so
    it is always reported."""
    n = contested_count(spark, path)
    if n <= int(max_contested):
        return n, None
    return n, compact_in_place(spark, path, id_col=id_col, vec_col=vec_col)


def compact_in_place(
    spark,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    compact_fn=None,
) -> int:
    """Write-new-then-swap compaction at the SAME path — the
    ``--compact-above`` auto-policy's executor. Folds every committed
    op into a pristine base at ``{path}.compacting`` (the plain
    copy-on-write :func:`compact_vector_layout`, crash-safe: the live
    layout is untouched while it runs), then swaps:
    ``{path}`` → ``{path}.precompact``, ``{path}.compacting`` →
    ``{path}``, delete ``{path}.precompact``. Returns ops folded.

    A stream checkpoint at ``{path}/checkpoint`` (``streaming/sink``:
    which micro-batches already landed) is copied into the new tree
    before the swap: without it a restarted stream would re-land every
    batch it had folded, deleted ids included. So are the op-id
    reservations of batches that have not landed yet
    (``oplayout.reserve_op_id``), which the folded ledger's next ids
    must not take.

    CRASH RECOVERY (the swap is two renames, not atomic together): if
    ``{path}`` is missing and ``{path}.compacting`` exists, rename the
    latter into place (it is complete — the rename-out only happens
    after the compaction finished); if both ``{path}.precompact`` and
    ``{path}`` exist, the swap finished — delete the leftover (and any
    stale ``{path}.compact.lock``). A fresh run refuses to start while
    either sibling exists, naming this recipe.

    SINGLE-WRITER enforced by TWO locks: the in-tree ``writer_lock``
    detects a mutation already in flight, but it
    cannot guard the swap — the first rename moves ``{path}/_ops``
    (lock included) out with the tree, leaving ``{path}`` unguarded
    and the final delete eating the lock file. So the whole
    compact+swap ALSO holds the sibling ``{path}.compact.lock`` marker
    (created no-overwrite, outside the renamed tree); ``writer_lock``
    refuses while the marker exists — before AND after its own atomic
    create, so a mutator racing the rename window aborts and unwinds
    the phantom ``_ops`` dir its mkdirs made instead of breaking the
    swap-in."""
    base = path.rstrip("/")
    tmp, old = base + ".compacting", base + ".precompact"
    for p in (tmp, old):
        if oplayout.path_exists(spark, p):
            raise ValueError(
                f"{p} exists — a previous in-place compaction crashed "
                "mid-swap; recover first (see compact_in_place docstring: "
                "a complete .compacting renames into place, a leftover "
                ".precompact next to a live layout is safe to delete)"
            )
    cfs, cjp = oplayout.compact_lock_jpath(spark, base)
    try:
        cfs.create(cjp, False).close()
    except Exception:
        if cfs.exists(cjp):
            raise oplayout.ConcurrentWriterError(
                f"another compaction holds {base}"
                f"{oplayout.COMPACT_LOCK_SUFFIX}; wait for it to finish "
                "(or remove the marker if that compactor crashed hard)"
            ) from None
        raise
    try:
        with oplayout.writer_lock(
            spark, base, owner="compact_in_place", in_compaction=True
        ):
            # compact_fn: other op-ledger tiers (the graph layout)
            # reuse this whole lock+swap+recovery shell with their own
            # fold — (spark, src, tmp) -> ops folded
            if compact_fn is not None:
                n_ops = compact_fn(spark, base, tmp)
            else:
                n_ops = compact_vector_layout(
                    spark, base, tmp, id_col=id_col, vec_col=vec_col
                )
            if oplayout.path_exists(spark, f"{base}/checkpoint"):
                oplayout.copy_dir(spark, f"{base}/checkpoint", f"{tmp}/checkpoint")
            oplayout.carry_reservations(spark, base, tmp)
            fs, jbase = oplayout.fs_path(spark, base)
            _, jold = oplayout.fs_path(spark, old)
            _, jtmp = oplayout.fs_path(spark, tmp)
            if not fs.rename(jbase, jold):
                raise IOError(f"compact_in_place: rename {base} -> {old} failed")
            if not fs.rename(jtmp, jbase):
                raise IOError(
                    f"compact_in_place: swap-in failed — restore by renaming "
                    f"{tmp} to {base} (the compacted layout is complete)"
                )
            fs.delete(jold, True)
            # the rename kept the shards directory's mtime, so the read
            # schema write_shards filed under tmp is the one a reader of
            # base computes: re-file it under base (a miss, the entry
            # evicted, files None, which the last forget drops)
            oplayout.forget(base)
            _, jshards = oplayout.fs_path(spark, f"{base}/shards")
            if fs.exists(jshards):
                mtime = int(fs.getFileStatus(jshards).getModificationTime())
                schema = oplayout.memo((f"{tmp}/shards", "schema"), mtime, lambda: None)
                if schema is not None:
                    oplayout.memo((f"{base}/shards", "schema"), mtime, lambda: schema)
            oplayout.forget(f"{tmp}/shards")
    finally:
        cfs.delete(cjp, False)
    return n_ops
