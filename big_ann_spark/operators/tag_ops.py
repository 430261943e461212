"""Exactly-once mutations for the FILTERED-track serving artifacts
(``write_tag_postings_layout``: tag postings + df table + tags side
table) — the op-ledger protocol (operators/oplayout.py) applied to the
tag index, so the filtered ANN layout grows and retags WITHOUT
rebuilds, exactly as the vector layout (operators/vector_ops.py) and
the BM25 index already do.

Reference behavior mirrored: the big-ann-benchmarks "filtered" track
serves tag-constrained queries against an index that, in production,
receives document updates; the reference repo rebuilds its shards per
dataset drop (SURVEY §2.1 sinks), while this layout folds each batch
in as one idempotent op.

**Shared ledger**: tag ops allocate ids from the SAME per-layout
ledger as vector ops ({path}/_ops markers) — one id sequence, one
``as_of`` time axis, one writer lock. A combined upsert (vectors AND
their tags, ``upsert_vectors(..., tags_col=...)``) lands both table
families under ONE op id and ONE commit marker: either the whole
mutation is visible or none of it is.

Per-op bytes, all O(batch):

- ``{path}/tags_delta.parquet/_mb=<op>`` — (neighbor_id, _btags): the
  batch ids' NEW full tag sets (latest-op-wins on read). Lands first —
  for a tag-only op this table is the ledger presence.
- ``{path}/tag_postings.parquet/_tb=<b>/_mb=<op>`` — the batch's
  inverted postings, bucketed like the base (the base build lands at
  ``_mb = BASE_EPOCH``), carrying the id's LIVE shard.
- ``{path}/tag_df.parquet/_mb=<op>`` — SIGNED per-tag df deltas
  (+new −old), so rarest-tag selection keeps exact frequencies at
  O(batch-vocab) per op (the BM25 dfs-delta design). Computing the
  −old side resolves the batch ids' PRIOR tags: a bounded-In
  point-fetch for small batches (≤1024 ids, row-group skipping on the
  id-sorted side table), one column-pruned pass of the tags sidecar +
  broadcast semi-join past that — the only per-op cost that touches a
  corpus-sized table, and it reads two thin columns of it.

Read-side resolution (filtered_search_from_disk):

- postings: visible ops only (NOT-IN over the tiny uncommitted set,
  ``_mb <= as_of`` for snapshots) — a STALE posting of a re-tagged or
  deleted id is a harmless candidate superset, because…
- …the containment verify joins the LIVE tags view (base side table
  minus the broadcast contested ids, plus latest delta rows) and the
  live vector rows (vector_ops.live_frame, dead rows dropped by
  ann.drop_dead_rows) — a candidate whose current tags no longer
  contain the query tags, or whose vector is tombstoned, drops out
  exactly as in the in-memory operator.
- EXACTNESS is preserved: a live qualifying neighbor contains every
  query tag, and its latest op (or the base build) wrote postings for
  all its current tags, so it appears on the rarest query tag's
  visible posting list.

On ``carry_payload`` layouts (write_tag_postings_layout — the 100 TB
serving mode) the read side is simpler still: postings carry
(vector, tags), so the query is POSTING-LOCAL and mutation resolution
collapses to one op-sized broadcast of (id, latest op) pairs — a
posting row is live iff its ``_mb`` IS its id's latest visible op
(``latest_op_of_contested``); the op-time cost is that every tag op
writes its ids' current vectors into the delta postings.

At 100 TB: every op costs O(batch) writes; search adds one broadcast
anti-join against the contested-tag ids and an O(tag-ops) delta scan —
independent of corpus size; ``compact_vector_layout`` folds everything
(tag artifacts auto-detected, carry mode preserved) back to a pristine
base.

SINGLE-WRITER per layout — see oplayout's module docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_ann_spark.operators import oplayout


def has_tag_artifacts(spark, path: str) -> bool:
    return oplayout.path_exists(spark, f"{path}/tag_postings.parquet")


def has_tag_ops(spark, path: str) -> bool:
    return oplayout.path_exists(spark, f"{path}/tags_delta.parquet")


def tag_ops_on_disk(spark, path: str) -> set[int]:
    """Tag-delta op ids with any bytes on disk — one O(ops) glob."""
    return oplayout.glob_op_ids(spark, f"{path}/tags_delta.parquet/_mb=*")


def tag_meta(spark, path: str) -> tuple[int, bool]:
    """(n_tag_buckets, carry_payload) — layout constants, read once per
    state of ``tag_meta.parquet``'s files (``oplayout.read_dir_memo``),
    not once per search: a rebuild by any process writes new files and
    is seen by the next call."""

    def read():
        row = (
            spark.read.schema("n_tag_buckets int, carry_payload boolean")
            .parquet(f"{path}/tag_meta.parquet")
            .collect()[0]
            .asDict()
        )
        return int(row["n_tag_buckets"]), bool(row.get("carry_payload", False))

    return oplayout.read_dir_memo(spark, f"{path}/tag_meta.parquet", "tag_meta", read)


def n_tag_buckets(spark, path: str) -> int:
    return tag_meta(spark, path)[0]


def tag_op_dirs(path: str, op_id: int) -> list[str]:
    """Every partition glob one tag op may have written — the purge
    list a reclaiming writer clears before landing at this id."""
    return [
        f"{path}/tags_delta.parquet/_mb={op_id}",
        f"{path}/tag_postings.parquet/_tb=*/_mb={op_id}",
        f"{path}/tag_df.parquet/_mb={op_id}",
    ]


def _visible_deltas(
    spark, path: str, table: str, uncommitted: list[int], as_of: int | None
) -> DataFrame:
    df = spark.read.parquet(f"{path}/{table}")
    if as_of is not None:
        df = df.filter(F.col("_mb") <= int(as_of))
        uncommitted = [b for b in uncommitted if b <= as_of]
    if uncommitted:
        df = df.filter(~F.col("_mb").isin([int(b) for b in uncommitted]))
    return df


def tag_mutation_state(
    spark, path: str, as_of: int | None = None, *, uncommitted: list[int]
) -> tuple[DataFrame, DataFrame] | None:
    """(contested_ids, resolved_tags) over the visible tag deltas, or
    None when no tag op is visible — the vector_ops.mutation_state
    shape applied to tag sets. ``resolved_tags``: the latest
    ``(neighbor_id, _btags)`` row per contested id (one max_by over
    the op-count-sized delta table, never the corpus)."""
    if not has_tag_ops(spark, path):
        return None
    if not tag_ops_on_disk(spark, path):
        return None  # very first tag op crashed before any partition
    raw = _visible_deltas(spark, path, "tags_delta.parquet", uncommitted, as_of)
    latest = (
        raw.groupBy("neighbor_id")
        .agg(F.max_by("_btags", "_mb").alias("_btags"))
        .localCheckpoint()
    )
    if not latest.head(1):
        return None
    return latest.select("neighbor_id"), latest


def live_tags_view(
    spark,
    path: str,
    *,
    as_of: int | None = None,
    uncommitted: list[int],
    bounded_ids: list | None = None,
) -> DataFrame:
    """The CURRENT (neighbor_id, _btags) of every id: base side table
    minus the broadcast contested set, plus the latest delta rows.
    ``bounded_ids``: candidate point-fetch pushdown (applied to BOTH
    sides — the base read keeps its id-sorted row-group skipping)."""
    base = spark.read.parquet(f"{path}/tags.parquet")
    state = tag_mutation_state(spark, path, as_of, uncommitted=uncommitted)
    if bounded_ids is not None:
        base = base.filter(F.col("neighbor_id").isin(bounded_ids))
    if state is None:
        return base
    contested, resolved = state
    if bounded_ids is not None:
        resolved = resolved.filter(F.col("neighbor_id").isin(bounded_ids))
    return base.join(F.broadcast(contested), "neighbor_id", "left_anti").unionByName(
        resolved.select("neighbor_id", "_btags")
    )


def tag_df_view(
    spark, path: str, *, as_of: int | None = None, uncommitted: list[int]
) -> DataFrame:
    """Exact per-tag document frequencies: base counts (landed at
    ``_mb = BASE_EPOCH``) plus the visible signed deltas, folded by one
    vocabulary-sized aggregate. A layout with no tag op short-circuits
    to the base read (no aggregate in the pristine plan)."""
    if not has_tag_ops(spark, path) or not tag_ops_on_disk(spark, path):
        return spark.read.parquet(f"{path}/tag_df.parquet").select("_tag", "_df")
    df = _visible_deltas(spark, path, "tag_df.parquet", uncommitted, as_of)
    return df.groupBy("_tag").agg(F.sum("_df").alias("_df"))


def visible_postings(
    spark, path: str, *, as_of: int | None = None, uncommitted: list[int]
) -> DataFrame:
    """The tag postings scan with op visibility applied; the caller
    adds its static ``_tb`` bucket filter (partition pruning survives —
    both predicates are partition-column-only)."""
    posts = spark.read.parquet(f"{path}/tag_postings.parquet")
    if as_of is not None:
        posts = posts.filter(F.col("_mb") <= int(as_of))
        uncommitted = [b for b in uncommitted if b <= as_of]
    if uncommitted:
        posts = posts.filter(~F.col("_mb").isin([int(b) for b in uncommitted]))
    return posts


def _batch_postings(
    batch: DataFrame,
    shard_of: DataFrame,
    n_buckets: int,
    *,
    carry: bool = False,
) -> DataFrame:
    """(neighbor_id, _tag, shard_id, _tb[, _bvec, _btags]) for one
    batch — the same shape the base build writes (distinct: duplicate
    tag values inside one array must not occupy two candidate ranks).
    ``carry``: payload layouts — ``shard_of`` must then carry
    ``_bvec``, and the batch's full tag array rides along."""
    posts = (
        batch.select("neighbor_id", F.explode("_btags").alias("_tag"))
        .distinct()
        .join(shard_of, "neighbor_id")
        .withColumn("_tb", F.pmod(F.xxhash64("_tag"), F.lit(int(n_buckets))))
    )
    if carry:
        posts = posts.join(batch.select("neighbor_id", "_btags"), "neighbor_id")
    return posts


def latest_op_of_contested(
    spark, path: str, *, as_of: int | None = None, uncommitted: list[int]
) -> DataFrame | None:
    """(neighbor_id, _latest) — the HIGHEST visible op id that touched
    each mutated id, across BOTH op families (vector ops and tag
    deltas; they share the ledger so ids are one sequence). Op-sized,
    for broadcast. None when nothing is visible.

    This is the payload layout's entire mutation resolution: a posting
    row is live iff its id is uncontested or its ``_mb`` equals the
    id's latest op — tombstoned ids match nothing (a delete op writes
    no postings), re-tagged/re-upserted ids match only their newest
    payload rows."""
    from big_ann_spark.operators import vector_ops as VO

    parts = []
    raw = VO.committed_op_scan(spark, path, as_of)
    if raw is not None:
        parts.append(raw.select(F.col("vec_id").alias("neighbor_id"), "_mb"))
    if has_tag_ops(spark, path) and tag_ops_on_disk(spark, path):
        deltas = _visible_deltas(
            spark, path, "tags_delta.parquet", list(uncommitted), as_of
        )
        parts.append(deltas.select("neighbor_id", "_mb"))
    if not parts:
        return None
    allops = parts[0]
    for p in parts[1:]:
        allops = allops.unionByName(p)
    latest = (
        allops.groupBy("neighbor_id")
        .agg(F.max("_mb").alias("_latest"))
        .localCheckpoint()
    )
    # this broadcast IS the payload layout's per-search mutation cost:
    # warn past the threshold, counted once per ledger state
    if oplayout.check_contested(
        spark, path, latest, "latest_op_of_contested", as_of=as_of
    ):
        return None
    return latest


def live_rows_of(spark, path: str, ids: list, cols: list[str]) -> DataFrame:
    """(neighbor_id, *cols) of the given ids under the LIVE view —
    like :func:`live_shard_of` but selecting arbitrary layout columns
    (payload deltas need the current vector). Bounded-In pushdown for
    small id sets, broadcast semi-join past the literal cap."""
    from big_ann_spark.operators import vector_ops as VO

    id_set = spark.createDataFrame(
        [(int(i),) for i in ids], "neighbor_id long"
    )
    base = spark.read.parquet(f"{path}/shards").select(
        F.col("vec_id").alias("neighbor_id"), *cols
    )
    if len(ids) <= 1024:
        base = base.filter(F.col("neighbor_id").isin([int(i) for i in ids]))
    base = base.join(F.broadcast(id_set), "neighbor_id", "left_semi")
    state = VO.mutation_state(spark, path)
    if state is None:
        return base
    contested = state.contested.withColumnRenamed("vec_id", "neighbor_id")
    ops_side = (
        state.resolved.select(F.col("vec_id").alias("neighbor_id"), *cols)
        .join(F.broadcast(id_set), "neighbor_id", "left_semi")
    )
    return base.join(
        F.broadcast(contested), "neighbor_id", "left_anti"
    ).unionByName(ops_side)


def land_tag_partitions(
    spark,
    path: str,
    batch: DataFrame,
    op_id: int,
    shard_of: DataFrame,
) -> None:
    """Write one op's THREE tag-table partition families (delta lands
    first — it is the tag ledger presence). Caller holds the layout's
    writer lock, has purged this id's prior attempt, and marks the
    commit afterward. ``batch``: (neighbor_id, _btags) with the FULL
    new tag set per id; ``shard_of``: (neighbor_id, shard_id) under
    the live view — on a ``carry_payload`` layout it must also carry
    ``_bvec`` (the id's CURRENT vector), so payload postings never
    serve a stale embedding."""
    n_buckets, carry = tag_meta(spark, path)
    if carry and "_bvec" not in shard_of.columns:
        raise ValueError(
            "land_tag_partitions: carry_payload layout needs _bvec in "
            "shard_of (the batch ids' current vectors)"
        )
    mb = F.lit(int(op_id))
    oplayout.write_op_partitions(
        batch.withColumn("_mb", mb), f"{path}/tags_delta.parquet", ["_mb"]
    )
    posts = _batch_postings(batch, shard_of, n_buckets, carry=carry)
    oplayout.write_op_partitions(
        posts.withColumn("_mb", mb), f"{path}/tag_postings.parquet", ["_tb", "_mb"]
    )
    # SIGNED df delta: +1 per new posting, −1 per posting the batch
    # ids carried BEFORE this op (base tags or an earlier delta —
    # strictly earlier, so a crashed-op replay recomputes the same
    # delta instead of cancelling against its own first attempt)
    committed = oplayout.committed_ops(spark, path)
    prior_unc = sorted(
        (tag_ops_on_disk(spark, path) | {int(op_id)}) - committed
    )
    # bounded-In point-fetch of the old tags when the batch is small
    # (row-group skipping on the id-sorted side table); past the
    # literal cap a plain column-pruned scan + broadcast semi-join is
    # cheaper than a giant In (the BM25 wide-query lesson, SCALE.md)
    ids = [r["neighbor_id"] for r in batch.select("neighbor_id").collect()]
    bounded = ids if len(ids) <= 1024 else None
    old = live_tags_view(
        spark, path, as_of=int(op_id) - 1, uncommitted=prior_unc,
        bounded_ids=bounded,
    ).join(F.broadcast(batch.select("neighbor_id")), "neighbor_id", "left_semi")
    old_df = (
        old.select("neighbor_id", F.explode("_btags").alias("_tag"))
        .distinct()
        .groupBy("_tag")
        .agg((-F.count("*")).alias("_df"))
    )
    new_df = posts.groupBy("_tag").agg(F.count("*").alias("_df"))
    delta = (
        new_df.unionByName(old_df)
        .groupBy("_tag")
        .agg(F.sum("_df").alias("_df"))
        .filter(F.col("_df") != 0)
    )
    oplayout.write_op_partitions(
        delta.withColumn("_mb", mb), f"{path}/tag_df.parquet", ["_mb"]
    )


def live_shard_of(spark, path: str, ids: list) -> DataFrame:
    """(neighbor_id, shard_id) of the given ids under the LIVE view:
    the op table's resolved winners first (O(ops)), base shards for
    the rest via a bounded-In 2-column point fetch (≤1024 ids) or a
    column-pruned scan + broadcast semi-join past the literal cap —
    never a giant In (the SCALE.md isin rule)."""
    return live_rows_of(spark, path, ids, ["shard_id"])


def upsert_tags(
    spark,
    path: str,
    tagged: DataFrame,
    *,
    id_col: str = "vec_id",
    tags_col: str = "tags",
    op_id: int | None = None,
) -> int:
    """Replace the FULL tag set of each batch id as ONE exactly-once
    tag-only op (re-tagging ids whose vectors are untouched). Every id
    must have a live vector in the layout — tags for an id the vector
    side never saw raise (the filtered track's contract is tags ON
    vectors). For vectors+tags in one op use
    ``vector_ops.upsert_vectors(..., tags_col=...)``."""
    from big_ann_spark.operators import vector_ops as VO

    if not has_tag_artifacts(spark, path):
        raise ValueError(
            f"{path} has no tag artifacts — run write_tag_postings_layout "
            "(CLI: index-tags) before mutating tags"
        )
    batch = (
        tagged.select(
            F.col(id_col).alias("neighbor_id"), F.col(tags_col).alias("_btags")
        )
        # duplicate ids within one batch collapse to a single arbitrary
        # row (the upsert_vectors contract) — without this a repeated
        # id both trips the liveness count and lands two same-_mb
        # delta rows with nondeterministic max_by resolution
        .dropDuplicates(["neighbor_id"])
        .localCheckpoint()
    )
    ids = [r["neighbor_id"] for r in batch.select("neighbor_id").collect()]
    _, carry = tag_meta(spark, path)
    with oplayout.writer_lock(spark, path, owner="tag_ops"):
        if carry:
            # payload layout: the retag op's postings carry the id's
            # CURRENT vector (fetched from the live view, O(batch))
            shard_of = live_rows_of(
                spark, path, ids, ["shard_id", "embedding"]
            ).withColumnRenamed("embedding", "_bvec").localCheckpoint()
        else:
            shard_of = live_shard_of(spark, path, ids).localCheckpoint()
        missing = len(ids) - shard_of.count()
        if missing:
            raise ValueError(
                f"upsert_tags: {missing} batch id(s) have no live vector "
                "in the layout — upsert the vectors first (or in the same "
                "op via upsert_vectors(..., tags_col=...))"
            )
        # create-marker-first allocation: atomic claim before any purge
        op_id = oplayout.claim_op_id(
            spark, path,
            VO._ops_on_disk(spark, path), oplayout.committed_ops(spark, path),
            op_id=op_id,
        )
        if int(op_id) not in oplayout.committed_ops(spark, path):
            # purge ALL op families at this id, not just the tag dirs:
            # a crashed COMBINED/vector op being reclaimed by this
            # tag-only op may have landed ops/_mb=<id> vector rows —
            # leaving them would make the crashed batch's vectors
            # VISIBLE the moment this op's marker commits
            oplayout.purge_op_dirs(spark, VO._all_op_dirs(path, int(op_id)))
        land_tag_partitions(spark, path, batch, int(op_id), shard_of)
        oplayout.mark_committed(spark, path, int(op_id))
    return int(op_id)


def resolve_live_tags(spark, path: str, *, as_of: int | None = None) -> DataFrame:
    """(vec_id, tags) of every id carrying tags under the visible ops
    — compaction input (O(corpus), like compaction itself). Vector
    tombstones are NOT applied here; the compactor semi-joins against
    the compacted live id set."""
    from big_ann_spark.operators import vector_ops as VO

    uncommitted = sorted(
        (tag_ops_on_disk(spark, path) | VO._ops_on_disk(spark, path))
        - oplayout.committed_ops(spark, path)
    )
    return live_tags_view(spark, path, as_of=as_of, uncommitted=uncommitted).select(
        F.col("neighbor_id").alias("vec_id"), F.col("_btags").alias("tags")
    )
