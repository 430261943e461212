"""Streaming vector-index maintenance (insert/delete runbook + search),
the big-ann-benchmarks streaming-track shape: each micro-batch lands as
one op of a ``write_sharded`` layout's op ledger, so the streamed
layout is searched by ``ivf_search_from_disk``, compacted by
``compact_in_place`` and read by ``live_frame`` like any other. Tested:
live-view semantics, equality with the same mutations landed
batch-wise and with batch IVF over the live rows, and crash-restart
exactly-once at every fault window."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from big_ann_spark.operators import ann as ANN
from big_ann_spark.operators import oplayout
from big_ann_spark.operators import vector_ops as VO
from big_ann_spark.streaming import vector_index as VI

_SCHEMA = "vec_id long, embedding array<float>, op string"


def _vec(seedling: int) -> list[float]:
    # deterministic 4-d points; id 0..3 cluster near e_0, 100.. near e_1
    base = [0.0, 0.0, 0.0, 0.0]
    base[(seedling // 100) % 4] = 10.0
    base[(seedling % 4)] += 0.1 * (seedling % 7)
    return [float(x) for x in base]


def _rows(ids, op="insert"):
    return [(i, _vec(i) if op == "insert" else None, op) for i in ids]


def _write_batches(spark, src, batches):
    for rows in batches:
        (
            spark.createDataFrame(rows, _SCHEMA)
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )


def _stream(spark, src):
    return (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(src)
    )


def _centroids(spark):
    rows = [(s, [10.0 if d == s else 0.0 for d in range(4)]) for s in range(4)]
    return spark.createDataFrame(rows, "shard_id int, centroid array<float>")


def _ingest(spark, src, path, **kw):
    VI.stream_vector_index_ingest(
        _stream(spark, src), path, _centroids(spark), op_col="op", **kw
    )


def _live(spark, path, as_of=None):
    """The layout's live rows (vec_id, shard_id, embedding)."""
    frame, dead = VO.live_frame(spark, path, as_of=as_of)
    return ANN.drop_dead_rows(
        frame.select("vec_id", "shard_id", "embedding", "_resolved"), dead, "vec_id"
    )


def _live_ids(spark, path, as_of=None):
    return {r.vec_id for r in _live(spark, path, as_of).collect()}


def _live_rows(spark, path):
    return sorted(
        (r.vec_id, r.shard_id, tuple(r.embedding)) for r in _live(spark, path).collect()
    )


def _search(queries, path, k=3, nprobe=2):
    cents = _centroids(queries.sparkSession)
    return sorted(
        (r.qid, r.neighbor_id, round(r.dist, 6), r.rank)
        for r in ANN.ivf_search_from_disk(queries, path, cents, k=k, nprobe=nprobe).collect()
    )


def _queries(spark, ids):
    return spark.createDataFrame(
        [(i, _vec(i)) for i in ids], "qid long, qvec array<float>"
    )


def test_live_view_insert_delete_reinsert(spark):
    src = tempfile.mkdtemp(prefix="vi_src_")
    _write_batches(
        spark,
        src,
        [
            _rows([1, 2, 3, 101, 102]),                 # batch 0: inserts
            _rows([2, 102], op="delete") + _rows([201]),  # batch 1: deletes + insert
            _rows([2]),                                  # batch 2: re-insert
        ],
    )
    path = tempfile.mkdtemp(prefix="vi_idx_")
    _ingest(spark, src, path)
    assert oplayout.committed_ops(spark, path) == {0, 1, 2}  # one op per batch
    assert _live_ids(spark, path) == {1, 2, 3, 101, 201}  # 102 deleted, 2 revived

    # delete-wins inside one batch: insert+delete of the same id
    _write_batches(spark, src, [_rows([301]) + _rows([301], op="delete")])
    _ingest(spark, src, path)
    assert oplayout.committed_ops(spark, path) == {0, 1, 2, 3}
    assert 301 not in _live_ids(spark, path)

    # shard routing: tombstones live in shard -1 only, data rows in 0..3
    raw = spark.read.parquet(f"{path}/ops")
    by_op = {r.op: r.s for r in raw.groupBy("op").agg(F.collect_set("shard_id").alias("s")).collect()}
    assert by_op["delete"] == [VO.TOMBSTONE_SHARD]
    assert VO.TOMBSTONE_SHARD not in by_op["insert"]


def test_search_matches_batch_ivf_on_live_rows(spark):
    src = tempfile.mkdtemp(prefix="vi_src_")
    ids = list(range(8)) + list(range(100, 108)) + list(range(200, 208))
    _write_batches(
        spark,
        src,
        [_rows(ids[:12]), _rows(ids[12:]), _rows([3, 103, 203], op="delete")],
    )
    path = tempfile.mkdtemp(prefix="vi_idx_")
    cents = _centroids(spark)
    _ingest(spark, src, path)

    queries = _queries(spark, [1, 101])
    got = _search(queries, path)

    # batch-equivalent: ivf_search over a table holding exactly the live rows
    from big_ann_spark.operators.sharding import assign_to_centroids

    live_ids = set(ids) - {3, 103, 203}
    batch = spark.createDataFrame(
        [(i, _vec(i), "insert") for i in sorted(live_ids)], _SCHEMA
    ).drop("op")
    asg = assign_to_centroids(batch, cents).select("vec_id", "shard_id")
    sharded = batch.join(asg, "vec_id")
    want = sorted(
        (r.qid, r.neighbor_id, round(r.dist, 6), r.rank)
        for r in ANN.ivf_search(queries, sharded, cents, k=3, nprobe=2).collect()
    )
    assert got == want
    deleted_hits = {t[1] for t in got} & {3, 103, 203}
    assert not deleted_hits


def test_search_plan_is_partition_pruned(spark, candidate_scans):
    """The candidate scan reads only the probed shard directories of
    the base: a streamed layout's ops fold into partitioned shards at
    compaction, and a later search keeps its probed shards with a
    PartitionFilters predicate on shard_id, while the ops streamed
    since the compaction reach the scan as resolved winners."""
    src = tempfile.mkdtemp(prefix="vi_src_")
    ids = list(range(8)) + list(range(100, 108)) + list(range(200, 208))
    _write_batches(
        spark,
        src,
        [_rows(ids[:12]), _rows(ids[12:]), _rows([3, 103], op="delete")],
    )
    path = tempfile.mkdtemp(prefix="vi_idx_")
    _ingest(spark, src, path)
    VO.compact_in_place(spark, path)
    _write_batches(spark, src, [_rows([4], op="delete") + _rows([301])])
    _ingest(spark, src, path)

    got = _search(_queries(spark, [1]), path)
    assert 4 not in {t[1] for t in got}
    scan = candidate_scans[-1]
    plan = scan._sc._jvm.PythonSQLUtils.explainString(
        scan._jdf.queryExecution(), "formatted"
    )
    pruned_sections = plan.split("PartitionFilters")[1:]
    assert any("shard_id" in s[:300] for s in pruned_sections), plan


def test_search_state_reuse_and_full_resolution_agree(spark):
    """Every streamed id is contested until compaction; the resolved
    winners hold exactly the live ones. The memoized state is reused
    across query batches of one ledger state, and a repeated search
    equals batch IVF over the fully resolved live rows."""
    src = tempfile.mkdtemp(prefix="vi_src_")
    _write_batches(
        spark,
        src,
        [
            _rows(list(range(6)) + list(range(100, 106))),
            _rows([2, 102], op="delete") + _rows([200]),
            _rows([2]),  # revive 2
        ],
    )
    path = tempfile.mkdtemp(prefix="vi_idx_")
    cents = _centroids(spark)
    _ingest(spark, src, path)

    state = VO.mutation_state(spark, path)
    streamed = set(range(6)) | set(range(100, 106)) | {200}
    assert set(state.contested_ids.tolist()) == streamed
    assert {r.vec_id for r in state.resolved.collect()} == streamed - {102}
    assert VO.mutation_state(spark, path) is state  # memoized per ledger state

    queries = _queries(spark, [2, 102])
    first = _search(queries, path, k=4)
    again = _search(queries, path, k=4)
    full_res = sorted(
        (r.qid, r.neighbor_id, round(r.dist, 6), r.rank)
        for r in ANN.ivf_search(
            queries, _live(spark, path), cents, k=4, nprobe=2
        ).collect()
    )
    assert first == again == full_res
    hit_ids = {t[1] for t in first}
    assert 2 in hit_ids and 102 not in hit_ids  # revived found, deleted not


@pytest.mark.slow
def test_live_view_many_batches_and_crashed_tail(spark, monkeypatch):
    """12 streamed batches read back right, and an op that landed its
    rows but never committed (a crashed tail) stays invisible."""
    src = tempfile.mkdtemp(prefix="vi_src_")
    batches = [_rows([10 * b, 10 * b + 1]) for b in range(12)]
    batches[6] = _rows([40], op="delete") + _rows([600])
    _write_batches(spark, src, batches)
    path = tempfile.mkdtemp(prefix="vi_idx_")
    _ingest(spark, src, path)

    assert VO.uncommitted_vector_ops(spark, path) == []
    expect = {10 * b + i for b in range(12) for i in (0, 1)} - {60, 61, 40} | {600}
    assert _live_ids(spark, path) == expect

    # simulate a crash: op 12 lands its rows but never gets a marker
    def crash(*_a, **_k):
        raise RuntimeError("crash before commit")

    monkeypatch.setattr(oplayout, "mark_committed", crash)
    with pytest.raises(RuntimeError, match="crash before commit"):
        VO.upsert_vectors(spark, path, _queries(spark, [999]).toDF("vec_id", "embedding"))
    monkeypatch.undo()
    assert VO.uncommitted_vector_ops(spark, path) == [12]
    assert _live_ids(spark, path) == expect


def test_duplicate_same_batch_insert_keeps_vector_shard_consistent(spark):
    """Two same-batch inserts of one id with DIFFERENT vectors: the
    batch keeps the id's first row, as an upsert does, and that row's
    shard is the nearest centroid of ITS OWN vector."""
    src = tempfile.mkdtemp(prefix="vi_src_")
    v_shard0 = [10.0, 0.0, 0.0, 0.0]
    v_shard2 = [0.0, 0.0, 10.0, 0.0]
    _write_batches(
        spark,
        src,
        [[(7, v_shard0, "insert"), (7, v_shard2, "insert"), (8, v_shard0, "insert")]],
    )
    path = tempfile.mkdtemp(prefix="vi_idx_")
    _ingest(spark, src, path)
    raw = spark.read.parquet(f"{path}/ops").filter(F.col("vec_id") == 7).collect()
    assert len(raw) == 1
    assert (list(raw[0].embedding), raw[0].shard_id) == (v_shard0, 0)
    assert _live_rows(spark, path) == [
        (7, 0, tuple(v_shard0)), (8, 0, tuple(v_shard0))
    ]


def test_empty_index_and_unknown_op(spark):
    # a stream that never lands a batch seeds an empty layout, which
    # reads as empty, not as an error
    src = tempfile.mkdtemp(prefix="vi_src_")
    fresh = tempfile.mkdtemp(prefix="vi_idx_")
    _ingest(spark, src, fresh)
    assert _live(spark, fresh).count() == 0
    assert _search(_queries(spark, [1]), fresh) == []

    # an op outside the contract fails the batch loudly (exactly-once
    # sinks must not be silently lossy), and nothing lands
    _write_batches(spark, src, [[(1, _vec(1), "Insert")]])
    with pytest.raises(Exception, match="unknown op"):
        _ingest(spark, src, fresh)
    assert oplayout.committed_ops(spark, fresh) == set()
    assert oplayout.claimed_op_ids(spark, fresh) == {}


def test_oversized_micro_batch_fails_before_anything_lands(spark, monkeypatch):
    """A micro-batch is collected to the driver under DRIVER_ROWS: a
    larger one fails loudly, commits no op and leaves no claim."""
    src = tempfile.mkdtemp(prefix="vi_src_")
    _write_batches(spark, src, [_rows([1, 2, 3, 4, 5, 6])])
    path = tempfile.mkdtemp(prefix="vi_idx_")
    monkeypatch.setattr(ANN, "DRIVER_ROWS", 5)
    with pytest.raises(Exception, match="more than 5 rows"):
        _ingest(spark, src, path)
    assert oplayout.committed_ops(spark, path) == set()
    assert oplayout.claimed_op_ids(spark, path) == {}
    assert VO.uncommitted_vector_ops(spark, path) == []
    assert _live(spark, path).count() == 0


def test_compact_fully_deleted_index_is_empty_not_broken(spark, tmp_path):
    from big_ann_spark.cli import main

    src = tempfile.mkdtemp(prefix="vi_src_")
    _write_batches(spark, src, [_rows([1, 2]), _rows([1, 2], op="delete")])
    path = tempfile.mkdtemp(prefix="vi_idx_")
    _ingest(spark, src, path)
    dst = str(tmp_path / "cmp")
    assert main(["index-compact", path, dst]) == 0
    assert _live(spark, dst).count() == 0
    assert VO.compact_in_place(spark, path) == 2
    assert _live(spark, path).count() == 0
    assert _search(_queries(spark, [1]), path) == []


def test_compact_folds_tombstones_and_preserves_live_view(spark):
    src = tempfile.mkdtemp(prefix="vi_src_")
    _write_batches(
        spark,
        src,
        [_rows([1, 2, 3, 101]), _rows([2], op="delete"), _rows([2]) + _rows([3], op="delete")],
    )
    path = tempfile.mkdtemp(prefix="vi_idx_")
    _ingest(spark, src, path)
    before = _live_rows(spark, path)

    assert VO.compact_in_place(spark, path) == 3
    assert _live_rows(spark, path) == before
    assert VO.contested_count(spark, path) == 0
    assert oplayout.committed_ops(spark, path) == set()
    assert {r.vec_id for r in spark.read.parquet(f"{path}/shards").collect()} == {1, 2, 101}

    # ingest resumes on the compacted layout: the carried checkpoint
    # lands only the new batch, as one op
    _write_batches(spark, src, [_rows([301]) + _rows([1], op="delete")])
    _ingest(spark, src, path)
    assert len(oplayout.committed_ops(spark, path)) == 1
    assert _live_ids(spark, path) == ({t[0] for t in before} - {1}) | {301}


def test_restart_after_delete_and_compaction_keeps_deleted_ids_deleted(spark):
    """Stream, delete batch-wise, compact in place, restart the stream
    over the same source: the compacted tree keeps the stream
    checkpoint, so the restart lands no op and the deleted ids stay
    deleted."""
    import os

    src = tempfile.mkdtemp(prefix="vi_src_")
    _write_batches(spark, src, [_rows([1, 2, 101])])
    path = tempfile.mkdtemp(prefix="vi_idx_")
    _ingest(spark, src, path)
    VO.delete_vectors(spark, path, [1, 101])
    VO.compact_in_place(spark, path)
    assert os.path.isdir(f"{path}/checkpoint")

    _ingest(spark, src, path)
    assert oplayout.committed_ops(spark, path) == set()
    assert _live_ids(spark, path) == {2}


def test_cli_vindex_lifecycle(spark, tmp_path):
    """vindex-ingest → search → index-compact on one layout."""
    from big_ann_spark.cli import main

    cents = _centroids(spark)
    cpath = str(tmp_path / "cents.parquet")
    cents.write.parquet(cpath)
    src = str(tmp_path / "src")
    _write_batches(spark, src, [_rows([1, 2, 101]), _rows([2], op="delete")])
    qpath = str(tmp_path / "queries.parquet")
    spark.createDataFrame(
        [(0, _vec(1))], "vec_id long, embedding array<float>"
    ).write.parquet(qpath)
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    assert main(["vindex-ingest", src, idx, "--centroids", cpath, "--op-col", "op"]) == 0
    assert main(["search", idx, qpath, "--k", "2", "--out", out]) == 0
    hits = {r.neighbor_id for r in spark.read.parquet(out).collect()}
    assert 1 in hits and 2 not in hits
    cmp_dir = str(tmp_path / "cmp")
    assert main(["index-compact", idx, cmp_dir]) == 0
    assert _live_ids(spark, cmp_dir) == {1, 101}
    assert VO.contested_count(spark, cmp_dir) == 0


def test_cli_vindex_ingest_reads_one_file_per_micro_batch(
    spark, tmp_path, monkeypatch
):
    """vindex-ingest lands each source file as one op, so a source over
    DRIVER_ROWS rows in all ingests; past CONTESTED_WARN_ABOVE it
    compacts the layout in place after the stream."""
    from big_ann_spark.cli import main

    cpath = str(tmp_path / "cents.parquet")
    _centroids(spark).write.parquet(cpath)
    src = str(tmp_path / "src")
    _write_batches(spark, src, [_rows([1, 2]), _rows([3, 101]), _rows([2], op="delete")])
    monkeypatch.setattr(ANN, "DRIVER_ROWS", 2)
    idx = str(tmp_path / "idx")
    assert main(["vindex-ingest", src, idx, "--centroids", cpath, "--op-col", "op"]) == 0
    assert oplayout.committed_ops(spark, idx) == {0, 1, 2}
    assert _live_ids(spark, idx) == {1, 3, 101}

    monkeypatch.setattr(oplayout, "CONTESTED_WARN_ABOVE", 4)
    _write_batches(spark, src, [_rows([201])])
    assert main(["vindex-ingest", src, idx, "--centroids", cpath, "--op-col", "op"]) == 0
    assert oplayout.committed_ops(spark, idx) == set()
    assert VO.contested_count(spark, idx) == 0
    assert _live_ids(spark, idx) == {1, 3, 101, 201}


def test_compact_if_needed_threshold(spark):
    """Compaction fires only past the contested-id threshold; every
    streamed id counts as contested until then."""
    src = tempfile.mkdtemp(prefix="vi_src_")
    _write_batches(
        spark,
        src,
        [_rows(list(range(10))), _rows([0, 1, 2], op="delete")],
    )
    path = tempfile.mkdtemp(prefix="vi_idx_")
    _ingest(spark, src, path)

    assert VO.compact_if_needed(spark, path, max_contested=10) == (10, None)
    assert VO.compact_if_needed(spark, path, max_contested=5) == (10, 2)
    assert _live_ids(spark, path) == set(range(3, 10))
    # post-compaction: contested set empty -> never re-compacts
    assert VO.compact_if_needed(spark, path, max_contested=0) == (0, None)


def test_search_refuses_contested_set_past_bound(spark, monkeypatch):
    """A search whose contested set exceeds CONTESTED_SEARCH_MAX fails
    loudly, naming the fix; compaction still runs past the bound, and
    the compacted layout serves."""
    src = tempfile.mkdtemp(prefix="vi_src_")
    _write_batches(spark, src, [_rows([1, 2, 3, 101])])
    path = tempfile.mkdtemp(prefix="vi_idx_")
    _ingest(spark, src, path)
    monkeypatch.setattr(oplayout, "CONTESTED_SEARCH_MAX", 3)
    queries = _queries(spark, [1])
    with pytest.raises(ValueError, match="index-compact.*--compact-above"):
        _search(queries, path)
    assert VO.compact_if_needed(spark, path, max_contested=3) == (4, 1)
    assert {t[1] for t in _search(queries, path)} == {1, 2, 3}


def test_cli_vindex_ingest_infers_vector_element_type(spark, tmp_path):
    """An array<double> source streams with its own type and is stored
    as array<float>, as every upsert is; a missing column fails naming
    it."""
    from big_ann_spark.cli import main

    cents = _centroids(spark)
    cpath = str(tmp_path / "cents.parquet")
    cents.write.parquet(cpath)
    src = str(tmp_path / "src_dbl")
    spark.createDataFrame(
        [(1, [float(x) for x in _vec(1)]), (101, [float(x) for x in _vec(101)])],
        "vec_id long, embedding array<double>",
    ).coalesce(1).write.parquet(src)
    idx = str(tmp_path / "idx_dbl")
    assert main(["vindex-ingest", src, idx, "--centroids", cpath]) == 0
    live = _live(spark, idx)
    assert dict(live.dtypes)["embedding"] == "array<float>"
    assert {r.vec_id for r in live.collect()} == {1, 101}

    with pytest.raises(SystemExit, match="lacks column"):
        main(["vindex-ingest", src, idx, "--centroids", cpath, "--op-col", "op"])


@pytest.mark.parametrize("crash_point", ["pre-marker", "pre-land", "post-land"])
def test_crash_restart_exactly_once(spark, crash_point):
    src = tempfile.mkdtemp(prefix="vi_src_")
    _write_batches(
        spark,
        src,
        [_rows([1, 2]), _rows([2], op="delete") + _rows([10]), _rows([20])],
    )
    path = tempfile.mkdtemp(prefix="vi_idx_")

    class Boom(RuntimeError):
        pass

    def fault(point, batch_id):
        if point == crash_point and batch_id == 1:
            raise Boom(point)

    with pytest.raises(Exception):
        _ingest(spark, src, path, _fault_point=fault)
    _ingest(spark, src, path)

    assert oplayout.committed_ops(spark, path) == {0, 1, 2}  # one op per batch
    assert _live_ids(spark, path) == {1, 10, 20}
    # no duplicate rows for any id within an op (replay overwrote)
    raw = spark.read.parquet(f"{path}/ops")
    dupes = (
        raw.groupBy("vec_id", "_mb", "op")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > 1)
        .count()
    )
    assert dupes == 0


@pytest.mark.parametrize(
    "window, compact",
    [("pre-land", False), ("mid-land", False), ("mid-land", True), ("post-land", True)],
)
def test_batch_delete_while_stream_is_down_keeps_its_own_op_id(
    spark, monkeypatch, window, compact
):
    """Batch 1 crashes at ``window`` (mid-land: its rows written, no
    commit); a batch delete then runs, after an in-place compaction
    when ``compact``. The delete must not take the op id batch 1
    recorded: the restart lands batch 1 exactly once if it had not
    landed, and never again if it had."""
    src = tempfile.mkdtemp(prefix="vi_src_")
    _write_batches(spark, src, [_rows([1, 2]), _rows([10, 11])])
    path = tempfile.mkdtemp(prefix="vi_idx_")

    class Boom(RuntimeError):
        pass

    def fault(point, batch_id):
        if point == window and batch_id == 1:
            raise Boom(point)

    if window == "mid-land":
        commit = oplayout.mark_committed

        def crash_on_op_1(spark_, path_, op_id):
            if op_id == 1:
                raise Boom(window)
            commit(spark_, path_, op_id)

        monkeypatch.setattr(oplayout, "mark_committed", crash_on_op_1)
    with pytest.raises(Exception):
        _ingest(spark, src, path, _fault_point=fault)
    monkeypatch.undo()
    if window == "mid-land":
        assert VO.uncommitted_vector_ops(spark, path) == [1]
    if compact:
        VO.compact_in_place(spark, path)
    landed = window == "post-land"
    VO.delete_vectors(spark, path, [1, 11] if landed else [1])

    _ingest(spark, src, path)
    assert _live_ids(spark, path) == ({2, 10} if landed else {2, 10, 11})
    assert oplayout.reserved_op_ids(spark, path) == set()
    assert VO.uncommitted_vector_ops(spark, path) == []


def test_former_stream_layout_is_refused(spark):
    """A path holding the former data/_batch_id= stream layout fails
    loudly instead of seeding an empty layout beside it."""
    import os

    path = tempfile.mkdtemp(prefix="vi_idx_")
    os.makedirs(f"{path}/data/_batch_id=0")
    src = tempfile.mkdtemp(prefix="vi_src_")
    _write_batches(spark, src, [_rows([1])])
    with pytest.raises(ValueError, match="former data/_batch_id= layout"):
        _ingest(spark, src, path)
    assert not os.path.exists(f"{path}/centroids.parquet")


def test_live_view_as_of_snapshots(spark):
    """as_of=N is the live view exactly as of committed op N — one op
    per batch, so each point of an insert -> delete -> re-insert
    runbook must equal the state after that batch."""
    src = tempfile.mkdtemp(prefix="vi_src_")
    _write_batches(
        spark,
        src,
        [
            _rows([1, 2, 101]),                        # batch 0
            _rows([2], op="delete") + _rows([201]),    # batch 1
            _rows([2]),                                # batch 2: re-insert
        ],
    )
    path = tempfile.mkdtemp(prefix="vi_idx_")
    _ingest(spark, src, path)

    want = {
        0: {1, 2, 101},
        1: {1, 101, 201},
        2: {1, 2, 101, 201},
    }
    for as_of, ids in want.items():
        assert _live_ids(spark, path, as_of) == ids, f"as_of={as_of}"
    assert _live_ids(spark, path) == want[2]


def test_stream_equals_batch_landed_mutations(spark):
    """The streamed ledger is indistinguishable from batch landing: an
    insert / delete / re-insert / same-batch insert+delete runbook
    gives the same committed op ids, the same live rows and the same
    search results as upsert_vectors/delete_vectors."""
    batches = [
        _rows([1, 2, 3, 101, 102, 201]),
        _rows([2, 102], op="delete"),
        _rows([2, 301]),
        _rows([401]) + _rows([401], op="delete"),
    ]
    src = tempfile.mkdtemp(prefix="vi_src_")
    _write_batches(spark, src, batches)
    spath = tempfile.mkdtemp(prefix="vi_idx_")
    _ingest(spark, src, spath)

    # the same mutations, landed batch-wise on a layout seeded the same
    # way (an empty source seeds without landing an op)
    bpath = tempfile.mkdtemp(prefix="vi_idx_")
    _ingest(spark, tempfile.mkdtemp(prefix="vi_empty_"), bpath)

    def vecs(rows):
        return spark.createDataFrame(rows, _SCHEMA).select("vec_id", "embedding")

    assert VO.upsert_vectors(spark, bpath, vecs(batches[0])) == 0
    assert VO.delete_vectors(spark, bpath, [r[0] for r in batches[1]]) == 1
    assert VO.upsert_vectors(spark, bpath, vecs(batches[2])) == 2
    assert VO.delete_vectors(spark, bpath, [401]) == 3

    assert oplayout.committed_ops(spark, spath) == {0, 1, 2, 3}
    assert oplayout.committed_ops(spark, bpath) == {0, 1, 2, 3}
    assert _live_rows(spark, spath) == _live_rows(spark, bpath)
    assert _live_ids(spark, spath) == {1, 2, 3, 101, 201, 301}
    queries = _queries(spark, [1, 101, 201, 401])
    assert _search(queries, spath, k=4) == _search(queries, bpath, k=4)
