"""Streaming vector-index maintenance (insert/delete runbook + search),
the big-ann-benchmarks streaming-track shape: live-view semantics,
equivalence with a batch-built IVF index, and crash-restart
exactly-once at both fault windows."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

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
    VI.stream_vector_index_ingest(
        _stream(spark, src), path, _centroids(spark), op_col="op"
    )
    live = {r.vec_id for r in VI.live_vectors(spark, path).collect()}
    assert live == {1, 2, 3, 101, 201}  # 102 deleted, 2 revived

    # delete-wins inside one batch: insert+delete of the same id
    _write_batches(spark, src, [_rows([301]) + _rows([301], op="delete")])
    VI.stream_vector_index_ingest(
        _stream(spark, src), path, _centroids(spark), op_col="op"
    )
    live = {r.vec_id for r in VI.live_vectors(spark, path).collect()}
    assert 301 not in live

    # shard routing: tombstones live in shard -1 only, data rows in 0..3
    raw = spark.read.parquet(f"{path}/data")
    by_op = {r.op: r.s for r in raw.groupBy("op").agg(F.collect_set("shard_id").alias("s")).collect()}
    assert by_op["delete"] == [-1]
    assert -1 not in by_op["insert"]


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
    VI.stream_vector_index_ingest(_stream(spark, src), path, cents, op_col="op")

    queries = spark.createDataFrame(
        [(0, _vec(1)), (1, _vec(101))], "qid long, qvec array<float>"
    )
    got = sorted(
        map(
            tuple,
            VI.search_index(spark, path, queries, cents, k=3, nprobe=2)
            .select("qid", "neighbor_id", F.round("dist", 6).alias("d"), "rank")
            .collect(),
        )
    )

    # batch-equivalent: ivf_search over a table holding exactly the live rows
    from big_ann_spark.operators.ann import ivf_search
    from big_ann_spark.operators.sharding import assign_to_centroids

    live_ids = set(ids) - {3, 103, 203}
    batch = spark.createDataFrame(
        [(i, _vec(i), "insert") for i in sorted(live_ids)], _SCHEMA
    ).drop("op")
    asg = assign_to_centroids(batch, cents).select("vec_id", "shard_id")
    sharded = batch.join(asg, "vec_id")
    want = sorted(
        map(
            tuple,
            ivf_search(queries, sharded, cents, k=3, nprobe=2)
            .select("qid", "neighbor_id", F.round("dist", 6).alias("d"), "rank")
            .collect(),
        )
    )
    assert got == want
    deleted_hits = {t[1] for t in got} & {3, 103, 203}
    assert not deleted_hits


def test_search_plan_is_partition_pruned(spark, candidate_scans):
    """Search must read ONLY probed shard partitions: a global max_by
    over the index would scan all of it per query batch. Uncontested
    rows come off a PartitionFilters-pruned scan (ivf_search's
    shard_id IN filter pushes below the union and the anti-join); only
    the contested ids (deletes/re-inserts) pay the resolution
    aggregate."""
    src = tempfile.mkdtemp(prefix="vi_src_")
    ids = list(range(8)) + list(range(100, 108)) + list(range(200, 208))
    _write_batches(
        spark,
        src,
        [_rows(ids[:12]), _rows(ids[12:]), _rows([3, 103], op="delete")],
    )
    path = tempfile.mkdtemp(prefix="vi_idx_")
    cents = _centroids(spark)
    VI.stream_vector_index_ingest(_stream(spark, src), path, cents, op_col="op")

    queries = spark.createDataFrame([(0, _vec(1))], "qid long, qvec array<float>")
    VI.search_index(spark, path, queries, cents, k=3, nprobe=2)
    scan = candidate_scans[-1]
    plan = scan._sc._jvm.PythonSQLUtils.explainString(
        scan._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan
    # at least one scan is pruned on shard_id (the uncontested branch)
    pruned_sections = plan.split("PartitionFilters")[1:]
    assert any("shard_id" in s[:300] for s in pruned_sections), plan
    # the contested exclusion is a BROADCAST anti-join (a literal
    # NOT-IN list measurably collapses at realistic contested sizes)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_search_state_reuse_and_full_resolution_agree(spark):
    """prepare_search state is amortizable across query batches of one
    epoch; precomputed-state, computed-per-call, and the full
    max_by-resolution form must all return identical results."""
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
    VI.stream_vector_index_ingest(_stream(spark, src), path, cents, op_col="op")

    state = VI.prepare_search(spark, path)
    contested, resolved = state
    # delete+insert pairs contested; bare inserts excluded
    assert {r.vec_id for r in contested.collect()} == {2, 102}
    # resolved carries ONLY the live contested rows (102 stays deleted)
    assert {r.vec_id for r in resolved.collect()} == {2}
    queries = spark.createDataFrame(
        [(0, _vec(2)), (1, _vec(102))], "qid long, qvec array<float>"
    )

    def run(**kw):
        return sorted(
            map(
                tuple,
                VI.search_index(spark, path, queries, cents, k=4, nprobe=2, **kw)
                .select("qid", "neighbor_id", F.round("dist", 6), "rank")
                .collect(),
            )
        )

    per_call = run()
    precomputed = run(state=state)
    from big_ann_spark.operators.ann import ivf_search

    full_res = sorted(
        map(
            tuple,
            ivf_search(
                queries, VI.live_vectors(spark, path), cents, k=4, nprobe=2
            )
            .select("qid", "neighbor_id", F.round("dist", 6), "rank")
            .collect(),
        )
    )
    assert per_call == precomputed == full_res
    hit_ids = {t[1] for t in per_call}
    assert 2 in hit_ids and 102 not in hit_ids  # revived found, deleted not


@pytest.mark.slow
def test_live_view_many_batches_and_crashed_tail(spark):
    """VERDICT r7 #6: the committed filter must stay O(1)-sized over
    long uncompacted runs — 12 batches plus a crashed (landed,
    unmarked) tail batch that the view must exclude."""
    src = tempfile.mkdtemp(prefix="vi_src_")
    batches = [_rows([10 * b, 10 * b + 1]) for b in range(12)]
    batches[6] = _rows([40], op="delete") + _rows([600])
    _write_batches(spark, src, batches)
    path = tempfile.mkdtemp(prefix="vi_idx_")
    cents = _centroids(spark)
    VI.stream_vector_index_ingest(_stream(spark, src), path, cents, op_col="op")

    from big_ann_spark.streaming.sink import uncommitted_batch_ids

    assert uncommitted_batch_ids(path) == []
    expect = {10 * b + i for b in range(12) for i in (0, 1)} - {60, 61, 40} | {600}
    assert {r.vec_id for r in VI.live_vectors(spark, path).collect()} == expect

    # simulate a crash: batch 99 landed its data but never got a marker
    spark.createDataFrame(
        [(999, _vec(999), "insert", 5, 99)],
        "vec_id long, embedding array<float>, op string, shard_id int, _batch_id int",
    ).write.mode("append").partitionBy("shard_id", "_batch_id").parquet(f"{path}/data")
    assert uncommitted_batch_ids(path) == [99]
    live = {r.vec_id for r in VI.live_vectors(spark, path).collect()}
    assert 999 not in live and live == expect


def test_duplicate_same_batch_insert_keeps_vector_shard_consistent(spark):
    """Two same-batch inserts of one id with DIFFERENT vectors: whichever
    row the live view resolves to, its shard must be the argmin of ITS
    OWN embedding (a join-back on the non-unique id used to be able to
    pair a vector with the other duplicate's shard — an unfindable row)."""
    src = tempfile.mkdtemp(prefix="vi_src_")
    v_shard0 = [10.0, 0.0, 0.0, 0.0]
    v_shard2 = [0.0, 0.0, 10.0, 0.0]
    _write_batches(
        spark,
        src,
        [[(7, v_shard0, "insert"), (7, v_shard2, "insert"), (8, v_shard0, "insert")]],
    )
    path = tempfile.mkdtemp(prefix="vi_idx_")
    VI.stream_vector_index_ingest(
        _stream(spark, src), path, _centroids(spark), op_col="op"
    )
    raw = spark.read.parquet(f"{path}/data").filter(F.col("vec_id") == 7).collect()
    assert len(raw) == 2
    for r in raw:
        expect = 0 if list(r.embedding) == v_shard0 else 2
        assert r.shard_id == expect, (list(r.embedding), r.shard_id)


def test_empty_index_and_unknown_op(spark):
    # an index that never landed a batch reads as empty, not as an error
    fresh = tempfile.mkdtemp(prefix="vi_idx_")
    empty = VI.live_vectors(spark, fresh)
    assert empty.count() == 0
    assert set(empty.columns) == {"vec_id", "embedding", "shard_id"}

    # an op outside the contract fails the batch loudly (exactly-once
    # sinks must not be silently lossy)
    src = tempfile.mkdtemp(prefix="vi_src_")
    _write_batches(spark, src, [[(1, _vec(1), "Insert")]])
    with pytest.raises(Exception, match="unknown op"):
        VI.stream_vector_index_ingest(
            _stream(spark, src), fresh, _centroids(spark), op_col="op"
        )


def test_compact_fully_deleted_index_is_empty_not_broken(spark):
    src = tempfile.mkdtemp(prefix="vi_src_")
    _write_batches(spark, src, [_rows([1, 2]), _rows([1, 2], op="delete")])
    path = tempfile.mkdtemp(prefix="vi_idx_")
    VI.stream_vector_index_ingest(
        _stream(spark, src), path, _centroids(spark), op_col="op"
    )
    dst = tempfile.mkdtemp(prefix="vi_cmp_") + "/idx"
    assert VI.compact_index(spark, path, dst) == 0
    assert VI.live_vectors(spark, dst).count() == 0


def test_compact_folds_tombstones_and_preserves_live_view(spark):
    src = tempfile.mkdtemp(prefix="vi_src_")
    _write_batches(
        spark,
        src,
        [_rows([1, 2, 3, 101]), _rows([2], op="delete"), _rows([2]) + _rows([3], op="delete")],
    )
    path = tempfile.mkdtemp(prefix="vi_idx_")
    cents = _centroids(spark)
    VI.stream_vector_index_ingest(_stream(spark, src), path, cents, op_col="op")
    before = sorted(map(tuple, VI.live_vectors(spark, path).collect()))

    dst = tempfile.mkdtemp(prefix="vi_cmp_") + "/idx"
    n = VI.compact_index(spark, path, dst)
    after = sorted(map(tuple, VI.live_vectors(spark, dst).collect()))
    assert after == before
    assert n == len(before)
    raw = spark.read.parquet(f"{dst}/data")
    # tombstones folded away, single base epoch at _batch_id = -1
    assert raw.filter(F.col("op") == "delete").count() == 0
    assert {r._batch_id for r in raw.select("_batch_id").distinct().collect()} == {-1}

    # post-compaction ingest resumes at batch 0 with a fresh checkpoint
    # and must NOT be skip-replayed as the epoch base
    src2 = tempfile.mkdtemp(prefix="vi_src_")
    _write_batches(spark, src2, [_rows([301]) + _rows([1], op="delete")])
    VI.stream_vector_index_ingest(_stream(spark, src2), dst, cents, op_col="op")
    live = {r.vec_id for r in VI.live_vectors(spark, dst).collect()}
    assert live == ({t[0] for t in before} - {1}) | {301}


def test_cli_vindex_lifecycle(spark, tmp_path):
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
    assert main(
        ["vindex-search", idx, qpath, "--centroids", cpath, "--k", "2", "--out", out]
    ) == 0
    hits = {r.neighbor_id for r in spark.read.parquet(out).collect()}
    assert 1 in hits and 2 not in hits
    cmp_dir = str(tmp_path / "cmp")
    assert main(["vindex-compact", idx, cmp_dir]) == 0
    assert {r.vec_id for r in VI.live_vectors(spark, cmp_dir).collect()} == {1, 101}


def test_compact_if_needed_threshold(spark, tmp_path):
    """Compaction fires only past the contested-ratio threshold, and a
    fresh index / healthy index returns None untouched."""
    src = tempfile.mkdtemp(prefix="vi_src_")
    _write_batches(
        spark,
        src,
        [_rows(list(range(10))), _rows([0, 1, 2], op="delete")],
    )
    path = tempfile.mkdtemp(prefix="vi_idx_")
    cents = _centroids(spark)
    VI.stream_vector_index_ingest(_stream(spark, src), path, cents, op_col="op")

    # 3 contested of 13 committed rows (~23%): healthy at a 0.5
    # threshold, compacts at 0.05
    assert VI.compact_if_needed(spark, path, str(tmp_path / "a"), max_contested_ratio=0.5) is None
    n = VI.compact_if_needed(spark, path, str(tmp_path / "b"), max_contested_ratio=0.05)
    assert n == 7
    compacted = str(tmp_path / "b")
    assert {r.vec_id for r in VI.live_vectors(spark, compacted).collect()} == set(range(3, 10))
    # post-compaction: contested set empty -> never re-compacts
    assert VI.compact_if_needed(spark, compacted, str(tmp_path / "c"), max_contested_ratio=0.0) is None
    # an index that never landed anything is healthy, not an error
    assert VI.compact_if_needed(spark, tempfile.mkdtemp(prefix="vi_x_"), str(tmp_path / "d")) is None


def test_cli_vindex_ingest_infers_vector_element_type(spark, tmp_path):
    """ADVICE r7: the CLI hardcoded array<float>; an array<double>
    source must ingest with its own type, and a missing column must
    fail naming it."""
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
    live = VI.live_vectors(spark, idx)
    assert dict(live.dtypes)["embedding"] == "array<double>"
    assert {r.vec_id for r in live.collect()} == {1, 101}

    with pytest.raises(SystemExit, match="lacks column"):
        main(["vindex-ingest", src, idx, "--centroids", cpath, "--op-col", "op"])


@pytest.mark.parametrize("crash_point", ["pre-marker", "post-marker"])
def test_crash_restart_exactly_once(spark, crash_point):
    src = tempfile.mkdtemp(prefix="vi_src_")
    _write_batches(
        spark,
        src,
        [_rows([1, 2]), _rows([2], op="delete") + _rows([10]), _rows([20])],
    )
    path = tempfile.mkdtemp(prefix="vi_idx_")
    cents = _centroids(spark)

    class Boom(RuntimeError):
        pass

    def fault(point, batch_id):
        if point == crash_point and batch_id == 1:
            raise Boom(point)

    try:
        VI.stream_vector_index_ingest(
            _stream(spark, src), path, cents, op_col="op", _fault_point=fault
        )
    except Exception:
        pass  # the injected crash surfaces through the stream

    VI.stream_vector_index_ingest(
        _stream(spark, src), path, cents, op_col="op"
    )
    live = {r.vec_id for r in VI.live_vectors(spark, path).collect()}
    assert live == {1, 10, 20}
    # no duplicate rows for any id+batch (replay overwrote, not appended)
    raw = spark.read.parquet(f"{path}/data")
    dupes = (
        raw.groupBy("vec_id", "_batch_id", "op")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > 1)
        .count()
    )
    assert dupes == 0


def test_live_view_as_of_snapshots(spark):
    """Snapshot reads (the BM25 layout's as_of contract, mirrored):
    as_of=N is the live view exactly as of committed batch N — each
    point of an insert -> delete -> re-insert runbook must equal the
    state after that batch."""
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
    VI.stream_vector_index_ingest(
        _stream(spark, src), path, _centroids(spark), op_col="op"
    )

    want = {
        0: {1, 2, 101},
        1: {1, 101, 201},
        2: {1, 2, 101, 201},
    }
    for as_of, ids in want.items():
        got = {
            r.vec_id
            for r in VI.live_vectors(spark, path, as_of=as_of).collect()
        }
        assert got == ids, f"as_of={as_of}"
    # head view == latest snapshot
    head = {r.vec_id for r in VI.live_vectors(spark, path).collect()}
    assert head == want[2]


@pytest.mark.slow
def test_export_to_batch_layout(spark, tmp_path):
    """vindex-export: the streamed live view materialized into the
    batch write_sharded layout must serve IDENTICAL results through
    ivf_search_from_disk, take batch mutations, and optionally carry a
    refine codec column."""
    from big_ann_spark.operators import ann as ANN
    from big_ann_spark.operators import vector_ops as VO

    src = tempfile.mkdtemp(prefix="vi_exp_src_")
    _write_batches(
        spark,
        src,
        [
            _rows([1, 2, 3, 101, 102, 201]),
            _rows([2], op="delete") + _rows([301, 302]),
        ],
    )
    path = tempfile.mkdtemp(prefix="vi_exp_idx_")
    cents = _centroids(spark)
    VI.stream_vector_index_ingest(_stream(spark, src), path, cents, op_col="op")

    dst = str(tmp_path / "batch_idx")
    n = VI.export_vector_index(spark, path, dst, cents)
    live = VI.live_vectors(spark, path)
    assert n == live.count()

    queries = live.filter(F.col("vec_id").isin(1, 101)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    want = sorted(
        map(tuple, VI.search_index(spark, path, queries, cents, k=3, nprobe=2)
            .select("qid", "neighbor_id", "rank").collect())
    )
    got = sorted(
        map(tuple, ANN.ivf_search_from_disk(queries, dst, cents, k=3, nprobe=2)
            .select("qid", "neighbor_id", "rank").collect())
    )
    assert got == want and len(got) == 6

    # the exported layout is a first-class batch index: mutations work
    VO.delete_vectors(spark, dst, [1])
    after = {
        r["neighbor_id"]
        for r in ANN.ivf_search_from_disk(queries, dst, cents, k=3, nprobe=2).collect()
    }
    assert 1 not in after

    # refine-codec export: codes column present, search auto-usable
    dst2 = str(tmp_path / "batch_idx_sq8")
    VI.export_vector_index(spark, path, dst2, cents, codec="sq8")
    cols = spark.read.parquet(f"{dst2}/shards").columns
    assert "codes" in cols and "embedding" in cols
    got2 = sorted(
        map(tuple, ANN.ivf_search_from_disk(
            queries, dst2, cents, k=3, nprobe=2, codec="sq8", rerank_factor=100
        ).select("qid", "neighbor_id", "rank").collect())
    )
    assert got2 == want

    # opq export: rotation sidecar lands, detector reports the tier,
    # and the exhaustive-pool search equals the raw answers
    dst3 = str(tmp_path / "batch_idx_opq")
    VI.export_vector_index(spark, path, dst3, cents, codec="opq")
    assert ANN.detect_refine_codec(spark, dst3) == "opq"
    got3 = sorted(
        map(tuple, ANN.ivf_search_from_disk(
            queries, dst3, cents, k=3, nprobe=2, codec="opq",
            rerank_factor=100,
        ).select("qid", "neighbor_id", "rank").collect())
    )
    assert got3 == want
    # the stored codes must be the ROTATED-space encoding under the
    # stored sidecars — catches an export that lands the rotation but
    # encodes unrotated (the exhaustive-pool equality above cannot see
    # that: the exact rerank hides any ADC garbage at this corpus size)
    from big_ann_spark.operators.pq import (
        load_pq_codebooks,
        load_rotation,
        with_pq_codes_arrow,
    )

    R = load_rotation(spark, f"{dst3}/opq_rotation.parquet")
    books3 = load_pq_codebooks(spark, f"{dst3}/pq_codebooks.parquet")
    expect_codes = {
        r["vec_id"]: list(r["pq_codes"])
        for r in with_pq_codes_arrow(
            VI.live_vectors(spark, path).select(
                "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
            ),
            books3,
            rotation=R,
        ).collect()
    }
    got_codes = {
        r["vec_id"]: list(r["pq_codes"])
        for r in spark.read.parquet(f"{dst3}/shards")
        .select("vec_id", "pq_codes")
        .collect()
    }
    assert got_codes == expect_codes
