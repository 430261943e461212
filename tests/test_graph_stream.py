"""Streaming graph ingest: micro-batches land as committed graph ops,
byte-equal to the same mutations landed batch-wise, exactly-once across
crash/replay at every fault window."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from big_ann_spark.catalog import load_table
from big_ann_spark.operators import ann as ANN
from big_ann_spark.operators import graph_ops as GO
from big_ann_spark.operators import oplayout
from big_ann_spark.operators.knn import exact_knn
from big_ann_spark.streaming import graph_stream as GS

N = 60
K = 5
_SCHEMA = "vec_id long, embedding array<float>, op string"


def _build_layout(spark, sf_dir, tmp_path, name="gs_layout"):
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < N)
        .localCheckpoint()
    )
    g = ANN.nn_descent_knn_graph(emb, k=6, iterations=1, dim=64)
    path = str(tmp_path / name)
    ANN.write_knn_graph_layout(g, emb, path, n_graph_buckets=4, n_entries=N)
    qs = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    ).localCheckpoint()
    return emb, path, qs


def _serve(qs, path, **kw):
    out = ANN.knn_graph_search_from_disk(
        qs, path, k=K, beam=N, hops=2, n_entry=N, dim=64, **kw
    )
    return sorted(
        (r["qid"], r["neighbor_id"], round(r["dist"], 9), r["rank"])
        for r in out.collect()
    )


def _exact(qs, live):
    out = exact_knn(
        qs, live, k=K, base_id="vec_id", base_vec="embedding",
    )
    return sorted(
        (r["qid"], r["neighbor_id"], round(r["dist"], 9), r["rank"])
        for r in out.collect()
    )


def _moved(emb):
    return emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 13)).select(
        "vec_id",
        F.transform("embedding", lambda x: x + F.lit(30.0)).alias("embedding"),
    )


def _mutation_rows(spark, emb):
    """Two micro-batches of mutations as collected row lists:
    batch 0 = upserts (3 moved + 2 fresh), batch 1 = deletes."""
    moved = _moved(emb)
    fresh = emb.filter(F.col("vec_id") < 2).select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(0.5)).alias("embedding"),
    )
    ups = [
        (r["vec_id"], [float(x) for x in r["embedding"]], "insert")
        for r in moved.unionByName(fresh).collect()
    ]
    dels = [(int(i), None, "delete") for i in (3, 11)]
    live = (
        emb.select("vec_id", "embedding")
        .filter(~F.col("vec_id").isin([10, 11, 12, 3]))
        .unionByName(moved.filter(F.col("vec_id") != 11))
        .unionByName(fresh)
    ).localCheckpoint()
    return [ups, dels], live


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


@pytest.mark.slow
def test_stream_equals_batch_landed_mutations(spark, sf_dir, tmp_path):
    """The streamed ledger is INDISTINGUISHABLE from batch landing:
    same op ids, same resolved live view, same exact serving output —
    and the mutated layout serves exactly brute-force kNN over the
    live view (the graph tier's n_entry >= n exactness regime)."""
    emb, spath, qs = _build_layout(spark, sf_dir, tmp_path, "via_stream")
    _, bpath, _ = _build_layout(spark, sf_dir, tmp_path, "via_batch")
    batches, live = _mutation_rows(spark, emb)

    src = tempfile.mkdtemp(prefix="gs_src_")
    _write_batches(spark, src, batches)
    GS.stream_graph_ingest(_stream(spark, src), spath, op_col="op")

    # the same mutations, landed through the batch entry points
    GO.upsert_graph_vectors(
        spark, bpath,
        spark.createDataFrame(batches[0], _SCHEMA).select(
            "vec_id", "embedding"
        ),
    )
    GO.delete_graph_nodes(spark, bpath, [r[0] for r in batches[1]])

    assert oplayout.committed_ops(spark, spath) == {0, 1}
    assert oplayout.committed_ops(spark, bpath) == {0, 1}
    want = _exact(qs, live)
    assert _serve(qs, spath) == want
    assert _serve(qs, spath) == _serve(qs, bpath)
    # as-of snapshots agree too (op numbering matched)
    assert _serve(qs, spath, as_of=0) == _serve(qs, bpath, as_of=0)
    # ops tables are row-identical
    def _rows(p):
        return sorted(
            (r["vec_id"], r["op"], r["_mb"], r["embedding"] or [])
            for r in spark.read.parquet(f"{p}/ops").collect()
        )

    assert _rows(spath) == _rows(bpath)


def test_same_batch_insert_delete_resolves_deleted(spark, sf_dir, tmp_path):
    """One micro-batch carrying insert+delete of the same id lands as
    ONE op and resolves DELETED (delete-beats-insert within an op) —
    plus unknown op values fail the batch loudly."""
    emb, path, qs = _build_layout(spark, sf_dir, tmp_path)
    vec = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    src = tempfile.mkdtemp(prefix="gs_src_")
    _write_batches(
        spark, src, [[(500, vec, "insert"), (500, None, "delete")]]
    )
    GS.stream_graph_ingest(_stream(spark, src), path, op_col="op")
    assert oplayout.committed_ops(spark, path) == {0}
    assert _serve(qs, path) == _exact(qs, emb)  # 500 never surfaces

    # an unknown op value fails the (new) batch loudly — same source +
    # checkpoint, so the bad rows arrive as the next micro-batch
    _write_batches(spark, src, [[(7, vec, "upsert")]])
    with pytest.raises(Exception, match="unknown op"):
        GS.stream_graph_ingest(_stream(spark, src), path, op_col="op")
    assert oplayout.committed_ops(spark, path) == {0}  # nothing landed


@pytest.mark.parametrize(
    "crash_point",
    [
        "pre-marker",
        pytest.param("pre-land", marks=pytest.mark.slow),
        pytest.param("post-land", marks=pytest.mark.slow),
    ],
)
def test_crash_restart_exactly_once(spark, sf_dir, tmp_path, crash_point):
    """Kill the stream at every fault window of batch 1, restart, and
    the ledger holds exactly one op per batch — no duplicate op ids,
    no duplicate rows, live view exactly right."""
    emb, path, qs = _build_layout(spark, sf_dir, tmp_path)
    batches, live = _mutation_rows(spark, emb)
    src = tempfile.mkdtemp(prefix="gs_src_")
    _write_batches(spark, src, batches)

    class Boom(RuntimeError):
        pass

    def fault(point, batch_id):
        if point == crash_point and batch_id == 1:
            raise Boom(point)

    with pytest.raises(Exception):
        GS.stream_graph_ingest(
            _stream(spark, src), path, op_col="op", _fault_point=fault
        )
    # restart: replays batch 1, must not duplicate batch 0's op either
    GS.stream_graph_ingest(_stream(spark, src), path, op_col="op")

    committed = oplayout.committed_ops(spark, path)
    assert committed == {0, 1}  # one op per batch, no duplicates
    # no duplicate (vec_id, op) rows within any op partition
    raw = spark.read.parquet(f"{path}/ops")
    assert (
        raw.groupBy("vec_id", "_mb")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > 1)
        .count()
        == 0
    )
    assert _serve(qs, path) == _exact(qs, live)


def test_graph_delete_while_stream_is_down_keeps_its_op_id(
    spark, sf_dir, tmp_path
):
    """Batch 1 (deletes 3 and 11) crashes after recording its op id; a
    batch graph delete runs before the restart. The delete takes a
    later id, so the restart still lands batch 1 and every deleted id
    stays deleted."""
    emb, path, qs = _build_layout(spark, sf_dir, tmp_path)
    batches, live = _mutation_rows(spark, emb)
    src = tempfile.mkdtemp(prefix="gs_src_")
    _write_batches(spark, src, batches)

    def fault(point, batch_id):
        if point == "pre-land" and batch_id == 1:
            raise RuntimeError(point)

    with pytest.raises(Exception):
        GS.stream_graph_ingest(
            _stream(spark, src), path, op_col="op", _fault_point=fault
        )
    assert GO.delete_graph_nodes(spark, path, [1000]) == 2
    GS.stream_graph_ingest(_stream(spark, src), path, op_col="op")

    assert oplayout.committed_ops(spark, path) == {0, 1, 2}
    assert _serve(qs, path) == _exact(qs, live.filter(F.col("vec_id") != 1000))


def test_cli_graph_stream_ingest(spark, sf_dir, tmp_path):
    """graph-stream-ingest drives the bridge end-to-end and the
    result serves the streamed live view exactly."""
    from big_ann_spark.cli import main

    emb, path, qs = _build_layout(spark, sf_dir, tmp_path, "cli_layout")
    batches, live = _mutation_rows(spark, emb)
    src = tempfile.mkdtemp(prefix="gs_src_")
    _write_batches(spark, src, batches)
    assert main([
        "graph-stream-ingest", src, path, "--op-col", "op",
    ]) == 0
    # no per-trigger cap on the CLI path: both files arrive as ONE
    # micro-batch = one committed op (delete-beats-insert applies to
    # the ids both upserted and deleted across the folded batches: 11)
    assert oplayout.committed_ops(spark, path) == {0}
    assert _serve(qs, path) == _exact(qs, live)
    # missing column fails loudly before any stream starts
    with pytest.raises(SystemExit, match="lacks column"):
        main(["graph-stream-ingest", src, path, "--op-col", "nope"])


def test_restart_after_delete_and_compaction_keeps_deleted_ids_deleted(
    spark, sf_dir, tmp_path
):
    """Stream batch 0 (which inserts 1000 and 1001), delete both
    batch-wise, compact in place, restart the stream over the same
    source: the compacted tree keeps the stream checkpoint, so the
    restart lands no op and 1000/1001 stay deleted."""
    import os

    emb, path, qs = _build_layout(spark, sf_dir, tmp_path)
    batches, _ = _mutation_rows(spark, emb)
    src = tempfile.mkdtemp(prefix="gs_src_")
    _write_batches(spark, src, batches[:1])
    GS.stream_graph_ingest(_stream(spark, src), path, op_col="op")
    GO.delete_graph_nodes(spark, path, [1000, 1001])
    GO.compact_graph_in_place(spark, path, k=6, dim=64, build="hash", iterations=1)
    assert os.path.isdir(f"{path}/checkpoint")

    GS.stream_graph_ingest(_stream(spark, src), path, op_col="op")
    assert oplayout.committed_ops(spark, path) == set()
    served = {t[1] for t in _serve(qs, path)}
    assert not served & {1000, 1001}
    nodes = {r["node"] for r in spark.read.parquet(f"{path}/graph.parquet").collect()}
    assert not nodes & {1000, 1001}
