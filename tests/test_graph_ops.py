"""Graph-tier freshness (VERDICT r12 #2): exactly-once mutations on
the persisted kNN-graph layout, live-view serving equality, as-of
snapshots, crash-window invisibility, and compaction-rebuild."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_ann_spark.catalog import load_table
from big_ann_spark.operators import ann as ANN
from big_ann_spark.operators import graph_ops as GO
from big_ann_spark.operators import oplayout
from big_ann_spark.operators import vector_ops as VO
from big_ann_spark.operators.knn import exact_knn

N = 60  # base corpus; n_entry >= N makes graph serving exact by construction
K = 5


def _build(spark, sf_dir, tmp_path):
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < N)
        .localCheckpoint()
    )
    g = ANN.nn_descent_knn_graph(emb, k=6, iterations=1, dim=64)
    path = str(tmp_path / "glayout")
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
    # exact_knn's distances are the l2_distance fold — bit-identical
    # to the graph tier's scoring
    out = exact_knn(
        qs, live, k=K, base_id="vec_id", base_vec="embedding",
    )
    return sorted(
        (r["qid"], r["neighbor_id"], round(r["dist"], 9), r["rank"])
        for r in out.collect()
    )


def _mutate(spark, emb, path):
    """upsert: move ids 10..14 far away; insert brand-new ids 1000+;
    delete 2, 4, 11 (11 = upsert-then-delete, latest op wins)."""
    moved = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15)).select(
        "vec_id",
        F.transform("embedding", lambda x: x + F.lit(30.0)).alias("embedding"),
    )
    fresh = emb.filter(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(0.5)).alias("embedding"),
    )
    op0 = GO.upsert_graph_vectors(spark, path, moved.unionByName(fresh))
    op1 = GO.delete_graph_nodes(spark, path, [2, 4, 11])
    live = (
        emb.select("vec_id", "embedding")
        .filter(~F.col("vec_id").isin([10, 11, 12, 13, 14, 2, 4]))
        .unionByName(moved.filter(F.col("vec_id") != 11))
        .unionByName(fresh)
    ).localCheckpoint()
    return op0, op1, live


@pytest.mark.slow
def test_graph_mutations_serve_live_view_exactly(spark, sf_dir, tmp_path):
    """In the exact-by-construction regime (n_entry >= n) the mutated
    layout must serve EXACTLY the brute-force kNN over the live view:
    deletes vanish, moved vectors score at their NEW position, fresh
    ids surface, and latest-op-wins across the op sequence."""
    emb, path, qs = _build(spark, sf_dir, tmp_path)
    before = _serve(qs, path)
    assert before == _exact(qs, emb)

    op0, op1, live = _mutate(spark, emb, path)
    assert (op0, op1) == (0, 1)
    assert _serve(qs, path) == _exact(qs, live)
    # as_of snapshots: behind every op == the pristine layout; at op0
    # == the upsert-only view; at head == live
    assert _serve(qs, path, as_of=-1) == before
    live0 = (
        emb.select("vec_id", "embedding")
        .filter(~F.col("vec_id").isin([10, 11, 12, 13, 14]))
        .unionByName(
            emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15)).select(
                "vec_id",
                F.transform(
                    "embedding", lambda x: x + F.lit(30.0)
                ).alias("embedding"),
            )
        )
        .unionByName(
            emb.filter(F.col("vec_id") < 3).select(
                (F.col("vec_id") + 1000).alias("vec_id"),
                F.transform("embedding", lambda x: x * F.lit(0.5)).alias(
                    "embedding"
                ),
            )
        )
    )
    assert _serve(qs, path, as_of=0) == _exact(qs, live0)
    assert _serve(qs, path, as_of=1) == _exact(qs, live)


def test_graph_crash_window_invisible(spark, sf_dir, tmp_path):
    """Op partitions without a commit marker (a crashed writer) must
    be invisible to serving, and the crashed id reclaimable."""
    emb, path, qs = _build(spark, sf_dir, tmp_path)
    before = _serve(qs, path)
    rows = (
        emb.filter(F.col("vec_id") < 2)
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x + F.lit(9.0)).alias(
                "embedding"
            ),
        )
        .withColumn("op", F.lit(VO.OP_INSERT))
        .withColumn("_mb", F.lit(0))
    )
    oplayout.write_op_partitions(rows, f"{path}/ops", ["_mb"])  # no marker
    assert _serve(qs, path) == before
    # the reclaiming writer purges the crashed partitions and lands
    # the SAME id exactly-once
    assert GO.delete_graph_nodes(spark, path, [3]) == 0
    assert _serve(qs, path) == _exact(
        qs, emb.select("vec_id", "embedding").filter(F.col("vec_id") != 3)
    )


@pytest.mark.slow
def test_graph_compaction_rebuild(spark, sf_dir, tmp_path):
    """compact_graph_in_place folds every op into a pristine REBUILT
    layout at the same path: serving equality preserved (exact
    regime), contested state reset, no swap leftovers, and the
    rebuilt graph contains no tombstoned node records."""
    emb, path, qs = _build(spark, sf_dir, tmp_path)
    _op0, _op1, live = _mutate(spark, emb, path)
    want = _exact(qs, live)
    assert _serve(qs, path) == want
    assert VO.contested_count(spark, path) > 0
    n_ops = GO.compact_graph_in_place(
        spark, path, k=6, dim=64, build="hash", iterations=1
    )
    assert n_ops == 2
    assert VO.contested_count(spark, path) == 0
    assert _serve(qs, path) == want
    assert not oplayout.path_exists(spark, path + ".compacting")
    assert not oplayout.path_exists(spark, path + ".precompact")
    nodes = {
        r["node"]
        for r in spark.read.parquet(f"{path}/graph.parquet")
        .select("node")
        .collect()
    }
    assert nodes == {r["vec_id"] for r in live.select("vec_id").collect()}
    # a concurrent mutation mid-compaction is refused loudly (the
    # shared swap machinery's contract)
    cfs, cjp = oplayout.compact_lock_jpath(spark, path)
    cfs.create(cjp, False).close()
    try:
        with pytest.raises(oplayout.ConcurrentWriterError):
            GO.delete_graph_nodes(spark, path, [5])
    finally:
        cfs.delete(cjp, False)


@pytest.mark.slow
def test_graph_copy_on_write_compaction(spark, sf_dir, tmp_path):
    """compact_graph_layout to a NEW path: source untouched (still
    serves the mutated view), destination pristine and equal."""
    emb, path, qs = _build(spark, sf_dir, tmp_path)
    _mutate(spark, emb, path)
    want = _serve(qs, path)
    dst = str(tmp_path / "gcompact")
    n_ops = GO.compact_graph_layout(
        spark, path, dst, k=6, dim=64, build="hash", iterations=1
    )
    assert n_ops == 2
    assert _serve(qs, dst) == want
    assert _serve(qs, path) == want  # source still mutated + consistent
    assert not VO.has_vector_ops(spark, dst)


@pytest.mark.slow
def test_compaction_into_previously_mutated_dst(spark, sf_dir, tmp_path):
    """Review r13: a compaction target (or rebuild dir) that carried
    an op ledger from a previous generation must come out PRISTINE —
    stale ops surviving the write would be silently applied to the
    new base at search time (resurrected deletes/upserts)."""
    emb, path, qs = _build(spark, sf_dir, tmp_path)
    dst = str(tmp_path / "reused")
    # generation 1 at dst: a layout that takes a delete op
    g = ANN.nn_descent_knn_graph(emb, k=6, iterations=1, dim=64)
    ANN.write_knn_graph_layout(g, emb, dst, n_graph_buckets=4, n_entries=N)
    GO.delete_graph_nodes(spark, dst, [0])
    assert VO.has_vector_ops(spark, dst)
    # generation 2: compact the OTHER layout into the same dst
    _mutate(spark, emb, path)
    GO.compact_graph_layout(spark, path, dst, k=6, dim=64, build="hash",
                            iterations=1)
    assert not VO.has_vector_ops(spark, dst)
    assert _serve(qs, dst) == _serve(qs, path)  # id 0 NOT resurrected-deleted


@pytest.mark.slow
def test_graph_mutation_cli(spark, sf_dir, tmp_path):
    """graph-upsert / graph-delete / graph-search --as-of /
    graph-compact drive the graph_ops surface end-to-end."""
    from big_ann_spark.cli import main

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < N)
    )
    d = str(tmp_path)
    emb.write.parquet(f"{d}/emb")
    assert main([
        "build-graph", f"{d}/emb", f"{d}/g", "--k", "5", "--iterations",
        "1", "--serving-layout", "--graph-buckets", "4",
        "--entries", str(N),
    ]) == 0
    emb.filter(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 500).alias("vec_id"), "embedding"
    ).write.parquet(f"{d}/new")
    assert main(["graph-upsert", f"{d}/g", f"{d}/new"]) == 0
    assert main(["graph-delete", f"{d}/g", "--ids", "1,2"]) == 0
    qs = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    ).localCheckpoint()
    live = (
        emb.filter(~F.col("vec_id").isin([1, 2]))
        .unionByName(
            emb.filter(F.col("vec_id") < 3).select(
                (F.col("vec_id") + 500).alias("vec_id"), "embedding"
            )
        )
    )
    want = _exact(qs, live)
    got = _serve(qs, f"{d}/g")
    assert got == want
    # --as-of -1 = pristine; compact folds and preserves the live view
    assert _serve(qs, f"{d}/g", as_of=-1) == _exact(qs, emb)
    assert main(["graph-compact", f"{d}/g", "--k", "5", "--build", "hash"]) == 0
    assert _serve(qs, f"{d}/g") == want
    # --as-of on a plain edges dir is refused
    assert main([
        "graph-search", f"{d}/g_missing", f"{d}/emb", "--as-of", "0"
    ]) == 2


def test_rebuild_refuses_committed_ops_without_discard(
    spark, sf_dir, tmp_path
):
    """ADVICE r13: a direct write_knn_graph_layout over a layout
    carrying COMMITTED ops must refuse — silently purging them would
    discard committed mutations — unless the caller passes
    discard_ops=True (what the compaction paths do, AFTER folding the
    ops into the live view)."""
    emb, path, qs = _build(spark, sf_dir, tmp_path)
    _mutate(spark, emb, path)
    n_committed = len(oplayout.committed_ops(spark, path))
    assert n_committed == 2
    g = ANN.nn_descent_knn_graph(emb, k=6, iterations=1, dim=64)
    with pytest.raises(ValueError, match="committed op"):
        ANN.write_knn_graph_layout(g, emb, path, n_graph_buckets=4,
                                   n_entries=N)
    # the refusal touched NOTHING: ledger intact, live view unchanged
    assert len(oplayout.committed_ops(spark, path)) == n_committed
    assert VO.has_vector_ops(spark, path)
    # explicit discard: pristine rebuild, mutations deliberately gone
    ANN.write_knn_graph_layout(g, emb, path, n_graph_buckets=4,
                               n_entries=N, discard_ops=True)
    assert not VO.has_vector_ops(spark, path)
    assert not oplayout.committed_ops(spark, path)
    assert _serve(qs, path) == _exact(qs, emb)


def test_rebuild_is_writer_lock_guarded(spark, sf_dir, tmp_path):
    """ADVICE r13 (race half): the purge+write holds the layout's
    writer lock, so a rebuild racing a mutation — or a mid-swap
    compaction marker — errors loudly instead of interleaving a
    landed op between the purge and the new base."""
    emb, path, qs = _build(spark, sf_dir, tmp_path)
    g = ANN.nn_descent_knn_graph(emb, k=6, iterations=1, dim=64)
    # a mutation in flight holds the in-tree writer lock
    with oplayout.writer_lock(spark, path, owner="test-mutator"):
        with pytest.raises(oplayout.ConcurrentWriterError,
                           match="another writer"):
            ANN.write_knn_graph_layout(g, emb, path, n_graph_buckets=4,
                                       n_entries=N)
    # an in-place compaction mid-swap holds the sibling marker
    fs, jp = oplayout.compact_lock_jpath(spark, path)
    fs.create(jp, True).close()
    try:
        with pytest.raises(oplayout.ConcurrentWriterError,
                           match="compaction"):
            ANN.write_knn_graph_layout(g, emb, path, n_graph_buckets=4,
                                       n_entries=N)
    finally:
        fs.delete(jp, False)
    # both guards released: the rebuild lands and serves
    ANN.write_knn_graph_layout(g, emb, path, n_graph_buckets=4, n_entries=N)
    assert _serve(qs, path) == _exact(qs, emb)
