"""S8 end-to-end: IVF search over the PERSISTED sharded layout (read
back from partitioned parquet) must equal the in-memory IVF search —
the full index-build → index-scan lifecycle of the reference
(build: shard_by_distance/save_shard; search: kanndi_search) as one
write + one partition-pruned read."""

from __future__ import annotations

import os
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from big_ann_spark.catalog import load_table
from big_ann_spark.operators import ann as ANN
from big_ann_spark.operators import sharding as SH
from tests.ivf_reference import probed_pool_inputs, route_queries


def test_ivf_from_disk_equals_in_memory(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    cents = SH.label_centroids(emb)
    assign = SH.assign_to_centroids(emb, cents)
    path = tempfile.mkdtemp(prefix="big_ann_ivf_disk_")
    SH.write_sharded(assign, emb, path)

    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    sharded_mem = assign.select("vec_id", "shard_id").join(
        emb.select("vec_id", "embedding"), "vec_id"
    )
    mem = ANN.ivf_search(queries, sharded_mem, cents, k=10, nprobe=3)
    disk_tbl = spark.read.parquet(f"{path}/shards")
    disk = ANN.ivf_search(queries, disk_tbl, cents, k=10, nprobe=3)

    a = sorted(map(tuple, mem.select("qid", "neighbor_id", "rank").collect()))
    b = sorted(map(tuple, disk.select("qid", "neighbor_id", "rank").collect()))
    assert a == b and len(a) == 100


def test_ivf_search_from_disk_skips_listing(spark, sf_dir):
    """ivf_search_from_disk (explicit probed-directory read, no
    full-layout listing walk) must equal ivf_search over the fully
    listed table; open_probed_shards must tolerate probed ids whose
    shard never landed a directory (empty clusters)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = SH.label_centroids(emb)
    assign = SH.assign_to_centroids(emb, cents)
    path = tempfile.mkdtemp(prefix="big_ann_ivf_probed_")
    SH.write_sharded(assign, emb, path)

    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    full = ANN.ivf_search(
        queries, spark.read.parquet(f"{path}/shards"), cents, k=10, nprobe=3
    )
    probed = ANN.ivf_search_from_disk(queries, path, cents, k=10, nprobe=3)
    a = sorted(map(tuple, full.select("qid", "neighbor_id", "rank").collect()))
    b = sorted(map(tuple, probed.select("qid", "neighbor_id", "rank").collect()))
    assert a == b and len(a) == 100

    real = [r.shard_id for r in assign.select("shard_id").distinct().collect()]
    some = ANN.open_probed_shards(spark, path, [real[0], 999_999])
    assert some.select("shard_id").distinct().count() == 1
    empty = ANN.open_probed_shards(spark, path, [999_999])
    assert empty.count() == 0 and "shard_id" in empty.columns


def test_from_disk_equals_in_memory_bit_for_bit_on_near_ties(spark):
    """Driver routing plus the fold-exact Arrow scan must give the
    (qid, neighbor_id, rank, dist) of ivf_search over the fully listed
    layout bit for bit where GEMM estimates cannot rank: rows 1e-16
    apart around the k-th boundary, duplicate vectors under different
    ids, and a query equidistant from two centroids (the tie goes to
    the lower shard id, whose rows differ from the other's)."""
    d = 8
    e = np.eye(d)
    cents_np = {0: -e[0], 1: e[0], 2: 4.0 * e[1]}
    rows = []
    # shard 0: twelve rows whose distances from its centroid are
    # 0.5 + i·1e-16 (ties and one-ulp steps across the k = 5 boundary)
    for i in range(12):
        rows.append((i, cents_np[0] + (0.5 + i * 1e-16) * e[2]))
    # duplicates under different ids, straddling the boundary too
    rows += [(100, rows[4][1].copy()), (101, rows[4][1].copy())]
    for i in range(8):
        rows.append((200 + i, cents_np[1] + 0.3 * e[3] + i * 1e-16 * e[4]))
        rows.append((300 + i, cents_np[2] + 0.2 * e[5] + i * 0.01 * e[6]))
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(s, [float(x) for x in c]) for s, c in cents_np.items()],
        "shard_id int, centroid array<double>",
    )
    assign = SH.assign_to_centroids(emb, cents, extra_cols=["embedding"])
    path = tempfile.mkdtemp(prefix="big_ann_ivf_ties_") + "/layout"
    SH.write_sharded(assign, emb, path)
    queries = spark.createDataFrame(
        [
            (0, [0.0] * d),  # equidistant from shards 0 and 1
            (1, [float(x) for x in cents_np[0]]),  # ranks the 1e-16 ladder
            (2, [float(x) for x in cents_np[1] + 0.3 * e[3]]),
        ],
        "qid long, qvec array<double>",
    )
    listed = spark.read.parquet(f"{path}/shards")
    cols = ("qid", "neighbor_id", "rank", "dist")
    got = {}
    for nprobe in (1, 2):
        want = ANN.ivf_search(queries, listed, cents, k=5, nprobe=nprobe)
        out = ANN.ivf_search_from_disk(queries, path, cents, k=5, nprobe=nprobe)
        got[nprobe] = sorted(map(tuple, out.select(*cols).collect()))
        assert got[nprobe] == sorted(map(tuple, want.select(*cols).collect()))
        assert len(got[nprobe]) == 15
    # the routing tie is real: at nprobe = 1 query 0 sees only shard 0,
    # at nprobe = 2 shard 1's nearer rows win
    assert {n for q, n, _, _ in got[1] if q == 0} <= set(range(12)) | {100, 101}
    assert {n for q, n, _, _ in got[2] if q == 0} <= set(range(200, 208))
    # and query 1 ranks the 1e-16 ladder: ids 0..4 at ranks 1..5
    assert [n for q, n, _, _ in got[1] if q == 1] == [0, 1, 2, 3, 4]


def test_query_batch_past_the_driver_bound_fails_loudly(spark, sf_dir, monkeypatch):
    """The from-disk search collects its query batch to the driver to
    route it: a batch over the bound must fail with a message that says
    to split it, never be silently truncated; a batch at the bound is
    served whole."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = SH.label_centroids(emb)
    path = tempfile.mkdtemp(prefix="big_ann_ivf_bound_") + "/layout"
    SH.write_sharded(SH.assign_to_centroids(emb, cents), emb, path)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    monkeypatch.setattr(ANN, "DRIVER_ROWS", 7)
    with pytest.raises(ValueError, match="split the batch"):
        ANN.ivf_search_from_disk(queries, path, cents, k=5, nprobe=2)
    monkeypatch.setattr(ANN, "DRIVER_ROWS", 8)
    out = ANN.ivf_search_from_disk(queries, path, cents, k=5, nprobe=2).collect()
    assert {r.qid for r in out} == set(range(8)) and len(out) == 40
    # and an empty batch is an empty result, not an error
    none = queries.limit(0)
    assert ANN.ivf_search_from_disk(none, path, cents, k=5, nprobe=2).count() == 0
    listed = spark.read.parquet(f"{path}/shards")
    assert ANN.ivf_search(none, listed, cents, k=5, nprobe=2).count() == 0


def test_candidate_partials_past_the_driver_bound_fail_loudly(spark, sf_dir, monkeypatch):
    """The candidate scan's per-task top-k partials are collected to the
    driver under a bound derived from DRIVER_ROWS and k_pool (each task
    keeps k_pool rows per query): past it the pool fails with a message
    that says to split the batch, never a truncated pool; within it the
    pool is served whole."""
    emb, cents, path, _ = _sq8_layout(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    _, routing, shards = probed_pool_inputs(spark, queries, cents, path)
    want = sorted(map(tuple, ANN.sq8_pool(routing, shards, path, 20).collect()))
    assert len(want) == 160
    # room for 20 rows per scan task: fewer than the 8 queries keep
    monkeypatch.setattr(ANN, "DRIVER_ROWS", 1)
    with pytest.raises(ValueError, match="split the batch"):
        ANN.sq8_pool(routing, shards, path, 20)
    # a bound sized for the batch's 8 queries serves all of it
    monkeypatch.setattr(ANN, "DRIVER_ROWS", 8)
    assert sorted(map(tuple, ANN.sq8_pool(routing, shards, path, 20).collect())) == want


def test_cli_build_index_and_search(spark, sf_dir, tmp_path):
    """The reference's main workflow as two CLI calls: build-index
    (K-Means shard -> partitioned parquet + centroids) then search;
    results must carry valid ranks for every query."""
    from big_ann_spark.cli import main

    idx = str(tmp_path / "idx")
    assert main(["build-index", f"{sf_dir}/embeddings.parquet", idx, "--m", "5"]) == 0
    out = str(tmp_path / "res.parquet")
    assert main(
        ["search", idx, f"{sf_dir}/embeddings.parquet", "--k", "5",
         "--nprobe", "2", "--out", out]
    ) == 0
    res = spark.read.parquet(out)
    n_q = load_table(spark, sf_dir, "embeddings").count()
    assert res.count() == 5 * n_q
    ranks = res.groupBy("qid").agg(
        F.min("rank").alias("mn"), F.max("rank").alias("mx")
    ).collect()
    assert all(r.mn == 1 and r.mx == 5 for r in ranks)
    # partition pruning is live: the shards table is shard_id-partitioned
    import os

    assert any(d.startswith("shard_id=") for d in os.listdir(f"{idx}/shards"))


@pytest.mark.slow
def test_cli_build_graph_and_search(spark, sf_dir, tmp_path):
    """Graph-tier lifecycle as two CLI calls: build-graph (NN-Descent
    edges -> parquet) then graph-search from the landed edge list;
    every query gets k ranked results and its own dist-0 self hit."""
    from big_ann_spark.cli import main

    gdir = str(tmp_path / "graph")
    src = f"{sf_dir}/embeddings.parquet"
    assert main(["build-graph", src, gdir, "--k", "5"]) == 0
    out = str(tmp_path / "gres.parquet")
    assert main(
        ["graph-search", gdir, src, "--base", src, "--k", "5", "--out", out]
    ) == 0
    res = spark.read.parquet(out)
    n_q = load_table(spark, sf_dir, "embeddings").count()
    assert res.count() == 5 * n_q
    ranks = res.groupBy("qid").agg(
        F.min("rank").alias("mn"), F.max("rank").alias("mx"),
        F.min("dist").alias("md"),
    ).collect()
    assert all(r.mn == 1 and r.mx == 5 and r.md == 0.0 for r in ranks)
    # a plain edges dir without --base is refused with guidance
    assert main(["graph-search", gdir, src, "--k", "5"]) == 2


@pytest.mark.slow
def test_cli_graph_serving_layout_from_disk(spark, sf_dir, tmp_path):
    """--serving-layout persists the graph TIER (node records: vector +
    adjacency in one bucketed row — the on-disk-HNSW analog of
    reference src/util/utils.py:286-296); graph-search then needs NO
    base table and returns exactly what the edges+base path returns."""
    from big_ann_spark.cli import main

    gdir = str(tmp_path / "graph")
    src = f"{sf_dir}/embeddings.parquet"
    assert main(
        ["build-graph", src, gdir, "--k", "5", "--serving-layout",
         "--graph-buckets", "8"]
    ) == 0
    out_mem = str(tmp_path / "mem.parquet")
    out_disk = str(tmp_path / "disk.parquet")
    # force the edges+base path by pointing at a copy without graph.parquet
    edges_only = str(tmp_path / "edges_only")
    import shutil

    os.makedirs(edges_only)
    shutil.copytree(f"{gdir}/edges.parquet", f"{edges_only}/edges.parquet")
    assert main(
        ["graph-search", edges_only, src, "--base", src, "--k", "5",
         "--out", out_mem]
    ) == 0
    assert main(["graph-search", gdir, src, "--k", "5", "--out", out_disk]) == 0
    key = lambda p: sorted(
        (r["qid"], r["neighbor_id"], round(r["dist"], 6), r["rank"])
        for r in spark.read.parquet(p).collect()
    )
    assert key(out_disk) == key(out_mem) and len(key(out_disk)) > 0


def test_cli_build_index_sq8_and_search(spark, sf_dir, tmp_path):
    """IVF-SQ8 (FAISS IVFSQ shape): shards land as int8 codes (no
    float vector column on disk), search auto-detects the ranges
    sidecar and decodes as a projection; quantized results recover
    >= 0.9 of the float index's neighbors."""
    from big_ann_spark.cli import main

    src = f"{sf_dir}/embeddings.parquet"
    idx_f = str(tmp_path / "idx_float")
    idx_q = str(tmp_path / "idx_sq8")
    assert main(["build-index", src, idx_f, "--m", "5"]) == 0
    assert main(["build-index", src, idx_q, "--m", "5", "--sq8"]) == 0
    shard_cols = spark.read.parquet(f"{idx_q}/shards").columns
    assert "codes" in shard_cols and "embedding" not in shard_cols

    out_f = str(tmp_path / "res_f.parquet")
    out_q = str(tmp_path / "res_q.parquet")
    for idx, out in [(idx_f, out_f), (idx_q, out_q)]:
        assert main(
            ["search", idx, src, "--k", "5", "--nprobe", "2", "--out", out]
        ) == 0
    f = {(r.qid, r.neighbor_id) for r in spark.read.parquet(out_f).collect()}
    qres = spark.read.parquet(out_q)
    n_q = load_table(spark, sf_dir, "embeddings").count()
    assert qres.count() == 5 * n_q
    q = {(r.qid, r.neighbor_id) for r in qres.collect()}
    assert len(q & f) / len(f) >= 0.9, len(q & f) / len(f)


def test_cli_float_rebuild_over_sq8_index(spark, sf_dir, tmp_path):
    """ADVICE r6: a float rebuild into a dir that previously held an
    --sq8 index overwrites shards/ but leaves the stale
    sq8_ranges.parquet sidecar behind — search must key detection off
    the DATA (codes column), so the rebuilt float index searches fine
    despite the stale sidecar."""
    from big_ann_spark.cli import main

    src = f"{sf_dir}/embeddings.parquet"
    idx = str(tmp_path / "idx_rebuilt")
    assert main(["build-index", src, idx, "--m", "5", "--sq8"]) == 0
    assert main(["build-index", src, idx, "--m", "5"]) == 0  # float rebuild
    import os

    assert os.path.exists(f"{idx}/sq8_ranges.parquet")  # stale sidecar survives
    assert "codes" not in spark.read.parquet(f"{idx}/shards").columns
    out = str(tmp_path / "res.parquet")
    assert main(["search", idx, src, "--k", "5", "--nprobe", "2", "--out", out]) == 0
    n_q = load_table(spark, sf_dir, "embeddings").count()
    assert spark.read.parquet(out).count() == 5 * n_q


def test_gt_round_trip_and_cli_evaluate(spark, sf_dir, tmp_path):
    """Ground-truth file round-trip (big-ann GT format) and the
    `evaluate` CLI closing the benchmark loop: at nprobe == m the IVF
    search is exhaustive, so recall vs an exact-kNN-derived GT is 1.0."""
    import numpy as np
    from pyspark.sql import functions as F

    from big_ann_spark.cli import main
    from big_ann_spark.operators.knn import exact_knn
    from big_ann_spark.sources import fbin as FB

    ids = np.arange(12, dtype=np.int32).reshape(3, 4)
    dists = (ids * 0.5).astype(np.float32)
    gt_path = str(tmp_path / "gt.ibin")
    FB.write_ground_truth_local(gt_path, ids, dists)
    r_ids, r_dists = FB.read_ground_truth_local(gt_path)
    assert (r_ids == ids).all() and np.allclose(r_dists, dists)

    # the public format stores UNSIGNED ids: >=2^31 must round-trip
    # positive (ADVICE r7: an int32 read wrapped them negative and they
    # silently never matched), negatives have no representation
    big = np.array([[2**31 + 5, 2**32 - 1, 7, 0]], dtype=np.int64)
    gt_big = str(tmp_path / "gt_big.ibin")
    FB.write_ground_truth_local(gt_big, big, np.zeros((1, 4), np.float32))
    rb, _ = FB.read_ground_truth_local(gt_big)
    assert (rb == big).all() and rb.min() >= 0
    import pytest as _pt

    with _pt.raises(ValueError, match="non-negative"):
        FB.write_ground_truth_local(
            str(tmp_path / "gt_neg.ibin"),
            np.array([[-1]], dtype=np.int64),
            np.zeros((1, 1), np.float32),
        )
    gdf = FB.ground_truth_df(spark, gt_path, k=2)
    assert gdf.count() == 6  # 3 queries x first-2 columns

    # end-to-end: build a small index, GT from exact kNN, evaluate
    src = f"{sf_dir}/embeddings.parquet"
    emb = spark.read.parquet(src).filter(F.col("vec_id") < 300)
    emb_path = str(tmp_path / "emb.parquet")
    emb.write.parquet(emb_path)
    q = emb.filter(F.col("vec_id") < 8)
    q_path = str(tmp_path / "q.parquet")
    q.write.parquet(q_path)
    exact = exact_knn(
        q, emb, k=5,
        query_id="vec_id", query_vec="embedding",
        base_id="vec_id", base_vec="embedding",
    ).collect()
    nq, k = 8, 5
    gids = np.zeros((nq, k), dtype=np.int32)
    gd = np.zeros((nq, k), dtype=np.float32)
    for r in exact:
        gids[r.qid, r.rank - 1] = r.neighbor_id
        gd[r.qid, r.rank - 1] = r.dist
    gt2 = str(tmp_path / "gt2.ibin")
    FB.write_ground_truth_local(gt2, gids, gd)

    idx = str(tmp_path / "idx")
    assert main(["build-index", emb_path, idx, "--m", "4"]) == 0
    # exhaustive probe of every shard -> identical to exact -> recall 1.0
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        assert main(
            ["evaluate", idx, q_path, gt2, "--k", "5", "--nprobe", "4"]
        ) == 0
    out = buf.getvalue()
    assert "recall@5" in out and "1.0000" in out, out


def test_cli_evaluate_guards_and_sq8(spark, sf_dir, tmp_path):
    """evaluate must work on --sq8 indexes (shared shard loader) and
    fail LOUDLY — not print recall 0 — on non-ordinal query ids or a
    --k the GT file cannot support."""
    import numpy as np
    import pytest
    from pyspark.sql import functions as F

    from big_ann_spark.cli import main
    from big_ann_spark.sources import fbin as FB

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 200
    )
    emb_path = str(tmp_path / "emb.parquet")
    emb.write.parquet(emb_path)
    q_path = str(tmp_path / "q.parquet")
    emb.filter(F.col("vec_id") < 4).write.parquet(q_path)
    gt = str(tmp_path / "gt.ibin")
    FB.write_ground_truth_local(
        gt,
        np.arange(12, dtype=np.int32).reshape(4, 3),
        np.zeros((4, 3), dtype=np.float32),
    )
    idx = str(tmp_path / "idx8")
    assert main(["build-index", emb_path, idx, "--m", "4", "--sq8"]) == 0
    # sq8 index evaluates (decode path shared with `search`)
    assert main(["evaluate", idx, q_path, gt, "--k", "3", "--nprobe", "4"]) == 0
    # --k beyond the GT file's k is an error, not a silently-capped metric
    with pytest.raises(SystemExit, match="exceeds the GT file"):
        main(["evaluate", idx, q_path, gt, "--k", "5"])
    # non-ordinal query ids are an error, not recall 0
    bad_q = str(tmp_path / "badq.parquet")
    emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 104)).write.parquet(bad_q)
    with pytest.raises(SystemExit, match="row ordinals"):
        main(["evaluate", idx, bad_q, gt, "--k", "3"])
    # a parquet DIRECTORY not named *.parquet is sniffed as parquet
    # (ADVICE r7: it used to hit the fbin reader and die on a garbage
    # header); an unrecognizable FILE fails with the format contract
    q_dir = str(tmp_path / "queries_dir")
    emb.filter(F.col("vec_id") < 4).write.parquet(q_dir)
    assert main(["evaluate", idx, q_dir, gt, "--k", "3", "--nprobe", "4"]) == 0
    bogus = str(tmp_path / "queries.bin_xyz")
    open(bogus, "wb").write(b"\x00" * 16)
    with pytest.raises(SystemExit, match="queries format"):
        main(["evaluate", idx, bogus, gt, "--k", "3"])


def test_cli_refine_layout_serves_raw_distances(spark, sf_dir, tmp_path, monkeypatch):
    """A REFINE layout carries codes AND raw vectors: `search` re-ranks
    by the raw vectors and `evaluate` scans them, so the distances
    served are the raw fold, never decoded quantization midpoints —
    recall would otherwise silently measure the quantizer."""
    from big_ann_spark.cli import main

    src = f"{sf_dir}/embeddings.parquet"
    emb = spark.read.parquet(src).filter(F.col("vec_id") < 300)
    emb_path = str(tmp_path / "emb.parquet")
    emb.write.parquet(emb_path)
    idx = str(tmp_path / "idx_refine")
    assert main(["build-index", emb_path, idx, "--m", "4", "--sq8-refine"]) == 0
    out = str(tmp_path / "res.parquet")
    assert main(["search", idx, emb_path, "--k", "3", "--nprobe", "2", "--out", out]) == 0
    raw = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in emb.collect()}
    res = spark.read.parquet(out).collect()
    assert len(res) == 3 * len(raw)
    for r in res:
        assert r.dist == _np_fold(raw[r.qid], raw[r.neighbor_id][None, :])[0]
    # evaluate serves the raw column too: at nprobe == m recall vs the
    # exact raw ground truth is 1.0, through the raw codec
    from big_ann_spark.operators.knn import exact_knn
    from big_ann_spark.sources import fbin as FB

    q_path = str(tmp_path / "q.parquet")
    emb.filter(F.col("vec_id") < 6).write.parquet(q_path)
    exact = exact_knn(
        spark.read.parquet(q_path), emb, k=3,
        query_id="vec_id", query_vec="embedding", base_id="vec_id", base_vec="embedding",
    ).collect()
    gids = np.zeros((6, 3), dtype=np.int32)
    for r in exact:
        gids[r.qid, r.rank - 1] = r.neighbor_id
    gt = str(tmp_path / "gt.ibin")
    FB.write_ground_truth_local(gt, gids, np.zeros((6, 3), dtype=np.float32))
    codecs, real = [], ANN.ivf_search_from_disk
    monkeypatch.setattr(
        ANN, "ivf_search_from_disk",
        lambda *a, **kw: codecs.append(kw.get("codec")) or real(*a, **kw),
    )
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        assert main(["evaluate", idx, q_path, gt, "--k", "3", "--nprobe", "4"]) == 0
    assert "1.0000" in buf.getvalue() and codecs == ["raw"]


def test_codes_only_codec_equals_numpy_over_live_decoded_codes(spark, sf_dir, tmp_path):
    """A mutated codes-only --sq8 layout (upserts that move and add ids,
    then deletes) serves, through ivf_search_from_disk(codec="codes_only")
    and the CLI `search`, exactly a numpy brute force over the decoded
    codes of the live rows in each query's probed shards: same ids,
    ranks and distances; a deleted id is never returned."""
    from big_ann_spark.cli import main
    from big_ann_spark.operators import vector_ops as VO

    src = f"{sf_dir}/embeddings.parquet"
    emb = spark.read.parquet(src).filter(F.col("vec_id") < 300).select("vec_id", "embedding")
    emb_path = str(tmp_path / "emb.parquet")
    emb.write.parquet(emb_path)
    idx = str(tmp_path / "idx_sq8")
    assert main(["build-index", emb_path, idx, "--m", "4", "--sq8"]) == 0
    assert ANN.detect_refine_codec(spark, idx) == "codes_only"
    # op 0 re-upserts every 5th id with its vector reversed (most move
    # shard) and adds ids 1000.. ; op 1 deletes base, moved and new ids
    moved = emb.filter(F.col("vec_id") % 5 == 0).select(
        "vec_id", F.reverse("embedding").alias("embedding")
    )
    fresh = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    VO.upsert_vectors(spark, idx, moved.unionByName(fresh))
    deleted = [1, 2, 3, 10, 15, 1001, 1004]
    VO.delete_vectors(spark, idx, deleted)

    cents = spark.read.parquet(f"{idx}/centroids.parquet")
    queries = emb.filter(F.col("vec_id") < 12).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    k, nprobe = 5, 2
    got = sorted(map(tuple, ANN.ivf_search_from_disk(
        queries, idx, cents, k=k, nprobe=nprobe, codec="codes_only"
    ).select("qid", "neighbor_id", "dist", "rank").collect()))

    # the oracle: latest op wins over the base; a delete removes the id
    live = {
        r.vec_id: (r.codes, r.shard_id)
        for r in spark.read.parquet(f"{idx}/shards").select("vec_id", "codes", "shard_id").collect()
    }
    ops = spark.read.parquet(f"{idx}/ops").select("vec_id", "codes", "shard_id", "op", "_mb")
    for r in sorted(ops.collect(), key=lambda r: r._mb):
        if r.op == "delete":
            live.pop(r.vec_id, None)
        else:
            live[r.vec_id] = (r.codes, r.shard_id)
    rng = spark.read.parquet(f"{idx}/sq8_ranges.parquet").collect()[0]
    mn, mx = np.array(rng["mins"]), np.array(rng["maxs"])
    ids = np.array(sorted(live))
    codes = np.array([live[i][0] for i in ids], dtype=np.float64)
    shard = np.array([live[i][1] for i in ids])
    X = mn + ((codes + 0.5) * (mx - mn)) / 255.0
    probes = {}
    for r in route_queries(queries, cents, nprobe).collect():
        probes.setdefault(r.qid, (np.asarray(r.qvec, dtype=np.float64), set()))[1].add(r.shard_id)
    want = []
    for qid, (qv, sids) in probes.items():
        sel = np.isin(shard, list(sids))
        d = _np_fold(qv, X[sel])
        for rank, i in enumerate(np.lexsort((ids[sel], d))[:k], 1):
            want.append((qid, int(ids[sel][i]), float(d[i]), rank))
    assert got == sorted(want) and len(got) == 12 * k
    assert not {n for _, n, _, _ in got} & set(deleted)

    q_path = str(tmp_path / "q.parquet")
    emb.filter(F.col("vec_id") < 12).write.parquet(q_path)
    out = str(tmp_path / "res.parquet")
    assert main(["search", idx, q_path, "--k", str(k), "--nprobe", str(nprobe), "--out", out]) == 0
    cli = spark.read.parquet(out).select("qid", "neighbor_id", "dist", "rank")
    assert sorted(map(tuple, cli.collect())) == got


# ------------------------------------------------------- SQ8 serving layout


def _sq8_layout(spark, sf_dir):
    import numpy as np

    from big_ann_spark.operators.pq import train_sq8

    emb = load_table(spark, sf_dir, "embeddings")
    cents = SH.label_centroids(emb)
    assign = SH.assign_to_centroids(emb, cents, extra_cols=["embedding"])
    path = tempfile.mkdtemp(prefix="big_ann_sq8_disk_")
    ranges = train_sq8(emb)
    SH.write_sharded(assign, emb, path, sq8_ranges=ranges)
    return emb, cents, path, ranges


def _np_fold(q, X):
    """Left-to-right float64 fold of (q_j - x_j)^2 per row, then sqrt
    — the arithmetic of l2_distance and the DuckDB oracles."""
    acc = np.zeros(len(X))
    for j in range(X.shape[1]):
        dv = q[j] - X[:, j]
        acc += dv * dv
    return np.sqrt(acc)


def _np_sq8_pool(spark, routed, path, k_pool):
    """numpy oracle of sq8_pool: per routed query, every row of its
    probed shards decoded to bucket midpoints, scored by the fold,
    first k_pool by (dist, id) as (qid, neighbor_id, dist, rank)."""
    rng = spark.read.parquet(f"{path}/sq8_ranges.parquet").collect()[0]
    mn, mx = np.array(rng["mins"]), np.array(rng["maxs"])
    rows = (
        spark.read.parquet(f"{path}/shards")
        .select("vec_id", "codes", "shard_id").collect()
    )
    probes = {}
    for r in routed.collect():
        probes.setdefault(r["qid"], (r["qvec"], set()))[1].add(r["shard_id"])
    out = []
    for qid, (qv, sids) in probes.items():
        cand = [r for r in rows if r["shard_id"] in sids]
        ids = np.array([r["vec_id"] for r in cand])
        codes = np.array([r["codes"] for r in cand], dtype=np.float64)
        d = _np_fold(np.asarray(qv, dtype=np.float64), mn + ((codes + 0.5) * (mx - mn)) / 255.0)
        for rank, i in enumerate(np.lexsort((ids, d))[:k_pool], 1):
            out.append((qid, int(ids[i]), float(d[i]), rank))
    return sorted(out)


def test_sq8_layout_roundtrip(spark, sf_dir):
    """Codes column lands next to raw vectors; ranges round-trip; codes
    match re-encoding the raw column with the persisted ranges."""
    from big_ann_spark.operators.pq import sq8_encode_col

    emb, cents, path, (mins, maxs) = _sq8_layout(spark, sf_dir)
    rng = spark.read.parquet(f"{path}/sq8_ranges.parquet").collect()[0]
    assert list(rng["mins"]) == mins and list(rng["maxs"]) == maxs
    tbl = spark.read.parquet(f"{path}/shards")
    assert {"vec_id", "embedding", "codes", "shard_id"} <= set(tbl.columns)
    bad = tbl.filter(
        sq8_encode_col("embedding", mins, maxs).cast("array<smallint>")
        != F.col("codes")
    ).count()
    assert bad == 0 and tbl.count() == emb.count()


def test_sq8_from_disk_matches_exact_rerank_semantics(spark, sf_dir):
    """The sq8 path's results must (a) re-rank exactly — every returned
    dist equals the true L2 recomputed independently — and (b) come
    from the probed shards only."""
    import math

    emb, cents, path, _ = _sq8_layout(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    out = ANN.ivf_search_from_disk(
        queries, path, cents, k=5, nprobe=2, codec="sq8", rerank_factor=4
    ).collect()
    assert len(out) == 40
    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.select("vec_id", "embedding").collect()
    }
    for r in out:
        qv, nv = vecs[r["qid"]], vecs[r["neighbor_id"]]
        acc = 0.0
        for a, b in zip(qv, nv):
            acc += (a - b) * (a - b)
        assert r["dist"] == math.sqrt(acc)  # exact rerank, bit-for-bit
    routed = route_queries(queries, cents, 2)
    allowed = {
        (r["qid"], r["shard_id"]) for r in routed.collect()
    }
    assigned = {
        r["vec_id"]: r["shard_id"]
        for r in SH.assign_to_centroids(emb, cents).collect()
    }
    for r in out:
        assert (r["qid"], assigned[r["neighbor_id"]]) in allowed


def test_sq8_scan_plans(spark, sf_dir, candidate_scans):
    """100 TB posture pins: the quantized pool scan must read codes and
    NOT the raw embedding column; the rerank scan must read embedding,
    NOT codes, with the bounded candidate-id In pushed to parquet."""
    from big_ann_spark.plans import formatted_plan

    emb, cents, path, _ = _sq8_layout(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    _, routing, shards = probed_pool_inputs(spark, queries, cents, path)
    ANN.sq8_pool(routing, shards, path, 20)
    pool_plan = formatted_plan(candidate_scans[-1])
    scan = [
        seg for seg in pool_plan.split("Scan parquet") if "codes" in seg
    ]
    assert scan, "no codes scan in the pool plan"
    assert "embedding" not in scan[0].split("ReadSchema")[1].splitlines()[0]

    final_plan = formatted_plan(
        ANN.ivf_search_from_disk(
            queries, path, cents, k=5, nprobe=2, codec="sq8", rerank_factor=4
        )
    )
    # the rerank scan: embedding in ReadSchema, In(vec_id, ...) pushed
    rer = [
        seg
        for seg in final_plan.split("Scan parquet")
        if "ReadSchema" in seg and "embedding" in seg.split("ReadSchema")[1].splitlines()[0]
    ]
    assert rer, "no raw rerank scan in the final plan"
    seg = rer[0]
    read_schema_line = seg.split("ReadSchema")[1].splitlines()[0]
    assert "codes" not in read_schema_line
    assert "In(vec_id" in seg or "In(vec_id" in final_plan


def test_sq8_pool_arrow_equals_fold(spark, sf_dir):
    """The Arrow pool must equal a numpy oracle that decodes the codes
    and scores them by the left-to-right fold — ids, ranks and
    bit-equal distances."""
    emb, cents, path, _ = _sq8_layout(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    routed, routing, shards = probed_pool_inputs(spark, queries, cents, path)
    pool = ANN.sq8_pool(routing, shards, path, 20)
    got = sorted(map(tuple, pool.select("qid", "neighbor_id", "dist", "rank").collect()))
    assert got == _np_sq8_pool(spark, routed, path, 20) and len(got) == 160


def _np_sq8_search(spark, sf_dir, routed, path, k, k_pool):
    """numpy oracle of the sq8 from-disk search: the oracle pool, then
    the exact fold rerank against the raw vectors."""
    raw = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    qvec = {r["qid"]: np.asarray(r["qvec"], dtype=np.float64) for r in routed.collect()}
    pools = {}
    for qid, nid, _, _ in _np_sq8_pool(spark, routed, path, k_pool):
        pools.setdefault(qid, []).append(nid)
    out = []
    for qid, nids in pools.items():
        ids = np.array(nids)
        d = _np_fold(qvec[qid], np.array([raw[n] for n in nids]))
        for rank, i in enumerate(np.lexsort((ids, d))[:k], 1):
            out.append((qid, int(ids[i]), float(d[i]), rank))
    return sorted(out)


def test_sq8_from_disk_arrow_pool_end_to_end(spark, sf_dir):
    emb, cents, path, _ = _sq8_layout(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    got = ANN.ivf_search_from_disk(queries, path, cents, k=5, nprobe=2, codec="sq8")
    routed = route_queries(queries, cents, 2)
    a = sorted(map(tuple, got.collect()))
    assert a == _np_sq8_search(spark, sf_dir, routed, path, 5, 20) and len(a) == 40


def test_sq8_from_disk_pool_past_pushdown_bound_joins_distributed(spark, sf_dir):
    """A pool larger than max_id_pushdown is never collected: the
    rerank joins the pool DataFrame (no id In pushed to the scan) and
    returns exactly what the collected path returns."""
    from big_ann_spark.plans import formatted_plan

    emb, cents, path, _ = _sq8_layout(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    kw = dict(k=5, nprobe=2, codec="sq8")
    collected = ANN.ivf_search_from_disk(queries, path, cents, **kw)
    joined = ANN.ivf_search_from_disk(queries, path, cents, max_id_pushdown=3, **kw)
    assert "In(vec_id" in formatted_plan(collected)
    plan = formatted_plan(joined)
    assert "In(vec_id" not in plan and "MapInArrow" in plan
    a = sorted(map(tuple, collected.collect()))
    b = sorted(map(tuple, joined.collect()))
    assert a == b and len(a) == 40


def test_cli_build_index_sq8_refine_and_search(spark, sf_dir, tmp_path):
    """--sq8-refine (FAISS SQ-then-refine shape): codes AND raw both
    land; search auto-detects the two-tier layout, scans codes for
    candidates and re-ranks exactly — so every returned dist matches
    the float index's dist for the same (qid, neighbor) pair."""
    from big_ann_spark.cli import main

    src = f"{sf_dir}/embeddings.parquet"
    idx_f = str(tmp_path / "idx_float")
    idx_r = str(tmp_path / "idx_refine")
    assert main(["build-index", src, idx_f, "--m", "5"]) == 0
    assert main(["build-index", src, idx_r, "--m", "5", "--sq8-refine"]) == 0
    cols = spark.read.parquet(f"{idx_r}/shards").columns
    assert "codes" in cols and "embedding" in cols

    out_f = str(tmp_path / "res_f.parquet")
    out_r = str(tmp_path / "res_r.parquet")
    for idx, out in [(idx_f, out_f), (idx_r, out_r)]:
        assert main(
            ["search", idx, src, "--k", "5", "--nprobe", "2", "--out", out]
        ) == 0
    f = {(r.qid, r.neighbor_id): r.dist for r in spark.read.parquet(out_f).collect()}
    r_ = {(r.qid, r.neighbor_id): r.dist for r in spark.read.parquet(out_r).collect()}
    common = set(f) & set(r_)
    assert len(common) / len(f) >= 0.95, len(common) / len(f)
    for key in common:
        assert f[key] == r_[key]  # exact rerank: dists bit-equal


def test_cli_refine_search_runs_no_spark_routing(spark, sf_dir, tmp_path, monkeypatch):
    """A CLI search of an --sq8-refine layout dispatches on the
    schema-only codec detection straight to ivf_search_from_disk, which
    routes once, on the driver: no second routing pass and no Spark
    routing plan."""
    from big_ann_spark.cli import main

    calls = []
    real = ANN._route_on_driver
    monkeypatch.setattr(
        ANN, "_route_on_driver", lambda *a, **kw: calls.append(1) or real(*a, **kw)
    )
    src = f"{sf_dir}/embeddings.parquet"
    idx = str(tmp_path / "idx_refine")
    assert main(["build-index", src, idx, "--m", "5", "--sq8-refine"]) == 0
    out = str(tmp_path / "res.parquet")
    assert main(["search", idx, src, "--k", "5", "--nprobe", "2", "--out", out]) == 0
    assert calls == [1]
    n_q = load_table(spark, sf_dir, "embeddings").count()
    assert spark.read.parquet(out).count() == 5 * n_q


def test_sq8_pool_arrow_parity_is_margin_free(spark, sf_dir):
    """Fold parity must be DETERMINISTIC, not margin-probabilistic:
    with a hostile cluster of rows whose quantized distances tie within
    float rounding (identical codes → exactly-tied GEMM rows → any
    number of near-boundary inversions), the error-bound band +
    in-band exact-fold selection still emits pools bit-equal to the
    numpy fold oracle."""
    rng = np.random.default_rng(7)
    base = rng.normal(size=64)
    rows = []
    # 3 clusters of 40 near-identical vectors each (jitter far below
    # the SQ8 quantization step — all 40 share one code row)
    for c in range(3):
        center = base + c * 2.0
        for i in range(40):
            v = center + rng.normal(size=64) * 1e-13
            rows.append((c * 1000 + i, c, [float(x) for x in v]))
    emb = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    cents = SH.label_centroids(emb)
    assign = SH.assign_to_centroids(emb, cents, extra_cols=["embedding"])
    path = tempfile.mkdtemp(prefix="big_ann_sq8_ties_") + "/layout"
    from big_ann_spark.operators.pq import train_sq8

    SH.write_sharded(assign, emb, path, sq8_ranges=train_sq8(emb))
    queries = emb.filter(F.col("vec_id").isin(0, 1000, 2000)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    routed, routing, shards = probed_pool_inputs(spark, queries, cents, path, nprobe=3)
    pool = ANN.sq8_pool(routing, shards, path, 25)
    got = sorted(map(tuple, pool.select("qid", "neighbor_id", "dist", "rank").collect()))
    assert got == _np_sq8_pool(spark, routed, path, 25) and len(got) == 75
