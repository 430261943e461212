"""kNN operator unit tests: Spark results vs a numpy brute-force
left-to-right fold oracle."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from big_ann_spark.catalog import load_table
from big_ann_spark.operators.knn import (
    exact_knn,
    median_pairwise_distance,
    recall_at_k,
    routing_recall,
)


@pytest.fixture(scope="module")
def emb_np(spark, sf_dir):
    rows = (
        load_table(spark, sf_dir, "embeddings")
        .orderBy("vec_id")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r[0] for r in rows])
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    return ids, mat


def _fold_topk(Q, X, ids, k):
    """numpy oracle: every (query, row) distance as the left-to-right
    float64 fold, then the first k per query by (dist, id)."""
    out = []
    for q in Q:
        acc = np.zeros(len(X))
        for j in range(X.shape[1]):
            dv = q[j] - X[:, j]
            acc += dv * dv
        dist = np.sqrt(acc)
        order = np.lexsort((ids, dist))[:k]
        out.append((ids[order].tolist(), dist[order].tolist()))
    return out


def _by_qid(rows):
    got = {}
    for r in sorted(rows, key=lambda r: (r["qid"], r["rank"])):
        ids, dists = got.setdefault(r["qid"], ([], []))
        ids.append(r["neighbor_id"])
        dists.append(r["dist"])
    return got


def test_exact_knn_matches_numpy(spark, sf_dir, emb_np):
    ids, mat = emb_np
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = exact_knn(
        queries, emb, k=10, query_id="vec_id", query_vec="embedding",
        base_id="vec_id", base_vec="embedding",
    ).collect()
    got = _by_qid(out)
    for qid, want in enumerate(_fold_topk(mat[:5], mat, ids, 10)):
        assert got[qid] == want, f"qid={qid}"  # ids and bit-equal dists


def test_exact_knn_near_ties_bit_equal_fold(spark):
    """40 rows within 1e-16 of one center — more than k+5, so rounding
    alone orders the k-th boundary — plus far rows, over two
    partitions: ids and distances must equal the numpy fold exactly,
    however the GEMM that nominates candidates rounds."""
    rng = np.random.default_rng(3)
    center = rng.normal(size=64)
    X = np.vstack([
        center + rng.normal(size=(40, 64)) * 1e-16,
        rng.normal(size=(60, 64)) * 3,
    ])
    ids = np.arange(len(X), dtype=np.int64) * 7 % 101
    Q = center + rng.normal(size=(50, 64)) * 1e-3
    base = spark.createDataFrame(
        [(int(i), [float(v) for v in x]) for i, x in zip(ids, X)],
        "id long, vec array<double>",
    ).repartition(2)
    queries = spark.createDataFrame(
        [(i, [float(v) for v in q]) for i, q in enumerate(Q)],
        "qid long, qvec array<double>",
    )
    got = _by_qid(exact_knn(queries, base, k=10).collect())
    for qid, want in enumerate(_fold_topk(Q, X, ids, 10)):
        assert got[qid] == want, f"qid={qid}"


def test_exact_knn_empty_query_batch(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    out = exact_knn(
        emb.filter(F.col("vec_id") < 0), emb, k=10, query_id="vec_id",
        query_vec="embedding", base_id="vec_id", base_vec="embedding",
    )
    assert out.columns == ["qid", "neighbor_id", "dist", "rank"]
    assert out.collect() == []


def test_arrow_knn_broadcasts_query_matrix(spark, sf_dir, monkeypatch):
    """The query matrix must ship as ONE sc.broadcast variable
    (torrent-distributed per executor), not a per-task closure pickle.
    Pins: exactly one broadcast() call carrying the (qids, qmat) tuple,
    and unchanged results."""
    import pyspark

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    calls = []
    orig = pyspark.SparkContext.broadcast

    def counting(self, value):
        calls.append(value)
        return orig(self, value)

    monkeypatch.setattr(pyspark.SparkContext, "broadcast", counting)
    out = exact_knn(
        queries, emb, k=5, query_id="vec_id", query_vec="embedding",
        base_id="vec_id", base_vec="embedding",
    ).collect()
    assert len(out) == 15
    mats = [v for v in calls if isinstance(v, tuple) and isinstance(v[1], np.ndarray)]
    assert len(mats) == 1 and mats[0][1].shape == (3, 64)


def test_exact_knn_query_batch_over_driver_rows_fails_before_scan(
    spark, sf_dir, monkeypatch, candidate_scans
):
    """The query batch is collected to the driver under DRIVER_ROWS: a
    larger batch fails loudly in that collect, before the base scan."""
    from big_ann_spark.operators import ann as ANN

    monkeypatch.setattr(ANN, "DRIVER_ROWS", 2)
    emb = load_table(spark, sf_dir, "embeddings")
    sc = spark.sparkContext
    sc.setJobGroup("exact_knn_over_driver_rows", "over DRIVER_ROWS")
    try:
        with pytest.raises(ValueError, match="more than 2 rows"):
            exact_knn(
                emb.filter(F.col("vec_id") < 3), emb, k=5, query_id="vec_id",
                query_vec="embedding", base_id="vec_id", base_vec="embedding",
            )
    finally:
        sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup("exact_knn_over_driver_rows")
    assert candidate_scans == []
    assert len(jobs) == 1  # the query collect only


def test_broadcast_matrix_lru_is_byte_bounded(spark, monkeypatch):
    """The summed sizes of the cached (ids, matrix) pairs stay under
    BROADCAST_CACHE_BYTES, oldest evicted first with unpersist(); a
    repeated pair reuses its broadcast, and the newest pair stays even
    when it alone exceeds the bound."""
    import pyspark

    from big_ann_spark.operators import knn

    sc = spark.sparkContext
    monkeypatch.setattr(sc, "_big_ann_matrix_bc", {}, raising=False)
    monkeypatch.setattr(knn, "BROADCAST_CACHE_BYTES", 3 * 1000)
    unpersisted = []
    orig = pyspark.broadcast.Broadcast.unpersist

    def recording(self, blocking=False):
        unpersisted.append(self)
        return orig(self, blocking)

    monkeypatch.setattr(pyspark.broadcast.Broadcast, "unpersist", recording)

    def pair(seed, rows=12):  # 12 ids + 12 x 10 doubles = 1056 bytes
        return np.arange(rows, dtype=np.int64), np.full((rows, 10), float(seed))

    bcs = [knn.broadcast_matrix(sc, *pair(s)) for s in range(4)]
    cache = sc._big_ann_matrix_bc
    assert len(cache) == 2 and sum(n for _, n in cache.values()) <= 3000
    assert unpersisted == bcs[:2]  # oldest first
    assert knn.broadcast_matrix(sc, *pair(3)) is bcs[3]
    big = knn.broadcast_matrix(sc, *pair(9, rows=100))
    assert [bc for bc, _ in cache.values()] == [big]
    assert unpersisted == bcs


def test_median_pairwise_matches_numpy(spark, sf_dir, emb_np):
    ids, mat = emb_np
    sub = mat[:60]
    dists = [
        float(np.sqrt(((sub[i] - sub[j]) ** 2).sum()))
        for i in range(len(sub))
        for j in range(i + 1, len(sub))
    ]
    want = float(np.median(dists))
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 60)
    got = median_pairwise_distance(emb, id_col="vec_id", vec_col="embedding").collect()[0][0]
    assert abs(got - want) < 1e-9


def test_recall_metrics(spark):
    exact = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 3), (1, 4)], "qid long, neighbor_id long"
    )
    pred = spark.createDataFrame(
        [(0, 1), (0, 9), (1, 3), (1, 4)], "qid long, neighbor_id long"
    )
    r = recall_at_k(pred, exact, k=2).collect()[0][0]
    assert abs(r - 0.75) < 1e-12
    exact1 = spark.createDataFrame([(0, 1), (1, 3)], "qid long, neighbor_id long")
    pred1 = spark.createDataFrame([(0, 1), (1, 5)], "qid long, neighbor_id long")
    rr = routing_recall(pred1, exact1).collect()[0][0]
    assert abs(rr - 0.5) < 1e-12
