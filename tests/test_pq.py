"""Product quantization: encode/search invariants + recall vs exact.

PQ is an extension beyond the reference inventory (public construction,
Jegou et al. 2011); tests pin the Spark-shaped contracts: projection-only
encoding, ADC scoring over codes, and a usable recall floor on the
fixture embeddings."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_ann_spark.catalog import load_table
from big_ann_spark.operators import pq as PQ


@pytest.fixture(scope="module")
def trained(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    books = PQ.train_pq(emb, m=8, k=16)
    codes = PQ.pq_encode(emb, books).cache()
    return emb, books, codes


def test_pq_codes_shape(trained):
    emb, books, codes = trained
    assert len(books) == 8 and all(len(b) == 16 for b in books)
    assert codes.count() == emb.count()
    bad = codes.filter(
        (F.size("codes") != 8)
        | F.exists("codes", lambda c: (c < 0) | (c >= 16))
    ).count()
    assert bad == 0


def test_pq_encode_is_projection(spark, trained):
    """Encoding must be a pure projection: no Exchange, no Window."""
    from big_ann_spark.plans import executed_plan

    emb, books, _ = trained
    plan = executed_plan(PQ.pq_encode(emb, books))
    assert "Exchange" not in plan and "Window" not in plan


def test_pq_adc_recall_vs_exact(spark, trained):
    """ADC top-10 must overlap exact top-10 well above chance; the
    encoded vector's own id should almost always appear in its top-10
    (quantization keeps self-distance near-minimal)."""
    from big_ann_spark.operators.knn import exact_knn, recall_at_k

    emb, books, codes = trained
    q = emb.filter(F.col("vec_id") < 20)
    exact = exact_knn(
        q, emb, k=10, query_id="vec_id", query_vec="embedding",
        base_id="vec_id", base_vec="embedding",
    ).select("qid", "neighbor_id")
    approx = PQ.pq_adc_search(
        q.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")),
        codes, books, k=10,
    ).select("qid", "neighbor_id")
    r = recall_at_k(approx, exact, 10).collect()[0]["recall_at_k"]
    assert r >= 0.3, r  # 10/N by chance (~1%); PQ must do far better
    self_hits = approx.filter(F.col("qid") == F.col("neighbor_id")).count()
    assert self_hits >= 15  # of 20 queries


def test_ivf_pq_recall(spark, trained):
    """IVF(nprobe=2) + PQ ADC: recall vs exact must stay above the
    pure-ADC floor discounted by routing loss, and every probe must
    come from routed shards only."""
    from big_ann_spark.operators import sharding as SH
    from big_ann_spark.operators.knn import exact_knn, recall_at_k
    from big_ann_spark.operators.pq import ivf_pq_search

    emb, books, codes = trained
    cents = SH.label_centroids(emb)
    assign = SH.assign_to_centroids(emb, cents)
    sharded_codes = codes.join(
        assign.select(F.col("vec_id").alias("id"), "shard_id"), "id"
    )
    q = emb.filter(F.col("vec_id") < 20)
    qq = q.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    approx = ivf_pq_search(qq, sharded_codes, cents, books, k=10, nprobe=2)
    exact = exact_knn(
        q, emb, k=10, query_id="vec_id", query_vec="embedding",
        base_id="vec_id", base_vec="embedding",
    ).select("qid", "neighbor_id")
    r = recall_at_k(approx.select("qid", "neighbor_id"), exact, 10).collect()[0][
        "recall_at_k"
    ]
    assert r >= 0.2, r
    # candidates only from probed shards: every neighbor's shard must
    # be in its query's probe list
    from tests.ivf_reference import route_queries

    probed = route_queries(qq, cents, 2).select("qid", "shard_id")
    joined = (
        approx.join(assign.select(F.col("vec_id").alias("neighbor_id"), "shard_id"), "neighbor_id")
        .join(probed, ["qid", "shard_id"], "leftsemi")
    )
    assert joined.count() == approx.count()


@pytest.mark.slow
def test_buddy_pq_beats_plain_pq_on_correlated_dims(spark):
    """The reference's headline composition (README.md:5-7 — buddy
    reorder feeding PQ lifts Recall@10 ~12%): on the correlation-
    injected view (each correlated pair split across subspaces in raw
    order), blended buddy ordering must (a) place every injected pair
    (j, j+8) adjacent and (b) raise ADC recall vs unpermuted PQ."""
    e = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    ec = PQ.correlation_injected_view(e)
    order = PQ.blended_buddy_order(ec, 16)
    assert sorted(order) == list(range(16))
    pos = {d: i for i, d in enumerate(order)}
    # the greedy walk emits up to 2 neighbors per node, so a noisy
    # second-best edge can displace one pair — require most adjacent
    adjacent = sum(1 for j in range(8) if abs(pos[j] - pos[j + 8]) == 1)
    assert adjacent >= 6, (adjacent, order)
    q = ec.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    ab = PQ.buddy_pq_recall_ab(ec, q, dims=16, m=4, k_codes=16, k=10, order=order)
    assert ab["buddy_recall"] > ab["plain_recall"], ab


def test_opq_rotation_orthogonal_and_monotone(spark):
    """train_opq must return an orthogonal R, and its distortion must
    not exceed the same-trainer R=I (plain PQ) distortion — guaranteed
    by construction (warm-started Lloyd + Procrustes, both
    non-increasing)."""
    import numpy as np

    e = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    R, books, plain_mse, opq_mse = PQ.train_opq(
        e, m=4, k=16, dim=64, sample_size=500, n_iter=4, kmeans_iter=4
    )
    Rm = np.asarray(R)
    assert np.allclose(Rm @ Rm.T, np.eye(64), atol=1e-8)
    assert len(books) == 4 and all(len(b) == 16 for b in books)
    assert opq_mse <= plain_mse + 1e-9, (plain_mse, opq_mse)


def test_opq_init_books_warm_start_monotone(spark):
    """init_books (SCALE.md r13): warm-starting the R=I fit from
    better codebooks must carry through — the warm plain_mse cannot
    exceed the random-init plain_mse on the same sample (Lloyd from a
    better start is still non-increasing), and opq_mse keeps the
    monotone invariant vs ITS OWN baseline."""
    e = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    # legacy cold init as the baseline (init_books=None); its R=I-fit
    # books then warm-start a second run
    _R0, books0, plain0, _ = PQ.train_opq(
        e, m=4, k=16, dim=64, sample_size=500, n_iter=0, kmeans_iter=4,
        init_books=None,
    )
    _R1, _books1, plain1, opq1 = PQ.train_opq(
        e, m=4, k=16, dim=64, sample_size=500, n_iter=2, kmeans_iter=4,
        init_books=books0,
    )
    # books0 are a converged R=I fit of this very sample (n_iter=0 =
    # no rotation rounds): restarting FROM them cannot be worse
    assert plain1 <= plain0 + 1e-9, (plain0, plain1)
    assert opq1 <= plain1 + 1e-9, (plain1, opq1)
    # geometry mismatches fail loudly, not deep in numpy
    import pytest as _pytest

    with _pytest.raises(ValueError, match="geometry mismatch"):
        PQ.train_opq(
            e, m=8, k=16, dim=64, sample_size=500, init_books=books0
        )
    with _pytest.raises(ValueError, match="unknown mode"):
        PQ.train_opq(e, m=4, k=16, dim=64, init_books="kmeanspp")


def test_rotate_vectors_preserves_distances(spark):
    """Rotation is an isometry: pairwise L2 distances must be unchanged
    after rotate_vectors (the reason OPQ ground truth is computed once
    on raw vectors)."""
    import numpy as np

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(6)
    R, *_ = PQ.train_opq(
        e, m=4, k=4, dim=64, sample_size=6, n_iter=2, kmeans_iter=2,
    )
    a = np.asarray(
        [r[0] for r in e.orderBy("vec_id").select(F.col("embedding").cast("array<double>")).collect()]
    )
    b = np.asarray(
        [r[0] for r in PQ.rotate_vectors(e, R).orderBy("vec_id").select("embedding").collect()]
    )
    da = np.linalg.norm(a[:, None, :] - a[None, :, :], axis=2)
    db = np.linalg.norm(b[:, None, :] - b[None, :, :], axis=2)
    assert np.allclose(da, db, atol=1e-9)


def test_opq_beats_plain_pq_on_correlated_dims(spark):
    """OPQ extension (Ge et al. CVPR 2013 — learned rotation feeding
    PQ, strictly generalizing BuddyPQ's permutation): on the
    correlation-injected view the learned rotation must raise ADC
    recall vs unpermuted PQ and cut quantization MSE."""
    e = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    ec = PQ.correlation_injected_view(e)
    q = ec.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    ab = PQ.opq_recall_ab(ec, q, dims=16, m=4, k_codes=16, k=10, sample_size=500)
    assert ab["opq_recall"] > ab["plain_recall"], ab
    assert ab["opq_mse"] < ab["plain_mse"], ab


def test_permute_dims_roundtrip(spark):
    e = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(5)
    order = list(range(63, -1, -1))
    back = PQ.permute_dims(PQ.permute_dims(e, order), order)
    a = [r["embedding"] for r in e.orderBy("vec_id").collect()]
    b = [r["embedding"] for r in back.orderBy("vec_id").collect()]
    assert a == b


def test_sq8_roundtrip_error_bound(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    mins, maxs = PQ.train_sq8(emb)
    assert len(mins) == len(maxs) == 64
    dec = emb.select(
        F.col("embedding").cast("array<double>").alias("v"),
        PQ.sq8_decode_col(
            PQ.sq8_encode_col("embedding", mins, maxs), mins, maxs
        ).alias("vhat"),
        PQ.sq8_encode_col("embedding", mins, maxs).alias("codes"),
    )
    row = dec.select(
        F.max(
            F.aggregate(
                F.zip_with("v", "vhat", lambda a, b: F.abs(a - b)),
                F.lit(0.0),
                lambda s, x: F.greatest(s, x),
            )
        ).alias("maxerr"),
        F.min(F.array_min("codes")).alias("cmin"),
        F.max(F.array_max("codes")).alias("cmax"),
    ).collect()[0]
    half_step = max((mx - mn) / 255 for mn, mx in zip(mins, maxs)) / 2
    assert row.maxerr <= half_step * (1 + 1e-9)
    assert 0 <= row.cmin and row.cmax <= 255


def test_sq8_constant_dim_encodes_zero(spark):
    d = spark.createDataFrame(
        [(i, [1.5, float(i)]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    mins, maxs = PQ.train_sq8(d)
    codes = d.select(
        PQ.sq8_encode_col("embedding", mins, maxs).alias("c")
    ).collect()
    assert all(r.c[0] == 0 for r in codes)  # constant dim -> code 0
    assert {r.c[1] for r in codes} == {0, 85, 170, 255}


def test_sq8_knn_recall(spark, sf_dir):
    """SQ8 scan + exact re-rank must reproduce exact kNN; the
    quantized-only tier stays near-exact (8-bit codes at d=64)."""
    from big_ann_spark.operators.knn import exact_knn

    emb = load_table(spark, sf_dir, "embeddings")
    mins, maxs = PQ.train_sq8(emb)
    codes = emb.select(
        F.col("vec_id").alias("id"),
        PQ.sq8_encode_col("embedding", mins, maxs).alias("codes"),
    )
    qs = emb.filter(F.col("vec_id") < 15).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    ex = {
        (r.qid, r.neighbor_id)
        for r in exact_knn(
            qs, emb, k=10, query_id="qid", query_vec="qvec",
            base_id="vec_id", base_vec="embedding",
        ).collect()
    }
    sq = {
        (r.qid, r.neighbor_id)
        for r in PQ.sq8_knn(qs, codes, mins, maxs, k=10).collect()
    }
    assert len(sq & ex) / len(ex) >= 0.95
    raw = emb.select(F.col("vec_id").alias("id"), "embedding")
    rr = {
        (r.qid, r.neighbor_id)
        for r in PQ.sq8_knn(
            qs, codes, mins, maxs, k=10, rerank_with=raw
        ).collect()
    }
    assert rr == ex  # exact re-rank over 4k candidates recovers exact
