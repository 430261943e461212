"""Hybrid (dense + lexical) retrieval served entirely off persisted
layouts (operators/fusion.hybrid_search_from_disk): the RRF fusion of
the IVF from-disk run and the BM25 from-disk run must equal the fusion
of the equivalent in-memory runs — the composition contract on top of
the two individually-certified component paths."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_ann_spark.catalog import load_table
from big_ann_spark.operators import ann as ANN
from big_ann_spark.operators import bm25 as B
from big_ann_spark.operators import sharding as SH
from big_ann_spark.operators.fusion import hybrid_search_from_disk, rrf_fuse


def _corpus(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    return emb, docs.join(
        emb.select(F.col("vec_id").alias("doc_id")), "doc_id", "left_semi"
    ).select("doc_id", "text")


def _build(spark, sf_dir, tmp_path):
    emb, docs = _corpus(spark, sf_dir)
    cents = SH.label_centroids(emb)
    assign = SH.assign_to_centroids(emb, cents, extra_cols=["embedding"])
    vec_idx = str(tmp_path / "vec")
    SH.write_sharded(assign, emb, vec_idx)
    cents.write.mode("overwrite").parquet(f"{vec_idx}/centroids.parquet")
    bm_idx = str(tmp_path / "bm25")
    B.write_bm25_index(B.bm25_index(docs), bm_idx, n_term_buckets=16)
    return emb, docs, cents, vec_idx, bm_idx


def _queries(emb, docs, n=5):
    return (
        emb.filter(F.col("vec_id") < n)
        .join(docs.select(F.col("doc_id").alias("vec_id"), "text"), "vec_id")
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qvec"),
            F.col("text").alias("qtext"),
        )
    )


def test_hybrid_from_disk_equals_in_memory_fusion(spark, sf_dir, tmp_path):
    emb, docs, cents, vec_idx, bm_idx = _build(spark, sf_dir, tmp_path)
    q = _queries(emb, docs)
    got = hybrid_search_from_disk(
        spark, vec_idx, bm_idx, q, k=5, nprobe=2, depth=10
    )
    sharded = SH.assign_to_centroids(emb, cents, extra_cols=["embedding"])
    dense = ANN.ivf_search(
        q.select("qid", "qvec"), sharded, cents, k=10, nprobe=2
    ).select("qid", "neighbor_id", "rank")
    lex = B.bm25_topk(
        q.select(F.col("qid").alias("doc_id"), F.col("qtext").alias("text")),
        B.bm25_index(docs),
        k=10,
    ).select("qid", "neighbor_id", "rank")
    want = rrf_fuse([dense, lex], 5)
    a = sorted(
        (r["qid"], r["neighbor_id"], round(r["rrf"], 9), r["rank"])
        for r in got.collect()
    )
    b = sorted(
        (r["qid"], r["neighbor_id"], round(r["rrf"], 9), r["rank"])
        for r in want.collect()
    )
    assert a == b and len(a) == 25


def test_cli_hybrid_search(spark, sf_dir, tmp_path):
    from big_ann_spark.cli import main

    emb, docs, cents, vec_idx, bm_idx = _build(spark, sf_dir, tmp_path)
    q = _queries(emb, docs)
    q_src = str(tmp_path / "q.parquet")
    q.select(
        F.col("qid").alias("vec_id"),
        F.col("qvec").alias("embedding"),
        F.col("qtext").alias("text"),
    ).write.parquet(q_src)
    out = str(tmp_path / "res.parquet")
    assert main(
        ["hybrid-search", vec_idx, bm_idx, q_src, "--k", "5",
         "--depth", "10", "--out", out]
    ) == 0
    res = spark.read.parquet(out)
    assert res.select("qid").distinct().count() == 5
    assert res.groupBy("qid").count().agg(F.max("count")).collect()[0][0] <= 5
    # each query's own doc is in BOTH runs at rank 1 -> it must win
    top1 = {
        r["qid"]: r["neighbor_id"]
        for r in res.filter(F.col("rank") == 1).collect()
    }
    assert all(qid == n for qid, n in top1.items())


def test_codec_detection_and_codes_only_refusal(spark, sf_dir, tmp_path):
    """hybrid's dense run must serve refine layouts through their
    code-column scan (schema-detected), and refuse codes-only layouts
    instead of failing on a missing raw column mid-query."""
    import pytest

    from big_ann_spark.operators.pq import train_sq8

    emb, docs, cents, vec_idx, bm_idx = _build(spark, sf_dir, tmp_path)
    assert ANN.detect_refine_codec(spark, vec_idx) == "raw"
    # sq8-REFINE layout (codes next to raw)
    assign = SH.assign_to_centroids(emb, cents, extra_cols=["embedding"])
    ref_idx = str(tmp_path / "ref")
    SH.write_sharded(assign, emb, ref_idx, sq8_ranges=train_sq8(emb))
    cents.write.mode("overwrite").parquet(f"{ref_idx}/centroids.parquet")
    assert ANN.detect_refine_codec(spark, ref_idx) == "sq8"
    q = _queries(emb, docs, n=2)
    out = hybrid_search_from_disk(spark, ref_idx, bm_idx, q, k=3, depth=5)
    assert out.count() == 6  # runs through the sq8 pool without error
    # codes-ONLY layout (no raw column): loud refusal
    co_idx = str(tmp_path / "codesonly")
    from big_ann_spark.operators.pq import sq8_encode_col

    mins, maxs = train_sq8(emb)
    codes_only = assign.select(
        "vec_id", "shard_id", "dist",
        sq8_encode_col("embedding", mins, maxs).cast("array<smallint>").alias("codes"),
    )
    SH.write_sharded(
        codes_only, codes_only, co_idx, vec_col="codes", sq8_ranges=(mins, maxs)
    )
    cents.write.mode("overwrite").parquet(f"{co_idx}/centroids.parquet")
    assert ANN.detect_refine_codec(spark, co_idx) == "codes_only"
    with pytest.raises(ValueError, match="codes only"):
        hybrid_search_from_disk(spark, co_idx, bm_idx, q, k=3)
