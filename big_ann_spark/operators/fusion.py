"""Rank fusion for hybrid retrieval — combining runs from different
searchers (dense ANN, sparse MIPS, lexical) into one ranking.

Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009):
``score(d) = Σ_runs 1/(c + rank_run(d))`` — the standard
score-calibration-free fusion every hybrid search stack ships, and the
natural companion to the engine's dense (``operators/knn``) + sparse
(``operators/sparse``) retrieval pair. The reference repo has no
multi-run search to fuse; this extension exists because the engine does.

Spark-first: fusion is a union + one map-side-combinable aggregate +
a windowed top-k — no scoring model, no UDF. Each run contributes
O(Q·k_run) rows, so fusion cost is independent of corpus size by
construction."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_ann_spark.operators.topk import top_k_per_group


def rrf_fuse(
    runs: list[DataFrame],
    k: int = 10,
    *,
    c: int = 60,
) -> DataFrame:
    """Fuse ranked runs — each ``(qid, neighbor_id, rank)`` with rank
    1-based — into ``(qid, neighbor_id, rrf, rank)``, top-``k`` per qid
    by (rrf DESC, neighbor_id). ``c`` is the RRF damping constant (60 in
    the paper; larger flattens the head). A document absent from a run
    contributes 0 for that run, per the paper."""
    if not runs:
        raise ValueError("need at least one run")
    contrib = None
    for r in runs:
        part = r.select(
            "qid",
            "neighbor_id",
            (F.lit(1.0) / (F.lit(float(c)) + F.col("rank"))).alias("_c"),
        )
        contrib = part if contrib is None else contrib.unionByName(part)
    fused = contrib.groupBy("qid", "neighbor_id").agg(F.sum("_c").alias("rrf"))
    return top_k_per_group(
        fused, ["qid"], [F.col("rrf").desc(), F.col("neighbor_id").asc()], k
    )


def hybrid_search_from_disk(
    spark,
    vec_index: str,
    bm25_index: str,
    queries: DataFrame,
    k: int = 10,
    *,
    nprobe: int = 2,
    c: int = 60,
    depth: int | None = None,
    query_id: str = "qid",
    query_vec: str = "qvec",
    query_text: str = "qtext",
    as_of: int | None = None,
    bm25_as_of: int | None = None,
    codec: str | None = None,
    bm25_score_round: int | None = None,
) -> DataFrame:
    """Hybrid (dense + lexical) retrieval ENTIRELY off persisted
    layouts — the full serving composition a search stack runs: IVF
    kNN against a ``build-index`` layout (partition-pruned shard
    scan, any refine codec) and BM25 against a ``bm25-build`` index
    (term-bucket-pruned postings scan), RRF-fused. Each run reads only
    its pruned partitions and contributes O(Q·depth) rows to the
    fusion, so the whole query is as corpus-independent as its two
    component paths — both individually certified against oracles.

    ``depth``: per-run pool size before fusion (default ``k``; deeper
    pools let a document mid-ranked in both runs beat one top-ranked
    in a single run — the RRF paper's regime). ``as_of`` /
    ``bm25_as_of``: snapshot each index on its OWN ledger (two
    layouts = two op sequences). ``codec``: refine-tier override for
    the vector side (auto-detected by default)."""
    from big_ann_spark.operators import ann as ANN
    from big_ann_spark.operators import bm25 as B

    depth = depth or k
    q = queries.select(
        F.col(query_id).alias("qid"),
        F.col(query_vec).alias("qvec"),
        F.col(query_text).alias("qtext"),
    ).localCheckpoint()
    cents = spark.read.parquet(f"{vec_index}/centroids.parquet")
    if codec is None:
        # schema-only detection (ann.detect_refine_codec): a refine
        # layout must serve through its code-column scan, not a silent
        # full raw scan — and codes-only layouts have no raw column to
        # scan at all
        codec = ANN.detect_refine_codec(spark, vec_index)
    if codec == "codes_only":
        raise ValueError(
            "hybrid_search_from_disk: the vector index stores SQ8 codes "
            "only (no raw column) — build with --sq8-refine (or raw) so "
            "the dense run can rerank exactly"
        )
    dense = ANN.ivf_search_from_disk(
        q.select("qid", "qvec"), vec_index, cents,
        k=depth, nprobe=nprobe, as_of=as_of, codec=codec,
    ).select("qid", "neighbor_id", "rank")
    lex = B.bm25_topk_from_disk(
        spark, bm25_index, q.select("qid", "qtext"),
        k=depth, id_col="qid", text_col="qtext", as_of=bm25_as_of,
        score_round=bm25_score_round,
    ).select("qid", "neighbor_id", "rank")
    return rrf_fuse([dense, lex], k, c=c)
