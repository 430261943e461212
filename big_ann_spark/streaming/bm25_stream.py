"""Streaming BM25 index maintenance — continuous lexical indexing of a
document stream, the retrieval-side companion of the streaming vector
index (streaming/vector_index.py) and the corpus ingest
(streaming/corpus.py).

Reference context: the reference repo's retrieval side is offline
encoders for Solr/Elasticsearch (``src/solr/…``) — engines whose whole
point is CONTINUOUS lexical indexing of an arriving corpus. This module
gives the engine's own BM25 stack (operators/bm25.py) that lifecycle:
a crawl stream lands as per-batch index deltas exactly once, the live
index is queryable between batches, and compaction folds history into
a fresh base epoch.

Design — the batch index is three tables (postings / dfs / stats); the
stream lands ALL THREE as one tagged union per batch through the
engine-wide exactly-once protocol (streaming/sink.py):

- ``_kind='p'`` rows: the batch's postings ``(doc, term, tf, dl)``,
  bucketed by ``_tb = pmod(xxhash64(term), n_term_buckets)`` like the
  batch layout, so live-view term joins keep partition pruning;
- ``_kind='d'`` rows: the batch's per-term document frequencies —
  vocabulary-sized, NOT corpus-sized, per batch;
- ``_kind='s'`` row: the batch's ``(n_docs, sum_dl)`` — ``sum_dl``
  rather than ``avgdl`` because SUMS merge exactly across batches
  (a weighted mean of means re-derives it at read time).

A replayed batch dynamically overwrites exactly its own
``(_kind, _tb, _batch_id)`` partitions (crash-restart is idempotent —
the same guarantee the vector index's restart tests pin), and the live
view sums the per-batch dfs/stats — a vocabulary-sized aggregate at ANY
corpus size. Unlike ``operators/bm25.merge_bm25_index`` (which rewrites
one global dfs per merge and has no replay story), the streaming form
never rewrites anything: every batch only appends its own partitions.

Contract shared with merge_bm25_index: arriving doc ids must be NEW
(screen the stream with the corpus ingest's incremental dedup first —
a replayed duplicate id would double-count df). Deletes are a rewrite
by design; fold them in at compaction time.

At 100 TB: per-batch dfs tables accumulate (vocabulary × batches rows);
the live view's groupBy(term) merge is map-side combinable and stays
cheap, and :func:`compact_bm25_stream` folds history into one base
epoch (batch ``-1``, the op ledger's ``BASE_EPOCH`` convention) whenever batch
count warrants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_ann_spark.operators.bm25 import Bm25Index, _term_bucket, bm25_index
from big_ann_spark.streaming.sink import (
    committed_batch_ids,
    run_exactly_once_sink,
    uncommitted_batch_ids,
)

def _batch_delta(
    batch: DataFrame, id_col: str, text_col: str, n_term_buckets: int
) -> DataFrame:
    """The tagged-union index delta for one micro-batch."""
    idx = bm25_index(batch, id_col=id_col, text_col=text_col)
    null_long = F.lit(None).cast("long")
    p = idx.postings.select(
        F.lit("p").alias("_kind"),
        "doc", "term", "tf", "dl",
        null_long.alias("df"),
        null_long.alias("n_docs"),
        F.lit(None).cast("double").alias("sum_dl"),
        _term_bucket(F.col("term"), n_term_buckets).alias("_tb"),
    )
    d = idx.dfs.select(
        F.lit("d").alias("_kind"),
        null_long.alias("doc"),
        "term",
        null_long.alias("tf"),
        null_long.alias("dl"),
        "df",
        null_long.alias("n_docs"),
        F.lit(None).cast("double").alias("sum_dl"),
        F.lit(None).cast("long").alias("_tb"),
    )
    # sums merge exactly across batches; avgdl re-derives at read time
    # (sum of doc lengths is cheap column math on the raw batch — no
    # second shuffle over the postings)
    from big_ann_spark.functions.text import tokens

    c = F.col(text_col) if isinstance(text_col, str) else text_col
    s = batch.filter(c.isNotNull()).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokens(text_col)).cast("double")).alias("sum_dl"),
    )
    s = s.select(
        F.lit("s").alias("_kind"),
        null_long.alias("doc"),
        F.lit(None).cast("string").alias("term"),
        null_long.alias("tf"),
        null_long.alias("dl"),
        null_long.alias("df"),
        "n_docs",
        "sum_dl",
        F.lit(None).cast("long").alias("_tb"),
    )
    return p.unionByName(d).unionByName(s)


def stream_bm25_ingest(
    stream_df: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_term_buckets: int = 64,
    _fault_point=None,
) -> None:
    """Drive a document stream into the index at ``path``
    (availableNow). Each micro-batch lands its postings + per-batch
    dfs + per-batch stats under ``(_kind, _tb, _batch_id)`` partitions
    through the exactly-once sink — a replayed batch overwrites only
    itself."""

    def prepare(batch: DataFrame, batch_id: int) -> DataFrame:
        return _batch_delta(batch, id_col, text_col, n_term_buckets).withColumn(
            "_batch_id", F.lit(batch_id)
        )

    run_exactly_once_sink(
        stream_df,
        path,
        prepare,
        ["_kind", "_tb", "_batch_id"],
        _fault_point=_fault_point,
    )


def live_bm25_index(spark: SparkSession, path: str) -> Bm25Index | None:
    """The queryable index over every COMMITTED batch, or None before
    the first commit. postings pass through (their scan keeps the
    ``_kind/_tb`` partition columns for pruning); dfs is the per-batch
    tables summed per term (vocabulary-sized aggregate regardless of
    corpus size); stats re-derives avgdl from exact summed counts.
    Feed the result straight to ``operators/bm25.bm25_topk``."""
    committed = committed_batch_ids(path)
    if not committed:
        return None
    data = spark.read.parquet(f"{path}/data")
    # the in-flight set comes from a directory LISTING (the sink
    # helper), not a Spark distinct() job over the data — deriving
    # "what's on disk" must never cost a partition-discovery scan
    uncommitted = uncommitted_batch_ids(path)
    if uncommitted:
        # NOT-IN over the tiny in-flight set, never isin(committed),
        # whose literal list would grow by one id per batch
        data = data.filter(~F.col("_batch_id").isin([int(b) for b in uncommitted]))
    postings = data.filter(F.col("_kind") == "p").select(
        "doc", "term", "tf", "dl", "_tb"
    )
    dfs = (
        data.filter(F.col("_kind") == "d")
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
    )
    stats = (
        data.filter(F.col("_kind") == "s")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            # try_divide: an all-empty-batches stream is a legal empty
            # index (n_docs=0 -> avgdl NULL), not an ANSI error
            F.try_divide(F.sum("sum_dl"), F.sum("n_docs")).alias("avgdl"),
        )
    )
    return Bm25Index(postings=postings, dfs=dfs, stats=stats)


def export_bm25_index(
    spark: SparkSession, src_path: str, dst_path: str, *, n_term_buckets: int = 256
) -> int:
    """Materialize the live streaming index into the BATCH persisted
    layout (``operators/bm25.write_bm25_index``'s contract) so ``bm25_topk_from_disk``, ``merge_bm25_index``,
    ``delete_from_bm25_index`` and ``compact_bm25_index`` run on it
    UNMODIFIED — the stream is the ingestion front, the batch layout
    the serving/maintenance form. Postings re-bucket to the target
    ``n_term_buckets`` (the stream's bucket count is its own knob);
    dfs/stats collapse to the merged base tables. Returns the exported
    posting count; raises if the stream has no committed batches (a
    loud failure beats a success message pointing at a dir that was
    never created); ``src`` stays valid until readers switch
    (copy-on-write, the compaction contract)."""
    from big_ann_spark.operators.bm25 import write_bm25_index

    live = live_bm25_index(spark, src_path)
    if live is None:
        raise ValueError(
            f"no committed batches at {src_path} — nothing to export "
            "(an empty batch layout would not be readable)"
        )
    # dfs/stats stay lazy: write_bm25_index re-derives dfs from the
    # written postings and executes stats exactly once
    base = Bm25Index(
        postings=live.postings.select("doc", "term", "tf", "dl").localCheckpoint(),
        dfs=live.dfs,
        stats=live.stats,
    )
    n = base.postings.count()
    write_bm25_index(base, dst_path, n_term_buckets=n_term_buckets)
    return n


def compact_bm25_stream(spark: SparkSession, src_path: str, dst_path: str) -> int:
    """Copy-on-write compaction into a fresh index dir: the live view's
    postings land re-bucketed as base epoch ``_batch_id = -1`` (the
    vector index's convention — fresh-checkpoint batch ids start at 0,
    so the base can never be skip-replayed), dfs/stats collapse to one
    merged table each. Returns the live posting count. ``src`` stays
    valid until the caller switches readers."""
    import os

    live = live_bm25_index(spark, src_path)
    if live is None:
        return 0
    merged = (
        live.postings.select(
            F.lit("p").alias("_kind"), "doc", "term", "tf", "dl",
            F.lit(None).cast("long").alias("df"),
            F.lit(None).cast("long").alias("n_docs"),
            F.lit(None).cast("double").alias("sum_dl"),
            "_tb",
        )
        .unionByName(
            live.dfs.select(
                F.lit("d").alias("_kind"),
                F.lit(None).cast("long").alias("doc"),
                "term",
                F.lit(None).cast("long").alias("tf"),
                F.lit(None).cast("long").alias("dl"),
                "df",
                F.lit(None).cast("long").alias("n_docs"),
                F.lit(None).cast("double").alias("sum_dl"),
                F.lit(None).cast("long").alias("_tb"),
            )
        )
        .unionByName(
            live.stats.select(
                F.lit("s").alias("_kind"),
                F.lit(None).cast("long").alias("doc"),
                F.lit(None).cast("string").alias("term"),
                F.lit(None).cast("long").alias("tf"),
                F.lit(None).cast("long").alias("dl"),
                F.lit(None).cast("long").alias("df"),
                "n_docs",
                (F.col("avgdl") * F.col("n_docs")).alias("sum_dl"),
                F.lit(None).cast("long").alias("_tb"),
            )
        )
        .withColumn("_batch_id", F.lit(-1))
        .localCheckpoint()
    )
    n = merged.filter(F.col("_kind") == "p").count()
    (
        merged.write.partitionBy("_kind", "_tb", "_batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(f"{dst_path}/data")
    )
    marker_dir = f"{dst_path}/checkpoint/_committed"
    os.makedirs(marker_dir, exist_ok=True)
    open(f"{marker_dir}/-1", "w").close()
    return n
