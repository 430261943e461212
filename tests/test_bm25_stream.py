"""Streaming BM25 index: live view == batch-built index, crash-restart
exactly-once at both fault windows, copy-on-write compaction."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from big_ann_spark.operators.bm25 import bm25_index, bm25_topk
from big_ann_spark.streaming import bm25_stream as BS

_SCHEMA = "doc_id long, text string"

_TEXTS = [
    (0, "spark query engine for big data"),
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "big data needs a fast query engine"),
    (3, "fox and dog and fox"),
    (4, "completely unrelated words entirely"),
    (5, "spark spark spark streaming index"),
    (6, "lazy dog naps beside the engine"),
    (7, "brown fox outruns the query planner"),
]


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


def _index_equal(live, full):
    lp = sorted(
        map(tuple, live.postings.select("doc", "term", "tf", "dl").collect())
    )
    fp = sorted(map(tuple, full.postings.collect()))
    assert lp == fp
    assert sorted(map(tuple, live.dfs.collect())) == sorted(
        map(tuple, full.dfs.collect())
    )
    ls, fs = live.stats.collect()[0], full.stats.collect()[0]
    assert ls.n_docs == fs.n_docs
    assert ls.avgdl == pytest.approx(fs.avgdl)


def test_live_index_equals_batch_build(spark):
    src = tempfile.mkdtemp(prefix="bm25s_src_")
    _write_batches(spark, src, [_TEXTS[:3], _TEXTS[3:6], _TEXTS[6:]])
    path = tempfile.mkdtemp(prefix="bm25s_idx_")
    BS.stream_bm25_ingest(_stream(spark, src), path)

    live = BS.live_bm25_index(spark, path)
    full = bm25_index(spark.createDataFrame(_TEXTS, _SCHEMA))
    _index_equal(live, full)

    # queries against the live index match the batch index exactly
    q = spark.createDataFrame(_TEXTS[:2], _SCHEMA)
    got = bm25_topk(q, live, k=3, score_round=6)
    want = bm25_topk(q, full, k=3, score_round=6)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_empty_index_is_none_and_crashed_tail_excluded(spark):
    path = tempfile.mkdtemp(prefix="bm25s_idx_")
    assert BS.live_bm25_index(spark, path) is None

    src = tempfile.mkdtemp(prefix="bm25s_src_")
    _write_batches(spark, src, [_TEXTS[:4]])
    BS.stream_bm25_ingest(_stream(spark, src), path)
    before = BS.live_bm25_index(spark, path).stats.collect()[0]

    # a crashed batch: data landed, no commit marker — must be invisible
    BS._batch_delta(
        spark.createDataFrame(_TEXTS[4:], _SCHEMA), "doc_id", "text", 64
    ).withColumn("_batch_id", F.lit(99)).write.mode("append").partitionBy(
        "_kind", "_tb", "_batch_id"
    ).parquet(f"{path}/data")

    after = BS.live_bm25_index(spark, path)
    got = after.stats.collect()[0]
    assert got.n_docs == before.n_docs == 4
    assert {r.doc for r in after.postings.select("doc").distinct().collect()} == {
        0, 1, 2, 3
    }


@pytest.mark.parametrize("crash_point", ["pre-marker", "post-marker"])
def test_crash_restart_exactly_once(spark, crash_point):
    src = tempfile.mkdtemp(prefix="bm25s_src_")
    _write_batches(spark, src, [_TEXTS[:3], _TEXTS[3:6], _TEXTS[6:]])
    path = tempfile.mkdtemp(prefix="bm25s_idx_")

    class Boom(RuntimeError):
        pass

    def fault(point, batch_id):
        if point == crash_point and batch_id == 1:
            raise Boom(point)

    try:
        BS.stream_bm25_ingest(_stream(spark, src), path, _fault_point=fault)
    except Exception:
        pass  # the injected crash surfaces through the stream

    BS.stream_bm25_ingest(_stream(spark, src), path)
    live = BS.live_bm25_index(spark, path)
    full = bm25_index(spark.createDataFrame(_TEXTS, _SCHEMA))
    _index_equal(live, full)
    # replay overwrote, never appended: no duplicated (doc, term, batch)
    raw = spark.read.parquet(f"{path}/data").filter(F.col("_kind") == "p")
    dupes = (
        raw.groupBy("doc", "term", "_batch_id")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > 1)
        .count()
    )
    assert dupes == 0


@pytest.mark.slow
def test_compaction_preserves_index_and_resets_history(spark):
    src = tempfile.mkdtemp(prefix="bm25s_src_")
    _write_batches(spark, src, [_TEXTS[:3], _TEXTS[3:6], _TEXTS[6:]])
    path = tempfile.mkdtemp(prefix="bm25s_idx_")
    BS.stream_bm25_ingest(_stream(spark, src), path)

    dst = tempfile.mkdtemp(prefix="bm25s_cmp_")
    n = BS.compact_bm25_stream(spark, path, dst)
    full = bm25_index(spark.createDataFrame(_TEXTS, _SCHEMA))
    assert n == full.postings.count()

    live = BS.live_bm25_index(spark, dst)
    _index_equal(live, full)
    # one base epoch only, dfs collapsed to one row per term
    raw = spark.read.parquet(f"{dst}/data")
    assert {r._batch_id for r in raw.select("_batch_id").distinct().collect()} == {-1}
    d = raw.filter(F.col("_kind") == "d")
    assert d.count() == d.select("term").distinct().count()

    # post-compaction ingest continues from batch 0 without collision
    src2 = tempfile.mkdtemp(prefix="bm25s_src2_")
    more = [(100, "fresh arrivals about spark engines")]
    _write_batches(spark, src2, [more])
    BS.stream_bm25_ingest(_stream(spark, src2), dst)
    live2 = BS.live_bm25_index(spark, dst)
    full2 = bm25_index(spark.createDataFrame(_TEXTS + more, _SCHEMA))
    _index_equal(live2, full2)


def test_cli_stream_ingest_and_live_search(spark, tmp_path):
    from big_ann_spark.cli import main

    src = str(tmp_path / "src")
    spark.createDataFrame(_TEXTS, _SCHEMA).write.parquet(src)
    idx = str(tmp_path / "idx")
    assert main(["bm25-stream-ingest", src, idx]) == 0
    out = str(tmp_path / "res")
    # bm25-search sniffs the streamed layout and queries the live view
    assert main(["bm25-search", idx, src, "--k", "3", "--out", out]) == 0
    got = spark.read.parquet(out).withColumn("score", F.round("score", 6))
    full = bm25_index(spark.createDataFrame(_TEXTS, _SCHEMA))
    want = bm25_topk(spark.read.parquet(src), full, k=3, score_round=6)
    # rounded-score contract (avgdl = sum/count vs avg differ in ULPs)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_cli_stream_compact(spark, tmp_path):
    from big_ann_spark.cli import main

    src = str(tmp_path / "src")
    spark.createDataFrame(_TEXTS, _SCHEMA).write.parquet(src)
    idx = str(tmp_path / "idx")
    assert main(["bm25-stream-ingest", src, idx]) == 0
    dst = str(tmp_path / "cmp")
    assert main(["bm25-stream-compact", idx, dst]) == 0
    live = BS.live_bm25_index(spark, dst)
    full = bm25_index(spark.createDataFrame(_TEXTS, _SCHEMA))
    _index_equal(live, full)


@pytest.mark.slow
def test_export_to_batch_layout_runs_batch_ops_unmodified(spark):
    """VERDICT r8 #8: the stream is the ingestion front, the batch
    layout the serving form — export a streamed index and run the
    UNMODIFIED batch from-disk query, merge and delete ops on it."""
    from big_ann_spark.operators.bm25 import (
        bm25_topk_from_disk,
        delete_from_bm25_index,
        merge_bm25_index,
    )

    src = tempfile.mkdtemp(prefix="bm25s_src_")
    _write_batches(spark, src, [_TEXTS[:3], _TEXTS[3:6]])
    path = tempfile.mkdtemp(prefix="bm25s_idx_")
    BS.stream_bm25_ingest(_stream(spark, src), path)

    dst = tempfile.mkdtemp(prefix="bm25s_export_") + "/idx"
    n = BS.export_bm25_index(spark, path, dst, n_term_buckets=8)
    streamed = spark.createDataFrame(_TEXTS[:6], _SCHEMA)
    assert n == bm25_index(streamed).postings.count()

    q = spark.createDataFrame(_TEXTS[:2], _SCHEMA)
    got = bm25_topk_from_disk(spark, dst, q, k=3, score_round=6)
    want = bm25_topk(q, bm25_index(streamed), k=3, score_round=6)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # batch maintenance ops run on the exported layout unmodified
    merge_bm25_index(spark, dst, spark.createDataFrame(_TEXTS[6:], _SCHEMA))
    delete_from_bm25_index(
        spark, dst, spark.createDataFrame([_TEXTS[3]], _SCHEMA)
    )
    kept = spark.createDataFrame(_TEXTS[:3] + _TEXTS[4:], _SCHEMA)
    got2 = bm25_topk_from_disk(spark, dst, q, k=4, score_round=6)
    want2 = bm25_topk(q, bm25_index(kept), k=4, score_round=6)
    assert sorted(map(tuple, got2.collect())) == sorted(map(tuple, want2.collect()))


def test_cli_export_and_empty_stream_error(spark, tmp_path):
    from big_ann_spark.cli import main

    src = str(tmp_path / "src")
    spark.createDataFrame(_TEXTS, _SCHEMA).write.parquet(src)
    idx = str(tmp_path / "idx")
    assert main(["bm25-stream-ingest", src, idx]) == 0
    dst = str(tmp_path / "batch")
    assert main(["bm25-export", idx, dst, "--term-buckets", "8"]) == 0
    from big_ann_spark.operators.bm25 import bm25_topk_from_disk

    q = spark.createDataFrame(_TEXTS[:2], _SCHEMA)
    got = bm25_topk_from_disk(spark, dst, q, k=3, score_round=6)
    want = bm25_topk(q, bm25_index(spark.createDataFrame(_TEXTS, _SCHEMA)),
                     k=3, score_round=6)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # a stream with no committed batches fails LOUDLY, creating nothing
    empty = str(tmp_path / "empty_stream")
    import os
    os.makedirs(empty, exist_ok=True)
    assert main(["bm25-export", empty, str(tmp_path / "nope")]) == 2
    assert not os.path.exists(str(tmp_path / "nope"))
