"""S7/S8 story: the partitionBy(shard_id) parquet layout must give
partition-pruned scans when probing a shard subset — the Spark-native
replacement for per-shard HNSW index files."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from big_ann_spark.catalog import load_table
from big_ann_spark.operators import sharding as SH


def test_write_sharded_and_partition_pruning(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    cents = SH.label_centroids(emb)
    assign = SH.assign_to_centroids(emb, cents)
    path = tempfile.mkdtemp(prefix="big_ann_shards_")
    SH.write_sharded(assign, emb, path)

    shards = spark.read.parquet(f"{path}/shards")
    assert shards.count() == emb.count()

    probe = shards.filter(F.col("shard_id").isin(1, 3))
    plan = probe._sc._jvm.PythonSQLUtils.explainString(
        probe._jdf.queryExecution(), "formatted"
    )
    # the shard filter must become a partition filter (pruned IO),
    # not a post-scan predicate
    assert "PartitionFilters" in plan and "shard_id" in plan.split("PartitionFilters", 1)[1][:200]
    got_ids = {r["shard_id"] for r in probe.select("shard_id").distinct().collect()}
    assert got_ids == {1, 3}

    # distribution sidecar exists and accounts for every point
    dist = spark.read.csv(f"{path}/distribution", header=True, inferSchema=True)
    assert dist.agg(F.sum("n_points")).collect()[0][0] == emb.count()


def test_write_sharded_prepopulates_schema_memo(spark, sf_dir):
    """A fresh layout's first probed open must not need a footer-
    inference job — write_sharded files the inferred read schema in the
    layout memo under the key and token open_probed_shards computes, and
    the memoized schema equals what inference would return."""
    from big_ann_spark.operators import ann as ANN
    from big_ann_spark.operators import oplayout

    emb = load_table(spark, sf_dir, "embeddings")
    cents = SH.label_centroids(emb)
    assign = SH.assign_to_centroids(emb, cents)
    path = tempfile.mkdtemp(prefix="big_ann_memo_") + "/layout"
    SH.write_sharded(assign, emb, path)

    base = f"{path}/shards"
    memo = {k: v for k, v in oplayout._memo.items() if k[0] == base}
    assert len(memo) == 1, "write_sharded must pre-populate exactly one entry"
    fs, jp = oplayout.fs_path(spark, base)
    token, schema, _ = memo[(base, "schema")]
    assert token == fs.getFileStatus(jp).getModificationTime()
    inferred = spark.read.option("basePath", base).parquet(base).schema
    assert schema == inferred
    # and the serving-path open agrees with a bare read on those dirs
    probed = ANN.open_probed_shards(spark, path, [0, 1])
    assert probed.schema == inferred
