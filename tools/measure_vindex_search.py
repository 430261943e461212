"""Measure streaming-index search: the pruned contested-set path
(``search_index``) vs ``ivf_search`` over the full max_by resolution
(``live_vectors``).
Builds the index layout directly (partitioned write + markers) so the
measurement times SEARCH, not streaming ingest.

Usage: python tools/measure_vindex_search.py [n_vectors] [m_shards]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
from pyspark.sql import functions as F

from big_ann_spark.session import get_spark
from big_ann_spark.streaming import vector_index as VI


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    m = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    d = 64
    n_batches = 5
    spark = get_spark("vindex-search-measure")
    rng = np.random.default_rng(7)
    cents_np = rng.normal(size=(m, d)).astype("float32") * 10
    cents = spark.createDataFrame(
        [(i, cents_np[i].tolist()) for i in range(m)],
        "shard_id int, centroid array<float>",
    )

    path = tempfile.mkdtemp(prefix="vi_measure_")
    # Spark-native generation (a 2M-row pandas round-trip through the
    # driver is the bottleneck, not the write): shard = id % m, vector =
    # shard centroid + deterministic hash noise — routing stays
    # meaningful, nothing passes through the driver.
    per_batch = n // n_batches
    noise = F.transform(
        F.sequence(F.lit(0), F.lit(d - 1)),
        lambda j: (
            F.pmod(F.xxhash64(F.col("vec_id") * d + j), F.lit(1000)).cast("float")
            / 500.0
            - 1.0
        ),
    )
    t0 = time.perf_counter()

    def gen(lo: int, hi: int, batch: int):
        return (
            spark.range(lo, hi)
            .select(F.col("id").alias("vec_id"))
            .withColumn("shard_id", (F.col("vec_id") % m).cast("int"))
            .join(F.broadcast(cents), "shard_id")
            .select(
                "vec_id",
                F.zip_with("centroid", noise, lambda c, x: (c + x).cast("float")).alias(
                    "embedding"
                ),
                F.lit("insert").alias("op"),
                "shard_id",
                F.lit(batch).cast("int").alias("_batch_id"),
            )
        )

    for b in range(n_batches):
        lo, hi = b * per_batch, (b + 1) * per_batch if b < n_batches - 1 else n
        (
            gen(lo, hi, b)
            .write.mode("append")
            .partitionBy("shard_id", "_batch_id")
            .parquet(f"{path}/data")
        )
    # contested tail: 1% deletes + 0.5% re-inserts in two final batches
    n_del = n // 100
    dels = (
        spark.range(0, n_del)
        .select(
            F.col("id").alias("vec_id"),
            F.lit(None).cast("array<float>").alias("embedding"),
            F.lit("delete").alias("op"),
            F.lit(-1).cast("int").alias("shard_id"),
            F.lit(n_batches).cast("int").alias("_batch_id"),
        )
    )
    reins = gen(0, n_del // 2, n_batches + 1)
    for df in (dels, reins):
        (
            df.write.mode("append")
            .partitionBy("shard_id", "_batch_id")
            .parquet(f"{path}/data")
        )
    os.makedirs(f"{path}/checkpoint/_committed", exist_ok=True)
    for b in range(n_batches + 2):
        open(f"{path}/checkpoint/_committed/{b}", "w").close()
    build_s = time.perf_counter() - t0

    import pandas as pd

    nq = int(os.environ.get("VI_NQ", "100"))
    qv = cents_np[rng.integers(0, m, nq)] + rng.normal(size=(nq, d)).astype("float32")
    queries = spark.createDataFrame(
        pd.DataFrame({"qid": np.arange(nq, dtype="int64"), "qvec": list(qv.astype("float32"))})
    )
    queries = queries.localCheckpoint()

    def timed(label, fn, reps=3):
        walls = []
        for _ in range(reps):
            t = time.perf_counter()
            n_rows = fn().count()
            walls.append(time.perf_counter() - t)
        print(f"{label}: min {min(walls):.2f}s walls={[round(w,2) for w in walls]} rows={n_rows}")
        return min(walls)

    t = time.perf_counter()
    state = VI.prepare_search(spark, path)
    n_cont = state[0].count()
    print(f"n={n} m={m} build={build_s:.1f}s contested={n_cont} "
          f"(prepare_search {time.perf_counter()-t:.2f}s)")

    timed("pruned search (state precomputed)",
          lambda: VI.search_index(spark, path, queries, cents, k=10, nprobe=2, state=state))
    timed("pruned search (state per-call)",
          lambda: VI.search_index(spark, path, queries, cents, k=10, nprobe=2))
    from big_ann_spark.operators.ann import ivf_search

    timed("full-resolution search (live_vectors)",
          lambda: ivf_search(queries, VI.live_vectors(spark, path), cents, k=10, nprobe=2))


if __name__ == "__main__":
    main()
