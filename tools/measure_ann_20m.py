"""SCALE spot-run one decade past the r6 table (VERDICT r7 #8): the
arrow-exact kNN + pruned-IVF pair at 20M vectors / 64-d on the local
box. Keeps the shard size FIXED (~2k/shard → m = 10,000), which is the
regime the N-independence claim is about.

Phases (each its own invocation so no single run exceeds a timeout):
    python tools/measure_ann_20m.py gen  [n]   # clustered fixture
    python tools/measure_ann_20m.py build [n]  # arrow assign + layout
    python tools/measure_ann_20m.py search [n] # pruned IVF + exact kNN

Centroids are the generative ones (vectors = centroid[id % m] + hash
noise): centroid TRAINING at m = 10⁴ is a sample-based KMeans at any
real deployment and was measured linear-by-design at the previous
decades — this run isolates the assignment/layout/search walls.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
from pyspark.sql import functions as F

from big_ann_spark.session import get_spark

BASE = "/tmp/ann20m"
D = 64
SHARD_SIZE = 2000


def centroids_np(m: int) -> np.ndarray:
    rng = np.random.default_rng(11)
    return (rng.normal(size=(m, D)) * 10).astype("float32")


def main() -> None:
    phase = sys.argv[1]
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000_000
    m = max(1, n // SHARD_SIZE)
    spark = get_spark("ann-20m")
    emb_path = f"{BASE}/emb_{n}"
    idx_path = f"{BASE}/idx_{n}"
    cent_path = f"{BASE}/cents_{n}"

    if phase == "gen":
        C = centroids_np(m)
        cents = spark.createDataFrame(
            [(i, C[i].tolist()) for i in range(m)],
            "shard_id int, centroid array<float>",
        )
        cents.coalesce(4).write.mode("overwrite").parquet(cent_path)
        noise = F.transform(
            F.sequence(F.lit(0), F.lit(D - 1)),
            lambda j: (
                F.pmod(F.xxhash64(F.col("vec_id") * D + j), F.lit(1000)).cast("float")
                / 500.0
                - 1.0
            ),
        )
        t0 = time.perf_counter()
        (
            spark.range(0, n)
            .select(F.col("id").alias("vec_id"))
            .withColumn("shard_id", (F.col("vec_id") % m).cast("int"))
            .join(spark.read.parquet(cent_path), "shard_id")
            .select(
                "vec_id",
                F.zip_with(
                    "centroid", noise, lambda c, x: (c + x).cast("float")
                ).alias("embedding"),
            )
            .write.mode("overwrite")
            .parquet(emb_path)
        )
        print(f"gen n={n} m={m}: {time.perf_counter()-t0:.1f}s")
        return

    cents = spark.read.parquet(cent_path)
    if phase == "build":
        from big_ann_spark.operators.sharding import assign_to_centroids, write_sharded

        emb = spark.read.parquet(emb_path)
        t0 = time.perf_counter()
        asg = assign_to_centroids(
            emb, cents, extra_cols=["embedding"]
        )
        write_sharded(asg, emb, idx_path)
        print(f"build n={n} m={m}: {time.perf_counter()-t0:.1f}s")
        return

    if phase == "search":
        import pandas as pd

        from big_ann_spark.operators.ann import ivf_search
        from big_ann_spark.operators.knn import exact_knn

        shards = spark.read.parquet(f"{idx_path}/shards")
        C = centroids_np(m)
        rng = np.random.default_rng(3)
        nq = 20
        qv = C[rng.integers(0, m, nq)] + rng.normal(size=(nq, D)).astype("float32")
        queries = spark.createDataFrame(
            pd.DataFrame(
                {"qid": np.arange(nq, dtype="int64"), "qvec": list(qv.astype("float32"))}
            )
        ).localCheckpoint()

        def timed(label, fn, reps=3):
            walls = []
            for _ in range(reps):
                t = time.perf_counter()
                rows = fn().count()
                walls.append(time.perf_counter() - t)
            print(
                f"{label}: min {min(walls):.2f}s "
                f"walls={[round(w, 2) for w in walls]} rows={rows}"
            )

        timed(
            f"ivf_search n={n} m={m} nprobe=2",
            lambda: ivf_search(queries, shards, cents, k=10, nprobe=2),
        )
        emb = spark.read.parquet(emb_path)
        timed(
            f"exact_knn n={n}",
            lambda: exact_knn(
                emb.filter(F.col("vec_id") < nq),
                emb,
                k=10,
                query_id="vec_id",
                query_vec="embedding",
                base_id="vec_id",
                base_vec="embedding",
            ),
        )
        return

    if phase == "coldsearch":
        # first-search-on-a-fresh-session cost: full-layout listing vs
        # explicit probed-directory read (run each in its OWN process
        # so no InMemoryFileIndex cache carries over)
        import pandas as pd

        from big_ann_spark.operators.ann import ivf_search, ivf_search_from_disk

        C = centroids_np(m)
        rng = np.random.default_rng(3)
        nq = 20
        qv = C[rng.integers(0, m, nq)] + rng.normal(size=(nq, D)).astype("float32")
        queries = spark.createDataFrame(
            pd.DataFrame(
                {"qid": np.arange(nq, dtype="int64"), "qvec": list(qv.astype("float32"))}
            )
        ).localCheckpoint()
        mode = sys.argv[3] if len(sys.argv) > 3 else "probed"
        t = time.perf_counter()
        if mode == "listing":
            res = ivf_search(
                queries, spark.read.parquet(f"{idx_path}/shards"), cents, k=10, nprobe=2
            )
        else:
            res = ivf_search_from_disk(queries, idx_path, cents, k=10, nprobe=2)
        rows = res.count()
        print(f"coldsearch[{mode}] n={n} m={m}: {time.perf_counter()-t:.2f}s rows={rows}")
        return

    raise SystemExit(f"unknown phase {phase!r}")


if __name__ == "__main__":
    main()
