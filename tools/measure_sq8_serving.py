"""SCALE measurement: SQ8-compressed IVF serving vs the raw layout.

Reuses the clustered 64-d fixture generator shape of measure_ann_20m
(vectors = centroid[id % m] + hash noise, shard size fixed at 2k).

Phases (own invocation each, like measure_ann_20m):
    python tools/measure_sq8_serving.py gen    [n]
    python tools/measure_sq8_serving.py build  [n]   # raw AND sq8 layouts
    python tools/measure_sq8_serving.py bytes  [n]   # parquet column bytes
    python tools/measure_sq8_serving.py search [n]   # warm walls, both codecs
    python tools/measure_sq8_serving.py cold   [n]   # page-cache-evicted walls

What the numbers mean at 100 TB: the candidate pass of an IVF search
reads nprobe shards end to end — with the sq8 codec that scan touches
the codes column only, so the byte ratio reported by `bytes` IS the IO
ratio of the dominant phase. The rerank fetch is candidate-granular
(bounded id-In over id-sorted files), so it does not grow with shard
size.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
from pyspark.sql import functions as F

from big_ann_spark.session import get_spark

BASE = "/tmp/sq8serve"
D = 64
SHARD_SIZE = 2000
NQ = 20


def _upsert_in_parts(spark, path, vectors, n_rows: int, **kw) -> None:
    """``upsert_vectors`` collects its batch to the driver, at most
    ``ann.DRIVER_ROWS`` rows: land ``vectors`` (about ``n_rows`` rows)
    as several ops, hash-split on vec_id with room to spare."""
    from big_ann_spark.operators.ann import DRIVER_ROWS
    from big_ann_spark.operators.vector_ops import upsert_vectors

    parts = 2 * -(-n_rows // DRIVER_ROWS)
    for p in range(parts):
        part = vectors.filter(F.pmod(F.xxhash64("vec_id"), F.lit(parts)) == p)
        upsert_vectors(spark, path, part, **kw)


def centroids_np(m: int) -> np.ndarray:
    rng = np.random.default_rng(11)
    return (rng.normal(size=(m, D)) * 10).astype("float32")


def _queries(spark, m):
    import pandas as pd

    C = centroids_np(m)
    rng = np.random.default_rng(3)
    qv = C[rng.integers(0, m, NQ)] + rng.normal(size=(NQ, D)).astype("float32")
    return spark.createDataFrame(
        pd.DataFrame(
            {"qid": np.arange(NQ, dtype="int64"), "qvec": list(qv.astype("float32"))}
        )
    ).localCheckpoint()


def _evict(path: str) -> None:
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                fd = os.open(p, os.O_RDONLY)
                os.posix_fadvise(fd, 0, 0, os.POSIX_FADV_DONTNEED)
                os.close(fd)
            except OSError:
                pass


def main() -> None:
    phase = sys.argv[1]
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000_000
    shard_size = int(sys.argv[3]) if len(sys.argv) > 3 else SHARD_SIZE
    m = max(1, n // shard_size)
    emb_path = f"{BASE}/emb_{n}_{m}"
    raw_path = f"{BASE}/raw_{n}_{m}"
    sq8_path = f"{BASE}/sq8_{n}_{m}"
    pq_path = f"{BASE}/pq_{n}_{m}"
    cent_path = f"{BASE}/cents_{n}_{m}"

    if phase == "bytes":
        # parquet-footer column sizes: no Spark needed
        import pyarrow.parquet as pq

        for label, path in (
            ("raw", raw_path), ("sq8", sq8_path), ("pq", pq_path),
            ("bin", f"{BASE}/bin_{n}_{m}"),
        ):
            if not os.path.isdir(f"{path}/shards"):
                continue
            col_bytes: dict[str, int] = {}
            total = 0
            for root, _, files in os.walk(f"{path}/shards"):
                for f in files:
                    if not f.endswith(".parquet"):
                        continue
                    md = pq.ParquetFile(os.path.join(root, f)).metadata
                    for rg in range(md.num_row_groups):
                        g = md.row_group(rg)
                        for ci in range(g.num_columns):
                            c = g.column(ci)
                            key = c.path_in_schema.split(".")[0]
                            col_bytes[key] = col_bytes.get(key, 0) + c.total_compressed_size
                            total += c.total_compressed_size
            print(f"{label}: total={total/1e6:.1f}MB  " + "  ".join(
                f"{k}={v/1e6:.1f}MB" for k, v in sorted(col_bytes.items())
            ))
        return

    spark = get_spark("sq8-serving")

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
        from big_ann_spark.operators.pq import train_sq8
        from big_ann_spark.operators.sharding import assign_to_centroids, write_sharded

        emb = spark.read.parquet(emb_path)
        t0 = time.perf_counter()
        asg = assign_to_centroids(emb, cents, extra_cols=["embedding"])
        write_sharded(asg, emb, raw_path)
        t1 = time.perf_counter()
        print(f"build raw n={n} m={m}: {t1-t0:.1f}s")
        ranges = train_sq8(emb)
        t2 = time.perf_counter()
        print(f"train_sq8: {t2-t1:.1f}s")
        asg2 = assign_to_centroids(emb, cents, extra_cols=["embedding"])
        write_sharded(asg2, emb, sq8_path, sq8_ranges=ranges)
        t3 = time.perf_counter()
        print(f"build sq8 n={n} m={m}: {t3-t2:.1f}s")
        from big_ann_spark.operators.pq import train_pq

        # train on a 200k sample (the FAISS convention — codebooks are
        # population statistics, not per-row state)
        books = train_pq(emb.limit(200_000), m=8, k=16)
        t4 = time.perf_counter()
        print(f"train_pq (200k sample): {t4-t3:.1f}s")
        asg3 = assign_to_centroids(emb, cents, extra_cols=["embedding"])
        write_sharded(
            asg3, emb, pq_path,
            pq_codebooks=books,
        )
        t5 = time.perf_counter()
        print(f"build pq n={n} m={m}: {t5-t4:.1f}s")
        from big_ann_spark.operators.pq import train_binary

        thr = train_binary(emb)
        asg4 = assign_to_centroids(emb, cents, extra_cols=["embedding"])
        write_sharded(
            asg4, emb, f"{BASE}/bin_{n}_{m}",
            binary_thresholds=thr,
        )
        print(f"build bin n={n} m={m}: {time.perf_counter()-t5:.1f}s")
        return

    if phase == "mutate":
        # 1% upserts + 1% deletes against a COPY of the raw layout —
        # the serving-cost question is "what does resolution add per
        # search", so the pristine layout must stay comparable
        import shutil

        from big_ann_spark.operators.vector_ops import delete_vectors

        mut_path = f"{BASE}/mut_{n}_{m}"
        if not os.path.isdir(f"{mut_path}/shards"):
            shutil.copytree(f"{raw_path}/shards", f"{mut_path}/shards")
        shutil.copytree(
            cent_path, f"{mut_path}/centroids.parquet", dirs_exist_ok=True
        )
        emb = spark.read.parquet(emb_path)
        t0 = time.perf_counter()
        _upsert_in_parts(
            spark, mut_path,
            emb.filter(F.col("vec_id") % 100 == 0).select("vec_id", "embedding"),
            n // 100,
        )
        t1 = time.perf_counter()
        delete_vectors(
            spark, mut_path,
            emb.filter(F.col("vec_id") % 101 == 0).select("vec_id"),
        )
        print(
            f"mutate n={n}: upsert 1% {t1-t0:.1f}s, "
            f"delete 1% {time.perf_counter()-t1:.1f}s"
        )
        return

    if phase == "search-mutated":
        from big_ann_spark.operators.ann import ivf_search_from_disk

        queries = _queries(spark, m)
        nprobe = int(os.environ.get("SQ8_NPROBE", "2"))
        for label, path in (("pristine", raw_path), ("mutated", f"{BASE}/mut_{n}_{m}")):
            walls = []
            for _ in range(3):
                t = time.perf_counter()
                rows = ivf_search_from_disk(
                    queries, path, cents, k=10, nprobe=nprobe
                ).count()
                walls.append(time.perf_counter() - t)
            print(
                f"search-mutated {label} n={n} nprobe={nprobe}: "
                f"min {min(walls):.2f}s walls={[round(w,2) for w in walls]} "
                f"rows={rows}"
            )
        return

    if phase in ("search", "cold"):
        from big_ann_spark.operators.ann import ivf_search_from_disk

        queries = _queries(spark, m)
        nprobe = int(os.environ.get("SQ8_NPROBE", "2"))

        def timed(label, path, codec, reps):
            walls = []
            for _ in range(reps):
                if phase == "cold":
                    _evict(path)
                t = time.perf_counter()
                rows = ivf_search_from_disk(
                    queries, path, cents, k=10, nprobe=nprobe, codec=codec,
                ).count()
                walls.append(time.perf_counter() - t)
            print(
                f"{label} n={n} m={m} nprobe={nprobe}: min {min(walls):.2f}s "
                f"walls={[round(w, 2) for w in walls]} rows={rows}"
            )

        reps = 3
        timed(f"{phase} raw", raw_path, "raw", reps)
        timed(f"{phase} sq8", sq8_path, "sq8", reps)
        if os.path.isdir(f"{pq_path}/shards"):
            timed(f"{phase} pq", pq_path, "pq", reps)
        if os.path.isdir(f"{BASE}/bin_{n}_{m}/shards"):
            timed(f"{phase} bin", f"{BASE}/bin_{n}_{m}", "binary", reps)
        return

    raise SystemExit(f"unknown phase {phase}")


if __name__ == "__main__":
    main()
