"""SCALE measurement: filtered (tag-containment) ANN serving over the
persisted tag layout — pristine vs tag-mutated, plus the CDX-split
WARC read. Fixture shape follows measure_sq8_serving (clustered 64-d
vectors = centroid[id % m] + hash noise, shard size 2k); tags are
modular so selectivity is exact by construction:

- ``topic:<id % 2000>``   → df ≈ n/2000 (the RAREST tag, ~1k at 2M —
  the posting list a query batch actually scans)
- ``lang:<id % 24>``      → df ≈ n/24 (the wide tag the rarest-tag
  rule must avoid scanning)

Phases (own invocation each):
    python tools/measure_filtered_mut.py gen    [n]
    python tools/measure_filtered_mut.py build  [n]   # layout + tag artifacts
    python tools/measure_filtered_mut.py mutate [n]   # 5% upsert+tags, 2% retag, 1% delete
    python tools/measure_filtered_mut.py search [n]   # pristine vs mutated walls

What the numbers mean at 100 TB: the pristine query reads the rarest
tags' _tb buckets + a bounded candidate point-fetch — independent of
corpus width. Mutation resolution adds (a) the ops/tags-delta side
scans (O(mutations), not O(corpus)) and (b) a broadcast anti-join on
the candidate fetch — so the pristine→mutated delta measured here is
the per-search price of serving un-compacted mutations, and it should
stay flat as n grows.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
from pyspark.sql import functions as F

from big_ann_spark.session import get_spark

BASE = "/tmp/ftagserve"
D = 64
SHARD_SIZE = 2000
NQ = 20


def centroids_np(m: int) -> np.ndarray:
    rng = np.random.default_rng(11)
    return (rng.normal(size=(m, D)) * 10).astype("float32")


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


def _noise():
    return F.transform(
        F.sequence(F.lit(0), F.lit(D - 1)),
        lambda j: (
            F.pmod(F.xxhash64(F.col("vec_id") * D + j), F.lit(1000)).cast("float")
            / 500.0
            - 1.0
        ),
    )


def _tags_col():
    return F.array(
        F.concat(F.lit("topic:"), F.pmod(F.col("vec_id"), F.lit(2000))),
        F.concat(F.lit("lang:"), F.pmod(F.col("vec_id"), F.lit(24))),
    )


def _queries(spark, emb):
    """20 queries drawn from the corpus: qtags = the row's own
    [topic, lang] pair — rarest-tag selection must pick topic."""
    return (
        emb.filter(F.col("vec_id") < NQ)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qvec"),
            _tags_col().alias("qtags"),
        )
        .localCheckpoint()
    )


def main() -> None:
    phase = sys.argv[1]
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000_000
    m = max(1, n // SHARD_SIZE)
    emb_path = f"{BASE}/emb_{n}_{m}"
    pristine = f"{BASE}/pristine_{n}_{m}"
    mutated = f"{BASE}/mutated_{n}_{m}"
    payload = f"{BASE}/payload_{n}_{m}"
    payloadmut = f"{BASE}/payloadmut_{n}_{m}"
    cent_path = f"{BASE}/cents_{n}_{m}"
    spark = get_spark("filtered-mut-measure")

    if phase == "gen":
        C = centroids_np(m)
        cents = spark.createDataFrame(
            [(i, C[i].tolist()) for i in range(m)],
            "shard_id int, centroid array<float>",
        )
        cents.coalesce(4).write.mode("overwrite").parquet(cent_path)
        t0 = time.perf_counter()
        (
            spark.range(0, n)
            .select(F.col("id").alias("vec_id"))
            .withColumn("shard_id", (F.col("vec_id") % m).cast("int"))
            .join(spark.read.parquet(cent_path), "shard_id")
            .select(
                "vec_id",
                F.zip_with(
                    "centroid", _noise(), lambda c, x: (c + x).cast("float")
                ).alias("embedding"),
            )
            .write.mode("overwrite")
            .parquet(emb_path)
        )
        print(f"gen n={n} m={m}: {time.perf_counter()-t0:.1f}s")
        return

    cents = spark.read.parquet(cent_path)

    if phase == "build":
        from big_ann_spark.operators.ann import write_tag_postings_layout
        from big_ann_spark.operators.sharding import assign_to_centroids, write_sharded

        emb = spark.read.parquet(emb_path)
        t0 = time.perf_counter()
        asg = assign_to_centroids(emb, cents, extra_cols=["embedding"])
        write_sharded(asg, emb, pristine)
        cents.coalesce(4).write.mode("overwrite").parquet(
            f"{pristine}/centroids.parquet"
        )
        t1 = time.perf_counter()
        print(f"build layout n={n}: {t1-t0:.1f}s")
        write_tag_postings_layout(
            emb.select("vec_id", _tags_col().alias("tags")),
            pristine,
            n_tag_buckets=64,
            carry_payload=False,  # the point-fetch twin under measurement
        )
        t2 = time.perf_counter()
        print(f"build tag artifacts: {t2-t1:.1f}s")
        # payload-carrying twin (posting-local serving)
        import shutil

        if os.path.isdir(payload):
            shutil.rmtree(payload)
        shutil.copytree(pristine, payload)
        for sub in ("tag_postings.parquet", "tag_df.parquet",
                    "tags.parquet", "tag_meta.parquet"):
            shutil.rmtree(f"{payload}/{sub}", ignore_errors=True)
        t3 = time.perf_counter()
        write_tag_postings_layout(
            emb.select("vec_id", _tags_col().alias("tags")),
            payload,
            n_tag_buckets=64,
            carry_payload=True,
        )
        print(f"build payload tag artifacts: {time.perf_counter()-t3:.1f}s")
        return

    if phase == "mutate":
        import shutil

        from big_ann_spark.operators.tag_ops import upsert_tags
        from big_ann_spark.operators.vector_ops import delete_vectors

        pairs = [(pristine, mutated), (payload, payloadmut)]
        if os.environ.get("FT_SKIP_POINTFETCH") == "1":
            pairs = pairs[1:]
        for src_l, dst_l in pairs:
            if os.path.isdir(dst_l):
                shutil.rmtree(dst_l)
            shutil.copytree(src_l, dst_l)
        t1 = time.perf_counter()
        # 5% NEW tagged vectors (ids n .. n + n/20), split into ops
        newbies = (
            spark.range(n, n + n // 20)
            .select(F.col("id").alias("vec_id"))
            .withColumn("shard_id", (F.col("vec_id") % m).cast("int"))
            .join(cents, "shard_id")
            .select(
                "vec_id",
                F.zip_with(
                    "centroid", _noise(), lambda c, x: (c + x).cast("float")
                ).alias("embedding"),
                _tags_col().alias("tags"),
            )
        )
        emb = spark.read.parquet(emb_path)
        retag = emb.filter(F.col("vec_id") % 53 == 0).select(
            "vec_id",
            F.concat(F.array(F.lit("vip:yes")), _tags_col()).alias("tags"),
        ).localCheckpoint()
        dele = emb.filter(F.col("vec_id") % 97 == 0).select("vec_id").localCheckpoint()
        targets = [("pointfetch", mutated), ("payload", payloadmut)]
        if os.environ.get("FT_SKIP_POINTFETCH") == "1":
            targets = targets[1:]
        for label, target in targets:
            t1 = time.perf_counter()
            _upsert_in_parts(spark, target, newbies, n // 20, tags_col="tags")
            t2 = time.perf_counter()
            print(f"[{label}] combined upsert ({n//20} rows): {t2-t1:.1f}s")
            upsert_tags(spark, target, retag)
            t3 = time.perf_counter()
            print(f"[{label}] retag (~{n//53} rows): {t3-t2:.1f}s")
            delete_vectors(spark, target, dele)
            print(f"[{label}] delete (~{n//97} rows): {time.perf_counter()-t3:.1f}s")
        return

    if phase == "search":
        from big_ann_spark.operators.ann import filtered_search_from_disk

        emb = spark.read.parquet(emb_path)
        q = _queries(spark, emb)

        def wall(label, path, **kw):
            runs = []
            for _ in range(3):
                t0 = time.perf_counter()
                nrows = filtered_search_from_disk(q, path, k=10, **kw).count()
                runs.append(time.perf_counter() - t0)
            print(
                f"{label}: best {min(runs):.2f}s runs="
                + "/".join(f"{r:.2f}" for r in runs)
                + f" ({nrows} rows)"
            )

        if os.environ.get("FT_SKIP_POINTFETCH") != "1":
            wall("pristine pointfetch", pristine)
        if os.path.isdir(mutated) and os.environ.get("FT_SKIP_POINTFETCH") != "1":
            wall("mutated pointfetch head", mutated)
            wall("mutated pointfetch as_of=-1", mutated, as_of=-1)
        if os.path.isdir(payload):
            wall("pristine payload", payload)
        if os.path.isdir(payloadmut):
            wall("mutated payload head", payloadmut)
            wall("mutated payload as_of=-1", payloadmut, as_of=-1)
        return

    raise SystemExit(f"unknown phase {phase!r}")


if __name__ == "__main__":
    main()
