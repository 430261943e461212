"""SCALE measurement: the PERSISTED GRAPH serving tier vs IVF
(VERDICT r11 #3 done-criterion) and OPQ-vs-PQ serving recall
(VERDICT r11 #7 done-criterion).

Fixture: clustered 64-d vectors = centroid[id % m] + A·noise where A
is a fixed ANISOTROPIC non-axis-aligned map (per-dim exponential decay
rotated by a random orthogonal matrix). The anisotropy matters for the
OPQ row: on isotropic noise a learned rotation has nothing to learn —
correlated, unevenly-scaled dims are exactly the regime OPQ exists for
(and what real embedding models emit).

Phases (own invocation each; n defaults to 200k):
    python tools/measure_graph_tier.py gen    [n]
    python tools/measure_graph_tier.py build  [n]   # IVF + pq/opq refine + NN-Descent graph layouts
    python tools/measure_graph_tier.py search [n]   # recall + warm/cold walls per tier

What the numbers mean at 100 TB: the graph tier's per-hop IO is
O(frontier·degree) pruned record fetches — corpus-independent by
design; the wall across 20k→200k is the check. IVF's pruned-shard scan
is the same class; the graph trades build cost (NN-Descent) for the
lowest per-query IO. The OPQ row certifies the learned rotation buys
candidate-pool recall at equal bytes (codes are the same m×k shape).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
from pyspark.sql import functions as F

from big_ann_spark.session import get_spark

BASE = "/tmp/graphtier"
D = 64
SHARD_SIZE = 2000
NQ = 20


def centroids_np(m: int) -> np.ndarray:
    rng = np.random.default_rng(11)
    return (rng.normal(size=(m, D)) * 10).astype("float32")


def aniso_map() -> np.ndarray:
    """Fixed anisotropic non-axis-aligned mixing matrix: per-dim scales
    decaying 1.0 → 0.05 (energy concentrated in a few directions, like
    real embeddings), rotated by a random orthogonal Q."""
    rng = np.random.default_rng(7)
    q, _ = np.linalg.qr(rng.normal(size=(D, D)))
    scales = np.exp(np.linspace(0.0, -3.0, D))
    return (q * scales).astype("float32")  # columns scaled then mixed


def _noise():
    return F.transform(
        F.sequence(F.lit(0), F.lit(D - 1)),
        lambda j: (
            F.pmod(F.xxhash64(F.col("vec_id") * D + j), F.lit(1000)).cast("float")
            / 500.0
            - 1.0
        ),
    )


def _evict(layout: str) -> None:
    for root, _dirs, files in os.walk(layout):
        for fn in files:
            fd = os.open(os.path.join(root, fn), os.O_RDONLY)
            try:
                os.posix_fadvise(fd, 0, 0, os.POSIX_FADV_DONTNEED)
            finally:
                os.close(fd)


def _queries(emb):
    return (
        emb.filter(F.col("vec_id") < NQ)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
        .localCheckpoint()
    )


def _edge_recall(emb, edges, n: int, nq: int = 200) -> float:
    """Edge recall@10 of ``edges`` vs exact kNN on ``nq`` hash-sampled
    nodes (the r13 campaign metric)."""
    from pyspark.sql import Window

    from big_ann_spark.operators.knn import exact_knn

    qs = (
        emb.filter(F.pmod(F.xxhash64("vec_id"), F.lit(max(1, n // nq))) == 0)
        .limit(nq)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
        .localCheckpoint()
    )
    gt = (
        exact_knn(qs, emb, k=11, base_id="vec_id", base_vec="embedding")
        .filter(F.col("neighbor_id") != F.col("qid"))
        .withColumn(
            "_r",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(
                    F.col("dist").asc(), F.col("neighbor_id").asc()
                )
            ),
        )
        .filter(F.col("_r") <= 10)
        .select(F.col("qid").alias("src"), F.col("neighbor_id").alias("dst"))
        .localCheckpoint()
    )
    tot = gt.count()
    hits = edges.join(gt, ["src", "dst"]).count()
    r = hits / tot
    print(f"edge recall@10 on {nq} sampled nodes: {r:.4f}")
    return r


def _build_graph(spark, emb, gpath: str, ANN) -> None:
    it = int(os.environ.get("GT_ITER", "3"))
    sr = float(os.environ.get("GT_SAMPLE", "1.0"))
    t0 = time.perf_counter()
    g = ANN.nn_descent_knn_graph(
        emb, k=10, iterations=it, dim=D, sample_rate=sr
    )
    g.write.mode("overwrite").parquet(f"{gpath}/edges.parquet")
    t1 = time.perf_counter()
    print(f"NN-Descent build (k=10, {it} iters, sample={sr}): {t1-t0:.1f}s")
    edges = spark.read.parquet(f"{gpath}/edges.parquet")
    ANN.write_knn_graph_layout(edges, emb, gpath, n_graph_buckets=64)
    print(f"graph serving layout: {time.perf_counter()-t1:.1f}s")


def main() -> None:
    phase = sys.argv[1]
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 200_000
    m = max(1, n // SHARD_SIZE)
    emb_path = f"{BASE}/emb_{n}"
    ivf = f"{BASE}/ivf_{n}"
    ivf_pq = f"{BASE}/ivfpq_{n}"
    ivf_opq = f"{BASE}/ivfopq_{n}"
    gpath = f"{BASE}/graph_{n}"
    cent_path = f"{BASE}/cents_{n}"
    # GT_SHUFFLE: shuffle-partition override for big-n campaigns — the
    # 20M seed graph is ~400M edge rows and 32 partitions made blocks
    # too coarse for the localCheckpoint materialization (OOM at 32g)
    spark = get_spark(
        "graph-tier-measure",
        shuffle_partitions=(
            int(os.environ["GT_SHUFFLE"]) if "GT_SHUFFLE" in os.environ else None
        ),
    )

    if phase == "genu":
        # CLUSTERLESS fixture (the r13 adversarial probe): pure iid
        # hash-gaussian 64-d via Box-Muller over two xxhash64 uniforms —
        # near-equidistant neighbors, no cluster structure for the cell
        # seeding to exploit. Written to emb_u_{n}; the `seededu` phase
        # reads it. Deterministic (hash-keyed), no Date/random state.
        emb_u = f"{BASE}/emb_u_{n}"
        t0 = time.perf_counter()

        def _unif(expr):
            # hash → (0,1) uniform, open at both ends
            return (
                F.pmod(F.xxhash64(expr), F.lit(100_000)).cast("double") + 0.5
            ) / 100_000.0

        def _gauss(j):
            # Box-Muller over two independent hash uniforms
            u1 = _unif(F.col("vec_id") * (2 * D) + j)
            u2 = _unif(F.col("vec_id") * (2 * D) + j + D)
            return F.sqrt(F.lit(-2.0) * F.log(u1)) * F.cos(
                F.lit(2.0 * 3.141592653589793) * u2
            )

        (
            spark.range(0, n)
            .select(F.col("id").alias("vec_id"))
            .repartition(64)
            .select(
                "vec_id",
                F.transform(F.sequence(F.lit(0), F.lit(D - 1)), _gauss)
                .cast("array<float>")
                .alias("embedding"),
            )
            .write.mode("overwrite")
            .parquet(emb_u)
        )
        print(f"genu n={n}: {time.perf_counter()-t0:.1f}s -> {emb_u}")
        return

    if phase == "gen":
        C = centroids_np(m)
        cents = spark.createDataFrame(
            [(i, C[i].tolist()) for i in range(m)],
            "shard_id int, centroid array<float>",
        )
        cents.coalesce(4).write.mode("overwrite").parquet(cent_path)
        A = aniso_map()
        t0 = time.perf_counter()
        raw = (
            spark.range(0, n)
            .select(F.col("id").alias("vec_id"))
            .withColumn("shard_id", (F.col("vec_id") % m).cast("int"))
            .join(spark.read.parquet(cent_path), "shard_id")
            .select("vec_id", F.col("centroid"), _noise().alias("_z"))
        )

        def mix(batches):
            import pyarrow as pa

            for rb in batches:
                ids = rb.column("vec_id").to_numpy()
                cent = np.asarray(
                    rb.column("centroid").to_pylist(), dtype=np.float32
                )
                z = np.asarray(rb.column("_z").to_pylist(), dtype=np.float32)
                emb = cent + z @ A.T
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(ids, pa.int64()),
                        pa.array(emb.tolist(), pa.list_(pa.float32())),
                    ],
                    names=["vec_id", "embedding"],
                )

        raw.mapInArrow(
            mix, schema="vec_id long, embedding array<float>"
        ).write.mode("overwrite").parquet(emb_path)
        print(f"gen n={n} m={m}: {time.perf_counter()-t0:.1f}s")
        return

    # cents only exist for the clustered fixture — phases that never
    # touch them (seeded/seededu/refineg/searchg/graph) must not
    # require the clustered gen to have run
    cents = spark.read.parquet(cent_path) if phase in ("build", "search") else None
    from big_ann_spark.operators import ann as ANN
    from big_ann_spark.operators.sharding import assign_to_centroids, write_sharded

    if phase == "build":
        from big_ann_spark.operators.pq import train_opq, train_pq

        emb = spark.read.parquet(emb_path)
        t0 = time.perf_counter()
        asg = assign_to_centroids(
            emb, cents, extra_cols=["embedding"]
        ).localCheckpoint()
        write_sharded(asg, emb, ivf)
        cents.coalesce(4).write.mode("overwrite").parquet(f"{ivf}/centroids.parquet")
        t1 = time.perf_counter()
        print(f"build IVF raw: {t1-t0:.1f}s")
        # hash-spread training sample: a plain limit() takes whole
        # partitions, which at n >> 50k covers only SOME clusters and
        # biases the codebooks (measured: the biased sample inverted
        # the OPQ-vs-PQ recall ordering at 200k)
        sample = emb.filter(
            F.pmod(F.xxhash64("vec_id"), F.lit(max(1, n // 50_000))) == 0
        ).limit(50_000)
        books = train_pq(sample, m=8, k=256)
        write_sharded(
            asg, emb, ivf_pq,
            pq_codebooks=books,
        )
        cents.coalesce(4).write.mode("overwrite").parquet(
            f"{ivf_pq}/centroids.parquet"
        )
        t2 = time.perf_counter()
        print(f"build IVF-PQ: {t2-t1:.1f}s")
        # warm-start from the MLlib books (SCALE.md r13: the trainer's
        # random-pick init cost 3-5 recall pts vs the PQ layout)
        R, obooks, pmse, omse = train_opq(sample, m=8, k=256, init_books=books)
        print(f"train_opq: plain mse {pmse:.4f} -> opq mse {omse:.4f}")
        write_sharded(
            asg, emb, ivf_opq,
            pq_codebooks=obooks, opq_rotation=R,
        )
        cents.coalesce(4).write.mode("overwrite").parquet(
            f"{ivf_opq}/centroids.parquet"
        )
        t3 = time.perf_counter()
        print(f"build IVF-OPQ: {t3-t2:.1f}s")
        _build_graph(spark, emb, gpath, ANN)
        return

    if phase == "graph":
        # graph-only rebuild (the IVF/codec layouts already exist) —
        # GT_ITER / GT_SAMPLE bound NN-Descent's candidate volume for
        # big n (the 3-iter full join spilled ~80 GB at 2M locally)
        emb = spark.read.parquet(emb_path)
        _build_graph(spark, emb, gpath, ANN)
        return

    if phase == "seeded":
        # VERDICT r12 #1 campaign: the IVF-seeded build at n — build
        # wall, edge recall vs exact kNN on sampled nodes, then the
        # serving layout. Knobs: GT_SHARD (target cell rows), GT_REFINE
        # (NN-Descent rounds on the seed), GT_JCAP (local-join cap J).
        from big_ann_spark.operators.knn import exact_knn

        emb = spark.read.parquet(emb_path)
        t0 = time.perf_counter()
        g = ANN.ivf_seeded_knn_graph(
            emb,
            k=10,
            dim=D,
            probes=2,
            target_shard_rows=int(os.environ.get("GT_SHARD", "4096")),
            refine_iterations=int(os.environ.get("GT_REFINE", "1")),
            local_join_cap=int(os.environ.get("GT_JCAP", "8")),
            seeding=os.environ.get("GT_SEEDING", "auto"),
        )
        g.write.mode("overwrite").parquet(f"{gpath}/edges.parquet")
        t1 = time.perf_counter()
        print(f"IVF-seeded graph build (n={n}): {t1-t0:.1f}s")
        edges = spark.read.parquet(f"{gpath}/edges.parquet")
        _edge_recall(emb, edges, n)
        t2 = time.perf_counter()
        ANN.write_knn_graph_layout(edges, emb, gpath, n_graph_buckets=64)
        print(f"graph serving layout: {time.perf_counter()-t2:.1f}s")
        return

    if phase == "refineg":
        # refinement DECOUPLED from the seed pass (the 20M lesson: a
        # refinement failure must not lose the ~2h seed stage) — reads
        # edges.parquet as init, runs capped NN-Descent (GT_SCHEDULE
        # "8,12" takes precedence over GT_REFINE×GT_JCAP), writes
        # edges_refined.parquet + rebuilds the serving layout from it
        emb = spark.read.parquet(emb_path)
        seedg = spark.read.parquet(f"{gpath}/edges.parquet")
        sched = os.environ.get("GT_SCHEDULE")
        kw: dict = {"init_graph": seedg}
        if sched:
            kw["local_join_schedule"] = [int(x) for x in sched.split(",")]
        else:
            kw["iterations"] = int(os.environ.get("GT_REFINE", "1"))
            kw["local_join_cap"] = int(os.environ.get("GT_JCAP", "8"))
        cfg = (
            f"schedule={kw['local_join_schedule']}"
            if sched
            else f"{kw['iterations']}xJ{kw['local_join_cap']}"
        )
        t0 = time.perf_counter()
        g = ANN.nn_descent_knn_graph(emb, k=10, dim=D, **kw)
        g.write.mode("overwrite").parquet(f"{gpath}/edges_refined.parquet")
        print(f"refine ({cfg}): {time.perf_counter()-t0:.1f}s")
        refined = spark.read.parquet(f"{gpath}/edges_refined.parquet")
        _edge_recall(emb, refined, n)
        t2 = time.perf_counter()
        ANN.write_knn_graph_layout(refined, emb, gpath, n_graph_buckets=64)
        print(f"graph serving layout: {time.perf_counter()-t2:.1f}s")
        return

    if phase == "seededu":
        # VERDICT r13 #4: refinement-schedule grid on the CLUSTERLESS
        # fixture (genu must have run) — can growing-J rounds close
        # more of the uniform-case gap at linear cost? Arms are chosen
        # so total candidate volume Σ(2Jᵢ)² is comparable where the
        # comparison matters:
        #   flat 2×J12      -> Σ = 1152
        #   grow 8→12→16    -> Σ = 1856 (the "spend J late" bet)
        #   grow 8→16       -> Σ = 1280 (near-isocost vs flat 2×J12)
        #   flat 3×J12      -> Σ = 1728 (iso-round-count vs grow-3)
        # plus the r13 knob-table baselines (probes=3 seed-only, and
        # probes=3 + grow). Edge recall on 200 sampled nodes vs exact.
        from big_ann_spark.operators.knn import exact_knn

        emb = spark.read.parquet(f"{BASE}/emb_u_{n}").localCheckpoint()
        nq = 200
        qs_ids = emb.filter(
            F.pmod(F.xxhash64("vec_id"), F.lit(max(1, n // nq))) == 0
        ).limit(nq)
        from pyspark.sql import Window

        gt = (
            exact_knn(
                qs_ids.select(
                    F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
                ),
                emb,
                k=11,
                base_id="vec_id",
                base_vec="embedding",
            )
            .filter(F.col("neighbor_id") != F.col("qid"))
            .withColumn(
                "_r",
                F.row_number().over(
                    Window.partitionBy("qid").orderBy(
                        F.col("dist").asc(), F.col("neighbor_id").asc()
                    )
                ),
            )
            .filter(F.col("_r") <= 10)
            .select(F.col("qid").alias("src"), F.col("neighbor_id").alias("dst"))
            .localCheckpoint()
        )
        tot = gt.count()

        def arm(tag: str, **kw) -> None:
            t0 = time.perf_counter()
            g = ANN.ivf_seeded_knn_graph(
                emb, k=10, dim=D,
                target_shard_rows=int(os.environ.get("GT_SHARD", "4096")),
                **kw,
            ).localCheckpoint()
            wall = time.perf_counter() - t0
            hits = g.join(gt, ["src", "dst"]).count()
            print(f"{tag}: recall {hits/tot:.4f}  wall {wall:.1f}s")

        arm("flat 2xJ12 (r13 best p2)", probes=2,
            refine_iterations=2, local_join_cap=12)
        arm("grow 8-16 (isocost vs flat)", probes=2,
            refine_schedule=[8, 16])
        arm("grow 8-12-16", probes=2, refine_schedule=[8, 12, 16])
        arm("flat 3xJ12 (iso-rounds)", probes=2,
            refine_iterations=3, local_join_cap=12)
        arm("p3 + grow 8-12-16 (vs r13 0.453)", probes=3,
            refine_schedule=[8, 12, 16])
        return

    if phase == "searchg":
        # graph-tier-only serving check (no IVF/codec layouts needed)
        from big_ann_spark.operators.knn import exact_knn, recall_at_k

        emb = spark.read.parquet(emb_path)
        qs = _queries(emb)
        gt = (
            exact_knn(
                qs, emb, k=10, base_id="vec_id", base_vec="embedding",
            )
            .select("qid", "neighbor_id")
            .localCheckpoint()
        )

        def once():
            return ANN.knn_graph_search_from_disk(
                qs, gpath, k=10, beam=24, hops=6, n_entry=64, dim=D
            )

        walls = []
        out = None
        for _ in range(3):
            t0 = time.perf_counter()
            out = once()
            out.localCheckpoint()
            walls.append(time.perf_counter() - t0)
        r = round(
            recall_at_k(out.select("qid", "neighbor_id"), gt, 10)
            .collect()[0]
            .recall_at_k,
            4,
        )
        _evict(gpath)
        t0 = time.perf_counter()
        once().localCheckpoint()
        cw = time.perf_counter() - t0
        print(
            f"graph beam=24 hops=6: warm {min(walls):.2f}s cold {cw:.2f}s "
            f"recall@10 {r}"
        )
        return

    if phase == "search":
        from big_ann_spark.operators.knn import exact_knn, recall_at_k

        emb = spark.read.parquet(emb_path)
        qs = _queries(emb)
        gt = (
            exact_knn(
                qs, emb, k=10, base_id="vec_id", base_vec="embedding",
            )
            .select("qid", "neighbor_id")
            .localCheckpoint()
        )

        def rec(df) -> float:
            return round(
                recall_at_k(df.select("qid", "neighbor_id"), gt, 10)
                .collect()[0]
                .recall_at_k,
                4,
            )

        def run(tag, layout, fn):
            # warm: best of 3; cold: evict then one shot
            walls = []
            out = None
            for _ in range(3):
                t0 = time.perf_counter()
                out = fn()
                out.localCheckpoint()
                walls.append(time.perf_counter() - t0)
            r = rec(out)
            _evict(layout)
            t0 = time.perf_counter()
            cold = fn()
            cold.localCheckpoint()
            cw = time.perf_counter() - t0
            print(
                f"{tag}: warm {min(walls):.2f}s cold {cw:.2f}s "
                f"recall@10 {r}"
            )

        run(
            "IVF raw nprobe=2", ivf,
            lambda: ANN.ivf_search_from_disk(qs, ivf, cents, k=10, nprobe=2),
        )
        run(
            "graph beam=24 hops=6 n_entry=64", gpath,
            lambda: ANN.knn_graph_search_from_disk(
                qs, gpath, k=10, beam=24, hops=6, n_entry=64, dim=D
            ),
        )
        run(
            "IVF-PQ m=8 k=256 rerank_factor=4", ivf_pq,
            lambda: ANN.ivf_search_from_disk(
                qs, ivf_pq, cents, k=10, nprobe=2,
                codec="pq", rerank_factor=4,
            ),
        )
        run(
            "IVF-OPQ m=8 k=256 rerank_factor=4", ivf_opq,
            lambda: ANN.ivf_search_from_disk(
                qs, ivf_opq, cents, k=10, nprobe=2,
                codec="opq", rerank_factor=4,
            ),
        )
        return

    raise SystemExit(f"unknown phase {phase!r}")


if __name__ == "__main__":
    main()
