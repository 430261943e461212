"""SCALE measurement: train_opq warm_iter × n_iter serving-recall grid
(VERDICT r13 #6).

The r13 trainer rework added a 27 s fast path (warm_iter=2) but a
single 200k probe showed it SHIFTING serving recall at equal sample
distortion, so the default stayed at full depth on one data point.
This grid settles it: n_iter ∈ {4, 9} × warm_iter ∈ {2, 8 (full)} at
200 queries (the r13 lesson: 20-query recall has ±0.03-0.04 spread —
only ≥200 queries can rank trainer variants), all arms warm-started
from ONE shared MLlib train_pq fit so trainer-init quality is
controlled (the r12→r13 confound), all arms serving the same
ADC-search pipeline against the same exact ground truth.

Prereq: ``measure_graph_tier.py gen 200000`` (the anisotropic
clustered fixture — the regime a learned rotation exists for).

    python tools/measure_opq_grid.py [n]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from big_ann_spark.session import get_spark

D = 64
M = 8
K_CODES = 256
NQ = 200


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    spark = get_spark("opq-grid-measure")
    emb = spark.read.parquet(f"/tmp/graphtier/emb_{n}").localCheckpoint()

    from big_ann_spark.operators.knn import exact_knn, recall_at_k
    from big_ann_spark.operators.pq import (
        pq_adc_search,
        pq_encode,
        rotate_vectors,
        train_opq,
        train_pq,
    )

    qs = (
        emb.filter(F.pmod(F.xxhash64("vec_id"), F.lit(max(1, n // NQ))) == 0)
        .limit(NQ)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
        .localCheckpoint()
    )
    gt = (
        exact_knn(
            qs, emb, k=10, base_id="vec_id", base_vec="embedding",
        )
        .select("qid", "neighbor_id")
        .localCheckpoint()
    )

    # hash-spread training sample, shared by every arm
    sample = (
        emb.filter(
            F.pmod(F.xxhash64("vec_id"), F.lit(max(1, n // 50_000))) == 0
        )
        .limit(50_000)
        .localCheckpoint()
    )

    def serve_recall(base, queries, books) -> float:
        codes = pq_encode(base, books)
        found = pq_adc_search(queries, codes, books, k=10)
        return round(
            float(
                recall_at_k(found.select("qid", "neighbor_id"), gt, 10)
                .collect()[0][0]
            ),
            4,
        )

    t0 = time.perf_counter()
    plain_books = train_pq(sample, m=M, k=K_CODES, dim=D)
    t_pq = time.perf_counter() - t0
    r_plain = serve_recall(emb, qs, plain_books)
    print(
        f"plain PQ (MLlib fit {t_pq:.0f}s): recall@10 {r_plain}", flush=True
    )

    for n_iter in (4, 9):
        for warm_iter in (2, 8):
            t0 = time.perf_counter()
            R, books, pmse, omse = train_opq(
                sample, m=M, k=K_CODES, dim=D,
                n_iter=n_iter, warm_iter=warm_iter,
                init_books=plain_books,
            )
            wall = time.perf_counter() - t0
            r = serve_recall(
                rotate_vectors(emb, R),
                rotate_vectors(qs, R, vec_col="qvec"),
                books,
            )
            print(
                f"OPQ n_iter={n_iter} warm_iter={warm_iter}: "
                f"train {wall:.0f}s  mse {pmse:.3f}->{omse:.3f}  "
                f"recall@10 {r}  (vs plain {r_plain})",
                flush=True,
            )


if __name__ == "__main__":
    main()
