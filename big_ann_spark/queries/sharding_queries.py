"""Sharding + batch ANN search queries (SURVEY §7.3-§7.5; J2/J3, A2/A4,
A12, W1/W2, S1-S5).

Oracle-checked variants use *label centroids* (per-label mean vectors)
— the k-means update step as a deterministic aggregate — so routing,
assignment, histogram, search, and recall are all exactly reproducible
in DuckDB. The MLlib-KMeans pipeline registers with an invariant
oracle (shard count + conservation of points); the order-dependent /
seed-dependent surfaces (KANNDI, LSH buckets, fbin round-trip) fold
into ONE rows-only query so the driver's 50-entry correctness window
is not spent on checks that cannot hash-match by construction.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from big_ann_spark.catalog import load_table
from big_ann_spark.operators import ann as ANN
from big_ann_spark.operators import sharding as SH
from big_ann_spark.operators.bm25 import B as _BM25_B
from big_ann_spark.operators.bm25 import K1 as _BM25_K1
from big_ann_spark.queries import build_concurrently, fixture_layout, register

_BM25_K1P1 = _BM25_K1 + 1
_BM25_1MB = 1 - _BM25_B

_CENTROID_CTE = """
cdim AS (SELECT label AS shard_id, i AS pos, avg(embedding[i+1]::DOUBLE) AS v
         FROM embeddings, range(0, 64) t(i) GROUP BY label, i),
cent AS (SELECT shard_id, list(v ORDER BY pos) AS centroid FROM cdim GROUP BY shard_id),
assign AS (
  SELECT vec_id, shard_id, dist FROM (
    SELECT e.vec_id, cent.shard_id,
           sqrt(list_sum(list_transform(range(1, 65),
             i -> (e.embedding[i]::DOUBLE - centroid[i]) * (e.embedding[i]::DOUBLE - centroid[i])))) AS dist,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY sqrt(list_sum(list_transform(range(1, 65),
                                i -> (e.embedding[i]::DOUBLE - centroid[i]) * (e.embedding[i]::DOUBLE - centroid[i])))),
                              cent.shard_id) AS rn
    FROM embeddings e CROSS JOIN cent
  ) WHERE rn = 1
)
"""


@register(
    "centroid_assignment_stats",
    sql=f"""
WITH {_CENTROID_CTE},
hist AS (
  SELECT 'histogram' AS variant, shard_id, count(*) AS n_points,
         ROUND(quantile_cont(dist, 0.5)::DOUBLE, 6) AS stat
  FROM assign GROUP BY shard_id
),
rec AS (
  SELECT 'recall' AS variant, -1 AS shard_id, NULL::BIGINT AS n_points,
         ROUND(avg(CASE WHEN a.shard_id = e.label THEN 1.0 ELSE 0.0 END), 6) AS stat
  FROM assign a JOIN embeddings e ON a.vec_id = e.vec_id
)
SELECT * FROM hist UNION ALL SELECT * FROM rec
""",
)
def centroid_assignment_stats(spark, sf_dir):
    """J2+A2+A4+A12/J6 folded: nearest-centroid assignment (broadcast
    argmin projection) → per-shard size + median centroid-distance
    (reference ``shard.py:117-147``) UNION the routing recall — the
    fraction of points whose nearest label centroid IS their label
    (``recall.py:73-83`` positional metric, labels as ground truth)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = SH.label_centroids(emb)
    assign = SH.assign_to_centroids(emb, cents)
    hist = SH.shard_histogram(assign).select(
        F.lit("histogram").alias("variant"),
        "shard_id",
        "n_points",
        F.col("median_dist").alias("stat"),
    )
    rec = (
        assign.join(emb.select("vec_id", "label"), "vec_id")
        .select(
            F.when(F.col("shard_id") == F.col("label"), 1.0).otherwise(0.0).alias("hit")
        )
        .agg(F.round(F.avg("hit"), 6).alias("stat"))
        .select(
            F.lit("recall").alias("variant"),
            F.lit(-1).alias("shard_id"),
            F.lit(None).cast("long").alias("n_points"),
            "stat",
        )
    )
    return hist.unionByName(rec)


def _sq8_disk_layout(spark, sf_dir: str) -> tuple[str, list[float], list[float]]:
    """The sq8_disk variant's persisted layout, with its (mins, maxs)
    sidecar values (immutable layout metadata written at build time):
    serving passes them through, skipping one one-row driver read job
    per search."""
    from big_ann_spark.operators.pq import train_sq8

    def build(path):
        emb = load_table(spark, sf_dir, "embeddings")
        cents = SH.label_centroids(emb)
        assign = SH.assign_to_centroids(emb, cents, extra_cols=["embedding"])
        mins, maxs = train_sq8(emb)
        SH.write_sharded(assign, emb, path, sq8_ranges=(mins, maxs))
        return mins, maxs

    path, (mins, maxs) = fixture_layout("sq8_disk", sf_dir, "shards", build)
    return path, mins, maxs


def _mutated_layout(spark, sf_dir: str) -> str:
    """The mutated variant's layout: base build from the vec_id % 20 != 0
    rows, op 0 upserts the % 20 == 0 rows (5% — mutations are a SMALL
    fraction of the corpus by the layout's design contract; the
    contested set must stay broadcastable), op 1 tombstones the
    % 50 == 0 rows — so the head's live set is exactly "vec_id % 50 !=
    0" and the as_of=0 snapshot is the FULL table, both
    DuckDB-expressible as plain predicates over `embeddings`."""
    from big_ann_spark.operators import vector_ops as VO

    def build(path):
        emb = load_table(spark, sf_dir, "embeddings")
        cents = SH.label_centroids(emb)
        base = emb.filter(F.col("vec_id") % 20 != 0)
        assign = SH.assign_to_centroids(base, cents, extra_cols=["embedding"])
        SH.write_sharded(assign, base, path)
        cents.write.mode("overwrite").parquet(f"{path}/centroids.parquet")
        VO.upsert_vectors(
            spark, path,
            emb.filter(F.col("vec_id") % 20 == 0).select("vec_id", "embedding"),
        )
        VO.delete_vectors(
            spark, path, emb.filter(F.col("vec_id") % 50 == 0).select("vec_id")
        )

    return fixture_layout("ivf_mut", sf_dir, "ops", build)[0]


def _graph_layout(spark, sf_dir: str) -> str:
    """Session-cached persisted GRAPH serving tier over the vec_id<250
    subset (NN-Descent edges → write_knn_graph_layout node records)."""

    def build(path):
        emb = load_table(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") < 250
        )
        g = ANN.nn_descent_knn_graph(emb, k=6, iterations=1, dim=64)
        ANN.write_knn_graph_layout(g, emb, path, n_graph_buckets=8)

    return fixture_layout("graph", sf_dir, "graph.parquet", build)[0]


def _graph_mut_layout(spark, sf_dir: str) -> str:
    """Session-cached MUTATED graph serving tier: the _graph_layout
    recipe, then exactly-once ops through operators/graph_ops — one
    upsert (ids 100..104 shifted +25, plus fresh ids 2000..2002 at half
    scale) and one delete (7 and the just-moved 101: latest-op-wins).
    The live view is fully deterministic, so DuckDB can rank it (the
    graph_mut oracle)."""
    from big_ann_spark.operators import graph_ops as GO

    def build(path):
        emb = load_table(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") < 250
        )
        g = ANN.nn_descent_knn_graph(emb, k=6, iterations=1, dim=64)
        ANN.write_knn_graph_layout(g, emb, path, n_graph_buckets=8)
        moved = emb.filter(
            F.col("vec_id").isin([100, 101, 102, 103, 104])
        ).select(
            "vec_id",
            F.transform(
                "embedding", lambda x: (x + F.lit(25.0)).cast("float")
            ).alias("embedding"),
        )
        fresh = emb.filter(F.col("vec_id") < 3).select(
            (F.col("vec_id") + 2000).alias("vec_id"),
            F.transform(
                "embedding", lambda x: (x * F.lit(0.5)).cast("float")
            ).alias("embedding"),
        )
        GO.upsert_graph_vectors(spark, path, moved.unionByName(fresh))
        GO.delete_graph_nodes(spark, path, [7, 101])

    return fixture_layout("graph_mut", sf_dir, "graph.parquet", build)[0]


def _hybrid_bm25_layout(spark, sf_dir: str) -> str:
    """Session-scoped persisted BM25 index over the documents corpus —
    the lexical side of the hybrid_disk variant (built once, served
    every run: an index's real lifecycle)."""
    from big_ann_spark.operators.bm25 import bm25_index, write_bm25_index

    def build(path):
        docs = load_table(spark, sf_dir, "documents")
        write_bm25_index(bm25_index(docs), path, n_term_buckets=16)

    return fixture_layout("hybrid_bm25", sf_dir, "meta.parquet", build)[0]


def _tag_mutated_layout(spark, sf_dir: str) -> str:
    """Filtered-track layout with the full mutable lifecycle applied
    (operators/tag_ops.py): base = vec_id % 20 != 0 with
    [lang:…, src:…] tags; op0 = combined upsert of the %20==0 vectors
    WITH their tags (one marker); op1 = tag-only retag of %15==0 to
    ['vip:yes']; op2 = delete %50==0. The head live set is therefore
    %50 != 0, with tags ['vip:yes'] where %15==0 else the lang/src
    pair — a pure modular predicate DuckDB reproduces."""
    from big_ann_spark.operators import tag_ops as TO
    from big_ann_spark.operators import vector_ops as VO
    from big_ann_spark.operators.ann import write_tag_postings_layout

    def build(path):
        emb = load_table(spark, sf_dir, "embeddings")
        docs = load_table(spark, sf_dir, "documents")
        tagged = emb.join(
            docs.select(F.col("doc_id").alias("vec_id"), "lang", "source"),
            "vec_id",
        ).select(
            "vec_id",
            "embedding",
            F.array(
                F.concat(F.lit("lang:"), F.col("lang")),
                F.concat(F.lit("src:"), F.col("source")),
            ).alias("tags"),
        )
        cents = SH.label_centroids(emb)
        base = tagged.filter(F.col("vec_id") % 20 != 0)
        assign = SH.assign_to_centroids(base, cents, extra_cols=["embedding"])
        SH.write_sharded(assign, base, path)
        cents.write.mode("overwrite").parquet(f"{path}/centroids.parquet")
        # carry_payload: the driver row certifies the POSTING-LOCAL
        # serving mode (the 100 TB path — measured corpus-independent,
        # tools/measure_filtered_mut.py); the point-fetch mode is
        # equality-tested in tests/test_filtered_from_disk.py
        write_tag_postings_layout(
            base.select("vec_id", "tags"), path, n_tag_buckets=16,
            carry_payload=True,
        )
        VO.upsert_vectors(
            spark, path, tagged.filter(F.col("vec_id") % 20 == 0),
            tags_col="tags",
        )
        TO.upsert_tags(
            spark, path,
            tagged.filter(F.col("vec_id") % 15 == 0).select(
                "vec_id", F.array(F.lit("vip:yes")).alias("tags")
            ),
        )
        VO.delete_vectors(
            spark, path, tagged.filter(F.col("vec_id") % 50 == 0).select("vec_id")
        )

    return fixture_layout("ftag_mut", sf_dir, "ops", build)[0]


@register(
    "ivf_search_top5",
    sql=f"""
WITH {_CENTROID_CTE},
q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 20),
routed AS (
  SELECT qid, qv, shard_id FROM (
    SELECT q.qid, q.qv, cent.shard_id,
           row_number() OVER (PARTITION BY q.qid
             ORDER BY sqrt(list_sum(list_transform(range(1, 65),
               i -> (q.qv[i] - centroid[i]) * (q.qv[i] - centroid[i])))), cent.shard_id) AS pr
    FROM q CROSS JOIN cent
  ) WHERE pr <= 2
),
cands AS (
  SELECT r.qid, a.vec_id AS neighbor_id,
         sqrt(list_sum(list_transform(range(1, 65),
           i -> (r.qv[i] - e.embedding[i]::DOUBLE) * (r.qv[i] - e.embedding[i]::DOUBLE)))) AS dist
  FROM routed r
  JOIN assign a ON a.shard_id = r.shard_id
  JOIN embeddings e ON e.vec_id = a.vec_id
),
rawr AS (
  SELECT 'raw' AS variant, qid, neighbor_id, ROUND(dist, 6) AS dist, rk::INTEGER AS rank
  FROM (SELECT qid, neighbor_id, dist,
               row_number() OVER (PARTITION BY qid ORDER BY dist, neighbor_id) AS rk
        FROM cands)
  WHERE rk <= 5
),
sqstats AS (
  SELECT list(mn ORDER BY i) AS mn, list(mx ORDER BY i) AS mx
  FROM (
    SELECT i, MIN(v) AS mn, MAX(v) AS mx
    FROM (SELECT unnest(embedding::DOUBLE[]) AS v,
                 unnest(range(1, len(embedding)+1)) AS i
          FROM embeddings)
    GROUP BY i)
),
dec AS (
  SELECT e.vec_id,
         list_transform(range(1, 65), i ->
           s.mn[i] + ((CASE WHEN s.mx[i] = s.mn[i] THEN 0
                 ELSE least(255.0, greatest(0.0,
                        floor((e.embedding[i]::DOUBLE - s.mn[i]) / (s.mx[i] - s.mn[i]) * 255)))::INTEGER
                 END)::DOUBLE + 0.5) * (s.mx[i] - s.mn[i]) / 255) AS dv
  FROM embeddings e, sqstats s
),
sq_pool AS (
  SELECT qid, neighbor_id FROM (
    SELECT r.qid, a.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY r.qid
             ORDER BY sqrt(list_sum(list_transform(range(1, 65),
               i -> (r.qv[i] - d.dv[i]) * (r.qv[i] - d.dv[i])))), a.vec_id) AS rk
    FROM routed r
    JOIN assign a ON a.shard_id = r.shard_id
    JOIN dec d ON d.vec_id = a.vec_id
  ) WHERE rk <= 20
),
sq_exact AS (
  SELECT p.qid, p.neighbor_id,
         sqrt(list_sum(list_transform(range(1, 65),
           i -> (q.qv[i] - e.embedding[i]::DOUBLE) * (q.qv[i] - e.embedding[i]::DOUBLE)))) AS dist
  FROM sq_pool p
  JOIN q ON q.qid = p.qid
  JOIN embeddings e ON e.vec_id = p.neighbor_id
),
sq8r AS (
  SELECT 'sq8_disk' AS variant, qid, neighbor_id, ROUND(dist, 6) AS dist, rk::INTEGER AS rank
  FROM (SELECT qid, neighbor_id, dist,
               row_number() OVER (PARTITION BY qid ORDER BY dist, neighbor_id) AS rk
        FROM sq_exact)
  WHERE rk <= 5
)
SELECT * FROM rawr UNION ALL SELECT * FROM sq8r
""",
)
def ivf_search_top5(spark, sf_dir):
    """§7.4 flagship as a tagged union:
    - ``raw``: IVF batch ANN — route each query to its top-2
      label-centroid shards (J3), scan only those shards' vectors,
      per-query top-5 with global re-rank (W1/W2). The KANNDI search
      semantics (``kanndi_search.py:28-66``) with nprobe configurable
      instead of hardwired top-1.
    - ``sq8_disk``: the same search SERVED from a persisted
      ``write_sharded(sq8_ranges=...)`` layout — quantized candidate
      scoring over the codes column only (4× less scan IO), then exact
      re-rank of the top-4k pool via bounded-id point fetches of the
      raw column. write→pruned-read→quantize-score→rerank is
      hash-certified end-to-end (the layout is built once per session;
      the variant times serving, an index's real lifecycle).
    The op-ledger MUTATION variants live in ``kanndi_search_top1``
    (also oracled, but off the bench's hot list — mutation resolution
    shouldn't tax the flagship serving benchmark)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # lazy checkpoint: both variants route over these 10 rows, so the
    # centroid aggregate computes once, not once per variant
    cents = SH.label_centroids(emb).localCheckpoint(eager=False)
    assign = SH.assign_to_centroids(emb, cents)
    sharded = assign.select("vec_id", "shard_id").join(
        emb.select("vec_id", "embedding"), "vec_id"
    )
    # spread the raw variant's scoring table: the one-file embeddings
    # scan is ONE task, so the candidate scan would score single-core.
    # The repartition sits AFTER the assign/centroid lineage, so every
    # float upstream (avg-based centroids included) is bit-identical;
    # scoring + top-k are placement-invariant (deterministic (dist, id)
    # tie-break). spread_width_if_narrow skips this once the scan
    # splits wide.
    from big_ann_spark.queries import spread_width_if_narrow

    _w = spread_width_if_narrow(spark, sf_dir, "embeddings")
    if _w is not None:
        sharded = sharded.repartition(_w)
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    def _raw():
        return ANN.ivf_search(queries, sharded, cents, k=5, nprobe=2).select(
            F.lit("raw").alias("variant"),
            "qid",
            "neighbor_id",
            F.round("dist", 6).alias("dist"),
            "rank",
        )

    def _sq8():
        path, mins, maxs = _sq8_disk_layout(spark, sf_dir)
        return ANN.ivf_search_from_disk(
            queries, path, cents, k=5, nprobe=2, codec="sq8", rerank_factor=4,
            _sq8_ranges=(mins, maxs),
        ).select(
            F.lit("sq8_disk").alias("variant"),
            "qid",
            "neighbor_id",
            F.round("dist", 6).alias("dist"),
            "rank",
        )

    # overlap the two variant builds: each routes and runs its
    # candidate scan at call time, and the only shared state is
    # immutable plan objects (the centroids' lazy checkpoint)
    raw, sq8 = build_concurrently(_raw, _sq8)
    return raw.unionByName(sq8)


@register(
    "ann_recall_at_10",
    sql=f"""
WITH {_CENTROID_CTE},
q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 20),
exact AS (
  SELECT qid, neighbor_id FROM (
    SELECT q.qid, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.qid
             ORDER BY sqrt(list_sum(list_transform(range(1, 65),
               i -> (q.qv[i] - e.embedding[i]::DOUBLE) * (q.qv[i] - e.embedding[i]::DOUBLE)))), e.vec_id) AS rk
    FROM q CROSS JOIN embeddings e
  ) WHERE rk <= 10
),
routed AS (
  SELECT qid, qv, shard_id FROM (
    SELECT q.qid, q.qv, cent.shard_id,
           row_number() OVER (PARTITION BY q.qid
             ORDER BY sqrt(list_sum(list_transform(range(1, 65),
               i -> (q.qv[i] - centroid[i]) * (q.qv[i] - centroid[i])))), cent.shard_id) AS pr
    FROM q CROSS JOIN cent
  ) WHERE pr <= 2
),
approx AS (
  SELECT qid, neighbor_id FROM (
    SELECT r.qid, a.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY r.qid
             ORDER BY sqrt(list_sum(list_transform(range(1, 65),
               i -> (r.qv[i] - e.embedding[i]::DOUBLE) * (r.qv[i] - e.embedding[i]::DOUBLE)))), a.vec_id) AS rk
    FROM routed r JOIN assign a ON a.shard_id = r.shard_id
    JOIN embeddings e ON e.vec_id = a.vec_id
  ) WHERE rk <= 10
)
SELECT ROUND(count(*)::DOUBLE / (SELECT count(*) FROM exact), 6) AS recall_at_10
FROM exact JOIN approx USING (qid, neighbor_id)
""",
)
def ann_recall_at_10(spark, sf_dir):
    """A12 for the full ANN pipeline: recall@10 of IVF(nprobe=2) vs the
    exact kNN result — the engine checks its own approximation the way
    ``recall.py`` does, entirely in-engine.

    Cost shape: the exact side is ``exact_knn``'s partial top-k
    (fold-exact like the oracle, shuffle O(parts·Q·k), never
    materializing Q×N — checkpointing the full Q×N scored table won at
    sf0.1 but grew linearly with N: 11 s at the 10× fixture); the IVF
    side scans only the routed shards; centroids are computed once and
    shared."""
    from big_ann_spark.operators.knn import exact_knn

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = exact_knn(
        queries, emb, k=10, query_id="vec_id", query_vec="embedding",
        base_id="vec_id", base_vec="embedding",
    ).select("qid", "neighbor_id")  # Q x k rows
    cents = SH.label_centroids(emb).localCheckpoint(eager=False)  # 10 x d
    assign = SH.assign_to_centroids(emb, cents)
    sharded = assign.select("vec_id", "shard_id").join(
        emb.select("vec_id", "embedding"), "vec_id"
    )
    q2 = queries.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    approx = ANN.ivf_search(q2, sharded, cents, k=10, nprobe=2).select(
        "qid", "neighbor_id"
    )
    # ONE lazy job: counting exact and the hit-join as two eager driver
    # round trips cost ~1.2 s of the query's 1.45 s warm wall. A left
    # join marks hits and a single aggregate divides — the exact side
    # is consumed once, so it needs no checkpoint; approx (qid,
    # neighbor_id) is unique by construction (rank ≤ 10 rows), so the
    # left join preserves exact's row count.
    hit = approx.withColumn("_hit", F.lit(1))
    return (
        exact.join(hit, ["qid", "neighbor_id"], "left")
        .agg(
            F.round(
                F.coalesce(F.sum("_hit"), F.lit(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("recall_at_10")
        )
    )


@register(
    "kanndi_search_top1",
    sql=f"""
WITH {_CENTROID_CTE},
q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 20),
routed AS (
  SELECT qid, qv, shard_id FROM (
    SELECT q.qid, q.qv, cent.shard_id,
           row_number() OVER (PARTITION BY q.qid
             ORDER BY sqrt(list_sum(list_transform(range(1, 65),
               i -> (q.qv[i] - centroid[i]) * (q.qv[i] - centroid[i])))), cent.shard_id) AS pr
    FROM q CROSS JOIN cent
  ) WHERE pr <= 1
),
cands AS (
  SELECT r.qid, a.vec_id AS neighbor_id,
         sqrt(list_sum(list_transform(range(1, 65),
           i -> (r.qv[i] - e.embedding[i]::DOUBLE) * (r.qv[i] - e.embedding[i]::DOUBLE)))) AS dist
  FROM routed r
  JOIN assign a ON a.shard_id = r.shard_id
  JOIN embeddings e ON e.vec_id = a.vec_id
),
top1 AS (
  SELECT 'top1' AS variant, qid, neighbor_id, ROUND(dist, 6) AS dist, rk::INTEGER AS rank
  FROM (SELECT qid, neighbor_id, dist,
               row_number() OVER (PARTITION BY qid ORDER BY dist, neighbor_id) AS rk
        FROM cands)
  WHERE rk <= 10
),
-- nprobe=2 routing for the mutation variants (matches the Spark
-- side's ivf_search_from_disk(nprobe=2) over the mutated layout)
routed2 AS (
  SELECT qid, qv, shard_id FROM (
    SELECT q.qid, q.qv, cent.shard_id,
           row_number() OVER (PARTITION BY q.qid
             ORDER BY sqrt(list_sum(list_transform(range(1, 65),
               i -> (q.qv[i] - centroid[i]) * (q.qv[i] - centroid[i])))), cent.shard_id) AS pr
    FROM q CROSS JOIN cent
  ) WHERE pr <= 2
),
-- mutated: the op-ledger layout's HEAD live set is exactly
-- vec_id % 50 != 0 (base = %20!=0, op0 upserts %20==0, op1 deletes
-- %50==0; latest op wins)
mcands AS (
  SELECT r.qid, a.vec_id AS neighbor_id,
         sqrt(list_sum(list_transform(range(1, 65),
           i -> (r.qv[i] - e.embedding[i]::DOUBLE) * (r.qv[i] - e.embedding[i]::DOUBLE)))) AS dist
  FROM routed2 r
  JOIN assign a ON a.shard_id = r.shard_id
  JOIN embeddings e ON e.vec_id = a.vec_id
),
mutr AS (
  SELECT 'mutated' AS variant, qid, neighbor_id, ROUND(dist, 6) AS dist, rk::INTEGER AS rank
  FROM (SELECT qid, neighbor_id, dist,
               row_number() OVER (PARTITION BY qid ORDER BY dist, neighbor_id) AS rk
        FROM mcands WHERE neighbor_id % 50 != 0)
  WHERE rk <= 5
),
-- mutated_asof: the as_of=0 snapshot (before the delete op) is the
-- FULL table
asofr AS (
  SELECT 'mutated_asof' AS variant, qid, neighbor_id, ROUND(dist, 6) AS dist, rk::INTEGER AS rank
  FROM (SELECT qid, neighbor_id, dist,
               row_number() OVER (PARTITION BY qid ORDER BY dist, neighbor_id) AS rk
        FROM mcands)
  WHERE rk <= 5
),
-- filtered_mut: tag-containment search over the TAG-MUTATED layout
-- (combined upsert + retag + delete ops) — live tags of id n are
-- ['vip:yes'] where n % 15 == 0, else the lang/src pair; live ids are
-- n % 50 != 0. Exact filtered kNN = rank under those predicates.
tagset AS (
  SELECT e.vec_id, e.embedding::DOUBLE[] AS ev, d.lang
  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
),
fq AS (
  SELECT vec_id AS qid, ev AS qv, 'lang:' || lang AS qtag
  FROM tagset WHERE vec_id < 8
  UNION ALL
  SELECT vec_id, ev, 'vip:yes' FROM tagset WHERE vec_id = 15
),
fcand AS (
  SELECT q.qid, t.vec_id AS neighbor_id,
         sqrt(list_sum(list_transform(range(1, 65),
           i -> (q.qv[i] - t.ev[i]) * (q.qv[i] - t.ev[i])))) AS dist
  FROM fq q JOIN tagset t ON t.vec_id % 50 != 0 AND (
    (q.qtag = 'vip:yes' AND t.vec_id % 15 = 0)
    OR (q.qtag <> 'vip:yes' AND t.vec_id % 15 <> 0 AND 'lang:' || t.lang = q.qtag)
  )
),
fr AS (
  SELECT 'filtered_mut' AS variant, qid, neighbor_id, ROUND(dist, 6) AS dist, rk::INTEGER AS rank
  FROM (SELECT qid, neighbor_id, dist,
               row_number() OVER (PARTITION BY qid ORDER BY dist, neighbor_id) AS rk
        FROM fcand)
  WHERE rk <= 3
),
-- hybrid_disk: RRF fusion of (a) the exact dense top-10 over the
-- tag-mutated layout's PRISTINE base (vec_id % 20 != 0; served by IVF
-- probing EVERY shard at as_of=-1, which is exact) and (b) BM25
-- top-10 from a persisted term-bucketed index over the full documents
-- corpus. Scores ROUNDed before ranking so duplicate docs tie
-- deterministically; rrf rounded for hashing.
hb AS (
  SELECT q2.qid, e.vec_id AS neighbor_id,
         row_number() OVER (PARTITION BY q2.qid ORDER BY
           sqrt(list_sum(list_transform(range(1, 65),
             i -> (q2.qv[i] - e.embedding[i]::DOUBLE) * (q2.qv[i] - e.embedding[i]::DOUBLE)))),
           e.vec_id) AS rk
  FROM (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < 5) q2
  CROSS JOIN embeddings e
  WHERE e.vec_id % 20 <> 0
),
hbtf AS (SELECT doc_id, w, COUNT(*)::DOUBLE AS tf
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
         GROUP BY 1, 2),
hbdl AS (SELECT doc_id, SUM(tf) AS dl FROM hbtf GROUP BY 1),
hbst AS (SELECT COUNT(*)::DOUBLE AS n, AVG(dl) AS avgdl FROM hbdl),
hbdf AS (SELECT w, COUNT(*)::DOUBLE AS df FROM hbtf GROUP BY 1),
hbq AS (SELECT doc_id AS qid, w, tf AS qtf FROM hbtf WHERE doc_id < 5),
hbsc AS (
  SELECT hbq.qid, hbtf.doc_id AS neighbor_id,
         ROUND(SUM((hbq.qtf * ln(1e0 + ((hbst.n - hbdf.df + 0.5e0) / (hbdf.df + 0.5e0))))
               * (hbtf.tf * {_BM25_K1P1!r}e0
                  / (hbtf.tf + {_BM25_K1!r}e0 * ({_BM25_1MB!r}e0
                     + ({_BM25_B!r}e0 * hbdl.dl) / hbst.avgdl)))), 6) AS score
  FROM hbq JOIN hbtf USING (w) JOIN hbdf USING (w)
  JOIN hbdl ON hbdl.doc_id = hbtf.doc_id CROSS JOIN hbst
  GROUP BY 1, 2
),
hrb AS (SELECT qid, neighbor_id,
               row_number() OVER (PARTITION BY qid ORDER BY score DESC, neighbor_id) AS rk
        FROM hbsc),
hyfuse AS (
  SELECT qid, neighbor_id, SUM(1.0 / (60 + rk)) AS rrf
  FROM (SELECT qid, neighbor_id, rk FROM hb WHERE rk <= 10
        UNION ALL
        SELECT qid, neighbor_id, rk FROM hrb WHERE rk <= 10)
  GROUP BY 1, 2
),
hyr AS (
  SELECT 'hybrid_disk' AS variant, qid, neighbor_id, ROUND(rrf, 6) AS dist,
         row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, neighbor_id)::INTEGER AS rank
  FROM hyfuse
),
-- graph_disk: the persisted graph tier queried with n_entry >= n
-- (every node scored at hop 0) is exhaustive BY CONSTRUCTION, so the
-- serving path equals exact top-3 kNN over the vec_id < 250 subset
gq AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
       FROM embeddings WHERE vec_id < 6),
gc AS (
  SELECT q.qid, e.vec_id AS neighbor_id,
         sqrt(list_sum(list_transform(range(1, 65),
           i -> (q.qv[i] - e.embedding[i]::DOUBLE) * (q.qv[i] - e.embedding[i]::DOUBLE)))) AS dist
  FROM gq q CROSS JOIN embeddings e WHERE e.vec_id < 250
),
gr AS (
  SELECT 'graph_disk' AS variant, qid, neighbor_id, ROUND(dist, 6) AS dist,
         rk::INTEGER AS rank
  FROM (SELECT qid, neighbor_id, dist,
               row_number() OVER (PARTITION BY qid ORDER BY dist, neighbor_id) AS rk
        FROM gc)
  WHERE rk <= 3
),
-- graph_mut: the SAME exhaustive regime over the MUTATED layout's
-- live view — deletes (7, 101) gone, moves (100,102,103,104 at +25)
-- at their new position, fresh ids (2000..2002 at half scale)
-- surfacing; float casts mirror the upsert's storage rounding
gmlive AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
  WHERE vec_id < 250 AND vec_id NOT IN (7, 100, 101, 102, 103, 104)
  UNION ALL
  SELECT vec_id, list_transform(embedding, x -> CAST(x + 25.0 AS FLOAT)::DOUBLE)
  FROM embeddings WHERE vec_id IN (100, 102, 103, 104)
  UNION ALL
  SELECT vec_id + 2000, list_transform(embedding, x -> CAST(x * 0.5 AS FLOAT)::DOUBLE)
  FROM embeddings WHERE vec_id < 3
),
gmc AS (
  SELECT q.qid, e.vec_id AS neighbor_id,
         sqrt(list_sum(list_transform(range(1, 65),
           i -> (q.qv[i] - e.emb[i]) * (q.qv[i] - e.emb[i])))) AS dist
  FROM gq q CROSS JOIN gmlive e
),
gmr AS (
  SELECT 'graph_mut' AS variant, qid, neighbor_id, ROUND(dist, 6) AS dist,
         rk::INTEGER AS rank
  FROM (SELECT qid, neighbor_id, dist,
               row_number() OVER (PARTITION BY qid ORDER BY dist, neighbor_id) AS rk
        FROM gmc)
  WHERE rk <= 3
)
SELECT * FROM top1 UNION ALL SELECT * FROM mutr UNION ALL SELECT * FROM asofr
UNION ALL SELECT * FROM fr
UNION ALL SELECT * FROM hyr WHERE rank <= 3
UNION ALL SELECT * FROM gr
UNION ALL SELECT * FROM gmr
""",
)
def kanndi_search_top1(spark, sf_dir):
    """Search-semantics tagged union:
    - ``top1``: the reference's EXACT search semantics
      (``kanndi_search.py:46-52``): route via top-MAX_CENTROIDS
      centroids but search only the top-1 shard, k=10 — i.e. IVF with
      nprobe=1. The recall loss vs exact kNN is a property of the
      reference's design, reproduced and measurable against
      ann_recall_at_10's nprobe=2 variant.
    - ``mutated``: ivf_search_from_disk over an op-ledger MUTATED
      persisted layout (operators/vector_ops: base build → upsert op →
      tombstone op) — latest-op-wins resolution hash-certified against
      DuckDB ranking the logical live set (``vec_id % 50 != 0``).
    - ``mutated_asof``: the as_of=0 SNAPSHOT search of that layout
      (before the delete op = the full table) — time travel on the
      batch vector index, hash-certified.
    - ``filtered_mut``: filtered_search_from_disk over a TAG-MUTATED
      layout (operators/tag_ops.py: combined vector+tag upsert →
      tag-only retag → delete) — the live-tags + live-vectors verify
      hash-certified against DuckDB ranking under the equivalent
      modular predicates, including a query on the RETAGGED vip tag
      (candidates come off a delta posting list).
    - ``hybrid_disk``: the full hybrid serving composition off TWO
      persisted layouts (fusion.hybrid_search_from_disk) — exact
      dense run (IVF probing every shard of the pristine base,
      as_of=-1) + BM25 run from the persisted term-bucketed index,
      RRF-fused; hash-certified against the same fusion in SQL.
    - ``graph_disk``: the PERSISTED GRAPH tier (write_knn_graph_layout
      node records → knn_graph_search_from_disk, the on-disk analog of
      reference ``src/util/utils.py:286-296``'s per-shard HNSW).
      Oracled EXACTLY by construction: n_entry ≥ n makes the beam
      search provably exhaustive (every node is scored at hop 0), so
      the from-disk serving path — layout round-trip, pruned record
      fetch, scoring, rank semantics — is hash-certified against exact
      kNN in SQL; graph TRAVERSAL correctness is separately pinned by
      the from-disk == in-memory equality tests (test_ann_extras).
    - ``graph_mut``: the MUTATED graph layout (operators/graph_ops:
      upsert op moving ids + inserting fresh ones, delete op, latest
      op wins) served in the same exhaustive regime — deletes
      suppressed, moved/fresh vectors scored on the brute-force
      contested side — hash-certified against DuckDB ranking the
      deterministic live view (VERDICT r12 #2).
    (Housed here, not in ivf_search_top5: this query is oracled every
    round but off the bench hot list, so mutation resolution never
    taxes the flagship serving benchmark.)"""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = SH.label_centroids(emb)
    assign = SH.assign_to_centroids(emb, cents)
    sharded = assign.select("vec_id", "shard_id").join(
        emb.select("vec_id", "embedding"), "vec_id"
    )
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    top1 = ANN.ivf_search(queries, sharded, cents, k=10, nprobe=1).select(
        F.lit("top1").alias("variant"),
        "qid",
        "neighbor_id",
        F.round("dist", 6).alias("dist"),
        "rank",
    )
    mpath = _mutated_layout(spark, sf_dir)
    mut = ANN.ivf_search_from_disk(queries, mpath, cents, k=5, nprobe=2).select(
        F.lit("mutated").alias("variant"),
        "qid",
        "neighbor_id",
        F.round("dist", 6).alias("dist"),
        "rank",
    )
    asof = ANN.ivf_search_from_disk(
        queries, mpath, cents, k=5, nprobe=2, as_of=0
    ).select(
        F.lit("mutated_asof").alias("variant"),
        "qid",
        "neighbor_id",
        F.round("dist", 6).alias("dist"),
        "rank",
    )
    tpath = _tag_mutated_layout(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    tagemb = emb.join(
        docs.select(F.col("doc_id").alias("vec_id"), "lang"), "vec_id"
    )
    fq = tagemb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
        F.array(F.concat(F.lit("lang:"), F.col("lang"))).alias("qtags"),
    ).unionByName(
        tagemb.filter(F.col("vec_id") == 15).select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qvec"),
            F.array(F.lit("vip:yes")).alias("qtags"),
        )
    )
    filt = ANN.filtered_search_from_disk(fq, tpath, k=3).select(
        F.lit("filtered_mut").alias("variant"),
        "qid",
        "neighbor_id",
        F.round("dist", 6).alias("dist"),
        "rank",
    )
    # hybrid_disk: both runs off PERSISTED layouts — dense = IVF over
    # the tag-mutated layout's pristine base (as_of=-1, nprobe=every
    # shard → exact over vec_id % 20 != 0), lexical = the persisted
    # BM25 index; RRF-fused (operators/fusion.hybrid_search_from_disk)
    from big_ann_spark.operators.fusion import hybrid_search_from_disk

    bm_dir = _hybrid_bm25_layout(spark, sf_dir)
    hq = emb.filter(F.col("vec_id") < 5).join(
        docs.select(F.col("doc_id").alias("vec_id"), "text"), "vec_id"
    ).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
        F.col("text").alias("qtext"),
    )
    n_shards = cents.count()
    hyb = hybrid_search_from_disk(
        spark, tpath, bm_dir, hq, k=3, nprobe=int(n_shards), depth=10,
        as_of=-1, bm25_score_round=6,
    ).select(
        F.lit("hybrid_disk").alias("variant"),
        "qid",
        "neighbor_id",
        F.round("rrf", 6).alias("dist"),
        "rank",
    )
    gpath = _graph_layout(spark, sf_dir)
    gq = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    gres = ANN.knn_graph_search_from_disk(
        gq, gpath, k=3, beam=16, hops=1, n_entry=250
    ).select(
        F.lit("graph_disk").alias("variant"),
        "qid",
        "neighbor_id",
        F.round("dist", 6).alias("dist"),
        "rank",
    )
    gmpath = _graph_mut_layout(spark, sf_dir)
    gmres = ANN.knn_graph_search_from_disk(
        gq, gmpath, k=3, beam=16, hops=1, n_entry=250
    ).select(
        F.lit("graph_mut").alias("variant"),
        "qid",
        "neighbor_id",
        F.round("dist", 6).alias("dist"),
        "rank",
    )
    return (
        top1.unionByName(mut)
        .unionByName(asof)
        .unionByName(filt)
        .unionByName(hyb)
        .unionByName(gres)
        .unionByName(gmres)
    )


@register(
    "kmeans_shard_stats",
    sql="""
SELECT 10 AS n_shards, COUNT(*)::BIGINT AS n_points, TRUE AS conserved
FROM embeddings
""",
)
def kmeans_shard_stats(spark, sf_dir):
    """§7.3: MLlib KMeans (k=10, seed=505 — reference RANDOM_SEED,
    ``config_bigann_small.py:11``) sharding, checked on its invariants:
    exactly k shards, every point assigned exactly once. Centroid
    VALUES depend on MLlib's k-means|| init and are not
    SQL-reproducible (SURVEY §7.7); the per-shard histogram variant is
    exercised in tests/test_sharding.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    assign, _cents, _model = SH.kmeans_shard(emb, m=10)
    hist = SH.shard_histogram(assign)
    return hist.agg(
        F.count("*").cast("int").alias("n_shards"),
        F.sum("n_points").alias("n_points"),
        (F.sum("n_points") == emb.count()).alias("conserved"),
    ).select("n_shards", "n_points", "conserved")


@register("pipeline_invariants", sql=None)
def pipeline_invariants(spark, sf_dir):
    """The three checks that are rows-only BY CONSTRUCTION, folded into
    one registry slot (driver window economy):
    - ``kanndi``: §7.5 KANNDI distance-based sharding invariant surface
      (per-shard size + max admission distance + threshold/capacity);
      greedy order-dependence makes exact parity impossible.
    - ``lsh``: random-hyperplane LSH bucketed search result size —
      signature planes are numpy-seeded, not SQL-reproducible; recall
      vs exact is tested in tests/test_sharding.py.
    - ``fbin``: S1-S5 source coverage — embeddings → local .fbin
      (header + float32 rows) → distributed binaryFile+mapInPandas
      re-ingest → roundtrip equality counts.
    - ``buddy_pq``: the reference's headline BuddyPQ composition
      (``README.md:5-7``: buddy dimension reorder feeding PQ "improves
      Recall@10 by 12%") run end-to-end — blended VIF+(1−KS) buddy
      order → dimension permutation → per-subspace PQ train/encode →
      ADC search — A/B against unpermuted PQ on the
      correlation-injected view (the raw blobs have no inter-dim
      correlation, mean |r| ≈ 0.04, so no ordering can beat raw on
      them; the injected view separates each correlated pair so a
      contiguous split always cuts it). Row: k1=dims, k2=n_queries,
      v1=buddy recall, v2=plain recall — v1 ≥ v2 is the reference
      claim, asserted in tests/test_pq.py (+11% here).
    - ``opq``: OPQ (Ge et al. CVPR 2013) — a LEARNED orthogonal
      rotation feeding PQ, strictly generalizing BuddyPQ's permutation
      (permutation matrices ⊂ orthogonal matrices); trained by
      driver-side alternating minimization on a bounded sample,
      applied at scale as one Arrow-batched matmul
      (pq.rotate_vectors). Row: k1=dims, k2=n_queries, v1=opq recall,
      v2=plain recall — v1 ≥ v2 on the same injected view, and OPQ's
      same-trainer distortion is monotone-better by construction
      (tests/test_pq.py).
    - ``nn_descent``: NN-Descent approximate kNN-graph construction
      (Dong et al. WWW 2011, operators.ann.nn_descent_knn_graph —
      joins + per-node top-k only, per-iteration cost linear in n at
      fixed degree). Row: k1=n nodes, k2=k, v1=recall of the built
      graph vs the exact self-excluded kNN graph, v2=iterations —
      deterministic (hash init, (dist, id) tie-breaks); recall ≥ 0.9
      asserted in tests/test_ann_extras.py.
    - ``graph_search``: batch beam search over that same graph
      (operators.ann.knn_graph_search — HNSW-style navigation as
      per-hop equi-joins; per-hop cost Q·beam·degree, n-independent).
      Row: k1=n nodes, k2=beam, v1=recall vs exact self-included
      top-10, v2=hops. Monotone-in-hops + determinism in
      tests/test_ann_extras.py.
    Schema: (variant, k1, k2, v1, v2) — scalar columns only."""
    emb = load_table(spark, sf_dir, "embeddings")

    res = SH.kanndi_shard(emb, m=5)
    kanndi = (
        res.assignments.groupBy("shard_id")
        .agg(
            F.count("*").alias("n_points"),
            F.round(F.max("dist"), 6).alias("max_dist"),
        )
        .select(
            F.lit("kanndi").alias("variant"),
            F.col("shard_id").cast("long").alias("k1"),
            F.col("n_points").cast("long").alias("k2"),
            F.col("max_dist").cast("double").alias("v1"),
            F.lit(float(res.capacity)).alias("v2"),
        )
    )

    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    lsh = ANN.lsh_bucket_search(queries, emb, k=5).select(
        F.lit("lsh").alias("variant"),
        F.col("qid").cast("long").alias("k1"),
        F.col("neighbor_id").cast("long").alias("k2"),
        F.round("dist", 6).alias("v1"),
        F.col("rank").cast("double").alias("v2"),
    )

    import os
    import tempfile

    from big_ann_spark.sources import fbin as FB

    e = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    d = tempfile.mkdtemp(prefix="big_ann_fbin_")
    path = os.path.join(d, "embeddings.fbin")
    FB.write_fbin_from_df(e, path)
    back = FB.read_fbin_spark(spark, path)
    joined = e.alias("a").join(back.alias("b"), F.col("a.id") == F.col("b.id"))
    exact = joined.select(
        F.when(
            F.aggregate(
                F.zip_with(
                    F.col("a.vec").cast("array<double>"),
                    F.col("b.vec").cast("array<double>"),
                    lambda x, y: F.abs(x - y),
                ),
                F.lit(0.0),
                lambda acc, x: F.greatest(acc, x),
            )
            == 0.0,
            1,
        )
        .otherwise(0)
        .alias("exact"),
    )
    nvecs, dim = FB.read_header(path)
    fbin = exact.agg(
        F.count("*").cast("long").alias("k1"),
        F.sum("exact").cast("long").alias("k2"),
    ).select(
        F.lit("fbin").alias("variant"),
        "k1",
        "k2",
        F.lit(float(nvecs)).alias("v1"),
        F.lit(float(dim)).alias("v2"),
    )

    from big_ann_spark.operators import pq as PQ

    ec = PQ.correlation_injected_view(emb)
    qs = ec.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    ab = PQ.buddy_pq_recall_ab(ec, qs, dims=16, m=4, k_codes=16, k=10)
    buddy = spark.createDataFrame(
        [
            (
                "buddy_pq",
                16,
                qs.count(),
                round(ab["buddy_recall"], 6),
                round(ab["plain_recall"], 6),
            )
        ],
        "variant string, k1 long, k2 long, v1 double, v2 double",
    )

    ab_opq = PQ.opq_recall_ab(
        ec, qs, dims=16, m=4, k_codes=16, k=10, sample_size=500
    )
    opq = spark.createDataFrame(
        [
            (
                "opq",
                16,
                qs.count(),
                round(ab_opq["opq_recall"], 6),
                round(ab_opq["plain_recall"], 6),
            )
        ],
        "variant string, k1 long, k2 long, v1 double, v2 double",
    )

    from big_ann_spark.operators.knn import exact_knn, recall_at_k

    nd_base = emb.filter(F.col("vec_id") < 500)
    nd_n = nd_base.count()
    g = ANN.nn_descent_knn_graph(nd_base, k=10, iterations=3, dim=64).localCheckpoint()
    nd_exact = (
        exact_knn(
            nd_base.select(
                F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
            ),
            nd_base,
            k=11,
            base_id="vec_id",
            base_vec="embedding",
        )
        .filter(F.col("neighbor_id") != F.col("qid"))
        .select("qid", "neighbor_id")
    )
    nn_desc = recall_at_k(
        g.select(F.col("src").alias("qid"), F.col("dst").alias("neighbor_id")),
        nd_exact,
        10,
    ).select(
        F.lit("nn_descent").alias("variant"),
        F.lit(nd_n).cast("long").alias("k1"),
        F.lit(10).cast("long").alias("k2"),
        F.round("recall_at_k", 6).alias("v1"),
        F.lit(3.0).alias("v2"),
    )

    gs_queries = nd_base.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    gs = ANN.knn_graph_search(gs_queries, g, nd_base, k=10, dim=64)
    # exact side INCLUDES the query point itself (graph search finds
    # the dist-0 self node, so both sides must count it the same way)
    gs_exact = exact_knn(
        gs_queries, nd_base, k=10,
        base_id="vec_id", base_vec="embedding",
    ).select("qid", "neighbor_id")
    graph_search = recall_at_k(
        gs.select("qid", "neighbor_id"), gs_exact, 10
    ).select(
        F.lit("graph_search").alias("variant"),
        F.lit(nd_n).cast("long").alias("k1"),
        F.lit(24).cast("long").alias("k2"),
        F.round("recall_at_k", 6).alias("v1"),
        F.lit(6.0).alias("v2"),
    )

    return (
        kanndi.unionByName(lsh)
        .unionByName(fbin)
        .unionByName(buddy)
        .unionByName(opq)
        .unionByName(nn_desc)
        .unionByName(graph_search)
    )
