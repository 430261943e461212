"""Vector sharding pipelines: K-Means (reference `clustering/`) and
KANNDI distance-based (reference `kanndi/`), re-expressed as DataFrame
pipelines.

Reference lifecycle being reproduced (SURVEY §3.2, §7.3):
``centroids.py`` (MiniBatchKMeans fit, seed 505) → ``shard.py``
(predict + per-point L2 to its centroid → bucket JSON + distribution
CSV) → ``recall.py`` (routing recall vs exact). Here the fit is MLlib
KMeans, assignment is a broadcast argmin join (J2), stats are
aggregates (A2/A4), and the sharded layout is ``partitionBy(shard_id)``
parquet (S7/S9) with a small centroid sidecar table — the "index" a
1000-executor cluster can build in one pass and prune at query time.

KANNDI (§7.5): the reference's greedy sequential admission
(``shard_by_distance.py:82-372``) is order-dependent and cannot be
parallelized faithfully. The reformulation keeps its *declared
invariants* — capacity N/M (``:99``), admission within median-distance
threshold d (``:39-78``), saturation ≥75% else overflow to a special
shard (``:32,293-358``) — as an iterative driver loop of bounded
DataFrame jobs: seed batch → distance join → capacity cap (W5 pattern)
→ anti-join remainder.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, IntegerType, StructField, StructType

from big_ann_spark.functions.vector import l2_distance
from big_ann_spark.operators.knn import (
    broadcast_matrix,
    median_pairwise_distance,
    nearest_centroids,
)

RANDOM_SEED = 505  # reference config_bigann_small.py:11


def label_centroids(
    emb: DataFrame, *, label_col: str = "label", vec_col: str = "embedding", dim: int = 64
) -> DataFrame:
    """Per-label mean vector — the deterministic centroid table used by
    the oracle-checked assignment/search queries (k-means's update step
    as one aggregate). (label, centroid: array<double>)."""
    dims = emb.select(
        F.col(label_col).alias("shard_id"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "val"),
    )
    per_dim = dims.groupBy("shard_id", "pos").agg(F.avg("val").alias("avg_val"))
    return (
        per_dim.groupBy("shard_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "avg_val"))
            ).alias("pa")
        )
        .select("shard_id", F.col("pa.avg_val").alias("centroid"))
    )


def assign_to_centroids(
    points: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "shard_id",
    centroid_vec: str = "centroid",
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """J2: nearest-centroid assignment → (id, shard_id, dist), plus
    ``extra_cols`` carried through, which is how callers keep payload
    columns aligned with their row's assignment WITHOUT a join-back on
    a possibly-non-unique id (a join-back cross-multiplies duplicate
    ids and can pair a row with the OTHER duplicate's shard). This is
    ``kmeans.predict`` + the per-point distance loop of
    ``shard.py:117-131`` with ZERO exchanges.

    One ``mapInArrow`` pass: the centroid matrix
    (``ann.centroid_matrix``) is broadcast once, and each Arrow batch
    picks its rows' nearest centroid with ``knn.nearest_centroids``, the
    kernel search routing and upserts use — so a vector lands in the
    shard a search for it probes first. Ties go to the lower shard id;
    ``dist`` is the ``l2_distance`` fold bit for bit; the id and extra
    columns pass through as Arrow buffers. A vector that is not finite
    fails its task."""
    from pyspark.sql.pandas.types import to_arrow_type

    from big_ann_spark.operators.ann import centroid_matrix

    spark = points.sparkSession
    if (centroid_id, centroid_vec) != ("shard_id", "centroid"):
        centroids = centroids.select(
            F.col(centroid_id).alias("shard_id"), F.col(centroid_vec).alias("centroid")
        )
    sid_type = centroids.schema["shard_id"].dataType
    cids, cmat = centroid_matrix(spark, centroids)
    if not len(cids):
        raise ValueError("assign_to_centroids: the centroid table is empty")
    bc = broadcast_matrix(spark.sparkContext, cids, cmat)

    carry = [c for c in (extra_cols or []) if c not in (id_col, vec_col)]
    out_extra = [
        c for c in (extra_cols or []) if c not in (id_col, centroid_id, "dist")
    ]
    src = points.select(id_col, vec_col, *carry)
    schema = StructType(
        [
            src.schema[id_col],
            StructField(centroid_id, sid_type),
            StructField("dist", DoubleType()),
            *(src.schema[c] for c in out_extra),
        ]
    )
    sid_arrow = to_arrow_type(sid_type)

    def part(batches):
        import pyarrow as pa

        from big_ann_spark.functions.arrowio import list_col_matrix

        cids, cmat = bc.value
        for rb in batches:
            if not rb.num_rows:
                continue
            top, dist = nearest_centroids(list_col_matrix(rb, vec_col), cids, cmat, 1)
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(id_col),
                    pa.array(cids[top[:, 0]], type=sid_arrow),
                    pa.array(dist[:, 0], type=pa.float64()),
                    *(rb.column(c) for c in out_extra),
                ],
                names=[id_col, centroid_id, "dist", *out_extra],
            )

    return src.mapInArrow(part, schema=schema)


def shard_histogram(assignments: DataFrame) -> DataFrame:
    """A4: per-shard size + A2 median centroid-distance drift
    (``shard.py:121-147``: groups dict sizes → distribution CSV, median
    distance per batch)."""
    return assignments.groupBy("shard_id").agg(
        F.count("*").alias("n_points"),
        F.round(F.percentile("dist", F.lit(0.5)), 6).alias("median_dist"),
    )


def kmeans_shard(
    emb: DataFrame,
    m: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = RANDOM_SEED,
    max_iter: int = 20,
):
    """MLlib K-Means sharding (reference ``centroids.py:69-111`` with
    MiniBatchKMeans, RANDOM_SEED=505, MAX_ITER from config). Returns
    (assignments DF, centroids DF, model). Centroid *values* differ
    from sklearn (different init/minibatching — SURVEY §7.7); the
    checkable contract is assignment consistency + routing recall."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = emb.select(
        F.col(id_col),
        F.col(vec_col),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
    )
    model = KMeans(k=m, seed=seed, maxIter=max_iter).fit(feat)
    pred = model.transform(feat).select(
        F.col(id_col), F.col(vec_col), F.col("prediction").alias("shard_id")
    )
    import pandas as pd

    centroids_pdf = pd.DataFrame(
        {
            "shard_id": range(m),
            "centroid": [c.tolist() for c in model.clusterCenters()],
        }
    )
    centroids = emb.sparkSession.createDataFrame(centroids_pdf)
    with_dist = pred.alias("p").join(F.broadcast(centroids), "shard_id").select(
        F.col(id_col),
        "shard_id",
        l2_distance(vec_col, "centroid").alias("dist"),
    )
    return with_dist, centroids, model


def write_sharded(
    assignments: DataFrame,
    emb: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sq8_ranges: tuple[list[float], list[float]] | None = None,
    pq_codebooks: list[list[list[float]]] | None = None,
    opq_rotation: list[list[float]] | None = None,
    binary_thresholds: list[float] | None = None,
) -> None:
    """S7/S9 analog: build the sharded layout — ``write_shards``, then
    the assignment histogram ``distribution/`` (``_write_distribution``,
    the reference's distribution CSV, written once when it shards).
    ``distribution/`` describes the build only: compaction rewrites the
    shards with ``write_shards`` and leaves none, where a copied one
    would report stale sizes."""
    read_schema = write_shards(
        assignments, emb, path,
        id_col=id_col, vec_col=vec_col,
        sq8_ranges=sq8_ranges, pq_codebooks=pq_codebooks,
        opq_rotation=opq_rotation, binary_thresholds=binary_thresholds,
    )
    _write_distribution(assignments.sparkSession, path, read_schema)


def _write_distribution(spark, path: str, read_schema: StructType) -> None:
    """``{path}/distribution/``: the per-shard size and median distance
    (``shard_histogram``) of the shards just written, as CSV — two Spark
    jobs. Read back from the layout, not the assignment lineage:
    ``assignments`` is typically an uncached mapInArrow / KMeans plan,
    and re-collecting it here silently re-ran the whole assignment a
    second time (measured: a full extra 20M-row BLAS pass at m = 10⁴).
    Reading back shard_id+dist is a 2-column pruned scan of what
    actually landed — with the EXPLICIT schema ``write_shards``
    returned, so an all-deleted (zero-file) layout yields an empty
    histogram instead of an inference error."""
    shard_histogram(
        spark.read.schema(read_schema)
        .option("basePath", f"{path}/shards")
        .parquet(f"{path}/shards")
        .select("shard_id", "dist")
    ).write.mode("overwrite").csv(f"{path}/distribution", header=True)


def write_shards(
    assignments: DataFrame,
    emb: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sq8_ranges: tuple[list[float], list[float]] | None = None,
    pq_codebooks: list[list[list[float]]] | None = None,
    opq_rotation: list[list[float]] | None = None,
    binary_thresholds: list[float] | None = None,
) -> StructType:
    """Persist the shards of a layout — ``partitionBy(shard_id)``
    parquet of (id, vec, dist[, codes]) plus the codec sidecars and the
    schema sidecar — and return the schema a read of the shards infers.
    Partition pruning then makes a probe of T shards read only T
    directories, the Spark-native replacement for per-shard HNSW files.

    ``assignments`` that already carry ``vec_col`` (the
    ``extra_cols=[vec_col]`` pattern) skip the join-back on ``emb`` —
    at 20M rows that join is a full self-shuffle for data the
    assignment projection already had in hand.

    Rows are hash-clustered by shard into ``defaultParallelism`` tasks
    before the partitioned write, so each shard directory gets ONE
    file. Without it every scan task writes a file into every shard
    directory it sees: 64 files for 32 shards from 2 tasks, and at
    m = 10⁴ and hundreds of tasks millions of tiny files (the classic
    dynamic-partition-write explosion). Each task writes ~m/parallelism
    shards.

    Schemas it already holds are not inferred again: the schema
    sidecar, the read-side schema memo and the returned schema (which
    ``_write_distribution`` reads back with) all use the schema of the
    rows it wrote."""
    with_vec = (
        assignments
        if vec_col in assignments.columns
        else assignments.join(emb.select(id_col, vec_col), id_col)
    )
    # sq8_ranges: (mins, maxs) from operators.pq.train_sq8 — adds an
    # SQ8 `codes` column (array<smallint>; parquet dictionary-encodes
    # the ≤256 distinct values to ~1 byte/dim on disk vs 4 for float32)
    # next to the raw vectors and persists the ranges at
    # {path}/sq8_ranges.parquet (the build-index --sq8 sidecar
    # convention). A search then scans ONLY the codes column for
    # candidate scoring (parquet column pruning = ~4× less IO on the
    # dominant pass) and touches the raw column just for the top-k·rf
    # rerank fetch. With codes present the in-file sort switches from
    # dist to id_col so the rerank's bounded id-In pushdown gets
    # parquet row-group/page skipping — point fetches instead of a
    # probed-shard raw rescan.
    if sq8_ranges is not None:
        from big_ann_spark.operators.pq import sq8_encode_col

        mins, maxs = sq8_ranges
        with_vec = with_vec.withColumn(
            "codes", sq8_encode_col(vec_col, mins, maxs).cast("array<smallint>")
        )
        assignments.sparkSession.createDataFrame(
            [([float(v) for v in mins], [float(v) for v in maxs])],
            "mins array<double>, maxs array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/sq8_ranges.parquet")
    # pq_codebooks: the IVFADC-with-refine layout — a `pq_codes` column
    # (m sub-codes; parquet dictionary-encodes the tiny alphabet) next
    # to the raw vectors, codebooks persisted as the sidecar. The
    # candidate pass then scans pq_codes ONLY (~d·4/m× less IO than
    # raw) and the rerank point-fetches raw rows, like SQ8 but one
    # compression decade further. Composes with sq8_ranges (both code
    # columns land; search picks by codec). The codes come from the
    # numpy kernel upserts encode with (pq.with_pq_codes_arrow), after
    # the optional OPQ rotation.
    if pq_codebooks is not None:
        from big_ann_spark.operators.pq import (
            save_pq_codebooks,
            save_rotation,
            with_pq_codes_arrow,
        )

        with_vec = with_pq_codes_arrow(
            with_vec, pq_codebooks, vec_col=vec_col, rotation=opq_rotation
        )
        save_pq_codebooks(
            assignments.sparkSession, f"{path}/pq_codebooks.parquet", pq_codebooks
        )
        if opq_rotation is not None:
            save_rotation(
                assignments.sparkSession,
                f"{path}/opq_rotation.parquet",
                opq_rotation,
            )
    # binary_thresholds (operators.pq.train_binary): the 32× tier —
    # packed sign-bit `bcodes` next to the raw vectors; the candidate
    # pass is an XOR+popcount Hamming scan of d-bit words.
    if binary_thresholds is not None:
        from big_ann_spark.operators.pq import binarize_col

        with_vec = with_vec.withColumn(
            "bcodes", binarize_col(vec_col, binary_thresholds)
        )
        assignments.sparkSession.createDataFrame(
            [([float(t) for t in binary_thresholds],)],
            "thresholds array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{path}/binary_thresholds.parquet"
        )
    spark = assignments.sparkSession
    (
        with_vec.repartition(spark.sparkContext.defaultParallelism, "shard_id")
        # sorted-by-distance within each shard file: scans that re-rank
        # candidates read them best-first, and parquet row-group stats
        # on dist enable range pruning — the "pre-partitioned + sorted
        # parquet" index artifact (SURVEY §1.1 ANN-index row).
        # shard_id must lead the sort: the dynamic-partition writer
        # requires ordering by the partition column and would otherwise
        # insert its own non-stable sort, destroying the dist order.
        # (With SQ8 codes: sort by id instead — rerank point fetches
        # need id row-group stats; see the sq8_ranges comment above.)
        .sortWithinPartitions(
            "shard_id",
            id_col
            if (
                sq8_ranges is not None
                or pq_codebooks is not None
                or binary_thresholds is not None
            )
            else "dist",
        )
        .write.partitionBy("shard_id")
        .mode("overwrite")
        .parquet(f"{path}/shards")
    )
    # the schema a read of the written layout infers: the data columns
    # as written, then shard_id as an int partition column, all nullable
    read_schema = _nullable(
        StructType(
            [f for f in with_vec.schema.fields if f.name != "shard_id"]
            + [StructField("shard_id", IntegerType())]
        )
    )
    # schema sidecar: a PARTITIONED write of an EMPTY row set lands no
    # files at all (no partition values exist), which makes the shards
    # dir schema-uninferable — legal state when compaction folds a
    # layout whose every vector was deleted. One empty parquet file
    # carries the row schema, written from the driver (no Spark job).
    from pyspark.sql.pandas.types import to_arrow_schema

    from big_ann_spark.operators import oplayout

    oplayout.write_table_dir(
        spark, to_arrow_schema(with_vec.schema).empty_table(),
        f"{path}/schema.parquet", with_vec.schema,
    )
    # the read schema, filed in the layout memo under the key and token
    # open_probed_shards computes: the first search of a fresh layout
    # then runs no footer-inference job. A same-path rebuild (e.g. a
    # codec change) first forgets the layout's older entries, its
    # memoized live frames and its shards schema: the mtime alone is
    # unsafe on filesystems with 1 s mtime granularity.
    oplayout.forget(path)
    base = f"{path}/shards"
    oplayout.forget(base)
    fs, jbase = oplayout.fs_path(spark, base)
    if fs.exists(jbase):
        mtime = int(fs.getFileStatus(jbase).getModificationTime())
        oplayout.memo((base, "schema"), mtime, lambda: read_schema)
    return read_schema


def _nullable(dt):
    """``dt`` with every field and element nullable — how a file read
    reports a schema."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    return dt


# --------------------------------------------------------------- KANNDI

def nearest_admitting_seed(remaining: DataFrame, seeds: DataFrame, d: float) -> DataFrame:
    """One KANNDI round's point→seed selection as a ZERO-exchange
    projection: the S seeds collapse to one broadcast
    array row; per point, candidates = struct(pin, dist, shard_id) per
    seed, filtered to admitting (dist ≤ d, or the seed's own row —
    pin=0 ranks a seed first into its own shard), argmin via
    ``array_min``. Struct comparison is field-ordered, so the winner
    matches a rank-1 window over ((id≠seed) asc, dist asc, shard_id
    asc) exactly — without hash-exchanging the N×S scored rows by
    point id every round. Points with no admitting seed are dropped
    (they stay in the remainder). Plan-pinned zero-exchange in
    tests/test_plans.py."""
    seeds_arr = seeds.agg(
        F.collect_list(
            F.struct(
                F.col("shard_id").alias("_sid"),
                F.col("seed_id").alias("_sed"),
                F.col("seed_vec").alias("_sv"),
            )
        ).alias("_seeds")
    )
    cands = F.transform(
        F.col("_seeds"),
        lambda s: F.struct(
            (F.col("id") != s["_sed"]).cast("int").alias("pin"),
            l2_distance(F.col("vec"), s["_sv"]).alias("dist"),
            s["_sid"].alias("shard_id"),
        ),
    )
    admitting = F.filter(
        cands, lambda c: (c["dist"] <= F.lit(d)) | (c["pin"] == 0)
    )
    return (
        remaining.crossJoin(F.broadcast(seeds_arr))
        .select("id", F.array_min(admitting).alias("_b"))
        .filter(F.col("_b").isNotNull())
        .select(
            "id",
            F.col("_b")["dist"].alias("dist"),
            F.col("_b")["shard_id"].alias("shard_id"),
        )
    )


@dataclass
class KanndiResult:
    assignments: DataFrame  # (id, shard_id, dist)  shard_id -2 = special
    threshold: float
    capacity: int


def kanndi_shard(
    emb: DataFrame,
    m: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_n: int = 200,
    saturation_min: float = 0.75,
    dist_multiplier: float = 2.0,
    seeds_per_round: int = 4,
    seeding: str = "id_order",
) -> KanndiResult:
    """KANNDI distance-based sharding, Spark-native reformulation.

    Invariants preserved from ``shard_by_distance.py``:
    - threshold d = median pairwise distance of a sample (``:39-78``),
      doubled (DIST_MULTIPLIER=2, ``:30,178-182``) when a round starves;
    - capacity = N // M (``:99``); a shard closes when full (``:244``);
    - an under-capacity shard is kept only at ≥75% saturation
      (``:32,293-312``), otherwise its points go to the special
      overflow shard (id -2, mirroring ``:313-358``; the reference
      stores centroids as shard -1, ``:365-370``);
    - seeds are the first unassigned point in id order (``:103-111``).

    Each round opens ``seeds_per_round`` shards at once (the reference
    also fills many shards per batch pass): S seeds = first S unassigned
    ids → ``nearest_admitting_seed`` (a zero-exchange broadcast-argmin
    projection; seeds pinned to their own shard) → per-shard capacity cap (W5: row_number over distance ≤
    capacity — the ONE genuinely-windowed step, bounded by capacity) →
    anti-join. ⌈M/S⌉ rounds of bounded DataFrame jobs, no per-point
    Python loop, one exchange per round instead of three. Exact output equality with the reference is
    impossible (its admission depends on scan order); invariants +
    routing recall are the contract (SURVEY §7.5).

    ``seeding``: ``"id_order"`` (default, the
    reference's rule — first unassigned ids) vs ``"ivf"``, which
    reuses the graph build's cell machinery for the seeding pass: one
    small MLlib KMeans (``seeds_per_round`` cells, hash-spread sample)
    attaches a ``_cell`` to every point up front, and each round's
    seeds are the min-id REMAINING point per cell. Id-order seeds are
    adjacent in id space and often adjacent in vector space, so their
    admission regions overlap and wide rounds starve (points admit to
    one of several near-identical seeds and the rest under-fill, spill
    to the special shard); cell-spread seeds keep regions disjoint, so
    ``seeds_per_round`` can grow toward M and the loop collapses from
    ⌈M/4⌉ full-remaining passes to a handful — same invariants
    (capacity cap, saturation → special shard, threshold doubling),
    different seed rule, measured wall drop in SCALE.md ("KANNDI
    seeding").
    """
    if seeding not in ("id_order", "ivf"):
        raise ValueError(f"seeding must be 'id_order' or 'ivf', got {seeding!r}")
    spark = emb.sparkSession
    pts = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")).cache()
    n = pts.count()
    capacity = max(n // m, 1)
    if seeding == "ivf":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        cell_k = min(seeds_per_round, m)
        # hash-spread fit sample (a plain limit takes whole partitions
        # and biases the cells — the measured PQ-codebook pitfall)
        samp = pts.filter(
            F.pmod(F.xxhash64(F.col("id")), F.lit(max(1, n // 20_000))) == 0
        )
        feat = samp.select(
            array_to_vector(F.col("vec").cast("array<double>")).alias("features")
        )
        cmodel = KMeans(k=cell_k, seed=RANDOM_SEED, maxIter=10).fit(feat)
        cells = spark.createDataFrame(
            [
                (i, [float(x) for x in c])
                for i, c in enumerate(cmodel.clusterCenters())
            ],
            "_cell int, centroid array<float>",
        )
        # zero-exchange argmin pass; vec rides along, so no join-back
        # is needed
        pts = assign_to_centroids(
            pts, cells, id_col="id", vec_col="vec",
            centroid_id="_cell", extra_cols=["vec"],
        ).select("id", "vec", "_cell").cache()

    sample = pts.filter(F.col("id") < sample_n)
    d = median_pairwise_distance(sample, id_col="id", vec_col="vec").collect()[0][0]

    remaining = pts
    assigned_parts = []
    next_shard = 0
    round_i = 0
    while next_shard < m:
        s = min(seeds_per_round, m - next_shard)
        if seeding == "ivf":
            # one seed per cell (min remaining id), cells with no
            # remaining points contribute none; partial-agg shuffle of
            # (cell, row) pairs only — no full sort
            seed_rows = (
                remaining.groupBy("_cell")
                .agg(F.min_by(F.struct("id", "vec"), "id").alias("_s"))
                .select(F.col("_s.id").alias("id"), F.col("_s.vec").alias("vec"))
                .orderBy("id")
                .limit(s)
                .collect()
            )
        else:
            seed_rows = remaining.orderBy("id").limit(s).collect()
        if not seed_rows:
            break
        seeds = spark.createDataFrame(
            [(next_shard + i, r["id"], r["vec"]) for i, r in enumerate(seed_rows)],
            "shard_id int, seed_id long, seed_vec array<float>",
        )
        best = nearest_admitting_seed(remaining, seeds, d)
        w_cap = Window.partitionBy("shard_id").orderBy("dist", "id")
        admitted_all = (
            best.withColumn("_rn", F.row_number().over(w_cap))
            .filter(F.col("_rn") <= capacity)
            .drop("_rn")
            .select("id", "dist", "shard_id")
        ).cache()
        sizes = {
            r["shard_id"]: r["n"]
            for r in admitted_all.groupBy("shard_id").agg(F.count("*").alias("n")).collect()
        }
        starving = [
            sid
            for sid, cnt in sizes.items()
            if cnt < capacity * saturation_min and sid >= 0
        ]
        if starving:
            # starving shards: relax threshold like the reference and
            # re-route their points to the special shard
            d = d * dist_multiplier
            admitted_all = admitted_all.withColumn(
                "shard_id",
                F.when(F.col("shard_id").isin(starving), F.lit(-2)).otherwise(
                    F.col("shard_id")
                ),
            )
        assigned_parts.append(admitted_all)
        remaining = remaining.join(admitted_all.select("id"), "id", "leftanti")
        round_i += 1
        if round_i % 3 == 0:
            # truncate the anti-join lineage chain: at M=100 shards the
            # plan otherwise compounds ~25 nested anti-joins and the
            # cache tower keeps every intermediate alive
            remaining = remaining.localCheckpoint(eager=True)
        else:
            remaining = remaining.cache()
        next_shard += s

    leftover = remaining.select(
        "id", F.lit(float("nan")).alias("dist"), F.lit(-2).alias("shard_id")
    )
    assignments = leftover
    for part in assigned_parts:
        assignments = assignments.unionByName(part)
    return KanndiResult(
        assignments=assignments.select("id", "shard_id", "dist"),
        threshold=d,
        capacity=capacity,
    )
