"""Product quantization (PQ) for compressed ANN — a training-data-
pipeline extension beyond the reference's IVF/KANNDI sharding (public
construction: Jégou, Douze, Schmid, "Product Quantization for Nearest
Neighbor Search", TPAMI 2011).

Why it matters at 100 TB: a d=64 float32 embedding is 256 bytes; PQ
with m=8 subvectors × k=256 codes stores 8 bytes — a 32× smaller scan
for the brute-force/IVF candidate pass. The asymmetric-distance
computation (ADC) replaces the d-dim arithmetic per row with m table
lookups.

Spark-first shape:
- codebooks are tiny (m·k·(d/m) floats) → trained via MLlib KMeans per
  subspace, broadcast everywhere;
- encoding is one ``mapInArrow`` pass of a numpy kernel (argmin per
  subvector over the broadcast codebooks, lowest code on ties), zero
  exchanges;
- ADC search precomputes per-query lookup tables driver-side (queries
  are the contractual small side, as in exact_knn), broadcasts them,
  and scores each encoded row with ``zip_with(lut, codes) → sum`` —
  whole-stage-codegen arithmetic over 8-byte codes, no Python in the
  scan.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints must resolve
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_ann_spark.operators.topk import top_k_per_group


def train_pq(
    emb: DataFrame,
    *,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 505,
    max_iter: int = 10,
) -> list[list[list[float]]]:
    """Train per-subspace codebooks: split d into m contiguous
    subvectors, KMeans(k) each (MLlib, distributed fit; the returned
    codebooks are m·k·(d/m) floats — driver-size by construction).
    Returns ``codebooks[j][c] -> centroid (d/m floats)``."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    sub = dim // m
    codebooks: list[list[list[float]]] = []
    for j in range(m):
        feat = emb.select(
            array_to_vector(
                F.slice(F.col(vec_col).cast("array<double>"), j * sub + 1, sub)
            ).alias("features")
        )
        model = KMeans(k=k, seed=seed + j, maxIter=max_iter).fit(feat)
        codebooks.append([list(map(float, c)) for c in model.clusterCenters()])
    return codebooks


def pq_encode(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>[m]): the codes of :func:`with_pq_codes_arrow`."""
    return with_pq_codes_arrow(
        emb.select(id_col, vec_col), codebooks, vec_col=vec_col, out_col="codes"
    ).select(F.col(id_col).alias("id"), F.col("codes").cast("array<int>"))


def save_rotation(spark, path: str, R: list[list[float]]) -> None:
    """Persist a d×d rotation as (i, row) rows — d² floats, tiny."""
    rows = [(i, [float(x) for x in r]) for i, r in enumerate(R)]
    (
        spark.createDataFrame(rows, "i int, row array<double>")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(path)
    )


def load_rotation(spark, path: str) -> list[list[float]]:
    """The rotation ``save_rotation`` wrote, read once per state of its
    files (``oplayout.read_dir_memo``)."""
    from big_ann_spark.operators.oplayout import read_dir_memo

    def read():
        rows = spark.read.schema("i int, row array<double>").parquet(path).collect()
        return [list(r["row"]) for r in sorted(rows, key=lambda r: r["i"])]

    return read_dir_memo(spark, path, "opq_rotation", read)


def load_sq8_ranges(spark, path: str) -> tuple[list[float], list[float]]:
    """The (mins, maxs) ``write_sharded`` wrote for ``sq8_ranges``, read
    once per state of its files, with the schema it was written with."""
    from big_ann_spark.operators.oplayout import read_dir_memo

    def read():
        row = spark.read.schema("mins array<double>, maxs array<double>").parquet(
            path
        ).collect()[0]
        return list(row["mins"]), list(row["maxs"])

    return read_dir_memo(spark, path, "sq8_ranges", read)


def load_binary_thresholds(spark, path: str) -> list[float]:
    """The per-dimension thresholds ``write_sharded`` wrote for
    ``binary_thresholds``, read once per state of its files, with the
    schema it was written with."""
    from big_ann_spark.operators.oplayout import read_dir_memo

    def read():
        row = spark.read.schema("thresholds array<double>").parquet(path).collect()[0]
        return list(row["thresholds"])

    return read_dir_memo(spark, path, "binary_thresholds", read)


def with_pq_codes_arrow(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    *,
    vec_col: str = "embedding",
    out_col: str = "pq_codes",
    rotation: list[list[float]] | None = None,
) -> DataFrame:
    """``df`` plus the PQ code column, computed by a numpy Arrow
    kernel (:func:`pq_encode_matrix`) — the one PQ encoder: builds,
    compactions and :func:`pq_encode` run it, upserts call the kernel
    directly. It does the arithmetic of a
    Spark ``array_min(struct(dist, code))`` fold (per-dim ``(a−b)²``
    accumulated LEFT-TO-RIGHT over the subvector, and first-occurrence
    argmin == lowest-code tie-break), so codes are bit-equal to that
    expression (parity-tested), which made a 2M PQ build 5× slower
    (SCALE.md, "PQ build cost"). All other columns pass through zero-copy
    (``RecordBatch.append_column``).

    ``rotation``: an OPQ orthogonal d×d matrix applied (one BLAS
    matmul per batch) BEFORE the subspace split — the codebooks are
    then in the rotated space."""
    import numpy as np
    from pyspark.sql.types import ArrayType, ShortType, StructField, StructType

    sc = df.sparkSession.sparkContext
    bc = sc.broadcast(
        (
            [np.asarray(sub, dtype=np.float64) for sub in codebooks],
            None if rotation is None else np.asarray(rotation, dtype=np.float64),
        )
    )

    def part(batches):
        from big_ann_spark.functions.arrowio import list_col_matrix, matrix_list_col

        books, R = bc.value
        for rb in batches:
            if rb.num_rows == 0:
                continue
            X = list_col_matrix(rb, vec_col, np.float64)
            yield rb.append_column(out_col, matrix_list_col(pq_encode_matrix(X, books, R)))

    # a FRESH StructType — StructType.add mutates in place, and
    # df.schema hands back the DataFrame's own cached object
    schema = StructType(
        list(df.schema.fields) + [StructField(out_col, ArrayType(ShortType()))]
    )
    return df.mapInArrow(part, schema=schema)


def pq_encode_matrix(X, books, rotation=None):
    """(n, m) int16 PQ codes of the float64 rows of ``X`` — the kernel of
    :func:`with_pq_codes_arrow`; ``books`` holds one (k, d/m) float64
    array per subspace, ``rotation`` an optional d×d OPQ matrix."""
    import numpy as np

    if rotation is not None:
        X = X @ rotation
    n, m = len(X), len(books)
    sub_len = books[0].shape[1]
    codes = np.empty((n, m), dtype=np.int16)
    for j in range(m):
        S = X[:, j * sub_len:(j + 1) * sub_len]
        C = books[j]
        d2 = np.zeros((n, C.shape[0]), dtype=np.float64)
        # identical order to the fold: += over t, left to right
        for t in range(sub_len):
            diff = S[:, t:t + 1] - C[None, :, t]
            d2 += diff * diff
        codes[:, j] = np.argmin(d2, axis=1)
    return codes


def save_pq_codebooks(spark, path: str, codebooks: list[list[list[float]]]) -> None:
    """Persist codebooks as (j, c, centroid) rows — m·k rows, tiny."""
    rows = [
        (j, c, [float(x) for x in cent])
        for j, sub in enumerate(codebooks)
        for c, cent in enumerate(sub)
    ]
    (
        spark.createDataFrame(rows, "j int, c int, centroid array<double>")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(path)
    )


def load_pq_codebooks(spark, path: str) -> list[list[list[float]]]:
    """The codebooks ``save_pq_codebooks`` wrote, read once per state of
    their files (``oplayout.read_dir_memo``) with the schema they were
    written with: no footer-inference job."""
    from big_ann_spark.operators.oplayout import read_dir_memo

    def read():
        rows = spark.read.schema("j int, c int, centroid array<double>").parquet(
            path
        ).collect()
        m = max(r["j"] for r in rows) + 1
        out: list[list[list[float]]] = [[] for _ in range(m)]
        for j in range(m):
            sub = sorted((r for r in rows if r["j"] == j), key=lambda r: r["c"])
            out[j] = [list(r["centroid"]) for r in sub]
        return out

    return read_dir_memo(spark, path, "pq_codebooks", read)


def pq_lut_rows(
    queries_rows, codebooks: list[list[list[float]]]
) -> list[tuple[int, list[list[float]]]]:
    """Per-query ADC lookup tables (m × k squared subvector distances),
    driver-computed — queries are the contractual small side. Shared
    by the in-memory and from-disk ADC scans so their arithmetic is
    identical."""
    import numpy as np

    m = len(codebooks)
    sub = len(codebooks[0][0])
    out = []
    for qid, qv in queries_rows:
        qv = np.asarray(qv, dtype=np.float64)
        lut = [
            [
                float(((qv[j * sub:(j + 1) * sub] - np.asarray(c)) ** 2).sum())
                for c in codebooks[j]
            ]
            for j in range(m)
        ]
        out.append((int(qid), lut))
    return out


def pq_adc_search(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    *,
    query_id: str = "qid",
    query_vec: str = "qvec",
) -> DataFrame:
    """Asymmetric-distance top-k: per query, the m×k lookup table of
    squared subvector distances is computed driver-side (queries are
    the contractual small side, like exact_knn's) and
    broadcast; each encoded row scores with
    ``sum_j lut[j][codes[j]]`` — pure array arithmetic over the 8-byte
    codes, candidate scan never touches the original vectors.
    Returns (qid, neighbor_id, adc_dist, rank) — approximate distances
    (quantization error), re-rank the top-k' against raw vectors when
    exactness matters."""
    qrows = [(r[0], r[1]) for r in queries.select(query_id, query_vec).collect()]
    spark = queries.sparkSession
    luts = spark.createDataFrame(
        pq_lut_rows(qrows, codebooks), "qid long, lut array<array<double>>"
    )
    scored = codes.crossJoin(F.broadcast(luts)).select(
        "qid",
        F.col("id").alias("neighbor_id"),
        F.aggregate(
            F.zip_with(
                F.col("lut"), F.col("codes"), lambda l, c: F.element_at(l, c + 1)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("adc_dist"),
    )
    return top_k_per_group(
        scored, ["qid"], [F.col("adc_dist").asc(), F.col("neighbor_id").asc()], k
    )


def ivf_pq_search(
    queries: DataFrame,
    sharded_codes: DataFrame,
    centroids: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    nprobe: int = 2,
    *,
    query_id: str = "qid",
    query_vec: str = "qvec",
) -> DataFrame:
    """IVF + PQ composed — the standard billion-scale ANN recipe: the
    driver router of every IVF search (``ann._route_on_driver``) picks
    ``nprobe`` shards per query, then ADC scores only those shards'
    8-byte code rows against the broadcast per-query lookup tables.
    ``sharded_codes`` = pq_encode output joined with shard assignment:
    (id, codes, shard_id); under a partitionBy(shard_id) layout the
    ``shard_id IN`` filter of the probed shards is partition-pruned IO
    on a table that is already ~32× smaller than the raw vectors."""
    from big_ann_spark.operators.ann import _probed, _route_on_driver

    routing = _route_on_driver(
        queries, centroids, nprobe, query_id=query_id, query_vec=query_vec
    )
    spark = queries.sparkSession
    luts = spark.createDataFrame(
        pq_lut_rows(zip(routing.qids.tolist(), routing.qmat), codebooks),
        "qid long, lut array<array<double>>",
    )
    pairs = [(int(routing.qids[i]), s) for s, qi in routing.shard_to_q.items() for i in qi]
    probes = spark.createDataFrame(pairs, "qid long, shard_id int").join(
        F.broadcast(luts), "qid"
    )
    sharded_codes = _probed(sharded_codes, routing)
    cands = probes.join(sharded_codes, "shard_id").select(
        "qid",
        F.col("id").alias("neighbor_id"),
        F.aggregate(
            F.zip_with(
                F.col("lut"), F.col("codes"), lambda l, c: F.element_at(l, c + 1)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("adc_dist"),
    )
    return top_k_per_group(
        cands, ["qid"], [F.col("adc_dist").asc(), F.col("neighbor_id").asc()], k
    )


# ----------------------------------------------------------------- OPQ

def _lloyd(X, C, n_iter: int = 8):
    """Warm-started Lloyd for OPQ's inner loop (driver-side on a
    bounded sample — the same place FAISS trains OPQ). Starting from
    the given centroids, each assignment and each mean update is
    non-increasing in Σ‖x − C[a(x)]‖², so chaining calls across OPQ
    iterations keeps the whole objective monotone (relocating an
    empty cluster's centroid is free — it has no assigned points).
    Returns (C, assignments)."""
    import numpy as np

    from big_ann_spark.operators.knn import nearest_centroids

    C = C.copy()
    codes = np.arange(len(C))
    for _ in range(n_iter):
        top, dist = nearest_centroids(X, codes, C, 1)
        a = top[:, 0]
        # r-th empty cluster takes the r-th farthest point — a single
        # shared argmax would collapse every empty cluster onto the
        # same point, producing duplicate centroids and wasted codes
        far_order = np.argsort(-dist[:, 0])
        n_relocated = 0
        for c in range(len(C)):
            members = X[a == c]
            if len(members):
                C[c] = members.mean(axis=0)
            else:
                C[c] = X[far_order[min(n_relocated, len(X) - 1)]]
                n_relocated += 1
    return C, nearest_centroids(X, codes, C, 1)[0][:, 0]


def train_opq(
    emb: DataFrame,
    *,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    sample_size: int = 20000,
    n_iter: int = 8,
    kmeans_iter: int = 8,
    warm_iter: int = 8,
    seed: int = 505,
    init_books="mllib",
) -> tuple[list[list[float]], list[list[list[float]]], float, float]:
    """Optimized Product Quantization — learn an orthogonal rotation R
    so that a contiguous subspace split of X·R quantizes with lower
    distortion than raw order (non-parametric OPQ: Ge, He, Ke, Sun,
    "Optimized Product Quantization", CVPR 2013 — public construction;
    strictly generalizes BuddyPQ's permutation, since permutation
    matrices are a subset of orthogonal matrices).

    Training runs driver-side on a deterministic bounded sample taken
    in HASH order (``orderBy(xxhash64(id))``) — an id-prefix sample
    (``orderBy(id)``) covers whatever clusters the low ids happen to
    hold, and a biased sample was MEASURED to invert the OPQ-vs-PQ
    recall ordering at 200k (SCALE.md, training-sample caveat). Codebooks and R are
    model parameters of size m·k·(d/m) + d² floats, and sample-training
    them is the standard practice at any data scale; only the
    *application* of the model (rotate + encode + ADC) touches the
    full table, and those are distributed (`rotate_vectors`,
    `pq_encode`).

    Alternating minimization from R = I: (1) fix codes/books, R ←
    Procrustes solution UVᵀ of svd(XᵀQ); (2) fix R, warm-started Lloyd
    per subspace. Both steps are non-increasing in ‖XR − Q‖², and the
    loop starts FROM the R = I fit, so final distortion ≤ the plain-PQ
    (same trainer, R = I) distortion by construction — that invariant
    is what tests assert, and it is iteration-count-independent:
    ``warm_iter`` (the Lloyd steps per OUTER round) keeps each warm
    round monotone at any depth. MEASURED (SCALE.md): warm_iter=2
    trains in 27 s but INVERTED the serving-recall ordering at 200k
    (OPQ 0.305 < PQ 0.315 — sample distortion matched, recall did
    not), so the default stays at the full 8: same training dynamics
    as always, 46 s after the gemm-form assignment fix (was 294 s).
    Lower it only with a recall A/B on your data.

    ``init_books``: where the R = I baseline fit starts. The DEFAULT
    ``"mllib"`` trains :func:`train_pq` (MLlib kmeans‖) internally and
    warm-starts from it — a 200-query A/B showed the serving
    layout inherits the init gap (random-pick-init OPQ 0.28–0.30
    recall vs MLlib PQ 0.33), and making the good init the default
    means no call site can silently regress. With a warm start, final
    distortion ≤ the init books' sample distortion by monotonicity, so
    an OPQ layout can only improve on the PQ layout it started from.
    Pass existing codebooks to reuse an already-trained fit (skips the
    internal MLlib pass; geometry must match m/k), or ``None`` for the
    legacy seeded random-pick init (A/B baselines only).
    Returns (R row-major, codebooks, plain_mse, opq_mse)."""
    import numpy as np

    if isinstance(init_books, str):
        if init_books != "mllib":
            raise ValueError(f"init_books: unknown mode {init_books!r}")
        init_books = train_pq(
            emb, m=m, k=k, vec_col=vec_col, dim=dim, seed=seed
        )
    if init_books is not None:
        # <= k, not == k: MLlib KMeans returns fewer centers than
        # asked on tiny/degenerate corpora — a smaller book is a valid
        # warm start (codes are per-book); MORE than k is a caller mixup
        if len(init_books) != m or any(len(b) > k for b in init_books):
            raise ValueError(
                f"init_books geometry mismatch: expected {m} books of "
                f"<= {k} codes, got {len(init_books)} of "
                f"{sorted({len(b) for b in init_books})}"
            )
        if any(len(c) != dim // m for b in init_books for c in b[:1]):
            raise ValueError(
                f"init_books sub-vector length != dim/m = {dim // m}"
            )

    rows = (
        emb.orderBy(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(1_000_003)),
            F.col(id_col),
        )
        .limit(sample_size)
        .select(F.col(vec_col).cast("array<double>"))
        .collect()
    )
    X = np.asarray([r[0] for r in rows], dtype=np.float64)
    if X.size == 0:
        raise ValueError(
            "train_opq: the input has no rows — a codec cannot be "
            "trained on an empty table"
        )
    assert X.shape[1] == dim, (X.shape, dim)
    sub = dim // m
    rng = np.random.default_rng(seed)

    def refit(Y, books, steps):
        """Warm-started per-subspace Lloyd; fresh seeded init if None."""
        out, Q = [], np.empty_like(Y)
        for j in range(m):
            S = Y[:, j * sub:(j + 1) * sub]
            C0 = (
                books[j]
                if books is not None
                else S[rng.choice(len(S), size=min(k, len(S)), replace=False)]
            )
            C, a = _lloyd(S, C0, n_iter=steps)
            out.append(C)
            Q[:, j * sub:(j + 1) * sub] = C[a]
        return out, Q

    # R = I fit: the plain-PQ baseline AND the loop's starting state
    # (warm from init_books when given — see the docstring)
    init = (
        None
        if init_books is None
        else [np.asarray(b, dtype=np.float64) for b in init_books]
    )
    books, Q = refit(X, init, kmeans_iter)
    plain_mse = float(((X - Q) ** 2).sum(axis=1).mean())

    R = np.eye(dim)
    for _ in range(n_iter):
        U, _, Vt = np.linalg.svd(X.T @ Q)
        R = U @ Vt
        books, Q = refit(X @ R, books, warm_iter)
    opq_mse = float(((X @ R - Q) ** 2).sum(axis=1).mean())
    return (
        [[float(x) for x in row] for row in R],
        [[[float(x) for x in c] for c in b] for b in books],
        plain_mse,
        opq_mse,
    )


def rotate_vectors(
    df: DataFrame, R: list[list[float]], *, vec_col: str = "embedding"
) -> DataFrame:
    """Apply a d×d rotation to a vector column at scale: one Arrow-
    batched BLAS matmul per batch (`pandas_udf`). A codegen expression
    would need d² multiply-adds per row (4096 terms at d=64 — far past
    the whole-stage-codegen method budget measured in ROUND_NOTES);
    a learned dense matmul is the canonical justified-UDF case. R is
    d² floats (32 KB at d=64) — fixed-size, independent of row or
    query count, so closure capture is fine (contrast the query
    matrices, which scale with Q and ship via sc.broadcast)."""
    import numpy as np
    from pyspark.sql.types import ArrayType, DoubleType

    Rmat = np.asarray(R, dtype=np.float64)

    @F.pandas_udf(ArrayType(DoubleType()))
    def _rot(s: pd.Series) -> pd.Series:
        M = np.asarray([np.asarray(v, dtype=np.float64) for v in s])
        out = M @ Rmat
        return pd.Series(list(out))

    return df.withColumn(vec_col, _rot(F.col(vec_col).cast("array<double>")))


def opq_recall_ab(
    emb: DataFrame,
    queries: DataFrame,
    *,
    dims: int = 64,
    m: int = 8,
    k_codes: int = 16,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "qid",
    query_vec: str = "qvec",
    sample_size: int = 20000,
    seed: int = 505,
) -> dict:
    """OPQ vs plain-PQ A/B on the same data: train both (shared exact
    ground truth — rotations preserve L2 distances), encode, ADC
    search, recall@k. Returns {"plain_recall", "opq_recall",
    "plain_mse", "opq_mse"}; opq_mse ≤ plain_mse always holds (see
    train_opq), recall usually follows on correlated data."""
    from big_ann_spark.operators.knn import exact_knn, recall_at_k

    exact = exact_knn(
        queries, emb, k=k, query_id=query_id, query_vec=query_vec,
        base_id=id_col, base_vec=vec_col,
    ).select("qid", "neighbor_id")

    def adc_recall(base: DataFrame, qs: DataFrame, books) -> float:
        codes = pq_encode(base, books, id_col=id_col, vec_col=vec_col)
        found = pq_adc_search(qs, codes, books, k=k, query_id=query_id, query_vec=query_vec)
        r = recall_at_k(
            found.select(F.col(query_id).alias("qid"), "neighbor_id"), exact, k
        ).collect()[0][0]
        return float(r)

    plain_books = train_pq(emb, m=m, k=k_codes, vec_col=vec_col, dim=dims, seed=seed)
    plain = adc_recall(emb, queries, plain_books)

    # warm-start from the SAME books the plain side serves: the A/B is
    # then rotation-on vs rotation-off with one trainer (no trainer
    # confound), and the one MLlib fit is shared, not repeated
    R, opq_books, plain_mse, opq_mse = train_opq(
        emb, m=m, k=k_codes, vec_col=vec_col, id_col=id_col, dim=dims,
        sample_size=sample_size, seed=seed, init_books=plain_books,
    )
    emb_r = rotate_vectors(emb, R, vec_col=vec_col)
    q_r = rotate_vectors(queries, R, vec_col=query_vec)
    opq = adc_recall(emb_r, q_r, opq_books)
    return {
        "plain_recall": plain,
        "opq_recall": opq,
        "plain_mse": plain_mse,
        "opq_mse": opq_mse,
    }


# ------------------------------------------------------------- BuddyPQ

def permute_dims(df: DataFrame, order: list[int], *, vec_col: str = "embedding") -> DataFrame:
    """P2: reorder a vector column's dimensions by ``order`` (a pure
    projection — ``array(element_at(v, order[0]+1), ...)``)."""
    v = F.col(vec_col)
    permuted = F.array(*[F.element_at(v, i + 1) for i in order])
    return df.withColumn(vec_col, permuted)


def blended_buddy_order(emb: DataFrame, dims: int, *, vec_col: str = "embedding") -> list[int]:
    """The reference's blended buddy-dimension ordering
    (``network_blended.py:79-106``): weight matrix A = multicollinearity
    (VIF = inverse correlation, ``multicollinearity.py:96-97``) +
    (1 − two-sample KS per dim pair), then the greedy highest-edge
    buddy walk (stats.buddy_order). Dimensions that are mutually
    predictive end up adjacent, so a contiguous PQ subspace split puts
    correlated dims in the same codebook — the reorder that feeds
    BuddyPQ below."""
    import numpy as np

    from big_ann_spark.operators.stats import buddy_order, ks_matrix, vif_matrix

    vif = vif_matrix(emb, dims, vec_col=vec_col)
    K = np.zeros((dims, dims))
    for r in ks_matrix(emb, dims, vec_col=vec_col).collect():
        K[r["pos_i"], r["pos_j"]] = K[r["pos_j"], r["pos_i"]] = r["ks_stat"]
    A = vif + (1.0 - K)
    return buddy_order(A)


def buddy_pq_recall_ab(
    emb: DataFrame,
    queries: DataFrame,
    *,
    dims: int = 64,
    m: int = 8,
    k_codes: int = 16,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "qid",
    query_vec: str = "qvec",
    order: list[int] | None = None,
) -> dict:
    """BuddyPQ end-to-end A/B (the reference's headline composition,
    ``README.md:5-7``: buddy reorder feeding PQ "improves Recall@10 by
    12%"): train/encode/ADC-search PQ twice — once on raw dimension
    order, once on the blended buddy order — and score both against
    exact kNN ground truth. Returns ``{"order", "plain_recall",
    "buddy_recall"}``. The permutation is a pure projection on both
    sides (distances are permutation-invariant, so ground truth is
    computed once on raw vectors)."""
    from big_ann_spark.operators.knn import exact_knn, recall_at_k

    if order is None:
        order = blended_buddy_order(emb, dims, vec_col=vec_col)
    exact = exact_knn(
        queries, emb, k=k, query_id=query_id, query_vec=query_vec,
        base_id=id_col, base_vec=vec_col,
    ).select("qid", "neighbor_id")

    def adc_recall(base: DataFrame, qs: DataFrame) -> float:
        books = train_pq(base, m=m, k=k_codes, vec_col=vec_col, dim=dims)
        codes = pq_encode(base, books, id_col=id_col, vec_col=vec_col)
        found = pq_adc_search(qs, codes, books, k=k, query_id=query_id, query_vec=query_vec)
        r = recall_at_k(
            found.select(F.col(query_id).alias("qid"), "neighbor_id"),
            exact,
            k,
        ).collect()[0][0]
        return float(r)

    plain = adc_recall(emb, queries)
    emb_p = permute_dims(emb, order, vec_col=vec_col)
    q_p = permute_dims(queries, order, vec_col=query_vec)
    buddy = adc_recall(emb_p, q_p)
    return {"order": order, "plain_recall": plain, "buddy_recall": buddy}


def correlation_injected_view(
    emb: DataFrame, *, vec_col: str = "embedding", n_pairs: int = 8, mix: float = 0.9
) -> DataFrame:
    """Deterministic 2·n_pairs-dim correlation-injected view of an
    embedding table: dims 0..n_pairs−1 pass through; dim n_pairs+j =
    mix·dim(j) + (1−mix)·dim(n_pairs+j). This synthesizes the
    inter-dimension correlation structure BuddyPQ exploits — the
    driver's synthetic blobs have none (mean |off-diag r| ≈ 0.04, so
    no ordering can beat raw there) — while keeping each correlated
    pair (j, n_pairs+j) maximally separated in raw order, so a
    contiguous PQ subspace split always cuts it and the buddy reorder
    always heals it. Pure projection; same id column."""
    v = F.col(vec_col)
    mixed = F.array(
        *(
            [F.element_at(v, j + 1) for j in range(n_pairs)]
            + [
                F.element_at(v, j - n_pairs + 1) * mix
                + F.element_at(v, j + 1) * (1.0 - mix)
                for j in range(n_pairs, 2 * n_pairs)
            ]
        )
    )
    return emb.withColumn(vec_col, mixed.cast("array<double>"))


# ---- SQ8 scalar quantization (the FAISS ScalarQuantizer shape:
# per-dimension affine int8 codes — 4x smaller scans with near-exact
# recall; the cheap sibling of PQ for mildly-compressed tiers).


def train_sq8(
    df: DataFrame, *, vec_col: str = "embedding"
) -> tuple[list[float], list[float]]:
    """Per-dimension (min, max) ranges for SQ8 — ONE posexplode
    aggregate whose result is d rows (contractually tiny: d ≤ a few
    thousand), collected to the driver like every codebook here. The
    scan is map-side combined; nothing else moves."""
    rows = (
        df.select(
            F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "v")
        )
        .groupBy("pos")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        .collect()
    )
    by_pos = sorted(rows, key=lambda r: r["pos"])
    return [r["mn"] for r in by_pos], [r["mx"] for r in by_pos]


def _sq8_lits(vals: list[float]):
    return F.array(*[F.lit(float(v)) for v in vals])


def sq8_encode_col(
    vec_col, mins: list[float], maxs: list[float]
):
    """``array<int>`` SQ8 codes for a vector column: per-dim affine map
    to [0, 255], ``floor((x - mn) / (mx - mn) * 255)`` clipped —
    plain double arithmetic (identical left-to-right shape in the SQL
    oracle), constant-width dims (mx == mn) encode to 0. Pure
    projection over broadcast-literal ranges — codegen, zero
    exchanges, zero Python."""
    mn_a, mx_a = _sq8_lits(mins), _sq8_lits(maxs)
    col = vec_col if not isinstance(vec_col, str) else F.col(vec_col)
    return F.transform(
        col.cast("array<double>"),
        lambda x, i: F.when(
            F.element_at(mx_a, i + 1) == F.element_at(mn_a, i + 1),
            F.lit(0),
        )
        .otherwise(
            F.least(
                F.lit(255.0),
                F.greatest(
                    F.lit(0.0),
                    F.floor(
                        (x - F.element_at(mn_a, i + 1))
                        / (F.element_at(mx_a, i + 1) - F.element_at(mn_a, i + 1))
                        * 255
                    ),
                ),
            )
        )
        .cast("int"),
    )


def sq8_encode_matrix(X, mins: list[float], maxs: list[float]):
    """(n, d) int16 SQ8 codes of the float64 rows of ``X``: the
    arithmetic of :func:`sq8_encode_col` element for element (Spark's
    ``floor`` takes NaN to 0, so does this)."""
    import numpy as np

    mn, mx = np.asarray(mins, dtype=np.float64), np.asarray(maxs, dtype=np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        q = np.floor((X - mn) / (mx - mn) * 255)
    q = np.minimum(255.0, np.maximum(0.0, np.nan_to_num(q, nan=0.0)))
    return np.where(mx == mn, 0, q).astype(np.int16)


def sq8_decode_col(codes_col, mins: list[float], maxs: list[float]):
    """Reconstruct ``array<double>`` from SQ8 codes: bucket midpoint
    ``mn + (code + 0.5) * (mx - mn) / 255`` — max reconstruction error
    is half a bucket per dimension."""
    mn_a, mx_a = _sq8_lits(mins), _sq8_lits(maxs)
    col = codes_col if not isinstance(codes_col, str) else F.col(codes_col)
    return F.transform(
        col,
        lambda c, i: F.element_at(mn_a, i + 1)
        + (c.cast("double") + 0.5)
        * (F.element_at(mx_a, i + 1) - F.element_at(mn_a, i + 1))
        / 255,
    )


def sq8_knn(
    queries: DataFrame,
    codes: DataFrame,
    mins: list[float],
    maxs: list[float],
    k: int = 10,
    *,
    query_id: str = "qid",
    query_vec: str = "qvec",
    id_col: str = "id",
    codes_col: str = "codes",
    rerank_with: DataFrame | None = None,
    rerank_vec: str = "embedding",
    rerank_factor: int = 4,
) -> DataFrame:
    """Top-k L2 search over SQ8-compressed vectors: the decode is a
    pure projection fused into the code scan, so the STORED/scanned
    data is 4× smaller than raw float32 — the IO win that matters at
    100 TB — while arithmetic stays native codegen. Returns (qid,
    neighbor_id, dist, rank) with quantized distances (≤ half-bucket
    per-dim error); pass ``rerank_with`` (the raw vector table) to
    fetch ``rerank_factor·k`` quantized candidates and re-rank them
    exactly — candidates-only access to the raw vectors, the
    SQ-then-refine tier every FAISS deployment runs."""
    from big_ann_spark.functions.vector import l2_distance

    q = queries.select(
        F.col(query_id).alias("qid"), F.col(query_vec).alias("qvec")
    )
    decoded = sq8_decode_col(codes_col, mins, maxs)
    scored = codes.crossJoin(F.broadcast(q)).select(
        "qid",
        F.col(id_col).alias("neighbor_id"),
        l2_distance("qvec", decoded).alias("dist"),
    )
    kk = k * rerank_factor if rerank_with is not None else k
    cand = top_k_per_group(
        scored, ["qid"], [F.col("dist").asc(), F.col("neighbor_id").asc()], kk
    )
    if rerank_with is None:
        return cand
    raw = rerank_with.select(
        F.col(id_col).alias("neighbor_id"), F.col(rerank_vec).alias("_rv")
    )
    exact = (
        cand.drop("dist", "rank")
        .join(raw, "neighbor_id")
        .join(F.broadcast(q), "qid")
        .select(
            "qid",
            "neighbor_id",
            l2_distance("qvec", "_rv").alias("dist"),
        )
    )
    return top_k_per_group(
        exact, ["qid"], [F.col("dist").asc(), F.col("neighbor_id").asc()], k
    )


# ---------------------------------------------------------------------------
# Binary (sign-bit) quantization — the 32× tier below SQ8.
#
# Public construction: binary hashing / sign-random-projection descends
# from Charikar (STOC 2002) SimHash; thresholded per-dimension sign
# codes with Hamming scoring are the "binary quantization" tier in
# every large-scale vector system (FAISS IndexBinaryFlat shape). A
# d=64 float32 vector is 256 bytes; its sign code is d bits = 8 bytes.
# At 100 TB of raw vectors the binary scan reads ~3 TB — and the
# scoring op is XOR+popcount, the cheapest distance arithmetic there
# is. Recall is recovered by exact re-ranking a small candidate set,
# same two-tier contract as ``sq8_knn``.
#
# Threshold choice: per-dimension MIDRANGE (mn+mx)/2, not the mean —
# min/max carry no summation-order noise, so Spark and the DuckDB
# oracle derive bit-identical thresholds and therefore bit-identical
# codes (a mean would drift with aggregation order and could flip a
# bit on a value sitting at the boundary).
# ---------------------------------------------------------------------------

BINARY_WORD_BITS = 32  # bits packed per bigint word: 2^31 < 2^63 keeps
# every weight, partial sum, and the SQL mirror's `1::BIGINT << j`
# firmly inside non-negative signed-64 range in BOTH engines (packing
# 64 bits per word would put bit 63 on the sign bit, where two's-
# complement rendering and shift-overflow semantics diverge across
# engines).


def train_binary(df: DataFrame, *, vec_col: str = "embedding") -> list[float]:
    """Per-dimension midrange thresholds for sign-bit codes — one
    map-side-combined posexplode aggregate (the ``train_sq8`` scan),
    d tiny rows to the driver."""
    mins, maxs = train_sq8(df, vec_col=vec_col)
    return [(mn + mx) / 2 for mn, mx in zip(mins, maxs)]


def binarize_col(vec_col, thresholds: list[float], *, word_bits: int = BINARY_WORD_BITS):
    """``array<bigint>`` packed sign-bit code for a vector column:
    word ``w`` holds bits ``j`` for dims ``w·word_bits + j``, weight
    ``2^j``, bit set iff ``v[dim] > threshold[dim]``.

    Pure column expression over broadcast-literal thresholds — codegen,
    zero exchanges, zero Python. Built with higher-order lambdas (not a
    static unroll) so the expression tree stays O(1) in d and survives
    d = 1024+ without blowing the codegen budget. Out-of-range dims
    (d not a multiple of word_bits) read NULL via ``get`` and
    contribute 0."""
    thr = F.array(*[F.lit(float(t)) for t in thresholds])
    return binarize_col_lazy(vec_col, thr, len(thresholds), word_bits=word_bits)


def binarize_matrix(X, thresholds: list[float], *, word_bits: int = BINARY_WORD_BITS):
    """(n, words) int64 packed sign-bit codes of the float64 rows of
    ``X``: the bits and weights of :func:`binarize_col` (a NaN value,
    greater than every number in Spark's ordering, sets its bit)."""
    import numpy as np

    d = len(thresholds)
    n_words = (d + word_bits - 1) // word_bits
    bits = np.zeros((len(X), n_words * word_bits), dtype=np.int64)
    V = X[:, :d]
    bits[:, :d] = (V > np.asarray(thresholds, dtype=np.float64)) | np.isnan(V)
    weights = np.left_shift(np.int64(1), np.arange(word_bits, dtype=np.int64))
    return bits.reshape(len(X), n_words, word_bits) @ weights


def binarize_col_lazy(vec_col, thr_col, d: int, *, word_bits: int = BINARY_WORD_BITS):
    """``binarize_col`` with the per-dim thresholds read from an ARRAY
    COLUMN instead of driver literals: callers fold the midrange
    aggregate into the plan (one-row broadcast) rather than paying an
    eager ``train_binary`` collect job per query build. ``d`` must be
    passed since no literal list carries it."""
    col = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    v = col.cast("array<double>")
    thr = F.col(thr_col) if isinstance(thr_col, str) else thr_col
    n_words = (d + word_bits - 1) // word_bits
    w2 = F.array(*[F.lit(1 << j).cast("long") for j in range(word_bits)])
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_words - 1)),
        lambda w: F.aggregate(
            F.sequence(F.lit(0), F.lit(word_bits - 1)),
            F.lit(0).cast("long"),
            lambda acc, j: acc
            + F.when(
                F.get(v, w * word_bits + j) > F.get(thr, w * word_bits + j),
                F.get(w2, j),
            ).otherwise(F.lit(0).cast("long")),
        ),
    )


def midrange_thresholds_table(df: DataFrame, *, vec_col: str = "embedding") -> DataFrame:
    """ONE-row DataFrame holding the per-dim midrange threshold array
    (``_thr``) — the lazy twin of ``train_binary``: same min/max
    aggregate, the midrange computed in-plan ((mn+mx)/2 is a single
    IEEE double op on both engines), pos-ordered via a struct
    array_sort. Broadcast-crossJoin it and feed ``binarize_col_lazy``."""
    return (
        df.select(
            F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "v")
        )
        .groupBy("pos")
        .agg(((F.min("v") + F.max("v")) / 2).alias("t"))
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "t"))).alias("_st")
        )
        .select(F.transform("_st", lambda s: s["t"]).alias("_thr"))
    )


def hamming_distance(a, b):
    """Hamming distance between two packed-code columns:
    ``Σ_w popcount(a_w XOR b_w)`` — integer-exact, so oracle hashes
    can never drift."""
    ac = F.col(a) if isinstance(a, str) else a
    bc = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(ac, bc, lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def hamming_knn(
    queries: DataFrame,
    codes: DataFrame,
    k: int = 10,
    *,
    query_id: str = "qid",
    query_codes: str = "qcodes",
    id_col: str = "id",
    codes_col: str = "codes",
    exclude_self: bool = False,
    rerank_with: DataFrame | None = None,
    rerank_vec: str = "embedding",
    rerank_query_vec: str = "qvec",
    rerank_metric: str = "l2",
    rerank_factor: int = 4,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Top-k by Hamming distance over packed sign-bit codes
    (broadcast query codes × code scan, WindowGroupLimit top-k over
    32×-smaller data than the raw vectors).

    Returns (qid, neighbor_id, dist, rank) with ``dist`` the integer
    Hamming distance (as double, exact). Pass ``rerank_with`` — a
    table carrying BOTH the raw base vectors and, under
    ``rerank_query_vec``, raw query vectors joined by qid — to fetch
    ``rerank_factor·k`` Hamming candidates and re-rank them by exact
    L2 or cosine distance: candidates-only access to the raw vectors,
    the binary-then-refine tier.

    ``candidates``: a PRECOMPUTED Hamming top-K' table — the output of
    an earlier ``hamming_knn`` call over the SAME queries/codes/
    ``exclude_self`` with K' ≥ the K needed here (k, or
    ``k·rerank_factor`` when re-ranking). Row-number top-K of the same
    deterministic ordering nests, so ``rank ≤ K`` of the wider table IS
    the narrower result — a MATERIALIZED candidate table (persisted or
    checkpointed) makes the scoring crossJoin + window run once for a
    family of calls instead of per call; a lazy one still saves the
    construction round trips but each consumer re-derives the pass
    (filter pushdown specializes the WindowGroupLimit per branch, so
    the subplans never ReuseExchange)."""
    from big_ann_spark.functions.vector import cosine_similarity, l2_distance

    kk = k * rerank_factor if rerank_with is not None else k
    if candidates is not None:
        cand = candidates.filter(F.col("rank") <= kk)
    else:
        q = queries.select(
            F.col(query_id).alias("qid"), F.col(query_codes).alias("_qc")
        )
        scored = codes.crossJoin(F.broadcast(q)).select(
            "qid",
            F.col(id_col).alias("neighbor_id"),
            hamming_distance("_qc", codes_col).cast("double").alias("dist"),
        )
        if exclude_self:
            scored = scored.filter(F.col("neighbor_id") != F.col("qid"))
        cand = top_k_per_group(
            scored, ["qid"], [F.col("dist").asc(), F.col("neighbor_id").asc()], kk
        )
    if rerank_with is None:
        return cand
    raw = rerank_with.select(
        F.col(id_col).alias("neighbor_id"), F.col(rerank_vec).alias("_rv")
    )
    qraw = queries.select(
        F.col(query_id).alias("qid"), F.col(rerank_query_vec).alias("_qv")
    )
    exact_dist = (
        l2_distance("_qv", "_rv")
        if rerank_metric == "l2"
        else (1.0 - cosine_similarity("_qv", "_rv"))
    )
    exact = (
        cand.drop("dist", "rank")
        .join(raw, "neighbor_id")
        .join(F.broadcast(qraw), "qid")
        .select("qid", "neighbor_id", exact_dist.alias("dist"))
    )
    return top_k_per_group(
        exact, ["qid"], [F.col("dist").asc(), F.col("neighbor_id").asc()], k
    )
