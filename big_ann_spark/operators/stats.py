"""Dataset-statistics operators beyond plain aggregates: correlation
matrix + VIF (A8/A9), Anderson-Darling normality (A11), all-pairs
Kolmogorov-Smirnov (A10), and the greedy "buddy" dimension ordering
(W4) used for PQ reordering.

Reference: ``multicollinearity.py:92-131`` (df.corr → np.linalg.inv),
``variance.py:109`` (scipy.stats.anderson per dim),
``komolgorovsmirnov.py:90-113`` (sequential all-pairs kstest with an
``assert sample_size <= 100000`` cost guard),
``network_blended.py:83-106`` / ``network_mutlicollinearity.py:108-119``
(edges sorted by weight → greedy node/neighbor emission).

Scale split (SURVEY §2.4 notes): the N-dimension of every statistic is
distributed (one scan, map-side partial aggs); the d×d matrices are
tiny (d ≤ a few hundred) and are finished driver-side — inverting a
64×64 matrix is not a distributed op. The KS all-pairs matrix is one
scan and one shuffle into one Arrow group per dimension pair, where the
reference is a sequential Python double loop. Anderson-Darling gathers
each dimension's values into one array row (a partially aggregated
``collect_list``) and evaluates every row in one ``mapInArrow``.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dim_table(emb: DataFrame, *, vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """(id, pos, val) exploded dimension view, val as double."""
    return emb.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "val"),
    )


def _merge_moments(a, b):
    """Pairwise (Chan et al.) merge of two (n, mean, centred Gram)
    partials: stable however far the data sit from zero."""
    if a is None:
        return b
    na, ma, ga = a
    nb, mb, gb = b
    n = na + nb
    delta = mb - ma
    return n, ma + delta * (nb / n), ga + gb + np.outer(delta, delta) * (na * nb / n)


def correlation_matrix(emb: DataFrame, dims: int, *, vec_col: str = "embedding") -> np.ndarray:
    """A8: d×d Pearson correlation matrix of the first ``dims`` values
    of ``vec_col``, in one Spark job. Each Arrow batch becomes an
    (n, mean, centred Gram) partial, merged pairwise inside its task;
    the driver merges one partial per task (d² doubles each) and
    normalises. As in MLlib's Pearson correlation, a dimension whose
    variance is ≤ 1e-12 correlates as NaN with every other one, and
    the diagonal is 1."""
    import pyarrow as pa

    def moments(batches):
        acc = None
        for batch in batches:
            col = batch.column(0)
            if len(col) == 0:
                continue
            x = col.flatten().to_numpy(zero_copy_only=False)
            # slice() leaves at most dims values per row
            if col.null_count or x.size != len(col) * dims:
                raise ValueError(f"correlation_matrix: every {vec_col} needs {dims} values")
            x = x.reshape(-1, dims)
            mean = x.mean(axis=0)
            c = x - mean
            acc = _merge_moments(acc, (len(x), mean, c.T @ c))
        if acc is not None:
            yield pa.RecordBatch.from_pydict(
                {"n": [acc[0]], "mean": [acc[1].tobytes()], "gram": [acc[2].tobytes()]}
            )

    rows = (
        emb.select(F.slice(F.col(vec_col).cast("array<double>"), 1, dims).alias("v"))
        .mapInArrow(moments, schema="n long, mean binary, gram binary")
        .collect()
    )
    acc = None
    for r in rows:
        part = (r["n"], np.frombuffer(r["mean"]), np.frombuffer(r["gram"]).reshape(dims, dims))
        acc = _merge_moments(acc, part)
    if acc is None or acc[0] < 2:
        raise ValueError("correlation_matrix needs at least 2 rows")
    n, _mean, gram = acc
    var = np.diag(gram) / (n - 1)
    std = np.where(var <= 1e-12, 0.0, np.sqrt(var))
    denom = np.outer(std, std)
    cor = np.divide(gram / (n - 1), denom, out=np.full_like(gram, np.nan), where=denom > 0)
    np.fill_diagonal(cor, 1.0)
    return cor


def vif_matrix(emb: DataFrame, dims: int, *, vec_col: str = "embedding") -> np.ndarray:
    """A9: multicollinearity (VIF) matrix = inverse of the correlation
    matrix (reference ``multicollinearity.py:96-97``). The inverse runs
    on the driver — d×d only."""
    cor = correlation_matrix(emb, dims, vec_col=vec_col)
    return np.linalg.inv(cor)


def _libm(f, x: np.ndarray) -> np.ndarray:
    """``f``, a ``math`` function, applied element by element: libm, as
    DuckDB's ``ln``/``exp`` call it (numpy's SIMD log can differ by 1
    ulp)."""
    return np.frompyfunc(f, 1, 1)(x).astype(np.float64)


def _ad_stat(x: np.ndarray, dist: str) -> tuple[float, float]:
    """(A², corrected A²) of one dimension's values ``x``:
    A² = -n - (1/n) Σ (2i-1)[ln F(z_i) + ln(1-F(z_{n+1-i}))] over the
    sorted, standardised values, F through libm (``_libm``)."""
    x = np.sort(x)
    n = len(x)
    mu, sigma = x.mean(), x.std(ddof=1)
    z = (x - mu) / sigma
    if dist == "logistic":
        # mirror the oracle term-for-term: ln F = -ln(1+e^-z),
        # ln(1-F) = -z - ln(1+e^-z)
        lse = _libm(math.log, 1.0 + _libm(math.exp, -z))
        ln_cdf = -lse
        ln_sf = -z - lse
    else:
        # normal CDF via erf; clip to avoid log(0)
        cdf = np.clip(0.5 * (1.0 + _libm(math.erf, z / math.sqrt(2.0))), 1e-15, 1 - 1e-15)
        ln_cdf = np.log(cdf)
        ln_sf = np.log(1 - cdf)
    i = np.arange(1, n + 1)
    a2 = -n - np.sum((2 * i - 1) * (ln_cdf + ln_sf[::-1])) / n
    # small-sample correction for estimated params (Stephens 1974)
    return a2, a2 * (1 + 0.75 / n + 2.25 / n**2)


def anderson_darling_per_dim(dim_df: DataFrame, *, dist: str = "normal") -> DataFrame:
    """A11: Anderson-Darling statistic per dimension of a ``(pos, val)``
    table → ``(pos, a2, a2_corrected)`` (reference ``variance.py:109``
    via scipy.stats.anderson; scipy is absent here, so ``_ad_stat``
    computes the statistic directly).

    One aggregate and one ``mapInArrow``: ``collect_list`` gathers each
    dimension's values into one array row, with map-side partial
    aggregation, so the shuffle carries one array per (map task,
    dimension), not one row per value. The kernel then sorts each array
    and evaluates A². Memory contract: one dimension's N values sit in
    one array row on one Python task.

    A statistic that is NaN — a constant dimension (σ = 0), or one
    holding a null value — is returned as null, as a pandas group
    returns it. ``collect_list`` drops nulls, so the aggregate counts
    them beside it and such a dimension reads null, not the statistic
    of its other values.

    ``dist="normal"``: F = Φ via math.erf — the reference's normality
    test, verified against a direct numpy evaluation in tests.
    ``dist="logistic"``: F = 1/(1+e^(-z)) — same machinery, but every
    term is elementary (exp/ln), so the DuckDB oracle reproduces the
    whole statistic; this is the driver-checked variant."""
    import pyarrow as pa

    def ad(batches):
        for rb in batches:
            stats = np.array([
                (np.nan, np.nan) if n_null else _ad_stat(vals.values.to_numpy(zero_copy_only=False), dist)
                for vals, n_null in zip(rb.column("vals"), rb.column("n_null").to_numpy())
            ]).reshape(-1, 2)
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column("pos").cast(pa.int32()),
                    # NaN → null, as a pandas group's output converts
                    pa.array(stats[:, 0], from_pandas=True),
                    pa.array(stats[:, 1], from_pandas=True),
                ],
                names=["pos", "a2", "a2_corrected"],
            )

    return (
        dim_df.groupBy("pos")
        .agg(
            F.collect_list(F.col("val").cast("double")).alias("vals"),
            (F.count(F.lit(1)) - F.count("val")).alias("n_null"),
        )
        .mapInArrow(ad, schema="pos int, a2 double, a2_corrected double")
    )


def ks_two_sample(
    v: DataFrame,
    *,
    x_col: str = "x",
    grp_col: str = "grp",
    n_bins: int = 64,
) -> DataFrame:
    """A10: two-sample KS statistic over a tagged value table
    (x, grp∈{0,1}) → one row (ks_stat). D = sup_x |ECDF_0 - ECDF_1|,
    ECDFs via RANGE windows so tied values count correctly. The
    running counts decompose into per-value-bin RANGE windows plus
    driver-prefix carries (operators.ranged), so the ECDF never sorts
    on a single task; the counts are integers, so D is exact.

    The group totals are collected first: an empty group raises
    ``ValueError`` instead of dividing to a NULL statistic."""
    from pyspark.sql import Window

    from big_ann_spark.operators.ranged import add_value_bins, bin_prefix_table

    counts = v.agg(
        F.count(F.when(F.col(grp_col) == 0, 1)).cast("double").alias("n0"),
        F.count(F.when(F.col(grp_col) == 1, 1)).cast("double").alias("n1"),
    ).collect()[0]
    if not counts["n0"] or not counts["n1"]:
        raise ValueError(
            f"ks_two_sample: both groups must be non-empty "
            f"(n0={int(counts['n0'])}, n1={int(counts['n1'])})"
        )
    is0 = F.when(F.col(grp_col) == 0, 1).otherwise(0)
    is1 = F.when(F.col(grp_col) == 1, 1).otherwise(0)
    b = add_value_bins(v, x_col, n_bins)
    carry = bin_prefix_table(b, {"c0": (F.sum(is0), "sum"), "c1": (F.sum(is1), "sum")})
    w_loc = Window.partitionBy("_bin").orderBy(x_col).rangeBetween(Window.unboundedPreceding, 0)
    e = b.join(F.broadcast(carry), "_bin", "left").select(
        (F.sum(is0).over(w_loc) + F.coalesce(F.col("_pfx_c0"), F.lit(0))).alias("c0"),
        (F.sum(is1).over(w_loc) + F.coalesce(F.col("_pfx_c1"), F.lit(0))).alias("c1"),
    )
    return e.agg(
        F.max(
            F.abs(F.col("c0") / F.lit(counts["n0"]) - F.col("c1") / F.lit(counts["n1"]))
        ).alias("ks_stat")
    )


def ks_matrix(emb: DataFrame, dims: int, *, vec_col: str = "embedding") -> DataFrame:
    """A10 at scale: two-sample KS statistic for every dimension pair
    (i < j) → (pos_i, pos_j, ks_stat). The reference runs d²/2
    sequential scipy calls under a 100k-row assert
    (``komolgorovsmirnov.py:84,90-113``).

    One scan, one shuffle, no join: each value of ``slice(vec, 1,
    dims)`` explodes straight to its d-1 pairs through a literal
    per-position partner array, tagged ``side = pos > partner`` (0 =
    the pair's lower dimension). One Arrow group task per pair then
    sorts both samples and takes max |ΔECDF| over ``searchsorted(...,
    side="right")`` counts — integer counts, so D is exact and ties
    count correctly.

    Memory contract: each pair group holds 2·N doubles (16·N bytes,
    both dimensions' values) in one Python task. The reference guarded
    the same cost with ``N ≤ 100k``."""
    others = F.array(*[
        F.array(*[F.lit(q) for q in range(dims) if q != p]) for p in range(dims)
    ])
    vals = emb.select(
        F.posexplode(F.slice(F.col(vec_col).cast("array<double>"), 1, dims)).alias("pos", "val")
    )
    tagged = vals.select(
        "val", "pos", F.explode(F.element_at(others, F.col("pos") + 1)).alias("other")
    ).select(
        F.least("pos", "other").alias("pos_i"),
        F.greatest("pos", "other").alias("pos_j"),
        "val",
        (F.col("pos") > F.col("other")).cast("int").alias("side"),
    )

    def ks(pdf: pd.DataFrame) -> pd.DataFrame:
        a = np.sort(pdf.loc[pdf["side"] == 0, "val"].to_numpy())
        b = np.sort(pdf.loc[pdf["side"] == 1, "val"].to_numpy())
        allv = np.concatenate([a, b])
        ca = np.searchsorted(a, allv, side="right") / len(a)
        cb = np.searchsorted(b, allv, side="right") / len(b)
        return pd.DataFrame(
            {
                "pos_i": [pdf["pos_i"].iloc[0]],
                "pos_j": [pdf["pos_j"].iloc[0]],
                "ks_stat": [float(np.max(np.abs(ca - cb)))],
            }
        )

    # the pair groups are byte-light but CPU-dense: byte-based AQE
    # coalescing would pack all d²/2 sorts onto ONE Python task. An
    # explicit repartition on the grouping keys is exempt from
    # coalescing and already satisfies the groupBy's distribution, so
    # it is the plan's only Exchange.
    n_pairs = dims * (dims - 1) // 2
    n_tasks = max(1, min(n_pairs, emb.sparkSession.sparkContext.defaultParallelism))
    return (
        tagged.repartition(n_tasks, "pos_i", "pos_j")
        .groupBy("pos_i", "pos_j")
        .applyInPandas(ks, schema="pos_i int, pos_j int, ks_stat double")
    )


def buddy_order(weights: np.ndarray) -> list[int]:
    """W4: greedy weighted-edge "buddy" ordering (reference
    ``network_blended.py:93-104``): edges sorted by |weight| descending;
    emit a node then its unvisited neighbors by descending weight;
    append missing dims at the end. Driver-side — ≤ d² edges."""
    d = weights.shape[0]
    edges = sorted(
        ((abs(weights[i, j]), i, j) for i in range(d) for j in range(d) if i < j),
        key=lambda t: (-t[0], t[1], t[2]),
    )
    order: list[int] = []
    seen: set[int] = set()
    for _w, i, j in edges:
        for node in (i, j):
            if node not in seen:
                seen.add(node)
                order.append(node)
                nbrs = sorted(
                    (k for k in range(d) if k != node and k not in seen),
                    key=lambda k: (-abs(weights[node, k]), k),
                )
                for k in nbrs[:2]:
                    if k not in seen:
                        seen.add(k)
                        order.append(k)
    for k in range(d):
        if k not in seen:
            order.append(k)
    return order
