"""Statistics operator semantics: VIF inverse property, Anderson-
Darling vs direct numpy and vs its per-group pandas reference, KS
matrix vs single-pair oracle query, buddy ordering, approx-distinct
error bounds."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from big_ann_spark.catalog import load_table
from big_ann_spark.operators.stats import (
    anderson_darling_per_dim,
    buddy_order,
    correlation_matrix,
    dim_table,
    ks_matrix,
    vif_matrix,
)


def test_vif_times_corr_is_identity(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    cor = correlation_matrix(emb, dims=6)
    vif = vif_matrix(emb, dims=6)
    np.testing.assert_allclose(vif @ cor, np.eye(6), atol=1e-8)


def test_anderson_darling_matches_numpy(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    d = dim_table(emb).filter(F.col("pos") < 2)
    got = {r["pos"]: r["a2"] for r in anderson_darling_per_dim(d).collect()}
    vals = (
        d.filter(F.col("pos") == 0).select("val").toPandas()["val"].to_numpy()
    )
    x = np.sort(vals)
    n = len(x)
    z = (x - x.mean()) / x.std(ddof=1)
    cdf = np.clip(
        np.array([0.5 * (1 + math.erf(v / math.sqrt(2))) for v in z]), 1e-15, 1 - 1e-15
    )
    i = np.arange(1, n + 1)
    want = -n - np.sum((2 * i - 1) * (np.log(cdf) + np.log(1 - cdf[::-1]))) / n
    assert abs(got[0] - want) < 1e-9


def _ad_stat_per_group(dist):
    """The reference A² kernel: one pandas group per dimension through
    ``applyInPandas``, the implementation ``anderson_darling_per_dim``
    had before it became ``collect_list`` plus one ``mapInArrow``."""

    def ad_stat(pdf: pd.DataFrame) -> pd.DataFrame:
        x = np.sort(pdf["val"].to_numpy(dtype=np.float64))
        n = len(x)
        mu, sigma = x.mean(), x.std(ddof=1)
        z = (x - mu) / sigma
        if dist == "logistic":
            lse = np.array([math.log(1.0 + math.exp(-v)) for v in z])
            ln_cdf = -lse
            ln_sf = -z - lse
        else:
            cdf = np.array([0.5 * (1.0 + math.erf(v / math.sqrt(2.0))) for v in z])
            cdf = np.clip(cdf, 1e-15, 1 - 1e-15)
            ln_cdf = np.log(cdf)
            ln_sf = np.log(1 - cdf)
        i = np.arange(1, n + 1)
        a2 = -n - np.sum((2 * i - 1) * (ln_cdf + ln_sf[::-1])) / n
        a2_corr = a2 * (1 + 0.75 / n + 2.25 / n**2)
        return pd.DataFrame({"pos": [pdf["pos"].iloc[0]], "a2": [a2], "a2_corrected": [a2_corr]})

    return ad_stat


def _ad_by_pos(df):
    return {r["pos"]: (r["a2"], r["a2_corrected"]) for r in df.collect()}


@pytest.fixture(scope="module")
def ad_dims(spark):
    """(pos, val) over three partitions: a Gaussian dimension, one with
    heavy ties, a constant one (σ = 0, so A² is NaN, which Spark reads
    as null) and a skewed one."""
    rng = np.random.default_rng(11)
    n = 700
    cols = [
        rng.normal(size=n) * 3 + 1,
        np.round(rng.normal(size=n), 1),
        np.full(n, 2.5),
        rng.exponential(size=n),
    ]
    rows = [(p, float(v)) for p, c in enumerate(cols) for v in c]
    df = spark.createDataFrame(rows, "pos int, val double").repartition(3)
    assert df.rdd.getNumPartitions() == 3
    return df


@pytest.mark.parametrize("dist", ["normal", "logistic"])
def test_anderson_darling_equals_per_group_reference(spark, ad_dims, dist):
    """Bit-equal to the per-group pandas kernel it replaced: the same
    numpy expressions over the same sorted values, the same libm call
    per element."""
    got = _ad_by_pos(anderson_darling_per_dim(ad_dims, dist=dist))
    want = _ad_by_pos(
        ad_dims.groupBy("pos").applyInPandas(
            _ad_stat_per_group(dist), schema="pos int, a2 double, a2_corrected double"
        )
    )
    assert got.keys() == {0, 1, 2, 3}
    assert got[2] == (None, None)  # the constant dimension
    assert got == want


def test_anderson_darling_null_value_makes_dimension_null(spark, ad_dims):
    """``collect_list`` drops nulls; a dimension holding one still reads
    null, as in the per-group reference (where the null became a NaN
    value), and the other dimensions are unaffected."""
    df = ad_dims.unionByName(spark.createDataFrame([(1, None)], "pos int, val double"))
    got = _ad_by_pos(anderson_darling_per_dim(df))
    want = _ad_by_pos(
        df.groupBy("pos").applyInPandas(
            _ad_stat_per_group("normal"), schema="pos int, a2 double, a2_corrected double"
        )
    )
    assert got[1] == (None, None)
    assert got == want


def test_anderson_darling_plan_is_partial_aggregate_then_arrow(spark, sf_dir):
    """Plan pin: one array row per (map task, dimension) crosses the one
    shuffle (an aggregate on both sides of it), and the statistic runs
    in one MapInArrow, not one pandas group per dimension."""
    from big_ann_spark.plans.inspect import count_exchanges, executed_plan

    emb = load_table(spark, sf_dir, "embeddings")
    df = anderson_darling_per_dim(dim_table(emb).filter(F.col("pos") < 2))
    plan = executed_plan(df)  # before any action: the one plan AQE starts from
    assert len(df.collect()) == 2
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert plan.count("MapInArrow") == 1, plan
    assert count_exchanges(plan) == 1, plan
    exch = plan.index("Exchange ")
    assert "Aggregate" in plan[:exch] and "Aggregate" in plan[exch:], plan


def test_ks_matrix_agrees_with_single_pair_query(spark, sf_dir):
    from big_ann_spark.queries import load_all

    emb = load_table(spark, sf_dir, "embeddings")
    mat = {
        (r["pos_i"], r["pos_j"]): r["ks_stat"]
        for r in ks_matrix(emb, dims=3).collect()
    }
    assert len(mat) == 3
    single = (
        load_all()["dim_pair_stats"]
        .fn(spark, sf_dir)
        .filter("variant = 'ks_ranged'")
        .collect()[0]["stat"]
    )
    assert abs(mat[(0, 1)] - single) < 1e-9


def _numpy_ks(a: np.ndarray, b: np.ndarray) -> float:
    """Two-sample KS D by definition: the largest ECDF gap over every
    observed value, ties counted with <=."""
    allv = np.concatenate([a, b])
    ca = (a[None, :] <= allv[:, None]).sum(axis=1) / len(a)
    cb = (b[None, :] <= allv[:, None]).sum(axis=1) / len(b)
    return float(np.max(np.abs(ca - cb)))


def test_ks_matrix_exact_against_numpy(spark):
    """Every pair's D equals a direct numpy two-sample KS, including
    ties inside a dimension, values shared across dimensions, a
    constant dimension, and a single pair (dims=2)."""
    rng = np.random.default_rng(7)
    n, d = 120, 5
    x = rng.normal(size=(n, d)).round(3)
    x[:, 1] = rng.integers(0, 4, size=n)  # heavy ties within dim 1
    x[:, 2] = x[:, 1][rng.permutation(n)]  # same values as dim 1, shuffled
    x[: n // 2, 3] = x[: n // 2, 0]  # half of dim 3 shared with dim 0
    x[:, 4] = 0.5  # constant dimension
    emb = spark.createDataFrame(
        [(i, [float(v) for v in x[i]] + [9.0]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    for dims in (d, 2):
        got = {
            (r["pos_i"], r["pos_j"]): r["ks_stat"]
            for r in ks_matrix(emb, dims=dims).collect()
        }
        want = {
            (i, j): _numpy_ks(x[:, i], x[:, j])
            for i in range(dims)
            for j in range(i + 1, dims)
        }
        assert got.keys() == want.keys()
        for p, v in want.items():
            assert abs(got[p] - v) < 1e-12, (p, got[p], v)


def test_ks_matrix_plan_is_one_shuffle_without_join_or_window(spark, sf_dir):
    """Plan pin: the pairs come from a literal partner array, not a
    join, and the ECDF is a per-pair sort in Python, not a Window. The
    grouping keys' repartition is the only shuffle."""
    from big_ann_spark.plans.inspect import count_exchanges, executed_plan

    emb = load_table(spark, sf_dir, "embeddings")
    df = ks_matrix(emb, dims=4)
    plan = executed_plan(df)  # before any action: the one plan AQE starts from
    assert len(df.collect()) == 6
    assert "FlatMapGroupsInPandas" in plan
    assert count_exchanges(plan) == 1, plan
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan


def test_ks_two_sample_raises_on_empty_group(spark):
    import pytest as _pytest

    from big_ann_spark.operators.stats import ks_two_sample

    v = spark.createDataFrame([(1.0, 0), (2.0, 0)], "x double, grp int")
    with _pytest.raises(ValueError, match="non-empty"):
        ks_two_sample(v)


def test_ks_two_sample_matches_numpy_on_ties(spark):
    """On a tie-heavy table (200 rows, 7 distinct values) the
    range-binned ECDF gives the numpy two-sample statistic exactly:
    integer counts over the same double divisors."""
    from big_ann_spark.operators.stats import ks_two_sample
    from tests.oracle_utils import ks_two_sample_numpy

    rows = [(float(i % 7) * 0.5 - 1.0, i % 2) for i in range(200)]
    v = spark.createDataFrame(rows, "x double, grp int")
    got = ks_two_sample(v, n_bins=13).collect()[0]["ks_stat"]
    want = ks_two_sample_numpy([x for x, g in rows if g == 0], [x for x, g in rows if g == 1])
    assert got == want


def test_buddy_order_is_permutation_and_greedy():
    w = np.array(
        [
            [1.0, 0.9, 0.1, 0.2],
            [0.9, 1.0, 0.3, 0.1],
            [0.1, 0.3, 1.0, 0.8],
            [0.2, 0.1, 0.8, 1.0],
        ]
    )
    order = buddy_order(w)
    assert sorted(order) == [0, 1, 2, 3]
    # strongest edge (0,1) leads the ordering
    assert order[0] == 0 and 1 in order[:3]


def test_approx_distinct_within_tolerance(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    approx = l.agg(F.approx_count_distinct("l_partkey").alias("a")).collect()[0]["a"]
    exact = l.select("l_partkey").distinct().count()
    assert abs(approx - exact) / exact < 0.05


def test_correlation_matrix_equals_numpy_across_partitions(spark):
    """Several partitions, so the driver merges partials, and data far
    from zero, so the merge must stay stable: a sum-of-squares form is
    off by about 7e-7 (relative) on these data."""
    rng = np.random.default_rng(7)
    x = rng.normal(size=(3000, 5)) @ rng.normal(size=(5, 5)) + 1e4
    emb = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(x)], "vec_id long, embedding array<double>"
    ).repartition(3)
    assert emb.rdd.getNumPartitions() == 3
    got = correlation_matrix(emb, dims=5)
    np.testing.assert_allclose(got, np.corrcoef(x, rowvar=False), rtol=1e-9)
