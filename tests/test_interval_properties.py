"""Hypothesis property tests: interval merges vs a brute-force model.
Few examples (Spark jobs are slow); the model is an independent
pure-Python implementation of the half-open merge semantics."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from big_ann_spark.operators import intervals as iv

intervals_strategy = st.lists(
    st.tuples(st.integers(0, 50), st.integers(1, 15)).map(
        lambda t: (t[0], t[0] + t[1])
    ),
    min_size=1,
    max_size=12,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(intervals_strategy)
def test_merge_overlaps_matches_model(spark, rows):
    df = spark.createDataFrame(rows, "begin long, end long")
    got = sorted(map(tuple, iv.merge_overlaps(df, strict=True).collect()))
    # model: strict merge = union of maximal runs of truly-overlapping
    want = []
    for b, e in sorted(rows):
        if want and b < want[-1][1]:
            want[-1] = (want[-1][0], max(want[-1][1], e))
        else:
            want.append((b, e))
    assert got == sorted(want)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(intervals_strategy, st.integers(0, 5))
def test_merge_neighbors_matches_model(spark, rows, dist):
    df = spark.createDataFrame(rows, "begin long, end long")
    got = sorted(map(tuple, iv.merge_neighbors(df, dist).collect()))
    want = []
    for b, e in sorted(rows):
        if want and b <= want[-1][1] + dist:
            want[-1] = (want[-1][0], max(want[-1][1], e))
        else:
            want.append((b, e))
    assert got == sorted(want)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(intervals_strategy, st.integers(0, 60))
def test_point_query_matches_model(spark, rows, p):
    df = spark.createDataFrame(rows, "begin long, end long")
    pts = spark.createDataFrame([(p,)], "p long")
    got = sorted(
        map(tuple, iv.point_query(df, pts).select("begin", "end").collect())
    )
    want = sorted((b, e) for b, e in rows if b <= p < e)
    assert got == want


# ---- range-binned two-pass equivalence (VERDICT r1 §3: global windows)

def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_ranged_merge_overlaps_equivalence(spark, sf_dir):
    from big_ann_spark.operators import intervals as iv
    from big_ann_spark.queries.interval_queries import _intervals

    ivs = _intervals(spark, sf_dir).select("begin", "end")
    from pyspark.sql import functions as F

    for strict in (True, False):
        g = iv.merge_overlaps(ivs, strict=strict, data_agg=F.count("*").alias("n"))
        r = iv.merge_overlaps(
            ivs, strict=strict, data_agg=F.count("*").alias("n"), ranged=True, n_bins=7
        )
        assert _sorted_rows(g) == _sorted_rows(r), f"strict={strict}"


def test_ranged_merge_neighbors_equivalence(spark, sf_dir):
    from pyspark.sql import functions as F

    from big_ann_spark.operators import intervals as iv
    from big_ann_spark.queries.interval_queries import _intervals

    ivs = _intervals(spark, sf_dir).select("begin", "end")
    g = iv.merge_neighbors(ivs, distance=3, data_agg=F.count("*").alias("n"))
    r = iv.merge_neighbors(
        ivs, distance=3, data_agg=F.count("*").alias("n"), ranged=True, n_bins=5
    )
    assert _sorted_rows(g) == _sorted_rows(r)


def test_ranged_split_overlaps_equivalence(spark, sf_dir):
    from big_ann_spark.operators import intervals as iv
    from big_ann_spark.queries.interval_queries import _intervals

    ivs = _intervals(spark, sf_dir)
    g = iv.split_overlaps(ivs)
    r = iv.split_overlaps(ivs, ranged=True, n_bins=9)
    assert _sorted_rows(g) == _sorted_rows(r)


def test_ranged_ids_to_intervals_equivalence(spark, sf_dir):
    from pyspark.sql import functions as F

    from big_ann_spark.catalog import load_table
    from big_ann_spark.operators import intervals as iv

    ids = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 25)
        .select(F.col("event_id").alias("id"))
        .distinct()
    )
    g = iv.ids_to_intervals(ids)
    r = iv.ids_to_intervals(ids, ranged=True, n_bins=11)
    assert _sorted_rows(g) == _sorted_rows(r)


def test_partitioned_merge_overlaps(spark, sf_dir):
    """Per-key interval sets: merging within each key must equal
    merging each key's subset with the global form."""
    from pyspark.sql import functions as F

    from big_ann_spark.operators import intervals as iv
    from big_ann_spark.queries.interval_queries import _intervals

    ivs = _intervals(spark, sf_dir).withColumn("grp", F.col("data") % 3).select(
        "grp", "begin", "end"
    )
    per_key = iv.merge_overlaps(
        ivs, data_agg=F.count("*").alias("n"), partition_cols=["grp"]
    )
    for g in (0, 1, 2):
        subset = ivs.filter(F.col("grp") == g).select("begin", "end")
        expect = _sorted_rows(iv.merge_overlaps(subset, data_agg=F.count("*").alias("n")))
        got = _sorted_rows(per_key.filter(F.col("grp") == g).select("begin", "end", "n"))
        assert got == expect, f"grp={g}"


def test_ranged_ks_equivalence(spark, sf_dir):
    from pyspark.sql import functions as F

    from big_ann_spark.catalog import load_table
    from big_ann_spark.operators.stats import ks_two_sample
    from tests.oracle_utils import ks_two_sample_numpy

    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(F.col("embedding")[0].cast("double").alias("x"), F.lit(0).alias("grp")).union(
        emb.select(F.col("embedding")[1].cast("double").alias("x"), F.lit(1).alias("grp"))
    )
    x = {g: [r["x"] for r in v.filter(F.col("grp") == g).collect()] for g in (0, 1)}
    r = ks_two_sample(v, n_bins=13).collect()[0]["ks_stat"]
    assert r == ks_two_sample_numpy(x[0], x[1])


def test_merge_islands_multi_matches_singles(spark, sf_dir):
    from pyspark.sql import functions as F

    from big_ann_spark.operators import intervals as iv
    from big_ann_spark.queries.interval_queries import _intervals

    ivs = _intervals(spark, sf_dir).select("begin", "end")
    multi = iv.merge_islands_multi(
        ivs,
        {"ov": lambda b, m: b >= m, "nb": lambda b, m: b > m + 3},
        n_bins=7,
    )
    ov = iv.merge_overlaps(ivs, strict=True, data_agg=F.count("*").alias("n"))
    nb = iv.merge_neighbors(ivs, distance=3, data_agg=F.count("*").alias("n"))
    assert _sorted_rows(multi.filter(F.col("variant") == "ov").drop("variant")) == _sorted_rows(ov)
    assert _sorted_rows(multi.filter(F.col("variant") == "nb").drop("variant")) == _sorted_rows(nb)


def test_ranged_carries_exact_above_2_53(spark):
    """ADVICE r2: carries must keep int64 exactness above 2^53 —
    nanosecond-epoch intervals. The old double carries collapsed
    adjacent odd/even boundaries and silently merged distinct islands;
    typed carries must agree with the global-window form exactly."""
    from big_ann_spark.operators.intervals import merge_overlaps, split_overlaps

    base = (1 << 60) + 1  # far beyond 2^53; +1 not representable in double
    rows = []
    for i in range(40):
        b = base + i * 7
        rows.append((b, b + 3))          # islands of width 3, gap 4
        rows.append((b + 1, b + 2))      # nested — merges into the island
    df = spark.createDataFrame(rows, "begin long, end long")

    for fn in (
        lambda d, r: merge_overlaps(d, ranged=r, n_bins=8),
        lambda d, r: split_overlaps(d, ranged=r, n_bins=8),
    ):
        want = sorted(map(tuple, fn(df, False).collect()))
        got = sorted(map(tuple, fn(df, True).collect()))
        assert got == want
        # every boundary must still be exactly representable
        assert all(isinstance(v, int) for t in got for v in t[:2])


def test_ranged_ids_to_intervals_exact_above_2_53(spark):
    from big_ann_spark.operators.intervals import ids_to_intervals

    base = (1 << 60) + 1
    ids = [base + i for i in range(10)] + [base + 100 + i for i in range(5)]
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    want = sorted(map(tuple, ids_to_intervals(df, id_col="id", ranged=False).collect()))
    got = sorted(map(tuple, ids_to_intervals(df, id_col="id", ranged=True, n_bins=4).collect()))
    assert got == want == [(base, base + 9), (base + 100, base + 104)]
