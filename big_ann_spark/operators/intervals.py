"""Interval-set algebra as DataFrame operators.

Reference: the vendored chaimleib/intervaltree
(``src/intervaltree/intervaltree.py``), used by the id-interval helpers
in ``src/util/utils.py:343-393``. The tree's point/range queries and
set algebra (SURVEY E1-E11, J7/J8, W6) are re-expressed as joins and
window patterns; an interval *table* replaces the interval *tree*.

Scale design
------------
The tree answers point queries in O(log n) on one machine; the
DataFrame equivalents here answer *batched* queries for millions of
points at once:

- point/overlap/envelop queries = range joins. Plain form is a
  BroadcastNestedLoopJoin (fine when one side is small — the usual
  case: a handful of probe points). For big×big, ``binned_point_join``
  buckets both sides into fixed-width bins → shuffle hash equi-join on
  bin + residual predicate; the classic bounded-interval range-join
  rewrite that survives 100 TB.
- merge_overlaps/neighbors = gaps-and-islands: running ``max(end)``
  window per sort order, island id = running count of gap starts. One
  shuffle (sort), O(1) state per row.
- set algebra = native union/intersect/except.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from big_ann_spark.functions.interval import contains_point, overlaps


# ---------------------------------------------------------------- queries

def point_query(intervals: DataFrame, points: DataFrame, *, point_col: str = "p") -> DataFrame:
    """All intervals containing each point — ``tree.at(p)``
    (``intervaltree.py:864-883``). The probe side is broadcast: with a
    handful of probe points this is a broadcast nested-loop the scan
    side streams through once. For big×big use ``binned_point_join``."""
    return intervals.join(
        F.broadcast(points),
        contains_point(intervals["begin"], intervals["end"], points[point_col]),
        "inner",
    )


def overlap_query(intervals: DataFrame, qbegin: int, qend: int) -> DataFrame:
    """Intervals overlapping ``[qbegin, qend)`` — ``tree.overlap``
    (``intervaltree.py:885-915``)."""
    return intervals.filter(overlaps("begin", "end", F.lit(qbegin), F.lit(qend)))


def envelop_query(intervals: DataFrame, qbegin: int, qend: int) -> DataFrame:
    """Intervals fully inside ``[qbegin, qend)`` — ``tree.envelop``
    (``intervaltree.py:917-939``)."""
    return intervals.filter((F.col("begin") >= qbegin) & (F.col("end") <= qend))


def binned_point_join(
    intervals: DataFrame,
    points: DataFrame,
    *,
    point_col: str = "p",
    bin_width: int,
) -> DataFrame:
    """Big×big point-in-interval join without a nested loop: explode
    each interval to the integer bins it touches, bin each point, then
    shuffle hash equi-join on bin + residual containment predicate.
    Shuffle volume is O(intervals × avg_span/bin_width + points) — the
    plan that survives when both sides are huge."""
    binned_iv = intervals.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(F.col("begin") / bin_width),
                F.floor((F.col("end") - F.lit(1)) / bin_width),
            )
        ),
    )
    binned_p = points.withColumn("_bin", F.floor(F.col(point_col) / bin_width))
    out = binned_p.join(binned_iv, "_bin").filter(
        contains_point("begin", "end", point_col)
    )
    return out.drop("_bin")


def write_binned_intervals(
    intervals: DataFrame, path: str, *, bin_width: int
) -> None:
    """Persist an interval table bin-partitioned on disk
    (``partitionBy(_bin)``): each interval is written once per integer
    bin it touches, so a probe that knows its bins scans only those
    directories — the interval analogue of the S7 sharded-vector
    layout. At 100 TB this is the layout that turns a range join into
    partition-pruned IO instead of a full scan. Degenerate intervals
    (``end <= begin``, empty under half-open semantics) are dropped —
    without the filter Spark's DESCENDING sequence(b0, b0-1) would fan
    them into spurious (including negative) bin directories that every
    probe of those bins then scans."""
    binned = intervals.filter(F.col("end") > F.col("begin")).withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(F.col("begin") / bin_width),
                F.floor((F.col("end") - F.lit(1)) / bin_width),
            )
        ),
    )
    binned.write.mode("overwrite").partitionBy("_bin").parquet(path)


def binned_point_join_from_disk(
    spark, path: str, points: DataFrame, *, point_col: str = "p", bin_width: int
) -> DataFrame:
    """Point-in-interval join against a ``write_binned_intervals``
    layout. The small (broadcast) point side is binned with the same
    width and equi-joined on the partition column, so Spark inserts a
    dynamic-partition-pruning subquery on the interval scan: only the
    directories whose ``_bin`` appears in the probe are read
    (PartitionFilters: dynamicpruningexpression — plan-pinned in
    tests/test_intervals.py). Residual containment predicate filters
    within the bin; duplicates from multi-bin intervals are impossible
    because a point lives in exactly one bin."""
    iv = spark.read.parquet(path)
    # bin with the PARTITION COLUMN's read-back type (int) so the join
    # key is the raw partition attribute — a cast on the partition side
    # defeats the DPP rule's partition-scan lineage match
    bin_t = dict(iv.dtypes)["_bin"]
    binned_p = points.withColumn(
        "_bin", F.floor(F.col(point_col) / bin_width).cast(bin_t)
    )
    out = iv.join(F.broadcast(binned_p), "_bin").filter(
        contains_point("begin", "end", point_col)
    )
    return out.drop("_bin")


def is_point_covered(points: DataFrame, intervals: DataFrame, *, point_col: str = "p") -> DataFrame:
    """Semi-join form — ``is_number_in_interval_tree``
    (``src/util/utils.py:387-393``): keep points covered by ≥1 interval."""
    cond = contains_point(intervals["begin"], intervals["end"], points[point_col])
    return points.join(intervals, cond, "leftsemi")


def find_nested(intervals: DataFrame) -> DataFrame:
    """Parent → contained child pairs — ``find_nested``
    (``intervaltree.py:551-571``). Self range-join with strict
    containment (child ≠ parent)."""
    a = intervals.select(
        F.col("begin").alias("p_begin"), F.col("end").alias("p_end"), F.col("data").alias("p_data")
    )
    b = intervals.select(
        F.col("begin").alias("c_begin"), F.col("end").alias("c_end"), F.col("data").alias("c_data")
    )
    return a.join(
        b,
        (F.col("p_begin") <= F.col("c_begin"))
        & (F.col("c_end") <= F.col("p_end"))
        & ((F.col("p_begin") != F.col("c_begin")) | (F.col("p_end") != F.col("c_end"))),
    )


def remove_overlap(intervals: DataFrame, qbegin: int, qend: int) -> DataFrame:
    """Delete intervals overlapping a range — ``remove_overlap``
    (``intervaltree.py:470-484``): anti-filter."""
    return intervals.filter(~overlaps("begin", "end", F.lit(qbegin), F.lit(qend)))


def remove_envelop(intervals: DataFrame, qbegin: int, qend: int) -> DataFrame:
    """Delete intervals fully inside a range — ``remove_envelop``
    (``intervaltree.py:486-494``)."""
    return intervals.filter(~((F.col("begin") >= qbegin) & (F.col("end") <= qend)))


# ---------------------------------------------------------------- merges

def _merge_islands(
    intervals: DataFrame,
    cmp_gap,
    data_agg: Column | None,
    partition_cols: list[str] | None,
    ranged: bool,
    n_bins: int,
) -> DataFrame:
    """Shared gaps-and-islands core with three physical strategies:

    - ``partition_cols``: per-key interval sets (the common production
      shape — one interval set per document/user/shard) — the window
      partitions by key, fully parallel, one shuffle.
    - ``ranged=True``: ONE global interval set at scale — range-binned
      two-pass (operators.ranged): local islands per value bin +
      driver-prefix carries for the running max(end) and the island-id
      offsets. No global WindowExec; cost is two passes over the data
      plus two O(n_bins) driver collects.
    - default: the single-window form (bounded inputs only — the
      sort collapses to one task, so it does not scale).

    Results are identical across strategies (equivalence-tested)."""
    aggs = [F.min("begin").alias("begin"), F.max("end").alias("end")]
    if data_agg is not None:
        aggs.append(data_agg)

    if partition_cols:
        w = Window.partitionBy(*partition_cols).orderBy("begin", "end")
        prev_max = F.max("end").over(w.rowsBetween(Window.unboundedPreceding, -1))
        flagged = intervals.withColumn(
            "_new_island",
            F.when(prev_max.isNull() | cmp_gap(F.col("begin"), prev_max), 1).otherwise(0),
        )
        island = F.sum("_new_island").over(w.rowsBetween(Window.unboundedPreceding, 0))
        return (
            flagged.withColumn("_island", island)
            .groupBy(*partition_cols, "_island")
            .agg(*aggs)
            .drop("_island")
        )

    if ranged:
        from big_ann_spark.operators.ranged import add_value_bins, bin_prefix_table

        b = add_value_bins(intervals, "begin", n_bins)
        w_loc = Window.partitionBy("_bin").orderBy("begin", "end")
        carry = bin_prefix_table(b, {"bmax": (F.max("end"), "max")})
        df = b.join(F.broadcast(carry), "_bin", "left")
        local_prev = F.max("end").over(w_loc.rowsBetween(Window.unboundedPreceding, -1))
        prev_max = F.greatest(local_prev, F.col("_pfx_bmax"))
        flagged = df.withColumn(
            "_new_island",
            F.when(prev_max.isNull() | cmp_gap(F.col("begin"), prev_max), 1).otherwise(0),
        )
        offsets = bin_prefix_table(flagged, {"nf": (F.sum("_new_island"), "sum")})
        with_off = flagged.join(F.broadcast(offsets), "_bin", "left")
        island = (
            F.sum("_new_island").over(w_loc.rowsBetween(Window.unboundedPreceding, 0))
            + F.coalesce(F.col("_pfx_nf"), F.lit(0))
        )
        return (
            with_off.withColumn("_island", island)
            .groupBy("_island")
            .agg(*aggs)
            .drop("_island")
        )

    w = Window.orderBy("begin", "end")
    prev_max = F.max("end").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = intervals.withColumn(
        "_new_island",
        F.when(prev_max.isNull() | cmp_gap(F.col("begin"), prev_max), 1).otherwise(0),
    )
    island = F.sum("_new_island").over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        flagged.withColumn("_island", island).groupBy("_island").agg(*aggs).drop("_island")
    )


def merge_overlaps(
    intervals: DataFrame,
    *,
    strict: bool = True,
    data_agg: Column | None = None,
    partition_cols: list[str] | None = None,
    ranged: bool = False,
    n_bins: int = 64,
) -> DataFrame:
    """Merge transitively-overlapping intervals — ``merge_overlaps``
    (``intervaltree.py:645-709``). ``strict=True`` keeps touching
    intervals separate (the reference default merges touching ones when
    ``strict=False``; reference strict means *only* true overlaps merge
    — ``intervaltree.py:663-668``: "intervals that are adjacent but do
    not overlap are not merged" when strict).

    Gaps-and-islands: running max of previous ends; a row starts a new
    island when its begin is beyond (or at, when strict) the running
    max. See ``_merge_islands`` for the per-key / range-binned /
    single-window physical strategies."""
    cmp_gap = (lambda b, m: b >= m) if strict else (lambda b, m: b > m)
    return _merge_islands(intervals, cmp_gap, data_agg, partition_cols, ranged, n_bins)


def merge_neighbors(
    intervals: DataFrame,
    distance: int,
    *,
    data_agg: Column | None = None,
    partition_cols: list[str] | None = None,
    ranged: bool = False,
    n_bins: int = 64,
) -> DataFrame:
    """Merge intervals within ``distance`` of each other —
    ``merge_neighbors`` (``intervaltree.py:770-845``), used by
    ``append_intervals_to_tree`` (``utils.py:378-384``). Same physical
    strategies as merge_overlaps."""
    cmp_gap = lambda b, m: b > m + distance  # noqa: E731
    return _merge_islands(intervals, cmp_gap, data_agg, partition_cols, ranged, n_bins)


def merge_islands_multi(
    intervals: DataFrame,
    variants: dict[str, "object"],
    *,
    n_bins: int = 64,
) -> DataFrame:
    """Several gaps-and-islands merges over the SAME interval set in
    one range-binned pass — the bins, the running-max carry, and the
    island-offset carry are computed once and shared across all gap
    predicates (each ``variants[name]`` is a cmp(begin, prev_max) →
    bool Column fn). Returns tagged (variant, begin, end, n).

    Reason to exist: running merge_overlaps and merge_neighbors
    separately in ranged mode costs 3 tiny driver jobs EACH (min/max,
    max-carry, offset-carry); sharing them halves the job count for
    multi-variant queries like the registered ``interval_merges``."""
    from big_ann_spark.operators.ranged import add_value_bins, bin_prefix_table

    b = add_value_bins(intervals, "begin", n_bins)
    w_loc = Window.partitionBy("_bin").orderBy("begin", "end")
    carry = bin_prefix_table(b, {"bmax": (F.max("end"), "max")})
    df = b.join(F.broadcast(carry), "_bin", "left")
    local_prev = F.max("end").over(w_loc.rowsBetween(Window.unboundedPreceding, -1))
    prev_max = F.greatest(local_prev, F.col("_pfx_bmax"))
    flagged = df
    for name, cmp_gap in variants.items():
        flagged = flagged.withColumn(
            f"_ni_{name}",
            F.when(prev_max.isNull() | cmp_gap(F.col("begin"), prev_max), 1).otherwise(0),
        )
    offsets = bin_prefix_table(
        flagged,
        {f"nf_{name}": (F.sum(f"_ni_{name}"), "sum") for name in variants},
    )
    with_off = flagged.join(F.broadcast(offsets), "_bin", "left")
    outs = []
    for name in variants:
        island = (
            F.sum(f"_ni_{name}").over(w_loc.rowsBetween(Window.unboundedPreceding, 0))
            + F.coalesce(F.col(f"_pfx_nf_{name}"), F.lit(0))
        )
        outs.append(
            with_off.withColumn("_island", island)
            .groupBy("_island")
            .agg(
                F.min("begin").alias("begin"),
                F.max("end").alias("end"),
                F.count("*").alias("n"),
            )
            .select(F.lit(name).alias("variant"), "begin", "end", "n")
        )
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result


def merge_equals(intervals: DataFrame, data_agg: Column | None = None) -> DataFrame:
    """Merge identical ranges — ``merge_equals`` (``intervaltree.py:
    710-769``)."""
    aggs = [data_agg] if data_agg is not None else [F.count("*").alias("n")]
    return intervals.groupBy("begin", "end").agg(*aggs)


def split_overlaps(
    intervals: DataFrame, *, ranged: bool = False, n_bins: int = 64
) -> DataFrame:
    """Split every interval at every boundary of any interval —
    ``split_overlaps`` (``intervaltree.py:622-643``). Boundaries =
    distinct begins ∪ ends; each interval joins to its interior
    adjacent boundary pairs.

    ``ranged=True``: the boundary ``lead`` runs per value bin, with the
    first boundary of later bins carried in via the driver-prefix
    table (operators.ranged) — no global WindowExec."""
    bounds = (
        intervals.select(F.col("begin").alias("b"))
        .union(intervals.select(F.col("end")))
        .distinct()
    )
    if ranged:
        from big_ann_spark.operators.ranged import add_value_bins, bin_prefix_table

        bb = add_value_bins(bounds, "b", n_bins)
        carry = bin_prefix_table(
            bb, {"bmin": (F.min("b"), "max")}, next_min_of="bmin"
        )
        w_loc = Window.partitionBy("_bin").orderBy("b")
        segs = (
            bb.join(F.broadcast(carry), "_bin", "left")
            .select(
                F.col("b").alias("s_begin"),
                # _next_min carries b's own type — no double
                # round-trip that could shift segment edges above 2^53
                F.coalesce(F.lead("b").over(w_loc), F.col("_next_min")).alias("s_end"),
            )
            .filter(F.col("s_end").isNotNull())
        )
    else:
        w = Window.orderBy("b")
        segs = bounds.select(
            F.col("b").alias("s_begin"), F.lead("b").over(w).alias("s_end")
        ).filter(F.col("s_end").isNotNull())
    return (
        intervals.join(
            segs,
            (F.col("s_begin") >= F.col("begin")) & (F.col("s_end") <= F.col("end")),
        )
        .select(
            F.col("s_begin").alias("begin"),
            F.col("s_end").alias("end"),
            *[c for c in intervals.columns if c not in ("begin", "end")],
        )
    )


def chop(intervals: DataFrame, qbegin: int, qend: int) -> DataFrame:
    """Subtract ``[qbegin, qend)`` from every interval, trimming partial
    overlaps — ``chop`` (``intervaltree.py:496-517``). Each interval
    yields 0, 1 or 2 pieces (left of the chop, right of the chop)."""
    others = [c for c in intervals.columns if c not in ("begin", "end")]
    left = (
        intervals.filter((F.col("begin") < qbegin))
        .select(F.col("begin"), F.least(F.col("end"), F.lit(qbegin)).alias("end"), *others)
        .filter(F.col("begin") < F.col("end"))
    )
    right = (
        intervals.filter(F.col("end") > qend)
        .select(F.greatest(F.col("begin"), F.lit(qend)).alias("begin"), F.col("end"), *others)
        .filter(F.col("begin") < F.col("end"))
    )
    return left.union(right)


def slice_at(intervals: DataFrame, point: int) -> DataFrame:
    """Split intervals containing ``point`` into two — ``slice``
    (``intervaltree.py:519-541``)."""
    others = [c for c in intervals.columns if c not in ("begin", "end")]
    hit = contains_point("begin", "end", F.lit(point)) & (F.col("begin") != point)
    untouched = intervals.filter(~hit)
    left = intervals.filter(hit).select(
        "begin", F.lit(point).alias("end"), *others
    )
    right = intervals.filter(hit).select(
        F.lit(point).alias("begin"), "end", *others
    )
    return untouched.unionByName(left).unionByName(right)


# ---------------------------------------------------------------- set ops

def interval_union(a: DataFrame, b: DataFrame) -> DataFrame:
    """E1 — set union of interval rows (``intervaltree.py:346-354``)."""
    return a.union(b).distinct()


def interval_difference(a: DataFrame, b: DataFrame) -> DataFrame:
    """E2 (``intervaltree.py:401-417``)."""
    return a.subtract(b)


def interval_intersection(a: DataFrame, b: DataFrame) -> DataFrame:
    """E3 (``intervaltree.py:426-445``)."""
    return a.intersect(b)


def interval_symmetric_difference(a: DataFrame, b: DataFrame) -> DataFrame:
    """E4 (``intervaltree.py:447-468``)."""
    return a.union(b).distinct().subtract(a.intersect(b))


# ---------------------------------------------------------------- W6

def ids_to_intervals(
    ids: DataFrame, *, id_col: str = "id", ranged: bool = False, n_bins: int = 64
) -> DataFrame:
    """Consecutive-id runs → ``[begin, end]`` intervals — the reference's
    gaps-and-islands helper ``get_intervals``
    (``src/util/utils.py:343-360``: ``groupby(enumerate - value)``).
    Spark form: ``id - row_number()`` is constant within a run.

    ``ranged=True``: the global row_number decomposes into a per-bin
    row_number plus the carried count of all earlier bins' rows
    (operators.ranged) — no global WindowExec, identical groups."""
    if ranged:
        from big_ann_spark.operators.ranged import add_value_bins, bin_prefix_table

        b = add_value_bins(ids, id_col, n_bins)
        carry = bin_prefix_table(b, {"cnt": (F.count("*"), "sum")})
        w_loc = Window.partitionBy("_bin").orderBy(id_col)
        rn = F.row_number().over(w_loc) + F.coalesce(F.col("_pfx_cnt"), F.lit(0))
        grp = (F.col(id_col) - rn).alias("_grp")
        return (
            b.join(F.broadcast(carry), "_bin", "left")
            .select(F.col(id_col), grp)
            .groupBy("_grp")
            .agg(F.min(id_col).alias("begin"), F.max(id_col).alias("end"))
            .drop("_grp")
            .select("begin", "end")
        )
    w = Window.orderBy(id_col)
    grp = (F.col(id_col) - F.row_number().over(w)).alias("_grp")
    return (
        ids.select(F.col(id_col), grp)
        .groupBy("_grp")
        .agg(F.min(id_col).alias("begin"), F.max(id_col).alias("end"))
        .drop("_grp")
        .select("begin", "end")
    )
