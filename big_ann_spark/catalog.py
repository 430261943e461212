"""Table loaders for the driver-generated parquet star schema.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings. All loaders are plain
``spark.read.parquet`` — schema comes from the parquet footer, filters
and projections push down to the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_ann_spark.operators import oplayout

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_file_bytes(sf_dir: str, name: str) -> int:
    """On-disk byte size of a fixture table's parquet file (0 when not
    statable, e.g. a non-posix path). Used to derive SCALE-ADAPTIVE
    spread widths: a repartition that exists only to spread
    CPU-dense per-row work should get ~one task per fixed chunk of
    input, not a constant tuned to one host — constants over-spread
    tiny inputs (per-task overhead dominates) and under-spread big
    ones."""
    import os

    try:
        return os.stat(f"{sf_dir}/{name}.parquet").st_size
    except OSError:
        return 0


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    import os

    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            # ts arrives as nanos-since-epoch (see session.py nanosAsLong);
            # truncate to microseconds exactly like DuckDB reads timestamp[ns]
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    # the schema is kept in the layout memo per resolved table path
    # (``oplayout.read_parquet``), so only the first load runs a
    # footer-inference job. The fixtures are immutable (no token); the
    # events table is excluded above because its ts type depends on the
    # session's nanosAsLong conf.
    return oplayout.read_parquet(spark.read, os.path.realpath(path), None, path)


def register_all(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` works too."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
