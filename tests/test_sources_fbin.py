"""fbin/u8bin/ibin/i8bin I/O: local round-trips with chunked offsets,
Spark ingest, the driver-collect export guard and the CLI converters."""

from __future__ import annotations

import os
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from big_ann_spark.sources import fbin as FB


@pytest.mark.parametrize(
    "suf,dtype",
    [
        ("fbin", np.float32),
        ("u8bin", np.uint8),
        ("ibin", np.int32),
        # int8: advertised-but-unimplemented in the reference CLI
        # (shard_by_distance.py:483,494-502) — we ship the branch
        ("i8bin", np.int8),
    ],
)
def test_local_roundtrip_and_chunked_offsets(suf, dtype):
    rng = np.random.default_rng(42)
    if dtype == np.float32:
        mat = rng.normal(size=(100, 8)).astype(dtype)
    elif dtype == np.int8:
        mat = rng.integers(-100, 100, size=(100, 8)).astype(dtype)  # signed range
    else:
        mat = rng.integers(0, 100, size=(100, 8)).astype(dtype)
    d = tempfile.mkdtemp()
    path = os.path.join(d, f"t.{suf}")
    FB.write_vectors_local(path, mat)
    assert FB.read_header(path) == (100, 8)
    np.testing.assert_array_equal(FB.read_vectors_local(path), mat)
    # chunked read from a nonzero offset must be correctly aligned for
    # every dtype (the reference's read_ibin lacks the *4 — SURVEY app.)
    np.testing.assert_array_equal(FB.read_vectors_local(path, 37, 10), mat[37:47])


def test_spark_ingest_multi_file(spark):
    rng = np.random.default_rng(7)
    d = tempfile.mkdtemp()
    a = rng.normal(size=(30, 4)).astype(np.float32)
    b = rng.normal(size=(20, 4)).astype(np.float32)
    FB.write_vectors_local(os.path.join(d, "a.fbin"), a)
    FB.write_vectors_local(os.path.join(d, "b.fbin"), b)
    df = FB.read_fbin_spark(spark, os.path.join(d, "*.fbin"))
    rows = {r["id"]: np.array(r["vec"], dtype=np.float32) for r in df.collect()}
    assert len(rows) == 50
    # ids: a.fbin rows 0..29, b.fbin rows 30..49 (lexical file order)
    np.testing.assert_array_equal(rows[0], a[0])
    np.testing.assert_array_equal(rows[29], a[29])
    np.testing.assert_array_equal(rows[30], b[0])
    np.testing.assert_array_equal(rows[49], b[19])


def test_spark_ingest_i8bin(spark):
    """Signed int8 ingest through the Spark path: values round-trip
    with sign intact (an accidental uint8 read would wrap negatives)."""
    rng = np.random.default_rng(3)
    d = tempfile.mkdtemp()
    a = rng.integers(-128, 128, size=(25, 4)).astype(np.int8)
    FB.write_vectors_local(os.path.join(d, "a.i8bin"), a)
    df = FB.read_fbin_spark(spark, os.path.join(d, "*.i8bin"))
    rows = {r["id"]: np.array(r["vec"], dtype=np.float32) for r in df.collect()}
    assert len(rows) == 25
    np.testing.assert_array_equal(rows[7], a[7].astype(np.float32))
    assert min(float(v) for r in rows.values() for v in r) < 0


def test_write_fbin_from_df_row_guard(spark):
    """The driver-collect interop sink must refuse oversized exports
    instead of OOMing (VERDICT r6)."""
    df = spark.range(10).select(
        F.col("id"), F.array(F.lit(1.0), F.lit(2.0)).alias("vec")
    )
    d = tempfile.mkdtemp()
    with pytest.raises(ValueError, match="max_rows"):
        FB.write_fbin_from_df(df, os.path.join(d, "t.fbin"), max_rows=5)
    FB.write_fbin_from_df(df, os.path.join(d, "t.fbin"), max_rows=10)
    assert FB.read_header(os.path.join(d, "t.fbin")) == (10, 2)


def test_cli_list_run_and_fbin(spark, sf_dir, tmp_path, capsys):
    """CLI surface: list names every registered query; run executes one
    against the fixture dir (stdout table + parquet out); the fbin
    converters round-trip through the real codecs."""
    from big_ann_spark.cli import main

    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "knn_exact_top10\toracle" in out and "pipeline_invariants\trows-only" in out

    assert main(["run", "dedup_exact", "--sf-dir", sf_dir,
                 "--out", str(tmp_path / "res.parquet")]) == 0
    got = spark.read.parquet(str(tmp_path / "res.parquet"))
    assert got.count() > 0 and set(got.columns) == {"variant", "kept_doc_id", "n_copies"}

    assert main(["run", "nope_not_a_query"]) == 2

    assert main(["parquet-to-fbin", f"{sf_dir}/embeddings.parquet",
                 str(tmp_path / "e.fbin")]) == 0
    assert main(["fbin-to-parquet", str(tmp_path / "e.fbin"),
                 str(tmp_path / "e2.parquet")]) == 0
    back = spark.read.parquet(str(tmp_path / "e2.parquet"))
    from big_ann_spark.catalog import load_table

    assert back.count() == load_table(spark, sf_dir, "embeddings").count()

