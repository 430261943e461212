"""The one layout memo (``oplayout.memo``): layout constants read through
it follow a rewrite by another process, and no module of the package
keeps an ad-hoc cache beside it."""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.sql import functions as F

from big_ann_spark.catalog import load_table
from big_ann_spark.operators import ann as ANN
from big_ann_spark.operators import bm25 as BM
from big_ann_spark.operators import sharding as SH
from big_ann_spark.operators import tag_ops as TO


def _tag_layout(spark, sf_dir, path):
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 64)
    tagged = emb.select(
        "vec_id", "embedding",
        F.array(F.concat(F.lit("m:"), (F.col("vec_id") % 3).cast("string"))).alias("tags"),
    )
    cents = SH.label_centroids(emb)
    SH.write_sharded(
        SH.assign_to_centroids(emb, cents, extra_cols=["embedding"]), emb, path
    )
    ANN.write_tag_postings_layout(
        tagged.select("vec_id", "tags"), path, n_tag_buckets=8, carry_payload=False
    )
    return f"{path}/tag_meta.parquet", lambda: TO.tag_meta(spark, path)[0], (
        "n_tag_buckets int, carry_payload boolean", (4, False)
    )


def _bm25_layout(spark, sf_dir, path):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 64)
    BM.write_bm25_index(BM.bm25_index(docs), path, n_term_buckets=8)
    return f"{path}/meta.parquet", lambda: BM._n_term_buckets(spark, path), (
        "n_term_buckets int", (4,)
    )


@pytest.mark.parametrize("layout", [_tag_layout, _bm25_layout], ids=["tag_meta", "bm25_meta"])
def test_layout_constants_follow_a_foreign_rewrite(spark, sf_dir, tmp_path, layout):
    """A layout's bucket count is memoized per state of its files: a
    rewrite of the constants table by another process (no writer of
    this process runs, so nothing is forgotten) is seen by the next
    read — a stale count would hash queries into the wrong buckets."""
    meta, n_buckets, (ddl, row) = layout(spark, sf_dir, str(tmp_path / "layout"))
    assert n_buckets() == 8
    assert n_buckets() == 8  # served from the memo
    spark.createDataFrame([row], ddl).coalesce(1).write.mode("overwrite").parquet(meta)
    assert n_buckets() == 4


# the module-level containers that functions may write, each with why
# it is not an ad-hoc cache
ALLOWED_MUTABLE_GLOBALS = {
    # the one layout memo: LRU under MEMO_ENTRIES, one token per entry
    ("operators/oplayout.py", "_memo"),
    # the query registry's persisted fixture layouts: one entry per
    # (disk-served variant, fixture directory)
    ("queries/__init__.py", "_FIXTURE_LAYOUTS"),
    # the query registry itself: written by the register decorator at
    # import, one entry per registered query
    ("queries/__init__.py", "REGISTRY"),
}

_CONTAINERS = {"dict", "OrderedDict", "set", "defaultdict", "WeakValueDictionary"}
_MUTATORS = {
    "pop", "popitem", "update", "setdefault", "add", "clear", "discard",
    "remove", "move_to_end", "difference_update", "intersection_update",
    "symmetric_difference_update", "__setitem__",
}


def _is_container(node) -> bool:
    if isinstance(node, (ast.Dict, ast.DictComp, ast.Set, ast.SetComp)):
        return True
    if isinstance(node, ast.Call):
        f = node.func
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        return name in _CONTAINERS
    return False


def _name(node):
    """The global a written expression names: ``X`` or ``module.X``."""
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def test_no_module_keeps_an_ad_hoc_cache():
    """Every module-level dict, OrderedDict or set of the package that a
    function writes (in its own module or through another) is on the
    allowlist above: state read from a layout goes through the one
    bounded layout memo, so a new ad-hoc cache cannot land unseen."""
    root = pathlib.Path(ANN.__file__).resolve().parents[1]
    trees = {
        p.relative_to(root).as_posix(): ast.parse(p.read_text())
        for p in sorted(root.rglob("*.py"))
    }
    owners: dict[str, set[str]] = {}
    for mod, tree in trees.items():
        for node in tree.body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign) and node.value is not None:
                targets, value = [node.target], node.value
            else:
                continue
            if _is_container(value):
                for t in targets:
                    if isinstance(t, ast.Name):
                        owners.setdefault(t.id, set()).add(mod)
    written = set()
    for tree in trees.values():
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                continue
            for node in ast.walk(fn):
                if isinstance(node, ast.Subscript) and isinstance(node.ctx, (ast.Store, ast.Del)):
                    written.add(_name(node.value))
                elif (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in _MUTATORS
                ):
                    written.add(_name(node.func.value))
    found = {(mod, name) for name in written & set(owners) for mod in owners[name]}
    assert found - ALLOWED_MUTABLE_GLOBALS == set()
    assert ALLOWED_MUTABLE_GLOBALS <= found  # the allowlist names live code
