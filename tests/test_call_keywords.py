"""Every keyword passed to the exact-kNN, IVF search, quantized-serving,
centroid assignment, PQ encode, KS, layout write and mutation entry points must
exist in the callee's signature — including in scripts that no test
runs (``tools/``, ``bench.py``), where a deleted parameter would
otherwise only surface as a TypeError the next time someone measures. Static (stdlib ``ast`` + ``inspect.signature``); starts no
Spark session."""

from __future__ import annotations

import ast
import inspect
import pathlib

from big_ann_spark.operators import ann, knn, pq, sharding, stats, vector_ops
from big_ann_spark.streaming import vector_index

ROOT = pathlib.Path(__file__).resolve().parents[1]
CALLEES = {
    "exact_knn": knn.exact_knn,
    "ivf_search": ann.ivf_search,
    "ivf_search_from_disk": ann.ivf_search_from_disk,
    "filtered_search_from_disk": ann.filtered_search_from_disk,
    "sq8_pool": ann.sq8_pool,
    "pq_pool": ann.pq_pool,
    "binary_pool": ann.binary_pool,
    "write_sharded": sharding.write_sharded,
    "write_shards": sharding.write_shards,
    "assign_to_centroids": sharding.assign_to_centroids,
    "pq_encode": pq.pq_encode,
    "ks_two_sample": stats.ks_two_sample,
    "upsert_vectors": vector_ops.upsert_vectors,
    "delete_vectors": vector_ops.delete_vectors,
    "compact_in_place": vector_ops.compact_in_place,
    "compact_if_needed": vector_ops.compact_if_needed,
    "compact_vector_layout": vector_ops.compact_vector_layout,
    "stream_vector_index_ingest": vector_index.stream_vector_index_ingest,
}


def _calls(source: str, filename: str):
    """(callee name, ast.Call) for every call of a CALLEES name, whether
    called bare (``exact_knn(...)``) or as an attribute
    (``ANN.sq8_pool(...)``)."""
    for node in ast.walk(ast.parse(source, filename)):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name in CALLEES:
                yield name, node


def stale_keywords(source: str, filename: str) -> list[str]:
    out = []
    for name, call in _calls(source, filename):
        params = inspect.signature(CALLEES[name]).parameters
        for kw in call.keywords:
            if kw.arg is not None and kw.arg not in params:
                out.append(f"{filename}:{call.lineno}: {name}({kw.arg}=)")
    return out


def _caller_files() -> list[pathlib.Path]:
    files = [ROOT / "bench.py"]
    for d in ("big_ann_spark", "tools", "perfbench"):
        files += sorted((ROOT / d).rglob("*.py"))
    return files


def test_callers_pass_only_existing_keywords():
    stale, n_calls = [], 0
    for path in _caller_files():
        src, rel = path.read_text(), str(path.relative_to(ROOT))
        n_calls += sum(1 for _ in _calls(src, rel))
        stale += stale_keywords(src, rel)
    assert n_calls >= 20, n_calls  # the scan really sees the call sites
    assert stale == []


def test_stale_keyword_is_reported():
    src = (
        "exact_knn(q, b, k=10, metric='l2')\n"
        "ANN.ivf_search_from_disk(q, p, c, max_pushdown=9, **kw)\n"
        "ANN.sq8_pool(r, s, p, 20, routed_rows=None)\n"
        "VO.upsert_vectors(s, p, v, assign_impl='arrow')\n"
        "write_sharded(a, e, p, repartition_to=256, sq8_ranges=r)\n"
        "SH.assign_to_centroids(e, c, impl='arrow', extra_cols=['v'])\n"
        "write_sharded(a, e, p, pq_codebooks=b, pq_encode_impl='arrow')\n"
        "ks_two_sample(v, ranged=True, lazy_counts=True, n_bins=13)\n"
        "ANN.ivf_search(q, s, c, k=5, static_prune=False, dim=64)\n"
        "VI.stream_vector_index_ingest(d, p, c, dim=4, op_col='op')\n"
    )
    assert stale_keywords(src, "x.py") == [
        "x.py:1: exact_knn(metric=)",
        "x.py:2: ivf_search_from_disk(max_pushdown=)",
        "x.py:3: sq8_pool(routed_rows=)",
        "x.py:4: upsert_vectors(assign_impl=)",
        "x.py:5: write_sharded(repartition_to=)",
        "x.py:6: assign_to_centroids(impl=)",
        "x.py:7: write_sharded(pq_encode_impl=)",
        "x.py:8: ks_two_sample(ranged=)",
        "x.py:8: ks_two_sample(lazy_counts=)",
        "x.py:9: ivf_search(static_prune=)",
        "x.py:9: ivf_search(dim=)",
        "x.py:10: stream_vector_index_ingest(dim=)",
    ]
