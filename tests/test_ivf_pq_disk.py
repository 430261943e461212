"""IVF-PQ persisted serving tier (FAISS IVFADC-with-refine shape):
pq_codes-only ADC candidate scan + exact point-fetch rerank off a
``write_sharded(pq_codebooks=...)`` layout."""

from __future__ import annotations

import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from big_ann_spark.catalog import load_table
from big_ann_spark.operators import ann as ANN
from big_ann_spark.operators import sharding as SH
from big_ann_spark.operators.pq import load_pq_codebooks, train_pq
from tests.ivf_reference import probed_pool_inputs

_CACHE: dict[str, tuple] = {}


def _pq_layout(spark, sf_dir):
    """Session-cached: train once (8 MLlib KMeans fits), reuse across
    tests in the module."""
    got = _CACHE.get(sf_dir)
    if got is not None:
        return got
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = SH.label_centroids(load_table(spark, sf_dir, "embeddings"))
    assign = SH.assign_to_centroids(emb, cents, extra_cols=["embedding"])
    books = train_pq(emb, m=8, k=16)
    path = tempfile.mkdtemp(prefix="big_ann_pq_disk_") + "/layout"
    SH.write_sharded(assign, emb, path, pq_codebooks=books)
    cents.write.mode("overwrite").parquet(f"{path}/centroids.parquet")
    got = (emb, cents, path, books)
    _CACHE[sf_dir] = got
    return got


def _queries(emb):
    return emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )


def _np_pq_pool(spark, routed, path, k_pool):
    """numpy oracle of pq_pool: per routed query, an ADC lookup table
    from the (rotated, on an OPQ layout) query and the persisted
    codebooks, each probed row scored as lut[j][code_j] summed left to
    right over j, first k_pool by (dist, id) as
    (qid, neighbor_id, dist, rank)."""
    import os

    from big_ann_spark.operators.pq import load_rotation

    books = [np.asarray(b) for b in load_pq_codebooks(spark, f"{path}/pq_codebooks.parquet")]
    R = None
    if os.path.isdir(f"{path}/opq_rotation.parquet"):
        R = np.asarray(load_rotation(spark, f"{path}/opq_rotation.parquet"))
    sub = books[0].shape[1]
    rows = (
        spark.read.parquet(f"{path}/shards")
        .select("vec_id", "pq_codes", "shard_id").collect()
    )
    probes = {}
    for r in routed.collect():
        probes.setdefault(r["qid"], (r["qvec"], set()))[1].add(r["shard_id"])
    out = []
    for qid, (qv, sids) in probes.items():
        q = np.asarray(qv, dtype=np.float64)
        if R is not None:
            q = q @ R
        lut = np.array([
            [((q[j * sub:(j + 1) * sub] - c) ** 2).sum() for c in book]
            for j, book in enumerate(books)
        ])
        cand = [r for r in rows if r["shard_id"] in sids]
        ids = np.array([r["vec_id"] for r in cand])
        codes = np.array([r["pq_codes"] for r in cand])
        d = np.zeros(len(cand))
        for j in range(len(books)):
            d = d + lut[j, codes[:, j]]
        for rank, i in enumerate(np.lexsort((ids, d))[:k_pool], 1):
            out.append((qid, int(ids[i]), float(d[i]), rank))
    return sorted(out)


def _routed_pool(spark, emb, cents, path, k_pool):
    routed, routing, shards = probed_pool_inputs(spark, _queries(emb), cents, path)
    pool = ANN.pq_pool(routing, shards, path, k_pool)
    got = sorted(map(tuple, pool.select("qid", "neighbor_id", "dist", "rank").collect()))
    return got, _np_pq_pool(spark, routed, path, k_pool)


def test_pq_layout_roundtrip(spark, sf_dir):
    emb, cents, path, books = _pq_layout(spark, sf_dir)
    tbl = spark.read.parquet(f"{path}/shards")
    assert {"vec_id", "embedding", "pq_codes", "shard_id"} <= set(tbl.columns)
    assert load_pq_codebooks(spark, f"{path}/pq_codebooks.parquet") == books
    n_codes = tbl.select(F.size("pq_codes").alias("s")).distinct().collect()
    assert [r["s"] for r in n_codes] == [8]


def test_pq_from_disk_exhaustive_pool_equals_exact(spark, sf_dir):
    """With the pool covering every probed row, the exact rerank makes
    the PQ path EQUAL the raw IVF search — ADC only selects, never
    ranks, the final answer."""
    emb, cents, path, _ = _pq_layout(spark, sf_dir)
    queries = _queries(emb)
    got = ANN.ivf_search_from_disk(
        queries, path, cents, k=5, nprobe=2, codec="pq", rerank_factor=10_000
    )
    want = ANN.ivf_search_from_disk(queries, path, cents, k=5, nprobe=2)
    a = sorted(map(tuple, got.select("qid", "neighbor_id", "dist", "rank").collect()))
    b = sorted(map(tuple, want.select("qid", "neighbor_id", "dist", "rank").collect()))
    assert a == b and len(a) == 40


def test_pq_default_rf_recall(spark, sf_dir):
    """Default rerank_factor: the ADC pool must put most true
    neighbors in front of the exact rerank (recall vs the raw-codec
    search of the same layout)."""
    emb, cents, path, _ = _pq_layout(spark, sf_dir)
    queries = _queries(emb)
    got = ANN.ivf_search_from_disk(queries, path, cents, k=5, nprobe=2, codec="pq")
    want = ANN.ivf_search_from_disk(queries, path, cents, k=5, nprobe=2)
    g = {(r["qid"], r["neighbor_id"]) for r in got.collect()}
    w = {(r["qid"], r["neighbor_id"]) for r in want.collect()}
    recall = len(g & w) / len(w)
    assert recall >= 0.7, recall
    # the hits it does return carry EXACT distances (rerank tier)
    gd = {(r["qid"], r["neighbor_id"]): r["dist"] for r in got.collect()}
    wd = {(r["qid"], r["neighbor_id"]): r["dist"] for r in want.collect()}
    for key in g & w:
        assert gd[key] == wd[key]


def test_pq_candidate_scan_reads_codes_only(spark, sf_dir, candidate_scans):
    """Column pruning: the ADC candidate pass must not read the raw
    vector column — that is the entire point of the layout."""
    emb, cents, path, _ = _pq_layout(spark, sf_dir)
    queries = _queries(emb)
    _, routing, shards = probed_pool_inputs(spark, queries, cents, path)
    ANN.pq_pool(routing, shards, path, 20)
    plan = candidate_scans[-1]._jdf.queryExecution().executedPlan().toString()
    seg = plan.split("ReadSchema")[1].splitlines()[0]
    assert "pq_codes" in seg and "embedding" not in seg


def test_pq_pool_arrow_equals_fold(spark, sf_dir):
    """The numpy LUT-gather pool must equal a LUT oracle that sums
    left to right over j — the doubles equal, not just close."""
    emb, cents, path, _ = _pq_layout(spark, sf_dir)
    got, want = _routed_pool(spark, emb, cents, path, 20)
    assert got == want and len(got) == 160


def test_cli_build_pq_refine_and_search(spark, sf_dir, tmp_path):
    from big_ann_spark.cli import main

    src = f"{sf_dir}/embeddings.parquet"
    idx = str(tmp_path / "idx_pq")
    assert main(["build-index", src, idx, "--m", "5", "--pq-refine"]) == 0
    cols = spark.read.parquet(f"{idx}/shards").columns
    assert "pq_codes" in cols and "embedding" in cols
    out = str(tmp_path / "res.parquet")
    assert main(["search", idx, src, "--k", "5", "--nprobe", "2", "--out", out]) == 0
    res = spark.read.parquet(out)
    assert res.count() == res.select("qid").distinct().count() * 5


def _pq_encode_fold(vec_col: str, codebooks):
    """The reference PQ encoder as a Spark expression: per subvector,
    ``array_min(struct(d, c))`` over the literal codebook, ``d`` the
    squared L2 folded left to right from 0.0, ties to the lower code."""
    sub = len(codebooks[0][0])
    v = F.col(vec_col).cast("array<double>")
    codes = []
    for j, book in enumerate(codebooks):
        vs = F.slice(v, j * sub + 1, sub)
        dists = [
            F.struct(
                F.aggregate(
                    F.zip_with(
                        vs, F.array(*[F.lit(x) for x in cent]), lambda a, b: (a - b) * (a - b)
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("d"),
                F.lit(c).alias("c"),
            )
            for c, cent in enumerate(book)
        ]
        codes.append(F.array_min(F.array(*dists))["c"])
    return F.array(*codes)


def test_pq_encode_arrow_equals_fold(spark, sf_dir):
    """The numpy encoder (``pq_encode``, and ``with_pq_codes_arrow``
    that builds and upserts use) assigns the IDENTICAL code per
    subvector as the Spark-expression fold — same left-to-right
    arithmetic, same lowest-code tie-break."""
    from big_ann_spark.operators.pq import pq_encode, with_pq_codes_arrow

    emb, cents, path, books = _pq_layout(spark, sf_dir)
    fold = {
        r["vec_id"]: list(r["codes"])
        for r in emb.select("vec_id", _pq_encode_fold("embedding", books).alias("codes")).collect()
    }
    encoded = {r["id"]: list(r["codes"]) for r in pq_encode(emb, books).collect()}
    arrow = {
        r["vec_id"]: list(r["pq_codes"])
        for r in with_pq_codes_arrow(emb, books).select("vec_id", "pq_codes").collect()
    }
    assert fold == encoded == arrow
    assert len(fold) == emb.count()


# --------------------------------------------------- OPQ serving tier


def _opq_layout(spark, sf_dir):
    from big_ann_spark.operators.pq import train_opq

    got = _CACHE.get(sf_dir + ":opq")
    if got is not None:
        return got
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = SH.label_centroids(load_table(spark, sf_dir, "embeddings"))
    assign = SH.assign_to_centroids(emb, cents, extra_cols=["embedding"])
    R, books, pmse, omse = train_opq(emb, m=8, k=16)
    assert omse <= pmse  # the trainer's non-increasing invariant
    path = tempfile.mkdtemp(prefix="big_ann_opq_disk_") + "/layout"
    SH.write_sharded(
        assign, emb, path,
        pq_codebooks=books, opq_rotation=R,
    )
    cents.write.mode("overwrite").parquet(f"{path}/centroids.parquet")
    got = (emb, cents, path)
    _CACHE[sf_dir + ":opq"] = got
    return got


@pytest.mark.slow
def test_opq_from_disk_exhaustive_pool_equals_exact(spark, sf_dir):
    """End-to-end rotation invariance: with an exhaustive pool, the
    OPQ path's exact rerank (raw vectors, unrotated queries) must
    equal the raw search — the orthogonal R cancels out entirely.
    codec='opq' is the explicit tier (VERDICT r11 #7) and must serve
    bit-identically to codec='pq' on the same rotation-carrying layout
    (pq_pool applies the rotation whenever the sidecar exists)."""
    emb, cents, path = _opq_layout(spark, sf_dir)
    queries = _queries(emb)
    got = ANN.ivf_search_from_disk(
        queries, path, cents, k=5, nprobe=2, codec="opq", rerank_factor=10_000
    )
    want = ANN.ivf_search_from_disk(queries, path, cents, k=5, nprobe=2)
    a = sorted(map(tuple, got.select("qid", "neighbor_id", "dist", "rank").collect()))
    b = sorted(map(tuple, want.select("qid", "neighbor_id", "dist", "rank").collect()))
    assert a == b and len(a) == 40
    via_pq = ANN.ivf_search_from_disk(
        queries, path, cents, k=5, nprobe=2, codec="pq", rerank_factor=10_000
    )
    assert sorted(
        map(tuple, via_pq.select("qid", "neighbor_id", "dist", "rank").collect())
    ) == a
    # the detector reports the real tier
    assert ANN.detect_refine_codec(spark, path) == "opq"


def test_opq_codec_refused_without_rotation(spark, sf_dir):
    """codec='opq' on a PLAIN PQ layout must refuse loudly — serving
    it as plain PQ would silently drop the +recall the rotation buys."""
    import pytest

    emb, cents, path, _books = _pq_layout(spark, sf_dir)
    queries = _queries(emb).limit(2)
    with pytest.raises(ValueError, match="opq_rotation"):
        ANN.ivf_search_from_disk(
            queries, path, cents, k=5, nprobe=2, codec="opq"
        ).collect()
    assert ANN.detect_refine_codec(spark, path) == "pq"


def test_opq_pool_equals_numpy_lut_and_mutations_compose(spark, sf_dir):
    emb, cents, path = _opq_layout(spark, sf_dir)
    queries = _queries(emb)
    # the pool scores the ROTATED queries against the OPQ codebooks
    got, want = _routed_pool(spark, emb, cents, path, 20)
    assert got == want and len(got) == 160

    # upsert re-encodes under the frozen rotation; deleted ids vanish
    from big_ann_spark.operators import vector_ops as VO

    VO.upsert_vectors(spark, path, emb.filter(F.col("vec_id") < 2))
    VO.delete_vectors(spark, path, [3])
    got = ANN.ivf_search_from_disk(
        queries, path, cents, k=5, nprobe=3, codec="pq", rerank_factor=10_000
    )
    live = emb.filter(F.col("vec_id") != 3)
    lassign = SH.assign_to_centroids(live, cents, extra_cols=["embedding"])
    want = ANN.ivf_search(queries, lassign, cents, k=5, nprobe=3)
    a = sorted(map(tuple, got.select("qid", "neighbor_id", "rank").collect()))
    b = sorted(map(tuple, want.select("qid", "neighbor_id", "rank").collect()))
    assert a == b
    # invalidate the cached layout — this test mutated it
    _CACHE.pop(sf_dir + ":opq")


@pytest.mark.slow
def test_cli_build_opq_refine_and_search(spark, sf_dir, tmp_path):
    from big_ann_spark.cli import main

    src = f"{sf_dir}/embeddings.parquet"
    idx = str(tmp_path / "idx_opq")
    assert main(["build-index", src, idx, "--m", "5", "--opq-refine"]) == 0
    cols = spark.read.parquet(f"{idx}/shards").columns
    assert "pq_codes" in cols and "embedding" in cols
    import os

    assert os.path.isdir(f"{idx}/opq_rotation.parquet")
    out = str(tmp_path / "res.parquet")
    assert main(["search", idx, src, "--k", "5", "--nprobe", "2", "--out", out]) == 0
    res = spark.read.parquet(out)
    assert res.count() == res.select("qid").distinct().count() * 5


# --------------------------------------------------- binary (32×) tier


def _binary_layout(spark, sf_dir):
    from big_ann_spark.operators.pq import train_binary

    got = _CACHE.get(sf_dir + ":bin")
    if got is not None:
        return got
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = SH.label_centroids(load_table(spark, sf_dir, "embeddings"))
    assign = SH.assign_to_centroids(emb, cents, extra_cols=["embedding"])
    thr = train_binary(emb)
    path = tempfile.mkdtemp(prefix="big_ann_bin_disk_") + "/layout"
    SH.write_sharded(assign, emb, path, binary_thresholds=thr)
    cents.write.mode("overwrite").parquet(f"{path}/centroids.parquet")
    got = (emb, cents, path)
    _CACHE[sf_dir + ":bin"] = got
    return got


def test_binary_from_disk_exhaustive_pool_equals_exact(spark, sf_dir):
    emb, cents, path = _binary_layout(spark, sf_dir)
    queries = _queries(emb)
    got = ANN.ivf_search_from_disk(
        queries, path, cents, k=5, nprobe=2, codec="binary", rerank_factor=10_000
    )
    want = ANN.ivf_search_from_disk(queries, path, cents, k=5, nprobe=2)
    a = sorted(map(tuple, got.select("qid", "neighbor_id", "dist", "rank").collect()))
    b = sorted(map(tuple, want.select("qid", "neighbor_id", "dist", "rank").collect()))
    assert a == b and len(a) == 40


def test_binary_candidate_scan_reads_bcodes_only(spark, sf_dir, candidate_scans):
    emb, cents, path = _binary_layout(spark, sf_dir)
    queries = _queries(emb)
    _, routing, shards = probed_pool_inputs(spark, queries, cents, path)
    ANN.binary_pool(routing, shards, path, 20)
    plan = candidate_scans[-1]._jdf.queryExecution().executedPlan().toString()
    seg = plan.split("ReadSchema")[1].splitlines()[0]
    assert "bcodes" in seg and "embedding" not in seg


def test_cli_build_binary_refine_and_search(spark, sf_dir, tmp_path):
    from big_ann_spark.cli import main

    src = f"{sf_dir}/embeddings.parquet"
    idx = str(tmp_path / "idx_bin")
    assert main(["build-index", src, idx, "--m", "5", "--binary-refine"]) == 0
    cols = spark.read.parquet(f"{idx}/shards").columns
    assert "bcodes" in cols and "embedding" in cols
    out = str(tmp_path / "res.parquet")
    assert main(["search", idx, src, "--k", "5", "--nprobe", "2", "--out", out]) == 0
    res = spark.read.parquet(out)
    assert res.count() == res.select("qid").distinct().count() * 5


def test_binary_mutation_runbook(spark, sf_dir):
    """Upsert/delete on a binary layout: upserted rows get bcodes under
    the frozen thresholds, deleted rows vanish — exhaustive-pool search
    equals the raw search over the logical live set."""
    from big_ann_spark.operators import vector_ops as VO
    from big_ann_spark.operators.pq import train_binary

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = SH.label_centroids(load_table(spark, sf_dir, "embeddings"))
    base = emb.filter(F.col("vec_id") % 3 != 0)
    assign = SH.assign_to_centroids(base, cents, extra_cols=["embedding"])
    path = tempfile.mkdtemp(prefix="big_ann_bin_ops_") + "/layout"
    SH.write_sharded(assign, base, path, binary_thresholds=train_binary(emb))
    cents.write.mode("overwrite").parquet(f"{path}/centroids.parquet")
    VO.upsert_vectors(spark, path, emb.filter(F.col("vec_id") % 3 == 0))
    VO.delete_vectors(spark, path, emb.filter(F.col("vec_id") % 7 == 0).select("vec_id"))
    queries = _queries(emb)
    got = ANN.ivf_search_from_disk(
        queries, path, cents, k=5, nprobe=3, codec="binary", rerank_factor=10_000
    )
    live = emb.filter(F.col("vec_id") % 7 != 0)
    lassign = SH.assign_to_centroids(live, cents, extra_cols=["embedding"])
    want = ANN.ivf_search(queries, lassign, cents, k=5, nprobe=3)
    a = sorted(map(tuple, got.select("qid", "neighbor_id", "rank").collect()))
    b = sorted(map(tuple, want.select("qid", "neighbor_id", "rank").collect()))
    assert a == b and len(a) == 40


def test_sidecar_prefetch_outcome_is_retrieved_when_routing_raises(spark, monkeypatch):
    """When routing raises, the background PQ sidecar load is not left
    behind with an unread exception: the search cancels it, or waits
    for it and reads its outcome, before the routing error propagates."""
    import threading
    from concurrent.futures import Future

    from big_ann_spark.operators import pq as PQ

    class TrackedFuture(Future):
        retrieved = False

        def result(self, timeout=None):
            self.retrieved = True
            return super().result(timeout)

        def exception(self, timeout=None):
            self.retrieved = True
            return super().exception(timeout)

    futures: list[TrackedFuture] = []

    class Pool:
        def submit(self, fn):
            fut = TrackedFuture()

            def run():
                if fut.set_running_or_notify_cancel():
                    try:
                        fut.set_result(fn())
                    except BaseException as e:
                        fut.set_exception(e)

            threading.Thread(target=run).start()
            futures.append(fut)
            return fut

    sidecar_started = threading.Event()

    def unreadable_codebooks(spark, path):
        sidecar_started.set()
        raise OSError("sidecar unreadable")

    def failing_routing(*a, **kw):
        sidecar_started.wait(30)
        raise RuntimeError("routing failed")

    monkeypatch.setattr(ANN, "_SIDECAR_PREFETCH", Pool())
    monkeypatch.setattr(PQ, "load_pq_codebooks", unreadable_codebooks)
    monkeypatch.setattr(ANN, "_route_on_driver", failing_routing)
    queries = spark.createDataFrame([(0, [0.0])], "qid long, qvec array<double>")
    with pytest.raises(RuntimeError, match="routing failed"):
        ANN.ivf_search_from_disk(queries, "/nonexistent/layout", None, codec="pq")
    [fut] = futures
    assert fut.done() and fut.retrieved
    assert isinstance(fut.exception(), OSError)
