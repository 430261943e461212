"""Exactly-once mutations on the persisted sharded vector layout
(operators/vector_ops.py): upsert/delete/as-of/compaction must make
``ivf_search_from_disk`` equal an in-memory search over the LOGICAL
live set at every point of the runbook — the same
history-equality contract the BM25 op layout and the streaming vector
index are held to."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from big_ann_spark.catalog import load_table
from big_ann_spark.operators import ann as ANN
from big_ann_spark.operators import oplayout
from big_ann_spark.operators import sharding as SH
from big_ann_spark.operators import vector_ops as VO
from tests.ivf_reference import route_queries


def _build_layout(spark, sf_dir, *, sq8=False, pq=False):
    """Base layout from vec_id % 3 != 0 (centroids + SQ8 ranges / PQ
    codebooks frozen from the FULL table, the build-then-grow
    lifecycle)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = SH.label_centroids(load_table(spark, sf_dir, "embeddings"))
    base = emb.filter(F.col("vec_id") % 3 != 0)
    assign = SH.assign_to_centroids(base, cents, extra_cols=["embedding"])
    path = tempfile.mkdtemp(prefix="big_ann_vec_ops_") + "/layout"
    ranges = None
    books = None
    if sq8:
        from big_ann_spark.operators.pq import train_sq8

        ranges = train_sq8(emb)
    if pq:
        from big_ann_spark.operators.pq import train_pq

        books = train_pq(emb, m=8, k=16)
    SH.write_sharded(assign, base, path, sq8_ranges=ranges, pq_codebooks=books)
    cents.write.mode("overwrite").parquet(f"{path}/centroids.parquet")
    return emb, cents, path


def _expected(spark, emb, cents, live_pred, queries, k=5, nprobe=3):
    live = emb.filter(live_pred)
    assign = SH.assign_to_centroids(live, cents, extra_cols=["embedding"])
    return ANN.ivf_search(queries, assign, cents, k=k, nprobe=nprobe)


def _rows(df):
    return sorted(
        (r["qid"], r["neighbor_id"], round(r["dist"], 9), r["rank"])
        for r in df.select("qid", "neighbor_id", "dist", "rank").collect()
    )


def _runbook(spark, emb, path):
    """op0: upsert the %3==0 ids (new); op1: delete %7==0;
    op2: re-upsert %21==0 (previously deleted). Returns the as_of →
    live-predicate map."""
    assert VO.upsert_vectors(spark, path, emb.filter(F.col("vec_id") % 3 == 0)) == 0
    assert (
        VO.delete_vectors(
            spark,
            path,
            emb.filter(F.col("vec_id") % 7 == 0).select("vec_id"),
        )
        == 1
    )
    assert VO.upsert_vectors(spark, path, emb.filter(F.col("vec_id") % 21 == 0)) == 2
    return {
        -1: F.col("vec_id") % 3 != 0,
        0: F.lit(True),
        1: F.col("vec_id") % 7 != 0,
        2: (F.col("vec_id") % 7 != 0) | (F.col("vec_id") % 21 == 0),
        None: (F.col("vec_id") % 7 != 0) | (F.col("vec_id") % 21 == 0),
    }


@pytest.mark.parametrize(
    "codec",
    [
        "raw",
        pytest.param("sq8", marks=pytest.mark.slow),
        pytest.param("pq", marks=pytest.mark.slow),
    ],
)
def test_runbook_equals_rebuild_at_every_as_of(spark, sf_dir, codec):
    emb, cents, path = _build_layout(
        spark, sf_dir, sq8=codec == "sq8", pq=codec == "pq"
    )
    history = _runbook(spark, emb, path)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    # pq: an exhaustive pool makes the approximate ADC tier a pure
    # candidate enumerator, so the exact rerank must equal the raw
    # rebuild exactly — the strongest possible mutation check
    rf = 10_000 if codec == "pq" else 4
    for as_of, live_pred in history.items():
        got = ANN.ivf_search_from_disk(
            queries, path, cents, k=5, nprobe=3, codec=codec, as_of=as_of,
            rerank_factor=rf,
        )
        want = _expected(spark, emb, cents, live_pred, queries)
        assert _rows(got) == _rows(want), f"as_of={as_of}"


def test_deleted_id_never_returned_and_tombstone_shard_unprobed(spark, sf_dir):
    emb, cents, path = _build_layout(spark, sf_dir)
    # delete a base vector, then search with ITSELF as the query — the
    # strongest possible probe of its original shard
    victim = emb.filter(F.col("vec_id") == 2)
    VO.delete_vectors(spark, path, [2])
    q = victim.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    got = ANN.ivf_search_from_disk(q, path, cents, k=5, nprobe=3)
    ids = {r["neighbor_id"] for r in got.collect()}
    assert 2 not in ids and len(ids) == 5


def test_crashed_op_invisible_and_replay_idempotent(spark, sf_dir, monkeypatch):
    emb, cents, path = _build_layout(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    before = _rows(ANN.ivf_search_from_disk(queries, path, cents, k=5, nprobe=3))

    # crash between data landing and the commit marker
    monkeypatch.setattr(
        oplayout, "mark_committed", lambda *a, **k: (_ for _ in ()).throw(OSError)
    )
    with pytest.raises(OSError):
        VO.upsert_vectors(spark, path, emb.filter(F.col("vec_id") % 3 == 0))
    monkeypatch.undo()
    assert VO.uncommitted_vector_ops(spark, path) == [0]
    # half-written op is invisible to search
    after_crash = _rows(ANN.ivf_search_from_disk(queries, path, cents, k=5, nprobe=3))
    assert after_crash == before

    # replay auto-reuses the crashed id; a second explicit replay of
    # the SAME op id is a pure self-overwrite (no duplicate rows)
    assert VO.upsert_vectors(spark, path, emb.filter(F.col("vec_id") % 3 == 0)) == 0
    assert VO.upsert_vectors(
        spark, path, emb.filter(F.col("vec_id") % 3 == 0), op_id=0
    ) == 0
    assert VO.uncommitted_vector_ops(spark, path) == []
    ops = spark.read.parquet(f"{path}/ops")
    n_ids = ops.select("vec_id").distinct().count()
    assert ops.count() == n_ids  # one row per id: overwrite, not append
    got = _rows(ANN.ivf_search_from_disk(queries, path, cents, k=5, nprobe=3))
    want = _rows(_expected(spark, emb, cents, F.lit(True), queries))
    assert got == want


def test_compaction_folds_history(spark, sf_dir):
    emb, cents, path = _build_layout(spark, sf_dir)
    history = _runbook(spark, emb, path)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    head = _rows(ANN.ivf_search_from_disk(queries, path, cents, k=5, nprobe=3))
    dst = tempfile.mkdtemp(prefix="big_ann_vec_compact_") + "/layout"
    assert VO.compact_vector_layout(spark, path, dst) == 3
    assert not VO.has_vector_ops(spark, dst)
    got = _rows(ANN.ivf_search_from_disk(queries, dst, cents, k=5, nprobe=3))
    assert got == head
    # compacted layout serves the head state even for as_of reads
    # (history is folded into the new base epoch by design)
    pristine = _rows(
        ANN.ivf_search_from_disk(queries, dst, cents, k=5, nprobe=3, as_of=-1)
    )
    assert pristine == head
    del history


def test_pristine_layout_short_circuits(spark, sf_dir):
    """A layout with no ops/ dir resolves no mutation state: its live
    frame has no dead ids and no resolved rows, and a search of it runs
    only the query collect and the candidate scan — no mutation-state
    job."""
    emb, _, path = _build_layout(spark, sf_dir)
    cents = spark.read.parquet(f"{path}/centroids.parquet")
    assert VO.mutation_state(spark, path) is None
    frame, dead = VO.live_frame(spark, path)
    assert len(dead) == 0 and frame.filter("_resolved").count() == 0
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    ANN.centroid_matrix(spark, cents)
    rows, n = _job_count(
        spark, lambda: ANN.ivf_search_from_disk(queries, path, cents, k=5, nprobe=3).collect()
    )
    assert n <= 2 and len(rows) == 40


@pytest.mark.slow
def test_cli_mutation_lifecycle(spark, sf_dir, tmp_path):
    """build-index → index-upsert → index-delete → search (head and
    --as-of) → index-compact → search: the full CLI lifecycle, with
    the snapshot read certified against the head of the pre-delete
    moment."""
    from big_ann_spark.cli import main

    src = f"{sf_dir}/embeddings.parquet"
    idx = str(tmp_path / "idx")
    assert main(["build-index", src, idx, "--m", "5", "--sq8-refine"]) == 0
    assert main(["index-upsert", idx, src]) == 0  # op 0: replace all
    assert main(["index-delete", idx, "--ids", "3,5,9"]) == 0  # op 1

    out_head = str(tmp_path / "head.parquet")
    out_snap = str(tmp_path / "snap.parquet")
    for extra, out in [([], out_head), (["--as-of", "0"], out_snap)]:
        assert main(
            ["search", idx, src, "--k", "5", "--nprobe", "2", "--out", out] + extra
        ) == 0
    head_ids = {r.neighbor_id for r in spark.read.parquet(out_head).collect()}
    snap_ids = {r.neighbor_id for r in spark.read.parquet(out_snap).collect()}
    assert not head_ids & {3, 5, 9}
    # before the delete op the victims are their own queries' top hits
    assert {3, 5, 9} <= snap_ids

    idx2 = str(tmp_path / "idx2")
    assert main(["index-compact", idx, idx2]) == 0
    out2 = str(tmp_path / "head2.parquet")
    assert main(["search", idx2, src, "--k", "5", "--nprobe", "2", "--out", out2]) == 0
    a = sorted(map(tuple, spark.read.parquet(out_head).collect()))
    b = sorted(map(tuple, spark.read.parquet(out2).collect()))
    assert a == b


def test_first_op_crash_leaves_layout_searchable(spark, sf_dir, monkeypatch):
    """A crash during the very FIRST op's data write (ops/ exists but
    holds no completed _mb partition) must leave every reader on the
    pristine base — not throw schema-inference errors."""
    import os

    emb, cents, path = _build_layout(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    before = _rows(ANN.ivf_search_from_disk(queries, path, cents, k=5, nprobe=3))
    # simulate: ops/ dir with only write-temporary droppings inside
    os.makedirs(f"{path}/ops/_temporary/0", exist_ok=True)
    after = _rows(ANN.ivf_search_from_disk(queries, path, cents, k=5, nprobe=3))
    assert after == before
    dst = tempfile.mkdtemp(prefix="big_ann_vec_crash_") + "/layout"
    assert VO.compact_vector_layout(spark, path, dst) == 0


def test_mutations_on_custom_id_and_vec_columns(spark, sf_dir, tmp_path):
    """build-index --id-col/--vec-col layouts must stay searchable and
    compactable after mutations (the ops table canonicalizes names;
    the live view renames back)."""
    from big_ann_spark.cli import main

    src0 = f"{sf_dir}/embeddings.parquet"
    src = str(tmp_path / "renamed.parquet")
    emb = spark.read.parquet(src0).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    emb.write.parquet(src)
    idx = str(tmp_path / "idx")
    assert main(["build-index", src, idx, "--m", "4",
                 "--id-col", "id", "--vec-col", "vec"]) == 0
    assert main(["index-upsert", idx, src, "--id-col", "id", "--vec-col", "vec"]) == 0
    assert main(["index-delete", idx, "--ids", "3,5"]) == 0
    out = str(tmp_path / "res.parquet")
    assert main(["search", idx, src, "--k", "5", "--nprobe", "2",
                 "--id-col", "id", "--vec-col", "vec", "--out", out]) == 0
    ids = {r.neighbor_id for r in spark.read.parquet(out).collect()}
    assert not ids & {3, 5}
    idx2 = str(tmp_path / "idx2")
    from big_ann_spark.operators.vector_ops import compact_vector_layout

    assert compact_vector_layout(spark, idx, idx2, id_col="id", vec_col="vec") == 2


def test_mutations_and_compact_on_codes_only_layout(spark, sf_dir, tmp_path):
    """--sq8 (codes-only) layouts: upserts encode codes under the
    frozen ranges, deletes tombstone, search resolves, and compaction
    carries the stored codes + ranges sidecar (no raw column exists to
    re-encode from)."""
    from big_ann_spark.cli import main

    src = f"{sf_dir}/embeddings.parquet"
    idx = str(tmp_path / "idx8")
    assert main(["build-index", src, idx, "--m", "4", "--sq8"]) == 0
    assert "embedding" not in spark.read.parquet(f"{idx}/shards").columns
    assert main(["index-upsert", idx, src]) == 0
    assert main(["index-delete", idx, "--ids", "2,4"]) == 0
    out = str(tmp_path / "res.parquet")
    assert main(["search", idx, src, "--k", "5", "--nprobe", "2", "--out", out]) == 0
    ids = {r.neighbor_id for r in spark.read.parquet(out).collect()}
    assert not ids & {2, 4}
    idx2 = str(tmp_path / "idx2")
    assert VO.compact_vector_layout(spark, idx, idx2) == 2
    out2 = str(tmp_path / "res2.parquet")
    assert main(["search", idx2, src, "--k", "5", "--nprobe", "2", "--out", out2]) == 0
    a = sorted(map(tuple, spark.read.parquet(out).collect()))
    b = sorted(map(tuple, spark.read.parquet(out2).collect()))
    assert a == b


def test_evaluate_honors_mutations(spark, sf_dir, tmp_path):
    """Recall must be measured against the SERVED index: after
    deleting the GT neighbors, evaluate's recall drops — it must not
    silently keep scoring the pristine base."""
    import numpy as np

    from big_ann_spark.cli import main
    from big_ann_spark.sources import fbin as FB

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    src = str(tmp_path / "emb.parquet")
    emb.write.parquet(src)
    q_path = str(tmp_path / "q.parquet")
    emb.filter(F.col("vec_id") < 2).write.parquet(q_path)
    idx = str(tmp_path / "idx")
    assert main(["build-index", src, idx, "--m", "4"]) == 0
    # GT = each query's own id (trivially its nearest neighbor)
    gt = str(tmp_path / "gt.ibin")
    FB.write_ground_truth_local(
        gt,
        np.array([[0], [1]], dtype=np.int32),
        np.zeros((2, 1), dtype=np.float32),
    )
    assert main(["evaluate", idx, q_path, gt, "--k", "1", "--nprobe", "4"]) == 0
    assert main(["index-delete", idx, "--ids", "0,1"]) == 0
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert main(["evaluate", idx, q_path, gt, "--k", "1", "--nprobe", "4"]) == 0
    assert "recall@1" in buf.getvalue()
    recall = float(buf.getvalue().strip().split(":")[-1])
    assert recall == 0.0  # the deleted ids must be gone from serving


def test_writer_lock_blocks_concurrent_mutator(spark, sf_dir):
    """The op ledger is single-writer per layout (ADVICE r10): a
    second mutator racing a held lock must fail LOUDLY instead of
    claiming the same op id and purging the first writer's in-flight
    partitions. Readers stay oblivious — committed_ops must skip the
    lock file."""
    emb, cents, path = _build_layout(spark, sf_dir)
    batch = emb.filter(F.col("vec_id") % 3 == 0)
    with oplayout.writer_lock(spark, path, owner="test"):
        with pytest.raises(oplayout.ConcurrentWriterError, match="_writer.lock"):
            VO.upsert_vectors(spark, path, batch)
        # the lock file must not confuse the ledger's committed set
        assert all(isinstance(i, int) for i in oplayout.committed_ops(spark, path))
    # released on context exit: the same mutation now lands as op 0
    assert VO.upsert_vectors(spark, path, batch) == 0


def test_writer_lock_released_on_failed_op(spark, sf_dir, monkeypatch):
    """A mutation that dies mid-write must release the lock on the way
    out (only a hard process kill leaves it behind) — the crashed id
    stays reclaimable by the next writer, same as before the lock."""
    emb, cents, path = _build_layout(spark, sf_dir)
    batch = emb.filter(F.col("vec_id") % 3 == 0)

    real = oplayout.write_table_dir

    def boom(spark, table, directory, schema):
        raise RuntimeError("injected mid-op crash")

    monkeypatch.setattr(oplayout, "write_table_dir", boom)
    with pytest.raises(RuntimeError, match="injected"):
        VO.upsert_vectors(spark, path, batch)
    monkeypatch.setattr(oplayout, "write_table_dir", real)
    assert not oplayout.path_exists(
        spark, f"{path}/_ops/{oplayout.WRITER_LOCK}"
    )
    assert VO.upsert_vectors(spark, path, batch) == 0


def test_contested_warning_and_inplace_compaction(spark, sf_dir, monkeypatch):
    """VERDICT r11 #2 — the auto-compaction signal: past the contested
    threshold every search WARNS (instead of silently paying the
    per-search broadcast the 20M campaign measured at +6.5 s/1.58M
    ids), contested_count reports the broadcast's row count, and
    compact_in_place folds the ops at the SAME path — search results
    unchanged, contested set reset, warning gone."""
    import warnings as _w

    emb, cents, path = _build_layout(spark, sf_dir)
    VO.upsert_vectors(spark, path, emb.filter(F.col("vec_id") % 3 == 0))
    VO.delete_vectors(spark, path, [2, 4])
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    live_pred = ~F.col("vec_id").isin([2, 4])
    want = _rows(_expected(spark, emb, cents, live_pred, queries))
    assert VO.contested_count(spark, path) > 0
    monkeypatch.setattr(oplayout, "CONTESTED_WARN_ABOVE", 0)
    with pytest.warns(UserWarning, match="contested ids"):
        got = _rows(ANN.ivf_search_from_disk(queries, path, cents, k=5, nprobe=3))
    assert got == want
    n_ops = VO.compact_in_place(spark, path)
    assert n_ops == 2
    assert VO.contested_count(spark, path) == 0
    # same path, same answers, no warning — and no swap leftovers
    with _w.catch_warnings():
        _w.simplefilter("error")
        assert _rows(
            ANN.ivf_search_from_disk(queries, path, cents, k=5, nprobe=3)
        ) == want
    assert not oplayout.path_exists(spark, path + ".compacting")
    assert not oplayout.path_exists(spark, path + ".precompact")
    # a concurrent writer holding the lock is refused loudly — the
    # compact+swap must never silently delete an op that landed while
    # the new base was being built
    with oplayout.writer_lock(spark, path, owner="other"):
        with pytest.raises(oplayout.ConcurrentWriterError):
            VO.compact_in_place(spark, path)
    assert not oplayout.path_exists(spark, path + ".compacting")
    # a leftover sibling from a crashed swap is refused loudly
    fs, jp = oplayout.fs_path(spark, path + ".compacting")
    fs.mkdirs(jp)
    with pytest.raises(ValueError, match="crashed mid-swap"):
        VO.compact_in_place(spark, path)


def test_contested_count_is_memoized_per_ledger_state(spark, sf_dir, monkeypatch):
    """The contested-size telemetry must not cost an
    extra Spark count job on EVERY search: the full count runs once
    per (path, as_of) per session (head(1) keeps the emptiness probe),
    and a mutation landing through this session busts the memo."""
    from pyspark.sql import DataFrame

    emb, cents, path = _build_layout(spark, sf_dir)
    VO.delete_vectors(spark, path, [2])
    assert VO.mutation_state(spark, path) is not None  # first call counts

    def boom(self):
        raise AssertionError("telemetry count ran on a warm memo")

    real = DataFrame.count
    monkeypatch.setattr(DataFrame, "count", boom)
    assert VO.mutation_state(spark, path) is not None  # memo hit, no count
    monkeypatch.setattr(DataFrame, "count", real)
    # a new op invalidates: the next search re-counts (and still works)
    VO.delete_vectors(spark, path, [4])
    assert not [k for k in oplayout._memo if k[0] == path.rstrip("/")]
    assert VO.mutation_state(spark, path) is not None


def test_contested_memo_busts_on_foreign_commit(spark, sf_dir, monkeypatch):
    """The memoized contested count must not lag a
    mutator in ANOTHER process indefinitely: the memo is keyed on the
    committed-op id set (one _ops listing, already paid per search),
    so a foreign commit marker busts it the moment it is visible,
    with no same-session invalidation hook involved."""
    from pyspark.sql import DataFrame

    emb, cents, path = _build_layout(spark, sf_dir)
    VO.delete_vectors(spark, path, [2])
    assert VO.mutation_state(spark, path) is not None  # counts, warms memo
    # simulate an out-of-process mutator: same landing protocol, but
    # the in-session invalidation hook never fires
    monkeypatch.setattr(oplayout, "forget", lambda p: None)
    VO.delete_vectors(spark, path, [4])
    key = (path.rstrip("/"), None, "mutation_state")
    assert oplayout._memo[key][1].count == 1  # stale memo survives
    assert VO.mutation_state(spark, path) is not None
    # the ledger token changed -> the count re-ran despite the warm memo
    assert oplayout._memo[key][1].count == 2
    # and with an UNCHANGED ledger the memo still spares the count job
    def boom(self):
        raise AssertionError("telemetry count ran on a warm memo")

    monkeypatch.setattr(DataFrame, "count", boom)
    assert VO.mutation_state(spark, path) is not None


def test_contested_memo_busts_after_foreign_compaction(spark, sf_dir, monkeypatch):
    """Op ids restart at 0 after compact_in_place, so another process
    that compacts and then lands as many ops reproduces the committed
    id set exactly. The memo token also carries each commit marker's
    mtime, so the count still re-runs."""
    emb, cents, path = _build_layout(spark, sf_dir)
    monkeypatch.setattr(oplayout, "forget", lambda p: None)
    VO.delete_vectors(spark, path, [2])
    assert VO.mutation_state(spark, path) is not None  # counts, warms memo
    key = (path.rstrip("/"), None, "mutation_state")
    assert oplayout._memo[key][1].count == 1
    VO.compact_in_place(spark, path)
    VO.delete_vectors(spark, path, [4, 5])
    assert oplayout.committed_ops(spark, path) == {0}  # same id set as before
    assert VO.mutation_state(spark, path) is not None
    assert oplayout._memo[key][1].count == 2


def test_ledger_memo_evicts_only_the_least_recently_used(spark, sf_dir, monkeypatch):
    """The one layout memo holds ledger state, file-stamped data and
    shards schemas under one bound: past it the least recently used
    entry alone is dropped — a hit refreshes an entry — and an evicted
    ledger entry's checkpoint is unpersisted."""
    from collections import OrderedDict

    _, _, path = _build_layout(spark, sf_dir)
    memo = OrderedDict()
    monkeypatch.setattr(oplayout, "_memo", memo)
    monkeypatch.setattr(oplayout, "MEMO_ENTRIES", 3)
    checkpoint = spark.range(4).localCheckpoint()
    rdd_id = checkpoint._jdf.queryExecution().logical().rdd().id()
    built = []

    def entry(name, ckpt=None):
        # a path with no _ops dir: its ledger token never changes
        def build():
            built.append(name)
            return len(built), None, ckpt

        return oplayout.ledger_entry(spark, f"/nonexistent/{name}", "t", build)

    def sidecar():
        stamps = (("/nonexistent/sidecar/part-0.parquet", 1, 2),)
        return oplayout.memo_by_files("sidecar", stamps, lambda: built.append("f") or "f")

    entry("a")
    sidecar()
    entry("b", checkpoint)
    assert entry("a").count == 1  # a hit: refreshed, not rebuilt
    assert sidecar() == "f"  # a hit: refreshed, not rebuilt
    persistent = spark.sparkContext._jsc.sc().getPersistentRDDs()
    assert persistent.contains(rdd_id)
    probed = ANN.open_probed_shards(spark, path, [0])  # files the shards schema
    assert built == ["a", "f", "b"]
    assert [k[0] for k in memo] == ["/nonexistent/a", "sidecar", f"{path}/shards"]
    assert not spark.sparkContext._jsc.sc().getPersistentRDDs().contains(rdd_id)
    inferred = spark.read.option("basePath", f"{path}/shards").parquet(f"{path}/shards")
    assert memo[(f"{path}/shards", "schema")][1] == probed.schema == inferred.schema
    entry("c")  # the bound holds: the least recently used goes
    assert [k[0] for k in memo] == ["sidecar", f"{path}/shards", "/nonexistent/c"]


def test_search_sees_same_process_and_foreign_commits(spark, sf_dir, monkeypatch):
    """The memoized mutation state never serves a stale live set: a
    search after an upsert in this process, and after a commit marker
    landed without this process's invalidation (another process),
    returns exactly the new live set."""
    emb, cents, path = _build_layout(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 12).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )

    def search():
        return _rows(ANN.ivf_search_from_disk(queries, path, cents, k=5, nprobe=3))

    base_live = F.col("vec_id") % 3 != 0
    assert search() == _rows(_expected(spark, emb, cents, base_live, queries))
    VO.upsert_vectors(spark, path, emb.filter(F.col("vec_id").isin(0, 3)))
    live = base_live | F.col("vec_id").isin(0, 3)
    assert search() == _rows(_expected(spark, emb, cents, live, queries))
    monkeypatch.setattr(oplayout, "forget", lambda p: None)
    VO.upsert_vectors(spark, path, emb.filter(F.col("vec_id").isin(6, 9)))
    VO.delete_vectors(spark, path, [3, 4])
    live = (base_live | F.col("vec_id").isin(0, 3, 6, 9)) & ~F.col("vec_id").isin(3, 4)
    assert search() == _rows(_expected(spark, emb, cents, live, queries))


def test_repeat_search_of_unchanged_mutated_layout_runs_two_jobs(spark, sf_dir):
    """A search whose layout state is already resolved runs at most two
    Spark jobs — the query collect and the candidate scan, whose
    per-task top-k the driver merges — and still serves the upsert and
    hides the delete."""
    emb, _, path = _build_layout(spark, sf_dir)
    cents = spark.read.parquet(f"{path}/centroids.parquet")
    VO.upsert_vectors(spark, path, emb.filter(F.col("vec_id") % 3 == 0))
    VO.delete_vectors(spark, path, [1, 2])
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    ANN.ivf_search_from_disk(queries, path, cents, k=5, nprobe=3).collect()
    sc = spark.sparkContext
    sc.setJobGroup("ivf-from-disk-jobcount", "repeat search job census")
    try:
        rows = ANN.ivf_search_from_disk(queries, path, cents, k=5, nprobe=3).collect()
    finally:
        sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup("ivf-from-disk-jobcount")
    assert len(jobs) <= 2, f"a repeat search ran {len(jobs)} jobs"
    top = {r.qid: r.neighbor_id for r in rows if r["rank"] == 1}
    assert top[3] == 3 and top[6] == 6  # upserted ids find themselves
    assert not {r.neighbor_id for r in rows} & {1, 2}


def test_ivf_search_over_a_bare_file_centroid_table_runs_two_jobs(spark, sf_dir):
    """ivf_search routes on the driver and scans once: with the centroid
    matrix of a bare-file centroid table in memory, a search runs at
    most two Spark jobs (the query collect and the candidate scan) and
    returns a local frame, equal to the from-disk search of the same
    layout."""
    emb, _, path = _build_layout(spark, sf_dir)
    cents = spark.read.parquet(f"{path}/centroids.parquet")
    listed = spark.read.parquet(f"{path}/shards")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    ANN.ivf_search(queries, listed, cents, k=5, nprobe=3)
    out, n = _job_count(spark, lambda: ANN.ivf_search(queries, listed, cents, k=5, nprobe=3))
    assert n <= 2, f"ivf_search ran {n} jobs"
    rows, n_collect = _job_count(spark, out.collect)
    assert n_collect == 0 and len(rows) == 40
    assert _rows(out) == _rows(ANN.ivf_search_from_disk(queries, path, cents, k=5, nprobe=3))


def _live_ids(spark, path, as_of=None):
    """(live frame, the ids it serves) of the layout state."""
    frame, dead = VO.live_frame(spark, path, as_of=as_of)
    dead = set(dead.tolist())
    rows = frame.select("vec_id", "_resolved").collect()
    return frame, {r.vec_id for r in rows if r._resolved or r.vec_id not in dead}


def test_live_frame_is_rebuilt_for_each_new_layout_state(spark, sf_dir, monkeypatch):
    """The memoized live frame serves its layout state until that state
    changes: a same-process upsert, delete or compact_in_place, a
    foreign commit and a write_sharded rebuild at the same path (both
    without this process's invalidation) each give the next read a new
    frame holding the new live set; an as_of snapshot has its own."""
    emb, cents, path = _build_layout(spark, sf_dir)
    all_ids = {r.vec_id for r in emb.select("vec_id").collect()}
    base_ids = {i for i in all_ids if i % 3 != 0}
    frame, ids = _live_ids(spark, path)
    assert ids == base_ids and VO.live_frame(spark, path)[0] is frame

    def changed(expected, as_of=None):
        nonlocal frame
        new, got = _live_ids(spark, path, as_of)
        assert new is not frame and got == expected
        frame = new

    VO.upsert_vectors(spark, path, emb.filter(F.col("vec_id").isin(0, 3)))
    changed(base_ids | {0, 3})
    VO.delete_vectors(spark, path, [1, 3])
    changed((base_ids | {0}) - {1})
    snap, snap_ids = _live_ids(spark, path, as_of=0)
    assert snap is not frame and snap_ids == base_ids | {0, 3}
    assert VO.live_frame(spark, path)[0] is frame
    monkeypatch.setattr(oplayout, "forget", lambda p: None)
    VO.delete_vectors(spark, path, [2])
    changed((base_ids | {0}) - {1, 2})
    rebuilt = emb.filter(F.col("vec_id") % 3 == 1)
    SH.write_sharded(
        SH.assign_to_centroids(rebuilt, cents, extra_cols=["embedding"]), rebuilt, path
    )
    # the ledger still holds op 0's upsert and the deletes of 1, 2 and 3
    changed(({i for i in all_ids if i % 3 == 1} | {0}) - {1, 2})
    monkeypatch.undo()
    VO.compact_in_place(spark, path)
    changed(({i for i in all_ids if i % 3 == 1} | {0}) - {1, 2})
    assert len(VO.live_frame(spark, path)[1]) == 0


def test_live_frame_memo_stays_bounded_and_never_reads_an_evicted_state(
    spark, sf_dir, monkeypatch
):
    """The live frames share the ledger memo's bound; a frame whose
    mutation state was evicted (its checkpoint unpersisted) is rebuilt
    on the state rebuilt in its place, never served stale."""
    from collections import OrderedDict

    emb, cents, path = _build_layout(spark, sf_dir)
    VO.upsert_vectors(spark, path, emb.filter(F.col("vec_id").isin(0, 3)))
    VO.delete_vectors(spark, path, [1])
    memo = OrderedDict()
    monkeypatch.setattr(oplayout, "_memo", memo)
    monkeypatch.setattr(oplayout, "MEMO_ENTRIES", 3)
    head, want = _live_ids(spark, path)  # head's state and frame
    _live_ids(spark, path, as_of=0)  # evicts head's mutation state
    assert len(memo) == 3
    again, got = _live_ids(spark, path)
    assert again is not head and got == want and len(memo) == 3


def test_first_read_of_a_ledger_state_runs_no_inference_job(spark, sf_dir):
    """committed_op_scan reads ops/ with the op rows' explicit schema, so
    the first contested_count of each ledger state runs two Spark jobs —
    the winners' group-by and the id collect — and no footer-inference
    job."""
    emb, cents, path = _build_layout(spark, sf_dir)
    VO.upsert_vectors(spark, path, emb.filter(F.col("vec_id") % 3 == 0))
    n_up = emb.filter(F.col("vec_id") % 3 == 0).count()
    assert _job_count(spark, lambda: VO.contested_count(spark, path)) == (n_up, 2)
    VO.delete_vectors(spark, path, [1, 2])
    assert _job_count(spark, lambda: VO.contested_count(spark, path)) == (n_up + 2, 2)


def test_sq8_upsert_reads_its_ranges_once_per_sidecar_state(spark, sf_dir):
    """An SQ8 refine upsert encodes under the ranges sidecar read once
    per state of its files: with them in memory an upsert runs one Spark
    job (the batch collect; the op lands from the driver), and a
    rewritten sidecar is seen by the next upsert."""
    import numpy as np

    from big_ann_spark.operators import pq as PQ

    emb, cents, path = _build_layout(spark, sf_dir, sq8=True)
    batch = emb.filter(F.col("vec_id") % 3 == 0)
    VO.upsert_vectors(spark, path, batch.filter(F.col("vec_id") % 2 == 0))
    _, n_up = _job_count(
        spark, lambda: VO.upsert_vectors(spark, path, batch.filter(F.col("vec_id") % 2 == 1))
    )
    assert n_up == 1
    mins, maxs = PQ.load_sq8_ranges(spark, f"{path}/sq8_ranges.parquet")
    wide = ([v - 1.0 for v in mins], [v + 1.0 for v in maxs])
    spark.createDataFrame([wide], "mins array<double>, maxs array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{path}/sq8_ranges.parquet")
    assert VO.upsert_vectors(spark, path, emb.filter(F.col("vec_id") == 3)) == 2
    row = spark.read.parquet(f"{path}/ops").filter("_mb = 2").collect()[0]
    X = np.asarray(row["embedding"], dtype=np.float32).astype(np.float64)[None]
    assert list(row["codes"]) == PQ.sq8_encode_matrix(X, *wide)[0].tolist()
    assert list(row["codes"]) != PQ.sq8_encode_matrix(X, mins, maxs)[0].tolist()


def test_compact_swap_lock_guards_rename_window(spark, sf_dir, monkeypatch):
    """ADVICE r12 — the in-tree writer lock cannot guard the compact
    swap (the first rename moves {base}/_ops, lock included, out with
    the tree, and the final delete eats the lock file), so the
    compactor holds a SIBLING {base}.compact.lock for the whole
    compact+swap. writer_lock must refuse while the marker exists —
    including when the marker lands between its pre-check and its
    atomic lock create, the exact rename-out window — and the abort
    must unwind the phantom {base}/_ops its mkdirs made, or the
    swap-in rename would nest the compacted layout inside it."""
    emb, cents, path = _build_layout(spark, sf_dir)
    cfs, cjp = oplayout.compact_lock_jpath(spark, path)
    cfs.create(cjp, False).close()
    try:
        # pre-check: the marker alone blocks a mutator and a compactor
        with pytest.raises(oplayout.ConcurrentWriterError, match="compact.lock"):
            with oplayout.writer_lock(spark, path, owner="m"):
                pass
        with pytest.raises(oplayout.ConcurrentWriterError, match="compact.lock"):
            VO.compact_in_place(spark, path)
        assert not oplayout.path_exists(spark, path + ".compacting")
    finally:
        cfs.delete(cjp, False)
    # marker gone → mutations flow again
    assert VO.delete_vectors(spark, path, [1]) == 0

    # the rename-out window: marker appears AFTER the mutator's
    # pre-check, and the tree is already renamed away — the post-create
    # re-check must abort and leave NO phantom dir behind
    fs, jbase = oplayout.fs_path(spark, path)
    _, jold = oplayout.fs_path(spark, path + ".precompact")
    assert fs.rename(jbase, jold)
    seen = iter([False, True])
    monkeypatch.setattr(
        oplayout, "compact_marker_exists", lambda s, p: next(seen)
    )
    try:
        with pytest.raises(oplayout.ConcurrentWriterError, match="compact.lock"):
            with oplayout.writer_lock(spark, path, owner="m"):
                pass
        assert not oplayout.path_exists(spark, path)
    finally:
        assert fs.rename(jold, jbase)
    monkeypatch.undo()
    # a full compact_in_place leaves no marker behind
    VO.upsert_vectors(spark, path, emb.filter(F.col("vec_id") % 5 == 0))
    assert VO.compact_in_place(spark, path) >= 1
    assert not cfs.exists(cjp)


def test_cli_compact_above_policy(spark, sf_dir, tmp_path):
    """--compact-above on a mutation command: below the threshold the
    layout keeps its ops; above it the CLI folds in place."""
    from big_ann_spark.cli import main

    emb, cents, path = _build_layout(spark, sf_dir)
    batch = str(tmp_path / "batch.parquet")
    emb.filter(F.col("vec_id") % 3 == 0).write.parquet(batch)
    # far above: op lands, no compaction (library policy returns None)
    assert main(["index-upsert", path, batch, "--compact-above", "10000000"]) == 0
    assert VO.contested_count(spark, path) > 0
    n_c, folded = VO.compact_if_needed(spark, path, max_contested=10_000_000)
    assert n_c > 0 and folded is None
    # zero: the very next mutation triggers the in-place fold
    assert main(["index-delete", path, "--ids", "2,4", "--compact-above", "0"]) == 0
    assert VO.contested_count(spark, path) == 0
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    got = _rows(ANN.ivf_search_from_disk(queries, path, cents, k=5, nprobe=3))
    assert got == _rows(
        _expected(spark, emb, cents, ~F.col("vec_id").isin([2, 4]), queries)
    )


def test_claim_op_id_atomic_allocation(spark, tmp_path, monkeypatch):
    """VERDICT r11 #6 — create-marker-first allocation: two writers
    that computed the SAME allocation decision serialize on ONE atomic
    create; the loser raises having touched nothing. Crash takeover
    claims the next generation; commit clears the id's claims."""
    path = str(tmp_path / "layout")
    # freeze the claim listing — the deterministic form of two writers
    # listing the ledger at the same instant
    monkeypatch.setattr(oplayout, "claimed_op_ids", lambda s, p: {})
    assert oplayout.claim_op_id(spark, path, set(), set()) == 0
    with pytest.raises(oplayout.ConcurrentWriterError, match="claimed by a concurrent"):
        oplayout.claim_op_id(spark, path, set(), set())
    monkeypatch.undo()
    # a LIVE listing sees the stale claim: the id is reclaimed at the
    # next generation (crash takeover), not skipped and not deleted
    assert oplayout.claimed_op_ids(spark, path) == {0: 0}
    assert oplayout.claim_op_id(spark, path, set(), set()) == 0
    assert oplayout.claimed_op_ids(spark, path) == {0: 1}
    oplayout.mark_committed(spark, path, 0)
    assert oplayout.claimed_op_ids(spark, path) == {}
    assert oplayout.committed_ops(spark, path) == {0}
    # the committed id is never reallocated
    assert oplayout.claim_op_id(spark, path, {0}, {0}) == 1


def test_losing_claim_purges_nothing(spark, sf_dir, monkeypatch):
    """The whole point of claim-before-purge: a mutator that loses the
    allocation race must NOT have purged the winner's in-flight
    partitions or written any byte — it errors at the claim, first."""
    emb, cents, path = _build_layout(spark, sf_dir)
    batch = emb.filter(F.col("vec_id") % 3 == 0)
    # writer B claimed id 0 in the instant after writer A listed:
    # freeze A's view to the pre-claim snapshot and pre-create B's claim
    monkeypatch.setattr(oplayout, "claimed_op_ids", lambda s, p: {})
    fs, jp = oplayout.fs_path(spark, f"{path}/_ops/{oplayout.ALLOC_PREFIX}0.0")
    fs.mkdirs(jp.getParent())
    fs.create(jp, False).close()
    purges: list = []
    monkeypatch.setattr(
        oplayout, "purge_op_dirs", lambda s, pats: purges.append(pats)
    )
    with pytest.raises(oplayout.ConcurrentWriterError):
        VO.upsert_vectors(spark, path, batch)
    assert purges == []
    assert not oplayout.path_exists(spark, f"{path}/ops")
    monkeypatch.undo()
    # with the stale claim visible again, the next mutation reclaims
    # id 0 at generation 1 and lands normally
    assert VO.upsert_vectors(spark, path, batch) == 0
    assert oplayout.claimed_op_ids(spark, path) == {}


def test_compact_after_deleting_everything(spark, sf_dir, tmp_path):
    """Deleting EVERY vector then compacting is a legal (degenerate)
    lifecycle: the compacted layout has zero shard dirs but must stay
    readable and serve empty results — found by the op-sequence
    property test (an all-delete script crashed schema inference on
    the empty partitioned read)."""
    emb, cents, path = _build_layout(spark, sf_dir)
    all_ids = emb.filter(F.col("vec_id") % 3 != 0).select("vec_id")
    VO.delete_vectors(spark, path, all_ids)
    dst = str(tmp_path / "empty_compacted")
    VO.compact_vector_layout(spark, path, dst)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    got = ANN.ivf_search_from_disk(queries, dst, cents, k=3, nprobe=2)
    assert got.count() == 0
    # and the pre-compaction live view serves empty too
    assert ANN.ivf_search_from_disk(queries, path, cents, k=3, nprobe=2).count() == 0


def _job_count(spark, fn):
    """(fn(), number of Spark jobs it ran)."""
    import uuid

    sc, group = spark.sparkContext, f"vector-ops-jobcount-{uuid.uuid4()}"
    sc.setJobGroup(group, "job census")
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _op_files(path, op_id):
    import os

    d = f"{path}/ops/_mb={op_id}"
    return [f for f in os.listdir(d) if not f.startswith((".", "_"))]


def test_upsert_assignment_bit_equal_to_fold_on_near_ties(spark):
    """Upserts and the build's assign_to_centroids both pick the shard
    and distance of the reference ``route_queries``' Spark ``l2_distance`` fold, bit
    for bit: points 1e-16 apart around the plane equidistant from two
    centroids (ties go to the lower shard id), and a batch-internal
    duplicate id keeps its first row."""
    import numpy as np

    from big_ann_spark.functions.vector import l2_distance

    d = 8
    e = np.eye(d)
    cents = spark.createDataFrame(
        [(s, [float(x) for x in c]) for s, c in {0: -e[0], 1: e[0], 2: 4.0 * e[1]}.items()],
        "shard_id int, centroid array<double>",
    )
    path = tempfile.mkdtemp(prefix="big_ann_vec_ties_") + "/layout"
    base = spark.createDataFrame([(0, [float(x) for x in e[2]])], "vec_id long, embedding array<double>")
    SH.write_sharded(SH.assign_to_centroids(base, cents, extra_cols=["embedding"]), base, path)
    cents.write.parquet(f"{path}/centroids.parquet")
    rows = []
    for i, t in enumerate([-3e-16, -2e-16, -1e-16, 0.0, 1e-16, 2e-16, 3e-16]):
        rows.append((10 + i, t * e[0] + 0.5 * e[2]))
        rows.append((20 + i, (1.0 + t) * e[0] + 2.0 * e[1] + 1e-16 * i * e[3]))
    vecs = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in rows + [(10, e[1])]],
        "vec_id long, embedding array<double>",
    )
    VO.upsert_vectors(spark, path, vecs)
    ladder = spark.createDataFrame([(int(i), [float(x) for x in v]) for i, v in rows], vecs.schema)
    queries = ladder.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    want = route_queries(queries, cents, 1).join(cents, "shard_id").select(
        "qid", "shard_id", l2_distance("qvec", "centroid").alias("dist")
    )
    want = sorted(map(tuple, want.collect()))
    ops = spark.read.parquet(f"{path}/ops")
    got = sorted((r["vec_id"], r["shard_id"], r["dist"]) for r in ops.collect())
    assert got == want
    built = SH.assign_to_centroids(ladder, cents).collect()
    assert sorted((r["vec_id"], r["shard_id"], r["dist"]) for r in built) == want
    shard = {i: s for i, s, _ in got}
    assert shard[13] == 0  # an exact tie goes to the lower shard id
    assert {shard[i] for i in range(10, 17)} == {0, 1}  # the ladder crosses over


def test_upsert_of_a_non_finite_vector_fails_before_writing(spark, sf_dir):
    """A NaN vector has no nearest centroid: the upsert fails loudly and
    leaves no op, commit marker or ops/_mb= directory in the ledger."""
    import os

    emb, _, path = _build_layout(spark, sf_dir)
    d = len(emb.first()["embedding"])
    nan = spark.createDataFrame([(10**9, [float("nan")] * d)], emb.schema)
    with pytest.raises(ValueError, match="not finite"):
        VO.upsert_vectors(spark, path, emb.filter(F.col("vec_id") < 3).unionByName(nan))
    assert not os.path.exists(f"{path}/ops") and not os.path.exists(f"{path}/_ops")
    assert VO.upsert_vectors(spark, path, emb.filter(F.col("vec_id") < 3)) == 0


@pytest.mark.parametrize("codec", ["sq8", "pq", "opq", "binary"])
def test_upserted_codes_equal_build_encoders(spark, sf_dir, codec):
    """An upsert of vectors the build already encoded lands the same
    codes, shard and distance as the build wrote for them, and a
    tombstone lands the layout's code column as a typed null."""
    import numpy as np

    from big_ann_spark.operators.pq import train_binary, train_sq8

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = SH.label_centroids(load_table(spark, sf_dir, "embeddings"))
    assign = SH.assign_to_centroids(emb, cents, extra_cols=["embedding"])
    rng = np.random.default_rng(7)
    kw, col = {}, {"sq8": "codes", "binary": "bcodes"}.get(codec, "pq_codes")
    if codec == "sq8":
        kw["sq8_ranges"] = train_sq8(emb)
    elif codec == "binary":
        kw["binary_thresholds"] = train_binary(emb)
    else:
        kw["pq_codebooks"] = rng.normal(size=(8, 16, 8)).tolist()
        if codec == "opq":
            kw["opq_rotation"] = np.linalg.qr(rng.normal(size=(64, 64)))[0].tolist()
    path = tempfile.mkdtemp(prefix=f"big_ann_vec_{codec}_") + "/layout"
    SH.write_sharded(assign, emb, path, **kw)
    cents.write.parquet(f"{path}/centroids.parquet")
    VO.upsert_vectors(spark, path, emb.filter(F.col("vec_id") % 2 == 0))
    cols = ["vec_id", "shard_id", "dist", col]
    base = {r["vec_id"]: tuple(r) for r in spark.read.parquet(f"{path}/shards").select(*cols).collect()}
    ops = spark.read.parquet(f"{path}/ops").select(*cols).collect()
    assert len(ops) == len([i for i in base if i % 2 == 0]) > 0
    assert all(tuple(r) == base[r["vec_id"]] for r in ops)
    # a listed delete lands typed null codes, read back alike with the
    # ledger's explicit schema and by a schema-inferring read
    VO.delete_vectors(spark, path, [1, 2])
    typ = VO.op_schema(spark, path)[col].dataType
    for ops in (VO.committed_op_scan(spark, path), spark.read.parquet(f"{path}/ops")):
        assert ops.schema[col].dataType == typ
        tomb = ops.filter("_mb = 1").select("vec_id", "shard_id", "op", "dist", col)
        assert sorted(map(tuple, tomb.collect())) == [
            (i, VO.TOMBSTONE_SHARD, VO.OP_DELETE, None, None) for i in (1, 2)
        ]
        up = ops.filter("_mb = 0").select(*cols).collect()
        assert len(up) > 0 and all(tuple(r) == base[r["vec_id"]] for r in up)


def test_upsert_past_driver_rows_fails_before_writing(spark, sf_dir, monkeypatch):
    """An upsert batch is collected to the driver under DRIVER_ROWS: a
    larger one fails loudly and leaves no trace in the ledger."""
    import os

    emb, cents, path = _build_layout(spark, sf_dir)
    monkeypatch.setattr(ANN, "DRIVER_ROWS", 5)
    with pytest.raises(ValueError, match="split the batch"):
        VO.upsert_vectors(spark, path, emb.filter(F.col("vec_id") < 6))
    assert not os.path.exists(f"{path}/ops") and not os.path.exists(f"{path}/_ops")
    assert VO.upsert_vectors(spark, path, emb.filter(F.col("vec_id") < 5)) == 0


def test_each_op_lands_one_file_from_the_driver(spark, sf_dir):
    """An upsert over many shards and a delete each land one file under
    their ops/_mb=<op>/ directory, shard_id a column (−1 for
    tombstones); with the centroid matrix read once, an upsert runs one
    Spark job (the batch collect) and a delete of listed ids none: both
    write their file from the driver."""
    emb, cents, path = _build_layout(spark, sf_dir)
    batch = emb.filter(F.col("vec_id") % 3 == 0)
    VO.upsert_vectors(spark, path, batch.filter(F.col("vec_id") % 2 == 0))
    _, n_up = _job_count(
        spark, lambda: VO.upsert_vectors(spark, path, batch.filter(F.col("vec_id") % 2 == 1))
    )
    _, n_del = _job_count(spark, lambda: VO.delete_vectors(spark, path, [1, 2, 2, 4]))
    assert (n_up, n_del) == (1, 0)
    for op in (0, 1, 2):
        assert len(_op_files(path, op)) == 1
    ops = spark.read.parquet(f"{path}/ops")
    assert ops.filter("_mb = 1").select("shard_id").distinct().count() > 3
    tomb = ops.filter("_mb = 2").select("vec_id", "shard_id", "op").collect()
    assert sorted(map(tuple, tomb)) == [(i, -1, VO.OP_DELETE) for i in (1, 2, 4)]


def test_landing_killed_before_its_rename_stays_invisible(spark, sf_dir, monkeypatch):
    """A landing killed after its file is staged but before the staged
    directory moves into ops/_mb=<op>/: searches serve the pre-crash
    results and no read sees the staged rows; the next upsert reclaims
    the id, its purge removes the staged leftovers, and every row lands
    once."""
    import os

    emb, cents, path = _build_layout(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )

    def search():
        return _rows(ANN.ivf_search_from_disk(queries, path, cents, k=5, nprobe=3))

    assert VO.delete_vectors(spark, path, [1]) == 0
    before = search()
    real = oplayout.write_parquet_file

    def killed(spark, table, p):
        real(spark, table, p)
        raise OSError("killed after staging")

    batch = emb.filter(F.col("vec_id") % 3 == 0)
    monkeypatch.setattr(oplayout, "write_parquet_file", killed)
    with pytest.raises(OSError, match="after staging"):
        VO.upsert_vectors(spark, path, batch)
    monkeypatch.undo()
    staged = oplayout.staging_dir(f"{path}/ops/_mb=1")
    assert [f for f in os.listdir(staged) if f.endswith(".parquet")]
    assert not os.path.exists(f"{path}/ops/_mb=1")
    assert search() == before
    assert spark.read.parquet(f"{path}/ops").count() == 1
    assert VO.committed_op_scan(spark, path).count() == 1

    assert VO.upsert_vectors(spark, path, batch) == 1
    assert not os.path.exists(staged) and len(_op_files(path, 1)) == 1
    ops = spark.read.parquet(f"{path}/ops")
    assert ops.count() == ops.select("vec_id").distinct().count() == batch.count() + 1
    live = F.col("vec_id") != 1
    assert search() == _rows(_expected(spark, emb, cents, live, queries))


def test_compact_in_place_runs_two_jobs_and_writes_no_histogram(spark, sf_dir):
    """Compaction rewrites only the shards: on a mutated layout whose
    mutation state a search has resolved it runs two Spark jobs (the
    clustering shuffle and the partitioned write; the dead ids ride a
    broadcast variable, which runs none), and the compacted layout has
    no distribution/ — the build's histogram describes the build
    only."""
    import os

    emb, cents, path = _build_layout(spark, sf_dir)
    assert os.path.isdir(f"{path}/distribution")
    VO.upsert_vectors(spark, path, emb.filter(F.col("vec_id") % 3 == 0))
    VO.delete_vectors(spark, path, [1, 2])
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    before = _rows(ANN.ivf_search_from_disk(queries, path, cents, k=5, nprobe=3))
    n_ops, n_jobs = _job_count(spark, lambda: VO.compact_in_place(spark, path))
    assert (n_ops, n_jobs) == (2, 2)
    assert not os.path.exists(f"{path}/distribution")
    assert _rows(ANN.ivf_search_from_disk(queries, path, cents, k=5, nprobe=3)) == before


def test_search_after_compact_in_place_runs_no_inference_job(spark, sf_dir):
    """compact_in_place files the new layout's shards schema under the
    swapped-in path, so the first search after it runs as many jobs as
    a repeat search — the query collect and the candidate scan, the
    centroid matrix served from memory (the copied centroid files keep
    their mtime) — and no .compacting entry is left behind."""
    emb, _, path = _build_layout(spark, sf_dir)
    VO.upsert_vectors(spark, path, emb.filter(F.col("vec_id") % 3 == 0))
    VO.delete_vectors(spark, path, [1, 2])
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )

    def search():
        cents = spark.read.parquet(f"{path}/centroids.parquet")
        return lambda: ANN.ivf_search_from_disk(queries, path, cents, k=5, nprobe=3).collect()

    before = sorted(map(tuple, search()()))
    assert VO.compact_in_place(spark, path) == 2
    rows, n_first = _job_count(spark, search())
    _, n_repeat = _job_count(spark, search())
    assert n_first == n_repeat <= 2, (n_first, n_repeat)
    assert sorted(map(tuple, rows)) == before
    assert not [k for k in oplayout._memo if ".compacting" in k[0]]


def test_rewritten_centroids_seen_by_next_search_and_upsert(spark, sf_dir):
    """The centroid matrix is memoized per state of centroids.parquet:
    a rebuild of the table (new files) is seen by the next upsert and
    by the next search that reads it, and a compaction's copy is served
    without a Spark job."""
    import numpy as np

    emb, cents, path = _build_layout(spark, sf_dir)
    m = cents.count()
    VO.upsert_vectors(spark, path, emb.filter(F.col("vec_id") == 3))
    flipped = cents.select((F.lit(m - 1) - F.col("shard_id")).alias("shard_id"), "centroid")
    flipped.localCheckpoint().write.mode("overwrite").parquet(f"{path}/centroids.parquet")
    batch = emb.filter(F.col("vec_id").isin(6, 9, 12))
    VO.upsert_vectors(spark, path, batch)
    want = SH.assign_to_centroids(batch, flipped).select("vec_id", "shard_id").collect()
    got = spark.read.parquet(f"{path}/ops").filter("_mb = 1").select("vec_id", "shard_id")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want))
    queries = batch.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    fresh = spark.read.parquet(f"{path}/centroids.parquet")
    routed = ANN._route_on_driver(queries, fresh, 1, query_id="qid", query_vec="qvec")
    want_routed = route_queries(queries, flipped, 1).select("qid", "shard_id").collect()
    assert sorted(
        (int(routed.qids[q]), s) for s, qs in routed.shard_to_q.items() for q in qs
    ) == sorted(map(tuple, want_routed))
    VO.compact_in_place(spark, path)
    (cids, cmat), n = _job_count(spark, lambda: ANN.centroid_matrix(spark, f"{path}/centroids.parquet"))
    assert n == 0
    assert sorted(cids.tolist()) == list(range(m)) and np.isfinite(cmat).all()


def _per_shard_ledger(spark, sf_dir):
    """A layout whose ledger was written before shard_id became a
    column: op 0 upserts the %3 == 0 ids, op 1 deletes 1, 2 and 3, each
    landed as ops/_mb=<op>/shard_id=S/ directories."""
    emb, cents, path = _build_layout(spark, sf_dir)
    up = SH.assign_to_centroids(
        emb.filter(F.col("vec_id") % 3 == 0), cents, extra_cols=["embedding"]
    ).select(
        "vec_id", F.col("dist").cast("double"), F.col("embedding").cast("array<float>"),
        F.lit(VO.OP_INSERT).alias("op"), F.col("shard_id").cast("int"),
    )
    tomb = spark.createDataFrame([(1,), (2,), (3,)], "vec_id long").select(
        "vec_id", F.lit(None).cast("double").alias("dist"),
        F.lit(None).cast("array<float>").alias("embedding"),
        F.lit(VO.OP_DELETE).alias("op"), F.lit(-1).alias("shard_id"),
    )
    for op, rows in enumerate((up, tomb)):
        oplayout.write_op_partitions(
            rows.withColumn("_mb", F.lit(op)), f"{path}/ops", ["_mb", "shard_id"]
        )
        oplayout.mark_committed(spark, path, op)
    live = ~F.col("vec_id").isin(1, 2, 3)
    return emb, cents, path, live


def test_per_shard_ledger_is_read_compacted_and_refuses_new_ops(spark, sf_dir):
    """A ledger of _mb=<op>/shard_id=S/ directories keeps serving and
    compacting; a new upsert or delete on it fails with "compact first"
    before it writes anything, and after compact_in_place ops land as
    one file under ops/_mb=<op>/."""
    import os

    emb, cents, path, live = _per_shard_ledger(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    want = _rows(_expected(spark, emb, cents, live, queries))
    assert _rows(ANN.ivf_search_from_disk(queries, path, cents, k=5, nprobe=3)) == want
    n_touched = emb.filter((F.col("vec_id") % 3 == 0) | F.col("vec_id").isin(1, 2)).count()
    assert VO.contested_count(spark, path) == n_touched
    assert VO.has_per_shard_ops(spark, path)

    def ledger():
        return sorted(os.listdir(f"{path}/ops")), sorted(os.listdir(f"{path}/_ops"))

    before = ledger()
    with pytest.raises(ValueError, match="compact first"):
        VO.upsert_vectors(spark, path, emb.filter(F.col("vec_id") == 4))
    with pytest.raises(ValueError, match="compact first"):
        VO.delete_vectors(spark, path, [4])
    assert ledger() == before
    assert VO.compact_in_place(spark, path) == 2
    assert _rows(ANN.ivf_search_from_disk(queries, path, cents, k=5, nprobe=3)) == want
    assert VO.delete_vectors(spark, path, [4]) == 0
    assert not VO.has_per_shard_ops(spark, path) and len(_op_files(path, 0)) == 1
    want = _rows(_expected(spark, emb, cents, live & (F.col("vec_id") != 4), queries))
    assert _rows(ANN.ivf_search_from_disk(queries, path, cents, k=5, nprobe=3)) == want
