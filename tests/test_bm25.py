"""BM25: parity against a pure-Python reference, cap/tie semantics."""

from __future__ import annotations

import math
from collections import Counter

import pytest
from pyspark.sql import functions as F

from big_ann_spark.operators.bm25 import B, K1, bm25_index, bm25_topk

DOCS = [
    (0, "spark query engine for big data"),
    (1, "spark query engine for big data"),          # exact dup of 0
    (2, "the quick brown fox jumps over the lazy dog"),
    (3, "big data needs a fast query engine"),
    (4, "fox and dog and fox"),
    (5, "completely unrelated words entirely"),
    (6, "spark spark spark spark spark spark spark"),
]


def _py_bm25(query_text, k1=K1, b=B, max_df=None, exclude_self=None):
    tfs = {i: Counter(t.split(" ")) for i, t in DOCS}
    dls = {i: sum(c.values()) for i, c in tfs.items()}
    n = len(DOCS)
    avgdl = sum(dls.values()) / n
    dfc = Counter(t for c in tfs.values() for t in c)
    out = {}
    for i, c in tfs.items():
        if i == exclude_self:
            continue
        s = 0.0
        for t, qtf in Counter(query_text.split(" ")).items():
            if t not in c or (max_df is not None and dfc[t] > max_df):
                continue
            idf = math.log(1 + (n - dfc[t] + 0.5) / (dfc[t] + 0.5))
            s += qtf * idf * c[t] * (k1 + 1) / (
                c[t] + k1 * (1 - b + b * dls[i] / avgdl)
            )
        if s > 0:
            out[i] = s
    return out


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_scores_match_python_reference(spark, corpus):
    idx = bm25_index(corpus)
    got = bm25_topk(
        corpus.filter(F.col("doc_id") == 0), idx, k=10, exclude_self=True
    ).collect()
    want = _py_bm25(DOCS[0][1], exclude_self=0)
    got_scores = {r.neighbor_id: r.score for r in got}
    assert set(got_scores) == set(want)
    for i, s in want.items():
        assert got_scores[i] == pytest.approx(s, rel=1e-12)
    # the exact duplicate must rank first
    assert got[0].neighbor_id == 1 and got[0].rank == 1


def test_max_df_drops_stopword_terms(spark, corpus):
    idx = bm25_index(corpus)
    got = {
        r.neighbor_id: r.score
        for r in bm25_topk(
            corpus.filter(F.col("doc_id") == 0), idx, k=10, max_df=2
        ).collect()
    }
    want = _py_bm25(DOCS[0][1], max_df=2)
    assert set(got) == set(want)
    for i, s in want.items():
        assert got[i] == pytest.approx(s, rel=1e-12)


def test_rounded_ties_break_by_doc_id(spark, corpus):
    """Docs 0 and 1 are identical → identical BM25 scores from any
    query that hits them; with score_round the tie must break by id."""
    idx = bm25_index(corpus)
    q = spark.createDataFrame([(99, "big data query")], "doc_id long, text string")
    got = bm25_topk(q, idx, k=10, score_round=6).collect()
    r01 = [r for r in got if r.neighbor_id in (0, 1)]
    assert r01[0].score == r01[1].score
    assert r01[0].neighbor_id == 0 and r01[0].rank + 1 == r01[1].rank


def test_index_stats(spark, corpus):
    idx = bm25_index(corpus)
    st = idx.stats.collect()[0]
    dls = [len(t.split(" ")) for _, t in DOCS]
    assert st.n_docs == len(DOCS)
    assert st.avgdl == pytest.approx(sum(dls) / len(dls))
    dfc = {r.term: r.df for r in idx.dfs.collect()}
    assert dfc["spark"] == 3 and dfc["fox"] == 2


def test_no_overlap_doc_absent(spark, corpus):
    idx = bm25_index(corpus)
    q = spark.createDataFrame([(7, "quick fox")], "doc_id long, text string")
    got = {r.neighbor_id for r in bm25_topk(q, idx, k=10).collect()}
    assert 5 not in got and got == {2, 4}


def test_persisted_index_round_trip(spark, corpus, tmp_path):
    from big_ann_spark.operators.bm25 import (
        bm25_topk_from_disk,
        read_bm25_index,
        write_bm25_index,
    )

    path = str(tmp_path / "idx")
    write_bm25_index(bm25_index(corpus), path, n_term_buckets=8)
    # read-back index works through the in-memory query path too
    got = bm25_topk(corpus, read_bm25_index(spark, path), k=3, score_round=6)
    want = bm25_topk(corpus, bm25_index(corpus), k=3, score_round=6)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # and through the pruned from-disk path
    got2 = bm25_topk_from_disk(spark, path, corpus, k=3, score_round=6)
    assert sorted(map(tuple, got2.collect())) == sorted(map(tuple, want.collect()))


def test_from_disk_query_is_partition_pruned(spark, corpus, tmp_path):
    from big_ann_spark.operators.bm25 import (
        bm25_topk_from_disk,
        write_bm25_index,
    )

    path = str(tmp_path / "idx")
    write_bm25_index(bm25_index(corpus), path, n_term_buckets=64)
    q = corpus.filter(F.col("doc_id") == 4)  # "fox and dog and fox"
    out = bm25_topk_from_disk(spark, path, q, k=3)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    # STATIC partition pruning: the query's bucket set (bounded by
    # n_term_buckets, a layout constant) lands in PartitionFilters at
    # planning time — no DPP subquery needed
    after = plan.split("PartitionFilters", 1)[1][:300]
    assert "_tb" in after and " IN " in after, after
    # results still exact vs in-memory
    want = bm25_topk(q, bm25_index(corpus), k=3)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, want.collect()))


def test_incremental_merge_equals_full_rebuild(spark, corpus, tmp_path):
    from big_ann_spark.operators.bm25 import (
        bm25_topk_from_disk,
        merge_bm25_index,
        read_bm25_index,
        write_bm25_index,
    )

    old = corpus.filter(F.col("doc_id") <= 3)
    delta = corpus.filter(F.col("doc_id") > 3)
    path = str(tmp_path / "idx")
    write_bm25_index(bm25_index(old), path, n_term_buckets=8)
    merge_bm25_index(spark, path, delta)

    merged = read_bm25_index(spark, path)
    full = bm25_index(corpus)
    assert sorted(
        map(tuple, merged.postings.select("doc", "term", "tf", "dl").collect())
    ) == sorted(map(tuple, full.postings.collect()))
    assert sorted(map(tuple, merged.dfs.collect())) == sorted(
        map(tuple, full.dfs.collect())
    )
    got_stats, want_stats = merged.stats.collect()[0], full.stats.collect()[0]
    assert got_stats.n_docs == want_stats.n_docs
    assert got_stats.avgdl == pytest.approx(want_stats.avgdl)
    # a second merge of an empty-ish batch is a no-op on stats weights
    got = bm25_topk_from_disk(spark, path, corpus, k=3, score_round=6)
    want = bm25_topk(corpus, full, k=3, score_round=6)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def _plan(df):
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_pushdown_gated_by_query_vocab_size(spark, corpus, tmp_path):
    """VERDICT r8 #1: the term-In push is a row-group-skipping bonus
    for NARROW query batches; a wide (decontamination-shaped) batch
    must NOT inline its whole vocabulary as literals — the broadcast
    join + DPP bucket pruning carry the plan alone."""
    from big_ann_spark.operators.bm25 import (
        bm25_topk_from_disk,
        write_bm25_index,
    )

    path = str(tmp_path / "idx")
    write_bm25_index(bm25_index(corpus), path, n_term_buckets=64)
    q = corpus  # every doc as a query: vocabulary ≫ a tiny cap

    wide = bm25_topk_from_disk(
        spark, path, q, k=3, score_round=6, max_pushdown_terms=4
    )
    plan = _plan(wide)
    # static bucket pruning always present (the bucket-set literal is
    # bounded by n_term_buckets no matter how wide the vocabulary)...
    after = plan.split("PartitionFilters", 1)[1][:300]
    assert "_tb" in after and " IN " in after, after
    # ...but no query term appears as a pushed literal anywhere
    assert "engine" not in plan and "unrelated" not in plan, plan[:4000]

    narrow = bm25_topk_from_disk(
        spark, path, corpus.filter(F.col("doc_id") == 4), k=3, score_round=6
    )
    nplan = _plan(narrow)
    assert "fox" in nplan  # below the cap: the In push IS applied

    # the gate changes plans, never results
    want = bm25_topk(q, bm25_index(corpus), k=3, score_round=6)
    assert sorted(map(tuple, wide.collect())) == sorted(map(tuple, want.collect()))


def test_merge_rerun_same_op_id_is_idempotent(spark, corpus, tmp_path):
    """ADVICE r8: re-running a merge (crash recovery) must not
    double-count tf/df — the op's dynamic-overwrite partitions make the
    re-run a pure self-overwrite."""
    from big_ann_spark.operators.bm25 import (
        bm25_index,
        merge_bm25_index,
        read_bm25_index,
        write_bm25_index,
    )

    old = corpus.filter(F.col("doc_id") <= 3)
    delta = corpus.filter(F.col("doc_id") > 3)
    path = str(tmp_path / "idx")
    write_bm25_index(bm25_index(old), path, n_term_buckets=8)
    op = merge_bm25_index(spark, path, delta)
    merge_bm25_index(spark, path, delta, op_id=op)  # replay

    merged, full = read_bm25_index(spark, path), bm25_index(corpus)
    assert sorted(
        map(tuple, merged.postings.select("doc", "term", "tf", "dl").collect())
    ) == sorted(map(tuple, full.postings.collect()))
    assert sorted(map(tuple, merged.dfs.collect())) == sorted(
        map(tuple, full.dfs.collect())
    )
    g, w = merged.stats.collect()[0], full.stats.collect()[0]
    assert g.n_docs == w.n_docs and g.avgdl == pytest.approx(w.avgdl)


def test_crashed_op_is_invisible_then_recoverable(spark, corpus, tmp_path, monkeypatch):
    """A crash before the commit marker leaves the op's partitions on
    disk but readers must not see them; a fresh auto-id merge re-targets
    the crashed id and lands cleanly."""
    from big_ann_spark.operators import bm25 as BM

    old = corpus.filter(F.col("doc_id") <= 3)
    delta = corpus.filter(F.col("doc_id") > 3)
    path = str(tmp_path / "idx")
    BM.write_bm25_index(BM.bm25_index(old), path, n_term_buckets=8)

    def boom(*a, **k):
        raise RuntimeError("crash before marker")

    monkeypatch.setattr(BM, "_mark_committed", boom)
    with pytest.raises(RuntimeError):
        BM.merge_bm25_index(spark, path, delta)
    monkeypatch.undo()

    # the half-landed op is invisible on every read path
    got = BM.bm25_topk_from_disk(spark, path, old, k=3, score_round=6)
    want = bm25_topk(old, BM.bm25_index(old), k=3, score_round=6)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    st = BM.read_bm25_index(spark, path).stats.collect()[0]
    assert st.n_docs == old.count()

    # recovery: the auto-allocated id re-targets the crashed op
    op = BM.merge_bm25_index(spark, path, delta)
    assert op == 0
    got2 = BM.bm25_topk_from_disk(spark, path, corpus, k=3, score_round=6)
    want2 = bm25_topk(corpus, BM.bm25_index(corpus), k=3, score_round=6)
    assert sorted(map(tuple, got2.collect())) == sorted(map(tuple, want2.collect()))


def test_delete_equals_from_scratch_rebuild(spark, corpus, tmp_path):
    """VERDICT r8 #4: tombstone deletes — search over index-with-deletes
    must equal a from-scratch index of the surviving docs, on both the
    from-disk and read-back query paths."""
    from big_ann_spark.operators.bm25 import (
        bm25_index,
        bm25_topk_from_disk,
        delete_from_bm25_index,
        read_bm25_index,
        write_bm25_index,
    )

    path = str(tmp_path / "idx")
    write_bm25_index(bm25_index(corpus), path, n_term_buckets=8)
    dead = corpus.filter(F.col("doc_id").isin([1, 4]))
    delete_from_bm25_index(spark, path, dead)

    kept = corpus.filter(~F.col("doc_id").isin([1, 4]))
    want = bm25_topk(kept, bm25_index(kept), k=4, score_round=6)
    got_disk = bm25_topk_from_disk(spark, path, kept, k=4, score_round=6)
    assert sorted(map(tuple, got_disk.collect())) == sorted(
        map(tuple, want.collect())
    )
    logical = read_bm25_index(spark, path)
    got_mem = bm25_topk(kept, logical, k=4, score_round=6)
    assert sorted(map(tuple, got_mem.collect())) == sorted(
        map(tuple, want.collect())
    )
    # dfs/stats corrected exactly (integer df sums; avgdl to fp tolerance)
    full_kept = bm25_index(kept)
    assert sorted(map(tuple, logical.dfs.collect())) == sorted(
        map(tuple, full_kept.dfs.collect())
    )
    g, w = logical.stats.collect()[0], full_kept.stats.collect()[0]
    assert g.n_docs == w.n_docs and g.avgdl == pytest.approx(w.avgdl)


def test_delete_crash_window_and_replay(spark, corpus, tmp_path, monkeypatch):
    from big_ann_spark.operators import bm25 as BM

    path = str(tmp_path / "idx")
    BM.write_bm25_index(BM.bm25_index(corpus), path, n_term_buckets=8)
    dead = corpus.filter(F.col("doc_id") == 4)

    monkeypatch.setattr(BM, "_mark_committed", lambda *a: 1 / 0)
    with pytest.raises(ZeroDivisionError):
        BM.delete_from_bm25_index(spark, path, dead)
    monkeypatch.undo()

    # crashed delete invisible: doc 4 still retrievable
    q = spark.createDataFrame([(9, "fox and dog")], "doc_id long, text string")
    assert 4 in {
        r.neighbor_id
        for r in BM.bm25_topk_from_disk(spark, path, q, k=5).collect()
    }
    op = BM.delete_from_bm25_index(spark, path, dead)
    BM.delete_from_bm25_index(spark, path, dead, op_id=op)  # replay, no double-count
    kept = corpus.filter(F.col("doc_id") != 4)
    want = bm25_topk(q, BM.bm25_index(kept), k=5, score_round=6)
    got = BM.bm25_topk_from_disk(spark, path, q, k=5, score_round=6)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_compaction_folds_tombstones_and_deltas(spark, corpus, tmp_path):
    from big_ann_spark.operators.bm25 import (
        bm25_index,
        bm25_topk_from_disk,
        compact_bm25_index,
        delete_from_bm25_index,
        merge_bm25_index,
        write_bm25_index,
    )
    import os

    path, dst = str(tmp_path / "idx"), str(tmp_path / "compacted")
    write_bm25_index(bm25_index(corpus.filter(F.col("doc_id") <= 3)), path,
                     n_term_buckets=8)
    merge_bm25_index(spark, path, corpus.filter(F.col("doc_id") > 3))
    delete_from_bm25_index(spark, path, corpus.filter(F.col("doc_id") == 1))

    kept = corpus.filter(F.col("doc_id") != 1)
    n = compact_bm25_index(spark, path, dst)
    assert n == bm25_index(kept).postings.count()
    # fresh base epoch: no op state left
    for sub in ("dfs_delta.parquet", "stats_delta.parquet",
                "tombstones.parquet", "_ops"):
        assert not os.path.exists(f"{dst}/{sub}")
    got = bm25_topk_from_disk(spark, dst, kept, k=4, score_round=6)
    want = bm25_topk(kept, bm25_index(kept), k=4, score_round=6)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_cli_bm25_build_search_merge(spark, tmp_path, capsys):
    from big_ann_spark.cli import main

    src_a = str(tmp_path / "a")
    src_b = str(tmp_path / "b")
    spark.createDataFrame(DOCS[:4], "doc_id long, text string").write.parquet(src_a)
    spark.createDataFrame(DOCS[4:], "doc_id long, text string").write.parquet(src_b)
    idx = str(tmp_path / "idx")
    assert main(["bm25-build", src_a, idx, "--term-buckets", "8"]) == 0
    assert main(["bm25-merge", idx, src_b]) == 0
    out = str(tmp_path / "res")
    assert main(["bm25-search", idx, src_a, "--k", "3", "--out", out]) == 0
    got = spark.read.parquet(out)
    from big_ann_spark.operators.bm25 import bm25_index, bm25_topk

    full = spark.createDataFrame(DOCS, "doc_id long, text string")
    want = bm25_topk(
        spark.createDataFrame(DOCS[:4], "doc_id long, text string"),
        bm25_index(full), k=3,
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


@pytest.mark.slow
def test_replace_doc_delete_then_merge(spark, corpus, tmp_path):
    """The documented replace-a-doc flow: delete the old version, merge
    the new one. Tombstone resolution is latest-op-wins (op order), so
    the re-merged doc must be retrievable — a plain doc-id anti-join
    would suppress it forever."""
    from big_ann_spark.operators.bm25 import (
        bm25_index,
        bm25_topk_from_disk,
        delete_from_bm25_index,
        merge_bm25_index,
        read_bm25_index,
        write_bm25_index,
    )

    path = str(tmp_path / "idx")
    write_bm25_index(bm25_index(corpus), path, n_term_buckets=8)
    old_doc4 = corpus.filter(F.col("doc_id") == 4)  # "fox and dog and fox"
    delete_from_bm25_index(spark, path, old_doc4)
    new_doc4 = spark.createDataFrame(
        [(4, "fox terrier chases the ball")], "doc_id long, text string"
    )
    merge_bm25_index(spark, path, new_doc4)

    want_corpus = corpus.filter(F.col("doc_id") != 4).unionByName(new_doc4)
    want_idx = bm25_index(want_corpus)
    got_idx = read_bm25_index(spark, path)
    assert sorted(
        map(tuple, got_idx.postings.select("doc", "term", "tf", "dl").collect())
    ) == sorted(map(tuple, want_idx.postings.collect()))
    assert sorted(map(tuple, got_idx.dfs.collect())) == sorted(
        map(tuple, want_idx.dfs.collect())
    )
    g, w = got_idx.stats.collect()[0], want_idx.stats.collect()[0]
    assert g.n_docs == w.n_docs and g.avgdl == pytest.approx(w.avgdl)

    q = spark.createDataFrame([(9, "fox terrier")], "doc_id long, text string")
    got = bm25_topk_from_disk(spark, path, q, k=5, score_round=6)
    want = bm25_topk(q, want_idx, k=5, score_round=6)
    assert 4 in {r.neighbor_id for r in got.collect()}
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # a second delete of the REPLACED doc works too (delete > merge op)
    delete_from_bm25_index(spark, path, new_doc4)
    kept = corpus.filter(F.col("doc_id") != 4)
    got2 = bm25_topk_from_disk(spark, path, q, k=5, score_round=6)
    want2 = bm25_topk(q, bm25_index(kept), k=5, score_round=6)
    assert sorted(map(tuple, got2.collect())) == sorted(map(tuple, want2.collect()))


def test_delete_batch_with_duplicate_rows(spark, corpus, tmp_path):
    """Takedown lists repeat ids; the negative stats/df deltas must
    subtract each document exactly once."""
    from big_ann_spark.operators.bm25 import (
        bm25_index,
        delete_from_bm25_index,
        read_bm25_index,
        write_bm25_index,
    )

    path = str(tmp_path / "idx")
    write_bm25_index(bm25_index(corpus), path, n_term_buckets=8)
    doc4 = corpus.filter(F.col("doc_id") == 4)
    delete_from_bm25_index(spark, path, doc4.unionByName(doc4))  # dup rows

    kept = corpus.filter(F.col("doc_id") != 4)
    want = bm25_index(kept)
    got = read_bm25_index(spark, path)
    assert sorted(map(tuple, got.dfs.collect())) == sorted(
        map(tuple, want.dfs.collect())
    )
    g, w = got.stats.collect()[0], want.stats.collect()[0]
    assert g.n_docs == w.n_docs and g.avgdl == pytest.approx(w.avgdl)


def test_crash_between_ledger_and_postings(spark, corpus, tmp_path, monkeypatch):
    """stats_delta is the op-id ledger and lands FIRST — a crash after
    it but before the postings write must leave a half-op that is (a)
    invisible to readers and (b) discoverable by the single-ledger
    glob, so the next auto-id op reclaims it."""
    from big_ann_spark.operators import bm25 as BM

    path = str(tmp_path / "idx")
    old = corpus.filter(F.col("doc_id") <= 3)
    delta = corpus.filter(F.col("doc_id") > 3)
    BM.write_bm25_index(BM.bm25_index(old), path, n_term_buckets=8)

    orig = BM._write_op_partitions

    def boom(df, target, cols):
        if "postings.parquet" in target:
            raise RuntimeError("crash mid-op")
        return orig(df, target, cols)

    monkeypatch.setattr(BM, "_write_op_partitions", boom)
    with pytest.raises(RuntimeError):
        BM.merge_bm25_index(spark, path, delta)
    monkeypatch.undo()

    # half-op (ledger only, no postings) invisible on every read path
    st = BM.read_bm25_index(spark, path).stats.collect()[0]
    assert st.n_docs == old.count()
    assert BM.uncommitted_op_ids(spark, path) == [0]

    # recovery: the auto-allocated id reclaims the crashed ledger entry
    assert BM.merge_bm25_index(spark, path, delta) == 0
    got = BM.bm25_topk_from_disk(spark, path, corpus, k=3, score_round=6)
    want = bm25_topk(corpus, BM.bm25_index(corpus), k=3, score_round=6)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


@pytest.mark.slow
def test_as_of_snapshot_reads(spark, corpus, tmp_path):
    """Time travel over the op-delta layout: as_of=N is the index
    exactly as it stood after op N (a partition-range filter — no
    replay, no extra storage), for every point in a
    build -> merge -> delete -> replace history."""
    from big_ann_spark.operators.bm25 import (
        bm25_index,
        bm25_topk_from_disk,
        delete_from_bm25_index,
        merge_bm25_index,
        read_bm25_index,
        write_bm25_index,
    )

    path = str(tmp_path / "idx")
    base = corpus.filter(F.col("doc_id") <= 3)
    write_bm25_index(bm25_index(base), path, n_term_buckets=8)
    op0 = merge_bm25_index(spark, path, corpus.filter(F.col("doc_id") > 3))
    op1 = delete_from_bm25_index(spark, path, corpus.filter(F.col("doc_id") == 4))
    new4 = spark.createDataFrame(
        [(4, "fox terrier chases the ball")], "doc_id long, text string"
    )
    op2 = merge_bm25_index(spark, path, new4)
    assert (op0, op1, op2) == (0, 1, 2)

    snapshots = {
        -1: base,
        0: corpus,
        1: corpus.filter(F.col("doc_id") != 4),
        2: corpus.filter(F.col("doc_id") != 4).unionByName(new4),
    }
    for as_of, want_corpus in snapshots.items():
        want = bm25_index(want_corpus)
        got = read_bm25_index(spark, path, as_of=as_of)
        assert sorted(
            map(tuple, got.postings.select("doc", "term", "tf", "dl").collect())
        ) == sorted(map(tuple, want.postings.collect())), f"as_of={as_of}"
        assert sorted(map(tuple, got.dfs.collect())) == sorted(
            map(tuple, want.dfs.collect())
        ), f"as_of={as_of}"
        g, w = got.stats.collect()[0], want.stats.collect()[0]
        assert g.n_docs == w.n_docs and g.avgdl == pytest.approx(w.avgdl)

        q = spark.createDataFrame([(9, "fox and dog")], "doc_id long, text string")
        got_q = bm25_topk_from_disk(spark, path, q, k=5, score_round=6, as_of=as_of)
        want_q = bm25_topk(q, want, k=5, score_round=6)
        assert sorted(map(tuple, got_q.collect())) == sorted(
            map(tuple, want_q.collect())
        ), f"as_of={as_of}"

    # omitting as_of reads the head (== as_of=latest)
    head = read_bm25_index(spark, path)
    as2 = read_bm25_index(spark, path, as_of=2)
    assert sorted(map(tuple, head.dfs.collect())) == sorted(
        map(tuple, as2.dfs.collect())
    )
