"""Multi-probe LSH recall lift and frequency-capped Jaccard bounds."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_ann_spark.catalog import load_table
from big_ann_spark.operators import ann as ANN
from big_ann_spark.operators import dedup as D
from big_ann_spark.operators.knn import exact_knn


@pytest.mark.slow
def test_multiprobe_lifts_recall(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    exact = exact_knn(
        emb.filter(F.col("vec_id") < 20), emb, k=10,
        query_id="vec_id", query_vec="embedding",
        base_id="vec_id", base_vec="embedding",
    ).select("qid", "neighbor_id")
    n_exact = exact.count()

    def recall(multiprobe):
        got = ANN.lsh_bucket_search(
            queries, emb, k=10, multiprobe=multiprobe
        ).select("qid", "neighbor_id")
        return exact.join(got, ["qid", "neighbor_id"]).count() / n_exact

    r1, r9 = recall(False), recall(True)
    # 8-bit sign buckets over a few hundred near-orthogonal gaussians
    # are inherently coarse (single-probe ≈ 0.13); the contract is the
    # lift from probing the 8 Hamming-1 buckets (≈ 2x, measured 0.24)
    assert r9 > r1, (r1, r9)
    assert r9 >= r1 * 1.5, (r1, r9)


def test_capped_jaccard_is_lower_bound_subset(spark):
    rows = [
        (1, "a b c d e f g h"),
        (2, "a b c d e f g z"),
        (3, "a b c q r s t u"),
        (4, "v w x y zz q r s"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    full = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.jaccard_similarity_pairs(docs).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.jaccard_similarity_pairs(docs, max_doc_freq=2).collect()
    }
    assert set(capped) <= set(full)
    for pair, j in capped.items():
        assert j <= full[pair] + 1e-12


@pytest.mark.slow
def test_nn_descent_recall_improves_and_converges(spark, sf_dir):
    """NN-Descent kNN-graph: recall vs the exact (self-excluded) kNN
    graph rises monotonically with iterations and the converged graph
    recovers >= 0.9 of true neighbors; the build is deterministic
    (hash init + (dist, id) tie-breaks), so two runs are identical."""
    from big_ann_spark.operators.knn import recall_at_k

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    k = 10
    exact = (
        exact_knn(
            emb.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")),
            emb, k=k + 1,
            base_id="vec_id", base_vec="embedding",
        )
        .filter(F.col("neighbor_id") != F.col("qid"))
        .select("qid", "neighbor_id")
    )

    def graph_recall(iterations):
        g = ANN.nn_descent_knn_graph(emb, k=k, iterations=iterations, dim=64)
        pred = g.select(F.col("src").alias("qid"), F.col("dst").alias("neighbor_id"))
        return recall_at_k(pred, exact, k).collect()[0].recall_at_k

    r0, r2, r4 = graph_recall(0), graph_recall(2), graph_recall(4)
    assert r0 < r2 <= r4, (r0, r2, r4)
    assert r4 >= 0.9, r4

    # ρ-sampling (the paper's candidate trim): at ρ=0.5 each iteration
    # scores ~25% of the full candidate volume, so convergence slows
    # but must still beat the unsampled iteration count below it and
    # stay deterministic (hash-Bernoulli, seeded)
    g5 = ANN.nn_descent_knn_graph(
        emb, k=k, iterations=4, dim=64, sample_rate=0.5
    )
    pred5 = g5.select(F.col("src").alias("qid"), F.col("dst").alias("neighbor_id"))
    from big_ann_spark.operators.knn import recall_at_k as _r

    r4s = _r(pred5, exact, k).collect()[0].recall_at_k
    assert r0 < r4s, (r0, r4s)
    assert r4s >= 0.6, r4s
    s1 = sorted(map(tuple, g5.collect()))
    s2 = sorted(
        map(
            tuple,
            ANN.nn_descent_knn_graph(
                emb, k=k, iterations=4, dim=64, sample_rate=0.5
            ).collect(),
        )
    )
    assert s1 == s2

    a = sorted(map(tuple, ANN.nn_descent_knn_graph(emb, k=k, iterations=2, dim=64).collect()))
    b = sorted(map(tuple, ANN.nn_descent_knn_graph(emb, k=k, iterations=2, dim=64).collect()))
    assert a == b
    # the single-exchange agg merge is bit-identical to the
    # dropDuplicates+window merge (duplicate (src,dst) rows always
    # carry the identical deterministic dist, and (dist,dst) struct
    # order == the window order)
    c = sorted(
        map(
            tuple,
            ANN.nn_descent_knn_graph(
                emb, k=k, iterations=2, dim=64, merge_strategy="agg"
            ).collect(),
        )
    )
    assert c == a
    # new/old-flag local join (the paper's candidate trim): identical
    # output on the fixture — a both-old co-neighbor pair was already
    # scored in the round its later endpoint arrived (see the rcap
    # caveat in the operator comment; equality is fixture-verified, the
    # invariant argued, not guaranteed under reverse-cap churn)
    d = sorted(
        map(
            tuple,
            ANN.nn_descent_knn_graph(
                emb, k=k, iterations=2, dim=64, local_join="new_old"
            ).collect(),
        )
    )
    assert d == a

    # delta stopping rule: with a generous churn bound the build stops
    # early but still matches a fixed-2-iteration result (the bound is
    # only reached after real progress), and converge_churn without the
    # flags machinery is rejected
    e = ANN.nn_descent_knn_graph(
        emb, k=k, iterations=10, dim=64,
        local_join="new_old", converge_churn=0.01,
    )
    pred_e = e.select(F.col("src").alias("qid"), F.col("dst").alias("neighbor_id"))
    from big_ann_spark.operators.knn import recall_at_k as _rk

    r_conv = _rk(pred_e, exact, k).collect()[0].recall_at_k
    assert r_conv >= 0.9, r_conv
    import pytest as _pytest

    with _pytest.raises(ValueError, match="new_old"):
        ANN.nn_descent_knn_graph(emb, k=k, iterations=2, dim=64, converge_churn=0.1)
    # sampling an edge out of its only "new" round would lose its pairs
    # forever — the knob combination is rejected
    with _pytest.raises(ValueError, match="cannot combine"):
        ANN.nn_descent_knn_graph(
            emb, k=k, iterations=2, dim=64,
            sample_rate=0.5, local_join="new_old",
        )


@pytest.mark.slow
def test_nn_descent_covers_every_node(spark, sf_dir):
    """ADVICE r6: a node whose init buckets are all singletons used to
    be silently absent from the returned graph. The orphan backfill
    must guarantee every input node has >= 1 src row. Exercised with
    init_memberships=1 (maximizes singleton odds) across seeds, and the
    fixture must actually produce an orphan for some seed."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 40)
    n = emb.count()
    kb = 4  # k=2 -> build_k default 4
    n_buckets = max(1, n // kb)
    saw_orphan = False
    for seed in range(1, 8):
        # reproduce the init membership to know whether this seed
        # orphans someone (single membership -> singleton bucket)
        member = emb.select(
            F.col("vec_id").alias("_nid"),
            (
                (F.xxhash64(F.col("vec_id"), F.lit(seed), F.lit(0)) % n_buckets
                 + n_buckets) % n_buckets
            ).alias("_bkt"),
        )
        sizes = member.groupBy("_bkt").count()
        orphan_cnt = (
            member.join(sizes, "_bkt").filter(F.col("count") == 1).count()
        )
        saw_orphan = saw_orphan or orphan_cnt > 0
        g = ANN.nn_descent_knn_graph(
            emb, k=2, iterations=1, dim=64, init_memberships=1, seed=seed
        )
        covered = g.select("src").distinct().count()
        assert covered == n, (seed, covered, n, orphan_cnt)
    assert saw_orphan, "fixture never produced an orphan; test is vacuous"


@pytest.mark.slow
def test_knn_graph_search_recall_and_determinism(spark, sf_dir):
    """Beam search over the NN-Descent graph: recall rises with hop
    count and reaches >= 0.95 of the exact (self-included) top-10 at
    beam=24/hops=4; the search is deterministic."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    qs = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    exact = (
        exact_knn(qs, emb, k=10, base_id="vec_id", base_vec="embedding")
        .select("qid", "neighbor_id")
        .localCheckpoint()
    )
    g = ANN.nn_descent_knn_graph(emb, k=10, iterations=3, dim=64).localCheckpoint()
    from big_ann_spark.operators.knn import recall_at_k

    def rec(hops, n_entry=4):
        got = ANN.knn_graph_search(
            qs, g, emb, k=10, beam=24, hops=hops, n_entry=n_entry, dim=64
        )
        return recall_at_k(
            got.select("qid", "neighbor_id"), exact, 10
        ).collect()[0].recall_at_k

    # from few entries, recall grows with hop depth (best-first
    # actually makes progress); default params reach >= 0.95
    r1, r4 = rec(1), rec(4)
    assert r1 < r4, (r1, r4)
    got_default = ANN.knn_graph_search(qs, g, emb, k=10, dim=64)
    r_def = recall_at_k(
        got_default.select("qid", "neighbor_id"), exact, 10
    ).collect()[0].recall_at_k
    assert r_def >= 0.95, r_def

    a = sorted(map(tuple, ANN.knn_graph_search(qs, g, emb, k=10, dim=64).collect()))
    b = sorted(map(tuple, ANN.knn_graph_search(qs, g, emb, k=10, dim=64).collect()))
    assert a == b


@pytest.mark.slow
def test_knn_graph_search_from_disk_equals_in_memory(spark, sf_dir, tmp_path):
    """VERDICT r11 #3 — the persisted graph tier: a write_knn_graph_layout
    serving layout must reproduce the in-memory beam search EXACTLY, in
    BOTH point-fetch regimes (bounded ids pushed as literals; the
    over-cap distributed-join path via max_id_pushdown=0)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    qs = emb.filter(F.col("vec_id") < 12).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    g = ANN.nn_descent_knn_graph(emb, k=8, iterations=2, dim=64).localCheckpoint()
    path = str(tmp_path / "glayout")
    ANN.write_knn_graph_layout(g, emb, path, n_graph_buckets=8)

    def rows(df):
        return sorted(
            (r["qid"], r["neighbor_id"], round(r["dist"], 9), r["rank"])
            for r in df.select("qid", "neighbor_id", "dist", "rank").collect()
        )

    want = rows(ANN.knn_graph_search(qs, g, emb, k=10, beam=16, hops=4, dim=64))
    got = rows(
        ANN.knn_graph_search_from_disk(qs, path, k=10, beam=16, hops=4, dim=64)
    )
    assert got == want and len(got) > 0
    got0 = rows(
        ANN.knn_graph_search_from_disk(
            qs, path, k=10, beam=16, hops=4, dim=64, max_id_pushdown=0
        )
    )
    assert got0 == want

    # ADVICE r12: the over-cap branch is only reached when the id set
    # EXCEEDS the gate (it grows with Q·beam·degree) — forcing a
    # broadcast of an unbounded set risks driver OOM at exactly the
    # batch sizes the branch targets. The wide path must leave the
    # frontier/candidate id semi-joins to AQE: the only broadcast
    # hints it places are the contractually tiny query batch
    # (qid, _qv) and entry table (node, _nvec) — never a bare (node)
    # id set.
    import big_ann_spark.operators.ann as ann_mod

    real = ann_mod.F.broadcast
    hinted: list[tuple[str, ...]] = []

    def record(df):
        hinted.append(tuple(df.columns))
        return real(df)

    try:
        ann_mod.F.broadcast = record
        got_wide = rows(
            ANN.knn_graph_search_from_disk(
                qs, path, k=10, beam=16, hops=4, dim=64, max_id_pushdown=0
            )
        )
    finally:
        ann_mod.F.broadcast = real
    assert got_wide == want
    assert hinted and all(cols != ("node",) for cols in hinted)


@pytest.mark.slow
def test_graph_search_exhausted_space_early_exit(spark, sf_dir, tmp_path):
    """With n_entry >= n and a big beam the search space exhausts in
    one hop; the from-disk loop must break out of the remaining hops
    (no-op jobs) and still equal the in-memory search exactly —
    early exit fires only when no scored-but-unexpanded node is left,
    which is precisely when further hops cannot change the result."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 30)
    qs = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    g = ANN.nn_descent_knn_graph(emb, k=4, iterations=1, dim=64)
    path = str(tmp_path / "glayout")
    ANN.write_knn_graph_layout(g, emb, path, n_graph_buckets=4)

    def rows(df):
        return sorted(
            (r["qid"], r["neighbor_id"], round(r["dist"], 9), r["rank"])
            for r in df.select("qid", "neighbor_id", "dist", "rank").collect()
        )

    got = rows(
        ANN.knn_graph_search_from_disk(
            qs, path, k=5, beam=30, hops=10, n_entry=30, dim=64
        )
    )
    want = rows(
        ANN.knn_graph_search(qs, g, emb, k=5, beam=30, hops=10, n_entry=30, dim=64)
    )
    assert got == want and len(got) == 20


def test_graph_record_fetch_is_pruned(spark, sf_dir, tmp_path):
    """The from-disk hop's record fetch must carry a static _gb
    PartitionFilters entry AND a node-id pushdown — a hop reads only
    the frontier's buckets, never the whole node table."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    g = ANN.nn_descent_knn_graph(emb, k=4, iterations=1, dim=64)
    path = str(tmp_path / "glayout")
    ANN.write_knn_graph_layout(g, emb, path, n_graph_buckets=8)
    ids_df = spark.createDataFrame([(3,), (7,)], "node long")
    ids, tbs = ANN._collect_ids_and_buckets(ids_df, 8, 1024)
    assert ids is not None and len(tbs) <= 2
    recs = ANN._fetch_graph_records(spark, path, ids, tbs, ["node", "neighbors"])
    plan = recs._jdf.queryExecution().executedPlan().toString()
    seg = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "PartitionFilters" in ln
    ]
    assert seg and "_gb" in seg[0].split("PartitionFilters")[1].split("]")[0]
    assert "node" in seg[0].split("PushedFilters")[1]
    # and the gate: past the cap, no ids are collected
    assert ANN._collect_ids_and_buckets(ids_df, 8, 1) == (None, None)


@pytest.mark.slow
def test_ivf_seeded_graph_recall_and_coverage(spark, sf_dir):
    """VERDICT r12 #1 — the scale-path graph build: IVF multi-probe
    seeding + capped refinement must (a) cover EVERY node as a src,
    (b) keep rank semantics (1..k by (dist, dst), no self edges, no
    duplicate dst per src), (c) reach recall >= the hash init's bar
    on the same fixture, and (d) be deterministic within a session."""
    emb = load_table(spark, sf_dir, "embeddings").localCheckpoint()
    n = emb.count()
    g = ANN.ivf_seeded_knn_graph(
        emb, k=10, dim=64, target_shard_rows=256,
        refine_iterations=1, local_join_cap=8,
    ).localCheckpoint()
    # coverage + rank semantics
    assert g.select("src").distinct().count() == n
    assert g.filter(F.col("src") == F.col("dst")).count() == 0
    per = g.groupBy("src").agg(
        F.count("*").alias("c"), F.countDistinct("dst").alias("d"),
        F.min("rank").alias("lo"), F.max("rank").alias("hi"),
    )
    bad = per.filter(
        (F.col("c") != F.col("d")) | (F.col("lo") != 1) | (F.col("hi") > 10)
    )
    assert bad.count() == 0
    # recall vs exact kNN (self excluded)
    qs = emb.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    from pyspark.sql import Window

    gt = (
        exact_knn(qs, emb, k=11, base_id="vec_id", base_vec="embedding")
        .filter(F.col("neighbor_id") != F.col("qid"))
        .withColumn(
            "_r",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(
                    F.col("dist").asc(), F.col("neighbor_id").asc()
                )
            ),
        )
        .filter(F.col("_r") <= 10)
        .select(F.col("qid").alias("src"), F.col("neighbor_id").alias("dst"))
        .localCheckpoint()
    )
    recall = g.join(gt, ["src", "dst"]).count() / gt.count()
    assert recall >= 0.9
    # determinism: a second build in the same session is identical
    g2 = ANN.ivf_seeded_knn_graph(
        emb, k=10, dim=64, target_shard_rows=256,
        refine_iterations=1, local_join_cap=8,
    )
    a = sorted((r["src"], r["dst"], r["rank"]) for r in g.collect())
    b = sorted((r["src"], r["dst"], r["rank"]) for r in g2.collect())
    assert a == b


@pytest.mark.slow
def test_two_level_seeding_contract(spark, sf_dir):
    """VERDICT r13 #1 — the hierarchical (two-level) cell fit that
    removes the flat KMeans k-scaling ceiling: same coverage / rank /
    recall contract as the flat path, deterministic across builds,
    exact requested cell count when the sample can host it, and
    "auto" routing (flat at small cell counts, bit-identical)."""
    import pytest

    emb = load_table(spark, sf_dir, "embeddings").localCheckpoint()
    n = emb.count()
    g = ANN.ivf_seeded_knn_graph(
        emb, k=10, dim=64, target_shard_rows=256,
        refine_iterations=1, local_join_cap=8, seeding="two_level",
    ).localCheckpoint()
    assert g.select("src").distinct().count() == n
    assert g.filter(F.col("src") == F.col("dst")).count() == 0
    per = g.groupBy("src").agg(
        F.count("*").alias("c"), F.countDistinct("dst").alias("d"),
        F.max("rank").alias("hi"),
    )
    assert per.filter(
        (F.col("c") != F.col("d")) | (F.col("hi") > 10)
    ).count() == 0
    qs = emb.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    from pyspark.sql import Window

    gt = (
        exact_knn(qs, emb, k=11, base_id="vec_id", base_vec="embedding")
        .filter(F.col("neighbor_id") != F.col("qid"))
        .withColumn(
            "_r",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(
                    F.col("dist").asc(), F.col("neighbor_id").asc()
                )
            ),
        )
        .filter(F.col("_r") <= 10)
        .select(F.col("qid").alias("src"), F.col("neighbor_id").alias("dst"))
        .localCheckpoint()
    )
    assert g.join(gt, ["src", "dst"]).count() / gt.count() >= 0.9
    # determinism: a second two-level build is identical
    g2 = ANN.ivf_seeded_knn_graph(
        emb, k=10, dim=64, target_shard_rows=256,
        refine_iterations=1, local_join_cap=8, seeding="two_level",
    )
    assert sorted((r["src"], r["dst"], r["rank"]) for r in g.collect()) == \
        sorted((r["src"], r["dst"], r["rank"]) for r in g2.collect())
    # the fit itself: exact cell count, stable ids, deterministic
    samp = emb.select(
        F.col("vec_id").alias("_nid"), F.col("embedding").alias("_nvec")
    )
    cents = ANN._seed_cell_centroids(
        samp, 16, seed=1, max_iter=4, mode="two_level"
    )
    assert [c[0] for c in cents] == list(range(16))
    assert cents == ANN._seed_cell_centroids(
        samp, 16, seed=1, max_iter=4, mode="two_level"
    )
    # auto == flat under the threshold (same MLlib fit, same seed)
    assert ANN._seed_cell_centroids(
        samp, 4, seed=1, max_iter=2, mode="auto"
    ) == ANN._seed_cell_centroids(samp, 4, seed=1, max_iter=2, mode="flat")
    with pytest.raises(ValueError, match="seeding"):
        ANN._seed_cell_centroids(samp, 4, seed=1, max_iter=2, mode="bogus")


def test_ivf_seeded_seed_only_and_orphan_backfill(spark, sf_dir):
    """refine_iterations=0 returns the bare seed (still full coverage
    thanks to the orphan backfill, still rank-true); a 2-row corpus is
    the degenerate all-singleton-cell case the backfill exists for."""
    emb = load_table(spark, sf_dir, "embeddings")
    g0 = ANN.ivf_seeded_knn_graph(
        emb, k=5, dim=64, target_shard_rows=64, refine_iterations=0
    )
    n = emb.count()
    assert g0.select("src").distinct().count() == n
    assert g0.filter("rank > 5").count() == 0
    tiny = emb.filter(F.col("vec_id") < 2)
    gt2 = ANN.ivf_seeded_knn_graph(
        tiny, k=3, dim=64, target_shard_rows=1, refine_iterations=0
    )
    rows = sorted((r["src"], r["dst"]) for r in gt2.collect())
    assert rows == [(0, 1), (1, 0)]


@pytest.mark.slow
def test_refine_schedule_contract(spark, sf_dir):
    """local_join_schedule (VERDICT r13 #4): a one-round schedule [J]
    is EXACTLY refine_iterations=1 + local_join_cap=J (the same loop,
    cap parameterized per round); a growing schedule keeps coverage +
    rank semantics and the recall bar; knob misuse fails before any
    Spark job."""
    emb = load_table(spark, sf_dir, "embeddings").localCheckpoint()
    n = emb.count()
    flat = ANN.ivf_seeded_knn_graph(
        emb, k=10, dim=64, target_shard_rows=256,
        refine_iterations=1, local_join_cap=8,
    )
    sched = ANN.ivf_seeded_knn_graph(
        emb, k=10, dim=64, target_shard_rows=256, refine_schedule=[8],
    )
    a = sorted((r["src"], r["dst"], r["rank"]) for r in flat.collect())
    b = sorted((r["src"], r["dst"], r["rank"]) for r in sched.collect())
    assert a == b
    g = ANN.ivf_seeded_knn_graph(
        emb, k=10, dim=64, target_shard_rows=256, refine_schedule=[4, 8],
    ).localCheckpoint()
    assert g.select("src").distinct().count() == n
    assert g.filter(F.col("src") == F.col("dst")).count() == 0
    per = g.groupBy("src").agg(
        F.count("*").alias("c"), F.countDistinct("dst").alias("d"),
        F.min("rank").alias("lo"), F.max("rank").alias("hi"),
    )
    assert per.filter(
        (F.col("c") != F.col("d")) | (F.col("lo") != 1) | (F.col("hi") > 10)
    ).count() == 0
    with pytest.raises(ValueError, match="mutually exclusive"):
        ANN.nn_descent_knn_graph(
            emb, k=5, local_join_cap=4, local_join_schedule=[4]
        )
    with pytest.raises(ValueError, match="local_join_schedule"):
        ANN.nn_descent_knn_graph(emb, k=5, local_join_schedule=[])
    with pytest.raises(ValueError, match="local_join_schedule"):
        ANN.nn_descent_knn_graph(emb, k=5, local_join_schedule=[4, 0])


@pytest.mark.slow
def test_graph_layout_entries_knob(spark, sf_dir, tmp_path):
    """VERDICT r12 #6 — n_entries is a build knob: the layout stores
    its entry-table size in graph_meta, searches up to it succeed,
    over-asks raise naming the stored size, and a pre-knob layout
    (meta without the column) falls back to GRAPH_MAX_ENTRIES."""
    import pytest

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 40)
    g = ANN.nn_descent_knn_graph(emb, k=4, iterations=1, dim=64)
    path = str(tmp_path / "glayout")
    ANN.write_knn_graph_layout(g, emb, path, n_graph_buckets=4, n_entries=8)
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    assert (
        ANN.knn_graph_search_from_disk(qs, path, k=3, n_entry=8, dim=64).count()
        == 9
    )
    with pytest.raises(ValueError, match="stored entry table \\(8\\)"):
        ANN.knn_graph_search_from_disk(qs, path, k=3, n_entry=9, dim=64)
    # pre-knob meta: only the bucket count -> GRAPH_MAX_ENTRIES gate
    spark.createDataFrame([(4,)], "n_graph_buckets int").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{path}/graph_meta.parquet")
    assert (
        ANN.knn_graph_search_from_disk(qs, path, k=3, n_entry=8, dim=64).count()
        == 9
    )
    with pytest.raises(ValueError, match=str(ANN.GRAPH_MAX_ENTRIES)):
        ANN.knn_graph_search_from_disk(
            qs, path, k=3, n_entry=ANN.GRAPH_MAX_ENTRIES + 1, dim=64
        )
