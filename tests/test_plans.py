"""Physical-plan shape assertions — the 100 TB posture, kept honest by
tests: filters must reach the parquet scan, dimension joins must
broadcast, top-k windows must use the group-limit pushdown, and
aggregates must have map-side partials. A regression here is a scale
bug even when results stay correct."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_ann_spark.catalog import load_table
from big_ann_spark.queries import load_all


from big_ann_spark.plans import executed_plan as _plan
from big_ann_spark.plans import formatted_plan as _formatted


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    from big_ann_spark.queries.relational_queries import _q6_forecast_revenue

    plan = _formatted(_q6_forecast_revenue(spark, sf_dir))
    assert "PushedFilters: [" in plan
    # the discount/quantity predicates must be pushed, not just IsNotNull
    assert "GreaterThanOrEqual(l_discount" in plan
    assert "LessThan(l_quantity" in plan


def test_column_pruning(spark, sf_dir):
    df = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    plan = _formatted(df)
    assert "ReadSchema: struct<l_orderkey:bigint>" in plan


def test_dim_joins_broadcast(spark, sf_dir):
    for name in ["q3_shipping_priority", "grouped_joins"]:
        plan = _plan(load_all()[name].fn(spark, sf_dir))
        assert "BroadcastHashJoin" in plan, name
        # fact-side join may be SMJ/shuffled-hash; dims must not shuffle
        assert plan.count("BroadcastHashJoin") >= 1, name


def test_no_hint_forced_customer_broadcast(spark, sf_dir):
    """customer scales with SF, so q3/q18 must NOT carry a hard
    F.broadcast(customer) hint (measured: at 10x the 150k-row customer
    broadcast OOMs a default driver heap). With the auto-broadcast
    threshold disabled, only a hint could force a BroadcastHashJoin —
    assert none appears. At normal thresholds AQE may still pick a
    broadcast while customer fits, which is the desired behavior."""
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    saved_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        for name in ["q3_shipping_priority", "q18_large_volume_customers"]:
            plan = _plan(load_all()[name].fn(spark, sf_dir))
            assert "BroadcastHashJoin" not in plan, f"{name}: hint-forced broadcast\n{plan}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        if saved_aqe is not None:
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", saved_aqe)
        else:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_token_budget_mix_single_scan(spark, sf_dir):
    """The sampling pass of token_budget_mix must scan the corpus a
    FIXED number of times — never once per source as a union of
    filtered scans (VERDICT r6 #2). Since the r14 lazification the
    per-source totals aggregate is part of the same plan (one scan)
    instead of a separate eager collect job (which also scanned the
    corpus once), so the plan holds exactly TWO scans regardless of
    source count: totals + sampling."""
    from big_ann_spark.operators.dedup import token_budget_mix

    docs = load_table(spark, sf_dir, "documents")
    srcs = [r[0] for r in docs.select("source").distinct().collect()]
    assert len(srcs) >= 2, "fixture needs multiple sources"
    out = token_budget_mix(docs, {s: 1.0 for s in srcs}, total_tokens=1000)
    plan = _plan(out)
    import re

    scans = len(re.findall(r"(?:File)?Scan parquet", plan))
    # totals scan + sampling scan; zero per-source scans
    assert scans == 2, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "Union" not in plan, plan


def test_temperature_mix_single_scan(spark, sf_dir):
    """temperature_mix shares token_budget_mix's one-scan sampling
    plan: the data-derived n^alpha budgets become the same broadcast
    mix table, never per-source filtered scans."""
    from big_ann_spark.operators.dedup import temperature_mix

    docs = load_table(spark, sf_dir, "documents")
    out = temperature_mix(docs, 1000, alpha=0.5)
    plan = _plan(out)
    import re

    scans = len(re.findall(r"(?:File)?Scan parquet", plan))
    assert scans == 1, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "Union" not in plan, plan


def test_topk_uses_window_group_limit(spark, sf_dir):
    from big_ann_spark.queries.relational_queries import _top_orders_per_cust

    plan = _plan(_top_orders_per_cust(spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_knn_broadcasts_queries(spark, sf_dir, candidate_scans):
    """exact_knn returns a local frame, so the pin is on its scan: the
    queries ride a broadcast variable into one MapInArrow pass, the
    base streams once through no join, and each task's partial top-k
    is merged on the driver, not by a window."""
    load_all()["knn_exact_top10"].fn(spark, sf_dir)
    assert len(candidate_scans) == 1
    plan = _plan(candidate_scans[0])
    assert "MapInArrow" in plan and "Join" not in plan
    assert plan.count("Scan parquet") == 1
    assert "Window" not in plan


def test_agg_has_partial_phase(spark, sf_dir):
    plan = _plan(load_all()["per_dim_profile"].fn(spark, sf_dir))
    # two-phase hash aggregation: partial (map-side) + final
    assert plan.count("HashAggregate") >= 2


def test_ivf_routing_broadcasts_centroids(spark, sf_dir, candidate_scans, tmp_path):
    """IVF routing runs on the driver and rides the candidate scan's
    broadcast variable: the scan of a partitionBy(shard_id) table reads
    only the probed shard_id partitions, through one MapInArrow with no
    join; and both variants of ivf_search_top5 run that one scan."""
    import re

    from big_ann_spark.operators import ann as ANN
    from big_ann_spark.operators import sharding as SH

    load_all()["ivf_search_top5"].fn(spark, sf_dir)
    assert len(candidate_scans) == 2
    assert all("MapInArrow" in _plan(s) for s in candidate_scans)

    emb = load_table(spark, sf_dir, "embeddings")
    cents = SH.label_centroids(emb).localCheckpoint()
    path = str(tmp_path / "layout")
    SH.write_sharded(SH.assign_to_centroids(emb, cents), emb, path)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    routing = ANN._route_on_driver(queries, cents, 2, query_id="qid", query_vec="qvec")
    probed = sorted(routing.shard_to_q)
    assert len(probed) < cents.count()
    ANN.ivf_search(queries, spark.read.parquet(f"{path}/shards"), cents, k=5, nprobe=2)
    plan = _formatted(candidate_scans[-1])
    assert "Join" not in _plan(candidate_scans[-1])
    filters = re.findall(r"PartitionFilters: \[(.*)\]", plan)
    assert any(
        f"shard_id#" in f and sorted(map(int, re.findall(r"IN \(([\d, ]+)\)", f)[0].split(","))) == probed
        for f in filters
    ), plan


def test_whole_stage_codegen_on_relational(spark, sf_dir):
    df = load_all()["q1_pricing_summary"].fn(spark, sf_dir)
    df.collect()  # AQE finalizes the plan only on execution
    plan = _plan(df)
    # codegen'd operators print as "*(stage_id) Op" in the final plan
    assert "*(" in plan and "isFinalPlan=true" in plan


def test_centroid_assignment_zero_exchange(spark, sf_dir):
    """assign_to_centroids must be one pass over the scan: no Exchange,
    no Window (a rank-1 window formulation hash-partitions the N×M
    scored rows by point id)."""
    from big_ann_spark.catalog import load_table
    from big_ann_spark.operators import sharding as SH

    emb = load_table(spark, sf_dir, "embeddings")
    assign = SH.assign_to_centroids(emb, SH.label_centroids(emb))
    plan = _plan(assign)
    # the centroid table is read on the driver and broadcast as a
    # matrix, so no exchange of any kind is left in the plan
    assert "Window" not in plan
    assert "Exchange" not in plan


def test_kanndi_round_selection_zero_exchange(spark, sf_dir):
    """nearest_admitting_seed (the per-round KANNDI point→seed pick)
    must be broadcast + projection only (VERDICT r2 #1): no Window, no
    hash exchange of the N×S scored rows — only the capacity cap may
    shuffle, and it lives outside this operator."""
    from big_ann_spark.catalog import load_table
    from big_ann_spark.operators import sharding as SH

    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    seed_rows = pts.orderBy("id").limit(3).collect()
    seeds = spark.createDataFrame(
        [(i, r["id"], r["vec"]) for i, r in enumerate(seed_rows)],
        "shard_id int, seed_id long, seed_vec array<float>",
    )
    best = SH.nearest_admitting_seed(pts, seeds, d=1e9)
    plan = _plan(best)
    after_bcast = plan.split("BroadcastExchange")[0]
    assert "Window" not in plan
    assert "Exchange hashpartitioning" not in after_bcast
    # semantics: with an infinite threshold every point lands somewhere,
    # and each seed lands in its own shard
    assert best.count() == pts.count()
    own = {r["shard_id"] for r in best.join(seeds, best.id == seeds.seed_id).select(best.shard_id).collect()}
    assert own == {0, 1, 2}


def test_prefix_filter_candidate_plan_is_hash_joined(spark, sf_dir):
    """The prefix-filtered near-dup query must stay hash-join shaped:
    no nested-loop cross products, no WindowExec (the df-order is fused
    into the array build — a rank window here would be the r5 perf bug
    regressing)."""
    df = load_all()["ngram_prefix_filtered_pairs"].fn(spark, sf_dir)
    df.count()  # AQE: final plan only exists post-execution
    plan = _plan(df)
    assert "NestedLoop" not in plan
    assert "WindowExec" not in plan and "Window " not in plan


def test_dup_span_plan_single_explode_no_pair_join(spark, sf_dir):
    """duplicate_ngram_spans: gram explode feeds one global count and
    one per-doc islands window — there must be no doc×doc join anywhere
    (the operator is linear in token count by design)."""
    from big_ann_spark.catalog import load_table
    from big_ann_spark.operators.dedup import duplicate_ngram_spans

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    df = duplicate_ngram_spans(d, n=8)
    df.count()
    plan = _plan(df)
    assert "NestedLoop" not in plan
    # joins allowed: gram->count lookup only (broadcast or shuffled);
    # a second join would betray a pair-generation stage
    n_joins = sum(
        plan.count(j) for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
    )
    assert n_joins == 1, plan


def test_gram_keys_word_hash_not_reinlined(spark, sf_dir):
    """Pins the 70x fix (SCALE.md "Measured pitfalls"): the optimizer
    inlines projected HOF aliases into every downstream element_at
    once a Generate sits above — before the lambda-binding fix the
    8-gram plan carried 76 full copies of the per-word char-fold
    transform (one per element_at). The bound form keeps the word-hash
    transform count independent of n: a handful of copies (the
    array(struct(...)) binding + size refs), never O(n) of them."""
    from big_ann_spark.catalog import load_table
    from big_ann_spark.operators import dedup as D

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    g = D.gram_key_arrays(d, n=8).select(
        "doc_id", F.posexplode("_keys").alias("_pos", "gram")
    )
    opt = g._jdf.queryExecution().optimizedPlan().toString()
    n_copies = opt.count("transform(split")
    assert n_copies < 16, f"word-hash transform inlined {n_copies}x"
    # same guard for the 3-gram shingle keys and string shingles
    sh = D.doc_shingle_keys(d)
    n_sh = sh._jdf.queryExecution().optimizedPlan().toString().count(
        "transform(split"
    )
    assert n_sh < 8, n_sh
    from big_ann_spark.functions.text import word_shingles

    ws = d.select(F.explode(word_shingles("text")).alias("s"))
    n_ws = ws._jdf.queryExecution().optimizedPlan().toString().count(
        "split(text"
    )
    assert n_ws < 8, n_ws


def test_bm25_query_side_broadcasts_no_smj(spark, sf_dir):
    """BM25 scoring: the query-term and df joins must be broadcast hash
    joins (the postings side never shuffles before the map-side-combined
    score aggregate), and the index build must not re-join a dl table —
    dl rides the explode, so the whole topk plan carries no
    SortMergeJoin at all."""
    from big_ann_spark.operators.bm25 import bm25_index, bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    idx = bm25_index(docs)
    out = bm25_topk(
        docs.filter(F.col("doc_id") < 5), idx, k=3,
        exclude_self=True, score_round=6,
    )
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan
    assert "NestedLoop" not in plan or "BroadcastNestedLoopJoin" in plan
    # top-k must run as the group-limit pushdown
    assert "WindowGroupLimit" in plan


def test_ngram_lm_scoring_broadcasts_no_smj(spark, sf_dir):
    """Stupid-Backoff scoring: all 2n-1 count-table lookups broadcast
    (vocabulary-sized tables); the only corpus shuffle is the final
    per-doc mean."""
    from big_ann_spark.operators.ngram_lm import (
        score_stupid_backoff,
        train_ngram_lm,
    )

    docs = load_table(spark, sf_dir, "documents")
    lm = train_ngram_lm(docs.filter(F.col("source") == "src0"), order=3)
    plan = _plan(score_stupid_backoff(docs, lm))
    assert plan.count("BroadcastHashJoin") >= 5  # c1..c3 + x2..x3
    assert "SortMergeJoin" not in plan, plan


def test_spread_skips_when_input_already_wide(spark, sf_dir):
    """VERDICT r14 #2 scale guard: once the source table splits into
    >= spread-width scan tasks under maxPartitionBytes, spread_input
    must return its input UNCHANGED (no extra Exchange) and
    spread_width_if_narrow must return None — the cores-capped
    round-robin would otherwise COLLAPSE a wide distribution at real
    scale. Simulated by shrinking maxPartitionBytes so even the test
    fixture 'splits wide'."""
    from big_ann_spark.queries import spread_input, spread_width_if_narrow

    d = load_table(spark, sf_dir, "documents")
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
        assert spread_width_if_narrow(spark, sf_dir) is None
        out = spread_input(d, spark, sf_dir, "documents")
        assert out is d  # identity, not merely equal plans
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_spread_parses_suffixed_max_partition_bytes(spark, sf_dir):
    """ADVICE r14: a foreign session may SET maxPartitionBytes in the
    unit-suffixed form Spark itself accepts ('128m'); the spread
    helpers must parse it instead of raising ValueError at plan-build
    time."""
    from big_ann_spark.queries import _conf_bytes, spread_input

    d = load_table(spark, sf_dir, "documents")
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "128m")
        assert _conf_bytes(
            spark, "spark.sql.files.maxPartitionBytes", 1
        ) == 128 << 20
        out = spread_input(d, spark, sf_dir, "documents")
        # tiny fixture under a 128m split -> the spread fires as before
        assert out is not d
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
