"""Filtered (tag-containment) ANN served from a persisted layout:
write_tag_postings_layout artifacts + filtered_search_from_disk must
equal the in-memory filtered_knn tag mode exactly, with the posting
scan pruned to the rare tags' _tb partitions."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from big_ann_spark.catalog import load_table
from big_ann_spark.operators import ann as ANN
from big_ann_spark.operators import sharding as SH
from big_ann_spark.operators.knn import filtered_knn

_CACHE: dict[str, tuple] = {}


def _tagged_layout(spark, sf_dir):
    got = _CACHE.get(sf_dir)
    if got is not None:
        return got
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    tagged = emb.join(
        docs.select("doc_id", "lang", "source"), emb.vec_id == docs.doc_id
    ).select(
        "vec_id",
        "embedding",
        F.array(
            F.concat(F.lit("lang:"), F.col("lang")),
            F.concat(F.lit("src:"), F.col("source")),
        ).alias("tags"),
    )
    cents = SH.label_centroids(emb)
    assign = SH.assign_to_centroids(
        tagged, cents, extra_cols=["embedding", "tags"]
    )
    path = tempfile.mkdtemp(prefix="big_ann_ftag_") + "/layout"
    SH.write_sharded(assign.drop("tags"), tagged, path)
    cents.write.mode("overwrite").parquet(f"{path}/centroids.parquet")
    # carry_payload=False PINNED: this fixture is the point-fetch
    # serving mode's equality coverage (the payload default has its
    # own plan + equality tests below)
    ANN.write_tag_postings_layout(
        tagged.select("vec_id", "tags"), path, n_tag_buckets=16,
        carry_payload=False,
    )
    got = (tagged, path)
    _CACHE[sf_dir] = got
    return got


def _queries(tagged):
    return tagged.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
        F.col("tags").alias("qtags"),
    )


def test_filtered_from_disk_equals_in_memory(spark, sf_dir):
    tagged, path = _tagged_layout(spark, sf_dir)
    queries = _queries(tagged)
    got = ANN.filtered_search_from_disk(queries, path, k=3)
    want = filtered_knn(
        queries,
        tagged,
        k=3,
        query_id="qid",
        query_vec="qvec",
        query_tags="qtags",
        base_id="vec_id",
        base_vec="embedding",
        tags_col="tags",
    )
    a = sorted(map(tuple, got.select("qid", "neighbor_id", "dist", "rank").collect()))
    b = sorted(map(tuple, want.select("qid", "neighbor_id", "dist", "rank").collect()))
    assert a == b and len(a) == 18


def test_filtered_from_disk_wide_candidates_no_id_collect(spark, sf_dir):
    """Past the count gate (max_id_pushdown=0 forces it) the verify
    runs purely on distributed joins — results must equal the bounded
    plan's exactly. The count gate itself is structural: candidate ids
    are only ever collected under the cap (ann.py), so this path is
    what a df_rarest ~ 10⁶ layout takes."""
    tagged, path = _tagged_layout(spark, sf_dir)
    queries = _queries(tagged)
    got = ANN.filtered_search_from_disk(queries, path, k=3, max_id_pushdown=0)
    _cmp(got, _filtered_want(queries, tagged))


def test_filtered_from_disk_prunes_posting_buckets(spark, sf_dir):
    """The posting scan must carry a PartitionFilters entry on _tb —
    a wide tag vocabulary never makes the query read every bucket."""
    tagged, path = _tagged_layout(spark, sf_dir)
    q = _queries(tagged).limit(2).select(
        "qid", F.col("qvec").alias("_qvec"), F.col("qtags").alias("_qtags")
    )
    cand = ANN._filtered_candidates(spark, q, path)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    seg = [
        ln for ln in plan.splitlines()
        if "tag_postings.parquet" in ln and "PartitionFilters" in ln
    ]
    assert seg and "_tb" in seg[0].split("PartitionFilters")[1].split("]")[0]


def test_cli_index_tags_and_filtered_search(spark, sf_dir, tmp_path):
    from big_ann_spark.cli import main

    tagged, path = _tagged_layout(spark, sf_dir)
    src = str(tmp_path / "tagged.parquet")
    tagged.select("vec_id", "embedding", "tags").write.parquet(src)
    idx = str(tmp_path / "idx")
    assert main(["build-index", src, idx, "--m", "4"]) == 0
    assert main(["index-tags", idx, src, "--tag-buckets", "8"]) == 0
    out = str(tmp_path / "res.parquet")
    assert main(["filtered-search", idx, src, "--k", "3", "--out", out]) == 0
    res = spark.read.parquet(out)
    n_q = tagged.count()
    # rare (lang, source) combos legitimately have < 3 qualifying
    # neighbors; every query returns SOMETHING (itself qualifies) and
    # nobody exceeds k
    assert res.select("qid").distinct().count() == n_q
    assert res.groupBy("qid").count().agg(F.max("count")).collect()[0][0] <= 3
    # every returned neighbor satisfies the query's tag containment
    qt = tagged.select(F.col("vec_id").alias("qid"), F.col("tags").alias("_qt"))
    bt = tagged.select(
        F.col("vec_id").alias("neighbor_id"), F.col("tags").alias("_bt")
    )
    bad = (
        res.join(qt, "qid").join(bt, "neighbor_id")
        .filter(F.size(F.array_except("_qt", "_bt")) != 0)
    )
    assert bad.count() == 0


def test_filtered_from_disk_rejects_empty_tag_sets(spark, sf_dir):
    import pytest

    tagged, path = _tagged_layout(spark, sf_dir)
    q = tagged.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
        F.array().cast("array<string>").alias("qtags"),
    )
    with pytest.raises(ValueError, match="unconstrained"):
        ANN.filtered_search_from_disk(q, path, k=3)


def _fresh_tagged_layout(spark, sf_dir, tmp_path, carry=False):
    """Uncached variant of _tagged_layout whose BASE holds only the
    vec_id % 3 != 0 rows (build-then-grow, the vector-ops fixture
    shape) — mutations land the rest. ``carry``: payload-carrying
    postings (posting-local serving)."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    tagged = emb.join(
        docs.select("doc_id", "lang", "source"), emb.vec_id == docs.doc_id
    ).select(
        "vec_id",
        "embedding",
        F.array(
            F.concat(F.lit("lang:"), F.col("lang")),
            F.concat(F.lit("src:"), F.col("source")),
        ).alias("tags"),
    )
    cents = SH.label_centroids(emb)
    base = tagged.filter(F.col("vec_id") % 3 != 0)
    assign = SH.assign_to_centroids(base, cents, extra_cols=["embedding"])
    path = str(tmp_path / "layout")
    SH.write_sharded(assign, base, path)
    cents.write.mode("overwrite").parquet(f"{path}/centroids.parquet")
    ANN.write_tag_postings_layout(
        base.select("vec_id", "tags"), path, n_tag_buckets=16,
        carry_payload=carry,
    )
    return tagged, path


def _filtered_want(queries, live_tagged, k=3):
    return filtered_knn(
        queries, live_tagged, k=k,
        query_id="qid", query_vec="qvec", query_tags="qtags",
        base_id="vec_id", base_vec="embedding", tags_col="tags",
    )


def _cmp(got, want):
    a = sorted(
        (r["qid"], r["neighbor_id"], round(r["dist"], 9), r["rank"])
        for r in got.select("qid", "neighbor_id", "dist", "rank").collect()
    )
    b = sorted(
        (r["qid"], r["neighbor_id"], round(r["dist"], 9), r["rank"])
        for r in want.select("qid", "neighbor_id", "dist", "rank").collect()
    )
    assert a == b and len(a) > 0


import pytest as _pt


@_pt.mark.slow
@_pt.mark.parametrize("carry", [False, True])
def test_tag_mutations_runbook_equals_in_memory(spark, sf_dir, tmp_path, carry):
    """op0: combined upsert (the %3==0 vectors WITH their tags, one
    marker); op1: tag-only retag of some existing ids; op2: delete
    some vectors. filtered_search_from_disk must equal the in-memory
    filtered_knn over the resolved live (vector, tags) state at every
    as_of — the vector-ops history-equality contract extended to the
    filtered track. Both serving modes: point-fetch verify AND
    payload-carrying posting-local verify."""
    from big_ann_spark.operators import tag_ops as TO
    from big_ann_spark.operators import vector_ops as VO

    tagged, path = _fresh_tagged_layout(spark, sf_dir, tmp_path, carry=carry)
    # op0: vectors + tags, atomically
    newbies = tagged.filter(F.col("vec_id") % 3 == 0)
    assert VO.upsert_vectors(spark, path, newbies, tags_col="tags") == 0
    # op1: retag ids %5==0 — prepend a tag (containment-visible)
    retagged = tagged.filter(F.col("vec_id") % 5 == 0).select(
        "vec_id",
        F.concat(F.array(F.lit("retagged:yes")), F.col("tags")).alias("tags"),
    )
    assert TO.upsert_tags(spark, path, retagged) == 1
    # op2: delete ids %7==0
    assert (
        VO.delete_vectors(
            spark, path, tagged.filter(F.col("vec_id") % 7 == 0).select("vec_id")
        )
        == 2
    )

    def live_tagged(as_of):
        t = tagged
        if as_of is not None and as_of < 0:
            return t.filter(F.col("vec_id") % 3 != 0)
        if as_of is None or as_of >= 1:
            t = t.withColumn(
                "tags",
                F.when(
                    F.col("vec_id") % 5 == 0,
                    F.concat(F.array(F.lit("retagged:yes")), F.col("tags")),
                ).otherwise(F.col("tags")),
            )
        if as_of is None or as_of >= 2:
            t = t.filter(F.col("vec_id") % 7 != 0)
        return t

    queries = tagged.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
        F.col("tags").alias("qtags"),
    )
    # a query that carries the NEW tag (must only match retagged ids)
    retag_q = tagged.filter(F.col("vec_id") == 10).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
        F.array(F.lit("retagged:yes")).alias("qtags"),
    )
    for as_of in (-1, 0, 1, 2, None):
        live = live_tagged(as_of)
        _cmp(
            ANN.filtered_search_from_disk(queries, path, k=3, as_of=as_of),
            _filtered_want(queries, live),
        )
    _cmp(
        ANN.filtered_search_from_disk(retag_q, path, k=3),
        _filtered_want(retag_q, live_tagged(None)),
    )


def test_vector_only_upsert_across_shards_stays_served(spark, tmp_path):
    """ADVICE r11 (high): on a point-fetch layout, a vector-ONLY
    upsert (legal — only payload layouts couple vectors to tags) may
    MOVE an id to a shard its stale posting doesn't name. The filtered
    verify must still serve the id, with the moved vector's distance:
    the live view's resolved side must never be filtered by the
    posting-derived probe set."""
    from big_ann_spark.operators import vector_ops as VO

    rows = [
        (0, [0.0, 0.0], ["t:common", "t:all"]),
        (1, [0.1, 0.0], ["t:rare", "t:all"]),  # sole holder of t:rare
        (2, [0.2, 0.0], ["t:common", "t:all"]),
        (3, [0.3, 0.0], ["t:common", "t:all"]),
        (4, [10.0, 10.0], ["t:common", "t:all"]),
        (5, [10.1, 10.0], ["t:common", "t:all"]),
        (6, [10.2, 10.0], ["t:common", "t:all"]),
        (7, [10.3, 10.0], ["t:common", "t:all"]),
    ]
    tagged = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, tags array<string>"
    )
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [10.0, 10.0])],
        "shard_id int, centroid array<double>",
    )
    assign = SH.assign_to_centroids(tagged, cents, extra_cols=["embedding"])
    path = str(tmp_path / "layout")
    SH.write_sharded(assign, tagged, path)
    cents.write.mode("overwrite").parquet(f"{path}/centroids.parquet")
    ANN.write_tag_postings_layout(
        tagged.select("vec_id", "tags"), path, n_tag_buckets=4,
        carry_payload=False,
    )
    # the upsert re-assigns id 1 to shard 1; its t:rare posting still
    # records shard 0, so the probed base set is {0} only
    moved = spark.createDataFrame(
        [(1, [10.0, 10.0])], "vec_id long, embedding array<float>"
    )
    assert VO.upsert_vectors(spark, path, moved) == 0
    q = spark.createDataFrame(
        [(100, [10.0, 10.0], ["t:rare"])],
        "qid long, qvec array<float>, qtags array<string>",
    )
    got = ANN.filtered_search_from_disk(q, path, k=3).collect()
    assert [(r["qid"], r["neighbor_id"]) for r in got] == [(100, 1)]
    assert abs(got[0]["dist"]) < 1e-9  # the MOVED vector's distance


@_pt.mark.slow
def test_tag_op_crash_window_and_replay(spark, sf_dir, tmp_path, monkeypatch):
    """A tag op crashing between partitions and its marker must stay
    INVISIBLE to search; replaying the crashed id lands it exactly
    once. The reclaim purge covers ALL op families — a crashed vector
    op reclaimed by a tag-only op must not leak its vector rows."""
    from big_ann_spark.operators import oplayout
    from big_ann_spark.operators import tag_ops as TO
    from big_ann_spark.operators import vector_ops as VO

    tagged, path = _fresh_tagged_layout(spark, sf_dir, tmp_path)
    queries = tagged.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
        F.col("tags").alias("qtags"),
    )
    pristine = _filtered_want(queries, tagged.filter(F.col("vec_id") % 3 != 0))

    # crash a COMBINED upsert after the vector rows but before the tag
    # partitions land: the op must be invisible end-to-end
    real = oplayout.write_table_dir

    def crashy(spark, table, directory, schema):
        real(spark, table, directory, schema)  # ops file lands, tags die
        raise RuntimeError("injected tag-partition crash")

    monkeypatch.setattr(oplayout, "write_table_dir", crashy)
    newbies = tagged.filter(F.col("vec_id") % 3 == 0)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="injected"):
        VO.upsert_vectors(spark, path, newbies, tags_col="tags")
    monkeypatch.setattr(oplayout, "write_table_dir", real)
    _cmp(ANN.filtered_search_from_disk(queries, path, k=3), pristine)

    # the crashed id is reclaimable: a TAG-ONLY op lands at the same
    # id and the crashed vector rows must NOT become visible with it
    crashed = VO.uncommitted_vector_ops(spark, path)
    assert crashed == [0]
    retagged = tagged.filter(
        (F.col("vec_id") % 5 == 0) & (F.col("vec_id") % 3 != 0)
    ).select(
        "vec_id",
        F.concat(F.array(F.lit("retagged:yes")), F.col("tags")).alias("tags"),
    )
    # duplicate batch ids must collapse, not trip the liveness check
    retagged = retagged.unionByName(retagged.limit(1))
    assert TO.upsert_tags(spark, path, retagged) == 0
    # CROSS-FAMILY reclaim: the tag-only op claimed the crashed
    # COMBINED op's id — the crashed attempt's VECTOR partitions must
    # be purged too, or they become visible under this op's marker
    assert oplayout.glob_op_ids(spark, f"{path}/ops/_mb=*") == set()
    live = tagged.filter(F.col("vec_id") % 3 != 0).withColumn(
        "tags",
        F.when(
            F.col("vec_id") % 5 == 0,
            F.concat(F.array(F.lit("retagged:yes")), F.col("tags")),
        ).otherwise(F.col("tags")),
    )
    _cmp(ANN.filtered_search_from_disk(queries, path, k=3), _filtered_want(queries, live))


def test_tag_mutated_layout_keeps_tb_pruning(spark, sf_dir, tmp_path):
    """Mutation visibility must ride partition-column predicates only:
    the posting scan of a MUTATED layout still prunes _tb."""
    from big_ann_spark.operators import vector_ops as VO

    tagged, path = _fresh_tagged_layout(spark, sf_dir, tmp_path)
    VO.upsert_vectors(
        spark, path, tagged.filter(F.col("vec_id") % 3 == 0), tags_col="tags"
    )
    q = tagged.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("_qvec"),
        F.col("tags").alias("_qtags"),
    )
    cand = ANN._filtered_candidates(spark, q, path)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    # match the postings scan by its columns — the Location path gets
    # elided when pytest's tmp dir is long
    seg = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "_tag" in ln and "PartitionFilters" in ln
    ]
    assert seg and "_tb" in seg[0].split("PartitionFilters")[1].split("]")[0]


def test_tag_df_deltas_stay_exact(spark, sf_dir, tmp_path):
    """The signed df deltas must fold to the EXACT tag frequencies of
    the live state (what a fresh rebuild would count) after upsert +
    retag — the BM25 logical-statistics contract."""
    from big_ann_spark.operators import tag_ops as TO
    from big_ann_spark.operators import vector_ops as VO

    tagged, path = _fresh_tagged_layout(spark, sf_dir, tmp_path)
    VO.upsert_vectors(
        spark, path, tagged.filter(F.col("vec_id") % 3 == 0), tags_col="tags"
    )
    retagged = tagged.filter(F.col("vec_id") % 5 == 0).select(
        "vec_id", F.array(F.lit("only:this")).alias("tags")
    )
    TO.upsert_tags(spark, path, retagged)
    live = tagged.withColumn(
        "tags",
        F.when(
            F.col("vec_id") % 5 == 0, F.array(F.lit("only:this"))
        ).otherwise(F.col("tags")),
    )
    want = {
        (r["_tag"], r["_df"])
        for r in live.select(F.explode("tags").alias("_tag"))
        .groupBy("_tag").agg(F.count("*").alias("_df")).collect()
    }
    got = {
        (r["_tag"], r["_df"])
        for r in TO.tag_df_view(spark, path, uncommitted=[]).collect()
        if r["_df"] != 0
    }
    assert got == want


@_pt.mark.slow
@_pt.mark.parametrize("carry", [False, True])
def test_compaction_folds_tag_artifacts(spark, sf_dir, tmp_path, carry):
    """compact_vector_layout on a layout carrying tag artifacts must
    rebuild a PRISTINE tag index at dst (no delta tables, tombstoned
    ids gone, carry mode preserved) whose filtered search equals the
    live src search."""
    from big_ann_spark.operators import oplayout
    from big_ann_spark.operators import tag_ops as TO
    from big_ann_spark.operators import vector_ops as VO

    tagged, path = _fresh_tagged_layout(spark, sf_dir, tmp_path, carry=carry)
    VO.upsert_vectors(
        spark, path, tagged.filter(F.col("vec_id") % 3 == 0), tags_col="tags"
    )
    retagged = tagged.filter(F.col("vec_id") % 5 == 0).select(
        "vec_id",
        F.concat(F.array(F.lit("retagged:yes")), F.col("tags")).alias("tags"),
    )
    TO.upsert_tags(spark, path, retagged)
    VO.delete_vectors(
        spark, path, tagged.filter(F.col("vec_id") % 7 == 0).select("vec_id")
    )
    dst = str(tmp_path / "compacted")
    assert VO.compact_vector_layout(spark, path, dst) == 3
    assert not TO.has_tag_ops(spark, dst)
    queries = tagged.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
        F.col("tags").alias("qtags"),
    )
    _cmp(
        ANN.filtered_search_from_disk(queries, dst, k=3),
        ANN.filtered_search_from_disk(queries, path, k=3),
    )
    # tombstoned ids are physically gone from the compacted tag index
    posts = spark.read.parquet(f"{dst}/tag_postings.parquet")
    assert posts.filter(F.col("neighbor_id") % 7 == 0).count() == 0


@_pt.mark.slow
@_pt.mark.parametrize("carry", [False, True])
def test_cli_tag_mutation_lifecycle(spark, sf_dir, tmp_path, carry):
    """build-index → index-tags → index-upsert --tags-col → retag →
    index-delete → filtered-search --as-of → index-compact, all via
    the CLI — the filtered track's full mutable lifecycle, in both
    serving modes (point-fetch and --carry-payload posting-local)."""
    from big_ann_spark.cli import main

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    tagged = emb.join(
        docs.select("doc_id", "lang", "source"), emb.vec_id == docs.doc_id
    ).select(
        "vec_id", "embedding",
        F.array(
            F.concat(F.lit("lang:"), F.col("lang")),
            F.concat(F.lit("src:"), F.col("source")),
        ).alias("tags"),
    )
    base_src = str(tmp_path / "base.parquet")
    tagged.filter(F.col("vec_id") % 3 != 0).write.parquet(base_src)
    new_src = str(tmp_path / "new.parquet")
    tagged.filter(F.col("vec_id") % 3 == 0).write.parquet(new_src)
    retag_src = str(tmp_path / "retag.parquet")
    tagged.filter(F.col("vec_id") % 5 == 0).select(
        "vec_id", F.array(F.lit("vip:yes")).alias("tags")
    ).write.parquet(retag_src)
    del_src = str(tmp_path / "del.parquet")
    tagged.filter(F.col("vec_id") % 7 == 0).select("vec_id").write.parquet(del_src)
    idx = str(tmp_path / "idx")
    assert main(["build-index", base_src, idx, "--m", "4"]) == 0
    tag_args = ["index-tags", idx, base_src, "--tag-buckets", "8"]
    # carry_payload is the CLI default now; point-fetch is the opt-out
    tag_args.append("--carry-payload" if carry else "--no-carry-payload")
    assert main(tag_args) == 0
    assert main(["index-upsert", idx, new_src, "--tags-col", "tags"]) == 0
    assert main(["retag", idx, retag_src]) == 0
    assert main(["index-delete", idx, del_src]) == 0

    q_src = str(tmp_path / "q.parquet")
    tagged.filter(F.col("vec_id") == 10).select(
        "vec_id", "embedding", F.array(F.lit("vip:yes")).alias("tags")
    ).write.parquet(q_src)
    out = str(tmp_path / "live.parquet")
    assert main(["filtered-search", idx, q_src, "--k", "5", "--out", out]) == 0
    live = spark.read.parquet(out)
    # every live hit is a retagged (%5) id that survived the delete
    hits = {r["neighbor_id"] for r in live.collect()}
    assert hits and all(h % 5 == 0 and h % 7 != 0 for h in hits)
    # as-of 1 (before the delete): %7 ids may reappear
    out0 = str(tmp_path / "asof.parquet")
    assert main(
        ["filtered-search", idx, q_src, "--k", "5", "--out", out0, "--as-of", "1"]
    ) == 0
    hits0 = {r["neighbor_id"] for r in spark.read.parquet(out0).collect()}
    assert hits0 and all(h % 5 == 0 for h in hits0)
    # compaction preserves the live answer
    dst = str(tmp_path / "cidx")
    assert main(["index-compact", idx, dst]) == 0
    out2 = str(tmp_path / "compacted.parquet")
    assert main(["filtered-search", dst, q_src, "--k", "5", "--out", out2]) == 0
    assert {
        (r["qid"], r["neighbor_id"], r["rank"])
        for r in spark.read.parquet(out2).collect()
    } == {(r["qid"], r["neighbor_id"], r["rank"]) for r in live.collect()}


def test_payload_plan_never_fetches_the_corpus(spark, sf_dir, tmp_path):
    """The payload layout's whole point: the query plan must contain
    NO scan of the shards table — distance and containment run on the
    posting rows the rarest-tag scan already read. Also: a vector
    upsert WITHOUT tags must be refused (it would leave stale payload
    vectors serving wrong distances)."""
    import pytest

    from big_ann_spark.operators import vector_ops as VO

    tagged, path = _fresh_tagged_layout(spark, sf_dir, tmp_path, carry=True)
    queries = tagged.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
        F.col("tags").alias("qtags"),
    )
    got = ANN.filtered_search_from_disk(queries, path, k=3)
    plan = got._jdf.queryExecution().executedPlan().toString()
    scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "embedding" in ln
    ]
    assert scans == [], f"payload plan scanned raw vectors: {scans[:1]}"
    # and the result still equals the in-memory operator
    _cmp(got, _filtered_want(queries, tagged.filter(F.col("vec_id") % 3 != 0)))
    with pytest.raises(ValueError, match="stale embedding"):
        VO.upsert_vectors(
            spark, path, tagged.filter(F.col("vec_id") % 3 == 0)
        )
