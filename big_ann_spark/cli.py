"""Command-line entry points — the reference is driven by per-task
scripts (``kanndi_search.py``, ``shard_by_distance.py``, fbin tools in
``utils.py``); this engine exposes the same day-to-day surface as one
CLI over the query registry and the fbin codecs:

    python -m big_ann_spark list
    python -m big_ann_spark run knn_exact_top10 --sf-dir /data/sf0.1 \\
        [--out /tmp/result.parquet --format parquet|csv] [--show 20]
    python -m big_ann_spark fbin-to-parquet vectors.fbin out.parquet
    python -m big_ann_spark parquet-to-fbin emb.parquet out.fbin \\
        [--id-col vec_id --vec-col embedding]
    python -m big_ann_spark ingest crawl_dir/ corpus_dir/ \\
        [--format json|parquet]   # streaming dedup ingest (jsonl in,
        [--near-dup-threshold 0.8]  # exactly-once deduped corpus out)
    python -m big_ann_spark build-graph emb.parquet graph_dir/ --k 10 \\
        [--serving-layout]   # also persist the from-disk graph tier
    python -m big_ann_spark graph-search graph_dir/ queries.parquet \\
        --k 10 [--beam 24 --hops 6] [--base emb.parquet]  # base only
        # needed for a plain edges dir; a serving layout carries its
        # vectors

``run`` executes any registered query (the same callables the grading
driver runs) against a TESTDATA-shaped directory; with ``--out`` the
result lands as parquet/csv (distributed write), otherwise the first
``--show`` rows print to stdout.
"""

from __future__ import annotations

import argparse
import sys


def _add_compact_above(p) -> None:
    p.add_argument(
        "--compact-above", type=int, default=None, metavar="N",
        help="auto-compaction policy: after this op commits, if the "
        "layout's contested-id count exceeds N, fold every op into a "
        "fresh pristine base IN PLACE (write-new-then-swap). The "
        "contested set is broadcast on EVERY search (measured "
        "+6.5 s/search at 1.58M uncompacted ids, SCALE.md) — this knob "
        "bounds that cost at the mutation site",
    )


def _maybe_autocompact(spark, args) -> None:
    above = args.compact_above
    if above is None:
        return
    from big_ann_spark.operators import vector_ops as VO

    index = args.index
    # forward the command's column names — a custom --id-col layout
    # must compact under its own schema
    n, n_ops = VO.compact_if_needed(
        spark, index, max_contested=above,
        id_col=getattr(args, "id_col", "vec_id"),
        vec_col=getattr(args, "vec_col", "embedding"),
    )
    if n_ops is not None:
        print(
            f"auto-compact: {n} contested ids > --compact-above {above}; "
            f"folded {n_ops} ops in place at {index}"
        )
    else:
        print(f"contested ids: {n} (<= --compact-above {above}, no compaction)")


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="big_ann_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered queries (name + oracle availability)")

    r = sub.add_parser("run", help="run a registered query")
    r.add_argument("query")
    r.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    r.add_argument("--out", default=None, help="write result here instead of printing")
    r.add_argument("--format", default="parquet", choices=["parquet", "csv"])
    r.add_argument("--show", type=int, default=20, help="rows to print when no --out")

    b = sub.add_parser(
        "build-index",
        help="K-Means shard a vector table into a partitioned on-disk IVF index",
    )
    b.add_argument("src", help="parquet with (id, vector) columns")
    b.add_argument("dst", help="index dir: shards/ (partitionBy shard_id) + centroids.parquet")
    b.add_argument("--m", type=int, default=10, help="number of shards")
    b.add_argument("--id-col", default="vec_id")
    b.add_argument("--vec-col", default="embedding")
    b.add_argument(
        "--sq8",
        action="store_true",
        help="store SQ8 int8 codes instead of float vectors (FAISS "
        "IVF-SQ8 shape: 4x smaller shards; search decodes as a "
        "projection AFTER partition pruning, so only probed shards "
        "ever decode)",
    )
    b.add_argument(
        "--sq8-refine",
        action="store_true",
        help="store SQ8 codes NEXT TO the float vectors (FAISS "
        "SQ-then-refine shape): search scans only the codes column "
        "for candidates (~4x less IO) and re-ranks the top pool "
        "exactly from the raw column via bounded point fetches",
    )
    b.add_argument(
        "--pq-refine",
        action="store_true",
        help="store PQ sub-codes NEXT TO the float vectors (FAISS "
        "IVFADC-with-refine shape): candidates come from an ADC scan "
        "of the pq_codes column (~16x less IO at --pq-m 8), exact "
        "rerank from the raw column",
    )
    b.add_argument("--pq-m", type=int, default=8, help="PQ subquantizers")
    b.add_argument("--pq-k", type=int, default=16, help="codes per subquantizer")
    b.add_argument(
        "--binary-refine",
        action="store_true",
        help="store packed sign-bit codes NEXT TO the float vectors "
        "(32x tier): candidates come from an XOR+popcount Hamming "
        "scan of the bcodes column, exact rerank from the raw column",
    )
    b.add_argument(
        "--opq-refine",
        action="store_true",
        help="like --pq-refine but with a learned OPQ rotation (Ge et "
        "al. CVPR'13) before the subspace split — lower quantization "
        "distortion at the same code size; queries are rotated at "
        "search, the exact rerank is rotation-invariant",
    )

    bg = sub.add_parser(
        "build-graph",
        help="NN-Descent approximate kNN graph over a vector table -> parquet",
    )
    bg.add_argument("src", help="parquet with (id, vector) columns")
    bg.add_argument("dst", help="graph dir: edges.parquet (src, dst, dist, rank)")
    bg.add_argument("--k", type=int, default=10, help="graph degree")
    bg.add_argument("--iterations", type=int, default=3)
    bg.add_argument("--id-col", default="vec_id")
    bg.add_argument("--vec-col", default="embedding")
    bg.add_argument(
        "--serving-layout", action="store_true",
        help="also persist the GRAPH SERVING TIER (node records with "
        "vector + adjacency in one row, bucketed by node hash) so "
        "graph-search runs from disk with partition-pruned record "
        "fetches — the on-disk-HNSW analog; no base table needed at "
        "query time",
    )
    bg.add_argument(
        "--graph-buckets", type=int, default=64,
        help="node-hash partition count of the serving layout",
    )
    bg.add_argument(
        "--entries", type=int, default=None,
        help="entry-table size of the serving layout (default "
        "GRAPH_MAX_ENTRIES; size to the largest n_entry you'll search)",
    )
    bg.add_argument(
        "--init", choices=["hash", "ivf"], default="hash",
        help="graph init: 'hash' = NN-Descent's bucket init (fine to "
        "~1M); 'ivf' = IVF-seeded build (KMeans cells + within-cell "
        "exact kNN + capped refinement) — the scale path, the only "
        "one measured to complete at 2M+ locally",
    )
    bg.add_argument(
        "--target-shard-rows", type=int, default=4096,
        help="--init ivf: target rows per KMeans cell",
    )
    bg.add_argument(
        "--local-join-cap", type=int, default=8,
        help="--init ivf: per-pivot local-join cap J of the refinement "
        "rounds (candidate volume n*(2J)^2 per round)",
    )
    bg.add_argument(
        "--seeding", choices=["auto", "flat", "two_level"], default="auto",
        help="--init ivf: cell-centroid fit — 'flat' one MLlib KMeans "
        "(k-scaling ceiling: sample*k*d Lloyd cost per iteration), "
        "'two_level' hierarchical sqrt-split fit (the 20M+ path), "
        "'auto' switches past %d cells" % 4096,
    )

    g = sub.add_parser(
        "graph-search", help="batch beam search over a built kNN graph "
        "(a --serving-layout dir is served from disk, pruned; a plain "
        "edges dir needs the base vector table)"
    )
    g.add_argument("graph", help="dir produced by build-graph")
    g.add_argument("queries", help="parquet with (id, vector) query columns")
    g.add_argument(
        "--base", default=None,
        help="parquet vector table the graph indexes (only for a "
        "plain edges dir — a serving layout carries its vectors)",
    )
    g.add_argument("--k", type=int, default=10)
    g.add_argument("--beam", type=int, default=24)
    g.add_argument("--hops", type=int, default=6)
    g.add_argument("--n-entry", type=int, default=64)
    g.add_argument("--id-col", default="vec_id")
    g.add_argument("--vec-col", default="embedding")
    g.add_argument("--out", default=None)
    g.add_argument("--show", type=int, default=20)
    g.add_argument(
        "--as-of", type=int, default=None,
        help="snapshot search of a MUTATED serving layout: exactly as "
        "of committed op N (-1 = pristine base; default: head)",
    )

    gu = sub.add_parser(
        "graph-upsert",
        help="insert-or-replace a vector batch into a build-graph "
        "serving layout as ONE exactly-once op — new/updated vectors "
        "are searchable immediately (brute-force contested side); the "
        "traversal graph refreshes at graph-compact. SINGLE-WRITER "
        "per layout, like every op-ledger mutation",
    )
    gu.add_argument("graph", help="serving layout from build-graph --serving-layout")
    gu.add_argument("src", help="parquet with (id, vector) columns")
    gu.add_argument("--id-col", default="vec_id")
    gu.add_argument("--vec-col", default="embedding")
    gu.add_argument("--op-id", type=int, default=None)

    gd = sub.add_parser(
        "graph-delete",
        help="tombstone node ids out of a build-graph serving layout "
        "(they stop surfacing immediately; records route the beam "
        "until graph-compact rebuilds without them)",
    )
    gd.add_argument("graph", help="serving layout from build-graph --serving-layout")
    gd.add_argument(
        "src", nargs="?", default=None,
        help="parquet whose FIRST column is the node id",
    )
    gd.add_argument(
        "--ids", default=None, help="comma-separated id list (instead of src)"
    )
    gd.add_argument("--op-id", type=int, default=None)

    gc = sub.add_parser(
        "graph-compact",
        help="fold a mutated graph layout's ops into a pristine "
        "REBUILT layout — at dst (copy-on-write; src untouched) or in "
        "place when dst is omitted (write-new-then-swap under the "
        "compaction marker)",
    )
    gc.add_argument("src", help="mutated serving layout")
    gc.add_argument("dst", nargs="?", default=None)
    gc.add_argument("--k", type=int, default=10, help="rebuilt graph degree")
    gc.add_argument(
        "--build", choices=["ivf", "hash"], default="ivf",
        help="rebuild path (ivf = the scale path, see build-graph --init)",
    )

    s = sub.add_parser("search", help="batch ANN search against a built index")
    s.add_argument("index", help="dir produced by build-index")
    s.add_argument("queries", help="parquet with (id, vector) query columns")
    s.add_argument("--k", type=int, default=10)
    s.add_argument("--nprobe", type=int, default=2)
    s.add_argument("--id-col", default="vec_id")
    s.add_argument("--vec-col", default="embedding")
    s.add_argument("--out", default=None)
    s.add_argument("--show", type=int, default=20)
    s.add_argument(
        "--as-of", type=int, default=None,
        help="snapshot search: the index exactly as of committed "
        "mutation op N (-1 = pristine base build; default: head)",
    )

    it = sub.add_parser(
        "index-tags",
        help="persist the filtered-track serving artifacts (bucketed "
        "tag postings + df table + tags side table) next to a "
        "build-index layout",
    )
    it.add_argument("index", help="dir produced by build-index")
    it.add_argument("src", help="parquet with (id, tags array<string>) columns")
    it.add_argument("--id-col", default="vec_id")
    it.add_argument("--tags-col", default="tags")
    it.add_argument("--vec-col", default="embedding")
    it.add_argument("--tag-buckets", type=int, default=64)
    it.add_argument(
        "--carry-payload", action=argparse.BooleanOptionalAction, default=True,
        help="store each posting's vector + tag set (space = ~tags/doc "
        "x corpus bytes) so filtered-search is posting-local: query IO "
        "= the rarest tag's posting list alone, corpus-independent; "
        "vector upserts must then carry --tags-col. DEFAULT (the only "
        "mode measured corpus-independent, SCALE.md); "
        "--no-carry-payload opts into the point-fetch layout (smaller "
        "on disk, vector-only upserts allowed, but the verify scan is "
        "measured corpus-BOUND once candidates scatter across shards)",
    )

    fs = sub.add_parser(
        "filtered-search",
        help="tag-containment filtered kNN off an index-tags layout "
        "(rarest-tag posting candidates, bounded point-fetch verify)",
    )
    fs.add_argument("index", help="dir with index-tags artifacts")
    fs.add_argument("queries", help="parquet with (id, vector, tags) columns")
    fs.add_argument("--k", type=int, default=10)
    fs.add_argument("--id-col", default="vec_id")
    fs.add_argument("--vec-col", default="embedding")
    fs.add_argument("--tags-col", default="tags")
    fs.add_argument("--out", default=None)
    fs.add_argument("--show", type=int, default=20)
    fs.add_argument(
        "--as-of", type=int, default=None,
        help="snapshot search at this op id (vector + tag ops share "
        "one ledger; -1 = pristine base)",
    )

    rt = sub.add_parser(
        "retag",
        help="replace the tag sets of existing vectors as ONE "
        "exactly-once tag op (index-tags artifacts required; "
        "SINGLE-WRITER per layout)",
    )
    rt.add_argument("index", help="dir with index-tags artifacts")
    rt.add_argument("src", help="parquet with (id, tags) columns")
    rt.add_argument("--id-col", default="vec_id")
    rt.add_argument("--tags-col", default="tags")
    rt.add_argument(
        "--op-id", type=int, default=None,
        help="replay a specific op id (crash recovery); default: auto",
    )
    _add_compact_above(rt)

    hs = sub.add_parser(
        "hybrid-search",
        help="dense+lexical retrieval off TWO persisted indexes "
        "(build-index IVF + bm25-build), RRF-fused — both runs read "
        "only their pruned partitions",
    )
    hs.add_argument("vec_index", help="dir produced by build-index")
    hs.add_argument("bm25_index", help="dir produced by bm25-build")
    hs.add_argument("queries", help="parquet with (id, vector, text) columns")
    hs.add_argument("--k", type=int, default=10)
    hs.add_argument("--nprobe", type=int, default=2)
    hs.add_argument("--depth", type=int, default=None,
                    help="per-run pool before fusion (default k)")
    hs.add_argument("--rrf-c", type=int, default=60)
    hs.add_argument(
        "--codec", default=None, choices=["raw", "sq8", "pq", "opq", "binary"],
        help="refine tier for the dense run (default: schema-detected)",
    )
    hs.add_argument("--id-col", default="vec_id")
    hs.add_argument("--vec-col", default="embedding")
    hs.add_argument("--text-col", default="text")
    hs.add_argument("--out", default=None)
    hs.add_argument("--show", type=int, default=20)

    iu = sub.add_parser(
        "index-upsert",
        help="insert-or-replace a vector batch into a build-index "
        "layout as ONE exactly-once op (frozen centroids + "
        "quantization ranges; the latest op per id wins). Mutations "
        "are SINGLE-WRITER per layout: run one index-upsert/"
        "index-delete at a time against one index (a lock file under "
        "_ops/ turns a race into a loud error)",
    )
    iu.add_argument("index", help="dir produced by build-index")
    iu.add_argument("src", help="parquet with (id, vector) columns")
    iu.add_argument("--id-col", default="vec_id")
    iu.add_argument("--vec-col", default="embedding")
    iu.add_argument(
        "--op-id", type=int, default=None,
        help="replay a specific op id (crash recovery); default: auto",
    )
    iu.add_argument(
        "--tags-col", default=None,
        help="land this tag-array column as the SAME op (index-tags "
        "artifacts required; vectors + tags become visible atomically)",
    )
    _add_compact_above(iu)

    idl = sub.add_parser(
        "index-delete",
        help="tombstone vector ids out of a build-index layout "
        "(reserved shard -1, never probed; dead bytes remain until "
        "index-compact)",
    )
    idl.add_argument("index", help="dir produced by build-index")
    idl.add_argument(
        "src", nargs="?", default=None,
        help="parquet whose FIRST column is the vector id",
    )
    idl.add_argument(
        "--ids", default=None, help="comma-separated id list (instead of src)"
    )
    idl.add_argument("--op-id", type=int, default=None)
    _add_compact_above(idl)

    ic = sub.add_parser(
        "index-compact",
        help="copy-on-write compaction of a build-index layout: fold "
        "upserts/deletes into a fresh pristine base",
    )
    ic.add_argument("src", help="dir produced by build-index")
    ic.add_argument("dst", help="fresh index dir")

    vi = sub.add_parser(
        "vindex-ingest",
        help="stream a vector directory (insert/delete runbook) into a "
        "build-index layout's op ledger — each source file is one "
        "micro-batch, collected to the driver and landed as one committed "
        "op, exactly-once across restarts; the layout is compacted in "
        "place after the stream once its contested ids pass the size at "
        "which searches warn; serve it with search, fold it with "
        "index-compact or --compact-above",
    )
    vi.add_argument("src", help="directory of parquet files: (id, vector[, op])")
    vi.add_argument(
        "dst", help="build-index layout dir (seeded empty when it holds none)"
    )
    vi.add_argument(
        "--centroids",
        required=True,
        help="centroids parquet (shard_id, centroid), or a build-index "
        "dir containing centroids.parquet; seeds a new layout (an "
        "existing one routes by its own centroids)",
    )
    vi.add_argument("--id-col", default="vec_id")
    vi.add_argument("--vec-col", default="embedding")
    vi.add_argument(
        "--op-col",
        default=None,
        help="column holding 'insert'/'delete'; omitted = all inserts",
    )

    gsi = sub.add_parser(
        "graph-stream-ingest",
        help="stream a vector directory (insert/delete runbook) into a "
        "GRAPH serving layout's op ledger — each micro-batch lands as "
        "one committed graph op, exactly-once across restarts",
    )
    gsi.add_argument("src", help="directory of parquet files: (id, vector[, op])")
    gsi.add_argument(
        "layout", help="graph serving layout dir (build-graph --serving-layout)"
    )
    gsi.add_argument("--id-col", default="vec_id")
    gsi.add_argument("--vec-col", default="embedding")
    gsi.add_argument(
        "--op-col",
        default=None,
        help="column holding 'insert'/'delete'; omitted = all upserts",
    )

    lt = sub.add_parser(
        "lm-train",
        help="train a Stupid-Backoff n-gram LM on a high-quality corpus "
        "and persist it (prep --lm-model reuses it per batch)",
    )
    lt.add_argument("src", help="parquet document directory")
    lt.add_argument("dst", help="model dir (counts/contexts/totals/meta)")
    lt.add_argument("--order", type=int, default=3)
    lt.add_argument("--text-col", default="text")

    bb = sub.add_parser(
        "bm25-build",
        help="build a persisted term-bucketed BM25 index from a "
        "document corpus (partition-pruned queries + incremental merge)",
    )
    bb.add_argument("src", help="parquet document directory")
    bb.add_argument("dst", help="index dir (postings/dfs/stats/meta parquet)")
    bb.add_argument("--id-col", default="doc_id")
    bb.add_argument("--text-col", default="text")
    bb.add_argument("--term-buckets", type=int, default=256)

    bs = sub.add_parser(
        "bm25-search",
        help="BM25 top-k against a bm25-build index, reading only the "
        "query batch's term buckets",
    )
    bs.add_argument("index", help="dir produced by bm25-build")
    bs.add_argument("queries", help="parquet with (id, text) query docs")
    bs.add_argument("--k", type=int, default=10)
    bs.add_argument("--id-col", default="doc_id")
    bs.add_argument("--text-col", default="text")
    bs.add_argument("--max-df", type=int, default=None)
    bs.add_argument(
        "--as-of", type=int, default=None,
        help="snapshot read: the index as of this op id (-1 = the "
        "pristine base build); batch layout only",
    )
    bs.add_argument("--out", default=None)
    bs.add_argument("--show", type=int, default=20)

    bsi = sub.add_parser(
        "bm25-stream-ingest",
        help="stream a document directory into an evolving BM25 index "
        "(exactly-once per-batch deltas; bm25-search queries the live "
        "view)",
    )
    bsi.add_argument("src", help="parquet document directory (streamed)")
    bsi.add_argument("dst", help="index dir (data/ + checkpoint/)")
    bsi.add_argument("--id-col", default="doc_id")
    bsi.add_argument("--text-col", default="text")
    bsi.add_argument("--term-buckets", type=int, default=64)

    bm = sub.add_parser(
        "bm25-merge",
        help="fold a NEW document batch into a bm25-build index "
        "(exactly-once delta partitions, history never read or "
        "rewritten; batch ids must not already be indexed). "
        "SINGLE-WRITER per index: don't run concurrent "
        "bm25-merge/bm25-delete against one layout",
    )
    bm.add_argument("index", help="dir produced by bm25-build")
    bm.add_argument("src", help="parquet directory of new documents")
    bm.add_argument("--id-col", default="doc_id")
    bm.add_argument("--text-col", default="text")
    bm.add_argument(
        "--op-id", type=int, default=None,
        help="replay a specific op id (crash recovery); default: auto",
    )

    bd = sub.add_parser(
        "bm25-delete",
        help="tombstone a document batch out of a bm25-build index "
        "(docs must carry the indexed id AND text; dead postings bytes "
        "remain until bm25-compact)",
    )
    bd.add_argument("index", help="dir produced by bm25-build")
    bd.add_argument("src", help="parquet directory of the docs to delete")
    bd.add_argument("--id-col", default="doc_id")
    bd.add_argument("--text-col", default="text")
    bd.add_argument("--op-id", type=int, default=None)

    bk = sub.add_parser(
        "bm25-compact",
        help="copy-on-write compaction of a bm25-build index: fold "
        "tombstones + op deltas into a fresh base epoch",
    )
    bk.add_argument("src", help="dir produced by bm25-build")
    bk.add_argument("dst", help="fresh index dir")

    bx = sub.add_parser(
        "bm25-export",
        help="materialize a bm25-stream-ingest live index into the "
        "bm25-build batch layout (search/merge/delete run on it "
        "unmodified)",
    )
    bx.add_argument("src", help="dir produced by bm25-stream-ingest")
    bx.add_argument("dst", help="fresh batch-layout index dir")
    bx.add_argument("--term-buckets", type=int, default=256)

    pr = sub.add_parser(
        "prep",
        help="one-call pretraining prep: line-dedup -> C4 -> PII -> "
        "quality -> LM perplexity filter -> exact dedup -> near-dup "
        "reps -> per-source cap -> sample -> dsir -> chunk -> pack, "
        "any subset, canonical order; --shards adds the deterministic "
        "training-shard layout",
    )
    pr.add_argument("src", help="parquet/jsonl document directory")
    pr.add_argument("dst", help="output dir: docs.parquet (+ pack.parquet)")
    pr.add_argument("--format", default="parquet", choices=["json", "parquet"])
    pr.add_argument(
        "--steps",
        default="c4,pii,quality,dedup,neardup",
        help="comma list from linededup,c4,pii,quality,mlquality,"
        "lmfilter,dedup,neardup,cap,sample,tmix,dsir,chunk,pack",
    )
    pr.add_argument("--id-col", default="doc_id")
    pr.add_argument("--text-col", default="text")
    pr.add_argument("--source-col", default="source")
    pr.add_argument("--quality-min", type=float, default=0.5)
    pr.add_argument(
        "--quality-model",
        default=None,
        help="saved PipelineModel dir (operators.quality_model) for the "
        "mlquality step",
    )
    pr.add_argument("--mlquality-min", type=float, default=0.5)
    pr.add_argument("--neardup-threshold", type=float, default=0.8)
    pr.add_argument("--shingle-n", type=int, default=3)
    pr.add_argument("--max-per-source", type=int, default=None)
    pr.add_argument("--sample-fraction", type=float, default=None)
    pr.add_argument(
        "--dsir-target",
        default=None,
        help="parquet dir of target-domain docs for the dsir step "
        "(importance resampling toward this corpus)",
    )
    pr.add_argument(
        "--tmix-total",
        type=int,
        default=None,
        help="tmix: total output token budget split across sources "
        "proportionally to token_count^alpha",
    )
    pr.add_argument("--tmix-alpha", type=float, default=0.5)
    pr.add_argument("--dsir-n", type=int, default=None)
    pr.add_argument("--dsir-buckets", type=int, default=1024)
    pr.add_argument(
        "--dsir-ngram", type=int, default=1, choices=(1, 2),
        help="DSIR feature space: 1=hashed unigrams, 2=+hashed bigrams",
    )
    pr.add_argument(
        "--chunk-tokens", type=int, default=None,
        help="chunk step: overlapping token-window size (the chunk "
        "becomes the corpus unit; parent doc id kept)",
    )
    pr.add_argument("--chunk-overlap", type=int, default=32)
    pr.add_argument("--pack-ctx", type=int, default=None)
    pr.add_argument(
        "--line-max-count",
        type=int,
        default=3,
        help="linededup: drop lines seen more than this many times",
    )
    pr.add_argument(
        "--line-words-per-line",
        type=int,
        default=None,
        help="linededup: treat fixed N-token windows as lines (for "
        "single-line corpora); default splits on newlines",
    )
    pr.add_argument(
        "--lm-docs",
        default=None,
        help="lmfilter: parquet dir of high-quality docs to train the "
        "Stupid-Backoff LM on (the CCNet Wikipedia role); default "
        "self-trained on the corpus",
    )
    pr.add_argument("--lm-order", type=int, default=3)
    pr.add_argument(
        "--lm-model",
        default=None,
        help="lmfilter: dir saved by lm-train (takes precedence over "
        "--lm-docs; train once, reuse per batch)",
    )
    pr.add_argument(
        "--lm-keep",
        default="head,middle",
        help="lmfilter: perplexity buckets to keep (from head,middle,tail)",
    )
    pr.add_argument(
        "--shards",
        type=int,
        default=None,
        help="also write dst/shards/: N hash-assigned parquet shards in "
        "deterministic pseudo-random training order",
    )
    pr.add_argument(
        "--counts",
        action="store_true",
        help="print surviving doc count after every step (one extra job "
        "per step — a debugging aid)",
    )

    bc = sub.add_parser(
        "bm25-stream-compact",
        help="copy-on-write compaction of a bm25-stream-ingest index: "
        "fold per-batch deltas into the base epoch of a fresh dir",
    )
    bc.add_argument("src", help="dir produced by bm25-stream-ingest")
    bc.add_argument("dst", help="fresh index dir")

    ev = sub.add_parser(
        "evaluate",
        help="recall@k of a built IVF index against a big-ann ground-"
        "truth file (nq/k header + int32 ids + float32 dists)",
    )
    ev.add_argument("index", help="dir produced by build-index")
    ev.add_argument("queries", help="parquet OR fbin/u8bin/i8bin query vectors")
    ev.add_argument("gt", help="ground-truth file (big-ann GT format)")
    ev.add_argument("--k", type=int, default=10)
    ev.add_argument("--nprobe", type=int, default=2)
    ev.add_argument("--id-col", default="vec_id", help="index shard id column")
    ev.add_argument("--vec-col", default="embedding", help="index shard vector column")
    ev.add_argument(
        "--query-id-col",
        default=None,
        help="query parquet id column (default: --id-col). GT qids are "
        "POSITIONAL (row 0..nq-1 of the GT file), so query ids must be "
        "exactly 0..nq-1 — validated before searching.",
    )
    ev.add_argument(
        "--as-of", type=int, default=None,
        help="evaluate a mutation SNAPSHOT (committed op N; -1 = "
        "pristine base) instead of the head",
    )
    ev.add_argument(
        "--query-vec-col", default=None, help="query parquet vector column (default: --vec-col)"
    )

    w2p = sub.add_parser(
        "warc-to-parquet",
        help="distributed WARC/WARC.GZ (Common Crawl shape) -> "
        "documents-table parquet (url, text, source, n_chars)",
    )
    w2p.add_argument("src", help="WARC file, dir, or glob")
    w2p.add_argument("dst", help="parquet output dir")
    w2p.add_argument(
        "--cdx", default=None,
        help="warc-index parquet: read via byte-range splits instead "
        "of one task per file",
    )
    w2p.add_argument(
        "--split-mb", type=int, default=32,
        help="target split size in MiB when --cdx is given",
    )

    p2w = sub.add_parser(
        "parquet-to-warc",
        help="document table -> WARC files (one per partition; "
        "conversion records, deterministic ids)",
    )
    p2w.add_argument("src", help="parquet with a text column")
    p2w.add_argument("dst", help="output dir for part-*.warc[.gz]")
    p2w.add_argument("--text-col", default="text")
    p2w.add_argument("--uri-col", default=None, help="column for WARC-Target-URI")
    p2w.add_argument("--gzip", action="store_true", help="one gzip member per record")
    p2w.add_argument("--files", type=int, default=None, help="repartition to N files")
    p2w.add_argument(
        "--overwrite",
        action="store_true",
        help="delete pre-existing part-*.warc[.gz] in dst first "
        "(default: refuse a non-empty dst)",
    )

    wix = sub.add_parser(
        "warc-index",
        help="CDX-style offset index of WARC files -> parquet "
        "(makes multi-GB .warc.gz splittable for warc-to-parquet "
        "--cdx / read_warc_split)",
    )
    wix.add_argument("src", help="WARC file, dir, or glob")
    wix.add_argument("dst", help="parquet output dir for the index")

    f2p = sub.add_parser("fbin-to-parquet", help="distributed fbin/ibin/u8bin -> parquet")
    f2p.add_argument("src")
    f2p.add_argument("dst")

    p2f = sub.add_parser("parquet-to-fbin", help="parquet vector table -> local fbin")
    p2f.add_argument("src")
    p2f.add_argument("dst")
    p2f.add_argument("--id-col", default="vec_id")
    p2f.add_argument("--vec-col", default="embedding")
    p2f.add_argument(
        "--max-rows",
        type=int,
        default=1_000_000,
        help="driver-collect guard for this interop sink (it builds one "
        "local file on the driver); raise for a bigger single-file "
        "export, use parquet for at-scale sinks",
    )

    ing = sub.add_parser(
        "ingest",
        help="stream a jsonl/parquet/WARC document directory into a "
        "deduped corpus (incremental exact dedup vs history, "
        "exactly-once append)",
    )
    ing.add_argument(
        "src", help="directory of .jsonl / .parquet / .warc[.gz] doc files"
    )
    ing.add_argument("dst", help="corpus dir (data/ + checkpoint/ incl. commit markers)")
    ing.add_argument("--format", default="json", choices=["json", "parquet", "warc"])
    ing.add_argument("--id-col", default="doc_id")
    ing.add_argument("--text-col", default="text")
    ing.add_argument(
        "--max-files-per-trigger",
        type=int,
        default=None,
        help="files per micro-batch; default lets availableNow batch "
        "naturally (one history pass total) — per-file batches rescan "
        "history once per file, O(files x corpus)",
    )
    ing.add_argument(
        "--near-dup-threshold",
        type=float,
        default=None,
        help="also drop batch docs whose Jaccard vs the landed corpus "
        "reaches this threshold (MinHash-LSH screen; survivors land "
        "with their signature/shingle stores)",
    )
    return p


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)

    from big_ann_spark.queries import load_all

    if args.cmd == "list":
        for name, q in load_all().items():
            tag = "oracle" if q.sql else "rows-only"
            print(f"{name}\t{tag}")
        return 0

    from big_ann_spark.session import get_spark

    spark = get_spark("big-ann-spark-cli")
    if args.cmd == "run":
        registry = load_all()
        if args.query not in registry:
            print(f"unknown query {args.query!r}; `list` shows all", file=sys.stderr)
            return 2
        df = registry[args.query].fn(spark, args.sf_dir)
        if args.out:
            w = df.write.mode("overwrite")
            (w.parquet(args.out) if args.format == "parquet"
             else w.option("header", True).csv(args.out))
            print(f"{df.count()} rows -> {args.out}")
        else:
            df.show(args.show, truncate=False)
        return 0

    from pyspark.sql import functions as F

    if args.cmd == "build-index":
        from big_ann_spark.operators import sharding as SH

        # pure-argparse validation BEFORE the (possibly hours-long at
        # scale) KMeans fit
        if sum([args.sq8, args.sq8_refine, args.pq_refine,
                args.binary_refine, args.opq_refine]) > 1:
            print(
                "--sq8 / --sq8-refine / --pq-refine / --binary-refine / "
                "--opq-refine are mutually exclusive",
                file=sys.stderr,
            )
            return 2
        emb = spark.read.parquet(args.src)
        assign, cents, _model = SH.kmeans_shard(
            emb, m=args.m, id_col=args.id_col, vec_col=args.vec_col
        )
        if args.sq8:
            from big_ann_spark.operators import pq as PQ

            mins, maxs = PQ.train_sq8(emb, vec_col=args.vec_col)
            coded = emb.select(
                F.col(args.id_col),
                PQ.sq8_encode_col(args.vec_col, mins, maxs).alias("codes"),
            )
            SH.write_sharded(
                assign, coded, args.dst, id_col=args.id_col, vec_col="codes"
            )
            spark.createDataFrame(
                [(mins, maxs)], "mins array<double>, maxs array<double>"
            ).write.mode("overwrite").parquet(f"{args.dst}/sq8_ranges.parquet")
        elif args.sq8_refine:
            from big_ann_spark.operators import pq as PQ

            SH.write_sharded(
                assign, emb, args.dst, id_col=args.id_col, vec_col=args.vec_col,
                sq8_ranges=PQ.train_sq8(emb, vec_col=args.vec_col),
            )
        elif args.pq_refine:
            from big_ann_spark.operators import pq as PQ

            dim = len(emb.select(args.vec_col).first()[0])
            SH.write_sharded(
                assign, emb, args.dst, id_col=args.id_col, vec_col=args.vec_col,
                pq_codebooks=PQ.train_pq(
                    emb, m=args.pq_m, k=args.pq_k, vec_col=args.vec_col, dim=dim
                ),
            )
        elif args.binary_refine:
            from big_ann_spark.operators import pq as PQ

            SH.write_sharded(
                assign, emb, args.dst, id_col=args.id_col, vec_col=args.vec_col,
                binary_thresholds=PQ.train_binary(emb, vec_col=args.vec_col),
            )
        elif args.opq_refine:
            from big_ann_spark.operators import pq as PQ

            dim = len(emb.select(args.vec_col).first()[0])
            # train_opq's default warm-starts from MLlib books (the
            # trainer's random-pick init measured 3-5 recall pts BELOW
            # a plain-PQ layout at 200k — SCALE.md r13)
            R, books, _pmse, _omse = PQ.train_opq(
                emb, m=args.pq_m, k=args.pq_k,
                vec_col=args.vec_col, id_col=args.id_col, dim=dim,
            )
            SH.write_sharded(
                assign, emb, args.dst, id_col=args.id_col, vec_col=args.vec_col,
                pq_codebooks=books, opq_rotation=R,
            )
        else:
            SH.write_sharded(
                assign, emb, args.dst, id_col=args.id_col, vec_col=args.vec_col
            )
        cents.write.mode("overwrite").parquet(f"{args.dst}/centroids.parquet")
        tag = (
            " (sq8 codes)" if args.sq8
            else " (sq8 + refine)" if args.sq8_refine
            else " (pq + refine)" if args.pq_refine
            else " (binary + refine)" if args.binary_refine
            else " (opq + refine)" if args.opq_refine
            else ""
        )
        print(f"{emb.count()} vectors -> {args.m} shards at {args.dst}{tag}")
        return 0

    if args.cmd == "build-graph":
        from big_ann_spark.operators import ann as ANN

        vecs = spark.read.parquet(args.src)
        if args.init == "ivf":
            g = ANN.ivf_seeded_knn_graph(
                vecs, k=args.k, id_col=args.id_col, vec_col=args.vec_col,
                refine_iterations=args.iterations,
                target_shard_rows=args.target_shard_rows,
                local_join_cap=args.local_join_cap,
                seeding=args.seeding,
            )
        else:
            g = ANN.nn_descent_knn_graph(
                vecs, k=args.k, iterations=args.iterations,
                id_col=args.id_col, vec_col=args.vec_col,
            )
        g.write.mode("overwrite").parquet(f"{args.dst}/edges.parquet")
        print(f"{g.count()} edges (k={args.k}) -> {args.dst}")
        if args.serving_layout:
            g_written = spark.read.parquet(f"{args.dst}/edges.parquet")
            ANN.write_knn_graph_layout(
                g_written, vecs, args.dst,
                id_col=args.id_col, vec_col=args.vec_col,
                n_graph_buckets=args.graph_buckets,
                **(
                    {"n_entries": args.entries}
                    if args.entries is not None
                    else {}
                ),
            )
            print(
                f"serving layout ({args.graph_buckets} buckets) -> {args.dst}"
            )
        return 0

    if args.cmd == "graph-search":
        from big_ann_spark.operators import ann as ANN
        from big_ann_spark.operators import oplayout

        q = spark.read.parquet(args.queries).select(
            F.col(args.id_col).alias("qid"), F.col(args.vec_col).alias("qvec")
        )
        if oplayout.path_exists(spark, f"{args.graph}/graph.parquet"):
            out = ANN.knn_graph_search_from_disk(
                q, args.graph, k=args.k, beam=args.beam, hops=args.hops,
                n_entry=args.n_entry, as_of=args.as_of,
            )
        else:
            if args.as_of is not None:
                print(
                    "graph-search: --as-of needs a serving layout (the "
                    "op ledger lives beside it)",
                    file=sys.stderr,
                )
                return 2
            if args.base is None:
                print(
                    "graph-search: a plain edges dir needs the base vector "
                    "table (or rebuild with --serving-layout)",
                    file=sys.stderr,
                )
                return 2
            g = spark.read.parquet(f"{args.graph}/edges.parquet")
            base = spark.read.parquet(args.base)
            out = ANN.knn_graph_search(
                q, g, base, k=args.k, beam=args.beam, hops=args.hops,
                n_entry=args.n_entry, id_col=args.id_col, vec_col=args.vec_col,
            )
        if args.out:
            out.write.mode("overwrite").parquet(args.out)
            # count the WRITTEN parquet — re-counting `out` would
            # re-execute the whole search DAG for one integer
            n = spark.read.parquet(args.out).count()
            print(f"{n} rows -> {args.out}")
        else:
            out.show(args.show, truncate=False)
        return 0

    if args.cmd == "graph-upsert":
        from big_ann_spark.operators import graph_ops as GO

        vecs = spark.read.parquet(args.src).select(args.id_col, args.vec_col)
        op = GO.upsert_graph_vectors(
            spark, args.graph, vecs,
            id_col=args.id_col, vec_col=args.vec_col, op_id=args.op_id,
        )
        n = vecs.select(args.id_col).distinct().count()
        print(f"op {op}: upserted {n} vectors into {args.graph}")
        return 0

    if args.cmd == "graph-delete":
        from big_ann_spark.operators import graph_ops as GO

        if (args.src is None) == (args.ids is None):
            print("graph-delete needs exactly one of src or --ids", file=sys.stderr)
            return 2
        if args.ids is not None:
            ids = [int(s) for s in args.ids.split(",") if s.strip()]
            n = len(set(ids))
        else:
            ids = spark.read.parquet(args.src)
            n = ids.select(ids.columns[0]).distinct().count()
        op = GO.delete_graph_nodes(spark, args.graph, ids, op_id=args.op_id)
        print(f"op {op}: tombstoned {n} node ids in {args.graph}")
        return 0

    if args.cmd == "graph-compact":
        from big_ann_spark.operators import graph_ops as GO

        if args.dst is None:
            n_ops = GO.compact_graph_in_place(
                spark, args.src, k=args.k, build=args.build
            )
            print(f"compacted {n_ops} ops in place at {args.src}")
        else:
            n_ops = GO.compact_graph_layout(
                spark, args.src, args.dst, k=args.k, build=args.build
            )
            print(f"compacted {n_ops} ops -> {args.dst}")
        return 0

    if args.cmd == "search":
        from big_ann_spark.operators import ann as ANN

        cents = spark.read.parquet(f"{args.index}/centroids.parquet")
        q = spark.read.parquet(args.queries).select(
            F.col(args.id_col).alias("qid"), F.col(args.vec_col).alias("qvec")
        )
        # codec detection is SCHEMA-ONLY (zero jobs): code columns can
        # only come from the base layout. A refine layout gets its
        # quantized candidate scan + exact rerank, a --sq8 layout the
        # scan of its decoded codes; one call routes, resolves
        # mutations and scores
        out = ANN.ivf_search_from_disk(
            q, args.index, cents, k=args.k, nprobe=args.nprobe,
            id_col=args.id_col, vec_col=args.vec_col,
            codec=ANN.detect_refine_codec(spark, args.index, args.vec_col),
            as_of=args.as_of,
        )
        if args.out:
            out.write.mode("overwrite").parquet(args.out)
            # count the WRITTEN parquet — re-counting `out` would
            # re-execute the whole search DAG for one integer
            n = spark.read.parquet(args.out).count()
            print(f"{n} rows -> {args.out}")
        else:
            out.show(args.show, truncate=False)
        return 0

    if args.cmd == "index-tags":
        from big_ann_spark.operators import ann as ANN

        tagged = spark.read.parquet(args.src)
        ANN.write_tag_postings_layout(
            tagged, args.index,
            id_col=args.id_col, tags_col=args.tags_col,
            vec_col=args.vec_col,
            n_tag_buckets=args.tag_buckets,
            carry_payload=args.carry_payload,
        )
        n = spark.read.parquet(f"{args.index}/tag_df.parquet").count()
        print(f"{n} distinct tags indexed ({args.tag_buckets} buckets) "
              f"-> {args.index}")
        return 0

    if args.cmd == "filtered-search":
        from big_ann_spark.operators import ann as ANN

        q = spark.read.parquet(args.queries).select(
            F.col(args.id_col).alias("qid"),
            F.col(args.vec_col).alias("qvec"),
            F.col(args.tags_col).alias("qtags"),
        )
        out = ANN.filtered_search_from_disk(
            q, args.index, k=args.k,
            id_col=args.id_col, vec_col=args.vec_col, as_of=args.as_of,
        )
        if args.out:
            out.write.mode("overwrite").parquet(args.out)
            n = spark.read.parquet(args.out).count()
            print(f"{n} rows -> {args.out}")
        else:
            out.show(args.show, truncate=False)
        return 0

    if args.cmd == "hybrid-search":
        from big_ann_spark.operators.fusion import hybrid_search_from_disk

        q = spark.read.parquet(args.queries).select(
            F.col(args.id_col).alias("qid"),
            F.col(args.vec_col).alias("qvec"),
            F.col(args.text_col).alias("qtext"),
        )
        out = hybrid_search_from_disk(
            spark, args.vec_index, args.bm25_index, q,
            k=args.k, nprobe=args.nprobe, depth=args.depth, c=args.rrf_c,
            codec=args.codec,
        )
        if args.out:
            out.write.mode("overwrite").parquet(args.out)
            n = spark.read.parquet(args.out).count()
            print(f"{n} rows -> {args.out}")
        else:
            out.show(args.show, truncate=False)
        return 0

    if args.cmd == "retag":
        from big_ann_spark.operators import tag_ops as TO

        tagged = spark.read.parquet(args.src).select(args.id_col, args.tags_col)
        op = TO.upsert_tags(
            spark, args.index, tagged,
            id_col=args.id_col, tags_col=args.tags_col, op_id=args.op_id,
        )
        n = tagged.select(args.id_col).distinct().count()
        print(f"op {op}: retagged {n} ids in {args.index}")
        _maybe_autocompact(spark, args)
        return 0

    if args.cmd == "index-upsert":
        from big_ann_spark.operators import vector_ops as VO

        cols = [args.id_col, args.vec_col]
        if args.tags_col:
            cols.append(args.tags_col)
        vecs = spark.read.parquet(args.src).select(*cols)
        op = VO.upsert_vectors(
            spark, args.index, vecs,
            id_col=args.id_col, vec_col=args.vec_col, op_id=args.op_id,
            tags_col=args.tags_col,
        )
        n = vecs.select(args.id_col).distinct().count()
        tagnote = " (+tags)" if args.tags_col else ""
        print(f"op {op}: upserted {n} vectors{tagnote} into {args.index}")
        _maybe_autocompact(spark, args)
        return 0

    if args.cmd == "index-delete":
        from big_ann_spark.operators import vector_ops as VO

        if (args.src is None) == (args.ids is None):
            print("index-delete needs exactly one of src or --ids", file=sys.stderr)
            return 2
        if args.ids is not None:
            ids = [int(s) for s in args.ids.split(",") if s.strip()]
            n = len(set(ids))
        else:
            ids = spark.read.parquet(args.src)
            n = ids.select(ids.columns[0]).distinct().count()
        op = VO.delete_vectors(spark, args.index, ids, op_id=args.op_id)
        print(f"op {op}: tombstoned {n} vector ids in {args.index}")
        _maybe_autocompact(spark, args)
        return 0

    if args.cmd == "index-compact":
        from big_ann_spark.operators import vector_ops as VO

        from big_ann_spark.operators.ann import open_probed_shards

        n_ops = VO.compact_vector_layout(spark, args.src, args.dst)
        # the schema sidecar types the count of a layout whose every
        # row was deleted (its shards directory holds no file)
        n = open_probed_shards(spark, args.dst, None).count()
        print(f"compacted {n_ops} ops -> {args.dst} ({n} live vectors)")
        return 0

    if args.cmd == "lm-train":
        from big_ann_spark.operators.ngram_lm import save_ngram_lm, train_ngram_lm

        docs = spark.read.parquet(args.src)
        lm = train_ngram_lm(docs, order=args.order, text_col=args.text_col)
        save_ngram_lm(lm, args.dst)
        t = spark.read.parquet(f"{args.dst}/totals.parquet").collect()[0]
        print(
            f"order-{args.order} LM: {t.t_tokens} tokens, "
            f"{t.v_vocab} vocab -> {args.dst}"
        )
        return 0

    if args.cmd == "bm25-build":
        from big_ann_spark.operators import bm25 as BM

        docs = spark.read.parquet(args.src)
        BM.write_bm25_index(
            BM.bm25_index(docs, id_col=args.id_col, text_col=args.text_col),
            args.dst,
            n_term_buckets=args.term_buckets,
        )
        n = spark.read.parquet(f"{args.dst}/stats.parquet").collect()[0]
        print(
            f"indexed {n.n_docs} docs (avgdl {n.avgdl:.1f}, "
            f"{args.term_buckets} term buckets) -> {args.dst}"
        )
        return 0

    if args.cmd == "bm25-stream-ingest":
        from big_ann_spark.streaming.bm25_stream import stream_bm25_ingest

        src_schema = spark.read.parquet(args.src).schema
        missing = [
            c for c in (args.id_col, args.text_col) if c not in src_schema.names
        ]
        if missing:
            print(f"source is missing column(s): {missing}", file=sys.stderr)
            return 2
        stream = (
            spark.readStream.schema(src_schema).format("parquet").load(args.src)
        )
        stream_bm25_ingest(
            stream, args.dst, id_col=args.id_col, text_col=args.text_col,
            n_term_buckets=args.term_buckets,
        )
        from big_ann_spark.streaming.bm25_stream import live_bm25_index

        live = live_bm25_index(spark, args.dst)
        n = live.stats.collect()[0] if live is not None else None
        print(
            "indexed 0 docs" if n is None
            else f"live index: {n.n_docs} docs (avgdl {n.avgdl:.1f}) -> {args.dst}"
        )
        return 0

    if args.cmd == "bm25-search":
        import os

        from big_ann_spark.operators import bm25 as BM

        q = spark.read.parquet(args.queries)
        if os.path.isdir(f"{args.index}/checkpoint/_committed"):
            # streamed layout (bm25-stream-ingest): query the live view
            from big_ann_spark.streaming.bm25_stream import live_bm25_index

            if args.as_of is not None:
                print("--as-of applies to the batch layout only",
                      file=sys.stderr)
                return 2
            live = live_bm25_index(spark, args.index)
            if live is None:
                print("index has no committed batches", file=sys.stderr)
                return 2
            out = BM.bm25_topk(
                q, live, k=args.k,
                id_col=args.id_col, text_col=args.text_col, max_df=args.max_df,
            )
        else:
            out = BM.bm25_topk_from_disk(
                spark, args.index, q, k=args.k,
                id_col=args.id_col, text_col=args.text_col, max_df=args.max_df,
                as_of=args.as_of,
            )
        if args.out:
            out.write.mode("overwrite").parquet(args.out)
            # count the WRITTEN parquet — re-counting `out` would
            # re-execute the whole search DAG for one integer
            n = spark.read.parquet(args.out).count()
            print(f"{n} rows -> {args.out}")
        else:
            out.show(args.show, truncate=False)
        return 0

    if args.cmd in ("bm25-merge", "bm25-delete"):
        from big_ann_spark.operators import bm25 as BM

        fn = (
            BM.merge_bm25_index if args.cmd == "bm25-merge"
            else BM.delete_from_bm25_index
        )
        op = fn(
            spark, args.index, spark.read.parquet(args.src),
            id_col=args.id_col, text_col=args.text_col, op_id=args.op_id,
        )
        # the LOGICAL stats (base + committed deltas), not the base table
        n = BM.read_bm25_index(spark, args.index).stats.collect()[0]
        verb = "merged" if args.cmd == "bm25-merge" else "deleted"
        # avgdl folds to NULL when the last doc is deleted (0/0)
        avgdl = f"{n.avgdl:.1f}" if n.avgdl is not None else "n/a"
        print(f"{verb} (op {op}); index now {n.n_docs} docs (avgdl {avgdl})")
        return 0

    if args.cmd == "bm25-compact":
        from big_ann_spark.operators.bm25 import compact_bm25_index

        n = compact_bm25_index(spark, args.src, args.dst)
        print(f"compacted {n} postings -> {args.dst}")
        return 0

    if args.cmd == "bm25-export":
        from big_ann_spark.streaming.bm25_stream import export_bm25_index

        try:
            n = export_bm25_index(
                spark, args.src, args.dst, n_term_buckets=args.term_buckets
            )
        except ValueError as e:
            print(str(e), file=sys.stderr)
            return 2
        print(f"exported {n} postings -> {args.dst} (batch layout)")
        return 0

    if args.cmd == "graph-stream-ingest":
        from pyspark.sql.types import StructType

        from big_ann_spark.streaming import graph_stream as GS

        src_schema = spark.read.parquet(args.src).schema
        want = [args.id_col, args.vec_col] + (
            [args.op_col] if args.op_col else []
        )
        missing = [c for c in want if c not in src_schema.names]
        if missing:
            raise SystemExit(
                f"graph-stream-ingest: {args.src} lacks column(s) "
                f"{missing} (found: {src_schema.names})"
            )
        stream = (
            spark.readStream.schema(
                StructType([src_schema[c] for c in want])
            )
            .format("parquet")
            .load(args.src)
        )
        GS.stream_graph_ingest(
            stream, args.layout,
            id_col=args.id_col, vec_col=args.vec_col, op_col=args.op_col,
        )
        from big_ann_spark.operators import oplayout as OL

        n_ops = len(OL.committed_ops(spark, args.layout))
        print(f"graph layout at {args.layout}: {n_ops} committed op(s)")
        return 0

    if args.cmd == "vindex-ingest":
        import os

        from pyspark.sql.types import StructType

        from big_ann_spark.operators import oplayout as OL
        from big_ann_spark.operators import vector_ops as VO
        from big_ann_spark.operators.ann import drop_dead_rows
        from big_ann_spark.streaming import vector_index as VI

        cpath = args.centroids
        if os.path.isdir(cpath) and os.path.isdir(f"{cpath}/centroids.parquet"):
            cpath = f"{cpath}/centroids.parquet"
        cents = spark.read.parquet(cpath)
        # the stream schema comes from a batch read of the source, so an
        # array<double> corpus streams as itself; fail naming any
        # missing column
        src_schema = spark.read.parquet(args.src).schema
        want = [args.id_col, args.vec_col] + ([args.op_col] if args.op_col else [])
        missing = [c for c in want if c not in src_schema.names]
        if missing:
            raise SystemExit(
                f"vindex-ingest: {args.src} lacks column(s) {missing} "
                f"(found: {src_schema.names})"
            )
        # one source file per micro-batch: a micro-batch is collected to
        # the driver (at most ann.DRIVER_ROWS rows), so the whole
        # directory as one batch would cap the source at that size; a
        # runbook file is one step, landed as one op in file order
        stream = (
            spark.readStream.schema(StructType([src_schema[c] for c in want]))
            .option("maxFilesPerTrigger", 1)
            .format("parquet")
            .load(args.src)
        )
        VI.stream_vector_index_ingest(
            stream, args.dst, cents,
            id_col=args.id_col, vec_col=args.vec_col, op_col=args.op_col,
        )
        # every streamed id stays contested until a compaction, and each
        # search pays for the contested set: fold the layout once it
        # passes the size at which searches start to warn
        n, n_ops = VO.compact_if_needed(
            spark, args.dst, max_contested=OL.CONTESTED_WARN_ABOVE
        )
        if n_ops is not None:
            print(f"auto-compact: {n} contested ids; folded {n_ops} ops in place")
        frame, dead = VO.live_frame(spark, args.dst)
        n = drop_dead_rows(frame.select("vec_id", "_resolved"), dead, "vec_id").count()
        print(f"index at {args.dst}: {n} live vectors")
        return 0

    if args.cmd == "prep":
        from big_ann_spark.pipeline import prep_corpus

        reader = spark.read
        docs = (
            reader.json(args.src) if args.format == "json" else reader.parquet(args.src)
        )
        lm_model = None
        if args.lm_model:
            from big_ann_spark.operators.ngram_lm import load_ngram_lm

            lm_model = load_ngram_lm(spark, args.lm_model)
        qmodel = None
        if args.quality_model:
            from pyspark.ml import PipelineModel

            qmodel = PipelineModel.load(args.quality_model)
        dsir_target = (
            spark.read.parquet(args.dsir_target) if args.dsir_target else None
        )
        cleaned, placements, tally = prep_corpus(
            docs,
            [s.strip() for s in args.steps.split(",") if s.strip()],
            id_col=args.id_col,
            text_col=args.text_col,
            source_col=args.source_col,
            quality_min=args.quality_min,
            quality_model=qmodel,
            mlquality_min=args.mlquality_min,
            neardup_threshold=args.neardup_threshold,
            shingle_n=args.shingle_n,
            max_per_source=args.max_per_source,
            sample_fraction=args.sample_fraction,
            dsir_target=dsir_target,
            dsir_n=args.dsir_n,
            tmix_total_tokens=args.tmix_total,
            tmix_alpha=args.tmix_alpha,
            dsir_buckets=args.dsir_buckets,
            dsir_ngram=args.dsir_ngram,
            chunk_tokens=args.chunk_tokens,
            chunk_overlap=args.chunk_overlap,
            pack_ctx=args.pack_ctx,
            line_max_count=args.line_max_count,
            line_words_per_line=args.line_words_per_line,
            lm_docs=(
                spark.read.parquet(args.lm_docs) if args.lm_docs else None
            ),
            lm_model=lm_model,
            lm_order=args.lm_order,
            lm_keep=tuple(
                s.strip() for s in args.lm_keep.split(",") if s.strip()
            ),
            counts=args.counts,
        )
        cleaned.write.mode("overwrite").parquet(f"{args.dst}/docs.parquet")
        for step, n in tally.items():
            print(f"after {step}: {n} docs")
        if placements is not None:
            placements.write.mode("overwrite").parquet(f"{args.dst}/pack.parquet")
        if args.shards:
            from big_ann_spark.operators.packing import write_training_shards

            manifest = write_training_shards(
                spark.read.parquet(f"{args.dst}/docs.parquet"),
                f"{args.dst}/shards",
                args.shards,
                id_col=args.id_col,
                text_col=args.text_col,
            )
            for r in manifest.orderBy("shard").collect():
                print(f"shard {r['shard']}: {r['n_docs']} docs, {r['n_tokens']} tokens")
        n = spark.read.parquet(f"{args.dst}/docs.parquet").count()
        print(f"prep: {n} docs -> {args.dst}/docs.parquet"
              + (" (+ pack.parquet)" if placements is not None else "")
              + (f" (+ shards/ x{args.shards})" if args.shards else ""))
        return 0

    if args.cmd == "bm25-stream-compact":
        from big_ann_spark.streaming.bm25_stream import compact_bm25_stream

        n = compact_bm25_stream(spark, args.src, args.dst)
        print(f"compacted {args.src} -> {args.dst}: {n} live postings")
        return 0

    from big_ann_spark.sources import fbin as FB

    if args.cmd == "evaluate":
        from big_ann_spark.operators.knn import recall_at_k

        nq, gt_k = FB.read_header(args.gt)
        if args.k > gt_k:
            raise SystemExit(
                f"--k {args.k} exceeds the GT file's k={gt_k}: recall@"
                f"{args.k} cannot be computed from {args.gt} (it would "
                "silently cap below 1.0)"
            )
        cents = spark.read.parquet(f"{args.index}/centroids.parquet")
        # sniff the queries input instead of routing purely on the
        # .parquet suffix (a parquet DIRECTORY not named *.parquet went
        # down the fbin reader and died on a garbage header): any
        # directory is a parquet layout, a file must carry a known
        # vector suffix — anything else fails with the contract
        import os as _os

        qpath = args.queries
        if qpath.rstrip("/").endswith(".parquet") or _os.path.isdir(qpath):
            qic = args.query_id_col or args.id_col
            qvc = args.query_vec_col or args.vec_col
            q = spark.read.parquet(qpath).select(
                F.col(qic).alias("qid"), F.col(qvc).alias("qvec")
            )
        else:
            try:
                FB._suffix_of(qpath)
            except ValueError:
                raise SystemExit(
                    f"evaluate: cannot tell the queries format of {qpath!r} — "
                    "expected a parquet directory/*.parquet path or a binary "
                    f"vector file ending in one of {sorted(FB._DTYPES)}"
                )
            q = FB.read_fbin_spark(spark, qpath).select(
                F.col("id").alias("qid"), F.col("vec").alias("qvec")
            )
        # GT qids are positional by format; a query id set that is not
        # exactly 0..nq-1 would inner-join to nothing and print a
        # silent recall 0 — fail loudly instead (query batches are
        # small by the GT contract, so the collect is bounded)
        qids = sorted(r.qid for r in q.select("qid").collect())
        if qids != list(range(nq)):
            raise SystemExit(
                f"query ids must be the GT row ordinals 0..{nq - 1} "
                f"(got {len(qids)} ids, first/last "
                f"{qids[0] if qids else None}/{qids[-1] if qids else None})"
            )
        # recall must be measured against the SERVED index — deleted
        # vectors out, upserts in — and its stored vectors: the raw
        # column where there is one (no quantized pool), else the codes
        from big_ann_spark.operators import ann as ANN

        codes_only = ANN.detect_refine_codec(spark, args.index, args.vec_col) == "codes_only"
        pred = ANN.ivf_search_from_disk(
            q, args.index, cents, k=args.k, nprobe=args.nprobe,
            id_col=args.id_col, vec_col=args.vec_col,
            codec="codes_only" if codes_only else "raw", as_of=args.as_of,
        ).select("qid", "neighbor_id", "rank")
        gt = FB.ground_truth_df(spark, args.gt, k=args.k)
        r = recall_at_k(pred, gt, args.k).collect()[0].recall_at_k
        print(f"recall@{args.k} (nprobe={args.nprobe}): {r:.4f}")
        return 0

    if args.cmd == "warc-to-parquet":
        from big_ann_spark.sources import warc as W

        if args.cdx:
            recs = W.read_warc_split(
                spark, args.cdx, split_bytes=args.split_mb << 20
            )
        else:
            recs = W.read_warc(spark, args.src)
        docs = W.warc_to_documents(recs)
        docs.write.mode("overwrite").parquet(args.dst)
        n = spark.read.parquet(args.dst).count()
        print(f"{n} documents -> {args.dst}")
        return 0

    if args.cmd == "warc-index":
        from big_ann_spark.sources import warc as W

        idx = W.build_cdx(spark, args.src)
        idx.write.mode("overwrite").parquet(args.dst)
        meta = spark.read.parquet(args.dst)
        n = meta.count()
        nf = meta.select("file").distinct().count()
        print(f"{n} members across {nf} WARC files -> {args.dst}")
        return 0

    if args.cmd == "parquet-to-warc":
        from big_ann_spark.sources import warc as W

        docs = spark.read.parquet(args.src)
        if args.uri_col is not None and args.uri_col in docs.columns:
            docs = docs.withColumn(args.uri_col, F.col(args.uri_col).cast("string"))
        manifest = W.write_warc(
            docs,
            args.dst,
            text_col=args.text_col,
            uri_col=args.uri_col,
            gzip_records=args.gzip,
            files=args.files,
            mode="overwrite" if args.overwrite else "error",
        )
        n = sum(m[1] for m in manifest)
        print(f"{n} records in {len(manifest)} WARC files -> {args.dst}")
        return 0

    if args.cmd == "fbin-to-parquet":
        df = FB.read_fbin_spark(spark, args.src)
        df.write.mode("overwrite").parquet(args.dst)
        print(f"{df.count()} vectors -> {args.dst}")
        return 0

    if args.cmd == "ingest":
        from big_ann_spark.streaming import corpus as SC

        if args.format == "warc":
            # continuous Common Crawl shape: new .warc[.gz] files →
            # parsed records → documents; doc ids are the stable hash
            # of the target URI (falling back to the text) so crash
            # replays regenerate identical ids
            from big_ann_spark.sources import warc as W

            docs = W.warc_to_documents(
                W.read_warc_stream(
                    spark, args.src,
                    max_files_per_trigger=args.max_files_per_trigger,
                )
            ).select(
                F.xxhash64(F.coalesce("url", "text")).alias(args.id_col),
                F.col("text").alias(args.text_col),
            )
        else:
            schema = f"{args.id_col} long, {args.text_col} string"
            reader = spark.readStream.schema(schema).format(args.format)
            if args.max_files_per_trigger is not None:
                reader = reader.option(
                    "maxFilesPerTrigger", args.max_files_per_trigger
                )
            docs = reader.load(args.src)
        SC.stream_corpus_ingest(
            docs,
            args.dst,
            id_col=args.id_col,
            text_col=args.text_col,
            near_dup_threshold=args.near_dup_threshold,
        )
        n = SC.read_corpus(spark, args.dst).count()
        print(f"corpus at {args.dst}: {n} unique docs")
        return 0

    if args.cmd == "parquet-to-fbin":
        df = spark.read.parquet(args.src).select(
            F.col(args.id_col).alias("id"), F.col(args.vec_col).alias("vec")
        )
        FB.write_fbin_from_df(df, args.dst, max_rows=args.max_rows)
        nvecs, dim = FB.read_header(args.dst)
        print(f"{nvecs} x {dim} -> {args.dst}")
        return 0

    return 2


if __name__ == "__main__":
    raise SystemExit(main())
