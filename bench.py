"""BENCH harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "knn_exact_top10",
    "knn_cosine_top5",
    "pairwise_distance_stats",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "grouped_joins",
    "per_dim_profile",
    "dim_pair_stats",
    "window_rankings",
    "centroid_assignment_stats",
    "ivf_search_top5",
    "ann_recall_at_10",
    # dense / filtered (label hash-join) / sparse (inverted-index MIPS)
    # retrieval union — the r7 benchmark-track extensions
    "doc_retrieval_top3",
    "ngram_jaccard_top_pairs",
    "dedup_exact",
    "minhash_lsh_near_dup",
    "interval_merges",
    "interval_stabs",
    "text_metrics",
    # the LLM-pipeline composite (8 oracle-checked variants: redact/
    # clean/sample/mix/bpe/bpe_train/pack/c4) — the closest thing to a
    # real pretraining-prep job, benched so regressions in the
    # composite path are visible round-over-round (VERDICT r6 #8)
    "pipeline_clean_corpus",
]


# Idle-host min of the canary below, measured on this box (min of 8:
# 0.199-0.207 s, +-2%) — the denominator for canary-normalized totals.
# Re-calibrate if the canary workload changes.
CANARY_REF_SEC = 0.20


def run_canary() -> float:
    """Fixed single-thread sha256 over 256 MB as a host-capacity probe:
    the r7 loadavg gate passed at 0.93 yet identical code drifted
    21.8→32 s across one day (VERDICT r7 #4), so loadavg alone cannot
    attribute deltas. Chosen over JVM/BLAS probes on measurement: a
    Spark codegen sum keeps dropping with JIT depth across a session
    (0.95 s fresh → 0.30 s post-suite — conflates JVM warmth with host
    state) and multithreaded BLAS/sha jitter ±20% under scheduler
    noise, while this probe holds ±2% and inflates directly with CPU
    steal / frequency drift. min-of-3; suite_total /
    (canary/CANARY_REF_SEC) is the host-normalized number comparable
    across rounds."""
    import hashlib
    import time as _t

    data = b"\xab" * (256 * 1024 * 1024)

    def once() -> float:
        t0 = _t.perf_counter()
        hashlib.sha256(data).hexdigest()
        return _t.perf_counter() - t0

    return round(min(once() for _ in range(3)), 3)


def run_io_canary() -> float:
    """Disk-read probe alongside the CPU canary: the r8 end-of-day data
    showed identical code + identical CPU canary (0.192–0.195 s) with
    suite totals drifting 25.9 → 36.9 s — the residual driver is
    page-cache / IO state a pure-CPU probe cannot see. This reads a
    fixed 256 MB scratch file SEQUENTIALLY after evicting it from the
    page cache (posix_fadvise DONTNEED), so it tracks true device read
    throughput without touching (or evicting) the test data. min-of-2,
    reported raw — no normalization until a round establishes its
    reference spread."""
    import time as _t

    path = "/tmp/.bench_io_canary"
    size = 256 * 1024 * 1024
    if not os.path.exists(path) or os.path.getsize(path) != size:
        with open(path, "wb") as f:
            f.write(b"\xcd" * size)
            f.flush()
            os.fsync(f.fileno())

    def once() -> float:
        fd = os.open(path, os.O_RDONLY)
        try:
            os.posix_fadvise(fd, 0, 0, os.POSIX_FADV_DONTNEED)
            t0 = _t.perf_counter()
            while os.read(fd, 8 * 1024 * 1024):
                pass
            return _t.perf_counter() - t0
        finally:
            os.close(fd)

    return round(min(once() for _ in range(2)), 3)


# Unchanged-code drift sentinels (VERDICT r8 #6): when the suite total
# regresses vs the previous round's BENCH file, these rerun in FRESH
# isolated processes so BENCH_r{N} self-attributes the drift (code cost
# vs session/JVM/page-cache state) instead of needing ROUND_NOTES
# forensics. The trio is the r7/r8 drift investigation's set: stable
# queries whose code hasn't changed in rounds.
SENTINELS = ["per_dim_profile", "grouped_joins", "dim_pair_stats"]
DRIFT_TRIGGER_RATIO = 1.15


def _prev_bench_total(sf: float) -> tuple[int | None, float | None]:
    """Round number + suite total of the newest BENCH_r*.json beside
    this script (the driver writes one per round). The total is only
    comparable at the SAME scale factor — a local sf0.01 iteration must
    not 'regress' against the driver's sf0.1 number."""
    import glob
    import re as _re

    here = os.path.dirname(os.path.abspath(__file__))
    best: tuple[int, str] | None = None
    for p in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = _re.search(r"BENCH_r(\d+)\.json$", p)
        if m and (best is None or int(m.group(1)) > best[0]):
            best = (int(m.group(1)), p)
    if best is None:
        return None, None
    try:
        with open(best[1]) as f:
            d = json.load(f)
        # the driver wraps our JSON line under "parsed"
        d = d.get("parsed", d) if isinstance(d, dict) else d
        if float(d.get("sf", -2)) != sf:
            return best[0], None
        return best[0], float(d["value"])
    except Exception:
        return best[0], None


def run_sentinels_isolated(sf_dir: str) -> dict[str, dict[str, float]]:
    """Each sentinel in a fresh python+JVM subprocess (cold session,
    min-of-2 in-process): a sentinel that is fast in isolation but slow
    in the suite run says session/host state, not code."""
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))
    out: dict[str, dict[str, float]] = {}
    for name in SENTINELS:
        script = f"""
import sys, time, json
sys.path.insert(0, {here!r})
from big_ann_spark.queries import load_all
from big_ann_spark.session import get_spark
reg = load_all()
spark = get_spark("bench-sentinel")
spark.read.parquet({sf_dir!r} + "/lineitem.parquet").count()
q = reg.get({name!r})
ts = []
for _ in range(2):
    t0 = time.perf_counter(); q.fn(spark, {sf_dir!r}).count()
    ts.append(time.perf_counter() - t0)
print("SENTINEL_JSON:" + json.dumps(
    {{"min": round(min(ts), 3), "cold": round(ts[0], 3)}}))
"""
        try:
            r = subprocess.run(
                [sys.executable, "-c", script],
                capture_output=True, text=True, timeout=300,
            )
            for line in r.stdout.splitlines():
                if line.startswith("SENTINEL_JSON:"):
                    out[name] = json.loads(line[len("SENTINEL_JSON:"):])
                    break
            else:
                out[name] = {"error": 1.0}
        except Exception:
            out[name] = {"error": 1.0}
        print(f"# sentinel(isolated) {name}: {out[name]}", file=sys.stderr)
    return out


def _evict_layout(layout: str) -> None:
    """Evict a layout's page-cache footprint (fadvise DONTNEED) so a
    timed read pays device IO, not a write-back cache hit."""
    for root, _dirs, files in os.walk(layout):
        for fn in files:
            fd = os.open(os.path.join(root, fn), os.O_RDONLY)
            try:
                os.posix_fadvise(fd, 0, 0, os.POSIX_FADV_DONTNEED)
            finally:
                os.close(fd)


def measure_filtered_cold_disk_qps(
    spark, sf_dir: str, n_queries: int = 20
) -> tuple[float | None, list]:
    """VERDICT r11 #5: the FILTERED-track cold serving number — one
    tag-containment batch (filtered_search_from_disk) against a
    prebuilt PAYLOAD posting layout (carry_payload, the default build:
    the mode SCALE.md measured corpus-independent), page-cache evicted
    first. Tracked by the harness per round so filtered serving
    regressions show in BENCH_r{N}, not only in the ad-hoc
    tools/measure_filtered_mut.py campaigns."""
    import tempfile

    from pyspark.sql import functions as F

    from big_ann_spark.operators import ann as ANN
    from big_ann_spark.operators import sharding as SH

    tmp_root = tempfile.mkdtemp(prefix="bench_ftag_")
    try:
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        tagged = emb.join(
            docs.select("doc_id", "lang", "source"), emb.vec_id == docs.doc_id
        ).select(
            "vec_id",
            "embedding",
            F.array(
                F.concat(F.lit("lang:"), F.col("lang")),
                F.concat(F.lit("src:"), F.col("source")),
            ).alias("tags"),
        ).localCheckpoint()
        cents = SH.label_centroids(emb).localCheckpoint()
        assign = SH.assign_to_centroids(tagged, cents, extra_cols=["embedding"])
        layout = tmp_root + "/layout"
        SH.write_sharded(assign, tagged.drop("tags"), layout)
        cents.write.mode("overwrite").parquet(f"{layout}/centroids.parquet")
        ANN.write_tag_postings_layout(
            tagged.select("vec_id", "tags"), layout
        )  # carry_payload default: the scale-safe posting-local mode
        queries = tagged.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qvec"),
            F.col("tags").alias("qtags"),
        ).localCheckpoint()
        return _best_of_cold(
            spark,
            layout,
            n_queries,
            lambda: ANN.filtered_search_from_disk(queries, layout, k=10),
        )
    except Exception as e:  # never lose the round's bench to this metric
        print(f"# filtered_qps_cold_disk failed: {e}", file=sys.stderr)
        return None, []
    finally:
        import shutil

        shutil.rmtree(tmp_root, ignore_errors=True)


def _best_of_cold(spark, layout: str, n_queries: int, build_df, runs: int = 2):
    """VERDICT r12 #4: the cold QPS phases were SINGLE-SHOT, so one
    ambient IO/CPU burst on the shared host landed 1:1 in the headline
    serving metric (BENCH_r12's three cold QPS all dropped 16-25%
    while the same code measured best-ever idle). Evict-then-time
    ``runs`` times and keep the BEST — every attempt is equally cold
    w.r.t. the layout: page cache re-evicted AND the shared Spark
    file-listing cache invalidated before EVERY attempt (including the
    first — a prior phase against the same layout leaves it warm), and
    the DataFrame is CONSTRUCTED inside the timed window (planning +
    listing + footer reads were part of the old single-shot cost).
    The minimum wall is then the code's cost; transient host noise
    must hit every attempt to bias it. Returns (best_qps, [all qps])
    — the per-run list is published for attribution."""
    walls = []
    for _ in range(runs):
        _evict_layout(layout)
        spark.catalog.refreshByPath(layout)
        t0 = time.perf_counter()
        build_df().count()
        walls.append(time.perf_counter() - t0)
    qps = [round(n_queries / w, 2) for w in walls]
    return max(qps), qps


def measure_cold_disk_qps(
    spark, sf_dir: str, n_queries: int = 20
) -> tuple[float | None, float | None, dict]:
    """VERDICT r8 #7: the cold-serving number users actually see — an
    IVF query against a PREBUILT write_sharded layout via
    ivf_search_from_disk (probed-dirs-only open, no full listing walk).
    The layout is built untimed, its page-cache footprint evicted
    (fadvise DONTNEED), and the search timed BEST-OF-2 with
    re-eviction + listing-cache invalidation between attempts
    (_best_of_cold) — cold layout + cold scan, warm JVM (sessions are
    long-lived in serving; knn_qps_cold keeps covering the
    fresh-session case). NOTE (r13): best-of-2 sharpened the metric —
    the first attempt also pays one-time JIT of the search lineage,
    ~1.4× at sf0.01, so r13+ values sit above the single-shot ≤r12
    series; cold_disk_qps_runs carries the per-attempt numbers
    (attempt 1 ≈ the old definition) for cross-round reading.

    Returns (raw_qps, pq_qps): the SAME layout also carries an IVF-PQ
    refine tier, re-evicted and searched with codec='pq' — the cold
    regime is exactly where the ~16×-smaller candidate column should
    shine (ROUND_NOTES r10 #4), so the delta is measured per round,
    not assumed."""
    import tempfile

    from pyspark.sql import functions as F

    from big_ann_spark.operators import ann as ANN
    from big_ann_spark.operators import sharding as SH
    from big_ann_spark.operators.pq import train_pq

    tmp_root = tempfile.mkdtemp(prefix="bench_ivf_")
    try:
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        cents = SH.label_centroids(emb).localCheckpoint()
        assign = SH.assign_to_centroids(emb, cents)
        layout = tmp_root + "/layout"
        books = train_pq(emb.limit(20_000), m=8, k=16)
        SH.write_sharded(assign, emb, layout, pq_codebooks=books)
        queries = emb.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        ).localCheckpoint()
        raw, raw_runs = _best_of_cold(
            spark,
            layout,
            n_queries,
            lambda: ANN.ivf_search_from_disk(
                queries, layout, cents, k=10, nprobe=2
            ),
        )
        pq, pq_runs = _best_of_cold(
            spark,
            layout,
            n_queries,
            lambda: ANN.ivf_search_from_disk(
                queries, layout, cents, k=10, nprobe=2, codec="pq"
            ),
        )
        return raw, pq, {"raw": raw_runs, "pq": pq_runs}
    except Exception as e:  # never lose the round's bench to this metric
        print(f"# knn_qps_cold_disk failed: {e}", file=sys.stderr)
        return None, None, {}
    finally:
        # a corpus-sized layout per bench run would fill /tmp on the
        # shared host; the timed read already happened
        import shutil

        shutil.rmtree(tmp_root, ignore_errors=True)


def wait_for_idle_host(max_wait_sec: float, load_target: float) -> float:
    """Bounded wait for host loadavg to drop below ``load_target``
    (VERDICT r6 #4: contended runs faked 2-5x regressions in r4/r6 —
    gating makes round-over-round deltas attributable). Returns seconds
    waited; proceeds anyway at the deadline so the bench ALWAYS lands
    inside external timeouts rather than losing the round's numbers."""
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < max_wait_sec:
        if os.getloadavg()[0] < load_target:
            break
        print(
            f"# waiting for idle host: loadavg {os.getloadavg()[0]:.2f} "
            f">= {load_target}",
            file=sys.stderr,
        )
        time.sleep(10)
    return round(time.perf_counter() - t0, 1)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import re

    m = re.search(r"sf(\d+(?:\.\d+)?)", sf_dir.rstrip("/").rsplit("/", 1)[-1])
    sf = float(m.group(1)) if m else -1.0  # -1: custom fixture dir
    from big_ann_spark.queries import load_all
    from big_ann_spark.session import get_spark

    registry = load_all()
    spark = get_spark("big-ann-spark-bench")

    # warm the JVM + parquet footers outside the timed region
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    # N runs per query, report the min — a single contended run is not
    # attributable (r4 burned a verdict cycle on a 2x phantom
    # regression from host contention); min-of-3 isolates code cost.
    # A wall budget guards the whole suite: when the host is slow or
    # contended, repeats degrade to 1 run so the JSON line ALWAYS lands
    # inside any external timeout instead of losing the round's bench.
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_SEC", "240"))
    # host loadavg before/after: this is a shared host and external
    # contention has repeatedly faked 2-5x "regressions" (r4, r6) —
    # publishing the load lets a reader discount contended runs without
    # re-running anything
    load_target = float(os.environ.get("SPARK_GRAFT_BENCH_LOAD_TARGET", "1.0"))
    idle_wait = wait_for_idle_host(
        float(os.environ.get("SPARK_GRAFT_BENCH_IDLE_WAIT_SEC", "180")),
        load_target,
    )
    load_before = [round(v, 2) for v in os.getloadavg()]
    canary_before = run_canary()
    io_canary_before = run_io_canary()
    suite_t0 = time.perf_counter()
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name in HEADLINE:
        q = registry.get(name)
        if q is None:
            continue
        runs = []
        for r in range(n_runs):
            if r > 0 and time.perf_counter() - suite_t0 > budget:
                break
            t0 = time.perf_counter()
            df = q.fn(spark, sf_dir)
            n = df.count()  # force full execution
            runs.append(time.perf_counter() - t0)
        cold[name] = round(runs[0], 3)
        timings[name] = round(min(runs), 3)
        print(
            f"# {name}: min {timings[name]}s cold {cold[name]}s ({n} rows)",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)
    cold_total = round(sum(cold.values()), 3)

    # VERDICT r13 #7 — load-robust suite total: when the first pass
    # regressed >15% vs the previous round AND the host shows load,
    # wait (bounded) for idle and fold ONE more run per query into the
    # mins. A transient burst during the first pass can then no longer
    # write the round's headline; a REAL code regression survives the
    # retry and still reads as drift. The first-pass number is kept in
    # the JSON for attribution.
    total_first_pass = total
    load_retry_wait_sec = None
    prev_round, prev_total = _prev_bench_total(sf)
    retry_mode = os.environ.get("SPARK_GRAFT_BENCH_LOAD_RETRY", "auto")
    if (
        retry_mode != "never"
        and prev_total is not None
        and total > DRIFT_TRIGGER_RATIO * prev_total
    ):
        load_retry_wait_sec = wait_for_idle_host(60, load_target)
        retry_t0 = time.perf_counter()
        for name in list(timings):
            if time.perf_counter() - retry_t0 > min(budget, 120.0):
                break
            q = registry.get(name)
            if q is None:
                continue
            t0 = time.perf_counter()
            q.fn(spark, sf_dir).count()
            w = time.perf_counter() - t0
            if w < timings[name]:
                timings[name] = round(w, 3)
        total = round(sum(timings.values()), 3)
        print(
            f"# load retry: first pass {total_first_pass}s -> {total}s "
            f"(prev round {prev_total}s)",
            file=sys.stderr,
        )

    knn_qps_cold_disk, knn_qps_cold_disk_pq, cold_disk_runs = (
        measure_cold_disk_qps(spark, sf_dir)
    )
    filtered_qps_cold_disk, filtered_runs = measure_filtered_cold_disk_qps(
        spark, sf_dir
    )
    cold_disk_runs["filtered"] = filtered_runs
    canary_after = run_canary()
    io_canary_after = run_io_canary()
    # drift self-attribution (VERDICT r8 #6): on a >15% regression vs
    # the previous round's BENCH, rerun the unchanged sentinels in
    # fresh processes so the JSON carries the code-vs-host verdict
    sentinel_mode = os.environ.get("SPARK_GRAFT_BENCH_SENTINELS", "auto")
    drifted = (
        prev_total is not None and total > DRIFT_TRIGGER_RATIO * prev_total
    )
    sentinel_isolated = None
    if sentinel_mode == "always" or (sentinel_mode == "auto" and drifted):
        sentinel_isolated = run_sentinels_isolated(sf_dir)
    # normalize by the SLOWDOWN the canary saw (before/after min: the
    # suite may itself have heated the host; min is the fairer probe)
    slowdown = max(min(canary_before, canary_after) / CANARY_REF_SEC, 1e-6)
    total_normalized = round(total / slowdown, 3)
    # A14: the reference's QPS metric (MAXIMUM_QUERIES / elapsed,
    # kanndi_search.py:64-66) — ours over the exact kNN batch.
    # Reported from BOTH the warm min and the cold first run: min is
    # the code-cost number, cold is what a fresh session sees —
    # publishing both keeps cross-round comparisons unambiguous.
    n_queries = 20
    knn_qps = (
        round(n_queries / timings["knn_exact_top10"], 2)
        if timings.get("knn_exact_top10")
        else None
    )
    knn_qps_cold = (
        round(n_queries / cold["knn_exact_top10"], 2)
        if cold.get("knn_exact_top10")
        else None
    )
    print(
        json.dumps(
            {
                "metric": "headline_query_suite_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "knn_qps": knn_qps,
                "knn_qps_cold": knn_qps_cold,
                "knn_qps_cold_disk": knn_qps_cold_disk,
                "knn_qps_cold_disk_pq": knn_qps_cold_disk_pq,
                "filtered_qps_cold_disk": filtered_qps_cold_disk,
                # per-attempt cold QPS (best-of-2, re-evicted): a
                # spread between attempts = ambient host noise, not a
                # plan change (VERDICT r12 #4 attribution)
                "cold_disk_qps_runs": cold_disk_runs,
                # ADVICE r13: attempt 1 is the DRIFT-COMPARABLE cold
                # series — it matches the <=r12 single-shot definition
                # (no JIT warmth from a prior attempt), so cross-round
                # regression reads compare these, not the best-of-2
                # headline (which sits ~1.25-1.4x above it)
                "knn_qps_cold_disk_attempt1": (
                    cold_disk_runs.get("raw") or [None])[0],
                "knn_qps_cold_disk_pq_attempt1": (
                    cold_disk_runs.get("pq") or [None])[0],
                "filtered_qps_cold_disk_attempt1": (
                    cold_disk_runs.get("filtered") or [None])[0],
                "runs_per_query": n_runs,
                "drift_ref_round": prev_round,
                "drift_ref_total": prev_total,
                "drift_triggered": bool(drifted),
                "sentinel_isolated": sentinel_isolated,
                "cold_total": cold_total,
                "canary_sec": min(canary_before, canary_after),
                "canary_before": canary_before,
                "canary_after": canary_after,
                "canary_ref_sec": CANARY_REF_SEC,
                "canary_io_sec": min(io_canary_before, io_canary_after),
                "canary_io_before": io_canary_before,
                "canary_io_after": io_canary_after,
                "total_canary_normalized": total_normalized,
                "loadavg_before": load_before,
                "loadavg_after": [round(v, 2) for v in os.getloadavg()],
                "idle_wait_sec": idle_wait,
                # load-robust retry (VERDICT r13 #7): present only when
                # the first pass drifted and a fold-in pass ran
                "total_first_pass": total_first_pass,
                "load_retry_wait_sec": load_retry_wait_sec,
            }
        )
    )


if __name__ == "__main__":
    main()
