"""The workloads. Each puts most of its work on some layers of
``big_ann_spark`` and bypasses the others:

- ``mutate_serve``: an index built like ``build-index``
  (``operators.sharding``), then a closed loop of upserts, deletes,
  IVF searches and compaction on it (``operators.vector_ops`` beside
  ``operators.ann``). Bypasses ``knn`` and ``stats``.
- ``exact_profile``: exact k-NN of fresh query batches over the whole
  corpus plus the dataset-statistics pass (``operators.knn``,
  ``operators.stats``). Bypasses ``ann``, ``sharding`` and
  ``vector_ops``.

A workload's ``setup`` builds its state (the caller times it once);
``after_setup`` opens and checks it; ``op`` runs one operation of the
closed loop, times only the calls into the program, checks the outputs
against ``perfbench.oracle`` and records the result on the ``Run``.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time
import traceback

import numpy as np

from perfbench import oracle
from perfbench.inputs import NPROBE, K, Inputs, nearest, write_corpus


class Run:
    """What one run measured: latency samples per operation kind, work
    items, checks made and failures."""

    def __init__(self, spark, work: str, tracer):
        self.spark = spark
        self.work = work
        self.tracer = tracer
        self.inputs: Inputs | None = None  # set before set-up
        self.samples: dict[str, list[float]] = {}
        self.items = 0
        self.busy_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, int] = {}
        self.failures: list[str] = []
        self.recalls: list[float] = []
        self.extra: dict[str, list[float]] = {}  # counts the benchmark takes itself
        self.traced_primary: list[float] = []
        self.untraced_primary: list[float] = []
        self.traced_ops = 0
        self.op_index: int | None = None  # None during set-up
        self.last_span: dict | None = None

    @property
    def s(self):
        return self.inputs.s

    def reset_measurements(self) -> None:
        """Forget the warm-up operation's timings (not its checks)."""
        self.samples.clear()
        self.items, self.busy_s, self.traced_ops = 0, 0.0, 0
        self.recalls.clear()
        self.traced_primary.clear()
        self.untraced_primary.clear()

    def call(self, layer: str, fn: str, f, *, on: bool, **attrs):
        """Run ``f()`` (one call into the program, results collected),
        inside a span when ``on``. Returns (result, seconds)."""
        with self.tracer.span(layer, fn, op=self.op_index, **attrs) if on else contextlib.nullcontext() as rec:
            self.last_span = rec
            t0 = time.perf_counter()
            out = f()
            dt = time.perf_counter() - t0
        return out, dt

    def check(self, name: str, fails: list[str]) -> None:
        self.checks[name] = self.checks.get(name, 0) + 1
        self.failures.extend(f"{name}: {f}" for f in fails[:3])

    def note(self, key: str, value: float) -> None:
        self.extra.setdefault(key, []).append(float(value))


CORPUS_SCHEMA = "vec_id long, embedding array<float>"


def _query_df(spark, qids, Q):
    return spark.createDataFrame(
        [(int(q), v.tolist()) for q, v in zip(qids, Q)], "qid long, qvec array<float>"
    )


def _count_files(path: str) -> int:
    return sum(len(f) for _r, _d, f in os.walk(path))


class Workload:
    name = ""
    primary = ""  # the operation kind whose latency is p50_ms
    warmup_ops = (-1,)  # indices of the untimed warm-up operations

    def __init__(self, run: Run):
        self.run = run
        self.corpus = os.path.join(run.work, "corpus")

    def setup(self, traced: bool) -> None:
        raise NotImplementedError

    def after_setup(self) -> None:
        """Untimed: open the state set-up built and check it."""

    def check_setup(self) -> bool:
        """``after_setup``; a set-up it checks counts as one attempted
        operation, failed when one of its checks failed. Returns whether
        it failed."""
        run = self.run
        before = len(run.failures)
        self.after_setup()
        failed = len(run.failures) > before
        if run.checks:
            run.attempted += 1
            run.failed += failed
        return failed

    def op(self, i: int, traced: bool) -> None:
        raise NotImplementedError

    def traced_op(self, i: int) -> bool:
        """A traced run traces every other operation; the untraced ones
        give the tracing overhead."""
        return i % 2 == 0

    def boundary(self, i: int) -> bool:
        """Whether the run may end before operation ``i``."""
        return True

    def attempt(self, i: int, traced: bool) -> None:
        """One operation; an exception or a failed check counts as one
        failed operation."""
        run = self.run
        run.attempted += 1
        run.op_index = i
        run.traced_ops += traced
        before = len(run.failures)
        try:
            self.op(i, traced)
        except Exception:  # a failing operation is a measured outcome
            run.failures.append(f"op {i} raised: {traceback.format_exc(limit=3)}")
        if len(run.failures) > before:
            run.failed += 1

    def record(self, kind: str, seconds: float, items: int, traced: bool, compare: bool = True) -> None:
        """One timed operation; ``compare``: whether it enters the
        traced-versus-untraced overhead comparison."""
        run = self.run
        run.samples.setdefault(kind, []).append(seconds)
        run.busy_s += seconds
        run.items += items
        if kind == self.primary and compare:
            (run.traced_primary if traced else run.untraced_primary).append(seconds)

    def recall(self) -> float:
        return float(np.mean(self.run.recalls)) if self.run.recalls else 0.0


class MutateServe(Workload):
    """Set-up: the ``build-index`` equivalent (``kmeans_shard`` →
    ``write_sharded`` → ``centroids.parquet``). Loop, one cycle: upsert a
    batch, delete a few ids, four searches of fresh uniform query
    batches, ``compact_if_needed``. The threshold equals the upsert
    batch, so every cycle compacts and the op log the searches see is
    the same from cycle to cycle. A run ends on a cycle boundary."""

    name = "mutate_serve"
    primary = "search"
    CYCLE = ("upsert", "delete", "search", "search", "search", "search", "compact")
    # warm-up: a cycle cut to two searches, so every kind of operation,
    # the plain search after the first of a cycle included, has run once
    # before the measured cycles and none of them pays first-use costs
    warmup_ops = (-7, -6, -5, -4, -1)  # CYCLE positions 0-3 and 6

    def setup(self, traced: bool) -> None:
        from big_ann_spark.operators.sharding import kmeans_shard, write_sharded

        run, s = self.run, self.run.s
        shutil.rmtree(self.corpus, ignore_errors=True)
        write_corpus(run.inputs, self.corpus)
        emb = run.spark.read.parquet(self.corpus)
        self.layout = os.path.join(run.work, "layout")
        shutil.rmtree(self.layout, ignore_errors=True)
        (assign, cents, _model), t_kmeans = run.call(
            "sharding", "kmeans_shard", lambda: kmeans_shard(emb, m=s.shards, max_iter=s.build_iter), on=traced
        )
        _, t_write = run.call("sharding", "write_sharded", lambda: write_sharded(assign, emb, self.layout), on=traced)
        run.note("build_s", t_kmeans + t_write)
        run.call("spark", "write_centroids",
                 lambda: cents.write.parquet(os.path.join(self.layout, "centroids.parquet")), on=traced)

    def after_setup(self) -> None:
        run = self.run
        self.C = oracle.read_centroids(self.layout)
        self.live_ids = run.inputs.ids.copy()
        self.live_X = run.inputs.X.copy()
        self.check_layout("build_one_shard_per_vector_nearest_centroid", record=True)
        self.cents_df = run.spark.read.parquet(os.path.join(self.layout, "centroids.parquet"))
        self.dead: set[int] = set()
        self.touched: set[int] = set()
        self.self_probe = (np.empty(0, np.int64), np.empty((0, run.s.dim), np.float32))

    def check_layout(self, name: str, record: bool = False) -> None:
        """Read the layout back with pyarrow: every live vector in
        exactly one shard, its nearest centroid's (checked on a sample)."""
        run = self.run
        lay = oracle.read_layout(self.layout)
        sample = np.arange(0, len(self.live_ids), 37)
        run.check(name, oracle.check_layout(lay, self.C, self.live_ids, self.live_X, sample))
        if record:
            run.note("files_written", lay["files"])
            run.note("bytes_written", lay["bytes"])
            run.note("bytes_per_vector_byte", lay["bytes"] / self.live_X.nbytes)
            run.note("shard_size_cv", oracle.shard_size_cv(lay["shard_of"], len(self.C)))

    FIRST_SEARCH = CYCLE.index("search")

    def traced_op(self, i: int) -> bool:
        # writes are always traced; of the searches the 2nd and 4th are,
        # the 3rd is not. The 1st also pays the per-ledger-state
        # contested count, so it stays out of the overhead comparison.
        pos = i % len(self.CYCLE)
        return self.CYCLE[pos] != "search" or (pos - self.FIRST_SEARCH) % 2 == 1

    def boundary(self, i: int) -> bool:
        return i % len(self.CYCLE) == 0

    def op(self, i: int, traced: bool) -> None:
        kind = self.CYCLE[i % len(self.CYCLE)]
        if kind == "search":
            self.search(traced, compare=i % len(self.CYCLE) != self.FIRST_SEARCH)
        else:
            getattr(self, kind)(traced)

    def upsert(self, traced: bool) -> None:
        from big_ann_spark.operators.vector_ops import upsert_vectors

        run, spark = self.run, self.run.spark
        ids, V = run.inputs.upsert_batch()
        vdf = spark.createDataFrame(
            [(int(i), v.tolist()) for i, v in zip(ids, V)], "vec_id long, embedding array<float>"
        )
        _, dt = run.call("vector_ops", "upsert_vectors", lambda: upsert_vectors(spark, self.layout, vdf), on=traced)
        self.record("upsert", dt, 0, traced)
        self.live_ids = np.concatenate([self.live_ids, ids])
        self.live_X = np.concatenate([self.live_X, V])
        self.touched.update(ids.tolist())
        self.self_probe = (ids[: run.s.self_probes], V[: run.s.self_probes])

    def delete(self, traced: bool) -> None:
        from big_ann_spark.operators import vector_ops as VO

        run, spark = self.run, self.run.spark
        gone = run.inputs.delete_batch(self.live_ids)
        _, dt = run.call("vector_ops", "delete_vectors", lambda: VO.delete_vectors(spark, self.layout, gone.tolist()),
                         on=traced)
        self.record("delete", dt, 0, traced)
        keep = ~np.isin(self.live_ids, gone)
        self.live_ids, self.live_X = self.live_ids[keep], self.live_X[keep]
        self.dead.update(gone.tolist())
        self.touched.update(gone.tolist())
        sp_ids, sp_V = self.self_probe
        alive = ~np.isin(sp_ids, gone)
        self.self_probe = (sp_ids[alive], sp_V[alive])
        if traced:
            # the contested set every search of this cycle resolves
            n, _ = run.call("vector_ops", "contested_count", lambda: VO.contested_count(spark, self.layout), on=True)
            run.note("contested_ids", n)
            run.note("op_files", _count_files(os.path.join(self.layout, "ops")))

    def search(self, traced: bool, compare: bool) -> None:
        """One timed ``ivf_search_from_disk`` + collect of a fresh batch
        (plus, after an upsert, searches for some upserted vectors),
        checked against brute force over the live set."""
        from big_ann_spark.operators.ann import ivf_search_from_disk

        run = self.run
        sp_ids, sp_V = self.self_probe
        qids, Q = run.inputs.query_batch(run.s.q - len(sp_ids))
        probe_qids = run.inputs.new_qids(len(sp_ids))
        all_q, all_Q = np.concatenate([qids, probe_qids]), np.concatenate([Q, sp_V])
        qdf = _query_df(run.spark, all_q, all_Q)
        probed = len(set(nearest(all_Q, self.C, NPROBE).ravel().tolist()))
        rows, dt = run.call(
            "ann", "ivf_search_from_disk",
            lambda: ivf_search_from_disk(qdf, self.layout, self.cents_df, k=K, nprobe=NPROBE).collect(),
            on=traced, q=len(all_q), probed_shards=probed,
        )
        self.record("search", dt, len(all_q), traced, compare)
        got = oracle.topk_rows(rows, all_q)
        fails, rec = oracle.check_search(got, all_q, all_Q, self.live_ids, self.live_X, qids)
        run.check("search_distances_ids_recall", fails)
        run.recalls.append(rec)
        fails = []
        for qid, vid in zip(probe_qids, sp_ids):
            top = got.get(int(qid), [])
            if not top or top[0][0] != int(vid) or top[0][1] > 1e-6:
                fails.append(f"upserted id {vid} not found by a search for its own vector")
        run.check("upserted_ids_found", fails)
        returned = {n for res in got.values() for n, _ in res} & self.dead
        run.check("deleted_ids_never_returned", [f"deleted ids returned: {sorted(returned)[:5]}"] if returned else [])
        self.self_probe = (sp_ids[:0], sp_V[:0])

    def compact(self, traced: bool) -> None:
        from big_ann_spark.operators.vector_ops import compact_if_needed

        run, spark = self.run, self.run.spark
        (n, folded), dt = run.call(
            "vector_ops", "compact_if_needed",
            lambda: compact_if_needed(spark, self.layout, max_contested=run.s.max_contested), on=traced,
        )
        self.record("compact", dt, 0, traced)
        if traced:
            run.last_span["folded"] = folded is not None
        run.check("compaction_contested_count",
                  [] if n == len(self.touched) else [f"contested {n}, expected {len(self.touched)}"])
        if folded is not None:
            run.note("compactions", 1)
            self.touched = set()
            # a compaction swaps the layout directory: reopen the
            # centroid table and check the folded base like a build
            self.cents_df = spark.read.parquet(os.path.join(self.layout, "centroids.parquet"))
            self.check_layout("compacted_one_shard_per_vector_nearest_centroid")


class ExactProfile(Workload):
    """One operation: a fresh query batch through ``exact_knn``, then
    the statistics pass (VIF, all-pairs KS, Anderson-Darling)."""

    name = "exact_profile"
    primary = "knn_profile"
    # the first operation pays 15-20 s of first-use costs (Python
    # workers, JIT) and the second is still 10-25% slower than later
    # ones: two warm-ups, then at least MIN_OPS measured. An operation
    # takes 4-8 s on a 4-core host.
    warmup_ops = (-2, -1)
    MIN_OPS = 3

    def boundary(self, i: int) -> bool:
        return i >= self.MIN_OPS

    def setup(self, traced: bool) -> None:
        run, s = self.run, self.run.s
        shutil.rmtree(self.corpus, ignore_errors=True)
        write_corpus(run.inputs, self.corpus)
        X = run.inputs.X
        self.ref = {
            "vif": oracle.vif(X),
            "ks": oracle.ks_pairs(X[: s.ks_rows, : s.ks_dims]),
            "ad": oracle.anderson_darling(X[: s.ad_rows]),
        }

    def after_setup(self) -> None:
        # with the schema given, opening the corpus starts no Spark job
        self.emb = self.run.spark.read.schema(CORPUS_SCHEMA).parquet(self.corpus)

    def op(self, i: int, traced: bool) -> None:
        from pyspark.sql import functions as F

        from big_ann_spark.operators import knn, stats

        run, s = self.run, self.run.s
        qids, Q = run.inputs.query_batch(s.q)
        qdf = _query_df(run.spark, qids, Q)
        rows, t_knn = run.call(
            "knn", "exact_knn",
            lambda: knn.exact_knn(qdf, self.emb, K, base_id="vec_id", base_vec="embedding").collect(),
            on=traced, q=len(qids),
        )
        got = oracle.topk_rows(rows, qids)
        run.check("exact_knn_top10_equals_numpy", oracle.check_exact(got, qids, Q, run.inputs.X))
        truth = nearest(Q, run.inputs.X, K)
        run.recalls.append(float(np.mean([
            len({n for n, _ in got.get(int(q), [])} & set(truth[j].tolist())) / K for j, q in enumerate(qids)
        ])))
        vif, t_vif = run.call("stats", "vif_matrix", lambda: stats.vif_matrix(self.emb, s.dim), on=traced)
        ks_in = self.emb.filter(F.col("vec_id") < s.ks_rows)
        ks, t_ks = run.call("stats", "ks_matrix", lambda: stats.ks_matrix(ks_in, s.ks_dims).collect(), on=traced)
        ad_in = stats.dim_table(self.emb.filter(F.col("vec_id") < s.ad_rows))
        ad, t_ad = run.call("stats", "anderson_darling_per_dim",
                            lambda: stats.anderson_darling_per_dim(ad_in).collect(), on=traced)
        run.check("stats_vif_ks_ad_equal_numpy", oracle.check_stats(vif, ks, ad, self.ref))
        for kind, t in (("knn", t_knn), ("profile", t_vif + t_ks + t_ad), ("vif", t_vif), ("ks", t_ks), ("ad", t_ad)):
            run.samples.setdefault(kind, []).append(t)
        self.record("knn_profile", t_knn + t_vif + t_ks + t_ad, len(qids), traced)


WORKLOADS = {w.name: w for w in (MutateServe, ExactProfile)}


# ----------------------------------------------------------------- metrics


def tail(samples: list[float]) -> tuple[float | None, float | None]:
    """The highest percentile with at least 10 samples above it:
    (percentile, value), or (None, None) below 11 samples."""
    n = len(samples)
    if n < 11:
        return None, None
    return round(100.0 * (n - 10) / n, 1), sorted(samples)[n - 11]


def _p50_ms(samples: list[float]) -> float | None:
    return statistics.median(samples) * 1e3 if samples else None


def detail_metrics(w: Workload) -> dict:
    """Every metric the workload applies, under its own name: the
    per-workload view beside the generic end-to-end set."""
    run = w.run
    out: dict = {"error_rate": run.failed / max(1, run.attempted), "recall_at_10": w.recall()}
    if w.name == "mutate_serve":
        srch = run.samples.get("search", [])
        pct, val = tail(srch)
        out.update(
            search_p50_ms=_p50_ms(srch), search_tail_pct=pct, search_tail_ms=None if val is None else val * 1e3,
            search_samples=len(srch), search_q=run.s.q,
            search_qps=run.s.q * len(srch) / sum(srch) if srch else None,
            queries_per_busy_s=run.items / run.busy_s if run.busy_s else None,
            upsert_p50_ms=_p50_ms(run.samples.get("upsert", [])),
            delete_p50_ms=_p50_ms(run.samples.get("delete", [])),
            compact_p50_ms=_p50_ms(run.samples.get("compact", [])),
            compactions=int(sum(run.extra.get("compactions", []))),
            build_vectors_per_s=run.s.n / run.extra["build_s"][0],
            build_bytes_per_vector_byte=run.extra["bytes_per_vector_byte"][0],
        )
    else:
        kn = run.samples.get("knn", [])
        pct, val = tail(kn)
        out.update(
            knn_p50_ms=_p50_ms(kn), knn_tail_pct=pct, knn_tail_ms=None if val is None else val * 1e3,
            knn_samples=len(kn), profile_s=statistics.median(run.samples["profile"]),
        )
    return out


# per-layer metric -> unit, as listed in BENCHMARK.json
PER_LAYER = {
    "session.start_s": "s",
    "sharding.kmeans_s": "s",
    "sharding.write_s": "s",
    "sharding.spark_jobs": "count",
    "sharding.tasks": "count",
    "sharding.files_written": "count",
    "sharding.bytes_written": "bytes",
    "sharding.shard_size_cv": "ratio",
    "ann.search_s": "s",
    "ann.spark_jobs_per_search": "count",
    "ann.tasks_per_search": "count",
    "ann.job_s_per_search": "s",
    "ann.driver_gap_s_per_search": "s",
    "ann.input_bytes_per_query": "bytes",
    "ann.rows_scanned_per_result": "count",
    "ann.probed_shards_per_batch": "count",
    "vector_ops.upsert_s": "s",
    "vector_ops.delete_s": "s",
    "vector_ops.spark_jobs_per_upsert": "count",
    "vector_ops.compact_s": "s",
    "vector_ops.compactions": "count",
    "vector_ops.contested_ids": "count",
    "vector_ops.op_files": "count",
    "knn.exact_s": "s",
    "knn.spark_jobs_per_call": "count",
    "knn.distance_evals_per_s": "1/s",
    "knn.kernel_flops_per_call": "count",
    "stats.vif_s": "s",
    "stats.ks_matrix_s": "s",
    "stats.anderson_darling_s": "s",
    "spark.gc_s": "s",
    "spark.executor_run_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.task_failures": "count",
    "trace.overhead_ms": "ms",
    "trace.spans": "count",
}


def layer_metrics(w: Workload, start_s: float) -> dict[str, float]:
    """Per-layer metrics (``PER_LAYER``) from the spans and the
    benchmark's own counts. A layer the workload bypasses reads 0; the
    ``spark.*`` values are per traced operation."""
    run, s = w.run, w.run.s
    spans = run.tracer.spans

    def of(fn):
        return [x for x in spans if x["fn"] == fn]

    def mean(xs, key):
        return float(np.mean([x[key] for x in xs])) if xs else 0.0

    def extra(key):
        v = run.extra.get(key, [])
        return float(np.mean(v)) if v else 0.0

    kms, wr, srch = of("kmeans_shard"), of("write_sharded"), of("ivf_search_from_disk")
    ups, dels = of("upsert_vectors"), of("delete_vectors")
    folded = [c for c in of("compact_if_needed") if c.get("folded")]
    kn = of("exact_knn")
    shard_spans = kms + wr + of("write_centroids")
    builds = max(1, len(wr))
    run_spans = [x for x in spans if x["op"] is not None]  # not set-up
    n_ops = max(1, run.traced_ops)
    queries = max(1, sum(x["q"] for x in srch))
    knn_s = mean(kn, "wall_s")
    return {
        "session.start_s": start_s,
        "sharding.kmeans_s": mean(kms, "wall_s"),
        "sharding.write_s": mean(wr, "wall_s"),
        "sharding.spark_jobs": sum(x["jobs"] for x in shard_spans) / builds,
        "sharding.tasks": sum(x["tasks"] for x in shard_spans) / builds,
        "sharding.files_written": extra("files_written"),
        "sharding.bytes_written": extra("bytes_written"),
        "sharding.shard_size_cv": extra("shard_size_cv"),
        "ann.search_s": mean(srch, "wall_s"),
        "ann.spark_jobs_per_search": mean(srch, "jobs"),
        "ann.tasks_per_search": mean(srch, "tasks"),
        "ann.job_s_per_search": mean(srch, "job_s"),
        "ann.driver_gap_s_per_search": mean(srch, "driver_gap_s"),
        "ann.input_bytes_per_query": sum(x["input_bytes"] for x in srch) / queries,
        "ann.rows_scanned_per_result": sum(x["input_records"] for x in srch) / (K * queries),
        "ann.probed_shards_per_batch": mean(srch, "probed_shards"),
        "vector_ops.upsert_s": mean(ups, "wall_s"),
        "vector_ops.delete_s": mean(dels, "wall_s"),
        "vector_ops.spark_jobs_per_upsert": mean(ups, "jobs"),
        "vector_ops.compact_s": mean(folded, "wall_s"),
        "vector_ops.compactions": float(len(folded)),
        "vector_ops.contested_ids": extra("contested_ids"),
        "vector_ops.op_files": extra("op_files"),
        "knn.exact_s": knn_s,
        "knn.spark_jobs_per_call": mean(kn, "jobs"),
        "knn.distance_evals_per_s": s.q * s.n / knn_s if knn_s else 0.0,
        "knn.kernel_flops_per_call": 3.0 * s.q * s.n * s.dim if kn else 0.0,
        "stats.vif_s": mean(of("vif_matrix"), "wall_s"),
        "stats.ks_matrix_s": mean(of("ks_matrix"), "wall_s"),
        "stats.anderson_darling_s": mean(of("anderson_darling_per_dim"), "wall_s"),
        "spark.gc_s": sum(x["gc_s"] for x in run_spans) / n_ops,
        "spark.executor_run_s": sum(x["executor_run_s"] for x in run_spans) / n_ops,
        "spark.shuffle_write_bytes": sum(x["shuffle_write_bytes"] for x in run_spans) / n_ops,
        "spark.task_failures": float(sum(x["task_failures"] for x in spans)),
        "trace.overhead_ms": (
            (statistics.median(run.traced_primary) - statistics.median(run.untraced_primary)) * 1e3
            if run.traced_primary and run.untraced_primary else 0.0
        ),
        "trace.spans": float(len(spans)),
    }
