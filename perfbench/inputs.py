"""Seeded synthetic inputs for the vector-engine benchmark.

Everything the program receives is generated here from the run's seed:
the corpus (a Gaussian mixture whose clusters overlap, so an IVF probe
of two shards misses some true neighbours), query batches and mutation
batches. One ``numpy.random.Generator`` stream per purpose keeps the
streams independent: drawing one more query batch never shifts the
corpus or the mutation batches.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np


@dataclass(frozen=True)
class Sizes:
    n: int  # corpus vectors
    dim: int
    clusters: int  # mixture components
    shards: int  # IVF shards (m)
    corpus_files: int  # parquet files the corpus is split into
    q: int  # queries per search / k-NN batch
    upsert_batch: int  # vectors per upsert on mutate_serve
    delete_batch: int  # ids per delete on mutate_serve
    self_probes: int  # upserted vectors searched for on the next search
    max_contested: int  # mutate_serve's compaction threshold
    build_iter: int  # MLlib K-Means iterations of the index build
    ks_rows: int  # rows fed to ks_matrix
    ks_dims: int  # dimensions ks_matrix compares pairwise
    ad_rows: int  # rows fed to anderson_darling_per_dim


# The default size is what one run can set up and measure within the
# benchmark's per-run time budget on a 4-core host (see README.md).
SIZES = {
    "default": Sizes(
        n=20_000, dim=64, clusters=32, shards=32, corpus_files=4, q=32,
        upsert_batch=64, delete_batch=16, self_probes=4, max_contested=64,
        build_iter=3, ks_rows=1_000, ks_dims=4, ad_rows=2_000,
    ),
    # smoke-test size: every code path, a fraction of the time
    "tiny": Sizes(
        n=3_000, dim=16, clusters=8, shards=8, corpus_files=2, q=8,
        upsert_batch=8, delete_batch=4, self_probes=2, max_contested=8,
        build_iter=3, ks_rows=300, ks_dims=3, ad_rows=300,
    ),
}

K = 10  # neighbours per query everywhere
NPROBE = 2  # shards probed per query by mutate_serve's searches
# centres this close relative to the spread make clusters overlap: an
# nprobe=2 search then finds about 0.87 of the true top-10, not ~1.0
CENTRE_SCALE = 0.6  # std of the mixture centres per dimension
SPREAD = 1.0  # std of points around their centre per dimension


class Inputs:
    """All generated inputs of one run. Same seed, same inputs."""

    def __init__(self, seed: int, sizes: Sizes):
        self.seed = seed
        self.s = sizes
        ss = np.random.SeedSequence(seed)
        corpus_ss, query_ss, mut_ss = ss.spawn(3)
        rng = np.random.default_rng(corpus_ss)
        s = sizes
        self.centres = rng.normal(0.0, CENTRE_SCALE, (s.clusters, s.dim))
        labels = rng.integers(0, s.clusters, s.n)
        self.X = (
            self.centres[labels] + rng.normal(0.0, SPREAD, (s.n, s.dim))
        ).astype(np.float32)
        self.ids = np.arange(s.n, dtype=np.int64)
        self._query_rng = np.random.default_rng(query_ss)
        self._mut_rng = np.random.default_rng(mut_ss)
        self._next_id = s.n
        self._next_qid = 0

    def query_batch(self, n: int):
        """``n`` fresh queries drawn from the mixture (never corpus
        points): (qids, float32 matrix). Query ids never repeat within a
        run, so no two batches are byte-identical."""
        rng = self._query_rng
        c = rng.integers(0, self.s.clusters, n)
        Q = (self.centres[c] + rng.normal(0.0, SPREAD, (n, self.s.dim))).astype(np.float32)
        return self.new_qids(n), Q

    def new_qids(self, n: int) -> np.ndarray:
        qids = np.arange(self._next_qid, self._next_qid + n, dtype=np.int64)
        self._next_qid += n
        return qids

    def upsert_batch(self):
        """Fresh vectors under never-used ids: (ids, float32 matrix)."""
        n = self.s.upsert_batch
        rng = self._mut_rng
        c = rng.integers(0, self.s.clusters, n)
        V = (self.centres[c] + rng.normal(0.0, SPREAD, (n, self.s.dim))).astype(
            np.float32
        )
        ids = np.arange(self._next_id, self._next_id + n, dtype=np.int64)
        self._next_id += n
        return ids, V

    def delete_batch(self, live_ids: np.ndarray) -> np.ndarray:
        return np.sort(
            self._mut_rng.choice(live_ids, size=self.s.delete_batch, replace=False)
        )


def nearest(A: np.ndarray, B: np.ndarray, k: int) -> np.ndarray:
    """Indices of the k nearest rows of B for every row of A (L2,
    float64, ties on the lower index), nearest first."""
    d2 = sq_dists(A, B)
    k = min(k, B.shape[0])
    part = np.argpartition(d2, k - 1, axis=1)[:, :k]
    rows = np.arange(len(A))[:, None]
    order = np.lexsort((part, d2[rows, part]), axis=1)
    return part[rows, order]


def sq_dists(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    A = A.astype(np.float64)
    B = B.astype(np.float64)
    d2 = (A * A).sum(1)[:, None] + (B * B).sum(1)[None, :] - 2.0 * (A @ B.T)
    return np.maximum(d2, 0.0)


def write_corpus(inputs: Inputs, path: str) -> None:
    """The corpus as ``corpus_files`` parquet files of (vec_id long,
    embedding array<float>) — several files so Spark scans it with
    several tasks."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    parts = np.array_split(np.arange(inputs.s.n), inputs.s.corpus_files)
    for i, rows in enumerate(parts):
        X = inputs.X[rows]
        emb = pa.ListArray.from_arrays(
            pa.array(np.arange(0, X.size + 1, X.shape[1], dtype=np.int32)),
            pa.array(X.ravel()),
        )
        tbl = pa.table({"vec_id": pa.array(inputs.ids[rows]), "embedding": emb})
        pq.write_table(tbl, os.path.join(path, f"part-{i:05d}.parquet"))
