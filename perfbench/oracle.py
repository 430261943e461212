"""Independent numpy oracles for every workload's outputs.

Each ``check_*`` returns a list of failure strings (empty = correct).
Nothing here imports the program: brute-force k-NN, nearest-centroid
assignment, the VIF matrix, two-sample KS and Anderson-Darling are
recomputed from the generated inputs alone.
"""

from __future__ import annotations

import math
import os

import numpy as np

from perfbench.inputs import K, nearest, sq_dists

# Floor on a serving batch's mean recall@10 at nprobe=2, fixed when the
# benchmark was defined: the default mixture measures about 0.85, so a
# batch below 0.5 means the search lost neighbours, not bad luck.
RECALL_FLOOR = 0.5
DIST_RTOL = 1e-5  # float32 inputs, float64 arithmetic on both sides


def topk_rows(rows, qids) -> dict[int, list[tuple[int, float]]]:
    """(qid, neighbor_id, dist) rows -> {qid: [(id, dist), ...]} in
    rank order."""
    out: dict[int, list[tuple[int, float]]] = {int(q): [] for q in qids}
    for r in sorted(rows, key=lambda r: (r["qid"], r["dist"], r["neighbor_id"])):
        out.setdefault(int(r["qid"]), []).append((int(r["neighbor_id"]), float(r["dist"])))
    return out


def check_search(
    got: dict[int, list[tuple[int, float]]],
    qids: np.ndarray,
    Q: np.ndarray,
    ids: np.ndarray,
    X: np.ndarray,
    recall_queries: np.ndarray,
) -> tuple[list[str], float]:
    """Top-k rows of a search over the live set ``(ids, X)``: every
    query answered with k distinct live ids, each distance equal to the
    numpy distance of its id, and mean recall@10 over
    ``recall_queries`` at or above ``RECALL_FLOOR``.
    Returns (failures, recall)."""
    fails: list[str] = []
    pos = {int(v): i for i, v in enumerate(ids)}
    truth = nearest(Q, X, K)
    recalls = []
    use = {int(q) for q in recall_queries}
    for i, qid in enumerate(qids):
        res = got.get(int(qid), [])
        rids = [r[0] for r in res]
        if len(rids) != K or len(set(rids)) != K:
            fails.append(f"query {qid}: {len(rids)} results, {len(set(rids))} distinct")
            continue
        missing = [r for r in rids if r not in pos]
        if missing:
            fails.append(f"query {qid}: ids not in the live set {missing[:5]}")
            continue
        rows = np.array([pos[r] for r in rids])
        want = np.sqrt(sq_dists(Q[i : i + 1], X[rows])[0])
        have = np.array([r[1] for r in res])
        if not np.allclose(have, want, rtol=DIST_RTOL, atol=1e-6):
            fails.append(f"query {qid}: distances differ from numpy by {np.abs(have - want).max():.3g}")
        if int(qid) in use:
            recalls.append(len(set(rows.tolist()) & set(truth[i].tolist())) / K)
    recall = float(np.mean(recalls)) if recalls else 0.0
    if recalls and recall < RECALL_FLOOR:
        fails.append(f"recall@10 {recall:.3f} below the floor {RECALL_FLOOR}")
    return fails, recall


def check_exact(
    got: dict[int, list[tuple[int, float]]], qids: np.ndarray, Q: np.ndarray, X: np.ndarray
) -> list[str]:
    """Exact k-NN: the returned top-k ids equal numpy's, except where
    the k-th and (k+1)-th true distances tie within float noise."""
    fails = []
    d2 = sq_dists(Q, X)
    truth = nearest(Q, X, K + 1)
    for i, qid in enumerate(qids):
        rids = [r[0] for r in got.get(int(qid), [])]
        want = truth[i, :K].tolist()
        if rids == want:
            continue
        kth, nxt = np.sqrt(d2[i, truth[i, K - 1]]), np.sqrt(d2[i, truth[i, K]])
        tie = abs(nxt - kth) <= 1e-9 * max(1.0, kth)
        if not (tie and set(rids[: K - 1]) == set(want[: K - 1])):
            fails.append(f"query {qid}: exact top-{K} differs from numpy")
    return fails


def read_layout(path: str) -> dict:
    """A ``write_sharded`` layout read straight from its parquet files
    (pyarrow, no Spark): the shard of every base vector, file and byte
    counts."""
    import pyarrow.parquet as pq

    shard_of: dict[int, list[int]] = {}
    files = 0
    nbytes = 0
    for root, _dirs, names in os.walk(path):
        for fn in names:
            full = os.path.join(root, fn)
            nbytes += os.path.getsize(full)
            if fn.endswith(".parquet") and f"{os.sep}shards{os.sep}" in full:
                files += 1
                sid = int(os.path.basename(root).split("=", 1)[1])
                for v in pq.read_table(full, columns=["vec_id"]).column(0).to_pylist():
                    shard_of.setdefault(v, []).append(sid)
    return {"shard_of": shard_of, "files": files, "bytes": nbytes}


def read_centroids(path: str) -> np.ndarray:
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(path, "centroids.parquet")).to_pydict()
    order = np.argsort(t["shard_id"])
    return np.array([t["centroid"][i] for i in order], dtype=np.float64)


def check_layout(layout: dict, C: np.ndarray, ids: np.ndarray, X: np.ndarray, sample: np.ndarray) -> list[str]:
    """Every vector lands in exactly one shard, and (on ``sample``, row
    positions into X) that shard is its nearest centroid."""
    fails = []
    shard_of = layout["shard_of"]
    if len(shard_of) != len(ids) or set(shard_of) != set(ids.tolist()):
        fails.append(f"layout holds {len(shard_of)} distinct ids, corpus has {len(ids)}")
    dup = sum(1 for s in shard_of.values() if len(s) != 1)
    if dup:
        fails.append(f"{dup} ids stored in more than one shard row")
    d2 = sq_dists(X[sample], C)
    for j, row in enumerate(sample):
        got = shard_of.get(int(ids[row]), [None])[0]
        if got is None or d2[j, got] > d2[j].min() * (1 + 1e-6) + 1e-9:
            fails.append(f"id {ids[row]} in shard {got}, nearest centroid is {int(d2[j].argmin())}")
            break
    return fails


def shard_size_cv(shard_of: dict[int, list[int]], m: int) -> float:
    sizes = np.bincount([s[0] for s in shard_of.values()], minlength=m)
    return float(sizes.std() / sizes.mean())


# ------------------------------------------------------------- statistics


def vif(X: np.ndarray) -> np.ndarray:
    return np.linalg.inv(np.corrcoef(X.astype(np.float64), rowvar=False))


def ks_pairs(X: np.ndarray) -> dict[tuple[int, int], float]:
    """Two-sample KS statistic between every pair of columns."""
    X = X.astype(np.float64)
    out = {}
    d = X.shape[1]
    for i in range(d):
        for j in range(i + 1, d):
            a, b = np.sort(X[:, i]), np.sort(X[:, j])
            allv = np.concatenate([a, b])
            ca = np.searchsorted(a, allv, side="right") / len(a)
            cb = np.searchsorted(b, allv, side="right") / len(b)
            out[(i, j)] = float(np.abs(ca - cb).max())
    return out


def anderson_darling(X: np.ndarray) -> np.ndarray:
    """Normal-fit A² per column (parameters estimated, uncorrected)."""
    X = np.sort(X.astype(np.float64), axis=0)
    n = X.shape[0]
    z = (X - X.mean(0)) / X.std(0, ddof=1)
    erf = np.vectorize(math.erf)
    cdf = np.clip(0.5 * (1.0 + erf(z / math.sqrt(2.0))), 1e-15, 1 - 1e-15)
    i = np.arange(1, n + 1)[:, None]
    return -n - ((2 * i - 1) * (np.log(cdf) + np.log(1 - cdf[::-1]))).sum(0) / n


def check_stats(vif_got, ks_rows, ad_rows, ref: dict) -> list[str]:
    fails = []
    if not np.allclose(vif_got, ref["vif"], rtol=1e-6, atol=1e-8):
        fails.append(f"VIF differs from numpy by {np.abs(vif_got - ref['vif']).max():.3g}")
    ks = {(int(r["pos_i"]), int(r["pos_j"])): float(r["ks_stat"]) for r in ks_rows}
    if set(ks) != set(ref["ks"]) or any(abs(ks[p] - ref["ks"][p]) > 1e-12 for p in ks):
        fails.append("KS matrix differs from numpy")
    ad = {int(r["pos"]): float(r["a2"]) for r in ad_rows}
    want = ref["ad"]
    if sorted(ad) != list(range(len(want))) or not np.allclose(
        [ad[p] for p in range(len(want))], want, rtol=1e-6
    ):
        fails.append("Anderson-Darling statistics differ from numpy")
    return fails
