"""Spark-expression references for the driver-side IVF router.

``route_queries`` is the routing as a pure Spark projection: the
centroid table collapses to ONE broadcast array row, and per query the
probe list is ``array_sort(struct(cdist, shard_id))[:nprobe]``
exploded, the distance being ``l2_distance``'s fold. Ties break on
shard_id (struct field order). ``knn.nearest_centroids`` and
``ann._route_on_driver`` are checked against it, and the numpy oracles
of the candidate pools take their probe lists from it.

``routing_of`` turns such a (qid, qvec, shard_id) routing table into
the ``ann.Routing`` the pools take."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_ann_spark.functions.vector import l2_distance
from big_ann_spark.operators.ann import Routing, _routing


def route_queries(
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    *,
    query_id: str = "qid",
    query_vec: str = "qvec",
) -> DataFrame:
    """Top-``nprobe`` nearest centroids per query →
    (qid, qvec, shard_id, probe_rank)."""
    cents = centroids.agg(
        F.collect_list(
            F.struct(F.col("shard_id").alias("_sid"), F.col("centroid").alias("_cv"))
        ).alias("_cents")
    )
    scored = queries.select(
        F.col(query_id).alias("qid"), F.col(query_vec).alias("qvec")
    ).crossJoin(F.broadcast(cents))
    probes = F.slice(
        F.array_sort(
            F.transform(
                F.col("_cents"),
                lambda c: F.struct(
                    l2_distance(F.col("qvec"), c["_cv"]).alias("cdist"),
                    c["_sid"].alias("shard_id"),
                ),
            )
        ),
        1,
        nprobe,
    )
    return scored.select(
        "qid", "qvec", F.posexplode(probes).alias("_p", "_probe")
    ).select(
        "qid",
        "qvec",
        F.col("_probe")["shard_id"].alias("shard_id"),
        (F.col("_p") + 1).alias("probe_rank"),
    )


def routing_of(routed: DataFrame) -> Routing:
    """The ``Routing`` of a (qid, qvec, shard_id) routing table."""
    rows = routed.select("qid", "qvec", "shard_id").collect()
    qids, shards = (np.array([r[c] for r in rows], dtype=np.int64) for c in ("qid", "shard_id"))
    qmat = np.array([r["qvec"] for r in rows] or np.empty((0, 0)), dtype=np.float64)
    return _routing(qids, qmat, np.arange(len(rows)), shards)


def probed_pool_inputs(spark, queries, cents, path, nprobe=2):
    """(routing table, its ``Routing``, the probed shards of the layout
    at ``path``): what a pool test hands a candidate pool."""
    from big_ann_spark.operators.ann import open_probed_shards

    routed = route_queries(queries, cents, nprobe).localCheckpoint()
    routing = routing_of(routed)
    return routed, routing, open_probed_shards(spark, path, sorted(routing.shard_to_q))
