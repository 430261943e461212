"""Event-stream queries (SURVEY §7.6 extension surface). Registry
entries run the batch form of each streaming plan (driver collects a
DataFrame); ``streaming_tumbling_live`` runs the REAL Structured
Streaming pipeline (readStream → availableNow → memory sink) and is
oracle-checked against the same SQL — streaming and batch must agree
exactly on finite input.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from big_ann_spark.catalog import load_table
from big_ann_spark.queries import register
from big_ann_spark.streaming import events as EV

_TUMBLING_SQL = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM events GROUP BY window_start, event_type
"""


@register(
    "batch_window_aggs",
    sql="""
WITH tumbling AS (
  SELECT 'tumbling' AS variant,
         time_bucket(INTERVAL '1 hour', ts) AS window_start,
         NULL::TIMESTAMP AS window_end,
         event_type AS key,
         COUNT(*) AS n_events,
         ROUND(SUM(value), 2) AS val
  FROM events GROUP BY window_start, event_type
),
sl AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) - (j * INTERVAL '30 minutes') AS window_start, ts
  FROM events, range(0, 2) t(j)
),
sliding AS (
  SELECT 'sliding' AS variant, window_start, NULL::TIMESTAMP AS window_end,
         NULL::VARCHAR AS key, COUNT(*) AS n_events, NULL::DOUBLE AS val
  FROM sl
  WHERE ts < window_start + INTERVAL '1 hour' AND ts >= window_start
  GROUP BY window_start
),
o AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   <= INTERVAL '5 minutes'
              THEN 0 ELSE 1 END AS new_sess
  FROM events
),
g AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
  FROM o
),
sessions AS (
  SELECT 'session' AS variant,
         min(ts) AS window_start,
         max(ts) + INTERVAL '5 minutes' AS window_end,
         user_id::VARCHAR AS key,
         COUNT(*) AS n_events,
         NULL::DOUBLE AS val
  FROM g GROUP BY user_id, sess
)
SELECT * FROM tumbling UNION ALL SELECT * FROM sliding UNION ALL SELECT * FROM sessions
""",
)
def batch_window_aggs(spark, sf_dir):
    """The three streaming window shapes, batch form, folded into one
    tagged union (identical plans run under readStream — see
    streaming_tumbling_live for the genuine streaming execution):
    - ``tumbling``: 1-hour windows per event type;
    - ``sliding``: 1-hour windows every 30 minutes (each event in 2);
    - ``session``: per-user 5-minute-gap session windows (native
      session_window ≡ gaps-and-islands in SQL; end = last + gap)."""
    e = load_table(spark, sf_dir, "events")
    tumbling = EV.tumbling_counts(e).select(
        F.lit("tumbling").alias("variant"),
        "window_start",
        F.lit(None).cast("timestamp").alias("window_end"),
        F.col("event_type").alias("key"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("sum_value").cast("double").alias("val"),
    )
    sliding = EV.sliding_counts(e).select(
        F.lit("sliding").alias("variant"),
        "window_start",
        F.lit(None).cast("timestamp").alias("window_end"),
        F.lit(None).cast("string").alias("key"),
        F.col("n_events").cast("long").alias("n_events"),
        F.lit(None).cast("double").alias("val"),
    )
    sessions = EV.session_windows(e).select(
        F.lit("session").alias("variant"),
        F.col("session_start").alias("window_start"),
        F.col("session_end").alias("window_end"),
        F.col("user_id").cast("string").alias("key"),
        F.col("n_events").cast("long").alias("n_events"),
        F.lit(None).cast("double").alias("val"),
    )
    return tumbling.unionByName(sliding).unionByName(sessions)


@register("streaming_tumbling_live", sql=_TUMBLING_SQL)
def streaming_tumbling_live(spark, sf_dir):
    """The SAME tumbling aggregation executed as a real Structured
    Streaming job: parquet file-stream source → watermark → windowed
    agg → availableNow trigger → memory sink. Oracle-checked against
    the identical SQL: streaming must converge to the batch answer."""
    stream = EV.read_event_stream(spark, sf_dir)
    return EV.run_to_memory(
        EV.tumbling_counts(stream), "streaming_tumbling_live_sink"
    )


@register(
    "streaming_stateful_user_totals",
    sql="""
SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
FROM events GROUP BY user_id
""",
)
def streaming_stateful_user_totals(spark, sf_dir):
    """Custom stateful streaming operator (applyInPandasWithState,
    keyed state + event-time timeout) run to completion with
    availableNow — with a single input batch the final per-user state
    equals the batch aggregate, so even the bespoke stateful path is
    DuckDB-oracle-checked."""
    stream = EV.read_event_stream(spark, sf_dir)
    out = EV.run_to_memory(
        EV.user_running_totals_stateful(stream),
        "streaming_stateful_sink",
        output_mode="update",
    )
    # update-mode emits one row per user per micro-batch; keep the last
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


@register(
    "event_analytics",
    sql="""
WITH json_props AS (
  SELECT 'json_props' AS variant, event_type AS k1, NULL::VARCHAR AS k2,
         COUNT(*) AS n,
         ROUND(AVG(json_extract(props, '$.k')::BIGINT), 4) AS v1,
         MAX(json_extract(props, '$.k')::BIGINT)::DOUBLE AS v2
  FROM events GROUP BY event_type
),
monthly AS (
  SELECT 'monthly' AS variant,
         strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS k1,
         NULL::VARCHAR AS k2,
         COUNT(*) AS n,
         ROUND(SUM(o_totalprice), 2) AS v1,
         NULL::DOUBLE AS v2
  FROM orders GROUP BY 2
),
seq AS (
  SELECT user_id, event_type, ts,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
),
funnel AS (
  SELECT 'funnel' AS variant, event_type AS k1, next_type AS k2,
         COUNT(*) AS n, NULL::DOUBLE AS v1, NULL::DOUBLE AS v2
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
),
-- live_view: the streaming vector index's latest-op-wins resolution
-- (insert -> delete -> re-insert runbook derived deterministically
-- from event user ids; the Spark side runs the REAL streaming ingest
-- + live view, the oracle replays the runbook with arg_max)
vusers AS (SELECT DISTINCT user_id AS u FROM events WHERE user_id < 40),
vops AS (
  SELECT u, 0 AS b, 'insert' AS op FROM vusers
  UNION ALL SELECT u, 1, 'delete' FROM vusers WHERE u % 3 = 0
  UNION ALL SELECT u, 2, 'insert' FROM vusers WHERE u % 6 = 0
),
vlast AS (SELECT u, arg_max(op, b) AS op, max(b) AS b FROM vops GROUP BY u),
live_view AS (
  SELECT 'live_view' AS variant, u::VARCHAR AS k1, NULL::VARCHAR AS k2,
         1::BIGINT AS n,
         ROUND((u + b)::DOUBLE, 4) AS v1,
         ROUND((u * 0.5 - b)::DOUBLE, 4) AS v2
  FROM vlast WHERE op = 'insert'
)
SELECT * FROM json_props UNION ALL SELECT * FROM monthly
UNION ALL SELECT * FROM funnel UNION ALL SELECT * FROM live_view
""",
)
def event_analytics(spark, sf_dir):
    """The event/date analytics shapes folded into one tagged union:
    - ``json_props``: semi-structured surface — JSON property
      extraction from the events props column (get_json_object →
      typed aggregation);
    - ``monthly``: date-function surface — month truncation + revenue
      rollup over orders;
    - ``funnel``: event-transition funnel (lead window per user);
    - ``live_view``: the streaming vector index's latest-op-wins
      resolution, checked against an independent SQL replay. A
      deterministic insert → delete → re-insert runbook is derived
      from event user ids (u<40: all inserted in batch 0; u%3==0
      deleted in batch 1; u%6==0 re-inserted in batch 2, with the
      batch number encoded in the vector), ingested through the REAL
      machinery — ``stream_vector_index_ingest`` landing one op per
      micro-batch, one availableNow run per batch so batch order is
      guaranteed — and read back through ``vector_ops.live_frame`` and
      ``ann.drop_dead_rows``. The oracle replays the runbook in SQL
      with ``arg_max(op, batch)``: deleted ids must be absent, revived
      ids must carry the batch-2 vector."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    json_props = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.avg(k), 4).alias("v1"),
        F.max(k).cast("double").alias("v2"),
    ).select(
        F.lit("json_props").alias("variant"),
        F.col("event_type").alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        "n", "v1", "v2",
    )
    o = load_table(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("v1"))
        .select(
            F.lit("monthly").alias("variant"),
            F.date_format("month", "yyyy-MM-dd").alias("k1"),
            F.lit(None).cast("string").alias("k2"),
            "n", "v1",
            F.lit(None).cast("double").alias("v2"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    funnel = (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("funnel").alias("variant"),
            F.col("event_type").alias("k1"),
            F.col("next_type").alias("k2"),
            "n",
            F.lit(None).cast("double").alias("v1"),
            F.lit(None).cast("double").alias("v2"),
        )
    )
    live_view = _live_view_variant(spark, e)
    return (
        json_props.unionByName(monthly).unionByName(funnel).unionByName(live_view)
    )


def _live_view_variant(spark, events):
    """Run the streaming vector index's insert→delete→re-insert runbook
    (see event_analytics docstring) and project the live view into the
    tagged-union schema. Values are exact in float32 (u < 40, b ≤ 2:
    u+b and u/2-b are dyadic), so the ROUND(·,4) on both engines can
    never straddle a representation difference."""
    import tempfile

    from big_ann_spark.operators.ann import drop_dead_rows
    from big_ann_spark.operators.vector_ops import live_frame
    from big_ann_spark.streaming import vector_index as VI

    users = (
        events.filter(F.col("user_id") < 40)
        .select(F.col("user_id").alias("vec_id"))
        .distinct()
    )

    def vec(b: int):
        return F.array(
            (F.col("vec_id") + F.lit(b)).cast("float"),
            (F.col("vec_id") * 0.5 - F.lit(b)).cast("float"),
        )

    batches = [
        users.select("vec_id", vec(0).alias("embedding"), F.lit("insert").alias("op")),
        users.filter(F.col("vec_id") % 3 == 0).select(
            "vec_id",
            F.lit(None).cast("array<float>").alias("embedding"),
            F.lit("delete").alias("op"),
        ),
        users.filter(F.col("vec_id") % 6 == 0).select(
            "vec_id", vec(2).alias("embedding"), F.lit("insert").alias("op")
        ),
    ]
    src = tempfile.mkdtemp(prefix="ea_vi_src_")
    idx = tempfile.mkdtemp(prefix="ea_vi_idx_")
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [100.0, 100.0])], "shard_id int, centroid array<float>"
    )
    # one availableNow ingest per landed file: batch ORDER is guaranteed
    # by the checkpoint (each run processes exactly the new file), not
    # by file-mtime luck
    for bdf in batches:
        bdf.coalesce(1).write.mode("append").parquet(src)
        VI.stream_vector_index_ingest(
            spark.readStream.schema("vec_id long, embedding array<float>, op string")
            .format("parquet")
            .load(src),
            idx,
            cents,
            op_col="op",
        )
    frame, dead = live_frame(spark, idx)
    live = drop_dead_rows(frame.select("vec_id", "embedding", "_resolved"), dead, "vec_id")
    return live.select(
        F.lit("live_view").alias("variant"),
        F.col("vec_id").cast("string").alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        F.lit(1).cast("long").alias("n"),
        F.round(F.col("embedding")[0].cast("double"), 4).alias("v1"),
        F.round(F.col("embedding")[1].cast("double"), 4).alias("v2"),
    )
