"""Structured Streaming over the events table.

The reference is strictly batch (map barrier at src/master.go:77-79);
this module is pure extension: the batch event pipelines of
operators/events.py re-expressed as streams with watermarks.  All three
streaming queries register DuckDB oracles: one ``availableNow`` pass
over a static source drops nothing (the watermark never expires data
that is all present in the first batch), so the drained result is
deterministic and hash-comparable like any batch query.

``readStream`` over the parquet directory (pathGlobFilter pins the one
table) -> event-time window aggregation with a watermark -> memory sink
drained by ``Trigger.AvailableNow``.  At scale the source would be a
Kafka/file stream and the sink a Delta/parquet table; the query graph is
identical (see sources.py for the rate/kafka source switch).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simplex_mapreduce_spark.operators.events import SESSION_GAP_SECONDS
from simplex_mapreduce_spark.registry import register
from simplex_mapreduce_spark.session import apply_runtime_conf
from simplex_mapreduce_spark.sources.tables import read_parquet


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_runtime_conf(spark)
    path = f"{sf_dir}/events.parquet"
    # schema must be supplied for streaming reads; take it from a batch peek
    schema = read_parquet(spark, path).schema
    import os

    if os.path.isdir(path):
        # Spark-written table (e.g. the generated sf1 data): a DIRECTORY
        # of part files — the streaming file source takes it directly
        raw = spark.readStream.schema(schema).parquet(path)
    else:
        # single-file driver testdata: the file source wants a directory,
        # so point at sf_dir and pin the one table by file name
        raw = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    # watermarks require TIMESTAMP (LTZ): epoch-nanos long -> instant.
    # Guard on dtype like the batch loader (sources/tables.py): only a
    # raw nanos bigint needs the DIV 1000 truncation.  Outputs below emit
    # epoch *seconds* (cast to long) — session-timezone-independent.
    if schema["ts"].dataType.simpleString() == "bigint":
        return raw.withColumn(
            "ts", F.timestamp_micros(F.expr("CAST(ts DIV 1000 AS BIGINT)"))
        )
    # NTZ branch: the wall times in this data ARE UTC instants (the NTZ
    # design).  A plain cast("timestamp") re-interprets the wall time in
    # the SESSION timezone — every window epoch in every streaming query
    # shifts by the UTC offset on a non-UTC driver (caught by the
    # TZ=America/New_York driver-sim probe: 7 streaming hash mismatches,
    # +18000 s each).  Convert via pure NTZ arithmetic instead — micros
    # since the NTZ epoch — which no session timezone can touch.
    return raw.withColumn(
        "ts",
        F.timestamp_micros(
            F.expr(
                "timestampdiff(MICROSECOND,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            )
        ),
    )


def _drain(
    stream_df: DataFrame, spark: SparkSession, mode: str = "complete"
) -> DataFrame:
    """Run an availableNow pass into a memory sink; return the batch
    result."""
    name = f"sink_{uuid.uuid4().hex[:12]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    return spark.table(name)


def stream_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute tumbling windows per event type, streaming, with a
    10-minute watermark for late data."""
    e = _events_stream(spark, sf_dir)
    agg = (
        e.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").cast("long").alias("win_epoch"),
            "event_type",
            "n",
            "total_value",
        )
    )
    return _drain(agg, spark)


def stream_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute gap) per user via the native
    ``session_window`` stateful operator.  Emits the session-start epoch
    so each (user, session) row is uniquely keyed."""
    e = _events_stream(spark, sf_dir)
    agg = (
        e.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").cast("long").alias("session_start_epoch"),
            "n_events",
            "session_value",
        )
    )
    return _drain(agg, spark)


@register(
    "streaming_events_tumbling",
    deprioritized=True,  # round-8 rotation: hash-green r5-r7; slot
    # yielded to the newborn bpe_encode
    oracle="""
    SELECT CAST(epoch(time_bucket(INTERVAL 5 MINUTE, CAST(ts AS TIMESTAMP)))
                AS BIGINT)    AS win_epoch,
           event_type,
           count(*)           AS n,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def streaming_events_tumbling(spark, sf_dir):
    """Driver-oracled streaming query: an availableNow pass over the
    static events table is deterministic, so the drained stream result
    must equal the batch time_bucket aggregation."""
    return stream_events_tumbling(spark, sf_dir)


@register(
    "streaming_sessionization",
    deprioritized=True,  # round-8 rotation: hash-green r5-r7; slot
    # yielded to the newborn dsir_importance
    oracle=f"""
    WITH gaps AS (
        SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts,
               CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                         OR lag(CAST(ts AS TIMESTAMP)) OVER w
                            + INTERVAL {SESSION_GAP_SECONDS} SECOND
                            <= CAST(ts AS TIMESTAMP)
                    THEN 1 ELSE 0 END AS is_new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
    ), sessions AS (
        SELECT user_id, value, ts,
               sum(is_new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_id
        FROM gaps
    )
    SELECT user_id,
           CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_epoch,
           count(*)                       AS n_events,
           round(sum(value), 2)           AS session_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def streaming_sessionization(spark, sf_dir):
    """Driver-oracled stateful streaming query.  NB the oracle uses
    Spark's ``session_window`` merge rule — a new session starts when
    ``prev + gap <= ts`` (an event exactly ``gap`` after the previous one
    does NOT extend the session, because per-event windows ``[ts,
    ts+gap)`` are half-open) — which differs at the exact boundary from
    the batch ``sessionization`` query's ``prev + gap < ts`` convention.
    Both oracle windows order by ``(ts, event_id)``: the running sum must
    use the same tie order as the boundary-flag window, else a row with a
    duplicate timestamp at a session boundary can be summed before its
    flag and land in the expired session (nondeterministic in DuckDB)."""
    return stream_sessionization(spark, sf_dir)


def stream_events_to_parquet(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> None:
    """foreachBatch sink: stream the windowed aggregation into parquet,
    one idempotent overwrite-by-batch write per micro-batch.  The
    foreachBatch hook is the streaming escape hatch for sinks Spark has
    no native writer for (JDBC upserts, dedup-merge targets, etc.)."""
    e = _events_stream(spark, sf_dir)
    agg = (
        e.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").cast("long").alias("win_epoch"),
            "event_type",
            "n",
            "total_value",
        )
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")

    q = (
        agg.writeStream.foreachBatch(write_batch)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
