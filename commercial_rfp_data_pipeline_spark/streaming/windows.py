"""Structured Streaming extension (SURVEY.md §2.11, §7 phase 5).

The reference has NO streaming — every run is a full batch recompute
triggered by HTTP (commerical_rfp_data_ingestion_main.py:13); this
module is the extension mandated by BASELINE.json's LLM-pipeline
generality, clearly flagged as such.

Batch/stream parity: each streaming op mirrors a batch query in
queries/events_q.py, so the DuckDB-checked batch result doubles as the
oracle for the streaming path (tests assert stream == batch on the
finite testdata).

Scale: parquet-source streams partition by file; watermarks bound
state; ``dropDuplicatesWithinWatermark`` gives the streaming dedup the
reference's A6 would need in incremental form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from commercial_rfp_data_pipeline_spark.io import read_parquet


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replayable finite stream over the events parquet (one file =
    one micro-batch in tests; kafka/files in production).

    ``ts`` has shipped in two physical parquet layouts — TIMESTAMP(NANOS)
    (readable only as raw long under ``nanosAsLong``) and
    TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as TIMESTAMP_NTZ).
    ``withWatermark`` requires plain TIMESTAMP, so normalize both: the
    session timezone is UTC, making the NTZ→TZ cast value-preserving and
    keeping stream results aligned with the batch mirror."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = read_parquet(spark, f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")  # file sources need a dir
        .parquet(sf_dir)
    )
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type in ("bigint", "long"):
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        stream = stream.withColumn("ts", F.to_timestamp("ts"))
    return stream


def tumbling_counts(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Watermarked tumbling-window counts — append-mode safe."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


def sliding_counts(events: DataFrame, width: str = "10 minutes", slide: str = "5 minutes") -> DataFrame:
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native session windows with watermark — the streaming form of the
    batch lag+cumsum sessionization."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def streaming_dedup(events: DataFrame) -> DataFrame:
    """Streaming exact dedup on event_id bounded by watermark state."""
    return events.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stream_click_pairs(
    a: DataFrame, b: DataFrame, max_gap_s: int = 3600, how: str = "inner"
) -> DataFrame:
    """Watermarked stream-stream interval self-join: pairs of clicks by
    the same user within ``max_gap_s`` — the streaming mirror of the
    batch range_join_events_within_1h query (which is the DuckDB-checked
    oracle on finite data). Both sides carry watermarks and the join
    condition bounds event time in one direction, so state for each
    side is dropped once the other side's watermark passes — the
    canonical bounded-state stream-stream join."""
    left = (
        a.filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("id_a"),
            F.col("ts").alias("ts_a"),
        )
        .withWatermark("ts_a", "2 hours")
    )
    right = (
        b.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("user_id_b"),
            F.col("event_id").alias("id_b"),
            F.col("ts").alias("ts_b"),
        )
        .withWatermark("ts_b", "2 hours")
    )
    # how='left_outer' emits unmatched left clicks with null partner
    # columns ONCE the watermark proves no match can still arrive —
    # outer results are inherently watermark-delayed, which is why the
    # finite-replay parity test compares against the batch left join
    joined = left.join(
        right,
        F.expr(
            f"""user_id = user_id_b AND id_a < id_b
                AND ts_b >= ts_a AND ts_b <= ts_a + interval {max_gap_s} seconds"""
        ),
        how,
    )
    return joined.select(
        "user_id",
        "id_a",
        "id_b",
        (F.unix_timestamp("ts_b") - F.unix_timestamp("ts_a")).alias("gap_s"),
    )


def run_to_completion(df: DataFrame, name: str, mode: str = "complete") -> DataFrame:
    """Drive a finite stream to completion through a memory sink and
    return the materialized result (test/driver harness path).

    mode='complete' for aggregations (append would hold back windows
    the watermark never passes on finite data); mode='append' for
    non-aggregating streams (dedup, projections)."""
    q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    return df.sparkSession.table(name)


def enrich_with_static(
    events: DataFrame, dim: DataFrame, key: str = "user_id"
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against
    the static dimension snapshot — Spark re-plans the static side per
    batch, so a broadcast-sized dim never shuffles the stream. This is
    the standard serving-side enrichment shape (events + user/profile
    dim); stream-STREAM joins (stream_click_pairs) cover the
    both-sides-moving case."""
    return events.join(F.broadcast(dim), key, "left")
