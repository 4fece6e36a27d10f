"""Streaming twin of the group-sequential A/B monitor.

Experiment monitoring IS a streaming job: events arrive continuously
and the analyst reads the cumulative z / boundary table after every
micro-batch. This module lands each micro-batch's (day, arm) moment
PARTIALS (n, Σv, Σv² as exact DECIMALs — mergeable sums of sums) in a
copy-on-write store, then the readout merges the partials and applies
the SAME `monitor_readout_from_daily` kernel the batch query
(queries/eval_q.py:q_sequential_ab_monitoring) uses — so the streaming
readout equals the batch answer over the same events by construction,
and the per-batch cost is one map-side-combining groupBy over that
batch only, never a rescan of history.

Replay discipline (foreachBatch is at-least-once): each batch writes
its partials to its OWN ``batch_id=N`` directory with dir-level
overwrite, so a replayed batch replaces its previous write instead of
double-counting — the same convention as streaming/ingest.py sinks.

At 100 TB the moment store stays tiny (batches x days x 2 rows); the
readout cost is independent of corpus size.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from commercial_rfp_data_pipeline_spark.io import read_parquet
from commercial_rfp_data_pipeline_spark.operators.experiment import (
    daily_arm_moments,
    monitor_readout_from_daily,
)

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double, props string"
)


def read_events_stream(
    spark: SparkSession, events_dir: str, files_per_trigger: int = 1
) -> DataFrame:
    """Replayable finite event stream over a directory of parquet batch
    files (one file = one micro-batch by default)."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(events_dir)
    )


def _partials_dir(store: str) -> str:
    return os.path.join(store, "partials")


def monitor_ingest_sink(
    events: DataFrame,
    spark: SparkSession,
    store: str,
    checkpoint: str,
    on_batch_written=None,
):
    """Start the monitor stream: every micro-batch reduces to its
    (day, arm) moment partials and lands in
    ``store/partials/batch_id=N`` (dir overwrite = replay-idempotent).
    ``on_batch_written(batch_id)`` is a test seam for crash injection.
    availableNow trigger: drains what's available then stops (tests /
    backfill; swap the trigger for continuous monitoring)."""

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        if batch_id == 0:
            # Fresh checkpoint over an existing store (ADVICE r8): the
            # per-batch dir overwrite is only idempotent for replays
            # under the SAME checkpoint — a re-run with new batch
            # boundaries would double-count stale partials. batch 0
            # fires exactly once per checkpoint lineage (foreachBatch
            # is sequential; a batch-0 replay means nothing later ever
            # committed), so clearing the partials root here is safe
            # and mirrors streaming/ingest.py's manifest discipline.
            import shutil

            shutil.rmtree(_partials_dir(store), ignore_errors=True)
        if bdf.isEmpty():
            return
        part = daily_arm_moments(bdf)
        out = os.path.join(_partials_dir(store), f"batch_id={batch_id}")
        part.coalesce(1).write.mode("overwrite").parquet(out)
        if on_batch_written is not None:
            on_batch_written(batch_id)

    return (
        events.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def monitor_readout(spark: SparkSession, store: str) -> DataFrame:
    """Current z / boundary table from the landed partials: merge the
    per-batch moment partials (exact DECIMAL sums of sums) into the
    daily table, then apply the shared batch kernel."""
    parts = read_parquet(spark, _partials_dir(store))
    daily = parts.groupBy("day", "arm").agg(
        F.sum("n").alias("n"),
        F.sum("s").alias("s"),
        F.sum("ss").alias("ss"),
    )
    return monitor_readout_from_daily(daily)
