"""Exactly-once streaming file sink (SURVEY.md §2.11 streaming
extension; the reference has no streaming — this completes the
extension's sink story).

``foreachBatch`` invokes the batch function AT-LEAST-ONCE: if the
driver dies between the sink write and the checkpoint commit, the same
(batch_id, data) pair is re-invoked on restart from the checkpoint.
End-to-end exactly-once therefore requires the sink write to be
IDEMPOTENT in ``batch_id`` — the contract Spark's docs put on the
user. For a parquet sink the standard recipe, used here: write each
micro-batch to its own ``batch_id=N`` partition directory with
overwrite mode, so a replayed batch OVERWRITES its own directory with
identical rows instead of appending duplicates. Readers see the whole
output as one partitioned table (``read_parquet(spark, out_path)``
discovers ``batch_id`` as a partition column).

Scale notes: each micro-batch is one atomic directory rename away from
visible; the checkpoint (offsets + commits log) lives on the reliable
store next to the data in production. A transactional table format
would subsume this with a MERGE, but the batch_id-partition overwrite
needs nothing beyond parquet + a filesystem with atomic rename.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from commercial_rfp_data_pipeline_spark.io import read_parquet


def exactly_once_parquet_sink(
    df: DataFrame,
    out_path: str,
    checkpoint_path: str,
    on_batch_written: Callable[[int], None] | None = None,
) -> StreamingQuery:
    """Start ``df`` streaming into ``out_path`` with exactly-once
    delivery by idempotent batch_id-keyed overwrite. Processes all
    currently-available input (availableNow trigger) and stops — call
    again with the same ``checkpoint_path`` to resume after failure or
    pick up new data; committed batches are never re-emitted.

    ``on_batch_written`` is a test seam invoked AFTER the sink write
    but BEFORE Spark commits the batch to the checkpoint — raising
    from it simulates the crash window that makes at-least-once sinks
    duplicate data."""

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        bdf.write.mode("overwrite").parquet(
            os.path.join(out_path, f"batch_id={batch_id}")
        )
        if on_batch_written is not None:
            on_batch_written(batch_id)

    return (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def dedup_ingest_sink(
    df: DataFrame,
    store_path: str,
    checkpoint_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    on_batch_written: Callable[[int], None] | None = None,
) -> StreamingQuery:
    """INCREMENTAL deduplicating corpus ingest — the loop a
    training-data service actually runs: each micro-batch of documents
    is content-fingerprinted (md5 of the normalized text), deduped
    within the batch (min id per fingerprint), anti-joined against
    every fingerprint already in the store, and the true novelties
    appended — so the store only ever contains one document per
    distinct content.

    Exactly-once under replay: each batch writes to its own
    ``batch_id=N`` directory (idempotent overwrite), and the
    store-side anti-join EXCLUDES the current batch_id — a replayed
    batch sees exactly the store state its first attempt saw, so it
    recomputes the identical survivor set and overwrites itself. (An
    append-mode sink would double every row the crash window touched;
    filtering out the in-flight batch is what makes the read-side
    state replay-stable.)

    Scale: the anti-join is fingerprint-keyed (the store side prunes
    to one 32-char column); at 100 TB the store is the parquet'd
    content-hash index a dedup service keeps, and the per-batch cost
    is one scan of it — or a bucketed/Bloom layout to avoid even that.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        spark = bdf.sparkSession
        fp = F.md5(
            F.lower(
                F.trim(
                    F.regexp_replace(F.col(text_col).cast("string"), r"\s+", " ")
                )
            )
        )
        w = Window.partitionBy("fp").orderBy(id_col)
        batch = (
            bdf.withColumn("fp", fp)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        try:
            store = (
                read_parquet(spark, store_path)
                .filter(F.col("batch_id") != batch_id)
                .select("fp")
            )
            novel = batch.join(store, "fp", "left_anti")
        except Exception:  # first batch: no store yet
            novel = batch
        novel.write.mode("overwrite").parquet(
            os.path.join(store_path, f"batch_id={batch_id}")
        )
        if on_batch_written is not None:
            on_batch_written(batch_id)

    return (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def windowed_topk_sink(
    windowed_counts: DataFrame,
    path: str,
    checkpoint: str,
    k: int = 3,
    window_col: str = "window_start",
    rank_by: str = "n",
) -> "StreamingQuery":
    """Streaming windowed TOP-K — the aggregation-over-aggregation
    shape Structured Streaming cannot express in-plan (a rank over a
    streaming aggregate is not incrementalizable: a late row can
    reorder the whole window). The standard resolution, made explicit:
    the streaming plan maintains the windowed COUNTS (incremental,
    watermark-bounded state); ``foreachBatch`` re-ranks each updated
    window's counts and OVERWRITES that window's top-k partition —
    idempotent under batch replay, so the sink stays exactly-once. At
    100 TB the rank runs per updated window over |keys| rows, never
    over history."""
    from pyspark.sql import Window as W

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        if not bdf.take(1):
            return
        w = W.partitionBy(window_col).orderBy(
            F.col(rank_by).desc(), *[c for c in bdf.columns if c not in (window_col, rank_by)]
        )
        ranked = (
            bdf.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
        )
        (
            ranked.withColumn("_w", F.date_format(window_col, "yyyyMMddHHmmss"))
            .write.mode("overwrite")
            .partitionBy("_w")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(path)
        )

    return (
        windowed_counts.writeStream.foreachBatch(write_batch)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def session_store_sink(
    session_counts: DataFrame,
    store_path: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """Streaming SESSION-window store. Session windows MERGE — a
    bridging event can fuse two open sessions into one — which is why
    Spark restricts streaming session aggregation to APPEND mode: a
    session is emitted exactly once, only after the watermark passes
    its end (no earlier partial row can exist downstream to go stale).
    Merges therefore resolve INSIDE the streaming state before
    anything is emitted; the store needs no compaction view.

    Each micro-batch's closed sessions land in their own
    ``batch_id=N`` directory (idempotent overwrite -> exactly-once
    under replay, same discipline as the other foreachBatch sinks).
    Open sessions stay in checkpointed state across availableNow
    drains until later events advance the watermark past them."""

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        bdf.write.mode("overwrite").parquet(
            os.path.join(store_path, f"batch_id={batch_id}")
        )

    return (
        session_counts.writeStream.foreachBatch(write_batch)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def session_topk(spark, store_path: str, k: int = 3) -> DataFrame:
    """Global top-k busiest CLOSED sessions in the store, deterministic
    tiebreak (n_events DESC, user_id, session_start). TakeOrdered shape
    — no full sort, no shuffle beyond the per-partition heaps."""
    live = read_parquet(spark, store_path).select(
        "session_start", "session_end", "user_id", "n_events"
    )
    return (
        live.orderBy(
            F.col("n_events").desc(), F.col("user_id"), F.col("session_start")
        )
        .limit(k)
    )


def _hadoop_fs(spark, path: str):
    """(FileSystem, Path, jvm) for ``path`` — works for any scheme the
    session supports (local, hdfs, s3a...), so the sink's bookkeeping
    follows the data instead of assuming a local filesystem."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p, jvm


def _hadoop_exists(spark, path: str) -> bool:
    fs, p, _ = _hadoop_fs(spark, path)
    return fs.exists(p)


def _write_latest_pointer(spark, root_path: str, batch_id: int) -> None:
    """Atomically (create tmp + rename) record the newest committed
    snapshot id. The pointer — not a max() scan over directory names —
    is what readers follow, so restarting the sink with a FRESH
    checkpoint over an old root_path (batch ids reset to 0) serves the
    new run's snapshot instead of a stale higher-numbered one."""
    fs, tmp, jvm = _hadoop_fs(spark, os.path.join(root_path, "LATEST.tmp"))
    out = fs.create(tmp, True)
    out.write(str(batch_id).encode("utf-8"))
    out.close()
    dst = jvm.org.apache.hadoop.fs.Path(os.path.join(root_path, "LATEST"))
    fs.delete(dst, False)  # hadoop rename refuses to overwrite
    fs.rename(tmp, dst)


def _read_latest_pointer(spark, root_path: str) -> int | None:
    fs, p, jvm = _hadoop_fs(spark, os.path.join(root_path, "LATEST"))
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return int(jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8"))
    finally:
        stream.close()


def _prune_batch_dirs(spark, dirpath: str, current: int) -> None:
    """Keep only batch_id=current and current-1 (the retry of batch N
    re-reads N-1's state, so N-1 must survive until N+1 lands); also
    drop ids ABOVE current — leftovers of an abandoned earlier run
    against the same root_path. Bounds on-disk state at 2 batches."""
    fs, p, _ = _hadoop_fs(spark, dirpath)
    if not fs.exists(p):
        return
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if not name.startswith("batch_id="):
            continue
        bid = int(name.split("=", 1)[1])
        if bid < current - 1 or bid > current:
            fs.delete(st.getPath(), True)


def session_topk_update_sink(
    events: DataFrame,
    root_path: str,
    checkpoint_path: str,
    gap_minutes: int = 30,
    k: int = 3,
    evict_delay_minutes: int = 60,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> StreamingQuery:
    """Streaming session-window TOP-K with UPDATE-mode emission — the
    shape Spark's in-plan session aggregation cannot express (session
    windows merge, so streaming session aggregation is APPEND-only: a
    session is emitted once, after the watermark closes it; nothing is
    visible while it is open). This sink emulates update mode the
    standard way: ``foreachBatch`` over the RAW events maintains the
    session state itself and re-emits the current top-k every batch,
    open sessions included.

    Per batch N (all derived deterministically from batch N's rows +
    batch N-1's state, so every write is idempotent under foreachBatch
    replay — the exactly-once discipline of the other sinks):

    1. OPEN-SESSION STATE: batch events (degenerate [ts, ts] intervals,
       n=1) union the previous open sessions, interval-merged per user
       with the same strict-gap rule as ``F.session_window`` (an event
       merges iff ts < last_ts + gap) via one window pass (running max
       of last_ts, new-session flag, running flag sum) + one groupBy.
       A bridging event fuses two prior open sessions — counts add
       exactly because events and prior sessions are disjoint.
    2. EVICTION: sessions whose end (last_ts + gap) has fallen
       ``evict_delay`` behind the batch max timestamp can never merge
       again under watermark discipline — they move to an immutable
       rolling CLOSED top-k (k rows of state, exact: closed sessions
       never change, so topk(old_topk ∪ newly_closed) == topk(all
       closed)). Open state stays bounded by active users, closed
       state by k — nothing grows with history.
    3. EMISSION: top-k over (open state ∪ closed top-k) under
       (n_events DESC, user, session_start), written to
       ``out/batch_id=N`` — the update-mode snapshot.

    Read the latest snapshot with :func:`session_update_topk_latest`.
    Cross-batch merge + parity with batch ``F.session_window``
    sessionization are pytest-pinned."""
    from pyspark.sql import Window as W

    gap_s = gap_minutes * 60
    evict_s = evict_delay_minutes * 60
    state_dir = os.path.join(root_path, "state")
    closed_dir = os.path.join(root_path, "closedtopk")
    out_dir = os.path.join(root_path, "out")
    state_schema = (
        f"{user_col} long, session_start timestamp, last_ts timestamp, "
        "n_events long"
    )

    def _read_or_empty(spark, path: str, schema: str) -> DataFrame:
        # only a MISSING path means "first batch" — an IO/permission/
        # corruption error while loading real state must fail the
        # streaming query, not silently reset every open session (the
        # reset would still write a plausible-looking snapshot)
        if not _hadoop_exists(spark, path):
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(path)

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        spark = bdf.sparkSession
        prev_state = _read_or_empty(
            spark, os.path.join(state_dir, f"batch_id={batch_id - 1}"),
            state_schema,
        )
        prev_closed = _read_or_empty(
            spark, os.path.join(closed_dir, f"batch_id={batch_id - 1}"),
            state_schema,
        )
        intervals = bdf.select(
            F.col(user_col),
            F.col(ts_col).alias("session_start"),
            F.col(ts_col).alias("last_ts"),
            F.lit(1).cast("long").alias("n_events"),
        ).unionByName(prev_state)
        w = W.partitionBy(user_col).orderBy("session_start", "last_ts")
        prev_max = F.max("last_ts").over(
            w.rowsBetween(W.unboundedPreceding, -1)
        )
        # strict gap rule, matching F.session_window: an interval joins
        # the running session iff start < prev_last + gap
        new_flag = F.when(
            prev_max.isNull()
            | (
                F.col("session_start").cast("long")
                >= prev_max.cast("long") + gap_s
            ),
            1,
        ).otherwise(0)
        merged = (
            intervals.withColumn("_new", new_flag)
            .withColumn("_grp", F.sum("_new").over(w))
            .groupBy(user_col, "_grp")
            .agg(
                F.min("session_start").alias("session_start"),
                F.max("last_ts").alias("last_ts"),
                F.sum("n_events").alias("n_events"),
            )
            .drop("_grp")
            .localCheckpoint(eager=True)
        )
        row = bdf.agg(F.max(ts_col).alias("m")).collect()[0]
        max_ts = row["m"]
        if max_ts is not None:
            closing = merged.filter(
                F.col("last_ts").cast("long") + gap_s + evict_s
                < F.lit(max_ts).cast("long")
            )
            state = merged.exceptAll(closing)
        else:
            closing = merged.limit(0)
            state = merged
        closed = (
            prev_closed.unionByName(
                closing.select(
                    user_col, "session_start", "last_ts", "n_events"
                )
            )
            .orderBy(F.col("n_events").desc(), user_col, "session_start")
            .limit(k)
        )
        state.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"batch_id={batch_id}")
        )
        closed.write.mode("overwrite").parquet(
            os.path.join(closed_dir, f"batch_id={batch_id}")
        )
        snapshot = (
            state.unionByName(closed)
            .select(
                user_col,
                "session_start",
                (F.col("last_ts").cast("long") + gap_s)
                .cast("timestamp")
                .alias("session_end"),
                "n_events",
            )
            .orderBy(F.col("n_events").desc(), user_col, "session_start")
            .limit(k)
        )
        snapshot.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )
        # pointer LAST (write order: state, closed, out, pointer) — the
        # pointer only ever names a fully-written snapshot; then bound
        # on-disk state to two batches per dir
        _write_latest_pointer(spark, root_path, batch_id)
        for d in (state_dir, closed_dir, out_dir):
            _prune_batch_dirs(spark, d, batch_id)

    return (
        events.writeStream.foreachBatch(write_batch)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def session_update_topk_latest(spark, root_path: str) -> DataFrame:
    """The most recent update-mode top-k snapshot written by
    :func:`session_topk_update_sink` (reads only the snapshot the
    LATEST pointer names — k rows). The pointer, not a max() over
    directory names, decides: a fresh-checkpoint restart over an old
    root_path resets batch ids, and the pointer tracks the NEW run
    while stale higher-numbered dirs are pruned away."""
    out_dir = os.path.join(root_path, "out")
    latest = _read_latest_pointer(spark, root_path)
    if latest is None:  # pre-pointer layout: fall back to the dir scan
        latest = max(
            int(d.split("=", 1)[1])
            for d in os.listdir(out_dir)
            if d.startswith("batch_id=")
        )
    return read_parquet(spark, os.path.join(out_dir, f"batch_id={latest}"))


def cdc_upsert_sink(
    changes: DataFrame,
    store_path: str,
    checkpoint_path: str,
    key_col: str = "id",
    op_col: str = "op",
    on_batch_written: Callable[[int], None] | None = None,
) -> StreamingQuery:
    """Streaming CDC apply: a change feed of (key, op ∈ {I,U,D},
    payload...) rows upserts into a keyed store. Each micro-batch
    lands VERBATIM in its own ``batch_id=N`` directory (idempotent
    overwrite — a replayed batch rewrites identical rows, exactly-once
    like the other sinks); the CURRENT table is the read-side
    compaction ``read_cdc_store``: latest (batch_id, op) per key wins,
    deletes drop the key. The store doubles as the full change
    HISTORY — time travel = compact with a batch_id ceiling.

    Scale: the write path never reads the store (no read-modify-write
    race, no growing batch cost); compaction is one window over
    (key) — or a bucketed layout on the key to make it exchange-free."""

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        bdf.write.mode("overwrite").parquet(
            os.path.join(store_path, f"batch_id={batch_id}")
        )
        if on_batch_written is not None:
            on_batch_written(batch_id)

    return (
        changes.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_cdc_store(
    spark,
    store_path: str,
    key_col: str = "id",
    op_col: str = "op",
    as_of_batch: int | None = None,
) -> DataFrame:
    """Materialize the CURRENT table from the CDC store: keep each
    key's latest change (batch_id DESC, then source order within the
    batch via a deterministic ordinal if present), drop keys whose
    latest op is D. ``as_of_batch`` caps batch_id — time travel over
    the retained change history."""
    from pyspark.sql import Window as W

    s = read_parquet(spark, store_path)
    if as_of_batch is not None:
        s = s.filter(F.col("batch_id") <= as_of_batch)
    order = [F.col("batch_id").desc()]
    if "_seq" in s.columns:
        order.append(F.col("_seq").desc())
    w = W.partitionBy(key_col).orderBy(*order)
    latest = s.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    return latest.filter(F.col(op_col) != "D").drop("_rn", "batch_id", op_col)
