"""Streaming ingest into the DURABLE search indexes (round 7).

The round-6 build left two separate stories: manifest-committed
durable indexes (plans/index_lifecycle.py — BM25, IVF) and
crash-safe streaming sinks (streaming/sinks.py). This module composes
them: a ``foreachBatch`` sink that lands every document micro-batch in
BOTH indexes, idempotently, so a search service's index stays fresh
under continuous ingestion without ever re-indexing the corpus.

At-least-once discipline (same contract as streaming/sinks.py —
``foreachBatch`` may replay a batch after a crash):

- **BM25**: ``append_to_bm25_index`` is already replay-idempotent — a
  content-derived batch key in the atomic manifest makes a replayed
  batch a committed no-op, and a crash before the manifest commit
  leaves only invisible staged dirs (pinned by
  test_bm25_append_idempotent_and_crash_safe).
- **IVF**: ``append_to_ivf_index_reconciled`` anti-joins the batch
  against the chunk_ids already present in the touched cells before
  appending, so full replays append nothing and partially-landed
  crashes are repaired to exactly the complement.

Because every table in both indexes is a sum/union of per-batch
contributions, the final streamed index is IDENTICAL to a from-scratch
rebuild over all ingested documents (pinned by
tests/test_sources_sinks.py::test_streaming_index_ingest_*), and
``ivf_maintain``'s drift-bounded re-clustering runs over streamed data
unchanged — streamed rows live in the same partitioned cell layout.

Scale: each micro-batch costs chunk+embed of the BATCH, one
vocabulary-sized df merge, and a partition-pruned reconciliation read
of <= k cells — never a corpus scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from commercial_rfp_data_pipeline_spark.io import read_parquet

DOCS_SCHEMA = "doc_id long, text string"


def _prior_store_batches(store_path: str, batch_id: int) -> bool:
    """True iff the admission store already holds committed batch dirs
    OTHER than the in-flight ``batch_id`` (a replayed batch must not
    dedup against its own prior write — it would anti-join itself
    away). Explicit existence check instead of a try/except around the
    store read (ADVICE r7, medium): the bare handler also swallowed
    corrupt-store files, schema mismatches, and analysis errors in the
    band join, silently admitting the batch with NO dedup check. Now
    only the genuinely-missing-store case skips the check and every
    real failure fails the batch so Spark's retry surfaces it. Local
    warehouse: one listdir; on an object store this is one LIST call
    through the Hadoop FS API."""
    import os

    if not os.path.isdir(store_path):
        return False
    return any(
        e.startswith("batch_id=") and e != f"batch_id={batch_id}"
        for e in os.listdir(store_path)
    )


def read_documents_stream(
    spark: SparkSession, docs_dir: str, files_per_trigger: int = 1
) -> DataFrame:
    """Replayable finite document stream over a directory of parquet
    batch files (one file = one micro-batch by default; kafka/files in
    production)."""
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(docs_dir)
    )


def index_ingest_sink(
    docs: DataFrame,
    spark: SparkSession,
    warehouse: str,
    checkpoint: str,
):
    """Start the ingest stream: every micro-batch is appended into the
    durable BM25 index and the durable IVF index (both must already
    exist — ensure_bm25_index / ensure_ivf_index). Returns the started
    StreamingQuery (availableNow trigger: drains what is currently
    available, then stops — tests and backfills; swap the trigger for
    continuous production ingest)."""
    from commercial_rfp_data_pipeline_spark.plans.index_lifecycle import (
        append_to_bm25_index,
        append_to_ivf_index_reconciled,
    )

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        batch = bdf.select("doc_id", "text")
        if batch.isEmpty():
            return
        append_to_bm25_index(spark, warehouse, batch)
        append_to_ivf_index_reconciled(spark, warehouse, batch)

    return (
        docs.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def dedup_index_ingest_sink(
    docs: DataFrame,
    spark: SparkSession,
    warehouse: str,
    checkpoint: str,
    on_batch_written=None,
):
    """Round 8: streaming ingest into the DURABLE dedup-cluster index
    (plans/dedup_index.py) — each micro-batch is admitted through
    ``append_to_dedup_index``: band-LSH links into the stored corpus,
    a bounded CC pass merges new docs into existing clusters (and
    merges clusters a batch doc bridges), and only the touched cluster
    buckets rewrite, all under one atomic manifest commit.

    At-least-once safe exactly like the BM25/IVF ingest sink: the
    append's content-derived batch key makes a replayed micro-batch a
    committed no-op, and a crash before the manifest commit leaves
    invisible staged dirs the retry overwrites. The final streamed
    index equals ensure_dedup_index over the union of all batches
    (append == rebuild invariant, pinned by
    test_streaming_dedup_index_ingest).

    The index must already exist (ensure_dedup_index over the initial
    corpus — possibly empty-ish first batch)."""
    from commercial_rfp_data_pipeline_spark.plans.dedup_index import (
        append_to_dedup_index,
    )

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        batch = bdf.select("doc_id", "text")
        if batch.isEmpty():
            return
        append_to_dedup_index(spark, warehouse, batch)
        if on_batch_written is not None:
            on_batch_written(batch_id)

    return (
        docs.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def curated_ingest_sink(
    docs: DataFrame,
    spark: SparkSession,
    store_path: str,
    checkpoint: str,
    min_votes: int = 3,
    on_batch_written=None,
):
    """The streaming twin of the curation pipeline: each micro-batch is
    GATED by the four-signal quality ensemble
    (textops.quality_ensemble_signals — oracle-checked by the
    `quality_signal_ensemble` batch query), then admitted through the
    same exactly-once dedup discipline as
    streaming/sinks.dedup_ingest_sink: content fingerprint, in-batch
    keep-first, anti-join against every fingerprint already in the
    store EXCLUDING the in-flight batch_id, and an idempotent
    per-batch-directory overwrite — so a replayed batch recomputes the
    identical survivor set and overwrites itself.

    The store therefore contains exactly the gate-surviving, novel
    documents in arrival order, equal to running the batch gate +
    sequential dedup over the same batches (pinned by
    test_curated_ingest_matches_batch_reference).

    Scale: gate cost is per-batch linear; the admission anti-join scans
    the store's one fingerprint column."""
    import os

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from commercial_rfp_data_pipeline_spark.operators.textops import (
        quality_ensemble_signals,
    )

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        batch = bdf.select("doc_id", "text")
        if batch.isEmpty():
            return
        kept = batch.join(
            quality_ensemble_signals(batch)
            .filter(F.col("n_votes") >= min_votes)
            .select("doc_id"),
            "doc_id",
        )
        fp = F.md5(
            F.lower(
                F.trim(
                    F.regexp_replace(F.col("text").cast("string"), r"\s+", " ")
                )
            )
        )
        w = Window.partitionBy("fp").orderBy("doc_id")
        deduped = (
            kept.withColumn("fp", fp)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        if _prior_store_batches(store_path, batch_id):
            store = (
                read_parquet(spark, store_path)
                .filter(F.col("batch_id") != batch_id)
                .select("fp")
            )
            novel = deduped.join(store, "fp", "left_anti")
        else:  # first batch (or its replay): nothing committed to check
            novel = deduped
        novel.write.mode("overwrite").parquet(
            os.path.join(store_path, f"batch_id={batch_id}")
        )
        if on_batch_written is not None:
            on_batch_written(batch_id)

    return (
        docs.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _simhash_band_table(sh: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, sh_hi, sh_lo, band, val) from a simhash-fingerprint frame —
    the band-LSH form both sides of a cross-frame near-dup join use.
    Mirrors the packing inside textops.simhash_pairs (two 32-bit
    halves: a single 64-bit conv overflows long)."""
    from pyspark.sql import functions as F

    from commercial_rfp_data_pipeline_spark.operators.textops import (
        SIMHASH_BANDS,
        SIMHASH_BITS,
    )

    band_len = SIMHASH_BITS // SIMHASH_BANDS
    half = SIMHASH_BITS // 2
    packed = sh.withColumn(
        "sh_hi", F.conv(F.substring("simhash", 1, half), 2, 10).cast("long")
    ).withColumn(
        "sh_lo",
        F.conv(F.substring("simhash", half + 1, half), 2, 10).cast("long"),
    )
    bvals = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.substring(
                    "simhash", b * band_len + 1, band_len
                ).alias("val"),
            )
            for b in range(SIMHASH_BANDS)
        ]
    )
    return packed.select(
        F.col(id_col), "sh_hi", "sh_lo", F.explode(bvals).alias("bv")
    ).select(
        id_col,
        "sh_hi",
        "sh_lo",
        F.col("bv.band").alias("band"),
        F.col("bv.val").alias("val"),
    )


def neardup_ingest_sink(
    docs: DataFrame,
    spark: SparkSession,
    store_path: str,
    checkpoint: str,
    max_hamming: int = 3,
    on_batch_written=None,
):
    """NEAR-duplicate-rejecting corpus ingest — the production upgrade
    over exact-fingerprint admission (sinks.dedup_ingest_sink catches
    byte/whitespace dups; this one catches REWRITES): each micro-batch
    is SimHash-fingerprinted, collapsed to one canonical doc per
    in-batch near-dup cluster (banded pairs -> connected components ->
    min-id canonical), then band-joined against the fingerprints
    already in the store — a batch doc within ``max_hamming`` of ANY
    stored doc is rejected. The store invariant: no two admitted docs
    are ever within ``max_hamming`` of each other.

    Exactly-once under replay: same discipline as the other ingest
    sinks — per-batch ``batch_id=N`` dir overwrite, store-side read
    EXCLUDES the in-flight batch_id, and every step is deterministic,
    so a replayed batch recomputes the identical admission set.

    Scale: fingerprints are one groupBy(doc) aggregate per batch; the
    store check shuffles on (band, value) buckets — candidate volume
    is bucket-occupancy-bounded, never batch x store; in-batch CC runs
    on the batch's own pairs only."""
    import os

    from pyspark.sql import functions as F

    from commercial_rfp_data_pipeline_spark.operators.dedup import (
        dup_clusters,
    )
    from commercial_rfp_data_pipeline_spark.operators.textops import (
        simhash,
        simhash_pairs,
    )

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        batch = bdf.select("doc_id", "text")
        if batch.isEmpty():
            return
        sh = simhash(batch)
        # one canonical per in-batch near-dup cluster
        pairs = simhash_pairs(sh, max_hamming=max_hamming)
        clusters = dup_clusters(batch.select("doc_id"), pairs)
        canon = clusters.filter(
            F.col("doc_id") == F.col("cluster_id")
        ).select("doc_id")
        survivors = batch.join(canon, "doc_id").join(
            sh.select("doc_id", "simhash"), "doc_id"
        )
        if _prior_store_batches(store_path, batch_id):
            store_sh = (
                read_parquet(spark, store_path)
                .filter(F.col("batch_id") != batch_id)
                .select("doc_id", "simhash")
            )
            sb = _simhash_band_table(
                survivors.select("doc_id", "simhash")
            ).withColumnRenamed("doc_id", "b_id")
            st = _simhash_band_table(store_sh).withColumnRenamed(
                "doc_id", "s_id"
            )
            ham = F.bit_count(
                F.col("sb.sh_hi").bitwiseXOR(F.col("st.sh_hi"))
            ) + F.bit_count(F.col("sb.sh_lo").bitwiseXOR(F.col("st.sh_lo")))
            hit = (
                sb.alias("sb")
                .join(
                    st.alias("st"),
                    (F.col("sb.band") == F.col("st.band"))
                    & (F.col("sb.val") == F.col("st.val")),
                )
                .filter(ham <= max_hamming)
                .select(F.col("b_id").alias("doc_id"))
                .distinct()
            )
            novel = survivors.join(hit, "doc_id", "left_anti")
        else:  # first batch (or its replay): nothing committed to check
            novel = survivors
        novel.write.mode("overwrite").parquet(
            os.path.join(store_path, f"batch_id={batch_id}")
        )
        if on_batch_written is not None:
            on_batch_written(batch_id)

    return (
        docs.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
