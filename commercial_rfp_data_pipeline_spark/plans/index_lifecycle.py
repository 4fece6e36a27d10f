"""Vector-index lifecycle (SURVEY.md §2.11): the reference's
chunk -> embed -> index pipeline with idempotent-ensure and
reset-and-rebuild semantics
(commercial_rfp_indexer.py:256-263;
commercial_rfp_delete_index_files_and_reset_indexer.py:27-66).

Spark-first: the "index" is a pair of warehouse tables (chunks,
embeddings) built lazily and materialized with overwrite; reset = the
same overwrite (the reference's delete-all-then-reindex collapses into
one atomic rewrite); search = broadcast-query exact KNN over the
embeddings table (the reference's exhaustive-KNN profile), with the
LSH path available for scale.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from commercial_rfp_data_pipeline_spark.io import load_table, read_parquet
from commercial_rfp_data_pipeline_spark.operators.chunking import chunk_text
from commercial_rfp_data_pipeline_spark.operators.embedder import HashedBowEmbedder
from commercial_rfp_data_pipeline_spark.operators.vector import knn_exact

CHUNK_SIZE, CHUNK_OVERLAP = 120, 30  # test-scale; reference 2000/500


def build_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return chunk_text(docs, size=CHUNK_SIZE, overlap=CHUNK_OVERLAP)


def _spread(chunks: DataFrame) -> DataFrame:
    """Embedding is compute-bound per row; a small source file scans as
    1-2 partitions, serializing the whole job. Repartition to the
    session's parallelism — the shuffled payload is just chunk text
    (bytes ≈ input size, cheap next to the per-token hashing), and the
    exchange doubles as an optimizer barrier so the embedding
    expression is planned against plain attributes."""
    sc = chunks.sparkSession.sparkContext
    return chunks.repartition(sc.defaultParallelism)


def build_embeddings(chunks: DataFrame, dim: int = 64) -> DataFrame:
    return HashedBowEmbedder(dim=dim).embed(
        _spread(chunks), text_col="chunk", id_col="chunk_id"
    )


def build_embedding_parts(chunks: DataFrame, dim: int = 64) -> DataFrame:
    """(chunk_id, _arr, _norm) pre-normalization form — lets consumers
    that re-shape the vector (e.g. posexplode to scalars) normalize
    AFTER the reshape, keeping every planned expression small."""
    return HashedBowEmbedder(dim=dim).embed_parts(
        _spread(chunks), text_col="chunk", id_col="chunk_id"
    )


def ensure_index(spark: SparkSession, sf_dir: str, warehouse: str) -> tuple[str, str]:
    """Idempotent ensure-exists for both tables (indexer:67-83 shape)."""
    chunks_path = os.path.join(warehouse, "chunks")
    emb_path = os.path.join(warehouse, "embeddings")
    for path, builder in (
        (chunks_path, lambda: build_chunks(spark, sf_dir)),
        (emb_path, lambda: build_embeddings(build_chunks(spark, sf_dir))),
    ):
        try:
            read_parquet(spark, path).limit(1).collect()
        except Exception:
            builder().write.mode("overwrite").parquet(path)
    return chunks_path, emb_path


def reset_and_rebuild(spark: SparkSession, sf_dir: str, warehouse: str) -> None:
    """delete_index:27-66 collapses to an atomic overwrite of both
    tables — no paged 1000-doc delete loop needed under Spark's sink
    model."""
    build_chunks(spark, sf_dir).write.mode("overwrite").parquet(
        os.path.join(warehouse, "chunks")
    )
    build_embeddings(build_chunks(spark, sf_dir)).write.mode("overwrite").parquet(
        os.path.join(warehouse, "embeddings")
    )


def ensure_ivf_index(
    spark: SparkSession, sf_dir: str, warehouse: str, n_centroids: int = 16
) -> tuple[str, str]:
    """Durable IVF index over the chunk embeddings: a centroid table
    plus the corpus assignment written ``partitionBy(cent_id)`` — the
    partition layout IS the index. Probing then reads only the probed
    cells' files (static partition pruning on cent_id), so repeated
    queries never rescan the corpus; at 100 TB this is the artifact an
    ANN service keeps between runs. Idempotent like ensure_index."""
    from commercial_rfp_data_pipeline_spark.operators.vector import (
        ivf_assign,
        ivf_centroids,
    )

    _, emb_path = ensure_index(spark, sf_dir, warehouse)
    cents_path = os.path.join(warehouse, "ivf_centroids")
    cells_path = os.path.join(warehouse, "ivf_cells")
    try:
        read_parquet(spark, cents_path).limit(1).collect()
        read_parquet(spark, cells_path).limit(1).collect()
    except Exception:
        emb = read_parquet(spark, emb_path)
        ivf_centroids(
            emb, n_centroids, id_col="chunk_id", vec_col="embedding"
        ).write.mode("overwrite").parquet(cents_path)
        cents = read_parquet(spark, cents_path)
        ivf_assign(
            emb, n_centroids, id_col="chunk_id", vec_col="embedding", cents=cents
        ).write.mode("overwrite").partitionBy("cent_id").parquet(cells_path)
    return cents_path, cells_path


def ivf_search_index(
    spark: SparkSession,
    warehouse: str,
    query_texts: list[str],
    nprobe: int = 2,
    k: int = 5,
) -> DataFrame:
    """Probe the materialized IVF index: embed the query strings, pick
    each query's ``nprobe`` nearest centroids, then scan ONLY those
    cells' partitions (the probe list is tiny by construction —
    n_queries x nprobe ids — so collecting it to build a static
    partition filter is the right call) and rank exactly within."""
    from commercial_rfp_data_pipeline_spark.operators.vector import ivf_search

    cents = read_parquet(spark, os.path.join(warehouse, "ivf_centroids"))
    qdf = spark.createDataFrame(
        [(f"q{i}", t) for i, t in enumerate(query_texts)], "q_id string, qtext string"
    )
    qvec = (
        HashedBowEmbedder()
        .embed(qdf, text_col="qtext", id_col="q_id")
        .select("q_id", F.col("embedding").alias("q_vec"))
    )
    from commercial_rfp_data_pipeline_spark.operators.vector import _dot, _norm

    qn = qvec.withColumn("_qn", _norm(F.col("q_vec")))
    scored = qn.crossJoin(F.broadcast(cents)).select(
        "q_id",
        "cent_id",
        F.round(
            _dot(F.col("q_vec"), F.col("cent_vec")) / (F.col("_qn") * F.col("_cn")), 6
        ).alias("probe_sim"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.col("probe_sim").desc(), F.col("cent_id"))
    probe_ids = [
        r.cent_id
        for r in scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= nprobe)
        .select("cent_id")
        .distinct()
        .collect()
    ]
    cells = (
        read_parquet(spark, os.path.join(warehouse, "ivf_cells"))
        .filter(F.col("cent_id").isin(probe_ids))
        .select("chunk_id", "embedding", "cent_id", "_n")
    )
    return ivf_search(
        None,
        qvec,
        nprobe=nprobe,
        k=k,
        id_col="chunk_id",
        vec_col="embedding",
        cents=cents,
        assigned=cells,
    )


def append_to_ivf_index(
    spark: SparkSession,
    warehouse: str,
    new_docs: DataFrame,
) -> None:
    """INCREMENTAL index update — the op an ANN service runs on every
    ingest batch instead of a full rebuild: chunk + embed the new
    documents, assign them to the EXISTING (frozen) centroids, and
    append into the partitioned cell layout. Because assignment
    depends only on the centroid table, appended cells are
    bit-identical to what a from-scratch rebuild over the union would
    produce with the same centroids — probing needs no awareness that
    the index grew. (Centroid RETRAINING is a separate, deliberate
    rebuild: re-running ensure_ivf_index after deleting the index dir;
    freezing centroids between retrains is exactly how IVF services
    amortize k-means.)"""
    from commercial_rfp_data_pipeline_spark.operators.vector import ivf_assign
    from commercial_rfp_data_pipeline_spark.operators.chunking import chunk_text

    cents = read_parquet(spark, os.path.join(warehouse, "ivf_centroids"))
    chunks = chunk_text(new_docs, size=CHUNK_SIZE, overlap=CHUNK_OVERLAP)
    emb = build_embeddings(chunks)
    assigned = ivf_assign(
        emb, id_col="chunk_id", vec_col="embedding", cents=cents
    ).select("chunk_id", "embedding", "cent_id", "_n")
    assigned.write.mode("append").partitionBy("cent_id").parquet(
        os.path.join(warehouse, "ivf_cells")
    )


def append_to_ivf_index_reconciled(
    spark: SparkSession, warehouse: str, new_docs: DataFrame
) -> int:
    """Replay-IDEMPOTENT incremental IVF append — the variant an
    at-least-once scheduler (Structured Streaming ``foreachBatch``)
    must use: ``append_to_ivf_index``'s blind ``mode("append")``
    doubles rows when a batch replays after a crash. This one assigns
    under the frozen centroids exactly like the batch op, then
    RECONCILES before writing: chunk_ids already present in the
    touched cells (a partition-pruned read — only the <= k cells this
    batch lands in) are anti-joined away and only the complement is
    appended. Convergent under both failure modes of at-least-once
    delivery: a full replay appends nothing, and a crash that left a
    PARTIAL batch (parquet task commits are per-file atomic, so the
    committed subset is a clean prefix of the batch's files) is
    repaired by appending exactly the missing rows. Appended rows stay
    in the ONE partitioned cell layout, so search, drift reporting,
    and bounded re-clustering (``ivf_maintain``) compose with streamed
    data unchanged. Returns the number of rows actually appended."""
    from commercial_rfp_data_pipeline_spark.operators.chunking import chunk_text
    from commercial_rfp_data_pipeline_spark.operators.vector import ivf_assign

    cells_path = os.path.join(warehouse, "ivf_cells")
    cents = read_parquet(spark, os.path.join(warehouse, "ivf_centroids"))
    chunks = chunk_text(new_docs, size=CHUNK_SIZE, overlap=CHUNK_OVERLAP)
    emb = build_embeddings(chunks)
    assigned = ivf_assign(
        emb, id_col="chunk_id", vec_col="embedding", cents=cents
    ).select("chunk_id", "embedding", "cent_id", "_n")
    touched = [
        r.cent_id for r in assigned.select("cent_id").distinct().collect()
    ]
    existing = (
        read_parquet(spark, cells_path)
        .filter(F.col("cent_id").isin(touched))
        .select("chunk_id")
    )
    # materialize BEFORE the write: the plan reads the same path it
    # appends to, so the reconciliation must be pinned first
    fresh = assigned.join(existing, "chunk_id", "left_anti").localCheckpoint()
    n = fresh.count()
    if n:
        fresh.write.mode("append").partitionBy("cent_id").parquet(cells_path)
    return n


def search(
    spark: SparkSession, warehouse: str, query_texts: list[str], k: int = 5
) -> DataFrame:
    """Query-time vectorizer + exhaustive KNN (indexer:119-136): embed
    the query strings with the same embedder, top-k over the stored
    embeddings table."""
    emb = read_parquet(spark, os.path.join(warehouse, "embeddings"))
    qdf = spark.createDataFrame(
        [(f"q{i}", t) for i, t in enumerate(query_texts)], "q_id string, qtext string"
    )
    qvec = HashedBowEmbedder().embed(qdf, text_col="qtext", id_col="q_id")
    return knn_exact(
        emb,
        qvec.select(F.col("q_id"), F.col("embedding").alias("q_vec")),
        k=k,
        id_col="chunk_id",
        vec_col="embedding",
    )


def ensure_graph_index(
    spark: SparkSession,
    sf_dir: str,
    warehouse: str,
    m: int = 8,
    n_src_buckets: int = 8,
) -> str:
    """Durable navigable-graph ANN index (the HNSW-analogue of
    ensure_ivf_index): the exact m-NN graph written
    ``partitionBy(src_bucket)`` with src_bucket = pmod(xxhash64(src_id),
    n_src_buckets) — the partition layout IS the adjacency index, so a
    beam-search hop reads only the buckets its frontier nodes hash
    into. Idempotent like the other ensure_* builders."""
    from commercial_rfp_data_pipeline_spark.operators.vector import knn_graph

    graph_path = os.path.join(warehouse, "knn_graph")
    try:
        read_parquet(spark, graph_path).limit(1).collect()
    except Exception:
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        )
        (
            knn_graph(emb, m=m)
            .withColumn(
                "src_bucket", F.pmod(F.xxhash64(F.col("src_id")), F.lit(n_src_buckets))
            )
            .write.mode("overwrite")
            .partitionBy("src_bucket")
            .parquet(graph_path)
        )
    return graph_path


def graph_search_index(
    spark: SparkSession,
    sf_dir: str,
    warehouse: str,
    k: int = 5,
    ef: int = 16,
    rounds: int = 4,
    n_src_buckets: int = 8,
) -> DataFrame:
    """Beam-search the DURABLE graph index: per hop, collect the beam's
    node ids (n_queries x ef — the same tiny-probe-list exception as
    the IVF index), prune the adjacency read to their src_buckets
    (static partition pruning) and their src_ids (row-group pushdown),
    then rescore candidates against broadcast query vectors. This is
    the on-disk serving shape: at 100 TB the graph never loads — each
    hop touches a handful of bucket files."""
    from commercial_rfp_data_pipeline_spark.operators.vector import _dot, _norm
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("_v"),
    )
    vecs = emb.withColumn("_n", _norm(F.col("_v")))
    qn = (
        emb.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("q_id"), F.col("_v").alias("_qv"))
        .withColumn("_qn", _norm(F.col("_qv")))
    )
    graph_path = os.path.join(warehouse, "knn_graph")
    entry = vecs.select(F.min("vec_id").alias("vec_id"))
    beam = qn.select("q_id").crossJoin(F.broadcast(entry))
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("vec_id"))
    for _ in range(rounds):
        frontier = [r.vec_id for r in beam.select("vec_id").distinct().collect()]
        buckets = _xxhash_buckets(spark, frontier, n_src_buckets)
        edges = (
            read_parquet(spark, graph_path)
            .filter(F.col("src_bucket").isin(buckets))
            .filter(F.col("src_id").isin(frontier))
            .select("src_id", "nbr_id")
        )
        expanded = edges.join(
            F.broadcast(beam.withColumnRenamed("vec_id", "src_id")), "src_id"
        ).select("q_id", F.col("nbr_id").alias("vec_id"))
        cand = beam.select("q_id", "vec_id").union(expanded).distinct()
        scored = (
            cand.join(vecs, "vec_id")
            .join(F.broadcast(qn), "q_id")
            .select(
                "q_id",
                "vec_id",
                F.round(
                    _dot(F.col("_v"), F.col("_qv")) / (F.col("_n") * F.col("_qn")), 6
                ).alias("sim"),
            )
        )
        beam = (
            scored.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= ef)
            .select("q_id", "vec_id", "sim")
            .localCheckpoint(eager=False)
        )
    return (
        beam.filter(F.col("vec_id") != F.col("q_id"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "vec_id", "sim", F.col("rnk").cast("int").alias("rnk"))
    )


def _xxhash_buckets(
    spark: SparkSession, node_ids: list, n_buckets: int
) -> list:
    """The buckets a frontier's adjacency rows live in — computed with
    the SAME engine expression that wrote the layout (xxhash64 is a
    Spark expression, not a Python-side hash), one tiny local plan per
    hop for the whole frontier."""
    df = spark.createDataFrame([(int(i),) for i in node_ids], "id long")
    rows = df.select(
        F.pmod(F.xxhash64(F.col("id")), F.lit(n_buckets)).alias("b")
    ).distinct().collect()
    return sorted(r.b for r in rows)


# ---- BM25 (keyword) index lifecycle -------------------------------
# The text-index sibling of the IVF lifecycle above. Unlike IVF, BM25's
# global statistics (df, n_docs, avgdl) CHANGE with every append, so
# the layout keys every table by the batch that produced it and commits
# through a manifest (the mini Delta-log discipline):
#   tf/<key>/    (tok, chunk_id, tf)  -- postings, one dir per batch
#   dl/<key>/    (chunk_id, dl)       -- doc lengths, one dir per batch
#   df/<key>/    (tok, df)            -- merged vocabulary AS OF <key>
#   stats/<key>/ (n_docs, sum_dl)     -- one row, accumulated AS OF <key>
#   MANIFEST.json {batches: [...], df: key, stats: key}
# Readers load ONLY the dirs the manifest lists, so an append is ATOMIC
# (stage every table, then one os.replace of the manifest — a crash at
# any earlier point leaves invisible orphan dirs that the retry simply
# overwrites) and IDEMPOTENT (the batch key is content-derived; a
# replayed append whose key is already in the manifest is a no-op).
# Contract: distinct append batches must carry DISJOINT chunk_ids —
# postings are per-batch contributions, so overlapping ids across two
# different batches would double-count (the same batch replayed is
# safe; a different batch with the same ids is a caller bug).
# Invariant (pytest-pinned): an append produces the same index state —
# and therefore bit-identical search scores — as a full rebuild over
# the union, because every table is a sum of per-batch contributions.


def _bm25_manifest(root: str) -> dict | None:
    try:
        with open(os.path.join(root, "MANIFEST.json")) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _bm25_commit(root: str, manifest: dict) -> None:
    """Single atomic commit point: tmp write + os.replace (POSIX rename
    atomicity) — everything staged before this call is invisible until
    it lands, so no reader ever sees postings without their matching
    df/stats."""
    tmp = os.path.join(root, "MANIFEST.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(root, "MANIFEST.json"))


def _bm25_batch_tables(chunks: DataFrame):
    from commercial_rfp_data_pipeline_spark.operators.textops import words

    toks = chunks.select(
        "chunk_id", F.explode(words("chunk")).alias("tok")
    ).filter(F.length("tok") > 0)
    tf = toks.groupBy("tok", "chunk_id").agg(F.count(F.lit(1)).alias("tf"))
    dl = toks.groupBy("chunk_id").agg(F.count(F.lit(1)).alias("dl"))
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    return tf, dl, df


def ensure_bm25_index(
    spark: SparkSession, docs: DataFrame, warehouse: str
) -> str:
    """Build the durable BM25 index from scratch (idempotent: returns
    the existing index untouched if present)."""
    root = os.path.join(warehouse, "bm25")
    if _bm25_manifest(root) is not None:
        return root
    chunks = chunk_text(docs, size=CHUNK_SIZE, overlap=CHUNK_OVERLAP)
    tf, dl, df = _bm25_batch_tables(chunks)
    key = "base"
    tf.write.mode("overwrite").parquet(os.path.join(root, "tf", key))
    dl.write.mode("overwrite").parquet(os.path.join(root, "dl", key))
    df.write.mode("overwrite").parquet(os.path.join(root, "df", key))
    dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    ).write.mode("overwrite").parquet(os.path.join(root, "stats", key))
    _bm25_commit(root, {"batches": [key], "df": key, "stats": key})
    return root


def append_to_bm25_index(
    spark: SparkSession, warehouse: str, new_docs: DataFrame
) -> None:
    """INCREMENTAL text-index update — the per-ingest-batch op a search
    service runs instead of re-indexing the corpus: the batch's postings
    and doc lengths land as new per-batch dirs (immutable, never
    rewritten), the vocabulary-sized df table merges into a NEW version
    dir (full-outer sum — |vocab| rows, not corpus rows), the one-row
    stats accumulate into a new version dir, and the whole batch becomes
    visible through ONE atomic manifest replace. A crash at any earlier
    point leaves orphan dirs no reader loads; re-running the same append
    (retry, at-least-once scheduler) is a no-op because the batch key is
    derived from the batch's content. Every table is a sum of per-batch
    contributions, so the result is IDENTICAL to a from-scratch rebuild
    over the union (pytest pins score equality) — the property that
    makes incremental maintenance safe to run forever without drift."""
    root = os.path.join(warehouse, "bm25")
    manifest = _bm25_manifest(root)
    if manifest is None:
        raise ValueError(
            f"append_to_bm25_index: no index at {root} — run "
            "ensure_bm25_index first"
        )
    chunks = chunk_text(new_docs, size=CHUNK_SIZE, overlap=CHUNK_OVERLAP)
    tf, dl, df_new = _bm25_batch_tables(chunks)
    # content-derived batch key: order-insensitive over chunk_ids, so
    # the same batch re-submitted through any partitioning replays to
    # the same key and is dropped as already-applied
    sig = dl.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("chunk_id")).alias("h"),
        F.sum("dl").alias("s"),
    ).collect()[0]
    key = hashlib.md5(f"{sig['n']}:{sig['h']}".encode()).hexdigest()[:16]
    if key in manifest["batches"]:
        return  # replayed append — already committed, no-op
    # stage (overwrite clears partials from a previously crashed attempt)
    tf.write.mode("overwrite").parquet(os.path.join(root, "tf", key))
    dl.write.mode("overwrite").parquet(os.path.join(root, "dl", key))
    df_old = read_parquet(spark, os.path.join(root, "df", manifest["df"]))
    (
        df_old.select("tok", F.col("df").alias("df_a"))
        .join(df_new.select("tok", F.col("df").alias("df_b")), "tok", "full_outer")
        .select(
            "tok",
            (F.coalesce("df_a", F.lit(0)) + F.coalesce("df_b", F.lit(0))).alias("df"),
        )
    ).write.mode("overwrite").parquet(os.path.join(root, "df", key))
    stats_old = read_parquet(
        spark,
        os.path.join(root, "stats", manifest["stats"])
    ).collect()[0]
    spark.createDataFrame(
        [(stats_old["n_docs"] + sig["n"], stats_old["sum_dl"] + sig["s"])],
        "n_docs long, sum_dl long",
    ).write.mode("overwrite").parquet(os.path.join(root, "stats", key))
    _bm25_commit(
        root,
        {"batches": manifest["batches"] + [key], "df": key, "stats": key},
    )


def bm25_tables(spark: SparkSession, warehouse: str):
    """Manifest-resolved view of the live index state:
    (tf, dl, df, stats) DataFrames over exactly the committed dirs."""
    root = os.path.join(warehouse, "bm25")
    manifest = _bm25_manifest(root)
    if manifest is None:
        raise ValueError(f"bm25_tables: no index at {root}")
    tf = read_parquet(
        spark,
        *[os.path.join(root, "tf", k) for k in manifest["batches"]]
    )
    dl = read_parquet(
        spark,
        *[os.path.join(root, "dl", k) for k in manifest["batches"]]
    )
    df = read_parquet(spark, os.path.join(root, "df", manifest["df"]))
    stats = read_parquet(spark, os.path.join(root, "stats", manifest["stats"]))
    return tf, dl, df, stats


def bm25_search_index(
    spark: SparkSession,
    warehouse: str,
    query_terms: list[str],
    k: int = 5,
    max_df_frac: float = 0.5,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Serve a term query from the durable index: df-capped terms pull
    their postings only (an equi-join on tok — the probed rows, never
    the corpus), Robertson-smooth idf x tf saturation per posting, one
    candidate-bounded sum, top-k."""
    # readers load ONLY manifest-listed dirs — orphans from crashed
    # appends are invisible by construction
    tf, dl, df, stats_df = bm25_tables(spark, warehouse)
    stats = stats_df.collect()[0]
    n_docs, avgdl = stats["n_docs"], stats["sum_dl"] / stats["n_docs"]
    terms = spark.createDataFrame([(t,) for t in query_terms], "tok string")
    cand = (
        tf.join(F.broadcast(terms), "tok")
        .join(F.broadcast(df.join(F.broadcast(terms), "tok")), "tok")
        .filter(F.col("df") <= n_docs * max_df_frac)
        .join(dl, "chunk_id")
    )
    contrib = cand.select(
        "chunk_id",
        (
            F.log(1 + (n_docs - F.col("df") + 0.5) / (F.col("df") + 0.5))
            * F.col("tf")
            * (k1 + 1)
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / avgdl))
        ).alias("c"),
    )
    return (
        contrib.groupBy("chunk_id")
        .agg(F.round(F.sum("c"), 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "chunk_id")
        .limit(k)
    )


# ---- semantic cache (serving-path result reuse) --------------------
# Durable (query-embedding -> result) store: an incoming query whose
# embedding matches a cached one at >= threshold cosine serves the
# STORED result without touching the search pipeline; misses fall
# through and their fresh results are appended for the next caller.
# Same commit discipline as the BM25 index: per-batch entry dirs,
# content-derived batch keys, one atomic manifest replace — appends
# are crash-safe and replay-idempotent (_bm25_manifest/_bm25_commit
# are root-generic and reused verbatim).


def semantic_cache_put(
    spark: SparkSession, warehouse: str, entries: DataFrame
) -> None:
    """Append (cache_id, q_vec, result_id, result_sim) rows. The batch
    key derives from the entry ids (order-insensitive), so re-putting
    the same batch — an at-least-once serving loop retrying — is a
    committed-state no-op. Distinct batches must carry disjoint
    cache_ids (same contract as BM25 postings)."""
    root = os.path.join(warehouse, "semcache")
    manifest = _bm25_manifest(root) or {"batches": []}
    sig = entries.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("cache_id")).alias("h"),
    ).collect()[0]
    key = hashlib.md5(f"{sig['n']}:{sig['h']}".encode()).hexdigest()[:16]
    if key in manifest["batches"]:
        return
    entries.write.mode("overwrite").parquet(
        os.path.join(root, "entries", key)
    )
    _bm25_commit(root, {"batches": manifest["batches"] + [key]})


def semantic_cache_entries(spark: SparkSession, warehouse: str) -> DataFrame:
    """Manifest-resolved live cache (empty frame if never written)."""
    root = os.path.join(warehouse, "semcache")
    manifest = _bm25_manifest(root)
    schema = (
        "cache_id long, q_vec array<double>, result_id long, "
        "result_sim double"
    )
    if manifest is None or not manifest["batches"]:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(
        *[os.path.join(root, "entries", k) for k in manifest["batches"]]
    )


def semantic_cache_lookup(
    spark: SparkSession,
    warehouse: str,
    queries: DataFrame,
    threshold: float = 0.98,
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Match incoming query embeddings against the cache: per query,
    the best cached entry by cosine (max_by, ties to the lower
    cache_id) with ``hit = sim >= threshold`` and the stored result for
    hits (null served_id on a miss — the caller falls through to the
    real search and should put() the fresh result back).

    Shape at scale: the cache is the SMALL side by design (bounded by
    what's worth caching) — broadcast into the incoming query stream,
    one narrow argmax, no shuffle of the corpus at all. That is the
    entire economics of a semantic cache: a hit costs |cache| dot
    products instead of a corpus-wide search."""
    from commercial_rfp_data_pipeline_spark.operators.vector import _dot, _norm

    cache = semantic_cache_entries(spark, warehouse).withColumn(
        "_cn", _norm(F.col("q_vec"))
    )
    qn = queries.select(
        F.col(q_id_col).alias("q_id"), F.col(q_vec_col).alias("_qv")
    ).withColumn("_qn", _norm(F.col("_qv")))
    sim = F.round(
        _dot(F.col("_qv"), F.col("q_vec")) / (F.col("_qn") * F.col("_cn")), 6
    )
    scored = qn.join(F.broadcast(cache)).select(
        "q_id", "cache_id", "result_id", sim.alias("sim")
    )
    best = scored.groupBy("q_id").agg(
        F.max_by(
            F.struct("cache_id", "result_id", "sim"),
            F.struct(F.col("sim"), (-F.col("cache_id")).alias("_neg")),
        ).alias("_b")
    )
    hit = F.col("_b.sim") >= F.lit(threshold)
    matched = best.select(
        "q_id",
        F.col("_b.cache_id").alias("cache_id"),
        F.col("_b.sim").alias("cache_sim"),
        hit.alias("hit"),
        F.when(hit, F.col("_b.result_id")).alias("served_id"),
    )
    # every incoming query gets a row — an empty or undersized cache
    # reads as misses, not as vanished queries
    return qn.select("q_id").join(matched, "q_id", "left").select(
        "q_id",
        "cache_id",
        "cache_sim",
        F.coalesce("hit", F.lit(False)).alias("hit"),
        "served_id",
    )


# ---- IVF maintenance: drift detection + bounded re-cluster ---------
# append_to_ivf_index assigns new vectors to FROZEN centroids — cheap,
# but an append-heavy workload whose new vectors don't match the
# trained density (new domain, new modality) piles them into whatever
# cells are least-bad, recall decays, and the classic fix is a full
# retrain. These two functions are the bounded middle path an ANN
# service actually runs: measure per-cell drift (cosine between the
# stored centroid and its members' current mean), then re-Lloyd ONLY
# the drifted cells over ONLY their members and rewrite ONLY those
# partitions (dynamic partition overwrite) — never touching the
# healthy majority of the index.


def ivf_cell_drift(spark: SparkSession, warehouse: str) -> DataFrame:
    """Per-cell drift report: (cent_id, n_members, drift) where drift
    = 1 - cos(centroid, member mean), rounded 6dp. A freshly trained
    cell sits near 0 (its centroid IS a member mean); appended mass
    pulls the mean away. One corpus scan, k x dim aggregate — the
    cheap health check to run after every append batch."""
    from commercial_rfp_data_pipeline_spark.operators.vector import _dot, _norm

    cents = read_parquet(spark, os.path.join(warehouse, "ivf_centroids"))
    cells = read_parquet(spark, os.path.join(warehouse, "ivf_cells"))
    comp = cells.select("cent_id", F.posexplode("embedding").alias("idx", "x"))
    means = (
        comp.groupBy("cent_id", "idx")
        .agg(F.round(F.avg("x"), 6).alias("m"))
        .groupBy("cent_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "m"))),
                lambda s: s["m"],
            ).alias("mean_vec")
        )
    )
    counts = cells.groupBy("cent_id").agg(F.count(F.lit(1)).alias("n_members"))
    j = cents.join(means, "cent_id").join(counts, "cent_id")
    cos = _dot(F.col("cent_vec"), F.col("mean_vec")) / (
        _norm(F.col("cent_vec")) * _norm(F.col("mean_vec"))
    )
    return j.select(
        "cent_id",
        "n_members",
        F.round(F.lit(1.0) - cos, 6).alias("drift"),
    )


def ivf_maintain(
    spark: SparkSession,
    warehouse: str,
    drift_threshold: float = 0.05,
    lloyd_rounds: int = 2,
) -> dict:
    """Bounded re-cluster of drifted cells: the drifted centroids are
    re-Lloyd'd over the union of THEIR members only (init = current
    centroids, fixed rounds, same deterministic max_by/mean arithmetic
    as ivf_centroids), members re-partition among the NEW drifted-
    family centroids, and dynamic partition overwrite rewrites exactly
    the drifted cent_id partitions. Healthy cells: untouched files,
    untouched centroid rows. Returns {"n_drifted", "n_reassigned",
    "drifted_ids"}.

    Scale: cost is proportional to the drifted mass, not the index —
    the whole point versus a retrain. The centroid table rewrite is k
    rows (collected, race-free against its own read)."""
    from commercial_rfp_data_pipeline_spark.operators.vector import _dot, _norm

    cents_path = os.path.join(warehouse, "ivf_centroids")
    cells_path = os.path.join(warehouse, "ivf_cells")
    drifted_ids = [
        r.cent_id
        for r in ivf_cell_drift(spark, warehouse)
        .filter(F.col("drift") > drift_threshold)
        .collect()
    ]
    if not drifted_ids:
        return {"n_drifted": 0, "n_reassigned": 0, "drifted_ids": []}

    cents_schema = read_parquet(spark, cents_path).schema
    cid_type = next(
        f.dataType.simpleString()
        for f in cents_schema
        if f.name == "cent_id"
    )
    cents_rows = read_parquet(spark, cents_path).collect()
    members = read_parquet(spark, cells_path).filter(
        F.col("cent_id").isin(drifted_ids)
    ).select("chunk_id", "embedding", "_n")
    # cent_id inherits the corpus id type (long for the embeddings
    # table, STRING for chunk-text ids like '41_1') — infer it from
    # the stored table instead of assuming long
    fam_init = spark.createDataFrame(
        [
            (r["cent_id"], [float(x) for x in r["cent_vec"]])
            for r in cents_rows
            if r["cent_id"] in set(drifted_ids)
        ],
        f"cent_id {cid_type}, cent_vec array<double>",
    )
    fam = fam_init.withColumn("_cn", _norm(F.col("cent_vec")))
    from pyspark.sql import Window as _W

    def assign(c):
        j = members.crossJoin(F.broadcast(c))
        sim = F.round(
            _dot(F.col("embedding"), F.col("cent_vec"))
            / (F.col("_n") * F.col("_cn")),
            6,
        )
        # argmax by (sim desc, cent_id asc) via a chunk-partitioned
        # rank — type-generic (a -cent_id struct tiebreak needs a
        # numeric id) and deterministic
        w = _W.partitionBy("chunk_id").orderBy(
            F.col("s").desc(), F.col("cent_id")
        )
        return (
            j.select(
                "chunk_id", "embedding", "_n", "cent_id", sim.alias("s")
            )
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("chunk_id", "embedding", "_n", "cent_id")
        )

    for _ in range(max(1, lloyd_rounds)):
        assigned = assign(fam)
        means = (
            assigned.select("cent_id", F.posexplode("embedding").alias("idx", "x"))
            .groupBy("cent_id", "idx")
            .agg(F.round(F.avg("x"), 6).alias("m"))
            .groupBy("cent_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "m"))),
                    lambda s: s["m"],
                ).alias("cent_vec")
            )
        )
        fam = (
            fam_init.select("cent_id", F.col("cent_vec").alias("_iv"))
            .join(means, "cent_id", "left")
            .select("cent_id", F.coalesce("cent_vec", "_iv").alias("cent_vec"))
            .withColumn("_cn", _norm(F.col("cent_vec")))
        )
    final = assign(fam).localCheckpoint()
    n_reassigned = final.count()

    # centroid table: replace the drifted rows (k rows — rebuild from
    # the collected copy, race-free vs the path we overwrite)
    new_fam = {r["cent_id"]: r["cent_vec"] for r in fam.collect()}
    merged = [
        (
            r["cent_id"],
            [float(x) for x in new_fam.get(r["cent_id"], r["cent_vec"])],
        )
        for r in cents_rows
    ]
    out_c = spark.createDataFrame(
        merged, f"cent_id {cid_type}, cent_vec array<double>"
    ).withColumn("_cn", _norm(F.col("cent_vec")))
    out_c.write.mode("overwrite").parquet(cents_path)

    # rewrite ONLY the drifted partitions: members stay within the
    # drifted family by construction, so dynamic overwrite of exactly
    # those cent_id dirs is a complete, bounded commit
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        final.select("chunk_id", "embedding", "_n", "cent_id").write.mode(
            "overwrite"
        ).partitionBy("cent_id").parquet(cells_path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return {
        "n_drifted": len(drifted_ids),
        "n_reassigned": n_reassigned,
        "drifted_ids": sorted(drifted_ids),
    }


# chunk_id = "{parent}_{pos}" (operators/chunking.py) — recover the
# parent document id to purge all of a document's chunks
_CHUNK_PARENT = r"^(.*)_\d+$"


def purge_from_indexes(
    spark: SparkSession,
    warehouse: str,
    doc_ids: list,
    vec_ids: list | None = None,
    emb: DataFrame | None = None,
) -> dict:
    """GDPR erasure reaching the DERIVED artifacts (round 7): the
    cascade-delete family removes a subject's rows from TABLES, but a
    search service also holds the subject's content inside the durable
    BM25 postings and IVF cells — right-to-be-forgotten is not done
    until those are purged too.

    BM25: every manifest-listed batch dir containing a purged doc's
    chunks is re-staged as a filtered COPY under a purge-derived key
    (original dirs are never mutated), the vocabulary df table gets a
    new version with the removed chunks' per-token document counts
    subtracted (tokens dropping to df=0 disappear, matching a
    rebuild), stats decrement by the removed doc-lengths, and the
    whole purge becomes visible through the ONE atomic manifest
    replace — same crash-safety story as appends: orphaned staged dirs
    are invisible, and a replayed purge maps to the same keys and
    commits the same manifest (idempotent).

    IVF: the cells holding purged chunks are found with one
    partition-pruned scan, and ONLY those cent_id partitions are
    rewritten without the purged rows (dynamic partition overwrite —
    healthy cells' files untouched; centroids intentionally keep their
    training, exactly like append/maintain). A hit cell whose rows are
    ALL purged produces no rows for the dynamic overwrite to rewrite,
    so its partition dir is deleted explicitly, and a post-purge scan
    of the hit cells asserts zero purged chunk_ids remain.

    Result equals an index built WITHOUT the purged docs (same frozen
    centroids) — pinned by test_index_purge_equals_rebuild. Returns
    {"bm25_chunks_removed", "ivf_rows_removed", "cells_rewritten"}.

    Scale: cost is proportional to the batches/cells the subject's
    chunks actually live in, never the corpus."""
    ids = sorted({str(d) for d in doc_ids})
    purge_sig = hashlib.md5(",".join(ids).encode()).hexdigest()[:8]
    parent = F.regexp_extract("chunk_id", _CHUNK_PARENT, 1)
    is_purged = parent.isin(ids)

    # ---- BM25 ----
    root = os.path.join(warehouse, "bm25")
    manifest = _bm25_manifest(root)
    if manifest is None:
        raise ValueError(f"purge_from_indexes: no BM25 index at {root}")
    new_batches: list[str] = []
    removed_tf = None
    removed_dl = None
    n_chunks_removed = 0
    for key in manifest["batches"]:
        tf_b = read_parquet(spark, os.path.join(root, "tf", key))
        dl_b = read_parquet(spark, os.path.join(root, "dl", key))
        hit_dl = dl_b.filter(is_purged)
        if hit_dl.limit(1).count() == 0:
            new_batches.append(key)
            continue
        new_key = f"{key}-purge{purge_sig}"
        keep_tf = tf_b.filter(~is_purged)
        keep_dl = dl_b.filter(~is_purged)
        keep_tf.write.mode("overwrite").parquet(
            os.path.join(root, "tf", new_key)
        )
        keep_dl.write.mode("overwrite").parquet(
            os.path.join(root, "dl", new_key)
        )
        hit_tf = tf_b.filter(is_purged)
        removed_tf = hit_tf if removed_tf is None else removed_tf.unionByName(hit_tf)
        removed_dl = hit_dl if removed_dl is None else removed_dl.unionByName(hit_dl)
        new_batches.append(new_key)
    if removed_dl is None:
        bm25_removed = 0
    else:
        removed_dl = removed_dl.localCheckpoint()
        removed_tf = removed_tf.localCheckpoint()
        rem_stats = removed_dl.agg(
            F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")
        ).collect()[0]
        bm25_removed = rem_stats["n"]
        df_key = f"{manifest['df']}-purge{purge_sig}"
        df_old = read_parquet(
            spark,
            os.path.join(root, "df", manifest["df"])
        )
        df_dec = removed_tf.groupBy("tok").agg(
            F.count(F.lit(1)).alias("_dec")
        )
        (
            df_old.join(df_dec, "tok", "left")
            .select(
                "tok",
                (F.col("df") - F.coalesce("_dec", F.lit(0))).alias("df"),
            )
            .filter(F.col("df") > 0)
        ).write.mode("overwrite").parquet(os.path.join(root, "df", df_key))
        stats_key = f"{manifest['stats']}-purge{purge_sig}"
        stats_old = read_parquet(
            spark,
            os.path.join(root, "stats", manifest["stats"])
        ).collect()[0]
        spark.createDataFrame(
            [
                (
                    stats_old["n_docs"] - rem_stats["n"],
                    stats_old["sum_dl"] - rem_stats["s"],
                )
            ],
            "n_docs long, sum_dl long",
        ).write.mode("overwrite").parquet(os.path.join(root, "stats", stats_key))
        _bm25_commit(
            root, {"batches": new_batches, "df": df_key, "stats": stats_key}
        )
        n_chunks_removed = bm25_removed

    # ---- IVF ----
    cells_path = os.path.join(warehouse, "ivf_cells")
    cells = read_parquet(spark, cells_path)
    hit_cells = [
        r.cent_id
        for r in cells.filter(is_purged).select("cent_id").distinct().collect()
    ]
    ivf_removed = 0
    if hit_cells:
        affected = cells.filter(F.col("cent_id").isin(hit_cells))
        keep = affected.filter(~is_purged).localCheckpoint()
        ivf_removed = affected.count() - keep.count()
        prev = spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static"
        )
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            keep.select("chunk_id", "embedding", "_n", "cent_id").write.mode(
                "overwrite"
            ).partitionBy("cent_id").parquet(cells_path)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        # Dynamic overwrite only rewrites partitions PRESENT in the
        # written data: a hit cell whose rows ALL belong to purged
        # docs contributes no rows to `keep`, so its partition dir
        # would survive untouched and keep serving the subject's
        # vectors. Delete those fully-purged cell dirs explicitly,
        # then assert no purged chunk remains in any hit cell.
        kept_cells = {
            r.cent_id for r in keep.select("cent_id").distinct().collect()
        }
        for cid in hit_cells:
            if cid not in kept_cells:
                part_dir = os.path.join(cells_path, f"cent_id={cid}")
                if os.path.isdir(part_dir):
                    shutil.rmtree(part_dir)
        leftover = (
            read_parquet(spark, cells_path)
            .filter(F.col("cent_id").isin(hit_cells) & is_purged)
            .limit(1)
            .count()
        )
        if leftover:
            raise RuntimeError(
                "purge_from_indexes: purged chunk_ids remain in IVF "
                f"cells {hit_cells} after rewrite"
            )
    out = {
        "bm25_chunks_removed": n_chunks_removed,
        "ivf_rows_removed": ivf_removed,
        "cells_rewritten": len(hit_cells),
    }
    # ---- round 8: the purge cascade also reaches the dedup-cluster
    # index (doc-keyed, same warehouse) ...
    if os.path.isdir(os.path.join(warehouse, "dedup", "fp")):
        from commercial_rfp_data_pipeline_spark.plans.dedup_index import (
            purge_from_dedup_index,
        )

        out_ids = [int(d) for d in doc_ids]
        out["dedup_index"] = purge_from_dedup_index(
            spark, warehouse, out_ids
        )
    # ... and the semantic cache and graph ANN index when the
    # subject's vector ids are given (the cache stores result
    # vec_ids; graph nodes ARE vec_ids)
    if vec_ids:
        out["cache_entries_removed"] = purge_from_semantic_cache(
            spark, warehouse, vec_ids
        )
        if emb is not None and os.path.isdir(
            os.path.join(warehouse, "knn_graph")
        ):
            out["graph"] = purge_from_graph_index(
                spark, warehouse, vec_ids, emb
            )
    return out


def purge_from_semantic_cache(
    spark: SparkSession, warehouse: str, result_ids: list
) -> int:
    """Right-to-be-forgotten reaching the SEMANTIC CACHE (round 8,
    VERDICT r7 #4): a purged document could still be SERVED from cache
    entries whose stored result references it. Every manifest batch
    containing a hit is re-staged as a filtered copy under a
    purge-derived key (original dirs never mutated) and the whole purge
    commits through one atomic manifest replace — same crash/replay
    story as the BM25 purge. Post-purge lookups for those queries MISS
    and fall through to a fresh search (which no longer contains the
    subject). Returns the number of entries removed.

    Scale: cost proportional to the batches actually holding hits —
    and the cache is small by design."""
    root = os.path.join(warehouse, "semcache")
    manifest = _bm25_manifest(root)
    if manifest is None:
        return 0
    ids = sorted({int(v) for v in result_ids})
    purge_sig = hashlib.md5(
        ",".join(str(i) for i in ids).encode()
    ).hexdigest()[:8]
    new_batches: list[str] = []
    removed = 0
    for key in manifest["batches"]:
        e = read_parquet(spark, os.path.join(root, "entries", key))
        hits = e.filter(F.col("result_id").isin(ids))
        if hits.limit(1).count() == 0:
            new_batches.append(key)
            continue
        removed += hits.count()
        new_key = f"{key}-purge{purge_sig}"
        e.filter(~F.col("result_id").isin(ids)).write.mode(
            "overwrite"
        ).parquet(os.path.join(root, "entries", new_key))
        new_batches.append(new_key)
    if removed:
        _bm25_commit(root, {"batches": new_batches})
    return removed


def purge_from_graph_index(
    spark: SparkSession,
    warehouse: str,
    vec_ids: list,
    emb: DataFrame,
    m: int = 8,
    n_src_buckets: int = 8,
) -> dict:
    """Right-to-be-forgotten reaching the GRAPH ANN index (round 8,
    VERDICT r7 #4): a purged vector must disappear both as a NODE (its
    adjacency rows) and as a NEIGHBOR (edges pointing at it), and the
    nodes that lost a neighbor are RE-LINKED through the deleted node's
    own neighborhood — the standard navigable-graph delete (connect
    each affected source to the best of the deleted node's other
    neighbors, keeping top-m) so connectivity survives the deletion.

    Bounded rewrite: the purged nodes' adjacency is a partition-pruned
    read of their src_buckets; affected sources (in-degree of the
    purged nodes, ~m on average) are collected, their buckets plus the
    purged buckets are rebuilt, and a bucket left EMPTY (it held only
    purged sources) has its partition dir deleted — the same
    fully-purged-partition discipline as the IVF purge. A replayed
    purge finds no rows mentioning the ids and no-ops.

    ``emb`` supplies (vec_id, embedding) for scoring the re-link
    candidates. Returns counts for nodes_removed / edges_dropped /
    sources_relinked / buckets_rewritten."""
    from commercial_rfp_data_pipeline_spark.operators.vector import (
        _dot,
        _norm,
    )
    from pyspark.sql import Window

    graph_path = os.path.join(warehouse, "knn_graph")
    ids = sorted({int(v) for v in vec_ids})
    g = read_parquet(spark, graph_path)
    pbuckets = _xxhash_buckets(spark, ids, n_src_buckets)
    purged_adj = (
        g.filter(
            F.col("src_bucket").isin(pbuckets) & F.col("src_id").isin(ids)
        )
        .select("src_id", "nbr_id")
        .localCheckpoint()
    )
    nodes_removed = purged_adj.select("src_id").distinct().count()
    # edges INTO the purged nodes: the affected sources to re-link.
    # At this scale a column-pruned nbr_id scan; a reverse-edge index
    # partitions this the same way src_bucket partitions the forward
    # read at 100 TB.
    affected_rows = (
        g.filter(
            F.col("nbr_id").isin(ids) & ~F.col("src_id").isin(ids)
        )
        .select("src_id", "nbr_id")
        .localCheckpoint()
    )
    edges_dropped = affected_rows.count()
    if nodes_removed == 0 and edges_dropped == 0:
        return {
            "nodes_removed": 0,
            "edges_dropped": 0,
            "sources_relinked": 0,
            "buckets_rewritten": 0,
        }
    affected_src = [
        r.src_id for r in affected_rows.select("src_id").distinct().collect()
    ]
    # re-link candidates: the deleted node's OTHER neighbors
    relink_cand = (
        affected_rows.withColumnRenamed("nbr_id", "p")
        .join(
            purged_adj.select(
                F.col("src_id").alias("p"), F.col("nbr_id").alias("cand")
            ),
            "p",
        )
        .filter(
            (F.col("cand") != F.col("src_id"))
            & ~F.col("cand").isin(ids)
        )
        .select("src_id", "cand")
        .distinct()
    )
    vn = emb.select(
        "vec_id", F.col("embedding").alias("_v")
    ).withColumn("_n", _norm(F.col("_v")))
    scored_relinks = (
        relink_cand.join(
            vn.select(
                F.col("vec_id").alias("src_id"),
                F.col("_v").alias("_sv"),
                F.col("_n").alias("_sn"),
            ),
            "src_id",
        )
        .join(
            vn.select(
                F.col("vec_id").alias("cand"),
                F.col("_v").alias("_cv"),
                F.col("_n").alias("_cn"),
            ),
            "cand",
        )
        .select(
            "src_id",
            F.col("cand").alias("nbr_id"),
            F.round(
                _dot(F.col("_sv"), F.col("_cv"))
                / (F.col("_sn") * F.col("_cn")),
                6,
            ).alias("sim"),
        )
    )
    abuckets = sorted(
        set(pbuckets)
        | set(_xxhash_buckets(spark, affected_src, n_src_buckets))
    )
    content = g.filter(F.col("src_bucket").isin(abuckets))
    keep = content.filter(
        ~F.col("src_id").isin(ids) & ~F.col("nbr_id").isin(ids)
    )
    untouched = keep.filter(~F.col("src_id").isin(affected_src)).select(
        "src_id", "nbr_id", "sim", "rnk"
    )
    aff_old = keep.filter(F.col("src_id").isin(affected_src)).select(
        "src_id", "nbr_id", "sim"
    )
    w = Window.partitionBy("src_id").orderBy(
        F.col("sim").desc(), F.col("nbr_id")
    )
    rebuilt = (
        aff_old.unionByName(scored_relinks)
        .groupBy("src_id", "nbr_id")
        .agg(F.max("sim").alias("sim"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= m)
    )
    final = untouched.unionByName(rebuilt).withColumn(
        "src_bucket",
        F.pmod(F.xxhash64(F.col("src_id")), F.lit(n_src_buckets)),
    ).localCheckpoint()
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        final.write.mode("overwrite").partitionBy("src_bucket").parquet(
            graph_path
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    # a bucket that held ONLY purged sources writes no rows: delete its
    # dir (same dynamic-overwrite gap as the IVF purge)
    kept_buckets = {
        r.b
        for r in final.select(
            F.col("src_bucket").alias("b")
        ).distinct().collect()
    }
    for b in abuckets:
        if b not in kept_buckets:
            d = os.path.join(graph_path, f"src_bucket={b}")
            if os.path.isdir(d):
                shutil.rmtree(d)
    leftover = (
        read_parquet(spark, graph_path)
        .filter(F.col("src_id").isin(ids) | F.col("nbr_id").isin(ids))
        .limit(1)
        .count()
    )
    if leftover:
        raise RuntimeError(
            "purge_from_graph_index: purged ids remain after rewrite"
        )
    return {
        "nodes_removed": nodes_removed,
        "edges_dropped": edges_dropped,
        "sources_relinked": len(affected_src),
        "buckets_rewritten": len(abuckets),
    }


def compact_bm25_index(spark: SparkSession, warehouse: str) -> int:
    """Compaction — the third leg of the durable-index lifecycle after
    incremental appends and purges: a long-ingesting service
    accumulates one postings dir per batch (and purge-filtered copies),
    and every search unions them all. Compaction rewrites the
    manifest-listed tf/dl dirs into ONE consolidated dir under a
    content-derived key and commits it as the single batch — df and
    stats are already single-version tables and just get re-pointed.
    Search results are IDENTICAL before and after (the tables are row
    unions; compaction only changes the file layout), a crash before
    the manifest commit leaves the staged dir invisible, and a
    replayed compaction maps to the same key (idempotent no-op).
    Returns the number of batch dirs collapsed.

    Scale: one read+write of the postings — the same cost profile as a
    parquet file-compaction pass, run off-peak; the manifest shrinks
    from O(batches) to 1, which is what keeps per-query planning cost
    flat over an unbounded ingest history."""
    root = os.path.join(warehouse, "bm25")
    manifest = _bm25_manifest(root)
    if manifest is None:
        raise ValueError(f"compact_bm25_index: no index at {root}")
    if len(manifest["batches"]) <= 1:
        return 0
    key = "compact-" + hashlib.md5(
        ",".join(manifest["batches"]).encode()
    ).hexdigest()[:16]
    tf, dl, _, _ = bm25_tables(spark, warehouse)
    tf.write.mode("overwrite").parquet(os.path.join(root, "tf", key))
    dl.write.mode("overwrite").parquet(os.path.join(root, "dl", key))
    n = len(manifest["batches"])
    _bm25_commit(
        root,
        {"batches": [key], "df": manifest["df"], "stats": manifest["stats"]},
    )
    return n
